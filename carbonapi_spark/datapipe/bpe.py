"""Byte-pair-encoding merge training (Sennrich, Haddow & Birch, ACL
2016) over the corpus word-frequency table.

Classic BPE trains on WORD TYPES, not the corpus: one corpus pass builds
(word, count), then every merge iteration runs over the vocabulary-sized
type table — count adjacent symbol pairs weighted by word frequency,
merge the argmax pair in every type, repeat.  That is exactly the right
Spark shape at 100 TB: the corpus is scanned once; each of the N
iterations is two vocabulary-sized aggregations plus one projection, with
the winning pair broadcast as a literal.

Everything is integer counts and string folds — no floating point at
all — so the learned merge table replays bit-for-bit in SQL (the oracle
unrolls the iterations as materialized CTEs with the identical
``list_reduce`` fold).

Symbols are separated by the ASCII unit separator (0x1F) inside a
boundary-padded string (``\\x1f h \\x1f i \\x1f``), which makes the
"last symbol == left AND next == right" test a suffix check and keeps
the left-to-right NON-OVERLAPPING merge of a run ("a a a a" + (a,a) ->
"aa aa") exact: after a merge the accumulated last symbol is the merged
token, which can never equal the left part again.

The word universe is PRINTABLE-ASCII TYPES ONLY (``ascii_word``, an
anchor-free negated contains-match, tested on
the RAW token before lowercasing): per-character splitting is UTF-16
code units on the JVM but codepoints in DuckDB/utf8proc, and ``lower()``
full-vs-simple case mappings differ across engines for characters like
U+0130, so a non-ASCII word type can silently diverge the symbol tables
between an engine and its replay.  Restricting training to ASCII types
(the overwhelming mass of a web corpus after NFC; real byte-level BPE
pre-normalizes too) makes every string op — split, lower, suffix test,
tie-break collation — bit-portable.  This filter also subsumes the
separator-byte drop (0x1F is not printable ASCII).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from carbonapi_spark.sqltext import local_df as _local_df

from carbonapi_spark.datapipe.text import tokens

SEP = "\x1f"


def _sym_init(word: Column) -> Column:
    """',h,e,l,l,o,' boundary-padded symbol string (SEP for ',')."""
    return F.concat(F.lit(SEP),
                    F.array_join(F.split(word, ""), SEP),
                    F.lit(SEP))


def _symbols(sym: Column) -> Column:
    return F.filter(F.split(sym, SEP), lambda s: s != "")


# The ASCII-type test is an anchor-free NEGATED CONTAINS ("has no char
# outside printable ASCII"), NOT "^[!-~]+$": Java's default "$" matches
# BEFORE a final line terminator (LF CR U+0085 U+2028 U+2029 --
# java.util.regex.Pattern "Line terminators") while RE2's matches only
# at end-of-text, so the anchored form KEEPS a token ending in
# NEL/LS/PS on the JVM and DROPS it in DuckDB (U+0085/U+2028/U+2029 are
# not in the pinned whitespace split class, so such tokens reach the
# filter intact -- probed: "abc" + U+2028 diverged the engines).  A
# contains-match has no anchor semantics to disagree about.
NON_ASCII_CHAR = "[^!-~]"


def ascii_word(col: Column) -> Column:
    """True iff the (non-empty) token is printable-ASCII only —
    engine-portable BPE word-universe gate (see NON_ASCII_CHAR)."""
    return ~col.rlike(NON_ASCII_CHAR)


def word_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, cnt) over the token stream — the ONE corpus pass of BPE
    training; everything after is vocabulary-sized.  Tokenizes the RAW
    text, keeps printable-ASCII types, lowercases after the filter (see
    module docstring for why this exact order is the portable one)."""
    return (df.select(F.explode(tokens(F.col(text_col))).alias("word"))
            .where(ascii_word(F.col("word")))
            .select(F.lower(F.col("word")).alias("word"))
            .groupBy("word").agg(F.count(F.lit(1)).alias("cnt")))


def _merge_step(left: str, right: str):
    """(acc, s) -> acc' lambda of the boundary-padded NON-OVERLAPPING
    merge fold — the ONE definition shared by bpe_train,
    wordpiece_train and bpe_encode.  This is the exactness-critical
    piece every DuckDB oracle replays byte-for-byte (and
    ``_py_merge``'s driver twin mirrors); a fix applied to a private
    copy would silently diverge training from encoding."""
    suffix = SEP + left + SEP
    cut = len(left) + 1

    def step(acc, s):
        return F.when(
            F.endswith(acc, F.lit(suffix)) & (s == F.lit(right)),
            F.concat(acc.substr(F.lit(1), F.length(acc) - cut),
                     F.lit(left + right + SEP))) \
            .otherwise(F.concat(acc, s, F.lit(SEP)))
    return step


def _local_type_table(df: DataFrame, text_col: str,
                      local: bool | None):
    """The shared size gate of the two trainers: None when the
    distributed loop should run, else the collected (word, cnt) type
    table for ``_train_local``."""
    from carbonapi_spark.datapipe import _plan_size_bytes
    if local is None:
        est = _plan_size_bytes(df)
        local = est is not None and est < (64 << 20)
    if not local:
        return None
    return [(r["word"], r["cnt"])
            for r in word_counts(df, text_col).collect()]


def _py_merge(syms: list[str], left: str, right: str) -> list[str]:
    """Driver-side replica of the boundary-padded string fold: the
    left-to-right NON-OVERLAPPING merge (property-tested equal to the
    Spark fold in tests/test_property_datapipe.py)."""
    out: list[str] = []
    for s in syms:
        if out and out[-1] == left and s == right:
            out[-1] = left + right
        else:
            out.append(s)
    return out


def _train_local(rows, n_merges: int, scored: bool) -> list[tuple]:
    """Driver-side trainer over a collected (word, cnt) type table —
    the size-gated fast path of bpe_train/wordpiece_train (the
    ``connected_components`` union-find-finisher duality): on a
    bench-sized vocabulary the distributed loop pays 2 fixed-overhead
    Spark jobs per merge for single-task work; locally the whole loop
    is microseconds.  SEMANTICS ARE IDENTICAL by construction: the
    same all-adjacent pair counting, the same (count DESC, lhs, rhs) /
    (score DESC, lhs, rhs) tie order, the same non-overlapping merge
    fold, and the WordPiece score is the same single IEEE division of
    exact int64 counts (Python floats are IEEE doubles) — pinned by a
    local-vs-distributed equivalence test."""
    from collections import Counter
    table = [(list(w), int(c)) for w, c in rows]
    merges: list[tuple] = []
    for step in range(1, n_merges + 1):
        pc: Counter = Counter()
        sc: Counter = Counter()
        for syms, cnt in table:
            for j in range(len(syms) - 1):
                pc[(syms[j], syms[j + 1])] += cnt
            if scored:
                for s in syms:
                    sc[s] += cnt
        if not pc:
            break
        if scored:
            best = min(pc.items(),
                       key=lambda kv: (-(float(kv[1])
                                         / (float(sc[kv[0][0]])
                                            * float(sc[kv[0][1]]))),
                                       kv[0][0], kv[0][1]))
            (left, right), n = best
            merges.append((step, left, right, left + right, n,
                           float(n) / (float(sc[left]) * float(sc[right]))))
        else:
            (left, right), n = min(pc.items(),
                                   key=lambda kv: (-kv[1], kv[0][0],
                                                   kv[0][1]))
            merges.append((step, left, right, left + right, n))
        table = [(_py_merge(syms, left, right), cnt) for syms, cnt in table]
    return merges


def bpe_train(df: DataFrame, n_merges: int = 20,
              text_col: str = "text",
              local: bool | None = None) -> DataFrame:
    """Learn the first ``n_merges`` BPE merges; returns the merge table
    (step, left, right, merged, pair_count) in learned order.

    Ties break (pair_count DESC, left ASC, right ASC) — deterministic
    across engines because every quantity is an exact integer or a
    string.  Each iteration TRUNCATES LINEAGE with an eager
    ``localCheckpoint`` (the ``connected_components`` recipe): a plain
    persist caches the DATA but Catalyst still re-analyzes the full
    logical plan every round, and k nested aggregate-HOF folds make
    that super-linear per level — measured exploding ~2.5x per
    iteration (137 s of pure planning by round 19 on a 30-row type
    table) before the checkpoint cut.  The checkpointed table is
    vocabulary-sized, so the stored blocks are negligible at any
    corpus scale."""
    spark = df.sparkSession
    schema = ("step INT, lhs STRING, rhs STRING, merged STRING, "
              "pair_count LONG")
    rows = _local_type_table(df, text_col, local)
    if rows is not None:
        # size-gated driver trainer (see _train_local): ONE corpus
        # aggregation collects the vocab-sized type table, the merge
        # loop runs locally — identical semantics, none of the
        # 2-jobs-per-merge fixed overhead
        return _local_df(spark, 
            _train_local(rows, n_merges, scored=False) or [], schema)
    words = (word_counts(df, text_col)
             .select("word", "cnt", _sym_init(F.col("word")).alias("sym")))
    words = words.localCheckpoint()
    merges: list[tuple] = []
    for step in range(1, n_merges + 1):
        syms = _symbols(F.col("sym"))
        k = F.greatest(F.size(syms) - 1, F.lit(0))
        pairs = F.zip_with(F.slice(syms, 1, k),
                           F.slice(F.concat(syms, F.array(F.lit(""))),
                                   2, k),
                           lambda a, b: F.concat(a, F.lit(SEP), b))
        top = (words.select(F.col("cnt"), F.explode(pairs).alias("__p"))
               .groupBy("__p").agg(F.sum("cnt").alias("__n"))
               .select(F.split("__p", SEP).getItem(0).alias("lhs"),
                       F.split("__p", SEP).getItem(1).alias("rhs"),
                       "__n")
               .orderBy(F.desc("__n"), F.asc("lhs"), F.asc("rhs"))
               .limit(1).collect())
        if not top or top[0]["__n"] is None:
            break
        left, right, n = top[0]["lhs"], top[0]["rhs"], top[0]["__n"]
        merges.append((step, left, right, left + right, n))
        fold = F.aggregate(_symbols(F.col("sym")), F.lit(SEP),
                           _merge_step(left, right))
        words = words.select("word", "cnt",
                             fold.alias("sym")).localCheckpoint()
    return _local_df(spark, merges or [], schema)


def bpe_encode(df: DataFrame, merges: list[tuple[str, str]],
               text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """Apply a learned merge list to every token of every doc: returns
    (id, token, pieces array<string>) — the subword segmentation under
    the trained vocabulary.  One projection per merge folded into a
    single expression chain (no shuffle; the merges ride as literals).
    Token universe matches :func:`word_counts`: raw-text tokens,
    printable-ASCII only, lowercased after the filter."""
    tok = (df.select(F.col(id_col),
                     F.explode(tokens(F.col(text_col))).alias("token"))
           .where(ascii_word(F.col("token")))
           .select(F.col(id_col), F.lower(F.col("token")).alias("token")))
    sym = _sym_init(F.col("token"))
    for left, right in merges:
        sym = F.aggregate(_symbols(sym), F.lit(SEP),
                          _merge_step(left, right))
    return tok.select(id_col, "token", _symbols(sym).alias("pieces"))


def wordpiece_train(df: DataFrame, n_merges: int = 10,
                    text_col: str = "text",
                    local: bool | None = None) -> DataFrame:
    """WordPiece merge training (Schuster & Nakajima, "Japanese and
    Korean voice search", ICASSP 2012; the BERT tokenizer's recipe):
    like BPE but the merge choice maximizes the LIKELIHOOD score
    count(l,r) / (count(l) * count(r)) instead of the raw pair count —
    pairs whose parts rarely appear apart merge first.

    Same distributed shape as :func:`bpe_train` (one corpus pass, then
    vocabulary-sized iterations with localCheckpoint lineage cuts); each
    iteration adds one symbol-count aggregation next to the pair-count
    aggregation, both over the type table.  The score is a SINGLE IEEE
    division of exact int64 counts (cast to double first — one
    multiplication, one division), so its value and therefore the argmax
    ordering replay bit-for-bit in any engine; ties break
    (score DESC, lhs ASC, rhs ASC).  Word universe and merge fold are
    shared with BPE (printable-ASCII types, non-overlapping
    left-to-right).  Returns (step, lhs, rhs, merged, pair_count,
    score); the score is the raw IEEE double — never rounded, so it
    carries no rounding-convention seam across engines."""
    spark = df.sparkSession
    schema = ("step INT, lhs STRING, rhs STRING, merged STRING, "
              "pair_count LONG, score DOUBLE")
    rows = _local_type_table(df, text_col, local)
    if rows is not None:
        return _local_df(spark, 
            _train_local(rows, n_merges, scored=True) or [], schema)
    words = (word_counts(df, text_col)
             .select("word", "cnt", _sym_init(F.col("word")).alias("sym")))
    words = words.localCheckpoint()
    merges: list[tuple] = []
    for step in range(1, n_merges + 1):
        syms = _symbols(F.col("sym"))
        k = F.greatest(F.size(syms) - 1, F.lit(0))
        pairs = F.zip_with(F.slice(syms, 1, k),
                           F.slice(F.concat(syms, F.array(F.lit(""))),
                                   2, k),
                           lambda a, b: F.concat(a, F.lit(SEP), b))
        scnt = (words.select(F.col("cnt"), F.explode(syms).alias("__s"))
                .groupBy("__s").agg(F.sum("cnt").alias("__ns")))
        pcnt = (words.select(F.col("cnt"), F.explode(pairs).alias("__p"))
                .groupBy("__p").agg(F.sum("cnt").alias("__np"))
                .select(F.split("__p", SEP).getItem(0).alias("lhs"),
                        F.split("__p", SEP).getItem(1).alias("rhs"),
                        "__np"))
        score = (F.col("__np").cast("double")
                 / (F.col("__nl").cast("double")
                    * F.col("__nr").cast("double")))
        top = (pcnt
               .join(F.broadcast(scnt.selectExpr("__s as lhs",
                                                 "__ns as __nl")), "lhs")
               .join(F.broadcast(scnt.selectExpr("__s as rhs",
                                                 "__ns as __nr")), "rhs")
               .select("lhs", "rhs", "__np", score.alias("__sc"))
               .orderBy(F.desc("__sc"), F.asc("lhs"), F.asc("rhs"))
               .limit(1).collect())
        if not top or top[0]["__np"] is None:
            break
        left, right = top[0]["lhs"], top[0]["rhs"]
        merges.append((step, left, right, left + right,
                       top[0]["__np"], top[0]["__sc"]))
        fold = F.aggregate(_symbols(F.col("sym")), F.lit(SEP),
                           _merge_step(left, right))
        words = words.select("word", "cnt",
                             fold.alias("sym")).localCheckpoint()
    # score stays the RAW double of one exact-int multiply + divide —
    # bit-identical in any IEEE engine; rounding it would re-introduce a
    # HALF_UP-vs-HALF_EVEN convention seam on dyadic boundary values
    return _local_df(spark, merges or [], schema)


def _wp_pieces(token: Column, vocab: list[str]) -> Column:
    """Greedy longest-match-first WordPiece segmentation (BERT's
    WordpieceTokenizer inference) of ``token`` under ``vocab`` (the
    trained merged symbols; every single printable-ASCII char is
    implicitly in-vocabulary, so an ASCII token never hits [UNK]).
    Continuation pieces carry the BERT ``##`` prefix (presentation
    only — training here is position-agnostic).

    One ``aggregate`` fold over sequence(1, len): each step consumes at
    least one character, so len steps always finish.  The accumulator
    is a single STRING ``remaining \\x1f piece \\x1f piece ...`` — NOT a
    struct: DuckDB 1.0's ``list_reduce`` silently drops list fields
    inside a struct accumulator (probed), and the whole point is that
    the oracle replays this exact fold.  The longest match is found
    dynamically (filter prefix-matching vocab entries, reduce to the
    longest) so the expression is vocabulary-agnostic — no per-length
    unrolling, and the SQL replay can source the vocab from its own
    replayed training loop."""
    vb = F.array(*[F.lit(v) for v in vocab]) if vocab \
        else F.array(F.lit(""))

    def step(acc, _):
        rem = F.substring(acc, 1, F.instr(acc, SEP) - 1)
        cand = F.filter(vb, lambda p: F.substring(rem, F.lit(1),
                                                  F.length(p)) == p)
        best = F.aggregate(cand, F.lit(""),
                           lambda a, x: F.when(F.length(x) > F.length(a),
                                               x).otherwise(a))
        piece = F.when(best == "", F.substring(rem, 1, 1)).otherwise(best)
        rendered = F.when(F.length(rem) == F.length(token), piece) \
            .otherwise(F.concat(F.lit("##"), piece))
        rest = F.substr(acc, F.instr(acc, SEP) + F.lit(1))
        return F.when(rem == "", acc).otherwise(F.concat(
            F.substr(rem, F.length(piece) + F.lit(1)),
            F.lit(SEP),
            F.when(rest == "", rendered)
            .otherwise(F.concat(rest, F.lit(SEP), rendered))))

    out = F.aggregate(F.sequence(F.lit(1), F.length(token)),
                      F.concat(token, F.lit(SEP)), step)
    return F.split(F.substr(out, F.lit(2)), SEP)


def wordpiece_encode(df: DataFrame, vocab: list[str],
                     text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Segment every token of every doc with a trained WordPiece vocab
    (the ``merged`` column of :func:`wordpiece_train`): returns
    (id, token, pieces array<string>), continuation pieces ``##``-
    prefixed.  Pure projection, no shuffle; the vocab rides as an array
    literal.  Token universe matches :func:`word_counts` — and identical
    tokens segment identically, so callers batching a corpus should
    encode the distinct TYPE table and join back (the
    ``bpe_fertility`` economy)."""
    tok = (df.select(F.col(id_col),
                     F.explode(tokens(F.col(text_col))).alias("token"))
           .where(ascii_word(F.col("token")))
           .select(F.col(id_col), F.lower(F.col("token")).alias("token")))
    return tok.select(id_col, "token",
                      _wp_pieces(F.col("token"), vocab).alias("pieces"))
