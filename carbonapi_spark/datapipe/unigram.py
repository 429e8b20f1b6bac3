"""Unigram language-model tokenizer (Kudo, ACL 2018; the SentencePiece
``--model_type=unigram`` recipe): segment words with a Viterbi pass over
a piece vocabulary, re-estimate piece scores from the winning
segmentations, prune, repeat.

Completes the tokenizer matrix next to BPE (`datapipe/bpe.py`) and
WordPiece: where BPE/WordPiece GROW a vocabulary bottom-up by merging,
unigram LM SHRINKS a large seed vocabulary top-down by EM + pruning.

Spark shape (the same one that makes BPE trainable at 100 TB): ONE
corpus pass builds the (word, cnt) type table; every training iteration
is then vocabulary-sized.  The piece vocabulary itself is tiny, so it
rides into the Viterbi expression as BROADCAST LITERALS — the
segmentation DP is a pure column-expression chain (whole-stage codegen,
zero shuffles, zero UDFs), which also makes corpus-scale encoding
(:func:`unigram_encode`) a stateless projection.

Two trainers, mirroring the BPE/WordPiece split between scoreboard
exactness and reference fidelity:

- :func:`unigram_count_train` — the CROSS-ENGINE-EXACT path on the
  oracle scoreboard.  Piece scores are INTEGER frequency counts and the
  Viterbi objective is MDL-flavored: fewest pieces, then highest total
  piece frequency, then lexicographically smallest piece sequence — a
  deterministic integer/string recurrence with no floating point
  anywhere, so training replays bit-for-bit in DuckDB (the oracle
  unrolls the DP positions as CTEs, exactly as the BPE oracle unrolls
  merges).  This is the E/M/prune skeleton of unigram training with the
  log-prob argmax replaced by its integer-exact surrogate.
- :func:`unigram_train_em` — the faithful Kudo EM with float log-prob
  scores (Viterbi-approximated E-step, the standard practical variant),
  pytest-verified (corpus log-likelihood non-decreasing, prune
  invariants) and scale-smoked.  Float argmax ties are exactly the
  cross-engine seam the round-7 driver divergence taught us to keep OFF
  the exact-oracle scoreboard (ADVICE r7: quality_auc).

The word universe is the BPE one (`ascii_word`, lowercased AFTER the
ASCII filter — see `bpe.py` for why that order is the engine-portable
one) further capped at :data:`MAX_WORD_LEN` characters (ASCII-only, so
JVM UTF-16 length == DuckDB codepoint length; SentencePiece likewise
caps candidate lengths during training).

Reference parity note: the reference engine (go-graphite/carbonapi) has
no tokenizer surface — this module belongs to the training-data
pipeline extension (SURVEY.md "beyond the reference" mandate).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, functions as F

from carbonapi_spark.sqltext import local_df as _local_df
from pyspark.sql.window import Window

from carbonapi_spark.datapipe.bpe import SEP, ascii_word, word_counts

MAX_WORD_LEN = 16
MAX_PIECE_LEN = 3

_STATE_T = "struct<np:int,score:long,pstr:string>"


def word_types(df: DataFrame, text_col: str = "text",
               max_len: int = MAX_WORD_LEN) -> DataFrame:
    """(word, cnt) type table over the BPE word universe, capped at
    ``max_len`` characters (longer types are dropped from TRAINING —
    the overwhelming mass of a natural-language corpus is far shorter,
    and the cap bounds the unrolled Viterbi expression depth)."""
    return word_counts(df, text_col).where(F.length("word") <= max_len)


def seed_pieces(words: DataFrame,
                max_piece_len: int = MAX_PIECE_LEN,
                n_multi: int = 48) -> DataFrame:
    """Seed vocabulary: every substring of every word type up to
    ``max_piece_len`` chars, scored by frequency-weighted occurrence
    count; ALL single characters are kept (segmentability guarantee)
    plus the top ``n_multi``-ranked pieces overall by (count DESC,
    piece ASC).  Kudo seeds from frequent substrings the same way (the
    paper uses the top suffix-array substrings); the type table is
    vocabulary-sized so the explode is cheap at any corpus scale.

    Returns (piece, score) with exact integer scores."""
    subs = F.flatten(F.transform(
        F.sequence(F.lit(0), F.length("word") - 1),
        lambda i: F.transform(
            F.sequence(F.lit(1),
                       F.least(F.lit(max_piece_len),
                               F.length("word") - i)),
            lambda l: F.col("word").substr(i + 1, l))))
    cand = (words.select(F.col("cnt"), F.explode(subs).alias("piece"))
            .groupBy("piece").agg(F.sum("cnt").alias("score")))
    ranked = cand.select(
        "piece", "score",
        F.row_number().over(
            Window.partitionBy(F.lit(0))
            .orderBy(F.desc("score"), F.asc("piece"))).alias("__rk"))
    return (ranked.where((F.length("piece") == 1)
                         | (F.col("__rk") <= n_multi))
            .select("piece", "score"))


def _sql_str(s: str) -> str:
    """Spark-SQL single-quoted string literal (backslash escapes on)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _viterbi_sql(col: str, vocab: dict[str, int | float],
                 max_word_len: int, max_piece_len: int,
                 objective: str) -> Column:
    """The SQL-string twin of the Column-builder below: ONE
    ``F.expr`` parse round-trip instead of ~200 py4j Column calls
    (~0.4 s of driver time per invocation at r14 — paid once per
    training round plus once at encode, so 3x per fertility entry).
    Takes a bare column NAME; semantics are pinned identical to the
    Column path by ``test_viterbi_sql_path_matches_column_path``."""
    from carbonapi_spark.sqltext import sql_dlit
    mdl = objective == "mdl"
    lit = (lambda s: f"{int(s)}L") if mdl else sql_dlit
    scores = "map(" + ",".join(
        f"{_sql_str(p)},{lit(s)}" for p, s in vocab.items()) + ")"
    sc_t = "bigint" if mdl else "double"
    key_t = (f"struct<np:int,nscore:{sc_t},pstr:string>" if mdl
             else f"struct<nscore:{sc_t},np:int,pstr:string>")
    null_k = f"cast(null as {key_t})"

    def key(np, nscore, pstr):
        if mdl:
            return (f"named_struct('np',{np},'nscore',{nscore},"
                    f"'pstr',{pstr})")
        return (f"named_struct('nscore',{nscore},'np',{np},"
                f"'pstr',{pstr})")

    sep = _sql_str(SEP)
    zero = key("0", "cast(0 as long)" if mdl else "0.0D", sep)
    cands = []
    for l in range(1, max_piece_len + 1):
        piece = f"substr({col}, i - {l - 1}, {l})"
        prev = f"acc.p{l}"
        cands.append(
            f"if(i >= {l} and try_element_at({scores},{piece}) is not "
            f"null and {prev} is not null, "
            + key(f"{prev}.np + 1",
                  f"{prev}.nscore - try_element_at({scores},{piece})",
                  f"concat({prev}.pstr, {piece}, {sep})")
            + f", {null_k})")
    best = cands[0] if len(cands) == 1 else \
        "least(" + ",".join(cands) + ")"
    shifted = [f"'p1', {best}"] + [
        f"'p{l}', acc.p{l - 1}" for l in range(2, max_piece_len + 1)]
    step = "named_struct(" + ",".join(shifted) + ")"
    state_t = _STATE_T if mdl else "struct<np:int,score:double,pstr:string>"
    finish = (f"if(acc.p1 is not null, named_struct("
              f"'np', acc.p1.np, 'score', -acc.p1.nscore, "
              f"'pstr', acc.p1.pstr), cast(null as {state_t}))")
    init = "named_struct('p1', " + zero + "," + ",".join(
        f"'p{l}', {null_k}" for l in range(2, max_piece_len + 1)) + ")"
    folded = (f"aggregate(sequence(1, length({col})), {init}, "
              f"(acc, i) -> {step}, acc -> {finish})")
    from carbonapi_spark.sqltext import expr_cached
    return expr_cached(
        f"if(length({col}) >= 1 and length({col}) <= {max_word_len}, "
        f"{folded}, cast(null as {state_t}))")


def viterbi_expr(word: Column | str, vocab: dict[str, int | float],
                 max_word_len: int = MAX_WORD_LEN,
                 max_piece_len: int = MAX_PIECE_LEN,
                 objective: str = "mdl") -> Column:
    """Viterbi segmentation of ``word`` under ``vocab`` (piece ->
    score) as a PURE COLUMN EXPRESSION: an ``F.aggregate`` fold over
    the character positions carrying the last ``max_piece_len`` DP
    states in a struct accumulator (the BPE merge-fold trick).  The
    fold body is CONSTANT-SIZE — naively unrolling the DP inlines each
    state's expression into its successors and the tree grows
    ~3^len (measured: OOM at len 16) — while the HOF evaluates it
    iteratively at runtime.  The vocabulary rides as a broadcast map
    literal; no UDF, no shuffle, so the same expression serves the
    vocab-sized type table during training and a 100 TB token stream
    during encoding.

    ``objective='mdl'`` (integer scores): fewest pieces, then highest
    total score, then lexicographically smallest boundary-padded piece
    string — every comparison exact in both engines.
    ``objective='logprob'`` (float scores): highest total score (the
    Kudo log-likelihood), then fewest pieces, then smallest piece
    string — the EM path.

    Returns a struct (np, score, pstr) where ``pstr`` is the pieces
    joined by/terminated with the 0x1F separator; NULL for words longer
    than ``max_word_len`` or not segmentable with the given vocab.
    """
    if objective not in ("mdl", "logprob"):
        raise ValueError(f"unknown objective {objective!r}")
    if isinstance(word, str):
        # bare column name: the one-parse SQL path (internal callers)
        return _viterbi_sql(f"`{word}`", vocab, max_word_len,
                            max_piece_len, objective)
    scores = F.create_map(*[
        x for p, s in vocab.items()
        for x in (F.lit(p), F.lit(int(s)).cast("long") if objective == "mdl"
                  else F.lit(float(s)))])
    # The DP state is stored as an ORDER KEY struct so "pick the better
    # candidate" is plain struct comparison: Spark orders structs
    # lexicographically by field, so key = (np, -score, pstr) for the
    # MDL objective / (-score, np, pstr) for logprob makes the argmax
    # exactly F.least(...), which also SKIPS null candidates.  HOF
    # bodies are interpreted (no codegen, no common-subexpression
    # elimination), so the previous explicit when-chain comparator
    # re-evaluated each candidate subtree at every one of its ~7
    # references — measured 22.7 s for unigram_pieces at sf0.1; the
    # least() form evaluates each candidate once.
    sc_t = "bigint" if objective == "mdl" else "double"
    if objective == "mdl":
        key_t = f"struct<np:int,nscore:{sc_t},pstr:string>"
    else:
        key_t = f"struct<nscore:{sc_t},np:int,pstr:string>"
    null_k = F.lit(None).cast(key_t)

    def _key(np: Column, nscore: Column, pstr: Column) -> Column:
        if objective == "mdl":
            return F.struct(np.alias("np"), nscore.alias("nscore"),
                            pstr.alias("pstr"))
        return F.struct(nscore.alias("nscore"), np.alias("np"),
                        pstr.alias("pstr"))

    zero = _key(F.lit(0),
                F.lit(0).cast("long") if objective == "mdl"
                else F.lit(0.0), F.lit(SEP))

    def step(acc: Column, i: Column) -> Column:
        # acc.p{l} = DP order-key for the first (i - l) characters
        cands = []
        for l in range(1, max_piece_len + 1):
            prev = acc.getField(f"p{l}")
            piece = word.substr(i - (l - 1), F.lit(l))
            sc = F.try_element_at(scores, piece)
            cands.append(F.when(
                (i >= F.lit(l)) & sc.isNotNull() & prev.isNotNull(),
                _key(prev.getField("np") + 1,
                     prev.getField("nscore") - sc,
                     F.concat(prev.getField("pstr"), piece,
                              F.lit(SEP)))).otherwise(null_k))
        best = cands[0] if len(cands) == 1 else F.least(*cands)
        shifted = [best.alias("p1")]
        for l in range(2, max_piece_len + 1):
            shifted.append(acc.getField(f"p{l - 1}").alias(f"p{l}"))
        return F.struct(*shifted)

    state_t = _STATE_T if objective == "mdl" else \
        "struct<np:int,score:double,pstr:string>"

    def finish(acc: Column) -> Column:
        # acc is a bound lambda variable here: repeated getField reads
        # are cheap; unpacking OUTSIDE the aggregate would re-execute
        # the whole fold once per field reference (interpreted HOFs)
        k = acc.getField("p1")
        return F.when(k.isNotNull(), F.struct(
            k.getField("np").alias("np"),
            (-k.getField("nscore")).alias("score"),
            k.getField("pstr").alias("pstr"))).otherwise(
            F.lit(None).cast(state_t))

    init = F.struct(zero.alias("p1"),
                    *[null_k.alias(f"p{l}")
                      for l in range(2, max_piece_len + 1)])
    folded = F.aggregate(F.sequence(F.lit(1), F.length(word)), init,
                         step, finish)
    return F.when((F.length(word) >= 1)
                  & (F.length(word) <= max_word_len),
                  folded).otherwise(F.lit(None).cast(state_t))


def pieces_of(pstr: Column) -> Column:
    """array<string> pieces from a boundary-padded 0x1F piece string."""
    return F.filter(F.split(pstr, SEP), lambda p: p != "")


def segment_types(words: DataFrame, vocab: dict[str, int | float],
                  max_piece_len: int = MAX_PIECE_LEN,
                  objective: str = "mdl") -> DataFrame:
    """Viterbi-segment the type table: (word, cnt, np, score, pstr)."""
    v = viterbi_expr("word", vocab, max_piece_len=max_piece_len,
                     objective=objective)
    return words.select(
        "word", "cnt",
        v.getField("np").alias("np"),
        v.getField("score").alias("score"),
        v.getField("pstr").alias("pstr"))


def _usage(seg: DataFrame) -> DataFrame:
    """Frequency-weighted piece usage over winning segmentations."""
    return (seg.where(F.col("pstr").isNotNull())
            .select(F.col("cnt"),
                    F.explode(pieces_of(F.col("pstr"))).alias("piece"))
            .groupBy("piece").agg(F.sum("cnt").alias("usage")))


def unigram_count_vocab(df: DataFrame, iters: int = 2,
                        text_col: str = "text",
                        n_multi: int = 48, keep_multi: int = 24,
                        max_piece_len: int = MAX_PIECE_LEN,
                        words: DataFrame | None = None) -> dict:
    """The integer-exact training loop (see :func:`unigram_count_train`)
    returning the FULL final vocabulary dict (singles + surviving
    multis, piece -> usage) — the form :func:`unigram_encode` and the
    fertility report consume.

    Pass a precomputed ``words`` (word, cnt) type table — the
    :func:`word_types` output, or any aggregation provably equal to it
    — to share one corpus tokenize pass with a caller that already
    built a per-doc occurrence table (the fertility entries derive
    both from a single pinned explode; r14)."""
    words = (words if words is not None
             else word_types(df, text_col)).localCheckpoint()
    vocab = {r["piece"]: int(r["score"])
             for r in seed_pieces(words, max_piece_len, n_multi).collect()}
    spark = df.sparkSession
    for _ in range(iters):
        usage = _usage(segment_types(words, vocab, max_piece_len))
        singles = sorted(p for p in vocab if len(p) == 1)
        sdf = _local_df(spark, [(p,) for p in singles],
                                    "piece string")
        kept = (sdf.join(usage, "piece", "left")
                .select("piece",
                        F.coalesce("usage", F.lit(0)).alias("score"))
                .unionByName(
                    usage.where(F.length("piece") > 1)
                    .select("piece", F.col("usage").alias("score"),
                            F.row_number().over(
                                Window.partitionBy(F.lit(0))
                                .orderBy(F.desc("usage"), F.asc("piece"))
                            ).alias("__rk"))
                    .where(F.col("__rk") <= keep_multi)
                    .select("piece", "score")))
        vocab = {r["piece"]: int(r["score"]) for r in kept.collect()}
    return vocab


def unigram_count_train(df: DataFrame, iters: int = 2,
                        text_col: str = "text",
                        n_multi: int = 48, keep_multi: int = 24,
                        max_piece_len: int = MAX_PIECE_LEN) -> DataFrame:
    """Integer-exact unigram-LM training surrogate (the scoreboard
    path; see module docstring).  Per round: Viterbi E-step under the
    current integer scores (MDL objective), usage-count M-step, prune
    multi-char pieces to the top ``keep_multi`` by (usage DESC, piece
    ASC); single chars are never pruned (segmentability).  Every
    quantity is an integer or an ASCII string, so the loop replays
    bit-for-bit in SQL.

    Returns the surviving multi-char vocabulary after ``iters`` rounds:
    (rank, piece, usage) ordered by (usage DESC, piece ASC).

    Scale shape: one corpus pass (word_types), then ``iters``
    vocabulary-sized segment+count rounds; the vocab (singles +
    ``n_multi`` rows) is collected to the driver each round and
    re-enters as literals — the same k-sized driver hop as
    kmeans_centroids.
    """
    vocab = unigram_count_vocab(df, iters, text_col, n_multi,
                                keep_multi, max_piece_len)
    final_multi = sorted(((p, s) for p, s in vocab.items() if len(p) > 1),
                         key=lambda kv: (-kv[1], kv[0]))
    return _local_df(df.sparkSession, 
        [(i + 1, p, s) for i, (p, s) in enumerate(final_multi)],
        "rank int, piece string, usage long")


def unigram_encode(df: DataFrame, vocab: dict[str, int | float],
                   text_col: str = "text", id_col: str = "doc_id",
                   max_piece_len: int = MAX_PIECE_LEN,
                   objective: str = "mdl",
                   via_types: bool = False) -> DataFrame:
    """Segment every corpus token under a trained vocabulary: returns
    (id, token, pieces, np).  Tokens longer than MAX_WORD_LEN get null
    pieces (callers route those to a byte-fallback tokenizer, exactly
    as SentencePiece does).

    Two physical strategies, same result:
    - ``via_types=False``: per-token Viterbi fold — a stateless
      whole-stage-codegen projection (vocab rides as literals), ZERO
      shuffles.  Pays the DP per occurrence (measured 99 s for 20M
      tokens on local[32]).
    - ``via_types=True``: DP once per DISTINCT token type, then join
      the segmentations back.  Pays one token-shuffle (the distinct)
      but the DP collapses by the type/occurrence ratio — the win
      whenever the type table is much smaller than the stream, which
      Zipf guarantees at corpus scale (the wordpiece_fertility
      recipe).
    """
    from carbonapi_spark.datapipe.text import tokens
    tok = (df.select(F.col(id_col),
                     F.explode(tokens(F.col(text_col))).alias("token"))
           .where(ascii_word(F.col("token")))
           .select(F.col(id_col), F.lower(F.col("token")).alias("token")))
    if via_types:
        types = tok.select("token").distinct()
        v = viterbi_expr("token", vocab,
                         max_piece_len=max_piece_len, objective=objective)
        seg = types.select("token",
                           pieces_of(v.getField("pstr")).alias("pieces"),
                           v.getField("np").alias("np"))
        # no broadcast hint: AQE converts to a broadcast join at
        # runtime when the segmented type table is small enough, and
        # falls back to a shuffled hash join when a web-scale type
        # table would OOM a forced broadcast
        return tok.join(seg, "token").select(id_col, "token",
                                             "pieces", "np")
    v = viterbi_expr("token", vocab, max_piece_len=max_piece_len,
                     objective=objective)
    return tok.select(id_col, "token",
                      pieces_of(v.getField("pstr")).alias("pieces"),
                      v.getField("np").alias("np"))


# ---------------------------------------------------------------- EM path


def _viterbi_local(word: str, logp: dict[str, float],
                   max_piece_len: int = MAX_PIECE_LEN):
    """Driver twin of viterbi_expr(objective='logprob') — same
    recurrence, same (score desc, np asc, pstr asc) tie rule — for the
    size-gated EM trainer (property-tested equal in
    tests/test_unigram.py)."""
    n = len(word)
    best: list[tuple | None] = [(0.0, 0, SEP)] + [None] * n
    for i in range(1, n + 1):
        for l in range(1, min(max_piece_len, i) + 1):
            p = word[i - l:i]
            s = logp.get(p)
            prev = best[i - l]
            if s is None or prev is None:
                continue
            cand = (prev[0] + s, prev[1] + 1, prev[2] + p + SEP)
            cur = best[i]
            if (cur is None
                    or cand[0] > cur[0]
                    or (cand[0] == cur[0] and cand[1] < cur[1])
                    or (cand[0] == cur[0] and cand[1] == cur[1]
                        and cand[2] < cur[2])):
                best[i] = cand
    return best[n]


def unigram_train_em(df: DataFrame, vocab_size: int = 40,
                     iters: int = 4, text_col: str = "text",
                     n_seed_multi: int = 200,
                     prune_frac: float = 0.25,
                     max_piece_len: int = MAX_PIECE_LEN,
                     local: bool | None = None):
    """Faithful unigram-LM EM training (Kudo 2018 §3.2 with the
    standard Viterbi-approximated E-step): piece scores are log
    probabilities; each round re-estimates p(piece) from Viterbi usage
    and prunes the lowest-usage multi-char pieces (``prune_frac`` per
    round) until at most ``vocab_size`` remain.  Single characters are
    immortal (segmentability), as in SentencePiece.

    Size-gated like bpe_train: below the 64 MB plan-size gate the type
    table is collected and the loop runs on the driver
    (vocabulary-sized work); above it, each E-step runs distributed
    through the same :func:`viterbi_expr` recurrence with float
    scores — only the score dtype differs.

    Returns (vocab dict piece -> logprob, per-iteration corpus
    log-likelihood history; non-decreasing while the vocab is stable).
    Float argmax ties make this the pytest+scale path, not the
    exact-oracle path (module docstring).
    """
    from carbonapi_spark.datapipe import _plan_size_bytes
    words_df = word_types(df, text_col).localCheckpoint()
    if local is None:
        est = _plan_size_bytes(df)
        local = est is not None and est < (64 << 20)
    seed = seed_pieces(words_df, max_piece_len, n_seed_multi)
    counts = {r["piece"]: float(r["score"]) for r in seed.collect()}
    total = sum(counts.values())
    logp = {p: math.log(c / total) for p, c in counts.items()}
    rows = ([(r["word"], r["cnt"]) for r in words_df.collect()]
            if local else None)
    ll_hist: list[float] = []
    for _ in range(iters):
        usage: dict[str, float] = {}
        ll = 0.0
        if rows is not None:
            for w, c in rows:
                seg = _viterbi_local(w, logp, max_piece_len)
                if seg is None:
                    continue
                ll += c * seg[0]
                for p in seg[2].split(SEP):
                    if p:
                        usage[p] = usage.get(p, 0.0) + c
        else:
            seg = segment_types(words_df, logp, max_piece_len,
                                objective="logprob")
            ok = seg.where(F.col("pstr").isNotNull()).localCheckpoint()
            ll = float(ok.select(
                F.sum(F.col("cnt") * F.col("score")).alias("ll"))
                .collect()[0]["ll"] or 0.0)
            usage = {r["piece"]: float(r["usage"])
                     for r in _usage(ok).collect()}
        ll_hist.append(ll)
        # M-step + prune: singles immortal, lowest-usage multis dropped
        multis_now = [p for p in logp if len(p) > 1]
        excess = len(multis_now) - vocab_size
        dead: set[str] = set()
        if excess > 0:
            by_usage = sorted(multis_now,
                              key=lambda p: (usage.get(p, 0.0), p))
            n_drop = min(excess, max(1, int(len(multis_now) * prune_frac)))
            dead = set(by_usage[:n_drop])
        tot = sum(u for p, u in usage.items() if p not in dead)
        new_logp: dict[str, float] = {}
        for p in logp:
            if p in dead:
                continue
            u = usage.get(p, 0.0)
            if u > 0.0:
                new_logp[p] = math.log(u / tot)
            elif len(p) == 1:   # immortal but unused: floored prob
                new_logp[p] = math.log(0.5 / max(tot, 1.0))
        logp = new_logp
    return logp, ll_hist
