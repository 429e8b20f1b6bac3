"""Text analysis for training-data pipelines: token counting, quality
scoring, language ID, fingerprinting.

Everything is built from JVM-side expressions (split/regexp/aggregate), so
the scoring runs inside whole-stage codegen over the raw Parquet scan —
no Python in the hot path, which is what makes it viable at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from carbonapi_spark.sqltext import local_df as _local_df

# A tiny per-language marker lexicon for the n-gram/stopword heuristic.
# Deterministic and SQL-expressible (same lists are inlined in the DuckDB
# oracle), which matters more here than linguistic perfection.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "les", "et", "est"],
    "es": ["el", "los", "las", "es", "una"],
}

# Java's ``\s`` is ``[ \t\n\x0B\f\r]`` but RE2's (the DuckDB oracle
# engine's) is ``[\t\n\f\r ]`` — NO vertical tab — so a ``\s`` shared
# between a query and its oracle silently diverges on text containing
# 0x0B.  Every cross-engine regex therefore spells the class out; both
# engines parse the same ``\t``/``\x0B`` escapes inside a class.
WS_CLASS = r"[ \t\n\x0B\f\r]"
NON_WS_CLASS = r"[^ \t\n\x0B\f\r]"


def tokens(text: Column) -> Column:
    """Whitespace tokenization with empty-token filtering.  The split
    class is pinned (:data:`WS_CLASS`) so the token stream is identical
    under Java regex and RE2."""
    return F.filter(F.split(text, WS_CLASS + "+"), lambda t: t != "")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def word_set(text: Column) -> Column:
    return F.array_distinct(tokens(F.lower(text)))


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length/word/punctuation/stopword quality features per document."""
    t = F.col(text_col)
    toks = tokens(t)
    n_chars = F.length(t)
    n_tokens = F.size(toks)
    tok_chars = F.aggregate(toks, F.lit(0), lambda acc, x: acc + F.length(x))
    avg_token_len = F.when(n_tokens > 0, tok_chars.cast("double") / n_tokens)
    n_punct = F.length(t) - F.length(
        F.regexp_replace(t, r"[^\w \t\n\x0B\f\r]", ""))
    punct_ratio = F.when(n_chars > 0, n_punct.cast("double") / n_chars).otherwise(F.lit(0.0))
    en_stop = LANG_MARKERS["en"]
    stop_hits = F.size(F.filter(toks, lambda x: F.lower(x).isin(en_stop)))
    stop_ratio = F.when(n_tokens > 0, stop_hits.cast("double") / n_tokens).otherwise(F.lit(0.0))
    return df.select(
        "doc_id",
        n_chars.cast("long").alias("n_chars"),
        n_tokens.cast("long").alias("n_tokens"),
        F.round(F.coalesce(avg_token_len, F.lit(0.0)), 6).alias("avg_token_len"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
    )


def lang_scores(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Marker-word hit count per language — the deterministic core of
    n-gram language ID. argmax(lang) is a trivial greatest() on top."""
    toks = word_set(F.col(text_col))
    cols = [F.col("doc_id")]
    for lang, markers in LANG_MARKERS.items():
        cols.append(F.size(F.filter(toks, lambda x: x.isin(markers)))
                    .cast("long").alias(f"score_{lang}"))
    return df.select(*cols)


def fingerprint(text: Column, modulus: int = 2147483647) -> Column:
    """Deterministic rolling-hash document fingerprint (polynomial hash of
    the token stream, base 31, SQL-portable — no engine hash() involved)."""
    toks = tokens(F.lower(text))
    tok_hash = lambda t: _poly_hash(t, modulus)  # noqa: E731
    return F.aggregate(
        toks, F.lit(0).cast("long"),
        lambda acc, t: (acc * 131 + tok_hash(t)) % modulus)


def _poly_hash(token: Column, modulus: int) -> Column:
    """Polynomial char hash: sum(code*31^i) mod m, via aggregate over chars."""
    chars = F.split(token, "")
    return F.aggregate(
        chars, F.lit(0).cast("long"),
        lambda acc, c: (acc * 31 + F.ascii(c)) % modulus)


def word_ngrams(text: Column, n: int = 2) -> Column:
    """Word n-grams of the lowercased token stream, duplicates KEPT (the
    repetition metrics need occurrence counts; ``dedup.shingles`` wraps
    this with array_distinct for set semantics).

    Built as n shifted slices folded with ``zip_with`` — O(k) per doc."""
    toks = tokens(F.lower(text))
    k = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    grams = F.slice(toks, 1, k)
    for j in range(1, n):
        grams = F.zip_with(grams, F.slice(toks, j + 1, k),
                           lambda a, b: F.concat(a, F.lit(" "), b))
    return grams


def repetition_features(df: DataFrame, text_col: str = "text",
                        ngram: int = 2) -> DataFrame:
    """Gopher-style repetition quality signals per document (Rae et al.
    2021, "Scaling Language Models", Table A1): the fraction of n-gram
    occurrences that are repeats, and the fraction of characters covered
    by the single most frequent n-gram. High values flag boilerplate /
    machine-generated text for filtering.

    Shape: explode n-grams -> two hash aggregations keyed by doc_id —
    map-side combine does most of the work, and the shuffle key (doc_id)
    is the natural partitioner, so this scales linearly with corpus size.
    """
    from carbonapi_spark.datapipe import spread
    df = spread(df, min_bytes=256 << 10)
    # explode_outer keeps zero-ngram docs as one NULL row, so they flow
    # through the same two aggregations (scoring 0.0 via the coalesces)
    # instead of needing a join back onto the doc table — the whole op is
    # two keyed hash aggs, no join at any corpus size.
    grams = df.select("doc_id",
                      F.length(F.col(text_col)).alias("__nc"),
                      F.explode_outer(word_ngrams(F.col(text_col), ngram))
                      .alias("__g"))
    per_gram = (grams.groupBy("doc_id", "__nc", "__g")
                .agg(F.count(F.lit(1)).alias("__cnt")))
    per_doc = (per_gram.groupBy("doc_id", "__nc")
               .agg(F.sum(F.when(F.col("__g").isNotNull(), F.col("__cnt")))
                    .alias("__total"),
                    F.count("__g").alias("__distinct"),
                    F.max(F.col("__cnt") * F.length("__g"))
                    .alias("__top_chars")))
    return per_doc.select(
        "doc_id",
        F.coalesce(
            F.round(F.lit(1.0) - F.col("__distinct") / F.col("__total"), 6),
            F.lit(0.0)).alias("dup_ngram_frac"),
        F.coalesce(F.round(F.col("__top_chars") / F.col("__nc"), 6),
                   F.lit(0.0)).alias("top_ngram_char_frac"))


def tfidf_top_terms(df: DataFrame, text_col: str = "text",
                    k: int = 3) -> DataFrame:
    """Top-k terms per document by tf-idf (tf * ln(N/df), ties broken
    alphabetically). Two hash aggregations plus a window partitioned by
    doc_id; the document-frequency side is tiny (vocabulary-sized) and
    broadcast into the join. N rides along as a broadcast 1-row
    aggregate crossed into the df side (the ``unigram_logprob_table``
    trick) instead of a separate ``df.count()`` job — on a raw scan that
    count is metadata-cheap, but on any filtered/derived input it was a
    full extra pass."""
    from pyspark.sql.window import Window
    tf = (df.select("doc_id",
                    F.explode(tokens(F.lower(F.col(text_col)))).alias("term"))
          .groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf")))
    n_docs = df.agg(F.count(F.lit(1)).alias("__n_docs"))
    dfreq = (tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
             .crossJoin(F.broadcast(n_docs)))
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (tf.join(F.broadcast(dfreq), "term")
            .withColumn("tfidf",
                        F.round(F.col("tf")
                                * F.log(F.col("__n_docs").cast("double")
                                        / F.col("df")),
                                6))
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("doc_id", "term", "tfidf", F.col("rank").cast("long")
                    .alias("rank")))


def unigram_logprob_table(df: DataFrame, text_col: str = "text",
                          alpha: float = 0.5) -> DataFrame:
    """(term, logp) for every corpus term: smoothed unigram language model
    log-probabilities, ln((count + alpha) / (total + alpha * vocab)).

    One hash aggregation over the exploded token stream (map-side
    combined); the result is vocabulary-sized — small enough to broadcast
    back against the corpus, the same economy as ``tfidf_top_terms``'s
    document-frequency side."""
    tf = (df.select(F.explode(tokens(F.lower(F.col(text_col))))
                    .alias("term"))
          .groupBy("term").agg(F.count(F.lit(1)).alias("n")))
    tot = tf.agg(F.sum("n").alias("total"),
                 F.count(F.lit(1)).alias("vocab"))
    return (tf.crossJoin(F.broadcast(tot))
            .select("term",
                    F.log((F.col("n") + F.lit(alpha))
                          / (F.col("total") + F.lit(alpha) * F.col("vocab")))
                    .alias("logp")))


def quantile_thresholds(df: DataFrame, value_col: str,
                        qs: list[float], exact: bool = True,
                        accuracy: int = 10000) -> DataFrame:
    """ONE-row (thresholds ARRAY<DOUBLE>) table of corpus quantile
    cutoffs — the one-pass way to derive CCNet-style bucket boundaries
    (Wenzek et al. 2020 compute head/middle/tail cutoffs once, then
    apply them corpus-wide; deriving them must not cost a global sort).

    ``exact=True`` uses Spark's exact ``percentile`` (linear
    interpolation — the same definition as DuckDB's ``quantile_cont``,
    which is what makes the catalog oracle replayable).  It is ONE
    ObjectHashAggregate over the value rows — no range-partition sort —
    but its aggregation buffer holds the values, so it is for
    driver-bounded inputs (one row per doc is fine to ~1e8 docs).
    ``exact=False`` is the 100 TB mode: ``percentile_approx``'s
    Greenwald-Khanna sketch, map-side mergeable with bounded memory at
    any scale, at a rank-error of ``1/accuracy``.

    Cutoffs are rounded to 6 dp so downstream comparisons are stable
    across engines.  Compose with :func:`bucket_by_thresholds`."""
    if not qs or not all(0 <= q <= 1 for q in qs):
        raise ValueError("qs must be a non-empty list of fractions in [0, 1]")
    arr = F.array(*[F.lit(float(q)) for q in qs])
    agg = (F.percentile(value_col, arr) if exact
           else F.percentile_approx(value_col, arr, F.lit(accuracy)))
    return df.agg(F.transform(agg, lambda t: F.round(t, 6))
                  .alias("thresholds"))


def bucket_by_thresholds(scored: DataFrame, value_col: str,
                         thresholds: DataFrame,
                         bucket_col: str = "bucket") -> DataFrame:
    """Assign 1-based buckets by comparing ``value_col`` against a 1-row
    thresholds table: bucket = 1 + #cutoffs strictly below the value.
    The thresholds side is a broadcast of one array row, so bucketing is
    a pure map over the scored rows — the no-global-sort replacement for
    ``ntile`` once cutoffs exist."""
    return (scored.crossJoin(F.broadcast(thresholds))
            .withColumn(bucket_col,
                        (F.lit(1) + F.size(F.filter(
                            "thresholds",
                            lambda t: F.col(value_col) > t))).cast("int"))
            .drop("thresholds"))


def perplexity_buckets(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", alpha: float = 0.5,
                       buckets: int = 3,
                       thresholds: list[float] | None = None,
                       threshold_qs: list[float] | None = None) -> DataFrame:
    """CCNet-style quality partitioning (Wenzek et al., "CCNet: Extracting
    High Quality Monolingual Datasets from Web Crawl Data", LREC 2020):
    score every document by language-model cross-entropy and split the
    corpus into quality buckets (CCNet's head/middle/tail terciles).

    CCNet scores with KenLM; here the model is the corpus's own smoothed
    unigram LM (``unigram_logprob_table``) — deterministic, SQL-replayable,
    and the right *shape*: a broadcast (term, logp) table joined against
    the exploded token stream, one aggregation per doc, then a global
    ``ntile`` over the cross-entropy. A real KenLM would slot in as a
    scoring UDF without changing the plan. Returns
    (doc_id, cross_entropy, bucket) — bucket 1 = head (lowest entropy).

    Two bucketing modes, matching CCNet's own split: with
    ``thresholds=[t1, t2, ...]`` every doc buckets by comparison —
    a pure map over the per-doc rows, no global sort; this is the 100 TB
    path (CCNet computes its head/middle/tail cutoffs on a SAMPLE and
    applies them corpus-wide — derive thresholds from
    ``approx_percentile`` or a collected sample). Without thresholds the
    exact ``ntile`` window assigns equal-size buckets — a single global
    sort of one row per doc, fine to a few hundred million docs and the
    deterministic, oracle-replayable mode the catalog entry uses.
    Empty-token docs get the corpus's worst entropy + 1 so they land in
    the tail deterministically either way.

    ``threshold_qs=[1/3, 2/3]`` is the self-contained CCNet recipe: the
    cutoffs are DERIVED from the scored corpus itself in one extra
    aggregation over the per-doc rows (:func:`quantile_thresholds` —
    no global sort), then applied map-side exactly like an explicit
    ``thresholds=`` list.  Mutually exclusive with ``thresholds``."""
    from pyspark.sql.window import Window
    from carbonapi_spark.datapipe import pin, spread
    df = spread(df)
    # the vocab-sized LM table feeds the OOV-floor aggregate AND the
    # scoring broadcast — persist it (request-scoped) so the token
    # explode + count agg underneath runs once, not once per reference
    lm = pin(unigram_logprob_table(df, text_col, alpha))
    # OOV floor: scoring a doc against an LM trained elsewhere must
    # PENALIZE unknown tokens, not skip them (avg ignores nulls — that
    # would reward garbage). One tiny agg over the vocab-sized lm table,
    # not a second corpus pass; self-scored corpora never hit it.
    floor = lm.agg((F.min("logp") - F.log(F.lit(2.0))).alias("__oov"))
    toks = (df.select(F.col(id_col),
                      F.explode_outer(tokens(F.lower(F.col(text_col))))
                      .alias("term")))
    # scored feeds the corpus-worst aggregate, the final select, and (in
    # threshold_qs mode) the quantile + bucketing passes — persist the
    # (one row per doc) table so the scoring pipeline (corpus explode +
    # LM join) runs once, not once per reference (2-4x before r14)
    scored = pin(
        toks.join(F.broadcast(lm), "term", "left")
        .crossJoin(F.broadcast(floor))
        .groupBy(id_col)
        .agg((-F.avg(F.when(F.col("term").isNull(), F.lit(None))
                     .otherwise(F.coalesce("logp", F.col("__oov")))))
             .alias("__h")))
    worst = scored.agg(F.max("__h").alias("__worst"))
    scored = (scored.crossJoin(F.broadcast(worst))
              .select(id_col,
                      F.round(F.coalesce("__h", F.col("__worst") + 1), 6)
                      .alias("cross_entropy")))
    if threshold_qs is not None:
        # scored now ALSO feeds the quantile agg — the persist gate above
        # already covers the doubly-referenced case at lake scale
        thr = quantile_thresholds(scored, "cross_entropy", threshold_qs)
        return bucket_by_thresholds(scored, "cross_entropy", thr)
    if thresholds is not None:
        b = F.lit(1)
        for t in thresholds:
            b = b + (F.col("cross_entropy") > F.lit(float(t))).cast("int")
        return scored.withColumn("bucket", b)
    w = Window.orderBy(F.asc("cross_entropy"), F.asc(id_col))
    return scored.withColumn("bucket", F.ntile(buckets).over(w))


def bigram_perplexity_buckets(df: DataFrame, text_col: str = "text",
                              id_col: str = "doc_id", alpha: float = 0.5,
                              lam: float = 0.75, buckets: int = 3,
                              thresholds: list[float] | None = None,
                              threshold_qs: list[float] | None = None
                              ) -> DataFrame:
    """``perplexity_buckets`` with an interpolated BIGRAM model — one
    n-gram order up the ladder toward CCNet's KenLM (a 5-gram model;
    Wenzek et al. 2020).  Per bigram position the mixture probability is

        lam * p(w2 | w1) + (1 - lam) * p(w2)

    with add-``alpha`` smoothing on both components (Jelinek-Mercer
    interpolation — the fixed-weight special case of Chen & Goodman
    1998's smoothing survey), and the doc score is the negative mean log
    mixture over its bigram positions.  Docs with fewer than two tokens
    have no bigrams to score and land past the corpus-worst entropy,
    like empty docs in ``perplexity_buckets``.

    Physical shape: the bigram stream is ONE explode of the zip_with
    gram array; c(w1,w2) is one map-side-combined hash agg of that
    stream, and c(w1.) is derived from the (bigram-type-sized) count
    table, NOT a second corpus pass.  Scoring joins the count tables
    back against the stream.  The broadcast hints are SIZE-GATED on the
    corpus (``bcast_if_small``): while the corpus is small enough that
    the bigram TYPE count is safely driver-sized the hint pins the
    broadcast plan, and past that point the hint drops away so
    Catalyst/AQE picks broadcast-vs-shuffle from actual runtime sizes
    instead of OOMing on a forced hint — or swap in a real KenLM as a
    mapPartitions scorer with a distributed model file, which is exactly
    CCNet's own layout.  Returns
    (doc_id, cross_entropy, bucket); bucket semantics (exact ``ntile``
    vs map-side ``thresholds=``) match ``perplexity_buckets``."""
    from pyspark.sql.window import Window

    from carbonapi_spark.datapipe import spread
    df = spread(df)
    bi = (df.select(F.col(id_col),
                    F.explode(word_ngrams(F.col(text_col), 2)).alias("g"))
          .select(id_col, "g",
                  F.substring_index("g", " ", 1).alias("__w1"),
                  F.substring_index("g", " ", -1).alias("__w2")))
    from carbonapi_spark.datapipe import bcast_if_small, pin
    # cnt_bi feeds its own broadcast plus the cnt_w1 derivation, tf feeds
    # its broadcast plus tot, and scored feeds the corpus-worst aggregate
    # plus the join-back — persist all three (request-scoped) so the two
    # corpus explodes (bigram stream, token stream) run once each instead
    # of once per reference (the r14 "before" plan scanned the corpus 22
    # times).  All three tables are sublinear in the corpus.
    cnt_bi = pin(
        bi.groupBy("g").agg(F.count(F.lit(1)).alias("__nb")))
    cnt_w1 = (cnt_bi.groupBy(F.substring_index("g", " ", 1).alias("__w1"))
              .agg(F.sum("__nb").alias("__nw")))
    tf = pin(
        df.select(F.explode(tokens(F.lower(F.col(text_col))))
                  .alias("__w2"))
        .groupBy("__w2").agg(F.count(F.lit(1)).alias("__n")))
    tot = tf.agg(F.sum("__n").alias("__total"),
                 F.count(F.lit(1)).alias("__vocab"))
    p_bi = ((F.coalesce("__nb", F.lit(0)) + F.lit(alpha))
            / (F.coalesce("__nw", F.lit(0)) + F.lit(alpha) * F.col("__vocab")))
    p_uni = ((F.coalesce("__n", F.lit(0)) + F.lit(alpha))
             / (F.col("__total") + F.lit(alpha) * F.col("__vocab")))
    # Every factor of the mixture is determined by g alone (w1/w2 are
    # substrings of g), so the model tables PRE-JOIN into ONE score
    # table keyed by g — one broadcast hash join on the corpus stream
    # instead of three.  The pre-joins stay LEFT joins with the same
    # coalesce defaults, so the restructure is value-identical even for
    # a w1/w2 somehow absent from the derived tables; every g observed
    # in the stream is in cnt_bi by construction, so keying on g loses
    # no rows.  (r14; oracle-verified.)
    score_g = (cnt_bi
               .withColumn("__w1", F.substring_index("g", " ", 1))
               .withColumn("__w2", F.substring_index("g", " ", -1))
               .join(cnt_w1, "__w1", "left")
               .join(tf, "__w2", "left")
               .crossJoin(F.broadcast(tot))
               .select("g", (F.lit(lam) * p_bi
                             + F.lit(1.0 - lam) * p_uni).alias("__p")))
    scored = pin(
        bi.select(id_col, "g")
        .join(bcast_if_small(score_g, df), "g")
        .groupBy(id_col)
        .agg((-F.avg(F.log(F.col("__p")))).alias("__h")))
    worst = scored.agg(F.max("__h").alias("__worst"))
    scored = (df.select(id_col).join(scored, id_col, "left")
              .crossJoin(F.broadcast(worst))
              .select(id_col,
                      F.round(F.coalesce("__h",
                                         F.col("__worst") + 1, F.lit(0.0)),
                              6).alias("cross_entropy")))
    if threshold_qs is not None:
        thr = quantile_thresholds(scored, "cross_entropy", threshold_qs)
        return bucket_by_thresholds(scored, "cross_entropy", thr)
    if thresholds is not None:
        b = F.lit(1)
        for t in thresholds:
            b = b + (F.col("cross_entropy") > F.lit(float(t))).cast("int")
        return scored.withColumn("bucket", b)
    w = Window.orderBy(F.asc("cross_entropy"), F.asc(id_col))
    return scored.withColumn("bucket", F.ntile(buckets).over(w))


def kn_bigram_perplexity_buckets(df: DataFrame, text_col: str = "text",
                                 id_col: str = "doc_id", d: float = 0.75,
                                 buckets: int = 3,
                                 thresholds: list[float] | None = None,
                                 threshold_qs: list[float] | None = None
                                 ) -> DataFrame:
    """``bigram_perplexity_buckets`` with interpolated KNESER-NEY
    smoothing — the smoothing Chen & Goodman 1998 found best and the one
    real KenLM models use (Heafield 2011).  Per observed bigram (w1, w2):

        p(w2|w1) = (c(w1w2) - d)/c(w1.)  +  d * N1+(w1,.)/c(w1.) * pc(w2)
        pc(w2)   = N1+(.,w2) / N1+(.,.)

    — absolute discounting with the mass redistributed by CONTINUATION
    counts (how many distinct contexts a word follows), which fixes the
    "san francisco" pathology of frequency-based backoff: "francisco" is
    frequent but appears after almost nothing, so its continuation
    probability is tiny.

    Every model quantity derives from the ONE bigram count table
    (c(w1w2) -> c(w1.), N1+(w1,.), N1+(.,w2), N1+(.,.) are three
    aggregations of the bigram-type-sized table) — never a second corpus
    pass; scoring joins are size-gated broadcasts like the JM variant.
    Self-scored corpora only see observed bigrams, so c >= 1 and the
    discounted term is well-defined; docs with < 2 tokens land past the
    corpus-worst entropy.  Returns (doc_id, cross_entropy, bucket)."""
    from pyspark.sql.window import Window

    from carbonapi_spark.datapipe import bcast_if_small, pin, spread
    df = spread(df)
    bi = (df.select(F.col(id_col),
                    F.explode(word_ngrams(F.col(text_col), 2)).alias("g"))
          .select(id_col, "g",
                  F.substring_index("g", " ", 1).alias("__w1"),
                  F.substring_index("g", " ", -1).alias("__w2")))
    # cnt_bi is PINNED (lazy localCheckpoint — materialize once AND
    # truncate the plan): it feeds three derived aggregations plus the
    # model join; without it every reference re-ran the corpus explode +
    # hash agg underneath (the r14 "before" plan scanned the corpus 22
    # times, and the duplicated planning alone dominated bench latency).
    cnt_bi = pin(
        bi.groupBy("g").agg(F.count(F.lit(1)).alias("__nb")))
    # the three derived tables — aggregations of cnt_bi, NOT the corpus
    left = (cnt_bi.groupBy(F.substring_index("g", " ", 1).alias("__w1"))
            .agg(F.sum("__nb").alias("__nw"),
                 F.count(F.lit(1)).alias("__n1l")))   # c(w1.), N1+(w1,.)
    cont = (cnt_bi.groupBy(F.substring_index("g", " ", -1).alias("__w2"))
            .agg(F.count(F.lit(1)).alias("__n1r")))   # N1+(.,w2)
    tot = cnt_bi.agg(F.count(F.lit(1)).alias("__types"))  # N1+(.,.)
    pc = F.col("__n1r") / F.col("__types")
    p = (F.greatest(F.col("__nb") - F.lit(d), F.lit(0.0)) / F.col("__nw")
         + F.lit(d) * F.col("__n1l") / F.col("__nw") * pc)
    # Every factor of p is determined by g ALONE (w1/w2 are substrings
    # of g; each derived table has exactly one row per key), so the four
    # model tables PRE-JOIN into ONE score table keyed by g — the corpus
    # stream then takes a single broadcast hash join instead of four.
    # All joins are the same inner equi-joins as before, just reordered
    # around the bigram-type-sized side, and p is the same expression —
    # values are bit-identical (oracle-verified).  r14: this collapsed
    # the 4-broadcast scoring chain (each build its own driver-blocking
    # job) into one.
    score_g = (cnt_bi
               .withColumn("__w1", F.substring_index("g", " ", 1))
               .withColumn("__w2", F.substring_index("g", " ", -1))
               .join(left, "__w1")
               .join(cont, "__w2")
               .crossJoin(F.broadcast(tot))
               .select("g", p.alias("__p")))
    scored = pin(
        bi.select(id_col, "g")
        .join(bcast_if_small(score_g, df), "g")
        .groupBy(id_col)
        .agg((-F.avg(F.log(F.col("__p")))).alias("__h")))
    worst = scored.agg(F.max("__h").alias("__worst"))
    scored = (df.select(id_col).join(scored, id_col, "left")
              .crossJoin(F.broadcast(worst))
              .select(id_col,
                      F.round(F.coalesce("__h",
                                         F.col("__worst") + 1, F.lit(0.0)),
                              6).alias("cross_entropy")))
    if threshold_qs is not None:
        thr = quantile_thresholds(scored, "cross_entropy", threshold_qs)
        return bucket_by_thresholds(scored, "cross_entropy", thr)
    if thresholds is not None:
        b = F.lit(1)
        for t in thresholds:
            b = b + (F.col("cross_entropy") > F.lit(float(t))).cast("int")
        return scored.withColumn("bucket", b)
    w = Window.orderBy(F.asc("cross_entropy"), F.asc(id_col))
    return scored.withColumn("bucket", F.ntile(buckets).over(w))


def kn_trigram_perplexity_buckets(df: DataFrame, text_col: str = "text",
                                  id_col: str = "doc_id", d: float = 0.75,
                                  buckets: int = 3,
                                  threshold_qs: list[float] | None = None
                                  ) -> DataFrame:
    """Interpolated Kneser-Ney at TRIGRAM order — one more rung up the
    ladder toward CCNet's 5-gram KenLM, with the full two-level KN
    recursion (Chen & Goodman 1998, eq. 4.24; the lower orders use
    CONTINUATION counts, not frequencies):

        p(w3|w1w2) = max(c(w1w2w3) - d, 0)/c(w1w2.)
                     + d * N1+(w1w2,.)/c(w1w2.) * p_kn(w3|w2)
        p_kn(w3|w2) = max(N1+(.w2w3) - d, 0)/N1+(.w2.)
                      + d * T(w2)/N1+(.w2.) * pc(w3)
        pc(w3)      = N1+(..w3) / N1+(...)

    where N1+(.w2w3) counts distinct left contexts of the bigram
    (the mid level scores TYPES of extension, not tokens), T(w2) is the
    number of distinct continuations of w2, and pc is the bigram-type
    continuation unigram.

    EVERY quantity derives from the ONE trigram count table: c(w1w2.)
    and N1+(w1w2,.) group it by (w1,w2); the mid-level "adjusted count"
    table groups it by (w2,w3) counting rows; that table's own
    groupings give N1+(.w2.), T(w2), and the continuation unigram —
    four vocabulary-sized aggregations, never a second corpus pass.
    Self-scored corpora only see observed trigrams, so every
    denominator is >= 1.  Docs with < 3 tokens land past the
    corpus-worst entropy.  Returns (doc_id, cross_entropy, bucket)."""
    from pyspark.sql.window import Window

    from carbonapi_spark.datapipe import bcast_if_small, pin, spread
    df = spread(df)
    tri = (df.select(F.col(id_col),
                     F.explode(word_ngrams(F.col(text_col), 3)).alias("g"))
           .select(id_col, "g",
                   F.substring_index("g", " ", 2).alias("__b12"),
                   F.substring_index(F.substring_index("g", " ", -2),
                                     " ", 1).alias("__w2"),
                   F.substring_index("g", " ", -1).alias("__w3"),
                   F.substring_index("g", " ", -2).alias("__b23")))
    # cnt_tri feeds FIVE derived aggregations plus the scoring join (and
    # mid, derived from it, feeds three of those plus the join) — and
    # scored feeds the corpus-worst aggregate plus the join-back.
    # Persist all three through the request-scoped scratch registry:
    # without it each reference re-ran the corpus explode + agg beneath
    # it (the r14 "before" plan scanned the corpus 16 times); with it
    # the pipeline is exactly two corpus passes.  cnt_tri/mid are
    # n-gram-type-sized, scored is one row per doc — all sublinear.
    cnt_tri = pin(
        tri.groupBy("g").agg(F.count(F.lit(1)).alias("__nt")))
    # derived tables — aggregations of cnt_tri, NOT the corpus
    hi = (cnt_tri.groupBy(F.substring_index("g", " ", 2).alias("__b12"))
          .agg(F.sum("__nt").alias("__c12"),
               F.count(F.lit(1)).alias("__n1h")))  # c(w1w2.), N1+(w1w2,.)
    mid = pin(
        cnt_tri.groupBy(F.substring_index("g", " ", -2).alias("__b23"))
        .agg(F.count(F.lit(1)).alias("__a23")))  # N1+(.w2w3)
    w2t = (mid.groupBy(F.substring_index("__b23", " ", 1).alias("__w2"))
           .agg(F.sum("__a23").alias("__d2"),       # N1+(.w2.)
                F.count(F.lit(1)).alias("__t2")))   # T(w2)
    uni = (mid.groupBy(F.substring_index("__b23", " ", -1).alias("__w3"))
           .agg(F.count(F.lit(1)).alias("__n1u")))  # N1+(..w3)
    tot = mid.agg(F.count(F.lit(1)).alias("__types"))  # N1+(...)
    pc = F.col("__n1u") / F.col("__types")
    p_mid = (F.greatest(F.col("__a23") - F.lit(d), F.lit(0.0))
             / F.col("__d2")
             + F.lit(d) * F.col("__t2") / F.col("__d2") * pc)
    p_tri = (F.greatest(F.col("__nt") - F.lit(d), F.lit(0.0))
             / F.col("__c12")
             + F.lit(d) * F.col("__n1h") / F.col("__c12") * F.col("__pm"))
    # Every factor of p_tri is determined by g alone (b12/b23/w2/w3 are
    # substrings of g; every derived table has one row per key), so the
    # five model tables PRE-JOIN into ONE score table keyed by g and the
    # corpus stream takes a single broadcast hash join instead of five —
    # the same inner equi-joins, reordered around the n-gram-type-sized
    # side; p_mid/p_tri are the same expressions, so values are
    # bit-identical (oracle-verified).  r14: collapsed the 5-broadcast
    # scoring chain (each build its own driver-blocking job) into one.
    pm = (mid
          .withColumn("__w2", F.substring_index("__b23", " ", 1))
          .withColumn("__w3", F.substring_index("__b23", " ", -1))
          .join(w2t, "__w2")
          .join(uni, "__w3")
          .crossJoin(F.broadcast(tot))
          .select("__b23", p_mid.alias("__pm")))
    score_g = (cnt_tri
               .withColumn("__b12", F.substring_index("g", " ", 2))
               .withColumn("__b23", F.substring_index("g", " ", -2))
               .join(hi, "__b12")
               .join(pm, "__b23")
               .select("g", p_tri.alias("__p")))
    scored = pin(
        tri.select(id_col, "g")
        .join(bcast_if_small(score_g, df), "g")
        .groupBy(id_col)
        .agg((-F.avg(F.log(F.col("__p")))).alias("__h")))
    worst = scored.agg(F.max("__h").alias("__worst"))
    scored = (df.select(id_col).join(scored, id_col, "left")
              .crossJoin(F.broadcast(worst))
              .select(id_col,
                      F.round(F.coalesce("__h",
                                         F.col("__worst") + 1, F.lit(0.0)),
                              6).alias("cross_entropy")))
    if threshold_qs is not None:
        thr = quantile_thresholds(scored, "cross_entropy", threshold_qs)
        return bucket_by_thresholds(scored, "cross_entropy", thr)
    w = Window.orderBy(F.asc("cross_entropy"), F.asc(id_col))
    return scored.withColumn("bucket", F.ntile(buckets).over(w))


PII_PATTERNS: list[tuple[str, str]] = [
    # (regex, replacement token) — the C4/CCNet-style scrub set; order is
    # applied top-down so emails win over bare domains etc.
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    (r"\+?\d[\d \t\n\x0B\f\r().-]{7,}\d", "<PHONE>"),
]


def redact_pii(text: Column) -> Column:
    """Replace emails / IPv4s / phone-shaped digit runs with typed
    placeholder tokens — the standard pre-training scrub pass. Chained
    ``regexp_replace`` stays a single codegen'd projection over the scan
    (one pass per pattern, no shuffle, no Python)."""
    out = text
    for pat, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


def line_dedup(df: DataFrame, text_col: str = "text",
               id_col: str = "doc_id", min_docs: int = 2) -> DataFrame:
    """Corpus-level duplicate-line removal (the C4 "three-sentence" /
    CCNet paragraph-dedup stage, Raffel et al. 2020 §2.2): a line that
    occurs in >= ``min_docs`` DISTINCT documents is boilerplate
    (headers, cookie banners, navigation) and is dropped from every
    document; surviving lines are reassembled in original order.

    Scale shape: lines are keyed by xxhash64 BEFORE the exchange (8-byte
    shuffle keys, not line strings); the boilerplate set is
    vocabulary-like — tiny next to the corpus — and comes back as a
    broadcast anti-join. Reassembly is one groupBy(doc) of (pos, line)
    pairs, shuffled once."""
    from carbonapi_spark.datapipe import spread
    df = spread(df)
    lines = (df.select(F.col(id_col),
                       F.posexplode(F.split(F.col(text_col), "\n"))
                       .alias("__pos", "__line"))
             .withColumn("__h", F.xxhash64("__line")))
    boiler = (lines.groupBy("__h")
              .agg(F.count_distinct(F.col(id_col)).alias("__nd"))
              .where(F.col("__nd") >= min_docs)
              .select("__h"))
    kept = lines.join(F.broadcast(boiler), "__h", "left_anti")
    return (kept.groupBy(id_col)
            .agg(F.array_join(
                F.transform(F.array_sort(F.collect_list(
                    F.struct("__pos", "__line"))), lambda s: s["__line"]),
                "\n").alias(text_col)))


# GPT-2-style pre-tokenizer (Radford et al. 2019, the public tiktoken/
# GPT-2 pattern) minus its trailing-space lookahead — RE2 (the oracle's
# regex engine) has no lookahead, and both engines are leftmost-first on
# alternations, so Spark (Java regex) and DuckDB (RE2) split identically.
BPE_PRETOKEN_PATTERN = (
    r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+"
    r"| ?[^ \t\n\x0B\f\r\p{L}\p{N}]+|[ \t\n\x0B\f\r]+")


def bpe_pretokens(text: Column) -> Column:
    """ARRAY<STRING> of GPT-2-style pre-tokens (contractions, letter
    runs, digit runs, punctuation runs, whitespace runs — each with its
    leading space attached, the way BPE vocabularies see text)."""
    return F.regexp_extract_all(text, F.lit(BPE_PRETOKEN_PATTERN), F.lit(0))


def bpe_token_count(text: Column) -> Column:
    """Pre-token count excluding pure-whitespace runs — the standard
    quick estimate of BPE token cost (actual BPE merges only split
    *within* pre-tokens, so this lower-bounds and tracks the real
    count). Single codegen'd projection, like ``token_count``."""
    return F.size(F.filter(bpe_pretokens(text),
                           lambda t: F.trim(t) != ""))


def score_quality_lr(df: DataFrame, weights: dict[str, float],
                     bias: float = 0.0, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Classifier-based quality scoring (the GPT-3 WebText-classifier /
    LLaMA Wikipedia-reference-classifier filtering stage): a logistic
    model over bag-of-words features, score = sigmoid(bias + sum of
    per-token weights). Returns (doc_id, lr_score) in [0, 1].

    The weight table is classifier-sized (vocab subset), broadcast
    against the exploded token stream — the identical physical shape as
    ``unigram_logprob_table`` scoring, so the 100 TB cost is one
    token-explode plus a per-doc sum. Train weights driver-side with
    :func:`train_quality_lr` (or import any external model's
    vocabulary->weight map).

    The per-doc sum runs in exact INTEGER micro-units (see
    :func:`quality_logit_micro`), so the logit — and therefore the
    score — is independent of partitioning/summation order; the only
    floating point is one final deterministic-input sigmoid."""
    logit = quality_logit_micro(df, weights, bias, text_col, id_col)
    z = F.col("logit_micro").cast("double") / LR_SCALE
    return logit.select(id_col,
                        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)
                        .alias("lr_score"))


LR_SCALE = 1_000_000


def quality_logit_micro(df: DataFrame, weights: dict[str, float],
                        bias: float = 0.0, text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """(id, logit_micro BIGINT): bias + per-token LR weight sum with
    every weight quantized to 1e-6 and accumulated as exact integers.

    This is the env-stable RANKING KEY for the LR score: a double-sum
    logit is partition-order-dependent in its last ulp, and a 6-dp
    round at a boundary can flip, silently changing rank-tie structure
    between runs/engines (the classic exact-AUC replay trap).  Integer
    accumulation is associative-exact, and sigmoid is strictly monotone,
    so ranking (and Mann-Whitney AUC) over ``logit_micro`` is the
    ranking over the score with a portable tie structure."""
    spark = df.sparkSession
    w = _local_df(spark, 
        [(t, int(round(v * LR_SCALE))) for t, v in sorted(weights.items())],
        "term STRING, __w LONG")
    toks = df.select(F.col(id_col),
                     F.explode_outer(tokens(F.lower(F.col(text_col))))
                     .alias("term"))
    return (toks.join(F.broadcast(w), "term", "left")
            .groupBy(id_col)
            .agg((F.coalesce(F.sum("__w"), F.lit(0))
                  + F.lit(int(round(bias * LR_SCALE))))
                 .alias("logit_micro")))


def train_quality_lr(samples: list[tuple[str, int]], iters: int = 200,
                     lr: float = 0.5, l2: float = 1e-3
                     ) -> tuple[dict[str, float], float]:
    """Driver-side logistic regression on (text, label) samples — the
    standard recipe: the classifier trains on a tiny labeled set
    (positives = reference corpus, negatives = random crawl) and only
    SCORING runs distributed. Returns (term->weight, bias)."""
    import numpy as np
    vocab: dict[str, int] = {}
    rows = []
    for text, label in samples:
        idx = {}
        for t in text.lower().split():
            if t:
                j = vocab.setdefault(t, len(vocab))
                idx[j] = idx.get(j, 0) + 1
        rows.append((idx, label))
    w = np.zeros(len(vocab))
    b = 0.0
    for _ in range(iters):
        gw = np.zeros_like(w)
        gb = 0.0
        for idx, y in rows:
            z = b + sum(w[j] * c for j, c in idx.items())
            p = 1.0 / (1.0 + np.exp(-z))
            err = p - y
            for j, c in idx.items():
                gw[j] += err * c
            gb += err
        w -= lr * (gw / len(rows) + l2 * w)
        b -= lr * gb / len(rows)
    inv = {j: t for t, j in vocab.items()}
    return {inv[j]: float(w[j]) for j in range(len(w))}, float(b)


def c4_rules(df: DataFrame, text_col: str = "text",
             id_col: str = "doc_id", min_words_per_line: int = 5,
             min_sentences: int = 3,
             bad_words: tuple[str, ...] = ()) -> DataFrame:
    """C4's heuristic cleaning rules (Raffel et al., "Exploring the
    Limits of Transfer Learning with a Unified Text-to-Text
    Transformer", JMLR 2020, sec. 2.2), as one stateless projection:

    - line filter: keep only lines ending in terminal punctuation
      (. ! ? " ') with >= ``min_words_per_line`` words and no
      "javascript" mention;
    - page filter: drop pages with "lorem ipsum", a curly brace, any
      ``bad_words`` term, or fewer than ``min_sentences`` sentences
      remaining after the line filter.

    Returns (id, text=kept lines, n_lines_kept, n_sentences, keep).
    Sentences are counted as terminal marks (. ! ?) in the KEPT text —
    C4's own proxy. Everything is array/string ops inside whole-stage
    codegen: no shuffle, no regex beyond the line split, exactly
    SQL-replayable (no engine-specific tokenizers). The corpus-level
    "three-sentence dedup" companion rule is :func:`line_dedup`."""
    lines = F.split(F.col(text_col), "\n")
    punct = ".!?\"'"
    is_kept = lambda l: (
        F.substring(l, -1, 1).isin(*list(punct))
        & (F.size(tokens(l)) >= min_words_per_line)
        & ~F.contains(F.lower(l), F.lit("javascript")))
    kept = F.filter(lines, is_kept)
    kept_text = F.array_join(kept, "\n")
    n_sent = (F.length(kept_text)
              - F.length(F.translate(kept_text, ".!?", "")))
    low = F.lower(F.col(text_col))
    bad = F.lit(False)
    for wrd in sorted(bad_words):
        bad = bad | F.contains(low, F.lit(wrd))
    keep = (~F.contains(low, F.lit("lorem ipsum"))
            & ~F.contains(F.col(text_col), F.lit("{"))
            & ~bad
            & (n_sent >= min_sentences))
    return df.select(
        F.col(id_col), kept_text.alias(text_col),
        F.size(kept).cast("long").alias("n_lines_kept"),
        n_sent.cast("long").alias("n_sentences"),
        keep.alias("keep"))


GOPHER_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id", min_words: int = 50,
                 max_words: int = 100_000,
                 min_mean_word_len: float = 3.0,
                 max_mean_word_len: float = 10.0,
                 max_symbol_ratio: float = 0.1,
                 max_bullet_frac: float = 0.9,
                 max_ellipsis_frac: float = 0.3,
                 min_alpha_frac: float = 0.8,
                 min_stop_hits: int = 2) -> DataFrame:
    """The full Gopher document-level quality rule set (Rae et al. 2021,
    "Scaling Language Models: Methods, Analysis & Insights from Training
    Gopher", Table A1): word-count bounds, mean word length bounds,
    symbol-to-word ratio (# and ellipses), bullet-line and
    ellipsis-line fractions, alphabetic-word fraction, and the
    stop-word-presence test. The companion repetition rules
    (dup/top-ngram fractions) are :func:`repetition_features` — join on
    id to apply both.

    One stateless projection (string/array ops, whole-stage codegen, no
    shuffle at any corpus size). Returns the metric columns plus
    ``keep`` = AND of all rules; empty docs fail closed. Ratios are
    rounded to 6 so an external engine replays them exactly."""
    t = F.col(text_col)
    toks = tokens(t)
    n_words = F.size(toks)
    tok_chars = F.aggregate(toks, F.lit(0),
                            lambda acc, x: acc + F.length(x))
    mean_wl = F.when(n_words > 0,
                     F.round(tok_chars.cast("double") / n_words, 6))
    n_hash = F.length(t) - F.length(F.translate(t, "#", ""))
    n_ellipsis = ((F.length(t) - F.length(F.replace(t, F.lit("..."),
                                                    F.lit("")))) / 3
                  ).cast("long")
    symbol_ratio = F.when(
        n_words > 0,
        F.round((n_hash + n_ellipsis).cast("double") / n_words, 6))
    lines = F.split(t, "\n")
    n_lines = F.size(lines)
    bullet = lambda l: (F.startswith(F.ltrim(l), F.lit("•"))
                        | F.startswith(F.ltrim(l), F.lit("- ")))
    bullet_frac = F.when(
        n_lines > 0,
        F.round(F.size(F.filter(lines, bullet)).cast("double") / n_lines,
                6))
    ell_frac = F.when(
        n_lines > 0,
        F.round(F.size(F.filter(lines, lambda l: F.endswith(
            F.rtrim(l), F.lit("...")))).cast("double") / n_lines, 6))
    alpha_frac = F.when(
        n_words > 0,
        F.round(F.size(F.filter(toks, lambda w: w.rlike("[a-zA-Z]")))
                .cast("double") / n_words, 6))
    stop_hits = F.size(F.array_intersect(
        F.array_distinct(tokens(F.lower(t))),
        F.array(*[F.lit(s) for s in GOPHER_STOPS])))
    keep = (n_words.between(min_words, max_words)
            & mean_wl.between(min_mean_word_len, max_mean_word_len)
            & (symbol_ratio <= max_symbol_ratio)
            & (bullet_frac <= max_bullet_frac)
            & (ell_frac <= max_ellipsis_frac)
            & (alpha_frac >= min_alpha_frac)
            & (stop_hits >= min_stop_hits))
    return df.select(
        F.col(id_col),
        n_words.cast("long").alias("n_words"),
        mean_wl.alias("mean_word_len"),
        symbol_ratio.alias("symbol_ratio"),
        bullet_frac.alias("bullet_frac"),
        ell_frac.alias("ellipsis_frac"),
        alpha_frac.alias("alpha_frac"),
        stop_hits.cast("long").alias("stop_hits"),
        F.coalesce(keep, F.lit(False)).alias("keep"))


def hashed_doc_vectors(df: DataFrame, dim: int = 64,
                       text_col: str = "text", id_col: str = "doc_id",
                       out_col: str = "embedding") -> DataFrame:
    """Feature-hashed document embeddings (the hashing trick, Weinberger
    et al., "Feature Hashing for Large Scale Multitask Learning", ICML
    2009): v[b] = sum over token occurrences of sign, with bucket
    b = xxhash64(token) mod dim and sign from hash bit 33 — the
    unbiased signed variant. Model-free, deterministic, SQL-replayable;
    the resulting array<double> column feeds every embedding op in this
    package (ANN top-k, SemDeDup, embedding near-dup) so raw text gets
    cheap vector-space dedup without an encoder.

    Scale shape: explode tokens -> 8-byte hash rows -> ONE (id, bucket)
    hash aggregation (map-side combined) -> per-doc scatter into the
    dim-length array via a map lookup per slot (dim map probes per doc,
    no per-token HOF work). Empty docs yield the zero vector."""
    ex = df.select(F.col(id_col),
                   F.explode_outer(tokens(F.lower(F.col(text_col))))
                   .alias("__t"))
    wb = ex.selectExpr(
        id_col,
        f"case when __t is not null then"
        f" ((xxhash64(__t) % {dim}L) + {dim}L) % {dim}L end as __b",
        "case when __t is not null then"
        " if((shiftright(xxhash64(__t), 33) & 1) = 0, 1.0D, -1.0D)"
        " end as __s")
    per_bucket = (wb.groupBy(id_col, "__b")
                  .agg(F.sum("__s").alias("__w")))
    per_doc = per_bucket.groupBy(id_col).agg(F.expr(
        "map_from_entries(filter(collect_list(struct(__b, __w)),"
        " x -> x.__b is not null)) as __m"))
    return per_doc.selectExpr(
        id_col,
        f"transform(sequence(0, {dim - 1}),"
        f" i -> coalesce(element_at(__m, cast(i as bigint)), 0.0D))"
        f" as {out_col}")


def corpus_stats(df: DataFrame, group_cols: tuple[str, ...] = ("source",
                                                               "lang"),
                 text_col: str = "text") -> DataFrame:
    """Curation report: per-group document counts, token totals, and
    char-length stats (mean + exact interpolated median) — the summary
    a mixing recipe (``temperature_mix`` / ``stratified_sample`` rates)
    or a filtering review is derived from.

    ONE hash aggregation, map-side combined except the exact median
    (percentile() keeps per-group value buffers — fine at
    group-cardinality scale; switch to approx_percentile for
    million-group keys)."""
    return (df.select(*group_cols,
                      token_count(F.col(text_col)).alias("__nt"),
                      F.length(F.col(text_col)).alias("__nc"))
            .groupBy(*group_cols)
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("__nt").cast("long").alias("total_tokens"),
                 F.round(F.avg("__nc"), 6).alias("mean_chars"),
                 F.round(F.expr("percentile(__nc, 0.5)"), 6)
                 .alias("median_chars")))


def source_kl_divergence(df: DataFrame, group_col: str = "source",
                         text_col: str = "text") -> DataFrame:
    """Per-group KL divergence of the group's token distribution from the
    whole-corpus distribution, KL(p_group || p_corpus) — the mixture
    drift diagnostic run before committing sampling weights: a source
    whose unigram distribution sits far from the mixture it is being
    blended into shifts the trained model more per token (the
    distribution-matching argument behind DSIR / CCNet importance
    weighting, applied at the source level).

    No smoothing is needed: every group term also occurs in the corpus,
    so p_corpus > 0 wherever p_group > 0 and the sum is finite.

    Physical shape: ONE pass over the token stream into a
    (group, term) hash agg; the corpus marginal and group totals are
    DERIVED from that count table (vocab- and group-cardinality-sized
    inputs — never a second corpus pass), broadcast back (hint
    size-gated on the corpus, see ``bcast_if_small``), and reduced
    per group.  Returns (``group_col``, n_tokens, kl)."""
    from carbonapi_spark.datapipe import bcast_if_small
    tok = df.select(F.col(group_col).alias("__grp"),
                    F.explode(tokens(F.lower(F.col(text_col))))
                    .alias("term"))
    gc = tok.groupBy("__grp", "term").agg(F.count(F.lit(1)).alias("__ngt"))
    ct = gc.groupBy("term").agg(F.sum("__ngt").alias("__nt"))
    gt = gc.groupBy("__grp").agg(F.sum("__ngt").alias("__ng"))
    tot = ct.agg(F.sum("__nt").alias("__n"))
    p_g = F.col("__ngt") / F.col("__ng")
    p_c = F.col("__nt") / F.col("__n")
    return (gc.join(bcast_if_small(ct, df), "term")
            .join(F.broadcast(gt), "__grp")
            .crossJoin(F.broadcast(tot))
            .groupBy("__grp")
            .agg(F.max("__ng").cast("long").alias("n_tokens"),
                 F.round(F.sum(p_g * F.log(p_g / p_c)), 6).alias("kl"))
            .select(F.col("__grp").alias(group_col), "n_tokens", "kl"))


def js_divergence(df: DataFrame, group_col: str = "source",
                  text_col: str = "text") -> DataFrame:
    """Per-group Jensen-Shannon divergence from the whole-corpus token
    distribution — the SYMMETRIC, bounded ([0, ln 2]) companion to
    :func:`source_kl_divergence`: KL explodes when a group concentrates
    mass on corpus-rare terms, JS stays comparable across sources of
    very different sizes, which is what a mixture dashboard wants.

    JS(p, c) = 0.5 KL(p || m) + 0.5 KL(c || m), m = (p + c)/2.  The
    corpus-side sum naively ranges over the FULL vocabulary per group,
    but outside the group's support m = c/2, so that tail collapses to
    the closed form 0.5 ln2 * (1 - sum of covered corpus mass) — the
    whole statistic stays ONE group-vocab-sized pass with derived
    marginals, identical physical shape (and cost) to the KL.

    Returns (``group_col``, n_tokens, js), js rounded to 6."""
    import math

    from carbonapi_spark.datapipe import bcast_if_small
    tok = df.select(F.col(group_col).alias("__grp"),
                    F.explode(tokens(F.lower(F.col(text_col))))
                    .alias("term"))
    gc = tok.groupBy("__grp", "term").agg(F.count(F.lit(1)).alias("__ngt"))
    ct = gc.groupBy("term").agg(F.sum("__ngt").alias("__nt"))
    gt = gc.groupBy("__grp").agg(F.sum("__ngt").alias("__ng"))
    tot = ct.agg(F.sum("__nt").alias("__n"))
    p_g = F.col("__ngt") / F.col("__ng")
    p_c = F.col("__nt") / F.col("__n")
    m = (p_g + p_c) / 2
    covered = 0.5 * (p_g * F.log(p_g / m) + p_c * F.log(p_c / m))
    js = (F.sum(covered)
          + F.lit(0.5 * math.log(2.0)) * (F.lit(1.0) - F.sum(p_c)))
    return (gc.join(bcast_if_small(ct, df), "term")
            .join(F.broadcast(gt), "__grp")
            .crossJoin(F.broadcast(tot))
            .groupBy("__grp")
            .agg(F.max("__ng").cast("long").alias("n_tokens"),
                 F.round(js, 6).alias("js"))
            .select(F.col("__grp").alias(group_col), "n_tokens", "js"))


def ngram_novelty(df: DataFrame, ngram: int = 3, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Cross-document n-gram novelty: per doc, the fraction of its
    DISTINCT word n-grams that occur in no other document — the
    memorization-risk / boilerplate diagnostic (a doc whose grams all
    appear elsewhere contributes nothing novel; the complement of the
    span-dedup view). Returns (id, n_grams, novel_frac); docs with no
    n-grams score 0.0.

    Scale shape: one distinct-gram explode, a corpus-wide
    distinct-doc-count aggregation keyed by the 16-byte gram hash pair
    (the ``remove_duplicate_spans`` collision treatment — gram strings
    never shuffle), then a per-doc aggregation. All three keyed hash
    aggs, map-side combined."""
    from carbonapi_spark import scratch
    from carbonapi_spark.datapipe import spread
    from carbonapi_spark.datapipe.dedup import shingles
    df = spread(df, min_bytes=256 << 10)
    # g feeds the corpus-wide gram count AND the join back — persist the
    # hashed rows (24 bytes each, spill-friendly) so the CPU-heavy
    # n-gram HOF explode runs once, not twice
    g = scratch.track(
        df.select(F.col(id_col),
                  F.explode_outer(shingles(F.col(text_col), ngram))
                  .alias("__g"))
        .select(id_col,
                F.when(F.col("__g").isNotNull(),
                       F.xxhash64("__g")).alias("__h"),
                F.when(F.col("__g").isNotNull(),
                       F.xxhash64(F.lit(0x9E3779B9), F.col("__g")))
                .alias("__h2")))
    docs_per_gram = (g.where(F.col("__h").isNotNull())
                     .groupBy("__h", "__h2")
                     .agg(F.count(F.lit(1)).alias("__nd")))
    # per-doc shingles are distinct, so count(*) = distinct docs per gram
    cnt = F.count("__h")
    novel = F.sum(F.when(F.col("__nd") == 1, 1).otherwise(0))
    # the when-guard keeps ANSI mode from throwing on empty docs (0/0)
    return (g.join(docs_per_gram, ["__h", "__h2"], "left")
            .groupBy(id_col)
            .agg(cnt.alias("n_grams"),
                 F.coalesce(F.round(F.when(cnt > 0, novel / cnt), 6),
                            F.lit(0.0)).alias("novel_frac"))
            .select(id_col, F.col("n_grams").cast("long").alias("n_grams"),
                    "novel_frac"))


def char_entropy(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """Character-level Shannon entropy per document (bits): very low
    entropy flags repeated/boilerplate text, very high flags
    random/encoded garbage — the cheap distributional quality signal
    complementing the rule-based filters. Uses the closed form
    H = log2(n) - sum(c_i * log2(c_i)) / n over character counts.

    Shape: char explode -> (id, char) count agg -> per-doc agg — two
    keyed hash aggregations, map-side combined (distinct chars per doc
    bound the second input). Empty docs score 0.0."""
    chars = F.filter(F.split(F.col(text_col), ""), lambda c: c != "")
    ch = df.select(F.col(id_col), F.explode_outer(chars).alias("__c"))
    per_char = (ch.groupBy(id_col, "__c")
                .agg(F.count(F.lit(1)).alias("__cnt")))
    nn = F.when(F.col("__c").isNotNull(), F.col("__cnt"))
    per_doc = (per_char.groupBy(id_col)
               .agg(F.sum(nn).alias("__n"),
                    F.sum(nn * F.log2("__cnt")).alias("__slog")))
    return per_doc.select(
        id_col,
        F.coalesce(
            F.round(F.when(F.col("__n") > 0,
                           F.log2("__n") - F.col("__slog") / F.col("__n")),
                    6),
            F.lit(0.0)).alias("entropy"))


def normalize_unicode(text: "Column", form: str = "NFC") -> "Column":
    """Unicode normalization (NFC by default) — the canonicalization pass
    run before hashing/dedup so that composed and decomposed encodings of
    the same text (e.g. ``é`` vs ``e + U+0301``) collide.

    There is no Spark builtin for this, so it is an Arrow-batched pandas
    UDF around ``unicodedata.normalize`` — one Python crossing per batch,
    a pure map over the scan (no shuffle); the DuckDB oracle replays it
    with ``nfc_normalize``.  Compose with ``normalized_dedup``'s
    lower/strip/ws-collapse for the full RefinedWeb-style key."""
    import unicodedata

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # NOTE: explicit pd.Series annotations, not the module's
    # `from __future__ import annotations` strings — pandas_udf resolves
    # the eval type from REAL hints (string hints raise
    # UNSUPPORTED_SIGNATURE on Spark 4.1)
    def _norm(s):
        return s.map(lambda t: unicodedata.normalize(form, t)
                     if t is not None else None)
    _norm.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return pandas_udf(_norm, "string")(text)


HTML_ENTITIES: list[tuple[str, str]] = [
    # decoded AFTER tag stripping; &amp; LAST so bare entities are not
    # double-unescaped (the classic ordering bug)
    ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'), ("&#39;", "'"),
    ("&nbsp;", " "), ("&amp;", "&"),
]


def html_strip(text: Column) -> Column:
    """Markup -> prose: drop <script>/<style> blocks wholesale, strip
    remaining tags (replaced by a space so words don't fuse), decode the
    common entities, collapse whitespace.  The crawl-pipeline cleaning
    pass before any text statistic; chained ``regexp_replace`` stays ONE
    codegen projection over the scan — no Python, no shuffle — and every
    pattern is RE2-compatible so the DuckDB oracle replays it verbatim."""
    # two separate block patterns: RE2 (the oracle engine) has no
    # backreferences, so <(script|style)>...</\1> is not portable
    out = F.regexp_replace(text, r"(?is)<script[^>]*>.*?</script>", " ")
    out = F.regexp_replace(out, r"(?is)<style[^>]*>.*?</style>", " ")
    out = F.regexp_replace(out, r"(?s)<!--.*?-->", " ")
    out = F.regexp_replace(out, r"<[^>]*>", " ")
    for ent, repl in HTML_ENTITIES:
        out = F.regexp_replace(out, ent, repl)
    return F.trim(F.regexp_replace(out, WS_CLASS + "+", " "))


def per_group_cap(df: DataFrame, n: int, group_col: str = "source",
                  id_col: str = "doc_id") -> DataFrame:
    """Deterministic per-group quota: keep at most ``n`` rows per group,
    chosen by ascending ``xxhash64(id)`` — an unbiased, reproducible
    sample that caps hot groups (the 'no domain may exceed N documents'
    curation rule; C4 and RefinedWeb both cap hot hosts).

    Exact mode: one shuffle on the group key + a per-group rank window.
    At lake scale a single mega-group makes that window's sort the
    straggler; there, pre-filter with the same hash against a per-group
    rate gate (count agg, broadcast back — ``temperature_mix``'s shape)
    sized to ~4n survivors, then run this exact window on the survivors:
    the gate keeps a hash-prefix superset, so the final top-n-by-hash is
    unchanged as long as >= n rows survive (factor-4 slack makes the
    failure probability negligible; a count assertion catches it)."""
    from pyspark.sql.window import Window
    h = F.xxhash64(F.col(id_col).cast("string"))
    w = Window.partitionBy(group_col).orderBy(h.asc(), F.col(id_col).asc())
    return (df.withColumn("__rk", F.row_number().over(w))
            .where(F.col("__rk") <= n).drop("__rk"))


def code_prose_features(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """Code-vs-prose format signals per document (the StarCoder/The-Stack
    style routing decision: code-heavy documents go to a different
    tokenizer/mixture weight than prose):

      symbol_frac   — fraction of chars from the code alphabet {}[]();=<>#
      indent_frac   — fraction of lines starting with space/tab
      line_len_mean — mean line length in chars (code lines are short)
      is_code       — the three signals voted (>=2 of: symbol_frac>0.03,
                      indent_frac>0.2, line_len_mean<40)

    One stateless codegen projection (length/regexp arithmetic only — no
    tokenizer, no Python), exactly SQL-replayable."""
    t = F.col(text_col)
    n_chars = F.length(t)
    sym = n_chars - F.length(F.regexp_replace(t, r"[{}\[\]();=<>#]", ""))
    symbol_frac = F.when(n_chars > 0, sym.cast("double") / n_chars) \
        .otherwise(F.lit(0.0))
    lines = F.split(t, "\n")
    n_lines = F.size(lines)
    indented = F.size(F.filter(lines, lambda l: l.rlike(r"^[ \t]")))
    indent_frac = F.when(n_lines > 0, indented.cast("double") / n_lines) \
        .otherwise(F.lit(0.0))
    line_len_mean = F.when(n_lines > 0, n_chars.cast("double") / n_lines) \
        .otherwise(F.lit(0.0))
    votes = ((symbol_frac > 0.03).cast("int")
             + (indent_frac > 0.2).cast("int")
             + ((line_len_mean < 40) & (n_chars > 0)).cast("int"))
    return df.select(
        F.col(id_col),
        F.round(symbol_frac, 6).alias("symbol_frac"),
        F.round(indent_frac, 6).alias("indent_frac"),
        F.round(line_len_mean, 6).alias("line_len_mean"),
        (votes >= 2).alias("is_code"))


def readability(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Classic readability scores per document — the cheap
    curriculum/routing signal (simple text early in a curriculum, or a
    reading-level facet on the corpus dashboard):

      n_sent  — sentence count (runs of ``[.!?]``, floor 1)
      n_words — whitespace-token count (:func:`tokens`, pinned class)
      n_syll  — syllable estimate: per token, ASCII vowel-group runs
                ``[aeiouyAEIOUY]+`` with a floor of 1 (the standard
                heuristic; every token counts as a word and >=1 syllable
                so the score is total and deterministic)
      flesch  — reading ease 206.835 - 1.015*(w/s) - 84.6*(sy/w)
      fk_grade— Flesch-Kincaid grade 0.39*(w/s) + 11.8*(sy/w) - 15.59
      ttr     — type-token ratio (distinct tokens / tokens)

    One stateless codegen projection (split + regexp counting + higher-
    order sum — no Python, no shuffle); scores are NULL for empty
    documents.  All regexes are ASCII-only so Java and DuckDB agree
    codepoint-for-codepoint; divisions and the two linear forms are
    written in the same operation order on both engines (IEEE-portable).
    """
    t = F.col(text_col)
    toks = tokens(t)
    n_words = F.size(toks)
    n_sent = F.greatest(F.lit(1),
                        F.size(F.regexp_extract_all(t, F.lit(r"[.!?]+"), 0)))
    syll = F.aggregate(
        F.transform(toks, lambda w: F.greatest(
            F.lit(1),
            F.size(F.regexp_extract_all(w, F.lit("[aeiouyAEIOUY]+"), 0)))),
        F.lit(0).cast("long"), lambda acc, x: acc + x)
    wps = n_words.cast("double") / n_sent
    spw = syll.cast("double") / n_words
    nonempty = n_words > 0
    flesch = F.when(nonempty, F.lit(206.835) - F.lit(1.015) * wps
                    - F.lit(84.6) * spw)
    fk = F.when(nonempty, F.lit(0.39) * wps + F.lit(11.8) * spw
                - F.lit(15.59))
    ttr = F.when(nonempty,
                 F.size(F.array_distinct(toks)).cast("double") / n_words)
    return df.select(
        F.col(id_col), n_sent.alias("n_sent"),
        n_words.alias("n_words"), syll.alias("n_syll"),
        F.round(flesch, 6).alias("flesch"),
        F.round(fk, 6).alias("fk_grade"),
        F.round(ttr, 6).alias("ttr"))


def zipf_fit(df: DataFrame, text_col: str = "text",
             group_cols: tuple[str, ...] = ("lang",)) -> DataFrame:
    """Least-squares Zipf fit per group: slope/intercept of
    ln(count) ~ ln(rank) over the group's full term-frequency table —
    the corpus-health diagnostic (natural language sits near slope -1;
    far-off slopes flag templated/boilerplate or synthetic text, and
    drift between snapshots flags a scrape regression).

    Scale shape: one keyed token aggregation (vocabulary-sized after
    map-side combine), a rank window over that VOCAB table (never the
    token stream), then closed-form regression sums per group — the
    corpus is scanned once, everything downstream is sublinear.
    Deterministic rank tie-break (count DESC, term ASC).  Returns
    (group..., n_terms, slope, intercept) rounded to 6 places."""
    from pyspark.sql.window import Window
    keys = [F.col(c) for c in group_cols]
    tf = (df.select(*keys, F.explode(tokens(F.lower(F.col(text_col))))
                    .alias("__t"))
          .groupBy(*group_cols, "__t")
          .agg(F.count(F.lit(1)).alias("__n")))
    w = Window.partitionBy(*group_cols).orderBy(F.desc("__n"),
                                                F.asc("__t"))
    xy = tf.select(*group_cols,
                   F.log(F.row_number().over(w).cast("double")).alias("__x"),
                   F.log(F.col("__n").cast("double")).alias("__y"))
    agg = (xy.groupBy(*group_cols)
           .agg(F.count(F.lit(1)).alias("n_terms"),
                F.sum("__x").alias("__sx"), F.sum("__y").alias("__sy"),
                F.sum(F.col("__x") * F.col("__y")).alias("__sxy"),
                F.sum(F.col("__x") * F.col("__x")).alias("__sxx")))
    k = F.col("n_terms").cast("double")
    den = F.col("__sxx") - F.col("__sx") * F.col("__sx") / k
    # a single-term vocabulary has zero x-variance (ln rank 1 = 0):
    # no line to fit — null, engine-portably (0/0 is NaN vs error
    # depending on the engine)
    slope = F.when(den > 0,
                   (F.col("__sxy") - F.col("__sx") * F.col("__sy") / k)
                   / den)
    intercept = F.col("__sy") / k - slope * F.col("__sx") / k
    return agg.select(*group_cols, "n_terms",
                      F.round(slope, 6).alias("slope"),
                      F.round(intercept, 6).alias("intercept"))


def pmi_top(df: DataFrame, text_col: str = "text", min_count: int = 5,
            k: int = 50) -> DataFrame:
    """Top-``k`` collocations by pointwise mutual information:
    PMI(w1,w2) = ln( C12 * T / (C1 * C2) ) over the corpus bigram
    table, keeping pairs with C12 >= ``min_count`` (the classic Church &
    Hanks 1990 association measure — low-frequency pairs are excluded
    because PMI explodes on them).

    Scale shape: ONE corpus explode into the bigram count table; both
    unigram marginals and the total T are DERIVED from that table
    (sum over the w1 / w2 slot — never a second corpus pass, the same
    economy as the bigram LM), broadcast back at vocabulary size, and
    the result is a TakeOrdered top-k.  PMI's log runs on an exact
    integer ratio (C12*T and C1*C2 are BIGINT products), so the score
    replays exactly.  Ties break on (w1, w2).  Returns
    (w1, w2, cnt, pmi) with pmi rounded to 6."""
    from carbonapi_spark.datapipe import (bcast_if_small, spread,
                                          track_if_large)
    bi = (spread(df, min_bytes=256 << 10)
          .select(F.explode(word_ngrams(F.col(text_col), 2)).alias("g")))
    # the bigram count table feeds FOUR consumers (pairs + both marginals
    # + the total): persist it at lake scale so the corpus explode runs
    # once, recompute at bench scale (the track_if_large duality)
    cnt = track_if_large(bi.groupBy("g")
                         .agg(F.count(F.lit(1)).alias("cnt")), df)
    w1 = F.substring_index("g", " ", 1).alias("w1")
    w2 = F.substring_index("g", " ", -1).alias("w2")
    pairs = cnt.select(w1, w2, "cnt")
    c1 = pairs.groupBy("w1").agg(F.sum("cnt").alias("__c1"))
    c2 = pairs.groupBy("w2").agg(F.sum("cnt").alias("__c2"))
    tot = pairs.agg(F.sum("cnt").alias("__t"))
    pmi = F.log((F.col("cnt") * F.col("__t")).cast("double")
                / (F.col("__c1") * F.col("__c2")).cast("double"))
    return (pairs.where(F.col("cnt") >= min_count)
            .join(bcast_if_small(c1, df), "w1")
            .join(bcast_if_small(c2, df), "w2")
            .crossJoin(F.broadcast(tot))
            .select("w1", "w2", "cnt", F.round(pmi, 6).alias("pmi"))
            .orderBy(F.desc("pmi"), "w1", "w2")
            .limit(k))


def roc_auc(df: DataFrame, score_col: str, label_col: str,
            ints: bool = False) -> DataFrame:
    """Exact ROC-AUC of a score against binary labels via the
    Mann-Whitney rank statistic — the classifier-quality companion to
    ``score_quality_lr`` (is the quality score actually separating the
    populations the rules flag?).

    AUC = (S_pos - n_pos(n_pos+1)/2) / (n_pos * n_neg) with
    average-rank tie handling.  Everything is computed on the DISTINCT
    SCORE table: one keyed aggregation (score-cardinality-sized after
    map-side combine), a cumulative sum over that table, and a 1-row
    finish.  The numerator is kept as an exact INTEGER in half-rank
    units (2*avg_rank = 2*min_rank + cnt - 1), so the only floating
    point is the final division — exact cross-engine replay.

    The cumulative rank is TWO-LEVEL, never a single-partition pass:
    scores are ranged into 64 sketch-balanced buckets
    (``percentile_approx`` cutoffs — one pass, broadcast; the
    boundaries only choose the partitioning, the math is unchanged),
    the cum-sum windows partition BY bucket, and per-bucket offsets
    come from a 64-row table.  With micro-logit scores the distinct
    table is corpus-sized, so a global-window rank would funnel the
    whole corpus through one task at lake scale.  Returns one row
    (n_pos, n_neg, auc); auc is the raw double of the single final
    division (exact-int numerator and denominator, so it replays
    bit-for-bit); degenerate single-class inputs yield NULL auc."""
    from pyspark.sql.window import Window

    from carbonapi_spark import scratch
    n_buckets = 64
    # the distinct-score table feeds THREE consumers (cutoff sketch,
    # bucket offsets, the ranked sum) — persist unconditionally; it is
    # strictly smaller than the scored input at every scale
    g = scratch.track(
        df.groupBy(F.col(score_col).alias("__s"))
        .agg(F.count(F.lit(1)).alias("__cnt"),
             F.sum(F.col(label_col).cast("long")).alias("__pos")))
    qs = F.array(*[F.lit(i / n_buckets) for i in range(1, n_buckets)])
    cuts = g.agg(F.percentile_approx(F.col("__s").cast("double"), qs,
                                     F.lit(10000)).alias("__cuts"))
    # bucket = #cutoffs strictly below the score: monotone in __s by
    # construction, so within-bucket rank + bucket offset == global rank
    bkt = F.size(F.filter(F.col("__cuts"),
                          lambda t: t < F.col("__s").cast("double")))
    gb = g.crossJoin(F.broadcast(cuts)).select(
        "__s", "__cnt", "__pos", bkt.alias("__bkt"))
    offs = (gb.groupBy("__bkt").agg(F.sum("__cnt").alias("__bn"))
            .select("__bkt",
                    (F.sum("__bn").over(
                        Window.partitionBy().orderBy("__bkt")
                        .rowsBetween(Window.unboundedPreceding,
                                     Window.currentRow))
                     - F.col("__bn")).alias("__off")))
    w = Window.partitionBy("__bkt").orderBy("__s") \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = (F.col("__off") + F.sum("__cnt").over(w) - F.col("__cnt"))
    ranked = (gb.join(F.broadcast(offs), "__bkt")
              .select("__cnt", "__pos",
                      (2 * (cum + 1) + F.col("__cnt") - 1).alias("__r2")))
    agg = ranked.agg(F.sum(F.col("__pos") * F.col("__r2")).alias("__s2"),
                     F.sum("__pos").alias("n_pos"),
                     (F.sum("__cnt") - F.sum("__pos")).alias("n_neg"))
    if ints:
        # Integer-only finish (driver-hash experiment variant): the
        # Mann-Whitney numerator and denominator BEFORE the one IEEE
        # division, both exact int64 — auc == mw_num / mw_den.
        return agg.select(
            "n_pos", "n_neg",
            (F.col("__s2") - F.col("n_pos") * (F.col("n_pos") + 1))
            .alias("mw_num"),
            (2 * F.col("n_pos") * F.col("n_neg")).alias("mw_den"))
    auc = F.when((F.col("n_pos") > 0) & (F.col("n_neg") > 0),
                 (F.col("__s2")
                  - F.col("n_pos") * (F.col("n_pos") + 1))
                 .cast("double")
                 / (2 * F.col("n_pos") * F.col("n_neg")))
    return agg.select("n_pos", "n_neg", auc.alias("auc"))


def calibration_curve(df: DataFrame, score_col: str, label_col: str,
                      n_bins: int = 10) -> DataFrame:
    """Reliability diagram buckets: scores in [0, 1] split into
    ``n_bins`` equal-width bins, each reporting mean predicted
    probability vs the empirical positive rate — the calibration
    companion to ``roc_auc`` (a well-ranked classifier can still be
    badly calibrated, which matters when the score gates a kept-corpus
    budget).

    One keyed aggregation; bin = floor(score * n_bins) clamped so
    score = 1.0 lands in the last bin.  Means are single divisions over
    integer-count denominators, rounded to 6.  Returns
    (bin, n, mean_score, pos_rate)."""
    bin_ = F.least(F.floor(F.col(score_col) * n_bins),
                   F.lit(n_bins - 1)).cast("int")
    return (df.groupBy(bin_.alias("bin"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.avg(F.col(score_col)), 6).alias("mean_score"),
                 F.round(F.avg(F.col(label_col).cast("double")), 6)
                 .alias("pos_rate")))


_SCRIPT_RANGES: tuple[tuple[str, str], ...] = (
    # (name, regex char class) — BMP-only ranges, spelled with explicit
    # \x{....} escapes (valid in BOTH Java regex and RE2, unlike \p{}
    # script classes whose unicode tables drift between engines)
    ("latin", "A-Za-z"),
    ("cyrillic", "\\x{0400}-\\x{04FF}"),
    ("greek", "\\x{0370}-\\x{03FF}"),
    ("arabic", "\\x{0600}-\\x{06FF}"),
    ("devanagari", "\\x{0900}-\\x{097F}"),
    ("cjk", "\\x{4E00}-\\x{9FFF}"),
    ("kana", "\\x{3040}-\\x{30FF}"),
    ("hangul", "\\x{AC00}-\\x{D7AF}"),
)


def script_profile(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """Per-document writing-script histogram + dominant script — the
    multilingual router that decides tokenizer/quality-rule routing
    before any model-based language ID runs (and the sanity check ON
    language ID: a 'german' doc that is 90% CJK is mislabeled).

    One stateless projection: each script's character count is
    ``length(t) - length(regexp_replace(t, class, ''))`` — a count
    DIFFERENCE, so it replays exactly even where engines disagree on
    absolute string length conventions.  Dominant script = max by
    (count, fixed priority) via an ordered struct max — deterministic
    tie-break, no floating point anywhere.  Docs with zero scripted
    chars report 'none'."""
    t = F.col(text_col)
    counts = [
        (name, F.length(t)
         - F.length(F.regexp_replace(t, f"[{cls}]", "")))
        for name, cls in _SCRIPT_RANGES
    ]
    ranked = F.array(*[
        F.struct(c.cast("long").alias("c"),
                 F.lit(-i).alias("pr"),
                 F.lit(name).alias("s"))
        for i, (name, c) in enumerate(counts)])
    best = F.array_max(ranked)
    return df.select(
        F.col(id_col),
        *[c.cast("long").alias(f"n_{name}") for name, c in counts],
        F.when(best["c"] > 0, best["s"]).otherwise(F.lit("none"))
        .alias("dominant"))


LOWER_AZ = "abcdefghijklmnopqrstuvwxyz"


def textrank_keywords(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", k: int = 20,
                      window: int = 2, n_iter: int = 10,
                      damping_pct: int = 85, min_count: int = 3,
                      min_len: int = 4) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau, EMNLP 2004):
    PageRank over the word co-occurrence graph — words voting for the
    words they appear next to — the unsupervised keyphrase baseline for
    corpus exploration and topic labeling.

    Graph: lowercase alpha-only tokens (``translate`` deletion test, no
    regex class to disagree about) of length >= ``min_len``; an edge
    joins words co-occurring within ``window`` positions, weighted by
    co-occurrence count; words below ``min_count`` total occurrences
    are dropped (bounds the graph at the heavy vocabulary).  Update:
    WS(i) = (1-d) + d * sum_j w_ji / wdeg_j * WS(j), ``n_iter`` rounds.

    INTEGER FIXED-POINT power iteration: ranks live in exact micro
    units (1e6), each edge contributes (rank_j * w_ji) div wdeg_j and
    the damping mix is (85 * sum) div 100 — every step is int64
    arithmetic, so the trajectory replays bit-for-bit in SQL with no
    rounding recipe at all (stronger than pagerank's per-iteration
    6-dp rounding: there is no floating point anywhere).

    Scale shape: edges come from per-doc array transforms (zero joins,
    one explode), collapse map-side into the (vocab x window)-bounded
    weight table; each iteration is one vocab-sized join + aggregation
    with the lineage cut per round (the pagerank recipe, including the
    small-graph single-partition collapse).  Returns the top ``k``
    (word, rank_micro, rank), rank DESC, word ASC."""
    toks = F.filter(
        tokens(F.lower(F.col(text_col))),
        lambda t: (F.length(t) >= min_len)
        & (F.length(F.translate(t, LOWER_AZ, "")) == 0))
    arr = df.select(toks.alias("__a"))
    pair_cols = []
    for off in range(1, window + 1):
        pairs = F.when(
            F.size("__a") > off,
            F.transform(F.sequence(F.lit(1), F.size("__a") - off),
                        lambda i: F.struct(
                            F.element_at("__a", i).alias("x"),
                            F.element_at("__a", i + off).alias("y")))
        ).otherwise(F.array())
        pair_cols.append(pairs)
    expl = (arr.select(F.explode(F.flatten(F.array(*pair_cols)))
                       .alias("__p"))
            .select(F.col("__p.x").alias("x"), F.col("__p.y").alias("y"))
            .where(F.col("x") != F.col("y"))
            .select(F.least("x", "y").alias("a"),
                    F.greatest("x", "y").alias("b")))
    wts = expl.groupBy("a", "b").agg(F.count(F.lit(1)).alias("w"))
    vocab = (df.select(F.explode(toks).alias("word"))
             .groupBy("word").agg(F.count(F.lit(1)).alias("__n"))
             .where(F.col("__n") >= min_count)
             .select("word"))
    wts = (wts.join(vocab.withColumnRenamed("word", "a"), "a")
           .join(vocab.withColumnRenamed("word", "b"), "b"))
    und = (wts.select(F.col("a").alias("src"), F.col("b").alias("dst"), "w")
           .unionByName(wts.select(F.col("b").alias("src"),
                                   F.col("a").alias("dst"), "w")))
    # the whole edge pipeline (explode + two vocab joins) must run
    # exactly once: deg, the node count, and every iteration read it
    # (lazy mark — deg.count() right below materializes it)
    und = und.localCheckpoint(eager=False)
    deg = und.groupBy("src").agg(F.sum("w").alias("wdeg"))
    n_nodes = deg.count()
    if n_nodes == 0:
        return _local_df(df.sparkSession, 
            [], "word STRING, rank_micro LONG, rank DOUBLE")
    small = n_nodes < 100_000
    if small:
        und = und.coalesce(1).localCheckpoint(eager=False)
        deg = deg.coalesce(1)
    edges = (und.join(deg, "src")
             .select("src", "dst", "w", "wdeg")
             .localCheckpoint(eager=False))
    base = (100 - damping_pct) * 10_000
    rank = deg.select(F.col("src").alias("word"),
                      F.lit(1_000_000).cast("long").alias("r")) \
        .localCheckpoint(eager=False)
    for _ in range(n_iter):
        # small graphs: broadcast the vocab-sized rank table — BHJ +
        # exchange-free agg over the one-partition edge list (the
        # pagerank r14 recipe; all-integer, order-free)
        rankj = F.broadcast(rank) if small else rank
        contrib = (edges.join(rankj, edges["src"] == rankj["word"])
                   .select(F.col("dst").alias("word"),
                           F.expr("(r * w) div wdeg").alias("__c"))
                   .groupBy("word").agg(F.sum("__c").alias("__s")))
        # lazy cut every round — plan truncated now, materialization of
        # the whole chain rides the single final action (r14)
        rank = contrib.select(
            "word",
            (F.lit(base) + F.expr(f"({damping_pct} * __s) div 100"))
            .cast("long").alias("r")).localCheckpoint(eager=False)
    return (rank.orderBy(F.desc("r"), "word").limit(k)
            .select("word", F.col("r").alias("rank_micro"),
                    F.round(F.col("r") / 1e6, 6).alias("rank")))


def isotonic_calibration(df: DataFrame, score_col: str, label_col: str,
                         n_bins: int = 10) -> DataFrame:
    """Monotone (isotonic) calibration of a score against binary labels
    via pool-adjacent-violators over equal-width score bins — the
    post-hoc calibrator that turns a well-RANKED quality score into a
    usable probability (``calibration_curve`` only DIAGNOSES
    miscalibration; this fits the monotone correction).

    PAV runs on the bin table (one corpus-sized keyed aggregation, then
    ``n_bins`` rows on the driver — the k-means economy) with EXACT
    INTEGER violation tests: pool p/n is 'greater than' q/m iff
    p*m > q*n, so no float ever decides a merge and the fit replays
    bit-for-bit (the isotonic solution is unique, so the oracle's
    repeated-leftmost-merge and the stack PAV below land on identical
    blocks).  Returns per input bin: (bin, n, pos, raw_rate, iso_rate)
    — iso_rate is its pooled block's rate, non-decreasing in bin."""
    bin_ = F.least(F.floor(F.col(score_col) * n_bins),
                   F.lit(n_bins - 1)).cast("int")
    counts = (df.groupBy(bin_.alias("bin"))
              .agg(F.count(F.lit(1)).alias("n"),
                   F.sum(F.col(label_col).cast("long")).alias("pos"))
              .collect())
    rows = sorted((r["bin"], int(r["n"]), int(r["pos"])) for r in counts)
    # stack PAV: pools carry (n, pos, [bins]); merge while the previous
    # pool's rate exceeds the new one's (non-decreasing fit)
    stack: list[list] = []
    for b, n, pos in rows:
        stack.append([n, pos, [b]])
        while len(stack) >= 2 and \
                stack[-2][1] * stack[-1][0] > stack[-1][1] * stack[-2][0]:
            n2, p2, b2 = stack.pop()
            stack[-1][0] += n2
            stack[-1][1] += p2
            stack[-1][2].extend(b2)
    out = []
    raw = {b: (n, pos) for b, n, pos in rows}
    for n, pos, bs in stack:
        for b in bs:
            rn, rp = raw[b]
            out.append((b, rn, rp, float(rp) / float(rn),
                        float(pos) / float(n)))
    spark = df.sparkSession
    # rates ship RAW: each is one IEEE division of exact int64 counts
    # (bit-identical cross-engine); rounding would reintroduce the
    # convention seam on dyadic boundaries like pos/n = 1/128
    res = _local_df(spark, 
        sorted(out), "bin INT, n LONG, pos LONG, raw_rate DOUBLE, "
                     "iso_rate DOUBLE")
    return res.orderBy("bin")
