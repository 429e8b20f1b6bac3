"""Deduplication for training corpora: exact, MinHash+LSH, SimHash,
n-gram Jaccard.

Scale shape:
- exact: one hash aggregation on the content key (map-side combine),
- MinHash/LSH: shingle -> K minhashes -> B bands -> groupBy(band signature)
  bucket join; candidate pairs are verified with exact Jaccard. Only
  same-bucket pairs are compared, so the quadratic blowup is bounded by
  bucket sizes — the standard way to near-dedup billions of docs.

Hashes are portable polynomial hashes (no engine-internal hash()), so an
external oracle can reproduce the exact-dup results; MinHash parameters are
deterministic (seeded affine permutations over a Mersenne prime).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

from carbonapi_spark.datapipe import (local_df, read_small_table,
                                      write_small_table)

from carbonapi_spark.datapipe.text import tokens, _poly_hash

# 31-bit Mersenne prime: keeps (a*h + b) inside int64 under ANSI mode
MERSENNE = (1 << 31) - 1


def exact_dedup(df: DataFrame, key_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """One row per distinct content: keeper id + duplicate count."""
    return (df.groupBy(key_col)
            .agg(F.min(id_col).alias("keeper_id"),
                 F.count(F.lit(1)).alias("n_copies"))
            .select("keeper_id", "n_copies"))


def normalize_text(text: Column) -> Column:
    """Dedup-normalized text: lowercase, strip non-alphanumerics (keeping
    spaces), collapse whitespace runs, trim.  The standard "exact dedup
    after normalization" key (RefinedWeb Falcon pipeline, Penedo et al.
    2023 §3.4 describe dropping exact duplicates after similar
    lowercase/punctuation normalization): catches re-encodings,
    punctuation variants and whitespace reflows that byte-exact dedup
    misses, without any near-dup machinery."""
    cleaned = F.regexp_replace(F.lower(text),
                               r"[^a-z0-9 \t\n\x0B\f\r]", "")
    return F.trim(F.regexp_replace(cleaned, r"[ \t\n\x0B\f\r]+", " "))


def normalized_dedup(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """``exact_dedup`` on the normalized key: one row per distinct
    normalized content with the min-id keeper and the copy count.  The
    normalization is a stateless codegen'd projection, so the physical
    plan is identical to exact dedup — one hash aggregation keyed on the
    (normalized) text, map-side combined.  At 100 TB the shuffle carries
    the normalized text exactly like ``exact_dedup`` carries the raw
    text; swap the key for a 128-bit hash pair (as
    ``remove_duplicate_spans`` does) if the value bytes ever dominate."""
    return exact_dedup(df.select(F.col(id_col),
                                 normalize_text(F.col(text_col))
                                 .alias("__norm")),
                       key_col="__norm", id_col=id_col)


def _pair_explode(ids_col: str = "ids") -> str:
    """``a < b`` pair generation from a SORTED bucket member list — the
    one definition of the in-bucket pairwise explode (shared-shingle
    edges, MinHash banding, the LSH-eval intersection counts).  Callers
    must bound the member list first (the sorted-prefix ``max_bucket``
    slice, or an inherently bounded sample): the explode is quadratic
    in the bucket by construction."""
    return (f"""explode(flatten(transform(sequence(1, size({ids_col}) - 1),
             i -> transform(slice({ids_col}, i + 1, size({ids_col}) - i),
                            x -> struct(element_at({ids_col}, i) as id_a,
                                        x as id_b))))) as p""")


def shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of the lowercased token stream.

    Built as n shifted slices of the token array folded with ``zip_with``
    (``text.word_ngrams``) — O(k) per doc, vs the O(k^2) of per-index
    ``slice`` inside a ``transform``."""
    from carbonapi_spark.datapipe.text import word_ngrams
    return F.array_distinct(word_ngrams(text, n))


def shared_shingle_pairs(docs: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id", ngram: int = 5,
                         max_bucket: int = 2000) -> DataFrame:
    """Exact near-dup candidate pairs: docs sharing any word ``ngram``.

    Same bucket-pair shape as ``minhash_lsh_candidates`` (one shingle
    pass, ONE groupBy(gram) shuffle, in-bucket pair HOFs, deterministic
    ``max_bucket`` truncation) — not a self-join, which would evaluate
    the shingle pipeline twice and shuffle full gram strings on both
    sides. Feed the result to ``cluster.connected_components``."""
    from carbonapi_spark.datapipe import spread
    docs = spread(docs, min_bytes=256 << 10)
    sh = docs.select(F.col(id_col).alias("__id"),
                     F.explode(shingles(F.col(text_col), ngram))
                     .alias("__g"))
    buckets = (sh.groupBy("__g")
               .agg(F.expr(f"slice(sort_array(collect_list(__id)), 1, "
                           f"{max_bucket})").alias("ids"))
               .where(F.size("ids") > 1))
    return (buckets.selectExpr(
        _pair_explode())
        .select("p.id_a", "p.id_b").distinct())


def contamination(docs: DataFrame, benchmark: DataFrame,
                  text_col: str = "text", ngram: int = 3) -> DataFrame:
    """Benchmark-contamination check: which training docs share any word
    n-gram with a held-out benchmark set (the standard train/test overlap
    audit, e.g. GPT-3 appendix C / PaLM sec. 8 style).

    Returns (doc_id, n_hits) for contaminated docs only; n_hits = number
    of distinct shared n-grams. The benchmark n-gram set is deduplicated
    and broadcast — the 100 TB training side streams past it with no
    shuffle of the corpus itself."""
    from carbonapi_spark.datapipe import spread
    docs = spread(docs, min_bytes=256 << 10)
    bench_grams = (benchmark
                   .select(F.explode(shingles(F.col(text_col), ngram))
                           .alias("__g"))
                   .distinct())
    train_grams = docs.select(
        "doc_id", F.explode(shingles(F.col(text_col), ngram)).alias("__g"))
    # per-doc shingles are already distinct, so count(*) = distinct hits
    return (train_grams.join(F.broadcast(bench_grams), "__g")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_hits")))


def _affine_params(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for h_i(x) = (a*x + b) mod p."""
    import random
    rng = random.Random(seed)
    return [(rng.randrange(1, MERSENNE), rng.randrange(0, MERSENNE))
            for _ in range(num_hashes)]


def minhash_signature(text: Column, num_hashes: int = 16,
                      ngram: int = 3, seed: int = 42) -> Column:
    """ARRAY<BIGINT> of minhashes over the shingle set.

    Base hash is xxhash64 (native, codegen'd) folded into [0, p); the K
    permutations are affine maps evaluated with array HOFs — one pass over
    the shingle array per permutation, no Python."""
    sh = shingles(text, ngram)
    base = F.transform(sh, lambda s: ((F.xxhash64(s) % MERSENNE) + MERSENNE) % MERSENNE)
    params = _affine_params(num_hashes, seed)
    sigs = [
        F.coalesce(
            F.array_min(F.transform(base, lambda h: (h * a + b) % MERSENNE)),
            F.lit(MERSENNE))
        for (a, b) in params
    ]
    return F.array(*sigs)


def minhash_signatures_df(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id", num_hashes: int = 16,
                          ngram: int = 3, seed: int = 42) -> DataFrame:
    """(__id, __sig ARRAY<BIGINT>) via the scale-correct physical shape:
    explode shingles to rows -> xxhash64 per row (whole-stage codegen) ->
    one hash aggregation computing all K permutation minima with map-side
    partial agg. Beats per-row array-HOF evaluation ~20x and is the shape
    that survives 100 TB (shuffle key = doc id, combiner-reduced)."""
    from carbonapi_spark.datapipe import spread
    df = spread(df, min_bytes=256 << 10)
    # explode_outer keeps zero-shingle docs as a NULL row: min() skips it,
    # coalesce supplies the degenerate signature — one pass, no anti-join.
    # Expressions are built as single SQL strings: one parse round-trip
    # instead of a py4j call per Column op (~0.5s less driver time).
    p = MERSENNE
    exploded = (df.select(F.col(id_col).alias("__id"),
                          F.explode_outer(shingles(F.col(text_col), ngram))
                          .alias("__s"))
                .selectExpr("__id",
                            f"if(__s is not null,"
                            f" ((xxhash64(__s) % {p}L) + {p}L) % {p}L,"
                            f" null) as __h"))
    params = _affine_params(num_hashes, seed)
    aggs = [F.expr(f"coalesce(min((__h * {a}L + {b}L) % {p}L), {p}L)")
            .alias(f"__m{i}") for i, (a, b) in enumerate(params)]
    per_doc = exploded.groupBy("__id").agg(*aggs)
    return per_doc.selectExpr(
        "__id",
        "array(" + ",".join(f"__m{i}" for i in range(num_hashes)) + ") as __sig")


def _validated_sigs(sigs: DataFrame, num_hashes: int) -> DataFrame:
    """Guard a caller-supplied signature table: banding/estimation derive
    component counts from ``num_hashes``, so a ``sigs`` built with a
    different K would silently produce wrong candidates/estimates.  The
    length check runs per row inside codegen (one ``size()`` branch) and
    fails fast with a clear error instead.  A mismatched SEED is not
    structurally detectable — that invariant stays on the caller (the
    signature table must come from ``minhash_signatures_df`` with the
    same (num_hashes, ngram, seed))."""
    return sigs.withColumn(
        "__sig",
        F.expr(f"if(size(__sig) = {num_hashes}, __sig, "
               f"raise_error(concat('sigs= table has ', size(__sig), "
               f"'-component signatures but num_hashes={num_hashes}; "
               f"rebuild the signature table with matching parameters')))"))


def minhash_lsh_candidates(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id", num_hashes: int = 16,
                           bands: int = 4, ngram: int = 3,
                           seed: int = 42,
                           max_bucket: int = 2000,
                           sigs: DataFrame | None = None) -> DataFrame:
    """Candidate near-duplicate pairs via banded LSH: docs sharing any band
    signature. Returns (id_a, id_b) with id_a < id_b, distinct.

    Physical shape: ONE hash aggregation on (band, key) collecting bucket
    members, then in-bucket pair generation with array HOFs — the signature
    pipeline is computed once and shuffled once, vs twice for a self-join.
    Buckets larger than ``max_bucket`` are truncated (sorted, so the kept
    prefix is deterministic): a bucket of s docs emits s^2/2 pairs, and an
    adversarial all-identical corpus would otherwise OOM a single task;
    truncated duplicates still pair with the bucket's retained members.

    Pass a precomputed (and ideally persisted) ``sigs`` table — the
    ``minhash_signatures_df`` output — to share one signature pipeline
    across candidates + downstream estimation/verification stages."""
    rows = num_hashes // bands
    sig = (_validated_sigs(sigs, num_hashes) if sigs is not None
           else minhash_signatures_df(df, text_col, id_col, num_hashes,
                                      ngram, seed))
    banded = sig.selectExpr(
        "__id",
        f"""explode(transform(sequence(0, {bands - 1}),
              b -> struct(b as band,
                          array_join(cast(slice(__sig, b * {rows} + 1, {rows})
                                          as array<string>), ',') as key)))
            as bk""").selectExpr("__id", "bk.band as band", "bk.key as key")
    buckets = (banded.groupBy("band", "key")
               .agg(F.expr(f"slice(sort_array(collect_list(__id)), 1, {max_bucket})")
                    .alias("ids"))
               .where(F.size("ids") > 1))
    return (buckets.selectExpr(
        _pair_explode())
        .select("p.id_a", "p.id_b").distinct())


def jaccard_verify(df: DataFrame, pairs: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id", ngram: int = 3,
                   threshold: float = 0.8) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs; keeps pairs >= threshold.

    Shingles are only computed for docs that appear in a candidate pair
    (semi-join first): candidates are a vanishing fraction of the corpus,
    so this skips re-shingling almost everything. ``pairs`` is referenced
    twice (ids + the verify join), so it is persisted — via the
    request-scoped scratch registry, so the request boundary frees the
    blocks (a bare persist would leak one CacheManager entry per call).
    It is the candidate table, small by construction at any corpus
    scale."""
    from carbonapi_spark import scratch
    pairs = scratch.track(pairs)
    ids = (pairs.select(F.explode(F.array("id_a", "id_b")).alias(id_col))
           .distinct())
    # sh feeds BOTH sides of the verify join — persist the (small,
    # pair-doc-scoped) shingle sets so the semi-join + shingling pipeline
    # runs once, not twice
    sh = scratch.track(
        df.join(ids, id_col, "left_semi")
        .select(F.col(id_col).alias("__id"),
                shingles(F.col(text_col), ngram).alias("__sh")))
    j = (pairs
         .join(sh.withColumnRenamed("__id", "id_a").withColumnRenamed("__sh", "sh_a"), "id_a")
         .join(sh.withColumnRenamed("__id", "id_b").withColumnRenamed("__sh", "sh_b"), "id_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return (j.select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
            .where(F.col("jaccard") >= threshold))


def minhash_estimate(df: DataFrame, pairs: DataFrame,
                     text_col: str = "text", id_col: str = "doc_id",
                     num_hashes: int = 16, ngram: int = 3,
                     seed: int = 42,
                     sigs: DataFrame | None = None) -> DataFrame:
    """Estimated Jaccard for candidate pairs from MinHash signature
    agreement: est = (#agreeing components) / K, an unbiased estimator
    of the true Jaccard (Broder, "On the resemblance and containment of
    documents", 1997). The cheap middle ground between raw LSH
    candidates and exact ``jaccard_verify``: ranking/filtering on est
    needs only the K-long signatures — no re-shingling, no
    array_intersect over full shingle sets — so the per-pair cost is K
    comparisons instead of O(|shingles|).

    Same semi-join economy as ``jaccard_verify``: signatures are
    computed only for docs appearing in a pair. Returns
    (id_a, id_b, est_jaccard).

    When the candidates were just generated from the same corpus (the
    common composition), pass the persisted signature table as ``sigs``
    — the whole point of estimating from signatures is that they already
    exist; recomputing them (one full explode + K-min aggregation over
    the pair docs) would double the heaviest stage of the pipeline."""
    from carbonapi_spark import scratch
    pairs = scratch.track(pairs)
    if sigs is not None:
        sig = _validated_sigs(sigs, num_hashes)
    else:
        ids = (pairs.select(F.explode(F.array("id_a", "id_b"))
                    .alias(id_col)).distinct())
        # signatures feed both join sides — persist the pair-doc-scoped
        # table
        sig = scratch.track(
            minhash_signatures_df(df.join(ids, id_col, "left_semi"),
                                  text_col, id_col, num_hashes, ngram,
                                  seed))
    a = sig.withColumnRenamed("__id", "id_a").withColumnRenamed("__sig",
                                                                "__sa")
    b = sig.withColumnRenamed("__id", "id_b").withColumnRenamed("__sig",
                                                                "__sb")
    agree = F.aggregate(
        F.zip_with("__sa", "__sb",
                   lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0), lambda acc, v: acc + v)
    return (pairs.join(a, "id_a").join(b, "id_b")
            .select("id_a", "id_b",
                    F.round(agree.cast("double") / num_hashes, 6)
                    .alias("est_jaccard")))


def simhash(text: Column, bits: int = 64) -> Column:
    """SimHash of the token stream: sign-sum of per-token hash bits.

    Bit i of the result = 1 iff sum over tokens of (+1 if bit i of
    xxhash64(token) is set else -1) > 0. Bits are sampled from the RAW
    64-bit hash (an earlier revision folded hashes mod 2^31-1 first, which
    zeroed bits 31-63 and collapsed the sketch to 31 bits). Hamming
    distance between simhashes approximates cosine similarity of the
    bag-of-words vectors."""
    toks = tokens(F.lower(text))
    th = F.transform(toks, lambda t: F.xxhash64(t))
    one = F.lit(1).cast("long")
    idx = F.sequence(F.lit(0), F.lit(bits - 1))
    bit_sums = F.transform(
        idx,
        lambda i: F.aggregate(
            th, F.lit(0),
            lambda acc, h: acc + F.when(F.getbit(h, i) == 1, 1).otherwise(-1)))
    # shiftleft(1L, i) sets bit i without the double-pow detour (pow(2, 63)
    # does not round-trip through double); the Python shiftleft wrapper only
    # takes int literals, so call the SQL function with a column arg
    return F.aggregate(
        F.zip_with(bit_sums, idx,
                   lambda s, i: F.when(s > 0, F.call_function("shiftleft", one, i))
                   .otherwise(F.lit(0).cast("long"))),
        F.lit(0).cast("long"), lambda acc, x: acc.bitwiseOR(x))


def simhash_pairs(docs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", bits: int = 64, bands: int = 4,
                  max_hamming: int = 3) -> DataFrame:
    """Near-duplicate pairs via SimHash banding + Hamming verify.

    Candidates = pairs agreeing exactly on at least one of ``bands``
    bit-bands of the sketch (a bucket equi-join on (band, band_bits) — the
    same 100 TB shape as MinHash-LSH, never all-pairs). For
    ``max_hamming < bands`` the banding is LOSSLESS by pigeonhole: fewer
    than ``bands`` differing bits cannot touch every band, so every
    qualifying pair shares an identical band and is found. Degenerate
    corpora (e.g. many empty documents all sketching to 0) concentrate one
    bucket; drop or pre-dedup empty text upstream at scale."""
    assert bits % bands == 0
    assert max_hamming < bands, \
        "banding is only lossless for max_hamming < bands"
    width = bits // bands
    mask = (1 << width) - 1
    sh = simhash_df(docs, text_col, id_col, bits)
    band_structs = F.array(*[
        F.struct(F.lit(i).alias("band"),
                 F.expr(f"shiftrightunsigned(simhash, {i * width}) & {mask}L")
                 .alias("key"))
        for i in range(bands)])
    bn = (sh.select(F.col(id_col), F.col("simhash"),
                    F.explode(band_structs).alias("b"))
          .select(F.col(id_col), "simhash", F.col("b.band"), F.col("b.key")))
    a = bn.select(F.col(id_col).alias("id_a"),
                  F.col("simhash").alias("__ha"), "band", "key")
    b = bn.select(F.col(id_col).alias("id_b"),
                  F.col("simhash").alias("__hb"), "band", "key")
    return (a.join(b, ["band", "key"])
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b",
                    F.expr("cast(bit_count(__ha ^ __hb) as int)")
                    .alias("hamming"))
            .where(F.col("hamming") <= max_hamming)
            .distinct())  # a pair may agree on several bands


def simhash_df(df: DataFrame, text_col: str = "text",
               id_col: str = "doc_id", bits: int = 64,
               out_col: str = "simhash") -> DataFrame:
    """(id, simhash) via the scale-correct physical shape: explode tokens
    to rows -> xxhash64 per row (whole-stage codegen) -> ONE hash
    aggregation with map-side combine. Same sketch as :func:`simhash`
    (bit i set iff #tokens with hash bit i set exceeds those without) but
    far faster: the array-HOF form evaluates interpreted lambdas per
    element, and this is the shape that survives a 100 TB corpus (shuffle
    key = doc id, combiner-reduced).

    The per-bit one-counts are packed 3-per-long (21-bit fields at
    positions 0/21/42): sum of ``(h >>> i) & (1 | 1<<21 | 1<<42)``
    accumulates bits i, i+21, i+42 at once, so the aggregate needs 22
    sums instead of 64, and the largest accumulated field
    ((2^21-1) * 2^42) stays inside a signed long, so ANSI mode cannot
    overflow. Field width bounds a doc at 2^21-1 (~2M) tokens — split
    longer docs upstream (chunking is standard for near-dup sketches
    anyway)."""
    from carbonapi_spark.datapipe.text import tokens
    assert 0 < bits <= 64
    mask = 1 | (1 << 21) | (1 << 42)
    exploded = (df.select(F.col(id_col),
                          F.explode_outer(tokens(F.lower(F.col(text_col))))
                          .alias("__t"))
                .selectExpr(id_col,
                            "if(__t is not null, xxhash64(__t), null) as __h"))

    def _field(b: int) -> tuple[int, int]:
        # bit b lives in field j of packed sum i (b = i + 21*j, i <= 21)
        return (21, 2) if b == 63 else (b % 21, b // 21)

    shifts = sorted({_field(b)[0] for b in range(bits)})
    aggs = [F.expr(f"sum(shiftrightunsigned(__h, {i}) & {mask}L)")
            .alias(f"__p{i}") for i in shifts]
    per_doc = exploded.groupBy(id_col).agg(
        F.expr("count(__h)").alias("__n"), *aggs)
    # ones-count for bit b is a 21-bit field of __p{i}; sign-sum > 0 iff
    # 2*ones > n_tokens
    def _bit(b: int) -> str:
        i, j = _field(b)
        return (f"if(2 * (shiftrightunsigned(__p{i}, {21 * j}) & 2097151L)"
                f" > __n, shiftleft(cast(1 as bigint), {b}),"
                f" cast(0 as bigint))")

    combined = " | ".join(_bit(b) for b in range(bits))
    return per_doc.selectExpr(id_col, f"({combined}) as {out_col}")


def remove_duplicate_spans(df: DataFrame, k: int = 50,
                           text_col: str = "text", id_col: str = "doc_id",
                           min_count: int = 2) -> DataFrame:
    """Exact-substring deduplication (Lee et al., "Deduplicating Training
    Data Makes Language Models Better", ACL 2022): any token span of
    >= ``k`` tokens that occurs >= ``min_count`` times in the corpus
    (across documents or within one) is removed from EVERY document;
    survivors are reassembled in order (whitespace normalized to single
    spaces), and fully-duplicated documents vanish.

    The paper builds a suffix array; the distributed-friendly equivalent
    is k-gram marking: every duplicated >= k-token span necessarily
    contains a duplicated k-gram, so (1) hash every k-token window
    (sliding window over one doc-partitioned sort — the rolling-hash
    pass), (2) count k-gram hashes corpus-wide (8-byte keys, map-side
    combined), (3) a token is covered iff some duplicated k-gram starts
    within the previous k-1 positions (one more window over the same
    doc partitioning), (4) drop covered tokens and reassemble. Spans
    shorter than k survive — k IS the paper's minimum-match length.

    Shuffle economy: token rows shuffle once by doc (both windows and
    the final reassembly reuse that partitioning; Catalyst plans them
    without re-exchanging), plus one count shuffle on the 16-byte gram
    hash pair and the flag join back. A zero-token-shuffle alternative
    (per-doc array HOFs: transform+slice gram hashing, exists-based
    rebuild) measured 2.5x SLOWER at 500k docs (66 s vs 26 s) — higher-
    order functions evaluate interpreted per element, while the window
    execs run on the optimized path; the window formulation wins despite
    the extra exchange."""
    from pyspark.sql.window import Window

    from carbonapi_spark.datapipe import spread
    from carbonapi_spark.datapipe.text import tokens
    df = spread(df)
    t = df.select(F.col(id_col),
                  F.posexplode(tokens(F.col(text_col))).alias("pos", "tok"))
    wg = Window.partitionBy(id_col).orderBy("pos").rowsBetween(0, k - 1)
    # The gram key is a PAIR of independently-seeded xxhash64s (128 bits):
    # with a single 64-bit key, birthday collisions at corpus scale
    # (~1e12 grams => tens of thousands of expected collisions) would
    # silently erase never-duplicated spans; at 128 bits the expectation
    # is ~1e-14. The gram string itself is still never shuffled — only
    # the 16-byte key pair.
    grams = (t.select(
        id_col, "pos", "tok",
        F.when(F.count("tok").over(wg) == k,
               F.concat_ws(" ", F.collect_list("tok").over(wg)))
        .alias("__g"))
        .select(id_col, "pos", "tok",
                F.when(F.col("__g").isNotNull(),
                       F.xxhash64("__g")).alias("__h"),
                F.when(F.col("__g").isNotNull(),
                       F.xxhash64(F.lit(0x9E3779B9), F.col("__g")))
                .alias("__h2")))
    dup = (grams.where(F.col("__h").isNotNull())
           .groupBy("__h", "__h2").agg(F.count(F.lit(1)).alias("__n"))
           .where(F.col("__n") >= min_count).select("__h", "__h2"))
    flagged = (grams.join(dup.withColumn("__dup", F.lit(1)),
                          ["__h", "__h2"], "left")
               .select(id_col, "pos", "tok",
                       F.coalesce("__dup", F.lit(0)).alias("__dup")))
    wc = Window.partitionBy(id_col).orderBy("pos").rowsBetween(-(k - 1), 0)
    kept = (flagged
            .withColumn("__covered", F.max("__dup").over(wc))
            .where(F.col("__covered") == 0))
    return (kept.groupBy(id_col)
            .agg(F.array_join(
                F.transform(F.array_sort(F.collect_list(
                    F.struct("pos", "tok"))), lambda s: s["tok"]),
                " ").alias(text_col)))


def minhash_band_index(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", num_hashes: int = 16,
                       bands: int = 4, ngram: int = 3,
                       seed: int = 42) -> DataFrame:
    """(band, key, doc_id) LSH bucket-membership index for a corpus —
    the persisted artifact incremental dedup joins against. Write it
    partitioned/bucketed by (band, key) once; each delta batch then
    probes it without touching the corpus text again."""
    rows = num_hashes // bands
    sig = minhash_signatures_df(df, text_col, id_col, num_hashes, ngram,
                                seed)
    return sig.selectExpr(
        "__id as doc_id",
        f"""explode(transform(sequence(0, {bands - 1}),
              b -> struct(b as band,
                          array_join(cast(slice(__sig, b * {rows} + 1, {rows})
                                          as array<string>), ',') as key)))
            as bk""").selectExpr("bk.band as band", "bk.key as key",
                                 "doc_id")


def minhash_incremental_candidates(new_docs: DataFrame, index: DataFrame,
                                   text_col: str = "text",
                                   id_col: str = "doc_id",
                                   num_hashes: int = 16, bands: int = 4,
                                   ngram: int = 3, seed: int = 42,
                                   max_bucket: int = 2000,
                                   new_idx: DataFrame | None = None) -> DataFrame:
    """Incremental near-dup candidates: a delta batch against an existing
    corpus index (``minhash_band_index``), WITHOUT re-processing the
    corpus — the daily-update shape of a production dedup pipeline.
    Returns (id_a, id_b) with id_a from the index side (or the smaller
    delta id), covering delta-vs-corpus AND delta-vs-delta pairs.

    Scale shape: only the delta is shingled/hashed; the corpus side is a
    left-semi probe of the index on the (band, key) keys the delta
    touches — broadcast, delta-sized, so a (band, key)-bucketed index
    table serves it without a corpus-side shuffle. Bucket membership for
    touched buckets is then index-members UNION delta-members, truncated
    with the SAME sorted-prefix ``max_bucket`` rule as the batch path
    (an earlier revision capped only the delta-vs-delta side, so a hot
    bucket could blow up the corpus join and the result diverged from
    batch truncation). Same parameters => candidates EXACTLY equal what
    a full re-run of ``minhash_lsh_candidates`` on corpus+delta would
    emit for pairs involving a delta doc, including truncation
    (property-tested in ``tests/test_datapipe.py``)."""
    from carbonapi_spark import scratch
    # new_idx feeds the broadcast key probe AND the members union —
    # persist so the delta's shingle+minhash+banding pipeline runs once
    # (the docstring's "only the delta is shingled" economy); a caller
    # that already banded the delta (probe_band_index derives its
    # partition-pruning keys from it) passes it in via ``new_idx=`` so
    # the pipeline is not built twice (r14)
    if new_idx is None:
        new_idx = scratch.track(
            minhash_band_index(new_docs, text_col, id_col, num_hashes,
                               bands, ngram, seed))
    touched = index.join(
        F.broadcast(new_idx.select("band", "key").distinct()),
        ["band", "key"], "left_semi")
    members = (touched.select("band", "key", "doc_id")
               .withColumn("nw", F.lit(0))
               .unionByName(new_idx.select("band", "key", "doc_id")
                            .withColumn("nw", F.lit(1))))
    buckets = (members.groupBy("band", "key")
               .agg(F.expr(f"slice(array_sort(collect_list("
                           f"struct(doc_id, nw))), 1, {max_bucket})")
                    .alias("ms"))
               .where(F.size("ms") > 1))
    # in-bucket pairs, keeping only those touching a delta doc (nn > 0);
    # id_a != id_b drops the self-pair a doc re-ingested under an id
    # already present in the index would otherwise emit (the member list
    # then holds that id once per side)
    return (buckets.selectExpr(
        """explode(flatten(transform(sequence(1, size(ms) - 1),
             i -> filter(transform(slice(ms, i + 1, size(ms) - i),
                    x -> struct(element_at(ms, i).doc_id as id_a,
                                x.doc_id as id_b,
                                element_at(ms, i).nw + x.nw as nn)),
                  p -> p.nn > 0 and p.id_a != p.id_b)))) as p""")
        .select("p.id_a", "p.id_b").distinct())


def lsh_candidate_probability(s: float, bands: int, rows: int) -> float:
    """P[candidate] for a pair with true Jaccard ``s`` under (b, r)
    banding: 1 - (1 - s^r)^b — the S-curve every LSH textbook plots."""
    return 1.0 - (1.0 - s ** rows) ** bands


def minhash_band_plan(num_hashes: int, threshold: float
                      ) -> tuple[int, int, float]:
    """(bands, rows, curve_threshold) for a target Jaccard ``threshold``:
    among the divisors of ``num_hashes``, pick the banding whose S-curve
    midpoint ``(1/b)^(1/r)`` lands closest to the target (Leskovec/
    Rajaraman/Ullman, Mining of Massive Datasets §3.4.3 — steeper curves
    need more hashes, this picks the best achievable with K).

    Driver-side arithmetic only; feed the result straight into
    ``minhash_lsh_candidates(num_hashes=K, bands=b)``.  Raising K
    tightens the curve; at K=16 the achievable midpoints are coarse
    ({0.0625, 0.354, 0.707, 0.917, 1.0}), which is why production dedup
    runs K=128+ (RefinedWeb: 9000 hashes, 450 bands x 20 rows)."""
    if not 0 < threshold < 1:
        raise ValueError("threshold must be in (0, 1)")
    best = None
    for b in range(1, num_hashes + 1):
        if num_hashes % b:
            continue
        r = num_hashes // b
        mid = (1.0 / b) ** (1.0 / r)
        score = abs(mid - threshold)
        if best is None or score < best[0]:
            best = (score, b, r, mid)
    _, b, r, mid = best
    return b, r, round(mid, 6)


def decontaminate_spans(docs: DataFrame, benchmark: DataFrame, k: int = 13,
                        text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """SURGICAL benchmark decontamination: cut every >= ``k``-token span
    of a training document that also appears in the benchmark set, and
    keep the clean remainder — GPT-3's appendix-C recipe (13-gram
    collision removal) executed with the Lee-2022 k-gram marking
    machinery, instead of dropping whole documents and wasting their
    clean 99% (which is what ``contamination`` + a filter would do).

    Same shuffle economy as ``remove_duplicate_spans``: training tokens
    shuffle once by doc; the benchmark side reduces to DISTINCT 128-bit
    gram keys (benchmark-sized, typically broadcast via the size gate)
    joined as a flag; covered tokens (any benchmark gram starting within
    the previous k-1 positions) drop and survivors reassemble in order.
    Documents whose every token is covered vanish — fully-leaked docs."""
    from pyspark.sql.window import Window

    from carbonapi_spark.datapipe import bcast_if_small, spread
    from carbonapi_spark.datapipe.text import tokens
    docs = spread(docs)

    def gram_stream(df: DataFrame, with_tok: bool) -> DataFrame:
        t = df.select(F.col(id_col),
                      F.posexplode(tokens(F.col(text_col)))
                      .alias("pos", "tok"))
        wg = Window.partitionBy(id_col).orderBy("pos").rowsBetween(0, k - 1)
        g = F.when(F.count("tok").over(wg) == k,
                   F.concat_ws(" ", F.collect_list("tok").over(wg)))
        out = t.select(
            id_col, "pos", "tok", g.alias("__g")).select(
            id_col, "pos", "tok",
            F.when(F.col("__g").isNotNull(), F.xxhash64("__g"))
            .alias("__h"),
            F.when(F.col("__g").isNotNull(),
                   F.xxhash64(F.lit(0x9E3779B9), F.col("__g")))
            .alias("__h2"))
        return out if with_tok else out.where(F.col("__h").isNotNull()) \
            .select("__h", "__h2").distinct()

    bkeys = gram_stream(benchmark, with_tok=False) \
        .withColumn("__leak", F.lit(1))
    grams = gram_stream(docs, with_tok=True)
    flagged = (grams.join(bcast_if_small(bkeys, benchmark),
                          ["__h", "__h2"], "left")
               .select(id_col, "pos", "tok",
                       F.coalesce("__leak", F.lit(0)).alias("__leak")))
    wc = Window.partitionBy(id_col).orderBy("pos").rowsBetween(-(k - 1), 0)
    kept = (flagged.withColumn("__covered", F.max("__leak").over(wc))
            .where(F.col("__covered") == 0))
    return (kept.groupBy(id_col)
            .agg(F.array_join(
                F.transform(F.array_sort(F.collect_list(
                    F.struct("pos", "tok"))), lambda s: s["tok"]),
                " ").alias(text_col)))


def lsh_candidate_quality(docs: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id", num_hashes: int = 16,
                          bands: int = 4, ngram: int = 3, seed: int = 42,
                          bins: int = 10, max_bucket: int = 2000,
                          max_sample: int = 5000) -> DataFrame:
    """Empirical LSH S-curve evaluation (MMDS §3.4): for each true-Jaccard
    bin, the fraction of pairs the banded-LSH stage actually surfaced as
    candidates, next to the theoretical capture probability
    ``1 - (1 - s^r)^b`` at the bin midpoint.  The in-engine answer to
    "is my (b, r) banding behaving on MY corpus?" before committing to a
    full dedup run.

    Ground truth is ALL-pairs exact Jaccard — inherently quadratic — so
    this runs on a BOUNDED evaluation sample (the caller pre-slices,
    e.g. ``docs.where(col("doc_id") < 500)``); ``max_sample`` hard-fails
    on unbounded input rather than letting an n^2 computation loose on a
    100 TB corpus.  Within the sample, the quadratic is NEVER paid as
    per-pair array set-ops: intersections come from one shingle explode
    + shared-gram pair counting (only overlapping pairs materialize),
    unions from |A| + |B| - inter, and the zero-overlap mass is derived
    by integer arithmetic from C(n, 2) — measured 3.5 -> 2.1 s end-to-end
    (truth stage ~2x) at a 500-doc sample vs the broadcast all-pairs
    join, and the gap grows quadratically with the sample.  The LSH stage is the production
    ``minhash_lsh_candidates`` pipeline run on the same sample, so the
    measured capture includes every real-world artifact (empty-shingle
    sentinel buckets, ``max_bucket`` truncation, integer bin edges).

    Binning and the theory curve are integer/IEEE-multiplication exact
    (no pow/libm), so the whole report replays bit-for-bit cross-engine:
    bin = (inter * bins) div union (clamped), s = (bin + 0.5) / bins,
    s^r and (1-s^r)^b expanded as repeated multiplication; the driver-
    side merging is pure int arithmetic, and both rates ship as RAW
    doubles (identical op order in the SQL replay — no rounding
    convention in play).

    Returns one row per non-empty bin:
    (bin, n_pairs, n_candidates, capture_rate, theory_capture)."""
    from functools import reduce

    from carbonapi_spark import scratch
    n = docs.count()
    if n > max_sample:
        raise ValueError(
            f"lsh_candidate_quality ground truth is all-pairs (O(n^2)); "
            f"got n={n} > max_sample={max_sample} — pre-slice the input")
    rows = num_hashes // bands
    sh = scratch.track(
        docs.select(F.col(id_col).alias("__id"),
                    shingles(F.col(text_col), ngram).alias("__sh")))
    sizes = sh.select(F.col("__id"), F.size("__sh").cast("long")
                      .alias("__sz"))
    # shared-gram pair counting: grams group -> sorted id list ->
    # pairwise explode -> per-pair count == |A intersect B|; only pairs
    # with at least one shared shingle ever materialize
    grams = sh.select("__id", F.explode("__sh").alias("__g"))
    buckets = (grams.groupBy("__g")
               .agg(F.sort_array(F.collect_list("__id")).alias("ids"))
               .where(F.size("ids") > 1))
    inter = (buckets.selectExpr(
        _pair_explode())
        .groupBy("p.id_a", "p.id_b")
        .agg(F.count(F.lit(1)).alias("inter")))
    cand = (minhash_lsh_candidates(docs, text_col, id_col, num_hashes,
                                   bands, ngram, seed, max_bucket)
            .withColumn("__caught", F.lit(1)))
    wbin = (inter
            .join(cand, ["id_a", "id_b"], "full_outer")
            .join(F.broadcast(sizes.selectExpr("__id as id_a",
                                               "__sz as sza")), "id_a")
            .join(F.broadcast(sizes.selectExpr("__id as id_b",
                                               "__sz as szb")), "id_b")
            .select(
                F.coalesce("inter", F.lit(0)).alias("inter"),
                (F.col("sza") + F.col("szb")
                 - F.coalesce("inter", F.lit(0))).alias("uni"),
                F.coalesce("__caught", F.lit(0)).alias("caught"))
            .select(F.when(F.col("uni") == 0, F.lit(0).cast("long"))
                    .otherwise(F.least(
                        F.expr(f"(inter * {bins}) div uni"),
                        F.lit(bins - 1).cast("long"))).alias("bin"),
                    "caught"))
    got = {int(r["bin"]): (int(r["n_pairs"]), int(r["n_candidates"]))
           for r in (wbin.groupBy("bin")
                     .agg(F.count(F.lit(1)).alias("n_pairs"),
                          F.sum("caught").alias("n_candidates"))
                     .collect())}
    # every pair NOT materialized above has inter == 0 AND was never an
    # LSH candidate (candidates are in the full-outer join) -> bin 0,
    # caught 0; pure integer bookkeeping against C(n, 2)
    rest = n * (n - 1) // 2 - sum(np for np, _ in got.values())
    if rest:
        np0, nc0 = got.get(0, (0, 0))
        got[0] = (np0 + rest, nc0)
    spark = docs.sparkSession
    g = local_df(
        spark, sorted((b, np, nc) for b, (np, nc) in got.items()),
        "bin LONG, n_pairs LONG, n_candidates LONG")
    s = (F.col("bin") + F.lit(0.5)) / F.lit(float(bins))
    s_r = reduce(lambda acc, _: acc * s, range(rows - 1), s)
    q = F.lit(1.0) - s_r
    q_b = reduce(lambda acc, _: acc * q, range(bands - 1), q)
    return g.select(
        "bin", "n_pairs", "n_candidates",
        (F.col("n_candidates").cast("double") / F.col("n_pairs"))
        .alias("capture_rate"),
        (F.lit(1.0) - q_b).alias("theory_capture"))


def write_band_index(df: DataFrame, path: str, text_col: str = "text",
                     id_col: str = "doc_id", num_hashes: int = 16,
                     bands: int = 4, ngram: int = 3, seed: int = 42,
                     n_buckets: int = 64) -> None:
    """Materialize the MinHash band index as a partitioned Parquet
    layout — the dedup sibling of the durable ANN / inverted-text
    indexes:

      ``{path}/bands/band=<b>/bucket=<k>/``  (key, doc_id) rows,
          bucket = pmod(xxhash64(key), n_buckets)
      ``{path}/stats/``  1 row (num_hashes, bands, ngram, seed,
          n_buckets) — the probe refuses mismatched parameters instead
          of silently producing garbage candidates.

    The (band, bucket) partitioning is the probe-time pruning key: a
    delta batch's scan touches only the band/bucket directories its own
    keys hash into (static Catalyst partition pruning on the directory
    columns), so daily incremental dedup reads delta-proportional
    bytes, never the corpus.  Build, append, compaction and deletion
    run through the shared lifecycle helpers of
    :mod:`carbonapi_spark.datapipe.maintenance`."""
    idx = minhash_band_index(df, text_col, id_col, num_hashes, bands,
                             ngram, seed)
    bucketed = idx.withColumn(
        "bucket", F.pmod(F.xxhash64("key"), F.lit(n_buckets)).cast("int"))
    spark = df.sparkSession
    from carbonapi_spark.datapipe.maintenance import (build_index,
                                                      write_partitioned)
    build_index(
        spark, path, ["bands", "stats"],
        lambda: write_partitioned(bucketed, f"{path}/bands",
                                  ["band", "bucket"], bands * n_buckets,
                                  "overwrite"),
        lambda: write_small_table(
            spark, f"{path}/stats",
            [(num_hashes, bands, ngram, seed, n_buckets)],
            "num_hashes INT, bands INT, ngram INT, seed INT, n_buckets INT"))


def append_band_index(df: DataFrame, path: str, text_col: str = "text",
                      id_col: str = "doc_id", l0: bool = False) -> None:
    """Fold a delta batch into a durable band index: the delta is
    banded with the INDEX'S OWN stored parameters and appended into the
    same (band, bucket) layout — the grown index equals a one-shot
    build over corpus+delta (same rows, same partitions).  Refuses
    loudly while a ``_MAINTENANCE`` marker is present.

    ``l0=True`` appends ONE file into the ``bands_l0`` side table
    instead of one into every (band, bucket) combo the delta touches —
    a small delta's keys spread across essentially all of them.  Probes
    read main ∪ L0 and :func:`compact_band_index` folds L0 in: the L0
    protocol of :mod:`carbonapi_spark.datapipe.maintenance`."""
    from carbonapi_spark.datapipe.maintenance import (
        append_delta, assert_not_under_maintenance)
    spark = df.sparkSession
    assert_not_under_maintenance(spark, path, "append_band_index")
    st = read_small_table(spark, f"{path}/stats")[0]
    idx = minhash_band_index(df, text_col, id_col, st["num_hashes"],
                             st["bands"], st["ngram"], st["seed"])
    bucketed = idx.withColumn(
        "bucket",
        F.pmod(F.xxhash64("key"), F.lit(st["n_buckets"])).cast("int"))
    append_delta(bucketed, path, "bands", ["band", "bucket"],
                 st["bands"] * st["n_buckets"], l0)


def compact_band_index(spark, path: str,
                       fragmented_only: bool = False) -> dict:
    """Compact a :func:`write_band_index` artifact: collapse the exact
    (band, key, doc_id) duplicates a retried ``append_band_index`` job
    leaves behind and merge per-append small files back to one per
    (band, bucket) partition, preserving the probe-time pruning layout.
    Duplicates are exact by construction (band parameters are frozen in
    ``{path}/stats``, so a replayed document re-bands identically), and
    they are not merely cosmetic: inflated bucket populations can push
    a bucket past the probe's ``max_bucket`` truncation cap, changing
    candidate sets.  Same modes/caveats as the shared kernel
    (:func:`carbonapi_spark.datapipe.maintenance.compact_partitioned`);
    ``fragmented_only=True`` rewrites only >1-file partitions.  A
    ``bands_l0`` side table is folded in and removed
    (``l0_rows_folded``), per the maintenance module's L0 protocol."""
    from carbonapi_spark.datapipe.maintenance import (compact_with_l0,
                                                      maintenance_lock)
    with maintenance_lock(spark, path, "compact_band_index"):
        return compact_with_l0(spark, path, "bands",
                               ["band", "key", "doc_id"],
                               ["band", "bucket"], fragmented_only)


def delete_from_band_index(spark, path: str, doc_ids,
                           id_col: str = "doc_id") -> dict:
    """Delete documents from a ``write_band_index`` layout — a removed
    document must stop surfacing as a near-dup candidate for future
    deltas.  A document's band rows spread across all ``bands`` and
    arbitrary buckets, so this is an honest full filtered rewrite
    (``delete_rows_partitioned``, doubling as defragmentation); the
    ``stats`` table is parameter-only and unaffected.

    Deleting EVERY document leaves the bands table as a single
    schema-bearing empty placeholder (probes return no candidates);
    appends into an emptied index resume the (band, bucket) layout
    only after a rebuild."""
    from carbonapi_spark.datapipe.maintenance import (
        delete_from_l0, delete_rows_partitioned, ids_frame,
        maintenance_lock, read_index_table, read_l0, table_row_count)
    ids_df = ids_frame(spark, doc_ids, id_col,
                       lambda: read_index_table(spark, f"{path}/bands"),
                       "doc_id")
    with maintenance_lock(spark, path, "delete_from_band_index"):
        n_l0 = delete_from_l0(spark, path, "bands", ids_df, "doc_id")
        stats = delete_rows_partitioned(spark, f"{path}/bands", ids_df,
                                        ["doc_id"], ["band", "bucket"])
        stats["rows_deleted"] += n_l0
        # rows_after from the kernel counts the partitioned table only;
        # include L0 survivors so the stats stay internally consistent
        # when a bands_l0 side table outlives the deletion (ADVICE r14).
        # Footer-based count — zero Spark jobs on local paths.
        l0 = read_l0(spark, path, "bands")
        if l0 is not None:
            stats["rows_after"] += table_row_count(
                spark, f"{path}/bands_l0", l0)
        return stats


def probe_band_index(spark, path: str, new_docs: DataFrame,
                     text_col: str = "text", id_col: str = "doc_id",
                     max_bucket: int = 2000) -> DataFrame:
    """Incremental near-dup candidates for a delta batch against a
    DURABLE band index: band the delta with the index's stored
    parameters, prune the index scan to the delta's (band, bucket)
    partitions (an IN-list on the two directory columns — static
    partition pruning, delta-proportional bytes read), and run the
    exact in-memory incremental semantics
    (:func:`minhash_incremental_candidates`) over the pruned slice.
    Pruning on coarse buckets over-reads only hash-colliding keys; the
    (band, key) equi-join inside discards them, so the result equals
    the un-pruned probe exactly."""
    from carbonapi_spark import scratch
    st = read_small_table(spark, f"{path}/stats")[0]
    # the banded delta feeds the pruning-key collect below AND the
    # incremental-candidate join — persist it (request-scoped) and pass
    # it through ``new_idx=`` so the delta's shingle+minhash+banding
    # pipeline is built and executed ONCE, not twice (r14; at lake
    # scale that pipeline is the whole per-batch encode cost)
    delta_idx = scratch.track(
        minhash_band_index(new_docs, text_col, id_col,
                           st["num_hashes"], st["bands"],
                           st["ngram"], st["seed"]))
    tb = (delta_idx.select(
        "band",
        F.pmod(F.xxhash64("key"), F.lit(st["n_buckets"])).cast("int")
        .alias("bucket")).distinct().collect())
    pairs_lit = [(int(r["band"]), int(r["bucket"])) for r in tb]
    from carbonapi_spark.datapipe.maintenance import read_index_table
    idx = read_index_table(spark, f"{path}/bands")
    n_combos = st["bands"] * st["n_buckets"]
    if not pairs_lit:
        idx = idx.where(F.lit(False))
    elif len(pairs_lit) < n_combos:
        # a vacuous predicate (delta touches every combo) would prune
        # nothing and still pay per-row evaluation of a combo-count
        # literal list — skip it (r14)
        cond = F.struct(F.col("band"), F.col("bucket")).isin(
            *[F.struct(F.lit(b), F.lit(k)) for b, k in pairs_lit])
        idx = idx.where(cond)
    idx = idx.select("band", "key", "doc_id")
    from carbonapi_spark.datapipe.maintenance import read_l0
    l0 = read_l0(spark, path, "bands")
    if l0 is not None:
        # L0 rows carry band/bucket as ordinary columns — the same
        # combo restriction arrives as a pushed-down parquet predicate
        if not pairs_lit:
            l0 = l0.where(F.lit(False))
        elif len(pairs_lit) < n_combos:
            l0 = l0.where(
                F.struct(F.col("band"), F.col("bucket")).isin(
                    *[F.struct(F.lit(b), F.lit(k))
                      for b, k in pairs_lit]))
        idx = idx.unionByName(l0.select("band", "key", "doc_id"))
    return minhash_incremental_candidates(
        new_docs, idx, text_col,
        id_col, st["num_hashes"], st["bands"], st["ngram"], st["seed"],
        max_bucket, new_idx=delta_idx)


def split_leakage(df: DataFrame, val: float = 0.1, test: float = 0.1,
                  threshold: float = 0.2, num_hashes: int = 16,
                  bands: int = 4, ngram: int = 2,
                  text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Near-duplicate pairs that STRADDLE the train/val/test hash
    split — the leakage audit run before training: a val/test document
    with a near-duplicate in train silently inflates every eval number
    (the cross-split cousin of benchmark contamination; Lee et al.
    2022 report exactly this route in C4).

    Composes the banded-MinHash candidate pass + exact Jaccard verify
    with the SPLIT GATE AS AN EXPRESSION (``sampling.split_label``):
    each pair's two splits are derived from its ids in the same
    projection — the corpus-sized assignment table is never built,
    never joined.  Output is pair-sized:
    (id_a, id_b, jaccard, split_a, split_b), cross-split pairs only."""
    from pyspark.sql import functions as F

    from carbonapi_spark.datapipe.sampling import split_label
    pairs = minhash_lsh_candidates(df, text_col=text_col, id_col=id_col,
                                   num_hashes=num_hashes, bands=bands,
                                   ngram=ngram)
    verified = jaccard_verify(df, pairs, text_col=text_col,
                              id_col=id_col, ngram=ngram,
                              threshold=threshold)
    sa = split_label(F.col("id_a"), val, test)
    sb = split_label(F.col("id_b"), val, test)
    return (verified.select("id_a", "id_b", "jaccard",
                            sa.alias("split_a"), sb.alias("split_b"))
            .where(F.col("split_a") != F.col("split_b")))


def fuzzy_pairs(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id", max_dist: int = 3,
                key_len: int = 32, prefix: int = 4,
                max_block: int = 1000) -> DataFrame:
    """Blocked Levenshtein record linkage: near-identical records by
    EDIT DISTANCE over a normalized fixed-length key — the classic
    fuzzy-matching complement to token-set dedup (MinHash sees bags of
    shingles; edit distance sees transpositions/typos in short keys,
    the entity-resolution workhorse).

    Key = first ``key_len`` chars of the lowercased alphanumeric-only
    text (ASCII class, so JVM/UTF-16 vs codepoint semantics and the
    engines' ``levenshtein`` implementations agree exactly).  Blocking
    (Newcombe-style) bounds the quadratic: candidates must share the
    ``prefix``-char block AND a length band of width ``max_dist + 1``
    — the standard recall/cost trade (a typo inside the prefix or a
    band-straddling pair is missed; multi-pass blocking on different
    keys is the production recipe).  Inside a block the pair join is
    capped at ``max_block`` rows per block by ascending id — the same
    hot-bucket bound as the LSH band join, so one degenerate block
    (e.g. the all-empty key) can never go quadratic at lake scale.
    Levenshtein runs ONLY on same-block candidate pairs, JVM-side
    (``F.levenshtein`` is codegen, no Python) and THRESHOLD-BOUNDED:
    the banded DP visits O(len * max_dist) cells instead of O(len^2)
    and bails out early — 29x on the sf0.1 bench (37.1 -> 1.3 s warm) with
    an identical result set (the oracle's unbounded
    ``levenshtein() <= max_dist`` filter proves the equivalence every
    round).

    Returns (id_a, id_b, dist), id_a < id_b, dist <= max_dist."""
    key = F.substring(
        F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]", ""),
        1, key_len)
    blk = F.concat_ws(
        "|", F.substring(F.col("__k"), 1, prefix),
        F.floor(F.length("__k") / (max_dist + 1)).cast("string"))
    keyed = (df.select(F.col(id_col).alias("__id"), key.alias("__k"))
             .select("__id", "__k", blk.alias("__b")))
    # NUMBERED repartition by block BEFORE the window (r15, guide
    # §2.5): the downstream stage's cost is CPU (banded Levenshtein
    # over up to max_block^2/2 pairs per block, evaluated as the BHJ's
    # non-equi condition in the STREAM-side stage), but AQE coalesces
    # post-shuffle partitions by BYTES — the capped keys are tiny, so
    # the whole quadratic stage collapsed onto ~7 tasks of a 32-core
    # host (measured at the 10x corpus: 20.4 s warm, straggler tail).
    # REPARTITION_BY_NUM is exempt from AQE coalescing and SATISFIES
    # the window's clustering requirement, so it replaces (not adds to)
    # the window's ENSURE_REQUIREMENTS exchange; placed after the
    # window it is statically redundant and Catalyst removes it, which
    # is how the coalescing snuck back.  Blocks stay whole — pair
    # semantics and results unchanged (oracle replays the exact pair
    # set).  n clamps to defaultParallelism (scale-adaptive: at lake
    # scale this equals or exceeds the shuffle default).
    n = max(1, keyed.sparkSession.sparkContext.defaultParallelism)
    keyed = keyed.repartition(n, F.col("__b"))
    w = Window.partitionBy("__b").orderBy("__id")
    capped = (keyed.withColumn("__rn", F.row_number().over(w))
              .where(F.col("__rn") <= max_block).drop("__rn"))
    # GRID (triangle-join) decomposition of each block's pair space
    # (r15; the "curse of the last reducer" answer, same family as
    # triangle_count's degree orientation): a capped hot block still
    # put max_block^2/2 banded-DP comparisons in ONE task — a serial
    # floor no partition count can split (measured at the 10x corpus:
    # ~40 equally-hot 499,500-pair blocks, 20.4 s wall on 32 cores;
    # numbered repartition alone only reached ~11 s because the
    # per-block floor remained).  Rows split into G deterministic
    # id-hash groups; the LEFT side of the pair join carries a row
    # into cells (g, v) for v >= g, the RIGHT side into cells (u, g)
    # for u <= g, so an unordered pair with groups (gi, gj) meets in
    # EXACTLY one (min, max) cell — diagonal cells additionally filter
    # id_l < id_r to drop self-pairs and mirror-order duplicates.  The
    # pair SET is bit-identical (ids normalized with least/greatest,
    # Levenshtein is symmetric; equivalence pinned by test + oracle);
    # what changes is only that a block's quadratic work now lands in
    # G(G+1)/2 independently-hashed tasks of ~(max_block/G)^2 pairs.
    # Replication cost: each tiny (id, key, block) row fans out
    # (G+1)/2 ways per side through one exchange — bounded and
    # scale-independent.
    G = 8
    grp = F.pmod(F.xxhash64("__id"), F.lit(G)).cast("int")
    capped = capped.withColumn("__g", grp)
    a = capped.select(F.col("__id").alias("__idl"),
                      F.col("__k").alias("__ka"), "__b",
                      F.col("__g").alias("__u"),
                      F.explode(F.sequence(F.col("__g"), F.lit(G - 1)))
                      .alias("__v"))
    b = capped.select(F.col("__id").alias("__idr"),
                      F.col("__k").alias("__kb"), "__b",
                      F.explode(F.sequence(F.lit(0), F.col("__g")))
                      .alias("__u"),
                      F.col("__g").alias("__v"))
    # the probe side must be partitioned BY CELL or the broadcast hash
    # join evaluates every block's whole grid inside that block's
    # partition and the decomposition buys nothing; numbered again so
    # AQE cannot fold the tiny-bytes/huge-CPU stage
    a = a.repartition(n, F.col("__b"), F.col("__u"), F.col("__v"))
    return (a.join(b, ["__b", "__u", "__v"])
            .where((F.col("__u") < F.col("__v"))
                   | (F.col("__idl") < F.col("__idr")))
            .select(F.least("__idl", "__idr").alias("id_a"),
                    F.greatest("__idl", "__idr").alias("id_b"),
                    F.levenshtein("__ka", "__kb", max_dist).alias("dist"))
            .where(F.col("dist") >= 0))
