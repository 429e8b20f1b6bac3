"""Lexical retrieval over the documents table: BM25 scoring and a
durable, bucket-partitioned inverted index.

The complement of ``similarity.py``'s dense ANN stack: BM25 (Robertson &
Walker's Okapi weighting, the scoring function behind Lucene/Elasticsearch
defaults) covers the sparse/lexical half of a retrieval pipeline — dedup
forensics ("which docs match this boilerplate query"), contamination
lookups, and hybrid rerank candidates.

Scale shape: the only thing that ever aggregates is the QUERY-TERM
postings — the token stream is filtered to the (tiny, broadcast-literal)
query vocabulary before any shuffle, so corpus size only enters through
one projection-only pass for document lengths.  The durable index turns
even that into a partition-pruned probe: postings are written partitioned
by a hash bucket of the term, so a query reads ``len(query_terms)``
buckets of ``n_buckets`` no matter how large the corpus is.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from carbonapi_spark.datapipe import read_small_table, write_small_table
from carbonapi_spark.sqltext import local_df

from carbonapi_spark.datapipe.text import token_count, tokens


def _query_terms(query: str) -> list[str]:
    """Deduplicated, lowercased whitespace tokens, sorted for
    deterministic plans."""
    return sorted({t for t in query.lower().split() if t})


def bm25_scores(df: DataFrame, query: str, text_col: str = "text",
                id_col: str = "doc_id", k1: float = 1.2,
                b: float = 0.75) -> DataFrame:
    """(id, score) for every doc matching >= 1 query term, unranked.

    Okapi BM25 with the Lucene-style non-negative idf
    ``ln(1 + (N - df + 0.5)/(df + 0.5))``:

      score(d) = sum_t idf_t * tf_td*(k1+1) / (tf_td + k1*(1-b+b*dl/avgdl))

    Execution: document lengths are one projection-only corpus pass (no
    explode — ``token_count`` is a codegen expression); the explode is
    immediately filtered to the query terms (an ``isin`` over a literal
    array, pushed below the generator), so the tf aggregation and every
    join after it carry query-term occurrences only.  N/avgdl ride as a
    broadcast 1-row aggregate, per-term idf as a broadcast terms-sized
    table.  Scores are rounded to 6 places."""
    qterms = _query_terms(query)
    if not qterms:
        raise ValueError("empty query")
    lengths = df.select(F.col(id_col),
                        token_count(F.col(text_col)).cast("long")
                        .alias("__dl"))
    tf = (df.select(F.col(id_col),
                    F.explode(tokens(F.lower(F.col(text_col))))
                    .alias("__t"))
          .where(F.col("__t").isin(qterms))
          .groupBy(id_col, "__t")
          .agg(F.count(F.lit(1)).alias("__tf")))
    stats = lengths.agg(F.count(F.lit(1)).alias("__n"),
                        F.sum("__dl").alias("__sumdl"))
    dfreq = tf.groupBy("__t").agg(F.count(F.lit(1)).alias("__df"))
    idf = (dfreq.crossJoin(F.broadcast(stats))
           .select("__t",
                   F.log(F.lit(1.0)
                         + (F.col("__n") - F.col("__df") + F.lit(0.5))
                         / (F.col("__df") + F.lit(0.5))).alias("__idf"),
                   "__n", "__sumdl"))
    avgdl = F.col("__sumdl").cast("double") / F.col("__n")
    norm = F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("__dl") / avgdl)
    contrib = (F.col("__idf") * F.col("__tf") * F.lit(k1 + 1.0)
               / (F.col("__tf") + norm))
    return (tf.join(F.broadcast(idf), "__t")
            .join(lengths, id_col)
            .select(F.col(id_col), contrib.alias("__c"))
            .groupBy(id_col)
            .agg(F.round(F.sum("__c"), 6).alias("score")))


def bm25_topk(df: DataFrame, query: str, k: int = 10,
              text_col: str = "text", id_col: str = "doc_id",
              k1: float = 1.2, b: float = 0.75) -> DataFrame:
    """Top-``k`` docs by BM25 score (score DESC, id ASC tie-break) — a
    TakeOrdered limit, no global sort shuffle."""
    return (bm25_scores(df, query, text_col, id_col, k1, b)
            .orderBy(F.desc("score"), F.col(id_col))
            .limit(k))


def write_text_index(df: DataFrame, path: str, text_col: str = "text",
                     id_col: str = "doc_id", n_buckets: int = 64) -> None:
    """Materialize the inverted index as a partitioned Parquet layout:

      ``{path}/postings/bucket=<b>/``  (term, doc_id, tf) rows,
          bucket = pmod(xxhash64(term), n_buckets)
      ``{path}/doclens/``              (doc_id, dl)
      ``{path}/stats/``                1 row (n_docs, sum_dl, n_buckets)

    The bucket partitioning is the probe-time pruning key: a query's
    scan touches only its terms' buckets (Catalyst partition pruning on
    the ``bucket=`` directory column), so probe cost scales with the
    query, not the corpus — the lexical sibling of the ANN index's
    cell-pruned layout.  Build, append, compaction and deletion run
    through the shared lifecycle helpers of
    :mod:`carbonapi_spark.datapipe.maintenance`."""
    from carbonapi_spark.datapipe.maintenance import (build_index,
                                                      write_partitioned)
    spark = df.sparkSession
    postings, lengths, obs = _text_rows(df, text_col, id_col, n_buckets)

    def _doclens_then_stats():
        lengths.write.mode("overwrite").parquet(f"{path}/doclens")
        got = obs.get
        _write_stats(spark, path, got["n"], got["s"], n_buckets)

    build_index(spark, path, ["postings", "doclens", "stats"],
                lambda: write_partitioned(postings, f"{path}/postings",
                                          ["bucket"], n_buckets,
                                          "overwrite"),
                _doclens_then_stats)


def _text_rows(df: DataFrame, text_col: str, id_col: str,
               n_buckets: int):
    """(postings, doclens, observation) of ``df``'s documents — the rows
    a build writes and an append adds.  ``postings`` are (doc_id, term,
    tf, bucket) with bucket = pmod(xxhash64(term), n_buckets);
    ``doclens`` are (doc_id, dl) and carry the (n, s) totals as observed
    metrics, so the stats ride the doclens write job (guide §2.4: a
    separate aggregate would be one more tokenize pass)."""
    postings = (df.select(F.col(id_col).alias("doc_id"),
                          F.explode(tokens(F.lower(F.col(text_col))))
                          .alias("term"))
                .groupBy("doc_id", "term")
                .agg(F.count(F.lit(1)).alias("tf"))
                .withColumn("bucket", F.pmod(F.xxhash64("term"),
                                             F.lit(n_buckets)).cast("int")))
    lengths, obs = _observed(df.select(
        F.col(id_col).alias("doc_id"),
        token_count(F.col(text_col)).cast("long").alias("dl")))
    return postings, lengths, obs


def _observed(lengths: DataFrame):
    """``lengths`` (doc_id, dl) observing its row count ``n`` and dl sum
    ``s``; SUM over zero rows is NULL, so ``s`` is coalesced to 0 — an
    empty doclens records (0, 0), which :func:`bm25_query_index` treats
    as match-nothing (ADVICE r13 #5)."""
    from pyspark.sql import Observation
    obs = Observation()
    return (lengths.observe(obs, F.count(F.lit(1)).alias("n"),
                            F.coalesce(F.sum("dl"), F.lit(0)).alias("s")),
            obs)


def _write_stats(spark, path: str, n_docs: int, sum_dl: int,
                 n_buckets: int) -> None:
    """The 1-row ``{path}/stats`` table of a text index."""
    write_small_table(spark, f"{path}/stats", [(n_docs, sum_dl, n_buckets)],
                      "n_docs LONG, sum_dl LONG, n_buckets INT")


def bm25_query_index(spark: SparkSession, path: str, query: str,
                     k: int = 10, k1: float = 1.2,
                     b: float = 0.75) -> DataFrame:
    """BM25 top-``k`` against a ``write_text_index`` layout.  Identical
    scores to ``bm25_topk`` on the source corpus (round-trip pytest);
    the postings scan carries ``bucket IN (query buckets)`` + ``term IN
    (query terms)`` — the first prunes partitions, the second is a
    pushed Parquet filter within them."""
    qterms = _query_terms(query)
    if not qterms:
        raise ValueError("empty query")
    stats_row = read_small_table(spark, f"{path}/stats")[0]
    n_docs, sum_dl = stats_row["n_docs"], stats_row["sum_dl"]
    n_buckets = stats_row["n_buckets"]
    if not n_docs:
        # a fully-deleted index (delete_from_text_index of every doc)
        # matches nothing; without this guard avgdl would divide by
        # zero (ADVICE r13 #5)
        id_t = spark.read.parquet(f"{path}/doclens") \
            .schema["doc_id"].dataType.simpleString()
        return local_df(spark, [], f"doc_id {id_t}, score DOUBLE")
    # bucket the query terms with the SAME engine hash that bucketed the
    # postings (a len(qterms)-row local job — trivial, and immune to any
    # drift between a Python xxh64 and Spark's)
    buckets = sorted({r["b"] for r in
                      local_df(spark, [(t,) for t in qterms],
                               "term string")
                      .select(F.pmod(F.xxhash64("term"),
                                     F.lit(n_buckets)).cast("int")
                              .alias("b")).collect()})
    from carbonapi_spark.datapipe.maintenance import read_index_table
    tf = (read_index_table(spark, f"{path}/postings")
          .where(F.col("bucket").isin(buckets)
                 & F.col("term").isin(qterms)))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("__df"))
    idf = dfreq.select(
        "term",
        F.log(F.lit(1.0) + (F.lit(n_docs) - F.col("__df") + F.lit(0.5))
              / (F.col("__df") + F.lit(0.5))).alias("__idf"))
    lengths = spark.read.parquet(f"{path}/doclens")
    avgdl = F.lit(float(sum_dl)) / F.lit(float(n_docs))
    norm = F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / avgdl)
    contrib = (F.col("__idf") * F.col("tf") * F.lit(k1 + 1.0)
               / (F.col("tf") + norm))
    return (tf.join(F.broadcast(idf), "term")
            .join(lengths, "doc_id")
            .select("doc_id", contrib.alias("__c"))
            .groupBy("doc_id")
            .agg(F.round(F.sum("__c"), 6).alias("score"))
            .orderBy(F.desc("score"), F.col("doc_id"))
            .limit(k))


def mmr_rerank(candidates: DataFrame, vectors: DataFrame, n: int = 10,
               lam: float = 0.7, id_col: str = "doc_id",
               rel_col: str = "score",
               vec_col: str = "embedding") -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998): greedily select ``n`` of the candidates maximizing
    ``lam * relevance - (1 - lam) * max_cosine_to_already_selected`` —
    the diversity-aware last stage of a retrieval pipeline (candidates
    from ``bm25_topk`` or the ANN stack, vectors from the embeddings
    table or ``hashed_doc_vectors``).

    Scale shape: MMR is defined over a TOP-K CANDIDATE SET, so the
    candidate pipeline (often a full BM25/ANN pass) runs ONCE and is
    collected at k rows; the vectors scan then carries a pushed ``id IN
    (candidates)`` Parquet filter instead of re-running the candidate
    plan as a join side.  The k^2 pairwise cosines and the greedy loop
    are a driver-side bounded iteration (k is a rerank depth, tens) —
    the same economy as the quality classifier's bounded training.  The
    cosine is the identical sequential left-fold as the JVM/DuckDB
    ``aggregate``/``list_dot_product`` arithmetic (IEEE ops in the same
    order), every compared value is 6-dp-rounded with a lowest-id
    tie-break, so the selection replays exactly in SQL (n unrolled
    iterations).  Returns (rank, doc_id, mmr_score)."""
    rel = {r["__id"]: r["__rel"] for r in
           candidates.select(F.col(id_col).alias("__id"),
                             F.col(rel_col).alias("__rel")).collect()}
    vrows = (vectors.where(F.col(id_col).isin(list(rel)))
             .select(F.col(id_col).alias("__id"),
                     F.col(vec_col).cast("array<double>").alias("__e"))
             .collect())
    emb = {r["__id"]: r["__e"] for r in vrows}

    def _fold_dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    import math
    ids_v = sorted(emb)
    nrm = {d: math.sqrt(_fold_dot(emb[d], emb[d])) for d in ids_v}
    sim: dict = {}
    for i, da in enumerate(ids_v):
        for db in ids_v[i + 1:]:
            s = round(_fold_dot(emb[da], emb[db]) / (nrm[da] * nrm[db]), 6)
            sim[(da, db)] = s
            sim[(db, da)] = s
    selected: list[tuple[int, int, float]] = []  # (rank, id, score)
    chosen: list = []
    for rank in range(1, min(n, len(rel)) + 1):
        best = None
        for d, rv in rel.items():
            if d in chosen:
                continue
            ms = max((sim.get((d, s), 0.0) for s in chosen), default=0.0)
            v = round(lam * rv - (1.0 - lam) * ms, 6)
            if best is None or v > best[1] or (v == best[1] and d < best[0]):
                best = (d, v)
        chosen.append(best[0])
        selected.append((rank, best[0], best[1]))
    spark = candidates.sparkSession
    return local_df(
        spark, selected or [], "rank INT, doc_id LONG, mmr_score DOUBLE")


def rrf_fuse(rankings: list[DataFrame], k: int = 60, n: int = 10,
             id_col: str = "doc_id", score_col: str = "score",
             max_candidates: int = 10_000) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack, Clarke & Buettcher, SIGIR 2009):
    combine any number of ranked candidate lists —  lexical BM25, dense
    ANN, recency, ... — by ``sum_i 1 / (k + rank_i(d))``, the
    hybrid-search default precisely because it needs NO score
    calibration between systems, only ranks.

    Each input is ranked by (score DESC, id ASC) — the engine-portable
    tie-break — within itself; documents missing from a list simply
    contribute nothing.  The fused score is a sum of len(rankings)
    exact reciprocals rounded to 6, and the result is a TakeOrdered
    top-``n`` (fused DESC, id ASC).

    Candidate lists are expected to be top-k bounded by construction;
    the per-list rank uses a GLOBAL single-partition window, which is
    only safe for bounded inputs.  ``max_candidates`` contains misuse:
    each list is hard-capped (by the same score/id order the rank
    uses, a distributed TakeOrdered) before the window, so an
    accidentally corpus-sized input degrades to its top slice instead
    of funneling the corpus through one task."""
    from pyspark.sql.window import Window
    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking")
    w = Window.partitionBy().orderBy(F.desc(score_col), F.col(id_col))
    parts = [r.orderBy(F.desc(score_col), F.col(id_col))
             .limit(max_candidates)
             .select(F.col(id_col),
                     (F.lit(1.0) / (F.lit(k) + F.row_number().over(w)))
                     .alias("__rr"))
             for r in rankings]
    union = parts[0]
    for p in parts[1:]:
        union = union.unionByName(p)
    return (union.groupBy(id_col)
            .agg(F.round(F.sum("__rr"), 6).alias("rrf_score"),
                 F.count(F.lit(1)).alias("n_lists"))
            .orderBy(F.desc("rrf_score"), F.col(id_col))
            .limit(n))


def append_text_index(df: DataFrame, path: str, text_col: str = "text",
                      id_col: str = "doc_id") -> None:
    """Add new documents to a ``write_text_index`` layout without
    rebuilding: the delta's postings append inside the same term-hash
    ``bucket=`` partitions (pruning untouched), doclens appends, and
    the 1-row stats table is rewritten with merged totals — the lexical
    sibling of ``append_ann_index``.  BM25 probes over the grown index
    equal a one-shot build over the union (idf/avgdl are pure functions
    of the merged postings and stats; pytest pins it).  Refuses loudly
    while a ``_MAINTENANCE`` marker is present."""
    from carbonapi_spark.datapipe import overlap_jobs
    from carbonapi_spark.datapipe.maintenance import (
        append_delta, assert_not_under_maintenance)
    spark = df.sparkSession
    assert_not_under_maintenance(spark, path, "append_text_index")
    stats_row = read_small_table(spark, f"{path}/stats")[0]
    n_buckets = stats_row["n_buckets"]
    postings, lengths, obs = _text_rows(df, text_col, id_col, n_buckets)

    # the postings append overlaps the doclens+stats chain from a second
    # driver thread (guide §2.6); each append merges its own delta's
    # observed totals into the stats it read
    def _doclens_then_stats():
        lengths.write.mode("append").parquet(f"{path}/doclens")
        delta = obs.get
        _write_stats(spark, path, stats_row["n_docs"] + delta["n"],
                     stats_row["sum_dl"] + delta["s"], n_buckets)

    overlap_jobs(
        lambda: append_delta(postings, path, "postings", ["bucket"],
                             n_buckets, l0=False),
        _doclens_then_stats)


def _rewrite_doclens(spark, path: str, lengths: DataFrame, op: str,
                     stage: str, parked: str) -> None:
    """Replace ``{path}/doclens`` with ``lengths`` (staged write +
    :func:`~carbonapi_spark.datapipe.maintenance.swap_in`) and rewrite
    the stats from its observed totals — the ground truth after a
    compaction or deletion (r14: the totals ride the rewrite job; the
    old shape re-read the swapped-in doclens for one more pass)."""
    from carbonapi_spark.datapipe.maintenance import swap_in
    lengths, obs = _observed(lengths)
    lengths.coalesce(1).write.mode("overwrite") \
        .parquet(f"{path}/doclens.{stage}")
    swap_in(spark, f"{path}/doclens", f"{path}/doclens.{stage}",
            f"{path}/doclens.{parked}", op)
    n_buckets = read_small_table(spark, f"{path}/stats")[0]["n_buckets"]
    got = obs.get
    _write_stats(spark, path, got["n"], got["s"], n_buckets)


def compact_text_index(spark, path: str,
                       fragmented_only: bool = False) -> dict:
    """Compact a :func:`write_text_index` artifact after a replayed
    ``append_text_index`` — the one durable index where replay
    duplicates CORRUPT scores, not just inflate storage: duplicate
    postings double a term's accumulated tf contribution, duplicate
    doclens rows skew nothing by themselves but the replayed stats
    rewrite double-counts n_docs/sum_dl, shifting idf and avgdl for
    every query.  Three repairs in one pass: postings deduped on
    (doc_id, term) per bucket partition via the shared kernel
    (``fragmented_only=True`` rewrites only >1-file buckets), doclens
    deduped on doc_id (rewrite-in-place via staged parquet — it is
    unpartitioned and append-fragmented), and stats recomputed FROM the
    deduped doclens (the ground truth the merged totals drifted from).
    Single-writer maintenance, same caveats as the kernel."""
    from carbonapi_spark.datapipe.maintenance import (compact_partitioned,
                                                      maintenance_lock)
    with maintenance_lock(spark, path, "compact_text_index"):
        stats = compact_partitioned(spark, f"{path}/postings",
                                    ["doc_id", "term"], ["bucket"],
                                    fragmented_only)
        _rewrite_doclens(spark, path,
                         spark.read.parquet(f"{path}/doclens")
                         .dropDuplicates(["doc_id"]),
                         "compact_text_index", "compacting", "precompact")
    return stats


def delete_from_text_index(spark, path: str, doc_ids,
                           id_col: str = "doc_id") -> dict:
    """Delete documents from a ``write_text_index`` layout (takedown /
    retention — the BM25 sibling of ``delete_from_ann_index``).  A
    document's postings spread across most term-hash buckets, so this
    is an honest full filtered rewrite (``delete_rows_partitioned``,
    which doubles as defragmentation), plus the doclens anti-join and a
    stats recompute from the surviving doclens so idf/avgdl reflect the
    deletion.

    Deleting EVERY document leaves the postings table as a single
    schema-bearing empty placeholder (probes return no matches; stats
    become (0, 0)); appends into an emptied index resume the
    partitioned layout only after a rebuild."""
    from carbonapi_spark.datapipe.maintenance import (
        delete_rows_partitioned, ids_frame, maintenance_lock)
    ids_df = ids_frame(spark, doc_ids, id_col,
                       lambda: spark.read.parquet(f"{path}/doclens"),
                       "doc_id")
    with maintenance_lock(spark, path, "delete_from_text_index"):
        stats = delete_rows_partitioned(spark, f"{path}/postings",
                                        ids_df, ["doc_id"], ["bucket"])
        _rewrite_doclens(spark, path,
                         spark.read.parquet(f"{path}/doclens")
                         .join(F.broadcast(ids_df), "doc_id", "left_anti"),
                         "delete_from_text_index", "deleting", "predelete")
    return stats


def ranking_metrics(results: DataFrame, truth: DataFrame, k: int = 10,
                    query_col: str = "query_id",
                    id_col: str = "neighbor_id",
                    score_col: str = "cos_sim") -> DataFrame:
    """Per-query recall@k and (binary-relevance) nDCG@k of ``results``
    against a ``truth`` candidate table — the in-engine eval harness
    for the retrieval stack (ANN recall vs brute force, hybrid vs
    lexical, index staleness drift over time).

    Ranks come from (score DESC, id ASC) within each query; relevance
    is membership in the truth set.  IDCG folds ``1/log2(i+1)`` over a
    ``sequence`` with an explicit sequential aggregate (the same fold
    order any replaying engine uses), so the metric is deterministic.
    Both inputs are top-k bounded by construction — everything here is
    (queries x k)-sized.  The output is driven from the TRUTH side: a
    query with zero result rows still reports (hits 0, recall 0,
    ndcg 0) rather than silently vanishing and inflating the
    aggregate.  Returns (query, n_truth, hits, recall, ndcg),
    rounded to 6.

    Both inputs are read once and never joined: the truth rows (rank
    NULL) and the top-k result rows are unioned and grouped by query,
    and array folds over each query's k-bounded lists count the truth,
    the hits and the DCG, in rank order.  A truth built by a Python
    kernel (``brute_force_topk``) is therefore computed once, since
    Spark reuses no exchange above a MapInPandas node, and no side is
    broadcast, since the number of queries is unbounded.  A join on
    (query, id) would re-shuffle both sides, each already clustered by
    query after its top-k window; the union keeps that clustering, so
    the grouping adds no exchange (ann_quality at sf0.1: 9 jobs, 12
    with the join)."""
    from pyspark.sql.window import Window
    w = Window.partitionBy(query_col).orderBy(F.desc(score_col),
                                              F.col(id_col))
    res = (results.withColumn("__rk", F.row_number().over(w))
           .where(F.col("__rk") <= k).select(query_col, id_col, "__rk"))
    rows = (truth.select(query_col, id_col,
                         F.lit(None).cast("int").alias("__rk"))
            .unionByName(res)
            .groupBy(query_col)
            .agg(F.collect_list(F.when(F.col("__rk").isNull(),
                                       F.col(id_col))).alias("__t"),
                 F.array_sort(F.collect_list(
                     F.when(F.col("__rk").isNotNull(),
                            F.struct("__rk", id_col)))).alias("__r")))
    hit = F.filter("__r", lambda x: F.array_contains("__t", x[id_col]))
    dcg = F.aggregate(
        hit, F.lit(0.0),
        lambda acc, x: acc + F.lit(1.0) / F.log2(x["__rk"] + 1))
    idcg = F.aggregate(
        F.sequence(F.lit(1), F.least(F.col("n_truth"), F.lit(k))),
        F.lit(0.0),
        lambda acc, i: acc + F.lit(1.0) / F.log2(i.cast("double") + 1))
    per_q = (rows.where(F.size("__t") > 0)
             .select(query_col,
                     F.size("__t").cast("long").alias("n_truth"),
                     F.size(hit).cast("long").alias("hits"),
                     dcg.alias("__dcg")))
    return per_q.select(query_col, "n_truth", "hits",
                        F.round(F.col("hits") / F.col("n_truth"), 6)
                        .alias("recall"),
                        F.round(F.col("__dcg") / idcg, 6).alias("ndcg"))


def bm25_batch(df: DataFrame, queries: list[tuple[int, str]],
               text_col: str = "text", id_col: str = "doc_id",
               k1: float = 1.2, b: float = 0.75) -> DataFrame:
    """(query_id, id, score) for every (query, doc) pair sharing >= 1
    term — the whole query BATCH scored in ONE corpus pass.

    Mining and evaluation score queries by the thousand; running
    ``bm25_scores`` per query would re-scan the corpus per query.  Here
    the token explode is filtered to the UNION of the batch's term
    vocabularies (one literal isin below the generator, exactly the
    single-query plan), per-term idf is computed once from that stream,
    and a broadcast (query_id, term) table fans each term occurrence
    out to the queries that asked for it — so corpus cost is ONE pass
    regardless of batch size, and everything after the explode is
    sized by matching term occurrences."""
    pairs = sorted({(qid, t) for qid, q in queries
                    for t in _query_terms(q)})
    if not pairs:
        raise ValueError("empty query batch")
    vocab = sorted({t for _, t in pairs})
    spark = df.sparkSession
    qt = local_df(spark, pairs, "query_id INT, __t STRING")
    lengths = df.select(F.col(id_col),
                        token_count(F.col(text_col)).cast("long")
                        .alias("__dl"))
    tf = (df.select(F.col(id_col),
                    F.explode(tokens(F.lower(F.col(text_col))))
                    .alias("__t"))
          .where(F.col("__t").isin(vocab))
          .groupBy(id_col, "__t")
          .agg(F.count(F.lit(1)).alias("__tf")))
    stats = lengths.agg(F.count(F.lit(1)).alias("__n"),
                        F.sum("__dl").alias("__sumdl"))
    dfreq = tf.groupBy("__t").agg(F.count(F.lit(1)).alias("__df"))
    idf = (dfreq.crossJoin(F.broadcast(stats))
           .select("__t",
                   F.log(F.lit(1.0)
                         + (F.col("__n") - F.col("__df") + F.lit(0.5))
                         / (F.col("__df") + F.lit(0.5))).alias("__idf"),
                   "__n", "__sumdl"))
    avgdl = F.col("__sumdl").cast("double") / F.col("__n")
    norm = F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("__dl") / avgdl)
    contrib = (F.col("__idf") * F.col("__tf") * F.lit(k1 + 1.0)
               / (F.col("__tf") + norm))
    return (tf.join(F.broadcast(qt), "__t")
            .join(F.broadcast(idf), "__t")
            .join(lengths, id_col)
            .select("query_id", F.col(id_col), contrib.alias("__c"))
            .groupBy("query_id", id_col)
            .agg(F.round(F.sum("__c"), 6).alias("score")))


def hard_negatives(df: DataFrame, queries: list[tuple[int, str]],
                   truth: DataFrame, k: int = 10,
                   text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """BM25 hard-negative mining (Karpukhin et al., "Dense Passage
    Retrieval for Open-Domain Question Answering", EMNLP 2020, sec.
    5.2): per query, the top-``k`` highest-BM25 documents that are NOT
    judged relevant — the lexically-confusable negatives a dual
    encoder must learn to push away, which DPR found beats random or
    in-batch negatives alone.

    ``truth`` is the (query_id, id) qrels table — query-batch-sized,
    broadcast into a left-anti join against the batch scores; the rank
    window partitions by query over term-matching docs only.  Returns
    (query_id, id, score, rank), rank 1 = hardest negative."""
    from pyspark.sql.window import Window
    sc = bm25_batch(df, queries, text_col, id_col)
    neg = sc.join(F.broadcast(truth.select("query_id", id_col)),
                  ["query_id", id_col], "left_anti")
    w = Window.partitionBy("query_id").orderBy(F.desc("score"),
                                               F.col(id_col))
    return (neg.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k))
