"""Physical-plan regression guards: the shuffle economy is a design
property, not an accident. These tests count Exchange operators in real
plans so a refactor that silently doubles the shuffles fails CI."""

import itertools
import re

import pytest

from carbonapi_spark.evaluator import EvalContext, eval_target
from tests.conftest import make_lake


def _exchanges(spark, lake, target, f, u) -> int:
    ctx = EvalContext(spark, lake, f, u)
    frame = eval_target(ctx, target)
    plan = frame.df._jdf.queryExecution().executedPlan().toString()
    return len(re.findall(r"Exchange ", plan))


def test_window_pipeline_single_shuffle(spark):
    """fetch -> densify -> derivative -> movingAverage: densify's hash(ord)
    aggregation satisfies the window operators' partitioning, so the whole
    chain is ONE exchange."""
    lake = make_lake(spark, {"m.a": [1, 2, 3, 4], "m.b": [5, 6, 7, 8]}, 1, 0)
    assert _exchanges(spark, lake, "movingAverage(derivative(m.*), 2)", 0, 4) == 1


def test_pointwise_chain_adds_no_shuffle(spark):
    """scale(absolute(x)) maps the sparse scan row by row: no exchange."""
    lake = make_lake(spark, {"m.a": [1, -2]}, 1, 0)
    assert _exchanges(spark, lake, "scale(absolute(m.a), 2)", 0, 2) == 0


def test_aggregation_shuffle_budget(spark):
    """sumSeries (NULL-skipping) takes the sparse fast path: ONE shuffle
    touches the full point set (hash agg by ts on the raw scan); up to two
    more exchanges may appear but only over the already-aggregated output
    (bucket-count rows), so the full-data shuffle budget is 1."""
    lake = make_lake(spark, {"m.a": [1, 2], "m.b": [3, 4]}, 1, 0)
    assert _exchanges(spark, lake, "sumSeries(m.*)", 0, 2) <= 3
    # order-sensitive fold -> dense path (densify + agg over full data)
    assert _exchanges(spark, lake, "diffSeries(m.a, m.b)", 0, 2) <= 3


def _df_exchanges(df) -> int:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return len(re.findall(r"Exchange ", plan))


def test_ivf_corpus_side_single_exchange(spark):
    """ivf_topk: the corpus side must stay one-row-per-vector with a single
    exchange (the cell equi-join); the query side is broadcast. A refactor
    that expands the corpus (the 100 TB side) fails here."""
    from pyspark.sql import functions as F

    from carbonapi_spark.datapipe.similarity import ivf_topk
    vecs = (spark.range(64)
            .select(F.col("id").alias("vec_id"),
                    F.transform(F.sequence(F.lit(0), F.lit(7)),
                                lambda i: (F.col("id") + i).cast("double"))
                    .alias("embedding")))
    df = ivf_topk(vecs, vecs.limit(2), k=3, dim=8, n_centroids=4, nprobe=2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan  # query side broadcast
    # corpus flows through: cell agg-free projection -> join -> top-k window
    # = join-key exchange + window exchange over candidate rows only
    assert len(re.findall(r"Exchange hashpartitioning", plan)) <= 2


def test_series_lists_no_count_subplans(spark):
    """diffSeriesLists: positional indexing is a literal array_position,
    not broadcast-joined rank subplans — exactly one full-data exchange
    pair feeding the (idx, ts) join."""
    lake = make_lake(spark, {"m.a": [1, 2], "m.b": [3, 4]}, 1, 0)
    assert _exchanges(spark, lake, "diffSeriesLists(m.a, m.b)", 0, 2) <= 4


def test_as_percent_total_lazy_single_eval(spark):
    """asPercent(sl, totalSeries): building the plan must run ZERO Spark
    jobs — the single-vs-multi total naming decision rides the same
    aggregation as the total sum (no eager distinct().count() job that
    would evaluate the total subplan twice)."""
    lake = make_lake(spark, {"m.a": [1, 2], "m.b": [3, 4],
                             "t.x": [8, 8], "t.y": [2, 2]}, 1, 0)
    sc = spark.sparkContext
    group = "aspercent-lazy-probe"
    sc.setJobGroup(group, "asPercent eval must be lazy")
    try:
        ctx = EvalContext(spark, lake, 0, 2)
        eval_target(ctx, "asPercent(m.*, t.*)")
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setJobGroup("default", "")
    assert list(jobs) == []


def test_reduce_series_single_aggregation(spark):
    """reduceSeries: group-completeness rides inside the pivot aggregate
    (no distinct+join subplan), so the whole op is bounded by densify +
    one pivot exchange."""
    lake = make_lake(spark, {"x.a.bytes": [1, 2], "x.a.total": [4, 8],
                             "x.b.bytes": [1, 1], "x.b.total": [2, 2]}, 1, 0)
    n = _exchanges(
        spark, lake,
        "reduceSeries(mapSeries(x.*.*,1),'asPercent',2,'bytes','total')",
        0, 2)
    assert n <= 3


def _df_shape(df):
    plan = df._jdf.queryExecution().executedPlan().toString()
    return (len(re.findall(r"Exchange ", plan)),
            len(re.findall(r"BroadcastHashJoin", plan)),
            len(re.findall(r"SortMergeJoin", plan)))


def test_stratified_sample_no_shuffle(spark):
    # the mixing gate must stay a pure map over the scan: zero exchanges
    from carbonapi_spark.datapipe.sampling import stratified_sample
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    ex, _, _ = _df_shape(stratified_sample(docs, {"en": 0.9, "zh": 0.1}))
    assert ex == 0


def test_contamination_broadcasts_benchmark(spark):
    # the training side must never shuffle except for its final per-doc
    # agg; the benchmark gram set is the broadcast side of the only join
    from pyspark.sql import functions as F
    from carbonapi_spark.datapipe.dedup import contamination
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = contamination(docs.where(F.col("doc_id") % 97 != 0),
                        docs.where(F.col("doc_id") % 97 == 0))
    ex, bhj, smj = _df_shape(out)
    assert bhj == 1 and smj == 0
    # spread repartition + benchmark distinct + broadcast + final agg
    assert ex <= 4


def test_rep_filters_two_aggs_no_join(spark):
    # explode_outer keeps empty docs in-band: two keyed aggs, no join back
    from carbonapi_spark.datapipe.text import repetition_features
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    ex, bhj, smj = _df_shape(repetition_features(docs))
    assert (bhj, smj) == (0, 0)
    assert ex <= 3  # spread + per-gram agg + per-doc agg


def test_shingle_pair_edges_single_bucket_shuffle(spark):
    # bucket-pair generation: one groupBy(gram) + the pair distinct — the
    # shingle pipeline must not be evaluated twice (no self-join)
    from carbonapi_spark.datapipe.dedup import shared_shingle_pairs
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    ex, bhj, smj = _df_shape(shared_shingle_pairs(docs))
    assert (bhj, smj) == (0, 0)
    assert ex <= 3  # spread + bucket agg + pair distinct


def test_pq_adc_corpus_no_shuffle(spark):
    """pq_topk: the corpus must flow scan -> encode projection ->
    broadcast-join -> top-k window with NO corpus-side hash exchange
    before the join (encoding is stateless; the query distance tables are
    broadcast). Only the final per-query window may hash-partition, and
    that is over candidate rows."""
    import re

    from pyspark.sql import functions as F

    from carbonapi_spark.datapipe.similarity import pq_codebooks, pq_topk
    vecs = (spark.range(64)
            .select(F.col("id").alias("vec_id"),
                    F.transform(F.sequence(F.lit(0), F.lit(7)),
                                lambda i: (F.col("id") + i).cast("double"))
                    .alias("embedding")))
    cbs = pq_codebooks(dim=8, m=2, ksub=4)
    df = pq_topk(vecs, vecs.limit(2), k=3, codebooks=cbs)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan
    assert len(re.findall(r"Exchange hashpartitioning", plan)) <= 1


def test_ivfpq_corpus_cell_pruned(spark):
    """ivfpq_topk: the corpus must flow scan -> cell+code projection ->
    broadcast cell equi-join with NO corpus-side hash exchange before
    the join (a cell-partitioned codes table serves the probe via
    partition pruning at scale; the query probe side is broadcast).
    Only the final per-query top-k window may hash-partition, over
    probed-cell candidate rows."""
    import re

    from pyspark.sql import functions as F

    from carbonapi_spark.datapipe.similarity import ivfpq_topk, pq_codebooks
    vecs = (spark.range(64)
            .select(F.col("id").alias("vec_id"),
                    F.transform(F.sequence(F.lit(0), F.lit(7)),
                                lambda i: (F.col("id") + i).cast("double"))
                    .alias("embedding")))
    cbs = pq_codebooks(dim=8, m=2, ksub=4)
    df = ivfpq_topk(vecs, vecs.limit(2), k=3, dim=8, n_centroids=4,
                    nprobe=2, m=2, ksub=4, codebooks=cbs)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan
    assert len(re.findall(r"Exchange hashpartitioning", plan)) <= 1


def test_temperature_mix_gate_is_broadcast(spark):
    """temperature_mix: the corpus side must flow scan -> broadcast rate
    join -> gate filter with no exchange; only the group-count branch
    (group-cardinality-sized) may hash-partition."""
    import re

    from pyspark.sql import functions as F

    from carbonapi_spark.datapipe.sampling import temperature_mix
    docs = spark.range(64).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 4 == 0, "a").otherwise("b").alias("lang"))
    plan = temperature_mix(docs, alpha=0.5) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan
    assert len(re.findall(r"Exchange hashpartitioning", plan)) <= 1


def test_chunk_documents_no_shuffle(spark):
    """chunk_documents is a stateless projection: zero exchanges."""
    from pyspark.sql import functions as F

    from carbonapi_spark.datapipe.sampling import chunk_documents
    docs = spark.range(8).select(F.col("id").alias("doc_id"),
                                 F.lit("a b c d e").alias("text"))
    assert _df_exchanges(chunk_documents(docs, max_tokens=2)) == 0


def test_line_dedup_hash_keys_before_exchange(spark):
    """line_dedup shuffles 8-byte xxhash64 line keys, not line strings,
    and the boilerplate set comes back as a broadcast anti-join."""
    from pyspark.sql import functions as F

    from carbonapi_spark.datapipe.text import line_dedup
    docs = spark.range(8).select(F.col("id").alias("doc_id"),
                                 F.lit("l1\nshared").alias("text"))
    plan = line_dedup(docs)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan          # boilerplate set broadcast
    assert "xxhash64" in plan                   # hashed shuffle keys


def test_substr_dedup_shuffle_budget(spark):
    """remove_duplicate_spans: both windows and the reassembly share the
    doc partitioning, the gram count shuffles 8-byte hashes — at most 3
    full-data hash exchanges (doc partitioning, gram count, flag join)."""
    import re

    from pyspark.sql import functions as F

    from carbonapi_spark.datapipe.dedup import remove_duplicate_spans
    docs = spark.range(8).select(F.col("id").alias("doc_id"),
                                 F.lit("a b c d e f").alias("text"))
    plan = remove_duplicate_spans(docs, k=3) \
        ._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"Exchange hashpartitioning", plan)) <= 3


def test_round6_projection_ops_no_shuffle(spark):
    """gopher_rules and c4_rules are stateless codegen projections (zero
    exchanges); corpus_stats is exactly one hash aggregation; hashed doc
    vectors are two combiner-reduced aggs (id+bucket, then id)."""
    from pyspark.sql import functions as F

    from carbonapi_spark.datapipe.text import (c4_rules, corpus_stats,
                                               gopher_rules,
                                               hashed_doc_vectors)
    docs = spark.range(8).select(
        F.col("id").alias("doc_id"),
        F.lit("the quick brown fox jumps.").alias("text"),
        F.lit("s").alias("source"), F.lit("en").alias("lang"))
    assert _df_exchanges(gopher_rules(docs)) == 0
    assert _df_exchanges(c4_rules(docs)) == 0
    assert _df_exchanges(corpus_stats(docs)) == 1
    assert _df_exchanges(hashed_doc_vectors(docs, dim=8)) <= 2


def test_dsir_selection_is_takeordered(spark):
    """dsir_sample: the log-ratio table must broadcast into the scoring
    join, and the Gumbel-top-k must plan as TakeOrderedAndProject
    (per-partition partial top-n) — a global Sort+Limit would shuffle
    the whole scored corpus."""
    from pyspark.sql import functions as F

    from carbonapi_spark.datapipe.sampling import dsir_sample
    docs = spark.range(64).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("some text number "), F.col("id").cast("string"))
        .alias("text"))
    df = dsir_sample(docs, docs.where(F.col("doc_id") % 4 == 0), n=5,
                     n_buckets=32)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastExchange" in plan


def test_heavy_hitters_cms_probe_is_one_projection(spark):
    """heavy_hitters pass 2: the d sketch slices ride as dense LITERAL
    arrays probed with element_at inside one codegen projection — no
    joins of any kind (round-7 trim of the d broadcast-join chain), one
    token explode, and the only shuffle is the candidate count."""
    import re as _re

    from pyspark.sql import functions as F

    from carbonapi_spark.datapipe.sketch import heavy_hitters
    docs = spark.range(32).select(
        F.col("id").alias("doc_id"),
        F.lit("alpha beta gamma alpha").alias("text"))
    plan = heavy_hitters(docs, threshold=3, w=64, d=4) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    # sketch slices are driver-materialized literals, NOT re-runs of
    # the sketch-build pipeline per depth: exactly ONE token explode in
    # the scoring plan, and the only shuffle is the candidate count
    assert len(_re.findall(r"Generate explode", plan)) == 1
    assert len(_re.findall(r"Exchange hashpartitioning", plan)) == 1


def test_oov_rate_vocab_broadcast_topv(spark):
    """oov_rate: the vocab is a TakeOrdered top-V (no global sort
    shuffle) broadcast into the token stream; full-data shuffles are the
    term count and the per-doc aggregation only."""
    import re as _re

    from pyspark.sql import functions as F

    from carbonapi_spark.datapipe.sketch import oov_rate
    docs = spark.range(32).select(
        F.col("id").alias("doc_id"),
        F.lit("alpha beta gamma alpha").alias("text"))
    plan = oov_rate(docs, vocab_size=2) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert len(_re.findall(r"Exchange hashpartitioning", plan)) <= 2


def test_ppl_quantile_buckets_no_global_sort(spark):
    """threshold_qs mode: the CCNet split with self-derived cutoffs must
    not range-partition anywhere — the quantile is one ObjectHashAggregate
    and bucketing is a broadcast map (vs ntile mode's global sort)."""
    from pyspark.sql import functions as F

    from carbonapi_spark.datapipe.text import perplexity_buckets
    docs = spark.range(64).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("w"), (F.col("id") % 7).cast("string"),
                 F.lit(" common text")).alias("text"))
    plan = perplexity_buckets(docs, threshold_qs=[1 / 3, 2 / 3]) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in plan.lower()
    # the window function ntile( — NOT the substring inside "percentile"
    assert not re.search(r"(?<!perce)ntile\(", plan.lower())
    # the ntile mode DOES carry a global-order window — the contrast pin
    plan_ntile = perplexity_buckets(docs, buckets=3) \
        ._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"(?<!perce)ntile\(", plan_ntile.lower())


def test_ann_index_probe_partition_prunes(spark, tmp_path):
    """The durable-index probe must reach the codes scan as a LITERAL
    cell predicate — static Parquet partition pruning (PartitionFilters),
    reading only the probed cell directories."""
    from pyspark.sql import functions as F

    from carbonapi_spark.datapipe.similarity import (
        ivf_centroids, pq_codebooks, read_ann_index, write_ann_index)
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    path = str(tmp_path / "idx")
    write_ann_index(emb, path, pq_codebooks(64, 8, 16, 44),
                    ivf_centroids(64, 4, 43))
    codes, _, _, _, _ = read_ann_index(spark, path)
    pruned = codes.where(F.col("cell").isin([1, 3]))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[[^\]]*cell", plan), plan[:800]
    # and the pruned scan reads fewer partition dirs than exist
    assert pruned.select("cell").distinct().count() <= 2


def test_round7_projection_ops_no_shuffle(spark):
    """The round-7 stateless ops must stay pure maps over the scan:
    zero exchanges for html_strip / normalize_unicode / code features /
    split labels; per_group_cap pays exactly its one group shuffle."""
    from pyspark.sql import functions as F

    from carbonapi_spark.datapipe.sampling import train_val_test_split
    from carbonapi_spark.datapipe.text import (
        code_prose_features, html_strip, normalize_unicode, per_group_cap)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for df in (
        docs.select(html_strip(F.col("text"))),
        docs.select(normalize_unicode(F.col("text"))),
        code_prose_features(docs),
        train_val_test_split(docs, 0.1, 0.1),
    ):
        assert _df_exchanges(df) == 0, df
    ex = _df_exchanges(per_group_cap(docs, 5))
    assert ex == 1  # the group-key shuffle feeding the rank window


def test_kmeans_iteration_single_agg_exchange(spark):
    """One Lloyd iteration = one corpus pass: the mean table plan is
    scan -> score/assign projection -> posexplode -> ONE hash agg (plus
    AQE coalescing); no joins, no second scan of the corpus."""
    from pyspark.sql import functions as F

    from carbonapi_spark.datapipe.similarity import _cell_score_sql
    vecs = (spark.range(128)
            .select(F.col("id").alias("vec_id"),
                    F.transform(F.sequence(F.lit(0), F.lit(7)),
                                lambda i: (F.col("id") % 5 + i * 0.1)
                                .cast("double")).alias("embedding")))
    cents = [[0.1] * 8, [2.0] * 8]
    scores = _cell_score_sql("__e", cents, l2=True)
    means = (vecs.selectExpr("cast(embedding as array<double>) as __e")
             .selectExpr("__e", f"{scores} as __d")
             .selectExpr("__e",
                         "array_position(__d, array_max(__d)) as __cell")
             .select("__cell", F.posexplode("__e").alias("__i", "__x"))
             .groupBy("__cell", "__i").agg(F.avg("__x")))
    plan = means._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1


def test_quantile_exact_is_object_hash_agg(spark):
    """Exact quantile_thresholds: ObjectHashAggregate, never a
    range-partitioned sort."""
    from pyspark.sql import functions as F

    from carbonapi_spark.datapipe.text import quantile_thresholds
    df = spark.range(1000).select((F.col("id") * 1.5).alias("x"))
    plan = quantile_thresholds(df, "x", [0.5, 0.9]) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "ObjectHashAggregate" in plan
    assert "rangepartitioning" not in plan.lower()


def test_hll_partial_aggregation_before_exchange(spark):
    """hll_registers must map-side combine: a partial max aggregation
    runs BEFORE the exchange, so only (group x 4096)-bounded register
    rows shuffle regardless of value-stream size, and the pipeline
    carries exactly one exchange."""
    from pyspark.sql import functions as F

    from carbonapi_spark.datapipe.sketch import hll_registers
    df = spark.range(10_000).select(F.col("id").cast("string").alias("v"))
    plan = (hll_registers(df, "v")._jdf.queryExecution()
            .executedPlan().toString())
    import re
    assert len(re.findall(r"Exchange ", plan)) == 1
    # partial_max appears below the exchange (map-side combine)
    pre_exchange = plan.split("Exchange ")[-1]
    assert "partial_max" in pre_exchange or "partial_max" in plan


def test_bm25_filters_query_terms_below_generator(spark):
    """bm25_scores must filter the exploded token stream to the query
    vocabulary BEFORE any aggregation — the filter sits directly on the
    generator output, so only query-term occurrences ever shuffle."""
    from carbonapi_spark.datapipe.retrieval import bm25_scores
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = (bm25_scores(docs, "hash join order")._jdf.queryExecution()
            .executedPlan().toString())
    # tree prints children BELOW their parent: the query-term filter
    # must sit between the partial (doc, term) aggregation and the
    # generator — applied to the exploded stream BEFORE anything
    # shuffles
    import re
    seg = re.search(r"partial_count.*?Generate explode", plan, re.S)
    assert seg, "partial aggregation above the generator missing"
    assert re.search(r"Filter __t#\d+ IN \(hash,join,order\)",
                     seg.group(0)), "query-term filter not below the agg"


def test_funnel_single_scan_single_user_shuffle(spark):
    """funnel must fold the whole K-step state machine in ONE event
    scan (the old join-chain re-ran steps 1..i-1 per step count —
    O(K^2) corpus passes at scale).  Budget: exactly one Scan of the
    events source; exchanges = the user groupBy + the 1-row final agg."""
    from carbonapi_spark.datapipe.events import funnel_counts_frame
    from carbonapi_spark.entry_queries import _events_sec
    ev = _events_sec(spark, "/root/testdata/sf0.001")
    frame = funnel_counts_frame(ev, ["view", "click", "purchase"],
                                within_s=7 * 86400)
    plan = frame._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"Scan parquet", plan)) == 1
    assert _df_exchanges(frame) <= 2


def test_sq8_corpus_side_no_shuffle(spark):
    """sq8_topk: the corpus scan must reach the broadcast join without
    any Exchange (dequantize + norm are projections; the only exchange
    is the final per-query window) and the query side must broadcast."""
    from pyspark.sql import functions as F

    from carbonapi_spark.datapipe.similarity import sq8_ranges, sq8_topk
    vecs = (spark.range(64)
            .select(F.col("id").alias("vec_id"),
                    F.transform(F.sequence(F.lit(0), F.lit(7)),
                                lambda i: (F.col("id") + i).cast("double"))
                    .alias("embedding")))
    ranges = sq8_ranges(vecs, dim=8)
    df = sq8_topk(vecs, vecs.limit(2), ranges, k=3)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan
    # exactly ONE hash-partition exchange (the final per-query window);
    # the other exchanges are query-side (2-row limit + broadcast) —
    # the corpus branch contributes none
    assert plan.count("Exchange hashpartitioning") == 1


def test_rfm_approx_has_no_global_sort(spark):
    """rfm_segments(exact=False) is the no-global-sort path: no Window/
    Sort over the user table, cutoffs via percentile_approx, bins
    map-side.  (exact=True intentionally has the single-task ntile
    windows — that is its documented bound.)"""
    from carbonapi_spark.datapipe.events import rfm_segments
    from carbonapi_spark.entry_queries import _events_sec
    ev = _events_sec(spark, "/root/testdata/sf0.001")
    plan = (rfm_segments(ev, exact=False)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Window [" not in plan          # the physical Window node
    assert not re.search(r"\bntile\(", plan)  # not percentile_approx!
    assert "percentile_approx" in plan
    exact_plan = (rfm_segments(ev, exact=True)
                  ._jdf.queryExecution().executedPlan().toString())
    assert re.search(r"\bntile\(", exact_plan)


def test_attribution_single_scan_single_user_shuffle(spark):
    """attribution resolves touches and conversions in ONE event pass:
    one Scan of the events source; exchanges = the user-partitioned
    window + the channel groupBy."""
    from carbonapi_spark.datapipe.events import (attribution,
                                                 attribution_models)
    from carbonapi_spark.entry_queries import _events_sec
    ev = _events_sec(spark, "/root/testdata/sf0.001")
    df = attribution(ev, "purchase", ["view", "click"], model="last",
                     lookback_s=86400)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"Scan parquet", plan)) == 1
    assert _df_exchanges(df) <= 2
    # BOTH models must still be one scan + one user sort (adding a
    # model adds a window aggregate, not a pass)
    both = attribution_models(ev, "purchase", ["view", "click"],
                              ("last", "first"), lookback_s=86400)
    bplan = both._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"Scan parquet", bplan)) == 1
    assert bplan.count("Window [") == 1
    assert _df_exchanges(both) <= 2


def test_round8_projection_ops_no_shuffle(spark):
    """url_dedup_key, wordpiece_encode, sq8_encode: pure projections —
    zero exchanges at any corpus size."""
    from pyspark.sql import functions as F

    from carbonapi_spark.datapipe.bpe import wordpiece_encode
    from carbonapi_spark.datapipe.similarity import sq8_encode
    from carbonapi_spark.datapipe.web import url_dedup_key
    docs = spark.createDataFrame(
        [(1, "hello world", "https://www.ex.com/a?utm_source=x&b=1")],
        "doc_id LONG, text STRING, url STRING")
    assert _df_exchanges(url_dedup_key(docs)) == 0
    assert _df_exchanges(wordpiece_encode(docs, ["he", "llo"])) == 0
    vecs = docs.select("doc_id",
                       F.array(F.lit(1.0), F.lit(2.0)).alias("embedding")) \
        .withColumnRenamed("doc_id", "vec_id")
    assert _df_exchanges(sq8_encode(vecs, [(0.0, 1.0), (0.0, 1.0)])) == 0


def test_roc_auc_rank_is_bucket_partitioned(spark):
    """roc_auc's cumulative rank must partition by the sketch-derived
    bucket — with micro-logit scores the distinct-score table is
    corpus-sized, and an unpartitioned cum-sum window would funnel it
    through one task.  The only unpartitioned window allowed is the
    64-row bucket-offset table."""
    from pyspark.sql import functions as F

    from carbonapi_spark.datapipe.text import roc_auc
    df = spark.range(100).select(
        (F.col("id") * 37 % 101).alias("score"),
        (F.col("id") % 2).alias("label"))
    plan = (roc_auc(df, "score", "label")
            ._jdf.queryExecution().executedPlan().toString())
    assert re.search(r"windowspecdefinition\(__bkt", plan)
    assert "percentile_approx" in plan


def test_band_index_probe_partition_prunes(spark, tmp_path):
    """The durable band-index probe must reach the bands scan with
    LITERAL (band, bucket) predicates — static partition pruning, so a
    delta probe reads delta-proportional directories, not the corpus."""
    from pyspark.sql import functions as F

    from carbonapi_spark.datapipe.dedup import write_band_index
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    path = str(tmp_path / "bandidx")
    write_band_index(docs, path, num_hashes=16, bands=4, ngram=2)
    idx = spark.read.parquet(f"{path}/bands")
    pruned = idx.where(F.struct(F.col("band"), F.col("bucket")).isin(
        F.struct(F.lit(0), F.lit(3)), F.struct(F.lit(2), F.lit(7))))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[[^\]]*band", plan), plan[:800]


def test_asof_join_single_exchange_no_join_node(spark):
    """asof_join's merge-union plan: NO physical join operator anywhere
    (the naive range join degrades to O(L x R) on coarse keys) and at
    most one Exchange pair for the union's by-key window — both inputs
    ride ONE shuffle."""
    from pyspark.sql import functions as F

    from carbonapi_spark.datapipe.events import asof_join
    left = spark.range(1000).select(
        (F.col("id") % 50).cast("string").alias("user_id"),
        (F.col("id") * 7).alias("sec"), F.col("id").alias("event_id"))
    right = spark.range(300).select(
        (F.col("id") % 50).cast("string").alias("user_id"),
        (F.col("id") * 11).alias("sec"),
        F.rand(7).alias("value"))
    out = asof_join(left, right, on="sec", by=("user_id",),
                    right_cols=("value",), tolerance_s=3600)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan[:800]
    assert _df_exchanges(out) <= 1, plan[:800]


def test_asof_nearest_single_exchange(spark):
    """direction='nearest' must reuse the single merge-union exchange —
    the forward carry is a second sort over the same partitioning, not
    a second shuffle, and still no join operator anywhere."""
    from pyspark.sql import functions as F

    from carbonapi_spark.datapipe.events import asof_join
    left = spark.range(500).select(
        (F.col("id") % 20).cast("string").alias("user_id"),
        (F.col("id") * 7).alias("sec"), F.col("id").alias("event_id"))
    right = spark.range(200).select(
        (F.col("id") % 20).cast("string").alias("user_id"),
        (F.col("id") * 11).alias("sec"), F.rand(7).alias("value"))
    out = asof_join(left, right, right_cols=("value",),
                    direction="nearest", tolerance_s=3600)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan[:800]
    assert _df_exchanges(out) <= 1, plan[:800]


def test_latest_round8_projection_ops_no_shuffle(spark):
    """unigram_encode and random_projection are stateless projections
    (vocab / sign matrix ride as literals): zero exchanges at any
    corpus size."""
    from pyspark.sql import functions as F

    from carbonapi_spark.datapipe.linalg import random_projection
    from carbonapi_spark.datapipe.unigram import unigram_encode
    docs = spark.createDataFrame([(1, "hello world")],
                                 "doc_id LONG, text STRING")
    assert _df_exchanges(
        unigram_encode(docs, {"h": 1, "e": 1, "llo": 5, "world": 9,
                              "l": 1, "o": 1})) == 0
    vecs = spark.createDataFrame(
        [(1, [0.1] * 8)], "vec_id LONG, embedding ARRAY<FLOAT>")
    assert _df_exchanges(random_projection(vecs, out_dim=4)) == 0


def test_covariance_partial_agg_before_exchange(spark):
    """covariance_matrix: the dim^2/2 product explode must partially
    aggregate map-side (partial_sum before the exchange), so shuffle
    bytes are dim^2-bounded per partition, never corpus-bounded; one
    hash exchange for the (i, j) agg plus broadcasts for the two
    64-row moment joins."""
    from pyspark.sql import functions as F

    from carbonapi_spark.datapipe.linalg import covariance_matrix
    vecs = spark.range(100).select(
        F.col("id").alias("vec_id"),
        F.transform(F.sequence(F.lit(0), F.lit(7)),
                    lambda i: (F.col("id") + i).cast("float") / 100.0)
        .alias("embedding"))
    out = covariance_matrix(vecs)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # partial aggregation present under the exchange
    assert re.search(r"partial_sum", plan), plan[:1200]
    # moment tables broadcast, not shuffled into a sort-merge join
    assert "BroadcastExchange" in plan, plan[:1200]
    assert "SortMergeJoin" not in plan, plan[:1200]


def test_bucketed_join_elides_exchange(spark, tmp_path):
    """write_bucketed: two tables bucketed on the same key join with
    ZERO Exchange operators (co-partitioned at write time) — the
    pay-one-shuffle-at-ingest lever.  The same join over plain parquet
    must shuffle, proving the bucket metadata (not file layout luck)
    carries the guarantee."""
    from pyspark.sql import functions as F

    from carbonapi_spark.sources.corpus import write_bucketed
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        docs = spark.range(1000).select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit("t"), F.col("id")).alias("text"))
        scores = spark.range(1000).select(
            F.col("id").alias("doc_id"),
            (F.col("id") % 7).alias("score"))
        write_bucketed(docs, "t_docs_b", n_buckets=4)
        write_bucketed(scores, "t_scores_b", n_buckets=4)
        j = spark.table("t_docs_b").join(spark.table("t_scores_b"),
                                         "doc_id")
        assert j.count() == 1000
        assert _df_exchanges(j) == 0, \
            j._jdf.queryExecution().executedPlan().toString()[:1000]
        # control: path-based parquet of identical data DOES shuffle
        p1, p2 = str(tmp_path / "d"), str(tmp_path / "s")
        docs.write.parquet(p1)
        scores.write.parquet(p2)
        jp = spark.read.parquet(p1).join(spark.read.parquet(p2), "doc_id")
        assert _df_exchanges(jp) >= 1
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS t_docs_b")
        spark.sql("DROP TABLE IF EXISTS t_scores_b")


def _live_scans(df) -> int:
    """File scans that will actually hit storage: total scan mentions
    minus the copies reprinted inside InMemoryTableScan blocks (a
    persisted subtree's plan text repeats its child scan per consumer,
    but storage is read once at materialization)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return (len(re.findall(r"Scan parquet", plan))
            - plan.count("InMemoryTableScan"))


def test_mad_outliers_histogram_exchange_reused(spark):
    """mad_outliers computes the value histogram ONCE for its three
    consumers: all in one action, so ReuseExchange dedupes the
    identical exchange subtrees at runtime (no persist barrier — A/B'd
    cheaper in SCALE.md).  The pin reads the POST-EXECUTION adaptive
    plan: a refactor that breaks subtree identity (and silently
    re-scans the corpus per consumer) loses the ReusedExchange nodes."""
    from carbonapi_spark.datapipe.events import mad_outliers
    from carbonapi_spark.sources.testdata import read_events
    out = mad_outliers(read_events(spark, "/root/testdata/sf0.001"))
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ReusedExchange") >= 2


def test_markov_counts_two_scans_path_sized_collect(spark):
    """markov_transition_counts: one touch scan + ONE persisted
    conversion-cursor scan (it feeds both the touch filter and the
    terminal full-outer) — never a third; the user-keyed collect
    happens AFTER the cursor filter (pre-truncated journeys cross the
    shuffle)."""
    from carbonapi_spark.datapipe.events import markov_transition_counts
    from carbonapi_spark.entry_queries import _events_sec
    ev = _events_sec(spark, "/root/testdata/sf0.001")
    out = markov_transition_counts(ev, ["view", "click"], "purchase")
    assert _live_scans(out) <= 2


def test_cusum_no_unbucketed_group_window(spark):
    """cusum_changepoint's running sum must partition its row windows by
    (group, time-bucket) — a window partitioned by the group alone
    funnels each metric's full history through one task at lake
    scale."""
    from carbonapi_spark.datapipe.events import cusum_changepoint
    from carbonapi_spark.sources.testdata import read_events
    ev = read_events(spark, "/root/testdata/sf0.001")
    from carbonapi_spark.sources.testdata import epoch_seconds
    ev = ev.select("event_type", "event_id", "value",
                   epoch_seconds(ev).alias("sec"))
    out = cusum_changepoint(ev)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # every Window operator's partition spec mentions the bucket column
    for m in re.finditer(r"Window \[[^\]]*\], \[([^\]]*)\]", plan):
        spec = m.group(0)
        if "windowspecdefinition" in spec and "__g" in spec:
            assert "__b" in spec or "__ts" not in spec


def test_dedup_agreement_is_one_job(spark):
    """dedup_agreement must stay a SINGLE declarative plan: building the
    DataFrame may run at most one bookkeeping job (a detector's
    plan-size probe), never the old 9-action driver loop of per-pair
    count()/join().count() finishes, and one collect yields all 3
    report rows."""
    from carbonapi_spark.entry_queries import QUERIES
    st = spark.sparkContext.statusTracker()
    before = len(st.getJobIdsForGroup(None) or [])
    df = QUERIES["dedup_agreement"](spark, "/root/testdata/sf0.001")
    built = len(st.getJobIdsForGroup(None) or [])
    assert built - before <= 1
    assert len(df.collect()) == 3


def test_hdr_sketch_shuffle_budget(spark):
    """hdr_buckets: the per-row work is ONE map-side-combined hash
    aggregation (one exchange over bucket-count partial rows, never the
    raw value stream); hdr_quantiles adds exchanges only over the
    already-bucketed sketch table (bounded by value range).  A refactor
    that shuffles the raw rows twice fails here."""
    from pyspark.sql import functions as F

    from carbonapi_spark.datapipe.sketch import hdr_buckets, hdr_quantiles

    df = (spark.range(5000)
          .select((F.col("id") % 7).cast("string").alias("g"),
                  (F.col("id") * 0.37 + 0.01).alias("value")))
    b = hdr_buckets(df, "value", by=("g",))
    assert _df_exchanges(b) == 1
    plan = (b._jdf.queryExecution().executedPlan().toString())
    # partial_count before the exchange = map-side combine on the scan
    assert "partial_count" in plan
    q = hdr_quantiles(b, qs=(0.5, 0.9), by=("g",))
    # bucket agg exchange + window partitioning + final groupBy: every
    # post-bucket exchange moves sketch-sized data only
    assert _df_exchanges(q) <= 4


def test_fragmented_compaction_semi_join_not_literal_in(spark, tmp_path):
    """VERDICT r13 #4: fragmented-only compaction selects the rewrite
    set with a BROADCAST LEFT SEMI join against the fragmented-combo
    frame — never a driver-built ``isin`` over struct literals, whose
    parse/codegen cost grows with the combo count (the fixed cost the
    r12 probe-path measurement killed).  Also re-asserts identical
    compaction results on a replayed append."""
    from pyspark.sql import functions as F

    from carbonapi_spark.datapipe.maintenance import (_combo_df,
                                                      _per_partition_stats)

    base = (spark.range(2000)
            .select(F.col("id").alias("k"),
                    (F.col("id") % 64).cast("int").alias("cell")))
    p = str(tmp_path / "frag")
    base.repartition(F.col("cell")).write.partitionBy("cell").parquet(p)
    delta = base.where(F.col("cell") < 8)
    delta.repartition(F.col("cell")).write.mode("append") \
        .partitionBy("cell").parquet(p)

    df = spark.read.parquet(p)
    # r14: the ONE per-partition stats pass feeds rows/files/frag combos
    per = _per_partition_stats(df, ["cell"])
    assert sum(r["__n"] for r in per) == 2256   # 2000 base + 256 delta
    combos = sorted({(r["cell"],) for r in per if r["__nf"] > 1})
    assert len(combos) == 8
    frag_df = _combo_df(spark, combos, df, ["cell"])
    rewrite = df.join(F.broadcast(frag_df), ["cell"], "left_semi") \
        .dropDuplicates(["k"])
    plan = rewrite._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert " IN (" not in plan          # no struct-literal membership

    from carbonapi_spark.datapipe.maintenance import compact_partitioned
    stats = compact_partitioned(spark, p, ["k"], ["cell"],
                                fragmented_only=True)
    assert stats["partitions_rewritten"] == 8
    assert stats["rows_after"] == 2000
    got = spark.read.parquet(p)
    assert got.count() == 2000
    per = (got.select("cell", F.input_file_name().alias("f"))
           .groupBy("cell").agg(F.countDistinct("f").alias("nf"))
           .collect())
    assert all(r["nf"] == 1 for r in per)


def test_compaction_rewrite_single_exchange(spark, tmp_path):
    """r14 optimization-round: the compaction rewrite is ONE shuffle.
    ``compact_partitioned`` repartitions by the partition columns
    FIRST and widens the dedupe key with them (partition values are
    pure functions of the key columns in every index layout), so the
    dedupe aggregate's ClusteredDistribution is satisfied by the
    repartition's HashPartitioning — Spark must plan partial+final
    HashAggregate directly over the single Exchange, with no second
    exchange between dedupe and the partitioned write."""
    from pyspark.sql import functions as F

    from carbonapi_spark.datapipe import combo_repartition

    base = (spark.range(4000)
            .select(F.col("id").alias("doc_id"),
                    F.concat(F.lit("k"), (F.col("id") % 100))
                    .alias("key")))
    t = (base.withColumn("band", (F.col("doc_id") % 4).cast("int"))
         .withColumn("bucket",
                     F.pmod(F.xxhash64("key"), F.lit(16)).cast("int")))
    p = str(tmp_path / "bands")
    t.write.partitionBy("band", "bucket").parquet(p)
    t.write.mode("append").partitionBy("band", "bucket").parquet(p)

    df = spark.read.parquet(p)
    # the kernel's exact rewrite shape (compact_partitioned full mode)
    staged = (combo_repartition(df, ["band", "bucket"], 64)
              .dropDuplicates(["band", "key", "doc_id", "bucket"]))
    plan = staged._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert staged.count() == 4000

    # end-to-end through the real kernel: duplicates removed, one file
    # per partition directory, single-exchange path produced the same
    # stats the two-exchange shape reported
    from carbonapi_spark.datapipe.maintenance import compact_partitioned
    stats = compact_partitioned(spark, p, ["band", "key", "doc_id"],
                                ["band", "bucket"])
    assert stats["rows_before"] == 8000
    assert stats["rows_after"] == 4000
    per = (spark.read.parquet(p)
           .select("band", "bucket", F.input_file_name().alias("f"))
           .groupBy("band", "bucket")
           .agg(F.countDistinct("f").alias("nf")).collect())
    assert all(r["nf"] == 1 for r in per)


_RENDER_GROUPS = itertools.count()


def _render_jobs(spark, tmp_path, targets, lake=None, until=86400,
                 **params) -> tuple[int, int]:
    """(jobs, stages) one in-process /render request runs over a Parquet
    lake, like the service's: by default four hourly series."""
    from carbonapi_spark.render.api import GraphiteAPI
    from carbonapi_spark.sources.lake import SeriesLake
    if lake is None:
        rows = [(f"events.u{u}.{e}", 3600 * h, float(u * h))
                for u in (1, 2) for e in ("click", "view") for h in range(24)]
        path = str(tmp_path / "lake")
        spark.createDataFrame(rows, "name STRING, ts BIGINT, value DOUBLE") \
            .write.mode("overwrite").parquet(path)
        lake = SeriesLake(spark.read.parquet(path), 3600)
    api = GraphiteAPI(spark, lake)
    sc = spark.sparkContext
    # a fresh group per call: the tracker keeps the jobs of earlier ones
    group = f"render-shape-{next(_RENDER_GROUPS)}:" + "&".join(targets)
    sc.setJobGroup(group, group)
    try:
        code, _ctype, body = api.render({
            "target": list(targets), "from": ["0"], "until": [str(until)],
            "format": ["json"], "noCache": ["1"],
            **{k: [str(v)] for k, v in params.items()}})[:3]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert code == 200, body
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = {s for j in jobs for s in tracker.getJobInfo(j).stageIds}
    return len(jobs), len(stages)


def test_plain_glob_render_is_one_scan_job(spark, tmp_path):
    """A plain glob renders from the pre-densify scan: one Spark job of one
    stage, i.e. no Exchange — the gaps are filled on the driver, so the
    densify shuffle never runs for a frame that goes straight to the wire."""
    assert _render_jobs(spark, tmp_path, ["events.u*.click"]) == (1, 1)


def test_two_target_render_job_budget(spark, tmp_path):
    """The dashboard's two-target shape: the glob costs one job, the
    sumSeries (densify + fold) the rest; at most 4 jobs (5 with a Row
    collect of the densified glob)."""
    jobs, _stages = _render_jobs(
        spark, tmp_path, ["events.u*.click", "sumSeries(events.u*.view)"])
    assert jobs <= 4


def _nodes(plan):
    children = plan.children()
    return [children.apply(i) for i in range(children.size())]


def _tag_map_rows(plan) -> list[str]:
    """Plan nodes that build the tag map (``tags_sql``'s map_from_entries)
    with a path to a leaf that crosses no Aggregate: nodes that evaluate
    it once per scanned row rather than once per distinct name."""
    def unaggregated(node) -> bool:
        if node.nodeName() == "Aggregate":
            return False
        kids = _nodes(node)
        return not kids or any(unaggregated(k) for k in kids)

    out = []

    def walk(node):
        if ("map_from_entries" in node.simpleString(1000)
                and unaggregated(node)):
            out.append(node.nodeName())
        for k in _nodes(node):
            walk(k)

    walk(plan)
    return out


def _tagged_lake(spark, tmp_path):
    from carbonapi_spark.sources.lake import SeriesLake
    rows = [(f"app.req;dc=dc{d};host=h{h}", 60 * t, float(t))
            for d in (0, 1) for h in (0, 1, 2) for t in range(4)]
    rows += [(f"app.err;dc=dc0;host=h{h}", 60 * t, 1.0)
             for h in (0, 1) for t in range(4)]
    path = str(tmp_path / "tagged")
    spark.createDataFrame(rows, "name STRING, ts BIGINT, value DOUBLE") \
        .write.mode("overwrite").parquet(path)
    return SeriesLake(spark.read.parquet(path), 60)


def test_tagged_fetch_resolves_names_once(spark, tmp_path, monkeypatch):
    """seriesByTag runs a names job that evaluates the tag terms above its
    per-name aggregate; the data scan then reads a pushed-down
    In(name, ...) filter and builds no tag map at all."""
    from carbonapi_spark.sources import lake as lake_mod
    lake = _tagged_lake(spark, tmp_path)
    jobs = []

    def by_name(*a, **kw):
        jobs.append(real(*a, **kw))
        return jobs[-1]

    real = lake_mod.by_name
    monkeypatch.setattr(lake_mod, "by_name", by_name)
    frame = lake.fetch(spark, "seriesByTag('name=app.req', 'dc=dc0', "
                              "'host!=h2')", 0, 240)
    assert len(jobs) == 1
    names = jobs[0]._jdf.queryExecution().optimizedPlan()
    assert "map_from_entries" in names.toString()
    assert _tag_map_rows(names) == []
    scan = frame.df._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PushedFilters: \[[^\]]*In\(name,", scan), scan
    assert "StringStartsWith(name,app.req)" in scan
    assert "map_from_entries" not in scan
    assert sorted(r["name"] for r in frame.df.select("name").distinct()
                  .collect()) == ["app.req;dc=dc0;host=h0",
                                  "app.req;dc=dc0;host=h1"]


def test_metadata_tag_paths_parse_tags_per_name(spark, tmp_path, monkeypatch):
    """tag autocomplete (with and without expr=) and /info over a
    seriesByTag target build the tag map only above the per-name
    aggregate."""
    from carbonapi_spark.render import metadata as meta
    lake = _tagged_lake(spark, tmp_path)
    plans = []
    real_collect = type(lake.df).collect

    def collect(df):
        plans.append(df._jdf.queryExecution().optimizedPlan())
        return real_collect(df)

    monkeypatch.setattr(type(lake.df), "collect", collect)
    assert meta.tag_names(lake) == ["dc", "host", "name"]
    assert meta.tag_values(lake, "host", exprs=["dc=dc1"]) == \
        ["h0", "h1", "h2"]
    assert sorted(meta.info(lake, "seriesByTag('dc=dc0', 'host=h0')")) == \
        ["app.err;dc=dc0;host=h0", "app.req;dc=dc0;host=h0"]
    assert len(plans) == 3
    for plan in plans:
        assert "map_from_entries" in plan.toString()
        assert _tag_map_rows(plan) == []


def _densify_calls(monkeypatch) -> list:
    """Record every SeriesFrame.densify call from now on."""
    from carbonapi_spark.model.series import SeriesFrame
    calls = []
    real = SeriesFrame.densify

    def densify(self, *a, **kw):
        calls.append(self)
        return real(self, *a, **kw)

    monkeypatch.setattr(SeriesFrame, "densify", densify)
    return calls


def test_sparse_renders_never_densify(spark, tmp_path, monkeypatch):
    """A plain glob, a NULL-skipping sort/limit and a two-frame join reach
    the wire without SeriesFrame.densify: the fetches stay sparse and the
    gaps are filled on the driver. An order-sensitive window does call
    it, so the probe is live."""
    calls = _densify_calls(monkeypatch)
    for target in ("events.u*.click", "sortByMaxima(events.*.click)|limit(3)",
                   "divideSeries(events.u1.click, events.u2.click)"):
        _render_jobs(spark, tmp_path, [target])
    assert calls == []
    _render_jobs(spark, tmp_path, ["derivative(events.u1.click)"])
    assert len(calls) == 1


def test_sort_limit_render_job_count(spark, tmp_path):
    """The dashboard's sortByMaxima(...)|limit(3): max skips NULLs, so the
    per-series ranking reads the sparse scan, and the limit keeps the
    sort's first three ranks instead of ranking the distinct ords again —
    3 jobs / 4 stages, where ranking twice ran 6 / 10 and ranking a
    densified fetch 8 / 15."""
    assert _render_jobs(spark, tmp_path,
                        ["sortByMaxima(events.*.click)|limit(3)"]) == (3, 4)


@pytest.mark.parametrize("target, jobs_stages", [
    ("highestAverage(events.u*.click, 3)", (3, 4)),
    ("sumSeries(events.u*.click)", (3, 6)),
    ("groupByNode(events.u*.*, 2, 'sum')", (3, 6)),
])
def test_panel_render_job_count(spark, tmp_path, target, jobs_stages):
    """(jobs, stages) of the dashboard's top-k, cross-series and grouped
    fold panels: the per-series rank reads the sparse scan (average skips
    NULLs); the folds read it too and densify their output."""
    assert _render_jobs(spark, tmp_path, [target]) == jobs_stages


def test_interval_window_builds_its_argument_once(spark, tmp_path,
                                                  monkeypatch):
    """A trailing window builds its argument once: over an interval it
    needs no step to size its history, and over a point count it reads
    the step from the static step pass, so a tagged argument resolves its
    names once either way."""
    from carbonapi_spark.sources import lake as lake_mod
    lake = _tagged_lake(spark, tmp_path)
    calls = []
    real = lake_mod.by_name

    def by_name(*a, **kw):
        calls.append(a)
        return real(*a, **kw)

    monkeypatch.setattr(lake_mod, "by_name", by_name)
    for fn in ("movingAverage", "exponentialMovingAverage"):
        for window in ("'2min'", "2"):
            calls.clear()
            eval_target(EvalContext(spark, lake, 0, 240),
                        f"{fn}(seriesByTag('name=app.req','dc=dc0'),{window})")
            assert len(calls) == 1, (fn, window)


def test_tagged_max_data_points_consolidates_sparse_plan(spark, tmp_path,
                                                         monkeypatch):
    """seriesByTag with maxDataPoints: the names job, then the
    consolidation (average skips NULLs) folds the sparse scan — no densify
    — in 4 jobs / 6 stages."""
    calls = _densify_calls(monkeypatch)
    assert _render_jobs(spark, tmp_path,
                        ["seriesByTag('name=app.req', 'dc=dc0')"],
                        lake=_tagged_lake(spark, tmp_path), until=240,
                        maxDataPoints=2) == (4, 6)
    assert calls == []


def test_metadata_name_scans_push_glob_prefix(spark, tmp_path, monkeypatch):
    """find and expand guard their name scan with the glob's literal
    prefix, so Parquet receives a StringStartsWith filter instead of
    reading every name in the lake (rlike alone is evaluated post-scan)."""
    from carbonapi_spark.render import metadata
    from carbonapi_spark.sources.lake import SeriesLake
    rows = [(f"events.u{u}.{t}", ts, 1.0)
            for u in (1, 2, 10) for t in ("click", "view")
            for ts in (0, 60)]
    rows.append(("other.u1.click", 0, 1.0))
    path = str(tmp_path / "lake")
    spark.createDataFrame(rows, "name STRING, ts BIGINT, value DOUBLE") \
        .write.parquet(path)
    lake = SeriesLake(spark.read.parquet(path), 60)
    plans = []
    frame_type = type(lake.df)
    real = frame_type.collect

    def collect(self):
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return real(self)

    monkeypatch.setattr(frame_type, "collect", collect)
    found = metadata.find(lake, "events.u1.*")
    expanded = metadata.expand(lake, "events.u1.*")
    assert [e["id"] for e in found] == ["events.u1.click", "events.u1.view"]
    assert all(e["leaf"] == 1 and e["expandable"] == 0 for e in found)
    assert expanded == ["events.u1.click", "events.u1.view"]
    assert len(plans) == 2
    for plan in plans:
        pushed = re.search(r"PushedFilters: \[([^\]]*)\]", plan).group(1)
        assert "StringStartsWith(name,events.u1.)" in pushed, plan


# ---------------------------------------------------------------- py4j


def _day_lake(spark, tmp_path, rows):
    """A SeriesLake over *rows* written partitioned by day, hourly step,
    as the service reads its lake."""
    from pyspark.sql import functions as F

    from carbonapi_spark.sources.lake import SeriesLake
    path = str(tmp_path / "daylake")
    (spark.createDataFrame(rows, "name STRING, ts BIGINT, value DOUBLE")
     .withColumn("day", F.col("ts") - F.col("ts") % 86400)
     .write.mode("overwrite").partitionBy("day").parquet(path))
    return SeriesLake(spark.read.parquet(path), 3600, time_partition_col="day")


def _build_round_trips(spark, lake, target, until=2 * 86400) -> int:
    """py4j round trips one build of *target* makes on the calling
    thread, counted at ``ClientServerConnection.send_command``; the build
    runs once beforehand, so cached expressions are warm, and the garbage
    collector is held so no finalizer's delete command lands in the
    count."""
    import gc
    import threading

    import py4j.clientserver as cs
    assert isinstance(spark.sparkContext._gateway, cs.ClientServer)
    me, count = threading.get_ident(), [0]
    real = cs.ClientServerConnection.send_command

    def send_command(self, command):
        if threading.get_ident() == me:
            count[0] += 1
        return real(self, command)

    eval_target(EvalContext(spark, lake, 0, until), target)
    gc.collect()
    gc.disable()
    cs.ClientServerConnection.send_command = send_command
    try:
        eval_target(EvalContext(spark, lake, 0, until), target)
    finally:
        cs.ClientServerConnection.send_command = real
        gc.enable()
    return count[0]


@pytest.mark.parametrize("target, bound", [
    ("events.u*.click", 30),
    ("movingAverage(sumSeries(events.u*.click),'6h')", 150),
])
def test_build_round_trip_budget(spark, tmp_path, target, bound):
    """Building a render plan is SQL text in a few Dataset steps: a glob
    fetch and a windowed fold stay inside a small py4j budget (a glob
    made ~350 round trips and the window ~1000 when every predicate and
    projection was assembled from Columns)."""
    rows = [(f"events.u{u}.{e}", 3600 * h, float(u * h))
            for u in (1, 2) for e in ("click", "view") for h in range(48)]
    lake = _day_lake(spark, tmp_path, rows)
    assert _build_round_trips(spark, lake, target) <= bound


@pytest.mark.parametrize("target, trips", [
    ("{events.u1.click,events.u2.view}", 10),
    ("events.u1.click", 10),
    ("seriesByTag('name=app.req','dc=dc0')", 36),
])
def test_fetch_round_trips_pinned(spark, tmp_path, target, trips):
    """The brace, exact-name and tagged fetch shapes, pinned at their
    round-trip counts (the tagged one includes its names job)."""
    rows = [(f"events.u{u}.{e}", 3600 * h, float(u * h))
            for u in (1, 2) for e in ("click", "view") for h in range(48)]
    rows += [(f"app.req;dc=dc{d}", 3600 * h, 1.0) for d in (0, 1)
             for h in range(48)]
    lake = _day_lake(spark, tmp_path, rows)
    assert _build_round_trips(spark, lake, target) == trips


def test_render_path_does_not_import_datapipe():
    """The render API imports the shared SQL-text helpers, not the
    datapipe operator package."""
    import os
    import subprocess
    import sys
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = ("import sys, carbonapi_spark.render.api; "
            "print('carbonapi_spark.datapipe' in sys.modules)")
    out = subprocess.run([sys.executable, "-c", code], capture_output=True,
                         text=True, check=True, cwd=root)
    assert out.stdout.strip() == "False", out.stderr


@pytest.mark.parametrize("pattern, names", [
    ("it's.a", ["it's.a"]),
    ("back\\slash.b", ["back\\slash.b"]),
    ("{it's.a,back\\slash.b}", ["back\\slash.b", "it's.a"]),
    ("it's.*", ["it's.a"]),
    ("back\\slash.*", ["back\\slash.b"]),
    ("a') OR (1=1", []),
    ("{a') OR (1=1,x}", []),
    ("a') OR (1=1.*", []),
])
def test_fetch_quotes_names(spark, pattern, names):
    """Names holding ``'`` and ``\\`` are fetched by exact name, brace
    list and glob with their own rows; a pattern that would close the
    string literal matches nothing."""
    from carbonapi_spark.sources.lake import SeriesLake
    rows = [(n, 60 * t, float(t))
            for n in ("it's.a", "back\\slash.b", "plain.c") for t in range(3)]
    lake = SeriesLake(spark.createDataFrame(
        rows, "name STRING, ts BIGINT, value DOUBLE"), 60)
    got = lake.fetch(spark, pattern, 0, 180).df.collect()
    assert sorted({r["name"] for r in got}) == names
    assert len(got) == 3 * len(names)
