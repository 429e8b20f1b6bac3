"""Large-scale training-data pipeline operators over the documents /
embeddings tables: deduplication, similarity search, text analysis,
multimodal plumbing. All DataFrame-native; Python only in clearly-marked
kernels."""

import logging

from pyspark.sql import DataFrame, functions as F

from carbonapi_spark.sqltext import (  # noqa: F401 - re-exported
    expr_cached, local_df, selectx, sql_dlit,
)

_log = logging.getLogger(__name__)
# Diagnostic counter: how often the Catalyst size-estimate probe failed and
# a gate fell through to its conservative side.  A Spark upgrade that breaks
# the private _jdf/queryExecution route would flip every gated call site to
# the lake-scale path silently — the counter (and a one-time warning) makes
# that observable instead.
_stats_probe_failures = 0
_warned_probe_failure = False


_SIZE_SUFFIXES = {"": 1, "b": 1, "k": 1 << 10, "kb": 1 << 10,
                  "m": 1 << 20, "mb": 1 << 20, "g": 1 << 30,
                  "gb": 1 << 30, "t": 1 << 40, "tb": 1 << 40,
                  "p": 1 << 50, "pb": 1 << 50}


def _parse_byte_size(value: str, default: int = 134217728) -> int:
    """Spark byte-size conf parser ('134217728', '128m', '512K',
    '1gb'…), matching JavaUtils.byteStringAsBytes's suffix table.  Any
    unparsable value falls back to ``default`` (the conservative path —
    a crash here would take every ``spread()`` caller down with it)."""
    try:
        s = str(value).strip().lower()
        i = len(s)
        while i > 0 and not s[i - 1].isdigit():
            i -= 1
        return int(s[:i]) * _SIZE_SUFFIXES[s[i:].strip()]
    except (ValueError, KeyError, IndexError):
        return default


def _plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's optimized-plan size estimate, or None if unavailable.

    Reaches into the private ``_jdf.queryExecution`` API (no public stats
    route exists as of Spark 4.1); every failure is counted and the first
    one logged so a behavior flip after an upgrade is visible."""
    global _stats_probe_failures, _warned_probe_failure
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats()
                   .sizeInBytes())
    except Exception as e:
        _stats_probe_failures += 1
        if not _warned_probe_failure:
            _warned_probe_failure = True
            _log.warning(
                "Catalyst size-estimate probe failed (%s); size-gated "
                "spread/persist/broadcast heuristics will take their "
                "conservative lake-scale side for this session", e)
        return None


def spread(df: DataFrame, min_bytes: int = 8 << 20) -> DataFrame:
    """Ensure at least one partition per core before a CPU-heavy
    per-row expression (shingling, hashing, vector math).

    Small-file scans (one parquet file -> one task) serialize the whole
    expression on a single core; at lake scale the scan already has more
    partitions than cores and this is a no-op, so the repartition shuffle
    is only ever paid on inputs small enough for it to be cheap.

    Gated on the Catalyst size estimate: below ``min_bytes`` the
    serialized expression work is cheaper than the exchange it would
    take to parallelize it, so tiny inputs pass through untouched.
    ``min_bytes`` is tuned PER CALL SITE by the per-row cost of the
    expression the exchange parallelizes (A/B'd at sf0.1, min-of-3,
    same session): heavy interpreted n-gram HOF pipelines
    (shingling/minhash/repetition/contamination) win from spreading even
    ~600 KB inputs (e.g. rep_filters 1.88 -> 0.99 s), so they pass
    256 KB; cheap split/posexplode pipelines (line_dedup 0.42 vs
    0.91 s, ppl_buckets, substr spans) keep the 8 MB default. The
    500k-doc smoke sits far above every gate. Unknown estimates
    (non-scan roots without stats) fall through to the repartition
    check, the conservative side."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    est = _plan_size_bytes(df)
    if est is not None:
        if est < min_bytes:
            return df
        # Above the gate with a known size: estimate the scan's partition
        # count arithmetically (est / maxPartitionBytes) instead of
        # forcing physical-plan translation via ``df.rdd`` — at lake
        # scale the scan already yields >= target partitions and the
        # repartition must NOT fire (it would add a full-corpus shuffle).
        mpb = _parse_byte_size(df.sparkSession.conf.get(
            "spark.sql.files.maxPartitionBytes", "134217728"))
        if est >= target * mpb:
            return df
        return df.repartition(target)
    # stats unavailable (e.g. Connect) — fall back to the physical count
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def combo_repartition(df: DataFrame, partition_cols, n_combos: int) -> DataFrame:
    """Shuffle rows so each partition combo lands in exactly ONE task
    before a ``partitionBy`` write (-> one file per directory), with an
    EXPLICIT partition count.

    A bare ``repartition(cols)`` is REPARTITION_BY_COL, which AQE's
    partition coalescing happily folds to a single task on a small
    post-aggregation stage — serializing every parquet-file open (~16 ms
    apiece measured at r14; 4.2 s for a 256-directory band index whose
    rows take 0.25 s to write flat).  A numbered repartition
    (REPARTITION_BY_NUM) is exempt from AQE coalescing, so file creation
    stays parallel.  ``n = min(combos, defaultParallelism)``: more tasks
    than combos cannot spread one directory's single file any further,
    fewer than the core count would idle cores.  Each combo still hashes
    to exactly one partition, so the one-file-per-directory layout is
    unchanged at any n."""
    n = max(1, min(int(n_combos),
                   df.sparkSession.sparkContext.defaultParallelism))
    return df.repartition(n, *[F.col(c) for c in partition_cols])


def read_small_table(spark, path: str) -> list[dict]:
    """Rows of a MODEL-SIZED index metadata table (stats / centroids /
    codebooks — 1..a-few-hundred rows by construction) as dicts.

    For local paths the parquet files are read directly on the driver
    via pyarrow — zero Spark jobs, the same economy table formats get
    by reading manifest metadata outside the engine; each avoided job
    is ~0.1-0.2 s of fixed scheduling cost that the durable-index
    probes paid 3-6 times per call.  Any other filesystem (hdfs://,
    s3a://, ...) or any read failure falls back to a Spark collect —
    values are identical either way (it is the same parquet)."""
    import glob as _glob
    import os as _os
    p = str(path)
    root = None
    if p.startswith("file:"):
        root = p[5:]
    elif "://" not in p and p.startswith("/"):
        root = p
    if root is not None:
        try:
            import pyarrow as pa
            import pyarrow.parquet as pq
            files = sorted(_glob.glob(_os.path.join(root, "*.parquet")))
            if files:
                tbl = pa.concat_tables(
                    [pq.read_table(f) for f in files], promote_options="default")
                return tbl.to_pylist()
        except Exception:
            pass
    return [r.asDict() for r in spark.read.parquet(p).collect()]


def write_small_table(spark, path: str, rows, schema) -> None:
    """Overwrite ``path`` with driver-local ``rows`` as ONE Parquet file —
    the writer behind every model-sized metadata table that
    :func:`read_small_table` reads back (index stats, centroids,
    codebooks, tokenizer vocab/meta).  Rows ride an Arrow local relation
    (:func:`local_df`), so the write is a single JVM-local task."""
    local_df(spark, rows, schema).coalesce(1) \
        .write.mode("overwrite").parquet(path)


def overlap_jobs(*thunks) -> list:
    """Run INDEPENDENT Spark actions concurrently from driver threads
    (guide §2.6: actions are only sequential because driver code calls
    them sequentially).  Used where one logical operation issues
    several writes with no data dependency — e.g. an index build's
    codes/centroids/codebooks tables — so the small metadata jobs ride
    the big write's scheduling tail instead of queueing behind it
    (~0.15-0.35 s of fixed job latency each at r14).  Results are
    returned in thunk order; the first exception propagates after all
    thunks settle (no half-cancelled writes — each job is atomic via
    its own commit protocol, same crash semantics as the serial
    form).

    Each thunk runs with the caller's Spark local properties and tags
    (``inheritable_thread_target``), so its jobs carry the caller's job
    group and can be found and cancelled with it."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target
    from pyspark.sql import SparkSession
    if len(thunks) == 1:
        return [thunks[0]()]
    inherit = inheritable_thread_target(SparkSession.active())
    with ThreadPoolExecutor(max_workers=len(thunks)) as ex:
        futs = [ex.submit(inherit(t)) for t in thunks]
        done = [None] * len(futs)
        err = None
        for i, f in enumerate(futs):
            try:
                done[i] = f.result()
            except BaseException as e:   # noqa: BLE001 - re-raised
                err = err or e
        if err is not None:
            raise err
        return done


def pin(df: DataFrame) -> DataFrame:
    """Materialize-once + TRUNCATE THE PLAN: a lazy ``localCheckpoint``.

    ``persist()`` caches row output but keeps the full logical plan —
    every downstream reference re-analyzes the whole subtree and pays
    CacheManager subtree-matching at planning time.  For the heavily
    re-referenced derived tables in the LM/scoring pipelines that
    driver-side planning cost DOMINATES at bench scale (measured r14:
    kn_trigram_ppl spent 0.95 s in jobs and 4+ s in planning; the
    "before" plan carried 16 copies of the corpus scan), and at lake
    scale the duplicated subtrees are full corpus passes.  A local
    checkpoint replaces the plan with a ``LogicalRDD`` — downstream
    plans become tiny and the subtree executes exactly once.

    Lazy (``eager=False``) so materialization rides the first action
    that needs it instead of adding a barrier job.  Trade-off (same as
    the iterative graph kernels' use): checkpointed blocks skip the
    CacheManager (no release bookkeeping — freed by the ContextCleaner
    when the request drops its references) and lose lineage-based
    fault recovery, acceptable for request-scoped intermediates."""
    return df.localCheckpoint(eager=False)


def track_if_large(df: DataFrame, gate_df: DataFrame,
                   min_bytes: int = 64 << 20) -> DataFrame:
    """Persist ``df`` through the request-scoped scratch registry ONLY
    when ``gate_df`` (the corpus input feeding the pipeline that
    produces ``df``) is big enough for recomputation to cost more than
    the persist round-trip.

    The dual of ``spread``'s gate: a doubly-referenced derived table is
    cheaper to RECOMPUTE than to cache at bench scale (A/B at sf0.1,
    same session, min-of-4: ppl_buckets 0.76 s recomputed vs 1.17 s
    persisted — the materialization barrier serializes what lazy
    evaluation overlaps), but at lake scale the pipeline below it is a
    full corpus pass and recomputing doubles the dominant cost.  Unknown
    size estimates persist — the conservative side at scale."""
    est = _plan_size_bytes(gate_df)
    if est is not None and est < min_bytes:
        return df
    from carbonapi_spark import scratch
    return scratch.track(df)


def bcast_if_small(df: DataFrame, gate_df: DataFrame,
                   min_bytes: int = 1 << 30) -> DataFrame:
    """Apply an explicit ``F.broadcast`` hint ONLY while the corpus
    feeding ``df`` is small enough that the derived table (a count /
    vocab / statistics table, sublinear in the corpus) is safely
    driver-sized.

    An unconditional hint overrides ``spark.sql.autoBroadcastJoinThreshold``
    and, past the point the table outgrows the driver, degrades to an OOM
    rather than a shuffle join.  Gating on the CORPUS size (the same
    philosophy as ``track_if_large``) keeps the hint — and the measured
    bench plan — at test scale, and lets Catalyst/AQE decide from actual
    runtime sizes at lake scale, where AQE's broadcast promotion picks the
    hint back up whenever the built table really is small."""
    est = _plan_size_bytes(gate_df)
    if est is None or est >= min_bytes:
        return df
    return F.broadcast(df)
