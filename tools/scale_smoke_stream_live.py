"""Sustained processingTime streaming-append smoke (VERDICT r13 #7).

scale_smoke_stream_ann.py certifies the availableNow drain; this one
certifies the LIVE operational loop the docstrings promise:

  * a 9M-vector durable IVFADC index,
  * a continuously RUNNING ``stream_append_ann_index`` with
    ``trigger={"processingTime": "2 seconds"}``,
  * traffic phase 1: delta files land one at a time while the stream
    ticks — appends absorbed live,
  * a traffic PAUSE: with the stream still running (empty ticks — the
    sink's isEmpty() early-return means idle epochs never touch the
    maintenance marker), ``compact_ann_index(fragmented_only=True)``
    rewrites exactly the fragmented cells under the r14
    ``maintenance_lock``,
  * traffic phase 2: more files land on the SAME running stream after
    the compaction,
  * verdict: final index rows == base + full delta (nothing lost on
    either side of the maintenance window), probe from the delta finds
    its neighbors, fragmentation dropped at the pause and resumed
    growing after.

Usage: python tools/scale_smoke_stream_live.py       (N=10M total)
       SMOKE_ANN_N=2000000 python tools/scale_smoke_stream_live.py
       SMOKE_ANN_L0=1 ...     stream into the L0 delta table instead
                              of the cell partitions (r14): main stays
                              one file per cell, each batch is ONE L0
                              file, and the pause compaction FOLDS L0
       SMOKE_REUSE=1 ...      keep {WORK}/corpus from a previous run
                              (skips the ~400 s corpus gen; the index
                              and stream state are always rebuilt)
Prints one JSON line per case; recorded in SCALE.md ("Round-14
findings").
"""

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N = int(os.environ.get("SMOKE_ANN_N", 10_000_000))
DELTA = N // 10
DIM = 64
TRUE_CLUSTERS = 200
FINE_CLUSTERS = 20_000
N_CENTROIDS = 256
M, KSUB = 8, 256
K = 10
N_QUERIES = 32
REFINE = 200
NPROBE = 4
PHASE_FILES = int(os.environ.get("SMOKE_PHASE_FILES", 4))
# files per traffic phase (2 phases); raise for a soak run (e.g.
# SMOKE_PHASE_FILES=10 -> 20 batches through one live stream)
TICK = "2 seconds"
WORK = os.environ.get("SMOKE_ANN_DIR", "/tmp/ann_stream_live_smoke")
L0 = os.environ.get("SMOKE_ANN_L0") == "1"
REUSE = os.environ.get("SMOKE_REUSE") == "1"


def emit(**kw):
    print(json.dumps(kw), flush=True)


def main():
    from pyspark.sql import SparkSession, functions as F

    from carbonapi_spark.datapipe.similarity import (
        ann_index_topk, compact_ann_index, kmeans_train_sample, pq_train,
        stream_append_ann_index, write_ann_index)

    spark = (SparkSession.builder.master("local[32]")
             .config("spark.sql.shuffle.partitions", "32")
             .config("spark.driver.memory", "16g")
             .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    if REUSE and os.path.isdir(f"{WORK}/corpus"):
        for sub in ("index", "ckpt", "live_src", "staged"):
            shutil.rmtree(f"{WORK}/{sub}", ignore_errors=True)
        corpus = spark.read.parquet(f"{WORK}/corpus")
        emit(case="corpus_gen", sec=0.0, rows=N, reused=True)
    else:
        shutil.rmtree(WORK, ignore_errors=True)
        # same hierarchical hash-derandomized corpus as
        # scale_smoke_ann.py
        t = time.time()
        fine = f"(id % {FINE_CLUSTERS})"
        coarse = f"({fine} % {TRUE_CLUSTERS})"
        u = "(pmod(xxhash64({k}, {i}), 2000) / 1000.0D - 1.0D)"
        gen = spark.range(N).select(
            F.col("id").alias("vec_id"),
            F.expr(
                f"transform(sequence(0, {DIM - 1}), i -> round("
                + u.format(k=coarse, i="i")
                + " + 0.35D * pow(0.9D, i) * "
                + u.format(k=fine, i=f"i + {DIM}")
                + " + 0.1D * pow(0.87D, i) * "
                + u.format(k="id", i=f"i + {2 * DIM}")
                + ", 6))"
            ).alias("embedding"))
        gen.repartition(64).write.mode("overwrite") \
            .parquet(f"{WORK}/corpus")
        corpus = spark.read.parquet(f"{WORK}/corpus")
        emit(case="corpus_gen", sec=round(time.time() - t, 2), rows=N)
    base = corpus.where(F.col("vec_id") < N - DELTA)
    delta = corpus.where(F.col("vec_id") >= N - DELTA)

    t = time.time()
    sample = [list(r["embedding"]) for r in
              (base.where(F.pmod(F.xxhash64("vec_id"), F.lit(101)) == 0)
               .limit(100_000).collect())]
    cents = kmeans_train_sample(sample, k=N_CENTROIDS, iters=10)
    import numpy as np
    X = np.asarray(sample[:20_000], dtype=np.float64)
    C = np.asarray(cents, dtype=np.float64)
    d = (C * C).sum(axis=1) - 2.0 * (X @ C.T)
    res = X - C[d.argmin(axis=1)]
    cbs = pq_train(res.tolist(), m=M, ksub=KSUB, iters=12)
    emit(case="train", sec=round(time.time() - t, 2))

    t = time.time()
    write_ann_index(base, f"{WORK}/index", cbs, cents, l2_cells=True,
                    residual=True, store_vectors=True)
    emit(case="index_build", sec=round(time.time() - t, 2),
         rows=N - DELTA)

    codes = lambda: spark.read.parquet(f"{WORK}/index/codes")

    def l0_df():
        # the engine helper tolerates the first-append in-flight
        # window (dir exists, no committed parquet yet)
        from carbonapi_spark.datapipe.maintenance import read_l0
        return read_l0(spark, f"{WORK}/index", "codes")

    def total_rows():
        l0 = l0_df()
        return codes().count() + (l0.count() if l0 is not None else 0)

    def files_per_cell():
        rows = (codes()
                .select("cell", F.input_file_name().alias("f"))
                .groupBy("cell").agg(F.countDistinct("f").alias("nf"))
                .agg(F.sum("nf").alias("total"), F.max("nf").alias("mx"))
                .collect()[0])
        l0 = l0_df()
        n_l0 = (l0.select(F.input_file_name().alias("f"))
                .distinct().count() if l0 is not None else 0)
        return int(rows["total"]), int(rows["mx"]), n_l0

    # stage the delta as 2*PHASE_FILES single-file batches to feed in
    half = DELTA // (2 * PHASE_FILES)
    stage = f"{WORK}/staged"
    for i in range(2 * PHASE_FILES):
        lo = N - DELTA + i * half
        hi = N if i == 2 * PHASE_FILES - 1 else lo + half
        (delta.where((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
         .coalesce(1).write.mode("overwrite").parquet(f"{stage}/{i}"))

    src = f"{WORK}/live_src"
    os.makedirs(src, exist_ok=True)

    def feed(i: int) -> None:
        d = f"{stage}/{i}"
        for fn in os.listdir(d):
            if fn.endswith(".parquet"):
                shutil.copy(f"{d}/{fn}", f"{src}/batch{i}_{fn}")

    stream = (spark.readStream.schema(delta.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = stream_append_ann_index(stream, f"{WORK}/index",
                                checkpoint_dir=f"{WORK}/ckpt",
                                trigger={"processingTime": TICK},
                                l0=L0)

    def drain_to(target_rows: int, timeout: float = 600.0) -> float:
        t0 = time.time()
        while time.time() - t0 < timeout:
            if not q.isActive:
                raise RuntimeError(f"stream died: {q.exception()}")
            if total_rows() >= target_rows:
                return time.time() - t0
            time.sleep(1.0)
        raise TimeoutError(f"target {target_rows} not reached")

    # ---- traffic phase 1: files land one at a time on the live stream
    t = time.time()
    for i in range(PHASE_FILES):
        feed(i)
        time.sleep(1.0)
    sec1 = drain_to(N - DELTA + PHASE_FILES * half)
    tot1, mx1, l01 = files_per_cell()
    emit(case="live_phase1", sec=round(time.time() - t, 2),
         absorbed_sec=round(sec1, 2), files_total=tot1,
         files_max_per_cell=mx1, l0_files=l01, l0=L0,
         stream_active=q.isActive)

    # ---- traffic pause: stream stays up (empty ticks), compact
    time.sleep(4.0)          # a couple of guaranteed-empty ticks
    assert q.isActive
    t = time.time()
    stats = compact_ann_index(spark, f"{WORK}/index",
                              fragmented_only=True)
    t_cmp = time.time() - t
    tot2, mx2, l02 = files_per_cell()
    emit(case="midstream_compact", sec=round(t_cmp, 2), **stats,
         files_total=tot2, files_max_per_cell=mx2, l0_files=l02,
         stream_active=q.isActive)

    # ---- traffic phase 2: same stream absorbs more files after
    t = time.time()
    for i in range(PHASE_FILES, 2 * PHASE_FILES):
        feed(i)
        time.sleep(1.0)
    sec2 = drain_to(N)
    tot3, mx3, l03 = files_per_cell()
    emit(case="live_phase2", sec=round(time.time() - t, 2),
         absorbed_sec=round(sec2, 2), files_total=tot3,
         files_max_per_cell=mx3, l0_files=l03, stream_active=q.isActive)
    q.stop()

    # ---- verdict: nothing lost across the maintenance window
    # (in L0 mode phase 2 lives in codes_l0 — count the union, which
    # is exactly what probes read)
    n_rows = total_rows()
    l0 = l0_df()
    union = codes().select("vec_id") if l0 is None else \
        codes().select("vec_id").union(l0.select("vec_id"))
    n_distinct = union.distinct().count()
    qrows = (delta.where(F.pmod(F.xxhash64("vec_id"), F.lit(512)) == 7)
             .limit(N_QUERIES).collect())
    query = spark.createDataFrame(
        [(r["vec_id"], list(r["embedding"])) for r in qrows],
        "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    t = time.time()
    hits = {(r["query_id"], r["neighbor_id"])
            for r in ann_index_topk(spark, f"{WORK}/index", query, k=K,
                                    nprobe=NPROBE,
                                    refine=REFINE).collect()}
    delta_hits = sum(1 for _, n in hits if n >= N - DELTA)
    emit(case="final_verdict", rows=n_rows, distinct=n_distinct,
         expected=N, complete=(n_distinct == N),
         probe_sec=round(time.time() - t, 2),
         delta_neighbors_visible=delta_hits)

    spark.stop()


if __name__ == "__main__":
    main()
