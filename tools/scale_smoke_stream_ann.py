"""Streaming ANN-append scale smoke (VERDICT r12 next-round #7).

The batch build and the probe are measured at 10M (scale_smoke_ann.py);
this measures the STREAMING ingest twin on the same corpus shape:

  * 9M-vector durable IVFADC index (store_vectors),
  * a 1M-vector delta written as 8 parquet files and replayed through
    ``stream_append_ann_index`` with maxFilesPerTrigger=1 — 8 real
    micro-batches under availableNow; sustained append throughput from
    the StreamingQuery's own recentProgress batch durations,
  * probe freshness: a query drawn FROM the delta finds its true
    (same-fine-subcluster) neighbors immediately after the stream
    drains,
  * fragmentation: files-per-cell before/after the append (cell-aligned
    appends add ~1 file per touched cell per micro-batch — bounded, but
    cumulative), probe latency before/after, and both again after
    ``compact_ann_index`` (back to one file per cell, duplicates gone).

Usage: python tools/scale_smoke_stream_ann.py        (N=10M total)
       SMOKE_ANN_N=2000000 python tools/scale_smoke_stream_ann.py
Prints one JSON line per case; recorded in SCALE.md ("Round-13
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
BATCH_FILES = 8
WORK = os.environ.get("SMOKE_ANN_DIR", "/tmp/ann_stream_smoke")


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
    shutil.rmtree(WORK, ignore_errors=True)

    # same hierarchical hash-derandomized corpus as scale_smoke_ann.py
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
    gen.repartition(64).write.mode("overwrite").parquet(f"{WORK}/corpus")
    corpus = spark.read.parquet(f"{WORK}/corpus")
    base = corpus.where(F.col("vec_id") < N - DELTA)
    delta = corpus.where(F.col("vec_id") >= N - DELTA)
    emit(case="corpus_gen", sec=round(time.time() - t, 2), rows=N,
         base=N - DELTA, delta=DELTA)

    # training on a 100k sample of the BASE only (the delta arrives
    # later; frozen-quantizer semantics)
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
    emit(case="index_build_9m", sec=round(time.time() - t, 2))

    codes = lambda: spark.read.parquet(f"{WORK}/index/codes")

    def files_per_cell():
        rows = (codes()
                .select("cell", F.input_file_name().alias("f"))
                .groupBy("cell").agg(F.countDistinct("f").alias("nf"))
                .agg(F.sum("nf").alias("total"), F.max("nf").alias("mx"),
                     F.avg("nf").alias("avg")).collect()[0])
        return int(rows["total"]), int(rows["mx"]), round(rows["avg"], 2)

    # queries drawn FROM the delta: freshness means the probe finds
    # their same-fine-subcluster neighbors only after the append
    qrows = (delta.where(F.pmod(F.xxhash64("vec_id"), F.lit(512)) == 7)
             .limit(N_QUERIES).collect())
    query = spark.createDataFrame(
        [(r["vec_id"], list(r["embedding"])) for r in qrows],
        "vec_id BIGINT, embedding ARRAY<DOUBLE>")

    probe = lambda: ann_index_topk(spark, f"{WORK}/index", query, k=K,
                                   nprobe=NPROBE, refine=REFINE)
    probe().collect()                      # warm plan/index read
    tot0, mx0, avg0 = files_per_cell()
    t = time.time()
    pre = {(r["query_id"], r["neighbor_id"]) for r in probe().collect()}
    t_pre = time.time() - t
    pre_delta_hits = sum(1 for _, n in pre if n >= N - DELTA)
    emit(case="probe_before_append", sec=round(t_pre, 2),
         files_total=tot0, files_max_per_cell=mx0,
         files_avg_per_cell=avg0, delta_neighbors_visible=pre_delta_hits)

    # ---- the streamed append: 8 parquet files, one per micro-batch
    delta.repartition(BATCH_FILES).write.mode("overwrite") \
        .parquet(f"{WORK}/delta_src")
    stream = (spark.readStream.schema(delta.schema)
              .option("maxFilesPerTrigger", 1).parquet(f"{WORK}/delta_src"))
    t = time.time()
    q = stream_append_ann_index(stream, f"{WORK}/index",
                                checkpoint_dir=f"{WORK}/ckpt")
    q.awaitTermination()
    t_stream = time.time() - t
    prog = [p for p in (q.recentProgress or []) if p]
    batch_secs = [round(p["batchDuration"] / 1000.0, 2) for p in prog
                  if p.get("batchDuration")]
    # rows from the index itself (recentProgress numInputRows
    # double-counts retrigger entries — measured 72.8k for a 40k delta)
    rows_appended = codes().count() - (N - DELTA)
    emit(case="stream_append_1m", sec=round(t_stream, 2),
         micro_batches=len(batch_secs), batch_secs=batch_secs,
         rows=rows_appended,
         rows_per_sec=round(rows_appended / max(t_stream, 1e-9)))

    tot1, mx1, avg1 = files_per_cell()
    t = time.time()
    post = {(r["query_id"], r["neighbor_id"]) for r in probe().collect()}
    t_post = time.time() - t
    post_delta_hits = sum(1 for _, n in post if n >= N - DELTA)
    emit(case="probe_after_append", sec=round(t_post, 2),
         files_total=tot1, files_max_per_cell=mx1,
         files_avg_per_cell=avg1,
         delta_neighbors_visible=post_delta_hits,
         freshness_gain=post_delta_hits - pre_delta_hits)

    # ---- compaction: back to one file per cell, same probe results
    t = time.time()
    stats = compact_ann_index(spark, f"{WORK}/index")
    t_cmp = time.time() - t
    tot2, mx2, avg2 = files_per_cell()
    t = time.time()
    cmp_rows = {(r["query_id"], r["neighbor_id"])
                for r in probe().collect()}
    t_cprobe = time.time() - t
    emit(case="compact", sec=round(t_cmp, 2), **stats,
         files_total=tot2, files_max_per_cell=mx2,
         files_avg_per_cell=avg2,
         probe_sec_after=round(t_cprobe, 2),
         probe_identical=cmp_rows == post)

    spark.stop()


if __name__ == "__main__":
    main()
