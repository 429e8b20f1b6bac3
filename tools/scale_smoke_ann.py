"""ANN-family scale smoke (VERDICT r11 next-round #5): the HDR-smoke
treatment for IVF/PQ/IVFADC. 10M synthetic 64-dim vectors — 20k fine
subclusters nested in 200 coarse clusters with a decaying noise
spectrum (hash-derandomized; i.i.d. ball noise makes all neighbors
equidistant, which no sublinear method can rank) — through the REAL
deployment path:

  * corpus generation -> Parquet (the index never sees the generator),
  * kmeans_train_sample 256-cell coarse quantizer + pq_train PQ8x8
    codebooks trained on RESIDUALS, both from one 100k driver sample
    (Jegou TPAMI 2011 / FAISS practice: train small, encode big),
  * write_ann_index(store_vectors=True) -> durable
    cell-partitioned IVFADC artifact, one file per cell,
  * the encoder timed alone on a warm 100k slice,
  * nprobe sweep {1,2,4,8,16} + refine sweep {50,200,500} via
    ann_index_topk: probe latency + recall@10 vs brute_force_topk
    ground truth on 32 queries,
  * partition-pruning evidence: PartitionFilters in the probe-side
    scan plan + input_file_name() distinct counts pruned vs full,
  * cell imbalance factor from the index itself (expected ADC scan
    cost per probe is n * sum(frac_i^2) / balanced).

Usage: python tools/scale_smoke_ann.py            (N=10M, ~minutes)
       SMOKE_ANN_N=2000000 python tools/scale_smoke_ann.py   (quick)
Prints one JSON line per case: {"case": ..., "sec": ..., ...}.
Results are recorded in SCALE.md ("Round-12 findings").
"""

import io
import json
import os
import shutil
import sys
import time
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N = int(os.environ.get("SMOKE_ANN_N", 10_000_000))
DIM = 64
TRUE_CLUSTERS = 200          # coarse ground-truth structure
FINE_CLUSTERS = 20_000       # fine subclusters (real embedding corpora
                             # are hierarchical: local manifolds inside
                             # topical clusters — i.i.d. ball noise
                             # makes all neighbors equidistant, which
                             # no sublinear method can rank)
N_CENTROIDS = 256            # coarse quantizer: the ~sqrt(N)/40 rule —
                             # too few cells leaves multiple coarse
                             # clusters per cell and PQ spends its
                             # codewords on the inter-cluster modes
                             # instead of the fine structure (measured:
                             # 64 cells at 10M collapsed recall to 0.06)
M, KSUB = 8, 256             # PQ8x8: 8 subspaces x 256 codewords = 8 B/vec
K = 10
N_QUERIES = 32
REFINE = 200
NPROBES = (1, 2, 4, 8, 16)
WORK = os.environ.get("SMOKE_ANN_DIR", "/tmp/ann_smoke")


def emit(**kw):
    print(json.dumps(kw), flush=True)


def main():
    from pyspark.sql import SparkSession, functions as F

    from carbonapi_spark.datapipe.similarity import (
        ann_index_topk, brute_force_topk, kmeans_train_sample, pq_train,
        write_ann_index)

    spark = (SparkSession.builder.master("local[32]")
             .config("spark.sql.shuffle.partitions", "32")
             .config("spark.driver.memory", "16g")
             .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    shutil.rmtree(WORK, ignore_errors=True)

    # ---- corpus: hierarchical hash-derandomized structure — 200
    # coarse centers in [-1,1]^64, 20k fine subcluster offsets (scale
    # 0.35 * 0.9^i) nested inside them, per-vector noise (0.1 * 0.87^i,
    # below the fine-offset scale so true neighbors = same subcluster).
    # Written to Parquet so every later stage reads a real on-disk
    # table, not the generator expression.
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
    emit(case="corpus_gen", sec=round(time.time() - t, 2), rows=N, dim=DIM)

    # ---- training: one collected 100k sample feeds both the coarse
    # quantizer (kmeans_train_sample — FAISS practice; the distributed
    # kmeans_centroids is the full-corpus alternative) and the PQ
    # codebooks — model-sized driver state only. It is the lowest vec_ids
    # of a hash-picked 1/101, so every run trains on the same rows.
    t = time.time()
    sample = [list(r["embedding"]) for r in
              (corpus.where(F.pmod(F.xxhash64("vec_id"), F.lit(101)) == 0)
               .orderBy("vec_id").limit(100_000).collect())]
    cents = kmeans_train_sample(sample, k=N_CENTROIDS, iters=10)
    t_kmeans = time.time() - t
    t = time.time()
    # PQ codebooks train on RESIDUALS — the quantity they encode under
    # residual=True (FAISS IVFADC trains exactly this way)
    import numpy as np
    X = np.asarray(sample[:20_000], dtype=np.float64)
    C = np.asarray(cents, dtype=np.float64)
    d = (C * C).sum(axis=1) - 2.0 * (X @ C.T)
    res = X - C[d.argmin(axis=1)]
    cbs = pq_train(res.tolist(), m=M, ksub=KSUB, iters=12)
    t_pq = time.time() - t
    emit(case="train", sec=round(t_kmeans + t_pq, 2),
         kmeans_sec=round(t_kmeans, 2), pq_sec=round(t_pq, 2),
         n_centroids=N_CENTROIDS, m=M, ksub=KSUB)

    # ---- the encoder alone on a 100k slice (numpy matmuls with the
    # fold-order near-tie guard, pinned equal to the SQL fold in
    # tests/test_ann_arrow.py); the aggregate forces the full encode.
    slice_df = corpus.where(F.col("vec_id") < 100_000)
    from carbonapi_spark.datapipe.similarity import ivfpq_encode
    force = lambda d: d.agg(F.sum(F.xxhash64("cell", "codes")
                                  .cast("double"))).collect()
    # spawn+warm the Python workers so the timing is the steady
    # state, not 32 interpreter startups (measured: 6.7s cold vs 1.2s
    # warm at 100k rows)
    force(ivfpq_encode(slice_df.limit(2048), cbs, cents, l2_cells=True,
                       residual=True))
    t = time.time()
    force(ivfpq_encode(slice_df, cbs, cents, l2_cells=True,
                       residual=True))
    emit(case="encode_100k", sec=round(time.time() - t, 2))

    # ---- index build: encode the full corpus + write the durable
    # cell-partitioned layout (residual=True = faithful FAISS IVFADC).
    t = time.time()
    write_ann_index(corpus, f"{WORK}/index", cbs, cents,
                    l2_cells=True, residual=True, store_vectors=True)
    t_build = time.time() - t
    codes = spark.read.parquet(f"{WORK}/index/codes")
    emit(case="index_build", sec=round(t_build, 2),
         code_rows=codes.count(),
         bytes_per_vec=M, files=len(codes.inputFiles()))

    # ---- cell imbalance straight off the index (no extra corpus pass):
    # expected ADC rows scanned per probe = n * sum(frac_i^2); imbalance
    # = that / (n / k) — 1.0 is perfectly balanced.
    pops = [r["n"] for r in
            codes.groupBy("cell").agg(F.count(F.lit(1)).alias("n"))
            .collect()]
    total = sum(pops)
    imb = sum((p / total) ** 2 for p in pops) * len(pops)
    emit(case="cell_stats", cells=len(pops), max_frac=round(
        max(pops) / total, 4), imbalance=round(imb, 3))

    # ---- 32 queries sampled from the corpus (exact self is excluded by
    # the operators); collected once so probes don't rescan the lake.
    qrows = (corpus.where(F.pmod(F.xxhash64("vec_id"), F.lit(4096)) == 7)
             .orderBy("vec_id").limit(N_QUERIES).collect())
    query = spark.createDataFrame(
        [(r["vec_id"], list(r["embedding"])) for r in qrows],
        "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    nq = query.count()

    # ---- ground truth: exact brute-force cosine top-10 (pinned
    # pair- and value-identical to the SQL fold in
    # tests/test_ann_arrow.py).
    t = time.time()
    truth = {(r["query_id"], r["neighbor_id"])
             for r in brute_force_topk(corpus, query, k=K).collect()}
    t_brute = time.time() - t
    emit(case="brute_force", sec=round(t_brute, 2), queries=nq,
         pairs=len(truth))

    # ---- partition-pruning evidence at nprobe=4: the probed scan's
    # plan must carry PartitionFilters on cell, and inputFiles() must
    # shrink ~nprobe/n_centroids vs the full index.
    probe_cells = list(range(1, 5))
    pruned = codes.where(F.col("cell").isin(probe_cells))
    buf = io.StringIO()
    with redirect_stdout(buf):
        pruned.explain("formatted")
    plan = buf.getvalue()
    has_pf = "PartitionFilters" in plan and "cell" in plan
    # inputFiles() ignores partition pruning (it lists the relation);
    # input_file_name() counts the files a scan ACTUALLY read.
    emit(case="partition_pruning", partition_filters=has_pf,
         files_full=codes.select(F.input_file_name()).distinct().count(),
         files_pruned=pruned.select(F.input_file_name()).distinct()
         .count())

    # ---- warmup probe (index read + plan compile) so sweep timings
    # compare probe work, not first-touch overhead.
    ann_index_topk(spark, f"{WORK}/index", query, k=K,
                   nprobe=1).collect()

    # ---- nprobe sweep: durable-index probe with exact top-200 refine.
    for nprobe in NPROBES:
        t = time.time()
        got = {(r["query_id"], r["neighbor_id"])
               for r in ann_index_topk(spark, f"{WORK}/index", query,
                                       k=K, nprobe=nprobe,
                                       refine=REFINE).collect()}
        sec = time.time() - t
        emit(case=f"ivfadc_nprobe_{nprobe}", sec=round(sec, 2),
             nprobe=nprobe, recall_at_10=round(len(got & truth)
                                               / max(len(truth), 1), 4),
             speedup_vs_brute=round(t_brute / sec, 2))

    # ---- stored-vector vs full-corpus rerank at nprobe=4: the
    # store_vectors layout turns refine's vector gather into a
    # partition-pruned read instead of a second corpus scan.
    t = time.time()
    ann_index_topk(spark, f"{WORK}/index", query, k=K, nprobe=4,
                   refine=REFINE, corpus=corpus).collect()
    emit(case="refine_via_corpus_scan", sec=round(time.time() - t, 2))

    # ---- refine sweep at nprobe=4: with cluster-shaped corpora the
    # true top-10 sit inside one cell, so rerank depth — not nprobe —
    # is the recall knob; this is the recall-vs-rerank-cost tradeoff.
    for refine in (50, 500):
        t = time.time()
        got = {(r["query_id"], r["neighbor_id"])
               for r in ann_index_topk(spark, f"{WORK}/index", query,
                                       k=K, nprobe=4,
                                       refine=refine).collect()}
        emit(case=f"ivfadc_refine_{refine}", sec=round(time.time() - t, 2),
             refine=refine, recall_at_10=round(len(got & truth)
                                               / max(len(truth), 1), 4))

    # ---- ADC-only (no refine) at nprobe=8: compressed-domain ranking
    # quality without the exact rerank.
    t = time.time()
    adc = {(r["query_id"], r["neighbor_id"])
           for r in ann_index_topk(spark, f"{WORK}/index", query,
                                   k=K, nprobe=8).collect()}
    emit(case="adc_only_nprobe_8", sec=round(time.time() - t, 2),
         recall_at_10=round(len(adc & truth) / max(len(truth), 1), 4))

    spark.stop()


if __name__ == "__main__":
    main()
