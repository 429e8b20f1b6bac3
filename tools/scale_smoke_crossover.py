"""Measure the exact-vs-index crossover (upgrades ann_auto_topk's
derived 4M default to a measurement).

At each corpus size N in the sweep: build the durable IVFADC artifact
(store_vectors, 256 cells — the scale_smoke_ann.py
recipe), then time (warm, min-of-2) the two routes ann_auto_topk picks
between — the vectorized exact kernel vs the index probe
with exact refine — on the same 32 queries.  The crossover is the N
where the index route first wins.

Usage: python tools/scale_smoke_crossover.py
       SMOKE_XO_SIZES=1000000,4000000 python tools/scale_smoke_crossover.py
Prints one JSON line per (N, route); recorded in SCALE.md ("Round-13
findings").
"""

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SIZES = [int(s) for s in os.environ.get(
    "SMOKE_XO_SIZES", "1000000,2000000,4000000,8000000").split(",")]
DIM = 64
TRUE_CLUSTERS = 200
FINE_CLUSTERS = 20_000
N_CENTROIDS = 256
M, KSUB = 8, 256
K = 10
N_QUERIES = 32
NPROBE = 2
REFINE = 200
WORK = os.environ.get("SMOKE_XO_DIR", "/tmp/ann_xo_smoke")


def emit(**kw):
    print(json.dumps(kw), flush=True)


def main():
    from pyspark.sql import SparkSession, functions as F

    from carbonapi_spark.datapipe.similarity import (
        ann_index_topk, brute_force_topk, kmeans_train_sample,
        pq_train, write_ann_index)

    spark = (SparkSession.builder.master("local[32]")
             .config("spark.sql.shuffle.partitions", "32")
             .config("spark.driver.memory", "16g")
             .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    shutil.rmtree(WORK, ignore_errors=True)

    nmax = max(SIZES)
    fine = f"(id % {FINE_CLUSTERS})"
    coarse = f"({fine} % {TRUE_CLUSTERS})"
    u = "(pmod(xxhash64({k}, {i}), 2000) / 1000.0D - 1.0D)"
    gen = spark.range(nmax).select(
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
    full = spark.read.parquet(f"{WORK}/corpus")

    # one trained quantizer pair serves every size (the model is
    # corpus-shape-, not corpus-size-, dependent)
    sample = [list(r["embedding"]) for r in
              (full.where(F.pmod(F.xxhash64("vec_id"), F.lit(101)) == 0)
               .limit(100_000).collect())]
    cents = kmeans_train_sample(sample, k=N_CENTROIDS, iters=10)
    import numpy as np
    X = np.asarray(sample[:20_000], dtype=np.float64)
    C = np.asarray(cents, dtype=np.float64)
    d = (C * C).sum(axis=1) - 2.0 * (X @ C.T)
    cbs = pq_train((X - C[d.argmin(axis=1)]).tolist(), m=M, ksub=KSUB,
                   iters=12)

    qrows = (full.where(F.pmod(F.xxhash64("vec_id"), F.lit(4096)) == 7)
             .limit(N_QUERIES).collect())
    query = spark.createDataFrame(
        [(r["vec_id"], list(r["embedding"])) for r in qrows],
        "vec_id BIGINT, embedding ARRAY<DOUBLE>")

    def best_of_2(fn):
        fn()                      # warm (plan + page cache)
        t = time.time(); fn(); a = time.time() - t
        t = time.time(); fn(); b = time.time() - t
        return round(min(a, b), 2)

    for n in SIZES:
        # materialize the size slice so both routes scan a real table
        sub_path = f"{WORK}/corpus_{n}"
        full.where(F.col("vec_id") < n).write.mode("overwrite") \
            .parquet(sub_path)
        sub = spark.read.parquet(sub_path)
        t = time.time()
        write_ann_index(sub, f"{WORK}/index_{n}", cbs, cents,
                        l2_cells=True, residual=True, store_vectors=True)
        t_build = round(time.time() - t, 2)
        exact_sec = best_of_2(
            lambda: brute_force_topk(sub, query, k=K).count())
        index_sec = best_of_2(
            lambda: ann_index_topk(spark, f"{WORK}/index_{n}", query,
                                   k=K, nprobe=NPROBE,
                                   refine=REFINE).count())
        emit(n=n, build_sec=t_build, exact_sec=exact_sec,
             index_sec=index_sec,
             winner="index" if index_sec < exact_sec else "exact")
        shutil.rmtree(f"{WORK}/index_{n}", ignore_errors=True)
        shutil.rmtree(sub_path, ignore_errors=True)

    spark.stop()


if __name__ == "__main__":
    main()
