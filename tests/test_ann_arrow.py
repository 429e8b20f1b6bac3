"""The ANN kernels equal the SQL fold they replaced, bit for bit.

``ivfpq_encode``, ``_driver_probe_rows`` and ``brute_force_topk`` are
numpy kernels; every value they return, or that decides an argmax or
argmin, is a left fold from 0.0 in element order.  Each test here builds
the SQL-fold reference from the helpers the SQL paths keep
(``_cell_score_sql``, ``_pq_code_sql``, ``_sqdists_sql``, ``cosine``)
and compares exactly: over all four l2_cells x residual combinations at
dim 16 (small dims = tightest argmin margins), the probe tables at dim
64 / dsub 8, a constructed near-tie row for the encoder guard, chunk
boundaries, ties, NULL and degenerate rows.  The rest of the file pins
the durable-index lifecycle (build, append, stream, compact, delete).
"""

import random

import numpy as np
import pytest
from pyspark.sql import Window, functions as F

from carbonapi_spark.datapipe import similarity
from carbonapi_spark.datapipe.similarity import (
    _cb_sql, _cell_score_sql, _driver_probe_rows, _pq_code_sql,
    _sqdists_sql, ann_index_topk, brute_force_topk, cosine, ivf_centroids,
    ivfpq_encode, ivfpq_topk, pq_codebooks, write_ann_index)
from carbonapi_spark.sqltext import selectx

DIM, M, KSUB, K_CELLS, N = 16, 4, 8, 6, 300
V = "cast(embedding as array<double>)"


@pytest.fixture(scope="module")
def vecs(spark):
    rng = random.Random(7)
    rows = [(i, [round(rng.uniform(-1, 1), 6) for _ in range(DIM)])
            for i in range(N)]
    return spark.createDataFrame(rows, "vec_id BIGINT, "
                                       "embedding ARRAY<DOUBLE>")


def _centroids(l2, dim=DIM):
    if not l2:
        return ivf_centroids(dim, K_CELLS, seed=43)
    # off-sphere centroids so the l2 scoring branch actually differs
    rng = random.Random(11)
    return [[round(rng.uniform(-1.5, 1.5), 6) for _ in range(dim)]
            for _ in range(K_CELLS)]


def _encoded(df):
    return {r["vec_id"]: (r["cell"], None if r["codes"] is None
                          else list(r["codes"]))
            for r in df.collect()}


def _sql_encode(df, cbs, cents, l2_cells=False, residual=False):
    """The SQL-fold encoder: argmax cell score, codes by the strict-<
    argmin fold, from the residual ``e - c_cell`` when ``residual``."""
    base = selectx(selectx(df, "vec_id", f"{V} as __v",
                           f"{_cell_score_sql(V, cents, l2_cells)} as __d"),
                   "vec_id", "__v",
                   "cast(array_position(__d, array_max(__d)) as int)"
                   " as cell")
    src = "__v"
    if residual:
        base = selectx(base, "vec_id", "cell",
                       f"zip_with(__v, element_at({_cb_sql(cents)}, cell),"
                       f" (x, y) -> x - y) as __r")
        src = "__r"
    return _encoded(selectx(base, "vec_id", "cell",
                            f"{_pq_code_sql(src, cbs)} as codes"))


def _sql_probe_rows(query, cents, cbs, nprobe, l2, residual):
    """The SQL-fold probe tables: each query's ``nprobe`` best cells by
    ``_cell_score_sql`` (ties to the lowest cell), each with its
    ``_sqdists_sql`` distance table."""
    dsub = len(cbs[0][0])
    w = Window.partitionBy("query_id").orderBy(F.col("__s").desc(),
                                               F.col("__pos"))
    probes = (selectx(query, "vec_id as query_id", f"{V} as __v",
                      f"{_cell_score_sql(V, cents, l2)} as __d")
              .select("query_id", "__v",
                      F.posexplode("__d").alias("__pos", "__s"))
              .withColumn("__rk", F.row_number().over(w))
              .where(F.col("__rk") <= nprobe)
              .select("query_id", "__v",
                      (F.col("__pos") + 1).cast("int").alias("cell")))
    src = "__v"
    if residual:
        probes = selectx(probes, "query_id", "cell",
                         f"zip_with(__v, element_at({_cb_sql(cents)}, "
                         f"cell), (x, y) -> x - y) as __r")
        src = "__r"
    dtab = "array(" + ",".join(_sqdists_sql(src, cbs[j], j, dsub)
                               for j in range(len(cbs))) + ")"
    return sorted((r["query_id"], r["cell"], [list(t) for t in r["dtab"]])
                  for r in selectx(probes, "query_id", "cell",
                                   f"{dtab} as dtab").collect())


def _probe_rows(query, cents, cbs, nprobe, l2, residual):
    return sorted(_driver_probe_rows(query, cents, cbs, nprobe, "vec_id",
                                     "embedding", l2, residual))


def _pairs(df):
    return {(r["query_id"], r["neighbor_id"]): r["cos_sim"]
            for r in df.collect()}


def _sql_topk(corpus, query, k):
    """The SQL-fold exact top-k: ``cosine()`` rounded HALF_UP to 6 dp,
    ties to the lowest neighbor_id, NULL similarities (NULL or
    zero-norm rows) dropped."""
    q = query.select(F.col("vec_id").alias("query_id"),
                     F.col("embedding").cast("array<double>").alias("__qv"))
    c = corpus.select(F.col("vec_id").alias("neighbor_id"),
                      F.col("embedding").cast("array<double>")
                      .alias("__cv"))
    sims = (c.crossJoin(q)
            .where(F.col("neighbor_id") != F.col("query_id"))
            .select("query_id", "neighbor_id",
                    F.round(cosine(F.col("__qv"), F.col("__cv")), 6)
                    .alias("cos_sim"))
            .where(F.col("cos_sim").isNotNull()))
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(),
                                               F.col("neighbor_id"))
    return _pairs(sims.withColumn("__rk", F.row_number().over(w))
                  .where(F.col("__rk") <= k).drop("__rk"))


@pytest.mark.parametrize("l2_cells", [False, True])
@pytest.mark.parametrize("residual", [False, True])
def test_arrow_encoder_matches_sql(vecs, l2_cells, residual):
    cbs = pq_codebooks(DIM, M, KSUB, seed=44)
    cents = _centroids(l2_cells)
    got = _encoded(ivfpq_encode(vecs, cbs, cents, l2_cells=l2_cells,
                                residual=residual))
    assert got == _sql_encode(vecs, cbs, cents, l2_cells, residual)


def test_arrow_encoder_chunking(vecs, monkeypatch):
    """Internal chunk boundaries must not change the output."""
    cbs = pq_codebooks(DIM, M, KSUB, seed=44)
    cents = _centroids(False)
    big = _encoded(ivfpq_encode(vecs, cbs, cents))
    monkeypatch.setattr(similarity, "_ENCODE_CHUNK", 17)
    assert _encoded(ivfpq_encode(vecs, cbs, cents)) == big


def test_encoder_guard_resolves_near_ties(spark):
    """Constructed near-ties, where BLAS and the fold can disagree.

    Row 1, cells: the fold of x.c0 = 1 + 2^-53 + 2^-53 rounds twice to
    1.0, while x.c1 = 1 + 2^-52 is exact; the exact dots tie.  The fold
    picks cell 2, any other summation order may pick cell 1.

    Row 2, codes: |sub - cw|^2 folds to 1.0 for both codewords of
    subspace 0, so the fold's argmin is code 1; BLAS's |cw|^2 - 2 sub.cw
    is exact here and picks code 2.  Only the guard's fold re-score gets
    both rows right."""
    t = 2.0 ** -53
    h = 2.0 ** -27
    cents = [[1.0, 1.0, 1.0, 0.0, 0.0, 0.0],
             [1.0, 2.0, 0.0, 0.0, 0.0, 0.0]]
    cbs = [[[0.0, 0.0, 0.0], [0.0, h, h]],
           [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]]]
    df = spark.createDataFrame(
        [(1, [1.0, t, t, 0.5, 0.25, 0.125]),
         (2, [1.0, h, h, 0.0, 0.0, 0.0])],
        "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    sub = np.array([[1.0, h, h]])
    cb = np.array(cbs[0])
    blas = ((cb * cb).sum(axis=1) - 2.0 * (sub @ cb.T)).argmin(axis=1)
    assert blas[0] + 1 == 2            # what the unguarded kernel picks
    got = _encoded(ivfpq_encode(df, cbs, cents))
    assert got == _sql_encode(df, cbs, cents)
    assert got[1][0] == 2 and got[2][1][0] == 1


def test_write_ann_index_arrow_round_trip(vecs, spark, tmp_path):
    """write_ann_index persists exactly the SQL-fold codes, and probing
    the durable artifact equals the in-memory ivfpq_topk."""
    cbs = pq_codebooks(DIM, M, KSUB, seed=44)
    cents = _centroids(True)
    p = str(tmp_path / "idx")
    write_ann_index(vecs, p, cbs, cents, l2_cells=True, residual=True)
    assert _encoded(spark.read.parquet(f"{p}/codes")) == _sql_encode(
        vecs, cbs, cents, l2_cells=True, residual=True)

    query = vecs.where(F.col("vec_id") % 97 == 3)
    got = ann_index_topk(spark, p, query, k=5, nprobe=2, refine=20,
                         corpus=vecs)
    want = ivfpq_topk(vecs, query, k=5, nprobe=2, codebooks=cbs,
                      centroids=cents, residual=True, refine=20)
    assert _pairs(got) == _pairs(want)


def test_store_vectors_refine_without_corpus(vecs, spark, tmp_path):
    """store_vectors=True rides raw vectors in the cell partitions;
    refine then needs no corpus= and returns the same top-k as the
    full-corpus rerank (candidates only ever come from probed cells)."""
    cbs = pq_codebooks(DIM, M, KSUB, seed=44)
    cents = _centroids(True)
    p = str(tmp_path / "sv")
    write_ann_index(vecs, p, cbs, cents, l2_cells=True, residual=True,
                    store_vectors=True)
    rows = {r["vec_id"]: (r["cell"], list(r["codes"]), list(r["embedding"]))
            for r in spark.read.parquet(f"{p}/codes").collect()}
    want = _sql_encode(vecs, cbs, cents, l2_cells=True, residual=True)
    assert {i: v[:2] for i, v in rows.items()} == want
    assert {i: v[2] for i, v in rows.items()} == {
        r["vec_id"]: list(r["embedding"]) for r in vecs.collect()}

    query = vecs.where(F.col("vec_id") % 97 == 3)
    stored = {(r["query_id"], r["neighbor_id"])
              for r in ann_index_topk(spark, p, query, k=5, nprobe=2,
                                      refine=20).collect()}
    full = {(r["query_id"], r["neighbor_id"])
            for r in ann_index_topk(spark, p, query, k=5, nprobe=2,
                                    refine=20, corpus=vecs).collect()}
    assert stored == full


@pytest.mark.parametrize("residual", [False, True])
def test_driver_probe_tables_match_sql(vecs, residual):
    """The probe rows ivfpq_topk and ann_index_topk join: same cells,
    same ADC tables as the SQL fold, bit for bit."""
    cbs = pq_codebooks(DIM, M, KSUB, seed=44)
    cents = _centroids(True)
    query = vecs.where(F.col("vec_id") % 23 == 3)
    assert _probe_rows(query, cents, cbs, 3, True, residual) == \
        _sql_probe_rows(query, cents, cbs, 3, True, residual)


@pytest.mark.parametrize("l2", [False, True])
@pytest.mark.parametrize("residual", [False, True])
def test_probe_tables_equal_sql_fold_at_dim64(spark, l2, residual):
    """At dsub 8 numpy's pairwise sum adds in another order than the
    fold, so a kernel summing with ``.sum`` differs in the last bits on
    most table entries; the fold-order kernel equals the SQL exactly."""
    dim = 64
    rng = random.Random(5)
    query = spark.createDataFrame(
        [(i, [round(rng.uniform(-1, 1), 6) for _ in range(dim)])
         for i in range(30)], "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    cents = _centroids(l2, dim)
    cbs = pq_codebooks(dim, 8, 16, seed=44)
    assert _probe_rows(query, cents, cbs, 3, l2, residual) == \
        _sql_probe_rows(query, cents, cbs, 3, l2, residual)


def test_brute_force_arrow_matches_sql(vecs, monkeypatch):
    """The exact-kNN ground-truth kernel returns the SQL fold's pairs
    and values exactly, whatever the chunk boundaries."""
    query = vecs.where(F.col("vec_id") % 41 == 5)
    want = _sql_topk(vecs, query, 7)
    assert _pairs(brute_force_topk(vecs, query, k=7)) == want
    monkeypatch.setattr(similarity, "_SCAN_CHUNK", 17)
    assert _pairs(brute_force_topk(vecs, query, k=7)) == want


def test_brute_force_arrow_tie_break_on_duplicates(spark, monkeypatch):
    """15 duplicate vectors nearest the query, k=10: the preselection
    must keep ALL boundary ties so the global window resolves them to
    the lowest neighbor_ids, exactly like the SQL fold."""
    rng = random.Random(9)
    target = [round(rng.uniform(-1, 1), 6) for _ in range(DIM)]
    far = [[round(rng.uniform(-1, 1), 6) for _ in range(DIM)]
           for _ in range(30)]
    rows = [(i, list(target)) for i in range(15)]          # duplicates
    rows += [(100 + i, v) for i, v in enumerate(far)]
    rows += [(999, list(target))]                          # the query
    df = spark.createDataFrame(rows, "vec_id BIGINT, "
                                     "embedding ARRAY<DOUBLE>")
    query = df.where(F.col("vec_id") == 999)
    monkeypatch.setattr(similarity, "_SCAN_CHUNK", 7)
    got = _pairs(brute_force_topk(df, query, k=10))
    assert got == _sql_topk(df, query, 10)
    # the ten duplicates with the LOWEST ids win
    assert {n for _, n in got} == set(range(10))


def test_arrow_kernels_handle_null_embeddings(spark):
    """One NULL embedding must not abort a 10M-row job: the encoder
    emits the SQL fold's exact (cell=NULL, codes=[0]*m) rows, and
    brute_force_topk omits NULL and zero-norm rows."""
    rng = random.Random(3)
    rows = [(i, [round(rng.uniform(-1, 1), 6) for _ in range(DIM)])
            for i in range(40)]
    rows += [(98, None), (99, [0.0] * DIM)]
    df = spark.createDataFrame(rows, "vec_id BIGINT, "
                                     "embedding ARRAY<DOUBLE>")
    cbs = pq_codebooks(DIM, M, KSUB, seed=44)
    cents = _centroids(True)
    for residual in (False, True):
        got = _encoded(ivfpq_encode(df, cbs, cents, l2_cells=True,
                                    residual=residual))
        assert got == _sql_encode(df, cbs, cents, True, residual)
        assert got[98] == (None, [0] * M)
    query = df.where(F.col("vec_id") == 5)
    got = _pairs(brute_force_topk(df, query, k=7))
    assert got == _sql_topk(df, query, 7)
    assert len(got) == 7 and all(n not in (98, 99) for _, n in got)


def test_kmeans_train_sample_deterministic_and_clusters():
    """Driver-side coarse-quantizer training: deterministic for a fixed
    (sample, k, seed), and on well-separated blobs it recovers one
    centroid per blob (the property the IVF cell layout depends on)."""
    import numpy as np
    from carbonapi_spark.datapipe.similarity import kmeans_train_sample
    rng = np.random.default_rng(5)
    blobs = np.array([[0.0, 0.0], [10.0, 0.0], [0.0, 10.0], [10.0, 10.0]])
    x = (blobs[rng.integers(0, 4, 400)]
         + 0.1 * rng.standard_normal((400, 2))).tolist()
    a = kmeans_train_sample(x, k=4, iters=10, seed=43)
    b = kmeans_train_sample(x, k=4, iters=10, seed=43)
    assert a == b
    got = sorted((round(cx), round(cy)) for cx, cy in a)
    assert got == [(0, 0), (0, 10), (10, 0), (10, 10)]


def test_stream_append_ann_index_equals_batch_build(vecs, spark,
                                                    tmp_path):
    """Building on half the corpus, then streaming the other half in
    two micro-batches through stream_append_ann_index, equals the
    one-shot full build — codes table and probe results both."""
    from carbonapi_spark.datapipe.similarity import stream_append_ann_index
    cbs = pq_codebooks(DIM, M, KSUB, seed=44)
    cents = _centroids(True)
    full, grown = str(tmp_path / "full"), str(tmp_path / "grown")
    write_ann_index(vecs, full, cbs, cents, l2_cells=True, residual=True)
    first = vecs.where(F.col("vec_id") < N // 2)
    rest = vecs.where(F.col("vec_id") >= N // 2)
    write_ann_index(first, grown, cbs, cents, l2_cells=True,
                    residual=True)
    src = str(tmp_path / "src")
    rest.repartition(2).write.mode("overwrite").parquet(src)
    stream = (spark.readStream.schema(rest.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = stream_append_ann_index(stream, grown,
                                checkpoint_dir=str(tmp_path / "ckpt"))
    q.awaitTermination()
    read = lambda p: {r["vec_id"]: (r["cell"], list(r["codes"]))
                      for r in spark.read.parquet(f"{p}/codes").collect()}
    assert read(grown) == read(full)
    query = vecs.where(F.col("vec_id") % 97 == 3)
    topk = lambda p: {(r["query_id"], r["neighbor_id"])
                      for r in ann_index_topk(spark, p, query, k=5,
                                              nprobe=2).collect()}
    assert topk(grown) == topk(full)


def test_ann_appends_refuse_under_maintenance_marker(vecs, spark,
                                                     tmp_path):
    """VERDICT r13 #5: both ANN append paths fail LOUDLY while a
    ``_MAINTENANCE`` marker is present — the batch append raises
    immediately, and a streaming epoch fails its query (the checkpoint
    replays it after maintenance) instead of appending into a mid-swap
    index."""
    import pytest

    from carbonapi_spark.datapipe.maintenance import maintenance_lock
    from carbonapi_spark.datapipe.similarity import (
        append_ann_index, stream_append_ann_index)
    cbs = pq_codebooks(DIM, M, KSUB, seed=44)
    cents = _centroids(True)
    p = str(tmp_path / "locked")
    first = vecs.where(F.col("vec_id") < N // 2)
    rest = vecs.where(F.col("vec_id") >= N // 2)
    write_ann_index(first, p, cbs, cents, l2_cells=True)
    src = str(tmp_path / "src")
    rest.coalesce(1).write.mode("overwrite").parquet(src)
    with maintenance_lock(spark, p, "staged-compaction"):
        with pytest.raises(IOError, match="under maintenance"):
            append_ann_index(rest, p)
        stream = spark.readStream.schema(rest.schema).parquet(src)
        q = stream_append_ann_index(stream, p,
                                    checkpoint_dir=str(tmp_path / "ck"))
        with pytest.raises(Exception, match="under maintenance"):
            q.awaitTermination()
    # marker released: the replayed epoch lands via a fresh query
    stream = spark.readStream.schema(rest.schema).parquet(src)
    q = stream_append_ann_index(stream, p,
                                checkpoint_dir=str(tmp_path / "ck"))
    q.awaitTermination()
    got = {r["vec_id"] for r in
           spark.read.parquet(f"{p}/codes").collect()}
    assert got == {r["vec_id"] for r in vecs.collect()}


def test_brute_force_arrow_drops_degenerate_queries(vecs, spark):
    """ADVICE r12: a NULL or zero-norm QUERY vector must neither crash
    the kernel (np.asarray(None)) nor zero the per-chunk kth threshold
    (which would emit the ENTIRE corpus for that query — an unbounded
    shuffle at 10M scale).  Degenerate queries are dropped up front;
    the well-defined queries in the same batch are unaffected."""
    good = vecs.where(F.col("vec_id") % 41 == 5)
    bad = spark.createDataFrame([(901, None), (902, [0.0] * DIM)],
                                "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    got = _pairs(brute_force_topk(vecs, good.unionAll(bad), k=7))
    want = _pairs(brute_force_topk(vecs, good, k=7))
    assert got == want                      # degenerates emit nothing
    only_bad = brute_force_topk(vecs, bad, k=7)
    assert only_bad.count() == 0            # and an all-bad set is empty


def test_driver_probe_rows_skip_null_query(vecs, spark, tmp_path):
    """ADVICE r12: a NULL query embedding must neither crash the probe
    tables (np.asarray(None) @ C) nor emit k junk rows (all-NULL
    distance tables rank nulls-first under asc): NULL-embedding
    queries are dropped up front."""
    cbs = pq_codebooks(DIM, M, KSUB, seed=44)
    cents = _centroids(True)
    p = str(tmp_path / "nullq")
    write_ann_index(vecs, p, cbs, cents, l2_cells=True)
    good = vecs.where(F.col("vec_id") % 97 == 3)
    bad = spark.createDataFrame([(903, None)],
                                "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    run = lambda q: {(r["query_id"], r["neighbor_id"])
                     for r in ann_index_topk(spark, p, q, k=5,
                                             nprobe=2).collect()}
    assert run(good.unionAll(bad)) == run(good)


def test_stream_append_trigger_param(vecs, spark, tmp_path):
    """ADVICE r12: the trigger is a parameter now — {"once": True}
    processes one batch and stops, producing the same grown index as
    the default availableNow drain does over a single-file source."""
    from carbonapi_spark.datapipe.similarity import stream_append_ann_index
    cbs = pq_codebooks(DIM, M, KSUB, seed=44)
    cents = _centroids(True)
    grown = str(tmp_path / "grown_once")
    first = vecs.where(F.col("vec_id") < N // 2)
    rest = vecs.where(F.col("vec_id") >= N // 2)
    write_ann_index(first, grown, cbs, cents, l2_cells=True)
    src = str(tmp_path / "src_once")
    rest.coalesce(1).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(rest.schema).parquet(src)
    q = stream_append_ann_index(stream, grown,
                                checkpoint_dir=str(tmp_path / "ck1"),
                                trigger={"once": True})
    q.awaitTermination()
    got = {r["vec_id"] for r in
           spark.read.parquet(f"{grown}/codes").collect()}
    assert got == {r["vec_id"] for r in vecs.collect()}


def test_stream_append_processing_time_trigger(vecs, spark, tmp_path):
    """The long-lived mode the trigger param exists for: a
    processingTime stream keeps running across micro-batches (no
    drain-and-stop), appends land incrementally, and the query is
    still active until we stop it."""
    import time
    from carbonapi_spark.datapipe.similarity import stream_append_ann_index
    cbs = pq_codebooks(DIM, M, KSUB, seed=44)
    cents = _centroids(True)
    grown = str(tmp_path / "grown_pt")
    first = vecs.where(F.col("vec_id") < N // 2)
    rest = vecs.where(F.col("vec_id") >= N // 2)
    write_ann_index(first, grown, cbs, cents, l2_cells=True)
    src = str(tmp_path / "src_pt")
    rest.repartition(2).write.mode("overwrite").parquet(src)
    stream = (spark.readStream.schema(rest.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = stream_append_ann_index(
        stream, grown, checkpoint_dir=str(tmp_path / "ck_pt"),
        trigger={"processingTime": "1 seconds"})
    try:
        want = {r["vec_id"] for r in vecs.collect()}
        deadline = time.time() + 120
        while time.time() < deadline:
            got = {r["vec_id"] for r in
                   spark.read.parquet(f"{grown}/codes").collect()}
            if got == want:
                break
            time.sleep(1)
        assert got == want
        assert q.isActive          # long-lived: did NOT drain-and-stop
    finally:
        q.stop()


def test_compact_ann_index_after_replayed_epoch(vecs, spark, tmp_path):
    """VERDICT r12 #3: inject a replayed epoch (the documented
    at-least-once duplication of stream_append_ann_index), then prove
    (a) duplicates corrupt the raw top-k, (b) probe-side dedupe=True
    restores it, (c) compact_ann_index removes the duplicates durably
    (probe results identical pre/post), and (d) compaction leaves ONE
    file per cell with the cell= pruning layout intact."""
    from carbonapi_spark.datapipe.similarity import (append_ann_index,
                                                     compact_ann_index)
    cbs = pq_codebooks(DIM, M, KSUB, seed=44)
    cents = _centroids(True)
    p = str(tmp_path / "dup")
    first = vecs.where(F.col("vec_id") < N // 2)
    epoch = vecs.where(F.col("vec_id") >= N // 2)
    write_ann_index(first, p, cbs, cents, l2_cells=True,
                    store_vectors=True)
    append_ann_index(epoch, p)
    query = vecs.where(F.col("vec_id") % 97 == 3)
    topk = lambda **kw: {(r["query_id"], r["neighbor_id"])
                         for r in ann_index_topk(spark, p, query, k=5,
                                                 nprobe=2, **kw).collect()}
    clean = topk()
    append_ann_index(epoch, p)            # the replayed epoch
    rows = lambda: [(r["query_id"], r["neighbor_id"]) for r in
                    ann_index_topk(spark, p, query, k=5,
                                   nprobe=2).collect()]
    dup_rows = rows()
    assert len(dup_rows) != len(set(dup_rows)) or set(dup_rows) != clean
    assert topk(dedupe=True) == clean     # probe-side fix
    assert topk(dedupe=True, refine=20) == topk(refine=20, dedupe=True)

    stats = compact_ann_index(spark, p)
    assert stats["rows_after"] == N       # every vector exactly once
    assert stats["rows_before"] > stats["rows_after"]
    assert stats["files_after"] <= len(cents)
    assert stats["files_after"] < stats["files_before"]
    assert topk() == clean                # identical pre/post compaction
    # pruning layout intact: a one-cell read touches exactly one file
    one = (spark.read.parquet(f"{p}/codes").where(F.col("cell") == 1)
           .select(F.input_file_name().alias("f")).distinct().count())
    assert one == 1


def test_ann_auto_topk_crossover_routing(vecs, spark, tmp_path):
    """VERDICT r12 #4: ann_auto_topk routes by the measured crossover —
    exact vectorized kernel below it (and always without an index),
    index probe + exact refine above it — with the SAME
    (query_id, neighbor_id, cos_sim) contract on both routes."""
    from carbonapi_spark.datapipe.similarity import ann_auto_topk
    cbs = pq_codebooks(DIM, M, KSUB, seed=44)
    cents = _centroids(True)
    p = str(tmp_path / "auto")
    write_ann_index(vecs, p, cbs, cents, l2_cells=True,
                    store_vectors=True)
    query = vecs.where(F.col("vec_id") % 97 == 3)

    below = ann_auto_topk(vecs, query, k=5, index_path=p,
                          crossover=10**9)
    exact = brute_force_topk(vecs, query, k=5)
    assert _pairs(below) == _pairs(exact)

    above = ann_auto_topk(vecs, query, k=5, index_path=p, crossover=0,
                          nprobe=2, refine=20)
    want = ann_index_topk(spark, p, query, k=5, nprobe=2, refine=20)
    assert _pairs(above) == _pairs(want)
    assert below.columns == above.columns == ["query_id", "neighbor_id",
                                              "cos_sim"]
    # no index artifact -> exact, regardless of size
    noidx = ann_auto_topk(vecs, query, k=5)
    assert _pairs(noidx) == _pairs(exact)
    # degenerate queries are dropped on BOTH routes (uniform contract)
    bad = spark.createDataFrame([(904, None), (905, [0.0] * DIM)],
                                "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    mixed = query.unionAll(bad)
    assert _pairs(ann_auto_topk(vecs, mixed, k=5, index_path=p,
                                crossover=10**9)) == _pairs(below)
    assert _pairs(ann_auto_topk(vecs, mixed, k=5, index_path=p,
                                crossover=0, nprobe=2,
                                refine=20)) == _pairs(above)


def test_ann_auto_topk_drops_nonfinite_and_takes_n_hint(vecs, spark,
                                                        tmp_path):
    """ADVICE r13 #3: Spark SQL evaluates ``NaN > 0`` as TRUE, so the
    old positive-norm guard let NaN/Inf query vectors through to the
    index route (garbage distances) while the exact kernel dropped
    them — the two routes disagreed.  Both must drop them identically
    now.  Also pins VERDICT r13 #6: an ``n=`` corpus-size hint routes
    without running corpus.count() — verified by handing the index
    route a corpus DataFrame whose count would be wrong to trust."""
    from carbonapi_spark.datapipe.similarity import ann_auto_topk
    cbs = pq_codebooks(DIM, M, KSUB, seed=44)
    cents = _centroids(True)
    p = str(tmp_path / "autofin")
    write_ann_index(vecs, p, cbs, cents, l2_cells=True,
                    store_vectors=True)
    query = vecs.where(F.col("vec_id") % 97 == 3)
    nanv = [float("nan")] + [1.0] * (DIM - 1)
    infv = [float("inf")] + [1.0] * (DIM - 1)
    bad = spark.createDataFrame([(906, nanv), (907, infv)],
                                "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    mixed = query.unionAll(bad)
    clean_exact = _pairs(ann_auto_topk(vecs, query, k=5))
    clean_index = _pairs(ann_auto_topk(vecs, query, k=5, index_path=p,
                                       crossover=0, nprobe=2, refine=20))
    # non-finite queries emit nothing on either route
    assert _pairs(ann_auto_topk(vecs, mixed, k=5)) == clean_exact
    got_idx = ann_auto_topk(vecs, mixed, k=5, index_path=p, crossover=0,
                            nprobe=2, refine=20)
    assert _pairs(got_idx) == clean_index
    assert not {r["query_id"] for r in got_idx.collect()} & {906, 907}
    # n= hint overrides counting: n below the crossover routes exact
    # even though the artifact exists, n above routes via the index
    hint_lo = ann_auto_topk(vecs, query, k=5, index_path=p,
                            crossover=10**9, n=1)
    assert _pairs(hint_lo) == clean_exact
    hint_hi = ann_auto_topk(vecs, query, k=5, index_path=p, crossover=2,
                            nprobe=2, refine=20, n=3)
    assert _pairs(hint_hi) == clean_index


def test_compact_fragmented_only_rewrites_touched_cells(vecs, spark,
                                                        tmp_path):
    """Lake-scale selective compaction: a tiny replayed delta fragments
    only the cells it lands in; fragmented_only=True must rewrite
    EXACTLY those (untouched cells keep their original files
    byte-for-byte), collapse the duplicates, and leave probe results
    identical."""
    from carbonapi_spark.datapipe.similarity import (append_ann_index,
                                                     compact_ann_index)
    cbs = pq_codebooks(DIM, M, KSUB, seed=44)
    cents = _centroids(True)
    p = str(tmp_path / "frag")
    first = vecs.where(F.col("vec_id") < N - 10)
    tiny = vecs.where(F.col("vec_id") >= N - 10)
    write_ann_index(first, p, cbs, cents, l2_cells=True,
                    store_vectors=True)
    append_ann_index(tiny, p)
    append_ann_index(tiny, p)            # the replayed epoch
    files = lambda: {r["cell"]: set(r["fs"]) for r in
                     (spark.read.parquet(f"{p}/codes")
                      .select("cell", F.input_file_name().alias("f"))
                      .groupBy("cell")
                      .agg(F.collect_set("f").alias("fs")).collect())}
    before = files()
    frag_cells = {c for c, fs in before.items() if len(fs) > 1}
    assert 0 < len(frag_cells) < len(before)   # tiny delta: few cells
    query = vecs.where(F.col("vec_id") % 97 == 3)
    topk = lambda: {(r["query_id"], r["neighbor_id"])
                    for r in ann_index_topk(spark, p, query, k=5,
                                            nprobe=2,
                                            dedupe=True).collect()}
    clean = topk()
    stats = compact_ann_index(spark, p, fragmented_only=True)
    assert stats["cells_rewritten"] == len(frag_cells)
    assert stats["rows_after"] == N
    after = files()
    for c in before:
        if c in frag_cells:
            assert len(after[c]) == 1
        else:                     # untouched cells: the SAME files
            assert after[c] == before[c], c
    assert topk() == clean
    # idempotent: a second selective pass is a no-op
    again = compact_ann_index(spark, p, fragmented_only=True)
    assert again["cells_rewritten"] == 0
    assert again["files_after"] == stats["files_after"]


def test_delete_from_ann_index(vecs, spark, tmp_path):
    """Deletion by id: only affected cells are rewritten (untouched
    cells keep their files byte-for-byte), probes equal an index built
    WITHOUT the deleted vectors (frozen quantizers make the remaining
    assignments identical), and a fully-emptied cell's directory is
    removed outright."""
    from carbonapi_spark.datapipe.similarity import delete_from_ann_index
    cbs = pq_codebooks(DIM, M, KSUB, seed=44)
    cents = _centroids(True)
    p, p_ref = str(tmp_path / "del"), str(tmp_path / "del_ref")
    write_ann_index(vecs, p, cbs, cents, l2_cells=True,
                    store_vectors=True)
    # delete a handful of spread ids + every member of one cell
    codes = spark.read.parquet(f"{p}/codes")
    a_cell = codes.select("cell").first()["cell"]
    cell_ids = {r["vec_id"] for r in
                codes.where(F.col("cell") == a_cell).collect()}
    spread_ids = {3, 77, 141}
    doomed = cell_ids | spread_ids
    files = lambda: {r["cell"]: set(r["fs"]) for r in
                     (spark.read.parquet(f"{p}/codes")
                      .select("cell", F.input_file_name().alias("f"))
                      .groupBy("cell")
                      .agg(F.collect_set("f").alias("fs")).collect())}
    before = files()
    touched = {r["cell"] for r in codes.where(
        F.col("vec_id").isin([int(i) for i in doomed])).select("cell")
        .distinct().collect()}            # computed BEFORE the delete
    stats = delete_from_ann_index(spark, p, doomed)
    assert stats["rows_deleted"] == len(doomed)
    assert stats["cells_emptied"] >= 1
    after = files()
    assert a_cell not in after                 # emptied cell is gone
    for c in before:
        if c not in touched:
            assert after[c] == before[c], c    # untouched: same files
    left = {r["vec_id"] for r in
            spark.read.parquet(f"{p}/codes").collect()}
    assert left == {r["vec_id"] for r in vecs.collect()} - doomed
    # probe equality vs an index built without the deleted vectors
    survivors = vecs.where(~F.col("vec_id").isin(
        [int(i) for i in doomed]))
    write_ann_index(survivors, p_ref, cbs, cents, l2_cells=True,
                    store_vectors=True)
    query = vecs.where(F.col("vec_id") % 97 == 3)
    topk = lambda path: {(r["query_id"], r["neighbor_id"])
                         for r in ann_index_topk(spark, path, query,
                                                 k=5, nprobe=3,
                                                 refine=20).collect()}
    assert topk(p) == topk(p_ref)
    deleted_as_neighbors = {n for _, n in topk(p)} & doomed
    assert not deleted_as_neighbors


def test_delete_every_vector_keeps_index_readable(vecs, spark, tmp_path):
    """Emptying the whole index (every cell's directory removed) used
    to leave a file-less codes/ dir that UNABLE_TO_INFER_SCHEMA'd every
    later read; a schema-bearing empty file now keeps it readable and
    probes return no candidates."""
    from carbonapi_spark.datapipe.similarity import delete_from_ann_index
    cbs = pq_codebooks(DIM, M, KSUB, seed=44)
    cents = _centroids(True)
    p = str(tmp_path / "del_all")
    write_ann_index(vecs, p, cbs, cents, l2_cells=True,
                    store_vectors=True)
    everyone = {r["vec_id"] for r in vecs.select("vec_id").collect()}
    stats = delete_from_ann_index(spark, p, everyone)
    assert stats["rows_deleted"] == len(everyone)
    assert stats["cells_emptied"] >= 1
    codes = spark.read.parquet(f"{p}/codes")   # must not raise
    assert codes.count() == 0
    query = vecs.where(F.col("vec_id") % 97 == 3)
    got = ann_index_topk(spark, p, query, k=5, nprobe=3, refine=20)
    assert got.count() == 0


def test_refine_without_vectors_still_errors(vecs, spark, tmp_path):
    cbs = pq_codebooks(DIM, M, KSUB, seed=44)
    cents = _centroids(False)
    p = str(tmp_path / "no_vec")
    write_ann_index(vecs, p, cbs, cents)
    query = vecs.where(F.col("vec_id") % 97 == 3)
    with pytest.raises(ValueError, match="store_vectors"):
        ann_index_topk(spark, p, query, k=5, nprobe=2, refine=20)


def _file_set(spark, path):
    return {r["f"] for r in spark.read.parquet(path)
            .select(F.input_file_name().alias("f")).distinct().collect()}


def test_l0_append_probe_equals_cell_append(vecs, spark, tmp_path):
    """r14 L0 delta: append_ann_index(l0=True) lands the delta in the
    UNPARTITIONED codes_l0 side table — one file per append, the main
    cell layout byte-untouched — and probes read main ∪ L0
    transparently, equal to the classic cell-partitioned append."""
    from carbonapi_spark.datapipe.similarity import append_ann_index
    cbs = pq_codebooks(DIM, M, KSUB, seed=44)
    cents = _centroids(True)
    p_l0, p_cell = str(tmp_path / "l0"), str(tmp_path / "cell")
    first = vecs.where(F.col("vec_id") < N // 2)
    d1 = vecs.where((F.col("vec_id") >= N // 2)
                    & (F.col("vec_id") < 3 * N // 4))
    d2 = vecs.where(F.col("vec_id") >= 3 * N // 4)
    for p in (p_l0, p_cell):
        write_ann_index(first, p, cbs, cents, l2_cells=True,
                        residual=True, store_vectors=True)
    main_before = _file_set(spark, f"{p_l0}/codes")
    append_ann_index(d1, p_l0, l0=True)
    append_ann_index(d2, p_l0, l0=True)
    append_ann_index(d1, p_cell)
    append_ann_index(d2, p_cell)
    # main table byte-untouched; exactly one L0 file per append
    assert _file_set(spark, f"{p_l0}/codes") == main_before
    assert len(_file_set(spark, f"{p_l0}/codes_l0")) == 2
    query = vecs.where(F.col("vec_id") % 97 == 3)
    topk = lambda p, **kw: {(r["query_id"], r["neighbor_id"])
                            for r in ann_index_topk(spark, p, query, k=5,
                                                    nprobe=2,
                                                    **kw).collect()}
    assert topk(p_l0) == topk(p_cell)
    # stored-vector refine reads L0 vectors through the same union
    assert topk(p_l0, refine=20) == topk(p_cell, refine=20)


def test_stream_append_l0_one_file_per_batch(vecs, spark, tmp_path):
    """r14 L0 delta, streaming: each micro-batch writes ONE file into
    codes_l0 instead of one per touched cell (the fragmentation mode
    SCALE.md r14 measured: 256 files/batch at 2 s ticks)."""
    from carbonapi_spark.datapipe.similarity import stream_append_ann_index
    cbs = pq_codebooks(DIM, M, KSUB, seed=44)
    cents = _centroids(True)
    full, grown = str(tmp_path / "full"), str(tmp_path / "grown")
    write_ann_index(vecs, full, cbs, cents, l2_cells=True)
    first = vecs.where(F.col("vec_id") < N // 2)
    rest = vecs.where(F.col("vec_id") >= N // 2)
    write_ann_index(first, grown, cbs, cents, l2_cells=True)
    main_before = _file_set(spark, f"{grown}/codes")
    src = str(tmp_path / "src")
    rest.repartition(2).write.mode("overwrite").parquet(src)
    stream = (spark.readStream.schema(rest.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = stream_append_ann_index(stream, grown, l0=True,
                                checkpoint_dir=str(tmp_path / "ckpt"))
    q.awaitTermination()
    assert _file_set(spark, f"{grown}/codes") == main_before
    assert len(_file_set(spark, f"{grown}/codes_l0")) == 2
    query = vecs.where(F.col("vec_id") % 97 == 3)
    topk = lambda p: {(r["query_id"], r["neighbor_id"])
                      for r in ann_index_topk(spark, p, query, k=5,
                                              nprobe=2).collect()}
    assert topk(grown) == topk(full)


@pytest.mark.parametrize("fragmented_only", [False, True])
def test_compact_folds_l0(vecs, spark, tmp_path, fragmented_only):
    """r14 L0 fold: compaction merges codes_l0 into the cell layout and
    removes it; probe results identical pre/post; in fragmented_only
    mode the cells rewritten are exactly those PRESENT in L0 (the main
    table was one file per cell, so it fragmented nothing itself)."""
    from carbonapi_spark.datapipe.similarity import (append_ann_index,
                                                     compact_ann_index)
    cbs = pq_codebooks(DIM, M, KSUB, seed=44)
    cents = _centroids(True)
    p = str(tmp_path / f"fold{int(fragmented_only)}")
    first = vecs.where(F.col("vec_id") < N // 2)
    delta = vecs.where(F.col("vec_id") >= N // 2)
    write_ann_index(first, p, cbs, cents, l2_cells=True,
                    store_vectors=True)
    append_ann_index(delta, p, l0=True)
    l0_cells = {r["cell"] for r in spark.read
                .parquet(f"{p}/codes_l0").select("cell")
                .distinct().collect()}
    query = vecs.where(F.col("vec_id") % 97 == 3)
    topk = lambda **kw: {(r["query_id"], r["neighbor_id"])
                         for r in ann_index_topk(spark, p, query, k=5,
                                                 nprobe=2, **kw).collect()}
    before = topk()
    before_refine = topk(refine=20)
    stats = compact_ann_index(spark, p, fragmented_only=fragmented_only)
    from carbonapi_spark.datapipe.maintenance import _hpath
    lp, fs = _hpath(spark, f"{p}/codes_l0")
    assert not fs.exists(lp)                   # folded and removed
    assert stats["l0_rows_folded"] == delta.count()
    assert stats["rows_after"] == N
    if fragmented_only:
        assert stats["cells_rewritten"] == len(l0_cells)
    assert topk() == before
    assert topk(refine=20) == before_refine
    # every cell one file, pruning layout intact
    nf = (spark.read.parquet(f"{p}/codes")
          .select("cell", F.input_file_name().alias("f"))
          .groupBy("cell").agg(F.countDistinct("f").alias("nf"))
          .agg(F.max("nf").alias("mx")).collect()[0]["mx"])
    assert nf == 1


def test_delete_from_ann_index_covers_l0(vecs, spark, tmp_path):
    """r14: deletion reaches L0 rows too — ids living in the side table
    disappear from probes and count toward rows_deleted; an L0 emptied
    entirely is removed outright (absent = the steady state)."""
    from carbonapi_spark.datapipe.maintenance import _hpath
    from carbonapi_spark.datapipe.similarity import (append_ann_index,
                                                     delete_from_ann_index)
    cbs = pq_codebooks(DIM, M, KSUB, seed=44)
    cents = _centroids(True)
    p = str(tmp_path / "dell0")
    first = vecs.where(F.col("vec_id") < N // 2)
    delta = vecs.where(F.col("vec_id") >= N // 2)
    write_ann_index(first, p, cbs, cents, l2_cells=True)
    append_ann_index(delta, p, l0=True)
    # one main id + two L0 ids
    victims = [3, N // 2 + 1, N - 1]
    stats = delete_from_ann_index(spark, p, victims)
    assert stats["rows_deleted"] == 3
    left = {r["vec_id"] for r in spark.read
            .parquet(f"{p}/codes_l0").collect()}
    assert left == {r["vec_id"] for r in delta.collect()} \
        - {N // 2 + 1, N - 1}
    query = vecs.where(F.col("vec_id") % 97 == 3)
    got = {r["neighbor_id"]
           for r in ann_index_topk(spark, p, query, k=5,
                                   nprobe=K_CELLS).collect()}
    assert not got & set(victims)
    # deleting every remaining L0 id removes the side table
    stats2 = delete_from_ann_index(spark, p, sorted(left))
    assert stats2["rows_deleted"] == len(left)
    lp, fs = _hpath(spark, f"{p}/codes_l0")
    assert not fs.exists(lp)


def test_l0_first_append_window_is_invisible(vecs, spark, tmp_path):
    """The very first l0 append creates codes_l0 before its parquet
    commits land; a probe in that window must see \"no L0 yet\" (the
    directory exists but holds no data files), not
    UNABLE_TO_INFER_SCHEMA — caught live by the r14 streaming smoke."""
    import os

    from carbonapi_spark.datapipe.maintenance import read_l0
    cbs = pq_codebooks(DIM, M, KSUB, seed=44)
    cents = _centroids(True)
    p = str(tmp_path / "window")
    write_ann_index(vecs, p, cbs, cents, l2_cells=True)
    os.makedirs(f"{p}/codes_l0/_temporary", exist_ok=True)
    assert read_l0(spark, p, "codes") is None
    query = vecs.where(F.col("vec_id") % 97 == 3)
    assert ann_index_topk(spark, p, query, k=5, nprobe=2).count() > 0


def test_ranking_metrics_reads_a_python_truth_once(spark):
    """A truth built by a Python kernel is planned once (Spark reuses no
    exchange above a MapInPandas node), and no side is broadcast: the
    number of queries is unbounded."""
    from carbonapi_spark.datapipe.retrieval import ranking_metrics
    base = spark.createDataFrame(
        [(1, 10, 1.0), (1, 11, 0.9), (2, 20, 1.0)],
        "query_id long, neighbor_id long, cos_sim double")
    truth = base.mapInPandas(lambda it: it, base.schema)
    res = spark.createDataFrame(
        [(1, 10, 0.8), (2, 21, 0.7)],
        "query_id long, neighbor_id long, cos_sim double")
    out = ranking_metrics(res, truth)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1, plan
    assert "BroadcastExchange" not in plan, plan
    got = {r["query_id"]: (r["n_truth"], r["hits"]) for r in out.collect()}
    assert got == {1: (2, 1), 2: (1, 0)}
