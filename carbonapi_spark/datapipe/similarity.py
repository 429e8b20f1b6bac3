"""Similarity search over embedding columns (array<float>): exact
top-k, LSH and IVF probes, PQ / IVFADC encoding and ADC search, the
durable ANN index, SemDeDup.

One implementation per kernel.  The dense kernels (exact top-k, the
IVFADC encoder, the probe tables) are numpy, vectorized over Arrow
batches or the collected query batch; the rest are SQL higher-order
folds over constant-folded literals.  BLAS may rank rows or pick
candidates, but every value that is returned, or that decides an
argmax or argmin, is a left fold from 0.0 in element order
(:func:`_fold_dot`) — the value of the SQL ``aggregate(zip_with(...),
0.0D, (acc, x) -> acc + x)`` bit for bit.  The reference is that SQL
fold: ``tests/test_ann_arrow.py`` rebuilds it from
:func:`_cell_score_sql`, :func:`_pq_code_sql`, :func:`_sqdists_sql`
and :func:`cosine` and compares bit for bit, and
``tests/test_graphite_oracles.py`` replays the ANN catalog entries
against their DuckDB oracles without rounding.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

from carbonapi_spark.datapipe import (expr_cached, local_df, selectx,
                                      write_small_table)


def dot(a: Column, b: Column) -> Column:
    # Deliberately the HOF form. Expanding literal-weight dots into a
    # 64-term multiply-add chain looks codegen-friendly but 8 such chains
    # in one projection OOM janino's whole-stage compiler (tried in r4);
    # the HOF evaluates element-wise in the JVM without a Python crossing,
    # which is the part that matters at corpus scale.
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                              F.lit(0.0), lambda acc, x: acc + x))


def cosine(a: Column, b: Column) -> Column:
    n = norm(a) * norm(b)
    return F.when(n > 0, dot(a, b) / n)


def _as_double(col: Column) -> Column:
    return col.cast("array<double>")


_SCAN_CHUNK = 8192     # corpus rows per BLAS block in brute_force_topk
_ENCODE_CHUNK = 4096   # rows per BLAS block in ivfpq_encode


def _fold_dot(a, b):
    """Sum of ``a_d * b_d`` over the last axis, leading axes broadcast,
    as a left fold from 0.0 in element order: bit for bit the SQL
    :func:`dot` (``aggregate(zip_with(a, b, (x, y) -> x * y), 0.0D,
    (acc, x) -> acc + x)``).  numpy's pairwise ``sum`` and BLAS add in
    other orders and differ in the last bits."""
    import numpy as np
    acc = np.zeros(np.broadcast_shapes(a.shape[:-1], b.shape[:-1]))
    for d in range(a.shape[-1]):
        acc += a[..., d] * b[..., d]
    return acc


def _fold_cell_scores(x, cents, n2=None):
    """Fold-order cell scores of the rows of ``x``: the values of
    :func:`_cell_score_sql` — plain dots, or ``2.0 * dot - n2`` for l2
    cells, ``n2`` being its ``|c|^2`` literals (``_fold_dot(C, C)``)."""
    s = _fold_dot(x[:, None, :], cents[None, :, :])
    return s if n2 is None else 2.0 * s - n2


def _fold_sqdists(sub, cb):
    """Fold-order squared distances from each row of ``sub`` to each
    codeword of ``cb``: the values of :func:`_sqdists_sql`."""
    t = sub[:, None, :] - cb[None, :, :]
    return _fold_dot(t, t)


def _fold_tol(n: int, scale):
    """A bound on |BLAS - fold| for length-``n`` dot products whose
    sum of |a_d * b_d| is at most ``scale``.  Any summation order, with
    or without FMA, lands within about ``n * eps / 2 * scale`` of the
    exact value; the factor 4 covers both sides plus the scaling,
    subtraction and division steps around the dot."""
    import numpy as np
    return 4.0 * (n + 2) * np.finfo(np.float64).eps * scale


def _guarded_argmax(approx, tol, exact):
    """Row-wise argmax of fold-order scores, ties to the lowest index
    (as ``array_position(d, array_max(d))`` and the strict-``<`` argmin
    fold of :func:`_pq_code_sql`).  The BLAS scores ``approx`` (which
    this overwrites) decide every row whose top-2 gap exceeds
    ``2 * tol``: no fold error can reorder those.  The rows within it
    are re-scored by ``exact(rows)``, the fold formula."""
    import numpy as np
    best = approx.argmax(axis=1)
    if approx.shape[1] < 2:
        return best
    rows = np.arange(len(approx))
    top = approx[rows, best]
    approx[rows, best] = -np.inf     # a max, not a partition: 20x cheaper
    near = np.nonzero(top - approx.max(axis=1) <= 2.0 * tol)[0]
    if len(near):
        best[near] = exact(near).argmax(axis=1)
    return best


def brute_force_topk(corpus: DataFrame, query: DataFrame, k: int = 10,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """Exact top-k cosine neighbors for every query vector: (query_id,
    neighbor_id, cos_sim rounded to 6 dp), self excluded, ties to the
    lowest neighbor_id.

    Exact kNN is the ground truth every ANN evaluation needs.  The query
    side is collected (it must be small); the corpus is scanned once by
    an Arrow kernel.  Per chunk of corpus rows, one BLAS matmul against
    the query matrix only PICKS candidates: every row within a margin of
    the chunk's (k+1)-th best similarity.  The margin covers the
    BLAS-vs-fold error plus one 6-dp rounding step, so every row that
    could reach the global top-k, boundary ties included, survives.  The
    candidates' cosine is then recomputed in fold order with the formula
    of :func:`cosine` (``sqrt`` of the folded squares, ``dot / (|q| *
    |c|)``), Spark rounds it HALF_UP to 6 dp, and a window takes the
    exact global top-k.  Values are therefore bit-identical to the SQL
    fold (SCALE.md r12: 13.0 s vs 587 s for the fold itself at 10M x
    32d).

    Rows with a NULL, zero-norm or non-finite embedding are dropped on
    both sides: a degenerate query would make every corpus row a
    candidate, and a degenerate corpus row has no cosine."""
    import numpy as np
    import pandas as pd

    from carbonapi_spark.datapipe import spread

    qids_l, qvecs = [], []
    for r in (query.select(F.col(id_col), _as_double(F.col(vec_col))
                           .alias("__qv")).collect()):
        if r["__qv"] is not None and all(v is not None for v in r["__qv"]):
            qids_l.append(r[id_col])
            qvecs.append(r["__qv"])
    id_dt = corpus.schema[id_col].dataType.simpleString()
    q_dt = query.schema[id_col].dataType.simpleString()
    schema = (f"`query_id` {q_dt}, `neighbor_id` {id_dt}, "
              f"`cos_sim` double")
    Q = np.array(qvecs, dtype=np.float64)
    qss = _fold_dot(Q, Q) if qvecs else np.zeros(0)
    ok = (qss > 0) & np.isfinite(qss)
    if not ok.any():
        return local_df(query.sparkSession, [], schema)
    qids, Q, qn = np.array(qids_l)[ok], Q[ok], np.sqrt(qss[ok])
    Qhat = Q / qn[:, None]
    margin = 2.0 * _fold_tol(Q.shape[1], 1.0) + 1e-6
    kk = k + 1  # self may occupy one slot before the final filter
    chunk = _SCAN_CHUNK

    def scan(batches):
        for pdf in batches:
            pdf = pdf[pdf[vec_col].notna()]
            for lo in range(0, len(pdf), chunk):
                part = pdf.iloc[lo:lo + chunk]
                ids = part[id_col].to_numpy()
                X = np.array([np.asarray(v, dtype=np.float64)
                              for v in part[vec_col]])
                # picks only: whether a sum of squares is 0 or non-finite
                # does not depend on its order (bar overflow near the
                # double max); the candidates' norms are folded below
                xss = np.einsum("ij,ij->i", X, X)
                keep = (xss > 0) & np.isfinite(xss)
                if not keep.all():
                    X, ids, xss = X[keep], ids[keep], xss[keep]
                if not len(ids):
                    continue
                sims = (X / np.sqrt(xss)[:, None]) @ Qhat.T   # n x |Q|
                top = min(kk, len(ids))
                kth = np.partition(sims, len(ids) - top,
                                   axis=0)[len(ids) - top]
                ri, qi = np.nonzero(sims >= kth - margin)
                Xc = X[ri]
                n = qn[qi] * np.sqrt(_fold_dot(Xc, Xc))
                dots = _fold_dot(Q[qi], Xc)
                pos = n > 0         # the SQL NULLs the rest: drop them
                yield pd.DataFrame({"query_id": qids[qi[pos]],
                                    "neighbor_id": ids[ri[pos]],
                                    "cos_sim": dots[pos] / n[pos]})

    # BLAS leaves little per-row work to parallelize: below the default
    # gate one task beats the exchange (sf0.1 ann_topk 0.74 -> 0.60 s).
    cand = (spread(corpus)
            .select(F.col(id_col), _as_double(F.col(vec_col)).alias(vec_col))
            .mapInPandas(scan, schema)
            .where(F.col("neighbor_id") != F.col("query_id"))
            .withColumn("cos_sim", F.round("cos_sim", 6)))
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(),
                                               F.col("neighbor_id"))
    return (cand.withColumn("__rk", F.row_number().over(w))
            .where(F.col("__rk") <= k).drop("__rk"))


def _signature_sql(vec_sql: str, planes: list[list[float]]) -> str:
    # ONE transform HOF over the constant-folded plane matrix (r14; the
    # _cell_score_sql rationale) — per-plane fold and bit order are
    # unchanged, so the signature string is identical.
    return (f"concat_ws('', transform({_cb_sql(planes)}, __p -> "
            f"if(aggregate(zip_with({vec_sql}, __p, (x, y) -> x * y), "
            f"0.0D, (acc, x) -> acc + x) > 0, '1', '0')))")


def random_planes(dim: int, n_planes: int = 12, seed: int = 42) -> list[list[float]]:
    import random
    rng = random.Random(seed)
    return [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(n_planes)]


def ivf_centroids(dim: int, n_centroids: int, seed: int = 43) -> list[list[float]]:
    """Deterministic spherical coarse quantizer: seeded random unit
    directions. Unlike k-means IVF there is no training pass, so the
    centroids are reproducible from (dim, n_centroids, seed) alone — which
    lets the DuckDB oracle replay the exact cell assignment."""
    import random
    rng = random.Random(seed)
    out = []
    for _ in range(n_centroids):
        v = [rng.gauss(0, 1) for _ in range(dim)]
        n = math.sqrt(sum(x * x for x in v)) or 1.0
        out.append([x / n for x in v])
    return out


def _cell_score_sql(vec_sql: str, cents: list[list[float]],
                    l2: bool = False) -> str:
    """SQL array of per-cell scores, higher = closer: plain dots for
    unit-norm spherical cells, ``2 e.c - |c|^2`` for trained (Voronoi)
    centroids — argmin L2 with the shared ``|e|^2`` dropped.

    r14: ONE ``transform``/``zip_with`` HOF over a constant-folded
    nested-array literal instead of ``n_centroids`` separate expanded
    ``aggregate(zip_with(...))`` subtrees.  Same per-centroid fold in
    the same element order, so every score is bit-identical (A/B'd:
    byte-equal doubles on both variants); the n_centroids-times-smaller
    expression tree cuts parse+analysis+codegen fixed cost ~2-5x per
    probe/encode call AND evaluates ~10% faster per corpus row (the
    HOFs were never codegen-unrolled anyway — smaller tree, better
    interpretation locality)."""
    fold = (f"aggregate(zip_with({vec_sql}, __c, (x, y) -> x * y), "
            f"0.0D, (acc, x) -> acc + x)")
    if not l2:
        return f"transform({_cb_sql(cents)}, __c -> {fold})"
    norms = ("array(" + ",".join(f"{sum(x * x for x in c)!r}D"
                                 for c in cents) + ")")
    return (f"zip_with({_cb_sql(cents)}, {norms}, "
            f"(__c, __n2) -> 2.0D * {fold} - __n2)")


def kmeans_centroids(vecs: DataFrame, k: int = 8, iters: int = 2,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     round_dp: int = 6) -> list[list[float]]:
    """Distributed Lloyd k-means: the TRAINED coarse quantizer for
    IVF/IVFADC (Jegou et al., TPAMI 2011 train the coarse quantizer with
    k-means; seeded spherical cells are fine on clustered corpora but
    recall sags on real embedding distributions).

    The physical shape is textbook distributed k-means: centroids
    broadcast as literals into ONE corpus pass per iteration (argmin of
    ``|c|^2 - 2 e.c`` — the shared ``|e|^2`` drops out of the argmin),
    then a per-(cell, coordinate) mean via posexplode + hash agg; only
    the k x dim mean table is collected per iteration (driver-bounded,
    like the CMS sketch).  No sampling, no driver-side numpy over the
    corpus — the same code trains on 100 TB.

    Determinism for the catalog oracle: init = first ``k`` vectors by id,
    assignment ties break to the lowest cell, and every centroid
    coordinate is rounded to ``round_dp`` after each update, so DuckDB
    replays the whole training loop; assignment argmins are protected by
    measured fp margins (see the catalog entry's oracle docstring)."""
    v = f"cast({vec_col} as array<double>)"
    init = (vecs.orderBy(id_col).limit(k)
            .selectExpr(f"{v} as __e").collect())
    cents = [[round(float(x), round_dp) for x in r["__e"]] for r in init]
    if not cents:
        raise ValueError("kmeans_centroids needs a non-empty corpus")
    for _ in range(iters):
        scores = _cell_score_sql("__e", cents, l2=True)
        means = (selectx(selectx(selectx(vecs, f"{v} as __e"),
                                 "__e", f"{scores} as __d"),
                         "__e",
                         "array_position(__d, array_max(__d)) as __cell")
                 .select("__cell", F.posexplode("__e").alias("__i", "__x"))
                 .groupBy("__cell", "__i")
                 .agg(F.round(F.avg("__x"), round_dp).alias("__c"))
                 .collect())
        new = [list(c) for c in cents]  # empty cells keep their centroid
        for r in means:
            new[r["__cell"] - 1][r["__i"]] = float(r["__c"])
        cents = new
    return cents


def kmeans_train_sample(sample: list[list[float]], k: int = 64,
                        iters: int = 10, seed: int = 43,
                        round_dp: int = 6) -> list[list[float]]:
    """Driver-side Lloyd k-means over a sample — the coarse-quantizer
    sibling of :func:`pq_train` (FAISS trains IVF coarse quantizers on
    an in-memory sample for the same reason: the quantizer is
    model-sized; only assignment runs over the full corpus).  Use
    :func:`kmeans_centroids` when training must scan the whole corpus
    declaratively; use this for deployments where the coarse quantizer
    needs k in the hundreds-to-thousands (the ~sqrt(N) rule) and a
    sample is statistically plenty.

    Same conventions as the distributed trainer: argmin L2 via
    ``|c|^2 - 2 x.c`` (ties to the lowest cell), empty cells keep their
    centroid, coordinates rounded to ``round_dp`` per iteration.

    Init is farthest-point (greedy k-center) from a seeded start:
    deterministic, and immune to the random-init failure where two
    seeds land in one blob and a far blob gets none (Lloyd cannot
    recover from that — the merged centroid is a local optimum)."""
    import numpy as np
    x = np.asarray(sample, dtype=np.float64)
    n = len(x)
    if n == 0:
        raise ValueError("kmeans_train_sample needs a non-empty sample")
    rng = np.random.default_rng(seed)
    first = int(rng.integers(n))
    chosen = [first]
    dmin = ((x - x[first]) ** 2).sum(axis=1)
    for _ in range(min(k, n) - 1):
        nxt = int(dmin.argmax())
        chosen.append(nxt)
        dmin = np.minimum(dmin, ((x - x[nxt]) ** 2).sum(axis=1))
    while len(chosen) < k:          # k > n: duplicate seeds, like FAISS
        chosen.append(chosen[len(chosen) % n])
    cb = np.round(x[chosen], round_dp)
    for _ in range(iters):
        d = (cb * cb).sum(axis=1) - 2.0 * (x @ cb.T)
        assign = d.argmin(axis=1)
        for c in range(k):
            mask = assign == c
            if mask.any():
                cb[c] = np.round(x[mask].mean(axis=0), round_dp)
    return cb.tolist()


def ivf_topk(corpus: DataFrame, query: DataFrame, k: int = 10,
             id_col: str = "vec_id", vec_col: str = "embedding",
             dim: int = 64, n_centroids: int = 16, nprobe: int = 2,
             seed: int = 43,
             centroids: list[list[float]] | None = None) -> DataFrame:
    """IVF-style approximate top-k: the alternative scale path to
    ``lsh_topk``. Every corpus vector is assigned to ONE cell (argmax dot
    with the centroid directions); each query probes its ``nprobe`` best
    cells. The corpus side stays single-row-per-vector (no expansion at
    all — cheaper than multi-probe LSH's query expansion is on the query
    side here too), and the join is a cell-key equi-join.

    ``centroids=`` supplies a TRAINED coarse quantizer (e.g.
    :func:`kmeans_centroids`) instead of the seeded spherical one
    (``n_centroids``/``seed`` are then ignored).  Trained centroids are
    a Voronoi (L2) quantizer, so assignment/probing score by
    ``2 e.c - |c|^2`` — argmin squared distance with the shared
    ``|e|^2`` dropped — while unit-norm spherical cells keep the plain
    argmax dot (the two coincide when ``|c|`` is constant)."""
    from carbonapi_spark.datapipe import spread
    corpus = spread(corpus, min_bytes=256 << 10)  # centroid-dot HOFs
    cents = (centroids if centroids is not None
             else ivf_centroids(dim, n_centroids, seed))
    v = f"cast({vec_col} as array<double>)"
    # one SQL string for all centroid scores (one parse, no per-lit py4j)
    cell_dots = _cell_score_sql(v, cents, l2=centroids is not None)

    c = (selectx(corpus, f"{id_col} as neighbor_id", f"{v} as __cv",
                 f"{cell_dots} as __d")
         .withColumn("__cell", F.array_position(F.col("__d"),
                                                F.array_max("__d")))
         .drop("__d"))
    q0 = (selectx(query, f"{id_col} as query_id", f"{v} as __qv",
                  f"{cell_dots} as __d")
          .select("query_id", "__qv",
                  F.posexplode("__d").alias("__pos", "__dot")))
    wq = Window.partitionBy("query_id").orderBy(F.col("__dot").desc(),
                                                F.col("__pos"))
    q = (q0.withColumn("__rk", F.row_number().over(wq))
         .where(F.col("__rk") <= nprobe)
         .select("query_id", "__qv", (F.col("__pos") + 1).alias("__cell")))
    sims = (c.join(F.broadcast(q), "__cell")
            .where(F.col("neighbor_id") != F.col("query_id"))
            .select("query_id", "neighbor_id",
                    F.round(cosine(F.col("__qv"), F.col("__cv")), 6).alias("cos_sim")))
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(),
                                               F.col("neighbor_id"))
    return (sims.withColumn("__rk", F.row_number().over(w))
            .where(F.col("__rk") <= k).drop("__rk"))


def _flip_expr(sig: Column, positions: tuple[int, ...], n: int) -> Column:
    """The signature string with the given 1-based bit positions inverted."""
    parts = []
    for i in range(1, n + 1):
        ch = F.substring(sig, i, 1)
        if i in positions:
            ch = F.when(ch == "1", F.lit("0")).otherwise(F.lit("1"))
        parts.append(ch)
    return F.concat(*parts)


def lsh_topk(corpus: DataFrame, query: DataFrame, k: int = 10,
             id_col: str = "vec_id", vec_col: str = "embedding",
             dim: int = 64, n_planes: int = 8, seed: int = 42,
             probe: int = 1) -> DataFrame:
    """Approximate top-k: compare only vectors sharing the hyperplane-LSH
    bucket with the query. At 100 TB this replaces the full cross join with
    a bucket-key equi-join (shuffle on the signature).

    Multi-probe is ON BY DEFAULT: each query also probes every bucket
    within Hamming distance ``probe`` of its own signature (flipped sign
    bits) — the standard recall fix for sign-LSH, because near neighbors
    sitting just across a hyperplane land in an adjacent bucket. Measured
    on the 200k-vector clustered smoke (SCALE.md): recall@10 rises steeply
    with probe depth while only the broadcast query side grows
    (sum_{d<=probe} C(n_planes, d) rows per query); the corpus side (the
    big one) is untouched, so the join stays a bucket equi-join.
    ``probe=0`` is exact-bucket-only (cheapest, lowest recall)."""
    from itertools import combinations

    from carbonapi_spark.datapipe import spread
    corpus = spread(corpus, min_bytes=256 << 10)  # plane-dot HOFs
    planes = random_planes(dim, n_planes, seed)
    v = f"cast({vec_col} as array<double>)"
    sig = _signature_sql(v, planes)
    c = selectx(corpus, f"{id_col} as neighbor_id", f"{v} as __cv",
                f"{sig} as __sig")
    q = selectx(query, f"{id_col} as query_id", f"{v} as __qv",
                f"{sig} as __sig")
    if probe:
        # explode each query into its probe signatures: the exact bucket
        # plus every <=probe-bit flip (all distinct by construction)
        flips = [()] + [c_ for d in range(1, probe + 1)
                        for c_ in combinations(range(1, n_planes + 1), d)]
        sigs = F.array(*[_flip_expr(F.col("__sig"), set(p), n_planes)
                         for p in flips])
        q = q.select("query_id", "__qv", F.explode(sigs).alias("__sig"))
    sims = (c.join(F.broadcast(q), "__sig")
            .where(F.col("neighbor_id") != F.col("query_id"))
            .select("query_id", "neighbor_id",
                    F.round(cosine(F.col("__qv"), F.col("__cv")), 6).alias("cos_sim")))
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(),
                                               F.col("neighbor_id"))
    return (sims.withColumn("__rk", F.row_number().over(w))
            .where(F.col("__rk") <= k).drop("__rk"))


# ---------------------------------------------------------------- PQ / ADC

def pq_codebooks(dim: int = 64, m: int = 8, ksub: int = 16,
                 seed: int = 44, scale: float | None = None
                 ) -> list[list[list[float]]]:
    """Deterministic product-quantization codebooks: ``m`` subspaces of
    ``dim // m`` dims, ``ksub`` codewords each, seeded Gaussian at the
    per-coordinate scale of a unit-norm vector (1/sqrt(dim)).

    Like ``ivf_centroids``, determinism from (dim, m, ksub, seed) alone is
    the point: the DuckDB oracle replays encoding and ADC exactly. For
    production recall, train data-adapted codebooks with
    :func:`pq_train` and pass them to the same encode/search functions."""
    import random
    rng = random.Random(seed)
    dsub = dim // m
    s = scale if scale is not None else 1.0 / math.sqrt(dim)
    return [[[rng.gauss(0, s) for _ in range(dsub)] for _ in range(ksub)]
            for _ in range(m)]


def pq_train(sample: list[list[float]], m: int = 8, ksub: int = 16,
             iters: int = 12, seed: int = 44) -> list[list[list[float]]]:
    """Lloyd k-means per subspace over a driver-side sample — the real
    PQ training path (Jegou et al., "Product Quantization for Nearest
    Neighbor Search", TPAMI 2011: codebooks are trained on a small sample
    and broadcast; only encoding and search run over the full corpus).

    Deterministic for a fixed sample/seed, but data-DEPENDENT — catalog
    entries use :func:`pq_codebooks` so the oracle can replay them; use
    this for deployments, where recall matters more than replayability."""
    import numpy as np
    x = np.asarray(sample, dtype=np.float64)
    n, dim = x.shape
    dsub = dim // m
    rng = np.random.default_rng(seed)
    out = []
    for j in range(m):
        sub = x[:, j * dsub:(j + 1) * dsub]
        cb = sub[rng.choice(n, size=ksub, replace=n < ksub)].copy()
        for _ in range(iters):
            # argmin ||sub-cw||^2 == argmin |cw|^2 - 2 sub.cw (|sub|^2
            # is per-row constant): BLAS matmul instead of an
            # n x ksub x dsub broadcast temp (measured 88s -> ~8s for
            # the 20k x 256-codeword training in scale_smoke_ann)
            d2 = (cb * cb).sum(axis=1) - 2.0 * (sub @ cb.T)
            assign = d2.argmin(axis=1)
            for c in range(ksub):
                mask = assign == c
                if mask.any():
                    cb[c] = sub[mask].mean(axis=0)
        out.append(cb.tolist())
    return out


def _cb_sql(rows: list[list[float]]) -> str:
    """Nested array<array<double>> literal SQL (constant-folded by
    Catalyst into one Literal)."""
    return "array(" + ",".join(
        "array(" + ",".join(repr(float(x)) + "D" for x in row) + ")"
        for row in rows) + ")"


def _sqdists_sql(vec_sql: str, cb: list[list[float]], j: int,
                 dsub: int) -> str:
    """SQL for array<double> of squared distances from subvector j to
    each codeword. Whole-string construction: ONE parse round-trip
    instead of a py4j call per Column op — the literal-heavy PQ
    expressions otherwise spend ~1 s of driver time per query just being
    built (same trick as ``minhash_signatures_df``)."""
    return (f"transform({_cb_sql(cb)}, cw -> aggregate(zip_with("
            f"slice({vec_sql}, {j * dsub + 1}, {dsub}), cw, "
            f"(x, y) -> (x - y) * (x - y)), 0.0D, (acc, x) -> acc + x))")


def _pq_code_sql(vec_sql: str, codebooks: list[list[list[float]]]) -> str:
    """SQL for the array<int> of per-subspace codeword indices (1-based,
    ties to the lowest index). The argmin is a single fold over
    (dist, index) pairs — the distance array is computed ONCE per
    subspace (``array_position(d, array_min(d))`` would inline the
    transform tree twice); strict ``<`` keeps the first minimum,
    preserving the ties-to-lowest-index contract the oracle replays."""
    dsub = len(codebooks[0][0])
    ksub = len(codebooks[0])
    codes = []
    for j in range(len(codebooks)):
        d = _sqdists_sql(vec_sql, codebooks[j], j, dsub)
        codes.append(
            f"cast(aggregate(zip_with({d}, sequence(1, {ksub}), "
            f"(d, i) -> struct(d, i)), "
            f"named_struct('d', cast('Infinity' as double), 'i', 0), "
            f"(acc, x) -> if(x.d < acc.d, x, acc)).i as int)")
    return "array(" + ",".join(codes) + ")"


def pq_encode(df: DataFrame, codebooks: list[list[list[float]]],
              id_col: str = "vec_id", vec_col: str = "embedding",
              code_col: str = "codes") -> DataFrame:
    """Encode every vector to ``m`` codebook indices (1-based, ties to the
    lowest index): array<int> of length m — 8 bytes/vector at the default
    (m=8, ksub=16) vs 256 bytes of float32, a 32x smaller table to scan.
    Pure array HOFs over constant-folded codebook literals; zero shuffle (the spread gate
    repartitions single-file scans so the heavy argmin projection
    parallelizes; below the gate it stays exchange-free)."""
    from carbonapi_spark.datapipe import spread
    df = spread(df, min_bytes=256 << 10)
    v = f"cast({vec_col} as array<double>)"
    return selectx(df, id_col,
                   f"{_pq_code_sql(v, codebooks)} as {code_col}")


def pq_topk(corpus: DataFrame, query: DataFrame, k: int = 10,
            id_col: str = "vec_id", vec_col: str = "embedding",
            dim: int = 64, m: int = 8, ksub: int = 16, seed: int = 44,
            codebooks: list[list[list[float]]] | None = None,
            codes: DataFrame | None = None,
            code_col: str = "codes") -> DataFrame:
    """Approximate top-k by asymmetric distance computation (ADC) over
    PQ codes: the *compressed-domain* scale path. The corpus is reduced
    to m small ints per vector (encode once, store instead of the raw
    embedding); each query precomputes an m x ksub distance table, and
    the scan cost per (query, vector) is m table lookups — no
    dot products against raw vectors at all.

    Physical shape at 100 TB: the codes table is ~32x smaller than the
    embedding column, the query side (codes + distance tables) is
    broadcast, and the scan is a single stateless projection — no
    shuffle of the corpus, same as ``brute_force_topk`` but on a
    fraction of the bytes. Returns (query_id, neighbor_id, adc_dist)
    ranked ascending (L2^2), ties to the lower neighbor id."""
    cbs = codebooks if codebooks is not None else pq_codebooks(
        dim, m, ksub, seed)
    dsub = len(cbs[0][0])  # from the codebooks, NOT the m/ksub args
    if codes is not None:
        # production path: scan the persisted 32x-compressed codes table
        # (pq_encode written once at ingest) instead of re-encoding raw
        # vectors per query
        c = codes.select(F.col(id_col).alias("neighbor_id"),
                         F.col(code_col).alias("__codes"))
    else:
        c = pq_encode(corpus, cbs, id_col, vec_col, "__codes") \
            .withColumnRenamed(id_col, "neighbor_id")
    qv = f"cast({vec_col} as array<double>)"
    dtab = "array(" + ",".join(
        _sqdists_sql(qv, cbs[j], j, dsub) for j in range(len(cbs))) + ")"
    q = selectx(query, f"{id_col} as query_id", f"{dtab} as __dtab")
    adc = F.aggregate(
        F.zip_with(F.col("__codes"), F.col("__dtab"),
                   lambda code, tab: F.element_at(tab, code)),
        F.lit(0.0), lambda acc, x: acc + x)
    sims = (c.crossJoin(F.broadcast(q))
            .where(F.col("neighbor_id") != F.col("query_id"))
            .select("query_id", "neighbor_id",
                    F.round(adc, 6).alias("adc_dist")))
    w = Window.partitionBy("query_id").orderBy(F.col("adc_dist").asc(),
                                               F.col("neighbor_id"))
    return (sims.withColumn("__rk", F.row_number().over(w))
            .where(F.col("__rk") <= k).drop("__rk"))


def pq_rerank_topk(corpus: DataFrame, query: DataFrame, k: int = 10,
                   r: int = 100, id_col: str = "vec_id",
                   vec_col: str = "embedding", dim: int = 64, m: int = 8,
                   ksub: int = 16, seed: int = 44,
                   codebooks: list[list[list[float]]] | None = None
                   ) -> DataFrame:
    """ADC + exact rerank (the FAISS ``IVFPQ,Refine`` shape): PQ codes
    select the top ``r`` candidates per query in the compressed domain,
    then ONLY those r vectors are scored with exact cosine — so recall is
    set by "is the true neighbor in the ADC top-r" (high even for coarse
    codebooks) while the exact-distance cost drops from |corpus| to r per
    query. Returns (query_id, neighbor_id, cos_sim), the exact ranking of
    the candidate set.

    Scale shape: stage 1 scans the 32x-compressed codes (no shuffle,
    broadcast distance tables); stage 2 gathers r * |queries| raw vectors
    via a semi-join on ids — a point lookup against the embedding table,
    not a second full scan of it."""
    cand = pq_topk(corpus, query, k=r, id_col=id_col, vec_col=vec_col,
                   dim=dim, m=m, ksub=ksub, seed=seed, codebooks=codebooks)
    return _exact_rerank(corpus, query, cand, k, id_col, vec_col)


def _exact_rerank(corpus: DataFrame, query: DataFrame, cand: DataFrame,
                  k: int, id_col: str, vec_col: str) -> DataFrame:
    """Exact-cosine rerank of an (query_id, neighbor_id) candidate set:
    gathers only the candidate vectors via an id join (a point lookup
    against the embedding table, not a second full scan), broadcasts the
    tiny query side, and windows to top-k."""
    c = (corpus.select(F.col(id_col).alias("neighbor_id"),
                       _as_double(F.col(vec_col)).alias("__cv"))
         .join(cand.select("query_id", "neighbor_id"), "neighbor_id"))
    q = query.select(F.col(id_col).alias("query_id"),
                     _as_double(F.col(vec_col)).alias("__qv"))
    sims = (c.join(F.broadcast(q), "query_id")
            .select("query_id", "neighbor_id",
                    F.round(cosine(F.col("__qv"), F.col("__cv")), 6)
                    .alias("cos_sim")))
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(),
                                               F.col("neighbor_id"))
    return (sims.withColumn("__rk", F.row_number().over(w))
            .where(F.col("__rk") <= k).drop("__rk"))


# ------------------------------------------------------------------- IVFADC

def ivfpq_encode(df: DataFrame, codebooks: list[list[list[float]]],
                 centroids: list[list[float]], id_col: str = "vec_id",
                 vec_col: str = "embedding", cell_col: str = "cell",
                 code_col: str = "codes", l2_cells: bool = False,
                 residual: bool = False,
                 keep_vec: bool = False) -> DataFrame:
    """(id, cell, codes): the persisted IVFADC index table — coarse cell
    assignment (argmax cell score, ties to the lowest cell; dot for
    spherical cells, ``2 e.c - |c|^2`` for trained Voronoi centroids via
    ``l2_cells=True``) plus PQ codes (per-subspace argmin squared
    distance, 1-based, ties to the lowest codeword), one stateless pass
    over the raw vectors.  Write it once at ingest, partitioned by
    ``cell``, and ``ivfpq_topk(codes=...)`` probes it without touching
    raw embeddings.

    ``residual=True`` is faithful FAISS IVFADC (Jegou 2011 eq. 13):
    codes quantize ``e - c_cell`` instead of ``e`` — residuals live in a
    much smaller ball than raw vectors, so the same codebook budget
    spends its codewords where the data actually is (the query side must
    probe with the matching per-cell residual, see ``ivfpq_topk``).

    The kernel is numpy over Arrow batches: per chunk, one BLAS matmul
    scores the cells and one per subspace scores the codewords
    (argmax ``2 sub.cw - |cw|^2`` is the argmin distance).  A row whose
    top-2 gap is within the BLAS-vs-fold error bound is re-scored in
    fold order with the SQL formula (:func:`_cell_score_sql`,
    :func:`_sqdists_sql`), so every cell and code equals the SQL
    fold's.  Encoding every row in
    fold order measured 8x slower (626 vs 79 ms per 4096-row chunk at
    64d, 256 cells, PQ8x256, one thread); near-ties are rare.  A NULL
    embedding encodes to cell NULL and codes ``[0] * m``, as the SQL
    fold does."""
    import numpy as np
    import pandas as pd

    from carbonapi_spark.datapipe import spread

    C = np.asarray(centroids, dtype=np.float64)          # k x dim
    CB = [np.asarray(cb, dtype=np.float64) for cb in codebooks]
    dim, dsub = C.shape[1], CB[0].shape[1]
    n2 = _fold_dot(C, C)              # the |c|^2 literals of the SQL
    cmax, n2max = float(np.sqrt(n2.max())), float(n2.max())
    cbn = [(cb * cb).sum(axis=1) for cb in CB]
    cwmax = [float(np.sqrt(n.max())) for n in cbn]
    chunk = _ENCODE_CHUNK
    id_dt = df.schema[id_col].dataType.simpleString()
    schema = f"`{id_col}` {id_dt}, `{cell_col}` int, `{code_col}` array<int>"
    if keep_vec:
        schema += f", `{vec_col}` array<double>"

    def cells(X):
        s = X @ C.T
        scale = np.linalg.norm(X, axis=1) * cmax
        if l2_cells:
            s *= 2.0
            s -= n2
            scale = 2.0 * scale + n2max
        return _guarded_argmax(
            s, _fold_tol(dim, scale),
            lambda rows: _fold_cell_scores(X[rows], C,
                                           n2 if l2_cells else None))

    def code(sub, j):
        # argmin |sub - cw|^2 == argmax 2 sub.cw - |cw|^2: one matmul
        # instead of an n x ksub x dsub temp
        s = sub @ CB[j].T
        s *= 2.0
        s -= cbn[j]
        scale = (np.linalg.norm(sub, axis=1) + cwmax[j]) ** 2
        return _guarded_argmax(
            s, _fold_tol(dsub, scale),
            lambda rows: -_fold_sqdists(sub[rows], CB[j]))

    def encode(batches):
        for pdf in batches:
            nulls = pdf[pdf[vec_col].isna()]
            if len(nulls):
                out = {id_col: nulls[id_col].to_numpy(),
                       cell_col: [None] * len(nulls),
                       code_col: [[0] * len(CB)] * len(nulls)}
                if keep_vec:
                    out[vec_col] = [None] * len(nulls)
                yield pd.DataFrame(out)
                pdf = pdf[pdf[vec_col].notna()]
            for lo in range(0, len(pdf), chunk):
                part = pdf.iloc[lo:lo + chunk]
                X = np.array([np.asarray(v, dtype=np.float64)
                              for v in part[vec_col]])
                cell = cells(X)
                R = X - C[cell] if residual else X
                codes = np.empty((len(X), len(CB)), dtype=np.int32)
                for j in range(len(CB)):
                    codes[:, j] = code(R[:, j * dsub:(j + 1) * dsub], j) + 1
                out = {id_col: part[id_col].to_numpy(),
                       cell_col: (cell + 1).astype(np.int32),
                       code_col: list(codes)}
                if keep_vec:
                    out[vec_col] = list(X)
                yield pd.DataFrame(out)

    src = spread(df, min_bytes=256 << 10)
    return src.select(F.col(id_col), _as_double(F.col(vec_col))
                      .alias(vec_col)).mapInPandas(encode, schema)


def _driver_probe_rows(query: DataFrame, cents: list[list[float]],
                       cbs: list[list[list[float]]], nprobe: int,
                       id_col: str, vec_col: str, l2: bool,
                       residual: bool) -> list[tuple]:
    """(query_id, cell, dtab) probe rows from ONE query collect: each
    query's ``nprobe`` best cells (score desc, ties to the lowest cell),
    each with its ADC distance table, built from the query residual
    ``q - c_cell`` when ``residual``.  Scores and table entries are
    fold-order values, equal to :func:`_cell_score_sql` and
    :func:`_sqdists_sql` bit for bit.  NULL query embeddings are
    skipped."""
    import numpy as np
    rows = [r for r in query.select(F.col(id_col).alias("q"),
                                    _as_double(F.col(vec_col)).alias("v"))
            .collect() if r["v"] is not None]
    if not rows:
        return []
    C = np.asarray(cents, dtype=np.float64)
    CB = [np.asarray(cb, dtype=np.float64) for cb in cbs]
    dsub = CB[0].shape[1]
    X = np.array([r["v"] for r in rows], dtype=np.float64)
    s = _fold_cell_scores(X, C, _fold_dot(C, C) if l2 else None)
    order = np.argsort(-s, axis=1, kind="stable")[:, :nprobe]
    qi = np.repeat(np.arange(len(rows)), order.shape[1])
    cell0 = order.ravel()
    R = X[qi] - C[cell0] if residual else X[qi]
    dtab = np.stack([_fold_sqdists(R[:, j * dsub:(j + 1) * dsub], cb)
                     for j, cb in enumerate(CB)], axis=1)
    return [(rows[i]["q"], int(c) + 1, t)
            for i, c, t in zip(qi, cell0, dtab.tolist())]


def _probe_rows_df(spark, query: DataFrame, id_col: str,
                   rows: list[tuple]) -> DataFrame:
    q_dt = query.schema[id_col].dataType.simpleString()
    return local_df(
        spark, rows, f"`query_id` {q_dt}, `__cell` int, "
                     f"`__dtab` array<array<double>>")


def ivfpq_topk(corpus: DataFrame, query: DataFrame, k: int = 10,
               id_col: str = "vec_id", vec_col: str = "embedding",
               dim: int = 64, n_centroids: int = 16, nprobe: int = 2,
               cell_seed: int = 43, m: int = 8, ksub: int = 16,
               seed: int = 44,
               codebooks: list[list[list[float]]] | None = None,
               codes: DataFrame | None = None, cell_col: str = "cell",
               code_col: str = "codes", refine: int | None = None,
               centroids: list[list[float]] | None = None,
               residual: bool = False,
               probe_tables: DataFrame | None = None) -> DataFrame:
    """IVFADC — the FAISS ``IVFx,PQy`` composition (Jegou et al., TPAMI
    2011, sec. V): a coarse spherical quantizer (``ivf_centroids``)
    bounds the scan to the ~n*nprobe/n_centroids codes in the probed
    cells, and PQ codes make each scanned row ``m`` table lookups — the
    two orthogonal reductions multiplied. Plain ``pq_topk`` scans the
    FULL codes table per query batch; this touches only the probed
    cells, which is what makes the compressed-domain path sublinear at
    100 TB (cell-partitioned codes table => partition pruning serves
    the probe).

    ``refine=r`` adds the ``IVFPQ,Refine`` stage: ADC selects top-r per
    query, then ONLY those r vectors are rescored with exact cosine
    (returns cos_sim ranked descending; without refine returns adc_dist
    ranked ascending). ``codes=`` supplies a persisted
    ``ivfpq_encode`` table so raw embeddings are never rescanned
    (stage-2 refine still gathers its r*|q| vectors by id semi-join).

    ``centroids=`` supplies a trained coarse quantizer
    (:func:`kmeans_centroids`); cells then score by L2 (``2 e.c -
    |c|^2``) on both the corpus and probe sides, matching the training
    metric.

    ``residual=True`` is faithful FAISS IVFADC: codes quantize
    ``e - c_cell`` and each probe's distance table is built from the
    matching query residual ``q - c_cell`` — so ADC approximates
    ``|q - e|^2`` with both sides expressed relative to the SAME cell.
    Per-cell distance tables cost nprobe * m * ksub * dsub multiplies on
    the (small) query side only; the corpus side is identical.  Measured
    recall gain over raw-vector coding: see SCALE.md / the
    ``pq_ivf_residual`` catalog entry.

    The query batch is small, so it is collected once and its probe
    cells and ADC distance tables are computed on the driver
    (:func:`_driver_probe_rows`, fold order) and joined as data.
    Inlining them as SQL literals instead cost ~10 s of parse and
    codegen per probe batch at 256 cells and PQ8x8.  ``probe_tables=``
    supplies those rows precomputed: the :func:`ann_index_topk`
    pass-through that lets one query collect serve both partition
    pruning and the probe.

    Deterministic for fixed seeds: cells, codes, probe ranking and ADC
    distances are fold-order values, so the DuckDB oracle replays them
    bit for bit.  NULL-embedding queries are dropped up front (ADVICE
    r12): all-NULL distance tables would rank nulls-first and return k
    junk rows per such query."""
    query = query.where(F.col(vec_col).isNotNull())
    cbs = codebooks if codebooks is not None else pq_codebooks(
        dim, m, ksub, seed)
    l2_cells = centroids is not None
    cents = (centroids if centroids is not None
             else ivf_centroids(dim, n_centroids, cell_seed))
    if codes is not None:
        c = codes.select(F.col(id_col).alias("neighbor_id"),
                         F.col(cell_col).alias("__cell"),
                         F.col(code_col).alias("__codes"))
    else:
        c = (ivfpq_encode(corpus, cbs, cents, id_col, vec_col,
                          "__cell", "__codes", l2_cells=l2_cells,
                          residual=residual)
             .withColumnRenamed(id_col, "neighbor_id"))
    q = probe_tables if probe_tables is not None else _probe_rows_df(
        query.sparkSession, query, id_col,
        _driver_probe_rows(query, cents, cbs, nprobe, id_col, vec_col,
                           l2_cells, residual))
    adc = F.aggregate(
        F.zip_with(F.col("__codes"), F.col("__dtab"),
                   lambda code, tab: F.element_at(tab, code)),
        F.lit(0.0), lambda acc, x: acc + x)
    sims = (c.join(F.broadcast(q), "__cell")
            .where(F.col("neighbor_id") != F.col("query_id"))
            .select("query_id", "neighbor_id",
                    F.round(adc, 6).alias("adc_dist")))
    w = Window.partitionBy("query_id").orderBy(F.col("adc_dist").asc(),
                                               F.col("neighbor_id"))
    topn = (sims.withColumn("__rk", F.row_number().over(w))
            .where(F.col("__rk") <= (refine or k)).drop("__rk"))
    if refine is None:
        return topn
    return _exact_rerank(corpus, query, topn, k, id_col, vec_col)


# ----------------------------------------------------------------- SemDeDup

def semantic_dedup(vecs: DataFrame, id_col: str = "vec_id",
                   vec_col: str = "embedding", dim: int = 64,
                   n_centroids: int = 16, tau: float = 0.95,
                   cell_seed: int = 43, max_cell: int = 10_000,
                   salt: int = 8) -> DataFrame:
    """SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication", 2023): cluster the
    embedding space coarsely, compare vectors ONLY within their cluster,
    and drop all but one member of each semantic-duplicate group
    (pairwise cosine >= ``tau``).

    Returns (id, cell, centroid_sim, keep): ``keep`` is false iff a
    LOWER-id same-cell vector is ``tau``-similar — the greedy-by-id
    keeper, deterministic and exactly SQL-replayable. (The paper keeps
    the member with the lowest centroid similarity; compose
    ``semantic_dup_pairs`` + ``cluster.dedup_keep_best`` with
    ``-centroid_sim`` as the score for that policy — same plan shape,
    one extra cluster-keyed window.)

    Scale shape (the paper's own argument, sec. 3): clustering makes the
    quadratic pair comparison tractable by bounding it to within-cluster
    pairs — here a single cell equi-join (self-join on the cell key,
    low-id side < high-id side), never an all-pairs product. Vectors are
    L2-NORMALIZED once per row before the join, so each pair costs ONE
    dot product instead of a cosine that would re-fold both norms per
    pair (measured 3x on the in-cell pass). Cells are the spherical
    seeded quantizer (``ivf_centroids``) so the oracle replays
    assignment exactly; production swaps in trained k-means centroids
    without changing the plan. ``max_cell`` truncates pathological cells
    (sorted-prefix rule, like ``max_bucket`` in the LSH paths) so an
    adversarial corpus cannot quadratic-blow a task."""
    from carbonapi_spark import scratch
    # capped feeds BOTH join sides and the final keep join — without the
    # request-scoped persist the cell-dot + normalize projection (the
    # n_centroids x dim HOF pass) would re-execute three times
    capped = scratch.track(
        _cells_normalized(vecs, id_col, vec_col, dim, n_centroids,
                          cell_seed, max_cell, centroid_sim=True))
    lo = capped.select(F.col(id_col).alias("__lo"), "cell",
                       F.col("__nv").alias("__lv"))
    dup = (_salted_cell_join(capped, lo, id_col, salt)
           .where(F.col("__lo") < F.col(id_col))
           .where(F.round(dot(F.col("__nv"), F.col("__lv")), 6) >= tau)
           .select(id_col).distinct()
           .withColumn("__dup", F.lit(True)))
    return (capped.join(dup, id_col, "left")
            .select(id_col, "cell", "centroid_sim",
                    F.coalesce(~F.col("__dup"), F.lit(True)).alias("keep")))


def _salted_cell_join(hi: DataFrame, lo: DataFrame, id_col: str,
                      salt: int) -> DataFrame:
    """In-cell pair join with the join key widened to (cell, salt): the
    pair-comparison work of a cell lands in ONE task otherwise (cells
    are few by design — n_centroids << cores), so the quadratic stage
    runs at cell-count parallelism and a hot cell straggles. Salting by
    hi-side id spreads each cell's pairs over ``salt`` tasks; the lo
    side is replicated salt times (linear rows, trivial next to the
    quadratic pair work). Results are identical — salt only changes
    partitioning."""
    if salt <= 1:
        return hi.join(lo, "cell")
    hi_s = hi.withColumn("__salt",
                         F.pmod(F.xxhash64(F.col(id_col)), F.lit(salt)))
    lo_s = lo.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i).cast("long")
                                      for i in range(salt)])))
    return hi_s.join(lo_s, ["cell", "__salt"]).drop("__salt")


def cell_normalized_projection(vecs: DataFrame, id_col: str = "vec_id",
                               vec_col: str = "embedding", dim: int = 64,
                               n_centroids: int = 16, cell_seed: int = 43,
                               centroid_sim: bool = False) -> DataFrame:
    """(id, cell[, centroid_sim], __nv): stateless seeded-cell
    assignment (argmax dot with the spherical quantizer directions, ties
    to the lowest cell) with the vector L2-normalized once (null for
    zero vectors — they then match nothing downstream). The SINGLE
    definition shared by batch SemDeDup (which adds the per-cell cap)
    and ``streaming.stateful.stream_semantic_dedup`` (which feeds it to
    keyed state) — so batch and stream cannot drift apart. Works on
    streaming inputs (the spread gate is batch-only)."""
    from carbonapi_spark.datapipe import spread
    if not vecs.isStreaming:
        vecs = spread(vecs, min_bytes=256 << 10)  # cell-dot HOFs
    cents = ivf_centroids(dim, n_centroids, cell_seed)
    v = f"cast({vec_col} as array<double>)"
    cell_dots = _cell_score_sql(v, cents)   # r14: one transform HOF
    # norm hoisted to its own column FIRST: referenced inside the
    # transform lambda it would be re-folded per element (no CSE across
    # lambda scopes — same pitfall as embedding_dedup's normalize)
    base = (selectx(vecs, f"{id_col}", f"{v} as __v",
                    f"{cell_dots} as __d")
            .withColumn("__norm", norm(F.col("__v"))))
    nrm = F.col("__norm")
    cols = [F.col(id_col),
            F.array_position(F.col("__d"), F.array_max("__d"))
            .cast("int").alias("cell"),
            F.when(nrm > 0, F.transform(F.col("__v"), lambda x: x / nrm))
            .alias("__nv")]
    if centroid_sim:
        cols.insert(2, F.round(F.when(nrm > 0, F.array_max("__d") / nrm),
                               6).alias("centroid_sim"))
    return base.select(*cols)


def _cells_normalized(vecs: DataFrame, id_col: str, vec_col: str,
                      dim: int, n_centroids: int, cell_seed: int,
                      max_cell: int, centroid_sim: bool = False
                      ) -> DataFrame:
    """``cell_normalized_projection`` capped per cell by the
    sorted-prefix rule."""
    base = cell_normalized_projection(vecs, id_col, vec_col, dim,
                                      n_centroids, cell_seed,
                                      centroid_sim)
    w = Window.partitionBy("cell").orderBy(id_col)
    return (base.withColumn("__rk", F.row_number().over(w))
            .where(F.col("__rk") <= max_cell).drop("__rk"))


def semantic_dup_pairs(vecs: DataFrame, id_col: str = "vec_id",
                       vec_col: str = "embedding", dim: int = 64,
                       n_centroids: int = 16, tau: float = 0.95,
                       cell_seed: int = 43, max_cell: int = 10_000,
                       salt: int = 8) -> DataFrame:
    """Within-cell tau-similar pairs (id_a < id_b, cos_sim) — the edge
    list for cluster-based SemDeDup policies (feed to
    ``cluster.dedup_clusters`` / ``dedup_keep_best``). Same normalized
    one-dot-per-pair shape as :func:`semantic_dedup`."""
    from carbonapi_spark import scratch
    capped = scratch.track(
        _cells_normalized(vecs, id_col, vec_col, dim, n_centroids,
                          cell_seed, max_cell))
    a = capped.select(F.col(id_col).alias("id_a"), "cell",
                      F.col("__nv").alias("__av"))
    b = capped.select(F.col(id_col).alias("id_b"), "cell",
                      F.col("__nv").alias("__bv"))
    return (_salted_cell_join(a, b, "id_a", salt)
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b",
                    F.round(dot(F.col("__av"), F.col("__bv")), 6)
                    .alias("cos_sim"))
            .where(F.col("cos_sim") >= tau))


# ------------------------------------------------------- durable ANN index

def write_ann_index(df: DataFrame, path: str,
                    codebooks: list[list[list[float]]],
                    centroids: list[list[float]],
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    l2_cells: bool = False,
                    residual: bool = False,
                    store_vectors: bool = False) -> None:
    """Persist the IVFADC index as a partitioned Parquet layout:

      {path}/codes/cell=N/...   (id, codes)  — partitioned BY CELL, so a
                                probe's cell set becomes Parquet
                                partition pruning (the scan reads only
                                ~nprobe/n_centroids of the index)
      {path}/centroids          (cell, emb, l2)
      {path}/codebooks          (m, code, sub)

    The ``write_training_shards`` analog for the ANN family: encode once
    at ingest with :func:`ivfpq_encode` (numpy over Arrow batches, every
    cell and code equal to the SQL fold's), then every query batch
    probes the durable artifact without touching raw embeddings.

    ``store_vectors=True`` rides the raw vectors along in the codes
    table (FAISS keeps vectors in the IVF lists for IVFFlat/Refine for
    the same reason): the exact-rerank stage then reads ONLY the probed
    ``cell=`` partitions instead of re-scanning the full embedding
    corpus — at 100 TB that turns refine from a second corpus pass into
    a ~nprobe/n_centroids partition-pruned read, and parquet column
    pruning keeps pure-ADC probes reading just (id, codes).  Build,
    append, compaction and deletion run through the shared lifecycle
    helpers of :mod:`carbonapi_spark.datapipe.maintenance`."""
    spark = df.sparkSession
    codes = ivfpq_encode(df, codebooks, centroids, id_col, vec_col,
                         l2_cells=l2_cells, residual=residual,
                         keep_vec=store_vectors)
    from carbonapi_spark.datapipe.maintenance import (build_index,
                                                      write_partitioned)
    build_index(
        spark, path, ["codes", "centroids", "codebooks"],
        lambda: write_partitioned(codes, f"{path}/codes", ["cell"],
                                  len(centroids), "overwrite"),
        lambda: write_small_table(
            spark, f"{path}/centroids",
            [(i + 1, c, l2_cells, residual)
             for i, c in enumerate(centroids)],
            "cell INT, emb ARRAY<DOUBLE>, l2 BOOLEAN, residual BOOLEAN"),
        lambda: write_small_table(
            spark, f"{path}/codebooks",
            [(j, cw, list(map(float, codebooks[j][cw])))
             for j in range(len(codebooks))
             for cw in range(len(codebooks[j]))],
            "m INT, code INT, sub ARRAY<DOUBLE>"))


def read_ann_index(spark, path: str):
    """(codes DataFrame, centroids, codebooks, l2_cells, residual) from
    :func:`write_ann_index`'s layout. Centroids/codebooks are
    model-sized (k x dim, m x ksub x dsub) — driver lists by design."""
    from carbonapi_spark.datapipe import read_small_table
    from carbonapi_spark.datapipe.maintenance import read_index_table
    codes = read_index_table(spark, f"{path}/codes")
    crows = read_small_table(spark, f"{path}/centroids")
    crows.sort(key=lambda r: r["cell"])
    centroids = [list(r["emb"]) for r in crows]
    l2_cells = bool(crows[0]["l2"]) if crows else False
    residual = bool(crows[0]["residual"]) if crows \
        and "residual" in crows[0] else False
    brows = read_small_table(spark, f"{path}/codebooks")
    mmax = max((r["m"] for r in brows), default=-1)
    codebooks: list[list[list[float]]] = [[] for _ in range(mmax + 1)]
    for r in sorted(brows, key=lambda r: (r["m"], r["code"])):
        codebooks[r["m"]].append(list(r["sub"]))
    return codes, centroids, codebooks, l2_cells, residual


def ann_index_topk(spark, path: str, query: DataFrame, k: int = 10,
                   nprobe: int = 2, refine: int | None = None,
                   corpus: DataFrame | None = None,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding",
                   dedupe: bool = False) -> DataFrame:
    """Probe a durable :func:`write_ann_index` artifact.

    ``dedupe=True`` collapses duplicate ids in the probed cells before
    ranking — the probe-side answer to at-least-once replay duplicates
    from :func:`stream_append_ann_index` (without it a duplicated id
    occupies two of the top-k slots).  It reads only the pruned cells,
    so the dedupe shuffle is probe-sized, not index-sized; run
    :func:`compact_ann_index` to remove the duplicates durably instead
    of per-probe.

    The query batch is small by definition: ONE query collect yields
    its probe rows (:func:`_driver_probe_rows` — probe cells and ADC
    distance tables in fold order, bit-identical to the SQL fold).
    They reach :func:`ivfpq_topk` as data, and their cell set reaches
    the codes scan as a literal ``cell IN (...)`` predicate — STATIC
    Parquet partition pruning (the plan shows PartitionFilters; only
    the probed cell directories are read), which at 100 TB is the
    difference between scanning the whole index and ~nprobe/n_centroids
    of it.  ``refine=`` needs raw vectors
    for the exact rerank of the ADC top-``refine``: either ``corpus=``
    (full embedding table — a second scan) or an index built with
    ``store_vectors=True``, whose rerank reads only the probed
    partitions (preferred; ``corpus=`` then overrides if given).

    NULL-embedding queries are dropped up front (ADVICE r12, same
    guard as :func:`ivfpq_topk`)."""
    query = query.where(F.col(vec_col).isNotNull())
    codes, cents, cbs, l2_cells, residual = read_ann_index(spark, path)
    if refine is not None and corpus is None \
            and vec_col not in codes.columns:
        raise ValueError("refine= needs corpus= (raw vectors), or an "
                         "index built with store_vectors=True, for the "
                         "exact rerank stage")
    dim = len(cents[0])
    rows = _driver_probe_rows(query, cents, cbs, nprobe, id_col, vec_col,
                              l2_cells, residual)
    cells = sorted({cell for _q, cell, _d in rows})
    probe_df = _probe_rows_df(spark, query, id_col, rows)
    pruned = codes.where(F.col("cell").isin(cells))
    from carbonapi_spark.datapipe.maintenance import read_l0
    l0 = read_l0(spark, path, "codes")
    if l0 is not None:
        # L0 rows carry cell as an ordinary column (the maintenance
        # module's L0 protocol); the union keeps every downstream stage
        # (dedupe, ADC scoring, stored-vector rerank) oblivious to
        # where a row lives
        pruned = pruned.unionByName(
            l0.where(F.col("cell").isin(cells)).select(*pruned.columns))
    if dedupe:
        pruned = pruned.dropDuplicates([id_col])
    if refine is not None and corpus is None:
        # stored-vector rerank: candidates can only come from probed
        # cells, so the vector gather inherits the partition pruning
        corpus = pruned.select(id_col, vec_col)
    return ivfpq_topk(corpus, query, k=k, id_col=id_col, vec_col=vec_col,
                      dim=dim, nprobe=nprobe, codebooks=cbs,
                      codes=pruned, refine=refine, centroids=(
                          cents if l2_cells else None),
                      n_centroids=len(cents), residual=residual,
                      probe_tables=probe_df)


def ivf_cell_stats(corpus: DataFrame, id_col: str = "vec_id",
                   vec_col: str = "embedding", dim: int = 64,
                   n_centroids: int = 16, seed: int = 43,
                   centroids: list[list[float]] | None = None) -> DataFrame:
    """Per-cell population of the coarse quantizer: (cell, n_vectors,
    frac) — the tuning diagnostic behind every IVF deployment, because
    the expected ADC scan cost per probe is ``n * sum(frac_i^2)`` /
    balanced-cost (the imbalance factor): one hot cell quietly turns the
    sublinear probe back into a near-full scan.  One cell-assignment
    projection + one k-row hash aggregation; same cell scoring as
    ``ivf_topk``/``ivfpq_encode`` (dot for spherical, L2 for trained)."""
    cents = (centroids if centroids is not None
             else ivf_centroids(dim, n_centroids, seed))
    v = f"cast({vec_col} as array<double>)"
    scores = _cell_score_sql(v, cents, l2=centroids is not None)
    assigned = selectx(selectx(corpus, f"{scores} as __d"),
                       "array_position(__d, array_max(__d)) as cell")
    counts = assigned.groupBy("cell").agg(F.count(F.lit(1)).alias("n_vectors"))
    total = counts.agg(F.sum("n_vectors").alias("__n"))
    return (counts.crossJoin(F.broadcast(total))
            .select(F.col("cell").cast("int").alias("cell"), "n_vectors",
                    F.round(F.col("n_vectors") / F.col("__n"), 6)
                    .alias("frac")))


def append_ann_index(df: DataFrame, path: str, id_col: str = "vec_id",
                     vec_col: str = "embedding",
                     l0: bool = False) -> None:
    """Add new vectors to an existing :func:`write_ann_index` layout
    WITHOUT rebuilding: encode the delta with the index's own stored
    centroids/codebooks (quantizers are frozen at build time — FAISS's
    ``add`` semantics) and append the codes into the cell partitions.

    The dense sibling of ``minhash_incremental``: ingest encodes only
    the delta (one pass over the new vectors), the durable artifact
    grows in place, and probe-time partition pruning is untouched
    because appends land inside the same ``cell=`` directories.
    Quantizer drift is the operator's trade-off, exactly as with any
    IVF index — retrain + rewrite when recall decays.  Refuses loudly
    while a ``_MAINTENANCE`` marker is present (a compaction/deletion
    rename-swap would lose the appended rows silently).

    Appending an id ALREADY IN THE INDEX is supported only as an exact
    replay (same embedding — the at-least-once case compaction
    collapses).  An upsert — same id, new embedding — is NOT:
    see the :func:`compact_ann_index` warning (the new copy can land
    in a different cell and survive compaction alongside the old one);
    delete first, then append.

    ``l0=True`` appends ONE file into the ``codes_l0`` side table
    instead of one into every cell the delta touches (SCALE.md r14
    measured a 2 s-tick stream adding 256 files/batch).  Probes read
    main ∪ L0 and :func:`compact_ann_index` folds L0 in: the L0
    protocol of :mod:`carbonapi_spark.datapipe.maintenance`."""
    from carbonapi_spark.datapipe.maintenance import (
        assert_not_under_maintenance)
    spark = df.sparkSession
    assert_not_under_maintenance(spark, path, "append_ann_index")
    _append_codes(df, path, read_ann_index(spark, path), id_col, vec_col,
                  l0)


def _append_codes(df: DataFrame, path: str, index, id_col: str,
                  vec_col: str, l0: bool) -> None:
    """Encode ``df`` with the frozen quantizers of ``index`` (the
    :func:`read_ann_index` tuple) and append the codes — the one write
    behind :func:`append_ann_index` and every
    :func:`stream_append_ann_index` epoch."""
    from carbonapi_spark.datapipe.maintenance import append_delta
    codes, centroids, codebooks, l2_cells, residual = index
    delta = ivfpq_encode(df, codebooks, centroids, id_col, vec_col,
                         l2_cells=l2_cells, residual=residual,
                         keep_vec=vec_col in codes.columns)
    append_delta(delta, path, "codes", ["cell"], len(centroids), l0)


def ann_auto_topk(corpus: DataFrame, query: DataFrame, k: int = 10,
                  id_col: str = "vec_id", vec_col: str = "embedding",
                  index_path: str | None = None,
                  crossover: int = 6_000_000, nprobe: int = 2,
                  refine: int | None = None,
                  dedupe: bool = False,
                  n: int | None = None) -> DataFrame:
    """Top-k cosine neighbors routed through the measured
    exact-vs-index crossover (VERDICT r12 #4): :func:`brute_force_topk`
    below ``crossover`` corpus rows, the durable IVFADC probe
    (:func:`ann_index_topk`) above it.  Output contract is uniform either way: (query_id,
    neighbor_id, cos_sim) ranked descending — the index route forces a
    ``refine`` exact rerank (default ``10*k``) so callers never see
    compressed-domain distances.

    The default crossover is MEASURED (tools/scale_smoke_crossover.py,
    r13, 64d / 256 cells / nprobe=2 / refine=200, warm min-of-2): the
    exact kernel wins through 4M rows (7.9 s vs 10.7 s — the probe's
    fixed floor dominates small corpora), the index wins at 8M (4.6 s
    vs 5.9 s) and by 2.5x at 10M (r12's tuned numbers); 6M is the
    measured bracket's midpoint, and near the boundary both routes are
    within ~1.4x of each other, so the exact cut barely matters.  It
    is a parameter because the real crossover moves with dim, nprobe,
    and cell count.

    Without ``index_path`` the route is ALWAYS exact, regardless of
    size: any in-memory index must first encode the corpus — a full
    scan costing more than the exact scan it would replace.  Build the
    artifact once with :func:`write_ann_index` to unlock the sublinear
    route.

    Degenerate (NULL / zero-norm / non-finite) queries are dropped up
    front so both routes agree — the exact kernel omits them anyway
    (NaN/Inf norms fail its finite check), and the index route would
    otherwise rank their candidates by NULL or garbage cosine; note
    Spark SQL evaluates ``NaN > 0`` as TRUE, so the finiteness check is
    explicit, not implied by the positivity one.

    ``n=`` is the caller's corpus-size hint: when supplied, the routing
    decision costs ZERO Spark jobs; when omitted (and an index exists),
    it falls back to one ``corpus.count()`` — at lake scale prefer
    passing the row count you already track at ingest.

    Both routes return fold-order values (see the module docstring), so
    either one replays bit for bit against the SQL fold."""
    v = _as_double(F.col(vec_col))
    sumsq = F.aggregate(F.transform(v, lambda x: x * x),
                        F.lit(0.0), lambda a, x: a + x)
    finite_pos = ((sumsq > 0) & ~F.isnan(sumsq)
                  & (sumsq < F.lit(float("inf"))))
    query = query.where(F.col(vec_col).isNotNull() & finite_pos)
    if index_path is None:
        return brute_force_topk(corpus, query, k, id_col, vec_col)
    if n is None:
        n = corpus.count()
    if n < crossover:
        return brute_force_topk(corpus, query, k, id_col, vec_col)
    spark = corpus.sparkSession
    # prefer the stored-vector rerank (reads only probed cells); fall
    # back to the full-corpus gather when the index lacks vectors
    from carbonapi_spark.datapipe.maintenance import read_index_table
    stored = vec_col in read_index_table(
        spark, f"{index_path}/codes").schema.fieldNames()
    return ann_index_topk(spark, index_path, query, k=k,
                          nprobe=nprobe, refine=refine or 10 * k,
                          corpus=None if stored else corpus,
                          id_col=id_col, vec_col=vec_col,
                          dedupe=dedupe)


def compact_ann_index(spark, path: str, id_col: str = "vec_id",
                      fragmented_only: bool = False) -> dict:
    """Compact the codes table of a :func:`write_ann_index` artifact:
    collapse the exact duplicates an at-least-once replay can leave
    behind (the :func:`stream_append_ann_index` failure mode) and merge
    per-append small files back to ONE file per cell, preserving the
    ``cell=`` partitioning that serves probe-time pruning.

    Duplicates are exact by construction — the quantizers are frozen,
    so a replayed row re-encodes to the identical (cell, codes[,
    vector]) — which makes ``dropDuplicates([id])`` lossless: id ->
    cell is a function of the frozen quantizers, so all copies of an id
    live in the same cell and carry the same payload.

    .. warning:: that invariant is also a CONTRACT on the caller:
       re-appending an EXISTING id with a *different* embedding (an
       upsert) is unsupported — the new copy can land in a different
       cell, where the single-shuffle compaction (which dedupes within
       cells: the widened ``[id, cell]`` key rides the partition
       repartition's one exchange, r14 §14) cannot see its twin, so
       both copies survive and probes can return the same id twice.
       Updating a vector is delete-then-append
       (:func:`delete_from_ann_index` first); probe-side
       ``dedupe=True`` hides cross-cell duplicates until then.  An
       id-only dedupe would re-add the second, index-sized shuffle for
       a failure mode replays cannot produce (ADVICE r14 — documented
       instead of paid).

    The modes (full rewrite + rename swap, or ``fragmented_only=True``:
    only cells holding more than one file), their crash semantics, the
    single-writer ``_MAINTENANCE`` marker and the L0 fold are the shared
    compaction step of :mod:`carbonapi_spark.datapipe.maintenance`
    (:func:`~carbonapi_spark.datapipe.maintenance.compact_with_l0`).
    Returns row/file counts before/after plus ``cells_rewritten`` (and
    ``l0_rows_folded`` when an L0 side table was folded in)."""
    from carbonapi_spark.datapipe.maintenance import (compact_with_l0,
                                                      maintenance_lock)
    with maintenance_lock(spark, path, "compact_ann_index"):
        stats = compact_with_l0(spark, path, "codes", [id_col], ["cell"],
                                fragmented_only)
    stats["cells_rewritten"] = stats.pop("partitions_rewritten")
    return stats


def delete_from_ann_index(spark, path: str, ids, id_col: str = "vec_id",
                          vec_col: str = "embedding") -> dict:
    """Delete vectors from a :func:`write_ann_index` artifact by id —
    the other half of index maintenance next to compaction (retention
    expiry, takedown/right-to-erasure, bad-ingest rollback).

    One column-pruned pass over (id, cell) locates the affected cells
    (deletion requests arrive as bare ids, so the id -> cell lookup
    cannot be partition-pruned; the scan reads two columns of the
    codes table and nothing else).  Only those cells are then
    rewritten — anti-joined against the (broadcast) delete set — via a
    staged write + dynamic partition overwrite, so untouched cells
    keep their files byte-for-byte; a cell whose every row is deleted
    is removed outright (dynamic overwrite only replaces partitions
    present in the written data, so emptied cells need the explicit
    directory delete).  The selectivity pays off for SMALL delete sets
    (few affected cells — the common takedown shape); a large
    scattered batch hashes into every cell and degrades to a full
    rewrite (measured at 10M: a 100k-id batch touched all 256 cells —
    SCALE.md r13).  Same single-writer caveat as
    :func:`compact_ann_index`.  Returns
    {"rows_deleted", "cells_rewritten", "cells_emptied"}.

    Deleting EVERY vector leaves the codes table as a single
    schema-bearing empty placeholder (probes return no candidates);
    appends into an emptied index resume the ``cell=`` layout only
    after a rebuild."""
    from carbonapi_spark.datapipe.maintenance import (ids_frame,
                                                      maintenance_lock,
                                                      read_index_table)
    with maintenance_lock(spark, path, "delete_from_ann_index"):
        # the codes read must happen INSIDE the lock: its eager file
        # listing pins the rewrite's input, so a read taken before the
        # marker was up would let an append committing in between be
        # silently erased by the cell rewrite — the exact lost-append
        # the lock exists to prevent
        codes = read_index_table(spark, f"{path}/codes")
        ids_df = ids_frame(spark, ids, id_col, lambda: codes)
        return _delete_from_ann_index_locked(spark, path, codes,
                                             ids_df, id_col)


def _delete_from_ann_index_locked(spark, path, codes, ids_df,
                                  id_col) -> dict:
    from carbonapi_spark.datapipe.maintenance import (
        _hpath, delete_from_l0, read_index_table, recover_staged_commit,
        write_partitioned)
    # finish (or discard) a crashed prior deletion's staged cells before
    # planning this one — the codes read below must see the recovered
    # table, not one missing a half-moved cell (ADVICE r14)
    if recover_staged_commit(spark, f"{path}/codes",
                             f"{path}/codes.deleting", ["cell"]):
        codes = read_index_table(spark, f"{path}/codes")
    l0_deleted = delete_from_l0(spark, path, "codes", ids_df, id_col)
    hit = codes.join(F.broadcast(ids_df), id_col)
    per_cell = {r["cell"]: r["n"] for r in
                hit.groupBy("cell").agg(F.count(F.lit(1)).alias("n"))
                .collect()}
    if not per_cell:
        return {"rows_deleted": l0_deleted, "cells_rewritten": 0,
                "cells_emptied": 0}
    cells = sorted(per_cell)
    keep = (codes.where(F.col("cell").isin(cells))
            .join(F.broadcast(ids_df), id_col, "left_anti"))
    stage = f"{path}/codes.deleting"
    write_partitioned(keep, stage, ["cell"], len(cells), "overwrite")
    # commit by MOVING the staged cell dirs into place (r14: the old
    # shape re-read the stage and re-shuffled it through a second
    # dynamic-partition-overwrite Spark write, and paid one more job
    # for a distinct() just to learn which cells survived — the staged
    # directory listing already knows)
    from carbonapi_spark.datapipe.maintenance import (
        _ensure_readable, overwrite_partition_dirs)
    moved = overwrite_partition_dirs(spark, f"{path}/codes", stage,
                                     ["cell"])
    kept_cells = {int(rel.split("=", 1)[1]) for rel in moved}
    _, fs = _hpath(spark, stage)
    emptied = [c for c in cells if c not in kept_cells]
    for c in emptied:
        dp, _ = _hpath(spark, f"{path}/codes/cell={c}")
        fs.delete(dp, True)
    # deleting EVERY vector removes every cell directory; leave a
    # schema-bearing empty file so the table stays readable
    # (probes then return no candidates instead of
    # UNABLE_TO_INFER_SCHEMA)
    _ensure_readable(spark, f"{path}/codes", codes.schema)
    # the raw directory deletes bypass Spark's write path, so its
    # file-status cache still lists the removed files — refresh, or the
    # next probe dies with FAILED_READ_FILE.FILE_NOT_EXIST
    spark.catalog.refreshByPath(f"{path}/codes")
    return {"rows_deleted": int(sum(per_cell.values())) + l0_deleted,
            "cells_rewritten": len(kept_cells & set(cells)),
            "cells_emptied": len(emptied)}


def stream_append_ann_index(stream_df: DataFrame, path: str,
                            id_col: str = "vec_id",
                            vec_col: str = "embedding",
                            checkpoint_dir: str | None = None,
                            trigger: dict | None = None,
                            l0: bool = False):
    """Streaming twin of :func:`append_ann_index`: a ``foreachBatch``
    sink that encodes each micro-batch of new vectors with the index's
    frozen quantizers and appends into the cell partitions — "ingest is
    a stream" for the ANN family, like ``stream_minhash``'s relationship
    to the batch band index.

    Delivery is the foreachBatch contract: exactly-once under normal
    operation, at-least-once across failure replays (an epoch retried
    after a partial append can duplicate ids — dedupe at probe time or
    compact the cell partitions; the quantizers being frozen means a
    replayed row re-encodes identically, so duplicates are exact and
    trivially collapsible).  Returns the started StreamingQuery.

    ``trigger`` is passed through to ``writeStream.trigger`` verbatim
    (e.g. ``{"processingTime": "30 seconds"}`` for continuous ingest,
    ``{"once": True}``); the default ``{"availableNow": True}`` drains
    available input and stops — the repo's replay-exact test
    convention.  The frozen quantizers are read ONCE at start and
    captured in the sink closure — a long-lived (processingTime)
    stream must not pay a codes-schema read plus two parquet collects
    per micro-batch for model-sized constants.

    ``l0=True`` is the continuous-ingest default to prefer: each epoch
    writes ONE file into the ``codes_l0`` side table instead of one
    into EVERY touched cell (SCALE.md r14 measured 256 files/batch at
    2 s ticks) — the same write as :func:`append_ann_index`, under the
    L0 protocol of :mod:`carbonapi_spark.datapipe.maintenance`.  A
    retried epoch duplicates exact rows in L0 exactly as it would in
    the cell partitions, and the same probe-time ``dedupe=`` /
    compaction answers apply."""
    index = read_ann_index(stream_df.sparkSession, path)

    def _sink(batch_df: DataFrame, _epoch: int) -> None:
        if batch_df.isEmpty():
            return
        # per-epoch maintenance check: failing the epoch fails the
        # query LOUDLY; the checkpoint replays it after the compaction
        # finishes instead of appending into a mid-swap index
        from carbonapi_spark.datapipe.maintenance import (
            assert_not_under_maintenance)
        assert_not_under_maintenance(batch_df.sparkSession, path,
                                     "stream_append_ann_index")
        _append_codes(batch_df, path, index, id_col, vec_col, l0)

    w = stream_df.writeStream.foreachBatch(_sink)
    if checkpoint_dir is not None:
        w = w.option("checkpointLocation", checkpoint_dir)
    return w.trigger(**(trigger or {"availableNow": True})).start()


def sq8_ranges(vecs: DataFrame, dim: int = 64,
               vec_col: str = "embedding") -> list[tuple[float, float]]:
    """Per-dimension (min, max) training for 8-bit scalar quantization
    (FAISS's SQ8: each coordinate linearly quantized into 0..255 over
    its observed range).  ONE aggregation collecting 2*dim doubles —
    the model is dim-sized, the corpus is scanned once."""
    aggs = []
    for j in range(dim):
        e = F.element_at(F.col(vec_col), j + 1).cast("double")
        aggs += [F.min(e).alias(f"mn{j}"), F.max(e).alias(f"mx{j}")]
    r = vecs.agg(*aggs).collect()[0]
    return [(float(r[f"mn{j}"]), float(r[f"mx{j}"])) for j in range(dim)]


def _sq8_range_arrays(ranges: list[tuple[float, float]]):
    """(MN, SPAN) array literals for the HOF formulation: per-dim min
    and (mx - mn) span.  Two flat 64-literal arrays keep the plan
    dim-independent in tree size — the original per-dim unrolled
    expression forest cost 2.6 s of analysis/codegen per query at ANY
    corpus size and ran 3.6x slower at 200k vectors (the generated
    method outgrew JIT inlining)."""
    return (F.array(*[F.lit(mn) for mn, _ in ranges]),
            F.array(*[F.lit(mx - mn) for mn, mx in ranges]))


def _sq8_code_at(x, i, MN, SPAN):
    """round((x - mn_i) * 255.0 / span_i) clamped to [0, 255] — the
    exact expression the oracle mirrors (same literal op order, same
    HALF_UP rounding); a degenerate dimension (span <= 0) codes to 0."""
    raw = F.round((x - F.element_at(MN, i + F.lit(1))) * F.lit(255.0)
                  / F.element_at(SPAN, i + F.lit(1)), 0)
    return F.when(F.element_at(SPAN, i + F.lit(1)) <= 0, F.lit(0.0)) \
        .otherwise(F.least(F.greatest(raw, F.lit(0.0)), F.lit(255.0)))


def sq8_encode(vecs: DataFrame, ranges: list[tuple[float, float]],
               id_col: str = "vec_id",
               vec_col: str = "embedding") -> DataFrame:
    """(id, codes ARRAY<DOUBLE>): SQ8 codes as small doubles (values
    0..255 — kept double so the ADC fold stays in one numeric type;
    a storage layout would pack them to bytes).  Stateless projection,
    no shuffle at any corpus size."""
    MN, SPAN = _sq8_range_arrays(ranges)
    codes = F.transform(F.col(vec_col).cast("array<double>"),
                        lambda x, i: _sq8_code_at(x, i, MN, SPAN))
    return vecs.select(F.col(id_col), codes.alias("codes"))


def sq8_topk(corpus: DataFrame, query: DataFrame,
             ranges: list[tuple[float, float]], k: int = 10,
             id_col: str = "vec_id",
             vec_col: str = "embedding") -> DataFrame:
    """Asymmetric top-k over SQ8 codes: queries stay full-precision,
    the corpus is scored on its DEQUANTIZED codes —
    cos(q, dq(c)) with dq_j = mn_j + code_j * (mx_j - mn_j) / 255.

    Same physical shape as the PQ ADC paths: the (tiny) query side is
    broadcast, the corpus scan is one stateless projection + fold, and
    the result is a per-query TakeOrdered.  Both vector norms are
    computed in the PRE-join projections — once per row, not once per
    (query x corpus) pair; only the dot product is pair-priced.  Every
    score is a deterministic fold over IEEE ops on exactly-replayable
    inputs, rounded to 6 — the same measured-margin contract as the
    other ANN oracles.  Returns (query_id, neighbor_id, adc_sim)."""
    from pyspark.sql.window import Window
    MN, SPAN = _sq8_range_arrays(ranges)
    dq = F.transform(
        F.col(vec_col).cast("array<double>"),
        lambda x, i: F.element_at(MN, i + F.lit(1))
        + _sq8_code_at(x, i, MN, SPAN)
        * F.element_at(SPAN, i + F.lit(1)) / F.lit(255.0))

    def norm(col):
        return F.sqrt(F.aggregate(col, F.lit(0.0),
                                  lambda acc, x: acc + x * x))

    c = (corpus.select(F.col(id_col).alias("neighbor_id"),
                       dq.alias("__dq"))
         .select("neighbor_id", "__dq", norm(F.col("__dq")).alias("__nc")))
    q = (query.select(F.col(id_col).alias("query_id"),
                      F.col(vec_col).cast("array<double>").alias("__q"))
         .select("query_id", "__q", norm(F.col("__q")).alias("__nq")))
    dot = F.aggregate(
        F.zip_with(F.col("__q"), F.col("__dq"), lambda a, b: a * b),
        F.lit(0.0), lambda acc, x: acc + x)
    sims = (c.crossJoin(F.broadcast(q))
            .where(F.col("neighbor_id") != F.col("query_id"))
            .select("query_id", "neighbor_id",
                    F.round(dot / (F.col("__nq") * F.col("__nc")), 6)
                    .alias("adc_sim")))
    w = Window.partitionBy("query_id").orderBy(F.desc("adc_sim"),
                                               F.col("neighbor_id"))
    return (sims.withColumn("__rk", F.row_number().over(w))
            .where(F.col("__rk") <= k).drop("__rk"))


def margin_topk(corpus: DataFrame, query: DataFrame, k: int = 10,
                knn: int = 4, id_col: str = "vec_id",
                vec_col: str = "embedding") -> DataFrame:
    """Margin-based neighbor scoring (Artetxe & Schwenk, "Margin-based
    Parallel Corpus Mining with Multilingual Sentence Embeddings", ACL
    2019 — the LASER/CCMatrix mining criterion): rescore each query's
    top-``k`` cosine candidates by the RATIO margin

        margin(x, y) = cos(x, y) / ((avg_knn(x) + avg_knn(y)) / 2)

    where ``avg_knn(x)`` is x's mean cosine over its ``knn`` nearest
    corpus vectors and ``avg_knn(y)`` is the candidate's mean cosine
    over the (bounded, broadcast) query set.  Absolute cosine
    mis-ranks pairs in dense neighborhoods ("hubs"); dividing by the
    local neighborhood density on BOTH sides is what makes mined pairs
    precision-comparable across the space — the reason every
    large-scale bitext pipeline ranks by margin, not cosine.

    Physical shape: ONE corpus pass computes every (y, x) cosine
    against the broadcast query side; x's forward top-k/avg come from
    the per-query rank window (query-bounded partitions), y's average
    needs no second pass — its |Q| sims are already on the row group,
    a corpus-keyed agg with map-side combine.  Both averages fold a
    DESC-sorted bounded list sequentially (never an unordered double
    sum), so the score — and the DuckDB replay — is exact.  Returns
    (query_id, cand_id, cos_sim, margin), margin NULL on an exactly-
    zero denominator, ordered per query by margin DESC."""
    from carbonapi_spark.datapipe import spread
    corpus = spread(corpus, min_bytes=256 << 10)  # HOF dots: heavy/row
    q = query.select(F.col(id_col).alias("query_id"),
                     _as_double(F.col(vec_col)).alias("__qv"))
    c = corpus.select(F.col(id_col).alias("cand_id"),
                      _as_double(F.col(vec_col)).alias("__cv"))
    sims = (c.crossJoin(F.broadcast(q))
            .where(F.col("cand_id") != F.col("query_id"))
            .select("query_id", "cand_id",
                    F.round(cosine(F.col("__qv"), F.col("__cv")), 6)
                    .alias("cos_sim")))

    def _fold_avg(lst: Column, n: int) -> Column:
        top = F.slice(F.sort_array(lst, asc=False), 1, n)
        return (F.aggregate(top, F.lit(0.0), lambda acc, x: acc + x)
                / F.size(top))

    wq = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"),
                                                F.col("cand_id"))
    ranked = sims.withColumn("__rk", F.row_number().over(wq))
    # the k*|Q|-bounded candidate table: everything downstream is sized
    # by it, never by the corpus
    cand = ranked.where(F.col("__rk") <= k).drop("__rk")
    ax = (ranked.where(F.col("__rk") <= knn)
          .groupBy("query_id")
          .agg(_fold_avg(F.collect_list("cos_sim"), knn).alias("__ax")))
    # y-side averages need only the CANDIDATE vectors' sims to the
    # query set: a broadcast-id filter of the corpus (k*|Q| rows out)
    # recomputed against the broadcast queries — cheap second scan,
    # never a corpus-keyed aggregation or a corpus-sized join
    ids = cand.select("cand_id").distinct()
    ay = (c.join(F.broadcast(ids), "cand_id")
          .crossJoin(F.broadcast(q))
          .where(F.col("cand_id") != F.col("query_id"))
          .select("cand_id",
                  F.round(cosine(F.col("__qv"), F.col("__cv")), 6)
                  .alias("__s"))
          .groupBy("cand_id")
          .agg(_fold_avg(F.collect_list("__s"), knn).alias("__ay")))
    den = (F.col("__ax") + F.col("__ay")) / 2
    margin = F.when(den != 0, F.round(F.col("cos_sim") / den, 6))
    return (cand.join(F.broadcast(ax), "query_id")
            .join(F.broadcast(ay), "cand_id")
            .select("query_id", "cand_id", "cos_sim",
                    margin.alias("margin")))


def k_center_select(vecs: DataFrame, k: int = 8,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding") -> DataFrame:
    """Greedy k-center / farthest-point coreset selection (Gonzalez
    1985, the 2-approximation): pick the point farthest from everything
    picked so far, k times — the diversity-first data-selection
    complement to quality ranking (SemDeDup prunes redundancy;
    k-center SELECTS the spanning skeleton, e.g. seed docs for
    annotation or a coverage-maximizing eval slice).

    Each of the k steps is ONE stateless corpus pass: squared-L2 to
    the already-picked centers (broadcast as literals into a zip_with
    fold — whole-stage codegen, no Python, no join) min-combined with
    ``F.least``, then a TakeOrdered(1) argmax with lowest-id
    tie-break.  No corpus-sized state is ever persisted between steps;
    the driver holds only the k picked vectors (the MMR/k-means
    bounded-driver-hop economy).

    Replay exactness: the fold is the identical sequential left-fold
    both engines run ((0+t1)+t2)..., min/argmax compare those exact
    bits, ties break on id — so the whole greedy trajectory replays in
    SQL with no rounding anywhere.  Returns (rank, id, dist2) where
    dist2 is the coverage radius at selection time (decreasing; the
    k-center objective curve)."""
    spark = vecs.sparkSession
    base = vecs.select(F.col(id_col).alias("__id"),
                       F.col(vec_col).cast("array<double>").alias("__v"))
    seed = base.orderBy("__id").limit(1).collect()
    if not seed:
        return local_df(spark, [],
                        f"rank INT, {id_col} LONG, dist2 DOUBLE")
    picked = [(1, seed[0]["__id"], 0.0)]
    center_vecs = [seed[0]["__v"]]
    from carbonapi_spark.sqltext import sql_dlit
    for step in range(2, k + 1):
        # one F.expr parse per step instead of dim x centers F.lit
        # py4j calls (r14: the Column-builder form spent ~2.4 s of
        # driver time across the k steps); the SQL is the identical
        # zip_with/aggregate fold with exact double literals
        dists = [
            "aggregate(zip_with(__v, array("
            + ",".join(sql_dlit(x) for x in c)
            + "), (x, y) -> (x - y) * (x - y)), 0.0D, "
            "(acc, x) -> acc + x)"
            for c in center_vecs]
        mind = expr_cached(dists[0] if len(dists) == 1
                           else "least(" + ",".join(dists) + ")")
        nxt = (base.where(~F.col("__id").isin([p[1] for p in picked]))
               .select("__id", "__v", mind.alias("__d"))
               .orderBy(F.desc("__d"), "__id").limit(1).collect())
        if not nxt:
            break
        picked.append((step, nxt[0]["__id"], nxt[0]["__d"]))
        center_vecs.append(nxt[0]["__v"])
    return local_df(spark, picked,
                    f"rank INT, {id_col} LONG, dist2 DOUBLE")
