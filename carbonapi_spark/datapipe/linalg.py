"""Embedding linear algebra for the vector pipeline: deterministic
Johnson-Lindenstrauss random projection, one-pass covariance, and PCA.

Cross-engine exactness design (the round-7 `quality_auc` lesson: a
corpus-sized ``sum(double)`` is partition-order-dependent and WILL
eventually diverge between engines): every corpus-sized reduction here
is an INTEGER sum of fixed-point-quantized terms — order-independent,
overflow-checked, and bit-identical in any engine.  The quantization
step is part of the operator contract (reproducible data pipelines
quantize for exactly this reason), not a test convenience.

Scale shapes:
- :func:`random_projection` is a stateless projection (signs derive
  from an affine-mod generator, riding as literals) — zero shuffles,
  whole-stage codegen, the 100 TB path for shrinking embedding storage
  before ANN indexing.
- :func:`covariance_matrix` reduces to per-partition dim x dim int64
  partials (Arrow kernel by default; a pure-JVM HOF explode as the
  bit-equal fallback/oracle shape): bytes over the wire are
  dim^2-bounded, not corpus-bounded.
- :func:`pca_components` collects the dim x dim covariance (4 KB for
  dim 64) and eigendecomposes on the driver — the same k-sized driver
  hop as kmeans_centroids; :func:`pca_project` then broadcasts the
  components back as literals.

Reference parity note: the reference engine (go-graphite/carbonapi) has
no vector surface; this module belongs to the training-data pipeline
extension (SURVEY.md "beyond the reference" mandate).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, functions as F

from carbonapi_spark.sqltext import local_df as _local_df

# fixed-point scales (contract constants, see module docstring)
PROJ_SCALE = 10**6
# coordinates whose quantization q = round(v * PROJ_SCALE) would leave
# the exactly-representable int64 range null the row on both projection
# paths (beyond it, JVM double->long saturates while numpy wraps —
# different garbage, no parity); 2^62/SCALE leaves the accumulating
# matmul headroom too
MAX_COORD = 2.0**62 / PROJ_SCALE
COV_SCALE = 10**9


def jl_signs(in_dim: int, out_dim: int, seed: int = 42) -> list[list[int]]:
    """Seeded ±1 sign matrix (in_dim x out_dim), the Achlioptas
    projection directions — the similarity.random_planes convention:
    Python-seeded values embedded as LITERALS in both the Spark
    expression and the SQL oracle, so both engines share the matrix
    verbatim.  (An arithmetic in-expression generator was tried first:
    affine-mod parity never wraps the modulus at these index ranges,
    collapses to a function of the output dim alone, and yields rank-1
    projections — caught by test_sign_generator_is_balanced.)"""
    import random
    rng = random.Random(seed)
    return [[rng.choice((1, -1)) for _ in range(out_dim)]
            for _ in range(in_dim)]


def random_projection(vecs: DataFrame, out_dim: int = 16,
                      id_col: str = "vec_id",
                      vec_col: str = "embedding",
                      arrow: bool = True) -> DataFrame:
    """Fixed-point JL random projection (Achlioptas 2003 ±1 variant):
    ``out_j = sum_i q_i * s(i,j) / (SCALE * sqrt(out_dim))`` where
    ``q_i = round(v_i * SCALE)`` and the ±1 signs come from
    :func:`jl_signs` (seed 42).  The inner reduction is an INTEGER
    sum — exact and order-independent — so the projection replays
    bit-for-bit in SQL.  The 0-dp quantization round is seam-free
    across engines (X.5 is exactly representable in double, unlike the
    fractional-dp grid).

    Two bit-identical physical paths (the covariance-kernel duality):
    the default Arrow kernel quantizes with the binary half-away rule
    (== both engines' round(), pinned by test_cov_arrow_quantization)
    and computes ONE int64 matmul per batch (r10: 4.2 -> ~1 s on the
    sf0.1 bench entry); ``arrow=False`` keeps the pure-JVM HOF fold,
    the oracle's replay shape.  Both emit partial sums over the first
    ``len(v)`` coordinates for a short row, NULL for a row longer than
    the sign matrix, and NULL values for a NULL embedding — pinned
    equal on dirty frames in tests/test_linalg.py.

    Returns exploded rows (id, odim, value), one row per output
    dimension (array-valued results don't hash portably across
    engines; exploded doubles do)."""
    # dimensionality probe skips NULL/empty rows (a dirty first row
    # used to crash the old len(first()) probe)
    probe = (vecs.select(vec_col)
             .where(F.size(F.col(vec_col)) > 0).first())
    if probe is None:
        raise ValueError(
            "random_projection: no non-empty embedding row to derive "
            "the input dimensionality from")
    in_dim = len(probe[0])
    signs = jl_signs(in_dim, out_dim)
    # DIVIDE by the denominator (not multiply by its reciprocal —
    # x/d != x*(1/d) in IEEE, probed: 6th-dp flips) and emit the RAW
    # double: the integer numerator and the denominator are
    # bit-identical across engines, so the quotient is too, and any
    # downstream rounding then lands identically.  Pre-rounding here
    # would reintroduce a seam (JVM round-via-shortest-string vs
    # round-of-binary-value disagree on grid-boundary quotients, and
    # F.round strips -0.0 while SQL round keeps it — both probed).
    den = PROJ_SCALE * math.sqrt(out_dim)
    if arrow:
        return _proj_rows_arrow(vecs, id_col, vec_col, signs, out_dim,
                                den)
    sign_lit = F.array(*[
        F.array(*[F.lit(s).cast("long") for s in row]) for row in signs])
    q = F.transform(F.col(vec_col),
                    lambda v: F.round(v.cast("double")
                                      * PROJ_SCALE).cast("long"))
    # validity gate BEFORE the fold: under ANSI element_at an empty
    # array (sequence(0,-1) descends to index -1+1) or a row longer
    # than the sign matrix would THROW mid-query instead of yielding a
    # null — gate to null so one dirty row can't kill a 100 TB stage.
    # Non-finite or int64-overflowing coordinates also null the row:
    # (long)NaN and numpy's .astype(int64) disagree on the garbage they
    # produce, so the contract is an explicit null on BOTH paths, not
    # whichever sentinel the engine picks (a null array element lands
    # here too — isnan(null) is null, so the conjunction un-trues)
    xd = lambda x: x.cast("double")  # noqa: E731
    clean = F.forall(F.col(vec_col),
                     lambda x: ~F.isnan(xd(x))
                     & (F.abs(xd(x)) <= F.lit(MAX_COORD)))
    valid = (F.col(vec_col).isNotNull()
             & (F.size(F.col(vec_col)) > 0)
             & (F.size(F.col(vec_col)) <= in_dim)
             & clean)
    dim_idx = F.explode(F.sequence(F.lit(0), F.lit(out_dim - 1)))
    rows = vecs.select(F.col(id_col), F.when(valid, q).alias("__q"),
                       dim_idx.alias("odim"))
    acc = F.aggregate(
        F.sequence(F.lit(0), F.size("__q") - 1),
        F.lit(0).cast("long"),
        lambda s, i: s + F.element_at(F.col("__q"), i + 1)
        * F.element_at(F.element_at(sign_lit, i + 1),
                       F.col("odim") + 1))
    return rows.select(
        id_col, F.col("odim").cast("int").alias("odim"),
        (acc.cast("double") / F.lit(den)).alias("value"))


def _proj_rows_arrow(vecs: DataFrame, id_col: str, vec_col: str,
                     signs, out_dim: int, den: float) -> DataFrame:
    """Arrow fast path of :func:`random_projection`: per batch, one
    half-away int64 quantization + one int64 matmul against the sign
    matrix — identical integers as the JVM fold (order-independent
    sums), same dirty-row tolerance (see random_projection)."""
    import numpy as np
    import pandas as pd

    S = np.array(signs, dtype=np.int64)          # in_dim x out_dim
    in_dim = S.shape[0]

    def q_half_away(p):
        t = np.trunc(p)
        return (t + np.where(np.abs(p - t) >= 0.5,
                             np.sign(p), 0.0)).astype(np.int64)

    def gen(batches):
        for pdf in batches:
            ids_all, out_rows = [], []
            for rid, a in zip(pdf[id_col], pdf[vec_col]):
                ids_all.append(rid)
                if a is None:
                    out_rows.append(None)
                    continue
                v = np.asarray(a, dtype=np.float64)
                if len(v) > in_dim or len(v) == 0:
                    # beyond the sign matrix the JVM fold hits a null
                    # sign; on an empty array its sequence(0, -1)
                    # descends into a null element_at — null either way
                    out_rows.append(None)
                    continue
                if not np.all(np.isfinite(v)) \
                        or np.any(np.abs(v) > MAX_COORD):
                    # NaN/Inf/overflow coords: .astype(int64) would emit
                    # an undefined sentinel (INT64_MIN) and a garbage
                    # finite output — null the row like the JVM gate
                    # (null array elements arrive here as NaN)
                    out_rows.append(None)
                    continue
                acc = q_half_away(v * PROJ_SCALE) @ S[:len(v)]
                out_rows.append(acc.astype(np.float64) / den)
            if not ids_all:
                continue
            n = len(ids_all)
            vals = np.concatenate(
                [r if r is not None else np.full(out_dim, np.nan)
                 for r in out_rows])
            mask = np.repeat([r is None for r in out_rows], out_dim)
            col = pd.Series(vals)
            col[mask] = None
            yield pd.DataFrame({
                id_col: np.repeat(np.asarray(ids_all), out_dim),
                "odim": np.tile(np.arange(out_dim, dtype=np.int32), n),
                "value": col})

    id_type = vecs.schema[id_col].dataType.simpleString()
    return vecs.select(id_col, vec_col).mapInPandas(
        gen, f"{id_col} {id_type}, odim INT, value DOUBLE")


def _cov_partials_arrow(vecs: DataFrame, vec_col: str) -> DataFrame:
    """Arrow fast path for the covariance reduction: per input
    partition, quantize (the binary half-away rule — equal to both
    engines' round() for every representable value in range, see
    test_cov_arrow_quantization) and sum outer products into a
    dim x dim int64 accumulator, emitting ONE partial row set per
    partition: (i, j, sq, n) pair rows + (i, -1, sm, 0) moment rows.
    Identical integer partials as the JVM HOF path — the sums are
    order-independent by design, so the two paths are bit-equal.

    DIRTY-DATA TOLERANCE mirrors the JVM path exactly (parity-pinned
    in tests/test_linalg.py): NULL (and empty) embeddings contribute
    nothing — the HOF explode of a null array emits zero rows — and a
    RAGGED row of length L contributes to pairs/moments with indices
    < L only, with per-pair counts tracking how many rows actually
    reached each (i, j).  The kernel therefore accumulates per length
    group instead of one rectangular stack (which crashed outright on
    None/ragged input)."""
    import numpy as np
    import pandas as pd

    def q_half_away(p):
        # exact binary half-away-from-zero: frac = p - trunc(p)
        # is exact for |p| << 2^52, so the >= .5 test is the
        # same comparison round() makes
        t = np.trunc(p)
        return (t + np.where(np.abs(p - t) >= 0.5,
                             np.sign(p), 0.0)).astype(np.int64)

    def gen(batches):
        for pdf in batches:
            groups: dict = {}
            for a in pdf[vec_col]:
                if a is None:
                    continue
                v = np.asarray(a, dtype=np.float64)
                if len(v):
                    groups.setdefault(len(v), []).append(v)
            if not groups:
                continue
            d = max(groups)
            acc = np.zeros((d, d), dtype=np.int64)
            mom = np.zeros(d, dtype=np.int64)
            npair = np.zeros((d, d), dtype=np.int64)
            step = 512
            for dl, rows_l in groups.items():
                X = np.stack(rows_l)
                for s0 in range(0, len(X), step):
                    c = X[s0:s0 + step]
                    acc[:dl, :dl] += q_half_away(
                        np.einsum("ni,nj->nij", c, c)
                        * COV_SCALE).sum(axis=0)
                    mom[:dl] += q_half_away(c * COV_SCALE).sum(axis=0)
                npair[:dl, :dl] += len(X)
            iu, ju = np.triu_indices(d)
            # pairs no row reached (ragged tails) never materialize in
            # the JVM explode either — emit only n > 0
            keep = npair[iu, ju] > 0
            iu, ju = iu[keep], ju[keep]
            mkeep = np.diag(npair) > 0
            midx = np.arange(d)[mkeep]
            yield pd.DataFrame({
                "i": np.concatenate([iu, midx]).astype("int32"),
                "j": np.concatenate([ju, np.full(len(midx), -1)])
                .astype("int32"),
                "sq": np.concatenate([acc[iu, ju], mom[mkeep]]),
                "n": np.concatenate([npair[iu, ju],
                                     np.zeros(len(midx))]).astype("int64")})

    return vecs.select(vec_col).mapInPandas(gen, "i INT, j INT, sq LONG, n LONG")


def covariance_matrix(vecs: DataFrame, vec_col: str = "embedding",
                      ddof: int = 0, arrow: bool = True) -> DataFrame:
    """One-pass covariance of the embedding columns: quantized products
    ``round(v_i * v_j * COV_SCALE)`` plus quantized first moments, sum
    exactly as int64, and finish with
    ``cov_ij = (S_ij/SCALE - S_i*S_j/(SCALE^2 * n)) / (n - ddof)``.

    Two bit-identical physical paths for the reduction (the integer
    sums are order-independent, so they agree exactly — pytest-pinned):
    the default Arrow kernel (``mapInPandas``: per-partition numpy
    outer-product accumulation, ONE dim^2 int64 partial per partition
    crosses the wire — 2.6x on the sf0.1 bench) and the pure-JVM HOF
    explode (``arrow=False``: dim*(dim+1)/2 structs per row through a
    map-side-combined hash agg — zero Python, the oracle's replay
    shape).  The per-row quadratic expansion is exactly the case where
    an Arrow-vectorized kernel legitimately beats codegen.

    Returns (i, j, cov) for i <= j.  Overflow budget: |v| <= ~1 keeps
    each term <= COV_SCALE, so int64 holds ~9e9 rows per (i,j) key;
    beyond that lower COV_SCALE or shard the sum — documented
    contract."""
    if arrow:
        partials = _cov_partials_arrow(vecs, vec_col)
        prods = (partials.where(F.col("j") >= 0)
                 .groupBy("i", "j").agg(F.sum("sq").alias("sq"),
                                        F.sum("n").alias("n")))
        sums = (partials.where(F.col("j") == -1)
                .groupBy("i").agg(F.sum("sq").alias("sm")))
    else:
        pairs = F.flatten(F.transform(
            F.sequence(F.lit(0), F.size(vec_col) - 1),
            lambda i: F.transform(
                F.sequence(i, F.size(vec_col) - 1),
                lambda j: F.struct(
                    i.cast("int").alias("i"), j.cast("int").alias("j"),
                    F.round(F.element_at(F.col(vec_col), i + 1)
                            .cast("double")
                            * F.element_at(F.col(vec_col), j + 1)
                            .cast("double")
                            * COV_SCALE).cast("long").alias("q")))))
        moments = F.transform(
            F.col(vec_col),
            lambda v: F.round(v.cast("double") * COV_SCALE).cast("long"))
        prods = (vecs.select(F.explode(pairs).alias("p"))
                 .select("p.i", "p.j", "p.q")
                 .groupBy("i", "j").agg(F.sum("q").alias("sq"),
                                        F.count(F.lit(1)).alias("n")))
        sums = (vecs.select(F.posexplode(moments).alias("i", "m"))
                .groupBy("i").agg(F.sum("m").alias("sm")))
    return cov_finish(prods, sums, ddof)


def cov_finish(prods: DataFrame, sums: DataFrame,
               ddof: int = 0) -> DataFrame:
    """The covariance finish over the integer partial tables
    (prods: (i, j, sq, n); sums: (i, sm)) — factored out so the
    STREAMING maintenance path (stream_cov_replay: partials summed by a
    streaming aggregation across micro-batches) finishes with the
    byte-identical expression tree as the batch operator."""
    si = sums.select(F.col("i").alias("i"), F.col("sm").alias("smi"))
    sj = sums.select(F.col("i").alias("j"), F.col("sm").alias("smj"))
    scale = float(COV_SCALE)
    # smi*smj as int64 overflows (~1e11 each at bench scale); the
    # moments are exactly representable doubles, so the IEEE product is
    # engine-identical.  The cov is emitted RAW (no rounding): every
    # operand is exact and the expression tree is fixed, so the double
    # is bit-identical across engines — pre-rounding would reintroduce
    # the -0.0 / boundary seams (see random_projection).
    smi_d = F.col("smi").cast("double")
    smj_d = F.col("smj").cast("double")
    return (prods.join(F.broadcast(si), "i").join(F.broadcast(sj), "j")
            .select("i", "j",
                    ((F.col("sq") / scale
                      - smi_d * smj_d
                      / (scale * scale) / F.col("n"))
                     / (F.col("n") - F.lit(ddof))).alias("cov"))
            .orderBy("i", "j"))


def correlation_matrix(vecs: DataFrame,
                       vec_col: str = "embedding") -> DataFrame:
    """Pearson correlation of the embedding coordinates:
    ``corr_ij = cov_ij / sqrt(cov_ii * cov_jj)`` over the exact
    one-pass covariance — the diagonal joins back as two broadcast
    64-row tables, so the plan adds no corpus-sized work beyond
    :func:`covariance_matrix`.  Raw doubles out (every operand is the
    bit-identical covariance; sqrt/mult/div are correctly-rounded IEEE
    in both engines)."""
    cov = covariance_matrix(vecs, vec_col)
    di = (cov.where(F.col("i") == F.col("j"))
          .select(F.col("i").alias("i"), F.col("cov").alias("vi")))
    dj = di.select(F.col("i").alias("j"), F.col("vi").alias("vj"))
    den = F.col("vi") * F.col("vj")
    # zero-variance coordinate -> NULL correlation (not inf/NaN): the
    # guard is mirrored verbatim in the SQL oracle
    corr = F.when(den > 0, F.col("cov") / F.sqrt(den))
    return (cov.join(F.broadcast(di), "i").join(F.broadcast(dj), "j")
            .select("i", "j", corr.alias("corr"))
            .orderBy("i", "j"))


def pca_components(vecs: DataFrame, k: int = 8,
                   vec_col: str = "embedding") -> tuple:
    """Top-k principal components via the exact one-pass covariance +
    a driver-side eigendecomposition (dim x dim, numpy) — the k-sized
    driver hop.  Returns (components: list[list[float]] k x dim rows,
    explained_variance: list[float]), eigenvalues descending; each
    component's sign is fixed so its largest-|.| coordinate is
    positive (eigenvectors are sign-ambiguous; pinning makes the
    output deterministic)."""
    import numpy as np
    rows = covariance_matrix(vecs, vec_col).collect()
    dim = max(r["j"] for r in rows) + 1
    cov = np.zeros((dim, dim))
    for r in rows:
        cov[r["i"], r["j"]] = cov[r["j"], r["i"]] = r["cov"]
    w, v = np.linalg.eigh(cov)
    order = np.argsort(w)[::-1][:k]
    comps = []
    for idx in order:
        c = v[:, idx]
        if c[int(np.argmax(np.abs(c)))] < 0:
            c = -c
        comps.append([float(x) for x in c])
    return comps, [float(w[i]) for i in order]


def pca_project(vecs: DataFrame, components: list[list[float]],
                id_col: str = "vec_id",
                vec_col: str = "embedding") -> DataFrame:
    """Project embeddings onto PCA components (broadcast as literals):
    a stateless whole-stage-codegen projection, like
    :func:`random_projection` but with learned directions.  Returns
    (id, pc array<double>)."""
    comp_lit = F.array(*[
        F.array(*[F.lit(float(x)) for x in c]) for c in components])
    pc = F.transform(
        comp_lit,
        lambda c: F.aggregate(
            F.sequence(F.lit(0), F.size(vec_col) - 1), F.lit(0.0),
            lambda s, i: s + F.element_at(c, i + 1)
            * F.element_at(F.col(vec_col), i + 1).cast("double")))
    return vecs.select(id_col, pc.alias("pc"))


def pca_power_top(vecs: DataFrame, vec_col: str = "embedding",
                  n_iter: int = 12, scale: int = 1_000_000) -> DataFrame:
    """Dominant principal component via INTEGER FIXED-POINT power
    iteration over the exact one-pass covariance — the SQL-replayable
    companion to :func:`pca_components` (whose numpy ``eigh`` cannot be
    replayed by an external engine).

    The covariance is quantized to micro units ON THE JVM
    (``F.round`` = HALF_UP = DuckDB's convention) and collected — a
    dim^2-bounded table, the same driver hop as the k-means centroid
    collect; the corpus-sized work is entirely inside
    :func:`covariance_matrix`.  Each iteration is then exact int64
    arithmetic: u = Cm v; q = max(1, max|u| div scale); v' = u div q
    (both engines' integer division truncates toward zero, verified
    -7//2 == -7 div 2 == -3).  No floating point touches the
    trajectory, so the unrolled SQL replay is bit-exact by
    construction.  The eigenvalue estimate max|u| / max|v| / scale and
    the unit-free loadings v/scale are single IEEE divisions of exact
    operands — identical bits cross-engine, rounded at 6 dp for
    output.

    Sign is pinned: the largest-|.| loading (lowest dimension on ties)
    is made positive, removing the eigenvector's sign ambiguity.
    Returns (d, loading_micro, loading, eigenvalue) for every
    dimension, ordered by d."""
    spark = vecs.sparkSession
    rows = (covariance_matrix(vecs, vec_col)
            .select("i", "j",
                    F.round(F.col("cov") * scale).cast("long").alias("cm"))
            .collect())
    cm: dict[tuple[int, int], int] = {}
    dim = 0
    for r in rows:
        cm[(r["i"], r["j"])] = cm[(r["j"], r["i"])] = r["cm"]
        dim = max(dim, r["j"] + 1)
    if dim == 0:
        return _local_df(spark, 
            [], "d INT, loading_micro LONG, loading DOUBLE, eigenvalue DOUBLE")

    def trunc_div(a: int, b: int) -> int:
        q = abs(a) // abs(b)
        return q if (a >= 0) == (b >= 0) else -q

    v = [scale] * dim
    m = scale
    vmax = scale
    for _ in range(n_iter):
        vmax = max(abs(x) for x in v)
        u = [sum(cm.get((i, j), 0) * v[j] for j in range(dim))
             for i in range(dim)]
        m = max(abs(x) for x in u)
        q = max(m // scale, 1)
        v = [trunc_div(x, q) for x in u]
    # sign pin: lowest-index max-|.| coordinate positive
    top = max(range(dim), key=lambda i: (abs(v[i]), -i))
    if v[top] < 0:
        v = [-x for x in v]
    lam = (float(m) / float(vmax)) / float(scale) if vmax > 0 else 0.0
    out = _local_df(spark, 
        [(i, v[i], lam) for i in range(dim)],
        "d INT, loading_micro LONG, eigenvalue DOUBLE")
    return out.select(
        "d", "loading_micro",
        F.round(F.col("loading_micro") / float(scale), 6).alias("loading"),
        F.round(F.col("eigenvalue"), 6).alias("eigenvalue")).orderBy("d")


def pca_extremes(vecs: DataFrame, k: int = 10, id_col: str = "vec_id",
                 vec_col: str = "embedding", n_iter: int = 12,
                 scale: int = 1_000_000) -> DataFrame:
    """The ends of the dominant principal axis: project every vector
    onto :func:`pca_power_top`'s loadings and return the k most-
    positive and k most-negative documents — the 'what does this
    direction MEAN' readout (inspect the extremes, name the axis) and
    a bias/cluster probe over embedding corpora.

    The projection folds x_d * loading_micro_d sequentially by
    dimension (identical left-fold both engines, exact int-valued
    literals) with ONE division by the scale — a stateless zero-shuffle
    codegen pass over the corpus; selection is two TakeOrdered(k) on
    the raw (deterministic-bits) projection with id tie-break.
    Returns (side, id, proj), 2k rows."""
    rows = pca_power_top(vecs, vec_col, n_iter, scale).collect()
    lm = [float(r["loading_micro"]) for r in
          sorted(rows, key=lambda r: r["d"])]
    if not lm:
        return _local_df(vecs.sparkSession, 
            [], f"side STRING, {id_col} LONG, proj DOUBLE")
    lit = F.array(*[F.lit(x) for x in lm])
    proj = (F.aggregate(
        F.zip_with(F.col(vec_col).cast("array<double>"), lit,
                   lambda x, y: x * y),
        F.lit(0.0), lambda acc, x: acc + x) / float(scale))
    base = vecs.select(F.col(id_col), proj.alias("__p"))
    hi = (base.orderBy(F.desc("__p"), id_col).limit(k)
          .select(F.lit("high").alias("side"), id_col,
                  F.round("__p", 6).alias("proj")))
    lo = (base.orderBy(F.asc("__p"), id_col).limit(k)
          .select(F.lit("low").alias("side"), id_col,
                  F.round("__p", 6).alias("proj")))
    return hi.unionByName(lo)
