"""Connected-components clustering for fuzzy dedup.

Near-dup detection (MinHash-LSH / SimHash, ``datapipe/dedup.py``) yields
*pairs*; deduplicating a corpus needs *clusters* — each document labeled
with a canonical representative (the min doc id of its component) so the
pipeline can keep one doc per cluster. This module closes that gap with
the alternating large-star / small-star algorithm (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC 2014): each round is
two shuffles (a min-aggregation and a re-pair join), and the edge set
converges to a star forest in O(log n) rounds — the standard way to run
CC on graphs too big for any single machine, unlike label propagation
whose round count is the graph diameter (linear for chains).

Scale shape: every round is groupBy(node).min + an equi-join back on the
node key; no collect of edges, no driver-side graph. Lineage is truncated
per round with a LAZY ``localCheckpoint`` whose materialization rides the
convergence checksum (count + xor of per-edge hashes) — one action, one
pass over the edge set per round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from carbonapi_spark.sqltext import local_df as _local_df

__all__ = ["connected_components", "core_numbers", "dedup_clusters",
           "dedup_keep_best", "label_propagation", "pagerank",
           "triangle_count"]


def _star_round(edges: DataFrame) -> DataFrame:
    """One large-star + small-star round. ``edges`` columns: (src, dst)."""
    # large-star: for each node u, m = min(neighborhood(u) + {u}); every
    # strictly-larger neighbor v re-points to m.
    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    mins = (sym.groupBy("src")
            .agg(F.least(F.min("dst"), F.first("src")).alias("m")))
    large = (sym.join(mins, "src")
             .where(F.col("dst") > F.col("src"))
             .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
             .where(F.col("src") != F.col("dst"))
             .distinct())

    # small-star: orient every edge high->low, then every low neighbor
    # (and the high node itself) re-points to the minimum.
    oriented = (large.select(F.greatest("src", "dst").alias("u"),
                             F.least("src", "dst").alias("v"))
                .distinct())
    omin = oriented.groupBy("u").agg(F.min("v").alias("m"))
    with_min = oriented.join(omin, "u")
    small = (with_min.where(F.col("v") != F.col("m"))
             .select(F.col("v").alias("src"), F.col("m").alias("dst"))
             .unionByName(omin.where(F.col("u") != F.col("m"))
                          .select(F.col("u").alias("src"),
                                  F.col("m").alias("dst")))
             .distinct())
    return small


def _finish_local(spark, rows) -> DataFrame:
    """Exact union-find over a small (size-gated) residual edge set."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = parent.setdefault(x, x)
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for r in rows:
        ra, rb = find(r["src"]), find(r["dst"])
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    labels = [(n, find(n)) for n in parent]
    return _local_df(spark, labels or [], "node LONG, cluster_id LONG")


def connected_components(edges: DataFrame, src: str = "src",
                         dst: str = "dst", max_rounds: int = 50,
                         finish_threshold: int = 1_000_000) -> DataFrame:
    """Label every node of an undirected edge list with its component's
    minimum node id.

    Two-phase (the shape GraphFrames' CC uses): star-contraction rounds
    run distributed while the edge set is large; once it fits a small
    driver budget (``finish_threshold`` edges, ~16 MB at the default)
    the remaining forest is finished exactly with union-find in one job
    instead of paying several fixed-overhead rounds on a tiny residual
    graph. Pass ``finish_threshold=0`` to force the pure-distributed
    path end to end.

    Returns (node, cluster_id) for every node that appears in ``edges``
    (callers left-join and ``coalesce`` to give isolated rows their own
    id). Node ids must be an orderable type (use a 64-bit doc id).
    """
    e = (edges.select(F.col(src).cast("long").alias("src"),
                      F.col(dst).cast("long").alias("dst"))
         .where(F.col("src") != F.col("dst"))
         .distinct())
    spark = e.sparkSession

    # Materialize the edge set ONCE, fully parallel, before anything
    # probes it. Probing with limit().collect() directly on the edge
    # pipeline would run it through CollectLimit's 1-partition-first
    # incremental execution — serializing an expensive upstream (the
    # shingle explode + bucket join) — and the distributed path would
    # then execute that pipeline a SECOND time for its own checkpoint.
    e = e.localCheckpoint()

    # Probe the materialized blocks: if every edge fits the driver
    # budget, those rows ARE the edge set — finish exactly without ever
    # paying a star round (the common case once upstream LSH has bounded
    # pairs).
    if finish_threshold:
        head = e.limit(finish_threshold + 1).collect()
        if len(head) <= finish_threshold:
            return _finish_local(spark, head)

    def checksum(df: DataFrame):
        # bit_xor (not sum): order-independent and overflow-free under
        # ANSI mode; the edge set is distinct so nothing cancels.
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.bit_xor(F.xxhash64("src", "dst")),
                       F.lit(0)).alias("h"),
        ).collect()[0]
        return row["n"], row["h"]

    prev = checksum(e)
    for _ in range(max_rounds):
        if finish_threshold and prev[0] <= finish_threshold:
            return _finish_local(spark, e.collect())
        # LAZY checkpoint: the checksum action both materializes the
        # round's edge set (truncating lineage for the next round) and
        # detects convergence — ONE full pass per round instead of the
        # two an eager checkpoint + separate checksum action paid (at
        # production scale each action is a pass over the edge set).
        e = _star_round(e).localCheckpoint(eager=False)
        cur = checksum(e)
        if cur == prev:
            break
        prev = cur
    # Converged edge set is a star forest: (node -> component min). The
    # roots themselves appear only as dst, so union them in explicitly.
    return (e.select(F.col("src").alias("node"),
                     F.col("dst").alias("cluster_id"))
            .unionByName(e.select(F.col("dst").alias("node"),
                                  F.col("dst").alias("cluster_id")))
            .distinct())


def dedup_clusters(docs: DataFrame, pairs: DataFrame,
                   id_col: str = "doc_id") -> DataFrame:
    """Assign every document a cluster id from near-dup ``pairs``
    (columns id_a/id_b, e.g. from ``jaccard_verify`` or
    ``simhash_pairs``); docs with no near-dup keep their own id.

    ``keep = doc_id == cluster_id`` is the usual dedup policy."""
    cc = connected_components(pairs, src="id_a", dst="id_b")
    return (docs.select(F.col(id_col).cast("long").alias(id_col))
            .join(cc.withColumnRenamed("node", id_col), id_col, "left")
            .select(id_col,
                    F.coalesce("cluster_id", F.col(id_col))
                    .alias("cluster_id")))


def dedup_keep_best(docs: DataFrame, pairs: DataFrame,
                    id_col: str = "doc_id",
                    score_col: str = "n_chars") -> DataFrame:
    """Quality-aware dedup policy: within each near-dup cluster keep the
    highest-``score_col`` document (ties: min id) instead of blindly
    keeping the min id — the usual policy when dedup meets quality
    filtering (keep the longest / highest-quality variant).

    Returns (doc_id, cluster_id, keep). The keeper window is partitioned
    by cluster id, so the extra cost over ``dedup_clusters`` is one
    shuffle keyed by cluster — no global sort."""
    from pyspark.sql.window import Window
    cc = connected_components(pairs, src="id_a", dst="id_b")
    labeled = (docs.select(F.col(id_col).cast("long").alias(id_col),
                           F.col(score_col).alias("__score"))
               .join(cc.withColumnRenamed("node", id_col), id_col, "left")
               .select(id_col,
                       F.coalesce("cluster_id", F.col(id_col))
                       .alias("cluster_id"), "__score"))
    w = (Window.partitionBy("cluster_id")
         .orderBy(F.desc("__score"), F.asc(id_col)))
    return (labeled
            .withColumn("keep", F.row_number().over(w) == 1)
            .drop("__score"))


def pagerank(edges: DataFrame, src: str = "src", dst: str = "dst",
             n_iter: int = 10, damping: float = 0.85) -> DataFrame:
    """PageRank over an UNDIRECTED similarity graph (each edge walks
    both ways) — the principled canonical-document selector: within a
    near-dup cluster the most central doc is the best representative
    (most corroborated by neighbors), a quality-independent alternative
    to ``dedup_keep_best``'s longest-doc rule.

    Power iteration: pr <- (1-d)/N + d * sum_in(pr_nbr / deg_nbr),
    ``n_iter`` rounds.  Every node in an undirected edge list has
    degree >= 1, so there are no dangling-mass corrections.  Ranks are
    rounded to 6 places AFTER EVERY iteration (the trained-algorithm
    replay recipe: intermediate rounding keeps both engines walking the
    identical trajectory), so the result replays exactly in SQL as
    unrolled iterations.

    Scale shape: classic distributed PageRank — each iteration is one
    equi-join of the (node-sized) rank table with the edge list plus a
    destination-keyed aggregation, with the rank table's lineage CUT by
    an eager ``localCheckpoint`` every round (the iterative-algorithm
    standard — a lazily-grown 10-join plan pays super-linear Catalyst
    analysis, the same blowup ``bpe_train`` hit); nothing is ever
    collected.  Small graphs additionally collapse to one partition so
    each round is a single-task job.  Returns (node, pr)."""
    # checkpoint the doubled edge list FIRST: the upstream pair
    # pipeline (often a full similarity computation) must run exactly
    # once — deg, the node count, and every iteration read the stored
    # blocks
    # double the edge list in ONE pass: the union shape scanned the
    # upstream pair pipeline once per branch BEFORE the checkpoint could
    # materialize (measured r14: the deg.count() materialization paid the
    # full similarity computation twice); exploding both directions from
    # a single scan halves that
    und = (edges.select(F.explode(F.array(
               F.struct(F.col(src).alias("a"), F.col(dst).alias("b")),
               F.struct(F.col(dst).alias("a"), F.col(src).alias("b"))))
           .alias("__e")).select("__e.a", "__e.b")
           .localCheckpoint(eager=False))   # materializes at deg.count()
    deg = und.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
    n_nodes = deg.count()
    if n_nodes == 0:
        return _local_df(edges.sparkSession, [], "node LONG, pr DOUBLE")
    small = n_nodes < 100_000
    if small:
        und = und.coalesce(1).localCheckpoint(eager=False)
        deg = deg.coalesce(1)
    deg = deg.localCheckpoint(eager=False)
    # both seeds stay UNROUNDED doubles: IEEE division gives the same
    # bits in any engine, and only the per-iteration update is rounded
    pr0 = 1.0 / n_nodes
    base = (1.0 - damping) / n_nodes
    pr = deg.select(F.col("a").alias("node"),
                    F.lit(pr0).alias("pr"), "deg").localCheckpoint(eager=False)
    for i in range(n_iter):
        # Small graphs: broadcast the node-sized rank/degree tables
        # (bounded by the 100k gate) so each round is BroadcastHashJoin
        # -> complete-mode agg -> BroadcastHashJoin over the ONE-partition
        # edge list: the agg's ClusteredDistribution is satisfied by
        # SinglePartition, so the round has ZERO exchanges and the r14
        # 48-job AQE stage cascade collapses to one broadcast build per
        # round.  BHJ streams the edge side in its stored order, so the
        # per-node double summation order — and the rounded trajectory —
        # is bit-identical to the exchange plan it replaces.
        prj = F.broadcast(pr) if small else pr
        contrib = (und.join(prj, und["a"] == prj["node"])
                   .select(F.col("b").alias("node"),
                           (F.col("pr") / F.col("deg")).alias("__c"))
                   .groupBy("node").agg(F.sum("__c").alias("__s")))
        degj = F.broadcast(deg) if small else deg
        pr = (contrib.join(degj, contrib["node"] == degj["a"])
              .select("node",
                      F.round(F.lit(base) + F.lit(damping) * F.col("__s"),
                              6).alias("pr"),
                      "deg"))
        # LAZY cut EVERY round: the plan is truncated to one iteration
        # immediately (LogicalRDD), while materialization rides the next
        # round's broadcast build / the final action instead of one eager
        # driver-blocking job per 2 rounds (r14)
        pr = pr.localCheckpoint(eager=False)
    return pr.select("node", "pr")


def label_propagation(edges: DataFrame, src: str = "src",
                      dst: str = "dst", n_iter: int = 5) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) over an
    undirected similarity graph — density-aware community detection,
    the refinement pass for near-dup neighborhoods where connected
    components OVER-merge: one spurious bridge edge fuses two dense
    communities into one CC, while LPA keeps them apart (each side's
    majority vote dominates the single bridge vote).

    Deterministic by construction: every node starts labeled with its
    own id; each round every node adopts its neighbors' most frequent
    label, ties broken by the SMALLEST label — exact integer counts,
    no RNG, no asynchrony — so a fixed ``n_iter`` replays bit-for-bit
    in SQL as unrolled iterations (the pagerank recipe).

    Scale shape: each iteration is one equi-join of the node-sized
    label table with the edge list + one (node, label)-keyed count +
    one argmax aggregation (min over a (-count, label) struct — no
    per-node window), with lineage cut by eager ``localCheckpoint``
    every second round.  Small graphs collapse to one partition.
    Returns (node, label)."""
    # one-pass doubling (see pagerank) — the upstream pair pipeline is
    # scanned once, not once per union branch
    und = (edges.select(F.explode(F.array(
               F.struct(F.col(src).alias("a"), F.col(dst).alias("b")),
               F.struct(F.col(dst).alias("a"), F.col(src).alias("b"))))
           .alias("__e")).select("__e.a", "__e.b"))
    # und stays EAGER: the first round's join stage and the seed's
    # distinct stage both scan it and can launch concurrently — a lazy
    # mark would let them race-recompute the upstream pair pipeline
    und = und.localCheckpoint()
    # EXACT node-count gate (r15, the pagerank/core_numbers convention):
    # the old Catalyst-estimate gate never fired on derived pair
    # pipelines — the estimate of a join tree is inflated ~1000x
    # (measured 22 GB for a 600 KB input), so every bench-scale round
    # ran SortMergeJoin + 4 shuffle exchanges (captured in
    # plans/r15/label_prop_round.txt pre-fix).  The count is one agg
    # job over the ALREADY-CHECKPOINTED edge blocks, and the distinct
    # node table it materializes (lazy checkpoint) seeds the labels, so
    # the extra pass the old comment feared is not paid.  Labels are
    # exact integer ops with order-free ties — identical any shape.
    nodes = und.select("a").distinct().localCheckpoint(eager=False)
    small = nodes.count() < 100_000
    if small:
        und = und.coalesce(1).localCheckpoint(eager=False)
    lab = nodes.select(F.col("a").alias("node"),
                       F.col("a").alias("lab")).localCheckpoint(eager=False)
    for i in range(n_iter):
        # small graphs: broadcast the node-sized label table so each
        # round is BHJ + complete-mode aggs over the ONE-partition edge
        # list — SinglePartition satisfies the aggs' distribution, so
        # the round plans with ZERO exchanges (the pagerank r14 recipe;
        # integer counts and min-struct are order-free, so any plan
        # shape gives identical labels)
        labj = F.broadcast(lab) if small else lab
        cnt = (und.join(labj, und["a"] == labj["node"])
               .groupBy(F.col("b"), F.col("lab"))
               .agg(F.count(F.lit(1)).alias("__c")))
        best = F.min(F.struct((-F.col("__c")).alias("nc"),
                              F.col("lab").alias("l")))
        lab = (cnt.groupBy("b").agg(best.alias("__m"))
               .select(F.col("b").alias("node"),
                       F.col("__m.l").alias("lab")))
        # lazy cut every round — plan truncated now, materialization
        # rides the final action (r14)
        lab = lab.localCheckpoint(eager=False)
    return lab.select("node", F.col("lab").alias("label"))


def triangle_count(edges: DataFrame, src: str = "src",
                   dst: str = "dst") -> DataFrame:
    """Per-node triangle counts + local clustering coefficient over an
    undirected graph — the standard density diagnostic for near-dup
    pair graphs (a clique-y neighborhood is a template/boilerplate
    family; a low-coefficient hub is a spurious LSH bucket collision).

    Degree-ordered orientation (Suri & Vassilvitskii, "Counting
    Triangles and the Curse of the Last Reducer", WWW 2011): every
    edge points from its lower-(deg, id) endpoint to the higher, wedges
    are generated only at each edge's SMALLER endpoint, and a triangle
    is a wedge whose far endpoints are themselves an oriented edge.
    Each triangle is produced exactly once (its (deg, id)-minimal
    corner), and the wedge volume is bounded by O(m^{3/2}) REGARDLESS
    of skew — a degree-d hub contributes ~d wedges, not d^2, which is
    what makes this shape survive power-law graphs at 100 TB where the
    naive adjacency self-join melts the last reducer.

    Plan: the edge pipeline is checkpointed once, then one node-keyed
    degree agg, two node-keyed joins to attach degrees, one u-keyed
    wedge self-join, one (x, y) edge-keyed closing equi-join, and a
    node-sized explode/agg — every shuffle is edge- or wedge-bounded,
    nothing is collected.  Integer counts; lcc = 2T / (deg * (deg - 1))
    rounded to 6 places (exact-int inputs, so the double replays
    bit-for-bit cross-engine).  Returns (node, deg, triangles, lcc)."""
    canon = (edges.select(F.least(F.col(src), F.col(dst)).alias("a"),
                          F.greatest(F.col(src), F.col(dst)).alias("b"))
             .where(F.col("a") != F.col("b"))
             .distinct()
             .localCheckpoint())  # pair pipeline runs ONCE; deg, the
    # orientation join and the closing join all read the stored blocks
    sym = canon.unionByName(
        canon.select(F.col("b").alias("a"), F.col("a").alias("b")))
    deg = sym.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
    da = deg.select(F.col("a").alias("__na"), F.col("deg").alias("__da"))
    db = deg.select(F.col("a").alias("__nb"), F.col("deg").alias("__db"))
    keyed = (canon.join(da, canon["a"] == da["__na"])
             .join(db, canon["b"] == db["__nb"]))
    a_first = (F.struct(F.col("__da"), F.col("a"))
               < F.struct(F.col("__db"), F.col("b")))
    o = keyed.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(a_first, F.col("__db")).otherwise(F.col("__da"))
        .alias("dv"))
    o1 = o.select(F.col("u"), F.col("v").alias("x"), F.col("dv").alias("dx"))
    o2 = o.select(F.col("u"), F.col("v").alias("y"), F.col("dv").alias("dy"))
    wedges = (o1.join(o2, "u")
              .where(F.struct(F.col("dx"), F.col("x"))
                     < F.struct(F.col("dy"), F.col("y"))))
    closing = o.select(F.col("u").alias("x"), F.col("v").alias("y"))
    tri = wedges.join(closing, ["x", "y"]).select("u", "x", "y")
    per_node = (tri.select(F.explode(F.array("u", "x", "y")).alias("node"))
                .groupBy("node").agg(F.count(F.lit(1)).alias("triangles")))
    out = (deg.select(F.col("a").alias("node"), "deg")
           .join(per_node, "node", "left")
           .na.fill({"triangles": 0}))
    lcc = F.when(F.col("deg") >= 2,
                 F.round(2.0 * F.col("triangles")
                         / (F.col("deg") * (F.col("deg") - 1)), 6)) \
        .otherwise(F.lit(0.0))
    return out.select("node", "deg", "triangles", lcc.alias("lcc"))


def core_numbers(edges: DataFrame, src: str = "src", dst: str = "dst",
                 n_iter: int = 8) -> DataFrame:
    """k-core decomposition via iterated neighborhood H-indices (Lü,
    Chen, Ren, Zhang, Zhou & Stanley, "The H-index of a network node",
    PNAS 2016): c_0 = degree; c_{t+1}(v) = H(c_t of v's neighbors) —
    the largest h such that at least h neighbors score >= h.  The
    sequence decreases monotonically to the exact core number; dense
    cores in a near-dup graph are boilerplate/template families, and
    core number is the standard "how deep in the tangle" measure that
    a keep-one-per-cluster pass can prioritize by.

    Runs a FIXED ``n_iter`` rounds (deterministic, engine-portable —
    an until-fixpoint loop would couple the row count to convergence
    detection); callers can raise ``n_iter`` for deep graphs, and on
    any graph the result after t rounds is a valid monotone upper
    bound that has already converged for every node whose
    neighborhood stabilized.  All integers, no floating point.

    Scale shape: the doubled edge list is checkpointed once; each
    round is one edge-values equi-join + one per-node rank window +
    one node-keyed max-agg — edge-sized shuffles, node-sized state,
    lineage cut every other round.  Returns (node, core)."""
    from pyspark.sql.window import Window

    # one-pass doubling (see pagerank) — the upstream pair pipeline is
    # scanned once, not once per union branch
    und = (edges.select(F.explode(F.array(
               F.struct(F.col(src).alias("a"), F.col(dst).alias("b")),
               F.struct(F.col(dst).alias("a"), F.col(src).alias("b"))))
           .alias("__e")).select("__e.a", "__e.b"))
    # NOTE r14: the pagerank-style single-partition collapse + broadcast
    # loop was tried here and MEASURED SLOWER (3.02 -> 3.46 s at sf0.1):
    # each round's histogram + window + max-agg chain serializes onto one
    # core, costing more than the exchanges it removes.  r15 keeps the
    # chain PARALLEL and removes the per-round EDGE-SIZED exchange
    # instead: on small graphs (exact node-count gate below, the
    # pagerank convention) the node-sized score table is BROADCAST, so
    # the round's join streams the stored edge blocks with no shuffle
    # of either side; the only exchanges left carry the post-partial-
    # agg histogram (distinct (node, value) pairs), never the edge
    # list.  (Hash-partitioning the edge list by ``a`` once was tried:
    # an AQE-mode localCheckpoint does not propagate outputPartitioning
    # into LogicalRDD, so later rounds cannot see it, and re-running
    # the repartition per round IS the edge-sized shuffle back again.)
    # Counts/least/max are exact integer ops, so any physical shape
    # gives identical cores.
    und = und.localCheckpoint()  # eager: round joins + degree agg both scan it
    deg = und.groupBy("a").agg(F.count(F.lit(1)).alias("c"))
    # exact node count for the gate (the pagerank convention: the
    # Catalyst estimate of a derived pair pipeline is join-inflated by
    # orders of magnitude); one cheap agg job over the cached blocks
    small = deg.count() < 100_000
    c = deg.select(F.col("a").alias("node"), "c") \
        .localCheckpoint(eager=False)
    for t in range(n_iter):
        cj = F.broadcast(c) if small else c
        nb = (und.join(cj, und["b"] == cj["node"])
              .select(F.col("a"), F.col("c").alias("__cv")))
        # H-index via the VALUE HISTOGRAM, not a per-neighbor rank: a
        # map-side-combined (node, value) count collapses the window's
        # input from one row per edge to one per distinct score — a
        # degree-d hub sorts its distinct values (<= its current
        # H-bound), never d rows.  h = max over values v of
        # min(v, #neighbors scoring >= v), with the >=-count as a
        # descending cumulative sum.
        hist = nb.groupBy("a", "__cv").agg(F.count(F.lit(1)).alias("__k"))
        w = (Window.partitionBy("a").orderBy(F.col("__cv").desc())
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        c = (hist.select("a", F.least(F.col("__cv"),
                                      F.sum("__k").over(w)).alias("__h"))
             .groupBy("a").agg(F.max("__h").alias("c"))
             .select(F.col("a").alias("node"), "c"))
        # lazy cut every round — plan truncated now, materialization
        # rides the final action (r14)
        c = c.localCheckpoint(eager=False)
    return c.select("node", F.col("c").alias("core"))
