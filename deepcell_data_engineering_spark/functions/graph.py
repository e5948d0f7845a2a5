"""Distributed graph operators for the dedup pipeline.

The near-dedup flow is pairs -> clusters -> canonical doc: LSH emits
candidate *pairs* (functions/dedup.py:lsh_candidate_pairs), but a
production pipeline must transitively close them into duplicate
*clusters* so one canonical document survives per cluster. That closure
is connected components, implemented here with the alternating
large-star/small-star algorithm (Kiveris et al., "Connected Components
in MapReduce and Beyond", SoCC'14) — the standard at-scale formulation:
O(log n) rounds, each round one window aggregation (single shuffle),
no driver-side graph state ever materialized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _large_star(e: DataFrame) -> DataFrame:
    """large-star(u): over UNDIRECTED neighborhoods, connect every
    strictly-larger neighbor v of u to m = min(N(u) + {u}).

    One shuffle: the undirected view is a union (no shuffle) and the
    per-node min is a window over the partition key u."""
    und = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    m = F.least(F.col("u"), F.min("v").over(Window.partitionBy("u")))
    return (
        und.withColumn("m", m)
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """small-star(u): orient each edge from its larger endpoint, then
    connect u and all its smaller neighbors to their minimum."""
    d = (
        e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    d = d.withColumn("m", F.min("v").over(Window.partitionBy("u")))
    rewired = d.where(F.col("v") != F.col("m")).select(
        F.col("v").alias("u"), F.col("m").alias("v")
    )
    to_root = d.select("u", F.col("m").alias("v")).distinct()
    return rewired.union(to_root).distinct()


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Union the candidate-pair graph into components; returns one row
    per node appearing in ``pairs``: (node, component) with component =
    the minimum node id reachable from it.

    Scale posture: each round is two single-shuffle star operations on
    the edge set (which only shrinks toward a star forest); convergence
    is detected by a (count, xxhash64-xor) edge-set checksum — one tiny
    aggregate per round, never a driver-side edge collection. Rounds
    needed: O(log n) in theory, 2-3 in practice on near-clique dedup
    graphs. Each round's edge set is ``localCheckpoint``-ed: without
    lineage truncation every round's plan embeds all previous rounds
    and analysis time grows geometrically — the standard Spark posture
    for iterative graph algorithms (GraphFrames does the same).
    """
    e = (
        pairs.select(
            F.col(id_a).cast("long").alias("u"),
            F.col(id_b).cast("long").alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    from pyspark.sql import Observation

    prev_sig = None
    for _ in range(max_iter):
        prev = e
        # bit_xor (not sum): order-insensitive and overflow-free under
        # ANSI mode; the edge set is distinct, so no pair cancellation.
        # The checksum rides the checkpoint job via observe/
        # CollectMetrics (r13): the rows the materialization streams
        # past ARE the new edge set, so the separate per-round
        # signature aggregate (a second job per round) disappears —
        # 2 jobs/round -> 1, same tuple, same convergence test.
        obs = Observation()
        e = (
            _small_star(_large_star(e))
            .observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.expr("bit_xor(xxhash64(u, v))").alias("x"),
            )
            .localCheckpoint()
        )
        # the new checkpoint is materialized (eager) — the previous
        # round's blocks can be released; only the final edge set stays
        # pinned (the caller's result depends on it)
        prev.unpersist()
        row = obs.get
        sig = (row["n"], row["x"])
        if sig == prev_sig:
            break
        prev_sig = sig
    # At the star-forest fixed point every edge is (node -> its
    # component root); the roots themselves label their own component.
    labels = e.select(F.col("u").alias("node"), F.col("v").alias("component"))
    roots = e.select(F.col("v").alias("node")).distinct().withColumn(
        "component", F.col("node")
    )
    out = labels.union(roots).groupBy("node").agg(
        F.min("component").alias("component")
    )
    return out


def dup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Assign every document a duplicate-cluster id: the minimum doc_id
    of its connected component in the candidate-pair graph; documents
    with no candidate pair are their own singleton cluster. The
    canonical survivor of each cluster is the row where
    ``doc_id == cluster_id``.

    The components relation is tiny relative to the corpus (only docs
    that appear in a pair), so the final join broadcasts."""
    comp = connected_components(pairs, id_a=id_a, id_b=id_b)
    return (
        docs.select(id_col)
        .join(
            F.broadcast(comp.withColumnRenamed("node", id_col)),
            id_col,
            "left",
        )
        .select(
            id_col,
            F.coalesce("component", F.col(id_col)).alias("cluster_id"),
        )
        .withColumn("is_canonical", F.col(id_col) == F.col("cluster_id"))
    )


def pagerank(
    pairs: DataFrame,
    iters: int = 3,
    damping: float = 0.85,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """PageRank over the undirected candidate-pair graph — duplicate-hub
    centrality: template/boilerplate documents sit at the center of
    dense near-dup neighborhoods and surface with the highest rank, the
    QA view a dedup pipeline publishes alongside cluster counts.

    Power iteration restricted to nodes that appear in a pair (every
    such node has degree >= 1 under the undirected view, so there are
    no dangling nodes and the damping term closes the mass balance).
    Each iteration is one join of the edge list with the current rank
    relation plus a grouped sum — the same per-round shuffle shape as
    connected_components, with the edge list and degrees persisted via
    localCheckpoint so iterations do not recompute the LSH upstream.
    Fixed ``iters`` (no convergence collect) keeps the oracle
    expressible as unrolled CTEs."""
    und = (
        pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
        .union(pairs.select(F.col(id_b).alias("u"), F.col(id_a).alias("v")))
        .distinct()
        .localCheckpoint()
    )
    # the node count rides the deg checkpoint job via observe (r13) —
    # no separate count() job over the just-materialized blocks
    from pyspark.sql import Observation

    _obs = Observation()
    deg = (
        und.groupBy("u")
        .agg(F.count(F.lit(1)).alias("d"))
        .observe(_obs, F.count(F.lit(1)).alias("n"))
        .localCheckpoint()
    )
    n = _obs.get["n"]
    if n == 0:
        return deg.select(
            F.col("u").alias("node"), F.lit(0.0).alias("rank"), "d"
        )
    ranks = deg.select("u", F.lit(1.0 / n).alias("r"))
    base = (1.0 - damping) / n
    for _ in range(iters):
        contribs = (
            und.join(ranks, "u")
            .join(deg, "u")
            .select(F.col("v").alias("u"), (F.col("r") / F.col("d")).alias("c"))
        )
        ranks = contribs.groupBy("u").agg(
            (F.lit(base) + F.lit(damping) * F.sum("c")).alias("r")
        )
    return ranks.join(deg, "u").select(
        F.col("u").alias("node"), F.round("r", 6).alias("rank"), "d"
    )


def triangle_counts(edges: DataFrame, src: str = "u", dst: str = "v") -> DataFrame:
    """Per-node triangle participation counts of an undirected graph:
    (node, n_triangles). Triangles in the LSH candidate graph diagnose
    dedup neighborhoods — a template page shared by many near-identical
    docs shows up as a dense triangle cluster long before connected
    components merge it into one blob.

    The ordered enumeration with DEGREE orientation: edges orient from
    the (degree, id)-smaller endpoint to the larger, each triangle is
    found EXACTLY once by joining (a,b)⋈(b,c) on the oriented graph and
    closing with (a,c) — two equi-joins, no node ever compared to a
    non-neighbor. Degree orientation (vs plain id order) bounds every
    node's out-degree by O(sqrt(m)) and sends all of a hub's edges
    INWARD, so wedge work through high-degree template hubs collapses
    from in·out to ~0 — the orientation is invisible in the result
    (triangle counts are orientation-free; the x67 oracle keeps its
    id-ordered SQL), it only changes the join cardinality. Residual
    cost is the true triangle count itself, which is cubic in clique
    size on a near-dup-heavy corpus — output-bound, not plan-bound."""
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    deg = (
        und.select(F.col("u").alias("n"))
        .unionAll(und.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    ranked = (
        und.join(deg.withColumnsRenamed({"n": "u", "d": "du"}), "u")
        .join(deg.withColumnsRenamed({"n": "v", "d": "dv"}), "v")
        .select(
            "u",
            "v",
            F.struct(F.col("du"), F.col("u")).alias("ru"),
            F.struct(F.col("dv"), F.col("v")).alias("rv"),
        )
    )
    e = ranked.select(
        F.when(F.col("ru") < F.col("rv"), F.col("u")).otherwise(F.col("v")).alias("u"),
        F.when(F.col("ru") < F.col("rv"), F.col("v")).otherwise(F.col("u")).alias("v"),
    ).localCheckpoint()  # built once, probed three times
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.u") == F.col("e1.v"))
        .join(
            e3,
            (F.col("e3.u") == F.col("e1.u")) & (F.col("e3.v") == F.col("e2.v")),
        )
        .select(
            F.col("e1.u").alias("a"),
            F.col("e1.v").alias("b"),
            F.col("e2.v").alias("c"),
        )
    )
    nodes = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("b").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
    )
    return nodes.groupBy("node").agg(F.count(F.lit(1)).alias("n_triangles"))


def k_core(
    edges: DataFrame,
    k: int = 3,
    max_peels: int = 5,
    src: str = "u",
    dst: str = "v",
) -> DataFrame:
    """Bounded k-core peeling of an undirected graph: repeatedly drop
    nodes of degree < k (and their edges), ``max_peels`` times. Returns
    the surviving normalized edge set (u < v). The fixed peel count is
    the oracle-checkable convention the iterative family uses (k-means/
    PageRank/BPE): each round is one degree aggregation + two semi-
    joins, with localCheckpoint cutting lineage so the plan does not
    grow with rounds. A converged graph is a fixed point, so extra
    rounds are no-ops; full decomposition just raises max_peels."""
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    for _ in range(max_peels):
        deg = (
            e.select(F.col("u").alias("n"))
            .unionAll(e.select(F.col("v").alias("n")))
            .groupBy("n")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        keep = deg.where(F.col("d") >= k).select("n")
        e = (
            e.join(keep.withColumnRenamed("n", "u"), "u", "left_semi")
            .join(keep.withColumnRenamed("n", "v"), "v", "left_semi")
            .select("u", "v")
            .localCheckpoint()
        )
    return e


def label_propagation(
    edges: DataFrame,
    rounds: int,
    src: str = "u",
    dst: str = "v",
) -> DataFrame:
    """Synchronous min-label propagation for a FIXED round budget:
    every node starts labeled with its own id; each round it takes the
    min of its label and its neighbors' labels. Returns (n, lbl).

    This is the bounded-cost community pass between a single degree
    count and :func:`connected_components`' run-to-convergence
    alternating stars: after r rounds a node's label is the smallest
    id within r hops, so tight near-dup communities collapse in 2-3
    rounds while long chains (which CC would merge) stay split — and
    the cost is EXACTLY ``rounds`` joins whatever the graph's
    diameter, the property that makes it schedulable at 100 TB (the
    same fixed-budget convention as pagerank/k_core here, and what
    keeps the SQL oracle expressible as unrolled CTEs). Each round is
    one broadcast-free equi-join per direction + a min-aggregation,
    localCheckpoint-ed so iteration r does not recompute r-1. The
    joins are pinned to sort-merge: left to AQE, a small round turns
    each join into a broadcast of whichever side's shuffle finished
    first, so the round's job count (and with it the build's) would
    vary from run to run."""
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("eu"),
            F.greatest(F.col(src), F.col(dst)).alias("ev"),
        )
        .where(F.col("eu") != F.col("ev"))
        .distinct()
        .localCheckpoint()
    )
    lbl = (
        e.select(F.col("eu").alias("n"))
        .unionAll(e.select(F.col("ev").alias("n")))
        .distinct()
        .withColumn("lbl", F.col("n"))
        .localCheckpoint()
    )
    for _ in range(rounds):
        lbl = lbl.hint("merge")
        from_u = e.join(lbl, lbl["n"] == e["eu"]).select(
            e["ev"].alias("n"), lbl["lbl"].alias("lbl")
        )
        from_v = e.join(lbl, lbl["n"] == e["ev"]).select(
            e["eu"].alias("n"), lbl["lbl"].alias("lbl")
        )
        lbl = (
            lbl.select("n", "lbl")
            .unionAll(from_u)
            .unionAll(from_v)
            .groupBy("n")
            .agg(F.min("lbl").alias("lbl"))
            .localCheckpoint()
        )
    return lbl
