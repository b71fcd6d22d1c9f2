"""Iteration operator — reference ``DataStream.iterate``
(DataStream.java:531-559) / DataSet bulk iterations.

Spark has no iteration operator: the idiomatic form is a driver loop over
DataFrame steps, with ``localCheckpoint()`` per round to truncate lineage
(otherwise plan depth grows linearly and analysis cost quadratically).
This module makes the pattern a first-class operator:

    result = iterate(seed_df, step_fn, max_iters=20, converged=same_rows)

``llm/dedup.dedup_clusters`` is this pattern specialized to min-label
propagation; ``pagerank`` below is the Gelly-adjacent demonstrator
(flink-libraries/flink-gelly PageRank example).

100 TB: each round is an ordinary distributed job; the driver holds only
loop control. Convergence checks cost one action per round — make them
cheap (count of changed rows, not a full collect).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def iterate(
    seed: DataFrame,
    step: Callable[[DataFrame, int], DataFrame],
    max_iters: int,
    converged: Callable[[DataFrame, DataFrame], bool] | None = None,
    on_round: Callable[[int, float], None] | None = None,
) -> DataFrame:
    """Run ``step(state, i)`` until ``converged(prev, new)`` or
    ``max_iters``. State is localCheckpoint()ed every round.

    ``on_round(i, wall_seconds)`` — optional instrumentation hook fired
    after each round's checkpoint + convergence probe; lets scale probes
    attribute cost to round count vs per-round work without touching
    the operator.
    """
    import time as _time

    state = seed.localCheckpoint()
    for i in range(max_iters):
        t0 = _time.monotonic()
        new_state = step(state, i).localCheckpoint()
        done = converged is not None and converged(state, new_state)
        if on_round is not None:
            on_round(i, _time.monotonic() - t0)
        if done:
            return new_state
        state = new_state
    return state


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    max_iters: int = 15,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """PageRank over an edge list -> (node, rank).

    Classic join-agg formulation: contributions = rank/out_degree routed
    along edges, new rank = (1-d)/N + d * (sum of contributions +
    dangling mass / N). Each round: one join on src (+ one agg) — the
    same shuffle pattern at any graph size; ranks are doubles, so use a
    tolerance when asserting (fp sums are partition-order-dependent).
    """
    nodes = (
        edges.select(F.col(src).alias("node"))
        .union(edges.select(F.col(dst).alias("node")))
        .distinct()
        .localCheckpoint()
    )
    n = nodes.count()
    out_deg = edges.groupBy(src).agg(F.count("*").alias("out_deg")).localCheckpoint()
    ranks0 = nodes.withColumn("rank", F.lit(1.0 / n))

    def step(ranks: DataFrame, _i: int) -> DataFrame:
        # dangling mass stays IN-PLAN as a broadcast 1-row aggregate
        # (cross join) instead of a per-iteration driver collect: the
        # iteration runs as one job, no driver-side scalar dependency.
        with_deg = ranks.join(out_deg, ranks["node"] == out_deg[src], "left")
        dangling = with_deg.where(F.col("out_deg").isNull()).agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dangling")
        )
        contribs = (
            edges.join(ranks, edges[src] == ranks["node"])
            .join(out_deg, src)
            .select(F.col(dst).alias("node"), (F.col("rank") / F.col("out_deg")).alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("in_sum"))
        )
        return (
            nodes.join(contribs, "node", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                (
                    F.lit((1.0 - damping) / n)
                    + F.lit(damping) * F.col("_dangling") / F.lit(float(n))
                    + F.lit(damping) * F.coalesce(F.col("in_sum"), F.lit(0.0))
                ).alias("rank"),
            )
        )

    return iterate(ranks0, step, max_iters)


def connected_components(
    pairs: DataFrame,
    max_iters: int = 25,
    a: str = "d1",
    b: str = "d2",
) -> DataFrame:
    """Connected components over an undirected pair list ->
    (node, component) where component is the minimum id in the node's
    component.

    Large-star/small-star alternation (Kiveris et al., "Connected
    Components in MapReduce and Beyond"): each round hooks every node
    directly to the smallest id it can see, halving tree heights —
    convergence in O(log n) rounds on ANY graph shape, where plain
    min-label propagation needs O(diameter) (pathological on chains).
    Each half-round is one groupBy + one join on node ids — ordinary
    shuffles at any scale; no driver data beyond the convergence probe.

    Raises after ``max_iters`` without convergence (loud, never silently
    wrong). Reference analog: Gelly ConnectedComponents
    (flink-libraries/flink-gelly) / DataSet delta iterations.
    """
    src, dst = "_u", "_v"
    edges = (
        pairs.select(F.col(a).alias(src), F.col(b).alias(dst))
        .where(F.col(src) != F.col(dst))
        .distinct()
        .localCheckpoint()
    )
    if edges.isEmpty():
        return pairs.sparkSession.createDataFrame([], "node long, component long")

    def symmetric(e: DataFrame) -> DataFrame:
        return e.union(e.select(F.col(dst).alias(src), F.col(src).alias(dst)))

    def large_star(e: DataFrame) -> DataFrame:
        # connect every strictly-larger neighbor of u to min(N(u) ∪ {u})
        nbrs = symmetric(e)
        mins = nbrs.groupBy(src).agg(F.least(F.min(dst), F.first(src)).alias("_m"))
        return (
            nbrs.join(mins, src)
            .where(F.col(dst) > F.col(src))
            .select(F.col(dst).alias(src), F.col("_m").alias(dst))
            .distinct()
        )

    def small_star(e: DataFrame) -> DataFrame:
        # orient to smaller endpoints; connect them (and u) to the min
        nbrs = symmetric(e).where(F.col(dst) < F.col(src))
        mins = nbrs.groupBy(src).agg(F.least(F.min(dst), F.first(src)).alias("_m"))
        moved = (
            nbrs.join(mins, src)
            .select(F.col(dst).alias(src), F.col("_m").alias(dst))
        )
        selfs = mins.select(F.col(src), F.col("_m").alias(dst))
        return moved.union(selfs).where(F.col(src) != F.col(dst)).distinct()

    for _ in range(max_iters):
        new_edges = small_star(large_star(edges)).localCheckpoint()
        changed = (
            new_edges.exceptAll(edges).limit(1).count()
            + edges.exceptAll(new_edges).limit(1).count()
        )
        edges = new_edges
        if changed == 0:
            # converged: every edge is (node, component-min)
            labels = edges.groupBy(src).agg(F.min(dst).alias("component"))
            roots = (
                symmetric(edges).select(F.col(dst).alias(src)).distinct()
                .join(labels, src, "left_anti")
                .select(F.col(src), F.col(src).alias("component"))
            )
            return labels.union(roots).select(
                F.col(src).alias("node"), "component"
            )
    raise RuntimeError(
        f"connected_components did not converge in {max_iters} rounds"
    )


def sssp(
    edges: DataFrame,
    source,
    max_iters: int = 20,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
) -> DataFrame:
    """Single-source shortest paths -> (node, dist); unreachable nodes
    are absent. Gelly's SingleSourceShortestPaths (scatter-gather)
    re-expressed as Bellman-Ford rounds: each round relaxes every edge
    out of the current distance table (one join on src + one min-agg —
    the frontier IS the state table) and stops when no distance
    improved. ``weight`` None means hop count. Rounds are bounded by the
    graph diameter, each a plain shuffle join at any scale."""
    w_col = F.col(weight).cast("double") if weight else F.lit(1.0)
    state = (
        edges.select(F.col(src).alias("node"))
        .where(F.col(src) == source)
        .distinct()
        .withColumn("dist", F.lit(0.0))
        .localCheckpoint()
    )

    def step(cur: DataFrame, _i: int) -> DataFrame:
        relaxed = (
            edges.join(cur, edges[src] == cur["node"])
            .select(F.col(dst).alias("node"), (F.col("dist") + w_col).alias("dist"))
        )
        return cur.union(relaxed).groupBy("node").agg(F.min("dist").alias("dist"))

    def settled(prev: DataFrame, new: DataFrame) -> bool:
        improved = (
            new.join(prev.withColumnRenamed("dist", "prev_dist"), "node", "left")
            .where(F.col("prev_dist").isNull() | (F.col("dist") < F.col("prev_dist")))
            .limit(1)
            .count()
        )
        return improved == 0

    return iterate(state, step, max_iters, converged=settled)


def vertex_degrees(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """(node, out_deg, in_deg, deg) over a directed edge list — the
    flink-gelly VertexDegrees / VertexMetrics analog
    (flink-libraries/flink-gelly/.../metric/directed/VertexDegrees.java).
    Two partial-aggregated shuffles + one key join; linear at any scale.
    """
    out_d = edges.groupBy(F.col(src).alias("node")).agg(F.count("*").alias("out_deg"))
    in_d = edges.groupBy(F.col(dst).alias("node")).agg(F.count("*").alias("in_deg"))
    return (
        out_d.join(in_d, "node", "full_outer")
        .select(
            "node",
            F.coalesce("out_deg", F.lit(0)).alias("out_deg"),
            F.coalesce("in_deg", F.lit(0)).alias("in_deg"),
            (F.coalesce("out_deg", F.lit(0)) + F.coalesce("in_deg", F.lit(0))).alias("deg"),
        )
    )


def triangle_count(
    edges: DataFrame, src: str = "src", dst: str = "dst", orient: str = "degree"
) -> DataFrame:
    """Per-vertex triangle counts over the undirected graph —
    flink-gelly TriangleListing/TriangleCount
    (flink-libraries/flink-gelly/.../clustering/directed/TriangleListing.java).

    The edge list is canonicalized (min, max, distinct, no loops), then
    ORIENTED so each edge points from the "smaller" endpoint; wedges are
    generated at the smaller endpoint and closed with a semi-join.

    ``orient='degree'`` (default) orders vertices by (degree, id) — the
    standard skew guard: wedge count per vertex is then bounded by its
    higher-degree neighbor count, so a celebrity vertex of degree d
    generates O(d) wedges instead of O(d^2); at 100 TB this is the
    difference between a bounded shuffle and a quadratic blow-up.
    ``orient='id'`` orders by vertex id (what a plain SQL oracle does);
    the triangle SET is orientation-independent, so both orientations
    return identical counts.
    """
    u, v = F.least(F.col(src), F.col(dst)), F.greatest(F.col(src), F.col(dst))
    und = (
        edges.where(F.col(src) != F.col(dst))
        .select(u.alias("u"), v.alias("v"))
        .distinct()
    )
    if orient == "degree":
        deg = (
            und.select(F.col("u").alias("node"))
            .union(und.select(F.col("v")))
            .groupBy("node")
            .agg(F.count("*").alias("d"))
        )
        du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
        dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
        w = und.join(du, "u").join(dv, "v")
        lo_first = (F.col("du") < F.col("dv")) | (
            (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
        )
        oriented = w.select(
            F.when(lo_first, F.col("u")).otherwise(F.col("v")).alias("a"),
            F.when(lo_first, F.col("v")).otherwise(F.col("u")).alias("b"),
        )
    elif orient == "id":
        oriented = und.select(F.col("u").alias("a"), F.col("v").alias("b"))
    else:
        raise ValueError(f"orient must be 'degree' or 'id', got {orient!r}")
    e1 = oriented.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = oriented.select(F.col("a").alias("x"), F.col("b").alias("z"))
    wedges = e1.join(e2, "x").where(F.col("y") < F.col("z"))
    # close the wedge: the third side exists in the UNDIRECTED edge set
    tri = wedges.join(
        und.select(F.col("u").alias("y2"), F.col("v").alias("z2")),
        (
            (F.least("y", "z") == F.col("y2"))
            & (F.greatest("y", "z") == F.col("z2"))
        ),
        "left_semi",
    ).select("x", "y", "z")
    per_vertex = (
        tri.select(F.col("x").alias("node"))
        .union(tri.select(F.col("y")))
        .union(tri.select(F.col("z")))
        .groupBy("node")
        .agg(F.count("*").alias("n_triangles"))
    )
    return per_vertex


def label_propagation(
    edges: DataFrame,
    rounds: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Synchronous label propagation — flink-gelly LabelPropagation
    (flink-libraries/flink-gelly/.../library/LabelPropagation.java:
    adopt the most frequent neighbor label each superstep).

    Determinism (the hash-gate requirement): updates are SYNCHRONOUS
    (all nodes read round-i labels to produce round-i+1) and the
    most-frequent choice tie-breaks on the SMALLEST label — no
    visit-order dependence, so a fixed round count yields identical
    labels on any engine/partitioning. Labels init to the node id;
    isolated nodes keep their own label. Each round is one join + two
    aggregations on the symmetric edge list — the per-round cost of
    connected_components without the star-contraction.
    """
    sym = (
        edges.where(F.col(src) != F.col(dst))
        .select(F.col(src).alias("node"), F.col(dst).alias("nbr"))
        .union(edges.select(F.col(dst).alias("node"), F.col(src).alias("nbr")))
        .distinct()
        .localCheckpoint()
    )
    nodes = sym.select("node").distinct().localCheckpoint()
    labels0 = nodes.withColumn("label", F.col("node"))

    def step(labels: DataFrame, _i: int) -> DataFrame:
        nbr_labels = sym.join(
            labels.select(F.col("node").alias("nbr"), F.col("label").alias("nl")),
            "nbr",
        ).select("node", "nl")
        counts = nbr_labels.groupBy("node", "nl").agg(F.count("*").alias("c"))
        # most frequent, smallest-label tie-break: max by (c, -nl)
        best = counts.groupBy("node").agg(
            F.max_by("nl", F.struct(F.col("c"), (-F.col("nl")).alias("neg"))).alias("new_label")
        )
        return (
            labels.join(best, "node", "left")
            .select("node", F.coalesce("new_label", "label").alias("label"))
        )

    return iterate(labels0, step, rounds)


#: fixed-point scale for Adamic-Adar partials: 1/ln(deg) terms quantize
#: to 1e-9 BIGINTs so the per-pair sum is an order-free integer sum —
#: the same determinism trick as llm/similarity.PQ_SCALE.
AA_SCALE = 1_000_000_000


def neighborhood_similarity(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Jaccard index + Adamic-Adar per vertex pair sharing >= 1 neighbor
    — flink-gelly JaccardIndex / AdamicAdar
    (flink-libraries/flink-gelly/.../library/similarity/JaccardIndex.java,
    AdamicAdar.java).

    One wedge generation at each common neighbor (pairs of its
    neighbors), one aggregation keyed on the pair:
    jaccard = |N(u) ∩ N(v)| / (|N(u)| + |N(v)| - |∩|), and
    adamic_adar = Σ_w 1/ln(deg(w)) over the common neighbors w.

    Determinism: the 1/ln terms are quantized to 1e-9 fixed-point before
    the pair sum (integer addition is order-free), so results hash-match
    across engines. Scale: wedges at a vertex of degree d are O(d²) —
    the same skew exposure as triangle counting; gelly's JaccardIndex
    groups by the HIGHER-degree endpoint for the same reason. Cap or
    sample celebrity vertices upstream (llm/dedup's hot-bucket cap
    pattern) when degree distributions are heavy-tailed.
    """
    u, v = F.least(F.col(src), F.col(dst)), F.greatest(F.col(src), F.col(dst))
    und = (
        edges.where(F.col(src) != F.col(dst))
        .select(u.alias("u"), v.alias("v"))
        .distinct()
    )
    sym = (
        und.select(F.col("u").alias("w"), F.col("v").alias("x"))
        .union(und.select(F.col("v"), F.col("u")))
    )
    deg = sym.groupBy("w").agg(F.count("*").alias("d"))
    # each common neighbor w contributes one wedge per neighbor pair,
    # carrying its fixed-point 1/ln(deg(w)) weight
    # a degree-1 vertex has ln(d)=0 but can never BE a common neighbor
    # (one neighbor -> no pair), so its weight is unused — pin it to 0
    # instead of tripping ANSI division-by-zero
    wsym = sym.join(deg, "w").select(
        "w", "x",
        F.when(
            F.col("d") > 1,
            F.round(F.lit(float(AA_SCALE)) / F.log(F.col("d").cast("double"))).cast("long"),
        ).otherwise(F.lit(0).cast("long")).alias("aw"),
    )
    b = wsym.select(F.col("w"), F.col("x").alias("y"), F.col("aw").alias("aw2"))
    pairs = (
        wsym.join(b, "w")
        .where(F.col("x") < F.col("y"))
        .groupBy(F.col("x").alias("u"), F.col("y").alias("v"))
        .agg(F.count("*").alias("shared"), F.sum("aw").alias("aa_f"))
    )
    du = deg.select(F.col("w").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("w").alias("v"), F.col("d").alias("dv"))
    return (
        pairs.join(du, "u")
        .join(dv, "v")
        .select(
            "u", "v", "shared",
            (
                F.col("shared").cast("double")
                / (F.col("du") + F.col("dv") - F.col("shared")).cast("double")
            ).alias("jaccard"),
            (F.col("aa_f").cast("double") / F.lit(float(AA_SCALE))).alias("adamic_adar"),
        )
    )


def pagerank_fixed(
    edges: DataFrame,
    damping: float = 0.85,
    iters: int = 5,
    src: str = "src",
    dst: str = "dst",
    scale: int = AA_SCALE,
) -> DataFrame:
    """PageRank on 1e-9 fixed-point ranks -> (node, rank_f, rank).

    The float formulation (``pagerank``) is partition-order-dependent in
    its contribution sums, so it can only ever be tolerance-tested.
    This variant keeps ranks as BIGINT fixed-point: per-edge
    contributions quantize to ``round(rank_f / out_deg)`` BEFORE the
    aggregation, making the sum an exact integer reduction, and every
    per-round scalar term rounds to the same grid — identical IEEE
    double intermediates on any engine, so a fixed round count is
    hash-gateable (the kmeans/PQ-training determinism contract applied
    to PageRank). Quantization error per round is <= 1 ulp-of-grid per
    in-edge (~deg * 1e-9), far below any ranking use.

    Same plan shape per round as ``pagerank``: one join on src + one
    agg; dangling mass stays in-plan as a broadcast 1-row aggregate.
    """
    nodes = (
        edges.select(F.col(src).alias("node"))
        .union(edges.select(F.col(dst).alias("node")))
        .distinct()
        .localCheckpoint()
    )
    n = nodes.count()
    if n == 0:  # empty graph: empty result, same schema (no 1/n terms)
        return nodes.select(
            "node",
            F.lit(0).cast("long").alias("rank_f"),
            F.lit(0.0).alias("rank"),
        )
    out_deg = edges.groupBy(src).agg(F.count("*").alias("out_deg")).localCheckpoint()
    import math

    halfup = lambda x: int(math.floor(x + 0.5))  # noqa: E731  (SQL ROUND parity)
    r_init = halfup(scale / n)
    base_f = halfup((1.0 - damping) * scale / n)
    ranks0 = nodes.withColumn("rank_f", F.lit(r_init).cast("long"))

    def step(ranks: DataFrame, _i: int) -> DataFrame:
        with_deg = ranks.join(out_deg, ranks["node"] == out_deg[src], "left")
        dangling = with_deg.where(F.col("out_deg").isNull()).agg(
            F.coalesce(F.sum("rank_f"), F.lit(0)).cast("long").alias("_dang_f")
        )
        contribs = (
            edges.join(ranks, edges[src] == ranks["node"])
            .join(out_deg, src)
            .select(
                F.col(dst).alias("node"),
                F.round(F.col("rank_f").cast("double") / F.col("out_deg"))
                .cast("long")
                .alias("c_f"),
            )
            .groupBy("node")
            .agg(F.sum("c_f").alias("in_f"))
        )
        return (
            nodes.join(contribs, "node", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                (
                    F.lit(base_f).cast("long")
                    + F.round(
                        F.lit(damping) * F.col("_dang_f").cast("double") / F.lit(float(n))
                    ).cast("long")
                    + F.coalesce(
                        F.round(F.lit(damping) * F.col("in_f").cast("double")).cast("long"),
                        F.lit(0).cast("long"),
                    )
                ).alias("rank_f"),
            )
        )

    out = iterate(ranks0, step, iters)
    return out.select(
        "node", "rank_f", (F.col("rank_f").cast("double") / F.lit(float(scale))).alias("rank")
    )


def clustering_coefficient(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-vertex local clustering coefficient — flink-gelly
    LocalClusteringCoefficient (flink-libraries/flink-gelly/.../
    clustering/undirected/LocalClusteringCoefficient.java):
    cc(v) = 2·triangles(v) / (deg(v)·(deg(v)-1)) on the undirected
    graph, 0 for degree < 2. Composes triangle_count (degree-ordered,
    skew-bounded) with the neighbor-count degree; the division is a
    ratio of exact integers, so results are engine-exact."""
    u, v = F.least(F.col(src), F.col(dst)), F.greatest(F.col(src), F.col(dst))
    und = (
        edges.where(F.col(src) != F.col(dst))
        .select(u.alias("u"), v.alias("v"))
        .distinct()
    )
    deg = (
        und.select(F.col("u").alias("node"))
        .union(und.select(F.col("v")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    tri = triangle_count(und, src="u", dst="v")
    return (
        deg.join(tri, "node", "left")
        .select(
            "node",
            F.col("d").alias("degree"),
            F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"),
            F.when(
                F.col("d") >= 2,
                2.0 * F.coalesce("n_triangles", F.lit(0))
                / (F.col("d") * (F.col("d") - 1)).cast("double"),
            ).otherwise(F.lit(0.0)).alias("coefficient"),
        )
    )


def hits(
    edges: DataFrame,
    iters: int = 5,
    src: str = "src",
    dst: str = "dst",
    scale: int = 1_000_000,
) -> DataFrame:
    """HITS hubs & authorities — flink-gelly HITS
    (flink-libraries/flink-gelly/.../link_analysis/HITS.java), made
    hash-gateable with the pagerank_fixed determinism contract: scores
    live as 1e-9 fixed-point BIGINTs, each half-step is an exact integer
    sum over edges, and the L2 normalization divides by
    sqrt(Σ f²) computed from exact integers (one IEEE sqrt + divide +
    re-quantize — identical on any engine/partitioning).

    Per round: two key joins + two aggs (authority from in-edges' hub
    scores, hub from out-edges' new authority scores) + two 1-row
    norm aggregates that stay in-plan as broadcast scalars.

    The grid is 1e-6 (not 1e-9): the norm squares raw degree-sums, and
    Σ (scale·deg)² must stay inside the exact DECIMAL(38,0)/HUGEINT
    window on both engines — 1e-6 leaves headroom to degree ~1e6 at
    billion-vertex graphs, and score precision 1e-6 in [0,1] is far
    below any ranking use."""
    nodes = (
        edges.select(F.col(src).alias("node"))
        .union(edges.select(F.col(dst).alias("node")))
        .distinct()
        .localCheckpoint()
    )
    if nodes.count() == 0:
        return nodes.select(
            "node",
            F.lit(0).cast("long").alias("hub_f"),
            F.lit(0).cast("long").alias("auth_f"),
            F.lit(0.0).alias("hub"),
            F.lit(0.0).alias("authority"),
        )
    e = edges.select(F.col(src).alias("es"), F.col(dst).alias("ed")).localCheckpoint()
    state0 = nodes.select(
        "node", F.lit(scale).cast("long").alias("hub_f"), F.lit(scale).cast("long").alias("auth_f")
    )

    def normalize(df: DataFrame, col: str) -> DataFrame:
        # norm² = Σ f² as an exact DECIMAL(38,0) sum (order-free; the
        # long·long product would overflow); the sqrt/divide are one
        # deterministic double op each, re-quantized to the grid
        d38 = F.col(col).cast("decimal(38,0)")
        nrm = df.agg(F.sqrt((F.sum(d38 * d38)).cast("double")).alias("_n"))
        return df.crossJoin(F.broadcast(nrm)).select(
            *[c for c in df.columns if c != col],
            F.when(F.col("_n") > 0,
                   F.round(F.col(col).cast("double") / F.col("_n") * F.lit(float(scale))))
            .otherwise(F.lit(0.0)).cast("long").alias(col),
        )

    def step(state: DataFrame, _i: int) -> DataFrame:
        auth = (
            e.join(state.select(F.col("node").alias("es"), "hub_f"), "es")
            .groupBy(F.col("ed").alias("node"))
            .agg(F.sum("hub_f").alias("raw_a"))
        )
        # checkpoint the half-step: new_auth feeds BOTH the hub update
        # and the round's output join — uncheckpointed it re-executes,
        # doubling per-round work (and compounding across rounds)
        new_auth = normalize(
            nodes.join(auth, "node", "left")
            .select("node", F.coalesce("raw_a", F.lit(0)).cast("long").alias("auth_f")),
            "auth_f",
        ).localCheckpoint()
        hub = (
            e.join(new_auth.select(F.col("node").alias("ed"), "auth_f"), "ed")
            .groupBy(F.col("es").alias("node"))
            .agg(F.sum("auth_f").alias("raw_h"))
        )
        new_hub = normalize(
            nodes.join(hub, "node", "left")
            .select("node", F.coalesce("raw_h", F.lit(0)).cast("long").alias("hub_f")),
            "hub_f",
        )
        return new_hub.join(new_auth, "node").select("node", "hub_f", "auth_f")

    out = iterate(state0, step, iters)
    return out.select(
        "node", "hub_f", "auth_f",
        (F.col("hub_f").cast("double") / F.lit(float(scale))).alias("hub"),
        (F.col("auth_f").cast("double") / F.lit(float(scale))).alias("authority"),
    )


def kcore_subgraph(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_iters: int = 50,
) -> DataFrame:
    """The k-core: maximal subgraph where every vertex has degree >= k,
    by iterative peeling (standard graph-library operator; the gelly
    neighborhood machinery family). Returns the surviving edge list.

    Each round: one degree aggregation + two left-semi joins — all keyed
    shuffles, no quadratic stage; rounds needed = longest peel chain
    (small in practice: degeneracy ordering collapses most graphs in a
    handful of rounds). Peeling is monotone (edges only leave) and
    idempotent at the fixed point, which is what lets a bounded unrolled
    SQL replica hash-match the converged result. The convergence probe
    counts each new state once and carries the count to the next round.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    seed = edges.select(src, dst)

    def step(state: DataFrame, _i: int) -> DataFrame:
        deg = (
            state.select(F.col(src).alias("node"))
            .union(state.select(F.col(dst).alias("node")))
            .groupBy("node")
            .agg(F.count("*").alias("d"))
        )
        keep = deg.where(F.col("d") >= k).select("node")
        return state.join(
            keep.withColumnRenamed("node", src), src, "left_semi"
        ).join(keep.withColumnRenamed("node", dst), dst, "left_semi")

    prev_count: list[int] = []

    def converged(prev: DataFrame, new: DataFrame) -> bool:
        if not prev_count:
            prev_count.append(prev.count())
        n = new.count()
        done = n == prev_count[-1]
        prev_count.append(n)
        return done

    return iterate(seed, step, max_iters, converged=converged)


#: symmetric edges one coreness block holds (2^23, about 8.4M). One
#: block reaches the global fixed point in one round, so the budget is
#: set to keep realistic graphs in one task: the densified sf1 graph
#: (4.7M symmetric edges) is one block.
CORENESS_BLOCK_EDGES = 1 << 23


def coreness_blocks(n_sym_edges: int) -> int:
    """Blocks for a coreness round over ``n_sym_edges`` symmetric edges."""
    return max(1, -(-n_sym_edges // CORENESS_BLOCK_EDGES))


def coreness(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iters: int = 100,
    on_round: Callable[[int, float], None] | None = None,
) -> DataFrame:
    """Vertex coreness (the k-core number of every vertex) -> (node,
    coreness), via the h-index fixed point (Lu et al., "The H-index of a
    network node", 2016): start from degrees, repeatedly replace each
    value with the h-index of the neighbors' values; the unique fixed
    point is the coreness. Pure integer arithmetic -> deterministic and
    hash-gateable; monotone non-increasing + idempotent, so a bounded
    unrolled SQL replica matches the converged result.

    Block-local h-index: nodes are hashed into ``coreness_blocks``
    blocks, sized from the exact symmetric edge count. Each round is one
    keyed shuffle that brings every node's adjacency, its own value and
    its neighbors' values to the node's block; a numpy grouped-map stage
    then iterates the h-index inside the block until the block stops
    changing, reading in-block neighbors' current values and keeping
    out-of-block neighbors' values from the start of the round.
    Asynchronous h-index updates that start from the degrees converge to
    the same coreness (Montresor et al., "Distributed k-Core
    Decomposition", IEEE TPDS 2013), so the result is exact for any
    block count. One block is the whole graph: its fixed point is the
    global one and the operator returns after one round, with no
    convergence probe. With more blocks a round's ``__changed`` flags
    feed a LIMIT-1 probe and the loop stops when no node changed.

    Rounds, not data, set the cost: each round pays the per-job
    scheduling floor. The synchronous h-index needed 7 rounds at sf0.01,
    21 at sf0.1 and 21 on the densified sf1 graph (4.7M symmetric edges;
    55 s on 4 cores, ``tools/coreness_probe.py``). One block does each
    in one round (sf1: 20 s with the edge build, 0.9 GB worker RSS).
    Hashed blocks save little, because the co-occurrence graph is
    dense: forced ~4/8/32 blocks took 15/19/20 rounds at sf0.1, and 5
    blocks on sf1 took 20 rounds (73 s). So the block budget keeps
    graphs in one block until one task cannot hold them. A celebrity
    vertex's adjacency is in one block, the same per-key skew bound as
    any keyed stage here.
    """
    # an edge with a null endpoint is no edge
    edges = edges.where(F.col(src).isNotNull() & F.col(dst).isNotNull())
    sym = edges.select(F.col(src).alias("node"), F.col(dst).alias("nbr")).union(
        edges.select(F.col(dst).alias("node"), F.col(src).alias("nbr"))
    )
    sym = sym.localCheckpoint()
    n_blocks = coreness_blocks(sym.count())
    block = F.lit(0) if n_blocks == 1 else F.pmod(F.hash("node"), F.lit(n_blocks))
    state0 = sym.groupBy("node").agg(F.count("*").alias("val"))
    node_type = sym.schema["node"].dataType.simpleString()
    out_schema = f"node {node_type}, val long, __changed boolean"

    def sweep_block(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np
        import pandas as pd

        me = pdf["__self"].to_numpy()
        node, nbr, nval = (pdf[c].to_numpy() for c in ("node", "nbr", "nval"))
        order = np.argsort(node[me])
        nodes, start = node[me][order], nval[me][order]
        # edges sorted by node once: every sweep then reads memory in order
        adj = np.flatnonzero(~me)
        adj = adj[np.argsort(node[adj], kind="stable")]
        own = np.searchsorted(nodes, node[adj])
        nbr, nval = nbr[adj], nval[adj]
        pos = np.minimum(np.searchsorted(nodes, nbr), len(nodes) - 1)
        inside = np.flatnonzero(nodes[pos] == nbr)
        pos = pos[inside]
        v = start.copy()
        top = int(max(nval.max(), v.max())) + 1  # values only fall
        while True:
            nval[inside] = v[pos]
            # values only fall, so h <= v: a node keeps v exactly when
            # at least v of its neighbors hold a value >= v
            ok = np.bincount(own, weights=nval >= v[own], minlength=len(nodes)) >= v
            if ok.all():
                break
            # re-rank only the failing nodes' edges: by node, value desc
            e = np.flatnonzero(~ok[own])
            e = e[np.argsort(own[e] * top - nval[e])]
            grp = own[e]
            heads = np.flatnonzero(np.r_[True, grp[1:] != grp[:-1]])
            rank = np.arange(1, len(e) + 1) - np.repeat(heads, np.diff(np.r_[heads, len(e)]))
            v[grp[heads]] = np.maximum.reduceat(np.minimum(rank, nval[e]), heads)
        return pd.DataFrame({"node": nodes, "val": v, "__changed": v != start})

    def step(state: DataFrame, _i: int) -> DataFrame:
        # each node's own value rides the shuffle as one __self row, so
        # the plan reads state once. A second join on state squared the
        # plan's size estimate every round (a checkpoint keeps its
        # origin's statistics): its BigInt product took 17 s of round 20
        # in a 32-block run at sf0.1.
        adj = sym.join(
            state.select(F.col("node").alias("nbr"), F.col("val").alias("nval")), "nbr"
        ).select("node", "nbr", "nval", F.lit(False).alias("__self"))
        me = state.select(
            "node", F.col("node").alias("nbr"), F.col("val").alias("nval"),
            F.lit(True).alias("__self"),
        )
        return (
            adj.union(me)
            .withColumn("__blk", block)
            .groupBy("__blk")
            .applyInPandas(sweep_block, out_schema)
        )

    def converged(_prev: DataFrame, new: DataFrame) -> bool:
        return new.where(F.col("__changed")).isEmpty()

    one_block = n_blocks == 1
    out = iterate(
        state0, step, min(max_iters, 1) if one_block else max_iters,
        converged=None if one_block else converged, on_round=on_round,
    )
    return out.select("node", F.col("val").alias("coreness"))


def graph_metrics(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Whole-graph vertex/edge metrics in ONE pass (gelly
    library/metric/undirected/VertexMetrics.java:116-123): vertex count,
    edge count, average degree, triplet count (sum of deg·(deg-1)/2 —
    the open-wedge denominator of the global clustering coefficient),
    maximum degree, maximum per-vertex triplets, and density. Input is
    the canonical undirected edge list (each edge once).

    Two keyed shuffles (degree agg, then a single global agg) — the
    global agg is a partial-aggregated single row, no collect."""
    deg = (
        edges.select(F.col(src).alias("node"))
        .union(edges.select(F.col(dst).alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    trip = (F.col("d") * (F.col("d") - 1) / 2).cast("long")
    return deg.agg(
        F.count("*").alias("vertex_count"),
        (F.sum("d") / 2).cast("long").alias("edge_count"),
        (F.sum("d") / F.count("*")).alias("avg_degree"),
        F.sum(trip).alias("triplet_count"),
        F.max("d").alias("max_degree"),
        F.max(trip).alias("max_triplets"),
        (
            F.sum("d").cast("double")
            / (F.count("*") * (F.count("*") - F.lit(1)))
        ).alias("density"),
    )


def summarize_graph(
    vertices: DataFrame,
    edges: DataFrame,
    node: str = "node",
    value: str = "value",
    src: str = "src",
    dst: str = "dst",
) -> tuple[DataFrame, DataFrame]:
    """Graph summarization (gelly library/Summarization.java): condense
    vertices sharing a value into one super-vertex (represented by the
    group's minimum id, with the member count) and edges into
    group-to-group super-edges with edge counts.

    -> (super_vertices(group_value, repr_id, n_members),
        super_edges(src_value, dst_value, n_edges)).

    One agg for groups + two value-lookup joins for edges — a vertex
    value held by billions of nodes is a big GROUP, not a big partition
    problem: every stage is a keyed partial agg."""
    sv = vertices.groupBy(F.col(value).alias("group_value")).agg(
        F.min(node).alias("repr_id"), F.count("*").alias("n_members")
    )
    vmap = vertices.select(F.col(node), F.col(value))
    se = (
        edges.join(
            vmap.select(F.col(node).alias(src), F.col(value).alias("src_value")), src
        )
        .join(
            vmap.select(F.col(node).alias(dst), F.col(value).alias("dst_value")), dst
        )
        .groupBy("src_value", "dst_value")
        .agg(F.count("*").alias("n_edges"))
    )
    return sv, se


def scatter_gather(
    vertices: DataFrame,
    edges: DataFrame,
    message: Column,
    combine: Callable[[Column], Column],
    update: Callable[[Column, Column], Column],
    max_iters: int = 20,
    id_col: str = "node",
    val_col: str = "value",
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Scatter-gather / Pregel-style vertex-centric iteration — the
    gelly iteration models (flink-gelly spargel/ScatterGatherIteration.
    java:78 and pregel/VertexCentricIteration.java) as a declarative
    Spark operator. Each superstep:

    - SCATTER: every edge carries ``message`` (a Column over the
      src-vertex ⋈ edge frame: vertex ``value`` + edge attrs visible)
      to its destination;
    - GATHER: per-vertex inbox reduced by ``combine`` (e.g. ``F.min``)
      — Pregel's MessageCombiner, applied as a partial agg;
    - UPDATE: ``update(old_value, combined_msg)`` (combined_msg NULL
      when no messages arrived — Flink's "no update" case: return the
      old value).

    Halts when no vertex value changed (Flink halts when no vertex
    calls setNewVertexValue) or at ``max_iters``. Each superstep is one
    join on src + one keyed agg + one join on id — the same shuffle
    shape as pagerank here; no driver-side data motion beyond the
    convergence count.
    """
    seed = vertices.select(F.col(id_col), F.col(val_col))

    def step(state: DataFrame, _i: int) -> DataFrame:
        msgs = (
            state.join(edges, state[id_col] == edges[src])
            .select(F.col(dst).alias(id_col), message.alias("__msg"))
        )
        inbox = msgs.groupBy(id_col).agg(combine(F.col("__msg")).alias("__msg"))
        return state.join(inbox, id_col, "left").select(
            F.col(id_col),
            update(F.col(val_col), F.col("__msg")).alias(val_col),
        )

    def changed(prev: DataFrame, new: DataFrame) -> bool:
        return (
            prev.withColumnRenamed(val_col, "__pv")
            .join(new, id_col)
            .where(
                ~F.col("__pv").eqNullSafe(F.col(val_col))
            )
            .count()
            == 0
        )

    return iterate(seed, step, max_iters, converged=changed)


pregel = scatter_gather  # VertexCentricIteration: same compile here
# Gather-sum-apply (gelly gsa/GatherSumApplyIteration.java) also
# collapses to this compile: gather = the per-edge message expression,
# sum = the combiner aggregate, apply = the update function. All three
# reference iteration models are one declarative join-agg-update round.
gsa_iteration = scatter_gather


def community_detection(
    edges: DataFrame,
    rounds: int = 3,
    delta: float = 0.5,
    src: str = "src",
    dst: str = "dst",
    scale: int = 1_000_000,
) -> DataFrame:
    """Community detection with hop attenuation (gelly library/
    CommunityDetection.java, Leung et al. arXiv:0808.2633): vertices
    carry (label, score); each superstep every vertex receives
    neighbors' (label, score), adopts the label with the highest SUMMED
    score (smallest label on ties — the reference's TreeMap order with
    strict `>`), re-scores it to the highest SINGLE received score of
    that label, minus delta/superstep when the label changed. Vertices
    with no inbox keep their value.

    Scores are fixed-point integers (``scale``): integer sums/maxes are
    partition-order-independent, so the full iterative computation is
    bit-exact and hash-gateable (the pagerank_fixed/HITS device).
    Each superstep: one message join + one (node,label) agg + one
    per-node window pick — keyed shuffles only.

    -> (node, label) after ``rounds`` supersteps.
    """
    from pyspark.sql import Window as W

    sym = edges.select(F.col(src).alias("node"), F.col(dst).alias("nbr")).union(
        edges.select(F.col(dst).alias("node"), F.col(src).alias("nbr"))
    ).localCheckpoint()
    nodes = sym.select("node").distinct()
    state = nodes.select(
        "node", F.col("node").alias("label"), F.lit(int(scale)).alias("score_f")
    )

    def step(st: DataFrame, i: int) -> DataFrame:
        superstep = i + 1  # Flink supersteps are 1-based
        att = int(round(delta / superstep * scale))
        msgs = sym.join(
            st.select(F.col("node").alias("nbr"), "label", "score_f"), "nbr"
        ).select("node", "label", "score_f")
        per_label = msgs.groupBy("node", "label").agg(
            F.sum("score_f").alias("tot"), F.max("score_f").alias("hi")
        )
        pick = per_label.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("node").orderBy(F.desc("tot"), F.asc("label"))
            ),
        ).where(F.col("rn") == 1)
        old = st.select(
            "node", F.col("label").alias("old_label"), F.col("score_f").alias("old_score")
        )
        return old.join(pick, "node", "left").select(
            "node",
            F.coalesce("label", "old_label").alias("label"),
            F.when(F.col("label").isNull(), F.col("old_score"))
            .otherwise(
                F.col("hi")
                - F.when(F.col("label") != F.col("old_label"), F.lit(att)).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("score_f"),
        )

    out = iterate(state, step, rounds)
    return out.select("node", "label")


def iterate_delta(
    solution: DataFrame,
    workset: DataFrame,
    step: Callable[[DataFrame, DataFrame, int], tuple[DataFrame, DataFrame]],
    max_iters: int,
) -> DataFrame:
    """Delta iteration — Flink ``DataSet.iterateDelta`` (flink-java
    DataSet.java / DeltaIteration.java): carry a full *solution set*
    plus a shrinking *workset*; each round recomputes only what the
    workset reaches and terminates when the workset is empty. This is
    the reference's flagship batch-iteration optimization (bulk
    iterations recompute everything every round).

    ``step(solution, workset, i) -> (new_solution, new_workset)``.
    Both sides are localCheckpoint()ed per round; the only per-round
    action is the workset emptiness probe (a LIMIT-1 scan on the
    checkpointed workset, not a full count)."""
    solution = solution.localCheckpoint()
    workset = workset.localCheckpoint()
    for i in range(max_iters):
        if workset.isEmpty():
            break
        solution, workset = step(solution, workset, i)
        solution = solution.localCheckpoint()
        workset = workset.localCheckpoint()
    return solution


def bipartite_projection(
    edges: DataFrame,
    side: str = "top",
    top: str = "top",
    bottom: str = "bottom",
    count_shared: bool = True,
) -> DataFrame:
    """Bipartite graph projection (gelly bipartite/BipartiteGraph.java:
    130/182 ``projectionTopSimple``/``projectionBottomSimple``): connect
    two same-side vertices whenever they share an opposite-side
    neighbor. Canonical output (``u < v``); ``count_shared`` adds the
    number of shared opposite vertices (the *Full* projections' payload
    reduced to its count — intermediate-vertex lists don't scale).

    One self-join keyed on the opposite side + one agg. The skew bound
    is the largest opposite-side group (pairs are quadratic in THAT
    group only) — a production projection caps or samples oversized
    groups exactly like llm/dedup's LSH hot-bucket cap; this operator
    is the uncapped exact form its callers compose with a cap upstream.
    """
    if side not in ("top", "bottom"):
        raise ValueError(f"side must be 'top' or 'bottom', got {side!r}")
    keep, joink = (top, bottom) if side == "top" else (bottom, top)
    a = edges.select(F.col(joink).alias("__k"), F.col(keep).alias("u")).distinct()
    b = a.select("__k", F.col("u").alias("v"))
    pairs = a.join(b, "__k").where(F.col("u") < F.col("v"))
    if not count_shared:
        return pairs.select("u", "v").distinct()
    return pairs.groupBy("u", "v").agg(F.count("*").alias("n_shared"))
