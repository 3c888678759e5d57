"""Iterative graph analytics as chained declarative plans.

The reference runs iterative algorithms as operation CHAINS — each
iteration one MapReduce pass over the cluster, the controller re-submits
until convergence (controller_agent/controllers, vanilla+map_reduce
composition). The Spark-first expression is the same shape without the
controller: each iteration is a join + aggregate on the edge list, and
Catalyst/AQE plan every pass; nothing iterates driver-side except the
loop counter (the model decision, not data).

``pagerank`` — fixed-iteration damped PageRank over a weighted edge
list. Per iteration: contributions = ranks ⋈ edges (equi-join on src,
both sides partitioned by src), then a sum-by-dst aggregate. Two
shuffles per iteration at any scale, dominated by the edge list — the
canonical distributed PageRank plan. Dangling mass (nodes without
out-edges) redistributes uniformly, so total rank stays 1.

Every loop runs through ``operators.iterate``, which owns its rounds."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ytsaurus_spark.operators import iterate, materialize

__all__ = ["pagerank", "connected_components", "triangle_count", "bfs_layers"]


def pagerank(
    edges: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Damped PageRank with ``iterations`` synchronous passes over
    ``edges`` (columns src, dst; parallel edges act as weight). Returns
    (node, rank). Deterministic: fixed iteration count, uniform init.

    The static inputs — edge list, node set, out-degrees — are persisted
    before the loop: without that, every iteration's lazy plan re-derives
    them from source (the round-6 audit measured 6 fact scans for 3
    iterations). Caching the invariant edge list is the canonical
    distributed-PageRank move (it is exactly what GraphX/Pregel do); at
    100 TB the memory-and-disk columnar cache of (src, dst) is the price
    of ONE materialization versus one corpus read per iteration per
    consumer.

    Parallel edges pre-aggregate to one (src, dst, multiplicity) row
    before the loop, so every iteration's join + aggregate runs over
    DISTINCT pairs (a token co-occurrence graph collapses ~1000×;
    out-degrees stay exact integers as Σ multiplicity). The received
    mass becomes Σ w·(rank/deg) instead of a w-fold repeated addition —
    last-ulp-equivalent double math, absorbed by the same 1e-6 output
    rounding that already covers engine summation order."""
    # The invariant edge list persists PRE-PARTITIONED on src — the key
    # every iteration's ranks⋈edges equi-join requires — so the
    # edge-scale exchange happens once at build instead of once per pass
    # (guide §2.4: operations keyed the same way share one exchange; the
    # cached REPARTITION_BY_COL partitioning satisfies the join's
    # ClusteredDistribution, verified in the executed plan). The
    # multiplicity groupBy's own hash(src, dst) cache would NOT satisfy a
    # join on src alone. The width is byte-derived (keyed_cache_width):
    # an unpinned repartition(col) fixes the cache at the session shuffle
    # width where AQE cannot coalesce it, and every iteration inherits
    # that width. ``nodes`` needs no repartition: distinct() on node
    # already leaves the cache hash(node)-partitioned, which the
    # per-pass nodes⋈contrib join reuses as-is.
    from ytsaurus_spark.operators import keyed_cache_width

    width = keyed_cache_width(edges)
    edges = (
        edges.groupBy(src_col, dst_col)
        .agg(F.count(F.lit(1)).alias("__w"))
        .repartition(width, F.col(src_col))
        .transform(materialize)
    )
    nodes = (
        edges.select(F.col(src_col).alias("node"))
        .union(edges.select(F.col(dst_col).alias("node")))
        .distinct()
        .transform(materialize)
    )
    n_nodes = nodes.agg(F.count(F.lit(1)).alias("n"))
    # out-degree (parallel edges counted) per source
    outdeg = edges.groupBy(F.col(src_col).alias("node")).agg(
        F.sum("__w").alias("deg")
    ).transform(materialize)
    ranks = nodes.crossJoin(F.broadcast(n_nodes)).select(
        "node", (F.lit(1.0) / F.col("n")).alias("rank")
    )

    def step(ranks):
        with_deg = ranks.join(outdeg, "node", "left")
        # mass sent along edges by nodes that have out-edges
        contrib = (
            with_deg.filter(F.col("deg").isNotNull())
            .join(edges, F.col("node") == F.col(src_col))
            .groupBy(F.col(dst_col).alias("node"))
            .agg(
                F.sum(F.col("__w") * (F.col("rank") / F.col("deg"))).alias(
                    "recv"
                )
            )
        )
        # dangling mass redistributes uniformly
        dangling = (
            with_deg.filter(F.col("deg").isNull())
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm"))
        )
        return (
            nodes.join(contrib, "node", "left")
            .crossJoin(F.broadcast(n_nodes))
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                (
                    (1.0 - damping) / F.col("n")
                    + damping
                    * (F.coalesce(F.col("recv"), F.lit(0.0)) + F.col("dm") / F.col("n"))
                ).alias("rank"),
            )
        )

    return iterate(ranks, step, iterations)


def _symmetrize(edges: DataFrame, src_col: str, dst_col: str) -> DataFrame:
    """Undirected adjacency (u, v) in ONE pass over the edge list
    (explode of both directions rather than a union of two reads —
    halves the source scans), deduplicated and persisted for reuse
    across propagation rounds."""
    from ytsaurus_spark.operators import keyed_cache_width

    width = keyed_cache_width(edges)
    return (
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col(src_col).alias("u"), F.col(dst_col).alias("v")),
                    F.struct(F.col(dst_col).alias("u"), F.col(src_col).alias("v")),
                )
            ).alias("e")
        )
        .select("e.u", "e.v")
        .distinct()
        # persist pre-partitioned on u — the key every propagation round
        # joins on — so the edge-scale exchange happens once at build, not
        # once per round (guide §2.4); width byte-derived so the cache
        # stays as narrow as AQE would have made a plain persist
        .repartition(width, F.col("u"))
        .transform(materialize)
    )


def connected_components(
    edges: DataFrame,
    iterations: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
    converge: bool = False,
) -> DataFrame:
    """Min-label propagation over an undirected edge list: after round t
    every node carries the minimum node id within t hops, so with enough
    rounds the label is the component minimum — the standard distributed
    connected-components recurrence (the reference would run it as a
    controller-resubmitted MapReduce chain, controller_agent/controllers).

    Returns (node, comp). With ``converge=False`` (default) exactly
    ``iterations`` synchronous rounds run — a deterministic, bounded plan
    whose result ("min id within k hops") an oracle can unroll as k CTEs.
    With ``converge=True`` the loop continues until a round changes no
    label (checked via a single scalar aggregate per round — the bounded
    coordinator decision, not a data collect), yielding true components.

    Scale shape: the symmetrized edge list and the per-round label table
    are both key-partitioned on node; each round is ONE equi-join plus
    ONE min-aggregate — two shuffles over |V| + |E| rows, never pairs.
    The edge list is persisted once and reused every round."""
    sym = _symmetrize(edges, src_col, dst_col)
    labels = (
        sym.select(F.col("u").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("comp"))
        .transform(materialize)
    )

    def step(labels):
        return (
            labels.select("node", "comp")
            .union(
                sym.join(labels, sym.u == labels.node)
                .select(F.col("v").alias("node"), F.col("comp"))
            )
            .groupBy("node")
            .agg(F.min("comp").alias("comp"))
        )

    if not converge:
        return iterate(labels, step, iterations)

    def unchanged(new, old):
        return (
            new.join(old.withColumnRenamed("comp", "old"), "node")
            .filter(F.col("comp") != F.col("old"))
            .count()
        ) == 0

    # the cap must exceed the graph diameter (min-label propagation needs
    # ~diameter rounds); iterate raises rather than return a k-hop minimum
    return iterate(labels, step, max(iterations, 64), until=unchanged)


def triangle_count(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Per-node triangle membership counts over an undirected graph.

    Canonicalizes each edge to (lo, hi) by degree order — every edge is
    oriented from its lower-(degree, id) endpoint to the higher one, the
    classic orientation that bounds any node's out-degree by O(sqrt(m))
    and therefore the wedge join's intermediate size by O(m^1.5) even on
    power-law graphs (a raw id-orientation lets one hub node generate
    deg² wedges). Triangles are then wedges (a→b, b→c) closed by a third
    oriented edge (a→c): two self-equi-joins on the oriented list — the
    canonical distributed triangle plan. Returns (node, n_tri) for every
    node in at least one triangle; each triangle credits all 3 corners."""
    und = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("a"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .transform(materialize)  # referenced 3× below (directly + twice via deg)
    )
    deg = (
        und.select(F.explode(F.array("a", "b")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # orient: from lower (deg, id) to higher (deg, id)
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("deg_b"))
    oriented = (
        und.join(da, "a")
        .join(db, "b")
        .select(
            F.when(
                (F.col("deg_a") < F.col("deg_b"))
                | ((F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("u"), F.col("b").alias("v")),
            )
            .otherwise(F.struct(F.col("b").alias("u"), F.col("a").alias("v")))
            .alias("e")
        )
        .select("e.u", "e.v")
        .transform(materialize)
    )
    e1 = oriented.select(F.col("u").alias("x"), F.col("v").alias("y"))
    e2 = oriented.select(F.col("u").alias("y"), F.col("v").alias("z"))
    e3 = oriented.select(F.col("u").alias("x2"), F.col("v").alias("z2"))
    tri = (
        e1.join(e2, "y")
        .join(e3, (F.col("x") == F.col("x2")) & (F.col("z") == F.col("z2")))
        .select("x", "y", "z")
    )
    corners = tri.select(F.explode(F.array("x", "y", "z")).alias("node"))
    return corners.groupBy("node").agg(F.count(F.lit(1)).alias("n_tri"))


def bfs_layers(
    edges: DataFrame,
    sources: DataFrame,
    rounds: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Multi-source BFS hop layers: (node, dist) where dist is the
    minimum hop count from any source node, bounded at ``rounds`` hops
    (unreached nodes are absent). The min-plus twin of
    ``connected_components``: each synchronous round relaxes
    dist' = min(dist, 1 + min over neighbors' dist) with one node-keyed
    equi-join + one min-aggregate — |V|+|E| rows shuffled per round.
    The frontier-expansion primitive for reachability / impact-radius
    queries; a fixed round count keeps the plan bounded and lets an
    oracle unroll the identical recurrence (a convergence loop would
    need per-round lineage truncation, see connected_components)."""
    sym = _symmetrize(edges, src_col, dst_col)
    return _min_plus_rounds(sym, sources, rounds, F.col("dist") + F.lit(1))


def _min_plus_rounds(sym, sources, rounds: int, step_col) -> DataFrame:
    """Shared bounded min-plus relaxation loop behind ``bfs_layers``
    (step_col = dist + 1) and ``sssp_weighted`` (step_col = dist + w):
    each synchronous round is one node-keyed equi-join + one
    min-aggregate over the persisted adjacency ``sym`` (columns u, v, and
    whatever ``step_col`` references), |V|+|E| rows per round."""
    dist = sources.select(F.col(sources.columns[0]).alias("node")).distinct().select(
        "node", F.lit(0).cast("long").alias("dist")
    ).transform(materialize)

    def step(dist):
        return (
            dist.select("node", "dist")
            .union(
                sym.join(dist, sym.u == dist.node)
                .select(F.col("v").alias("node"), step_col.cast("long").alias("dist"))
            )
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )

    return iterate(dist, step, rounds)


def sssp_weighted(
    edges: DataFrame,
    sources: DataFrame,
    rounds: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
    w_col: str = "w",
) -> DataFrame:
    """Bounded Bellman–Ford: (node, dist) where dist is the minimum
    WEIGHTED path cost from any source reachable within ``rounds``
    relaxations (unreached nodes absent). The weighted generalization of
    ``bfs_layers`` — each synchronous round relaxes
    dist' = min(dist, min over incident edges (dist[u] + w)) with one
    node-keyed equi-join + one min-aggregate, |V|+|E| rows per round.
    Integer weights keep every distance an exact BIGINT, so the result
    is engine-exact; a fixed round count bounds the plan and lets an
    oracle unroll the identical recurrence. Treats edges as undirected
    (symmetrized in one explode pass, weight carried both ways); the
    static adjacency persists across rounds like pagerank's edge list."""
    from ytsaurus_spark.operators import keyed_cache_width

    sym = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(src_col).alias("u"),
                        F.col(dst_col).alias("v"),
                        F.col(w_col).alias("w"),
                    ),
                    F.struct(
                        F.col(dst_col).alias("u"),
                        F.col(src_col).alias("v"),
                        F.col(w_col).alias("w"),
                    ),
                )
            ).alias("e")
        )
        .select("e.u", "e.v", "e.w")
        # pre-partition on u like _symmetrize: every relaxation round
        # joins on u, so the edge-scale exchange happens once at build
        .repartition(keyed_cache_width(edges), F.col("u"))
        .transform(materialize)
    )
    return _min_plus_rounds(sym, sources, rounds, F.col("dist") + F.col("w"))


def label_propagation(
    edges: DataFrame,
    iterations: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan et
    al.) over an undirected edge list: every node starts as its own
    community; each round a node adopts the most frequent label among
    its neighbors, ties broken by the smallest label — fully
    deterministic, unlike the classic randomized-order variant, so an
    oracle can unroll the exact ``iterations`` rounds as CTEs.

    Scale shape: each round is one node-keyed equi-join (neighbor
    labels), one (node, label) count aggregate (partial-agged), and one
    argmax window PARTITIONED on node whose partition size is the
    node's distinct-neighbor-label count — bounded by degree, never
    global. The symmetrized edge list is persisted once and reused
    every round. Returns (node, label)."""
    sym = _symmetrize(edges, src_col, dst_col)
    labels = (
        sym.select(F.col("u").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
        .transform(materialize)
    )
    pick_w = Window.partitionBy("node").orderBy(
        F.col("c").desc(), F.col("label")
    )

    def step(labels):
        return (
            sym.join(labels, sym.u == labels.node)
            .select(F.col("v").alias("node"), "label")
            .groupBy("node", "label")
            .agg(F.count(F.lit(1)).alias("c"))
            .withColumn("__rk", F.row_number().over(pick_w))
            .filter(F.col("__rk") == 1)
            .select("node", "label")
        )

    return iterate(labels, step, iterations)


def jaccard_link_prediction(
    edges: DataFrame,
    min_common: int = 2,
    max_degree: int | None = None,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Neighbor-set Jaccard link prediction over an undirected graph:
    for every ABSENT edge (u, v) with at least ``min_common`` common
    neighbors, score |N(u) ∩ N(v)| / |N(u) ∪ N(v)| — the classic
    common-neighbors candidate generator for recommendations and
    entity-resolution blocking.

    Shape: candidates come from ONE wedge self-join on the shared
    neighbor (never an all-pairs product) — each intermediate node w
    emits its neighbor pairs, so the exchange carries Σ_w deg(w)²/2
    wedges, partial-agged into (u, v, common) counts. Existing edges
    leave via a broadcast-able anti-join on the canonical (lo, hi) key.
    The intersection count, degrees, and union size are exact BIGINTs;
    Jaccard takes one half-up floor at 1e−6. Σdeg² is the true
    candidate-set size of this metric; on power-law graphs pass
    ``max_degree`` to drop hub intermediaries (the standard blocking
    cap — documented approximation: common neighbors are then counted
    through non-hub nodes only).

    Returns (src, dst, common, deg_src, deg_dst, jaccard), src < dst."""
    und = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("a"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .transform(materialize)  # consumed by sym (twice via union) and the anti-join
    )
    sym = und.select(
        F.col("a").alias("w"), F.col("b").alias("n")
    ).unionAll(und.select(F.col("b").alias("w"), F.col("a").alias("n")))
    deg = sym.groupBy(F.col("w").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )
    hubs = sym
    if max_degree is not None:
        hubs = sym.join(
            deg.filter(F.col("deg") <= max_degree).select(
                F.col("node").alias("w")
            ),
            "w",
        )
    lhs = hubs.select("w", F.col("n").alias("u"))
    rhs = hubs.select("w", F.col("n").alias("v"))
    wedges = (
        lhs.join(rhs, "w")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("common"))
        .filter(F.col("common") >= min_common)
    )
    cand = wedges.join(
        und,
        (F.col("u") == F.col("a")) & (F.col("v") == F.col("b")),
        "left_anti",
    )
    da = deg.select(F.col("node").alias("u"), F.col("deg").alias("deg_src"))
    db = deg.select(F.col("node").alias("v"), F.col("deg").alias("deg_dst"))
    out = cand.join(da, "u").join(db, "v")
    union_sz = F.col("deg_src") + F.col("deg_dst") - F.col("common")
    return out.select(
        F.col("u").alias("src"),
        F.col("v").alias("dst"),
        "common",
        "deg_src",
        "deg_dst",
        (
            F.floor(
                F.col("common").cast("double")
                * 1e6
                / union_sz.cast("double")
                + F.lit(0.5)
            ).cast("long")
            / F.lit(1e6)
        ).alias("jaccard"),
    )


def kcore(
    edges: DataFrame,
    k: int = 3,
    rounds: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Bounded-round k-core peeling over an undirected graph: each
    synchronous round removes every node whose degree within the
    surviving subgraph is below ``k``; after ``rounds`` rounds the
    remaining nodes approximate the k-core from above (exactly the
    k-core once a round removes nothing — same bounded-round semantics
    as connected_components, so a fixed unroll is oracle-matchable).

    Per round: ONE node-keyed equi-join of the symmetric edge list
    against the alive set (both endpoints must survive) + one count
    aggregate — |E|+|V| rows per round, never materializing the induced
    subgraph. The symmetric edge list persists once.

    Returns (node, deg) for nodes alive after ``rounds`` peels; deg is
    measured in the last peel's input subgraph (the round-``rounds``
    degree that justified keeping the node), matching the unrolled
    oracle CTEs round for round."""
    if rounds < 1:
        raise ValueError(f"kcore requires rounds >= 1, got {rounds}")
    sym = _symmetrize(edges, src_col, dst_col)

    def step(alive):
        au = alive.select(F.col("node").alias("u"))
        av = alive.select(F.col("node").alias("v"))
        return (
            sym.join(au, "u")
            .join(av, "v")
            .groupBy(F.col("u").alias("node"))
            .agg(F.count(F.lit(1)).cast("long").alias("deg"))
            .filter(F.col("deg") >= k)
        )

    alive = sym.select(F.col("u").alias("node")).distinct()
    return iterate(alive, step, rounds).select("node", "deg")


def modularity(
    edges: DataFrame,
    communities: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    node_col: str = "node",
    label_col: str = "label",
) -> DataFrame:
    """Newman modularity of a community assignment over an undirected
    graph — the quality score that decides whether a community
    detection pass (e.g. label_propagation) found real structure:
    Q = Σ_c [L_c/m − (D_c/2m)²] with L_c the intra-community edge
    count, D_c the community degree sum, m the edge count.

    Exactness: everything scales through the identity
    Q·4m² = Σ_c (4m·L_c − D_c²), so each community's contribution is an
    exact BIGINT numerator and the single half-up floor happens once on
    the global sum. Shape: ONE join of the (lo, hi) edge list against
    the broadcast-able community map on each endpoint (two keyed joins)
    + label-grain aggregates; no pair enumeration beyond the edges
    themselves.

    Returns one row per community
    (label, n_nodes, intra_edges, degree_sum, q_num) plus the constant
    global ``modularity`` column (q_num summed / 4m²)."""
    und = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("a"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .transform(materialize)  # edge count, intra join, and degrees share it
    )
    comm = communities.select(
        F.col(node_col).alias("__n"), F.col(label_col).alias("__lab")
    ).transform(materialize)
    m = und.agg(F.count(F.lit(1)).cast("long").alias("m"))
    ca = comm.select(F.col("__n").alias("a"), F.col("__lab").alias("lab_a"))
    cb = comm.select(F.col("__n").alias("b"), F.col("__lab").alias("lab_b"))
    intra = (
        und.join(ca, "a")
        .join(cb, "b")
        .filter(F.col("lab_a") == F.col("lab_b"))
        .groupBy(F.col("lab_a").alias("label"))
        .agg(F.count(F.lit(1)).cast("long").alias("intra_edges"))
    )
    deg = und.select(F.explode(F.array("a", "b")).alias("__n")).groupBy(
        "__n"
    ).agg(F.count(F.lit(1)).cast("long").alias("deg"))
    dsum = (
        comm.join(deg, "__n", "left")
        .groupBy(F.col("__lab").alias("label"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.sum(F.coalesce(F.col("deg"), F.lit(0)))
            .cast("long")
            .alias("degree_sum"),
        )
    )
    per = (
        dsum.join(intra, "label", "left")
        .withColumn(
            "intra_edges", F.coalesce(F.col("intra_edges"), F.lit(0)).cast("long")
        )
        .crossJoin(F.broadcast(m))
        .withColumn(
            "q_num",
            (
                4 * F.col("m") * F.col("intra_edges")
                - F.col("degree_sum") * F.col("degree_sum")
            ).cast("long"),
        )
        .transform(materialize)  # the global Q and the per-community rows share it
    )
    tot = per.agg(
        F.sum("q_num").cast("long").alias("qn"),
        F.first("m").alias("mm"),
    )
    return (
        per.join(F.broadcast(tot))
        .select(
            "label",
            "n_nodes",
            "intra_edges",
            "degree_sum",
            "q_num",
            (
                F.floor(
                    F.col("qn").cast("double")
                    * 1e6
                    / (4 * F.col("mm") * F.col("mm")).cast("double")
                    + F.lit(0.5)
                ).cast("long")
                / F.lit(1e6)
            ).alias("modularity"),
        )
        .orderBy("label")
    )


def assortativity(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Degree assortativity coefficient: the Pearson correlation of the
    endpoint degrees over all edge stubs — positive means hubs attach
    to hubs (social-graph shape), negative means hubs attach to leaves
    (star/bipartite shape). The one-number structural fingerprint next
    to modularity.

    Exactness: over the 2m directed stubs, the moment sums Σx, Σxx,
    Σxy of the (deg_u, deg_v) pairs are exact BIGINTs (symmetric, so
    Σy = Σx and Σyy = Σxx), and r combines them in one fixed double op
    chain with a single half-up floor. Shape: degrees from one
    aggregate of the persisted symmetric list, joined back onto the
    stubs by each endpoint (two keyed joins), one moment aggregate.

    Returns one row: (n_edges, r)."""
    sym = _symmetrize(edges, src_col, dst_col)
    deg = sym.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("dx"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("dy"))
    mo = (
        sym.join(du, "u")
        .join(dv, "v")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n2"),
            F.sum("dx").cast("long").alias("sx"),
            F.sum(F.col("dx") * F.col("dx")).cast("long").alias("sxx"),
            F.sum(F.col("dx") * F.col("dy")).cast("long").alias("sxy"),
        )
    )
    num = F.col("n2").cast("double") * F.col("sxy").cast("double") - F.col(
        "sx"
    ).cast("double") * F.col("sx").cast("double")
    den = F.col("n2").cast("double") * F.col("sxx").cast("double") - F.col(
        "sx"
    ).cast("double") * F.col("sx").cast("double")
    return mo.select(
        (F.col("n2") / 2).cast("long").alias("n_edges"),
        # regular graphs (all endpoint degrees equal) have zero degree
        # variance — r is undefined, not NaN; same guard discipline as
        # clustering_coefficient's w == 0 branch
        F.when(
            den == 0, F.lit(None).cast("double")
        ).otherwise(
            F.floor(num / den * 1e6 + F.lit(0.5)).cast("long") / F.lit(1e6)
        ).alias("r"),
    )


def clustering_coefficient(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Global clustering coefficient (transitivity): C = 3·triangles /
    wedges — how often two neighbors of a node are themselves
    connected, the density fingerprint that separates community-rich
    graphs from random ones.

    Triangle counting reuses the degree-oriented wedge join (bounded
    O(m^1.5)); the wedge denominator is the exact Σ_v deg(v)·(deg(v)−1)/2
    from one degree aggregate. Both counts exact BIGINTs, one half-up
    floor. Returns one row: (n_triangles, n_wedges, coeff)."""
    tri = triangle_count(edges, src_col, dst_col)
    n_tri = tri.agg(
        (F.coalesce(F.sum("n_tri"), F.lit(0)) / 3).cast("long").alias("t")
    )
    sym = _symmetrize(edges, src_col, dst_col)
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    wedges = deg.agg(
        F.sum(F.col("deg") * (F.col("deg") - 1) / 2).cast("long").alias("w")
    )
    return (
        n_tri.crossJoin(F.broadcast(wedges))
        .select(
            F.col("t").alias("n_triangles"),
            F.col("w").alias("n_wedges"),
            F.when(F.col("w") == 0, F.lit(0).cast("long"))
            .otherwise(
                F.floor(
                    F.col("t").cast("double") * 3e6 / F.col("w").cast("double")
                    + F.lit(0.5)
                ).cast("long")
            )
            .alias("coeff_micros"),
        )
        .select(
            "n_triangles",
            "n_wedges",
            (F.col("coeff_micros") / F.lit(1e6)).alias("coeff"),
        )
    )
