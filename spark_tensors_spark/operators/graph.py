"""Distributed graph analytics over edge lists: triangle counting,
PageRank, k-core peeling, label propagation and their relatives — the
graph-shaped workloads a KG engine's users run next to link prediction
(degree analytics already live in `kg_salted_degree`).

Scale design
------------

**Triangle counting** uses the degree-orientation trick (Suri &
Vassilvitskii, "Counting Triangles and the Curse of the Last Reducer"):
orient every undirected edge from its lower-degree endpoint to its
higher-degree endpoint (ties by id), then count wedges closed by an
oriented edge.  Each node's oriented out-degree is O(sqrt(m)), so the
wedge join produces O(m^{3/2}) candidates total instead of
Σ deg² — the skew-proof plan (a celebrity node with 10M followers
contributes nothing to the wedge fan-out because its edges all point
*into* it).  Three shuffles: degree agg, wedge self-join, closing
semi-join — all equi-joins on node ids, AQE-splittable.

**PageRank** is the textbook power iteration expressed as join+agg per
round: contributions = ranks ⋈ out-edges grouped by destination.  Each
round is one shuffle keyed on the destination id; the rank frame is
``localCheckpoint``-ed so the plan stays O(1) deep across iterations
(the lesson from the join-merge trainer, ROUND_NOTES r2).  Dangling
nodes (no out-edges) keep the base (1-d)/N term only — the simplified
variant every fixed-iteration oracle can reproduce; rank mass is not
renormalized per round.

**k-core peeling and label propagation** are Pregel-style
message-passing rounds (Malewicz et al., SIGMOD 2010) over the directed
edge frame ``(x, y, state-of-y)``, both directions of every undirected
edge.  A round is one hash exchange on ``x`` and one window pass over
``x``'s rows, which reads the neighbors' states and computes x's new
one; the columns are then swapped so the next exchange carries x's
state to its partners.  The rounds chain lazily, with no per-round
aggregate, join, ``localCheckpoint`` or driver action: the whole loop is
one plan holding the input distinct, one exchange per round and (for
k-core) the final degree count, run by the caller's action.  The plan
grows by one window layer per round, linear like PageRank's, which is
cheap at the fixed round counts these operators take.

All operators take an explicit edge DataFrame, so any query-layer
graph (KG adjacency, co-occurrence, LSH candidate pairs) plugs in.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def undirect_edges(edges: DataFrame, src: str = "u", dst: str = "v") -> DataFrame:
    """Canonical undirected simple edges: (u < v), self-loops dropped,
    duplicates collapsed — the normal form both graph operators expect."""
    u, v = F.col(src), F.col(dst)
    return (
        edges.select(
            F.least(u, v).alias("u"), F.greatest(u, v).alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _messages(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Both directions of every undirected simple edge, as (x, y): the
    frame a message-passing round exchanges on ``x``."""
    u, v = F.col("u"), F.col("v")
    both = F.array(
        F.struct(u.alias("x"), v.alias("y")),
        F.struct(v.alias("x"), u.alias("y")),
    )
    return (
        undirect_edges(edges, src, dst)
        .select(F.explode(both).alias("m"))
        .select("m.x", "m.y")
    )


def _swap(rows: DataFrame, state: Column) -> DataFrame:
    """End of a round: reverse each edge so ``state``, computed for
    ``x``, travels to its partner on the next exchange."""
    return rows.select(F.col("y").alias("x"), F.col("x").alias("y"), state)


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle participation counts over an undirected simple
    graph: DataFrame(node, n_triangles), nodes in ≥1 triangle only.

    ``edges`` is normalized via :func:`undirect_edges` and materialized
    once — the degree agg, the orientation join, and the closing join
    all scan it.
    """
    e = undirect_edges(edges).localCheckpoint()

    deg = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )

    # orient a→b iff (deg(a), a) < (deg(b), b): the lower-degree endpoint
    # owns the edge, so out-degree is bounded by O(sqrt(m)).
    # Materialized once: both wedge sides reference it, and without a
    # barrier each side re-runs the degree aggregate + 2 joins.
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
    oriented = (
        e.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(
                (F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                F.struct(F.col("u").alias("a"), F.col("v").alias("b")),
            )
            .otherwise(
                F.struct(F.col("v").alias("a"), F.col("u").alias("b"))
            )
            .alias("e")
        )
        .select("e.a", "e.b")
        .localCheckpoint()
    )

    # wedges a→b, a→c (b < c so each unordered wedge appears once); the
    # closing edge b–c is canonical (b < c) by construction, so a plain
    # equi-join against the undirected edge list closes the triangle
    w1 = oriented.select(F.col("a"), F.col("b"))
    w2 = oriented.select(F.col("a"), F.col("b").alias("c"))
    wedges = w1.join(w2, "a").filter(F.col("b") < F.col("c"))
    triangles = wedges.join(
        e.select(F.col("u").alias("b"), F.col("v").alias("c")),
        ["b", "c"],
    )

    # one pass over the triangle join, not three: a 3-way union of the
    # same frame re-runs the whole wedge-join subtree per branch
    per_corner = triangles.select(
        F.explode(F.array("a", "b", "c")).alias("node")
    )
    return per_corner.groupBy("node").agg(
        F.count(F.lit(1)).alias("n_triangles")
    )


def pagerank(
    edges: DataFrame,
    src: str = "s",
    dst: str = "d",
    iterations: int = 5,
    damping: float = 0.85,
    checkpoint_every: int = 3,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list (duplicates
    collapsed): DataFrame(node, rank) over all nodes appearing as source
    or destination.  ``rank`` sums contributions only (dangling mass is
    not redistributed), matching the unrolled-SQL oracle form.
    """
    # pre-partition the loop-invariant frames on their join keys: the
    # materialized (localCheckpoint) hash partitioning is reused by
    # every iteration's joins, so the per-round exchanges reduce to the
    # single contribution shuffle — the difference between 2-3 shuffles
    # ×iterations and 1
    e = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .distinct()
        .repartition("s")
        .localCheckpoint()
    )
    nodes = e.select(F.col("s").alias("node")).unionByName(
        e.select(F.col("d").alias("node"))
    ).distinct()
    outdeg = e.groupBy(F.col("s").alias("node")).agg(
        F.count(F.lit(1)).alias("outdeg")
    )
    base = (
        nodes.join(outdeg, "node", "left")
        .repartition("node")
        .localCheckpoint()
    )
    n = base.count()

    ranks = base.select("node", "outdeg", F.lit(1.0 / n).alias("rank"))
    for i in range(iterations):
        contrib = (
            ranks.filter(F.col("outdeg").isNotNull())
            .join(e, ranks.node == e.s)
            .groupBy(F.col("d").alias("node"))
            .agg(F.sum(F.col("rank") / F.col("outdeg")).alias("inflow"))
        )
        ranks = base.join(contrib, "node", "left").select(
            "node",
            "outdeg",
            (
                F.lit((1.0 - damping) / n)
                + F.lit(damping) * F.coalesce("inflow", F.lit(0.0))
            ).alias("rank"),
        )
        # plan growth per round is LINEAR (one join+agg layer), so a
        # materialization barrier every few rounds is enough to keep
        # Catalyst costs flat without paying a job per iteration — the
        # exponential-plan hazard of self-referential updates
        # (ROUND_NOTES r2) does not apply here
        if (i + 1) % checkpoint_every == 0 and i + 1 < iterations:
            ranks = ranks.localCheckpoint()
    return ranks.select("node", "rank")


def label_propagation(
    edges: DataFrame, iterations: int = 3, src: str = "u", dst: str = "v"
) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan
    et al. 2007): every node starts as its own label; each round it
    adopts the most frequent label among its neighbors, ties broken by
    the smallest label — a fully deterministic variant (the classic
    random-order LPA is not reproducible across engines; fixed-point
    synchronous rounds with an integer-count argmax are).

    Runs as message-passing rounds over the directed edge frame
    ``(x, y, lab)``, ``lab`` = the current label of ``y`` (see the
    module's "Scale design"): per round one exchange on ``x``, the
    votes for each label counted over ``x``'s rows ordered by ``lab``
    (a ``rangeBetween(0, 0)`` frame: the rows sharing ``lab``), and
    the argmax ``min(struct(-votes, lab))`` over ``x``'s rows.  Returns
    DataFrame(node, label) after ``iterations`` rounds.
    """
    msgs = _messages(edges, src, dst).select(
        "x", "y", F.col("y").alias("lab")
    )
    peers = Window.partitionBy("x").orderBy("lab").rangeBetween(0, 0)
    node = Window.partitionBy("x")
    best = F.min(F.struct(-F.col("_votes"), F.col("lab"))).over(node)
    for _ in range(iterations):
        voted = msgs.withColumn(
            "_votes", F.count(F.lit(1)).over(peers)
        ).withColumn("_new", best["lab"])
        msgs = _swap(voted, F.col("_new").alias("lab"))
    # every row of y carries y's label; after a round the frame is still
    # partitioned on y (the last exchange's key), so the distinct adds
    # no exchange
    return msgs.select(
        F.col("y").alias("node"), F.col("lab").alias("label")
    ).distinct()


def common_neighbor_scores(
    edges: DataFrame,
    min_common: int = 2,
    max_wedge_degree: int | None = None,
    src: str = "u",
    dst: str = "v",
) -> DataFrame:
    """Link prediction by common-neighbor count (the classic heuristic
    baseline, Liben-Nowell & Kleinberg 2003): for every NON-edge pair
    (u < v), the number of shared neighbors — integer-exact, so it sits
    under a value oracle (Adamic-Adar's 1/log(deg) weights are the same
    plan with a float weight).

    Plan: wedge enumeration through the shared neighbor (two joins on
    the middle node) → (pair) count aggregate → anti-join existing
    edges.  The wedge fan-out is Σ deg(w)² — at scale pass
    ``max_wedge_degree`` to drop hub middles (the standard cap: a
    celebrity node connects everyone and predicts nothing), which
    bounds the blow-up at cap²·nodes while keeping the informative
    wedges.
    """
    # materialized once like triangle_counts: both wedge sides AND
    # the closing anti-join scan e, and without a barrier
    # each reference re-runs the full upstream edge derivation (the
    # co-purchase build is 2 scans + a self-join + 2 distincts —
    # graph_link_prediction's plan carried 40 parquet scans, 0 reused)
    e = undirect_edges(edges, src, dst).localCheckpoint()
    sym = e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mid = sym.select(F.col("u").alias("w"), F.col("v").alias("x"))
    if max_wedge_degree is not None:
        deg = mid.groupBy("w").agg(F.count(F.lit(1)).alias("_d"))
        keep = deg.filter(F.col("_d") <= max_wedge_degree).select("w")
        mid = mid.join(F.broadcast(keep), "w")
    pairs = (
        mid.alias("a")
        .join(
            mid.select(F.col("w"), F.col("x").alias("y")).alias("b"), "w"
        )
        .filter(F.col("x") < F.col("y"))
        .groupBy(F.col("x").alias("u"), F.col("y").alias("v"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return pairs.join(e, ["u", "v"], "left_anti").filter(
        F.col("n_common") >= min_common
    )


def kcore_peel(
    edges: DataFrame,
    k: int = 3,
    rounds: int = 4,
    src: str = "u",
    dst: str = "v",
) -> DataFrame:
    """k-core peeling: repeatedly drop nodes with remaining degree < k
    for a FIXED number of rounds (deterministic on any engine — a
    converged graph makes the extra rounds no-ops).  The k-core is the
    standard "dense enough to matter" filter before community/embedding
    work on web-scale graphs.

    Runs as message-passing rounds over the directed edge frame
    ``(x, y, ok)`` (see the module's "Scale design").  Entering round
    r ≥ 1 the frame holds the edges whose endpoints both survived
    r − 1 peels, and ``ok`` is non-null iff ``y`` survives r.  One
    window over ``x``'s rows gives ``count(*)``, x's degree a peel
    earlier (so whether x survives r), and ``count(ok)``, x's degree
    among r-survivors (so whether x survives r + 1).  Rows whose both
    endpoints survive r are swapped to carry x's new flag to ``y``.
    Returns DataFrame(node, degree) for nodes surviving ``rounds``
    peels, with their degree in the peeled subgraph.
    """
    msgs = _messages(edges, src, dst).withColumn("ok", F.lit(True))

    def survives(r: int, n: Column) -> Column:
        # round 0 has no earlier peel: every node of the graph is alive
        return F.lit(True) if r == 0 else n >= k

    node = Window.partitionBy("x")
    for r in range(rounds):
        counted = msgs.select(
            "x",
            "y",
            "ok",
            F.count(F.lit(1)).over(node).alias("_n"),
            F.count("ok").over(node).alias("_d"),
        ).filter(survives(r, F.col("_n")) & F.col("ok").isNotNull())
        msgs = _swap(counted, F.when(F.col("_d") >= k, True).alias("ok"))
    return (
        msgs.groupBy("x")
        .agg(F.count(F.lit(1)).alias("_n"), F.count("ok").alias("degree"))
        .filter(survives(rounds, F.col("_n")) & (F.col("degree") > 0))
        .select(F.col("x").alias("node"), "degree")
    )


def adamic_adar_scores(
    edges: DataFrame,
    min_common: int = 2,
    max_wedge_degree: int | None = None,
    src: str = "u",
    dst: str = "v",
) -> DataFrame:
    """Adamic-Adar link prediction: Σ_w 1/ln(deg(w)) over the common
    neighbors w of each non-edge pair — the rare-neighbor-weighted
    refinement of :func:`common_neighbor_scores` (same wedge plan, one
    extra degree join).  Cross-engine float doctrine: each 1/ln(deg)
    term is quantized to DECIMAL(18,12) BEFORE the sum, so the
    aggregate is exact and order-independent; only the per-term
    ln/÷ must agree (one correctly-rounded libm call on an integer
    input — the established weighted-sample discipline).
    """
    # same one-materialization rule as common_neighbor_scores: the two
    # wedge sides, the degree aggregate, and the anti-join all re-run
    # the upstream edge build otherwise (graph_adamic_adar's plan
    # carried 72 parquet scans / 136 exchanges, 0 reused)
    e = undirect_edges(edges, src, dst).localCheckpoint()
    sym = e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = (
        sym.groupBy(F.col("u").alias("w"))
        .agg(F.count(F.lit(1)).alias("_d"))
        # A degree-1 middle can never form a wedge (x < y needs two
        # distinct neighbors), and 1/ln(1) would be a DIVIDE_BY_ZERO
        # under ANSI mode if a plan change ever evaluated _aa before
        # the x<y filter — drop those rows before the weight exists.
        .filter(F.col("_d") >= 2)
    )
    mid = sym.select(F.col("u").alias("w"), F.col("v").alias("x"))
    if max_wedge_degree is not None:
        mid = mid.join(
            F.broadcast(
                deg.filter(F.col("_d") <= max_wedge_degree).select("w")
            ),
            "w",
        )
    weighted = mid.join(deg, "w").withColumn(
        "_aa",
        (F.lit(1.0) / F.log(F.col("_d").cast("double"))).cast(
            "decimal(18,12)"
        ),
    )
    pairs = (
        weighted.alias("a")
        .join(
            weighted.select(
                F.col("w"), F.col("x").alias("y")
            ).alias("b"),
            "w",
        )
        .filter(F.col("x") < F.col("y"))
        .groupBy(F.col("x").alias("u"), F.col("y").alias("v"))
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.round(F.sum("a._aa").cast("double"), 6).alias("aa"),
        )
    )
    return pairs.join(e, ["u", "v"], "left_anti").filter(
        F.col("n_common") >= min_common
    )


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "s",
    dst: str = "d",
    seed_col: str = "node",
    iterations: int = 5,
    damping: float = 0.85,
    checkpoint_every: int = 3,
) -> DataFrame:
    """Personalized PageRank: teleportation returns to the uniform
    SEED distribution instead of all nodes — the similarity/
    recommendation form of the power iteration (same per-round
    one-shuffle shape as :func:`pagerank`; only the base term differs:
    (1-d)/|S| on seed nodes, 0 elsewhere)."""
    e = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .distinct()
        .repartition("s")
        .localCheckpoint()
    )
    nodes = e.select(F.col("s").alias("node")).unionByName(
        e.select(F.col("d").alias("node"))
    ).distinct()
    outdeg = e.groupBy(F.col("s").alias("node")).agg(
        F.count(F.lit(1)).alias("outdeg")
    )
    seed_nodes = seeds.select(F.col(seed_col).alias("node")).distinct()
    base = (
        nodes.join(outdeg, "node", "left")
        .join(
            F.broadcast(seed_nodes.withColumn("_is_seed", F.lit(1))),
            "node",
            "left",
        )
        .repartition("node")
        .localCheckpoint()
    )
    n_seeds = base.filter(F.col("_is_seed") == 1).count()
    if n_seeds == 0:
        raise ValueError("personalized_pagerank: no seed appears in graph")
    teleport = F.when(
        F.col("_is_seed") == 1, F.lit((1.0 - damping) / n_seeds)
    ).otherwise(F.lit(0.0))

    ranks = base.select(
        "node", "outdeg", "_is_seed", teleport.alias("rank")
    )
    for i in range(iterations):
        contrib = (
            ranks.filter(F.col("outdeg").isNotNull())
            .join(e, ranks.node == e.s)
            .groupBy(F.col("d").alias("node"))
            .agg(F.sum(F.col("rank") / F.col("outdeg")).alias("inflow"))
        )
        ranks = base.join(contrib, "node", "left").select(
            "node",
            "outdeg",
            "_is_seed",
            (
                teleport
                + F.lit(damping) * F.coalesce("inflow", F.lit(0.0))
            ).alias("rank"),
        )
        if (i + 1) % checkpoint_every == 0 and i + 1 < iterations:
            ranks = ranks.localCheckpoint()
    return ranks.select("node", "rank")


def bfs_depths(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "s",
    dst: str = "d",
    seed_col: str = "node",
    max_depth: int = 6,
) -> DataFrame:
    """Minimum hop distance from a SEED SET over a directed edge list —
    multi-source BFS as ``max_depth`` synchronous min-relax rounds
    (d'(v) = min(d(v), min over in-edges (d(u) + 1))), the reachability
    primitive behind impact analysis / ego networks / feature hops.
    Nodes unreached within ``max_depth`` report −1.

    Scale shape (same as :func:`pagerank`): edges pre-partitioned on
    the source key once (localCheckpoint) so every round reuses the
    materialized partitioning and pays ONE contribution shuffle; depth
    state is pure integers, exact on any engine — the SQL oracle
    unrolls the identical rounds.  Rounds are fixed (max_depth), not
    convergence-tested: a frontier-empty early exit would add a driver
    action per round for no asymptotic win at bounded depth.
    """
    inf = 999_999_999
    e = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .distinct()
        .repartition("s")
        .localCheckpoint()
    )
    seed_nodes = seeds.select(F.col(seed_col).alias("node")).distinct()
    # seeds union in so an isolated seed (no edges) still reports
    # depth 0 — the docstring's "distance from a SEED SET" includes
    # the seed itself
    nodes = (
        e.select(F.col("s").alias("node"))
        .unionByName(e.select(F.col("d").alias("node")))
        .unionByName(seed_nodes)
        .distinct()
    )
    base = (
        nodes.join(
            F.broadcast(seed_nodes.withColumn("_is_seed", F.lit(1))),
            "node",
            "left",
        )
        .repartition("node")
        .localCheckpoint()
    )
    depths = base.select(
        "node",
        F.when(F.col("_is_seed") == 1, F.lit(0))
        .otherwise(F.lit(inf))
        .cast("long")
        .alias("depth"),
    )
    for i in range(max_depth):
        relax = (
            depths.join(e, depths.node == e.s)
            .groupBy(F.col("d").alias("node"))
            .agg(F.min(F.col("depth") + 1).alias("reach"))
        )
        depths = (
            depths.join(relax, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("depth"),
                    F.coalesce(F.col("reach"), F.lit(inf)),
                ).alias("depth"),
            )
        )
        if (i + 1) % 3 == 0 and i + 1 < max_depth:
            depths = depths.localCheckpoint()
    return depths.select(
        "node",
        F.when(F.col("depth") >= inf, F.lit(-1))
        .otherwise(F.col("depth"))
        .cast("long")
        .alias("depth"),
    )


def sssp_distances(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "s",
    dst: str = "d",
    weight: str = "w",
    seed_col: str = "node",
    max_rounds: int = 6,
) -> DataFrame:
    """Weighted shortest-path distance from a SEED SET — bounded-hop
    Bellman-Ford: ``max_rounds`` synchronous relax rounds of
    d'(v) = min(d(v), min over in-edges (d(u) + w(u, v))), i.e. the
    cheapest path using at most ``max_rounds`` edges (this converges to
    the true shortest path once max_rounds ≥ the longest shortest-path
    HOP COUNT — which can exceed the unweighted hop diameter, since a
    cheap many-hop path can beat a 1-hop heavy edge; n−1 rounds in the
    worst case).  Nodes unreached within the bound
    report −1.  Parallel edges collapse to their minimum weight (any
    heavier duplicate can never be on a shortest path).

    Pure integer relax rounds — exact on any engine; the SQL oracle
    unrolls the identical rounds.  Scale shape matches
    :func:`bfs_depths`: edges pre-partitioned on the source key once
    (localCheckpoint), ONE contribution shuffle per round, periodic
    checkpoints to keep the plan flat.
    """
    inf = 999_999_999_999
    e = (
        edges.select(
            F.col(src).alias("s"), F.col(dst).alias("d"), F.col(weight).alias("w")
        )
        .groupBy("s", "d")
        .agg(F.min("w").alias("w"))
        .repartition("s")
        .localCheckpoint()
    )
    seed_nodes = seeds.select(F.col(seed_col).alias("node")).distinct()
    nodes = (
        e.select(F.col("s").alias("node"))
        .unionByName(e.select(F.col("d").alias("node")))
        .unionByName(seed_nodes)
        .distinct()
    )
    dists = (
        nodes.join(
            F.broadcast(seed_nodes.withColumn("_is_seed", F.lit(1))),
            "node",
            "left",
        )
        .select(
            "node",
            F.when(F.col("_is_seed") == 1, F.lit(0))
            .otherwise(F.lit(inf))
            .cast("long")
            .alias("dist"),
        )
        .repartition("node")
        .localCheckpoint()
    )
    for i in range(max_rounds):
        relax = (
            dists.join(e, dists.node == e.s)
            .groupBy(F.col("d").alias("node"))
            .agg(F.min(F.col("dist") + F.col("w")).alias("reach"))
        )
        dists = dists.join(relax, "node", "left").select(
            "node",
            F.least(
                F.col("dist"), F.coalesce(F.col("reach"), F.lit(inf))
            ).alias("dist"),
        )
        if (i + 1) % 3 == 0 and i + 1 < max_rounds:
            dists = dists.localCheckpoint()
    return dists.select(
        "node",
        F.when(F.col("dist") >= inf, F.lit(-1))
        .otherwise(F.col("dist"))
        .cast("long")
        .alias("dist"),
    )


def hits_scores(
    edges: DataFrame,
    src: str = "s",
    dst: str = "d",
    iterations: int = 2,
) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) — UNNORMALIZED integer
    form: h₀ = 1, then aₖ(v) = Σ over in-edges of hₖ₋₁(u) and
    hₖ(u) = Σ over out-edges of aₖ(v).  Skipping the usual L2
    normalization keeps every score an exact BIGINT (the same
    eigenvector direction — rankings identical), so the result is
    bit-reproducible on any engine and SQL-oracle-able; callers wanting
    normalized scores divide by the max at the end.  Magnitudes grow by
    ~(max degree)² per iteration — with int64 headroom that bounds
    ``iterations`` to a handful on dense graphs, which is also where
    HITS converges for ranking purposes.

    Reference parity: the reference stack ships no graph analytics; this
    extends the PageRank/PPR family (pagerank above) with the classic
    bipartite-reinforcement scorer over the same encoded triple graph.

    Scale shape: per half-step, ONE shuffle join of edges against the
    current score vector and one grouped sum — the same contribution
    pattern as :func:`pagerank`; edges are deduped and pre-partitioned
    on the join key once.
    """
    e = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .distinct()
        .repartition("s")
        .localCheckpoint()
    )
    # NOT barriered (r14 measured): the textual duplication of `nodes`
    # and the hub/auth lineage across the 2-iteration unroll is fully
    # deduplicated by AQE exchange reuse at runtime — adding
    # localCheckpoint barriers left executor time unchanged (76.7 s →
    # 75.9 s) while serializing the plan into more jobs (wall 10.7 s →
    # 11.7 s), so the lazy form stays.
    nodes = (
        e.select(F.col("s").alias("node"))
        .unionByName(e.select(F.col("d").alias("node")))
        .distinct()
    )
    hub = nodes.select("node", F.lit(1).cast("long").alias("hub"))
    auth = None
    for _ in range(iterations):
        a_sum = (
            e.join(hub.withColumnRenamed("node", "s"), "s")
            .groupBy("d")
            .agg(F.sum("hub").alias("_a"))
        )
        auth = nodes.join(
            a_sum.withColumnRenamed("d", "node"), "node", "left"
        ).select(
            "node",
            F.coalesce(F.col("_a"), F.lit(0)).cast("long").alias("authority"),
        )
        h_sum = (
            e.join(
                auth.select(
                    F.col("node").alias("d"), F.col("authority")
                ),
                "d",
            )
            .groupBy("s")
            .agg(F.sum("authority").alias("_h"))
        )
        hub = nodes.join(
            h_sum.withColumnRenamed("s", "node"), "node", "left"
        ).select(
            "node",
            F.coalesce(F.col("_h"), F.lit(0)).cast("long").alias("hub"),
        )
    return nodes.join(auth, "node").join(hub, "node").select(
        "node", "authority", "hub"
    )
