"""Fixed-iteration graph analytics over edge DataFrames.

Complements the connected-components resolver (operators/dedup.py::
near_dup_groups) with importance scoring: PageRank over the near-dup /
similarity graph ranks the "hub" documents that sit inside many overlap
relationships — the ones whose removal (or keeping) matters most during
dedup triage.

100 TB shape: each iteration is one shuffle — an equi-join of the edge
list against the current rank vector on src, then a groupBy dst. Edges are
partitioned once by src and the partitioning is REUSED across iterations
(the rank vector, keyed the same way, is the only thing that changes).
Iteration count is fixed and small (power iteration converges
geometrically at rate ≈ damping); an adaptive-tolerance variant would add
one tiny agg per round exactly like near_dup_groups' checksum-convergence
loop. Skewed hub vertices are standard AQE skew-join territory.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _rank_graph(edges: DataFrame, src: str, dst: str) -> tuple[DataFrame, DataFrame]:
    """(edges with out-degree, node set), both eagerly checkpointed: the
    inputs every PageRank iteration reads.

    Iterative-algorithm discipline: the edge list is consumed by the
    node set and every iteration's join — if it is DERIVED (e.g. Jaccard
    pairs from shingles), leaving it lazy recomputes the derivation per
    consumer (measured: 0 ReusedExchange, 66 Exchanges in the composed
    3-iteration plan). localCheckpoint materializes it once and truncates
    lineage (the GraphX/ALS pattern); storage is freed by the
    ContextCleaner when the result goes out of scope, so no cache leak
    across calls. Cost: recompute-on-executor-loss, acceptable for a
    bounded iterative job.

    A checkpointed frame comes back as an ExistingRDD with
    UnknownPartitioning, so repartitioning the edges by src buys nothing
    for join planning. The out-degree rides INTO the checkpoint via one
    window over the src-keyed exchange, and the node set is checkpointed
    once, so each iteration broadcast-joins node-set-sized vectors
    instead of shuffling the edges (r14, the TextRank treatment)."""
    from pyspark.sql.window import Window as _W

    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .withColumn("outdeg", F.count("*").over(_W.partitionBy("src")))
        .localCheckpoint(eager=True)
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    return e, nodes


def _power_iteration(
    e: DataFrame,
    nodes: DataFrame,
    start: Column,
    restart: Column,
    *,
    iters: int,
    damping: float,
) -> DataFrame:
    """``iters`` PageRank power iterations over ``_rank_graph``'s frames:
    r_0 = ``start``, r_{k+1}(v) = ``restart`` + d·Σ_{u→v} r_k(u)/outdeg(u).
    ``start`` and ``restart`` are column expressions over ``node``.
    Returns (node, rank)."""
    ranks = nodes.select("node", start.alias("rank"))
    for _ in range(iters):
        contrib = e.join(
            F.broadcast(ranks.withColumnRenamed("node", "src")), "src"
        ).select("dst", (F.col("rank") / F.col("outdeg")).alias("c"))
        spread = contrib.groupBy("dst").agg(F.sum("c").alias("s"))
        # left join back onto the full node set: in-edge-less nodes keep
        # their restart mass. NOTE: the node set is source-derived, so mass
        # flowing to dst-ONLY nodes (in-edges but no out-edges) is dropped —
        # conservation holds on the symmetric/undirected inputs the
        # callers' precondition requires, not on general directed graphs
        ranks = (
            nodes.join(
                F.broadcast(spread.withColumnRenamed("dst", "node")),
                "node",
                "left",
            )
            .select(
                "node",
                (
                    restart
                    + damping * F.coalesce(F.col("s"), F.lit(0.0))
                ).alias("rank"),
            )
        )
    return ranks


def pagerank(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    iters: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """PageRank after ``iters`` power iterations on a DIRECTED edge list
    (for an undirected graph, pass the symmetrized edges). The node set is
    every node appearing as a SOURCE (so a node must have out-edges to be
    ranked — true of symmetrized graphs); nodes with no IN-edges are kept
    each iteration via a left join with their sum coalesced to 0, so they
    retain their (1-d)/N restart mass instead of silently dropping out of
    the result after the first groupBy(dst). Returns (node, rank).

    r_{k+1}(v) = (1-d)/N + d * Σ_{u→v} r_k(u) / outdeg(u), r_0 = 1/N.
    """
    e, nodes = _rank_graph(edges, src, dst)
    n = nodes.count()  # cheap: scans the checkpointed partitions
    return _power_iteration(
        e, nodes, F.lit(1.0 / n), F.lit((1.0 - damping) / n),
        iters=iters, damping=damping,
    )


def degree_stats(edges: DataFrame, *, src: str = "src", dst: str = "dst") -> DataFrame:
    """Degree histogram of an undirected pair list (each edge counted for
    both endpoints): (degree, n_nodes). One explode + two tiny aggs."""
    both = edges.select(F.explode(F.array(F.col(src), F.col(dst))).alias("node"))
    deg = both.groupBy("node").agg(F.count("*").alias("degree"))
    return deg.groupBy("degree").agg(F.count("*").cast("int").alias("n_nodes"))


def _oriented_edges(pairs: DataFrame, src: str, dst: str) -> DataFrame:
    """Degree-ordered orientation shared by the exact and sampled triangle
    counters: every edge re-oriented from its lower-(degree, id) endpoint
    x to its higher one, carried as the struct key yk = (d, n) so the
    y ≺ z wedge filter is one comparison. Out-degree under this
    orientation is O(√m) regardless of hub size, so wedge volume is
    Σ outdeg² = O(m^1.5) — the naive id-ordered double join is Σ deg²,
    which melts on high-degree hubs."""
    e = pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    ends = e.select(F.explode(F.array("u", "v")).alias("node"))
    deg = ends.groupBy("node").agg(F.count("*").alias("d"))
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    ranked = e.join(du, "u").join(dv, "v")
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    return ranked.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("x"),
        F.when(
            u_first, F.struct(F.col("dv").alias("d"), F.col("v").alias("n"))
        )
        .otherwise(F.struct(F.col("du").alias("d"), F.col("u").alias("n")))
        .alias("yk"),
    ).localCheckpoint(eager=False)


def _closed_wedges(w1: DataFrame, o: DataFrame) -> DataFrame:
    """Wedges (y, z) from the first-leg frame ``w1`` against the full
    oriented edge set ``o``, kept iff the third edge y.n → z exists."""
    w2 = o.select("x", F.col("yk").alias("z"))
    wedges = w1.join(w2, "x").filter(F.col("y") < F.col("z")).select("y", "z")
    third = o.select(F.col("x").alias("tx"), F.col("yk").alias("tz"))
    return wedges.join(
        third,
        (F.col("y")["n"] == F.col("tx")) & (F.col("z") == F.col("tz")),
        "left_semi",
    )


def triangle_count(
    pairs: DataFrame, *, src: str = "id_a", dst: str = "id_b"
) -> DataFrame:
    """Exact triangle count of an undirected pair list (canonical
    id_a < id_b), 1-row DataFrame (n_triangles).

    Degree-ordered node-iterator (_oriented_edges): wedges are enumerated
    only from each node's HIGHER-ordered neighbors and a wedge closes iff
    its (consistently oriented) third edge exists. On clique-dense graphs
    the TRIANGLE COUNT itself is the floor (no algorithm enumerates 81M
    triangles for free): measured 11.8M triangles from 127k edges in
    4.9 s at sf0.1 (~2.4M wedge-closures/s); the sampled estimator below
    is the bench-facing relief valve."""
    o = _oriented_edges(pairs, src, dst)
    w1 = o.select("x", F.col("yk").alias("y"))
    closed = _closed_wedges(w1, o)
    return closed.agg(F.count("*").cast("bigint").alias("n_triangles"))


def triangle_count_sampled(
    pairs: DataFrame,
    *,
    src: str = "id_a",
    dst: str = "id_b",
    inv_rate: int = 4,
    seed: str = "tri",
) -> DataFrame:
    """EDGE-LEG-sampled triangle ESTIMATE, 1-row
    (n_sampled_oriented_edges, n_closed, est_triangles ≈ n_closed·inv_rate).

    Same degree-ordered orientation as triangle_count (shared
    _oriented_edges/_closed_wedges; inv_rate=1 IS the exact count) — each
    triangle is counted exactly once, as the wedge (y, z) at its
    minimum-(degree, id) vertex x with y ≺ z — but the FIRST wedge leg
    (x, y) must pass a PORTABLE seeded hash gate with probability
    p = 1/inv_rate. The filter lands on one side of the wedge self-join,
    so the O(m^1.5) wedge volume (the entire cost of exact counting on
    clique-dense graphs) shrinks by p while closure checks still probe
    the FULL oriented edge set. Each triangle's (x, y) leg is gated
    i.i.d. w.p. p, so n_closed/p is unbiased; gating the EDGE leg rather
    than the CENTER x keeps the correlation groups small (triangles
    sharing a leg = common neighbors of one edge, vs C(deg,2) wedges of
    one hub center), which is what keeps the variance usable on
    clique-dense dedup graphs — measured 4% relative error at p=¼ on the
    sf0.01 SimHash graph vs 23% for center gating. The hash gate (not an
    RNG) makes the estimate a pure function of the graph: the DuckDB
    oracle checks it exactly."""
    o = _oriented_edges(pairs, src, dst)
    from ..functions.hashing import portable_hash64

    gate = portable_hash64(
        F.concat(
            F.col("x").cast("string"),
            F.lit(":"),
            F.col("yk")["n"].cast("string"),
            F.lit(f":{seed}"),
        )
    ) < (1 << 60) // inv_rate
    sampled = o.filter(gate)
    closed = _closed_wedges(sampled.select("x", F.col("yk").alias("y")), o)
    n_s = sampled.agg(
        F.count("*").cast("bigint").alias("n_sampled_oriented_edges")
    )
    c = closed.agg(F.count("*").cast("bigint").alias("n_closed"))
    return n_s.crossJoin(c).select(
        "n_sampled_oriented_edges",
        "n_closed",
        (F.col("n_closed") * inv_rate).cast("bigint").alias("est_triangles"),
    )


def personalized_pagerank(
    edges: DataFrame,
    seeds: list,
    *,
    src: str = "src",
    dst: str = "dst",
    iters: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """Personalized PageRank: the restart mass returns to ``seeds``
    instead of spreading uniformly — r_{k+1}(v) = (1−d)·e_seed(v) +
    d·Σ_{u→v} r_k(u)/outdeg(u), r_0 = e_seed. The graph-walk form of
    "documents related to THESE" (seed = a known-bad boilerplate doc →
    ranked blast radius; seed = a gold doc → neighborhood to upsample).
    Same one-shuffle-per-iteration shape as pagerank(); the seed vector
    is a literal, so restart mass needs no join."""
    e, nodes = _rank_graph(edges, src, dst)
    seed_share = 1.0 / len(seeds)
    seed_col = F.when(
        F.col("node").isin(*seeds), F.lit(seed_share)
    ).otherwise(F.lit(0.0))
    return _power_iteration(
        e, nodes, seed_col, (1.0 - damping) * seed_col,
        iters=iters, damping=damping,
    )


def eigenvector_centrality(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    iters: int = 3,
) -> DataFrame:
    """Eigenvector centrality by normalized power iteration: r ← A·r /
    ‖A·r‖₂ from the uniform start — a node is central when its NEIGHBORS
    are central (degree counts neighbors; this weighs them). Converges to
    the principal eigenvector on connected components; per iteration one
    edge⋈rank shuffle plus a 1-row L2-norm aggregate (the same scalar-
    broadcast shape as k-means' inertia). Pass symmetrized edges for an
    undirected graph."""
    # r14 note: the pagerank()-style broadcast rewrite was A/B'd here and
    # LOST twice (1.80/1.89 s vs 1.57/1.62 s at sf0.1) — the per-
    # iteration 1-row L2-norm broadcast already serializes this loop, and
    # swapping the shuffled rank join for broadcast builds added driver
    # round trips without removing that barrier. Kept in the r13 shape.
    par = edges.sparkSession.sparkContext.defaultParallelism
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .repartition(par, "src")
        .localCheckpoint(eager=True)
    )
    nodes = e.select(F.col("src").alias("node")).distinct()
    ranks = nodes.select("node", F.lit(1.0).alias("rank"))
    for _ in range(iters):
        spread = (
            e.join(ranks.withColumnRenamed("node", "src"), "src")
            .groupBy("dst")
            .agg(F.sum("rank").alias("s"))
            .select(F.col("dst").alias("node"), F.col("s"))
        )
        # left join onto the node set so in-edge-less nodes survive with
        # score 0 instead of vanishing from the result (directed inputs)
        kept = nodes.join(spread, "node", "left").select(
            "node", F.coalesce(F.col("s"), F.lit(0.0)).alias("s")
        )
        nrm = kept.agg(F.sqrt(F.sum(F.col("s") * F.col("s"))).alias("z"))
        ranks = kept.crossJoin(F.broadcast(nrm)).select(
            "node", (F.col("s") / F.col("z")).alias("rank")
        )
    return ranks


def _endpoint_degrees(e):
    """(node, d) over both endpoints of the undirected edge frame (u, v) —
    the per-round degree table both k-core variants peel against."""
    return (
        e.select(F.explode(F.array("u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )


def _peel_once(e, keep):
    """Drop edges with either endpoint outside ``keep`` (NO broadcast
    hint — keep is O(V) in the worst case; AQE broadcasts on its own
    once the survivor set shrinks below the threshold) and checkpoint:
    each round reads the edge list several times (degree agg + both
    joins), so a lazy frame would re-run its derivation per consumer
    per round. Round-6 note: an anti-join against the complementary
    ``bad`` (degree<k) set was measured and REJECTED — on the sparse
    near-dup graph most nodes die on round 1, so bad is the O(V) side
    and keep the small one (graph_kcore_rounds 4.4 s -> 7.0 s under the
    anti-join variant); semi-join on the survivors is the right
    direction for peeling workloads, whose whole point is that few
    nodes survive."""
    return (
        e.join(keep.withColumnRenamed("node", "u"), "u", "left_semi")
        .join(keep.withColumnRenamed("node", "v"), "v", "left_semi")
        .localCheckpoint(eager=True)
    )


def _surviving_degrees(e, k):
    return _endpoint_degrees(e).filter(F.col("d") >= k).select(
        "node", F.col("d").cast("int").alias("degree")
    )


def k_core_rounds(
    pairs: DataFrame, k: int, rounds: int, *, src: str = "id_a", dst: str = "id_b"
) -> DataFrame:
    """Exactly ``rounds`` peeling rounds of k-core (no convergence probe,
    no early exit): surviving (node, degree) after R fixed rounds of
    "drop degree<k endpoints, keep edges with both ends surviving". A
    deterministic prefix of the k_core fixpoint — equal to it once R ≥
    the peeling depth (typically a handful) — whose value a SQL oracle
    can check by unrolling R rounds as CTEs, giving the family a
    driver-checkable twin the data-dependent fixpoint loop can't have.
    Same per-round plan as k_core (shared _endpoint_degrees/_peel_once
    helpers): one keyed degree agg + two semi-joins on the survivor
    set (no broadcast hint), localCheckpoint per round."""
    e = (
        pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .localCheckpoint(eager=True)
    )
    for _ in range(rounds):
        keep = _endpoint_degrees(e).filter(F.col("d") >= k).select("node")
        e = _peel_once(e, keep)
    return _surviving_degrees(e, k)


def k_core(
    pairs: DataFrame, k: int, *, src: str = "id_a", dst: str = "id_b",
    max_rounds: int = 50,
) -> DataFrame:
    """The k-core: the maximal subgraph where every node keeps degree ≥ k,
    found by iterative peeling (drop degree<k nodes, recompute, repeat to
    fixpoint). Returns the surviving (node, degree) rows — the dense
    nucleus of a boilerplate family, robust to the stray pendant edges
    that inflate components. Each round is ONE heavy job: the eager
    localCheckpoint inside _peel_once (degree agg + two semi-joins on
    the survivor set, no broadcast hint — AQE broadcasts once peeling
    shrinks it). Round-6 change (VERDICT r05 item 3): the convergence
    probe reuses the checkpoint the round already materialized —
    ``e.count()`` on a localCheckpoint'ed frame scans cached partitions
    (a near-free job, no recompute), and peeling only ever REMOVES
    edges, so an unchanged edge count means an unchanged edge set, i.e.
    fixpoint. Previously each round also ran ``keep.count()``, a full
    second degree-agg job — ~8 serialized driver round-trips at sf0.1
    cost 6.2 s; this change measured 6.2 s -> 3.8 s."""
    e = (
        pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .localCheckpoint(eager=True)
    )
    m_prev = e.count()  # cheap: scans the checkpointed partitions
    for _ in range(max_rounds):
        keep = _endpoint_degrees(e).filter(F.col("d") >= k).select("node")
        e = _peel_once(e, keep)
        m = e.count()  # cheap: e was just checkpointed by _peel_once
        if m == m_prev:
            break
        m_prev = m
    return _surviving_degrees(e, k)


def bfs_hops(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    max_hops: int = 3,
    seeds: DataFrame | None = None,
    seed: str = "min",
) -> DataFrame:
    """Unweighted shortest-hop distances from a seed set (``seeds``: a
    1-column (node) frame — multi-source BFS is the decontamination
    blast-radius shape; else ``seed``: "min" = smallest src id, "hub" =
    the max-out-degree node with min-id tiebreak, the interesting start
    for spread triage) out to ``max_hops`` levels of a DIRECTED edge list
    (pass symmetrized edges for an undirected graph). Returns
    (node, hops) for every node reachable within the bound — the
    level-synchronous BSP BFS every bulk graph engine (Pregel, GraphX)
    runs: each level is ONE frontier⋈edges shuffle join plus a distinct,
    and the frontier is DEDUPLICATED per level so path multiplicity can
    never multiply rows (an n-hop frontier is at most the node set, not
    the number of n-step walks). The hop bound keeps the plan statically
    unrolled, which is also what keeps the semantics
    DuckDB-expressible as ``max_hops`` stacked CTEs.

    100 TB shape: the edge list is localCheckpoint'ed once (same
    iterative-consumer discipline as pagerank above) and the per-level
    work is a keyed equi-join on src — the frontier side is small
    relative to the edges and AQE broadcast-joins it when it fits;
    nothing is ever collected to the driver (the source id itself is a
    1-row aggregate carried by a broadcast cross join).
    """
    par = edges.sparkSession.sparkContext.defaultParallelism
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .repartition(par, "src")
        .localCheckpoint(eager=True)
    )
    # seed frame: caller-provided, else derived from the CHECKPOINTED
    # edges (no second derivation of an expensive pair list) — either way
    # a bounded frame carried by joins, never collected to the driver
    if seeds is not None:
        frontier = seeds.select(F.col(seeds.columns[0]).alias("node")).distinct()
    elif seed == "hub":
        # top-1 by out-degree is a TakeOrdered (per-partition top-1 then
        # a 1-row driver merge), not a global sort
        frontier = (
            e.groupBy("src")
            .agg(F.count("*").alias("c"))
            .orderBy(F.desc("c"), F.asc("src"))
            .limit(1)
            .select(F.col("src").alias("node"))
        )
    else:
        frontier = e.agg(F.min("src").alias("node"))
    # r14 negative (measured, reverted): per-level localCheckpoint +
    # explicit frontier broadcast (Exchange 34→4 in graph_bfs_hops' plan)
    # LOST its A/B ~60% at matched controls — the per-level checkpoint
    # job barriers and broadcast-build driver trips cost more than the
    # lazy re-derivation they remove, because AQE already broadcast-joins
    # the tiny frontiers inside ONE job whose union legs run in parallel
    # (the same driver-round-trip failure as the reverted eigenvector
    # rewrite). Keep the lazy unrolled shape.
    levels = [frontier.select("node", F.lit(0).alias("hops"))]
    for h in range(1, max_hops + 1):
        frontier = (
            e.join(frontier.withColumnRenamed("node", "src"), "src")
            .select(F.col("dst").alias("node"))
            .distinct()
        )
        levels.append(frontier.select("node", F.lit(h).alias("hops")))
    out = levels[0]
    for lvl in levels[1:]:
        out = out.unionByName(lvl)
    return out.groupBy("node").agg(F.min("hops").cast("int").alias("hops"))


def link_prediction_scores(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    k: int = 30,
    max_center_degree: int | None = 64,
) -> DataFrame:
    """Link prediction over a SYMMETRIZED unique edge list: for every
    non-adjacent pair (a < b) sharing ≥1 neighbor, the three classic
    scores — common-neighbor count, Jaccard |Γa∩Γb|/|Γa∪Γb|, and
    Adamic–Adar Σ_z 1/ln(deg z) — top-``k`` by (cn, adamic_adar, ids).
    This is "which near-dup families are about to merge" triage on the
    dedup graph, and the generic missing-edge recommender everywhere
    else.

    Determinism discipline: the Adamic–Adar contribution is quantized to
    the exact integer round(10⁶/ln(deg z)) BEFORE the per-pair sum, so
    engines summing in different orders still produce identical totals
    (a common neighbor has deg ≥ 2, so ln ≥ ln 2 — no pole). The wedge
    join e(a,z)⋈e(z,b) is the triangle-count shuffle shape: keyed on the
    shared endpoint, worst case Σ deg(z)². ``max_center_degree`` is the
    standard degree-threshold cut applied to wedge CENTERS — a common
    neighbor shared with half the graph identifies nothing (its AA
    weight 1/ln(deg) is already near-zero; Adamic & Adar 2003's
    frequency-inverse argument taken to its cutoff), and it is exactly
    the hub that makes Σ deg(z)² explode (measured on the sf0.1
    near-dup graph: p90 degree 459 of 2,288 nodes, 86M wedges — 14 s;
    capped at 64 the wedge volume drops ~15×). BOTH wedge legs filter
    on the capped center set BEFORE the self-join, so the excluded
    volume is never generated. Endpoint degrees for Jaccard stay FULL
    degrees. The anti-join that removes already-adjacent pairs runs on
    the CANDIDATE set (output-sized), not the corpus.

    The edge list is localCheckpoint'ed once up front — this operator
    consumes it FIVE times (degrees, AA table, both wedge legs, the
    adjacency anti-join), and a lazy frame would re-run its derivation
    (here: the whole SimHash pair pipeline) per consumer — the same
    iterative-consumer discipline as pagerank/k_core above."""
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .localCheckpoint(eager=True)
    )
    deg = e.groupBy("src").agg(F.count("*").alias("deg")).select(
        F.col("src").alias("node"), "deg"
    )
    # a COMMON neighbor always has deg >= 2 (edges to both a and b), so
    # restricting the quantized-contribution table to deg >= 2 loses
    # nothing and keeps ln(deg) away from the ln(1) = 0 pole; the upper
    # cut drops uninformative hub centers BEFORE wedge expansion
    cap = F.col("deg") >= 2
    if max_center_degree is not None:
        cap = cap & (F.col("deg") <= max_center_degree)
    aa_z = deg.filter(cap).select(
        "node",
        F.round(F.lit(1_000_000.0) / F.log(F.col("deg")), 0)
        .cast("bigint")
        .alias("aa_q"),
    )
    centers = aa_z.select(F.col("node").alias("z"))
    leg_in = e.select(F.col("src").alias("a"), F.col("dst").alias("z")).join(
        F.broadcast(centers), "z", "left_semi"
    )
    leg_out = e.select(F.col("src").alias("z"), F.col("dst").alias("b")).join(
        F.broadcast(centers), "z", "left_semi"
    )
    wedges = leg_in.join(leg_out, "z").filter(F.col("a") < F.col("b"))
    cand = wedges.join(
        e.select(F.col("src").alias("a"), F.col("dst").alias("b")),
        ["a", "b"],
        "left_anti",
    )
    scored = (
        cand.join(aa_z.withColumnRenamed("node", "z"), "z")
        .groupBy("a", "b")
        .agg(
            F.count("*").cast("bigint").alias("cn"),
            F.sum("aa_q").cast("bigint").alias("aa_scaled"),
        )
    )
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("deg_b"))
    return (
        scored.join(da, "a")
        .join(db, "b")
        .select(
            F.col("a").alias("id_a"),
            F.col("b").alias("id_b"),
            "cn",
            F.round(
                F.col("cn").cast("double")
                / (F.col("deg_a") + F.col("deg_b") - F.col("cn")),
                6,
            ).alias("jaccard"),
            F.round(F.col("aa_scaled") / 1_000_000.0, 6).alias(
                "adamic_adar"
            ),
        )
        .orderBy(
            F.desc("cn"), F.desc("adamic_adar"), F.asc("id_a"), F.asc("id_b")
        )
        .limit(k)
    )


def multi_source_hops(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    max_hops: int = 4,
    n_seeds: int = 4,
) -> DataFrame:
    """Per-seed shortest-hop distances from the ``n_seeds`` highest-degree
    hubs (min-id tiebreak) out to ``max_hops`` levels — the state behind
    seed-set HARMONIC CLOSENESS: unlike :func:`bfs_hops` (which folds all
    seeds into one min-distance), the frontier here is keyed on
    (seed, node), so one level is still ONE frontier⋈edges shuffle join
    regardless of seed count and the per-level distinct bounds the state
    at seeds × nodes. Returns (seed, node, hops) for every (seed, node)
    with node reachable from seed within the bound, INCLUDING
    (seed, seed, 0). The static hop bound keeps the plan unrolled and the
    semantics DuckDB-expressible as stacked per-level CTEs.

    100 TB shape: edges are localCheckpoint'ed once (the shared
    iterative-consumer discipline of pagerank/bfs_hops above); the seed
    set is a bounded TakeOrdered (never a global sort); the per-level
    join is keyed on src with the frontier as the small side — at any
    corpus size the state is O(n_seeds * reachable-ball), not walks.
    """
    par = edges.sparkSession.sparkContext.defaultParallelism
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .repartition(par, "src")
        .localCheckpoint(eager=True)
    )
    seeds = (
        e.groupBy("src")
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), F.asc("src"))
        .limit(n_seeds)
        .select(F.col("src").alias("seed"))
    )
    # r14 negative (measured, reverted): per-level localCheckpoint +
    # frontier broadcast (Exchange 66→6 in graph_harmonic_closeness'
    # plan) LOST its A/B ~70% — see the identical note in bfs_hops above.
    frontier = seeds.select("seed", F.col("seed").alias("node"))
    levels = [frontier.select("seed", "node", F.lit(0).alias("hops"))]
    for h in range(1, max_hops + 1):
        frontier = (
            e.join(frontier.withColumnRenamed("node", "src"), "src")
            .select("seed", F.col("dst").alias("node"))
            .distinct()
        )
        levels.append(frontier.select("seed", "node", F.lit(h).alias("hops")))
    out = levels[0]
    for lvl in levels[1:]:
        out = out.unionByName(lvl)
    return out.groupBy("seed", "node").agg(F.min("hops").cast("int").alias("hops"))
