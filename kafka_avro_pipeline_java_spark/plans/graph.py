"""Graph analytics over the near-duplicate similarity graph.

The dedup pair lists ARE a graph; beyond resolving components
(dedup_near_dup_groups), ranking nodes inside that graph is how a triage
pipeline decides which documents are boilerplate HUBS (high PageRank in
the overlap graph) versus incidental one-off matches. Edges come from
the n-gram Jaccard pairs (PageRank, degrees) and the SimHash pairs
(triangles — the denser graph that actually has cliques), so every
composition — shingles/bits → pairs → graph → metric — stays
DuckDB-expressible; the PageRank oracle unrolls the power iterations as
CTEs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup, graph
# re-exported: perfbench/mix.py reads the build seconds from this module
from ..session import PAIR_MEMO_BUILD_SEC, session_memo  # noqa: F401
from ..sources import load_table
from .registry import ORACLES, query

_D = 0.85
_ITERS = 3


def _simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash hamming-2 pair list: seven consumers (pagerank, eigenvector,
    triangles, k-core x2, BFS, link prediction, harmonic closeness)."""

    def build() -> DataFrame:
        d = load_table(spark, sf_dir, "documents")
        return dedup.simhash_near_pairs_portable(
            d, "text", "doc_id", max_hamming=2
        ).select("id_a", "id_b")

    return session_memo(spark, "simhash_pairs", sf_dir, build)


def _jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw n-gram Jaccard pair list (id_a, id_b): six consumers (PageRank,
    degree stats, eigenvector, component sizes, modularity, clustering
    coefficient)."""

    def build() -> DataFrame:
        d = load_table(spark, sf_dir, "documents")
        return dedup.ngram_jaccard_pairs(
            d, "text", "doc_id", k=3, threshold=0.1
        ).select("id_a", "id_b")

    return session_memo(spark, "jaccard_pairs", sf_dir, build)


def _components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of ``_jaccard_pairs``: four consumers
    (dedup_near_dup_groups, dedup_golden_record, graph_component_sizes,
    graph_modularity), each of which re-ran the multi-round pointer-jump
    loop. Only call sites whose input is exactly ``_jaccard_pairs(spark,
    sf_dir)`` may use it."""
    return session_memo(
        spark, "components", sf_dir,
        lambda: dedup.connected_components(_jaccard_pairs(spark, sf_dir)),
    )


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _jaccard_pairs(spark, sf_dir)
    a = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    b = pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    return a.unionByName(b)


def _pagerank_oracle() -> str:
    # unrolled power iterations; each is the same join-agg the Spark
    # operator runs, with (1-d)/n folded in per dst group
    it = """
    r{next} AS (
      SELECT e.dst AS node,
             0.15 / nn.n + 0.85 * SUM(r.rank / d.outdeg) AS rank
      FROM edges e
      JOIN r{cur} r ON r.node = e.src
      JOIN deg d ON d.src = e.src, nn
      GROUP BY e.dst, nn.n
    )"""
    iters = ",".join(it.format(cur=i, next=i + 1) for i in range(_ITERS))
    return f"""
    WITH pairs AS ({ORACLES["dedup_ngram_jaccard"]}),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL
      SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    deg AS (SELECT src, CAST(COUNT(*) AS DOUBLE) AS outdeg FROM edges GROUP BY src),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
    r0 AS (SELECT node, 1.0 / nn.n AS rank FROM nodes, nn),
    {iters}
    SELECT node, ROUND(rank, 6) AS rank FROM r{_ITERS}
    """


@query("graph_pagerank_neardup", oracle=_pagerank_oracle())
def graph_pagerank_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (3 power iterations, d=0.85) over the symmetrized n-gram
    Jaccard near-dup graph — ranks the boilerplate hub documents that
    overlap many others. Each iteration is one edge⋈rank join + one
    groupBy dst; the edge partitioning is built once and reused
    (operators/graph.py design note)."""
    ranks = graph.pagerank(
        _edges(spark, sf_dir), iters=_ITERS, damping=_D
    )
    return ranks.select("node", F.round("rank", 6).alias("rank"))


@query(
    "graph_degree_stats",
    oracle=f"""
    WITH pairs AS ({ORACLES["dedup_ngram_jaccard"]}),
    ends AS (
      SELECT id_a AS node FROM pairs
      UNION ALL
      SELECT id_b AS node FROM pairs
    ),
    deg AS (SELECT node, COUNT(*) AS degree FROM ends GROUP BY node)
    SELECT CAST(degree AS INT) AS degree, CAST(COUNT(*) AS INT) AS n_nodes
    FROM deg GROUP BY degree
    """,
)
def graph_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the near-dup graph — the shape diagnostic that
    separates a long-tail of pairwise dups (degree 1–2) from boilerplate
    cliques (high degree). Two word-count-shaped aggs after the pair
    join."""
    pairs = _jaccard_pairs(spark, sf_dir)
    stats = graph.degree_stats(pairs, src="id_a", dst="id_b")
    return stats.select(F.col("degree").cast("int").alias("degree"), "n_nodes")


def _simhash2_oracle() -> str:
    from .text import _simhash_portable_oracle

    return _simhash_portable_oracle(max_hamming=2)


@query(
    "graph_triangle_count",
    oracle=f"""
    WITH allp AS ({_simhash2_oracle()}),
    pairs AS (SELECT id_a, id_b FROM allp),
    tri AS (
      SELECT COUNT(*) AS t
      FROM pairs p1
      JOIN pairs p2 ON p2.id_a = p1.id_b
      JOIN pairs p3 ON p3.id_a = p1.id_a AND p3.id_b = p2.id_b
    )
    SELECT CAST((SELECT COUNT(*) FROM pairs) AS BIGINT) AS n_edges,
           CAST(t AS BIGINT) AS n_triangles
    FROM tri
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count over the SimHash near-dup graph (Hamming ≤ 2 — the
    tight-duplicate tier; ≤ 4 is clique-dense enough that sf0.1 holds 81M
    triangles and counting is output-bound): the clique detector that
    separates pairwise accidents from boilerplate clusters. Counted with
    the degree-ordered node-iterator (operators/graph.py::triangle_count,
    wedge volume O(m^1.5)); the derived edge list is localCheckpoint'ed
    so SimHash runs once."""
    pairs = _simhash_pairs(spark, sf_dir)
    tri = graph.triangle_count(pairs, src="id_a", dst="id_b")
    edges = pairs.agg(F.count("*").alias("n_edges"))
    return edges.crossJoin(tri)


@query(
    "graph_triangle_count_approx",
    oracle=f"""
    WITH allp AS ({_simhash2_oracle()}),
    prs AS (SELECT id_a AS u, id_b AS v FROM allp),
    deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
        SELECT u AS node FROM prs UNION ALL SELECT v FROM prs
      ) GROUP BY node
    ),
    o AS (
      SELECT CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND p.u < p.v)
                  THEN p.u ELSE p.v END AS x,
             CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND p.u < p.v)
                  THEN dv.d ELSE du.d END AS yd,
             CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND p.u < p.v)
                  THEN p.v ELSE p.u END AS yn
      FROM prs p JOIN deg du ON du.node = p.u JOIN deg dv ON dv.node = p.v
    ),
    sampled AS (
      SELECT * FROM o
      WHERE CAST(('0x' || substr(md5(
              CAST(x AS VARCHAR) || ':' || CAST(yn AS VARCHAR) || ':tri'
            ), 1, 15)) AS BIGINT) < {(1 << 60) // 4}
    ),
    wedges AS (
      SELECT a.yn AS yn, b.yd AS zd, b.yn AS zn
      FROM sampled a JOIN o b ON a.x = b.x
      WHERE (a.yd < b.yd) OR (a.yd = b.yd AND a.yn < b.yn)
    ),
    closedc AS (
      SELECT COUNT(*) AS c FROM wedges w
      WHERE EXISTS (
        SELECT 1 FROM o WHERE o.x = w.yn AND o.yd = w.zd AND o.yn = w.zn
      )
    )
    SELECT CAST((SELECT COUNT(*) FROM sampled) AS BIGINT)
             AS n_sampled_oriented_edges,
           CAST(c AS BIGINT) AS n_closed,
           CAST(c * 4 AS BIGINT) AS est_triangles
    FROM closedc
    """,
)
def graph_triangle_count_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge-leg-sampled triangle estimate over the SimHash near-dup graph —
    the bench-friendly companion to exact graph_triangle_count, which is
    OUTPUT-bound (~11.8M triangles at sf0.1, 8% of the round-3 suite
    wall-clock). Gating each wedge's FIRST EDGE LEG (x, y) with a
    portable hash at p=¼ cuts the O(m^1.5) wedge volume by 4× while
    keeping the estimator unbiased with small correlation groups
    (edge-leg gating, not center gating — see the operator docstring)
    and — because the gate is a hash, not an RNG — fully deterministic,
    so even the ESTIMATE is oracle-checked exactly
    (operators/graph.py::triangle_count_sampled; error bound vs exact in
    tests/test_graph.py)."""
    pairs = _simhash_pairs(spark, sf_dir)
    return graph.triangle_count_sampled(
        pairs, src="id_a", dst="id_b", inv_rate=4, seed="tri"
    )


@query(
    "graph_component_sizes",
    oracle=f"""
    WITH comp AS ({ORACLES["dedup_near_dup_groups"]})
    SELECT CAST(sz AS INT) AS component_size,
           CAST(COUNT(*) AS INT) AS n_components
    FROM (
      SELECT component, COUNT(*) AS sz FROM comp GROUP BY component
    )
    GROUP BY sz
    """,
)
def graph_component_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size distribution of the near-dup connected components — the
    macro view of duplication structure: many 2-components = pairwise
    accidents; a fat tail = boilerplate families worth a dedicated
    scrub. Two word-count aggs over the component assignment
    (dedup_near_dup_groups' hybrid union-find / label-propagation
    resolver)."""
    comp = _components(spark, sf_dir)
    sizes = comp.groupBy("component").agg(F.count("*").alias("sz"))
    return sizes.groupBy("sz").agg(
        F.count("*").cast("int").alias("n_components")
    ).select(F.col("sz").cast("int").alias("component_size"), "n_components")


def _ppr_oracle() -> str:
    it = """
    p{next} AS (
      SELECT n.node,
             0.15 * (CASE WHEN n.node = (SELECT s FROM sd) THEN 1.0 ELSE 0.0 END)
             + 0.85 * COALESCE(SUM(r.rank / d.outdeg), 0.0) AS rank
      FROM nodes n
      LEFT JOIN edges e ON e.dst = n.node
      LEFT JOIN p{cur} r ON r.node = e.src
      LEFT JOIN deg d ON d.src = e.src
      GROUP BY n.node
    )"""
    iters = ",".join(it.format(cur=i, next=i + 1) for i in range(_ITERS))
    return f"""
    WITH pairs AS ({ORACLES["dedup_ngram_jaccard"]}),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL
      SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    deg AS (SELECT src, CAST(COUNT(*) AS DOUBLE) AS outdeg FROM edges GROUP BY src),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    sd AS (SELECT MIN(node) AS s FROM nodes),
    p0 AS (
      SELECT node, CASE WHEN node = (SELECT s FROM sd) THEN 1.0 ELSE 0.0 END AS rank
      FROM nodes
    ),
    {iters}
    SELECT node, ROUND(rank, 6) AS rank FROM p{_ITERS} WHERE rank > 0
    """


@query("graph_personalized_pagerank", oracle=_ppr_oracle())
def graph_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank seeded at the lowest-id near-dup document:
    restart mass returns to the seed, so the ranking IS the seed's graph
    neighborhood — 'documents related to THIS one' by overlap structure
    (blast-radius triage for a known-bad doc). Zero-rank nodes are
    dropped: after k iterations only the seed's ≤k-hop component carries
    mass (operators/graph.py::personalized_pagerank)."""
    edges = _edges(spark, sf_dir)
    seed = edges.agg(F.min("src")).first()[0]
    ranks = graph.personalized_pagerank(
        edges, [seed], iters=_ITERS, damping=_D
    )
    return ranks.filter(F.col("rank") > 0).select(
        "node", F.round("rank", 6).alias("rank")
    )


def _eig_oracle() -> str:
    it = """
    e{next} AS (
      SELECT dst AS node, SUM(r.rank) AS s
      FROM edges ed JOIN r{cur} r ON r.node = ed.src
      GROUP BY dst
    ),
    n{next} AS (SELECT SQRT(SUM(s * s)) AS z FROM e{next}),
    r{next} AS (SELECT node, s / (SELECT z FROM n{next}) AS rank FROM e{next})"""
    iters = ",".join(it.format(cur=i, next=i + 1) for i in range(_ITERS))
    return f"""
    WITH pairs AS ({ORACLES["dedup_ngram_jaccard"]}),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL
      SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    r0 AS (SELECT node, 1.0 AS rank FROM nodes),
    {iters}
    SELECT node, ROUND(rank, 6) AS centrality FROM r{_ITERS}
    """


@query("graph_eigenvector_centrality", oracle=_eig_oracle())
def graph_eigenvector_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eigenvector centrality over the near-dup graph (3 normalized power
    iterations): ranks documents by the centrality OF THEIR NEIGHBORS —
    the refinement over degree that separates the core of a boilerplate
    family from its periphery. One edge⋈rank shuffle + a 1-row L2 norm
    per iteration (operators/graph.py::eigenvector_centrality); the
    oracle unrolls iterations and normalizations as CTEs."""
    ranks = graph.eigenvector_centrality(_edges(spark, sf_dir), iters=_ITERS)
    return ranks.select("node", F.round("rank", 6).alias("centrality"))


def _kcore_rounds_oracle(k: int, rounds: int) -> str:
    # unroll R peeling rounds as MATERIALIZED CTE pairs (keep_i, e_{i+1});
    # every e_i is referenced three times per round (twice in the degree
    # count, once in the filter), so without MATERIALIZED DuckDB inlines
    # the whole SimHash derivation into each reference and the plan
    # explodes combinatorially across rounds (measured: >4 min vs <10 s)
    parts = []
    for i in range(rounds):
        parts.append(f"""
    keep{i} AS MATERIALIZED (
      SELECT node FROM (
        SELECT node, COUNT(*) AS d FROM (
          SELECT u AS node FROM e{i} UNION ALL SELECT v FROM e{i}
        ) GROUP BY node
      ) WHERE d >= {k}
    ),
    e{i + 1} AS MATERIALIZED (
      SELECT e.u, e.v FROM e{i} e
      WHERE e.u IN (SELECT node FROM keep{i})
        AND e.v IN (SELECT node FROM keep{i})
    )""")
    return f"""
    WITH allp AS MATERIALIZED ({_simhash2_oracle()}),
    e0 AS MATERIALIZED (SELECT id_a AS u, id_b AS v FROM allp),
    {",".join(parts)}
    SELECT node, CAST(d AS INT) AS degree FROM (
      SELECT node, COUNT(*) AS d FROM (
        SELECT u AS node FROM e{rounds} UNION ALL SELECT v FROM e{rounds}
      ) GROUP BY node
    ) WHERE d >= {k}
    """


@query("graph_kcore_rounds", oracle=_kcore_rounds_oracle(3, 3))
def graph_kcore_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly THREE peeling rounds of the 3-core over the SimHash
    near-dup graph — the ORACLE-BACKED twin of graph_kcore: the
    data-dependent fixpoint loop can't be unrolled statically, but a
    fixed-round prefix can (three (degree, filter-edges) CTE rounds in
    DuckDB), so the family's per-round semantics get a driver-checked
    value row while the fixpoint query keeps its pure-Python parity
    test. Equal to the fixpoint whenever peeling converges within three
    rounds (it does on this graph at sf0.01 — verified in
    tests/test_graph.py)."""
    pairs = _simhash_pairs(spark, sf_dir)
    return graph.k_core_rounds(pairs, 3, 3)


@query("graph_kcore", oracle=_kcore_rounds_oracle(3, 8))
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core of the SimHash near-dup graph: the dense nucleus after
    iteratively peeling nodes with degree < 3 — the boilerplate families
    that survive when pendant matches are stripped. r13 retired this
    from rows-only with an OVER-PROVISIONED UNROLLED ORACLE: the live
    plan still runs the data-dependent fixpoint loop, and the DuckDB
    twin unrolls EIGHT peeling rounds — peeling converges in 3 rounds
    at every test SF (measured sf0.001/0.01/0.1, pinned in
    tests/test_graph.py's pure-Python peeler parity), rounds past the
    fixpoint are no-ops on both engines, and a corpus that ever needed
    more than 8 rounds would MISMATCH loudly in the sweep rather than
    silently corrupt — the same bounded-unroll discipline as the
    hierarchy family's log-rounds pointer jumping. Each live round is
    one degree agg + two semi-joins on the survivor set with the
    convergence probe riding the round's own localCheckpoint."""
    pairs = _simhash_pairs(spark, sf_dir)
    return graph.k_core(pairs, 3)


def _bfs_oracle(max_hops: int = 3) -> str:
    fs = "".join(
        f"""
    f{h} AS (
      SELECT DISTINCT e.dst AS node FROM edges e
      JOIN f{h - 1} ON e.src = f{h - 1}.node
    ),"""
        for h in range(1, max_hops + 1)
    )
    lvls = "\n      UNION ALL ".join(
        f"SELECT node, {h} AS hops FROM f{h}" for h in range(max_hops + 1)
    )
    return f"""
    WITH pairs AS ({_simhash2_oracle()}),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL
      SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    f0 AS (
      SELECT src AS node FROM (
        SELECT src, COUNT(*) AS c FROM edges GROUP BY src
        ORDER BY c DESC, src LIMIT 1
      )
    ),{fs}
    lv AS (
      {lvls}
    )
    SELECT node, CAST(MIN(hops) AS INT) AS hops FROM lv GROUP BY node
    """


@query("graph_bfs_hops", oracle=_bfs_oracle(3))
def graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Level-synchronous BFS: shortest-hop distance (0..3) from the
    max-degree hub (min-id tiebreak) of the symmetrized SimHash near-dup
    graph (the dense one — its hub's 3-hop ball holds ~250 nodes at
    sf0.01 vs 3 in the sparser Jaccard graph, so every level is
    exercised) — "how far does this boilerplate family spread" triage,
    and the reachability primitive under decontamination blast-radius
    queries. One frontier⋈edges join + distinct per level with the
    frontier DEDUPLICATED so walk multiplicity never multiplies rows;
    the static hop bound is what keeps it a stack of `max_hops` DuckDB
    CTEs (operators/graph.py::bfs_hops design note)."""
    pairs = _simhash_pairs(spark, sf_dir)
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    )
    return graph.bfs_hops(edges, max_hops=3, seed="hub")


def _linkpred_oracle(k: int = 30, cap: int = 64) -> str:
    return f"""
    WITH allp AS MATERIALIZED ({_simhash2_oracle()}),
    e AS (
      SELECT id_a AS src, id_b AS dst FROM allp
      UNION ALL
      SELECT id_b AS src, id_a AS dst FROM allp
    ),
    deg AS (SELECT src AS node, COUNT(*) AS deg FROM e GROUP BY 1),
    aa AS (
      SELECT node, CAST(ROUND(1000000.0 / LN(deg), 0) AS BIGINT) AS aa_q
      FROM deg WHERE deg >= 2 AND deg <= {cap}
    ),
    wedges AS (
      SELECT e1.src AS a, e1.dst AS z, e2.dst AS b
      FROM e e1 JOIN e e2 ON e1.dst = e2.src
      JOIN aa ON aa.node = e1.dst
      WHERE e1.src < e2.dst
    ),
    cand AS (
      SELECT w.a, w.z, w.b FROM wedges w
      ANTI JOIN e ON e.src = w.a AND e.dst = w.b
    ),
    scored AS (
      SELECT a, b, CAST(COUNT(*) AS BIGINT) AS cn,
             CAST(SUM(aa_q) AS BIGINT) AS aa_scaled
      FROM cand JOIN aa ON aa.node = cand.z
      GROUP BY 1, 2
    )
    SELECT s.a AS id_a, s.b AS id_b, s.cn,
           ROUND(CAST(s.cn AS DOUBLE) / (da.deg + db.deg - s.cn), 6)
             AS jaccard,
           ROUND(s.aa_scaled / 1000000.0, 6) AS adamic_adar
    FROM scored s
    JOIN deg da ON da.node = s.a
    JOIN deg db ON db.node = s.b
    ORDER BY s.cn DESC, adamic_adar DESC, id_a, id_b LIMIT {k}
    """


@query("graph_link_prediction", oracle=_linkpred_oracle(30))
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-30 predicted missing edges of the SimHash hamming-2 near-dup
    graph by common-neighbor / Jaccard / Adamic–Adar scores
    (operators/graph.py::link_prediction_scores) — "which boilerplate
    families are one edit away from merging" triage. Wedge centers are
    capped at degree 64 IN THE SEMANTICS (both engines): a common
    neighbor shared with a fifth of this clique-dense graph identifies
    nothing, and it is exactly what makes Σ deg(z)² explode (86M wedges
    uncapped at sf0.1 — see the operator docstring for the measured
    numbers). The Adamic–Adar sum is integer-quantized per neighbor
    before aggregation, so both engines total identical BIGINTs
    regardless of accumulation order; the already-adjacent anti-join
    runs on the candidate set only."""
    pairs = _simhash_pairs(spark, sf_dir)
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    )
    return graph.link_prediction_scores(edges, k=30)


@query(
    "graph_clustering_coefficient",
    oracle=f"""
    WITH prs AS ({ORACLES["dedup_ngram_jaccard"]}),
    p AS (SELECT id_a AS u, id_b AS v FROM prs),
    e AS (SELECT u, v FROM p UNION ALL SELECT v, u FROM p),
    deg AS (
      SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS d FROM e GROUP BY 1
    ),
    tris AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM p e1 JOIN p e2 ON e2.u = e1.u AND e2.v > e1.v
      JOIN p e3 ON e3.u = e1.v AND e3.v = e2.v
    ),
    tri_nodes AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS t FROM (
        SELECT a AS node FROM tris
        UNION ALL SELECT b FROM tris
        UNION ALL SELECT c FROM tris
      ) GROUP BY 1
    ),
    coefs AS (
      SELECT d.node, d.d, COALESCE(tn.t, 0) AS t,
             CAST(ROUND(2.0 * {1_000_000_000} * COALESCE(tn.t, 0)
                        / (d.d * (d.d - 1)), 0) AS BIGINT) AS cq
      FROM deg d LEFT JOIN tri_nodes tn ON tn.node = d.node
      WHERE d.d >= 2
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_deg2_nodes,
           CAST(SUM(t) AS BIGINT) AS sum_node_triangles,
           ROUND(CAST(SUM(cq) AS DOUBLE) / COUNT(*) / {1_000_000_000}, 6)
             AS avg_clustering
    FROM coefs
    """,
)
def graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average local clustering coefficient over the n-gram-Jaccard
    near-dup graph — the "is my duplication cliquish or chainy" summary
    a dedup triage reads next to the component-size histogram: per node
    c_v = 2·T_v/(d_v·(d_v−1)) over nodes with degree ≥ 2, averaged.
    Per-node triangle counts come from the ordered-triple wedge join
    (u<v<w — each triangle found once, credited to all three corners);
    both engines quantize each rational c_v to 1e9 fixed-point BEFORE
    the average so the sum is exact integers (the plans/stats.py discipline).
    At 100× the wedge join is the O(m^1.5) node-iterator shape with the
    hub cut available (graph_link_prediction), and the coefficient table
    is node-sized, never pair-sized."""
    pairs = _jaccard_pairs(spark, sf_dir)
    p = pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
    e = p.unionByName(p.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = e.groupBy(F.col("u").alias("node")).agg(
        F.count("*").cast("bigint").alias("d")
    )
    e1, e2, e3 = p.alias("e1"), p.alias("e2"), p.alias("e3")
    tris = (
        e1.join(
            e2,
            (F.col("e2.u") == F.col("e1.u")) & (F.col("e2.v") > F.col("e1.v")),
        )
        .join(
            e3,
            (F.col("e3.u") == F.col("e1.v")) & (F.col("e3.v") == F.col("e2.v")),
        )
        .select(
            F.col("e1.u").alias("a"),
            F.col("e1.v").alias("b"),
            F.col("e2.v").alias("c"),
        )
    )
    tri_nodes = (
        tris.select(F.col("a").alias("node"))
        .unionAll(tris.select(F.col("b").alias("node")))
        .unionAll(tris.select(F.col("c").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("t"))
    )
    q = 1_000_000_000
    coefs = (
        deg.filter(F.col("d") >= 2)
        .join(tri_nodes, "node", "left")
        .select(
            F.coalesce(F.col("t"), F.lit(0)).cast("bigint").alias("t"),
            F.round(
                F.lit(2.0) * q * F.coalesce(F.col("t"), F.lit(0))
                / (F.col("d") * (F.col("d") - 1)),
                0,
            ).cast("bigint").alias("cq"),
        )
    )
    return coefs.agg(
        F.count("*").cast("bigint").alias("n_deg2_nodes"),
        F.sum("t").cast("bigint").alias("sum_node_triangles"),
        F.round(
            F.sum("cq").cast("double") / F.count("*") / q, 6
        ).alias("avg_clustering"),
    )


@query(
    "graph_modularity",
    oracle=f"""
    WITH prs AS ({ORACLES["dedup_ngram_jaccard"]}),
    p AS (SELECT id_a AS u, id_b AS v FROM prs),
    comp AS ({ORACLES["dedup_near_dup_groups"]}),
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM p),
    intra AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS sum_mc
      FROM p JOIN comp ca ON ca.id = p.u
             JOIN comp cb ON cb.id = p.v
      WHERE ca.component = cb.component
    ),
    deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
        SELECT u AS node FROM p UNION ALL SELECT v FROM p
      ) GROUP BY 1
    ),
    dc AS (
      SELECT CAST(SUM(dd * dd) AS BIGINT) AS sum_dc2,
             CAST(COUNT(*) AS BIGINT) AS n_components
      FROM (
        SELECT c.component, CAST(SUM(g.d) AS BIGINT) AS dd
        FROM deg g JOIN comp c ON c.id = g.node
        GROUP BY c.component
      )
    )
    SELECT m.m AS n_edges, dc.n_components,
           intra.sum_mc AS n_intra_edges,
           ROUND(CAST(4 * m.m * intra.sum_mc - dc.sum_dc2 AS DOUBLE)
                 / CAST(4 * m.m * m.m AS DOUBLE), 6) AS modularity
    FROM m, intra, dc
    """,
)
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity Q of the connected-component partition of the
    near-dup graph — the "are these components real communities or hash
    accidents" score next to the size histogram: Q = Σ_c [m_c/m −
    (d_c/2m)²], algebraically collapsed to ONE exact rational
    (4m·Σm_c − Σd_c²)/(4m²) so both engines divide identical BIGINTs —
    no per-component float sum at all (for a components partition
    Σm_c = m by definition; the value Q then measures how much degree
    mass the partition concentrates, the baseline every community
    refinement must beat). Edge list and components come from the same
    jaccard pairs + resolver the component queries use; everything after
    is component-keyed aggregation, never pair-space."""
    pairs = _jaccard_pairs(spark, sf_dir)
    comp = _components(spark, sf_dir)
    p = pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
    m_df = p.agg(F.count("*").cast("bigint").alias("m"))
    ca = comp.select(
        F.col("id").alias("u"), F.col("component").alias("comp_a")
    )
    cb = comp.select(
        F.col("id").alias("v"), F.col("component").alias("comp_b")
    )
    intra = (
        p.join(ca, "u").join(cb, "v")
        .filter(F.col("comp_a") == F.col("comp_b"))
        .agg(F.count("*").cast("bigint").alias("sum_mc"))
    )
    deg = (
        p.select(F.col("u").alias("node"))
        .unionAll(p.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("d"))
    )
    dc = (
        deg.join(comp.select(F.col("id").alias("node"), "component"), "node")
        .groupBy("component")
        .agg(F.sum("d").cast("bigint").alias("dd"))
        .agg(
            F.sum(F.col("dd") * F.col("dd")).cast("bigint").alias("sum_dc2"),
            F.count("*").cast("bigint").alias("n_components"),
        )
    )
    out = m_df.crossJoin(intra).crossJoin(dc)
    return out.select(
        F.col("m").alias("n_edges"),
        "n_components",
        F.col("sum_mc").alias("n_intra_edges"),
        F.round(
            (4 * F.col("m") * F.col("sum_mc") - F.col("sum_dc2")).cast("double")
            / (4 * F.col("m") * F.col("m")).cast("double"),
            6,
        ).alias("modularity"),
    )


@query(
    "graph_assortativity",
    oracle=f"""
    WITH prs AS ({ORACLES["dedup_ngram_jaccard"]}),
    p AS (SELECT id_a AS u, id_b AS v FROM prs),
    e AS (SELECT u, v FROM p UNION ALL SELECT v, u FROM p),
    deg AS (
      SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS d FROM e GROUP BY 1
    ),
    ends AS (
      SELECT du.d AS x, dv.d AS y
      FROM e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS m,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy,
             CAST(SUM(x * y) AS BIGINT) AS sxy
      FROM ends
    )
    SELECT m AS n_directed_edges,
           ROUND(CAST(m * sxy - sx * sy AS DOUBLE)
                 / SQRT(CAST(m * sxx - sx * sx AS DOUBLE)
                        * CAST(m * syy - sy * sy AS DOUBLE)), 6)
             AS assortativity
    FROM s
    """,
)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the near-dup graph (Newman 2002): the
    Pearson correlation of endpoint degrees over directed edges —
    positive means hubs attach to hubs (boilerplate families linking to
    each other), negative means hub-and-spoke duplication. Completes the
    graph-shape shelf next to clustering coefficient and modularity with
    the repo's integer-sum discipline: all five moments are exact BIGINTs
    over the edge list (degrees join twice, one shuffle each), one
    rounded closed-form correlation at the end."""
    pairs = _jaccard_pairs(spark, sf_dir)
    p = pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
    e = p.unionByName(p.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = e.groupBy(F.col("u").alias("node")).agg(
        F.count("*").cast("bigint").alias("d")
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("x"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("y"))
    ends = e.join(du, "u").join(dv, "v").select("x", "y")
    s = ends.agg(
        F.count("*").cast("bigint").alias("m"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    m, sx, sy, sxx, syy, sxy = (
        F.col(c) for c in ("m", "sx", "sy", "sxx", "syy", "sxy")
    )
    return s.select(
        m.alias("n_directed_edges"),
        F.round(
            (m * sxy - sx * sy).cast("double")
            / F.sqrt(
                (m * sxx - sx * sx).cast("double")
                * (m * syy - sy * sy).cast("double")
            ),
            6,
        ).alias("assortativity"),
    )


@query(
    "graph_hits_hubs_authorities",
    oracle=f"""
    WITH pairs AS ({{jac}}),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL
      SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    a0 AS (SELECT node, CAST(1 AS BIGINT) AS a FROM nodes),
    h1 AS (
      SELECT e.src AS node, CAST(SUM(a0.a) AS BIGINT) AS h
      FROM edges e JOIN a0 ON a0.node = e.dst GROUP BY e.src
    ),
    a1 AS (
      SELECT e.dst AS node, CAST(SUM(h1.h) AS BIGINT) AS a
      FROM edges e JOIN h1 ON h1.node = e.src GROUP BY e.dst
    ),
    h2 AS (
      SELECT e.src AS node, CAST(SUM(a1.a) AS BIGINT) AS h
      FROM edges e JOIN a1 ON a1.node = e.dst GROUP BY e.src
    ),
    a2 AS (
      SELECT e.dst AS node, CAST(SUM(h2.h) AS BIGINT) AS a
      FROM edges e JOIN h2 ON h2.node = e.src GROUP BY e.dst
    ),
    mx AS (SELECT MAX(h) AS mh, (SELECT MAX(a) FROM a2) AS ma FROM h2)
    SELECT n.node AS doc_id,
           COALESCE(h2.h, 0) AS hub_paths,
           COALESCE(a2.a, 0) AS auth_paths,
           ROUND(CAST(COALESCE(h2.h, 0) AS DOUBLE) / mx.mh, 6) AS hub_score,
           ROUND(CAST(COALESCE(a2.a, 0) AS DOUBLE) / mx.ma, 6) AS auth_score
    FROM nodes n
    LEFT JOIN h2 ON h2.node = n.node
    LEFT JOIN a2 ON a2.node = n.node, mx
    """.format(jac=ORACLES["dedup_ngram_jaccard"]),
)
def graph_hits_hubs_authorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS HUBS & AUTHORITIES (Kleinberg 1999) over the near-dup document
    graph — two mutual-reinforcement power iterations (h ← A·a, a ← Aᵀ·h),
    run UNNORMALIZED so every score is an exact-integer PATH COUNT
    (h₂(u) = # of length-3 alternating walks from u; power iteration is
    scale-invariant, so the ranking is the converged HITS ranking and the
    reported unit-normalized scores divide by the exact MAX — a
    comparison, not an order-sensitive float sum, which is what keeps
    this bit-identical across engines where classic L2 normalization
    would not be). Each iteration is one edge-keyed equi-join + one
    map-side-combined groupBy — the same shuffle shape per round a
    1000-executor HITS runs; counts stay ≤ m³ (BIGINT-safe to ~2M edges;
    the decimal(38,0) upgrade path is one cast). Oracle: the identical
    unrolled iterations in SQL over the identical jaccard-pair graph."""
    # r14 negative (measured, reverted): the pagerank item-5 treatment
    # (per-iteration score-vector broadcasts + final h/a checkpoints;
    # Exchange 74→14, SMJ 32→4 in the plan) LOST its A/B ~70% at matched
    # controls — unlike pagerank, every consumer here re-derives CHEAP
    # node-scale vectors inside one job whose branches run in parallel,
    # and the broadcast builds + checkpoint barriers only serialize it
    # (the reverted eigenvector lesson). Keep the lazy unrolled shape.
    edges = _edges(spark, sf_dir).localCheckpoint(eager=False)
    nodes = edges.select(F.col("src").alias("node")).distinct()
    a = nodes.select("node", F.lit(1).cast("bigint").alias("a"))
    for _ in range(2):
        h = (
            edges.join(a.withColumnRenamed("node", "dst"), "dst")
            .groupBy("src")
            .agg(F.sum("a").cast("bigint").alias("h"))
            .withColumnRenamed("src", "node")
        )
        a = (
            edges.join(h.withColumnRenamed("node", "src"), "src")
            .groupBy("dst")
            .agg(F.sum("h").cast("bigint").alias("a"))
            .withColumnRenamed("dst", "node")
        )
    mx = h.agg(F.max("h").alias("mh")).crossJoin(a.agg(F.max("a").alias("ma")))
    return (
        nodes.join(h, "node", "left")
        .join(a, "node", "left")
        .crossJoin(F.broadcast(mx))
        .select(
            F.col("node").alias("doc_id"),
            F.coalesce("h", F.lit(0)).alias("hub_paths"),
            F.coalesce("a", F.lit(0)).alias("auth_paths"),
            F.round(F.coalesce("h", F.lit(0)).cast("double") / F.col("mh"), 6).alias("hub_score"),
            F.round(F.coalesce("a", F.lit(0)).cast("double") / F.col("ma"), 6).alias("auth_score"),
        )
    )


def _harmonic_oracle(max_hops: int = 4, n_seeds: int = 4) -> str:
    fs = "".join(
        f"""
    f{h} AS (
      SELECT DISTINCT f.seed, e.dst AS node
      FROM edges e JOIN f{h - 1} f ON e.src = f.node
    ),"""
        for h in range(1, max_hops + 1)
    )
    lvls = "\n      UNION ALL ".join(
        f"SELECT seed, node, {h} AS hops FROM f{h}"
        for h in range(max_hops + 1)
    )
    return f"""
    WITH pairs AS MATERIALIZED ({_simhash2_oracle()}),
    edges AS MATERIALIZED (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL
      SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    f0 AS (
      SELECT seed, seed AS node FROM (
        SELECT src AS seed, COUNT(*) AS c FROM edges GROUP BY src
        ORDER BY c DESC, src LIMIT {n_seeds}
      )
    ),{fs}
    lv AS (
      {lvls}
    ),
    dist AS (
      SELECT seed, node, CAST(MIN(hops) AS INT) AS hops
      FROM lv GROUP BY seed, node
    )
    SELECT seed,
           CAST(COUNT(*) - 1 AS BIGINT) AS n_reached,
           FLOOR(CAST(SUM(CASE WHEN hops > 0
                      THEN CAST(FLOOR(1000000000.0 / hops + 0.5) AS BIGINT)
                      ELSE 0 END) AS DOUBLE)
                 / 1000000000 * 1000000 + 0.5) / 1000000 AS harmonic
    FROM dist GROUP BY seed
    """


@query("graph_harmonic_closeness", oracle=_harmonic_oracle(4, 4))
def graph_harmonic_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEED-SET HARMONIC CLOSENESS CENTRALITY (Marchiori & Latora 2000;
    Boldi & Vigna's preferred centrality for disconnected graphs because
    unreachable nodes contribute 0 instead of poisoning a mean): for the
    4 highest-degree hubs of the SimHash near-dup graph, h(s) =
    sum over reachable nodes of 1/d(s,u) within a 4-hop horizon — the
    'how centrally does this boilerplate family sit' readout that
    complements spectral (graph_eigenvector_centrality) and flow
    (graph_pagerank_neardup) centralities with a DISTANCE-based one.
    Exact-per-seed distances come from one multi-source level-synchronous
    BFS keyed on (seed, node) (operators/graph.py::multi_source_hops) —
    one frontier-join shuffle per level regardless of seed count. Each
    1/d term is 1e9-quantized to a BIGINT BEFORE the cross-node sum (d
    is a small positive integer, so the quantization is exact and
    engine-identical); the bounded horizon is what keeps the oracle a
    static stack of per-level CTEs."""
    pairs = _simhash_pairs(spark, sf_dir)
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    )
    dist = graph.multi_source_hops(edges, max_hops=4, n_seeds=4)
    return dist.groupBy("seed").agg(
        (F.count("*") - 1).cast("bigint").alias("n_reached"),
        (
            F.floor(
                F.sum(
                    F.when(
                        F.col("hops") > 0,
                        F.floor(1000000000.0 / F.col("hops") + F.lit(0.5)).cast(
                            "bigint"
                        ),
                    ).otherwise(F.lit(0))
                ).cast("double")
                / 1000000000
                * 1000000
                + F.lit(0.5)
            )
            / 1000000
        ).alias("harmonic"),
    )


_LPA_ROUNDS = 4


def _lpa_oracle(rounds: int = _LPA_ROUNDS) -> str:
    """Unrolled synchronous label-propagation rounds; every level is AS
    MATERIALIZED (the unrolled-iteration DuckDB discipline — without it
    the planner re-inlines each round into the next and goes
    exponential)."""
    lvls = []
    for r in range(1, rounds + 1):
        lvls.append(f"""
    l{r} AS MATERIALIZED (
      SELECT node, label FROM (
        SELECT node, label,
               ROW_NUMBER() OVER (PARTITION BY node
                 ORDER BY c DESC, label ASC) AS rn
        FROM (
          SELECT e.dst AS node, l.label, COUNT(*) AS c
          FROM edges e JOIN l{r - 1} l ON l.node = e.src
          GROUP BY 1, 2
        )
      ) WHERE rn = 1
    )""")
    chain = ",".join(lvls)
    return f"""
    WITH pairs AS MATERIALIZED ({ORACLES["dedup_ngram_jaccard"]}),
    edges AS MATERIALIZED (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL
      SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges),{chain}
    SELECT CAST(sz AS BIGINT) AS community_size,
           CAST(COUNT(*) AS BIGINT) AS n_communities
    FROM (SELECT label, COUNT(*) AS sz FROM l{rounds} GROUP BY label)
    GROUP BY sz
    """


@query("graph_label_propagation", oracle=_lpa_oracle())
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LABEL-PROPAGATION COMMUNITY DETECTION (Raghavan, Albert & Kumara
    2007) over the n-gram Jaccard near-dup graph — the near-linear-time
    community algorithm every big-graph stack ships (GraphFrames/GraphX
    labelPropagation) and the natural clustering readout beside the
    flow/spectral/distance centralities this family already carries.
    SYNCHRONOUS variant with a TOTAL deterministic tie-break: every node
    starts as its own label; each round node v adopts the label with the
    highest neighbor frequency, ties broken by SMALLEST label (the
    row_number (count DESC, label ASC) pick — classic async LPA breaks
    ties randomly, which has no oracle). 4 rounds, then the community
    size histogram (size -> how many communities), the
    duplicate-family-shape summary a dedup pipeline acts on. Scale: each
    round is one edges-to-labels equi-join + a per-node argmax window
    (partitionBy node — never global) on the capped, memoized pair table
    (plans/graph.py::_jaccard_pairs); rounds are fixed at 4, so the plan
    is a static 4-stage chain, and the localCheckpoint'ed edge list is
    scanned once per round like the PageRank row above."""
    edges = _edges(spark, sf_dir).localCheckpoint(eager=False)
    from pyspark.sql.window import Window

    labels = (
        edges.select(F.col("src").alias("node")).distinct()
        .select("node", F.col("node").alias("label"))
    )
    w = Window.partitionBy("node").orderBy(F.desc("c"), F.asc("label"))
    for _ in range(_LPA_ROUNDS):
        cnt = (
            edges.join(labels, edges["src"] == labels["node"])
            .groupBy(edges["dst"].alias("node"), "label")
            .agg(F.count("*").alias("c"))
        )
        labels = (
            cnt.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("node", "label")
        )
    sizes = labels.groupBy("label").agg(F.count("*").alias("sz"))
    return sizes.groupBy(F.col("sz").cast("bigint").alias("community_size")).agg(
        F.count("*").cast("bigint").alias("n_communities")
    )
