"""Graph operators (operators/graph.py): mass conservation, hub ranking,
symmetry, and the EWMA recurrence."""

import itertools

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from kafka_avro_pipeline_java_spark.operators.graph import (
    degree_stats,
    pagerank,
    triangle_count,
    triangle_count_sampled,
)


SF_DIR = "/root/testdata/sf0.001"


def _edges(spark, pairs):
    sym = pairs + [(b, a) for a, b in pairs]
    return spark.createDataFrame(sym, "src long, dst long")


def test_pagerank_mass_conserved_and_hub_ranked(spark):
    # star: node 0 linked to 1..5 — the hub must outrank every leaf, and
    # total rank stays 1 (symmetrized graph has no dangling mass)
    e = _edges(spark, [(0, i) for i in range(1, 6)])
    ranks = {r.node: r.rank for r in pagerank(e, iters=5).collect()}
    assert abs(sum(ranks.values()) - 1.0) < 1e-9
    hub = ranks.pop(0)
    assert all(hub > v for v in ranks.values())
    assert len(set(round(v, 12) for v in ranks.values())) == 1  # leaves tie


def test_pagerank_ring_is_uniform(spark):
    n = 6
    e = _edges(spark, [(i, (i + 1) % n) for i in range(n)])
    ranks = [r.rank for r in pagerank(e, iters=4).collect()]
    assert len(ranks) == n
    assert max(ranks) - min(ranks) < 1e-12
    assert abs(sum(ranks) - 1.0) < 1e-9


def test_pagerank_directed_keeps_in_edgeless_nodes(spark):
    # plain DIRECTED graph 0→1, 1→2, 2→1: node 0 has out-edges (so it is
    # in the node set) but NO in-edges — it must still appear in the
    # result with exactly its restart mass (1-d)/N, and total mass over
    # the node set must stay 1 (previously 0 silently vanished after the
    # first groupBy(dst) and its mass with it).
    e = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 1)], "src long, dst long"
    )
    ranks = {r.node: r.rank for r in pagerank(e, iters=4).collect()}
    assert set(ranks) == {0, 1, 2}  # 0 survives despite no in-edges
    assert ranks[0] == pytest.approx((1 - 0.85) / 3)
    assert abs(sum(ranks.values()) - 1.0) < 1e-9  # no mass lost


def test_eigenvector_directed_keeps_in_edgeless_nodes(spark):
    from kafka_avro_pipeline_java_spark.operators.graph import (
        eigenvector_centrality,
    )

    e = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 1)], "src long, dst long"
    )
    ranks = {r.node: r.rank for r in eigenvector_centrality(e, iters=3).collect()}
    assert set(ranks) == {0, 1, 2}
    assert ranks[0] == 0.0  # no in-edges → score 0, but the row survives


def test_degree_stats_counts_both_endpoints(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (4, 5)], "id_a long, id_b long"
    )
    got = {
        r.degree: r.n_nodes
        for r in degree_stats(pairs, src="id_a", dst="id_b").collect()
    }
    assert got == {2: 1, 1: 4}  # node 1 has degree 2; 2,3,4,5 degree 1


def test_ewma_constant_series_is_constant(spark, sf_dir):
    from kafka_avro_pipeline_java_spark.plans import QUERIES

    out = QUERIES["events_ewma_hourly"](spark, sf_dir)
    # recurrence invariant: every ewma lies within [min(v), max(v)] seen so
    # far per user — check the global bound as a cheap proxy
    row = out.agg(
        F.min(F.col("ewma") - F.col("v")).alias("lo"),
        F.max(F.col("ewma") - F.col("v")).alias("hi"),
        F.count("*").alias("n"),
    ).collect()[0]
    assert row.n > 0
    # first point: ewma == v exactly
    first = (
        out.withColumn(
            "rn",
            F.row_number().over(
                __import__("pyspark.sql.window", fromlist=["Window"]).Window
                .partitionBy("user_id").orderBy("hour")
            ),
        )
        .filter(F.col("rn") == 1)
        .filter(F.abs(F.col("ewma") - F.col("v")) > 1e-9)
        .count()
    )
    assert first == 0


def test_triangle_count_on_planted_cliques(spark):
    from kafka_avro_pipeline_java_spark.operators.graph import triangle_count

    # K4 (4 triangles) + K3 (1) + a path (0) + isolated edge (0)
    k4 = [(i, j) for i in range(4) for j in range(i + 1, 4)]
    k3 = [(10, 11), (10, 12), (11, 12)]
    path = [(20, 21), (21, 22)]
    extra = [(30, 31)]
    pairs = spark.createDataFrame(k4 + k3 + path + extra, "id_a long, id_b long")
    got = triangle_count(pairs).collect()[0].n_triangles
    assert got == 4 + 1


def test_triangle_count_matches_naive_on_random_graph(spark):
    import itertools
    import random

    from kafka_avro_pipeline_java_spark.operators.graph import triangle_count

    rng = random.Random(7)
    nodes = range(30)
    pairs = [
        (a, b) for a, b in itertools.combinations(nodes, 2) if rng.random() < 0.2
    ]
    want = sum(
        1
        for a, b, c in itertools.combinations(nodes, 3)
        if ((a, b) in pairs and (b, c) in pairs and (a, c) in pairs)
    )
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    assert triangle_count(df).collect()[0].n_triangles == want


def test_triangle_sampled_unbiased_and_bounded(spark):
    import itertools
    import random

    from kafka_avro_pipeline_java_spark.operators.graph import (
        triangle_count,
        triangle_count_sampled,
    )

    rng = random.Random(11)
    nodes = range(60)
    pairs = [
        (a, b) for a, b in itertools.combinations(nodes, 2) if rng.random() < 0.3
    ]
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    exact = triangle_count(df).collect()[0].n_triangles
    est_row = triangle_count_sampled(df, inv_rate=4, seed="tri").collect()[0]
    # p=1/4 edge-leg gating: sqrt((1-p)/(p*T)) is the independent-triangle
    # lower bound on sigma; correlation groups (common neighbors per leg)
    # are ~1 on this sparse random graph, so 5x the bound is a safe band
    sigma = (0.75 / (0.25 * exact)) ** 0.5
    assert est_row.est_triangles == est_row.n_closed * 4
    assert abs(est_row.est_triangles - exact) / exact <= 5 * sigma
    # determinism: the hash gate is a pure function of the graph
    again = triangle_count_sampled(df, inv_rate=4, seed="tri").collect()[0]
    assert again.est_triangles == est_row.est_triangles


def test_triangle_sampled_full_rate_is_exact(spark):
    from kafka_avro_pipeline_java_spark.operators.graph import (
        triangle_count_sampled,
    )

    # inv_rate=1 -> gate threshold 2^60, every wedge edge-leg passes the gate -> exact
    k4 = [(i, j) for i in range(4) for j in range(i + 1, 4)]
    k3 = [(10, 11), (10, 12), (11, 12)]
    pairs = spark.createDataFrame(k4 + k3, "id_a long, id_b long")
    row = triangle_count_sampled(pairs, inv_rate=1).collect()[0]
    assert row.est_triangles == 4 + 1


def test_k_core_matches_python_peeling(spark):
    import itertools
    import random

    from kafka_avro_pipeline_java_spark.operators.graph import k_core

    rng = random.Random(11)
    pairs = [
        (a, b) for a, b in itertools.combinations(range(40), 2)
        if rng.random() < 0.12
    ]

    def py_kcore(edges, k):
        edges = set(edges)
        while True:
            deg = {}
            for a, b in edges:
                deg[a] = deg.get(a, 0) + 1
                deg[b] = deg.get(b, 0) + 1
            bad = {n for n, d in deg.items() if d < k}
            if not bad:
                return deg
            edges = {(a, b) for a, b in edges if a not in bad and b not in bad}

    want = py_kcore(pairs, 3)
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    got = {r.node: r.degree for r in k_core(df, 3).collect()}
    assert got == want


def test_k_core_of_clique_is_whole_clique(spark):
    k5 = [(i, j) for i in range(5) for j in range(i + 1, 5)]
    pendant = [(0, 99), (99, 98)]  # chain that must peel away at k=3
    df = spark.createDataFrame(k5 + pendant, "id_a long, id_b long")
    from kafka_avro_pipeline_java_spark.operators.graph import k_core

    got = {r.node: r.degree for r in k_core(df, 3).collect()}
    assert set(got) == {0, 1, 2, 3, 4}
    assert all(d == 4 for d in got.values())


def test_k_core_rounds_prefix_reaches_fixpoint(spark, sf_dir):
    from kafka_avro_pipeline_java_spark.operators import dedup
    from kafka_avro_pipeline_java_spark.operators.graph import (
        k_core,
        k_core_rounds,
    )
    from kafka_avro_pipeline_java_spark.sources import load_table

    d = load_table(spark, sf_dir, "documents")
    pairs = dedup.simhash_near_pairs_portable(
        d, "text", "doc_id", max_hamming=2
    ).select("id_a", "id_b")
    fixpoint = {
        (r.node, r.degree) for r in k_core(pairs, 3).collect()
    }
    prefix = {
        (r.node, r.degree) for r in k_core_rounds(pairs, 3, 3).collect()
    }
    # three rounds suffice on this graph: the oracle-backed prefix IS the
    # fixpoint (if the testdata ever deepens the peeling, bump rounds in
    # plans/graph.py::graph_kcore_rounds and this assertion together)
    assert prefix == fixpoint


def test_link_prediction_scores_toy_graph(spark):
    # path a-b-c plus hub d connected to a,b,c:
    #   candidates (non-adjacent, sharing neighbors): (a,c) via {b,d}
    from kafka_avro_pipeline_java_spark.operators.graph import (
        link_prediction_scores,
    )

    und = [("a", "b"), ("b", "c"), ("d", "a"), ("d", "b"), ("d", "c")]
    sym = und + [(v, u) for u, v in und]
    edges = spark.createDataFrame(sym, ["src", "dst"])
    rows = {
        (r["id_a"], r["id_b"]): r
        for r in link_prediction_scores(edges, k=10).collect()
    }
    import math

    assert ("a", "c") in rows
    r = rows[("a", "c")]
    assert r["cn"] == 2  # common neighbors b and d
    # deg a=2, c=2, cn=2 -> jaccard 2/(2+2-2)=1.0
    assert r["jaccard"] == 1.0
    aa = round(round(1e6 / math.log(3)) + round(1e6 / math.log(3))) / 1e6
    assert abs(r["adamic_adar"] - round(aa, 6)) < 1e-9
    # adjacent pairs must be absent
    assert ("a", "b") not in rows and ("b", "c") not in rows


# ---------------------------------------------------------------------------
# sampled triangle estimator
# ---------------------------------------------------------------------------


@settings(max_examples=6, deadline=None)
@given(st.integers(min_value=0, max_value=2**31), st.floats(min_value=0.1, max_value=0.4))
def test_triangle_sampled_full_support_and_exact_at_rate_one(spark, seed, p):
    del p  # density fixed; seed drives the graph
    import random

    rng = random.Random(seed)
    pairs = [
        (a, b)
        for a, b in itertools.combinations(range(24), 2)
        if rng.random() < 0.3
    ]
    if not pairs:
        return
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    exact = triangle_count(df).collect()[0].n_triangles
    full = triangle_count_sampled(df, inv_rate=1).collect()[0]
    # at p=1 the estimator IS the exact degree-ordered count
    assert full.est_triangles == exact
    part = triangle_count_sampled(df, inv_rate=4).collect()[0]
    # a p=1/4 estimate can never exceed 4x the exact count's wedge closures
    assert 0 <= part.n_closed <= exact
    assert part.est_triangles == part.n_closed * 4


# ---------------------------------------------------------------------------
# HITS
# ---------------------------------------------------------------------------


def test_hits_path_count_semantics(spark):
    """On a hand-built path graph A—B—C (undirected), two alternating
    rounds from all-ones give exact walk counts: h2 = A(A(A·1)) with
    symmetric A — checked against the closed-form numpy power product."""
    import numpy as np

    from kafka_avro_pipeline_java_spark.operators import dedup  # noqa: F401

    # build via the same plan shape as the registered query but on a tiny
    # explicit edge list evaluated by hand
    edges = [(0, 1), (1, 2)]
    A = np.zeros((3, 3), dtype=np.int64)
    for u, v in edges:
        A[u, v] = A[v, u] = 1
    a0 = np.ones(3, dtype=np.int64)
    h1 = A @ a0
    a1 = A @ h1
    h2 = A @ a1
    a2 = A @ h2
    sym = spark.createDataFrame(
        [(u, v) for u, v in edges] + [(v, u) for u, v in edges], "src long, dst long"
    )
    nodes = sym.select(F.col("src").alias("node")).distinct()
    a = nodes.select("node", F.lit(1).cast("bigint").alias("a"))
    for _ in range(2):
        h = (
            sym.join(a.withColumnRenamed("node", "dst"), "dst")
            .groupBy("src").agg(F.sum("a").alias("h"))
            .withColumnRenamed("src", "node")
        )
        a = (
            sym.join(h.withColumnRenamed("node", "src"), "src")
            .groupBy("dst").agg(F.sum("h").alias("a"))
            .withColumnRenamed("dst", "node")
        )
    got_h = {r["node"]: r["h"] for r in h.collect()}
    got_a = {r["node"]: r["a"] for r in a.collect()}
    assert got_h == {i: int(h2[i]) for i in range(3)}
    assert got_a == {i: int(a2[i]) for i in range(3)}


# ---------------------------------------------------------------------------
# multi-source hops, harmonic closeness, TextRank
# ---------------------------------------------------------------------------


def test_multi_source_hops_tiny_graph(spark):
    """Per-seed distances on a hand-built path-plus-branch graph: the
    (seed, node) frontier must keep seeds separate (bfs_hops would fold
    them into one min) and report true shortest hops within the bound."""
    from kafka_avro_pipeline_java_spark.operators.graph import multi_source_hops

    # undirected path 1-2-3-4 plus branch 2-5; hubs by degree: 2 (deg 3)
    # then 3 (deg 2); with n_seeds=2 those are the seeds.
    und = [(1, 2), (2, 3), (3, 4), (2, 5)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src bigint, dst bigint"
    )
    got = {
        (r["seed"], r["node"]): r["hops"]
        for r in multi_source_hops(edges, max_hops=3, n_seeds=2).collect()
    }
    assert got[(2, 2)] == 0 and got[(2, 1)] == 1 and got[(2, 4)] == 2
    assert got[(3, 3)] == 0 and got[(3, 1)] == 2 and got[(3, 5)] == 2
    # two distinct seeds, all nodes reachable within 3 hops
    assert len({s for s, _ in got}) == 2
    assert len(got) == 10


def test_harmonic_closeness_bounds(spark):
    """h(s) <= n_reached (each 1/d term is <= 1) and n_reached >= degree
    of the seed (all neighbors are at distance 1)."""
    from kafka_avro_pipeline_java_spark.plans import QUERIES

    rows = QUERIES["graph_harmonic_closeness"](spark, SF_DIR).collect()
    assert 1 <= len(rows) <= 4
    for r in rows:
        assert 0 <= r["harmonic"] <= r["n_reached"] + 1e-9


def test_textrank_scores_positive_and_ranked(spark):
    """TextRank output: 20 rows, scores positive (every node keeps the
    (1-d) teleport mass), non-increasing in rank order."""
    from kafka_avro_pipeline_java_spark.plans import QUERIES

    rows = QUERIES["text_textrank_keywords"](spark, SF_DIR).collect()
    assert len(rows) == 20
    scores = [r["textrank"] for r in rows]
    assert all(s >= 0.15 - 1e-9 for s in scores)  # >= (1-d)
    assert scores == sorted(scores, reverse=True)


# ---------------------------------------------------------------------------
# synchronous label propagation
# ---------------------------------------------------------------------------


def _lpa_reference(pairs, rounds):
    """Pure-Python synchronous LPA with the (count desc, label asc)
    tie-break, mirroring plans/graph.py::graph_label_propagation."""
    nbrs: dict[int, list[int]] = {}
    for a, b in pairs:
        nbrs.setdefault(a, []).append(b)
        nbrs.setdefault(b, []).append(a)
    labels = {v: v for v in nbrs}
    for _ in range(rounds):
        nxt = {}
        for v, ns in nbrs.items():
            counts: dict[int, int] = {}
            for u in ns:
                counts[labels[u]] = counts.get(labels[u], 0) + 1
            nxt[v] = min(counts, key=lambda lb: (-counts[lb], lb))
        labels = nxt
    return labels


def test_lpa_matches_python_reference_on_barbell(spark):
    """Two 4-cliques joined by a bridge edge: LPA must (a) agree with
    the Python reference exactly per node, (b) settle each clique on one
    label. Run through the same join/window loop as the registered query
    by rebuilding it on an in-memory edge list."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    pairs = (
        [(a, b) for a in (1, 2, 3, 4) for b in (1, 2, 3, 4) if a < b]
        + [(a, b) for a in (10, 11, 12, 13) for b in (10, 11, 12, 13) if a < b]
        + [(4, 10)]
    )
    rounds = 4
    expect = _lpa_reference(pairs, rounds)

    edges = spark.createDataFrame(
        pairs + [(b, a) for a, b in pairs], "src long, dst long"
    )
    labels = (
        edges.select(F.col("src").alias("node")).distinct()
        .select("node", F.col("node").alias("label"))
    )
    w = Window.partitionBy("node").orderBy(F.desc("c"), F.asc("label"))
    for _ in range(rounds):
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
    got = {r["node"]: r["label"] for r in labels.collect()}
    assert got == expect
    # each clique converged to a single community
    assert len({got[v] for v in (1, 2, 3, 4)}) == 1
    assert len({got[v] for v in (10, 11, 12, 13)}) == 1
