"""ANN recall regression tests: the approximate paths (LSH hyperplane
buckets, IVF coarse probes) must keep finding most of the true neighbors.

Recall here = |approx top-k ∩ exact top-k| / k against the same query.

Two data regimes:
- the driver's sf0.01 embeddings (uniform-random — the WORST case for
  locality-sensitive methods, no cluster structure to exploit): floors are
  conservative (LSH measured 0.8, IVF 0.8 at 16/4 over 500 vectors);
- seeded CLUSTERED vectors (the regime ANN indexes are built for): both
  paths must reach ≥ 0.7 at the registered configurations.

sf0.01 is pinned here (not the sf0.001 unit-test default): 16 centroids
over sf0.001's ~50 vectors is degenerate, and sf0.01 is the scale the
driver actually grades at.
"""

import random

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from kafka_avro_pipeline_java_spark.operators import similarity
from kafka_avro_pipeline_java_spark.operators.pq import sq8_encode
from kafka_avro_pipeline_java_spark.plans import QUERIES


SF_DIR = "/root/testdata/sf0.001"
RECALL_SF_DIR = "/root/testdata/sf0.01"

finite = st.floats(
    min_value=-100.0, max_value=100.0, allow_nan=False, allow_infinity=False
)
vec4 = st.lists(finite, min_size=4, max_size=4)


def _top_ids(df) -> list[int]:
    return [r["vec_id"] for r in df.collect()]


@pytest.fixture(scope="module")
def exact_top5(spark):
    return _top_ids(QUERIES["knn_cosine_bruteforce"](spark, RECALL_SF_DIR))


def test_lsh_recall_floor_uniform(spark, exact_top5):
    """5 hyperplanes + Hamming-2 multiprobe: measured 0.8 recall on the
    uniform-random driver embeddings; assert a 0.6 floor (3 of 5)."""
    approx = _top_ids(QUERIES["knn_cosine_lsh"](spark, RECALL_SF_DIR))
    recall = len(set(approx) & set(exact_top5)) / len(exact_top5)
    assert recall >= 0.6, f"LSH recall {recall} (approx={approx}, exact={exact_top5})"


def test_ivf_recall_floor_uniform(spark, exact_top5):
    """16 centroids / 4 probes: measured 0.8 on the driver embeddings;
    assert a 0.6 floor."""
    approx = _top_ids(QUERIES["knn_cosine_ivf"](spark, RECALL_SF_DIR))
    recall = len(set(approx) & set(exact_top5)) / len(exact_top5)
    assert recall >= 0.6, f"IVF recall {recall} (approx={approx}, exact={exact_top5})"


def test_lsh_scores_match_exact_for_found_neighbors(spark):
    """Approximation must only SUBSET the candidates, never change scores:
    any (vec_id, cos_sim) the LSH path returns must equal the exact score."""
    exact = {r["vec_id"]: r["cos_sim"]
             for r in QUERIES["knn_cosine_bruteforce"](spark, RECALL_SF_DIR).collect()}
    for r in QUERIES["knn_cosine_lsh"](spark, RECALL_SF_DIR).collect():
        if r["vec_id"] in exact:
            assert r["cos_sim"] == exact[r["vec_id"]]


# --------------------------------------------------------------------------
# clustered-data recall: the regime ANN indexes exist for
# --------------------------------------------------------------------------
@pytest.fixture(scope="module")
def clustered(spark):
    """400 vectors in 8 well-separated clusters (seeded), dim 16. The query
    is a member of cluster 0, so its true neighbors are cluster-0 mates."""
    rng = random.Random(7)
    centers = [[rng.gauss(0, 1) for _ in range(16)] for _ in range(8)]
    rows = []
    for vid in range(400):
        c = centers[vid % 8]
        rows.append((vid, [x + rng.gauss(0, 0.05) for x in c]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qv = rows[0][1]
    return df, qv


def test_ivf_recall_clustered(spark, clustered):
    df, qv = clustered
    exact = [r["vec_id"] for r in
             similarity.brute_force_knn(spark, df, "embedding", "vec_id", qv, 5).collect()]
    approx = [r["vec_id"] for r in
              similarity.ivf_knn(spark, df, "embedding", "vec_id", qv,
                                 n_centroids=16, n_probe=4, k=5).collect()]
    recall = len(set(approx) & set(exact)) / len(exact)
    assert recall >= 0.7, f"IVF clustered recall {recall}"


def test_lsh_recall_clustered(spark, clustered):
    df, qv = clustered
    exact = [r["vec_id"] for r in
             similarity.brute_force_knn(spark, df, "embedding", "vec_id", qv, 5).collect()]
    # same deterministic LCG plane generation as the registered query
    planes, state = [], 42
    for _ in range(5):
        row = []
        for _ in range(16):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            row.append((state >> 33) / float(1 << 31) - 1.0)
        planes.append(row)
    approx = [r["vec_id"] for r in
              similarity.lsh_bucketed_knn(spark, df, "embedding", "vec_id", qv,
                                          planes, k=5).collect()]
    recall = len(set(approx) & set(exact)) / len(exact)
    assert recall >= 0.7, f"LSH clustered recall {recall}"


def test_bucketed_embedding_near_dup_recall_clustered(spark, clustered):
    """In the regime the operator exists for (true near-dups, cos >= 0.9),
    the LSH-bucket prefilter must keep nearly every real pair: each cluster
    mate pair agrees on almost every hyperplane sign, so recall vs the
    exact O(n^2) operator must be >= 0.9 (theory: ~0.95+ per 4-bit band)."""
    from kafka_avro_pipeline_java_spark.functions.vectors import lcg_planes
    from kafka_avro_pipeline_java_spark.operators import dedup

    df, _ = clustered
    planes = lcg_planes(8, 16, seed=42)
    exact = {(r["id_a"], r["id_b"]) for r in
             dedup.embedding_near_pairs(df, "embedding", "vec_id", threshold=0.9).collect()}
    bucketed = {(r["id_a"], r["id_b"]) for r in
                dedup.embedding_near_pairs_bucketed(
                    df, "embedding", "vec_id", planes, threshold=0.9, bands=2
                ).collect()}
    assert exact, "clustered fixture produced no true near-dup pairs"
    assert bucketed <= exact  # never invents pairs; same verify expression
    recall = len(bucketed & exact) / len(exact)
    assert recall >= 0.9, f"bucketed near-dup recall {recall} over {len(exact)} pairs"


def test_bucketed_embedding_near_dup_recall_registered_geometry(spark, clustered):
    """Recall floor at the REGISTERED geometry of dedup_embedding_bucketed
    (plans/vectors.py _DEDUP_PLANES: 4 bands × 16 bits, max_bucket=100):
    cluster mates (cos >= 0.99, per-plane sign agreement ~0.98) collide in
    a 16-bit band with ~0.98^16 ~= 0.72 probability, so four bands find a
    mate pair with ~1 - 0.28^4 ~= 0.994. The fixture's clusters hold 50
    vectors each — under the cap — so the all-pairs light path carries the
    recall here; the heavy-bucket star path is pinned separately by
    test_dedup_skew.py::test_embedding_heavy_bucket_cap_*."""
    from kafka_avro_pipeline_java_spark.functions.vectors import lcg_planes
    from kafka_avro_pipeline_java_spark.operators import dedup

    df, _ = clustered
    planes = lcg_planes(64, 16, seed=42)
    exact = {(r["id_a"], r["id_b"]) for r in
             dedup.embedding_near_pairs(df, "embedding", "vec_id", threshold=0.9).collect()}
    bucketed = {(r["id_a"], r["id_b"]) for r in
                dedup.embedding_near_pairs_bucketed(
                    df, "embedding", "vec_id", planes, threshold=0.9, bands=4,
                    max_bucket=100,
                ).collect()}
    assert exact, "clustered fixture produced no true near-dup pairs"
    assert bucketed <= exact
    recall = len(bucketed & exact) / len(exact)
    assert recall >= 0.9, f"16-bit-band near-dup recall {recall} over {len(exact)} pairs"


def test_bucketed_topk_recall_clustered(spark, clustered):
    """Batch approximate kNN (LSH candidate pairs + window) must find most
    true top-3 neighbors when the data is clustered: cluster mates agree on
    nearly every hyperplane sign, so mean recall must be >= 0.9."""
    from kafka_avro_pipeline_java_spark.functions.vectors import lcg_planes
    from kafka_avro_pipeline_java_spark.operators.similarity import bucketed_topk_neighbors

    df, _ = clustered
    rows = {r["vec_id"]: r["embedding"] for r in df.collect()}

    import math

    def cos(a, b):
        da = math.sqrt(sum(x * x for x in a))
        db = math.sqrt(sum(x * x for x in b))
        return sum(x * y for x, y in zip(a, b)) / (da * db)

    exact_top3 = {}
    for vid, v in rows.items():
        scored = sorted(
            ((cos(v, w), -wid) for wid, w in rows.items() if wid != vid), reverse=True
        )[:3]
        exact_top3[vid] = {-negid for _, negid in scored}

    # the registered geometry of knn_topk_bucketed: 16 planes / 2 bands,
    # max_bucket=100 target truncation (fixture buckets stay under it)
    planes = lcg_planes(16, 16, seed=42)
    approx = bucketed_topk_neighbors(spark, df, "embedding", "vec_id", planes,
                                     k=3, bands=2, max_bucket=100).collect()
    found = {}
    for r in approx:
        found.setdefault(r["vec_id"], set()).add(r["neighbor_id"])
    recalls = [len(found.get(vid, set()) & exact_top3[vid]) / 3 for vid in rows]
    mean_recall = sum(recalls) / len(recalls)
    assert mean_recall >= 0.9, f"bucketed batch-kNN mean recall {mean_recall}"


# --------------------------------------------------------------------------
# k-means trainer (operators/clustering.py) — the IVF index-build path
# --------------------------------------------------------------------------
def test_kmeans_recovers_planted_clusters(spark, clustered):
    """8 well-separated planted clusters, k=8: every true center must end up
    within cos >= 0.99 of some trained centroid, and the inertia trace must
    be monotone non-increasing (Lloyd's invariant)."""
    import math

    from kafka_avro_pipeline_java_spark.operators.clustering import train_kmeans

    df, _ = clustered
    cents, info = train_kmeans(df, "embedding", k=8, max_iters=10, seed=42)
    hist = info["inertia_history"]
    assert all(a >= b - 1e-9 for a, b in zip(hist, hist[1:])), hist

    def cos(a, b):
        da = math.sqrt(sum(x * x for x in a))
        db = math.sqrt(sum(x * x for x in b))
        return sum(x * y for x, y in zip(a, b)) / (da * db)

    # recompute the true cluster means from the fixture construction
    rows = df.collect()
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r["vec_id"] % 8, []).append(r["embedding"])
    for members in by_cluster.values():
        mean = [sum(xs) / len(xs) for xs in zip(*members)]
        assert max(cos(mean, c) for c in cents) >= 0.99


def test_kmeans_euclidean_matches_numpy_reference(spark, clustered):
    """One Lloyd iteration from a fixed init must produce exactly the
    centroids a plain numpy implementation computes (same assignment
    tie-break: lowest centroid id on equal distance)."""
    import numpy as np

    from kafka_avro_pipeline_java_spark.operators.clustering import train_kmeans

    df, _ = clustered
    cents, _ = train_kmeans(df, "embedding", k=4, max_iters=1, seed=7,
                            metric="euclidean", init="sample")
    X = np.array([r["embedding"] for r in df.collect()])
    # replicate the deterministic init (hash-ordered sample) by running the
    # same init path, then one numpy Lloyd step
    from kafka_avro_pipeline_java_spark.operators.clustering import _init_centroids

    init = np.array(_init_centroids(df, "embedding", 4, 7))
    d2 = ((X[:, None, :] - init[None, :, :]) ** 2).sum(axis=2)
    assign = d2.argmin(axis=1)
    expected = np.array([
        X[assign == c].mean(axis=0) if (assign == c).any() else init[c]
        for c in range(4)
    ])
    np.testing.assert_allclose(np.array(cents), expected, rtol=1e-9, atol=1e-9)


def test_ivf_trained_centroids_recall_clustered(spark, clustered):
    """IVF probing 2 of 8 TRAINED cells must still find the true top-5 —
    the trained index localizes each cluster into one cell, so fewer probes
    reach the same recall as 4 random-sample probes."""
    from kafka_avro_pipeline_java_spark.operators.clustering import train_kmeans

    df, qv = clustered
    cents, _ = train_kmeans(df, "embedding", k=8, max_iters=5, seed=42)
    exact = [r["vec_id"] for r in
             similarity.brute_force_knn(spark, df, "embedding", "vec_id", qv, 5).collect()]
    approx = [r["vec_id"] for r in
              similarity.ivf_knn(spark, df, "embedding", "vec_id", qv,
                                 n_probe=2, k=5, centroids=cents).collect()]
    recall = len(set(approx) & set(exact)) / len(exact)
    assert recall >= 0.8, f"trained-IVF clustered recall {recall}"


def test_ivf_probes_restrict_candidates(spark):
    """IVF with fewer probes must score a subset of what more probes score
    (sanity: the probe knob actually prunes), and probing every cell
    degenerates to the exact full scan."""
    from kafka_avro_pipeline_java_spark.sources import load_table

    e = load_table(spark, RECALL_SF_DIR, "embeddings")
    qv = [float(x) for x in e.filter(F.col("vec_id") == 0).first()["embedding"]]

    def candidates(n_probe):
        return set(
            _top_ids(similarity.ivf_knn(spark, e, "embedding", "vec_id", qv,
                                        n_centroids=16, n_probe=n_probe, k=10**6))
        )

    c1, c4, c16 = candidates(1), candidates(4), candidates(16)
    assert c1 <= c4 <= c16
    assert len(c1) < len(c16)  # pruning actually happened
    assert len(c16) == e.count()


# --------------------------------------------------------------------------
# product quantization (operators/pq.py)
# --------------------------------------------------------------------------
def test_pq_adc_shortlist_captures_true_neighbors(spark, clustered):
    """PQ separates CLUSTERS, not within-cluster micro-ranking (quantization
    error exceeds mate-to-mate similarity deltas) — so the contract is:
    (a) the ADC top-5 all come from the query's cluster, and (b) an ADC
    shortlist of 50 captures >= 0.8 of the exact top-5 (the property the
    re-rank stage depends on)."""
    from kafka_avro_pipeline_java_spark.operators.pq import (
        pq_adc_topk, pq_encode, train_pq)

    df, qv = clustered
    books = train_pq(df, "embedding", m=8, ksub=16, seed=42)
    codes = pq_encode(df, "embedding", "vec_id", books)
    top5 = [r["vec_id"] for r in pq_adc_topk(codes, qv, books, k=5).collect()]
    assert all(v % 8 == 0 for v in top5), f"off-cluster ids in ADC top-5: {top5}"
    exact = [r["vec_id"] for r in
             similarity.brute_force_knn(spark, df, "embedding", "vec_id", qv, 5).collect()]
    short = [r["vec_id"] for r in pq_adc_topk(codes, qv, books, k=50).collect()]
    capture = len(set(short) & set(exact)) / len(exact)
    assert capture >= 0.8, f"ADC-50 shortlist captured {capture} of exact top-5"


def test_pq_rerank_recall_clustered(spark, clustered):
    """Two-stage ADC shortlist + exact re-rank: recall@5 >= 0.8 — the
    quality the production read path actually ships."""
    from kafka_avro_pipeline_java_spark.operators.pq import (
        pq_encode, pq_rerank_topk, train_pq)

    df, qv = clustered
    books = train_pq(df, "embedding", m=8, ksub=16, seed=42)
    codes = pq_encode(df, "embedding", "vec_id", books)
    exact = [r["vec_id"] for r in
             similarity.brute_force_knn(spark, df, "embedding", "vec_id", qv, 5).collect()]
    approx = [r["vec_id"] for r in
              pq_rerank_topk(spark, df, codes, "embedding", "vec_id", qv, books,
                             k=5, shortlist=50).collect()]
    recall = len(set(approx) & set(exact)) / len(exact)
    assert recall >= 0.8, f"PQ re-rank clustered recall {recall}"


def test_pq_codes_deterministic_and_bounded(spark, clustered):
    """Same data + seed → identical codebooks and codes; every code is a
    valid codebook index."""
    from kafka_avro_pipeline_java_spark.operators.pq import pq_encode, train_pq

    df, _ = clustered
    b1 = train_pq(df, "embedding", m=8, ksub=16, seed=42)
    b2 = train_pq(df, "embedding", m=8, ksub=16, seed=42)
    assert b1 == b2
    rows = pq_encode(df, "embedding", "vec_id", b1).collect()
    assert len(rows) == 400
    for r in rows:
        assert len(r["codes"]) == 8
        assert all(0 <= c < 16 for c in r["codes"])
    rows2 = pq_encode(df, "embedding", "vec_id", b2).collect()
    assert sorted(map(tuple, ((r["id"], tuple(r["codes"])) for r in rows))) == \
        sorted(map(tuple, ((r["id"], tuple(r["codes"])) for r in rows2)))


def test_ivf_pq_recall_and_shuffle_free_plan(spark, clustered):
    """IVF+PQ end-to-end. With re-rank: recall@5 >= 0.8 on clustered data.
    ADC-only: the read path (assign → probe filter → encode → ADC score →
    top-k) contains NO Exchange before the TakeOrdered — the whole query is
    a projection pipeline over the scan."""
    from kafka_avro_pipeline_java_spark.operators.clustering import train_kmeans
    from kafka_avro_pipeline_java_spark.operators.pq import ivf_pq_topk, train_pq

    df, qv = clustered
    cents, _ = train_kmeans(df, "embedding", k=8, max_iters=5, seed=42)
    books = train_pq(df, "embedding", m=8, ksub=16, seed=42)
    out = ivf_pq_topk(spark, df, "embedding", "vec_id", qv, cents, books,
                      n_probe=2, k=5, rerank=50)
    exact = [r["vec_id"] for r in
             similarity.brute_force_knn(spark, df, "embedding", "vec_id", qv, 5).collect()]
    approx = [r["vec_id"] for r in out.collect()]
    recall = len(set(approx) & set(exact)) / len(exact)
    assert recall >= 0.8, f"IVF+PQ clustered recall {recall}"

    adc_only = ivf_pq_topk(spark, df, "embedding", "vec_id", qv, cents, books,
                           n_probe=2, k=5)
    plan = adc_only._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_pq_index_save_load_roundtrip(spark, sf_dir, tmp_path):
    """Persisted index answers the same query as the in-session one —
    build once, query from disk without retraining or re-encoding."""
    from kafka_avro_pipeline_java_spark.operators.pq import (
        load_pq_index,
        pq_adc_topk,
        pq_encode,
        save_pq_index,
        train_pq,
    )
    from kafka_avro_pipeline_java_spark.functions.vectors import lcg_planes
    from kafka_avro_pipeline_java_spark.sources import load_table

    e = load_table(spark, sf_dir, "embeddings")
    qv = lcg_planes(1, 64, seed=31337)[0]
    books = train_pq(e, "embedding", m=8, ksub=16, sample_size=1000)
    live = pq_adc_topk(pq_encode(e, "embedding", "vec_id", books), qv, books, k=5).collect()

    path = str(tmp_path / "pqidx")
    save_pq_index(e, "embedding", "vec_id", path, codebooks=books)
    codes, books2 = load_pq_index(spark, path)
    assert books2 == books
    persisted = pq_adc_topk(codes, qv, books2, k=5).collect()
    assert [tuple(r) for r in live] == [tuple(r) for r in persisted]


def test_assignment_expression_and_dataframe_forms_agree(spark, sf_dir):
    """The expression form (assign_to_centroids) and the materialized
    DataFrame form (with_centroid_assignment) are the same function —
    bit-identical centroid ids on real data, both metrics."""
    from kafka_avro_pipeline_java_spark.functions.vectors import lcg_planes
    from kafka_avro_pipeline_java_spark.operators.clustering import (
        assign_to_centroids,
        with_centroid_assignment,
    )
    from kafka_avro_pipeline_java_spark.sources import load_table

    e = load_table(spark, sf_dir, "embeddings")
    cents = lcg_planes(8, 64, seed=77)
    for metric in ("cosine", "euclidean"):
        expr = {
            r["vec_id"]: r["cid"]
            for r in e.select(
                "vec_id", assign_to_centroids("embedding", cents, metric).alias("cid")
            ).collect()
        }
        mat = {
            r["vec_id"]: r["__cid"]
            for r in with_centroid_assignment(e, "embedding", cents, metric)
            .select("vec_id", "__cid")
            .collect()
        }
        assert expr == mat, metric


def test_ivf_partitioned_codes_prune_partitions(spark, sf_dir, tmp_path):
    """The 100 TB IVF layout claim made concrete: codes STORED partitioned
    by coarse cell turn the probe filter into partition pruning — the scan
    reads only the probed cells' directories."""
    from kafka_avro_pipeline_java_spark.functions.vectors import lcg_planes
    from kafka_avro_pipeline_java_spark.operators.clustering import (
        with_centroid_assignment,
    )
    from kafka_avro_pipeline_java_spark.operators.pq import pq_encode
    from kafka_avro_pipeline_java_spark.sources import load_table

    e = load_table(spark, sf_dir, "embeddings")
    cents = lcg_planes(8, 64, seed=77)
    books = [
        [[x / 8.0 for x in cw] for cw in lcg_planes(16, 8, seed=100 + s)]
        for s in range(8)
    ]
    codes = pq_encode(e, "embedding", "vec_id", books)
    assigned = with_centroid_assignment(e, "embedding", cents, "cosine").select(
        F.col("vec_id").alias("id"), F.col("__cid").alias("cid")
    )
    path = str(tmp_path / "ivf_codes")
    codes.join(assigned, "id").write.partitionBy("cid").parquet(path)

    probed = spark.read.parquet(path).filter(F.col("cid").isin([0, 3]))
    plan = probed._sc._jvm.PythonSQLUtils.explainString(
        probed._jdf.queryExecution(), "formatted"
    )
    import re as _re

    m = _re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "cid" in m.group(1), plan
    # only the two probed cells' rows come back
    cells = {r["cid"] for r in probed.select("cid").distinct().collect()}
    assert cells <= {0, 3}


def test_sq8_recall_floor_vs_exact_l2(spark):
    """SQ8 quantizes each dim to 256 levels, so its ADC top-5 should be
    nearly indistinguishable from exact L2 top-5; assert >= 4 of 5."""
    from kafka_avro_pipeline_java_spark.operators.pq import (
        sq8_adc_topk,
        sq8_encode,
    )
    from kafka_avro_pipeline_java_spark.sources import load_table

    e = load_table(spark, RECALL_SF_DIR, "embeddings")
    qdf = e.filter(F.col("vec_id") == 0).select(
        F.transform("embedding", lambda x: x.cast("double")).alias("q")
    )
    exact = (
        e.crossJoin(F.broadcast(qdf))
        .select(
            "vec_id",
            F.aggregate(
                F.zip_with(
                    "embedding",
                    "q",
                    lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("d"),
        )
        .orderBy(F.asc("d"), F.asc("vec_id"))
        .limit(5)
    )
    exact_ids = [r.vec_id for r in exact.collect()]
    approx = sq8_adc_topk(sq8_encode(e, "embedding", "vec_id"), qdf, k=5)
    approx_ids = [r.id for r in approx.collect()]
    recall = len(set(approx_ids) & set(exact_ids)) / 5
    assert recall >= 0.8, f"SQ8 recall {recall} ({approx_ids} vs {exact_ids})"


def test_filtered_knn_pushes_label_filter_into_scan(spark, sf_dir):
    # pre-filtering, not post-filtering: the label predicate must reach
    # the parquet scan so selective filters shrink the scan itself
    import re

    from kafka_avro_pipeline_java_spark.plans import QUERIES

    df = QUERIES["knn_filtered_cosine"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    pushed = re.search(r"PushedFilters: \[(.*?)\]", plan)
    assert pushed is not None
    assert "label" in pushed.group(1)
    rows = df.collect()
    assert 0 < len(rows) <= 5
    assert all(r["label"] == 3 for r in rows)


def test_trained_snapshot_matches_trainer(spark):
    """plans/ivf_snapshot.py must stay what train_kmeans actually produces
    on the sf0.01 corpus (the provenance claim behind
    knn_cosine_ivf_trained_oracle). Tolerance 1e-6: float-sum merge order
    across shuffle partitions can wobble the last bits."""
    from kafka_avro_pipeline_java_spark.operators.clustering import train_kmeans
    from kafka_avro_pipeline_java_spark.plans.ivf_snapshot import (
        TRAINED_CENTS_SF001,
    )
    from kafka_avro_pipeline_java_spark.sources import load_table

    e = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    cents, _ = train_kmeans(e, "embedding", k=16, max_iters=5, seed=42)
    assert len(cents) == len(TRAINED_CENTS_SF001) == 16
    for got, snap in zip(cents, TRAINED_CENTS_SF001):
        assert max(abs(a - b) for a, b in zip(got, snap)) < 1e-6


def test_trained_books_snapshot_matches_trainer(spark):
    """plans/ivf_snapshot.py codebooks must stay what train_pq actually
    produces on the sf0.01 corpus (the provenance claim behind the
    oracled knn_cosine_ivf_pq). Tolerance 1e-6, same rationale as the
    centroid snapshot test above."""
    from kafka_avro_pipeline_java_spark.operators.pq import train_pq
    from kafka_avro_pipeline_java_spark.plans.ivf_snapshot import (
        TRAINED_BOOKS_SF001,
    )
    from kafka_avro_pipeline_java_spark.sources import load_table

    e = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    books = train_pq(e, "embedding", m=8, ksub=16, seed=42)
    assert len(books) == len(TRAINED_BOOKS_SF001) == 8
    for gs, ss in zip(books, TRAINED_BOOKS_SF001):
        assert len(gs) == len(ss) == 16
        for got, snap in zip(gs, ss):
            assert max(abs(a - b) for a, b in zip(got, snap)) < 1e-6


def test_sampled_snapshot_matches_sampler(spark):
    """plans/ivf_snapshot.py::SAMPLED_CENTS_SF001 must stay what ivf_knn's
    default deterministic sampler (orderBy xxhash64(vec_id + 42) LIMIT 16)
    actually draws from the sf0.01 corpus — the provenance claim behind the
    r13 value-oracled knn_cosine_ivf. Exact equality: the sample is a
    row SELECTION (no float reduction), so no tolerance is needed."""
    from pyspark.sql import functions as F

    from kafka_avro_pipeline_java_spark.plans.ivf_snapshot import (
        SAMPLED_CENTS_SF001,
    )
    from kafka_avro_pipeline_java_spark.sources import load_table

    e = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    rows = (
        e.select("embedding")
        .orderBy(F.xxhash64(F.col("vec_id") + 42))
        .limit(16)
        .collect()
    )
    got = [[float(x) for x in r[0]] for r in rows]
    assert got == SAMPLED_CENTS_SF001


# ---------------------------------------------------------------------------
# SQ8 scalar quantization
# ---------------------------------------------------------------------------


@settings(max_examples=8, deadline=None)
@given(st.lists(vec4, min_size=2, max_size=12))
def test_sq8_codes_in_range_and_decode_within_bin(spark, vecs):
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vid long, emb array<double>")
    codes = sq8_encode(df, "emb", "vid").collect()
    assert len(codes) == len(vecs)
    lo = [min(v[d] for v in vecs) for d in range(4)]
    hi = [max(v[d] for v in vecs) for d in range(4)]
    for r in codes:
        for d, c in enumerate(r.codes):
            # codes are always bytes
            assert 0 <= c <= 255
            span = hi[d] - lo[d]
            if span == 0:
                assert c == 0
                continue
            # decoding to the bin CENTER lands within half a bin of the
            # original value — the quantization error bound
            dec = lo[d] + (c + 0.5) * span / 256.0
            x = vecs[r.id][d]
            assert abs(dec - x) <= span / 256.0 + 1e-9


# ---------------------------------------------------------------------------
# sign-sketch shortlist
# ---------------------------------------------------------------------------


def test_sign_sketch_scores_are_exact_and_consistent(spark):
    """The binary-quantization path may PRUNE (the Hamming shortlist is
    approximate) but must never INVENT: every returned (vec_id, cos_sim,
    hamming) must equal the exact cosine and exact sign-mismatch count
    recomputed in python, and the 5 rows must be the cosine-descending
    head of the 50-shortlist."""
    import math

    import duckdb

    from kafka_avro_pipeline_java_spark.plans.vectors import _IVF_QV

    rows = QUERIES["knn_sign_sketch_hamming"](spark, SF_DIR).collect()
    assert len(rows) == 5
    emb = dict(
        duckdb.sql(
            f"SELECT vec_id, embedding FROM '{SF_DIR}/embeddings.parquet'"
        ).fetchall()
    )
    qn = math.sqrt(sum(x * x for x in _IVF_QV))
    sims = [r["cos_sim"] for r in rows]
    assert sims == sorted(sims, reverse=True)
    for r in rows:
        v = emb[r["vec_id"]]
        ham = sum(1 for x, q in zip(v, _IVF_QV) if (x > 0) != (q > 0))
        assert r["hamming"] == ham
        vn = math.sqrt(sum(x * x for x in v))
        cos = sum(x * q for x, q in zip(v, _IVF_QV)) / (vn * qn)
        assert abs(r["cos_sim"] - cos) < 1e-6


# ---------------------------------------------------------------------------
# shared-base bucketed embedding pairs
# ---------------------------------------------------------------------------


def test_embedding_bucketed_shared_base_matches_default(spark):
    """The `base` override of embedding_near_pairs_bucketed (one shared
    plane-dot scan, sliced per detector — the capture-recapture
    optimization) must produce EXACTLY the pairs and cosines of the
    default per-call derivation, for both plane halves."""
    import random

    from pyspark.sql import functions as F

    from kafka_avro_pipeline_java_spark.functions.vectors import (
        lcg_planes,
        norm,
    )
    from kafka_avro_pipeline_java_spark.operators import dedup
    from kafka_avro_pipeline_java_spark.operators.similarity import plane_dots

    rng = random.Random(7)
    center = [rng.gauss(0, 1) for _ in range(16)]
    rows = [(i, [x + rng.gauss(0, 0.02) for x in center]) for i in range(25)]
    rows += [(200 + j, [rng.gauss(0, 1) for _ in range(16)]) for j in range(25)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    planes = lcg_planes(64, 16, seed=42)
    half = len(planes) // 2
    shared = (
        df.select(
            F.col("vec_id").alias("id"),
            F.col("embedding").alias("v"),
            norm("embedding").alias("nrm"),
            plane_dots("embedding", planes).alias("__pd_all"),
        )
        .repartition(4)
        .localCheckpoint(eager=False)
    )
    for lo, hi, sl in (
        (0, half, F.slice("__pd_all", 1, half)),
        (half, len(planes), F.slice("__pd_all", half + 1, half)),
    ):
        want = {
            (r["id_a"], r["id_b"], r["cos_sim"])
            for r in dedup.embedding_near_pairs_bucketed(
                df, "embedding", "vec_id", planes[lo:hi],
                threshold=0.9, bands=2, max_bucket=100,
            ).collect()
        }
        got = {
            (r["id_a"], r["id_b"], r["cos_sim"])
            for r in dedup.embedding_near_pairs_bucketed(
                df, "embedding", "vec_id", planes[lo:hi],
                threshold=0.9, bands=2, max_bucket=100,
                base=shared.select("id", "v", "nrm", sl.alias("__pd")),
            ).collect()
        }
        assert want and got == want, (lo, hi, len(want), len(got))
