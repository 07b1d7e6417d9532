"""Embedding covariance + PCA (operators/pca.py): numpy reference parity,
orthonormality, variance ordering."""

from __future__ import annotations

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from kafka_avro_pipeline_java_spark.operators.pca import (
    covariance_matrix,
    pca_project,
    top_components,
)
from kafka_avro_pipeline_java_spark.sources import load_table


def _np_embeddings(sf_dir: str) -> np.ndarray:
    t = pq.read_table(f"{sf_dir}/embeddings.parquet")
    return np.array(t.column("embedding").to_pylist(), dtype=np.float64)


def _np_cov(x: np.ndarray) -> np.ndarray:
    mu = x.mean(axis=0)
    return x.T @ x / x.shape[0] - np.outer(mu, mu)


def test_covariance_matches_numpy(spark, sf_dir):
    x = _np_cov(_np_embeddings(sf_dir))
    e = load_table(spark, sf_dir, "embeddings")
    got = covariance_matrix(e, "embedding").collect()
    assert len(got) == x.shape[0] * x.shape[1]
    for r in got:
        assert abs(r.cov - round(x[r.i, r.j], 6)) <= 1e-6, (r.i, r.j)


def test_covariance_symmetric(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    cells = {(r.i, r.j): r.cov for r in covariance_matrix(e, "embedding").collect()}
    for (i, j), v in cells.items():
        assert cells[(j, i)] == v


def test_top_components_orthonormal_and_ordered(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    vals, vecs, mu = top_components(e, "embedding", k=3)
    assert vals[0] >= vals[1] >= vals[2] > 0
    gram = vecs @ vecs.T
    assert np.allclose(gram, np.eye(3), atol=1e-9)
    # deterministic sign: leading coordinate positive
    for r in range(vecs.shape[0]):
        assert vecs[r, int(np.argmax(np.abs(vecs[r])))] > 0


def test_top_components_match_numpy_eigh(spark, sf_dir):
    x = _np_embeddings(sf_dir)
    w_ref, v_ref = np.linalg.eigh(_np_cov(x))
    order = np.argsort(w_ref)[::-1][:2]
    e = load_table(spark, sf_dir, "embeddings")
    vals, vecs, _ = top_components(e, "embedding", k=2)
    assert np.allclose(vals, w_ref[order], rtol=1e-9, atol=1e-12)
    for r in range(2):
        ref = v_ref[:, order[r]]
        if ref[int(np.argmax(np.abs(ref)))] < 0:
            ref = -ref
        assert np.allclose(vecs[r], ref, atol=1e-9)


def test_projection_variance_equals_eigenvalues(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    vals, _, _ = top_components(e, "embedding", k=2)
    proj = pca_project(e, "embedding", "vec_id", k=2)
    [r] = proj.agg(
        F.var_pop("pc1").alias("v1"), F.var_pop("pc2").alias("v2"),
        F.avg("pc1").alias("m1"), F.avg("pc2").alias("m2"),
    ).collect()
    # projections are mean-centered, and each axis captures exactly its
    # eigenvalue of variance (rounding to 6dp perturbs ~1e-12)
    assert abs(r.m1) < 1e-5 and abs(r.m2) < 1e-5
    assert abs(r.v1 - vals[0]) < 1e-5
    assert abs(r.v2 - vals[1]) < 1e-5
    assert r.v1 >= r.v2


def test_projection_matches_numpy_reference(spark, sf_dir):
    x = _np_embeddings(sf_dir)
    e = load_table(spark, sf_dir, "embeddings")
    vals, vecs, mu = top_components(e, "embedding", k=2)
    ref = (x - mu) @ vecs.T
    got = {r.id: (r.pc1, r.pc2)
           for r in pca_project(e, "embedding", "vec_id", k=2).collect()}
    ids = [r.vec_id for r in e.select("vec_id").orderBy("vec_id").collect()]
    for pos, vid in enumerate(ids):
        assert abs(got[vid][0] - ref[pos, 0]) < 2e-6
        assert abs(got[vid][1] - ref[pos, 1]) < 2e-6


# ---------------------------------------------------------------------------
# PCA snapshot provenance
# ---------------------------------------------------------------------------


def test_pca_snapshot_matches_trainer(spark):
    """plans/pca_snapshot.py must stay exactly what
    operators/pca.py::top_components(k=2) produces on the sf0.01
    embeddings (the provenance re-assertion the ivf snapshot carries in
    tests/test_similarity.py): re-train and compare within 1e-6."""
    import numpy as np

    from kafka_avro_pipeline_java_spark.operators import pca
    from kafka_avro_pipeline_java_spark.plans.pca_snapshot import (
        PCA_COMPONENTS_SF001,
        PCA_EIGENVALUES_SF001,
        PCA_MEAN_DOT_SF001,
    )
    from kafka_avro_pipeline_java_spark.sources.tables import load_table

    e = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    vals, vecs, mu = pca.top_components(e, "embedding", k=2)
    assert np.allclose(vals, PCA_EIGENVALUES_SF001, atol=1e-6)
    assert np.allclose(vecs, np.array(PCA_COMPONENTS_SF001), atol=1e-6)
    assert np.allclose(
        [float(mu @ vecs[0]), float(mu @ vecs[1])],
        PCA_MEAN_DOT_SF001,
        atol=1e-6,
    )
