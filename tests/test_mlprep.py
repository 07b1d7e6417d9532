"""ML-prep plans (plans/mlprep.py) against brute-force references:
exact ROC-AUC, mutual information, referential-orphan audit."""

import math

import duckdb

from kafka_avro_pipeline_java_spark.plans import QUERIES


def test_roc_auc_matches_bruteforce_pair_count(spark, sf_dir):
    """The bucket-CDF rank-sum AUC equals the O(n^2) definition
    P(s_pos > s_neg) + 0.5 P(s_pos = s_neg), computed by brute force
    from the same (y, sq) rows at sf0.001."""
    from kafka_avro_pipeline_java_spark.plans.mlprep import _scored

    rows = _scored(spark, sf_dir).collect()
    pos = sorted(r["sq"] for r in rows if r["y"] == 1)
    neg = sorted(r["sq"] for r in rows if r["y"] == 0)
    assert pos and neg
    # brute force via two pointers over sorted lists (exact, fast enough)
    import bisect

    u2 = 0
    for p in pos:
        lo = bisect.bisect_left(neg, p)
        hi = bisect.bisect_right(neg, p)
        u2 += 2 * lo + (hi - lo)
    expect_auc = u2 / (2.0 * len(pos) * len(neg))

    out = QUERIES["ml_roc_auc_exact"](spark, sf_dir).collect()[0]
    assert out["n_pos"] == len(pos) and out["n_neg"] == len(neg)
    assert abs(out["auc"] - expect_auc) < 1e-6
    assert abs(out["gini"] - (2 * expect_auc - 1)) < 2e-6
    # the generator assigns o_orderstatus uniformly at random (measured
    # |corr| < 0.04 vs price/date/custkey at sf0.001-0.01), so the honest
    # expectation is AUC near 0.5 — the assertion is the EXACT rank-sum
    # identity above, not separability of synthetic labels
    assert 0.4 < out["auc"] < 0.6


def test_mutual_information_matches_direct_computation(sf_dir, spark):
    """MI / entropies / NMI from the registered query equal a direct
    float computation over the exact joint counts (DuckDB-sourced), to
    within the 1e-6 output quantization."""
    con = duckdb.connect()
    cells = con.execute(
        f"""SELECT o_orderpriority, o_orderstatus, COUNT(*)
            FROM '{sf_dir}/orders.parquet' GROUP BY 1, 2"""
    ).fetchall()
    n = sum(c for _, _, c in cells)
    nx: dict[str, int] = {}
    ny: dict[str, int] = {}
    for x, y, c in cells:
        nx[x] = nx.get(x, 0) + c
        ny[y] = ny.get(y, 0) + c
    mi = sum(
        c / n * math.log(c * n / (nx[x] * ny[y])) for x, y, c in cells
    )
    hx = -sum(v / n * math.log(v / n) for v in nx.values())
    hy = -sum(v / n * math.log(v / n) for v in ny.values())

    out = QUERIES["features_mutual_information"](spark, sf_dir).collect()[0]
    assert out["n_rows"] == n
    assert abs(out["mi_nats"] - mi) < 2e-6
    assert abs(out["h_priority"] - hx) < 2e-6
    assert abs(out["h_status"] - hy) < 2e-6
    assert abs(out["nmi"] - mi / min(hx, hy)) < 2e-6


def test_orphan_audit_counts_seeded_orphans(spark, tmp_path, sf_dir):
    """On the clean corpus every edge reports zero orphans; after seeding
    two orphan lineitem rows into a copy, the audit reports exactly 2 on
    the lineitem->orders edge (the audit must COUNT, not just flag)."""
    import shutil

    from pyspark.sql import functions as F

    out = {
        r["edge"]: r
        for r in QUERIES["quality_referential_orphans"](spark, sf_dir).collect()
    }
    assert len(out) == 6
    assert all(r["n_orphans"] == 0 and r["orphan_ppm"] == 0 for r in out.values())

    work = tmp_path / "sf"
    work.mkdir()
    for t in ("customer", "lineitem", "orders", "part", "supplier", "nation"):
        shutil.copy(f"{sf_dir}/{t}.parquet", work / f"{t}.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    seeded = li.limit(2).withColumn("l_orderkey", F.lit(-999999).cast("long"))
    li.unionByName(seeded).coalesce(1).write.mode("overwrite").parquet(
        str(work / "lineitem.parquet")
    )
    out2 = {
        r["edge"]: r
        for r in QUERIES["quality_referential_orphans"](
            spark, str(work)
        ).collect()
    }
    assert out2["lineitem.l_orderkey->orders"]["n_orphans"] == 2
    assert out2["orders.o_custkey->customer"]["n_orphans"] == 0
