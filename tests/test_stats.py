"""Statistics plans (plans/stats.py) against pure-Python references."""

import duckdb


SF_DIR = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# Levene / Brown-Forsythe and multiple-testing corrections
# ---------------------------------------------------------------------------


def test_levene_matches_python_reference(spark):
    """Recompute Brown-Forsythe W from the parquet directly (numpy-free
    exact Python) and compare to the query's quantized output."""
    import duckdb

    from kafka_avro_pipeline_java_spark.plans import QUERIES

    got = QUERIES["stats_levene_brown_forsythe"](spark, SF_DIR).collect()[0]
    con = duckdb.connect()
    rows = con.execute(
        f"""SELECT o_orderpriority,
                   CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
            FROM read_parquet('{SF_DIR}/orders.parquet')"""
    ).fetchall()
    from collections import defaultdict
    import statistics

    by = defaultdict(list)
    for gname, cents in rows:
        by[gname].append(cents)
    z = {gname: [abs(c - statistics.median(v)) for c in v] for gname, v in by.items()}
    nt = sum(len(v) for v in z.values())
    k = len(z)
    zbar = sum(sum(v) for v in z.values()) / nt
    ssb = sum(len(v) * (sum(v) / len(v) - zbar) ** 2 for v in z.values())
    ssw = sum(sum((x - sum(v) / len(v)) ** 2 for x in v) for v in z.values())
    w_ref = (nt - k) / (k - 1) * ssb / ssw
    assert abs(got["w_stat"] - w_ref) < 1e-3
    assert got["n_total"] == nt and got["n_groups"] == k


def test_holm_dominates_bh_and_is_monotone(spark):
    """Holm adjusted p-values are monotone non-decreasing in rank order,
    >= the raw p, and pointwise >= the BH adjustment on the same tests
    (FWER control is strictly stronger than FDR control)."""
    from kafka_avro_pipeline_java_spark.plans import QUERIES

    holm = {
        (r["src_a"], r["src_b"]): r
        for r in QUERIES["stats_holm_bonferroni"](spark, SF_DIR).collect()
    }
    bh = {
        (r["src_a"], r["src_b"]): r["p_adjusted"]
        for r in QUERIES["stats_fdr_bh_sources"](spark, SF_DIR).collect()
    }
    assert set(holm) == set(bh) and len(holm) >= 3
    ordered = sorted(holm.values(), key=lambda r: (r["p_value"], r["src_a"], r["src_b"]))
    adj = [r["p_adjusted"] for r in ordered]
    assert adj == sorted(adj)
    for k, r in holm.items():
        assert r["p_adjusted"] >= r["p_value"] - 1e-9
        assert r["p_adjusted"] >= bh[k] - 1e-9
