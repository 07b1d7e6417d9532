"""Dedup operators and plans: containment pairs, golden-record
survivorship, capture-recapture duplicate estimates."""

from kafka_avro_pipeline_java_spark.operators.dedup import containment_pairs


# ---------------------------------------------------------------------------
# containment pairs and golden records
# ---------------------------------------------------------------------------


def test_containment_is_asymmetric(spark):
    # short doc fully inside a long doc: containment(short→long) = 1.0,
    # while the reverse direction is far below threshold
    short = "alpha beta gamma delta epsilon"
    long = short + " " + " ".join(f"w{i} x{i} y{i}" for i in range(30))
    df = spark.createDataFrame([(1, short), (2, long)], "doc_id long, text string")
    out = {(r.id_a, r.id_b): r.containment
           for r in containment_pairs(df, "text", "doc_id", k=3, threshold=0.9).collect()}
    assert out == {(1, 2): 1.0}


def test_containment_threshold_filters(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c x y z q r s t u v")],
        "doc_id long, text string",
    )
    # doc 1 has 3 shingles (a b c, b c d, c d e); only "a b c" shared → 1/3
    out = containment_pairs(df, "text", "doc_id", k=3, threshold=0.5).collect()
    assert out == []
    out = {(r.id_a, r.id_b): r.containment
           for r in containment_pairs(df, "text", "doc_id", k=3, threshold=0.3).collect()}
    assert out[(1, 2)] == 0.3333


def test_golden_record_survivorship_invariants(spark, sf_dir):
    """Every golden record: entity_id is the cluster min member id, the
    cluster has >= 2 members (components only contain paired docs), the
    survivor text length equals the longest member's, and the canonical
    lang/source are attribute values that actually occur in the cluster."""
    from kafka_avro_pipeline_java_spark.operators import dedup as dd
    from kafka_avro_pipeline_java_spark.plans import QUERIES
    from kafka_avro_pipeline_java_spark.sources import load_table

    out = {r["entity_id"]: r for r in
           QUERIES["dedup_golden_record"](spark, sf_dir).collect()}
    d = load_table(spark, sf_dir, "documents")
    pairs = dd.ngram_jaccard_pairs(d, "text", "doc_id", k=3, threshold=0.1)
    comp = dd.connected_components(pairs)
    members = {}
    for r in comp.join(d, comp["id"] == d["doc_id"]).collect():
        members.setdefault(r["component"], []).append(r)
    assert set(out) == set(members)
    for eid, rec in out.items():
        mem = members[eid]
        assert rec["n_members"] == len(mem) >= 2
        assert eid == min(m["doc_id"] for m in mem)
        assert rec["survivor_text_len"] == max(len(m["text"]) for m in mem)
        assert rec["canonical_lang"] in {m["lang"] for m in mem}
        assert rec["canonical_source"] in {m["source"] for m in mem}
        assert rec["total_chars"] == sum(m["n_chars"] for m in mem)


# ---------------------------------------------------------------------------
# capture-recapture estimate
# ---------------------------------------------------------------------------


def test_capture_recapture_consistent_on_homogeneous_pairs(spark):
    """Lincoln–Petersen is consistent when catchability is homogeneous:
    on a planted cluster of near-identical vectors (every true pair at
    cos ≥ 0.99, so per-band detection is uniformly high) the two
    disjoint-plane detectors' estimate n_A·n_B/overlap must land within
    25% of the true pair count — the regime the registered query's
    docstring claims (and the uniform-corpus bias it documents is real:
    the sf0.1 estimate is 50 vs 920 true)."""
    import random

    from kafka_avro_pipeline_java_spark.functions.vectors import lcg_planes
    from kafka_avro_pipeline_java_spark.operators import dedup

    rng = random.Random(23)
    center = [rng.gauss(0, 1) for _ in range(16)]
    rows = [(i, [x + rng.gauss(0, 0.01) for x in center]) for i in range(30)]
    rows += [(100 + j, [rng.gauss(0, 1) for _ in range(16)]) for j in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    planes = lcg_planes(64, 16, seed=42)
    half = len(planes) // 2
    pa = {(r["id_a"], r["id_b"]) for r in dedup.embedding_near_pairs_bucketed(
        df, "embedding", "vec_id", planes[:half], threshold=0.9, bands=2,
        max_bucket=100).collect()}
    pb = {(r["id_a"], r["id_b"]) for r in dedup.embedding_near_pairs_bucketed(
        df, "embedding", "vec_id", planes[half:], threshold=0.9, bands=2,
        max_bucket=100).collect()}
    true_pairs = 30 * 29 // 2  # every cluster pair verifies at 0.9
    overlap = len(pa & pb)
    assert overlap > 0
    est = len(pa) * len(pb) / overlap
    assert abs(est - true_pairs) / true_pairs < 0.25, (len(pa), len(pb), overlap, est)
