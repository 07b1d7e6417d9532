"""Operator-level quality tests: as-of edge cases, MinHash estimate
quality vs exact Jaccard, multimodal resize/frame-sample plumbing."""

import pytest
from pyspark.sql import functions as F

from kafka_avro_pipeline_java_spark.operators import dedup
from kafka_avro_pipeline_java_spark.operators.asof import asof_join
from kafka_avro_pipeline_java_spark.operators.multimodal import (
    resize_images,
    sample_frames,
    text_as_media,
)


# --------------------------------------------------------------------------
# as-of join edge cases
# --------------------------------------------------------------------------
def test_asof_equal_ts_and_no_match(spark):
    left = spark.createDataFrame(
        [(1, 10, 100), (1, 20, 101), (2, 5, 102)], "k long, ts long, event_id long"
    )
    right = spark.createDataFrame(
        # k=1: quotes at ts=10 (two, tiebreak by event_id), ts=15
        [(1, 10, 1, 1.0), (1, 10, 2, 2.0), (1, 15, 3, 3.0), (3, 1, 4, 9.9)],
        "k long, ts long, event_id long, px double",
    )
    out = asof_join(left, right, on="k", ts="ts", value_cols=["px"], tiebreak="event_id")
    got = {r["event_id"]: r["px"] for r in out.collect()}
    assert got[100] == 2.0   # equal ts counts ("at or before"); max event_id wins
    assert got[101] == 3.0   # latest quote before ts=20
    assert got[102] is None  # key 2 has no quotes at all


def test_asof_tolerance(spark):
    import pyspark.sql.functions as F2

    left = spark.createDataFrame(
        [(1, 100, 1), (1, 200, 2)], "k long, ts long, event_id long"
    )
    right = spark.createDataFrame(
        [(1, 95, 10, 5.0), (1, 120, 11, 6.0)], "k long, ts long, event_id long, px double"
    )
    out = asof_join(left, right, on="k", ts="ts", value_cols=["px"],
                    tiebreak="event_id", tolerance=F2.lit(10))
    got = {r["event_id"]: r["px"] for r in out.collect()}
    assert got[1] == 5.0    # match at ts=95, staleness 5 <= 10
    assert got[2] is None   # latest match ts=120, staleness 80 > 10 → nulled


def test_asof_does_not_leak_across_keys(spark):
    left = spark.createDataFrame([(1, 100, 1)], "k long, ts long, event_id long")
    right = spark.createDataFrame([(2, 50, 9, 7.0)], "k long, ts long, event_id long, px double")
    out = asof_join(left, right, on="k", ts="ts", value_cols=["px"], tiebreak="event_id")
    assert out.first()["px"] is None


# --------------------------------------------------------------------------
# MinHash estimate quality: candidates found by LSH should estimate close
# to the exact Jaccard of the same pair
# --------------------------------------------------------------------------
def test_minhash_estimates_track_exact_jaccard(spark, sf_dir):
    from kafka_avro_pipeline_java_spark.sources import load_table

    d = load_table(spark, sf_dir, "documents")
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(d, "text", "doc_id", k=3, threshold=0.0
                                           ).collect()
    }
    est = dedup.minhash_lsh_pairs(
        d, "text", "doc_id", k=3, num_hashes=64, bands=16, threshold=0.3
    ).collect()
    assert est, "MinHash-LSH found no candidate pairs"
    errs = [abs(r["est_jaccard"] - exact.get((r["id_a"], r["id_b"]), 0.0)) for r in est]
    # 64 hashes → stderr ≈ sqrt(j(1-j)/64) ≤ 0.0625; allow 3σ
    assert sum(errs) / len(errs) < 0.1
    assert max(errs) < 0.25


# --------------------------------------------------------------------------
# connected components / keep-one dedup
# --------------------------------------------------------------------------
@pytest.mark.parametrize("local_threshold", [1_000_000, 0],
                         ids=["local-union-find", "distributed-propagation"])
def test_connected_components_vs_union_find(spark, local_threshold):
    import random

    rng = random.Random(42)
    n, m = 300, 260
    pair_list = sorted({tuple(sorted(rng.sample(range(n), 2))) for _ in range(m)})

    # python union-find ground truth
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pair_list:
        parent[find(a)] = find(b)
    truth = {}
    for x in range(n):
        r = find(x)
        truth.setdefault(r, set()).add(x)
    want = {x: min(g) for g in truth.values() for x in g if len(g) > 1 or x in dict(pair_list)}

    pairs = spark.createDataFrame(pair_list, "id_a long, id_b long")
    got = {
        r["id"]: r["component"]
        for r in dedup.connected_components(
            pairs, local_threshold=local_threshold
        ).collect()
    }
    # compare only nodes that appear in pairs (isolated nodes aren't labeled)
    nodes_in_pairs = {x for p in pair_list for x in p}
    for x in nodes_in_pairs:
        assert got[x] == min(truth[find(x)]), f"node {x}"


def test_df_cap_kills_boilerplate_pairs_but_keeps_planted_near_dups(spark):
    """Skew guard: a shingle shared by EVERY doc (boilerplate header) must
    not generate candidate pairs once df > max_doc_freq, while a planted
    near-dup pair connected by RARE shingles must survive the cap."""
    boiler = "terms of service apply to all content here"
    rows = [(i, f"{boiler} item {i} alpha{i} beta{i} gamma{i} delta{i}")
            for i in range(40)]
    # planted near-dups: long shared unique tail, df=2 shingles
    tail = "zebra quokka axolotl pangolin capuchin marmoset tarsier loris"
    rows += [(100, f"{boiler} {tail} one"), (101, f"{boiler} {tail} two")]
    d = spark.createDataFrame(rows, "doc_id long, text string")

    uncapped = dedup.ngram_jaccard_pairs(d, "text", "doc_id", k=3, threshold=0.01)
    capped = dedup.ngram_jaccard_pairs(d, "text", "doc_id", k=3, threshold=0.01,
                                       max_doc_freq=10)
    n_uncapped = uncapped.count()
    capped_pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in capped.collect()}
    # without the cap, boilerplate shingles connect every doc pair
    assert n_uncapped > 100
    # with the cap, ONLY the planted pair remains — and with high Jaccard
    # (its rare shared shingles dominate its capped shingle sets)
    assert set(capped_pairs) == {(100, 101)}
    assert capped_pairs[(100, 101)] > 0.5

    # same survival property through the MinHash-LSH path
    mh = dedup.minhash_lsh_pairs_portable(d, "text", "doc_id", threshold=0.5,
                                          max_doc_freq=10)
    assert (100, 101) in {(r["id_a"], r["id_b"]) for r in mh.collect()}


def test_minhash_similarity_join_matches_across_tables(spark):
    """Cross-table fuzzy join: planted near-identical texts across the two
    tables match; unrelated texts don't; the broadcast path returns the
    identical result and keeps the big side shuffle-free."""
    tail = "zebra quokka axolotl pangolin capuchin marmoset tarsier loris"
    left_rows = [(0, f"unrelated left row about {i} oranges apples pears kiwis plums"
                  .replace("0", str(i), 1)) for i in range(10)]
    left_rows += [(100, f"shared header {tail} left variant one")]
    right_rows = [(1000 + i, f"completely different right text {i} cars boats trains planes bikes")
                  for i in range(10)]
    right_rows += [(1100, f"shared header {tail} right variant two")]
    a = spark.createDataFrame(left_rows, "doc_id long, text string")
    b = spark.createDataFrame(right_rows, "doc_id long, text string")

    got = dedup.minhash_similarity_join(
        a, b, "text", "doc_id", "doc_id", k=3, num_hashes=64, bands=16,
        threshold=0.4,
    )
    pairs = {(r["id_a"], r["id_b"]) for r in got.collect()}
    assert pairs == {(100, 1100)}

    bcast = dedup.minhash_similarity_join(
        a, b, "text", "doc_id", "doc_id", k=3, num_hashes=64, bands=16,
        threshold=0.4, broadcast_b=True,
    )
    assert {(r["id_a"], r["id_b"]) for r in bcast.collect()} == pairs
    # with both b-side tables broadcast, candidate generation AND verify
    # are broadcast hash joins — the a-side never shuffles for the join
    plan = bcast._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_dedup_pair_generation_storage_is_releasable(spark, sf_dir):
    """Repeated dedup calls in one session must not grow executor storage
    WITHOUT BOUND. Since r13 the shingle/signature tables are materialized
    per call behind lazy localCheckpoints (AQE's broadcast conversion of
    the verify joins defeats plain exchange reuse — see operators/dedup.py),
    and checkpoint blocks are NOT reclaimed by garbage collection under the
    py4j pinned-thread gateway, so the contract is an explicit lifecycle:
    ``session.release_transient_checkpoints`` at a query boundary returns
    the session to its storage baseline, with session-pinned memo artifacts
    (``checkpoint_session_artifact``) exempt. This guards both directions:
    a materialization that the release pass cannot see (e.g. a module-level
    .cache()) leaves a residue and fails; a release pass that broke would
    also fail."""
    from kafka_avro_pipeline_java_spark.session import (
        release_transient_checkpoints,
    )
    from kafka_avro_pipeline_java_spark.sources import load_table

    d = load_table(spark, sf_dir, "documents")

    def persistent_ids():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())

    release_transient_checkpoints(spark)  # boundary: clear earlier tests' residue
    before = persistent_ids()
    for _ in range(2):
        dedup.ngram_jaccard_pairs(d, "text", "doc_id", k=3, threshold=0.1).count()
        dedup.minhash_lsh_pairs_portable(d, "text", "doc_id").count()
        dedup.simhash_near_pairs_portable(d, "text", "doc_id").count()
    grown = persistent_ids() - before
    assert grown, "expected the dedup calls to materialize checkpoint storage"
    release_transient_checkpoints(spark)
    leaked = persistent_ids() - before
    assert not leaked, (
        f"checkpoint storage survived release_transient_checkpoints: {leaked}"
    )


def test_session_artifacts_survive_transient_release(spark):
    """A session_memo frame must stay readable after
    release_transient_checkpoints — the graph/mlprep memo tables are
    reused across queries, and a released localCheckpoint cannot be
    recomputed, so a pinning regression would break every later consumer."""
    from kafka_avro_pipeline_java_spark.session import (
        release_transient_checkpoints,
        session_memo,
    )

    pinned = session_memo(
        spark, "test_survives_release", "sf-a",
        lambda: spark.range(10_000).selectExpr("id", "id * 3 AS y"),
    )
    transient = spark.range(5_000).localCheckpoint(eager=False)
    transient.count()
    release_transient_checkpoints(spark)
    # the pinned frame still computes from its blocks; a fresh action over
    # it must succeed and be correct
    assert pinned.count() == 10_000
    assert pinned.agg({"y": "max"}).first()[0] == 29_997


def test_plain_cache_survives_transient_release(spark):
    """r14 scope guard (ADVICE r13): release_transient_checkpoints sweeps
    only LOCALLY-CHECKPOINTED storage — a caller's ordinary .cache()
    must survive the query boundary instead of being silently dropped."""
    from kafka_avro_pipeline_java_spark.session import (
        release_transient_checkpoints,
    )

    cached = spark.range(5_000).selectExpr("id", "id * 2 AS y").cache()
    cached.count()  # materialize
    rid = cached.rdd.id()
    release_transient_checkpoints(spark)
    ids = {
        int(k)
        for k in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    }
    try:
        assert any(
            True for _ in ids
        ) and cached.storageLevel.useMemory, "cache() was swept"
        assert cached.count() == 5_000
    finally:
        cached.unpersist()
    assert rid is not None  # silence unused warnings on some runners


def test_evicted_session_memo_unpins_and_frees(spark):
    """Evicting a session memo must actually reclaim its checkpoint blocks
    — DataFrame.unpersist() is a no-op for localCheckpoint frames, so the
    eviction unpins the RDD id and unpersists the underlying RDD."""
    from kafka_avro_pipeline_java_spark import session

    def persistent_ids():
        return {
            int(k)
            for k in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
        }

    def pinned_ids():
        return {rid for _, rid in session._MEMOS.values()}

    def build():
        return spark.range(8_000).selectExpr("id")

    before = persistent_ids()
    session.session_memo(spark, "test_evicted_frees", "sf-0", build)
    new_ids = persistent_ids() - before
    assert new_ids and (new_ids & pinned_ids())
    for i in range(1, session._MEMO_MAX_SF_DIRS + 1):  # the last one evicts sf-0
        session.session_memo(spark, "test_evicted_frees", f"sf-{i}", build)
    assert not (persistent_ids() & new_ids), "evicted memo blocks leaked"
    assert not (new_ids & pinned_ids()), "pin leaked"


def test_dedup_keep_one(spark, sf_dir):
    from kafka_avro_pipeline_java_spark.sources import load_table

    d = load_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(d, "text", "doc_id", k=3, threshold=0.1)
    kept = dedup.dedup_keep_one(d, pairs, "doc_id")
    n_pairs = pairs.count()
    if n_pairs == 0:
        assert kept.count() == d.count()
    else:
        comp = dedup.connected_components(pairs)
        n_dropped = comp.filter(F.col("id") != F.col("component")).count()
        assert kept.count() == d.count() - n_dropped
        # every component's min id survives
        mins = {r["component"] for r in comp.collect()}
        kept_ids = {r["doc_id"] for r in kept.collect()}
        assert mins <= kept_ids


# --------------------------------------------------------------------------
# multimodal resize / frame-sample stubs
# --------------------------------------------------------------------------
def test_resize_and_frame_sample(spark, sf_dir):
    from kafka_avro_pipeline_java_spark.sources import load_table

    media = text_as_media(load_table(spark, sf_dir, "documents"), "doc_id", "text")
    resized = resize_images(media, 8, 4)
    rows = resized.collect()
    n_images = media.filter(F.col("media_type") == "image").count()
    assert len(rows) == n_images
    assert all(len(r["payload"]) == 32 for r in rows)
    assert all((r["out_width"], r["out_height"]) == (8, 4) for r in rows)

    frames = sample_frames(media, every_n_bytes=64, max_frames=4)
    fcounts = frames.groupBy("media_id").count().collect()
    n_videos = media.filter(F.col("media_type") == "video").count()
    assert len(fcounts) == n_videos
    assert all(1 <= r["count"] <= 4 for r in fcounts)
    assert frames.filter(F.length("frame_payload") > 64).count() == 0


def test_read_media_dir_binaryfile_source(spark, tmp_path):
    """Real-file ingestion path: binaryFile source → media table →
    feature extraction, byte-exact payloads."""
    import hashlib
    import os

    from kafka_avro_pipeline_java_spark.operators.multimodal import (
        extract_features,
        read_media_dir,
    )

    media_dir = tmp_path / "media"
    media_dir.mkdir()
    payloads = {
        "a.jpg": b"\xff\xd8fakejpegbytes",
        "b.wav": b"RIFFfakewav",
        "c.mp4": b"\x00\x00fakevid",
    }
    for name, data in payloads.items():
        (media_dir / name).write_bytes(data)

    media = read_media_dir(spark, str(media_dir))
    rows = {bytes(r["payload"]): r["media_type"] for r in media.collect()}
    assert rows[payloads["a.jpg"]] == "image"
    assert rows[payloads["b.wav"]] == "audio"
    assert rows[payloads["c.mp4"]] == "video"

    feats = extract_features(media).collect()
    got_md5 = {r["payload_md5"] for r in feats}
    want_md5 = {hashlib.md5(p).hexdigest() for p in payloads.values()}
    assert got_md5 == want_md5


def test_asof_validates_columns(spark):
    left = spark.createDataFrame([(1, 10)], "k long, ts long")
    right = spark.createDataFrame([(1, 5, 1.0)], "k long, ts long, px double")
    with pytest.raises(ValueError, match="missing columns"):
        asof_join(left, right, on="k", ts="ts", value_cols=["nope"])
    with pytest.raises(ValueError, match="tiebreak"):
        asof_join(left, right, on="k", ts="ts", value_cols=["px"], tiebreak="eid")


# ------------------------------------------------------------------
# REAL BMP decode (golden bytes pin the public format independently
# of the encode→decode round trip) + integer-exact box resize
# ------------------------------------------------------------------
def test_decode_bmp_golden_bytes():
    import numpy as np
    from kafka_avro_pipeline_java_spark.operators.multimodal import decode_bmp

    # Hand-assembled 2x2 24-bpp BI_RGB BMP per the GDI spec:
    # rows bottom-up, BGR, each row padded from 6 to 8 bytes.
    # Logical image (RGB): [[red, green], [blue, white]]
    header = (
        b"BM" + (54 + 16).to_bytes(4, "little") + b"\x00\x00\x00\x00"
        + (54).to_bytes(4, "little")
        + (40).to_bytes(4, "little")
        + (2).to_bytes(4, "little", signed=True)   # width
        + (2).to_bytes(4, "little", signed=True)   # height (positive: bottom-up)
        + (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little")                # BI_RGB
        + (16).to_bytes(4, "little")
        + (2835).to_bytes(4, "little") * 2
        + (0).to_bytes(4, "little") * 2
    )
    bottom_row = b"\xff\x00\x00" + b"\xff\xff\xff" + b"\x00\x00"  # blue, white + pad
    top_row = b"\x00\x00\xff" + b"\x00\xff\x00" + b"\x00\x00"     # red, green + pad
    img = decode_bmp(header + bottom_row + top_row)
    expect = np.array(
        [[[255, 0, 0], [0, 255, 0]], [[0, 0, 255], [255, 255, 255]]],
        dtype=np.uint8,
    )
    assert img.shape == (2, 2, 3)
    assert (img == expect).all()


def test_bmp_round_trip_with_padding_and_box_resize():
    import numpy as np
    from kafka_avro_pipeline_java_spark.operators.multimodal import (
        box_resize,
        decode_bmp,
        encode_bmp,
    )

    rng = np.random.default_rng(7)
    for h, w in [(2, 3), (5, 7), (8, 8), (1, 1)]:  # odd widths exercise padding
        px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        data = encode_bmp(px)
        assert data[:2] == b"BM"
        # spec invariant: file size field == actual length
        assert int.from_bytes(data[2:6], "little") == len(data)
        assert (decode_bmp(data) == px).all()

    # floor-mean exactness: block [[10,11],[12,14]] → (10+11+12+14)//4 = 11
    img = np.array(
        [[[10] * 3, [11] * 3], [[12] * 3, [14] * 3]], dtype=np.uint8
    )
    assert (box_resize(img, 2) == 11).all()


def test_decode_bmp_rejects_unsupported():
    import pytest as _pytest
    from kafka_avro_pipeline_java_spark.operators.multimodal import decode_bmp

    with _pytest.raises(ValueError, match="magic"):
        decode_bmp(b"PNG\x00\x00")


def test_decode_resize_pixels_end_to_end(spark):
    import numpy as np
    from kafka_avro_pipeline_java_spark.operators.multimodal import (
        box_resize,
        decode_resize_pixels,
        encode_bmp,
        text_to_gray_bmp,
        text_as_media,
    )

    df = spark.createDataFrame(
        [(0, "abcdefgh" * 8), (3, "zyxw")], ["doc_id", "text"]
    )  # doc_id % 3 == 0 → image-typed rows
    media = text_as_media(df, "doc_id", "text")
    bmps = text_to_gray_bmp(media, width=8, height=8)
    rows = decode_resize_pixels(bmps, factor=2).collect()
    assert len(rows) == 2 * 16  # two images, 4x4 output each
    got = {
        (r.media_id, r.out_r, r.out_c): r.gray for r in rows
    }
    for text, mid in [("abcdefgh" * 8, 0), ("zyxw", 3)]:
        b = np.frombuffer(text.encode(), dtype=np.uint8)
        gray = b[np.arange(64).reshape(8, 8) % len(b)]
        small = box_resize(
            np.repeat(gray[:, :, None], 3, axis=2), 2
        )
        for r in range(4):
            for c in range(4):
                assert got[(mid, r, c)] == small[r, c, 0]


def test_bmp_round_trip_property():
    # property: encode→decode is identity for ANY size and pixel content,
    # and the file-size field always matches (the spec invariants, beyond
    # the hand-picked shapes above)
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from kafka_avro_pipeline_java_spark.operators.multimodal import (
        decode_bmp,
        encode_bmp,
    )

    @settings(max_examples=60, deadline=None)
    @given(
        h=st.integers(min_value=1, max_value=17),
        w=st.integers(min_value=1, max_value=17),
        seed=st.integers(min_value=0, max_value=2**31 - 1),
    )
    def prop(h, w, seed):
        px = np.random.default_rng(seed).integers(
            0, 256, size=(h, w, 3), dtype=np.uint8
        )
        data = encode_bmp(px)
        assert int.from_bytes(data[2:6], "little") == len(data)
        out = decode_bmp(data)
        assert out.shape == (h, w, 3)
        assert (out == px).all()

    prop()
