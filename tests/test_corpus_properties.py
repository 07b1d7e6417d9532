"""Property-based tests (hypothesis) for the corpus operators: invariants
that must hold for ARBITRARY token streams, not just the curated fixtures.

Each property batches all generated docs into ONE Spark job per test (a
per-example Spark round-trip would be minutes); hypothesis drives the doc
contents, Spark evaluates the whole batch."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from kafka_avro_pipeline_java_spark.operators import quality, spans
from kafka_avro_pipeline_java_spark.plans.text import hash_embedding

# lowercase latin words, 1-8 chars — the whitespace tokenizer's domain
word = st.text(alphabet="abcdefghijklmnopqrstuvwxyz", min_size=1, max_size=8)
doc = st.lists(word, min_size=0, max_size=30).map(" ".join)


@settings(max_examples=10, deadline=None)
@given(st.lists(doc, min_size=1, max_size=8))
def test_span_count_is_max0_n_minus_w_plus_1(spark, docs):
    w = 5
    df = spark.createDataFrame(list(enumerate(docs)), "doc_id int, text string")
    got = {r["id"]: r["n"] for r in
           spans.span_table(df, "text", "doc_id", w)
           .groupBy("id").agg(F.count("*").alias("n")).collect()}
    for i, d in enumerate(docs):
        n_tok = len(d.split()) if d.strip() else 1  # split('') -> ['']
        expect = max(0, n_tok - w + 1)
        assert got.get(i, 0) == expect, (d, n_tok)


@settings(max_examples=10, deadline=None)
@given(st.lists(doc.filter(lambda d: d.strip()), min_size=1, max_size=6))
def test_hash_embedding_components_sum_to_token_count(spark, docs):
    df = spark.createDataFrame(list(enumerate(docs)), "doc_id int, text string")
    rows = df.select(
        "doc_id", hash_embedding("text").alias("e")
    ).collect()
    for r in rows:
        assert sum(r["e"]) == len(docs[r["doc_id"]].split())
        assert all(x >= 0 for x in r["e"])


@settings(max_examples=10, deadline=None)
@given(st.lists(doc.filter(lambda d: d.strip()), min_size=1, max_size=6))
def test_gopher_metric_bounds(spark, docs):
    df = spark.createDataFrame(list(enumerate(docs)), "doc_id int, text string")
    for r in quality.gopher_rules(df, "text", "doc_id").collect():
        assert r["n_words"] >= 1
        assert 0.0 <= r["alpha_frac"] <= 1.0
        assert 0.0 <= r["bullet_frac"] <= 1.0
        assert 0.0 <= r["ellipsis_frac"] <= 1.0
        assert r["stop_hits"] >= 0
        assert r["passes_gopher"] in (0, 1)
        # pure-lowercase-latin tokens: every word is alphabetic
        assert r["alpha_frac"] == 1.0


@settings(max_examples=8, deadline=None)
@given(st.lists(doc.filter(lambda d: len(d.split()) >= 5), min_size=2, max_size=5))
def test_scrub_removes_nothing_without_cross_doc_dups(spark, docs):
    """If all docs are pairwise distinct in every 5-window, scrubbing is
    the identity (modulo whitespace/case normalization)."""
    # prefix each doc's tokens with its index to guarantee distinct spans
    uniq = [" ".join(f"d{i}x{t}" for t in d.split()) for i, d in enumerate(docs)]
    df = spark.createDataFrame(list(enumerate(uniq)), "doc_id int, text string")
    out = {r["id"]: r for r in spans.scrub_spans(df, "text", "doc_id", w=5).collect()}
    for i, d in enumerate(uniq):
        assert out[i]["n_removed"] == 0
        assert out[i]["scrubbed"] == " ".join(d.split())


def test_quality_gate_is_streaming_compatible(spark, tmp_path):
    """The Gopher gate is stateless, so the SAME expression column must run
    unchanged in a Structured Streaming pipeline — the quality filter sits
    in the streaming ingest path at scale, not just in batch backfills."""
    import pandas as pd

    src = tmp_path / "stream_src"
    src.mkdir()
    pd.DataFrame(
        {"doc_id": [1, 2], "text": ["too short", "x " * 60 + "the of and that"]}
    ).to_parquet(str(src / "part0.parquet"))
    stream = (
        spark.readStream.schema("doc_id long, text string").parquet(str(src))
    )
    gated = quality.gopher_rules(stream, "text", "doc_id")
    assert gated.isStreaming
    batches = []
    q = (
        gated.writeStream.outputMode("append")
        .foreachBatch(lambda df, _: batches.append(df.collect()))
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(60)
    rows = {r["doc_id"]: r for b in batches for r in b}
    assert rows[1]["passes_gopher"] == 0
    assert rows[1]["n_words"] == 2
