"""Text-function unit tests: rolling-hash order sensitivity and
fingerprint whitespace canonicalization."""

from kafka_avro_pipeline_java_spark.functions import text as T


def _one(spark, s: str, expr):
    return spark.createDataFrame([(s,)], "t string").select(expr("t").alias("v")).first()["v"]


def test_rolling_hash_is_order_sensitive(spark):
    """Same token multiset, different order → different hash (the property
    that distinguishes rolling_hash from the md5 set-style fingerprint)."""
    h_ab = _one(spark, "alpha beta gamma", T.rolling_hash)
    h_ba = _one(spark, "gamma beta alpha", T.rolling_hash)
    assert h_ab != h_ba


def test_rolling_hash_deterministic_and_case_folded(spark):
    assert _one(spark, "Alpha Beta", T.rolling_hash) == _one(spark, "alpha beta", T.rolling_hash)
    assert _one(spark, "alpha beta", T.rolling_hash) == _one(spark, "alpha beta", T.rolling_hash)


def test_rolling_hash_sensitive_to_extra_token(spark):
    assert _one(spark, "alpha beta", T.rolling_hash) != _one(spark, "alpha beta beta", T.rolling_hash)


def test_fingerprint_canonicalizes_whitespace_but_not_order(spark):
    """The md5 fingerprint collapses runs of whitespace and case, but stays
    order-sensitive (it hashes the normalized SEQUENCE)."""
    assert _one(spark, "a  b\tc", T.fingerprint) == _one(spark, "a b c", T.fingerprint)
    assert _one(spark, "a b c", T.fingerprint) != _one(spark, "c b a", T.fingerprint)


def test_lang_id_classifies_each_profile_language(spark):
    """A sentence saturated with one language's marker words gets that
    label; marker sets are disjoint enough that cross-talk stays below."""
    samples = {
        "en": "the cat and the dog sat on the mat for it is warm",
        "de": "der hund und die katze ist nicht ein freund zu den mit",
        "fr": "le chat et la souris est des amis un une que pour",
        "es": "el gato y los perros es una con las cosas por para como",
    }
    for lang, text in samples.items():
        assert _one(spark, text, T.lang_id) == lang, lang


def test_lang_id_unknown_below_threshold_and_tie_breaks_in_order(spark):
    # No marker words at all -> unknown.
    assert _one(spark, "zzz qqq xxx www yyy vvv", T.lang_id) == "unknown"
    # One en marker + one de marker in 10 tokens: ratios tie at 0.1 and the
    # earlier LANG_MARKERS entry (en) must win.
    tie = "the der zz qq ww ee rr tt yy uu"
    assert _one(spark, tie, T.lang_id) == "en"


def test_lang_id_score_is_winning_ratio(spark):
    # 5 of 10 tokens are en markers -> score 0.5.
    s = _one(spark, "the and of to in zz qq ww ee rr", T.lang_id_score)
    assert abs(s - 0.5) < 1e-9


def test_chunking_reconstructs_token_stream(spark, sf_dir):
    """Dropping each non-first chunk's 8-token overlap and concatenating
    reproduces every document's full token sequence — no token lost or
    duplicated by the chunk boundaries."""
    from collections import defaultdict

    from kafka_avro_pipeline_java_spark.plans import QUERIES
    from kafka_avro_pipeline_java_spark.sources import load_table

    rows = QUERIES["pipeline_chunk_documents"](spark, sf_dir).collect()
    by_doc = defaultdict(dict)
    for r in rows:
        by_doc[r["doc_id"]][r["chunk_idx"]] = r["chunk_text"].split()
    docs = {
        r["doc_id"]: r["text"].split()
        for r in load_table(spark, sf_dir, "documents").collect()
    }
    assert set(by_doc) == set(docs)
    for doc_id, chunks in by_doc.items():
        rebuilt = []
        for i in range(len(chunks)):
            toks = chunks[i]
            rebuilt.extend(toks if i == 0 else toks[8:])
        assert rebuilt == docs[doc_id], doc_id


# ---------------------------------------------------------------------------
# winnowing fingerprints
# ---------------------------------------------------------------------------


def _winnow_reference(text: str, k: int = 4, w: int = 4) -> list[int]:
    """Pure-Python winnowing with the same portable token hash."""
    import hashlib

    M = (1 << 31) - 1
    toks = text.strip().lower().split()
    th = [int(hashlib.md5(t.encode()).hexdigest()[:15], 16) % M for t in toks]
    grams = [
        __import__("functools").reduce(lambda h, x: (h * 257 + x) % M, g, 0)
        for g in (th[i : i + k] for i in range(len(th) - k + 1))
    ] if len(th) >= k else []
    if len(grams) < w:
        return []
    sel = []
    seen = set()
    for j in range(len(grams) - w + 1):
        m = min(grams[j : j + w])
        if m not in seen:
            seen.add(m)
            sel.append(m)
    return sel


def test_winnowing_matches_python_reference_and_guarantee(spark):
    """The Spark winnowing pipeline equals the Python reference per doc
    (count + xor), and the winnowing GUARANTEE holds: two documents
    sharing a run of >= k+w-1 tokens share >= 1 fingerprint."""
    import functools

    from pyspark.sql import functions as F

    from kafka_avro_pipeline_java_spark.functions import text as T

    docs = [
        (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (2, "one two three alpha beta gamma delta epsilon zeta xx yy"),
        (3, "short doc"),          # < k tokens -> no fingerprints
        (4, "a b c d"),            # exactly k tokens, 1 gram < w -> none
        (5, "x " * 20),            # repeated token: distinct collapses
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    th = df.select("doc_id", T.winnowing_token_hashes("text").alias("th"))
    grams = th.select("doc_id", T.winnowing_fingerprints("th").alias("gh"))
    sel = grams.select("doc_id", T.winnowing_select("gh").alias("fps"))
    got = {r["doc_id"]: sorted(r["fps"]) for r in sel.collect()}
    for doc_id, text in docs:
        expect = sorted(_winnow_reference(text))
        assert got[doc_id] == expect, (doc_id, got[doc_id], expect)
    # guarantee: docs 1 and 2 share the 7-token run "alpha..zeta"
    assert set(got[1]) & set(got[2])
    # degenerate docs select nothing
    assert got[3] == [] and got[4] == []
