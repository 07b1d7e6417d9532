"""Text-analysis, corpus-quality and deduplication queries over the
``documents`` table.

- token statistics, quality scores, language id, exact / n-gram /
  MinHash / SimHash dedup, decontamination, and the training-data pipeline
  stages (splits, packing, filters, domain mix, per-source sampling);
- corpus quality: the Gopher rule battery, unigram-LM scoring, TF-IDF and
  BM25 retrieval, and substring-level (repeated-span) duplication;
- bigram-LM scoring, feature-hashed embeddings (the text→vector bridge,
  composed with SemDeDup: documents in, near-duplicate survivors out, with
  no external embedding model) and the cross-source span-overlap matrix;
- corpus health: edit-distance dedup (operators/fuzzy.py), per-source token
  entropy, the document-length histogram and the Zipf rank-frequency slope;
- GPT-2-style byte-level pre-tokenization: the regex split into word-ish
  chunks with the leading space attached, the corpus-sized step of
  tokenizer induction (the merge loop over its output is operators/bpe.py).

Every query here carries a value-exact DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import text as T
from ..functions.hashing import portable_hash64
from ..functions.vectors import cosine_similarity, lcg_planes
from ..operators import bloom, dedup, fuzzy, quality, ranking, search, semdedup, spans
from ..sources import load_table
from .registry import query


_STOP_SQL = ", ".join(f"'{s}'" for s in T.EN_STOPWORDS)


@query(
    "text_stats",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, text,
             string_split_regex(trim(text), '\\s+') AS toks
      FROM documents
    )
    SELECT doc_id,
           CAST(len(toks) AS INT) AS n_tokens,
           ROUND(length(regexp_replace(trim(text), '\\s+', '', 'g'))
                 / CAST(len(toks) AS DOUBLE), 4) AS avg_tok_len,
           CASE WHEN len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                                     x -> x IN ({_STOP_SQL})))
                     / CAST(len(toks) AS DOUBLE) >= 0.05
                THEN 'en' ELSE 'unknown' END AS lang_guess,
           substr(md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))), 1, 16)
             AS fingerprint
    FROM t
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        T.token_count("text").alias("n_tokens"),
        F.round(T.avg_token_len("text"), 4).alias("avg_tok_len"),
        T.lang_guess("text").alias("lang_guess"),
        T.fingerprint("text").alias("fingerprint"),
    )


@query(
    "text_token_counts",
    oracle=f"""
    SELECT doc_id,
           CAST(len(string_split_regex(trim(text), '\\s+')) AS INT) AS ws_tokens,
           CAST(len(regexp_extract_all(text,
                '''[a-z]+|[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]+')) AS INT) AS bpe_ish_tokens
    FROM documents
    """,
)
def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace tokens and a GPT-2-flavored
    pre-tokenizer regex (LLM token-count proxy without a vocab file)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        T.token_count("text").alias("ws_tokens"),
        T.bpe_ish_token_count("text").alias("bpe_ish_tokens"),
    )


# r13: text_rolling_fingerprint GRADES the WINNOWING selection
# (Schleimer/Wilkerson/Aiken 2003 — the MOSS plagiarism fingerprint) over
# portable k-gram rolling hashes, under a full value oracle; the
# whole-document fold is text_rolling_fingerprint_portable below
# (order-sensitivity unit-tested in tests/test_text_functions.py).
@query(
    "text_rolling_fingerprint",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS tk
      FROM documents
    ),
    hs AS (
      SELECT doc_id,
        CASE WHEN len(tk) >= 4 THEN
          [list_reduce(list_prepend(CAST(0 AS BIGINT),
              list_transform(tk[i : i + 3],
                t -> CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT)
                     % 2147483647)),
            (h, t) -> (h * 257 + t) % 2147483647)
           FOR i IN range(1, len(tk) - 4 + 2)]
        ELSE CAST([] AS BIGINT[]) END AS gh
      FROM toks
    ),
    sel AS (
      SELECT doc_id,
        CASE WHEN len(gh) >= 4 THEN
          list_distinct([list_min(gh[j : j + 3])
                         FOR j IN range(1, len(gh) - 4 + 2)])
        ELSE CAST([] AS BIGINT[]) END AS fps
      FROM hs
    )
    SELECT doc_id, CAST(len(fps) AS INT) AS n_fp,
           CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), fps),
                            (a, b) -> xor(a, b)) AS BIGINT) AS fp_xor
    FROM sel
    """,
)
def text_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WINNOWING DOCUMENT FINGERPRINT (the MOSS algorithm): 4-token-gram
    portable rolling hashes, a 4-gram sliding window keeping each
    window's minimum, distinct selections per document — output the
    selected-fingerprint count and their order-insensitive XOR fold.
    The winnowing guarantee: any shared token run of ≥ k+w−1 = 7 tokens
    between two documents shares ≥ 1 fingerprint, while only ~2/(w+1)
    of gram hashes are stored — the storage/recall dial every
    fingerprint index tunes. THREE chained projections (token hashes →
    gram folds → window-min selection), each a multi-use non-cheap
    alias the optimizer won't collapse, so each token is md5-hashed
    exactly ONCE (inlining the hash into the gram lambda would re-run
    it k times — HOF lambdas re-evaluate subtrees per invocation); all
    arithmetic stays < 2^40 (Mersenne-prime fold), engine-identical.
    One scan, no shuffle, no UDF."""
    d = load_table(spark, sf_dir, "documents")
    th = d.select(
        "doc_id", T.winnowing_token_hashes("text").alias("th")
    )
    grams = th.select(
        "doc_id", T.winnowing_fingerprints("th").alias("gh")
    )
    sel = grams.select(
        "doc_id", T.winnowing_select("gh").alias("fps")
    )
    return sel.select(
        "doc_id",
        F.size("fps").cast("int").alias("n_fp"),
        F.aggregate(
            F.col("fps"),
            F.lit(0).cast("long"),
            lambda a, b: a.bitwiseXOR(b),
        ).cast("bigint").alias("fp_xor"),
    )


@query(
    "text_rolling_fingerprint_portable",
    oracle=r"""
    SELECT doc_id,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(regexp_split_to_array(trim(lower(text)), '\s+'),
                 t -> CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) % 2147483647)),
             (h, t) -> (h * 257 + t) % 2147483647) AS rolling_fp
    FROM documents
    """,
)
def text_rolling_fingerprint_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive polynomial rolling fingerprint, portable variant:
    per-token hash is the md5-derived ``portable_hash64`` folded mod the
    Mersenne prime 2^31-1, so the DuckDB oracle reproduces the fold exactly
    (``list_reduce`` with a prepended zero accumulator). It is the
    whole-document fold; ``text_rolling_fingerprint`` grades the winnowing
    selection over k-gram rolling hashes instead."""
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", T.rolling_hash_portable("text").alias("rolling_fp"))


@query(
    "text_quality_scores",
    oracle="""
    SELECT doc_id,
           ROUND(0.5 * least(CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE)
                             / 100.0, 1.0)
               + 0.5 * (1.0 - (length(text)
                               - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')))
                              / CAST(length(text) AS DOUBLE)), 4) AS quality
    FROM documents
    """,
)
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", T.quality_score("text").alias("quality"))


def _lang_id_oracle(threshold: float = 0.05) -> str:
    """DuckDB re-derivation of the marker-ratio argmax in functions/text.py.

    Same literals, same division, same tie-break order — the CASE walks
    languages in LANG_MARKERS order so earlier languages win ties, mirroring
    the back-to-front `when` chain in `lang_id`."""
    ratio_cols = ",\n             ".join(
        f"len(list_filter(toks, x -> x IN ({', '.join(repr(m) for m in markers)})))"
        f" / CAST(len(toks) AS DOUBLE) AS r_{lang}"
        for lang, markers in T.LANG_MARKERS
    )
    langs = [lang for lang, _ in T.LANG_MARKERS]
    best = f"greatest({', '.join('r_' + la for la in langs)})"
    argmax = " ".join(
        f"WHEN r_{la} = {best} THEN '{la}'" for la in langs
    )
    return f"""
    WITH t AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
      FROM documents
    ), s AS (
      SELECT doc_id,
             {ratio_cols}
      FROM t
    )
    SELECT doc_id,
           CASE WHEN {best} >= {threshold} THEN CASE {argmax} END
                ELSE 'unknown' END AS lang,
           ROUND({best}, 4) AS score
    FROM s
    """


@query("text_language_id", oracle=_lang_id_oracle())
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standalone language ID over the corpus: per-language marker-word hit
    ratios (word-unigram profiles — the cheap end of the n-gram family),
    argmax with an 'unknown' floor. Single scan, single codegen projection,
    zero shuffles: the 100 TB plan is `scan parquet -> project`, and the
    classifier adds no Python to the hot path."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        T.lang_id("text").alias("lang"),
        T.lang_id_score("text").alias("score"),
    )


@query(
    "dedup_exact",
    oracle="""
    SELECT text, MIN(doc_id) AS kept_id, COUNT(*) AS n_copies
    FROM documents GROUP BY text
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return dedup.exact_dedup(d, "text", "doc_id")


@query(
    "dedup_ngram_jaccard",
    oracle="""
    WITH tok AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ts
      FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id,
             ts[i.i] || ' ' || ts[i.i + 1] || ' ' || ts[i.i + 2] AS shingle
      FROM tok, UNNEST(range(1, len(ts) - 1)) AS i(i)
      WHERE len(ts) >= 3
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT i.id_a, i.id_b,
           ROUND(i.n_common / CAST(sa.n_sh + sb.n_sh - i.n_common AS DOUBLE), 4) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.id_a
    JOIN sizes sb ON sb.doc_id = i.id_b
    WHERE ROUND(i.n_common / CAST(sa.n_sh + sb.n_sh - i.n_common AS DOUBLE), 4) >= 0.1
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(d, "text", "doc_id", k=3, threshold=0.1)


from .registry import ORACLES as _ORACLES  # noqa: E402  (registered above)


@query(
    "dedup_near_dup_groups",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_ORACLES['dedup_ngram_jaccard']}),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    walk(id, comp) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, w.comp FROM edges e JOIN walk w ON w.id = e.dst
    )
    SELECT id, MIN(comp) AS component FROM walk GROUP BY id
    """,
)
def dedup_near_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs resolved into duplicate groups (connected
    components, min-id canonical representative) — the keep-one-per-group
    step of an actual dedup pipeline. Oracle = recursive CTE reachability."""
    from .graph import _components  # deferred: graph loads after text

    return _components(spark, sf_dir)


@query(
    "dedup_keep_one_e2e",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_ORACLES['dedup_ngram_jaccard']}),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    walk(id, comp) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, w.comp FROM edges e JOIN walk w ON w.id = e.dst
    ),
    comp AS (SELECT id, MIN(comp) AS component FROM walk GROUP BY id),
    doomed AS (SELECT id FROM comp WHERE id <> component)
    SELECT d.doc_id, CAST(length(d.text) AS INT) AS text_len
    FROM documents d
    WHERE d.doc_id NOT IN (SELECT id FROM doomed)
    """,
)
def dedup_keep_one_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE dedup pipeline as one query: shingle near-dup pairs →
    connected components → drop every non-canonical group member — i.e.
    the surviving-document set a training-data pipeline would feed
    downstream. Oracle = the same pipeline via recursive-CTE reachability
    + anti-join in DuckDB."""
    from .graph import _jaccard_pairs  # deferred: graph loads after text

    d = load_table(spark, sf_dir, "documents")
    pairs = _jaccard_pairs(spark, sf_dir)
    kept = dedup.dedup_keep_one(d, pairs, "doc_id")
    return kept.select("doc_id", F.length("text").cast("int").alias("text_len"))


def _minhash_portable_oracle(num_hashes: int = 32, bands: int = 8,
                             threshold: float = 0.5) -> str:
    """Generate the DuckDB SQL mirroring minhash_lsh_pairs_portable —
    same md5-derived base hash, same LCG permutation constants, same
    md5-of-band bucket keys."""
    from ..operators.dedup import MINHASH_A, MINHASH_B, MINHASH_P

    rpb = num_hashes // bands
    mh_cols = ",\n             ".join(
        f"MIN(({MINHASH_A[i]} * h31 + {MINHASH_B[i]}) % {MINHASH_P}) AS mh_{i}"
        for i in range(num_hashes)
    )
    band_selects = "\n      UNION ALL\n".join(
        f"""      SELECT doc_id, {b} AS band,
             md5(concat_ws(',', {", ".join(f"CAST(mh_{b*rpb+j} AS VARCHAR)" for j in range(rpb))}))
               AS bucket FROM sig"""
        for b in range(bands)
    )
    match_sum = " + ".join(
        f"CASE WHEN sa.mh_{i} = sb.mh_{i} THEN 1 ELSE 0 END" for i in range(num_hashes)
    )
    return f"""
    WITH tok AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ts
      FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id,
             ts[i.i] || ' ' || ts[i.i + 1] || ' ' || ts[i.i + 2] AS shingle
      FROM tok, UNNEST(range(1, len(ts) - 1)) AS i(i)
      WHERE len(ts) >= 3
    ), h AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) % {MINHASH_P} AS h31
      FROM sh
    ), sig AS (
      SELECT doc_id,
             {mh_cols}
      FROM h GROUP BY doc_id
    ), banded AS (
{band_selects}
    ), cand AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT c.id_a, c.id_b,
           ROUND(({match_sum}) / {float(num_hashes)}, 4) AS est_jaccard
    FROM cand c
    JOIN sig sa ON sa.doc_id = c.id_a
    JOIN sig sb ON sb.doc_id = c.id_b
    WHERE ROUND(({match_sum}) / {float(num_hashes)}, 4) >= {threshold}
    """


def _minhash_join_oracle(num_hashes: int = 32, bands: int = 8,
                         threshold: float = 0.5) -> str:
    """DuckDB SQL mirroring minhash_similarity_join over an even/odd doc_id
    split of ``documents`` — same portable signature arithmetic as
    ``_minhash_portable_oracle``, but candidates come from banded buckets
    ACROSS the two sides (no a.id < b.id ordering: the sides are disjoint)."""
    from ..operators.dedup import MINHASH_A, MINHASH_B, MINHASH_P

    rpb = num_hashes // bands
    mh_cols = ",\n             ".join(
        f"MIN(({MINHASH_A[i]} * h31 + {MINHASH_B[i]}) % {MINHASH_P}) AS mh_{i}"
        for i in range(num_hashes)
    )
    band_selects = "\n      UNION ALL\n".join(
        f"""      SELECT doc_id, side, {b} AS band,
             md5(concat_ws(',', {", ".join(f"CAST(mh_{b*rpb+j} AS VARCHAR)" for j in range(rpb))}))
               AS bucket FROM sig"""
        for b in range(bands)
    )
    match_sum = " + ".join(
        f"CASE WHEN sa.mh_{i} = sb.mh_{i} THEN 1 ELSE 0 END" for i in range(num_hashes)
    )
    return f"""
    WITH tok AS (
      SELECT doc_id, doc_id % 2 AS side,
             string_split_regex(lower(trim(text)), '\\s+') AS ts
      FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id, side,
             ts[i.i] || ' ' || ts[i.i + 1] || ' ' || ts[i.i + 2] AS shingle
      FROM tok, UNNEST(range(1, len(ts) - 1)) AS i(i)
      WHERE len(ts) >= 3
    ), h AS (
      SELECT doc_id, side,
             CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) % {MINHASH_P} AS h31
      FROM sh
    ), sig AS (
      SELECT doc_id, side,
             {mh_cols}
      FROM h GROUP BY doc_id, side
    ), banded AS (
{band_selects}
    ), cand AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.bucket = b.bucket
      WHERE a.side = 0 AND b.side = 1
      GROUP BY 1, 2
    )
    SELECT c.id_a, c.id_b,
           ROUND(({match_sum}) / {float(num_hashes)}, 4) AS est_jaccard
    FROM cand c
    JOIN sig sa ON sa.doc_id = c.id_a
    JOIN sig sb ON sb.doc_id = c.id_b
    WHERE ROUND(({match_sum}) / {float(num_hashes)}, 4) >= {threshold}
    """


@query("dedup_similarity_join", oracle=_minhash_join_oracle())
def dedup_similarity_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table fuzzy join (entity resolution): match the even-doc_id
    half of ``documents`` against the odd half by estimated shingle
    Jaccard — the A×B record-linkage generalization of self-join dedup.
    Banded MinHash buckets on both sides, equi-join for candidates, verify
    by signature match fraction; value-checked against the DuckDB oracle."""
    d = load_table(spark, sf_dir, "documents")
    left = d.filter(F.col("doc_id") % 2 == 0)
    right = d.filter(F.col("doc_id") % 2 == 1)
    return dedup.minhash_similarity_join(
        left, right, "text", "doc_id", "doc_id",
        k=3, num_hashes=32, bands=8, threshold=0.5,
    )


@query("dedup_minhash_portable", oracle=_minhash_portable_oracle())
def dedup_minhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs with FULLY portable hashing (md5 base
    hash + LCG permutations mod 2^31-1, md5 band buckets) — the complete
    minhash pipeline verified value-for-value against the DuckDB oracle.
    `dedup_minhash_lsh` runs the same operator at its high-recall
    operating point (16 bands, threshold 0.3)."""
    d = load_table(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs_portable(
        d, "text", "doc_id", k=3, num_hashes=32, bands=8, threshold=0.5
    )


# dedup_minhash_lsh and dedup_simhash are GRADED through the
# portable-hash pipelines at their own operating points (bands=16/
# threshold=0.3 high-recall banding; Hamming<=2 tight duplicates —
# distinct from the portable twins' bands=8/0.5 and Hamming<=4
# above/below), each under a full generated value oracle.
@query("dedup_minhash_lsh", oracle=_minhash_portable_oracle(32, 16, 0.3))
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs at the HIGH-RECALL operating point:
    32 portable hashes in 16 bands of 2 rows (P[candidate] = 1-(1-j²)¹⁶,
    ~0.95 at j=0.5 vs ~0.12 for the 8×4 banding) with the verify
    threshold at est_jaccard ≥ 0.3 — the sensitivity profile a recall-
    first dedup sweep runs before a stricter verify pass. Fully
    value-oracled via the generated portable-hash DuckDB twin."""
    d = load_table(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs_portable(
        d, "text", "doc_id", k=3, num_hashes=32, bands=16, threshold=0.3
    )


def _simhash_portable_oracle(max_hamming: int = 4) -> str:
    from ..operators.dedup import SIMHASH_PORTABLE_BITS

    bit_sums = ",\n             ".join(
        f"SUM((h >> {i}) & 1) AS c{i}" for i in range(SIMHASH_PORTABLE_BITS)
    )
    fp_sum = " + ".join(
        f"CASE WHEN 2 * c{i} > n THEN CAST({1 << i} AS BIGINT) ELSE 0 END"
        for i in range(SIMHASH_PORTABLE_BITS)
    )
    bands = "\n      UNION ALL\n".join(
        f"      SELECT id, simhash, {b} AS band, (simhash >> {b * 15}) & 32767 AS bucket FROM fp"
        for b in range(4)
    )
    return f"""
    WITH tok AS (
      SELECT DISTINCT doc_id AS id, UNNEST(string_split_regex(lower(trim(text)), '\\s+')) AS t
      FROM documents
    ), h AS (
      SELECT id, CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) AS h FROM tok
    ), sums AS (
      SELECT id, COUNT(*) AS n,
             {bit_sums}
      FROM h GROUP BY id
    ), fp AS (
      SELECT id, {fp_sum} AS simhash FROM sums
    ), banded AS (
{bands}
    )
    SELECT a.id AS id_a, b.id AS id_b,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM banded a JOIN banded b
      ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
    GROUP BY 1, 2, 3
    """


@query("dedup_simhash", oracle=_simhash_portable_oracle(max_hamming=2))
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs at the TIGHT-DUPLICATE tier (Hamming ≤ 2 —
    the same operating point the graph family's memoized pair table
    uses; the portable twin below covers the looser ≤ 4 tier). This is
    the canonical LIVE derivation of that pair list, value-oracled via
    the generated portable-hash DuckDB twin."""
    d = load_table(spark, sf_dir, "documents")
    return dedup.simhash_near_pairs_portable(d, "text", "doc_id", max_hamming=2)


@query("dedup_simhash_portable", oracle=_simhash_portable_oracle())
def dedup_simhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash near-dup pairs with fully portable hashing — the
    complete pipeline (token hash, sign sums, fingerprint, band buckets,
    Hamming verify) value-checked against the DuckDB oracle."""
    d = load_table(spark, sf_dir, "documents")
    return dedup.simhash_near_pairs_portable(d, "text", "doc_id", max_hamming=4)


_FP_SQL = "substr(md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))), 1, 16)"


@query(
    "pipeline_decontaminate",
    oracle=f"""
    WITH bench AS (
      SELECT DISTINCT {_FP_SQL} AS fp FROM documents WHERE doc_id % 97 = 0
    )
    SELECT d.doc_id
    FROM documents d
    WHERE d.doc_id % 97 <> 0
      AND {_FP_SQL.replace("text", "d.text")} NOT IN (SELECT fp FROM bench)
    """,
)
def pipeline_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: drop every training document whose
    normalized fingerprint matches a held-out evaluation set (stood in by
    doc_id % 97 == 0). The eval set is tiny by nature, so the overlap
    check is a BROADCAST anti-join on 16-char fingerprints — no shuffle of
    the corpus; at 100 TB the corpus streams past a broadcast hash set."""
    d = load_table(spark, sf_dir, "documents")
    # no .distinct() on the eval fingerprints: anti-join is an existence
    # check, so duplicate build-side keys are harmless and removing the
    # dedup removes the only Exchange in the plan
    bench = d.filter(F.col("doc_id") % 97 == 0).select(
        T.fingerprint("text").alias("fp")
    )
    corpus = d.filter(F.col("doc_id") % 97 != 0).withColumn(
        "fp", T.fingerprint("text")
    )
    return (
        corpus.join(F.broadcast(bench), "fp", "left_anti").select("doc_id")
    )


@query(
    "text_repetition_ratio",
    oracle="""
    WITH tok AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ts
      FROM documents
    ), sh AS (
      SELECT doc_id,
             UNNEST(list_transform(range(1, len(ts) - 1),
                                   i -> ts[i] || ' ' || ts[i + 1] || ' ' || ts[i + 2]))
               AS shingle
      FROM tok WHERE len(ts) >= 3
    )
    SELECT doc_id,
           ROUND(1.0 - COUNT(DISTINCT shingle) / CAST(COUNT(*) AS DOUBLE), 4)
             AS rep_ratio
    FROM sh GROUP BY doc_id
    """,
)
def text_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-3-gram ratio per document — the standard boilerplate /
    degenerate-repetition quality signal: 1 - distinct/total shingles.
    Explode WITH repeats + one groupBy (count + countDistinct); the token
    array is materialized behind the usual repartition exchange so the
    higher-order shingle lambda runs once per doc."""
    from ..functions.text import raw_shingles_from_tokens, tokens

    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", tokens(F.lower(F.col("text"))).alias("ts"))
    toks = toks.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    sh = toks.filter(F.size("ts") >= 3).select(
        "doc_id", F.explode(raw_shingles_from_tokens("ts", 3)).alias("shingle")
    )
    return sh.groupBy("doc_id").agg(
        F.round(
            1.0 - F.countDistinct("shingle") / F.count(F.lit(1)).cast("double"), 4
        ).alias("rep_ratio")
    )


@query(
    "text_pii_scrub",
    oracle=f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text,
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}')) AS INT)
             AS n_emails,
           CAST(len(regexp_extract_all(text, '[0-9]{{7,}}')) AS INT)
             AS n_long_numbers,
           substr(md5(regexp_replace(
                    regexp_replace(text,
                        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}',
                        '<EMAIL>', 'g'),
                    '[0-9]{{7,}}', '<NUM>', 'g')), 1, 16) AS scrubbed_fp
    FROM documents
    """,
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction pass: count email / long-digit-run matches and return
    the fingerprint of the scrubbed text (proving the replacement itself
    is identical across engines). Pure projection — streams at scan
    speed."""
    from ..functions.text import PII_EMAIL_RE, PII_LONGNUM_RE, pii_scrub

    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.regexp_count("text", F.lit(PII_EMAIL_RE)).cast("int").alias("n_emails"),
        F.regexp_count("text", F.lit(PII_LONGNUM_RE)).cast("int").alias("n_long_numbers"),
        F.substring(F.md5(pii_scrub("text")), 1, 16).alias("scrubbed_fp"),
    )


@query(
    "pipeline_corpus_split",
    oracle="""
    WITH h AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100
               AS bucket
      FROM documents
    )
    SELECT doc_id,
           CASE WHEN bucket < 90 THEN 'train'
                WHEN bucket < 95 THEN 'val'
                ELSE 'test' END AS split
    FROM h
    """,
)
def pipeline_corpus_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (90/5/5) by hashing the
    document id — the reproducible-split primitive every training pipeline
    needs: stable across runs and engines (portable md5 hash), no sampling
    state, no shuffle (pure projection), and any doc's split is computable
    in isolation. Oracle derives identical buckets in DuckDB."""
    from ..functions.hashing import portable_hash64

    d = load_table(spark, sf_dir, "documents")
    bucket = F.pmod(portable_hash64(F.col("doc_id").cast("string")), F.lit(100))
    return d.select(
        "doc_id",
        F.when(bucket < 90, "train")
        .when(bucket < 95, "val")
        .otherwise("test")
        .alias("split"),
    )


@query(
    "pipeline_token_packing",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens
      FROM documents
    ), c AS (
      SELECT doc_id, n_tokens,
             SUM(n_tokens) OVER (ORDER BY doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_tokens
      FROM t
    )
    SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
           CAST((cum_tokens - n_tokens) // 2048 AS INT) AS pack_id
    FROM c
    """,
)
def pipeline_token_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential packing for pretraining batches: documents are assigned
    to fixed-budget packs (2048 tokens) by a running token count in doc_id
    order — the streaming-friendly packing used in practice (a doc's pack
    depends only on the prefix sum before it). Runs as a DISTRIBUTED
    two-phase prefix sum (operators/packing.py): range-partition, tiny
    per-partition-total collect, then parallel per-partition windows —
    never the single-partition global window Spark warns about."""
    from ..operators.packing import sequential_pack

    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", T.token_count("text").cast("long").alias("n_tokens"))
    packed = sequential_pack(t, "doc_id", "n_tokens", budget=2048)
    return packed.select(
        "doc_id", F.col("n_tokens").cast("int").alias("n_tokens"), "pack_id"
    )


@query(
    "pipeline_quality_filter",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS INT) AS n_tokens,
             ROUND(0.5 * least(CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE)
                               / 100.0, 1.0)
                 + 0.5 * (1.0 - (length(text)
                                 - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')))
                                / CAST(length(text) AS DOUBLE)), 4) AS quality,
             CASE WHEN len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                                       x -> x IN ({_STOP_SQL})))
                       / CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) >= 0.05
                  THEN 'en' ELSE 'unknown' END AS lang_guess
      FROM documents
    )
    SELECT doc_id, n_tokens, quality
    FROM scored
    WHERE quality >= 0.5 AND lang_guess = 'en' AND n_tokens BETWEEN 5 AND 100000
    """,
)
def pipeline_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pretraining quality gate as ONE declarative filter: quality
    score + language id + token-count bounds composed in a single
    projection over one scan (no joins, no shuffles — the shape that
    streams 100 TB through executors at scan speed)."""
    d = load_table(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        T.token_count("text").alias("n_tokens"),
        F.round(T.quality_score("text"), 4).alias("quality"),
        T.lang_guess("text").alias("lang_guess"),
    )
    return scored.filter(
        (F.col("quality") >= 0.5)
        & (F.col("lang_guess") == "en")
        & F.col("n_tokens").between(5, 100000)
    ).select("doc_id", "n_tokens", "quality")


@query(
    "pipeline_domain_mix",
    oracle="""
    WITH weights(source, rate) AS (
      VALUES ('src0', 1.0), ('src1', 0.25), ('src2', 0.5), ('src3', 0.1)
    ),
    w AS (
      SELECT d.doc_id, d.source, CAST(COALESCE(wt.rate, 0.75) AS DOUBLE) AS rate,
             CAST(('0x' || substr(md5(d.doc_id || ':mix'), 1, 15)) AS BIGINT)
               % 10000 AS bucket
      FROM documents d LEFT JOIN weights wt ON wt.source = d.source
    )
    SELECT doc_id, source, ROUND(rate, 2) AS rate
    FROM w WHERE bucket < rate * 10000
    """,
)
def pipeline_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain mixing: stratified down-sampling to per-source target rates
    (the data-mixture step of a pretraining pipeline — e.g. keep all of a
    curated source, 10% of a crawl). Deterministic: a document is kept iff
    its portable 60-bit hash bucket falls under the source's rate, so the
    sample is reproducible across runs/engines and any doc's fate is
    computable in isolation (no sampling state, no shuffle). The weights
    table is a broadcast dim join — the 100 TB plan is scan + broadcast
    hash join + filter, nothing else."""
    from ..functions.hashing import portable_hash64

    d = load_table(spark, sf_dir, "documents")
    weights = d.sparkSession.createDataFrame(
        [("src0", 1.0), ("src1", 0.25), ("src2", 0.5), ("src3", 0.1)],
        "source string, rate double",
    )
    bucket = F.pmod(
        portable_hash64(F.concat(F.col("doc_id").cast("string"), F.lit(":mix"))),
        F.lit(10000),
    )
    return (
        d.join(F.broadcast(weights), "source", "left")
        .withColumn("rate", F.coalesce(F.col("rate"), F.lit(0.75)))
        .filter(bucket < F.col("rate") * 10000)
        .select("doc_id", "source", F.round("rate", 2).alias("rate"))
    )


@query(
    "text_vocabulary",
    oracle="""
    SELECT tok AS token,
           CAST(COUNT(*) AS BIGINT) AS tf,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
    FROM (
      SELECT doc_id,
             unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
      FROM documents
    )
    GROUP BY tok
    HAVING COUNT(*) >= 5
    """,
)
def text_vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary with term and document frequencies — the
    vocab-building / token-statistics pass of a tokenizer pipeline.
    explode(split(...)) → one hash aggregate keyed by token; tf is a
    map-side-combinable count and df a count-distinct over doc ids. The
    min-frequency HAVING keeps the result bounded (Zipf tail cut) — at
    100 TB this is exactly a word-count, the canonical scan+shuffle shape."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("token"),
    )
    return (
        toks.groupBy("token")
        .agg(
            F.count("*").alias("tf"),
            F.countDistinct("doc_id").alias("df"),
        )
        .filter(F.col("tf") >= 5)
    )


@query(
    "pipeline_shuffle_order",
    oracle="""
    SELECT doc_id,
           CAST(CAST(('0x' || substr(md5(doc_id || ':epoch0'), 1, 15)) AS BIGINT)
                % 8 AS INT) AS shard,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY CAST(('0x' || substr(md5(doc_id || ':epoch0'), 1, 15))
                               AS BIGINT) % 8
             ORDER BY md5(doc_id || ':epoch0'), doc_id
           ) AS INT) AS pos
    FROM documents
    """,
)
def pipeline_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order shuffle: every document gets a
    (shard, position) from a seeded portable hash — the reproducible
    epoch-shuffle a trainer needs to resume mid-epoch. Scale shape: shard
    assignment is a pure projection; positions are a window partitioned BY
    SHARD (never a global single-partition ordering), so each of the N
    shards sorts independently — the same plan at 100 TB with shards sized
    to executors. Re-seeding the hash (':epoch1', ...) reshuffles."""
    from ..functions.hashing import portable_hash64

    d = load_table(spark, sf_dir, "documents")
    seeded = F.concat(F.col("doc_id").cast("string"), F.lit(":epoch0"))
    h = d.select(
        "doc_id",
        F.md5(seeded).alias("shuffle_key"),
        F.pmod(portable_hash64(seeded), F.lit(8)).cast("int").alias("shard"),
    )
    w = Window.partitionBy("shard").orderBy("shuffle_key", "doc_id")
    return h.select(
        "doc_id", "shard", F.row_number().over(w).cast("int").alias("pos")
    )


@query(
    "pipeline_sample_per_source",
    oracle="""
    SELECT source, doc_id, CAST(rk AS INT) AS rk FROM (
      SELECT source, doc_id,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY md5(doc_id || ':rsv'), doc_id
             ) AS rk
      FROM documents
    ) WHERE rk <= 5
    """,
)
def pipeline_sample_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-k-per-stratum sampling ("take exactly 5 docs per source"):
    rank rows inside each stratum by a seeded portable hash and keep
    rank <= k — a deterministic reservoir that any engine reproduces.
    Complements pipeline_domain_mix (rate-based): quota sampling needs a
    rank, not a hash gate. Scale shape: ONE shuffle on source; each
    stratum ranks independently (no global sort). Skewed strata at 100 TB
    get the standard two-phase refinement: per-partition top-k first
    (k rows per partition survive) before the stratum-level rank."""
    d = load_table(spark, sf_dir, "documents")
    seeded = F.concat(F.col("doc_id").cast("string"), F.lit(":rsv"))
    w = Window.partitionBy("source").orderBy(F.md5(seeded), "doc_id")
    return (
        d.select("source", "doc_id", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= 5)
    )


@query(
    "text_rare_token_ratio",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             unnest(string_split_regex(lower(trim(text)), '\\s+')) AS token
      FROM documents
    ), vocab AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS tf FROM toks GROUP BY token
    )
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           ROUND(SUM(CASE WHEN v.tf < 5 THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 4) AS rare_ratio,
           ROUND(SUM(v.tf) / CAST(COUNT(*) AS DOUBLE), 4) AS mean_tf
    FROM toks t JOIN vocab v ON v.token = t.token
    GROUP BY t.doc_id
    """,
)
def text_rare_token_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-relative token-rarity quality signal (the integer-exact
    stand-in for perplexity filtering: documents dominated by rare tokens
    are noise candidates; mean corpus term frequency is the inverse
    signal). Two-pass shape: vocabulary word-count (one token shuffle),
    then tokens joined back to their corpus frequency and re-aggregated
    per doc. All arithmetic is integer counts + one final division, so
    the DuckDB oracle matches bit-for-bit — no cross-engine libm (log)
    dependence. At 100 TB both aggregations are map-side-combinable hash
    aggs; the token⋈vocab join broadcasts when the vocab is bounded and
    degrades to a shuffle equi-join otherwise (Catalyst decides)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("token"),
    )
    vocab = toks.groupBy("token").agg(F.count("*").alias("tf"))
    joined = toks.join(vocab, "token")
    return joined.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.round(
            F.sum(F.when(F.col("tf") < 5, 1).otherwise(0)) / F.count("*").cast("double"), 4
        ).alias("rare_ratio"),
        F.round(F.sum("tf") / F.count("*").cast("double"), 4).alias("mean_tf"),
    )


@query(
    "pipeline_chunk_documents",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
      FROM documents
    )
    SELECT doc_id,
           CAST(s.i AS INT) AS chunk_idx,
           array_to_string(toks[s.i * 56 + 1 : s.i * 56 + 64], ' ') AS chunk_text,
           CAST(least(64, len(toks) - s.i * 56) AS INT) AS n_tokens
    FROM t, UNNEST(range(0, CAST(ceil(greatest(len(toks) - 8, 1) / 56.0) AS BIGINT)))
           AS s(i)
    """,
)
def pipeline_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (64-token chunks, 8-token overlap,
    stride 56) — the prep step every embedding / context-window pipeline
    runs before encoding. One scan → explode over per-doc chunk starts →
    slice+join from the SAME materialized token array (no re-tokenizing
    per chunk): row expansion is ~n_tokens/stride with zero shuffles. The
    oracle re-derives chunk boundaries from identical arithmetic."""
    d = load_table(spark, sf_dir, "documents")
    size, stride = 64, 56
    toks = d.select("doc_id", T.tokens("text").alias("toks"))
    n_chunks = F.ceil(F.greatest(F.size("toks") - (size - stride), F.lit(1)) / stride)
    chunks = toks.select(
        "doc_id",
        "toks",
        F.explode(F.sequence(F.lit(0), (n_chunks - 1).cast("int"))).alias("chunk_idx"),
    )
    return chunks.select(
        "doc_id",
        "chunk_idx",
        F.array_join(
            F.slice(F.col("toks"), F.col("chunk_idx") * stride + 1, size), " "
        ).alias("chunk_text"),
        F.least(F.lit(size), F.size("toks") - F.col("chunk_idx") * stride)
        .cast("int")
        .alias("n_tokens"),
    )


@query(
    "dedup_lsh_recall_audit",
    oracle=f"""
    WITH ex AS (
      SELECT id_a, id_b FROM ({_ORACLES['dedup_ngram_jaccard']})
      WHERE jaccard >= 0.5
    ), lsh AS (
      SELECT id_a, id_b FROM ({_ORACLES['dedup_minhash_portable']})
    ), flags AS (
      SELECT COALESCE(e.id_a, l.id_a) AS id_a,
             CASE WHEN e.id_a IS NOT NULL THEN 1 ELSE 0 END AS in_e,
             CASE WHEN l.id_a IS NOT NULL THEN 1 ELSE 0 END AS in_l
      FROM ex e FULL OUTER JOIN lsh l
        ON e.id_a = l.id_a AND e.id_b = l.id_b
    )
    SELECT CAST(SUM(in_e) AS BIGINT) AS n_exact,
           CAST(SUM(in_l) AS BIGINT) AS n_lsh,
           CAST(SUM(in_e * in_l) AS BIGINT) AS n_common,
           ROUND(SUM(in_e * in_l) / CAST(SUM(in_e) AS DOUBLE), 6)
             AS pair_recall,
           ROUND(SUM(in_e * in_l) / CAST(SUM(in_l) AS DOUBLE), 6)
             AS pair_precision
    FROM flags
    """,
)
def dedup_lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RECALL/PRECISION audit of the MinHash-LSH scale path against the
    exact shingle-Jaccard ground truth at threshold 0.5 — the dedup twin
    of knn_recall_matrix: the approximate candidate path's QUALITY, not
    just its values, under a driver-checked oracle (both pair sets are
    themselves fully value-oracled queries — dedup_ngram_jaccard filtered
    to >= 0.5, and the portable-hash MinHash pipeline — so this row is
    closed-form over two already-pinned sets). The planted near-dup pairs
    sit at Jaccard ~0.99, far above the 8-band/4-row S-curve's midpoint,
    so recall is expected at 1.0; a banding or signature regression
    drops it and fails the hash. Full-outer join of two OUTPUT-sized
    pair lists — metadata-scale after the dedup filters."""
    exact = dedup.ngram_jaccard_pairs(
        d := load_table(spark, sf_dir, "documents"), "text", "doc_id",
        k=3, threshold=0.5,
    ).select("id_a", "id_b", F.lit(1).alias("in_e"))
    lsh = dedup.minhash_lsh_pairs_portable(
        d, "text", "doc_id", k=3, num_hashes=32, bands=8, threshold=0.5
    ).select("id_a", "id_b", F.lit(1).alias("in_l"))
    flags = exact.join(lsh, ["id_a", "id_b"], "full_outer").select(
        F.coalesce(F.col("in_e"), F.lit(0)).alias("in_e"),
        F.coalesce(F.col("in_l"), F.lit(0)).alias("in_l"),
    )
    return flags.agg(
        F.sum("in_e").cast("bigint").alias("n_exact"),
        F.sum("in_l").cast("bigint").alias("n_lsh"),
        F.sum(F.col("in_e") * F.col("in_l")).cast("bigint").alias("n_common"),
        F.round(
            F.sum(F.col("in_e") * F.col("in_l")) / F.sum("in_e").cast("double"),
            6,
        ).alias("pair_recall"),
        F.round(
            F.sum(F.col("in_e") * F.col("in_l")) / F.sum("in_l").cast("double"),
            6,
        ).alias("pair_precision"),
    )


@query(
    "text_langid_confusion",
    oracle=f"""
    WITH pred AS ({_ORACLES['text_language_id']}),
    cells AS (
      SELECT d.lang AS true_lang, p.lang AS pred_lang,
             CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM pred p JOIN documents d USING (doc_id)
      GROUP BY 1, 2
    )
    SELECT true_lang, pred_lang, n_docs,
           ROUND(CAST(n_docs AS DOUBLE)
                 / SUM(n_docs) OVER (PARTITION BY true_lang), 6) AS recall
    FROM cells
    """,
)
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONFUSION MATRIX of the language-ID classifier against the
    corpus's ground-truth `lang` column — the accuracy audit that turns
    text_language_id from "produces labels" into "produces labels we
    measured": per (true, predicted) cell counts plus per-true-language
    recall, the same verify-the-approximation discipline as
    knn_recall_matrix and dedup_lsh_recall_audit. One projection computes
    truth and prediction side by side (no join — both live on the same
    row), one cell-bounded agg, one window over the |langs|² cell
    table."""
    d = load_table(spark, sf_dir, "documents")
    cells = (
        d.select(
            F.col("lang").alias("true_lang"),
            T.lang_id("text").alias("pred_lang"),
        )
        .groupBy("true_lang", "pred_lang")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
    )
    w = Window.partitionBy("true_lang")
    return cells.select(
        "true_lang",
        "pred_lang",
        "n_docs",
        F.round(
            F.col("n_docs").cast("double") / F.sum("n_docs").over(w), 6
        ).alias("recall"),
    )


# ==========================================================================
# Corpus quality and retrieval: Gopher rules, unigram LM, BM25, span dedup
# ==========================================================================


_GOPHER_STOP_SQL = ", ".join(f"'{s}'" for s in quality.GOPHER_STOPWORDS)

# BM25 query literal: frequent corpus terms (so scores exercise the tf and
# length-normalization terms, not just idf of rare words).
BM25_TERMS = ["query", "window", "scan", "merge", "sort"]
_BM25_TERMS_SQL = ", ".join(f"'{t}'" for t in BM25_TERMS)


@query(
    "text_gopher_rules",
    oracle=f"""
    WITH m AS (
      SELECT doc_id,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS INT) AS n_words,
             ROUND(length(regexp_replace(trim(text), '\\s+', '', 'g'))
                   / CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE),
                   4) AS mean_word_len,
             ROUND(((length(text) - length(replace(text, '#', '')))
                    + (length(text) - length(replace(text, '...', ''))) / 3.0)
                   / CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE),
                   4) AS symbol_ratio,
             ROUND(len(list_filter(string_split(text, chr(10)),
                                   l -> regexp_matches(trim(l), '^([*-]|•)')))
                   / CAST(len(string_split(text, chr(10))) AS DOUBLE), 4)
               AS bullet_frac,
             ROUND(len(list_filter(string_split(text, chr(10)),
                                   l -> trim(l) LIKE '%...'))
                   / CAST(len(string_split(text, chr(10))) AS DOUBLE), 4)
               AS ellipsis_frac,
             ROUND(len(list_filter(string_split_regex(trim(text), '\\s+'),
                                   t -> regexp_matches(t, '[a-zA-Z]')))
                   / CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE),
                   4) AS alpha_frac,
             CAST(len(list_intersect(
                    list_distinct(string_split_regex(trim(lower(text)), '\\s+')),
                    [{_GOPHER_STOP_SQL}])) AS INT) AS stop_hits
      FROM documents
    )
    SELECT *,
           CASE WHEN n_words BETWEEN {quality.MIN_WORDS} AND {quality.MAX_WORDS}
                 AND mean_word_len BETWEEN {quality.MIN_MEAN_WORD_LEN}
                                       AND {quality.MAX_MEAN_WORD_LEN}
                 AND symbol_ratio <= {quality.MAX_SYMBOL_RATIO}
                 AND bullet_frac <= {quality.MAX_BULLET_FRAC}
                 AND ellipsis_frac <= {quality.MAX_ELLIPSIS_FRAC}
                 AND alpha_frac >= {quality.MIN_ALPHA_FRAC}
                 AND stop_hits >= {quality.MIN_STOP_HITS}
                THEN 1 ELSE 0 END AS passes_gopher
    FROM m
    """,
)
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher (Rae et al. 2021, A1.1) quality-rule battery: per-doc
    metrics + the conjunction gate, as one scan→project of codegen
    expressions (operators/quality.py). Zero shuffles — the 100 TB plan is
    a pure map over the corpus."""
    d = load_table(spark, sf_dir, "documents")
    return quality.gopher_rules(d, "text", "doc_id")


@query(
    "text_unigram_logprob",
    oracle="""
    WITH toks AS (
      SELECT doc_id, t.tok
      FROM documents,
           UNNEST(string_split_regex(trim(lower(text)), '\\s+')) AS t(tok)
    ), vocab AS (
      SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok
    ), tot AS (
      SELECT CAST(SUM(cnt) AS DOUBLE) AS n_total FROM vocab
    )
    SELECT doc_id, CAST(COUNT(*) AS INT) AS n_tokens,
           ROUND(AVG(LN(cnt / n_total)), 4) AS mean_logprob
    FROM toks JOIN vocab USING (tok), tot
    GROUP BY doc_id
    """,
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean token log-probability under the corpus's own unigram LM — the
    cheap perplexity-flavored quality signal (operators/quality.py). Vocab
    fit + score join + per-doc mean: three keyed shuffles, no broadcast of
    the vocabulary (it outgrows broadcast thresholds at corpus scale)."""
    d = load_table(spark, sf_dir, "documents")
    return quality.unigram_logprob(d, "text", "doc_id").withColumnRenamed(
        "id", "doc_id"
    )


@query(
    "text_bm25_search",
    oracle=f"""
    WITH docs AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
      FROM documents
    ), lengths AS (
      SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl FROM docs
    ), hits AS (
      SELECT doc_id, t.tok FROM docs, UNNEST(toks) AS t(tok)
      WHERE t.tok IN ({_BM25_TERMS_SQL})
    ), tf AS (
      SELECT doc_id, tok, CAST(COUNT(*) AS DOUBLE) AS tf
      FROM hits GROUP BY doc_id, tok
    ), dfreq AS (
      SELECT tok, CAST(COUNT(*) AS DOUBLE) AS df_t FROM tf GROUP BY tok
    ), stats AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl FROM lengths
    )
    SELECT doc_id, CAST(COUNT(*) AS INT) AS n_hit_terms,
           ROUND(SUM(LN(1 + (n_docs - df_t + 0.5) / (df_t + 0.5))
                     * tf * 2.2
                     / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 4) AS bm25
    FROM tf JOIN dfreq USING (tok) JOIN lengths USING (doc_id), stats
    GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id
    LIMIT 10
    """,
)
def text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 for a literal bag-of-words query (operators/search.py):
    term-filtered explode → tf/df aggregates → broadcast stats → keyed sum
    → TakeOrdered. k1=1.2, b=0.75 (Lucene idf form)."""
    d = load_table(spark, sf_dir, "documents")
    return search.bm25_topk(
        spark, d, "text", "doc_id", BM25_TERMS, k=10
    ).withColumnRenamed("id", "doc_id")


@query(
    "dedup_repeated_spans",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS ts
      FROM documents
    ), spans AS (
      SELECT doc_id, i.i AS pos,
             substr(md5(array_to_string(ts[i.i:i.i+4], ' ')), 1, 16) AS h
      FROM toks, UNNEST(range(1, len(ts) - 3)) AS i(i)
    ), marked AS (
      SELECT doc_id,
             CASE WHEN MIN(doc_id) OVER (PARTITION BY h)
                   <> MAX(doc_id) OVER (PARTITION BY h)
                  THEN 1 ELSE 0 END AS is_dup
      FROM spans
    )
    SELECT doc_id, CAST(COUNT(*) AS INT) AS n_spans,
           CAST(SUM(is_dup) AS INT) AS n_dup_spans,
           ROUND(SUM(is_dup) / CAST(COUNT(*) AS DOUBLE), 4) AS dup_frac
    FROM marked GROUP BY doc_id
    """,
)
def dedup_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level duplication profile: every 5-token window hashed,
    windows occurring in >=2 distinct docs flagged, per-doc coverage
    reported (operators/spans.py — the Lee et al. 2022 span-dedup measure;
    a pipeline drops or masks above a dup_frac threshold)."""
    d = load_table(spark, sf_dir, "documents")
    return spans.span_dup_stats(d, "text", "doc_id", w=5).withColumnRenamed(
        "id", "doc_id"
    )


@query(
    "pipeline_decontaminate_ngram",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS ts
      FROM documents
    ), spans AS (
      SELECT doc_id,
             substr(md5(array_to_string(ts[i.i:i.i+4], ' ')), 1, 16) AS h
      FROM toks, UNNEST(range(1, len(ts) - 3)) AS i(i)
    ), bench AS (
      SELECT DISTINCT h FROM spans WHERE doc_id % 97 = 0
    )
    SELECT doc_id, CAST(COUNT(*) AS INT) AS n_overlap_spans
    FROM spans
    WHERE doc_id % 97 <> 0 AND h IN (SELECT h FROM bench)
    GROUP BY doc_id
    """,
)
def pipeline_decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram-overlap decontamination (GPT-3 style, 5-token spans): flag
    training docs sharing ANY span with the eval set (doc_id % 97 == 0
    stands in). Stricter than the whole-doc fingerprint variant
    (pipeline_decontaminate) — catches partial quotation. Eval span hashes
    broadcast; corpus side never shuffles for the check
    (operators/spans.py::ngram_decontaminate)."""
    from pyspark.sql import functions as F

    d = load_table(spark, sf_dir, "documents")
    return spans.ngram_decontaminate(
        d, "text", "doc_id", F.col("doc_id") % 97 == 0, w=5
    ).withColumnRenamed("id", "doc_id")


@query(
    "pipeline_importance_sample",
    oracle="""
    WITH w AS (
      SELECT doc_id,
             ROUND(0.5 * LEAST(len(string_split_regex(trim(text), '\\s+')) / 100.0, 1.0)
                   + 0.5 * (1.0 - (length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')))
                                  / CAST(length(text) AS DOUBLE)), 4) AS weight,
             (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10000)
               / 10000.0 AS draw
      FROM documents
    )
    SELECT doc_id, weight FROM w WHERE draw < weight
    """,
)
def pipeline_importance_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted sampling: each doc kept with probability equal to
    its quality score, via the portable md5 draw — deterministic across
    runs and engines, zero shuffles (operators/quality.py). The data-mixing
    primitive for up-weighting high-quality sources without a global
    sort or sampling state."""
    d = load_table(spark, sf_dir, "documents")
    return quality.importance_sample(d, "text", "doc_id")


@query(
    "text_tfidf_keywords",
    oracle="""
    WITH toks AS (
      SELECT doc_id, t.tok
      FROM documents,
           UNNEST(string_split_regex(trim(lower(text)), '\\s+')) AS t(tok)
    ), tf AS (
      SELECT doc_id, tok, CAST(COUNT(*) AS DOUBLE) AS c
      FROM toks GROUP BY doc_id, tok
    ), dfreq AS (
      SELECT tok, CAST(COUNT(*) AS DOUBLE) AS d FROM tf GROUP BY tok
    ), n AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents
    ), scored AS (
      SELECT doc_id, tok, ROUND(c * LN(n_docs / d), 4) AS tfidf
      FROM tf JOIN dfreq USING (tok), n
    )
    SELECT doc_id, tok, tfidf FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                ORDER BY tfidf DESC, tok) AS rn
      FROM scored
    ) WHERE rn <= 3
    """,
)
def text_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 keywords per document by tf-idf — keyword extraction for
    corpus exploration and topic tagging. tf/df are word-count-shaped
    aggregates; the df join is a shuffle equi-join on the token (the df
    table is vocabulary-sized — too big to broadcast at corpus scale);
    per-doc top-3 is a keyed window, no global sort. Ties break on the
    token so the selected set is engine-independent."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ..functions import text as T

    d = load_table(spark, sf_dir, "documents")
    # repartition before the explode: a single-file source would tokenize
    # the whole corpus in one task
    d = d.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    toks = d.select(
        "doc_id", F.explode(T.tokens(F.lower(F.col("text")))).alias("tok")
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").cast("double").alias("c"))
    dfreq = tf.groupBy("tok").agg(F.count("*").cast("double").alias("d"))
    n = d.agg(F.count("*").cast("double").alias("n_docs"))
    scored = (
        tf.join(dfreq, "tok")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id", "tok",
            F.round(F.col("c") * F.log(F.col("n_docs") / F.col("d")), 4).alias("tfidf"),
        )
    )
    win = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("tok"))
    return (
        scored.withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") <= 3)
        .drop("rn")
    )


@query(
    "text_collocations",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS ts
      FROM documents
    ), uni AS (
      SELECT t.tok, CAST(COUNT(*) AS DOUBLE) AS c
      FROM toks, UNNEST(ts) AS t(tok) GROUP BY t.tok
    ), bi AS (
      SELECT ts[i.i] AS w1, ts[i.i + 1] AS w2, CAST(COUNT(*) AS DOUBLE) AS c_ab
      FROM toks, UNNEST(range(1, len(ts))) AS i(i)
      GROUP BY 1, 2
    ), totals AS (
      SELECT (SELECT SUM(c) FROM uni) AS nt, (SELECT SUM(c_ab) FROM bi) AS nb
    )
    SELECT w1, w2, CAST(c_ab AS INT) AS n_pair,
           ROUND(LN((c_ab / nb) / ((a.c / nt) * (b.c / nt))), 4) AS pmi
    FROM bi JOIN uni a ON a.tok = w1 JOIN uni b ON b.tok = w2, totals
    WHERE c_ab >= 5
    ORDER BY pmi DESC, w1, w2 LIMIT 20
    """,
)
def text_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 collocations (adjacent-pair PMI with a count floor) — the
    phrase-mining pass for tokenizer/vocabulary construction. Bigrams come
    from one posexplode over the materialized token array; unigram and
    bigram counts are word-count aggregates; totals broadcast; final top-20
    is TakeOrdered on the rounded PMI with (w1, w2) tiebreak."""
    from pyspark.sql import functions as F

    from ..functions import text as T

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(T.tokens(F.lower(F.col("text"))).alias("ts"))
    # spread the explode/shingle work — a single-file source would run it
    # in one task (same rule as operators/dedup.py::shingle_table)
    toks = toks.repartition(spark.sparkContext.defaultParallelism)
    # r13: uni feeds the total + BOTH endpoint joins, bi feeds the total +
    # the PMI scoring — the word-/bigram-type count tables are
    # materialized once so the corpus explodes run once each (the same
    # AQE-broadcast exchange-reuse failure as text_kneser_ney_bigram)
    uni = toks.select(F.explode("ts").alias("tok")).groupBy("tok").agg(
        F.count("*").cast("double").alias("c")
    ).localCheckpoint(eager=False)
    pairs = toks.select(
        F.explode(
            F.when(
                F.size("ts") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size("ts") - 1),
                    lambda i: F.struct(
                        F.element_at("ts", i).alias("w1"),
                        F.element_at("ts", i + 1).alias("w2"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
        ).alias("p")
    ).select("p.w1", "p.w2")
    bi = pairs.groupBy("w1", "w2").agg(
        F.count("*").cast("double").alias("c_ab")
    ).localCheckpoint(eager=False)
    totals = uni.agg(F.sum("c").alias("nt")).crossJoin(
        bi.agg(F.sum("c_ab").alias("nb"))
    )
    a = uni.select(F.col("tok").alias("w1"), F.col("c").alias("c_a"))
    b = uni.select(F.col("tok").alias("w2"), F.col("c").alias("c_b"))
    return (
        bi.filter(F.col("c_ab") >= 5)
        .join(a, "w1")
        .join(b, "w2")
        .crossJoin(F.broadcast(totals))
        .select(
            "w1", "w2", F.col("c_ab").cast("int").alias("n_pair"),
            F.round(
                F.log(
                    (F.col("c_ab") / F.col("nb"))
                    / ((F.col("c_a") / F.col("nt")) * (F.col("c_b") / F.col("nt")))
                ),
                4,
            ).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2"))
        .limit(20)
    )


@query(
    "search_hybrid_rrf",
    oracle=f"""
    WITH docs AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
      FROM documents
    ), lengths AS (
      SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl FROM docs
    ), hits AS (
      SELECT doc_id, t.tok FROM docs, UNNEST(toks) AS t(tok)
      WHERE t.tok IN ({_BM25_TERMS_SQL})
    ), tf AS (
      SELECT doc_id, tok, CAST(COUNT(*) AS DOUBLE) AS tf
      FROM hits GROUP BY doc_id, tok
    ), dfreq AS (
      SELECT tok, CAST(COUNT(*) AS DOUBLE) AS df_t FROM tf GROUP BY tok
    ), stats AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl FROM lengths
    ), bm_top AS (
      SELECT doc_id,
             ROUND(SUM(LN(1 + (n_docs - df_t + 0.5) / (df_t + 0.5))
                       * tf * 2.2
                       / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 4) AS bm25
      FROM tf JOIN dfreq USING (tok) JOIN lengths USING (doc_id), stats
      GROUP BY doc_id
      ORDER BY bm25 DESC, doc_id
      LIMIT 20
    ), q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    cos_scored AS (
      SELECT e.vec_id,
             SUM(CAST(e.embedding[i.i] AS DOUBLE) * CAST(q.qv[i.i] AS DOUBLE)) AS dp,
             SUM(CAST(e.embedding[i.i] AS DOUBLE) * CAST(e.embedding[i.i] AS DOUBLE)) AS na,
             SUM(CAST(q.qv[i.i] AS DOUBLE) * CAST(q.qv[i.i] AS DOUBLE)) AS nb
      FROM embeddings e, q, UNNEST(range(1, len(e.embedding) + 1)) AS i(i)
      GROUP BY e.vec_id
    ), cos_top AS (
      SELECT vec_id AS doc_id, ROUND(dp / (SQRT(na) * SQRT(nb)), 6) AS cos_sim
      FROM cos_scored ORDER BY cos_sim DESC, vec_id LIMIT 20
    ), bmr AS (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rank_bm
      FROM bm_top
    ), cosr AS (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY cos_sim DESC, doc_id) AS rank_cos
      FROM cos_top
    )
    SELECT COALESCE(b.doc_id, c.doc_id) AS doc_id,
           CAST(COALESCE(rank_bm, 0) AS INT) AS bm25_rank,
           CAST(COALESCE(rank_cos, 0) AS INT) AS cos_rank,
           ROUND(COALESCE(1.0 / (60 + rank_bm), 0)
                 + COALESCE(1.0 / (60 + rank_cos), 0), 6) AS rrf
    FROM bmr b FULL OUTER JOIN cosr c USING (doc_id)
    ORDER BY rrf DESC, doc_id
    LIMIT 10
    """,
)
def search_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 top-20 (inverted-index branch) fused with
    cosine top-20 to the vec_id=0 embedding (dense branch, doc_id ≡
    vec_id) by reciprocal-rank fusion (operators/search.py::rrf_fuse).
    Each branch does its distributed work and emits 20 rows; the fusion
    joins two bounded lists — RRF's robustness to incomparable score
    scales is why it is the default first fusion in RAG/retrieval stacks."""
    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    bm = search.bm25_topk(spark, d, "text", "doc_id", BM25_TERMS, k=20).select(
        "id", "bm25"
    )
    q = F.broadcast(
        e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q"))
    )
    cos = (
        e.crossJoin(q)
        .select(
            F.col("vec_id").alias("id"),
            F.round(cosine_similarity(F.col("embedding"), F.col("q")), 6).alias(
                "cos_sim"
            ),
        )
        .orderBy(F.desc("cos_sim"), F.asc("id"))
        .limit(20)
    )
    fused = search.rrf_fuse([(bm, "bm25"), (cos, "cos_sim")], "id", c=60, k=10)
    return fused.select(
        F.col("id").alias("doc_id"),
        F.col("rank_0").alias("bm25_rank"),
        F.col("rank_1").alias("cos_rank"),
        "rrf",
    )


@query(
    "dedup_containment_pairs",
    oracle="""
    WITH tok AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ts
      FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id,
             ts[i.i] || ' ' || ts[i.i + 1] || ' ' || ts[i.i + 2] AS shingle
      FROM tok, UNNEST(range(1, len(ts) - 1)) AS i(i)
      WHERE len(ts) >= 3
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
      GROUP BY 1, 2
    )
    SELECT i.id_a, i.id_b,
           ROUND(i.n_common / CAST(sa.n_sh AS DOUBLE), 4) AS containment
    FROM inter i JOIN sizes sa ON sa.doc_id = i.id_a
    WHERE ROUND(i.n_common / CAST(sa.n_sh AS DOUBLE), 4) >= 0.4
    """,
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed near-containment pairs at C(a→b) ≥ 0.4
    (operators/dedup.py::containment_pairs): the asymmetric complement of
    Jaccard dedup — catches a short doc embedded in a long one (quote,
    boilerplate wrapper) that Jaccard scores near zero. Same inverted-index
    equi-join scale shape as dedup_ngram_jaccard."""
    d = load_table(spark, sf_dir, "documents")
    return dedup.containment_pairs(d, "text", "doc_id", k=3, threshold=0.4)


@query(
    "dedup_golden_record",
    oracle=f"""
    WITH RECURSIVE pairs AS ({{jaccard}}),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    walk(id, comp) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, w.comp FROM edges e JOIN walk w ON w.id = e.dst
    ),
    comp AS (SELECT id, MIN(comp) AS component FROM walk GROUP BY id),
    m AS (
      SELECT c.component, d.doc_id, d.text, d.lang, d.source, d.n_chars
      FROM comp c JOIN documents d ON d.doc_id = c.id
    ),
    base AS (
      SELECT component,
             CAST(COUNT(*) AS BIGINT) AS n_members,
             CAST(MAX(length(text)) AS INT) AS survivor_text_len,
             CAST(SUM(n_chars) AS BIGINT) AS total_chars
      FROM m GROUP BY 1
    ),
    lp AS (
      SELECT component, lang,
             ROW_NUMBER() OVER (PARTITION BY component
                                ORDER BY COUNT(*) DESC, lang) AS rn
      FROM m GROUP BY component, lang
    ),
    sp AS (
      SELECT component, source,
             ROW_NUMBER() OVER (PARTITION BY component
                                ORDER BY COUNT(*) DESC, source) AS rn
      FROM m GROUP BY component, source
    )
    SELECT b.component AS entity_id, b.n_members, b.survivor_text_len,
           b.total_chars,
           l.lang AS canonical_lang, s.source AS canonical_source
    FROM base b
    JOIN lp l ON l.component = b.component AND l.rn = 1
    JOIN sp s ON s.component = b.component AND s.rn = 1
    """,
)
def dedup_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution SURVIVORSHIP: near-dup pairs → connected
    components → one synthesized golden record per duplicate cluster.
    Where `dedup_keep_one_e2e` picks a surviving ROW, this resolves each
    ATTRIBUTE independently — longest text length, most-frequent lang and
    source (deterministic count-desc/value-asc tie-break), member count,
    total chars — the master-data-management step after matching.

    Scale shape: all survivorship aggregates are keyed by component
    (cluster-sized groups, never corpus-wide); the attribute-mode picks
    are per-(component, value) counts + a row_number over frames bounded
    by the distinct values inside one cluster. Nothing here exceeds the
    candidate-pair stage that feeds it."""
    from pyspark.sql import Window

    from .graph import _components  # deferred: graph loads after text

    d = load_table(spark, sf_dir, "documents")
    comp = _components(spark, sf_dir)
    # r14: m feeds base + the two attribute-mode tables — three
    # derivations of the components ⋈ documents join. Materialize it ONCE,
    # pruned to the five columns the aggregates read (text collapses to
    # its length here — the full text never needs to be stored; the r13
    # item-10 lesson about TEXT-carrying checkpoints, §2.4).
    m = comp.join(d, comp["id"] == d["doc_id"]).select(
        "component", "lang", "source", "n_chars",
        F.length("text").alias("tl"),
    ).localCheckpoint(eager=False)
    base = m.groupBy("component").agg(
        F.count("*").alias("n_members"),
        F.max("tl").cast("int").alias("survivor_text_len"),
        F.sum("n_chars").alias("total_chars"),
    )

    def _mode(col: str, alias: str) -> DataFrame:
        cnt = m.groupBy("component", col).agg(F.count("*").alias("cnt"))
        w = Window.partitionBy("component").orderBy(
            F.col("cnt").desc(), F.col(col).asc()
        )
        return (
            cnt.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("component", F.col(col).alias(alias))
        )

    return (
        base.join(_mode("lang", "canonical_lang"), "component")
        .join(_mode("source", "canonical_source"), "component")
        .select(
            F.col("component").alias("entity_id"),
            "n_members",
            "survivor_text_len",
            "total_chars",
            "canonical_lang",
            "canonical_source",
        )
    )


# splice the jaccard-pair CTE into the oracle now that both are registered
_ORACLES["dedup_golden_record"] = _ORACLES["dedup_golden_record"].replace(
    "{jaccard}", _ORACLES["dedup_ngram_jaccard"]
)


@query(
    "text_ndcg_bm25",
    oracle=f"""
    WITH docs AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
      FROM documents
    ), lengths AS (
      SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl FROM docs
    ), hits AS (
      SELECT doc_id, t.tok FROM docs, UNNEST(toks) AS t(tok)
      WHERE t.tok IN ({_BM25_TERMS_SQL})
    ), tf AS (
      SELECT doc_id, tok, CAST(COUNT(*) AS DOUBLE) AS tf
      FROM hits GROUP BY doc_id, tok
    ), dfreq AS (
      SELECT tok, CAST(COUNT(*) AS DOUBLE) AS df_t FROM tf GROUP BY tok
    ), stats AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl FROM lengths
    ), scored AS (
      SELECT doc_id, CAST(COUNT(*) AS INT) AS rel,
             ROUND(SUM(LN(1 + (n_docs - df_t + 0.5) / (df_t + 0.5))
                       * tf * 2.2
                       / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 4) AS bm25
      FROM tf JOIN dfreq USING (tok) JOIN lengths USING (doc_id), stats
      GROUP BY doc_id
    ), actual AS (
      SELECT rel, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS r
      FROM scored
    ), ideal AS (
      SELECT rel, ROW_NUMBER() OVER (ORDER BY rel DESC, doc_id) AS r
      FROM scored
    ), dcg AS (
      SELECT CAST(SUM(CAST(ROUND((POWER(2.0, rel) - 1.0)
                                 / LOG2(CAST(r + 1 AS DOUBLE))
                                 * 1000000000, 0) AS BIGINT)) AS BIGINT) AS q
      FROM actual WHERE r <= 10
    ), idcg AS (
      SELECT CAST(SUM(CAST(ROUND((POWER(2.0, rel) - 1.0)
                                 / LOG2(CAST(r + 1 AS DOUBLE))
                                 * 1000000000, 0) AS BIGINT)) AS BIGINT) AS q
      FROM ideal WHERE r <= 10
    )
    SELECT ROUND(CAST(dcg.q AS DOUBLE) / 1000000000, 6) AS dcg_10,
           ROUND(CAST(idcg.q AS DOUBLE) / 1000000000, 6) AS idcg_10,
           ROUND(CAST(dcg.q AS DOUBLE) / CAST(idcg.q AS DOUBLE), 6)
             AS ndcg_10
    FROM dcg, idcg
    """,
)
def text_ndcg_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@10 of the BM25 ranking — the search-QUALITY metric on top of
    text_bm25_search's scores: graded relevance = number of distinct
    query terms a document contains (deterministic, so the whole eval is
    a pure function of the corpus), gains 2^rel−1, the ideal ranking by
    relevance, ndcg = DCG/IDCG. This is the eval loop every hybrid-
    retrieval stack (search_hybrid_rrf) runs to justify its fusion
    weights. Each DCG term is 1e9-fixed-point quantized before the
    10-term integer sum (the log2 denominators are the only
    transcendentals); the actual top-10 comes from TakeOrdered on the
    scored table and the ideal top-10 from TakeOrdered on relevance —
    no corpus-sized window anywhere."""
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    scored = search.bm25_topk(
        spark, d, "text", "doc_id", BM25_TERMS, k=10
    ).withColumnRenamed("id", "doc_id")
    actual = scored.orderBy(F.desc("bm25"), "doc_id").limit(10).select(
        F.col("n_hit_terms").alias("rel"),
        F.row_number()
        .over(Window.orderBy(F.desc("bm25"), "doc_id"))
        .alias("r"),
    )
    # ideal ranking needs relevance over ALL hit docs, not just the BM25
    # top-10: distinct-term counts, then TakeOrdered(10) on relevance
    rel_all = (
        d.select(
            "doc_id",
            F.explode(
                F.split(F.trim(F.lower(F.col("text"))), r"\s+")
            ).alias("tok"),
        )
        .filter(F.col("tok").isin(BM25_TERMS))
        .groupBy("doc_id", "tok")
        .count()
        .groupBy("doc_id")
        .agg(F.count("*").cast("int").alias("rel"))
    )
    ideal = rel_all.orderBy(F.desc("rel"), "doc_id").limit(10).select(
        "rel",
        F.row_number()
        .over(Window.orderBy(F.desc("rel"), "doc_id"))
        .alias("r"),
    )

    def dcg_q(df):
        term = F.round(
            (F.pow(F.lit(2.0), F.col("rel")) - 1.0)
            / F.log2((F.col("r") + 1).cast("double"))
            * 1_000_000_000,
            0,
        ).cast("bigint")
        return df.agg(F.sum(term).cast("bigint").alias("q"))

    dcg = dcg_q(actual).select(F.col("q").alias("dq"))
    idcg = dcg_q(ideal).select(F.col("q").alias("iq"))
    return dcg.crossJoin(idcg).select(
        F.round(F.col("dq").cast("double") / 1_000_000_000, 6).alias("dcg_10"),
        F.round(F.col("iq").cast("double") / 1_000_000_000, 6).alias("idcg_10"),
        F.round(
            F.col("dq").cast("double") / F.col("iq").cast("double"), 6
        ).alias("ndcg_10"),
    )


# ==========================================================================
# Bigram LM, feature-hashed embeddings, cross-source span overlap
# ==========================================================================


_HASH_DIM = 32


def hash_embedding(text_col, dim: int = _HASH_DIM):
    """Feature-hashed bag-of-words document vector (array<double>, length
    ``dim``): bucket b counts the tokens whose portable hash lands on b.
    No vocabulary, no model, fully deterministic and engine-portable — the
    classic hashing-trick featurizer. One projection, zero shuffles.

    The md5 is folded over the token list ONCE (an `aggregate` building the
    histogram), not once per (bucket, token): lambdas get no subexpression
    elimination, so the naive per-bucket `filter` re-hashes every token
    dim times — measured 30 CPU-cores pinned on a 100k-doc corpus pass.
    Histogram update is O(dim) per token in interpreted ops but ZERO
    hashing; values are identical to the per-bucket-count definition the
    DuckDB oracle uses (fine for small dim; a corpus pass at large dim
    would pivot on an exploded (doc, bucket) count instead)."""
    toks = T.tokens(F.lower(F.col(text_col) if isinstance(text_col, str) else text_col))
    # hash each token exactly once; the histogram fold then only compares
    # the already-computed bucket id against the index
    hashes = F.transform(toks, lambda t: F.pmod(portable_hash64(t), F.lit(dim)))
    zeros = F.array_repeat(F.lit(0.0), dim)
    return F.aggregate(
        hashes,
        zeros,
        lambda acc, h: F.transform(
            acc, lambda x, i: x + F.when(i.cast("bigint") == h, 1.0).otherwise(0.0)
        ),
    )


def hash_embedding_df(
    df, text_col: str, id_col: str, dim: int = _HASH_DIM
):
    """(id, emb) via the exploded word-count shape: hash each token once,
    explode to (id, bucket), count, and re-assemble the dense array from a
    per-doc map. Two keyed aggs (both map-side-combinable) instead of the
    interpreted O(dim)-per-token histogram fold — measured 1.9 s vs 4.5 s
    for the corpus pass at sf0.1, value-identical — and the shape that
    holds at ANY dim (the fold's per-token work grows with dim; this
    grows with tokens only). Use the expression form ``hash_embedding``
    when the vector is consumed inside one projection; use this when the
    embedding pass IS the job (SemDeDup e2e)."""
    toks = T.tokens(F.lower(F.col(text_col)))
    hashes = F.transform(toks, lambda t: F.pmod(portable_hash64(t), F.lit(dim)))
    ex = df.select(F.col(id_col).alias("id"), F.explode(hashes).alias("b"))
    cnt = ex.groupBy("id", "b").agg(F.count("*").cast("double").alias("c"))
    m = cnt.groupBy("id").agg(
        F.map_from_entries(F.collect_list(F.struct("b", "c"))).alias("m")
    )
    emb = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.coalesce(
            F.element_at("m", i.cast("bigint")), F.lit(0.0)
        ),
    )
    return m.select("id", emb.alias("emb"))


_HASH_EMB_SQL = f"""list_transform(range(0, {_HASH_DIM}),
               b -> CAST(len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                    t -> CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) % {_HASH_DIM} = b)) AS DOUBLE))"""


@query(
    "text_bigram_logprob",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS ts
      FROM documents
    ), bigr AS (
      SELECT doc_id, ts[i.i] AS w1, ts[i.i + 1] AS w2
      FROM toks, UNNEST(range(1, len(ts))) AS i(i)
    ), bc AS (
      SELECT w1, w2, CAST(COUNT(*) AS DOUBLE) AS c_ab FROM bigr GROUP BY w1, w2
    ), hc AS (
      SELECT w1, CAST(COUNT(*) AS DOUBLE) AS c_a FROM bigr GROUP BY w1
    )
    SELECT doc_id, CAST(COUNT(*) AS INT) AS n_bigrams,
           ROUND(AVG(LN(c_ab / c_a)), 4) AS mean_bigram_logprob
    FROM bigr JOIN bc USING (w1, w2) JOIN hc USING (w1)
    GROUP BY doc_id
    """,
)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean log P(w_i | w_{i-1}) under the corpus bigram LM — the stronger
    perplexity-flavored quality signal (catches scrambled/boilerplate word
    order that the unigram score can't). Conditional MLE c(ab)/c(a·); every
    doc bigram exists in the corpus counts by construction, so no OOV or
    smoothing term. Bigram/history counts are word-count-shaped aggregates;
    the score join is a shuffle equi-join on the bigram key (the bigram
    table outgrows broadcast at corpus scale), then one per-doc mean."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", T.tokens(F.lower(F.col("text"))).alias("ts"))
    toks = toks.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    bigr = toks.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("ts") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size("ts") - 1),
                    lambda i: F.struct(
                        F.element_at("ts", i).alias("w1"),
                        F.element_at("ts", i + 1).alias("w2"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
        ).alias("p"),
    ).select("doc_id", "p.w1", "p.w2")
    # r13: one corpus aggregation instead of three — the history counts
    # roll up from the materialized bigram-type table (Σ_b c(ab) = c(a·),
    # identical values), and the word-type-scale checkpoint serves the
    # rollup and the score join (the same AQE-broadcast reuse failure and
    # fix as text_kneser_ney_bigram; A/B in OPTIMIZATION_r13.md)
    bc = bigr.groupBy("w1", "w2").agg(
        F.count("*").cast("double").alias("c_ab")
    ).localCheckpoint(eager=False)
    hc = bc.groupBy("w1").agg(F.sum("c_ab").alias("c_a"))
    return (
        bigr.join(bc, ["w1", "w2"]).join(hc, "w1")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_bigrams"),
            F.round(F.avg(F.log(F.col("c_ab") / F.col("c_a"))), 4).alias(
                "mean_bigram_logprob"
            ),
        )
    )


@query(
    "text_hash_embedding",
    oracle=f"""
    WITH emb0 AS (
      SELECT doc_id, {_HASH_EMB_SQL} AS emb
      FROM documents
    )
    SELECT doc_id, CAST(i.i AS INT) AS dim, emb[i.i + 1] AS value
    FROM emb0, UNNEST(range(0, {_HASH_DIM})) AS i(i)
    """,
)
def text_hash_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashed 32-dim bag-of-words vector per document — the
    no-model text→vector bridge (hashing trick) — emitted in the exploded
    long shape ``(doc_id, dim, value)`` (one row per vector component)
    rather than as a nested ``array<double>`` column: the harness
    canonicalizes results through pandas, which cannot factorize list
    cells, so every registered query keeps a flat scalar schema. Values
    are compared component-for-component (500 docs × 32 dims at the
    driver SF); consumers that want the dense vector use the
    ``hash_embedding`` expression directly (as the SemDeDup e2e does)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.posexplode(hash_embedding("text")).alias("dim", "value"),
    )


# Literal centroids for the text e2e: k≈√n for the 500–5000-doc driver
# tables, SIGNED (the pipeline mean-centers the hashed counts first —
# raw bag-of-words vectors live in the all-positive orthant, cosines
# concentrate near 1 and clusters collapse; measured 61 s at 5k docs vs
# ~5 s centered. Counts are integer-valued doubles, so the per-component
# mean is bit-identical across engines regardless of summation order).
_TXT_K = 24
_TXT_CENTS = lcg_planes(_TXT_K, _HASH_DIM, seed=21)
_TXT_THRESHOLD = 0.8


def _pynorm(v: list[float]) -> float:
    import math

    return math.sqrt(sum(x * x for x in v))


def _text_semdedup_oracle(cents: list[list[float]], threshold: float) -> str:
    nc = [_pynorm(c) for c in cents]
    n = len(cents)
    dot_cols = ",\n             ".join(
        f"SUM(emb[i.i] * ([{', '.join(repr(x) for x in c)}])[i.i]) AS d{j}"
        for j, c in enumerate(cents)
    )
    sim_cols = ",\n           ".join(
        f"d{j} / (SQRT(nsq) * {nc[j]!r}) AS s{j}" for j in range(n)
    )
    first_max = " ".join(f"WHEN s{j} = mx THEN {j}" for j in range(n))
    dim = len(cents[0])
    centered_list = "[" + ", ".join(
        f"raw.emb[{i + 1}] - m.m{i}" for i in range(dim)
    ) + "]"
    mean_cols = ", ".join(f"AVG(emb[{i + 1}]) AS m{i}" for i in range(dim))
    return f"""
    WITH emb0 AS (
      SELECT doc_id, {_HASH_EMB_SQL} AS emb
      FROM documents
    ), raw AS (
      SELECT doc_id, emb FROM emb0
      WHERE len(list_filter(emb, x -> x <> 0)) > 0
    ), m AS (
      SELECT {mean_cols} FROM raw
    ), emb AS (
      SELECT doc_id, {centered_list} AS emb FROM raw, m
    ), dots AS (
      SELECT doc_id,
             {dot_cols},
             SUM(emb[i.i] * emb[i.i]) AS nsq
      FROM emb, UNNEST(range(1, len(emb) + 1)) AS i(i)
      GROUP BY doc_id
    ), sims AS (
      SELECT doc_id, SQRT(nsq) AS nrm,
           {sim_cols}
      FROM dots
    ), assigned AS (
      SELECT doc_id, nrm,
             CASE {first_max} END AS cid
      FROM (SELECT *, GREATEST({', '.join(f's{j}' for j in range(n))}) AS mx FROM sims)
    ), pairs AS (
      SELECT a.doc_id AS ia, b.doc_id AS ib
      FROM assigned a JOIN assigned b
        ON a.cid = b.cid AND a.doc_id < b.doc_id
    ), pd AS (
      SELECT p.ia, p.ib,
             SUM(ea.emb[i.i] * eb.emb[i.i]) AS dp
      FROM pairs p
      JOIN emb ea ON ea.doc_id = p.ia
      JOIN emb eb ON eb.doc_id = p.ib,
           UNNEST(range(1, len(ea.emb) + 1)) AS i(i)
      GROUP BY 1, 2
    ), doomed AS (
      SELECT DISTINCT p.ib AS id
      FROM pd p
      JOIN assigned na ON na.doc_id = p.ia
      JOIN assigned nb ON nb.doc_id = p.ib
      WHERE ROUND(p.dp / (na.nrm * nb.nrm), 6) >= {threshold}
    )
    SELECT doc_id, CAST(cid AS INT) AS cid FROM assigned
    WHERE doc_id NOT IN (SELECT id FROM doomed)
    """


@query(
    "dedup_semantic_text_e2e",
    oracle=_text_semdedup_oracle(_TXT_CENTS, _TXT_THRESHOLD),
)
def dedup_semantic_text_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end semantic dedup FROM RAW TEXT: feature-hash each document
    into a 32-dim vector, MEAN-CENTER (the step that keeps clusters
    balanced — see _TXT_CENTS note), then SemDeDup keep-one over 24 literal
    centroids at centered-cosine ≥ 0.8 — documents in, survivors out, no
    external embedding model, every stage of the composition
    oracle-checked. Zero-token docs (all-zero hashed vector) are excluded
    before centering — cosine is undefined for them and they carry no
    dedupable content. The mean is a 1-row broadcast aggregate."""
    d = load_table(spark, sf_dir, "documents")
    # raw is materialized once (lazy localCheckpoint): the mean aggregate
    # and the centered projection both consume it, and semantic_dedup's
    # own materialization sits downstream of the centering — without this
    # cut the tokenize→feature-hash pipeline ran twice (r13)
    raw = (
        hash_embedding_df(d, "text", "doc_id")
        .withColumnRenamed("id", "doc_id")
        .filter(F.exists("emb", lambda x: x != 0))
    ).localCheckpoint(eager=False)
    means = raw.agg(
        *[F.avg(F.element_at("emb", i + 1)).alias(f"m{i}") for i in range(_HASH_DIM)]
    )
    mean_arr = F.array(*[F.col(f"m{i}") for i in range(_HASH_DIM)])
    centered = raw.crossJoin(F.broadcast(means)).select(
        "doc_id", F.zip_with("emb", mean_arr, lambda x, mval: x - mval).alias("emb")
    )
    return semdedup.semantic_dedup(
        centered, "emb", "doc_id", _TXT_CENTS, _TXT_THRESHOLD
    ).withColumnRenamed("id", "doc_id")


@query(
    "pipeline_source_overlap",
    oracle="""
    WITH toks AS (
      SELECT doc_id, source, string_split_regex(trim(lower(text)), '\\s+') AS ts
      FROM documents
    ), spans AS (
      SELECT DISTINCT source,
             substr(md5(array_to_string(ts[i.i:i.i+4], ' ')), 1, 16) AS h
      FROM toks, UNNEST(range(1, len(ts) - 3)) AS i(i)
    )
    SELECT a.source AS src_a, b.source AS src_b,
           CAST(COUNT(*) AS INT) AS shared_spans
    FROM spans a JOIN spans b ON a.h = b.h AND a.source < b.source
    GROUP BY 1, 2
    """,
)
def pipeline_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: for every source pair, how many
    distinct 5-token spans they share — the corpus-QA view that locates
    WHICH ingestion feeds duplicate boilerplate into each other (drives
    dedup priorities and mixture corrections). Span hashes distinct per
    source (one keyed shuffle), then a self-equi-join on the hash whose
    per-key fan-out is bounded by the SOURCE count, not the corpus."""
    d = load_table(spark, sf_dir, "documents")
    sp = spans.span_table(d, "text", "doc_id", w=5)
    # r14: the old self-equi-join on span_hash derived the (source, hash)
    # table TWICE (two corpus tokenize passes) and shuffled it twice more.
    # One span_hash-keyed collect_set (map-side set union — the distinct
    # is subsumed) followed by an in-row combination explode yields the
    # identical per-pair distinct-hash counts: each hash contributes
    # exactly one (a, b) row per source pair in its set, a < b by the
    # same binary string order as the join's filter (§2.3/§2.4). Per-hash
    # state is bounded by the SOURCE count, not the corpus.
    srcs = (
        sp.join(d.select(F.col("doc_id").alias("id"), "source"), "id")
        .groupBy("span_hash")
        .agg(F.array_sort(F.collect_set("source")).alias("ss"))
    )
    ss = F.col("ss")
    combos = F.flatten(
        F.transform(
            ss,
            lambda x, i: F.transform(
                F.slice(
                    ss, i + F.lit(2),
                    F.greatest(F.size(ss) - i - 1, F.lit(0)),
                ),
                lambda y: F.struct(x.alias("src_a"), y.alias("src_b")),
            ),
        )
    )
    return (
        srcs.select(F.explode(combos).alias("p"))
        .select(
            F.col("p.src_a").alias("src_a"), F.col("p.src_b").alias("src_b")
        )
        .groupBy("src_a", "src_b")
        .agg(F.count("*").cast("int").alias("shared_spans"))
    )


@query(
    "pipeline_split_drift",
    oracle="""
    WITH labeled AS (
      SELECT CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val' ELSE 'test' END AS split,
             tok
      FROM (
        SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS b,
               t.tok
        FROM documents,
             UNNEST(string_split_regex(trim(lower(text)), '\\s+')) AS t(tok)
      )
    ), counts AS (
      SELECT split, tok, CAST(COUNT(*) AS DOUBLE) AS c FROM labeled GROUP BY 1, 2
    ), totals AS (
      SELECT split, SUM(c) AS n FROM counts GROUP BY 1
    ), vocab AS (
      SELECT DISTINCT tok FROM counts
    ), vsize AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS v FROM vocab
    ), grid AS (
      SELECT s.split, v.tok, COALESCE(c.c, 0) AS c, t.n, z.v
      FROM (SELECT DISTINCT split FROM totals) s
      CROSS JOIN vocab v
      LEFT JOIN counts c ON c.split = s.split AND c.tok = v.tok
      JOIN totals t ON t.split = s.split, vsize z
    ), p AS (
      SELECT split, tok, (c + 1) / (n + v) AS p FROM grid
    )
    SELECT a.split, ROUND(SUM(a.p * LN(a.p / b.p)), 6) AS kl_vs_train
    FROM p a JOIN p b ON b.tok = a.tok AND b.split = 'train'
    WHERE a.split <> 'train'
    GROUP BY a.split
    """,
)
def pipeline_split_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-distribution drift between corpus splits: add-one-smoothed
    KL(split ‖ train) over the full shared vocabulary, for the val and
    test splits of the deterministic hash split (pipeline_corpus_split's
    exact bucketing). The split-QA gate a training pipeline runs before
    trusting held-out metrics — a drifted split means leakage or skew in
    the splitter. Word-count-shaped aggregates + one vocab-sized grid
    join; output is one row per non-train split."""
    from ..functions.hashing import portable_hash64

    d = load_table(spark, sf_dir, "documents")
    d = d.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    bucket = F.pmod(portable_hash64(F.col("doc_id").cast("string")), F.lit(100))
    split = (
        F.when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test")
    )
    labeled = d.select(
        split.alias("split"),
        F.explode(T.tokens(F.lower(F.col("text")))).alias("tok"),
    )
    # r13: the (split, tok) count table feeds totals, the vocab domain and
    # the smoothing grid — materialize the word-type-scale table once
    # instead of re-running the corpus tokenize+explode per consumer
    counts = labeled.groupBy("split", "tok").agg(
        F.count("*").cast("double").alias("c")
    ).localCheckpoint(eager=False)
    totals = counts.groupBy("split").agg(F.sum("c").alias("n"))
    vocab = counts.select("tok").distinct()
    vsize = vocab.agg(F.count("*").cast("double").alias("v"))
    grid = (
        totals.crossJoin(vocab)
        .join(counts, ["split", "tok"], "left")
        .crossJoin(F.broadcast(vsize))
        .select(
            "split", "tok",
            ((F.coalesce("c", F.lit(0.0)) + 1) / (F.col("n") + F.col("v"))).alias("p"),
        )
    )
    train = grid.filter(F.col("split") == "train").select(
        "tok", F.col("p").alias("q")
    )
    return (
        grid.filter(F.col("split") != "train")
        .join(train, "tok")
        .groupBy("split")
        .agg(F.round(F.sum(F.col("p") * F.log(F.col("p") / F.col("q"))), 6).alias("kl_vs_train"))
    )


@query(
    "dedup_span_scrub",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS ts
      FROM documents
    ), spans AS (
      SELECT doc_id, i.i AS pos,
             substr(md5(array_to_string(ts[i.i:i.i+4], ' ')), 1, 16) AS h
      FROM toks, UNNEST(range(1, len(ts) - 3)) AS i(i)
    ), dup AS (
      SELECT h FROM spans GROUP BY h HAVING MIN(doc_id) <> MAX(doc_id)
    ), covered AS (
      SELECT DISTINCT s.doc_id, s.pos + j.j AS tok_pos
      FROM spans s JOIN dup USING (h), UNNEST(range(0, 5)) AS j(j)
    ), kept AS (
      SELECT t.doc_id, i.i AS tok_pos, ts[i.i] AS tok
      FROM toks t, UNNEST(range(1, len(ts) + 1)) AS i(i)
      WHERE NOT EXISTS (SELECT 1 FROM covered c
                        WHERE c.doc_id = t.doc_id AND c.tok_pos = i.i)
    )
    SELECT k.doc_id,
           string_agg(k.tok, ' ' ORDER BY k.tok_pos) AS scrubbed,
           CAST(len(t.ts) AS INT) AS n_tokens,
           CAST(len(t.ts) - COUNT(*) AS INT) AS n_removed
    FROM kept k JOIN toks t USING (doc_id)
    GROUP BY k.doc_id, len(t.ts)
    """,
)
def dedup_span_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level dedup, REMOVE half: delete every token position
    covered by a cross-doc duplicated 5-token span and rebuild the
    document from the survivors (operators/spans.py::scrub_spans) —
    boilerplate vanishes from every copy while unique content stays.
    Output is the normalized rebuilt text + removal counts. Docs whose
    every token is covered drop out entirely (fully-boilerplate docs)."""
    d = load_table(spark, sf_dir, "documents")
    return spans.scrub_spans(d, "text", "doc_id", w=5).withColumnRenamed(
        "id", "doc_id"
    )


# ==========================================================================
# Corpus health: edit-distance dedup, per-source token entropy (a collapsing
# source is a boilerplate flood), the length histogram that drives packing,
# and the Zipf slope (deviation from ≈−1 flags synthetic text)
# ==========================================================================


@query(
    "dedup_fuzzy_edit",
    oracle="""
    WITH b AS (
      SELECT doc_id, trim(lower(text)) AS t, len(trim(lower(text))) AS n,
             array_to_string((string_split_regex(trim(lower(text)), '\\s+'))[1:2], ' ') AS blk
      FROM documents
    ), heavy AS (
      SELECT blk FROM b GROUP BY blk HAVING COUNT(*) > 100
    )
    SELECT a.doc_id AS id_a, c.doc_id AS id_b,
           CAST(levenshtein(a.t, c.t) AS INT) AS edit_dist
    FROM b a JOIN b c
      ON a.blk = c.blk AND a.doc_id < c.doc_id AND abs(a.n - c.n) <= 20
    WHERE levenshtein(a.t, c.t) <= 20
      AND a.blk NOT IN (SELECT blk FROM heavy)
    """,
)
def dedup_fuzzy_edit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level fuzzy duplicate pairs: same 2-token prefix block,
    Levenshtein ≤ 20 on the normalized text — the edit-distance member of
    the dedup family (catches OCR/typo mutations token-set measures miss).
    Block equi-join with the length bound in the join condition, banded
    levenshtein(…, threshold) verify in the projection; per-key fan-out is
    capped at max_block_size=100 (a block of d docs contributes d²
    candidates — boilerplate openings go quadratic inside ONE join key at
    100 TB; the oracle carries the identical HAVING>100 anti-filter, so
    answers stay bit-identical while the d² blowup disappears —
    operators/fuzzy.py heavy-block note)."""
    d = load_table(spark, sf_dir, "documents")
    return fuzzy.fuzzy_pairs(
        d, "text", "doc_id", max_dist=20, prefix_tokens=2, max_block_size=100
    )


@query(
    "pipeline_decontaminate_bloom",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS ts
      FROM documents
    ), spans AS (
      SELECT doc_id,
             substr(md5(array_to_string(ts[i.i:i.i+4], ' ')), 1, 16) AS h
      FROM toks, UNNEST(range(1, len(ts) - 3)) AS i(i)
    ), bench AS (
      SELECT DISTINCT h FROM spans WHERE doc_id % 97 = 0
    ), dirty AS (
      SELECT DISTINCT s.doc_id FROM spans s JOIN bench USING (h)
      WHERE s.doc_id % 97 <> 0
    )
    SELECT d.doc_id FROM documents d
    WHERE d.doc_id % 97 <> 0
      AND d.doc_id NOT IN (SELECT doc_id FROM dirty)
    """,
)
def pipeline_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram decontamination, KEEP side, executed through a Bloom-filter
    prefilter: the eval set's 5-token span hashes are compacted into a
    16 Kbit literal bitmask; every corpus span takes k=3 codegen bit
    probes (no join, no shuffle), and only bloom-POSITIVE spans — true
    overlaps plus ~0.5% false positives — reach the exact verify join.
    Zero false negatives make the final result EXACT (identical semantics
    to the plain anti-join the oracle states); the bloom is purely the
    physical strategy that survives an eval span set too big to broadcast
    as raw hashes (operators/bloom.py design note)."""
    d = load_table(spark, sf_dir, "documents")
    sp = spans.span_table(d, "text", "doc_id", w=5).withColumnRenamed("id", "doc_id")
    is_eval = F.col("doc_id") % 97 == 0
    bench = sp.filter(is_eval).select("span_hash").distinct()
    mask = bloom.bloom_build(bench, "span_hash", m_bits=1 << 14, k=3)
    candidates = (
        sp.filter(~is_eval)
        .filter(bloom.bloom_test(F.col("span_hash"), mask, k=3))
    )
    dirty = (
        candidates.join(bench, "span_hash", "left_semi")
        .select("doc_id")
        .distinct()
    )
    return (
        d.filter(~is_eval)
        .join(dirty, "doc_id", "left_anti")
        .select("doc_id")
    )


@query(
    "text_source_entropy",
    oracle="""
    WITH toks AS (
      SELECT source, t.tok
      FROM documents,
           UNNEST(string_split_regex(trim(lower(text)), '\\s+')) AS t(tok)
    ), counts AS (
      SELECT source, tok, CAST(COUNT(*) AS DOUBLE) AS c
      FROM toks GROUP BY 1, 2
    ), withp AS (
      SELECT source, c, c / SUM(c) OVER (PARTITION BY source) AS p
      FROM counts
    )
    SELECT source,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS INT) AS vocab,
           ROUND(-SUM(p * LN(p)), 6) AS entropy
    FROM withp
    GROUP BY source
    """,
)
def text_source_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of the token distribution per ingestion source, with
    token and vocabulary counts — the diversity dashboard that catches a
    source collapsing into boilerplate (entropy drops) before the dedup
    bill does. Word-count-shaped partial aggregation, then one per-source
    window + final agg over the (source, token)-sized table — all shuffles
    are on keys whose cardinality shrinks with aggregation, never the raw
    corpus."""
    d = load_table(spark, sf_dir, "documents")
    counts = (
        d.select("source", F.explode(T.tokens(F.lower(F.col("text")))).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count("*").cast("double").alias("c"))
    )
    tot = F.sum("c").over(Window.partitionBy("source"))
    p = (F.col("c") / tot)
    return (
        counts.withColumn("plnp", p * F.log(p))
        .groupBy("source")
        .agg(
            F.sum("c").cast("bigint").alias("n_tokens"),
            F.count("*").cast("int").alias("vocab"),
            F.round(-F.sum("plnp"), 6).alias("entropy"),
        )
    )


@query(
    "text_length_histogram",
    oracle="""
    WITH lens AS (
      SELECT doc_id, len(string_split_regex(trim(lower(text)), '\\s+')) AS n_tokens,
             n_chars
      FROM documents
    )
    SELECT CAST((n_tokens // 10) * 10 AS INT) AS bucket,
           CAST(COUNT(*) AS INT) AS n_docs,
           ROUND(AVG(CAST(n_chars AS DOUBLE)), 4) AS avg_chars
    FROM lens
    GROUP BY 1
    """,
)
def text_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-length histogram (token count, width-10 buckets) with mean
    character length per bucket — the distribution that sets token-packing
    sequence length and chunking windows (operators/packing.py). One
    projection + one tiny aggregation; at 100 TB this is the cheapest
    corpus scan there is (two columns, full pushdown)."""
    d = load_table(spark, sf_dir, "documents")
    n_tok = F.size(T.tokens(F.lower(F.col("text"))))
    return (
        d.select(
            (F.floor(n_tok / 10) * 10).cast("int").alias("bucket"),
            F.col("n_chars").cast("double").alias("n_chars"),
        )
        .groupBy("bucket")
        .agg(
            F.count("*").cast("int").alias("n_docs"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        )
    )


@query(
    "text_zipf_slope",
    oracle="""
    WITH counts AS (
      SELECT t.tok, CAST(COUNT(*) AS DOUBLE) AS c
      FROM documents,
           UNNEST(string_split_regex(trim(lower(text)), '\\s+')) AS t(tok)
      GROUP BY t.tok
    ), top AS (
      SELECT tok, c FROM counts ORDER BY c DESC, tok LIMIT 500
    ), ranked AS (
      SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, tok) AS r FROM top
    )
    SELECT ROUND(COVAR_POP(LN(r), LN(c)) / VAR_POP(LN(r)), 6) AS zipf_slope,
           CAST(COUNT(*) AS INT) AS n_ranks
    FROM ranked
    """,
)
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency slope: least-squares slope of ln(freq) on
    ln(rank) over the top-500 token ranks. Natural text sits near −1;
    synthetic, templated, or degenerate corpora drift toward 0 (flat) or
    below −1.5 (spiked) — a one-number corpus-health gate. Token counts are
    a word-count aggregate; the top-500 selection is a distributed
    TakeOrdered (never a global sort of the vocabulary), and the rank
    window runs on 500 rows. Slope via covar_pop/var_pop — the same closed
    form the oracle uses, so the driver hash matches exactly."""
    d = load_table(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode(T.tokens(F.lower(F.col("text")))).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").cast("double").alias("c"))
    )
    top = counts.orderBy(F.desc("c"), "tok").limit(500)
    ranked = top.select(
        "c",
        F.row_number().over(Window.orderBy(F.desc("c"), "tok")).alias("r"),
    )
    lr, lc = F.log("r"), F.log("c")
    return ranked.agg(
        F.round(F.covar_pop(lr, lc) / F.var_pop(lr), 6).alias("zipf_slope"),
        F.count("*").cast("int").alias("n_ranks"),
    )


_QUALITY_SQL = """ROUND(0.5 * least(CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE)
                             / 100.0, 1.0)
               + 0.5 * (1.0 - (length(text)
                               - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')))
                              / CAST(length(text) AS DOUBLE)), 4)"""


@query(
    "text_quality_calibrated",
    oracle=f"""
    WITH q AS (
      SELECT doc_id, {_QUALITY_SQL} AS quality FROM documents
    )
    SELECT doc_id, quality,
           ROUND(PERCENT_RANK() OVER (ORDER BY quality, doc_id), 6) AS pct_rank,
           CAST(NTILE(10) OVER (ORDER BY quality, doc_id) AS INT) AS decile
    FROM q
    """,
)
def text_quality_calibrated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score calibration: raw quality scores mapped to corpus-relative
    percentile ranks and deciles — the form a mixing policy consumes
    ("keep the top 30%"), robust to the raw score's arbitrary scale.
    Deterministic cross-engine via the (quality, doc_id) tiebreak. The
    corpus-relative rank comes from the two-phase range-partitioned
    scan (operators/ranking.py::attach_global_order_stats) — documents
    scale WITH the corpus, so a bare global window would single-
    partition a billion-row sort at 100 TB; the two-phase form keeps
    every partition at its range slice and reproduces PERCENT_RANK and
    NTILE bit-for-bit."""
    from ..operators.ranking import attach_global_order_stats

    d = load_table(spark, sf_dir, "documents")
    q = d.select("doc_id", T.quality_score("text").alias("quality"))
    ranked = attach_global_order_stats(
        q,
        [("quality", "asc"), ("doc_id", "asc")],
        percent_rank="__pr",
        ntile=(10, "decile"),
    )
    return ranked.select(
        "doc_id", "quality",
        F.round(F.col("__pr"), 6).alias("pct_rank"),
        "decile",
    )


@query(
    "stats_welch_t_sources",
    oracle=f"""
    WITH q AS (
      SELECT source,
             CAST(ROUND({_QUALITY_SQL} * 10000, 0) AS BIGINT) AS s
      FROM documents
    ), m AS (
      SELECT source,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(s) AS DOUBLE) AS s1,
             CAST(SUM(s * s) AS DOUBLE) AS s2
      FROM q GROUP BY source
    ), pairs AS (
      SELECT a.source AS src_a, b.source AS src_b,
             a.s1 / a.n AS ma, b.s1 / b.n AS mb,
             (a.s2 - a.s1 * a.s1 / a.n) / (a.n - 1) / a.n AS va,
             (b.s2 - b.s1 * b.s1 / b.n) / (b.n - 1) / b.n AS vb
      FROM m a JOIN m b ON a.source < b.source
    )
    SELECT src_a, src_b,
           ROUND((ma - mb) / SQRT(va + vb), 6) AS welch_t
    FROM pairs
    """,
)
def stats_welch_t_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Welch t-statistic for the quality-score gap between
    every pair of ingestion sources — the significance gate behind "is
    source X really worse, or is that noise?". Scores quantize to exact
    integers (×10⁴ of the 4-decimal quality), so Σs and Σs² are
    integer-exact and the t statistic is pure closed-form algebra after a
    source-sized aggregate — identical doubles on both engines. The pair
    join is |sources|², broadcast-trivial at any corpus size."""
    d = load_table(spark, sf_dir, "documents")
    s = F.round(T.quality_score("text") * 10000, 0).cast("bigint")
    m = d.select("source", s.alias("s")).groupBy("source").agg(
        F.count("*").cast("double").alias("n"),
        F.sum("s").cast("double").alias("s1"),
        F.sum(F.col("s") * F.col("s")).cast("double").alias("s2"),
    )
    a = m.select(*[F.col(c).alias(f"{c}_a") for c in m.columns])
    b = m.select(*[F.col(c).alias(f"{c}_b") for c in m.columns])
    j = a.join(b, F.col("source_a") < F.col("source_b"))
    ma, mb = F.col("s1_a") / F.col("n_a"), F.col("s1_b") / F.col("n_b")
    va = (F.col("s2_a") - F.col("s1_a") * F.col("s1_a") / F.col("n_a")) / (
        F.col("n_a") - 1
    ) / F.col("n_a")
    vb = (F.col("s2_b") - F.col("s1_b") * F.col("s1_b") / F.col("n_b")) / (
        F.col("n_b") - 1
    ) / F.col("n_b")
    return j.select(
        F.col("source_a").alias("src_a"),
        F.col("source_b").alias("src_b"),
        F.round((ma - mb) / F.sqrt(va + vb), 6).alias("welch_t"),
    )


@query(
    "dedup_rate_by_source",
    oracle=f"""
    WITH fb AS (
      SELECT doc_id, trim(lower(text)) AS t, len(trim(lower(text))) AS n,
             array_to_string((string_split_regex(trim(lower(text)), '\\s+'))[1:2], ' ') AS blk
      FROM documents
    ), heavy AS (
      SELECT blk FROM fb GROUP BY blk HAVING COUNT(*) > 100
    ), pairs AS (
      SELECT a.doc_id AS id_a, c.doc_id AS id_b
      FROM fb a JOIN fb c
        ON a.blk = c.blk AND a.doc_id < c.doc_id AND abs(a.n - c.n) <= 20
      WHERE levenshtein(a.t, c.t) <= 20
        AND a.blk NOT IN (SELECT blk FROM heavy)
    ), dup_ids AS (
      SELECT id_a AS doc_id FROM pairs UNION SELECT id_b FROM pairs
    )
    SELECT d.source,
           CAST(COUNT(*) AS INT) AS n_docs,
           CAST(COUNT(u.doc_id) AS INT) AS n_in_dup_pairs,
           ROUND(COUNT(u.doc_id) / CAST(COUNT(*) AS DOUBLE), 6) AS dup_rate
    FROM documents d LEFT JOIN dup_ids u USING (doc_id)
    GROUP BY d.source
    """,
)
def dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup dashboard sliced by ingestion source: what fraction of
    each source's documents sit in at least one fuzzy near-dup pair —
    the per-feed duplication rate that decides WHERE to spend dedup
    budget (and which crawler is re-fetching). Reuses the edit-distance
    pair join with the max_block_size=100 heavy-block cap (mirrored in
    the oracle's HAVING>100 anti-filter); the membership set is
    pair-bounded but O(corpus) in the worst case, so it carries NO
    mandatory broadcast hint — AQE broadcasts it when it is actually
    small."""
    d = load_table(spark, sf_dir, "documents")
    pairs = fuzzy.fuzzy_pairs(
        d, "text", "doc_id", max_dist=20, prefix_tokens=2, max_block_size=100
    )
    # r14: the old two-select union consumed `pairs` twice, re-running the
    # whole prefix-block + levenshtein pair join for each endpoint column
    # (18 parquet scans in the plan). Exploding both endpoints out of ONE
    # pass over the pair table yields the identical id multiset (§2.4).
    dup_ids = (
        pairs.select(F.explode(F.array("id_a", "id_b")).alias("doc_id"))
        .distinct()
    )
    flagged = d.join(
        dup_ids.withColumn("_dup", F.lit(1)), "doc_id", "left"
    )
    return flagged.groupBy("source").agg(
        F.count("*").cast("int").alias("n_docs"),
        F.sum(F.coalesce("_dup", F.lit(0))).cast("int").alias("n_in_dup_pairs"),
        F.round(
            F.sum(F.coalesce("_dup", F.lit(0))) / F.count("*").cast("double"), 6
        ).alias("dup_rate"),
    )


@query(
    "text_token_coverage",
    oracle="""
    WITH counts AS (
      SELECT t.tok, CAST(COUNT(*) AS DOUBLE) AS c
      FROM documents,
           UNNEST(string_split_regex(trim(lower(text)), '\\s+')) AS t(tok)
      GROUP BY t.tok
    ), ranked AS (
      SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, tok) AS r,
             SUM(c) OVER () AS tot,
             SUM(c) OVER (ORDER BY c DESC, tok
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM counts
    )
    SELECT CAST(r AS INT) AS rank_checkpoint,
           ROUND(cum / tot, 6) AS cum_share
    FROM ranked WHERE r IN (1, 5, 10, 20, 50, 100, 500, 1000)
    """,
)
def text_token_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: the cumulative share of all token
    occurrences covered by the top-r tokens, sampled at standard rank
    checkpoints — the statistic that sizes a vocabulary (BPE merge count,
    embedding table) against the mass it actually captures. Counts are a
    word-count agg; the global (count desc, token) rank + running sum run
    through the two-phase distributed scan
    (operators/ranking.py::attach_global_order_stats) — whitespace vocab
    is UNBOUNDED at 100 TB (typos/URLs/numbers push distinct tokens past
    10⁸), so a bare Window.orderBy single-task sort is not acceptable
    here. Counts stay integer-exact (bigint) through the running sum;
    the share division happens once at the 8 surviving checkpoints."""
    d = load_table(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode(T.tokens(F.lower(F.col("text")))).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("c"))
    )
    ranked = ranking.attach_global_order_stats(
        counts,
        [("c", "desc"), ("tok", "asc")],
        row_number="r",
        cumsum=("c", "cum"),
    )
    tot = counts.agg(F.sum("c").alias("tot"))
    return (
        ranked.filter(F.col("r").isin(1, 5, 10, 20, 50, 100, 500, 1000))
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("r").cast("int").alias("rank_checkpoint"),
            F.round(F.col("cum") / F.col("tot"), 6).alias("cum_share"),
        )
    )


@query(
    "text_js_divergence_sources",
    oracle="""
    WITH counts AS (
      SELECT source, t.tok, CAST(COUNT(*) AS DOUBLE) AS c
      FROM documents,
           UNNEST(string_split_regex(trim(lower(text)), '\\s+')) AS t(tok)
      WHERE source IN ('src0', 'src1')
      GROUP BY 1, 2
    ), tot AS (
      SELECT source, SUM(c) AS n FROM counts GROUP BY 1
    ), vocab AS (
      SELECT DISTINCT tok FROM counts
    ), p AS (
      SELECT s.source, v.tok,
             COALESCE(c.c, 0) / t.n AS p
      FROM (SELECT DISTINCT source FROM counts) s
      CROSS JOIN vocab v
      LEFT JOIN counts c ON c.source = s.source AND c.tok = v.tok
      JOIN tot t ON t.source = s.source
    ), joined AS (
      SELECT a.tok, a.p AS pa, b.p AS pb, (a.p + b.p) / 2 AS m
      FROM p a JOIN p b ON b.tok = a.tok
      WHERE a.source = 'src0' AND b.source = 'src1'
    )
    SELECT ROUND(0.5 * SUM(CASE WHEN pa > 0 THEN pa * LN(pa / m) ELSE 0 END)
               + 0.5 * SUM(CASE WHEN pb > 0 THEN pb * LN(pb / m) ELSE 0 END), 6)
             AS js_divergence,
           CAST(COUNT(*) AS INT) AS vocab_size
    FROM joined
    """,
)
def text_js_divergence_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence between the token distributions of two
    ingestion sources — the SYMMETRIC, bounded ([0, ln2]) companion to
    the KL split-drift gate, the right measure when neither side is the
    reference. Word-count aggregates + one vocab-sized grid join; zero
    corpus-sized shuffles after the first count."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("source").isin("src0", "src1")
    )
    # r14: the (source, tok) count table fed the totals, the vocab list
    # and the grid, and the grid was derived once per side — the corpus
    # tokenize ran up to six times (12 parquet scans). Materialize the
    # vocab-scale count table once (the r13 type-count rule) and PIVOT
    # the two sources per token in one groupBy: each (source, tok) has
    # exactly one count row, so the conditional sums reproduce the grid's
    # p values bit for bit, with absent tokens at 0.0 exactly like the
    # grid's coalesce (§2.4).
    counts = (
        d.select("source", F.explode(T.tokens(F.lower(F.col("text")))).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count("*").cast("double").alias("c"))
    ).localCheckpoint(eager=False)
    tot = counts.groupBy("source").agg(F.sum("c").alias("n"))
    withp = counts.join(F.broadcast(tot), "source").select(
        "tok",
        F.when(F.col("source") == "src0", F.col("c") / F.col("n"))
        .otherwise(F.lit(0.0)).alias("pa0"),
        F.when(F.col("source") == "src1", F.col("c") / F.col("n"))
        .otherwise(F.lit(0.0)).alias("pb0"),
    )
    j = (
        withp.groupBy("tok")
        .agg(F.sum("pa0").alias("pa"), F.sum("pb0").alias("pb"))
        .withColumn("m", (F.col("pa") + F.col("pb")) / 2)
    )
    term = lambda pcol: F.when(  # noqa: E731
        F.col(pcol) > 0, F.col(pcol) * F.log(F.col(pcol) / F.col("m"))
    ).otherwise(F.lit(0.0))
    return j.agg(
        F.round(
            0.5 * F.sum(term("pa")) + 0.5 * F.sum(term("pb")), 6
        ).alias("js_divergence"),
        F.count("*").cast("int").alias("vocab_size"),
    )


@query(
    "text_lexical_richness",
    oracle="""
    WITH toks AS (
      SELECT source, t.tok
      FROM documents,
           UNNEST(string_split_regex(trim(lower(text)), '\\s+')) AS t(tok)
    ), counts AS (
      SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
      FROM toks GROUP BY 1, 2
    )
    SELECT source,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS INT) AS n_types,
           ROUND(COUNT(*) / CAST(SUM(c) AS DOUBLE), 6) AS type_token_ratio,
           CAST(COUNT(*) FILTER (WHERE c = 1) AS INT) AS n_hapax,
           ROUND(COUNT(*) FILTER (WHERE c = 1) / CAST(COUNT(*) AS DOUBLE), 6)
             AS hapax_rate
    FROM counts GROUP BY source
    """,
)
def text_lexical_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical richness per source: type-token ratio and hapax-legomenon
    rate (words seen exactly once) — the vocabulary-health companions to
    entropy: templated feeds crater TTR, OCR noise inflates hapaxes. One
    word-count aggregation, then a source-sized rollup."""
    d = load_table(spark, sf_dir, "documents")
    counts = (
        d.select("source", F.explode(T.tokens(F.lower(F.col("text")))).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count("*").alias("c"))
    )
    hapax = F.sum((F.col("c") == 1).cast("int"))
    return counts.groupBy("source").agg(
        F.sum("c").alias("n_tokens"),
        F.count("*").cast("int").alias("n_types"),
        F.round(F.count("*") / F.sum("c").cast("double"), 6).alias("type_token_ratio"),
        hapax.cast("int").alias("n_hapax"),
        F.round(hapax / F.count("*").cast("double"), 6).alias("hapax_rate"),
    )


@query(
    "pipeline_stage_funnel",
    oracle=f"""
    WITH q AS (
      SELECT doc_id, text
      FROM (
        SELECT doc_id, text,
               len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
               {_QUALITY_SQL} AS quality
        FROM documents
      )
      WHERE quality >= 0.5 AND n_tokens BETWEEN 5 AND 100000
    ), fb AS (
      SELECT doc_id, trim(lower(text)) AS t, len(trim(lower(text))) AS n,
             array_to_string((string_split_regex(trim(lower(text)), '\\s+'))[1:2], ' ') AS blk
      FROM q
    ), fheavy AS (
      SELECT blk FROM fb GROUP BY blk HAVING COUNT(*) > 100
    ), doomed AS (
      SELECT DISTINCT c.doc_id FROM fb a JOIN fb c
        ON a.blk = c.blk AND a.doc_id < c.doc_id AND abs(a.n - c.n) <= 20
      WHERE levenshtein(a.t, c.t) <= 20
        AND a.blk NOT IN (SELECT blk FROM fheavy)
    ), deduped AS (
      SELECT doc_id, text FROM q WHERE doc_id NOT IN (SELECT doc_id FROM doomed)
    ), toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS ts
      FROM documents
    ), allspans AS (
      SELECT doc_id, substr(md5(array_to_string(ts[i.i:i.i+4], ' ')), 1, 16) AS h
      FROM toks, UNNEST(range(1, len(ts) - 3)) AS i(i)
    ), bench AS (
      SELECT DISTINCT h FROM allspans WHERE doc_id % 97 = 0
    ), dirty AS (
      SELECT DISTINCT s.doc_id FROM allspans s JOIN bench USING (h)
    ), clean AS (
      SELECT doc_id FROM deduped
      WHERE doc_id % 97 <> 0 AND doc_id NOT IN (SELECT doc_id FROM dirty)
    )
    SELECT * FROM (
      SELECT 1 AS stage_no, 'raw' AS stage,
             CAST((SELECT COUNT(*) FROM documents) AS INT) AS n_docs
      UNION ALL
      SELECT 2, 'quality_gate', CAST((SELECT COUNT(*) FROM q) AS INT)
      UNION ALL
      SELECT 3, 'fuzzy_dedup_keep_one', CAST((SELECT COUNT(*) FROM deduped) AS INT)
      UNION ALL
      SELECT 4, 'decontaminated', CAST((SELECT COUNT(*) FROM clean) AS INT)
    )
    """,
)
def pipeline_stage_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation-yield report: how many documents survive each stage
    of the standard corpus pipeline — raw → quality gate → fuzzy-dedup
    keep-one (min-id survivor of every edit-distance pair among quality
    survivors) → benchmark decontamination (eval docs and any doc
    sharing a 5-token span with the eval set dropped). The number every
    data-curation review starts from, composed entirely from the
    registered operators so every stage count is oracle-checked."""
    d = load_table(spark, sf_dir, "documents")
    n_tok = F.size(T.tokens(F.trim(F.col("text"))))
    # r13: the four outputs are COUNTS — only fuzzy_pairs needs TEXT.
    # Materialize the gate's id list once (id-only; the r13 item-10 A/B
    # proved storing the TEXT-carrying stage frames is a loss) and
    # rehydrate text for the fuzzy stage with a semi-join, so the
    # per-doc quality/token scoring runs once instead of once per
    # consumer (count, fuzzy input, dedup anti-join × 2 count paths).
    q_ids = (
        d.filter(
            (F.round(T.quality_score("text"), 4) >= 0.5)
            & n_tok.between(5, 100000)
        )
        .select("doc_id")
        .localCheckpoint(eager=False)
    )
    q = d.join(q_ids, "doc_id", "left_semi").select("doc_id", "text")
    pairs = fuzzy.fuzzy_pairs(
        q, "text", "doc_id", max_dist=20, prefix_tokens=2, max_block_size=100
    )
    doomed = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    deduped = q_ids.join(doomed, "doc_id", "left_anti")
    sp = spans.span_table(d, "text", "doc_id", w=5).withColumnRenamed("id", "doc_id")
    # r14 negative (measured, reverted): folding the two span passes into
    # one span_hash-keyed window (dirty = docs whose hash group contains
    # an eval doc) LOST its A/B ~10% — the eval span set is SMALL, so the
    # semi join below is an AQE broadcast that never shuffles sp, while
    # the window forces a full span_hash sort of the corpus span table.
    # The two-pass shape is the right one at any scale for a small eval set.
    bench = sp.filter(F.col("doc_id") % 97 == 0).select("span_hash").distinct()
    dirty = (
        sp.join(bench, "span_hash", "left_semi")
        .select("doc_id").distinct()
    )
    clean = (
        deduped.filter(F.col("doc_id") % 97 != 0)
        .join(dirty, "doc_id", "left_anti")
    )
    spark_counts = [
        (1, "raw", d), (2, "quality_gate", q_ids),
        (3, "fuzzy_dedup_keep_one", deduped), (4, "decontaminated", clean),
    ]
    rows = None
    for no, name, frame in spark_counts:
        one = frame.agg(F.count("*").cast("int").alias("n_docs")).select(
            F.lit(no).alias("stage_no"), F.lit(name).alias("stage"), "n_docs"
        )
        rows = one if rows is None else rows.unionByName(one)
    return rows


@query(
    "text_ngram_novelty",
    oracle="""
    WITH tok AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ts
      FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id,
             ts[i.i] || ' ' || ts[i.i + 1] || ' ' || ts[i.i + 2] AS shingle
      FROM tok, UNNEST(range(1, len(ts) - 1)) AS i(i)
      WHERE len(ts) >= 3
    ), firsts AS (
      SELECT shingle, MIN(doc_id) AS first_doc FROM sh GROUP BY shingle
    )
    SELECT s.doc_id,
           CAST(COUNT(*) AS INT) AS n_shingles,
           ROUND(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS novelty
    FROM sh s JOIN firsts f USING (shingle)
    GROUP BY s.doc_id
    """,
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: the fraction of a doc's distinct 3-gram
    shingles whose FIRST corpus occurrence (min doc_id, the ingestion
    order) is this document — the curriculum/data-ordering signal that
    ranks how much genuinely new text each document contributes, and the
    cheap detector for feeds that stop contributing (novelty → 0).
    Shingle first-occurrence is one word-count-shaped agg; the score join
    shuffles on the shingle key, never the corpus rows."""
    d = load_table(spark, sf_dir, "documents")
    from ..operators.dedup import shingle_table

    sh = shingle_table(d, "text", "doc_id", k=3).select(
        F.col("id").alias("doc_id"), "shingle"
    ).distinct()
    firsts = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    return (
        sh.join(firsts, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_shingles"),
            F.round(
                F.sum((F.col("first_doc") == F.col("doc_id")).cast("int"))
                / F.count("*").cast("double"),
                6,
            ).alias("novelty"),
        )
    )


@query(
    "pipeline_mixture_diversity",
    oracle="""
    WITH s AS (
      SELECT source, CAST(COUNT(*) AS DOUBLE) AS c FROM documents GROUP BY 1
    ), tot AS (
      SELECT SUM(c) AS n FROM s
    )
    SELECT CAST(COUNT(*) AS INT) AS n_sources,
           ROUND(-SUM((c / n) * LN(c / n)), 6) AS mix_entropy,
           ROUND(EXP(-SUM((c / n) * LN(c / n))), 4) AS effective_sources,
           ROUND(MAX(c) / MAX(n), 6) AS max_source_share
    FROM s, tot
    """,
)
def pipeline_mixture_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture-design health in one row: entropy of the source document
    shares, its exponential (the EFFECTIVE number of sources — 20 feeds
    that behave like 3 is a concentration risk), and the heaviest feed's
    share. The number a domain-mix policy (pipeline_domain_mix) is tuned
    against. One source-sized aggregate."""
    d = load_table(spark, sf_dir, "documents")
    s = d.groupBy("source").agg(F.count("*").cast("double").alias("c"))
    tot = s.agg(F.sum("c").alias("n"))
    j = s.crossJoin(F.broadcast(tot))
    p = F.col("c") / F.col("n")
    ent = -F.sum(p * F.log(p))
    return j.agg(
        F.count("*").cast("int").alias("n_sources"),
        F.round(ent, 6).alias("mix_entropy"),
        F.round(F.exp(ent), 4).alias("effective_sources"),
        F.round(F.max("c") / F.max("n"), 6).alias("max_source_share"),
    )


# Shared quality weight for the budgeted-selection pair: 0.4·length-term +
# 0.6·token-shape-term, floored at 1e-4 so exponents stay finite. ONE
# definition in each language — pipeline_weighted_sample and
# pipeline_token_budget_selection both consume these, which is what makes
# their "same score" contract real instead of four hand-synced copies.
_QW_SQL = """GREATEST(ROUND(
               0.4 * LEAST(len(string_split_regex(trim(lower(text)), '\\s+')) / 100.0, 1.0)
               + 0.6 * (1.0 - LEAST(ABS(5.5 -
                   (SELECT AVG(len(t.tok)) FROM UNNEST(
                      string_split_regex(trim(lower(text)), '\\s+')) AS t(tok)
                   )) / 5.5, 1.0)), 4), 0.0001)"""


def _quality_weight():
    """(tokens_col, weight_col) for the documents ``text`` column."""
    toks = T.tokens(F.trim(F.lower(F.col("text"))))
    mean_len = F.aggregate(
        toks, F.lit(0.0), lambda a, t: a + F.length(t)
    ) / F.size(toks)
    w = F.greatest(
        F.round(
            0.4 * F.least(F.size(toks) / F.lit(100.0), F.lit(1.0))
            + 0.6 * (1.0 - F.least(F.abs(5.5 - mean_len) / 5.5, F.lit(1.0))),
            4,
        ),
        F.lit(0.0001),
    )
    return toks, w


@query(
    "pipeline_weighted_sample",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, source,
             {_QW_SQL} AS w,
             (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':wrs'), 1, 15))
                   AS BIGINT) + 1) / 1152921504606846976.0 AS u
      FROM documents
    ), keyed AS (
      SELECT doc_id, source, w,
             ROUND(POWER(u, 1.0 / w), 8) AS k
      FROM scored
    ), ranked AS (
      SELECT doc_id, source, w, k,
             ROW_NUMBER() OVER (ORDER BY k DESC, doc_id) AS r
      FROM keyed
    )
    SELECT doc_id, source, w, k, CAST(r AS INT) AS r
    FROM ranked WHERE r <= 100
    """,
)
def pipeline_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement via exponential keys
    (Efraimidis–Spirakis A-ES): each document gets key u^(1/w) for a
    quality-derived weight w and the top-100 keys ARE a weighted sample —
    higher-quality docs proportionally more likely, no replacement, one
    TakeOrdered instead of sequential draws. The u is the portable hash
    (not an RNG), so the entire sample is a pure function of the corpus —
    reproducible across engines/runs and value-oracled. The selection IS
    a per-partition top-k + k-row driver merge (orderBy().limit() plans
    TakeOrderedAndProject — Spark does NOT rewrite a rank()<=k filter
    into that, so the rank runs AFTER the limit, over the 100 survivors
    only). This is the quality-WEIGHTED counterpart of
    pipeline_importance_sample's rate-based gate: use this when the
    budget is a COUNT, the gate when it is a RATE."""
    d = load_table(spark, sf_dir, "documents")
    _, w = _quality_weight()
    from ..functions.hashing import portable_hash64

    u = (
        portable_hash64(
            F.concat(F.col("doc_id").cast("string"), F.lit(":wrs"))
        )
        + 1
    ) / F.lit(float(1 << 60))
    keyed = d.select(
        "doc_id",
        "source",
        w.alias("w"),
        F.round(F.pow(u, 1.0 / w), 8).alias("k"),
    )
    from pyspark.sql.window import Window

    # TakeOrderedAndProject: per-partition 100-row heaps + driver merge —
    # no global sort, no full-corpus window at any scale
    top = keyed.orderBy(F.desc("k"), "doc_id").limit(100)
    # the rank is re-derived over the 100 SURVIVORS (bounded window)
    return top.select(
        "doc_id", "source", "w", "k",
        F.row_number()
        .over(Window.orderBy(F.desc("k"), "doc_id"))
        .cast("int")
        .alias("r"),
    )


@query(
    "pipeline_token_budget_selection",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id,
             len(string_split_regex(trim(lower(text)), '\\s+')) AS n_tokens,
             {_QW_SQL} AS w
      FROM documents
    ), ranked AS (
      SELECT doc_id, n_tokens, w,
             SUM(n_tokens) OVER (ORDER BY w DESC, doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
      FROM scored
    )
    SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens, w,
           CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM ranked WHERE cum_tokens <= 10000
    """,
)
def pipeline_token_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill a 10k-TOKEN budget with the best documents: rank by the
    quality weight (same score as pipeline_weighted_sample), take the
    running token total in that order, keep every doc that still fits —
    the greedy knapsack every 'train on the best N-billion tokens'
    curation step runs (budgets are token counts, not document counts,
    because that is what the training run consumes). Deterministic
    (w desc, doc_id) order makes the selected set oracle-exact. The
    global ordered cumulative sum runs as the TWO-PHASE distributed
    prefix sum (operators/ranking.py — per-range-partition totals,
    broadcast offsets, parallel per-partition windows): documents scale
    with the corpus, so the naive Window.orderBy form would be a
    single-partition walk of the whole corpus at 100 TB."""
    from ..operators.ranking import attach_global_order_stats

    d = load_table(spark, sf_dir, "documents")
    toks, w = _quality_weight()
    scored = d.select(
        "doc_id", F.size(toks).alias("n_tokens"), w.alias("w")
    )
    ranked = attach_global_order_stats(
        scored,
        [("w", "desc"), ("doc_id", "asc")],
        cumsum=("n_tokens", "cum_tokens"),
    ).select(
        "doc_id",
        F.col("n_tokens").cast("int").alias("n_tokens"),
        "w",
        F.col("cum_tokens").cast("bigint").alias("cum_tokens"),
    )
    return ranked.filter(F.col("cum_tokens") <= 10000)


@query(
    "text_readability_by_source",
    oracle="""
    WITH per_doc AS (
      SELECT source,
             len(string_split_regex(trim(lower(text)), '\\s+')) AS words,
             GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1) AS sents,
             GREATEST(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1) AS syls
      FROM documents
    ), scored AS (
      SELECT source,
             ROUND(206.835
                   - 1.015 * (CAST(words AS DOUBLE) / sents)
                   - 84.6 * (CAST(syls AS DOUBLE) / words), 4) AS flesch
      FROM per_doc WHERE words > 0
    )
    SELECT source,
           CAST(COUNT(*) AS INT) AS n_docs,
           ROUND(AVG(flesch), 4) AS avg_flesch,
           ROUND(MIN(flesch), 4) AS min_flesch,
           ROUND(MAX(flesch), 4) AS max_flesch
    FROM scored GROUP BY source
    """,
)
def text_readability_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per ingestion source (206.835 − 1.015·words/
    sentences − 84.6·syllables/words, with vowel-group runs as the
    engine-portable syllable proxy and [.!?]+ runs as sentences, both
    floored at 1 so empty-ish docs stay finite) — the readability member
    of the text-quality battery: catches sources drifting into
    keyword-stuffed or run-on machine text that the length/stopword gates
    pass. Pure regexp projections + one per-source agg (scan-speed at
    100 TB — no shuffle beyond the source-keyed rollup); per-doc scores
    are ROUNDED before the avg so both engines aggregate identical
    doubles."""
    d = load_table(spark, sf_dir, "documents")
    words = F.size(T.tokens(F.trim(F.lower(F.col("text")))))
    sents = F.greatest(
        F.size(F.regexp_extract_all(F.col("text"), F.lit("[.!?]+"), F.lit(0))),
        F.lit(1),
    )
    syls = F.greatest(
        F.size(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit("[aeiouy]+"), F.lit(0))
        ),
        F.lit(1),
    )
    flesch = F.round(
        F.lit(206.835)
        - 1.015 * (words.cast("double") / sents)
        - 84.6 * (syls.cast("double") / words),
        4,
    )
    scored = d.select("source", flesch.alias("flesch")).filter(words > 0)
    return scored.groupBy("source").agg(
        F.count("*").cast("int").alias("n_docs"),
        F.round(F.avg("flesch"), 4).alias("avg_flesch"),
        F.round(F.min("flesch"), 4).alias("min_flesch"),
        F.round(F.max("flesch"), 4).alias("max_flesch"),
    )


@query(
    "dedup_jaro_winkler",
    oracle="""
    WITH b AS (
      SELECT doc_id, substr(trim(lower(text)), 1, 64) AS t,
             array_to_string((string_split_regex(trim(lower(text)), '\\s+'))[1:2], ' ') AS blk
      FROM documents
    ), heavy AS (
      SELECT blk FROM b GROUP BY blk HAVING COUNT(*) > 100
    )
    SELECT a.doc_id AS id_a, c.doc_id AS id_b,
           ROUND(jaro_winkler_similarity(a.t, c.t), 6) AS jw_sim
    FROM b a JOIN b c ON a.blk = c.blk AND a.doc_id < c.doc_id
    WHERE jaro_winkler_similarity(a.t, c.t) >= 0.8
      AND a.blk NOT IN (SELECT blk FROM heavy)
    """,
)
def dedup_jaro_winkler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaro–Winkler near-match pairs on the 64-char normalized head:
    the entity-resolution scorer (prefix-weighted, built for
    names/titles/template heads) completing the character-level corner
    of the dedup family next to dedup_fuzzy_edit. Candidates come from
    the same 2-token prefix-block equi-join with the max_block_size=100
    heavy-block cap (oracle-mirrored HAVING>100); the scorer is an
    Arrow-batched pandas UDF whose pure-Python kernel is fuzzed
    BIT-FOR-BIT against DuckDB's jaro_winkler_similarity (so the ≥0.8
    threshold cuts identically on both engines —
    operators/fuzzy.py::jaro_winkler)."""
    d = load_table(spark, sf_dir, "documents")
    return fuzzy.jaro_winkler_pairs(
        d, "text", "doc_id", threshold=0.8, prefix_tokens=2, score_chars=64,
        max_block_size=100,
    )


# ==========================================================================
# Byte-level BPE pre-tokenization: merges never cross chunk boundaries, and
# " the" and "the" are different tokens
# ==========================================================================


# GPT-2's pattern minus the `\s+(?!\S)` negative lookahead (RE2 — the
# oracle's regex engine — has no lookahead): contractions, space-prefixed
# letter/digit/punctuation runs, then whitespace runs. Alternation is
# leftmost-FIRST in both Java regex and RE2's default mode, so both
# engines chunk identically.
_PRETOKEN_RE = r"'(?:s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^a-z0-9\s']+|\s+"
# the pattern itself contains apostrophes → double them for the SQL literal
_PRETOKEN_SQL = _PRETOKEN_RE.replace("'", "''")


@query(
    "text_bytelevel_pretokenize",
    oracle=f"""
    WITH tok AS (
      SELECT UNNEST(regexp_extract_all(lower(text),
                    '{_PRETOKEN_SQL}', 0)) AS token
      FROM documents
    )
    SELECT token, CAST(COUNT(*) AS BIGINT) AS n
    FROM tok GROUP BY token
    ORDER BY n DESC, token LIMIT 40
    """,
)
def text_bytelevel_pretokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-40 pre-token chunks with GPT-2's leading-space convention:
    " the" (mid-text) and "the" (document head) count separately, which
    is exactly the asymmetry a byte-level BPE inherits. One
    regexp_extract_all + explode + keyed count — scan-bound, no Python;
    at 100 TB this is the canonical map-side-combine word count with a
    40-row TakeOrdered on top (per-partition top-k, no global sort)."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(
            F.explode(
                F.regexp_extract_all(
                    F.lower("text"), F.lit(_PRETOKEN_RE), F.lit(0)
                )
            ).alias("token")
        )
        .groupBy("token")
        .agg(F.count("*").cast("bigint").alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(40)
    )


@query(
    "text_levenshtein_pairs",
    oracle="""
    WITH a AS (
      SELECT doc_id, substr(text, 1, 30) AS p, source
      FROM documents WHERE doc_id < 100
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(levenshtein(a.p, b.p) AS INT) AS lev30,
           CAST(CASE WHEN a.source = b.source THEN 1 ELSE 0 END AS INT)
             AS same_source
    FROM a JOIN a b ON b.doc_id = a.doc_id + 1
    """,
)
def text_levenshtein_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit distance over consecutive-id document-prefix pairs — the
    built-in-function twin of dedup_fuzzy_edit's banded Levenshtein
    verifier: ``F.levenshtein`` runs JVM-side (whole-stage codegen, no
    Python), and both engines implement the identical classic DP, so the
    distances value-oracle exactly. Prefix-30 keeps the DP cell count
    bounded per pair regardless of document length, and the id-successor
    self-join is an equi-join on doc_id+1 — no quadratic pair space, the
    scale shape a sampled dup-rate MONITOR uses (score a 1-in-N band of
    adjacent ingest pairs cheaply, alert on drift) as opposed to the full
    LSH dedup path."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    a = d.select(
        F.col("doc_id").alias("id_a"),
        F.substring("text", 1, 30).alias("pa"),
        F.col("source").alias("sa"),
    )
    b = d.select(
        F.col("doc_id").alias("id_b"),
        F.substring("text", 1, 30).alias("pb"),
        F.col("source").alias("sb"),
    )
    return (
        a.join(b, b.id_b == a.id_a + 1)
        .select(
            "id_a",
            "id_b",
            F.levenshtein("pa", "pb").cast("int").alias("lev30"),
            F.when(F.col("sa") == F.col("sb"), 1).otherwise(0)
            .cast("int").alias("same_source"),
        )
    )


@query(
    "text_word_burstiness",
    oracle="""
    WITH wc AS (
      SELECT doc_id, w AS word, CAST(COUNT(*) AS BIGINT) AS c
      FROM (
        SELECT doc_id, UNNEST(string_split(text, ' ')) AS w FROM documents
      ) WHERE w <> ''
      GROUP BY doc_id, w
    ), nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
    agg AS (
      SELECT word,
             CAST(SUM(c) AS BIGINT) AS total,
             CAST(COUNT(*) AS BIGINT) AS df,
             CAST(SUM(c * c) AS BIGINT) AS sumsq
      FROM wc GROUP BY word
    ), top AS (
      SELECT word, total, df, sumsq FROM agg
      ORDER BY total DESC, word LIMIT 20
    )
    SELECT word, total, df,
           ROUND((CAST(sumsq AS DOUBLE)
                  - 2.0 * total / nd.n * total
                  + CAST(total AS DOUBLE) * total / nd.n)
                 / (nd.n - 1) / (CAST(total AS DOUBLE) / nd.n), 6)
             AS burstiness_vmr
    FROM top, nd
    """,
)
def text_word_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word BURSTINESS (variance-to-mean ratio of per-document counts,
    zeros included) for the top-20 corpus words — the classic
    content-vs-function-word separator (function words spread evenly,
    VMR ≈ 1 Poisson-like; topical words clump, VMR >> 1), and the signal
    a stop-word list or tf-idf damping choice is validated against.
    Computed WITHOUT materializing zero cells: with μ = total/n,
    Σ(c−μ)² over all n docs = Σc² − 2μ·total + n·μ² — three exact
    BIGINTs per word (Σc, Σc², df) plus the doc count, one rounded
    division chain. Word-count shape: one (doc, word) groupBy, one
    word-keyed agg, a 20-row TakeOrdered."""
    d = load_table(spark, sf_dir, "documents")
    wc = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("doc_id", "word")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    nd = d.agg(F.count("*").cast("bigint").alias("n"))
    agg = wc.groupBy("word").agg(
        F.sum("c").cast("bigint").alias("total"),
        F.count("*").cast("bigint").alias("df"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("sumsq"),
    )
    top = agg.orderBy(F.desc("total"), F.asc("word")).limit(20)
    n = F.col("n")
    total_d = F.col("total").cast("double")
    mean = total_d / n
    var = (
        F.col("sumsq").cast("double")
        - 2.0 * mean * F.col("total")
        + total_d * F.col("total") / n
    ) / (n - 1)
    return top.crossJoin(F.broadcast(nd)).select(
        "word",
        "total",
        "df",
        F.round(var / mean, 6).alias("burstiness_vmr"),
    )


@query(
    "text_kneser_ney_bigram",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS ts
      FROM documents
    ), bigr AS (
      SELECT doc_id, ts[i.i] AS w1, ts[i.i + 1] AS w2
      FROM toks, UNNEST(range(1, len(ts))) AS i(i)
    ), bc AS (
      SELECT w1, w2, CAST(COUNT(*) AS DOUBLE) AS c12 FROM bigr GROUP BY w1, w2
    ), hc AS (
      SELECT w1, CAST(SUM(c12) AS DOUBLE) AS c1,
             CAST(COUNT(*) AS DOUBLE) AS n1p
      FROM bc GROUP BY w1
    ), cont AS (
      SELECT w2, CAST(COUNT(*) AS DOUBLE) AS ncont FROM bc GROUP BY w2
    ), types AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS ntypes FROM bc
    )
    SELECT doc_id, CAST(COUNT(*) AS INT) AS n_bigrams,
           FLOOR(CAST(SUM(CAST(FLOOR(LN(
               (GREATEST(c12 - 0.75, 0.0) + 0.75 * n1p * ncont / ntypes) / c1
             ) * 1000000000 + 0.5) AS BIGINT)) AS DOUBLE)
             / COUNT(*) / 1000000000 * 10000 + 0.5) / 10000
             AS mean_kn_logprob
    FROM bigr JOIN bc USING (w1, w2) JOIN hc USING (w1) JOIN cont USING (w2),
         types
    GROUP BY doc_id
    """,
)
def text_kneser_ney_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERPOLATED KNESER–NEY BIGRAM LM SCORING (Kneser & Ney 1995, the
    smoothing every n-gram LM quality filter actually ships — CCNet's
    perplexity gate is a KN 5-gram): P(w2|w1) = (max(c(w1w2) − D, 0) +
    D·N1+(w1·)·P_cont(w2)) / c(w1·) with absolute discount D = 0.75 and
    the CONTINUATION probability P_cont(w2) = N1+(·w2)/|bigram types| —
    the piece plain MLE (text_bigram_logprob) lacks: it scores how
    PROMISCUOUSLY a word continues contexts, not how often it occurs.
    All inputs are exact integer counts; the one formula is written with
    the identical operation order in both engines, each bigram's log
    term is quantized to a 1e9 BIGINT BEFORE the cross-row sum (the
    house per-term discipline from pipeline_perplexity_filter — a raw
    AVG(LN(...)) is a float sum whose accumulation order differs between
    engines), and the displayed mean uses the FLOOR(x*1e4+0.5)/1e4
    quantizer instead of tie-splitting ROUND. Three word-keyed
    aggregates + the
    score equi-join + a 1-row broadcast of the type count — no new
    shuffle shapes at 100 TB beyond the proven bigram plan."""
    from ..functions import text as T

    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", T.tokens(F.lower(F.col("text"))).alias("ts"))
    toks = toks.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    bigr = toks.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("ts") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size("ts") - 1),
                    lambda i: F.struct(
                        F.element_at("ts", i).alias("w1"),
                        F.element_at("ts", i + 1).alias("w2"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
        ).alias("p"),
    ).select("doc_id", "p.w1", "p.w2")
    # r13: the bigram-type count table feeds FOUR consumers (hc, cont,
    # types, the score join); AQE broadcast-converts the three small ones,
    # defeating exchange reuse, so each re-ran the corpus tokenize+explode
    # — materialize the word-type-scale table once (guide §2.4)
    bc = bigr.groupBy("w1", "w2").agg(
        F.count("*").cast("double").alias("c12")
    ).localCheckpoint(eager=False)
    hc = bc.groupBy("w1").agg(
        F.sum("c12").cast("double").alias("c1"),
        F.count("*").cast("double").alias("n1p"),
    )
    cont = bc.groupBy("w2").agg(F.count("*").cast("double").alias("ncont"))
    types = bc.agg(F.count("*").cast("double").alias("ntypes"))
    pkn = (
        F.greatest(F.col("c12") - 0.75, F.lit(0.0))
        + F.lit(0.75) * F.col("n1p") * F.col("ncont") / F.col("ntypes")
    ) / F.col("c1")
    return (
        bigr.join(bc, ["w1", "w2"])
        .join(hc, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(types))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_bigrams"),
            (
                F.floor(
                    F.sum(
                        F.floor(F.log(pkn) * 1000000000 + F.lit(0.5)).cast("bigint")
                    ).cast("double")
                    / F.count("*")
                    / 1000000000
                    * 10000
                    + F.lit(0.5)
                )
                / 10000
            ).alias("mean_kn_logprob"),
        )
    )


_TR_D = 0.85          # damping
_TR_ITERS = 6         # unrolled power iterations
_TR_MIN_W = 3         # minimum co-occurrence count for an edge
_TR_BASE = 150_000_000  # (1-d) in 1e9 fixed point


def _textrank_oracle(iters: int = _TR_ITERS, k: int = 20) -> str:
    rs = "".join(
        f"""
    r{i} AS MATERIALIZED (
      SELECT e.dst AS word,
             {_TR_BASE} + CAST(SUM(CAST(FLOOR(
               CAST({_TR_D} AS DOUBLE) * e.w / d.wd * r.r + 0.5)
               AS BIGINT)) AS BIGINT) AS r
      FROM edges e
      JOIN wdeg d ON d.word = e.src
      JOIN r{i - 1} r ON r.word = e.src
      GROUP BY e.dst
    ),"""
        for i in range(1, iters + 1)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS ts
      FROM documents
    ), bigr AS (
      SELECT ts[i.i] AS w1, ts[i.i + 1] AS w2
      FROM toks, UNNEST(range(1, len(ts))) AS i(i)
      WHERE ts[i.i] <> ts[i.i + 1]
    ), bc AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c FROM bigr GROUP BY w1, w2
    ), edges AS MATERIALIZED (
      SELECT w1 AS src, w2 AS dst, c AS w FROM bc WHERE c >= {_TR_MIN_W}
      UNION ALL
      SELECT w2 AS src, w1 AS dst, c AS w FROM bc WHERE c >= {_TR_MIN_W}
    ), wdeg AS MATERIALIZED (
      SELECT src AS word, CAST(SUM(w) AS BIGINT) AS wd FROM edges GROUP BY src
    ), r0 AS (
      SELECT word, CAST(1000000000 AS BIGINT) AS r FROM wdeg
    ),{rs}
    final AS (
      SELECT word, r FROM r{iters}
    )
    SELECT word,
           FLOOR(CAST(r AS DOUBLE) / 1000000000 * 1000000 + 0.5) / 1000000
             AS textrank
    FROM final
    ORDER BY r DESC, word LIMIT {k}
    """


@query("text_textrank_keywords", oracle=_textrank_oracle())
def text_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEXTRANK KEYWORD EXTRACTION (Mihalcea & Tarau 2004) — PageRank
    over the word CO-OCCURRENCE graph (adjacent-token edges, weight =
    corpus co-occurrence count, low-support edges pruned):
    the graph-based keyword ranker that beats raw frequency and
    complements text_tfidf_keywords - a word ranks high when it co-occurs
    with other well-connected words, not merely when it is common
    (edges need >= 3 co-occurrences, _TR_MIN_W).
    r(v) = (1-d) + d * sum_u w(u,v)/wdeg(u) * r(u), d=0.85, 6 unrolled
    weighted power iterations, top-20 by score. Cross-engine discipline:
    ranks live in 1e9 fixed point; each edge's contribution is
    FLOOR-quantized to a BIGINT with the identical left-to-right
    expression (d * w / wdeg * r) BEFORE the per-node sum, so both
    engines accumulate identical integers in any order. The damping
    literal is CAST(0.85 AS DOUBLE) in the oracle: DuckDB's bare 0.85
    is DECIMAL(3,2), making 0.85*w EXACT where Spark's float64 path
    already rounded - a one-ulp FLOOR flip on boundary terms (verified:
    w=193, wd=3281, r=1978490850 floors to ...543 decimal vs ...542
    double) — the same
    integer-iteration pattern as graph_pagerank_neardup. Scale shape:
    one corpus scan builds the bigram counts; everything after is
    vocabulary-bounded (Heaps' law) — the edge table is
    localCheckpoint'ed once and each iteration is one keyed
    edge-join + aggregate, never a corpus re-scan."""
    from ..functions import text as T

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(T.tokens(F.lower(F.col("text"))).alias("ts"))
    toks = toks.repartition(spark.sparkContext.defaultParallelism)
    bigr = toks.select(
        F.explode(
            F.when(
                F.size("ts") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size("ts") - 1),
                    lambda i: F.struct(
                        F.element_at("ts", i).alias("w1"),
                        F.element_at("ts", i + 1).alias("w2"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
        ).alias("p")
    ).select("p.w1", "p.w2").where(F.col("w1") != F.col("w2"))
    bc = bigr.groupBy("w1", "w2").agg(F.count("*").cast("bigint").alias("c"))
    bc = bc.where(F.col("c") >= _TR_MIN_W)
    # r14 (guide §2.4/§3.1): the checkpointed edge table comes back as an
    # ExistingRDD with UnknownPartitioning, so the r13 repartition("src")
    # bought nothing for join planning — every iteration re-shuffled the
    # edges for the rank join AND re-derived the weighted-degree
    # aggregate (ew had 6 consumers). The weighted degree now rides INTO
    # the checkpoint via one window over the same src-keyed exchange, and
    # each iteration broadcast-joins the vocabulary-sized rank vector
    # instead of shuffling the edge table: per iteration one broadcast
    # build + one map-side join + the dst aggregation exchange. Rank
    # vectors are vocabulary-bounded (Heaps' law, further pruned by the
    # c ≥ 3 edge support); at a vocabulary too large to broadcast, drop
    # the hint and this degrades to the shuffled join, same values.
    from pyspark.sql.window import Window as _W

    edges = (
        bc.select(F.col("w1").alias("src"), F.col("w2").alias("dst"), F.col("c").alias("w"))
        .unionByName(
            bc.select(F.col("w2").alias("src"), F.col("w1").alias("dst"), F.col("c").alias("w"))
        )
        .withColumn("wd", F.sum("w").over(_W.partitionBy("src")).cast("bigint"))
        .localCheckpoint(eager=False)
    )
    r = edges.select(F.col("src").alias("word")).distinct().select(
        "word", F.lit(1000000000).cast("bigint").alias("r")
    )
    for _ in range(_TR_ITERS):
        r = (
            edges.join(F.broadcast(r.withColumnRenamed("word", "src")), "src")
            .groupBy("dst")
            .agg(
                (
                    F.lit(_TR_BASE)
                    + F.sum(
                        F.floor(
                            F.lit(_TR_D) * F.col("w") / F.col("wd") * F.col("r")
                            + F.lit(0.5)
                        ).cast("bigint")
                    )
                ).cast("bigint").alias("r")
            )
            .withColumnRenamed("dst", "word")
        )
    return (
        r.orderBy(F.desc("r"), F.asc("word"))
        .limit(20)
        .select(
            "word",
            (
                F.floor(F.col("r").cast("double") / 1000000000 * 1000000 + F.lit(0.5))
                / 1000000
            ).alias("textrank"),
        )
    )
