"""Text-analysis column expressions for training-data pipelines.

Everything here is built-in-function composition (split/transform/filter/
aggregate) — JVM-side, codegen-friendly, no Python in the hot path. Each
helper has a DuckDB-oracle-expressible definition so the driver harness can
verify it (see plans/text.py).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny deterministic English stopword list used by the language heuristic.
EN_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it", "on", "for")

# Marker-word profiles for the standalone language-ID operator. Word-level
# unigram profiles (the degenerate-but-effective end of the n-gram family):
# each language is identified by the hit ratio of its highest-frequency
# function words. Fixed small literals so the whole classifier stays a
# codegen-able expression in Spark AND a plain SQL expression in the oracle.
LANG_MARKERS = (
    ("en", ("the", "and", "of", "to", "in", "is", "it", "that", "for", "on")),
    ("de", ("der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit", "den")),
    ("fr", ("le", "la", "les", "et", "est", "des", "un", "une", "que", "pour")),
    ("es", ("el", "los", "las", "es", "se", "una", "con", "por", "para", "como")),
)


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization of trimmed text."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.trim(c), r"\s+")


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


def stopword_ratio(col: Column | str, stopwords: tuple[str, ...] = EN_STOPWORDS) -> Column:
    toks = tokens(F.lower(F.col(col) if isinstance(col, str) else col))
    in_set = F.filter(toks, lambda t: t.isin(*stopwords))
    return F.size(in_set) / F.size(toks)


def avg_token_len(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    non_space = F.length(F.regexp_replace(F.trim(c), r"\s+", ""))
    return non_space / token_count(c)


def non_alnum_ratio(col: Column | str) -> Column:
    """Share of characters that are not [a-zA-Z0-9 ] — crude noise measure."""
    c = F.col(col) if isinstance(col, str) else col
    bad = F.length(c) - F.length(F.regexp_replace(c, "[^a-zA-Z0-9 ]", ""))
    return bad / F.length(c)


def quality_score(col: Column | str) -> Column:
    """Deterministic 0..1 quality heuristic: rewards mid-length docs and
    low symbol noise. Formula is arbitrary but fixed; oracle-checkable."""
    c = F.col(col) if isinstance(col, str) else col
    n_tok = token_count(c).cast("double")
    length_term = F.least(n_tok / F.lit(100.0), F.lit(1.0))
    noise_term = F.lit(1.0) - non_alnum_ratio(c)
    return F.round(F.lit(0.5) * length_term + F.lit(0.5) * noise_term, 4)


def lang_guess(col: Column | str, threshold: float = 0.05) -> Column:
    """'en' if the English stopword ratio clears the threshold."""
    return F.when(stopword_ratio(col) >= threshold, F.lit("en")).otherwise(F.lit("unknown"))


def marker_ratio(col: Column | str, markers: tuple[str, ...]) -> Column:
    """Share of (lowercased, whitespace) tokens that hit a marker set."""
    toks = tokens(F.lower(F.col(col) if isinstance(col, str) else col))
    return F.size(F.filter(toks, lambda t: t.isin(*markers))) / F.size(toks)


def lang_id(col: Column | str, threshold: float = 0.05) -> Column:
    """Multi-language ID: argmax of per-language marker-word hit ratios,
    'unknown' below `threshold`. Ties break in LANG_MARKERS order (a doc
    scoring equally for en and de is labeled en). One scan, one projection,
    no shuffle — language ID at 100 TB is embarrassingly parallel and this
    keeps it entirely inside whole-stage codegen."""
    ratios = [(lang, marker_ratio(col, markers)) for lang, markers in LANG_MARKERS]
    best = F.greatest(*[r for _, r in ratios])
    expr = F.lit("unknown")
    # Build the argmax back-to-front so earlier languages win ties.
    for lang, r in reversed(ratios):
        expr = F.when(r == best, F.lit(lang)).otherwise(expr)
    return F.when(best >= F.lit(threshold), expr).otherwise(F.lit("unknown"))


def lang_id_score(col: Column | str) -> Column:
    """The winning marker-hit ratio behind `lang_id` (rounded for the
    cross-engine value hash)."""
    best = F.greatest(
        *[marker_ratio(col, markers) for _, markers in LANG_MARKERS]
    )
    return F.round(best, 4)


def fingerprint(col: Column | str) -> Column:
    """Document fingerprint: md5 of whitespace-normalized lowercase text
    (first 16 hex chars). Stable across engines."""
    c = F.col(col) if isinstance(col, str) else col
    normalized = F.lower(F.trim(F.regexp_replace(c, r"\s+", " ")))
    return F.substring(F.md5(normalized), 1, 16)


PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_LONGNUM_RE = r"[0-9]{7,}"


def pii_scrub(col: Column | str) -> Column:
    """Redact emails and long digit runs (phone/account-number shaped) —
    the standard pre-training PII pass, as pure regexp_replace (Spark
    replaces ALL matches; the DuckDB oracle mirrors with the 'g' flag)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(
        F.regexp_replace(c, PII_EMAIL_RE, "<EMAIL>"), PII_LONGNUM_RE, "<NUM>"
    )


def raw_shingles_from_tokens(tok_col: Column | str, k: int) -> Column:
    """k-word shingles WITH repeats (no array_distinct) — needed by the
    repetition-ratio quality signal, where the duplicate count is the
    point. Same CSE caveat as shingles_from_tokens: feed it an already
    materialized token-array attribute."""
    toks = F.col(tok_col) if isinstance(tok_col, str) else tok_col
    sh = F.transform(
        F.sequence(F.lit(0), F.size(toks) - k),
        lambda i: F.concat_ws(" ", *[F.element_at(toks, (i + j + 1).cast("int")) for j in range(k)]),
    )
    return F.when(F.size(toks) >= k, sh).otherwise(F.array().cast("array<string>"))


def shingles_from_tokens(tok_col: Column | str, k: int) -> Column:
    """Distinct k-word shingles from an ALREADY MATERIALIZED token-array
    column. Keep the token array an attribute (separate projection /
    exchange), not an inline ``split``: lambda bodies in higher-order
    functions are interpreted without common-subexpression elimination, so
    an inline split would be re-evaluated per element access — O(tokens²)
    per document."""
    toks = F.col(tok_col) if isinstance(tok_col, str) else tok_col
    sh = F.transform(
        F.sequence(F.lit(0), F.size(toks) - k),
        lambda i: F.concat_ws(" ", *[F.element_at(toks, (i + j + 1).cast("int")) for j in range(k)]),
    )
    return F.when(F.size(toks) >= k, F.array_distinct(sh)).otherwise(
        F.array().cast("array<string>")
    )


# GPT-2-flavored pre-tokenizer shape: word pieces, numbers, punctuation
# runs, and whitespace-attached apostrophe contractions each count as one
# token — a cheap proxy for LLM token counts without a vocab file.
BPE_ISH_PATTERN = r"'[a-z]+|[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]+"


def bpe_ish_token_count(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    # idx=0 → whole-match extraction (the pattern has no capture groups)
    return F.size(F.regexp_extract_all(c, F.lit(BPE_ISH_PATTERN), 0))


def rolling_hash_portable(
    col: Column | str, *, base: int = 257, modulus: int = (1 << 31) - 1
) -> Column:
    """Polynomial rolling hash of the token sequence (order-sensitive —
    unlike the md5 fingerprint, equal token MULTISETS in different orders
    hash differently): h = Σ tok_hash_i · base^(n-1-i) mod M, folded
    left-to-right with ``aggregate``. JVM-side, no UDF. The per-token hash
    is the md5-derived ``portable_hash64``, so every step is expressible
    identically in DuckDB (``list_reduce`` fold over ``md5``-hashed tokens
    — see plans/text.py::text_rolling_fingerprint_portable). M is the
    Mersenne prime 2^31-1: the accumulator stays < 2^31 and
    h·base + tok < 2^40, so neither engine overflows."""
    from .hashing import portable_hash64

    toks = tokens(F.lower(F.col(col) if isinstance(col, str) else col))
    return F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda h, t: F.pmod(
            h * base + F.pmod(portable_hash64(t), F.lit(modulus)), F.lit(modulus)
        ),
    )


def word_shingles(col: Column | str, k: int = 3) -> Column:
    """Distinct k-word shingles of lowercased text as array<string>.
    Documents with fewer than k tokens yield an empty array.

    NOTE: single-expression form — fine for small k over short text, but
    for bulk shingling use ``operators.dedup.shingle_table``, which
    materializes the token array first (see ``shingles_from_tokens``)."""
    return shingles_from_tokens(tokens(F.lower(F.col(col) if isinstance(col, str) else col)), k)


def winnowing_token_hashes(
    col: Column | str, *, modulus: int = (1 << 31) - 1
) -> Column:
    """Step 1 of winnowing (Schleimer, Wilkerson & Aiken 2003 — the
    MOSS plagiarism-detection algorithm): per-token portable md5 hashes
    mod the Mersenne prime (the same per-token hash as
    ``rolling_hash_portable``), as an array column. MATERIALIZE this as
    its own projection before calling ``winnowing_fingerprints`` — the
    gram folds reference each token hash k times, and an inlined
    expression would re-run the md5 per reference (HOF lambdas evaluate
    their subtrees per invocation), a k× hashing overhead a column
    reference avoids."""
    from .hashing import portable_hash64

    toks = tokens(F.lower(F.col(col) if isinstance(col, str) else col))
    return F.transform(
        toks, lambda t: F.pmod(portable_hash64(t), F.lit(modulus))
    )


def winnowing_fingerprints(
    th: Column | str,
    *,
    k: int = 4,
    base: int = 257,
    modulus: int = (1 << 31) - 1,
) -> Column:
    """Step 2: k-gram polynomial rolling hashes over a MATERIALIZED
    token-hash array column (see winnowing_token_hashes). The winnowing
    guarantee downstream: any shared run of >= k+window-1 tokens between
    two documents produces >= 1 shared fingerprint after
    ``winnowing_select``, while only ~2/(window+1) of gram hashes are
    kept. Documents shorter than k tokens yield no grams (guarded —
    sequence(1, x) with x < 1 would count DOWN)."""
    c = F.col(th) if isinstance(th, str) else th
    n = F.size(c)

    def gram(i):
        return F.aggregate(
            F.slice(c, i, k),
            F.lit(0).cast("long"),
            lambda h, t: F.pmod(h * base + t, F.lit(modulus)),
        )

    return F.when(
        n >= k, F.transform(F.sequence(F.lit(1), n - k + 1), gram)
    ).otherwise(F.array().cast("array<bigint>"))


def winnowing_select(grams: Column | str, *, window: int = 4) -> Column:
    """Second winnowing step over a MATERIALIZED gram-hash array column:
    distinct window-minima (see winnowing_fingerprints)."""
    g = F.col(grams) if isinstance(grams, str) else grams
    m = F.size(g)
    return F.when(
        m >= window,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), m - window + 1),
                lambda j: F.array_min(F.slice(g, j, window)),
            )
        ),
    ).otherwise(F.array().cast("array<bigint>"))
