"""Deduplication operators for training-data pipelines.

Five strategies, all shuffle-aware:

- exact:        hash-groupBy on a normalized key (one shuffle)
- ngram-jaccard: candidate pairs via shared-shingle equi-join (inverted
                 index pattern — never a cross product), Jaccard filter
- MinHash+LSH:  shingle → K minhashes → B bands → bucket equi-join;
                 candidate verification by full signature similarity
- SimHash:      60-bit signed-projection fingerprint over the portable
                 token hash; near-dups = small Hamming distance within
                 same band buckets
- embedding:    cosine near-dup pairs (brute pair join here; the scale
                 path buckets by LSH hyperplane signs first)

MinHash and SimHash hash with the md5-derived ``portable_hash64``, so
every registered pipeline is reproducible in DuckDB. Only the shingle
join keys of the n-gram Jaccard and containment joins use the cheaper
native ``xxhash64``: they are compared, never output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import portable_hash64
from ..functions.text import word_shingles
from ..functions.vectors import cosine_similarity, norm


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep the lowest id per distinct text; report the multiplicity."""
    return df.groupBy(text_col).agg(
        F.min(id_col).alias("kept_id"), F.count("*").alias("n_copies")
    )


def shingle_table(df: DataFrame, text_col: str, id_col: str, k: int = 3) -> DataFrame:
    """(id, shingle) inverted-index rows; distinct shingles per doc.

    Tokenizes into a materialized array behind a repartition exchange, THEN
    shingles from the attribute: (a) the shuffle spreads explode work across
    executors even when the source is a single small file, and (b) the
    token split runs once per document instead of once per element access
    inside the higher-order-function lambda (measured 9× on sf0.1)."""
    from ..functions.text import shingles_from_tokens, tokens

    toks = df.select(
        F.col(id_col).alias("id"), tokens(F.lower(F.col(text_col))).alias("toks")
    )
    toks = toks.repartition(toks.sparkSession.sparkContext.defaultParallelism, "id")
    return toks.select("id", F.explode(shingles_from_tokens("toks", k)).alias("shingle"))


#: Declared scale guards for banded candidate joins (the r10 verdict's
#: gate: a banded self-join's Σ bucket² cost must be bounded by SOMETHING,
#: and the caller has to say what). tools/driver_sim.py source-scans every
#: call site for the declaration; COVERAGE.md documents the audit.
BAND_SCALE_GUARDS = frozenset({
    # bucket key is a hash of the band's CONTENT tuple: the keyspace grows
    # with distinct content, so bucket sizes are true collision counts
    # (MinHash band md5s)
    "hashed-bands",
    # heavy (band, bucket) groups are capped downstream (anchor-star or
    # target truncation), bounding candidates at ~n·cap
    "max-bucket-cap",
    # band width is fixed BY THE ALGORITHM's guarantee (SimHash Hamming-4
    # pigeonhole: 4 bands × 15 bits); heavy buckets are true near-dup
    # families, bounded by upstream exact dedup — documented in COVERAGE.md
    "pigeonhole-bands",
    # deliberately uncapped small-n / oracle-baseline path; must not appear
    # on a graded plan (driver_sim source-scans plans/ for this)
    "uncapped-baseline",
})


def banded_explode(
    df: DataFrame, keep: list[str], bucket_exprs: list, *, scale_guard: str
) -> DataFrame:
    """One row per (input row, band) with columns ``keep + [band, bucket]``,
    produced by a SINGLE pass: explode an array of (band, bucket) structs.

    The alternative — a unionByName of per-band projections — re-evaluates
    the upstream subtree once per band (Spark reuses a shuffle exchange
    across identical branches, but each branch still re-reads the exchange
    output), so banding an expensive signature table costs ``bands``× reads.
    The explode reads it once; downstream equi-joins don't care about the
    row order change.

    ``scale_guard`` is a REQUIRED declaration of what bounds the downstream
    Σ bucket² candidate join (see ``BAND_SCALE_GUARDS``) — the API-level
    assert the r10 verdict asked for, so a new banded join cannot land
    without stating its scale story."""
    if scale_guard not in BAND_SCALE_GUARDS:
        raise ValueError(
            f"banded_explode: scale_guard={scale_guard!r} is not one of "
            f"{sorted(BAND_SCALE_GUARDS)}; declare what bounds the banded "
            f"candidate join (see BAND_SCALE_GUARDS)"
        )
    structs = F.array(*[
        F.struct(F.lit(b).alias("band"), e.alias("bucket"))
        for b, e in enumerate(bucket_exprs)
    ])
    return df.select(*keep, F.explode(structs).alias("__bb")).select(
        *keep, F.col("__bb.band").alias("band"), F.col("__bb.bucket").alias("bucket")
    )


def cap_doc_freq(sh: DataFrame, max_doc_freq: int | None) -> DataFrame:
    """Drop shingles whose document frequency exceeds ``max_doc_freq`` —
    THE skew guard for inverted-index candidate joins: an ultra-common
    shingle (boilerplate, stop-phrase) appearing in d documents contributes
    d² candidate pairs; one shingle in 1M docs is 10¹² pairs, a guaranteed
    straggler at 100 TB. Hot shingles carry no dedup signal anyway (they
    connect UNrelated documents), so dropping them trades a sliver of
    recall for bounded bucket sizes.

    The hot set is tiny by construction (heavy hitters), so the subtraction
    is a broadcast anti-join — no extra shuffle on the big table beyond the
    df groupBy. ``None`` disables the cap (oracle-checked paths keep exact
    semantics).
    """
    if max_doc_freq is None:
        return sh
    # sh is distinct per (id, shingle), so count(*) per shingle == doc freq
    hot = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > max_doc_freq)
        .select("shingle")
    )
    return sh.join(F.broadcast(hot), "shingle", "left_anti")


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by k-word-shingle Jaccard similarity.

    Join on shingle (inverted index) → count shared shingles per pair →
    Jaccard = |∩| / (|A| + |B| - |∩|). The equi-join on shingle is the
    standard scalable candidate generation: cost is Σ bucket² over shingle
    buckets, not n². With ``max_doc_freq`` set, ultra-common shingles are
    dropped BEFORE the join (see ``cap_doc_freq``) and the Jaccard is
    computed over the capped shingle sets — self-consistent sizes and
    intersections.
    """
    # join on a 64-bit shingle hash, not the string: the shuffle moves 8-byte
    # keys instead of ~20-char strings and the join compares longs (collision
    # probability over even 10^9 distinct shingles is ~1e-10 — negligible).
    # No materialization: the a/b self-join sides are IDENTICAL subtrees, so
    # the shingle exchange is genuinely reused at runtime, and the two small
    # sizes joins re-derive only cheap aggregates — an r13 A/B measured a
    # lazy localCheckpoint of sh at 2.5× SLOWER (0.85 s → 2.17 s at sf0.1):
    # storing n_shingle×16B blocks costs more than the re-derivations save
    # (OPTIMIZATION_r13.md), unlike the minhash/simhash signature tables.
    sh = shingle_table(df, text_col, id_col, k).select(
        "id", F.xxhash64("shingle").alias("shingle")
    )
    sh = cap_doc_freq(sh, max_doc_freq)
    sizes = sh.groupBy("id").agg(F.count("*").alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 4
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    threshold: float = 0.8,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Directed near-CONTAINMENT pairs: (id_a, id_b) where
    ``|shingles(a) ∩ shingles(b)| / |shingles(a)| ≥ threshold`` — doc a is
    (mostly) contained in doc b.

    Jaccard misses the quote/wrapper case: a 100-word post fully embedded
    in a 10,000-word page has Jaccard ≈ 0.01 but containment ≈ 1.0, and
    training-data dedup wants exactly that asymmetric signal (drop the
    wrapped copy, keep the superset — or vice versa). Same scalable shape
    as ``ngram_jaccard_pairs``: inverted-index equi-join on an 8-byte
    shingle hash, Σ bucket² candidate cost, ``max_doc_freq`` skew cap; the
    only change is the denominator (|A| alone) and that both directions of
    a pair are emitted since containment is not symmetric.
    """
    # no materialization — same A/B result as ngram_jaccard_pairs above
    # (the identical a/b subtrees share their exchange at runtime)
    sh = shingle_table(df, text_col, id_col, k).select(
        "id", F.xxhash64("shingle").alias("shingle")
    )
    sh = cap_doc_freq(sh, max_doc_freq)
    sizes = sh.groupBy("id").agg(F.count("*").alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") != F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
    return (
        inter.join(sa, "id_a")
        .withColumn(
            "containment", F.round(F.col("n_common") / F.col("n_a"), 4)
        )
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
    )


# Portable MinHash: md5-derived base hash + linear-congruential permutations
# mod the Mersenne prime 2^31-1 — every step expressible identically in
# DuckDB SQL (see plans/text.py::dedup_minhash_portable oracle), which
# the engine-native xxhash64 is not. a*h31 < 2^62 so no BIGINT overflow
# in DuckDB (which checks) and no wrap in Spark. The multipliers are
# successive MINSTD powers 48271^(i+1) mod P, not multiples of one base:
# with a_i = c·(i+1), a shingle whose c·h31 mod P is small is the minimum
# of nearly every permutation at once, so two unrelated documents sharing
# it estimated Jaccard 0.97 against an exact 0.02
# (tests/test_operators.py::test_minhash_estimates_track_exact_jaccard).
MINHASH_P = 2147483647
MINHASH_A = [pow(48271, i + 1, MINHASH_P) for i in range(64)]
MINHASH_B = [(12345 * (i + 7)) % MINHASH_P for i in range(64)]


def minhash_signatures_portable(
    df: DataFrame, text_col: str, id_col: str, k: int = 3, num_hashes: int = 32,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Signature columns mh_0..mh_{n-1} per doc, portable arithmetic."""
    sh = cap_doc_freq(shingle_table(df, text_col, id_col, k), max_doc_freq)
    h31 = F.pmod(portable_hash64("shingle"), F.lit(MINHASH_P))
    hashed = sh.withColumn("h31", h31)
    return hashed.groupBy("id").agg(
        *[
            F.min(
                F.pmod(F.lit(MINHASH_A[i]) * F.col("h31") + F.lit(MINHASH_B[i]),
                       F.lit(MINHASH_P))
            ).alias(f"mh_{i}")
            for i in range(num_hashes)
        ]
    )


def minhash_signatures_rowwise(
    df: DataFrame, text_col: str, id_col: str, k: int = 3, num_hashes: int = 32
) -> DataFrame:
    """The same portable signature as ``minhash_signatures_portable`` but
    computed PER ROW (array fold over the in-row shingle set) — zero
    shuffle, zero explode: the plan is two stacked projections. Used where
    the big side must stay completely shuffle-free (the broadcast-reference
    similarity join). No df-cap (doc frequencies are a global aggregate);
    docs with fewer than k tokens drop out, matching the explode+groupBy
    variant which produces no rows for them.

    The shingle-hash array is materialized in its OWN projection so the 32
    min-folds reference one computed array — CollapseProject declines to
    inline a non-cheap expression used 32×, so the md5 per shingle is
    evaluated once (verified: single md5 in the executed plan)."""
    from ..functions.text import word_shingles

    h31 = F.transform(
        word_shingles(text_col, k),
        lambda s: F.pmod(portable_hash64(s), F.lit(MINHASH_P)),
    )
    step1 = df.select(F.col(id_col).alias("id"), h31.alias("__h31")).filter(
        F.size("__h31") > 0
    )
    return step1.select(
        "id",
        *[
            F.array_min(
                F.transform(
                    F.col("__h31"),
                    lambda x: F.pmod(
                        F.lit(MINHASH_A[i]) * x + F.lit(MINHASH_B[i]), F.lit(MINHASH_P)
                    ),
                )
            ).alias(f"mh_{i}")
            for i in range(num_hashes)
        ],
    )


def minhash_lsh_pairs_portable(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Oracle-checkable LSH dedup: band buckets are md5 of the band's
    minhash values (portable string combine); candidates verified by the
    fraction of matching minhashes across the full signature.

    r13 optimization (guide §2.4/§3): the signature table is materialized
    ONCE behind a lazy localCheckpoint and the full signature is CARRIED
    through the banding so verification happens inside the band join's
    projection. The previous form (candidate distinct + two verify joins
    against sig) re-derived the whole scan→tokenize→explode→md5→32-min
    pipeline FOUR times, because
    AQE's broadcast conversion of the small joins defeats ReusedExchange
    (measured: 4 parquet scans in the before-plan, 1 after; bench
    6.96 s → see OPTIMIZATION_r13.md). Rejected candidates are filtered
    before the pair-dedup shuffle, so they never move."""
    sig = minhash_signatures_portable(
        df, text_col, id_col, k, num_hashes, max_doc_freq
    ).localCheckpoint(eager=False)
    mh_cols = [f"mh_{i}" for i in range(num_hashes)]
    banded = banded_explode(sig, ["id"] + mh_cols,
                            _minhash_band_exprs(num_hashes, bands),
                            scale_guard="hashed-bands")
    a, b = banded.alias("a"), banded.alias("b")
    matches = sum(
        F.when(F.col(f"a.mh_{i}") == F.col(f"b.mh_{i}"), 1).otherwise(0)
        for i in range(num_hashes)
    )
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(matches / F.lit(float(num_hashes)), 4).alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= threshold)
        .dropDuplicates(["id_a", "id_b"])
    )


def _band_str(num_hashes: int, bands: int, b: int, prefix: str = "mh_"):
    """Band ``b``'s comma-joined minhash values over ``<prefix><i>``
    signature columns (the string the DuckDB oracle hashes)."""
    rows_per_band = num_hashes // bands
    return F.concat_ws(
        ",",
        *[F.col(f"{prefix}{b * rows_per_band + j}").cast("string")
          for j in range(rows_per_band)],
    )


def _minhash_band_exprs(num_hashes: int, bands: int, prefix: str = "mh_") -> list:
    """Portable band-bucket expressions: md5 of each band's string (same
    combine as the DuckDB oracle)."""
    return [
        F.md5(_band_str(num_hashes, bands, b, prefix).cast("binary"))
        for b in range(bands)
    ]


def minhash_similarity_join(
    df_a: DataFrame,
    df_b: DataFrame,
    text_col: str,
    id_col_a: str,
    id_col_b: str,
    k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
    broadcast_b: bool = False,
) -> DataFrame:
    """Cross-TABLE fuzzy text join (entity resolution / record linkage):
    match rows of ``df_a`` to rows of ``df_b`` whose shingle sets have
    estimated Jaccard >= ``threshold`` — the A×B generalization of the
    self-join dedup above, sharing the same portable MinHash arithmetic so
    the whole pipeline stays DuckDB-oracle-checkable.

    Scale shape: both sides are signed independently (one shuffle each),
    banded by ``banded_explode`` (single pass), and candidates come from an
    equi-join on (band, bucket) — never an A×B product. Verification (the
    fraction of matching minhashes) runs on candidates only.

    ``broadcast_b=True`` is the bounded-reference case (match a 100 TB
    crawl against a curated catalog): A's signatures are computed PER ROW
    (``minhash_signatures_rowwise`` — no explode, no groupBy), carried
    through the banding explode, and verified INSIDE the broadcast join's
    projection, with multi-band collisions deduplicated by the
    lowest-matching-band expression filter — the big side's plan is
    scan → project → explode → BroadcastHashJoin → filter, with ZERO
    shuffle exchanges end to end (pinned by
    tests/test_plan_properties.py). ``max_doc_freq`` requires the global
    doc-frequency aggregate, so it falls back to grouped signatures (one
    shuffle) when set; with a bounded B side, candidate fan-out is bounded
    by B's bucket sizes anyway.
    """
    band_exprs = _minhash_band_exprs(num_hashes, bands)
    if broadcast_b:
        if max_doc_freq is None:
            sig_a = minhash_signatures_rowwise(df_a, text_col, id_col_a, k, num_hashes)
            sig_b = minhash_signatures_rowwise(df_b, text_col, id_col_b, k, num_hashes)
        else:
            sig_a = minhash_signatures_portable(
                df_a, text_col, id_col_a, k, num_hashes, max_doc_freq
            )
            sig_b = minhash_signatures_portable(
                df_b, text_col, id_col_b, k, num_hashes, max_doc_freq
            )
        sig_b = sig_b.select(
            F.col("id").alias("id_b"),
            *[F.col(f"mh_{i}").alias(f"b_{i}") for i in range(num_hashes)],
        )
        banded_a = banded_explode(
            sig_a, ["id"] + [f"mh_{i}" for i in range(num_hashes)], band_exprs,
            scale_guard="hashed-bands",
        )
        banded_b = banded_explode(
            sig_b, ["id_b"] + [f"b_{i}" for i in range(num_hashes)],
            _minhash_band_exprs(num_hashes, bands, "b_"),
            scale_guard="hashed-bands",
        )

        # multi-band collisions keep only the LOWEST matching band — an
        # expression filter over the in-hand signatures (compare the raw
        # band strings; equal strings ⇔ equal md5 buckets), replacing the
        # distinct() exchange of the symmetric path
        lowest_band = F.lit(True)
        for bb in range(bands - 1):
            lowest_band = lowest_band & (
                (F.col("a.band") <= bb)
                | (_band_str(num_hashes, bands, bb)
                   != _band_str(num_hashes, bands, bb, "b_"))
            )
        matches = sum(
            F.when(F.col(f"mh_{i}") == F.col(f"b_{i}"), 1).otherwise(0)
            for i in range(num_hashes)
        )
        return (
            banded_a.alias("a")
            .join(
                F.broadcast(banded_b).alias("b"),
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bucket") == F.col("b.bucket"))
                & lowest_band,
            )
            .select(
                F.col("a.id").alias("id_a"),
                F.col("id_b"),
                F.round(matches / F.lit(float(num_hashes)), 4).alias("est_jaccard"),
            )
            .filter(F.col("est_jaccard") >= threshold)
        )

    # r13: each side's signature table is materialized once (lazy
    # localCheckpoint) and the signatures are CARRIED through the banding
    # so verification happens inside the band join's projection — the same
    # restructure as minhash_lsh_pairs_portable above (the candidate
    # distinct + two verify joins re-derived each scan→shingle→sign
    # pipeline twice once AQE broadcast-converted the verify joins).
    sig_a = minhash_signatures_portable(
        df_a, text_col, id_col_a, k, num_hashes, max_doc_freq
    ).localCheckpoint(eager=False)
    sig_b = minhash_signatures_portable(
        df_b, text_col, id_col_b, k, num_hashes, max_doc_freq
    ).localCheckpoint(eager=False)
    mh_cols = [f"mh_{i}" for i in range(num_hashes)]
    banded_a = banded_explode(sig_a, ["id"] + mh_cols, band_exprs,
                              scale_guard="hashed-bands")
    banded_b = banded_explode(sig_b, ["id"] + mh_cols, band_exprs,
                              scale_guard="hashed-bands")
    matches = sum(
        F.when(F.col(f"a.mh_{i}") == F.col(f"b.mh_{i}"), 1).otherwise(0)
        for i in range(num_hashes)
    )
    return (
        banded_a.alias("a")
        .join(
            banded_b.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(matches / F.lit(float(num_hashes)), 4).alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= threshold)
        .dropDuplicates(["id_a", "id_b"])
    )


SIMHASH_PORTABLE_BITS = 60  # portable base hash is 60 bits (15 md5 hex chars)


def simhash_portable(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """60-bit SimHash with the portable md5-derived token hash — every
    step (bit extraction, sign sums, fingerprint assembly) expressible in
    DuckDB SQL (see plans/text.py::dedup_simhash_portable oracle)."""
    toks = shingle_table(df, text_col, id_col, k=1).withColumnRenamed("shingle", "tok")
    hashed = toks.withColumn("h", portable_hash64("tok"))
    bit_cols = [
        F.sum(F.shiftrightunsigned("h", i).bitwiseAND(F.lit(1).cast("long"))).alias(f"c{i}")
        for i in range(SIMHASH_PORTABLE_BITS)
    ]
    sums = hashed.groupBy("id").agg(F.count("*").alias("n"), *bit_cols)
    return sums.select(
        "id",
        sum(
            F.when(2 * F.col(f"c{i}") > F.col("n"), F.lit(1 << i).cast("long"))
            .otherwise(F.lit(0).cast("long"))
            for i in range(SIMHASH_PORTABLE_BITS)
        ).alias("simhash"),
    )


def simhash_near_pairs_portable(
    df: DataFrame, text_col: str, id_col: str, max_hamming: int = 4
) -> DataFrame:
    """Oracle-checkable SimHash near-dup pairs: 4 15-bit band buckets for
    candidates, exact popcount Hamming verify.

    The fingerprint table is materialized once (lazy localCheckpoint):
    the band self-join's AQE broadcast conversion defeats ReusedExchange,
    so without it the whole scan→tokenize→md5→60-bit-sum pipeline ran
    twice (2 parquet scans in the r13 before-plan, 1 after)."""
    fp = simhash_portable(df, text_col, id_col).localCheckpoint(eager=False)
    banded = banded_explode(
        fp,
        ["id", "simhash"],
        [
            F.shiftrightunsigned("simhash", b * 15).bitwiseAND(F.lit(0x7FFF))
            for b in range(4)
        ],
        scale_guard="pigeonhole-bands",
    )
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


def connected_components(pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b",
                         max_iterations: int = 20,
                         local_threshold: int = 1_000_000,
                         salt_partitions: int | None = None) -> DataFrame:
    """Resolve near-dup PAIRS into duplicate GROUPS: (id, component) where
    component = min id reachable through the pair graph. This is the step
    that turns pairwise similarity into an actual keep-one-per-group dedup.

    Hybrid execution: graphs at or below ``local_threshold`` directed edges
    resolve with driver-side union-find (one small collect, no per-round
    jobs); larger graphs run iterative min-label propagation — each round
    joins current labels across edges and takes the min; converges in
    O(log n) rounds for real near-dup graphs (shallow components).
    DataFrame-only: every round is one join + one groupBy; localCheckpoint
    truncates the growing lineage. Both paths produce identical labels
    (parameterized equivalence test in tests/test_operators.py).

    ``salt_partitions``: skew hardening for the distributed path. The
    per-round join keys on ``dst``, so a HUB node (a hot near-dup
    component — boilerplate, empty docs) lands its entire fan-in in one
    task. With salting, each edge gets a deterministic salt from
    ``hash(src)`` and the (node-count-sized) label table replicates
    ``salt_partitions`` ways, so the join key becomes (dst, salt) and a
    100:1 hub spreads across ``salt_partitions`` tasks; the groupBy(src)
    after it already rides map-side partial aggregation. Cost: S× label
    shuffle volume — pay it when diag_key_skew-style probes show a hot
    component (tests/test_dedup_skew.py demonstrates the bound).
    """
    # Materialize the PAIRS once (the pair-generation subtree is typically
    # an expensive candidate join; the checkpoint pins its output so the
    # size probe and whichever resolution path runs never re-evaluate it).
    pairs = pairs.select(id_a, id_b).localCheckpoint()
    # Hybrid, like the graph libraries: the near-dup pair graph is orders of
    # magnitude smaller than the corpus (it's the OUTPUT of dedup filtering),
    # so below `local_threshold` directed edges the component labels are
    # resolved with driver-side union-find — one 16-byte-per-edge collect of
    # the already-materialized checkpoint, no per-round jobs (union-find is
    # direction- and duplicate-insensitive, so the undirected pair list is
    # collected as-is; the explode/distinct that the distributed path needs
    # is skipped entirely). Above the threshold, the distributed min-label
    # propagation below takes over unchanged (at 100 TB, banded dedup can
    # emit billions of edges — that path shuffles, this one never would).
    n_pairs = pairs.count()
    if 2 * n_pairs <= local_threshold:
        parent: dict = {}

        def find(x):
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != x:  # path compression
                parent[x], x = root, parent[x]
            return root

        edge_list = [(r[id_a], r[id_b]) for r in pairs.collect()]
        for src, dst in edge_list:
            ra, rb = find(src), find(dst)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)  # min id becomes the root
        nodes = {x for e in edge_list for x in e}
        rows = [(x, find(x)) for x in sorted(nodes)]
        return pairs.sparkSession.createDataFrame(rows, "id long, component long")
    # both edge directions from ONE pass over the pinned pairs (explode,
    # not union — a union of two projections would plan the scan twice)
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col(id_a).alias("src"), F.col(id_b).alias("dst")),
                    F.struct(F.col(id_b).alias("src"), F.col(id_a).alias("dst")),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .distinct()
        .localCheckpoint()
    )
    labels = (
        edges.select("src")
        .distinct()
        .select(F.col("src").alias("id"), F.col("src").alias("component"))
    )
    # Convergence check: labels only ever DECREASE (monotone min-propagation),
    # so Σ component strictly decreases iff any label changed this round.
    # r13: the checksum rides the SAME action as the round's checkpoint
    # materialization (an Observation after the label select) — one driver
    # job per round instead of two. decimal(38,0) so the checksum can't
    # overflow at any realistic id scale.
    from pyspark.sql import Observation

    prev_sum = labels.agg(
        F.sum(F.col("component").cast("decimal(38,0)")).alias("s")
    ).first()["s"]
    for _ in range(max_iterations):
        # candidate label for each node: min over neighbors' labels
        if salt_partitions and salt_partitions > 1:
            e_s = edges.withColumn(
                "__esalt", F.pmod(F.hash("src"), F.lit(salt_partitions))
            )
            l_s = labels.withColumn(
                "__lsalt",
                F.explode(
                    F.array(*[F.lit(i) for i in range(salt_partitions)])
                ),
            )
            neighbor_min = (
                e_s.join(
                    l_s,
                    (e_s.dst == l_s.id) & (e_s.__esalt == l_s.__lsalt),
                )
                .groupBy("src")
                .agg(F.min("component").alias("nbr_component"))
            )
        else:
            neighbor_min = (
                edges.join(labels, edges.dst == labels.id)
                .groupBy("src")
                .agg(F.min("component").alias("nbr_component"))
            )
        obs = Observation()
        new_labels = (
            labels.join(neighbor_min, labels.id == neighbor_min.src, "left")
            .select(
                "id",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("nbr_component"), F.col("component")),
                ).alias("component"),
            )
            .observe(
                obs, F.sum(F.col("component").cast("decimal(38,0)")).alias("s")
            )
            .localCheckpoint()
        )
        new_sum = obs.get["s"]
        labels = new_labels
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    return labels


def dedup_keep_one(df: DataFrame, pairs: DataFrame, id_col: str,
                   id_a: str = "id_a", id_b: str = "id_b") -> DataFrame:
    """Drop near-duplicates: keep each row whose id is its component's min
    (rows in no pair survive untouched)."""
    comp = connected_components(pairs, id_a, id_b)
    doomed = comp.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )
    return df.join(doomed, id_col, "left_anti")


def embedding_near_pairs(
    df: DataFrame, vec_col: str, id_col: str, threshold: float = 0.95
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — EXACT all-pairs variant.

    O(n²) pair join: correct at oracle scale, and the ground truth the
    bucketed variant below is measured against. At 100 TB use
    ``embedding_near_pairs_bucketed`` — same verify step, but the self-join
    runs per hyperplane-sign bucket instead of globally.
    Norms are precomputed once (projection) before the join.
    """
    base = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"), norm(vec_col).alias("nrm")
    )
    a, b = base.alias("a"), base.alias("b")
    from ..functions.vectors import dot as vdot

    cos = vdot(F.col("a.v"), F.col("b.v")) / (F.col("a.nrm") * F.col("b.nrm"))
    return (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(cos, 6).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def embedding_near_pairs_bucketed(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    planes: list[list[float]],
    threshold: float = 0.95,
    bands: int = 2,
    max_bucket: int | None = None,
    base: DataFrame | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs with an LSH-bucket prefilter — the
    100 TB path for ``embedding_near_pairs``.

    Each vector gets per-band hyperplane-sign bucket keys
    (``plane_dots`` + ``buckets_from_dots`` — per-band packing, so plane
    count is NOT capped at 63 by a single long); candidate pairs come from an EQUI-JOIN on (band, bucket) — cost
    Σ bucket², never n² — then the exact-cosine verify. Near-identical
    vectors agree on almost every hyperplane sign (collision prob per
    plane = 1 - θ/π), so near-dup recall stays high even at 16-bit bands;
    measured in tests/test_similarity.py and SCALE.md.

    ``max_bucket`` is the scale guard (mirrors the fuzzy family's
    heavy-block cap): a (band, bucket) group larger than ``max_bucket``
    would contribute bucket² candidates — on skewed/low-rank embeddings a
    single hot bucket can approach n even with 65k buckets per band
    (measured: max bucket 382/65,536 on the sf0.1 test embeddings). Heavy
    buckets degrade to ANCHOR-STAR linking: each member pairs only with
    the bucket's min-id anchor (bucket−1 candidates, not bucket²), which
    preserves connected-component dedup for true near-dup clusters (every
    mate still verifies against the anchor) while bounding total candidates
    at Σ_light bucket² + Σ_heavy bucket ≤ n·(max_bucket + bands) — linear
    in n. Heavy MIXED buckets lose non-anchor pairs, the same
    recall-for-boundedness trade ``cap_doc_freq`` makes; the heavy set
    itself is tiny (≤ n·bands/max_bucket keys), so both its anti-join and
    its star join broadcast.

    Output is a SUBSET of ``embedding_near_pairs(threshold)`` — identical
    verify expression (round(cos, 6) ≥ threshold), fewer candidate pairs.
    """
    from .similarity import buckets_from_dots, plane_dots

    # the plane-dot array is materialized BELOW the repartition exchange:
    # deriving the band keys directly from the vector would inline the
    # full literal plane matrix once per band (CollapseProject merges
    # adjacent projections), and a 64×64 matrix × 4 bands cost ~5 s of
    # whole-stage codegen COMPILATION per cold plan (measured). The
    # exchange is a collapse barrier, so the matrix is compiled and
    # evaluated exactly once per row; it also spreads the verify join
    # across every core (see similarity.py note) — broadcast self-joins
    # parallelize by stream-side partitions, and a single-file source
    # would otherwise run the whole Σ bucket² scoring in one or two tasks.
    # `base` override: a caller running SEVERAL detectors over the same
    # embeddings (capture-recapture's two plane halves) passes ONE shared
    # materialized (id, v, nrm, __pd) table — __pd holding THIS call's
    # plane dots, typically a slice of a wider precomputed dot array —
    # so the scan + literal-matrix evaluation + repartition run once per
    # query instead of once per detector. The caller owns the exchange/
    # checkpoint barrier the codegen note below relies on. Values are
    # identical: plane_dots evaluates dot(v, plane_i) per plane
    # independently, so a slice of the 2h-plane dot array equals the
    # h-plane dot array for the same planes.
    if base is None:
        base = df.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            norm(vec_col).alias("nrm"),
            plane_dots(vec_col, planes).alias("__pd"),
        ).repartition(df.sparkSession.sparkContext.defaultParallelism)
    bb = buckets_from_dots("__pd", len(planes), bands)
    banded = banded_explode(
        base, ["id", "v", "nrm"], [bb[b] for b in range(bands)],
        scale_guard="max-bucket-cap" if max_bucket is not None
        else "uncapped-baseline",
    )
    # the capped path references `banded` from FOUR consumers (bucket
    # stats, light side ×2, star members) and callers often fan the PAIR
    # table out again (DBSCAN reads it three times) — without a cut Spark
    # re-evaluates the signature subtree per reference. localCheckpoint
    # materializes n·bands rows of (id, v, nrm, band, bucket) once,
    # lazily (measured 12.4 s → 6.0 s at sf0.1 before the codegen fix).
    banded = banded.localCheckpoint(eager=False)
    from ..functions.vectors import dot as vdot

    def _pairs(left, right):
        cos = vdot(F.col("a.v"), F.col("b.v")) / (F.col("a.nrm") * F.col("b.nrm"))
        return (
            left.alias("a")
            .join(
                right.alias("b"),
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col("a.id") < F.col("b.id")),
            )
            .select(
                F.col("a.id").alias("id_a"),
                F.col("b.id").alias("id_b"),
                F.round(cos, 6).alias("cos_sim"),
            )
        )

    if max_bucket is None:
        cand = _pairs(banded, banded)
    else:
        # heavy (band, bucket) keys + their min-id anchors: one aggregate on
        # the band join key; the surviving set is ≤ n·bands/max_bucket rows
        hot = (
            banded.groupBy("band", "bucket")
            .agg(F.count("*").alias("bc"), F.min("id").alias("anchor"))
            .filter(F.col("bc") > max_bucket)
        )
        light = banded.join(
            F.broadcast(hot.select("band", "bucket")), ["band", "bucket"], "left_anti"
        )
        # the anchor's vector, fetched from its own banded row (the anchor
        # is a member of the heavy bucket, so its (band, id) row carries
        # the right v/nrm); hot is tiny → both joins broadcast
        anchors = (
            F.broadcast(hot.select("band", "bucket", "anchor"))
            .join(
                banded.select(
                    F.col("band").alias("band2"),
                    F.col("id").alias("anchor2"),
                    F.col("v").alias("av"),
                    F.col("nrm").alias("anrm"),
                ),
                (F.col("band") == F.col("band2"))
                & (F.col("anchor") == F.col("anchor2")),
            )
            .select("band", "bucket", "anchor", "av", "anrm")
        )
        star_cos = vdot(F.col("av"), F.col("v")) / (F.col("anrm") * F.col("nrm"))
        star = (
            banded.join(F.broadcast(anchors), ["band", "bucket"])
            .filter(F.col("id") != F.col("anchor"))
            .select(
                F.col("anchor").alias("id_a"),  # anchor = min(id) → id_a < id_b
                F.col("id").alias("id_b"),
                F.round(star_cos, 6).alias("cos_sim"),
            )
        )
        cand = _pairs(light, light).unionByName(star)
    # a pair colliding in several bands (or in both a light and a heavy
    # band) appears once per collision; the verify filter runs first, so
    # the dedup exchange is OUTPUT-sized, not candidate-sized
    return cand.filter(F.col("cos_sim") >= threshold).dropDuplicates(
        ["id_a", "id_b"]
    )
