"""Deduplication queries over documents/embeddings ([ext] —
SURVEY.md §2.11: exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine near-dup).

Engine-portability: every hash is md5-hex (identical lexicographic
order in Spark and DuckDB), so minhash signatures, LSH bands and
fingerprints agree bit-for-bit across engines — the whole dedup
surface is oracle-checkable, not just rows-only.

Scale design (100 TB): the exact/minhash/simhash paths are
explode → hash → groupBy/band-join shapes whose shuffle volume is
O(docs × shingles), independent of pair count; the quadratic
verify step only runs on LSH candidates. The raw n-gram Jaccard
all-pairs query is the *correctness baseline* for those (capped input)
— at scale you run minhash/simhash, never the baseline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .operators import text as X
from .operators.session_cache import session_cached
from .registry import register
from .sources.catalog import load_table, table_rows

# --- shared shingle kernel (word 3-grams, distinct) ------------------------

SHINGLE_N = 3


def shingles_col(toks: "F.Column") -> "F.Column":
    """Word n-gram shingles from a *materialized* tokens column.
    Callers must project the tokenization into a real column first —
    passing the raw split/regex expression here would get inlined into
    the per-element slice lambda and re-evaluated O(tokens²) times per
    document."""
    return F.when(
        F.size(toks) >= SHINGLE_N,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - (SHINGLE_N - 1)),
                lambda i: F.concat_ws(" ", F.slice(toks, i, SHINGLE_N)),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


def _doc_shingles(docs) -> "DataFrame":
    toks = docs.select("doc_id", X.tokens().alias("toks"))
    return toks.select("doc_id", shingles_col(F.col("toks")).alias("sh"))


SHINGLES_SQL = (
    f"CASE WHEN len({X.tokens_sql()}) >= {SHINGLE_N} THEN "
    f"list_distinct(list_transform("
    f"generate_series(1, len({X.tokens_sql()}) - {SHINGLE_N - 1}), "
    f"i -> array_to_string(({X.tokens_sql()})[i:i+{SHINGLE_N - 1}], ' '))) "
    f"ELSE [] END"
)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


# --- exact dedup -----------------------------------------------------------


@register(
    "dedup_exact",
    f"""
    SELECT fingerprint,
           CAST(min(doc_id) AS BIGINT) AS keeper_doc_id,
           CAST(count(*) AS BIGINT) AS n_copies
    FROM (SELECT doc_id, {X.fingerprint_sql()} AS fingerprint FROM documents)
    GROUP BY fingerprint
    """,
)
def dedup_exact(spark, sf_dir):
    """Exact dedup: hash-groupBy on the normalized-content fingerprint;
    keeper = min doc_id. One shuffle on the 16-byte hash — the shape
    that holds at any scale."""
    return (
        _docs(spark, sf_dir)
        .select("doc_id", X.fingerprint().alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count("*").alias("n_copies"),
        )
    )


@register(
    "dedup_exact_summary",
    f"""
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT {X.fingerprint_sql()}) AS BIGINT) AS n_unique,
           CAST(count(*) - count(DISTINCT {X.fingerprint_sql()}) AS BIGINT)
               AS n_duplicates
    FROM documents
    """,
)
def dedup_exact_summary(spark, sf_dir):
    fp = X.fingerprint()
    return _docs(spark, sf_dir).agg(
        F.count("*").alias("n_docs"),
        F.countDistinct(fp).alias("n_unique"),
        (F.count("*") - F.countDistinct(fp)).alias("n_duplicates"),
    )


# --- n-gram Jaccard near-dup (exact baseline, capped input) ---------------

_JACCARD_CAP = 1000  # bound the quadratic baseline; LSH paths are uncapped
_JACCARD_THRESHOLD = 0.5


@register(
    "dedup_ngram_jaccard",
    f"""
    WITH s AS (
        SELECT doc_id, {SHINGLES_SQL} AS sh
        FROM documents WHERE doc_id < {_JACCARD_CAP}
    ),
    e AS (SELECT doc_id, unnest(sh) AS shingle FROM s),
    p AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(count(*) AS BIGINT) AS n_common
        FROM e a JOIN e b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    z AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n FROM s)
    SELECT doc_a, doc_b, n_common,
           CAST(n_common AS DOUBLE) / CAST(za.n + zb.n - n_common AS DOUBLE)
               AS jaccard
    FROM p
    JOIN z za ON za.doc_id = doc_a
    JOIN z zb ON zb.doc_id = doc_b
    WHERE CAST(n_common AS DOUBLE) / CAST(za.n + zb.n - n_common AS DOUBLE)
          >= {_JACCARD_THRESHOLD}
    """,
)
def dedup_ngram_jaccard(spark, sf_dir):
    """Word-3-gram Jaccard near-dup pairs via a shingle inverted
    index. Exact but quadratic in co-shingled docs — the correctness
    baseline for the MinHash path; input capped at doc_id < 1000.

    r17 (guide §2.4): one exploded pass groups doc ids per shingle
    and expands each group's sorted id list into its ordered pairs
    map-side (the basket-pairs pattern) — ONE shingle exchange and
    one pair exchange. The previous self-join shape (a) exploded an
    ALIASED shingle column twice, paying the InferFiltersFromGenerate
    interpreted re-shingle per side (the dedup_repeated_substrings
    pathology), (b) shuffled the exploded relation into BOTH
    sort-merge-join sides, and (c) sorted each. Shingles are
    per-doc distinct (list_distinct) so each doc id appears at most
    once per group and n_common = the common-shingle count exactly;
    pairs from the sorted list are strictly doc_a < doc_b. 5.3 s ->
    see plans/r17. The ≤1000-doc cap bounds the per-shingle group
    list like the basket arrays."""
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < _JACCARD_CAP)
    # generator input INLINE (InferFiltersFromGenerate avoidance)
    ex = docs.select(
        "doc_id", F.explode(shingles_col(X.tokens())).alias("shingle")
    )
    pairs = (
        ex.groupBy("shingle")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ds, (x, i) ->"
                    " transform(slice(ds, i + 2, size(ds)),"
                    " y -> struct(x AS doc_a, y AS doc_b))))"
                )
            ).alias("p")
        )
        .groupBy(
            F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b")
        )
        .agg(F.count("*").alias("n_common"))
    )
    sizes = docs.select(
        "doc_id",
        F.size(shingles_col(X.tokens())).cast("bigint").alias("n"),
    )
    za, zb = sizes.alias("za"), sizes.alias("zb")
    jac = F.col("n_common").cast("double") / (
        F.col("za.n") + F.col("zb.n") - F.col("n_common")
    ).cast("double")
    return (
        pairs.join(F.broadcast(za), F.col("doc_a") == F.col("za.doc_id"))
        .join(F.broadcast(zb), F.col("doc_b") == F.col("zb.doc_id"))
        .select("doc_a", "doc_b", "n_common", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= _JACCARD_THRESHOLD)
    )


# --- MinHash + LSH near-dup ------------------------------------------------
#
# k=9 minhashes arranged as 3 bands of 3 rows. Band-of-3 matters here:
# with a small shingle vocabulary the baseline Jaccard between
# *unrelated* docs is ~0.06, so 2-row bands admit ~J² ≈ 0.4 % of all
# pairs as false candidates (quadratic blowup at the verify step);
# 3-row bands cut that to J³ ≈ 2·10⁻⁴ while keeping >99 % recall at
# the J≥0.9 near-dup level. The 9 hashes are 32-bit hex chunks carved
# out of 3 salted md5s (3 digest computations per shingle, not 9).

# per-(session, sf_dir) persisted shingle relation, shared by every
# query that consumes doc shingles (minhash signature + verify sides,
# simhash signature) — one tokenize+shingle pass per session instead of
# one per plan branch. At warehouse scale the same role is played by a
# materialized shingle table.
def cached_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return session_cached(
        spark, "doc_shingles", sf_dir,
        lambda: _doc_shingles(_docs(spark, sf_dir)),
    )

_MINHASH_SALTS = ("a", "b", "c")
_CHUNKS_PER_MD5 = 3  # use chunks at offsets 1, 9, 17 (8 hex chars each)
_MINHASH_BANDS = 3
_MINHASH_THRESHOLD = 0.5

_HASH_IDS = [
    (salt, ci) for salt in _MINHASH_SALTS for ci in range(_CHUNKS_PER_MD5)
]
_MINHASH_AGGS_SQL = ",\n               ".join(
    f"min(substr(md5('{salt}:' || shingle), {1 + 8 * ci}, 8)) AS h_{salt}{ci}"
    for salt, ci in _HASH_IDS
)
_BANDS_SQL = ", ".join(
    "(" + " || '|' || ".join(f"h_{s}{ci}" for s, ci in _HASH_IDS[3 * b : 3 * b + 3])
    + f") AS band{b}"
    for b in range(_MINHASH_BANDS)
)
_BAND_UNION_SQL = " UNION ALL ".join(
    f"SELECT doc_id, {i} AS band_idx, band{i} AS band_val FROM bands"
    for i in range(_MINHASH_BANDS)
)


MINHASH_PAIRS_ORACLE = f"""
    WITH s AS (SELECT doc_id, {SHINGLES_SQL} AS sh FROM documents),
    e AS (SELECT doc_id, unnest(sh) AS shingle FROM s),
    mh AS (
        SELECT doc_id, {_MINHASH_AGGS_SQL}
        FROM e GROUP BY doc_id
    ),
    bands AS (SELECT doc_id, {_BANDS_SQL} FROM mh),
    bx AS ({_BAND_UNION_SQL}),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bx a JOIN bx b
          ON a.band_idx = b.band_idx AND a.band_val = b.band_val
         AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(len(list_filter(sa.sh, x -> list_contains(sb.sh, x))) AS DOUBLE)
           / CAST(len(sa.sh) + len(sb.sh)
                  - len(list_filter(sa.sh, x -> list_contains(sb.sh, x)))
                  AS DOUBLE) AS jaccard
    FROM cand
    JOIN s sa ON sa.doc_id = doc_a
    JOIN s sb ON sb.doc_id = doc_b
    WHERE CAST(len(list_filter(sa.sh, x -> list_contains(sb.sh, x))) AS DOUBLE)
          / CAST(len(sa.sh) + len(sb.sh)
                 - len(list_filter(sa.sh, x -> list_contains(sb.sh, x)))
                 AS DOUBLE) >= {_MINHASH_THRESHOLD}
    """


def minhash_signatures(sh: "DataFrame") -> "DataFrame":
    """(doc_id, h_a0..h_c2) — the k=9 chunk-derived minhash signature
    columns (lexicographic MIN of md5 hex chunks per salt).  Factored
    out of ``minhash_band_keys`` in r7 so the sketch-accuracy audit
    can read slot-level agreement, not just whole-band equality."""
    ex = sh.select("doc_id", F.explode("sh").alias("shingle"))
    digests = ex.select(
        "doc_id",
        *[
            F.md5(
                F.concat(F.lit(f"{salt}:"), F.col("shingle")).cast("binary")
            ).alias(f"d_{salt}")
            for salt in _MINHASH_SALTS
        ],
    )
    return digests.groupBy("doc_id").agg(
        *[
            F.min(F.substring(f"d_{salt}", 1 + 8 * ci, 8)).alias(f"h_{salt}{ci}")
            for salt, ci in _HASH_IDS
        ]
    )


def cached_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-persisted minhash signature relation (one row per doc,
    9 short hex columns — doc-scale, the artifact an index build
    writes out), the exact precedent of dedup_simhash_pairs' cached
    signature (r16 optimization round). The signature build (shingle
    explode + 3 md5/shingle + 9-slot min aggregate) is the expensive
    half of every minhash query, and each of the four consumers fed
    it into BOTH sides of a band self-join — under Spark 4 AQE the
    two branches do not exchange-reuse (each wraps the shingle cache
    in its own TableCacheQueryStage, breaking canonical equality), so
    it ran twice per invocation per query. Cached, every band branch
    is a cache read + projection + posexplode."""
    return session_cached(
        spark,
        "minhash_sigs",
        sf_dir,
        lambda: minhash_signatures(cached_shingles(spark, sf_dir)),
    )


def minhash_band_keys(sh: "DataFrame") -> "DataFrame":
    """(doc_id, band_idx, band_val) LSH keys from a shingle relation:
    k=9 chunk-derived minhashes arranged as 3 bands of 3.  Shared by
    ``dedup_minhash_lsh`` and the scale-growth harness (which audits
    band-bucket sizes and candidate counts as the corpus grows)."""
    return minhash_band_keys_from_sigs(minhash_signatures(sh))


def minhash_band_keys_from_sigs(mh: "DataFrame") -> "DataFrame":
    """(doc_id, band_idx, band_val) from an already-built signature
    relation — the banding projection alone, so query paths can feed
    the session-cached signatures instead of rebuilding them."""
    return mh.select(
        "doc_id",
        F.array(
            *[
                F.concat_ws(
                    "|", *[f"h_{s}{ci}" for s, ci in _HASH_IDS[3 * b : 3 * b + 3]]
                )
                for b in range(_MINHASH_BANDS)
            ]
        ).alias("bands"),
    ).select("doc_id", F.posexplode("bands").alias("band_idx", "band_val"))


def _band_candidates(bands: "DataFrame") -> "DataFrame":
    """Distinct (doc_a, doc_b) pairs, doc_a < doc_b, sharing at least
    one (band_idx, band_val) bucket: the banded LSH candidate set."""
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def _sa_sb_jaccard() -> F.Column:
    """Exact shingle Jaccard |A∩B| / |A∪B| between the shingle
    relations aliased ``sa`` and ``sb``."""
    common = F.size(F.array_intersect(F.col("sa.sh"), F.col("sb.sh")))
    return common.cast("double") / (
        F.size(F.col("sa.sh")) + F.size(F.col("sb.sh")) - common
    ).cast("double")


def minhash_verified_pairs(spark, sf_dir) -> "DataFrame":
    """The verified near-dup pair relation (doc_a < doc_b, jaccard ≥
    threshold) — the body of dedup_minhash_lsh, factored in r7 so the
    token-savings report consumes the same pairs definition."""
    # The shingle relation feeds three plan branches (signature build +
    # both sides of the verify join) — the session cache persists it
    # once; repeat invocations (driver verify + bench warm/timed +
    # tests) reuse the same DataFrame object instead of re-persisting
    # the same logical plan and spamming 'already cached' warnings
    # (ADVICE r1).
    sh = cached_shingles(spark, sf_dir)
    bands = minhash_band_keys_from_sigs(cached_minhash_signatures(spark, sf_dir))
    cand = _band_candidates(bands)
    sa, sb = sh.alias("sa"), sh.alias("sb")
    jac = _sa_sb_jaccard()
    return (
        cand.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= _MINHASH_THRESHOLD)
    )


@register("dedup_minhash_lsh", MINHASH_PAIRS_ORACLE, headline=True)
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dup: shingle → k=9 chunk-derived minhashes →
    3 bands of 3 → band-bucket join for candidates → exact Jaccard
    verify on candidates only.

    The minhash value is the lexicographic MIN of md5 hex digests —
    a valid uniform min-hash that both engines order identically.
    Shuffle volume: O(docs×shingles) for signatures + O(docs×bands)
    for the bucket join; the quadratic verify touches only same-bucket
    candidates. This is the 100 TB dedup path."""
    return minhash_verified_pairs(spark, sf_dir)


# --- incremental near-dup (round 6) ----------------------------------------

# Deterministic "incoming batch" slice: doc_id % 5 == 2 (~20 % of the
# corpus) stands in for a new ingestion batch; the rest is the already-
# indexed corpus.
_INCR_BATCH_MOD, _INCR_BATCH_REM = 5, 2

_INCR_MINHASH_ORACLE = f"""
    WITH s AS (SELECT doc_id, {SHINGLES_SQL} AS sh FROM documents),
    e AS (SELECT doc_id, unnest(sh) AS shingle FROM s),
    mh AS (
        SELECT doc_id, {_MINHASH_AGGS_SQL}
        FROM e GROUP BY doc_id
    ),
    bands AS (SELECT doc_id, {_BANDS_SQL} FROM mh),
    bx AS ({_BAND_UNION_SQL}),
    cand AS (
        SELECT DISTINCT a.doc_id AS new_doc, b.doc_id AS dup_of
        FROM bx a JOIN bx b
          ON a.band_idx = b.band_idx AND a.band_val = b.band_val
        WHERE a.doc_id % {_INCR_BATCH_MOD} = {_INCR_BATCH_REM}
          AND b.doc_id % {_INCR_BATCH_MOD} <> {_INCR_BATCH_REM}
    )
    SELECT new_doc, dup_of,
           CAST(len(list_filter(sa.sh, x -> list_contains(sb.sh, x))) AS DOUBLE)
           / CAST(len(sa.sh) + len(sb.sh)
                  - len(list_filter(sa.sh, x -> list_contains(sb.sh, x)))
                  AS DOUBLE) AS jaccard
    FROM cand
    JOIN s sa ON sa.doc_id = new_doc
    JOIN s sb ON sb.doc_id = dup_of
    WHERE CAST(len(list_filter(sa.sh, x -> list_contains(sb.sh, x))) AS DOUBLE)
          / CAST(len(sa.sh) + len(sb.sh)
                 - len(list_filter(sa.sh, x -> list_contains(sb.sh, x)))
                 AS DOUBLE) >= {_MINHASH_THRESHOLD}
    """


def incremental_minhash_pairs(spark, sf_dir) -> "DataFrame":
    """(new_doc, dup_of, jaccard) — the verified batch→store pair
    relation, factored in r7 so the incremental-components query can
    consume the same probe."""
    sh = cached_shingles(spark, sf_dir)
    bands = minhash_band_keys_from_sigs(cached_minhash_signatures(spark, sf_dir))
    is_batch = (F.col("doc_id") % _INCR_BATCH_MOD) == _INCR_BATCH_REM
    newb = bands.filter(is_batch).alias("a")
    oldb = bands.filter(~is_batch).alias("b")
    cand = (
        newb.join(
            oldb,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val")),
        )
        .select(
            F.col("a.doc_id").alias("new_doc"),
            F.col("b.doc_id").alias("dup_of"),
        )
        .distinct()
    )
    sa, sb = sh.alias("sa"), sh.alias("sb")
    jac = _sa_sb_jaccard()
    return (
        cand.join(sa, F.col("new_doc") == F.col("sa.doc_id"))
        .join(sb, F.col("dup_of") == F.col("sb.doc_id"))
        .select("new_doc", "dup_of", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= _MINHASH_THRESHOLD)
    )


@register("dedup_incremental_minhash", _INCR_MINHASH_ORACLE, headline=True)
def dedup_incremental_minhash(spark, sf_dir):
    """Incremental near-dup: a new ingestion batch (deterministic
    doc_id slice) probes the EXISTING corpus's MinHash band index —
    the day-2 shape of dedup_minhash_lsh. The band keys of the batch
    join the stored band keys of the corpus; only (new, existing)
    candidates are Jaccard-verified, and batch-internal pairs are NOT
    re-examined.

    Scale: at 100 TB the (band_idx, band_val) → doc index is a stored
    table maintained across batches; each increment shuffles only the
    NEW docs' band keys against it (join keyed on band values), so
    per-batch cost is O(batch × bands + candidates) — the full-corpus
    pairing never reruns. Same banding/threshold constants as the
    batch path (one definition)."""
    return incremental_minhash_pairs(spark, sf_dir)


# --- SimHash ---------------------------------------------------------------
#
# 64-bit SHINGLE-level simhash (VERDICT r1 next-round #7). Round 1's
# 16-bit token-level variant degenerated on this corpus (all docs share
# one vocabulary, so token-frequency majority votes concentrate: 5000
# docs → ~1500 signatures, population-scale band buckets, 1000-doc
# cap). Hashing the word-3-gram shingle SET instead decorrelates the
# votes (measured: 4985/5000 distinct signatures at sf0.1) and 64 bits
# give banding room — 5 bands × 12 bits holds max-bucket ≈ 8 and 0.93
# recall of Jaccard≥0.5 pairs at hamming ≤ 10, UNCAPPED.
#
# Bits come from the first 16 hex chars of md5(shingle), 4 bits per
# char: bit j (1-based) = ((hexval(char ⌈j/4⌉) >> (3 - (j-1)%4)) & 1.
# The majority vote is an explode → groupBy(doc) with 64 integer sum
# columns — shuffle O(shingles), integer-exact in both engines.

_SIMHASH_BITS = 64
_SIMHASH_TABLES = 5  # number of LSH hash tables (fixed recall knob)
_SIMHASH_BAND_BITS_MIN = 12  # 5 disjoint 12-bit bands at test scales
_SIMHASH_BAND_BITS_MAX = 48
_SIMHASH_HAMMING_MAX = 10


def _simhash_band_bits(n_docs: int) -> int:
    """Adaptive band width w (round-3 scale-growth finding): the
    smallest w in [12, 48] with 2^(w+1) >= n_docs, so the per-table
    bucket space grows WITH the corpus and expected same-bucket
    candidate pairs stay ~bounded per doc (5 tables × n²/2^(w+1)
    ≤ 5n by the rule).  A fixed 12-bit width measured quadratic
    candidate growth (alpha 1.96) in tools/scale_growth.py — the
    same class of bug as the r2 fixed-k quantizers.  Integer
    thresholds only (no libm log2), Python twin of
    ``_simhash_band_bits_sql``; n comes from parquet metadata
    (``table_rows``), not a count job."""
    w = _SIMHASH_BAND_BITS_MIN
    while w < _SIMHASH_BAND_BITS_MAX and (1 << (w + 1)) < n_docs:
        w += 1
    return w


def _simhash_band_bits_sql(n_expr: str) -> str:
    """SQL twin of ``_simhash_band_bits`` — integer comparisons only."""
    arms = " ".join(
        f"WHEN {n_expr} <= {1 << (w + 1)} THEN {w}"
        for w in range(_SIMHASH_BAND_BITS_MIN, _SIMHASH_BAND_BITS_MAX)
    )
    return f"(CASE {arms} ELSE {_SIMHASH_BAND_BITS_MAX} END)"


def _simhash_band_starts(w: int) -> list[int]:
    """1-based substr starts of the _SIMHASH_TABLES cyclic w-bit
    windows over the doubled signature: table i starts at
    (i*w) mod 64, plus an (i*w) div 64 phase shift so tables stay
    distinct when w divides 64 (w=16 would otherwise make table 4 a
    copy of table 0).  At w=12 this is exactly the historical five
    disjoint 12-bit bands."""
    return [
        (i * w) % _SIMHASH_BITS + (i * w) // _SIMHASH_BITS + 1
        for i in range(_SIMHASH_TABLES)
    ]

_HEX = "0123456789abcdef"
_N_HEX_CHARS = _SIMHASH_BITS // 4


def _hexval_terms() -> list[str]:
    """One 0-15 integer per used hex char of ``h`` — computed ONCE and
    shared by its 4 bit terms (64 instr+substr calls → 16; this
    halved the expression-tree compile overhead). Identical text in
    Spark SQL and DuckDB (instr/substr exist in both)."""
    return [
        f"(instr('{_HEX}', substr(h, {c}, 1)) - 1) AS v{c}"
        for c in range(1, _N_HEX_CHARS + 1)
    ]


def _simhash_bit_term(j: int, div_op: str) -> str:
    """Bit j of the 64-bit shingle hash over the precomputed hexval
    columns ``v1..v16``. Same text for Spark and DuckDB except integer
    division: Spark ``div``, DuckDB ``//``."""
    c = (j - 1) // 4 + 1
    shift = 3 - (j - 1) % 4
    return f"((v{c} {div_op} {2 ** shift}) % 2)"


def _simhash_sig_select(div_op: str) -> tuple[str, str]:
    """(aggregate column list, signature concat expr) for one engine."""
    aggs = ",\n               ".join(
        f"sum({_simhash_bit_term(j, div_op)}) AS b{j}"
        for j in range(1, _SIMHASH_BITS + 1)
    )
    sig = " || ".join(
        f"(CASE WHEN 2 * b{j} > n THEN '1' ELSE '0' END)"
        for j in range(1, _SIMHASH_BITS + 1)
    )
    return aggs, sig


_ZERO_SIG = "0" * _SIMHASH_BITS


def _simhash_sig_sql() -> str:
    """DuckDB CTE chain: documents → signature (docs with <3 tokens
    have no shingles and get the all-zeros signature)."""
    aggs, sig = _simhash_sig_select("//")
    hexvals = ", ".join(_hexval_terms())
    return f"""
    s AS (SELECT doc_id, {SHINGLES_SQL} AS sh FROM documents),
    e AS (SELECT doc_id, md5(unnest(sh)) AS h FROM s),
    hv AS (SELECT doc_id, {hexvals} FROM e),
    votes AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n,
               {aggs}
        FROM hv GROUP BY doc_id
    ),
    sigs AS (
        SELECT d.doc_id, coalesce(v.sig, '{_ZERO_SIG}') AS simhash
        FROM documents d
        LEFT JOIN (SELECT doc_id, ({sig}) AS sig FROM votes) v
               ON v.doc_id = d.doc_id
    )"""


def _doc_simhash(docs, sh: "DataFrame | None" = None) -> "DataFrame":
    """Spark twin of ``_simhash_sig_sql``: explode shingles, one md5
    per shingle, 64 integer bit-sums per doc, majority-vote signature;
    shingle-less docs keep the all-zeros signature via left join.
    Pass ``sh`` to reuse a (cached) shingle relation.

    Kept WIDE deliberately (VERDICT r2 #4 evaluated): a long-format
    (doc, char_pos, hexval) reshape was measured SLOWER at sf0.1 —
    cold 4.9 s vs 3.3 s, warm 2.8 s vs 2.1 s — because the ×16 explode
    through an extra shuffle outweighs the 64-agg Catalyst compile it
    saves; the wide groupBy ships one combined row per doc per map
    partition."""
    if sh is None:
        sh = _doc_shingles(docs)
    e = sh.select("doc_id", F.explode("sh").alias("shingle")).select(
        "doc_id", F.md5(F.col("shingle").cast("binary")).alias("h")
    )
    hv = e.select("doc_id", *[F.expr(t) for t in _hexval_terms()])
    aggs = [
        F.sum(F.expr(_simhash_bit_term(j, "div"))).alias(f"b{j}")
        for j in range(1, _SIMHASH_BITS + 1)
    ]
    votes = hv.groupBy("doc_id").agg(F.count("*").alias("n"), *aggs)
    sig = F.concat(
        *[
            F.when(2 * F.col(f"b{j}") > F.col("n"), F.lit("1")).otherwise(
                F.lit("0")
            )
            for j in range(1, _SIMHASH_BITS + 1)
        ]
    )
    sigs = votes.select("doc_id", sig.alias("simhash"))
    return docs.select("doc_id").join(sigs, "doc_id", "left").select(
        "doc_id", F.coalesce("simhash", F.lit(_ZERO_SIG)).alias("simhash")
    )


@register(
    "dedup_simhash",
    f"""
    WITH {_simhash_sig_sql()}
    SELECT doc_id, simhash FROM sigs
    """,
)
def dedup_simhash(spark, sf_dir):
    """64-bit shingle-level SimHash signature: majority vote per bit
    over md5 bits of every distinct word-3-gram shingle. Near-identical
    docs differ in few bits; banding gives an LSH for hamming distance.
    Explode → groupBy(doc) — shuffle O(shingles), no pair blowup."""
    return _doc_simhash(_docs(spark, sf_dir), cached_shingles(spark, sf_dir))


def simhash_band_keys(sig: "DataFrame", n_docs: int) -> "DataFrame":
    """(doc_id, simhash, band_idx, band_val) LSH keys: _SIMHASH_TABLES
    cyclic windows of ``_simhash_band_bits(n_docs)`` bits over the
    doubled signature.  Shared by ``dedup_simhash_pairs`` and the
    scale-growth harness (which audits bucket sizes and candidate
    counts as the corpus grows)."""
    w = _simhash_band_bits(n_docs)
    return sig.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.expr(f"substr(simhash || simhash, {s}, {w})")
                    for s in _simhash_band_starts(w)
                ]
            )
        ).alias("band_idx", "band_val"),
    )


@register(
    "dedup_simhash_pairs",
    f"""
    WITH {_simhash_sig_sql()},
    p AS (SELECT {_simhash_band_bits_sql("(SELECT count(*) FROM documents)")}
              AS w),
    bx AS (
        SELECT doc_id, simhash, band_idx,
               substr(simhash || simhash,
                      (band_idx * w) % {_SIMHASH_BITS}
                      + (band_idx * w) // {_SIMHASH_BITS} + 1,
                      w) AS band_val
        FROM sigs, p,
             (SELECT unnest(generate_series(0, {_SIMHASH_TABLES - 1}))
                  AS band_idx)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.simhash AS sh_a, b.simhash AS sh_b
        FROM bx a JOIN bx b
          ON a.band_idx = b.band_idx AND a.band_val = b.band_val
         AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(len(list_filter(generate_series(1, {_SIMHASH_BITS}),
                j -> substr(sh_a, j, 1) <> substr(sh_b, j, 1))) AS BIGINT)
               AS hamming
    FROM cand
    WHERE len(list_filter(generate_series(1, {_SIMHASH_BITS}),
              j -> substr(sh_a, j, 1) <> substr(sh_b, j, 1)))
          <= {_SIMHASH_HAMMING_MAX}
    """,
    headline=True,
)
def dedup_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs, UNCAPPED: 5 scale-adaptive bands
    (cyclic w-bit windows, w from ``_simhash_band_bits`` — 12 at test
    scales, growing as log2(n) so candidates stay ~linear in n) over
    the 64-bit shingle-level signature → bucket equi-join → hamming
    ≤ 10 verify. Same LSH shape as minhash but on the compact bit
    signature. Measured at sf0.1 (w=12, the historical five disjoint
    bands): max band bucket 8 docs, 16.8k candidate pairs (0.13 % of
    all pairs), 0.93 recall of the exact Jaccard≥0.5 truth set — the
    64-bit shingle signature removes the round-1 degeneracy (16-bit
    token votes concentrated on this shared-vocabulary corpus and
    forced a 1000-doc cap)."""
    # the signature relation feeds BOTH sides of the band self-join —
    # persist it (one row per doc; the artifact an index build would
    # write out) so the explode+64-sum vote chain runs once, not twice.
    # Session-cached (ADVICE r3): repeated invocations (bench warm+timed,
    # driver, tests) reuse one cache entry instead of re-persisting.
    sh = session_cached(
        spark, "simhash_signatures", sf_dir,
        lambda: _doc_simhash(_docs(spark, sf_dir), cached_shingles(spark, sf_dir)),
    )
    bx = simhash_band_keys(sh, table_rows(sf_dir, "documents"))
    a, b = bx.alias("a"), bx.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    # hamming via xor+bit_count on the two packed 32-bit halves of the
    # bit string (conv base-2) — whole-stage-codegen integer ops
    # instead of an interpreted 64-element higher-order filter (the
    # oracle keeps its list_filter form; the integers are identical)
    def _half(col: str, lo: int) -> F.Column:
        return F.conv(F.expr(f"substr({col}, {lo}, 32)"), 2, 10).cast("bigint")

    hamming = (
        F.bit_count(_half("sh_a", 1).bitwiseXOR(_half("sh_b", 1)))
        + F.bit_count(_half("sh_a", 33).bitwiseXOR(_half("sh_b", 33)))
    ).cast("bigint")
    return (
        cand.select("doc_a", "doc_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= _SIMHASH_HAMMING_MAX)
    )


@register(
    "dedup_drop_duplicates",
    """
    SELECT o_orderstatus, o_orderpriority
    FROM orders
    GROUP BY o_orderstatus, o_orderpriority
    """,
)
def dedup_drop_duplicates(spark, sf_dir):
    """The dropDuplicates API surface (SURVEY §2.11 'exact dedup'):
    distinct (status, priority) combinations via dropDuplicates on a
    projection — Catalyst plans it as the same hash aggregate as
    GROUP BY."""
    return (
        load_table(spark, sf_dir, "orders")
        .select("o_orderstatus", "o_orderpriority")
        .dropDuplicates(["o_orderstatus", "o_orderpriority"])
    )


# --- cross-document repeated substrings (round 2) ---------------------------
#
# The substring-level memorization signal (k-token windows occurring in
# more than one document) — finer than document near-dup: a doc can be
# globally unique yet consist mostly of spans copied from elsewhere.

_SUBSTR_K = 8  # window length in tokens

_SUBSTR_ORACLE = f"""
    WITH t AS (SELECT doc_id, {X.tokens_sql()} AS toks FROM documents),
    wins AS (
        SELECT doc_id,
               CASE WHEN len(toks) >= {_SUBSTR_K} THEN
                   list_transform(generate_series(1, len(toks) - {_SUBSTR_K - 1}),
                       i -> md5(array_to_string(toks[i:i+{_SUBSTR_K - 1}], ' ')))
               ELSE [] END AS hs
        FROM t
    ),
    e AS (SELECT doc_id, unnest(hs) AS h FROM wins),
    dup AS (
        SELECT h FROM e GROUP BY h HAVING count(DISTINCT doc_id) >= 2
    ),
    per_doc AS (
        SELECT e.doc_id,
               CAST(count(*) AS BIGINT) AS n_windows,
               CAST(count(d.h) AS BIGINT) AS n_shared
        FROM e LEFT JOIN dup d ON d.h = e.h
        GROUP BY e.doc_id
    )
    SELECT doc_id, n_windows, n_shared,
           round(CAST(n_shared AS DOUBLE) / n_windows, 6) AS shared_frac
    FROM per_doc WHERE n_windows > 0
"""


def substr_window_hashes(toks: "F.Column | str" = "toks") -> "F.Column":
    """128-bit window id per _SUBSTR_K-token window (1-based window i
    covers tokens [i, i+K-1]); empty array for docs shorter than one
    window. Shared by the repeated-substring detector and the span
    remediator so the two agree on window identity.

    The id is a 16-byte struct of two independently seeded xxhash64s
    of the token-slice array — ``xxhash64(slice)`` and
    ``xxhash64(1, slice)``. The hash value never reaches any output; it
    exists only to GROUP equal windows, and two windows are equal iff
    their token arrays are equal (tokens contain no spaces, so the
    oracle's space-joined md5 grouping induces the identical partition
    of windows — both engines' groupings coincide with true window
    equality whenever their hashes are injective on the realized
    windows, which the cross-engine hash match verifies per run). One
    64-bit hash makes a birthday collision likely near 2^32 distinct
    windows, well inside a 100 TB corpus; two push that to ~2^64. The
    key stays a third of the width of an md5 hex STRING (~48 bytes),
    and hashing skips the ~4 md5 digests per token that string costs
    on the map side. Each window is sliced once and the slice hashed
    twice: lambda bodies run interpreted, so a second slice costs about
    as much as a second hash (sf0.1, 4 cores, median of 8:
    dedup_repeated_substrings 2.4 s with two slices vs 2.1 s with one)."""
    t = F.col(toks) if isinstance(toks, str) else toks
    return F.when(
        F.size(t) >= _SUBSTR_K,
        F.transform(
            F.transform(
                F.sequence(F.lit(1), F.size(t) - (_SUBSTR_K - 1)),
                lambda i: F.slice(t, i, _SUBSTR_K),
            ),
            lambda w: F.struct(
                F.xxhash64(w).alias("h1"), F.xxhash64(F.lit(1), w).alias("h2")
            ),
        ),
    ).otherwise(F.array().cast("array<struct<h1:bigint,h2:bigint>>"))


@register("dedup_repeated_substrings", _SUBSTR_ORACLE)
def dedup_repeated_substrings(spark, sf_dir):
    """Cross-document repeated-substring detection: every 8-token
    window is hashed; windows whose hash occurs in ≥ 2 distinct
    documents are 'shared spans', and each document reports the
    fraction of its windows that are shared — the span-level dedup
    signal behind substring-dedup of training corpora. Explode →
    groupBy(hash) → join back: shuffle O(tokens), never pairwise.

    r17: the generator input is INLINE, not an aliased projection
    column — exploding an aliased computed column lets
    InferFiltersFromGenerate push a size(hs) > 0 filter below the
    projection, INLINING the whole tokenize+window-hash chain into an
    interpreted Filter that re-evaluates every window hash per
    document before the Generate runs it again (measured: 7.6 s vs
    0.44 s for the identical explode at sf0.1 — the dominant cost of
    this query's old 17 s wall). With the expression inline the
    inference rule skips it and the chain is evaluated once."""
    t = _docs(spark, sf_dir).select("doc_id", X.tokens().alias("toks"))
    e = t.select("doc_id", F.explode(substr_window_hashes()).alias("h"))
    dup = (
        e.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h", F.lit(1).alias("_dup"))
    )
    per_doc = (
        e.join(dup, "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_windows"),
            F.count("_dup").alias("n_shared"),
        )
    )
    return per_doc.filter(F.col("n_windows") > 0).select(
        "doc_id",
        "n_windows",
        "n_shared",
        F.round(
            F.col("n_shared").cast("double") / F.col("n_windows"), 6
        ).alias("shared_frac"),
    )


# --- minhash sketch-accuracy audit (round 7) --------------------------------

_ACC_SLOT_AGREE_SQL = " + ".join(
    f"(CASE WHEN ma.h_{s}{ci} = mb.h_{s}{ci} THEN 1 ELSE 0 END)"
    for s, ci in _HASH_IDS
)

_MINHASH_ACCURACY_ORACLE = f"""
    WITH s AS (SELECT doc_id, {SHINGLES_SQL} AS sh FROM documents),
    e AS (SELECT doc_id, unnest(sh) AS shingle FROM s),
    mh AS (
        SELECT doc_id, {_MINHASH_AGGS_SQL}
        FROM e GROUP BY doc_id
    ),
    bands AS (SELECT doc_id, {_BANDS_SQL} FROM mh),
    bx AS ({_BAND_UNION_SQL}),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bx a JOIN bx b
          ON a.band_idx = b.band_idx AND a.band_val = b.band_val
         AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           round(({_ACC_SLOT_AGREE_SQL}) / {len(_HASH_IDS)}.0, 4)
               AS est_jaccard,
           round(CAST(len(list_filter(sa.sh, x -> list_contains(sb.sh, x)))
                      AS DOUBLE)
                 / CAST(len(sa.sh) + len(sb.sh)
                        - len(list_filter(sa.sh, x -> list_contains(sb.sh, x)))
                        AS DOUBLE), 4) AS exact_jaccard,
           round(abs(({_ACC_SLOT_AGREE_SQL}) / {len(_HASH_IDS)}.0
                     - CAST(len(list_filter(sa.sh, x -> list_contains(sb.sh, x)))
                            AS DOUBLE)
                       / CAST(len(sa.sh) + len(sb.sh)
                              - len(list_filter(sa.sh, x -> list_contains(sb.sh, x)))
                              AS DOUBLE)), 4) AS abs_err
    FROM cand
    JOIN mh ma ON ma.doc_id = doc_a
    JOIN mh mb ON mb.doc_id = doc_b
    JOIN s sa ON sa.doc_id = doc_a
    JOIN s sb ON sb.doc_id = doc_b
"""


@register("dedup_minhash_accuracy", _MINHASH_ACCURACY_ORACLE)
def dedup_minhash_accuracy(spark, sf_dir):
    """MinHash sketch-accuracy audit: for every LSH candidate pair,
    the signature's Jaccard ESTIMATE (fraction of the 9 minhash slots
    that agree) next to the exact shingle Jaccard and their absolute
    error — the calibration report a pipeline reads before trusting
    sketch-only dedup at a scale where exact verification is
    unaffordable (if |err| concentrates under ~1/k, the sketch can
    replace the verify join for the low-stakes tier).

    Scale: candidates come from the same banded bucket join as
    dedup_minhash_lsh (never all-pairs); the estimate needs only the
    two 9-slot signatures (O(k) per pair), and the exact Jaccard is
    computed on LSH candidates only — the audit costs what the dedup
    itself costs."""
    sh = cached_shingles(spark, sf_dir)
    sig = cached_minhash_signatures(spark, sf_dir)
    bands = minhash_band_keys_from_sigs(sig)
    cand = _band_candidates(bands)
    ma, mb = sig.alias("ma"), sig.alias("mb")
    agree = sum(
        F.when(F.col(f"ma.h_{s}{ci}") == F.col(f"mb.h_{s}{ci}"), 1).otherwise(0)
        for s, ci in _HASH_IDS
    )
    est = agree / float(len(_HASH_IDS))
    sa, sb = sh.alias("sa"), sh.alias("sb")
    exact = _sa_sb_jaccard()
    return (
        cand.join(ma, F.col("doc_a") == F.col("ma.doc_id"))
        .join(mb, F.col("doc_b") == F.col("mb.doc_id"))
        .join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            F.round(est, 4).alias("est_jaccard"),
            F.round(exact, 4).alias("exact_jaccard"),
            F.round(F.abs(est - exact), 4).alias("abs_err"),
        )
    )


# --- span-level remediation (round 7, second batch) -------------------------
#
# dedup_repeated_substrings DETECTS shared spans; this query REWRITES
# the documents — production substring dedup emits remediated text, not
# just a report (ROADMAP r8 #1).

_SPAN_REMEDIATE_ORACLE = f"""
    WITH t AS (SELECT doc_id, {X.tokens_sql()} AS toks FROM documents),
    wins AS (
        SELECT doc_id,
               CASE WHEN len(toks) >= {_SUBSTR_K} THEN
                   list_transform(generate_series(1, len(toks) - {_SUBSTR_K - 1}),
                       i -> md5(array_to_string(toks[i:i+{_SUBSTR_K - 1}], ' ')))
               ELSE [] END AS hs
        FROM t
    ),
    e AS (
        SELECT doc_id, unnest(hs) AS h,
               unnest(generate_series(1, len(hs))) AS start
        FROM wins
    ),
    dup AS (SELECT h FROM e GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
    starts AS (
        SELECT e.doc_id, list_sort(list(e.start)) AS ss
        FROM e JOIN dup USING (h) GROUP BY e.doc_id
    ),
    joined AS (
        SELECT t.doc_id, t.toks, coalesce(s.ss, []) AS ss
        FROM t LEFT JOIN starts s USING (doc_id)
    ),
    kept AS (
        SELECT doc_id, toks, ss,
               list_filter(generate_series(1, len(toks)),
                   j -> len(list_filter(ss,
                       s -> j >= s AND j <= s + {_SUBSTR_K - 1})) = 0)
                   AS keep_idx
        FROM joined
    )
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(len(toks) - len(keep_idx) AS BIGINT) AS n_removed,
           md5(coalesce(
               array_to_string(list_transform(keep_idx, j -> toks[j]), ' '),
               '')) AS remediated_md5
    FROM kept
"""


@register("dedup_span_remediate", _SPAN_REMEDIATE_ORACLE, headline=True)
def dedup_span_remediate(spark, sf_dir):
    """Span-level dedup REMEDIATION: cut every token covered by a
    cross-document shared 8-token window and emit the rewritten
    document (as its md5, plus removed-token accounting) — the
    document-rewriting step production substring dedup performs after
    detection, instead of dropping whole near-dup docs.

    Shares window identity with dedup_repeated_substrings via
    substr_window_hashes (a 128-bit two-xxhash64 window id — see that
    helper for the shuffle-key and collision rationale). Plan
    (r16 explode-once shape, r17 agg→window): explode windows WITH
    positions ONCE → a window min/max over the hash partitioning
    decides dup-ness in place (min(doc_id) != max(doc_id) ⟺
    count(DISTINCT doc_id) >= 2, exact for the non-null doc_id key)
    and every surviving row IS a (doc_id, start) occurrence — no
    per-hash collect_list. The r16 aggregate materialized ALL corpus
    occurrences of a hash in one aggregation buffer (ADVICE r16: a
    boilerplate window shared by thousands of docs becomes one huge
    unspillable array); the window operator streams the partition
    through a spillable buffer instead, so a pathological hot hash
    degrades to disk instead of OOM, and the explode-back step
    disappears. Measured 1.19 s -> 0.58 s for the shared-occurrence
    core at sf0.1 (key switch + agg→window). The previous r15 shape
    derived the exploded relation TWICE — two full tokenize+md5
    passes, 2.57 s of the query's 2.96 s. Shuffle O(tokens); the
    mask is per-row O(n_tokens × n_shared_spans) arithmetic with no
    further shuffle — the only quadratic factor is within one
    document, the same bound the detector already carries."""
    t = _docs(spark, sf_dir).select("doc_id", X.tokens().alias("toks"))
    e = t.select(
        "doc_id", F.posexplode(substr_window_hashes()).alias("pos", "h")
    ).select("doc_id", "h", (F.col("pos") + 1).alias("start"))
    hw = Window.partitionBy("h")
    shared = (
        e.withColumn("d_min", F.min("doc_id").over(hw))
        .withColumn("d_max", F.max("doc_id").over(hw))
        .filter(F.col("d_min") != F.col("d_max"))
        .select("doc_id", "start")
    )
    starts = shared.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("start")).alias("ss")
    )
    joined = t.join(starts, "doc_id", "left").select(
        "doc_id",
        "toks",
        F.coalesce("ss", F.array().cast("array<int>")).alias("ss"),
    )
    keep_idx = F.filter(
        F.sequence(F.lit(1), F.size("toks")),
        lambda j: F.size(
            F.filter(
                F.col("ss"),
                lambda s: (j >= s) & (j <= s + (_SUBSTR_K - 1)),
            )
        )
        == 0,
    )
    kept = joined.select("doc_id", "toks", keep_idx.alias("keep_idx"))
    remediated = F.concat_ws(
        " ", F.transform("keep_idx", lambda j: F.element_at("toks", j))
    )
    return kept.select(
        "doc_id",
        F.size("toks").cast("bigint").alias("n_tokens"),
        (F.size("toks") - F.size("keep_idx")).cast("bigint").alias("n_removed"),
        F.md5(remediated.cast("binary")).alias("remediated_md5"),
    )


# --- token-level dedup savings report (round 7, second batch) ---------------

_TOKEN_SAVINGS_ORACLE = f"""
    WITH removable AS (
        SELECT DISTINCT doc_b AS doc_id FROM ({MINHASH_PAIRS_ORACLE})
    ),
    t AS (
        SELECT d.doc_id, d.source, {X.token_count_sql()} AS n_tokens,
               CASE WHEN r.doc_id IS NOT NULL THEN 1 ELSE 0 END AS is_dup
        FROM documents d LEFT JOIN removable r ON r.doc_id = d.doc_id
    ),
    agg AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(is_dup) AS BIGINT) AS n_dup_docs,
               CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
               CAST(sum(CASE WHEN is_dup = 1 THEN n_tokens ELSE 0 END)
                    AS BIGINT) AS dup_tokens
        FROM t GROUP BY source
    )
    SELECT source, n_docs, n_dup_docs, total_tokens, dup_tokens,
           round(CAST(dup_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE), 6)
               AS savings_frac
    FROM agg
"""


@register("dedup_token_savings", _TOKEN_SAVINGS_ORACLE)
def dedup_token_savings(spark, sf_dir):
    """Token-level dedup savings: per source, how many TOKENS sit in
    near-duplicate documents (MinHash-verified pairs, greedy
    keep-smallest-id policy: any doc with a smaller verified near-dup
    is removable) — the "how much would dedup save" report that turns
    a pair list into a storage/compute decision. Document near-dup
    RATES understate savings when dups skew long; token accounting is
    what the training-budget math actually uses.

    Plan: the verified-pair relation (banded LSH, never all-pairs) →
    distinct doc_b (one hash aggregate) → broadcast-joined against
    per-doc token counts → per-source sum. No new shuffle shape
    beyond the pair builder itself; the removable set is ≤ n_docs
    keys."""
    removable = (
        minhash_verified_pairs(spark, sf_dir)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
        .select("doc_id", F.lit(1).alias("is_dup"))
    )
    t = (
        _docs(spark, sf_dir)
        .select("doc_id", "source", X.token_count().alias("n_tokens"))
        .join(removable, "doc_id", "left")
        .select(
            "source",
            "n_tokens",
            F.coalesce("is_dup", F.lit(0)).alias("is_dup"),
        )
    )
    agg = t.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("is_dup").cast("bigint").alias("n_dup_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.sum(F.when(F.col("is_dup") == 1, F.col("n_tokens")).otherwise(0))
        .cast("bigint")
        .alias("dup_tokens"),
    )
    return agg.select(
        "source",
        "n_docs",
        "n_dup_docs",
        "total_tokens",
        "dup_tokens",
        F.round(
            F.col("dup_tokens").cast("double")
            / F.col("total_tokens").cast("double"),
            6,
        ).alias("savings_frac"),
    )


# --- cross-source duplication matrix (round 8) ------------------------------

_XSRC_ORACLE = f"""
    WITH p AS ({MINHASH_PAIRS_ORACLE}),
    d AS (SELECT doc_id, source FROM documents),
    sc AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n
        FROM documents GROUP BY source
    ),
    j AS (
        SELECT least(da.source, db.source) AS source_a,
               greatest(da.source, db.source) AS source_b,
               CAST(round(p.jaccard * 1000000.0, 0) AS BIGINT) AS jmic
        FROM p
        JOIN d da ON da.doc_id = p.doc_a
        JOIN d db ON db.doc_id = p.doc_b
    )
    SELECT j.source_a, j.source_b,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round(CAST(sum(j.jmic) AS DOUBLE) / count(*) / 1000000.0, 6)
               AS mean_jaccard,
           round(CAST(count(*) AS DOUBLE) * 1000.0
                 / (CASE WHEN j.source_a = j.source_b
                         THEN CAST(sa.n * (sa.n - 1) AS DOUBLE) / 2.0
                         ELSE CAST(sa.n * sb.n AS DOUBLE) END), 6)
               AS pairs_per_1k
    FROM j
    JOIN sc sa ON sa.source = j.source_a
    JOIN sc sb ON sb.source = j.source_b
    GROUP BY j.source_a, j.source_b, sa.n, sb.n
"""


@register("dedup_cross_source_matrix", _XSRC_ORACLE)
def dedup_cross_source_matrix(spark, sf_dir):
    """Cross-source duplication matrix: the MinHash-verified near-dup
    pairs rolled up to (source, source) cells — pair count, mean
    verified Jaccard, and the pair rate normalized by the cell's
    possible-pair count (within-source n·(n−1)/2, cross-source
    n_a·n_b, scaled per-mille). This is the dataset-curation
    dashboard: which source pairs leak into each other, and how hard —
    the number that decides whether a source gets deduped against
    another before mixing.

    Scale: consumes the SAME banded pair relation as dedup_minhash_lsh
    (no new candidate generation — the matrix is a broadcast-dims
    rollup of the verified pairs); per-pair Jaccard is rounded to
    integer micro-units before summing, so the cell means are
    partition-order-proof. Source counts are a broadcast dimension."""
    pairs = minhash_verified_pairs(spark, sf_dir)
    d = _docs(spark, sf_dir).select("doc_id", "source")
    da = d.select(
        F.col("doc_id").alias("_ida"), F.col("source").alias("_sa")
    )
    db = d.select(
        F.col("doc_id").alias("_idb"), F.col("source").alias("_sb")
    )
    sc = d.groupBy("source").agg(F.count("*").cast("bigint").alias("n"))
    j = (
        pairs.join(F.broadcast(da), F.col("doc_a") == F.col("_ida"))
        .join(F.broadcast(db), F.col("doc_b") == F.col("_idb"))
        .select(
            F.least("_sa", "_sb").alias("source_a"),
            F.greatest("_sa", "_sb").alias("source_b"),
            F.round(F.col("jaccard") * 1000000.0, 0)
            .cast("bigint")
            .alias("jmic"),
        )
    )
    cells = j.groupBy("source_a", "source_b").agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.sum("jmic").cast("bigint").alias("jsum"),
    )
    sa = sc.select(F.col("source").alias("_csa"), F.col("n").alias("na"))
    sb = sc.select(F.col("source").alias("_csb"), F.col("n").alias("nb"))
    possible = F.when(
        F.col("source_a") == F.col("source_b"),
        F.col("na").cast("double") * (F.col("na") - 1).cast("double") / 2.0,
    ).otherwise(F.col("na").cast("double") * F.col("nb").cast("double"))
    return (
        cells.join(F.broadcast(sa), F.col("source_a") == F.col("_csa"))
        .join(F.broadcast(sb), F.col("source_b") == F.col("_csb"))
        .select(
            "source_a",
            "source_b",
            "n_pairs",
            F.round(
                F.col("jsum").cast("double")
                / F.col("n_pairs")
                / 1000000.0,
                6,
            ).alias("mean_jaccard"),
            F.round(
                F.col("n_pairs").cast("double") * 1000.0 / possible, 6
            ).alias("pairs_per_1k"),
        )
    )


# --- asymmetric containment dedup (round 9) ---------------------------------
#
# Symmetric Jaccard under-scores SUBSET duplicates: a short doc fully
# contained in a longer one has J = |A|/|B| but containment
# C(A→B) = |A∩B|/|A| = 1. The pipeline-relevant kill decision for
# boilerplate-wrapped or excerpt duplicates keys off max-containment,
# not Jaccard. Candidates stay the banded MinHash buckets (the linear
# scale path); containment is the exact verify metric on candidates
# only, so this emits a SUPERSET of the Jaccard pairs at the same
# candidate cost (C >= J always).

_CONTAIN_THRESHOLD = 0.6

_CONTAIN_ORACLE = f"""
    WITH s AS (SELECT doc_id, {SHINGLES_SQL} AS sh FROM documents),
    e AS (SELECT doc_id, unnest(sh) AS shingle FROM s),
    mh AS (
        SELECT doc_id, {_MINHASH_AGGS_SQL}
        FROM e GROUP BY doc_id
    ),
    bands AS (SELECT doc_id, {_BANDS_SQL} FROM mh),
    bx AS ({_BAND_UNION_SQL}),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bx a JOIN bx b
          ON a.band_idx = b.band_idx AND a.band_val = b.band_val
         AND a.doc_id < b.doc_id
    ),
    v AS (
        SELECT doc_a, doc_b,
               CAST(len(list_filter(sa.sh, x -> list_contains(sb.sh, x)))
                    AS BIGINT) AS n_common,
               CAST(len(sa.sh) AS BIGINT) AS n_a,
               CAST(len(sb.sh) AS BIGINT) AS n_b
        FROM cand
        JOIN s sa ON sa.doc_id = doc_a
        JOIN s sb ON sb.doc_id = doc_b
    )
    SELECT doc_a, doc_b, n_common,
           round(CAST(n_common AS DOUBLE) / n_a, 6) AS contain_a,
           round(CAST(n_common AS DOUBLE) / n_b, 6) AS contain_b,
           CAST(CASE WHEN n_a <= n_b THEN doc_a ELSE doc_b END AS BIGINT)
               AS contained_doc
    FROM v
    WHERE CAST(n_common AS DOUBLE)
          / CAST(CASE WHEN n_a < n_b THEN n_a ELSE n_b END AS DOUBLE)
          >= {_CONTAIN_THRESHOLD}
"""


@register("dedup_shingle_containment", _CONTAIN_ORACLE)
def dedup_shingle_containment(spark, sf_dir):
    """Asymmetric shingle-containment near-dup pairs: banded MinHash
    candidates (same buckets as dedup_minhash_lsh — linear candidate
    growth, never all-pairs), exact-verified on max-direction
    containment |A∩B|/min(|A|,|B|) >= 0.6 instead of Jaccard, so
    excerpt/boilerplate-wrapped subset duplicates that Jaccard
    under-scores survive the gate. contained_doc flags the smaller
    (more-covered) side — the kill candidate in a keep/drop pass;
    ties (n_a = n_b) deterministically flag doc_a.

    Scale: identical to the MinHash path — O(docs x bands) bucket
    join for candidates, exact array_intersect verify on candidates
    only; the shingle relation is the session-cached one every dedup
    query shares."""
    sh = cached_shingles(spark, sf_dir)
    bands = minhash_band_keys_from_sigs(cached_minhash_signatures(spark, sf_dir))
    cand = _band_candidates(bands)
    sa, sb = sh.alias("sa"), sh.alias("sb")
    v = (
        cand.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect(F.col("sa.sh"), F.col("sb.sh")))
            .cast("bigint")
            .alias("n_common"),
            F.size(F.col("sa.sh")).cast("bigint").alias("n_a"),
            F.size(F.col("sb.sh")).cast("bigint").alias("n_b"),
        )
    )
    return (
        v.where(
            F.col("n_common").cast("double")
            / F.least("n_a", "n_b").cast("double")
            >= _CONTAIN_THRESHOLD
        )
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            F.round(
                F.col("n_common").cast("double") / F.col("n_a"), 6
            ).alias("contain_a"),
            F.round(
                F.col("n_common").cast("double") / F.col("n_b"), 6
            ).alias("contain_b"),
            F.when(F.col("n_a") <= F.col("n_b"), F.col("doc_a"))
            .otherwise(F.col("doc_b"))
            .cast("bigint")
            .alias("contained_doc"),
        )
    )
