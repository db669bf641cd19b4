"""Corpus-management queries ([ext] — the training-data-pipeline
operations beyond dedup/quality: deterministic dataset splitting,
token-budget shard packing, and test-set decontamination).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .functions.scalar import deterministic_order_key, micro6_sql, micro_units_sql
from .operators import text as X
from .operators.events import sessionize
from .operators.rank_prefix import bucket_offsets
from .queries_dedup import MINHASH_PAIRS_ORACLE, SHINGLES_SQL, cached_shingles
from .registry import register
from .sources.catalog import load_table

# --- deterministic train/val/test split ------------------------------------

# md5-hex first byte partitions [00..ff] into 80/10/10
_SPLIT_ORACLE = f"""
    WITH keyed AS (
        SELECT doc_id, substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS bucket
        FROM documents
    ),
    tagged AS (
        SELECT doc_id,
               CASE WHEN bucket < 'cc' THEN 'train'
                    WHEN bucket < 'e6' THEN 'val'
                    ELSE 'test' END AS split
        FROM keyed
    )
    SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS min_doc,
           CAST(max(doc_id) AS BIGINT) AS max_doc
    FROM tagged GROUP BY split
"""


@register("corpus_split_train_val_test", _SPLIT_ORACLE)
def corpus_split_train_val_test(spark, sf_dir):
    """Deterministic ~80/10/10 train/val/test split by hash-bucketing
    the document key (first md5 byte < 0xcc / < 0xe6): stable across
    runs, partitionings, and engines — the property a reproducible
    dataset split needs (random splits are none of these). Emits
    per-split summaries; the row-level assignment is the same
    expression without the groupBy."""
    bucket = F.substring(deterministic_order_key("doc_id"), 1, 2)
    split = (
        F.when(bucket < "cc", "train").when(bucket < "e6", "val").otherwise("test")
    )
    return (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", split.alias("split"))
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
    )


# --- token-budget shard packing --------------------------------------------

_SHARD_BUDGET = 5000  # tokens per training shard

_PACK_ORACLE = f"""
    WITH sized AS (
        SELECT doc_id, {X.token_count_sql()} AS n_tokens
        FROM documents
    ),
    ordered AS (
        SELECT doc_id, n_tokens,
               sum(n_tokens) OVER (
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cum_tokens
        FROM sized
    )
    SELECT CAST(floor((cum_tokens - 1) / {_SHARD_BUDGET}) AS BIGINT) AS shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS shard_tokens
    FROM ordered
    GROUP BY 1
"""


@register("corpus_pack_token_shards", _PACK_ORACLE, headline=True)
def corpus_pack_token_shards(spark, sf_dir):
    """Token-budget shard packing: documents in deterministic
    (hash) order are packed greedily into shards of ~5000 tokens via a
    running token sum (shard = (cumsum-1) div budget) — the sequence-
    packing step that turns a corpus into fixed-budget training
    shards.

    Scale design (two passes, no global window): the md5 order key is
    range-partitioned by its first hex byte (256 ranges whose order is
    prefix-consistent with the global sort), so the running sum is a
    per-range window cumsum — 256-way parallel — plus a per-range
    offset. The offsets come from a 256-row range-totals aggregate
    (bounded by the range count, NOT the corpus size) whose prefix sum
    is computed driver-side and broadcast-joined back. Output is
    bit-identical to the single-window spec (same oracle).

    r17 (guide §5/§1): the doc-grain metadata projection (doc_id,
    n_tokens, ok, rng) is eagerly checkpointed so the totals pass and
    the cumsum pass share ONE tokenize scan of documents (the old
    shape tokenized twice — the guide §8 'fingerprints only' step)."""
    key = deterministic_order_key("doc_id")
    sized = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            X.token_count().alias("n_tokens"),
            key.alias("ok"),
            F.substring(key, 1, 2).alias("rng"),
        )
        .localCheckpoint(eager=True)
    )

    # Pass 1: per-range totals — a tiny (≤256 rows) aggregate; its
    # prefix offsets are computed on the driver (metadata-scale, like
    # AQE stats) and shipped back as a broadcast join.
    joined, _total = bucket_offsets(spark, sized, F.sum("n_tokens"))

    # Pass 2: per-range parallel cumsum + broadcast offset = global cumsum.
    w = (
        Window.partitionBy("rng")
        .orderBy(F.col("ok"), F.col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = joined.withColumn(
        "shard",
        F.floor(
            (F.col("off") + F.sum("n_tokens").over(w) - 1) / _SHARD_BUDGET
        ).cast("bigint"),
    )
    return packed.groupBy("shard").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("shard_tokens"),
    )


# --- decontamination -------------------------------------------------------

_EVAL_CUTOFF = 50  # doc_id < 50 play the held-out eval set

_DECONTAM_ORACLE = f"""
    WITH s AS (SELECT doc_id, {SHINGLES_SQL} AS sh FROM documents),
    eval_sh AS (
        SELECT doc_id, unnest(sh) AS shingle FROM s
        WHERE doc_id < {_EVAL_CUTOFF}
    ),
    train_sh AS (
        SELECT DISTINCT unnest(sh) AS shingle FROM s
        WHERE doc_id >= {_EVAL_CUTOFF}
    ),
    overlap AS (
        SELECT e.doc_id, CAST(count(*) AS BIGINT) AS n_overlap
        FROM eval_sh e JOIN train_sh t ON e.shingle = t.shingle
        GROUP BY e.doc_id
    ),
    totals AS (
        SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_shingles FROM s
        WHERE doc_id < {_EVAL_CUTOFF}
    )
    SELECT t.doc_id,
           coalesce(o.n_overlap, 0) AS n_overlap,
           t.n_shingles,
           CASE WHEN t.n_shingles > 0
                THEN CAST(coalesce(o.n_overlap, 0) AS DOUBLE)
                     / CAST(t.n_shingles AS DOUBLE)
                ELSE 0.0 END AS contamination_rate
    FROM totals t LEFT JOIN overlap o ON o.doc_id = t.doc_id
"""


@register("corpus_decontamination", _DECONTAM_ORACLE)
def corpus_decontamination(spark, sf_dir):
    """Eval-set decontamination: per held-out document, the fraction
    of its word-3-gram shingles that also occur anywhere in the
    training split (eval shingles join the distinct train shingle set
    — an inverted-index semi-overlap, shuffle O(shingles), never
    pairwise). High contamination_rate docs are leaked/near-dup eval
    items."""
    sh = cached_shingles(spark, sf_dir)
    eval_sh = sh.filter(F.col("doc_id") < _EVAL_CUTOFF).select(
        "doc_id", F.explode("sh").alias("shingle")
    )
    train_sh = (
        sh.filter(F.col("doc_id") >= _EVAL_CUTOFF)
        .select(F.explode("sh").alias("shingle"))
        .distinct()
    )
    overlap = (
        eval_sh.join(train_sh, "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_overlap"))
    )
    totals = sh.filter(F.col("doc_id") < _EVAL_CUTOFF).select(
        "doc_id", F.size("sh").cast("bigint").alias("n_shingles")
    )
    rate = F.when(
        F.col("n_shingles") > 0,
        F.coalesce(F.col("n_overlap"), F.lit(0)).cast("double")
        / F.col("n_shingles").cast("double"),
    ).otherwise(F.lit(0.0))
    return (
        totals.join(overlap, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_overlap", F.lit(0)).alias("n_overlap"),
            "n_shingles",
            rate.alias("contamination_rate"),
        )
    )


# --- context-window chunking ------------------------------------------------

_CHUNK_SIZE = 32  # tokens per chunk
_CHUNK_STRIDE = 24  # 8-token overlap between consecutive chunks

_CHUNK_ORACLE = f"""
    WITH d AS (
        SELECT doc_id, {X.tokens_sql()} AS toks FROM documents
        WHERE doc_id < 200
    )
    SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
           array_to_string(
               toks[(i * {_CHUNK_STRIDE} + 1):(i * {_CHUNK_STRIDE} + {_CHUNK_SIZE})],
               ' ') AS chunk_text,
           CAST(least(len(toks) - i * {_CHUNK_STRIDE}, {_CHUNK_SIZE}) AS BIGINT)
               AS chunk_tokens
    FROM d, unnest(generate_series(0,
        CAST(ceil(greatest(len(toks) - {_CHUNK_SIZE}, 0) / {_CHUNK_STRIDE}.0)
             AS BIGINT))) AS u(i)
"""


@register("corpus_chunk_documents", _CHUNK_ORACLE)
def corpus_chunk_documents(spark, sf_dir):
    """Sliding context-window chunking: each document becomes
    overlapping 32-token chunks with a 24-token stride (8-token
    overlap) — the step that turns corpus documents into
    model-context-sized training samples. Pure explode over a
    generated index array: one row in, O(n_tokens/stride) rows out, no
    shuffle, no Python."""
    toks = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id", X.tokens().alias("toks"))
    )
    n = F.size("toks")
    n_chunks_last_idx = F.ceil(
        F.greatest(n - _CHUNK_SIZE, F.lit(0)) / F.lit(float(_CHUNK_STRIDE))
    ).cast("int")
    idx = F.sequence(F.lit(0), n_chunks_last_idx)
    exploded = toks.select(
        "doc_id", "toks", F.explode(idx).alias("chunk_idx")
    )
    start = F.col("chunk_idx") * _CHUNK_STRIDE
    return exploded.select(
        "doc_id",
        F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
        F.concat_ws(" ", F.slice("toks", start + 1, _CHUNK_SIZE)).alias(
            "chunk_text"
        ),
        F.least(F.size("toks") - start, F.lit(_CHUNK_SIZE))
        .cast("bigint")
        .alias("chunk_tokens"),
    )


# --- source mixing plan (round 2) -------------------------------------------

_MIX_TOKEN_BUDGET = 50_000

_MIX_ORACLE = f"""
    WITH avail AS (
        SELECT source,
               CAST(sum({X.token_count_sql()}) AS BIGINT) AS avail_tokens,
               CAST(count(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY source
    ),
    weighted AS (
        SELECT *, CAST(instr('0123456789abcdef', substr(md5(source), 1, 1))
                       AS DOUBLE) AS w_raw
        FROM avail
    ),
    tot AS (SELECT sum(w_raw) AS w_sum FROM weighted)
    SELECT source, n_docs, avail_tokens,
           CAST(round({_MIX_TOKEN_BUDGET} * w_raw / w_sum) AS BIGINT)
               AS target_tokens,
           round(least(1.0, ({_MIX_TOKEN_BUDGET} * w_raw / w_sum)
                            / avail_tokens), 6) AS sample_fraction
    FROM weighted CROSS JOIN tot
"""


@register("corpus_mixing_plan", _MIX_ORACLE)
def corpus_mixing_plan(spark, sf_dir):
    """Data-mixing plan: per-source token inventory → target token
    share under a deterministic weight profile (md5-derived here; a
    real run plugs in curated domain weights) → per-source sampling
    fraction toward a fixed training-token budget. This is the
    domain-reweighting step of corpus assembly; one groupBy plus a
    broadcast of the 20-row totals — the plan stays dimension-scale
    regardless of corpus size."""
    avail = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.sum(X.token_count()).cast("bigint").alias("avail_tokens"),
            F.count("*").alias("n_docs"),
        )
    )
    w_raw = F.expr("instr('0123456789abcdef', substr(md5(source), 1, 1))").cast(
        "double"
    )
    weighted = avail.select("*", w_raw.alias("w_raw"))
    tot = weighted.agg(F.sum("w_raw").alias("w_sum"))
    target = F.lit(float(_MIX_TOKEN_BUDGET)) * F.col("w_raw") / F.col("w_sum")
    return weighted.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "avail_tokens",
        F.round(target).cast("bigint").alias("target_tokens"),
        F.round(
            F.least(F.lit(1.0), target / F.col("avail_tokens")), 6
        ).alias("sample_fraction"),
    )


# --- mixing-plan execution (deterministic weighted sampling) ----------------

_MIX_HEX6 = 16 ** 6  # md5-prefix uniform in [0, 1): first 6 hex chars


def _u6_int_sql(key: str) -> str:
    """The md5-prefix uniform as a BIGINT in [0, 16^6) — the single
    source of the hex-digit expansion (SQL side); ``_mix_uniform_sql``
    and the weighted sampler both build on it so the hashing
    convention lives in exactly one place per engine."""
    terms = " + ".join(
        f"(instr('0123456789abcdef', substr(md5(CAST({key} AS VARCHAR)), {i}, 1)) - 1)"
        f" * {16 ** (6 - i)}"
        for i in range(1, 7)
    )
    return f"CAST({terms} AS BIGINT)"


def _u6_int_col(key: str = "doc_id") -> "F.Column":
    """Spark twin of ``_u6_int_sql`` (md5 of the key's binary-cast
    string form — hex-identical to DuckDB's md5(VARCHAR))."""
    acc = None
    for i in range(1, 7):
        term = (
            F.expr(
                f"instr('0123456789abcdef', "
                f"substr(md5(cast(cast({key} as string) as binary)), {i}, 1)) - 1"
            )
            * (16 ** (6 - i))
        )
        acc = term if acc is None else acc + term
    return acc.cast("bigint")


def _mix_uniform_sql(key: str) -> str:
    return f"(CAST({_u6_int_sql(key)} AS DOUBLE) / {_MIX_HEX6})"


_MIX_SAMPLE_ORACLE = f"""
    WITH avail AS (
        SELECT source,
               CAST(sum({X.token_count_sql()}) AS BIGINT) AS avail_tokens
        FROM documents GROUP BY source
    ),
    weighted AS (
        SELECT source, avail_tokens,
               CAST(instr('0123456789abcdef', substr(md5(source), 1, 1))
                    AS DOUBLE) AS w_raw
        FROM avail
    ),
    tot AS (SELECT sum(w_raw) AS w_sum FROM weighted),
    plan AS (
        SELECT source,
               least(1.0, ({_MIX_TOKEN_BUDGET} * w_raw / w_sum) / avail_tokens)
                   AS fraction
        FROM weighted CROSS JOIN tot
    ),
    kept AS (
        SELECT d.source, d.doc_id, {X.token_count_sql()} AS n_tokens
        FROM documents d JOIN plan p ON p.source = d.source
        WHERE {_mix_uniform_sql('d.doc_id')} < p.fraction
    )
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs_kept,
           CAST(sum(n_tokens) AS BIGINT) AS tokens_kept
    FROM kept GROUP BY source
"""


@register("corpus_mixing_sample", _MIX_SAMPLE_ORACLE)
def corpus_mixing_sample(spark, sf_dir):
    """Executes the mixing plan: each document is kept iff its
    md5-prefix uniform (first 6 hex chars / 16^6 — deterministic,
    partition-independent, engine-portable) falls below its source's
    target sampling fraction — Bernoulli sampling that lands each
    source near its token budget share without any global coordination.
    The plan side is a 20-row broadcast; the keep decision is per-row."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", X.token_count().alias("n_tokens")
    )
    avail = docs.groupBy("source").agg(
        F.sum("n_tokens").cast("bigint").alias("avail_tokens")
    )
    w_raw = F.expr("instr('0123456789abcdef', substr(md5(source), 1, 1))").cast(
        "double"
    )
    weighted = avail.select("source", "avail_tokens", w_raw.alias("w_raw"))
    tot = weighted.agg(F.sum("w_raw").alias("w_sum"))
    plan = weighted.crossJoin(F.broadcast(tot)).select(
        "source",
        F.least(
            F.lit(1.0),
            (F.lit(float(_MIX_TOKEN_BUDGET)) * F.col("w_raw") / F.col("w_sum"))
            / F.col("avail_tokens"),
        ).alias("fraction"),
    )
    uniform = _u6_int_col("doc_id").cast("double") / _MIX_HEX6
    kept = docs.join(F.broadcast(plan), "source").filter(
        uniform < F.col("fraction")
    )
    return kept.groupBy("source").agg(
        F.count("*").alias("n_docs_kept"),
        F.sum("n_tokens").cast("bigint").alias("tokens_kept"),
    )


# --- per-document weighted Bernoulli sample (round 5) -----------------------

_WSAMPLE_TARGET = 100  # expected number of kept documents

_WSAMPLE_ORACLE = f"""
    WITH w AS (
        SELECT doc_id, source, CAST(n_chars AS BIGINT) AS wt FROM documents
    ),
    tot AS (SELECT CAST(sum(wt) AS BIGINT) AS total_w FROM w),
    kept AS (
        SELECT source, wt FROM w CROSS JOIN tot
        WHERE {_u6_int_sql('doc_id')} * total_w
              < {_WSAMPLE_TARGET} * wt * {16 ** 6}
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs_kept,
           CAST(sum(wt) AS BIGINT) AS weight_kept
    FROM kept GROUP BY source
"""


@register("corpus_weighted_doc_sample", _WSAMPLE_ORACLE)
def corpus_weighted_doc_sample(spark, sf_dir):
    """Per-DOCUMENT weighted Bernoulli sampling (inclusion probability
    proportional to the document's weight — here n_chars — with
    E[kept] = _WSAMPLE_TARGET): the keep decision is the exact integer
    comparison u6·ΣW < K·w·16^6, where u6 is the md5-prefix uniform
    numerator. No floating point anywhere, so both engines keep the
    identical document set — unlike ln/pow-based weighted-sampling
    keys (Efraimidis-Spirakis), whose libm last-ulp differences could
    flip boundary rows. Complements corpus_mixing_sample (per-SOURCE
    fractions): this one upweights long documents individually.

    Scale: ΣW is a one-row broadcast aggregate; the decision is per-row
    with no shuffle; the per-source report is one groupBy. At corpus
    weights past ~6e11 the int64 product u6·ΣW would overflow — switch
    the comparison to DECIMAL(38) (both engines) at that scale."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.col("n_chars").cast("bigint").alias("wt")
    )
    tot = docs.agg(F.sum("wt").cast("bigint").alias("total_w"))
    kept = docs.crossJoin(F.broadcast(tot)).filter(
        _u6_int_col("doc_id") * F.col("total_w")
        < F.lit(_WSAMPLE_TARGET) * F.col("wt") * F.lit(16 ** 6)
    )
    return kept.groupBy("source").agg(
        F.count("*").alias("n_docs_kept"),
        F.sum("wt").cast("bigint").alias("weight_kept"),
    )


# --- end-to-end curation funnel (round 2) -----------------------------------

_CURATE_MIN_TOKENS = 10
_CURATE_MAX_PUNCT = 0.3

_CURATION_ORACLE = f"""
    WITH base AS (
        SELECT doc_id,
               {X.token_count_sql()} AS n_tokens,
               {X.punct_ratio_sql()} AS punct_ratio,
               md5({X.norm_text_sql()}) AS fp
        FROM documents
    ),
    q AS (
        SELECT * FROM base
        WHERE n_tokens >= {_CURATE_MIN_TOKENS}
          AND punct_ratio <= {_CURATE_MAX_PUNCT}
    ),
    exact_kept AS (
        SELECT * FROM q
        WHERE doc_id IN (SELECT min(doc_id) FROM q GROUP BY fp)
    ),
    near_drops AS (
        SELECT DISTINCT doc_b AS doc_id
        FROM ({{minhash}}) p
    ),
    final AS (
        SELECT e.* FROM exact_kept e
        WHERE e.doc_id NOT IN (SELECT doc_id FROM near_drops)
    )
    SELECT
        CAST((SELECT count(*) FROM base) AS BIGINT) AS n_total,
        CAST((SELECT count(*) FROM q) AS BIGINT) AS n_after_quality,
        CAST((SELECT count(*) FROM exact_kept) AS BIGINT) AS n_after_exact,
        CAST((SELECT count(*) FROM final) AS BIGINT) AS n_after_neardup,
        CAST((SELECT sum(n_tokens) FROM final) AS BIGINT) AS tokens_kept
"""


@register(
    "corpus_curation_funnel",
    _CURATION_ORACLE.replace("{minhash}", MINHASH_PAIRS_ORACLE),
)
def corpus_curation_funnel(spark, sf_dir):
    """The complete curation pipeline as one dataflow, reported as a
    funnel: raw corpus → heuristic quality gate → exact dedup (keep
    lowest doc_id per fingerprint) → near-dup removal (drop the higher
    doc of every MinHash-verified Jaccard≥0.5 pair) → surviving docs +
    token inventory. Each stage is the already-verified operator
    (quality gates, fingerprint groupBy, MinHash+LSH pairs) composed
    lazily — Catalyst fuses the per-row stages into the scan and the
    funnel counts ride one aggregate; at 100 TB this query IS the
    nightly curation job."""
    from .queries_dedup import dedup_minhash_lsh

    base = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        X.token_count().alias("n_tokens"),
        X.punct_ratio().alias("punct_ratio"),
        X.fingerprint().alias("fp"),
    )
    q = base.filter(
        (F.col("n_tokens") >= _CURATE_MIN_TOKENS)
        & (F.col("punct_ratio") <= _CURATE_MAX_PUNCT)
    )
    keepers = q.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    exact_kept = q.join(keepers.select("doc_id"), "doc_id", "left_semi")
    near_drops = (
        dedup_minhash_lsh(spark, sf_dir)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    final = exact_kept.join(near_drops, "doc_id", "left_anti")

    def cnt(df, name):
        return df.agg(F.count("*").cast("bigint").alias(name))

    return (
        cnt(base, "n_total")
        .crossJoin(cnt(q, "n_after_quality"))
        .crossJoin(cnt(exact_kept, "n_after_exact"))
        .crossJoin(cnt(final, "n_after_neardup"))
        .crossJoin(
            final.agg(F.sum("n_tokens").cast("bigint").alias("tokens_kept"))
        )
    )


# --- deterministic global training-order shuffle (round 6) ------------------

# ADVICE r6: the shard count, the shard-id formula, and the partition
# key are all derived from ONE constant — the number of leading hex
# nibbles of the order key — so widening the shuffle can never
# desynchronize the oracle, the Spark query, and the test bound.
_SHARD_NIBBLES = 2
_SHUFFLE_SHARDS = 16**_SHARD_NIBBLES


def _shard_expr_sql(strpos_fn: str) -> str:
    """Base-16 positional decode of the first ``_SHARD_NIBBLES`` hex
    chars of column ``h`` — one formula serving both engines
    (DuckDB spells position() ``strpos``, Spark spells it ``instr``)."""
    from .functions.scalar import hex_chunk_int_sql

    return hex_chunk_int_sql("h", _SHARD_NIBBLES, fn=strpos_fn)


_GLOBAL_SHUFFLE_ORACLE = f"""
    WITH keyed AS (
        SELECT doc_id,
               md5('shuffle:' || CAST(doc_id AS VARCHAR)) AS h
        FROM documents
    )
    SELECT doc_id,
           CAST({_shard_expr_sql("strpos")} AS INT) AS shard,
           CAST(row_number() OVER (
               PARTITION BY substr(h, 1, {_SHARD_NIBBLES}) ORDER BY h, doc_id
           ) AS BIGINT) AS pos_in_shard
    FROM keyed
"""


@register("corpus_global_shuffle", _GLOBAL_SHUFFLE_ORACLE, headline=True)
def corpus_global_shuffle(spark, sf_dir):
    """Deterministic global training-order shuffle: every doc gets an
    md5 order key; the key's leading _SHARD_NIBBLES hex nibbles assign
    one of _SHUFFLE_SHARDS (= 16^_SHARD_NIBBLES) shards and the
    position WITHIN the shard is a rank over the key — reading shards
    in shard order, each in pos order, IS the md5 total order, i.e. a
    reproducible epoch-0 data order for training, with no RNG state to
    manage.

    Scale: this is exactly Spark's repartition + sortWithinPartitions
    write shape — ONE hash shuffle on the shard prefix, a
    shard-parallel per-shard sort, and a PARTITIONED rank (never a
    single-partition global row_number, which would serialize the
    corpus through one task at 100 TB). Widening the shuffle is one
    constant: more nibbles = more shards, same pattern (the formula,
    the oracle, and the partition key all derive from _SHARD_NIBBLES
    — ADVICE r6)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    h = F.md5(F.concat(F.lit("shuffle:"), F.col("doc_id").cast("string")))
    keyed = docs.select("doc_id", h.alias("h"))
    w = Window.partitionBy(F.substring("h", 1, _SHARD_NIBBLES)).orderBy(
        "h", "doc_id"
    )
    return keyed.select(
        "doc_id",
        F.expr(_shard_expr_sql("instr")).cast("int").alias("shard"),
        F.row_number().over(w).cast("bigint").alias("pos_in_shard"),
    )


# --- log2-bucketed length histogram (round 6; the round-2
# corpus_length_histogram keeps its fixed-width buckets) ---------------------

_LEN_HIST_ORACLE = f"""
    WITH t AS (
        SELECT doc_id, {X.token_count_sql()} AS n_tokens FROM documents
    )
    SELECT CAST(length(bin(n_tokens)) - 1 AS INT) AS log2_bucket,
           CAST(1 << (length(bin(n_tokens)) - 1) AS BIGINT) AS bucket_floor,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST(min(n_tokens) AS BIGINT) AS min_tokens,
           CAST(max(n_tokens) AS BIGINT) AS max_tokens
    FROM t
    WHERE n_tokens > 0
    GROUP BY 1, 2
"""


@register("corpus_length_log2_histogram", _LEN_HIST_ORACLE)
def corpus_length_log2_histogram(spark, sf_dir):
    """Log2-bucketed document-length histogram — the shape check run
    before sequence-length budgeting (how much of the corpus is short
    junk vs truncation-risk long docs). The bucket is floor(log2(n))
    computed INTEGER-EXACTLY on both engines as the bit length of the
    token count minus one (length(bin(n)) - 1), immune to the FP
    boundary wobble of log2() at exact powers of two.

    Scale: a full scan with a 1-shuffle aggregation into ~20 buckets
    (map-side partial agg); the token count reuses the engine's shared
    tokenizer definition."""
    t = load_table(spark, sf_dir, "documents").select(
        X.token_count().alias("n_tokens")
    )
    bucket = (F.length(F.expr("bin(n_tokens)")) - 1).cast("int")
    return (
        t.filter(F.col("n_tokens") > 0)
        .groupBy(bucket.alias("log2_bucket"))
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.min("n_tokens").cast("bigint").alias("min_tokens"),
            F.max("n_tokens").cast("bigint").alias("max_tokens"),
        )
        .select(
            "log2_bucket",
            F.expr("CAST(shiftleft(1L, log2_bucket) AS BIGINT)").alias(
                "bucket_floor"
            ),
            "n_docs",
            "total_tokens",
            "min_tokens",
            "max_tokens",
        )
    )


# --- sqrt-temperature domain resampling (round 7) ---------------------------


def sqrt_temperature_quota(n_col: str = "n") -> "F.Column":
    """Temperature-0.5 keep-quota from a per-group count column:
    min(4·isqrt(n), n), with the double sqrt integer-corrected so a
    perfect-square boundary can never wobble the quota. ONE
    definition shared by the per-source and per-(source, lang)
    resampling queries; the oracle SQL mirrors it with the same
    correction CASE."""
    n = F.col(n_col)
    r0 = F.floor(F.sqrt(n.cast("double"))).cast("bigint")
    return F.least(
        4 * F.when((r0 + 1) * (r0 + 1) <= n, r0 + 1).otherwise(r0), n
    )


_TEMP_RESAMPLE_ORACLE = """
    WITH k AS (
        SELECT doc_id, source, md5(CAST(doc_id AS VARCHAR)) AS h
        FROM documents
    ),
    c AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM k GROUP BY source),
    q0 AS (
        SELECT source, n,
               CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT) AS r0
        FROM c
    ),
    quota AS (
        -- integer-corrected isqrt: double sqrt is within ±1 of the
        -- true root at these magnitudes; the comparison pins it
        SELECT source, n,
               least(4 * (CASE WHEN (r0 + 1) * (r0 + 1) <= n
                               THEN r0 + 1 ELSE r0 END), n) AS quota
        FROM q0
    ),
    r AS (
        SELECT k.*, row_number() OVER (
            PARTITION BY source ORDER BY h, doc_id
        ) AS rnk
        FROM k
    )
    SELECT r.doc_id, r.source, q.n AS n_source_docs,
           CAST(q.quota AS BIGINT) AS quota,
           CAST(r.rnk AS BIGINT) AS rank_in_source
    FROM r JOIN quota q USING (source)
    WHERE r.rnk <= q.quota
"""


@register("corpus_temperature_resample", _TEMP_RESAMPLE_ORACLE)
def corpus_temperature_resample(spark, sf_dir):
    """Sqrt-temperature domain resampling: keep ~4·√n_s documents per
    source (capped at n_s), chosen by deterministic md5 rank — the
    temperature-0.5 domain-balancing step multilingual / multi-domain
    training mixes run so head domains stop drowning tail domains
    (quota ∝ √size flattens the distribution without starving either
    end).

    Scale: per-source rank = ONE hash shuffle on source + in-partition
    sort; quotas come from a groupBy count joined back (broadcast —
    the source dimension is tiny). The isqrt is integer-corrected on
    both engines so a perfect-square boundary can never wobble the
    quota."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", deterministic_order_key("doc_id").alias("h")
    )
    counts = docs.groupBy("source").agg(F.count("*").cast("bigint").alias("n"))
    quota = counts.select("source", "n", sqrt_temperature_quota().alias("quota"))
    w = Window.partitionBy("source").orderBy("h", "doc_id")
    ranked = docs.withColumn("rnk", F.row_number().over(w))
    return (
        ranked.join(F.broadcast(quota), "source")
        .where(F.col("rnk") <= F.col("quota"))
        .select(
            "doc_id",
            "source",
            F.col("n").alias("n_source_docs"),
            F.col("quota").cast("bigint").alias("quota"),
            F.col("rnk").cast("bigint").alias("rank_in_source"),
        )
    )


# --- deterministic weighted source interleave (round 7) ---------------------

_INTERLEAVE_LCM = 6  # lcm of the weight domain {1, 2, 3}

_INTERLEAVE_ORACLE = f"""
    WITH k AS (
        SELECT doc_id, source, md5(CAST(doc_id AS VARCHAR)) AS h,
               1 + (strpos('0123456789abcdef',
                           substr(md5(source), 1, 1)) - 1) % 3 AS weight
        FROM documents
    ),
    r AS (
        SELECT k.*, CAST(row_number() OVER (
            PARTITION BY source ORDER BY h, doc_id
        ) AS BIGINT) AS rank_in_source
        FROM k
    )
    SELECT doc_id, source, CAST(weight AS INT) AS weight, rank_in_source,
           CAST(rank_in_source * ({_INTERLEAVE_LCM} / weight) AS BIGINT)
               AS vtime
    FROM r
"""


@register("corpus_interleave_sources", _INTERLEAVE_ORACLE)
def corpus_interleave_sources(spark, sf_dir):
    """Deterministic weighted source interleave (stride scheduling):
    each source gets an integer weight in {1,2,3} (derived from its
    name hash — stand-in for a configured mixing weight) and a stride
    = lcm/weight; the r-th doc of a source is scheduled at virtual
    time r·stride, so reading rows ordered by (vtime, source,
    rank_in_source) yields the weighted round-robin mixing order
    HF-style interleave_datasets produces — reproducibly, with no RNG
    state.

    Scale: per-source rank = one hash shuffle; vtime is per-row
    arithmetic. The GLOBAL interleaved order is never materialized as
    a single-partition row_number — the (vtime, source, rank) triple
    IS the sort key, and a sharded writer orders by it exactly like
    corpus_global_shuffle's shard/pos pair."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        deterministic_order_key("doc_id").alias("h"),
        (
            1
            + (
                F.expr(
                    "instr('0123456789abcdef', substring(md5(cast(source as binary)), 1, 1))"
                )
                - 1
            )
            % 3
        )
        .cast("int")
        .alias("weight"),
    )
    w = Window.partitionBy("source").orderBy("h", "doc_id")
    r = docs.withColumn(
        "rank_in_source", F.row_number().over(w).cast("bigint")
    )
    return r.select(
        "doc_id",
        "source",
        "weight",
        "rank_in_source",
        (
            F.col("rank_in_source") * (F.lit(_INTERLEAVE_LCM) / F.col("weight"))
        )
        .cast("bigint")
        .alias("vtime"),
    )


# --- two-key stratified quota sampling (round 7, second batch) --------------

_CELL_QUOTA_ORACLE = """
    WITH k AS (
        SELECT doc_id, source, lang,
               md5(CAST(doc_id AS VARCHAR)) AS h
        FROM documents
    ),
    c AS (
        SELECT source, lang, CAST(count(*) AS BIGINT) AS n
        FROM k GROUP BY source, lang
    ),
    q0 AS (
        SELECT source, lang, n,
               CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT) AS r0
        FROM c
    ),
    quota AS (
        SELECT source, lang, n,
               least(4 * (CASE WHEN (r0 + 1) * (r0 + 1) <= n
                               THEN r0 + 1 ELSE r0 END), n) AS quota
        FROM q0
    ),
    r AS (
        SELECT k.*, row_number() OVER (
            PARTITION BY source, lang ORDER BY h, doc_id
        ) AS rnk
        FROM k
    )
    SELECT r.doc_id, r.source, r.lang, q.n AS n_cell,
           CAST(q.quota AS BIGINT) AS quota,
           CAST(r.rnk AS BIGINT) AS rank_in_cell
    FROM r JOIN quota q USING (source, lang)
    WHERE r.rnk <= q.quota
"""


@register("corpus_stratified_cell_quota", _CELL_QUOTA_ORACLE)
def corpus_stratified_cell_quota(spark, sf_dir):
    """Two-key group-limit sampling: the (source × lang) grid gets a
    per-CELL sqrt-temperature quota (min(4·isqrt(n_cell), n_cell)),
    each cell filled by deterministic md5 rank — the stratified
    version of corpus_temperature_resample. Balancing per source
    alone lets one language dominate inside a big source; the cell
    grid flattens both axes at once, which is how multilingual mixes
    actually cap (domain, language) pairs.

    Scale: per-cell rank = ONE hash shuffle on the compound key
    (source, lang) — Catalyst plans the two-key partitionBy exactly
    like the one-key case; quotas come from a groupBy count whose
    group domain is |sources|×|langs| (tiny, broadcast back). Same
    WindowGroupLimit-friendly shape as W2."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang", deterministic_order_key("doc_id").alias("h")
    )
    counts = docs.groupBy("source", "lang").agg(
        F.count("*").cast("bigint").alias("n")
    )
    quota = counts.select(
        "source", "lang", "n", sqrt_temperature_quota().alias("quota")
    )
    w = Window.partitionBy("source", "lang").orderBy("h", "doc_id")
    ranked = docs.withColumn("rnk", F.row_number().over(w))
    return (
        ranked.join(F.broadcast(quota), ["source", "lang"])
        .where(F.col("rnk") <= F.col("quota"))
        .select(
            "doc_id",
            "source",
            "lang",
            F.col("n").alias("n_cell"),
            F.col("quota").cast("bigint").alias("quota"),
            F.col("rnk").cast("bigint").alias("rank_in_cell"),
        )
    )


# --- quality-quantile curriculum ordering (round 7, second batch) -----------

_CURRICULUM_BUCKETS = 4

# Bucket-assignment CTEs shared by the single-epoch curriculum and
# the multi-epoch schedule (one definition of the quantile logic).
_CURRICULUM_BUCKET_CTES = f"""q0 AS (
        SELECT doc_id,
               CAST(floor(({X.quality_score_sql()}) * 10000.0) AS BIGINT)
                   AS q_mil
        FROM documents
    ),
    hist AS (
        SELECT q_mil, CAST(count(*) AS BIGINT) AS n FROM q0 GROUP BY q_mil
    ),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM hist),
    b AS (
        SELECT q_mil,
               least({_CURRICULUM_BUCKETS - 1},
                     ({_CURRICULUM_BUCKETS} * coalesce(sum(n) OVER (
                          ORDER BY q_mil
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                      ), 0)) // (SELECT n_total FROM tot)) AS bucket
        FROM hist
    )"""

_CURRICULUM_ORACLE = f"""
    WITH {_CURRICULUM_BUCKET_CTES},
    q AS (
        SELECT doc_id, q_mil,
               md5('curriculum:' || CAST(doc_id AS VARCHAR)) AS h
        FROM q0
    )
    SELECT q.doc_id, q.q_mil, CAST(b.bucket AS INT) AS bucket,
           CAST({_shard_expr_sql("strpos")} AS INT) AS shard,
           CAST(row_number() OVER (
               PARTITION BY b.bucket, substr(h, 1, {_SHARD_NIBBLES})
               ORDER BY h, doc_id
           ) AS BIGINT) AS pos_in_shard
    FROM q JOIN b USING (q_mil)
"""


def _curriculum_bucket_map(spark, sf_dir):
    """(q_mil → bucket) assignment over the bounded value histogram —
    the Spark twin of _CURRICULUM_BUCKET_CTES, shared by the
    single-epoch curriculum and the multi-epoch schedule."""
    docs = load_table(spark, sf_dir, "documents")
    q0 = docs.select(
        "doc_id",
        F.floor(X.quality_score() * 10000.0).cast("bigint").alias("q_mil"),
    )
    hist = q0.groupBy("q_mil").agg(F.count("*").cast("bigint").alias("n"))
    wcum = Window.orderBy("q_mil").rowsBetween(Window.unboundedPreceding, -1)
    cum = hist.select(
        "q_mil",
        F.coalesce(F.sum("n").over(wcum), F.lit(0).cast("bigint")).alias(
            "cum_before"
        ),
    )
    total = hist.agg(F.sum("n").cast("bigint").alias("n_total"))
    b = cum.crossJoin(F.broadcast(total)).select(
        "q_mil",
        F.least(
            F.lit(_CURRICULUM_BUCKETS - 1),
            F.expr(f"({_CURRICULUM_BUCKETS} * cum_before) div n_total"),
        )
        .cast("int")
        .alias("bucket"),
    )
    return q0, b


@register("corpus_curriculum_order", _CURRICULUM_ORACLE)
def corpus_curriculum_order(spark, sf_dir):
    """Quantile-bucketed curriculum ordering: documents are assigned
    to one of four quality-score quantile buckets
    (easy→hard training schedule), and WITHIN each bucket get the
    deterministic shard/pos reading order of corpus_global_shuffle —
    epoch order = bucket asc, then (shard, pos). The quantile is
    computed exactly over a VALUE HISTOGRAM: the score is floored to
    integer 10⁻⁴ units (identical IEEE arithmetic both engines, no
    rounding channel), so the histogram domain is ≤ 10001 rows no
    matter the corpus size, and bucket(value) = ⌊B·cum_before/n⌋
    (capped) in pure integer arithmetic — ties share a bucket by
    construction.

    Scale: ONE groupBy(q_mil) shuffle (≤ 10001 groups) + a window
    over the bounded histogram (single partition of ≤ 10001 rows —
    bounded by the value domain, like the Zipf top-1000 rank, never
    by corpus size); assignments broadcast-join back; the per-bucket
    order is the partitioned shard-rank, never a global row_number."""
    q0, b = _curriculum_bucket_map(spark, sf_dir)
    q = q0.withColumn(
        "h",
        F.md5(
            F.concat(F.lit("curriculum:"), F.col("doc_id").cast("string"))
        ),
    )
    wpos = Window.partitionBy(
        "bucket", F.substring("h", 1, _SHARD_NIBBLES)
    ).orderBy("h", "doc_id")
    return (
        q.join(F.broadcast(b), "q_mil")
        .select(
            "doc_id",
            "q_mil",
            "bucket",
            F.expr(_shard_expr_sql("instr")).cast("int").alias("shard"),
            F.row_number().over(wpos).cast("bigint").alias("pos_in_shard"),
        )
    )


# --- session-aware shard packing (round 7, second batch) --------------------
#
# corpus_pack_token_shards packs DOCUMENTS; training on event streams
# packs SESSIONS — a shard must never split a (user, session), or the
# training example loses its context window. Same two-pass hash-range
# cumsum, but the packed unit is the sessionized group.

_SESSION_PACK_BUDGET = 200  # events per shard

# the session gap is the shared single definition (queries_events
# imports it the same way)
from .streaming.jobs import SESSION_GAP_US as _PACK_GAP_US  # noqa: E402

_SESSION_PACK_ORACLE = f"""
    WITH o AS (
        SELECT user_id, ts, event_id,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS prev_ts
        FROM events
    ),
    m AS (
        SELECT *, CASE WHEN prev_ts IS NULL
                       OR epoch_us(ts) - epoch_us(prev_ts)
                          >= {_PACK_GAP_US}
                  THEN 1 ELSE 0 END AS new_s
        FROM o
    ),
    s AS (
        SELECT *, sum(new_s) OVER (
            PARTITION BY user_id ORDER BY ts, event_id
            ROWS UNBOUNDED PRECEDING
        ) AS sid
        FROM m
    ),
    sess AS (
        SELECT user_id, sid, CAST(count(*) AS BIGINT) AS n_events,
               CAST(epoch_us(min(ts)) AS BIGINT) AS start_us
        FROM s GROUP BY user_id, sid
    ),
    keyed AS (
        SELECT *, md5(CAST(user_id AS VARCHAR) || ':'
                      || CAST(start_us AS VARCHAR)) AS ok
        FROM sess
    ),
    ordered AS (
        SELECT *, sum(n_events) OVER (
            ORDER BY ok, user_id, start_us
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS cum
        FROM keyed
    )
    SELECT CAST(floor((cum - 1) / {_SESSION_PACK_BUDGET}) AS BIGINT) AS shard,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(n_events) AS BIGINT) AS shard_events
    FROM ordered
    GROUP BY 1
"""


@register("corpus_session_pack_shards", _SESSION_PACK_ORACLE)
def corpus_session_pack_shards(spark, sf_dir):
    """Session-aware shard packing: events are sessionized per user
    (30-min gap, the SESSION_GAP shared constant), then whole SESSIONS
    are packed greedily into ~200-event shards in deterministic md5
    order — no shard ever splits a session, the invariant sequence
    packing needs when the training example is a session context
    window (corpus_pack_token_shards' per-document twin).

    Scale: sessionization is ONE user_id shuffle (lag + running sum,
    the proven session-window shape); packing reuses the two-pass
    hash-range cumsum — a 256-range parallel window plus driver-side
    prefix offsets over a 256-row aggregate — so no single-partition
    window ever sees the session relation."""
    s = sessionize(load_table(spark, sf_dir, "events"), _PACK_GAP_US)
    sess = s.groupBy("user_id", "sid").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.unix_micros(F.min("ts")).cast("bigint").alias("start_us"),
    )
    ok = F.md5(
        F.concat(
            F.col("user_id").cast("string"),
            F.lit(":"),
            F.col("start_us").cast("string"),
        ).cast("binary")
    )
    keyed = sess.select(
        "user_id",
        "start_us",
        "n_events",
        ok.alias("ok"),
        F.substring(ok, 1, 2).alias("rng"),
    )
    joined, _total = bucket_offsets(spark, keyed, F.sum("n_events"))
    w = (
        Window.partitionBy("rng")
        .orderBy("ok", "user_id", "start_us")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = joined.withColumn(
        "shard",
        F.floor(
            (F.col("off") + F.sum("n_events").over(w) - 1)
            / _SESSION_PACK_BUDGET
        ).cast("bigint"),
    )
    return packed.groupBy("shard").agg(
        F.count("*").cast("bigint").alias("n_sessions"),
        F.sum("n_events").cast("bigint").alias("shard_events"),
    )


# --- token-budget waterfill mixing solver (round 7, second batch) -----------
#
# corpus_mixing_plan computes naive targets (cap at avail, leftover
# silently lost). The SOLVER redistributes: sources whose weighted
# share exceeds their inventory clamp at it, and the freed budget
# re-flows to the others by weight — the exact waterfilling allocation
# every mixture designer actually wants. Closed form: sort by
# avail/weight ascending; the clamp set is a prefix, detected with
# integer cross-multiplication (no division, no FP).

_WF_BUDGET_NUM, _WF_BUDGET_DEN = 1, 2  # budget = floor(total_avail / 2)

_WATERFILL_ORACLE = f"""
    WITH src AS (
        SELECT source,
               CAST(sum({X.token_count_sql()}) AS BIGINT) AS avail,
               CAST(strpos('0123456789abcdef',
                           substr(md5(source), 1, 1)) AS BIGINT) AS w
        FROM documents GROUP BY source
    ),
    tot AS (
        SELECT CAST(sum(avail) AS BIGINT) AS ta,
               CAST(sum(w) AS BIGINT) AS tw,
               CAST(sum(avail) * {_WF_BUDGET_NUM} // {_WF_BUDGET_DEN}
                    AS BIGINT) AS budget
        FROM src
    ),
    ord AS (
        SELECT src.*, t.tw, t.budget,
               row_number() OVER (
                   ORDER BY CAST(avail AS DOUBLE) / w, source
               ) AS rk,
               coalesce(sum(avail) OVER (
                   ORDER BY CAST(avail AS DOUBLE) / w, source
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS a_prev,
               coalesce(sum(w) OVER (
                   ORDER BY CAST(avail AS DOUBLE) / w, source
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS w_prev
        FROM src CROSS JOIN tot t
    ),
    flagged AS (
        SELECT *, CASE WHEN (budget - a_prev) * w >= avail * (tw - w_prev)
                       THEN 1 ELSE 0 END AS would_clamp
        FROM ord
    ),
    pfx AS (
        SELECT *, min(would_clamp) OVER (
                   ORDER BY rk
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS clamped
        FROM flagged
    ),
    k AS (
        SELECT CAST(coalesce(sum(CASE WHEN clamped = 1 THEN avail END), 0)
                    AS BIGINT) AS a_clamped,
               CAST(coalesce(sum(CASE WHEN clamped = 1 THEN w END), 0)
                    AS BIGINT) AS w_clamped
        FROM pfx
    )
    SELECT p.source, p.avail AS avail_tokens, CAST(p.w AS INT) AS weight,
           p.clamped = 1 AS clamped,
           CAST(CASE WHEN p.clamped = 1 THEN p.avail
                     ELSE (p.budget - k.a_clamped) * p.w
                          // (p.tw - k.w_clamped) END AS BIGINT)
               AS alloc_tokens,
           round(CAST(CASE WHEN p.clamped = 1 THEN p.avail
                           ELSE (p.budget - k.a_clamped) * p.w
                                // (p.tw - k.w_clamped) END AS DOUBLE)
                 / p.avail, 6) AS keep_fraction
    FROM pfx p CROSS JOIN k
"""


@register("corpus_mixing_waterfill", _WATERFILL_ORACLE)
def corpus_mixing_waterfill(spark, sf_dir):
    """Token-budget waterfill: allocate a training budget (half the
    corpus inventory) across sources by weight, EXACTLY — sources
    whose weighted share exceeds their inventory clamp at it and the
    freed budget re-flows to the rest by weight. Closed form: sort
    sources ascending by avail/weight; the clamp set is the longest
    prefix where (remaining budget)·w ≥ avail·(remaining weight),
    tested with integer cross-multiplication (no division, no FP
    channel); unclamped sources get ⌊remaining·w/active_weight⌋.

    Scale: everything after the one groupBy(source) token inventory
    runs on the |sources|-row dimension — the ordering window is
    single-partition over ~20 rows (bounded by the source dimension,
    never the corpus), the same bounded-domain contract as the
    curriculum histogram. Output = the per-source keep fractions the
    sampling pass consumes."""
    docs = load_table(spark, sf_dir, "documents")
    src = docs.groupBy("source").agg(
        F.sum(X.token_count()).cast("bigint").alias("avail")
    ).select(
        "source",
        "avail",
        F.expr("instr('0123456789abcdef', substr(md5(cast(source as binary)), 1, 1))")
        .cast("bigint")
        .alias("w"),
    )
    tot = src.agg(
        F.sum("avail").cast("bigint").alias("ta"),
        F.sum("w").cast("bigint").alias("tw"),
        (F.sum("avail") * _WF_BUDGET_NUM)
        .cast("bigint")
        .alias("_bn"),
    ).select(
        "ta",
        "tw",
        F.expr(f"_bn div {_WF_BUDGET_DEN}").cast("bigint").alias("budget"),
    )
    okey = F.col("avail").cast("double") / F.col("w")
    wo = Window.orderBy(okey, "source")
    prev = wo.rowsBetween(Window.unboundedPreceding, -1)
    ordd = (
        src.crossJoin(F.broadcast(tot))
        .withColumn("rk", F.row_number().over(wo))
        .withColumn(
            "a_prev", F.coalesce(F.sum("avail").over(prev), F.lit(0))
        )
        .withColumn(
            "w_prev", F.coalesce(F.sum("w").over(prev), F.lit(0))
        )
    )
    flagged = ordd.withColumn(
        "would_clamp",
        F.when(
            (F.col("budget") - F.col("a_prev")) * F.col("w")
            >= F.col("avail") * (F.col("tw") - F.col("w_prev")),
            1,
        ).otherwise(0),
    )
    pfx = flagged.withColumn(
        "clamped",
        F.min("would_clamp").over(
            Window.orderBy("rk").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        ),
    )
    k = pfx.agg(
        F.coalesce(
            F.sum(F.when(F.col("clamped") == 1, F.col("avail"))), F.lit(0)
        )
        .cast("bigint")
        .alias("a_clamped"),
        F.coalesce(
            F.sum(F.when(F.col("clamped") == 1, F.col("w"))), F.lit(0)
        )
        .cast("bigint")
        .alias("w_clamped"),
    )
    alloc = F.when(F.col("clamped") == 1, F.col("avail")).otherwise(
        F.expr("((budget - a_clamped) * w) div (tw - w_clamped)")
    )
    return (
        pfx.crossJoin(F.broadcast(k))
        .select(
            "source",
            F.col("avail").alias("avail_tokens"),
            F.col("w").cast("int").alias("weight"),
            (F.col("clamped") == 1).alias("clamped"),
            alloc.cast("bigint").alias("alloc_tokens"),
            F.round(
                alloc.cast("double") / F.col("avail"), 6
            ).alias("keep_fraction"),
        )
    )


# --- multi-epoch curriculum schedule (round 7, second batch) ----------------

_N_EPOCHS = 3

_EPOCH_SCHEDULE_ORACLE = f"""
    WITH {_CURRICULUM_BUCKET_CTES},
    ex AS (
        SELECT q0.doc_id, q0.q_mil, e.epoch,
               md5('epoch:' || CAST(e.epoch AS VARCHAR) || ':'
                   || CAST(q0.doc_id AS VARCHAR)) AS h
        FROM q0 CROSS JOIN (
            SELECT unnest([{", ".join(str(e) for e in range(_N_EPOCHS))}])
                       AS epoch
        ) e
    )
    SELECT ex.doc_id, CAST(ex.epoch AS INT) AS epoch,
           CAST(b.bucket AS INT) AS bucket,
           CAST({_shard_expr_sql("strpos")} AS INT) AS shard,
           CAST(row_number() OVER (
               PARTITION BY ex.epoch, b.bucket, substr(h, 1, {_SHARD_NIBBLES})
               ORDER BY h, doc_id
           ) AS BIGINT) AS pos_in_shard
    FROM ex JOIN b USING (q_mil)
"""


@register("corpus_epoch_schedule", _EPOCH_SCHEDULE_ORACLE)
def corpus_epoch_schedule(spark, sf_dir):
    """Multi-epoch curriculum schedule: the quality-quantile bucket is
    FIXED per document (the curriculum), but the within-bucket reading
    order is re-shuffled every epoch via an epoch-salted md5 key — the
    full training manifest (epoch, bucket, shard, pos) a multi-epoch
    run consumes, with epoch-to-epoch decorrelation and zero RNG
    state. Bucket assignment shares one definition with
    corpus_curriculum_order (_curriculum_bucket_map /
    _CURRICULUM_BUCKET_CTES).

    Scale: the epoch fan-out is a constant-width per-row explode
    (n × epochs rows); each (epoch, bucket, shard) rank partition is
    ~n/(buckets·256) rows — the same partitioned-rank contract as the
    global shuffle, multiplied by a constant epoch count, never a
    global window."""
    q0, b = _curriculum_bucket_map(spark, sf_dir)
    ex = q0.withColumn(
        "epoch",
        F.explode(F.array(*[F.lit(e) for e in range(_N_EPOCHS)])),
    ).withColumn(
        "h",
        F.md5(
            F.concat(
                F.lit("epoch:"),
                F.col("epoch").cast("string"),
                F.lit(":"),
                F.col("doc_id").cast("string"),
            ).cast("binary")
        ),
    )
    wpos = Window.partitionBy(
        "epoch", "bucket", F.substring("h", 1, _SHARD_NIBBLES)
    ).orderBy("h", "doc_id")
    return (
        ex.join(F.broadcast(b), "q_mil")
        .select(
            "doc_id",
            F.col("epoch").cast("int").alias("epoch"),
            "bucket",
            F.expr(_shard_expr_sql("instr")).cast("int").alias("shard"),
            F.row_number().over(wpos).cast("bigint").alias("pos_in_shard"),
        )
    )


# --- Horvitz–Thompson estimation audit (round 16) ------------------------------
#
# The estimation HALF of the weighted-sampling story (Horvitz &
# Thompson 1952, public): corpus_weighted_doc_sample keeps documents
# with inclusion probability π_i = min(1, K·w_i/ΣW); this audit
# estimates the corpus TOKEN TOTAL from that same deterministic
# sample via the HT estimator Ŷ = Σ_kept y_i/π_i and reports it
# beside the exact total — the end-to-end check that the sampling
# weights and the estimation weights actually invert each other
# (the mistake HT catches is dividing by a different π than the one
# that sampled). Same exact integer keep decision as the sampler
# (u6·ΣW < K·w·16⁶ — no floats in membership); each HT term is ONE
# fixed double expression over exact ints (y·ΣW/(K·w), or y when the
# probability clamps at 1), micro-quantized BEFORE the sum so the
# reduction is an order-proof integer add. y·ΣW stays inside the
# double's exact-integer range to ~9e15 token·char products; past
# that, DECIMAL(38) per the ANOVA bound convention.

_HT_ORACLE = f"""
    WITH w AS (
        SELECT doc_id, CAST(n_chars AS BIGINT) AS wt,
               {X.token_count_sql()} AS y
        FROM documents
    ),
    tot AS (
        SELECT CAST(sum(wt) AS BIGINT) AS total_w,
               CAST(sum(y) AS BIGINT) AS total_y,
               CAST(count(*) AS BIGINT) AS n_docs
        FROM w
    ),
    kept AS (
        SELECT CASE WHEN {_WSAMPLE_TARGET} * wt >= total_w THEN
                   CAST(y * 1000000 AS BIGINT)
               ELSE
                   CAST(floor(CAST(y AS DOUBLE) * total_w
                              / ({_WSAMPLE_TARGET} * wt)
                              * 1000000e0 + 0.5e0) AS BIGINT)
               END AS t_micro
        FROM w CROSS JOIN tot
        WHERE {_u6_int_sql('doc_id')} * total_w
              < {_WSAMPLE_TARGET} * wt * {16 ** 6}
    )
    SELECT t.n_docs,
           CAST(count(k.t_micro) AS BIGINT) AS n_kept,
           t.total_y AS exact_total_tokens,
           round(CAST(sum(k.t_micro) AS BIGINT) / 1000000e0, 6)
               AS ht_estimate,
           CASE WHEN t.total_y > 0 THEN
               round(CAST(floor(abs(CAST(sum(k.t_micro) AS DOUBLE)
                                    / 1000000e0 - t.total_y)
                                / t.total_y * 1000000e0 + 0.5e0) AS BIGINT)
                     / 1000000e0, 6) END AS rel_error
    FROM tot t LEFT JOIN kept k ON TRUE
    GROUP BY t.n_docs, t.total_y
"""


@register("corpus_ht_token_estimate", _HT_ORACLE)
def corpus_ht_token_estimate(spark, sf_dir):
    """Horvitz–Thompson estimate of the corpus token total from the
    deterministic length-weighted Bernoulli sample, beside the exact
    total and relative error (see the section comment for the
    π-inversion contract and the integer membership/quantization
    chain).

    Scale: identical to corpus_weighted_doc_sample — ΣW/Σy/N are one
    broadcast aggregate row, the keep decision and HT term are
    per-row expressions with no shuffle, and the estimate is one
    map-side-combined integer sum."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.col("n_chars").cast("bigint").alias("wt"),
        X.token_count().alias("y"),
    )
    tot = docs.agg(
        F.sum("wt").cast("bigint").alias("total_w"),
        F.sum("y").cast("bigint").alias("total_y"),
        F.count("*").cast("bigint").alias("n_docs"),
    )
    kept = (
        docs.crossJoin(F.broadcast(tot))
        .filter(
            _u6_int_col("doc_id") * F.col("total_w")
            < F.lit(_WSAMPLE_TARGET) * F.col("wt") * F.lit(16 ** 6)
        )
        .select(
            "n_docs",
            "total_y",
            F.expr(
                f"CASE WHEN {_WSAMPLE_TARGET} * wt >= total_w THEN"
                " CAST(y * 1000000 AS BIGINT)"
                " ELSE " + micro_units_sql(
                    f"CAST(y AS DOUBLE) * total_w / ({_WSAMPLE_TARGET} * wt)"
                ) + " END"
            ).alias("t_micro"),
        )
    )
    return (
        tot.join(kept.drop("n_docs", "total_y"), F.lit(True), "left")
        .groupBy("n_docs", "total_y")
        .agg(
            F.count("t_micro").cast("bigint").alias("n_kept"),
            F.sum("t_micro").cast("bigint").alias("st"),
        )
        .select(
            "n_docs",
            "n_kept",
            F.col("total_y").alias("exact_total_tokens"),
            F.expr("round(st / 1000000e0, 6)").alias("ht_estimate"),
            F.expr(
                "CASE WHEN total_y > 0 THEN "
                + micro6_sql("abs(CAST(st AS DOUBLE) / 1000000e0 - total_y) / total_y")
                + " END"
            ).alias("rel_error"),
        )
    )


# --- DSIR importance weighting (round 16) ------------------------------------
#
# Data Selection via Importance Resampling (Xie et al. 2023, public
# method): score every candidate training document by how much more
# likely its hashed bag-of-words is under a TARGET-domain unigram
# model than under the raw-corpus model,
#   log w(doc) = Σ_tokens [ln p_target(b(t)) − ln p_raw(b(t))],
# with tokens hashed into _DSIR_BUCKETS buckets (the hashing trick —
# vocabulary-independent model size, exactly the paper's hashed
# n-gram generative model at n=1) and Laplace +1 smoothing on both
# models. The target here is the held-out eval split the
# decontamination family already defines (doc_id < _EVAL_CUTOFF);
# candidates are the rest. Top-scored docs are what DSIR keeps for
# training — the principled replacement for hand-tuned quality
# thresholds when a pipeline wants "more like the target domain".
#
# Determinism: the per-bucket log-ratio is ONE fixed IEEE tree over
# exact integer counts, micro-quantized at BUCKET grain (≤
# _DSIR_BUCKETS rows — the entropy-term convention, so the libm ln
# runs once per bucket, never per token); each doc's score is then
# an exact int64 sum of bucket weights, and the top-50 is an exact
# integer argsort with doc_id tie-break. The per-token-normalized
# score (DSIR's length-debiasing view) divides the exact sum once
# and floor-quantizes.

_DSIR_BUCKETS = 1024
_DSIR_TOP = 50


def _dsir_bucket_sql(fn: str) -> str:
    from .functions.scalar import hex_chunk_int_sql

    return f"({hex_chunk_int_sql('md5(token)', 8, fn=fn)} % {_DSIR_BUCKETS})"


_DSIR_LW_SQL = micro_units_sql(
    f"(ln(ct + 1e0) - ln(nt + {_DSIR_BUCKETS}e0)"
    f" - ln(cr + 1e0) + ln(nr + {_DSIR_BUCKETS}e0))"
)

_DSIR_ORACLE = f"""
    WITH t AS (
        SELECT doc_id, unnest({X.tokens_sql()}) AS token FROM documents
    ),
    tk AS (
        SELECT doc_id, {_dsir_bucket_sql("strpos")} AS b
        FROM t WHERE token <> ''
    ),
    grid AS (
        SELECT unnest(generate_series(0, {_DSIR_BUCKETS - 1})) AS b
    ),
    cnt AS (
        SELECT b,
               CAST(sum(CASE WHEN doc_id < {_EVAL_CUTOFF}
                             THEN 1 ELSE 0 END) AS BIGINT) AS ct_b,
               CAST(sum(CASE WHEN doc_id >= {_EVAL_CUTOFF}
                             THEN 1 ELSE 0 END) AS BIGINT) AS cr_b
        FROM tk GROUP BY 1
    ),
    dense AS (
        SELECT g.b, coalesce(ct_b, 0) AS ct, coalesce(cr_b, 0) AS cr
        FROM grid g LEFT JOIN cnt ON cnt.b = g.b
    ),
    tot AS (
        SELECT CAST(sum(ct) AS BIGINT) AS nt, CAST(sum(cr) AS BIGINT) AS nr
        FROM dense
    ),
    lw AS (
        SELECT b, {_DSIR_LW_SQL} AS lw_micro
        FROM dense CROSS JOIN tot
    ),
    ds AS (
        SELECT tk.doc_id,
               CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(sum(lw.lw_micro) AS BIGINT) AS s_micro
        FROM tk JOIN lw ON lw.b = tk.b
        WHERE tk.doc_id >= {_EVAL_CUTOFF}
        GROUP BY 1
    )
    SELECT doc_id, n_tokens,
           round(s_micro / 1000000e0, 6) AS log_importance,
           round(CAST(floor(CAST(s_micro AS DOUBLE) / n_tokens + 0.5e0)
                      AS BIGINT) / 1000000e0, 6) AS log_importance_per_token
    FROM ds
    ORDER BY s_micro DESC, doc_id
    LIMIT {_DSIR_TOP}
"""


@register("corpus_dsir_importance", _DSIR_ORACLE)
def corpus_dsir_importance(spark, sf_dir):
    """DSIR importance scores: the top-{k} candidate training docs by
    hashed-unigram log importance weight toward the held-out target
    split, with the per-token normalized score beside the raw sum —
    the importance-resampling data selector (Xie et al. 2023) on the
    same eval/train split as the decontamination family (see the
    section comment for the model, smoothing, and quantization
    contracts).

    Scale: one exploded token pass collapses to doc-term rows, the
    bucket hash runs once per DISTINCT token (vocabulary-grain
    checkpoint — the only persist);
    both models are ONE {b}-bucket aggregate (map-side combinable)
    densified against a generated grid and broadcast back; each doc's
    score is an exact int64 sum and the top-50 a distributed
    TakeOrdered. Nothing pairwise, nothing vocabulary-unbounded —
    the model size is fixed by construction at any corpus size.""".format(
        k=_DSIR_TOP, b=_DSIR_BUCKETS
    )
    docs = load_table(spark, sf_dir, "documents")
    occ = (
        docs.select("doc_id", F.explode(X.tokens()).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("doc_id", "token")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    # md5 at VOCABULARY grain, not per occurrence (perf rule 5:
    # fold expensive per-row hash expressions at the smallest grain
    # that preserves the sum), checkpointed — vocabulary-scale, the
    # legal persist; the doc-term relation itself stays unpersisted
    # (fact-scale persists are the rejected pattern)
    vocab = (
        occ.groupBy("token")
        .agg(F.count("*").alias("_nd"))
        .select("token", F.expr(_dsir_bucket_sql("instr")).alias("b"))
        .localCheckpoint(eager=True)
    )
    tk = occ.join(vocab, "token").select("doc_id", "b", "c")
    cnt = tk.groupBy("b").agg(
        F.sum(
            F.when(F.col("doc_id") < _EVAL_CUTOFF, F.col("c")).otherwise(0)
        )
        .cast("bigint")
        .alias("ct_b"),
        F.sum(
            F.when(F.col("doc_id") >= _EVAL_CUTOFF, F.col("c")).otherwise(
                0
            )
        )
        .cast("bigint")
        .alias("cr_b"),
    )
    grid = spark.range(_DSIR_BUCKETS).select(F.col("id").alias("b"))
    dense = grid.join(F.broadcast(cnt), "b", "left").select(
        "b",
        F.coalesce(F.col("ct_b"), F.lit(0)).alias("ct"),
        F.coalesce(F.col("cr_b"), F.lit(0)).alias("cr"),
    )
    tot = dense.agg(
        F.sum("ct").cast("bigint").alias("nt"),
        F.sum("cr").cast("bigint").alias("nr"),
    )
    lw = dense.crossJoin(F.broadcast(tot)).select(
        "b", F.expr(_DSIR_LW_SQL).alias("lw_micro")
    )
    ds = (
        tk.where(F.col("doc_id") >= _EVAL_CUTOFF)
        .join(F.broadcast(lw), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("n_tokens"),
            F.sum(F.col("c") * F.col("lw_micro"))
            .cast("bigint")
            .alias("s_micro"),
        )
    )
    return (
        ds.orderBy(F.desc("s_micro"), "doc_id")
        .limit(_DSIR_TOP)
        .select(
            "doc_id",
            "n_tokens",
            F.round(F.col("s_micro") / F.expr("1000000e0"), 6).alias(
                "log_importance"
            ),
            F.expr(
                "round(CAST(floor(CAST(s_micro AS DOUBLE) / n_tokens"
                " + 0.5e0) AS BIGINT) / 1000000e0, 6)"
            ).alias("log_importance_per_token"),
        )
    )
