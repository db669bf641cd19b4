"""Similarity-search queries over the embeddings table ([ext] —
SURVEY.md §2.11): brute-force cosine top-k (correctness baseline),
sign-LSH-bucketed ANN (scale path), and embedding-cosine near-dup
pairs (dedup completion).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions.scalar import entropy_term_micro_sql, micro6_sql, micro_units_sql
from .operators import similarity as S
from .operators._argmax_udf import (
    collect_model,
    make_blocked_pairs_udf,
    make_nearest_seed_udf,
    make_pq_encode_udf,
    make_range_pairs_udf,
    make_two_level_nearest_udf,
)
from .operators.session_cache import session_cached, session_memo
from .registry import register
from .session import local_frame
from .sources.catalog import load_table

_N_QUERIES = 10  # vec_id < 10 are the query vectors
_TOP_K = 5
_NEARDUP_THRESHOLD = 0.3
_NEARDUP_CAP = 2000

# --- sign-LSH sizing (VERDICT r1 next-round #3) ----------------------------
# Bucket width is DERIVED from corpus size so selectivity holds at scale:
#   bits = clamp(ceil(log2(n / _LSH_TARGET_BUCKET_ROWS)), MIN, MAX)
# i.e. expected rows per bucket stays ~_LSH_TARGET_BUCKET_ROWS as n grows.
# _LSH_TABLES independent hash tables (disjoint slices of one materialized
# projection-sign string) are OR-combined for recall — a candidate matches
# if it shares ANY table's bucket with the query. Recall falls as p^bits
# per table (p = per-bit collision prob, ≈0.6 for this corpus's wide
# neighbor angles), so tables is the recall knob and bits the cost knob;
# on near-isotropic synthetic embeddings the trained-IVF path
# (similarity_ivf_topk: 0.96 recall touching nprobe/k of the corpus) is
# the blessed scale path, with LSH as the shuffle-free alternative.
_LSH_TABLES = 12
_LSH_BITS_MIN = 4
_LSH_BITS_MAX = 8
_LSH_TARGET_BUCKET_ROWS = 128
_LSH_EMB_DIM = 64  # testdata embedding width (TESTDATA.md)
_LSH_PLANES = S.lsh_planes(_LSH_TABLES * _LSH_BITS_MAX, _LSH_EMB_DIM)


def _lsh_bits(n_vectors: int) -> int:
    """Python twin of the oracle's params CTE — MUST match
    ``least(greatest(min, ceil(log2(n / target))), max)`` exactly."""
    return min(
        max(
            _LSH_BITS_MIN,
            math.ceil(math.log2(max(n_vectors, 1) / _LSH_TARGET_BUCKET_ROWS)),
        ),
        _LSH_BITS_MAX,
    )


# --- quantizer sizing (VERDICT r2 #2) --------------------------------------
# The IVF/PQ analog of ``_lsh_bits``: codebook size k is DERIVED from
# corpus size instead of a constant, as the smallest power of two with
# k*k >= n (≈ the classic k ≈ √n IVF rule), clamped to a family-specific
# range.  Implemented as a pure-INTEGER threshold ladder on both engines
# — libm log2/pow differ between the JVM/DuckDB in the last ulp, so a
# float formula could disagree exactly at power-of-four corpus sizes.
# Both the Python twin and the SQL CASE are generated from ONE ladder.

_QUANT_LADDER = [2**i for i in range(4, 13)]  # 16 .. 4096


def _quant_k(n: int, kmin: int, kmax: int) -> int:
    """Smallest ladder k with k*k >= n, clamped to [kmin, kmax]."""
    for k in _QUANT_LADDER:
        if k < kmin:
            continue
        if k >= kmax:
            return kmax
        if k * k >= n:
            return k
    return kmax


def _quant_k_sql(n_expr: str, kmin: int, kmax: int) -> str:
    """SQL twin of ``_quant_k`` — integer comparisons only."""
    arms = " ".join(
        f"WHEN {n_expr} <= {k * k} THEN {k}"
        for k in _QUANT_LADDER
        if kmin <= k < kmax
    )
    return f"(CASE {arms} ELSE {kmax} END)"


# Quantizer training runs on a deterministic md5-keyed sample of about
# _TRAIN_TARGET vectors (the whole corpus below that): Lloyd means are
# O(sample), not O(corpus), and the sample is identical on any cluster
# layout.  The md5-hex prefix comparison is stable across both engines.
_TRAIN_TARGET = 1024


def _train_thresh_hex(n: int) -> str | None:
    """First-4-hex-chars md5 threshold keeping ~_TRAIN_TARGET of n rows
    (None = keep everything). Python twin of the oracle's params CTE."""
    if n <= _TRAIN_TARGET:
        return None
    return format(int(math.floor(65536.0 * _TRAIN_TARGET / n)), "04x")


def _train_sample(v: DataFrame, n: int) -> DataFrame:
    th = _train_thresh_hex(n)
    if th is None:
        return v
    return v.filter(
        F.expr("substring(md5(cast(cast(vec_id as string) as binary)), 1, 4)")
        < F.lit(th)
    )


# --- two-level assignment sizing (VERDICT r3 #4) ---------------------------
# With k ≈ √n fine centroids, the flat assignment pass is O(n·k) =
# O(n^1.5). A coarse quantizer of ck ≈ √k cells — built FROM the fine
# centroids with one deterministic refinement iteration — cuts it to
# O(n·(ck + k/ck)) ≈ O(n^1.25): each vector picks its coarse cell
# first, then refines among only that cell's fine centroids. Same
# integer-ladder discipline as _quant_k (no libm in either engine).

_COARSE_LADDER = [2 ** i for i in range(1, 7)]  # 2 .. 64


def _coarse_k(k: int) -> int:
    """Smallest power-of-two c with c*c >= k (≈ √k coarse cells)."""
    for c in _COARSE_LADDER:
        if c * c >= k:
            return c
    return _COARSE_LADDER[-1]


def _coarse_k_sql(k_expr: str) -> str:
    arms = " ".join(
        f"WHEN {k_expr} <= {c * c} THEN {c}" for c in _COARSE_LADDER[:-1]
    )
    return f"(CASE {arms} ELSE {_COARSE_LADDER[-1]} END)"


def _train_params_sql(kmin: int, kmax: int, base: str = "v") -> str:
    """CTE chain computing (n, k, ck, nprobe, th) from count(*) — the
    SQL twin of ``_quant_k`` / ``_coarse_k`` / ``_train_thresh_hex``
    (CAST of an already-floor()ed double is exact; DuckDB CAST alone
    would ROUND).  ``samp`` is the md5-sampled slice of ``base`` (any
    relation with vec_id)."""
    return f"""p0 AS (SELECT count(*) AS n FROM embeddings),
    p1 AS (SELECT n, {_quant_k_sql('n', kmin, kmax)} AS k FROM p0),
    params AS (
        SELECT n, k, {_coarse_k_sql('k')} AS ck, greatest(2, k // 8) AS nprobe,
               CASE WHEN n <= {_TRAIN_TARGET} THEN NULL
                    ELSE printf('%04x',
                         CAST(floor(65536.0 * {_TRAIN_TARGET} / n) AS INT))
               END AS th
        FROM p1
    ),
    samp AS (
        SELECT b.* FROM {base} b CROSS JOIN params p
        WHERE p.th IS NULL
           OR substr(md5(CAST(b.vec_id AS VARCHAR)), 1, 4) < p.th
    )"""


def _vecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings")


def _top_k(scored: DataFrame, score: str) -> DataFrame:
    """Each query's ``_TOP_K`` rows of ``scored`` (query_id,
    neighbor_id, ``score``) by descending score, ties by neighbor_id."""
    w = Window.partitionBy("query_id").orderBy(F.desc(score), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _TOP_K)
        .drop("rn")
    )


def _cosine_rerank(pairs: DataFrame, v: DataFrame) -> DataFrame:
    """(query_id, neighbor_id, cos_sim): the candidate ``pairs`` scored
    by exact cosine (6 dp) over ``v`` (vec_id, embedding, nrm), the
    query side broadcast."""
    q = v.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    c = v.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("n_emb"),
        F.col("nrm").alias("n_nrm"),
    )
    return (
        pairs.join(F.broadcast(q), "query_id")
        .join(c, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                S.cosine(
                    F.col("q_emb"), F.col("n_emb"), F.col("q_nrm"), F.col("n_nrm")
                ),
                6,
            ).alias("cos_sim"),
        )
    )


_BRUTE_ORACLE = f"""
    WITH v AS (
        SELECT vec_id, embedding, {S.norm_sql('embedding')} AS nrm
        FROM embeddings
    ),
    q AS (SELECT * FROM v WHERE vec_id < {_N_QUERIES}),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               round({S.cosine_sql('q.embedding', 'c.embedding', 'q.nrm', 'c.nrm')},
                     6) AS cos_sim
        FROM q JOIN v c ON c.vec_id <> q.vec_id
    )
    SELECT query_id, neighbor_id, cos_sim
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id
        ) AS rn
        FROM scored
    ) WHERE rn <= {_TOP_K}
"""


@register("similarity_topk_bruteforce", _BRUTE_ORACLE, headline=True)
def similarity_topk_bruteforce(spark, sf_dir):
    """Brute-force cosine top-k: query vectors broadcast against the
    full corpus, per-query window top-k. Exact; O(n·q) — the baseline
    the ANN path is measured against. Norms are precomputed per vector
    (not per pair)."""
    v = _vecs(spark, sf_dir).select(
        "vec_id", "embedding", S.norm(F.col("embedding")).alias("nrm")
    )
    q = v.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    scored = (
        v.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                S.cosine(
                    F.col("q_emb"), F.col("embedding"), F.col("q_nrm"), F.col("nrm")
                ),
                6,
            ).alias("cos_sim"),
        )
    )
    return _top_k(scored, "cos_sim")


# --- int8 scalar quantization (SQ) top-k -----------------------------------
#
# Per-vector symmetric int8: scale s = max|x|/127, code q_i = round(x_i/s).
# The scales CANCEL in cosine — cos_sq = Σ qa·qb / (√Σqa² · √Σqb²) — so the
# score is integer dot products and integer norms only: exact-associative
# sums, no float channel beyond one division. This is the 4× memory
# compression a 100 TB vector store runs brute-force or re-ranking over.

_SQ_QV_SQL = (
    "list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) / "
    "(greatest(list_max(list_transform(embedding, "
    "y -> abs(CAST(y AS DOUBLE)))), 1e-30) / 127.0)) AS BIGINT))"
)

_SQ_ORACLE = f"""
    WITH v AS (
        SELECT vec_id, {_SQ_QV_SQL} AS qv FROM embeddings
    ),
    n AS (
        SELECT vec_id, qv,
               sqrt(CAST(list_sum(list_transform(qv, x -> x * x)) AS DOUBLE))
                   AS qn
        FROM v
    ),
    q AS (SELECT * FROM n WHERE vec_id < {_N_QUERIES}),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               round(CASE WHEN q.qn > 0 AND c.qn > 0
                          THEN CAST(list_sum(list_transform(
                                   generate_series(1, len(q.qv)),
                                   i -> q.qv[i] * c.qv[i])) AS DOUBLE)
                               / (q.qn * c.qn)
                          ELSE 0.0 END, 6) AS cos_sq
        FROM q JOIN n c ON c.vec_id <> q.vec_id
    )
    SELECT query_id, neighbor_id, cos_sq
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cos_sq DESC, neighbor_id
        ) AS rn
        FROM scored
    ) WHERE rn <= {_TOP_K}
"""


@register("similarity_sq_int8_topk", _SQ_ORACLE)
def similarity_sq_int8_topk(spark, sf_dir):
    """int8 scalar-quantized cosine top-k: per-vector symmetric scale
    (max|x|/127), integer codes, and a score whose scales cancel —
    integer dot / integer norms, so the quantized search is
    bit-identical across engines and partitionings by construction.
    At 100 TB this is the 4×-smaller store the brute/re-rank pass
    scans; codes here are BIGINT columns, on disk they'd be 1-byte."""
    emb = F.col("embedding")
    s = F.greatest(
        F.array_max(F.transform(emb, lambda x: F.abs(x.cast("double")))),
        F.lit(1e-30),
    ) / F.lit(127.0)
    qv = F.transform(emb, lambda x: F.round(x.cast("double") / s).cast("long"))
    v = _vecs(spark, sf_dir).select("vec_id", qv.alias("qv"))
    zero = F.lit(0).cast("long")
    qn = F.sqrt(
        F.aggregate(
            F.transform("qv", lambda x: x * x), zero, lambda a, x: a + x
        ).cast("double")
    )
    n = v.select("vec_id", "qv", qn.alias("qn"))
    q = n.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("qv").alias("q_qv"),
        F.col("qn").alias("q_qn"),
    )
    intdot = F.aggregate(
        F.zip_with("q_qv", "qv", lambda x, y: x * y), zero, lambda a, x: a + x
    )
    scored = (
        n.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                F.when(
                    (F.col("q_qn") > 0) & (F.col("qn") > 0),
                    intdot.cast("double") / (F.col("q_qn") * F.col("qn")),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("cos_sq"),
        )
    )
    return _top_k(scored, "cos_sq")


def _lsh_cand_branch_sql(t: int) -> str:
    """One UNION branch of the oracle's OR-construction: table ``t``
    buckets on substr(bitstr, t*bits+1, bits)."""
    return f"""
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id
        FROM q CROSS JOIN params JOIN v c
          ON substr(c.bitstr, {t} * params.bits + 1, params.bits)
             = substr(q.bitstr, {t} * params.bits + 1, params.bits)
         AND c.vec_id <> q.vec_id"""


_LSH_ORACLE = f"""
    WITH params AS (
        SELECT least(greatest({_LSH_BITS_MIN},
                              CAST(ceil(log2(greatest(count(*), 1)
                                             / {_LSH_TARGET_BUCKET_ROWS}.0))
                                   AS INT)),
                     {_LSH_BITS_MAX}) AS bits
        FROM embeddings
    ),
    v AS (
        SELECT vec_id, embedding, {S.norm_sql('embedding')} AS nrm,
               {S.project_signs_sql('embedding', _LSH_PLANES)} AS bitstr
        FROM embeddings
    ),
    q AS (SELECT * FROM v WHERE vec_id < {_N_QUERIES}),
    cand AS ({" UNION ".join(_lsh_cand_branch_sql(t) for t in range(_LSH_TABLES))}
    ),
    scored AS (
        SELECT cand.query_id, cand.neighbor_id,
               round({S.cosine_sql('q.embedding', 'c.embedding', 'q.nrm', 'c.nrm')},
                     6) AS cos_sim
        FROM cand
        JOIN v q ON q.vec_id = cand.query_id
        JOIN v c ON c.vec_id = cand.neighbor_id
    )
    SELECT query_id, neighbor_id, cos_sim
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id
        ) AS rn
        FROM scored
    ) WHERE rn <= {_TOP_K}
"""


@register("similarity_ann_lsh", _LSH_ORACLE, headline=True)
def similarity_ann_lsh(spark, sf_dir):
    """Approximate top-k via multi-table sign-LSH over seeded Gaussian
    hyperplane projections: each of _LSH_TABLES hash tables buckets on
    a disjoint ``bits``-wide slice of the vector's projection-sign
    string; candidates are the OR of all tables' bucket matches
    (dedup'd), then exactly re-scored. Bucket width grows with corpus
    size (bits = log2(n/target)), so per-table selectivity stays
    ~_LSH_TARGET_BUCKET_ROWS rows/bucket at any scale; more tables buy
    recall at linear candidate cost (0.62 recall@5 at sf0.1, vs 0.04
    for axis-aligned signs). The candidate join is an equi-join on
    (table, bucket) — never the O(n·q) cross product."""
    # The signature relation (norm + 96-plane sign string per vector) is
    # the expensive part: the unrolled projection expression carries
    # planes×dim literal leaves, and without persistence it is
    # re-analyzed and re-evaluated in EVERY branch that touches v
    # (corpus keys, query keys, re-score sides) — measured 9.3 s warm
    # at sf0.1 (VERDICT r3 #3). Fixed twice over: (a) the build runs
    # the Arrow-batched dim-order-accumulating twin of the fold
    # (bit-identical signs, 6.4 s → 0.2 s for the sf0.1 corpus), and
    # (b) it is session-cached, so all 12 hash tables and both join
    # sides read one persisted copy computed in a single pass — the
    # artifact an index build would write out.
    v = session_cached(
        spark, "lsh_signatures", sf_dir,
        lambda: _vecs(spark, sf_dir).select(
            "vec_id",
            "embedding",
            S.norm(F.col("embedding")).alias("nrm"),
            S.project_signs_pandas("embedding", _LSH_PLANES).alias("bitstr"),
        ),
    )
    # corpus size → bucket width from parquet footer stats — no count
    # job, no extra scan (VERDICT r2 #7); the same formula runs in the
    # oracle's params CTE on count(*)
    from .sources.catalog import table_rows

    bits = _lsh_bits(table_rows(sf_dir, "embeddings"))
    tables = F.array(
        *[
            F.struct(
                F.lit(t).alias("t"),
                F.substring("bitstr", t * bits + 1, bits).alias("bucket"),
            )
            for t in range(_LSH_TABLES)
        ]
    )
    keys = v.select("vec_id", F.explode(tables).alias("tb")).select(
        "vec_id", F.col("tb.t").alias("t"), F.col("tb.bucket").alias("bucket")
    )
    qkeys = keys.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "t", "bucket"
    )
    cand = (
        keys.join(F.broadcast(qkeys), ["t", "bucket"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()  # OR-combine: a pair found by 2 tables scores once
    )
    return _top_k(_cosine_rerank(cand, v), "cos_sim")


# --- ANN recall audit (round 11, second batch) ------------------------------
#
# The tuning dashboard for the ANN path: per query, how much of the
# EXACT cosine top-k does the sign-LSH index recover? The LSH
# docstring has always cited a recall number measured by hand — this
# registers the measurement itself, so index changes (tables, bits,
# planes) regress against an oracle instead of a comment. Pure
# composition of the two already-oracle-checked pipelines on their
# shared session-cached signature relation: exact top-k ∩ LSH top-k
# per query (both sides k = _TOP_K with the identical
# (cos desc, neighbor_id) tie-break), recall = hits/k as ONE
# micro-quantized division, and the corpus-level mean recall as one
# more over Σ hits / (n_queries·k). DuckDB composes the two full
# oracle texts as nested-WITH derived tables.

_RECALL_AUDIT_ORACLE = f"""
    WITH bf AS ({_BRUTE_ORACLE}),
    lsh AS ({_LSH_ORACLE}),
    qs AS (SELECT DISTINCT query_id FROM bf),
    hits AS (
        SELECT qs.query_id,
               CAST(coalesce(count(lsh.neighbor_id), 0) AS BIGINT)
                   AS n_hits
        FROM qs
        LEFT JOIN bf ON bf.query_id = qs.query_id
        LEFT JOIN lsh ON lsh.query_id = bf.query_id
         AND lsh.neighbor_id = bf.neighbor_id
        GROUP BY 1
    ),
    tot AS (
        SELECT CAST(sum(n_hits) AS BIGINT) AS sum_hits,
               CAST(count(*) AS BIGINT) AS nq
        FROM hits
    )
    SELECT query_id, n_hits,
           round(CAST(floor(CAST(n_hits AS DOUBLE) / {_TOP_K}
                            * 1000000e0 + 0.5e0) AS BIGINT)
                 / 1000000e0, 6) AS recall_at_k,
           round(CAST(floor(CAST(sum_hits AS DOUBLE) / (nq * {_TOP_K})
                            * 1000000e0 + 0.5e0) AS BIGINT)
                 / 1000000e0, 6) AS mean_recall
    FROM hits CROSS JOIN tot
"""


@register("similarity_ann_recall_audit", _RECALL_AUDIT_ORACLE)
def similarity_ann_recall_audit(spark, sf_dir):
    """Recall@k of the sign-LSH index against the exact brute-force
    top-k, per query plus the corpus mean — see the section comment.
    Makes the index's quality a regression-checked number instead of
    a docstring citation.

    Scale: the exact side is the documented O(n·q) exact tier (q = 10
    broadcast queries, one corpus pass); the LSH side reuses the
    session-cached signature relation, so the audit adds one bucket
    join + two top-k windows over limit-bounded candidate sets and a
    10-row intersection join."""
    bf = (
        similarity_topk_bruteforce(spark, sf_dir)
        .select("query_id", "neighbor_id")
        # q·k rows; consumed by the query list AND the intersection —
        # checkpoint so the O(n·q) exact pass runs ONCE (r11 review;
        # the _markov_components precedent)
        .localCheckpoint(eager=True)
    )
    lsh = similarity_ann_lsh(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    qs = bf.select("query_id").distinct()
    inter = bf.join(lsh, ["query_id", "neighbor_id"]).groupBy(
        "query_id"
    ).agg(F.count("*").cast("bigint").alias("n_hits"))
    hits = (
        qs.join(inter, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
        )
        # q rows; consumed by the mean aggregate AND the output —
        # checkpoint so the bucket-join side also runs once
        .localCheckpoint(eager=True)
    )
    tot = hits.agg(
        F.sum("n_hits").cast("bigint").alias("sum_hits"),
        F.count("*").cast("bigint").alias("nq"),
    )
    return hits.crossJoin(F.broadcast(tot)).select(
        "query_id",
        "n_hits",
        F.expr(micro6_sql(f"CAST(n_hits AS DOUBLE) / {_TOP_K}")).alias("recall_at_k"),
        F.expr(micro6_sql(
            f"CAST(sum_hits AS DOUBLE) / (nq * {_TOP_K})"
        )).alias("mean_recall"),
    )


_NEARDUP_ORACLE = f"""
    WITH v AS (
        SELECT vec_id, label, embedding, {S.norm_sql('embedding')} AS nrm
        FROM embeddings WHERE vec_id < {_NEARDUP_CAP}
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
           round({S.cosine_sql('a.embedding', 'b.embedding', 'a.nrm', 'b.nrm')}, 6)
               AS cos_sim
    FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE round({S.cosine_sql('a.embedding', 'b.embedding', 'a.nrm', 'b.nrm')}, 6)
          >= {_NEARDUP_THRESHOLD}
"""


@register("dedup_embedding_cosine", _NEARDUP_ORACLE)
def dedup_embedding_cosine(spark, sf_dir):
    """Embedding-cosine near-dup pairs, blocked by label (the
    partition key stands in for an LSH/IVF blocking key: pairs are
    only scored within a block, never across the full cross product).
    Capped input for the exact baseline.

    r17 (guide §4.2, the range-search precedent): the blocked
    self-join evaluated the interpreted cosine fold TWICE per
    candidate pair (threshold pushed into the join condition +
    projection). The capped relation (≤2000 × 64 — IVF-model scale)
    is collected once as a driver model; an Arrow kernel scores each
    row against it with the identical fold order, masked to
    equal-label, greater-id candidates, prefiltered with a safe
    margin; the exact round(·,6) >= tau gate stays a JVM expression
    so emitted values are bit-identical. 3.0 s -> see plans/r17."""
    v = (
        _vecs(spark, sf_dir)
        .filter(F.col("vec_id") < _NEARDUP_CAP)
        .select("vec_id", "label", "embedding", S.norm(F.col("embedding")).alias("nrm"))
    )
    pairs_udf = make_blocked_pairs_udf(*collect_model(v), _NEARDUP_THRESHOLD)
    return (
        v.select(
            F.col("vec_id").alias("vec_a"),
            F.col("label").alias("label"),
            F.explode(
                pairs_udf(
                    F.col("vec_id"),
                    F.col("label"),
                    F.col("embedding"),
                    F.col("nrm"),
                )
            ).alias("p"),
        )
        .select(
            "vec_a",
            F.col("p.vec_b").alias("vec_b"),
            "label",
            F.round(F.col("p.raw"), 6).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= _NEARDUP_THRESHOLD)
    )


# --- IVF (inverted-file) ANN ----------------------------------------------

_IVF_K_MIN = 16    # quantizer size floor (== round-2's fixed k)
_IVF_K_MAX = 4096  # and ceiling; k = _quant_k(n) in between (≈√n)
_IVF_TRAIN_ITERS = 2  # deterministic Lloyd iterations (VERDICT r1 #4)
_IVF_CPROBE = 4    # coarse cells probed during two-level assignment:
                   # near-isotropic data puts borderline vectors across
                   # cell walls - 1/2/3/4 cells measured 0.64/0.76/0.78/
                   # 0.82 recall at sf0.1 (flat pass: 0.96); 4 holds the
                   # 0.8 floor at (ck + 4k/ck) cost - 40 vs 64 centroid
                   # comparisons at k=64, and the gap widens with k
                   # (320 vs 4096 at k=4096)


def _ivf_train_sql() -> str:
    """CTE chain training the coarse quantizer: seed centroids are the
    first k vectors (k from the params CTE — derived from corpus size,
    VERDICT r2 #2); each Lloyd iteration assigns every SAMPLED vector
    (samp CTE) to its nearest centroid (rank-1 by cosine, cid tiebreak)
    and recomputes centroids as the element-wise mean (rounded 6 dp so
    the Spark twin hash-matches). Produces ``cent2n``."""
    parts = [
        """cent0n AS (
        SELECT vec_id AS cid, embedding AS c_emb, nrm AS c_nrm
        FROM v CROSS JOIN params p WHERE vec_id < p.k
    )"""
    ]
    for i in range(1, _IVF_TRAIN_ITERS + 1):
        prev = f"cent{i - 1}n"
        cos = S.cosine_sql("v.embedding", "c.c_emb", "v.nrm", "c.c_nrm")
        parts.append(
            f"""ranked_t{i} AS (
        SELECT v.vec_id, c.cid,
               row_number() OVER (
                   PARTITION BY v.vec_id ORDER BY {cos} DESC, c.cid
               ) AS rnk
        FROM samp v CROSS JOIN {prev} c
    ),
    assign_t{i} AS (SELECT vec_id, cid FROM ranked_t{i} WHERE rnk = 1),
    means_t{i} AS (
        SELECT a.cid, g.pos AS pos,
               round(avg(CAST(v.embedding[g.pos] AS DOUBLE)), 6) AS m
        FROM assign_t{i} a JOIN samp v ON v.vec_id = a.vec_id,
             unnest(generate_series(1, len(v.embedding))) AS g(pos)
        GROUP BY a.cid, g.pos
    ),
    cent{i} AS (
        SELECT cid, list(m ORDER BY pos) AS c_emb FROM means_t{i} GROUP BY cid
    ),
    cent{i}n AS (
        SELECT cid, c_emb, {S.norm_sql('c_emb')} AS c_nrm FROM cent{i}
    )"""
        )
    return ",\n    ".join(parts)


_IVF_ORACLE = f"""
    WITH v AS (
        SELECT vec_id, embedding, {S.norm_sql('embedding')} AS nrm
        FROM embeddings
    ),
    {_train_params_sql(_IVF_K_MIN, _IVF_K_MAX)},
    {_ivf_train_sql()},
    cent AS (SELECT * FROM cent2n),
    coarse_seed AS (
        SELECT cid AS ccid, c_emb AS g_emb, c_nrm AS g_nrm
        FROM cent CROSS JOIN params p WHERE cid < p.ck
    ),
    cseed_rank AS (
        SELECT c.cid, s.ccid,
               row_number() OVER (
                   PARTITION BY c.cid
                   ORDER BY {S.cosine_sql('c.c_emb', 's.g_emb',
                                          'c.c_nrm', 's.g_nrm')} DESC, s.ccid
               ) AS rnk
        FROM cent c CROSS JOIN coarse_seed s
    ),
    cseed_assign AS (SELECT cid, ccid FROM cseed_rank WHERE rnk = 1),
    cmeans AS (
        SELECT a.ccid, g.pos AS pos,
               round(avg(CAST(c.c_emb[g.pos] AS DOUBLE)), 6) AS m
        FROM cseed_assign a JOIN cent c ON c.cid = a.cid,
             unnest(generate_series(1, len(c.c_emb))) AS g(pos)
        GROUP BY a.ccid, g.pos
    ),
    coarse0 AS (SELECT ccid, list(m ORDER BY pos) AS g_emb FROM cmeans GROUP BY ccid),
    coarse AS (SELECT ccid, g_emb, {S.norm_sql('g_emb')} AS g_nrm FROM coarse0),
    cell_rank AS (
        SELECT c.cid, g.ccid,
               row_number() OVER (
                   PARTITION BY c.cid
                   ORDER BY {S.cosine_sql('c.c_emb', 'g.g_emb',
                                          'c.c_nrm', 'g.g_nrm')} DESC, g.ccid
               ) AS rnk
        FROM cent c CROSS JOIN coarse g
    ),
    cellmap AS (SELECT cid, ccid FROM cell_rank WHERE rnk = 1),
    vcell_rank AS (
        SELECT v.vec_id, g.ccid,
               row_number() OVER (
                   PARTITION BY v.vec_id
                   ORDER BY {S.cosine_sql('v.embedding', 'g.g_emb',
                                          'v.nrm', 'g.g_nrm')} DESC, g.ccid
               ) AS rnk
        FROM v CROSS JOIN coarse g
    ),
    vcell AS (SELECT vec_id, ccid FROM vcell_rank WHERE rnk <= {_IVF_CPROBE}),
    fine_rank AS (
        SELECT v.vec_id, c.cid,
               row_number() OVER (
                   PARTITION BY v.vec_id
                   ORDER BY {S.cosine_sql('v.embedding', 'c.c_emb',
                                          'v.nrm', 'c.c_nrm')} DESC, c.cid
               ) AS rnk
        FROM vcell x
        JOIN v ON v.vec_id = x.vec_id
        JOIN cellmap m ON m.ccid = x.ccid
        JOIN cent c ON c.cid = m.cid
    ),
    assign AS (SELECT vec_id, cid FROM fine_rank WHERE rnk = 1),
    q_rank AS (
        SELECT v.vec_id, cent.cid,
               row_number() OVER (
                   PARTITION BY v.vec_id
                   ORDER BY {S.cosine_sql('v.embedding', 'cent.c_emb',
                                          'v.nrm', 'cent.c_nrm')} DESC, cent.cid
               ) AS rnk
        FROM v CROSS JOIN cent WHERE v.vec_id < {_N_QUERIES}
    ),
    probes AS (
        SELECT vec_id AS query_id, cid FROM q_rank CROSS JOIN params p
        WHERE rnk <= p.nprobe
    ),
    scored AS (
        SELECT p.query_id, a.vec_id AS neighbor_id,
               round({S.cosine_sql('q.embedding', 'c.embedding', 'q.nrm', 'c.nrm')},
                     6) AS cos_sim
        FROM probes p
        JOIN assign a ON a.cid = p.cid AND a.vec_id <> p.query_id
        JOIN v q ON q.vec_id = p.query_id
        JOIN v c ON c.vec_id = a.vec_id
    )
    SELECT query_id, neighbor_id, cos_sim
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id
        ) AS rn
        FROM scored
    ) WHERE rn <= {_TOP_K}
"""


def _ivf_train(v: DataFrame, samp: DataFrame, k: int) -> DataFrame:
    """Spark twin of ``_ivf_train_sql``: seed = first k vectors (k
    derived from corpus size), then _IVF_TRAIN_ITERS deterministic
    Lloyd iterations over the md5-keyed training SAMPLE, all
    join+groupBy (assignment = broadcast O(sample×k) pass, means = one
    shuffle on (cid, pos)) — no driver-side math, oracle-checkable."""
    cent = v.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("c_emb"),
        F.col("nrm").alias("c_nrm"),
    )
    for _ in range(_IVF_TRAIN_ITERS):
        assign = (
            samp.crossJoin(F.broadcast(cent))
            .select(
                "vec_id",
                "cid",
                S.cosine(
                    F.col("embedding"), F.col("c_emb"), F.col("nrm"), F.col("c_nrm")
                ).alias("c_cos"),
            )
            .withColumn(
                "rnk",
                F.row_number().over(
                    Window.partitionBy("vec_id").orderBy(
                        F.desc("c_cos"), F.asc("cid")
                    )
                ),
            )
            .filter(F.col("rnk") == 1)
            .select("vec_id", "cid")
        )
        means = (
            assign.join(samp, "vec_id")
            .select("cid", F.posexplode("embedding").alias("pos", "val"))
            .groupBy("cid", "pos")
            .agg(F.round(F.avg(F.col("val").cast("double")), 6).alias("m"))
        )
        cent = (
            means.groupBy("cid")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s["m"],
                ).alias("c_emb")
            )
            .select("cid", "c_emb", S.norm(F.col("c_emb")).alias("c_nrm"))
        )
    return cent


def _coarse_refine(cent: DataFrame, ck: int) -> DataFrame:
    """Coarse quantizer of ck ≈ √k cells built FROM the fine centroids
    (Spark twin of the oracle's coarse_seed/cseed_*/cmeans/coarse CTEs):
    seed = fine cids < ck, one deterministic refinement iteration
    (assign each fine centroid to its nearest seed, re-mean, round 6 dp
    so both engines agree bit-for-bit)."""
    seed = cent.filter(F.col("cid") < ck).select(
        F.col("cid").alias("ccid"),
        F.col("c_emb").alias("g_emb"),
        F.col("c_nrm").alias("g_nrm"),
    )
    a = (
        cent.crossJoin(F.broadcast(seed))
        .select(
            "cid",
            "ccid",
            S.cosine(
                F.col("c_emb"), F.col("g_emb"), F.col("c_nrm"), F.col("g_nrm")
            ).alias("g_cos"),
        )
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.partitionBy("cid").orderBy(F.desc("g_cos"), F.asc("ccid"))
            ),
        )
        .filter(F.col("rnk") == 1)
        .select("cid", "ccid")
    )
    means = (
        a.join(cent, "cid")
        .select("ccid", F.posexplode("c_emb").alias("pos", "val"))
        .groupBy("ccid", "pos")
        .agg(F.round(F.avg(F.col("val").cast("double")), 6).alias("m"))
    )
    return (
        means.groupBy("ccid")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda s: s["m"],
            ).alias("g_emb")
        )
        .select("ccid", "g_emb", S.norm(F.col("g_emb")).alias("g_nrm"))
    )


def _ivf_model(spark, sf_dir, cent: DataFrame, ck: int) -> tuple:
    """Driver-side quantizer model for the Arrow assignment kernel:
    (coarse ids/vecs/nrms sorted by ccid, fine ids/vecs/nrms sorted by
    cid, fine→cell map aligned to the fine order). ck + 2k rows with
    k ≤ 4096 — the quantizer-codebook pattern (metadata-scale
    collect, same convention as the PQ codebook and semantic seeds; at
    100 TB this is the index-model artifact every IVF system ships to
    workers). The coarse refinement and the fine→cell rank stay
    DataFrame jobs over the persisted k-row centroid relation, so their
    arithmetic is the exact Catalyst chain the oracle mirrors."""

    def build() -> tuple:
        coarse = _coarse_refine(cent, ck)
        cellmap = (
            cent.crossJoin(F.broadcast(coarse))
            .select(
                "cid",
                "ccid",
                S.cosine(
                    F.col("c_emb"), F.col("g_emb"), F.col("c_nrm"), F.col("g_nrm")
                ).alias("g_cos"),
            )
            .withColumn(
                "rnk",
                F.row_number().over(
                    Window.partitionBy("cid").orderBy(
                        F.desc("g_cos"), F.asc("ccid")
                    )
                ),
            )
            .filter(F.col("rnk") == 1)
            .select("cid", "ccid")
        )
        g = collect_model(coarse)
        c = collect_model(cent)
        cm = {r["cid"]: r["ccid"] for r in cellmap.collect()}
        return (*g, *c, [cm[cid] for cid in c[0]])

    return session_memo(spark, "ivf_model", sf_dir, build)


@register("similarity_ivf_topk", _IVF_ORACLE, headline=True)
def similarity_ivf_topk(spark, sf_dir):
    """IVF (inverted-file) approximate top-k: a quantizer of
    k = _quant_k(n) ≈ √n centroids (derived from catalog row-count
    stats, not a count job — VERDICT r2 #2/#7) is trained with
    _IVF_TRAIN_ITERS deterministic Lloyd iterations over an
    md5-sampled ~1024-vector subset, seeded from the first
    k vectors; every vector lands in its nearest centroid's inverted
    list; a query probes its nprobe = max(2, k/8) closest lists only.

    Assignment is TWO-LEVEL (VERDICT r3 #4): vectors pick their
    nearest _IVF_CPROBE of ck ≈ √k coarse cells, then refine among only
    those cells' fine centroids (≈ cprobe·k/ck candidates) —
    O(n·k^0.5) ≈ O(n^1.25) total where the flat pass was O(n^1.5).
    Since r5 both levels execute as ONE Arrow-batched kernel against
    the broadcast driver-side quantizer model (operators/_argmax_udf.py
    make_two_level_nearest_udf — identical fold-order arithmetic and
    tiebreaks, same asymptotic), replacing the two crossJoin→window
    rank shuffles whose interpreted higher-order folds dominated the
    r4 wall time (2.8 s → ~1 s at sf0.1). The oracle runs the
    identical two-level chain, so the inverted lists — and therefore
    the results — still hash-match. Probe selection stays an exact
    rank over all k lists (query rows only)."""
    from .sources.catalog import table_rows

    n = table_rows(sf_dir, "embeddings")
    k = _quant_k(n, _IVF_K_MIN, _IVF_K_MAX)
    ck = _coarse_k(k)
    nprobe = max(2, k // 8)
    v = _vecs(spark, sf_dir).select(
        "vec_id", "embedding", S.norm(F.col("embedding")).alias("nrm")
    )
    # the trained quantizer is a k-row model consumed by BOTH the
    # assignment and probe branches — persist it so the Lloyd chain
    # isn't re-executed per consumer (at scale the index build would
    # write it out once). Session-cached (ADVICE r3): repeated
    # invocations reuse one entry instead of leaking persisted plans.
    cent = session_cached(
        spark, "ivf_centroids", sf_dir,
        lambda: _ivf_train(v, _train_sample(v, n), k),
        # checkpoint, don't persist (r17, the theil precedent): the
        # k-row centroid relation is consumed by the probe branch and
        # the driver-side model collect; with persist each consumer's
        # plan embedded (and re-optimized) the whole two-iteration
        # Lloyd lineage — the executed plan carried ~13 embedding
        # scan nodes. Checkpointed, consumers read a flat k-row RDD.
        checkpoint=True,
    )
    # two-level assignment: one Arrow pass against the broadcast model
    # (coarse pick + within-cell refine; -1 = no candidate, mirroring
    # the SQL chain's inner-join drop)
    nearest = make_two_level_nearest_udf(
        *_ivf_model(spark, sf_dir, cent, ck), _IVF_CPROBE
    )
    assign = v.select(
        "vec_id", nearest(F.col("embedding"), F.col("nrm")).alias("cid")
    ).filter(F.col("cid") >= 0)
    # probes: exact rank over all k lists, query rows only (q×k is tiny)
    probes = (
        v.filter(F.col("vec_id") < _N_QUERIES)
        .crossJoin(F.broadcast(cent))
        .select(
            "vec_id",
            "cid",
            S.cosine(
                F.col("embedding"), F.col("c_emb"), F.col("nrm"), F.col("c_nrm")
            ).alias("c_cos"),
        )
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.partitionBy("vec_id").orderBy(F.desc("c_cos"), F.asc("cid"))
            ),
        )
        .filter(F.col("rnk") <= nprobe)
        .select(F.col("vec_id").alias("query_id"), "cid")
    )
    scored = _cosine_rerank(
        probes.join(
            assign.withColumnRenamed("vec_id", "neighbor_id"), "cid"
        ).filter(F.col("neighbor_id") != F.col("query_id")),
        v,
    )
    return _top_k(scored, "cos_sim")


# --- Product-Quantization (PQ) ANN -----------------------------------------
#
# The third ANN family next to sign-LSH and IVF: each vector is split
# into _PQ_M subvectors; each subspace gets its own small codebook
# (seeded from the first k = _quant_k(n) vectors + one Lloyd iteration
# over the md5 training sample); a vector
# is stored as _PQ_M one-byte codes. Query-time ADC (asymmetric
# distance computation) looks the query-to-centroid distances up per
# subspace and sums them — memory per vector drops from
# dim×4 bytes to _PQ_M bytes, the compression that makes billion-vector
# indexes fit in RAM. Everything is relational: subspaces are ROWS
# (vec_id, s, subvec), so one generic pipeline trains/encodes all
# subspaces at once instead of M plan copies.

_PQ_M = 8          # subspaces
_PQ_DSUB = 8       # dims per subspace (M * DSUB = embedding dim 64)
_PQ_K_MIN = 16     # centroids per subspace: _quant_k(n) ≈ √n clamped —
_PQ_K_MAX = 256    # 256 cap keeps codes one byte (VERDICT r2 #2)
_PQ_SHORTLIST = 100  # ADC shortlist depth for the exact re-rank


def _pq_l2_sql(a: str, b: str) -> str:
    """Squared L2 between two 8-dim lists — explicit (x-y)*(x-y) fold,
    same left-to-right order as the Spark zip_with/aggregate twin."""
    return (
        f"list_sum(list_transform(generate_series(1, len({a})), "
        f"i -> (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)) "
        f"* (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))))"
    )


def _pq_l2(a, b):
    from pyspark.sql import functions as FF

    return FF.aggregate(
        FF.zip_with(
            a, b, lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double"))
        ),
        FF.lit(0.0),
        lambda acc, x: acc + x,
    )


_PQ_ORACLE = f"""
    WITH vn AS (
        SELECT vec_id, embedding, {S.norm_sql('embedding')} AS nrm
        FROM embeddings
    ),
    sub AS (
        SELECT vec_id, g.s AS s,
               list_transform(
                   embedding[g.s * {_PQ_DSUB} + 1 : g.s * {_PQ_DSUB} + {_PQ_DSUB}],
                   x -> CASE WHEN nrm > 0 THEN CAST(x AS DOUBLE) / nrm
                             ELSE 0.0 END) AS sv
        FROM vn, unnest(generate_series(0, {_PQ_M - 1})) AS g(s)
    ),
    {_train_params_sql(_PQ_K_MIN, _PQ_K_MAX, base='sub')},
    cents0 AS (
        SELECT s, vec_id AS cid, sv AS c
        FROM sub CROSS JOIN params p WHERE vec_id < p.k
    ),
    assign0 AS (
        SELECT vec_id, s, cid FROM (
            SELECT sub.vec_id, sub.s, c0.cid,
                   row_number() OVER (
                       PARTITION BY sub.vec_id, sub.s
                       ORDER BY {_pq_l2_sql('sub.sv', 'c0.c')}, c0.cid
                   ) AS rnk
            FROM samp sub JOIN cents0 c0 ON c0.s = sub.s
        ) WHERE rnk = 1
    ),
    means AS (
        SELECT a.s, a.cid, g.pos AS pos,
               round(avg(CAST(sub.sv[g.pos] AS DOUBLE)), 6) AS m
        FROM assign0 a
        JOIN samp sub ON sub.vec_id = a.vec_id AND sub.s = a.s,
             unnest(generate_series(1, {_PQ_DSUB})) AS g(pos)
        GROUP BY a.s, a.cid, g.pos
    ),
    cents1 AS (
        SELECT s, cid, list(m ORDER BY pos) AS c FROM means GROUP BY s, cid
    ),
    encode AS (
        SELECT vec_id, s, cid AS code FROM (
            SELECT sub.vec_id, sub.s, c1.cid,
                   row_number() OVER (
                       PARTITION BY sub.vec_id, sub.s
                       ORDER BY {_pq_l2_sql('sub.sv', 'c1.c')}, c1.cid
                   ) AS rnk
            FROM sub JOIN cents1 c1 ON c1.s = sub.s
        ) WHERE rnk = 1
    ),
    lut AS (
        SELECT q.vec_id AS query_id, q.s, c1.cid,
               {_pq_l2_sql('q.sv', 'c1.c')} AS d
        FROM sub q JOIN cents1 c1 ON c1.s = q.s
        WHERE q.vec_id < {_N_QUERIES}
    ),
    adc AS (
        SELECT l.query_id, e.vec_id AS neighbor_id,
               round(sum(l.d), 6) AS approx_dist
        FROM encode e
        JOIN lut l ON l.s = e.s AND l.cid = e.code
        WHERE e.vec_id <> l.query_id
        GROUP BY l.query_id, e.vec_id
    ),
    shortlist AS (
        SELECT query_id, neighbor_id
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY approx_dist, neighbor_id
            ) AS rn
            FROM adc
        ) WHERE rn <= {_PQ_SHORTLIST}
    ),
    reranked AS (
        SELECT sl.query_id, sl.neighbor_id,
               round({S.cosine_sql('q.embedding', 'c.embedding', 'q.nrm', 'c.nrm')},
                     6) AS cos_sim
        FROM shortlist sl
        JOIN vn q ON q.vec_id = sl.query_id
        JOIN vn c ON c.vec_id = sl.neighbor_id
    )
    SELECT query_id, neighbor_id, cos_sim
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id
        ) AS rn
        FROM reranked
    ) WHERE rn <= {_TOP_K}
"""


@register("similarity_pq_topk", _PQ_ORACLE)
def similarity_pq_topk(spark, sf_dir):
    """Product-Quantization approximate top-k: vectors are
    L2-normalized (unit-vector L2 ≡ cosine ordering), split into 8
    subspaces with per-subspace codebooks (seed + 1 Lloyd iteration),
    stored as 8 one-byte codes; query-time ADC (lookup-and-sum over
    the code table) produces a 100-deep shortlist that exact cosine
    re-ranks — 0.74 recall@5 at sf0.1 touching raw vectors for only
    2 % of the corpus. Subspaces are ROWS, so training/encode is ONE
    join+groupBy pipeline for all 8 codebooks; the compression
    argument is 64 floats → 8 bytes per vector in the scanned index."""
    v = _vecs(spark, sf_dir).select(
        "vec_id", "embedding", S.norm(F.col("embedding")).alias("nrm")
    )
    # L2-normalize before quantization: for unit vectors L2 ordering ==
    # cosine ordering (||a-b||² = 2-2cosθ), so ADC ranks like the
    # cosine-ranked exact baseline (0.20 → 0.74 recall@5 at sf0.1)
    subs = [
        F.struct(
            F.lit(s).alias("s"),
            F.transform(
                F.slice("embedding", s * _PQ_DSUB + 1, _PQ_DSUB),
                lambda x: F.when(
                    F.col("nrm") > 0, x.cast("double") / F.col("nrm")
                ).otherwise(F.lit(0.0)),
            ).alias("sv"),
        )
        for s in range(_PQ_M)
    ]
    sub = v.select(
        "vec_id", F.explode(F.array(*subs)).alias("x")
    ).select("vec_id", F.col("x.s").alias("s"), F.col("x.sv").alias("sv"))

    # codebook size from catalog stats (≈√n, 1-byte-code cap) and an
    # md5-keyed training sample — the PQ analog of the IVF sizing
    from .sources.catalog import table_rows

    n = table_rows(sf_dir, "embeddings")
    k = _quant_k(n, _PQ_K_MIN, _PQ_K_MAX)
    ssub = _train_sample(sub, n)

    cents0 = sub.filter(F.col("vec_id") < k).select(
        "s", F.col("vec_id").alias("cid"), F.col("sv").alias("c")
    )

    def nearest(sub_df, cents_df):
        d = _pq_l2(F.col("sv"), F.col("c"))
        w = Window.partitionBy("vec_id", "s").orderBy(F.asc("d"), F.asc("cid"))
        return (
            sub_df.join(F.broadcast(cents_df), "s")
            .select("vec_id", "s", "cid", d.alias("d"))
            .withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") == 1)
            .select("vec_id", "s", "cid")
        )

    assign0 = nearest(ssub, cents0)
    means = (
        assign0.join(ssub, ["vec_id", "s"])
        .select("s", "cid", F.posexplode("sv").alias("pos0", "val"))
        .groupBy("s", "cid", "pos0")
        .agg(F.round(F.avg(F.col("val").cast("double")), 6).alias("m"))
    )
    # M×k-row codebook, consumed by encode AND the ADC LUT; session-
    # cached (ADVICE r3) so repeated invocations reuse one persisted
    # copy — checkpointed (r17) so consumers don't re-plan the Lloyd
    # lineage (the IVF-centroid precedent)
    cents1 = session_cached(
        spark, "pq_codebook", sf_dir,
        lambda: means.groupBy("s", "cid").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos0", "m"))),
                lambda st: st["m"],
            ).alias("c")
        ),
        checkpoint=True,
    )
    # r17 (guide §4.2, the IVF-assignment precedent): encode ran the
    # interpreted L2 fold per (subvector, centroid) pair and ranked an
    # n·M·k-row relation per invocation (~8M folds at sf0.1, the
    # query's dominant cost). One Arrow pass against the collected
    # M×k codebook (model-scale, the _ivf_model convention) emits the
    # M codes per vector with engineered fold/tiebreak parity — see
    # make_pq_encode_udf.
    cb: dict = {}
    for r in cents1.collect():
        cb.setdefault(int(r["s"]), []).append(
            (int(r["cid"]), [float(x) for x in r["c"]])
        )
    codebook = {
        s: ([cid for cid, _ in sorted(rows_)],
            [vec for _, vec in sorted(rows_)])
        for s, rows_ in cb.items()
    }
    enc_udf = make_pq_encode_udf(codebook, _PQ_M, _PQ_DSUB)
    encode = v.select(
        "vec_id",
        F.posexplode(enc_udf(F.col("embedding"), F.col("nrm"))).alias(
            "s", "code"
        ),
    )

    q_sub = sub.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "s", F.col("sv").alias("qv")
    )
    lut = (
        q_sub.join(F.broadcast(cents1), "s")
        .select(
            "query_id",
            "s",
            "cid",
            _pq_l2(F.col("qv"), F.col("c")).alias("d"),
        )
    )
    adc = (
        encode.join(
            F.broadcast(lut.withColumnRenamed("cid", "code")), ["s", "code"]
        )
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.round(F.sum("d"), 6).alias("approx_dist"))
    )
    w_short = Window.partitionBy("query_id").orderBy(
        F.asc("approx_dist"), F.asc("neighbor_id")
    )
    shortlist = (
        adc.withColumn("rn", F.row_number().over(w_short))
        .filter(F.col("rn") <= _PQ_SHORTLIST)
        .select("query_id", "neighbor_id")
    )
    # exact re-rank of the compressed-domain shortlist: ADC touches only
    # 8-byte codes; raw vectors are read for shortlist rows alone
    return _top_k(_cosine_rerank(shortlist, v), "cos_sim")


# --- mutual k-NN graph (round 2) --------------------------------------------

_KNN_K = 3
_KNN_CAP = 1000  # exact all-pairs baseline bound; LSH/IVF candidates at scale


def _directed_knn(spark, sf_dir):
    """SESSION-PERSISTED directed top-3 cosine kNN edges under
    _KNN_CAP — the ONE edge relation the mutual-graph query and the
    graph-expansion ANN share (r16: factored when the expansion
    landed; the all-pairs scoring is the expensive step and was
    re-running per consumer — the triangle-counts r16 lesson applied
    at registration time). ≤ k·cap rows — bounded, the
    materialized-similarity-graph pattern."""

    def build():
        v = (
            _vecs(spark, sf_dir)
            .filter(F.col("vec_id") < _KNN_CAP)
            .select(
                "vec_id",
                "embedding",
                S.norm(F.col("embedding")).alias("nrm"),
            )
        )
        a = v.select(
            F.col("vec_id").alias("src"),
            F.col("embedding").alias("a_emb"),
            F.col("nrm").alias("a_nrm"),
        )
        b = v.select(
            F.col("vec_id").alias("dst"),
            F.col("embedding").alias("b_emb"),
            F.col("nrm").alias("b_nrm"),
        )
        w = Window.partitionBy("src").orderBy(
            F.desc("cos_sim"), F.asc("dst")
        )
        return (
            a.join(b, F.col("src") != F.col("dst"))
            .select(
                "src",
                "dst",
                F.round(
                    S.cosine(
                        F.col("a_emb"),
                        F.col("b_emb"),
                        F.col("a_nrm"),
                        F.col("b_nrm"),
                    ),
                    6,
                ).alias("cos_sim"),
            )
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= _KNN_K)
            .select("src", "dst", "cos_sim")
        )

    return session_cached(spark, "similarity_directed_knn", sf_dir, build)

_KNN_ORACLE = f"""
    WITH v AS (
        SELECT vec_id, embedding, {S.norm_sql('embedding')} AS nrm
        FROM embeddings WHERE vec_id < {_KNN_CAP}
    ),
    scored AS (
        SELECT a.vec_id AS src, b.vec_id AS dst,
               round({S.cosine_sql('a.embedding', 'b.embedding', 'a.nrm', 'b.nrm')},
                     6) AS cos_sim
        FROM v a JOIN v b ON a.vec_id <> b.vec_id
    ),
    knn AS (
        SELECT src, dst, cos_sim FROM (
            SELECT *, row_number() OVER (
                PARTITION BY src ORDER BY cos_sim DESC, dst
            ) AS rn
            FROM scored
        ) WHERE rn <= {_KNN_K}
    )
    SELECT a.src AS vec_a, a.dst AS vec_b, a.cos_sim
    FROM knn a JOIN knn b ON b.src = a.dst AND b.dst = a.src
    WHERE a.src < a.dst
"""


@register("similarity_knn_graph", _KNN_ORACLE)
def similarity_knn_graph(spark, sf_dir):
    """Mutual k-NN graph construction: each vector's top-3 cosine
    neighbors, kept only where the relation is RECIPROCAL (a ∈ kNN(b)
    and b ∈ kNN(a)) — the graph that density-based clustering and
    manifold methods consume, with mutuality as the standard noise
    filter. Exact all-pairs scoring under a cap as the correctness
    baseline; at scale the scored pairs come from the LSH/IVF/PQ
    candidate generators instead, same downstream mutuality join."""
    knn = _directed_knn(spark, sf_dir)
    rev = knn.select(F.col("src").alias("dst"), F.col("dst").alias("src"))
    return (
        knn.join(rev, ["src", "dst"], "left_semi")
        .filter(F.col("src") < F.col("dst"))
        .select(
            F.col("src").alias("vec_a"),
            F.col("dst").alias("vec_b"),
            "cos_sim",
        )
    )


# --- per-label centroids + dispersion (round 2) -----------------------------

_CENTROID_ORACLE = f"""
    WITH v AS (
        SELECT vec_id, label, embedding, {S.norm_sql('embedding')} AS nrm
        FROM embeddings
    ),
    means AS (
        SELECT label, g.pos AS pos,
               round(avg(CAST(embedding[g.pos] AS DOUBLE)), 6) AS m
        FROM v, unnest(generate_series(1, len(embedding))) AS g(pos)
        GROUP BY label, g.pos
    ),
    cents AS (
        SELECT label, list(m ORDER BY pos) AS c FROM means GROUP BY label
    ),
    centsn AS (SELECT label, c, {S.norm_sql('c')} AS c_nrm FROM cents),
    scored AS (
        SELECT v.label,
               {S.cosine_sql('v.embedding', 'cn.c', 'v.nrm', 'cn.c_nrm')} AS cos
        FROM v JOIN centsn cn ON cn.label = v.label
    )
    SELECT s.label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           round(avg(s.cos), 4) AS mean_cos_to_centroid
    FROM scored s GROUP BY s.label
"""


@register("embedding_label_centroids", _CENTROID_ORACLE)
def embedding_label_centroids(spark, sf_dir):
    """Per-label prototype vectors: element-wise mean embedding per
    label (posexplode → groupBy(label, pos) → re-assemble) plus the
    class dispersion (mean cosine of members to their centroid) — the
    prototype-classifier / outlier-scoring primitive of embedding
    pipelines. Two shuffles: one keyed (label, pos), one (label);
    centroids are label-cardinality-scale and broadcast back."""
    v = _vecs(spark, sf_dir).select(
        "vec_id", "label", "embedding", S.norm(F.col("embedding")).alias("nrm")
    )
    means = (
        v.select("label", F.posexplode("embedding").alias("pos", "val"))
        .groupBy("label", "pos")
        .agg(F.round(F.avg(F.col("val").cast("double")), 6).alias("m"))
    )
    cents = (
        means.groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda s: s["m"],
            ).alias("c")
        )
        .select("label", "c", S.norm(F.col("c")).alias("c_nrm"))
    )
    scored = v.join(F.broadcast(cents), "label").select(
        "label",
        S.cosine(
            F.col("embedding"), F.col("c"), F.col("nrm"), F.col("c_nrm")
        ).alias("cos"),
    )
    return scored.groupBy("label").agg(
        F.count("*").alias("n_vecs"),
        F.round(F.avg("cos"), 4).alias("mean_cos_to_centroid"),
    )


# --- semantic dedup (SemDeDup-style cluster-then-drop) ---------------------
#
# The embedding-space analog of the shingle dedup family: cluster the
# corpus around k md5-sampled seed vectors (k ~ sqrt(n) via the shared
# _quant_k ladder), pick one deterministic representative per cluster
# (min vec_id), and count members whose cosine to the representative
# clears the near-dup bar — the members a SemDeDup pass would drop.
# Assignment is the same broadcast O(n x k) argmax as IVF; the
# member-vs-representative comparison is ONE cosine per row (reps are
# k rows, broadcast) — never within-cluster pairwise.

_SEM_THRESHOLD = 0.3  # same near-dup bar as dedup_embedding_cosine
_SEM_KMIN, _SEM_KMAX = 16, 256

# CTE prefix shared by the per-cluster aggregate oracle and the
# per-vector keep/drop manifest oracle — ONE definition of the seeded
# assignment so the two can never drift.
_SEM_SCORED_CTES = f"""v AS (
        SELECT vec_id, embedding, {S.norm_sql('embedding')} AS nrm
        FROM embeddings
    ),
    p0 AS (SELECT count(*) AS n FROM v),
    params AS (
        SELECT n, {_quant_k_sql('n', _SEM_KMIN, _SEM_KMAX)} AS k FROM p0
    ),
    rs AS (
        SELECT vec_id AS seed_id, embedding AS s_emb, nrm AS s_nrm,
               row_number() OVER (
                   ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
               ) AS rk
        FROM v
    ),
    seeds AS (SELECT seed_id, s_emb, s_nrm FROM rs, params WHERE rk <= k),
    assign AS (
        SELECT vec_id, seed_id AS cluster_id FROM (
            SELECT v.vec_id, s.seed_id,
                   row_number() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY round({S.cosine_sql('v.embedding', 's.s_emb',
                                                    'v.nrm', 's.s_nrm')}, 6)
                                DESC, s.seed_id
                   ) AS rn
            FROM v CROSS JOIN seeds s
        ) WHERE rn = 1
    ),
    reps AS (
        SELECT cluster_id, min(vec_id) AS rep_vec_id
        FROM assign GROUP BY cluster_id
    ),
    scored AS (
        SELECT a.cluster_id, a.vec_id, r.rep_vec_id,
               round({S.cosine_sql('m.embedding', 'q.embedding',
                                   'm.nrm', 'q.nrm')}, 6) AS cos_rep
        FROM assign a
        JOIN reps r ON r.cluster_id = a.cluster_id
        JOIN v m ON m.vec_id = a.vec_id
        JOIN v q ON q.vec_id = r.rep_vec_id
    )
    SELECT 1
"""
_SEM_SCORED_CTES = _SEM_SCORED_CTES[: _SEM_SCORED_CTES.rindex(")") + 1]

_SEM_ORACLE = f"""
    WITH {_SEM_SCORED_CTES}
    SELECT cluster_id,
           CAST(count(*) AS BIGINT) AS n_members,
           min(rep_vec_id) AS rep_vec_id,
           CAST(sum(CASE WHEN vec_id <> rep_vec_id
                          AND cos_rep >= {_SEM_THRESHOLD}
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_semantic_dups
    FROM scored
    GROUP BY cluster_id
    ORDER BY cluster_id
"""


def _semantic_seed_rows(spark, sf_dir, v, k):
    """The k ~ √n md5-sampled seed vectors as driver-side columns
    [seed_ids, embeddings, nrms], sorted ascending by seed_id so the
    argmax kernel's first-max tiebreak matches ``ORDER BY cos DESC,
    seed_id``. k ≤ 256 rows — collected once per (session, sf_dir),
    the quantizer-codebook pattern."""
    return session_memo(
        spark,
        "semantic_seeds",
        sf_dir,
        lambda: collect_model(
            v.select(
                F.col("vec_id").alias("seed_id"),
                "embedding",
                "nrm",
                F.expr("md5(CAST(vec_id AS STRING))").alias("h"),
            )
            .orderBy("h", "seed_id")
            .limit(k)
            .drop("h")
        ),
    )


def _semantic_scored(spark, sf_dir):
    """(cluster_id, vec_id, rep_vec_id, cos_rep) — the seeded
    assignment + representative scoring shared by the per-cluster
    aggregate and the per-vector manifest (one definition, like
    _SEM_SCORED_CTES on the oracle side)."""
    from .sources.catalog import table_rows

    v = _vecs(spark, sf_dir).select(
        "vec_id", "embedding", S.norm(F.col("embedding")).alias("nrm")
    )
    n = table_rows(sf_dir, "embeddings")
    k = _quant_k(n, _SEM_KMIN, _SEM_KMAX)
    # Assignment kernel: the flat argmax over all k seeds is EXACT (the
    # SemDeDup semantics and the oracle are unchanged); what changed in
    # r4 is only its execution — an Arrow-batched argmax UDF doing the
    # identical fold-order arithmetic replaces the O(n×k)-row
    # crossJoin→window plan, which interpreted one higher-order-fold
    # cosine per (vector, seed) pair and dominated the growth harness
    # (18 s at the 8× replica; the kernel is ~10× cheaper). Seeds are
    # k ≤ 256 rows — collected once per (session, sf_dir) and shipped
    # in the UDF closure, the same broadcast-scale envelope as the
    # IVF/PQ codebooks.
    nearest = make_nearest_seed_udf(*_semantic_seed_rows(spark, sf_dir, v, k))
    assign = v.select(
        "vec_id", nearest(F.col("embedding"), F.col("nrm")).alias("cluster_id")
    )
    reps = assign.groupBy("cluster_id").agg(
        F.min("vec_id").alias("rep_vec_id")
    )
    m = v.select("vec_id", "embedding", "nrm")
    q = v.select(
        F.col("vec_id").alias("rep_vec_id"),
        F.col("embedding").alias("r_emb"),
        F.col("nrm").alias("r_nrm"),
    )
    scored = (
        assign.join(reps, "cluster_id")
        .join(m, "vec_id")
        .join(F.broadcast(q), "rep_vec_id")
        .select(
            "cluster_id",
            "vec_id",
            "rep_vec_id",
            F.round(
                S.cosine(
                    F.col("embedding"),
                    F.col("r_emb"),
                    F.col("nrm"),
                    F.col("r_nrm"),
                ),
                6,
            ).alias("cos_rep"),
        )
    )
    return scored


@register("dedup_semantic_clusters", _SEM_ORACLE)
def dedup_semantic_clusters(spark, sf_dir):
    """SemDeDup-style semantic dedup: md5-seeded clustering (k from
    the shared ~sqrt(n) ladder), deterministic representative per
    cluster, and the count of members a near-dup drop pass would
    remove (cosine to representative >= the shared near-dup bar).

    Scale: seeds and representatives are k ~ sqrt(n) rows (broadcast);
    assignment is an exact O(n x k) argmax against the broadcast seed
    matrix, executed as one Arrow-batched kernel (fold-order
    arithmetic — see operators/_argmax_udf.py) instead of an n x k-row
    crossJoin; the drop
    test is one cosine per member against its cluster representative —
    no within-cluster pairwise blowup, so the plan survives 100x."""
    scored = _semantic_scored(spark, sf_dir)
    return (
        scored.groupBy("cluster_id")
        .agg(
            F.count("*").cast("bigint").alias("n_members"),
            F.min("rep_vec_id").alias("rep_vec_id"),
            F.sum(
                F.when(
                    (F.col("vec_id") != F.col("rep_vec_id"))
                    & (F.col("cos_rep") >= _SEM_THRESHOLD),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_semantic_dups"),
        )
        .orderBy("cluster_id")
    )


_SEM_MANIFEST_ORACLE = f"""
    WITH {_SEM_SCORED_CTES}
    SELECT vec_id, cluster_id, rep_vec_id, cos_rep,
           (vec_id <> rep_vec_id AND cos_rep >= {_SEM_THRESHOLD})
               AS drop_flag
    FROM scored
"""


@register("dedup_semantic_keep_manifest", _SEM_MANIFEST_ORACLE)
def dedup_semantic_keep_manifest(spark, sf_dir):
    """Cluster-level dedup MANIFEST: the per-vector keep/drop decision
    SemDeDup feeds back into the corpus — each vector's cluster, its
    cluster representative (the kept item), the cosine to it, and the
    drop flag (non-representative members above the similarity bar).
    dedup_semantic_clusters reports the per-cluster totals; this is
    the row-level artifact a pipeline joins against the corpus to
    materialize the kept dataset.

    Scale: identical plan prefix to the aggregate query (shared
    _semantic_scored — Arrow argmax assignment against k ~ sqrt(n)
    broadcast seeds, one cosine per member), minus the final groupBy:
    the manifest IS the scored relation, emitted at corpus
    cardinality with no extra shuffle."""
    scored = _semantic_scored(spark, sf_dir)
    return scored.select(
        "vec_id",
        "cluster_id",
        "rep_vec_id",
        "cos_rep",
        (
            (F.col("vec_id") != F.col("rep_vec_id"))
            & (F.col("cos_rep") >= _SEM_THRESHOLD)
        ).alias("drop_flag"),
    )


# --- embedding-space eval-set decontamination (round 5) ---------------------

_DECON_EMB_THRESHOLD = _SEM_THRESHOLD  # the shared semantic near-dup bar

_DECON_EMB_ORACLE = f"""
    WITH v AS (
        SELECT vec_id, embedding, {S.norm_sql('embedding')} AS nrm
        FROM embeddings
    ),
    q AS (SELECT * FROM v WHERE vec_id < {_N_QUERIES})
    SELECT q.vec_id AS eval_id, c.vec_id AS train_id,
           round({S.cosine_sql('q.embedding', 'c.embedding', 'q.nrm', 'c.nrm')},
                 6) AS cos_sim
    FROM q JOIN v c ON c.vec_id >= {_N_QUERIES}
    WHERE {S.cosine_sql('q.embedding', 'c.embedding', 'q.nrm', 'c.nrm')}
          >= {_DECON_EMB_THRESHOLD}
"""


@register("corpus_embedding_decontaminate", _DECON_EMB_ORACLE, headline=True)
def corpus_embedding_decontaminate(spark, sf_dir):
    """Embedding-space eval-set decontamination: every (eval, train)
    pair whose cosine reaches the shared semantic near-dup bar — the
    SEMANTIC twin of corpus_decontamination's n-gram overlap (catches
    paraphrased leakage that exact n-grams miss; the held-out docs here
    are vec_id < 10 by the engine's query-set convention).

    Scale: the eval side is the small one by construction (thousands of
    eval docs vs billions of train docs), so the right 100 TB plan is a
    BROADCAST of the eval vectors and ONE pass over the train corpus —
    no LSH index needed when one side fits in memory; work is
    O(n·|eval|) with per-vector norms precomputed, and the threshold
    filter happens before any shuffle (output is only the flagged
    pairs)."""
    v = _vecs(spark, sf_dir).select(
        "vec_id", "embedding", S.norm(F.col("embedding")).alias("nrm")
    )
    q = v.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("eval_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    cos = S.cosine(
        F.col("q_emb"), F.col("embedding"), F.col("q_nrm"), F.col("nrm")
    )
    return (
        v.filter(F.col("vec_id") >= _N_QUERIES)
        .crossJoin(F.broadcast(q))
        .filter(cos >= _DECON_EMB_THRESHOLD)
        .select(
            "eval_id",
            F.col("vec_id").alias("train_id"),
            F.round(cos, 6).alias("cos_sim"),
        )
    )


# --- embedding-space health audit (round 6) ---------------------------------

_DIM_VAR_TOPK = 10

_DIM_VAR_ORACLE = f"""
    WITH e AS (
        SELECT vec_id,
               CAST(unnest(embedding) AS DOUBLE) AS x,
               generate_subscripts(embedding, 1) AS dim
        FROM embeddings
    ),
    agg AS (
        SELECT dim,
               CAST(count(*) AS BIGINT) AS n_vectors,
               round(avg(x), 6) AS mean_val,
               round(var_pop(x), 6) AS var_val
        FROM e GROUP BY dim
    )
    SELECT CAST(dim AS INT) AS dim, n_vectors, mean_val, var_val
    FROM agg
    ORDER BY var_val DESC, dim ASC
    LIMIT {_DIM_VAR_TOPK}
"""


@register("embedding_dim_variance", _DIM_VAR_ORACLE)
def embedding_dim_variance(spark, sf_dir):
    """Embedding-space health audit: per-dimension mean and population
    variance, top-10 dimensions by variance — the check that catches
    dead dimensions (variance ~0 → the encoder collapsed them) and
    un-centered batches (|mean| >> 0) before ANN indexes are built
    over a degenerate space.

    Scale: posexplode is n x d rows but the aggregation is d groups
    with map-side partial aggregation, so the shuffle carries only
    d x partitions partial states — no driver collect, no pivot. The
    ordering ties on the ROUNDED variance with the dimension index as
    tiebreak, so both engines rank identically."""
    from .sources.catalog import load_table

    e = load_table(spark, sf_dir, "embeddings").select(
        F.posexplode("embedding").alias("pos", "x")
    )
    agg = e.groupBy((F.col("pos") + 1).cast("int").alias("dim")).agg(
        F.count("*").cast("bigint").alias("n_vectors"),
        F.round(F.avg(F.col("x").cast("double")), 6).alias("mean_val"),
        F.round(F.var_pop(F.col("x").cast("double")), 6).alias("var_val"),
    )
    return agg.orderBy(F.desc("var_val"), F.asc("dim")).limit(_DIM_VAR_TOPK)


# --- matryoshka truncation recall audit (round 7) ---------------------------

_MATRYOSHKA_DIM = 16  # leading prefix of the 64-dim embeddings

_MATRYOSHKA_ORACLE = f"""
    WITH v AS (
        SELECT vec_id, embedding,
               {S.norm_sql('embedding')} AS nrm,
               embedding[1:{_MATRYOSHKA_DIM}] AS emb_t,
               {S.norm_sql(f'embedding[1:{_MATRYOSHKA_DIM}]')} AS nrm_t
        FROM embeddings
    ),
    q AS (SELECT * FROM v WHERE vec_id < {_N_QUERIES}),
    c AS (SELECT * FROM v WHERE vec_id >= {_N_QUERIES}),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               round({S.cosine_sql('q.embedding', 'c.embedding', 'q.nrm', 'c.nrm')},
                     6) AS cos_full,
               round({S.cosine_sql('q.emb_t', 'c.emb_t', 'q.nrm_t', 'c.nrm_t')},
                     6) AS cos_trunc
        FROM q JOIN c ON true
    ),
    rf AS (
        SELECT query_id, neighbor_id, cos_full, row_number() OVER (
            PARTITION BY query_id ORDER BY cos_full DESC, neighbor_id
        ) AS rn FROM scored
    ),
    rt AS (
        SELECT query_id, neighbor_id, cos_trunc, row_number() OVER (
            PARTITION BY query_id ORDER BY cos_trunc DESC, neighbor_id
        ) AS rn FROM scored
    )
    SELECT f.query_id,
           f.neighbor_id AS top1_full, f.cos_full,
           t.neighbor_id AS top1_trunc, t.cos_trunc,
           f.neighbor_id = t.neighbor_id AS agree
    FROM rf f JOIN rt t ON t.query_id = f.query_id AND t.rn = 1
    WHERE f.rn = 1
"""


@register("embedding_matryoshka_recall", _MATRYOSHKA_ORACLE)
def embedding_matryoshka_recall(spark, sf_dir):
    """Matryoshka truncation audit: for each query vector, the exact
    top-1 cosine neighbor using the FULL 64-dim embedding next to the
    top-1 using only the leading 16-dim prefix (re-normalized) — the
    agreement rate is the retrieval-quality price of storing/searching
    truncated MRL embeddings, measured before committing a corpus to
    the cheaper index (4x memory/compute saving when agree≈1).

    Scale: the query side is tiny and broadcast; one corpus pass
    scores BOTH representations (the truncated dot is a prefix of the
    full fold, so the scan cost is shared), then two per-query top-1
    window ranks over the scored relation. Ties break on neighbor_id
    after 6-dp rounding in both engines."""
    v = _vecs(spark, sf_dir).select(
        "vec_id",
        "embedding",
        S.norm(F.col("embedding")).alias("nrm"),
        F.slice("embedding", 1, _MATRYOSHKA_DIM).alias("emb_t"),
        S.norm(F.slice("embedding", 1, _MATRYOSHKA_DIM)).alias("nrm_t"),
    )
    q = v.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
        F.col("emb_t").alias("q_emb_t"),
        F.col("nrm_t").alias("q_nrm_t"),
    )
    c = v.filter(F.col("vec_id") >= _N_QUERIES).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        F.col("nrm").alias("c_nrm"),
        F.col("emb_t").alias("c_emb_t"),
        F.col("nrm_t").alias("c_nrm_t"),
    )
    scored = c.crossJoin(F.broadcast(q)).select(
        "query_id",
        "neighbor_id",
        F.round(
            S.cosine(
                F.col("q_emb"), F.col("c_emb"), F.col("q_nrm"), F.col("c_nrm")
            ),
            6,
        ).alias("cos_full"),
        F.round(
            S.cosine(
                F.col("q_emb_t"),
                F.col("c_emb_t"),
                F.col("q_nrm_t"),
                F.col("c_nrm_t"),
            ),
            6,
        ).alias("cos_trunc"),
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.desc("cos_full"), F.asc("neighbor_id")
    )
    wt = Window.partitionBy("query_id").orderBy(
        F.desc("cos_trunc"), F.asc("neighbor_id")
    )
    rf = (
        scored.withColumn("rn", F.row_number().over(wf))
        .where(F.col("rn") == 1)
        .select("query_id", F.col("neighbor_id").alias("top1_full"), "cos_full")
    )
    rt = (
        scored.withColumn("rn", F.row_number().over(wt))
        .where(F.col("rn") == 1)
        .select(
            F.col("query_id").alias("qid2"),
            F.col("neighbor_id").alias("top1_trunc"),
            "cos_trunc",
        )
    )
    return rf.join(rt, F.col("query_id") == F.col("qid2")).select(
        "query_id",
        "top1_full",
        "cos_full",
        "top1_trunc",
        "cos_trunc",
        (F.col("top1_full") == F.col("top1_trunc")).alias("agree"),
    )


# --- covariance / whitening statistics (round 7, second batch) --------------

_EMB_DIM = 64  # matches the testdata embedding width (see _MATRYOSHKA note)

_WHITEN_ORACLE = f"""
    WITH pa AS (
        SELECT CAST(t1.i AS INT) AS dim_i, CAST(t2.j AS INT) AS dim_j,
               CAST(count(*) AS BIGINT) AS n_vectors,
               CAST(sum(CAST(round(CAST(e.embedding[CAST(t1.i AS INT)] AS DOUBLE)
                                   * CAST(e.embedding[CAST(t2.j AS INT)] AS DOUBLE)
                                   * 1000000.0, 0) AS BIGINT)) AS BIGINT) AS sxy
        FROM embeddings e,
             range(1, {_EMB_DIM + 1}) t1(i),
             range(1, {_EMB_DIM + 1}) t2(j)
        WHERE t2.j >= t1.i
        GROUP BY 1, 2
    ),
    dims AS (
        SELECT CAST(t.i AS INT) AS dim,
               CAST(sum(CAST(round(CAST(e.embedding[CAST(t.i AS INT)] AS DOUBLE)
                                   * 1000000.0, 0) AS BIGINT)) AS BIGINT) AS sx,
               CAST(sum(CAST(round(CAST(e.embedding[CAST(t.i AS INT)] AS DOUBLE)
                                   * CAST(e.embedding[CAST(t.i AS INT)] AS DOUBLE)
                                   * 1000000.0, 0) AS BIGINT)) AS BIGINT) AS sxx
        FROM embeddings e, range(1, {_EMB_DIM + 1}) t(i)
        GROUP BY 1
    ),
    c AS (
        SELECT pa.dim_i, pa.dim_j, pa.n_vectors,
               (pa.sxy / 1e6) / pa.n_vectors
                 - ((di.sx / 1e6) / pa.n_vectors)
                   * ((dj.sx / 1e6) / pa.n_vectors) AS cov,
               (di.sxx / 1e6) / pa.n_vectors
                 - ((di.sx / 1e6) / pa.n_vectors)
                   * ((di.sx / 1e6) / pa.n_vectors) AS var_i,
               (dj.sxx / 1e6) / pa.n_vectors
                 - ((dj.sx / 1e6) / pa.n_vectors)
                   * ((dj.sx / 1e6) / pa.n_vectors) AS var_j
        FROM pa
        JOIN dims di ON di.dim = pa.dim_i
        JOIN dims dj ON dj.dim = pa.dim_j
    )
    SELECT dim_i, dim_j, n_vectors,
           round(cov, 6) + 0.0 AS cov,
           round(CASE WHEN var_i * var_j > 0
                      THEN cov / sqrt(var_i * var_j) ELSE 0.0 END, 4) + 0.0 AS corr
    FROM c
"""
# The ``+ 0.0`` on cov/corr normalizes IEEE negative zero: DuckDB's C
# ``round`` of a tiny negative covariance returns -0.0, while Spark's
# F.round (BigDecimal HALF_UP) can never emit it, and the driver's
# value hash distinguishes the two (r8 verdict: 4 cells at sf0.01).
# ``-0.0 + 0.0 = +0.0`` exactly; every nonzero value is unchanged.


_GRAM_CHUNK = 256  # rows per numpy outer-product block (bounds the
# float64 (chunk, d, d) intermediate to ~8 MiB at d=64)

_GRAM_SCHEMA = (
    "dim_i int, dim_j int, cnt long, sxy long, "
    "sx_i long, sx_j long, sxx_i long, sxx_j long"
)


def _half_away_i64(p):
    """round-half-away-from-zero of a float64 ndarray, as int64.

    Matches BOTH engines' rounding of the identical IEEE value: Spark's
    ``F.round(_, 0)`` (BigDecimal HALF_UP of the double's shortest
    decimal form) and DuckDB's ``round(_, 0)`` (C ``round``, half away
    from zero). Implemented with an EXACT fractional-part comparison
    (``a - floor(a)`` is exact for |a| < 2**53) rather than
    ``floor(a + 0.5)``, whose addition can carry across a ulp boundary
    and round 0.49999999999999994 up — a divergence the engines'
    native roundings don't have."""
    import numpy as np

    a = np.abs(p)
    f = np.floor(a)
    return np.copysign(f + (a - f >= 0.5), p).astype(np.int64)


def _stack_embeddings(pdf):
    """float64 row-stack of an Arrow batch's embedding column — the
    ONE stacking/widening step both Arrow kernels (_gram_partials,
    _aniso_partials) share, so the float32→float64 widening contract
    can never diverge between them (r16 review)."""
    import numpy as np

    return np.asarray(
        [np.asarray(e, dtype=np.float64) for e in pdf["embedding"]]
    )


def _gram_partials(batches):
    """Arrow-batched partial Gramian: per batch, ONE (d, d) int64
    accumulation of the micro-unit products round(x_i*x_j*1e6) plus the
    per-dim sums round(x*1e6) / round(x*x*1e6), emitted as d(d+1)/2
    upper-triangle rows carrying every partial the final cov/corr
    arithmetic needs. Partial sums are exact int64 — associative and
    partition/batch-order-proof, so the downstream groupBy merge is
    bit-identical under any input split."""
    import numpy as np
    import pandas as pd

    for pdf in batches:
        n = len(pdf)
        if n == 0:
            continue
        X = _stack_embeddings(pdf)
        d = X.shape[1]
        gram = np.zeros((d, d), dtype=np.int64)
        sxv = np.zeros(d, dtype=np.int64)
        for lo in range(0, n, _GRAM_CHUNK):
            c = X[lo : lo + _GRAM_CHUNK]
            gram += _half_away_i64(
                c[:, :, None] * c[:, None, :] * 1e6
            ).sum(axis=0)
            sxv += _half_away_i64(c * 1e6).sum(axis=0)
        iu, ju = np.triu_indices(d)
        diag = np.diagonal(gram).copy()
        yield pd.DataFrame(
            {
                "dim_i": (iu + 1).astype("int32"),
                "dim_j": (ju + 1).astype("int32"),
                "cnt": np.full(len(iu), n, dtype=np.int64),
                "sxy": gram[iu, ju],
                "sx_i": sxv[iu],
                "sx_j": sxv[ju],
                "sxx_i": diag[iu],
                "sxx_j": diag[ju],
            }
        )


@register("embedding_covariance_whitening", _WHITEN_ORACLE, headline=True)
def embedding_covariance_whitening(spark, sf_dir):
    """Whitening/PCA-lite statistics: the upper triangle of the
    population covariance matrix of the embedding space (plus the
    correlation), the input to ZCA/PCA whitening and to the
    off-diagonal-energy health check (strong correlations ⇒ the
    encoder wastes capacity; whitening decorrelates before
    quantization or linear probes). The d×d eigendecomposition itself
    is a driver-side numpy step on this 64×64 output (metadata-scale;
    exercised in tests/test_r7_batch2.py) — the distributed part, and
    the only part that touches the corpus, is this aggregation.

    Determinism + scale (r8 kernel rewrite, VERDICT r7 #2): the former
    plan exploded d(d+1)/2 = 2080 structs PER ROW (n×2080 rows into
    the hash aggregate — the suite's worst constant factor). The
    Arrow-batched ``_gram_partials`` kernel now folds each Arrow batch
    into one (d, d) numpy int64 Gramian of the SAME integer micro-units
    (round(x·y·10⁶) — ``_half_away_i64`` reproduces both engines'
    half-away rounding exactly) and emits only 2080 partial rows per
    BATCH (~row-traffic ÷ batch_size). Each partial row carries sxy,
    sx_i/sx_j, sxx_i/sxx_j and the batch count, so one groupBy merge
    yields everything the cov/corr arithmetic needs: one scan, one
    narrow Python stage, one metadata-scale shuffle (2080 keys), zero
    joins. int64 partials are exact and associative, so results are
    bit-identical under any partitioning, and the final 4-6 dp rounding
    has no boundary channel."""
    v = _vecs(spark, sf_dir).select("embedding")
    tot = (
        v.mapInPandas(_gram_partials, schema=_GRAM_SCHEMA)
        .groupBy("dim_i", "dim_j")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_vectors"),
            F.sum("sxy").cast("bigint").alias("sxy"),
            F.sum("sx_i").cast("bigint").alias("sx_i"),
            F.sum("sx_j").cast("bigint").alias("sx_j"),
            F.sum("sxx_i").cast("bigint").alias("sxx_i"),
            F.sum("sxx_j").cast("bigint").alias("sxx_j"),
        )
    )
    n = F.col("n_vectors").cast("double")

    def _mean(c):
        return (F.col(c).cast("double") / 1e6) / n

    cov = (F.col("sxy").cast("double") / 1e6) / n - _mean("sx_i") * _mean(
        "sx_j"
    )
    var_i = (F.col("sxx_i").cast("double") / 1e6) / n - _mean(
        "sx_i"
    ) * _mean("sx_i")
    var_j = (F.col("sxx_j").cast("double") / 1e6) / n - _mean(
        "sx_j"
    ) * _mean("sx_j")
    return tot.select(
        "dim_i",
        "dim_j",
        "n_vectors",
        F.round(cov, 6).alias("cov"),
        F.round(
            F.when(var_i * var_j > 0, cov / F.sqrt(var_i * var_j))
            .otherwise(F.lit(0.0)),
            4,
        ).alias("corr"),
    )


# --- embedding effective dimensionality (round 15) ----------------------------
#
# The participation ratio PR = tr(C)² / tr(C²) = (Σλ)² / Σλ² of the
# covariance spectrum — "how many dimensions does the embedding cloud
# actually use" — WITHOUT any eigendecomposition: tr(C) is the sum of
# variances and tr(C²) = ‖C‖²_F is the (weighted) sum of squared
# covariances, both linear in the same exact int64 Gramian partials
# the whitening query merges (one scan, 2080 partial keys). PR = d
# for isotropic clouds, → 1 as one direction dominates; the number a
# PQ/IVF/whitening configuration should be tuned against. Each
# pair's cov is the whitening query's fixed double expression over
# exact BIGINT sums; the trace terms are micro-quantized and the
# squared terms pico-quantized (cov² ~ 1e-4-scale — micro would
# truncate; the Hoover pico precedent) BEFORE the final sums, so the
# two reductions are exact integer adds — order-proof under any
# partitioning — and PR is one guarded division of two BIGINTs.

_EFFDIM_ORACLE = f"""
    WITH pa AS (
        SELECT CAST(t1.i AS INT) AS dim_i, CAST(t2.j AS INT) AS dim_j,
               CAST(count(*) AS BIGINT) AS n_vectors,
               CAST(sum(CAST(round(CAST(e.embedding[CAST(t1.i AS INT)] AS DOUBLE)
                                   * CAST(e.embedding[CAST(t2.j AS INT)] AS DOUBLE)
                                   * 1000000.0, 0) AS BIGINT)) AS BIGINT) AS sxy
        FROM embeddings e,
             range(1, {_EMB_DIM + 1}) t1(i),
             range(1, {_EMB_DIM + 1}) t2(j)
        WHERE t2.j >= t1.i
        GROUP BY 1, 2
    ),
    dims AS (
        SELECT CAST(t.i AS INT) AS dim,
               CAST(sum(CAST(round(CAST(e.embedding[CAST(t.i AS INT)] AS DOUBLE)
                                   * 1000000.0, 0) AS BIGINT)) AS BIGINT) AS sx
        FROM embeddings e, range(1, {_EMB_DIM + 1}) t(i)
        GROUP BY 1
    ),
    c AS (
        SELECT pa.dim_i, pa.dim_j, pa.n_vectors,
               (pa.sxy / 1e6) / pa.n_vectors
                 - ((di.sx / 1e6) / pa.n_vectors)
                   * ((dj.sx / 1e6) / pa.n_vectors) AS cov
        FROM pa
        JOIN dims di ON di.dim = pa.dim_i
        JOIN dims dj ON dj.dim = pa.dim_j
    ),
    q AS (
        SELECT n_vectors,
               CASE WHEN dim_i = dim_j THEN
                   CAST(floor(cov * 1000000e0 + 0.5e0) AS BIGINT)
               ELSE 0 END AS tr_micro,
               (CASE WHEN dim_i = dim_j THEN 1 ELSE 2 END)
                 * CAST(floor(cov * cov * 1000000000000e0 + 0.5e0)
                        AS BIGINT) AS fr_pico
        FROM c
    ),
    s AS (
        SELECT CAST(max(n_vectors) AS BIGINT) AS n_vectors,
               CAST(sum(tr_micro) AS BIGINT) AS tr,
               CAST(sum(fr_pico) AS BIGINT) AS fr
        FROM q
    )
    SELECT n_vectors,
           CAST({_EMB_DIM} AS BIGINT) AS n_dims,
           round(tr / 1000000e0, 6) AS trace_var,
           round(fr / 1000000000000e0, 6) AS frob_norm_sq,
           CASE WHEN fr > 0 THEN
               round(CAST(floor(CAST(tr AS DOUBLE) * tr / fr
                                * 1000000e0 + 0.5e0) AS BIGINT)
                     / 1000000e0, 6)
           END AS effective_dim,
           CASE WHEN fr > 0 THEN
               round(CAST(floor(CAST(tr AS DOUBLE) * tr / fr / {_EMB_DIM}
                                * 1000000e0 + 0.5e0) AS BIGINT)
                     / 1000000e0, 6)
           END AS effective_dim_ratio
    FROM s
"""


@register("embedding_effective_dim", _EFFDIM_ORACLE, headline=True)
def embedding_effective_dim(spark, sf_dir):
    """Participation-ratio effective dimensionality of the embedding
    covariance — (Σλ)²/Σλ² via the trace identities, no
    eigendecomposition (see the section comment for the pico/micro
    quantization split and the exact-integer reductions).

    Scale: identical to the whitening kernel — one Arrow-batched scan
    folding exact int64 Gramian partials, one 2080-key metadata-scale
    merge; the trace/Frobenius reduction is a second metadata-scale
    aggregate over those 2080 rows. Nothing here grows with the
    corpus except the linear scan."""
    v = _vecs(spark, sf_dir).select("embedding")
    tot = (
        v.mapInPandas(_gram_partials, schema=_GRAM_SCHEMA)
        .groupBy("dim_i", "dim_j")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_vectors"),
            F.sum("sxy").cast("bigint").alias("sxy"),
            F.sum("sx_i").cast("bigint").alias("sx_i"),
            F.sum("sx_j").cast("bigint").alias("sx_j"),
        )
    )
    n = F.col("n_vectors").cast("double")

    def _mean(c):
        return (F.col(c).cast("double") / 1e6) / n

    cov = (F.col("sxy").cast("double") / 1e6) / n - _mean("sx_i") * _mean(
        "sx_j"
    )
    # intermediate cov column so the quantized expressions stay
    # readable SQL (one definition of cov above)
    q = (
        tot.withColumn("cov_d", cov)
        .select(
            "n_vectors",
            F.expr(
                f"CASE WHEN dim_i = dim_j THEN {micro_units_sql('cov_d')} ELSE 0 END"
            ).alias("tr_micro"),
            F.expr(
                "(CASE WHEN dim_i = dim_j THEN 1 ELSE 2 END)"
                " * CAST(floor(cov_d * cov_d * 1000000000000e0 + 0.5e0)"
                " AS BIGINT)"
            ).alias("fr_pico"),
        )
    )
    s = q.agg(
        F.max("n_vectors").cast("bigint").alias("n_vectors"),
        F.sum("tr_micro").cast("bigint").alias("tr"),
        F.sum("fr_pico").cast("bigint").alias("fr"),
    )
    return s.select(
        "n_vectors",
        F.lit(_EMB_DIM).cast("bigint").alias("n_dims"),
        F.expr("round(tr / 1000000e0, 6)").alias("trace_var"),
        F.expr("round(fr / 1000000000000e0, 6)").alias("frob_norm_sq"),
        F.expr(
            f"CASE WHEN fr > 0 THEN {micro6_sql('CAST(tr AS DOUBLE) * tr / fr')} END"
        ).alias("effective_dim"),
        F.expr(
            "CASE WHEN fr > 0 THEN "
            + micro6_sql(f"CAST(tr AS DOUBLE) * tr / fr / {_EMB_DIM}")
            + " END"
        ).alias("effective_dim_ratio"),
    )


# --- per-label centroid drift (round 8) --------------------------------------

_CDRIFT_ORACLE = f"""
    WITH x AS (
        SELECT label, t.pos,
               CAST(sum(CAST(round(CAST(embedding[t.pos] AS DOUBLE)
                                   * 1000000.0, 0) AS BIGINT)) AS BIGINT)
                   AS sx,
               CAST(count(*) AS BIGINT) AS n
        FROM embeddings, range(1, {_EMB_DIM + 1}) t(pos)
        GROUP BY label, t.pos
    ),
    g AS (
        SELECT pos, CAST(sum(sx) AS BIGINT) AS gx,
               CAST(sum(n) AS BIGINT) AS gn
        FROM x GROUP BY pos
    ),
    d AS (
        SELECT x.label, max(x.n) AS n_vectors, max(g.gn) AS gn,
               sum(CAST(x.sx AS HUGEINT) * g.gx) AS dot_i,
               sum(CAST(x.sx AS HUGEINT) * x.sx) AS nl_i,
               sum(CAST(g.gx AS HUGEINT) * g.gx) AS ng_i
        FROM x JOIN g USING (pos)
        GROUP BY x.label
    )
    SELECT CAST(label AS INT) AS label, n_vectors,
           round(CAST(dot_i AS DOUBLE)
                 / (sqrt(CAST(nl_i AS DOUBLE))
                    * sqrt(CAST(ng_i AS DOUBLE))), 6) + 0.0 AS cos_to_global,
           round((sqrt(CAST(nl_i AS DOUBLE)) * gn)
                 / (sqrt(CAST(ng_i AS DOUBLE)) * n_vectors), 6)
               AS norm_ratio
    FROM d
"""


@register("embedding_source_centroid_drift", _CDRIFT_ORACLE)
def embedding_source_centroid_drift(spark, sf_dir):
    """Per-label centroid drift: cosine of every label's embedding
    centroid against the GLOBAL centroid (plus the norm ratio) — the
    embedding-space health check that flags a slice whose
    representation is pulling away from the corpus (domain shift,
    encoder regression, poisoned slice) before any downstream model
    sees it.

    Determinism: per-dim sums are integer micro-units (the whitening
    convention) and — because cosine is scale-invariant — the
    per-count divisions cancel, so dot and both norms are summed as
    EXACT 128-bit integers (decimal(38,0) / HUGEINT) of sx·gx, sx²,
    gx². No double exists until the final sqrt/divide of identical
    integers, so there is no sum-order channel at all; norm_ratio
    restores the count scaling exactly ((√nl·gn)/(√ng·n)).

    Scale: one posexplode shuffle to (label, dim) partials —
    map-side combined, |labels|·d output rows; the global centroid is
    a second tiny aggregate OF the first; the cosine runs on the
    |labels|·d relation. The corpus is scanned once."""
    v = _vecs(spark, sf_dir).select("label", "embedding")
    x = (
        v.select("label", F.posexplode("embedding").alias("pos0", "val"))
        .select(
            "label",
            (F.col("pos0") + 1).alias("pos"),
            F.round(F.col("val").cast("double") * 1000000.0, 0)
            .cast("bigint")
            .alias("xm"),
        )
        .groupBy("label", "pos")
        .agg(
            F.sum("xm").cast("bigint").alias("sx"),
            F.count("*").cast("bigint").alias("n"),
        )
    )
    g = x.groupBy("pos").agg(
        F.sum("sx").cast("bigint").alias("gx"),
        F.sum("n").cast("bigint").alias("gn"),
    )
    sxd = F.col("sx").cast("decimal(38,0)")
    gxd = F.col("gx").cast("decimal(38,0)")
    d = (
        x.join(F.broadcast(g), "pos")
        .groupBy("label")
        .agg(
            F.max("n").alias("n_vectors"),
            F.max("gn").alias("gn"),
            F.sum(sxd * F.col("gx")).alias("dot_i"),
            F.sum(sxd * F.col("sx")).alias("nl_i"),
            F.sum(gxd * F.col("gx")).alias("ng_i"),
        )
    )
    return d.select(
        F.col("label").cast("int").alias("label"),
        "n_vectors",
        F.round(
            F.col("dot_i").cast("double")
            / (
                F.sqrt(F.col("nl_i").cast("double"))
                * F.sqrt(F.col("ng_i").cast("double"))
            ),
            6,
        ).alias("cos_to_global"),
        F.round(
            (F.sqrt(F.col("nl_i").cast("double")) * F.col("gn"))
            / (
                F.sqrt(F.col("ng_i").cast("double"))
                * F.col("n_vectors")
            ),
            6,
        ).alias("norm_ratio"),
    )



# --- MMR diversified re-ranking (round 9) ------------------------------------
#
# Maximal marginal relevance (Carbonell & Goldstein 1998, public):
# greedily pick k results maximizing
#   lambda * rel(c) - (1 - lambda) * max_{s in selected} sim(c, s)
# — the diversified top-k every retrieval stack runs after its ANN
# pass. The greedy loop is SEQUENTIAL but k is a small constant, so
# both engines execute the SAME k UNROLLED steps (no recursion, no
# UDF): each step is an argmax window over the per-query remaining
# candidates. Determinism is INTEGER-exact: cosines quantize to 1e-6
# units (rel6/sim6 BIGINTs) once, the score lives as the integer
# numerator 7*rel6 - 3*maxsim6 (units 1e-7, lambda = 0.7), and every
# argmax orders by that integer — no float comparison or rounding
# anywhere in the walk. (The first cut scored in doubles and died on
# a textbook boundary: 0.7*0.371485 has shortest-repr "0.2600395",
# which Spark's BigDecimal HALF_UP rounds UP while DuckDB rounds the
# binary value DOWN.) Displayed rel/mmr_score divide the integers
# back by 1e6/1e7 — exact decimals, bit-identical doubles.

_MMR_CANDS = 20
_MMR_K = 5
# lambda = 0.7 == 7/10: score numerator = 7*rel6 - 3*sim6 (1e-7 units)


def _mmr_oracle() -> str:
    head = f"""
    WITH v AS (
        SELECT vec_id, embedding, {S.norm_sql('embedding')} AS nrm
        FROM embeddings
    ),
    q AS (SELECT * FROM v WHERE vec_id < {_N_QUERIES}),
    c AS (SELECT * FROM v WHERE vec_id >= {_N_QUERIES}),
    rel AS (
        SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
               CAST(round(({S.cosine_sql('q.embedding', 'c.embedding',
                                         'q.nrm', 'c.nrm')}) * 1000000.0,
                          0) AS BIGINT) AS rel6
        FROM q JOIN c ON true
    ),
    cand AS (
        SELECT query_id, cand_id, rel6 FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY rel6 DESC, cand_id
            ) AS rn FROM rel
        ) WHERE rn <= {_MMR_CANDS}
    ),
    sims AS (
        SELECT a.query_id, a.cand_id, b.cand_id AS other_id,
               CAST(round(({S.cosine_sql('va.embedding', 'vb.embedding',
                                         'va.nrm', 'vb.nrm')}) * 1000000.0,
                          0) AS BIGINT) AS sim6
        FROM cand a
        JOIN cand b ON b.query_id = a.query_id AND b.cand_id <> a.cand_id
        JOIN v va ON va.vec_id = a.cand_id
        JOIN v vb ON vb.vec_id = b.cand_id
    ),
    pick1 AS (
        SELECT query_id, cand_id, rel6, 7 * rel6 AS n7, 1 AS step
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY rel6 DESC, cand_id
            ) AS rn FROM cand
        ) WHERE rn = 1
    ),
    sel1 AS (SELECT query_id, cand_id FROM pick1),
    rem1 AS (
        SELECT c.* FROM cand c ANTI JOIN pick1 p
            ON p.query_id = c.query_id AND p.cand_id = c.cand_id
    )"""
    parts = [head]
    for i in range(2, _MMR_K + 1):
        parts.append(f""",
    ms{i} AS (
        SELECT s.query_id, s.cand_id, max(s.sim6) AS maxsim6
        FROM sims s
        JOIN sel{i - 1} p
          ON p.query_id = s.query_id AND p.cand_id = s.other_id
        GROUP BY 1, 2
    ),
    sc{i} AS (
        SELECT r.query_id, r.cand_id, r.rel6,
               7 * r.rel6 - 3 * coalesce(m.maxsim6, 0) AS n7
        FROM rem{i - 1} r
        LEFT JOIN ms{i} m
          ON m.query_id = r.query_id AND m.cand_id = r.cand_id
    ),
    pick{i} AS (
        SELECT query_id, cand_id, rel6, n7, {i} AS step FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY n7 DESC, cand_id
            ) AS rn FROM sc{i}
        ) WHERE rn = 1
    ),
    sel{i} AS (
        SELECT query_id, cand_id FROM sel{i - 1}
        UNION ALL SELECT query_id, cand_id FROM pick{i}
    ),
    rem{i} AS (
        SELECT r.query_id, r.cand_id, r.rel6 FROM rem{i - 1} r
        ANTI JOIN pick{i} p
            ON p.query_id = r.query_id AND p.cand_id = r.cand_id
    )""")
    union = "\n    UNION ALL ".join(
        f"SELECT query_id, step, cand_id, rel6, n7 FROM pick{i}"
        for i in range(1, _MMR_K + 1)
    )
    parts.append(f"""
    SELECT query_id, CAST(step AS INT) AS rank, cand_id,
           rel6 / 1000000.0 AS rel, n7 / 10000000.0 AS mmr_score
    FROM ({union})""")
    return "".join(parts)


@register("retrieval_mmr_rerank", _mmr_oracle())
def retrieval_mmr_rerank(spark, sf_dir):
    """MMR diversified re-ranking over the embedding corpus: per query
    vector, take the exact-cosine top-20 candidate pool, then run 5
    greedy MMR steps (lambda = 0.7) as UNROLLED Catalyst stages — each
    step joins the remaining pool against the selected set's pairwise
    sims, scores the integer numerator 7*rel6 − 3*maxsim6, and picks
    the per-query argmax with an id tie-break. No UDF, no recursion,
    no driver loop: the whole greedy walk is one declarative plan over
    metadata-scale relations, with every comparison on BIGINTs (see
    the module comment for the float-boundary failure this design
    retired).

    Scale: rel is the brute-force pass at test scale — swap the
    candidate pool for an ANN tier (similarity_ivf_topk /
    similarity_ann_lsh) at 100 TB; everything after the pool is
    O(queries x cands^2) on the pool only. The pool and its pairwise
    sims are localCheckpointed: 5 unrolled steps would otherwise
    re-derive the cosine lineage per step."""
    v = _vecs(spark, sf_dir).select(
        "vec_id", "embedding", S.norm(F.col("embedding")).alias("nrm")
    )
    q = v.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    c = v.filter(F.col("vec_id") >= _N_QUERIES).select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("c_emb"),
        F.col("nrm").alias("c_nrm"),
    )
    rel6 = F.round(
        S.cosine(
            F.col("q_emb"), F.col("c_emb"), F.col("q_nrm"), F.col("c_nrm")
        )
        * 1000000.0,
        0,
    ).cast("bigint")
    scored = F.broadcast(q).crossJoin(c).select(
        "query_id", "cand_id", rel6.alias("rel6")
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("rel6"), "cand_id")
    cand = (
        scored.withColumn("rn", F.row_number().over(wq))
        .where(F.col("rn") <= _MMR_CANDS)
        .select("query_id", "cand_id", "rel6")
        .localCheckpoint(eager=True)
    )
    a = cand.alias("a")
    b = cand.alias("b")
    va = v.alias("va")
    vb = v.alias("vb")
    sim6 = F.round(
        S.cosine(
            F.col("va.embedding"),
            F.col("vb.embedding"),
            F.col("va.nrm"),
            F.col("vb.nrm"),
        )
        * 1000000.0,
        0,
    ).cast("bigint")
    sims = (
        a.join(
            b,
            (F.col("b.query_id") == F.col("a.query_id"))
            & (F.col("b.cand_id") != F.col("a.cand_id")),
        )
        .join(va, F.col("va.vec_id") == F.col("a.cand_id"))
        .join(vb, F.col("vb.vec_id") == F.col("b.cand_id"))
        .select(
            F.col("a.query_id").alias("query_id"),
            F.col("a.cand_id").alias("cand_id"),
            F.col("b.cand_id").alias("other_id"),
            sim6.alias("sim6"),
        )
        .localCheckpoint(eager=True)
    )
    picks = []
    sel = None
    remaining = cand
    for step in range(1, _MMR_K + 1):
        if sel is None:
            sc = remaining.select(
                "query_id",
                "cand_id",
                "rel6",
                (F.lit(7) * F.col("rel6")).cast("bigint").alias("n7"),
            )
        else:
            ms = (
                sims.join(
                    sel.withColumnRenamed("cand_id", "other_id"),
                    ["query_id", "other_id"],
                )
                .groupBy("query_id", "cand_id")
                .agg(F.max("sim6").alias("maxsim6"))
            )
            sc = remaining.join(ms, ["query_id", "cand_id"], "left").select(
                "query_id",
                "cand_id",
                "rel6",
                (
                    F.lit(7) * F.col("rel6")
                    - F.lit(3) * F.coalesce("maxsim6", F.lit(0))
                )
                .cast("bigint")
                .alias("n7"),
            )
        ws = Window.partitionBy("query_id").orderBy(F.desc("n7"), "cand_id")
        # r17 (guide §5): each greedy step's pick is eagerly
        # checkpointed (queries×1 rows — metadata-scale). Without it
        # the unrolled chain re-executed every PRIOR step's
        # window+anti-join lineage inside each later step and once
        # more in the final union — O(K²) re-derivation that measured
        # 5.1 s for K=5 at sf0.1; checkpointed, each step is one flat
        # job over the checkpointed pool/sims.
        pick = (
            sc.withColumn("rn", F.row_number().over(ws))
            .where(F.col("rn") == 1)
            .select(
                "query_id",
                F.lit(step).cast("int").alias("rank"),
                "cand_id",
                "rel6",
                "n7",
            )
            .localCheckpoint(eager=True)
        )
        picks.append(pick)
        pick_ids = pick.select("query_id", "cand_id")
        sel = pick_ids if sel is None else sel.unionByName(pick_ids)
        remaining = remaining.join(
            pick_ids, ["query_id", "cand_id"], "left_anti"
        )
    out = picks[0]
    for p in picks[1:]:
        out = out.unionByName(p)
    return out.select(
        "query_id",
        "rank",
        "cand_id",
        (F.col("rel6") / 1000000.0).alias("rel"),
        (F.col("n7") / 10000000.0).alias("mmr_score"),
    )


# --- Lloyd k-means over embeddings (round 11) ---------------------------------
#
# Deterministic k-means (k = 4, L = 2 Lloyd iterations) over the
# embedding table — the clustering primitive behind SemDeDup-style
# semantic curation (cluster, then dedup/select within clusters) and
# IVF index training, as a driver-checkable batch query. Floating
# k-means is notoriously nondeterministic (init, sum order, FP ties);
# this one is EXACT end-to-end:
#
#   - vectors quantize once to BIGINT micro per element via
#     round(x·1e6, 0) (the whitening sxy convention — Spark's
#     BigDecimal HALF_UP and DuckDB's C round agree on identical
#     doubles, both away-from-zero);
#   - init = the k smallest vec_ids' quantized vectors (cid 1..k in
#     vec_id order) — seeded, reproducible, no rand();
#   - assignment = exact int64 argmin of Σ_d (x_d − c_d)² with ties
#     to the smaller cid (|diff| ≤ ~2.4e6 ⇒ per-dim square ≤ 6e12,
#     d = 64 ⇒ distances ≤ ~4e14: int64-exact);
#   - update = per-(cluster, dim) integer sums with the mean
#     re-quantized by floor(Σx/n + 0.5) — ONE exactly-rounded IEEE
#     division (Σx < 2⁵³ up to ~7e9 vectors), half-up; an EMPTY
#     cluster keeps its previous centroid;
#   - inertia = Σ min-dist² as an exact int64 micro² sum, reported
#     in real units at 6 dp (int64-safe to ~4e6 vectors at unit-norm
#     embeddings — past that the partial steps to DECIMAL(38)).
#
# Spark runs the two assignment passes as PURE map stages: the k×d
# centroid model is collected to the driver (k·d = 256 values —
# bounded metadata, the IVF-centroid precedent) and embedded as
# array literals in the distance expression, so each pass is one
# whole-stage-codegen projection plus one map-side-combinable
# aggregate — no join, no shuffle beyond the k·d-key update agg. The
# oracle replays the identical arithmetic as MATERIALIZED CTE joins
# (DuckDB would otherwise inline the iteration chain exponentially —
# the PCA oracle precedent).

_KMEANS_K = 4


def _kmeans_xm_sql() -> str:
    return (
        "transform(embedding, e -> CAST(round(CAST(e AS DOUBLE)"
        " * 1000000e0, 0) AS BIGINT))"
    )


# WITH-body through the final assignment a2 — shared by the k-means
# oracle and the Calinski–Harabasz cluster-quality oracle (r11).
_KMEANS_CTES = f"""xm AS MATERIALIZED (
        SELECT e.vec_id, CAST(t.i AS INT) AS dim,
               CAST(round(CAST(e.embedding[CAST(t.i AS INT)] AS DOUBLE)
                          * 1000000.0, 0) AS BIGINT) AS x
        FROM embeddings e, range(1, {_EMB_DIM + 1}) t(i)
    ),
    ids AS MATERIALIZED (
        SELECT vec_id,
               CAST(row_number() OVER (ORDER BY vec_id) AS INT) AS cid
        FROM (SELECT vec_id FROM embeddings ORDER BY vec_id
              LIMIT {_KMEANS_K})
    ),
    c0 AS MATERIALIZED (
        SELECT ids.cid, xm.dim, xm.x AS c
        FROM xm JOIN ids USING (vec_id)
    ),
    d1 AS MATERIALIZED (
        SELECT xm.vec_id, c0.cid,
               CAST(sum((xm.x - c0.c) * (xm.x - c0.c)) AS BIGINT) AS d2
        FROM xm JOIN c0 USING (dim)
        GROUP BY 1, 2
    ),
    a1 AS MATERIALIZED (
        SELECT vec_id, cid FROM (
            SELECT vec_id, cid,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY d2, cid) AS rn
            FROM d1
        ) WHERE rn = 1
    ),
    m1 AS MATERIALIZED (
        SELECT a1.cid, xm.dim, CAST(sum(xm.x) AS BIGINT) AS s,
               CAST(count(*) AS BIGINT) AS n
        FROM a1 JOIN xm USING (vec_id)
        GROUP BY 1, 2
    ),
    c1 AS MATERIALIZED (
        SELECT c0.cid, c0.dim,
               CAST(coalesce(
                   CAST(floor(CAST(m1.s AS DOUBLE) / m1.n + 0.5e0)
                        AS BIGINT),
                   c0.c) AS BIGINT) AS c
        FROM c0 LEFT JOIN m1 ON m1.cid = c0.cid AND m1.dim = c0.dim
    ),
    dt2 AS MATERIALIZED (
        SELECT xm.vec_id, c1.cid,
               CAST(sum((xm.x - c1.c) * (xm.x - c1.c)) AS BIGINT) AS d2
        FROM xm JOIN c1 USING (dim)
        GROUP BY 1, 2
    ),
    a2 AS MATERIALIZED (
        SELECT vec_id, cid, d2 FROM (
            SELECT vec_id, cid, d2,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY d2, cid) AS rn
            FROM dt2
        ) WHERE rn = 1
    )"""

_KMEANS_ORACLE = f"""
    WITH {_KMEANS_CTES}
    SELECT cid AS cluster_id,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(floor(CAST(sum(d2) AS DOUBLE) / 1000000e0 + 0.5e0)
                AS BIGINT) / 1000000e0 AS inertia
    FROM a2
    GROUP BY 1
"""


def _kmeans_argmin_expr(cents: list[tuple[int, list[int]]]) -> str:
    """array_min over (distance, cid) structs — exact int64 distances
    against LITERAL centroid arrays, ties to the smaller cid via
    lexicographic struct comparison."""

    def dist(c):
        arr = "array(" + ", ".join(f"{v}L" for v in c) + ")"
        return (
            f"aggregate(zip_with(xm, {arr}, (x, c) -> (x - c) * (x - c)),"
            " CAST(0 AS BIGINT), (a, y) -> a + y)"
        )

    structs = ", ".join(
        f"struct({dist(c)} AS d, {cid} AS c)" for cid, c in cents
    )
    return f"array_min(array({structs}))"


def _kmeans_fit(spark, sf_dir):
    """(q, cents0, cents1, upd) — the quantized vector relation
    (localCheckpointed), the seeded initial centroids, the
    once-updated centroids, and the first-assignment (cid, dim) →
    (Σx, n) sums; the Spark twin of ``_KMEANS_CTES`` through c1,
    shared by the k-means query and the Calinski–Harabasz quality
    query (r11). Returns (None, ...) on an empty table."""
    import math as _m

    q = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", F.expr(_kmeans_xm_sql()).alias("xm"))
        .localCheckpoint(eager=True)
    )
    init = q.orderBy("vec_id").limit(_KMEANS_K).collect()
    if not init:
        return None, [], [], {}
    cents0 = [(i + 1, [int(x) for x in r.xm]) for i, r in enumerate(init)]

    a1 = q.select(
        "vec_id",
        "xm",
        F.expr(_kmeans_argmin_expr(cents0) + ".c").alias("cid"),
    )
    m1 = (
        a1.select("cid", F.posexplode("xm").alias("dim", "x"))
        .groupBy("cid", "dim")
        .agg(
            F.sum("x").cast("bigint").alias("s"),
            F.count("*").cast("bigint").alias("n"),
        )
        .collect()
    )
    upd = {(r.cid, r.dim): (r.s, r.n) for r in m1}
    cents1 = []
    for cid, c in cents0:
        vec = []
        for dim, cv in enumerate(c):
            sn = upd.get((cid, dim))
            vec.append(
                _m.floor(sn[0] / sn[1] + 0.5) if sn is not None else cv
            )
        cents1.append((cid, vec))
    return q, cents0, cents1, upd


@register("embedding_kmeans_lloyd", _KMEANS_ORACLE, headline=True)
def embedding_kmeans_lloyd(spark, sf_dir):
    """Two deterministic Lloyd iterations of k = 4 k-means over the
    embedding table in exact integer micro arithmetic — cluster
    sizes and within-cluster inertia after the second assignment.
    See the section comment for the full determinism contract
    (quantization, seeded init, tie rule, half-up centroid update,
    empty-cluster carry-forward).

    Scale: each assignment is a map-only whole-stage-codegen
    projection against k·d = 256 LITERAL centroid values (bounded
    driver collect, the IVF-centroid precedent — no join, no
    broadcast); the centroid update is ONE posexplode into a
    (k·d)-key integer aggregate (map-side combinable); the quantized
    vectors are localCheckpointed so the parquet scan + quantization
    run once across the three consuming passes."""
    q, _cents0, cents1, _upd = _kmeans_fit(spark, sf_dir)
    if q is None:
        return local_frame(
            spark,
            [], "cluster_id int, n_members long, inertia double"
        )
    m = F.expr(_kmeans_argmin_expr(cents1))
    a2 = q.select(m.getField("d").alias("d2"), m.getField("c").alias("cid"))
    return a2.groupBy(F.col("cid").alias("cluster_id")).agg(
        F.count("*").cast("bigint").alias("n_members"),
        (
            F.expr(
                "CAST(floor(CAST(sum(d2) AS DOUBLE) / 1000000e0 + 0.5e0)"
                " AS BIGINT)"
            )
            / F.expr("1000000e0")
        ).alias("inertia"),
    )


# --- Calinski–Harabasz cluster quality (round 11) ------------------------------
#
# Is the k-means clustering real structure or noise? The
# Calinski–Harabasz index (variance-ratio criterion) of the
# embedding_kmeans_lloyd partition: CH = (SSB/(k−1)) / (SSW/(n−k)),
# the between/within variance ratio an IVF/SemDeDup pipeline records
# to pick k and to reject degenerate fits. Exactness rides the
# k-means contract: SSW is the exact int64 sum of the final
# assignment's min-distances; the global mean re-quantizes the exact
# per-dim sums by floor(Σx/n + 0.5) (the centroid-update rule, so
# both means live on the same integer grid); SSB = Σ_g n_g·‖c_g −
# gm‖² is exact int64 (centroid-grid distances ≤ ~4e14 times counts
# — int64-safe to ~2e4 vectors per cluster at unit norm, then
# DECIMAL(38)); k counts the NON-EMPTY final clusters. CH and the
# two reported sums are single exactly-rounded IEEE divisions
# micro-quantized via floor(x·1e6 + 0.5) (int64→double conversion is
# round-to-nearest in Spark, DuckDB, and Python alike); k ≤ 1,
# n ≤ k, or SSW = 0 guard NULL.

_CH_ORACLE = f"""
    WITH {_KMEANS_CTES},
    sizes AS MATERIALIZED (
        SELECT cid, CAST(count(*) AS BIGINT) AS n_g,
               CAST(sum(d2) AS BIGINT) AS ssw_g
        FROM a2 GROUP BY 1
    ),
    nt AS MATERIALIZED (
        SELECT CAST(count(*) AS BIGINT) AS k,
               CAST(sum(n_g) AS BIGINT) AS n,
               CAST(sum(ssw_g) AS BIGINT) AS ssw
        FROM sizes
    ),
    gm AS MATERIALIZED (
        SELECT gs.dim,
               CAST(floor(CAST(gs.sx AS DOUBLE) / nt.n + 0.5e0)
                    AS BIGINT) AS g
        FROM (SELECT dim, CAST(sum(x) AS BIGINT) AS sx
              FROM xm GROUP BY 1) gs
        CROSS JOIN nt
    ),
    cdist AS MATERIALIZED (
        SELECT c1.cid,
               CAST(sum((c1.c - gm.g) * (c1.c - gm.g)) AS BIGINT) AS d2c
        FROM c1 JOIN gm USING (dim)
        GROUP BY 1
    ),
    ssb_t AS MATERIALIZED (
        SELECT CAST(sum(s.n_g * cd.d2c) AS BIGINT) AS ssb
        FROM sizes s JOIN cdist cd USING (cid)
    )
    SELECT nt.n AS n_vectors, nt.k AS k_clusters,
           CAST(floor(CAST(ssb_t.ssb AS DOUBLE) / 1000000e0 + 0.5e0)
                AS BIGINT) / 1000000e0 AS ssb,
           CAST(floor(CAST(nt.ssw AS DOUBLE) / 1000000e0 + 0.5e0)
                AS BIGINT) / 1000000e0 AS ssw,
           CASE WHEN nt.k > 1 AND nt.n > nt.k AND nt.ssw > 0 THEN
               CAST(floor((CAST(ssb_t.ssb AS DOUBLE) / (nt.k - 1))
                          / (CAST(nt.ssw AS DOUBLE) / (nt.n - nt.k))
                          * 1000000e0 + 0.5e0) AS BIGINT) / 1000000e0
           END AS ch_index
    FROM nt CROSS JOIN ssb_t
"""


@register("embedding_cluster_quality", _CH_ORACLE)
def embedding_cluster_quality(spark, sf_dir):
    """Calinski–Harabasz variance-ratio index of the
    embedding_kmeans_lloyd clustering — between/within sums of
    squares (real units, 6 dp) and the CH statistic, one row. See
    the section comment for the exactness contract; k counts
    non-empty final clusters.

    Scale: reuses the k-means fit (one checkpointed scan + one
    bounded centroid collect); the additions are ONE map-only final
    assignment into a k-row aggregate, ONE per-dim integer sum
    (d-key aggregate, map-side combinable) for the global mean, and
    metadata-scale driver algebra on k·d integers replicating the
    oracle op-for-op."""
    import math as _m

    q, _cents0, cents1, upd = _kmeans_fit(spark, sf_dir)
    schema = (
        "n_vectors long, k_clusters long, ssb double, ssw double,"
        " ch_index double"
    )
    if q is None:
        # mirror the oracle's empty-input shape: the ungrouped nt
        # aggregate over zero sizes rows still emits one row —
        # k_clusters 0, everything else NULL
        return local_frame(spark, [(None, 0, None, None, None)], schema)
    m = F.expr(_kmeans_argmin_expr(cents1))
    per = (
        q.select(m.getField("d").alias("d2"), m.getField("c").alias("cid"))
        .groupBy("cid")
        .agg(
            F.count("*").cast("bigint").alias("n_g"),
            F.sum("d2").cast("bigint").alias("ssw_g"),
        )
        .collect()
    )
    k = len(per)
    n = sum(r.n_g for r in per)
    ssw = sum(r.ssw_g for r in per)
    d = len(cents1[0][1])
    sx = [
        sum(upd[(cid, dim)][0] for cid, _c in cents1 if (cid, dim) in upd)
        for dim in range(d)
    ]
    gm = [_m.floor(s / n + 0.5) for s in sx]
    cent = dict(cents1)
    ssb = sum(
        r.n_g
        * sum((cv - gv) ** 2 for cv, gv in zip(cent[r.cid], gm))
        for r in per
    )
    ch = (
        _m.floor(
            (ssb / (k - 1)) / (ssw / (n - k)) * 1e6 + 0.5
        )
        / 1e6
        if k > 1 and n > k and ssw > 0
        else None
    )
    row = (
        n,
        k,
        _m.floor(ssb / 1e6 + 0.5) / 1e6,
        _m.floor(ssw / 1e6 + 0.5) / 1e6,
        ch,
    )
    return local_frame(spark, [row], schema)


# --- cluster purity / NMI vs labels (round 15) ----------------------------------
#
# The EXTERNAL cluster-quality companion to Calinski–Harabasz
# (internal variance ratio): how well does the embedding_kmeans_lloyd
# partition recover the embeddings table's label column? Purity =
# Σ_c max_l n_cl / N (the classic "assign each cluster its majority
# label" accuracy) and normalized mutual information
# NMI = (H(C) + H(L) − H(C,L)) / ((H(C) + H(L))/2) — the pair every
# clustering-evaluation writeup reports, and the measurement a
# SemDeDup/IVF pipeline uses to sanity-check that its cheap k-means
# structure aligns with known taxonomy. Exactness: the contingency
# table is exact BIGINT counts at (k × |labels|) grain — bounded,
# never corpus-scale; the three entropies run through the ONE shared
# entropy_term_micro_sql builder and MI is their exact integer
# combination clamped at 0 (quantization can push it a few micro
# negative on near-independent partitions); the two report ratios are
# single micro-quantized divisions with H(C)+H(L) > 0 guarded. The
# assignment relation is the kmeans query's own second-pass argmin
# (same centroids, same tie rule), so this query cannot drift from
# the partition it evaluates.

_PURITY_ORACLE = f"""
    WITH {_KMEANS_CTES},
    lab AS (
        SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings
    ),
    ct AS (
        SELECT a2.cid, lab.label, CAST(count(*) AS BIGINT) AS n
        FROM a2 JOIN lab USING (vec_id)
        GROUP BY 1, 2
    ),
    rowm AS (
        SELECT cid, CAST(sum(n) AS BIGINT) AS nc,
               CAST(max(n) AS BIGINT) AS maj
        FROM ct GROUP BY 1
    ),
    colm AS (
        SELECT label, CAST(sum(n) AS BIGINT) AS nl FROM ct GROUP BY 1
    ),
    tot AS (
        SELECT CAST(sum(nc) AS BIGINT) AS n,
               CAST(sum(maj) AS BIGINT) AS maj_sum
        FROM rowm
    ),
    hc AS (
        SELECT CAST(sum({entropy_term_micro_sql("rowm.nc", "tot.n")})
                    AS BIGINT) AS h
        FROM rowm CROSS JOIN tot
    ),
    hl AS (
        SELECT CAST(sum({entropy_term_micro_sql("colm.nl", "tot.n")})
                    AS BIGINT) AS h
        FROM colm CROSS JOIN tot
    ),
    hcl AS (
        SELECT CAST(sum({entropy_term_micro_sql("ct.n", "tot.n")})
                    AS BIGINT) AS h
        FROM ct CROSS JOIN tot
    ),
    s AS (
        SELECT tot.n, tot.maj_sum,
               (SELECT CAST(count(*) AS BIGINT) FROM rowm) AS k_clusters,
               (SELECT CAST(count(*) AS BIGINT) FROM colm) AS n_labels,
               hc.h AS hc, hl.h AS hl, hcl.h AS hcl
        FROM tot CROSS JOIN hc CROSS JOIN hl CROSS JOIN hcl
        WHERE tot.n > 0
    )
    SELECT n AS n_vectors, k_clusters, n_labels,
           round(CAST(floor(CAST(maj_sum AS DOUBLE) / n
                            * 1000000e0 + 0.5e0) AS BIGINT)
                 / 1000000e0, 6) AS purity,
           round(greatest(hc + hl - hcl, 0) / 1000000e0, 6)
               AS mutual_info_bits,
           CASE WHEN hc + hl > 0 THEN
               round(CAST(floor(2e0 * greatest(hc + hl - hcl, 0)
                                / (hc + hl)
                                * 1000000e0 + 0.5e0) AS BIGINT)
                     / 1000000e0, 6)
           END AS nmi
    FROM s
"""


@register("embedding_cluster_purity", _PURITY_ORACLE)
def embedding_cluster_purity(spark, sf_dir):
    """Purity and normalized mutual information of the
    embedding_kmeans_lloyd partition against the embeddings table's
    labels (see the section comment for the entropy quantization,
    clamp, and guard contracts).

    Scale: one map-only literal-centroid assignment projection (the
    kmeans shape — bounded driver collect of k centroids), one
    (k × |labels|)-grain contingency aggregate, and metadata-scale
    entropy reductions; nothing beyond the assignment scan grows with
    the corpus."""
    q, _c0, cents1, _upd = _kmeans_fit(spark, sf_dir)
    if q is None:
        return local_frame(
            spark,
            [],
            "n_vectors long, k_clusters long, n_labels long,"
            " purity double, mutual_info_bits double, nmi double",
        )
    assign = q.select(
        "vec_id",
        F.expr(_kmeans_argmin_expr(cents1) + ".c").alias("cid"),
    )
    lab = _vecs(spark, sf_dir).select(
        "vec_id", F.col("label").cast("bigint").alias("label")
    )
    ct = (
        assign.join(lab, "vec_id")
        .groupBy("cid", "label")
        .agg(F.count("*").cast("bigint").alias("n"))
        # the contingency is (k x |labels|) metadata-scale and feeds
        # FIVE aggregate branches — checkpoint so the assignment scan
        # runs once (the PSI/JSD-cube convention)
        .localCheckpoint(eager=True)
    )
    rowm = ct.groupBy("cid").agg(
        F.sum("n").cast("bigint").alias("nc"),
        F.max("n").cast("bigint").alias("maj"),
    )
    colm = ct.groupBy("label").agg(F.sum("n").cast("bigint").alias("nl"))
    tot = rowm.agg(
        F.sum("nc").cast("bigint").alias("n"),
        F.sum("maj").cast("bigint").alias("maj_sum"),
        F.count("*").cast("bigint").alias("k_clusters"),
    )
    n_labels = colm.agg(F.count("*").cast("bigint").alias("n_labels"))
    hc = (
        rowm.crossJoin(F.broadcast(tot.select("n")))
        .select(F.expr(entropy_term_micro_sql("nc", "n")).alias("t"))
        .agg(F.sum("t").cast("bigint").alias("hc"))
    )
    hl = (
        colm.crossJoin(F.broadcast(tot.select("n")))
        .select(F.expr(entropy_term_micro_sql("nl", "n")).alias("t"))
        .agg(F.sum("t").cast("bigint").alias("hl"))
    )
    hcl = (
        ct.crossJoin(
            F.broadcast(tot.select(F.col("n").alias("n_total")))
        )
        .select(F.expr(entropy_term_micro_sql("n", "n_total")).alias("t"))
        .agg(F.sum("t").cast("bigint").alias("hcl"))
    )
    s = (
        tot.crossJoin(F.broadcast(n_labels))
        .crossJoin(F.broadcast(hc))
        .crossJoin(F.broadcast(hl))
        .crossJoin(F.broadcast(hcl))
        .where(F.col("n") > 0)
    )
    return s.select(
        F.col("n").alias("n_vectors"),
        "k_clusters",
        "n_labels",
        F.expr(micro6_sql("CAST(maj_sum AS DOUBLE) / n")).alias("purity"),
        F.expr(
            "round(greatest(hc + hl - hcl, 0) / 1000000e0, 6)"
        ).alias("mutual_info_bits"),
        F.expr(
            "CASE WHEN hc + hl > 0 THEN "
            + micro6_sql("2e0 * greatest(hc + hl - hcl, 0) / (hc + hl)")
            + " END"
        ).alias("nmi"),
    )


# --- cosine range search (round 14) ----------------------------------------
#
# The THRESHOLD twin of top-k retrieval: return EVERY corpus vector
# within cosine >= tau of each probe — the primitive behind
# "find all near-duplicates of these flagged documents" and
# radius-bounded retrieval, where k is unknown a priori. Exact by
# construction (single corpus scan against broadcast probes — the
# brute-force baseline's plan), with the probe set derived from
# corpus size the way _lsh_bits derives bucket width: probe_mod is
# the smallest power of two with mod * _RANGE_PROBE_TARGET >= n, so
# the probe relation stays ~_RANGE_PROBE_TARGET rows — broadcastable
# at ANY corpus size — while remaining a deterministic,
# engine-portable subset (vec_id % mod = 0). A pure-integer ladder
# on both engines (the _quant_k libm rule). The threshold compares
# the ROUNDED score on both sides so the emitted set is
# hash-identical.

_RANGE_TAU = 0.25  # ~2 sigma for 64-dim isotropic embeddings
_RANGE_PROBE_TARGET = 64
_RANGE_MOD_LADDER = [2**i for i in range(0, 21)]  # 1 .. 1M


def _range_probe_mod(n: int) -> int:
    """Smallest ladder mod with mod * target >= n (clamped at 2^20)."""
    for m in _RANGE_MOD_LADDER:
        if m * _RANGE_PROBE_TARGET >= n:
            return m
    return _RANGE_MOD_LADDER[-1]


def _range_probe_mod_sql(n_expr: str) -> str:
    """SQL twin of ``_range_probe_mod`` — integer comparisons only."""
    arms = " ".join(
        f"WHEN {n_expr} <= {m * _RANGE_PROBE_TARGET} THEN {m}"
        for m in _RANGE_MOD_LADDER[:-1]
    )
    return f"(CASE {arms} ELSE {_RANGE_MOD_LADDER[-1]} END)"


_RANGE_ORACLE = f"""
    WITH v AS (
        SELECT vec_id, embedding, {S.norm_sql('embedding')} AS nrm
        FROM embeddings
    ),
    p AS (
        SELECT CAST({_range_probe_mod_sql('count(*)')} AS BIGINT) AS md
        FROM embeddings
    ),
    q AS (
        SELECT v.vec_id, v.embedding, v.nrm
        FROM v CROSS JOIN p WHERE v.vec_id % p.md = 0
    ),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               round({S.cosine_sql('q.embedding', 'c.embedding',
                                   'q.nrm', 'c.nrm')}, 6) AS cos_sim
        FROM q JOIN v c ON c.vec_id <> q.vec_id
    )
    SELECT query_id, neighbor_id, cos_sim
    FROM scored WHERE cos_sim >= {_RANGE_TAU}
"""


@register("similarity_range_search", _RANGE_ORACLE, headline=True)
def similarity_range_search(spark, sf_dir):
    """Exact cosine range search: all (probe, neighbor) pairs with
    rounded cosine >= tau over a size-derived deterministic probe set
    (see the section comment for the probe-mod ladder and the
    rounded-threshold hash contract).

    Scale: ONE corpus scan through an Arrow range-pairs kernel against
    the broadcast ~64-row probe model — no shuffle, no window, no
    candidate explosion; output is tau-selectivity-bounded. The
    LSH/IVF families remain the sublinear paths; this is the exact
    primitive they are audited against.

    r17 (guide §4.2): the broadcast non-equi join evaluated the
    INTERPRETED zip_with/aggregate cosine fold TWICE per (corpus,
    probe) pair — Catalyst pushes the threshold into the
    BroadcastNestedLoopJoin condition and the projection recomputes
    cos_sim. The kernel (operators/_argmax_udf.make_range_pairs_udf)
    computes each raw cosine ONCE in vectorized float64 with the
    identical fold order, prefilters with a safe margin, and the
    exact round(·,6) >= tau gate stays a JVM expression so the
    emitted values are bit-identical (1.27 s -> see plans/r17).
    The probe mod now derives from catalog row stats (table_rows)
    instead of a count() job — the IVF _quant_k precedent
    (VERDICT r2 #7: a sizing count() is a full extra scan at
    100 TB)."""
    from .sources.catalog import table_rows

    v = _vecs(spark, sf_dir).select(
        "vec_id", "embedding", S.norm(F.col("embedding")).alias("nrm")
    )
    mod = _range_probe_mod(table_rows(sf_dir, "embeddings"))
    pairs_udf = make_range_pairs_udf(
        *collect_model(v.filter(F.col("vec_id") % mod == 0)), _RANGE_TAU
    )
    return (
        v.select(
            F.col("vec_id").alias("neighbor_id"),
            F.explode(
                pairs_udf(F.col("vec_id"), F.col("embedding"), F.col("nrm"))
            ).alias("p"),
        )
        .select(
            F.col("p.query_id").alias("query_id"),
            "neighbor_id",
            F.round(F.col("p.raw"), 6).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= _RANGE_TAU)
    )


# --- embedding anisotropy (round 16) ------------------------------------------
#
# The Ethayarajh-style anisotropy diagnostic: the EXACT mean pairwise
# cosine over all n(n−1) ordered pairs of unit-normalized embeddings,
# computed WITHOUT any pairwise work via the sum-vector identity
#   Σ_{i≠j} u_i·u_j = ‖Σ_i u_i‖² − Σ_i ‖u_i‖²
# — the whole corpus collapses to d per-dim sums plus two scalar
# sums. A healthy isotropic space reads ≈ 0; a collapsed (anisotropic)
# space — the classic contextual-embedding pathology that degrades
# cosine retrieval — reads ≫ 0, and the value is also ≈ ‖centroid‖²,
# which is reported alongside. Determinism: embeddings quantize to
# int64 micro-units at the source (the whitening convention); the
# per-row norm² is an exact integer sum; each normalized component is
# ONE exactly-rounded IEEE divide-by-sqrt, re-quantized to micro ints;
# from there every reduction (per-dim sums, Σ‖u‖², ‖Σu‖² via
# 128-bit s_d² products) is exact integer arithmetic — order-proof
# under any partitioning (the centroid-drift decimal(38)/HUGEINT
# precedent) — and the three reported ratios are single guarded
# divisions of exact integers. Zero vectors (norm² = 0) are excluded
# on both sides; needs n ≥ 2 (the pair denominator guard).

_ANISO_SCHEMA = "pos int, sd long, vsq long, cnt long, ns long"


def _aniso_partials(batches):
    """Arrow-batched per-dim partials for the anisotropy identity:
    per batch, the quantize → normsq → norm_micro → unit-micro chain
    in vectorized float64 with the IDENTICAL per-element IEEE op
    order as the Catalyst/DuckDB expressions (quantize via the
    engines' shared round-half-away; /sqrt, ×1e6, +0.5, floor), then
    d partial rows (pos, Σu, Σu², n, Σnorm_micro). Partials are exact
    int64 — associative, batch/partition-order-proof (the
    _gram_partials contract; the expression-tree first cut evaluated
    the same chain ~6× slower at sf0.1: 3.9 → ~1 s)."""
    import numpy as np
    import pandas as pd

    for pdf in batches:
        if len(pdf) == 0:
            continue
        X = _stack_embeddings(pdf)
        xm = _half_away_i64(X * 1e6)
        normsq = (xm * xm).sum(axis=1)
        keep = normsq > 0
        xm, normsq = xm[keep], normsq[keep]
        if len(xm) == 0:
            continue
        d = xm.shape[1]
        root = np.sqrt(normsq.astype(np.float64))
        norm_micro = np.floor(root + 0.5).astype(np.int64)
        um = np.floor(
            xm.astype(np.float64) / root[:, None] * 1e6 + 0.5
        ).astype(np.int64)
        yield pd.DataFrame(
            {
                "pos": np.arange(d, dtype=np.int32),
                "sd": um.sum(axis=0, dtype=np.int64),
                "vsq": (um * um).sum(axis=0, dtype=np.int64),
                "cnt": np.full(d, len(um), dtype=np.int64),
                "ns": np.full(d, norm_micro.sum(), dtype=np.int64),
            }
        )


_ANISO_ORACLE = f"""
    WITH r0 AS (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0, 0)
                             AS BIGINT)) AS xm
        FROM embeddings
    ),
    r1 AS (
        SELECT vec_id, xm,
               CAST(list_sum(list_transform(xm, v -> v * v)) AS BIGINT)
                   AS normsq
        FROM r0
    ),
    r2 AS (
        SELECT vec_id,
               CAST(floor(sqrt(CAST(normsq AS DOUBLE)) + 0.5e0) AS BIGINT)
                   AS norm_micro,
               list_transform(xm,
                   v -> CAST(floor(CAST(v AS DOUBLE)
                                   / sqrt(CAST(normsq AS DOUBLE))
                                   * 1000000e0 + 0.5e0) AS BIGINT)) AS um
        FROM r1 WHERE normsq > 0
    ),
    scal AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(norm_micro) AS BIGINT) AS norm_sum,
               CAST(sum(CAST(list_sum(list_transform(um, v -> v * v))
                             AS BIGINT)) AS BIGINT) AS usq
        FROM r2
    ),
    dims AS (
        SELECT t.pos, CAST(sum(um[CAST(t.pos AS INT)]) AS BIGINT) AS sd
        FROM r2, range(1, {_EMB_DIM + 1}) t(pos)
        GROUP BY 1
    ),
    ss AS (
        SELECT sum(CAST(sd AS HUGEINT) * sd) AS ssum FROM dims
    )
    SELECT n AS n_vectors,
           round(CAST(floor(CAST(norm_sum AS DOUBLE) / n + 0.5e0)
                      AS BIGINT) / 1000000e0, 6) AS mean_norm,
           round(CAST(floor(sqrt(CAST(ssum AS DOUBLE)) / n + 0.5e0)
                      AS BIGINT) / 1000000e0, 6) AS centroid_norm,
           CASE WHEN n >= 2 THEN
               round(CAST(floor(CAST(ssum - usq AS DOUBLE)
                                / (n * (n - 1)) / 1000000e0 + 0.5e0)
                          AS BIGINT) / 1000000e0, 6) END
               AS mean_pairwise_cosine
    FROM scal CROSS JOIN ss
"""


@register("embedding_anisotropy", _ANISO_ORACLE)
def embedding_anisotropy(spark, sf_dir):
    """Corpus-level embedding anisotropy: the exact mean pairwise
    cosine over all ordered pairs of unit-normalized embeddings via
    the sum-vector identity, plus the mean raw norm and centroid norm
    (see the section comment for the identity and the integer
    quantization chain).

    Scale: NO pairwise work anywhere — one linear scan computes the
    per-row quantized unit vectors and two scalar integer sums; one
    posexplode map-side-combined aggregate folds the corpus to d=64
    per-dim sums; the ‖Σu‖² reduction runs over those 64 rows with
    exact decimal(38) products. The identity IS the 100 TB design:
    the naive mean pairwise cosine is n² and this is one scan."""
    # ONE Arrow-batched pass folds the corpus to d=64 partial rows per
    # batch; the 64-key merge carries everything — per-pos count and
    # per-pos Σnorm are each exactly the global n and Σnorm (every
    # kept row contributes once to every pos)
    dims = (
        _vecs(spark, sf_dir)
        .select("embedding")
        .mapInPandas(_aniso_partials, schema=_ANISO_SCHEMA)
        .groupBy("pos")
        .agg(
            F.sum("sd").cast("bigint").alias("sd"),
            F.sum("vsq").cast("bigint").alias("vsq"),
            F.sum("cnt").cast("bigint").alias("cnt"),
            F.sum("ns").cast("bigint").alias("ns"),
        )
    )
    # ONE aggregate over the 64 partials yields all four scalars —
    # a separate ssum aggregate + crossJoin made Catalyst plan the
    # whole scan/normalize/explode subtree twice (column pruning
    # defeats ReuseExchange; r16 review, plan-verified)
    scal = dims.agg(
        # empty/all-zero corpus: dims has no rows, max→NULL, but the
        # oracle's count(*) over the empty kept set reads 0 — align
        # the degenerate row (the Benford empty-table ADVICE class)
        F.coalesce(F.max("cnt"), F.lit(0)).cast("bigint").alias("n"),
        F.max("ns").cast("bigint").alias("norm_sum"),
        F.sum("vsq").cast("bigint").alias("usq"),
        F.sum(F.col("sd").cast("decimal(38,0)") * F.col("sd")).alias("ssum"),
    )
    return scal.select(
        F.col("n").alias("n_vectors"),
        F.expr(
            "round(CAST(floor(CAST(norm_sum AS DOUBLE) / n + 0.5e0)"
            " AS BIGINT) / 1000000e0, 6)"
        ).alias("mean_norm"),
        F.expr(
            "round(CAST(floor(sqrt(CAST(ssum AS DOUBLE)) / n + 0.5e0)"
            " AS BIGINT) / 1000000e0, 6)"
        ).alias("centroid_norm"),
        F.expr(
            "CASE WHEN n >= 2 THEN"
            " round(CAST(floor(CAST(ssum - usq AS DOUBLE)"
            " / (n * (n - 1)) / 1000000e0 + 0.5e0)"
            " AS BIGINT) / 1000000e0, 6) END"
        ).alias("mean_pairwise_cosine"),
    )


# --- graph-expansion ANN (round 16) --------------------------------------------
#
# The navigable-small-world mechanism (Malkov & Yashunin's HNSW /
# NSW, public) as a measurable composition: a CHEAP seed stage (one
# 16-bit sign-LSH signature, seeds = top-10 candidates by Hamming
# agreement) is refined by ONE HOP through the directed k-NN graph
# (each seed contributes its top-3 cosine neighbors — "my neighbor's
# neighbor is probably my neighbor"), and the union is exact-reranked
# to top-5. The query reports, per query vector, recall@5 of the
# seeds ALONE vs recall@5 after expansion against the exact top-5 —
# the measured value of the graph hop, which is the entire reason
# graph-ANN indexes exist (parameters 32 bits / 30 seeds were the
# strongest measured gain on the near-isotropic synthetic
# embeddings: mean recall 0.3 seed-only rising ~0.2 with the hop).
# Correctness scope is the _KNN_CAP exact
# baseline (the knn_graph contract); at scale the seed stage is the
# banded multi-table LSH and the k-NN edges come from the same
# candidate generators, while the expansion join itself stays
# O(queries · seeds · k) — constant per query. Determinism: sign bits
# from the literal plane matrix (identical text both engines),
# Hamming agreement is an integer sum of per-position equalities,
# cosines round at 6 dp, every top-k tie-breaks on vec_id, and the
# recalls are single divisions of exact small ints.

_GEX_BITS = 32
_GEX_SEEDS = 30
_GEX_PLANES = S.lsh_planes(_GEX_BITS, _LSH_EMB_DIM, seed=77)


def _gex_agree_sql(qs: str, cs: str) -> str:
    return (
        "("
        + " + ".join(
            f"(CASE WHEN substr({qs}, {i + 1}, 1) = substr({cs}, {i + 1}, 1)"
            " THEN 1 ELSE 0 END)"
            for i in range(_GEX_BITS)
        )
        + ")"
    )


_GEX_ORACLE = f"""
    WITH v AS (
        SELECT vec_id, embedding, {S.norm_sql('embedding')} AS nrm,
               {S.project_signs_sql('embedding', _GEX_PLANES)} AS sig
        FROM embeddings WHERE vec_id < {_KNN_CAP}
    ),
    q AS (SELECT * FROM v WHERE vec_id < {_N_QUERIES}),
    exact AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY round({S.cosine_sql('q.embedding', 'c.embedding', 'q.nrm', 'c.nrm')}, 6) DESC,
                                c.vec_id
                   ) AS rn
            FROM q JOIN v c ON c.vec_id <> q.vec_id
        ) WHERE rn <= {_TOP_K}
    ),
    seeds AS (
        SELECT query_id, cand_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY {_gex_agree_sql('q.sig', 'c.sig')} DESC,
                                c.vec_id
                   ) AS rn
            FROM q JOIN v c ON c.vec_id <> q.vec_id
        ) WHERE rn <= {_GEX_SEEDS}
    ),
    knn AS (
        SELECT src, dst FROM (
            SELECT a.vec_id AS src, b.vec_id AS dst,
                   row_number() OVER (
                       PARTITION BY a.vec_id
                       ORDER BY round({S.cosine_sql('a.embedding', 'b.embedding', 'a.nrm', 'b.nrm')}, 6) DESC,
                                b.vec_id
                   ) AS rn
            FROM v a JOIN v b ON a.vec_id <> b.vec_id
        ) WHERE rn <= {_KNN_K}
    ),
    expanded AS (
        SELECT DISTINCT query_id, cand_id FROM (
            SELECT query_id, cand_id FROM seeds
            UNION ALL
            SELECT s.query_id, k.dst FROM seeds s JOIN knn k ON k.src = s.cand_id
        ) WHERE cand_id <> query_id
    ),
    rerank AS (
        SELECT query_id, cand_id, which, rn FROM (
            SELECT e.query_id, e.cand_id, w.which,
                   row_number() OVER (
                       PARTITION BY e.query_id, w.which
                       ORDER BY round({S.cosine_sql('q.embedding', 'c.embedding', 'q.nrm', 'c.nrm')}, 6) DESC,
                                e.cand_id
                   ) AS rn
            FROM expanded e
            JOIN q ON q.vec_id = e.query_id
            JOIN v c ON c.vec_id = e.cand_id
            CROSS JOIN (SELECT unnest(['expanded', 'seed']) AS which) w
            WHERE w.which = 'expanded'
               OR EXISTS (SELECT 1 FROM seeds s
                          WHERE s.query_id = e.query_id
                            AND s.cand_id = e.cand_id)
        ) WHERE rn <= {_TOP_K}
    ),
    hits AS (
        SELECT r.query_id, r.which, CAST(count(*) AS BIGINT) AS h
        FROM rerank r JOIN exact x
            ON x.query_id = r.query_id AND x.neighbor_id = r.cand_id
        GROUP BY 1, 2
    ),
    base AS (
        SELECT q.vec_id AS query_id,
               CAST((SELECT count(*) FROM seeds s
                     WHERE s.query_id = q.vec_id) AS BIGINT) AS n_seeds,
               CAST((SELECT count(*) FROM expanded e
                     WHERE e.query_id = q.vec_id) AS BIGINT) AS n_expanded
        FROM q
    )
    SELECT b.query_id, b.n_seeds, b.n_expanded,
           round(CAST(coalesce(hs.h, 0) AS DOUBLE) / {_TOP_K}, 6)
               AS recall_seed_only,
           round(CAST(coalesce(hx.h, 0) AS DOUBLE) / {_TOP_K}, 6)
               AS recall_expanded
    FROM base b
    LEFT JOIN hits hs ON hs.query_id = b.query_id AND hs.which = 'seed'
    LEFT JOIN hits hx ON hx.query_id = b.query_id AND hx.which = 'expanded'
    ORDER BY b.query_id
"""


@register("similarity_graph_expand_topk", _GEX_ORACLE)
def similarity_graph_expand_topk(spark, sf_dir):
    """Per-query recall@5 of a cheap 32-bit sign-LSH seed list before
    and after ONE k-NN-graph expansion hop, exact-reranked — the NSW
    mechanism as a measurable composition (see the section comment
    for the scope and determinism contracts).

    Scale: the all-pairs stages exist only as the capped exact
    baseline (the knn_graph contract — at 100 TB seeds and edges come
    from the banded LSH/IVF candidate generators); the expansion hop
    itself is the operator's point and is O(queries·seeds·k) — a
    broadcast join of a constant-size seed list against the k-NN edge
    relation; reranks and recalls are per-query windows over
    ≤ seeds·(k+1) rows."""
    # the 32-plane signature expression must be evaluated ONCE into a
    # persisted relation (operators/similarity.py project_signs
    # contract) — v feeds q, the candidate side, AND the Hamming
    # pairs, so an unpersisted sig would replicate the 32×64-literal
    # expression into every branch
    v = session_cached(
        spark,
        "gex_signatures",
        sf_dir,
        lambda: _vecs(spark, sf_dir)
        .filter(F.col("vec_id") < _KNN_CAP)
        .select(
            "vec_id",
            "embedding",
            S.norm(F.col("embedding")).alias("nrm"),
            S.project_signs(F.col("embedding"), _GEX_PLANES).alias("sig"),
        ),
    )
    q = v.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
        F.col("sig").alias("q_sig"),
    )
    c = v.select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("c_emb"),
        F.col("nrm").alias("c_nrm"),
        F.col("sig").alias("c_sig"),
    )
    pairs = q.join(F.broadcast(c), F.col("cand_id") != F.col("query_id"))
    cos = F.round(
        S.cosine(
            F.col("q_emb"), F.col("c_emb"), F.col("q_nrm"), F.col("c_nrm")
        ),
        6,
    )
    agree = F.expr(_gex_agree_sql("q_sig", "c_sig"))
    # score every (query, candidate) pair ONCE — ≤ queries×cap rows of
    # four scalars — so the exact top-k and the LSH seed list both read
    # the materialized scores instead of each re-running the broadcast
    # cross join over the signature relation
    scored = pairs.select(
        "query_id", "cand_id", cos.alias("cos_sim"), agree.alias("agree")
    ).localCheckpoint(eager=True)
    w_exact = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("cand_id")
    )
    exact = (
        scored.withColumn("rn", F.row_number().over(w_exact))
        .filter(F.col("rn") <= _TOP_K)
        .select("query_id", F.col("cand_id").alias("neighbor_id"))
    )
    w_seed = Window.partitionBy("query_id").orderBy(
        F.desc("agree"), F.asc("cand_id")
    )
    seeds = (
        scored.withColumn("rn", F.row_number().over(w_seed))
        .filter(F.col("rn") <= _GEX_SEEDS)
        .select("query_id", "cand_id")
    )
    # ≤ queries×seeds rows, consumed by FIVE plan branches (expansion
    # union ×2, its own rerank, the seed count, and transitively both
    # expanded consumers) — checkpoint so the signature cross join +
    # seed window run once per invocation (the _spend_rank_cells
    # convention; r16 optimization round: the un-checkpointed shape
    # re-ran them ~6×, 7 embedding scans / 12 windows in one plan)
    seeds = seeds.localCheckpoint(eager=True)
    knn = _directed_knn(spark, sf_dir).select("src", "dst")
    expanded = (
        seeds.unionAll(
            seeds.join(
                knn, seeds["cand_id"] == knn["src"]
            ).select("query_id", F.col("dst").alias("cand_id"))
        )
        .where(F.col("cand_id") != F.col("query_id"))
        .distinct()
    )
    # ≤ queries×seeds×(k+1) rows, consumed by its rerank and the
    # per-query expansion count
    expanded = expanded.localCheckpoint(eager=True)
    def rerank(cands, which):
        w = Window.partitionBy("query_id").orderBy(
            F.desc("cos_sim"), F.asc("cand_id")
        )
        return (
            cands.join(
                F.broadcast(
                    q.select("query_id", "q_emb", "q_nrm")
                ),
                "query_id",
            )
            .join(
                c.select("cand_id", "c_emb", "c_nrm"), "cand_id"
            )
            .select("query_id", "cand_id", cos.alias("cos_sim"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= _TOP_K)
            .select("query_id", "cand_id", F.lit(which).alias("which"))
        )

    rr = rerank(expanded, "expanded").unionAll(rerank(seeds, "seed"))
    hits = (
        rr.join(
            exact,
            (rr["query_id"] == exact["query_id"])
            & (rr["cand_id"] == exact["neighbor_id"]),
        )
        .groupBy(rr["query_id"].alias("query_id"), "which")
        .agg(F.count("*").cast("bigint").alias("h"))
    )
    base = (
        q.select("query_id")
        .join(
            seeds.groupBy("query_id").agg(
                F.count("*").cast("bigint").alias("n_seeds")
            ),
            "query_id",
            "left",
        )
        .join(
            expanded.groupBy("query_id").agg(
                F.count("*").cast("bigint").alias("n_expanded")
            ),
            "query_id",
            "left",
        )
    )
    hs = hits.where(F.col("which") == "seed").select(
        "query_id", F.col("h").alias("h_seed")
    )
    hx = hits.where(F.col("which") == "expanded").select(
        "query_id", F.col("h").alias("h_exp")
    )
    return (
        base.join(hs, "query_id", "left")
        .join(hx, "query_id", "left")
        .select(
            "query_id",
            "n_seeds",
            "n_expanded",
            F.round(
                F.coalesce(F.col("h_seed"), F.lit(0)).cast("double")
                / _TOP_K,
                6,
            ).alias("recall_seed_only"),
            F.round(
                F.coalesce(F.col("h_exp"), F.lit(0)).cast("double")
                / _TOP_K,
                6,
            ).alias("recall_expanded"),
        )
        .orderBy("query_id")
    )


# --- Johnson–Lindenstrauss projection distortion audit (round 16) --------------
#
# The pre-deployment audit for replacing exact d-dim search with a
# k-dim random projection: JL (with the Achlioptas ±1 construction —
# public classic) says a sign-matrix projection y = Sx/√k preserves
# pairwise squared distances within 1±ε w.h.p. This operator MEASURES
# that on a bounded probe set before any pipeline swaps its distance
# computations: for every probe pair, the ratio
#   ‖y_u − y_v‖² / (k·micro-exact ‖x_u − x_v‖²)
# (the 1/√k scaling folded into the denominator), reported as
# mean/min/max distortion and the fraction within ±25 %.
#
# Determinism: embeddings are micro-quantized per COMPONENT to exact
# BIGINTs; the sign s(j,i) is the parity of the first hex digit of
# md5('j:i') — a data-independent matrix both engines derive
# identically; projections and both squared distances are exact
# int64 sums, so the ONLY rounding site is the final per-pair ratio
# (floor-quantized to micro before the cross-pair aggregates, the
# Theil per-group rule). Identical-probe pairs (zero distance) are
# excluded and counted.
#
# Scale: everything after the probe filter touches <= _JL_PROBES
# rows (then pairs of them) — the audit is probe-bounded by
# construction; the corpus-wide projection it green-lights is a
# map-only transform at any scale.

_JL_PROBES = 32
_JL_K = 16

_JL_SIGN_SQL = (
    "(CASE WHEN (strpos('0123456789abcdef',"
    " substr(md5(CAST(j AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 1))"
    " - 1) % 2 = 1 THEN 1 ELSE -1 END)"
)
_JL_SIGN_SPARK = (
    "(CASE WHEN (instr('0123456789abcdef',"
    " substr(md5(concat(CAST(j AS STRING), ':', CAST(i AS STRING))), 1, 1))"
    " - 1) % 2 = 1 THEN 1 ELSE -1 END)"
)

_JL_ORACLE = f"""
    WITH p AS (
        SELECT vec_id, embedding FROM embeddings
        WHERE vec_id < {_JL_PROBES}
    ),
    pq AS (
        SELECT vec_id, i - 1 AS i,
               CAST(floor(embedding[i] * 1000000e0 + 0.5e0) AS BIGINT)
                   AS e
        FROM p, unnest(generate_series(1, len(embedding))) AS t(i)
    ),
    jg AS (SELECT unnest(generate_series(0, {_JL_K - 1})) AS j),
    proj AS (
        SELECT vec_id, j,
               CAST(sum({_JL_SIGN_SQL} * e) AS BIGINT) AS y
        FROM pq CROSS JOIN jg GROUP BY 1, 2
    ),
    d2 AS (
        SELECT a.vec_id AS u, b.vec_id AS v,
               CAST(sum((a.e - b.e) * (a.e - b.e)) AS BIGINT) AS dd
        FROM pq a JOIN pq b ON a.i = b.i AND a.vec_id < b.vec_id
        GROUP BY 1, 2
    ),
    p2 AS (
        SELECT a.vec_id AS u, b.vec_id AS v,
               CAST(sum((a.y - b.y) * (a.y - b.y)) AS BIGINT) AS pp
        FROM proj a JOIN proj b ON a.j = b.j AND a.vec_id < b.vec_id
        GROUP BY 1, 2
    ),
    r AS (
        SELECT d2.u, d2.v, d2.dd, p2.pp,
               CASE WHEN d2.dd > 0 THEN
                   CAST(floor(CAST(p2.pp AS DOUBLE)
                              / ({_JL_K}e0 * d2.dd)
                              * 1000000e0 + 0.5e0) AS BIGINT)
               END AS ratio_m
        FROM d2 JOIN p2 ON p2.u = d2.u AND p2.v = d2.v
    )
    SELECT CAST({_JL_K} AS BIGINT) AS k_dims,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(coalesce(sum(CASE WHEN ratio_m IS NULL
                                  THEN 1 ELSE 0 END), 0) AS BIGINT)
               AS n_zero_dist_pairs,
           round(CAST(floor(CAST(sum(ratio_m) AS DOUBLE)
                            / NULLIF(count(ratio_m), 0) + 0.5e0)
                      AS BIGINT) / 1000000e0, 6) AS mean_distortion,
           round(min(ratio_m) / 1000000e0, 6) AS min_distortion,
           round(max(ratio_m) / 1000000e0, 6) AS max_distortion,
           round(CAST(floor(CAST(coalesce(
                     sum(CASE WHEN ratio_m BETWEEN 750000 AND 1250000
                              THEN 1 ELSE 0 END), 0) AS DOUBLE)
                            / NULLIF(count(ratio_m), 0)
                            * 1000000e0 + 0.5e0) AS BIGINT)
                 / 1000000e0, 6) AS frac_within_25pct
    FROM r
"""


@register("embedding_jl_projection_audit", _JL_ORACLE)
def embedding_jl_projection_audit(spark, sf_dir):
    """Johnson–Lindenstrauss distortion audit of the deterministic
    ±1 sign projection to {k} dims on a {p}-probe pair grid:
    mean/min/max pairwise squared-distance distortion and the
    fraction of pairs within ±25 % — the measured go/no-go before a
    pipeline swaps exact distances for projected ones (see the
    section comment for the exact-integer contract; the only
    rounding site is the per-pair ratio).

    Scale: probe-bounded by construction — every relation after the
    vec_id filter holds <= {p} rows, their pairs, or their
    {k}·d exploded components; the signs are per-(j, i) md5 parities
    computed on those bounded rows only.""".format(
        k=_JL_K, p=_JL_PROBES
    )
    p = (
        _vecs(spark, sf_dir)
        .where(F.col("vec_id") < _JL_PROBES)
        .select("vec_id", "embedding")
    )
    pq = p.select(
        "vec_id",
        F.posexplode("embedding").alias("i", "x"),
    ).select(
        "vec_id",
        "i",
        F.expr(micro_units_sql("x")).alias("e"),
    )
    # bounded components feed projections AND exact distances
    pq = pq.localCheckpoint(eager=True)
    jg = spark.range(_JL_K).select(F.col("id").alias("j"))
    proj = (
        pq.crossJoin(F.broadcast(jg))
        .groupBy("vec_id", "j")
        .agg(
            F.sum(F.expr(f"{_JL_SIGN_SPARK} * e"))
            .cast("bigint")
            .alias("y")
        )
    )
    a, b = pq.alias("a"), pq.alias("b")
    d2 = (
        a.join(
            b,
            (F.col("a.i") == F.col("b.i"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .groupBy(
            F.col("a.vec_id").alias("u"), F.col("b.vec_id").alias("v")
        )
        .agg(
            F.sum(
                (F.col("a.e") - F.col("b.e"))
                * (F.col("a.e") - F.col("b.e"))
            )
            .cast("bigint")
            .alias("dd")
        )
    )
    pa_, pb = proj.alias("pa"), proj.alias("pb")
    p2 = (
        pa_.join(
            pb,
            (F.col("pa.j") == F.col("pb.j"))
            & (F.col("pa.vec_id") < F.col("pb.vec_id")),
        )
        .groupBy(
            F.col("pa.vec_id").alias("u"), F.col("pb.vec_id").alias("v")
        )
        .agg(
            F.sum(
                (F.col("pa.y") - F.col("pb.y"))
                * (F.col("pa.y") - F.col("pb.y"))
            )
            .cast("bigint")
            .alias("pp")
        )
    )
    r = d2.join(p2, ["u", "v"]).select(
        "dd",
        "pp",
        F.expr(
            "CASE WHEN dd > 0 THEN "
            + micro_units_sql(f"CAST(pp AS DOUBLE) / ({_JL_K}e0 * dd)")
            + " END"
        ).alias("ratio_m"),
    )
    return r.agg(
        F.lit(_JL_K).cast("bigint").alias("k_dims"),
        F.count("*").cast("bigint").alias("n_pairs"),
        F.coalesce(
            F.sum(F.when(F.col("ratio_m").isNull(), 1).otherwise(0)),
            F.lit(0),
        )
        .cast("bigint")
        .alias("n_zero_dist_pairs"),
        F.expr(
            "round(CAST(floor(CAST(sum(ratio_m) AS DOUBLE)"
            " / NULLIF(count(ratio_m), 0) + 0.5e0) AS BIGINT)"
            " / 1000000e0, 6)"
        ).alias("mean_distortion"),
        F.round(F.min("ratio_m") / F.expr("1000000e0"), 6).alias(
            "min_distortion"
        ),
        F.round(F.max("ratio_m") / F.expr("1000000e0"), 6).alias(
            "max_distortion"
        ),
        F.expr(micro6_sql(
            "CAST(coalesce(sum(CASE WHEN ratio_m"
            " BETWEEN 750000 AND 1250000 THEN 1 ELSE 0 END), 0)"
            " AS DOUBLE) / NULLIF(count(ratio_m), 0)"
        )).alias("frac_within_25pct"),
    )
