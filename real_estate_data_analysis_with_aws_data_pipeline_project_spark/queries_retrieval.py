"""Retrieval / ranking operators ([ext] depth, round 3).

The query-side completion of the LLM-data story (SURVEY.md §2.11):
once a corpus is deduped, filtered and embedded, a training/RAG
pipeline *retrieves* from it — sparse full-text scoring (BM25), an
inverted-index build, dense+sparse hybrid fusion (reciprocal-rank
fusion), and link-analysis prioritization (PageRank over the
customer–supplier order graph, the classic crawl-frontier ranking).

Scale shapes:
- BM25: corpus statistics (N, df per query term, avgdl) are ONE
  map-side-combinable aggregate row broadcast back to a per-row
  scoring expression — no per-term explode, no shuffle of the corpus.
- Inverted index: one groupBy(term) with capped posting heads (the
  stopword-skew guard), df exact.
- RRF: two window ranks + an equi-join on doc_id.
- PageRank: 3 unrolled Pregel-style iterations, each one
  edges⋈rank join + one groupBy(dst) shuffle — FIXED-POINT integer
  arithmetic (contributions are ``pr div outdeg``) so the result is
  bit-identical regardless of partitioning or sum order, with no
  float-rounding channel between the engines.

Reference parity: the reference engine has no retrieval surface
(SURVEY.md §2 marks these [ext]); semantics follow the public BM25
(Robertson/Spärck Jones, k1=1.2 b=0.75, Lucene's ln(1+…) idf) and
RRF (Cormack et al., k=60) formulations.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions.scalar import micro6_sql, micro_units_sql
from .operators import similarity as S
from .operators.session_cache import session_cached
from .operators import text as X
from .queries_dedup import SHINGLES_SQL, cached_shingles
from .registry import register
from .session import local_frame
from .sources.catalog import load_table

# BM25 constants (classic Robertson values; decimal literals parse to
# identical doubles in both engines).
_BM25_K1 = "1.2"
_BM25_K1_PLUS_1 = "2.2"
_BM25_B = "0.75"
_BM25_ONE_MINUS_B = "0.25"
_BM25_TERMS = ("spark", "vector", "stream", "window")
_BM25_TOP_K = 20
_RRF_K = 60
_RRF_TOP_K = 10
_RRF_CAND = 100  # per-retriever list depth fed into the fusion
_IDX_POSTING_CAP = 20

_PR_SCALE = 10_000_000  # fixed-point PageRank unit (1.0 == 1e7)
_PR_TELEPORT = 1_500_000  # 0.15 * SCALE, exact
_PR_ITERS = 3
_PR_TOP_K = 25


# --- BM25 ------------------------------------------------------------------
#
# Both engines compute, from one definition:
#   tf_i  = |{tokens == term_i}|            (per doc, array filter)
#   dl    = |tokens|
#   stats = (N, avgdl = sum(dl)/N as explicit double division,
#            df_i = |{docs: tf_i > 0}|)     (one aggregate row)
#   idf_i = round(ln(1 + (N - df_i + 0.5)/(df_i + 0.5)), 6)
#   score = round(Σ_i idf_i · tf_i·(k1+1) / (tf_i + k1·(1-b+b·dl/avgdl)), 4)
# The Σ is a FIXED-ORDER 4-term addition (not an aggregate), so there
# is no sum-order nondeterminism; ln is the only transcendental and is
# rounded at 6 dp per the cross-engine libm rule.


def _bm25_term_sql(i: int) -> str:
    return (
        f"round(ln(1 + (n_docs - df{i} + 0.5) / (df{i} + 0.5)), 6)"
        f" * (tf{i} * {_BM25_K1_PLUS_1})"
        f" / (tf{i} + {_BM25_K1} * ({_BM25_ONE_MINUS_B}"
        f" + {_BM25_B} * dl / avgdl))"
    )


_BM25_SCORED_SQL = f"""
    t AS (SELECT doc_id, {X.tokens_sql()} AS toks FROM documents),
    f AS (
        SELECT doc_id,
               CAST(len(toks) AS BIGINT) AS dl,
               {", ".join(
                   f"CAST(len(list_filter(toks, x -> x = '{term}')) AS BIGINT)"
                   f" AS tf{i}"
                   for i, term in enumerate(_BM25_TERMS))}
        FROM t
    ),
    stats AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl,
               {", ".join(
                   f"CAST(sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END)"
                   f" AS BIGINT) AS df{i}"
                   for i in range(len(_BM25_TERMS)))}
        FROM f
    ),
    scored AS (
        SELECT doc_id,
               round({" + ".join(_bm25_term_sql(i)
                                 for i in range(len(_BM25_TERMS)))}, 4)
                   AS bm25
        FROM f CROSS JOIN stats
    )
"""


def _tf_projection(
    docs: DataFrame, terms: tuple[str, ...] = _BM25_TERMS
) -> DataFrame:
    """(doc_id, dl, tf0..tfN) — the ONE-pass token projection every
    term-scoring operator shares (BM25, query likelihood, NDCG, tau,
    and the RM3 re-scorer via the ``terms`` parameter); factored so
    the term handling and the F.filter closure pitfall live in
    exactly one place (r9 review; r11 review re-merged the RM3
    copy)."""
    toks = docs.select("doc_id", X.tokens().alias("toks"))

    def _eq(term: str):
        # closure factory: F.filter fills EVERY lambda param (even
        # default-arg ones) with Columns, so `lambda x, t=term:` would
        # bind t to the element INDEX — see pyspark-expression-pitfalls
        return lambda x: x == F.lit(term)

    return toks.select(
        "doc_id",
        F.size("toks").cast("bigint").alias("dl"),
        *[
            F.size(F.filter("toks", _eq(term)))
            .cast("bigint")
            .alias(f"tf{i}")
            for i, term in enumerate(terms)
        ],
    )


def _bm_stats(
    f: DataFrame, n_terms: int = len(_BM25_TERMS)
) -> DataFrame:
    """1-row BM25 corpus statistics (N, avgdl, per-term df)."""
    return f.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
        *[
            F.sum(F.when(F.col(f"tf{i}") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias(f"df{i}")
            for i in range(n_terms)
        ],
    )


def _ql_stats(f: DataFrame) -> DataFrame:
    """1-row query-likelihood corpus statistics (collection length,
    per-term collection frequencies)."""
    return f.agg(
        F.sum("dl").cast("bigint").alias("coll_len"),
        *[
            F.sum(f"tf{i}").cast("bigint").alias(f"cf{i}")
            for i in range(len(_BM25_TERMS))
        ],
    )


def _dual_scored(f: DataFrame) -> DataFrame:
    """(doc_id, bm25, qlm, rel): both retrievers' scores plus the
    term-coverage relevance grade, from one projection + two 1-row
    broadcast stats — shared by the NDCG and tau evaluators."""
    n = len(_BM25_TERMS)
    return (
        f.crossJoin(F.broadcast(_bm_stats(f)))
        .crossJoin(F.broadcast(_ql_stats(f)))
        .select(
            "doc_id",
            F.round(
                F.expr(" + ".join(f"({_bm25_term_sql(i)})" for i in range(n))),
                4,
            ).alias("bm25"),
            F.expr(
                " + ".join(f"({_ql_term_sql(i)})" for i in range(n))
            ).alias("qlm"),
            F.expr(
                " + ".join(
                    f"(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END)"
                    for i in range(n)
                )
            )
            .cast("bigint")
            .alias("rel"),
        )
    )


def cached_tf_projection(spark, sf_dir: str) -> DataFrame:
    """Session-persisted default-term tf projection (doc_id, dl,
    tf0..tfN — doc-grain, six integers per document). Every consumer
    feeds it into BOTH a per-row scoring side and a 1-row stats
    aggregate; without a materialization those are two independent
    map-only branches, so the tokenize + per-term array filters ran
    twice per invocation (r16 optimization round, guide §2.4). At
    warehouse scale this is the term-frequency projection an index
    build materializes once."""
    return session_cached(
        spark,
        "tf_projection_default",
        sf_dir,
        lambda: _tf_projection(load_table(spark, sf_dir, "documents")),
    )



def cached_dual_scored(spark, sf_dir: str) -> DataFrame:
    """Session-persisted ``_dual_scored`` relation (doc_id, bm25, qlm,
    rel) over ``cached_tf_projection``: one corpus scoring read by the
    ranking evaluators, the PRF candidates and the probe-set
    queries."""
    return session_cached(
        spark,
        "retrieval_dual_scored",
        sf_dir,
        lambda: _dual_scored(cached_tf_projection(spark, sf_dir)),
    )

def _bm25_scored(f: DataFrame) -> DataFrame:
    """(doc_id, bm25) for every document, from a tf projection
    (callers pass ``cached_tf_projection`` so the scoring row side
    and the 1-row stats aggregate read one materialized relation) —
    Spark twin of ``_BM25_SCORED_SQL``."""
    scored = f.crossJoin(F.broadcast(_bm_stats(f)))
    term_cols = [F.expr(_bm25_term_sql(i)) for i in range(len(_BM25_TERMS))]
    total = term_cols[0]
    for c in term_cols[1:]:
        total = total + c
    return scored.select("doc_id", F.round(total, 4).alias("bm25"))


@register(
    "retrieval_bm25_topk",
    f"""
    WITH {_BM25_SCORED_SQL}
    SELECT doc_id, bm25 FROM scored
    WHERE bm25 > 0
    ORDER BY bm25 DESC, doc_id
    LIMIT {_BM25_TOP_K}
    """,
)
def retrieval_bm25_topk(spark, sf_dir):
    """BM25 top-k full-text retrieval for a fixed query term set.

    Corpus statistics (N, avgdl, per-term df) are computed as ONE
    aggregate row (map-side partials, broadcast back), term
    frequencies as per-row array filters — the whole corpus is scanned
    once with no explode and no shuffle beyond the 1-row aggregate;
    top-k plans as TakeOrderedAndProject. That shape is unchanged at
    100 TB: stats are O(1) state, scoring is embarrassingly parallel.
    """
    scored = _bm25_scored(cached_tf_projection(spark, sf_dir))
    return (
        scored.filter(F.col("bm25") > 0)
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(_BM25_TOP_K)
    )


# --- inverted index --------------------------------------------------------


@register(
    "retrieval_build_inverted_index",
    f"""
    WITH t AS (SELECT doc_id, {X.tokens_sql()} AS toks FROM documents),
    x AS (SELECT DISTINCT doc_id, unnest(toks) AS term FROM t)
    SELECT term,
           CAST(count(*) AS BIGINT) AS df,
           array_to_string(
               list_sort(list(doc_id))[1:{_IDX_POSTING_CAP}], '|')
               AS postings_head
    FROM x
    WHERE term <> ''
    GROUP BY term
    ORDER BY term
    """,
)
def retrieval_build_inverted_index(spark, sf_dir):
    """Inverted-index build: term → exact document frequency + the
    first ``_IDX_POSTING_CAP`` posting doc_ids (sorted, joined as a
    string so the comparison is value-exact). One groupBy(term)
    shuffle of DISTINCT (doc, term) pairs; the posting-head cap is the
    stopword-skew guard — df stays exact while no reducer materializes
    an unbounded list. At 100 TB the posting lists themselves would be
    written as a bucketed sink partitioned by term hash; the head here
    stands in for that artifact's summary row."""
    docs = load_table(spark, sf_dir, "documents")
    x = (
        docs.select("doc_id", F.explode(X.tokens()).alias("term"))
        .filter(F.col("term") != "")
        .distinct()
    )
    return (
        x.groupBy("term")
        .agg(
            F.count("*").cast("bigint").alias("df"),
            F.array_join(
                F.slice(
                    F.sort_array(F.collect_list("doc_id")),
                    1,
                    _IDX_POSTING_CAP,
                ),
                "|",
            ).alias("postings_head"),
        )
        .orderBy("term")
    )


# --- hybrid dense+sparse retrieval (reciprocal-rank fusion) ----------------


@register(
    "retrieval_hybrid_rrf",
    f"""
    WITH {_BM25_SCORED_SQL},
    sparse0 AS (
        SELECT doc_id, bm25 FROM scored
        ORDER BY bm25 DESC, doc_id LIMIT {_RRF_CAND}
    ),
    sparse AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY bm25 DESC, doc_id) AS sparse_rank
        FROM sparse0
    ),
    v AS (
        SELECT vec_id, embedding, {S.norm_sql('embedding')} AS nrm
        FROM embeddings
    ),
    q AS (SELECT * FROM v WHERE vec_id = 0),
    dense0 AS (
        SELECT c.vec_id AS doc_id,
               round({S.cosine_sql('q.embedding', 'c.embedding',
                                   'q.nrm', 'c.nrm')}, 6) AS cos_sim
        FROM v c CROSS JOIN q
        WHERE c.vec_id <> 0
        ORDER BY cos_sim DESC, doc_id LIMIT {_RRF_CAND}
    ),
    dense AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY cos_sim DESC, doc_id) AS dense_rank
        FROM dense0
    )
    SELECT coalesce(s.doc_id, d.doc_id) AS doc_id,
           CAST(coalesce(s.sparse_rank, 0) AS BIGINT) AS sparse_rank,
           CAST(coalesce(d.dense_rank, 0) AS BIGINT) AS dense_rank,
           (CASE WHEN s.sparse_rank IS NULL THEN 0.0
                 ELSE 1.0 / ({_RRF_K} + s.sparse_rank) END
            + CASE WHEN d.dense_rank IS NULL THEN 0.0
                   ELSE 1.0 / ({_RRF_K} + d.dense_rank) END) AS rrf_score
    FROM sparse s FULL OUTER JOIN dense d ON d.doc_id = s.doc_id
    ORDER BY rrf_score DESC, doc_id
    LIMIT {_RRF_TOP_K}
    """,
)
def retrieval_hybrid_rrf(spark, sf_dir):
    """Hybrid retrieval: fuse the BM25 ranking with a dense
    cosine-similarity ranking (query = embedding of vec_id 0) via
    reciprocal-rank fusion, rrf = Σ 1/(60+rank).

    Each retriever contributes its top-``_RRF_CAND`` list (the
    canonical RRF setup — fusion over retrieved lists, not full
    corpora), ranked over its OWN coverage (text docs vs embedded
    docs — only 2000 of 5000 sf0.1 docs carry embeddings, the
    realistic partial-embedding case) and fused over the UNION of the
    two lists — a doc absent from one list contributes 0 for it, and
    its absent rank surfaces as the 0 sentinel (no nullable-int
    dtype-promotion hazard in the comparison).
    Ranks are computed on ROUNDED scores (bm25 4 dp,
    cosine 6 dp) with doc_id tie-breaks so the orderings are
    engine-exact, and the fusion itself is pure rational arithmetic
    on integer ranks — bit-identical, no rounding channel. Each
    truncation plans as TakeOrderedAndProject (distributed partial
    top-k, no global sort); the row_number windows then run over
    ≤ _RRF_CAND rows by construction — bounded, not a scale hazard."""
    docs = load_table(spark, sf_dir, "documents")
    sparse = (
        _bm25_scored(cached_tf_projection(spark, sf_dir))
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(_RRF_CAND)
        .select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.desc("bm25"), "doc_id"))
            .alias("sparse_rank"),
        )
    )
    v = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", S.norm(F.col("embedding")).alias("nrm")
    )
    q = v.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_emb"), F.col("nrm").alias("q_nrm")
    )
    dense0 = (
        v.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(
                S.cosine(
                    F.col("q_emb"),
                    F.col("embedding"),
                    F.col("q_nrm"),
                    F.col("nrm"),
                ),
                6,
            ).alias("cos_sim"),
        )
    )
    dense = (
        dense0.orderBy(F.desc("cos_sim"), "doc_id")
        .limit(_RRF_CAND)
        .select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.desc("cos_sim"), "doc_id"))
            .alias("dense_rank"),
        )
    )
    rrf = F.when(
        F.col("sparse_rank").isNull(), F.lit(0.0)
    ).otherwise(1.0 / (_RRF_K + F.col("sparse_rank"))) + F.when(
        F.col("dense_rank").isNull(), F.lit(0.0)
    ).otherwise(1.0 / (_RRF_K + F.col("dense_rank")))
    return (
        sparse.join(dense, "doc_id", "full")  # union of the two lists
        .select(
            "doc_id",
            F.coalesce("sparse_rank", F.lit(0)).cast("bigint")
            .alias("sparse_rank"),
            F.coalesce("dense_rank", F.lit(0)).cast("bigint")
            .alias("dense_rank"),
            rrf.alias("rrf_score"),
        )
        .orderBy(F.desc("rrf_score"), "doc_id")
        .limit(_RRF_TOP_K)
    )


# --- PageRank over the order graph -----------------------------------------
#
# Fixed-point integer PageRank: pr is an integer in units of 1e-7
# (SCALE=1e7), contributions are pr div outdeg (truncating integer
# division — all values positive so Spark's div and DuckDB's // agree),
# damping is (85·Σ) div 100, teleport 0.15·SCALE exactly. Integer sums
# are associative-commutative EXACTLY, so partitioning/sum order cannot
# produce a last-ulp divergence — the float-PageRank hash hazard is
# designed out rather than rounded away.

_PR_EDGES_SQL = """
    eb AS (
        SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    edges AS (
        SELECT 'C' AS src_t, c AS src, 'S' AS dst_t, s AS dst FROM eb
        UNION ALL
        SELECT 'S', s, 'C', c FROM eb
    ),
    deg AS (
        SELECT src_t, src, CAST(count(*) AS BIGINT) AS outdeg
        FROM edges GROUP BY src_t, src
    )
"""


def _pr_iter_sql(prev: str, out: str) -> str:
    return f"""
    {out} AS (
        SELECT n.src_t AS t, n.src AS id,
               CAST({_PR_TELEPORT}
                    + (85 * coalesce(m.s, 0)) // 100 AS BIGINT) AS pr
        FROM deg n LEFT JOIN (
            SELECT e.dst_t, e.dst,
                   CAST(sum(p.pr // d.outdeg) AS BIGINT) AS s
            FROM edges e
            JOIN {prev} p ON p.t = e.src_t AND p.id = e.src
            JOIN deg d ON d.src_t = e.src_t AND d.src = e.src
            GROUP BY e.dst_t, e.dst
        ) m ON m.dst_t = n.src_t AND m.dst = n.src
    )"""


@register(
    "graph_pagerank_orders",
    f"""
    WITH {_PR_EDGES_SQL},
    pr0 AS (
        SELECT src_t AS t, src AS id, CAST({_PR_SCALE} AS BIGINT) AS pr
        FROM deg
    ),
    {",".join(_pr_iter_sql(f"pr{i}", f"pr{i + 1}")
              for i in range(_PR_ITERS))}
    SELECT t AS node_type, id AS node_id, pr
    FROM pr{_PR_ITERS}
    ORDER BY pr DESC, node_type, node_id
    LIMIT {_PR_TOP_K}
    """,
)
def graph_pagerank_orders(spark, sf_dir):
    """PageRank (3 unrolled iterations, damping 0.85, fixed-point
    integer arithmetic) over the undirected customer↔supplier graph
    induced by orders⋈lineitem — the link-analysis prioritization a
    crawl/curation pipeline runs over its source graph.

    Pregel shape: each iteration is one edges⋈rank equi-join plus one
    groupBy(dst) shuffle; the edge relation is built once and
    persisted (an iterative consumer would checkpoint it). Integer
    fixed-point contributions make the result bit-identical under any
    partitioning — no floating sum-order channel."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    eb = (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    # session-cached (ADVICE r3): the 3 unrolled iterations all consume
    # this relation; repeated invocations reuse one persisted copy
    edges = session_cached(
        spark, "pagerank_edges", sf_dir,
        lambda: eb.select(
            F.lit("C").alias("src_t"),
            F.col("c").alias("src"),
            F.lit("S").alias("dst_t"),
            F.col("s").alias("dst"),
        ).unionAll(
            eb.select(
                F.lit("S").alias("src_t"),
                F.col("s").alias("src"),
                F.lit("C").alias("dst_t"),
                F.col("c").alias("dst"),
            )
        ),
    )
    # The unrolled iterations embed their inputs in ONE plan tree, so an
    # un-persisted deg would be re-shuffled ~2 times per iteration as the
    # lineage deepens. Persist the two relations every iteration reads —
    # the node list with outdeg, and the outdeg-weighted edge list — so
    # each iteration is exactly one equi-join plus one groupBy(dst)
    # shuffle over the persisted edges (the Pregel minimum).
    nodes = session_cached(
        spark, "pagerank_nodes", sf_dir,
        lambda: edges.groupBy("src_t", "src").agg(
            F.count("*").cast("bigint").alias("outdeg")
        ),
    )
    edges_w = session_cached(
        spark, "pagerank_edges_w", sf_dir,
        lambda: edges.join(nodes, ["src_t", "src"]).select(
            "src_t", "src", "dst_t", "dst", "outdeg"
        ),
    )
    pr = nodes.select(
        F.col("src_t").alias("t"),
        F.col("src").alias("id"),
        F.lit(_PR_SCALE).cast("bigint").alias("pr"),
    )
    for _ in range(_PR_ITERS):
        contrib = (
            edges_w.join(
                pr, (pr.t == edges_w.src_t) & (pr.id == edges_w.src)
            )
            .select(
                F.col("dst_t"),
                F.col("dst"),
                F.expr("pr div outdeg").alias("contrib"),
            )
            .groupBy("dst_t", "dst")
            .agg(F.sum("contrib").cast("bigint").alias("s"))
        )
        pr = nodes.join(
            contrib,
            (nodes.src_t == contrib.dst_t) & (nodes.src == contrib.dst),
            "left",
        ).select(
            F.col("src_t").alias("t"),
            F.col("src").alias("id"),
            (
                F.lit(_PR_TELEPORT)
                + F.expr("(85 * coalesce(s, 0)) div 100")
            )
            .cast("bigint")
            .alias("pr"),
        )
    return (
        pr.select(
            F.col("t").alias("node_type"), F.col("id").alias("node_id"), "pr"
        )
        .orderBy(F.desc("pr"), "node_type", "node_id")
        .limit(_PR_TOP_K)
    )


# --- two-stage retrieve → rerank (round 7, second batch) --------------------

_RERANK_K = 20  # final reranked list depth


@register(
    "retrieval_rerank_token_f1",
    f"""
    WITH {_BM25_SCORED_SQL},
    cand AS (
        SELECT doc_id, bm25 FROM scored WHERE doc_id <> 0
        ORDER BY bm25 DESC, doc_id LIMIT {_RRF_CAND}
    ),
    qt AS (SELECT list_distinct(toks) AS qt FROM t WHERE doc_id = 0),
    dt AS (SELECT doc_id, list_distinct(toks) AS dt FROM t),
    p AS (
        SELECT c.doc_id, c.bm25,
               CAST(len(list_filter(d.dt, x -> list_contains(q.qt, x)))
                    AS BIGINT) AS n_overlap,
               CAST(len(d.dt) AS BIGINT) AS n_doc_terms,
               round(2.0 * len(list_filter(d.dt, x -> list_contains(q.qt, x)))
                     / (len(d.dt) + len(q.qt)), 6) AS f1
        FROM cand c JOIN dt d USING (doc_id) CROSS JOIN qt q
    )
    SELECT doc_id, bm25, n_overlap, n_doc_terms, f1,
           CAST(row_number() OVER (ORDER BY f1 DESC, bm25 DESC, doc_id)
                AS BIGINT) AS rerank_rank
    FROM p
    ORDER BY rerank_rank
    LIMIT {_RERANK_K}
    """,
)
def retrieval_rerank_token_f1(spark, sf_dir):
    """Two-stage retrieve→rerank: stage 1 recalls the top-100 BM25
    candidates (cheap, index-shaped); stage 2 re-scores each
    (candidate, query) PAIR with a richer deterministic feature —
    token-set F1 against the query document (doc_id 0), the
    cross-encoder emulation: pairwise scoring too expensive for the
    corpus is affordable on a bounded candidate list. Final order is
    (f1 desc, bm25 desc, doc_id).

    Scale: stage 1 plans as TakeOrderedAndProject (distributed
    partial top-k); stage 2 touches exactly _RRF_CAND rows joined
    hash-side with their token sets plus a one-row broadcast query;
    the rerank row_number runs over ≤ 100 rows by construction. The
    pairwise cost is k·|query tokens|, independent of corpus size —
    the property that makes rerankers deployable."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", X.tokens().alias("toks"))
    cand = (
        _bm25_scored(cached_tf_projection(spark, sf_dir))
        .where(F.col("doc_id") != 0)
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(_RRF_CAND)
    )
    qt = (
        toks.where(F.col("doc_id") == 0)
        .select(F.array_distinct("toks").alias("qt"))
    )
    dt = toks.select("doc_id", F.array_distinct("toks").alias("dt"))
    n_overlap = F.size(F.array_intersect("dt", "qt"))
    p = (
        cand.join(dt, "doc_id")
        .crossJoin(F.broadcast(qt))
        .select(
            "doc_id",
            "bm25",
            n_overlap.cast("bigint").alias("n_overlap"),
            F.size("dt").cast("bigint").alias("n_doc_terms"),
            F.round(
                2.0 * n_overlap / (F.size("dt") + F.size("qt")), 6
            ).alias("f1"),
        )
    )
    w = Window.orderBy(F.desc("f1"), F.desc("bm25"), "doc_id")
    return (
        p.select(
            "doc_id",
            "bm25",
            "n_overlap",
            "n_doc_terms",
            "f1",
            F.row_number().over(w).cast("bigint").alias("rerank_rank"),
        )
        .orderBy("rerank_rank")
        .limit(_RERANK_K)
    )


# --- bipartite co-supplier projection (round 7, second batch) ---------------

_COSUPP_DEG_CAP = 40  # skip hub customers (skew guard, like _JACCARD_CAP)
_COSUPP_TOP_K = 10  # partners kept per supplier

# ONE definition of the capped edge relation for every graph oracle
# built on it (projection, Jaccard) — the _BM25_SCORED_SQL precedent:
# a cap or edge-definition change edits exactly one fragment (r10
# review).
_COSUPP_EDGES_SQL = f"""e AS (
        SELECT DISTINCT o.o_custkey AS cust, l.l_suppkey AS supp
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    deg AS (
        SELECT cust, CAST(count(*) AS BIGINT) AS n_supp FROM e GROUP BY cust
    ),
    ee AS (
        SELECT e.cust, e.supp FROM e JOIN deg USING (cust)
        WHERE deg.n_supp <= {_COSUPP_DEG_CAP}
    )"""

_COSUPP_ORACLE = f"""
    WITH {_COSUPP_EDGES_SQL},
    p AS (
        SELECT a.supp AS s1, b.supp AS s2,
               CAST(count(*) AS BIGINT) AS shared_customers
        FROM ee a JOIN ee b ON a.cust = b.cust AND a.supp < b.supp
        GROUP BY 1, 2
    ),
    sym AS (
        SELECT s1 AS supplier, s2 AS partner, shared_customers FROM p
        UNION ALL
        SELECT s2 AS supplier, s1 AS partner, shared_customers FROM p
    ),
    r AS (
        SELECT *, row_number() OVER (
            PARTITION BY supplier
            ORDER BY shared_customers DESC, partner
        ) AS rank
        FROM sym
    )
    SELECT supplier, partner, shared_customers, CAST(rank AS BIGINT) AS rank
    FROM r WHERE rank <= {_COSUPP_TOP_K}
"""


def _cosupp_edge_degrees(spark, sf_dir):
    """(e, deg) — the distinct (customer, supplier) purchase edge
    relation and its per-customer degree counts: ONE DataFrame-side
    definition matching ``_COSUPP_EDGES_SQL``'s e/deg fragments,
    shared by the capped edge relation and the degree-distribution
    histogram (r11 third review: the histogram had re-implemented
    the edge definition, so an edge-rule change could desynchronize
    the skew evidence from the caps it justifies)."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    e = (
        orders.join(lineitem, lineitem["l_orderkey"] == orders["o_orderkey"])
        .select(
            F.col("o_custkey").alias("cust"), F.col("l_suppkey").alias("supp")
        )
        .distinct()
    )
    deg = e.groupBy("cust").agg(F.count("*").cast("bigint").alias("n_supp"))
    return e, deg


def _cosupp_capped_edges(spark, sf_dir):
    """Distinct (customer, supplier) purchase edges with hub customers
    above ``_COSUPP_DEG_CAP`` removed. Degree pass FIRST (count(*) —
    constant-space, map-side combinable) so hubs are dropped BEFORE
    any per-group buffering: a mega-hub must never materialize its
    full supplier set just to be discarded (r9 review — the
    bounded-state rule the WindowGroupLimit comparison test
    documents)."""
    e, deg = _cosupp_edge_degrees(spark, sf_dir)
    return e.join(
        deg.where(F.col("n_supp") <= _COSUPP_DEG_CAP), "cust"
    ).select("cust", "supp")


# ONE definition of the map-side within-customer pair expansion over
# the sorted supplier array `ss` (emits each s1 < s2 pair once) —
# owned by the one session-persisted pair-cells builder so the pair
# generation rule can never desynchronize across the graph family
# (the _COSUPP_EDGES_SQL one-definition precedent, r12 review).
_COSUPP_PAIR_EXPR = (
    "flatten(transform(ss, (x, i) ->"
    " transform(slice(ss, i + 2, size(ss)),"
    " y -> struct(x AS s1, y AS s2))))"
)


def _cosupp_lists(ee):
    """Per-customer (capped, sorted) supplier array — the input shape
    of the shared map-side pair expansion."""
    return ee.groupBy("cust").agg(
        F.sort_array(F.collect_set("supp")).alias("ss")
    )


def _cosupp_pair_cells(spark, sf_dir):
    """SESSION-PERSISTED per-pair aggregate of the map-side pair
    expansion, carrying every link-prediction weight the family needs:
    ``(s1, s2, shared_customers, aa_micro, ra_micro)``.

    VERDICT r14 #4: the three most expensive suite queries
    (jaccard / Adamic–Adar / assortativity, plus projection / RA / PA /
    triangles) each re-derived the same hub-capped neighbor-pair
    relation from the orders⋈lineitem edge subtree per run. This is
    the ONE materialization, routed through the session cache exactly
    like the ANN signature relation (the precedent that cut ann_lsh
    9.3→0.5 s). The expansion is the shared ``_COSUPP_PAIR_EXPR``
    (each s1 < s2 pair once per customer, bounded by C(cap, 2)); each
    customer's Adamic–Adar weight floor(1e6/ln(deg) + 0.5) and
    resource-allocation weight (2·1e6 + deg) div 2·deg are computed
    BEFORE the explode and summed as exact BIGINTs, so every consumer
    reads its score off the persisted relation with no re-expansion.
    The explicit size >= 2 filter runs BEFORE the weight expressions
    (ln(1) = 0 would throw under ANSI mode; size-1 customers emit no
    pairs, so the filter never changes the pair multiset — r12
    review) and integer sums are order-independent, so the cells are
    bit-identical to the per-query aggregates they replace.

    Scale: the persisted relation is supplier-pair-bounded (≤ C(|S|,2)
    rows, and in practice only pairs with ≥ 1 shared non-hub
    customer) — dimension²-scale, NOT fact-scale; at warehouse scale
    this is the materialized co-occurrence table every link-prediction
    pipeline maintains."""

    def build():
        lists = _cosupp_lists(_cosupp_capped_edges(spark, sf_dir)).where(
            F.expr("size(ss) >= 2")
        )
        pairs = lists.select(
            F.expr(
                "CAST(floor(1000000e0 / ln(CAST(size(ss) AS DOUBLE))"
                " + 0.5e0) AS BIGINT)"
            ).alias("aa_w"),
            F.expr(
                "CAST((2000000 + size(ss)) DIV (2 * size(ss)) AS BIGINT)"
            ).alias("ra_w"),
            F.explode(F.expr(_COSUPP_PAIR_EXPR)).alias("pr"),
        )
        return pairs.groupBy(
            F.col("pr.s1").alias("s1"), F.col("pr.s2").alias("s2")
        ).agg(
            F.count("*").cast("bigint").alias("shared_customers"),
            F.sum("aa_w").cast("bigint").alias("aa_micro"),
            F.sum("ra_w").cast("bigint").alias("ra_micro"),
        )

    # pair cells stay PERSISTED (not checkpointed): the jaccard/adamic
    # consumers each run ONE heavy read over the supplier-pair-grain
    # relation and the columnar cache reads measurably faster there
    # (bench 0.169 s persisted vs 0.35 s checkpointed); the
    # lineage-bloat fix matters for the MANY-small-branch caches
    # (edges/degrees/triangle counts below), not this one.
    return session_cached(spark, "graph_pair_cells", sf_dir, build)


def _cosupp_degrees(spark, sf_dir):
    """SESSION-PERSISTED per-supplier customer counts on the capped
    edge set — the ``sd`` relation jaccard/PA/assortativity join onto
    the pair cells. Supplier-dimension scale (broadcast-joined by
    AQE); shares the session cache so the edge subtree is not
    re-scanned per query (VERDICT r14 #4, with the pair cells
    above)."""

    def build():
        return (
            _cosupp_capped_edges(spark, sf_dir)
            .groupBy("supp")
            .agg(F.count("*").cast("bigint").alias("d"))
        )

    return session_cached(
        spark, "graph_supplier_degrees", sf_dir, build, checkpoint=True
    )


@register("graph_cosupplier_projection", _COSUPP_ORACLE)
def graph_cosupplier_projection(spark, sf_dir):
    """Bipartite projection: supplier↔supplier co-purchase strength
    (number of shared customers), top-10 partners per supplier — the
    "suppliers like this one" similarity graph projected out of the
    customer–supplier order edges (the same edge set PageRank walks).

    Scale: the quadratic step runs ONLY within one customer's supplier
    list, and hub customers above the degree cap are excluded — the
    documented skew guard (a customer connected to everyone projects
    a near-clique and says nothing about similarity; production
    replaces the cap with minhash over supplier sets). One groupBy
    per projection pair, a per-supplier top-k rank, output bounded at
    k rows per node. Reads the session-persisted pair cells (VERDICT
    r14 #4) — the map-side expansion runs once per session, not per
    query."""
    p = _cosupp_pair_cells(spark, sf_dir).select(
        "s1", "s2", "shared_customers"
    )
    sym = p.select(
        F.col("s1").alias("supplier"),
        F.col("s2").alias("partner"),
        "shared_customers",
    ).unionByName(
        p.select(
            F.col("s2").alias("supplier"),
            F.col("s1").alias("partner"),
            "shared_customers",
        )
    )
    w = Window.partitionBy("supplier").orderBy(
        F.desc("shared_customers"), F.asc("partner")
    )
    return (
        sym.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= _COSUPP_TOP_K)
        .select("supplier", "partner", "shared_customers", "rank")
    )


# --- triangle counting on the co-supplier graph (round 8) -------------------

_TRI_TOP = 20  # reported nodes


def _sparsified_edges(spark, sf_dir):
    """SESSION-PERSISTED undirected (s1 < s2) edge set of the
    SPARSIFIED co-supplier graph — graph_cosupplier_projection's
    mutual-top-10 partner relation deduplicated, the ONE edge
    definition the triangle, clustering-coefficient, and
    orientation-stats queries share (r15: factored when the
    clustering query landed, then cached alongside the pair cells —
    ≤ k·|suppliers| rows, dimension-scale, so persisting it is the
    materialized-similarity-graph pattern, NOT the rejected
    fact-scale checkpoint)."""

    def build():
        base = graph_cosupplier_projection(spark, sf_dir)
        return base.select(
            F.least("supplier", "partner").alias("s1"),
            F.greatest("supplier", "partner").alias("s2"),
        ).distinct()

    return session_cached(
        spark, "graph_sparsified_edges", sf_dir, build, checkpoint=True
    )


def _wedge_triangles(edges):
    """Each triangle a<b<c exactly once via the key-oriented wedge
    join e1(a,b) ⋈ e2(b,c) closed against e3(a,c)."""
    e1 = edges.select(F.col("s1").alias("a"), F.col("s2").alias("b"))
    e2 = edges.select(F.col("s1").alias("b2"), F.col("s2").alias("c"))
    e3 = edges.select(F.col("s1").alias("a3"), F.col("s2").alias("c3"))
    return (
        e1.join(e2, F.col("b") == F.col("b2"))
        .join(
            e3,
            (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")),
        )
        .select("a", "b", "c")
    )


def _sparsified_triangle_counts(spark, sf_dir):
    """SESSION-PERSISTED per-node triangle participation counts
    (supplier, n_triangles) over the sparsified edge relation — shared
    by graph_triangle_count and graph_local_clustering. The edges were
    already session-cached (r15), but the wedge join — the actual cost
    of both queries — re-ran per invocation, the exact re-derivation
    pattern VERDICT r14 #4 eliminated one level down (VERDICT r15 #4
    names this level). The counts are ≤ |suppliers| rows —
    dimension-scale, the materialized-similarity-graph pattern, NOT a
    fact-scale checkpoint."""

    def build():
        tri = _wedge_triangles(_sparsified_edges(spark, sf_dir))
        members = (
            tri.select(F.col("a").alias("supplier"))
            .unionAll(tri.select(F.col("b").alias("supplier")))
            .unionAll(tri.select(F.col("c").alias("supplier")))
        )
        return members.groupBy("supplier").agg(
            F.count("*").cast("bigint").alias("n_triangles")
        )

    return session_cached(
        spark, "graph_triangle_counts", sf_dir, build, checkpoint=True
    )


# ONE SQL spelling of the sparsified-edge/wedge-triangle/per-node-count
# chain, shared by the triangle and clustering-coefficient oracles
# (the _COSUPP_EDGES_SQL one-definition precedent, applied at the r15
# clustering landing).
_SPARSIFIED_TRI_SQL = f"""base AS ({_COSUPP_ORACLE}),
    edges AS (
        SELECT DISTINCT least(supplier, partner) AS s1,
               greatest(supplier, partner) AS s2
        FROM base
    ),
    tri AS (
        SELECT e1.s1 AS a, e1.s2 AS b, e2.s2 AS c
        FROM edges e1
        JOIN edges e2 ON e2.s1 = e1.s2
        JOIN edges e3 ON e3.s1 = e1.s1 AND e3.s2 = e2.s2
    ),
    members AS (
        SELECT a AS supplier FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
    ),
    cnt AS (
        SELECT supplier, CAST(count(*) AS BIGINT) AS n_triangles
        FROM members GROUP BY supplier
    )"""

_TRIANGLE_ORACLE = f"""
    WITH {_SPARSIFIED_TRI_SQL}
    SELECT supplier, n_triangles,
           CAST(row_number() OVER (
               ORDER BY n_triangles DESC, supplier
           ) AS BIGINT) AS rank
    FROM cnt
    ORDER BY n_triangles DESC, supplier
    LIMIT {_TRI_TOP}
"""


@register("graph_triangle_count", _TRIANGLE_ORACLE)
def graph_triangle_count(spark, sf_dir):
    """Triangle participation on the SPARSIFIED co-supplier graph: the
    edge set is graph_cosupplier_projection's mutual-top-10 partner
    relation (an edge survives if either endpoint ranks it among its
    10 strongest), deduplicated to undirected (s1 < s2) pairs — the
    standard similarity-graph sparsification that bounds every node's
    degree at ~2·k no matter how dense the raw co-purchase overlap is
    (the raw TPC-H-style projection is a near-clique: support
    thresholds prune nothing, top-k does). Key orientation enumerates
    each triangle a<b<c exactly once via the wedge join
    e1(a,b) ⋈ e2(b,c) closed against e3(a,c); per-node participation
    (the local clustering signal) is reported for the top 20
    suppliers.

    Scale: edges ≤ k·|suppliers| and wedge fan-in per node ≤ (2k)² by
    construction — triangle counting inherits the projection's
    degree-cap and top-k guarantees instead of needing its own; the
    top-20 is TakeOrderedAndProject."""
    cnt = _sparsified_triangle_counts(spark, sf_dir)
    w = Window.orderBy(F.desc("n_triangles"), "supplier")
    return (
        cnt.orderBy(F.desc("n_triangles"), "supplier")
        .limit(_TRI_TOP)
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .select("supplier", "n_triangles", "rank")
    )


# --- local clustering coefficient (round 15) ----------------------------------
#
# Watts–Strogatz local clustering on the SAME sparsified graph the
# triangle query counts: c_i = 2·tri_i / (deg_i·(deg_i − 1)) — what
# fraction of a supplier's neighbor pairs are themselves connected,
# the node-level "is this a tight community or a star hub" signal
# that the raw triangle COUNT conflates with degree (a hub in a
# sparse web can out-count a small clique while being far less
# clustered). Degrees are the sparsified edge set's — the same
# relation the triangles close over, so the ratio is internally
# consistent (the jaccard deg-consistency rule). Nodes need deg ≥ 2
# to have a neighbor pair; deg-1 nodes are excluded on BOTH sides.
# tri_i·2 and deg·(deg−1) are exact BIGINTs; the coefficient is one
# micro-quantized division; top-20 orders on the BIGINT micro key,
# tie-broken (supplier) — never the raw double.

_LOCAL_CLUSTERING_ORACLE = f"""
    WITH {_SPARSIFIED_TRI_SQL},
    deg AS (
        SELECT supplier, CAST(count(*) AS BIGINT) AS degree
        FROM (
            SELECT s1 AS supplier FROM edges
            UNION ALL SELECT s2 FROM edges
        ) GROUP BY 1
    ),
    m AS (
        SELECT deg.supplier, deg.degree,
               CAST(coalesce(cnt.n_triangles, 0) AS BIGINT) AS n_triangles,
               CAST(floor(2e0 * coalesce(cnt.n_triangles, 0)
                          / (deg.degree * (deg.degree - 1))
                          * 1000000e0 + 0.5e0) AS BIGINT) AS cc_micro
        FROM deg LEFT JOIN cnt USING (supplier)
        WHERE deg.degree >= 2
    )
    SELECT supplier, degree, n_triangles,
           round(cc_micro / 1000000e0, 6) AS clustering_coeff
    FROM m ORDER BY cc_micro DESC, supplier LIMIT {_TRI_TOP}
"""


@register("graph_local_clustering", _LOCAL_CLUSTERING_ORACLE)
def graph_local_clustering(spark, sf_dir):
    """Top-20 suppliers by Watts–Strogatz local clustering coefficient
    on the sparsified co-supplier graph (see the section comment for
    the deg-consistency and deg ≥ 2 contracts; exact integer
    numerator/denominator, one micro-quantized division, BIGINT
    ordering key).

    Scale: shares the sparsified edge relation and the wedge-triangle
    chain with graph_triangle_count (edges ≤ k·|suppliers|, wedge
    fan-in ≤ (2k)² by the projection's top-k bound — the r15 shared
    pair-cells relation feeds the projection underneath); degrees are
    one map-side-combined count over the edge list; the top-20 is
    TakeOrderedAndProject on the micro key."""
    edges = _sparsified_edges(spark, sf_dir)
    cnt = _sparsified_triangle_counts(spark, sf_dir)
    deg = (
        edges.select(F.col("s1").alias("supplier"))
        .unionAll(edges.select(F.col("s2").alias("supplier")))
        .groupBy("supplier")
        .agg(F.count("*").cast("bigint").alias("degree"))
    )
    m = (
        deg.where(F.col("degree") >= 2)
        .join(cnt, "supplier", "left")
        .select(
            "supplier",
            "degree",
            F.coalesce(F.col("n_triangles"), F.lit(0))
            .cast("bigint")
            .alias("n_triangles"),
        )
        .withColumn(
            "cc_micro",
            F.expr(micro_units_sql("2e0 * n_triangles / (degree * (degree - 1))")),
        )
    )
    return (
        m.orderBy(F.desc("cc_micro"), "supplier")
        .limit(_TRI_TOP)
        .select(
            "supplier",
            "degree",
            "n_triangles",
            F.expr("round(cc_micro / 1000000e0, 6)").alias(
                "clustering_coeff"
            ),
        )
    )


# --- Dirichlet query-likelihood retrieval (round 9, late batch) -------------
#
# The language-modeling dual of BM25 (Zhai & Lafferty 2001): rank docs
# by log p(query | doc) under a Dirichlet-smoothed unigram model,
#   score = Σ_i ln( (tf_i + μ·p_c(t_i)) / (dl + μ) )
# with p_c the collection unigram probability (add-one smoothed over
# the query vocabulary so an absent term stays finite). Determinism:
# integer tf/dl/cf counts and single IEEE divisions as in BM25, but
# each per-term ln is integerized as floor(x·1e6 + 0.5) BIGINT
# micro-nats instead of round(x, 6) — multiply, add and floor are all
# exactly-rounded IEEE ops, so the integer is bit-identical in both
# engines with no decimal-string HALF_UP channel (Spark's round()
# rounds the shortest decimal repr, DuckDB's the binary value; they
# disagree when a term lands on a 6-dp half boundary — observed live
# on this very query at sf0.01). The BIGINT sum is then associative
# and order-proof, and the final /1e6 is a representable multiple of
# 1e-6 both engines print identically.

# Literals in EXPONENT notation on purpose: `2000.0` parses as
# DECIMAL in both engines, and Spark's and DuckDB's decimal-DIVISION
# scale rules differ, so the ln argument itself diverges at ~1e-9
# (observed live: args differing in the 9th digit, ln in the 8th).
# `2000e0` parses as DOUBLE in both, keeping every op exactly-rounded
# IEEE and therefore bit-identical.
_QL_MU = "2000e0"  # classic Dirichlet prior mass
# add-one smoothing denominator bump = |query vocab| — derived so a
# term-list edit cannot silently leave a stale prior (r9 review)
_QL_V = f"{len(_BM25_TERMS)}e0"
_QL_TOP_K = 20


def _ql_term_sql(i: int) -> str:
    # BIGINT micro-nats: floor/mul/add are exactly-rounded IEEE ops,
    # identical in both engines (unlike round() at a half boundary).
    return micro_units_sql(
        f"ln((tf{i} + {_QL_MU} * ((cf{i} + 1e0)"
        f" / (coll_len + {_QL_V}))) / (dl + {_QL_MU}))"
    )


_QL_ORACLE = f"""
    WITH t AS (SELECT doc_id, {X.tokens_sql()} AS toks FROM documents),
    f AS (
        SELECT doc_id,
               CAST(len(toks) AS BIGINT) AS dl,
               {", ".join(
                   f"CAST(len(list_filter(toks, x -> x = '{term}'))"
                   f" AS BIGINT) AS tf{i}"
                   for i, term in enumerate(_BM25_TERMS))}
        FROM t
    ),
    stats AS (
        SELECT CAST(sum(dl) AS BIGINT) AS coll_len,
               {", ".join(
                   f"CAST(sum(tf{i}) AS BIGINT) AS cf{i}"
                   for i in range(len(_BM25_TERMS)))}
        FROM f
    ),
    scored AS (
        SELECT doc_id, dl,
               round(({" + ".join(_ql_term_sql(i)
                                  for i in range(len(_BM25_TERMS)))})
                     / 1000000.0, 6) AS ql_score
        FROM f CROSS JOIN stats
    )
    SELECT doc_id, dl, ql_score FROM scored
    ORDER BY ql_score DESC, doc_id
    LIMIT {_QL_TOP_K}
"""


@register("retrieval_query_likelihood", _QL_ORACLE, headline=True)
def retrieval_query_likelihood(spark, sf_dir):
    """Dirichlet-smoothed query-likelihood retrieval (the LM dual of
    ``retrieval_bm25_topk``) for the same fixed query term set: every
    doc scored by log p(query|doc) with μ=2000 smoothing against the
    collection unigram model, top-k returned.

    Scale shape is BM25's: the collection statistics (total token
    count, per-term collection frequencies) are ONE map-side-
    combinable aggregate row broadcast back into a per-row scoring
    expression — the corpus is scanned once, no explode, no shuffle
    beyond the 1-row aggregate, and top-k plans as
    TakeOrderedAndProject. Determinism: tf/dl/cf are exact integers
    and each per-term ln is integerized to BIGINT micro-nats via
    floor(x·1e6 + 0.5) (exactly-rounded IEEE ops only — see the
    module comment for why round() is not cross-engine safe here), so
    the score sum is exact integer arithmetic."""
    f = cached_tf_projection(spark, sf_dir)
    scored = f.crossJoin(F.broadcast(_ql_stats(f)))
    term_cols = [F.expr(_ql_term_sql(i)) for i in range(len(_BM25_TERMS))]
    total = term_cols[0]
    for c in term_cols[1:]:
        total = total + c
    return (
        scored.select(
            "doc_id",
            "dl",
            F.round(total / F.lit(1000000.0), 6).alias("ql_score"),
        )
        .orderBy(F.desc("ql_score"), "doc_id")
        .limit(_QL_TOP_K)
    )


# --- degree-ordered triangle orientation (round 9, late batch) --------------
#
# ROADMAP r10 candidate #1: graph_triangle_count orients edges by KEY
# (a < b), whose wedge work per node is C(outdeg_key, 2) — a high-key
# hub can still own almost all its edges as out-edges. DEGREE
# orientation (src = endpoint with smaller (degree, id)) provably
# bounds every out-degree by O(sqrt(|E|)) on any graph (arboricity
# argument, Chiba–Nishizeki), which is the difference between a
# near-clique blowing up the wedge join and staying flat. This
# operator computes BOTH orientations' wedge totals side by side plus
# the exact triangle count under the degree orientation — the
# plan-shape comparison row that justifies the orientation choice with
# numbers instead of prose. All-integer arithmetic; ties in the
# degree order are impossible because the order key is deg·1e9 + id
# with unique ids.

_ORIENT_NODE_SCALE = 1_000_000_000  # ordkey = deg * SCALE + id (ids < SCALE)

_ORIENT_ORACLE = f"""
    WITH base AS ({_COSUPP_ORACLE}),
    edges AS (
        SELECT DISTINCT least(supplier, partner) AS s1,
               greatest(supplier, partner) AS s2
        FROM base
    ),
    nodes AS (
        SELECT s1 AS v FROM edges UNION ALL SELECT s2 FROM edges
    ),
    deg AS (SELECT v, CAST(count(*) AS BIGINT) AS d FROM nodes GROUP BY v),
    ork AS (SELECT v, d * {_ORIENT_NODE_SCALE} + v AS ok FROM deg),
    oe AS (
        SELECT CASE WHEN a.ok < b.ok THEN e.s1 ELSE e.s2 END AS src,
               CASE WHEN a.ok < b.ok THEN e.s2 ELSE e.s1 END AS dst,
               CASE WHEN a.ok < b.ok THEN b.ok ELSE a.ok END AS dst_ok
        FROM edges e
        JOIN ork a ON a.v = e.s1
        JOIN ork b ON b.v = e.s2
    ),
    outd AS (SELECT src, CAST(count(*) AS BIGINT) AS od FROM oe GROUP BY src),
    outk AS (
        SELECT s1 AS src, CAST(count(*) AS BIGINT) AS od
        FROM edges GROUP BY s1
    ),
    tri AS (
        SELECT CAST(count(*) AS BIGINT) AS t
        FROM oe w1
        JOIN oe w2 ON w2.src = w1.src AND w1.dst_ok < w2.dst_ok
        JOIN oe c ON c.src = w1.dst AND c.dst = w2.dst
    )
    SELECT
        (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
        (SELECT CAST(count(*) AS BIGINT) FROM edges) AS n_edges,
        (SELECT t FROM tri) AS n_triangles,
        (SELECT CAST(coalesce(sum(od * (od - 1) // 2), 0) AS BIGINT)
         FROM outk) AS wedges_key,
        (SELECT CAST(coalesce(sum(od * (od - 1) // 2), 0) AS BIGINT)
         FROM outd) AS wedges_degree,
        (SELECT CAST(coalesce(max(od), 0) AS BIGINT) FROM outk)
            AS max_outdeg_key,
        (SELECT CAST(coalesce(max(od), 0) AS BIGINT) FROM outd)
            AS max_outdeg_degree
"""


@register("graph_triangle_orientation_stats", _ORIENT_ORACLE)
def graph_triangle_orientation_stats(spark, sf_dir):
    """Key- vs degree-orientation comparison row for triangle
    enumeration on the sparsified co-supplier graph: total wedge work
    (Σ C(outdeg, 2)) and max out-degree under BOTH orientations, plus
    the exact global triangle count enumerated via the degree
    orientation (each triangle's two lowest-(deg,id) edges form the
    one counted wedge, closed against the oriented third edge).

    Scale: the wedge join under degree orientation is bounded by
    Σ C(outdeg_deg, 2) ≤ O(|E|^1.5) on ANY graph (and far less on
    skewed ones) — this row makes that bound observable so the
    orientation choice in a production triangle pass is data-driven.
    The degree table is one groupBy over exploded endpoints; the
    orientation itself is two |V|-scale joins; every output aggregate
    is a 1-row broadcast. Integer-only arithmetic — no float channel.
    """
    # r15: the edge relation is the session-persisted shared
    # _sparsified_edges (dimension-scale). The earlier WITHIN-QUERY
    # localCheckpoint experiment measured SLOWER at sf0.1 (7.2–8.6 s
    # vs 5.7–6.3 s — AQE ReuseExchange already deduped the identical
    # projection subplans in one plan); the session cache is the
    # CROSS-QUERY materialization the family now shares instead.
    edges = _sparsified_edges(spark, sf_dir)
    nodes = edges.select(F.col("s1").alias("v")).unionAll(
        edges.select(F.col("s2").alias("v"))
    )
    deg = nodes.groupBy("v").agg(F.count("*").cast("bigint").alias("d"))
    ork = deg.select(
        "v", (F.col("d") * _ORIENT_NODE_SCALE + F.col("v")).alias("ok")
    )
    a, b = ork.alias("a"), ork.alias("b")
    lower = F.col("a.ok") < F.col("b.ok")
    oe = (
        edges.join(a, F.col("a.v") == F.col("s1"))
        .join(b, F.col("b.v") == F.col("s2"))
        .select(
            F.when(lower, F.col("s1")).otherwise(F.col("s2")).alias("src"),
            F.when(lower, F.col("s2")).otherwise(F.col("s1")).alias("dst"),
            F.when(lower, F.col("b.ok"))
            .otherwise(F.col("a.ok"))
            .alias("dst_ok"),
        )
    )
    outd = oe.groupBy("src").agg(F.count("*").cast("bigint").alias("od"))
    outk = edges.groupBy(F.col("s1").alias("src")).agg(
        F.count("*").cast("bigint").alias("od")
    )
    w1, w2, c = oe.alias("w1"), oe.alias("w2"), oe.alias("c")
    tri = (
        w1.join(
            w2,
            (F.col("w2.src") == F.col("w1.src"))
            & (F.col("w1.dst_ok") < F.col("w2.dst_ok")),
        )
        .join(
            c,
            (F.col("c.src") == F.col("w1.dst"))
            & (F.col("c.dst") == F.col("w2.dst")),
        )
        .agg(F.count("*").cast("bigint").alias("n_triangles"))
    )

    def _wedges(od_df, name):
        return od_df.agg(
            F.coalesce(
                F.sum(F.expr("od * (od - 1) div 2")), F.lit(0)
            )
            .cast("bigint")
            .alias(f"wedges_{name}"),
            F.coalesce(F.max("od"), F.lit(0))
            .cast("bigint")
            .alias(f"max_outdeg_{name}"),
        )
    counts = deg.agg(
        F.count("*").cast("bigint").alias("n_nodes")
    ).crossJoin(edges.agg(F.count("*").cast("bigint").alias("n_edges")))
    wk = _wedges(outk, "key")
    wd = _wedges(outd, "degree")
    return (
        counts.crossJoin(F.broadcast(tri))
        .crossJoin(F.broadcast(wk))
        .crossJoin(F.broadcast(wd))
        .select(
            "n_nodes",
            "n_edges",
            "n_triangles",
            "wedges_key",
            "wedges_degree",
            "max_outdeg_key",
            "max_outdeg_degree",
        )
    )


# --- ranking-quality evaluation: NDCG@10 (round 9, late batch 2) ------------
#
# The evaluation rung of the retrieval story: score BOTH retrievers
# (BM25 and Dirichlet QL) on the same graded relevance and report
# NDCG@10 side by side. Relevance is deterministic — the number of
# distinct query terms a document contains (0..|terms|) — so the
# whole evaluation is reproducible with no human labels, and the two
# retrievers genuinely disagree (BM25's idf weighting vs QL's length
# prior). Gains (2^rel − 1)/log2(rank+1) are integerized to BIGINT
# micro-units (floor(x·1e6 + 0.5); pow(2, rel) is exact, log2 is the
# only transcendental), summed as integers, and the final DCG/IDCG
# ratio is quantized the same way — the cross-engine contract of
# retrieval_query_likelihood.

_NDCG_K = 10


def _gain_micro_sql(rel: str, rnk: str) -> str:
    return micro_units_sql(f"(power(2e0, {rel}) - 1e0) / log2({rnk} + 1e0)")


_NDCG_ORACLE = f"""
    WITH {_BM25_SCORED_SQL},
    qstats AS (
        SELECT CAST(sum(dl) AS BIGINT) AS coll_len,
               {", ".join(
                   f"CAST(sum(tf{i}) AS BIGINT) AS cf{i}"
                   for i in range(len(_BM25_TERMS)))}
        FROM f
    ),
    qlscored AS (
        SELECT doc_id,
               ({" + ".join(_ql_term_sql(i)
                            for i in range(len(_BM25_TERMS)))}) AS qlm
        FROM f CROSS JOIN qstats
    ),
    rel AS (
        SELECT doc_id,
               CAST({" + ".join(
                   f"(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END)"
                   for i in range(len(_BM25_TERMS)))} AS BIGINT) AS rel
        FROM f
    ),
    bmtop AS (
        SELECT doc_id, CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id)
                            AS BIGINT) AS rnk
        FROM (SELECT * FROM scored ORDER BY bm25 DESC, doc_id
              LIMIT {_NDCG_K})
    ),
    qltop AS (
        SELECT doc_id, CAST(row_number() OVER (ORDER BY qlm DESC, doc_id)
                            AS BIGINT) AS rnk
        FROM (SELECT * FROM qlscored ORDER BY qlm DESC, doc_id
              LIMIT {_NDCG_K})
    ),
    ideal AS (
        SELECT rel, CAST(row_number() OVER (ORDER BY rel DESC, doc_id)
                         AS BIGINT) AS rnk
        FROM (SELECT * FROM rel ORDER BY rel DESC, doc_id
              LIMIT {_NDCG_K})
    ),
    gains AS (
        SELECT 'bm25' AS retriever, b.rnk, r.rel
        FROM bmtop b JOIN rel r USING (doc_id)
        UNION ALL
        SELECT 'ql', q.rnk, r.rel
        FROM qltop q JOIN rel r USING (doc_id)
    ),
    dcg AS (
        SELECT retriever,
               CAST(sum({_gain_micro_sql("rel", "rnk")}) AS BIGINT)
                   AS dcg_micro
        FROM gains GROUP BY 1
    ),
    idcg AS (
        SELECT CAST(sum({_gain_micro_sql("rel", "rnk")}) AS BIGINT)
                   AS idcg_micro
        FROM ideal
    )
    SELECT retriever, dcg_micro, idcg_micro,
           round(CAST(floor(CAST(dcg_micro AS DOUBLE)
                            / NULLIF(idcg_micro, 0)
                            * 1000000e0 + 0.5e0) AS BIGINT)
                 / 1000000e0, 6) AS ndcg_at_10
    FROM dcg CROSS JOIN idcg
"""


@register("retrieval_ndcg_eval", _NDCG_ORACLE)
def retrieval_ndcg_eval(spark, sf_dir):
    """NDCG@10 evaluation of both retrievers (BM25 and Dirichlet
    query likelihood) against the deterministic term-coverage
    relevance grade — the offline ranking-quality report a retrieval
    pipeline publishes per index build. IDCG comes from the corpus-
    wide ideal ordering, so scores are comparable across retrievers
    and rounds.

    Scale: relevance and both scores are per-row expressions over the
    one-pass token projection with 1-row broadcast stats (the BM25
    shape); every top-10 is TakeOrderedAndProject, and the three
    rank windows run over <= 10 limit-bounded rows each. Gains and
    the DCG/IDCG ratio are BIGINT micro-units (see the section
    comment). The dual-scored relation is session-persisted so the
    three top-k branches (and the tau evaluator, which shares it)
    tokenize the corpus ONCE instead of once per branch (r9 review;
    the pagerank session_cached precedent)."""
    scored = cached_dual_scored(spark, sf_dir)
    w_bm = Window.orderBy(F.desc("bm25"), "doc_id")
    w_ql = Window.orderBy(F.desc("qlm"), "doc_id")
    w_rel = Window.orderBy(F.desc("rel"), "doc_id")
    bmtop = (
        scored.orderBy(F.desc("bm25"), "doc_id")
        .limit(_NDCG_K)
        .select(
            F.lit("bm25").alias("retriever"),
            F.row_number().over(w_bm).cast("bigint").alias("rnk"),
            "rel",
        )
    )
    qltop = (
        scored.orderBy(F.desc("qlm"), "doc_id")
        .limit(_NDCG_K)
        .select(
            F.lit("ql").alias("retriever"),
            F.row_number().over(w_ql).cast("bigint").alias("rnk"),
            "rel",
        )
    )
    ideal = (
        scored.orderBy(F.desc("rel"), "doc_id")
        .limit(_NDCG_K)
        .select(
            F.row_number().over(w_rel).cast("bigint").alias("rnk"), "rel"
        )
    )
    gain = F.expr(_gain_micro_sql("rel", "rnk"))
    dcg = (
        bmtop.unionByName(qltop)
        .select("retriever", gain.alias("micro"))
        .groupBy("retriever")
        .agg(F.sum("micro").cast("bigint").alias("dcg_micro"))
    )
    idcg = ideal.select(gain.alias("micro")).agg(
        F.sum("micro").cast("bigint").alias("idcg_micro")
    )
    return dcg.crossJoin(F.broadcast(idcg)).select(
        "retriever",
        "dcg_micro",
        "idcg_micro",
        F.expr(micro6_sql(
            "CAST(dcg_micro AS DOUBLE) / NULLIF(idcg_micro, 0)"
        )).alias("ndcg_at_10"),
    )


# --- retriever rank correlation: Kendall tau (round 9, late batch 2) --------

_TAU_K = 20  # per-retriever list depth compared


_TAU_ORACLE = f"""
    WITH {_BM25_SCORED_SQL},
    qstats AS (
        SELECT CAST(sum(dl) AS BIGINT) AS coll_len,
               {", ".join(
                   f"CAST(sum(tf{i}) AS BIGINT) AS cf{i}"
                   for i in range(len(_BM25_TERMS)))}
        FROM f
    ),
    qlscored AS (
        SELECT doc_id,
               ({" + ".join(_ql_term_sql(i)
                            for i in range(len(_BM25_TERMS)))}) AS qlm
        FROM f CROSS JOIN qstats
    ),
    bmtop AS (
        SELECT doc_id, CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id)
                            AS BIGINT) AS r_bm
        FROM (SELECT * FROM scored ORDER BY bm25 DESC, doc_id
              LIMIT {_TAU_K})
    ),
    qltop AS (
        SELECT doc_id, CAST(row_number() OVER (ORDER BY qlm DESC, doc_id)
                            AS BIGINT) AS r_ql
        FROM (SELECT * FROM qlscored ORDER BY qlm DESC, doc_id
              LIMIT {_TAU_K})
    ),
    common AS (
        SELECT b.doc_id, b.r_bm, q.r_ql
        FROM bmtop b JOIN qltop q USING (doc_id)
    ),
    pairs AS (
        SELECT CASE WHEN (a.r_bm - b.r_bm) * (a.r_ql - b.r_ql) > 0
                    THEN 1 ELSE 0 END AS conc
        FROM common a JOIN common b ON a.doc_id < b.doc_id
    ),
    m AS (
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM common) AS n_common,
               CAST(coalesce(sum(conc), 0) AS BIGINT) AS concordant,
               CAST(coalesce(sum(1 - conc), 0) AS BIGINT) AS discordant
        FROM pairs
    )
    SELECT n_common, concordant, discordant,
           round(CAST(floor(CAST(concordant - discordant AS DOUBLE)
                            / NULLIF(n_common * (n_common - 1) / 2, 0)
                            * 1000000e0 + 0.5e0) AS BIGINT)
                 / 1000000e0, 6) AS kendall_tau
    FROM m
"""


def _ranked_top(scored: DataFrame, score: str, k: int, rank: str) -> DataFrame:
    """(doc_id, ``rank``): the ``k`` best documents by descending
    ``score``, ties by doc_id, ranked 1..k (a TakeOrderedAndProject
    plus a rank window over at most k rows)."""
    return (
        scored.orderBy(F.desc(score), "doc_id")
        .limit(k)
        .select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.desc(score), "doc_id"))
            .cast("bigint")
            .alias(rank),
        )
    )


def _with_degrees(p: DataFrame, sd: DataFrame) -> DataFrame:
    """The (s1, s2) pair relation ``p`` with both endpoints' degrees
    (deg1, deg2) joined from the degree table ``sd`` (supp, d)."""
    return p.join(
        sd.select(F.col("supp").alias("s1"), F.col("d").alias("deg1")),
        "s1",
    ).join(
        sd.select(F.col("supp").alias("s2"), F.col("d").alias("deg2")),
        "s2",
    )


@register("retrieval_rank_correlation", _TAU_ORACLE)
def retrieval_rank_correlation(spark, sf_dir):
    """Kendall tau-a rank correlation between the two retrievers'
    top-``_TAU_K`` lists over their common documents — the
    retriever-agreement diagnostic that tells an ensemble (e.g.
    retrieval_hybrid_rrf) whether its components actually disagree
    enough to be worth fusing (tau near 1 = redundant retrievers,
    near 0 = complementary). Ranks are the deterministic
    (score desc, doc_id) positions, so concordant/discordant pair
    counts are pure integers; the single tau division is quantized to
    micro-units.

    Scale: both top-k lists are TakeOrderedAndProject over the
    one-pass scored corpus (the BM25/QL shape); the pair join runs on
    the <= k-row common set — O(k²) on a constant k, independent of
    corpus size. Shares the session-persisted dual-scored relation
    with retrieval_ndcg_eval (one corpus tokenization serves both
    evaluators; r9 review)."""
    scored = cached_dual_scored(spark, sf_dir)
    bmtop = _ranked_top(scored, "bm25", _TAU_K, "r_bm")
    qltop = _ranked_top(scored, "qlm", _TAU_K, "r_ql")
    # common is <= k rows and is consumed by a SELF-JOIN plus the
    # count — checkpoint the metadata-scale relation so the two
    # retriever top-k subplans (and their rank windows) execute once
    # instead of once per branch (the PSI/JSD-cube precedent; the
    # plan audit counts the duplicated windows otherwise).
    common = (
        bmtop.join(qltop, "doc_id")
        .select("doc_id", "r_bm", "r_ql")
        .localCheckpoint(eager=True)
    )
    a, b = common.alias("a"), common.alias("b")
    pairs = a.join(b, F.col("a.doc_id") < F.col("b.doc_id")).select(
        F.when(
            (F.col("a.r_bm") - F.col("b.r_bm"))
            * (F.col("a.r_ql") - F.col("b.r_ql"))
            > 0,
            1,
        )
        .otherwise(0)
        .alias("conc")
    )
    counts = pairs.agg(
        F.coalesce(F.sum("conc"), F.lit(0)).cast("bigint").alias("concordant"),
        F.coalesce(F.sum(1 - F.col("conc")), F.lit(0))
        .cast("bigint")
        .alias("discordant"),
    )
    n_common = common.agg(F.count("*").cast("bigint").alias("n_common"))
    return n_common.crossJoin(F.broadcast(counts)).select(
        "n_common",
        "concordant",
        "discordant",
        F.expr(micro6_sql(
            "CAST(concordant - discordant AS DOUBLE)"
            " / NULLIF(n_common * (n_common - 1) / 2, 0)"
        )).alias("kendall_tau"),
    )


# --- retriever rank-biased overlap (round 15) -----------------------------------
#
# RBO@k (Webber et al. 2010, truncated — no extrapolation residual):
# the TOP-WEIGHTED agreement companion to Kendall tau, which weights
# every common pair equally — two retrievers that agree on ranks
# 1-5 and scramble 15-20 are near-interchangeable for a user, and
# only RBO says so. RBO@k = Σ_{d=1..k} (1−p)·p^(d−1) · |A_d ∩ B_d|/d
# over depth-d prefixes with persistence p = 0.9. The whole statistic
# collapses to ONE integer sum: a common document entering both
# prefixes at m = max(r_a, r_b) contributes exactly
# S[m] = Σ_{d=m..k} (1−p)·p^(d−1)/d, and the k values of S are
# PYTHON-PRECOMPUTED pico-quantized literals embedded identically in
# both engines (the _BENFORD_P literal rule — no engine evaluates a
# power or a division), so the query is exact integer arithmetic on
# ≤ k rows. Reports the depth-k overlap fraction alongside.

_RBO_P = 0.9
_RBO_K = _TAU_K

# S[m] = Σ_{d=m..k} floor((1−p)·p^(d−1)/d · 1e12 + 0.5) — suffix sums
# of the pico-quantized per-depth weights, m = 1..k.
_RBO_C_PICO = [
    int(math.floor(
        (1.0 - _RBO_P) * _RBO_P ** (d - 1) / d * 1e12 + 0.5))
    for d in range(1, _RBO_K + 1)
]
_RBO_SUFFIX_PICO = {
    m: sum(_RBO_C_PICO[m - 1:]) for m in range(1, _RBO_K + 1)
}

_RBO_CASE_SQL = (
    "CASE "
    + " ".join(
        f"WHEN m = {m} THEN {s}" for m, s in _RBO_SUFFIX_PICO.items()
    )
    + " ELSE 0 END"
)

_RBO_ORACLE = f"""
    WITH {_BM25_SCORED_SQL},
    qstats AS (
        SELECT CAST(sum(dl) AS BIGINT) AS coll_len,
               {", ".join(
                   f"CAST(sum(tf{i}) AS BIGINT) AS cf{i}"
                   for i in range(len(_BM25_TERMS)))}
        FROM f
    ),
    qlscored AS (
        SELECT doc_id,
               ({" + ".join(_ql_term_sql(i)
                            for i in range(len(_BM25_TERMS)))}) AS qlm
        FROM f CROSS JOIN qstats
    ),
    bmtop AS (
        SELECT doc_id, CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id)
                            AS BIGINT) AS r_bm
        FROM (SELECT * FROM scored ORDER BY bm25 DESC, doc_id
              LIMIT {_RBO_K})
    ),
    qltop AS (
        SELECT doc_id, CAST(row_number() OVER (ORDER BY qlm DESC, doc_id)
                            AS BIGINT) AS r_ql
        FROM (SELECT * FROM qlscored ORDER BY qlm DESC, doc_id
              LIMIT {_RBO_K})
    ),
    common AS (
        SELECT b.doc_id,
               CAST(greatest(b.r_bm, q.r_ql) AS BIGINT) AS m
        FROM bmtop b JOIN qltop q USING (doc_id)
    ),
    s AS (
        SELECT CAST(count(*) AS BIGINT) AS n_common,
               CAST(coalesce(sum({_RBO_CASE_SQL}), 0) AS BIGINT)
                   AS rbo_pico
        FROM common
    )
    SELECT CAST({_RBO_K} AS BIGINT) AS depth_k,
           {_RBO_P}e0 AS persistence_p,
           n_common,
           round(CAST(floor(CAST(n_common AS DOUBLE) / {_RBO_K}
                            * 1000000e0 + 0.5e0) AS BIGINT)
                 / 1000000e0, 6) AS overlap_at_k,
           round(CAST(floor(rbo_pico / 1000000e0 + 0.5e0) AS BIGINT)
                 / 1000000e0, 6) AS rbo_at_k
    FROM s
"""


@register("retrieval_rbo_overlap", _RBO_ORACLE)
def retrieval_rbo_overlap(spark, sf_dir):
    """Rank-biased overlap at depth k between the BM25 and
    query-likelihood top-k lists (see the section comment for the
    suffix-sum literal construction that makes the whole statistic
    one exact integer sum).

    Scale: both top-k lists are TakeOrderedAndProject over the
    session-persisted dual-scored relation (shared with NDCG/tau —
    one corpus tokenization serves all three evaluators); everything
    after runs on ≤ k rows."""
    scored = cached_dual_scored(spark, sf_dir)
    bmtop = _ranked_top(scored, "bm25", _RBO_K, "r_bm")
    qltop = _ranked_top(scored, "qlm", _RBO_K, "r_ql")
    common = bmtop.join(qltop, "doc_id").select(
        F.greatest("r_bm", "r_ql").cast("bigint").alias("m")
    )
    s = common.agg(
        F.count("*").cast("bigint").alias("n_common"),
        F.coalesce(F.sum(F.expr(_RBO_CASE_SQL)), F.lit(0))
        .cast("bigint")
        .alias("rbo_pico"),
    )
    return s.select(
        F.lit(_RBO_K).cast("bigint").alias("depth_k"),
        F.lit(float(_RBO_P)).alias("persistence_p"),
        "n_common",
        F.expr(micro6_sql(
            f"CAST(n_common AS DOUBLE) / {_RBO_K}"
        )).alias("overlap_at_k"),
        F.expr(
            "round(CAST(floor(rbo_pico / 1000000e0 + 0.5e0) AS BIGINT)"
            " / 1000000e0, 6)"
        ).alias("rbo_at_k"),
    )


# --- MRR / recall@k evaluation (round 10) ------------------------------------
#
# The reciprocal-rank companion to retrieval_ndcg_eval: NDCG grades the
# whole top-10 ordering, MRR grades only how fast the FIRST clearly
# relevant document surfaces, and recall@10 how much of the corpus-wide
# relevant set the window captures — the three numbers a retrieval
# dashboard shows side by side. "Clearly relevant" is the deterministic
# term-coverage grade at rel >= _MRR_REL_MIN (at least two query terms
# present), so the evaluation needs no human labels, exactly like the
# NDCG grade. 1/rank and the recall ratio are the only divisions; both
# are BIGINT micro-unit quantized (the cross-engine rule).

_MRR_K = 10
_MRR_REL_MIN = 2

_MRR_ORACLE = f"""
    WITH {_BM25_SCORED_SQL},
    qstats AS (
        SELECT CAST(sum(dl) AS BIGINT) AS coll_len,
               {", ".join(
                   f"CAST(sum(tf{i}) AS BIGINT) AS cf{i}"
                   for i in range(len(_BM25_TERMS)))}
        FROM f
    ),
    qlscored AS (
        SELECT doc_id,
               ({" + ".join(_ql_term_sql(i)
                            for i in range(len(_BM25_TERMS)))}) AS qlm
        FROM f CROSS JOIN qstats
    ),
    rel AS (
        SELECT doc_id,
               CAST({" + ".join(
                   f"(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END)"
                   for i in range(len(_BM25_TERMS)))} AS BIGINT) AS rel
        FROM f
    ),
    bmtop AS (
        SELECT doc_id, CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id)
                            AS BIGINT) AS rnk
        FROM (SELECT * FROM scored ORDER BY bm25 DESC, doc_id
              LIMIT {_MRR_K})
    ),
    qltop AS (
        SELECT doc_id, CAST(row_number() OVER (ORDER BY qlm DESC, doc_id)
                            AS BIGINT) AS rnk
        FROM (SELECT * FROM qlscored ORDER BY qlm DESC, doc_id
              LIMIT {_MRR_K})
    ),
    nrel AS (
        SELECT CAST(count(*) AS BIGINT) AS n_relevant
        FROM rel WHERE rel >= {_MRR_REL_MIN}
    ),
    hits AS (
        SELECT 'bm25' AS retriever,
               min(CASE WHEN r.rel >= {_MRR_REL_MIN} THEN t.rnk END)
                   AS first_rel_rank,
               CAST(coalesce(sum(CASE WHEN r.rel >= {_MRR_REL_MIN}
                                      THEN 1 ELSE 0 END), 0) AS BIGINT)
                   AS hits_at_k
        FROM bmtop t JOIN rel r USING (doc_id)
        UNION ALL
        SELECT 'ql',
               min(CASE WHEN r.rel >= {_MRR_REL_MIN} THEN t.rnk END),
               CAST(coalesce(sum(CASE WHEN r.rel >= {_MRR_REL_MIN}
                                      THEN 1 ELSE 0 END), 0) AS BIGINT)
        FROM qltop t JOIN rel r USING (doc_id)
    )
    SELECT retriever, first_rel_rank, hits_at_k, n_relevant,
           coalesce(round(CAST(floor(1000000e0 / first_rel_rank + 0.5e0)
                               AS BIGINT) / 1000000e0, 6), 0e0)
               AS mrr_at_10,
           coalesce(round(CAST(floor(CAST(hits_at_k AS DOUBLE)
                                     / NULLIF(n_relevant, 0)
                                     * 1000000e0 + 0.5e0) AS BIGINT)
                          / 1000000e0, 6), 0e0)
               AS recall_at_10
    FROM hits CROSS JOIN nrel
"""


@register("retrieval_mrr_eval", _MRR_ORACLE)
def retrieval_mrr_eval(spark, sf_dir):
    """MRR@10 and standard recall@10 for both retrievers (BM25 and
    Dirichlet query likelihood) against the deterministic
    term-coverage relevance grade at rel >= _MRR_REL_MIN — the
    first-hit-speed and coverage companions to retrieval_ndcg_eval's
    full-ordering grade. recall_at_10 = hits_at_k / n_relevant, the
    corpus-wide relevant-set denominator (NOT the min(k, n_relevant)
    R-precision cap — with 100 relevant docs and 10 hits it reads
    0.1, not 1.0; r10 ADVICE). A retriever that never surfaces a
    relevant doc in its top-10 scores MRR 0, the convention that
    keeps the metric summable across query sets.

    Scale: both top-10s are TakeOrderedAndProject over the one-pass
    scored corpus; the rank windows run over <= 10 limit-bounded rows
    each (counted waiver); the relevant-set count is a 1-row
    broadcast aggregate. Shares the session-persisted dual-scored
    relation with the NDCG and tau evaluators (one corpus
    tokenization serves all three)."""
    scored = cached_dual_scored(spark, sf_dir)
    w_bm = Window.orderBy(F.desc("bm25"), "doc_id")
    w_ql = Window.orderBy(F.desc("qlm"), "doc_id")
    bmtop = (
        scored.orderBy(F.desc("bm25"), "doc_id")
        .limit(_MRR_K)
        .select(
            F.row_number().over(w_bm).cast("bigint").alias("rnk"),
            "rel",
        )
    )
    qltop = (
        scored.orderBy(F.desc("qlm"), "doc_id")
        .limit(_MRR_K)
        .select(
            F.row_number().over(w_ql).cast("bigint").alias("rnk"),
            "rel",
        )
    )
    rel_min = F.lit(_MRR_REL_MIN)

    def _hits(top, tag):
        # aggregate WITHOUT groupBy, exactly like the oracle's
        # per-branch aggregates: one row per retriever even on an
        # empty corpus (a groupBy would emit zero rows there and
        # diverge structurally from the oracle — r10 review)
        return top.agg(
            F.min(F.when(F.col("rel") >= rel_min, F.col("rnk"))).alias(
                "first_rel_rank"
            ),
            F.coalesce(
                F.sum(F.when(F.col("rel") >= rel_min, 1).otherwise(0)),
                F.lit(0),
            )
            .cast("bigint")
            .alias("hits_at_k"),
        ).select(F.lit(tag).alias("retriever"), "*")

    hits = _hits(bmtop, "bm25").unionByName(_hits(qltop, "ql"))
    nrel = scored.where(F.col("rel") >= rel_min).agg(
        F.count("*").cast("bigint").alias("n_relevant")
    )
    return hits.crossJoin(F.broadcast(nrel)).select(
        "retriever",
        "first_rel_rank",
        "hits_at_k",
        "n_relevant",
        F.coalesce(
            F.round(
                F.expr(
                    "CAST(floor(1000000e0 / first_rel_rank + 0.5e0)"
                    " AS BIGINT)"
                )
                / F.expr("1000000e0"),
                6,
            ),
            F.lit(0e0),
        ).alias("mrr_at_10"),
        F.coalesce(
            F.expr(micro6_sql("CAST(hits_at_k AS DOUBLE) / NULLIF(n_relevant, 0)")),
            F.lit(0e0),
        ).alias("recall_at_10"),
    )


# --- neighbor-set Jaccard similarity (round 10) -------------------------------
#
# Node similarity on the same capped customer-supplier edge set the
# co-supplier projection walks: for each co-supplier pair, Jaccard of
# their customer-neighbor sets = shared / (deg1 + deg2 − shared) —
# the normalized "how substitutable are these two suppliers" score
# that raw shared-customer counts overstate for high-degree nodes.
# Both the intersection and the degrees are computed on the SAME
# hub-capped edge set, so the ratio is internally consistent. The
# top-20 ordering key is the BIGINT micro-unit Jaccard (identical in
# both engines — never order by a raw double), tie-broken by the pair
# ids.

_JACSIM_TOP = 20

_JACSIM_ORACLE = f"""
    WITH {_COSUPP_EDGES_SQL},
    p AS (
        SELECT a.supp AS s1, b.supp AS s2,
               CAST(count(*) AS BIGINT) AS shared_customers
        FROM ee a JOIN ee b ON a.cust = b.cust AND a.supp < b.supp
        GROUP BY 1, 2
    ),
    sd AS (SELECT supp, CAST(count(*) AS BIGINT) AS d FROM ee GROUP BY 1),
    j AS (
        SELECT p.s1, p.s2, p.shared_customers,
               d1.d AS deg1, d2.d AS deg2,
               CAST(floor(CAST(p.shared_customers AS DOUBLE)
                          / (d1.d + d2.d - p.shared_customers)
                          * 1000000e0 + 0.5e0) AS BIGINT) AS jac_micro
        FROM p JOIN sd d1 ON d1.supp = p.s1 JOIN sd d2 ON d2.supp = p.s2
    )
    SELECT s1, s2, shared_customers, deg1, deg2,
           round(jac_micro / 1000000e0, 6) AS jaccard
    FROM j ORDER BY jac_micro DESC, s1, s2 LIMIT {_JACSIM_TOP}
"""


@register("graph_jaccard_similarity", _JACSIM_ORACLE, headline=True)
def graph_jaccard_similarity(spark, sf_dir):
    """Top-20 supplier pairs by customer-neighbor-set Jaccard
    similarity on the hub-capped purchase graph — the degree-
    normalized companion to graph_cosupplier_projection's raw
    shared-customer ranking. See the section comment for the
    consistency and determinism contracts.

    Scale: reuses the shared capped-edge + map-side pair-expansion
    helpers (never an uncapped per-customer self-join); the degree
    relation is supplier-dimension-scale and joins onto the pair
    relation; the final top-20 is TakeOrderedAndProject on the
    integer-exact micro-unit key. The ee relation feeds BOTH the pair
    branch and the degree branch. r15 (VERDICT r14 #4): both branches
    now read the SESSION-PERSISTED family relations — the pair cells
    and the degree table — so repeated family queries share one
    materialization instead of re-deriving the edge subtree per run
    (the earlier within-query localCheckpoint(ee) variant measured
    SLOWER, 4.68 s vs 2.92 s min-of-3 at sf0.1, because it
    materialized the FACT-scale edges; the cached relations are
    dimension²- and dimension-scale)."""
    p = _cosupp_pair_cells(spark, sf_dir)
    sd = _cosupp_degrees(spark, sf_dir)
    j = (
        _with_degrees(p, sd)
        .withColumn(
            "jac_micro",
            F.expr(micro_units_sql(
                "CAST(shared_customers AS DOUBLE) / (deg1 + deg2 - shared_customers)"
            )),
        )
    )
    return (
        j.orderBy(F.desc("jac_micro"), "s1", "s2")
        .limit(_JACSIM_TOP)
        .select(
            "s1",
            "s2",
            "shared_customers",
            "deg1",
            "deg2",
            F.round(F.col("jac_micro") / F.expr("1000000e0"), 6).alias(
                "jaccard"
            ),
        )
    )


# --- Adamic–Adar link prediction (round 12) -----------------------------------
#
# The third member of the neighbor-set similarity family on the SAME
# hub-capped purchase graph (raw shared-customer counts → Jaccard →
# Adamic–Adar): each shared customer is weighted by 1/ln(its supplier
# degree), so a customer who buys from only two suppliers is strong
# evidence those suppliers are substitutes while a near-hub customer
# contributes almost nothing — the classic link-prediction refinement
# the uniform count misses. A shared customer has degree ≥ 2 by
# construction (it links both suppliers), so ln(deg) > 0 and no
# div-by-zero guard is needed; degrees are the CAPPED set's (≤
# _COSUPP_DEG_CAP), keeping weight and pair generation internally
# consistent. Per-customer weights are micro-quantized BIGINTs
# (floor(1e6/ln(deg) + 0.5) — ln on the same small-integer double in
# both engines, the entropy_term_micro_sql libm rule) and the
# per-pair score is their exact integer sum; top-20 orders on the
# BIGINT key, tie-broken by the pair ids — never a raw double.

_AA_TOP = 20

# ONE oracle skeleton for the degree-weighted link-prediction family
# (Adamic–Adar, resource-allocation) — parameterized by the weight
# expression and output name exactly like the Spark twin
# _weighted_cosupp_topk, so a structural fix (the d >= 2 filter, the
# tie-break) can never desynchronize the family (r12 second review).
def _weighted_cosupp_oracle(weight_sql: str, score_name: str) -> str:
    return f"""
    WITH {_COSUPP_EDGES_SQL},
    cdeg AS (
        SELECT cust, CAST(count(*) AS BIGINT) AS d FROM ee GROUP BY 1
    ),
    w AS (
        SELECT cust, {weight_sql} AS w_micro
        FROM cdeg WHERE d >= 2
    ),
    p AS (
        SELECT a.supp AS s1, b.supp AS s2,
               CAST(count(*) AS BIGINT) AS shared_customers,
               CAST(sum(w.w_micro) AS BIGINT) AS score_micro
        FROM ee a JOIN ee b ON a.cust = b.cust AND a.supp < b.supp
        JOIN w ON w.cust = a.cust
        GROUP BY 1, 2
    )
    SELECT s1, s2, shared_customers,
           round(score_micro / 1000000e0, 6) AS {score_name}
    FROM p ORDER BY score_micro DESC, s1, s2 LIMIT {_AA_TOP}
"""


_AA_ORACLE = _weighted_cosupp_oracle(
    "CAST(floor(1000000e0 / ln(CAST(d AS DOUBLE)) + 0.5e0) AS BIGINT)",
    "adamic_adar",
)


@register("graph_adamic_adar", _AA_ORACLE, headline=True)
def graph_adamic_adar(spark, sf_dir):
    """Top-20 supplier pairs by Adamic–Adar score on the hub-capped
    purchase graph — the degree-weighted link-prediction companion to
    graph_jaccard_similarity (see the section comment for the
    weighting and determinism contracts).

    Scale: reads the session-persisted pair cells (VERDICT r14 #4) —
    the per-customer weight was carried INTO the one shared map-side
    expansion at build time, so this query is a
    TakeOrderedAndProject over the dimension²-scale persisted
    relation on its exact BIGINT score column."""
    return _weighted_cosupp_topk(spark, sf_dir, "aa_micro", "adamic_adar")


def _weighted_cosupp_topk(spark, sf_dir, score_col, score_name):
    """Shared degree-weighted link-prediction reader: top-20 on the
    named exact-BIGINT score column of the session-persisted pair
    cells (tie-broken by the pair ids — never a raw double). The
    weight arithmetic and the size >= 2 placement contract live in
    ``_cosupp_pair_cells`` (r12 review; the oracles' WHERE d >= 2
    mirror)."""
    p = _cosupp_pair_cells(spark, sf_dir)
    return (
        p.orderBy(F.desc(score_col), "s1", "s2")
        .limit(_AA_TOP)
        .select(
            "s1",
            "s2",
            "shared_customers",
            F.round(F.col(score_col) / F.expr("1000000e0"), 6).alias(
                score_name
            ),
        )
    )


# --- resource-allocation link prediction (round 12, second batch) --------------
#
# The FP-free member of the link-prediction family on the same
# capped graph: RA weights each shared customer 1/deg instead of
# Adamic–Adar's 1/ln(deg) — punishing hub evidence harder, and (the
# registered point) computable in PURE INTEGER arithmetic end to
# end: the micro weight round(1e6/d) is the integer identity
# (2·1e6 + d) div (2d), so there is no floating-point operation
# anywhere in the query — no libm, no exactly-rounded-IEEE argument
# needed, bit-identical by construction on any engine with 64-bit
# integer division. (DuckDB spells integer division `//`, Spark
# `DIV`; same operation.)

_RA_ORACLE = _weighted_cosupp_oracle(
    "CAST((2000000 + d) // (2 * d) AS BIGINT)", "resource_allocation"
)


@register("graph_resource_allocation", _RA_ORACLE)
def graph_resource_allocation(spark, sf_dir):
    """Top-20 supplier pairs by resource-allocation score on the
    hub-capped purchase graph — the pure-integer 1/deg twin of
    graph_adamic_adar on the shared weighted-pair scorer (see the
    section comment: round(1e6/d) as (2·1e6 + d) div 2d makes the
    whole query FP-free).

    Scale: identical shape to Adamic–Adar — TakeOrderedAndProject on
    the persisted pair cells' exact BIGINT ra_micro column."""
    return _weighted_cosupp_topk(
        spark, sf_dir, "ra_micro", "resource_allocation"
    )


# --- preferential-attachment link prediction (round 13) ------------------------
#
# The fourth member of the link-prediction family on the SAME
# hub-capped purchase graph (shared-count → Jaccard → Adamic–Adar →
# resource-allocation → PA): score(s1, s2) = deg(s1) · deg(s2), the
# density-based baseline every link-prediction benchmark quotes —
# unlike the neighbor-overlap scores it rewards GLOBALLY active
# supplier pairs, so ranking it beside AA/RA shows whether a
# predicted link is evidence-driven or just hub gravity (VERDICT r12
# #7 candidate). Candidates stay the pairs with ≥ 1 shared customer
# (the family's candidate rule; unrestricted PA would rank C(S, 2)
# pairs of which almost all are noise). Degrees are the CAPPED edge
# set's per-supplier customer counts — the same sd relation the
# Jaccard query joins — keeping the whole family internally
# consistent. The score is an exact BIGINT product of two bounded
# counts (deg ≤ |customers|; the product overflows int64 only past
# ~3e9 customers per supplier — and then DECIMAL(38) is the
# documented fallback), so like resource-allocation the query is
# FP-free end to end: no libm, no quantization, bit-identical on any
# 64-bit-integer engine. Top-20 orders on the BIGINT score,
# tie-broken (score, s1, s2).

_PA_TOP = 20

_PA_ORACLE = f"""
    WITH {_COSUPP_EDGES_SQL},
    p AS (
        SELECT a.supp AS s1, b.supp AS s2,
               CAST(count(*) AS BIGINT) AS shared_customers
        FROM ee a JOIN ee b ON a.cust = b.cust AND a.supp < b.supp
        GROUP BY 1, 2
    ),
    sd AS (SELECT supp, CAST(count(*) AS BIGINT) AS d FROM ee GROUP BY 1),
    j AS (
        SELECT p.s1, p.s2, p.shared_customers,
               d1.d AS deg1, d2.d AS deg2,
               d1.d * d2.d AS pa_score
        FROM p JOIN sd d1 ON d1.supp = p.s1 JOIN sd d2 ON d2.supp = p.s2
    )
    SELECT s1, s2, shared_customers, deg1, deg2, pa_score
    FROM j ORDER BY pa_score DESC, s1, s2 LIMIT {_PA_TOP}
"""


@register("graph_preferential_attachment", _PA_ORACLE)
def graph_preferential_attachment(spark, sf_dir):
    """Top-20 supplier pairs by preferential-attachment score
    (deg·deg) among pairs sharing at least one customer on the
    hub-capped purchase graph — the density baseline beside
    Jaccard/Adamic–Adar/resource-allocation (see the section comment
    for the candidate rule and the FP-free contract).

    Scale: reuses the shared capped-edge relation, the map-side pair
    expansion (never an uncapped self-join), and the
    supplier-dimension-scale degree relation (joined twice onto the
    pair relation — AQE broadcast-joins it, and ReuseExchange dedups
    the shared ee subtree exactly as in graph_jaccard_similarity);
    the final top-20 is TakeOrderedAndProject on the exact BIGINT
    key. r15: both inputs are the session-persisted family relations
    (VERDICT r14 #4)."""
    p = _cosupp_pair_cells(spark, sf_dir).select(
        "s1", "s2", "shared_customers"
    )
    sd = _cosupp_degrees(spark, sf_dir)
    j = (
        _with_degrees(p, sd)
        .withColumn("pa_score", F.col("deg1") * F.col("deg2"))
    )
    return (
        j.orderBy(F.desc("pa_score"), "s1", "s2")
        .limit(_PA_TOP)
        .select(
            "s1", "s2", "shared_customers", "deg1", "deg2", "pa_score"
        )
    )


# --- degree assortativity (round 14) -------------------------------------------
#
# Newman's degree-correlation coefficient on the co-purchase graph:
# Pearson r of the endpoint degrees over the (symmetrized) edge list
# — positive means high-volume suppliers co-occur with high-volume
# suppliers (a hub club), negative a hub-and-spoke economy. Degrees
# are the family's customer counts on the capped bipartite relation
# (the PA query's sd), edges the shared s1 < s2 pair relation. With
# each undirected pair counted in both orientations the x- and
# y-marginals coincide, so r needs only FOUR exact BIGINT sums over
# the pair relation (E, Σ(d1+d2), Σ(d1²+d2²), Σd1·d2):
#   r = (2E·2Σd1d2 − S1²) / (2E·S2 − S1²),  S1 = Σ(d1+d2), S2 = Σ(d1²+d2²)
# — one fixed NULLIF-guarded double tree over the integer cells,
# micro-quantized (den = 0 ⇔ all endpoint degrees equal ⇒ r NULL).
# Integer cells stay exact past 10⁶-degree hubs on 10⁹ edges
# (d² ≤ 1e12 × 1e9 rows < 2⁶³); beyond, DECIMAL(38) — the ANOVA
# bound convention.

_ASSORT_R_SQL = (
    "CASE WHEN (2e0 * e_cnt * CAST(s2 AS DOUBLE)"
    " - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) <> 0e0 THEN"
    " " + micro6_sql(
        "(2e0 * e_cnt * (2e0 * CAST(sxy AS DOUBLE))"
        " - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))"
        " / (2e0 * e_cnt * CAST(s2 AS DOUBLE)"
        " - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))"
    ) + " END"
)

_ASSORT_ORACLE = f"""
    WITH {_COSUPP_EDGES_SQL},
    p AS (
        SELECT a.supp AS s1, b.supp AS s2
        FROM ee a JOIN ee b ON a.cust = b.cust AND a.supp < b.supp
        GROUP BY 1, 2
    ),
    sd AS (SELECT supp, CAST(count(*) AS BIGINT) AS d FROM ee GROUP BY 1),
    j AS (
        SELECT d1.d AS deg1, d2.d AS deg2
        FROM p JOIN sd d1 ON d1.supp = p.s1 JOIN sd d2 ON d2.supp = p.s2
    ),
    cells AS (
        SELECT CAST(count(*) AS BIGINT) AS e_cnt,
               CAST(sum(deg1 + deg2) AS BIGINT) AS s1,
               CAST(sum(deg1 * deg1 + deg2 * deg2) AS BIGINT) AS s2,
               CAST(sum(deg1 * deg2) AS BIGINT) AS sxy
        FROM j
    ),
    nn AS (
        SELECT CAST(count(DISTINCT supp) AS BIGINT) AS n_nodes
        FROM (SELECT s1 AS supp FROM p UNION SELECT s2 FROM p)
    )
    SELECT nn.n_nodes, cells.e_cnt AS n_edges,
           cells.s1 AS sum_endpoint_degrees,
           {_ASSORT_R_SQL} AS assortativity
    FROM cells CROSS JOIN nn
"""


@register("graph_degree_assortativity", _ASSORT_ORACLE)
def graph_degree_assortativity(spark, sf_dir):
    """Newman degree assortativity of the hub-capped co-purchase
    graph: Pearson r of endpoint degrees over the symmetrized shared
    pair relation, from four exact BIGINT edge sums (see the section
    comment for the marginal-coincidence identity and the exactness
    bound).

    Scale: reuses the shared capped-edge relation, the map-side pair
    expansion, and the dimension-scale degree relation (joined twice,
    AQE-broadcast like the PA/jaccard siblings); the four cells are
    ONE map-side-combined aggregate and the report is one scalar
    row — no window, no driver state. r15: both inputs are the
    session-persisted family relations (VERDICT r14 #4)."""
    p = _cosupp_pair_cells(spark, sf_dir).select("s1", "s2")
    sd = _cosupp_degrees(spark, sf_dir)
    j = p.join(
        sd.select(F.col("supp").alias("s1"), F.col("d").alias("deg1")), "s1"
    ).join(
        sd.select(F.col("supp").alias("s2"), F.col("d").alias("deg2")), "s2"
    )
    cells = j.agg(
        F.count("*").cast("bigint").alias("e_cnt"),
        F.sum(F.col("deg1") + F.col("deg2")).cast("bigint").alias("s1"),
        F.sum(
            F.col("deg1") * F.col("deg1") + F.col("deg2") * F.col("deg2")
        )
        .cast("bigint")
        .alias("s2"),
        F.sum(F.col("deg1") * F.col("deg2")).cast("bigint").alias("sxy"),
    )
    nn = (
        p.select(F.col("s1").alias("supp"))
        .union(p.select(F.col("s2").alias("supp")))
        .distinct()
        .agg(F.count("*").cast("bigint").alias("n_nodes"))
    )
    return cells.crossJoin(F.broadcast(nn)).select(
        "n_nodes",
        F.col("e_cnt").alias("n_edges"),
        F.col("s1").alias("sum_endpoint_degrees"),
        F.expr(_ASSORT_R_SQL).alias("assortativity"),
    )


# --- pseudo-relevance-feedback query expansion (round 10) ----------------------
#
# The classic RM1-style first step of query expansion: take the BM25
# top-10, pool their tokens, drop the original query terms, and rank
# candidate expansion terms by pooled term frequency (tie-broken by
# token) — the deterministic integer core of PRF, with document
# frequency alongside so a reranker can prefer focused terms. Pure
# integer counts end-to-end: no score arithmetic at all, so the only
# cross-engine surface is the tokenizer (already shared) and the
# BM25 top-k ordering (the established (score desc, doc_id) key).

_PRF_K_DOCS = 10
_PRF_K_TERMS = 10

_PRF_ORACLE = f"""
    WITH {_BM25_SCORED_SQL},
    top AS (
        SELECT doc_id FROM scored ORDER BY bm25 DESC, doc_id
        LIMIT {_PRF_K_DOCS}
    ),
    w AS (
        SELECT t.doc_id, unnest(t.toks) AS tok
        FROM t JOIN top USING (doc_id)
    ),
    cand AS (
        SELECT tok,
               CAST(count(*) AS BIGINT) AS tf_topk,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS df_topk
        FROM w
        WHERE tok <> ''
          AND tok NOT IN ({", ".join(f"'{t}'" for t in _BM25_TERMS)})
        GROUP BY 1
    )
    SELECT tok, tf_topk, df_topk
    FROM cand ORDER BY tf_topk DESC, tok LIMIT {_PRF_K_TERMS}
"""


@register("retrieval_prf_expansion", _PRF_ORACLE)
def retrieval_prf_expansion(spark, sf_dir):
    """Top-10 pseudo-relevance-feedback expansion terms from the BM25
    top-10 document pool — see the section comment. Everything after
    the BM25 ranking is exact integer counting.

    Scale: the top-10 doc ids come off the session-persisted
    dual-scored relation (TakeOrderedAndProject) and broadcast into a
    semi-join against the corpus, so only 10 documents re-tokenize;
    the candidate aggregate runs on their token multiset and the
    final top-10 is TakeOrderedAndProject on integer keys."""
    cand = _prf_candidates(spark, sf_dir)
    return cand.orderBy(F.desc("tf_topk"), "tok").limit(_PRF_K_TERMS)


def _prf_candidates(spark, sf_dir) -> DataFrame:
    """(tok, tf_topk, df_topk) over the BM25 top-10 document pool,
    original query terms excluded — the RM1 candidate relation shared
    by retrieval_prf_expansion and retrieval_rm3_interpolated."""
    scored = cached_dual_scored(spark, sf_dir)
    top = scored.orderBy(F.desc("bm25"), "doc_id").limit(_PRF_K_DOCS).select(
        "doc_id"
    )
    docs = load_table(spark, sf_dir, "documents")
    pooled = docs.join(F.broadcast(top), "doc_id").select(
        "doc_id", F.explode(X.tokens()).alias("tok")
    )
    return (
        pooled.where(
            (F.col("tok") != "") & (~F.col("tok").isin(list(_BM25_TERMS)))
        )
        .groupBy("tok")
        .agg(
            F.count("*").cast("bigint").alias("tf_topk"),
            F.countDistinct("doc_id").cast("bigint").alias("df_topk"),
        )
    )


# --- RM3 interpolated query expansion (round 11) -------------------------------
#
# The full RM3 step on top of retrieval_prf_expansion's RM1 pool
# (ROADMAP candidate r11 #5): the expanded query interpolates the
# original uniform query model at lambda = 0.6 with the RM1 feedback
# model (expansion-term weight proportional to pooled tf over the
# selected top-10 terms), then the corpus is RE-SCORED against the
# 14-term weighted query with the same BM25 term machinery and
# constants. Every term weight is a fixed integer micro-unit
# (original terms exactly 600000/4 = 150000 each; expansion term e
# gets floor(400000 * tf_e / sum_tf + 0.5)), and each term's weighted
# contribution is floored to BIGINT micro BEFORE the per-document
# sum, so the total is an integer addition — order-independent across
# partitionings and engines, never a float aggregate. The Spark side
# collects the 10 expansion (term, tf) rows to build a fixed-column
# tf projection (bounded model collect — the IVF k-centroids
# precedent) and keeps the re-score itself a single whole-stage
# codegen pass: per-term array-filter counts + a fixed-order 14-term
# integer sum, no token explode, no extra shuffle. The oracle derives
# the identical term set and weights purely in SQL and re-scores via
# a token-level join — different plan, same integers.

_RM3_LAMBDA_ORIG_MICRO = 600_000  # lambda = 0.6 toward the original query
_RM3_LAMBDA_EXP_MICRO = 400_000
_RM3_TOP_K = 10

_RM3_ORACLE = f"""
    WITH {_BM25_SCORED_SQL},
    top AS (
        SELECT doc_id FROM scored ORDER BY bm25 DESC, doc_id
        LIMIT {_PRF_K_DOCS}
    ),
    pooled AS (
        SELECT t.doc_id, unnest(t.toks) AS tok
        FROM t JOIN top USING (doc_id)
    ),
    exp_terms AS (
        SELECT tok, CAST(count(*) AS BIGINT) AS tf_topk
        FROM pooled
        WHERE tok <> ''
          AND tok NOT IN ({", ".join(f"'{t}'" for t in _BM25_TERMS)})
        GROUP BY 1
        ORDER BY tf_topk DESC, tok LIMIT {_PRF_K_TERMS}
    ),
    exp_sum AS (
        SELECT CAST(sum(tf_topk) AS BIGINT) AS s FROM exp_terms
    ),
    qterms AS (
        SELECT tok,
               CAST({_RM3_LAMBDA_ORIG_MICRO // len(_BM25_TERMS)} AS BIGINT)
                   AS w_micro
        FROM (VALUES {", ".join(f"('{t}')" for t in _BM25_TERMS)}) v(tok)
        UNION ALL
        SELECT tok,
               CAST(floor(CAST({_RM3_LAMBDA_EXP_MICRO} * tf_topk AS DOUBLE)
                          / s + 0.5) AS BIGINT)
        FROM exp_terms CROSS JOIN exp_sum
    ),
    toktf AS (
        SELECT u.doc_id, u.tok, CAST(count(*) AS BIGINT) AS tf
        FROM (SELECT doc_id, unnest(toks) AS tok FROM t) u
        JOIN qterms q ON q.tok = u.tok
        GROUP BY 1, 2
    ),
    tdf AS (
        SELECT tok, CAST(count(*) AS BIGINT) AS df FROM toktf GROUP BY 1
    ),
    contrib AS (
        SELECT tt.doc_id,
               CAST(floor(q.w_micro
                     * (round(ln(1 + (s.n_docs - d.df + 0.5)
                                 / (d.df + 0.5)), 6)
                        * (tt.tf * {_BM25_K1_PLUS_1})
                        / (tt.tf + {_BM25_K1} * ({_BM25_ONE_MINUS_B}
                           + {_BM25_B} * f.dl / s.avgdl)))
                     + 0.5) AS BIGINT) AS c
        FROM toktf tt
        JOIN qterms q ON q.tok = tt.tok
        JOIN tdf d ON d.tok = tt.tok
        JOIN f ON f.doc_id = tt.doc_id
        CROSS JOIN stats s
    ),
    rm3 AS (
        SELECT f.doc_id,
               CAST(coalesce(sum(c.c), 0) AS BIGINT) AS rm3_micro
        FROM f LEFT JOIN contrib c ON c.doc_id = f.doc_id
        GROUP BY 1
    )
    SELECT r.doc_id,
           round(r.rm3_micro / 1000000e0, 6) AS rm3_score,
           sc.bm25 AS bm25_orig
    FROM rm3 r JOIN scored sc ON sc.doc_id = r.doc_id
    ORDER BY r.rm3_micro DESC, r.doc_id
    LIMIT {_RM3_TOP_K}
"""


@register("retrieval_rm3_interpolated", _RM3_ORACLE)
def retrieval_rm3_interpolated(spark, sf_dir):
    """RM3 interpolated re-query: the corpus re-ranked against the
    14-term expanded query (original terms at lambda = 0.6, RM1
    expansion terms at 0.4 weighted by pooled tf), every weight and
    per-term contribution a fixed integer micro-unit — see the
    section comment. bm25_orig rides along so the output shows the
    re-ranking shift against the unexpanded retriever.

    Scale: the expansion-term model is a 10-row bounded collect off
    the PRF candidate aggregate (the IVF k-centroids precedent); the
    re-score is ONE corpus pass with fixed-column array-filter tf
    counts, two 1-row broadcast stats, a fixed-order 14-term integer
    sum, and a TakeOrderedAndProject on (rm3_micro, doc_id) — no
    token explode, no per-term shuffle, nothing driver-side beyond
    the 10-row model."""
    cand = _prf_candidates(spark, sf_dir)
    exp_rows = (
        cand.orderBy(F.desc("tf_topk"), "tok")
        .limit(_PRF_K_TERMS)
        .select("tok", "tf_topk")
        .collect()
    )
    s = sum(r.tf_topk for r in exp_rows)
    orig_w = _RM3_LAMBDA_ORIG_MICRO // len(_BM25_TERMS)
    terms: list[tuple[str, int]] = [(t, orig_w) for t in _BM25_TERMS]
    if s:
        terms += [
            (
                r.tok,
                math.floor(_RM3_LAMBDA_EXP_MICRO * r.tf_topk / s + 0.5),
            )
            for r in exp_rows
        ]

    docs = load_table(spark, sf_dir, "documents")
    f = _tf_projection(docs, tuple(t for t, _ in terms))
    stats = _bm_stats(f, len(terms))

    def _contrib_sql(i: int, w_micro: int) -> str:
        return (
            f"CAST(floor({w_micro}"
            f" * (round(ln(1 + (n_docs - df{i} + 0.5) / (df{i} + 0.5)), 6)"
            f"    * (tf{i} * {_BM25_K1_PLUS_1})"
            f"    / (tf{i} + {_BM25_K1} * ({_BM25_ONE_MINUS_B}"
            f"       + {_BM25_B} * dl / avgdl)))"
            f" + 0.5) AS BIGINT)"
        )

    total = F.expr(_contrib_sql(0, terms[0][1]))
    for i, (_, w) in enumerate(terms[1:], start=1):
        total = total + F.expr(_contrib_sql(i, w))
    bm25_orig = F.expr(
        " + ".join(
            f"({_bm25_term_sql(i)})" for i in range(len(_BM25_TERMS))
        )
    )
    scored = f.crossJoin(F.broadcast(stats)).select(
        "doc_id",
        total.cast("bigint").alias("rm3_micro"),
        F.round(bm25_orig, 4).alias("bm25_orig"),
    )
    return (
        scored.orderBy(F.desc("rm3_micro"), "doc_id")
        .limit(_RM3_TOP_K)
        .select(
            "doc_id",
            F.round(F.col("rm3_micro") / F.expr("1000000e0"), 6).alias(
                "rm3_score"
            ),
            "bm25_orig",
        )
    )


# --- bipartite degree distribution (round 11) ----------------------------------
#
# The degree profile that JUSTIFIES the graph family's hub caps
# (_COSUPP_DEG_CAP, _JACCARD_CAP): the log2-bucketed histogram of
# customer degree in the raw customer–supplier purchase graph, with
# each bucket's share of total edge mass and a flag for buckets that
# start above the co-supplier cap. Read it as the skew evidence —
# the wedge work of any within-customer pair expansion is Σ C(deg,2),
# so the edge-mass share of the top buckets is exactly the fraction
# the cap refuses to square. Buckets are floor(log2(deg)) computed
# INTEGER-EXACTLY as bit length − 1 (the corpus_length_log2_histogram
# idiom — no FP wobble at powers of two); counts and edge sums are
# exact int64; the share is ONE double division micro-quantized via
# floor(x·1e6 + 0.5).

_DEGDIST_ORACLE = f"""
    WITH {_COSUPP_EDGES_SQL},
    tot AS (
        SELECT CAST(sum(n_supp) AS BIGINT) AS n_edges FROM deg
    ),
    b AS (
        SELECT CAST(length(bin(n_supp)) - 1 AS INT) AS log2_bucket,
               CAST(count(*) AS BIGINT) AS n_customers,
               CAST(sum(n_supp) AS BIGINT) AS bucket_edges,
               CAST(max(n_supp) AS BIGINT) AS max_degree
        FROM deg GROUP BY 1
    )
    SELECT b.log2_bucket,
           CAST(1 << b.log2_bucket AS BIGINT) AS bucket_floor,
           b.n_customers, b.bucket_edges, b.max_degree,
           CAST(floor(CAST(b.bucket_edges AS DOUBLE) / tot.n_edges
                      * 1000000e0 + 0.5e0) AS BIGINT) / 1000000e0
               AS edge_share,
           CAST(1 << b.log2_bucket AS BIGINT) > {_COSUPP_DEG_CAP}
               AS above_cosupp_cap
    FROM b CROSS JOIN tot
"""


@register("graph_degree_distribution", _DEGDIST_ORACLE)
def graph_degree_distribution(spark, sf_dir):
    """Log2-bucketed customer-degree histogram of the raw
    customer–supplier purchase graph with per-bucket edge-mass share
    and an above-the-hub-cap flag — the skew evidence behind the
    graph family's degree caps (see section comment).

    Scale: the distinct-edge pass and degree count are the SAME two
    map-side-combined aggregations the capped edge relation already
    runs; the histogram adds one aggregation into ~log2(max_degree)
    buckets and one broadcast of the scalar edge total. No window,
    no pair expansion — this query measures the skew, it never
    squares it."""
    _e, deg = _cosupp_edge_degrees(spark, sf_dir)
    tot = deg.agg(F.sum("n_supp").cast("bigint").alias("n_edges"))
    b = deg.groupBy(
        (F.length(F.expr("bin(n_supp)")) - 1).cast("int").alias(
            "log2_bucket"
        )
    ).agg(
        F.count("*").cast("bigint").alias("n_customers"),
        F.sum("n_supp").cast("bigint").alias("bucket_edges"),
        F.max("n_supp").cast("bigint").alias("max_degree"),
    )
    return b.crossJoin(F.broadcast(tot)).select(
        "log2_bucket",
        F.expr("CAST(shiftleft(1L, log2_bucket) AS BIGINT)").alias(
            "bucket_floor"
        ),
        "n_customers",
        "bucket_edges",
        "max_degree",
        F.expr(
            micro_units_sql("CAST(bucket_edges AS DOUBLE) / n_edges") + " / 1000000e0"
        ).alias("edge_share"),
        (
            F.expr("CAST(shiftleft(1L, log2_bucket) AS BIGINT)")
            > F.lit(_COSUPP_DEG_CAP)
        ).alias("above_cosupp_cap"),
    )


# --- retrieval contamination-overlap evaluator (round 16) --------------------
#
# The bridge between the decontamination seam and the retrieval-eval
# seam (VERDICT r15 #6): for each retriever's top-10 (the same lists
# the NDCG/RBO evaluators grade), how much of each retrieved TRAIN
# document's word-3-gram shingle set also occurs in the held-out eval
# split (doc_id < _EVAL_CUTOFF — corpus_decontamination's index, the
# other direction: train→eval leakage inflates eval metrics, and the
# retrieval winners are exactly the docs an eval query surfaces).
# Retrieved docs that ARE eval docs are counted separately
# (n_eval_in_topk) and excluded from the rate — their self-overlap is
# trivially 1. Per-doc rate = |doc shingles ∩ eval index| /
# |doc shingles| in BIGINT micro-units (both counts exact — shingle
# arrays are list_distinct per doc); per-retriever mean is the
# exact-integer ratio floor(Σrate_micro/n + 0.5); the 10 % flag is
# the integer comparison rate_micro >= 100000.

_CONTAM_K = 10
_CONTAM_FLAG_MICRO = 100_000  # rate >= 10 %

# THE eval-split cutoff — one definition, owned by the decontamination
# seam (corpus_decontamination) so the two leak directions can never
# drift apart.
from .queries_corpus import _EVAL_CUTOFF as _CONTAM_EVAL_CUTOFF  # noqa: E402

_CONTAM_ORACLE = f"""
    WITH {_BM25_SCORED_SQL},
    qstats AS (
        SELECT CAST(sum(dl) AS BIGINT) AS coll_len,
               {", ".join(
                   f"CAST(sum(tf{i}) AS BIGINT) AS cf{i}"
                   for i in range(len(_BM25_TERMS)))}
        FROM f
    ),
    qlscored AS (
        SELECT doc_id,
               ({" + ".join(_ql_term_sql(i)
                            for i in range(len(_BM25_TERMS)))}) AS qlm
        FROM f CROSS JOIN qstats
    ),
    topk AS (
        SELECT 'bm25' AS retriever, doc_id FROM
            (SELECT doc_id FROM scored ORDER BY bm25 DESC, doc_id
             LIMIT {_CONTAM_K})
        UNION ALL
        SELECT 'ql', doc_id FROM
            (SELECT doc_id FROM qlscored ORDER BY qlm DESC, doc_id
             LIMIT {_CONTAM_K})
    ),
    s AS (SELECT doc_id, {SHINGLES_SQL} AS sh FROM documents),
    eval_idx AS (
        SELECT DISTINCT unnest(sh) AS shingle FROM s
        WHERE doc_id < {_CONTAM_EVAL_CUTOFF}
    ),
    tr AS (
        SELECT t.retriever, t.doc_id, CAST(len(s.sh) AS BIGINT) AS n_shingles
        FROM topk t JOIN s USING (doc_id)
        WHERE t.doc_id >= {_CONTAM_EVAL_CUTOFF}
    ),
    ov AS (
        SELECT x.retriever, x.doc_id, CAST(count(*) AS BIGINT) AS n_overlap
        FROM (
            SELECT t.retriever, t.doc_id, unnest(s.sh) AS shingle
            FROM topk t JOIN s USING (doc_id)
            WHERE t.doc_id >= {_CONTAM_EVAL_CUTOFF}
        ) x JOIN eval_idx e ON e.shingle = x.shingle
        GROUP BY 1, 2
    ),
    rate AS (
        SELECT tr.retriever, tr.doc_id,
               CASE WHEN tr.n_shingles > 0 THEN
                   CAST(floor(CAST(coalesce(ov.n_overlap, 0) AS DOUBLE)
                              / tr.n_shingles * 1000000e0 + 0.5e0) AS BIGINT)
               ELSE CAST(0 AS BIGINT) END AS rate_micro
        FROM tr LEFT JOIN ov
            ON ov.retriever = tr.retriever AND ov.doc_id = tr.doc_id
    ),
    cnt AS (
        SELECT retriever, CAST(count(*) AS BIGINT) AS n_topk,
               CAST(sum(CASE WHEN doc_id < {_CONTAM_EVAL_CUTOFF}
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_eval_in_topk
        FROM topk GROUP BY 1
    )
    SELECT c.retriever, c.n_topk, c.n_eval_in_topk,
           CAST(count(r.doc_id) AS BIGINT) AS n_train_docs,
           CASE WHEN count(r.doc_id) > 0 THEN
               round(CAST(floor(CAST(sum(r.rate_micro) AS DOUBLE)
                                / count(r.doc_id) + 0.5e0) AS BIGINT)
                     / 1000000e0, 6) END AS mean_contamination,
           CASE WHEN count(r.doc_id) > 0 THEN
               round(max(r.rate_micro) / 1000000e0, 6) END
               AS max_contamination,
           CAST(coalesce(sum(CASE WHEN r.rate_micro >= {_CONTAM_FLAG_MICRO}
                                  THEN 1 ELSE 0 END), 0) AS BIGINT)
               AS n_flagged_10pct
    FROM cnt c LEFT JOIN rate r ON r.retriever = c.retriever
    GROUP BY 1, 2, 3
    ORDER BY 1
"""


@register("retrieval_contamination_eval", _CONTAM_ORACLE)
def retrieval_contamination_eval(spark, sf_dir):
    """Per-retriever contamination report over the BM25 and Dirichlet
    QL top-10 lists: the fraction of each retrieved train document's
    shingles that leak from the held-out eval split, aggregated to
    (mean, max, ≥10 %-flag count) per retriever — the evaluator that
    tells you whether the retrieval winners an eval query surfaces
    are winners because of train→eval n-gram leakage (see the section
    comment for the grain and determinism contracts).

    Scale: the top-10 lists are TakeOrderedAndProject over the
    session-persisted dual-scored relation (the NDCG/RBO shape); the
    shingle join runs only over the ≤ 2k retrieved docs' arrays
    (broadcast the 20-row list side), and the eval index is bounded
    by the eval split's shingle count (inverted-index semi-overlap,
    the corpus_decontamination shape restricted to a constant-size
    probe set — never pairwise, never fact-scale)."""
    scored = cached_dual_scored(spark, sf_dir)
    topk = (
        scored.orderBy(F.desc("bm25"), "doc_id")
        .limit(_CONTAM_K)
        .select(F.lit("bm25").alias("retriever"), "doc_id")
        .unionAll(
            scored.orderBy(F.desc("qlm"), "doc_id")
            .limit(_CONTAM_K)
            .select(F.lit("ql").alias("retriever"), "doc_id")
        )
    )
    sh = cached_shingles(spark, sf_dir)
    eval_idx = (
        sh.filter(F.col("doc_id") < _CONTAM_EVAL_CUTOFF)
        .select(F.explode("sh").alias("shingle"))
        .distinct()
    )
    retrieved = sh.join(F.broadcast(topk), "doc_id").where(
        F.col("doc_id") >= _CONTAM_EVAL_CUTOFF
    )
    tr = retrieved.select(
        "retriever", "doc_id", F.size("sh").cast("bigint").alias("n_shingles")
    )
    ov = (
        retrieved.select(
            "retriever", "doc_id", F.explode("sh").alias("shingle")
        )
        .join(eval_idx, "shingle")
        .groupBy("retriever", "doc_id")
        .agg(F.count("*").cast("bigint").alias("n_overlap"))
    )
    rate = tr.join(ov, ["retriever", "doc_id"], "left").select(
        "retriever",
        "doc_id",
        F.expr(
            "CASE WHEN n_shingles > 0 THEN "
            + micro_units_sql("CAST(coalesce(n_overlap, 0) AS DOUBLE) / n_shingles")
            + " ELSE CAST(0 AS BIGINT) END"
        ).alias("rate_micro"),
    )
    cnt = topk.groupBy("retriever").agg(
        F.count("*").cast("bigint").alias("n_topk"),
        F.sum(
            F.when(F.col("doc_id") < _CONTAM_EVAL_CUTOFF, 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_eval_in_topk"),
    )
    return (
        cnt.join(rate, "retriever", "left")
        .groupBy("retriever", "n_topk", "n_eval_in_topk")
        .agg(
            F.count("doc_id").cast("bigint").alias("n_train_docs"),
            F.expr(
                "CASE WHEN count(doc_id) > 0 THEN"
                " round(CAST(floor(CAST(sum(rate_micro) AS DOUBLE)"
                " / count(doc_id) + 0.5e0) AS BIGINT) / 1000000e0, 6) END"
            ).alias("mean_contamination"),
            F.expr(
                "CASE WHEN count(doc_id) > 0 THEN"
                " round(max(rate_micro) / 1000000e0, 6) END"
            ).alias("max_contamination"),
            F.expr(
                f"CAST(coalesce(sum(CASE WHEN rate_micro >="
                f" {_CONTAM_FLAG_MICRO} THEN 1 ELSE 0 END), 0) AS BIGINT)"
            ).alias("n_flagged_10pct"),
        )
        .orderBy("retriever")
    )


# --- mean-average-precision evaluation (round 16) ------------------------------
#
# The rank-position-weighted member completing the offline retrieval
# dashboard: NDCG grades the whole graded ordering, MRR the first
# clear hit, recall@10 the coverage, RBO the retriever agreement —
# average precision (the per-query term of MAP, the TREC headline
# number) integrates precision over every relevant hit's rank, so it
# rewards FRONT-LOADING the relevant documents where NDCG's log
# discount is gentler and MRR stops caring after the first hit.
#
# AP@k = sum_{i in top-k, rel_i} P(i) / min(n_relevant, k) with
# P(i) = cum_rel(i)/i — the bounded-denominator convention (min with
# k) so a corpus with hundreds of relevant docs can still reach 1.0
# when the whole window is relevant, the convention trec_eval's
# judged-at-depth variant and every LLM-retrieval eval harness use.
# Relevance is the same deterministic term-coverage grade at
# rel >= _MRR_REL_MIN as the MRR/NDCG twins — label-free by design.
#
# Determinism: each precision term cum_rel/i is micro-quantized to
# BIGINT before the per-retriever sum (cum_rel, i <= 10, so the
# double path floor(cum*1e6/i + 0.5) is exact); the final division by
# the bounded denominator happens on the already-summed micro BIGINT
# and is itself floor-rounded to micro before display — two explicit
# rounding sites, identical fragments both engines.

_MAP_K = 10

# (is_rel, rnk, cum_rel) -> one micro-quantized precision term; ONE
# fragment for both engines so the AP term can never drift.
_AP_TERM_SQL = (
    "CASE WHEN isr = 1 THEN CAST(floor(CAST(cum_rel AS DOUBLE)"
    " * 1000000e0 / rnk + 0.5e0) AS BIGINT) ELSE CAST(0 AS BIGINT) END"
)

_MAP_ORACLE = f"""
    WITH {_BM25_SCORED_SQL},
    qstats AS (
        SELECT CAST(sum(dl) AS BIGINT) AS coll_len,
               {", ".join(
                   f"CAST(sum(tf{i}) AS BIGINT) AS cf{i}"
                   for i in range(len(_BM25_TERMS)))}
        FROM f
    ),
    qlscored AS (
        SELECT doc_id,
               ({" + ".join(_ql_term_sql(i)
                            for i in range(len(_BM25_TERMS)))}) AS qlm
        FROM f CROSS JOIN qstats
    ),
    rel AS (
        SELECT doc_id,
               CAST({" + ".join(
                   f"(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END)"
                   for i in range(len(_BM25_TERMS)))} AS BIGINT) AS rel
        FROM f
    ),
    nrel AS (
        SELECT CAST(count(*) AS BIGINT) AS n_relevant
        FROM rel WHERE rel >= {_MRR_REL_MIN}
    ),
    bmtop AS (
        SELECT doc_id, CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id)
                            AS BIGINT) AS rnk
        FROM (SELECT * FROM scored ORDER BY bm25 DESC, doc_id
              LIMIT {_MAP_K})
    ),
    qltop AS (
        SELECT doc_id, CAST(row_number() OVER (ORDER BY qlm DESC, doc_id)
                            AS BIGINT) AS rnk
        FROM (SELECT * FROM qlscored ORDER BY qlm DESC, doc_id
              LIMIT {_MAP_K})
    ),
    bmc AS (
        SELECT t.rnk,
               CASE WHEN r.rel >= {_MRR_REL_MIN} THEN 1 ELSE 0 END AS isr,
               CAST(sum(CASE WHEN r.rel >= {_MRR_REL_MIN} THEN 1 ELSE 0 END)
                    OVER (ORDER BY t.rnk) AS BIGINT) AS cum_rel
        FROM bmtop t JOIN rel r USING (doc_id)
    ),
    qlc AS (
        SELECT t.rnk,
               CASE WHEN r.rel >= {_MRR_REL_MIN} THEN 1 ELSE 0 END AS isr,
               CAST(sum(CASE WHEN r.rel >= {_MRR_REL_MIN} THEN 1 ELSE 0 END)
                    OVER (ORDER BY t.rnk) AS BIGINT) AS cum_rel
        FROM qltop t JOIN rel r USING (doc_id)
    ),
    ap AS (
        SELECT 'bm25' AS retriever,
               CAST(coalesce(sum(isr), 0) AS BIGINT) AS hits_at_k,
               CAST(coalesce(sum({_AP_TERM_SQL}), 0) AS BIGINT)
                   AS sum_p_micro
        FROM bmc
        UNION ALL
        SELECT 'ql',
               CAST(coalesce(sum(isr), 0) AS BIGINT),
               CAST(coalesce(sum({_AP_TERM_SQL}), 0) AS BIGINT)
        FROM qlc
    )
    SELECT retriever, hits_at_k, n_relevant,
           coalesce(round(CAST(floor(CAST(sum_p_micro AS DOUBLE)
                                     / NULLIF(least(n_relevant, {_MAP_K}), 0)
                                     + 0.5e0) AS BIGINT)
                          / 1000000e0, 6), 0e0) AS ap_at_10
    FROM ap CROSS JOIN nrel
    ORDER BY retriever
"""


@register("retrieval_map_eval", _MAP_ORACLE)
def retrieval_map_eval(spark, sf_dir):
    """Average precision at 10 for both retrievers (BM25 and
    Dirichlet query likelihood) against the deterministic
    term-coverage relevance grade — the rank-position-weighted
    completion of the offline retrieval dashboard beside NDCG
    (full-ordering), MRR (first hit), recall (coverage), and RBO
    (agreement). AP@10 = sum of precision-at-relevant-hit terms over
    min(n_relevant, 10) — the bounded-denominator convention (see the
    section comment for the quantization contract). A retriever with
    no relevant doc in its top-10 scores 0, keeping the metric
    summable into MAP across query sets.

    Scale: both top-10s are TakeOrderedAndProject over the
    session-persisted dual-scored relation (shared with the NDCG/MRR/
    tau/RBO evaluators — one corpus tokenization serves all five);
    the rank and cumulative-relevance windows run over <= 10
    limit-bounded rows each (counted waiver); the relevant-set count
    is a 1-row broadcast aggregate."""
    scored = cached_dual_scored(spark, sf_dir)
    rel_min = F.lit(_MRR_REL_MIN)

    def _ap(score_col, tag):
        top = (
            scored.orderBy(F.desc(score_col), "doc_id")
            .limit(_MAP_K)
            .select(
                F.row_number()
                .over(Window.orderBy(F.desc(score_col), "doc_id"))
                .cast("bigint")
                .alias("rnk"),
                F.when(F.col("rel") >= rel_min, 1).otherwise(0).alias("isr"),
            )
        )
        c = top.withColumn(
            "cum_rel",
            F.sum("isr").over(Window.orderBy("rnk")).cast("bigint"),
        )
        # aggregate WITHOUT groupBy (the MRR empty-corpus rule): one
        # row per retriever even on an empty corpus
        return c.agg(
            F.coalesce(F.sum("isr"), F.lit(0))
            .cast("bigint")
            .alias("hits_at_k"),
            F.coalesce(F.sum(F.expr(_AP_TERM_SQL)), F.lit(0))
            .cast("bigint")
            .alias("sum_p_micro"),
        ).select(F.lit(tag).alias("retriever"), "*")

    ap = _ap("bm25", "bm25").unionByName(_ap("qlm", "ql"))
    nrel = scored.where(F.col("rel") >= rel_min).agg(
        F.count("*").cast("bigint").alias("n_relevant")
    )
    return (
        ap.crossJoin(F.broadcast(nrel))
        .select(
            "retriever",
            "hits_at_k",
            "n_relevant",
            F.coalesce(
                F.round(
                    F.expr(
                        "CAST(floor(CAST(sum_p_micro AS DOUBLE)"
                        f" / NULLIF(least(n_relevant, {_MAP_K}), 0)"
                        " + 0.5e0) AS BIGINT)"
                    )
                    / F.expr("1000000e0"),
                    6,
                ),
                F.lit(0e0),
            ).alias("ap_at_10"),
        )
        .orderBy("retriever")
    )


# --- k-core of the sparsified co-supplier graph (round 16) ---------------------
#
# The cohesion layer of the graph family: the k-core is the maximal
# subgraph where every node keeps >= k neighbors INSIDE the subgraph
# (Seidman 1983) — the standard "dense community backbone" extraction
# a similarity-graph pipeline runs before community detection, and
# the first genuinely ITERATIVE-TO-FIXPOINT operator in the repo
# (PageRank runs a fixed 3 iterations; peeling must run until the
# set stops changing). Each round deletes every node whose
# within-set degree is < k; the survivors after the fixpoint are the
# k-core.
#
# Iteration contract: BOTH engines run the same bounded loop —
# _KCORE_MAX_ROUNDS peeling steps (the Spark side breaks early at
# the fixpoint, which is safe because A_{i+1} ⊆ A_i makes equal
# COUNTS equal SETS) — and report n_rounds = the first iteration
# whose set equals the final one, plus an explicit converged flag
# (final set == previous set). A graph that needs more than the cap
# reports converged = 0 honestly instead of pretending the truncated
# set is the core; on the degree-capped sparsified graph (deg <=
# 2·top_k = 20) peeling converges in a handful of rounds. The DuckDB
# oracle drives the identical recursion through a single-row
# RECURSIVE list-state CTE, so the hash match proves the Spark loop
# and the SQL fixpoint agree round for round.

_KCORE_K = 3
_KCORE_MAX_ROUNDS = 25

_KCORE_ORACLE = f"""
    WITH RECURSIVE base AS ({_COSUPP_ORACLE}),
    edges AS (
        SELECT DISTINCT least(supplier, partner) AS s1,
               greatest(supplier, partner) AS s2
        FROM base
    ),
    nodes AS (
        SELECT DISTINCT supp FROM (
            SELECT s1 AS supp FROM edges UNION ALL SELECT s2 FROM edges
        )
    ),
    peel(it, alive) AS (
        SELECT 0, (SELECT coalesce(list(supp ORDER BY supp), [])
                   FROM nodes)
        UNION ALL
        SELECT it + 1,
            (SELECT coalesce(list(supp ORDER BY supp), []) FROM (
                SELECT supp FROM (
                    SELECT s1 AS supp FROM edges
                    WHERE list_contains(peel.alive, s1)
                      AND list_contains(peel.alive, s2)
                    UNION ALL
                    SELECT s2 FROM edges
                    WHERE list_contains(peel.alive, s1)
                      AND list_contains(peel.alive, s2)
                ) GROUP BY 1 HAVING count(*) >= {_KCORE_K}
            ))
        FROM peel WHERE it < {_KCORE_MAX_ROUNDS}
    ),
    last AS (
        SELECT alive FROM peel WHERE it = {_KCORE_MAX_ROUNDS}
    ),
    core AS (
        SELECT unnest((SELECT alive FROM last)) AS supp
    ),
    stats AS (
        SELECT
            (SELECT CAST(count(*) AS BIGINT) FROM nodes) AS n_nodes,
            (SELECT CAST(count(*) AS BIGINT) FROM edges) AS n_edges,
            (SELECT CAST(len(alive) AS BIGINT) FROM last)
                AS n_core_nodes,
            (SELECT CAST(count(*) AS BIGINT) FROM edges
             WHERE s1 IN (SELECT supp FROM core)
               AND s2 IN (SELECT supp FROM core)) AS n_core_edges,
            (SELECT CAST(min(it) AS BIGINT) FROM peel
             WHERE alive = (SELECT alive FROM last)) AS n_rounds,
            (SELECT CAST(CASE WHEN
                 (SELECT alive FROM peel
                  WHERE it = {_KCORE_MAX_ROUNDS})
                 = (SELECT alive FROM peel
                    WHERE it = {_KCORE_MAX_ROUNDS - 1})
                 THEN 1 ELSE 0 END AS BIGINT)) AS converged
    )
    SELECT CAST({_KCORE_K} AS BIGINT) AS k_core,
           CAST({_KCORE_MAX_ROUNDS} AS BIGINT) AS max_rounds,
           n_nodes, n_edges, n_core_nodes, n_core_edges, n_rounds,
           converged
    FROM stats
"""


@register("graph_kcore", _KCORE_ORACLE)
def graph_kcore(spark, sf_dir):
    """{k}-core extraction on the sparsified co-supplier graph:
    iterative peeling to the fixpoint (bounded at {cap} rounds with
    an explicit converged flag), reporting the core's node and edge
    counts and the rounds-to-fixpoint — the repo's first
    iterate-until-stable graph operator (see the section comment for
    the loop/recursion equivalence contract).

    Scale: the graph is the session-persisted sparsified edge
    relation (<= top_k·|suppliers| rows, degree <= 2·top_k by
    construction — peeling converges in a handful of rounds there);
    each round is two broadcast-scale semi-joins plus one
    dimension-grain degree aggregate, and the driver actions are one
    bounded count per round (<= {cap}), the Lloyd-iteration
    convention. Nothing fact-scale is touched after the cached
    projection builds.""".format(k=_KCORE_K, cap=_KCORE_MAX_ROUNDS)
    edges = _sparsified_edges(spark, sf_dir)
    nodes = (
        edges.select(F.col("s1").alias("supp"))
        .unionAll(edges.select(F.col("s2").alias("supp")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_nodes = nodes.count()
    n_edges = edges.count()
    alive = nodes
    prev = n_nodes
    converged = False
    n_rounds = _KCORE_MAX_ROUNDS
    for i in range(1, _KCORE_MAX_ROUNDS + 1):
        a1 = alive.select(F.col("supp").alias("s1"))
        a2 = alive.select(F.col("supp").alias("s2"))
        live = edges.join(F.broadcast(a1), "s1", "left_semi").join(
            F.broadcast(a2), "s2", "left_semi"
        )
        new_alive = (
            live.select(F.col("s1").alias("supp"))
            .unionAll(live.select(F.col("s2").alias("supp")))
            .groupBy("supp")
            .agg(F.count("*").alias("d"))
            .where(F.col("d") >= _KCORE_K)
            .select("supp")
            .localCheckpoint(eager=True)
        )
        c = new_alive.count()
        if c == prev:
            # A_{i} == A_{i-1}: fixpoint after i-1 effective rounds
            converged = True
            n_rounds = i - 1
            break
        alive = new_alive
        prev = c
    a1 = alive.select(F.col("supp").alias("s1"))
    a2 = alive.select(F.col("supp").alias("s2"))
    n_core_edges = (
        edges.join(F.broadcast(a1), "s1", "left_semi")
        .join(F.broadcast(a2), "s2", "left_semi")
        .count()
    )
    return local_frame(
        spark,
        [
            (
                _KCORE_K,
                _KCORE_MAX_ROUNDS,
                n_nodes,
                n_edges,
                prev,
                n_core_edges,
                n_rounds,
                1 if converged else 0,
            )
        ],
        schema=(
            "k_core bigint, max_rounds bigint, n_nodes bigint,"
            " n_edges bigint, n_core_nodes bigint, n_core_edges bigint,"
            " n_rounds bigint, converged bigint"
        ),
    )
