"""Corpus-quality and PII queries ([ext] — SURVEY.md §2.11 extension,
round 2): the document-level filters a pretraining data pipeline runs
between ingestion and dedup — heuristic quality gates, repetition and
entropy signals, boilerplate detection, PII detect/redact, and global
near-dup clustering (connected components over the MinHash pair graph).

Every per-row signal is a pure Catalyst expression mirrored in DuckDB
SQL (operators/text.py pattern); the corpus-level ones are explode →
groupBy shapes whose shuffle is O(tokens or shingles), never O(pairs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators import text as X
from .queries_dedup import MINHASH_PAIRS_ORACLE, SHINGLES_SQL, cached_shingles
from .functions.scalar import micro_units_sql
from .registry import register
from .session import local_frame
from .sources.catalog import load_table

# --- heuristic quality filter (C4/Gopher-style gates) -----------------------

_QF_MIN_TOKENS = 10
_QF_MAX_TOKENS = 100_000
_QF_MEAN_LEN_LO = 2.0
_QF_MEAN_LEN_HI = 12.0
_QF_MAX_PUNCT = 0.3

_QF_ORACLE = f"""
    WITH sig AS (
        SELECT doc_id,
               {X.token_count_sql()} AS n_tokens,
               round({X.mean_token_len_sql()}, 4) AS mean_tok_len,
               round({X.punct_ratio_sql()}, 4) AS punct_ratio,
               {X.stopword_hits_sql(X.tokens_sql(), X.EN_STOPWORDS)} AS stop_hits
        FROM documents
    )
    SELECT doc_id, n_tokens, mean_tok_len, punct_ratio,
           CASE WHEN n_tokens > 0
                THEN round(CAST(stop_hits AS DOUBLE) / n_tokens, 4)
                ELSE 0.0 END AS stopword_frac,
           (n_tokens >= {_QF_MIN_TOKENS} AND n_tokens <= {_QF_MAX_TOKENS}
            AND mean_tok_len >= {_QF_MEAN_LEN_LO}
            AND mean_tok_len <= {_QF_MEAN_LEN_HI}
            AND punct_ratio <= {_QF_MAX_PUNCT}) AS keep
    FROM sig
"""


@register("quality_heuristic_filter", _QF_ORACLE)
def quality_heuristic_filter(spark, sf_dir):
    """Gopher/C4-style heuristic quality gate: per-document token
    count, mean token length, punctuation ratio and stopword fraction,
    plus the boolean keep verdict (length bounds + mean-word-length
    band + symbol-ratio cap). Pure per-row expressions — no shuffle;
    at 100 TB this is a map-only pass fused into the ingest scan."""
    sig = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        X.token_count().alias("n_tokens"),
        F.round(X.mean_token_len(), 4).alias("mean_tok_len"),
        F.round(X.punct_ratio(), 4).alias("punct_ratio"),
        X.stopword_hits(X.tokens(), X.EN_STOPWORDS).alias("stop_hits"),
    )
    keep = (
        (F.col("n_tokens") >= _QF_MIN_TOKENS)
        & (F.col("n_tokens") <= _QF_MAX_TOKENS)
        & (F.col("mean_tok_len") >= _QF_MEAN_LEN_LO)
        & (F.col("mean_tok_len") <= _QF_MEAN_LEN_HI)
        & (F.col("punct_ratio") <= _QF_MAX_PUNCT)
    )
    stop_frac = F.when(
        F.col("n_tokens") > 0,
        F.round(F.col("stop_hits").cast("double") / F.col("n_tokens"), 4),
    ).otherwise(F.lit(0.0))
    return sig.select(
        "doc_id",
        "n_tokens",
        "mean_tok_len",
        "punct_ratio",
        stop_frac.alias("stopword_frac"),
        keep.alias("keep"),
    )


# --- repetition score (Gopher repetition signal) ----------------------------

_REP_ORACLE = f"""
    WITH t AS (SELECT doc_id, {X.tokens_sql()} AS toks FROM documents),
    b AS (
        SELECT doc_id,
               CASE WHEN len(toks) >= 2 THEN
                   list_transform(generate_series(1, len(toks) - 1),
                                  i -> array_to_string(toks[i:i+1], ' '))
               ELSE [] END AS bigrams
        FROM t
    )
    SELECT doc_id,
           CAST(len(bigrams) AS BIGINT) AS n_bigrams,
           CAST(len(list_distinct(bigrams)) AS BIGINT) AS n_distinct,
           CASE WHEN len(bigrams) > 0
                THEN round(1.0 - CAST(len(list_distinct(bigrams)) AS DOUBLE)
                                 / len(bigrams), 6)
                ELSE 0.0 END AS rep_frac
    FROM b
"""


@register("quality_repetition_score", _REP_ORACLE)
def quality_repetition_score(spark, sf_dir):
    """Repetition signal (Gopher-style): fraction of duplicate word
    bigrams per document — high values mean boilerplate/looped text.
    Per-row array expressions over a materialized tokens column (the
    O(tokens²) lambda-inlining trap is avoided by projecting toks
    first)."""
    t = load_table(spark, sf_dir, "documents").select(
        "doc_id", X.tokens().alias("toks")
    )
    bigrams = F.when(
        F.size("toks") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("toks") - 1),
            lambda i: F.concat_ws(" ", F.slice("toks", i, 2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    b = t.select("doc_id", bigrams.alias("bigrams"))
    rep = F.when(
        F.size("bigrams") > 0,
        F.round(
            1.0
            - F.size(F.array_distinct("bigrams")).cast("double")
            / F.size("bigrams"),
            6,
        ),
    ).otherwise(F.lit(0.0))
    return b.select(
        "doc_id",
        F.size("bigrams").cast("bigint").alias("n_bigrams"),
        F.size(F.array_distinct("bigrams")).cast("bigint").alias("n_distinct"),
        rep.alias("rep_frac"),
    )


# --- character-entropy score ------------------------------------------------

_ENTROPY_ALPHABET = "abcdefghijklmnopqrstuvwxyz0123456789 "


def _entropy_terms_sql() -> str:
    """-Σ p·log2(p) over the 37-char alphabet of the normalized text,
    as one left-associated + chain (identical IEEE fold order in both
    engines → unrounded doubles still hash-match)."""
    n = "CAST(length(nt) AS DOUBLE)"
    terms = []
    for ch in _ENTROPY_ALPHABET:
        lit = "' '" if ch == " " else f"'{ch}'"
        cnt = f"(length(nt) - length(replace(nt, {lit}, '')))"
        p = f"(CAST({cnt} AS DOUBLE) / {n})"
        terms.append(f"(CASE WHEN {cnt} > 0 THEN -{p} * log2({p}) ELSE 0.0 END)")
    return " + ".join(terms)


_ENTROPY_ORACLE = f"""
    WITH d AS (SELECT doc_id, {X.norm_text_sql()} AS nt FROM documents)
    SELECT doc_id,
           CAST(length(nt) AS BIGINT) AS n_chars,
           CASE WHEN length(nt) > 0 THEN round({_entropy_terms_sql()}, 6)
                ELSE 0.0 END AS char_entropy
    FROM d
"""


@register("quality_char_entropy", _ENTROPY_ORACLE)
def quality_char_entropy(spark, sf_dir):
    """Shannon entropy (bits/char) over the normalized character
    distribution — near-zero entropy flags degenerate/filler documents,
    the cheap perplexity stand-in that needs no model. Per-row
    expression; the 37 per-char counts come from length-after-replace,
    summed in one fixed fold order; the result is rounded to 6 dp
    because the two engines' libm log2 differs in the final ulp."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", X.norm_text().alias("nt")
    )
    n = F.length("nt").cast("double")
    total = None
    for ch in _ENTROPY_ALPHABET:
        cnt = F.length("nt") - F.length(F.expr(f"replace(nt, '{ch}', '')"))
        p = cnt.cast("double") / n
        term = F.when(cnt > 0, -p * F.log2(p)).otherwise(F.lit(0.0))
        total = term if total is None else total + term
    # round 6 dp: Spark's and DuckDB's libm log2 differ in the last ulp
    entropy = F.when(F.length("nt") > 0, F.round(total, 6)).otherwise(F.lit(0.0))
    return d.select(
        "doc_id",
        F.length("nt").cast("bigint").alias("n_chars"),
        entropy.alias("char_entropy"),
    )


# --- PII detection / redaction ---------------------------------------------
#
# The synthetic corpus contains no PII, so the query injects a
# deterministic fixture (every 7th doc gains one email + one phone
# built from its doc_id) and then runs the actual detect/redact
# operators over the result — both engines inject and detect
# identically, so detection counts and the redacted-text fingerprint
# are fully oracle-checked.

_PII_EMAIL_PAT = r"[a-z0-9.]+@[a-z0-9]+\.[a-z]+"
_PII_PHONE_PAT = r"555-[0-9]{4}"

_PII_ORACLE = f"""
    WITH d AS (
        SELECT doc_id,
               CASE WHEN doc_id % 7 = 0 THEN
                   text || ' contact user' || CAST(doc_id AS VARCHAR)
                        || '@example.com or 555-'
                        || lpad(CAST((doc_id * 7) % 10000 AS VARCHAR), 4, '0')
               ELSE text END AS pii_text
        FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(pii_text, '{_PII_EMAIL_PAT}'))
                AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(pii_text, '{_PII_PHONE_PAT}'))
                AS BIGINT) AS n_phones,
           md5(regexp_replace(
                   regexp_replace(pii_text, '{_PII_EMAIL_PAT}', '[EMAIL]', 'g'),
                   '{_PII_PHONE_PAT}', '[PHONE]', 'g')) AS redacted_fp
    FROM d
"""


def _pii_injected_text() -> F.Column:
    """The documents' text with synthetic PII appended to every 7th
    doc_id (an email and a 555 phone stub derived from doc_id) — the
    detection and tokenization queries' shared input."""
    phone = F.concat(
        F.lit("555-"),
        F.lpad(((F.col("doc_id") * 7) % 10000).cast("string"), 4, "0"),
    )
    return F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or "),
            phone,
        ),
    ).otherwise(F.col("text"))


@register("pii_detect_redact", _PII_ORACLE)
def pii_detect_redact(spark, sf_dir):
    """PII scrubbing: regex detection counts (email, phone) and the
    redacted text (fingerprinted for compact comparison). Pure per-row
    regexp expressions — map-only at any scale. Detection patterns are
    deliberately simple/public (RFC-ish email shape, 555 phone stub);
    production swaps in a vetted pattern pack, same plumbing."""
    pii_text = _pii_injected_text()
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", pii_text.alias("pii_text")
    )
    redacted = F.regexp_replace(
        F.regexp_replace("pii_text", _PII_EMAIL_PAT, "[EMAIL]"),
        _PII_PHONE_PAT,
        "[PHONE]",
    )
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all("pii_text", F.lit(_PII_EMAIL_PAT), F.lit(0)))
        .cast("bigint")
        .alias("n_emails"),
        F.size(F.regexp_extract_all("pii_text", F.lit(_PII_PHONE_PAT), F.lit(0)))
        .cast("bigint")
        .alias("n_phones"),
        F.md5(redacted.cast("binary")).alias("redacted_fp"),
    )


# --- boilerplate detection --------------------------------------------------

_BOILER_MIN_DOCS = 20  # a shingle in >= 20 distinct docs is boilerplate

_BOILER_ORACLE = f"""
    WITH s AS (SELECT doc_id, {SHINGLES_SQL} AS sh FROM documents),
    e AS (SELECT doc_id, unnest(sh) AS shingle FROM s),
    df AS (
        SELECT shingle, count(DISTINCT doc_id) AS n_docs
        FROM e GROUP BY shingle
    ),
    boiler AS (SELECT shingle FROM df WHERE n_docs >= {_BOILER_MIN_DOCS}),
    per_doc AS (
        SELECT e.doc_id,
               CAST(count(*) AS BIGINT) AS n_shingles,
               CAST(count(b.shingle) AS BIGINT) AS n_boiler
        FROM e LEFT JOIN boiler b ON b.shingle = e.shingle
        GROUP BY e.doc_id
    )
    SELECT doc_id, n_shingles, n_boiler,
           round(CAST(n_boiler AS DOUBLE) / n_shingles, 6) AS boiler_frac
    FROM per_doc WHERE n_shingles > 0
"""


@register("dedup_boilerplate_shingles", _BOILER_ORACLE)
def dedup_boilerplate_shingles(spark, sf_dir):
    """Boilerplate detection: shingles occurring in ≥ 20 distinct
    documents are corpus boilerplate (headers/footers/templates); each
    doc reports its boilerplate-shingle fraction. Inverted-index shape
    — explode, document-frequency groupBy, semi-ish join back — shuffle
    O(shingles), never pairwise."""
    sh = cached_shingles(spark, sf_dir)
    e = sh.select("doc_id", F.explode("sh").alias("shingle"))
    boiler = (
        e.groupBy("shingle")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") >= _BOILER_MIN_DOCS)
        .select("shingle", F.lit(1).alias("_is_boiler"))
    )
    per_doc = (
        e.join(boiler, "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.count("_is_boiler").alias("n_boiler"),
        )
    )
    return per_doc.filter(F.col("n_shingles") > 0).select(
        "doc_id",
        "n_shingles",
        "n_boiler",
        F.round(
            F.col("n_boiler").cast("double") / F.col("n_shingles"), 6
        ).alias("boiler_frac"),
    )


# --- PMI co-occurrence ------------------------------------------------------

_PMI_MIN_COUNT = 50
_PMI_TOP_K = 20
_PMI_WINDOW = 2  # co-occurrence at token distance 1 and 2

_PMI_ORACLE = f"""
    WITH t AS (SELECT doc_id, {X.tokens_sql()} AS toks FROM documents),
    p AS (
        SELECT least(toks[i], toks[i + 1]) AS a,
               greatest(toks[i], toks[i + 1]) AS b
        FROM t, unnest(generate_series(1, len(toks) - 1)) AS g(i)
        WHERE len(toks) >= 2
        UNION ALL
        SELECT least(toks[i], toks[i + 2]) AS a,
               greatest(toks[i], toks[i + 2]) AS b
        FROM t, unnest(generate_series(1, len(toks) - 2)) AS g(i)
        WHERE len(toks) >= 3
    ),
    pc AS (SELECT a, b, CAST(count(*) AS BIGINT) AS c_ab FROM p GROUP BY a, b),
    w AS (SELECT unnest(toks) AS tok FROM t),
    wc AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM w GROUP BY tok),
    tot AS (
        SELECT CAST((SELECT count(*) FROM p) AS DOUBLE) AS t_pairs,
               CAST((SELECT count(*) FROM w) AS DOUBLE) AS t_toks
    )
    SELECT a AS tok_a, b AS tok_b, c_ab,
           round(log2((CAST(c_ab AS DOUBLE) / t_pairs)
                      / ((CAST(ca.c AS DOUBLE) / t_toks)
                         * (CAST(cb.c AS DOUBLE) / t_toks))), 6) AS pmi
    FROM pc
    CROSS JOIN tot
    JOIN wc ca ON ca.tok = a
    JOIN wc cb ON cb.tok = b
    WHERE c_ab >= {_PMI_MIN_COUNT}
    ORDER BY pmi DESC, tok_a, tok_b
    LIMIT {_PMI_TOP_K}
"""


@register("text_pmi_top_pairs", _PMI_ORACLE)
def text_pmi_top_pairs(spark, sf_dir):
    """Pointwise-mutual-information co-occurrence: token pairs within
    a ±2 window, PMI = log2(p(a,b) / (p(a)p(b))) — the statistic
    behind count-based word embeddings and collocation mining. Pair
    generation is a per-row array expression (no self-join on
    position); counts are two explode→groupBy shuffles; marginal
    totals ride a broadcast cross join. Ties in the top-k break on
    the pair text."""
    t = load_table(spark, sf_dir, "documents").select(
        "doc_id", X.tokens().alias("toks")
    )

    def pair_struct(offset: int):
        def mk(i):
            x = F.element_at("toks", i)
            y = F.element_at("toks", i + offset)
            return F.struct(F.least(x, y).alias("a"), F.greatest(x, y).alias("b"))

        return F.when(
            F.size("toks") > offset,
            F.transform(F.sequence(F.lit(1), F.size("toks") - offset), mk),
        ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))

    pairs = t.select(
        F.explode(
            F.concat(*[pair_struct(o) for o in range(1, _PMI_WINDOW + 1)])
        ).alias("p")
    ).select("p.a", "p.b")
    pc = pairs.groupBy("a", "b").agg(F.count("*").alias("c_ab"))
    # generator input INLINE (r17): explode of the aliased toks column
    # triggers InferFiltersFromGenerate — an interpreted re-tokenize
    # per document below the projection (the dedup_repeated_substrings
    # precedent); the inline expression is exempt from the rule.
    w = load_table(spark, sf_dir, "documents").select(
        F.explode(X.tokens()).alias("tok")
    )
    wc = w.groupBy("tok").agg(F.count("*").alias("c"))
    tot = pairs.agg(F.count("*").cast("double").alias("t_pairs")).crossJoin(
        w.agg(F.count("*").cast("double").alias("t_toks"))
    )
    ca = wc.select(F.col("tok").alias("a"), F.col("c").alias("c_a"))
    cb = wc.select(F.col("tok").alias("b"), F.col("c").alias("c_b"))
    pmi = F.round(
        F.log2(
            (F.col("c_ab").cast("double") / F.col("t_pairs"))
            / (
                (F.col("c_a").cast("double") / F.col("t_toks"))
                * (F.col("c_b").cast("double") / F.col("t_toks"))
            )
        ),
        6,
    )
    return (
        pc.crossJoin(F.broadcast(tot))
        .join(ca, "a")
        .join(cb, "b")
        .filter(F.col("c_ab") >= _PMI_MIN_COUNT)
        .select(
            F.col("a").alias("tok_a"),
            F.col("b").alias("tok_b"),
            "c_ab",
            pmi.alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "tok_a", "tok_b")
        .limit(_PMI_TOP_K)
    )


# --- near-dup clustering (connected components) -----------------------------

_CC_MAX_ITERS = 16

_CC_ORACLE = f"""
    WITH RECURSIVE pairs AS (
        SELECT doc_a, doc_b FROM ({MINHASH_PAIRS_ORACLE}) q
    ),
    edges AS (
        SELECT doc_a AS u, doc_b AS v FROM pairs
        UNION ALL
        SELECT doc_b AS u, doc_a AS v FROM pairs
    ),
    nodes AS (SELECT DISTINCT u FROM edges),
    walk(u, lbl) AS (
        SELECT u, u FROM nodes
        UNION
        SELECT e.u, w.lbl FROM edges e JOIN walk w ON w.u = e.v
    )
    SELECT u AS doc_id, CAST(min(lbl) AS BIGINT) AS cluster_id
    FROM walk GROUP BY u
"""


def min_label_components(pairs: DataFrame, max_iters: int = _CC_MAX_ITERS) -> DataFrame:
    """Connected components by min-label propagation over an
    undirected pair relation (columns u, v with u < v): returns
    (u, lbl) where lbl = min node id reachable. Iterative
    join+groupBy on the persisted doubled edge set, converging in
    diameter steps; fails loudly if max_iters is hit (ADVICE r2 — a
    silent non-converged return diverges from the recursive-CTE
    oracle only at larger scale). Factored in r7 so near-dup
    clustering and entity resolution share one propagation loop; at
    100 TB the same loop runs with the large-star/small-star
    optimization.

    r17 (guide §5 — localCheckpoint to cut lineage): the doubled edge
    set and each iteration's labels are EAGER localCheckpoints, not
    persists. A persisted iterate keeps its full lineage, so
    iteration k's plan embedded (and Catalyst re-optimized) the whole
    k−1-deep join chain plus the pair-generation subtree (for
    er_blocked_parts that is the blocked Levenshtein self-join) —
    compile cost quadratic in iterations. Checkpointed, every
    iteration plans against two flat RDD scans; the convergence count
    reads the same materialization the next iteration consumes."""
    edges = (
        pairs.select("u", "v")
        .union(pairs.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .localCheckpoint(eager=True)
    )
    labels = edges.select("u").distinct().select("u", F.col("u").alias("lbl"))
    changed = 0
    for _ in range(max_iters):
        prop = (
            edges.join(
                labels.select(
                    F.col("u").alias("v"), F.col("lbl").alias("nbr_lbl")
                ),
                "v",
            )
            .select("u", F.col("nbr_lbl").alias("lbl"))
            .union(labels)
        )
        new_labels = (
            prop.groupBy("u")
            .agg(F.min("lbl").alias("lbl"))
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "u")
            .filter(F.col("n.lbl") != F.col("o.lbl"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    if changed != 0:
        raise RuntimeError(
            f"connected-components did not converge in {max_iters} "
            f"iterations ({changed} labels still changing); raise "
            "max_iters or switch to large-star/small-star"
        )
    return labels


@register("dedup_cluster_components", _CC_ORACLE)
def dedup_cluster_components(spark, sf_dir):
    """Global near-dup clustering: connected components over the
    MinHash-LSH pair graph (cluster id = min doc_id reachable), so a
    keep-one-per-cluster policy can be applied corpus-wide instead of
    pairwise. Spark side runs min-label propagation to a fixpoint
    (min_label_components — shared with the entity-resolution query);
    the oracle is DuckDB's recursive CTE."""
    from .queries_dedup import dedup_minhash_lsh

    pairs = dedup_minhash_lsh(spark, sf_dir).select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    )
    return min_label_components(pairs).select(
        F.col("u").alias("doc_id"), F.col("lbl").cast("bigint").alias("cluster_id")
    )


# --- bigram-LM perplexity scoring (round 2) ---------------------------------
#
# The CCNet-style LM quality filter: a bigram language model with
# add-one smoothing is trained on the corpus's train split (the same
# deterministic md5 hash split as corpus_split_train_val_test) and
# every document is scored by its average per-bigram log2 probability
# — a model-free perplexity proxy used to rank documents for corpus
# filtering. Pure counts + joins; no external model.

_LM_ORACLE = f"""
    WITH t AS (
        SELECT doc_id, {X.tokens_sql()} AS toks,
               substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc' AS is_train
        FROM documents
    ),
    doc_bi AS (
        SELECT doc_id, is_train,
               toks[i] AS a, toks[i + 1] AS b
        FROM t, unnest(generate_series(1, len(toks) - 1)) AS g(i)
        WHERE len(toks) >= 2
    ),
    cab AS (
        SELECT a, b, CAST(count(*) AS BIGINT) AS c_ab
        FROM doc_bi WHERE is_train GROUP BY a, b
    ),
    ca AS (
        SELECT a, CAST(count(*) AS BIGINT) AS c_a
        FROM doc_bi WHERE is_train GROUP BY a
    ),
    vocab AS (
        SELECT CAST(count(DISTINCT toks_u) AS DOUBLE) AS v
        FROM (SELECT unnest(toks) AS toks_u FROM t WHERE is_train)
    ),
    scored AS (
        SELECT d.doc_id,
               log2((CAST(coalesce(cab.c_ab, 0) AS DOUBLE) + 1.0)
                    / (CAST(coalesce(ca.c_a, 0) AS DOUBLE) + vocab.v)) AS lp
        FROM doc_bi d
        LEFT JOIN cab ON cab.a = d.a AND cab.b = d.b
        LEFT JOIN ca ON ca.a = d.a
        CROSS JOIN vocab
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           round(sum(lp) / count(*), 4) AS avg_log2_prob
    FROM scored GROUP BY doc_id
"""


@register("quality_bigram_lm_ppl", _LM_ORACLE)
def quality_bigram_lm_ppl(spark, sf_dir):
    """Bigram-LM perplexity proxy: add-one-smoothed bigram
    probabilities trained on the deterministic train split, every doc
    scored by mean per-bigram log2 probability (low = out-of-domain /
    degenerate — the LM corpus-filtering signal). Count tables are two
    groupBy shuffles; scoring is a left join of doc bigrams against
    them (the count tables are vocabulary-scale, broadcastable at any
    corpus size)."""
    t = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        X.tokens().alias("toks"),
        (
            F.substring(
                F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 2
            )
            < "cc"
        ).alias("is_train"),
    )
    bi = F.when(
        F.size("toks") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("toks") - 1),
            lambda i: F.struct(
                F.element_at("toks", i).alias("a"),
                F.element_at("toks", i + 1).alias("b"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
    doc_bi = t.select(
        "doc_id", "is_train", F.explode(bi).alias("p")
    ).select("doc_id", "is_train", F.col("p.a").alias("a"), F.col("p.b").alias("b"))
    train = doc_bi.filter("is_train")
    cab = train.groupBy("a", "b").agg(F.count("*").alias("c_ab"))
    ca = train.groupBy("a").agg(F.count("*").alias("c_a"))
    # generator input INLINE (r17, same InferFiltersFromGenerate
    # avoidance as the pairs/PMI sites): re-derive from the source
    # with the tokenize expression in the explode itself.
    vocab = (
        load_table(spark, sf_dir, "documents")
        .filter(
            F.substring(
                F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 2
            )
            < "cc"
        )
        .select(F.explode(X.tokens()).alias("tok"))
        .agg(F.countDistinct("tok").cast("double").alias("v"))
    )
    lp = F.log2(
        (F.coalesce(F.col("c_ab"), F.lit(0)).cast("double") + 1.0)
        / (F.coalesce(F.col("c_a"), F.lit(0)).cast("double") + F.col("v"))
    )
    scored = (
        doc_bi.join(F.broadcast(cab), ["a", "b"], "left")
        .join(F.broadcast(ca), "a", "left")
        .crossJoin(F.broadcast(vocab))
        .select("doc_id", lp.alias("lp"))
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.round(F.sum("lp") / F.count("*"), 4).alias("avg_log2_prob"),
    )


# --- language-ID evaluation (round 2) ---------------------------------------

_LANGEVAL_ORACLE = f"""
    WITH pred AS (
        SELECT doc_id, lang AS declared_lang,
               {X.lang_id_sql(X.lang_scores_sql())} AS predicted_lang
        FROM documents
    )
    SELECT declared_lang, predicted_lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           declared_lang = predicted_lang AS correct
    FROM pred GROUP BY declared_lang, predicted_lang
"""


@register("quality_langid_confusion", _LANGEVAL_ORACLE)
def quality_langid_confusion(spark, sf_dir):
    """Classifier evaluation as a query: the lang-ID heuristic scored
    against the corpus's gold labels as a confusion matrix (declared ×
    predicted counts + correctness flag) — the accuracy audit every
    heuristic filter needs before its verdicts gate real data. One
    groupBy over per-row predictions."""
    scores = X.lang_scores()
    pred = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.col("lang").alias("declared_lang"),
        X.lang_id(scores).alias("predicted_lang"),
    )
    return pred.groupBy("declared_lang", "predicted_lang").agg(
        F.count("*").alias("n_docs"),
        (F.col("declared_lang") == F.col("predicted_lang")).alias("correct"),
    )


# --- corpus length histogram (round 2) --------------------------------------

_HIST_BUCKET = 10  # tokens per bucket

_HIST_ORACLE = f"""
    WITH t AS (
        SELECT CAST(floor({X.token_count_sql()} / {_HIST_BUCKET}.0) AS BIGINT)
                   AS bucket
        FROM documents
    )
    SELECT bucket,
           CAST(bucket * {_HIST_BUCKET} AS BIGINT) AS bucket_lo,
           CAST((bucket + 1) * {_HIST_BUCKET} AS BIGINT) AS bucket_hi,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM t GROUP BY bucket
"""


@register("corpus_length_histogram", _HIST_ORACLE)
def corpus_length_histogram(spark, sf_dir):
    """Token-length distribution profile: fixed-width histogram of
    per-document token counts — the corpus-shape diagnostic read
    before choosing chunk sizes and packing budgets. Map-only bucket
    assignment + one groupBy on a small key domain."""
    t = load_table(spark, sf_dir, "documents").select(
        F.floor(X.token_count() / float(_HIST_BUCKET))
        .cast("bigint")
        .alias("bucket")
    )
    return t.groupBy("bucket").agg(F.count("*").alias("n_docs")).select(
        "bucket",
        (F.col("bucket") * _HIST_BUCKET).cast("bigint").alias("bucket_lo"),
        ((F.col("bucket") + 1) * _HIST_BUCKET).cast("bigint").alias("bucket_hi"),
        "n_docs",
    )


# --- lexical diversity (round 7) -------------------------------------------

_TTR_ORACLE = f"""
    WITH t AS (
        SELECT doc_id,
               {X.tokens_sql()} AS toks,
               CAST(len({X.tokens_sql()}) AS BIGINT) AS n_tokens
        FROM documents
    ),
    d AS (
        SELECT doc_id, n_tokens, toks,
               CAST(len(list_distinct(toks)) AS BIGINT) AS n_types
        FROM t WHERE n_tokens > 0
    )
    SELECT doc_id, n_tokens, n_types,
           round(CAST(n_types AS DOUBLE) / n_tokens, 4) AS ttr,
           CAST(len(list_filter(list_distinct(toks),
                    x -> len(list_filter(toks, y -> y = x)) = 1))
                AS BIGINT) AS n_hapax,
           round(CAST(len(list_filter(list_distinct(toks),
                          x -> len(list_filter(toks, y -> y = x)) = 1))
                      AS DOUBLE) / len(list_distinct(toks)), 4)
               AS hapax_frac
    FROM d
"""


@register("quality_ttr_lexical_diversity", _TTR_ORACLE)
def quality_ttr_lexical_diversity(spark, sf_dir):
    """Lexical-diversity quality signal: per-document type-token ratio
    (distinct tokens / tokens) and hapax-legomenon fraction (share of
    types occurring exactly once) — low TTR flags template/boilerplate
    text, abnormally high hapax fractions flag gibberish; both are
    standard corpus-quality gates next to the heuristic filter.

    Scale: pure per-row array expressions (array_distinct + filter
    inside codegen) — no shuffle, no UDF; the hapax count folds over
    the per-doc token array only, never a global vocabulary."""
    toks = X.tokens()
    d = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            toks.alias("toks"),
            F.size(toks).cast("bigint").alias("n_tokens"),
        )
        .where(F.col("n_tokens") > 0)
        .withColumn(
            "types", F.array_distinct("toks")
        )
        .withColumn("n_types", F.size("types").cast("bigint"))
    )
    # hapax: types whose in-doc frequency is exactly 1
    hapax = F.size(
        F.filter(
            F.col("types"),
            lambda x: F.size(F.filter(F.col("toks"), lambda y: y == x)) == 1,
        )
    ).cast("bigint")
    return d.select(
        "doc_id",
        "n_tokens",
        "n_types",
        F.round(F.col("n_types").cast("double") / F.col("n_tokens"), 4).alias(
            "ttr"
        ),
        hapax.alias("n_hapax"),
        F.round(hapax.cast("double") / F.col("n_types"), 4).alias("hapax_frac"),
    )


# --- population-stability drift detection (round 7, second batch) -----------
#
# The monitoring twin of the quality gates: once a pipeline ingests
# continuously, per-period PSI of a metric's bucket histogram against
# the pooled reference is THE standard drift alarm (PSI >= 0.2 ==
# "significant shift, investigate the feed").

_PSI_BUCKETS = 10
_PSI_BUCKET_WIDTH = 50.0  # events.value spans [0, ~500)
_PSI_ALERT = 0.2

_PSI_ORACLE = f"""
    WITH e AS (
        SELECT event_type,
               strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
               least(CAST(floor(value / {_PSI_BUCKET_WIDTH}) AS BIGINT),
                     {_PSI_BUCKETS - 1}) AS bucket
        FROM events
    ),
    day_tot AS (
        SELECT event_type, day, CAST(count(*) AS BIGINT) AS n
        FROM e GROUP BY 1, 2
    ),
    day_cnt AS (
        SELECT event_type, day, bucket, CAST(count(*) AS BIGINT) AS c
        FROM e GROUP BY 1, 2, 3
    ),
    ref_tot AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS m FROM e GROUP BY 1
    ),
    ref_cnt AS (
        SELECT event_type, bucket, CAST(count(*) AS BIGINT) AS r
        FROM e GROUP BY 1, 2
    ),
    grid AS (
        SELECT dt.event_type, dt.day, dt.n, t.b AS bucket
        FROM day_tot dt CROSS JOIN range(0, {_PSI_BUCKETS}) t(b)
    ),
    terms AS (
        SELECT g.event_type, g.day, g.n,
               (CAST(coalesce(dc.c, 0) + 1 AS DOUBLE)
                    / (g.n + {_PSI_BUCKETS})
                - CAST(coalesce(rc.r, 0) + 1 AS DOUBLE)
                    / (rt.m + {_PSI_BUCKETS}))
               * round(ln(
                     (CAST(coalesce(dc.c, 0) + 1 AS DOUBLE)
                          / (g.n + {_PSI_BUCKETS}))
                     / (CAST(coalesce(rc.r, 0) + 1 AS DOUBLE)
                          / (rt.m + {_PSI_BUCKETS}))), 6) AS term
        FROM grid g
        LEFT JOIN day_cnt dc
               ON dc.event_type = g.event_type AND dc.day = g.day
              AND dc.bucket = g.bucket
        LEFT JOIN ref_cnt rc
               ON rc.event_type = g.event_type AND rc.bucket = g.bucket
        JOIN ref_tot rt ON rt.event_type = g.event_type
    )
    SELECT event_type, day, n AS n_events,
           round(CAST(sum(CAST(round(term, 6) AS DECIMAL(18,6)))
                      AS DOUBLE), 6) AS psi,
           CAST(sum(CAST(round(term, 6) AS DECIMAL(18,6))) AS DOUBLE)
               >= {_PSI_ALERT} AS drift_flag
    FROM terms
    GROUP BY event_type, day, n
"""


def psi_from_cube(day_cnt: DataFrame) -> DataFrame:
    """PSI report from the (event_type, day, bucket, c) count CUBE —
    the statistic's complete sufficient statistic: day totals, the
    pooled reference histogram, and its total are all sums over the
    cube, so any producer of the exact cube (the batch pass below, or
    the streaming fold's final state) yields the identical report.
    Arithmetic per the batch twin's determinism contract: integer
    counts, single IEEE divisions, ln rounded 6 dp, DECIMAL term sum."""
    day_tot = day_cnt.groupBy("event_type", "day").agg(
        F.sum("c").cast("bigint").alias("n")
    )
    ref_tot = day_cnt.groupBy("event_type").agg(
        F.sum("c").cast("bigint").alias("m")
    )
    ref_cnt = day_cnt.groupBy("event_type", "bucket").agg(
        F.sum("c").cast("bigint").alias("r")
    )
    grid = day_tot.withColumn(
        "bucket", F.explode(F.sequence(F.lit(0), F.lit(_PSI_BUCKETS - 1)))
    ).select(
        "event_type", "day", "n", F.col("bucket").cast("bigint").alias("bucket")
    )
    p = (F.coalesce("c", F.lit(0)) + 1).cast("double") / (
        F.col("n") + _PSI_BUCKETS
    )
    q = (F.coalesce("r", F.lit(0)) + 1).cast("double") / (
        F.col("m") + _PSI_BUCKETS
    )
    term = (p - q) * F.round(F.log(p / q), 6)
    terms = (
        grid.join(day_cnt, ["event_type", "day", "bucket"], "left")
        .join(F.broadcast(ref_cnt), ["event_type", "bucket"], "left")
        .join(F.broadcast(ref_tot), "event_type")
        .select(
            "event_type",
            "day",
            "n",
            F.round(term, 6).cast("decimal(18,6)").alias("term"),
        )
    )
    psi_sum = F.sum("term").cast("double")
    return terms.groupBy("event_type", "day", "n").agg(
        F.round(psi_sum, 6).alias("psi"),
        (psi_sum >= _PSI_ALERT).alias("drift_flag"),
    ).select(
        "event_type",
        "day",
        F.col("n").alias("n_events"),
        "psi",
        "drift_flag",
    )


def _psi_day_cube(spark, sf_dir):
    """(event_type, day, bucket, c): the per-day value-bucket count
    cube of events, the complete sufficient statistic of the drift
    queries."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "event_type",
        F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias(
            "day"
        ),
        psi_bucket_col().alias("bucket"),
    )
    return e.groupBy("event_type", "day", "bucket").agg(
        F.count("*").cast("bigint").alias("c")
    )


def psi_bucket_col():
    """The fixed-width value bucket shared by the batch pass and the
    streaming tier's source projection."""
    return F.least(
        F.floor(F.col("value") / _PSI_BUCKET_WIDTH).cast("bigint"),
        F.lit(_PSI_BUCKETS - 1).cast("bigint"),
    )


@register("quality_psi_drift", _PSI_ORACLE)
def quality_psi_drift(spark, sf_dir):
    """Windowed drift detection: per (event_type, day), the population
    stability index of the day's value-bucket histogram against the
    pooled all-days reference — PSI = Σ_b (p_b − q_b)·ln(p_b/q_b)
    with add-one smoothing over the ten fixed-width buckets (so empty
    buckets contribute finitely), flagging days at the classic 0.2
    alert level. This is the feed-health monitor a
    continuously-ingesting pipeline runs before trusting a day's data.

    Determinism + scale: bucket counts are exact integers; p, q and
    their ratio are single IEEE divisions (identical both engines);
    the only transcendental is ln, rounded at 6 dp per the
    cross-engine libm rule (BM25 precedent); and the Σ over the
    10-term bucket grid is a DECIMAL sum — exact, associative,
    partition-order-proof. Shuffle: two passes over events (day grain
    and reference grain), then joins on the tiny
    (type × day × bucket) grid — at 100 TB the reference histogram is
    a broadcast row-set and days are processed independently."""
    # ONE pass to the sufficient-statistic cube (r9 refactor: day
    # totals and the pooled reference are sums over it — see
    # psi_from_cube, shared with the streaming tier)
    day_cnt = _psi_day_cube(spark, sf_dir)
    # Materialize the cube: psi_from_cube consumes it in three plan
    # branches (day totals, reference histogram, verify join) and
    # Catalyst would otherwise rescan events once per branch. The cube
    # is type x calendar x bucket — metadata-scale by construction, so
    # the checkpoint is cheap at any corpus size; the streaming tier
    # gets the same property from its memory-sink state.
    return psi_from_cube(day_cnt.localCheckpoint(eager=True))


@register("streaming_psi_drift", _PSI_ORACLE)
def q_streaming_psi_drift(spark, sf_dir):
    """Structured Streaming: PSI drift as a stateful streaming tier.
    The stream folds the (day, bucket) count cube per event type
    (streaming/jobs.streaming_psi_cube — state bounded by
    calendar x buckets); this query keeps each key's max-seq cube
    emission and runs psi_from_cube over it — the SAME Spark
    expressions as the batch twin on the SAME exact integer cube, so
    it carries the batch twin's full oracle with zero Python float
    arithmetic in the streaming loop."""
    from .streaming.jobs import latest_cube, streaming_psi_cube

    # psi_from_cube self-joins the cube three ways: checkpointed
    return psi_from_cube(
        latest_cube(streaming_psi_cube(spark, sf_dir), checkpoint=True)
    )


# --- train/serve quantile-alignment audit (round 7, second batch) -----------
#
# Distribution skew between the data a model trained on (early window)
# and the data it serves on (late window) is the classic silent
# degrader; comparing a few order statistics per segment is the cheap,
# robust check (the exact twin of comparing KLL sketch ranks).

_SKEW_SPLIT_DAYS = 15  # first 15 days = 'early', rest = 'late'
_SKEW_QS = (25, 50, 75, 90)  # percent ranks compared

_SKEW_ORACLE = f"""
    WITH bounds AS (
        SELECT min(CAST(epoch_us(ts) // 86400000000 AS BIGINT)) AS d0
        FROM events
    ),
    e AS (
        SELECT event_type, value, event_id,
               CASE WHEN CAST(epoch_us(ts) // 86400000000 AS BIGINT)
                         < b.d0 + {_SKEW_SPLIT_DAYS}
                    THEN 'early' ELSE 'late' END AS split
        FROM events CROSS JOIN bounds b
    ),
    r AS (
        SELECT e.*, row_number() OVER (
                   PARTITION BY event_type, split
                   ORDER BY value, event_id
               ) AS rn,
               count(*) OVER (PARTITION BY event_type, split) AS n
        FROM e
    ),
    q AS (
        SELECT event_type, split, qs.q, value
        FROM r CROSS JOIN (
            SELECT unnest([{", ".join(str(q) for q in _SKEW_QS)}]) AS q
        ) qs
        WHERE rn = (qs.q * n + 99) // 100
    )
    SELECT event_type, CAST(q AS INT) AS pct,
           max(CASE WHEN split = 'early' THEN value END) AS early_value,
           max(CASE WHEN split = 'late' THEN value END) AS late_value,
           round(abs(max(CASE WHEN split = 'late' THEN value END)
                     - max(CASE WHEN split = 'early' THEN value END)), 2)
               AS abs_shift
    FROM q
    GROUP BY event_type, q
"""


@register("quality_train_serve_skew", _SKEW_ORACLE)
def quality_train_serve_skew(spark, sf_dir):
    """Train/serve quantile alignment: the value distribution's
    25/50/75/90th percentiles for the early (training) window vs the
    late (serving) window, per event type, with the absolute shift —
    the order-statistic comparison a feature platform runs to catch
    serving drift before the model quality does. Exact rank picks
    (rn == ⌈q·n/100⌉ with a deterministic (value, event_id) order),
    so both engines select identical data values — no interpolation,
    no FP channel.

    Scale: one shuffle on (event_type, split) for the rank window,
    one count over the same partitioning (no extra exchange), and the
    percent-rank picks prune everything but 4 rows per segment before
    the final tiny pivot. The split boundary derives from a one-row
    global min (broadcast). The KLL-sketch rollup is the streaming/
    mergeable version of this audit; this is its exact batch twin."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    day = F.expr("unix_micros(ts) div 86400000000")
    bounds = ev.agg(F.min(day).cast("bigint").alias("d0"))
    e = ev.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        "value",
        "event_id",
        F.when(
            day < F.col("d0") + _SKEW_SPLIT_DAYS, F.lit("early")
        )
        .otherwise(F.lit("late"))
        .alias("split"),
    )
    pw = W.partitionBy("event_type", "split")
    r = e.select(
        "event_type",
        "split",
        "value",
        F.row_number()
        .over(pw.orderBy("value", "event_id"))
        .alias("rn"),
        F.count("*").over(pw).alias("n"),
    )
    qs = F.explode(
        F.array(*[F.lit(q) for q in _SKEW_QS])
    ).alias("q")
    picked = (
        r.select("event_type", "split", "value", "rn", "n", qs)
        .where(F.col("rn") == F.expr("(q * n + 99) div 100"))
    )
    early = F.max(F.when(F.col("split") == "early", F.col("value")))
    late = F.max(F.when(F.col("split") == "late", F.col("value")))
    return picked.groupBy(
        "event_type", F.col("q").cast("int").alias("pct")
    ).agg(
        early.alias("early_value"),
        late.alias("late_value"),
        F.round(F.abs(late - early), 2).alias("abs_shift"),
    )


# --- incremental connected components (round 7, second batch) ---------------
#
# The day-2 gap the incremental minhash/ER queries left open: merging
# a batch's near-dup edges into STORED component labels without
# re-running the full propagation. Policy: a new doc adopts the
# smallest store component label among its verified store neighbors
# (1-hop adoption; batch-internal edges and label re-merges are
# deferred to the next full pass, exactly like the incremental ER
# contract).

from .queries_dedup import _INCR_MINHASH_ORACLE  # noqa: E402
from .queries_dedup import (  # noqa: E402
    _INCR_BATCH_MOD,
    _INCR_BATCH_REM,
    incremental_minhash_pairs,
    minhash_verified_pairs,
)

_INCR_CC_ORACLE = f"""
    WITH RECURSIVE sp AS (
        SELECT doc_a AS u, doc_b AS v FROM ({MINHASH_PAIRS_ORACLE})
        WHERE doc_a % {_INCR_BATCH_MOD} <> {_INCR_BATCH_REM}
          AND doc_b % {_INCR_BATCH_MOD} <> {_INCR_BATCH_REM}
    ),
    edges AS (
        SELECT u, v FROM sp UNION ALL SELECT v AS u, u AS v FROM sp
    ),
    nodes AS (SELECT DISTINCT u FROM edges),
    walk(u, lbl) AS (
        SELECT u, u FROM nodes
        UNION
        SELECT e.u, w.lbl FROM edges e JOIN walk w ON w.u = e.v
    ),
    comp AS (SELECT u, min(lbl) AS lbl FROM walk GROUP BY u),
    bp AS (SELECT new_doc, dup_of FROM ({_INCR_MINHASH_ORACLE})),
    adopt AS (
        SELECT b.new_doc,
               CAST(count(*) AS BIGINT) AS n_store_neighbors,
               min(coalesce(c.lbl, b.dup_of)) AS adopted
        FROM bp b LEFT JOIN comp c ON c.u = b.dup_of
        GROUP BY b.new_doc
    ),
    batch AS (
        SELECT doc_id FROM documents
        WHERE doc_id % {_INCR_BATCH_MOD} = {_INCR_BATCH_REM}
    )
    SELECT d.doc_id,
           CAST(coalesce(a.adopted, d.doc_id) AS BIGINT) AS component_id,
           coalesce(a.n_store_neighbors, 0) AS n_store_neighbors,
           a.new_doc IS NOT NULL AS matched
    FROM batch d LEFT JOIN adopt a ON a.new_doc = d.doc_id
"""


@register("dedup_incremental_components", _INCR_CC_ORACLE)
def dedup_incremental_components(spark, sf_dir):
    """Incremental near-dup clustering: the ingestion batch's verified
    (new → store) pairs adopt STORED component labels — each new doc
    takes the smallest store label among its matched neighbors (a
    neighbor outside any store edge contributes its own id as a
    singleton label), unmatched docs found their own component. The
    stored labels are the existing-docs-only component fixpoint;
    nothing over the store graph is recomputed per batch.

    Scale: store labels are maintained state (computed here inline so
    the query is self-contained; amortized across batches in
    production); the per-batch work is the banded index probe
    (incremental_minhash_pairs, O(batch × bands + candidates)) plus
    one join against the label table and a per-new-doc min — cost
    independent of corpus size, the same day-2 contract as the
    incremental minhash and ER queries. Deferred batch-internal
    merges reconcile at the next full dedup_cluster_components run."""
    is_batch_doc = (F.col("doc_id") % _INCR_BATCH_MOD) == _INCR_BATCH_REM
    pairs = minhash_verified_pairs(spark, sf_dir)
    store_pairs = pairs.where(
        ((F.col("doc_a") % _INCR_BATCH_MOD) != _INCR_BATCH_REM)
        & ((F.col("doc_b") % _INCR_BATCH_MOD) != _INCR_BATCH_REM)
    ).select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
    store_labels = min_label_components(store_pairs).select(
        F.col("u").alias("dup_of"), F.col("lbl")
    )
    bp = incremental_minhash_pairs(spark, sf_dir).select("new_doc", "dup_of")
    adopt = (
        bp.join(store_labels, "dup_of", "left")
        .groupBy("new_doc")
        .agg(
            F.count("*").cast("bigint").alias("n_store_neighbors"),
            F.min(F.coalesce("lbl", F.col("dup_of"))).alias("adopted"),
        )
    )
    batch = load_table(spark, sf_dir, "documents").where(is_batch_doc).select(
        "doc_id"
    )
    return (
        batch.join(adopt, F.col("doc_id") == F.col("new_doc"), "left")
        .select(
            "doc_id",
            F.coalesce("adopted", F.col("doc_id"))
            .cast("bigint")
            .alias("component_id"),
            F.coalesce("n_store_neighbors", F.lit(0))
            .cast("bigint")
            .alias("n_store_neighbors"),
            F.col("new_doc").isNotNull().alias("matched"),
        )
    )


# --- format-preserving PII tokenization (round 7, second batch) -------------
#
# pii_detect_redact DESTROYS the value ([EMAIL]); tokenization REPLACES
# it with a deterministic shape-preserving pseudonym — same input value
# → same token everywhere, so joins and frequency analyses over the
# tokenized corpus still work (the pseudonymization production privacy
# pipelines actually deploy; destructive redaction is the fallback).

_PII_TOKENIZE_ORACLE = f"""
    WITH d AS (
        SELECT doc_id,
               CASE WHEN doc_id % 7 = 0 THEN
                   text || ' contact user' || CAST(doc_id AS VARCHAR)
                        || '@example.com or 555-'
                        || lpad(CAST((doc_id * 7) % 10000 AS VARCHAR), 4, '0')
               ELSE text END AS pii_text
        FROM documents
    ),
    m AS (
        SELECT doc_id, pii_text,
               regexp_extract(pii_text, '{_PII_EMAIL_PAT}') AS email,
               regexp_extract(pii_text, '{_PII_PHONE_PAT}') AS phone
        FROM d
    ),
    t AS (
        SELECT *,
               CASE WHEN email <> '' THEN
                   'user' || substr(md5(email), 1, 8) || '@redacted.example'
               END AS email_token,
               CASE WHEN phone <> '' THEN
                   '555-' || translate(substr(md5(phone), 1, 4),
                                       'abcdef', '012345')
               END AS phone_token
        FROM m
    )
    SELECT doc_id,
           email <> '' AS had_email,
           phone <> '' AS had_phone,
           email_token, phone_token,
           md5(CASE WHEN phone <> ''
                    THEN replace(CASE WHEN email <> ''
                                      THEN replace(pii_text, email, email_token)
                                      ELSE pii_text END,
                                 phone, phone_token)
                    WHEN email <> ''
                    THEN replace(pii_text, email, email_token)
                    ELSE pii_text END) AS tokenized_fp
    FROM t
"""


@register("pii_tokenize_preserving", _PII_TOKENIZE_ORACLE)
def pii_tokenize_preserving(spark, sf_dir):
    """Format-preserving PII tokenization: detected emails become
    user<md5₈>@redacted.example and phones become 555-<md5-derived
    digits> — deterministic value→token mapping (referential integrity
    and frequency shape retained, actual identifiers gone), applied by
    in-place replacement so the surrounding text is untouched. Uses
    the same synthetic-injection harness and patterns as
    pii_detect_redact (one definition of what counts as PII).

    Scale: pure per-row regexp + hash expressions — map-only,
    whole-stage-codegen'd, zero shuffle; the token mapping needs no
    lookup table because the token IS a hash of the value."""
    pii_text = _pii_injected_text()
    m = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        pii_text.alias("pii_text"),
        F.regexp_extract(pii_text, _PII_EMAIL_PAT, 0).alias("email"),
        F.regexp_extract(pii_text, _PII_PHONE_PAT, 0).alias("phone"),
    )
    email_token = F.when(
        F.col("email") != "",
        F.concat(
            F.lit("user"),
            F.substring(F.md5(F.col("email").cast("binary")), 1, 8),
            F.lit("@redacted.example"),
        ),
    )
    phone_token = F.when(
        F.col("phone") != "",
        F.concat(
            F.lit("555-"),
            F.translate(
                F.substring(F.md5(F.col("phone").cast("binary")), 1, 4),
                "abcdef",
                "012345",
            ),
        ),
    )
    t = m.select(
        "doc_id",
        "pii_text",
        "email",
        "phone",
        email_token.alias("email_token"),
        phone_token.alias("phone_token"),
    )
    after_email = F.when(
        F.col("email") != "",
        F.replace(F.col("pii_text"), F.col("email"), F.col("email_token")),
    ).otherwise(F.col("pii_text"))
    tokenized = F.when(
        F.col("phone") != "",
        F.replace(after_email, F.col("phone"), F.col("phone_token")),
    ).otherwise(after_email)
    return t.select(
        "doc_id",
        (F.col("email") != "").alias("had_email"),
        (F.col("phone") != "").alias("had_phone"),
        "email_token",
        "phone_token",
        F.md5(tokenized.cast("binary")).alias("tokenized_fp"),
    )


# --- Benford first-digit audit (round 8) ------------------------------------

_BENFORD_ORACLE = """
    WITH d AS (
        SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100.0, 0)
                                    AS BIGINT) AS VARCHAR), 1, 1)
                    AS INT) AS digit
        FROM orders
    ),
    c AS (
        SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY digit
    ),
    t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c)
    SELECT c.digit, c.n,
           round(CAST(c.n AS DOUBLE) / t.total, 6) AS observed_share,
           round(log10(1.0 + 1.0 / c.digit), 6) AS benford_share,
           round(pow(CAST(c.n AS DOUBLE) / t.total
                     - log10(1.0 + 1.0 / c.digit), 2)
                 / log10(1.0 + 1.0 / c.digit), 6) AS chi2_term
    FROM c CROSS JOIN t
"""


@register("dq_benford_firstdigit", _BENFORD_ORACLE)
def dq_benford_firstdigit(spark, sf_dir):
    """Benford's-law first-digit audit over order totals: observed vs
    expected log10(1+1/d) share per leading digit with the chi-square
    contribution — the classic fabricated-data / unit-mixup screen for
    financial columns. The leading digit comes from the INTEGER cents
    representation (multiplying by 100 never changes the leading
    significant digit, and bigint→string never switches to scientific
    notation the way double→string does), so digit extraction is
    engine-exact and only the report shares round.

    Scale: map-side digit projection + a 9-group aggregate; totals
    ride a one-row broadcast."""
    d = load_table(spark, sf_dir, "orders").select(
        F.substring(
            F.round(F.col("o_totalprice") * 100.0, 0)
            .cast("bigint")
            .cast("string"),
            1,
            1,
        )
        .cast("int")
        .alias("digit")
    )
    c = d.groupBy("digit").agg(F.count("*").cast("bigint").alias("n"))
    t = c.agg(F.sum("n").cast("bigint").alias("total"))
    obs = F.col("n").cast("double") / F.col("total")
    exp = F.log10(1.0 + 1.0 / F.col("digit"))
    return c.crossJoin(F.broadcast(t)).select(
        "digit",
        "n",
        F.round(obs, 6).alias("observed_share"),
        F.round(exp, 6).alias("benford_share"),
        F.round(F.pow(obs - exp, 2) / exp, 6).alias("chi2_term"),
    )


# --- Kolmogorov-Smirnov drift (round 8) -------------------------------------

_KS_ORACLE = """
    WITH b AS (
        SELECT event_type,
               (CAST(epoch_us(min(ts)) AS BIGINT)
                + CAST(epoch_us(max(ts)) AS BIGINT)) // 2 AS mid_us
        FROM events GROUP BY event_type
    ),
    v AS (
        SELECT e.event_type, e.value,
               CASE WHEN CAST(epoch_us(e.ts) AS BIGINT) < b.mid_us
                    THEN 1 ELSE 0 END AS is_early
        FROM events e JOIN b USING (event_type)
    ),
    g AS (
        SELECT event_type, value,
               CAST(sum(is_early) AS BIGINT) AS c1,
               CAST(sum(1 - is_early) AS BIGINT) AS c2
        FROM v GROUP BY event_type, value
    ),
    n AS (
        SELECT event_type, CAST(sum(c1) AS BIGINT) AS n1,
               CAST(sum(c2) AS BIGINT) AS n2
        FROM g GROUP BY event_type
    ),
    cum AS (
        SELECT g.event_type, g.value, n.n1, n.n2,
               sum(g.c1) OVER (
                   PARTITION BY g.event_type ORDER BY g.value
                   ROWS UNBOUNDED PRECEDING
               ) AS cum1,
               sum(g.c2) OVER (
                   PARTITION BY g.event_type ORDER BY g.value
                   ROWS UNBOUNDED PRECEDING
               ) AS cum2
        FROM g JOIN n USING (event_type)
    ),
    k AS (
        SELECT event_type, n1, n2,
               max(abs(cum1 * n2 - cum2 * n1)) AS ks_num
        FROM cum GROUP BY event_type, n1, n2
    )
    SELECT event_type, n1 AS n_early, n2 AS n_late,
           round(CAST(ks_num AS DOUBLE) / (n1 * n2), 6) AS ks_statistic
    FROM k
"""


@register("quality_ks_drift", _KS_ORACLE, headline=True)
def quality_ks_drift(spark, sf_dir):
    """Two-sample Kolmogorov–Smirnov drift per event type: the event
    stream is split at its integer-µs time midpoint and the KS
    statistic sup|F_early − F_late| is computed over the merged value
    grid. The supremum is taken over INTEGER cross-products
    (|cum1·n2 − cum2·n1|, exact bigints), so the argmax — and
    therefore the statistic — is partition- and engine-exact before
    the single 6-dp display division. The nonparametric companion to
    the binned PSI monitor (quality_psi_drift): KS needs no bin
    choice and catches shape drift PSI's bins can wash out.

    Scale: one value-grain aggregate, then a per-type cumulative
    window on the (type, value) relation — the exact-order-statistics
    trade documented for this family."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    # Integer midpoint via SQL `div` (ADVICE r8): double division is
    # exact only while the epoch-us sum stays under 2^53, and quietly
    # breaks the integer-exact convention.
    b = ev.groupBy("event_type").agg(
        F.unix_micros(F.min("ts")).cast("bigint").alias("min_us"),
        F.unix_micros(F.max("ts")).cast("bigint").alias("max_us"),
    ).select(
        "event_type",
        F.expr("(min_us + max_us) div 2").cast("bigint").alias("mid_us"),
    )
    v = ev.join(F.broadcast(b), "event_type").select(
        "event_type",
        "value",
        F.when(
            F.unix_micros("ts").cast("bigint") < F.col("mid_us"), 1
        )
        .otherwise(0)
        .alias("is_early"),
    )
    g = v.groupBy("event_type", "value").agg(
        F.sum("is_early").cast("bigint").alias("c1"),
        F.sum(1 - F.col("is_early")).cast("bigint").alias("c2"),
    )
    # r16 optimization round (guide §2.4): the per-type totals are an
    # UNBOUNDED window over the same event_type partitioning as the
    # cumulative window, not a separate aggregate joined back — the
    # old shape's two consumers of g pruned different columns, broke
    # canonical equality, and re-ran the whole two-pass split (four
    # event scans per invocation); this shape plans g once.
    w = Window.partitionBy("event_type").orderBy("value").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wfull = Window.partitionBy("event_type")
    cum = g.select(
        "event_type",
        F.sum("c1").over(wfull).cast("bigint").alias("n1"),
        F.sum("c2").over(wfull).cast("bigint").alias("n2"),
        F.sum("c1").over(w).alias("cum1"),
        F.sum("c2").over(w).alias("cum2"),
    )
    k = cum.groupBy("event_type", "n1", "n2").agg(
        F.max(F.abs(F.col("cum1") * F.col("n2") - F.col("cum2") * F.col("n1"))).alias(
            "ks_num"
        )
    )
    return k.select(
        "event_type",
        F.col("n1").alias("n_early"),
        F.col("n2").alias("n_late"),
        F.round(
            F.col("ks_num").cast("double") / (F.col("n1") * F.col("n2")),
            6,
        ).alias("ks_statistic"),
    )


# --- Jensen–Shannon divergence drift (round 9, late batch) ------------------
#
# The symmetric, bounded (<= ln 2 nats) companion to quality_psi_drift
# / quality_ks_drift: per event type, the JSD between the value-bucket
# histograms of even- and odd-numbered calendar days (the interleaved
# split — a deterministic A/B halving that needs no global min/max
# pass). Determinism contract: integer bucket counts; p, q are single
# IEEE double/bigint divisions; the per-bucket term
# 0.5·(p·ln(p/m) + q·ln(q/m)) is integerized to BIGINT micro-nats via
# floor(x·1e6 + 0.5) (the retrieval_query_likelihood pattern — only
# exactly-rounded IEEE ops, so no decimal-literal or round()-HALF_UP
# channel), and the 10-term sum is exact integer addition. Per-bucket
# terms are >= 0 by the log-sum inequality, so the sum has no signed
# -0.0 channel either.

_JSD_SCALE = "1000000e0"  # micro-nats
_JSD_HALF_SCALE = "500000e0"  # 0.5 * scale, folded into one literal

_JSD_TERM_SQL = (
    f"CAST(floor((p * ln(p / m) + q * ln(q / m)) * {_JSD_HALF_SCALE}"
    " + 0.5e0) AS BIGINT)"
)

_JSD_ORACLE = f"""
    WITH e AS (
        SELECT event_type,
               CAST(epoch_us(date_trunc('day', ts)) // 86400000000
                    AS BIGINT) % 2 AS half,
               least(CAST(floor(value / {_PSI_BUCKET_WIDTH}) AS BIGINT),
                     {_PSI_BUCKETS - 1}) AS bucket
        FROM events
    ),
    c AS (
        SELECT event_type, half, bucket, CAST(count(*) AS BIGINT) AS c
        FROM e GROUP BY 1, 2, 3
    ),
    tot AS (
        SELECT event_type,
               CAST(coalesce(sum(CASE WHEN half = 0 THEN c END), 0)
                    AS BIGINT) AS n_even,
               CAST(coalesce(sum(CASE WHEN half = 1 THEN c END), 0)
                    AS BIGINT) AS n_odd
        FROM c GROUP BY 1
    ),
    grid AS (
        SELECT t.event_type, t.n_even, t.n_odd, g.b AS bucket
        FROM tot t CROSS JOIN range(0, {_PSI_BUCKETS}) g(b)
    ),
    pq AS (
        SELECT g.event_type, g.n_even, g.n_odd,
               CAST(coalesce(ce.c, 0) + 1 AS DOUBLE)
                   / (g.n_even + {_PSI_BUCKETS}) AS p,
               CAST(coalesce(co.c, 0) + 1 AS DOUBLE)
                   / (g.n_odd + {_PSI_BUCKETS}) AS q
        FROM grid g
        LEFT JOIN c ce ON ce.event_type = g.event_type
                      AND ce.bucket = g.bucket AND ce.half = 0
        LEFT JOIN c co ON co.event_type = g.event_type
                      AND co.bucket = g.bucket AND co.half = 1
    ),
    terms AS (
        SELECT event_type, n_even, n_odd, {_JSD_TERM_SQL} AS micro
        FROM (SELECT *, (p + q) / 2e0 AS m FROM pq)
    )
    SELECT event_type, n_even, n_odd,
           round(CAST(sum(micro) AS DOUBLE) / {_JSD_SCALE}, 6) AS jsd_nats
    FROM terms
    GROUP BY 1, 2, 3
"""


def jsd_from_cube(day_cnt):
    """JSD report from the (event_type, day, bucket, c) count CUBE —
    the same complete sufficient statistic the PSI family folds
    (psi_from_cube precedent): the even/odd split is a pure function
    of the day string (days-since-epoch parity, UTC-pinned session),
    so any producer of the exact cube — the batch pass below or the
    streaming PSI fold's final state — yields the identical report.
    Arithmetic per the batch twin's determinism contract: integer
    counts, single IEEE divisions, micro-nat BIGINT term sum."""
    c = (
        day_cnt.withColumn(
            "half",
            (
                F.datediff(F.to_date("day"), F.to_date(F.lit("1970-01-01")))
                % 2
            ).cast("bigint"),
        )
        .groupBy("event_type", "half", "bucket")
        .agg(F.sum("c").cast("bigint").alias("c"))
    )
    tot = c.groupBy("event_type").agg(
        F.coalesce(F.sum(F.when(F.col("half") == 0, F.col("c"))), F.lit(0))
        .cast("bigint")
        .alias("n_even"),
        F.coalesce(F.sum(F.when(F.col("half") == 1, F.col("c"))), F.lit(0))
        .cast("bigint")
        .alias("n_odd"),
    )
    grid = tot.withColumn(
        "bucket", F.explode(F.sequence(F.lit(0), F.lit(_PSI_BUCKETS - 1)))
    ).withColumn("bucket", F.col("bucket").cast("bigint"))
    ce = c.where(F.col("half") == 0).select(
        "event_type", "bucket", F.col("c").alias("c_even")
    )
    co = c.where(F.col("half") == 1).select(
        "event_type", "bucket", F.col("c").alias("c_odd")
    )
    pq = (
        grid.join(F.broadcast(ce), ["event_type", "bucket"], "left")
        .join(F.broadcast(co), ["event_type", "bucket"], "left")
        .select(
            "event_type",
            "n_even",
            "n_odd",
            (
                (F.coalesce("c_even", F.lit(0)) + 1).cast("double")
                / (F.col("n_even") + _PSI_BUCKETS)
            ).alias("p"),
            (
                (F.coalesce("c_odd", F.lit(0)) + 1).cast("double")
                / (F.col("n_odd") + _PSI_BUCKETS)
            ).alias("q"),
        )
        .withColumn("m", F.expr("(p + q) / 2e0"))
    )
    terms = pq.select(
        "event_type", "n_even", "n_odd", F.expr(_JSD_TERM_SQL).alias("micro")
    )
    return terms.groupBy("event_type", "n_even", "n_odd").agg(
        F.round(
            F.sum("micro").cast("double") / F.expr(_JSD_SCALE), 6
        ).alias("jsd_nats")
    )


@register("quality_js_divergence", _JSD_ORACLE)
def quality_js_divergence(spark, sf_dir):
    """Jensen–Shannon divergence between the even-day and odd-day
    value-bucket distributions per event type (add-one smoothed over
    the fixed 10-bucket grid): a symmetric, [0, ln 2]-bounded drift
    score that complements PSI (unbounded, asymmetric reference) and
    KS (CDF max-gap). A healthy interleaved split should sit near 0 —
    a high JSD means the feed's value distribution depends on the day
    parity, i.e. systematic batch-to-batch drift.

    Scale: one groupBy to the (type, day, bucket) count cube — the
    complete sufficient statistic, metadata-scale by construction and
    shared verbatim with the streaming tier (jsd_from_cube) — then all
    arithmetic on the tiny grid; the term sum is exact BIGINT
    micro-nats (see module comment), so the result is independent of
    partitioning and sum order."""
    day_cnt = _psi_day_cube(spark, sf_dir)
    # jsd_from_cube consumes the cube in three plan branches (totals +
    # the two half histograms); checkpoint the metadata-scale cube so
    # events are scanned once (the PSI precedent).
    return jsd_from_cube(day_cnt.localCheckpoint(eager=True))


@register("streaming_jsd_drift", _JSD_ORACLE)
def streaming_jsd_drift(spark, sf_dir):
    """Structured Streaming: JSD drift as a stateful streaming tier —
    and a demonstration that ONE streamed sufficient statistic serves
    a whole family: the (day, bucket) count cube the PSI tier folds in
    state (streaming/jobs.streaming_psi_cube) is also JSD's
    complete statistic, so this query reuses that exact fold and only
    swaps the report expressions (jsd_from_cube vs psi_from_cube). No
    new state schema, no new Python in the loop; the report is
    bit-identical to the batch twin and carries its full oracle."""
    from .streaming.jobs import latest_cube, streaming_psi_cube

    # three-branch consumption: checkpointed (see latest_cube)
    return jsd_from_cube(
        latest_cube(streaming_psi_cube(spark, sf_dir), checkpoint=True)
    )


# --- cross-table financial reconciliation audit (round 9, late batch) -------

_RECON_ORACLE = """
    WITH l AS (
        SELECT l_orderkey,
               CAST(round(l_extendedprice * 100) AS BIGINT)
                   * (100 - CAST(round(l_discount * 100) AS BIGINT))
                   * (100 + CAST(round(l_tax * 100) AS BIGINT)) AS amt_e4
        FROM lineitem
    ),
    per_order AS (
        SELECT l_orderkey, CAST(sum(amt_e4) AS BIGINT) AS sum_e4
        FROM l GROUP BY 1
    ),
    d AS (
        SELECT o.o_orderstatus,
               coalesce(p.sum_e4, 0)
                   - CAST(round(o.o_totalprice * 100) AS BIGINT) * 10000
                   AS diff_e4
        FROM orders o LEFT JOIN per_order p ON p.l_orderkey = o.o_orderkey
    )
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CASE WHEN diff_e4 = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_exact,
           CAST(sum(CASE WHEN abs(diff_e4) <= 10000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_within_cent,
           CAST(max(abs(diff_e4)) AS BIGINT) AS max_abs_diff_e4,
           round(CAST(max(abs(diff_e4)) AS DOUBLE) / 1000000.0, 4)
               AS max_abs_diff_dollars
    FROM d GROUP BY 1
"""


@register("dq_order_reconciliation", _RECON_ORACLE, headline=True)
def dq_order_reconciliation(spark, sf_dir):
    """Cross-table financial reconciliation: recompute every order's
    total from its line items as Σ extendedprice·(1−discount)·(1+tax)
    and audit it against the stored o_totalprice, per order status —
    the classic ledger-vs-detail consistency gate a warehouse runs
    before publishing revenue.

    Determinism: the three money columns are exact 2-dp quantities, so
    each is recovered to an INTEGER (cents for price, percent points
    for discount/tax) with one unambiguous round(x·100) — after that
    every line amount is the exact integer
    cents·(100−d)·(100+t) in 1e-4-cent units, sums/diffs/counts are
    pure int64 (bounded: ≤ 2e11 per line), and no float product is
    ever rounded (a rounded double product would hit the
    shortest-repr HALF_UP channel). Orders with no line items
    reconcile against 0 via the left join instead of vanishing.

    Scale (r17, guide §2.4 — one exchange, no join): the detail sum
    and the ledger row meet in ONE union-aggregate keyed on orderkey
    instead of groupBy + sort-merge join. Each leg projects to
    (okey, amt | status+total) and partial-aggregates map-side, so
    one hash exchange carries one row per order from each side and
    the join's two sorts disappear (the old plan: lineitem exchange +
    orders exchange + SMJ). max(status)/max(total) are exact because
    orders is PK-unique on orderkey (exactly one ledger row per
    group); sum(amt) ignores the ledger row's NULL, so an order with
    no line items reconciles against 0 via the same coalesce; detail
    rows without a ledger row (impossible under the FK, dropped by
    the old left join's orders side) are dropped by the has_order
    gate — row-for-row the old join relation. Then a status-grain
    aggregate over one bigint per order."""
    # the ledger row's status travels as its ascii CODE, not the
    # string: a string in the aggregation buffer forces Spark onto
    # SortAggregate (immutable buffer field) and re-introduces the
    # okey sort the union-aggregate exists to remove; the code is a
    # value-preserving bijection for the CHAR(1) status and char()
    # restores it after the aggregate. All-numeric buffer ⇒
    # HashAggregate, no sorts anywhere in the plan.
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("okey"),
        (
            F.round(F.col("l_extendedprice") * 100, 0).cast("bigint")
            * (100 - F.round(F.col("l_discount") * 100, 0).cast("bigint"))
            * (100 + F.round(F.col("l_tax") * 100, 0).cast("bigint"))
        ).alias("amt_e4"),
        F.lit(None).cast("int").alias("status_code"),
        F.lit(None).cast("bigint").alias("total_e4"),
        F.lit(0).alias("is_order"),
    )
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("okey"),
        F.lit(None).cast("bigint").alias("amt_e4"),
        F.ascii("o_orderstatus").alias("status_code"),
        (F.round(F.col("o_totalprice") * 100, 0).cast("bigint") * 10000)
            .alias("total_e4"),
        F.lit(1).alias("is_order"),
    )
    d = (
        li.unionAll(o)
        .groupBy("okey")
        .agg(
            F.sum("amt_e4").alias("sum_e4"),
            F.max("status_code").alias("status_code"),
            F.max("total_e4").alias("total_e4"),
            F.max("is_order").alias("has_order"),
        )
        .where(F.col("has_order") == 1)
        .select(
            F.char("status_code").alias("o_orderstatus"),
            (F.coalesce("sum_e4", F.lit(0)) - F.col("total_e4")).alias(
                "diff_e4"
            ),
        )
    )
    return d.groupBy("o_orderstatus").agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.sum(F.when(F.col("diff_e4") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_exact"),
        F.sum(F.when(F.abs("diff_e4") <= 10000, 1).otherwise(0))
        .cast("bigint")
        .alias("n_within_cent"),
        F.max(F.abs("diff_e4")).cast("bigint").alias("max_abs_diff_e4"),
        F.round(
            F.max(F.abs("diff_e4")).cast("double") / 1000000.0, 4
        ).alias("max_abs_diff_dollars"),
    )


# --- dedup yield report (round 10) --------------------------------------------
#
# The curator-facing summary of the whole near-dup family: for each
# cluster SIZE in the MinHash component graph, how many clusters there
# are and how many documents/tokens a keep-one-per-cluster policy
# (keep = min doc_id, which IS the component label) would remove.
# This is the number that justifies the dedup pipeline's cost —
# "clusters of size 3 free up X tokens". Singleton docs never enter
# the pair graph and save nothing, so the report starts at size 2.
# Pure integer counts; no float arithmetic at all.

_DEDUP_YIELD_ORACLE = f"""
    WITH cc AS ({_CC_ORACLE}),
    toks AS (
        SELECT doc_id, {X.token_count_sql()} AS n_toks FROM documents
    ),
    cl AS (
        SELECT cc.cluster_id,
               CAST(count(*) AS BIGINT) AS cluster_size,
               CAST(sum(t.n_toks) AS BIGINT) AS total_toks,
               CAST(sum(CASE WHEN cc.doc_id = cc.cluster_id
                             THEN t.n_toks ELSE 0 END) AS BIGINT)
                   AS kept_toks
        FROM cc JOIN toks t USING (doc_id)
        GROUP BY 1
    )
    SELECT cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(cluster_size) AS BIGINT) AS n_docs,
           CAST(sum(cluster_size - 1) AS BIGINT) AS removable_docs,
           CAST(sum(total_toks - kept_toks) AS BIGINT) AS removable_tokens
    FROM cl GROUP BY 1
"""


@register("corpus_dedup_yield_report", _DEDUP_YIELD_ORACLE)
def corpus_dedup_yield_report(spark, sf_dir):
    """Cluster-size histogram of the near-dup component graph with the
    document and token savings of a keep-one-per-cluster policy — see
    the section comment. Everything is exact integer counting on top
    of the already-oracle-checked component labels.

    Scale: reuses the banded-LSH pair graph and the min-label
    propagation (both bounded by the rehearsal's blocking
    invariants); the report itself is one cluster-grain aggregate +
    one size-grain aggregate over metadata-scale relations."""
    cc = dedup_cluster_components(spark, sf_dir)
    toks = load_table(spark, sf_dir, "documents").select(
        "doc_id", X.token_count().alias("n_toks")
    )
    cl = (
        cc.join(toks, "doc_id")
        .groupBy("cluster_id")
        .agg(
            F.count("*").cast("bigint").alias("cluster_size"),
            F.sum("n_toks").cast("bigint").alias("total_toks"),
            F.sum(
                F.when(
                    F.col("doc_id") == F.col("cluster_id"), F.col("n_toks")
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("kept_toks"),
        )
    )
    return cl.groupBy("cluster_size").agg(
        F.count("*").cast("bigint").alias("n_clusters"),
        F.sum("cluster_size").cast("bigint").alias("n_docs"),
        F.sum(F.col("cluster_size") - 1).cast("bigint").alias(
            "removable_docs"
        ),
        F.sum(F.col("total_toks") - F.col("kept_toks"))
        .cast("bigint")
        .alias("removable_tokens"),
    )


# --- LM perplexity drift across the split (round 10) --------------------------
#
# Does the held-out split read like the training split to the corpus
# LM? A large gap in mean per-bigram log2 probability means the
# deterministic hash split is NOT exchangeable (or the corpus has a
# hidden stratum) — the distribution-shift signal the bucket-histogram
# PSI misses because it looks at VALUES, not language. Per-doc scores
# are the oracle-checked quality_bigram_lm_ppl relation (already
# rounded at 4 dp); each becomes an exact e4 integer via
# floor(x·1e4 + 0.5), split sums are int64 (order-proof), the two
# means are micro-unit quantized, and the drift is the exact BIGINT
# difference of those quantized means.

_PPL_DRIFT_ORACLE = f"""
    WITH lm AS ({_LM_ORACLE}),
    s AS (
        SELECT lm.doc_id,
               substr(md5(CAST(lm.doc_id AS VARCHAR)), 1, 2) < 'cc'
                   AS is_train,
               CAST(floor(lm.avg_log2_prob * 10000e0 + 0.5e0) AS BIGINT)
                   AS e4
        FROM lm
    ),
    m AS (
        SELECT is_train,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(e4) AS BIGINT) AS s_e4
        FROM s GROUP BY 1
    ),
    q AS (
        SELECT is_train, n_docs,
               CAST(floor(CAST(s_e4 AS DOUBLE) / n_docs / 10000e0
                          * 1000000e0 + 0.5e0) AS BIGINT) AS mean_micro
        FROM m
    )
    SELECT t.n_docs AS n_train_docs, e.n_docs AS n_eval_docs,
           round(t.mean_micro / 1000000e0, 6) AS mean_train_log2,
           round(e.mean_micro / 1000000e0, 6) AS mean_eval_log2,
           round((t.mean_micro - e.mean_micro) / 1000000e0, 6)
               AS drift_log2
    FROM (SELECT * FROM q WHERE is_train) t
    CROSS JOIN (SELECT * FROM q WHERE NOT is_train) e
"""


@register("quality_perplexity_drift", _PPL_DRIFT_ORACLE)
def quality_perplexity_drift(spark, sf_dir):
    """Mean bigram-LM log2 probability of the train split vs the
    held-out split, with the exact drift between them — the
    language-level distribution-shift audit for the deterministic
    hash split. See the section comment for the e4/micro integer
    contract.

    Scale: reuses the LM scorer's one scoring pass (vocabulary-scale
    broadcast count tables); the drift report is two 1-row aggregates
    and one broadcast cross join."""
    lm = quality_bigram_lm_ppl(spark, sf_dir)
    s = lm.select(
        (
            F.substring(
                F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 2
            )
            < "cc"
        ).alias("is_train"),
        F.expr(
            "CAST(floor(avg_log2_prob * 10000e0 + 0.5e0) AS BIGINT)"
        ).alias("e4"),
    )
    m = s.groupBy("is_train").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("e4").cast("bigint").alias("s_e4"),
    )
    q = m.select(
        "is_train",
        "n_docs",
        F.expr(micro_units_sql(
            "CAST(s_e4 AS DOUBLE) / n_docs / 10000e0"
        )).alias("mean_micro"),
    )
    t = q.where(F.col("is_train")).select(
        F.col("n_docs").alias("n_train_docs"),
        F.col("mean_micro").alias("t_micro"),
    )
    e = q.where(~F.col("is_train")).select(
        F.col("n_docs").alias("n_eval_docs"),
        F.col("mean_micro").alias("e_micro"),
    )
    return t.crossJoin(F.broadcast(e)).select(
        "n_train_docs",
        "n_eval_docs",
        F.round(F.col("t_micro") / F.expr("1000000e0"), 6).alias(
            "mean_train_log2"
        ),
        F.round(F.col("e_micro") / F.expr("1000000e0"), 6).alias(
            "mean_eval_log2"
        ),
        F.round(
            (F.col("t_micro") - F.col("e_micro")) / F.expr("1000000e0"), 6
        ).alias("drift_log2"),
    )


# --- Benford chi-square gate (round 14) -----------------------------------------
#
# The INFERENTIAL layer on top of the round-8 descriptive audit
# (dq_benford_firstdigit reports per-digit observed-vs-expected
# shares and share-scale deviation terms; it renders the picture but
# issues no verdict). This gate computes the COUNT-scale Pearson
# chi-square Σ(obs − n·p)²/(n·p) against the df = 8 critical value,
# plus Nigrini's mean-absolute-deviation of the digit shares with his
# published conformity bands — the two numbers a forensic reviewer
# actually acts on. First digit from the INTEGER cents' decimal
# string (no libm); expected probabilities are Python-precomputed
# log10(1+1/d) literals embedded identically in both engines; the
# per-digit chi-square and MAD terms are micro-quantized from exact
# BIGINT counts and summed as integers; the digit grid is DENSIFIED
# from a VALUES table on both sides so a digit with zero
# observations still contributes its n·p term (the r13
# split_behavior_chi2 structural-zero lesson, applied at birth).

import math as _math

_BENFORD_P = {d: _math.log10(1.0 + 1.0 / d) for d in range(1, 10)}
# chi2 critical value, df = 8, alpha = 0.05 (micro-quantized literal)
_BENFORD_CRIT_MICRO = 15_507_313
# Nigrini MAD conformity bands for first-digit tests (micro units)
_BENFORD_MAD_CLOSE = 6_000       # < 0.006  close conformity
_BENFORD_MAD_ACCEPTABLE = 12_000  # < 0.012 acceptable conformity
_BENFORD_MAD_MARGINAL = 15_000   # < 0.015 marginally acceptable

_BENFORD_DIGITS_SQL = (
    "(VALUES " + ", ".join(f"({d})" for d in range(1, 10)) + ") t(digit)"
)


def _benford_term_micro(obs: str, n: str, p: str) -> str:
    """Micro-quantized count-scale chi-square term for one digit —
    ONE builder for both engines (exp = n·p in double, term =
    (obs − exp)²/exp)."""
    exp = f"(CAST({n} AS DOUBLE) * ({p}))"
    return micro_units_sql(
        f"(CAST({obs} AS DOUBLE) - {exp})"
        f" * (CAST({obs} AS DOUBLE) - {exp}) / {exp}"
    )


def _benford_mad_term_micro(obs: str, n: str, p: str) -> str:
    """Micro-quantized |obs/n − p| share-deviation term (Nigrini MAD
    numerator) — same one-builder contract."""
    return micro_units_sql(f"abs(CAST({obs} AS DOUBLE) / ({n}) - ({p}))")


_BENFORD_CASE_P = (
    "CASE "
    + " ".join(f"WHEN digit = {d} THEN {p!r}" for d, p in _BENFORD_P.items())
    + " END"
)

_BENFORD_MAD_BAND_SQL = (
    f"CASE WHEN mad_micro < {_BENFORD_MAD_CLOSE} THEN 'close'"
    f" WHEN mad_micro < {_BENFORD_MAD_ACCEPTABLE} THEN 'acceptable'"
    f" WHEN mad_micro < {_BENFORD_MAD_MARGINAL} THEN 'marginal'"
    " ELSE 'nonconforming' END"
)

_BENFORD_GATE_ORACLE = f"""
    WITH amounts AS (
        SELECT CAST(floor(o_totalprice * 100e0 + 0.5e0) AS BIGINT) AS cents
        FROM orders
    ),
    obs AS (
        SELECT CAST(substring(CAST(cents AS VARCHAR), 1, 1) AS BIGINT)
                   AS digit,
               CAST(count(*) AS BIGINT) AS obs_count
        FROM amounts WHERE cents >= 1 GROUP BY 1
    ),
    grid AS (
        SELECT CAST(digit AS BIGINT) AS digit,
               CAST({_BENFORD_CASE_P.replace('digit', 'CAST(digit AS BIGINT)')}
                    AS DOUBLE) AS p
        FROM {_BENFORD_DIGITS_SQL}
    ),
    dense AS (
        SELECT grid.digit, grid.p,
               CAST(coalesce(obs.obs_count, 0) AS BIGINT) AS obs_count
        FROM grid LEFT JOIN obs ON obs.digit = grid.digit
    ),
    tot AS (SELECT CAST(sum(obs_count) AS BIGINT) AS n FROM dense),
    terms AS (
        SELECT {_benford_term_micro('dense.obs_count', 'tot.n', 'dense.p')}
                   AS term_micro,
               {_benford_mad_term_micro('dense.obs_count', 'tot.n',
                                        'dense.p')} AS mterm_micro,
               tot.n
        FROM dense CROSS JOIN tot
        WHERE tot.n > 0
    ),
    s AS (
        SELECT max(n) AS n,
               CAST(sum(term_micro) AS BIGINT) AS chi2_micro,
               CAST((CAST(sum(mterm_micro) AS BIGINT) + 4) // 9 AS BIGINT)
                   AS mad_micro
        FROM terms
    )
    SELECT n AS n_orders,
           round(chi2_micro / 1000000e0, 6) AS chi2,
           round({_BENFORD_CRIT_MICRO} / 1000000e0, 6) AS chi2_crit_95,
           CAST(CASE WHEN chi2_micro > {_BENFORD_CRIT_MICRO}
                     THEN 1 ELSE 0 END AS BIGINT) AS deviates_95,
           round(mad_micro / 1000000e0, 6) AS nigrini_mad,
           {_BENFORD_MAD_BAND_SQL} AS mad_conformity
    FROM s
"""


@register("dq_benford_chi2_gate", _BENFORD_GATE_ORACLE)
def dq_benford_chi2_gate(spark, sf_dir):
    """One-row Benford DECISION gate over order totals: count-scale
    chi-square vs the df=8 95 % critical value plus Nigrini MAD with
    his conformity bands — the verdict layer on the round-8
    descriptive audit (see the section comment; densified grid, no
    libm, integer half-up MAD mean so both engines round the /9
    identically).

    Scale: one map-side-combined digit aggregate over the scan (9
    groups), a broadcast 9-row grid, scalar report arithmetic — no
    window, no second scan."""
    amounts = load_table(spark, sf_dir, "orders").select(
        F.expr("CAST(floor(o_totalprice * 100e0 + 0.5e0) AS BIGINT)").alias(
            "cents"
        )
    )
    obs = (
        amounts.where(F.col("cents") >= 1)
        .select(
            F.expr(
                "CAST(substring(CAST(cents AS STRING), 1, 1) AS BIGINT)"
            ).alias("digit")
        )
        .groupBy("digit")
        .agg(F.count("*").cast("bigint").alias("obs_count"))
    )
    grid = local_frame(
        spark,
        [(d, p) for d, p in _BENFORD_P.items()], "digit bigint, p double"
    )
    dense = grid.join(obs, "digit", "left").select(
        "digit",
        "p",
        F.coalesce(F.col("obs_count"), F.lit(0)).cast("bigint").alias(
            "obs_count"
        ),
    )
    tot = dense.agg(F.sum("obs_count").cast("bigint").alias("n"))
    # ADVICE r14: mirror the streaming twin's n > 0 filter so an empty
    # corpus (every expected count n·p = 0) never reaches the division
    # — both engines then aggregate zero term rows into one NULL row
    # instead of diverging on Inf/NaN-to-BIGINT casts.
    terms = dense.crossJoin(F.broadcast(tot)).where(F.col("n") > 0).select(
        "n",
        F.expr(_benford_term_micro("obs_count", "n", "p")).alias(
            "term_micro"
        ),
        F.expr(_benford_mad_term_micro("obs_count", "n", "p")).alias(
            "mterm_micro"
        ),
    )
    s = terms.agg(
        F.max("n").alias("n"),
        F.sum("term_micro").cast("bigint").alias("chi2_micro"),
        F.expr(
            "CAST((CAST(sum(mterm_micro) AS BIGINT) + 4) DIV 9 AS BIGINT)"
        ).alias("mad_micro"),
    )
    return s.select(
        F.col("n").alias("n_orders"),
        F.round(F.col("chi2_micro") / F.expr("1000000e0"), 6).alias("chi2"),
        F.expr(
            f"round({_BENFORD_CRIT_MICRO} / 1000000e0, 6)"
        ).alias("chi2_crit_95"),
        F.expr(
            f"CAST(CASE WHEN chi2_micro > {_BENFORD_CRIT_MICRO}"
            " THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("deviates_95"),
        F.round(F.col("mad_micro") / F.expr("1000000e0"), 6).alias(
            "nigrini_mad"
        ),
        F.expr(_BENFORD_MAD_BAND_SQL).alias("mad_conformity"),
    )


# --- streaming Benford gate (round 14) -------------------------------------------
#
# The dq_benford_chi2_gate statistic run CONTINUOUSLY on the event
# stream's value column, per event type — the transaction-amount
# drift monitor a fraud desk keeps open. The stream folds the
# per-type (day, leading-digit) count cube in state
# (streaming/jobs.streaming_benford_cube — the SAME fold and
# state schema as the PSI tier, bucket = leading digit of the value
# cents, state bounded by calendar × 10 groups, the smallest cube of
# any tier); this query keeps each key's max-seq cube emission and
# computes the count-scale χ² + Nigrini MAD gate from it with the
# SAME _benford_term_micro/_benford_mad_term_micro fragments and
# critical-value/band literals as the batch gate — so the streaming
# loop contains zero Python float arithmetic and the full batch
# oracle applies. Sub-cent / NULL values are the fold's NULL-bucket
# group, reported as excluded mass on both sides.

_STREAM_BENFORD_ORACLE = f"""
    WITH base AS (
        SELECT event_type,
               CAST(floor(value * 100e0 + 0.5e0) AS BIGINT) AS cents
        FROM events
    ),
    obs AS (
        SELECT event_type,
               CAST(substring(CAST(cents AS VARCHAR), 1, 1) AS BIGINT)
                   AS digit,
               CAST(count(*) AS BIGINT) AS obs_count
        FROM base WHERE cents IS NOT NULL AND cents >= 1 GROUP BY 1, 2
    ),
    excl AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_excluded
        FROM base WHERE cents IS NULL OR cents < 1 GROUP BY 1
    ),
    types AS (SELECT DISTINCT event_type FROM events),
    grid AS (
        SELECT types.event_type, CAST(dg.digit AS BIGINT) AS digit,
               CAST({_BENFORD_CASE_P.replace('digit',
                                             'CAST(dg.digit AS BIGINT)')}
                    AS DOUBLE) AS p
        FROM types CROSS JOIN {_BENFORD_DIGITS_SQL.replace('t(digit)',
                                                           'dg(digit)')}
    ),
    dense AS (
        SELECT grid.event_type, grid.digit, grid.p,
               CAST(coalesce(obs.obs_count, 0) AS BIGINT) AS obs_count
        FROM grid LEFT JOIN obs
          ON obs.event_type = grid.event_type AND obs.digit = grid.digit
    ),
    tot AS (
        SELECT event_type, CAST(sum(obs_count) AS BIGINT) AS n
        FROM dense GROUP BY 1
    ),
    terms AS (
        SELECT dense.event_type, tot.n,
               {_benford_term_micro('dense.obs_count', 'tot.n', 'dense.p')}
                   AS term_micro,
               {_benford_mad_term_micro('dense.obs_count', 'tot.n',
                                        'dense.p')} AS mterm_micro
        FROM dense JOIN tot USING (event_type)
        WHERE tot.n > 0
    ),
    s AS (
        SELECT event_type, max(n) AS n,
               CAST(sum(term_micro) AS BIGINT) AS chi2_micro,
               CAST((CAST(sum(mterm_micro) AS BIGINT) + 4) // 9 AS BIGINT)
                   AS mad_micro
        FROM terms GROUP BY 1
    )
    SELECT s.event_type,
           s.n AS n_values,
           CAST(coalesce(excl.n_excluded, 0) AS BIGINT) AS n_excluded,
           round(s.chi2_micro / 1000000e0, 6) AS chi2,
           CAST(CASE WHEN s.chi2_micro > {_BENFORD_CRIT_MICRO}
                     THEN 1 ELSE 0 END AS BIGINT) AS deviates_95,
           round(s.mad_micro / 1000000e0, 6) AS nigrini_mad,
           {_BENFORD_MAD_BAND_SQL} AS mad_conformity
    FROM s LEFT JOIN excl USING (event_type)
    ORDER BY s.event_type
"""


@register("streaming_benford_gate", _STREAM_BENFORD_ORACLE)
def q_streaming_benford_gate(spark, sf_dir):
    """Structured Streaming: the per-type Benford χ²/MAD gate off the
    streamed leading-digit cube's final state (see the section
    comment; availableNow over the bounded file source is
    deterministic and equals the batch statistic, so the query
    carries the full batch oracle).

    Scale: the stream's state per type is calendar × 10 groups; the
    sink relation is |types| × updates × that cube — metadata-scale;
    the gate arithmetic runs on the ≤ 9-row-per-type densified grid
    with a broadcast digit table."""
    from .streaming.jobs import latest_cube, streaming_benford_cube

    # multi-branch grid/excl joins: checkpointed (see latest_cube)
    final = latest_cube(streaming_benford_cube(spark, sf_dir), checkpoint=True)
    digits = (
        final.where(F.col("bucket").isNotNull())
        .groupBy("event_type", F.col("bucket").alias("digit"))
        .agg(F.sum("c").cast("bigint").alias("obs_count"))
    )
    excl = (
        final.where(F.col("bucket").isNull())
        .groupBy("event_type")
        .agg(F.sum("c").cast("bigint").alias("n_excluded"))
    )
    grid_digits = local_frame(
        spark,
        [(d, p) for d, p in _BENFORD_P.items()], "digit bigint, p double"
    )
    grid = final.select("event_type").distinct().crossJoin(
        F.broadcast(grid_digits)
    )
    dense = grid.join(digits, ["event_type", "digit"], "left").select(
        "event_type",
        "digit",
        "p",
        F.coalesce(F.col("obs_count"), F.lit(0)).cast("bigint").alias(
            "obs_count"
        ),
    )
    tot = dense.groupBy("event_type").agg(
        F.sum("obs_count").cast("bigint").alias("n")
    )
    terms = dense.join(tot, "event_type").where(F.col("n") > 0).select(
        "event_type",
        "n",
        F.expr(_benford_term_micro("obs_count", "n", "p")).alias(
            "term_micro"
        ),
        F.expr(_benford_mad_term_micro("obs_count", "n", "p")).alias(
            "mterm_micro"
        ),
    )
    s = terms.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.sum("term_micro").cast("bigint").alias("chi2_micro"),
        F.expr(
            "CAST((CAST(sum(mterm_micro) AS BIGINT) + 4) DIV 9 AS BIGINT)"
        ).alias("mad_micro"),
    )
    return (
        s.join(excl, "event_type", "left")
        .select(
            "event_type",
            F.col("n").alias("n_values"),
            F.coalesce(F.col("n_excluded"), F.lit(0))
            .cast("bigint")
            .alias("n_excluded"),
            F.round(F.col("chi2_micro") / F.expr("1000000e0"), 6).alias(
                "chi2"
            ),
            F.expr(
                f"CAST(CASE WHEN chi2_micro > {_BENFORD_CRIT_MICRO}"
                " THEN 1 ELSE 0 END AS BIGINT)"
            ).alias("deviates_95"),
            F.round(F.col("mad_micro") / F.expr("1000000e0"), 6).alias(
                "nigrini_mad"
            ),
            F.expr(_BENFORD_MAD_BAND_SQL).alias("mad_conformity"),
        )
        .orderBy("event_type")
    )
