"""Count-min sketch as a composition of DataFrame ops ([ext] — the
'novel sketch' slot next to the built-in HLL/quantile sketches).

The sketch is fully deterministic (md5-hex chunk hashes), so unlike
HLL it is oracle-checkable exactly: the DuckDB oracle builds the same
d×w counter table and produces identical estimates.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .operators import text as X
from .functions.scalar import micro6_sql
from .registry import register
from .session import local_frame
from .sources.catalog import load_table

_CMS_DEPTH = 3  # hash rows (salts)
_CMS_WIDTH = 64  # buckets per row
_CMS_SALTS = ("p", "q", "r")
_PROBE_TOKENS = ("data", "table", "stream", "quantum")  # last one absent

# bucket_j(token) = md5(salt_j:token) first 8 hex chars mod width —
# mod is done on the integer value of the chunk; DuckDB parses the hex
# via a 16-power polyfill to avoid from_hex/blob asymmetries.
_HEX_TO_INT_SQL = (
    "(" + " + ".join(
        f"CAST(strpos('0123456789abcdef', substr({{h}}, {i + 1}, 1)) - 1 AS BIGINT)"
        f" * {16 ** (7 - i)}"
        for i in range(8)
    ) + ")"
)


def _bucket_sql(salt: str) -> str:
    h = f"substr(md5('{salt}:' || token), 1, 8)"
    return f"({_HEX_TO_INT_SQL.format(h=h)} % {_CMS_WIDTH})"


_CMS_ORACLE = f"""
    WITH toks AS (
        SELECT unnest({X.tokens_sql()}) AS token FROM documents
    ),
    truth AS (
        SELECT token, CAST(count(*) AS BIGINT) AS true_count
        FROM toks GROUP BY token
    ),
    {", ".join(
        f'''cms{i} AS (
        SELECT {_bucket_sql(salt)} AS bucket, CAST(count(*) AS BIGINT) AS c
        FROM toks GROUP BY 1
    )''' for i, salt in enumerate(_CMS_SALTS)
    )},
    probes AS (
        SELECT unnest(['{"','".join(_PROBE_TOKENS)}']) AS token
    )
    SELECT p.token,
           coalesce(t.true_count, 0) AS true_count,
           least({", ".join(
               f"coalesce((SELECT c FROM cms{i} WHERE bucket = "
               + _bucket_sql(salt).replace("token", "p.token")
               + "), 0)"
               for i, salt in enumerate(_CMS_SALTS)
           )}) AS cms_estimate
    FROM probes p LEFT JOIN truth t ON t.token = p.token
"""


def _bucket_col(salt: str):
    chunk = F.substring(
        F.md5(F.concat(F.lit(f"{salt}:"), F.col("token")).cast("binary")), 1, 8
    )
    return F.conv(chunk, 16, 10).cast("bigint") % _CMS_WIDTH


@register("sketch_count_min_tokens", _CMS_ORACLE)
def sketch_count_min_tokens(spark, sf_dir):
    """Count-min sketch over the corpus token stream: d=3 salted-hash
    rows × w=64 buckets, built with three tiny groupBys (the whole
    sketch is d×w counters — constant memory however large the
    stream). Frequency estimate for a probe token = min over rows of
    its bucket's count; guaranteed ≥ the true count. Output: probe
    tokens with true counts and sketch estimates — identical in the
    oracle because the hashes are md5-derived."""
    toks = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(X.tokens()).alias("token"))
    )
    probes = local_frame(
        spark,
        [(t,) for t in _PROBE_TOKENS], "token string"
    )
    truth = toks.groupBy("token").agg(F.count("*").alias("true_count"))
    est = None
    for i, salt in enumerate(_CMS_SALTS):
        cms = (
            toks.select(_bucket_col(salt).alias("bucket"))
            .groupBy("bucket")
            .agg(F.count("*").alias(f"c{i}"))
        )
        probe_bucketed = probes.select(
            "token", _bucket_col(salt).alias("bucket")
        )
        joined = probe_bucketed.join(F.broadcast(cms), "bucket", "left").select(
            "token", F.coalesce(f"c{i}", F.lit(0)).alias(f"c{i}")
        )
        est = joined if est is None else est.join(joined, "token")
    result = est.select(
        "token",
        F.least(*[F.col(f"c{i}") for i in range(_CMS_DEPTH)]).alias(
            "cms_estimate"
        ),
    )
    return (
        probes.join(F.broadcast(truth), "token", "left")
        .join(result, "token")
        .select(
            "token",
            F.coalesce("true_count", F.lit(0)).alias("true_count"),
            "cms_estimate",
        )
    )


# --- Misra-Gries heavy hitters (round 2) ------------------------------------
#
# Distributed frequent-items sketch: each partition keeps at most
# _MG_K counters (Misra-Gries); the per-partition summaries union into
# a candidate set. Pigeonhole guarantee: any token with global count
# > total/_MG_K exceeds n_p/_MG_K in at least one partition, so it
# SURVIVES its partition's sketch and appears among the candidates —
# regardless of how rows are partitioned. The query therefore emits,
# for every EXACT heavy hitter (computable in plain SQL), whether the
# sketch captured it; the oracle asserts TRUE for each. A missed
# hitter becomes a value mismatch — the containment theorem is the
# contract under test, while the sketch itself stays a compact
# O(k)-memory-per-partition streaming structure.

_MG_K = 40

_MG_ORACLE = f"""
    WITH w AS (
        SELECT unnest({X.tokens_sql()}) AS tok
        FROM documents
    ),
    counts AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM w GROUP BY tok),
    tot AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM w)
    SELECT tok, cnt, TRUE AS captured
    FROM counts CROSS JOIN tot
    WHERE cnt > n / {_MG_K}
"""


@register("sketch_misra_gries_heavy_hitters", _MG_ORACLE)
def sketch_misra_gries_heavy_hitters(spark, sf_dir):
    """See module comment: per-partition Misra-Gries (k=40 counters,
    Arrow-batched with state carried across batches of a partition),
    candidates = union of surviving tokens, output = every exact heavy
    hitter with its capture flag."""
    import pandas as pd

    toks = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(X.tokens()).alias("tok"))
    )

    def mg_partition(batches):
        counters: dict[str, int] = {}
        for pdf in batches:
            for tok in pdf["tok"]:
                if tok in counters:
                    counters[tok] += 1
                elif len(counters) < _MG_K:
                    counters[tok] = 1
                else:  # decrement-all step
                    for key in list(counters):
                        counters[key] -= 1
                        if counters[key] == 0:
                            del counters[key]
        yield pd.DataFrame(
            {"tok": list(counters), "est": list(counters.values())}
        )

    summaries = toks.mapInPandas(mg_partition, schema="tok string, est long")
    candidates = summaries.select("tok").distinct()

    counts = toks.groupBy("tok").agg(F.count("*").alias("cnt"))
    total = toks.agg(F.count("*").cast("double").alias("n"))
    exact_hh = counts.crossJoin(F.broadcast(total)).filter(
        F.col("cnt") > F.col("n") / _MG_K
    )
    return (
        exact_hh.join(
            candidates.select("tok", F.lit(True).alias("captured")), "tok", "left"
        )
        .select("tok", "cnt", F.coalesce("captured", F.lit(False)).alias("captured"))
    )


# --- HLL sketch union (round 2) ---------------------------------------------

_HLL_REL_ERR = 0.05  # envelope: DataSketches HLL at default lgK is ~1.6%

_HLL_ORACLE = f"""
    WITH per_status AS (
        SELECT o_orderstatus,
               CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_distinct
        FROM orders GROUP BY o_orderstatus
    ),
    overall AS (
        SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_total
        FROM orders
    )
    SELECT p.o_orderstatus, p.exact_distinct, o.exact_total,
           TRUE AS group_within_envelope,
           TRUE AS union_within_envelope
    FROM per_status p CROSS JOIN overall o
"""


@register("sketch_hll_union", _HLL_ORACLE)
def sketch_hll_union(spark, sf_dir):
    """Mergeable distinct-count sketches (DataSketches HLL via
    hll_sketch_agg): one sketch per order status, then hll_union_agg
    merges them into the overall estimate WITHOUT rescanning — the
    pre-aggregated-rollup pattern for distinct counts, which plain
    count(DISTINCT) cannot do. Both the per-group and the post-union
    estimates must land within a ±5 % envelope of the exact counts
    (booleans checked by the oracle, per the sketch-comparison
    convention in registry.py)."""
    from .sources.catalog import load_table

    orders = load_table(spark, sf_dir, "orders")
    sketches = orders.groupBy("o_orderstatus").agg(
        F.hll_sketch_agg("o_custkey").alias("sk"),
        F.countDistinct("o_custkey").alias("exact_distinct"),
    )
    unioned = sketches.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("union_est")
    )
    exact_total = orders.agg(
        F.countDistinct("o_custkey").alias("exact_total")
    )
    env = lambda est, exact: (  # noqa: E731
        F.abs(est.cast("double") - exact.cast("double"))
        <= _HLL_REL_ERR * exact.cast("double")
    )
    return (
        sketches.select(
            "o_orderstatus",
            "exact_distinct",
            F.hll_sketch_estimate("sk").alias("g_est"),
        )
        .crossJoin(F.broadcast(unioned))
        .crossJoin(F.broadcast(exact_total))
        .select(
            "o_orderstatus",
            "exact_distinct",
            "exact_total",
            env(F.col("g_est"), F.col("exact_distinct")).alias(
                "group_within_envelope"
            ),
            env(F.col("union_est"), F.col("exact_total")).alias(
                "union_within_envelope"
            ),
        )
    )


# --- quantile sketch (approx_percentile) -----------------------------------
#
# The quantile member of the mergeable-sketch family (count-min = point
# frequency, Misra-Gries = heavy hitters, HLL = distinct, this =
# distribution). Spark's approx_percentile is a Greenwald-Khanna-style
# mergeable summary with a RANK-error guarantee: the returned element's
# rank r satisfies |r/n - q| <= eps with eps ~ 1/accuracy. The check
# converts that guarantee into booleans the oracle can assert: the
# fraction of rows <= / < the approx value must straddle [q-eps, q+eps].
# Exact reference quantiles are emitted with linear interpolation at
# position q*(n-1) — the same published definition in Spark
# `percentile` and DuckDB `quantile_cont` — rounded 2 dp (the input's
# decimal grid).

_QS_QUANTILES = (0.25, 0.5, 0.75, 0.95)
_QS_ACCURACY = 1000
_QS_EPS = 2.0 / _QS_ACCURACY  # guarantee headroom (GK merge slack)

_QS_ORACLE = f"""
    WITH e AS (
        SELECT quantile_cont(l_extendedprice,
                   [{", ".join(str(q) for q in _QS_QUANTILES)}]) AS v
        FROM lineitem
    )
    SELECT CAST([{", ".join(str(q) for q in _QS_QUANTILES)}][i] AS DOUBLE)
               AS q,
           round(v[i], 2) AS exact_value,
           TRUE AS within_rank_envelope
    FROM e, (SELECT unnest(generate_series(1, {len(_QS_QUANTILES)})) AS i)
    ORDER BY q
"""


@register("sketch_quantile_envelope", _QS_ORACLE)
def sketch_quantile_envelope(spark, sf_dir):
    """approx_percentile (mergeable quantile summary) over
    l_extendedprice at 4 probe quantiles, validated against its own
    rank guarantee: for each q the approx element's rank fraction must
    lie in [q-eps, q+eps]. The oracle recomputes the exact
    interpolated quantiles and asserts the envelope booleans — the
    sketch-comparison convention (never compare approx values raw).
    One pass builds all 4 estimates; the rank check is 4 conditional
    counts in a second single-row aggregate — O(rows) scan both times,
    O(accuracy) driver state.

    r17 (guide §1.2/§5): the exact reference quantiles no longer run
    through Spark's `percentile` aggregate — a TypedImperativeAggregate
    that buffers a value→count map per task and merge-sorts it on one
    reducer, 2.4 s of the query's 3.9 s at sf0.1. l_extendedprice
    lives on the 2-dp money grid, so the exact interpolated quantile
    needs only the order statistics at ranks ⌊q·(n−1)⌋+1 and
    ⌈q·(n−1)⌉+1 over exact cents — the shared two-pass bucket-rank
    kernel (_bucket_order_stats, the QTE/equidepth machinery) places
    those 8 ranks with a ≤4096-row metadata collect and one
    boundary-bucket window pass. The interpolation is Spark's own
    Percentile formula ((higher−pos)·lo + (pos−lower)·hi, one IEEE
    expression) applied to the recovered doubles (cents/100.0 — one
    correctly-rounded division back onto the stored grid);
    tests/test_r17.py asserts the recomputed doubles equal
    F.expr('percentile(...)') bit-for-bit before rounding."""
    from .operators.rank_prefix import _bucket_order_stats
    from .sources.catalog import load_table

    li = load_table(spark, sf_dir, "lineitem").select("l_extendedprice")
    apx = li.agg(
        F.percentile_approx(
            "l_extendedprice",
            F.array(*[F.lit(q) for q in _QS_QUANTILES]),
            F.lit(_QS_ACCURACY),
        ).alias("apx"),
    )
    # exact order stats at the interpolation ranks, via the two-pass
    # kernel over exact cents (one scan + metadata collect + one
    # boundary-bucket pass). The checkpoint shares the scan between
    # the kernel's two passes.
    g = li.select(
        F.lit("all").alias("grp"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("bigint").alias("m"),
        F.monotonically_increasing_id().alias("user_id"),
    ).localCheckpoint(eager=True)

    def _ranks(n_by):
        if not n_by:
            return {}
        n = n_by["all"]
        wanted = {}
        for q in _QS_QUANTILES:
            pos = q * (n - 1)
            lo = int(pos)
            hi = lo if pos == lo else lo + 1
            wanted[f"r{lo}"] = lo + 1
            wanted[f"r{hi}"] = hi + 1
        return {"all": sorted(wanted.items(), key=lambda t: t[1])}

    os_, n_by = _bucket_order_stats(spark, g, _ranks)
    if not n_by:
        # empty lineitem: no exact quantiles (quantile_cont is NULL),
        # and the rank guarantee holds vacuously
        return local_frame(
            spark,
            [(q, None, True) for q in _QS_QUANTILES],
            "q double, exact_value double, within_rank_envelope boolean",
        )
    n = n_by["all"]
    cents = {row["tag"]: int(row["m"]) for row in os_.collect()}
    exact_vals = []
    for q in _QS_QUANTILES:
        pos = q * (n - 1)
        lo = int(pos)
        hi = lo if pos == lo else lo + 1
        v_lo = cents[f"r{lo}"] / 100.0
        v_hi = cents[f"r{hi}"] / 100.0
        if hi == lo:
            exact_vals.append(v_lo)
        else:
            # Spark Percentile.getPercentile's exact IEEE expression
            exact_vals.append((hi - pos) * v_lo + (pos - lo) * v_hi)

    counts = li.crossJoin(F.broadcast(apx)).agg(
        F.count("*").alias("n"),
        *[
            F.sum(
                F.when(
                    F.col("l_extendedprice") <= F.col("apx")[i], 1
                ).otherwise(0)
            ).alias(f"le{i}")
            for i in range(len(_QS_QUANTILES))
        ],
        *[
            F.sum(
                F.when(
                    F.col("l_extendedprice") < F.col("apx")[i], 1
                ).otherwise(0)
            ).alias(f"lt{i}")
            for i in range(len(_QS_QUANTILES))
        ],
    )
    checks = counts.select(
        *[
            (F.col(f"le{i}") / F.col("n")).alias(f"le_frac{i}")
            for i in range(len(_QS_QUANTILES))
        ],
        *[
            (F.col(f"lt{i}") / F.col("n")).alias(f"lt_frac{i}")
            for i in range(len(_QS_QUANTILES))
        ],
    )
    rows = [
        F.struct(
            F.lit(q).alias("q"),
            F.round(F.lit(exact_vals[i]), 2).alias("exact_value"),
            (
                (F.col(f"le_frac{i}") >= F.lit(q - _QS_EPS))
                & (F.col(f"lt_frac{i}") <= F.lit(q + _QS_EPS))
            ).alias("within_rank_envelope"),
        )
        for i, q in enumerate(_QS_QUANTILES)
    ]
    return (
        checks.select(F.explode(F.array(*rows)).alias("r"))
        .select("r.q", "r.exact_value", "r.within_rank_envelope")
        .orderBy("q")
    )


# --- HLL time-tier rollup (round 4) ----------------------------------------

_HLL_TIER_ORACLE = f"""
    WITH d AS (
        SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
               CAST(count(DISTINCT user_id) AS BIGINT) AS exact_daily,
               CAST(count(DISTINCT date_trunc('hour', ts)) AS BIGINT)
                   AS n_hours
        FROM events GROUP BY day
    )
    SELECT day, exact_daily, n_hours, TRUE AS day_within_envelope
    FROM d
"""


@register("events_hll_hourly_rollup", _HLL_TIER_ORACLE)
def events_hll_hourly_rollup(spark, sf_dir):
    """Sketch re-aggregation across time tiers: one HLL sketch of
    distinct users PER HOUR, then each day's estimate produced by
    hll_union_agg over its 24 hourly sketches — the hypertable rollup
    pattern for distinct counts, where coarser tiers merge finer
    sketches WITHOUT rescanning raw rows (count(DISTINCT) cannot
    re-aggregate). Daily estimates must land within the ±5 % envelope
    of the exact daily distincts; at 100 TB only the hourly sketch
    build ever touches the events, and every coarser tier
    (day/week/month) is a sketch merge."""
    from .sources.catalog import load_table

    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.hll_sketch_agg("user_id").alias("sk"))
    daily = hourly.groupBy(
        F.date_format(F.date_trunc("day", F.col("hour")), "yyyy-MM-dd").alias(
            "day"
        )
    ).agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("day_est"),
        F.count("*").cast("bigint").alias("n_hours"),
    )
    exact = ev.groupBy(
        F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias(
            "day"
        )
    ).agg(F.countDistinct("user_id").alias("exact_daily"))
    return daily.join(exact, "day").select(
        "day",
        "exact_daily",
        "n_hours",
        (
            F.abs(F.col("day_est").cast("double") - F.col("exact_daily"))
            <= _HLL_REL_ERR * F.col("exact_daily")
        ).alias("day_within_envelope"),
    )


# --- theta sketch set algebra (round 4) ------------------------------------

_THETA_ORACLE = """
    WITH c AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
    p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
    m AS (
        SELECT
            (SELECT count(*) FROM c) AS n_click,
            (SELECT count(*) FROM p) AS n_purchase,
            (SELECT count(*) FROM (SELECT * FROM c INTERSECT SELECT * FROM p))
                AS n_both,
            (SELECT count(*) FROM (SELECT * FROM c EXCEPT SELECT * FROM p))
                AS n_click_only
    )
    SELECT CAST(n_click AS BIGINT) AS n_click,
           CAST(n_purchase AS BIGINT) AS n_purchase,
           CAST(n_both AS BIGINT) AS n_both,
           CAST(n_click_only AS BIGINT) AS n_click_only,
           TRUE AS intersect_within_envelope,
           TRUE AS difference_within_envelope
    FROM m
"""

_THETA_REL_ERR = 0.05


@register("sketch_theta_set_ops", _THETA_ORACLE)
def sketch_theta_set_ops(spark, sf_dir):
    """Theta sketches (Spark 4.1): SET ALGEBRA on distinct-count
    sketches — |clickers ∩ purchasers| and |clickers \\ purchasers|
    estimated from two per-segment sketches, no join over raw rows.
    The audience-overlap op a warehouse cannot express with HLL
    (union-only) — theta supports intersection/difference natively.
    At 100 TB the per-segment sketches are built in one scan and every
    pairwise overlap after that is sketch math. Estimates must land
    within ±5 % of the exact set operations (oracle booleans)."""
    from .sources.catalog import load_table

    ev = load_table(spark, sf_dir, "events")
    sk = ev.filter(F.col("event_type").isin("click", "purchase")).groupBy(
        "event_type"
    ).agg(F.theta_sketch_agg("user_id").alias("sk"))
    # ignorenulls=True: each F.first must skip the rows where the WHEN
    # yields NULL (the OTHER segment's row) — with the default
    # ignorenulls=False whichever row the engine aggregated first left
    # the other sketch NULL, partition-order dependent (ADVICE r4 high).
    # No coalesce around the sketch math: a NULL estimate from two
    # present sketches is a real bug and must fail the envelope loudly;
    # the only legitimate NULL sources — a segment absent from the data
    # entirely — are handled by the explicit isNull branches below.
    row = sk.agg(
        F.theta_intersection_agg("sk").alias("inter_sk"),
        F.count("*").alias("n_segments"),
        F.first(
            F.when(F.col("event_type") == "click", F.col("sk")),
            ignorenulls=True,
        ).alias("click_sk"),
        F.first(
            F.when(F.col("event_type") == "purchase", F.col("sk")),
            ignorenulls=True,
        ).alias("purchase_sk"),
    ).select(
        # intersecting a single sketch returns that sketch, not the
        # empty set — guard on both segments being present (ADVICE r4)
        F.when(
            F.col("n_segments") >= 2,
            F.theta_sketch_estimate("inter_sk"),
        )
        .otherwise(F.lit(0.0))
        .alias("both_est"),
        F.theta_sketch_estimate("click_sk").alias("click_est"),
        F.theta_sketch_estimate("purchase_sk").alias("purchase_est"),
        F.when(F.col("click_sk").isNull(), F.lit(0.0))
        .when(
            F.col("purchase_sk").isNull(),
            F.theta_sketch_estimate("click_sk"),
        )
        .otherwise(
            F.theta_sketch_estimate(
                F.theta_difference("click_sk", "purchase_sk")
            )
        )
        .alias("click_only_est"),
    )
    exact = ev.agg(
        F.countDistinct(
            F.when(F.col("event_type") == "click", F.col("user_id"))
        ).alias("n_click"),
        F.countDistinct(
            F.when(F.col("event_type") == "purchase", F.col("user_id"))
        ).alias("n_purchase"),
    )
    both_exact = (
        ev.filter(F.col("event_type") == "click")
        .select("user_id")
        .intersect(
            ev.filter(F.col("event_type") == "purchase").select("user_id")
        )
        .agg(F.count("*").cast("bigint").alias("n_both"))
    )
    env = lambda est, exact_c: (  # noqa: E731
        F.abs(est.cast("double") - exact_c.cast("double"))
        <= _THETA_REL_ERR * F.greatest(exact_c.cast("double"), F.lit(1.0))
    )
    return (
        row.crossJoin(F.broadcast(exact))
        .crossJoin(F.broadcast(both_exact))
        .select(
            "n_click",
            "n_purchase",
            "n_both",
            (F.col("n_click") - F.col("n_both")).cast("bigint").alias(
                "n_click_only"
            ),
            env(F.col("both_est"), F.col("n_both")).alias(
                "intersect_within_envelope"
            ),
            env(
                F.col("click_only_est"), F.col("n_click") - F.col("n_both")
            ).alias("difference_within_envelope"),
        )
    )


# --- KLL quantile sketch tier rollup (round 4) -----------------------------

_KLL_EPS = 0.05  # KLL default k: ~1.65 % rank error at 99 % conf; 3× slack

_KLL_ORACLE = f"""
    WITH n AS (SELECT count(*) AS n FROM events),
    q AS (
        SELECT unnest(['p25','p50','p75','p90']) AS qlabel,
               unnest([0.25, 0.50, 0.75, 0.90]) AS qf
    )
    SELECT q.qlabel,
           CAST(n.n AS BIGINT) AS n_rows,
           TRUE AS rank_within_envelope
    FROM q CROSS JOIN n
    ORDER BY q.qlabel
"""


@register("sketch_kll_quantile_rollup", _KLL_ORACLE)
def sketch_kll_quantile_rollup(spark, sf_dir):
    """KLL quantile sketches (Spark 4.1): one sketch of ``value`` PER
    HOUR of events, merged by kll_merge_agg into the overall
    distribution — quantiles over any time range from pre-built tier
    sketches, no raw rescan (the quantile twin of the HLL tier
    rollup). The check converts KLL's rank-error guarantee into
    booleans: the exact fraction of rows <= the estimated quantile
    must sit within ±0.05 of the requested rank (wide envelope —
    KLL compaction is randomized, so values are not asserted, ranks
    are)."""
    from .sources.catalog import load_table

    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.kll_sketch_agg_double("value").alias("sk"))
    merged = hourly.agg(F.kll_merge_agg_double("sk").alias("sk"))
    qs = [("p25", 0.25), ("p50", 0.50), ("p75", 0.75), ("p90", 0.90)]
    est = merged.select(
        *[
            F.kll_sketch_get_quantile_double(F.col("sk"), F.lit(qf)).alias(ql)
            for ql, qf in qs
        ]
    )
    total = ev.agg(F.count("*").cast("bigint").alias("n_rows"))
    wide = est.crossJoin(F.broadcast(total))
    rows = None
    for ql, qf in qs:
        frac = (
            F.sum(
                F.when(F.col("value") <= F.col(ql), 1).otherwise(0)
            ).cast("double")
            / F.count("*")
        )
        one = (
            ev.crossJoin(F.broadcast(wide.select(ql, "n_rows")))
            .agg(
                F.first("n_rows").alias("n_rows"),
                frac.alias("frac"),
            )
            .select(
                F.lit(ql).alias("qlabel"),
                "n_rows",
                (
                    (F.col("frac") >= qf - _KLL_EPS)
                    & (F.col("frac") <= qf + _KLL_EPS)
                ).alias("rank_within_envelope"),
            )
        )
        rows = one if rows is None else rows.unionByName(one)
    return rows.orderBy("qlabel")


# --- bitmap exact-distinct tier rollup (round 5) ----------------------------

_BITMAP_ORACLE = """
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct_users,
           CAST(count(DISTINCT date_trunc('day', ts)) AS BIGINT) AS n_days
    FROM events GROUP BY event_type
"""


@register("sketch_bitmap_exact_distinct", _BITMAP_ORACLE, headline=True)
def sketch_bitmap_exact_distinct(spark, sf_dir):
    """EXACT distinct counting via Spark's bitmap aggregates (3.5+):
    per (event_type, day, bucket) bitmaps built in one scan
    (bitmap_bucket_number / bitmap_bit_position / bitmap_construct_agg),
    then the all-time per-type distinct produced by OR-merging the
    daily bitmaps (bitmap_or_agg) — count(DISTINCT) re-expressed as a
    mergeable aggregate. The EXACT twin of events_hll_hourly_rollup:
    same tier-rollup algebra, zero error, at the cost of bitmap state
    proportional to the true cardinality (HLL stays O(1) per sketch) —
    the standard trade for dashboard-grade exact distincts over
    pre-aggregated tiers. At 100 TB the daily (type, bucket) bitmaps
    are the materialized layer; any date-range distinct is a bitmap OR,
    never a raw rescan."""
    from .sources.catalog import load_table

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.date_trunc("day", F.col("ts")).alias("day"),
        F.bitmap_bucket_number(F.col("user_id")).alias("bucket"),
    ).agg(
        F.bitmap_construct_agg(F.bitmap_bit_position(F.col("user_id"))).alias(
            "bm"
        )
    )
    merged = daily.groupBy("event_type", "bucket").agg(
        F.bitmap_or_agg("bm").alias("bm"),
    )
    users = merged.groupBy("event_type").agg(
        F.sum(F.bitmap_count("bm")).cast("bigint").alias("n_distinct_users"),
    )
    # n_days aggregates at the event_type level over the daily tier —
    # a per-bucket distinct-day max would undercount as soon as
    # user_ids span more than one 32768-wide bitmap bucket (active
    # days need not repeat per bucket)
    days = daily.groupBy("event_type").agg(
        F.countDistinct("day").cast("bigint").alias("n_days")
    )
    return users.join(days, "event_type")


# --- Bloom-filter join prefilter (round 7) ----------------------------------

_BLOOM_NIBBLES = 3  # 16^3 = 4096 positions per hash table
_BLOOM_HASHES = 2  # k=2 salted hash tables
_BLOOM_MEMBER_MIN_PRICE = 470_000  # members: customers with a big order


def _bloom_pos_sql(i: int, key_expr: str) -> str:
    return (
        f"substr(md5('bloom{i}:' || CAST({key_expr} AS VARCHAR)), "
        f"1, {_BLOOM_NIBBLES})"
    )


def bloom_pos(i: int, key: F.Column) -> F.Column:
    """Spark twin of ``_bloom_pos_sql`` — ONE definition of the Bloom
    position derivation, shared by the query and the scale-growth
    harness probe so the audited filter state can never drift from the
    filter the query actually builds."""
    return F.substring(
        F.md5(
            F.concat(F.lit(f"bloom{i}:"), key.cast("string")).cast("binary")
        ),
        1,
        _BLOOM_NIBBLES,
    )


_BLOOM_ORACLE = f"""
    WITH members AS (
        SELECT DISTINCT o_custkey AS k FROM orders
        WHERE o_totalprice > {_BLOOM_MEMBER_MIN_PRICE}
    ),
    mpos AS (
        {" UNION ".join(f"SELECT DISTINCT {i} AS i, {_bloom_pos_sql(i, 'k')} AS pos FROM members" for i in range(_BLOOM_HASHES))}
    ),
    probe AS (
        {" UNION ALL ".join(f"SELECT c_custkey AS k, {i} AS i, {_bloom_pos_sql(i, 'c_custkey')} AS pos FROM customer" for i in range(_BLOOM_HASHES))}
    ),
    hits AS (
        SELECT p.k, CAST(count(*) AS BIGINT) AS n_hit
        FROM probe p JOIN mpos m ON m.i = p.i AND m.pos = p.pos
        GROUP BY p.k
    ),
    flags AS (
        SELECT c.c_custkey,
               coalesce(h.n_hit, 0) = {_BLOOM_HASHES} AS bloom_positive,
               c.c_custkey IN (SELECT k FROM members) AS is_member
        FROM customer c LEFT JOIN hits h ON h.k = c.c_custkey
    )
    SELECT CAST(count(*) AS BIGINT) AS n_probed,
           CAST(count(*) FILTER (WHERE is_member) AS BIGINT) AS n_members,
           CAST(count(*) FILTER (WHERE bloom_positive) AS BIGINT)
               AS n_bloom_positive,
           CAST(count(*) FILTER (WHERE bloom_positive AND NOT is_member)
                AS BIGINT) AS n_false_positive,
           CAST(count(*) FILTER (WHERE is_member AND NOT bloom_positive)
                AS BIGINT) AS n_false_negative
    FROM flags
"""


@register("sketch_bloom_prefilter", _BLOOM_ORACLE)
def sketch_bloom_prefilter(spark, sf_dir):
    """Deterministic Bloom-filter join prefilter: the distinct
    high-value-order customer keys populate a k=2, m=4096 Bloom filter
    (positions = leading md5 nibbles per salt); every customer row is
    then probed against it. Emits the one-row audit a pipeline uses to
    size the filter: probe count, true members, Bloom positives, false
    positives — and a false-negative column that MUST be zero (Bloom
    filters never miss members; a nonzero value means the build and
    probe hash formulas drifted).

    Scale: this is the runtime-filter pattern for big joins — the
    filter side reduces to at most k·m distinct (table, position) rows
    (metadata-scale regardless of member count), which broadcast to
    the probe side; probe rows that miss skip the shuffle join
    entirely. Spark's own AQE runtime bloom filters do this opaquely;
    here the same structure is explicit and engine-portable."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    members = (
        orders.where(F.col("o_totalprice") > _BLOOM_MEMBER_MIN_PRICE)
        .select(F.col("o_custkey").alias("k"))
        .distinct()
    )
    mpos = None
    for i in range(_BLOOM_HASHES):
        part = members.select(
            F.lit(i).alias("i"), bloom_pos(i, F.col("k")).alias("pos")
        ).distinct()
        mpos = part if mpos is None else mpos.unionAll(part)
    probe = None
    for i in range(_BLOOM_HASHES):
        part = customer.select(
            F.col("c_custkey").alias("k"),
            F.lit(i).alias("i"),
            bloom_pos(i, F.col("c_custkey")).alias("pos"),
        )
        probe = part if probe is None else probe.unionAll(part)
    hits = (
        probe.join(F.broadcast(mpos), ["i", "pos"])
        .groupBy("k")
        .agg(F.count("*").alias("n_hit"))
    )
    flags = (
        customer.select(F.col("c_custkey"))
        .join(hits, F.col("c_custkey") == F.col("k"), "left")
        .join(
            members.withColumnRenamed("k", "mk"),
            F.col("c_custkey") == F.col("mk"),
            "left",
        )
        .select(
            "c_custkey",
            (F.coalesce(F.col("n_hit"), F.lit(0)) == _BLOOM_HASHES).alias(
                "bloom_positive"
            ),
            F.col("mk").isNotNull().alias("is_member"),
        )
    )
    return flags.agg(
        F.count("*").cast("bigint").alias("n_probed"),
        F.count(F.when(F.col("is_member"), 1)).cast("bigint").alias("n_members"),
        F.count(F.when(F.col("bloom_positive"), 1))
        .cast("bigint")
        .alias("n_bloom_positive"),
        F.count(F.when(F.col("bloom_positive") & ~F.col("is_member"), 1))
        .cast("bigint")
        .alias("n_false_positive"),
        F.count(F.when(F.col("is_member") & ~F.col("bloom_positive"), 1))
        .cast("bigint")
        .alias("n_false_negative"),
    )


# --- HLL-based join-cardinality estimator (round 7, second batch) -----------
#
# Planner hygiene for 100 TB joins: before shuffling two big tables,
# estimate |A ⋈ B| from per-side row counts and HLL key-NDV sketches
# with the classic containment formula |A|·|B| / max(ndv_A, ndv_B).
# The sketches are one streaming pass per side (mergeable, map-side);
# the exact join count here is the audit that the estimate must cover.

_JOINCARD_REL_ERR = 0.10  # HLL NDV err ~1.6 % ⇒ 10 % envelope is generous


def _hll_ndv(col):
    return F.hll_sketch_estimate(F.hll_sketch_agg(col))


_JOINCARD_ORACLE = """
    WITH ol AS (
        SELECT 'orders-lineitem@orderkey' AS edge,
               (SELECT CAST(count(*) AS BIGINT) FROM orders) AS rows_a,
               (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS rows_b,
               (SELECT CAST(count(DISTINCT o_orderkey) AS BIGINT)
                FROM orders) AS ndv_a,
               (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT)
                FROM lineitem) AS ndv_b,
               (SELECT CAST(count(*) AS BIGINT)
                FROM orders o JOIN lineitem l
                  ON l.l_orderkey = o.o_orderkey) AS exact_join_rows
    ),
    co AS (
        SELECT 'customer-orders@custkey' AS edge,
               (SELECT CAST(count(*) AS BIGINT) FROM customer) AS rows_a,
               (SELECT CAST(count(*) AS BIGINT) FROM orders) AS rows_b,
               (SELECT CAST(count(DISTINCT c_custkey) AS BIGINT)
                FROM customer) AS ndv_a,
               (SELECT CAST(count(DISTINCT o_custkey) AS BIGINT)
                FROM orders) AS ndv_b,
               (SELECT CAST(count(*) AS BIGINT)
                FROM customer c JOIN orders o
                  ON o.o_custkey = c.c_custkey) AS exact_join_rows
    )
    SELECT edge, rows_a, rows_b, ndv_a, ndv_b, exact_join_rows,
           TRUE AS est_within_envelope
    FROM ol
    UNION ALL
    SELECT edge, rows_a, rows_b, ndv_a, ndv_b, exact_join_rows,
           TRUE AS est_within_envelope
    FROM co
"""


@register("sketch_join_cardinality", _JOINCARD_ORACLE)
def sketch_join_cardinality(spark, sf_dir):
    """Approximate join-cardinality audit over two FK edges of the
    star schema: per edge, the side row counts, exact key NDVs, the
    exact join cardinality, and a boolean asserting the HLL-based
    containment estimate |A|·|B|/max(ndv̂_A, ndv̂_B) lands within 10 %
    of the exact join size (the sketch-envelope oracle convention —
    HLL internals are not SQL-replicable, so the oracle checks the
    claim, not the sketch bytes).

    Scale: each NDV sketch is ONE pass over its side's key column
    with map-side-mergeable state (this is what a planner caches per
    partition/day and merges at plan time); the estimate itself is
    driver-scale arithmetic. The exact join count — the expensive
    audit — is the thing you run once to validate the estimator, then
    stop running; on FK edges the containment formula is tight, which
    is exactly why planners trust it there."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    customer = load_table(spark, sf_dir, "customer")

    def edge(name, a, ka, b, kb, exact_join):
        sa = a.agg(
            F.count("*").cast("bigint").alias("rows_a"),
            F.countDistinct(ka).cast("bigint").alias("ndv_a"),
            _hll_ndv(ka).alias("ndv_a_est"),
        )
        sb = b.agg(
            F.count("*").cast("bigint").alias("rows_b"),
            F.countDistinct(kb).cast("bigint").alias("ndv_b"),
            _hll_ndv(kb).alias("ndv_b_est"),
        )
        est = (
            F.col("rows_a").cast("double")
            * F.col("rows_b").cast("double")
            / F.greatest(
                F.col("ndv_a_est").cast("double"),
                F.col("ndv_b_est").cast("double"),
            )
        )
        return (
            sa.crossJoin(F.broadcast(sb))
            .crossJoin(F.broadcast(exact_join))
            .select(
                F.lit(name).alias("edge"),
                "rows_a",
                "rows_b",
                "ndv_a",
                "ndv_b",
                "exact_join_rows",
                (
                    F.abs(est - F.col("exact_join_rows").cast("double"))
                    <= _JOINCARD_REL_ERR
                    * F.col("exact_join_rows").cast("double")
                ).alias("est_within_envelope"),
            )
        )

    ol_exact = (
        orders.join(
            lineitem, lineitem["l_orderkey"] == orders["o_orderkey"]
        )
        .agg(F.count("*").cast("bigint").alias("exact_join_rows"))
    )
    co_exact = (
        customer.join(orders, orders["o_custkey"] == customer["c_custkey"])
        .agg(F.count("*").cast("bigint").alias("exact_join_rows"))
    )
    return edge(
        "orders-lineitem@orderkey",
        orders,
        "o_orderkey",
        lineitem,
        "l_orderkey",
        ol_exact,
    ).unionByName(
        edge(
            "customer-orders@custkey",
            customer,
            "c_custkey",
            orders,
            "o_custkey",
            co_exact,
        )
    )


# --- KMV bottom-k distinct sketch (round 7, second batch) -------------------
#
# The k-minimum-values sketch: keep the k smallest hash values of a
# key set; the k-th smallest, read as a fraction u of hash space,
# estimates the distinct count as (k-1)/u. Mergeable (bottom-k of a
# union = bottom-k of the per-part bottom-k's) and — because the hash
# is md5 — fully deterministic, so unlike HLL BOTH the sketch content
# and the estimate are oracle-checkable exactly, not just enveloped.

_KMV_K = 8  # small enough that every SF (15+ users/type at sf0.001) fills the sketch
_KMV_HEX_SPACE = float(16**8)  # first 8 hex chars as a fraction of space

_KMV_ORACLE = f"""
    WITH h AS (
        SELECT DISTINCT event_type,
               md5('kmv:' || CAST(user_id AS VARCHAR)) AS h
        FROM events
    ),
    r AS (
        SELECT event_type, h, row_number() OVER (
            PARTITION BY event_type ORDER BY h
        ) AS rn
        FROM h
    ),
    kth AS (
        SELECT event_type, h AS kth_hash FROM r WHERE rn = {_KMV_K}
    ),
    exact AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS exact_distinct
        FROM h GROUP BY event_type
    )
    SELECT e.event_type, CAST({_KMV_K} AS INT) AS k, e.exact_distinct,
           k2.kth_hash,
           round(({_KMV_K} - 1)
                 / ({_HEX_TO_INT_SQL.format(h="substr(k2.kth_hash, 1, 8)")}
                    / {_KMV_HEX_SPACE}), 4) AS est_distinct,
           TRUE AS merged_equals_direct
    FROM exact e JOIN kth k2 USING (event_type)
"""


@register("sketch_kmv_distinct", _KMV_ORACLE)
def sketch_kmv_distinct(spark, sf_dir):
    """KMV (bottom-k) distinct-count sketch per event type, built the
    way a warehouse actually runs it: a per-(type, day) bottom-k tier
    (the WindowGroupLimit top-k shape — partial, no unbounded state)
    MERGED into the per-type sketch, with a boolean asserting the
    merged sketch equals the sketch computed directly over the full
    key set — the KMV merge law, the property that makes the sketch a
    valid pre-aggregated rollup. The estimate (k−1)/u from the k-th
    smallest hash fraction is pure integer-derived arithmetic on an
    md5 value, so the DuckDB oracle reproduces it bit-for-bit.

    Scale: the day tier keeps ≤ k rows per (type, day) — state is
    k × tiers, never the key cardinality; the merge ranks
    ≤ k × n_days rows per type. The same tier structure serves any
    time-range query by merging a subset of day sketches."""
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    h = F.md5(
        F.concat(F.lit("kmv:"), F.col("user_id").cast("string")).cast("binary")
    )
    keyed = ev.select(
        "event_type",
        F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias(
            "day"
        ),
        h.alias("h"),
    )
    # tier 1: per-(type, day) bottom-k of the day's distinct hashes
    day_distinct = keyed.select("event_type", "day", "h").distinct()
    wd = Window.partitionBy("event_type", "day").orderBy("h")
    day_tier = (
        day_distinct.withColumn("rn", F.row_number().over(wd))
        .where(F.col("rn") <= _KMV_K)
        .select("event_type", "h")
    )
    # merge: bottom-k of the union of day sketches (distinct first —
    # the same user hash can lead multiple days' sketches)
    wt = Window.partitionBy("event_type").orderBy("h")
    merged = (
        day_tier.distinct()
        .withColumn("rn", F.row_number().over(wt))
        .where(F.col("rn") <= _KMV_K)
    )
    # direct: bottom-k over the full distinct key set
    full_distinct = keyed.select("event_type", "h").distinct()
    direct = (
        full_distinct.withColumn("rn", F.row_number().over(wt))
        .where(F.col("rn") <= _KMV_K)
    )
    # merge law: the two sketches agree row-for-row
    agree = (
        merged.select("event_type", "rn", F.col("h").alias("mh"))
        .join(direct.select("event_type", "rn", F.col("h").alias("dh")),
              ["event_type", "rn"], "full")
        .groupBy("event_type")
        .agg(
            F.min(
                F.col("mh").isNotNull()
                & F.col("dh").isNotNull()
                & (F.col("mh") == F.col("dh"))
            ).alias("merged_equals_direct")
        )
    )
    kth = merged.where(F.col("rn") == _KMV_K).select(
        "event_type", F.col("h").alias("kth_hash")
    )
    exact = full_distinct.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("exact_distinct")
    )
    u = F.conv(F.substring("kth_hash", 1, 8), 16, 10).cast("double") / F.lit(
        _KMV_HEX_SPACE
    )
    return (
        exact.join(kth, "event_type")
        .join(agree, "event_type")
        .select(
            "event_type",
            F.lit(_KMV_K).cast("int").alias("k"),
            "exact_distinct",
            "kth_hash",
            F.round((_KMV_K - 1) / u, 4).alias("est_distinct"),
            "merged_equals_direct",
        )
    )


# --- streaming KMV tier (round 8, ROADMAP second-draft #2) ------------------

_SKMV_ORACLE = f"""
    WITH h AS (
        SELECT DISTINCT event_type,
               md5('kmv:' || CAST(user_id AS VARCHAR)) AS h
        FROM events
    ),
    r AS (
        SELECT event_type, h, row_number() OVER (
            PARTITION BY event_type ORDER BY h
        ) AS rn
        FROM h
    )
    SELECT event_type, CAST({_KMV_K} AS INT) AS k, h AS kth_hash,
           round(({_KMV_K} - 1)
                 / ({_HEX_TO_INT_SQL.format(h="substr(h, 1, 8)")}
                    / {_KMV_HEX_SPACE}), 4) AS est_distinct
    FROM r WHERE rn = {_KMV_K}
"""


@register("streaming_kmv_distinct", _SKMV_ORACLE)
def q_streaming_kmv_distinct(spark, sf_dir):
    """Structured Streaming: the KMV bottom-k distinct sketch as a
    stateful streaming aggregate (applyInPandasWithState state of the
    ≤ k smallest md5 hashes per event type). Because the sketch is a
    deterministic function of the key SET, the streamed fold equals
    the batch sketch exactly — full oracle, not an envelope. kth_hash
    only ever decreases across updates, so min() per key reads the
    final sketch from the update-mode sink regardless of batching;
    the (k−1)/u estimate reuses the batch twin's exact integer
    arithmetic. State is k strings per key — bounded however many
    users the stream ever sees."""
    from .streaming.jobs import streaming_kmv_distinct

    sk = streaming_kmv_distinct(spark, sf_dir, _KMV_K)
    # Drop never-filled sketches (< k distinct users -> all-NULL
    # kth_hash updates -> NULL min): the oracle's WHERE rn = k drops
    # such groups too, so both engines agree on sparser fixtures
    # (ADVICE r8).
    fin = (
        sk.groupBy("event_type")
        .agg(F.min("kth_hash").alias("kth_hash"))
        .where(F.col("kth_hash").isNotNull())
    )
    u = F.conv(F.substring("kth_hash", 1, 8), 16, 10).cast("double") / F.lit(
        _KMV_HEX_SPACE
    )
    return fin.select(
        "event_type",
        F.lit(_KMV_K).cast("int").alias("k"),
        "kth_hash",
        F.round((_KMV_K - 1) / u, 4).alias("est_distinct"),
    )


# --- HLL intersection via inclusion-exclusion (round 10) ----------------------
#
# HLL sketches union natively but have no intersection operator; the
# standard estimator is inclusion-exclusion over the merged sketch:
# |A∩B| ≈ est(A) + est(B) − est(A∪B). The subtraction compounds the
# relative error of its three inputs, so the envelope is stated
# against the UNION size (the quantity the absolute errors scale
# with), not the intersection — the honest contract for the pattern
# (a tiny true overlap of two huge sets is NOT reliably estimable,
# and the comment documents that a sketch designed for intersections,
# e.g. theta — see sketch_theta_set_ops — is the right tool there).

_HLL_IX_REL_ERR = 0.10  # of the exact UNION, not the intersection

_HLL_IX_ORACLE = """
    WITH a AS (SELECT DISTINCT o_custkey FROM orders
               WHERE o_orderstatus = 'F'),
    b AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O')
    SELECT CAST((SELECT count(*) FROM a) AS BIGINT) AS exact_a,
           CAST((SELECT count(*) FROM b) AS BIGINT) AS exact_b,
           CAST((SELECT count(*) FROM (SELECT * FROM a UNION
                                       SELECT * FROM b)) AS BIGINT)
               AS exact_union,
           CAST((SELECT count(*) FROM (SELECT * FROM a INTERSECT
                                       SELECT * FROM b)) AS BIGINT)
               AS exact_intersection,
           TRUE AS within_envelope
"""


@register("sketch_hll_intersection", _HLL_IX_ORACLE)
def sketch_hll_intersection(spark, sf_dir):
    """Distinct-customer overlap of the 'F' and 'O' order-status
    segments, estimated from three mergeable HLL sketches by
    inclusion-exclusion — the cardinality algebra a rollup layer uses
    when only sketches (never raw keys) flow upward. The envelope is
    ±10 % of the exact UNION (see the section comment for why the
    union, and when to reach for theta sketches instead).

    Scale: two filtered sketch aggregates + one sketch union — three
    constant-size aggregates over one scan shape, no distinct
    shuffle of raw keys at report time."""
    from .sources.catalog import load_table

    orders = load_table(spark, sf_dir, "orders")
    seg = orders.where(F.col("o_orderstatus").isin("F", "O")).select(
        "o_orderstatus", "o_custkey"
    )
    sk = seg.groupBy("o_orderstatus").agg(
        F.hll_sketch_agg("o_custkey").alias("sk"),
        F.countDistinct("o_custkey").cast("bigint").alias("exact"),
    )
    merged = sk.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("union_est"),
        F.sum(F.hll_sketch_estimate("sk")).alias("sum_est"),
        F.max(F.when(F.col("o_orderstatus") == "F", F.col("exact"))).alias(
            "exact_a"
        ),
        F.max(F.when(F.col("o_orderstatus") == "O", F.col("exact"))).alias(
            "exact_b"
        ),
    )
    exact = (
        seg.groupBy("o_custkey")
        .agg(F.countDistinct("o_orderstatus").alias("k"))
        .agg(
            F.count("*").cast("bigint").alias("exact_union"),
            F.sum(F.when(F.col("k") == 2, 1).otherwise(0))
            .cast("bigint")
            .alias("exact_intersection"),
        )
    )
    return merged.crossJoin(F.broadcast(exact)).select(
        F.col("exact_a").cast("bigint").alias("exact_a"),
        F.col("exact_b").cast("bigint").alias("exact_b"),
        "exact_union",
        "exact_intersection",
        (
            F.abs(
                (F.col("sum_est") - F.col("union_est")).cast("double")
                - F.col("exact_intersection").cast("double")
            )
            <= _HLL_IX_REL_ERR * F.col("exact_union").cast("double")
        ).alias("within_envelope"),
    )


# --- AMS F2 sketch (round 16) --------------------------------------------------
#
# The Alon–Matias–Szegedy second-frequency-moment sketch (STOC 1996,
# public): each of 63 counters folds the token stream with a salted
# ±1 hash, c_j = Σ_tokens sign_j(token)·f(token); each c_j² is an
# unbiased estimator of F2 = Σ f². Two aggregations are reported: the
# MEAN of the 63 squares (the unbiased primary — std √(2/63)·F2
# ≈ 0.178·F2) and the classic MEDIAN (variance-tamed but, on this
# corpus's deliberately tiny 31-token vocabulary, systematically low:
# the c² distribution is right-skewed when a handful of heavy tokens
# dominate, and the median sits ~0.5·F2 below the mean — measured at
# all three SFs before the envelope literal was frozen; the flag
# therefore gates the MEAN at 3σ = 0.534522·F2, not the median).
# Everything integer: signs are md5-parity (the CMS hex polyfill),
# counters are one signed sum each, the median is one element of the
# sorted 63-array and the mean one floor division — both engines
# fold bit-identical counters. c² and their 63-sum are int64-exact
# to ~3.8e8-token streams per counter sign-mass; past that,
# DECIMAL(38) per the ANOVA bound convention.

_AMS_DEPTH = 63  # odd → the median is ONE array element, no midpoint
_AMS_3SIGMA = "0.534522e0"  # 3·sqrt(2/63), exactly this literal


def _ams_sign_sql(salt: str) -> str:
    h = f"substr(md5('{salt}:' || token), 1, 8)"
    return f"(CASE WHEN {_HEX_TO_INT_SQL.format(h=h)} % 2 = 0 THEN 1 ELSE -1 END)"


_AMS_ORACLE = f"""
    WITH toks AS (
        SELECT unnest({X.tokens_sql()}) AS token FROM documents
    ),
    truth AS (
        SELECT CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(count(DISTINCT token) AS BIGINT) AS n_distinct
        FROM toks
    ),
    freq AS (
        SELECT token, CAST(count(*) AS BIGINT) AS f FROM toks GROUP BY 1
    ),
    f2x AS (
        SELECT CAST(sum(f * f) AS BIGINT) AS f2_exact FROM freq
    ),
    cnt AS (
        SELECT {", ".join(
            f"CAST(sum({_ams_sign_sql(f'ams{j}')} * f) AS BIGINT) AS c{j}"
            for j in range(_AMS_DEPTH))}
        FROM freq
    ),
    est AS (
        SELECT list_sort([{", ".join(
            f"c{j} * c{j}" for j in range(_AMS_DEPTH))}])
                   [{_AMS_DEPTH // 2 + 1}] AS ams_f2_median,
               CAST(floor(CAST(({" + ".join(
            f"c{j} * c{j}" for j in range(_AMS_DEPTH))}) AS DOUBLE)
                          / {_AMS_DEPTH} + 0.5e0) AS BIGINT) AS ams_f2_mean
        FROM cnt
    )
    SELECT t.n_tokens, t.n_distinct, x.f2_exact, e.ams_f2_mean,
           e.ams_f2_median,
           round(CAST(floor(abs(CAST(e.ams_f2_mean AS DOUBLE) - x.f2_exact)
                            / x.f2_exact * 1000000e0 + 0.5e0) AS BIGINT)
                 / 1000000e0, 6) AS rel_error,
           CAST(CASE WHEN abs(CAST(e.ams_f2_mean AS DOUBLE) - x.f2_exact)
                          / x.f2_exact <= {_AMS_3SIGMA}
                     THEN 1 ELSE 0 END AS BIGINT) AS within_3sigma
    FROM truth t CROSS JOIN f2x x CROSS JOIN est e
"""


def _ams_sign_col(salt: str):
    chunk = F.substring(
        F.md5(F.concat(F.lit(f"{salt}:"), F.col("token")).cast("binary")),
        1,
        8,
    )
    v = F.conv(chunk, 16, 10).cast("bigint") % 2
    return F.when(v == 0, 1).otherwise(-1)


@register("sketch_ams_f2", _AMS_ORACLE)
def sketch_ams_f2(spark, sf_dir):
    """AMS second-frequency-moment sketch over the corpus token
    stream: 63 md5-sign counters folded in ONE pass; unbiased
    mean-of-squares estimate (3σ-gated) plus the classic median, vs
    the exact F2 (see the section comment for why the median reads
    low on a 31-token vocabulary and the flag gates the mean).

    Scale: the sketch is 63 integers of state built by one map-side-
    combined aggregate over the stream — constant memory at any
    corpus size (the count-min shape without even a bucket axis);
    the exact-F2 reference is one vocabulary-grain aggregate the
    tf-idf family already pays. Signs are md5-derived so both engines
    fold bit-identical counters."""
    toks = load_table(spark, sf_dir, "documents").select(
        F.explode(X.tokens()).alias("token")
    )
    freq = toks.groupBy("token").agg(
        F.count("*").cast("bigint").alias("f")
    )
    # fold the counters over the VOCABULARY grain, not the stream:
    # c_j = Σ_tokens sign_j·f is the identical sum regrouped, the 63
    # md5s run |vocab| times instead of |stream| times (measured 12 s
    # → sub-second at sf0.1), and at scale the frequency relation is
    # the one the exact-F2 reference already pays for.
    # r16 optimization round (guide §2.4): the stream truth
    # (n_tokens = Σf, n_distinct = |vocab| — the null-free token
    # grain makes both exact), the exact F2, and the 63 counters are
    # ONE aggregate over the frequency relation, so the tokenize +
    # explode + token groupBy run once instead of the previous two
    # stream passes + two vocabulary aggregates glued by crossJoins.
    cnt = freq.agg(
        F.sum("f").cast("bigint").alias("n_tokens"),
        F.count("*").cast("bigint").alias("n_distinct"),
        F.sum(F.col("f") * F.col("f")).cast("bigint").alias("f2_exact"),
        *[
            F.sum(_ams_sign_col(f"ams{j}") * F.col("f"))
            .cast("bigint")
            .alias(f"c{j}")
            for j in range(_AMS_DEPTH)
        ],
    )
    sq_terms = [f"c{j} * c{j}" for j in range(_AMS_DEPTH)]
    return (
        cnt.select(
            "n_tokens",
            "n_distinct",
            "f2_exact",
            F.expr(
                f"sort_array(array({', '.join(sq_terms)}))"
                f"[{_AMS_DEPTH // 2}]"
            ).alias("ams_f2_median"),
            F.expr(
                f"CAST(floor(CAST(({' + '.join(sq_terms)}) AS DOUBLE)"
                f" / {_AMS_DEPTH} + 0.5e0) AS BIGINT)"
            ).alias("ams_f2_mean"),
        )
        .select(
            "n_tokens",
            "n_distinct",
            "f2_exact",
            "ams_f2_mean",
            "ams_f2_median",
            F.expr(micro6_sql(
                "abs(CAST(ams_f2_mean AS DOUBLE) - f2_exact) / f2_exact"
            )).alias("rel_error"),
            F.expr(
                "CAST(CASE WHEN abs(CAST(ams_f2_mean AS DOUBLE) - f2_exact)"
                f" / f2_exact <= {_AMS_3SIGMA}"
                " THEN 1 ELSE 0 END AS BIGINT)"
            ).alias("within_3sigma"),
        )
    )
