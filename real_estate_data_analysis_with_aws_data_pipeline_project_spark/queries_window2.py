"""Window-function completion batch 2: range frames, distribution
functions (ntile/percent_rank/cume_dist), first/last value frames, and
null-handling projections (na.fill/na.drop surfaces).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .functions.scalar import (
    entropy_term_micro_sql,
    hex_chunk_int_sql,
    micro6_sql,
    micro_units_sql,
)
from .registry import register
from .session import local_frame
from .sources.catalog import load_table


@register(
    "w7_range_frame_rolling_sum",
    """
    SELECT o_custkey, o_orderkey, day_no,
           round(sum(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY day_no
               RANGE BETWEEN 30 PRECEDING AND CURRENT ROW
           ), 2) AS spend_30d
    FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               CAST(date_diff('day', DATE '1995-01-01',
                              CAST(o_orderdate AS DATE)) AS BIGINT) AS day_no
        FROM orders
    )
    """,
)
def w7_range_frame_rolling_sum(spark, sf_dir):
    """RANGE frame (value-based, not row-based): rolling 30-day spend
    per customer over an epoch-day sort key — rows at the same day
    fall in one frame, unlike rowsBetween."""
    o = load_table(spark, sf_dir, "orders").withColumn(
        "day_no",
        F.datediff(F.to_date("o_orderdate"), F.lit("1995-01-01").cast("date")).cast(
            "bigint"
        ),
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("day_no")
        .rangeBetween(-30, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        "day_no",
        F.round(F.sum("o_totalprice").over(w), 2).alias("spend_30d"),
    )


@register(
    "w8_distribution_functions",
    """
    SELECT c_custkey, c_mktsegment,
           CAST(ntile(4) OVER w AS INT) AS quartile,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
    """,
)
def w8_distribution_functions(spark, sf_dir):
    """ntile / percent_rank / cume_dist over a fully-deterministic
    ordering (balance + key tie-break)."""
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        F.ntile(4).over(w).cast("int").alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


@register(
    "w9_first_last_value",
    """
    SELECT o_custkey, o_orderkey,
           first_value(o_orderkey) OVER w AS first_order,
           last_value(o_orderkey) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           ) AS last_order
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def w9_first_last_value(spark, sf_dir):
    """first_value / last_value — last_value needs the full-partition
    frame (the default frame ends at CURRENT ROW in both engines)."""
    order_cols = [F.col("o_orderdate"), F.col("o_orderkey")]
    w_default = Window.partitionBy("o_custkey").orderBy(*order_cols)
    w_full = w_default.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.first("o_orderkey").over(w_default).alias("first_order"),
        F.last("o_orderkey").over(w_full).alias("last_order"),
    )


@register(
    "na_fill_drop",
    """
    WITH holed AS (
        SELECT c_custkey,
               CASE WHEN c_custkey % 5 = 0 THEN NULL ELSE c_acctbal END AS bal,
               CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_mktsegment END AS seg
        FROM customer
    )
    SELECT c_custkey,
           round(coalesce(bal, 0.0), 2) + 0.0 AS bal_filled,
           coalesce(seg, 'UNKNOWN') AS seg_filled
    FROM holed
    WHERE bal IS NOT NULL OR seg IS NOT NULL
    """,
)
def na_fill_drop(spark, sf_dir):
    """The DataFrameNaFunctions surface (na.fill typed defaults +
    na.drop how='all' on a subset) over deterministically synthesized
    nulls — the engine's missing-data toolkit (P2 completion)."""
    holed = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.when(F.col("c_custkey") % 5 == 0, None)
        .otherwise(F.col("c_acctbal"))
        .alias("bal"),
        F.when(F.col("c_custkey") % 7 == 0, None)
        .otherwise(F.col("c_mktsegment"))
        .alias("seg"),
    )
    cleaned = holed.na.drop(how="all", subset=["bal", "seg"]).na.fill(
        {"bal": 0.0, "seg": "UNKNOWN"}
    )
    return cleaned.select(
        "c_custkey",
        F.round("bal", 2).alias("bal_filled"),
        F.col("seg").alias("seg_filled"),
    )


# --- leakage-free point-in-time features (round 6) --------------------------

_PIT_ORACLE = """
    SELECT o_orderkey,
           o_custkey,
           CAST(count(*) OVER prior AS BIGINT) AS prior_orders,
           round(coalesce(sum(o_totalprice) OVER prior, 0.0), 2)
               AS prior_spend,
           round(coalesce(max(o_totalprice) OVER prior, 0.0), 2)
               AS prior_max_order
    FROM orders
    WINDOW prior AS (
        PARTITION BY o_custkey
        ORDER BY CAST(o_orderdate AS DATE), o_orderkey
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
    )
"""


@register("features_point_in_time", _PIT_ORACLE, headline=True)
def features_point_in_time(spark, sf_dir):
    """Leakage-free point-in-time feature engineering: for every order,
    the customer's history STRICTLY BEFORE it (prior order count,
    cumulative and max spend) in (order date, order key) order — the
    as-of feature snapshot a training pipeline must join instead of
    present-day aggregates, or the model trains on information from
    the future.

    Scale: one shuffle on the entity key and a running frame per
    partition — the same pass that writes a feature-store snapshot.
    Sums round(2) on both engines; empty history coalesces to 0."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.to_date("o_orderdate"), F.col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.count("*").over(w).cast("bigint").alias("prior_orders"),
        F.round(
            F.coalesce(F.sum("o_totalprice").over(w), F.lit(0.0)), 2
        ).alias("prior_spend"),
        F.round(
            F.coalesce(F.max("o_totalprice").over(w), F.lit(0.0)), 2
        ).alias("prior_max_order"),
    )


# --- per-entity rolling z-score normalization (round 7) ---------------------

_ZSCORE_FRAME = 7  # trailing window: current row + 6 preceding
_ZSCORE_MIN_N = 3  # need >= 3 points for a meaningful std

_ROLLING_ZSCORE_ORACLE = f"""
    WITH w AS (
        SELECT user_id, event_id, value,
               strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str,
               count(*) OVER trail AS n_window,
               avg(value) OVER trail AS mean_w,
               stddev_samp(value) OVER trail AS std_w
        FROM events
        WINDOW trail AS (
            PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN {_ZSCORE_FRAME - 1} PRECEDING AND CURRENT ROW
        )
    )
    SELECT user_id, event_id, ts_str,
           CAST(n_window AS BIGINT) AS n_window,
           round(mean_w, 4) + 0.0 AS rolling_mean,
           round(std_w, 4) + 0.0 AS rolling_std,
           CASE WHEN std_w > 0
                THEN round((value - mean_w) / std_w, 4) + 0.0 END AS zscore
    FROM w
    WHERE n_window >= {_ZSCORE_MIN_N}
"""
# ``+ 0.0`` folds DuckDB's C-round negative zero (tiny negative
# z-scores rounding to -0.0) to +0.0; Spark's F.round can never emit
# -0.0, and the driver hash distinguishes them (the whitening channel,
# VERDICT r8 — this instance was flushed by the strict sf0.1 sweep).


@register("features_rolling_zscore", _ROLLING_ZSCORE_ORACLE)
def features_rolling_zscore(spark, sf_dir):
    """Per-entity rolling normalization: each event's value z-scored
    against its user's trailing 7-event window (mean/stddev over a
    ROWS frame) — the standard online feature-normalization shape
    (fraud scores, sensor baselines, per-user engagement deltas),
    emitted only once the window has >= 3 points.

    Scale: ONE hash shuffle on user_id; the frame is a bounded ROWS
    window (7 rows of state per entity, streaming-friendly), so the
    whole-stage-codegen'd window operator never holds more than the
    frame. Both engines compute mean/std over the identical 7-row
    slice in the identical (ts, event_id) order; 4-dp rounding absorbs
    last-ulp fold differences."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(_ZSCORE_FRAME - 1), Window.currentRow)
    )
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "value",
        "ts",
        F.count("*").over(w).cast("bigint").alias("n_window"),
        F.avg("value").over(w).alias("mean_w"),
        F.stddev_samp("value").over(w).alias("std_w"),
    )
    return e.where(F.col("n_window") >= _ZSCORE_MIN_N).select(
        "user_id",
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
        "n_window",
        F.round("mean_w", 4).alias("rolling_mean"),
        F.round("std_w", 4).alias("rolling_std"),
        F.when(
            F.col("std_w") > 0,
            F.round((F.col("value") - F.col("mean_w")) / F.col("std_w"), 4),
        ).alias("zscore"),
    )


# --- leave-one-out target encoding (round 8) --------------------------------

_LOO_ORACLE = """
    WITH o AS (
        SELECT o.o_orderkey, c.c_mktsegment AS segment,
               CAST(round(o.o_totalprice * 100.0, 0) AS BIGINT) AS cents
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    s AS (
        SELECT segment, CAST(sum(cents) AS BIGINT) AS seg_cents,
               CAST(count(*) AS BIGINT) AS n
        FROM o GROUP BY segment
    )
    SELECT o.o_orderkey, o.segment,
           round(CAST(s.seg_cents - o.cents AS DOUBLE)
                 / (s.n - 1) / 100.0, 4) AS loo_target_mean
    FROM o JOIN s USING (segment)
    WHERE s.n > 1
"""


@register("features_target_encoding_loo", _LOO_ORACLE, headline=True)
def features_target_encoding_loo(spark, sf_dir):
    """Leave-one-out target encoding: each order's categorical feature
    (market segment) replaced by the mean order total of the SAME
    segment EXCLUDING the row itself — the standard leakage-safe
    categorical encoder for tree/linear models (plain target means
    leak the row's own label). LOO means come from integer-cent sums
    ((Σ − xᵢ)/(n−1) on bigints), so every value is exact before the
    one 4-dp display rounding.

    Scale: one segment aggregate (map-side combined, |segments| rows)
    broadcast back over the fact table — no window, no per-group
    sort; the encoder is a map-side join at any corpus size."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    o = orders.join(
        F.broadcast(cust), F.col("c_custkey") == F.col("o_custkey")
    ).select(
        "o_orderkey",
        F.col("c_mktsegment").alias("segment"),
        F.round(F.col("o_totalprice") * 100.0, 0)
        .cast("bigint")
        .alias("cents"),
    )
    s = o.groupBy("segment").agg(
        F.sum("cents").cast("bigint").alias("seg_cents"),
        F.count("*").cast("bigint").alias("n"),
    )
    return (
        o.join(F.broadcast(s), "segment")
        .where(F.col("n") > 1)
        .select(
            "o_orderkey",
            "segment",
            F.round(
                (F.col("seg_cents") - F.col("cents")).cast("double")
                / (F.col("n") - 1)
                / 100.0,
                4,
            ).alias("loo_target_mean"),
        )
    )


# --- equi-depth binning (round 8) -------------------------------------------

_EQD_BINS = 10

_EQD_ORACLE = f"""
    WITH o AS (
        SELECT o.o_orderkey, c.c_mktsegment AS segment, o.o_totalprice AS v
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    r AS (
        SELECT segment, v,
               row_number() OVER (
                   PARTITION BY segment ORDER BY v, o_orderkey
               ) AS rn,
               count(*) OVER (PARTITION BY segment) AS n
        FROM o
    ),
    b AS (
        SELECT segment,
               CAST((rn - 1) * {_EQD_BINS} // n + 1 AS INT) AS bin, v
        FROM r
    )
    SELECT segment, bin,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(min(v), 2) AS lo,
           round(max(v), 2) AS hi
    FROM b GROUP BY segment, bin
"""


@register("features_equidepth_bins", _EQD_ORACLE)
def features_equidepth_bins(spark, sf_dir):
    """Equi-depth (quantile) binning per segment: order totals split
    into 10 equal-count bins with exact edges — the discretizer
    behind histogram features and monotonic binning for scorecards.
    Bin assignment is pure integer rank arithmetic
    ((rn−1)·B div n + 1 under the deterministic (value, key) order),
    so bin populations differ by at most one row and both engines
    produce identical bins before any rounding.

    Scale: per-segment rank window — the exact-order-statistics trade
    documented for the MAD/skew-audit family; the output is
    |segments|×B rows."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.col("o_totalprice").alias("v")
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    o = orders.join(
        F.broadcast(cust), F.col("c_custkey") == F.col("o_custkey")
    ).select("o_orderkey", F.col("c_mktsegment").alias("segment"), "v")
    w = Window.partitionBy("segment").orderBy("v", "o_orderkey")
    cw = Window.partitionBy("segment")
    r = o.select(
        "segment",
        "v",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(cw).alias("n"),
    )
    b = r.select(
        "segment",
        (
            F.expr(f"(rn - 1) * {_EQD_BINS} div n") + 1
        ).cast("int").alias("bin"),
        "v",
    )
    return b.groupBy("segment", "bin").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.round(F.min("v"), 2).alias("lo"),
        F.round(F.max("v"), 2).alias("hi"),
    )


# --- per-nation RFM segmentation (round 8) ----------------------------------

_RFM_ORACLE = """
    WITH anchor AS (
        SELECT max(CAST(o_orderdate AS DATE)) AS maxd FROM orders
    ),
    base AS (
        SELECT c.c_nationkey AS nation, o.o_custkey AS custkey,
               CAST(a.maxd - max(CAST(o.o_orderdate AS DATE)) AS BIGINT)
                   AS r_days,
               CAST(count(*) AS BIGINT) AS f_orders,
               CAST(sum(CAST(round(o.o_totalprice * 100.0, 0) AS BIGINT))
                    AS BIGINT) AS m_cents
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        CROSS JOIN anchor a
        GROUP BY 1, 2, a.maxd
    ),
    q AS (
        SELECT *,
               CAST((row_number() OVER (
                   PARTITION BY nation ORDER BY r_days, custkey
               ) - 1) * 4 // count(*) OVER (PARTITION BY nation) + 1
                   AS INT) AS r_q,
               CAST((row_number() OVER (
                   PARTITION BY nation ORDER BY f_orders DESC, custkey
               ) - 1) * 4 // count(*) OVER (PARTITION BY nation) + 1
                   AS INT) AS f_q,
               CAST((row_number() OVER (
                   PARTITION BY nation ORDER BY m_cents DESC, custkey
               ) - 1) * 4 // count(*) OVER (PARTITION BY nation) + 1
                   AS INT) AS m_q
        FROM base
    )
    SELECT CAST(nation AS BIGINT) AS nation, custkey,
           r_days, f_orders, m_cents, r_q, f_q, m_q,
           CAST(r_q * 100 + f_q * 10 + m_q AS INT) AS rfm_code
    FROM q
"""


@register("features_rfm_segments", _RFM_ORACLE)
def features_rfm_segments(spark, sf_dir):
    """RFM segmentation within each nation: recency (days since last
    order vs the corpus anchor date), frequency (order count), and
    monetary value (integer cents) ranked into positional quartiles —
    ((rn−1)·4 div n + 1 under deterministic tie-breaks, the equi-depth
    convention, so both engines build identical quartiles without any
    value-threshold tie ambiguity — and the best quartile is 1 on
    every axis (recent ASC, frequent/monetary DESC). The 3-digit RFM
    code is the classic CRM segment key.

    Scale: one customer-grain aggregate, then three rank windows
    PARTITIONED BY NATION (segmentation within a market is also the
    analytically honest form — cross-market quantiles mix currencies
    and behaviors); no global window."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    anchor = orders.agg(
        F.max(F.to_date("o_orderdate")).alias("maxd")
    )
    base = (
        orders.join(
            F.broadcast(cust), F.col("c_custkey") == F.col("o_custkey")
        )
        .crossJoin(F.broadcast(anchor))
        .groupBy(
            F.col("c_nationkey").cast("bigint").alias("nation"),
            F.col("o_custkey").alias("custkey"),
            "maxd",
        )
        .agg(
            F.datediff(
                F.max("maxd"), F.max(F.to_date("o_orderdate"))
            )
            .cast("bigint")
            .alias("r_days"),
            F.count("*").cast("bigint").alias("f_orders"),
            F.sum(
                F.round(F.col("o_totalprice") * 100.0, 0).cast("bigint")
            )
            .cast("bigint")
            .alias("m_cents"),
        )
        .drop("maxd")
    )
    nw = Window.partitionBy("nation")

    # Pure integer rank arithmetic (ADVICE r8): materialize rn/n and
    # use SQL `div`, like features_equidepth_bins — double division
    # with an int cast only matches (rn-1)*4 // n while the product
    # stays exactly representable.
    q = base.select(
        "*",
        F.row_number()
        .over(nw.orderBy(F.col("r_days"), F.col("custkey")))
        .alias("rn_r"),
        F.row_number()
        .over(nw.orderBy(F.col("f_orders").desc(), F.col("custkey")))
        .alias("rn_f"),
        F.row_number()
        .over(nw.orderBy(F.col("m_cents").desc(), F.col("custkey")))
        .alias("rn_m"),
        F.count("*").over(nw).alias("n_grp"),
    ).select(
        "*",
        (F.expr("(rn_r - 1) * 4 div n_grp") + 1).cast("int").alias("r_q"),
        (F.expr("(rn_f - 1) * 4 div n_grp") + 1).cast("int").alias("f_q"),
        (F.expr("(rn_m - 1) * 4 div n_grp") + 1).cast("int").alias("m_q"),
    )
    return q.select(
        "nation",
        "custkey",
        "r_days",
        "f_orders",
        "m_cents",
        "r_q",
        "f_q",
        "m_q",
        (F.col("r_q") * 100 + F.col("f_q") * 10 + F.col("m_q"))
        .cast("int")
        .alias("rfm_code"),
    )


# --- time-decayed mean (round 8) --------------------------------------------

_DECAY_HALF_LIFE_DAYS = 7
_DECAY_MAX_HALVINGS = 10  # weights: 2^(10 - min(age div 7, 10)) — integer

_DECAY_ORACLE = f"""
    WITH anchor AS (
        SELECT CAST(max(date_trunc('day', ts)) AS DATE) AS maxd FROM events
    ),
    w AS (
        SELECT e.user_id,
               CAST(round(e.value * 100.0, 0) AS BIGINT) AS cents,
               CAST(pow(2, {_DECAY_MAX_HALVINGS} - least(
                   CAST(a.maxd - CAST(date_trunc('day', e.ts) AS DATE)
                        AS BIGINT) // {_DECAY_HALF_LIFE_DAYS},
                   {_DECAY_MAX_HALVINGS})) AS BIGINT) AS iw
        FROM events e CROSS JOIN anchor a
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           -- half-up integer rounding of the exact rational
           -- S/(100*n) at 4 dp: round(S*100/n) = (200*S + n) // (2*n)
           -- — no double ever carries an unrounded mean, so there is
           -- no FP boundary channel
           CAST((200 * sum(cents * iw) + sum(iw)) // (2 * sum(iw))
                AS DOUBLE) / 10000.0 AS decayed_mean,
           CAST((200 * sum(cents) + count(*)) // (2 * count(*))
                AS DOUBLE) / 10000.0 AS plain_mean
    FROM w GROUP BY user_id
"""


@register("features_time_decay_mean", _DECAY_ORACLE)
def features_time_decay_mean(spark, sf_dir):
    """Recency-weighted (exponentially decayed) mean event value per
    user, half-life 7 days against the corpus anchor day — the
    freshness-weighted engagement feature. Weights are INTEGER powers
    of two (2^(10−halvings), halvings capped at 10), and values are
    integer cents, so both weighted and plain sums are exact bigints
    under any partitioning; only the report divides. This is the
    discrete-exact formulation of exp(−age/τ) weighting — no libm
    exp(), no FP sum-order channel.

    Scale: one broadcast anchor row + one map-side-combined user
    aggregate."""
    ev = load_table(spark, sf_dir, "events")
    anchor = ev.agg(
        F.to_date(F.date_trunc("day", F.max("ts"))).alias("maxd")
    )
    halv = F.least(
        F.floor(
            F.datediff(
                F.col("maxd"), F.to_date(F.date_trunc("day", F.col("ts")))
            )
            / _DECAY_HALF_LIFE_DAYS
        ),
        F.lit(_DECAY_MAX_HALVINGS),
    )
    w = ev.crossJoin(F.broadcast(anchor)).select(
        "user_id",
        F.round(F.col("value") * 100.0, 0).cast("bigint").alias("cents"),
        F.pow(F.lit(2.0), _DECAY_MAX_HALVINGS - halv)
        .cast("bigint")
        .alias("iw"),
    )
    agg = w.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum(F.col("cents") * F.col("iw")).cast("bigint").alias("swc"),
        F.sum("iw").cast("bigint").alias("sw"),
        F.sum("cents").cast("bigint").alias("sc"),
    )
    # half-up integer rounding of the exact rational S/(100·n) at 4 dp
    # ((200·S + n) div (2·n)) — the rounded value exists as an integer
    # before any double does, closing the 4-dp boundary channel a
    # float division would open (caught live at sf0.1: 49.19125).
    return agg.select(
        "user_id",
        "n_events",
        (
            F.expr("(200 * swc + sw) div (2 * sw)").cast("double")
            / 10000.0
        ).alias("decayed_mean"),
        (
            F.expr("(200 * sc + n_events) div (2 * n_events)").cast(
                "double"
            )
            / 10000.0
        ).alias("plain_mean"),
    )


# --- GLOBAL equi-depth bins, two-pass (round 8) ------------------------------

_GEQD_BINS = 16

_GEQD_ORACLE = f"""
    WITH o AS (
        SELECT o_orderkey,
               CAST(round(o_totalprice * 100.0, 0) AS BIGINT) AS cents
        FROM orders
    ),
    r AS (
        SELECT cents,
               row_number() OVER (ORDER BY cents, o_orderkey) AS rn,
               count(*) OVER () AS n
        FROM o
    ),
    b AS (
        SELECT cents,
               CAST((rn - 1) * {_GEQD_BINS} // n + 1 AS INT) AS bin
        FROM r
    )
    SELECT bin, CAST(count(*) AS BIGINT) AS n_rows,
           round(CAST(min(cents) AS DOUBLE) / 100.0, 2) AS lo,
           round(CAST(max(cents) AS DOUBLE) / 100.0, 2) AS hi
    FROM b GROUP BY bin
"""


@register("features_global_equidepth_bins", _GEQD_ORACLE, headline=True)
def features_global_equidepth_bins(spark, sf_dir):
    """GLOBAL equi-depth binning without a global window — the
    two-pass bucket-rank pattern (corpus_global_shuffle's machinery
    applied to a VALUE axis): pass 1 aggregates row counts per
    value-range bucket (cents div width, width sized off the broadcast
    max so there are ≤ 4096 buckets); the prefix offsets over that
    metadata-scale relation are computed driver-side; pass 2 ranks
    WITHIN each bucket (partitioned window) and adds the offset,
    giving every row its exact global rank — bin = (rank−1)·B div n.
    The DuckDB oracle uses the naive global window, so the hash match
    PROVES the two-pass plan reproduces exact global order statistics.

    Scale: no unpartitioned window anywhere — the widest structures
    are a ≤ 4096-row bucket-count aggregate (driver prefix over it is
    metadata-scale, the documented global-shuffle convention) and
    per-bucket rank windows whose fan-in is the value-density of one
    range. Integer ranks and cents end-to-end."""
    from .operators.rank_prefix import _rng_bucketed, bucket_offsets

    # r17 (guide §5): the (orderkey, cents) projection feeds THREE
    # actions per invocation (max for the bucket width, the bucket
    # counts collect, and the final rank pass) — each re-scanned
    # orders. Checkpoint the narrow order-grain projection once; the
    # three consumers read the materialization.
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100.0, 0)
        .cast("bigint")
        .alias("cents"),
    ).localCheckpoint(eager=True)
    # ≤ 4096 bucket counts — metadata-scale driver prefix, like
    # corpus_global_shuffle's 256 offsets
    joined, n_total = bucket_offsets(
        spark, _rng_bucketed(o, "cents"), F.count("*")
    )
    w = Window.partitionBy("rng").orderBy("cents", "o_orderkey")
    ranked = (
        joined.select(
            "cents",
            (F.row_number().over(w) + F.col("off")).alias("grank"),
        )
    )
    b = ranked.select(
        "cents",
        (
            F.expr(f"(grank - 1) * {_GEQD_BINS} div {n_total}") + 1
        ).cast("int").alias("bin"),
    )
    return b.groupBy("bin").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.round(F.min("cents").cast("double") / 100.0, 2).alias("lo"),
        F.round(F.max("cents").cast("double") / 100.0, 2).alias("hi"),
    )


# --- weight-of-evidence / information value (round 9) ------------------------

_WOE_ORACLE = """
    WITH c AS (
        SELECT o_orderpriority AS category,
               CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_good,
               CAST(sum(CASE WHEN o_orderstatus <> 'F' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_bad
        FROM orders GROUP BY 1
    ),
    t AS (
        SELECT CAST(sum(n_good) AS BIGINT) AS g_tot,
               CAST(sum(n_bad) AS BIGINT) AS b_tot
        FROM c
    ),
    w AS (
        SELECT c.category, c.n_good, c.n_bad, t.g_tot, t.b_tot,
               round(ln(CAST(c.n_good AS DOUBLE) * t.b_tot
                        / (CAST(c.n_bad AS DOUBLE) * t.g_tot)), 6) + 0.0
                   AS woe
        FROM c, t
        WHERE c.n_good > 0 AND c.n_bad > 0
    )
    SELECT category, n_good, n_bad, woe,
           round((CAST(n_good AS DOUBLE) * b_tot
                  - CAST(n_bad AS DOUBLE) * g_tot)
                 / (CAST(g_tot AS DOUBLE) * b_tot) * woe, 6) + 0.0
               AS iv_term
    FROM w
"""


@register("features_woe_iv", _WOE_ORACLE)
def features_woe_iv(spark, sf_dir):
    """Weight-of-evidence encoding + per-category information-value
    terms for a categorical feature against a binary label
    (o_orderpriority vs completed-order status): woe = ln((g/G)/(b/B)),
    iv_term = (g/G - b/B) * woe — the classic credit-scoring encoder a
    feature store materializes next to target encoding. Categories
    with a zero cell are dropped (unsmoothed woe is undefined there);
    ratios are formed from integer-count products in ONE double
    division each, the woe ln is rounded 6 dp before the iv product
    (cross-engine libm rule), and iv_term rounds the product of the
    exact rational and the ROUNDED woe, so both engines multiply
    bit-identical inputs.

    Scale: one map-side-combined aggregation over orders to the
    category grain; totals ride a one-row broadcast crossJoin; every
    downstream expression lives on the ~|categories|-row relation."""
    o = load_table(spark, sf_dir, "orders")
    c = o.groupBy(F.col("o_orderpriority").alias("category")).agg(
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0))
        .cast("bigint")
        .alias("n_good"),
        F.sum(F.when(F.col("o_orderstatus") != "F", 1).otherwise(0))
        .cast("bigint")
        .alias("n_bad"),
    )
    t = c.agg(
        F.sum("n_good").cast("bigint").alias("g_tot"),
        F.sum("n_bad").cast("bigint").alias("b_tot"),
    )
    w = (
        c.crossJoin(F.broadcast(t))
        .where((F.col("n_good") > 0) & (F.col("n_bad") > 0))
        .withColumn(
            "woe",
            F.round(
                F.log(
                    F.col("n_good").cast("double")
                    * F.col("b_tot")
                    / (F.col("n_bad").cast("double") * F.col("g_tot"))
                ),
                6,
            ),
        )
    )
    return w.select(
        "category",
        "n_good",
        "n_bad",
        "woe",
        F.round(
            (
                F.col("n_good").cast("double") * F.col("b_tot")
                - F.col("n_bad").cast("double") * F.col("g_tot")
            )
            / (F.col("g_tot").cast("double") * F.col("b_tot"))
            * F.col("woe"),
            6,
        ).alias("iv_term"),
    )


# --- signed feature hashing (round 9) ----------------------------------------

# The hashing-trick encoder (Weinberger et al., public): each
# (feature=value) categorical pair maps to bucket
# int(md5[0:8]) % _FH_BUCKETS with sign ±1 from the md5's 9th hex
# digit parity, so collisions cancel in expectation instead of
# stacking. Cross-engine: md5 is identical everywhere; DuckDB parses
# the hex chunk with a 16-power polyfill (the sketch_count_min
# pattern) to avoid from_hex/blob asymmetries.
_FH_BUCKETS = 32


_FH_ORACLE = f"""
    WITH fv AS (
        SELECT c_custkey, unnest([
            'seg=' || c_mktsegment,
            'nation=' || CAST(c_nationkey AS VARCHAR)
        ]) AS feat
        FROM customer
    ),
    h AS (
        SELECT c_custkey, feat,
               {hex_chunk_int_sql("substr(md5(feat), 1, 8)", 8)}
                   % {_FH_BUCKETS} AS bucket,
               CASE WHEN (strpos('0123456789abcdef', substr(md5(feat), 9, 1))
                          - 1) % 2 = 1
                    THEN 1 ELSE -1 END AS sgn
        FROM fv
    )
    SELECT bucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(sgn) AS BIGINT) AS signed_sum,
           CAST(count(DISTINCT feat) AS BIGINT) AS n_distinct_features
    FROM h GROUP BY bucket
"""


@register("features_feature_hashing", _FH_ORACLE)
def features_feature_hashing(spark, sf_dir):
    """Signed feature hashing (the hashing-trick encoder) over the
    customer categorical features (segment, nation): every
    feature=value pair lands in one of {_FH_BUCKETS} buckets with a
    ±1 sign, and the per-bucket profile (row count, signed sum,
    DISTINCT colliding feature-values) is exactly the collision audit
    run before fixing a hashed-feature width. sgn uses the md5 9th
    hex digit's parity — strpos-1 is the digit value, odd -> +1 —
    identical in both engines.

    Scale: explode is 2 rows per input row (|features| fixed); the
    bucket aggregation partial-aggregates map-side onto <=
    {_FH_BUCKETS} buckets; the exact DISTINCT rides the same shuffle
    grouped by bucket. No joins, no windows."""
    c = load_table(spark, sf_dir, "customer")
    fv = c.select(
        "c_custkey",
        F.explode(
            F.array(
                F.concat(F.lit("seg="), F.col("c_mktsegment")),
                F.concat(
                    F.lit("nation="), F.col("c_nationkey").cast("string")
                ),
            )
        ).alias("feat"),
    )
    md5 = F.md5(F.col("feat").cast("binary"))
    h = fv.select(
        "feat",
        (
            F.conv(F.substring(md5, 1, 8), 16, 10).cast("bigint")
            % _FH_BUCKETS
        ).alias("bucket"),
        F.when(
            F.conv(F.substring(md5, 9, 1), 16, 10).cast("bigint") % 2 == 1,
            1,
        )
        .otherwise(-1)
        .alias("sgn"),
    )
    return h.groupBy("bucket").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum("sgn").cast("bigint").alias("signed_sum"),
        F.countDistinct("feat").cast("bigint").alias("n_distinct_features"),
    )


# --- chi-square feature screening (round 9, late batch) ---------------------
#
# Univariate feature selection: the chi-square independence statistic
# of each categorical candidate feature against a binary label,
# computed from the full contingency cube INCLUDING empty cells.
# Determinism contract: with o the cell count, rt/ct the marginals
# and n the row total, each cell's (o − e)²/e is algebraically
# (o·n − rt·ct)² / (n·rt·ct) — the numerator root is EXACT int64
# (|o·n − rt·ct| ≤ n², safe to n ~ 3e9 rows); the denominator n·rt·ct
# can exceed int64 at cluster-scale n (≈0.3·n³ — overflows past
# n ≈ 4.5e6; r9 review), so it is computed as a DOUBLE product —
# each bigint→double conversion and multiply is exactly-rounded IEEE,
# identical in both engines. The square and the single division are
# exactly-rounded IEEE ops,
# and the per-cell term is integerized to BIGINT micro-units via
# floor(x·1e6 + 0.5) (the retrieval_query_likelihood pattern), so the
# per-feature sum is exact integer addition — no float-aggregate or
# decimal-literal channel.

_CHI2_LABEL_SQL = (
    "CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')"
    " THEN 1 ELSE 0 END"
)

_CHI2_TERM_SQL = micro_units_sql(
    "(CAST(d AS DOUBLE) * CAST(d AS DOUBLE)) / den"
)

def _label_cells(spark, sf_dir):
    """(cells, rt, status_cells, lab) of the priority-label screens:
    the (feature, value, label, o) contingency counts over the
    status/year/month unpivot of orders, the row marginal rt(f,v),
    the 'status' slice, and the label marginal ct read off that slice
    (every order contributes exactly one status row, a NULL status
    included).

    The marginals are second-level aggregates over the cell relation,
    which is eagerly localCheckpointed per invocation: AQE exchange
    reuse never fired for the shared cell exchange (14-17 executed
    orders scans, each consumer re-running the 3-scan unpivot), so one
    3-scan unpivot job feeds every marginal branch."""
    orders = load_table(spark, sf_dir, "orders")
    label = F.expr(_CHI2_LABEL_SQL).alias("label")
    base = (
        orders.select(
            F.lit("status").alias("feature"),
            F.col("o_orderstatus").alias("value"),
            label,
        )
        .unionAll(
            orders.select(
                F.lit("year").alias("feature"),
                F.year("o_orderdate").cast("string").alias("value"),
                label,
            )
        )
        .unionAll(
            orders.select(
                F.lit("month").alias("feature"),
                F.month("o_orderdate").cast("string").alias("value"),
                label,
            )
        )
    )
    cells = (
        base.groupBy("feature", "value", "label")
        .agg(F.count("*").cast("bigint").alias("o"))
        .localCheckpoint(eager=True)
    )
    rt = cells.groupBy("feature", "value").agg(
        F.sum("o").cast("bigint").alias("rt")
    )
    status_cells = cells.filter(F.col("feature") == "status")
    lab = status_cells.groupBy("label").agg(
        F.sum("o").cast("bigint").alias("ct")
    )
    return cells, rt, status_cells, lab


_CHI2_ORACLE = f"""
    WITH base AS (
        SELECT feature, value, label FROM (
            SELECT 'status' AS feature, o_orderstatus AS value,
                   {_CHI2_LABEL_SQL} AS label FROM orders
            UNION ALL
            SELECT 'year', CAST(year(o_orderdate) AS VARCHAR),
                   {_CHI2_LABEL_SQL} FROM orders
            UNION ALL
            SELECT 'month', CAST(month(o_orderdate) AS VARCHAR),
                   {_CHI2_LABEL_SQL} FROM orders
        )
    ),
    cells AS (
        SELECT feature, value, label, CAST(count(*) AS BIGINT) AS o
        FROM base GROUP BY 1, 2, 3
    ),
    rt AS (
        SELECT feature, value, CAST(count(*) AS BIGINT) AS rt
        FROM base GROUP BY 1, 2
    ),
    lab AS (
        SELECT {_CHI2_LABEL_SQL} AS label, CAST(count(*) AS BIGINT) AS ct
        FROM orders GROUP BY 1
    ),
    tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               (SELECT CAST(count(*) AS BIGINT) FROM lab) AS n_labels
        FROM orders
    ),
    grid AS (
        SELECT r.feature, r.value, r.rt, l.label, l.ct, t.n, t.n_labels,
               coalesce(c.o, 0) * t.n - r.rt * l.ct AS d,
               CAST(t.n AS DOUBLE) * r.rt * l.ct AS den
        FROM rt r
        CROSS JOIN lab l
        CROSS JOIN tot t
        LEFT JOIN cells c ON c.feature = r.feature
                         AND c.value = r.value AND c.label = l.label
    )
    SELECT feature,
           CAST(count(DISTINCT value) AS BIGINT) AS n_values,
           CAST((count(DISTINCT value) - 1) * (max(n_labels) - 1)
                AS BIGINT) AS dof,
           round(CAST(sum({_CHI2_TERM_SQL}) AS DOUBLE) / 1000000e0, 6)
               AS chi2
    FROM grid
    GROUP BY 1
"""


@register("features_chi2_selection", _CHI2_ORACLE)
def features_chi2_selection(spark, sf_dir):
    """Chi-square screening of three categorical order features
    (status, order year, order month) against the "high priority"
    binary label — the univariate filter a feature store runs to rank
    candidate features before training. Reports degrees of freedom so
    the scores are interpretable across features of different
    cardinality. Empty contingency cells contribute their full
    expected-count term (the statistic is wrong without them).

    Scale: the unpivot is a 3x row multiplier into ONE count
    aggregate at the (feature, value, label) grain — cardinality-
    bounded, map-side combinable; marginals and totals are tiny
    derived aggregates of it; the term grid lives at feature-value
    scale and the final sum is exact BIGINT micro-units (see module
    comment). No window, no per-row Python."""
    cells, rt, status_cells, lab = _label_cells(spark, sf_dir)
    tot = status_cells.agg(F.sum("o").cast("bigint").alias("n")).crossJoin(
        lab.agg(F.count("*").cast("bigint").alias("n_labels"))
    )
    grid = (
        rt.crossJoin(F.broadcast(lab))
        .crossJoin(F.broadcast(tot))
        .join(F.broadcast(cells), ["feature", "value", "label"], "left")
        .select(
            "feature",
            "value",
            "n_labels",
            (
                F.coalesce("o", F.lit(0)) * F.col("n")
                - F.col("rt") * F.col("ct")
            ).alias("d"),
            (
                F.col("n").cast("double") * F.col("rt") * F.col("ct")
            ).alias("den"),
        )
    )
    return grid.groupBy("feature").agg(
        F.countDistinct("value").cast("bigint").alias("n_values"),
        (
            (F.countDistinct("value") - 1) * (F.max("n_labels") - 1)
        )
        .cast("bigint")
        .alias("dof"),
        F.round(
            F.sum(F.expr(_CHI2_TERM_SQL)).cast("double") / F.expr("1000000e0"),
            6,
        ).alias("chi2"),
    )


# --- mutual-information feature screening (round 11) --------------------------
#
# The information-theoretic member of the univariate feature-selection
# triad (chi2 above ranks by independence-test statistic, WOE/IV by
# log-odds mass, MI by shared bits): I(X;Y) = Σ_cells p(x,y)·
# log2(p(x,y)/(p(x)p(y))) of each categorical candidate against the
# same "high priority" binary label, plus the label entropy H(Y) and
# the uncertainty coefficient U(Y|X) = I/H(Y) (Theil's U — the
# "fraction of label bits this feature explains" number dashboards
# compare across features of different cardinality). Unlike chi2,
# EMPTY cells contribute nothing (lim p→0 of p·log is 0), so only
# observed cells enter.
#
# Determinism contract (the chi2/entropy kernels' rules combined):
# the log argument is a ratio of two DOUBLE products o·n and rt·ct
# (each factor converted once, each multiply exactly-rounded — the
# IDENTICAL expression tree in both engines, so past 2⁵³ they round
# the same way rather than staying exact) followed by one division;
# the
# libm log2 is quantized to BIGINT micro via floor(x·1e6 + 0.5) (the
# entropy_term_micro_sql rule: no round-on-double channel), the
# p·lg product runs one IEEE multiply and floors to signed micro
# units (half-up toward +inf — floor is exact in both engines), and
# the per-feature sum is exact integer addition. H(Y) reuses
# entropy_term_micro_sql verbatim; U is ONE double division of two
# int64 micro sums, quantized micro, guarded NULL when H(Y) = 0
# (single-class label).

# The oracle keeps its original spelling of the term (the reference
# text never changes); the Spark side builds the same tree from the
# micro-unit owner.
_MI_TERM_ORACLE = (
    "CAST(floor((CAST(o AS DOUBLE) / n)"
    " * (CAST(floor(log2((CAST(o AS DOUBLE) * n)"
    "                    / (CAST(rt AS DOUBLE) * ct))"
    "               * 1000000e0 + 0.5e0) AS BIGINT) / 1000000e0)"
    " * 1000000e0 + 0.5e0) AS BIGINT)"
)
_MI_TERM_SQL = micro_units_sql(
    "(CAST(o AS DOUBLE) / n) * ("
    + micro_units_sql("log2((CAST(o AS DOUBLE) * n) / (CAST(rt AS DOUBLE) * ct))")
    + " / 1000000e0)"
)

_MI_ORACLE = f"""
    WITH base AS (
        SELECT feature, value, label FROM (
            SELECT 'status' AS feature, o_orderstatus AS value,
                   {_CHI2_LABEL_SQL} AS label FROM orders
            UNION ALL
            SELECT 'year', CAST(year(o_orderdate) AS VARCHAR),
                   {_CHI2_LABEL_SQL} FROM orders
            UNION ALL
            SELECT 'month', CAST(month(o_orderdate) AS VARCHAR),
                   {_CHI2_LABEL_SQL} FROM orders
        )
    ),
    cells AS (
        SELECT feature, value, label, CAST(count(*) AS BIGINT) AS o
        FROM base GROUP BY 1, 2, 3
    ),
    rt AS (
        SELECT feature, value, CAST(count(*) AS BIGINT) AS rt
        FROM base GROUP BY 1, 2
    ),
    lab AS (
        SELECT {_CHI2_LABEL_SQL} AS label, CAST(count(*) AS BIGINT) AS ct
        FROM orders GROUP BY 1
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM orders),
    terms AS (
        SELECT c.feature, {_MI_TERM_ORACLE} AS tm
        FROM cells c
        JOIN rt USING (feature, value)
        JOIN lab USING (label)
        CROSS JOIN tot
    ),
    hy AS (
        SELECT CAST(sum({entropy_term_micro_sql("lab.ct", "tot.n")})
                    AS BIGINT) AS h_micro
        FROM lab CROSS JOIN tot
    )
    SELECT t.feature,
           CAST(count(*) AS BIGINT) AS n_cells,
           round(CAST(sum(t.tm) AS BIGINT) / 1000000e0, 6) AS mi_bits,
           round(CAST(max(hy.h_micro) AS BIGINT) / 1000000e0, 6)
               AS h_label_bits,
           CASE WHEN max(hy.h_micro) > 0 THEN
               CAST(floor(CAST(sum(t.tm) AS DOUBLE)
                          / CAST(max(hy.h_micro) AS DOUBLE)
                          * 1000000e0 + 0.5e0) AS BIGINT) / 1000000e0
           END AS uncertainty_coef
    FROM terms t CROSS JOIN hy
    GROUP BY 1
"""


@register("features_mutual_information", _MI_ORACLE, headline=True)
def features_mutual_information(spark, sf_dir):
    """Mutual information (bits) of three categorical order features
    (status, order year, order month) with the "high priority" binary
    label, plus the label entropy and the uncertainty coefficient
    U(Y|X) = I(X;Y)/H(Y) — the information-theoretic feature-selection
    screen that sits beside features_chi2_selection (same features,
    same label, same contingency counts) and reads in comparable
    units across features of different cardinality. Observed cells
    only: an empty cell's p·log2 term is 0 by limit.

    Scale: identical shape to the chi2 screen — one 3x unpivot into
    ONE count aggregate at the (feature, value, label) grain
    (cardinality-bounded, map-side combinable); marginals, the label
    entropy, and the row total are tiny derived aggregates broadcast
    onto the cell relation; the MI sum is exact BIGINT micro addition
    (see section comment). No window, no per-row Python."""
    cells, rt, status_cells, lab = _label_cells(spark, sf_dir)
    tot = status_cells.agg(F.sum("o").cast("bigint").alias("n"))
    hy = lab.crossJoin(F.broadcast(tot)).agg(
        F.sum(F.expr(entropy_term_micro_sql("ct", "n")))
        .cast("bigint")
        .alias("h_micro")
    )
    terms = (
        cells.join(F.broadcast(rt), ["feature", "value"])
        .join(F.broadcast(lab), "label")
        .crossJoin(F.broadcast(tot))
        .select("feature", F.expr(_MI_TERM_SQL).alias("tm"))
    )
    return (
        terms.crossJoin(F.broadcast(hy))
        .groupBy("feature")
        .agg(
            F.count("*").cast("bigint").alias("n_cells"),
            F.round(
                F.sum("tm").cast("bigint") / F.expr("1000000e0"), 6
            ).alias("mi_bits"),
            F.round(
                F.max("h_micro").cast("bigint") / F.expr("1000000e0"), 6
            ).alias("h_label_bits"),
            (
                F.when(
                    F.max("h_micro") > 0,
                    F.expr(micro_units_sql(
                        "CAST(sum(tm) AS DOUBLE) / CAST(max(h_micro) AS DOUBLE)"
                    )),
                )
                / F.expr("1000000e0")
            ).alias("uncertainty_coef"),
        )
    )


# --- one-way ANOVA F feature screen (round 11) --------------------------------
#
# The numeric-vs-categorical member of the feature-selection family
# (chi2/MI screen categorical features, WOE/IV binary ones): the
# one-way ANOVA F statistic of customer account balance across market
# segments — does the segment explain balance variance? F =
# (SSB/(k−1)) / (SSW/(n−k)), with η² = SSB/SST as the unit-free
# effect size (the events_dow_strength convention at the feature
# store's grain). Balances are the scaler table's deterministic
# integer cents (floor(x·100 + 0.5) — FP dust rule), so the per-group
# power sums n_g, Σx, Σx² are EXACT int64 (cents ≤ ~1.1e6 ⇒ squares
# ≤ ~1.2e12/row — safe past 7e6 rows per group; beyond, DECIMAL(38)).
# The cents rule is shared with the scaler-parameter table below.
_SCALE_CENTS = "CAST(floor(c_acctbal * 100e0 + 0.5e0) AS BIGINT)"

# Each group's s_g²/n_g term is half-up quantized to INTEGER cents²
# (one IEEE multiply + divide, then floor — error ≤ 0.5 cents² per
# group against sums ~1e17) so the across-group reduction is an
# EXACT int64 sum, never an order-dependent double sum; the
# remaining algebra runs ONE identical exactly-rounded IEEE
# expression tree in both engines: SST = Σx² − (Σx)²/n, SSB =
# Σ_g ⌊s_g²/n_g⌉ − (Σx)²/n, SSW = SST − SSB, then F and η² are
# single divisions micro-quantized via floor(x·1e6 + 0.5);
# degenerate shapes (k < 2, n ≤ k, SSW = 0) guard NULL. SSB is
# two-sided clamped to [0, SST] (r11 + r12 ADVICE, the Theil-family
# convention): ssq's per-group half-up quantization can push SSB up
# to 0.5·k cents² BELOW 0 when group means are near-equal, and the
# same +0.5·k overshoot can push it marginally ABOVE SST when the
# within-group variance is ~0 — the upper clamp keeps SSW = SST − SSB
# non-negative and η² = SSB/SST in [0, 1] by construction. Both
# clamps are the same least(greatest(·)) fragment in both engines so
# determinism is preserved, and SSW uses the clamped SSB so
# SSB + SSW = SST still holds.

_ANOVA_SST = (
    "(CAST(s2 AS DOUBLE) - (CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) / n)"
)
_ANOVA_SSB = (
    "least(greatest(CAST(ssq AS DOUBLE)"
    " - (CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) / n, 0e0), "
    f"{_ANOVA_SST})"
)

_ANOVA_ORACLE = f"""
    WITH g AS (
        SELECT c_mktsegment,
               CAST(count(*) AS BIGINT) AS n_g,
               CAST(sum({_SCALE_CENTS}) AS BIGINT) AS s_g,
               CAST(sum({_SCALE_CENTS} * {_SCALE_CENTS}) AS BIGINT) AS s2_g
        FROM customer GROUP BY 1
    ),
    t AS (
        SELECT CAST(count(*) AS BIGINT) AS k,
               CAST(sum(n_g) AS BIGINT) AS n,
               CAST(sum(s_g) AS BIGINT) AS s1,
               CAST(sum(s2_g) AS BIGINT) AS s2,
               CAST(sum(CAST(floor((CAST(s_g AS DOUBLE)
                                    * CAST(s_g AS DOUBLE)) / n_g
                                   + 0.5e0) AS BIGINT)) AS BIGINT) AS ssq
        FROM g
    ),
    ss AS (
        SELECT k, n,
               {_ANOVA_SSB} AS ssb,
               {_ANOVA_SST} - {_ANOVA_SSB} AS ssw
        FROM t
    )
    SELECT k AS n_groups, n AS n_rows,
           CAST(k - 1 AS BIGINT) AS df_between,
           CAST(n - k AS BIGINT) AS df_within,
           CASE WHEN k > 1 AND n > k AND ssw > 0 THEN
               CAST(floor((ssb / (k - 1)) / (ssw / (n - k))
                          * 1000000e0 + 0.5e0) AS BIGINT) / 1000000e0
           END AS f_stat,
           CASE WHEN ssb + ssw > 0 THEN
               CAST(floor(ssb / (ssb + ssw) * 1000000e0 + 0.5e0)
                    AS BIGINT) / 1000000e0
           END AS eta_squared
    FROM ss
"""


@register("features_anova_f", _ANOVA_ORACLE)
def features_anova_f(spark, sf_dir):
    """One-way ANOVA F of customer account balance (exact integer
    cents) across market segments, with η² effect size — the
    numeric-feature selection screen beside features_chi2_selection /
    features_mutual_information. See the section comment for the
    exact-sums determinism contract and degenerate-shape guards.

    Scale: ONE map-side-combined aggregate over customer producing
    three int64 power sums per segment; the sum-of-squares algebra
    runs on the |segments|-row relation and the final scalars reduce
    a handful of rows. No window, no second scan."""
    cents = F.expr(_SCALE_CENTS)
    g = load_table(spark, sf_dir, "customer").groupBy("c_mktsegment").agg(
        F.count("*").cast("bigint").alias("n_g"),
        F.sum(cents).cast("bigint").alias("s_g"),
        F.sum(cents * cents).cast("bigint").alias("s2_g"),
    )
    t = g.agg(
        F.count("*").cast("bigint").alias("k"),
        F.sum("n_g").cast("bigint").alias("n"),
        F.sum("s_g").cast("bigint").alias("s1"),
        F.sum("s2_g").cast("bigint").alias("s2"),
        F.sum(
            F.expr(
                "CAST(floor((CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE))"
                " / n_g + 0.5e0) AS BIGINT)"
            )
        )
        .cast("bigint")
        .alias("ssq"),
    )
    ss = t.select(
        "k",
        "n",
        F.expr(_ANOVA_SSB).alias("ssb"),
        F.expr(f"{_ANOVA_SST} - {_ANOVA_SSB}").alias("ssw"),
    )
    return ss.select(
        F.col("k").alias("n_groups"),
        F.col("n").alias("n_rows"),
        (F.col("k") - 1).cast("bigint").alias("df_between"),
        (F.col("n") - F.col("k")).cast("bigint").alias("df_within"),
        F.when(
            (F.col("k") > 1) & (F.col("n") > F.col("k")) & (F.col("ssw") > 0),
            F.expr(
                micro_units_sql("(ssb / (k - 1)) / (ssw / (n - k))") + " / 1000000e0"
            ),
        ).alias("f_stat"),
        F.when(
            F.col("ssb") + F.col("ssw") > 0,
            F.expr(micro_units_sql("ssb / (ssb + ssw)") + " / 1000000e0"),
        ).alias("eta_squared"),
    )


# --- PCA quality axis via integer power iteration (round 11) -----------------
#
# Collapse four mechanically-correlated document quality heuristics
# (char length, token count, distinct-token count, stopword count)
# into their top principal component — the "document size/quality
# axis" a curation pipeline scores on instead of four redundant
# columns. PCA runs on the CORRELATION matrix (scale-free: chars and
# tokens live on different units), whose top eigenvector comes from
# K = 24 unrolled power-iteration steps in EXACT integer micro-units
# (the events_markov_stationary kernel, generalized to signed
# entries):
#
#   - the features are exact int64 COUNTS per document, so Σx, Σx²,
#     Σxy are order-proof integer sums (one pass, map-side
#     combinable; products ≤ ~1e8 per row keep the int64 SUMS safe
#     past 1e10 documents — but the driver-mirror equivalence below
#     additionally needs every sum < 2⁵³ (~9e7 documents at these
#     magnitudes), because past that Python's exact-rational int/int
#     division and SQL's convert-then-divide can differ by an ulp;
#     beyond either bound the partials step to DECIMAL(38) and the
#     mirror to explicit float() conversion);
#   - cov/var/corr run the IDENTICAL exactly-rounded IEEE expression
#     tree in both engines (the whitening contract), then quantize
#     once to BIGINT micro via floor(x·1e6 + 0.5); zero-variance
#     features contribute corr = 0 (the whitening convention);
#   - each step is w_j = Σ_i v_i·c_ij (pure int64 — |v| ≤ 1e6,
#     |c| ≤ 1e6, d = 4 ⇒ |w| ≤ 4e12), renormalized to max-abs 1e6
#     via ONE double division + floor (sign-split so no negative
#     integer-division channel exists between the engines);
#   - the eigenvalue is the Rayleigh quotient of the final iterate,
#     numerator de-scaled by a sign-split abs-div (exact, signed),
#     one double division, micro-quantized; var_share = λ/trace
#     likewise. Signs canonicalize by making the largest-|loading|
#     entry (smallest index on ties) positive.
#
# The d×d iteration is metadata-scale and runs driver-side on the
# COLLECTED one-row moment aggregate (the whitening docstring's
# stated architecture: the distributed part is the moment pass, the
# eigen-step is a bounded driver computation — IVF bounded-collect
# precedent), replicating the oracle's CTE arithmetic op-for-op:
# Python ints are exact like BIGINT, Python floats are the same IEEE
# doubles, so results are bit-identical. Convergence here is real,
# not assumed: the four counts correlate ≥ 0.6 pairwise, giving
# λ₂/λ₁ ≈ 0.14 — (0.14)²⁴ is far below micro resolution (the
# embedding table was measured near-isotropic, λ₂/λ₁ ≈ 0.99, and
# rejected as a PCA target for exactly this reason).

_PCA_ITERS = 24
_PCA_FEATURES = ("n_chars", "n_tokens", "n_distinct", "n_stopwords")
_PCA_D = len(_PCA_FEATURES)


def _pca_feature_sql() -> dict[int, str]:
    from .operators import text as X

    stop = ", ".join(f"'{w}'" for w in X.EN_STOPWORDS)
    return {
        1: "CAST(length(text) AS BIGINT)",
        2: f"CAST(len({X.tokens_sql()}) AS BIGINT)",
        3: f"CAST(len(list_distinct({X.tokens_sql()})) AS BIGINT)",
        4: (
            f"CAST(len(list_filter({X.tokens_sql()},"
            f" t -> t IN ({stop}))) AS BIGINT)"
        ),
    }


def _pca_cov_sql(i: int, j: int) -> str:
    lo, hi = min(i, j), max(i, j)
    return (
        f"(CAST(s{lo}{hi} AS DOUBLE) / n"
        f" - (CAST(s{lo} AS DOUBLE) / n) * (CAST(s{hi} AS DOUBLE) / n))"
    )


def _pca_corr_micro_sql(i: int, j: int) -> str:
    vi, vj = _pca_cov_sql(i, i), _pca_cov_sql(j, j)
    return (
        f"CASE WHEN {vi} * {vj} > 0 THEN"
        f" {micro_units_sql(f'{_pca_cov_sql(i, j)} / sqrt({vi} * {vj})')} ELSE 0 END"
    )


def _pca_oracle() -> str:
    d = _PCA_D
    fx = _pca_feature_sql()
    feat_cols = ", ".join(f"{fx[i]} AS x{i}" for i in range(1, d + 1))
    sums = [f"CAST(count(*) AS BIGINT) AS n"]
    for i in range(1, d + 1):
        sums.append(f"CAST(sum(x{i}) AS BIGINT) AS s{i}")
        for j in range(i, d + 1):
            sums.append(f"CAST(sum(x{i} * x{j}) AS BIGINT) AS s{i}{j}")
    cq = "\n        UNION ALL ".join(
        f"SELECT {i} AS i, {j} AS j, {_pca_corr_micro_sql(i, j)} AS cmv"
        " FROM mo"
        for i in range(1, d + 1)
        for j in range(i, d + 1)
    )
    dims = ", ".join(f"({i})" for i in range(1, d + 1))
    iters = ",\n    ".join(
        f"""w{k} AS MATERIALIZED (
        SELECT cm.j AS dim, CAST(sum(v.vm * cm.cmv) AS BIGINT) AS w
        FROM v{k - 1} v JOIN cm ON cm.i = v.dim GROUP BY 1
    ),
    mx{k} AS MATERIALIZED (
        SELECT greatest(CAST(max(abs(w)) AS BIGINT),
                        CAST(1 AS BIGINT)) AS mx
        FROM w{k}
    ),
    v{k} AS MATERIALIZED (
        SELECT dim,
               CAST((CASE WHEN w >= 0 THEN 1 ELSE -1 END)
                    * floor(abs(CAST(w AS DOUBLE)) / mx
                            * 1000000e0 + 0.5e0) AS BIGINT) AS vm
        FROM w{k} CROSS JOIN mx{k}
    )"""
        for k in range(1, _PCA_ITERS + 1)
    )
    names = " ".join(
        f"WHEN {i} THEN '{_PCA_FEATURES[i - 1]}'" for i in range(1, d + 1)
    )
    return f"""
    WITH feats AS MATERIALIZED (SELECT {feat_cols} FROM documents),
    mo AS MATERIALIZED (SELECT {", ".join(sums)} FROM feats),
    cq AS MATERIALIZED (
        {cq}
    ),
    cm AS MATERIALIZED (
        SELECT i, j, cmv FROM cq
        UNION ALL
        SELECT j, i, cmv FROM cq WHERE i <> j
    ),
    v0 AS MATERIALIZED (
        SELECT CAST(t.i AS INT) AS dim, CAST(1000000 AS BIGINT) AS vm
        FROM (VALUES {dims}) t(i)
    ),
    {iters},
    u AS MATERIALIZED (
        SELECT cm.j AS dim, CAST(sum(v.vm * cm.cmv) AS BIGINT) AS w
        FROM v{_PCA_ITERS} v JOIN cm ON cm.i = v.dim GROUP BY 1
    ),
    up AS (
        SELECT dim,
               CAST((CASE WHEN w >= 0 THEN 1 ELSE -1 END)
                    * (abs(w) // 1000000) AS BIGINT) AS u2
        FROM u
    ),
    ray AS (
        SELECT CAST(sum(v.vm * up.u2) AS BIGINT) AS num,
               CAST(sum(v.vm * v.vm) AS BIGINT) AS den
        FROM v{_PCA_ITERS} v JOIN up ON up.dim = v.dim
    ),
    mxf AS (
        SELECT CAST(max(abs(vm)) AS BIGINT) AS ma FROM v{_PCA_ITERS}
    ),
    pick AS (
        SELECT min(dim) AS d0 FROM v{_PCA_ITERS} CROSS JOIN mxf
        WHERE abs(vm) = ma
    ),
    sgn AS (
        SELECT CASE WHEN v.vm >= 0 THEN 1 ELSE -1 END AS s
        FROM v{_PCA_ITERS} v JOIN pick ON v.dim = pick.d0
    ),
    vf AS (
        SELECT dim, CAST(v.vm * sgn.s AS BIGINT) AS vm
        FROM v{_PCA_ITERS} v CROSS JOIN sgn
    ),
    tr AS (SELECT CAST(sum(cmv) AS BIGINT) AS tr FROM cq WHERE i = j),
    lam AS (
        SELECT CASE WHEN den > 0 THEN
                   CAST(floor(CAST(num AS DOUBLE) / CAST(den AS DOUBLE)
                              * 1000000e0 + 0.5e0) AS BIGINT)
               END AS lam_micro
        FROM ray
    )
    SELECT CASE vf.dim {names} END AS feature,
           round(vf.vm / 1000000e0, 6) + 0.0 AS loading,
           CASE WHEN lam.lam_micro IS NOT NULL THEN
               round(lam.lam_micro / 1000000e0, 6) + 0.0 END AS eigenvalue,
           CASE WHEN lam.lam_micro IS NOT NULL AND tr.tr > 0 THEN
               CAST(floor(CAST(lam.lam_micro AS DOUBLE)
                          / CAST(tr.tr AS DOUBLE)
                          * 1000000e0 + 0.5e0) AS BIGINT) / 1000000e0
           END AS var_share,
           mo.n AS n_docs
    FROM vf CROSS JOIN lam CROSS JOIN tr CROSS JOIN ray CROSS JOIN mo
"""


@register("features_pca_quality_axis", _pca_oracle(), headline=True)
def features_pca_quality_axis(spark, sf_dir):
    """Top principal component of the correlation matrix of four
    document quality counts (chars, tokens, distinct tokens,
    stopwords) via K = 24 integer-exact power-iteration steps —
    loadings, eigenvalue (Rayleigh quotient), and explained-variance
    share. See the section comment for the full determinism contract
    and why the correlation matrix (not raw covariance, not the
    near-isotropic embedding table) is the right PCA target here.

    Scale: the ONLY corpus-scale work is one projection computing
    four int64 counts per document and ONE 15-column moment aggregate
    (map-side combinable, no shuffle beyond the final single-row
    reduce); the 4×4 eigen-iteration is metadata on the collected
    moment row (bounded driver collect, IVF precedent), and the
    result re-enters Spark as a 4-row literal DataFrame."""
    import math as _m

    from .operators import text as X

    d = _PCA_D
    docs = load_table(spark, sf_dir, "documents")
    stop = ", ".join(f"'{w}'" for w in X.EN_STOPWORDS)
    feats = docs.select(X.tokens().alias("toks"), "text").select(
        F.length("text").cast("bigint").alias("x1"),
        F.size("toks").cast("bigint").alias("x2"),
        F.size(F.array_distinct("toks")).cast("bigint").alias("x3"),
        F.expr(f"CAST(size(filter(toks, t -> t IN ({stop}))) AS BIGINT)")
        .alias("x4"),
    )
    aggs = [F.count("*").cast("bigint").alias("n")]
    for i in range(1, d + 1):
        aggs.append(F.sum(f"x{i}").cast("bigint").alias(f"s{i}"))
        for j in range(i, d + 1):
            aggs.append(
                F.sum(F.col(f"x{i}") * F.col(f"x{j}"))
                .cast("bigint")
                .alias(f"s{i}{j}")
            )
    mo = feats.agg(*aggs).collect()[0]
    schema = (
        "feature string, loading double, eigenvalue double,"
        " var_share double, n_docs long"
    )
    n = mo["n"]
    if n == 0:
        # mirror the oracle's empty-input shape: v0's 4 dims survive
        # to the final SELECT with zeroed correlations (NaN variances
        # fail the > 0 guard), NULL eigenvalue/share, n_docs 0
        return local_frame(
            spark,
            [(f, 0.0, None, None, 0) for f in _PCA_FEATURES], schema
        )

    def cov(i, j):
        lo, hi = min(i, j), max(i, j)
        return mo[f"s{lo}{hi}"] / n - (mo[f"s{lo}"] / n) * (mo[f"s{hi}"] / n)

    def corr_micro(i, j):
        vi, vj = cov(i, i), cov(j, j)
        if vi * vj > 0:
            return int(
                _m.floor(cov(i, j) / _m.sqrt(vi * vj) * 1e6 + 0.5)
            )
        return 0

    cm = {
        (i, j): corr_micro(i, j)
        for i in range(1, d + 1)
        for j in range(1, d + 1)
    }
    v = [10**6] * d
    for _ in range(_PCA_ITERS):
        w = [
            sum(v[i - 1] * cm[(i, j)] for i in range(1, d + 1))
            for j in range(1, d + 1)
        ]
        mx = max(max(abs(x) for x in w), 1)
        v = [
            (1 if x >= 0 else -1) * _m.floor(abs(x) / mx * 1e6 + 0.5)
            for x in w
        ]
    u = [
        sum(v[i - 1] * cm[(i, j)] for i in range(1, d + 1))
        for j in range(1, d + 1)
    ]
    u2 = [(1 if x >= 0 else -1) * (abs(x) // 10**6) for x in u]
    num = sum(v[j] * u2[j] for j in range(d))
    den = sum(x * x for x in v)
    lam_micro = (
        int(_m.floor(num / den * 1e6 + 0.5)) if den > 0 else None
    )
    ma = max(abs(x) for x in v)
    d0 = min(i for i in range(d) if abs(v[i]) == ma)
    s = 1 if v[d0] >= 0 else -1
    vf = [x * s for x in v]
    tr = sum(cm[(i, i)] for i in range(1, d + 1))
    eigenvalue = lam_micro / 1e6 if lam_micro is not None else None
    var_share = (
        _m.floor(lam_micro / tr * 1e6 + 0.5) / 1e6
        if lam_micro is not None and tr > 0
        else None
    )
    rows = [
        (
            _PCA_FEATURES[j],
            vf[j] / 1e6,
            eigenvalue,
            var_share,
            n,
        )
        for j in range(d)
    ]
    return local_frame(spark, rows, schema)


# --- feature scaling parameter table (round 10) -------------------------------
#
# The fit-side of a train/serve feature scaler: per market segment,
# the min/max and mean/std of customer account balance — the exact
# parameter table a training pipeline persists so online serving can
# apply the identical transform (the train/serve-skew audit's
# prevention twin). Balances become DETERMINISTIC integer cents via
# floor(x·100 + 0.5) (c_acctbal carries FP dust, so "exact cents"
# must be defined by a rule, not assumed); Σcents and Σcents² are
# int64-exact order-proof sums, the variance rational runs in DOUBLE
# (exactly-rounded IEEE), and mean/std are micro-unit quantized.

# (defined up with the ANOVA screen, which shares the cents rule)

_SCALING_ORACLE = f"""
    WITH c AS (SELECT c_mktsegment, {_SCALE_CENTS} AS cents FROM customer),
    m AS (
        SELECT c_mktsegment,
               CAST(count(*) AS BIGINT) AS n,
               CAST(min(cents) AS BIGINT) AS min_cents,
               CAST(max(cents) AS BIGINT) AS max_cents,
               CAST(sum(cents) AS BIGINT) AS s,
               CAST(sum(cents * cents) AS BIGINT) AS q
        FROM c GROUP BY 1
    )
    SELECT c_mktsegment, n, min_cents, max_cents,
           round(CAST(floor(CAST(s AS DOUBLE) / n / 100e0
                            * 1000000e0 + 0.5e0) AS BIGINT)
                 / 1000000e0, 6) AS mean_bal,
           round(CAST(floor(sqrt((CAST(n AS DOUBLE) * q
                                  - CAST(s AS DOUBLE) * s)
                                 / (CAST(n AS DOUBLE) * n)) / 100e0
                            * 1000000e0 + 0.5e0) AS BIGINT)
                 / 1000000e0, 6) AS std_bal
    FROM m
"""


@register("features_scaling_params", _SCALING_ORACLE)
def features_scaling_params(spark, sf_dir):
    """Per-segment min-max and z-score scaling parameters for
    customer account balance — the persisted fit artifact that keeps
    a feature's train-time and serve-time transforms identical. See
    the section comment for the integer-cents determinism contract
    (Σcents² int64 ceiling ~9e13 customers at |cents| <= 1e6,
    documented like the dow chi²).

    Scale: ONE map-side-combined aggregate over customer producing
    five int64 statistics per segment; the mean/std algebra runs on
    the |segments|-row relation."""
    cents = F.expr(_SCALE_CENTS)
    m = (
        load_table(spark, sf_dir, "customer")
        .select("c_mktsegment", cents.alias("cents"))
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.min("cents").cast("bigint").alias("min_cents"),
            F.max("cents").cast("bigint").alias("max_cents"),
            F.sum("cents").cast("bigint").alias("s"),
            F.sum(F.col("cents") * F.col("cents"))
            .cast("bigint")
            .alias("q"),
        )
    )
    return m.select(
        "c_mktsegment",
        "n",
        "min_cents",
        "max_cents",
        F.expr(micro6_sql("CAST(s AS DOUBLE) / n / 100e0")).alias("mean_bal"),
        F.expr(micro6_sql(
            "sqrt((CAST(n AS DOUBLE) * q"
            " - CAST(s AS DOUBLE) * s)"
            " / (CAST(n AS DOUBLE) * n)) / 100e0"
        )).alias("std_bal"),
    )
