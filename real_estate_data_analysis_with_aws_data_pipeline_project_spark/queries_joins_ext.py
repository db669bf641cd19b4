"""As-of / range join queries ([ext] — SURVEY.md §2.3 completions).

DuckDB has a native ASOF JOIN, which makes these fully
oracle-checkable: the Spark union-and-carry / bucketed implementations
must reproduce the textbook semantics exactly.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .operators.asof import asof_join, range_join_bucketed
from .operators.events import sessionize
from .registry import register
from .sources.catalog import load_table

_ASOF_ORACLE = """
    WITH clicks AS (
        SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    ),
    purch AS (
        SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'
    )
    SELECT c.event_id, c.user_id,
           CAST(epoch_us(p.ts) AS BIGINT) AS last_purchase_us,
           p.value AS last_purchase_value
    FROM clicks c ASOF LEFT JOIN purch p
      ON c.user_id = p.user_id AND c.ts >= p.ts
"""


@register("join_asof_last_purchase", _ASOF_ORACLE)
def join_asof_last_purchase(spark, sf_dir):
    """As-of join: for every click, the user's most recent purchase at
    or before the click. Spark side runs the union-and-carry pattern
    (one shuffle on user_id); oracle is DuckDB's native ASOF JOIN."""
    events = load_table(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    joined = asof_join(clicks, purchases, key="user_id", carry_cols=["value"])
    return joined.select(
        "event_id",
        "user_id",
        F.unix_micros("asof_ts").alias("last_purchase_us"),
        F.col("asof_value").alias("last_purchase_value"),
    )


_ASOF_FWD_ORACLE = """
    WITH clicks AS (
        SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    ),
    purch AS (
        SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'
    )
    SELECT c.event_id, c.user_id,
           CAST(epoch_us(p.ts) AS BIGINT) AS next_purchase_us,
           p.value AS next_purchase_value
    FROM clicks c ASOF LEFT JOIN purch p
      ON c.user_id = p.user_id AND c.ts <= p.ts
"""


@register("join_asof_next_event", _ASOF_FWD_ORACLE)
def join_asof_next_event(spark, sf_dir):
    """FORWARD as-of join (r4): for every click, the user's first
    purchase at or after the click — the conversion-attribution shape.
    Same union-and-carry plan as the backward as-of with the running
    window flipped to first() over the FOLLOWING frame; oracle is
    DuckDB's native ASOF with the inequality reversed."""
    events = load_table(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    joined = asof_join(
        clicks, purchases, key="user_id", carry_cols=["value"],
        direction="forward",
    )
    return joined.select(
        "event_id",
        "user_id",
        F.unix_micros("asof_ts").alias("next_purchase_us"),
        F.col("asof_value").alias("next_purchase_value"),
    )


_RANGE_ORACLE = """
    SELECT o.o_orderkey, CAST(count(*) AS BIGINT) AS n_shipped_in_week
    FROM orders o
    JOIN lineitem l
      ON CAST(l.l_shipdate AS DATE) >= CAST(o.o_orderdate AS DATE)
     AND CAST(l.l_shipdate AS DATE) < CAST(o.o_orderdate AS DATE) + 7
    WHERE o.o_orderkey < 200
    GROUP BY o.o_orderkey
"""


@register("join_range_bucketed", _RANGE_ORACLE)
def join_range_bucketed(spark, sf_dir):
    """Pure range join (no equi key): lineitems shipped within a week
    of each order's date, for a capped order set. Spark side buckets
    the date axis (7-day buckets) so the non-equi predicate becomes an
    equi-join on bucket + exact filter — the plan that scales instead
    of the O(n·m) nested loop; oracle is the direct range join."""
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 200)
        .select("o_orderkey", "o_orderdate")
    )
    lineitem = load_table(spark, sf_dir, "lineitem").select("l_shipdate")
    joined = range_join_bucketed(
        lineitem,
        F.to_date("l_shipdate"),
        orders,
        F.to_date("o_orderdate"),
        F.date_add(F.to_date("o_orderdate"), 7),
        bucket_width_days=7,
    )
    return joined.groupBy("o_orderkey").agg(
        F.count("*").alias("n_shipped_in_week")
    )


# --- interval OVERLAP join (round 8) ----------------------------------------

# the session gap is the shared single definition (queries_corpus and
# queries_events import it the same way)
from .streaming.jobs import SESSION_GAP_US as _OVL_GAP_US  # noqa: E402

_OVL_BUCKET_US = 3_600_000_000  # 1 h buckets on the µs axis

_OVERLAP_ORACLE = f"""
    WITH o AS (
        SELECT user_id, ts, event_id,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS prev_ts
        FROM events
    ),
    m AS (
        SELECT *, CASE WHEN prev_ts IS NULL
                       OR epoch_us(ts) - epoch_us(prev_ts)
                          >= {_OVL_GAP_US}
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
        SELECT user_id, sid,
               CAST(epoch_us(min(ts)) AS BIGINT) AS start_us,
               CAST(epoch_us(max(ts)) AS BIGINT) AS end_us,
               CAST(count(*) AS BIGINT) AS n_events
        FROM s GROUP BY user_id, sid
    )
    SELECT a.user_id, a.start_us, a.end_us, a.n_events,
           CAST(count(b.user_id) AS BIGINT) AS n_concurrent
    FROM sess a LEFT JOIN sess b
      ON b.user_id <> a.user_id
     AND b.start_us <= a.end_us AND a.start_us <= b.end_us
    GROUP BY a.user_id, a.sid, a.start_us, a.end_us, a.n_events
"""


@register("join_interval_overlap", _OVERLAP_ORACLE, headline=True)
def join_interval_overlap(spark, sf_dir):
    """Interval OVERLAP join (interval × interval — completes the
    as-of / point-in-range / interval-overlap join family): sessionize
    events per user (shared 30-min gap), then count for every session
    how many OTHER users' sessions overlap it in time — the concurrent-
    load shape behind capacity planning and co-occurrence features.

    Spark side: ``interval_overlap_join`` explodes each session into
    the 1 h buckets it touches and equi-joins on bucket with an exact
    overlap filter; a pair sharing several buckets is kept exactly once
    (only the bucket containing max(starts) emits), so the per-session
    count needs no distinct. Oracle is DuckDB's direct non-equi
    self-join (IEJoin) — quadratic candidates there, bucket-bounded
    here, identical rows.

    r16 optimization round (guide §2.4): the self-pair is now KEPT
    (no b_user != a_user filter) and 1 subtracted from the per-session
    count. Equivalence: sessions of one user are strictly time-disjoint
    by construction (a session break requires ts − prev_ts ≥ GAP, so
    start_{{i+1}} ≥ end_i + GAP > end_i), hence the only same-user
    overlap of a session is itself — count(all overlaps) − 1 =
    count(other-user overlaps) exactly, and every session a overlaps
    itself, so the groupBy loses no zero-overlap session and the old
    third plan branch (left join back onto sess) is gone. The previous
    shape ran the sessionize subtree (events shuffle + two windows +
    aggregate) THREE times per invocation — the left-join branch did
    not even reuse the exchange (its scan canonicalized without the
    join's IsNotNull push) — this shape runs it twice, with the
    events exchange AQE-reused between the two.

    Scale: sessionization is one user_id shuffle; join fan-in per
    bucket is (active sessions that hour)², the intrinsic overlap-join
    cost, with AQE splitting any hot hour."""
    from .operators.asof import interval_overlap_join

    s = sessionize(load_table(spark, sf_dir, "events"), _OVL_GAP_US)
    # r17 (guide §5): the session relation feeds BOTH sides of the
    # overlap self-join; the r16 shape still ran the sessionize
    # subtree (events shuffle + two windows + aggregate) twice per
    # invocation because AQE only reused the bottom exchange. The
    # session-grain relation (one row per session — orders of
    # magnitude smaller than events) is checkpointed eagerly so the
    # subtree runs ONCE and both join sides read the materialization.
    sess = s.groupBy("user_id", "sid").agg(
        F.unix_micros(F.min("ts")).cast("bigint").alias("start_us"),
        F.unix_micros(F.max("ts")).cast("bigint").alias("end_us"),
        F.count("*").cast("bigint").alias("n_events"),
    ).localCheckpoint(eager=True)
    a = sess.select(
        F.col("user_id").alias("a_user"),
        F.col("sid").alias("a_sid"),
        F.col("start_us").alias("a_start"),
        F.col("end_us").alias("a_end"),
        F.col("n_events").alias("a_events"),
    )
    b = sess.select(
        F.col("user_id").alias("b_user"),
        F.col("start_us").alias("b_start"),
        F.col("end_us").alias("b_end"),
    )
    pairs = interval_overlap_join(
        a, b, ("a_start", "a_end"), ("b_start", "b_end"), _OVL_BUCKET_US
    )
    # every session overlaps itself exactly once, and same-user
    # sessions are otherwise disjoint (docstring proof) — so group on
    # the full a-side session grain and subtract the self-pair
    return pairs.groupBy("a_user", "a_sid", "a_start", "a_end", "a_events").agg(
        (F.count("*") - F.lit(1)).cast("bigint").alias("n_concurrent")
    ).select(
        F.col("a_user").alias("user_id"),
        F.col("a_start").alias("start_us"),
        F.col("a_end").alias("end_us"),
        F.col("a_events").alias("n_events"),
        "n_concurrent",
    )


# --- as-of join with staleness tolerance (round 10) ---------------------------
#
# The feature-store variant of the backward as-of: a matched value is
# only usable if it is FRESH ENOUGH (here: the purchase happened within
# 3 days before the click) — serving a stale feature is usually worse
# than serving none. The match itself is the plain as-of; the
# tolerance is applied as an exact integer-microsecond comparison that
# NULLs out stale carries, so the semantics compose with the oracle's
# native ASOF JOIN plus one CASE.

_ASOF_TOL_US = 3 * 24 * 3600 * 1_000_000  # 3 days

_ASOF_TOL_ORACLE = f"""
    WITH clicks AS (
        SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    ),
    purch AS (
        SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'
    )
    SELECT c.event_id, c.user_id,
           CASE WHEN epoch_us(c.ts) - epoch_us(p.ts) <= {_ASOF_TOL_US}
                THEN CAST(epoch_us(p.ts) AS BIGINT) END AS last_purchase_us,
           CASE WHEN epoch_us(c.ts) - epoch_us(p.ts) <= {_ASOF_TOL_US}
                THEN p.value END AS last_purchase_value,
           CASE WHEN epoch_us(c.ts) - epoch_us(p.ts) <= {_ASOF_TOL_US}
                THEN CAST(epoch_us(c.ts) - epoch_us(p.ts) AS BIGINT)
           END AS staleness_us
    FROM clicks c ASOF LEFT JOIN purch p
      ON c.user_id = p.user_id AND c.ts >= p.ts
"""


@register("join_asof_tolerance", _ASOF_TOL_ORACLE)
def join_asof_tolerance(spark, sf_dir):
    """Backward as-of join with a 3-day staleness tolerance: for every
    click, the user's most recent prior purchase — but only if it is
    recent enough to serve as a feature; stale matches surface as NULL
    exactly like no-match, plus the integer staleness for the
    freshness histogram a feature store monitors.

    Scale: identical plan to join_asof_last_purchase (union-and-carry,
    ONE shuffle on user_id); the tolerance is a per-row integer
    comparison after the carry — no extra join, no extra shuffle."""
    events = load_table(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    joined = asof_join(clicks, purchases, key="user_id", carry_cols=["value"])
    d = F.unix_micros("ts") - F.unix_micros("asof_ts")
    fresh = F.col("asof_ts").isNotNull() & (d <= _ASOF_TOL_US)
    return joined.select(
        "event_id",
        "user_id",
        F.when(fresh, F.unix_micros("asof_ts")).alias("last_purchase_us"),
        F.when(fresh, F.col("asof_value")).alias("last_purchase_value"),
        F.when(fresh, d).cast("bigint").alias("staleness_us"),
    )
