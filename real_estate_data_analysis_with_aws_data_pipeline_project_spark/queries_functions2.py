"""Join-surface and collection-function completions (round 2):
full-outer join, null-safe equality join, map/struct construction and
access, and higher-order array pipelines. The oracle re-expresses each
output in plain ANSI SQL (CASE/list functions) — the check is on
results, the Spark side exercises the API surface.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .functions.scalar import hex_chunk_int_sql, micro6_sql, micro_units_sql
from .registry import register
from .sources.catalog import load_table

# --- full outer join --------------------------------------------------------

_FULL_OUTER_ORACLE = """
    WITH o AS (
        SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders
        FROM orders GROUP BY o_custkey
    )
    SELECT
        CAST(sum(CASE WHEN c.c_custkey IS NOT NULL AND o.o_custkey IS NOT NULL
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
        CAST(sum(CASE WHEN o.o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS n_customers_without_orders,
        CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS n_orphan_order_keys,
        CAST(coalesce(sum(n_orders), 0) AS BIGINT) AS total_orders
    FROM customer c FULL OUTER JOIN o ON c.c_custkey = o.o_custkey
"""


@register("j4_full_outer_join", _FULL_OUTER_ORACLE)
def j4_full_outer_join(spark, sf_dir):
    """Full-outer join reconciliation: customers vs per-customer order
    counts, reporting matched rows and the unmatched tail on each side
    — the referential-integrity audit shape. Shuffles both sides on
    the key once; at scale the aggregated side is pre-shrunk by its
    groupBy so the join input is keys, not facts."""
    customer = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"))
    )
    j = customer.join(o, customer.c_custkey == o.o_custkey, "full_outer")
    return j.agg(
        F.sum(
            (F.col("c_custkey").isNotNull() & F.col("o_custkey").isNotNull())
            .cast("int")
        )
        .cast("bigint")
        .alias("n_matched"),
        F.sum(F.col("o_custkey").isNull().cast("int"))
        .cast("bigint")
        .alias("n_customers_without_orders"),
        F.sum(F.col("c_custkey").isNull().cast("int"))
        .cast("bigint")
        .alias("n_orphan_order_keys"),
        F.coalesce(F.sum("n_orders"), F.lit(0)).cast("bigint").alias("total_orders"),
    )


# --- null-safe equality join ------------------------------------------------

_NULLSAFE_ORACLE = """
    WITH l AS (
        SELECT o_orderkey, nullif(o_orderkey % 5, 4) AS grp FROM orders
        WHERE o_orderkey < 2000
    ),
    r AS (SELECT DISTINCT nullif(n % 5, 4) AS grp
          FROM (SELECT o_orderkey AS n FROM orders WHERE o_orderkey < 100))
    SELECT l.grp, CAST(count(*) AS BIGINT) AS n_rows
    FROM l JOIN r ON l.grp IS NOT DISTINCT FROM r.grp
    GROUP BY l.grp
"""


@register("j5_null_safe_join", _NULLSAFE_ORACLE)
def j5_null_safe_join(spark, sf_dir):
    """Null-safe equality join (Spark `eqNullSafe` / SQL `<=>` vs
    DuckDB `IS NOT DISTINCT FROM`): NULL keys match NULL keys instead
    of dropping — the semantics dimension tables with sentinel nulls
    need. Same hash-partition join shape as a plain equi-join (null
    hashes to one partition: salt it if the null share is skewed)."""
    orders = load_table(spark, sf_dir, "orders")
    grp = F.nullif(F.col("o_orderkey") % 5, F.lit(4))
    left = orders.filter(F.col("o_orderkey") < 2000).select(
        "o_orderkey", grp.alias("grp")
    )
    right = (
        orders.filter(F.col("o_orderkey") < 100)
        .select(grp.alias("r_grp"))
        .distinct()
    )
    return (
        left.join(right, left.grp.eqNullSafe(right.r_grp))
        .groupBy("grp")
        .agg(F.count("*").alias("n_rows"))
    )


# --- map / struct construction and access ----------------------------------

_MAP_STRUCT_ORACLE = """
    WITH per AS (
        SELECT o_orderpriority,
               CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_open,
               CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_finished,
               CAST(count(*) AS BIGINT) AS n_total
        FROM orders GROUP BY o_orderpriority
    )
    SELECT o_orderpriority, n_open, n_finished,
           n_open AS open_via_map,
           n_total AS total_via_struct
    FROM per
"""


@register("f_map_struct_functions", _MAP_STRUCT_ORACLE)
def f_map_struct_functions(spark, sf_dir):
    """Map/struct surface: per-priority counts packed into a
    map<status,count> (map_from_arrays) and a summary struct, then read
    back out via element_at and struct field access. The oracle checks
    the round-tripped values with plain SQL — complex-type packing must
    be lossless."""
    per = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.sum((F.col("o_orderstatus") == "O").cast("int"))
            .cast("bigint")
            .alias("n_open"),
            F.sum((F.col("o_orderstatus") == "F").cast("int"))
            .cast("bigint")
            .alias("n_finished"),
            F.count("*").alias("n_total"),
        )
    )
    packed = per.select(
        "o_orderpriority",
        "n_open",
        "n_finished",
        F.map_from_arrays(
            F.array(F.lit("O"), F.lit("F")),
            F.array(F.col("n_open"), F.col("n_finished")),
        ).alias("status_map"),
        F.struct(
            F.col("n_total").alias("total"),
            F.col("o_orderpriority").alias("prio"),
        ).alias("summary"),
    )
    return packed.select(
        "o_orderpriority",
        "n_open",
        "n_finished",
        F.element_at("status_map", "O").alias("open_via_map"),
        F.col("summary.total").alias("total_via_struct"),
    )


# --- higher-order array pipeline -------------------------------------------

_HOF_ORACLE = """
    WITH g AS (
        SELECT o_orderpriority,
               list(round(o_totalprice, 2)
                    ORDER BY o_totalprice DESC, o_orderkey) AS prices
        FROM orders GROUP BY o_orderpriority
    ),
    t AS (
        SELECT o_orderpriority, prices[1:5] AS top5 FROM g
    )
    SELECT o_orderpriority,
           CAST(len(top5) AS BIGINT) AS n_top,
           round(top5[1], 2) AS max_price,
           round(list_sum(list_transform(top5, x -> round(x * 0.9, 2))), 2)
               AS discounted_sum,
           CAST(len(list_filter(top5, x -> x > 100000)) AS BIGINT)
               AS n_over_100k
    FROM t
"""


@register("f_higher_order_arrays", _HOF_ORACLE)
def f_higher_order_arrays(spark, sf_dir):
    """Higher-order array functions end-to-end: per-group price vector
    (sort_array of collect_list — deterministic because the sort is on
    the values), slice top-5, transform (10 % discount), aggregate
    (sum), filter (count over threshold). All JVM-side Catalyst array
    expressions — the idiomatic replacement for a per-group Python
    loop."""
    g = (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_orderpriority",
            F.struct(
                F.col("o_totalprice").alias("p"), F.col("o_orderkey").alias("k")
            ).alias("pk"),
        )
        .groupBy("o_orderpriority")
        .agg(F.collect_list("pk").alias("pks"))
    )
    # deterministic order: sort by (-price, orderkey) via struct sort on
    # negated price, then project the rounded price
    ordered = F.transform(
        F.array_sort(
            F.transform(
                "pks",
                lambda s: F.struct(
                    (-s["p"]).alias("np"), s["k"].alias("k"), s["p"].alias("p")
                ),
            )
        ),
        lambda s: F.round(s["p"], 2),
    )
    t = g.select("o_orderpriority", F.slice(ordered, 1, 5).alias("top5"))
    discounted = F.transform("top5", lambda x: F.round(x * 0.9, 2))
    return t.select(
        "o_orderpriority",
        F.size("top5").cast("bigint").alias("n_top"),
        F.round(F.element_at("top5", 1), 2).alias("max_price"),
        F.round(
            F.aggregate(discounted, F.lit(0.0), lambda a, x: a + x), 2
        ).alias("discounted_sum"),
        F.size(F.filter("top5", lambda x: x > 100000))
        .cast("bigint")
        .alias("n_over_100k"),
    )


# --- unpivot / stack --------------------------------------------------------

_UNPIVOT_ORACLE = """
    WITH wide AS (
        SELECT o_orderpriority,
               CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_open,
               CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_finished,
               CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_pending
        FROM orders GROUP BY o_orderpriority
    )
    SELECT o_orderpriority, status, n FROM wide
    UNPIVOT (n FOR status IN (n_open AS 'O', n_finished AS 'F',
                              n_pending AS 'P'))
"""


@register("agg_unpivot_stack", _UNPIVOT_ORACLE)
def agg_unpivot_stack(spark, sf_dir):
    """Unpivot (wide→long): per-priority status counts stacked back
    into (priority, status, n) rows via the stack() generator — the
    inverse of pivot, needed whenever a wide metrics table feeds a
    long-format consumer. Pure per-row generator, no extra shuffle
    beyond the feeding aggregate."""
    wide = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.sum((F.col("o_orderstatus") == "O").cast("int"))
            .cast("bigint")
            .alias("n_open"),
            F.sum((F.col("o_orderstatus") == "F").cast("int"))
            .cast("bigint")
            .alias("n_finished"),
            F.sum((F.col("o_orderstatus") == "P").cast("int"))
            .cast("bigint")
            .alias("n_pending"),
        )
    )
    return wide.select(
        "o_orderpriority",
        F.expr(
            "stack(3, 'O', n_open, 'F', n_finished, 'P', n_pending) "
            "AS (status, n)"
        ),
    )


# --- latest-record-per-key compaction ---------------------------------------

_LATEST_ORACLE = """
    SELECT o_custkey,
           CAST(count(*) OVER () AS BIGINT) AS n_keys,
           o_orderkey AS latest_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS latest_orderdate
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY o_custkey
            ORDER BY o_orderdate DESC, o_orderkey DESC
        ) AS rn
        FROM orders
    ) WHERE rn = 1
"""


@register("dedup_latest_per_key", _LATEST_ORACLE)
def dedup_latest_per_key(spark, sf_dir):
    """CDC log compaction: keep only the newest record per key
    (row_number over (key, ts DESC), deterministic orderkey tiebreak)
    — the upsert-materialization every changelog-consuming table needs.
    Spark plans the per-key top-1 as WindowGroupLimit: partial top-1
    per input partition BEFORE the shuffle, so shuffle volume is
    O(keys), not O(records)."""
    from pyspark.sql import Window

    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )
    latest = (
        load_table(spark, sf_dir, "orders")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    return latest.select(
        "o_custkey",
        F.count("*").over(Window.partitionBy()).alias("n_keys"),
        F.col("o_orderkey").alias("latest_orderkey"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("latest_orderdate"),
    )


# --- recursive CTE date spine (round 2) -------------------------------------
#
# Spark 4 finally supports WITH RECURSIVE; the calendar-spine pattern
# (a dense date axis LEFT JOINed with facts so empty days surface as
# zero rows) is its bread-and-butter warehouse use. Engines format
# dates differently (date_format vs strftime) so the two SQL texts are
# siblings, not one string.

_SPINE_START = "1995-01-01"
_SPINE_END = "1995-03-31"

_SPINE_ORACLE = f"""
    WITH RECURSIVE days(d) AS (
        SELECT DATE '{_SPINE_START}'
        UNION ALL
        SELECT CAST(d + INTERVAL 1 DAY AS DATE) FROM days
        WHERE d < DATE '{_SPINE_END}'
    )
    SELECT strftime(d, '%Y-%m-%d') AS day,
           CAST(count(o.o_orderkey) AS BIGINT) AS n_orders
    FROM days LEFT JOIN orders o ON CAST(o.o_orderdate AS DATE) = d
    GROUP BY d
"""

_SPINE_SPARK_SQL = f"""
    WITH RECURSIVE days(d) AS (
        SELECT DATE '{_SPINE_START}'
        UNION ALL
        SELECT CAST(d + INTERVAL 1 DAY AS DATE) FROM days
        WHERE d < DATE '{_SPINE_END}'
    )
    SELECT date_format(d, 'yyyy-MM-dd') AS day,
           CAST(count(o.o_orderkey) AS BIGINT) AS n_orders
    FROM days LEFT JOIN spine_orders o ON CAST(o.o_orderdate AS DATE) = d
    GROUP BY d
"""


@register("sql_recursive_cte_date_spine", _SPINE_ORACLE)
def sql_recursive_cte_date_spine(spark, sf_dir):
    """Recursive CTE (Spark 4 WITH RECURSIVE): a 90-day calendar spine
    generated by recursion, left-joined with order counts so zero-order
    days appear explicitly — the gap-surfacing dual of
    events_gap_fill_ffill, expressed in pure SQL on both engines."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("spine_orders")
    return spark.sql(_SPINE_SPARK_SQL)


# --- z-order curve (round 2) ------------------------------------------------

_Z_BITS = 8  # 8 bits per dimension → 16-bit z-values


def _zvalue_terms(x: str, y: str, div_op: str) -> str:
    """Bit-interleaved Morton code: z = Σ_b ((x>>b)&1)·4^b + 2·((y>>b)&1)·4^b.
    Integer-only — identical in both engines (`div` vs `//`)."""
    terms = []
    for b in range(_Z_BITS):
        terms.append(f"((({x} {div_op} {2 ** b}) % 2) * {4 ** b})")
        terms.append(f"((({y} {div_op} {2 ** b}) % 2) * {2 * 4 ** b})")
    return " + ".join(terms)


@register(
    "f_zorder_interleave",
    f"""
    SELECT o_orderkey,
           CAST(o_custkey % 256 AS BIGINT) AS x,
           CAST(o_orderkey % 256 AS BIGINT) AS y,
           CAST({_zvalue_terms('(o_custkey % 256)', '(o_orderkey % 256)', '//')}
                AS BIGINT) AS zvalue
    FROM orders WHERE o_orderkey < 500
    """,
)
def f_zorder_interleave(spark, sf_dir):
    """Z-order (Morton) curve: two key dimensions bit-interleaved into
    one sort key, so sorting by zvalue co-locates rows that are close
    in BOTH dimensions — the multi-column data-skipping layout
    (Delta/Iceberg OPTIMIZE ZORDER) expressed as a pure integer
    column; write with sortWithinPartitions("zvalue") and parquet
    row-group min/max stats prune on either dimension."""
    z = F.expr(
        _zvalue_terms("(o_custkey % 256)", "(o_orderkey % 256)", "div")
    ).cast("bigint")
    return (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 500)
        .select(
            "o_orderkey",
            (F.col("o_custkey") % 256).cast("bigint").alias("x"),
            (F.col("o_orderkey") % 256).cast("bigint").alias("y"),
            z.alias("zvalue"),
        )
    )


# --- k-anonymity audit (round 2) --------------------------------------------

_KANON_K = 5

@register(
    "pii_k_anonymity_audit",
    f"""
    WITH g AS (
        SELECT c_mktsegment, c_nationkey, CAST(count(*) AS BIGINT) AS n
        FROM customer GROUP BY c_mktsegment, c_nationkey
    )
    SELECT c_mktsegment, CAST(c_nationkey AS BIGINT) AS c_nationkey, n,
           n < {_KANON_K} AS at_risk
    FROM g
    """,
)
def pii_k_anonymity_audit(spark, sf_dir):
    """k-anonymity audit over quasi-identifiers: every (segment,
    nation) equivalence class with fewer than k=5 members is
    re-identification risk — the privacy gate next to PII redaction
    when person-adjacent records feed a training corpus. One groupBy;
    the mitigation (suppress or generalize flagged classes) filters on
    the at_risk flag."""
    g = (
        load_table(spark, sf_dir, "customer")
        .groupBy("c_mktsegment", F.col("c_nationkey").cast("bigint").alias("c_nationkey"))
        .agg(F.count("*").alias("n"))
    )
    return g.select(
        "c_mktsegment", "c_nationkey", "n", (F.col("n") < _KANON_K).alias("at_risk")
    )


@register(
    "f_try_functions",
    """
    SELECT p_partkey,
           TRY_CAST(p_size AS TINYINT) AS size_tiny,
           CASE WHEN p_retailprice - 900 = 0 THEN NULL
                ELSE round(p_retailprice / (p_retailprice - 900), 4)
           END AS margin_ratio,
           TRY_CAST(substr(p_name, 1, 3) AS BIGINT) AS name_as_number
    FROM part
    WHERE p_partkey < 500
    """,
)
def f_try_functions(spark, sf_dir):
    """ANSI-safety scalar surface: try_cast (overflow → NULL — p_size
    over 127 cannot fit TINYINT), try_divide (divide-by-zero → NULL
    instead of error under ANSI mode), and a try_cast of a
    non-numeric string (→ NULL, no exception). The production posture
    for dirty columns at 100 TB: NULL-and-filter beats
    fail-the-40-minute-job."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") < 500)
    return p.select(
        "p_partkey",
        F.expr("TRY_CAST(p_size AS TINYINT)").alias("size_tiny"),
        F.round(
            F.try_divide(F.col("p_retailprice"), F.col("p_retailprice") - 900), 4
        ).alias("margin_ratio"),
        F.expr("TRY_CAST(substr(p_name, 1, 3) AS BIGINT)").alias("name_as_number"),
    )


# --- SCD2 interval build from a change log (round 7, second batch) ----------

_SCD2_ORACLE = """
    WITH o AS (
        SELECT user_id, ts, event_id, event_type,
               lag(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS prev_type
        FROM events
    ),
    m AS (
        SELECT *, CASE WHEN prev_type IS NULL OR prev_type <> event_type
                       THEN 1 ELSE 0 END AS chg
        FROM o
    ),
    s AS (
        SELECT *, sum(chg) OVER (
            PARTITION BY user_id ORDER BY ts, event_id
            ROWS UNBOUNDED PRECEDING
        ) AS grp
        FROM m
    ),
    iv AS (
        SELECT user_id, grp,
               min(event_type) AS event_type,
               min(ts) AS vf,
               CAST(count(*) AS BIGINT) AS n_events
        FROM s GROUP BY user_id, grp
    ),
    fin AS (
        SELECT *, lead(vf) OVER (
            PARTITION BY user_id ORDER BY grp
        ) AS vt
        FROM iv
    )
    SELECT user_id, event_type,
           strftime(vf, '%Y-%m-%d %H:%M:%S') AS valid_from,
           strftime(vt, '%Y-%m-%d %H:%M:%S') AS valid_to,
           n_events,
           vt IS NULL AS is_current
    FROM fin
"""


@register("cdc_scd2_intervals", _SCD2_ORACLE)
def cdc_scd2_intervals(spark, sf_dir):
    """SCD type-2 dimension build from a change log: per user, each
    run of consecutive identical event_type values becomes one
    validity interval [valid_from, valid_to) — valid_to is the next
    interval's start, NULL (is_current) for the open one. The
    gaps-and-islands → interval construction every warehouse runs to
    turn an event stream into a slowly-changing dimension it can
    as-of join against (join_asof_last_purchase consumes exactly this
    shape).

    Scale: the change-detect lag and the island running sum share ONE
    hash shuffle on user_id; the interval aggregate + lead add one
    more on (user_id, grp) — two Exchanges total for four window/agg
    passes, both keyed on the entity. Deterministic (ts, event_id)
    tiebreaks make same-timestamp change pairs order identically in
    both engines."""
    from pyspark.sql import Window as W

    uw = W.partitionBy("user_id").orderBy("ts", "event_id")
    o = load_table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.lag("event_type").over(uw).alias("prev_type"),
    )
    m = o.withColumn(
        "chg",
        F.when(
            F.col("prev_type").isNull()
            | (F.col("prev_type") != F.col("event_type")),
            1,
        ).otherwise(0),
    )
    s = m.withColumn(
        "grp",
        F.sum("chg").over(
            uw.rowsBetween(W.unboundedPreceding, W.currentRow)
        ),
    )
    iv = s.groupBy("user_id", "grp").agg(
        F.min("event_type").alias("event_type"),
        F.min("ts").alias("vf"),
        F.count("*").cast("bigint").alias("n_events"),
    )
    fin = iv.withColumn(
        "vt", F.lead("vf").over(W.partitionBy("user_id").orderBy("grp"))
    )
    return fin.select(
        "user_id",
        "event_type",
        F.date_format("vf", "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
        F.date_format("vt", "yyyy-MM-dd HH:mm:ss").alias("valid_to"),
        "n_events",
        F.col("vt").isNull().alias("is_current"),
    )


# --- MERGE-style upsert (round 7, second batch) -----------------------------

# Deterministic "update batch": orders with o_orderkey % 10 == 3
# arrive again with a repriced total (+10 %, rounded to cents) and a
# bumped priority; orderkey % 100 == 33 of the batch are brand-new
# keys (shifted beyond the existing key range) — the classic MERGE
# INTO source with both UPDATE and INSERT rows.
_MERGE_BATCH_MOD, _MERGE_BATCH_REM = 10, 3

_MERGE_ORACLE = f"""
    WITH batch AS (
        SELECT o_orderkey + CASE WHEN o_orderkey % 100 = 33
                                 THEN 1000000000 ELSE 0 END AS o_orderkey,
               o_custkey, o_orderstatus,
               CAST(round(o_totalprice * 110.0, 0) AS BIGINT) AS price_cents,
               o_orderdate, 'MERGED' AS o_orderpriority
        FROM orders
        WHERE o_orderkey % {_MERGE_BATCH_MOD} = {_MERGE_BATCH_REM}
    ),
    merged AS (
        SELECT o.o_orderkey, o.o_custkey, o.o_orderstatus,
               CAST(round(o.o_totalprice * 100.0, 0) AS BIGINT) AS price_cents,
               o.o_orderpriority
        FROM orders o LEFT JOIN batch b ON b.o_orderkey = o.o_orderkey
        WHERE b.o_orderkey IS NULL
        UNION ALL
        SELECT o_orderkey, o_custkey, o_orderstatus, price_cents,
               o_orderpriority
        FROM batch
    )
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN o_orderpriority = 'MERGED' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_upserted,
           round(CAST(sum(price_cents) AS DOUBLE) / 100.0, 2) AS total_price,
           CAST(min(o_orderkey) AS BIGINT) AS min_key,
           CAST(max(o_orderkey) AS BIGINT) AS max_key
    FROM merged
    GROUP BY o_orderstatus
"""


@register("cdc_merge_upsert", _MERGE_ORACLE)
def cdc_merge_upsert(spark, sf_dir):
    """MERGE INTO as DataFrame algebra: an update batch (repriced
    rows under existing keys + brand-new shifted keys) merges into
    the orders snapshot — matched keys take the batch row (UPDATE),
    unmatched batch keys append (INSERT), untouched rows pass through
    — expressed as target-anti-join ∪ batch, the exact row-level
    semantics Delta/Iceberg MERGE compiles to. Emits the per-status
    reconciliation (row counts, upserted counts, repriced totals, key
    range — the new-key inserts move max_key). Prices are carried as
    integer CENTS (round(price·100) per row) so the reconciliation sum
    is exact and partition-order-proof — a raw double sum flipped a
    2-dp rounding boundary at sf0.1.

    Scale: ONE hash join on the merge key (the anti side) plus a
    union — no window, no global ordering; at warehouse scale this is
    the copy-on-write MERGE job, and the per-status summary is the
    post-merge audit every CDC pipeline emits."""
    orders = load_table(spark, sf_dir, "orders")
    is_batch = (F.col("o_orderkey") % _MERGE_BATCH_MOD) == _MERGE_BATCH_REM
    batch = orders.where(is_batch).select(
        (
            F.col("o_orderkey")
            + F.when((F.col("o_orderkey") % 100) == 33, 1000000000).otherwise(0)
        ).alias("o_orderkey"),
        "o_custkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 110.0, 0)
        .cast("bigint")
        .alias("price_cents"),
        "o_orderdate",
        F.lit("MERGED").alias("o_orderpriority"),
    )
    cols = [
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "price_cents",
        "o_orderpriority",
    ]
    merged = (
        orders.join(
            batch.select(F.col("o_orderkey").alias("bk")),
            F.col("o_orderkey") == F.col("bk"),
            "left_anti",
        )
        .withColumn(
            "price_cents",
            F.round(F.col("o_totalprice") * 100.0, 0).cast("bigint"),
        )
        .select(*cols)
        .unionByName(batch.select(*cols))
    )
    return merged.groupBy("o_orderstatus").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum(
            F.when(F.col("o_orderpriority") == "MERGED", 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_upserted"),
        F.round(F.sum("price_cents").cast("double") / 100.0, 2).alias(
            "total_price"
        ),
        F.min("o_orderkey").cast("bigint").alias("min_key"),
        F.max("o_orderkey").cast("bigint").alias("max_key"),
    )


# --- incremental materialized-view refresh (round 7, second batch) ----------

_IVM_BATCH_MOD, _IVM_BATCH_REM = 7, 4

_IVM_ORACLE = f"""
    WITH full_mv AS (
        SELECT o_orderstatus,
               CAST(count(*) AS BIGINT) AS n_orders,
               round(CAST(sum(CAST(round(o_totalprice * 100.0, 0) AS BIGINT))
                          AS DOUBLE) / 100.0, 2) AS revenue
        FROM orders GROUP BY o_orderstatus
    )
    SELECT o_orderstatus, n_orders, revenue, TRUE AS incremental_matches
    FROM full_mv
"""


@register("mv_incremental_refresh", _IVM_ORACLE)
def mv_incremental_refresh(spark, sf_dir):
    """Incremental materialized-view maintenance: the revenue-by-status
    view is refreshed by combining the PRE-COMPUTED partial state of
    the old data with the aggregate of only the newly-arrived batch
    (o_orderkey % 7 == 4 plays the delta), merging mergeable state
    (count-sum pairs add) instead of rescanning the base table — and a
    boolean asserts the incrementally-maintained view equals the full
    recompute row-for-row. Revenue state is integer CENTS, so the
    partial-merge sum is exact, the equality is exact, and the oracle
    sum is partition-order-proof.

    Scale: this is THE reason aggregates are kept as mergeable partial
    state — refresh cost is O(delta), not O(base). The combine is a
    union of two tiny (status-grain) aggregates + one re-aggregation;
    the only base-table scan in a real deployment is amortized into
    the stored state (here both passes run so the equality is
    checkable)."""
    orders = load_table(spark, sf_dir, "orders")
    is_delta = (F.col("o_orderkey") % _IVM_BATCH_MOD) == _IVM_BATCH_REM

    cents = F.round(F.col("o_totalprice") * 100.0, 0).cast("bigint")

    def partial(df):
        return df.groupBy("o_orderstatus").agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum(cents).cast("bigint").alias("rev_cents"),
        )

    old_state = partial(orders.where(~is_delta))   # stored partial state
    delta_state = partial(orders.where(is_delta))  # O(delta) refresh work
    incremental = (
        old_state.unionByName(delta_state)
        .groupBy("o_orderstatus")
        .agg(
            F.sum("n_orders").cast("bigint").alias("n_orders"),
            F.sum("rev_cents").cast("bigint").alias("rev_cents"),
        )
    )
    full = orders.groupBy("o_orderstatus").agg(
        F.count("*").cast("bigint").alias("f_n"),
        F.sum(cents).cast("bigint").alias("f_cents"),
    )
    return (
        incremental.join(full, "o_orderstatus")
        .select(
            "o_orderstatus",
            "n_orders",
            F.round(
                F.col("rev_cents").cast("double") / 100.0, 2
            ).alias("revenue"),
            (
                (F.col("n_orders") == F.col("f_n"))
                & (F.col("rev_cents") == F.col("f_cents"))
            ).alias("incremental_matches"),
        )
    )


# --- l-diversity audit (round 8) --------------------------------------------

_LDIV_L = 3  # distinct-sensitive-value floor per equivalence class

_LDIV_ORACLE = f"""
    WITH g AS (
        SELECT c_mktsegment, CAST(c_nationkey AS BIGINT) AS c_nationkey,
               CAST(count(*) AS BIGINT) AS n,
               CAST(count(DISTINCT CAST(floor(c_acctbal / 1000.0) AS BIGINT))
                    AS BIGINT) AS l_distinct
        FROM customer GROUP BY 1, 2
    )
    SELECT c_mktsegment, c_nationkey, n, l_distinct,
           l_distinct < {_LDIV_L} AS at_risk
    FROM g
"""


@register("pii_l_diversity_audit", _LDIV_ORACLE)
def pii_l_diversity_audit(spark, sf_dir):
    """l-diversity audit — the refinement k-anonymity misses: an
    equivalence class can be large (k-anonymous) yet expose its
    members anyway if they all share one SENSITIVE value. Per
    (segment, nation) class: member count, the number of distinct
    sensitive values (account balance in 1000-unit bands), and the
    at-risk flag for classes below l=3 — the homogeneity-attack gate
    that runs next to pii_k_anonymity_audit before person-adjacent
    records feed a corpus.

    Scale: one groupBy with a distinct-count — map-side partial
    distinct aggregation; output is the QI-class relation."""
    g = (
        load_table(spark, sf_dir, "customer")
        .groupBy(
            "c_mktsegment",
            F.col("c_nationkey").cast("bigint").alias("c_nationkey"),
        )
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.countDistinct(
                F.floor(F.col("c_acctbal") / 1000.0).cast("bigint")
            )
            .cast("bigint")
            .alias("l_distinct"),
        )
    )
    return g.select(
        "c_mktsegment",
        "c_nationkey",
        "n",
        "l_distinct",
        (F.col("l_distinct") < _LDIV_L).alias("at_risk"),
    )


# --- t-closeness audit (round 10) --------------------------------------------
#
# The distributional refinement l-diversity misses: a class can hold
# many DISTINCT sensitive values and still leak (e.g. all of them in
# the top band when the population is spread out). t-closeness bounds
# the total-variation distance between each equivalence class's
# sensitive-value distribution and the global one. Exact integer
# form: TV = Σ_v |cv·N − gv·n| / (2·n·N), where absent-in-class
# values contribute gv·n, folded in closed form as n·(N − Σ_present gv)
# so the scan never densifies the (class × value) grid. The at-risk
# flag t > 0.2 is the cross-multiplied integer test 5·numer > 2·n·N
# (no FP boundary); only the REPORTED distance divides (micro-unit
# quantized). int64 ceiling: N·max_cv < 2^63, documented like the
# dow chi².

_TCLOSE_T_NUM, _TCLOSE_T_DEN = 1, 5  # t = NUM/DEN = 0.2

_TCLOSE_ORACLE = f"""
    WITH b AS (
        SELECT c_mktsegment, CAST(c_nationkey AS BIGINT) AS c_nationkey,
               CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS band
        FROM customer
    ),
    c AS (
        SELECT c_mktsegment, c_nationkey, band,
               CAST(count(*) AS BIGINT) AS cv
        FROM b GROUP BY 1, 2, 3
    ),
    g AS (SELECT band, CAST(count(*) AS BIGINT) AS gv FROM b GROUP BY 1),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM b),
    nper AS (
        SELECT c_mktsegment, c_nationkey, CAST(sum(cv) AS BIGINT) AS n
        FROM c GROUP BY 1, 2
    ),
    cls AS (
        SELECT c_mktsegment, c_nationkey,
               CAST(max(n) AS BIGINT) AS n,
               CAST(sum(abs(cv * n_total - gv * n)) AS BIGINT) AS part,
               CAST(sum(gv) AS BIGINT) AS presentg,
               CAST(max(n_total) AS BIGINT) AS n_total
        FROM c JOIN nper USING (c_mktsegment, c_nationkey)
               JOIN g USING (band) CROSS JOIN tot
        GROUP BY 1, 2
    )
    SELECT c_mktsegment, c_nationkey, n,
           round(CAST(floor(CAST(part + n * (n_total - presentg) AS DOUBLE)
                            / (2e0 * n * n_total)
                            * 1000000e0 + 0.5e0) AS BIGINT)
                 / 1000000e0, 6) AS tv_distance,
           {_TCLOSE_T_DEN} * (part + n * (n_total - presentg))
               > 2 * {_TCLOSE_T_NUM} * n * n_total
               AS at_risk
    FROM cls
"""


@register("pii_t_closeness", _TCLOSE_ORACLE)
def pii_t_closeness(spark, sf_dir):
    """t-closeness audit per (segment, nation) equivalence class:
    exact total-variation distance between the class's sensitive
    account-balance band distribution and the global one, with the
    t > 0.2 at-risk flag as a cross-multiplied integer test — the
    third rung of the anonymity ladder after pii_k_anonymity_audit
    and pii_l_diversity_audit. See the section comment for the exact
    integer identity and the absent-band closed form.

    Scale: one (class, band) groupBy over customer, a broadcast join
    against the |bands|-row global histogram and the 1-row total, and
    a per-class aggregate — never a (class × band) densified grid."""
    b = load_table(spark, sf_dir, "customer").select(
        "c_mktsegment",
        F.col("c_nationkey").cast("bigint").alias("c_nationkey"),
        F.floor(F.col("c_acctbal") / 1000.0).cast("bigint").alias("band"),
    )
    c = b.groupBy("c_mktsegment", "c_nationkey", "band").agg(
        F.count("*").cast("bigint").alias("cv")
    )
    g = b.groupBy("band").agg(F.count("*").cast("bigint").alias("gv"))
    tot = b.agg(F.count("*").cast("bigint").alias("n_total"))
    # class sizes first (the |cv·N − gv·n| term needs n per class);
    # a groupBy + key join reuses the (seg, nation) shuffle partitioning
    # instead of adding a window
    nper = c.groupBy("c_mktsegment", "c_nationkey").agg(
        F.sum("cv").cast("bigint").alias("n")
    )
    joined = (
        c.join(nper, ["c_mktsegment", "c_nationkey"])
        .join(F.broadcast(g), "band")
        .crossJoin(F.broadcast(tot))
    )
    cls = joined.groupBy("c_mktsegment", "c_nationkey").agg(
        F.max("n").cast("bigint").alias("n"),
        F.sum(
            F.abs(
                F.col("cv") * F.col("n_total") - F.col("gv") * F.col("n")
            )
        )
        .cast("bigint")
        .alias("part"),
        F.sum("gv").cast("bigint").alias("presentg"),
        F.max("n_total").cast("bigint").alias("n_total"),
    )
    numer = F.col("part") + F.col("n") * (
        F.col("n_total") - F.col("presentg")
    )
    return cls.select(
        "c_mktsegment",
        "c_nationkey",
        "n",
        F.expr(micro6_sql(
            "CAST(part + n * (n_total - presentg) AS DOUBLE) / (2e0 * n * n_total)"
        )).alias("tv_distance"),
        (
            F.lit(_TCLOSE_T_DEN) * numer
            > F.lit(2 * _TCLOSE_T_NUM) * F.col("n") * F.col("n_total")
        ).alias("at_risk"),
    )


# --- seeded-Laplace DP count release, testing twin (round 11) -----------------
#
# The Laplace mechanism for a per-segment count release (ε = 1,
# sensitivity 1 ⇒ scale b = 1): noisy = n + ⌊Lap(b)⌉. TESTING TWIN,
# stated plainly: the noise here is PSEUDO-random — inverse-CDF over
# a uniform derived from md5(segment ‖ salt) — so the release is
# reproducible and oracle-checkable but NOT differentially private
# (an adversary who knows the salt knows the noise; production swaps
# the hash for fresh randomness and keeps every other line — the
# F4 rand(seed) parity-sample precedent for testing stochastic
# operators). Determinism: the 48-bit hex chunk parses exactly in
# both engines (conv vs the 16-power strpos polyfill), u = (h + ½)/2⁴⁸
# is STRICTLY inside (0, 1) by construction (no ln(0) edge at h = 0
# and an exact dyadic double), the Laplace inverse CDF
# −sign(u−½)·b·ln(1−2|u−½|) quantizes its single libm ln to BIGINT
# micro via floor(x·1e6 + 0.5) (the entropy-kernel rule), and the
# rounded integer noise is one more exactly-rounded double floor.

_DP_EPSILON = 1  # b = sensitivity / epsilon = 1
_DP_SALT = "|dp-v1"

_DP_ORACLE = f"""
    WITH g AS (
        SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_true
        FROM customer GROUP BY 1
    ),
    u AS (
        SELECT c_mktsegment, n_true,
               (CAST({hex_chunk_int_sql(
                   f"substr(md5(c_mktsegment || '{_DP_SALT}'), 1, 12)", 12)}
                     AS DOUBLE) + 0.5e0) / 281474976710656e0 AS uu
        FROM g
    ),
    nz AS (
        SELECT c_mktsegment, n_true,
               CASE WHEN uu >= 0.5e0 THEN 1 ELSE -1 END AS sgn,
               CAST(floor(ln(1e0 - 2e0 * abs(uu - 0.5e0))
                          * 1000000e0 + 0.5e0) AS BIGINT) AS lam_micro
        FROM u
    )
    SELECT c_mktsegment,
           n_true,
           round(CAST(-sgn * lam_micro AS BIGINT) / 1000000e0, 6)
               AS noise,
           n_true + CAST(floor(CAST(-sgn * lam_micro AS DOUBLE)
                               / 1000000e0 + 0.5e0) AS BIGINT)
               AS noisy_count,
           CAST({_DP_EPSILON} AS BIGINT) AS epsilon
    FROM nz
"""


@register("pii_dp_noisy_counts", _DP_ORACLE)
def pii_dp_noisy_counts(spark, sf_dir):
    """Laplace-mechanism count release per market segment (ε = 1,
    sensitivity 1) with SEEDED inverse-CDF noise — the deterministic
    testing twin of a differentially-private release: same transform,
    reproducible noise, NOT private until production swaps the hash
    for fresh randomness (see section comment; the true count and
    noise are exposed for exactly that audit purpose).

    Scale: one map-side-combined count aggregate at segment grain;
    the mechanism is per-group scalar arithmetic on the
    metadata-scale group relation — no second scan, no window."""
    g = load_table(spark, sf_dir, "customer").groupBy("c_mktsegment").agg(
        F.count("*").cast("bigint").alias("n_true")
    )
    h = F.md5(
        F.concat(F.col("c_mktsegment"), F.lit(_DP_SALT)).cast("binary")
    )
    u = g.select(
        "c_mktsegment",
        "n_true",
        (
            (
                F.conv(F.substring(h, 1, 12), 16, 10).cast("double")
                + F.lit(0.5)
            )
            / F.lit(281474976710656.0)
        ).alias("uu"),
    )
    nz = u.select(
        "c_mktsegment",
        "n_true",
        F.when(F.col("uu") >= 0.5, 1).otherwise(-1).alias("sgn"),
        F.expr(micro_units_sql("ln(1e0 - 2e0 * abs(uu - 0.5e0))")).alias("lam_micro"),
    )
    return nz.select(
        "c_mktsegment",
        "n_true",
        F.round(
            (-F.col("sgn") * F.col("lam_micro")).cast("bigint")
            / F.expr("1000000e0"),
            6,
        ).alias("noise"),
        (
            F.col("n_true")
            + F.expr(
                "CAST(floor(CAST(-sgn * lam_micro AS DOUBLE)"
                " / 1000000e0 + 0.5e0) AS BIGINT)"
            )
        ).alias("noisy_count"),
        F.lit(_DP_EPSILON).cast("bigint").alias("epsilon"),
    )
