"""Structured Streaming layer ([ext] — SURVEY.md §2.8).

The reference has no streaming (its docx lists it as roadmap); the
engine adds a thin streaming-capable layer running the same window
shapes as queries_events.py through readStream → writeStream:

- file source over the events parquet (stands in for Kafka),
- watermark for late data,
- tumbling-window aggregation,
- session windows,
- applyInPandasWithState, the one custom stateful operator: every
  arbitrary-state tier folds through ``_fold_state``.

Each job drives a memory-sink query to completion synchronously
(processAllAvailable) and returns the result as a DataFrame — so the
driver's rows-only check can execute it like any batch query. At scale
the same code runs continuously with a real source/sink; only the
reader/writer configs change.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.events import tumbling_hour_totals
from ..sources.catalog import normalize_events_ts, table_path, table_schema

# Session gap, defined ONCE (ADVICE r5): the streaming job builds the
# duration string from it and the oracle SQL in queries_multimodal
# builds its microsecond bound from it, so the two cannot silently
# diverge.
SESSION_GAP_MINUTES = 30
SESSION_GAP = f"{SESSION_GAP_MINUTES} minutes"
SESSION_GAP_US = SESSION_GAP_MINUTES * 60 * 1_000_000


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events table. Streams cannot infer
    a schema; the raw schema is the catalog's ``table_schema`` (inferred
    once per session, so building the stream launches no Spark job) and
    ts is normalized by the catalog's own ``normalize_events_ts``."""
    raw_schema = table_schema(spark, sf_dir, "events")
    # The file stream source requires a DIRECTORY path. Single-file
    # layout (current testdata): stream sf_dir with a glob selecting
    # just the events file. Directory layout (if a future generation
    # writes events.parquet/ of parts): stream that directory itself —
    # the glob would silently match ZERO files in that layout.
    import os

    p = table_path(sf_dir, "events")
    if os.path.isdir(p):
        stream = spark.readStream.schema(raw_schema).parquet(p)
    else:
        stream = (
            spark.readStream.schema(raw_schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
    return normalize_events_ts(stream, raw_schema)


# Shuffle width of every streaming query. Each stateful operator keeps
# one state store (directory, commit files, task) per shuffle partition,
# and every tier here folds a DIMENSION-bounded state (event types ×
# windows/buckets — thousands of keys at most), so the batch engine's
# width paid 32 state stores' worth of per-batch commit overhead for
# tiny state: the PSI tier measured 3.9 s at 32 partitions vs 1.8 s at 4.
_STATE_PARTITIONS = "8"


def _run_to_memory(result: DataFrame, name: str, output_mode: str) -> DataFrame:
    """Drive the streaming query to completion into the memory sink
    ``name`` and return that table.

    The query plans at ``_STATE_PARTITIONS``, sized to the state's key
    cardinality rather than the input's core count; the batch shuffle
    width is restored afterwards, also when ``start()`` fails, so only
    the streaming query plans at the narrower width. Results are
    partitioning-independent aggregates either way."""
    spark = result.sparkSession
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", _STATE_PARTITIONS)
        q = (
            result.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.processAllAvailable()
        q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    return spark.table(name)


def streaming_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window counts (1 h windows, 10 min
    watermark) — the streaming twin of events_tumbling_window."""
    agg = tumbling_hour_totals(
        _events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    )
    return _run_to_memory(agg, "stream_tumbling", "complete")


def streaming_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked hourly OHLC bars per event type — the streaming twin
    of events_ohlc_bars. Open/close are min_by/max_by over the
    (event-time, event_id) struct, which ARE streaming-capable
    aggregates (unlike the window-rank formulation the batch query
    uses), so the whole bar is one watermarked aggregation; complete
    mode over the bounded source equals the batch result."""
    key = F.struct("ts", "event_id")
    agg = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.round(F.min_by("value", key), 2).alias("open"),
            F.round(F.max("value"), 2).alias("high"),
            F.round(F.min("value"), 2).alias("low"),
            F.round(F.max_by("value", key), 2).alias("close"),
            F.count("*").cast("bigint").alias("n_events"),
        )
        .select(
            "event_type",
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "bar_start"
            ),
            "open",
            "high",
            "low",
            "close",
            "n_events",
        )
    )
    return _run_to_memory(agg, "stream_ohlc", "complete")


# Burst threshold, defined ONCE (the SESSION_GAP rule): the batch
# trailing-frame audit (queries_events.events_rate_limit_audit) and
# the streaming sliding-window job below flag the same per-user rate.
RATE_LIMIT_THRESHOLD = 2
RATE_WINDOW = "1 hour"
RATE_SLIDE = "30 minutes"


def streaming_rate_limit_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked SLIDING-window rate audit: per-user event counts
    over 1-hour windows sliding every 30 minutes, emitting windows at
    or above the burst threshold — the streaming twin of
    events_rate_limit_audit (ROADMAP r8 #2). The batch audit's exact
    trailing RANGE frame is not streaming-expressible; the sliding
    bucket approximation is (every burst within one hour lands fully
    inside at least one sliding window), and with BUCKETED semantics
    chosen the job carries a full oracle: each event belongs to
    exactly two epoch-aligned 30-min-slide windows, so complete mode
    over the bounded source equals the batch unnest-regroup."""
    agg = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", RATE_WINDOW, RATE_SLIDE).alias("w"), "user_id")
        .agg(F.count("*").cast("bigint").alias("n_in_window"))
        .where(F.col("n_in_window") >= RATE_LIMIT_THRESHOLD)
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "user_id",
            "n_in_window",
        )
    )
    return _run_to_memory(agg, "stream_rate_limit", "complete")


def streaming_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked session windows (30 min gap) per user — streaming
    twin of events_session_window."""
    agg = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", SESSION_GAP).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("session_start_us"),
            F.unix_micros(F.col("w.end")).alias("session_end_us"),
            "n_events",
        )
    )
    return _run_to_memory(agg, "stream_sessions", "complete")


_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("total", T.DoubleType()),
        T.StructField("max_value", T.DoubleType()),
    ]
)
_STATEFUL_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
        T.StructField("max_value", T.DoubleType()),
    ]
)


def _user_stats_fn(key, pdfs: Iterator[pd.DataFrame], state):
    """Custom stateful operator: running per-user count/sum/max kept in
    GroupState across micro-batches."""
    n, total, mx = state.get if state.exists else (0, 0.0, float("-inf"))
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
        if len(pdf):
            mx = max(mx, float(pdf["value"].max()))
    state.update((n, total, mx))
    # raw double out — rounding happens engine-side (F.round) after the
    # stateful op: Python round() is banker's on the binary value and
    # diverges from Spark/DuckDB at exact decimal halves
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "total_value": [total],
            "max_value": [mx],
        }
    )


def streaming_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exactly-once dedup: the events stream unioned with
    itself (every record arrives twice — the at-least-once delivery
    regime) is deduplicated on event_id within the watermark, then
    counted per event type. The result equals the batch per-type
    counts of the original stream, so this streaming job is fully
    ORACLE-checked, not just rows-only.

    ``dropDuplicatesWithinWatermark`` keeps each event_id's state only
    until the watermark passes its first event time plus the 10-minute
    delay, so state is O(events within watermark), the scale-safe
    configuration for at-least-once sources. A plain
    ``dropDuplicates(["event_id"])`` keeps every key forever: the
    watermark evicts its state only when the event-time column is a
    dedup key."""
    doubled = _events_stream(spark, sf_dir).union(_events_stream(spark, sf_dir))
    deduped = (
        doubled.withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "event_type")
    )
    return (
        _run_to_memory(deduped, "stream_dedup_events", "append")
        .groupBy("event_type")
        .agg(F.count("*").alias("n_unique_events"))
    )


def streaming_click_purchase_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stream-stream INNER interval join: purchases joined to the
    same user's clicks within [click_ts, click_ts + 30 min]. Both
    sides are watermarked and the join condition is time-bounded, so
    each side's buffered state is evicted once the watermark passes —
    the only configuration whose state stays O(interval), not
    O(stream). Inner-join matches emit eagerly per micro-batch, so
    the availableNow run's output equals the batch interval join
    exactly (full DuckDB oracle, not rows-only)."""
    clicks = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            "user_id",
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "10 minutes")
    )
    purchases = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "10 minutes")
    )
    joined = clicks.join(
        purchases,
        F.expr(
            """
            user_id = p_user AND
            p_ts >= c_ts AND
            p_ts <= c_ts + INTERVAL 30 MINUTES
            """
        ),
    ).select(
        "user_id",
        "click_id",
        "purchase_id",
        F.expr("(unix_micros(p_ts) - unix_micros(c_ts)) div 1000000")
        .cast("bigint")
        .alias("gap_seconds"),
    )
    return _run_to_memory(joined, "stream_click_purchase", "append")


def _fold_state(src: DataFrame, key: str, fn, out_schema, state_schema) -> DataFrame:
    """The one spelling of the stateful operator: group ``src`` by
    ``key`` and fold each group's rows into its per-key state with
    ``fn(key, pdfs, state)`` (applyInPandasWithState, update mode, no
    timeout). Every stateful tier attaches through here. A deployment
    that wants RocksDB state sets
    ``spark.sql.streaming.stateStore.providerClass`` itself."""
    return src.groupBy(key).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf="NoTimeout",
    )


def streaming_stateful_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandasWithState: arbitrary per-key state (running
    count/sum/max per user) — the custom-stateful-operator surface.
    Arrow-batched; state is a compact 3-field tuple per user, so state
    size is O(users), not O(events)."""
    result = _fold_state(
        _events_stream(spark, sf_dir),
        "user_id",
        _user_stats_fn,
        _STATEFUL_OUT_SCHEMA,
        _STATE_SCHEMA,
    )
    return _run_to_memory(result, "stream_user_stats", "update").select(
        "user_id",
        "n_events",
        F.round("total_value", 2).alias("total_value"),
        "max_value",
    )


def _user_activity_fn(key, pdfs: Iterator[pd.DataFrame], state):
    """Per-user activity fold; state is one (n, mx, distinct-types
    array) row."""
    n, mx, types = state.get if state.exists else (0, None, [])
    seen = set(types)
    for pdf in pdfs:
        n += len(pdf)
        m = int(pdf["ts_us"].max())
        mx = m if mx is None else max(mx, m)
        seen.update(pdf["event_type"].unique().tolist())
    state.update((n, mx, sorted(seen)))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_event_types": [len(seen)],
            "n_events": [n],
            "max_ts_us": [mx],
        }
    )


def streaming_user_activity_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user distinct-event-type count, total events and last event
    time, folded with applyInPandasWithState. Counts and max over
    integers — exact across engines, so unlike the float-summing
    streaming_stateful_user_stats this one carries a full DuckDB
    oracle. The ``_tws`` suffix is the registered query's name."""
    return _run_to_memory(
        user_activity_transform(spark, sf_dir), "stream_user_activity_tws", "update"
    )


def user_activity_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The unstarted per-user activity fold, WITHOUT a sink (the
    psi_cube_transform pattern), so the restart-recovery test can drive
    the production transform through its own checkpointed sink."""
    src = _events_stream(spark, sf_dir).select(
        "user_id", "event_type", F.unix_micros("ts").alias("ts_us")
    )
    return _fold_state(
        src,
        "user_id",
        _user_activity_fn,
        "user_id BIGINT, n_event_types BIGINT, n_events BIGINT, max_ts_us BIGINT",
        "n BIGINT, mx BIGINT, types ARRAY<STRING>",
    )


# approx_percentile sketch accuracy: rank error is bounded by
# n/QUANTILE_ACCURACY per group. The envelope audit
# (streaming_window_quantiles in queries_multimodal.py) derives its
# half-width from this bound and the observed group size, so raising
# corpus density widens the envelope instead of breaking the oracle.
QUANTILE_ACCURACY = 1000


def streaming_window_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked daily value-quantile sketches per event type:
    percentile_approx (a mergeable typed-imperative aggregate, the
    KLL-style sketch Spark ships) inside a streaming tumbling-window
    aggregation — the streaming side of the quantile-alignment audit.
    The registered query wraps this sink with a batch envelope check
    against exact rank picks."""
    agg = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.percentile_approx(
                "value", [0.5, 0.9], QUANTILE_ACCURACY
            ).alias("qs"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd").alias("day"),
            "event_type",
            "n_events",
            F.element_at("qs", 1).alias("p50_approx"),
            F.element_at("qs", 2).alias("p90_approx"),
        )
    )
    return _run_to_memory(agg, "stream_window_quantiles", "complete")


# --- streaming KMV bottom-k distinct tier (round 8) -------------------------
#
# The KMV sketch is a deterministic function of the key SET (bottom-k
# of md5 hashes), so unlike order-sensitive packing the streaming fold
# is EXACTLY the batch sketch no matter how the stream is batched —
# the property that lets this job carry the batch twin's full oracle.
# State per key is the ≤ k smallest distinct hashes: bounded at k
# strings regardless of key cardinality (the 100 TB story — the state
# store never sees the user set, only its bottom-k).


def streaming_kmv_distinct(
    spark: SparkSession, sf_dir: str, k: int
) -> DataFrame:
    """Streaming KMV distinct tier: per event type, fold the stream's
    md5 key hashes into a bottom-k state array and emit the running
    k-th smallest hash — the sketch's whole state in one bounded
    array. The registered query (sketch family) turns the final kth
    hash into the (k−1)/u estimate with the exact arithmetic of the
    batch twin.

    kth_hash is NON-INCREASING across updates (bottom-k only ever
    shrinks), so the final sketch is min(kth_hash) per key even if
    availableNow splits the source into several batches."""
    return _run_to_memory(
        kmv_transform(spark, sf_dir, k), "stream_kmv_distinct", "update"
    )


def kmv_transform(spark: SparkSession, sf_dir: str, k: int) -> DataFrame:
    """The unstarted bottom-k fold, WITHOUT a sink (the
    psi_cube_transform pattern), so the restart-recovery test can drive
    the production transform through its own checkpointed sink."""
    src = _events_stream(spark, sf_dir).select(
        "event_type",
        F.md5(
            F.concat(F.lit("kmv:"), F.col("user_id").cast("string")).cast(
                "binary"
            )
        ).alias("h"),
    )

    def _kmv_fn(key, pdfs: Iterator[pd.DataFrame], state):
        s = set(state.get[0]) if state.exists else set()
        for pdf in pdfs:
            s.update(pdf["h"].tolist())
        merged = sorted(s)[:k]
        state.update((merged,))
        yield pd.DataFrame(
            {
                "event_type": [key[0]],
                "kth_hash": [merged[k - 1] if len(merged) >= k else None],
            }
        )

    return _fold_state(
        src,
        "event_type",
        _kmv_fn,
        "event_type STRING, kth_hash STRING",
        "hs ARRAY<STRING>",
    )


# --- streaming CUSUM change-point tier (round 9) -----------------------------
#
# The offline CUSUM statistic needs the series TOTAL, so it cannot be
# folded one-pass like KMV. What CAN stream is its sufficient
# statistic: the per-day count map. State per key is {day -> count} —
# bounded by the CALENDAR (the same metadata-scale argument the batch
# twin makes for its windows), never by the event stream. Each update
# merges the batch's day counts and recomputes the integer-exact
# argmax from the bounded map; because the final map equals the batch
# day counts regardless of batching, the LAST update per key equals
# the batch query exactly — full oracle, not an envelope. An update
# sequence number in state makes "last" well-defined in the update-
# mode sink without relying on single-batch execution.


def _day_sort_key(d):
    """Total order over day labels including None (NULL ts day): None
    first, matching Spark's nulls-first ASC window ordering in the
    batch twin."""
    return (d is not None, d or "")


def _cusum_peak(days: list, cnts: list):
    """Integer-exact offline CUSUM argmax over an ordered day series:
    S_rk = nd·cum_rk − rk·total (Python ints, arbitrary precision),
    pick by (|S| desc, day asc) — the batch twin's exact order
    (queries_events.py events_cusum_changepoint)."""
    nd = len(days)
    total = sum(cnts)
    cum = 0
    best_day, best_s, found = None, 0, False
    for rk, (d, c) in enumerate(zip(days, cnts), 1):
        cum += c
        s = nd * cum - rk * total
        if not found or abs(s) > abs(best_s):
            best_day, best_s, found = d, s, True
    return nd, best_day, best_s


def _cusum_fold(prev, pdfs) -> tuple:
    """Merge the batch's day counts into the state map ``prev`` (a
    (days, cnts, seq) state tuple, or None for a new key), bump seq,
    and return the new state tuple. NULL days (NULL ts) are counted as
    their own group — value_counts' default dropna would silently drop
    rows the batch twin counts."""
    if prev is None:
        m, seq = {}, 0
    else:
        days, cnts, seq = prev
        m = dict(zip(days, (int(c) for c in cnts)))
    for pdf in pdfs:
        for d, c in pdf["day"].value_counts(dropna=False).items():
            d = None if pd.isna(d) else d
            m[d] = m.get(d, 0) + int(c)
    seq = int(seq) + 1
    days = sorted(m, key=_day_sort_key)
    return days, [m[d] for d in days], seq


def _cusum_fn(key, pdfs: Iterator[pd.DataFrame], state):
    """Fold the batch into the key's day-count map and emit the
    recomputed change-point."""
    days, cnts, seq = _cusum_fold(state.get if state.exists else None, pdfs)
    state.update((days, cnts, seq))
    nd, day, snum = _cusum_peak(days, cnts)
    yield pd.DataFrame(
        {
            "event_type": [key[0]],
            "seq": [seq],
            "n_days": [nd],
            "change_day": [day],
            "snum": [snum],
        }
    )


def cusum_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The unstarted CUSUM fold, WITHOUT a sink (the psi_cube_transform
    pattern), so the restart-recovery test can drive the production
    transform through its own checkpointed sink."""
    src = _events_stream(spark, sf_dir).select(
        "event_type",
        F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias(
            "day"
        ),
    )
    return _fold_state(
        src,
        "event_type",
        _cusum_fn,
        "event_type STRING, seq BIGINT, n_days BIGINT, "
        "change_day STRING, snum BIGINT",
        "days ARRAY<STRING>, cnts ARRAY<LONG>, seq BIGINT",
    )


def streaming_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CUSUM change-point tier: per event type, fold the
    stream into a calendar-bounded day-count map held in
    applyInPandasWithState and emit the recomputed integer-exact CUSUM
    argmax on every update. The registered query (queries_events.py)
    keeps each key's max-seq row and applies the batch twin's exact
    display arithmetic, so it carries the batch twin's full oracle."""
    return _run_to_memory(
        cusum_transform(spark, sf_dir), "stream_cusum_changepoint", "update"
    )


# --- streaming PSI drift tier (round 9) --------------------------------------
#
# PSI vs the pooled reference is, like CUSUM, a two-pass statistic —
# but its SUFFICIENT statistic streams: the (day, bucket) count cube
# per event type (calendar x fixed-bucket bounded). The stateful
# operator only FOLDS the cube; the PSI arithmetic stays in the
# registered query's Spark expressions (queries_quality.psi_from_cube),
# so the streamed report is bit-identical to the batch twin with no
# Python float rounding in the loop at all.


def _psi_fold(prev, pdfs) -> tuple:
    """Merge the batch's (day, bucket) counts into the state cube
    ``prev`` (a (days, buckets, cnts, seq) state tuple, or None for a
    new key), bump seq, and return the new state tuple. NULL
    days/buckets (NULL ts/value) are kept as their own groups — pandas
    groupby's default dropna would silently drop rows the batch twin's
    groupBy counts."""
    if prev is None:
        m, seq = {}, 0
    else:
        days, buckets, cnts, seq = prev
        m = {
            (d, None if b is None else int(b)): int(c)
            for d, b, c in zip(days, buckets, cnts)
        }
    for pdf in pdfs:
        grp = pdf.groupby(["day", "bucket"], dropna=False).size()
        for (d, b), c in grp.items():
            k = (None if pd.isna(d) else d, None if pd.isna(b) else int(b))
            m[k] = m.get(k, 0) + int(c)
    seq = int(seq) + 1
    keys = sorted(
        m,
        key=lambda k: (_day_sort_key(k[0]), k[1] is not None, k[1] or 0),
    )
    return (
        [d for d, _ in keys],
        [b for _, b in keys],
        [m[k] for k in keys],
        seq,
    )


def _psi_fn(key, pdfs: Iterator[pd.DataFrame], state):
    """Fold the batch into the key's cube and re-emit the whole
    (bounded) cube with the update's sequence number."""
    days, buckets, cnts, seq = _psi_fold(state.get if state.exists else None, pdfs)
    state.update((days, buckets, cnts, seq))
    yield pd.DataFrame(
        {
            "event_type": [key[0]] * len(days),
            "seq": [seq] * len(days),
            "day": days,
            "bucket": buckets,
            "c": cnts,
        }
    )


def _day_bucket_cube(spark: SparkSession, sf_dir: str, bucket) -> DataFrame:
    """The unstarted (day, bucket) cube fold per event type, WITHOUT a
    sink, so callers can attach their own (the registered queries run
    it to a memory table; the restart-recovery tests run it twice
    through one checkpointLocation). ONE definition shared by every
    cube-shaped tier: the bucket column is opaque to the fold."""
    src = _events_stream(spark, sf_dir).select(
        "event_type",
        F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias(
            "day"
        ),
        bucket.alias("bucket"),
    )
    return _fold_state(
        src,
        "event_type",
        _psi_fn,
        "event_type STRING, seq BIGINT, day STRING, bucket BIGINT, c BIGINT",
        "days ARRAY<STRING>, buckets ARRAY<LONG>, cnts ARRAY<LONG>, seq BIGINT",
    )


def psi_cube_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The unstarted PSI cube fold (bucket = ``psi_bucket_col``): the
    state every derived PSI-cube tier shares, testable for restart
    recovery against the production transform."""
    from ..queries_quality import psi_bucket_col

    return _day_bucket_cube(spark, sf_dir, psi_bucket_col())


def benford_digit_col():
    """Leading decimal digit (1-9) of the value cents as a BIGINT;
    NULL when the value is NULL or below one cent — NULL stays its
    own cube group (the fold keeps it), and the gate query reports it
    as the excluded mass. Digit from the INTEGER cents' decimal
    string: no libm (the dq_benford_chi2_gate rule)."""
    cents = "CAST(floor(value * 100e0 + 0.5e0) AS BIGINT)"
    # a NULL value makes cents NULL, and NULL >= 1 is NULL, so the
    # CASE already yields NULL — no separate IS NOT NULL guard needed
    return F.expr(
        f"CASE WHEN {cents} >= 1"
        f" THEN CAST(substring(CAST({cents} AS STRING), 1, 1) AS BIGINT)"
        " END"
    )


def benford_cube_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The unstarted Benford leading-digit cube: the SAME day-bucket
    fold as the PSI tier (shared fold, state schema and restart story)
    with bucket = leading digit of the event value's cents. State per
    key is calendar × (9 digits + the NULL/sub-cent group) — bounded
    by construction, the smallest cube of any tier."""
    return _day_bucket_cube(spark, sf_dir, benford_digit_col())


def streaming_benford_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Benford tier (round 14): fold the stream into the
    per-type (day, leading-digit) count cube and re-emit it with a
    sequence number, exactly like the PSI cube it shares its fold
    with. The registered gate query keeps each key's latest cube
    (``latest_cube``) and runs the dq_benford_chi2_gate statistic
    over it."""
    return _run_to_memory(
        benford_cube_transform(spark, sf_dir), "stream_benford_cube", "update"
    )


def streaming_psi_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming PSI tier: per event type, fold the stream into the
    calendar-bounded (day, bucket) count cube and re-emit the cube on
    every update with a sequence number. The registered query keeps
    each key's latest cube (``latest_cube``) and runs psi_from_cube
    over it — the batch twin's exact expressions on the exact batch
    cube."""
    return _run_to_memory(
        psi_cube_transform(spark, sf_dir), "stream_psi_cube", "update"
    )


def latest_cube(cube: DataFrame, checkpoint: bool = False) -> DataFrame:
    """(event_type, day, bucket, c) of each key's max-seq emission in
    a streamed cube sink — the fold's final state. One definition of
    the latest-cube selection. max() over a key window, not a
    self-join: a self-join on the memory-sink view trips a
    conflicting-attribute resolution quirk. ``checkpoint=True``
    localCheckpoints the result for reports that consume it in several
    plan branches: plans rooted at the SAME memory-sink view hit a
    conflicting-attribute INTERNAL_ERROR instead of attribute dedup.
    The cube is type × calendar × bucket — metadata-scale, never the
    event stream."""
    from pyspark.sql import Window

    mw = Window.partitionBy("event_type")
    out = (
        cube.withColumn("max_seq", F.max("seq").over(mw))
        .where(F.col("seq") == F.col("max_seq"))
        .select("event_type", "day", "bucket", "c")
    )
    return out.localCheckpoint(eager=True) if checkpoint else out


def psi_cube_day_totals(
    spark: SparkSession,
    sf_dir: str,
    alias: str = "c",
    day_as_date: bool = False,
    checkpoint: bool = False,
) -> DataFrame:
    """Per-type day totals off the streamed PSI cube's FINAL state —
    the shared front half of every derived streaming tier (Fano, ACF,
    volume anomaly, mix entropy, weekday strength, EWMA forecast,
    seasonal anomaly, OLS trend, day-over-day growth, Holt trend
    forecast, day-of-week seasonality): sum the latest cube's buckets
    per (event_type, day). ``checkpoint=True`` localCheckpoints the
    metadata-scale result for reports that consume it in multiple
    branches (also required where the un-checkpointed multi-branch
    self-join fails analysis with conflicting cube references)."""
    day_col = F.to_date("day").alias("day") if day_as_date else F.col("day")
    out = (
        latest_cube(streaming_psi_cube(spark, sf_dir))
        .groupBy("event_type", day_col)
        .agg(F.sum("c").cast("bigint").alias(alias))
    )
    return out.localCheckpoint(eager=True) if checkpoint else out
