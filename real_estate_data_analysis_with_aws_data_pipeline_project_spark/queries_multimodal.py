"""Multimodal + streaming driver-contract queries ([ext]).

The multimodal metadata query is oracle-checkable (scalar projections
of the payload); feature extraction and frame sampling stay rows-only
(Pandas-UDF output shapes the SQL oracle cannot express). The
streaming jobs all carry full oracles since r5: each availableNow run
over the bounded file source is deterministic and equals its batch
twin, which has been oracle-green since r1.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .operators.multimodal import (
    encode_mp4_payloads,
    encode_wav_payloads,
    extract_features,
    pack_payloads,
)
from .registry import register
from .sources.catalog import load_table
from .queries_events import _OHLC_ORACLE
from .streaming import (
    QUANTILE_ACCURACY,
    RATE_LIMIT_THRESHOLD,
    SESSION_GAP_US,
    streaming_window_quantiles,
    streaming_click_purchase_join,
    streaming_dedup_events,
    streaming_ohlc_bars,
    streaming_rate_limit_windows,
    streaming_session_window,
    streaming_stateful_user_stats,
    streaming_tumbling_counts,
    streaming_user_activity_tws,
)


@register(
    "multimodal_payload_meta",
    """
    SELECT doc_id, 'utf8-text' AS media_format,
           CAST(length(text) AS BIGINT) AS n_bytes,
           md5(text) AS checksum, source
    FROM documents
    """,
)
def multimodal_payload_meta(spark, sf_dir):
    """Binary payload packing: the metadata surface of the multimodal
    table (byte length + md5 checksum computed on the binary payload
    column). Text is ASCII here, so octet length == char length and
    the oracle can recompute both on the string."""
    packed = pack_payloads(load_table(spark, sf_dir, "documents"))
    return packed.select(
        "doc_id",
        "media_format",
        F.col("meta.n_bytes").alias("n_bytes"),
        F.col("meta.checksum").alias("checksum"),
        F.col("meta.source").alias("source"),
    )


@register("multimodal_features", None)  # Pandas-UDF path → rows-only
def multimodal_features(spark, sf_dir):
    """mapInPandas feature extraction over binary payloads (16-bin
    byte histogram + mean/std). Deterministic; shape/partitioning
    asserted in tests, rows-only for the driver — the oracle-checked
    companion is multimodal_features_audit."""
    packed = pack_payloads(load_table(spark, sf_dir, "documents"))
    return extract_features(packed)


@register(
    "multimodal_features_audit",
    """
    WITH codes AS (
        SELECT doc_id,
               CAST(length(text) AS BIGINT) AS n_bytes,
               list_transform(string_split(text, ''),
                              x -> CAST(ascii(x) AS DOUBLE)) AS c
        FROM documents
        -- ADVICE r6: a zero-length doc would make every ratio below
        -- NULL while the Spark extractor emits 0.0 features — exclude
        -- empties on BOTH sides so the engines agree if the corpus
        -- ever grows one.
        WHERE length(text) > 0
    )
    SELECT doc_id,
           n_bytes,
           CAST(18 AS INT) AS n_features,
           round(list_aggregate(c, 'avg'), 4) AS mean_byte,
           round(list_aggregate(c, 'stddev_pop'), 4) AS std_byte,
           round(CAST(len(list_filter(c, x -> floor(x / 16) = 6))
                      AS DOUBLE) / n_bytes, 4) AS hist_bin6
    FROM codes
    """,
)
def multimodal_features_audit(spark, sf_dir):
    """Oracle-checked companion to multimodal_features (VERDICT r5
    #5): deterministic SCALAR projections of the Pandas-UDF feature
    vector — byte count, vector width, mean/std byte value, and the
    bin-6 histogram density — recomputed by DuckDB from the document
    characters (ASCII corpus, so char codes == payload bytes). The
    features themselves come from the SAME mapInPandas extraction the
    rows-only query runs, so a decode or histogram regression breaks
    the hash here. Both sides exclude zero-length payloads (ADVICE
    r6); the byte-vs-codepoint equivalence the oracle leans on is
    pinned by the ASCII-corpus invariant test in
    tests/test_ext_operators.py."""
    packed = pack_payloads(load_table(spark, sf_dir, "documents"))
    feats = extract_features(packed.where(F.col("meta.n_bytes") > 0))
    f = F.col("features")
    return feats.select(
        "doc_id",
        F.col("n_bytes").cast("bigint").alias("n_bytes"),
        F.size(f).alias("n_features"),
        F.round(F.element_at(f, 17), 4).alias("mean_byte"),
        F.round(F.element_at(f, 18), 4).alias("std_byte"),
        F.round(F.element_at(f, 7), 4).alias("hist_bin6"),
    )


def _container_audit(container):
    """(doc_id, media_format, n_samples, container_bytes, mean_byte,
    std_byte, hist_bin6): the decoded container's byte statistics from
    the shared feature extractor beside its measured binary length.
    ``container`` feeds both join sides, so callers checkpoint it."""
    feats = extract_features(container)
    sizes = container.select(
        "doc_id", F.length("payload").cast("bigint").alias("container_bytes")
    )
    f = F.col("features")
    return (
        feats.join(sizes, "doc_id")
        .select(
            "doc_id",
            "media_format",
            F.col("n_bytes").cast("bigint").alias("n_samples"),
            "container_bytes",
            F.round(F.element_at(f, 17), 4).alias("mean_byte"),
            F.round(F.element_at(f, 18), 4).alias("std_byte"),
            F.round(F.element_at(f, 7), 4).alias("hist_bin6"),
        )
    )


@register(
    "multimodal_wav_audit",
    """
    WITH codes AS (
        SELECT doc_id,
               CAST(length(text) AS BIGINT) AS n_samples,
               list_transform(string_split(text, ''),
                              x -> CAST(ascii(x) AS DOUBLE)) AS c
        FROM documents
        WHERE length(text) > 0
    )
    SELECT doc_id,
           'audio/wav' AS media_format,
           n_samples,
           -- RIFF(8) + WAVE(4) + fmt chunk(8+16) + data header(8)
           -- + 2 bytes per 16-bit sample
           CAST(44 + 2 * n_samples AS BIGINT) AS container_bytes,
           round(list_aggregate(c, 'avg'), 4) AS mean_byte,
           round(list_aggregate(c, 'stddev_pop'), 4) AS std_byte,
           round(CAST(len(list_filter(c, x -> floor(x / 16) = 6))
                      AS DOUBLE) / n_samples, 4) AS hist_bin6
    FROM codes
    """,
)
def multimodal_wav_audit(spark, sf_dir):
    """Oracle-checked REAL-media-codec round-trip (VERDICT r13 #4):
    each document's bytes are packed into a genuine RIFF/WAVE 16-bit
    PCM container (``encode_wav_payloads``), then decoded back through
    the registry's ``audio/wav`` decoder inside the SAME mapInPandas
    feature extraction the rows-only query uses. The sample mapping
    ``b*257 - 32768`` makes the decoder's ``(s + 32768) // 256``
    scaling an exact inverse, so the decoded uint8 stream equals the
    original text bytes and DuckDB can recompute every feature from
    the document characters. Any regression in the container
    assembly, RIFF chunk walk, PCM scaling, or histogram features
    breaks the hash; ``container_bytes`` (measured with F.length on
    the binary column, not derived) pins the encoder's exact
    container size. Closes the "no real binary media format flows
    end-to-end" gap — the third oracle-green multimodal audit."""
    docs = load_table(spark, sf_dir, "documents").where(
        F.length("text") > 0
    )
    # checkpointed: the container relation feeds BOTH join sides
    # (features and measured sizes) — without it the full encode
    # mapInPandas runs twice (r14 review; the _seq_day_increments
    # convention for reused relations)
    wav = encode_wav_payloads(docs).localCheckpoint(eager=True)
    return _container_audit(wav)


@register(
    "multimodal_mp4_audit",
    """
    WITH codes AS (
        SELECT doc_id,
               CAST(length(text) AS BIGINT) AS n_samples,
               list_transform(string_split(text, ''),
                              x -> CAST(ascii(x) AS DOUBLE)) AS c
        FROM documents
        -- RAW0 frame width is u16, so the audit covers 1..65535-byte
        -- docs on BOTH sides (the corpus is well inside the bound;
        -- the filter keeps the contract explicit)
        WHERE length(text) BETWEEN 1 AND 65535
    )
    SELECT doc_id,
           'video/mp4;codecs=raw' AS media_format,
           n_samples,
           -- ftyp(16) + moov(16) + mdat headers(8+8) + RAW0 header(9)
           -- + 1 byte per pixel sample
           CAST(57 + n_samples AS BIGINT) AS container_bytes,
           round(list_aggregate(c, 'avg'), 4) AS mean_byte,
           round(list_aggregate(c, 'stddev_pop'), 4) AS std_byte,
           round(CAST(len(list_filter(c, x -> floor(x / 16) = 6))
                      AS DOUBLE) / n_samples, 4) AS hist_bin6
    FROM codes
    """,
)
def multimodal_mp4_audit(spark, sf_dir):
    """Oracle-checked MP4 demux→decode round-trip (VERDICT r14 #5 —
    the demux-level audit closing the MP4 row the way the WAV audit
    closed audio): each document's bytes become one w×1×1 RAW0
    rawvideo frame inside a genuine ISO-BMFF box tree
    (``encode_mp4_payloads``: ftyp + moov + TWO mdat boxes splitting
    the elementary stream), then flow back through the registry's
    ``video/mp4;codecs=raw`` decoder — box-header walk, largesize
    rules, multi-mdat concatenation, RAW0 geometry check — inside the
    SAME mapInPandas feature extraction the rows-only query uses. The
    no-padding geometry (frame width = byte count) makes the decoded
    pixel stream equal the original text bytes, so DuckDB recomputes
    every feature from the document characters; ``container_bytes``
    (measured with F.length on the binary column) pins the exact
    57 + n box layout, so any drift in the encoder or the demuxer's
    accounting breaks the hash. Compressed-codec decode (H.264 …)
    remains the documented external-library boundary — the container
    and the codec SEAM are now both oracle-audited."""
    docs = load_table(spark, sf_dir, "documents").where(
        (F.length("text") >= 1) & (F.length("text") <= 65535)
    )
    # checkpointed: the container relation feeds BOTH join sides
    # (features and measured sizes) — the multimodal_wav_audit
    # convention for reused mapInPandas relations
    mp4 = encode_mp4_payloads(docs).localCheckpoint(eager=True)
    return _container_audit(mp4)


# r5: these three streaming jobs were rows-only since r1, but their
# availableNow runs are DETERMINISTIC (complete/update-mode memory
# sinks over a single-file source; float sums rounded exactly like
# their oracle-green batch twins) — so they carry the batch oracles
# now, upgrading the driver check from rows-only to full hash-match.

# The µs gap and the job's "30 minutes" duration string are both built
# from streaming.jobs.SESSION_GAP_MINUTES — one definition (ADVICE r5).
_STREAM_SESSION_GAP_US = SESSION_GAP_US


@register(
    "streaming_tumbling_counts",
    """
    SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S')
               AS window_start,
           event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 2) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def q_streaming_tumbling_counts(spark, sf_dir):
    """Structured Streaming: watermark + tumbling window counts via a
    memory sink driven to completion (availableNow). Complete-mode
    output over a bounded source equals the batch aggregation, so the
    oracle is events_tumbling_window's."""
    return streaming_tumbling_counts(spark, sf_dir)


@register(
    "streaming_session_window",
    f"""
    WITH o AS (
        SELECT user_id, ts, event_id,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS prev_ts
        FROM events
    ),
    m AS (
        SELECT *, CASE WHEN prev_ts IS NULL
                       OR epoch_us(ts) - epoch_us(prev_ts)
                          >= {_STREAM_SESSION_GAP_US}
                  THEN 1 ELSE 0 END AS new_s
        FROM o
    ),
    s AS (
        -- (ts, event_id) tiebreak, same as the lag — see the batch
        -- _SESSION_ORACLE note on same-ts session-boundary siblings
        SELECT *, sum(new_s) OVER (
            PARTITION BY user_id ORDER BY ts, event_id
            ROWS UNBOUNDED PRECEDING
        ) AS sid
        FROM m
    )
    SELECT user_id,
           CAST(epoch_us(min(ts)) AS BIGINT) AS session_start_us,
           CAST(epoch_us(max(ts)) + {_STREAM_SESSION_GAP_US} AS BIGINT)
               AS session_end_us,
           CAST(count(*) AS BIGINT) AS n_events
    FROM s
    GROUP BY user_id, sid
    """,
)
def q_streaming_session_window(spark, sf_dir):
    """Structured Streaming: watermarked session windows per user.
    Session boundaries are integer microseconds (gaps-and-islands
    oracle, same shape as the oracle-green events_session_window)."""
    return streaming_session_window(spark, sf_dir)


@register(
    "streaming_stateful_user_stats",
    """
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 2) AS total_value,
           max(value) AS max_value
    FROM events GROUP BY user_id
    """,
)
def q_streaming_stateful_user_stats(spark, sf_dir):
    """Structured Streaming: applyInPandasWithState custom stateful
    per-user running stats. One update-mode emission per user over the
    bounded source; count/max are exact and the float total is rounded
    identically on both sides."""
    return streaming_stateful_user_stats(spark, sf_dir)


@register(
    "streaming_dedup_events",
    """
    SELECT event_type, CAST(count(DISTINCT event_id) AS BIGINT)
               AS n_unique_events
    FROM events GROUP BY event_type
    """,
)
def q_streaming_dedup_events(spark, sf_dir):
    """Structured Streaming: watermarked dropDuplicates over an
    at-least-once (self-unioned) stream — the one streaming job whose
    output is deterministic enough to carry a full DuckDB oracle (the
    dedup of a doubled stream equals the batch distinct counts)."""
    return streaming_dedup_events(spark, sf_dir)


@register(
    "streaming_click_purchase_join",
    """
    SELECT c.user_id,
           c.event_id AS click_id,
           p.event_id AS purchase_id,
           CAST((epoch_us(p.ts) - epoch_us(c.ts)) // 1000000 AS BIGINT)
               AS gap_seconds
    FROM events c
    JOIN events p
      ON p.user_id = c.user_id
     AND p.ts >= c.ts
     AND p.ts <= c.ts + INTERVAL 30 MINUTE
    WHERE c.event_type = 'click' AND p.event_type = 'purchase'
    """,
)
def q_streaming_click_purchase_join(spark, sf_dir):
    """Structured Streaming: watermarked stream-stream interval join
    (purchases to same-user clicks within 30 min). Inner-join matches
    emit eagerly, so the availableNow output equals the batch interval
    join — a second streaming job with a full DuckDB oracle."""
    return streaming_click_purchase_join(spark, sf_dir)


@register(
    "streaming_user_activity_tws",
    """
    SELECT user_id,
           CAST(count(DISTINCT event_type) AS BIGINT) AS n_event_types,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(max(epoch_us(ts)) AS BIGINT) AS max_ts_us
    FROM events GROUP BY user_id
    """,
)
def q_streaming_user_activity_tws(spark, sf_dir):
    """Structured Streaming: per-user activity profile folded with
    applyInPandasWithState (one (count, max ts, distinct types) state
    row per user). Counts and integer max only,
    so the availableNow output carries a full DuckDB oracle."""
    return streaming_user_activity_tws(spark, sf_dir)


@register("streaming_ohlc_bars", _OHLC_ORACLE)
def q_streaming_ohlc_bars(spark, sf_dir):
    """Structured Streaming: watermarked hourly OHLC bars per event
    type. Open/close are min_by/max_by over the (ts, event_id) struct
    — streaming-capable aggregates, so the bar is ONE watermarked
    aggregation; complete mode over the bounded source equals the
    batch events_ohlc_bars, whose oracle this reuses."""
    return streaming_ohlc_bars(spark, sf_dir)


@register(
    "streaming_rate_limit_windows",
    f"""
    WITH w AS (
        SELECT user_id,
               unnest([time_bucket(INTERVAL '30 minutes', ts),
                       time_bucket(INTERVAL '30 minutes', ts)
                           - INTERVAL '30 minutes']) AS ws
        FROM events
    )
    SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
           user_id,
           CAST(count(*) AS BIGINT) AS n_in_window
    FROM w
    GROUP BY ws, user_id
    HAVING count(*) >= {RATE_LIMIT_THRESHOLD}
    """,
)
def q_streaming_rate_limit_windows(spark, sf_dir):
    """Structured Streaming: watermarked sliding-window (1 h every
    30 min) per-user burst audit — the streaming twin of
    events_rate_limit_audit. Each event belongs to exactly two
    epoch-aligned windows, so the oracle unnests both bucket starts
    and regroups; complete mode over the bounded source equals it."""
    return streaming_rate_limit_windows(spark, sf_dir)


_SWQ_ORACLE = """
    WITH e AS (
        SELECT event_type,
               strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
               value, event_id
        FROM events
    ),
    r AS (
        SELECT e.*, row_number() OVER (
                   PARTITION BY day, event_type ORDER BY value, event_id
               ) AS rn,
               count(*) OVER (PARTITION BY day, event_type) AS n
        FROM e
    ),
    px AS (
        SELECT day, event_type, CAST(max(n) AS BIGINT) AS n_events,
               max(CASE WHEN rn = (50 * n + 99) // 100 THEN value END)
                   AS p50_exact,
               max(CASE WHEN rn = (90 * n + 99) // 100 THEN value END)
                   AS p90_exact
        FROM r GROUP BY day, event_type
    )
    SELECT day, event_type, n_events, p50_exact, p90_exact,
           TRUE AS p50_within, TRUE AS p90_within
    FROM px
"""


@register("streaming_window_quantiles", _SWQ_ORACLE)
def q_streaming_window_quantiles(spark, sf_dir):
    """Structured Streaming: watermarked daily percentile_approx
    sketches per event type (the mergeable quantile aggregate inside a
    streaming window), envelope-audited against exact batch rank
    picks — the sketch value must land within the percentile_approx
    rank-error bound of the exact order statistic, the sketch-envelope
    oracle convention. The envelope half-width is DERIVED from the
    group size (max(2, ceil(n/QUANTILE_ACCURACY) + 1), ADVICE r7) so
    the TRUE-asserting oracle survives denser event tables instead of
    assuming every (day, event_type) group stays under 2×accuracy
    rows. Exact picks use the deterministic (value, event_id) order,
    so both engines select identical data values."""
    from pyspark.sql import Window as W

    sk = streaming_window_quantiles(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    pw = W.partitionBy("day", "event_type")
    r = ev.select(
        "event_type",
        F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias(
            "day"
        ),
        "value",
        "event_id",
    ).select(
        "*",
        F.row_number()
        .over(pw.orderBy("value", "event_id"))
        .alias("rn"),
        F.count("*").over(pw).alias("n"),
    )

    def pick(p, sign=0):
        rank = F.expr(f"({p} * n + 99) div 100")
        if sign:
            # percentile_approx's rank error is bounded by
            # n / accuracy; the +1 absorbs the pick's own ceil and the
            # 2 floors small groups (was a fixed ±2 that silently
            # assumed n < 2 * QUANTILE_ACCURACY).
            off = F.greatest(
                F.lit(2),
                F.expr(
                    f"CAST(ceil(n / {QUANTILE_ACCURACY}) AS INT) + 1"
                ),
            )
            rank = rank + sign * off
        rank = F.greatest(F.lit(1), F.least(F.col("n"), rank))
        return F.max(F.when(F.col("rn") == rank, F.col("value")))

    px = r.groupBy("day", "event_type").agg(
        F.max("n").cast("bigint").alias("n_events"),
        pick(50).alias("p50_exact"),
        pick(90).alias("p90_exact"),
        pick(50, -1).alias("p50_lo"),
        pick(50, 1).alias("p50_hi"),
        pick(90, -1).alias("p90_lo"),
        pick(90, 1).alias("p90_hi"),
    )
    j = sk.select(
        "day", "event_type", "p50_approx", "p90_approx"
    ).join(px, ["day", "event_type"])
    return j.select(
        "day",
        "event_type",
        "n_events",
        "p50_exact",
        "p90_exact",
        (
            (F.col("p50_approx") >= F.col("p50_lo"))
            & (F.col("p50_approx") <= F.col("p50_hi"))
        ).alias("p50_within"),
        (
            (F.col("p90_approx") >= F.col("p90_lo"))
            & (F.col("p90_approx") <= F.col("p90_hi"))
        ).alias("p90_within"),
    )


@register("multimodal_frame_sample", None)  # Pandas-UDF path → rows-only
def multimodal_frame_sample(spark, sf_dir):
    """Frame-sample + resize over binary payloads (every 4th 32-byte
    frame, zero-padded to 16 bytes): the video-pipeline plumbing shape
    with a deterministic fake chunker standing in for the codec. The
    oracle-checked companion is multimodal_frame_audit."""
    from .operators.multimodal import sample_frames

    packed = pack_payloads(load_table(spark, sf_dir, "documents"))
    return sample_frames(packed)


@register(
    "multimodal_frame_audit",
    """
    SELECT doc_id,
           CAST(floor((ceiling(length(text) / 32.0) - 1) / 4) + 1
                AS BIGINT) AS n_frames,
           CAST(4 * floor((ceiling(length(text) / 32.0) - 1) / 4)
                AS BIGINT) AS max_frame_idx,
           CASE WHEN length(text) >= 16
                THEN md5(substring(text, 1, 16)) END
               AS first_frame_checksum
    FROM documents
    -- ADVICE r6: the frame formula would emit (n_frames=0,
    -- max_frame_idx=-4) for an empty doc, but sample_frames yields no
    -- frames so the Spark groupBy drops the doc — exclude empties on
    -- both sides.
    WHERE length(text) > 0
    """,
)
def multimodal_frame_audit(spark, sf_dir):
    """Oracle-checked companion to multimodal_frame_sample (VERDICT r5
    #5): per-document frame count, last sampled frame index, and the
    md5 of the first 16-byte resized frame, aggregated from the SAME
    mapInPandas chunker the rows-only query runs. DuckDB recomputes
    all three from the document text (frames are every 4th 32-byte
    chunk; the first frame needs no zero padding when the document has
    >= 16 bytes, which the guard makes explicit — md5 here is
    VARCHAR-only, so a NUL-padded short frame is NULL on both sides
    rather than silently wrong). Zero-length payloads are excluded on
    both sides (ADVICE r6): the chunker yields no frames for them, so
    keeping them in the oracle would fabricate an (0, -4) row."""
    from .operators.multimodal import sample_frames

    packed = pack_payloads(load_table(spark, sf_dir, "documents")).where(
        F.col("meta.n_bytes") > 0
    )
    frames = sample_frames(packed)
    agg = frames.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_frames"),
        F.max("frame_idx").cast("bigint").alias("max_frame_idx"),
        F.max(
            F.when(F.col("frame_idx") == 0, F.col("frame_checksum"))
        ).alias("_first_ck"),
    )
    sizes = packed.select("doc_id", F.col("meta.n_bytes").alias("_nb"))
    return agg.join(sizes, "doc_id").select(
        "doc_id",
        "n_frames",
        "max_frame_idx",
        F.when(F.col("_nb") >= 16, F.col("_first_ck")).alias(
            "first_frame_checksum"
        ),
    )
