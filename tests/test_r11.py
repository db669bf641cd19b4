"""Round-11 operator invariants.

Every query here registered AFTER the r11 window froze (POST_PIN →
r12), so the pin is never at risk; each carries its three-SF strict
oracle sweep plus an independent recompute or exact-invariant test
below."""

from __future__ import annotations

import math

from real_estate_data_analysis_with_aws_data_pipeline_project_spark.api import (
    QUERIES,
)


def test_rm3_matches_driver_side_recompute(spark, sf_dir):
    """Independent full recompute of RM3: collect the corpus token
    lists at test scale, rebuild the expansion-term model and the
    14-term weighted BM25 re-score in plain Python (same constants,
    same micro-unit floors), and require the engine's top-10 to match
    exactly — ids, scores, and the riding bm25_orig column."""
    from real_estate_data_analysis_with_aws_data_pipeline_project_spark import (
        queries_retrieval as R,
    )
    from real_estate_data_analysis_with_aws_data_pipeline_project_spark.operators import (
        text as X,
    )
    from real_estate_data_analysis_with_aws_data_pipeline_project_spark.sources.catalog import (
        load_table,
    )
    from pyspark.sql import functions as F

    docs = {
        r.doc_id: [t for t in r.toks]
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id", X.tokens().alias("toks"))
        .collect()
    }
    k1, b = 1.2, 0.75
    n_docs = len(docs)
    dl = {d: len(t) for d, t in docs.items()}
    avgdl = sum(dl.values()) / n_docs

    def tf(d, term):
        return sum(1 for t in docs[d] if t == term)

    def df(term):
        return sum(1 for d in docs if tf(d, term) > 0)

    def term_score(d, term, dfv):
        idf = round(math.log(1 + (n_docs - dfv + 0.5) / (dfv + 0.5)), 6)
        tfv = tf(d, term)
        return idf * (tfv * (k1 + 1)) / (
            tfv + k1 * (1 - b + b * dl[d] / avgdl)
        )

    # BM25 top-10 pool on the original 4 terms
    dfs = {t: df(t) for t in R._BM25_TERMS}
    bm25 = {
        d: round(sum(term_score(d, t, dfs[t]) for t in R._BM25_TERMS), 4)
        for d in docs
    }
    pool = sorted(docs, key=lambda d: (-bm25[d], d))[: R._PRF_K_DOCS]
    # RM1 candidates: pooled tf, original terms excluded
    cand: dict[str, int] = {}
    for d in pool:
        for t in docs[d]:
            if t and t not in R._BM25_TERMS:
                cand[t] = cand.get(t, 0) + 1
    exp = sorted(cand, key=lambda t: (-cand[t], t))[: R._PRF_K_TERMS]
    s = sum(cand[t] for t in exp)
    weights = [(t, R._RM3_LAMBDA_ORIG_MICRO // len(R._BM25_TERMS))
               for t in R._BM25_TERMS]
    weights += [
        (t, math.floor(R._RM3_LAMBDA_EXP_MICRO * cand[t] / s + 0.5))
        for t in exp
    ]
    all_df = {t: df(t) for t, _ in weights}
    rm3_micro = {
        d: sum(
            math.floor(w * term_score(d, t, all_df[t]) + 0.5)
            for t, w in weights
        )
        for d in docs
    }
    expect = [
        (d, round(rm3_micro[d] / 1e6, 6), bm25[d])
        for d in sorted(docs, key=lambda d: (-rm3_micro[d], d))[
            : R._RM3_TOP_K
        ]
    ]
    got = [
        (r.doc_id, r.rm3_score, r.bm25_orig)
        for r in QUERIES["retrieval_rm3_interpolated"]
        .fn(spark, sf_dir)
        .collect()
    ]
    assert got == expect
    # weight conservation: the interpolated model allocates exactly
    # lambda to the original query and (1-lambda) to the feedback
    # model, up to the per-term half-unit floors
    total_w = sum(w for _, w in weights)
    assert abs(total_w - 1_000_000) <= len(weights)


def test_streaming_ewma_equals_batch(spark, sf_dir):
    """One streamed sufficient statistic, nine reports: the EWMA tier
    reuses the PSI fold's (day, bucket) cube, so its forecast report
    must equal the batch EWMA query row-for-row."""

    def snap(name):
        return {
            (r.event_type, r.day): (
                r.c,
                r.n_prev,
                r.ewma_forecast,
                r.is_alert,
            )
            for r in QUERIES[name].fn(spark, sf_dir).collect()
        }

    stream, batch = snap("streaming_ewma_volume_forecast"), snap(
        "events_ewma_volume_forecast"
    )
    assert stream == batch and stream


def test_ewma_matches_pandas_recompute(spark, sf_dir):
    """Independent recompute: rebuild the binary-EWMA forecast and the
    cross-multiplied alert from the raw (type, day) counts in plain
    Python and require exact agreement, including the >= 4 trailing
    days gate and the recency-weight halving."""
    from real_estate_data_analysis_with_aws_data_pipeline_project_spark import (
        queries_events as E,
    )

    rows = QUERIES["events_ewma_volume_forecast"].fn(spark, sf_dir).collect()
    series: dict[str, list] = {}
    for r in sorted(rows, key=lambda r: (r.event_type, r.day)):
        series.setdefault(r.event_type, []).append(r)
    assert rows
    for et, rs in series.items():
        counts = [r.c for r in rs]
        for t, r in enumerate(rs):
            lags = counts[max(0, t - E._EWMA_LAGS): t][::-1]  # l1 first
            n_prev = len(lags)
            assert r.n_prev == n_prev
            if n_prev < E._EWMA_MIN_PREV:
                assert r.ewma_forecast is None and r.is_alert == 0
                continue
            num = sum(
                E._ewma_weight(i) * v for i, v in enumerate(lags, start=1)
            )
            den = sum(E._ewma_weight(i) for i in range(1, n_prev + 1))
            expect = round(int(num / den * 1e6 + 0.5) / 1e6, 6)
            assert r.ewma_forecast == expect
            alert = int(
                r.c * den >= 2 * num or 2 * r.c * den <= num
            )
            assert r.is_alert == alert


def test_dpp_plan_has_dynamic_pruning(spark, sf_dir):
    """The whole point of join_dynamic_partition_pruning: the
    partitioned fact scan must carry a runtime dynamicpruning
    subquery in its PartitionFilters (static folding of the tier
    filter would read every directory — the rejected CASE-dim variant
    did exactly that), and the result must equal the same rollup over
    the unpartitioned original restricted to the hot tier."""
    from pyspark.sql import functions as F

    from real_estate_data_analysis_with_aws_data_pipeline_project_spark.queries_pipeline import (
        type_catalog,
    )
    from real_estate_data_analysis_with_aws_data_pipeline_project_spark.sources.catalog import (
        load_table,
    )

    df = QUERIES["join_dynamic_partition_pruning"].fn(spark, sf_dir)
    # the dynamicpruning subquery is visible in the DataFrame's own
    # planned PartitionFilters without executing a separate write;
    # the collect() below is the one execution (r11 review)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan
    got = {
        r.event_type: (r.catalog_n, r.n, r.n_users, r.total_value)
        for r in df.collect()
    }
    hot = {
        r.event_type
        for r in type_catalog(spark, sf_dir)
        .where(F.col("tier") == "hot")
        .collect()
    }
    expect = {
        r.event_type: (r.n, r.n, r.n_users, r.total_value)
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .collect()
        if r.event_type in hot
    }
    assert got == expect and got


def test_seasonal_anomaly_matches_pandas_recompute(spark, sf_dir):
    """Independent recompute of the same-weekday alarm: rebuild the
    per-(type, dow) lag series in plain Python from the engine's own
    (day, count) rows and require exact agreement on n_prev, the
    quantized ratio, and the cross-multiplied alert."""
    from real_estate_data_analysis_with_aws_data_pipeline_project_spark import (
        queries_events as E,
    )

    rows = (
        QUERIES["events_seasonal_volume_anomaly"].fn(spark, sf_dir).collect()
    )
    assert rows
    series: dict[tuple, list] = {}
    for r in sorted(rows, key=lambda r: (r.event_type, r.dow, r.day)):
        series.setdefault((r.event_type, r.dow), []).append(r)
    import datetime

    for (et, dow), rs in series.items():
        for r in rs:
            # dow really is the ISO weekday of the day column
            d = datetime.date.fromisoformat(r.day)
            assert d.isoweekday() == r.dow
        counts = [r.c for r in rs]
        for t, r in enumerate(rs):
            prev = counts[max(0, t - E._SEAS_LAGS): t]
            n_prev, s = len(prev), sum(prev)
            assert r.n_prev == n_prev
            if n_prev < E._SEAS_MIN_PREV:
                assert r.dow_ratio is None and r.is_alert == 0
                continue
            expect = round(int(r.c * n_prev / s * 1e6 + 0.5) / 1e6, 6)
            assert r.dow_ratio == expect
            alert = int(r.c * n_prev >= 2 * s or 2 * r.c * n_prev <= s)
            assert r.is_alert == alert


def test_feed_freshness_invariants(spark, sf_dir):
    """Exactly one type lags zero (the freshest feed defines 'now'),
    every lag is a non-negative exact microsecond integer consistent
    with the formatted last_event ordering, and the staleness flag is
    the exact 24 h threshold."""
    from real_estate_data_analysis_with_aws_data_pipeline_project_spark import (
        queries_events as E,
    )

    rows = QUERIES["dq_feed_freshness"].fn(spark, sf_dir).collect()
    assert rows
    assert sum(1 for r in rows if r.lag_us == 0) >= 1
    freshest = min(rows, key=lambda r: r.lag_us)
    assert freshest.lag_us == 0
    for r in rows:
        assert r.lag_us >= 0
        assert r.is_stale == int(r.lag_us > E._FRESH_STALE_US)
        assert r.lag_hours == round(
            int(r.lag_us / 3600000000.0 * 1e6 + 0.5) / 1e6, 6
        )
        # formatted timestamp orders consistently with the lag: any
        # positive lag means a strictly earlier (or second-truncated
        # equal) formatted timestamp, and zero lag means an equal one
        # (r11 review: the first draft compared against the always-
        # true lag_us >= 0 — a tautology)
        if r.lag_us == 0:
            assert r.last_event == freshest.last_event
        else:
            assert r.last_event <= freshest.last_event
            if r.lag_us >= 1_000_000:  # beyond second truncation
                assert r.last_event < freshest.last_event


def test_markov_entropy_rate_consistency(spark, sf_dir):
    """The entropy rate must be consistent with its two parents: the
    per-state stationary mass equals events_markov_stationary's, each
    row entropy is bounded by log2 of that state's out-degree in the
    restricted transition matrix, contributions are the integer
    pi*H products, and the chain rate is their exact sum."""
    import math as _m

    rate_rows = {
        r.state: r
        for r in QUERIES["events_markov_entropy_rate"]
        .fn(spark, sf_dir)
        .collect()
    }
    stat = {
        r.state: r.stationary
        for r in QUERIES["events_markov_stationary"]
        .fn(spark, sf_dir)
        .collect()
    }
    assert set(rate_rows) == set(stat)
    tm = QUERIES["events_transition_matrix"].fn(spark, sf_dir).collect()
    outdeg: dict[str, int] = {}
    for r in tm:
        if r.to_type in stat:  # restricted support
            outdeg[r.from_type] = outdeg.get(r.from_type, 0) + 1
    total = 0
    for s, r in rate_rows.items():
        assert r.stationary == stat[s]
        assert 0.0 <= r.row_entropy_bits <= _m.log2(max(outdeg[s], 1)) + 1e-6
        expect_contrib = round(
            int(r.stationary * 1e6 + 0.5)
            * int(r.row_entropy_bits * 1e6 + 0.5)
            // 1_000_000
            / 1e6,
            6,
        )
        assert abs(r.contribution_bits - expect_contrib) <= 2e-6
        total += int(round(r.contribution_bits * 1e6))
    rates = {r.entropy_rate_bits for r in rate_rows.values()}
    assert len(rates) == 1
    assert abs(next(iter(rates)) - total / 1e6) <= len(rate_rows) / 1e6


def test_ann_recall_audit_consistent_with_parents(spark, sf_dir):
    """The audit's per-query hit counts must equal the actual
    intersection of the two registered parent queries' top-k sets,
    and the mean must be the exact quantized Σhits/(nq·k)."""
    from real_estate_data_analysis_with_aws_data_pipeline_project_spark import (
        queries_similarity as S,
    )

    bf: dict[int, set] = {}
    for r in QUERIES["similarity_topk_bruteforce"].fn(spark, sf_dir).collect():
        bf.setdefault(r.query_id, set()).add(r.neighbor_id)
    lsh: dict[int, set] = {}
    for r in QUERIES["similarity_ann_lsh"].fn(spark, sf_dir).collect():
        lsh.setdefault(r.query_id, set()).add(r.neighbor_id)
    rows = QUERIES["similarity_ann_recall_audit"].fn(spark, sf_dir).collect()
    assert {r.query_id for r in rows} == set(bf)
    for r in rows:
        expect = len(bf[r.query_id] & lsh.get(r.query_id, set()))
        assert r.n_hits == expect
        assert r.recall_at_k == round(
            int(expect / S._TOP_K * 1e6 + 0.5) / 1e6, 6
        )
    sum_hits = sum(r.n_hits for r in rows)
    mean = round(
        int(sum_hits / (len(rows) * S._TOP_K) * 1e6 + 0.5) / 1e6, 6
    )
    assert {r.mean_recall for r in rows} == {mean}


def test_streaming_seasonal_equals_batch(spark, sf_dir):
    """One streamed sufficient statistic, ten reports: the seasonal
    tier reuses the PSI fold's (day, bucket) cube, so its
    same-weekday alarm must equal the batch query row-for-row."""

    def snap(name):
        return {
            (r.event_type, r.day): (r.dow, r.c, r.n_prev, r.dow_ratio,
                                    r.is_alert)
            for r in QUERIES[name].fn(spark, sf_dir).collect()
        }

    stream, batch = snap("streaming_seasonal_volume_anomaly"), snap(
        "events_seasonal_volume_anomaly"
    )
    assert stream == batch and stream


def test_streaming_trend_equals_batch(spark, sf_dir):
    """One streamed sufficient statistic, eleven reports: the trend
    tier reuses the PSI fold's (day, bucket) cube, so its OLS
    regression must equal the batch query row-for-row."""

    def snap(name):
        return {
            r.event_type: (r.n_days, r.slope_per_day, r.intercept)
            for r in QUERIES[name].fn(spark, sf_dir).collect()
        }

    stream, batch = snap("streaming_trend_slope"), snap(
        "events_trend_slope"
    )
    assert stream == batch and stream


def test_cohort_ltv_consistent_with_parents(spark, sf_dir):
    """The LTV curve must agree with its parents: cohort sizes equal
    time_to_convert's per-cohort signup counts, every cohort carries
    the dense offsets 0..7, the cumulative cents are nondecreasing,
    and the per-user LTV is exactly (cum_cents·10000) div n_users
    micro."""
    rows = QUERIES["events_cohort_ltv"].fn(spark, sf_dir).collect()
    assert rows

    by_cohort: dict[str, list] = {}
    for r in rows:
        by_cohort.setdefault(r.cohort_day, []).append(r)
    for cohort, rs in by_cohort.items():
        rs.sort(key=lambda r: r.day_offset)
        assert [r.day_offset for r in rs] == list(range(8))
        assert len({r.n_users for r in rs}) == 1
        cents = [r.cum_revenue_cents for r in rs]
        assert cents == sorted(cents) and cents[0] >= 0
        for r in rs:
            micro = (r.cum_revenue_cents * 10000) // r.n_users
            assert r.ltv_per_user == round(micro / 1e6, 6)

    ttc = {
        r.cohort: r.n_signups
        for r in QUERIES["events_time_to_convert"].fn(spark, sf_dir).collect()
    }
    assert {c: rs[0].n_users for c, rs in by_cohort.items()} == ttc


def test_survival_km_recurrence_and_parents(spark, sf_dir):
    """Independent recompute of the KM curve: rebuild the half-up
    integer recurrence in plain Python from the reported (d, c)
    columns and require the engine's survival column to match micro
    for micro; check the risk-set bookkeeping (n strictly decreasing
    by exactly d+c) and that the cohort total equals
    time_to_convert's signup population."""
    rows = sorted(
        QUERIES["events_survival_km"].fn(spark, sf_dir).collect(),
        key=lambda r: r.t,
    )
    assert rows
    n_total = rows[0].n_at_risk
    s, n = 1_000_000, n_total
    for r in rows:
        assert r.n_at_risk == n
        s = (2 * s * (n - r.d_converted) + n) // (2 * n)
        assert r.survival == round(s / 1e6, 6)
        assert 0.0 <= r.survival <= 1.0
        n -= r.d_converted + r.c_censored
    assert n == 0

    ttc = QUERIES["events_time_to_convert"].fn(spark, sf_dir).collect()
    assert sum(r.n_signups for r in ttc) == n_total


def test_ab_ztest_recompute(spark, sf_dir):
    """Recompute the pooled two-proportion z from the reported integer
    counts with the same IEEE expression tree and require the engine's
    quantized statistic, rates, and flag to match exactly; the variant
    populations must partition the distinct-user universe."""
    from pyspark.sql import functions as F
    from real_estate_data_analysis_with_aws_data_pipeline_project_spark.sources.catalog import (
        load_table,
    )

    [r] = QUERIES["events_ab_conversion_ztest"].fn(spark, sf_dir).collect()
    assert r.n_a > 0 and r.n_b > 0
    ev = load_table(spark, sf_dir, "events")
    assert r.n_a + r.n_b == ev.select("user_id").distinct().count()
    assert r.c_a + r.c_b == (
        ev.where(F.col("event_type") == "purchase")
        .select("user_id")
        .distinct()
        .count()
    )
    c, n = r.c_a + r.c_b, r.n_a + r.n_b
    if 0 < c < n:
        p = c / n
        z = (r.c_a / r.n_a - r.c_b / r.n_b) / math.sqrt(
            p * (1.0 - p) * (1.0 / r.n_a + 1.0 / r.n_b)
        )
        z_micro = math.floor(z * 1e6 + 0.5)
        assert r.z_score == round(z_micro / 1e6, 6)
        assert r.significant_95 == (1 if abs(z_micro) > 1959964 else 0)
    else:  # degenerate pool (all or none convert): guarded NULL, flag 0
        assert r.z_score is None and r.significant_95 == 0
    assert r.rate_a == round(math.floor(r.c_a / r.n_a * 1e6 + 0.5) / 1e6, 6)
    assert r.rate_b == round(math.floor(r.c_b / r.n_b * 1e6 + 0.5) / 1e6, 6)


def test_streaming_dod_growth_equals_batch(spark, sf_dir):
    """One streamed sufficient statistic, twelve reports: the
    day-over-day tier reuses the PSI fold's (day, bucket) cube, so
    its growth report must equal the batch query row-for-row."""

    def snap(name):
        return {
            (r.event_type, r.day): (r.n, r.prev_n, r.dod_growth)
            for r in QUERIES[name].fn(spark, sf_dir).collect()
        }

    stream, batch = snap("streaming_dod_growth"), snap("events_dod_growth")
    assert stream == batch and stream


def test_mutual_information_exact_recompute(spark, sf_dir):
    """Full driver-side recompute of the MI screen: rebuild the
    three contingency tables from the raw orders rows and apply the
    exact micro-unit term formula (int64 products into one IEEE
    division, floor-quantized log2, floor-quantized signed term,
    integer sum) — engine output must match bit-for-bit, and MI must
    satisfy 0 <= I <= H(Y) up to the per-cell half-micro floor leak."""
    from collections import Counter

    from real_estate_data_analysis_with_aws_data_pipeline_project_spark.sources.catalog import (
        load_table,
    )

    rows = load_table(spark, sf_dir, "orders").select(
        "o_orderstatus", "o_orderdate", "o_orderpriority"
    ).collect()
    feats = {
        "status": lambda r: r.o_orderstatus,
        "year": lambda r: str(r.o_orderdate.year),
        "month": lambda r: str(r.o_orderdate.month),
    }
    n = len(rows)
    lab = Counter(
        1 if r.o_orderpriority in ("1-URGENT", "2-HIGH") else 0
        for r in rows
    )
    h_micro = sum(
        math.floor(
            -(ct / n)
            * (math.floor(math.log2(ct / n) * 1e6 + 0.5) / 1e6)
            * 1e6
            + 0.5
        )
        for ct in lab.values()
    )
    expected = {}
    for fname, fx in feats.items():
        cells = Counter(
            (fx(r), 1 if r.o_orderpriority in ("1-URGENT", "2-HIGH") else 0)
            for r in rows
        )
        rt = Counter()
        for (v, _y), o in cells.items():
            rt[v] += o
        mi_micro = 0
        for (v, y), o in cells.items():
            lg = (
                math.floor(
                    math.log2((o * n) / (rt[v] * lab[y])) * 1e6 + 0.5
                )
                / 1e6
            )
            mi_micro += math.floor((o / n) * lg * 1e6 + 0.5)
        u = (
            round(math.floor(mi_micro / h_micro * 1e6 + 0.5) / 1e6, 6)
            if h_micro > 0
            else None
        )
        expected[fname] = (
            len(cells),
            round(mi_micro / 1e6, 6),
            round(h_micro / 1e6, 6),
            u,
        )
    got = {
        r.feature: (
            r.n_cells,
            r.mi_bits,
            r.h_label_bits,
            r.uncertainty_coef,
        )
        for r in QUERIES["features_mutual_information"]
        .fn(spark, sf_dir)
        .collect()
    }
    assert got == expected
    for _cells, mi, hy, _u in expected.values():
        # floor leak: each signed cell term is off by < 1 micro
        assert -1e-4 <= mi <= hy + 1e-4


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(
                    prev[j] + 1,
                    cur[j - 1] + 1,
                    prev[j - 1] + (ca != cb),
                )
            )
        prev = cur
    return prev[-1]


def test_er_blocking_quality_exact_recompute(spark, sf_dir):
    """Driver-side recompute of the blocking audit from the raw part
    rows: truth pairs via an independent Levenshtein DP within
    (brand, type) groups, candidate pairs from the blocking-key
    histogram — every count and both micro-quantized ratios must
    match the engine exactly, and the production blocked matcher's
    pair count must equal kept_pairs (the audit measures the real
    blocking, not a re-derivation of it)."""
    from collections import Counter, defaultdict

    from real_estate_data_analysis_with_aws_data_pipeline_project_spark.sources.catalog import (
        load_table,
    )

    parts = [
        (
            r.p_partkey,
            r.p_name.split(" ")[0],
            r.p_name.split(" ")[-1],
            r.p_brand,
            r.p_type,
        )
        for r in load_table(spark, sf_dir, "part").collect()
    ]
    blocks = Counter((bt, br, pt) for _pk, _ft, bt, br, pt in parts)
    cand = sum(sz * (sz - 1) // 2 for sz in blocks.values())
    groups = defaultdict(list)
    for pk, ft, bt, br, pt in parts:
        groups[(br, pt)].append((pk, ft, bt))
    true_pairs = kept = 0
    for g in groups.values():
        g.sort()
        for i in range(len(g)):
            for j in range(i + 1, len(g)):
                if _lev(g[i][1], g[j][1]) <= 2:
                    true_pairs += 1
                    kept += g[i][2] == g[j][2]
    n = len(parts)
    r = QUERIES["er_blocking_quality"].fn(spark, sf_dir).collect()[0]
    assert (
        r.n_records,
        r.n_blocks,
        r.max_block_size,
        r.cand_pairs,
        r.total_pairs,
        r.true_pairs,
        r.kept_pairs,
    ) == (
        n,
        len(blocks),
        max(blocks.values()),
        cand,
        n * (n - 1) // 2,
        true_pairs,
        kept,
    )
    assert r.pair_completeness == (
        math.floor(kept / true_pairs * 1e6 + 0.5) / 1e6
        if true_pairs
        else None
    )
    assert r.reduction_ratio == (
        math.floor((1.0 - cand / (n * (n - 1) // 2)) * 1e6 + 0.5) / 1e6
    )
    # the audit's kept_pairs is exactly the production matcher's yield
    matched = (
        QUERIES["er_blocked_parts"].fn(spark, sf_dir).collect()
    )
    by_entity = Counter(row.entity_id for row in matched)
    # kept edges form components; pair count within components is an
    # upper bound on kept (transitive closure adds pairs), so only
    # sanity-bound it
    assert kept <= sum(s * (s - 1) // 2 for s in by_entity.values())


def test_pca_quality_axis_matches_numpy(spark, sf_dir):
    """Independent check of the integer power iteration against
    numpy's full eigendecomposition of the same correlation matrix:
    the engine's loading vector must be within cosine 0.999 of the
    true top eigenvector, the Rayleigh eigenvalue within 1e-3, plus
    the exact normalization/sign invariants of the contract
    (max-abs loading exactly 1.0, canonically positive, var_share =
    lambda / trace)."""
    import numpy as np

    from real_estate_data_analysis_with_aws_data_pipeline_project_spark.operators import (
        text as X,
    )
    from real_estate_data_analysis_with_aws_data_pipeline_project_spark.sources.catalog import (
        load_table,
    )
    from pyspark.sql import functions as F

    out = {
        r.feature: r
        for r in QUERIES["features_pca_quality_axis"]
        .fn(spark, sf_dir)
        .collect()
    }
    names = ("n_chars", "n_tokens", "n_distinct", "n_stopwords")
    assert set(out) == set(names)
    v = np.array([out[f].loading for f in names])
    assert np.abs(v).max() == 1.0
    jmax = int(np.argmax(np.abs(v) == 1.0))
    assert v[jmax] > 0
    # independent correlation matrix from the raw rows
    stop = set(X.EN_STOPWORDS)
    rows = (
        load_table(spark, sf_dir, "documents")
        .select("text", X.tokens().alias("toks"))
        .collect()
    )
    feats = np.array(
        [
            (
                len(r.text),
                len(r.toks),
                len(set(r.toks)),
                sum(1 for t in r.toks if t in stop),
            )
            for r in rows
        ],
        dtype=np.float64,
    )
    C = np.corrcoef(feats.T)
    w, V = np.linalg.eigh(C)
    top = V[:, -1]
    vn = v / np.linalg.norm(v)
    assert abs(float(vn @ top)) >= 0.999
    lam = out[names[0]].eigenvalue
    assert abs(lam - w[-1]) <= 1e-3
    assert all(out[f].eigenvalue == lam for f in names)
    # all four counts have variance at test scale -> trace = d
    share = out[names[0]].var_share
    assert abs(share - lam / 4.0) <= 2e-6
    assert out[names[0]].n_docs == len(rows)




def _kmeans_replay(rows, k=4):
    """Driver-side replay of the two Lloyd iterations (quantization,
    seeded init, exact argmin with ties to the smaller cid, half-up
    centroid update with empty-cluster carry-forward) — shared by the
    k-means and cluster-quality tests so the determinism contract is
    written once. Returns (xm, cents1, a2)."""

    def half_away(x):
        a = abs(x)
        f = math.floor(a)
        r = f + (1 if a - f >= 0.5 else 0)
        return r if x >= 0 else -r

    xm = {
        r.vec_id: [half_away(float(e) * 1e6) for e in r.embedding]
        for r in rows
    }
    cents = {i + 1: list(xm[v]) for i, v in enumerate(sorted(xm)[:k])}

    def assign(cents):
        return {
            v: min(
                (sum((a - b) ** 2 for a, b in zip(x, c)), cid)
                for cid, c in cents.items()
            )
            for v, x in xm.items()
        }

    a1 = assign(cents)
    sums, cnts = {}, {}
    for v, (_d, cid) in a1.items():
        cnts[cid] = cnts.get(cid, 0) + 1
        s = sums.setdefault(cid, [0] * len(xm[v]))
        for i, x in enumerate(xm[v]):
            s[i] += x
    cents1 = {
        cid: (
            [math.floor(s / cnts[cid] + 0.5) for s in sums[cid]]
            if cid in cnts
            else list(c)
        )
        for cid, c in cents.items()
    }
    return xm, cents1, assign(cents1)



def test_kmeans_lloyd_exact_recompute(spark, sf_dir):
    """Full driver-side replay of the two Lloyd iterations from the
    raw embeddings (same quantization, init, tie rule, half-up
    centroid update, empty-cluster carry-forward) — sizes and
    inertia must match the engine exactly, and the memberships must
    partition the table."""
    from real_estate_data_analysis_with_aws_data_pipeline_project_spark.sources.catalog import (
        load_table,
    )

    rows = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .collect()
    )
    xm, _cents1, a2 = _kmeans_replay(rows)
    sizes, inert = {}, {}
    for v, (d2, cid) in a2.items():
        sizes[cid] = sizes.get(cid, 0) + 1
        inert[cid] = inert.get(cid, 0) + d2
    expected = {
        cid: (
            sizes[cid],
            round(math.floor(inert[cid] / 1e6 + 0.5) / 1e6, 6),
        )
        for cid in sizes
    }
    got = {
        r.cluster_id: (r.n_members, r.inertia)
        for r in QUERIES["embedding_kmeans_lloyd"].fn(spark, sf_dir).collect()
    }
    assert got == expected
    assert sum(s for s, _ in got.values()) == len(rows)


def test_cluster_quality_exact_recompute(spark, sf_dir):
    """Driver-side replay of the Calinski–Harabasz pipeline (same
    quantization, fit, final assignment, integer gm/SSB/SSW, micro
    quantization) — every output value must match the engine
    exactly; CH must be positive on the clustered fixture and the
    sizes must sum to the table."""
    from real_estate_data_analysis_with_aws_data_pipeline_project_spark.sources.catalog import (
        load_table,
    )

    rows = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .collect()
    )
    xm, cents1, a2 = _kmeans_replay(rows)
    sizes, ssw_g = {}, {}
    for v, (d2, cid) in a2.items():
        sizes[cid] = sizes.get(cid, 0) + 1
        ssw_g[cid] = ssw_g.get(cid, 0) + d2
    n, kk = len(xm), len(sizes)
    ssw = sum(ssw_g.values())
    d = len(next(iter(xm.values())))
    sx = [sum(x[i] for x in xm.values()) for i in range(d)]
    gm = [math.floor(s / n + 0.5) for s in sx]
    ssb = sum(
        sizes[cid]
        * sum((cv - gv) ** 2 for cv, gv in zip(cents1[cid], gm))
        for cid in sizes
    )
    ch = (
        math.floor((ssb / (kk - 1)) / (ssw / (n - kk)) * 1e6 + 0.5) / 1e6
        if kk > 1 and n > kk and ssw > 0
        else None
    )
    r = (
        QUERIES["embedding_cluster_quality"].fn(spark, sf_dir).collect()[0]
    )
    assert (r.n_vectors, r.k_clusters, r.ssb, r.ssw, r.ch_index) == (
        n,
        kk,
        math.floor(ssb / 1e6 + 0.5) / 1e6,
        math.floor(ssw / 1e6 + 0.5) / 1e6,
        ch,
    )
    assert r.ch_index is not None and r.ch_index > 0


def test_anova_f_exact_recompute(spark, sf_dir):
    """Driver-side ANOVA recompute from the raw customer rows with
    the exact cents/quantization rules — all six output values must
    match bit-for-bit, and eta_squared must sit in [0, 1]."""
    from collections import defaultdict

    from real_estate_data_analysis_with_aws_data_pipeline_project_spark.sources.catalog import (
        load_table,
    )

    rows = load_table(spark, sf_dir, "customer").select(
        "c_mktsegment", "c_acctbal"
    ).collect()
    g = defaultdict(lambda: [0, 0, 0])  # n, s, s2
    for r in rows:
        c = math.floor(float(r.c_acctbal) * 100.0 + 0.5)
        e = g[r.c_mktsegment]
        e[0] += 1
        e[1] += c
        e[2] += c * c
    k = len(g)
    n = sum(e[0] for e in g.values())
    s1 = sum(e[1] for e in g.values())
    s2 = sum(e[2] for e in g.values())
    # mirror the engine's CAST(s AS DOUBLE)*CAST(s AS DOUBLE): past
    # 2^53 the exact big-int product rounds differently (r11 second
    # review — s_g^2 ~ 1.8e16 already exceeds 2^53 at sf0.01)
    ssq = sum(
        math.floor(float(e[1]) * float(e[1]) / e[0] + 0.5)
        for e in g.values()
    )
    # two-sided [0, SST] clamp (r11 + r12 ADVICE): the per-group
    # half-up quantization in ssq can push SSB a hair below 0 when
    # group means are near-equal, or a hair above SST when the
    # within-group variance is ~0; SSW uses the clamped SSB. The
    # mean-square terms mirror the engine's double arithmetic
    # (float(s1) * float(s1), not the exact big-int product).
    sst = s2 - float(s1) * float(s1) / n
    ssb = min(max(ssq - float(s1) * float(s1) / n, 0.0), sst)
    ssw = sst - ssb
    f = (
        math.floor((ssb / (k - 1)) / (ssw / (n - k)) * 1e6 + 0.5) / 1e6
        if k > 1 and n > k and ssw > 0
        else None
    )
    eta = (
        math.floor(ssb / (ssb + ssw) * 1e6 + 0.5) / 1e6
        if ssb + ssw > 0
        else None
    )
    r = QUERIES["features_anova_f"].fn(spark, sf_dir).collect()[0]
    assert (
        r.n_groups,
        r.n_rows,
        r.df_between,
        r.df_within,
        r.f_stat,
        r.eta_squared,
    ) == (k, n, k - 1, n - k, f, eta)
    assert 0.0 <= r.eta_squared <= 1.0


def test_streaming_holt_equals_batch(spark, sf_dir):
    """One streamed sufficient statistic, thirteen reports: the Holt
    trend tier reuses the PSI fold's (day, bucket) cube, so its
    forecast report must equal the batch query row-for-row."""

    def snap(name):
        return {
            (r.event_type, r.day): (
                r.c,
                r.n_prev,
                r.holt_forecast,
                r.is_alert,
            )
            for r in QUERIES[name].fn(spark, sf_dir).collect()
        }

    stream = snap("streaming_holt_volume_forecast")
    batch = snap("events_holt_volume_forecast")
    assert stream == batch and stream


def test_holt_forecast_matches_direct_recursion(spark, sf_dir):
    """The unrolled integer linear combination must equal the direct
    Holt recursion l' = (y + l + b)/2, b' = (l' − l + b)/2 run in
    floats (exact here: every intermediate is a dyadic rational well
    under 2^53), day by day over each type's full-window rows."""
    from collections import defaultdict

    rows = QUERIES["events_holt_volume_forecast"].fn(spark, sf_dir).collect()
    series = defaultdict(list)
    for r in sorted(rows, key=lambda r: (r.event_type, r.day)):
        series[r.event_type].append(r)
    checked = 0
    for evs in series.values():
        counts = [r.c for r in evs]
        for idx, r in enumerate(evs):
            if r.n_prev < 8:
                assert r.holt_forecast is None and r.is_alert == 0
                continue
            window = counts[idx - 8 : idx]
            l, b = float(window[0]), 0.0
            for y in window[1:]:
                lp = (y + l + b) / 2.0
                b = (lp - l + b) / 2.0
                l = lp
            direct = l + b
            assert r.holt_forecast == round(
                math.floor(direct * 1e6 + 0.5) / 1e6, 6
            )
            alert = r.c >= 2 * direct or 2 * r.c <= direct
            assert r.is_alert == (1 if alert else 0)
            checked += 1
    assert checked > 0


def test_session_timeout_sensitivity_consistency(spark, sf_dir):
    """The sweep's production-gap row must agree with the production
    sessionizer (events_session_window's session count and event
    total), session counts must be non-increasing in the timeout,
    and a driver-side gap recompute must reproduce every value."""
    from collections import defaultdict

    from real_estate_data_analysis_with_aws_data_pipeline_project_spark.sources.catalog import (
        load_table,
    )

    rows = {
        r.timeout_minutes: r
        for r in QUERIES["events_session_timeout_sensitivity"]
        .fn(spark, sf_dir)
        .collect()
    }
    assert sorted(rows) == [10, 30, 90]
    ns = [rows[m].n_sessions for m in (10, 30, 90)]
    assert ns[0] >= ns[1] >= ns[2] > 0
    sw = QUERIES["events_session_window"].fn(spark, sf_dir).collect()
    assert rows[30].n_sessions == len(sw)
    assert rows[30].n_events == sum(r.n_events for r in sw)
    # independent recompute from raw events
    ev = defaultdict(list)
    for r in (
        load_table(spark, sf_dir, "events")
        .select("user_id", "ts", "event_id")
        .collect()
    ):
        ev[r.user_id].append((r.ts, r.event_id))
    gaps = []
    n_events = 0
    for u, es in ev.items():
        es.sort()
        n_events += len(es)
        gaps.append(None)
        for i in range(1, len(es)):
            d = es[i][0] - es[i - 1][0]
            # exact integer micros: total_seconds() divides by 1e6
            # and the *1e6 round-trip loses 1us on ~1.5% of gaps
            # (r11 second review)
            gaps.append(
                (d.days * 86400 + d.seconds) * 10**6 + d.microseconds
            )
    for m in (10, 30, 90):
        us = m * 60_000_000
        nss = sum(1 for g in gaps if g is None or g >= us)
        ins = sum(g for g in gaps if g is not None and g < us)
        r = rows[m]
        assert r.n_sessions == nss and r.n_events == n_events
        assert r.events_per_session == math.floor(
            n_events / nss * 1e6 + 0.5
        ) / 1e6
        assert r.mean_session_minutes == math.floor(
            ins / nss / 60000000.0 * 1e6 + 0.5
        ) / 1e6


def test_dp_noisy_counts_mechanism_recompute(spark, sf_dir):
    """Driver-side replay of the seeded Laplace mechanism from the
    raw segment counts (md5 → 48-bit uniform strictly inside (0,1) →
    quantized inverse CDF → rounded integer noise); every row must
    match exactly, and noisy − true must equal the rounded noise."""
    import hashlib
    from collections import Counter

    from real_estate_data_analysis_with_aws_data_pipeline_project_spark.sources.catalog import (
        load_table,
    )

    counts = Counter(
        r.c_mktsegment
        for r in load_table(spark, sf_dir, "customer")
        .select("c_mktsegment")
        .collect()
    )
    expected = {}
    for seg, n in counts.items():
        h = hashlib.md5((seg + "|dp-v1").encode()).hexdigest()[:12]
        uu = (int(h, 16) + 0.5) / 2**48
        sgn = 1 if uu >= 0.5 else -1
        lam = math.floor(math.log(1.0 - 2.0 * abs(uu - 0.5)) * 1e6 + 0.5)
        noise_micro = -sgn * lam
        expected[seg] = (
            n,
            round(noise_micro / 1e6, 6),
            n + math.floor(noise_micro / 1e6 + 0.5),
            1,
        )
    got = {
        r.c_mktsegment: (r.n_true, r.noise, r.noisy_count, r.epsilon)
        for r in QUERIES["pii_dp_noisy_counts"].fn(spark, sf_dir).collect()
    }
    assert got == expected
    for n, noise, noisy, _e in got.values():
        assert noisy - n == math.floor(noise + 0.5)


def test_lateral_topk_decorrelates_and_matches_window(spark, sf_dir):
    """The correlated LATERAL top-k must (a) produce exactly the
    rank-filter formulation's rows and (b) plan as a decorrelated
    WindowGroupLimit pipeline — never a nested-loop or cartesian
    re-execution per customer."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from real_estate_data_analysis_with_aws_data_pipeline_project_spark.sources.catalog import (
        load_table,
    )

    df = QUERIES["join_lateral_topk_per_key"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    got = {
        (r.c_custkey, r.o_orderkey, r.o_totalprice) for r in df.collect()
    }
    c = (
        load_table(spark, sf_dir, "customer")
        .where(F.col("c_acctbal") > 9000)
        .select("c_custkey")
    )
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    want = {
        (r.c_custkey, r.o_orderkey, r.o_totalprice)
        for r in o.join(c, o["o_custkey"] == c["c_custkey"])
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select(
            "c_custkey",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("o_totalprice"),
        )
        .collect()
    }
    assert got == want and got


def test_degree_distribution_exact_recompute(spark, sf_dir):
    """Driver-side recompute of the degree histogram from the raw
    order-lineitem edges (distinct pairs, bit-length buckets, exact
    shares) — every row must match, the bucket edge sums must
    partition the edge total, and every bucket flagged above the
    co-supplier cap must lie entirely above it."""
    from collections import Counter

    from real_estate_data_analysis_with_aws_data_pipeline_project_spark import (
        queries_retrieval as R,
    )
    from real_estate_data_analysis_with_aws_data_pipeline_project_spark.sources.catalog import (
        load_table,
    )

    o = {
        r.o_orderkey: r.o_custkey
        for r in load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey")
        .collect()
    }
    edges = {
        (o[r.l_orderkey], r.l_suppkey)
        for r in load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey")
        .collect()
    }
    deg = Counter(c for c, _s in edges)
    n_edges = sum(deg.values())
    buckets = {}
    for d in deg.values():
        b = d.bit_length() - 1
        nc, be, mx = buckets.get(b, (0, 0, 0))
        buckets[b] = (nc + 1, be + d, max(mx, d))
    expected = {
        b: (
            2**b,
            nc,
            be,
            mx,
            math.floor(be / n_edges * 1e6 + 0.5) / 1e6,
            2**b > R._COSUPP_DEG_CAP,
        )
        for b, (nc, be, mx) in buckets.items()
    }
    got = {
        r.log2_bucket: (
            r.bucket_floor,
            r.n_customers,
            r.bucket_edges,
            r.max_degree,
            r.edge_share,
            r.above_cosupp_cap,
        )
        for r in QUERIES["graph_degree_distribution"]
        .fn(spark, sf_dir)
        .collect()
    }
    assert got == expected
    assert sum(v[2] for v in got.values()) == n_edges
    for b, (floor_, _nc, _be, mx, _sh, above) in got.items():
        assert floor_ <= mx < 2 * 2**b
        if above:
            assert floor_ > R._COSUPP_DEG_CAP


# --- streaming restart-recovery gate (r11) -----------------------------------
#
# One scaffold, three state shapes: split the events into halves laid
# out as a parquet DIRECTORY, run the PRODUCTION transform over the
# first half through a checkpointed foreachBatch sink, stop, deliver
# the second half, restart from the SAME checkpoint. Assertions are
# robust to how the testdata distributes keys across the halves: the
# restarted run emits exactly the second half's key set, a key seen
# in BOTH halves must continue its fold sequence (a fresh rebuild
# would reset it; a reprocess with recovered state would double-count
# and fail the value equality), and every run-2 emission must equal
# the batch recompute over that key's FULL data.


def _split_events_dir(tmp_path, name):
    """(dir, part0_types, part1_types) — events halved into a
    directory layout the file stream source consumes."""
    import pyarrow.parquet as pq

    src = pq.read_table("/root/testdata/sf0.001/events.parquet")
    d = tmp_path / name
    ev = d / "events.parquet"
    ev.mkdir(parents=True)
    half = src.num_rows // 2
    p0, p1 = src.slice(0, half), src.slice(half)
    pq.write_table(p0, str(ev / "part-0.parquet"))
    t0 = set(p0.column("event_type").to_pylist())
    t1 = set(p1.column("event_type").to_pylist())
    return d, ev, p1, t0, t1


def _run_checkpointed(spark, result, ckpt, emitted):
    """Drive an unstarted stateful transform through a checkpointed
    foreachBatch sink."""
    q = (
        result.writeStream.foreachBatch(
            lambda df, _bid: emitted.extend(df.collect())
        )
        .option("checkpointLocation", ckpt)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def _cube_restart_roundtrip(spark, tmp_path, dirname, transform_fn, bucket_col):
    """THE day-bucket-cube restart-gate flow (r14 review: the Benford
    tier's test was a near-verbatim clone of the PSI one) — half the
    stream, stop, second half, restart from the same
    checkpointLocation, asserting the state folded ON TOP of the
    recovered value and the final emission equals the full-data batch
    recompute under ``bucket_col``. Returns the final
    {(type, day, bucket): count} map so callers can add shape-specific
    asserts. Any future cube tier is one call."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from real_estate_data_analysis_with_aws_data_pipeline_project_spark.sources.catalog import (
        load_table,
    )

    d, ev, p1, t0, t1 = _split_events_dir(tmp_path, dirname)
    ckpt = str(tmp_path / "ckpt")
    emitted = []
    _run_checkpointed(spark, transform_fn(spark, str(d)), ckpt, emitted)
    run1_max = {}
    for r in emitted:
        run1_max[r.event_type] = max(run1_max.get(r.event_type, 0), r.seq)
    assert set(run1_max) == t0
    n1 = len(emitted)
    pq.write_table(p1, str(ev / "part-1.parquet"))
    _run_checkpointed(spark, transform_fn(spark, str(d)), ckpt, emitted)
    run2 = emitted[n1:]
    assert {r.event_type for r in run2} == t1
    run2_max = {}
    for r in run2:
        run2_max[r.event_type] = max(run2_max.get(r.event_type, 0), r.seq)
    for et in t0 & t1:
        # continued fold, not a fresh rebuild
        assert run2_max[et] >= run1_max[et] + 1
    final = {
        (r.event_type, r.day, r.bucket): r.c
        for r in run2
        if r.seq == run2_max[r.event_type]
    }
    expected = {
        (r.event_type, r.day, r.bucket): r.n
        for r in load_table(spark, str(d), "events")
        .select(
            "event_type",
            F.date_format(
                F.date_trunc("day", F.col("ts")), "yyyy-MM-dd"
            ).alias("day"),
            bucket_col.alias("bucket"),
        )
        .groupBy("event_type", "day", "bucket")
        .agg(F.count("*").cast("bigint").alias("n"))
        .collect()
        if r.event_type in t1
    }
    assert final == expected
    return final


def test_psi_cube_state_recovers_across_restart(spark, tmp_path):
    """The ONE streamed sufficient statistic thirteen tiers share must
    survive a query restart (see section comment for the gate's
    assertions)."""
    from real_estate_data_analysis_with_aws_data_pipeline_project_spark.queries_quality import (
        psi_bucket_col,
    )
    from real_estate_data_analysis_with_aws_data_pipeline_project_spark.streaming.jobs import (
        psi_cube_transform,
    )

    _cube_restart_roundtrip(
        spark, tmp_path, "sfrestart", psi_cube_transform, psi_bucket_col()
    )


def test_cusum_state_recovers_across_restart(spark, tmp_path):
    """Second state shape under the restart gate: the CUSUM per-key
    day-count map plus a recomputed integer-exact argmax."""
    from collections import Counter, defaultdict

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from real_estate_data_analysis_with_aws_data_pipeline_project_spark.sources.catalog import (
        load_table,
    )
    from real_estate_data_analysis_with_aws_data_pipeline_project_spark.streaming.jobs import (
        _cusum_peak,
        _day_sort_key,
        cusum_transform,
    )

    d, ev, p1, t0, t1 = _split_events_dir(tmp_path, "sfrestart2")
    ckpt = str(tmp_path / "ckpt2")
    emitted = []
    _run_checkpointed(spark, cusum_transform(spark, str(d)), ckpt, emitted)
    run1_max = {}
    for r in emitted:
        run1_max[r.event_type] = max(run1_max.get(r.event_type, 0), r.seq)
    n1 = len(emitted)
    pq.write_table(p1, str(ev / "part-1.parquet"))
    _run_checkpointed(spark, cusum_transform(spark, str(d)), ckpt, emitted)
    run2 = emitted[n1:]
    assert {r.event_type for r in run2} == t1
    run2_max = {}
    for r in run2:
        run2_max[r.event_type] = max(run2_max.get(r.event_type, 0), r.seq)
    for et in t0 & t1:
        assert run2_max[et] >= run1_max[et] + 1
    got = {
        r.event_type: (r.n_days, r.change_day, r.snum)
        for r in run2
        if r.seq == run2_max[r.event_type]
    }
    counts = defaultdict(Counter)
    for r in (
        load_table(spark, str(d), "events")
        .select(
            "event_type",
            F.date_format(
                F.date_trunc("day", F.col("ts")), "yyyy-MM-dd"
            ).alias("day"),
        )
        .collect()
    ):
        counts[r.event_type][r.day] += 1
    expected = {}
    for et, m in counts.items():
        if et not in t1:
            continue
        days = sorted(m, key=_day_sort_key)
        expected[et] = _cusum_peak(days, [m[dd] for dd in days])
    assert got == expected


def test_kmv_state_recovers_across_restart(spark, tmp_path):
    """Third state shape under the restart gate: the bounded bottom-k
    sketch — the recovered sketch only tightens across the restart,
    and the final kth hash per run-2 key equals the exact bottom-k
    over that key's FULL user hashes."""
    import hashlib
    from collections import defaultdict

    import pyarrow.parquet as pq

    from real_estate_data_analysis_with_aws_data_pipeline_project_spark.sources.catalog import (
        load_table,
    )
    from real_estate_data_analysis_with_aws_data_pipeline_project_spark.streaming.jobs import (
        kmv_transform,
    )

    k = 16
    d, ev, p1, t0, t1 = _split_events_dir(tmp_path, "sfrestart3")
    ckpt = str(tmp_path / "ckpt3")
    emitted = []
    _run_checkpointed(spark, kmv_transform(spark, str(d), k), ckpt, emitted)
    run1 = {r.event_type: r.kth_hash for r in emitted}
    n1 = len(emitted)
    pq.write_table(p1, str(ev / "part-1.parquet"))
    _run_checkpointed(spark, kmv_transform(spark, str(d), k), ckpt, emitted)
    run2_rows = emitted[n1:]
    run2 = {r.event_type: r.kth_hash for r in run2_rows}
    assert set(run2) == t1
    for et, h2 in run2.items():
        h1 = run1.get(et)
        if h1 is not None and h2 is not None:
            assert h2 <= h1
    hs = defaultdict(set)
    for r in (
        load_table(spark, str(d), "events")
        .select("event_type", "user_id")
        .collect()
    ):
        hs[r.event_type].add(
            hashlib.md5(f"kmv:{r.user_id}".encode()).hexdigest()
        )
    expected = {}
    for et, s in hs.items():
        if et not in t1:
            continue
        merged = sorted(s)[:k]
        expected[et] = merged[k - 1] if len(merged) >= k else None
    assert run2 == expected


def test_user_activity_state_recovers_across_restart(spark, tmp_path):
    """Fourth state surface under the restart gate — the per-user
    activity profile (one (count, max ts, distinct types) state row
    per user): run-2 keys are exactly the second
    half's users, and each run-2 emission equals the batch profile
    over that user's FULL events."""
    from collections import defaultdict

    import pyarrow.parquet as pq

    from real_estate_data_analysis_with_aws_data_pipeline_project_spark.sources.catalog import (
        load_table,
    )
    from real_estate_data_analysis_with_aws_data_pipeline_project_spark.streaming.jobs import (
        user_activity_transform,
    )

    src = pq.read_table("/root/testdata/sf0.001/events.parquet")
    d = tmp_path / "sfrestart4"
    ev = d / "events.parquet"
    ev.mkdir(parents=True)
    half = src.num_rows // 2
    p0, p1 = src.slice(0, half), src.slice(half)
    pq.write_table(p0, str(ev / "part-0.parquet"))
    u1 = set(p1.column("user_id").to_pylist())
    ckpt = str(tmp_path / "ckpt4")
    emitted = []
    _run_checkpointed(
        spark, user_activity_transform(spark, str(d)), ckpt, emitted
    )
    n1 = len(emitted)
    pq.write_table(p1, str(ev / "part-1.parquet"))
    _run_checkpointed(
        spark, user_activity_transform(spark, str(d)), ckpt, emitted
    )
    run2 = {
        r.user_id: (r.n_event_types, r.n_events, r.max_ts_us)
        for r in emitted[n1:]
    }
    assert set(run2) == u1
    types, counts, mx = defaultdict(set), defaultdict(int), {}
    for r in (
        load_table(spark, str(d), "events")
        .selectExpr("user_id", "event_type", "unix_micros(ts) AS ts_us")
        .collect()
    ):
        types[r.user_id].add(r.event_type)
        counts[r.user_id] += 1
        mx[r.user_id] = max(mx.get(r.user_id, r.ts_us), r.ts_us)
    expected = {
        u: (len(types[u]), counts[u], mx[u]) for u in types if u in u1
    }
    assert run2 == expected


def test_oracle_replica_comparison_has_teeth():
    """Meta-test for the strict replica (the r8 incident class: a
    lenient comparison silently passed a driver-red divergence for
    two rounds): the normalization must DISTINGUISH one-micro value
    drift, -0.0 vs 0.0, NaN-vs-value, and column renames — and must
    IGNORE row order and column order."""
    from tests.oracle import _norm_cell, _norm_rows

    # one-micro drift is visible
    assert _norm_cell(1.000001) != _norm_cell(1.000002)
    # the negative-zero channel is visible (the whitening driver-red)
    assert _norm_cell(-0.0) != _norm_cell(0.0)
    # NaN folds to null (both engines' NaN-vs-NULL hash convention) but
    # never to a number
    assert _norm_cell(float("nan")) == "<null>"
    assert _norm_cell(float("nan")) != _norm_cell(0.0)
    # ints and their float doubles are distinct (schema drift visible)
    assert _norm_cell(1) != _norm_cell(1.0)
    # row order and column order are ignored...
    a = _norm_rows(["x", "y"], [(1, 2.5), (3, 4.5)])
    b = _norm_rows(["y", "x"], [(4.5, 3), (2.5, 1)])
    assert a == b
    # ...but values are not
    c = _norm_rows(["x", "y"], [(1, 2.5), (3, 4.500001)])
    assert a != c


def test_cli_argument_handling(capsys):
    """--help and --list return 0 with useful text, a nonexistent
    sf_dir returns 2 with the usage instead of a Spark traceback, and
    an unknown query name returns 2 — none of these paths may start a
    Spark session (r11: --help previously died in AnalysisException)."""
    from real_estate_data_analysis_with_aws_data_pipeline_project_spark.__main__ import (
        main,
    )

    assert main(["--help"]) == 0
    assert "usage:" in capsys.readouterr().out
    assert main(["--list"]) == 0
    out = capsys.readouterr().out
    assert "flagship_enriched_sample" in out
    assert main(["/no/such/dir"]) == 2
    assert "usage:" in capsys.readouterr().out
    assert main(["/root/testdata/sf0.001", "no_such_query"]) == 2
    assert "unknown queries" in capsys.readouterr().out
