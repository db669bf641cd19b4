"""Invariant tests for the round-9 additions: the streaming CUSUM
change-point tier (VERDICT r8 #5)."""

from __future__ import annotations

from pyspark.sql import functions as F

from real_estate_data_analysis_with_aws_data_pipeline_project_spark.api import QUERIES
from real_estate_data_analysis_with_aws_data_pipeline_project_spark.streaming.jobs import (
    _cusum_peak,
)


def test_cusum_peak_matches_bruteforce():
    """The incremental tier's integer-exact argmax kernel must equal a
    brute-force recomputation of S_rk = nd*cum - rk*total with the
    batch twin's (|S| desc, day asc) pick, including the earliest-day
    tie-break."""
    cases = [
        (["d1", "d2", "d3", "d4"], [10, 10, 50, 50]),
        (["d1", "d2", "d3"], [5, 5, 5]),  # flat series: all S == 0
        (["d1", "d2", "d3", "d4"], [30, 10, 30, 10]),  # |S| ties
        (["d1"], [7]),
    ]
    for days, cnts in cases:
        nd_k, day_k, s_k = _cusum_peak(days, cnts)
        nd, total = len(days), sum(cnts)
        cum, scored = 0, []
        for rk, (d, c) in enumerate(zip(days, cnts), 1):
            cum += c
            s = nd * cum - rk * total
            scored.append((-abs(s), d, s))
        scored.sort()
        assert (nd_k, day_k, s_k) == (nd, scored[0][1], scored[0][2])


def test_streaming_cusum_equals_batch(spark, sf_dir):
    """The streamed day-count fold must equal the batch CUSUM query
    row-for-row: the state map after the final batch IS the batch day
    counts, so change day, peak value, and direction agree exactly."""
    stream = {
        r.event_type: (r.n_days, r.change_day, r.peak_cusum, r.direction)
        for r in QUERIES["streaming_cusum_changepoint"].fn(spark, sf_dir).collect()
    }
    batch = {
        r.event_type: (r.n_days, r.change_day, r.peak_cusum, r.direction)
        for r in QUERIES["events_cusum_changepoint"].fn(spark, sf_dir).collect()
    }
    assert stream == batch


def test_join_skew_profile_exact_recompute(spark, sf_dir):
    """Every join-profile column recomputed from plain per-side counts:
    out_rows is the product, shares sum over the full key set, and the
    salt is ceil(n_left / target)."""
    import math

    from real_estate_data_analysis_with_aws_data_pipeline_project_spark.queries_skew import (
        _JOIN_SKEW_TARGET_ROWS,
    )
    from real_estate_data_analysis_with_aws_data_pipeline_project_spark.sources.catalog import (
        load_table,
    )

    rows = QUERIES["skew_join_key_profile"].fn(spark, sf_dir).collect()
    ev = load_table(spark, sf_dir, "events").collect()
    from collections import Counter

    lc = Counter(r.user_id for r in ev if r.event_type == "click")
    rc = Counter(r.user_id for r in ev if r.event_type == "purchase")
    total = sum(lc[u] * rc[u] for u in lc if u in rc)
    for r in rows:
        assert r.n_left == lc[r.user_id]
        assert r.n_right == rc[r.user_id]
        assert r.out_rows == r.n_left * r.n_right
        assert abs(r.out_share - round(r.out_rows / total, 6)) < 1e-9
        assert r.recommended_salt == max(
            1, math.ceil(r.n_left / _JOIN_SKEW_TARGET_ROWS)
        )
    # the fixture actually exercises the >1-salt branch
    assert any(r.recommended_salt > 1 for r in rows)


def test_containment_superset_of_jaccard_pairs(spark, sf_dir):
    """Containment >= Jaccard on identical candidates: every verified
    MinHash-Jaccard pair must appear in the containment output (same
    banded candidate set, weaker-or-equal gate at these thresholds),
    and containment values must dominate the pair's Jaccard."""
    cont = {
        (r.doc_a, r.doc_b): max(r.contain_a, r.contain_b)
        for r in QUERIES["dedup_shingle_containment"].fn(spark, sf_dir).collect()
    }
    jacc = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in QUERIES["dedup_minhash_lsh"].fn(spark, sf_dir).collect()
    }
    missing = [p for p in jacc if p not in cont]
    assert not missing, missing[:5]
    for p, j in jacc.items():
        assert cont[p] >= j - 1e-9, (p, cont[p], j)


def test_woe_iv_recompute(spark, sf_dir):
    """WOE/IV recomputed in Python floats from the raw counts."""
    import math

    from real_estate_data_analysis_with_aws_data_pipeline_project_spark.sources.catalog import (
        load_table,
    )

    rows = QUERIES["features_woe_iv"].fn(spark, sf_dir).collect()
    orders = load_table(spark, sf_dir, "orders").collect()
    G = sum(1 for o in orders if o.o_orderstatus == "F")
    B = len(orders) - G
    for r in rows:
        woe = round(math.log((r.n_good * B) / (r.n_bad * G)), 6)
        assert abs(r.woe - woe) < 1e-9
        iv = round((r.n_good * B - r.n_bad * G) / (G * B) * woe, 6)
        assert abs(r.iv_term - iv) < 1e-9


def test_completeness_matrix_vs_direct_counts(spark, sf_dir):
    """The profile row for each column equals direct per-column
    queries."""
    from real_estate_data_analysis_with_aws_data_pipeline_project_spark.sources.catalog import (
        load_table,
    )

    rows = {
        r.column_name: r
        for r in QUERIES["dq_completeness_matrix"].fn(spark, sf_dir).collect()
    }
    d = load_table(spark, sf_dir, "documents")
    n = d.count()
    for c in ("lang", "source", "n_chars"):
        r = rows[c]
        assert r.n_rows == n
        assert r.n_null == d.where(F.col(c).isNull()).count()
        assert r.n_distinct == d.select(c).na.drop().distinct().count()


def test_autocorrelation_matches_numpy(spark, sf_dir):
    """ACF recomputed with numpy from the daily count series."""
    import numpy as np

    from real_estate_data_analysis_with_aws_data_pipeline_project_spark.sources.catalog import (
        load_table,
    )

    rows = {
        r.event_type: r
        for r in QUERIES["events_autocorrelation"].fn(spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    )
    counts = (
        ev.groupBy("event_type", "day").count().orderBy("event_type", "day")
    ).collect()
    series: dict[str, list[int]] = {}
    for r in counts:
        series.setdefault(r.event_type, []).append(r["count"])
    for et, xs in series.items():
        x = np.array(xs, dtype=float)
        mu = x.mean()
        den = ((x - mu) ** 2).sum()
        for k, col in ((1, "acf_lag1"), (7, "acf_lag7")):
            got = rows[et][col]
            if len(x) <= k or den == 0:
                assert got is None
                continue
            num = ((x[k:] - mu) * (x[:-k] - mu)).sum()
            assert abs(got - round(num / den, 6)) < 1e-6, (et, k)


def test_feature_hashing_bucket_conservation(spark, sf_dir):
    """Bucket ids in range, total rows = 2 x customers, and every
    bucket's signed_sum is reachable from n_rows (same parity, |s| <=
    n)."""
    from real_estate_data_analysis_with_aws_data_pipeline_project_spark.queries_window2 import (
        _FH_BUCKETS,
    )
    from real_estate_data_analysis_with_aws_data_pipeline_project_spark.sources.catalog import (
        load_table,
    )

    rows = QUERIES["features_feature_hashing"].fn(spark, sf_dir).collect()
    n_cust = load_table(spark, sf_dir, "customer").count()
    assert all(0 <= r.bucket < _FH_BUCKETS for r in rows)
    assert sum(r.n_rows for r in rows) == 2 * n_cust
    for r in rows:
        assert abs(r.signed_sum) <= r.n_rows
        assert (r.signed_sum - r.n_rows) % 2 == 0
        assert r.n_distinct_features >= 1


def test_exact_group_median_matches_numpy(spark, sf_dir):
    """The rank-picked median equals numpy's median of the cents."""
    import numpy as np

    from real_estate_data_analysis_with_aws_data_pipeline_project_spark.sources.catalog import (
        load_table,
    )

    rows = {
        r.o_orderpriority: r
        for r in QUERIES["agg_exact_group_median"].fn(spark, sf_dir).collect()
    }
    orders = load_table(spark, sf_dir, "orders").collect()
    groups: dict[str, list[int]] = {}
    for o in orders:
        groups.setdefault(o.o_orderpriority, []).append(
            int(round(o.o_totalprice * 100))
        )
    for g, cents in groups.items():
        assert rows[g].n_orders == len(cents)
        assert abs(
            rows[g].median_price - round(float(np.median(cents)) / 100.0, 4)
        ) < 1e-9


def test_partitioned_roundtrip_prunes_partitions(spark, sf_dir):
    """The partition-key filter must reach the scan as a
    PartitionFilter and select 2 of the 5 event_type directories."""
    from real_estate_data_analysis_with_aws_data_pipeline_project_spark.queries_pipeline import (
        partitioned_events,
    )

    back = partitioned_events(spark, sf_dir)
    filtered = back.where(F.col("event_type").isin("click", "purchase"))
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "event_type" in plan.split("PartitionFilters", 1)[1][:200]
    # pruning is real, not just printed: the filtered scan must read
    # exactly the rows that live in the two selected directories
    # (inputFiles() can't show this — it reports the relation's files
    # before pruning)
    out = partitioned_events.__globals__["partitioned_events_path"](sf_dir)
    direct = spark.read.parquet(
        f"{out}/event_type=click", f"{out}/event_type=purchase"
    )
    assert filtered.count() == direct.count() > 0


def test_post_pin_additions_are_registered_and_unpinned():
    """tools/next_window.py POST_PIN_ADDITIONS must name real
    registered queries (typo safety) that are NOT in the live pinned
    rotation (a pinned query listed as post-pin would quietly drop out
    of the proposal and break --verify the other way)."""
    import tools.next_window as nw

    from real_estate_data_analysis_with_aws_data_pipeline_project_spark.api import (
        _ROTATION,
    )

    for n in nw.POST_PIN_ADDITIONS:
        assert n in QUERIES, n
        assert n not in _ROTATION, n


def test_join_profile_salt_drives_salted_join(spark, sf_dir):
    """Close the profile → mitigate loop for JOINS like the agg
    profiler does: feed the profile's max recommended_salt into
    salted_join on the same click ⋈ purchase shape and require
    bit-identical results to the plain join (count + per-user pair
    counts)."""
    from real_estate_data_analysis_with_aws_data_pipeline_project_spark.operators.skew import (
        salted_join,
    )
    from real_estate_data_analysis_with_aws_data_pipeline_project_spark.sources.catalog import (
        load_table,
    )

    prof = QUERIES["skew_join_key_profile"].fn(spark, sf_dir).collect()
    n_salts = max(r.recommended_salt for r in prof)
    assert n_salts > 1  # the fixture's hot users actually need salting

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id")
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id")
    )
    salted = (
        salted_join(
            clicks, purchases, key="user_id", spread_col="click_id",
            n_salts=n_salts,
        )
        .groupBy("user_id")
        .count()
    )
    plain = clicks.join(purchases, "user_id").groupBy("user_id").count()
    got = {r.user_id: r["count"] for r in salted.collect()}
    want = {r.user_id: r["count"] for r in plain.collect()}
    assert got == want


def test_streaming_psi_equals_batch(spark, sf_dir):
    """The streamed cube fold must make the PSI report equal the batch
    twin row-for-row — the cube after the final batch IS the batch
    cube, and both reports run the same psi_from_cube expressions."""
    stream = {
        (r.event_type, r.day): (r.n_events, r.psi, r.drift_flag)
        for r in QUERIES["streaming_psi_drift"].fn(spark, sf_dir).collect()
    }
    batch = {
        (r.event_type, r.day): (r.n_events, r.psi, r.drift_flag)
        for r in QUERIES["quality_psi_drift"].fn(spark, sf_dir).collect()
    }
    assert stream == batch


def test_streaming_fold_merge_law_across_batches():
    """The stateful tiers' fold bodies must be batching-invariant:
    folding a stream in two chunks then reading the final state must
    equal folding it in one. The availableNow file source usually
    delivers ONE batch in tests, so the cross-batch merge path is
    exercised here directly, without Spark."""
    import pandas as pd

    from real_estate_data_analysis_with_aws_data_pipeline_project_spark.streaming.jobs import (
        _cusum_peak,
        _psi_fold,
    )

    # PSI cube fold: two chunks vs one
    chunk1 = pd.DataFrame(
        {"day": ["d1", "d1", "d2"], "bucket": [0, 1, 0]}
    )
    chunk2 = pd.DataFrame(
        {"day": ["d2", "d3", "d1"], "bucket": [0, 2, 1]}
    )
    st1 = _psi_fold(None, [chunk1])
    st2 = _psi_fold(st1[:4], [chunk2])
    once = _psi_fold(None, [chunk1, chunk2])
    assert st2[:3] == once[:3]  # same cube regardless of batching
    assert st2[3] == 2 and once[3] == 1  # seq counts updates

    # CUSUM day-count fold: merging day counts across chunks then
    # taking the peak equals the single-pass peak over the union.
    m = {}
    for chunk in (["d1", "d1", "d2"], ["d2", "d2", "d3", "d3", "d3"]):
        for d in chunk:
            m[d] = m.get(d, 0) + 1
    days = sorted(m)
    merged = _cusum_peak(days, [m[d] for d in days])
    union = {"d1": 2, "d2": 3, "d3": 3}
    expect = _cusum_peak(sorted(union), [union[d] for d in sorted(union)])
    assert merged == expect


def test_streaming_folds_keep_null_groups():
    """pandas groupby/value_counts default dropna=True would silently
    drop NULL-day / NULL-bucket rows that the batch twins count as
    their own groups (r9 review); the shared folds must keep them."""
    import pandas as pd

    from real_estate_data_analysis_with_aws_data_pipeline_project_spark.streaming.jobs import (
        _cusum_fold,
        _psi_fold,
    )

    days, cnts, seq = _cusum_fold(
        None, [pd.DataFrame({"day": ["d1", None, None]})]
    )
    assert days == [None, "d1"]  # None first = Spark nulls-first ASC
    assert cnts == [2, 1] and seq == 1

    d, b, c, seq = _psi_fold(
        None,
        [pd.DataFrame({"day": ["d1", "d1", None], "bucket": [0, None, 3]})],
    )
    assert list(zip(d, b, c)) == [(None, 3, 1), ("d1", None, 1), ("d1", 0, 1)]
    # round-trip through state keeps the None groups intact
    d2, b2, c2, seq2 = _psi_fold(
        (d, b, c, seq),
        [pd.DataFrame({"day": ["d1"], "bucket": [None]})],
    )
    assert (d2, b2, c2, seq2) == ([None, "d1", "d1"], [3, None, 0], [1, 2, 1], 2)


def test_session_paths_recompute(spark, sf_dir):
    """Top paths recomputed in pure Python with the same 30-min gap
    sessionizer and (ts, event_id) order."""
    from real_estate_data_analysis_with_aws_data_pipeline_project_spark.queries_events import (
        _PATHS_TOP,
        _SESSION_GAP_US,
    )
    from real_estate_data_analysis_with_aws_data_pipeline_project_spark.sources.catalog import (
        load_table,
    )

    got = [
        (r.path, r.n_sessions, r.n_events)
        for r in QUERIES["events_session_paths"].fn(spark, sf_dir).collect()
    ]
    ev = sorted(
        load_table(spark, sf_dir, "events")
        .select("user_id", F.unix_micros("ts").alias("us"), "event_id", "event_type")
        .collect(),
        key=lambda r: (r.user_id, r.us, r.event_id),
    )
    from collections import Counter, defaultdict

    paths = Counter()
    lens = defaultdict(int)
    cur_user, cur_last, cur_path = None, None, []

    def flush():
        if cur_path:
            p = ">".join(cur_path)
            paths[p] += 1
            lens[p] += len(cur_path)

    for r in ev:
        if r.user_id != cur_user or r.us - cur_last >= _SESSION_GAP_US:
            flush()
            cur_path = []
            cur_user = r.user_id
        cur_path.append(r.event_type)
        cur_last = r.us
    flush()
    expect = sorted(
        ((p, n, lens[p]) for p, n in paths.items()),
        key=lambda t: (-t[1], t[0]),
    )[:_PATHS_TOP]
    assert got == expect


def test_exact_group_mode_recompute(spark, sf_dir):
    """Mode per segment recomputed with a Counter and the same
    (count desc, value asc) tie-break."""
    from collections import Counter, defaultdict

    from real_estate_data_analysis_with_aws_data_pipeline_project_spark.sources.catalog import (
        load_table,
    )

    rows = {
        r.c_mktsegment: (r.mode_nation, r.n_rows)
        for r in QUERIES["agg_exact_group_mode"].fn(spark, sf_dir).collect()
    }
    per_seg = defaultdict(Counter)
    for c in load_table(spark, sf_dir, "customer").collect():
        per_seg[c.c_mktsegment][c.c_nationkey] += 1
    for seg, cnt in per_seg.items():
        best = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        assert rows[seg] == best, seg


def test_mmr_greedy_recompute(spark, sf_dir):
    """The unrolled Catalyst MMR walk must equal a straightforward
    Python greedy over the same integer-quantized rel/sim inputs."""
    from real_estate_data_analysis_with_aws_data_pipeline_project_spark.queries_similarity import (
        _MMR_CANDS,
        _MMR_K,
        _N_QUERIES,
    )
    from real_estate_data_analysis_with_aws_data_pipeline_project_spark.sources.catalog import (
        load_table,
    )

    got = {}
    for r in QUERIES["retrieval_mmr_rerank"].fn(spark, sf_dir).collect():
        got.setdefault(r.query_id, []).append(
            (r.rank, r.cand_id, r.rel, r.mmr_score)
        )
    import numpy as np

    vecs = {
        r.vec_id: np.array(r.embedding, dtype=np.float64)
        for r in load_table(spark, sf_dir, "embeddings").collect()
    }
    nrm = {k: float(np.sqrt(v @ v)) for k, v in vecs.items()}

    def cos6(x, y):
        if nrm[x] > 0 and nrm[y] > 0:
            c = float(vecs[x] @ vecs[y]) / (nrm[x] * nrm[y])
        else:
            c = 0.0
        # numpy fold order can differ from the engines' in the last
        # ulp; quantize like the query does and tolerate the boundary
        return int(round(c * 1e6))

    for qid in range(_N_QUERIES):
        cands = sorted(
            ((cos6(qid, c), c) for c in vecs if c >= _N_QUERIES),
            key=lambda t: (-t[0], t[1]),
        )[:_MMR_CANDS]
        rel = {c: r for r, c in cands}
        selected, expect = [], []
        pool = [c for _, c in cands]
        for step in range(1, _MMR_K + 1):
            best = None
            for c in pool:
                ms = max((cos6(c, s) for s in selected), default=0)
                n7 = 7 * rel[c] - 3 * ms
                key = (-n7, c)
                if best is None or key < best[0]:
                    best = (key, c, n7)
            _, c, n7 = best
            selected.append(c)
            pool.remove(c)
            expect.append((step, c, rel[c] / 1e6, n7 / 1e7))
        g = got[qid]
        # compare ids and ranks exactly; scores to 1e-9 (exact decimals)
        assert [(r, c) for r, c, _, _ in g] == [
            (r, c) for r, c, _, _ in expect
        ], qid
        for (_, _, ra, sa), (_, _, rb, sb) in zip(g, expect):
            assert abs(ra - rb) < 1e-9 and abs(sa - sb) < 1e-9


# --- round-9 late batch 2: QL retrieval, triangle orientation, ---------------
# --- inter-arrival stats, exact group percentiles ----------------------------


def test_query_likelihood_recompute(spark, sf_dir):
    """The fixed-order micro-nat score must equal a straight Python
    recomputation of Dirichlet query likelihood over the same token
    arrays (independent check of the formula wiring on both sides)."""
    import math

    from real_estate_data_analysis_with_aws_data_pipeline_project_spark.operators import (
        text as X,
    )
    from real_estate_data_analysis_with_aws_data_pipeline_project_spark.queries_retrieval import (
        _BM25_TERMS,
        _QL_TOP_K,
    )
    from real_estate_data_analysis_with_aws_data_pipeline_project_spark.sources.catalog import (
        load_table,
    )

    toks = {
        r.doc_id: r.toks
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id", X.tokens().alias("toks"))
        .collect()
    }
    coll_len = sum(len(t) for t in toks.values())
    cf = [
        sum(t.count(term) for t in toks.values()) for term in _BM25_TERMS
    ]
    scored = []
    for doc_id, t in toks.items():
        dl = len(t)
        micro = 0
        for i, term in enumerate(_BM25_TERMS):
            x = math.log(
                (
                    t.count(term)
                    + 2000.0
                    * ((cf[i] + 1.0) / (coll_len + float(len(_BM25_TERMS))))
                )
                / (dl + 2000.0)
            )
            micro += math.floor(x * 1000000.0 + 0.5)
        scored.append((doc_id, dl, round(micro / 1000000.0, 6)))
    expect = sorted(scored, key=lambda r: (-r[2], r[0]))[:_QL_TOP_K]
    got = [
        (r.doc_id, r.dl, r.ql_score)
        for r in QUERIES["retrieval_query_likelihood"].fn(spark, sf_dir).collect()
    ]
    assert got == expect


def test_triangle_orientation_stats(spark, sf_dir):
    """The degree orientation's max out-degree must satisfy the
    provable sqrt(2|E|) bound, the triangle count must equal a
    brute-force recount over the same sparsified edge set, and
    graph_triangle_count's per-node participation must be consistent
    with the global total."""
    row = (
        QUERIES["graph_triangle_orientation_stats"].fn(spark, sf_dir).collect()
    )[0]
    # THEOREM (any graph): in the (deg, id) orientation every
    # out-neighbor of v has degree >= outdeg(v), so outdeg² <= 2|E|.
    # (wedges_degree <= wedges_key is NOT asserted — it is a
    # fixture-empirical comparison, not a theorem; r9 review.)
    assert row.max_outdeg_degree ** 2 <= 2 * row.n_edges
    assert row.n_triangles <= row.wedges_degree
    assert row.n_triangles <= row.wedges_key
    edges = {
        (min(r.supplier, r.partner), max(r.supplier, r.partner))
        for r in QUERIES["graph_cosupplier_projection"]
        .fn(spark, sf_dir)
        .collect()
    }
    nodes = sorted({v for e in edges for v in e})
    adj = {v: set() for v in nodes}
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    total = sum(
        1
        for i, a in enumerate(nodes)
        for b in (x for x in adj[a] if x > a)
        for c in (x for x in adj[a] & adj[b] if x > b)
    )
    assert row.n_triangles == total
    assert row.n_edges == len(edges)
    part = QUERIES["graph_triangle_count"].fn(spark, sf_dir).collect()
    assert sum(r.n_triangles for r in part) <= 3 * total
    assert max((r.n_triangles for r in part), default=0) <= total


def test_interarrival_recompute(spark, sf_dir):
    """Exact median/p90 inter-arrival gaps recomputed in pure Python
    with the same (ts, event_id) order and rank-pick formulas."""
    from collections import defaultdict

    from real_estate_data_analysis_with_aws_data_pipeline_project_spark.sources.catalog import (
        load_table,
    )

    ev = sorted(
        load_table(spark, sf_dir, "events")
        .select(
            "event_type",
            "user_id",
            F.unix_micros("ts").alias("us"),
            "event_id",
        )
        .collect(),
        key=lambda r: (r.user_id, r.event_type, r.us, r.event_id),
    )
    gaps = defaultdict(list)
    prev = {}
    for r in ev:
        k = (r.user_id, r.event_type)
        if k in prev:
            gaps[r.event_type].append(r.us - prev[k])
        prev[k] = r.us
    expect = {}
    for et, g in gaps.items():
        g.sort()
        n = len(g)
        mid = [g[(n + 1) // 2 - 1], g[(n + 2) // 2 - 1]]
        expect[et] = (
            n,
            min(g),
            max(g),
            round(sum(mid) / 2.0, 1),
            g[(9 * n + 9) // 10 - 1],
        )
    got = {
        r.event_type: (
            r.n_gaps,
            r.min_gap_us,
            r.max_gap_us,
            r.median_gap_us,
            r.p90_gap_us,
        )
        for r in QUERIES["events_interarrival_stats"].fn(spark, sf_dir).collect()
    }
    assert got == expect


def test_exact_percentiles_recompute(spark, sf_dir):
    """p25/p75/IQR recomputed in pure Python under the same
    (cents, key) total order and ceil-rank picks."""
    from collections import defaultdict

    from real_estate_data_analysis_with_aws_data_pipeline_project_spark.sources.catalog import (
        load_table,
    )

    per = defaultdict(list)
    for r in load_table(spark, sf_dir, "orders").collect():
        per[r.o_orderpriority].append(
            (int(round(r.o_totalprice * 100)), r.o_orderkey)
        )
    expect = {}
    for pri, vals in per.items():
        vals.sort()
        n = len(vals)
        c25 = vals[(n + 3) // 4 - 1][0]
        c75 = vals[(3 * n + 3) // 4 - 1][0]
        expect[pri] = (
            n,
            round(c25 / 100.0, 2),
            round(c75 / 100.0, 2),
            round((c75 - c25) / 100.0, 2),
        )
    got = {
        r.o_orderpriority: (r.n_orders, r.p25_price, r.p75_price, r.iqr_price)
        for r in QUERIES["agg_exact_group_percentiles"].fn(spark, sf_dir).collect()
    }
    assert got == expect


def test_js_divergence_recompute_and_bounds(spark, sf_dir):
    """JSD recomputed in pure Python from the (type, half, bucket)
    cube with the same micro-nat quantization; every score must sit
    in [0, ln 2] and the half totals must partition the type count."""
    import math
    from collections import Counter

    from real_estate_data_analysis_with_aws_data_pipeline_project_spark.queries_quality import (
        _PSI_BUCKET_WIDTH,
        _PSI_BUCKETS,
    )
    from real_estate_data_analysis_with_aws_data_pipeline_project_spark.sources.catalog import (
        load_table,
    )

    cube = Counter()
    for r in (
        load_table(spark, sf_dir, "events")
        .select("event_type", F.unix_micros(F.date_trunc("day", "ts")).alias("us"), "value")
        .collect()
    ):
        half = (r.us // 86_400_000_000) % 2
        b = min(int(r.value // _PSI_BUCKET_WIDTH), _PSI_BUCKETS - 1)
        cube[(r.event_type, half, b)] += 1
    types = {k[0] for k in cube}
    expect = {}
    for et in types:
        n_even = sum(v for (t, h, _), v in cube.items() if t == et and h == 0)
        n_odd = sum(v for (t, h, _), v in cube.items() if t == et and h == 1)
        micro = 0
        for b in range(_PSI_BUCKETS):
            p = (cube.get((et, 0, b), 0) + 1.0) / (n_even + _PSI_BUCKETS)
            q = (cube.get((et, 1, b), 0) + 1.0) / (n_odd + _PSI_BUCKETS)
            m = (p + q) / 2.0
            micro += math.floor(
                (p * math.log(p / m) + q * math.log(q / m)) * 500000.0 + 0.5
            )
        expect[et] = (n_even, n_odd, round(micro / 1000000.0, 6))
    got = {
        r.event_type: (r.n_even, r.n_odd, r.jsd_nats)
        for r in QUERIES["quality_js_divergence"].fn(spark, sf_dir).collect()
    }
    assert got == expect
    for et, (ne, no, jsd) in got.items():
        assert 0.0 <= jsd <= math.log(2.0), et


def test_order_reconciliation_recompute(spark, sf_dir):
    """The e4-cent integer reconciliation recomputed in pure Python
    ints from the raw tables."""
    from collections import defaultdict

    from real_estate_data_analysis_with_aws_data_pipeline_project_spark.sources.catalog import (
        load_table,
    )

    sums = defaultdict(int)
    for r in load_table(spark, sf_dir, "lineitem").collect():
        ec = int(round(r.l_extendedprice * 100))
        dc = int(round(r.l_discount * 100))
        tc = int(round(r.l_tax * 100))
        sums[r.l_orderkey] += ec * (100 - dc) * (100 + tc)
    per_status = defaultdict(list)
    for o in load_table(spark, sf_dir, "orders").collect():
        diff = sums.get(o.o_orderkey, 0) - int(round(o.o_totalprice * 100)) * 10000
        per_status[o.o_orderstatus].append(diff)
    expect = {
        s: (
            len(ds),
            sum(1 for d in ds if d == 0),
            sum(1 for d in ds if abs(d) <= 10000),
            max(abs(d) for d in ds),
            round(max(abs(d) for d in ds) / 1000000.0, 4),
        )
        for s, ds in per_status.items()
    }
    got = {
        r.o_orderstatus: (
            r.n_orders,
            r.n_exact,
            r.n_within_cent,
            r.max_abs_diff_e4,
            r.max_abs_diff_dollars,
        )
        for r in QUERIES["dq_order_reconciliation"].fn(spark, sf_dir).collect()
    }
    assert got == expect


def test_chi2_recompute(spark, sf_dir):
    """Chi-square per feature recomputed two ways: exactly (same
    integer micro-unit quantization) and as the naive float
    (o-e)^2/e sum, which must agree to the quantization error."""
    import math
    from collections import Counter

    from real_estate_data_analysis_with_aws_data_pipeline_project_spark.sources.catalog import (
        load_table,
    )

    orders = load_table(spark, sf_dir, "orders").collect()
    feats = {
        "status": lambda o: o.o_orderstatus,
        "year": lambda o: str(o.o_orderdate.year),
        "month": lambda o: str(o.o_orderdate.month),
    }
    lab = lambda o: 1 if o.o_orderpriority in ("1-URGENT", "2-HIGH") else 0
    n = len(orders)
    ct = Counter(lab(o) for o in orders)
    got = {
        r.feature: (r.n_values, r.dof, r.chi2)
        for r in QUERIES["features_chi2_selection"].fn(spark, sf_dir).collect()
    }
    for fname, fv in feats.items():
        cells = Counter((fv(o), lab(o)) for o in orders)
        rt = Counter(fv(o) for o in orders)
        micro = 0
        naive = 0.0
        for v in rt:
            for l in ct:
                o_cnt = cells.get((v, l), 0)
                d = o_cnt * n - rt[v] * ct[l]
                den = n * rt[v] * ct[l]
                micro += math.floor(
                    (float(d) * float(d)) / float(den) * 1000000.0 + 0.5
                )
                e = rt[v] * ct[l] / n
                naive += (o_cnt - e) ** 2 / e
        exact = round(micro / 1000000.0, 6)
        assert got[fname] == (len(rt), (len(rt) - 1) * (len(ct) - 1), exact)
        assert abs(exact - naive) < 1e-3, fname


def test_streaming_jsd_equals_batch(spark, sf_dir):
    """One streamed sufficient statistic, two reports: the JSD tier
    reuses the PSI fold's (day, bucket) cube, so its report must equal
    the batch JSD query row-for-row."""
    stream = {
        r.event_type: (r.n_even, r.n_odd, r.jsd_nats)
        for r in QUERIES["streaming_jsd_drift"].fn(spark, sf_dir).collect()
    }
    batch = {
        r.event_type: (r.n_even, r.n_odd, r.jsd_nats)
        for r in QUERIES["quality_js_divergence"].fn(spark, sf_dir).collect()
    }
    assert stream == batch


def test_weighted_median_recompute(spark, sf_dir):
    """The lower weighted median recomputed in pure Python under the
    same (cents, orderkey, linenumber) order and 2*cw >= T rule."""
    from collections import defaultdict

    from real_estate_data_analysis_with_aws_data_pipeline_project_spark.sources.catalog import (
        load_table,
    )

    per = defaultdict(list)
    for r in load_table(spark, sf_dir, "lineitem").collect():
        per[r.l_returnflag].append(
            (
                int(round(r.l_extendedprice * 100)),
                r.l_orderkey,
                r.l_linenumber,
                int(round(r.l_quantity)),
            )
        )
    expect = {}
    for flag, rows in per.items():
        rows.sort()
        t = sum(w for *_, w in rows)
        cw = 0
        for cents, _, _, w in rows:
            cw += w
            if 2 * cw >= t:
                expect[flag] = (t, round(cents / 100.0, 2))
                break
    got = {
        r.l_returnflag: (r.total_weight, r.w_median_price)
        for r in QUERIES["agg_exact_weighted_median"].fn(spark, sf_dir).collect()
    }
    assert got == expect


def test_fano_recompute(spark, sf_dir):
    """Fano factor recomputed from the daily count series with the
    same integer moments and micro-unit quantization; Poisson-or-
    burstier means every score is >= 0."""
    import math
    from collections import Counter

    from real_estate_data_analysis_with_aws_data_pipeline_project_spark.sources.catalog import (
        load_table,
    )

    days = Counter(
        (r.event_type, r.day)
        for r in load_table(spark, sf_dir, "events")
        .select("event_type", F.date_trunc("day", "ts").alias("day"))
        .collect()
    )
    per = {}
    for (et, day), c in days.items():
        n, s, q, lo, hi = per.get(et, (0, 0, 0, day, day))
        per[et] = (n + 1, s + c, q + c * c, min(lo, day), max(hi, day))
    expect = {}
    for et, (n_active, s, q, lo, hi) in per.items():
        n = (hi - lo).days + 1  # calendar span incl. silent days
        mean = math.floor(s / n * 10000.0 + 0.5) / 10000.0
        fano = math.floor((n * q - s * s) / (n * s) * 1000000.0 + 0.5) / 1000000.0
        expect[et] = (n, n_active, s, round(mean, 4), round(fano, 6))
    got = {
        r.event_type: (
            r.n_days_span,
            r.n_days_active,
            r.n_events,
            r.mean_daily,
            r.fano,
        )
        for r in QUERIES["events_burstiness_fano"].fn(spark, sf_dir).collect()
    }
    assert got == expect
    assert all(v[4] >= 0.0 for v in got.values())
    # silent days count: span >= active
    assert all(v[0] >= v[1] for v in got.values())


def test_ndcg_recompute(spark, sf_dir):
    """NDCG@10 recomputed in pure Python from the token arrays with
    the same micro-unit gain quantization; scores must sit in [0, 1]
    and the ideal ranking must dominate both retrievers."""
    import math

    from real_estate_data_analysis_with_aws_data_pipeline_project_spark.operators import (
        text as X,
    )
    from real_estate_data_analysis_with_aws_data_pipeline_project_spark.queries_retrieval import (
        _BM25_TERMS,
        _NDCG_K,
    )
    from real_estate_data_analysis_with_aws_data_pipeline_project_spark.sources.catalog import (
        load_table,
    )

    toks = {
        r.doc_id: r.toks
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id", X.tokens().alias("toks"))
        .collect()
    }
    n_docs = len(toks)
    coll_len = sum(len(t) for t in toks.values())
    cf = [sum(t.count(term) for t in toks.values()) for term in _BM25_TERMS]
    df = [
        sum(1 for t in toks.values() if term in t) for term in _BM25_TERMS
    ]
    avgdl = coll_len / n_docs
    bm, ql, rel = {}, {}, {}
    for doc_id, t in toks.items():
        dl = len(t)
        b = 0.0
        qm = 0
        r_ = 0
        for i, term in enumerate(_BM25_TERMS):
            tf = t.count(term)
            idf = round(math.log(1 + (n_docs - df[i] + 0.5) / (df[i] + 0.5)), 6)
            b += idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
            x = math.log(
                (tf + 2000.0 * ((cf[i] + 1.0) / (coll_len + float(len(_BM25_TERMS)))))
                / (dl + 2000.0)
            )
            qm += math.floor(x * 1000000.0 + 0.5)
            r_ += 1 if tf > 0 else 0
        bm[doc_id], ql[doc_id], rel[doc_id] = round(b, 4), qm, r_

    def dcg(ranking):
        return sum(
            math.floor(
                (2.0 ** rel[d] - 1.0) / math.log2(i + 2.0) * 1000000.0 + 0.5
            )
            for i, d in enumerate(ranking)
        )

    bm_top = [d for d, _ in sorted(bm.items(), key=lambda kv: (-kv[1], kv[0]))][:_NDCG_K]
    ql_top = [d for d, _ in sorted(ql.items(), key=lambda kv: (-kv[1], kv[0]))][:_NDCG_K]
    ideal = [d for d, _ in sorted(rel.items(), key=lambda kv: (-kv[1], kv[0]))][:_NDCG_K]
    idcg = dcg(ideal)
    expect = {}
    for name, top in (("bm25", bm_top), ("ql", ql_top)):
        d = dcg(top)
        expect[name] = (
            d,
            idcg,
            round(math.floor(d / idcg * 1000000.0 + 0.5) / 1000000.0, 6),
        )
    got = {
        r.retriever: (r.dcg_micro, r.idcg_micro, r.ndcg_at_10)
        for r in QUERIES["retrieval_ndcg_eval"].fn(spark, sf_dir).collect()
    }
    assert got == expect
    for name, (d, i, n) in got.items():
        assert 0.0 <= n <= 1.0, name
        assert d <= i, name


def test_trimmed_mean_recompute(spark, sf_dir):
    """The 10%-trimmed mean recomputed in pure Python under the same
    (cents, key) order and integer trim rule."""
    import math
    from collections import defaultdict

    from real_estate_data_analysis_with_aws_data_pipeline_project_spark.sources.catalog import (
        load_table,
    )

    per = defaultdict(list)
    for r in load_table(spark, sf_dir, "orders").collect():
        per[r.o_orderpriority].append(
            (int(round(r.o_totalprice * 100)), r.o_orderkey)
        )
    expect = {}
    for pri, vals in per.items():
        vals.sort()
        n = len(vals)
        t = n // 10
        kept = [c for c, _ in vals[t : n - t]]
        mean4 = math.floor(sum(kept) / len(kept) * 100.0 + 0.5) / 10000.0
        expect[pri] = (n, t, len(kept), round(mean4, 4))
    got = {
        r.o_orderpriority: (
            r.n_orders,
            r.n_trimmed_each,
            r.kept_n,
            r.trimmed_mean_price,
        )
        for r in QUERIES["agg_exact_group_trimmed_mean"].fn(spark, sf_dir).collect()
    }
    assert got == expect


def test_rank_correlation_consistency(spark, sf_dir):
    """Tau's parts must be mutually consistent and tau must equal its
    quantized definition; both retrievers' top lists must actually
    overlap on this fixture (else the metric is vacuous)."""
    import math

    row = (
        QUERIES["retrieval_rank_correlation"].fn(spark, sf_dir).collect()
    )[0]
    m = row.n_common
    assert m >= 2
    assert row.concordant + row.discordant == m * (m - 1) // 2
    tau = math.floor(
        (row.concordant - row.discordant) / (m * (m - 1) / 2) * 1000000.0
        + 0.5
    ) / 1000000.0
    assert row.kendall_tau == round(tau, 6)
    assert -1.0 <= row.kendall_tau <= 1.0


def test_dow_seasonality_recompute(spark, sf_dir):
    """Counts, shares, and the uniform-week chi-square recomputed in
    pure Python (including the absent-day closed form)."""
    import math
    from collections import Counter, defaultdict

    from real_estate_data_analysis_with_aws_data_pipeline_project_spark.sources.catalog import (
        load_table,
    )

    cnt = Counter(
        (r.event_type, r.ts.isoweekday())
        for r in load_table(spark, sf_dir, "events")
        .select("event_type", "ts")
        .collect()
    )
    per = defaultdict(dict)
    for (et, dow), n in cnt.items():
        per[et][dow] = n
    expect = {}
    for et, dows in per.items():
        total = sum(dows.values())
        q = sum(n * n for n in dows.values())
        # 7q - T^2 as a DOUBLE product/difference, mirroring the query
        chi2 = (
            math.floor(
                (7.0 * q - float(total) * total) / total * 1000000.0 + 0.5
            )
            / 1000000.0
        )
        full = sum(
            (dows.get(d, 0) - total / 7.0) ** 2 / (total / 7.0)
            for d in range(1, 8)
        )
        assert abs(chi2 - full) < 1e-4  # closed form includes absent days
        for dow, n in dows.items():
            share = math.floor(n / total * 1000000.0 + 0.5) / 1000000.0
            expect[(et, dow)] = (n, round(share, 6), round(chi2, 6))
    got = {
        (r.event_type, r.dow): (r.n, r.share, r.chi2_uniform)
        for r in QUERIES["events_dow_seasonality"].fn(spark, sf_dir).collect()
    }
    assert got == expect


def test_streaming_dow_equals_batch(spark, sf_dir):
    """Third report off the one streamed statistic: the dow tier's
    output must equal the batch dow query row-for-row."""
    stream = {
        (r.event_type, r.dow): (r.n, r.share, r.chi2_uniform)
        for r in QUERIES["streaming_dow_seasonality"].fn(spark, sf_dir).collect()
    }
    batch = {
        (r.event_type, r.dow): (r.n, r.share, r.chi2_uniform)
        for r in QUERIES["events_dow_seasonality"].fn(spark, sf_dir).collect()
    }
    assert stream == batch
