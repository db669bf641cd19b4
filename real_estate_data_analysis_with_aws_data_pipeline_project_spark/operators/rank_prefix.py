"""Two-pass value-range rank kernel — the one owner of the bucket
width, the per-bucket offset prefix, the rank-cut placement and the
per-tag assembly.

Pattern (the features_global_equidepth_bins lineage): pass 1
aggregates per value-range bucket ``rng`` (≤ ``_SPEND_RANGES`` rows,
a metadata-scale collect), the driver walks the bucket prefix once,
and pass 2 windows only inside buckets (fan-in = one bucket's
density). No global sort or window at any size; heavy ties
concentrate their bucket (documented caveat shared by every rank
query).

Every driver-built relation here (offsets, cut targets, per-tag
bases) is a ``session.local_frame`` ``LocalRelation``: broadcasting
it launches no Spark job. Pass 2's window is partitioned by the
cut's functional key — ``tag`` (``(grp, tag)`` for order
statistics): ``_place_cuts`` places each tag in exactly one bucket,
so the tag determines ``rng`` and the per-tag aggregate after the
window reuses the window's exchange.

Helpers and their instantiations:

- ``_rng_bucketed`` — the bucket-width rule, applied before every
  helper below that buckets on a value.
- ``bucket_offsets`` — the offset walk: exclusive prefix of per-bucket
  row counts or weight sums, broadcast-joined back as an offset
  column. Global ranks in features_global_equidepth_bins; running
  token/event sums on md5-prefix (string) buckets in
  corpus_pack_token_shards and corpus_session_pack_shards; pooled
  prefix counts over the compacted spend distribution
  (``queries_events._spend_rank_cells``) in events_mannwhitney_u and
  events_kruskal_wallis.
- ``_place_cuts`` — the cut-placement walk: each ascending rank to
  its bucket with a residual, plus the cell sums of the full buckets
  below it. Driver-only; shared by the two helpers that follow.
- ``bucket_prefix_cells`` — exact prefix CELL sums at rank cuts:
  agg_lorenz_deciles and agg_palma_ratio (via
  ``queries_extra._cust_spend_prefix``), agg_concentration_curve,
  events_qini_uplift_deciles.
- ``assemble_tags`` — the per-tag assembly of those four queries: the
  driver's per-tag rows left-joined to the broadcast boundary-bucket
  partials, on one partition, so the callers' final sort or
  aggregate needs no exchange.
- ``_bucket_order_stats`` — exact per-group k-th order statistics:
  events_quantile_treatment_effect, events_winsorized_lift,
  sketch_quantile_envelope.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import local_frame

_SPEND_RANGES = 4096  # value-range buckets for the two-pass rank


def _rng_bucketed(df: DataFrame, col: str = "m") -> DataFrame:
    """ONE definition of the two-pass value-range bucketing rule
    (r13 review: the order-statistic and rank-prefix paths must never
    desynchronize on width/handling): rng = col div width, width
    sized off max(col) so there are ≤ _SPEND_RANGES buckets; assumes
    col ≥ 0 (div on negatives floors differently). One Spark action
    for the max."""
    mx = df.agg(F.max(col)).first()[0]
    width = max(1, (int(mx) if mx is not None else 0) // _SPEND_RANGES + 1)
    return df.withColumn("rng", F.expr(f"{col} div {width}").cast("bigint"))


def bucket_offsets(spark, g, weight):
    """The offset walk. Pass 1 collects ``weight`` (an aggregate
    Column: a row count or a weight sum) per ``rng`` bucket of ``g``;
    the driver runs the exclusive prefix over the buckets in ``rng``
    order, and a broadcast join adds it to ``g`` as bigint column
    ``off``. ``rng`` keeps its type from ``g.schema`` (bigint value
    ranges or string hash prefixes — any type whose order matches the
    global order). Returns ``(joined, total)``; a caller's in-bucket
    window plus ``off`` is the global running value."""
    rng_type = g.schema["rng"].dataType.simpleString()
    offsets, running = [], 0
    for row in sorted(
        g.groupBy("rng").agg(weight.alias("w")).collect(),
        key=lambda r: r["rng"],
    ):
        offsets.append((row["rng"], running))
        running += int(row["w"])
    off_df = local_frame(spark, offsets, f"rng {rng_type}, off bigint")
    return g.join(F.broadcast(off_df), "rng"), running


def _place_cuts(pairs, wanted, n_cells=0):
    """The cut-placement walk (driver-side, one pass over the
    buckets). ``pairs``: the ascending ``[(rng, cnt, *cells)]`` bucket
    list with ``n_cells`` cell sums each; ``wanted``: ``(tag, m)``
    ascending prefix lengths. Returns ``(targets, base)``:
    ``targets`` holds ``(rng, tag, residual)`` for every 0 < m ≤ n —
    the cut's bucket and the number of its smallest rows the prefix
    takes (a cut on a bucket boundary takes the WHOLE bucket);
    ``base`` maps every tag to the cell sums of the full buckets below
    its cut (all buckets when m > n, none when m ≤ 0)."""
    wanted = sorted(wanted, key=lambda t: t[1])
    targets, base, i = [], {}, 0
    prefix, acc = 0, [0] * n_cells
    for rng, cnt, *cells in pairs:
        while i < len(wanted) and wanted[i][1] <= prefix + cnt:
            tag, m = wanted[i]
            if m > 0:
                targets.append((rng, tag, m - prefix))
            base[tag] = acc
            i += 1
        prefix += cnt
        acc = [a + c for a, c in zip(acc, cells)]
    for tag, _m in wanted[i:]:
        base[tag] = acc
    return targets, base


def bucket_prefix_cells(spark, g, cell_aggs, ranks_for, order=("m", "key")):
    """Exact ascending-prefix CELL sums at rank cuts, without a global
    sort (r14 review: the spend-prefix and Qini copies desynchronize
    otherwise).

    ``g``: DataFrame already carrying ``rng`` (apply ``_rng_bucketed``
    first) plus the ``order`` columns and every column the cell
    aggregators read. ``cell_aggs``: list of (name, aggregate Column)
    evaluated identically in pass 1 (per bucket) and pass 2 (residual
    rows of boundary buckets). ``ranks_for``: callable n -> {tag: m}
    mapping each tag to its ascending prefix length m ∈ [0, n].

    Returns ``(part, base, n, totals)``: ``part`` is a DataFrame
    (tag, p_<name>… ) holding the boundary-bucket partial cells —
    a cut landing exactly on a bucket boundary emits a part row
    summing that ENTIRE bucket (residual = bucket count); only
    m = 0 tags have no part row, so callers coalesce to 0; ``base``
    maps tag -> full-bucket
    cell prefix list (cell order = ``cell_aggs`` order); ``totals``
    is the whole-relation cell list, so callers can read top-k cells
    as totals − base − part."""
    names = [n for n, _ in cell_aggs]
    pass1 = g.groupBy("rng").agg(
        F.count("*").alias("cnt"),
        *[a.alias(n) for n, a in cell_aggs],
    )
    pairs = sorted(
        (int(r["rng"]), int(r["cnt"]), *(int(r[n]) for n in names))
        for r in pass1.collect()
    )
    n = sum(p[1] for p in pairs)
    totals = [sum(p[i + 2] for p in pairs) for i in range(len(names))]
    targets, base = _place_cuts(pairs, ranks_for(n).items(), len(names))
    tags = [t for _rng, t, _res in targets]
    assert len(set(tags)) == len(tags), "a tag has two cuts"
    tdf = local_frame(spark, targets, "rng bigint, tag string, residual bigint")
    # one cut per tag: the tag determines rng, so the tag-keyed window's
    # exchange also serves the per-tag aggregate below
    w = Window.partitionBy("tag").orderBy(*order)
    part = (
        g.join(F.broadcast(tdf), "rng")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= F.col("residual"))
        .groupBy("tag")
        .agg(*[a.alias(f"p_{n}") for n, a in cell_aggs])
    )
    return part, base, n, totals


def assemble_tags(spark, rows, schema, part):
    """The per-tag assembly of a ``bucket_prefix_cells`` result:
    ``rows`` (the driver's per-tag bases, ``schema`` leading with
    ``tag``) left-joined to the broadcast ``part``, so a tag without
    a part row (m = 0) keeps NULL partials. The result holds at most
    one row per tag and sits on one partition: a caller's ``orderBy``
    or ``groupBy`` on it plans no exchange."""
    return (
        local_frame(spark, rows, schema)
        .join(F.broadcast(part), "tag", "left")
        .coalesce(1)
    )


def _bucket_order_stats(spark, g, ranks_for):
    """Exact k-th order statistics without a global window — the
    equidepth two-pass pattern generalized to named rank targets.

    ``g`` is (grp, m, user_id) with m ≥ 0; ``ranks_for`` is a
    callable n_by -> {grp: [(tag, rank_1based)]}, invoked with the
    per-group totals DERIVED FROM the pass-1 bucket counts (r13
    review: a separate count aggregate was a redundant scan) — an
    empty ``g`` gives an empty ``n_by``. Pass 1 aggregates counts per
    (grp, rng) bucket; ``_place_cuts`` places every target rank of
    each group in its bucket with a residual; pass 2 ranks WITHIN
    target buckets only (window fan-in = one bucket's density) and
    keeps the residual-th row. Returns the (grp, tag, m) DataFrame —
    one row per placed target — plus the n_by dict."""
    g = _rng_bucketed(g)
    by_grp: dict = {}
    for r in g.groupBy("grp", "rng").count().collect():
        by_grp.setdefault(r["grp"], []).append(
            (int(r["rng"]), int(r["count"]))
        )
    n_by = {grp: sum(c for _, c in pairs) for grp, pairs in by_grp.items()}
    ranks_by_grp = ranks_for(n_by)
    targets = [
        (grp, *t)
        for grp, pairs in by_grp.items()
        for t in _place_cuts(sorted(pairs), ranks_by_grp.get(grp, ()))[0]
    ]
    keys = [(grp, tag) for grp, _rng, tag, _res in targets]
    assert len(set(keys)) == len(keys), "a (grp, tag) has two cuts"
    tdf = local_frame(
        spark, targets, "grp string, rng bigint, tag string, residual bigint"
    )
    # (grp, tag) determines rng: one cut per tag within a group
    wnd = Window.partitionBy("grp", "tag").orderBy("m", "user_id")
    return (
        g.join(F.broadcast(tdf), ["grp", "rng"])
        .withColumn("rn", F.row_number().over(wnd))
        .where(F.col("rn") == F.col("residual"))
        .select("grp", "tag", "m")
    ), n_by
