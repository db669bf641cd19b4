"""Arrow-batched kernels over collected driver models (no ``from
__future__ import annotations`` here: pandas_udf infers its eval type
from REAL type hints, and the future-import would stringify them).

The collected-model path has two halves. On the driver,
``collect_model`` turns a small model relation (seeds, probe sets,
quantizer centroids, capped corpora) into one ascending-id list per
column; ``session_cache.session_memo`` keeps models that outlive one
call. On the workers, six ``pandas_udf`` kernels score each Arrow batch
against the model shipped in their closure:

- ``make_nearest_seed_udf``: rounded-cosine argmax over seeds
  (semantic dedup);
- ``make_two_level_nearest_udf``: coarse-cell probe, then argmax over
  those cells' fine centroids (IVF assignment);
- ``make_range_pairs_udf``: (probe, raw cosine) pairs above a
  threshold (range search);
- ``make_blocked_pairs_udf``: same-label, greater-id pairs above a
  threshold (embedding-cosine dedup);
- ``make_pq_encode_udf``: per-subspace nearest-codeword codes (PQ);
- ``make_signs_udf``: random-hyperplane sign bits (sign-LSH).

EXACT parity with the Catalyst fold / DuckDB list_sum pipeline is
engineered, not hoped for:

- float32 vectors widen to float64 exactly as elementwise
  ``cast("double")`` does (``_widen``);
- the dot products accumulate dimension-by-dimension across the whole
  batch — the identical left-to-right float64 addition chain as
  ``F.aggregate(zip_with(...))`` and DuckDB's generate_series
  list_sum (``_dot_block``);
- cosine = acc / (nrm * s_nrm) with the product formed first, the
  zero-norm guard mapping to 0.0 — the shared ``cosine``/
  ``cosine_sql`` definition (``_cos_block``);
- ties resolve through model columns sorted ascending by id, so
  numpy's first-max/first-min reproduces the oracles' ``ORDER BY
  score, id`` tiebreaks.
"""

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql.functions import pandas_udf


def make_nearest_seed_udf(seed_ids, seed_vecs, seed_nrms) -> "Column":
    """Nearest seed per vector: round(cos, 6) half-away-from-zero on
    the scaled value, then the first max over seeds sorted ascending by
    seed_id — the oracle rounds before ranking (``ORDER BY cos DESC,
    seed_id``)."""
    ids = np.asarray(seed_ids, dtype=np.int64)  # sorted ascending
    w = _widen(seed_vecs)  # (k, dim)
    sn = np.asarray(seed_nrms, dtype=np.float64)  # (k,)

    @pandas_udf("long")
    def _nearest(vecs: pd.Series, nrms: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype="int64")
        cos = _cos_block(
            _widen(vecs), np.asarray(nrms, dtype=np.float64), w, sn
        )
        cos = np.sign(cos) * np.floor(np.abs(cos) * 1e6 + 0.5) / 1e6
        return pd.Series(ids[np.argmax(cos, axis=1)])

    return _nearest


def _cos_block(v, nrms, w, wn):
    """Raw (unrounded) cosine block (rows × seeds) with the identical
    dim-order float64 accumulation chain as the Catalyst fold / DuckDB
    list_sum, and the shared zero-norm → 0.0 guard. No rounding: the
    IVF oracle's row_number ranks RAW cosines (only the emitted final
    cos_sim is rounded), unlike the semantic-dedup kernel above which
    mirrors an oracle that rounds before ranking."""
    acc = _dot_block(v, w)
    n = nrms[:, None]
    denom = n * wn[None, :]
    with np.errstate(divide="ignore", invalid="ignore"):
        return np.where((n > 0) & (wn[None, :] > 0), acc / denom, 0.0)


def _dot_block(v, w):
    """Dot products (rows × model rows), accumulated dimension by
    dimension: ``acc += v[dim] * w[dim]`` in dim order is exactly the
    fold's ``(((0+x0)+x1)+...)`` float64 chain."""
    acc = np.zeros((v.shape[0], w.shape[0]), dtype=np.float64)
    for d in range(w.shape[1]):  # dim-order accumulation = fold order
        acc += v[:, d : d + 1] * w[None, :, d]
    return acc


def _widen(vecs) -> np.ndarray:
    return np.asarray(
        [np.asarray(x, dtype=np.float32) for x in vecs], dtype=np.float32
    ).astype(np.float64)


def _emit_pairs(model_ids, mask, cos) -> pd.Series:
    """Per row, the (model id, RAW cosine) pairs its mask keeps."""
    out = []
    for r in range(mask.shape[0]):
        cols = np.nonzero(mask[r])[0]
        out.append([(int(model_ids[c]), float(cos[r, c])) for c in cols])
    return pd.Series(out)


def make_range_pairs_udf(probe_ids, probe_vecs, probe_nrms, tau) -> "Column":
    """Cosine range-search pair emitter (r17): for each corpus vector,
    the (query_id, RAW cosine) pairs against the broadcast probe set
    whose raw cosine clears ``tau`` minus a one-ulp-scale margin —
    callers apply the EXACT round(·, 6) >= tau gate in JVM expressions,
    so the emitted cos_sim channel (and hence the oracle hash) is
    untouched; the kernel is purely a prefilter + single-evaluation
    replacement for the BroadcastNestedLoopJoin whose pushed-down
    predicate evaluated the interpreted zip_with/aggregate cosine fold
    TWICE per pair (join condition + projection). Raw-cosine parity is
    the _cos_block contract (identical dim-order float64 chain); the
    margin is safe because round(x, 6) >= tau requires
    x >= tau − 5e-7 > tau − 1e-6, so no qualifying pair is dropped and
    near-miss pairs are re-judged exactly by the JVM round. Self-pairs
    are excluded by id, mirroring the join's <> condition."""
    q_ids = np.asarray(probe_ids, dtype=np.int64)
    q_w = _widen(probe_vecs)  # float32-sourced, widened like cast
    q_n = np.asarray(probe_nrms, dtype=np.float64)
    cut = tau - 1e-6

    @pandas_udf("array<struct<query_id: long, raw: double>>")
    def _pairs(ids: pd.Series, vecs: pd.Series, nrms: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype="object")
        v = _widen(vecs)
        n = np.asarray(nrms, dtype=np.float64)
        idv = np.asarray(ids, dtype=np.int64)
        cos = _cos_block(v, n, q_w, q_n)  # (rows, probes)
        mask = (cos >= cut) & (idv[:, None] != q_ids[None, :])
        return _emit_pairs(q_ids, mask, cos)

    return _pairs


def make_blocked_pairs_udf(
    probe_ids, probe_labels, probe_vecs, probe_nrms, tau
) -> "Column":
    """Label-blocked near-dup pair emitter (r17): like
    make_range_pairs_udf, but the candidate set is the whole capped
    corpus (broadcast as a driver model — cap×dim is IVF-model scale)
    and a pair qualifies only when labels match and the candidate id
    is strictly greater (the a.label = b.label AND a.vec_id < b.vec_id
    join). Emits (vec_b, RAW cosine) above tau minus a safe margin;
    callers apply the exact round(·,6) >= tau gate in JVM expressions,
    so the emitted values are bit-identical to the join+filter plan
    that evaluated the interpreted cosine fold twice per pair."""
    p_ids = np.asarray(probe_ids, dtype=np.int64)
    p_lab = np.asarray(probe_labels)
    p_w = _widen(probe_vecs)
    p_n = np.asarray(probe_nrms, dtype=np.float64)
    cut = tau - 1e-6

    @pandas_udf("array<struct<vec_b: long, raw: double>>")
    def _pairs(
        ids: pd.Series, labels: pd.Series, vecs: pd.Series, nrms: pd.Series
    ) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype="object")
        v = _widen(vecs)
        n = np.asarray(nrms, dtype=np.float64)
        idv = np.asarray(ids, dtype=np.int64)
        lab = np.asarray(labels)
        cos = _cos_block(v, n, p_w, p_n)
        mask = (
            (cos >= cut)
            & (idv[:, None] < p_ids[None, :])
            & (lab[:, None] == p_lab[None, :])
        )
        return _emit_pairs(p_ids, mask, cos)

    return _pairs


def make_pq_encode_udf(codebook, m, dsub) -> "Column":
    """PQ encoder (r17, the IVF-assignment precedent): one Arrow pass
    emits each vector's M one-byte codes against the broadcast
    per-subspace codebooks, replacing the broadcast-join + window-rank
    plan that evaluated the interpreted zip_with/aggregate L2 fold per
    (subvector, centroid) pair (n·M·k folds) and ranked an n·M·k-row
    relation per invocation. Parity is engineered like _cos_block:
    float32 embeddings widen exactly as cast('double'); the
    subvector normalization is the same per-element x/nrm IEEE divide
    (0.0 when nrm <= 0); the squared-L2 accumulates dimension-by-
    dimension in the identical left-to-right order as
    aggregate(zip_with(...)) and DuckDB's list_sum; argmin with
    centroid ids pre-sorted ascending reproduces the
    ORDER BY d, cid tiebreak (numpy first-min).

    ``codebook``: {s: (ids sorted ascending int64, (k, dsub) float64
    matrix — the 6-dp-rounded Lloyd means, loaded as doubles like the
    IVF model)}."""
    cb = {
        s: (np.asarray(ids, dtype=np.int64), np.asarray(w, dtype=np.float64))
        for s, (ids, w) in codebook.items()
    }

    @pandas_udf("array<long>")
    def _encode(vecs: pd.Series, nrms: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype="object")
        v = _widen(vecs)
        n = np.asarray(nrms, dtype=np.float64)
        safe = n > 0
        denom = np.where(safe, n, 1.0)[:, None]
        out = np.empty((len(v), m), dtype=np.int64)
        for s in range(m):
            sv = np.where(
                safe[:, None], v[:, s * dsub : (s + 1) * dsub] / denom, 0.0
            )
            ids, w = cb[s]
            acc = np.zeros((len(v), len(ids)), dtype=np.float64)
            for d in range(dsub):  # dim-order accumulation = fold order
                diff = sv[:, d : d + 1] - w[None, :, d]
                acc += diff * diff
            out[:, s] = ids[np.argmin(acc, axis=1)]
        return pd.Series(list(out))

    return _encode


def make_two_level_nearest_udf(
    coarse_ids, coarse_vecs, coarse_nrms,
    fine_ids, fine_vecs, fine_nrms,
    fine_cells, cprobe,
) -> "Column":
    """Two-level IVF assignment as ONE Arrow pass: nearest ``cprobe``
    coarse cells (raw cos desc, ccid asc — stable argsort with columns
    pre-sorted by ccid reproduces the tiebreak), then argmax over only
    the fine centroids of those cells (cos desc, cid asc via per-cell
    first-max merged with an explicit smaller-cid tie rule). Work per
    vector stays O(ck + cprobe·k/ck) — the same asymptotic as the
    crossJoin→window plan it replaces, minus the interpreted
    higher-order folds and two n-row rank shuffles.

    Returns -1 for a vector whose probed cells hold no fine centroid
    (the DataFrame/SQL twins drop such vectors via inner join — callers
    must filter cid >= 0)."""
    g_ids = np.asarray(coarse_ids, dtype=np.int64)   # sorted ascending
    # model vectors are 6dp-rounded DOUBLES (Lloyd means) — load them
    # as float64 directly. _widen's float32 round-trip is only correct
    # for the float32-SOURCED input embeddings; pushing the centroids
    # through float32 would perturb every dot product ~1e-8 relative
    # vs the Catalyst/DuckDB chain that ranks raw cosines on the exact
    # doubles, and a sub-1e-8 cosine gap between two near-duplicate
    # post-Lloyd centroids could then rank oppositely cross-engine.
    g_w = np.asarray(coarse_vecs, dtype=np.float64)
    g_n = np.asarray(coarse_nrms, dtype=np.float64)
    f_ids = np.asarray(fine_ids, dtype=np.int64)     # sorted ascending
    f_w = np.asarray(fine_vecs, dtype=np.float64)
    f_n = np.asarray(fine_nrms, dtype=np.float64)
    f_cell = np.asarray(fine_cells, dtype=np.int64)  # aligned to f_ids

    @pandas_udf("long")
    def _assign(vecs: pd.Series, nrms: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype="int64")
        v = _widen(vecs)
        n = np.asarray(nrms, dtype=np.float64)
        cos_g = _cos_block(v, n, g_w, g_n)
        order = np.argsort(-cos_g, axis=1, kind="stable")[:, :cprobe]
        top = g_ids[order]  # (rows, cprobe) probed cell ids
        best_cos = np.full(len(v), -np.inf)
        best_cid = np.full(len(v), -1, dtype=np.int64)
        for ccid in g_ids:
            rows = (top == ccid).any(axis=1)
            cols = np.nonzero(f_cell == ccid)[0]
            if not rows.any() or cols.size == 0:
                continue
            sub = _cos_block(v[rows], n[rows], f_w[cols], f_n[cols])
            j = np.argmax(sub, axis=1)  # first max = lowest cid in cell
            cand_cos = sub[np.arange(len(j)), j]
            cand_cid = f_ids[cols][j]
            cur_cos, cur_cid = best_cos[rows], best_cid[rows]
            better = (cand_cos > cur_cos) | (
                (cand_cos == cur_cos) & (cand_cid < cur_cid)
            )
            best_cos[rows] = np.where(better, cand_cos, cur_cos)
            best_cid[rows] = np.where(better, cand_cid, cur_cid)
        return pd.Series(best_cid)

    return _assign


def make_signs_udf(planes) -> "Column":
    """Sign-LSH bit string: one '1'/'0' per hyperplane for dot >= 0.
    The planes are doubles and load as float64; the float32-sourced
    vectors go through ``_widen``, so every bit matches the Catalyst
    fold and DuckDB's list_dot_product."""
    w = np.asarray(planes, dtype=np.float64)  # (n_planes, dim)

    @pandas_udf("string")
    def _signs(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        bits = np.where(_dot_block(_widen(vecs), w) >= 0, "1", "0")
        return pd.Series(["".join(row) for row in bits])

    return _signs


def collect_model(df) -> list:
    """Collect a model relation to the driver: rows sorted ascending by
    the first column, returned as one list per column (empty lists
    for an empty relation)."""
    rows = sorted(df.collect(), key=lambda r: r[0])
    return [[r[i] for r in rows] for i in range(len(df.columns))]
