"""Per-session cache of relations and driver models (ADVICE r1 for
shingles, r3 for the rest): queries that persist an intermediate
relation consumed by multiple plan branches (simhash signatures, IVF
centroids, PQ codebook, PageRank edges) must not re-``persist()`` a new
copy on every invocation — bench's warm+timed double pass, the driver,
and the test suite all call each query repeatedly, which otherwise
leaks cached plans and triggers Spark's 'Asked to cache already cached
data' re-cache churn.

Two layers over one store:

- ``session_memo`` is the keyed memo. It holds any value — persisted
  DataFrames, the driver models that embedding operators collect once
  and ship in a kernel's closure (IVF quantizer, semantic seeds), and
  the catalog's inferred table schemas (``catalog.table_schema``, one
  ``{table: schema}`` dict per sf_dir). Its key is
  ``(applicationId, name, sf_dir, fingerprint)``: the same (name,
  sf_dir, file contents) within a session returns the stored value; a
  new sf_dir, regenerated files or a rebuilt session for the same name
  evicts the stale entry (unpersisting a DataFrame), bounding the store
  to one live value per name.
- ``session_cached`` is the persist/checkpoint step on top: it memoizes
  the builder's relation materialized by ``persist()`` or an eager
  ``localCheckpoint``.

At warehouse scale the same role is played by materialized intermediate
tables; locally this keeps executor storage bounded across a 173-query
suite run.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession

_CACHE: dict[tuple, Any] = {}


def path_fingerprint(path: str) -> tuple[int, int]:
    """(max mtime_ns, total size) of one parquet entry — a single file
    or a DIRECTORY of part files. os.stat on a directory yields dir
    metadata that need not change when part files are rewritten in
    place (ADVICE r5), so directories are walked file-by-file."""
    import os

    if os.path.isdir(path):
        mtime, size = 0, 0
        for root, _dirs, files in os.walk(path):
            for f in files:
                st = os.stat(os.path.join(root, f))
                mtime = max(mtime, st.st_mtime_ns)
                size += st.st_size
        return mtime, size
    st = os.stat(path)
    return st.st_mtime_ns, st.st_size


def _sf_fingerprint(sf_dir: str) -> tuple[int, int]:
    """Cheap content fingerprint of a testdata dir: (max mtime_ns, total
    size) over its parquet files. The driver regenerates testdata under
    an UNCHANGED path between rounds (ADVICE r4 on the semantic-seed
    cache) — a path-only key would keep serving relations persisted over
    the previous generation's files. Directory-of-parts table layouts
    (`events.parquet/part-*.parquet`) are fingerprinted by their
    contained files, not the directory inode (ADVICE r5)."""
    import glob
    import os

    mtime, size = 0, 0
    for p in glob.glob(os.path.join(sf_dir, "*.parquet")):
        m, s = path_fingerprint(p)
        mtime = max(mtime, m)
        size += s
    return mtime, size


def session_memo(
    spark: SparkSession,
    name: str,
    sf_dir: str,
    builder: Callable[[], Any],
) -> Any:
    """Return the value stored for (name, sf_dir) in this session,
    building it with ``builder`` on first use. Stale entries — a dead
    session's, or this name's under another sf_dir or fingerprint — are
    evicted first; evicted DataFrames are unpersisted."""
    app = spark.sparkContext.applicationId
    key = (app, name, sf_dir, _sf_fingerprint(sf_dir))
    if key not in _CACHE:
        stale = [
            k
            for k in _CACHE
            if k[0] != app  # dead session's entries
            or (k[1] == name and k != key)  # same name, other sf_dir
        ]
        for k in stale:
            old = _CACHE.pop(k)
            if isinstance(old, DataFrame):
                try:
                    old.unpersist()
                except Exception:
                    pass  # stopped session — nothing to release
        _CACHE[key] = builder()
    return _CACHE[key]


def session_cached(
    spark: SparkSession,
    name: str,
    sf_dir: str,
    builder: Callable[[], DataFrame],
    checkpoint: bool = False,
) -> DataFrame:
    """Return a persisted DataFrame for (name, sf_dir), building it with
    ``builder`` on first use in this session and reusing it afterwards.

    ``checkpoint=True`` materializes via an eager ``localCheckpoint``
    instead of ``persist()`` (r17, VERDICT r16 #6): a persisted
    relation keeps its FULL lineage embedded in every consumer's plan,
    so a query that fans a cached dimension relation into several
    1-row aggregate branches re-optimizes the whole cached subtree per
    branch (agg_theil_decomposition's executed plan was 309 lines with
    the orders-scan chain embedded 4x, and its wall DOUBLED vs the
    pre-cache shape — the cost was Catalyst/AQE re-planning, not
    execution). A localCheckpoint truncates lineage to a Scan
    ExistingRDD, so consumer plans stay flat. Use it for
    dimension-grain relations consumed by many tiny branches; plain
    persist remains right for relations whose consumers are few and
    heavy (the columnar cache reads faster and survives executor
    loss at warehouse scale)."""

    def materialize() -> DataFrame:
        built = builder()
        return built.localCheckpoint(eager=True) if checkpoint else built.persist()

    return session_memo(spark, name, sf_dir, materialize)
