"""Outside-in layer tracing for the traced benchmark run.

Spans (name, start, end, parent, op id) are kept in memory and written
out when the run ends. Layer functions are wrapped from outside: the
query modules import ``load_table``, ``session_cached``,
``bucket_prefix_cells`` and the writers by name, so ``Tracer.install``
rebinds every alias of each wrapped function across the package's
loaded modules and ``Tracer.uninstall`` restores them.
"""

from __future__ import annotations

import functools
import inspect
import json
import os
import sys
import time
from collections import defaultdict
from dataclasses import dataclass

PKG = "real_estate_data_analysis_with_aws_data_pipeline_project_spark"
MB = 1 << 20

# (module, attribute, span name) for every wrapped layer function.
WRAPPED = [
    ("sources.catalog", "load_table", "sources.catalog.load_table"),
    ("operators.session_cache", "session_cached", "operators.session_cache"),
    ("operators.rank_prefix", "bucket_prefix_cells", "operators.rank_prefix"),
    ("plans.orchestration", "run_pipeline", "plans.orchestration.run_pipeline"),
    ("sources.readers", "read_csv", "sources.readers"),
    ("sources.readers", "read_json", "sources.readers"),
    ("sources.readers", "read_parquet", "sources.readers"),
    ("sources.readers", "read_orc", "sources.readers"),
    ("sources.readers", "read_binary_files", "sources.readers"),
    ("sources.writers", "write_with_contract", "sources.writers"),
    ("sources.writers", "write_parquet", "sources.writers"),
    ("sources.writers", "write_csv", "sources.writers"),
    ("sources.writers", "write_json", "sources.writers"),
    ("sources.writers", "write_orc", "sources.writers"),
]


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int
    attrs: dict


def _dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, data files) under an output path, Spark's markers excluded."""
    total, files = 0, 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op = -1
        self._restore: list[tuple[object, str, object]] = []

    # -- spans -----------------------------------------------------------
    def open(self, name: str, **attrs) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.op, attrs))
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def close(self, idx: int, **attrs) -> None:
        assert self._stack and self._stack[-1] == idx, "unbalanced span"
        self._stack.pop()
        span = self.spans[idx]
        span.end = time.perf_counter()
        span.attrs.update(attrs)

    def span(self, name: str, fn, *args, **kwargs):
        idx = self.open(name)
        try:
            return fn(*args, **kwargs)
        finally:
            self.close(idx)

    def self_times(self) -> list[float]:
        """Duration minus the union of direct children's intervals
        (children are nested and sequential, so the union is a sum)."""
        out = [s.end - s.start for s in self.spans]
        for s in self.spans:
            if s.parent is not None:
                out[s.parent] -= s.end - s.start
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({
                    "id": i, "name": s.name, "start": s.start, "end": s.end,
                    "parent": s.parent, "op": s.op, **s.attrs,
                }) + "\n")

    # -- function rebinding ---------------------------------------------
    def _wrap(self, orig, name: str):
        tracer = self

        if name == "operators.session_cache":
            @functools.wraps(orig)
            def session_cached(spark, name, sf_dir, builder, *a, **kw):
                built = []

                def counted_builder():
                    built.append(1)
                    return builder()

                idx = tracer.open("operators.session_cache", key=name)
                try:
                    return orig(spark, name, sf_dir, counted_builder, *a, **kw)
                finally:
                    tracer.close(idx, miss=bool(built))
            return session_cached

        if name == "sources.writers":
            sig = inspect.signature(orig)

            @functools.wraps(orig)
            def writer(*a, **kw):
                path = sig.bind(*a, **kw).arguments["path"]
                idx = tracer.open(name, fn=orig.__name__)
                try:
                    return orig(*a, **kw)
                finally:
                    tracer.close(idx, **dict(zip(("bytes", "files"), _dir_bytes(path))))
            return writer

        if name == "plans.orchestration.run_pipeline":
            @functools.wraps(orig)
            def run_pipeline(*a, **kw):
                idx = tracer.open(name)
                res = None
                try:
                    res = orig(*a, **kw)
                    return res
                finally:
                    tracer.close(idx, attempts=getattr(res, "attempts", 0))
            return run_pipeline

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            idx = tracer.open(name)
            try:
                return orig(*a, **kw)
            finally:
                tracer.close(idx)
        return wrapper

    def install(self) -> None:
        targets = []
        for mod_name, attr, span_name in WRAPPED:
            orig = getattr(sys.modules[f"{PKG}.{mod_name}"], attr)
            targets.append((orig, self._wrap(orig, span_name)))
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name == PKG or mod_name.startswith(PKG + ".")):
                continue
            for attr, val in list(vars(mod).items()):
                for orig, wrapped in targets:
                    if val is orig:
                        setattr(mod, attr, wrapped)
                        self._restore.append((mod, attr, orig))

    def uninstall(self) -> None:
        for mod, attr, orig in reversed(self._restore):
            setattr(mod, attr, orig)
        self._restore.clear()


# -- Spark-side counters (read through the driver JVM) -------------------

def drain_listener_bus(spark) -> None:
    """Wait until the listener bus has delivered every event, so the
    status store and executor summaries reflect finished jobs."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10_000)


def executor_totals(spark) -> dict[str, float]:
    """Cumulative input and shuffle bytes over all executors."""
    store = spark.sparkContext._jsc.sc().statusStore()
    execs = store.executorList(True)
    tot = defaultdict(float)
    for i in range(execs.size()):
        e = execs.apply(i)
        tot["input"] += e.totalInputBytes()
        tot["shuffle_read"] += e.totalShuffleRead()
        tot["shuffle_write"] += e.totalShuffleWrite()
    return dict(tot)


def group_counts(spark, group: str) -> tuple[int, int, int]:
    """(jobs, stages that ran tasks, tasks) of one job group."""
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages, tasks = 0, 0
    for j in jobs:
        info = tracker.getJobInfo(j)
        for s in info.stageIds if info else ():
            st = tracker.getStageInfo(s)
            if st and st.numCompletedTasks:
                stages += 1
                tasks += st.numCompletedTasks
    return len(jobs), stages, tasks


class StreamingStats:
    """StreamingQueryListener collecting micro-batch progress."""

    def __init__(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        stats = self
        self.batches = 0
        self.input_rows = 0
        self.add_batch_ms = 0.0
        self.commit_ms = 0.0
        self.last_state: dict[str, tuple[int, int]] = {}

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                d = p.durationMs or {}
                stats.batches += 1
                stats.input_rows += int(p.numInputRows or 0)
                stats.add_batch_ms += d.get("addBatch", 0)
                stats.commit_ms += d.get("walCommit", 0) + d.get("commitOffsets", 0)
                ops = p.stateOperators or []
                stats.last_state[str(p.runId)] = (
                    sum(int(o.numRowsTotal) for o in ops),
                    sum(int(o.memoryUsedBytes) for o in ops),
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _Listener()

    def snapshot(self) -> tuple:
        rows = sum(r for r, _ in self.last_state.values())
        mem = sum(m for _, m in self.last_state.values())
        return (self.batches, self.input_rows, self.add_batch_ms, self.commit_ms, rows, mem)


def gc_ms(spark) -> float:
    """Total JVM GC time so far, over all collectors."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return float(sum(b.getCollectionTime() for b in beans))


def memory_mb(spark) -> dict[str, float]:
    """Peak RSS (VmHWM) of the JVM, then, after a Python GC (releases
    py4j references) and a full JVM GC (the context cleaner drops what
    no one references): heap plus non-heap in use, and memory plus disk
    held by cached RDDs (persisted and locally checkpointed relations,
    leaked ones included)."""
    import gc

    jvm = spark._jvm
    with open(f"/proc/{jvm.java.lang.ProcessHandle.current().pid()}/status") as f:
        peak = next(int(ln.split()[1]) for ln in f if ln.startswith("VmHWM:")) / 1024
    gc.collect()
    jvm.java.lang.System.gc()
    time.sleep(0.5)
    mem = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    live = mem.getHeapMemoryUsage().getUsed() + mem.getNonHeapMemoryUsage().getUsed()
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    cached = sum(i.memSize() + i.diskSize() for i in infos)
    return {"peak_rss": peak, "live": live / MB, "cached": cached / MB}


def tmp_mb_left(tmp: str) -> float:
    """Bytes the program left in TMPDIR, Spark's own scratch dirs
    (block manager, session dirs) excluded."""
    total = 0
    for entry in os.listdir(tmp):
        if entry.startswith(("blockmgr-", "spark-")):
            continue
        p = os.path.join(tmp, entry)
        if os.path.isfile(p):
            total += os.path.getsize(p)
        for root, _dirs, files in os.walk(p):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / MB


def jobs_per_pass(runner) -> dict:
    """Spark jobs per traced pass, build and execute phases apart: the
    counts repeat exactly on a warm session."""
    by: dict[int, list[int]] = {}
    for c in runner.phase_counts:
        b, e = by.setdefault(c["pass"], [0, 0])
        by[c["pass"]] = [b + c.get("build", (0,))[0], e + c.get("exec", (0,))[0]]
    return {"build": [v[0] for v in by.values()], "exec": [v[1] for v in by.values()]}


def layer_metrics(tracer, runner, stream, stream0, first_op: int,
                  first_pass: int, passes: int, timed_s: float) -> dict:
    """Per-layer metrics over the timed passes, per pass unless noted."""
    self_t = [t for s, t in zip(tracer.spans, tracer.self_times()) if s.op >= first_op]
    spans = [s for s in tracer.spans if s.op >= first_op]
    counts = [c for c in runner.phase_counts if c["pass"] >= first_pass]

    def total(name, pred=lambda s: True):
        return sum(s.end - s.start for s in spans if s.name == name and pred(s))

    def count(name, pred=lambda s: True):
        return sum(1 for s in spans if s.name == name and pred(s))

    per = 1.0 / passes
    build = total("build")
    plan = total("plan")
    execute = total("execute")
    build_self = sum(t for s, t in zip(spans, self_t) if s.name == "build")
    phases = build + plan + execute
    # A key looked up again inside the op that just built it is a repeat
    # lookup, not reuse; the hit ratio is over each op's first lookups.
    cache = [s for s in spans if s.name == "operators.session_cache"]
    seen, firsts = set(), []
    for s in cache:
        if (s.op, s.attrs["key"]) not in seen:
            seen.add((s.op, s.attrs["key"]))
            firsts.append(s)
    cache_miss = sum(1 for s in cache if s.attrs["miss"])
    first_hits = sum(1 for s in firsts if not s.attrs["miss"])
    miss_s = sum(s.end - s.start for s in cache if s.attrs["miss"])
    top_writer = [
        s for s in spans
        if s.name == "sources.writers" and tracer.spans[s.parent].name != "sources.writers"
    ]
    pipe = [s for s in spans if s.name == "plans.orchestration.run_pipeline"]
    exec_counts = [c for c in counts if "exec" in c]

    def csum(key, i):
        return sum(c[key][i] for c in counts if key in c)

    def bsum(field):
        return sum(c["exec_bytes"].get(field, 0.0) for c in exec_counts)

    s1 = stream.snapshot()
    d = [b - a for a, b in zip(stream0, s1)]
    m = {
        "trace.pass_s": (timed_s * per, "s"),
        "trace.layer_cover": (phases / timed_s, "ratio"),
        "queries.build_s": (build * per, "s"),
        "queries.build_self_s": (build_self * per, "s"),
        "queries.build_jobs": (csum("build", 0) * per, "count"),
        "queries.build_share": (build / phases if phases else 0.0, "ratio"),
        "plan.plan_s": (plan * per, "s"),
        "execute.exec_s": (execute * per, "s"),
        "execute.jobs": (csum("exec", 0) * per, "count"),
        "execute.stages": (csum("exec", 1) * per, "count"),
        "execute.tasks": (csum("exec", 2) * per, "count"),
        "execute.shuffle_read_mb": (bsum("shuffle_read") / MB * per, "MB"),
        "execute.shuffle_write_mb": (bsum("shuffle_write") / MB * per, "MB"),
        "execute.input_mb": (bsum("input") / MB * per, "MB"),
        "execute.gc_s": (sum(c["exec_gc_ms"] for c in exec_counts) / 1000 * per, "s"),
        "operators.session_cache.calls": (len(cache) * per, "count"),
        "operators.session_cache.misses": (cache_miss * per, "count"),
        "operators.session_cache.repeat_lookups": ((len(cache) - len(firsts)) * per, "count"),
        "operators.session_cache.hit_ratio": (
            first_hits / len(firsts) if firsts else 0.0, "ratio"),
        "operators.session_cache.build_s": (miss_s * per, "s"),
        "operators.rank_prefix.calls": (count("operators.rank_prefix") * per, "count"),
        "operators.rank_prefix.s": (total("operators.rank_prefix") * per, "s"),
        "sources.catalog.load_table_calls": (count("sources.catalog.load_table") * per, "count"),
        "sources.catalog.load_table_s": (total("sources.catalog.load_table") * per, "s"),
        "sources.readers.s": (total("sources.readers") * per, "s"),
        "sources.writers.write_s": (sum(s.end - s.start for s in top_writer) * per, "s"),
        "sources.writers.bytes_written": (sum(s.attrs.get("bytes", 0) for s in top_writer) * per, "count"),
        "sources.writers.files_written": (sum(s.attrs.get("files", 0) for s in top_writer) * per, "count"),
        "plans.orchestration.run_pipeline_s": (sum(s.end - s.start for s in pipe) * per, "s"),
        "plans.orchestration.attempts": (
            sum(s.attrs.get("attempts", 0) for s in pipe) / len(pipe) if pipe else 0.0, "count"),
        "streaming.batches": (d[0] * per, "count"),
        "streaming.input_rows": (d[1] * per, "count"),
        "streaming.add_batch_s": (d[2] / 1000 * per, "s"),
        "streaming.commit_s": (d[3] / 1000 * per, "s"),
        "streaming.state_rows": (s1[4] * per, "count"),
        "streaming.state_mb": (s1[5] / MB * per, "MB"),
    }
    return m
