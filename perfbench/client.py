"""Closed-loop benchmark client: one process, one client, no think time.

Started by ``run.py`` with the environment it prepares. Sequence:

1. expected results from the DuckDB oracle (cached per data build);
2. session start, then the cold pass and WARM_PASSES warm passes
   (``setup_s`` covers process start to here, oracle time excluded);
3. whole passes for ``--seconds`` (the timed section);
4. one untimed verification pass that checks every op kind;
5. the result JSON as the last stdout line.

With ``--trace 1`` the last warm pass and the timed passes run under
``layertrace.Tracer``, and the result holds the per-layer metrics of the
timed passes instead of the end-to-end ones.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import statistics
import sys
import time

T_PROC = time.perf_counter()

# Warm-up: the cold pass, then a fixed number of warm passes, so every
# run starts timing at the same point of the warm-up curve. The result
# notes whether the first timed pass was within SETTLE of the last warm
# pass.
WARM_PASSES = 1
SETTLE = 0.10


def _args():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--sf-dir", required=True, help="the tables the program reads")
    p.add_argument("--work", required=True)
    p.add_argument("--cache", required=True)
    p.add_argument("--spans", help="where the traced run writes its spans")
    return p.parse_args()


def session_cpu_s() -> float:
    """CPU seconds (user + system) used so far by the processes of this
    session: the client, the Spark JVM and its Python workers, plus the
    children they have already reaped."""
    sid, ticks = os.getsid(0), 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid:
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def host_steal_s() -> float:
    """Seconds of CPU time the hypervisor gave to others while this
    host's CPUs were ready to run (``steal`` in /proc/stat)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _expected(checks, sf_dir: str, cache_dir: str) -> dict:
    """{kind: (rows, hash)} from each check's oracle SQL, cached on disk
    by the SQL text and table dir (table dirs are keyed by the data
    generator's source, so new data means new keys)."""
    import check
    from real_estate_data_analysis_with_aws_data_pipeline_project_spark.api import QUERIES

    out, todo = {}, []
    for kind, c in checks.items():
        sql = QUERIES[c.query].oracle
        key = hashlib.sha256(f"{sf_dir}\n{sql}".encode()).hexdigest()[:24]
        path = os.path.join(cache_dir, key + ".json")
        if os.path.exists(path):
            with open(path) as f:
                out[kind] = tuple(json.load(f))
        else:
            todo.append((kind, sql, path))
    got = check.oracle_digests([(k, s) for k, s, _ in todo], sf_dir) if todo else {}
    os.makedirs(cache_dir, exist_ok=True)
    for kind, _sql, path in todo:
        out[kind] = got[kind]
        with open(path + ".tmp", "w") as f:
            json.dump(got[kind], f)
        os.replace(path + ".tmp", path)
    return out


class Runner:
    """Runs ops; under a tracer also times the build / plan / execute
    phases, their Spark jobs and the execute phase's executor deltas."""

    def __init__(self, spark, tracer=None):
        self.spark, self.tracer = spark, tracer
        self.n_ops = 0
        self.pass_no = 0
        self.phase_counts: list[dict] = []  # per traced op
        self.results: dict = {}  # kind -> DataFrame, current pass

    def _group(self, phase: str) -> str:
        g = f"pb-{self.n_ops}-{phase}"
        self.spark.sparkContext.setJobGroup(g, g)
        return g

    def _keep(self, op, res) -> None:
        from pyspark.sql import DataFrame

        if isinstance(res, DataFrame):
            self.results[op.kind] = res

    def run(self, op) -> tuple[float, str | None]:
        """(wall seconds, error or None) of one op."""
        from pyspark.sql import DataFrame

        tr = self.tracer
        self.n_ops += 1
        err = None
        if tr is None:
            t0 = time.perf_counter()
            try:
                res = op.build()
                self._keep(op, res)
                if op.sink:
                    op.sink(res)
                if op.accept and not op.accept(res):
                    err = f"rejected result: {res!r:.200}"
            except Exception as e:  # counted as a failed op
                err = f"{type(e).__name__}: {str(e)[:300]}"
            return time.perf_counter() - t0, err

        import layertrace as T

        sc = self.spark.sparkContext
        tr.op = self.n_ops
        counts = {}
        top = tr.open("op", kind=op.kind)
        try:
            gb = self._group("build")
            res = tr.span("build", op.build)
            self._keep(op, res)
            if isinstance(res, DataFrame):
                tr.span("plan", lambda: res._jdf.queryExecution().executedPlan())
            if op.sink:
                ge = self._group("exec")
                T.drain_listener_bus(self.spark)
                before, gc0 = T.executor_totals(self.spark), T.gc_ms(self.spark)
                tr.span("execute", op.sink, res)
                gc1 = T.gc_ms(self.spark)
                T.drain_listener_bus(self.spark)
                after = T.executor_totals(self.spark)
                counts["exec"] = T.group_counts(self.spark, ge)
                counts["exec_bytes"] = {k: after[k] - before[k] for k in after}
                counts["exec_gc_ms"] = gc1 - gc0
            else:
                T.drain_listener_bus(self.spark)
            counts["build"] = T.group_counts(self.spark, gb)
            if op.accept and not op.accept(res):
                err = f"rejected result: {res!r:.200}"
        except Exception as e:
            err = f"{type(e).__name__}: {str(e)[:300]}"
        finally:
            tr.close(top, error=err)
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        counts["pass"] = self.pass_no
        self.phase_counts.append(counts)
        s = tr.spans[top]
        return s.end - s.start, err


def main() -> int:
    a = _args()
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import workloads

    out_dir = os.path.join(a.work, "out")
    os.makedirs(out_dir, exist_ok=True)
    cls = workloads.WORKLOADS[a.workload]

    # Expected results are prepared before the session starts (the
    # checks only name their oracles, so no session is needed yet).
    t_or = time.perf_counter()
    expected = _expected(cls(None, a.sf_dir, out_dir).checks, a.sf_dir, a.cache)
    oracle_s = time.perf_counter() - t_or

    from real_estate_data_analysis_with_aws_data_pipeline_project_spark.session import get_spark

    t_sess = time.perf_counter()
    spark = get_spark(app_name="perfbench")
    start_s = time.perf_counter() - t_sess
    wl = cls(spark, a.sf_dir, out_dir)
    rng = random.Random(a.seed)

    def run_pass(k: int, runner: Runner, log=None) -> float:
        runner.pass_no = k
        runner.results = {}
        t0 = time.perf_counter()
        for op in wl.pass_ops(rng):
            wall, err = runner.run(op)
            if log is not None:
                log.append((op.kind, wall, err))
        return time.perf_counter() - t0

    # With --trace 1 the last warm pass is traced too, so job counts of
    # two consecutive passes can be compared; metrics use timed passes.
    tracer = stream = None
    runner = Runner(spark)
    warm, warm_errors, warm_ops = [], [], []
    for k in range(1 + WARM_PASSES):
        if a.trace and k == WARM_PASSES:
            import layertrace as T

            stream = T.StreamingStats()
            spark.streams.addListener(stream.listener)
            tracer = T.Tracer()
            tracer.install()
            runner = Runner(spark, tracer)
        log = []
        warm.append(run_pass(k, runner, log))
        warm_errors += [(kind, e) for kind, _w, e in log if e]
        warm_ops.append({kind: round(w, 3) for kind, w, _e in log})
    setup_s = time.perf_counter() - T_PROC - oracle_s

    # Timed section: whole passes until --seconds have elapsed and the
    # workload's minimum pass count has run.
    first_timed = k = 1 + WARM_PASSES
    log, pass_walls = [], []
    if stream:
        stream0 = stream.snapshot()
        stream.last_state.clear()
        first_op = runner.n_ops + 1
    cpu0, steal0 = session_cpu_s(), host_steal_s()
    t_timed = time.perf_counter()
    while True:
        pass_walls.append(run_pass(k, runner, log))
        k += 1
        if len(pass_walls) >= wl.min_passes and time.perf_counter() - t_timed >= a.seconds:
            break
    timed_s = time.perf_counter() - t_timed
    timed_cpu_s, timed_steal_s = session_cpu_s() - cpu0, host_steal_s() - steal0
    passes = len(pass_walls)
    if tracer:
        T.drain_listener_bus(spark)
        tracer.uninstall()
        memory = T.memory_mb(spark)

    # Untimed verification pass: one result per op kind that was timed,
    # read back from its output or collected from the last timed pass's
    # DataFrame (a kind whose build raised there has none: it fails).
    import check

    t_verify = time.perf_counter()
    mismatched = {}
    timed_kinds = {kind for kind, _w, _e in log}
    for kind, c in wl.checks.items():
        if kind not in timed_kinds:
            continue
        try:
            pdf = c.read() if c.read else runner.results[kind].toPandas()
            got = check.digest(pdf)
            if got != expected[kind]:
                mismatched[kind] = (
                    f"rows/hash {got[0]}/{got[1][:12]} != "
                    f"oracle {expected[kind][0]}/{expected[kind][1][:12]}"
                )
        except Exception as e:
            mismatched[kind] = f"{type(e).__name__}: {str(e)[:300]}"
    verify_s = time.perf_counter() - t_verify

    failed_ops = [(kind, err or mismatched[kind]) for kind, _w, err in log
                  if err or kind in mismatched]
    attempted = len(log)
    walls = sorted(w for _k, w, _e in log)
    diag = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "op_samples": attempted, "timed_passes": passes,
        "pass_walls": [round(w, 3) for w in pass_walls],
        "warm_walls": [round(w, 3) for w in warm],
        "settled": abs(pass_walls[0] - warm[-1]) <= SETTLE * warm[-1],
        "setup_s": round(setup_s, 3),
        "oracle_s": round(oracle_s, 3), "session_start_s": round(start_s, 3),
        "verify_s": round(verify_s, 3), "client_s": round(time.perf_counter() - T_PROC, 3),
        "cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "timed_cpu_s": round(timed_cpu_s, 2), "timed_steal_s": round(timed_steal_s, 2),
        # Too few walls per run for a p90 with ten samples beyond it, so
        # it is a diagnostic here, not a metric.
        "op_p90_s": round(statistics.quantiles(walls, n=10, method="inclusive")[-1], 3),
        "op_walls": {k: round(w, 3) for k, w, _e in log},
        "warm_op_walls": warm_ops,
        "failed_kinds": sorted({k for k, _ in failed_ops}),
        "first_errors": failed_ops[:3], "warm_errors": warm_errors[:3],
    }

    if not a.trace:
        metrics = {
            "setup_s": (setup_s, "s"),
            "pass_s": (timed_s / passes, "s"),
            "op_p50_s": (statistics.median(walls), "s"),
            "ok_ratio": ((attempted - len(failed_ops)) / attempted, "ratio"),
        }
    else:
        metrics = T.layer_metrics(
            tracer, runner, stream, stream0, first_op, first_timed, passes, timed_s)
        metrics["session.start_s"] = (start_s, "s")
        metrics["session.jvm_peak_rss_mb"] = (memory["peak_rss"], "MB")
        metrics["session.jvm_live_mb"] = (memory["live"], "MB")
        metrics["operators.session_cache.storage_mb"] = (memory["cached"], "MB")
        metrics["streaming.tmp_mb_left"] = (T.tmp_mb_left(os.environ["TMPDIR"]), "MB")
        diag["jobs_per_pass"] = T.jobs_per_pass(runner)
        tracer.dump(a.spans)

    t_stop = time.perf_counter()
    spark.stop()
    diag["stop_s"] = round(time.perf_counter() - t_stop, 3)
    print(json.dumps({"diag": diag}), flush=True)
    print(json.dumps({
        "correct": not failed_ops,
        "attempted": attempted,
        "failed": len(failed_ops),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
