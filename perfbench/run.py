"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the synthetic tables once
(under ``.perfbench_work/``), then starts one client process
(``client.py``) with:

- the repository root on ``PYTHONPATH`` (the engine's Arrow/pandas
  UDFs import the package inside Spark's Python workers);
- ``SPARK_GRAFT_CPUS`` pinned to the usable core count, every other
  engine setting left at its default;
- a private ``TMPDIR`` (also the JVM's ``java.io.tmpdir``) that is
  deleted when the run ends.

The last stdout line is the result JSON. ``--smoke`` swaps the sf0.01
tables for sf0.001 ones.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
PKG = "real_estate_data_analysis_with_aws_data_pipeline_project_spark"
WORK = ".perfbench_work"
DEADLINE_S = 170  # the whole run, data build included

SF = 0.01  # table scale factor of every workload
SMOKE_SF = 0.001


def _args():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("etl_batch", "analytics_warm"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true")
    return p.parse_args()


def _cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _tables(root: str, sf: float) -> str:
    """The table dir of scale ``sf``, generated on first use. Dirs are
    keyed by the generator's source hash, so a changed generator
    regenerates."""
    with open(os.path.join(HERE, "datagen.py"), "rb") as f:
        gen = hashlib.sha256(f.read()).hexdigest()[:12]
    d = os.path.join(root, WORK, "data", gen, f"sf{sf}")
    if not os.path.isdir(d):
        sys.path.insert(0, HERE)
        import datagen

        datagen.generate(d, sf)
    return d


def _reap_group(pgid: int) -> None:
    """Kill what is left of the client's process group (the JVM and
    Python workers live in it) and wait until the group is empty."""
    for _ in range(200):
        try:
            os.killpg(pgid, signal.SIGKILL)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def main() -> int:
    a = _args()
    t0 = time.monotonic()
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PKG)):
        print(f"error: run from the repository root ({PKG}/ not found)", file=sys.stderr)
        return 2
    sf_dir = _tables(root, SMOKE_SF if a.smoke else SF)
    run_dir = os.path.join(root, WORK, f"run-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cpus = _cpus()
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join(p for p in (root, env.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(cpus),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": " ".join(p for p in (
            env.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData",
        ) if p),
    })
    cmd = [
        sys.executable, os.path.join(HERE, "client.py"),
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--sf-dir", sf_dir,
        "--work", run_dir, "--cache", os.path.join(root, WORK, "expect"),
        "--spans", os.path.join(root, WORK, f"spans-{a.workload}-{a.seed}.jsonl"),
    ]
    proc = subprocess.Popen(
        cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE, text=True,
        start_new_session=True,
    )
    try:
        out, _ = proc.communicate(timeout=max(10.0, DEADLINE_S - (time.monotonic() - t0)))
    except subprocess.TimeoutExpired:
        _reap_group(proc.pid)
        proc.communicate()
        print("error: client timed out", file=sys.stderr)
        return 1
    finally:
        _reap_group(proc.pid)
        shutil.rmtree(run_dir, ignore_errors=True)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(out)
        print(f"error: client exited {proc.returncode}", file=sys.stderr)
        return 1
    json.loads(lines[-1])  # the result line must parse
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.exit(main())
