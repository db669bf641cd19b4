"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload analytics_warm --runs 10 [--first-seed 1]

Runs the benchmark once per seed (``--trace 0``, ``run_seconds`` from
BENCHMARK.json) and prints, per end-to-end metric, the median, the
quartile spread as a share of the median (``statistics.quantiles``,
n=4) and the metric's bound. A benchmark is steady when every spread
but ``setup_s``'s is below a third of its bound; set-up time is judged
on its median only.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    a = p.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    values: dict[str, list[float]] = {m["name"]: [] for m in bench["end_to_end"]}
    walls = []
    for seed in range(a.first_seed, a.first_seed + a.runs):
        t0 = time.monotonic()
        out = subprocess.run(
            bench["command"] + [
                "--workload", a.workload, "--seed", str(seed),
                "--seconds", str(bench["run_seconds"]), "--trace", "0",
            ],
            capture_output=True, text=True, check=True,
        ).stdout.strip().splitlines()
        walls.append(time.monotonic() - t0)
        res = json.loads(out[-1])
        diag = json.loads(out[-2]).get("diag", {}) if len(out) > 1 else {}
        print(json.dumps({"seed": seed, "wall_s": round(walls[-1], 1), **res, "diag": diag}),
              flush=True)
        for name in values:
            values[name].append(res["metrics"][name]["value"])
    print(f"{a.workload}: {a.runs} runs, mean wall {statistics.mean(walls):.1f} s")
    for m in bench["end_to_end"]:
        v = values[m["name"]]
        q1, med, q3 = statistics.quantiles(v, n=4)
        share = (q3 - q1) / med if med else float("inf")
        if m["name"] == "setup_s":  # judged on its median alone
            flag = "-"
        else:
            flag = "ok" if share < m["bound"] / 3 else "WIDE"
        print(f"  {m['name']:<12} median {med:12.4f}  spread {share:6.3f}  bound {m['bound']}  {flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
