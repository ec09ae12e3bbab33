"""Run the benchmark over several seeds and report each metric's spread.

Usage (from the repository root)::

    python3 dtbench/prove.py --workload dt_score --seeds 1-10 [--trace 0]

For every metric it prints the median over the runs and the distance
between the first and third quartile as a share of that median,
beside the metric's bound from ``BENCHMARK.json``.  A spread below a
third of its bound is marked steady.  Runs are sequential; each run's
result line is appended to ``dtbench/_work/prove.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from dtbench import stats  # noqa: E402


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser(description="Spread of each metric over seeds.")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values: dict[str, list[float]] = {}
    log = os.path.join(HERE, "_work", "prove.jsonl")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    for seed in seeds(a.seeds):
        cmd = bench["command"] + [
            "--workload", a.workload, "--seed", str(seed),
            "--seconds", str(bench["run_seconds"]), "--trace", str(a.trace),
        ]
        out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
        if out.returncode != 0:
            print(out.stdout, out.stderr[-3000:], sep="\n")
            return 1
        result = json.loads(out.stdout.strip().splitlines()[-1])
        with open(log, "a") as fh:
            fh.write(json.dumps({"workload": a.workload, "seed": seed, **result}) + "\n")
        if not result["correct"]:
            print(f"seed {seed}: incorrect, {result['failed']} of {result['attempted']} failed")
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    for name, vs in values.items():
        line = f"{name:34s} median {stats.median(vs):12.6g}"
        if len(vs) >= 2 and stats.median(vs) != 0:
            sp = stats.spread(vs)
            line += f"  spread {sp:7.4f}"
            if name in bounds:
                verdict = "steady" if sp < bounds[name] / 3 else "UNSTEADY"
                line += f"  bound {bounds[name]}  {verdict}"
        print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
