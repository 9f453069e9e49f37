"""Run the benchmark on several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload batch_dense --seeds 1-10 [--trace 0]

For each end-to-end metric: the median of the runs and the interquartile
distance as a share of it (``statistics.quantiles(values, n=4)``), next to
the metric's bound from BENCHMARK.json, and the wall time of every run.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench.stats import spread  # noqa: E402


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args(argv)
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    values: dict[str, list[float]] = {}
    walls = []
    ok = True
    for seed in seeds(args.seeds):
        cmd = bench["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace),
        ]
        t = time.monotonic()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        walls.append(time.monotonic() - t)
        if proc.returncode != 0:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
            return 1
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        ok &= result["correct"] and result["failed"] == 0
        print(f"seed {seed}: {walls[-1]:.1f} s wall, correct={result['correct']}", flush=True)
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    print(f"runs: {len(walls)}, wall median {statistics.median(walls):.1f} s, "
          f"max {max(walls):.1f} s, all correct: {ok}")
    for name, v in values.items():
        med = statistics.median(v)
        share = f"spread {spread(v):.4f}" if len(v) >= 2 and med else ""
        print(f"  {name:<32} median {med:<14.6g} {share:<16} bound {bounds.get(name)}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
