"""Repeat the benchmark over seeds and report each metric's spread.

    python3 perfbench/spread.py --workload ingest --seeds 1-10 [--trace 0]

Runs ``perfbench/run.py`` once per seed (sequentially, from the
repository root, with BENCHMARK.json's ``run_seconds``) and prints, per
metric, the median and the interquartile range as a share of the median
(``statistics.quantiles(values, n=4)``), plus the wall time of each run.
The raw results go to ``perfbench/work/spread-<workload>-trace<t>.json``.
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


def seeds_of(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def iqr_share(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    runs = []
    for seed in seeds_of(args.seeds):
        t = time.perf_counter()
        res = subprocess.run(
            bench["command"] + ["--workload", args.workload, "--seed", str(seed),
                                "--seconds", str(bench["run_seconds"]),
                                "--trace", str(args.trace)],
            cwd=ROOT, capture_output=True, text=True,
        )
        wall = time.perf_counter() - t
        last = (res.stdout.strip().splitlines() or ["{}"])[-1]
        result = json.loads(last) if last.startswith("{") else {}
        runs.append({"seed": seed, "wall_s": wall, "rc": res.returncode, "result": result})
        print(f"seed {seed}: rc={res.returncode} wall={wall:.1f}s "
              f"correct={result.get('correct')} failed={result.get('failed')} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in result.get("metrics", {}).items()),
              flush=True)
    out = ROOT / "perfbench" / "work" / f"spread-{args.workload}-trace{args.trace}.json"
    out.parent.mkdir(parents=True, exist_ok=True)
    out.write_text(json.dumps(runs, indent=1))
    names = sorted({k for r in runs for k in r["result"].get("metrics", {})})
    for name in names:
        vals = [r["result"]["metrics"][name]["value"] for r in runs
                if name in r["result"].get("metrics", {})]
        if len(vals) >= 2 and statistics.median(vals):
            print(f"{name:24s} median={statistics.median(vals):.4g} iqr/median={iqr_share(vals):.3f}")
    walls = [r["wall_s"] for r in runs]
    print(f"run wall: median={statistics.median(walls):.1f}s max={max(walls):.1f}s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
