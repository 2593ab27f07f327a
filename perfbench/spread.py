"""Run-to-run spread of the end-to-end metrics: runs the benchmark
command once per seed, one process after another, and reports per metric
the median and the interquartile range as a share of the median.

    python3 perfbench/spread.py --workload stream_ingest --seeds 1-10 \\
        [--out spread.json]

Also reports the wall time of each run, so the cost of a full pass
(4 + 22 runs per workload) can be estimated.
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


def seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out")
    args = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    values: dict[str, list[float]] = {}
    walls, results = [], []
    for seed in seeds(args.seeds):
        t = time.perf_counter()
        proc = subprocess.run(
            spec["command"] + ["--workload", args.workload, "--seed",
                               str(seed), "--seconds",
                               str(spec["run_seconds"]), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, timeout=600)
        walls.append(time.perf_counter() - t)
        out = json.loads(proc.stdout.strip().splitlines()[-1])
        results.append(out)
        for k, v in out["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {seed}: {walls[-1]:.1f} s correct={out['correct']} "
              + " ".join(f"{k}={v['value']:.4g}"
                         for k, v in out["metrics"].items()), flush=True)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    report = {}
    for k, vs in values.items():
        q1, med, q3 = statistics.quantiles(vs, n=4)
        med = statistics.median(vs)
        report[k] = {"median": med, "spread": (q3 - q1) / med,
                     "bound": bounds.get(k), "values": vs}
        print(f"{k:<14} median {med:12.4f}  spread {(q3 - q1) / med:7.4f}"
              f"  bound {bounds.get(k)}")
    print(f"run wall: median {statistics.median(walls):.1f} s, "
          f"max {max(walls):.1f} s")
    if args.out:
        Path(args.out).write_text(json.dumps(
            {"workload": args.workload, "metrics": report, "walls": walls,
             "all_correct": all(r["correct"] for r in results)}, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
