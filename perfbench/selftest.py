"""The benchmark's own test: every workload at smoke size, traced, in one
process, plus a check of ``BENCHMARK.json`` against the contract and of
the refusal to run without the library.

    python3 perfbench/selftest.py

Fails (exit 1) if a workload's output check fails, if a traced run does
not emit exactly the per-layer metrics ``BENCHMARK.json`` names with
their units, if an end-to-end metric is missing, zero or not finite, or
if a layer reads zero on the workload that exercises it.
"""

from __future__ import annotations

import json
import math
import re
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import harness as H  # noqa: E402
import run as R  # noqa: E402

sys.path.insert(0, str(H.ROOT))

# the workloads on which each layer's metrics must be non-zero
CURATE = ("extract_crawl", "curate_chain")
HOME = {
    "setup.": ("extract_crawl",), "pipeline.": ("extract_crawl",),
    "extract.": ("extract_crawl",), "html_extract.": ("extract_crawl",),
    "pdf_extract.": ("extract_crawl",), "warc.": ("stream_ingest",),
    "streaming.": ("stream_ingest",), "hygiene.": CURATE, "text.": CURATE,
    "dedup.": CURATE, "curate.": CURATE, "serve.": ("serve_extract",),
}
# metrics that may legitimately read zero at smoke size
MAY_BE_ZERO = {
    "extract.python_start_s",   # workers already started by warm-up
    "extract.batch_self_s", "pipeline.shuffle_write_bytes",
    "html_extract.giant_share",  # smoke inputs hold no giant page
    "serve.rejected", "dedup.verify_yield", "dedup.candidate_pairs",
    "streaming.wal_commit_s", "streaming.commit_offsets_s",
    "streaming.latest_offset_s", "streaming.query_planning_s",
    "streaming.state_commit_s", "pdf_extract.extract_s",
    "pdf_extract.pages",
}
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.\-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.\-]{1,16}$")


def check_spec(spec: dict) -> list[str]:
    bad = []
    keys = {"command", "paths", "run_seconds", "workloads", "end_to_end",
            "per_layer"}
    if set(spec) != keys:
        bad.append(f"top-level keys {sorted(spec)}")
    names = []
    for w in spec["workloads"]:
        if set(w) != {"name", "why"} or len(w["why"]) > 200:
            bad.append(f"workload {w}")
        names.append(w["name"])
    for m in spec["end_to_end"]:
        if set(m) != {"name", "unit", "better", "bound"} or \
                not 0 < m["bound"] <= 0.25:
            bad.append(f"end_to_end {m}")
    for m in spec["per_layer"]:
        if set(m) != {"name", "unit", "better"}:
            bad.append(f"per_layer {m}")
    for m in spec["end_to_end"] + spec["per_layer"]:
        names.append(m["name"])
        if not UNIT.match(m["unit"]) or m["better"] not in ("lower",
                                                            "higher"):
            bad.append(f"unit/better of {m['name']}")
    for n in names:
        if not NAME.match(n):
            bad.append(f"name {n}")
    if len(names) != len(set(names)):
        bad.append("duplicate names")
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    if not setup or setup[0]["unit"] != "s" or \
            setup[0]["bound"] != max(m["bound"] for m in spec["end_to_end"]):
        bad.append("setup_s must exist, in s, with the largest bound")
    if not 2 <= len(spec["workloads"]) <= 8 or \
            not 1 <= spec["run_seconds"] <= 60:
        bad.append("workload count or run_seconds")
    if not {w["name"] for w in spec["workloads"]} <= set(R.WORKLOADS):
        bad.append("a workload of BENCHMARK.json is unknown to run.py")
    return bad


def home(metric: str, workload: str) -> bool:
    return any(metric.startswith(p) and workload in ws
               for p, ws in HOME.items())


def check_run(name: str, spec: dict, res: dict, out: dict) -> list[str]:
    bad = []
    if not out["correct"] or out["failed"] or out["attempted"] < 1:
        bad.append(f"{name}: output check {res['info'].get('check')}")
    units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    got = {k: v["unit"] for k, v in out["metrics"].items()}
    if got != units:
        bad.append(f"{name}: per-layer names/units differ from "
                   "BENCHMARK.json")
    for m in spec["end_to_end"]:
        v = res["e2e"].get(m["name"])
        if v is None or not math.isfinite(v) or v <= 0:
            bad.append(f"{name}: end-to-end {m['name']} = {v}")
    for k, v in res["layers"].items():
        v = float(v)
        if home(k, name) and k not in MAY_BE_ZERO and v == 0:
            bad.append(f"{name}: {k} is zero on its own workload")
        if not math.isfinite(v):
            bad.append(f"{name}: {k} is not finite")
    for k in units:
        if home(k, name) and k not in MAY_BE_ZERO and k not in res["layers"]:
            bad.append(f"{name}: {k} is not measured on its own workload")
    return bad


def check_refuses_without_library() -> list[str]:
    """In a directory holding only BENCHMARK.json and the benchmark, the
    command must fail without printing a result."""
    bare = H.WORK / "bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(H.ROOT / "BENCHMARK.json", bare)
    shutil.copytree(HERE, bare / HERE.name,
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, f"{HERE.name}/run.py", "--workload",
         "serve_extract", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=bare, capture_output=True, text=True, timeout=180)
    shutil.rmtree(bare, ignore_errors=True)
    if proc.returncode == 0 or '"correct"' in proc.stdout:
        return ["bare checkout: the command did not refuse to run"]
    return []


def main() -> int:
    spec = R.load_spec()
    bad = check_spec(spec)
    bad += check_refuses_without_library()
    t0 = time.perf_counter()
    for name in R.WORKLOADS:
        args = R.parse_args(["--workload", name, "--seed", "1",
                             "--seconds", "1", "--trace", "1",
                             "--size", "smoke"])
        t = time.perf_counter()
        res, out = R.run_workload(args, spec, keep_session=True)
        print(f"selftest {name}: {time.perf_counter() - t:.1f} s, "
              f"correct={out['correct']}", flush=True)
        bad += check_run(name, spec, res, out)
    R.stop_spark()
    print(f"selftest total {time.perf_counter() - t0:.1f} s")
    for b in bad:
        print("FAIL", b)
    print(json.dumps({"selftest": "fail" if bad else "ok",
                      "problems": len(bad)}))
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
