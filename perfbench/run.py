"""webextract benchmark: one workload, one seed, one timed window.

    python3 perfbench/run.py --workload extract_crawl --seed 1 \\
        --seconds 10 --trace 0

Run from the root of a checkout.  With ``--trace 0`` the last line of
stdout is one JSON object holding every end-to-end metric named in
``BENCHMARK.json``; with ``--trace 1`` it holds every per-layer metric
and the spans are written under ``.perfbench/traces/``.  The lines
before it are a human-readable report, including the workload's own
latency names (``segment_p50_s``, ``request_p99_ms``, ...) and
``error_rate``.  ``--size smoke`` runs tiny inputs (the self-test).

Every run starts a fresh process, so set-up is paid and measured every
run.  The only settings passed are deployment ones: the master
(``local[<cores>]``), paths inside the checkout and, for the stream, a
shuffle sized to the cores (see ``METRICS.md``).
"""

from __future__ import annotations

import argparse
import json
import shutil
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import harness as H  # noqa: E402

MODULES = {"extract_crawl": "w_extract", "stream_ingest": "w_stream",
           "serve_extract": "w_serve", "curate_chain": "w_curate"}
# curate_chain runs on request but is not one of BENCHMARK.json's
# workloads (its layers are measured in extract_crawl's traced run): see
# METRICS.md
WORKLOADS = tuple(MODULES)


class Ops:
    """The timed window: yields operation indices until ``seconds`` have
    elapsed (and at least ``min_ops`` ran), never starting an operation
    that the previous one's length says would end past the window by
    more than 20%."""

    def __init__(self, seconds: float, min_ops: int, tracer):
        self.seconds = seconds
        self.min_ops = min_ops
        self.tracer = tracer
        self.trace_overhead_s = 0.0
        self.walls: list[float] = []
        self.span_ids: list[int | None] = []
        self.wall = 0.0
        self.cpu_s = 0.0

    def __iter__(self):
        t0 = time.perf_counter()
        cpu0 = H.tree_cpu_s()
        over0 = self.tracer.overhead_s
        i = 0
        while True:
            elapsed = time.perf_counter() - t0
            if i >= self.min_ops and (
                    elapsed >= self.seconds
                    or elapsed + self.walls[-1] > 1.2 * self.seconds):
                break
            yield i
            i += 1
        self.wall = time.perf_counter() - t0
        self.cpu_s = H.tree_cpu_s() - cpu0
        self.trace_overhead_s = self.tracer.overhead_s - over0

    def done(self, wall: float, span_id=None) -> None:
        self.walls.append(wall)
        self.span_ids.append(span_id)


class Ctx:
    def __init__(self, args):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.size = args.size
        self.tracer = H.Tracer(bool(args.trace))
        self.scratch = H.WORK / "runs" / f"{args.workload}-{self.tracer.run_id}"
        self.ops: Ops | None = None
        self.keep_session = False

    # -- Spark -------------------------------------------------------------

    def spark_setup(self, warmup, conf: dict | None = None):
        """Session start + ``ship_package`` + one untimed warm-up
        operation of the workload: everything before the timed window."""
        from webextract.pipeline import ship_package

        t0 = time.perf_counter()
        with self.tracer.span("setup.session"):
            spark = H.spark_session(f"perfbench-{self.workload}", conf)
        t1 = time.perf_counter()
        with self.tracer.span("setup.ship_package"):
            ship_package(spark)
        t2 = time.perf_counter()
        with self.tracer.span("setup.warmup"):
            warmup(spark)
        t3 = time.perf_counter()
        return spark, {"setup.session_s": t1 - t0,
                       "setup.ship_package_s": t2 - t1,
                       "setup.warmup_s": t3 - t2, "total": t3 - t0}

    def spark_stop(self, spark) -> None:
        if not self.keep_session:
            spark.stop()

    def timed_ops(self, min_ops: int) -> Ops:
        self.ops = Ops(self.seconds, min_ops, self.tracer)
        return self.ops

    def window_cpu_util(self) -> float:
        return self.ops.cpu_s / (self.ops.wall * H.NPROC)

    # -- result --------------------------------------------------------------

    def result(self, setup: dict, ops: Ops, docs_per_s: float,
               tail_ms: float, attempted: int, failed: int, layers: dict,
               info: dict, extra_report: dict | None = None) -> dict:
        """``tail_ms`` is the workload's tail operation latency: the
        slowest job (extract, curate), the segment p75 (stream), the
        request p99 (serve)."""
        e2e = {"setup_s": setup["total"], "docs_per_s": docs_per_s,
               "op_tail_ms": tail_ms}
        if self.tracer.enabled:
            layers = dict(layers)
            for k in ("setup.session_s", "setup.ship_package_s",
                      "setup.warmup_s"):
                layers.setdefault(k, setup.get(k, 0.0))
            # span bookkeeping inside the timed window, per operation
            layers["trace.overhead_s"] = (
                ops.trace_overhead_s / max(1, len(ops.walls)))
            if "unattributed_s" not in layers:
                roots = [s for s in self.tracer.spans if s["parent"] is None
                         and s.get("op") is not None]
                own = self.tracer.self_times_by_id()
                un = [own[s["id"]] for s in roots]
                layers["unattributed_s"] = H.median(un) if un else 0.0
                layers["unattributed_ratio"] = (
                    H.median([own[s["id"]] / (s["end"] - s["start"])
                              for s in roots]) if roots else 0.0)
        return {"e2e": e2e, "layers": layers, "attempted": attempted,
                "failed": failed, "info": info, "ops": len(ops.walls),
                "report": extra_report or {}}


def load_spec() -> dict:
    return json.loads((H.ROOT / "BENCHMARK.json").read_text())


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full")
    return ap.parse_args(argv)


def run_workload(args, spec: dict, keep_session: bool = False):
    """Run one workload; returns its raw result and the result object."""
    ctx = Ctx(args)
    ctx.keep_session = keep_session
    ctx.scratch.mkdir(parents=True, exist_ok=True)
    module = __import__(MODULES[args.workload])
    t0 = time.perf_counter()
    with H.TreeSampler() as rss:
        res = module.run(ctx)
    wall = time.perf_counter() - t0
    shutil.rmtree(ctx.scratch, ignore_errors=True)
    # peak RSS spread 27-31% across runs (bimodal on 3,000-page
    # extract_crawl runs), so it is a per-layer metric, not a bounded one
    peak_mb = rss.peak / (1 << 20)
    res["report"]["peak_rss_mb"] = (peak_mb, "MB")
    if args.trace:
        res["layers"]["peak_rss_mb"] = peak_mb
    return res, emit(args, spec, ctx, res, wall)


def stop_spark() -> None:
    """Stop the active session, then end the driver JVM and wait for it:
    the JVM exits when its stdin closes, so no process outlives the
    run."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None and gateway.proc is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (H.ROOT / "webextract" / "__init__.py").is_file():
        print(f"perfbench: no webextract package under {H.ROOT}; run from "
              "the root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, str(H.ROOT))
    _, out = run_workload(args, load_spec())
    stop_spark()
    print(json.dumps(out))
    return 0


def emit(args, spec: dict, ctx: Ctx, res: dict, wall: float) -> dict:
    """Print the readable report and build the result object."""
    e2e_units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer_units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    attempted, failed = res["attempted"], res["failed"]
    error_rate = failed / attempted if attempted else 1.0
    info = res["info"]
    print(f"workload {args.workload}  seed {args.seed}  "
          f"trace {args.trace}  ops {res['ops']}  run wall {wall:.1f} s")
    inp = info.get("input", {})
    print(f"input digest {inp.get('digest')}  generation "
          f"{info.get('gen_s', 0.0):.2f} s (cached: {inp.get('cached')}; "
          "not part of setup_s)")
    for name, value in res["e2e"].items():
        print(f"  {name:<28} {value:>14.4f} {e2e_units[name]}")
    for name, (value, unit) in res["report"].items():
        print(f"  {name:<28} {value:>14.4f} {unit}")
    print(f"  {'error_rate':<28} {error_rate:>14.4f} ratio "
          f"({failed} failed / {attempted} attempted)")
    check = info.get("check", {})
    print(f"output check: {'ok' if check.get('ok') else 'FAILED'} "
          f"{check.get('problems', '')}")
    if args.trace:
        # every per-layer metric of BENCHMARK.json, zero for a layer the
        # workload does not touch
        unknown = sorted(set(res["layers"]) - set(layer_units))
        if unknown:
            raise KeyError(f"per-layer metrics not in BENCHMARK.json: "
                           f"{unknown}")
        layers = {k: float(res["layers"].get(k, 0.0)) for k in layer_units}
        for name, value in layers.items():
            print(f"  {name:<36} {value:>16.4f} {layer_units[name]}")
        trace_path = (H.WORK / "traces"
                      / f"{args.workload}-s{args.seed}-{ctx.tracer.run_id}"
                      ".json")
        ctx.tracer.write(trace_path, {"workload": args.workload,
                                      "seed": args.seed,
                                      "layers": layers})
        print(f"spans: {trace_path}")
        metrics = {k: {"value": v, "unit": layer_units[k]}
                   for k, v in layers.items()}
    else:
        metrics = {k: {"value": float(res["e2e"][k]), "unit": u}
                   for k, u in e2e_units.items()}
    return {"correct": bool(check.get("ok")) and failed == 0,
            "attempted": attempted, "failed": failed, "metrics": metrics}


if __name__ == "__main__":
    sys.exit(main())
