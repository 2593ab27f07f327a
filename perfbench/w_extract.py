"""extract_crawl: ``pipeline.run_extraction`` over generated crawl pages.

One operation is a full resumable run into a fresh sink: scan → dedupe
→ salted exchange → Python extraction → run_id-partitioned parquet sink
→ metrics table → manifest."""

from __future__ import annotations

import json
import random
import shutil
import time
from pathlib import Path

import gen
import harness as H
import w_curate
from layers import kind_report, replay_extractor

SIZES = {"full": 10_000, "smoke": 120}
# two large operations rather than several small ones: each operation
# pays a fixed cost of about 6.5 s (its dozen jobs), so per-page work
# must be most of an operation for a per-page regression to show
MIN_OPS = {"full": 2, "smoke": 1}
COMPARE = ("extracted_text", "spans", "line_spans", "n_spans",
           "mean_confidence", "content_kind", "error", "n_bytes_in")


def run(ctx) -> dict:
    from webextract.pipeline import read_pages, run_extraction

    n = SIZES[ctx.size]
    t0 = time.perf_counter()
    info = gen.crawl_input(H.WORK, ctx.seed, n)
    gen_s = time.perf_counter() - t0
    out_root = ctx.scratch / "extract"

    def warmup(spark):
        run_extraction(spark, read_pages(spark, info["pages"]).limit(64),
                       str(out_root / "warmup"))

    spark, setup = ctx.spark_setup(warmup)
    pages = read_pages(spark, info["pages"])
    marks = []
    results = []
    ops = ctx.timed_ops(min_ops=MIN_OPS[ctx.size])
    for i in ops:
        marks.append(H.spark_mark(spark))
        out = str(out_root / f"op{i}")
        with ctx.tracer.span("pipeline.run_extraction", op=i) as sid:
            t = time.perf_counter()
            res = run_extraction(spark, pages, out, out + "_metrics")
            wall = time.perf_counter() - t
        ops.done(wall, sid)
        results.append((out, res))
    marks.append(H.spark_mark(spark))

    failed = 0
    for out, res in results:
        if res["rows_written"] != info["distinct_urls"]:
            failed += 1
    check = check_output(spark, results[-1], info)
    failed += 0 if check["ok"] else 1

    layers, report = {}, {}
    if ctx.tracer.enabled:
        layers, shares = trace_layers(ctx, spark, ops, marks, info)
        report = kind_report(shares)
        # the curation chain runs downstream of extraction; measuring its
        # layers here puts them on a workload of BENCHMARK.json (see
        # METRICS.md for why curate_chain is not one)
        chain, chain_check = w_curate.downstream_layers(ctx, spark)
        layers.update(chain)
        if not chain_check["ok"]:
            failed += 1
            check = {**check, "ok": False, "problems": check["problems"]
                     + [f"curate: {p}" for p in chain_check["problems"]]}
    ctx.spark_stop(spark)
    shutil.rmtree(out_root, ignore_errors=True)
    return ctx.result(
        setup=setup, ops=ops,
        docs_per_s=info["rows"] / H.median(ops.walls),
        tail_ms=max(ops.walls) * 1000,
        attempted=len(ops.walls), failed=min(failed, len(ops.walls)),
        layers=layers,
        info={"input": info, "gen_s": gen_s, "check": check},
        extra_report=report)


def check_output(spark, result, info) -> dict:
    """Sink = one row per distinct url; metrics table reconciles; every
    giant, every PDF and a seeded sample of the rest equal
    ``extract_record`` on the same payload."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F
    from webextract.extract import extract_record

    out, _ = result
    sink = spark.read.parquet(out)
    n, n_urls = sink.agg(F.count("*"), F.countDistinct("url")).first()
    n_metrics = spark.read.parquet(out + "_metrics").agg(
        F.sum("n_rows")).first()[0]
    problems = []
    if not n == n_urls == info["distinct_urls"]:
        problems.append(f"sink rows {n}, distinct {n_urls}, "
                        f"expected {info['distinct_urls']}")
    if n_metrics != n:
        problems.append(f"metrics n_rows {n_metrics} != sink rows {n}")

    table = pq.read_table(info["pages"], columns=["url", "html"])
    pages = dict(zip(table.column("url").to_pylist(),
                     table.column("html").to_pylist()))
    sample = set(random.Random(info["digest"]).sample(sorted(pages), 40))
    want = {u: p for u, p in pages.items() if u in sample or (
        p and (len(p) > (1 << 20) or p.startswith(b"%PDF-")))}
    # the sampled rows are read with pyarrow: a Spark filter and collect
    # of the same rows took about 5 s at full size
    rows = pq.read_table(out, columns=["url", *COMPARE],
                         filters=[("url", "in", list(want))]).to_pylist()
    got = {row["url"]: row for row in rows}
    mismatched = 0
    for url, payload in want.items():
        exp = extract_record(url, payload)
        row = got.get(url)
        if row is None or any(row[k] != exp[k] for k in COMPARE):
            mismatched += 1
    if mismatched:
        problems.append(f"{mismatched}/{len(want)} sampled rows differ "
                        f"from extract_record")
    return {"ok": not problems, "problems": problems,
            "compared": len(want), "sink_rows": n}


def trace_layers(ctx, spark, ops, marks, info) -> dict:
    """pipeline.* and extract.* from the status stores, html_extract.*
    and pdf_extract.* from an in-process replay over the input (with
    each template kind's share of the replayed extractor time).

    Spans per operation: run_extraction → each SQL execution it issued →
    each of that execution's stages, classed before, as, or after the
    extraction stage (the stage with the most task time)."""
    import pyarrow.parquet as pq

    per = []
    for op_span, op in zip(ops.span_ids, H.per_operation(spark, marks)):
        ext = max(op["stages"].values(), key=lambda s: s["run_s"])
        groups = {"pre": [], "ext": [ext], "post": []}
        for s in op["stages"].values():
            if s is not ext:
                groups["pre" if s["start"] < ext["start"] else "post"] \
                    .append(s)
        driver = H.add_query_spans(
            ctx.tracer, op_span, op, lambda s: "pipeline.extract_stage"
            if s is ext else "pipeline.pre_extract" if s in groups["pre"]
            else "pipeline.post_extract")
        durs = H.task_durations(spark, ext["stage_id"], ext["attempt"])
        py: dict[str, float] = {}
        for e in op["execs"]:
            for k, v in e["metrics"].items():
                py[k] = py.get(k, 0.0) + v
        per.append({
            "jobs": op["jobs"], "stages": len(op["stages"]),
            **{k: H.union_length([(s["start"], s["end"]) for s in g])
               for k, g in groups.items()},
            "driver": driver,
            "shuffle": sum(s["shuffle_write"]
                           for s in op["stages"].values()),
            "skew": max(durs) / H.median(durs),
            "py": py, "ext_run_s": ext["run_s"],
        })
    pick = lambda k: H.median([p[k] for p in per])  # noqa: E731
    pym = lambda k: H.median([p["py"].get(k, 0.0) for p in per])  # noqa
    layers = {
        "pipeline.jobs": pick("jobs"), "pipeline.stages": pick("stages"),
        "pipeline.pre_extract_s": pick("pre"),
        "pipeline.extract_stage_s": pick("ext"),
        "pipeline.post_extract_s": pick("post"),
        "pipeline.driver_s": pick("driver"),
        "pipeline.shuffle_write_bytes": pick("shuffle"),
        "pipeline.task_skew": pick("skew"),
        "pipeline.cpu_util": ctx.window_cpu_util(),
    }
    layers.update(python_runner_layers(pym, pick("ext_run_s")))
    table = pq.read_table(info["pages"], columns=["url", "html"])
    payloads = list(zip(table.column("url").to_pylist(),
                        table.column("html").to_pylist()))
    kinds = json.loads(Path(info["kinds_file"]).read_text())
    replay, shares = replay_extractor(payloads, ctx.tracer, sample=0.06,
                                      seed=ctx.seed, kinds=kinds)
    layers.update(replay)
    return layers, shares


def python_runner_layers(pym, stage_run_s: float) -> dict:
    """extract.* from the MapInArrow node metrics; ``batch_self_s`` is
    the extraction stage's task time not spent starting, initializing or
    running Python workers (Arrow batch exchange and the JVM side)."""
    start = pym("time to start Python workers")
    init = pym("time to initialize Python workers")
    run_s = pym("time to run Python workers")
    return {
        "extract.python_start_s": start,
        "extract.python_init_s": init,
        "extract.python_run_s": run_s,
        "extract.bytes_to_python": pym("data sent to Python workers"),
        "extract.bytes_from_python": pym("data returned from Python workers"),
        "extract.batch_self_s": max(0.0, stage_run_s - start - init - run_s),
    }
