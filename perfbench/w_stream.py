"""stream_ingest: ``streaming.stream_warc_extraction`` with first-seen
revisit dedup over pre-staged member-gzipped WARC segments,
``maxFilesPerTrigger=1`` and ``availableNow``.  One operation is one
segment's micro-batch; the next starts when the previous one commits.
Throughput counts each segment's whole cycle (its data batch, the
no-data batch after it and the gaps between triggers); the segment
latencies are the data batches' trigger times."""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import shutil
import time
from pathlib import Path

import gen
import harness as H
from layers import replay_extractor

SIZES = {"full": (12, 60), "smoke": (3, 20)}   # segments, fetches each
HORIZON = "7 days"
DURATION_KEYS = {
    "streaming.add_batch_s": "addBatch",
    "streaming.wal_commit_s": "walCommit",
    "streaming.commit_offsets_s": "commitOffsets",
    "streaming.query_planning_s": "queryPlanning",
    "streaming.latest_offset_s": "latestOffset",
}
COMPARE = ("extracted_text", "spans", "line_spans", "n_spans",
           "mean_confidence", "content_kind", "error", "n_bytes_in")


def _stage(info, landing: Path) -> None:
    """Copy the segments into the landing directory with increasing
    modification times, so the file source takes them in order."""
    landing.mkdir(parents=True)
    base = time.time() - 3600
    for s in range(info["n_segments"]):
        name = f"seg-{s:04d}.warc.gz"
        shutil.copyfile(Path(info["segments"]) / name, landing / name)
        os.utime(landing / name, (base + s, base + s))


def run(ctx) -> dict:
    from webextract.streaming import stream_warc_extraction

    n_seg, per_seg = SIZES[ctx.size]
    t0 = time.perf_counter()
    info = gen.warc_input(H.WORK, ctx.seed, n_seg, per_seg)
    gen_s = time.perf_counter() - t0
    root = ctx.scratch / "stream"

    def start(spark, name: str):
        return stream_warc_extraction(
            spark, str(root / name / "in"), str(root / name / "out"),
            str(root / name / "cp"), max_files_per_trigger=1,
            dedup_revisits=True, revisit_horizon=HORIZON)

    def warmup(spark):
        _stage(dict(info, n_segments=1), root / "warmup" / "in")
        start(spark, "warmup").awaitTermination()

    # deployment sizing: the stateful dedup keeps one state-store
    # partition per shuffle partition for the checkpoint's lifetime (AQE
    # cannot coalesce them), so the stream is sized to the cores instead
    # of Spark's cluster-sized default of 200
    spark, setup = ctx.spark_setup(warmup, {
        "spark.sql.shuffle.partitions": str(H.NPROC)})
    _stage(info, root / "main" / "in")
    ex0 = H.last_execution_id(spark)
    ops = ctx.timed_ops(min_ops=0)
    query = start(spark, "main")
    # the window closes after ``seconds`` and at least two completed
    # segments, so one full segment cycle (the stream stops early once
    # every segment is in)
    deadline = time.perf_counter() + ctx.seconds
    while query.isActive and (time.perf_counter() < deadline or sum(
            1 for p in query.recentProgress if p["numInputRows"]) < 2):
        query.awaitTermination(0.1)
    query.stop()
    progress = [p for p in query.recentProgress if p["numInputRows"] > 0]
    for p in progress:
        ops.done(p["durationMs"]["triggerExecution"] / 1000.0)
    cycles = segment_cycles(progress)

    n_done = committed_segments(root / "main" / "cp", root / "main" / "out")
    check = check_output(spark, root / "main" / "out", info, n_done)
    failed = check["failed_segments"]

    layers = {}
    if ctx.tracer.enabled:
        layers = trace_layers(ctx, spark, progress, ex0, info, n_done,
                              check.get("rows", 0))
    ctx.spark_stop(spark)
    seg = ops.walls
    return ctx.result(
        setup=setup, ops=ops, docs_per_s=per_seg / H.median(cycles),
        tail_ms=H.percentile(seg, 75) * 1000,
        attempted=max(n_done, 1), failed=failed if n_done else 1,
        layers=layers,
        info={"input": info, "gen_s": gen_s, "check": check},
        extra_report={
            "segment_p50_s": (H.percentile(seg, 50), "s"),
            "segment_p75_s": (H.percentile(seg, 75), "s"),
            "segment_cycle_p50_s": (H.median(cycles), "s"),
            "segments": (len(seg), "count")})


def segment_cycles(progress: list[dict]) -> list[float]:
    """Seconds from each segment's data batch start to the next one's:
    the data batch, the no-data batch after it (watermark and state
    timeouts) and the gaps between triggers.  With a single data batch,
    its trigger time."""
    starts = [dt.datetime.fromisoformat(
        p["timestamp"].replace("Z", "+00:00")).timestamp() for p in progress]
    cycles = [b - a for a, b in zip(starts, starts[1:])]
    return cycles or [p["durationMs"]["triggerExecution"] / 1000.0
                      for p in progress]


def committed_segments(cp: Path, out: Path) -> int:
    """Segments whose micro-batch output the file sink committed.  The
    sink's ``_spark_metadata`` log names committed batch ids (a batch id
    per file, ``.compact`` every tenth); the file-source log maps batch
    ids to files.  The checkpoint's own commit log is not used: it is
    written after the sink commits, so a query stopped between the two
    has output for one batch more than the commit log lists."""
    meta = out / "_spark_metadata"
    ids = [int(p.name.split(".")[0]) for p in meta.iterdir()
           if p.name.split(".")[0].isdigit()] if meta.is_dir() else []
    last = max(ids, default=-1)
    files = set()
    for p in (cp / "sources" / "0").iterdir():
        if p.name.startswith("."):
            continue
        for line in p.read_text().splitlines()[1:]:
            entry = json.loads(line)
            if entry["batchId"] <= last:
                files.add(entry["path"])
    return len(files)


def check_output(spark, out: Path, info, n_done: int) -> dict:
    """The output url set equals the generator's first-seen set over the
    committed segments, and a seeded sample of rows equals
    ``extract_record`` on each url's first crawl."""
    from pyspark.sql import functions as F
    from webextract.extract import extract_record

    fetches = json.loads(Path(info["fetches"]).read_text())
    first_seg: dict[str, int] = {}
    for s in range(n_done):
        for url, _ in fetches[s]:
            first_seg.setdefault(url, s)
    if n_done == 0:
        return {"ok": False, "problems": ["no segment committed"],
                "failed_segments": 1}
    sink = spark.read.parquet(str(out))
    urls = [r.url for r in sink.select("url").collect()]
    problems, bad = [], set()
    if len(urls) != len(set(urls)):
        problems.append("duplicate urls in the output")
    for url in set(urls) ^ set(first_seg):
        bad.add(first_seg.get(url, -1))
    if bad:
        problems.append(f"output url set differs from first-seen set in "
                        f"{len(bad)} segments")
    first = gen.first_crawls(info["segments"], n_done)
    sample = random.Random(info["digest"]).sample(
        sorted(first), min(40, len(first)))
    rows = {r.url: r.asDict(recursive=True) for r in
            sink.filter(F.col("url").isin(sample)).collect()}
    for url in sample:
        exp = extract_record(url, first[url])
        row = rows.get(url)
        if row is None or any(row[k] != exp[k] for k in COMPARE):
            bad.add(first_seg[url])
            problems.append(f"{url} differs from extract_record")
    return {"ok": not problems, "problems": problems[:5],
            "failed_segments": len(bad), "segments": n_done,
            "first_seen": len(first_seg), "rows": len(urls)}


def trace_layers(ctx, spark, progress, ex0, info, n_done,
                 rows_out: int) -> dict:
    from w_extract import python_runner_layers

    n = max(len(progress), 1)
    layers = {}
    for name, key in DURATION_KEYS.items():
        layers[name] = sum(p["durationMs"].get(key, 0)
                           for p in progress) / 1000.0 / n
    state = [p["stateOperators"][0] for p in progress
             if p["stateOperators"]]
    layers["streaming.state_update_s"] = sum(
        s["allUpdatesTimeMs"] for s in state) / 1000.0 / n
    layers["streaming.state_commit_s"] = sum(
        s["commitTimeMs"] for s in state) / 1000.0 / n
    layers["streaming.state_rows"] = state[-1]["numRowsTotal"] if state \
        else 0
    layers["streaming.state_bytes"] = state[-1]["memoryUsedBytes"] if state \
        else 0
    layers["streaming.emit_ratio"] = rows_out / max(
        1, n_done * info["per_segment"])
    layers["streaming.segments"] = len(progress)
    # per-segment self time left after every reported trigger component
    parts = ("addBatch", "walCommit", "commitOffsets", "queryPlanning",
             "latestOffset", "getBatch")
    un = []
    for p in progress:
        d = p["durationMs"]
        t0 = time.time()
        sid = ctx.tracer.add("streaming.trigger", t0,
                             t0 + d["triggerExecution"] / 1000.0,
                             batch_id=p["batchId"])
        off = t0
        for k in parts:
            ctx.tracer.add(f"streaming.{k}", off, off + d.get(k, 0) / 1000.0,
                           sid)
            off += d.get(k, 0) / 1000.0
        un.append((d["triggerExecution"] - sum(d.get(k, 0) for k in parts))
                  / 1000.0)
    layers["unattributed_s"] = H.median(un) if un else 0.0
    layers["unattributed_ratio"] = (
        H.median([u / (p["durationMs"]["triggerExecution"] / 1000.0)
                  for u, p in zip(un, progress)]) if un else 0.0)

    tot: dict[str, float] = {}
    for e in H.sql_executions(spark, ex0):
        for k, v in e["metrics"].items():
            tot[k] = tot.get(k, 0.0) + v
    layers.update(python_runner_layers(lambda k: tot.get(k, 0.0) / n, 0.0))
    layers["extract.batch_self_s"] = 0.0

    from webextract.warc import parse_warc_records

    payloads = []
    t_parse = 0.0
    for s in range(n_done):
        data = (Path(info["segments"]) / f"seg-{s:04d}.warc.gz").read_bytes()
        with ctx.tracer.span("warc.parse_warc_records"):
            t = time.perf_counter()
            recs = parse_warc_records(data)
            t_parse += time.perf_counter() - t
        payloads += [(r["url"], r["html"]) for r in recs]
    layers["warc.parse_s"] = t_parse / max(n_done, 1)
    layers["warc.records"] = len(payloads)
    layers.update(replay_extractor(payloads, ctx.tracer, sample=0.25,
                                   seed=ctx.seed)[0])
    return layers
