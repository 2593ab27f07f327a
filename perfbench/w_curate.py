"""curate_chain: ``functions.curate.curate_full`` over a generated
crawl-text corpus, result written to parquet.  One operation is one full
chain into a fresh output directory."""

from __future__ import annotations

import hashlib
import json
import re
import time
from pathlib import Path

import gen
import harness as H

SIZES = {"full": 200, "smoke": 60}
PINS = Path(__file__).resolve().parent / "pins.json"


def _read(spark, info):
    docs = spark.read.parquet(info["docs"])
    blocked = spark.read.parquet(info["blocked"])
    bench = spark.read.parquet(info["bench"])
    return docs, blocked, bench


def run(ctx) -> dict:
    from webextract.functions.curate import curate_full

    n = SIZES[ctx.size]
    t0 = time.perf_counter()
    info = gen.curate_input(H.WORK, ctx.seed, n)
    gen_s = time.perf_counter() - t0
    out_root = ctx.scratch / "curate"

    def warmup(spark):
        curate_full(*_read(spark, info)).write.mode("overwrite") \
            .parquet(str(out_root / "warmup"))

    spark, setup = ctx.spark_setup(warmup)
    docs, blocked, bench = _read(spark, info)
    marks, outs = [], []
    ops = ctx.timed_ops(min_ops=1)
    for i in ops:
        marks.append(H.spark_mark(spark))
        out = str(out_root / f"op{i}")
        with ctx.tracer.span("curate.curate_full", op=i) as sid:
            t = time.perf_counter()
            curate_full(docs, blocked, bench).write.mode("overwrite") \
                .parquet(out)
            wall = time.perf_counter() - t
        ops.done(wall, sid)
        outs.append(out)
    marks.append(H.spark_mark(spark))

    digests = [survivors(spark, out) for out in outs]
    check = check_output(ctx, info, digests)
    failed = sum(1 for d in digests if d != digests[0]) + \
        (0 if check["ok"] else 1)

    layers = {}
    if ctx.tracer.enabled:
        layers = trace_layers(ctx, spark, ops.span_ids, ops.walls, marks,
                              info)
    ctx.spark_stop(spark)
    return ctx.result(
        setup=setup, ops=ops,
        docs_per_s=info["rows"] / H.median(ops.walls),
        tail_ms=max(ops.walls) * 1000,
        attempted=len(ops.walls), failed=min(failed, len(ops.walls)),
        layers=layers, info={"input": info, "gen_s": gen_s, "check": check})


def survivors(spark, out: str) -> tuple[int, str, list[int]]:
    ids = sorted(r[0] for r in spark.read.parquet(out)
                 .select("id").collect())
    digest = hashlib.sha256(",".join(map(str, ids)).encode()).hexdigest()
    return len(ids), digest[:16], ids


_TRACKING = re.compile(r"^(utm_[A-Za-z0-9_]*|fbclid|gclid)=")


def canonical(url: str) -> str:
    """Independent canonical form for the variants the generator plants:
    fragment dropped, scheme and host lowercased, tracking parameters and
    a trailing slash removed."""
    url = url.split("#", 1)[0]
    scheme, rest = url.split("://", 1)
    host, _, path = rest.partition("/")
    path, _, query = ("/" + path if path or rest.endswith("/") else "") \
        .partition("?")
    params = [p for p in query.split("&") if p and not _TRACKING.match(p)]
    base = f"{scheme.lower()}://{host.lower()}{path}".rstrip("/")
    return base + ("?" + "&".join(params) if params else "")


def check_output(ctx, info, digests) -> dict:
    """Every operation wrote the same survivors; none shares a canonical
    url with another, none is on the blocked domain, none is a planted
    contaminated document; and count + digest equal the values pinned
    for this seed in ``pins.json`` (when the seed is pinned)."""
    import pyarrow.parquet as pq

    count, digest, ids = digests[0]
    t = pq.read_table(info["docs"], columns=["doc_id", "url"])
    url_of = dict(zip(t.column("doc_id").to_pylist(),
                      t.column("url").to_pylist()))
    problems = []
    if any(d[:2] != (count, digest) for d in digests):
        problems.append("operations disagree on the survivor set")
    canon = [canonical(url_of[i]) for i in ids]
    if len(set(canon)) != len(canon):
        problems.append("two survivors share a canonical url")
    if any(f"//{gen.BLOCKED_DOMAIN}/" in url_of[i] for i in ids):
        problems.append("a survivor comes from the blocked domain")
    if set(ids) & set(info["contaminated_ids"]):
        problems.append("a contaminated document survived")
    if count == 0:
        problems.append("no survivors")
    pins = json.loads(PINS.read_text()) if PINS.exists() else {}
    pin = pins.get(ctx.size, {}).get(str(ctx.seed))
    if pin is not None and pin != {"count": count, "digest": digest}:
        problems.append(f"survivors {count}/{digest} differ from pin {pin}")
    return {"ok": not problems, "problems": problems, "survivors": count,
            "digest": digest, "pinned": pin is not None}


def downstream_layers(ctx, spark) -> tuple[dict, dict]:
    """The ``functions.*`` layers measured inside another workload's
    traced run, as the chain that runs downstream of extraction: one
    cold ``curate_full`` (compiles the chain's stages), two timed ones,
    then :func:`trace_layers`.  Returns the layers and the output check.
    The spans carry no ``op``, so the host workload's
    ``unattributed_s`` does not count them."""
    from webextract.functions.curate import curate_full

    info = gen.curate_input(H.WORK, ctx.seed, SIZES[ctx.size])
    inputs = _read(spark, info)
    out_root = ctx.scratch / "curate"
    with ctx.tracer.span("curate.warmup"):
        curate_full(*inputs).write.mode("overwrite") \
            .parquet(str(out_root / "warmup"))
    marks, span_ids, walls, digests = [], [], [], []
    for i in range(2):
        marks.append(H.spark_mark(spark))
        out = str(out_root / f"op{i}")
        with ctx.tracer.span("curate.curate_full", downstream=True) as sid:
            t = time.perf_counter()
            curate_full(*inputs).write.mode("overwrite").parquet(out)
            walls.append(time.perf_counter() - t)
        span_ids.append(sid)
        digests.append(survivors(spark, out))
    marks.append(H.spark_mark(spark))
    return (trace_layers(ctx, spark, span_ids, walls, marks, info),
            check_output(ctx, info, digests))


def trace_layers(ctx, spark, span_ids, walls, marks, info) -> dict:
    """curate.* from the status store over the operations (spans:
    curate_full → SQL execution → stage), then one timed, separately
    materialized call per stage function."""
    from pyspark.sql import functions as F
    from webextract.functions import dedup, hygiene, text
    from webextract.functions.curate import curate_corpus

    per = []
    for op_span, op, wall in zip(span_ids, H.per_operation(spark, marks),
                                 walls):
        st = list(op["stages"].values())
        H.add_query_spans(ctx.tracer, op_span, op, lambda s: "curate.stage")
        per.append({
            "jobs": op["jobs"], "stages": len(st),
            "shuffle": sum(s["shuffle_write"] for s in st),
            "task": sum(s["run_s"] for s in st),
            "cpu": sum(s["cpu_s"] for s in st) / (wall * H.NPROC),
            "stage_sum": sum(s["end"] - s["start"] for s in st),
            "wall": wall,
        })
    pick = lambda k: H.median([p[k] for p in per])  # noqa: E731
    layers = {
        "curate.jobs": pick("jobs"), "curate.stages": pick("stages"),
        "curate.shuffle_write_bytes": pick("shuffle"),
        "curate.task_time_s": pick("task"), "curate.cpu_util": pick("cpu"),
        "curate.stage_sum_ratio": pick("stage_sum") / pick("wall"),
    }

    docs, blocked, bench = _read(spark, info)

    def timed(name, df):
        with ctx.tracer.span(name):
            t = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            layers[name + "_s"] = time.perf_counter() - t

    timed("hygiene.filter_blocklist", hygiene.filter_blocklist(docs, blocked))
    timed("hygiene.pii_mask", hygiene.with_pii_masked(docs))
    timed("hygiene.decontaminate", hygiene.decontaminate(docs, bench))
    feats = text.with_text_features(docs)
    timed("text.features", feats)
    n_words = F.size(F.split("text", " "))
    cut = docs.select(F.percentile_approx(n_words, 0.9)).first()[0]
    timed("dedup.minhash_short", dedup.with_minhash(
        docs.filter(n_words <= cut)))
    timed("dedup.minhash_long", dedup.with_minhash(
        docs.filter(n_words > cut)))
    cands = dedup.lsh_candidate_pairs(dedup.with_minhash(docs))
    timed("dedup.lsh_candidates", cands)
    timed("curate.corpus", curate_corpus(docs))
    timed("hygiene.token_budget", hygiene.token_budget_sample(
        feats.select("doc_id", "source", "quality_score", "n_tokens"),
        budget_tokens=3000, strata_col="source",
        priority_col="quality_score", n_tokens_col="n_tokens"))
    n_cands = cands.count()
    n_pairs = dedup.near_duplicate_docs(docs).count()
    layers["dedup.candidate_pairs"] = n_cands
    layers["dedup.verify_yield"] = n_pairs / n_cands if n_cands else 0.0
    return layers
