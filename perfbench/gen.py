"""Seeded input generators for the four benchmark workloads.

Every generator is a pure function of ``(seed, size)``: the same
arguments give byte-identical inputs.  Nothing here imports
``webextract`` (and in particular not ``webextract.fixtures``), so an
edit to the library cannot silently change a workload's inputs.

Generated inputs are cached on disk per ``(workload, seed, size)`` under
the benchmark's work directory; the digest of the logical content is
returned with every input so a run can record exactly what it measured.
"""

from __future__ import annotations

import datetime as dt
import gzip
import hashlib
import io
import json
import math
import random
import shutil
import statistics
import zlib
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

_SYL = ("ka", "lo", "mi", "ne", "ru", "ta", "vi", "so", "de", "pa", "ri",
        "ko", "an", "el", "in", "or", "us", "ba", "ge", "fu", "ho", "ji",
        "ly", "ma", "nu", "po", "se", "ti", "wo", "za")
# a fixed 4,000-word content vocabulary (part of the benchmark's
# definition, independent of the seed): wide enough that two unrelated
# documents share almost no 5-word shingles
_VOCAB = tuple(sorted({
    _SYL[i % 30] + _SYL[(i // 30) % 30] + _SYL[(i // 900) % 30]
    + ("" if i < 2000 else _SYL[(i * 7) % 30])
    for i in range(4000)}))
_STOP = ("the", "of", "and", "to", "in", "is", "that", "for", "it", "as",
         "with", "was", "on", "be", "at", "by", "this", "from", "or", "an")
_LATIN1 = ("café", "über", "niño", "façade", "señor", "déjà", "Zürich")

BASE_TS = dt.datetime(2024, 3, 1, tzinfo=dt.timezone.utc)
GIANT_EVERY = 500
BLOCKED_DOMAIN = "spam-farm.example"


# stopwords make up ~40% of the drawing pool, as in running English text
_POOL = _VOCAB + _STOP * (len(_VOCAB) * 2 // (3 * len(_STOP)))


def _draw_words(r: random.Random, n: int) -> str:
    """``n`` independent word draws: documents share no long phrases."""
    return " ".join(r.choices(_POOL, k=n))


# page text is sliced at a seeded offset out of one fixed 1M-word stream:
# ~20x cheaper than independent draws, and page bodies need no
# independence (nothing deduplicates them)
_STREAM = random.Random("perfbench-stream").choices(_POOL, k=1 << 20)


def _words(r: random.Random, n: int) -> str:
    off = r.randrange(len(_STREAM) - n)
    return " ".join(_STREAM[off:off + n])


def _lognormal_sizes(r: random.Random, n: int, median: float,
                     sigma: float, lo: int, hi: int) -> list[int]:
    """``n`` sizes at the lognormal's ``(i + 0.5) / n`` quantiles, in
    seeded order: every seed gets the same size distribution (tail
    included), so the cost of a workload does not drift with the seed."""
    nd = statistics.NormalDist(0.0, sigma)
    out = [max(lo, min(hi, int(median * math.exp(nd.inv_cdf((i + 0.5) / n)))))
           for i in range(n)]
    r.shuffle(out)
    return out


def _mix(r: random.Random, n: int, shares: dict[str, float],
         default: str) -> list[str]:
    """Exactly ``round(share * n)`` of each kind, in seeded order."""
    out = [k for k, share in shares.items() for _ in range(round(share * n))]
    out += [default] * (n - len(out))
    r.shuffle(out)
    return out


# ---------------------------------------------------------------------------
# HTML / PDF page templates
# ---------------------------------------------------------------------------


def make_pdf(r: random.Random, n_paras: int) -> bytes:
    lines = [f"BT /F1 18 Tf 72 720 Td ({_words(r, 5)}) Tj ET"]
    y = 690
    for _ in range(n_paras):
        lines.append(f"BT /F1 11 Tf 72 {y} Td ({_words(r, 14)}) Tj ET")
        y -= 16
    stream = "\n".join(lines).encode("latin-1")
    filt = b""
    if r.random() < 0.5:
        stream, filt = zlib.compress(stream, 6), b" /Filter /FlateDecode"
    return (b"%PDF-1.4\n1 0 obj << /Type /Catalog >> endobj\n"
            b"2 0 obj << /Length " + str(len(stream)).encode() + filt
            + b" >>\nstream\n" + stream + b"\nendstream\nendobj\n%%EOF\n")


def _article(r: random.Random, target_bytes: int) -> str:
    nav = "".join(f'<li><a href="/s/{r.randrange(999)}">{_words(r, 2)}</a>'
                  f"</li>" for _ in range(r.randint(6, 20)))
    parts = [f"<html><head><title>{_words(r, 6)}</title></head><body>"
             f"<header><nav><ul>{nav}</ul></nav></header><main><article>"
             f"<h1>{_words(r, 7)}</h1>"]
    size = sum(map(len, parts))
    while size < target_bytes:
        kind = r.random()
        if kind < 0.75:
            chunk = f"<p>{_words(r, r.randint(20, 90))}</p>"
        elif kind < 0.85:
            chunk = f"<h2>{_words(r, 5)}</h2>"
        elif kind < 0.93:
            chunk = "<ul>" + "".join(
                f"<li>{_words(r, 6)}</li>" for _ in range(4)) + "</ul>"
        else:
            chunk = f"<blockquote>{_words(r, 25)}</blockquote>"
        parts.append(chunk)
        size += len(chunk)
    parts.append(f"</article></main><aside><p>{_words(r, 12)}</p></aside>"
                 f'<footer><p><a href="/about">{_words(r, 4)}</a> '
                 f'<a href="/terms">{_words(r, 3)}</a></p></footer>'
                 "</body></html>")
    return "".join(parts)


def render_page(r: random.Random, kind: str, target_bytes: int) -> bytes:
    """One payload of the given template kind."""
    if kind == "pdf":
        return make_pdf(r, max(2, target_bytes // 200))
    if kind == "empty":
        return b""
    if kind == "giant":
        return _article(r, target_bytes).encode()
    html = _article(r, target_bytes)
    if kind in ("latin1", "latin1_bare"):
        body = html if kind == "latin1_bare" else html.replace(
            "<head>", '<head><meta charset="iso-8859-1">', 1)
        words = " ".join(r.choice(_LATIN1) for _ in range(12))
        body = body.replace("</h1>", f"</h1><p>{words}</p>", 1)
        return body.encode("latin-1")
    if kind == "malformed":
        # unclosed containers, a stray '<', broken entities and a
        # truncated tail: the extractor must stay total on all of it
        cut = html[: max(200, int(len(html) * r.uniform(0.6, 0.95)))]
        return (cut.replace("</p>", "", r.randint(1, 8))
                .replace("<p>", "<p>&amp &#x; < ", 2)
                + "<div><div><span>" + _words(r, 10)).encode()
    return html.encode()


# Template shares are those of the seed's own page fixtures
# (``webextract/fixtures.py``, which the root ``bench.py`` also uses):
# they cycle ten templates by index, so one page in ten is a PDF, one is
# latin-1 (declared or undeclared, alternately) and one is pathological
# (empty in one case of five).  Fixture pages of those three templates are
# about 130 bytes; here they are full-size pages, so their decode and
# recovery paths carry a page's weight.
PAGE_MIX = {"pdf": 0.10, "latin1": 0.05, "latin1_bare": 0.05,
            "malformed": 0.08, "empty": 0.02}
# Page sizes: lognormal around a Common-Crawl-sized 14 KB median.  The
# spread (sigma 0.6: quartiles 9.4 and 21 KB) and the clip at 1.5-160 KB
# are coverage choices, not measured traffic; every page workload (crawl,
# WARC, serve) uses the same ones.
PAGE_MEDIAN_BYTES = 14 * 1024
PAGE_SIGMA = 0.6
PAGE_MIN, PAGE_MAX = 1500, 160_000


def page_plan(r: random.Random, n: int, mix: dict[str, float]):
    """Template kinds and sizes of ``n`` pages, in seeded order."""
    return (_mix(r, n, mix, "html"),
            _lognormal_sizes(r, n, PAGE_MEDIAN_BYTES, PAGE_SIGMA, PAGE_MIN,
                             PAGE_MAX))


# ---------------------------------------------------------------------------
# cache
# ---------------------------------------------------------------------------


_SOURCE_DIGEST = hashlib.sha256(Path(__file__).read_bytes()).hexdigest()[:8]


def _cached(work: Path, name: str, seed: int, size: int, build) -> dict:
    """Build ``name`` for ``(seed, size)`` once; later calls reuse it.
    The ``input.json`` marker is written last, so an interrupted build is
    rebuilt rather than reused.  The cache key includes a digest of this
    file, so an edited generator never reuses stale inputs."""
    root = work / "inputs" / f"{name}-s{seed}-n{size}-{_SOURCE_DIGEST}"
    marker = root / "input.json"
    if marker.exists():
        info = json.loads(marker.read_text())
        info["cached"] = True
        return info
    if root.exists():
        shutil.rmtree(root)
    root.mkdir(parents=True)
    info = build(root)
    info.update(name=name, seed=seed, size=size, path=str(root))
    marker.write_text(json.dumps(info, sort_keys=True))
    info["cached"] = False
    return info


def _digest_rows(rows) -> str:
    h = hashlib.sha256()
    for url, payload in rows:
        h.update(url.encode())
        h.update(len(payload or b"").to_bytes(8, "little"))
        h.update(payload or b"")
    return h.hexdigest()[:16]


_PAGES_ARROW = pa.schema([
    ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string())])


# ---------------------------------------------------------------------------
# extract_crawl: pages parquet
# ---------------------------------------------------------------------------


def crawl_pages(seed: int, n: int):
    """``n`` Common-Crawl-shaped pages rows (url, warc_ts, html, kind):
    ``PAGE_MIX`` over ``page_plan`` sizes, a >1 MiB giant every
    ``GIANT_EVERY`` pages, and 2% duplicate rows of earlier urls (a
    coverage choice: the fixtures hold none)."""
    r = random.Random(f"crawl:{seed}")
    kinds, sizes = page_plan(r, n, dict(PAGE_MIX, dup=0.02))
    rows = []
    for idx, (kind, size) in enumerate(zip(kinds, sizes)):
        if idx % GIANT_EVERY == GIANT_EVERY // 2:
            kind, size = "giant", 1_100_000 + r.randrange(300_000)
        if kind == "dup" and rows:
            # a double-ingested row: same url, same payload
            rows.append(rows[r.randrange(len(rows))])
            continue
        if kind == "dup":
            kind = "html"
        payload = render_page(r, kind, size)
        url = (f"https://site{r.randrange(400)}.example/"
               f"{_words(r, 1)}/{seed}-{idx}")
        rows.append((url, BASE_TS + dt.timedelta(seconds=idx), payload,
                     kind))
    return rows


def crawl_input(work: Path, seed: int, n: int) -> dict:
    def build(root: Path) -> dict:
        rows = crawl_pages(seed, n)
        table = pa.table({
            "url": [x[0] for x in rows], "warc_ts": [x[1] for x in rows],
            "html": [x[2] if x[3] != "empty" else None for x in rows],
            "text": [None] * len(rows), "lang": [None] * len(rows),
        }, schema=_PAGES_ARROW)
        # several files so the scan has more than one split, each of at
        # most 500 rows: the vectorized scan reads a file's row group in
        # one batch, and 2,500-row files (about 40 MB) overran Spark's
        # default 1 GiB driver heap with four tasks reading at once
        n_files = max(4, math.ceil(len(rows) / 500))
        step = math.ceil(len(rows) / n_files)
        (root / "pages").mkdir()
        for i in range(n_files):
            pq.write_table(table.slice(i * step, step),
                           root / "pages" / f"part-{i:03d}.parquet")
        kinds = {}
        for x in rows:
            kinds[x[3]] = kinds.get(x[3], 0) + 1
        # each row's template kind, in row order (the replay's per-kind
        # shares of extractor time)
        (root / "kinds.json").write_text(json.dumps([x[3] for x in rows]))
        sizes = sorted(len(x[2]) for x in rows)
        return {"pages": str(root / "pages"), "rows": len(rows),
                "kinds_file": str(root / "kinds.json"),
                "distinct_urls": len({x[0] for x in rows}),
                "kinds": kinds, "median_bytes": sizes[len(sizes) // 2],
                "digest": _digest_rows((x[0], x[2]) for x in rows)}

    return _cached(work, "crawl", seed, n, build)


# ---------------------------------------------------------------------------
# curate_chain: crawl-text corpus
# ---------------------------------------------------------------------------

SOURCES = ("web", "forum", "news", "wiki")
CORPUS_FILES = 8


def curate_corpus(seed: int, n: int):
    """(docs, blocked, benchmark) rows for ``curate_full``.

    Word counts are long-tailed (median ~120, tail into the low
    thousands).  Planted: re-crawl url variants, a blocked domain, PII,
    8-gram benchmark contamination, exact duplicates and one-word
    near-duplicates."""
    r = random.Random(f"curate:{seed}")
    bench = [(i, _draw_words(r, 40)) for i in range(24)]
    lengths = _lognormal_sizes(r, n, 120, 0.8, 12, 3000)
    plants = _mix(r, n, {"variant": 0.05, "exact": 0.04, "near": 0.04,
                         "blocked": 0.03, "contaminated": 0.02}, "plain")
    pii = _mix(r, n, {"pii": 0.10}, "none")
    docs = []
    contaminated, blocked_ids = set(), set()
    for i in range(n):
        doc_id = i + 1
        source = SOURCES[r.randrange(len(SOURCES))]
        url = (f"https://host{r.randrange(300)}.example/{source}/"
               f"{seed}/{i}")
        text = _draw_words(r, lengths[i])
        plant = plants[i] if docs else "plain"
        if plant == "variant":
            # re-crawl variant of an earlier url (same page, new fetch)
            j = r.randrange(len(docs))
            base_url, text = docs[j][1], docs[j][2]
            url = r.choice((base_url + "?utm_source=feed",
                            base_url + "#comments", base_url + "/",
                            base_url.replace("https://host",
                                             "https://HOST", 1)))
        elif plant == "exact":
            text = docs[r.randrange(len(docs))][2]
        elif plant == "near":
            words = docs[r.randrange(len(docs))][2].split(" ")
            k = r.randrange(len(words))
            words[k] = r.choice(_VOCAB)
            text = " ".join(words)
        elif plant == "blocked":
            url = f"https://{BLOCKED_DOMAIN}/{source}/{seed}/{i}"
            blocked_ids.add(doc_id)
        elif plant == "contaminated":
            b = bench[r.randrange(len(bench))][1].split(" ")
            k = r.randrange(len(b) - 12)
            text = text + " " + " ".join(b[k:k + 12])
            contaminated.add(doc_id)
        if pii[i] == "pii":
            text += (f" contact {_draw_words(r, 1)}@mail{r.randrange(50)}"
                     f".example or +31 20 {r.randrange(1000000, 9999999)}"
                     f" from 10.{r.randrange(256)}.{r.randrange(256)}.7")
        docs.append((doc_id, url, text, source))
    return docs, [(BLOCKED_DOMAIN,)], bench, contaminated, blocked_ids


def curate_input(work: Path, seed: int, n: int) -> dict:
    def build(root: Path) -> dict:
        docs, blocked, bench, contaminated, blocked_ids = \
            curate_corpus(seed, n)
        table = pa.table({
            "doc_id": pa.array([d[0] for d in docs], pa.int64()),
            "url": [d[1] for d in docs], "text": [d[2] for d in docs],
            "source": [d[3] for d in docs]})
        # a corpus arrives as many files: one split per file keeps every
        # core busy from the scan on
        (root / "docs").mkdir()
        step = math.ceil(len(docs) / CORPUS_FILES)
        for i in range(CORPUS_FILES):
            pq.write_table(table.slice(i * step, step),
                           root / "docs" / f"part-{i:03d}.parquet")
        pq.write_table(pa.table({"domain": [b[0] for b in blocked]}),
                       root / "blocked.parquet")
        pq.write_table(pa.table({
            "bench_id": pa.array([b[0] for b in bench], pa.int64()),
            "text": [b[1] for b in bench]}), root / "bench.parquet")
        n_words = sorted(len(d[2].split(" ")) for d in docs)
        return {"docs": str(root / "docs"),
                "blocked": str(root / "blocked.parquet"),
                "bench": str(root / "bench.parquet"),
                "rows": len(docs),
                "median_words": n_words[len(n_words) // 2],
                "p99_words": n_words[int(len(n_words) * 0.99)],
                "contaminated_ids": sorted(contaminated),
                "blocked_ids": sorted(blocked_ids),
                "digest": _digest_rows(
                    (f"{d[0]}|{d[1]}|{d[3]}", d[2].encode()) for d in docs)}

    return _cached(work, "curate", seed, n, build)


# ---------------------------------------------------------------------------
# stream_ingest: member-gzipped WARC segments
# ---------------------------------------------------------------------------


def _warc_record(headers: list[tuple[str, str]], content: bytes) -> bytes:
    head = "WARC/1.0\r\n" + "".join(f"{k}: {v}\r\n" for k, v in headers)
    head += f"Content-Length: {len(content)}\r\n\r\n"
    return head.encode() + content + b"\r\n\r\n"


def warc_segments(seed: int, n_segments: int, per_segment: int,
                  revisit: float = 0.2):
    """Yields (segment_bytes, [(url, ts, payload), ...]) per segment.
    Each segment opens with a warcinfo record and carries one request +
    one response record per fetch; ``revisit`` of the responses re-crawl
    an earlier url with new content.  Fetch timestamps increase by one
    second across the whole crawl."""
    r = random.Random(f"warc:{seed}")
    seen: list[str] = []
    t = 0
    for s in range(n_segments):
        buf = io.BytesIO()
        fetches = []
        info = f"software: perfbench\r\nsegment: {s}\r\n".encode()
        members = [_warc_record([("WARC-Type", "warcinfo"),
                                 ("WARC-Date", _iso(t))], info)]
        visits = _mix(r, per_segment, {"revisit": revisit}, "new")
        kinds, sizes = page_plan(r, per_segment, PAGE_MIX)
        for visit, kind, size in zip(visits, kinds, sizes):
            if seen and visit == "revisit":
                url = seen[r.randrange(len(seen))]
            else:
                url = (f"https://news{r.randrange(200)}.example/"
                       f"{_words(r, 1)}/{seed}-{len(seen)}")
                seen.append(url)
            payload = render_page(r, kind, size)
            ctype = "application/pdf" if kind == "pdf" else \
                "text/html; charset=utf-8"
            http = (f"HTTP/1.1 200 OK\r\nContent-Type: {ctype}\r\n"
                    f"Content-Length: {len(payload)}\r\n\r\n").encode()
            members.append(_warc_record(
                [("WARC-Type", "request"), ("WARC-Target-URI", url),
                 ("WARC-Date", _iso(t))],
                f"GET / HTTP/1.1\r\nHost: x\r\n\r\n".encode()))
            members.append(_warc_record(
                [("WARC-Type", "response"), ("WARC-Target-URI", url),
                 ("WARC-Date", _iso(t)),
                 ("Content-Type", "application/http; msgtype=response")],
                http + payload))
            fetches.append((url, t, payload))
            t += 1
        for m in members:
            buf.write(gzip.compress(m, compresslevel=6, mtime=0))
        yield buf.getvalue(), fetches


def _iso(t: int) -> str:
    return (BASE_TS + dt.timedelta(seconds=t)).strftime("%Y-%m-%dT%H:%M:%SZ")


def warc_input(work: Path, seed: int, n_segments: int,
               per_segment: int) -> dict:
    """Segments are staged under ``segments/`` (the stream reads a copy
    of them); ``fetches.json`` lists every fetch per segment in order, so
    the first-seen set of any prefix of segments can be derived."""
    def build(root: Path) -> dict:
        (root / "segments").mkdir()
        per_seg = []
        h = hashlib.sha256()
        for s, (data, fetches) in enumerate(
                warc_segments(seed, n_segments, per_segment)):
            (root / "segments" / f"seg-{s:04d}.warc.gz").write_bytes(data)
            h.update(data)
            per_seg.append([[u, t] for u, t, _ in fetches])
        (root / "fetches.json").write_text(json.dumps(per_seg))
        return {"segments": str(root / "segments"),
                "fetches": str(root / "fetches.json"),
                "n_segments": n_segments, "per_segment": per_segment,
                "digest": h.hexdigest()[:16]}

    return _cached(work, "warc", seed, n_segments * 10_000 + per_segment,
                   build)


def first_crawls(segments_dir: str, n: int) -> dict[str, bytes]:
    """url → payload of its first fetch across segments ``0..n-1``, read
    back from the segment files with an independent record walker."""
    first: dict[str, bytes] = {}
    for s in range(n):
        data = gzip.decompress(
            Path(segments_dir, f"seg-{s:04d}.warc.gz").read_bytes())
        pos = 0
        while True:
            start = data.find(b"WARC/1.0\r\n", pos)
            if start < 0:
                break
            end = data.index(b"\r\n\r\n", start)
            head = data[start:end].decode()
            fields = dict(line.split(": ", 1)
                          for line in head.split("\r\n")[1:])
            length = int(fields["Content-Length"])
            content = data[end + 4:end + 4 + length]
            pos = end + 4 + length
            if fields.get("WARC-Type") == "response":
                url = fields["WARC-Target-URI"]
                if url not in first:
                    first[url] = content.split(b"\r\n\r\n", 1)[1]
    return first


# ---------------------------------------------------------------------------
# serve_extract: request payloads
# ---------------------------------------------------------------------------


def serve_payloads(seed: int, n: int) -> list[tuple[str, bytes]]:
    """The crawl's page kinds and sizes without giants and without empty
    payloads (an empty body is a client error to the server)."""
    r = random.Random(f"serve:{seed}")
    mix = {k: v for k, v in PAGE_MIX.items() if k != "empty"}
    kinds, sizes = page_plan(r, n, mix)
    return [(f"https://req{r.randrange(100)}.example/{seed}/{i}",
             render_page(r, kind, size), kind)
            for i, (kind, size) in enumerate(zip(kinds, sizes))]


def serve_input(work: Path, seed: int, n: int) -> dict:
    def build(root: Path) -> dict:
        payloads = serve_payloads(seed, n)
        pq.write_table(pa.table({"url": [p[0] for p in payloads],
                                 "html": [p[1] for p in payloads],
                                 "kind": [p[2] for p in payloads]}),
                       root / "payloads.parquet")
        return {"payloads": str(root / "payloads.parquet"),
                "rows": len(payloads),
                "digest": _digest_rows(p[:2] for p in payloads)}

    return _cached(work, "serve", seed, n, build)


def load_serve_payloads(info: dict):
    """(url, payload) pairs and each payload's template kind."""
    t = pq.read_table(info["payloads"])
    return (list(zip(t.column("url").to_pylist(),
                     t.column("html").to_pylist())),
            t.column("kind").to_pylist())
