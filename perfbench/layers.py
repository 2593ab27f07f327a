"""Layer replays and shared per-layer helpers.

The Spark runs measure the extractor inside Python workers, where the
benchmark cannot put spans.  The traced run therefore replays the
extractor's public layer functions in-process on the same payloads
(``decode_payload`` → ``tokenize_blocks`` → ``classify_block`` →
``assemble_spans``, and ``extract_pdf``), timing each call, and checks
that the replay reproduces ``extract_html`` exactly.
"""

from __future__ import annotations

import random
import time

GIANT_BYTES = 1 << 20

# every per-layer metric of the extractor replay, zero when unused
EXTRACTOR_KEYS = (
    "html_extract.decode_s", "html_extract.tokenize_s",
    "html_extract.classify_s", "html_extract.assemble_s",
    "html_extract.blocks", "html_extract.kept_ratio",
    "html_extract.giant_share", "pdf_extract.extract_s",
    "pdf_extract.pages")


def replay_extractor(payloads: list[tuple[str, bytes | None]],
                     tracer, sample: float = 1.0, seed: int = 0,
                     kinds: list[str] | None = None
                     ) -> tuple[dict, dict[str, float]]:
    """Time the extractor layers over ``payloads``.  Pages above 1 MiB
    are always replayed; the rest are sampled at rate ``sample`` and
    scaled back up, so the totals estimate the full input.

    Returns the metrics and, when the generator's template ``kinds`` are
    given (one per payload), each kind's share of the replayed extractor
    time."""
    from webextract.config import DEFAULT_CONFIG as cfg
    from webextract.html_extract import (
        assemble_spans, classify_block, decode_payload, extract_html,
        tokenize_blocks)
    from webextract.pdf_extract import extract_pdf, is_pdf

    r = random.Random(seed)
    t = dict.fromkeys(EXTRACTOR_KEYS, 0.0)
    giant_s = 0.0
    blocks = kept_n = 0
    by_kind: dict[str, float] = {}
    for i, (url, payload) in enumerate(payloads):
        if not payload:
            continue
        giant = len(payload) > GIANT_BYTES
        if not giant and r.random() >= sample:
            continue
        w = 1.0 if giant else 1.0 / sample
        kind = "giant" if giant else kinds[i] if kinds else "all"
        if is_pdf(payload):
            with tracer.span("pdf_extract.extract_pdf"):
                t0 = time.perf_counter()
                extract_pdf(url, payload, cfg)
                took = w * (time.perf_counter() - t0)
            t["pdf_extract.extract_s"] += took
            t["pdf_extract.pages"] += w
            by_kind[kind] = by_kind.get(kind, 0.0) + took
            continue
        page_t0 = time.perf_counter()
        with tracer.span("html_extract.decode_payload"):
            t0 = time.perf_counter()
            text = decode_payload(payload[:cfg.max_html_bytes])
            t1 = time.perf_counter()
        with tracer.span("html_extract.tokenize_blocks"):
            blks = tokenize_blocks(text)
            t2 = time.perf_counter()
        with tracer.span("html_extract.classify_block"):
            kept = []
            for b in blks:
                cls, conf = classify_block(b, cfg)
                if cls != "background":
                    kept.append((cls, conf, b.text()))
            t3 = time.perf_counter()
        with tracer.span("html_extract.assemble_spans"):
            res = assemble_spans(url, kept, cfg)
            t4 = time.perf_counter()
        t["html_extract.decode_s"] += w * (t1 - t0)
        t["html_extract.tokenize_s"] += w * (t2 - t1)
        t["html_extract.classify_s"] += w * (t3 - t2)
        t["html_extract.assemble_s"] += w * (t4 - t3)
        blocks += w * len(blks)
        kept_n += w * len(kept)
        if giant:
            giant_s += t4 - page_t0
        by_kind[kind] = by_kind.get(kind, 0.0) + w * (t4 - page_t0)
        if res != extract_html(url, payload, cfg):
            raise AssertionError(f"layer replay diverged from "
                                 f"extract_html on {url}")
    html_s = sum(t[k] for k in ("html_extract.decode_s",
                                "html_extract.tokenize_s",
                                "html_extract.classify_s",
                                "html_extract.assemble_s"))
    total = html_s + t["pdf_extract.extract_s"]
    t["html_extract.blocks"] = round(blocks)
    t["html_extract.kept_ratio"] = kept_n / blocks if blocks else 0.0
    t["html_extract.giant_share"] = giant_s / total if total else 0.0
    t["pdf_extract.pages"] = round(t["pdf_extract.pages"])
    spent = sum(by_kind.values())
    shares = {k: v / spent for k, v in sorted(by_kind.items())} \
        if kinds and spent else {}
    return t, shares


def kind_report(shares: dict[str, float]) -> dict:
    """Readable-report lines of each template kind's share of the
    replayed extractor time."""
    return {f"kind_share.{k}": (v, "ratio") for k, v in shares.items()}
