"""serve_extract: ``serve.ExtractServer`` in a child process under four
keep-alive HTTP/1.1 clients in a closed loop (each client sends its next
request when the previous response arrives).  Every request goes out in
one write.  One operation is one request."""

from __future__ import annotations

import json
import socket
import subprocess
import sys
import threading
import time
from pathlib import Path

import gen
import harness as H
from layers import kind_report, replay_extractor

SIZES = {"full": 200, "smoke": 20}
CLIENTS = 4
STARTS = 11


def start_server() -> tuple[subprocess.Popen, int, float]:
    """Spawn the server; returns it, its port and the seconds until
    ``/healthz`` answered."""
    t0 = time.perf_counter()
    proc = subprocess.Popen(
        [sys.executable, str(Path(__file__).with_name("serve_child.py")),
         str(H.ROOT)], stdin=subprocess.PIPE, stdout=subprocess.PIPE)
    port = int(proc.stdout.readline() or 0)
    while proc.poll() is None and time.perf_counter() - t0 < 60:
        try:
            status, _ = Client(port).get("/healthz")
            if status == 200:
                return proc, port, time.perf_counter() - t0
        except (OSError, ValueError, IndexError):
            time.sleep(0.01)
    stop_server(proc)
    raise RuntimeError("the server did not answer /healthz")


def stop_server(proc: subprocess.Popen) -> None:
    proc.stdin.close()
    try:
        proc.wait(timeout=20)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


class Client:
    """One keep-alive HTTP/1.1 connection; each request is one
    ``sendall`` of headers and body together."""

    def __init__(self, port: int):
        # a request that hangs fails instead of stalling its client
        self.sock = socket.create_connection(("127.0.0.1", port),
                                             timeout=30)
        self.sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        self.rfile = self.sock.makefile("rb")

    def _read(self) -> tuple[int, bytes]:
        status = int(self.rfile.readline().split()[1])
        length = 0
        while True:
            line = self.rfile.readline()
            if line in (b"\r\n", b""):
                break
            name, _, value = line.partition(b":")
            if name.strip().lower() == b"content-length":
                length = int(value)
        return status, self.rfile.read(length)

    def get(self, path: str) -> tuple[int, bytes]:
        self.sock.sendall(f"GET {path} HTTP/1.1\r\nHost: x\r\n"
                          "Connection: close\r\n\r\n".encode())
        try:
            return self._read()
        finally:
            self.close()

    def post(self, url: str, payload: bytes) -> tuple[int, bytes]:
        head = (f"POST /extract HTTP/1.1\r\nHost: x\r\nX-Url: {url}\r\n"
                f"Content-Type: application/octet-stream\r\n"
                f"Content-Length: {len(payload)}\r\n\r\n").encode()
        self.sock.sendall(head + payload)
        return self._read()

    def close(self) -> None:
        self.rfile.close()
        self.sock.close()


def run(ctx) -> dict:
    from webextract.extract import extract_record

    t0 = time.perf_counter()
    info = gen.serve_input(H.WORK, ctx.seed, SIZES[ctx.size])
    payloads, kinds = gen.load_serve_payloads(info)
    gen_s = time.perf_counter() - t0

    starts = []
    for k in range(STARTS):
        with ctx.tracer.span("setup.server_start"):
            proc, port, took = start_server()
        starts.append(took)
        if k < STARTS - 1:
            # only the start is measured: skip the graceful shutdown's
            # poll-interval wait
            proc.kill()
            proc.wait()
    setup = {"total": H.median(starts)}

    ops = ctx.timed_ops(min_ops=0)
    lat: list[float] = []
    results: list[tuple[int, int, bytes]] = []
    lock = threading.Lock()
    stop = threading.Event()

    def client(c: int) -> None:
        conn = None
        i = c
        while not stop.is_set():
            url, payload = payloads[i % len(payloads)]
            t = time.perf_counter()
            try:
                conn = conn or Client(port)
                status, body = conn.post(url, payload)
            except (OSError, ValueError, IndexError):
                # no response (dropped or refused connection, garbled
                # status line): a failed request; reconnect for the next
                status, body = 0, b""
                if conn is not None:
                    conn.close()
                conn = None
            took = time.perf_counter() - t
            with lock:
                lat.append(took * 1000)
                results.append((i % len(payloads), status, body))
            i += CLIENTS
        if conn is not None:
            conn.close()

    cpu0 = H.tree_cpu_s(proc.pid)
    t_start = time.perf_counter()
    threads = [threading.Thread(target=client, args=(c,))
               for c in range(CLIENTS)]
    for t in threads:
        t.start()
    time.sleep(ctx.seconds)
    stop.set()
    for t in threads:
        t.join()
    window = time.perf_counter() - t_start
    server_cpu = H.tree_cpu_s(proc.pid) - cpu0
    for w in lat:
        ops.done(w / 1000)
    try:
        _, metrics_text = Client(port).get("/metrics")
    except (OSError, ValueError, IndexError):
        metrics_text = b""
    stop_server(proc)

    # output check, after the timed window: every 200 body equals
    # extract_record on the same payload, parse_us excluded
    expected = {}
    failed = 0
    for idx, status, body in results:
        if idx not in expected:
            exp = extract_record(*payloads[idx])
            exp.pop("parse_us")
            expected[idx] = exp
        try:
            got = json.loads(body) if status == 200 else None
        except ValueError:
            got = None
        if isinstance(got, dict):
            got.pop("parse_us", None)
        if got != expected[idx]:
            failed += 1
    problems = [f"{failed} responses differ"] if failed else []
    if not results:
        problems.append("no request completed")
    check = {"ok": not problems, "problems": problems,
             "requests": len(results)}

    layers = {}
    p50 = H.percentile(lat, 50)
    p99 = H.percentile(lat, 99)
    report = {"request_p50_ms": (p50, "ms"), "request_p99_ms": (p99, "ms"),
              "requests": (len(lat), "count")}
    if ctx.tracer.enabled:
        per_doc = []
        for url, payload in payloads:
            with ctx.tracer.span("serve.extract_record"):
                t = time.perf_counter()
                extract_record(url, payload)
                per_doc.append((time.perf_counter() - t) * 1000)
        rejected = 0
        for line in metrics_text.decode().splitlines():
            if line.startswith("webextract_rejected_total"):
                rejected = int(float(line.split()[1]))
        extract_ms = H.median(per_doc)
        layers = {
            "serve.extract_ms": extract_ms,
            "serve.overhead_ms": p50 - extract_ms,
            "serve.rejected": rejected,
            "serve.cpu_util": server_cpu / (window * H.NPROC),
            "unattributed_s": (p50 - extract_ms) / 1000,
            "unattributed_ratio": (p50 - extract_ms) / p50,
        }
        replay, shares = replay_extractor(payloads, ctx.tracer,
                                          seed=ctx.seed, kinds=kinds)
        layers.update(replay)
        report.update(kind_report(shares))
    return ctx.result(
        setup=setup, ops=ops, docs_per_s=len(lat) / window, tail_ms=p99,
        attempted=max(1, len(results)), failed=failed if results else 1,
        layers=layers,
        info={"input": info, "gen_s": gen_s, "check": check,
              "server_starts_s": starts},
        extra_report=report)
