"""Shared machinery of the benchmark: the checkout layout, the Spark
session with deployment-only settings, the process-tree sampler (RSS and
CPU of the whole tree), span tracing and Spark status-store readers."""

from __future__ import annotations

import json
import os
import re
import statistics
import threading
import time
import uuid
from contextlib import contextmanager
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench"
NPROC = os.cpu_count() or 1


def percentile(values: list[float], q: float) -> float:
    """Linearly interpolated percentile, ``q`` in [0, 100]."""
    if not values:
        return float("nan")
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else float("nan")


# ---------------------------------------------------------------------------
# process tree: RSS and CPU of this process and every descendant
# ---------------------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")
_HZ = os.sysconf("SC_CLK_TCK")


def _proc_table() -> dict[int, tuple[int, list[str]]]:
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            raw = Path(f"/proc/{name}/stat").read_text()
        except OSError:
            continue
        # the command name may hold spaces: fields start after ')'
        fields = raw[raw.rindex(")") + 2:].split()
        table[int(name)] = (int(fields[1]), fields)
    return table


def tree_pids(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    table = _proc_table()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_rss_bytes(root: int | None = None) -> int:
    total = 0
    for pid in tree_pids(root):
        try:
            total += int(Path(f"/proc/{pid}/statm").read_text().split()[1])
        except (OSError, IndexError):
            pass
    return total * _PAGE


def tree_cpu_s(root: int | None = None) -> float:
    """utime+stime of every live process in the tree, plus the reaped
    children each one accounts for."""
    table = _proc_table()
    total = 0
    for pid in tree_pids(root):
        if pid in table:
            f = table[pid][1]
            # fields after ')': state ppid ... utime(11) stime(12)
            # cutime(13) cstime(14)
            total += sum(int(x) for x in f[11:15])
    return total / _HZ


class TreeSampler:
    """Polls the RSS of the process tree rooted at ``root`` in a
    background thread and keeps the peak."""

    def __init__(self, root: int | None = None, period: float = 0.1):
        self.root = root
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(self.root))
            self._stop.wait(self.period)

    def __enter__(self) -> "TreeSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes(self.root))


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory spans: name, start, end (epoch seconds), parent id.
    Spans of one run share ``run_id``.  With ``enabled=False`` the
    context manager only yields, so untraced runs pay nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.overhead_s = 0.0   # time spent in span bookkeeping

    def add(self, name: str, start: float, end: float,
            parent: int | None = None, **attrs) -> int:
        sid = len(self.spans)
        self.spans.append({"id": sid, "name": name, "start": start,
                           "end": end, "parent": parent,
                           "run_id": self.run_id, **attrs})
        return sid

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sid = self.add(name, time.time(), float("nan"), parent, **attrs)
        self._stack.append(sid)
        self.overhead_s += time.perf_counter() - t0
        try:
            yield sid
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            self.spans[sid]["end"] = time.time()
            self.overhead_s += time.perf_counter() - t1

    def self_times_by_id(self) -> dict[int, float]:
        """Per span: duration minus the part covered by its child spans
        (children merged as intervals, so overlapping parallel children
        are not double-subtracted)."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"],
                                                         s["end"]))
        return {s["id"]: s["end"] - s["start"] - union_length(
            kids.get(s["id"], []), s["start"], s["end"])
            for s in self.spans}

    def self_times(self) -> dict[str, float]:
        """Self time summed per span name."""
        out: dict[str, float] = {}
        own = self.self_times_by_id()
        for s in self.spans:
            out[s["name"]] = out.get(s["name"], 0.0) + own[s["id"]]
        return out

    def write(self, path: Path, extra: dict) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(
            {"run_id": self.run_id, "spans": self.spans,
             "self_times": self.self_times(), **extra}, indent=1))


def union_length(intervals, lo: float = float("-inf"),
                 hi: float = float("inf")) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(lo, s), min(hi, e)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ---------------------------------------------------------------------------
# Spark
# ---------------------------------------------------------------------------


def spark_session(app: str, conf: dict | None = None):
    """A local session over every core with deployment-only settings:
    master, scratch/warehouse paths inside the checkout, no web UI, plus
    ``conf``."""
    import tempfile

    from pyspark.sql import SparkSession

    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # temporary files of this process, the JVM launcher and the Python
    # workers (``ship_package`` writes its zip there) stay in the checkout
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)   # overrides spark.local.dir
    tempfile.tempdir = str(tmp)
    # no hsperfdata files under /tmp
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    spark = (SparkSession.builder.appName(app)
             .master(f"local[{NPROC}]")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.local.dir", str(tmp))
             .config("spark.driver.extraJavaOptions", java_opts)
             .config("spark.sql.warehouse.dir", str(WORK / "warehouse")))
    for k, v in (conf or {}).items():
        spark = spark.config(k, v)
    spark = spark.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def spark_jobs(spark, after: int) -> list[dict]:
    """Jobs with id above ``after``."""
    store = spark.sparkContext._jsc.sc().statusStore()
    out = []
    for j in _seq(store.jobsList(None)):
        if j.jobId() <= after:
            continue
        out.append({"job_id": j.jobId(), "start": _opt_ms(j.submissionTime()),
                    "end": _opt_ms(j.completionTime()),
                    "stage_ids": list(_seq(j.stageIds())),
                    "status": j.status().toString()})
    return out


def spark_stages(spark, ids: set[int]) -> dict[int, dict]:
    """Completed stages among ``ids``, keyed by stage id (last attempt
    wins).  Each field is a py4j call, so other stages are skipped
    first."""
    store = spark.sparkContext._jsc.sc().statusStore()
    sc = spark.sparkContext
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    stages = store.stageList(None, False, False, no_quantiles, None)
    out = {}
    for s in _seq(stages):
        if s.stageId() not in ids or s.status().toString() != "COMPLETE":
            continue
        out[s.stageId()] = {
            "stage_id": s.stageId(), "attempt": s.attemptId(),
            "name": s.name(), "num_tasks": s.numTasks(),
            "start": _opt_ms(s.submissionTime()),
            "end": _opt_ms(s.completionTime()),
            "run_s": s.executorRunTime() / 1000.0,
            "cpu_s": s.executorCpuTime() / 1e9,
            "shuffle_write": s.shuffleWriteBytes(),
            "shuffle_read": s.shuffleReadBytes(),
            "input_bytes": s.inputBytes(),
            "output_bytes": s.outputBytes(),
        }
    return out


def task_durations(spark, stage_id: int, attempt: int) -> list[float]:
    store = spark.sparkContext._jsc.sc().statusStore()
    out = []
    for t in _seq(store.taskList(stage_id, attempt, 100000)):
        d = t.duration()
        if d.isDefined():
            out.append(d.get() / 1000.0)
    return out


_NUM_UNIT = re.compile(r"([0-9][0-9.,]*)\s*(ms|s|m|h|B|KiB|MiB|GiB|TiB)?")
_SCALE = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "B": 1,
          "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
          None: 1}


def _metric_value(text: str) -> float:
    """A formatted SQL metric value (``"1.2 s"``, ``"409.3 MiB"``, or
    ``"total (min, med, max ...)\\n1.2 s (...)"``) → seconds/bytes."""
    line = text.strip().split("\n")[-1]
    m = _NUM_UNIT.search(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _SCALE[m.group(2)]


def sql_executions(spark, after: int = -1) -> list[dict]:
    """Finished SQL executions with id above ``after``: interval, stage
    ids, and the sum per name of every plan metric (e.g. "time to start
    Python workers")."""
    store = spark._jsparkSession.sharedState().statusStore()
    out = []
    for ex in _seq(store.executionsList()):
        eid = ex.executionId()
        end = _opt_ms(ex.completionTime())
        if eid <= after or end is None:
            continue
        values = store.executionMetrics(eid)
        named: dict[str, float] = {}
        for m in _seq(ex.metrics()):
            acc = m.accumulatorId()
            if values.contains(acc):
                v = _metric_value(values.apply(acc))
                named[m.name()] = named.get(m.name(), 0.0) + v
        out.append({"execution_id": eid, "start": ex.submissionTime() / 1e3,
                    "end": end, "stages": set(_seq(ex.stages().toSeq())),
                    "metrics": named})
    return out


def last_execution_id(spark) -> int:
    store = spark._jsparkSession.sharedState().statusStore()
    ids = [e.executionId() for e in _seq(store.executionsList())]
    return max(ids) if ids else -1


def spark_mark(spark) -> tuple[int, int]:
    """(last SQL execution id, last job id): taken before each operation,
    so the status-store records can be split per operation."""
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = [j.jobId() for j in _seq(store.jobsList(None))]
    return last_execution_id(spark), max(jobs, default=-1)


def per_operation(spark, marks: list[tuple[int, int]]) -> list[dict]:
    """For each operation, between consecutive marks: its job count,
    completed stages and SQL executions."""
    jobs = spark_jobs(spark, marks[0][1])
    stages = spark_stages(spark, {s for j in jobs for s in j["stage_ids"]})
    execs = sql_executions(spark, marks[0][0])
    out = []
    for (ex0, job0), (ex1, job1) in zip(marks, marks[1:]):
        op_jobs = [j for j in jobs if job0 < j["job_id"] <= job1]
        out.append({
            "jobs": len(op_jobs),
            "stages": {s: stages[s] for j in op_jobs
                       for s in j["stage_ids"] if s in stages},
            "execs": [e for e in execs if ex0 < e["execution_id"] <= ex1],
        })
    return out


def add_query_spans(tracer, op_span: int, op: dict, stage_name) -> float:
    """Spans operation → SQL execution (``spark.query``) → stage for one
    operation from :func:`per_operation`; ``stage_name(stage)`` names
    each stage span.  Returns the summed self time of the query spans:
    driver-side time inside queries but outside their stages (planning,
    adaptive re-planning, job commit)."""
    parent, qids = {}, []
    for e in op["execs"]:
        qid = tracer.add("spark.query", e["start"], e["end"], op_span,
                         execution_id=e["execution_id"])
        qids.append(qid)
        parent.update(dict.fromkeys(e["stages"], qid))
    for s in op["stages"].values():
        tracer.add(stage_name(s), s["start"], s["end"],
                   parent.get(s["stage_id"], op_span),
                   stage_id=s["stage_id"])
    own = tracer.self_times_by_id()
    return sum(own[q] for q in qids)
