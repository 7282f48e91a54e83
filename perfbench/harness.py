"""Measurement plumbing shared by the workloads: the Spark session's whole
lifetime (JVM included), the process-tree memory sampler, the steal sentinel,
the SQL status-store reader and the in-memory span recorder."""

from __future__ import annotations

import hashlib
import json
import os
import re
import statistics
import sys
import threading
import time
from contextlib import contextmanager

CORES = 4
DRIVER_MEM_MB = 2048  # well below the 15 GB box; the session default is 16g
DRIVER_MEM = f"{DRIVER_MEM_MB}m"


def median(xs):
    return statistics.median(xs) if xs else 0.0


def noop(df) -> None:
    """Materialize every column without a sink: the noop write."""
    df.write.format("noop").mode("overwrite").save()


def steal_sentinel() -> float:
    """Single-thread sha256 burn time; inflated when the host steals CPU."""
    t0 = time.perf_counter()
    h = b"x"
    for _ in range(200_000):
        h = hashlib.sha256(h).digest()
    return time.perf_counter() - t0


def prepare_env(root: str) -> str:
    """Point every scratch write at ``<root>/.bench_work`` and hand the
    repository to the python workers, which start outside the driver's
    ``sys.path``. Returns the work directory."""
    work = os.path.join(root, ".bench_work")
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM, the spark-submit launcher included: no /tmp/hsperfdata_* file
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["CURATOR_SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    return work


def start_spark(work: str):
    """Cold session on ``local[4]`` with GC threads sized to the 4 cores.

    The heap is committed and touched up front, so peak memory does not
    hinge on how far the collector happened to grow it."""
    from curator_spark.session import get_spark

    java_opts = (
        f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch "
        f"-XX:ParallelGCThreads={CORES} -XX:ConcGCThreads={CORES // 2} "
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    )
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{CORES}]",
        shuffle_partitions=2 * CORES,
        extra_conf={
            "spark.driver.extraJavaOptions": java_opts,
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the context, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - the JVM must not outlive us
            proc.kill()
            proc.wait(timeout=30)


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
    return kids


def process_tree(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


_PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


def _read(path: str) -> str:
    try:
        with open(path) as f:
            return f.read()
    except OSError:
        return ""


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def _rss_kb(pid: int) -> int:
    statm = _read(f"/proc/{pid}/statm").split()
    return int(statm[1]) * _PAGE_KB if statm else 0


def _pss_kb(pid: int) -> int:
    """Proportional set size: pages shared between forked processes (the
    python daemon and its workers) are split between them, so the tree's
    sum counts each page once."""
    for line in _read(f"/proc/{pid}/smaps_rollup").splitlines():
        if line.startswith("Pss:"):
            return int(line.split()[1])
    return 0


class MemorySampler:
    """Peak resident memory of the Spark process tree (driver JVM, python
    daemon and workers), sampled every 100 ms while active.

    The JVM counts its resident set from ``statm``: a PSS walk of its 3 GB
    of mappings takes about 55 ms and holds the JVM's mmap lock meanwhile.
    A child the JVM spawns shares the JVM's memory until it execs, so a
    child still running the JVM's executable is skipped. Every other
    process counts its PSS."""

    def __init__(self, pid: int):
        self.pid = pid
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample_kb(self) -> int:
        jvm = _exe(self.pid)
        others = [p for p in process_tree(self.pid)[1:] if _exe(p) != jvm]
        return _rss_kb(self.pid) + sum(_pss_kb(p) for p in others)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, self._sample_kb())
            self._stop.wait(0.1)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def pin_tree(pid: int, cpus: set[int]) -> None:
    """Re-pin every thread of the Spark process tree (new python workers
    inherit the daemon's mask)."""
    for p in process_tree(pid):
        try:
            for tid in os.listdir(f"/proc/{p}/task"):
                os.sched_setaffinity(int(tid), cpus)
        except OSError:
            continue


# ---------------------------------------------------------------------------
# SQL status store (populated with the UI disabled)
# ---------------------------------------------------------------------------

_UNITS = {
    "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_TOTAL_RE = re.compile(r"^([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def _metric_value(text: str) -> float:
    """'total (min, med, max ...)\\n5.1 s (...)' -> 5.1; sizes to bytes,
    times to seconds, sums as counts."""
    line = text.split("\n")[-1].strip()
    m = _TOTAL_RE.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


_ACC_RE = re.compile(r"(?:^\w*Map\(|, )(\d+) -> ")
_PLAN_METRIC_RE = re.compile(r"SQLPlanMetric\((.*?),(\d+),(\w+)\)")


class StatusStore:
    """Per-plan-node metrics of the SQL executions run since ``mark()``.

    Each Scala collection is fetched as one ``toString`` and parsed here:
    walking it element by element costs a py4j round trip per metric."""

    def __init__(self, spark):
        self.store = spark._jsparkSession.sharedState().statusStore()

    def _ids_after(self, mark: int, end: int | None = None) -> list[int]:
        """Ids of the executions with ``mark < id <= end``, oldest first
        (ids grow monotonically, so the list is walked from its tail)."""
        execs = self.store.executionsList()
        ids = []
        for i in range(execs.size() - 1, -1, -1):
            eid = execs.apply(i).executionId()
            if eid <= mark:
                break
            if end is None or eid <= end:
                ids.append(eid)
        return ids[::-1]

    def mark(self) -> int:
        execs = self.store.executionsList()
        return execs.apply(execs.size() - 1).executionId() if execs.size() else -1

    def since(self, mark: int) -> dict:
        """Sum of node metrics over executions after ``mark``, keyed by
        (node name, metric name), plus the job count."""
        out: dict = {"jobs": self.jobs_since(mark)}
        for eid in self._ids_after(mark):
            parts = _ACC_RE.split(self.store.executionMetrics(eid).toString()[:-1])
            vals = {int(parts[i]): parts[i + 1] for i in range(1, len(parts) - 1, 2)}
            nodes = self.store.planGraph(eid).allNodes()
            for n in range(nodes.size()):
                node = nodes.apply(n)
                name = node.name().strip()
                for metric, acc, _ in _PLAN_METRIC_RE.findall(node.metrics().toString()):
                    if int(acc) in vals:
                        key = (name, metric)
                        out[key] = out.get(key, 0.0) + _metric_value(vals[int(acc)])
        return out

    def jobs_since(self, mark: int) -> int:
        """Spark jobs of the executions after ``mark``."""
        return sum(self.store.execution(eid).get().jobs().size() for eid in self._ids_after(mark))

    def exec_walls(self, mark: int, end: int) -> list[float]:
        """Wall of each execution with ``mark < id <= end``, in order."""
        out = []
        for eid in self._ids_after(mark, end):
            ex = self.store.execution(eid).get()
            if ex.completionTime().isDefined():
                out.append((ex.completionTime().get().getTime() - ex.submissionTime()) / 1e3)
        return out


def _total(sql: dict, metric: str, node: str | None = None) -> float:
    return sum(v for k, v in sql.items()
               if isinstance(k, tuple) and k[1] == metric and node in (None, k[0]))


def engine_metrics(sql: dict) -> dict:
    return {
        "spark.jobs": sql.get("jobs", 0),
        "spark.shuffle_bytes_written": _total(sql, "shuffle bytes written"),
        "spark.spill_bytes": _total(sql, "spill size"),
        "spark.peak_execution_memory_mb": _total(sql, "peak memory") / 1024**2,
    }


def arrow_metrics(sql: dict) -> dict:
    return {
        "to_py": _total(sql, "data sent to Python workers", "ArrowEvalPython"),
        "from_py": _total(sql, "data returned from Python workers", "ArrowEvalPython"),
        "run_s": _total(sql, "time to run Python workers", "ArrowEvalPython"),
    }


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------


class Tracer:
    """Spans (name, start, end, parent) kept in memory, written at the end.
    A disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counts: list[dict] = []  # status-store numbers per traced run
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)
