"""Benchmark plumbing shared by every workload: host sizing, the Spark
session, process-tree memory sampling, Spark's own counters and spans."""

from __future__ import annotations

import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


# ---------------------------------------------------------------------------
# host sizing


def meminfo_kb() -> dict[str, int]:
    out = {}
    with open("/proc/meminfo") as f:
        for line in f:
            key, rest = line.split(":", 1)
            out[key] = int(rest.split()[0])
    return out


def host_facts(seed: int) -> dict:
    import numpy
    import pyarrow
    import pyspark

    mem = meminfo_kb()
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": mem["MemTotal"] // 1024,
        "mem_available_mb": mem["MemAvailable"] // 1024,
        "pyspark": pyspark.__version__,
        "numpy": numpy.__version__,
        "pyarrow": pyarrow.__version__,
        "seed": seed,
    }


def driver_memory_mb() -> int:
    """2 GiB, or a quarter of the memory available now if that is less
    (but at least 1 GiB): local mode runs every task inside the driver
    JVM, and the Python workers and the benchmark's own references need
    the rest. A fixed cap keeps the heap, and so the RSS, the same from
    run to run on a host whose free memory moves."""
    avail = meminfo_kb()["MemAvailable"] // 1024
    return max(1024, min(2048, avail // 4))


def prepare_env(root: str, work: str) -> dict[str, str]:
    """Point every temp and scratch location of the driver, the JVM and
    the Python workers inside ``work``, put ``root`` on the workers'
    path, and return the extra Spark conf that goes with it."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    os.environ["TSMP_SPARK_DRIVER_MEM"] = f"{driver_memory_mb()}m"
    import tempfile

    tempfile.tempdir = tmp
    return {
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }


def start_session(cpus: int, conf: dict[str, str]):
    from tsmp_spark.session import get_spark

    return get_spark(app_name="tsmp_perfbench", cpus=cpus, extra_conf=conf)


# ---------------------------------------------------------------------------
# process-tree memory


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _is_python_worker(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            cmd = f.read()
    except OSError:
        return False
    return b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd


def process_tree() -> list[int]:
    kids = _children_map()
    tree, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(kids.get(pid, ()))
    return tree


class RssSampler:
    """Samples the RSS of this process and all its descendants (the Spark
    JVM and its Python workers) from ``/proc`` on a background thread."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.peak_tree_kb = 0  # since the last take_peak()
        self.peak_worker_kb = 0  # whole run, largest single Python worker
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> None:
        rss = {pid: _rss_kb(pid) for pid in process_tree()}
        workers = [v for pid, v in rss.items() if _is_python_worker(pid)]
        with self._lock:
            self.peak_tree_kb = max(self.peak_tree_kb, sum(rss.values()))
            self.peak_worker_kb = max([self.peak_worker_kb, *workers])

    def take_peak(self) -> int:
        """The tree's peak RSS (kB) since the previous call, and restart."""
        self.sample()
        with self._lock:
            peak, self.peak_tree_kb = self.peak_tree_kb, 0
        return peak

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self.sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()


# ---------------------------------------------------------------------------
# Spark's own counters (no UI, no REST)


def _scala_seq(seq) -> list:
    return [seq.apply(i) for i in range(seq.size())]


def _plan_children(node) -> list:
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if cls.endswith("QueryStageExec"):
        return [node.plan()]
    if cls == "ReusedExchangeExec":
        return []  # its metrics belong to the exchange it reuses
    return _scala_seq(node.children())


PLAN_METRICS = {
    # operator name prefix -> metric names summed per operator kind
    "MapInPandas": ("pythonInitTime", "pythonTotalTime", "pythonDataSent", "pythonDataReceived"),
    "FlatMapGroupsInPandas": ("pythonInitTime", "pythonTotalTime", "pythonDataSent", "pythonDataReceived"),
    "Exchange": ("shuffleBytesWritten", "shuffleWriteTime"),
    "HashAggregate": ("spillSize",),
    "ObjectHashAggregate": ("spillSize",),
    "SortAggregate": ("spillSize",),
    "Sort": ("spillSize",),
}


def plan_counters(executed_plan) -> dict[str, float]:
    """Sum the named SQL metrics of an executed (AQE-final) plan into
    ``python.*``, ``exchange.*`` and ``spill_bytes`` counters. A scan of a
    cached DataFrame at the top of the plan is followed into the plan that
    filled the cache; caches below it were filled earlier and are not."""
    out = {
        "python.init_ms": 0.0, "python.total_ms": 0.0,
        "python.bytes_sent": 0.0, "python.bytes_received": 0.0,
        "exchange.bytes_written": 0.0, "exchange.write_ms": 0.0,
        "spill_bytes": 0.0,
    }
    names = {
        "pythonInitTime": "python.init_ms", "pythonTotalTime": "python.total_ms",
        "pythonDataSent": "python.bytes_sent", "pythonDataReceived": "python.bytes_received",
        "shuffleBytesWritten": "exchange.bytes_written", "spillSize": "spill_bytes",
    }
    todo = [(executed_plan, True)]
    while todo:
        node, top = todo.pop()
        if top and node.getClass().getSimpleName() == "InMemoryTableScanExec":
            todo.append((node.relation().cachedPlan(), False))
        todo.extend((child, top) for child in _plan_children(node))
        kind = node.nodeName().split(" ")[0]
        metrics = node.metrics()
        for key in PLAN_METRICS.get(kind, ()):
            if not metrics.contains(key):
                continue
            value = float(metrics.apply(key).value())
            if key == "shuffleWriteTime":
                out["exchange.write_ms"] += value / 1e6  # nanoseconds
            else:
                out[names[key]] += value
    return out


def force(df) -> dict[str, float]:
    """Run ``df`` to completion on its own — every column is hashed, so no
    operator is pruned away — and return its plan counters."""
    from pyspark.sql import functions as F

    probe = df.select(F.xxhash64(*df.columns).alias("h")).agg(F.bit_xor("h"))
    probe.collect()
    return plan_counters(probe._jdf.queryExecution().executedPlan())


def task_skew(spark, job_group: str) -> tuple[float, float]:
    """Max and median task run time (ms) of the longest stage run under
    ``job_group``, read from the in-JVM status store."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    gateway = sc._gateway
    quantiles = gateway.new_array(gateway.jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    best = (0.0, 0.0)
    for job_id in tracker.getJobIdsForGroup(job_group):
        job = tracker.getJobInfo(job_id)
        for stage_id in job.stageIds if job else ():
            info = tracker.getStageInfo(stage_id)
            if info is None:
                continue
            summary = store.taskSummary(stage_id, info.currentAttemptId, quantiles)
            if summary.isEmpty():
                continue
            run = summary.get().executorRunTime()
            med, mx = float(run.apply(0)), float(run.apply(1))
            if mx > best[0]:
                best = (mx, med)
    return best


def persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


# ---------------------------------------------------------------------------
# spans


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    iteration: int
    counters: dict = field(default_factory=dict)


class Tracer:
    """In-memory spans around the benchmark's calls into each layer."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.iteration = -1

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.perf_counter(), 0.0, parent, self.iteration)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[int, float]:
        child = [0.0] * len(self.spans)
        for sp in self.spans:
            if sp.parent is not None:
                child[sp.parent] += sp.end - sp.start
        return {i: sp.end - sp.start - child[i] for i, sp in enumerate(self.spans)}

    def per_iteration(self, name: str, key: str | None = None) -> list[float]:
        """Per-iteration totals of a span's self time, or of one of its
        counters when ``key`` is given (the maximum for ``task_*``)."""
        selfs = self.self_times()
        fold = max if key and key.startswith("task_") else (lambda a, b: a + b)
        acc: dict[int, float] = {}
        for i, sp in enumerate(self.spans):
            if sp.name == name and sp.iteration >= 0:
                value = selfs[i] if key is None else sp.counters.get(key, 0.0)
                acc[sp.iteration] = fold(acc.get(sp.iteration, 0.0), value)
        return [acc.get(it, 0.0) for it in sorted({s.iteration for s in self.spans if s.iteration >= 0})]

    def median(self, name: str, key: str | None = None) -> float:
        values = self.per_iteration(name, key)
        return statistics.median(values) if values else 0.0

    def dump(self) -> list[dict]:
        return [
            {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent,
             "iteration": s.iteration, "counters": s.counters}
            for s in self.spans
        ]
