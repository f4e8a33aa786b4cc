"""Shared machinery of the benchmark workloads: the run's directories and
environment, the session, the process-tree memory sampler, the CPU
calibration probe, latency statistics, span recording and Spark's own
per-job-group counters.

Nothing here runs at import; ``run.py`` drives it.
"""

from __future__ import annotations

import json
import os
import statistics
import tempfile
import threading
import time
from collections.abc import Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field

_PAGE = os.sysconf("SC_PAGE_SIZE")


@dataclass
class Run:
    """One benchmark process: its checkout, working directory and clock."""

    root: str
    workload: str
    seed: int
    seconds: float
    trace: bool
    sf: float
    t_start: float
    build_dir: str = ""
    work_dir: str = ""
    build_s: float = 0.0
    failures: list[str] = field(default_factory=list)
    attempted: int = 0

    def __post_init__(self) -> None:
        self.build_dir = os.path.join(self.root, ".bench_build", "perfbench")
        self.work_dir = os.path.join(
            self.build_dir, "runs", f"{self.workload}-{os.getpid()}"
        )

    def fail(self, what: str) -> None:
        self.failures.append(what)

    def setup_elapsed(self) -> float:
        """Process start to now, less the one-off checkout build."""
        return time.perf_counter() - self.t_start - self.build_s


def prepare_environment(run: Run, cpus: int) -> None:
    """Point every temporary location of Spark, the JVM and Python workers
    inside the run's own directory, and size the session to the host."""
    tmp = os.path.join(run.work_dir, "tmp")
    local = os.path.join(run.work_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = "4g"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # -UsePerfData: the JVM would otherwise keep a counters file in /tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" pyspark-shell'
    )
    paths = [run.root] + [p for p in os.environ.get("PYTHONPATH", "").split(":") if p]
    os.environ["PYTHONPATH"] = ":".join(paths)


def start_session(run: Run):
    """The program's own session factory, timed as ``session.start_s``."""
    from energy_data_pipeline_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{run.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python worker
    daemon) to exit."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while _descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.2)


# --- process-tree memory ---------------------------------------------------


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii", errors="replace") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        kids = children.get(todo.pop(), [])
        out.extend(kids)
        todo.extend(kids)
    return out


def _tree_rss_bytes(pid: int) -> int:
    total = 0
    for p in [pid, *_descendants(pid)]:
        try:
            with open(f"/proc/{p}/statm", encoding="ascii") as f:
                total += int(f.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            continue
    return total


class RssSampler:
    """Peak resident memory of this process plus every descendant (the
    driver JVM and the Python workers), sampled on a thread while open."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(pid))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


def retained_mb(spark) -> float:
    """Memory still held once garbage is collected: the driver JVM's live
    heap after a full GC plus this Python process's resident set."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage().getUsed()
    with open("/proc/self/statm", encoding="ascii") as f:
        rss = int(f.read().split()[1]) * _PAGE
    return (heap + rss) / 2**20


# --- warm-up and noise record ----------------------------------------------


def scan_tables(spark, snap: str, tables=None) -> dict[str, float]:
    """Full ``load_table`` scan of each table (all by default): footers,
    codegen and file-cache warm-up; returns seconds per table
    (``sources.scan_s``)."""
    from energy_data_pipeline_spark.sources.tables import TABLE_NAMES, load_table

    out = {}
    for name in tables or TABLE_NAMES:
        t0 = time.perf_counter()
        load_table(spark, snap, name).write.format("noop").mode("overwrite").save()
        out[name] = time.perf_counter() - t0
    return out


def calibration(spark, cpus: int) -> float:
    """``bench.py``'s fixed CPU probe: 2M md5+crc32 rows on every core,
    median of three, in seconds."""
    from pyspark.sql import functions as F

    runs = []
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(0, 2_000_000, 1, cpus).select(
            F.sum(F.crc32(F.md5(F.col("id").cast("string"))))
        ).collect()
        runs.append(time.perf_counter() - t0)
    return statistics.median(runs)


# --- statistics ------------------------------------------------------------


def latency_summary(samples: list[float]) -> dict:
    """Median, and the tail at the highest percentile that still has at
    least ten samples beyond it; the maximum when that percentile would
    not lie above the median (fewer than 21 samples)."""
    xs = sorted(samples)
    n = len(xs)
    idx = n - 11 if n >= 21 else n - 1
    return {
        "n": n,
        "p50": statistics.median(xs),
        "tail": xs[idx],
        "tail_percentile": round(100.0 * (idx + 1) / n, 1),
        "tail_samples_beyond": n - 1 - idx,
    }


def planned_units(seconds: float, first_unit_s: float, minimum: int) -> int:
    """How many whole passes (or ticks) fill ``seconds``, judged from the
    first one, so every run measures the same number of whole units."""
    return max(minimum, round(seconds / max(first_unit_s, 1e-6)))


# --- tracing ---------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent, op) plus Spark counters
    read per job group. A disabled tracer records nothing and sets no job
    group, so untraced ops run exactly as a user's would."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()
        self._store = None
        if enabled:
            self._store = spark.sparkContext._jsc.sc().statusStore()
            # fail loudly now rather than report empty counters later
            self._store.jobsList(None)

    @contextmanager
    def span(self, name: str, op: str | None = None, group: str | None = None) -> Iterator[dict]:
        rec = {"name": name, "op": op, "start": 0.0, "end": 0.0, "group": group}
        if not self.enabled:
            yield rec
            return
        sc = self.spark.sparkContext
        rec["parent"] = self._stack[-1] if self._stack else None
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        if group is not None:
            sc.setJobGroup(group, name)
        rec["start"] = time.perf_counter() - self._t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            if group is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the time its children cover."""
        child = [0.0] * len(self.spans)
        for rec in self.spans:
            if rec["parent"] is not None:
                child[rec["parent"]] += rec["end"] - rec["start"]
        out: dict[str, float] = {}
        for i, rec in enumerate(self.spans):
            out[rec["name"]] = out.get(rec["name"], 0.0) + rec["end"] - rec["start"] - child[i]
        return out

    def group_counts(self, group: str) -> dict:
        """Jobs, stages, tasks, executor run time and shuffle/spill bytes of
        every job run under ``group``, from Spark's status store."""
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        out = {
            "jobs": 0,
            "stages": 0,
            "skipped_stages": 0,
            "tasks": 0,
            "task_s": 0.0,
            "shuffle_read_bytes": 0,
            "shuffle_write_bytes": 0,
            "spill_bytes": 0,
        }
        seen: set[int] = set()
        for jid in sc.statusTracker().getJobIdsForGroup(group):
            out["jobs"] += 1
            ids = self._store.job(jid).stageIds()
            for i in range(ids.size()):
                sid = ids.apply(i)
                if sid in seen:
                    continue
                seen.add(sid)
                st = self._store.lastStageAttempt(sid)
                if st.status().toString() == "SKIPPED":
                    out["skipped_stages"] += 1
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                out["task_s"] += st.executorRunTime() / 1000.0
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as f:
            json.dump(self.spans, f)


def mean(values: list[float]) -> float:
    return sum(values) / len(values) if values else 0.0
