"""Shared machinery for the perfbench workloads: the isolated run
directory, the pinned Spark session, op timing, the process-tree RSS
sampler and the traced run's spans and Spark job statistics.

Nothing here touches the engine's code paths: spans wrap the
benchmark's own calls into the engine, and Spark's numbers come from
its status store (which stays readable with the UI disabled).
"""

from __future__ import annotations

import os
import platform
import shutil
import statistics
import subprocess
import threading
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field

_PAGE = os.sysconf("SC_PAGE_SIZE")
MIB = 1024 * 1024


# ---------------------------------------------------------------- run dir
def make_run_dir(checkout: str) -> str:
    """A fresh directory for this run's tables, checkpoints, Spark local
    dirs and temp files; ``remove_run_dir`` deletes it at exit."""
    base = os.path.join(checkout, ".perfbench_work")
    path = os.path.join(base, f"run-{os.getpid()}-{uuid.uuid4().hex[:8]}")
    for sub in ("tmp", "spark-local", "warehouse", "data"):
        os.makedirs(os.path.join(path, sub))
    return path


def remove_run_dir(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    base = os.path.dirname(path)
    try:
        os.rmdir(base)  # only when no other run is using it
    except OSError:
        pass


def isolate_environment(checkout: str, run_dir: str, nproc: int) -> None:
    """Point every temp and scratch location at ``run_dir`` and make the
    engine's own defaults follow the pinned core count. Must run before
    the JVM starts and before ``olap_project_spark.session`` is
    imported (it reads ``SPARK_GRAFT_CPUS`` at import)."""
    import tempfile

    tmp = os.path.join(run_dir, "tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    # The spark-submit launcher JVM would otherwise write hsperfdata to /tmp.
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ.pop("SPARK_MASTER_SET", None)
    # Python workers import the engine from the checkout too.
    paths = [checkout] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)


def environment_record(nproc: int) -> dict:
    import pyspark

    try:
        java = subprocess.run(
            ["java", "-XX:-UsePerfData", "-version"], capture_output=True, text=True, timeout=30
        ).stderr.splitlines()[0]
    except (OSError, subprocess.SubprocessError, IndexError):
        java = "unknown"
    return {
        "nproc": nproc,
        "loadavg_1m": os.getloadavg()[0],
        "spark": pyspark.__version__,
        "java": java,
        "python": platform.python_version(),
    }


def start_session(run_dir: str, nproc: int):
    """``build_session`` pinned to ``local[nproc]`` with nproc shuffle
    partitions and the UI off, whatever the host environment says."""
    from olap_project_spark.session import build_session

    tmp = os.path.join(run_dir, "tmp")
    return build_session(
        app_name="perfbench",
        master=f"local[{nproc}]",
        shuffle_partitions=nproc,
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "1g",
            "spark.local.dir": os.path.join(run_dir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            # hsperfdata would otherwise land in /tmp whatever tmpdir says
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )


def cpu_times() -> list[int]:
    """The machine-wide CPU time counters (in clock ticks) from the
    first line of ``/proc/stat``: user, nice, system, idle, iowait, irq,
    softirq, steal, ..."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_times()`` readings: a diagnostic for a slow run on a shared host."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / max(sum(delta), 1) if len(delta) > 7 else 0.0


# ------------------------------------------------------------- statistics
def cycle_rates(start: float, cycle_ends: list[float], op_ends: list[float]) -> list[float]:
    """Ops per second of each cycle: the ops that ended within it over
    its wall time. The cycles tile the timed window from ``start``."""
    rates, lo = [], start
    for hi in cycle_ends:
        n = sum(1 for e in op_ends if lo < e <= hi)
        rates.append(n / (hi - lo))
        lo = hi
    return rates


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def tail(values: list[float]) -> tuple[float, float, int] | None:
    """(value, percentile, n) of the highest order statistic that still
    has at least ten samples above it — None when that statistic would
    not lie above the median (fewer than 21 samples)."""
    n = len(values)
    if n < 21:
        return None
    ordered = sorted(values)
    rank = n - 11  # 0-based: exactly ten samples lie above it
    return ordered[rank], 100.0 * (rank + 1) / n, n


# ---------------------------------------------------------------- op log
@dataclass
class Op:
    kind: str  # "read" or "write"
    name: str  # op class, e.g. "select" or a query name
    start: float
    end: float
    ok: bool
    error: str | None = None

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


@dataclass
class OpLog:
    ops: list[Op] = field(default_factory=list)

    def add(self, kind: str, name: str, start: float, end: float, ok: bool, error=None):
        self.ops.append(Op(kind, name, start, end, ok, error))

    def ms(self, kind: str) -> list[float]:
        return [o.ms for o in self.ops if o.kind == kind]

    @property
    def failed(self) -> int:
        return sum(1 for o in self.ops if not o.ok)


# ------------------------------------------------------------ RSS sampler
def _proc_table() -> dict[int, tuple[int, str]]:
    """pid -> (ppid, comm) for every process visible in /proc."""
    table = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # comm is parenthesised and may contain spaces
        lpar, rpar = stat.index("("), stat.rindex(")")
        ppid = int(stat[rpar + 2 :].split()[1])
        table[int(entry)] = (ppid, stat[lpar + 1 : rpar])
    return table


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


def tree_rss(root: int) -> dict[str, int]:
    """RSS of ``root``'s process tree split into the driver Python
    process (and any non-JVM helpers), the JVM, and the Python workers
    the JVM forks."""
    table = _proc_table()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _comm) in table.items():
        children.setdefault(ppid, []).append(pid)
    out = {"python": 0, "jvm": 0, "workers": 0}
    stack = [(root, "python")]
    while stack:
        pid, cls = stack.pop()
        comm = table.get(pid, (0, ""))[1]
        if comm == "java":
            cls = "jvm"
        out[cls] += _rss_bytes(pid)
        below = "workers" if cls in ("jvm", "workers") else cls
        stack.extend((c, below) for c in children.get(pid, ()))
    return out


class RssSampler:
    """Background sampler of peak process-tree RSS (total and per
    class); peaks are taken per class and for the sum separately."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_total = 0
        self.peak = {"python": 0, "jvm": 0, "workers": 0}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def sample(self) -> None:
        parts = tree_rss(os.getpid())
        self.peak_total = max(self.peak_total, sum(parts.values()))
        for k, v in parts.items():
            self.peak[k] = max(self.peak[k], v)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def __enter__(self):
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()


# ----------------------------------------------------------------- tracer
def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


@dataclass
class JobStat:
    start_ms: float
    end_ms: float
    tasks: int
    executor_run_ms: float
    shuffle_bytes: int


class Tracer:
    """Spans around the benchmark's calls into engine layers plus the
    Spark jobs each op ran, read from the status store.

    Spans and counts are kept in memory and folded into the per-layer
    numbers when the run ends. Only timed ops are traced: outside one
    (set-up, warm-up) and in a disabled tracer, nothing is recorded."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[tuple[str, float, float, int]] = []  # name, start, end, op
        self.counts: dict[str, list[float]] = {}
        self.op_jobs: dict[int, list[JobStat]] = {}
        self.op_meta: dict[int, tuple[str, float, float]] = {}  # op -> (kind, start, end)
        self.overhead_s = 0.0
        self._op = -1
        self._seen: set[int] = set()

    # spans ---------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        if self._op < 0:
            yield
            return
        t0 = time.time()
        try:
            yield
        finally:
            self.spans.append((name, t0, time.time(), self._op))

    def count(self, name: str, value) -> None:
        """Record ``value`` (or, when callable, its result) under ``name``."""
        if self._op >= 0:
            self.counts.setdefault(name, []).append(value() if callable(value) else value)

    # ops -----------------------------------------------------------
    def begin_op(self, op_id: int, group: str | None) -> None:
        """Mark the start of op ``op_id``; ``group`` (when given) becomes
        the Spark job group of the calling thread."""
        if not self.enabled:
            return
        t0 = time.time()
        self._op = op_id
        if group is not None:
            self.spark.sparkContext.setJobGroup(group, f"perfbench op {op_id}")
        self.overhead_s += time.time() - t0

    def end_op(self, op_id: int, kind: str, start: float, end: float, group: str) -> None:
        """Collect the jobs op ``op_id`` ran: every job of ``group`` not
        attributed to an earlier op and submitted after ``start``."""
        if not self.enabled:
            return
        t0 = time.time()
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        ids = [i for i in sc.statusTracker().getJobIdsForGroup(group) if i not in self._seen]
        self._seen.update(ids)
        store = jsc.statusStore()
        jobs = []
        for jid in ids:
            job = store.job(jid)
            sub, comp = job.submissionTime(), job.completionTime()
            if not (sub.isDefined() and comp.isDefined()):
                continue
            # a stream's group also holds the jobs of its warm-up ops
            if sub.get().getTime() < start * 1000.0 - 1.0:
                continue
            run_ms, shuffle = 0.0, 0
            stage_ids = job.stageIds()
            for i in range(stage_ids.size()):
                st = store.lastStageAttempt(stage_ids.apply(i))
                run_ms += st.executorRunTime()
                shuffle += st.shuffleReadBytes() + st.shuffleWriteBytes()
            jobs.append(
                JobStat(
                    float(sub.get().getTime()),
                    float(comp.get().getTime()),
                    job.numTasks() - job.numSkippedTasks(),
                    run_ms,
                    shuffle,
                )
            )
        self.op_jobs[op_id] = jobs
        self.op_meta[op_id] = (kind, start, end)
        self._op = -1
        self.overhead_s += time.time() - t0

    # folding -------------------------------------------------------
    def jobs_in(self, op_id: int, lo: float, hi: float) -> float:
        """Milliseconds of [lo, hi] covered by op ``op_id``'s jobs."""
        iv = [(j.start_ms, j.end_ms) for j in self.op_jobs.get(op_id, [])]
        return _union_ms(_clip(iv, lo * 1000.0, hi * 1000.0))

    def spark_metrics(self) -> dict[str, float]:
        out = {}
        for kind in ("read", "write"):
            ops = [o for o, m in self.op_meta.items() if m[0] == kind]
            n = len(ops)
            agg = {"jobs": 0, "tasks": 0, "in": 0.0, "out": 0.0, "run": 0.0, "shuffle": 0}
            for o in ops:
                _k, s, e = self.op_meta[o]
                jobs = self.op_jobs[o]
                inside = self.jobs_in(o, s, e)
                agg["jobs"] += len(jobs)
                agg["tasks"] += sum(j.tasks for j in jobs)
                agg["in"] += inside
                agg["out"] += (e - s) * 1000.0 - inside
                agg["run"] += sum(j.executor_run_ms for j in jobs)
                agg["shuffle"] += sum(j.shuffle_bytes for j in jobs)
            d = max(n, 1)
            out[f"spark.{kind}.jobs_per_op"] = agg["jobs"] / d
            out[f"spark.{kind}.tasks_per_op"] = agg["tasks"] / d
            out[f"spark.{kind}.in_jobs_ms"] = agg["in"] / d
            out[f"spark.{kind}.outside_jobs_ms"] = agg["out"] / d
            out[f"spark.{kind}.executor_run_ms"] = agg["run"] / d
            out[f"spark.{kind}.shuffle_bytes"] = agg["shuffle"] / d
        return out

    def span_ms(self, name: str) -> list[float]:
        return [(e - s) * 1000.0 for n, s, e, _o in self.spans if n == name]

    def span_outside_jobs_ms(self, name: str) -> list[float]:
        """Per span: its wall time minus the part its op's jobs cover."""
        return [
            (e - s) * 1000.0 - self.jobs_in(o, s, e)
            for n, s, e, o in self.spans
            if n == name
        ]

    def span_jobs(self, name: str) -> list[int]:
        """Per span: how many of its op's jobs started inside it."""
        out = []
        for n, s, e, o in self.spans:
            if n == name:
                out.append(
                    sum(
                        1
                        for j in self.op_jobs.get(o, [])
                        if s * 1000.0 <= j.start_ms <= e * 1000.0
                    )
                )
        return out


def tree_bytes(path: str) -> int:
    """Bytes of every file under ``path`` (data files and the log)."""
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _dirs, files in os.walk(path) for f in files
    )


def mean(values: list[float]) -> float:
    return sum(values) / len(values) if values else 0.0
