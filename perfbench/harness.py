"""Benchmark plumbing shared by the workloads: the Spark session's
lifecycle, timing statistics, memory and disk probes, the span tracer
used by traced runs, and the Spark event-log summary."""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import math
import os
import statistics
import subprocess
import sys
import tempfile
import threading
import time
from collections import defaultdict
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field

import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# statistics
# --------------------------------------------------------------------------


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    xs = sorted(values)
    if not xs:
        return float("nan")
    k = (len(xs) - 1) * q / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_percentile(n: int) -> int:
    """Highest of p50/p75/p90/p95/p99 that leaves at least ten samples
    beyond it (0 when even the median does not)."""
    best = 0
    for q in (50, 75, 90, 95, 99):
        if n * (100 - q) / 100.0 >= 10:
            best = q
    return best


def timing_summary(name: str, samples_ms: list[float]) -> dict:
    """``<name>_p50_ms``, the supported tail percentile and the sample
    count, each as (value, unit)."""
    out = {f"{name}_p50_ms": (statistics.median(samples_ms) if samples_ms else float("nan"), "ms"),
           f"{name}_n": (len(samples_ms), "count")}
    q = tail_percentile(len(samples_ms))
    if q > 50:
        out[f"{name}_p{q}_ms"] = (percentile(samples_ms, q), "ms")
    return out


# --------------------------------------------------------------------------
# bookkeeping for one run
# --------------------------------------------------------------------------


@dataclass
class Outcome:
    """Operations attempted and failed; a failed output check is a
    failed operation."""

    attempted: int = 0
    failed: int = 0

    def op(self, ok: bool = True, what: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: FAILED: {what}", file=sys.stderr, flush=True)

    @contextlib.contextmanager
    def guarded(self, what: str) -> Iterator[None]:
        """Count one operation; an exception inside marks it failed and
        is re-raised, because later operations depend on this one."""
        try:
            yield
        except Exception as e:
            self.op(False, f"{what}: {type(e).__name__}: {e}")
            raise
        self.op(True)


@dataclass
class Bench:
    """One run of one workload: its session, inputs, clocks and tallies."""

    seed: int
    seconds: float
    spark: object
    root: str
    tracer: Tracer | None = None
    outcome: Outcome = field(default_factory=Outcome)
    setup_parts: dict[str, float] = field(default_factory=dict)
    window_ms: tuple[float, float] = (0.0, 0.0)
    cpu_s: float = 0.0
    layer: dict[str, float] = field(default_factory=dict)

    def path(self, *parts: str) -> str:
        return os.path.join(self.root, *parts)

    def stage(self, make: Callable[[int], object], reps: int = 3) -> object:
        """Input generation/staging, run ``reps`` times into fresh
        output; its median counts toward set-up time. Returns the last
        result."""
        times, result = [], None
        for i in range(reps):
            t0 = time.perf_counter()
            result = make(i)
            times.append(time.perf_counter() - t0)
        self.setup_parts["stage_s"] = statistics.median(times)
        return result

    def warm(self, fn: Callable[[], object]) -> None:
        """The untimed warm pass (counted in set-up time)."""
        t0 = time.perf_counter()
        fn()
        self.setup_parts["warm_s"] = time.perf_counter() - t0

    @contextlib.contextmanager
    def measuring(self) -> Iterator[None]:
        """The measured phase; spans are recorded only inside it."""
        self.window_ms = (time.time() * 1e3, 0.0)
        cpu0 = cpu_seconds()
        if self.tracer is not None:
            self.tracer.active = True
        try:
            yield
        finally:
            if self.tracer is not None:
                self.tracer.active = False
            self.window_ms = (self.window_ms[0], time.time() * 1e3)
            self.cpu_s = cpu_seconds() - cpu0

    def deadline(self) -> float:
        return time.perf_counter() + self.seconds

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def set_op(self, op: str) -> None:
        if self.tracer is not None:
            self.tracer.op = op


def stream_progress(query, timeout_s: int = 90) -> list[dict]:
    """Wait for an availableNow streaming query to finish; return the
    progress of its micro-batches that read input."""
    if not query.awaitTermination(timeout_s):
        query.stop()
        raise TimeoutError(f"streaming query still running after {timeout_s} s")
    if query.exception() is not None:
        raise RuntimeError(str(query.exception()))
    return [p for p in query.recentProgress if p.get("numInputRows", 0) > 0]


def progress_p50(progress: list[dict], key: str) -> float:
    vals = [p["durationMs"].get(key, 0) for p in progress]
    return statistics.median(vals) if vals else 0.0


# --------------------------------------------------------------------------
# process and disk probes
# --------------------------------------------------------------------------


def _proc_tree(root: int) -> list[int]:
    children: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children[ppid].append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def descendants() -> list[int]:
    """Live processes started by this one (directly or not)."""
    return [p for p in _proc_tree(os.getpid()) if p != os.getpid()]


def cpu_seconds() -> float:
    """User + system CPU of this process, the JVM and the Python workers."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in _proc_tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += int(fields[11]) + int(fields[12])  # utime, stime
    return total / tick


def peak_rss_mib() -> float:
    """Sum of VmHWM over this process, its JVM and the Python workers."""
    total_kib = 0
    for pid in _proc_tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kib += int(line.split()[1])
        except OSError:
            continue
    return total_kib / 1024.0


def host_calib_ms(reps: int = 3) -> float:
    """Median time of a fixed single-threaded CPU loop. It does not touch
    the program, so a shift in it between runs comes from the host, not
    the code under test."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        acc = 0
        for i in range(1_000_000):
            acc += i * i % 7
        times.append((time.perf_counter() - t0) * 1e3)
    return statistics.median(times)


def data_files(path: str, suffix: str = ".parquet") -> list[tuple[str, int]]:
    """(path, bytes) of every data file under ``path``, skipping the
    ``_``/``.``-prefixed entries Spark readers skip."""
    out = []
    for dirpath, dirnames, filenames in os.walk(path):
        dirnames[:] = [d for d in dirnames if not d.startswith(("_", "."))]
        for f in filenames:
            if f.endswith(suffix) and not f.startswith(("_", ".")):
                p = os.path.join(dirpath, f)
                out.append((p, os.path.getsize(p)))
    return out


def parquet_rows(path: str) -> int:
    """Row count of a parquet dataset from its footers alone."""
    return sum(pq.read_metadata(p).num_rows for p, _ in data_files(path))


# --------------------------------------------------------------------------
# Spark session lifecycle
# --------------------------------------------------------------------------


DRIVER_MEM = "2g"


def start_session(repo_root: str, tmp_root: str, extra_conf: dict | None = None):
    """Start the program's session (``session.get_spark``) with every
    scratch location inside ``tmp_root``. The repo root goes on
    PYTHONPATH before the JVM starts, so Python workers can import the
    package whatever the working directory."""
    cpus = str(len(os.sched_getaffinity(0)))
    local = os.path.join(tmp_root, "spark-local")
    jtmp = os.path.join(tmp_root, "jvm-tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(jtmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    # a fixed, modest driver heap, so runs do not depend on host memory
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = jtmp
    tempfile.tempdir = jtmp
    # the launcher JVM that spark-submit runs first: no /tmp/hsperfdata
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={jtmp} -XX:-UsePerfData"
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = repo_root + (os.pathsep + path if path else "")
    from target_hdfs_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(tmp_root, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={jtmp} -XX:-UsePerfData",
        **(extra_conf or {}),
    }
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, int(cpus)


def stop_session(spark) -> None:
    """Stop Spark, then the JVM, and wait for every child to end."""
    from pyspark import SparkContext

    with contextlib.suppress(Exception):
        spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        with contextlib.suppress(Exception):
            gateway.shutdown()
    if proc is not None:
        with contextlib.suppress(Exception):
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.monotonic() + 20
    while descendants() and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in descendants():
        with contextlib.suppress(OSError):
            os.kill(pid, 9)
    with contextlib.suppress(ChildProcessError):
        while os.waitpid(-1, os.WNOHANG)[0]:
            pass


# --------------------------------------------------------------------------
# tracing
# --------------------------------------------------------------------------

OVERHEAD = "_trace"  # spans of the tracer's own probes


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None
    thread: str


class Tracer:
    """In-memory spans around the calls into each layer.

    ``patch`` replaces a function in every loaded ``target_hdfs_spark``
    module that holds it, so a call is wrapped where its caller
    imported it (``from ... import write_stream`` binds a module-local
    name that patching the defining module alone would miss).
    ``probe`` runs bookkeeping after a call inside an ``_trace`` span,
    which is excluded from every layer's self time."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.op: str | None = None
        self.active = False
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str) -> Iterator[None]:
        if not self.active:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(Span(sid, name, start, end, parent, self.op,
                                       threading.current_thread().name))

    def add(self, name: str, value: float = 1.0) -> None:
        with self._lock:
            self.counts[name] += value

    def wrapper(self, fn: Callable, name: str,
                before: Callable | None = None,
                after: Callable | None = None) -> Callable:
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            ctx = None
            if before is not None:
                with self.span(OVERHEAD):
                    ctx = before(*args, **kwargs)
            with self.span(name):
                result = fn(*args, **kwargs)
            if after is not None:
                with self.span(OVERHEAD):
                    after(ctx, result, *args, **kwargs)
            return result

        return traced

    def patch(self, original: Callable, name: str, **hooks) -> None:
        traced = self.wrapper(original, name, **hooks)
        for mod_name, mod in list(sys.modules.items()):
            if not mod_name.startswith("target_hdfs_spark") or mod is None:
                continue
            for attr, value in list(vars(mod).items()):
                if value is original:
                    setattr(mod, attr, traced)

    # -- reports -----------------------------------------------------------

    def self_times(self) -> dict[str, float]:
        """Seconds per span name: duration minus the union of the
        intervals its children cover."""
        kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                kids[s.parent].append((s.start, s.end))
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            covered, cur_s, cur_e = 0.0, None, None
            for a, b in sorted(kids.get(s.id, ())):
                a, b = max(a, s.start), min(b, s.end)
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[s.name] += (s.end - s.start) - covered
        return dict(out)

    def busy(self, name: str) -> float:
        return sum(s.end - s.start for s in self.spans if s.name == name)

    def durations_ms(self, name: str) -> list[float]:
        return [(s.end - s.start) * 1e3 for s in self.spans if s.name == name]

    def calls(self, name: str) -> int:
        return sum(1 for s in self.spans if s.name == name)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        t0 = min((s.start for s in self.spans), default=0.0)
        with open(path, "w") as fh:
            json.dump({
                "spans": [
                    {"id": s.id, "name": s.name, "start_s": s.start - t0,
                     "end_s": s.end - t0, "parent": s.parent, "op": s.op,
                     "thread": s.thread}
                    for s in self.spans
                ],
                "counts": dict(self.counts),
            }, fh)


# --------------------------------------------------------------------------
# Spark event log (traced runs only)
# --------------------------------------------------------------------------


def event_log_summary(log_dir: str, t0_ms: float, t1_ms: float, cores: int) -> dict:
    """Engine counters for jobs, stages and tasks that finished inside
    the measured window [t0_ms, t1_ms] (epoch milliseconds)."""
    agg = defaultdict(float)
    files = [os.path.join(d, f) for d, _, fs in os.walk(log_dir) for f in sorted(fs)
             if not f.startswith(("appstatus", "."))]
    for name in files:
        with open(name) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    if t0_ms <= ev.get("Submission Time", 0) <= t1_ms:
                        agg["jobs"] += 1
                elif kind == "SparkListenerStageCompleted":
                    if t0_ms <= ev["Stage Info"].get("Completion Time", 0) <= t1_ms:
                        agg["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    if not t0_ms <= ev["Task Info"].get("Finish Time", 0) <= t1_ms:
                        continue
                    m = ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    agg["tasks"] += 1
                    agg["run_ms"] += m.get("Executor Run Time", 0)
                    agg["cpu_ns"] += m.get("Executor CPU Time", 0)
                    agg["gc_ms"] += m.get("JVM GC Time", 0)
                    agg["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    agg["sw"] += sw.get("Shuffle Bytes Written", 0)
                    agg["sr"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    wall_s = max((t1_ms - t0_ms) / 1e3, 1e-9)
    return {
        "spark.jobs": agg["jobs"],
        "spark.stages": agg["stages"],
        "spark.tasks": agg["tasks"],
        "spark.tasks_per_job": agg["tasks"] / agg["jobs"] if agg["jobs"] else 0.0,
        "spark.shuffle_write_bytes": agg["sw"],
        "spark.shuffle_read_bytes": agg["sr"],
        "spark.spill_bytes": agg["spill"],
        "spark.executor_run_s": agg["run_ms"] / 1e3,
        "spark.executor_cpu_s": agg["cpu_ns"] / 1e9,
        "spark.gc_s": agg["gc_ms"] / 1e3,
        "spark.core_busy_share": agg["run_ms"] / 1e3 / (wall_s * cores),
    }
