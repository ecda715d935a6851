"""Measurement plumbing shared by every workload: the Spark session the
benchmark pins, span tracing with Spark job-group counts, process-tree
RSS sampling, JVM GC time, latency statistics and process shutdown.

Nothing here imports the program under test at module level; run.py
puts the checkout on ``sys.path`` first.
"""

from __future__ import annotations

import json
import os
import signal
import statistics
import threading
import time
from contextlib import contextmanager, nullcontext
from pathlib import Path


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory_mb() -> int:
    """A quarter of physical RAM, capped at 2 GiB: the JVM heap, its
    off-heap buffers and the Python workers must share the machine."""
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                total_mb = int(line.split()[1]) // 1024
                return max(1024, min(2048, total_mb // 4))
    return 2048


def start_session(app: str, work: Path):
    """The benchmark's pinned session: ``local[nproc]``, shuffle
    partitions = nproc, driver memory sized to this machine, and every
    scratch path (Spark local dirs, JVM temp dir, warehouse) inside
    ``work``. Returns (spark, seconds taken)."""
    from kaj_query_engine_spark import get_spark

    n = nproc()
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    mem = f"{driver_memory_mb()}m"
    os.environ["SPARK_GRAFT_CPUS"] = str(n)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = mem
    t0 = time.perf_counter()
    spark = get_spark(
        app,
        master=f"local[{n}]",
        shuffle_partitions=n,
        extra_conf={
            "spark.driver.memory": mem,
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.local.dir": str(work / "spark-local"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            # no hsperfdata files in the host's /tmp
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )
    return spark, time.perf_counter() - t0


def jvm_gc_ms(spark) -> float:
    """Total collection time of every JVM garbage collector so far."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return float(
        sum(max(0, b.getCollectionTime()) for b in beans.getGarbageCollectorMXBeans())
    )


# ---- tracing ---------------------------------------------------------


class Span:
    __slots__ = ("sid", "name", "op", "parent", "start", "end", "group", "attrs")

    def __init__(self, sid, name, op, parent, start, group):
        self.sid, self.name, self.op, self.parent = sid, name, op, parent
        self.start, self.end, self.group = start, None, group
        self.attrs: dict = {}

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1e3


class Tracer:
    """In-memory spans around calls into the program's layers. A span
    opened with ``jobs=True`` runs under its own Spark job group, so
    the jobs, stages and tasks it caused are read back from the status
    tracker after the run (the tracker fills asynchronously)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.op: int | None = None
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, jobs: bool = False):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        group = f"perfbench-{sid}" if jobs else None
        sp = Span(sid, name, self.op, parent.sid if parent else None,
                  time.perf_counter(), group)
        self.spans.append(sp)
        self._stack.append(sp)
        if group:
            self.sc.setJobGroup(group, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if group:
                outer = next((s.group for s in reversed(self._stack) if s.group), None)
                if outer:
                    self.sc.setJobGroup(outer, "")
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

    def resolve_jobs(self, extra_groups: dict[int, str] | None = None) -> None:
        """Fill ``jobs``/``stages``/``tasks`` on every span that ran
        under a job group (``extra_groups`` maps span id → a group the
        program chose, e.g. a streaming query's run id)."""
        tracker = self.sc.statusTracker()
        time.sleep(0.5)  # let the listener bus drain into the store
        for sp in self.spans:
            groups = [g for g in (sp.group, (extra_groups or {}).get(sp.sid)) if g]
            if not groups:
                continue
            jobs = stages = tasks = 0
            for g in groups:
                for jid in tracker.getJobIdsForGroup(g):
                    jobs += 1
                    info = tracker.getJobInfo(jid)
                    for sid in list(info.stageIds) if info else []:
                        st = tracker.getStageInfo(sid)
                        stages += 1
                        tasks += st.numTasks if st else 0
            sp.attrs.update(jobs=jobs, stages=stages, tasks=tasks)

    def dump(self, path: Path) -> None:
        with open(path, "w") as fh:
            for sp in self.spans:
                fh.write(json.dumps({
                    "id": sp.sid, "name": sp.name, "op": sp.op,
                    "parent": sp.parent,
                    "start_ms": round((sp.start - self._t0) * 1e3, 3),
                    "end_ms": round((sp.end - self._t0) * 1e3, 3),
                    **sp.attrs,
                }) + "\n")

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name and s.end is not None]


class NoTrace:
    """The untraced path: spans cost one attribute lookup."""

    op = None

    def span(self, name: str, jobs: bool = False):
        return nullcontext()


# ---- process tree ----------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the
    JVM and the Python workers), sampled every ``interval`` seconds.
    Also remembers every descendant it saw, so shutdown can wait for
    each of them."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_kb = 0
        self.seen: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        me = os.getpid()
        tree = descendants(me)
        self.seen.update(tree)
        self.peak_kb = max(self.peak_kb, sum(_rss_kb(p) for p in [me, *tree]))

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def start(self) -> "RssSampler":
        self.sample()
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
        return self.peak_kb / 1024.0


def stop_session(spark, pids: set[int], timeout: float = 60.0) -> None:
    """Stop Spark, end the gateway JVM (it exits when its stdin
    closes) and wait until every process this run started is gone."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=timeout)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)
    pids = set(pids) | set(descendants(os.getpid()))
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        alive = [p for p in pids if os.path.exists(f"/proc/{p}") and _is_ours(p)]
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


def _is_ours(pid: int) -> bool:
    """A zombie or a recycled pid of another user's process is not a
    live process of this run."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
        if stat[stat.rindex(")") + 2] == "Z":
            return False
        return os.stat(f"/proc/{pid}").st_uid == os.getuid()
    except OSError:
        return False


# ---- statistics ------------------------------------------------------


def tail(values: list[float]) -> dict:
    """The highest percentile with at least ten samples beyond it, as
    a nearest rank; with ten samples or fewer it is the maximum."""
    xs = sorted(values)
    n = len(xs)
    rank = n - 10 if n > 10 else n
    return {"q": 100.0 * rank / n, "value": xs[rank - 1], "n": n, "beyond": n - rank}


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


PREPARE_REPEATS = 2  # set-up loads the inputs this often; setup_s takes the median


class Workload:
    """One benchmark workload. ``run.py`` calls, in order:
    ``generate`` (seeded inputs, not timed), ``prepare_repeated``
    (input load and one-time builds, timed as set-up), ``warmup``
    (timed as set-up), then ``before``/``op``/``record`` per operation
    of the closed loop, then ``verify``, ``report`` and, in a traced
    run, ``layer_metrics``."""

    latency_kind = "op"  # the operation kind latency percentiles use
    tail_kinds: tuple[str, ...] = ()  # more kinds the tail also covers
    item = "operation"  # what items_per_s counts
    cycle = 1  # the loop measures whole cycles of this many operations
    min_cycles = 1  # and at least this many cycles

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.load_times_ms: list[float] = []

    @property
    def load_ms(self) -> float:
        return median(self.load_times_ms)

    def generate(self) -> None:
        pass

    def prepare(self) -> None:
        raise NotImplementedError

    def prepare_repeated(self) -> float:
        """Run ``prepare`` several times (each from scratch, keeping
        the last) and return the median seconds."""
        times = []
        for _ in range(PREPARE_REPEATS):
            t = time.perf_counter()
            self.prepare()
            times.append(time.perf_counter() - t)
        return median(times)

    def warmup(self) -> None:
        pass

    def before(self, i: int) -> None:
        pass

    def op(self, i: int, tr):
        raise NotImplementedError

    def record(self, i: int, result) -> bool:
        return True

    def verify(self, run: dict) -> tuple[int, int]:
        return len(run["ops"]), run["failed"]

    def report(self, run: dict) -> dict:
        return {}

    def layer_metrics(self, tracer) -> dict:
        return {}


def span_median(tracer, name: str, attr: str | None = None) -> float:
    spans = tracer.named(name)
    if not spans:
        return 0.0
    return median([s.attrs.get(attr, 0) if attr else s.ms for s in spans])
