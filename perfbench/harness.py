"""Measurement plumbing for the benchmark: host-sized Spark session,
process-tree RSS sampling, and spans with Spark job/stage/task counts.

Nothing here imports the engine at module level, so the arithmetic is
unit-testable without Spark (``test_harness.py``).
"""

from __future__ import annotations

import itertools
import json
import os
import statistics
import subprocess
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


# --- span and Spark-count arithmetic ----------------------------------------

def self_time(start: float, end: float, children) -> float:
    """A span's duration minus the part of [start, end] its children
    cover. Children may overlap each other or stick out of the parent;
    only the union of their clipped intervals is subtracted."""
    clipped = sorted(
        (max(s, start), min(e, end)) for s, e in children if min(e, end) > max(s, start)
    )
    covered = 0.0
    cur_s = cur_e = None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (end - start) - covered


def spark_counts(job_stages: dict, stage_tasks: dict) -> dict:
    """Jobs, stages and tasks of one job group.

    ``job_stages``: job id -> stage ids of that job (as the status
    tracker lists them, skipped stages included). ``stage_tasks``:
    stage id -> (completed tasks, failed tasks), or None when the
    tracker has no record. A stage shared by two jobs counts once; a
    stage that ran no task (skipped: its shuffle output was reused)
    counts as no stage."""
    ran = {}
    for stages in job_stages.values():
        for sid in stages:
            info = stage_tasks.get(sid)
            if info is not None and info[0] + info[1] > 0:
                ran[sid] = info[0] + info[1]
    return {"jobs": len(job_stages), "stages": len(ran), "tasks": sum(ran.values())}


def round_seconds(rounds) -> float:
    """Seconds of one round of engine calls: each call's median over the
    rounds, summed. ``rounds`` holds one ``[(call name, seconds)]`` per
    round; a name that repeats within a round (two appends) is matched by
    its occurrence, so every round must make the same calls."""
    per_call: dict[tuple, list[float]] = {}
    for calls in rounds:
        seen: dict[str, int] = {}
        for name, secs in calls:
            k = seen.get(name, 0)
            seen[name] = k + 1
            per_call.setdefault((name, k), []).append(secs)
    if not per_call or any(len(v) != len(rounds) for v in per_call.values()):
        raise ValueError("rounds make different calls")
    return sum(statistics.median(v) for v in per_call.values())


# --- host sizing and the process clock -------------------------------------

def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def host_mem_mb() -> int:
    with open("/proc/meminfo") as fp:
        for line in fp:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory(total_mb: int) -> str:
    """A quarter of physical memory, between 1 and 4 GiB: the driver JVM
    shares the host with its Python workers and the page cache."""
    return f"{max(1, min(4, total_mb // 4096))}g"


def process_age_s() -> float:
    """Seconds since this process started, from the kernel's own record
    (boot-relative clock ticks), so interpreter start-up is counted."""
    with open("/proc/self/stat") as fp:
        fields = fp.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])  # field 22 of stat; 3 fields precede the split
    with open("/proc/uptime") as fp:
        uptime = float(fp.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


# --- resident memory of the process tree -----------------------------------

def _tree_rss_bytes(root: int, page: int) -> int:
    parents: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fp:
                ppid = int(fp.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue  # exited between listdir and open
        parents.setdefault(ppid, []).append(int(name))
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/statm") as fp:
                total += int(fp.read().split()[1]) * page
        except (OSError, ValueError, IndexError):
            pass
        todo.extend(parents.get(pid, ()))
    return total


class RssSampler:
    """Peak resident memory of this process and all its descendants
    (driver JVM, Python workers), sampled from /proc on a thread."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _sample(self) -> None:
        self.peak_bytes = max(self.peak_bytes, _tree_rss_bytes(os.getpid(), self._page))

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; returns the peak in MB."""
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()
        return self.peak_bytes / (1024 * 1024)


# --- spans -----------------------------------------------------------------

@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans around the benchmark's calls into engine layers.

    Spans are always kept (they are the benchmark's timers). With
    ``traced`` on, each span also tags the Spark jobs it starts with a
    job group of its own, and ``collect_counts`` reads the jobs, stages
    and tasks of every closed span back from the status tracker; the
    spans are written out by ``write``. Jobs belong to the innermost
    open span; a span's counts include those of its descendants.
    """

    def __init__(self, sc=None, traced: bool = False):
        self.sc = sc
        self.traced = traced
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._uncounted: list[Span] = []
        self._ids = itertools.count()  # job groups stay unique when spans are cleared

    def _group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"perfbench-{span.id}", span.name)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(next(self._ids), name, parent.id if parent else None, 0.0)
        self.spans.append(sp)
        self._stack.append(sp)
        if self.traced:
            self._group(sp)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if self.traced:
                self._group(parent)
                self._uncounted.append(sp)

    def collect_counts(self) -> None:
        """Read Spark counts for spans closed since the last call. Waits
        for the listener bus first, so finished tasks are on record;
        call it outside timed work."""
        if not self.traced or not self._uncounted:
            return
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        st = self.sc.statusTracker()
        for sp in self._uncounted:
            job_stages = {}
            for jid in st.getJobIdsForGroup(f"perfbench-{sp.id}"):
                info = st.getJobInfo(jid)
                job_stages[jid] = list(info.stageIds) if info is not None else []
            stage_tasks = {}
            for sids in job_stages.values():
                for sid in sids:
                    si = st.getStageInfo(sid)
                    stage_tasks[sid] = (
                        None if si is None else (si.numCompletedTasks, si.numFailedTasks)
                    )
            sp.counts = spark_counts(job_stages, stage_tasks)
        self._uncounted = []

    def inclusive_counts(self, sp: Span) -> dict:
        out = dict(sp.counts)
        for child in self.spans:
            if child.parent == sp.id:
                for k, v in self.inclusive_counts(child).items():
                    out[k] = out.get(k, 0) + v
        return out

    def summary(self) -> dict:
        """Per span name: the number of closed spans, the median of their
        seconds and, when traced, the median of their Spark jobs, stages
        and tasks (counts include child spans)."""
        out = {}
        for name in sorted({s.name for s in self.spans}):
            inst = [s for s in self.spans if s.name == name and s.end]
            if not inst:
                continue
            row = {"calls": len(inst), "median_s": statistics.median(s.duration for s in inst)}
            counts = [self.inclusive_counts(s) for s in inst]
            if counts[0]:
                for kind in ("jobs", "stages", "tasks"):
                    row[kind] = statistics.median(c[kind] for c in counts)
            out[name] = row
        return out

    def write(self, path: str, detail: dict) -> None:
        """Spans, the per-name summary and the workload's own figures, as
        JSON at ``path``."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        rows = [
            {
                "id": s.id,
                "name": s.name,
                "parent": s.parent,
                "start": s.start,
                "end": s.end,
                "self_s": self_time(
                    s.start, s.end, [(c.start, c.end) for c in children.get(s.id, [])]
                ),
                "spark": self.inclusive_counts(s),
            }
            for s in self.spans
        ]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fp:
            json.dump({"summary": self.summary(), "detail": detail, "spans": rows}, fp,
                      indent=1)


# --- Spark session ----------------------------------------------------------

def start_spark(work_dir: str):
    """The engine's session builder, sized from this host:
    ``local[<cpus>]`` and a driver heap well below physical memory. All
    scratch (shuffle, spills, JVM temp files) stays under ``work_dir``."""
    from sgpt_spark.session import get_spark

    local = os.path.join(work_dir, "spark-local")
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    return get_spark(
        master=f"local[{host_cpus()}]",
        app_name="perfbench",
        extra_conf={
            "spark.driver.memory": driver_memory(host_mem_mb()),
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session, then end the gateway JVM and wait for it, so no
    JVM or Python worker outlives the run."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total
