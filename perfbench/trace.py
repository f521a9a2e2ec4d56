"""Measurement taken from outside the engine.

* ``Tracer`` records spans (name, start, end, parent, run id) around
  calls into the library, keeps them in memory and writes them once at
  exit. Spans always time their body (the benchmark reads latencies from
  them); only a traced run records them and labels Spark jobs.
* ``ProcTree`` reads CPU time of the benchmark's process tree (Spark
  JVM, Python workers, shard workers) and peak resident memory of its
  Python processes from ``/proc``.
* ``read_event_log`` / ``attribute_stages`` read per-stage metrics back
  from Spark's own event log and assign each job to the span that
  submitted it.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float  # epoch seconds, comparable with Spark's event times
    end: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Span recorder. ``span(name, jobs=True)`` also labels the Spark
    jobs its body submits (``setJobDescription``), which costs a py4j
    round trip, so spans around pure-Python serving calls leave it off."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = None
        self._next_id = 0

    def attach(self, spark_context) -> None:
        self._sc = spark_context

    def _describe(self, sp: Span | None) -> None:
        if self._sc is not None:
            self._sc.setJobDescription(None if sp is None else f"{sp.name}#{sp.id}")

    @contextmanager
    def span(self, name: str, jobs: bool = False):
        parent = self._stack[-1].id if self._stack else None
        sp = Span(self._next_id, name, parent, time.time())
        self._next_id += 1
        label = self.enabled and jobs
        if self.enabled:
            self.spans.append(sp)
            self._stack.append(sp)
            if label:
                self._describe(sp)
        t0 = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = sp.start + (time.perf_counter() - t0)
            if self.enabled:
                self._stack.pop()
                if label:
                    self._describe(self._stack[-1] if self._stack else None)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for sp in self.spans:
                fh.write(
                    json.dumps(
                        {
                            "run_id": self.run_id,
                            "id": sp.id,
                            "name": sp.name,
                            "parent": sp.parent,
                            "start": sp.start,
                            "end": sp.end,
                        }
                    )
                    + "\n"
                )

    def self_seconds(self) -> dict[int, float]:
        """Span id → duration minus the time its children cover. The
        benchmark is one closed-loop client, so children of one span
        never overlap and their durations add."""
        out = {sp.id: sp.seconds for sp in self.spans}
        for sp in self.spans:
            if sp.parent is not None:
                out[sp.parent] -= sp.seconds
        return out


# ------------------------------------------------------------ /proc

_CLK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            s = fh.read()
    except OSError:
        return None
    return s[s.rfind(")") + 2 :].split()


class ProcTree:
    """The process tree rooted at this process. ``cpu_seconds`` sums
    user+system time (own and reaped children's) over the descendants;
    ``sample`` adds up the peak RSS (VmHWM) of this process and of each
    live Python descendant (Spark's Python workers, shard workers) and
    keeps the largest total seen. The JVM is left out: its resident size
    follows the heap size the session configures and the collector's
    heuristics, not the engine's data. Sampling happens at phase
    boundaries only: a sampler thread would take the GIL in the middle
    of timed calls."""

    def __init__(self):
        self.root = os.getpid()
        self.peak_rss = 0

    def descendants(self) -> list[int]:
        kids: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                f = _stat_fields(int(d))
                if f is not None:
                    kids.setdefault(int(f[1]), []).append(int(d))
        out, todo = [], [self.root]
        while todo:
            for c in kids.get(todo.pop(), ()):
                out.append(c)
                todo.append(c)
        return out

    def cpu_seconds(self) -> float:
        total = 0
        for pid in self.descendants():
            f = _stat_fields(pid)
            if f is not None:
                total += sum(int(x) for x in f[11:15])
        return total / _CLK

    def sample(self) -> None:
        total = 0
        for pid in [self.root, *self.descendants()]:
            try:
                with open(f"/proc/{pid}/status") as fh:
                    status = dict(line.split(":", 1) for line in fh if ":" in line)
            except OSError:
                continue
            if pid == self.root or status["Name"].strip().startswith("python"):
                total += int(status.get("VmHWM", "0 kB").split()[0]) * 1024
        self.peak_rss = max(self.peak_rss, total)


def _alive(pid: int) -> bool:
    f = _stat_fields(pid)
    return f is not None and f[0] != "Z"


def wait_gone(pids: list[int], timeout: float) -> list[int]:
    """Wait until none of ``pids`` is alive; return the ones still alive."""
    deadline = time.monotonic() + timeout
    alive = [p for p in pids if _alive(p)]
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if _alive(p)]
    return alive


# ------------------------------------------------------------ event log

# stage metric → (accumulator name, scale to the reported unit)
STAGE_METRICS = {
    "cpu_s": ("internal.metrics.executorCpuTime", 1e-9),
    "gc_s": ("internal.metrics.jvmGCTime", 1e-3),
    "spill_bytes": ("internal.metrics.diskBytesSpilled", 1),
    "spill_mem_bytes": ("internal.metrics.memoryBytesSpilled", 1),
    "shuffle_write_bytes": ("internal.metrics.shuffle.write.bytesWritten", 1),
    "py_bytes_in": ("data sent to Python workers", 1),
    "py_bytes_out": ("data returned from Python workers", 1),
    "py_run_s": ("time to run Python workers", 1e-3),
}
_BY_ACC = {acc: (key, scale) for key, (acc, scale) in STAGE_METRICS.items()}


@dataclass
class Job:
    id: int
    submitted: float  # epoch seconds
    description: str | None
    stages: list[int] = field(default_factory=list)


def read_event_log(log_dir: str) -> tuple[list[Job], dict[int, dict[str, float]]]:
    """Jobs and completed-stage metrics from every (uncompressed) event
    log file under ``log_dir``. Skipped stages never complete, so a
    reused shuffle is counted once, by the job that computed it."""
    jobs: list[Job] = []
    stages: dict[int, dict[str, float]] = {}
    for path in sorted(glob.glob(f"{log_dir}/**/*", recursive=True)):
        if not os.path.isfile(path) or os.path.basename(path).startswith("appstatus"):
            continue
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs.append(
                        Job(
                            ev["Job ID"],
                            ev["Submission Time"] / 1000.0,
                            (ev.get("Properties") or {}).get("spark.job.description"),
                            list(ev["Stage IDs"]),
                        )
                    )
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    m = dict.fromkeys(STAGE_METRICS, 0.0)
                    for acc in info.get("Accumulables", []):
                        hit = _BY_ACC.get(acc.get("Name"))
                        if hit is not None:
                            m[hit[0]] += float(acc.get("Value") or 0) * hit[1]
                    stages[info["Stage ID"]] = m
    return jobs, stages


def attribute_stages(
    tracer: Tracer, jobs: list[Job], stages: dict[int, dict[str, float]]
) -> dict[int, dict[str, float]]:
    """Span id → summed stage metrics plus ``jobs`` (job count).

    A job labelled ``name#id`` belongs to span ``id``. A job without a
    label (submitted from a library-owned thread pool, which does not
    inherit the label) belongs to the innermost span open at its
    submission time."""
    by_id = {sp.id: sp for sp in tracer.spans}
    out: dict[int, dict[str, float]] = {}
    owner_of_stage: dict[int, int] = {}
    for job in sorted(jobs, key=lambda j: j.id):
        sid = None
        if job.description and "#" in job.description:
            try:
                sid = int(job.description.rsplit("#", 1)[1])
            except ValueError:
                sid = None
        if sid not in by_id:
            inner = [
                sp for sp in tracer.spans if sp.start <= job.submitted <= sp.end
            ]
            sid = max(inner, key=lambda sp: sp.start).id if inner else None
        if sid is None:
            continue
        acc = out.setdefault(sid, dict.fromkeys(["jobs", *STAGE_METRICS], 0.0))
        acc["jobs"] += 1
        for st in job.stages:
            if st in stages and st not in owner_of_stage:
                owner_of_stage[st] = sid
                for k, v in stages[st].items():
                    acc[k] += v
    return out
