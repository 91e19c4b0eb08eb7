"""Measurement helpers: spans, the percentile rule, the process-tree
memory sampler and the Spark event-log reader.

Nothing here imports Spark, so the self-tests run without a JVM.
"""

from __future__ import annotations

import json
import os
import threading
import time
import uuid
from collections import defaultdict
from dataclasses import dataclass, field


# ------------------------------------------------------------ statistics


def median(xs) -> float:
    xs = sorted(xs)
    if not xs:
        raise ValueError("median of no samples")
    m = len(xs) // 2
    return xs[m] if len(xs) % 2 else (xs[m - 1] + xs[m]) / 2


def quantile(xs, q: float) -> float:
    """Linear-interpolated quantile (numpy's default rule)."""
    xs = sorted(xs)
    if not xs:
        raise ValueError("quantile of no samples")
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


PERCENTILES = (99.9, 99, 95, 90, 75, 50)


def tail_percentile(n: int) -> float | None:
    """The highest of PERCENTILES that has at least ten samples beyond it
    among ``n`` samples, or None when even the median has fewer."""
    for p in PERCENTILES:
        if n * (100 - p) / 100 >= 10 - 1e-9:
            return p
    return None


# ------------------------------------------------------------------ probes


def probe_latencies(due: dict[int, float], renders: list[tuple[float, int]]):
    """Event-to-dashboard latency per probe.

    ``due`` maps probe number -> the time it was due to be produced;
    ``renders`` is [(render end time, highest probe number it showed)]
    in render order. A probe n counts as seen by the first render that
    ends after n was due and shows a probe number >= n. Returns
    ({probe: latency_s}, [probes never seen])."""
    lat: dict[int, float] = {}
    order = sorted(due)
    i = 0
    for end, shown in renders:
        while i < len(order) and order[i] <= shown and due[order[i]] <= end:
            lat[order[i]] = end - due[order[i]]
            i += 1
    return lat, order[i:]


def e2d_summary(due: dict[int, float], renders: list[tuple[float, int]],
                t_end: float) -> dict:
    """Event-to-dashboard figures over every scheduled probe.

    A probe never seen is listed in ``unseen`` and its latency is
    censored at ``t_end``, the end of observation, so a stalled
    dashboard reads as slow rather than vanishing from the sample. The
    tail percentile is fixed by the number of probes scheduled, not the
    number seen, so two runs of the same length compare the same
    statistic. Values are NaN when fewer than 20 probes were scheduled."""
    lat, unseen = probe_latencies(due, renders)
    xs = list(lat.values()) + [t_end - due[p] for p in unseen]
    p = tail_percentile(len(due))
    out = {"probes": len(due), "unseen": unseen, "e2d_tail_pct": p,
           "e2d_p50_s": float("nan"), "e2d_tail_s": float("nan")}
    if p is not None:
        out["e2d_p50_s"] = quantile(xs, 0.5)
        out["e2d_tail_s"] = out[f"e2d_p{p:g}_s"] = quantile(xs, p / 100)
    return out


# -------------------------------------------------------------------- spans


@dataclass
class Span:
    name: str
    start: float
    end: float
    span_id: str
    parent: str | None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span store; every span of a run shares ``run_id``.
    When disabled it still times calls (the benchmark needs the times)
    but keeps no child spans."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self._n = 0
        self._lock = threading.Lock()

    def _id(self) -> str:
        with self._lock:
            self._n += 1
            return f"{self._n:x}"

    def add(self, name: str, start: float, end: float,
            parent: Span | None = None, **attrs) -> Span:
        s = Span(name, start, end, self._id(), parent.span_id if parent else None, attrs)
        if self.enabled or parent is None:
            with self._lock:
                self.spans.append(s)
        return s

    def children(self, parent: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == parent.span_id]

    def cover(self, parent: Span) -> float:
        """Share of the parent's wall time covered by its children."""
        iv = sorted(
            (max(s.start, parent.start), min(s.end, parent.end))
            for s in self.children(parent)
        )
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in iv:
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        wall = parent.end - parent.start
        return covered / wall if wall > 0 else 1.0

    def dump(self, path: str, meta: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, **meta,
                       "spans": [s.__dict__ for s in self.spans]}, f)


# -------------------------------------------------------- process memory


def child_pids(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return out


_CLK = os.sysconf("SC_CLK_TCK")
_MIN_AGE_S = 0.2


def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def _age_s(pid: int) -> float:
    with open(f"/proc/{pid}/stat") as f:
        start = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        up = float(f.read().split()[0])
    return up - start / _CLK


def tree_mem_bytes(root: int) -> int:
    """Memory of a process tree, as the sum of each process's
    proportional set size: pages shared between the forked Python
    workers count once in total, not once per worker. Processes younger
    than _MIN_AGE_S are skipped: a child caught between spawn and exec
    still maps its parent's (the JVM's) memory."""
    total, stack, seen = 0, [root], set()
    while stack:
        pid = stack.pop()
        if pid in seen:
            continue
        seen.add(pid)
        try:
            if pid == root or _age_s(pid) >= _MIN_AGE_S:
                total += _pss_bytes(pid)
        except (OSError, IndexError, ValueError):
            continue
        stack.extend(child_pids(pid))
    return total


class MemSampler:
    """Samples the memory of this process and all its descendants (the
    JVM and the Python workers it forks) and keeps the peak."""

    def __init__(self, period_s: float = 0.25):
        self.period_s = period_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_mem_bytes(os.getpid()))
            self._stop.wait(self.period_s)

    def __enter__(self) -> MemSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


# ------------------------------------------------------------ event log

_PY_BYTES = ("data sent to Python workers", "data returned from Python workers")


@dataclass
class TaskRec:
    stage: int
    launch: float  # seconds since epoch
    finish: float
    run_s: float
    cpu_s: float
    gc_s: float
    scan_bytes: int
    shuffle_write: int
    shuffle_read: int
    shuffle_wait_s: float
    spill: int
    python_bytes: int


@dataclass
class EventLog:
    tasks: list[TaskRec]
    job_group: dict[int, str]  # job id -> job group
    job_stages: dict[int, list[int]]
    cores: int


def read_event_log(path: str) -> EventLog:
    """Parse a Spark JSON event log (uncompressed) into task records and
    the job -> group / stage maps."""
    tasks: list[TaskRec] = []
    job_group: dict[int, str] = {}
    job_stages: dict[int, list[int]] = {}
    cores = 1
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                job_group[jid] = props.get("spark.jobGroup.id", "")
                job_stages[jid] = list(ev.get("Stage IDs", []))
            elif kind == "SparkListenerExecutorAdded":
                cores = int(ev.get("Executor Info", {}).get("Total Cores", cores))
            elif kind == "SparkListenerTaskEnd":
                info = ev.get("Task Info", {})
                m = ev.get("Task Metrics") or {}
                inp = m.get("Input Metrics", {})
                sr = m.get("Shuffle Read Metrics", {})
                sw = m.get("Shuffle Write Metrics", {})
                py = sum(
                    int(a.get("Update", 0) or 0)
                    for a in info.get("Accumulables", [])
                    if a.get("Name") in _PY_BYTES
                )
                tasks.append(TaskRec(
                    stage=ev.get("Stage ID", -1),
                    launch=info.get("Launch Time", 0) / 1000.0,
                    finish=info.get("Finish Time", 0) / 1000.0,
                    run_s=m.get("Executor Run Time", 0) / 1000.0,
                    cpu_s=m.get("Executor CPU Time", 0) / 1e9,
                    gc_s=m.get("JVM GC Time", 0) / 1000.0,
                    scan_bytes=int(inp.get("Bytes Read", 0)),
                    shuffle_write=int(sw.get("Shuffle Bytes Written", 0)),
                    shuffle_read=int(sr.get("Remote Bytes Read", 0))
                    + int(sr.get("Local Bytes Read", 0)),
                    shuffle_wait_s=sr.get("Fetch Wait Time", 0) / 1000.0,
                    spill=int(m.get("Memory Bytes Spilled", 0))
                    + int(m.get("Disk Bytes Spilled", 0)),
                    python_bytes=py,
                ))
    return EventLog(tasks, job_group, job_stages, cores)


def spark_layer(log: EventLog, start: float, end: float) -> dict[str, float]:
    """Task totals for tasks that finished inside [start, end] (epoch
    seconds), plus the idle share of the window's core-seconds."""
    ts = [t for t in log.tasks if start <= t.finish <= end]
    wall = max(end - start, 1e-9)
    run = sum(t.run_s for t in ts)
    return {
        "task_run_s": run,
        "task_cpu_s": sum(t.cpu_s for t in ts),
        "gc_s": sum(t.gc_s for t in ts),
        "scan_bytes": sum(t.scan_bytes for t in ts),
        "shuffle_write_bytes": sum(t.shuffle_write for t in ts),
        "shuffle_read_bytes": sum(t.shuffle_read for t in ts),
        "shuffle_wait_s": sum(t.shuffle_wait_s for t in ts),
        "spill_bytes": sum(t.spill for t in ts),
        "python_bytes": sum(t.python_bytes for t in ts),
        "idle_frac": max(0.0, 1.0 - run / (wall * log.cores)),
        "tasks": len(ts),
    }


def group_counts(log: EventLog) -> dict[str, tuple[int, int]]:
    """job group -> (jobs, stages)."""
    out: dict[str, list[int]] = defaultdict(lambda: [0, 0])
    for jid, g in log.job_group.items():
        out[g][0] += 1
        out[g][1] += len(log.job_stages.get(jid, []))
    return {g: (j, s) for g, (j, s) in out.items()}


def now() -> float:
    """Wall clock (epoch seconds): comparable with event-log times."""
    return time.time()
