"""Measurement plumbing for the benchmark: spans, summary statistics,
host-speed normalization, process-tree memory sampling and Spark
event-log metrics.

Nothing here imports the engine; the harness records spans from its own
files around each call into an engine layer (the engine itself carries
no instrumentation).
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

import numpy as np


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


#: median seconds of one reference pass on a quiet 4-vCPU host of the kind
#: the benchmark was defined on (8.4-9.1 ms measured idle)
REF_QUIET_S = 0.0085
_REF_ARRAY = np.random.default_rng(0).random(400_000)
_REF_MATRIX = np.random.default_rng(1).random((160, 160))


def host_ref_s(passes: int = 9) -> float:
    """Median seconds of one pass of a fixed single-threaded CPU reference
    (a numpy sort, a small matrix product and a pure-Python loop), timed
    now. On a shared host the speed of the cores drifts by tens of
    percent over minutes; the reference, timed between the operations of
    a run, measures that drift. One thread leaves the other cores to
    whatever the JVM still runs after an operation."""
    times = []
    for _ in range(passes):
        t0 = time.perf_counter()
        np.sort(_REF_ARRAY)
        _REF_MATRIX @ _REF_MATRIX
        sum(i * i for i in range(30_000))
        times.append(time.perf_counter() - t0)
    return float(statistics.median(times))


def normalized(seconds: float, ref_s: float) -> float:
    """``seconds`` measured while the reference took ``ref_s``: scaled
    back to a quiet host's speed when the reference ran slower than
    there, unchanged otherwise. A reference faster than on a quiet host
    (one core boosting while the others idle) earns no credit, since an
    operation on every core does not get that boost."""
    return seconds * min(1.0, REF_QUIET_S / ref_s)


def p90(xs) -> float:
    return float(np.percentile(np.asarray(xs, dtype=np.float64), 90)) if xs else 0.0


class Tracer:
    """In-memory spans (name, start, end, parent, run id), written once as
    JSON when the run ends. A disabled tracer still runs the body, so the
    same code path serves traced and untraced operations."""

    def __init__(self, run_id: str, enabled: bool = True):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        """Yields the span record; its ``start``/``end`` are filled even
        when the tracer is disabled (the record is then not kept)."""
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        if not self.enabled:
            try:
                yield rec
            finally:
                rec["end"] = time.perf_counter()
            return
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of its interval that child spans
        cover (children of one span never overlap: the harness is one
        closed-loop client)."""
        child = {s["id"]: 0.0 for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return {
            s["id"]: (s["end"] - s["start"]) - child[s["id"]]
            for s in self.spans
            if s["end"] is not None
        }

    def dump(self, path: str, facts: dict) -> None:
        selft = self.self_times()
        spans = [dict(s, self_s=selft.get(s["id"])) for s in self.spans]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "facts": facts, "spans": spans}, f, indent=1)


def _status_kb(pid: int, key: str) -> int | None:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        return None
    return None


def _ppid(pid: int) -> int | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            # the command name may hold spaces: the ppid follows the ')'
            return int(f.read().rsplit(")", 1)[1].split()[1])
    except (OSError, IndexError, ValueError):
        return None


def descendants(root: int) -> list[int]:
    parent = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            pp = _ppid(int(name))
            if pp is not None:
                parent[int(name)] = pp
    kids: dict[int, list[int]] = {}
    for pid, pp in parent.items():
        kids.setdefault(pp, []).append(pid)
    out, todo = [], [root]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


class RssSampler:
    """Sum over this process and its descendants (the JVM and its Python
    workers) of each process's peak VmHWM, sampled from /proc every
    ``period`` s while the sampler runs (psutil is not available).
    Processes that exited before the sampler started do not count."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak_kb: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        for pid in [os.getpid()] + descendants(os.getpid()):
            kb = _status_kb(pid, "VmHWM:")
            if kb:
                self.peak_kb[pid] = max(self.peak_kb.get(pid, 0), kb)

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()

    def __enter__(self):
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()

    @property
    def peak_mb(self) -> float:
        return sum(self.peak_kb.values()) / 1024.0


def event_log_metrics(log_dir: str, groups: set[str]) -> dict:
    """Task metrics of the jobs whose job group is in ``groups``, read
    from the Spark event log after the session stopped.

    Returns the jobs' total shuffle bytes written, JVM GC seconds summed
    over tasks, and the straggler ratio (max / median task run time) of
    the stage with the most task time.
    """
    stage_ids: set[int] = set()
    jobs = 0
    tasks: dict[int, list[tuple[float, int, float]]] = {}
    names = sorted(os.listdir(log_dir)) if os.path.isdir(log_dir) else []
    for name in names:
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    if (ev.get("Properties") or {}).get("spark.jobGroup.id") in groups:
                        jobs += 1
                        stage_ids.update(ev.get("Stage IDs", []))
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    sw = (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    tasks.setdefault(ev["Stage ID"], []).append(
                        (m.get("Executor Run Time", 0) / 1000.0, sw, m.get("JVM GC Time", 0) / 1000.0)
                    )
    picked = [ts for sid, ts in tasks.items() if sid in stage_ids]
    ratio = 0.0
    if picked:
        runs = [t[0] for t in max(picked, key=lambda ts: sum(t[0] for t in ts))]
        med = statistics.median(runs)
        ratio = max(runs) / med if med > 0 else 0.0
    return {
        "jobs": jobs,
        "shuffle_write_bytes": sum(t[1] for ts in picked for t in ts),
        "gc_s": sum(t[2] for ts in picked for t in ts),
        "max_over_median": ratio,
    }
