"""Spans, Spark event-log attribution and process memory for the benchmark.

A span is recorded around each call the benchmark makes into the engine.
Each span sets a Spark job group, so the jobs it starts (and their stages
and tasks in the event log) are attributed to it. Spans are kept in
memory and written out once, at the end of the run.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    pass_id: int | None
    op: str | None
    start: float
    start_wall: float
    end: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def end_wall(self) -> float:
        return self.start_wall + self.dur


class Tracer:
    """Records nested spans and labels the Spark jobs each one starts.

    With enabled=False the spans are still timed (the benchmark needs the
    durations) but no job group is set and nothing is attributed."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, pass_id: int | None = None,
             op: str | None = None):
        parent = self._stack[-1] if self._stack else None
        s = Span(id=f"s{len(self.spans)}", name=name,
                 parent=parent.id if parent else None,
                 pass_id=pass_id if pass_id is not None
                 else (parent.pass_id if parent else None),
                 op=op or (parent.op if parent else None),
                 start=time.perf_counter(), start_wall=time.time())
        self.spans.append(s)
        self._stack.append(s)
        if self.enabled:
            self.sc.setJobGroup(s.id, f"{s.name}:{s.op or ''}",
                                interruptOnCancel=False)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self.enabled:
                if parent is not None:
                    self.sc.setJobGroup(parent.id,
                                        f"{parent.name}:{parent.op or ''}",
                                        interruptOnCancel=False)
                else:
                    self.sc._jsc.clearJobGroup()

    def children(self, s: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == s.id]

    def self_time(self, s: Span) -> float:
        """Duration minus the union of the children's intervals."""
        iv = sorted((c.start, c.end) for c in self.children(s))
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in iv:
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        return s.dur - covered

    def dump(self, path: str) -> None:
        recs = []
        for s in self.spans:
            r = asdict(s)
            r["dur"] = s.dur
            r["self"] = self.self_time(s)
            recs.append(r)
        with open(path, "w") as fh:
            json.dump(recs, fh, indent=1)


# ----------------------------------------------------------- event log
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
PY_TIME = "time to run Python workers"


def read_event_log(log_dir: str) -> list[dict]:
    """All events of the (single, uncompressed) application log in
    log_dir; handles both the plain file and the rolling v2 directory."""
    files = []
    for root, _dirs, names in os.walk(log_dir):
        for n in names:
            if not n.startswith(".") and not n.endswith(".crc"):
                files.append(os.path.join(root, n))
    events = []
    for f in sorted(files):
        with open(f) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


@dataclass
class JobStats:
    group: str | None
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write: int = 0
    shuffle_read: int = 0
    fetch_wait_s: float = 0.0
    spill: int = 0
    input_bytes: int = 0
    py_sent: int = 0
    py_recv: int = 0
    py_time_s: float = 0.0
    single_task_stage_s: float = 0.0
    task_iv: list = field(default_factory=list)


def job_stats(events: list[dict]) -> dict[int, JobStats]:
    """Per-job task, shuffle, GC and Python-crossing totals, keyed by job
    id, each carrying the job group that started it."""
    jobs: dict[int, JobStats] = {}
    stage_job: dict[int, int] = {}
    for e in events:
        ev = e.get("Event")
        if ev == "SparkListenerJobStart":
            jid = e["Job ID"]
            props = e.get("Properties") or {}
            jobs[jid] = JobStats(group=props.get("spark.jobGroup.id"))
            for sid in e.get("Stage IDs", []):
                stage_job[sid] = jid
        elif ev == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            j = jobs.get(stage_job.get(si["Stage ID"]))
            if j and si.get("Number of Tasks") == 1 and \
                    "Completion Time" in si and "Submission Time" in si:
                j.single_task_stage_s += (si["Completion Time"]
                                          - si["Submission Time"]) / 1e3
        elif ev == "SparkListenerTaskEnd":
            j = jobs.get(stage_job.get(e.get("Stage ID")))
            if j is None:
                continue
            ti = e.get("Task Info", {})
            tm = e.get("Task Metrics") or {}
            j.tasks += 1
            j.task_iv.append((ti.get("Launch Time", 0),
                              ti.get("Finish Time", 0)))
            j.run_s += tm.get("Executor Run Time", 0) / 1e3
            j.cpu_s += tm.get("Executor CPU Time", 0) / 1e9
            j.gc_s += tm.get("JVM GC Time", 0) / 1e3
            sr = tm.get("Shuffle Read Metrics") or {}
            sw = tm.get("Shuffle Write Metrics") or {}
            j.shuffle_read += (sr.get("Remote Bytes Read", 0)
                               + sr.get("Local Bytes Read", 0))
            j.fetch_wait_s += sr.get("Fetch Wait Time", 0) / 1e3
            j.shuffle_write += sw.get("Shuffle Bytes Written", 0)
            j.spill += (tm.get("Memory Bytes Spilled", 0)
                        + tm.get("Disk Bytes Spilled", 0))
            j.input_bytes += (tm.get("Input Metrics") or {}).get(
                "Bytes Read", 0)
            for acc in ti.get("Accumulables", []):
                name = acc.get("Name") or ""
                try:
                    upd = int(acc.get("Update", 0))
                except (TypeError, ValueError):
                    continue
                if name == PY_SENT:
                    j.py_sent += upd
                elif name == PY_RECV:
                    j.py_recv += upd
                elif name == PY_TIME:
                    j.py_time_s += upd / 1e3   # a millisecond SQL metric
    return jobs


def busy_ms(intervals: list[tuple[int, int]], lo: int, hi: int) -> int:
    """Milliseconds of [lo, hi] during which at least one task ran."""
    iv = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                if b > lo and a < hi)
    total, cur_s, cur_e = 0, None, None
    for a, b in iv:
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ----------------------------------------------------------- memory
def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    """Child processes started by any thread of pid."""
    out = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out += [int(x) for x in fh.read().split()]
        except OSError:
            pass
    return out


def peak_rss_mb(jvm_pid: int) -> dict[str, float]:
    """VmHWM in MB of this driver, the JVM and every live process under
    the JVM (the Python worker daemon and its workers)."""
    workers, todo = [], list(_children(jvm_pid))
    while todo:
        p = todo.pop()
        workers.append(p)
        todo.extend(_children(p))
    mb = {"driver": _status_kb(os.getpid(), "VmHWM") / 1024,
          "jvm": _status_kb(jvm_pid, "VmHWM") / 1024,
          "workers": sum(_status_kb(p, "VmHWM") for p in workers) / 1024,
          "n_workers": len(workers)}
    mb["total"] = mb["driver"] + mb["jvm"] + mb["workers"]
    return mb
