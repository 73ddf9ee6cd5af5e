"""Tracing for the benchmark's traced run.

Three sources, all observed from outside the program:

- spans the benchmark records around each call into a layer (kept in
  memory, summarised at the end of the run);
- Spark's event log, switched on through spark-submit arguments and read
  offline after the session stops, attributed to operations by job group;
- a Python ``StreamingQueryListener`` that keeps every progress event.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

import pyarrow as pa

MB = 1024 * 1024


# -- spans --------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index of the enclosing span in Tracer.spans


@dataclass
class Tracer:
    """Spans of one operation, kept in memory."""

    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def seconds(self) -> float:
        """Wall time of the outermost spans (an open span counts to now)."""
        now = time.perf_counter()
        return sum((s.end or now) - s.start for s in self.spans if s.parent is None)

    def totals(self) -> dict[str, float]:
        """Summed self time per span name."""
        out: dict[str, float] = defaultdict(float)
        for name, t in self_times(self.spans):
            out[name] += t
        return dict(out)


def _covered(intervals: list[tuple[float, float]]) -> float:
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


def self_times(spans: list[Span]) -> list[tuple[str, float]]:
    """Each span's duration minus the part of it its children cover."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    out = []
    for i, s in enumerate(spans):
        clipped = [(max(a, s.start), min(b, s.end)) for a, b in children[i]]
        clipped = [(a, b) for a, b in clipped if b > a]
        out.append((s.name, (s.end - s.start) - _covered(clipped)))
    return out


# -- Spark event log ----------------------------------------------------


def _event_files(log_dir: str) -> list[str]:
    """Event files in write order: the rolling ``eventlog_v2_*/events_N_*``
    layout (numbered parts) and single-file logs alike."""
    rolling = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))

    def part(path: str) -> int:
        return int(os.path.basename(path).split("_")[1])

    if rolling:
        return sorted(rolling, key=lambda p: (os.path.dirname(p), part(p)))
    return sorted(
        p for p in glob.glob(os.path.join(log_dir, "*"))
        if os.path.isfile(p) and not p.endswith(".inprogress")
    )


def _open_lines(path: str):
    codec = path.rsplit(".", 1)[-1] if "." in os.path.basename(path) else ""
    with open(path, "rb") as raw:
        data = raw.read()
    if codec in ("zstd", "lz4", "snappy", "gzip"):
        stream = pa.CompressedInputStream(pa.BufferReader(data), codec)
        data = stream.read()
    return data.decode("utf-8").splitlines()


def read_events(log_dir: str) -> list[dict]:
    events = []
    for path in _event_files(log_dir):
        events.extend(json.loads(line) for line in _open_lines(path) if line.strip())
    return events


@dataclass
class ExecTotals:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    deser_s: float = 0.0
    gc_s: float = 0.0
    sched_delay_s: float = 0.0
    shuffle_write_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    fetch_wait_s: float = 0.0
    spill_disk_mb: float = 0.0
    python_sent_mb: float = 0.0
    python_exec_s: float = 0.0


# SQL metrics of the Python-exec nodes (MapInPandas, ArrowEvalPython, ...);
# "timing" metrics are in milliseconds
PY_SENT = "data sent to Python workers"
PY_RUN = "time to run Python workers"


def aggregate_events(events: list[dict]) -> dict[str, ExecTotals]:
    """Per job group: jobs, completed stages, finished tasks and their
    task metrics. Jobs without a group land under ``""``."""
    stage_group: dict[int, str] = {}
    out: dict[str, ExecTotals] = defaultdict(ExecTotals)
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            out[group].jobs += 1
            for sid in ev.get("Stage IDs", ()):
                stage_group[sid] = group
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            out[stage_group.get(sid, "")].stages += 1
        elif kind == "SparkListenerTaskEnd":
            _add_task(out[stage_group.get(ev["Stage ID"], "")], ev)
    return dict(out)


def _add_task(t: ExecTotals, ev: dict) -> None:
    info = ev.get("Task Info") or {}
    m = ev.get("Task Metrics") or {}
    t.tasks += 1
    if (ev.get("Task End Reason") or {}).get("Reason", "Success") != "Success":
        t.failed_tasks += 1
    run_ms = m.get("Executor Run Time", 0)
    deser_ms = m.get("Executor Deserialize Time", 0)
    t.run_s += run_ms / 1e3
    t.cpu_s += m.get("Executor CPU Time", 0) / 1e9
    t.deser_s += deser_ms / 1e3
    t.gc_s += m.get("JVM GC Time", 0) / 1e3
    if info.get("Finish Time") and info.get("Launch Time"):
        # the web UI's scheduler delay: wall time not spent running,
        # deserializing, serializing or fetching the result
        busy = run_ms + deser_ms + m.get("Result Serialization Time", 0)
        getting = info["Finish Time"] - info["Getting Result Time"] if info.get(
            "Getting Result Time") else 0
        wall = info["Finish Time"] - info["Launch Time"]
        t.sched_delay_s += max(0, wall - busy - getting) / 1e3
    sw = m.get("Shuffle Write Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    t.shuffle_write_mb += sw.get("Shuffle Bytes Written", 0) / MB
    t.shuffle_read_mb += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / MB
    t.fetch_wait_s += sr.get("Fetch Wait Time", 0) / 1e3
    t.spill_disk_mb += m.get("Disk Bytes Spilled", 0) / MB
    for acc in info.get("Accumulables") or ():
        if acc.get("Name") == PY_SENT:
            t.python_sent_mb += int(acc["Update"]) / MB
        elif acc.get("Name") == PY_RUN:
            t.python_exec_s += int(acc["Update"]) / 1e3


# -- streaming listener -------------------------------------------------


def progress_record(p) -> dict:
    """The fields of a StreamingQueryProgress the benchmark keeps."""
    return {
        "run_id": str(p.runId),
        "input_rows": p.numInputRows,
        "duration_ms": dict(p.durationMs or {}),
        "state": [
            {
                "rows": s.numRowsTotal,
                "mem_bytes": s.memoryUsedBytes,
                "commit_ms": s.commitTimeMs,
                "stores": s.numStateStoreInstances,
            }
            for s in (p.stateOperators or ())
        ],
    }


def make_listener():
    """A StreamingQueryListener that records progress and counts
    started/terminated queries (imported lazily: pyspark is optional for
    the aggregation helpers and their tests)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Recorder(StreamingQueryListener):
        def __init__(self):
            self.lock = threading.Lock()
            self.progress: list[dict] = []
            self.started = 0
            self.terminated = 0

        def onQueryStarted(self, event):
            with self.lock:
                self.started += 1

        def onQueryProgress(self, event):
            rec = progress_record(event.progress)
            with self.lock:
                self.progress.append(rec)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            with self.lock:
                self.terminated += 1

        def settle(self, timeout: float = 5.0) -> None:
            """Wait until every started query reported termination and
            no event arrived for a short quiet period."""
            deadline = time.monotonic() + timeout
            last = None
            while time.monotonic() < deadline:
                with self.lock:
                    state = (self.started, self.terminated, len(self.progress))
                if state == last and state[0] == state[1]:
                    return
                last = state
                time.sleep(0.05)

    return Recorder()


def aggregate_progress(records: list[dict]) -> dict[str, float]:
    """Streaming layer metrics from progress records.

    A trigger that read no input rows ran only to advance the watermark
    (eviction / no-data batch). State size is each query's last reported
    state summed over queries; stores is the largest per-trigger count.
    """
    last_state: dict[str, list[dict]] = {}
    out = {
        "triggers": 0, "empty_triggers": 0, "trigger_ms": 0.0,
        "commit_ms": 0.0, "state_stores": 0,
    }
    for r in records:
        out["triggers"] += 1
        out["empty_triggers"] += int(r["input_rows"] == 0)
        out["trigger_ms"] += r["duration_ms"].get("triggerExecution", 0)
        out["commit_ms"] += sum(s["commit_ms"] for s in r["state"])
        out["state_stores"] = max(out["state_stores"], sum(s["stores"] for s in r["state"]))
        if r["state"]:
            last_state[r["run_id"]] = r["state"]
    out["state_rows"] = sum(s["rows"] for st in last_state.values() for s in st)
    out["state_mb"] = sum(s["mem_bytes"] for st in last_state.values() for s in st) / MB
    return out
