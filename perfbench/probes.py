"""Measurement helpers read from outside the program under test.

* :class:`Tracer` keeps spans in memory and writes them out at exit.
* Streaming per-layer numbers come from Spark's public progress reports
  (``StreamingQuery.recentProgress``) and the file source's commit log.
* Batch per-layer numbers come from the Spark event log.
* Process numbers (CPU time, peak resident memory) come from ``/proc``
  for the whole Python + JVM + Python-worker process tree; the JVM's
  heap occupancy comes from its GC log.
"""

from __future__ import annotations

import glob
import itertools
import json
import os
import re
import time
from contextlib import contextmanager
from datetime import datetime

import numpy as np


class Tracer:
    """In-memory span recorder. Disabled, it records nothing and its
    ``span`` context manager costs one attribute test."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)

    def add(self, name: str, start: float, end: float, trace: str,
            parent: int | None = None, **attrs) -> int | None:
        if not self.enabled:
            return None
        sid = next(self._ids)
        self.spans.append({"id": sid, "trace": trace, "parent": parent,
                           "name": name, "start": start, "end": end,
                           **attrs})
        return sid

    @contextmanager
    def span(self, name: str, trace: str, parent: int | None = None,
             **attrs):
        start = time.time()
        try:
            yield
        finally:
            self.add(name, start, time.time(), trace, parent, **attrs)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


def pct(values, q: float) -> float:
    """Percentile ``q`` (0-100) of ``values``; 0.0 when empty."""
    a = np.asarray(values, dtype=float)
    return float(np.percentile(a, q)) if a.size else 0.0


# ---------------------------------------------------------------------------
# Structured Streaming progress reports
# ---------------------------------------------------------------------------

def progress_dicts(query) -> list[dict]:
    """The query's progress reports of micro-batches that ran (idle
    status reports carry no ``addBatch``)."""
    out = []
    for p in query.recentProgress:
        d = json.loads(p.json)
        if "addBatch" in d.get("durationMs", {}):
            out.append(d)
    return out


def epoch_s(iso: str) -> float:
    """Epoch seconds of a progress-report timestamp."""
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


# order in which MicroBatchExecution runs its phases inside a trigger
_PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning",
           "addBatch", "commitOffsets")
_SPAN_NAMES = {"latestOffset": "source.admission", "getBatch": "source.admission",
               "walCommit": "microbatch.commit", "queryPlanning": "microbatch.planning",
               "addBatch": "microbatch.add_batch",
               "commitOffsets": "microbatch.commit"}


def progress_spans(tracer: Tracer, progresses: list[dict], trace: str
                   ) -> dict[int, int]:
    """Lay each trigger's reported phase durations out as spans (the
    report gives durations, not start times, so phases are placed one
    after another from the trigger start). Returns batchId → span id of
    its trigger span."""
    by_batch: dict[int, int] = {}
    if not tracer.enabled:
        return by_batch
    for p in progresses:
        t = epoch_s(p["timestamp"])
        dur = p["durationMs"]
        sid = tracer.add("microbatch.trigger", t,
                         t + dur["triggerExecution"] / 1e3, trace,
                         batch=p["batchId"], rows=p["numInputRows"],
                         derived=True)
        by_batch[p["batchId"]] = sid
        cursor = t
        for phase in _PHASES:
            ms = dur.get(phase, 0)
            tracer.add(_SPAN_NAMES[phase], cursor, cursor + ms / 1e3, trace,
                       sid, phase=phase, derived=True)
            cursor += ms / 1e3
    return by_batch


def microbatch_metrics(progresses: list[dict]) -> dict[str, float]:
    """Trigger-loop and source numbers, per micro-batch medians."""
    dur = [p["durationMs"] for p in progresses]
    trig = [d["triggerExecution"] for d in dur]
    return {
        "sources.input_rows": float(sum(p["numInputRows"] for p in progresses)),
        "sources.offset_ms": pct([d.get("latestOffset", 0) + d.get("getBatch", 0)
                                  for d in dur], 50),
        "microbatch.count": float(len(progresses)),
        "microbatch.trigger_ms_p50": pct(trig, 50),
        "microbatch.trigger_ms_max": float(max(trig, default=0)),
        "microbatch.planning_ms": pct([d.get("queryPlanning", 0) for d in dur], 50),
        "microbatch.commit_ms": pct([d.get("walCommit", 0) + d.get("commitOffsets", 0)
                                     for d in dur], 50),
        "microbatch.fixed_ms": pct([d["triggerExecution"] - d["addBatch"]
                                    for d in dur], 50),
        "microbatch.add_batch_share": sum(d["addBatch"] for d in dur) / max(sum(trig), 1),
    }


def state_metrics(progresses: list[dict], prefix: str) -> dict[str, float]:
    """State-store numbers of the query's stateful operator(s)."""
    ops = [op for p in progresses for op in p.get("stateOperators", [])]
    per_batch = [p.get("stateOperators", []) for p in progresses]

    def per_batch_sum(key):
        return [sum(op.get(key, 0) for op in b) for b in per_batch]

    return {
        f"{prefix}.add_batch_ms": pct([p["durationMs"]["addBatch"]
                                       for p in progresses], 50),
        f"{prefix}.state_rows_max": float(max(per_batch_sum("numRowsTotal"), default=0)),
        f"{prefix}.state_bytes_max": float(max(per_batch_sum("memoryUsedBytes"), default=0)),
        f"{prefix}.rows_evicted": float(sum(op.get("numRowsRemoved", 0) for op in ops)),
        f"{prefix}.rows_dropped_late": float(sum(op.get("numRowsDroppedByWatermark", 0)
                                                 for op in ops)),
        f"{prefix}.state_update_ms": pct(per_batch_sum("allUpdatesTimeMs"), 50),
        f"{prefix}.state_removal_ms": pct(per_batch_sum("allRemovalsTimeMs"), 50),
        f"{prefix}.state_commit_ms": pct(per_batch_sum("commitTimeMs"), 50),
        f"{prefix}.state_store_instances": float(max(
            per_batch_sum("numStateStoreInstances"), default=0)),
    }


def admitted_files(checkpoint: str) -> dict[int, int]:
    """batchId → files admitted in that batch, summed over all sources,
    from the file source's commit log inside the checkpoint."""
    seen: dict[str, int] = {}
    for f in glob.glob(os.path.join(checkpoint, "sources", "*", "*")):
        if os.path.basename(f).startswith("."):
            continue
        with open(f) as fh:
            for line in fh:
                if line.startswith("{"):
                    e = json.loads(line)
                    seen[e["path"]] = e["batchId"]
    counts: dict[int, int] = {}
    for b in seen.values():
        counts[b] = counts.get(b, 0) + 1
    return counts


def backlog_files_max(progresses: list[dict], admitted: dict[int, int],
                      written_at: list[float]) -> float:
    """Largest number of files written but not yet admitted when a
    trigger started. ``written_at`` holds each input file's write time."""
    written = np.sort(np.asarray(written_at, dtype=float))
    worst = 0
    for p in progresses:
        before = sum(n for b, n in admitted.items() if b < p["batchId"])
        ready = int(np.searchsorted(written, epoch_s(p["timestamp"]), "right"))
        worst = max(worst, ready - before)
    return float(worst)


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

def eventlog_metrics(log_dir: str, job_group: str, prefix: str
                     ) -> dict[str, float]:
    """Task totals of the jobs run under ``job_group``, from the event
    log (read after the SparkContext stopped, so the log is complete).
    The shuffle-stage jobs adaptive execution submits carry the group too."""
    stages: set[int] = set()
    tasks: list[dict] = []
    # rolling logs are directories of events_* files; written uncompressed
    paths = [p for p in glob.glob(os.path.join(log_dir, "**"), recursive=True)
             if os.path.isfile(p) and not os.path.basename(p).startswith(("appstatus", "."))]
    for path in paths:
        with open(path) as fh:
            for line in fh:
                e = json.loads(line)
                ev = e.get("Event")
                if ev == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    if props.get("spark.jobGroup.id") == job_group:
                        stages.update(e.get("Stage IDs", []))
                elif ev == "SparkListenerTaskEnd":
                    tasks.append(e)
    mine = [t for t in tasks if t.get("Stage ID") in stages]
    m = [t.get("Task Metrics") or {} for t in mine]

    def total(f):
        return float(sum(f(x) for x in m))

    return {
        f"{prefix}.shuffle_write_bytes": total(
            lambda x: (x.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)),
        f"{prefix}.shuffle_read_bytes": total(
            lambda x: (x.get("Shuffle Read Metrics") or {}).get("Remote Bytes Read", 0)
            + (x.get("Shuffle Read Metrics") or {}).get("Local Bytes Read", 0)),
        f"{prefix}.spill_bytes": total(
            lambda x: x.get("Memory Bytes Spilled", 0) + x.get("Disk Bytes Spilled", 0)),
        f"{prefix}.tasks": float(len(mine)),
        f"{prefix}.task_ms_p50": pct([x.get("Executor Run Time", 0) for x in m], 50),
        f"{prefix}.task_ms_max": float(max((x.get("Executor Run Time", 0) for x in m),
                                           default=0)),
        f"{prefix}.gc_ms": total(lambda x: x.get("JVM GC Time", 0)),
    }


# ---------------------------------------------------------------------------
# Process tree (Python driver + JVM + Python workers)
# ---------------------------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of the live tree, including children
    it already reaped (so each CPU second counts once)."""
    total = 0
    for p in tree_pids(root):
        try:
            with open(f"/proc/{p}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / _TICK


def tree_peak_rss_mb(root: int) -> float:
    """Sum of each live process's peak resident set (VmHWM)."""
    kb = 0
    for p in tree_pids(root):
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024.0


# a collection pause's summary line: "... Pause Young (Normal) (G1
# Evacuation Pause) 1076M->301M(2048M) 35.078ms"; remark and cleanup
# pauses collect nothing, so their figures are not occupancy after GC
_GC_PAUSE = re.compile(r"Pause (?:Young|Full)\b.* (\d+)([KMG])->(\d+)([KMG])\(")
_MB = {"K": 1 / 1024, "M": 1.0, "G": 1024.0}


def heap_after_gc_peak_mb(gc_log: str) -> float:
    """Largest JVM heap occupancy right after a young or full collection,
    from the GC log: live data plus the old garbage the collector had
    not yet reclaimed. 0.0 when the log is missing."""
    peak = 0.0
    try:
        with open(gc_log) as f:
            for line in f:
                m = _GC_PAUSE.search(line)
                if m:
                    peak = max(peak, int(m.group(3)) * _MB[m.group(4)])
    except OSError:
        pass
    return peak
