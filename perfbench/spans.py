"""Spans, Spark job-group tagging and event-log counters for traced runs.

A span is ``(name, op, start, end, parent)``; spans of one operation share
its op id. Spans live in memory and are summarized when the run ends.
Each span that can run Spark jobs tags them with the job group
``<workload>:<span>:<op>``, so the event log (plain JSON lines: no
compression, no rolling) attributes every job, stage and task to the
span that caused it.

Spans are opened by the benchmark around its calls into the program's
layers; the few layer calls the program makes internally
(``ingest.read_ticks``, ``tickquery.run_tick_query``,
``cachereg.corpus_persist``) are wrapped with ``rebind`` in traced runs
only.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

#: Spark counters kept per span (see ``parse_event_log``).
COUNTERS = (
    "jobs", "tasks", "input_bytes", "input_records", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "executor_cpu_s", "task_wait_s",
    "failed_tasks",
)
#: Further counters used by derived per-layer metrics.
EXTRA = ("output_bytes", "python_eval_s")


class Span:
    __slots__ = ("name", "op", "start", "end", "parent", "thread", "attrs")

    def __init__(self, name, op, start, parent, thread):
        self.name, self.op, self.start, self.parent, self.thread = name, op, start, parent, thread
        self.end = None
        self.attrs: dict = {}


class Tracer:
    """Records spans when ``enabled``; otherwise every call is a no-op, so
    untraced runs time the program alone."""

    def __init__(self, workload: str, enabled: bool, sc=None):
        self.workload = workload
        self.enabled = enabled
        self.sc = sc
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _group(self, span: Span | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(f"{self.workload}:{span.name}:{span.op}", span.name)

    @contextmanager
    def span(self, name: str, op=None, parent: Span | None = None):
        """Open a span in the calling thread. ``op`` defaults to the
        enclosing span's; ``parent`` links a span opened in another thread
        (the HTTP handler) to the span that caused it."""
        if not self.enabled:
            yield None
            return
        st = self._stack()
        outer = st[-1] if st else None
        parent = parent or outer
        if op is None and parent is not None:
            op = parent.op
        s = Span(name, op, time.perf_counter(), parent, threading.get_ident())
        st.append(s)
        self._group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            st.pop()
            self._group(outer)
            with self._lock:
                self.spans.append(s)

    # -- summaries ----------------------------------------------------
    def by_name(self) -> dict[str, list[Span]]:
        out: dict[str, list[Span]] = defaultdict(list)
        for s in self.spans:
            out[s.name].append(s)
        return out

    def self_time(self, span: Span) -> float:
        """Span duration minus the part of it its children cover."""
        kids = sorted((c.start, c.end) for c in self.children().get(id(span), []))
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in kids:
            lo, hi = max(lo, span.start), min(hi, span.end)
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
        return (span.end - span.start) - covered

    def children(self) -> dict[int, list[Span]]:
        kids: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                kids[id(s.parent)].append(s)
        return kids

    def summary(self, windows: dict[int, tuple[float, float]]) -> dict:
        """Per span name: count, total, median and self seconds; plus the
        ``unattributed`` seconds of each measured thread window (thread id
        -> (start, end)) that no root span covers."""
        out = {}
        for name, spans in sorted(self.by_name().items()):
            durs = [s.end - s.start for s in spans]
            out[name] = {
                "n": len(spans),
                "total_s": sum(durs),
                "median_s": statistics.median(durs),
                "self_s": sum(self.self_time(s) for s in spans),
            }
        unattributed = 0.0
        for tid, (lo, hi) in windows.items():
            roots = sorted(
                (max(s.start, lo), min(s.end, hi))
                for s in self.spans
                if s.parent is None and s.thread == tid and s.end > lo and s.start < hi
            )
            covered, cur = 0.0, lo
            for a, b in roots:
                a = max(a, cur)
                if b > a:
                    covered += b - a
                    cur = b
            unattributed += (hi - lo) - covered
        out["unattributed"] = {"n": len(windows), "total_s": unattributed}
        return out


def rebind(orig, new) -> None:
    """Point every ``tickdb_spark`` module attribute bound to ``orig`` at
    ``new`` — the module that defines it and every module that imported it
    by name. Traced runs use this to wrap layer calls the program makes
    internally."""
    for name, mod in list(sys.modules.items()):
        if name.startswith("tickdb_spark") and mod is not None:
            for attr, value in list(vars(mod).items()):
                if value is orig:
                    setattr(mod, attr, new)


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Spark conf for a plain-JSON-lines event log in ``log_dir``."""
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def parse_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Counters per job group (``<workload>:<span>:<op>``) from the event
    log a stopped SparkContext left in ``log_dir``. Jobs outside any group
    count under ``""``."""
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir) if not f.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {files}")
    stage_group: dict[int, str] = {}
    stage_submit: dict[tuple[int, int], int] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(COUNTERS + EXTRA, 0))
    with open(files[0]) as f:
        for line in f:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                group = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
                out[group]["jobs"] += 1
                for sid in e["Stage IDs"]:
                    stage_group[sid] = group
            elif ev == "SparkListenerStageSubmitted":
                info = e["Stage Info"]
                stage_submit[(info["Stage ID"], info["Stage Attempt ID"])] = info.get("Submission Time", 0)
            elif ev == "SparkListenerTaskEnd":
                c = out[stage_group.get(e["Stage ID"], "")]
                info, m = e["Task Info"], e.get("Task Metrics") or {}
                c["tasks"] += 1
                c["failed_tasks"] += int(bool(info.get("Failed")) or bool(info.get("Killed")))
                c["input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
                c["input_records"] += m.get("Input Metrics", {}).get("Records Read", 0)
                sr = m.get("Shuffle Read Metrics", {})
                c["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                c["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                c["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                c["output_bytes"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
                c["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                submitted = stage_submit.get((e["Stage ID"], e["Stage Attempt ID"]))
                if submitted:
                    c["task_wait_s"] += max(0, info["Launch Time"] - submitted) / 1e3
                for acc in info.get("Accumulables", []):
                    if acc.get("Name") == "time to run Python workers":
                        c["python_eval_s"] += int(acc.get("Update") or 0) / 1e3
    return dict(out)


def counters_by_span(groups: dict[str, dict[str, float]]) -> dict[str, dict[str, float]]:
    """Fold per-op job groups into per-span totals."""
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(COUNTERS + EXTRA, 0))
    for group, c in groups.items():
        parts = group.split(":")
        name = parts[1] if len(parts) == 3 else ""
        for k, v in c.items():
            out[name][k] += v
    return dict(out)
