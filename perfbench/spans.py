"""Spans, per-layer wrappers and Spark event-log accounting.

Only the traced run installs anything: ``Tracer(enabled=False)`` hands
out a no-op span and wraps nothing, so the untraced run measures the
program exactly as it ships.

A span is ``(name, start, end, parent, op)``: ``parent`` is the index
of the enclosing span and ``op`` the operation id shared by every span
of one benchmark operation. Spans stay in memory and are written once
at the end of the run. A layer's self time is its span's duration
minus the time its child spans cover (spans nest strictly, since the
client is a single thread).
"""

from __future__ import annotations

import functools
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[list] = []  # [name, start, end, parent, op]
        self._stack: list[int] = []
        self.op: str | None = None
        self.groups: list[str] = []  # Spark job groups, in order of use

    def span(self, name: str):
        if not self.enabled:
            return nullcontext()
        return self._span(name)

    @contextmanager
    def _span(self, name: str):
        parent = self._stack[-1] if self._stack else -1
        rec = [name, time.perf_counter(), None, parent, self.op]
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec[2] = time.perf_counter()
            self._stack.pop()

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a traced wrapper recording span
        ``name``."""
        if not self.enabled:
            return
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self._span(name):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)

    # ---- reporting ---------------------------------------------------

    def self_times(self, since: float = 0.0) -> dict[str, dict[str, float]]:
        """{span name: {calls, total_s, self_s}} over spans that start
        at or after ``since``."""
        child = [0.0] * len(self.spans)
        for name, t0, t1, parent, _ in self.spans:
            if parent >= 0 and t1 is not None:
                child[parent] += t1 - t0
        out: dict[str, dict[str, float]] = defaultdict(
            lambda: {"calls": 0, "total_s": 0.0, "self_s": 0.0}
        )
        for i, (name, t0, t1, _, _) in enumerate(self.spans):
            if t0 < since or t1 is None:
                continue
            row = out[name]
            row["calls"] += 1
            row["total_s"] += t1 - t0
            row["self_s"] += t1 - t0 - child[i]
        return dict(out)

    def write_spans(self, path: str, origin: float) -> None:
        with open(path, "w") as fh:
            for name, t0, t1, parent, op in self.spans:
                fh.write(
                    json.dumps(
                        {
                            "name": name,
                            "start_s": round(t0 - origin, 6),
                            "end_s": round((t1 or t0) - origin, 6),
                            "parent": parent,
                            "op": op,
                        }
                    )
                    + "\n"
                )


def job_group(spark, tracer: Tracer, group: str):
    """Run the enclosed Spark actions under job group ``group`` (traced
    runs only), so jobs and event-log tasks attribute to one layer."""
    if not tracer.enabled:
        return nullcontext()
    tracer.groups.append(group)
    return _job_group(spark, group)


@contextmanager
def _job_group(spark, group: str):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def jobs_in_group(spark, group: str) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def read_event_log(evdir: str) -> list[dict]:
    events = []
    for root, _, files in os.walk(evdir):
        for f in sorted(files):
            if f.endswith(".inprogress") or f.startswith("."):
                continue
            with open(os.path.join(root, f)) as fh:
                for line in fh:
                    try:
                        events.append(json.loads(line))
                    except ValueError:
                        continue
    return events


def task_metrics_by_group(events: list[dict]) -> dict[str, dict[str, float]]:
    """Sum task metrics per job group: task_s (executor run time),
    gc_s, shuffle_bytes (written), spill_bytes (memory + disk),
    sched_delay_s (task duration not spent deserializing, running or
    serializing the result — the Spark UI's scheduler delay)."""
    stage_group: dict[int, str] = {}
    for ev in events:
        if ev.get("Event") == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = group
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for ev in events:
        if ev.get("Event") != "SparkListenerTaskEnd":
            continue
        info = ev.get("Task Info") or {}
        m = ev.get("Task Metrics") or {}
        row = out[stage_group.get(ev.get("Stage ID"), "")]
        run_ms = m.get("Executor Run Time", 0)
        deser_ms = m.get("Executor Deserialize Time", 0)
        ser_ms = m.get("Result Serialization Time", 0)
        dur_ms = (info.get("Finish Time", 0) or 0) - (info.get("Launch Time", 0) or 0)
        getting_ms = 0
        if info.get("Getting Result Time"):
            getting_ms = max(0, (info.get("Finish Time", 0) or 0) - info["Getting Result Time"])
        row["tasks"] += 1
        row["task_s"] += run_ms / 1000
        row["gc_s"] += m.get("JVM GC Time", 0) / 1000
        row["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0
        )
        row["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
            "Disk Bytes Spilled", 0
        )
        row["sched_delay_s"] += max(0, dur_ms - run_ms - deser_ms - ser_ms - getting_ms) / 1000
    return {g: dict(v) for g, v in out.items()}


def format_table(rows: dict[str, dict[str, float]], passes: int) -> str:
    """Self-time table, one line per span name, per-pass figures."""
    lines = [f"{'layer (span)':44s} {'calls/pass':>10s} {'total_s/pass':>12s} {'self_s/pass':>12s}"]
    for name, r in sorted(rows.items(), key=lambda kv: -kv[1]["self_s"]):
        lines.append(
            f"{name:44s} {r['calls'] / passes:10.1f} {r['total_s'] / passes:12.4f} "
            f"{r['self_s'] / passes:12.4f}"
        )
    return "\n".join(lines)
