"""Spans around the program's public calls, and the per-layer report.

A span holds its name, start, end, parent and operation id ("rid"): one
operation is one engine request or one core query, and its root span is the
first span opened while no other is open. Spans live in memory and are
written out when the run ends. A layer is the part of a span name before the
first dot; its self time is the time its spans cover minus the time their
child spans cover.

Spark's side of each operation comes from two places, both switched on only
in the traced run: the StatusTracker, queried for the job group the
operation ran under, gives job and task counts, and the uncompressed event
log, parsed after the session stops, gives task metrics and stage times.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.enabled = False
        self.rid = 0  # id of the current (or last) operation
        self._open: list[int] = []
        # perf_counter → epoch ms, to line spans up with the event log
        self._epoch_ms = (time.time() - time.perf_counter()) * 1000.0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._open[-1] if self._open else None
        if parent is None:
            self.rid += 1
        idx = len(self.spans)
        self.spans.append(
            {"name": name, "start": time.perf_counter(), "end": None, "parent": parent, "rid": self.rid}
        )
        self._open.append(idx)
        try:
            yield
        finally:
            self._open.pop()
            self.spans[idx]["end"] = time.perf_counter()

    def layer(self) -> str | None:
        """The layer of the innermost open span."""
        return self.spans[self._open[-1]]["name"].split(".")[0] if self._open else None

    def wrap(self, owner, attr: str, name: str, after=None, inside: str | None = None) -> None:
        """Replace ``owner.attr`` with a version that runs inside a span.
        ``after(result)`` runs once the span has closed; with ``inside``,
        the span is recorded only when called from that layer."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if inside is not None and self.layer() != inside:
                return fn(*args, **kwargs)
            with self.span(name):
                out = fn(*args, **kwargs)
            if after is not None and self.enabled:
                after(out)
            return out

        setattr(owner, attr, traced)

    def epoch_ms(self, t: float) -> float:
        return self._epoch_ms + t * 1000.0

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)

    # -- reductions -------------------------------------------------------
    def roots(self) -> list[dict]:
        return [s for s in self.spans if s["parent"] is None]

    def self_ms(self) -> dict[int, float]:
        """Self time of every span, by index."""
        own = {i: (s["end"] - s["start"]) * 1000.0 for i, s in enumerate(self.spans)}
        for s in self.spans:
            if s["parent"] is not None:
                own[s["parent"]] -= (s["end"] - s["start"]) * 1000.0
        return own

    def layer_calls(self) -> dict[str, tuple[float, int]]:
        """layer → (total self ms, calls into it from another layer)."""
        own = self.self_ms()
        total: dict[str, float] = defaultdict(float)
        calls: dict[str, int] = defaultdict(int)
        for i, s in enumerate(self.spans):
            layer = s["name"].split(".")[0]
            total[layer] += own[i]
            p = s["parent"]
            if p is None or self.spans[p]["name"].split(".")[0] != layer:
                calls[layer] += 1
        return {k: (total[k], calls[k]) for k in total}

    def name_calls(self, name: str) -> tuple[float, int]:
        """(total self ms, calls) of the spans named ``name``."""
        own = self.self_ms()
        idx = [i for i, s in enumerate(self.spans) if s["name"] == name]
        return sum(own[i] for i in idx), len(idx)

    def innermost(self, epoch_ms: float) -> dict | None:
        """The innermost span open at ``epoch_ms``."""
        best = None
        for s in self.spans:
            if self.epoch_ms(s["start"]) <= epoch_ms <= self.epoch_ms(s["end"]):
                if best is None or s["start"] >= best["start"]:
                    best = s
        return best


def per_call(total_calls: tuple[float, int]) -> float:
    total, calls = total_calls
    return total / calls if calls else 0.0


def job_counts(sc, group: str) -> tuple[int, int]:
    """(jobs, tasks run) of one job group, from the StatusTracker."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    tasks = 0
    for j in jobs:
        info = tracker.getJobInfo(j)
        for sid in info.stageIds if info else ():
            stage = tracker.getStageInfo(sid)
            tasks += stage.numCompletedTasks if stage else 0
    return len(jobs), tasks


def read_event_log(log_dir: str) -> dict:
    """Per job group: task metrics summed over its tasks, stage intervals,
    and job submission times. Only complete (stopped) logs are read."""
    groups: dict[str, dict] = defaultdict(
        lambda: {"run_ms": 0.0, "cpu_ms": 0.0, "gc_ms": 0.0, "records_read": 0,
                 "shuffle_bytes": 0, "spill_bytes": 0, "stages": [], "jobs": 0}
    )
    stage_group: dict[int, str] = {}
    job_submit: list[float] = []
    for fname in sorted(os.listdir(log_dir)):
        if fname.endswith(".inprogress"):
            continue
        with open(os.path.join(log_dir, fname)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    job_submit.append(float(ev["Submission Time"]))
                    if group is None:
                        continue
                    groups[group]["jobs"] += 1
                    for sid in ev["Stage IDs"]:
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if group is None or not m:
                        continue
                    g = groups[group]
                    g["run_ms"] += m["Executor Run Time"]
                    g["cpu_ms"] += m["Executor CPU Time"] / 1e6
                    g["gc_ms"] += m["JVM GC Time"]
                    g["records_read"] += m["Input Metrics"]["Records Read"]
                    g["shuffle_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                    g["spill_bytes"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    group = stage_group.get(info["Stage ID"])
                    if group is not None and "Submission Time" in info and "Completion Time" in info:
                        groups[group]["stages"].append((info["Submission Time"], info["Completion Time"]))
    return {"groups": dict(groups), "job_submit_ms": job_submit}


def union_ms(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def spark_layer_metrics(tracer: Tracer, log: dict, ops: list[dict], actions: tuple[str, ...]) -> dict[str, float]:
    """session.* per operation, for the traced operations in ``ops``.

    Each op carries ``group`` (its job group), ``rid``, ``jobs``, ``tasks``
    and ``rows`` (rows returned to the caller)."""
    if not ops:
        return {}
    own_action: dict[int, float] = defaultdict(float)
    for s in tracer.spans:
        if s["name"] in actions:
            own_action[s["rid"]] += (s["end"] - s["start"]) * 1000.0
    n = len(ops)
    agg = defaultdict(float)
    for op in ops:
        g = log["groups"].get(op["group"], {})
        for k in ("run_ms", "cpu_ms", "gc_ms", "records_read"):
            agg[k] += g.get(k, 0)
        agg["rows"] += op["rows"]
        agg["residual_ms"] += max(0.0, own_action[op["rid"]] - union_ms(g.get("stages", [])))
    return {
        "session.jobs_per_req": sum(op["jobs"] for op in ops) / n,
        "session.tasks_per_req": sum(op["tasks"] for op in ops) / n,
        "session.executor_run_ms": agg["run_ms"] / n,
        "session.executor_cpu_ms": agg["cpu_ms"] / n,
        "session.gc_ms": agg["gc_ms"] / n,
        "session.input_rows_per_row_returned": agg["records_read"] / max(1.0, agg["rows"]),
        "session.residual_ms": agg["residual_ms"] / n,
    }


def jobs_in_layer(tracer: Tracer, log: dict, layer: str) -> int:
    """Spark jobs submitted while the innermost open span was in ``layer``."""
    count = 0
    for t in log["job_submit_ms"]:
        s = tracer.innermost(t)
        if s is not None and s["name"].split(".")[0] == layer:
            count += 1
    return count


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0
