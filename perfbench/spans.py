"""Span recorder and Spark event-log reader for the traced run.

Spans are recorded by the benchmark around its own calls into the engine's
public functions (name, parent, start, end). A span's duration is its wall
time less the share of it the hypervisor gave to other guests: wall ×
(1 − stolen ÷ busy CPU time over the span, both from ``/proc/stat``).
That share is not the engine's time, and on a shared host it is the
largest source of run-to-run spread. It is an estimate: it assumes the
stolen share of the busy CPUs applies to the whole interval, including
its I/O waits. On a dedicated host the duration is the wall time. The
raw wall time (``Tracer.wall``) is kept next to it so that the
correction can be checked. A span's self time is its duration minus the
durations of its child spans. Spark jobs found in the event log are
attributed to the innermost span whose interval holds the job's
submission time: the benchmark is one closed-loop client, so at most one
span chain is open at any instant and that attribution is exact up to
the log's millisecond clock.

Stage metrics are read per task. A task is classed as

- ``write``  when it wrote output bytes (parquet write, including the final
  aggregate fused into the same stage),
- ``read``   when it updated the scan-time metric of a scan over a table
  root (a target-table read; the partial aggregate fused into that task is
  included),
- ``agg``    when it updated the metric of an aggregate node,
- ``other``  otherwise,

in that order of precedence.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager


def cpu_ticks() -> tuple[int, int]:
    """(stolen, busy) CPU ticks since boot over all CPUs, busy counting
    stolen ticks too; (0, 0) where the kernel does not report them."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:9]]
    except (OSError, ValueError):
        return 0, 0
    user, nice, system, _idle, _iowait, irq, softirq, steal = f + [0] * (8 - len(f))
    return steal, user + nice + system + irq + softirq + steal


class Tracer:
    """In-memory span recorder. Cheap enough to stay on in untraced runs,
    where the spans only give the benchmark its own timings."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def begin(self, name: str, **attrs) -> dict:
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "cpu0": cpu_ticks(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        return rec

    def end(self, rec: dict) -> None:
        rec["end"] = time.time()
        rec["cpu1"] = cpu_ticks()
        self._stack.remove(rec["id"])

    @staticmethod
    def _unstolen(wall: float, cpu0: tuple, cpu1: tuple) -> float:
        stolen, busy = cpu1[0] - cpu0[0], cpu1[1] - cpu0[1]
        return wall * (1.0 - stolen / busy) if busy > 0 else wall

    @classmethod
    def dur(cls, rec: dict) -> float:
        """Duration of a closed span, stolen share removed."""
        return cls._unstolen(rec["end"] - rec["start"], rec["cpu0"], rec["cpu1"])

    @staticmethod
    def wall(rec: dict) -> float:
        """Raw wall time of a closed span."""
        return rec["end"] - rec["start"]

    @staticmethod
    def mark(rec: dict) -> dict:
        """A closed copy of the open span ``rec``, ending now."""
        return dict(rec, end=time.time(), cpu1=cpu_ticks())

    @staticmethod
    def stolen_share(rec: dict) -> float:
        stolen, busy = rec["cpu1"][0] - rec["cpu0"][0], rec["cpu1"][1] - rec["cpu0"][1]
        return stolen / busy if busy > 0 else 0.0

    @contextmanager
    def span(self, name: str, **attrs):
        rec = self.begin(name, **attrs)
        try:
            yield rec
        finally:
            self.end(rec)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["end"] is not None]

    def self_times(self) -> dict[int, float]:
        child_cover: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child_cover[s["parent"]] = (
                    child_cover.get(s["parent"], 0.0) + self.dur(s)
                )
        return {
            s["id"]: self.dur(s) - child_cover.get(s["id"], 0.0)
            for s in self.spans
            if s["end"] is not None
        }

    def descendants(self, root_id: int) -> list[dict]:
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out, todo = [], list(kids.get(root_id, []))
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids.get(s["id"], []))
        return out

    def innermost(self, t: float) -> dict | None:
        """The deepest closed span whose interval holds time ``t``."""
        best, best_depth = None, -1
        depth: dict[int, int] = {}
        for s in self.spans:
            depth[s["id"]] = 0 if s["parent"] is None else depth[s["parent"]] + 1
            if s["end"] is not None and s["start"] <= t <= s["end"]:
                if depth[s["id"]] > best_depth:
                    best, best_depth = s, depth[s["id"]]
        return best


# ---------------------------------------------------------------- event log

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
_AGG_NODES = ("HashAggregate", "SortAggregate", "ObjectHashAggregate")


def _walk_plan(node: dict, table_roots: list[str], out: dict[int, str]) -> None:
    name = node.get("nodeName", "")
    metrics = {m["name"]: m["accumulatorId"] for m in node.get("metrics", [])}
    if name.startswith("Scan parquet") and "scan time" in metrics:
        loc = node.get("metadata", {}).get("Location", "")
        if any(root in loc for root in table_roots):
            out[metrics["scan time"]] = "read"
    elif name in _AGG_NODES:
        for acc in metrics.values():
            out[acc] = "agg"
    for child in node.get("children", []):
        _walk_plan(child, table_roots, out)


def read_event_log(log_dir: str, table_roots: list[str]) -> dict:
    """Parse the (uncompressed, single-file) event log in ``log_dir`` into
    jobs (submission time, stage ids) and per-task records."""
    roots = [os.path.abspath(r) for r in table_roots]
    acc_kind: dict[int, str] = {}
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    for fname in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, fname)) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind in (_SQL_START, _SQL_AQE):
                    _walk_plan(ev["sparkPlanInfo"], roots, acc_kind)
                elif kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = {
                        "id": ev["Job ID"],
                        "submit": ev["Submission Time"] / 1000.0,
                        "end": None,
                    }
                    for sid in ev["Stage IDs"]:
                        stage_job[sid] = ev["Job ID"]
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    info = ev["Task Info"]
                    upd = {a["ID"]: a.get("Update") for a in info.get("Accumulables", [])}
                    named = {a["Name"]: a.get("Update") for a in info.get("Accumulables", [])}
                    tasks.append({
                        "stage": ev["Stage ID"],
                        "wall": (info["Finish Time"] - info["Launch Time"]) / 1000.0,
                        "run": float(named.get("internal.metrics.executorRunTime") or 0) / 1000.0,
                        "gc": float(named.get("internal.metrics.jvmGCTime") or 0) / 1000.0,
                        "shuffle_write": int(named.get("internal.metrics.shuffle.write.bytesWritten") or 0),
                        "out_bytes": int(named.get("internal.metrics.output.bytesWritten") or 0),
                        "acc_ids": set(upd),
                    })
    for t in tasks:
        if t["out_bytes"] > 0:
            t["class"] = "write"
        else:
            kinds = {acc_kind[a] for a in t["acc_ids"] if a in acc_kind}
            t["class"] = "read" if "read" in kinds else "agg" if "agg" in kinds else "other"
        t["job"] = stage_job.get(t["stage"])
    return {"jobs": list(jobs.values()), "tasks": tasks}


def attribute(tracer: Tracer, log: dict) -> dict[int, dict]:
    """Per span id: the jobs whose submission fell innermost in it, their
    tasks, and the summed job intervals (for driver-side time)."""
    per: dict[int, dict] = {}
    job_span: dict[int, int] = {}
    for j in log["jobs"]:
        s = tracer.innermost(j["submit"])
        if s is None:
            continue
        job_span[j["id"]] = s["id"]
        rec = per.setdefault(s["id"], {"jobs": [], "tasks": []})
        rec["jobs"].append(j)
    for t in log["tasks"]:
        sid = job_span.get(t["job"])
        if sid is not None:
            per[sid]["tasks"].append(t)
    return per


def job_cover(jobs: list[dict], lo: float, hi: float) -> float:
    """Seconds of [lo, hi] covered by the union of the jobs' intervals."""
    iv = sorted(
        (max(j["submit"], lo), min(j["end"] or hi, hi)) for j in jobs
    )
    covered, cur_lo, cur_hi = 0.0, None, None
    for a, b in iv:
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return covered


def skew(tasks: list[dict]) -> float:
    """Median over stages (with ≥2 tasks) of max ÷ median task wall."""
    by_stage: dict[int, list[float]] = {}
    for t in tasks:
        by_stage.setdefault(t["stage"], []).append(t["wall"])
    ratios = [
        max(w) / statistics.median(w)
        for w in by_stage.values()
        if len(w) >= 2 and statistics.median(w) > 0
    ]
    return statistics.median(ratios) if ratios else 1.0
