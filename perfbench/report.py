"""Per-layer metrics of a traced run.

Built from the benchmark's spans and the Spark event log (see
``spans.py``). Every name in ``BENCHMARK.json``'s ``per_layer`` list is
emitted for every workload; a layer the workload does not exercise reads
0. Totals are over the measured window unless the name says otherwise.
"""

from __future__ import annotations

import os
import statistics

from spans import Tracer, attribute, job_cover, read_event_log, skew
from workloads import QUERIES, Result, tree_bytes

# window span names whose self time is reported under one layer metric
_SELF_TIME = {
    "cdc.pipeline.apply_batch": "cdc.pipeline.apply_batch_s",
    "cdc.pipeline.compact": "lake.merge.compact_s",
    "cdc.pipeline.maybe_compact": "lake.merge.compact_s",
    "lake.ivm.maintain_agg": "lake.ivm.maintain_agg_s",
    "lake.joinview.maintain_join": "lake.joinview.maintain_join_s",
    "cdc.pipeline.lookup": "cdc.pipeline.lookup_s",
    "cdc.pipeline.current_scan": "cdc.pipeline.current_scan_s",
    "streaming.stream": "streaming.overhead_s",
    "streaming.handler": "streaming.overhead_s",
}
_FOLLOWERS = ("lake.ivm.maintain_agg", "lake.joinview.maintain_join")


def _median_or_zero(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def layer_metrics(tr: Tracer, res: Result, log_dir: str,
                  session_s: float) -> tuple[dict, list[tuple[str, float]]]:
    """Returns (per-layer metric values, the window's self-time table)."""
    log = read_event_log(log_dir, res.table_roots)
    per_span = attribute(tr, log)
    selfs = tr.self_times()
    win = tr.spans[res.window_id]
    in_window = tr.descendants(res.window_id)

    def spans_named(names, pool=None):
        return [s for s in (pool if pool is not None else tr.spans)
                if s["name"] in names and s["end"] is not None]

    def tasks_of(spans):
        return [t for s in spans for sub in [s] + tr.descendants(s["id"])
                for t in per_span.get(sub["id"], {}).get("tasks", [])]

    def jobs_of(spans):
        return [j for s in spans for sub in [s] + tr.descendants(s["id"])
                for j in per_span.get(sub["id"], {}).get("jobs", [])]

    def uncovered(spans):
        """Span time outside every Spark job (steal shared out pro rata)."""
        total = 0.0
        for s in spans:
            wall = s["end"] - s["start"]
            if wall > 0:
                cover = job_cover(jobs_of([s]), s["start"], s["end"])
                total += (wall - cover) * tr.dur(s) / wall
        return total

    m: dict[str, float] = {name: 0.0 for name in set(_SELF_TIME.values())}
    table: dict[str, float] = {}
    for s in in_window:
        label = _SELF_TIME.get(s["name"], s["name"])
        table[label] = table.get(label, 0.0) + selfs[s["id"]]
        if s["name"] in _SELF_TIME:
            m[label] += selfs[s["id"]]
    unaccounted = selfs[win["id"]]

    setups = spans_named({"setup"})
    m["session.start_s"] = session_s
    for span_name, metric in (("cdc.events.generate", "cdc.events.generate_s"),
                              ("analytic.tables.generate", "analytic.tables.generate_s")):
        m[metric] = _median_or_zero(
            sum(tr.dur(s) for s in tr.descendants(u["id"]) if s["name"] == span_name)
            for u in setups
        )
    m["lake.ivm.initial_s"] = sum(
        tr.dur(s) for s in spans_named(set(_FOLLOWERS)) if s.get("initial")
    )

    applies = spans_named({"cdc.pipeline.apply_batch"}, in_window)
    events = max(res.events_applied, 1)
    apply_tasks = tasks_of(applies)
    m["cdc.pipeline.spark_jobs"] = len(jobs_of(applies))
    m["cdc.pipeline.driver_s"] = uncovered(applies)
    m["lake.merge.agg_task_s"] = sum(t["run"] for t in apply_tasks if t["class"] == "agg")
    m["lake.merge.agg_skew"] = skew([t for t in apply_tasks if t["class"] in ("agg", "write")])
    m["lake.merge.shuffle_bytes_per_event"] = sum(t["shuffle_write"] for t in apply_tasks) / events
    m["lake.table.read_task_s"] = sum(t["run"] for t in apply_tasks if t["class"] == "read")
    m["lake.table.write_task_s"] = sum(t["run"] for t in apply_tasks if t["class"] == "write")
    m["lake.table.bytes_written_per_event"] = sum(t["out_bytes"] for t in apply_tasks) / events
    m["lake.merge.buckets_touched_frac"] = _median_or_zero(res.buckets_touched_frac)

    compacts = spans_named({"cdc.pipeline.compact", "cdc.pipeline.maybe_compact"}, in_window)
    m["lake.merge.compact_bytes_rewritten"] = sum(t["out_bytes"] for t in tasks_of(compacts))
    m["lake.table.delta_files"] = statistics.fmean(res.delta_files) if res.delta_files else 0.0
    scans = spans_named({"cdc.pipeline.current_scan"})
    m["lake.merge.resolve_task_s"] = _median_or_zero(
        sum(t["run"] for t in tasks_of([s])) for s in scans
    )
    lookups = spans_named({"cdc.pipeline.lookup"})
    m["read_p50_s"] = _median_or_zero(tr.dur(s) for s in lookups)
    m["scan_p50_s"] = _median_or_zero(tr.dur(s) for s in scans)
    m["lake.merge.lookup_driver_s"] = _median_or_zero(uncovered([s]) for s in lookups)
    m["followers.spark_jobs"] = len(jobs_of(spans_named(set(_FOLLOWERS), in_window)))
    m["spark.gc_s"] = sum(t["gc"] for t in tasks_of([win]))

    log_entries, log_bytes = 0, 0
    if res.main_root:
        log_path = os.path.join(res.main_root, "_log")
        log_entries = sum(1 for f in os.listdir(log_path) if f.endswith(".json"))
        log_bytes = tree_bytes(log_path)
    m["lake.table.log_entries"] = log_entries
    m["lake.table.log_bytes"] = log_bytes
    m["write_amp"] = res.bytes_written / res.feed_bytes if res.feed_bytes else 0.0

    for name, module in QUERIES:
        m[f"query.{module}.{name}.cold_s"] = sum(
            tr.dur(s) for s in spans_named({f"query.{name}"}, in_window))

    m["trace.window_s"] = tr.dur(win)
    m["trace.unaccounted_s"] = unaccounted
    timings = res.timing(tr.dur)
    m["trace.step_p50_s"] = timings["step_p50_s"]
    m["cold_step_s"] = timings["cold_step_s"]
    rows = sorted(table.items(), key=lambda kv: -kv[1]) + [("(unaccounted)", unaccounted)]
    return m, rows
