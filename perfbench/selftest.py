"""Tiny-size self-test of the benchmark itself.

    python3 perfbench/selftest.py

In one traced session it runs every workload at toy sizes and checks that
its gates pass and that every end-to-end and per-layer metric named in
``BENCHMARK.json`` comes out with a unit. Then it corrupts one data file
of a small table and checks that the replay-parity gate rejects it, which
proves the gate is live. Exits 0 when every check holds.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import pyarrow.compute as pc
import pyarrow.parquet as pq

import run
import workloads
from report import layer_metrics

TINY = {
    "ingest_mor": {"batch_events": 2_000, "batches": 4, "buckets": 2,
                   "compact_every": 3, "setups": 1},
    "ingest_cow_ooo": {"batch_events": 2_000, "batches": 4, "buckets": 2,
                       "setups": 1},
    "serve_stream": {"seed_events": 2_000, "segment_events": 500,
                     "cycles": 2, "buckets": 2, "setups": 1},
    "analytic_sf01": {"sf": 0.001, "setups": 1},
}


def corrupted_table_is_rejected(ctx: workloads.Ctx) -> bool:
    """Replay a small feed, pass the parity gate, then change one row's
    ``commit`` inside a data file: the gate must now fail."""
    from kf_etl_clin_portal_spark.cdc.events import generate_change_events
    from kf_etl_clin_portal_spark.cdc.pipeline import CDCPipeline

    root = os.path.join(ctx.work, "corrupt")
    feed = os.path.join(root, "feed")
    generate_change_events(ctx.spark, 2_000, seed=ctx.seed).write.parquet(feed)
    pipe = CDCPipeline(ctx.spark, os.path.join(root, "table"), num_buckets=2)
    pipe.apply_batch(ctx.spark.read.parquet(feed), batch_id="b0")
    files = workloads.parquet_files(feed)
    workloads.check_parity(ctx, "before corruption", pipe, files, os.path.join(root, "g0"))
    clean = ctx.failed == 0

    data = sorted(
        os.path.join(d, f)
        for d, _, fs in os.walk(os.path.join(pipe.root, "data"))
        for f in fs if f.endswith(".parquet")
    )[0]
    tbl = pq.read_table(data)
    commits = tbl.column("commit").to_pylist()
    commits[0] = "0" * 40
    tbl = tbl.set_column(tbl.schema.get_field_index("commit"), "commit",
                         pc.cast(commits, tbl.schema.field("commit").type))
    pq.write_table(tbl, data)
    workloads.check_parity(ctx, "after corruption", pipe, files, os.path.join(root, "g1"))
    return clean and ctx.failed == 1


def main() -> int:
    sys.path.insert(1, run.ROOT)
    spec = run.load_spec()
    work = os.path.join(run.ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
    os.makedirs(work)
    failures: list[str] = []
    try:
        spark, done = None, []
        try:
            spark, nproc, _ = run.start_session(work, True, "perfbench-selftest")
            for name, fn in workloads.WORKLOADS.items():
                ctx = workloads.Ctx(
                    spark=spark, tracer=workloads.Tracer(),
                    work=os.path.join(work, name), seed=7,
                    trace=True, nproc=nproc, sizes=TINY,
                )
                res = fn(ctx)
                if ctx.failed:
                    failures.append(f"{name}: gates failed: {ctx.problems}")
                produced = set(res.timing(workloads.Tracer.wall)) | {"peak_rss_mb"}  # sampled by run.py
                missing = [m["name"] for m in spec["end_to_end"] if m["name"] not in produced]
                if missing:
                    failures.append(f"{name}: end-to-end metrics missing: {missing}")
                done.append((name, ctx, res))
            ctx = workloads.Ctx(
                spark=spark, tracer=workloads.Tracer(),
                work=os.path.join(work, "corrupt-test"), seed=7,
                trace=False, nproc=nproc, sizes=TINY,
            )
            if not corrupted_table_is_rejected(ctx):
                failures.append(f"parity gate did not reject a corrupted table: {ctx.problems}")
        finally:
            run.stop_engine(spark)

        for name, ctx, res in done:
            metrics, _ = layer_metrics(ctx.tracer, res, os.path.join(work, "eventlog"), 1.0)
            missing = [m["name"] for m in spec["per_layer"] if m["name"] not in metrics]
            if missing:
                failures.append(f"{name}: per-layer metrics missing: {missing}")
        for m in spec["end_to_end"] + spec["per_layer"]:
            if not m.get("unit"):
                failures.append(f"metric {m['name']} has no unit")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for f in failures:
        print("FAIL", f)
    print(json.dumps({"selftest_ok": not failures, "failures": len(failures)}))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
