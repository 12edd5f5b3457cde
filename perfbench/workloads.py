"""The four benchmark workloads.

Each workload is a closed loop driven by one client thread: it issues the
next call only after the previous one returned. Every call into the
engine goes through one of its public functions and is wrapped in a span
(see ``spans.py``); the workload's own timings are read back from those
spans. Correctness gates run after the measured window and never inside
it.

A workload returns a :class:`Result`: a function that computes the
end-to-end values (names as in ``BENCHMARK.json``) from its spans with a
given duration function (``Tracer.dur`` or the raw ``Tracer.wall``), the
id of the span that covers its measured window, and the table roots and
event counts the per-layer report needs.
"""

from __future__ import annotations

import glob
import os
import statistics
from dataclasses import dataclass, field
from typing import Callable

import duckdb

from spans import Tracer
from tables import write_tables

# sizes for a full run; the self-test passes smaller ones. Every run does
# this fixed amount of work, not as much as fits in --seconds: a copy-on-
# write batch gets slower as the table grows, so a batch count that
# followed the host's speed moved the medians. ``setups`` is how many
# times a run sets up (setup_s is their median). serve_stream's ~13 s cold
# set-up runs once and it streams two cycles, so that a run of every
# workload fits the time budget.
SIZES = {
    "ingest_mor": {"batch_events": 20_000, "batches": 6, "buckets": 8,
                   "compact_every": 3, "setups": 3},
    "ingest_cow_ooo": {"batch_events": 16_000, "batches": 7, "buckets": 8,
                       "setups": 3},
    "serve_stream": {"seed_events": 20_000, "segment_events": 5_000,
                     "cycles": 2, "buckets": 4, "setups": 1},
    "analytic_sf01": {"sf": 0.01, "setups": 3},
}
LOOKUP_KEYS = 16
_SPARK_BATCH_COL = "bench_batch"

# (query name in __spark_entry__.queries(), module that implements it)
QUERIES = [
    ("event_sessions", "operators.sessionize"),
    ("doc_text_stats", "functions.text"),
    ("doc_redact", "functions.redact"),
    ("simhash", "dedup.simhash"),
    ("embedding_topk", "similarity.ann"),
    ("cdc_envelope_replay", "cdc.envelope"),
    ("cdc_patch_fold", "cdc.patch"),
]


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    work: str
    seed: int
    trace: bool
    nproc: int
    sizes: dict
    attempted: int = 0
    failed: int = 0
    problems: list = field(default_factory=list)

    def op(self, n: int = 1) -> None:
        """Count ``n`` operations that completed without raising."""
        self.attempted += n

    def gate(self, name: str, ok: bool, detail: object = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(f"{name}: {detail}")


@dataclass
class Result:
    timing: Callable[[Callable[[dict], float]], dict]
    window_id: int
    table_roots: list
    main_root: str | None = None
    events_applied: int = 0
    feed_bytes: int = 0
    bytes_written: int = 0
    delta_files: list = field(default_factory=list)
    buckets_touched_frac: list = field(default_factory=list)


# ------------------------------------------------------------------ helpers

def tree_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def parquet_files(path: str) -> list[str]:
    return sorted(glob.glob(os.path.join(path, "*.parquet")))


def link_files(files: list[str], dst: str) -> str:
    """Hard-link ``files`` into a fresh directory (the oracle's input)."""
    os.makedirs(dst)
    for i, f in enumerate(files):
        os.link(f, os.path.join(dst, f"part-{i:05d}.parquet"))
    return dst


def run_setups(ctx: Ctx, setup, repeats: int) -> tuple[list[dict], object]:
    """Run ``setup(i)`` ``repeats`` times; return their spans and the last
    set-up's state (the one the workload runs on)."""
    spans, state = [], None
    for i in range(repeats):
        with ctx.tracer.span("setup", repeat=i) as s:
            state = setup(i)
        spans.append(s)
    return spans, state


def oracle_state(files: list[str]):
    """The DuckDB replay oracle (cdc.oracle) over an explicit file list."""
    from kf_etl_clin_portal_spark.cdc.oracle import ORACLE_REPLAY_SQL

    sql = ORACLE_REPLAY_SQL.format(events=f"read_parquet({files!r})")
    return duckdb.connect().execute(sql).df()


def pick_keys(files: list[str], seed: int) -> list[dict]:
    rows = duckdb.connect().execute(
        f"SELECT DISTINCT repo, path FROM read_parquet({files!r}) "
        f"ORDER BY md5(repo || path || '{seed}') LIMIT {LOOKUP_KEYS}"
    ).fetchall()
    return [{"repo": r, "path": p} for r, p in rows]


def lookup_rows(pipe, keys: list[dict]) -> set:
    rows = pipe.lookup(keys).select("repo", "path", "commit", "seq").collect()
    return {tuple(r) for r in rows}


def scan_counts(pipe) -> dict:
    return {r[0]: r[1] for r in pipe.current().groupBy("lang").count().collect()}


def check_reads(ctx: Ctx, label: str, want, keys, got_lookup, got_scan) -> None:
    """Compare a lookup result and a group-by scan with the oracle state."""
    key_set = {(k["repo"], k["path"]) for k in keys}
    sel = want[[(r, p) in key_set for r, p in zip(want["repo"], want["path"])]]
    exp = {tuple(r) for r in sel[["repo", "path", "commit", "seq"]].itertuples(index=False)}
    ctx.gate(f"{label} lookup", got_lookup == exp, f"{len(got_lookup)} vs {len(exp)} rows")
    exp_scan = {k: int(v) for k, v in want.groupby("lang").size().items()}
    ctx.gate(f"{label} scan", got_scan == exp_scan, f"{got_scan} vs {exp_scan}")


def check_parity(ctx: Ctx, label: str, pipe, files: list[str], gate_dir: str) -> None:
    from kf_etl_clin_portal_spark.cdc.oracle import verify_parity

    res = verify_parity(pipe.current(), link_files(files, gate_dir))
    ctx.gate(f"{label} parity", res["ok"], res)


def delta_file_count(pipe) -> int:
    return sum(1 for f in pipe.table.refresh().state["files"] if f.get("kind") == "delta")


def _batched_feed(ctx: Ctx, root: str, n_events: int, batch_col,
                  one_file: bool = False, **gen_kw) -> tuple:
    """Generate the feed and write it partitioned by batch (``one_file``:
    exactly one file per batch); returns (feed dir, events schema)."""
    from kf_etl_clin_portal_spark.cdc.events import generate_change_events

    with ctx.tracer.span("cdc.events.generate"):
        ev = generate_change_events(
            ctx.spark, n_events, seed=ctx.seed, partitions=ctx.nproc, **gen_kw
        )
        out = ev.withColumn(_SPARK_BATCH_COL, batch_col)
        if one_file:
            out = out.repartition(_SPARK_BATCH_COL)
        feed = os.path.join(root, "feed")
        out.write.partitionBy(_SPARK_BATCH_COL).parquet(feed)
    return feed, ev.schema


def _batch_dir(feed: str, i: int) -> str:
    return os.path.join(feed, f"{_SPARK_BATCH_COL}={i}")


# ------------------------------------------------------------------- ingest

def ingest(ctx: Ctx, workload: str) -> Result:
    """Bulk replay of a pre-materialized feed, one batch per apply_batch.

    ingest_mor: seq-ordered batches into a merge-on-read table, compact()
    after every ``compact_every``-th batch. ingest_cow_ooo: out-of-order
    ``delivery_batch`` batches into the default copy-on-write table.
    """
    from pyspark.sql import functions as F

    from kf_etl_clin_portal_spark.cdc.pipeline import CDCPipeline

    cfg = ctx.sizes[workload]
    mor = workload == "ingest_mor"
    n_batches = cfg["batches"]
    n_events = cfg["batch_events"] * n_batches
    if mor:
        batch_col = F.floor((F.col("seq") - 1) / cfg["batch_events"]).cast("int")
        gen_kw = {}
    else:
        batch_col = F.col("delivery_batch")
        gen_kw = {"n_delivery_batches": n_batches}

    def setup(i):
        root = os.path.join(ctx.work, f"setup{i}")
        feed, schema = _batched_feed(ctx, root, n_events, batch_col, **gen_kw)
        pipe = CDCPipeline(
            ctx.spark, os.path.join(root, "table"), num_buckets=cfg["buckets"],
            merge_strategy="mor" if mor else "union_agg",
        )
        return root, feed, schema, pipe

    setups, (root, feed, schema, pipe) = run_setups(ctx, setup, cfg["setups"])
    tr = ctx.tracer
    applies, events, compacts = [], [], []
    touched = []
    with tr.span("window") as win:
        for i in range(n_batches):
            batch = ctx.spark.read.schema(schema).parquet(_batch_dir(feed, i))
            with tr.span("cdc.pipeline.apply_batch", batch=i) as s:
                res = pipe.apply_batch(batch, batch_id=f"b{i:05d}")
            ctx.op()
            applies.append(s)
            events.append(res.n_events)
            touched.append(res.buckets_touched / cfg["buckets"])
            if mor and (i + 1) % cfg["compact_every"] == 0:
                with tr.span("cdc.pipeline.compact") as c:
                    pipe.compact()
                ctx.op()
                compacts.append(c)

    files = [f for i in range(n_batches) for f in parquet_files(_batch_dir(feed, i))]
    with tr.span("gates"):
        check_parity(ctx, workload, pipe, files, os.path.join(root, "gate"))

    def timing(d):
        walls = [d(s) for s in applies]
        return {
            "setup_s": statistics.median(d(s) for s in setups),
            "rate_per_s": sum(events[1:]) / (sum(walls[1:]) + sum(d(c) for c in compacts)),
            "step_p50_s": statistics.median(walls[1:]),
            "cold_step_s": walls[0],
        }

    return Result(
        timing=timing,
        window_id=win["id"],
        table_roots=[pipe.root],
        main_root=pipe.root,
        events_applied=sum(events),
        feed_bytes=sum(os.path.getsize(f) for f in files),
        bytes_written=tree_bytes(pipe.root),
        buckets_touched_frac=touched,
    )


# -------------------------------------------------------------------- serve

class _TimedPipeline:
    """What the stream sees as its pipeline: the fact pipeline, with each
    apply_batch wrapped in a span."""

    def __init__(self, pipe, tracer: Tracer):
        self._pipe, self._tracer = pipe, tracer

    @property
    def table(self):
        return self._pipe.table

    def apply_batch(self, events, batch_id, prune=None):
        with self._tracer.span("cdc.pipeline.apply_batch"):
            return self._pipe.apply_batch(events, batch_id=batch_id, prune=prune)


def serve(ctx: Ctx) -> Result:
    """A seeded MoR table tailed by a stream of small segments, one segment
    per micro-batch; after each MERGE the benchmark's followers fold the
    batch into an aggregate view and a join view, then serve a k-key
    lookup, a group-by scan of current(), and maybe_compact(). The stream
    runs with availableNow over a fixed ``cycles`` segments.

    The views are created empty in set-up, so the first cycle's polls also
    catch them up on the seeded table (its follower spans carry
    ``initial=True``); that first cycle is the workload's cold step."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from kf_etl_clin_portal_spark.cdc.pipeline import CDCPipeline
    from kf_etl_clin_portal_spark.lake.ivm import audit_agg_view, maintain_agg
    from kf_etl_clin_portal_spark.lake.joinview import audit_join_view, maintain_join
    from kf_etl_clin_portal_spark.streaming.micro_batch import stream_feed_into_table

    cfg = ctx.sizes["serve_stream"]
    spark, tr = ctx.spark, ctx.tracer
    seed_n, seg_n, n_seg = cfg["seed_events"], cfg["segment_events"], cfg["cycles"]
    group_cols, sums = ["repo", "lang"], {"bytes": "length(content)"}
    on = {"repo": "repo"}
    dim_schema = T.StructType([
        T.StructField("seq", T.LongType()), T.StructField("op", T.StringType()),
        T.StructField("repo", T.StringType()), T.StructField("owner", T.StringType()),
        T.StructField("tier", T.IntegerType()),
    ])

    def setup(i):
        root = os.path.join(ctx.work, f"setup{i}")
        seg = F.when(F.col("seq") <= seed_n, F.lit(-1)).otherwise(
            F.floor((F.col("seq") - seed_n - 1) / seg_n)
        ).cast("int")
        feed_all, schema = _batched_feed(
            ctx, root, seed_n + n_seg * seg_n, seg, one_file=True
        )
        # one file per segment, mtimes strictly increasing: the file source
        # hands them out oldest first, one per micro-batch
        feed = os.path.join(root, "stream_in")
        os.makedirs(feed)
        segments = []
        for j in range(n_seg):
            (src,) = parquet_files(_batch_dir(feed_all, j))
            dst = os.path.join(feed, f"seg-{j:05d}.parquet")
            os.rename(src, dst)
            os.utime(dst, (1_700_000_000 + 10 * j,) * 2)
            segments.append(dst)
        seed_files = parquet_files(_batch_dir(feed_all, -1))

        fact = CDCPipeline(spark, os.path.join(root, "fact"),
                           num_buckets=cfg["buckets"], merge_strategy="mor")
        with tr.span("cdc.pipeline.apply_batch"):
            fact.apply_batch(spark.read.schema(schema).parquet(*seed_files), batch_id="seed")
        dim = CDCPipeline(spark, os.path.join(root, "dim"), key_cols=("repo",), num_buckets=2)
        dim_rows = [(r + 1, "upsert", f"repo_{r:04d}", f"team_{r % 7}", r % 3) for r in range(50)]
        with tr.span("cdc.pipeline.apply_batch"):
            dim.apply_batch(spark.createDataFrame(dim_rows, dim_schema), batch_id="dim")
        agg = CDCPipeline(spark, os.path.join(root, "agg"), key_cols=tuple(group_cols), num_buckets=2)
        jv = CDCPipeline(spark, os.path.join(root, "join"), key_cols=("repo", "path"),
                         num_buckets=cfg["buckets"])
        return root, schema, feed, segments, seed_files, fact, dim, agg, jv

    setups, (root, schema, feed, segments, seed_files, fact, dim, agg, jv) = \
        run_setups(ctx, setup, cfg["setups"])
    keys = pick_keys(seed_files, ctx.seed)
    cycles: list[dict] = []
    delta_files: list[int] = []

    def on_entry(batch_df):
        cycles.append({"handler": tr.begin("streaming.handler")})
        return batch_df

    def follow_agg(spark_, table):
        with tr.span("lake.ivm.maintain_agg", initial=len(cycles) == 1):
            maintain_agg(spark_, table, agg, group_cols, sums, source_id="bench-agg")
        ctx.op()

    def follow_join(spark_, table):
        with tr.span("lake.joinview.maintain_join", initial=len(cycles) == 1):
            maintain_join(spark_, table, dim.table, jv, on, source_id="bench-join")
        ctx.op()
        cycles[-1]["to_view"] = tr.mark(cycles[-1]["handler"])

    def serve_lookup(spark_, table):
        with tr.span("cdc.pipeline.lookup"):
            cycles[-1]["lookup_rows"] = lookup_rows(fact, keys)
        ctx.op()

    def serve_scan(spark_, table):
        if ctx.trace:
            delta_files.append(delta_file_count(fact))
        with tr.span("cdc.pipeline.current_scan"):
            cycles[-1]["scan_rows"] = scan_counts(fact)
        ctx.op()

    def compact(spark_, table):
        with tr.span("cdc.pipeline.maybe_compact"):
            fact.maybe_compact()
        tr.end(cycles[-1]["handler"])
        ctx.op()

    view_roots = [fact.root, agg.root, jv.root]
    bytes_before = sum(tree_bytes(r) for r in view_roots)
    with tr.span("window") as win:
        with tr.span("streaming.stream") as stream:
            query = stream_feed_into_table(
                spark, feed, schema, _TimedPipeline(fact, tr),
                os.path.join(root, "checkpoint"), stream_id="serve",
                max_files_per_trigger=1, available_now=True, transform=on_entry,
                followers=[follow_agg, follow_join, serve_lookup, serve_scan, compact],
            )
            query.awaitTermination()
    ctx.op(len(cycles))
    ctx.gate("serve cycles", len(cycles) == n_seg, f"{len(cycles)} of {n_seg}")
    bytes_written = sum(tree_bytes(r) for r in view_roots) - bytes_before

    with tr.span("gates"):
        files = list(seed_files)
        for i, c in enumerate(cycles):
            files.append(segments[i])
            check_reads(ctx, f"serve cycle {i}", oracle_state(files), keys,
                        c["lookup_rows"], c["scan_rows"])
        check_parity(ctx, "serve_stream", fact, files, os.path.join(root, "gate"))
        a = audit_agg_view(spark, fact.table, agg, group_cols, sums)
        ctx.gate("agg view audit", a["ok"], a)
        j = audit_join_view(spark, fact.table, dim.table, jv, on)
        ctx.gate("join view audit", j["ok"], j)

    def timing(d):
        to_view = [d(c["to_view"]) for c in cycles]
        return {
            "setup_s": statistics.median(d(s) for s in setups),
            "rate_per_s": len(cycles) * seg_n / d(stream),
            "step_p50_s": statistics.median(to_view[1:]),
            "cold_step_s": to_view[0],
        }

    return Result(
        timing=timing,
        window_id=win["id"],
        table_roots=view_roots + [dim.root],
        main_root=fact.root,
        events_applied=len(cycles) * seg_n,
        feed_bytes=sum(os.path.getsize(f) for f in segments),
        bytes_written=bytes_written,
        delta_files=delta_files,
    )


# ----------------------------------------------------------------- analytic

def _load_check_oracle():
    """tools/check_oracle.py's result comparison, as the oracle gates use it."""
    import importlib.util

    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "tools", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def analytic(ctx: Ctx) -> Result:
    """One pass over QUERIES in a fresh session, so every query runs cold
    (codegen and JIT included), every result collected to the driver."""
    import __spark_entry__ as entry

    cfg = ctx.sizes["analytic_sf01"]
    tr = ctx.tracer
    qs = entry.queries()

    def setup(i):
        out = os.path.join(ctx.work, f"setup{i}", "tables")
        with tr.span("analytic.tables.generate"):
            rows = write_tables(out, ctx.seed, cfg["sf"])
        # load: Spark lists each table and reads its footers
        for name, n in rows.items():
            got = ctx.spark.read.parquet(os.path.join(out, f"{name}.parquet")).count()
            ctx.gate(f"{name} rows loaded", got == n, f"{got} vs {n}")
        return out

    setups, sf_dir = run_setups(ctx, setup, cfg["setups"])
    results, spans = {}, []
    with tr.span("window") as win:
        for name, _ in QUERIES:
            with tr.span(f"query.{name}") as s:
                results[name] = qs[name](ctx.spark, sf_dir).toPandas()
            ctx.op()
            spans.append(s)

    with tr.span("gates"):
        co = _load_check_oracle()
        oracles = entry.oracle_sql()
        con = duckdb.connect()
        for t in ("events", "documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        for name, _ in QUERIES:
            problems = co.compare(results[name], con.execute(oracles[name]).df(), name)
            ctx.gate(f"{name} vs oracle", not problems, problems)

    def timing(d):
        total = sum(d(s) for s in spans)
        return {
            "setup_s": statistics.median(d(s) for s in setups),
            "rate_per_s": len(spans) / total,
            "step_p50_s": total,
            "cold_step_s": total,
        }

    return Result(
        timing=timing,
        window_id=win["id"],
        table_roots=[],
    )


WORKLOADS = {
    "ingest_mor": lambda ctx: ingest(ctx, "ingest_mor"),
    "ingest_cow_ooo": lambda ctx: ingest(ctx, "ingest_cow_ooo"),
    "serve_stream": serve,
    "analytic_sf01": analytic,
}
