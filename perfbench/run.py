"""Benchmark entry point: runs one workload and prints one JSON result.

    python3 perfbench/run.py --workload ingest_mor --seed 1 --seconds 8 --trace 0

Run from the repository root. ``--seconds`` is part of the runner's
interface but does not size the run: every workload does a fixed amount
of work (``workloads.SIZES``) whose measured window is longer than 8 s on
a 4-core host. The engine runs in this one process on a
``local[nproc]`` Spark session whose driver heap and shuffle partitions are
derived from the host (see ``host_fit``). All scratch data, Spark local
dirs and the event log live under ``.perfbench_work/`` in the repository
and are removed at exit.

With ``--trace 0`` the result carries every end-to-end metric of
``BENCHMARK.json``; with ``--trace 1`` Spark's event log is on and the
result carries every per-layer metric instead, and the window's self-time
table goes to stderr. Two JSON lines go to stdout before the result, which
is always the last line: the host fingerprint, and the untraced run's
timings as raw wall times together with the stolen share of each phase
(the result's timings have that share removed, see ``spans.py``).
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import tempfile
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def meminfo_mb(key: str) -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith(key + ":"):
                return int(line.split()[1]) // 1024
    raise KeyError(key)


def host_fit(nproc: int, mem_mb: int) -> dict:
    """Spark sizing derived from the host: one local[nproc] driver with an
    eighth of RAM as heap (1-4 GiB), an eighth of the heap as young
    generation, one shuffle partition per core."""
    heap = max(1024, min(4096, mem_mb // 8))
    return {
        "master": f"local[{nproc}]",
        "driver_mem_mb": heap,
        "young_mb": heap // 8,
        "shuffle_partitions": nproc,
    }


def membw_gbs() -> float:
    """Copy bandwidth of a 64 MiB buffer, best of five."""
    import numpy as np

    src = np.ones(8 * 1024 * 1024, dtype=np.float64)
    dst = np.empty_like(src)
    best = float("inf")
    for _ in range(5):
        t0 = time.perf_counter()
        np.copyto(dst, src)
        best = min(best, time.perf_counter() - t0)
    return 2 * src.nbytes / best / 1e9


def git_commit() -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=True,
        )
        return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return None


def fingerprint(nproc: int, fit: dict, spark) -> dict:
    shm = os.statvfs("/dev/shm") if os.path.isdir("/dev/shm") else None
    return {
        "nproc": nproc,
        "mem_total_mb": meminfo_mb("MemTotal"),
        "dev_shm_free_mb": shm.f_bavail * shm.f_frsize // 2**20 if shm else None,
        "membw_gbs": round(membw_gbs(), 2),
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "spark": spark.version,
        "python": platform.python_version(),
        "git_commit": git_commit(),
        "fit": fit,
    }


# task flag of a process that was forked and has not exec()ed since
PF_FORKNOEXEC = 0x40


def proc_table() -> dict[int, tuple[int, int, int, float]]:
    """pid -> (parent pid, task flags, resident pages, age in seconds) of
    every process, each process's values from one read of its ``stat``."""
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    tick = os.sysconf("SC_CLK_TCK")
    procs = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        procs[int(pid)] = (int(f[1]), int(f[6]), int(f[21]), uptime - int(f[19]) / tick)
    return procs


def descendants(root: int, procs: dict | None = None) -> list[int]:
    """Pids of every process below ``root``."""
    procs = proc_table() if procs is None else procs
    out, frontier = [], [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, (pp, *_) in procs.items() if pp == p]
        out += kids
        frontier += kids
    return out


class RssSampler(threading.Thread):
    """Resident set of this process and all its descendants (the Spark
    JVM), sampled every 100 ms."""

    def __init__(self) -> None:
        super().__init__(daemon=True)
        self.samples: list[tuple[float, float]] = []
        self._stop_evt = threading.Event()

    @staticmethod
    def _tree_rss_kb() -> int:
        procs = proc_table()
        me = os.getpid()
        total = procs[me][2]
        for pid in descendants(me, procs):
            _, flags, rss, age = procs[pid]
            # the JVM spawns its helper commands through vfork(): until the
            # child's exec() it shares the JVM's pages and shows its
            # resident size. Those children exec() within milliseconds, so
            # a child that has not exec()ed is counted only once it is a
            # second old (a forked Python worker, which keeps running)
            if not flags & PF_FORKNOEXEC or age >= 1.0:
                total += rss
        return total * os.sysconf("SC_PAGE_SIZE") // 1024

    def run(self) -> None:
        while not self._stop_evt.wait(0.1):
            self.samples.append((time.time(), self._tree_rss_kb() / 1024))

    def peak_before(self, t: float) -> float:
        return max(mb for ts, mb in self.samples if ts <= t)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()


def running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_engine(spark) -> None:
    """Stop the session, then the JVM that served it, and wait until that
    JVM and every other process started under this one have ended.

    ``spark.stop()`` leaves the JVM running until it reads end-of-file on
    its stdin, which without this would happen only after this process
    has exited, so the JVM would outlive the run."""
    from pyspark import SparkContext

    try:
        if spark is not None:
            spark.stop()
    finally:
        left = descendants(os.getpid())
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            gateway.shutdown()
            try:
                proc.stdin.close()
                proc.wait(timeout=60)
            except (OSError, subprocess.TimeoutExpired):
                proc.kill()
                proc.wait()
        for pid in left:
            if running(pid):
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        deadline = time.monotonic() + 30
        while any(running(pid) for pid in left) and time.monotonic() < deadline:
            time.sleep(0.05)
        for pid in left:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def emit(metrics: dict, spec_list: list, correct: bool, attempted: int, failed: int) -> None:
    missing = [m["name"] for m in spec_list if m["name"] not in metrics]
    if missing:
        raise RuntimeError(f"metrics not produced: {missing}")
    out = {m["name"]: {"value": float(metrics[m["name"]]), "unit": m["unit"]}
           for m in spec_list}
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": out}), flush=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still goes through its clean-up (stop_engine)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, "kf_etl_clin_portal_spark")):
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(1, ROOT)
    spec = load_spec()
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        return run(args, spec, work, workloads)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def start_session(work: str, trace: bool, app_name: str):
    """Point every scratch location of the engine, Spark and the JVM at
    ``work`` and start the host-fitted session (with the event log under
    ``work/eventlog`` when ``trace``). Returns (spark, nproc, fit)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.environ["SPARK_LOCAL_DIRS"] = \
        os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable

    nproc = len(os.sched_getaffinity(0))
    fit = host_fit(nproc, meminfo_mb("MemTotal"))
    extra = {
        "spark.driver.memory": f"{fit['driver_mem_mb']}m",
        # the whole heap is reserved up front (no GC-time-driven resizing)
        # and the young generation is fixed, but nothing is pre-touched:
        # the resident heap is then the young generation plus what the
        # engine keeps in the old one, not a share set by GC timing
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
            f"-Xms{fit['driver_mem_mb']}m -Xmn{fit['young_mb']}m"
        ),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    from kf_etl_clin_portal_spark.session import build_session

    spark = build_session(
        app_name=app_name, master=fit["master"],
        shuffle_partitions=fit["shuffle_partitions"], extra_conf=extra,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, nproc, fit


def run(args, spec: dict, work: str, workloads) -> int:
    rss = RssSampler()
    rss.start()
    tracer = workloads.Tracer()
    spark = None
    ctx = None
    try:
        with tracer.span("session.start") as s:
            spark, nproc, fit = start_session(
                work, bool(args.trace), f"perfbench-{args.workload}"
            )
        session_s = tracer.dur(s)
        print(json.dumps({"host": fingerprint(nproc, fit, spark)}), flush=True)

        ctx = workloads.Ctx(
            spark=spark, tracer=tracer, work=work, seed=args.seed,
            trace=bool(args.trace), nproc=nproc,
            sizes=workloads.SIZES,
        )
        res = workloads.WORKLOADS[args.workload](ctx)
        for p in ctx.problems:
            print(f"GATE FAILED {p}", file=sys.stderr)
        print("phases (s, stolen share): " + ", ".join(
            f"{s['name']}={tracer.dur(s):.2f} ({tracer.stolen_share(s):.0%})"
            for s in tracer.spans if s["parent"] is None and s["end"] is not None
        ), file=sys.stderr)
    except Exception:
        traceback.print_exc()
        attempted = ctx.attempted if ctx else 0
        failed = ctx.failed if ctx else 0
        print(json.dumps({"correct": False, "attempted": attempted + 1,
                          "failed": failed + 1, "metrics": {}}), flush=True)
        return 1
    finally:
        stop_engine(spark)
        rss.stop()

    correct = ctx.failed == 0
    if args.trace:
        from report import layer_metrics

        metrics, rows = layer_metrics(
            tracer, res, os.path.join(work, "eventlog"), session_s
        )
        print(f"{args.workload}: window self time (s)", file=sys.stderr)
        for name, secs in rows:
            print(f"  {name:40s} {secs:9.3f}", file=sys.stderr)
        emit(metrics, spec["per_layer"], correct, ctx.attempted, ctx.failed)
    else:
        # the gates' own memory (oracle frames, audits) is not the engine's
        gates_start = tracer.named("gates")[0]["start"]
        metrics = dict(res.timing(tracer.dur), peak_rss_mb=rss.peak_before(gates_start))
        print(json.dumps({
            "raw_wall": res.timing(tracer.wall),
            "stolen_share": [[s["name"], tracer.stolen_share(s)] for s in tracer.spans
                             if s["parent"] is None and s["end"] is not None],
        }), flush=True)
        emit(metrics, spec["end_to_end"], correct, ctx.attempted, ctx.failed)
    return 0


if __name__ == "__main__":
    sys.exit(main())
