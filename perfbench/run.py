"""Benchmark for the vacancy_analyser_spark engine.

    python3 perfbench/run.py --workload corpus_dedup --seed 1 --seconds 5 --trace 0

Runs one workload (see ``workloads.py``) closed-loop with one client on
``local[nproc]``, from the root of a source checkout. The seed fixes every
input; inputs are generated before any timing. ``--trace 0`` measures the
end-to-end metrics named in ``BENCHMARK.json``; ``--trace 1`` runs the
cycles in a session with an uncompressed Spark event log, with the span
wrappers switched on and off in alternate cycles, and reports the per-layer
metrics of the traced cycles plus the tracing overhead (traced against
untraced cycle wall).

Lines before the last describe the host and every metric by name and unit,
including the workload's own named metrics. The last line is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. Any wrong output
(oracle mismatch, generator-truth mismatch, failed guard or op) makes
``correct`` false and the exit code 1. Everything is written under
``perfbench/.work`` and removed at the end, except the span dump of a
traced run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
PACKAGE = "vacancy_analyser_spark"
#: The session is started this many times, each in a new JVM, during
#: set-up; session.start_s is the median. A cold start takes 5-11 s on a
#: 4-core host; more starts would not fit the runs into the benchmark's
#: time budget.
SESSION_STARTS = 2
#: DuckDB threads for the oracle side of the checks, which runs in the
#: background while the Spark side of the checks runs.
DUCK_THREADS = 4
#: A run that has not ended after this many seconds plus twice ``--seconds``
#: (a traced run measures for twice ``--seconds``) is stopped and fails.
DEADLINE_MARGIN_S = 160
#: Per-layer metrics that are not summed over a cycle.
NOT_PER_CYCLE = {
    "session.start_s", "spark.task_skew", "plans.dedup.pair_yield", "plans.dedup.candidate_rows",
    "plans.similarity.index_files", "plans.similarity.delete_rewrite_ratio",
    "operators.merge.changed_share", "trace.overhead_share",
}


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


class Op:
    __slots__ = ("name", "kind", "wall", "ok", "period")

    def __init__(self, name, kind, wall, ok, period):
        self.name, self.kind, self.wall, self.ok, self.period = name, kind, wall, ok, period


class Ctx:
    """State shared by the run loop and a workload."""

    def __init__(self, seed: int, work_dir: str, tag: str):
        self.seed = seed
        self.work_dir = work_dir
        self.input_dir = os.path.join(work_dir, tag)
        self.spark = None
        self.specs = {}
        self.ops: list[Op] = []
        #: "warmup" (untimed), "timed" (the end-to-end measurement), or
        #: "untraced" / "traced" (alternate cycles of a traced run)
        self.period = "warmup"
        #: a traced run (--trace 1)
        self.tracing = False
        self.cycle_walls: list[float] = []
        self.attempted = 0
        self.failures: list[str] = []
        self.log = None
        self._pool = None
        self._oracles: dict = {}
        self._t0 = time.perf_counter()

    # -- correctness -------------------------------------------------------
    def expect(self, ok: bool, msg: str) -> None:
        self.attempted += 1
        if not ok:
            self.failures.append(msg)
            log(f"FAILED: {msg}")

    def duck(self, views: dict[str, str]):
        import duckdb

        con = duckdb.connect(config={"threads": DUCK_THREADS})
        for name, src in views.items():
            if not src.startswith("("):
                src = f"read_parquet('{src}')"
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM {src}")
        return con

    def start_oracles(self, jobs: dict) -> None:
        """Run the oracle side of the checks on a background thread."""
        self._pool = ThreadPoolExecutor(max_workers=1)
        self._oracles = {name: self._pool.submit(fn) for name, fn in jobs.items()}

    def oracle(self, name: str):
        out = self._oracles[name].result()
        self.mark(f"oracle {name} ready")
        return out

    def close(self) -> None:
        if self._pool is not None:
            self._pool.shutdown(wait=True, cancel_futures=True)

    def mark(self, name: str) -> None:
        log(f"[{time.perf_counter() - self._t0:7.2f} s] {name}")

    # -- timed ops ---------------------------------------------------------
    def op(self, name: str, kind: str, fn) -> Op:
        """Run one op and record its wall; traced, the op is the root span."""
        from spans import TRACER

        ok = True
        t = time.perf_counter()
        try:
            with TRACER.span(name, "op"):
                fn()
        except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
            ok = False
            log(f"op {name} failed:\n{traceback.format_exc()}")
        wall = time.perf_counter() - t
        log(f"  op {kind:<16} {name:<24} {wall:7.3f} s {self.period}")
        o = Op(name, kind, wall, ok, self.period)
        self.ops.append(o)
        self.attempted += 1
        if not ok:
            self.failures.append(f"op {name} raised")
        return o

    @property
    def traced(self) -> bool:
        return self.period == "traced"

    def walls(self, kind: str | None = None) -> list[float]:
        """Walls of the successful timed ops of ``kind`` (all kinds if None)."""
        return [o.wall for o in self.ops if o.ok and o.period == "timed" and kind in (None, o.kind)]

    @staticmethod
    def pct(values: list[float], p: int) -> float:
        if not values:
            return 0.0
        if p == 50:
            return statistics.median(values)
        if len(values) == 1:
            return values[0]
        return statistics.quantiles(values, n=100, method="inclusive")[p - 1]

    def spark_of(self, spans) -> dict:
        """Event-log totals of the jobs caused by ``spans`` and their children."""
        from spans import TRACER, descendants, spark_metrics

        ids = {s.id for s in descendants(TRACER.spans, spans)}
        return spark_metrics(self.log, ids, [])


# ---------------------------------------------------------------------------


def host_info(spark) -> dict:
    mem = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem = int(line.split()[1]) * 1024
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_bytes": mem,
        "spark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": sys.version.split()[0],
    }


def fit_host() -> None:
    """Size the engine to this host through its own deployment settings:
    all cores, and a JVM heap of a quarter of physical memory, at most
    4 GB (local mode runs the executors inside that one JVM)."""
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{max(1, min(4, int(gb // 4)))}g"


def session_conf(work_dir: str, event_log: str | None = None) -> dict[str, str]:
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
        })
    return conf


def start_session(get_spark, conf: dict[str, str]):
    spark = get_spark("perfbench", extra_conf=conf)
    spark.range(1).count()
    return spark


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM this process launched, and wait for it."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait()


def run_cycles(ctx: Ctx, wl, seconds: float) -> list[float]:
    """Cycles back to back until ``seconds`` have passed (at least
    ``wl.min_cycles``). Returns the cycle walls."""
    walls = []
    t0 = time.perf_counter()
    while True:
        t = time.perf_counter()
        wl.cycle(ctx)
        walls.append(time.perf_counter() - t)
        if len(walls) >= wl.min_cycles and time.perf_counter() - t0 >= seconds:
            return walls


def run_paired(ctx: Ctx, wl, seconds: float) -> tuple[list[float], list[float]]:
    """One untimed cycle (the first cycle of a session runs slower), then
    untraced and traced cycles in alternation, in blocks of four ordered
    untraced, traced, traced, untraced, so that drift (the lake's index grows
    week by week) weighs on both sides alike. Whole blocks until ``seconds``
    have passed. Returns (untraced walls, traced walls)."""
    from spans import TRACER

    wl.cycle(ctx)
    walls: dict[bool, list[float]] = {False: [], True: []}
    t0 = time.perf_counter()
    i = 0
    while True:
        on = i % 4 in (1, 2)
        TRACER.active, ctx.period = on, "traced" if on else "untraced"
        t = time.perf_counter()
        wl.cycle(ctx)
        walls[on].append(time.perf_counter() - t)
        TRACER.active = False
        TRACER.group(None)
        i += 1
        if i % 4 == 0 and time.perf_counter() - t0 >= seconds:
            return walls[False], walls[True]


def per_layer(ctx: Ctx, wl, session_s: float, untraced: list[float], traced: list[float]) -> dict:
    from spans import TRACER, descendants, spark_metrics

    spans = TRACER.spans
    ops = [s for s in spans if s.layer == "op"]
    ids = {s.id for s in spans}
    out = {"session.start_s": session_s}
    out.update(spark_metrics(ctx.log, ids, [(s.t0, s.t1) for s in ops]))
    out.pop("_in_bytes"), out.pop("_out_rows")

    def total(pred) -> float:
        return sum(s.dur for s in spans if pred(s))

    builds = [s for s in spans if s.layer == "plans"]
    out["plans.build_s"] = total(lambda s: s.layer == "plans")
    eager = {s.id for s in descendants(spans, builds)}
    out["plans.eager_jobs"] = sum(1 for j in ctx.log["jobs"].values() if j["group"] in eager)
    loads = [s for s in spans if s.name == "io.load_table"]
    out["io.load_table_calls"] = len(loads)
    out["io.load_table_s"] = sum(s.dur for s in loads)
    writes = [s for s in spans if "files_written" in s.attrs]
    out["io.write_s"] = sum(s.dur for s in writes)
    out["io.files_written"] = sum(s.attrs["files_written"] for s in writes)
    out["io.bytes_written"] = sum(s.attrs["bytes_written"] for s in writes)
    for phase in ("analysis", "optimization", "planning"):
        out[f"catalyst.{phase}_s"] = sum(s.attrs.get("phases", {}).get(phase, 0.0) for s in spans)
    out["operators.merge.merge_s"] = total(lambda s: s.name == "operators.merge.merge_snapshot")
    out["operators.compaction.compact_s"] = total(
        lambda s: s.name == "operators.compaction.compact_partitions")
    for layer in ("op", "plans", "catalyst", "action", "io", "corpus", "operators", "similarity"):
        out[f"self.{layer}_s"] = 0.0
    for s in spans:
        layer = s.layer.split(".")[-1] if s.layer == "plans.similarity" else s.layer.split(".")[0]
        out[f"self.{layer}_s"] += s.self_s
    out["trace.spans"] = len(spans)
    out.update(wl.layers(ctx, spans))
    n = max(1, len(traced))
    for k in list(out):
        if k not in NOT_PER_CYCLE:
            out[k] = out[k] / n
    out["trace.overhead_share"] = statistics.fmean(traced) / statistics.fmean(untraced) - 1.0
    return out


def run(args, wanted: list[dict], tag: str, work_dir: str) -> int:
    """Everything between argument parsing and clean-up; returns the exit code."""
    try:
        import workloads
        from spans import TRACER, install, read_event_log

        if args.workload not in workloads.WORKLOADS:
            log(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
            return 2
        fit_host()
        if args.trace:
            install(PACKAGE)
        from vacancy_analyser_spark.plans import all_specs
        from vacancy_analyser_spark.session import get_spark

        saved = list(sys.path)
        sys.path.insert(0, os.path.join(ROOT, "tools"))
        from parity import digest
        sys.path[:] = saved
    except ImportError as e:
        log(f"cannot import the engine from {ROOT}: {e}")
        return 2

    ctx = Ctx(args.seed, work_dir, tag)
    ctx.specs, ctx.digest = all_specs(), digest
    ctx.tracing = bool(args.trace)
    wl = workloads.WORKLOADS[args.workload]()
    spark = None
    try:
        wl.generate(ctx)
        ctx.mark("inputs generated")
        conf = session_conf(work_dir)
        starts = []
        for _ in range(SESSION_STARTS):
            stop_jvm(spark)
            t = time.perf_counter()
            spark = start_session(get_spark, conf)
            starts.append(time.perf_counter() - t)
        info = host_info(spark)
        ctx.spark = spark
        t = time.perf_counter()
        wl.prepare(ctx)
        prep_s = time.perf_counter() - t
        session_s = statistics.median(starts)
        setup_s = session_s + prep_s
        ctx.mark(f"set up: session starts {[round(x, 3) for x in starts]} s, prepare {prep_s:.3f} s")

        if args.trace:
            event_dir = os.path.join(work_dir, "eventlog")
            spark.stop()
            spark = ctx.spark = start_session(get_spark, session_conf(work_dir, event_dir))
            TRACER.sc = spark.sparkContext
        ctx.start_oracles(wl.oracles(ctx))
        wl.check(ctx)
        ctx.mark("checked")
        if args.trace:
            untraced, traced = run_paired(ctx, wl, 2 * args.seconds)
            named = {}
        else:
            ctx.period = "timed"
            ctx.cycle_walls = run_cycles(ctx, wl, args.seconds)
            walls = wl.op_walls(ctx)
            metrics = {
                "setup_s": setup_s,
                "op_p50_s": ctx.pct(walls, 50),
                "throughput_per_s": wl.throughput(ctx),
            }
            named = {"setup_s": (setup_s, "s"), **wl.named(ctx)}
        ctx.mark("cycles done")
        wl.verify(ctx)
        ctx.mark("verified")
        stop_jvm(spark)
        spark = None
        ctx.mark("stopped")
        if args.trace:
            ctx.log = read_event_log(event_dir)
            metrics = per_layer(ctx, wl, session_s, untraced, traced)
            TRACER.write(os.path.join(WORK, "traces", f"{args.workload}-s{args.seed}.jsonl"))
    finally:
        ctx.close()
        stop_jvm(spark)

    print("host " + json.dumps(info))
    if args.trace:
        print(f"workload {args.workload} seed {args.seed}: cycle walls untraced "
              f"{[round(w, 3) for w in untraced]} s, traced {[round(w, 3) for w in traced]} s")
    else:
        print(f"workload {args.workload} seed {args.seed}: {len(ctx.cycle_walls)} timed cycles, "
              f"{len(ctx.walls())} ops, {len(walls)} samples of op_p50_s, "
              f"cycle walls {[round(w, 3) for w in ctx.cycle_walls]} s")
    failed_ops = sum(1 for o in ctx.ops if not o.ok)
    named["failed_op_share"] = (failed_ops / max(1, len(ctx.ops)), "share")
    for name, (value, unit) in named.items():
        print(f"named {args.workload} {name} = {value:.6g} {unit}")
    units = {m["name"]: m["unit"] for m in wanted}
    for name, unit in units.items():
        print(f"metric {name} = {metrics.get(name, 0.0):.6g} {unit}")
    extra = sorted(set(metrics) - set(units))
    if extra:
        log(f"metrics computed but not declared in BENCHMARK.json: {extra}")
    result = {
        "correct": not ctx.failures,
        "attempted": max(1, ctx.attempted),
        "failed": len(ctx.failures),
        "metrics": {n: {"value": float(metrics.get(n, 0.0)), "unit": u} for n, u in units.items()},
    }
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    deadline = int(DEADLINE_MARGIN_S + 2 * args.seconds)

    def _timeout(*_):
        raise TimeoutError(f"run exceeded {deadline} s")

    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(deadline)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        wanted = json.load(f)["per_layer" if args.trace else "end_to_end"]

    # every file of this run, temporary ones of this process and its JVM
    # included, stays inside the run's work directory
    tag = f"pb_{args.workload}_{args.seed}_{os.getpid()}"
    work_dir = os.path.join(WORK, tag)
    os.makedirs(os.path.join(work_dir, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work_dir, "tmp")
    warehouse = os.path.join(ROOT, "spark-warehouse")
    had_warehouse = os.path.isdir(warehouse)
    sys.path.insert(0, ROOT)
    try:
        return run(args, wanted, tag, work_dir)
    except TimeoutError as e:
        log(str(e))
        return 3
    finally:
        signal.alarm(0)
        shutil.rmtree(work_dir, ignore_errors=True)
        if not os.listdir(WORK):
            os.rmdir(WORK)
        # layouts the engine materializes for this run's inputs
        if os.path.isdir(warehouse):
            for name in os.listdir(warehouse):
                if tag in name:
                    shutil.rmtree(os.path.join(warehouse, name), ignore_errors=True)
            if not had_warehouse and not os.listdir(warehouse):
                os.rmdir(warehouse)


if __name__ == "__main__":
    sys.exit(main())
