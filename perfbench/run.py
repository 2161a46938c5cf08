"""Benchmark entry point.

    python3 perfbench/run.py --workload trace_ingest --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One workload runs per process, in a
closed loop with one operation in flight. The inputs are generated from
--seed before the clock starts, then the program's Spark session comes
up (at most nproc cores) and each part of the workload runs untimed
warm-up work, then timed rounds (whole rounds only) until its share of
--seconds has passed. The last
line of stdout is one JSON object: correct, attempted, failed and the
metrics (end-to-end ones with --trace 0, per-layer ones with --trace 1).
The line before it holds the workload's own named figures and machine
diagnostics (CPU steal, load average, Spark's default parallelism).
"""

from __future__ import annotations

import argparse
import contextlib
import functools
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import tracing  # noqa: E402

# each workload is one or more parts, run in this order in one session
WORKLOADS = {
    "trace_ingest_olap": ("trace_ingest", "trace_olap"),
    "store_lifecycle": ("store_lifecycle",),
    "trace_ingest": ("trace_ingest",),
    "trace_olap": ("trace_olap",),
}
# the workloads BENCHMARK.json lists; the single parts also run by name
LISTED = ("trace_ingest_olap", "store_lifecycle")
HARD_LIMIT_S = 170  # a run must end within 180 s; past this it aborts

# the gated end-to-end metrics. Op costs are CPU time: on a shared VM the
# wall time of an op follows the hypervisor's CPU steal (README), so the
# wall-time figures op_p50_geomean_s and items_per_s go on the side line.
END_TO_END = {
    "setup_s": "s",
    "cpu_ms_per_item": "ms",
    "op_cpu_p50_geomean_s": "s",
    "peak_pss_mb": "MB",
}


def _modules(workload: str) -> list:
    import w_ingest
    import w_olap
    import w_store

    parts = {"trace_ingest": w_ingest, "trace_olap": w_olap, "store_lifecycle": w_store}
    return [parts[p] for p in WORKLOADS[workload]]


def per_layer_units(workload: str) -> dict[str, str]:
    """The per-layer metrics a traced run reports, with units: those of
    every listed workload (a layer the workload does not touch reads 0)
    plus the workload's own."""
    units = {"spark.executor_busy_share": "share"}
    for w in LISTED + (workload,):
        for mod in _modules(w):
            units.update(mod.LAYER_UNITS)
    return units


class Ctx:
    """What a workload gets: run settings, directories, the tracer (None
    when untraced) and the op ledger it appends to."""

    def __init__(self, args, root: str) -> None:
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.root = root
        self.work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
        self.cache = os.path.join(root, ".perfbench_cache")
        self.tracer = tracing.Tracer() if self.trace else None
        self.ops: list[dict] = []
        self.t_start = 0.0
        self.t_mark = 0.0  # end of set-up's last stretch so far
        self.t_measure = None
        self.part_seconds = args.seconds
        self.rounds: int | None = None  # set by the first part of a workload
        self.setup_s = 0.0
        self.setup_parts: list[float] = []  # each part's set-up, for the side line
        self.round_kinds: tuple[str, ...] = ()
        self.item_kinds: tuple[str, ...] = ()  # op kinds whose items are counted
        self.exclude_pids: set[int] = set()
        self.global_ok = True
        self.figures: dict[str, dict] = {}
        self.diag_extra: dict = {}
        # set-up of later parts that the first part runs in a thread
        # alongside its own set-up
        self.concurrent_setup: list = []

    def start_measuring(self) -> None:
        """Called right before a part's first timed op: the set-up since
        the run started, or since the previous part stopped measuring,
        ends here."""
        self.t_measure = time.monotonic()
        self.setup_parts.append(round(self.t_measure - self.t_mark, 3))
        self.setup_s += self.t_measure - self.t_mark

    def stop_measuring(self) -> None:
        """Called after a part's last timed op; what follows until the
        next part starts measuring is set-up again."""
        self.t_mark = time.monotonic()

    def more_rounds(self, done: int) -> bool:
        """Whether a part starts another round after `done` rounds. The
        first part runs whole rounds until its share of --seconds has
        passed; later parts run as many rounds as it did, so every run
        attempts whole rounds of the same ops."""
        if self.rounds is not None:
            return done < self.rounds
        return done == 0 or time.monotonic() - self.t_measure < self.part_seconds

    def end_rounds(self, done: int) -> None:
        if self.rounds is None:
            self.rounds = done

    def cpu_s(self) -> float:
        return tracing.tree_cpu_s(self.exclude_pids)

    def op(self, kind: str, rnd: int, dur: float, ok: bool, items: int = 0,
           wall: float | None = None, cpu: float = 0.0) -> dict:
        rec = {"kind": kind, "round": rnd, "dur": dur, "ok": ok, "items": items,
               "wall": wall if wall is not None else time.time() - dur, "cpu": cpu}
        self.ops.append(rec)
        return rec


def _configure_env(ctx: Ctx) -> None:
    os.makedirs(ctx.work, exist_ok=True)
    tmp = os.path.join(ctx.work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    nproc = len(os.sched_getaffinity(0))
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ctx.root + (os.pathsep + path if path else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(ctx.work, "spark-local")
    os.environ["TMPDIR"] = tmp
    submit = [
        "--conf", f"spark.sql.warehouse.dir={os.path.join(ctx.work, 'warehouse')}",
        "--conf", f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}",
    ]
    if ctx.trace:
        submit += tracing.event_log_conf(os.path.join(ctx.work, "eventlog"))
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])


def _stop_spark(spark) -> None:
    """Stop the session, then end the JVM and wait for every process this
    run started (JVM, Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        with contextlib.suppress(Exception):
            gateway.shutdown()
    if proc is not None:
        with contextlib.suppress(Exception):
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)
    _reap_descendants()


def _reap_descendants(grace: float = 15.0) -> None:
    end = time.monotonic() + grace
    while True:
        left = tracing.descendants(os.getpid())
        with contextlib.suppress(ChildProcessError):
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        if not left:
            return
        if time.monotonic() > end:
            for p in left:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(p, signal.SIGKILL)
            grace, end = 0.0, time.monotonic() + 5
        time.sleep(0.1)


def _kill_tree_and_exit() -> None:
    print(f"perfbench: run exceeded {HARD_LIMIT_S} s, aborting", file=sys.stderr, flush=True)
    for p in tracing.descendants(os.getpid()):
        with contextlib.suppress(ProcessLookupError):
            os.kill(p, signal.SIGKILL)
    os._exit(3)


def end_to_end(ctx: Ctx, peak_pss_mb: float) -> dict:
    """The end-to-end metrics, the same for every workload, over the timed
    ops. CPU time is that of this process and its descendants (JVM, Python
    workers; not the fake endpoint) during the op.
    cpu_ms_per_item: median over the ops of the item kinds (seeded
    rotations: events, admits: docs) of CPU ms per item; a workload with
    no such ops (trace_olap alone) counts each op as one item.
    op_cpu_p50_geomean_s: geometric mean over op kinds of each kind's
    median CPU seconds per op.
    op_p50_geomean_s, items_per_s: the same in wall time (side line only).
    setup_s; peak_pss_mb: the peak proportional set size of the JVM and
    its Python workers. Medians, so that one op slowed by the machine
    moves them less."""
    timed = [o for o in ctx.ops if o["kind"] in ctx.round_kinds]
    wall: dict[str, list[float]] = {}
    cpu: dict[str, list[float]] = {}
    for o in timed:
        wall.setdefault(o["kind"], []).append(o["dur"])
        cpu.setdefault(o["kind"], []).append(o["cpu"])
    carrying = ([o for o in timed if o["kind"] in ctx.item_kinds]
                or [dict(o, items=1) for o in timed])
    return {
        "setup_s": ctx.setup_s,
        "cpu_ms_per_item": statistics.median(1000 * o["cpu"] / o["items"] for o in carrying),
        "op_cpu_p50_geomean_s": tracing.geomean(statistics.median(v) for v in cpu.values()),
        "peak_pss_mb": peak_pss_mb,
        "op_p50_geomean_s": tracing.geomean(statistics.median(v) for v in wall.values()),
        "items_per_s": statistics.median(o["items"] / o["dur"] for o in carrying),
    }


def busy_share(ctx: Ctx, ev: tracing.EventLog, cores: int) -> float:
    run_ms = 0
    wall = 0.0
    for o in ctx.ops:
        run_ms += ev.totals(ev.select(lo=o["wall"], hi=o["wall"] + o["dur"]))["run_ms"]
        wall += o["dur"]
    return run_ms / 1000.0 / (wall * cores) if wall else 0.0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(prog="perfbench")
    p.add_argument("--workload", required=True, choices=list(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    root = os.getcwd()
    # a terminated run still stops its processes and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(root, "fdblog2clickhouse_spark", "cli.py")):
        print("perfbench: run from the root of a checkout of the repository "
              "(fdblog2clickhouse_spark/ not found here)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    watchdog = threading.Timer(HARD_LIMIT_S, _kill_tree_and_exit)
    watchdog.daemon = True
    watchdog.start()

    mods = _modules(args.workload)
    ctx = Ctx(args, root)
    ctx.round_kinds = tuple(k for mod in mods for k in mod.ROUND_KINDS)
    ctx.item_kinds = tuple(k for mod in mods for k in getattr(mod, "ITEM_KINDS", ()))
    ctx.part_seconds = args.seconds / len(mods)
    _configure_env(ctx)
    try:
        # untimed: generation is not set-up
        inputs = [mod.prepare(ctx) for mod in mods]

        ctx.t_start = ctx.t_mark = time.monotonic()
        cpu0, load0 = tracing.cpu_times(), tracing.loadavg()
        sampler = tracing.MemSampler(exclude=ctx.exclude_pids).start()
        with contextlib.redirect_stdout(sys.stderr):
            from fdblog2clickhouse_spark.session import get_spark

            spark = get_spark("perfbench")
            spark.sparkContext.setLogLevel("ERROR")
            parallelism = spark.sparkContext.defaultParallelism
            ctx.concurrent_setup = [
                functools.partial(mod.concurrent_setup, spark, ctx, inp)
                for mod, inp in zip(mods[1:], inputs[1:])
                if hasattr(mod, "concurrent_setup")]
            try:
                for mod, inp in zip(mods, inputs):
                    mod.run(spark, ctx, inp)
            finally:
                peak = sampler.stop()
                diag = tracing.machine_diagnostics(cpu0, load0, parallelism)
                if ctx.tracer is not None:
                    ctx.tracer.unwrap()
                _stop_spark(spark)
        metrics = end_to_end(ctx, peak)
        if ctx.trace:
            ev = tracing.EventLog(os.path.join(ctx.work, "eventlog"))
            units = per_layer_units(args.workload)
            layer = {k: 0.0 for k in units}
            layer["spark.executor_busy_share"] = busy_share(ctx, ev, parallelism)
            for mod, inp in zip(mods, inputs):
                layer.update(mod.layers(ctx, ev, inp))
            out_metrics = {k: {"value": float(v), "unit": units[k]} for k, v in layer.items()}
        else:
            out_metrics = {k: {"value": float(metrics[k]), "unit": u}
                           for k, u in END_TO_END.items()}
        failed = sum(1 for o in ctx.ops if not o["ok"])
        side = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                "figures": ctx.figures, "end_to_end": metrics,
                "setup_parts_s": ctx.setup_parts,
                "diagnostics": dict(diag, **ctx.diag_extra),
                "op_s": {k: [round(o["dur"], 3) for o in ctx.ops if o["kind"] == k]
                         for k in dict.fromkeys(o["kind"] for o in ctx.ops)},
                "op_cpu_s": {k: [round(o["cpu"], 3) for o in ctx.ops if o["kind"] == k]
                             for k in dict.fromkeys(o["kind"] for o in ctx.ops)}}
        print(json.dumps(side))
        print(json.dumps({"correct": ctx.global_ok, "attempted": len(ctx.ops),
                          "failed": failed, "metrics": out_metrics}), flush=True)
        return 0
    finally:
        _reap_descendants()
        shutil.rmtree(ctx.work, ignore_errors=True)
        watchdog.cancel()


if __name__ == "__main__":
    sys.exit(main())
