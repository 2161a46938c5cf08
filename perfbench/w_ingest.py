"""trace_ingest: the reference's own path, end to end.

`cli.main(["watch", LOG_DIR, ...])` runs the file-source stream into the
ClickHouse JSONEachRow sink, which POSTs to the fake endpoint child
process. Rotated trace files are renamed into LOG_DIR one at a time. An
op starts at the rename and ends when the endpoint has received every
row of that rotation. A round is SEEDED_PER_ROUND seeded 10 MiB
rotations (about 40k events each) and one fixed 2k-event rotation in
FoundationDB's quoted-value layout.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import threading
import time
import urllib.request
from datetime import datetime

import gen

ROUND_KINDS = ("rotation", "rotation_quoted")
ITEM_KINDS = ("rotation",)  # the quoted rotation is a fixed check, not load
SEEDED_PER_ROUND = 4
WARMUP_ROTATIONS = 2
WAIT_TIMEOUT_S = 60

LAYER_UNITS = {
    "streaming.ingest.detect_wait_s": "s",
    "streaming.ingest.list_s": "s",
    "streaming.ingest.plan_s": "s",
    "streaming.ingest.wal_commit_s": "s",
    "streaming.ingest.batch_s": "s",
    "sinks.clickhouse.insert_s": "s",
    "sinks.clickhouse.pre_insert_s": "s",
    "sinks.clickhouse.posts_per_rotation": "count",
    "sinks.clickhouse.bytes_per_event": "B",
    "spark.ingest.jobs_per_rotation": "count",
    "spark.ingest.input_records_per_event": "count",
}


class Endpoint:
    """The fake ClickHouse child process."""

    def __init__(self) -> None:
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(os.path.dirname(__file__), "fake_ch.py")],
            stdout=subprocess.PIPE, text=True,
        )
        line = self.proc.stdout.readline().split()
        if len(line) != 2 or line[0] != "PORT":
            self.close()
            raise RuntimeError("fake endpoint did not start")
        self.url = f"http://127.0.0.1:{line[1]}"

    def get(self, path: str, timeout: float = WAIT_TIMEOUT_S + 10) -> dict:
        with urllib.request.urlopen(self.url + path, timeout=timeout) as r:
            return json.loads(r.read())

    def close(self) -> None:
        self.proc.terminate()
        try:
            self.proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait(timeout=10)


def prepare(ctx) -> dict:
    # rotations are generated per op into the run's own directory (they
    # are large, and a rename consumes them), so nothing is cached here
    d = {k: os.path.join(ctx.work, k) for k in ("logs", "staging", "ckpt")}
    for p in d.values():
        os.makedirs(p, exist_ok=True)
    d["sentinel"] = os.path.join(ctx.work, "watch-done")
    return d


def run(spark, ctx, d) -> None:
    from fdblog2clickhouse_spark import cli
    from fdblog2clickhouse_spark.sinks import clickhouse

    ep = Endpoint()
    ctx.exclude_pids.add(ep.proc.pid)
    os.environ.update(CLICKHOUSE_ADDR=ep.url + "/", CLICKHOUSE_DB="perfbench",
                      CLICKHOUSE_TABLE="trace")
    listener = None
    if ctx.tracer is not None:
        from tracing import progress_listener

        listener = progress_listener()
        spark.streams.addListener(listener)
        ctx.tracer.wrap(clickhouse.ClickHouseHttpSink, "insert", "sinks.clickhouse.insert")

    errors: list[BaseException] = []

    def watch() -> None:
        try:
            cli.main(["watch", d["logs"], "--checkpoint", d["ckpt"],
                      "--completion-file", d["sentinel"]])
        except BaseException as e:  # reported by the main loop
            errors.append(e)

    th = threading.Thread(target=watch, name="watch", daemon=True)
    th.start()
    ctx.ingest = {"rot": []}
    expected: dict[int, int] = {}  # rotation index -> generated rows
    index = 0

    def rotation(rnd: int | None, quoted: bool) -> None:
        nonlocal index
        index += 1
        staged = os.path.join(d["staging"], f"trace.{index:04d}.json")
        exp = gen.trace_rotation(ctx.seed, index, staged, quoted=quoted)
        expected[index] = exp["rows"]
        cpu0 = ctx.cpu_s()
        wall = time.time()
        t0 = time.monotonic()
        os.rename(staged, os.path.join(d["logs"], f"trace.{index:04d}.json"))
        got = ep.get(f"/wait?rot={index}&rows={exp['rows']}&timeout={WAIT_TIMEOUT_S}")
        cpu = ctx.cpu_s() - cpu0
        if got["rows"] < exp["rows"]:
            raise RuntimeError(f"rotation {index}: {got['rows']} of {exp['rows']} rows "
                               f"arrived in {WAIT_TIMEOUT_S} s; watch errors: {errors}")
        if rnd is None:
            return
        ok = (got["rows"] == exp["rows"] and got["ids"] == exp["rows"]
              and got["digest"] == exp["digest"] and got["bad"] == 0)
        dur = got["last"] - t0
        ctx.op("rotation_quoted" if quoted else "rotation", rnd, dur, ok,
               items=got["rows"], wall=wall, cpu=cpu)
        ctx.ingest["rot"].append({"index": index, "wall": wall, "dur": dur,
                                  "posts": got["posts"], "bytes": got["bytes"],
                                  "rows": got["rows"]})

    bg_errors: list[BaseException] = []

    def background(fn) -> None:
        try:
            fn()
        except BaseException as e:  # re-raised by the main thread
            bg_errors.append(e)

    # set-up of the parts that follow, alongside this part's set-up
    bg = [threading.Thread(target=background, args=(fn,), name="setup", daemon=True)
          for fn in ctx.concurrent_setup]
    try:
        for t in bg:
            t.start()
        for _ in range(WARMUP_ROTATIONS):
            rotation(None, False)
        for t in bg:
            t.join()
        if bg_errors:
            raise bg_errors[0]
        if bg:  # the first rotation after that set-up used about twice the CPU
            rotation(None, False)
        ctx.start_measuring()
        rnd = 0
        while ctx.more_rounds(rnd):
            for _ in range(SEEDED_PER_ROUND):
                rotation(rnd, False)
            rotation(rnd, True)
            rnd += 1
        ctx.stop_measuring()
        ctx.end_rounds(rnd)
        # exactly once over the whole run: every rotation written, warm-up
        # ones too, has its generated row count and nothing else arrived,
        # so a later re-delivery of an already checked rotation shows here
        stats = ep.get("/stats")
        ctx.global_ok &= stats["bad_posts"] == 0 and expected == {
            r["rot"]: r["rows"] for r in stats["rots"]}
    finally:
        open(d["sentinel"], "w").close()
        th.join(timeout=60)
        ep.close()
    if th.is_alive() or errors:
        raise RuntimeError(f"watch did not stop cleanly: {errors}")
    ctx.ingest["progress"] = listener.items if listener else []
    seeded = [o for o in ctx.ops if o["kind"] == "rotation"]
    ctx.figures.update({
        "ingest_events_per_s": {"value": sum(o["items"] for o in seeded)
                                / sum(o["dur"] for o in seeded), "unit": "1/s"},
        "rotation_p50_s": {"value": statistics.median(o["dur"] for o in seeded),
                           "unit": "s"},
    })


def _epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def layers(ctx, ev, d) -> dict:
    rots = ctx.ingest["rot"]
    prog = [p for p in ctx.ingest["progress"] if p["rows"] > 0]
    n = len(rots)
    acc = {k: 0.0 for k in LAYER_UNITS}
    for r in rots:
        end = r["wall"] + r["dur"]
        # the micro-batch that carried this rotation: with one rotation in
        # flight, the last batch with rows that started before the rotation
        # was acknowledged. It can start before the rename when its listing
        # ran just after it; the wait then counts as 0.
        batch = next((p for p in reversed(prog) if _epoch(p["timestamp"]) <= end), None)
        if batch is not None:
            dur = batch["dur"]
            acc["streaming.ingest.detect_wait_s"] += max(
                0.0, _epoch(batch["timestamp"]) - r["wall"])
            acc["streaming.ingest.list_s"] += dur.get("latestOffset", 0) / 1000
            acc["streaming.ingest.plan_s"] += dur.get("queryPlanning", 0) / 1000
            acc["streaming.ingest.wal_commit_s"] += dur.get("walCommit", 0) / 1000
            acc["streaming.ingest.batch_s"] += dur.get("addBatch", 0) / 1000
            prog.remove(batch)
        ins = ctx.tracer.total("sinks.clickhouse.insert", r["wall"], end)
        acc["sinks.clickhouse.insert_s"] += ins
        acc["sinks.clickhouse.posts_per_rotation"] += r["posts"]
        acc["sinks.clickhouse.bytes_per_event"] += r["bytes"] / r["rows"]
        t = ev.totals(ev.select(lo=r["wall"], hi=end))
        acc["spark.ingest.jobs_per_rotation"] += t["jobs"]
        acc["spark.ingest.input_records_per_event"] += t["input_records"] / r["rows"]
    out = {k: v / n for k, v in acc.items()}
    out["sinks.clickhouse.pre_insert_s"] = (
        out["streaming.ingest.batch_s"] - out["sinks.clickhouse.insert_s"])
    return out
