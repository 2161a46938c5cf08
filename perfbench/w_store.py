"""store_lifecycle: the rep store's write paths through the CLI.

Set-up bootstraps a rep store with `build-store` from a generated
4,096-doc base corpus with planted exact copies. A round is one `admit`
of a 4,200-doc rotation (exact copies, near copies and fresh docs) and
one `retract` of 50 ids; one `compact-store` follows the last round and
re-buckets the members table. Each CLI command is one op. After each op
the store is checked, untimed, against plain Python: every evidence pair
has exact shingle Jaccard >= the threshold, an admit's evidence holds at
least RECALL_MIN of the batch's planted near-copy pairs, the live group
count equals the number of distinct token streams among live docs, the
live members are exactly the live docs, and no retracted id appears in
live members or in evidence written after its retraction.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time

import gen

ROUND_KINDS = ("admit", "retract", "compact")
ITEM_KINDS = ("admit",)
THRESHOLD = 0.5  # the `admit` default
# share of the planted near-copy pairs an admit's evidence must hold; the
# banded candidate search is approximate, so this is a floor, not 1.0
RECALL_MIN = 0.5

_ADMIT_FNS = ["rep_admission_step", "batch_bucket_vals", "pruned_store_rows",
              "write_table", "write_banded_index", "heal_swap"]
_COMPACT_FNS = ["fold_retractions", "maybe_rebucket_table", "compact_signature_store",
                "compact_banded_index"]
_WRAPPED = sorted(set(_ADMIT_FNS + _COMPACT_FNS + ["retract_docs"]))

LAYER_UNITS = {f"operators.dedup_store.{fn}_s": "s"
               for fn in _ADMIT_FNS + ["retract_docs"] + _COMPACT_FNS}
LAYER_UNITS.update({
    "cli.admit_other_s": "s",
    "spark.admit.jobs": "count",
    "spark.admit.input_bytes": "B",
    "spark.admit.shuffle_bytes": "B",
    "spark.admit.output_bytes": "B",
    "spark.retract.jobs": "count",
    "spark.compact.jobs": "count",
    "spark.compact.output_bytes": "B",
    "store.files": "count",
    "store.bytes_per_doc": "B",
})


def prepare(ctx) -> dict:
    size = f"{gen.BASE_DOCS}+{gen.BATCHES}x{gen.BATCH_DOCS}"
    d, _ = gen.cached(ctx.cache, "corpus", ctx.seed, size,
                      lambda out: gen.corpus(ctx.seed, out))
    docs: dict[int, str] = {}
    for name in sorted(os.listdir(os.path.join(d, "corpus"))):
        with open(os.path.join(d, "corpus", name)) as f:
            for line in f:
                r = json.loads(line)
                docs[r["doc_id"]] = r["text"]
    return {"dir": d, "docs": docs, "store": os.path.join(ctx.work, "store"),
            "evidence": os.path.join(ctx.work, "evidence")}


def _ids(path: str) -> list[int]:
    with open(path) as f:
        return json.load(f)


def _shingles(text: str) -> set[str]:
    t = text.split()
    return {" ".join(t[i:i + 3]) for i in range(len(t) - 2)}


class Checker:
    """The store's expected state, kept in plain Python."""

    def __init__(self, spark, inp) -> None:
        self.spark = spark
        self.inp = inp
        self.live: set[int] = set()
        self.retracted: set[int] = set()
        self.ev_seen: set[str] = set()
        self.recall: list[float] = []

    def admitted(self, path: str) -> None:
        with open(path) as f:
            self.live.update(json.loads(line)["doc_id"] for line in f)

    def check(self, planted=()) -> bool:
        """The store against the expected state. `planted`: the (near
        copy, source) id pairs this op's evidence must mostly hold."""
        import pyarrow.parquet as pq

        from fdblog2clickhouse_spark.operators import dedup_store as ds

        store = self.inp["store"]
        docs = self.inp["docs"]
        ok = True
        ev_dir = self.inp["evidence"]
        if os.path.isdir(ev_dir):
            parts = {p for p in os.listdir(ev_dir) if p.startswith("batch_key=")}
            found = set()
            for p in sorted(parts - self.ev_seen):  # written by this op
                ev = pq.read_table(os.path.join(ev_dir, p)).to_pydict()
                for da, db in zip(ev["da"], ev["db"]):
                    a, b = _shingles(docs[da]), _shingles(docs[db])
                    ok &= len(a & b) / len(a | b) >= THRESHOLD
                    ok &= da not in self.retracted and db not in self.retracted
                    found.add(frozenset((docs[da], docs[db])))
            self.ev_seen |= parts
            # a pair is found when the evidence links the two docs' groups
            # (a group is one distinct text, named by its rep's doc id)
            want = {frozenset((docs[n], docs[s])) for n, s in planted
                    if s not in self.retracted and docs[n] != docs[s]}
            if want:
                self.recall.append(len(want & found) / len(want))
                ok &= self.recall[-1] >= RECALL_MIN
        elif planted:
            ok = False
        groups = ds.live_store_sigs(self.spark, store).count()
        ok &= groups == len({tuple(docs[i].split()) for i in self.live})
        mem = ds.live_members(self.spark, ds.members_path(store), store)
        members = {r.doc_id for r in mem.select("doc_id").collect()}
        ok &= members == self.live and not (members & self.retracted)
        return bool(ok)


def run(spark, ctx, inp) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from fdblog2clickhouse_spark import cli
    from fdblog2clickhouse_spark.operators import dedup_store as ds

    d, store, evidence = inp["dir"], inp["store"], inp["evidence"]
    chk = Checker(spark, inp)
    cli.main(["build-store", os.path.join(d, "base.json"), store])
    # the built store is checked with the first admit's output
    chk.admitted(os.path.join(d, "base.json"))
    if ctx.tracer is not None:
        for fn in _WRAPPED:
            ctx.tracer.wrap(ds, fn, f"operators.dedup_store.{fn}")

    def op(kind: str, rnd: int, argv: list[str], items: int = 0, planted=()) -> None:
        cpu0 = ctx.cpu_s()
        wall = time.time()
        t0 = time.monotonic()
        cli.main(argv)
        dur = time.monotonic() - t0
        cpu = ctx.cpu_s() - cpu0
        ctx.op(kind, rnd, dur, chk.check(planted), items=items, wall=wall, cpu=cpu)

    # the verify side of `admit` holds the docs admitted so far, as it
    # would in production, not the batches still to come
    corpus = os.path.join(ctx.work, "corpus")
    os.makedirs(corpus)
    shutil.copyfile(os.path.join(d, "corpus", "base.json"), os.path.join(corpus, "base.json"))

    ctx.start_measuring()
    rnd = 0
    while rnd < gen.BATCHES and ctx.more_rounds(rnd):
        batch = os.path.join(d, f"batch_{rnd}")
        chk.admitted(os.path.join(batch, "part.json"))
        shutil.copyfile(os.path.join(d, "corpus", f"batch_{rnd}.json"),
                        os.path.join(corpus, f"batch_{rnd}.json"))
        op("admit", rnd, ["admit", batch, store, "--corpus", corpus,
                          "--evidence", evidence], items=gen.BATCH_DOCS,
           planted=_ids(os.path.join(d, f"near_{rnd}.json")))
        ids = _ids(os.path.join(d, f"retract_{rnd}.json"))
        ids_path = os.path.join(ctx.work, f"retract_{rnd}.parquet")
        pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64())}), ids_path)
        chk.live -= set(ids)
        chk.retracted |= set(ids)
        op("retract", rnd, ["retract", store, "--ids", ids_path])
        rnd += 1
    op("compact", rnd - 1, ["compact-store", store])

    files = nbytes = 0
    for top in (store, ds.members_path(store), ds.banded_path(store)):
        for dirpath, _, names in os.walk(top):
            for n in names:
                if n.endswith(".parquet"):
                    files += 1
                    nbytes += os.path.getsize(os.path.join(dirpath, n))
    ctx.store = {"files": files, "bytes_per_doc": nbytes / max(1, len(chk.live))}
    ctx.diag_extra = {"near_pair_recall": [round(r, 4) for r in chk.recall]}

    def p50(kind):
        return statistics.median(o["dur"] for o in ctx.ops if o["kind"] == kind)

    admits = [o for o in ctx.ops if o["kind"] == "admit"]
    ctx.figures.update({
        "admit_docs_per_s": {"value": sum(o["items"] for o in admits)
                             / sum(o["dur"] for o in admits), "unit": "1/s"},
        "admit_p50_s": {"value": p50("admit"), "unit": "s"},
        "retract_p50_s": {"value": p50("retract"), "unit": "s"},
        "compact_s": {"value": p50("compact"), "unit": "s"},
    })


def layers(ctx, ev, inp) -> dict:
    tr = ctx.tracer
    out = {}
    by_kind: dict[str, list[dict]] = {}
    for o in ctx.ops:
        by_kind.setdefault(o["kind"], []).append(o)

    def per_op(kind: str, fn) -> float:
        ops = by_kind[kind]
        return sum(fn(o["wall"], o["wall"] + o["dur"]) for o in ops) / len(ops)

    def spans(name):
        return lambda lo, hi: tr.total(f"operators.dedup_store.{name}", lo, hi)

    def spark_total(key):
        return lambda lo, hi: ev.totals(ev.select(lo=lo, hi=hi))[key]

    for fn in _ADMIT_FNS:
        out[f"operators.dedup_store.{fn}_s"] = per_op("admit", spans(fn))
    out["cli.admit_other_s"] = (statistics.mean(o["dur"] for o in by_kind["admit"])
                                - out["operators.dedup_store.rep_admission_step_s"])
    for key in ("jobs", "input_bytes", "shuffle_bytes", "output_bytes"):
        out[f"spark.admit.{key}"] = per_op("admit", spark_total(key))
    out["operators.dedup_store.retract_docs_s"] = per_op("retract", spans("retract_docs"))
    out["spark.retract.jobs"] = per_op("retract", spark_total("jobs"))
    for fn in _COMPACT_FNS:
        out[f"operators.dedup_store.{fn}_s"] = per_op("compact", spans(fn))
    out["spark.compact.jobs"] = per_op("compact", spark_total("jobs"))
    out["spark.compact.output_bytes"] = per_op("compact", spark_total("output_bytes"))
    out["store.files"] = ctx.store["files"]
    out["store.bytes_per_doc"] = ctx.store["bytes_per_doc"]
    return out
