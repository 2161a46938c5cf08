"""Seeded input generator for the benchmark.

Everything here is a pure function of (seed, size): the same seed gives
byte-identical inputs. Outputs are cached under the cache directory the
caller passes, keyed by seed and size, so repeated runs on one seed skip
generation. Nothing here imports Spark or the program: the expected
values the workloads check against are computed in plain Python/NumPy.
"""

from __future__ import annotations

import hashlib
import json
import os
import random

# ------------------------------------------------------------ trace rotations

# FoundationDB rolls a trace file once it exceeds `fdbserver --logsize`,
# 10 MiB by default; a seeded rotation is one such file (~40k events)
ROTATION_BYTES = 10 * 1024 * 1024
QUOTED_EVENTS = 2_000  # events in the fixed quoted-value rotation
_T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
_TYPES = (
    ["Role"] * 8 + ["MachineMetrics"] * 6 + ["ProcessMetrics"] * 6
    + ["NetworkMetrics"] * 4 + ["TLogMetrics"] * 3 + ["StorageMetrics"] * 3
    + ["SlowTask"] * 2 + ["ConnectionClosed", "TraceEventThrottle_Role",
                          "N2_ReadError", "RecoveryState"]
)
_SEVERITIES = [10] * 85 + [20] * 10 + [30] * 4 + [40]
_ROLES = ["SS", "TL", "CP,SS", "RV", "MS,RK,DD", "GP"]


def _machines(rng: random.Random, n: int) -> list[str]:
    return [f"10.{rng.randrange(256)}.{rng.randrange(256)}.{i}:45{i % 10:02d}"
            for i in range(n)]


def row_digest(row: tuple) -> int:
    """64-bit hash of one canonical sink row; the fake endpoint sums the
    same hash over what it receives, so a rotation's multiset of rows is
    compared in O(1) memory."""
    h = hashlib.blake2b(repr(row).encode(), digest_size=8).digest()
    return int.from_bytes(h, "little")


def trace_rotation(seed: int, index: int, path: str, *, quoted: bool = False) -> dict:
    """Write one rotated trace file in FoundationDB's JSON layout and
    return what the sink must deliver for it.

    Each event carries the six fields the sink keeps plus the fields
    FoundationDB adds and the normaliser must drop (DateTime, Roles,
    ThreadID, Elapsed, Extra). Severity and Time are JSON numbers in the
    seeded rotations. The quoted rotation is fixed (it does not depend
    on the seed) and writes every value as a JSON string, as
    FoundationDB's own JSON trace writer does.

    The expected sink row is the reference trim/coerce: severity as int,
    machine, log group, time = round(Time * 1e6) microseconds, type, id.
    On the wire the time is compared at the millisecond resolution the
    sink's JSON encoder writes (see README)."""
    rng = random.Random(f"rot-{0 if quoted else seed}-{index}-{quoted}")
    machines = _machines(rng, 24)
    # skew: a few machines emit most of the events
    mweights = [1.0 / (k + 1) ** 1.2 for k in range(len(machines))]
    us = _T0_US + index * 600_000_000 + rng.randrange(10**6)
    digest = 0
    lines = []
    size = seq = 0
    chunk = 1024  # draws are made a chunk of events at a time
    while (seq < QUOTED_EVENTS) if quoted else (size <= ROTATION_BYTES):
        steps = rng.choices(range(1, 24_000), k=chunk)
        sevs = rng.choices(_SEVERITIES, k=chunk)
        machs = rng.choices(machines, mweights, k=chunk)
        typs = rng.choices(_TYPES, k=chunk)
        roles = rng.choices(_ROLES, k=chunk)
        depths = rng.choices(range(9), k=chunk)
        for k in range(chunk):
            if (seq >= QUOTED_EVENTS) if quoted else (size > ROTATION_BYTES):
                break
            us += steps[k]
            sev, machine, typ = sevs[k], machs[k], typs[k]
            ev_id = f"{index:04x}{seq:012x}"
            t = us / 1e6
            if quoted:
                fields = f'"Severity": "{sev}", "Time": "{t!r}"'
            else:
                fields = f'"Severity": {sev}, "Time": {t!r}'
            line = (
                "{" + fields
                + f', "DateTime": "2024-01-01T00:00:00Z", "Type": "{typ}", '
                f'"ID": "{ev_id}", "Machine": "{machine}", "LogGroup": "default", '
                f'"Roles": "{roles[k]}", "ThreadID": "{rng.getrandbits(40)}", '
                f'"Elapsed": {rng.random():.6f}, "Extra": {{"Depth": {depths[k]}}}}}\n'
            )
            lines.append(line)
            size += len(line)
            seq += 1
            digest += row_digest((sev, machine, "default", us // 1000, typ, ev_id))
    digest &= (1 << 64) - 1
    with open(path, "w") as f:
        f.writelines(lines)
    return {"index": index, "rows": seq, "digest": digest}


# ------------------------------------------------------------ events table

# half the sf0.1 `events` table that bench.py reads (100,000 rows), so
# that a run stays inside the benchmark's time budget (see README)
EVENTS_ROWS = 50_000
_EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
_EVENT_P = [0.5, 0.25, 0.1, 0.05, 0.1]
_USERS = 1500


def events_table(seed: int, out_dir: str, rows: int = EVENTS_ROWS) -> dict:
    """`events` in the test-data schema (event_id, ts, user_id,
    event_type, value, props) spanning four months, with Zipf-skewed
    users and skewed event types. Returns the generator's own per-month
    row counts (yyyymm -> rows)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    span_us = 121 * 86_400 * 1_000_000  # 2024-01-01 .. 2024-04-30
    ts = np.sort(rng.integers(0, span_us, rows)) + _T0_US
    users = (rng.zipf(1.3, rows) % _USERS).astype("int64")
    types = rng.choice(_EVENT_TYPES, rows, p=_EVENT_P)
    value = np.round(rng.random(rows) * 500, 2)
    props = [f'{{"k": {k}}}' for k in rng.integers(0, 100, rows)]
    tab = pa.table({
        "event_id": pa.array(np.arange(rows, dtype="int64")),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(users),
        "event_type": pa.array(types),
        "value": pa.array(value),
        "props": pa.array(props),
    })
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(tab, os.path.join(out_dir, "events.parquet"))
    months = ts.astype("datetime64[us]").astype("datetime64[M]")
    yyyymm = (months.astype("datetime64[Y]").astype(int) + 1970) * 100 + (
        months.astype(int) % 12 + 1
    )
    vals, counts = np.unique(yyyymm, return_counts=True)
    return {int(v): int(c) for v, c in zip(vals, counts)}


# ------------------------------------------------------------ document corpus

# compact-store re-buckets a table once it holds more than 4,096 rows per
# bucket. A 4,096-doc base is the largest the build lays out in its floor
# of two buckets (2,048 rows each), and one 4,200-doc admit less one
# 50-id retract takes the members table past 2 x 4,096 rows, so the
# first compact-store folds the retractions and re-buckets members 2->16.
BASE_DOCS = 4096
BATCH_DOCS = 4200
BATCHES = 3
RETRACT_IDS = 50
_VOCAB = [f"w{i}" for i in range(3000)]


def _fresh(rng: random.Random) -> str:
    return " ".join(rng.choice(_VOCAB) for _ in range(rng.randint(30, 60)))


def _write_docs(path: str, docs: list[tuple[int, str]]) -> None:
    with open(path, "w") as f:
        for doc_id, text in docs:
            f.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")


def corpus(seed: int, out_dir: str) -> dict:
    """A base corpus and admission batches with planted duplicates.

    base: 80% fresh docs, 20% exact copies of earlier base docs.
    batch: 20% exact copies and 20% near copies (two tokens replaced,
    shingle Jaccard well above 0.5) of any earlier doc, 60% fresh.
    retract_<b>: ids drawn from docs admitted before batch b's round
    ends. near_<b>: the planted (near copy, source) id pairs of batch b.
    Layout: base.json, batch_<b>/part.json, corpus/ (base.json and
    batch_<b>.json: the verify side of `admit`, which a run gives the
    files of the docs admitted so far), retract_<b>.json and
    near_<b>.json."""
    rng = random.Random(f"corpus-{seed}")
    nid = 0
    base: list[tuple[int, str]] = []
    for i in range(BASE_DOCS):
        text = rng.choice(base)[1] if base and rng.random() < 0.2 else _fresh(rng)
        base.append((nid, text))
        nid += 1
    os.makedirs(os.path.join(out_dir, "corpus"), exist_ok=True)
    _write_docs(os.path.join(out_dir, "base.json"), base)
    _write_docs(os.path.join(out_dir, "corpus", "base.json"), base)
    seen = list(base)
    retracted: set[int] = set()
    for b in range(BATCHES):
        docs = []
        near = []
        for _ in range(BATCH_DOCS):
            r = rng.random()
            if r < 0.2:
                text = rng.choice(seen)[1]
            elif r < 0.4:
                src_id, src = rng.choice(seen)
                tok = src.split()
                for _ in range(2):
                    tok[rng.randrange(len(tok))] = rng.choice(_VOCAB)
                text = " ".join(tok)
                near.append((nid, src_id))
            else:
                text = _fresh(rng)
            docs.append((nid, text))
            nid += 1
        seen += docs
        bdir = os.path.join(out_dir, f"batch_{b}")
        os.makedirs(bdir, exist_ok=True)
        _write_docs(os.path.join(bdir, "part.json"), docs)
        _write_docs(os.path.join(out_dir, "corpus", f"batch_{b}.json"), docs)
        live = [d for d, _ in seen if d not in retracted]
        ids = sorted(rng.sample(live, RETRACT_IDS))
        retracted.update(ids)
        with open(os.path.join(out_dir, f"retract_{b}.json"), "w") as f:
            json.dump(ids, f)
        with open(os.path.join(out_dir, f"near_{b}.json"), "w") as f:
            json.dump(near, f)
    return {"docs": nid}


# ------------------------------------------------------------ cache

def cached(cache_root: str, kind: str, seed: int, size: int | str, make) -> tuple[str, dict]:
    """Run `make(dir) -> meta` once per (kind, seed, size) and reuse the
    directory afterwards. A half-written entry (no meta file) is redone."""
    d = os.path.join(cache_root, f"{kind}-s{seed}-n{size}")
    meta_path = os.path.join(d, "_meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return d, json.load(f)
    import shutil

    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    meta = make(d)
    with open(meta_path + ".tmp", "w") as f:
        json.dump(meta, f)
    os.replace(meta_path + ".tmp", meta_path)
    return d, meta
