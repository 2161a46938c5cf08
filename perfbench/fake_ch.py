"""A fake ClickHouse HTTP endpoint, run as a child process.

It accepts `INSERT ... FORMAT JSONEachRow` POSTs and keeps, per
rotation, the POSTs, bytes, rows and the time the last row arrived. When
a rotation is waited for, it parses every line and adds the distinct
event ids, the rows with missing or extra keys and an order-independent
digest of the parsed rows (see gen.row_digest). A rotation is the first
four hex digits of the event id.

    python3 perfbench/fake_ch.py        # prints "PORT <n>" and serves

GET /wait?rot=R&rows=N&timeout=S blocks until rotation R has N rows (or
S seconds pass) and returns its record as JSON; GET /stats returns all.
"""

from __future__ import annotations

import json
import sys
import threading
import time
from datetime import datetime, timedelta, timezone
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

sys.path.insert(0, __file__.rsplit("/", 1)[0])
from gen import row_digest  # noqa: E402

_KEYS = ("severity", "machine", "log_group", "time", "type", "id")
_EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)
_MS = timedelta(milliseconds=1)


def _time_ms(s):
    if not isinstance(s, str):
        return None
    return (datetime.fromisoformat(s) - _EPOCH) // _MS


class Ledger:
    """POST bodies per rotation. A POST is stamped and counted on arrival
    (one micro-batch carries one rotation; its first line names it); the
    rows are parsed and digested when the rotation is waited for, so the
    parsing stays off the timed path."""

    def __init__(self) -> None:
        self.cond = threading.Condition()
        self.rots: dict[int, dict] = {}
        self.bad_posts = 0

    def record(self, body: bytes, query: str) -> None:
        now = time.monotonic()
        first = body.split(b"\n", 1)[0]
        ev_id = json.loads(first).get("id") or "" if first else ""
        rot = int(ev_id[:4], 16) if len(ev_id) == 16 else -1
        rows = body.count(b"\n") + 1 if body else 0
        with self.cond:
            if "FORMAT JSONEachRow" not in query:
                self.bad_posts += 1
            r = self.rots.setdefault(rot, {"rot": rot, "rows": 0, "posts": 0, "bytes": 0,
                                           "last": now, "bodies": []})
            r["rows"] += rows
            r["posts"] += 1
            r["bytes"] += len(body)
            r["last"] = now
            r["bodies"].append(body)
            self.cond.notify_all()

    @staticmethod
    def _digest(r: dict) -> dict:
        """Parse every row: count them, their distinct ids, rows whose keys
        are not exactly the sink's six, rows of another rotation, and the
        order-independent digest of the parsed rows."""
        digest, ids, bad = 0, set(), 0
        for body in r["bodies"]:
            for line in body.decode().split("\n"):
                obj = json.loads(line)
                ev_id = obj.get("id") or ""
                ids.add(ev_id)
                if set(obj) != set(_KEYS) or not ev_id.startswith(f"{r['rot']:04x}"):
                    bad += 1
                row = (obj.get("severity"), obj.get("machine"), obj.get("log_group"),
                       _time_ms(obj.get("time")), obj.get("type"), ev_id)
                digest = (digest + row_digest(row)) & ((1 << 64) - 1)
        out = {k: v for k, v in r.items() if k != "bodies"}
        out.update(digest=digest, ids=len(ids), bad=bad)
        return out

    def wait(self, rot: int, rows: int, timeout: float) -> dict:
        end = time.monotonic() + timeout
        with self.cond:
            while self.rots.get(rot, {}).get("rows", 0) < rows:
                left = end - time.monotonic()
                if left <= 0:
                    break
                self.cond.wait(left)
            r = self.rots.get(rot)
            if r is None:
                return {"rot": rot, "rows": 0}
            r = dict(r, bodies=list(r["bodies"]))
        return self._digest(r)


def serve() -> None:
    ledger = Ledger()

    class Handler(BaseHTTPRequestHandler):
        def do_POST(self):
            n = int(self.headers.get("Content-Length", 0))
            body = self.rfile.read(n)
            q = parse_qs(urlparse(self.path).query)
            ledger.record(body, q.get("query", [""])[0])
            self.send_response(200)
            self.send_header("Content-Length", "0")
            self.end_headers()

        def do_GET(self):
            u = urlparse(self.path)
            q = {k: v[0] for k, v in parse_qs(u.query).items()}
            if u.path == "/wait":
                out = ledger.wait(int(q["rot"]), int(q["rows"]), float(q.get("timeout", 60)))
            else:
                with ledger.cond:
                    out = {"bad_posts": ledger.bad_posts,
                           "rots": [{"rot": r["rot"], "rows": r["rows"]}
                                    for r in ledger.rots.values()]}
            data = json.dumps(out).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

        def log_message(self, *args):
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    srv.daemon_threads = True
    print(f"PORT {srv.server_port}", flush=True)
    srv.serve_forever()


if __name__ == "__main__":
    serve()
