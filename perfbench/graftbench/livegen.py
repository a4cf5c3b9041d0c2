"""Live stream generator for the `live_tail` workload: a separate process
serving the engine's control plane and data plane over loopback HTTP.

Wire format (the engine's `ControlPlane`):
  GET /topology  ->  "numShards=N\\ncounts=c0,c1,..."
  GET /records?shard=S&from=F&to=T&limit=L  ->  one line per record,
      "pos \\t arrivalMicros \\t key \\t base64(payload JSON)"

Every shard grows at the same fixed rate: record `pos` of a shard becomes
available at `due(pos) = t0 + (pos + 1) * period_us`, and `counts(t)` is
the number of records due by `t`. Counts are computed from the clock on
each request, so the generator is never late by construction; what it
does report is how long it took to answer each request.

A record's content is a pure function of (seed, shard, pos): the payload
carries `ts_us = due(pos)` as its creation stamp. About 5% of records are
planted duplicates: they repeat the payload (same `event_id` and `ts_us`)
of a record 1 to 16 positions earlier on the same shard, as a producer
retry would.
"""
import base64
import json
import os
import sys
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DUP_PERMILLE = 50
MASK = (1 << 64) - 1


def mix(*xs: int) -> int:
    """splitmix64 over the arguments: a stateless, seedable hash."""
    h = 0x9E3779B97F4A7C15
    for x in xs:
        h = (h ^ (x & MASK)) & MASK
        h = (h + 0x9E3779B97F4A7C15) & MASK
        h = ((h ^ (h >> 30)) * 0xBF58476D1CE4E5B9) & MASK
        h = ((h ^ (h >> 27)) * 0x94D049BB133111EB) & MASK
        h ^= h >> 31
    return h


class Schedule:
    """Which records exist when, and what they contain."""

    def __init__(self, seed: int, shards: int, rate: float, t0_us: int):
        self.seed = seed
        self.shards = shards
        self.period_us = max(1, round(shards * 1_000_000 / rate))
        self.t0_us = t0_us

    def count(self, now_us: int) -> int:
        """Records due on each shard by `now_us`."""
        return max(0, (now_us - self.t0_us) // self.period_us)

    def due_us(self, pos: int) -> int:
        return self.t0_us + (pos + 1) * self.period_us

    def dup_of(self, shard: int, pos: int):
        """The earlier position this record repeats, or None."""
        h = mix(self.seed, shard, pos)
        if pos >= 16 and h % 1000 < DUP_PERMILLE:
            return pos - 1 - (h >> 16) % 16
        return None

    def original(self, shard: int, pos: int) -> int:
        while (d := self.dup_of(shard, pos)) is not None:
            pos = d
        return pos

    def event_id(self, shard: int, pos: int) -> int:
        return shard * 1_000_000_000_000 + self.original(shard, pos)

    def payload(self, shard: int, pos: int) -> dict:
        o = self.original(shard, pos)
        h = mix(self.seed, shard, o, 1)
        return {"event_id": shard * 1_000_000_000_000 + o,
                "ts_us": self.due_us(o), "user_id": h % 1000,
                "event_type": EVENT_TYPES[(h >> 10) % 5],
                "value": ((h >> 20) % 100_000) / 100.0,
                "props": {"k": (h >> 40) % 100}}

    def line(self, shard: int, pos: int) -> str:
        p = self.payload(shard, pos)
        body = json.dumps(p, separators=(",", ":")).encode()
        return (f"{pos}\t{self.due_us(pos)}\t{p['user_id']}\t"
                f"{base64.b64encode(body).decode()}")

    def expected(self, frontier):
        """Distinct ids and planted duplicates among positions below
        `frontier[shard]` on every shard."""
        ids, dups = set(), 0
        for shard, upto in enumerate(frontier):
            for pos in range(upto):
                if self.dup_of(shard, pos) is None:
                    ids.add(self.event_id(shard, pos))
                else:
                    dups += 1
        return ids, dups


def serve(schedule: Schedule, port_file: str, log_file: str) -> None:
    pages, polls = [], []
    lock = threading.Lock()

    class Handler(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.0"

        def log_message(self, *args):
            pass

        def do_GET(self):
            start = time.time()
            url = urlparse(self.path)
            now_us = int(start * 1e6)
            n = schedule.count(now_us)
            if url.path == "/topology":
                body = (f"numShards={schedule.shards}\ncounts="
                        + ",".join([str(n)] * schedule.shards))
                kind = polls
            elif url.path == "/records":
                q = {k: int(v[0]) for k, v in parse_qs(url.query).items()}
                hi = min(q["to"], q["from"] + q["limit"], n)
                body = "\n".join(schedule.line(q["shard"], p)
                                 for p in range(q["from"], hi))
                kind = pages
            elif url.path == "/stop":
                body = "bye"
                kind = None
                threading.Thread(target=httpd.shutdown).start()
            else:
                self.send_error(404)
                return
            data = body.encode()
            self.send_response(200)
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)
            if kind is not None:
                with lock:
                    kind.append((int(start * 1e6), int(time.time() * 1e6)))

    httpd = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    httpd.daemon_threads = True

    def orphan_watch(parent=os.getppid()):
        # stop serving if the benchmark process that started us is gone
        while os.getppid() == parent:
            time.sleep(0.5)
        httpd.shutdown()
    threading.Thread(target=orphan_watch, daemon=True).start()
    with open(port_file + ".tmp", "w") as f:
        f.write(str(httpd.server_address[1]))
    os.replace(port_file + ".tmp", port_file)
    httpd.serve_forever()
    httpd.server_close()
    with open(log_file, "w") as f:
        json.dump({"pages": pages, "polls": polls}, f)


if __name__ == "__main__":
    seed, shards, rate, t0_us = (int(sys.argv[1]), int(sys.argv[2]),
                                 float(sys.argv[3]), int(sys.argv[4]))
    serve(Schedule(seed, shards, rate, t0_us), sys.argv[5], sys.argv[6])
