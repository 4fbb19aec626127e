"""Stateful fake of the GraphQL API the weekly sync talks to.

Run as its own process (``python3 perfbench/fake_api.py --state S``) so
the benchmark never times its own server inside the measured process.
It prints ``PORT <n>`` on its first stdout line once it accepts
connections.

GraphQL endpoint ``POST /graphql``:

- ``locations`` / ``users`` / ``hierarchyGroups`` operations page the
  matching connection Relay-style (``first``/``after`` variables,
  ``pageInfo.endCursor``/``hasNextPage``, ``edges[].node``);
- any other operation is a batched mutation
  (``variables.input.records``) answered with one
  ``{"success", "error"}`` result per record. ``locationAdd`` records
  are applied to the ``locations`` connection, so a re-fetch sees them.

Every request sleeps a fixed service time. With ``--fail-every N``,
every N-th mutation POST is rejected with HTTP 503 *before* it is
applied, once per distinct request body, so a retried batch is
accepted and delivery stays exactly-once.

Control endpoints: ``POST /control/reset`` restores the initial state
and zeroes the counters; ``GET /control/stats`` returns the counters;
``GET /control/added`` returns the applied ``locationAdd`` records.
The server exits when its stdin closes, so it never outlives the
process that started it.
"""

from __future__ import annotations

import argparse
import copy
import hashlib
import json
import sys
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

CONNECTIONS = ("locations", "users", "hierarchyGroups")


class ApiState:
    """Connections, counters and the error-injection schedule, guarded
    by one lock (handler threads share it)."""

    def __init__(self, initial: dict, service_s: float, fail_every: int):
        self.initial = initial
        self.service_s = service_s
        self.fail_every = fail_every
        self.lock = threading.Lock()
        self.reset()

    def reset(self) -> None:
        with self.lock:
            self.nodes = {k: copy.deepcopy(self.initial.get(k, [])) for k in CONNECTIONS}
            self.added: list[dict] = []
            self.failed_bodies: set[str] = set()
            self.stats = {
                "requests": 0,
                "page_requests": 0,
                "rows_served": 0,
                "mutation_posts": 0,
                "rejected_posts": 0,
                "records_accepted": {},
                "connections": 0,
                "max_inflight": 0,
                "busy_s": 0.0,
            }
            self.inflight = 0
            self.busy_since = 0.0

    def begin(self) -> None:
        with self.lock:
            if self.inflight == 0:
                self.busy_since = time.perf_counter()
            self.inflight += 1
            self.stats["requests"] += 1
            self.stats["max_inflight"] = max(self.stats["max_inflight"], self.inflight)

    def end(self) -> None:
        with self.lock:
            self.inflight -= 1
            if self.inflight == 0:
                self.stats["busy_s"] += time.perf_counter() - self.busy_since

    def page(self, conn: str, first: int, after: str | None) -> dict:
        with self.lock:
            nodes = self.nodes[conn]
            start = int(after) + 1 if after is not None else 0
            chunk = nodes[start : start + first]
            self.stats["page_requests"] += 1
            self.stats["rows_served"] += len(chunk)
            end = start + len(chunk) - 1
            return {
                "pageInfo": {
                    "hasNextPage": start + len(chunk) < len(nodes),
                    "endCursor": str(end) if chunk else after,
                },
                "edges": [{"cursor": str(start + i), "node": n} for i, n in enumerate(chunk)],
            }

    def mutate(self, op: str, records: list[dict], raw: bytes) -> bool:
        """Apply one mutation batch; False when the POST is rejected."""
        with self.lock:
            self.stats["mutation_posts"] += 1
            if self.fail_every and self.stats["mutation_posts"] % self.fail_every == 0:
                digest = hashlib.sha1(raw).hexdigest()
                if digest not in self.failed_bodies:
                    self.failed_bodies.add(digest)
                    self.stats["rejected_posts"] += 1
                    return False
            acc = self.stats["records_accepted"]
            acc[op] = acc.get(op, 0) + len(records)
            if op == "locationAdd":
                for r in records:
                    self.added.append(r)
                    self.nodes["locations"].append(
                        {
                            "id": f"loc-add-{len(self.added)}",
                            "name": r.get("name"),
                            "remoteId": r.get("remoteId"),
                        }
                    )
            return True


def make_handler(state: ApiState):
    class Handler(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"
        # Without TCP_NODELAY a keep-alive client stalls on delayed ACKs
        # (~40 ms per request); responses also go out in one write.
        disable_nagle_algorithm = True
        counted = False

        def log_message(self, *args):
            pass

        def _send(self, status: int, payload) -> None:
            body = json.dumps(payload).encode()
            head = (
                f"HTTP/1.1 {status} {'OK' if status == 200 else 'Service Unavailable'}\r\n"
                "Content-Type: application/json\r\n"
                f"Content-Length: {len(body)}\r\n\r\n"
            ).encode()
            self.wfile.write(head + body)

        def do_GET(self):
            if self.path == "/control/stats":
                with state.lock:
                    self._send(200, state.stats)
            elif self.path == "/control/added":
                with state.lock:
                    self._send(200, state.added)
            else:
                self._send(404, {"error": "not found"})

        def do_POST(self):
            raw = self.rfile.read(int(self.headers.get("Content-Length", 0)))
            if self.path == "/control/reset":
                state.reset()
                self._send(200, {"ok": True})
                return
            if not self.counted:
                self.counted = True
                with state.lock:
                    state.stats["connections"] += 1
            state.begin()
            try:
                time.sleep(state.service_s)
                body = json.loads(raw)
                op = body.get("operationName") or ""
                variables = body.get("variables") or {}
                if op in CONNECTIONS:
                    page = state.page(op, int(variables.get("first", 100)), variables.get("after"))
                    self._send(200, {"data": {op: page}})
                    return
                records = (variables.get("input") or {}).get("records", [])
                if not state.mutate(op, records, raw):
                    self._send(503, {"errors": [{"message": "transient: retry"}]})
                    return
                results = [{"success": True, "error": None}] * len(records)
                self._send(200, {"data": {op: {"results": results}}})
            finally:
                state.end()

    return Handler


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--state", required=True, help="JSON file with the initial connections")
    ap.add_argument("--service-ms", type=float, default=10.0)
    ap.add_argument("--fail-every", type=int, default=0)
    args = ap.parse_args(argv)
    with open(args.state) as f:
        initial = json.load(f)
    state = ApiState(initial, args.service_ms / 1000.0, args.fail_every)
    server = ThreadingHTTPServer(("127.0.0.1", 0), make_handler(state))
    server.daemon_threads = True
    print(f"PORT {server.server_address[1]}", flush=True)

    def stop_on_eof() -> None:
        sys.stdin.read()
        server.shutdown()

    threading.Thread(target=stop_on_eof, daemon=True).start()
    try:
        server.serve_forever(poll_interval=0.1)
    except KeyboardInterrupt:
        pass
    finally:
        server.server_close()
    return 0


if __name__ == "__main__":
    sys.exit(main())
