"""Stateful fake of the Relay GraphQL API the weekly sync talks to.

Runs in its own process (``python3 fake_api.py STATE.json``): prints
``PORT <n>`` once listening, then serves until stdin closes or it is
killed. At most ``--threads`` connections are served at once; an
idle keep-alive connection is closed after 0.25 s so that it does not
hold a handler thread (clients reconnect, as against a real server).

GraphQL side (``POST /graphql``):

- connection queries (``hierarchyGroups``, ``locations``, ``users``)
  page through the state with Relay cursors, ``first`` nodes a page;
- ``locationAdd`` appends the posted locations to the state, so the
  sync's self-healing re-fetch sees them — except records whose
  ``remoteId`` is listed in the state's ``reject_remote_ids``, which
  are refused per record;
- every other operation is acknowledged record by record;
- a mutation POST whose body digest matches a fixed rule fails on its
  first attempt (a GraphQL ``errors`` envelope) and succeeds when the
  identical body is posted again — the client's retry path.

Control side (``POST /_control``, not counted): ``{"op": "reset"}``
restores the generated state and clears logs and counters;
``{"op": "report"}`` returns counters and the mutation log.
"""

from __future__ import annotations

import argparse
import copy
import hashlib
import json
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from http.server import BaseHTTPRequestHandler, HTTPServer

CONNECTIONS = ("hierarchyGroups", "locations", "users")
PAGE_SIZE = 100


def fails_first_attempt(body: bytes) -> bool:
    """The fixed content rule: one mutation body in eight."""
    return hashlib.sha256(body).digest()[0] % 8 == 0


class FakeApi:
    def __init__(self, state: dict):
        self._initial = state
        self._lock = threading.Lock()
        self.reset()

    def reset(self) -> None:
        with self._lock:
            self.state = {k: copy.deepcopy(self._initial[k]) for k in CONNECTIONS}
            self.reject_ids = frozenset(self._initial.get("reject_remote_ids", ()))
            self.seen_bodies: set[bytes] = set()
            self.applied: dict[str, list] = {}
            self.rejected: list[dict] = []
            self.counters = {
                "requests": 0, "connections": 0, "request_bytes": 0,
                "response_bytes": 0, "busy_s": 0.0, "fetch_calls": 0,
                "mutation_posts": 0, "mutation_posts_ok": 0, "injected_failures": 0,
            }

    def count(self, **deltas) -> None:
        with self._lock:
            for k, v in deltas.items():
                self.counters[k] += v

    def page(self, conn: str, variables: dict) -> dict:
        first = int(variables.get("first") or PAGE_SIZE)
        after = variables.get("after")
        start = int(after.rsplit(":", 1)[1]) + 1 if after else 0
        with self._lock:
            nodes = self.state[conn][start:start + first]
            total = len(self.state[conn])
        edges = [{"cursor": f"{conn}:{start + i}", "node": n} for i, n in enumerate(nodes)]
        end = start + len(nodes)
        return {
            "pageInfo": {
                "hasNextPage": end < total,
                "endCursor": edges[-1]["cursor"] if edges else after,
                "hasPreviousPage": start > 0,
                "startCursor": edges[0]["cursor"] if edges else None,
            },
            "edges": edges,
        }

    def mutate(self, op: str, records: list[dict]) -> list[dict]:
        results = []
        with self._lock:
            log = self.applied.setdefault(op, [])
            for r in records:
                log.append(r)
                if op == "locationAdd" and r.get("remoteId") in self.reject_ids:
                    self.rejected.append(r)
                    results.append({"success": False, "error": "location refused"})
                    continue
                if op == "locationAdd":
                    n = len(self.state["locations"])
                    self.state["locations"].append(
                        {"id": f"loc-added-{n}", "name": r.get("name"),
                         "remoteId": r.get("remoteId"), "hierarchyGroup": None}
                    )
                results.append({"success": True, "error": None})
        return results

    def handle(self, body: bytes) -> dict:
        req = json.loads(body)
        op = req.get("operationName") or ""
        variables = req.get("variables") or {}
        if op in CONNECTIONS:
            self.count(fetch_calls=1)
            return {"data": {op: self.page(op, variables)}}
        self.count(mutation_posts=1)
        with self._lock:
            inject = body not in self.seen_bodies and fails_first_attempt(body)
            self.seen_bodies.add(body)
        if inject:
            self.count(injected_failures=1)
            return {"errors": [{"message": f"transient failure for {op}, retry"}]}
        records = (variables.get("input") or {}).get("records", [])
        out = {"data": {op: {"results": self.mutate(op, records)}}}
        self.count(mutation_posts_ok=1)
        return out

    def report(self) -> dict:
        with self._lock:
            return {
                "counters": dict(self.counters),
                "applied": {k: list(v) for k, v in self.applied.items()},
                "rejected": list(self.rejected),
                "state_sizes": {k: len(v) for k, v in self.state.items()},
            }


class _PooledServer(HTTPServer):
    """HTTPServer whose connections are served by a bounded pool."""

    daemon_threads = True

    def __init__(self, addr, handler, threads: int):
        super().__init__(addr, handler)
        self.pool = ThreadPoolExecutor(max_workers=threads)

    def process_request(self, request, client_address):
        self.pool.submit(self._serve, request, client_address)

    def _serve(self, request, client_address):
        try:
            self.finish_request(request, client_address)
        except Exception:  # noqa: BLE001 — one bad connection must not stop the server
            self.handle_error(request, client_address)
        finally:
            self.shutdown_request(request)


def make_server(api: FakeApi, threads: int, port: int = 0) -> _PooledServer:
    class Handler(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"
        timeout = 0.25  # an idle keep-alive connection gives its thread back soon

        def log_message(self, *args):
            pass

        def setup(self):
            super().setup()
            self._counted = False

        def do_POST(self):
            body = self.rfile.read(int(self.headers["Content-Length"]))
            if self.path.startswith("/_control"):
                cmd = json.loads(body)
                if cmd.get("op") == "reset":
                    api.reset()
                    self._reply({"ok": True})
                else:
                    self._reply(api.report())
                return
            t0 = time.perf_counter()
            if not self._counted:
                self._counted = True
                api.count(connections=1)
            out = self._reply(api.handle(body))
            api.count(requests=1, request_bytes=len(body), response_bytes=out,
                      busy_s=time.perf_counter() - t0)

        def _reply(self, payload: dict) -> int:
            data = json.dumps(payload).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)
            return len(data)

    return _PooledServer(("127.0.0.1", port), Handler, threads)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("state")
    ap.add_argument("--threads", type=int, default=4)
    args = ap.parse_args()
    with open(args.state) as f:
        api = FakeApi(json.load(f))
    server = make_server(api, args.threads)
    threading.Thread(target=server.serve_forever, daemon=True).start()
    print(f"PORT {server.server_address[1]}", flush=True)
    sys.stdin.read()  # the parent closes our stdin to stop us
    server.shutdown()
    server.server_close()
    server.pool.shutdown(wait=False, cancel_futures=True)


if __name__ == "__main__":
    main()
