"""Deterministic in-process REST server stand-in for sources/restsource (no-external-data policy).

Emulates the reference API shape (token grant → unit catalog →
per-unit paged data; /root/reference/scripts/bronze_digit.py:33-76)
with payloads that are pure functions of (unit index, row index) — so
both pytest and a DuckDB oracle can recompute the expected bronze
result exactly. Fault injection (leading 503s / hard 404s / garbled
200 bodies per (unit, page)) exercises the retry/backoff and
error-skip paths.
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

PAGE_SIZE = 5
TOKEN = "tok-rest-0001"
CREDS = {"cliente_nome": "medallion", "chave_secreta": "local-test"}
GROUPS = ["alpha", "beta", "gamma"]


def unit_ids(n_units: int) -> list[str]:
    return [f"u-{k:03d}" for k in range(n_units)]


def unit_rows(k: int) -> int:
    """Rows for unit index k: 12..18, so most units span 3-4 pages."""
    return (k % 7) + 12


def record(k: int, j: int) -> dict:
    """Row j of unit k — the pure function oracles replay."""
    return {
        "grp": GROUPS[j % 3],
        "metric": (k * 31 + j * 7) % 101,
        "rec_id": f"u-{k:03d}-r{j:04d}",
    }


class FakeRestServer:
    """threading HTTP server; ``faults`` maps (unit_id, page) ->
    (status, n_failures) — the first n_failures requests for that key
    get ``status``, later ones succeed (n_failures < 0 ⇒ always). A
    status of 200 sends a truncated, non-JSON body."""

    def __init__(self, n_units: int = 8, faults: dict | None = None):
        self.n_units = n_units
        self.faults = dict(faults or {})
        self.hits: dict = {}
        self._lock = threading.Lock()
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):  # keep pytest output clean
                pass

            def _json(self, status, payload):
                self._send(status, json.dumps(payload).encode())

            def _send(self, status, body):
                self.send_response(status)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def do_POST(self):
                u = urlparse(self.path)
                if u.path != "/gerarToken":
                    return self._json(404, {})
                n = int(self.headers.get("Content-Length", 0))
                form = parse_qs(self.rfile.read(n).decode())
                ok = all(
                    form.get(k, [None])[0] == v for k, v in CREDS.items()
                )
                if not ok:
                    return self._json(200, {"success": False})
                self._json(200, {"success": True, "token": TOKEN})

            def do_GET(self):
                u = urlparse(self.path)
                if self.headers.get("Authorization") != TOKEN:
                    return self._json(401, {})
                if u.path == "/getUnits":
                    return self._json(
                        200, [{"unit": uid} for uid in unit_ids(outer.n_units)]
                    )
                if u.path != "/getData":
                    return self._json(404, {})
                q = parse_qs(u.query)
                unit = q["unit"][0]
                page = int(q.get("page", ["0"])[0])
                with outer._lock:
                    hit = outer.hits[(unit, page)] = (
                        outer.hits.get((unit, page), 0) + 1
                    )
                    fault = outer.faults.get((unit, page))
                if fault is not None:
                    status, n_fail = fault
                    if n_fail < 0 or hit <= n_fail:
                        if status == 200:
                            return self._send(200, b'{"rows": [{"grp": ')
                        return self._json(status, {})
                k = int(unit.split("-")[1])
                total = unit_rows(k)
                lo = page * PAGE_SIZE
                rows = [record(k, j) for j in range(lo, min(lo + PAGE_SIZE, total))]
                self._json(200, {"rows": rows, "has_more": lo + PAGE_SIZE < total})

        self._srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self._thread = threading.Thread(
            target=self._srv.serve_forever, daemon=True
        )

    @property
    def base_url(self) -> str:
        return f"http://127.0.0.1:{self._srv.server_address[1]}"

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._srv.shutdown()
        self._srv.server_close()
        self._thread.join(timeout=5)
