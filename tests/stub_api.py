"""Local stub REST API for connector tests (SURVEY.md §5: 'tested with a
local stub HTTP server').

Serves a deterministic dataset of 25 records through page / cursor /
next_url pagination, with fault injection: transient 429/500 on request
counts, invalid JSON, and empty payloads.
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

RECORDS = [
    {"id": i, "name": f"item_{i}", "value": round(i * 1.5, 2), "tags": ["a", "b"][: (i % 3)]}
    for i in range(25)
]


class StubState:
    def __init__(self):
        self.request_count = 0
        self.fail_on = {}  # request_index -> status code
        self.retry_after: str | None = "0.05"  # header sent with a 429
        self.seen_headers: list[dict] = []
        self.lock = threading.Lock()


def make_handler(state: StubState):
    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *args):
            pass

        def _send(self, code: int, body: str):
            data = body.encode()
            self.send_response(code)
            if code == 429 and state.retry_after is not None:
                self.send_header("Retry-After", state.retry_after)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

        def do_GET(self):
            with state.lock:
                state.request_count += 1
                n = state.request_count
                state.seen_headers.append(dict(self.headers))
                fail = state.fail_on.pop(n, None)
            if fail is not None:
                self._send(fail, json.dumps({"error": fail}))
                return

            parsed = urlparse(self.path)
            qs = {k: v[0] for k, v in parse_qs(parsed.query).items()}
            limit = int(qs.get("limit", 10))

            if parsed.path == "/items":  # page-numbered
                page = int(qs.get("page", 1))
                start = (page - 1) * limit
                chunk = RECORDS[start : start + limit]
                self._send(200, json.dumps({"data": chunk}))
            elif parsed.path == "/cursor-items":
                start = int(qs.get("cursor", 0))
                chunk = RECORDS[start : start + limit]
                nxt = start + limit if start + limit < len(RECORDS) else None
                self._send(
                    200, json.dumps({"data": chunk, "next_cursor": nxt})
                )
            elif parsed.path.startswith("/linked-items"):
                start = int(qs.get("start", 0))
                chunk = RECORDS[start : start + limit]
                nxt = (
                    f"http://{self.headers['Host']}/linked-items?start={start + limit}&limit={limit}"
                    if start + limit < len(RECORDS)
                    else None
                )
                self._send(200, json.dumps({"data": chunk, "next": nxt}))
            elif parsed.path == "/bad-json":
                self._send(200, "{not json!!")
            elif parsed.path == "/empty":
                self._send(200, json.dumps({"data": []}))
            else:
                self._send(404, json.dumps({"error": "not found"}))

    return Handler


class StubServer:
    def __init__(self):
        self.state = StubState()
        self.httpd = ThreadingHTTPServer(
            ("127.0.0.1", 0), make_handler(self.state)
        )
        self.thread = threading.Thread(
            target=self.httpd.serve_forever, daemon=True
        )

    @property
    def base_url(self) -> str:
        host, port = self.httpd.server_address
        return f"http://{host}:{port}"

    def __enter__(self):
        self.thread.start()
        return self

    def __exit__(self, *exc):
        self.httpd.shutdown()
        self.httpd.server_close()
