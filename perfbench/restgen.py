"""Seeded REST record generator the connector workloads pull from.

One HTTP server thread in the benchmark process serves *batches* of
records with page/limit pagination::

    GET /records?batch=<b>&page=<p>&limit=<n>  ->  {"data": [...], "page": p}

The benchmark publishes a batch (its list of ids) before each connector
run; every value of every record is a function of ``(seed, batch, id)``,
so the same seed and the same publish sequence give byte-identical pages.

Faults are seeded too, never timing dependent:

- :data:`DRIFT_RATE` of the records carry ``"amount.usd"`` as a string instead
  of a number (type drift), so a PERMISSIVE parse against the declared
  schema routes them to quarantine;
- :data:`THROTTLE_RATE` of the pages answer their first request with 429
  and a numeric ``Retry-After``; the retry is served normally.

Every record also has keys a document store rejects or renames
(camelCase, ``.``, ``$``, a nested struct), so the connector's key
sanitizing has work to do.

Counters (requests, 429s, pages, bytes, service time including the
injected latency) are read with :meth:`RestGenerator.counters`.
"""

from __future__ import annotations

import json
import os
import threading
import time
import zlib
from dataclasses import dataclass
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

import numpy as np

#: DDL the connector parses pages with: the generator's keys, unsanitized
SCHEMA_DDL = (
    "id BIGINT, userId STRING, eventType STRING, `amount.usd` DOUBLE, "
    "`$source` STRING, geoInfo STRUCT<countryCode: STRING, `lat.deg`: DOUBLE>"
)
#: the same columns after the connector's key sanitizing, flattened
LANDED_COLUMNS = [
    "id",
    "user_id",
    "event_type",
    "amount_usd",
    "source",
    "geo_info.country_code",
    "geo_info.lat_deg",
]

#: per-request latency, faulted shares, and the 429 answer's Retry-After
LATENCY_S = 0.002
THROTTLE_RATE = 0.01
DRIFT_RATE = 0.01
RETRY_AFTER = "0.05"

_EVENT_TYPES = np.array(["click", "view", "purchase", "refund"])
_SOURCES = np.array(["web", "ios", "android"])
_COUNTRIES = np.array(["US", "IN", "DE", "BR", "JP", "FR"])


@dataclass
class Batch:
    """The records of one published batch, with its drifted rows marked."""

    ids: np.ndarray
    user: np.ndarray
    event: np.ndarray
    amount: np.ndarray
    source: np.ndarray
    country: np.ndarray
    lat: np.ndarray
    bad: np.ndarray  # bool: type-drifted record

    def record(self, i: int) -> dict:
        amount = float(self.amount[i])
        return {
            "id": int(self.ids[i]),
            "userId": str(self.user[i]),
            "eventType": str(self.event[i]),
            "amount.usd": f"{amount} USD" if self.bad[i] else amount,
            "$source": str(self.source[i]),
            "geoInfo": {
                "countryCode": str(self.country[i]),
                "lat.deg": float(self.lat[i]),
            },
        }

    def good_rows(self) -> dict[str, np.ndarray]:
        """The good records as landed columns (:data:`LANDED_COLUMNS`)."""
        ok = ~self.bad
        return {
            "id": self.ids[ok],
            "user_id": self.user[ok],
            "event_type": self.event[ok],
            "amount_usd": self.amount[ok],
            "source": self.source[ok],
            "geo_info.country_code": self.country[ok],
            "geo_info.lat_deg": self.lat[ok],
        }

    def bad_records(self) -> list[dict]:
        return [self.record(i) for i in np.flatnonzero(self.bad)]


def make_batch(seed: int, batch: int, ids: np.ndarray, drift_rate: float) -> Batch:
    """Deterministic record values for ``ids`` in batch ``batch``."""
    rng = np.random.default_rng([seed, batch])
    n = len(ids)
    return Batch(
        ids=np.asarray(ids, dtype=np.int64),
        user=np.char.add("u", rng.integers(0, 10_000, n).astype(str)),
        event=_EVENT_TYPES[rng.integers(0, len(_EVENT_TYPES), n)],
        amount=np.round(rng.uniform(0, 1000, n), 2),
        source=_SOURCES[rng.integers(0, len(_SOURCES), n)],
        country=_COUNTRIES[rng.integers(0, len(_COUNTRIES), n)],
        lat=np.round(rng.uniform(-90, 90, n), 4),
        bad=rng.random(n) < drift_rate,
    )


def _draw(seed: int, *key: int) -> float:
    """A seeded uniform [0, 1) draw keyed on ``key`` (order independent)."""
    h = zlib.crc32(repr((seed,) + key).encode())
    return h / 2**32


class RestGenerator:
    """Seeded paginated REST API on a loopback port; see module docstring."""

    def __init__(self, seed: int):
        self.seed = seed
        # at most one connection per CPU the process may run on
        self._slots = threading.BoundedSemaphore(len(os.sched_getaffinity(0)))
        self._lock = threading.Lock()
        self._batches: dict[int, Batch] = {}
        self._pages: dict[tuple[int, int, int], bytes] = {}
        self._throttled: set[tuple[int, int]] = set()
        self._counts = dict.fromkeys(
            ("requests", "throttled", "pages", "bytes", "service_s"), 0
        )
        self._httpd = ThreadingHTTPServer(("127.0.0.1", 0), self._handler())
        self._httpd.daemon_threads = True
        self._thread = threading.Thread(target=self._httpd.serve_forever, daemon=True)

    # -- lifecycle ---------------------------------------------------------

    def __enter__(self) -> "RestGenerator":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        if self._thread.is_alive():  # shutdown() waits for a loop that ran
            self._httpd.shutdown()
            self._thread.join(timeout=10)
        self._httpd.server_close()

    @property
    def url(self) -> str:
        host, port = self._httpd.server_address
        return f"http://{host}:{port}"

    # -- data --------------------------------------------------------------

    def publish(self, batch: int, ids: np.ndarray, page_size: int) -> Batch:
        """Make batch ``batch`` servable and render its pages of
        ``page_size`` records now, so serving them costs no record
        building. Returns the batch's records."""
        b = make_batch(self.seed, batch, ids, DRIFT_RATE)
        pages = {
            (p, page_size): self.page_body(b, p, page_size)
            for p in range(1, len(ids) // page_size + 2)
        }
        with self._lock:
            self._batches[batch] = b
            self._pages.update({(batch,) + k: v for k, v in pages.items()})
        return b

    def retire(self, batch: int) -> None:
        """Drop the rendered pages of a batch that will not be fetched again."""
        with self._lock:
            self._pages = {k: v for k, v in self._pages.items() if k[0] != batch}

    @staticmethod
    def page_body(b: Batch, page: int, limit: int) -> bytes:
        """The exact bytes a 200 answer carries for one page."""
        lo = (page - 1) * limit
        recs = [b.record(i) for i in range(lo, min(lo + limit, len(b.ids)))]
        return json.dumps({"data": recs, "page": page}, separators=(",", ":")).encode()

    def _body(self, batch: int, page: int, limit: int) -> bytes:
        body = self._pages.get((batch, page, limit))
        return body if body is not None else self.page_body(self._batches[batch], page, limit)

    def counters(self) -> dict[str, float]:
        with self._lock:
            return dict(self._counts)

    def _throttle(self, batch: int, page: int) -> bool:
        """429 on the first request of a seeded share of pages."""
        if _draw(self.seed, batch, page) >= THROTTLE_RATE:
            return False
        with self._lock:
            if (batch, page) in self._throttled:
                return False
            self._throttled.add((batch, page))
            return True

    def _handler(self):
        gen = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *args):
                pass

            def do_GET(self):
                with gen._slots:
                    t0 = time.perf_counter()
                    time.sleep(LATENCY_S)
                    qs = {k: v[0] for k, v in parse_qs(urlparse(self.path).query).items()}
                    batch, page = int(qs["batch"]), int(qs.get("page", 1))
                    if gen._throttle(batch, page):
                        code, body = 429, b'{"error":"rate limited"}'
                    else:
                        code, body = 200, gen._body(batch, page, int(qs.get("limit", 100)))
                    # count before answering, so a client that has its
                    # answer always sees its request counted
                    with gen._lock:
                        c = gen._counts
                        c["requests"] += 1
                        c["throttled"] += code == 429
                        c["pages"] += code == 200 and not body.startswith(b'{"data":[]')
                        c["bytes"] += len(body)
                        c["service_s"] += time.perf_counter() - t0
                    self.send_response(code)
                    if code == 429:
                        self.send_header("Retry-After", RETRY_AFTER)
                    self.send_header("Content-Type", "application/json")
                    self.send_header("Content-Length", str(len(body)))
                    self.end_headers()
                    self.wfile.write(body)

        return Handler
