"""Tests of the benchmark itself; no Spark session needed.

Run from the repository root: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import json
import urllib.error
import urllib.request

import numpy as np

from connectors import landed_frame
from digest import frame_digest, rows_digest
from restgen import LANDED_COLUMNS, RestGenerator, make_batch
from run import Runner, end_to_end, measure


def _serve(seed: int) -> list[tuple[int, bytes]]:
    """Every page of one batch, fetched twice: first requests, then retries."""
    out = []
    with RestGenerator(seed) as gen:
        gen.publish(3, np.arange(1000, 21_000), page_size=100)
        for p in [*range(1, 202), *range(1, 202)]:
            url = f"{gen.url}/records?batch=3&page={p}&limit=100"
            try:
                with urllib.request.urlopen(url, timeout=10) as resp:
                    out.append((resp.status, resp.read()))
            except urllib.error.HTTPError as ex:
                out.append((ex.code, ex.headers["Retry-After"].encode()))
        assert gen.counters()["requests"] == len(out)
    return out


def test_generator_is_deterministic_per_seed():
    a, b = _serve(8), _serve(8)
    assert a == b
    assert a != _serve(9)
    statuses = [code for code, _ in a]
    # a seeded share of first requests is throttled; every retry succeeds
    assert 429 in statuses[:201] and set(statuses[201:]) == {200}
    assert all(body == b"0.05" for code, body in a if code == 429)
    served = [r for code, body in a[201:] for r in json.loads(body)["data"]]
    assert [r["id"] for r in served] == list(range(1000, 21_000))
    drifted = [r for r in served if isinstance(r["amount.usd"], str)]
    assert 0 < len(drifted) < len(served) // 50
    assert {"userId", "$source", "amount.usd", "geoInfo"} <= served[0].keys()


def test_digests_ignore_order_and_catch_a_changed_value():
    cols = ["b", "a"]
    rows = [(1, "x"), (2, "y"), (3, "z")]
    assert rows_digest(cols, rows) == rows_digest(cols, rows[::-1])
    assert rows_digest(cols, rows) != rows_digest(cols, [(1, "x"), (2, "y"), (3, "w")])

    frame = landed_frame(make_batch(1, 0, np.arange(100), 0.0).good_rows())
    shuffled = frame.sample(frac=1.0, random_state=0).reset_index(drop=True)
    assert frame_digest(frame, LANDED_COLUMNS) == frame_digest(shuffled, LANDED_COLUMNS)
    planted = frame.copy()
    planted.loc[17, "amount_usd"] += 0.01
    assert frame_digest(frame, LANDED_COLUMNS) != frame_digest(planted, LANDED_COLUMNS)


class _PlantedWorkload:
    """Serves a fixed result per op; op 2 returns one wrong row."""

    gen = None
    sink_dir = None

    def __init__(self):
        self.rows = [(i, f"v{i}") for i in range(50)]
        self.ref = rows_digest(["k", "v"], self.rows)
        self._n = 0

    def unit(self):
        self._n += 1
        return [self._n]

    def run(self, item, tracer):
        rows = list(self.rows)
        if item == 2:
            rows[10] = (10, "wrong")
        return rows

    def check(self, item, out) -> bool:
        return rows_digest(["k", "v"], out) == self.ref

    def records(self, item, out) -> int:
        return 1


def test_planted_wrong_row_counts_as_a_failed_op():
    runner = Runner(spark=None, workload=_PlantedWorkload())
    ops = [runner.op(item) for _ in range(4) for item in runner.wl.unit()]
    assert [o.ok for o in ops] == [True, False, True, True]
    metrics = end_to_end(ops, setup_s=1.0)
    assert metrics["ok_frac"][0] == 0.75
    assert metrics["throughput_per_s"][0] > 0


def test_measure_runs_whole_units_until_the_deadline():
    runner = Runner(spark=None, workload=_PlantedWorkload())
    ops = measure(runner, seconds=0.0)
    assert len(ops) == 1 and ops[0].ok
