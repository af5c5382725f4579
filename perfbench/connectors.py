"""The connector workload: REST pages -> parse and sanitize -> parquet.

Each op is one ``connector.run_connector`` call against the benchmark's
own :class:`restgen.RestGenerator`. Two feeds take turns, two ops each
per unit of work:

- the *append* feed pulls a fresh batch of ids into ``events_raw``, which
  grows across ops the way scheduled re-runs grow it;
- the *upsert* feed upserts a batch into ``accounts_raw``, a keyed table
  landed during set-up; half the batch updates existing keys, half is new.

After each op (outside its timed span) the tables are checked against
the generator, never against the connector's load report:

- the raw table holds exactly the good records served (append: this op's
  id range, plus the total count; upsert: the whole last-writer-wins
  state);
- the quarantine table holds exactly the type-drifted records served.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd

from digest import frame_digest
from restgen import LANDED_COLUMNS, SCHEMA_DDL, Batch, RestGenerator, make_batch

PAGE_SIZE = 500
APPEND_RECORDS = 50_000  # per append op: 100 pages
UPSERT_RECORDS = 10_000  # per upsert op: half updates, half new keys
KEYED_ROWS = 200_000  # the keyed table set-up lands


def landed_frame(cols: dict[str, np.ndarray]) -> pd.DataFrame:
    """Rows in the dtypes ``toPandas`` gives the landed table."""
    return pd.DataFrame(
        {c: (v.astype(object) if v.dtype.kind == "U" else v) for c, v in cols.items()}
    )


def _canonical(record: dict) -> str:
    return json.dumps(record, sort_keys=True)


class Feed:
    """One connector (one raw table) and the state its check expects."""

    def __init__(self, spark, gen: RestGenerator, name: str, base_path: str,
                 batch_records: int, upsert: bool):
        from custom_python_etl_data_connector_shivaask_username_spark.sources.sinks import (
            raw_table_path,
        )

        self.spark = spark
        self.gen = gen
        self.name = name
        self.base_path = base_path
        self.batch_records = batch_records
        self.upsert = upsert
        self.raw_path = raw_table_path(base_path, name)
        self.quarantine_path = raw_table_path(base_path, f"{name}_quarantine")
        self.batches: dict[int, Batch] = {}
        self._next_id = 0
        self._bad: list[str] = []  # canonical bad records served so far
        self._state: pd.DataFrame | None = None  # upsert: the keyed table
        self._good_total = 0
        self._quarantine_rows = 0
        self.last_quarantined = 0  # rows the last op added to quarantine

    def land_keyed_table(self, batch: int, rows: int) -> None:
        """Write ``rows`` good rows straight to the raw table, in the schema
        the connector lands (sanitized keys, ingest stamp)."""
        from pyspark.sql import functions as F

        ids = np.arange(rows, dtype=np.int64)
        self._next_id = rows
        frame = landed_frame(make_batch(self.gen.seed, batch, ids, drift_rate=0.0).good_rows())
        flat = self.spark.createDataFrame(
            frame.rename(columns={"geo_info.country_code": "cc", "geo_info.lat_deg": "lat"})
        )
        flat.select(
            *LANDED_COLUMNS[:5],
            F.struct(F.col("cc").alias("country_code"), F.col("lat").alias("lat_deg")).alias(
                "geo_info"
            ),
            F.current_timestamp().alias("_ingested_at"),
        ).write.parquet(self.raw_path)
        self._state = frame

    def publish(self, batch: int) -> None:
        """Publish the next batch: for upsert, half its ids are drawn from
        the landed keys; the rest are new ids."""
        updates = self.batch_records // 2 if self.upsert else 0
        old = np.empty(0, dtype=np.int64)
        if updates:
            rng = np.random.default_rng([self.gen.seed, batch, 1])
            old = rng.choice(self._state["id"].to_numpy(), size=updates, replace=False)
        new = np.arange(self._next_id, self._next_id + self.batch_records - updates)
        self._next_id += len(new)
        ids = np.concatenate([old, new])
        self.batches[batch] = self.gen.publish(batch, ids, PAGE_SIZE)

    def run(self, batch: int):
        from custom_python_etl_data_connector_shivaask_username_spark import connector
        from custom_python_etl_data_connector_shivaask_username_spark.sources.config import (
            ConnectorConfig,
        )

        cfg = ConnectorConfig(
            name=self.name,
            base_url=self.gen.url,
            endpoint="records",
            params={"batch": str(batch)},
            page_size=PAGE_SIZE,
            backoff_base_sec=0.05,
        )
        return connector.run_connector(
            self.spark,
            cfg,
            self.base_path,
            schema=SCHEMA_DDL,
            upsert_keys=["id"] if self.upsert else None,
        )

    # -- checks --------------------------------------------------------------

    def expected(self, batch: int) -> pd.DataFrame:
        """The raw-table rows the check compares with, after ``batch``."""
        good = landed_frame(self.batches[batch].good_rows())
        if self._state is None:
            return good
        kept = self._state[~self._state["id"].isin(good["id"])]
        return pd.concat([kept, good], ignore_index=True)

    def landed(self, batch: int) -> pd.DataFrame:
        from pyspark.sql import functions as F

        df = self.spark.read.parquet(self.raw_path)
        if not self.upsert:
            ids = self.batches[batch].ids
            df = df.filter(F.col("id").between(int(ids.min()), int(ids.max())))
        return df.select(*[F.col(c).alias(c) for c in LANDED_COLUMNS]).toPandas()

    def quarantined(self) -> list[str]:
        rows = self.spark.read.parquet(self.quarantine_path).select("raw").collect()
        return sorted(
            _canonical(json.loads(json.loads(r.raw)["_corrupt_record"])) for r in rows
        )

    def check(self, batch: int) -> bool:
        """Compare the tables with the generator; advance the expected state."""
        b = self.batches[batch]
        want = self.expected(batch)
        self._bad = sorted(self._bad + [_canonical(r) for r in b.bad_records()])
        if self.upsert:
            self._state = want
        else:
            self._good_total += len(want)
        ok = frame_digest(self.landed(batch), LANDED_COLUMNS) == frame_digest(
            want, LANDED_COLUMNS
        )
        if not self.upsert:
            ok = ok and self.spark.read.parquet(self.raw_path).count() == self._good_total
        got_bad = self.quarantined()
        self.last_quarantined = len(got_bad) - self._quarantine_rows
        self._quarantine_rows = len(got_bad)
        self.gen.retire(batch)
        return ok and got_bad == self._bad


class ConnectorMix:
    """Append and upsert ops, alternating; items are ``(feed, batch)``."""

    def __init__(self, spark, seed: int, work_dir: str):
        self.spark = spark
        self.gen = RestGenerator(seed)
        self.sink_dir = os.path.join(work_dir, "sink")
        self.feeds = {
            "append": Feed(spark, self.gen, "events", self.sink_dir, APPEND_RECORDS, False),
            "upsert": Feed(spark, self.gen, "accounts", self.sink_dir, UPSERT_RECORDS, True),
        }
        self._next_batch = 0

    def _batch(self) -> int:
        self._next_batch += 1
        return self._next_batch - 1

    def setup(self, run_op) -> None:
        """Start the generator, land the keyed table and run one unmeasured
        op of each feed, so JIT and file caches are warm."""
        self.gen.__enter__()
        self.feeds["upsert"].land_keyed_table(self._batch(), KEYED_ROWS)
        for item in self.unit(rounds=1):
            run_op(item)

    def close(self) -> None:
        self.gen.__exit__(None, None, None)

    def unit(self, rounds: int = 2) -> list[tuple[str, int]]:
        """``rounds`` append ops and as many upsert ops, alternating."""
        items = []
        for _ in range(rounds):
            for name, feed in self.feeds.items():
                b = self._batch()
                feed.publish(b)
                items.append((name, b))
        return items

    def run(self, item, tracer):
        name, batch = item
        return self.feeds[name].run(batch)

    def check(self, item, out) -> bool:
        name, batch = item
        return self.feeds[name].check(batch)

    def records(self, item, out) -> int:
        name, batch = item
        return len(self.feeds[name].batches[batch].ids)

    def last_quarantined(self, item) -> int:
        return self.feeds[item[0]].last_quarantined

    def result_rows(self, out) -> int:
        return 0
