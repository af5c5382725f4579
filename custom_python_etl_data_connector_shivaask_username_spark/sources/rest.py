"""REST API source (SURVEY.md §2.1 S1-S3, S5).

The reference's Extract stage (``/root/reference/README.md:12-13,21-22``):
paginated HTTP against a base URL + endpoint, auth via env-driven config,
rate-limit aware, retrying on 429/5xx/connectivity errors with exponential
backoff, landing JSON payloads.

Two execution shapes:

- :func:`read_api` — sequential driver-side fetch, right for one API with
  cursor pagination (the next page isn't known until the previous returns)
  or small result sets. Each page becomes one Arrow string array as it
  arrives; the extract reaches the JVM once, as an Arrow table, and is
  parsed there. Returns a typed DataFrame.
- :class:`RestDataSource` — PySpark 4 Python Data Source: page ranges are
  split into input partitions and fetched BY THE EXECUTORS in parallel.
  This is the 100 TB-relevant shape: per-partition rate limiting, no
  driver bottleneck, and the page-range predicate is effectively pushdown
  into the API (partition pruning happens at plan time via ``pages``).

Rate limiting + retry (S3) live in :class:`_Fetcher`, shared by both.
"""

from __future__ import annotations

import json
import random
import time
import urllib.error
import urllib.parse
import urllib.request
from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .config import ConnectorConfig

RETRYABLE_STATUS = {429, 500, 502, 503, 504}


class ConnectorError(RuntimeError):
    """Non-retryable connector failure (bad auth, 4xx, exhausted retries)."""


class _Fetcher:
    """One HTTP page-fetcher with token-interval rate limiting and
    exponential backoff. Instantiated per partition on executors (S3:
    'per-partition token bucket'), or once on the driver."""

    def __init__(self, cfg: ConnectorConfig):
        self.cfg = cfg
        self._min_interval = (
            1.0 / cfg.rate_limit_per_sec if cfg.rate_limit_per_sec > 0 else 0.0
        )
        self._last_call = 0.0

    def _throttle(self) -> None:
        if self._min_interval:
            wait = self._last_call + self._min_interval - time.monotonic()
            if wait > 0:
                time.sleep(wait)
        self._last_call = time.monotonic()

    def fetch_json(self, url: str, params: dict | None = None) -> dict | list:
        """GET one URL with retry/backoff; returns the parsed payload."""
        if params:
            sep = "&" if urllib.parse.urlparse(url).query else "?"
            url = url + sep + urllib.parse.urlencode(params)
        last_err: Exception | None = None
        for attempt in range(self.cfg.max_retries + 1):
            self._throttle()
            try:
                req = urllib.request.Request(
                    url, headers=self.cfg.request_headers()
                )
                with urllib.request.urlopen(
                    req, timeout=self.cfg.timeout_sec
                ) as resp:
                    body = resp.read().decode("utf-8")
                try:
                    return json.loads(body)
                except json.JSONDecodeError as ex:
                    # invalid response (README.md:33): not retryable-forever;
                    # surface to the caller for quarantine accounting
                    raise ConnectorError(
                        f"invalid JSON from {url}: {ex}"
                    ) from ex
            except urllib.error.HTTPError as ex:
                if ex.code in RETRYABLE_STATUS and attempt < self.cfg.max_retries:
                    last_err = ex
                    retry_after = ex.headers.get("Retry-After")
                    delay = (
                        float(retry_after)
                        if retry_after
                        else self.cfg.backoff_base_sec
                        * (2**attempt)
                        * (1 + 0.1 * random.random())
                    )
                    time.sleep(delay)
                    continue
                raise ConnectorError(
                    f"HTTP {ex.code} from {url} after {attempt + 1} attempts"
                ) from ex
            except (urllib.error.URLError, TimeoutError) as ex:
                # connectivity errors (README.md:33)
                if attempt < self.cfg.max_retries:
                    last_err = ex
                    time.sleep(
                        self.cfg.backoff_base_sec
                        * (2**attempt)
                        * (1 + 0.1 * random.random())
                    )
                    continue
                raise ConnectorError(
                    f"connectivity failure for {url}: {ex}"
                ) from ex
        raise ConnectorError(f"retries exhausted for {url}: {last_err}")

    def extract_records(self, payload: dict | list) -> list[dict]:
        """Pull the record list out of a payload (S5 empty-payload guard)."""
        if payload is None:
            return []
        if isinstance(payload, list):
            return payload
        data = (
            payload.get(self.cfg.data_field)
            if self.cfg.data_field
            else payload
        )
        if data is None:
            return []
        if isinstance(data, dict):
            return [data]
        return list(data)


def iter_pages(
    cfg: ConnectorConfig,
    fetcher: _Fetcher | None = None,
    start_page: int = 1,
    end_page: int | None = None,
) -> Iterator[tuple[int, list[dict]]]:
    """S2: follow page/cursor/next_url pagination until exhausted.

    Yields (page_number, records). ``start_page``/``end_page`` bound the
    page-numbered mode so executors can own disjoint ranges.
    """
    fetcher = fetcher or _Fetcher(cfg)
    if cfg.pagination == "none":
        payload = fetcher.fetch_json(cfg.url, cfg.params)
        yield 1, fetcher.extract_records(payload)
        return

    if cfg.pagination == "page":
        page = start_page
        limit = end_page if end_page is not None else cfg.max_pages
        while page <= limit:
            params = dict(cfg.params)
            params[cfg.page_param] = str(page)
            params[cfg.page_size_param] = str(cfg.page_size)
            records = fetcher.extract_records(
                fetcher.fetch_json(cfg.url, params)
            )
            if not records:
                return
            yield page, records
            if len(records) < cfg.page_size:
                return
            page += 1
        return

    if cfg.pagination == "cursor":
        cursor: str | None = None
        for page in range(1, cfg.max_pages + 1):
            params = dict(cfg.params)
            params[cfg.page_size_param] = str(cfg.page_size)
            if cursor:
                params[cfg.cursor_param] = cursor
            payload = fetcher.fetch_json(cfg.url, params)
            records = fetcher.extract_records(payload)
            if records:
                yield page, records
            cursor = (
                payload.get(cfg.cursor_field)
                if isinstance(payload, dict)
                else None
            )
            if not cursor:
                return
        return

    if cfg.pagination == "next_url":
        url: str | None = cfg.url
        params: dict | None = dict(cfg.params)
        for page in range(1, cfg.max_pages + 1):
            payload = fetcher.fetch_json(url, params)
            params = None  # next URLs are self-contained
            records = fetcher.extract_records(payload)
            if records:
                yield page, records
            url = (
                payload.get(cfg.next_url_field)
                if isinstance(payload, dict)
                else None
            )
            if not url:
                return
        return

    raise ValueError(f"unknown pagination mode: {cfg.pagination}")


def read_api(
    spark: SparkSession,
    cfg: ConnectorConfig,
    schema: T.StructType | str | None = None,
) -> DataFrame:
    """S1 driver-side shape: fetch all pages, land as a typed DataFrame.

    Each page is serialized to one Arrow string array as soon as it
    arrives and its Python records are dropped, so the driver never holds
    the whole extract as Python objects. :func:`json_ingest` hands the
    pages to the JVM as one Arrow table and parses them there with the
    PERMISSIVE reader, so schema drift / invalid rows surface in
    ``_corrupt_record`` instead of failing the load (README.md:32-34).

    The result is a JVM-side relation: actions on it never call back into
    Python, but each one re-parses the JSON, so a caller that runs more
    than one action should ``persist()`` it (``connector.run_connector``
    does).
    """
    pages = pa.chunked_array(
        [
            pa.array([json.dumps(rec) for rec in records], pa.string())
            for _, records in iter_pages(cfg)
        ],
        pa.string(),
    )
    return json_ingest(spark, pages, schema)


def _text_frame(spark: SparkSession, lines: pa.ChunkedArray) -> DataFrame:
    """``lines`` as a one-column (``value``) RDD-backed DataFrame with at
    most one partition per core.

    ``createDataFrame`` on an Arrow table makes one partition per record
    batch, here one per page; coalescing keeps the task and output-file
    counts at the core count. Below
    ``spark.sql.execution.arrow.localRelationThreshold`` it would make a
    ``LocalRelation`` instead, and the optimizer would fold the
    ``from_json`` above it into the plan: every record parsed on the
    driver, on one thread, while the query is planned. The threshold is
    zeroed for this one call so the parse runs in tasks."""
    key = "spark.sql.execution.arrow.localRelationThreshold"
    prior = spark.conf.get(key, None)
    spark.conf.set(key, "0")
    try:
        df = spark.createDataFrame(pa.table({"value": lines}))
    finally:
        if prior is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prior)
    return df.coalesce(spark.sparkContext.defaultParallelism)


def json_ingest(
    spark: SparkSession,
    json_lines: pa.ChunkedArray | list[str] | DataFrame,
    schema: T.StructType | str | None = None,
) -> DataFrame:
    """S5: PERMISSIVE JSON parse with corrupt-record routing.

    ``json_lines`` is one JSON document per element: an Arrow string
    array (what :func:`read_api` builds, one chunk per page), a list of
    strings, or a DataFrame whose first column holds them. Driver-side
    lines reach the JVM once, through ``createDataFrame`` on an Arrow
    table — a JVM-side relation, no pickled Python RDD — and
    ``from_json`` parses them there.

    With an explicit schema, malformed documents land whole in
    ``_corrupt_record`` (quarantine them with
    ``functions.etl.quarantine_split``); without one, schema is inferred
    (exploration only — inference is an extra full pass at scale).
    """
    if isinstance(json_lines, DataFrame):
        text_df = json_lines.select(
            F.col(json_lines.columns[0]).cast("string").alias("value")
        )
    else:
        if not isinstance(json_lines, pa.ChunkedArray):
            json_lines = pa.chunked_array([json_lines], pa.string())
        text_df = _text_frame(spark, json_lines)
    if schema is None:
        # inference path (exploration only — an extra full pass at scale)
        return spark.read.option("mode", "PERMISSIVE").json(
            text_df.rdd.map(lambda r: r[0])
        )
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    parse_schema = T.StructType(
        list(schema.fields) + [T.StructField("_corrupt_record", T.StringType())]
    )
    parsed = text_df.select(
        F.from_json(
            "value",
            parse_schema,
            {
                "mode": "PERMISSIVE",
                "columnNameOfCorruptRecord": "_corrupt_record",
            },
        ).alias("r")
    )
    return parsed.select("r.*")


# --- PySpark 4 Python Data Source: distributed page fetch --------------------


class RestDataSource:
    """S1 distributed shape — thin registration wrapper; see
    :func:`register_rest_datasource` (import-gated: the Python Data Source
    API needs pyspark>=4)."""


def register_rest_datasource(spark: SparkSession) -> bool:
    """Register the ``rest`` format. Returns False when the runtime lacks
    the Python Data Source API (graceful degradation to read_api)."""
    try:
        from pyspark.sql.datasource import (
            DataSource,
            DataSourceReader,
            InputPartition,
        )
    except ImportError:
        return False

    class _PageRange(InputPartition):
        def __init__(self, start: int, end: int):
            self.start = start
            self.end = end

    class _RestReader(DataSourceReader):
        def __init__(self, options):
            self.options = dict(options)

        def _cfg(self) -> ConnectorConfig:
            opts = self.options
            kwargs = {}
            for f in (
                "name base_url endpoint pagination page_param page_size_param "
                "cursor_field cursor_param next_url_field data_field "
                "auth_token auth_header auth_scheme"
            ).split():
                if f in opts:
                    kwargs[f] = opts[f]
            for f, caster in (
                ("page_size", int),
                ("max_pages", int),
                ("rate_limit_per_sec", float),
                ("max_retries", int),
                ("backoff_base_sec", float),
                ("timeout_sec", float),
            ):
                if f in opts:
                    kwargs[f] = caster(opts[f])
            kwargs.setdefault("name", "rest")
            return ConnectorConfig(**kwargs)

        def partitions(self):
            cfg = self._cfg()
            n = int(self.options.get("num_partitions", "4"))
            if cfg.pagination != "page":
                # cursor/next_url are inherently sequential -> one partition
                return [_PageRange(1, cfg.max_pages)]
            per = max(1, cfg.max_pages // n)
            out = []
            for i in range(n):
                start = i * per + 1
                # clamp to the page cap: with n > max_pages the naive split
                # would emit ranges past the cap and issue HTTP requests a
                # driver-side read_api never would
                end = cfg.max_pages if i == n - 1 else min((i + 1) * per, cfg.max_pages)
                if start > cfg.max_pages:
                    break
                out.append(_PageRange(start, end))
            return out

        def read(self, partition):
            cfg = self._cfg()
            for _, records in iter_pages(
                cfg, start_page=partition.start, end_page=partition.end
            ):
                for rec in records:
                    yield (json.dumps(rec),)

    class _RestDataSource(DataSource):
        @classmethod
        def name(cls):
            return "rest"

        def schema(self):
            return "value string"

        def reader(self, schema):
            return _RestReader(self.options)

    spark.dataSource.register(_RestDataSource)
    return True
