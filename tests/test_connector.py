"""Connector I/O tests (S1-S7): pagination modes, auth headers, retry/
backoff, rate limiting, PERMISSIVE ingest + quarantine, raw sink naming,
upsert, and the run pattern's one-pass contract."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from custom_python_etl_data_connector_shivaask_username_spark.functions.etl import (
    quarantine_split,
)
from custom_python_etl_data_connector_shivaask_username_spark.sources.config import (
    ConnectorConfig,
    load_env,
)
from custom_python_etl_data_connector_shivaask_username_spark.sources.rest import (
    ConnectorError,
    _Fetcher,
    iter_pages,
    json_ingest,
    read_api,
)
from custom_python_etl_data_connector_shivaask_username_spark.sources.sinks import (
    raw_table_path,
    upsert_parquet,
    write_raw,
)
from tests.stub_api import RECORDS, StubServer

SCHEMA = "id INT, name STRING, value DOUBLE, tags ARRAY<STRING>"


@pytest.fixture()
def stub():
    with StubServer() as s:
        yield s


def _cfg(stub, **kw):
    defaults = dict(
        name="testapi",
        base_url=stub.base_url,
        endpoint="items",
        page_size=10,
        max_pages=50,
        backoff_base_sec=0.01,
    )
    defaults.update(kw)
    return ConnectorConfig(**defaults)


def test_page_pagination_fetches_all(stub, spark):
    df = read_api(spark, _cfg(stub), schema=SCHEMA)
    rows = df.orderBy("id").collect()
    assert len(rows) == len(RECORDS)
    assert rows[3]["name"] == "item_3" and rows[3]["value"] == 4.5
    assert rows[4]["tags"] == ["a"]


def test_cursor_pagination(stub, spark):
    cfg = _cfg(stub, endpoint="cursor-items", pagination="cursor")
    pages = list(iter_pages(cfg))
    assert sum(len(recs) for _, recs in pages) == len(RECORDS)
    assert len(pages) == 3


def test_next_url_pagination(stub, spark):
    cfg = _cfg(
        stub,
        endpoint="linked-items",
        pagination="next_url",
        params={"limit": "10"},
    )
    pages = list(iter_pages(cfg))
    assert sum(len(recs) for _, recs in pages) == len(RECORDS)


def test_auth_header_injected(stub):
    cfg = _cfg(stub, auth_token="sekret", auth_scheme="Bearer")
    list(iter_pages(cfg))
    assert any(
        h.get("Authorization") == "Bearer sekret"
        for h in stub.state.seen_headers
    )


def test_retry_on_429_and_500(stub):
    stub.state.fail_on = {1: 429, 2: 500}
    pages = list(iter_pages(_cfg(stub)))
    assert sum(len(r) for _, r in pages) == len(RECORDS)
    # 2 failures + 3 good pages (25 records / 10 per page)
    assert stub.state.request_count == 5


def test_retry_after_http_date_and_unparseable(stub):
    """``Retry-After`` may be an HTTP-date: a past date retries at once,
    a date about a second ahead waits for it, and an unparseable value falls
    back to the exponential backoff instead of raising."""
    from email.utils import format_datetime
    import datetime as dt

    now = dt.datetime.now(dt.timezone.utc)
    for value, lo, hi in (
        ("Wed, 21 Oct 2015 07:28:00 GMT", 0.0, 0.5),
        (format_datetime(now + dt.timedelta(seconds=1.6), usegmt=True), 0.4, 1.9),
        ("soon", 0.0, 0.5),
    ):
        stub.state.request_count = 0
        stub.state.fail_on = {1: 429}
        stub.state.retry_after = value
        t0 = time.monotonic()
        pages = list(iter_pages(_cfg(stub, endpoint="empty", pagination="none")))
        took = time.monotonic() - t0
        assert pages == [(1, [])]
        assert stub.state.request_count == 2
        assert lo <= took <= hi, (value, took)


def test_retry_after_longer_than_timeout_raises(stub):
    """A ``Retry-After`` longer than ``timeout_sec`` raises at once,
    naming the delay, instead of sleeping it out: every sleep between
    attempts is at most the timeout."""
    stub.state.fail_on = {1: 429}
    stub.state.retry_after = "5"
    cfg = _cfg(stub, endpoint="empty", pagination="none", timeout_sec=1)
    t0 = time.monotonic()
    with pytest.raises(ConnectorError, match="Retry-After asks for 5.0 s"):
        list(iter_pages(cfg))
    assert time.monotonic() - t0 < 0.5
    assert stub.state.request_count == 1


def test_retries_exhausted_raises(stub):
    stub.state.fail_on = {i: 503 for i in range(1, 10)}
    with pytest.raises(ConnectorError, match="HTTP 503"):
        list(iter_pages(_cfg(stub, max_retries=2)))


def test_invalid_json_raises_connector_error(stub):
    cfg = _cfg(stub, endpoint="bad-json", pagination="none")
    with pytest.raises(ConnectorError, match="invalid JSON"):
        list(iter_pages(cfg))


def test_empty_payload_yields_nothing(stub):
    cfg = _cfg(stub, endpoint="empty", pagination="none")
    pages = list(iter_pages(cfg))
    assert pages == [(1, [])]


def test_rate_limiter_spacing(stub):
    cfg = _cfg(stub, rate_limit_per_sec=20)
    t0 = time.monotonic()
    list(iter_pages(cfg))  # 3 pages → ≥2 enforced intervals of 50ms
    assert time.monotonic() - t0 >= 0.09


def test_json_ingest_corrupt_record_quarantine(spark):
    lines = [
        '{"id": 1, "name": "ok", "value": 1.0, "tags": []}',
        "{definitely not json",
        '{"id": 2, "name": "fine", "value": 2.0, "tags": ["a"]}',
    ]
    df = json_ingest(spark, lines, schema=SCHEMA)
    ok, bad = quarantine_split(df, F.col("_corrupt_record").isNull())
    assert sorted(r["id"] for r in ok.collect()) == [1, 2]
    assert bad.count() == 1
    assert "not json" in bad.collect()[0]["_corrupt_record"]


def test_write_raw_naming_and_ingest_ts(stub, spark, tmp_path):
    df = read_api(spark, _cfg(stub), schema=SCHEMA)
    path = write_raw(df, "testapi", str(tmp_path))
    assert path == str(tmp_path / "testapi_raw")
    back = spark.read.parquet(path)
    assert back.count() == len(RECORDS)
    assert "_ingested_at" in back.columns


def test_upsert_parquet(spark, tmp_path):
    path = str(tmp_path / "t_raw")
    v1 = spark.createDataFrame(
        [(1, "old"), (2, "old")], "id INT, payload STRING"
    )
    upsert_parquet(spark, v1, path, keys=["id"], stamp=False)
    v2 = spark.createDataFrame(
        [(2, "new"), (3, "new")], "id INT, payload STRING"
    )
    upsert_parquet(spark, v2, path, keys=["id"], stamp=False)
    final = {
        r["id"]: r["payload"] for r in spark.read.parquet(path).collect()
    }
    assert final == {1: "old", 2: "new", 3: "new"}
    # one data write: the staging dir was RENAMED into place, not re-read
    # and re-written (a second full write would double 100 TB merges)
    import os

    assert not os.path.exists(path + "__staging")


def test_upsert_parquet_unreadable_table_raises_and_keeps_rows(spark, tmp_path):
    """Only a missing table is created from the batch. A table that
    exists but cannot be read makes the upsert raise; it must never be
    replaced by the batch alone."""
    import os

    path = str(tmp_path / "t_raw")
    v1 = spark.createDataFrame([(1, "old"), (2, "old")], "id INT, payload STRING")
    upsert_parquet(spark, v1, path, keys=["id"], stamp=False)
    # a junk summary file: Parquet schema discovery reads it before any
    # part file, so the table fails to open while its part files survive
    junk = os.path.join(path, "_common_metadata")
    with open(junk, "wb") as fh:
        fh.write(b"not a parquet footer")
    v2 = spark.createDataFrame([(3, "new")], "id INT, payload STRING")
    with pytest.raises(Exception) as info:
        upsert_parquet(spark, v2, path, keys=["id"], stamp=False)
    assert "PATH_NOT_FOUND" not in str(info.value)
    os.remove(junk)
    rows = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    assert rows == [(1, "old"), (2, "old")]


def test_atomic_replace_survives_a_failed_or_interrupted_swap(
    spark, tmp_path, monkeypatch
):
    """A swap that fails after the staging write leaves the old table
    readable, and the next upsert lands; a crash between the two
    renames (table moved aside, staging not yet in place) is recovered
    by the next upsert, which merges into the old rows."""
    import os

    from custom_python_etl_data_connector_shivaask_username_spark.sources import (
        layout,
    )

    def rows(p):
        return sorted(tuple(r) for r in spark.read.parquet(p).collect())

    path = str(tmp_path / "t_raw")
    v1 = spark.createDataFrame([(1, "old"), (2, "old")], "id INT, payload STRING")
    upsert_parquet(spark, v1, path, keys=["id"], stamp=False)

    real_rename = layout._rename

    def failing_rename(fs, src, dst):
        if str(src).endswith("__staging"):
            raise IOError("injected: staging rename failed")
        real_rename(fs, src, dst)

    monkeypatch.setattr(layout, "_rename", failing_rename)
    v2 = spark.createDataFrame([(2, "new"), (3, "new")], "id INT, payload STRING")
    with pytest.raises(IOError, match="injected"):
        upsert_parquet(spark, v2, path, keys=["id"], stamp=False)
    assert rows(path) == [(1, "old"), (2, "old")]
    assert not os.path.exists(path + "__aside")

    monkeypatch.setattr(layout, "_rename", real_rename)
    upsert_parquet(spark, v2, path, keys=["id"], stamp=False)
    assert rows(path) == [(1, "old"), (2, "new"), (3, "new")]

    # a crash right after the table moved aside: no table at `path`
    os.rename(path, path + "__aside")
    v3 = spark.createDataFrame([(4, "new")], "id INT, payload STRING")
    upsert_parquet(spark, v3, path, keys=["id"], stamp=False)
    assert rows(path) == [(1, "old"), (2, "new"), (3, "new"), (4, "new")]
    for leftover in ("__aside", "__staging"):
        assert not os.path.exists(path + leftover)


def test_append_after_an_interrupted_swap_keeps_the_old_rows(spark, tmp_path):
    """A compaction that crashed between its two renames leaves the
    table moved aside. The next append recovers it before writing, so
    the following upsert merges into every old row. The old copy of a
    committed swap (``__trash``) is deleted; an aside dir found next to
    a table is refused, and both copies are kept."""
    import os
    import shutil

    def rows(p):
        return sorted(tuple(r) for r in spark.read.parquet(p).collect())

    schema = "id INT, payload STRING"
    base = str(tmp_path)
    path = raw_table_path(base, "t")
    write_raw(
        spark.createDataFrame([(1, "old"), (2, "old")], schema), "t", base,
        stamp=False,
    )
    os.rename(path, path + "__aside")  # crash mid-compaction
    write_raw(spark.createDataFrame([(3, "new")], schema), "t", base, stamp=False)
    upsert_parquet(
        spark, spark.createDataFrame([(2, "upd")], schema), path, keys=["id"],
        stamp=False,
    )
    want = [(1, "old"), (2, "upd"), (3, "new")]
    assert rows(path) == want
    for leftover in ("__aside", "__staging", "__trash"):
        assert not os.path.exists(path + leftover)

    shutil.copytree(path, path + "__trash")
    write_raw(spark.createDataFrame([(4, "new")], schema), "t", base, stamp=False)
    assert not os.path.exists(path + "__trash")
    want.append((4, "new"))

    shutil.copytree(path, path + "__aside")
    with pytest.raises(IOError, match="__aside both exist"):
        upsert_parquet(
            spark, spark.createDataFrame([(1, "upd")], schema), path,
            keys=["id"], stamp=False,
        )
    assert rows(path) == rows(path + "__aside") == want


def test_upsert_parquet_version_aware_out_of_order(spark, tmp_path):
    """X19 contract: with version_col, batch ARRIVAL order is irrelevant —
    the table converges to arg_max(row, version) per key, so applying
    the newest batch first and an older batch second must NOT let the
    older row overwrite (the arrival-order mode would)."""
    path = str(tmp_path / "cdc_raw")
    newer = spark.createDataFrame(
        [(1, 5, "v5"), (2, 7, "v7")], "id INT, ver INT, payload STRING"
    )
    older = spark.createDataFrame(
        [(1, 3, "v3"), (3, 1, "v1")], "id INT, ver INT, payload STRING"
    )
    upsert_parquet(
        spark, newer, path, keys=["id"], stamp=False, version_col="ver"
    )
    upsert_parquet(
        spark, older, path, keys=["id"], stamp=False, version_col="ver"
    )
    final = {
        r["id"]: (r["ver"], r["payload"])
        for r in spark.read.parquet(path).collect()
    }
    assert final == {1: (5, "v5"), 2: (7, "v7"), 3: (1, "v1")}
    # version tie: incoming wins (idempotent re-delivery), and an equal-
    # version replay of identical rows leaves the table unchanged
    replay = spark.createDataFrame(
        [(1, 5, "v5-replayed")], "id INT, ver INT, payload STRING"
    )
    upsert_parquet(
        spark, replay, path, keys=["id"], stamp=False, version_col="ver"
    )
    final2 = {
        r["id"]: r["payload"] for r in spark.read.parquet(path).collect()
    }
    assert final2[1] == "v5-replayed"
    assert final2[2] == "v7" and final2[3] == "v1"


def test_connector_config_from_env(tmp_path, monkeypatch):
    env = tmp_path / ".env"
    env.write_text(
        'MYAPI_BASE_URL="http://example.com"\n'
        "MYAPI_AUTH_TOKEN=tok123\n"
        "MYAPI_PAGE_SIZE=7\n"
        "MYAPI_RATE_LIMIT_PER_SEC=2.5\n"
        "# comment\n"
    )
    monkeypatch.delenv("MYAPI_BASE_URL", raising=False)
    cfg = ConnectorConfig.from_env("myapi", env_path=str(env))
    assert cfg.base_url == "http://example.com"
    assert cfg.auth_token == "tok123"
    assert cfg.page_size == 7
    assert cfg.rate_limit_per_sec == 2.5
    assert cfg.request_headers()["Authorization"] == "Bearer tok123"


def test_load_env_no_override(tmp_path, monkeypatch):
    monkeypatch.setenv("KEEP_ME", "original")
    env = tmp_path / ".env"
    env.write_text("KEEP_ME=changed\n")
    load_env(str(env))
    import os

    assert os.environ["KEEP_ME"] == "original"


def test_run_connector_end_to_end(stub, spark, tmp_path):
    """The spec's run pattern: extract (paginated REST) -> transform
    (sanitize + quarantine + stamp) -> load ({name}_raw), with an
    auditable report. Second run with upsert keys replaces, not dupes;
    a third run appends, and its report counts only its own rows."""
    from custom_python_etl_data_connector_shivaask_username_spark.connector import run_connector

    base = str(tmp_path / "lake")
    report = run_connector(
        spark,
        _cfg(stub),
        base,
        schema=SCHEMA,
    )
    assert report["loaded_rows"] == len(RECORDS)
    assert report["quarantined_rows"] == 0
    assert report["mode"] == "append"
    landed = spark.read.parquet(report["path"])
    assert "_ingested_at" in landed.columns
    assert landed.count() == len(RECORDS)

    # re-deliver the same payload keyed on id: upsert keeps one copy
    report2 = run_connector(
        spark,
        _cfg(stub),
        base,
        schema=SCHEMA,
        upsert_keys=["id"],
    )
    assert report2["mode"] == "upsert"
    assert report2["loaded_rows"] == len(RECORDS)
    assert spark.read.parquet(report["path"]).count() == len(RECORDS)

    # a second append reports the rows it landed, not the table's size
    report3 = run_connector(spark, _cfg(stub), base, schema=SCHEMA)
    assert report3["loaded_rows"] == report3["extracted"] == len(RECORDS)
    assert spark.read.parquet(report["path"]).count() == 2 * len(RECORDS)


def test_run_connector_lands_only_schema_columns(stub, spark, tmp_path):
    """The landed table holds the sanitized schema fields and the ingest
    stamp, in schema order; the parser's corrupt-record column does not
    leak into it."""
    from pyspark.sql import types as T

    from custom_python_etl_data_connector_shivaask_username_spark.connector import run_connector
    from custom_python_etl_data_connector_shivaask_username_spark.functions.etl import (
        sanitize_name,
    )

    report = run_connector(spark, _cfg(stub), str(tmp_path), schema=SCHEMA)
    want = [sanitize_name(f.name) for f in T.StructType.fromDDL(SCHEMA).fields]
    assert spark.read.parquet(report["path"]).columns == want + ["_ingested_at"]


def test_run_connector_one_pass(stub, spark, tmp_path):
    """One append fetches each page once and starts at most three Spark
    jobs (today two: the write, which parses the extract and fills its
    cache, and one aggregate over the cache). Later steps read the parsed
    extract, never the API or the JSON again."""
    from custom_python_etl_data_connector_shivaask_username_spark.connector import run_connector

    sc = spark.sparkContext
    group = f"one-pass-{time.time_ns()}"
    sc.setJobGroup(group, "run_connector one-pass pin")
    try:
        report = run_connector(spark, _cfg(stub), str(tmp_path), schema=SCHEMA)
    finally:  # clear what setJobGroup set, so later jobs run outside the group
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert report["loaded_rows"] == len(RECORDS)
    pages = -(-len(RECORDS) // 10)  # page_size 10; the short last page ends it
    assert stub.state.request_count == pages
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 3


def test_upsert_broadcasts_batch_keys_without_distinct(spark, tmp_path):
    """The upsert's broadcast keys are the batch's key column as is: a
    repeated key changes nothing in the anti join, so no distinct
    stage runs (3 jobs for a materialized batch, 4 with the distinct).
    Both copies of a repeated batch key still land, as before."""
    path = str(tmp_path / "t_raw")
    old = spark.range(5000).selectExpr("id", "'old' AS payload")
    upsert_parquet(spark, old, path, keys=["id"], stamp=False)
    batch = spark.createDataFrame(
        [(2, "new-a"), (2, "new-b"), (7000, "new")], "id BIGINT, payload STRING"
    ).persist()
    try:
        batch.count()
        sc = spark.sparkContext
        group = f"upsert-keys-{time.time_ns()}"
        sc.setJobGroup(group, "upsert broadcast-keys pin")
        try:
            upsert_parquet(spark, batch, path, keys=["id"], stamp=False)
        finally:
            for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
                sc.setLocalProperty(key, None)
        sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 3
    finally:
        batch.unpersist()
    rows = spark.read.parquet(path)
    assert rows.count() == 5000 - 1 + 3
    assert sorted(
        r["payload"] for r in rows.filter("id IN (2, 7000)").collect()
    ) == ["new", "new-a", "new-b"]


def test_run_connector_calls_the_layers_it_binds(stub, spark, tmp_path, monkeypatch):
    """The connector bench times its layers by wrapping these names where
    `run_connector` reads them (`connector.read_api`, ...,
    `rest._Fetcher.fetch_json`). A wrapper on a name that is no longer
    called would time nothing and fail silently, so pin the calls: one
    `read_api` per run, one `fetch_json` per request the stub served,
    and the transform and load steps of each mode."""
    from custom_python_etl_data_connector_shivaask_username_spark import connector
    from custom_python_etl_data_connector_shivaask_username_spark.sources import rest

    calls: dict[str, int] = {}

    def counting(owner, name):
        fn = getattr(owner, name)

        def wrapped(*args, **kwargs):
            calls[name] = calls.get(name, 0) + 1
            return fn(*args, **kwargs)

        monkeypatch.setattr(owner, name, wrapped)

    for name in ("read_api", "quarantine_split", "sanitize_columns", "write_raw", "upsert_parquet"):
        counting(connector, name)
    counting(rest._Fetcher, "fetch_json")

    base = str(tmp_path / "lake")
    connector.run_connector(spark, _cfg(stub), base, schema=SCHEMA)
    assert calls == {
        "read_api": 1, "quarantine_split": 1, "sanitize_columns": 1,
        "write_raw": 1, "fetch_json": stub.state.request_count,
    }
    connector.run_connector(spark, _cfg(stub), base, schema=SCHEMA, upsert_keys=["id"])
    assert calls == {
        "read_api": 2, "quarantine_split": 2, "sanitize_columns": 2,
        "write_raw": 1, "upsert_parquet": 1,
        "fetch_json": stub.state.request_count,
    }


def _drain(pages):
    """(records read, the generator's truncation flag)."""
    n = 0
    while True:
        try:
            n += len(next(pages)[1])
        except StopIteration as end:
            return n, end.value


@pytest.mark.parametrize(
    "mode, extra",
    [
        ("page", {}),
        ("cursor", {"endpoint": "cursor-items"}),
        ("next_url", {"endpoint": "linked-items", "params": {"limit": "10"}}),
    ],
)
def test_iter_pages_reports_page_cap_truncation(stub, mode, extra):
    """25 records in pages of 10: a cap of 2 pages stops with the source
    still holding pages, a cap of 3 reads it to the end."""
    assert _drain(iter_pages(_cfg(stub, pagination=mode, max_pages=2, **extra))) == (20, True)
    assert _drain(iter_pages(_cfg(stub, pagination=mode, max_pages=3, **extra))) == (25, False)


def test_run_connector_reports_page_cap_truncation(stub, spark, tmp_path):
    """The load report says when `max_pages` cut the extract short, with
    no request beyond the cap."""
    from custom_python_etl_data_connector_shivaask_username_spark.connector import run_connector

    cut = run_connector(spark, _cfg(stub, max_pages=2), str(tmp_path / "cut"), schema=SCHEMA)
    assert cut["truncated"] is True and cut["extracted"] == 20
    assert stub.state.request_count == 2
    whole = run_connector(spark, _cfg(stub, max_pages=3), str(tmp_path / "whole"), schema=SCHEMA)
    assert whole["truncated"] is False and whole["extracted"] == len(RECORDS)


def test_run_connector_empty_extract(stub, spark, tmp_path):
    """A first page of [] lands an empty table and reports zeros."""
    from custom_python_etl_data_connector_shivaask_username_spark.connector import run_connector

    report = run_connector(
        spark, _cfg(stub, endpoint="empty"), str(tmp_path), schema=SCHEMA
    )
    assert report["extracted"] == report["loaded_rows"] == 0
    assert report["quarantined_rows"] == 0 and report["quarantine_path"] is None
    landed = spark.read.parquet(report["path"])
    assert landed.count() == 0
    assert landed.columns == ["id", "name", "value", "tags", "_ingested_at"]


def test_run_connector_quarantines_corrupt(stub, spark, tmp_path):
    """Records that don't fit the declared schema route to
    {name}_quarantine instead of failing the load (README.md:32-34).
    tags is ARRAY<INT> here, so every record with non-empty string tags
    (doc i where i % 3 != 0) is corrupt; empty-tag records pass."""
    from custom_python_etl_data_connector_shivaask_username_spark.connector import run_connector

    base = str(tmp_path / "lake")
    report = run_connector(
        spark,
        _cfg(stub),
        base,
        schema="id INT, name STRING, value DOUBLE, tags ARRAY<INT>",
    )
    n_valid = sum(1 for i in range(len(RECORDS)) if i % 3 == 0)
    assert report["loaded_rows"] == n_valid
    assert report["quarantined_rows"] == len(RECORDS) - n_valid
    q = spark.read.parquet(report["quarantine_path"])
    assert q.count() == report["quarantined_rows"]
    assert "_ingested_at" in q.columns
    # the quarantined payload is the full original record, auditable
    assert "item_1" in q.orderBy("raw").collect()[0]["raw"]
    # one run, one stamp: raw and quarantine rows carry the same value
    stamps = (
        spark.read.parquet(report["path"]).select("_ingested_at")
        .union(q.select("_ingested_at")).distinct().collect()
    )
    assert len(stamps) == 1 and stamps[0][0] is not None


def test_mongodb_write_config_contract():
    """The reference's literal sink (README.md:24,28-29): one collection
    per connector named {name}_raw, append for inserts, operationType=
    update + idFieldList for keyed upserts. Pinned here without a Mongo
    server — the pure config builder IS the adapter's contract."""
    from custom_python_etl_data_connector_shivaask_username_spark.sources.sinks import (
        mongodb_write_config,
    )

    uri = "mongodb://localhost:27017"
    mode, opts = mongodb_write_config("testapi", "etl", uri)
    assert mode == "append"
    assert opts["collection"] == "testapi_raw"
    assert opts["database"] == "etl"
    assert opts["connection.uri"] == uri
    assert "operationType" not in opts and "idFieldList" not in opts

    mode, opts = mongodb_write_config(
        "testapi", "etl", uri, mode="overwrite"
    )
    assert mode == "overwrite"

    mode, opts = mongodb_write_config(
        "testapi", "etl", uri, upsert_keys=["id", "region"]
    )
    assert opts["operationType"] == "update"
    assert opts["idFieldList"] == "id,region"
    assert opts["collection"] == "testapi_raw"


def test_write_mongodb_raises_clearly_without_connector(spark):
    """Env without the connector jar: a clear NotImplementedError
    pointing at the parquet sinks, not an opaque Py4J stack."""
    import pytest

    from custom_python_etl_data_connector_shivaask_username_spark.sources.sinks import (
        write_mongodb,
    )

    df = spark.createDataFrame([(1, "a")], "id INT, v STRING")
    with pytest.raises(NotImplementedError, match="parquet"):
        write_mongodb(df, "testapi", "etl", "mongodb://localhost:27017")


class _CollectionDouble:
    """Minimal pymongo-compatible collection: the two methods the sink
    kernel uses, with real upsert semantics over an in-memory store —
    what `apply_mongo_operations` executes against in this env."""

    def __init__(self):
        self.store: list[dict] = []

    def insert_many(self, docs):
        self.store.extend(dict(d) for d in docs)

    def replace_one(self, flt, doc, upsert=False):
        for i, existing in enumerate(self.store):
            if all(existing.get(k) == v for k, v in flt.items()):
                self.store[i] = dict(doc)
                return
        if upsert:
            self.store.append(dict(doc))


def test_apply_mongo_operations_insert_and_keyed_upsert():
    """S6 executed-semantics pin (round 8): the factored write kernel —
    plain insert without keys; keyed replace-or-insert with them
    (the operationType=update + idFieldList contract)."""
    from custom_python_etl_data_connector_shivaask_username_spark.sources.sinks import (
        apply_mongo_operations,
    )

    coll = _CollectionDouble()
    n = apply_mongo_operations(
        coll, [{"id": 1, "v": "a"}, {"id": 2, "v": "b"}]
    )
    assert n == 2 and len(coll.store) == 2

    coll = _CollectionDouble()
    apply_mongo_operations(coll, [{"id": 1, "v": "a"}], upsert_keys=["id"])
    apply_mongo_operations(
        coll,
        [{"id": 1, "v": "a2"}, {"id": 3, "v": "c"}],
        upsert_keys=["id"],
    )
    assert sorted((d["id"], d["v"]) for d in coll.store) == [
        (1, "a2"),
        (3, "c"),
    ]
    # multi-key upsert matches the full key tuple, not any one column
    coll = _CollectionDouble()
    apply_mongo_operations(
        coll, [{"a": 1, "b": 1, "v": "x"}], upsert_keys=["a", "b"]
    )
    apply_mongo_operations(
        coll, [{"a": 1, "b": 2, "v": "y"}], upsert_keys=["a", "b"]
    )
    assert len(coll.store) == 2


def test_mongomock_roundtrip_when_available(spark):
    """Full executed round-trip through write_mongodb_pymongo the day a
    pymongo-compatible client exists in this env; pinned-skip until
    then (mongomock absent as of 2026-08-14, installs prohibited —
    SURVEY.md §8)."""
    import pytest

    mongomock = pytest.importorskip("mongomock")
    import pymongo  # noqa: F401 — mongomock patches need the real shim

    from custom_python_etl_data_connector_shivaask_username_spark.sources.sinks import (
        apply_mongo_operations,
    )

    client = mongomock.MongoClient()
    coll = client["etl"]["testapi_raw"]
    apply_mongo_operations(coll, [{"id": 1, "v": "a"}], upsert_keys=["id"])
    apply_mongo_operations(coll, [{"id": 1, "v": "b"}], upsert_keys=["id"])
    assert [d["v"] for d in coll.find({"id": 1})] == ["b"]
