"""The reference's run pattern: one connector, one E→T→L execution.

`/root/reference/README.md:72-79` prescribes a per-connector script run
as ``python etl_connector.py``; this module is that surface for the
Spark engine — :func:`run_connector` is the callable form, and
``python -m custom_python_etl_data_connector_shivaask_username_spark.connector`` the CLI form, with
`.env`-based auth (README.md:17-18), validation routing
(README.md:32-34), ingestion timestamps (README.md:29), and one raw
table per connector (README.md:28).

Pipeline, in spec order:

1. **Extract** — :func:`sources.rest.read_api`: paginated, rate-limited,
   retrying REST fetch. The pages reach the JVM once, as an Arrow table,
   and are parsed there (PERMISSIVE, so malformed records land in
   ``_corrupt_record`` instead of failing the batch). The parsed extract
   is persisted for the rest of the run, so it is parsed once: the
   first write parses it and fills the cache, and one aggregate over
   the cache (rows, corrupt rows) gives the counts.
2. **Transform** — quarantine split on corrupt records, key
   sanitization (Mongo-illegal ``.``/``$`` and awkward characters) of
   the good rows, one ingestion timestamp for the whole run.
3. **Load** — append (or key-based upsert) into ``{name}_raw``;
   quarantined rows land beside it in ``{name}_quarantine`` with the
   same ingestion stamp, so every extracted record is accounted for.
   Both writes read the persisted extract.

Returns a load report: the counts of this run (extracted, loaded,
quarantined) and the paths — the auditable unit the spec's "audits or
updates" clause needs.
"""

from __future__ import annotations

import argparse
import json
from datetime import datetime, timezone
from typing import Any

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .functions.etl import add_ingest_ts, quarantine_split, sanitize_columns
from .sources.config import ConnectorConfig, load_env
from .sources.rest import read_api
from .sources.sinks import raw_table_path, upsert_parquet, write_raw


def run_connector(
    spark: SparkSession,
    cfg: ConnectorConfig,
    base_path: str,
    schema: T.StructType | str | None = None,
    upsert_keys: list[str] | None = None,
) -> dict[str, Any]:
    """One E→T→L cycle; see module docstring. Returns the load report."""
    raw = read_api(spark, cfg, schema).persist()
    try:
        corrupt = (
            F.col("_corrupt_record").isNotNull()
            if "_corrupt_record" in raw.columns
            else F.lit(False)
        )
        ok, bad = quarantine_split(raw, ~corrupt)
        at = datetime.now(timezone.utc)
        ok = add_ingest_ts(
            sanitize_columns(ok.drop("_corrupt_record")), at=at
        )
        # the first write parses the extract in parallel and fills the cache
        if upsert_keys:
            path = raw_table_path(base_path, cfg.name)
            upsert_parquet(spark, ok, path, upsert_keys, stamp=False)
        else:
            path = write_raw(ok, cfg.name, base_path, stamp=False)
        # one aggregate over the filled cache; one partition needs no
        # shuffle, so it is one job of one task
        counts = (
            raw.coalesce(1)
            .agg(F.count(F.lit(1)).alias("n"), F.count_if(corrupt).alias("bad"))
            .first()
        )
        n_bad = counts["bad"]
        n_ok = counts["n"] - n_bad

        quarantine_path = None
        if n_bad:
            quarantine_path = write_raw(
                add_ingest_ts(
                    bad.select(F.to_json(F.struct("*")).alias("raw")), at=at
                ),
                f"{cfg.name}_quarantine",
                base_path,
                stamp=False,
            )
    finally:
        # blocking: the cached blocks are gone when the call returns, so
        # no block removal runs on into the caller's next step
        raw.unpersist(blocking=True)
    return {
        "connector": cfg.name,
        "extracted": n_ok + n_bad,
        "loaded_rows": n_ok,
        "quarantined_rows": n_bad,
        "path": path,
        "quarantine_path": quarantine_path,
        "mode": "upsert" if upsert_keys else "append",
    }


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(
        description="Run one REST→parquet connector E2E (spec run pattern)"
    )
    ap.add_argument("--name", required=True)
    ap.add_argument("--base-url", required=True)
    ap.add_argument("--endpoint", default="")
    ap.add_argument("--base-path", required=True, help="sink directory")
    ap.add_argument("--env-file", default=".env")
    ap.add_argument("--token-var", default="API_TOKEN",
                    help=".env variable holding the bearer token")
    ap.add_argument("--pagination", default="page",
                    choices=["page", "cursor", "next_url", "none"])
    ap.add_argument("--schema", default=None, help="DDL schema string")
    ap.add_argument("--upsert-keys", default=None,
                    help="comma-separated key columns → upsert instead of append")
    args = ap.parse_args(argv)

    env = load_env(args.env_file)
    cfg = ConnectorConfig(
        name=args.name,
        base_url=args.base_url,
        endpoint=args.endpoint,
        auth_token=env.get(args.token_var),
        pagination=args.pagination,
    )
    from .session import get_spark

    spark = get_spark(f"connector-{args.name}")
    try:
        report = run_connector(
            spark,
            cfg,
            args.base_path,
            schema=args.schema,
            upsert_keys=args.upsert_keys.split(",") if args.upsert_keys else None,
        )
        print(json.dumps(report))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
