"""Write the reference digests the headline workload checks against.

Usage, from the repository root::

    python3 perfbench/refs.py

- The 19 headline queries with SQL in ``registry.ORACLE`` get the digest of
  DuckDB running that SQL on ``perfbench/data/sf0.01``.
- ``q_near_dup_pairs_minhash`` has no oracle; its digest is recorded from
  the engine as it stands when this script runs, so regenerate it only
  from a commit whose answers are trusted.

The output, ``perfbench/headline_refs.json``, is committed.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import duckdb  # noqa: E402

from digest import rows_digest  # noqa: E402
from headline import HEADLINE, SF_DIR, REFS_FILE, resolve  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def main() -> None:
    from custom_python_etl_data_connector_shivaask_username_spark import registry
    from custom_python_etl_data_connector_shivaask_username_spark.session import get_spark

    registry.load_all()
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    refs = {}
    recorded = [n for n in HEADLINE if n not in registry.ORACLE]
    for name in HEADLINE:
        if name in registry.ORACLE:
            rel = con.sql(registry.ORACLE[name])
            refs[name] = {**rows_digest(list(rel.columns), rel.fetchall()), "source": "duckdb"}
    spark = get_spark("perfbench-refs", cpus=len(os.sched_getaffinity(0)))
    try:
        for name in recorded:
            df = resolve(name)(spark, SF_DIR)
            refs[name] = {**rows_digest(df.columns, df.collect()), "source": "engine"}
    finally:
        spark.stop()
    out = {"queries": {n: refs[n] for n in HEADLINE}}
    with open(REFS_FILE, "w") as fh:
        json.dump(out, fh, indent=1)
        fh.write("\n")
    print(json.dumps({n: r["rows"] for n, r in refs.items()}))


if __name__ == "__main__":
    main()
