"""End-to-end read CLI — the reference's e2e harness re-expressed.

Reference surface (SURVEY.md §2): `e2e/e2e-testing/.../LocalReadCommand.java:27-54`
spins up a local Drill cluster, bootstraps the tenant schema, connects as the
org, runs ONE SQL query and prints the rows.  Here the "cluster" is a local
SparkSession, the schema bootstrap is a ``SchemaStore`` (either the standard
``events`` registration over a testdata dir, or any store serialized with
``SchemaStore.to_json``), tenant semantics come from ``TenantSession``, and
rows print as JSON lines (machine-diffable, like the reference's row dump).

    python -m fineo_readerator_spark.cli "SELECT count(*) FROM events" \
        --sf-dir /root/testdata/sf0.001
    python -m fineo_readerator_spark.cli "SELECT * FROM mymetric LIMIT 5" \
        --store schema.json --org acme
"""

from __future__ import annotations

import argparse
import json
import sys
from typing import Optional

from fineo_readerator_spark.api import ReadOnlyViolation, TenantSession
from fineo_readerator_spark.schema_store import SchemaStore
from fineo_readerator_spark.server import _duplicate_columns_error, _json_value


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="fineo_readerator_spark.cli",
        description="Run one read-only SQL query against a tenant's metric views.",
    )
    p.add_argument("sql", help="the query (read-only; writes are rejected)")
    p.add_argument("--org", default="acme", help="tenant org (default: acme)")
    p.add_argument(
        "--sf-dir",
        default=None,
        help="testdata dir: registers its events.parquet as metric 'events' "
        "(the standard store) unless --store is given",
    )
    p.add_argument(
        "--store",
        default=None,
        help="path to a SchemaStore.to_json file to bootstrap instead of --sf-dir",
    )
    p.add_argument("--max-rows", type=int, default=None, help="statement row cap")
    p.add_argument(
        "--cpus",
        type=int,
        default=8,
        help="shuffle partitions (default 8); local[N] parallelism comes from "
        "the SPARK_GRAFT_CPUS env var",
    )
    return p


def main(argv: Optional[list[str]] = None, spark=None) -> int:
    args = _build_parser().parse_args(argv)
    if (args.sf_dir is None) == (args.store is None):
        print("exactly one of --sf-dir / --store is required", file=sys.stderr)
        return 2

    if spark is None:
        from fineo_readerator_spark.session import get_spark

        spark = get_spark("fineo-cli", shuffle_partitions=args.cpus)

    if args.store is not None:
        with open(args.store) as fh:
            store = SchemaStore.from_json(fh.read())
    else:
        from fineo_readerator_spark.plans.metric_queries import events_store

        store = events_store(args.sf_dir)

    tenant = TenantSession(spark, store, args.org)
    try:
        df = tenant.sql(args.sql, max_rows=args.max_rows)
        dup_error = _duplicate_columns_error(df.columns)
        if dup_error:
            print(dup_error, file=sys.stderr)
            return 1
        # toLocalIterator holds one partition in driver memory at a time.
        # With --max-rows the LIMIT first gathers the capped result into
        # one partition, so the bound is then max_rows rows, as for one
        # open statement of the server.
        for row in df.toLocalIterator():
            print(json.dumps({c: _json_value(row[c]) for c in df.columns}, allow_nan=False))
    except ReadOnlyViolation as e:
        print(f"rejected: {e}", file=sys.stderr)
        return 1
    except Exception as e:
        print(f"{type(e).__name__}: {e}", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
