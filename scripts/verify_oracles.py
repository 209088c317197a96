"""Driver-faithful oracle cross-check (see .claude/skills/verify/SKILL.md).

Runs registry queries at sf0.01 in ONE vanilla SparkSession (like the
driver does — entry() never runs first), in registry order, and compares
each against its oracle_sql() through DuckDB with columns sorted by name,
plus the container-column and result-type gates.

Usage:
    python scripts/verify_oracles.py [names...]          # all, or just these
    python scripts/verify_oracles.py --all               # every registry query
    python scripts/verify_oracles.py --window            # the first-50 window
    python scripts/verify_oracles.py --window CORRECTNESS_r07.json
                                                         # a recorded window

A window is replayed sequentially in one session because a query's result
can drift when it runs mid-window after 30+ other queries in the same JVM
(cached relations, GC'd checkpoint blocks, accumulated session state):
CORRECTNESS_r07 flagged q_skew_report hash-red while every standalone replay
matched.  Exits 1 when any query is BAD, and before any Spark session
starts when a named query is not in the registry.

Every MATCH and rows-only verdict ends with ``digest=``: perfbench's
``ops.registry_digest`` of the sorted rows and the column names.  A
byte-identity check between two trees is then two runs and a ``diff`` of
the verdicts with the timings cut out.
"""
import json
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))
sys.path.insert(1, str(ROOT / "perfbench"))

from pyspark.sql import SparkSession  # noqa: E402

import __spark_entry__ as entry_mod  # noqa: E402
from fineo_readerator_spark.oracle_compare import (  # noqa: E402
    container_columns,
    kind_mismatches,
)
from ops import registry_digest  # noqa: E402  (perfbench's result digest)

WINDOW = 50


def query_names(argv: list[str], qs: dict) -> list[str]:
    """The ordered names to check: a recorded round's CORRECTNESS json (its
    key order IS the driver's execution order), the registry's current
    first-50 (what the NEXT driver snapshot will run), the named queries,
    or every query."""
    if argv[:1] == ["--window"]:
        if len(argv) == 1:
            return list(qs)[:WINDOW]
        with open(argv[1]) as f:
            recorded = list(json.load(f))
        missing = [n for n in recorded if n not in qs]
        if missing:
            print(f"WARNING: recorded names no longer in registry: {missing}")
        return [n for n in recorded if n in qs]
    if argv[:1] == ["--all"] or not argv:
        return list(qs)
    unknown = [n for n in argv if n not in qs]
    if unknown:
        # a mistyped name must not read as "BAD: 0"
        sys.exit(f"unknown query names: {unknown}")
    return [n for n in qs if n in argv]


def check(spark, con, name: str, fn, oracle: str | None, sf: str) -> tuple[bool, str]:
    """(bad, verdict) for one query."""
    t0 = time.time()
    try:
        sdf = fn(spark, sf)
        # any container-typed output crashes the driver's pandas
        # canonicalizer (unhashable list) before values even compare
        containers = container_columns(sdf.schema)
        if containers:
            return True, f"CONTAINER-OUTPUT {containers}"
        scols = sorted(sdf.columns)
        got = sorted(tuple(str(r[c]) for c in scols) for r in sdf.collect())
    except Exception as e:  # noqa: BLE001 — report and keep checking
        return True, f"SPARK-ERROR {type(e).__name__}: {str(e)[:200]}"
    dt = time.time() - t0
    digest = registry_digest(scols, got)
    if oracle is None:
        return False, f"rows-only ({len(got)} rows, {dt:.1f}s) digest={digest}"
    try:
        rel = con.sql(oracle)
        dcols, dtypes = list(rel.columns), list(rel.types)
        rows = rel.fetchall()
    except Exception as e:  # noqa: BLE001
        return True, f"ORACLE-ERROR {str(e)[:200]}"
    if sorted(dcols) != scols:
        return True, f"COLUMN-NAME MISMATCH spark={scols} oracle={sorted(dcols)}"
    # exact result-TYPE agreement: q_skew_report once went driver-red on an
    # un-cast HUGEINT that value-string comparison could not see
    tmis = kind_mismatches(sdf.schema, dcols, dtypes)
    if tmis:
        return True, f"TYPE-MISMATCH {tmis}"
    idx = [dcols.index(c) for c in scols]
    exp = sorted(tuple(str(r[i]) for i in idx) for r in rows)
    if got == exp:
        return False, f"MATCH ({len(got)} rows, {dt:.1f}s) digest={digest}"
    diff = [(g, e) for g, e in zip(got, exp) if g != e][:2]
    return True, f"MISMATCH rows {len(got)} vs {len(exp)} first-diff={diff}"


def main() -> int:
    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    names = query_names(sys.argv[1:], qs)
    print(f"checking {len(names)} queries sequentially in one session")

    # deliberately vanilla: no engine confs, mirroring the driver's harness
    spark = (
        SparkSession.builder.appName("verify-vanilla")
        .master("local[8]")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "12g")
        .getOrCreate()
    )

    import duckdb

    con = duckdb.connect()
    sf = "/root/testdata/sf0.01"
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")

    bad = 0
    for i, name in enumerate(names, 1):
        is_bad, verdict = check(spark, con, name, qs[name], oracles.get(name), sf)
        bad += is_bad
        print(f"[{i:2}/{len(names)}] {name}: {verdict}")
    print("BAD:", bad)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
