"""Untimed preparation, run once per checkout before any measured process.

1. Generate the input tables (``datagen``).
2. Compute the expected answer of every batch query with its registry
   DuckDB oracle, stored as a digest plus a row count.
3. Run every batch query once on Spark, so the snapshot caches some of them
   keep under ``.kv_cache`` exist before the first timed process: the
   first run's set-up and warm-up then cost what every later run's do.

The stamp file is written last; ``run.py`` prepares again when it is
missing or differs from ``stamp_content()``: another query set, another
oracle for one of the queries, or another data generator.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import datagen  # noqa: E402
import ops as O  # noqa: E402

STAMP_VERSION = 1


def _sha1(data: bytes) -> str:
    return hashlib.sha1(data).hexdigest()


def stamp_content() -> dict:
    """What the prepared inputs were made from; needs the program's package
    importable."""
    from fineo_readerator_spark.plans.queries import QUERIES

    return {
        "version": STAMP_VERSION,
        "data_seed": datagen.DATA_SEED,
        "datagen": _sha1(Path(datagen.__file__).read_bytes()),
        "oracles": {name: _sha1(QUERIES[name].oracle.encode()) for name in sorted(O.BATCH_QUERIES)},
    }


def expected_answers(data: Path) -> dict:
    import duckdb

    from fineo_readerator_spark.plans.queries import QUERIES

    con = duckdb.connect()
    for t in datagen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data / t}.parquet')")
    out = {}
    for name in O.BATCH_QUERIES:
        rel = con.sql(QUERIES[name].oracle)
        cols = sorted(rel.columns)
        idx = [list(rel.columns).index(c) for c in cols]
        rows = [tuple(r[i] for i in idx) for r in rel.fetchall()]
        out[name] = {"digest": O.registry_digest(cols, rows)}
    con.close()
    return out


def warm_snapshots(data: Path) -> None:
    from fineo_readerator_spark.plans.queries import QUERIES
    from fineo_readerator_spark.session import get_spark

    spark = get_spark("perfbench-prepare")
    try:
        for name in O.BATCH_QUERIES:
            QUERIES[name].fn(spark, str(data)).write.format("noop").mode("overwrite").save()
    finally:
        spark.stop()


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--data", required=True)
    p.add_argument("--expected", required=True)
    p.add_argument("--stamp", required=True)
    args = p.parse_args(argv)
    data = Path(args.data).resolve()
    datagen.generate(data)
    Path(args.expected).write_text(json.dumps(expected_answers(data), indent=1))
    warm_snapshots(data)
    Path(args.stamp).write_text(json.dumps(stamp_content()))
    return 0


if __name__ == "__main__":
    sys.exit(main())
