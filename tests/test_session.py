from __future__ import annotations

import pytest

from fineo_readerator_spark.session import codegen_compiles, is_local_master


def test_codegen_cache_holds_a_working_set_above_spark_default(spark):
    """A repeated statement reuses its compiled classes even after more than
    100 other distinct classes (Spark's default cache size) were compiled
    since: the engine's steady passes compile more than that per pass."""

    def run(k):
        spark.range(8).selectExpr(f"id * {k} + {k} AS x").collect()

    before = codegen_compiles(spark)
    for k in range(1, 121):
        run(k)
    assert codegen_compiles(spark) - before > 100
    before = codegen_compiles(spark)
    run(1)
    assert codegen_compiles(spark) == before


@pytest.mark.parametrize(
    "master, local",
    [
        ("local", True),
        ("local[4]", True),
        ("local[*]", True),
        ("local-cluster[2,1,1024]", False),
        ("spark://h:7077", False),
        ("yarn", False),
    ],
)
def test_is_local_master(master, local):
    """Only in-process masters get the local shapes; ``local-cluster`` has
    separate executor JVMs and is treated like a cluster."""
    assert is_local_master(master) is local
