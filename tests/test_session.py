from __future__ import annotations

from fineo_readerator_spark.session import codegen_compiles


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
