"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]``; the configs below are chosen so the same
plans scale to a large cluster: AQE for runtime re-planning (skew joins,
coalesced shuffle partitions), Arrow for any pandas-UDF path, and UTC session
time so epoch-millis round-trips are stable across engines (the DuckDB oracle
also operates in UTC).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


# Confs that every parquet read in this repo REQUIRES, and that are
# runtime-settable: get_spark sets them on the builder, and because the
# driver's correctness harness calls queries() callables on a vanilla
# session it builds itself (entry() may never run), each read entry point
# also applies them idempotently (ensure_io_confs).
_IO_CONFS = {
    # current testdata stores events.ts as TIMESTAMP(MICROS) (reads as
    # TIMESTAMP_NTZ), where this is a no-op; earlier fixture generations
    # used TIMESTAMP(NANOS), which Spark can only read as raw epoch-nanos
    # longs under this legacy conf.  All conversions go through the
    # type-adaptive functions.epoch_millis / epoch_ms() derive token.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # deterministic timestamp rendering across engines/runs; the DuckDB
    # oracle also operates in UTC
    "spark.sql.session.timeZone": "UTC",
    # Spark 4 defaults ANSI on; pinned so the documented overflow semantics
    # (arithmetic past decimal(38,0)/int64 RAISES rather than silently
    # wrapping/NULLing) hold regardless of the deployment's spark-defaults
    # or a legacy-mode driver session — every exact-integer convention in
    # this repo is designed and tested under ANSI
    "spark.sql.ansi.enabled": "true",
}


def get_spark(
    app_name: str = "fineo-readerator-spark",
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Return (or create) a SparkSession with engine defaults.

    On a real cluster the master/memory settings come from spark-submit; only
    the semantic + optimizer configs here matter. ``spark.sql.shuffle.partitions``
    is a floor — AQE coalesces small partitions back down at runtime.
    ``extra_confs`` are set on the builder after the engine defaults, for a
    tool that needs the same engine plus its own instrumentation (an event
    log); like every builder conf they apply only when this call creates the
    session.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sp = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # local mode hosts driver + all 32 task threads + block/shuffle
        # managers in ONE JVM; an undersized heap shows up as GC/mmap churn
        # (system-time spikes) long before OOM.  On a real cluster this knob
        # comes from spark-submit instead.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # a capped result (LIMIT, a tenant statement's max_rows) is taken
        # by scanning this many partitions first, then more only if they
        # held too few rows: one wave of task slots answers a selective
        # lookup in one job instead of a 1-partition probe job and a second
        .config("spark.sql.limit.initialNumPartitions", cpus)
        # compiled generated classes are cached by their source text, LRU,
        # 100 entries by default.  One pass of perfbench's batch_registry
        # subset compiles 148 distinct classes and one pass of the 53 bench
        # queries at sf0.001 about 1010, so at 100 every repeated pass
        # recompiled nearly all of them (Janino time on the driver, then
        # tasks running freshly loaded, not-yet-JIT-compiled code).  At 1000
        # a steady bench pass still recompiled 464-477 (the cache splits
        # into 4 LRU segments of 250); at 2000 it recompiles 10-24, the
        # classes whose source is never reused.  A cached class retains
        # about 20 KB of heap, so the cache stays under about 40 MB.  A
        # static conf: it takes effect only in a session this function
        # creates, and only if nothing in this JVM generated code before —
        # ensure_io_confs cannot apply it to a session the driver hands in.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
    )
    for k, v in {**_IO_CONFS, **(extra_confs or {})}.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def is_local_master(master: str) -> bool:
    """True for the in-process masters ``get_spark`` sets (``local``,
    ``local[N]``, ``local[*]``): every task shares one JVM, so a repartition
    or a broadcast costs no network.  ``local-cluster[...]`` runs separate
    executor JVMs and gets the cluster shape, like a real cluster."""
    return master == "local" or master.startswith("local[")


def codegen_compiles(spark: SparkSession) -> int:
    """Generated classes compiled so far in this JVM: a count that moves
    only when a plan's generated code missed the compiled-class cache."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


# Perf-only session defaults (results unchanged), applied ONLY when the conf
# still holds its out-of-the-box value — a deliberate setting (get_spark, a
# user session, spark-submit) is never clobbered.
_PERF_CONF_DEFAULTS = {
    # a vanilla session defaults to 200 shuffle partitions, which at
    # correctness scale is pure task-scheduling overhead — stateful streaming
    # queries pay it worst (one state store per partition: 20-37s/query
    # observed at 200 vs ~3s at core count).  On a real cluster this is
    # sized to total executor cores instead.
    "spark.sql.shuffle.partitions": ("200", str(DEFAULT_SHUFFLE_PARTITIONS)),
    # Arrow for driver<->executor transfers (createDataFrame/toPandas):
    # off by default on a vanilla session, which silently routes the
    # driver-built frames (union-find labels, codebooks, catalogs) through
    # pickled RDDs whose every task round-trips a Python worker.  Results
    # are identical; only the serialization path changes.
    "spark.sql.execution.arrow.pyspark.enabled": ("false", "true"),
}


def ensure_io_confs(spark: SparkSession) -> SparkSession:
    """Idempotently apply the confs every read in this repo needs.

    Called from ``plans.registry.load`` and ``sources.SourceSpec.read`` so the
    query inventory is self-sufficient on any session the driver hands us.
    """
    for k, v in _IO_CONFS.items():
        if spark.conf.get(k, None) != v:
            spark.conf.set(k, v)
    for k, (vanilla, ours) in _PERF_CONF_DEFAULTS.items():
        # unset reads back as None; both unset and the out-of-the-box value
        # count as "vanilla" — anything else was deliberately chosen upstream
        if spark.conf.get(k, None) in (None, vanilla):
            spark.conf.set(k, ours)
    return spark


def hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` via the JVM Hadoop API — the one
    copy of this incantation; works identically for local, HDFS and
    object-store paths."""
    jvm = spark.sparkContext._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()), p


def local_frame(spark: SparkSession, rows: list[tuple], schema: StructType | str) -> DataFrame:
    """A DataFrame over a few driver-built rows that plans as a JVM
    ``LocalTableScan``.  ``spark.createDataFrame(list)`` plans a pickled
    Python RDD instead, so every query over it starts Python worker tasks;
    the Arrow path avoids those but its first use costs most of a second.

    ``schema`` is a ``StructType`` or a DDL string, as in
    ``createDataFrame``.  Cells reach the JVM as py4j converts them:
    ``str``, ``None``, ``bool`` and ``int``, where a Python int within 32
    bits arrives as an Integer, so it fits only an ``IntegerType``
    column."""
    jvm = spark.sparkContext._jvm
    new_array = spark.sparkContext._gateway.new_array
    # resolve each JVM class once: every lookup through ``jvm`` is a round trip
    obj, row_factory = jvm.java.lang.Object, jvm.org.apache.spark.sql.RowFactory
    jrows = jvm.java.util.ArrayList()
    for row in rows:
        cells = new_array(obj, len(row))
        for i, v in enumerate(row):
            cells[i] = v
        jrows.add(row_factory.create(cells))
    if isinstance(schema, str):
        jschema = jvm.org.apache.spark.sql.types.StructType.fromDDL(schema)
    else:
        jschema = spark._jsparkSession.parseDataType(schema.json())
    return DataFrame(spark._jsparkSession.createDataFrame(jrows, jschema), spark)
