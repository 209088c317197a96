"""Source tables backing a metric.

The reference unions two physically different stores per metric
(`SubTableScanBuilder.java:44-112`):

- ``historical``: parquet/JSON directories written by batch ETL, laid out
  ``<base>/<version>/<format>/<org>/<metric>/<date-dirs>`` — old data.
- ``nearline``: DynamoDB tables, each owning a time window ``[start, end)``
  encoded in the table name (`DynamoTimestampHandler.java:51-54`) — recent data.
- ``nearline_items``: same, but in the raw KV item shape (one item per
  (partition_key, sort_key) carrying an ``ids`` list and per-field
  ``{write-id -> value}`` maps) that needs expansion
  (`DynamoExpanderBatch.java:38-42,80-116`).

Spark mapping: every source is a DataFrame read; the window metadata drives
resolve-time pruning (skip sources whose window misses the query's time range)
and the anti-overlap cutover filter.  At 100 TB the historical dirs are
date-partitioned parquet, so Catalyst partition pruning handles intra-source
file skipping; window metadata handles inter-source skipping without touching
storage at all.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

# Derive SQL may call the pseudo-function ``epoch_ms(col)`` (same spelling as
# the DuckDB oracle); it resolves at read time against the column's ACTUAL
# stored dtype — timestamp[us] fixtures and epoch-nanos-long fixtures both
# derive the same epoch-millis BIGINT, so a driver testdata type flip never
# breaks the query surface again.
_EPOCH_MS_TOKEN = re.compile(r"\bepoch_ms\(\s*(\w+)\s*\)")

HISTORICAL = "historical"
NEARLINE = "nearline"
NEARLINE_ITEMS = "nearline_items"
KINDS = (HISTORICAL, NEARLINE, NEARLINE_ITEMS)
# file formats a source reads through ``spark.read.format`` (batch) and
# ``spark.readStream.format`` (streaming); gzip json/csv are native to them
_FS_FORMATS = ("parquet", "json", "csv", "orc")


@dataclass(frozen=True)
class TimeRange:
    """Half-open epoch-millis interval ``[start, end)``; ``None`` = unbounded.

    Mirrors the Range arithmetic in `TimestampExpressionBuilder.java:37-141`
    and the table-window handlers (`DynamoTimestampHandler.java:29-121`).
    """

    start: Optional[int] = None
    end: Optional[int] = None

    @property
    def is_unbounded(self) -> bool:
        return self.start is None and self.end is None

    def overlaps(self, other: "TimeRange") -> bool:
        lo = max(
            self.start if self.start is not None else float("-inf"),
            other.start if other.start is not None else float("-inf"),
        )
        hi = min(
            self.end if self.end is not None else float("inf"),
            other.end if other.end is not None else float("inf"),
        )
        return lo < hi

    def intersect(self, other: "TimeRange") -> Optional["TimeRange"]:
        if not self.overlaps(other):
            return None
        starts = [s for s in (self.start, other.start) if s is not None]
        ends = [e for e in (self.end, other.end) if e is not None]
        return TimeRange(max(starts) if starts else None, min(ends) if ends else None)

    def to_list(self) -> list:
        return [self.start, self.end]

    @classmethod
    def from_list(cls, pair) -> "TimeRange":
        if pair is None:
            return cls()
        return cls(pair[0], pair[1])


@dataclass
class SourceSpec:
    """One physical source of rows for a metric table."""

    kind: str  # historical | nearline | nearline_items
    path: str
    # one of _FS_FORMATS; csv defaults to header=true + schema inference
    # unless options override
    fmt: str = "parquet"
    time_range: TimeRange = field(default_factory=TimeRange)
    # Does the stored data carry companykey/metrictype columns (dfs layout) or
    # a compound partition_key (dynamo layout)?  (DynamoFineoCompoundKeyMapper.java:21-37)
    compound_key: bool = False
    # Columns storing base64 text that must decode to BINARY on read
    # (FineoRecombinatorRule.java:130-139, udf/conv/Base64Decoder.java).
    base64_binary: bool = False
    # Enforce the declared window as a row filter on read.  Nearline window
    # tables physically contain only their window in the reference; when a
    # snapshot emulation points several windows at overlapping files, this
    # keeps the declared-window semantics.
    enforce_range: bool = True
    # Optional options passed to the reader (e.g. {"recursiveFileLookup": "true"}).
    options: dict = field(default_factory=dict)
    # Optional column derivations (name -> SQL expression) applied right after
    # the read — the storage-shape adapter (e.g. epoch-nanos → epoch-millis,
    # compound-key splits).  Pure Catalyst expressions: they fold into the
    # scan projection, so there is no extra pass over the data.
    derive: dict = field(default_factory=dict)
    # When the metric timestamp is derived from a stored column by integer
    # division (raw units per millisecond), declare it here: time-range
    # filters are then re-expressed on the RAW column so they push into the
    # parquet scan, which skips row groups by min/max on integer and
    # UTC-adjusted timestamp columns but not on TIMESTAMP_NTZ ones.  A filter
    # on the derived `raw div N` expression is NOT pushable at all.
    raw_ts_col: Optional[str] = None
    raw_ts_per_milli: int = 1

    def __post_init__(self) -> None:
        if self.kind not in KINDS:
            raise ValueError(f"unknown source kind {self.kind!r}")
        if self.fmt not in _FS_FORMATS:
            raise ValueError(f"unsupported source format {self.fmt!r}; one of {_FS_FORMATS}")

    def _resolve_derive_sql(self, df: DataFrame, sql: str) -> str:
        """Expand ``epoch_ms(col)`` tokens per the stored column's dtype."""
        from fineo_readerator_spark.functions.scalars import epoch_ms_sql

        def repl(m: re.Match) -> str:
            col = m.group(1)
            if col not in df.columns:
                raise ValueError(f"epoch_ms({col}): no such stored column in {self.path}")
            # integer-typed raw time defaults to epoch nanos (the only raw
            # integer shape the fixtures have shipped) unless declared
            per = self.raw_ts_per_milli if col == self.raw_ts_col else 1_000_000
            return "(" + epoch_ms_sql(df.schema[col].dataType, col, per) + ")"

        return _EPOCH_MS_TOKEN.sub(repl, sql)

    def _apply_derive(self, df: DataFrame) -> DataFrame:
        if self.derive:
            from pyspark.sql import functions as F

            df = df.withColumns(
                {name: F.expr(self._resolve_derive_sql(df, sql)) for name, sql in self.derive.items()}
            )
        return df

    def _reader(self, reader, **csv_options):
        """Format, csv header and the spec's own options on a batch or stream
        reader (the spec's options win)."""
        if self.fmt == "csv":
            reader = reader.options(header="true", **csv_options)
        return reader.options(**self.options).format(self.fmt)

    def _read_raw(self, spark: SparkSession) -> DataFrame:
        """Batch read of the stored shape, before any derivations."""
        from fineo_readerator_spark.session import ensure_io_confs

        ensure_io_confs(spark)
        return self._reader(spark.read, inferSchema="true").load(self.path)

    def read(self, spark: SparkSession) -> DataFrame:
        return self._apply_derive(self._read_raw(spark))

    def read_stream(self, spark: SparkSession) -> DataFrame:
        """``readStream`` over the same source.  The declared schema is the
        STORED shape (one driver-side metadata peek, which also sets the I/O
        confs); derivations apply on top of the stream, exactly as in batch —
        declaring the derived schema instead would make the file reader return
        NULL for every derived column, since those never exist in the files."""
        import os

        schema = self._read_raw(spark).schema
        # FileStreamSource forces basePath to the input path unless the path
        # is a glob, and requires basePath to be a directory — so a source
        # pointing at a single file (snapshot fixtures) streams via an
        # exact-match glob, which makes Spark infer the parent dir instead
        path = self.path
        if os.path.isfile(path):
            path = os.path.join(os.path.dirname(path), "{" + os.path.basename(path) + "}")
        return self._apply_derive(self._reader(spark.readStream.schema(schema)).load(path))

    def to_dict(self) -> dict:
        return {
            "kind": self.kind,
            "path": self.path,
            "fmt": self.fmt,
            "range": self.time_range.to_list(),
            "compound_key": self.compound_key,
            "base64_binary": self.base64_binary,
            "enforce_range": self.enforce_range,
            "options": dict(self.options),
            "derive": dict(self.derive),
            "raw_ts_col": self.raw_ts_col,
            "raw_ts_per_milli": self.raw_ts_per_milli,
        }

    @classmethod
    def from_dict(cls, d: dict) -> "SourceSpec":
        return cls(
            kind=d["kind"],
            path=d["path"],
            fmt=d.get("fmt", "parquet"),
            time_range=TimeRange.from_list(d.get("range")),
            compound_key=d.get("compound_key", False),
            base64_binary=d.get("base64_binary", False),
            enforce_range=d.get("enforce_range", True),
            options=dict(d.get("options", {})),
            derive=dict(d.get("derive", {})),
            raw_ts_col=d.get("raw_ts_col"),
            raw_ts_per_milli=d.get("raw_ts_per_milli", 1),
        )


def discover_fs_sources(
    store,
    base: str,
    version: Optional[str] = None,
    derive: Optional[dict] = None,
    **spec_kwargs,
):
    """Enumerate historical sources from the reference's dfs layout
    ``<base>/<version>/<format>/<org>/<metric>`` and register them on
    ``store`` (`SubTableScanBuilder.java:44-112`: the builder walks the
    configured version's format dirs and emits one sub-scan per existing
    ``<org>/<metricId>`` dir).

    - ``version=None`` selects the LATEST version dir under NATURAL order
      (digit runs compare numerically, so ``v10`` > ``v9`` — a plain
      lexicographic max would pick ``v9`` forever after the tenth re-ETL);
      the reference pins the version in plugin config
      (`SubTableScanBuilder.java:106-112`) — pass it explicitly for that.
      Older versions are never scanned: a re-ETL publishes a new version
      dir and readers cut over atomically by name.
    - Dirs for metrics absent from the schema store are SKIPPED: a deleted
      metric hides its data even though files persist
      (`TestClientLikeReads.java:324-434`).
    - ``derive``/``spec_kwargs`` apply to every discovered spec (the
      storage-shape adapter, e.g. ``epoch_ms`` derivations).

    This is resolve-time metadata walking (one listing of the layout tree,
    never file contents); at 100 TB it touches O(orgs × metrics)
    directory entries, not data.  The walk goes through the Hadoop
    FileSystem of the ACTIVE SparkSession when one exists, so the same
    layout works on s3a/hdfs base paths (local pathlib would silently
    return [] there); a pathlib fallback keeps sessionless local use
    working.
    """

    def natural(name: str):
        return [int(t) if t.isdigit() else t for t in re.split(r"(\d+)", name)]

    list_dirs = _dir_lister(base)
    versions = sorted(list_dirs(base), key=natural)
    if version is not None:
        if version not in versions:
            raise ValueError(
                f"requested version {version!r} not found under {base!r}; "
                f"available: {versions}"
            )
        ver = version
    elif versions:
        ver = versions[-1]
    else:
        return []
    added = []
    b = base.rstrip("/")
    for fmt in sorted(list_dirs(f"{b}/{ver}")):
        if fmt not in _FS_FORMATS:
            continue
        for org in sorted(list_dirs(f"{b}/{ver}/{fmt}")):
            for metric in sorted(list_dirs(f"{b}/{ver}/{fmt}/{org}")):
                try:
                    store.get_metric(org, metric)
                except KeyError:
                    continue  # deleted/unregistered metric: data stays hidden
                spec = SourceSpec(
                    kind=HISTORICAL,
                    path=f"{b}/{ver}/{fmt}/{org}/{metric}",
                    fmt=fmt,
                    derive=dict(derive or {}),
                    **spec_kwargs,
                )
                store.add_source(org, metric, spec)
                added.append((org, metric, spec))
    return added


def _dir_lister(base: str):
    """``path -> [child dir names]`` for the layout walk: Hadoop FileSystem
    when a SparkSession is active (works for local, hdfs and object-store
    paths alike), local pathlib otherwise."""
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        from fineo_readerator_spark.session import hadoop_fs

        fs, _ = hadoop_fs(spark, base)
        jpath = spark.sparkContext._jvm.org.apache.hadoop.fs.Path

        def list_dirs(path: str):
            p = jpath(path)
            if not fs.exists(p):
                return []
            return [
                st.getPath().getName() for st in fs.listStatus(p) if st.isDirectory()
            ]

        return list_dirs

    from pathlib import Path

    def list_dirs(path: str):
        root = Path(path)
        if not root.is_dir():
            return []
        return [c.name for c in root.iterdir() if c.is_dir()]

    return list_dirs
