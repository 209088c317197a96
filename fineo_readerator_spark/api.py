"""Query entry point: tenant session with SQL access and read-only enforcement.

Reference lifecycle being re-expressed (SURVEY.md §3): client connects with an
api key → tenant validated → SQL rewritten/validated → planned against the
tenant's schema only → executed read-only (`FineoJdbcMeta.java:122-176`,
`TenantValidator.java:25-35`).  In Spark, E1/E2 collapse to: one
``TenantSession`` per org (matching the reference's one-org-per-server
deployment), metric tables registered as temp views built by the
recombinator, ``spark.sql`` for the query surface, and a statement guard in
place of the write-rejecting JDBC meta.
"""

from __future__ import annotations

import re
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from fineo_readerator_spark import catalog as cat
from fineo_readerator_spark.recombinator import build_metric_df
from fineo_readerator_spark.schema_store import SchemaStore
from fineo_readerator_spark.sources import SourceSpec, TimeRange


class ReadOnlyViolation(Exception):
    """Writes are rejected — the engine is read-only
    (`FineoJdbcMeta.java:166-176` throws on executeBatch/update)."""


_READ_STATEMENTS = ("select", "with", "values", "explain", "show", "describe", "table")
_COMMENT = re.compile(r"(--[^\n]*\n?)|(/\*.*?\*/)", re.DOTALL)
# the first keyword, after any opening parentheses: `(SELECT 1)`, `SELECT(1)`
_FIRST_WORD = re.compile(r"[(\s]*(\w*)")


def assert_read_only(sql: str) -> None:
    head = _COMMENT.sub(" ", sql).strip()
    if not head:
        raise ReadOnlyViolation("empty statement")
    first = _FIRST_WORD.match(head).group(1).lower()
    if first not in _READ_STATEMENTS:
        raise ReadOnlyViolation(
            f"statement {first.upper()!r} rejected: this engine is read-only"
        )


# runtime options a tenant may set, mirroring the reference's fixed option
# surface (`ALTER SYSTEM/SESSION SET ...` at startup,
# `FineoDrillStartupSetup.java:15-31`); anything else is rejected — conf
# keys are a security/stability surface, not a free-for-all.  Option scope
# is the SparkSession, matching the reference's one-org-per-server
# deployment (`FineoServer.java:64-67`); the allowlist therefore holds
# PERF-ONLY knobs — nothing that changes query RESULTS (the session
# timezone, for instance, must never be here: on a shared SparkSession one
# tenant's change would silently shift another tenant's timestamps).
def _norm_int(lo: int, hi: int):
    """Canonical-form int normalizer: digits only (no sign, no ``1_0``
    underscore forms Python's int() would accept), bounded to [lo, hi] —
    a tenant setting shuffle.partitions=0 on the shared session would break
    planning for every other tenant.  Returns the normalized string that is
    actually passed to SET (never the raw input)."""

    def norm(v: str) -> str:
        if not v.isascii() or not v.isdigit():
            raise ValueError(f"not a plain decimal integer: {v!r}")
        n = int(v)
        if not lo <= n <= hi:
            raise ValueError(f"{n} outside allowed range [{lo}, {hi}]")
        return str(n)

    return norm


def _norm_bool(v: str) -> str:
    low = v.lower()
    if low not in ("true", "false"):
        raise ValueError(f"not a boolean: {v!r}")
    return low


# each option maps to a normalizer: raises ValueError on bad input, returns
# the canonical value string that is passed to SET
_SESSION_OPTIONS: dict = {
    "spark.sql.shuffle.partitions": _norm_int(1, 100_000),
    "spark.sql.adaptive.enabled": _norm_bool,
    "spark.sql.files.maxPartitionBytes": _norm_int(65_536, 16 * 1024**3),
}
_ALTER_SET = re.compile(
    r"^\s*alter\s+(?:system|session)\s+set\s+`?([\w.]+)`?\s*=\s*(.+?)\s*;?\s*$",
    re.IGNORECASE,
)


class TenantSession:
    """All reads for one tenant.  Metric tables and the errors stream are temp
    views whose definitions already carry the tenant filters, so no SQL string
    can escape the tenant (stronger than the reference's query-rewrite
    approach, `FineoErrorWhereForce.java:38-68`).

    Note: Spark temp views are per-SparkSession.  Run one tenant per
    SparkSession (the reference runs one org per server instance); use
    ``spark.newSession()`` to host several tenants in one JVM with isolated
    view namespaces.
    """

    def __init__(
        self,
        spark: SparkSession,
        store: SchemaStore,
        org: str,
        errors_source: Optional[SourceSpec] = None,
    ) -> None:
        self.spark = spark
        self.store = store
        self.org = org
        self.errors_source = errors_source
        self._register()

    # -- registration -----------------------------------------------------
    def _register(self) -> None:
        for metric in self.store.metrics(self.org):
            # views are unsorted: ORDER BY belongs to the consuming query; the
            # metric_table() API keeps the reference's always-sorted default
            df = build_metric_df(self.spark, self.store, self.org, metric, sort=False)
            df.createOrReplaceTempView(metric)
        if self.errors_source is not None:
            cat.errors_stream_df(self.spark, self.errors_source, self.org).createOrReplaceTempView(
                cat.ERRORS_VIEW
            )
        cat.info_schema_catalogs(self.spark).createOrReplaceTempView("information_schema_catalogs")
        cat.info_schema_schemata(self.spark, self.store, self.org).createOrReplaceTempView(
            "information_schema_schemata"
        )
        cat.info_schema_tables(self.spark, self.store, self.org).createOrReplaceTempView(
            "information_schema_tables"
        )
        cat.info_schema_columns(self.spark, self.store, self.org).createOrReplaceTempView(
            "information_schema_columns"
        )

    # -- query surface ----------------------------------------------------
    def sql(self, query: str, max_rows: Optional[int] = None) -> DataFrame:
        """Read-only SQL over the tenant's views.

        ``max_rows`` mirrors the reference's JDBC statement ``maxRowCount``
        (`FineoJdbcMeta.java:143-159`): a plan-level LIMIT, so Spark plans a
        TakeOrderedAndProject / CollectLimit instead of materializing the
        full result.

        ``ALTER SYSTEM|SESSION SET <option> = <value>`` (the reference's
        option statements, §2.7) maps to allowlisted runtime conf changes
        and returns the (key, value) row Spark's SET produces."""
        m = _ALTER_SET.match(query)
        if m:
            key, value = m.group(1), m.group(2)
            if len(value) >= 2 and value[0] == value[-1] and value[0] in "'\"":
                value = value[1:-1]  # matching surrounding quotes only
            if key not in _SESSION_OPTIONS:
                raise ReadOnlyViolation(
                    f"option {key!r} is not tenant-settable; allowed: "
                    f"{sorted(_SESSION_OPTIONS)}"
                )
            try:
                normalized = _SESSION_OPTIONS[key](value)
            except (TypeError, ValueError) as e:
                raise ReadOnlyViolation(
                    f"invalid value {value!r} for option {key!r}: {e}"
                ) from e
            return self.spark.sql(f"SET {key}={normalized}")
        assert_read_only(query)
        df = self.spark.sql(query)
        if max_rows is not None:
            df = df.limit(int(max_rows))
        return df

    def metric_table(
        self,
        metric: str,
        predicate: Optional[str] = None,
        time_range: Optional[TimeRange] = None,
        sort: bool = True,
    ) -> DataFrame:
        """Programmatic metric read (always sorted by timestamp by default,
        `FineoRecombinatorRule.java:171-177`)."""
        return build_metric_df(
            self.spark, self.store, self.org, metric,
            predicate=predicate, time_range=time_range, sort=sort,
        )

    def refresh(self) -> None:
        """Re-resolve views after schema-store changes (schema evolution)."""
        self._register()
