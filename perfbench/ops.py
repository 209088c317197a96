"""Seeded op sequences for the workloads, and their expected answers.

Pure Python plus DuckDB: nothing here starts Spark, so the op sequences and
the oracle are testable on their own.  The workload seed picks op
parameters and op order; the program under test only ever sees the
generated SQL (serving workloads) or registry query names (batch).
"""

from __future__ import annotations

import hashlib
import random
from dataclasses import dataclass
from itertools import count
from typing import Iterator

from datagen import EVENTS_T0_US, N_EVENTS

DAY_MS = 86_400_000
HOUR_MS = 3_600_000
T0_MS = EVENTS_T0_US // 1000
T_END_MS = T0_MS + 30 * DAY_MS

# one dashboard block: every block holds exactly these query kinds, in
# seeded order, so any whole number of blocks has the same mix on every
# seed.  The block's one refresh sits at a fixed position, so a window of a
# given op count holds the same number of refreshes on every seed.
DASHBOARD_BLOCK = {"agg": 5, "point": 5, "topn": 5, "lastn": 5, "info": 4, "refresh": 1}
REFRESH_POSITION = 12

# the batch subset, mapped to the library module each query's work lives
# in (``plans``: plain Spark in the registry module itself).  Seven of the
# registry's 53 bench queries, at least one per module, chosen among the
# lighter ones: a run makes a checking pass, a warm-up pass and a timed
# window of two passes, and the run's time budget fits that only for
# queries of about a second.  The heavy dedup and graph queries
# (d_minhash_dedup, s_ppr_layout) took 2-5 s each on a 4-core VM, with up
# to 2x swings from run to run that one short window cannot average out.
BATCH_QUERIES = {
    "m_union_overlap": "recombinator",
    "kv_scan": "kvsource",
    "q1_pricing_summary": "plans",
    "t_bm25_topk": "llm_ops",
    "s_label_prop_layout": "llm_ops",
    "q_gini": "operators",
    "st_windowed_rollup": "streaming",
}
QUERY_MODULES = ("recombinator", "kvsource", "plans", "llm_ops", "operators", "streaming")

# the two schema versions a dashboard refresh alternates between: the
# registered fields, and the same plus ``amount``, stored under the alias
# ``value``
BASE_COLUMNS = [
    ("timestamp", "BIGINT"),
    ("event_id", "BIGINT"),
    ("user_id", "BIGINT"),
    ("event_type", "STRING"),
    ("value", "DOUBLE"),
    ("props", "STRING"),
]
ALIAS_COLUMNS = BASE_COLUMNS + [("amount", "DOUBLE")]

INFO_SQL = (
    "SELECT column_name, data_type FROM information_schema_columns "
    "WHERE table_name = 'events' ORDER BY ordinal_position"
)


@dataclass(frozen=True)
class Op:
    """One client operation.  ``arg`` is the SQL for a serving op, the
    target schema version (``base``/``alias``) for a refresh, and the
    registry query name for a batch op."""

    kind: str
    arg: str


def _window(rng: random.Random, length_ms: int) -> tuple[int, int]:
    lo = rng.randrange(T0_MS, T_END_MS - length_ms)
    return lo, lo + length_ms


def _dashboard_op(kind: str, rng: random.Random) -> Op:
    if kind == "agg":
        lo, hi = _window(rng, rng.randint(6, 48) * HOUR_MS)
        return Op(kind, (
            "SELECT event_type, count(*) AS n, round(sum(value), 2) AS total "
            f"FROM events WHERE timestamp >= {lo} AND timestamp < {hi} "
            "GROUP BY event_type ORDER BY event_type"
        ))
    if kind == "point":
        return Op(kind, (
            "SELECT timestamp, event_id, user_id, event_type, value, props "
            f"FROM events WHERE event_id = {rng.randrange(N_EVENTS)}"
        ))
    if kind == "topn":
        lo, hi = _window(rng, rng.randint(1, 7) * DAY_MS)
        return Op(kind, (
            "SELECT user_id, count(*) AS n FROM events "
            f"WHERE timestamp >= {lo} AND timestamp < {hi} "
            "GROUP BY user_id ORDER BY n DESC, user_id LIMIT 10"
        ))
    if kind == "lastn":
        t = rng.randrange(T0_MS + DAY_MS, T_END_MS)
        return Op(kind, (
            "SELECT timestamp, event_id, event_type, value FROM events "
            f"WHERE timestamp < {t} ORDER BY timestamp DESC, event_id DESC LIMIT 20"
        ))
    if kind == "info":
        return Op(kind, INFO_SQL)
    raise ValueError(f"unknown dashboard op kind {kind!r}")


def dashboard_ops(seed: int) -> Iterator[Op]:
    rng = random.Random(f"dashboard:{seed}")
    refreshes = 0
    while True:
        kinds = [k for k, n in DASHBOARD_BLOCK.items() for _ in range(n) if k != "refresh"]
        rng.shuffle(kinds)
        kinds.insert(REFRESH_POSITION, "refresh")
        for kind in kinds:
            if kind == "refresh":
                refreshes += 1
                yield Op(kind, "alias" if refreshes % 2 else "base")
            else:
                yield _dashboard_op(kind, rng)


def batch_ops(seed: int) -> Iterator[Op]:
    """Whole passes over the batch subset, each in a fresh seeded order."""
    rng = random.Random(f"batch:{seed}")
    for _ in count():
        names = list(BATCH_QUERIES)
        rng.shuffle(names)
        yield from (Op("query", n) for n in names)


OPS = {"tenant_dashboard": dashboard_ops, "batch_registry": batch_ops}


def rows_digest(rows) -> str:
    """Order-insensitive digest of result rows (tuples of cells)."""
    h = hashlib.sha1()
    for r in sorted(repr(tuple(r)) for r in rows):
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()


def registry_digest(columns: list[str], rows) -> str:
    """The registry's oracle comparison, as a digest: columns sorted by
    name, every cell stringified, rows sorted (``scripts/verify_oracles.py``)."""
    return rows_digest(tuple(str(c) for c in r) for r in rows) + ":" + ",".join(columns)


def cells_match(got, want) -> bool:
    """Equal rows; floats may differ by the last digit of a 2-place round."""
    if len(got) != len(want):
        return False
    for g_row, w_row in zip(got, want):
        if len(g_row) != len(w_row):
            return False
        for g, w in zip(g_row, w_row):
            if isinstance(w, float) or isinstance(g, float):
                if g is None or w is None or abs(float(g) - float(w)) > 0.011:
                    return False
            elif g != w:
                return False
    return True


class EventsOracle:
    """DuckDB answers for the serving ops, over the same parquet the tenant
    reads.  The split store (historical below the cutover, nearline at or
    above it) equals ``events`` exactly once, so one view answers both."""

    def __init__(self, events_parquet: str) -> None:
        import duckdb

        self.con = duckdb.connect()
        self.con.execute(
            'CREATE VIEW events AS SELECT epoch_ms(ts) AS "timestamp", event_id, '
            f"user_id, event_type, value, props FROM read_parquet('{events_parquet}')"
        )

    def rows(self, sql: str) -> list[tuple]:
        return self.con.execute(sql).fetchall()

    def close(self) -> None:
        self.con.close()


def expected_columns(version: str) -> list[tuple[str, str]]:
    return ALIAS_COLUMNS if version == "alias" else BASE_COLUMNS
