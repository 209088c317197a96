"""Property-based tests (hypothesis) for the pruning range algebra.

The safety property that matters: pruning must be SOUND — the extracted
RangeSet may over-approximate (scan more than needed costs time) but must
never exclude a timestamp that could satisfy the predicate (that loses
rows).  We generate random predicate ASTs, render them to SQL, and check
every satisfiable timestamp lands inside the extracted ranges; unknown
(non-timestamp) leaves are treated as potentially-true, mirroring the
scan-all degradation of `TimestampExpressionBuilder.java:37-141`.
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from fineo_readerator_spark.pruning import RangeSet, ranges_from_predicate, select_sources
from fineo_readerator_spark.sources import SourceSpec, TimeRange

TS = "timestamp"
DOMAIN = list(range(0, 21))  # small dense domain catches off-by-ones at bounds

# --- random predicate ASTs -------------------------------------------------

comparison = st.tuples(st.sampled_from(["=", "<", "<=", ">", ">=", "<>"]), st.integers(0, 20))


def leaf_ts(op_val):
    op, val = op_val
    return {"kind": "ts", "op": op, "val": val}


def leaf_between(lo_hi):
    lo, hi = lo_hi
    return {"kind": "between", "lo": min(lo, hi), "hi": max(lo, hi)}


def leaf_other(_):
    return {"kind": "other"}


leaves = st.one_of(
    comparison.map(leaf_ts),
    st.tuples(st.integers(0, 20), st.integers(0, 20)).map(leaf_between),
    st.just(None).map(leaf_other),
)

predicates = st.recursive(
    leaves,
    lambda inner: st.tuples(st.sampled_from(["AND", "OR"]), inner, inner).map(
        lambda t: {"kind": t[0].lower(), "l": t[1], "r": t[2]}
    ),
    max_leaves=8,
)


def to_sql(node) -> str:
    k = node["kind"]
    col = node.get("col", TS)
    if k == "ts":
        return f"{col} {node['op']} {const_sql(node, node['val'])}"
    if k == "between":
        return f"{col} BETWEEN {const_sql(node, node['lo'])} AND {const_sql(node, node['hi'])}"
    if k == "in":
        return f"{col} IN ({', '.join(const_sql(node, v) for v in node['vals'])})"
    if k == "not":
        return f"NOT ({to_sql(node['x'])})"
    if k == "other":
        return "event_type = 'x'"
    op = "AND" if k == "and" else "OR"
    return f"({to_sql(node['l'])} {op} {to_sql(node['r'])})"


def const_sql(node, v: int) -> str:
    """``v`` as a literal, or as a constant product when the leaf asks for one."""
    if not node.get("product"):
        return str(v)
    a = next((d for d in range(2, v) if v % d == 0), 1)
    return f"{a}*{v // a}"


def could_match(node, ts: int) -> bool:
    """True when a row with this timestamp could satisfy the predicate
    (unknown leaves count as true)."""
    k = node["kind"]
    if k == "ts":
        op, v = node["op"], node["val"]
        return {
            "=": ts == v, "<": ts < v, "<=": ts <= v,
            ">": ts > v, ">=": ts >= v, "<>": ts != v,
        }[op]
    if k == "between":
        return node["lo"] <= ts <= node["hi"]
    if k == "in":
        return ts in node["vals"]
    if k == "not":
        # wraps only timestamp leaves, whose truth at ts is exact
        return not could_match(node["x"], ts)
    if k == "other":
        return True
    if k == "and":
        return could_match(node["l"], ts) and could_match(node["r"], ts)
    return could_match(node["l"], ts) or could_match(node["r"], ts)


def in_ranges(rs: RangeSet, ts: int) -> bool:
    if rs.everything:
        return True
    return any(
        (r.start is None or ts >= r.start) and (r.end is None or ts < r.end) for r in rs.ranges
    )


@settings(max_examples=300, deadline=None)
@given(predicates)
def test_extracted_ranges_are_sound(ast):
    rs = ranges_from_predicate(to_sql(ast), TS)
    for ts in DOMAIN:
        if could_match(ast, ts):
            assert in_ranges(rs, ts), f"ts={ts} satisfiable but pruned; sql={to_sql(ast)!r}"


@settings(max_examples=300, deadline=None)
@given(predicates)
def test_source_selection_is_sound(ast):
    """A source whose window contains a satisfiable timestamp must be scanned."""
    sql = to_sql(ast)
    rs = ranges_from_predicate(sql, TS)
    windows = [TimeRange(0, 7), TimeRange(7, 14), TimeRange(14, None), TimeRange(None, None)]
    sources = [
        SourceSpec(kind="historical", path=f"s{i}", time_range=w) for i, w in enumerate(windows)
    ]
    live, _ = select_sources(sources, rs)
    live_paths = {s.path for s in live}
    for i, w in enumerate(windows):
        holds = any(
            could_match(ast, ts)
            and (w.start is None or ts >= w.start)
            and (w.end is None or ts < w.end)
            for ts in DOMAIN
        )
        if holds:
            assert f"s{i}" in live_paths, f"source {i} holds matching rows but was pruned; sql={sql!r}"


# --- the shapes Spark's parser adds: IN, NOT, spellings, constant products --

spellings = st.sampled_from([TS, TS.upper(), f"`{TS}`", TS.capitalize()])
spelled_leaves = st.one_of(
    st.tuples(comparison, spellings, st.booleans()).map(
        lambda t: {**leaf_ts(t[0]), "col": t[1], "product": t[2]}
    ),
    st.tuples(st.lists(st.integers(0, 20), min_size=1, max_size=4), spellings, st.booleans()).map(
        lambda t: {"kind": "in", "vals": t[0], "col": t[1], "product": t[2]}
    ),
    st.tuples(st.integers(0, 20), st.integers(0, 20), spellings).map(
        lambda t: {**leaf_between(t[:2]), "col": t[2]}
    ),
)
wide_leaves = st.one_of(
    spelled_leaves,
    spelled_leaves.map(lambda x: {"kind": "not", "x": x}),
    st.just(None).map(leaf_other),
)
wide_predicates = st.recursive(
    wide_leaves,
    lambda inner: st.tuples(st.sampled_from(["AND", "OR"]), inner, inner).map(
        lambda t: {"kind": t[0].lower(), "l": t[1], "r": t[2]}
    ),
    max_leaves=8,
)


@settings(max_examples=200, deadline=None)
@given(wide_predicates)
def test_spark_parsed_shapes_are_sound(ast):
    rs = ranges_from_predicate(to_sql(ast), TS)
    for ts in DOMAIN:
        if could_match(ast, ts):
            assert in_ranges(rs, ts), f"ts={ts} satisfiable but pruned; sql={to_sql(ast)!r}"


# --- TimeRange algebra vs integer-set semantics ----------------------------

bounds = st.one_of(st.none(), st.integers(0, 20))
ranges = st.tuples(bounds, bounds).map(
    lambda p: TimeRange(p[0], p[1])
    if (p[0] is None or p[1] is None or p[0] <= p[1])
    else TimeRange(p[1], p[0])
)


def members(r: TimeRange) -> set[int]:
    return {
        t
        for t in DOMAIN
        if (r.start is None or t >= r.start) and (r.end is None or t < r.end)
    }


@settings(max_examples=300, deadline=None)
@given(ranges, ranges)
def test_intersect_matches_set_semantics(a, b):
    got = a.intersect(b)
    exp = members(a) & members(b)
    assert (set() if got is None else members(got)) == exp


@settings(max_examples=300, deadline=None)
@given(ranges, ranges)
def test_overlaps_matches_set_semantics(a, b):
    # overlaps is defined on the continuous line; on integers it may report
    # True for zero-width gaps only when a real common point exists — check
    # one-sided: any shared member implies overlaps
    if members(a) & members(b):
        assert a.overlaps(b)
    # and overlaps=False implies no shared member
    if not a.overlaps(b):
        assert not (members(a) & members(b))
