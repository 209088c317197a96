"""The benchmark's own tests; no Spark needed.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import sys
import threading
from itertools import islice
from pathlib import Path
from types import SimpleNamespace

HERE = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(HERE))

import ops as O  # noqa: E402
import tracing  # noqa: E402
import workload  # noqa: E402

BENCHMARK = json.loads((HERE.parent / "BENCHMARK.json").read_text())


def test_end_to_end_names_and_units_match_benchmark_json():
    declared = {m["name"]: m["unit"] for m in BENCHMARK["end_to_end"]}
    assert declared == workload.END_TO_END_UNITS


def test_per_layer_names_and_units_match_benchmark_json():
    declared = {m["name"]: m["unit"] for m in BENCHMARK["per_layer"]}
    assert declared == workload.PER_LAYER_UNITS


def test_per_layer_emits_exactly_the_declared_metrics():
    spark = dict.fromkeys(["jobs", "stages", "tasks", "failed_tasks", "cpu_ms", "run_ms", "gc_ms",
                           "shuffle_write_bytes", "shuffle_read_bytes", "memory_spill_bytes",
                           "disk_spill_bytes", "input_bytes", "input_records"], 1)
    window = [
        {"i": 0, "kind": "agg", "group": "agg", "ms": 10.0, "rows": 5, "requests": 1,
         "bytes": 100, "traced": True, "build_jobs": 0, "spark": spark},
        {"i": 1, "kind": "query", "group": "kv_scan", "ms": 20.0, "rows": 3, "requests": 0,
         "bytes": 0, "traced": False, "build_jobs": 2, "spark": spark},
    ]
    out = tracing.per_layer([], window, O.BATCH_QUERIES, cores=4)
    assert set(out) == set(workload.PER_LAYER_UNITS)
    assert out["spark.jobs_per_op"] == 1.0
    assert out["plans.build_jobs_per_op"] == 2.0


def test_benchmark_workloads_exist():
    assert {w["name"] for w in BENCHMARK["workloads"]} <= set(O.OPS)


def test_span_records_have_the_schema_and_link_parents(tmp_path):
    tr = tracing.Tracer()
    tr.op = 7
    with tr.span("client.request", path="/query") as outer:
        tr.remote_parent = outer["id"]
        with tr.span("api.sql"):
            pass

        def handler():  # another thread: links through remote_parent
            with tr.span("server.handle", path="/query"):
                pass

        t = threading.Thread(target=handler)
        t.start()
        t.join(timeout=10)
        assert not t.is_alive()
    path = tmp_path / "spans.jsonl"
    tr.write(path)
    recs = [json.loads(line) for line in path.read_text().splitlines()]
    assert [r["name"] for r in recs] == ["client.request", "api.sql", "server.handle"]
    for r in recs:
        assert set(tracing.SPAN_KEYS) <= set(r)
        assert r["op"] == 7
        assert r["start"] <= r["end"]
    assert recs[0]["parent"] is None
    assert recs[1]["parent"] == recs[0]["id"]
    assert recs[2]["parent"] == recs[0]["id"]


def test_wrap_records_only_while_active():
    tr = tracing.Tracer()
    owner = SimpleNamespace(f=lambda x: x + 1)
    tracing.wrap(tr, owner, "f", "layer.f")
    tr.active = False
    assert owner.f(1) == 2
    assert tr.spans == []
    tr.active = True
    assert owner.f(2) == 3
    assert [s["name"] for s in tr.spans] == ["layer.f"]


def _take(workload_name: str, seed: int, n: int) -> list[O.Op]:
    return list(islice(O.OPS[workload_name](seed), n))


def test_same_seed_gives_the_same_op_sequence():
    for name in O.OPS:
        assert _take(name, 3, 60) == _take(name, 3, 60)
        assert _take(name, 3, 60) != _take(name, 4, 60)


def test_dashboard_blocks_have_a_fixed_mix_and_refresh_position():
    block = sum(O.DASHBOARD_BLOCK.values())
    ops = _take("tenant_dashboard", 11, 3 * block)
    for b in range(3):
        chunk = ops[b * block:(b + 1) * block]
        kinds = [op.kind for op in chunk]
        assert {k: kinds.count(k) for k in O.DASHBOARD_BLOCK} == O.DASHBOARD_BLOCK
        assert chunk[O.REFRESH_POSITION].kind == "refresh"
    assert [op.arg for op in ops if op.kind == "refresh"] == ["alias", "base", "alias"]


def test_batch_passes_cover_every_query_once():
    n = len(O.BATCH_QUERIES)
    ops = _take("batch_registry", 5, 2 * n)
    assert sorted(op.arg for op in ops[:n]) == sorted(O.BATCH_QUERIES)
    assert sorted(op.arg for op in ops[n:]) == sorted(O.BATCH_QUERIES)
    assert set(O.BATCH_QUERIES.values()) <= set(O.QUERY_MODULES)


def test_digests_ignore_row_order_and_float_check_tolerates_rounding():
    assert O.rows_digest([(1, "a"), (2, "b")]) == O.rows_digest([(2, "b"), (1, "a")])
    assert O.rows_digest([(1, "a")]) != O.rows_digest([(1, "b")])
    assert O.cells_match([("x", 1, 2.005)], [("x", 1, 2.01)])
    assert not O.cells_match([("x", 1, 2.0)], [("x", 1, 2.1)])
    assert not O.cells_match([("x", 1)], [("x", 2)])


def test_p90_lies_within_the_samples():
    lat = [100.0, 110.0, 120.0, 130.0, 140.0, 150.0, 400.0]  # one batch pass
    assert 150.0 <= workload.p90(lat) <= 400.0
    assert workload.p90([5.0]) == 5.0
    assert workload.p90(list(range(1, 101))) == 90.1


def test_every_workload_has_a_fixed_warm_up_and_window():
    assert set(workload.CYCLE) == set(workload.WINDOW_CYCLES) == set(O.OPS)
    assert all(n >= 1 for n in workload.WINDOW_CYCLES.values())


def test_prepare_stamp_covers_the_oracles_and_the_data_generator():
    sys.path.append(str(HERE.parent))
    import prepare

    stamp = prepare.stamp_content()
    assert sorted(stamp["oracles"]) == sorted(O.BATCH_QUERIES)
    assert len(stamp["datagen"]) == 40
    assert stamp == prepare.stamp_content()
