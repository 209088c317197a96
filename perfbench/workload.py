"""One measured benchmark process: set-up, warm-up, timed window, checks.

``run.py`` starts this file in a fresh process after pinning the
environment; it is not meant to be started by hand.  It writes one JSON
result to ``--out`` and, when traced, the spans to ``--spans``.

Every workload has one closed-loop client: the next op is sent only after
the previous one completed, so exactly one op is in flight.  Set-up time
runs from process start (the interpreter, the imports, the JVM launch) to
the moment the system can take its first op.  A fixed warm-up comes before
the timed window on every run, so the window starts at the same op
position every time, and the window holds whole cycles (dashboard blocks,
batch passes), so it holds the same op mix on every seed.
"""

from __future__ import annotations

import argparse
import gc
import http.client
import json
import os
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import ops as O  # noqa: E402
import tracing  # noqa: E402

# ops per cycle: the window holds whole cycles
CYCLE = {"tenant_dashboard": sum(O.DASHBOARD_BLOCK.values()), "batch_registry": len(O.BATCH_QUERIES)}
# untimed warm-up cycles, one op in flight as in the window, after the
# batch workload's checking pass (every query at once, to fit the run's
# time budget).  The warm-up puts the window at the same op position on
# every run, which keeps runs comparable.  Latency still falls after one
# cycle (batch passes by ~4% a pass, dashboard blocks level within 8%);
# more cycles would reach a flatter part at a cost the budget lacks.
WARMUP_CYCLES = 1
# whole cycles the timed window holds at the least; it runs on, cycle by
# cycle, until ``--seconds`` have passed.  A dashboard block takes
# 8-16 s and a batch pass 6-10 s on a 4-core VM, so at ``run_seconds`` =
# 5 every window is exactly this long: the same ops on every run, never
# one cycle more because the first one ended just past the deadline.  Two
# batch passes give 14 samples, and in a traced run each query is timed
# once traced and once untraced (``_traced``).
WINDOW_CYCLES = {"tenant_dashboard": 1, "batch_registry": 2}
API_KEY = "perfbench-acme"

END_TO_END_UNITS = {
    "setup_s": "s",
    "op_ms": "ms",
    "op_ms_p90": "ms",
    "ops_per_s": "1/s",
    "rows_per_s": "rows/s",
    "retained_mb": "MB",
    "ok_frac": "ratio",
}
PER_LAYER_UNITS = {
    "session.get_spark_s": "s",
    "api.register_s": "s",
    "api.sql_ms": "ms",
    "api.refresh_ms": "ms",
    "recombinator.build_ms": "ms",
    "recombinator.builds": "count",
    "server.handle_ms": "ms",
    "server.query_exec_ms": "ms",
    "server.fetch_ms": "ms",
    "server.http_ms": "ms",
    "server.requests_per_op": "count",
    "server.response_bytes_per_op": "bytes",
    "plans.build_ms": "ms",
    "plans.exec_ms": "ms",
    "plans.build_jobs_per_op": "count",
    **{f"{m}.op_ms": "ms" for m in O.QUERY_MODULES},
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.cpu_ms_per_op": "ms",
    "spark.run_ms_per_op": "ms",
    "spark.cpu_busy_frac": "ratio",
    "spark.gc_ms_per_op": "ms",
    "spark.shuffle_write_bytes_per_op": "bytes",
    "spark.shuffle_read_bytes_per_op": "bytes",
    "spark.spill_bytes_per_op": "bytes",
    "spark.input_bytes_per_op": "bytes",
    "spark.input_records_per_result_row": "ratio",
    "spark.failed_tasks": "count",
    "trace.overhead_frac": "ratio",
}


class OpError(Exception):
    """The server answered an op with an error status."""


class Client:
    """The closed-loop HTTP client: ``/query`` then ``/fetch`` until done."""

    def __init__(self, port: int, tracer: tracing.Tracer | None) -> None:
        self.port = port
        self.tracer = tracer
        self.requests = 0
        self.bytes = 0

    def _post(self, path: str, body: dict) -> dict:
        from fineo_readerator_spark.server import API_KEY_HEADER

        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=120)
        try:
            conn.request("POST", path, json.dumps(body), {API_KEY_HEADER: API_KEY})
            resp = conn.getresponse()
            raw = resp.read()
        finally:
            conn.close()
        self.requests += 1
        self.bytes += len(raw)
        payload = json.loads(raw)
        if resp.status != 200:
            raise OpError(f"{path} -> {resp.status}: {payload.get('error')}")
        return payload

    def post(self, path: str, body: dict) -> dict:
        if self.tracer is None or not self.tracer.active:
            return self._post(path, body)
        with self.tracer.span("client.request", path=path) as rec:
            self.tracer.remote_parent = rec["id"]
            try:
                return self._post(path, body)
            finally:
                self.tracer.remote_parent = None

    def query(self, sql: str) -> tuple[list[str], list[tuple]]:
        page = self.post("/query", {"sql": sql})
        columns, rows, sid = page["columns"], page["rows"], page.get("statement_id")
        while not page["done"]:
            page = self.post("/fetch", {"statement_id": sid, "offset": len(rows)})
            rows.extend(page["rows"])
        return columns, [tuple(r[c] for c in columns) for r in rows]


class Run:
    """State of one benchmark process."""

    def __init__(self, args: argparse.Namespace) -> None:
        self.workload = args.workload
        self.data = str(Path(args.data).resolve())
        self.tracer = tracing.Tracer() if args.trace else None
        if self.tracer is not None:
            tracing.install(self.tracer)
        self.spark = self.tenant = self.server = self.client = None
        self.counters: tracing.SparkCounters | None = None
        self.version = "base"  # schema version the tenant currently serves
        self.ops: list[dict] = []
        self.pending: list[tuple[dict, O.Op, object]] = []  # serving results to check
        self.column_checks_failed = 0
        self.batch_checked: dict[str, bool] = {}
        self.batch_rows: dict[str, int] = {}  # rows each batch query returned in its check
        self.expected = json.loads(Path(args.expected).read_text()) if args.expected else {}

    # -- set-up ------------------------------------------------------------
    def set_up(self) -> None:
        from fineo_readerator_spark import api, server, session

        self.spark = session.get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.workload == "batch_registry":
            from fineo_readerator_spark.plans.queries import QUERIES

            self.queries = QUERIES
            return
        from fineo_readerator_spark.plans.metric_queries import ORG, events_store

        self.tenant = api.TenantSession(self.spark, events_store(self.data, split=True), ORG)
        self.server = server.ReadServer(self.tenant, API_KEY)
        self.client = Client(self.server.start(), self.tracer)

    def tear_down(self) -> None:
        if self.server is not None:
            self.server.stop()
        self.spark.stop()

    # -- ops -----------------------------------------------------------------
    def _refresh(self, version: str) -> None:
        from fineo_readerator_spark.plans.metric_queries import EVENT_FIELDS, METRIC, ORG
        from fineo_readerator_spark.schema_store import FieldDef, MetricSchema

        fields = list(EVENT_FIELDS)
        if version == "alias":
            fields.append(FieldDef("amount", "double", aliases=["value"]))
        self.tenant.store.register_metric(MetricSchema(org=ORG, metric=METRIC, fields=fields))
        self.tenant.refresh()

    def run_op(self, i: int, op: O.Op, window: bool, traced: bool) -> dict:
        rec = {
            "i": i, "kind": op.kind, "group": op.arg if op.kind == "query" else op.kind,
            "window": window, "traced": traced, "ms": 0.0, "rows": 0,
            "requests": 0, "bytes": 0, "ok": False, "build_jobs": 0, "check_s": 0.0,
        }
        tracer = self.tracer
        if tracer is not None:
            tracer.op = i
            tracer.active = traced
        if self.counters is not None:
            self.counters.mark()
        if self.client is not None:
            self.client.requests = self.client.bytes = 0
        result = None
        try:
            t0 = time.perf_counter()
            if op.kind == "refresh":
                self._refresh(op.arg)
            elif op.kind == "query":
                q = self.queries[op.arg]
                with _maybe_span(tracer, "plans.build"):
                    df = q.fn(self.spark, self.data)
                if self.counters is not None:
                    rec["build_jobs"] = self.counters.jobs_since_mark()
                with _maybe_span(tracer, "plans.exec"):
                    df.write.format("noop").mode("overwrite").save()
            else:
                result = self.client.query(op.arg)
            rec["ms"] = (time.perf_counter() - t0) * 1e3
            rec["ok"] = None  # answered; checked below
        except Exception as e:  # a failed op is counted, never fatal
            rec["error"] = f"{type(e).__name__}: {e}"[:300]
        finally:
            if tracer is not None:
                tracer.active = False
                tracer.op = None
        t_check = time.perf_counter()
        if self.client is not None:
            rec["requests"], rec["bytes"] = self.client.requests, self.client.bytes
        if self.counters is not None:
            rec["spark"] = self.counters.take()
        if rec["ok"] is None:
            self._check_now(rec, op, result)
        rec["check_s"] = time.perf_counter() - t_check
        self.ops.append(rec)
        return rec

    def _check_now(self, rec: dict, op: O.Op, result) -> None:
        """Checks that need no oracle run right away; the other serving
        answers (100 rows or fewer each) are kept for the oracle pass at
        the end."""
        if op.kind == "refresh":
            self.version = op.arg
            want = [c for c, _ in O.expected_columns(op.arg)]
            ok = self.spark.table("events").columns == want
            self.column_checks_failed += not ok
            rec["ok"] = ok
        elif op.kind == "query":
            rec["rows"] = self.batch_rows.get(op.arg, 0)
            rec["ok"] = self.batch_checked.get(op.arg, False)
        else:
            columns, rows = result
            rec["rows"] = len(rows)
            if op.kind == "info":
                rec["ok"] = O.cells_match(rows, [tuple(c) for c in O.expected_columns(self.version)])
            else:
                self.pending.append((rec, op, rows))

    def _check_query(self, name: str) -> tuple[bool, int]:
        try:
            df = self.queries[name].fn(self.spark, self.data)
            cols = sorted(df.columns)
            rows = [tuple(r[c] for c in cols) for r in df.collect()]
            return O.registry_digest(cols, rows) == self.expected[name]["digest"], len(rows)
        except Exception as e:  # counted as a failed check
            print(f"check {name}: {type(e).__name__}: {e}", file=sys.stderr)
            return False, 0

    def check_batch(self, names: list[str]) -> None:
        """The registry oracle check, once per query per run, untimed: the
        result digest against the DuckDB answer ``prepare.py`` stored.  The
        row count each query returned here is what its timed ops count
        towards ``rows_per_s``: a noop write hands no rows back."""
        with ThreadPoolExecutor(len(names)) as pool:
            results = dict(zip(names, pool.map(self._check_query, names)))
        self.batch_checked = {n: ok for n, (ok, _) in results.items()}
        self.batch_rows = {n: rows for n, (_, rows) in results.items()}

    def check_serving(self) -> None:
        if not self.pending:
            return
        oracle = O.EventsOracle(f"{self.data}/events.parquet")
        try:
            for rec, op, got in self.pending:
                want = oracle.rows(op.arg)
                rec["ok"] = O.cells_match(got, want)
        finally:
            oracle.close()

    def settle(self, rounds: int = 10) -> float:
        """Collect garbage on both sides until the JVM heap in use has not
        shrunk for two rounds in a row (at most ``rounds`` times), so a
        collection lands here and not inside a timed op; returns the heap
        in use, in MB.  Python first: dropping py4j handles lets Spark's
        cleaner release the JVM objects (cached and broadcast blocks)
        behind them, which it does on its own thread, hence the wait
        between rounds, and one round without progress can come before
        it releases a block."""
        jvm = self.spark.sparkContext._jvm
        heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        used, idle = float("inf"), 0
        for _ in range(rounds):
            gc.collect()
            jvm.System.gc()
            time.sleep(0.3)
            now = heap.getHeapMemoryUsage().getUsed() / 2**20
            idle = idle + 1 if now > used - 1.0 else 0
            used = min(used, now)
            if idle == 2:
                break
        return used


def _maybe_span(tracer: tracing.Tracer | None, name: str):
    return tracer.span(name) if tracer is not None and tracer.active else nullcontext()


_BATCH_RANK = {name: r for r, name in enumerate(sorted(O.BATCH_QUERIES))}


def _traced(i: int, op: O.Op) -> bool:
    """Half of a traced run's window is traced, so the untraced half gives
    the tracing overhead.  Serving ops alternate; a batch query alternates
    from pass to pass (``i`` counts window ops).  Refreshes are rare, so
    every one is traced."""
    if op.kind == "refresh":
        return True
    if op.kind == "query":
        return (_BATCH_RANK[op.arg] + i // len(O.BATCH_QUERIES)) % 2 == 0
    return i % 2 == 0


def _log(launched_at: float, what: str) -> None:
    print(f"[{time.monotonic() - launched_at:8.2f}s] {what}", file=sys.stderr, flush=True)


def p90(samples: list[float]) -> float:
    """The 90th percentile, interpolated between the two samples around it
    and so never outside the samples (the default ``exclusive`` method
    extrapolates past the largest one when there are fewer than 9)."""
    if len(samples) < 2:
        return samples[0] if samples else 0.0
    return statistics.quantiles(samples, n=10, method="inclusive")[-1]


def window_ops(run: Run) -> list[dict]:
    return [o for o in run.ops if o["window"]]


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(O.OPS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--data", required=True)
    p.add_argument("--expected", default="")
    p.add_argument("--out", required=True)
    p.add_argument("--spans", default="")
    args = p.parse_args(argv)
    launched_at = float(os.environ.get("PERFBENCH_LAUNCHED_AT", time.monotonic()))

    run = Run(args)
    run.set_up()
    setup_s = time.monotonic() - launched_at
    _log(launched_at, "set-up done")
    cores = int(run.spark.sparkContext.defaultParallelism)
    ops = O.OPS[args.workload](args.seed)
    batch = args.workload == "batch_registry"
    cycle = CYCLE[args.workload]

    # the same warm-up on every run; the batch workload's per-run oracle
    # check is one more pass, run first because it is the coldest
    n_warm = WARMUP_CYCLES * cycle
    if batch:
        run.check_batch(sorted(O.BATCH_QUERIES))
        _log(launched_at, "checks of the batch queries done")
    for i in range(n_warm):
        run.run_op(i, next(ops), window=False, traced=False)
    run.settle()
    _log(launched_at, f"warm-up done: {n_warm} ops")

    if args.trace:
        run.counters = tracing.SparkCounters(run.spark)
    min_ops = WINDOW_CYCLES[args.workload] * cycle
    i = n_warm
    t_start = time.perf_counter()
    check_s = 0.0
    while True:
        done = i - n_warm
        elapsed = time.perf_counter() - t_start - check_s
        if elapsed >= args.seconds and done % cycle == 0 and done >= min_ops:
            break
        op = next(ops)
        traced = bool(args.trace) and _traced(i - n_warm, op)
        rec = run.run_op(i, op, window=True, traced=traced)
        check_s += rec["check_s"]
        i += 1
    window_s = time.perf_counter() - t_start - check_s
    _log(launched_at, f"window done: {i - n_warm} ops")
    for o in run.ops:
        where = "window" if o["window"] else "warm-up"
        print(f"op {o['i']} {where} {o['group']}: {o['ms']:.1f}ms", file=sys.stderr)

    run.check_serving()
    retained = run.settle()
    _log(launched_at, "checks done")
    window = window_ops(run)
    attempted = len(run.ops) + len(run.batch_checked)
    ok = sum(o["ok"] is True for o in run.ops) + sum(run.batch_checked.values())
    lat = [o["ms"] for o in window if "error" not in o]
    end_to_end = {
        "setup_s": setup_s,
        "op_ms": statistics.median(lat) if lat else 0.0,
        "op_ms_p90": p90(lat),
        "ops_per_s": len(window) / window_s,
        "rows_per_s": sum(o["rows"] for o in window) / window_s,
        "retained_mb": retained,
        "ok_frac": ok / attempted if attempted else 0.0,
    }
    details = {
        "workload": args.workload,
        "seed": args.seed,
        "warmup_ops": n_warm,
        "checked_queries": len(run.batch_checked),
        "window_ops": len(window),
        "window_s": round(window_s, 3),
        "samples_above_p90": sum(x > end_to_end["op_ms_p90"] for x in lat),
        "failed_ops": [o.get("error", o["kind"]) for o in run.ops if o["ok"] is not True][:5],
        "column_checks_failed": run.column_checks_failed,
        "cores": cores,
    }
    if batch:
        details["batch_checks_failed"] = sorted(n for n, good in run.batch_checked.items() if not good)
    if args.trace:
        metrics = tracing.per_layer(run.tracer.spans, window, O.BATCH_QUERIES, cores)
        units = PER_LAYER_UNITS
        if args.spans:
            run.tracer.write(args.spans)
    else:
        metrics, units = end_to_end, END_TO_END_UNITS
    run.tear_down()
    _log(launched_at, "torn down")
    result = {
        "correct": ok == attempted and run.column_checks_failed == 0,
        "attempted": attempted,
        "failed": attempted - ok,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
        "details": details,
    }
    Path(args.out).write_text(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
