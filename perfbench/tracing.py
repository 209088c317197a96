"""Spans around the program's public calls, and Spark's own counters.

The traced run wraps public functions from outside the program: the
wrappers replace module and class attributes in this process only, so the
program's code is unchanged.  Spans stay in memory and are written once,
when the run ends.

Spark counters come from the status store the SparkContext keeps anyway
(no event log, no UI).  Stages are attributed to an op by stage-id range:
the ids the scheduler hands out between the op's start and end.  The
``ReadServer`` runs its jobs on an HTTP handler thread, where no job group
the client set would apply, so job groups cannot be used.
"""

from __future__ import annotations

import functools
import json
import statistics
import threading
import time
from contextlib import contextmanager
from itertools import count
from typing import Optional

from py4j.protocol import Py4JJavaError

SPAN_KEYS = ("id", "name", "start", "end", "parent", "op")


class Tracer:
    """In-memory span recorder.

    ``op`` is the id of the op in flight (``None`` during set-up).  A span
    opened on a thread with no open span takes ``remote_parent`` as its
    parent: that is how a server handler span links to the client request
    that caused it, with one request in flight."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.active = True
        self.op: Optional[int] = None
        self.remote_parent: Optional[int] = None
        self._ids = count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = next(self._ids)
        rec = {
            "id": sid,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": stack[-1] if stack else self.remote_parent,
            "op": self.op,
            **attrs,
        }
        stack.append(sid)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()
            with self._lock:
                self.spans.append(rec)

    def write(self, path) -> None:
        with open(path, "w") as f:
            for rec in sorted(self.spans, key=lambda r: r["id"]):
                f.write(json.dumps(rec) + "\n")


def wrap(tracer: Tracer, owner, attr: str, name: str, path_arg: Optional[int] = None) -> None:
    """Replace ``owner.attr`` with a wrapper that records a span per call
    while ``tracer.active``.  ``path_arg`` names the positional index of a
    request path to record (``ReadServer.handle``)."""
    orig = getattr(owner, attr)

    @functools.wraps(orig)
    def wrapper(*args, **kwargs):
        if not tracer.active:
            return orig(*args, **kwargs)
        attrs = {}
        if path_arg is not None:
            attrs["path"] = kwargs.get("path", args[path_arg] if len(args) > path_arg else "/query")
        with tracer.span(name, **attrs):
            return orig(*args, **kwargs)

    setattr(owner, attr, wrapper)


def install(tracer: Tracer) -> None:
    """Wrap the public calls of the session, api, recombinator and server
    layers.  ``build_metric_df`` is wrapped under the name ``api`` imports
    it by, since that is the name ``TenantSession`` calls."""
    from fineo_readerator_spark import api, server, session

    wrap(tracer, session, "get_spark", "session.get_spark")
    wrap(tracer, api.TenantSession, "__init__", "api.register")
    wrap(tracer, api.TenantSession, "sql", "api.sql")
    wrap(tracer, api.TenantSession, "refresh", "api.refresh")
    wrap(tracer, api, "build_metric_df", "recombinator.build")
    wrap(tracer, server.ReadServer, "handle", "server.handle", path_arg=3)


# StageData getters summed per op; ``executorCpuTime`` is in ns, the rest
# are ms, bytes or counts
_STAGE_FIELDS = {
    "tasks": "numTasks",
    "failed_tasks": "numFailedTasks",
    "cpu_ms": "executorCpuTime",
    "run_ms": "executorRunTime",
    "gc_ms": "jvmGcTime",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "memory_spill_bytes": "memoryBytesSpilled",
    "disk_spill_bytes": "diskBytesSpilled",
    "input_bytes": "inputBytes",
    "input_records": "inputRecords",
}


class SparkCounters:
    """Per-op job and stage counters from the SparkContext's status store.

    ``mark()`` before an op, ``take()`` after it.  ``take`` first drains
    the listener bus, so the store holds every stage the op ran, then reads
    only that op's stages: the store keeps the last 1000 stages, so the
    counters are read as the run goes, never at its end."""

    def __init__(self, spark) -> None:
        jsc = spark.sparkContext._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._dag = jsc.dagScheduler()
        self._mark = (0, 0)

    def _next_ids(self) -> tuple[int, int]:
        # the scheduler's AtomicIntegers; py4j hands them over as ints
        return int(self._dag.nextJobId()), int(self._dag.nextStageId())

    def mark(self) -> None:
        self._mark = self._next_ids()

    def jobs_since_mark(self) -> int:
        return self._next_ids()[0] - self._mark[0]

    def take(self) -> dict:
        job0, stage0 = self._mark
        self._bus.waitUntilEmpty()
        job1, stage1 = self._next_ids()
        out = dict.fromkeys(_STAGE_FIELDS, 0)
        out.update(jobs=job1 - job0, stages=0, stages_missing=0)
        for sid in range(stage0, stage1):
            try:
                st = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # the store no longer (or never) held it
                out["stages_missing"] += 1
                continue
            if str(st.status()) == "SKIPPED":
                continue
            out["stages"] += 1
            for key, getter in _STAGE_FIELDS.items():
                out[key] += getattr(st, getter)()
        out["cpu_ms"] /= 1e6
        self._mark = (job1, stage1)
        return out


def _dur_ms(rec: dict) -> float:
    return (rec["end"] - rec["start"]) * 1e3


def _mean(xs) -> float:
    xs = list(xs)
    return statistics.fmean(xs) if xs else 0.0


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def overhead_frac(window: list[dict]) -> float:
    """Traced against untraced latency of the same op kinds in the same
    window: the median, over op groups, of the ratio of their medians,
    minus one."""
    groups: dict[str, tuple[list, list]] = {}
    for o in window:
        if o["kind"] == "refresh":
            continue  # always traced, so it has no untraced twin
        traced, plain = groups.setdefault(o["group"], ([], []))
        (traced if o["traced"] else plain).append(o["ms"])
    ratios = [_median(t) / _median(p) for t, p in groups.values() if t and p]
    return _median(ratios) - 1.0 if ratios else 0.0


def per_layer(spans: list[dict], window: list[dict], modules: dict[str, str], cores: int) -> dict[str, float]:
    """Per-layer metrics of one traced run.

    ``window``: the timed ops, each a dict with ``i`` (op id), ``kind``,
    ``group``, ``ms``, ``rows``, ``requests``, ``bytes``, ``traced`` and, for
    every op, ``spark`` (``SparkCounters.take``) and ``build_jobs`` (batch).
    ``modules`` maps a batch query name to the library module owning it.
    Span-derived times are per traced op; Spark counters cover every op."""
    by_name: dict[str, list[dict]] = {}
    by_op: dict[int, list[dict]] = {}
    children: dict[int, list[dict]] = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)
        if s["op"] is not None:
            by_op.setdefault(s["op"], []).append(s)
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)

    def op_sum(o: dict, name: str, path: Optional[str] = None, minus: Optional[str] = None) -> float:
        total = 0.0
        for s in by_op.get(o["i"], []):
            if s["name"] != name or (path is not None and s.get("path") != path):
                continue
            total += _dur_ms(s) - sum(_dur_ms(c) for c in children.get(s["id"], []) if c["name"] == minus)
        return total

    traced = [o for o in window if o["traced"]]
    queries = [o for o in traced if o["kind"] not in ("refresh", "query")]
    refreshes = [o for o in traced if o["kind"] == "refresh"]
    batch = [o for o in traced if o["kind"] == "query"]
    set_up = [s for s in spans if s["op"] is None]
    registrations = len(by_name.get("api.register", [])) + len(by_name.get("api.refresh", []))
    builds = by_name.get("recombinator.build", [])

    out = {
        "session.get_spark_s": _median(_dur_ms(s) / 1e3 for s in set_up if s["name"] == "session.get_spark"),
        "api.register_s": _median(_dur_ms(s) / 1e3 for s in set_up if s["name"] == "api.register"),
        "api.sql_ms": _mean(op_sum(o, "api.sql") for o in queries),
        "api.refresh_ms": _mean(op_sum(o, "api.refresh") for o in refreshes),
        "recombinator.build_ms": _mean(_dur_ms(s) for s in builds),
        "recombinator.builds": len(builds) / registrations if registrations else 0.0,
        "server.handle_ms": _mean(op_sum(o, "server.handle") for o in queries),
        "server.query_exec_ms": _mean(op_sum(o, "server.handle", "/query", minus="api.sql") for o in queries),
        "server.fetch_ms": _mean(op_sum(o, "server.handle", "/fetch") for o in queries),
        "server.http_ms": _mean(op_sum(o, "client.request", minus="server.handle") for o in queries),
        "server.requests_per_op": _mean(o["requests"] for o in window if o["kind"] not in ("refresh", "query")),
        "server.response_bytes_per_op": _mean(o["bytes"] for o in window if o["kind"] not in ("refresh", "query")),
        "plans.build_ms": _mean(op_sum(o, "plans.build") for o in batch),
        "plans.exec_ms": _mean(op_sum(o, "plans.exec") for o in batch),
        "plans.build_jobs_per_op": _mean(o["build_jobs"] for o in window if o["kind"] == "query"),
    }
    for module in sorted(set(modules.values())):
        out[f"{module}.op_ms"] = _mean(o["ms"] for o in batch if modules[o["group"]] == module)

    counters = [o["spark"] for o in window]
    n = len(counters) or 1

    def total(key: str) -> float:
        return float(sum(c[key] for c in counters))

    wall_ms = sum(o["ms"] for o in window)
    out.update({
        "spark.jobs_per_op": total("jobs") / n,
        "spark.stages_per_op": total("stages") / n,
        "spark.tasks_per_op": total("tasks") / n,
        "spark.cpu_ms_per_op": total("cpu_ms") / n,
        "spark.run_ms_per_op": total("run_ms") / n,
        "spark.cpu_busy_frac": total("cpu_ms") / (wall_ms * cores) if wall_ms else 0.0,
        "spark.gc_ms_per_op": total("gc_ms") / n,
        "spark.shuffle_write_bytes_per_op": total("shuffle_write_bytes") / n,
        "spark.shuffle_read_bytes_per_op": total("shuffle_read_bytes") / n,
        "spark.spill_bytes_per_op": (total("memory_spill_bytes") + total("disk_spill_bytes")) / n,
        "spark.input_bytes_per_op": total("input_bytes") / n,
        "spark.input_records_per_result_row": total("input_records") / max(1, sum(o["rows"] for o in window)),
        "spark.failed_tasks": total("failed_tasks"),
        "trace.overhead_frac": overhead_frac(window),
    })
    return out
