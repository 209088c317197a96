#!/usr/bin/env python
"""Per-query profiling harness for the optimization rounds (guide §1).

For each named query (default: every bench-flagged one) this runs the same
build + noop-sink measurement as bench.py, but inside a dedicated job group
with Spark event logging on, then parses the event log to attribute wall
clock to jobs / stages / tasks:

    python scripts/profile_queries.py d_semantic_dedup s_knn_graph

Output per query: build-time (plan construction incl. any eager jobs),
noop-write time for two consecutive runs (run 2 = steady state), number of
jobs/stages/tasks, summed executor task time, the per-stage breakdown of
the slowest stages, and the generated classes compiled during the build, run 1
and run 2 (a steady run 2 that recompiles shows codegen-cache misses as a
count).  The session is ``get_spark``'s engine plus an event log.  This is a
diagnosis tool, NOT the bench: numbers are comparable to each other, not to
bench.py (event logging adds overhead).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
from collections import defaultdict
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from fineo_readerator_spark.plans.queries import QUERIES  # noqa: E402
from fineo_readerator_spark.session import codegen_compiles, get_spark  # noqa: E402

EVDIR = "/tmp/spark-events-profile"


def get_profiling_spark():
    os.makedirs(EVDIR, exist_ok=True)
    return get_spark("fineo-profile", extra_confs={
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": EVDIR,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    })


def parse_event_log(app_dir: Path):
    """Return per-job-group aggregates from one application event log."""
    from collections import defaultdict as _dd

    jobs = {}  # job_id -> dict
    stages = {}  # stage_id -> dict
    job_of_stage = {}
    # TaskEnd events precede their StageCompleted event, so accumulate task
    # metrics separately and merge when the stage row is created
    task_acc = _dd(lambda: {"run_ms": 0, "cpu_ms": 0, "sR": 0, "sW": 0, "max_task_ms": 0})
    evfiles = (
        [p for p in sorted(app_dir.glob("*")) if p.name.startswith("events")]
        if app_dir.is_dir()
        else [app_dir]
    )
    for evfile in evfiles:
        with open(evfile, errors="replace") as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue
                et = ev.get("Event")
                if et == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    jobs[jid] = {
                        "group": props.get("spark.jobGroup.id", ""),
                        "desc": props.get("spark.job.description", ""),
                        "t0": ev.get("Submission Time", 0),
                        "stages": [s["Stage ID"] for s in ev.get("Stage Infos", [])],
                        "n_tasks": sum(
                            s.get("Number of Tasks", 0) for s in ev.get("Stage Infos", [])
                        ),
                    }
                    for s in ev.get("Stage Infos", []):
                        job_of_stage[s["Stage ID"]] = jid
                elif et == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    if jid in jobs:
                        jobs[jid]["t1"] = ev.get("Completion Time", 0)
                elif et == "SparkListenerStageCompleted":
                    si = ev["Stage Info"]
                    sid = si["Stage ID"]
                    sub = si.get("Submission Time")
                    comp = si.get("Completion Time")
                    acc = task_acc[sid]
                    stages[sid] = {
                        "name": si.get("Stage Name", "")[:80],
                        "n_tasks": si.get("Number of Tasks", 0),
                        "wall_ms": (comp - sub) if (sub and comp) else 0,
                        "run_ms": acc["run_ms"],
                        "cpu_ms": acc["cpu_ms"],
                        "max_task_ms": acc["max_task_ms"],
                        "shuffle_read": acc["sR"],
                        "shuffle_write": acc["sW"],
                    }
                elif et == "SparkListenerTaskEnd":
                    sid = ev.get("Stage ID")
                    tm = ev.get("Task Metrics") or {}
                    ti = ev.get("Task Info") or {}
                    acc = task_acc[sid]
                    acc["run_ms"] += tm.get("Executor Run Time", 0)
                    acc["cpu_ms"] += (tm.get("Executor CPU Time", 0)) // 1_000_000
                    acc["max_task_ms"] = max(
                        acc["max_task_ms"],
                        ti.get("Finish Time", 0) - ti.get("Launch Time", 0),
                    )
                    srm = tm.get("Shuffle Read Metrics") or {}
                    acc["sR"] += srm.get("Remote Bytes Read", 0) + srm.get(
                        "Local Bytes Read", 0
                    )
                    swm = tm.get("Shuffle Write Metrics") or {}
                    acc["sW"] += swm.get("Shuffle Bytes Written", 0)
    groups = defaultdict(
        lambda: {"jobs": 0, "stages": 0, "tasks": 0, "job_wall_ms": 0, "stage_rows": []}
    )
    for jid, j in sorted(jobs.items()):
        g = groups[j["group"]]
        g["jobs"] += 1
        g["job_wall_ms"] += max(0, j.get("t1", j["t0"]) - j["t0"])
        for sid in j["stages"]:
            if sid in stages:
                st = stages[sid]
                g["stages"] += 1
                g["tasks"] += st["n_tasks"]
                g["stage_rows"].append((sid, st))
    return groups


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names = sys.argv[1:] or sorted(n for n, q in QUERIES.items() if q.bench)
    shutil.rmtree(EVDIR, ignore_errors=True)
    spark = get_profiling_spark()
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    # warm-up
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    results = {}
    for name in names:
        q = QUERIES[name]
        # run 1: cold (codegen etc.) — not recorded per-stage
        sc.setJobGroup(f"{name}::warm", name)
        c0 = codegen_compiles(spark)
        try:
            t0 = time.perf_counter()
            df = q.fn(spark, sf_dir)
            t_build1 = time.perf_counter() - t0
            c1 = codegen_compiles(spark)
            df.write.format("noop").mode("overwrite").save()
            t_warm = time.perf_counter() - t0
        except Exception as exc:
            results[name] = {"error": f"{type(exc).__name__}: {exc}"[:300]}
            continue
        c2 = codegen_compiles(spark)
        # run 2: steady state, attributed
        sc.setJobGroup(f"{name}::steady", name)
        t0 = time.perf_counter()
        df = q.fn(spark, sf_dir)
        t_build2 = time.perf_counter() - t0
        df.write.format("noop").mode("overwrite").save()
        t_steady = time.perf_counter() - t0
        results[name] = {
            "build_cold_s": round(t_build1, 3),
            "total_cold_s": round(t_warm, 3),
            "build_steady_s": round(t_build2, 3),
            "total_steady_s": round(t_steady, 3),
            # generated classes compiled: a steady run that reuses the
            # cached classes compiles none
            "compiles": {"build": c1 - c0, "run1": c2 - c1, "run2": codegen_compiles(spark) - c2},
        }
        sc.setJobGroup("", "")
    spark.catalog.clearCache()
    app_id = sc.applicationId
    spark.stop()
    time.sleep(1.0)

    # find the event log (file named <app_id> or <app_id>.inprogress)
    cand = [p for p in Path(EVDIR).iterdir() if app_id in p.name]
    groups = parse_event_log(cand[0]) if cand else {}
    for name in names:
        r = results.get(name, {})
        g = groups.get(f"{name}::steady")
        print(f"== {name}: {json.dumps(r)}")
        if g:
            print(
                f"   steady jobs={g['jobs']} stages={g['stages']} tasks={g['tasks']} "
                f"job_wall_ms={g['job_wall_ms']}"
            )
            top = sorted(g["stage_rows"], key=lambda t: -t[1]["wall_ms"])[:8]
            for sid, st in top:
                print(
                    f"   stage {sid}: wall={st['wall_ms']}ms run={st['run_ms']}ms "
                    f"cpu={st['cpu_ms']}ms tasks={st['n_tasks']} "
                    f"sR={st['shuffle_read']} sW={st['shuffle_write']} "
                    f" {st['name']}"
                )


if __name__ == "__main__":
    main()
