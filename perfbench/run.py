"""The repository's end-to-end and per-layer benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads (see ``BENCHMARK.json`` for why each exists):

- ``tenant_dashboard``: one tenant's dashboard client over HTTP, through
  ``session.get_spark`` -> ``api.TenantSession`` -> ``server.ReadServer``;
  small seeded queries plus a schema refresh in every 25 ops.
- ``batch_registry``: seeded passes over a subset of the registry's query
  builders, each materialized with a ``noop`` write.

Run from the repository root.  The first run in a checkout prepares the
inputs (``prepare.py``, untimed): it generates the tables under
``.perfbench/``, stores the batch queries' oracle answers and builds the
snapshot caches those queries keep.  Every run then measures in a fresh
process (``workload.py``) with a pinned environment, and this script
prints one detail line and, last, one JSON result line:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the per-layer ones.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench"
DATA = WORK / "data" / "perfbench_tables"
EXPECTED = WORK / "expected.json"
STAMP = WORK / "prepared.json"

sys.path.insert(0, str(HERE))
sys.path.append(str(ROOT))  # the program's package, for prepare.stamp_content()

import ops as O  # noqa: E402
import prepare  # noqa: E402

PREPARE_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
DRIVER_MEM = "2g"


def pinned_env() -> dict:
    """The measured processes' environment, fixed here rather than left to
    the program's defaults: one Spark task thread per core this process may
    use, a driver heap sized for a small shared machine, the repo root on
    the Python path before the JVM starts (Spark's Python workers import
    the program from it), and every Spark scratch directory under
    ``.perfbench/``.  The heap starts at its maximum size
    (``-Xms``): the full collections ``workload.py`` forces before the
    timed window would otherwise shrink it, and G1 then ran the window
    with a concurrent mark cycle every few hundred milliseconds while the
    heap grew back."""
    scratch = {name: WORK / name for name in ("tmp", "local", "warehouse", "derby", "cwd")}
    for d in scratch.values():
        shutil.rmtree(d, ignore_errors=True)  # what the previous run left
        d.mkdir(parents=True)
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "PYTHONPATH": str(ROOT),
        "PYTHONHASHSEED": "0",
        "TMPDIR": str(scratch["tmp"]),
        "SPARK_LOCAL_DIRS": str(scratch["local"]),
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf spark.sql.warehouse.dir={scratch['warehouse']}",
            f"--driver-java-options '-Xms{DRIVER_MEM} -Djava.io.tmpdir={scratch['tmp']} "
            f"-Dderby.system.home={scratch['derby']}'",
            "pyspark-shell",
        ]),
    })
    return env


def run_child(cmd: list[str], env: dict, log: Path, timeout: float) -> int:
    """Run ``cmd`` in its own process group; after it exits (or is killed
    at ``timeout``) stop whatever it left behind in the group (the JVM and
    Spark's Python workers) and wait until the group is gone."""
    with open(log, "ab") as out:
        proc = subprocess.Popen(
            cmd, env=env, cwd=WORK / "cwd", stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, start_new_session=True,
        )
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            code = -1
        finally:
            _stop_group(proc)
    return code


def _stop_group(proc: subprocess.Popen) -> None:
    deadline = time.monotonic() + 15
    sig = signal.SIGTERM
    while time.monotonic() < deadline:
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            break
        if proc.poll() is None:
            try:
                proc.wait(timeout=2)
            except subprocess.TimeoutExpired:
                pass
        time.sleep(0.2)
        sig = signal.SIGKILL
    proc.wait()


def ensure_prepared(env: dict) -> bool:
    try:
        if json.loads(STAMP.read_text()) == prepare.stamp_content():
            return True
    except (OSError, ValueError):
        pass
    cmd = [
        sys.executable, str(HERE / "prepare.py"),
        "--data", str(DATA), "--expected", str(EXPECTED), "--stamp", str(STAMP),
    ]
    return run_child(cmd, env, WORK / "logs" / "prepare.log", PREPARE_TIMEOUT_S) == 0 and STAMP.exists()


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(O.OPS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not (ROOT / "fineo_readerator_spark" / "__init__.py").is_file():
        print(f"perfbench: no fineo_readerator_spark package under {ROOT}", file=sys.stderr)
        return 2
    load_start = os.getloadavg()[0]
    (WORK / "logs").mkdir(parents=True, exist_ok=True)
    (WORK / "runs").mkdir(parents=True, exist_ok=True)
    env = pinned_env()
    if not ensure_prepared(env):
        print(f"perfbench: prepare failed, see {WORK / 'logs' / 'prepare.log'}", file=sys.stderr)
        return 1

    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    out = WORK / "runs" / f"{tag}.json"
    out.unlink(missing_ok=True)
    log = WORK / "logs" / f"{tag}.log"
    log.unlink(missing_ok=True)
    cmd = [
        sys.executable, str(HERE / "workload.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--data", str(DATA), "--expected", str(EXPECTED), "--out", str(out),
        "--spans", str(WORK / "runs" / f"{tag}.spans.jsonl"),
    ]
    # the monotonic clock is one clock for every process and is never stepped
    env["PERFBENCH_LAUNCHED_AT"] = repr(time.monotonic())
    code = run_child(cmd, env, log, RUN_TIMEOUT_S)
    if code != 0 or not out.exists():
        tail = log.read_text(errors="replace").splitlines()[-20:] if log.exists() else []
        print(f"perfbench: {tag} exited with {code}; log tail:", *tail, sep="\n", file=sys.stderr)
        return 1
    result = json.loads(out.read_text())
    details = result.pop("details")
    details.update(load_avg_start=load_start, load_avg_end=os.getloadavg()[0])
    print("details " + json.dumps(details))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
