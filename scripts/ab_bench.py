#!/usr/bin/env python
"""Same-session alternating A/B between two trees (the r11 protocol).

    python scripts/ab_bench.py <tree_a> <tree_b> <rounds> <q1,q2,...>
    python scripts/ab_bench.py perfbench <tree_a> <tree_b> <pairs> <workload> [--seed0 N] [--trace]

The first form alternates full bench.py invocations of tree A and tree B
(each run gated on 1-min load < 0.30 with settle sleeps), restricted to the
named queries via SPARK_GRAFT_BENCH_ONLY, and reports the per-query MIN
across rounds for each tree.

The second form runs ``perfbench/run.py`` once per tree per pair, for the
workload named, with seed ``seed0 + pair`` (a fresh seed each pair, the same
seed on both sides of it) and the run length ``BENCHMARK.json`` sets.  For
each metric it reports each tree's median and quartiles, the pairs each tree
won, and whether B's gain holds by the benchmark's rule: B wins at least
nine tenths of the pairs, and the medians differ by more than A's quartile
spread.  ``--trace`` compares the per-layer metrics instead.

Both forms swap which tree runs first from one round to the next: in the
perfbench probes whichever tree ran second read ``setup_s`` about 1 s
higher, so a fixed order biases every pair.  Cross-day comparisons are not
evidence (the sandbox's per-core throughput swings 1.5-2x day to day); this
alternation is the only valid protocol.  Raw per-run JSON lines go to stdout
as they arrive.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
from pathlib import Path


def _wait_idle(limit: float = 0.30, settle: int = 20, timeout: int = 600) -> float:
    t0 = time.time()
    while time.time() - t0 < timeout:
        load = os.getloadavg()[0]
        if load < limit:
            return load
        time.sleep(settle)
    return os.getloadavg()[0]


def _in_turn(rnd: int, trees: dict[str, str]) -> list[tuple[str, str]]:
    """(key, tree) pairs in this round's order: A first in even rounds."""
    order = list(trees.items())
    return order if rnd % 2 == 0 else order[::-1]


def _run(tree: str, only: str) -> dict:
    env = dict(os.environ)
    env["SPARK_GRAFT_BENCH_ONLY"] = only
    env.setdefault("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    env.setdefault("SPARK_GRAFT_CPUS", "32")
    out = subprocess.run(
        [sys.executable, "bench.py"], cwd=tree, env=env,
        capture_output=True, text=True, timeout=3600,
    )
    line = out.stdout.strip().splitlines()[-1]
    return json.loads(line)


def bench_main(argv: list[str]) -> None:
    tree_a, tree_b, rounds, only = argv[0], argv[1], int(argv[2]), argv[3]
    mins: dict[str, dict[str, float]] = {"a": {}, "b": {}}
    for rnd in range(rounds):
        for key, tree in _in_turn(rnd, {"a": tree_a, "b": tree_b}):
            load = _wait_idle()
            res = _run(tree, only)
            print(json.dumps({"round": rnd, "tree": key, "gate_load": round(load, 2), **res}))
            sys.stdout.flush()
            for q, t in res["queries"].items():
                mins[key][q] = min(mins[key].get(q, float("inf")), t)
            time.sleep(25)
    print("== per-query min across rounds ==")
    for q in sorted(set(mins["a"]) | set(mins["b"])):
        a, b = mins["a"].get(q), mins["b"].get(q)
        delta = f"{(b - a) / a * 100:+.1f}%" if a and b else "n/a"
        print(f"{q:25s} A={a:.3f}  B={b:.3f}  B-vs-A {delta}")
    print(f"{'TOTAL':25s} A={sum(mins['a'].values()):.3f}  B={sum(mins['b'].values()):.3f}")


def _run_perfbench(tree: str, workload: str, seed: int, seconds: int, trace: bool) -> dict | None:
    """One ``perfbench/run.py`` result line, or None if the run failed."""
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(int(trace)),
    ]
    out = subprocess.run(cmd, cwd=tree, capture_output=True, text=True, timeout=3600)
    if out.returncode != 0:
        print(f"# {tree} seed {seed} failed ({out.returncode}):\n{out.stderr[-2000:]}", file=sys.stderr)
        return None
    return json.loads(out.stdout.strip().splitlines()[-1])


def _quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def summarize(pairs: list[dict[str, dict]], better: dict[str, str]) -> list[str]:
    """One report line per metric over the completed pairs, each pair
    ``{"a": metrics, "b": metrics}`` with ``metrics[name]["value"]``."""
    lines = [f"{'metric':36s} {'A q1/med/q3':>29s}  {'B q1/med/q3':>29s}  {'B-vs-A':>7s}  B:A wins  gain"]
    for name in pairs[0]["a"]:
        a = [p["a"][name]["value"] for p in pairs]
        b = [p["b"][name]["value"] for p in pairs]
        sign = 1.0 if better.get(name, "lower") == "lower" else -1.0
        b_wins = sum(sign * (y - x) < 0 for x, y in zip(a, b))
        a_wins = sum(sign * (y - x) > 0 for x, y in zip(a, b))
        (a1, am, a3), (b1, bm, b3) = _quartiles(a), _quartiles(b)
        gain = b_wins >= 0.9 * len(pairs) and sign * (am - bm) > a3 - a1
        delta = f"{(bm - am) / am * 100:+.1f}%" if am else "n/a"
        lines.append(
            f"{name:36s} {a1:9.4g} {am:9.4g} {a3:9.4g}  {b1:9.4g} {bm:9.4g} {b3:9.4g}"
            f"  {delta:>7s}  {b_wins:3d}:{a_wins:<3d}     {'yes' if gain else 'no'}"
        )
    return lines


def perfbench_main(argv: list[str]) -> None:
    p = argparse.ArgumentParser(prog="ab_bench.py perfbench")
    p.add_argument("tree_a")
    p.add_argument("tree_b")
    p.add_argument("pairs", type=int)
    p.add_argument("workload")
    p.add_argument("--seed0", type=int, default=1, help="seed of the first pair (default 1)")
    p.add_argument("--trace", action="store_true", help="compare the per-layer metrics")
    args = p.parse_args(argv)
    spec = json.loads((Path(args.tree_a) / "BENCHMARK.json").read_text())
    better = {m["name"]: m["better"] for m in spec["end_to_end"] + spec.get("per_layer", [])}
    trees = {"a": args.tree_a, "b": args.tree_b}
    pairs: list[dict[str, dict]] = []
    for rnd in range(args.pairs):
        seed = args.seed0 + rnd
        pair: dict[str, dict] = {}
        for key, tree in _in_turn(rnd, trees):
            res = _run_perfbench(tree, args.workload, seed, spec["run_seconds"], args.trace)
            print(json.dumps({"pair": rnd, "seed": seed, "tree": key, "result": res}), flush=True)
            if res is not None:
                pair[key] = res["metrics"]
        if len(pair) == 2:
            pairs.append(pair)
    print(f"== {args.workload}: {len(pairs)} of {args.pairs} pairs complete (A={args.tree_a}, B={args.tree_b}) ==")
    if pairs:
        print("\n".join(summarize(pairs, better)))


def main() -> None:
    if sys.argv[1:2] == ["perfbench"]:
        perfbench_main(sys.argv[2:])
    else:
        bench_main(sys.argv[1:])


if __name__ == "__main__":
    main()
