#!/usr/bin/env python3
"""Steadiness check: run the benchmark over several seeds, twice, and
compare the figures against the bounds in BENCHMARK.json.

    python3 perfbench/steady.py --seeds 10 --sets 2
    python3 perfbench/steady.py --workload cdc_trickle --seeds 5 --sets 1
    python3 perfbench/steady.py --seeds 1 --sets 1 --first-seed 7 --trace

For each workload and end-to-end metric it prints the metric's bound, the
spread of each set (interquartile range over median, from
``statistics.quantiles(n=4)``) and how much worse the second set's median
is than the first's. A spread above the bound, or a drift worse than the
bound, fails the check (``setup_s`` is held to the drift rule only).
With ``--trace`` every run is traced and the per-layer metrics are
printed instead. Runs one benchmark process at a time; exits 1 when the
check fails or an output is wrong.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(bench: dict, workload: str, seed: int, trace: int = 0) -> dict:
    cmd = list(bench["command"]) + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(bench["run_seconds"]), "--trace", str(trace),
    ]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    wall = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode not in (0, 1) or not lines:  # 1: a wrong output, still reported
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed}: exit {proc.returncode}")
    result = json.loads(lines[-1])
    result["wall_s"] = wall
    steal = re.search(r"steal ([0-9.]+)%", proc.stderr)
    result["steal_pct"] = float(steal.group(1)) if steal else float("nan")
    return result


def spread(values: "list[float]") -> float:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def drift(first: "list[float]", second: "list[float]", better: str) -> float:
    """How much worse the second median is than the first, as a share."""
    m1, m2 = statistics.median(first), statistics.median(second)
    return (m2 - m1) / m1 if better == "lower" else (m1 - m2) / m1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--sets", type=int, choices=(1, 2), default=2)
    ap.add_argument(
        "--workload", action="append",
        help="default: the workloads in BENCHMARK.json; run.py also has file_filter and cdc_bulk",
    )
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", action="store_true", help="traced runs: print per-layer metrics")
    ap.add_argument("--out", help="write every run's result here (JSON)")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = args.workload or [w["name"] for w in bench["workloads"]]
    metrics = {m["name"]: m for m in bench["end_to_end"]}

    runs: "dict[str, list[list[dict]]]" = {}
    for s in range(args.sets):
        for w in workloads:
            results = []
            for k in range(args.seeds):
                seed = args.first_seed + s * args.seeds + k  # the same seeds on every workload
                r = run_once(bench, w, seed, int(args.trace))
                results.append(r)
                print(
                    f"set {s + 1} {w} seed {seed}: wall {r['wall_s']:.1f} s, "
                    f"steal {r['steal_pct']:.2f}%, correct {r['correct']}, "
                    f"failed {r['failed']}/{r['attempted']}: "
                    + ", ".join(f"{k} {v['value']:.4g} {v['unit']}" for k, v in r["metrics"].items()),
                    flush=True,
                )
            runs.setdefault(w, []).append(results)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(runs, f, indent=1)

    bad = [r for sets in runs.values() for rs in sets for r in rs if not r["correct"] or r["failed"]]
    if args.trace or args.seeds < 2:
        return 1 if bad else 0

    ok = not bad
    print(f"\n{'workload':14} {'metric':18} {'bound':>6} " + " ".join(f"spread{i + 1:>3}" for i in range(args.sets)) + ("   drift" if args.sets == 2 else ""))
    for w, sets in runs.items():
        for name, m in metrics.items():
            vals = [[r["metrics"][name]["value"] for r in rs] for rs in sets]
            spreads = [spread(v) for v in vals]
            row = f"{w:14} {name:18} {m['bound']:6.3f} " + " ".join(f"{s:9.4f}" for s in spreads)
            if name != "setup_s" and any(s > m["bound"] for s in spreads):
                ok, row = False, row + "  SPREAD>BOUND"
            if len(vals) == 2:
                d = drift(vals[0], vals[1], m["better"])
                row += f" {d:+8.4f}"
                if d > m["bound"]:
                    ok, row = False, row + "  DRIFT>BOUND"
            print(row)
        walls = [r["wall_s"] for rs in sets for r in rs]
        print(f"{w:14} {'wall_s':18} median {statistics.median(walls):.1f} max {max(walls):.1f}")
    if bad:
        print(f"{len(bad)} runs with wrong outputs")
    print("steady" if ok else "NOT steady")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
