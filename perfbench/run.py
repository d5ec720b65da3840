#!/usr/bin/env python3
"""Ingest-engine benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload cdc_trickle --seed 1 --seconds 10 --trace 0

Run from the repository root. The run builds a local Spark session, sets
the workload up and runs a warm-up that pays the cold compile (together
``setup_s``), then a closed loop of steps for ``--seconds``, then checks
every output against a reference that does not use the engine.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` alternates
untraced and traced steps (job groups, AppStatusStore counters, layer
prefixes forced to the noop sink) and prints the per-layer metrics,
including the tracing overhead as the median difference of adjacent
traced and untraced steps. Progress goes to stderr; the last stdout line
is the result.
Exits 1 when an output is wrong, 2 when the engine cannot be imported.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "op_p50_s": "s",
    "read_p50_s": "s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "setup.session_start_s": "s",
    "setup.inputs_s": "s",
    "setup.warmup_s": "s",
    "sources.scan_s": "s",
    "sources.input_bytes": "bytes",
    "plans.apply_self_s": "s",
    "plans.json_rewrite_self_s": "s",
    "plans.codegen_compiles": "count",
    "plans.codegen_ms": "ms",
    "plans.codegen_fallbacks": "count",
    "streaming.cdc.stats_s": "s",
    "streaming.cdc.merge_s": "s",
    "streaming.cdc.jobs_per_batch": "count",
    "streaming.cdc.salted_batches": "count",
    "streaming.feed_poll_s": "s",
    "lake.snapshot_ms": "ms",
    "lake.current_version_ms": "ms",
    "lake.last_batch_id_ms": "ms",
    "lake.metadata_bytes": "bytes",
    "lake.data_files": "count",
    "lake.bytes_written_per_event": "bytes",
    "lake.files_read_per_scan": "count",
    "lake.compactions": "count",
    "lake.scan_s": "s",
    "operators.pass_s": "s",
    "operators.changes_read_s": "s",
    "operators.pass_rest_s": "s",
    "operators.drops_per_pass": "count",
    "operators.sketch_rows": "count",
    "operators.planted_recall": "ratio",
    **{
        f"spark.{group}.{counter}": unit
        for group in ("op", "read")
        for counter, unit in (
            ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
            ("executor_run_s", "s"), ("shuffle_write_bytes", "bytes"),
            ("shuffle_read_bytes", "bytes"), ("spill_bytes", "bytes"), ("gc_s", "s"),
        )
    },
    "host.steal_pct": "%",
    "trace.overhead.op_p50_s": "s",
    "trace.overhead.read_p50_s": "s",
    "trace.overhead.throughput_per_s": "1/s",
}


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _import_engine() -> None:
    """Put the checkout on the import path of this process and of Spark's
    Python workers; fail with exit code 2 when the engine is absent."""
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    try:
        import embulk_filter_timestamp_format_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        _log(f"cannot import the engine from {ROOT}: {exc}")
        sys.exit(2)


def _loop(wl, tracers, seconds: float) -> "dict[int, int]":
    """Closed loop: start steps until ``seconds`` have passed, and at
    least the workload's ``min_steps`` and one per tracer (a traced run
    needs one traced/untraced pair). Step k runs under
    ``tracers[k % len(tracers)]``. Returns the items processed per step
    index."""
    items: "dict[int, int]" = {}
    t_end = time.perf_counter() + seconds
    min_steps = max(wl.min_steps, len(tracers))
    while time.perf_counter() < t_end or len(items) < min_steps:
        k = len(items)
        tracer = tracers[k % len(tracers)]
        tracer.step = k
        try:
            n = wl.step(tracer)
        except Exception as exc:  # an engine call failed: count it, stop the loop
            wl.fail(f"step {k} raised {type(exc).__name__}: {exc}")
            break
        if n is None:
            _log("generated inputs used up; loop ends early")
            break
        items[k] = n
    return items


def _per_step(wl, tracer, items: "dict[int, int]") -> "dict[int, dict]":
    """Per step: the primary call's time, the reader calls' time and the
    items per second of the write calls."""
    out: "dict[int, dict]" = {}
    for s in tracer.spans:
        if s.step not in items:
            continue
        row = out.setdefault(s.step, {"op": 0.0, "primary": 0.0, "read": 0.0})
        row[s.group] += s.seconds
        if s.name == wl.primary:
            row["primary"] += s.seconds
    for k, row in out.items():
        row["throughput"] = items[k] / row["op"] if row["op"] else 0.0
    return out


def _end_to_end(wl, tracer, items: "dict[int, int]") -> dict:
    from engine import median

    steps = _per_step(wl, tracer, items)
    op_time = sum(r["op"] for r in steps.values())
    if wl.read_per_call:  # one sample per reader call
        reads = [s.seconds for s in tracer.spans if s.group == "read" and s.step in items]
    else:  # one sample per step: the step's reader calls together
        reads = [r["read"] for r in steps.values()]
    return {
        "throughput_per_s": sum(items[k] for k in steps) / op_time if op_time else 0.0,
        "op_p50_s": median([r["primary"] for r in steps.values()]),
        "read_p50_s": median(reads),
    }


def _overhead(wl, plain, traced, items: "dict[int, int]") -> dict:
    """Traced minus untraced, as the median over pairs of adjacent steps
    (untraced step 2j, traced step 2j + 1)."""
    from engine import median

    a, b = _per_step(wl, plain, items), _per_step(wl, traced, items)
    pairs = [(a[k], b[k + 1]) for k in a if k + 1 in b]
    return {
        f"trace.overhead.{name}": median([t[key] - p[key] for p, t in pairs])
        for name, key in (("op_p50_s", "primary"), ("read_p50_s", "read"), ("throughput_per_s", "throughput"))
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    _import_engine()
    sys.path.insert(0, HERE)
    import engine
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        _log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2

    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # every temporary file of this process, the JVM and the workers stays
    # in the checkout
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.makedirs(tempfile.tempdir)
    log_path = os.path.join(work, "driver.log")
    spark = None
    try:
        t0 = time.perf_counter()
        spark = engine.build_session(work, log_path)
        t1 = time.perf_counter()
        logs = engine.LogCounter(log_path)
        wl = WORKLOADS[args.workload](spark, work, args.seed, logs)
        wl.setup()
        t2 = time.perf_counter()
        wl.warmup()
        t3 = time.perf_counter()
        setup_s = t3 - t0
        _log(f"{wl.name}: set-up {setup_s:.2f}s (session {t1 - t0:.2f}s, inputs {t2 - t1:.2f}s, warm-up {t3 - t2:.2f}s)")

        steal = engine.StealMeter()
        plain = engine.Tracer(spark, enabled=False)
        traced = engine.Tracer(spark, enabled=True)
        items = _loop(wl, [plain, traced] if args.trace else [plain], args.seconds)
        steal_pct = steal.pct()
        wl.finish(engine.Tracer(spark, enabled=False))
        # before the checks, whose own collects would count otherwise
        rss_mb = engine.peak_rss_mb()
        tv = time.perf_counter()
        wl.verify()
        _log(f"{wl.name}: {len(items)} steps; verified in {time.perf_counter() - tv:.2f}s")

        e2e = _end_to_end(wl, plain, items)
        e2e["setup_s"] = setup_s
        e2e["peak_rss_mb"] = rss_mb
        if args.trace:
            layers = dict.fromkeys(PER_LAYER, 0.0)
            layers.update(wl.layer_metrics())
            for group in ("op", "read"):
                for counter, value in traced.group_counters(group).items():
                    layers[f"spark.{group}.{counter}"] = value
            layers["setup.session_start_s"] = t1 - t0
            layers["setup.inputs_s"] = t2 - t1
            layers["setup.warmup_s"] = t3 - t2
            layers["host.steal_pct"] = steal_pct
            layers.update(_overhead(wl, plain, traced, items))
            values, units = layers, PER_LAYER
        else:
            values, units = e2e, END_TO_END
        _log(f"{wl.name}: steal {steal_pct:.2f}%, e2e {json.dumps({k: round(v, 4) for k, v in e2e.items()})}")
        for err in wl.errors:
            _log(f"WRONG: {err}")
        result = {
            "correct": not wl.errors,
            "attempted": max(wl.attempted, 1),
            "failed": len(wl.errors),
            "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
        }
    finally:
        if spark is not None:
            engine.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(work_root)  # only when no other run is using it
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
