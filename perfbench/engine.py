"""Spark session, host probes and the call tracer.

Everything here observes the engine from outside: the session is built
with the confs an engine user sets, job groups tag each public call, and
per-group counters come from Spark's own AppStatusStore. The log4j file
(``log4j2.properties`` beside this module) sends WARN lines, plus the
INFO lines of the two codegen loggers, to a per-run file so codegen
compiles and fallbacks can be counted per call.
"""

from __future__ import annotations

import os
import re
import statistics
import time
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))

SPARK_COUNTERS = (
    "jobs", "stages", "tasks", "executor_run_s",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "gc_s",
)


def cores() -> int:
    return min(4, len(os.sched_getaffinity(0)))


def build_session(work_dir: str, log_path: str):
    """A local session sized to the host: ``local[min(4, nproc)]``, a 1 GB
    driver, UTC session time zone (the engine requires it), shuffle
    partitions at twice the cores as the repo's bench.py sets them. All
    scratch files stay under ``work_dir``. Whole-stage codegen is left at
    Spark's default."""
    from pyspark.sql import SparkSession

    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # no JVM writes outside the work dir: temp files go to it and the
    # hsperfdata file is off, for the driver and for spark-submit's
    # short-lived launcher JVM alike
    jvm_tmp = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_tmp
    java_opts = " ".join(
        [
            jvm_tmp,
            f"-Dlog4j2.configurationFile=file:{os.path.join(HERE, 'log4j2.properties')}",
            f"-Dperfbench.log={log_path}",
        ]
    )
    n = cores()
    return (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.driver.memory", "1g")
        .config("spark.driver.extraJavaOptions", java_opts)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(2 * n))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", tmp)
        .config("spark.sql.warehouse.dir", os.path.join(work_dir, "warehouse"))
        .getOrCreate()
    )


def stop_session(spark) -> None:
    """Stop the session and wait for the driver JVM (and the Python
    workers it forked) to exit: the py4j gateway JVM ends on stdin EOF."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def force(df) -> None:
    """Run a plan to completion without collecting it."""
    df.write.format("noop").mode("overwrite").save()


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


# ---------------------------------------------------------------------------
# host probes
# ---------------------------------------------------------------------------


def _proc_stat() -> "tuple[int, int]":
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals), vals[7] if len(vals) > 7 else 0


class StealMeter:
    """Share of host CPU time stolen by co-tenants between start and stop."""

    def __init__(self):
        self._t0 = _proc_stat()

    def pct(self) -> float:
        total, steal = _proc_stat()
        dt = total - self._t0[0]
        return 100.0 * (steal - self._t0[1]) / dt if dt > 0 else 0.0


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Peak resident set (VmHWM) of this Python process plus the driver JVM."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    kb = _vm_hwm_kb(os.getpid()) + (_vm_hwm_kb(proc.pid) if proc is not None else 0)
    return kb / 1024.0


# ---------------------------------------------------------------------------
# codegen log lines
# ---------------------------------------------------------------------------

_COMPILED = re.compile(r"Code generated in ([0-9.]+) ms")
_FALLBACK = re.compile(
    r"failed to compile|Whole-stage codegen disabled|grows beyond 64 KB|too long generated codes",
    re.IGNORECASE,
)


class LogCounter:
    """Counts codegen compiles, compile time and codegen fallbacks in the
    driver log written since the last call."""

    def __init__(self, path: str):
        self.path = path
        self._pos = 0

    def take(self) -> "tuple[int, float, int]":
        """(compiles, compile ms, fallbacks) since the previous take."""
        try:
            with open(self.path, errors="replace") as f:
                f.seek(self._pos)
                text = f.read()
                self._pos = f.tell()
        except FileNotFoundError:
            return 0, 0.0, 0
        compiles = [float(m) for m in _COMPILED.findall(text)]
        return len(compiles), sum(compiles), len(_FALLBACK.findall(text))


# ---------------------------------------------------------------------------
# call tracer
# ---------------------------------------------------------------------------


@dataclass
class Span:
    group: str  # call group: "op" or "read"
    name: str  # the public call, e.g. "apply_batch"
    step: int  # index of the closed-loop step the call belongs to
    start: float
    end: float
    counters: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Times public calls. When enabled, each call runs under its own Spark
    job group and its engine counters are read back from the
    AppStatusStore; disabled, a call is only timed."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: "list[Span]" = []
        self.step = 0
        self._seq = 0

    def call(self, group: str, name: str, fn, *args, **kwargs):
        sc = self.spark.sparkContext
        if self.enabled:
            self._seq += 1
            job_group = f"perfbench-{id(self):x}-{self._seq}-{name}"
            sc.setJobGroup(job_group, name)
        t0 = time.perf_counter()
        try:
            result = fn(*args, **kwargs)
        finally:
            t1 = time.perf_counter()
            counters = {}
            if self.enabled:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
                counters = self._counters(job_group)
            self.spans.append(Span(group, name, self.step, t0, t1, counters))
        return result

    def _counters(self, job_group: str) -> dict:
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        jvm = sc._jvm
        out = dict.fromkeys(SPARK_COUNTERS, 0.0)
        seen = set()
        for job_id in tracker.getJobIdsForGroup(job_group):
            info = tracker.getJobInfo(job_id)
            if info is None:
                continue
            out["jobs"] += 1
            for stage_id in info.stageIds:
                if stage_id in seen:
                    continue
                seen.add(stage_id)
                data = store.stageData(
                    stage_id, False, jvm.java.util.ArrayList(), False,
                    sc._gateway.new_array(jvm.double, 0),
                )
                if data.isEmpty():
                    continue
                sd = data.apply(0)
                if sd.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks()
                out["executor_run_s"] += sd.executorRunTime() / 1000.0
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["shuffle_read_bytes"] += sd.shuffleReadBytes()
                out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                out["gc_s"] += sd.jvmGcTime() / 1000.0
        return out

    def times(self, name: str) -> "list[float]":
        return [s.seconds for s in self.spans if s.name == name]

    def group_counters(self, group: str) -> dict:
        """Engine counters of a call group, summed per step, median over
        the steps."""
        per_step: "dict[int, dict]" = {}
        for s in self.spans:
            if s.group == group and s.counters:
                acc = per_step.setdefault(s.step, dict.fromkeys(SPARK_COUNTERS, 0.0))
                for c in SPARK_COUNTERS:
                    acc[c] += s.counters[c]
        return {c: median([acc[c] for acc in per_step.values()]) for c in SPARK_COUNTERS}
