"""The workloads. Each is a closed loop over the engine's public calls.

A workload is built once per run and then driven by ``run.py``:

* ``setup()``: seeded inputs and fresh engine state;
* ``warmup()``: calls that pay the cold codegen compile and JIT (both
  count in ``setup_s``);
* ``step(tracer)``: one closed-loop step; the next step starts only after
  this one has committed. Calls in the ``op`` group are the write path,
  calls in the ``read`` group are the consumer that follows it. Returns
  the number of input items the step processed, or None when the
  generated inputs are used up;
* ``finish()``: end-of-loop operations (redelivery), then ``verify()``.

With tracing on, a step also forces layer prefixes to the noop sink and
records layer numbers in ``self.layers`` (lists of per-step samples).
That extra work runs after the step's timed calls, so it cannot warm
them.
"""

from __future__ import annotations

import datetime as dt
import os
import time

import checks
import inputs
from engine import LogCounter, Tracer, force, median

_UTC = dt.timezone.utc


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


class Workload:
    name = ""
    primary = ""  # the call whose median is op_p50_s
    min_steps = 1  # steps a run makes even when they outlast --seconds
    # read_p50_s: the median reader call (True) or the median step's
    # reader calls together (False)
    read_per_call = False

    def __init__(self, spark, work_dir: str, seed: int, logs: LogCounter):
        self.spark = spark
        self.work = work_dir
        self.seed = seed
        self.logs = logs
        self.layers: "dict[str, list]" = {}
        self.attempted = 0
        self.errors: "list[str]" = []  # one per failed or wrong operation
        # (phase, changes DataFrame) of every change-feed poll
        self.polls: "list[tuple[int, object]]" = []

    def record(self, name: str, value: float) -> None:
        self.layers.setdefault(name, []).append(value)

    def fail(self, message: str) -> None:
        self.errors.append(message)

    def setup(self) -> None:
        """Seeded inputs and fresh engine state under a fresh directory."""
        self.dir = os.path.join(self.work, "state")
        os.makedirs(self.dir)
        self._setup()

    def _setup(self) -> None:
        raise NotImplementedError

    def warmup(self) -> None:
        raise NotImplementedError

    def step(self, tracer) -> "int | None":
        raise NotImplementedError

    def finish(self, tracer) -> None:
        pass

    def verify(self) -> None:
        raise NotImplementedError

    def layer_metrics(self) -> dict:
        """Per-layer values from the traced steps: medians of the samples."""
        return {k: median(v) for k, v in self.layers.items()}

    # -- shared by the table workloads --------------------------------------

    @staticmethod
    def consume_feed(feed):
        """One change-feed poll, forced to the noop sink, then its commit.
        Returns the polled changes for :meth:`keep_poll`."""
        polled = feed.poll()
        if polled is None:
            raise RuntimeError("feed poll found no new version after a commit")
        changes, to_version = polled
        force(changes)
        feed.commit(to_version)
        return changes

    def keep_poll(self, phase: int, changes) -> None:
        """Keep a poll's changes for ``verify()``. A poll reads fixed
        snapshot versions of immutable files, so it reads the same rows
        again after the loop, outside the timing."""
        self.polls.append((phase, changes))

    def check_polls(self, expected: "list[set]") -> "list[str]":
        """Every kept poll's (doc_id, _change_type) rows against the
        reference's net changes of its phase."""
        if not self.polls:
            return []
        from functools import reduce

        from pyspark.sql import functions as F

        union = reduce(
            lambda a, b: a.unionByName(b),
            (c.select(F.lit(j).alias("poll"), "doc_id", "_change_type") for j, (_, c) in enumerate(self.polls)),
        )
        got: "list[list]" = [[] for _ in self.polls]
        for r in union.toArrow().to_pylist():
            got[r["poll"]].append((r["doc_id"], r["_change_type"]))
        errors = []
        for (phase, _), listed in zip(self.polls, got):
            want, rows = expected[phase], set(listed)
            if len(rows) != len(listed):
                errors.append(f"feed poll after batch {phase}: {len(listed) - len(rows)} repeated changes")
            if rows != want:
                errors.append(
                    f"feed poll after batch {phase}: {len(rows - want)} unexpected and "
                    f"{len(want - rows)} missing changes, e.g. {sorted(rows ^ want)[:3]}"
                )
        return errors

    def probe_lake(self, table, source: str) -> None:
        """Time the metadata calls a reader or the next commit makes, and
        size the newest snapshot file."""
        for name, fn in (
            ("lake.snapshot_ms", table.snapshot),
            ("lake.current_version_ms", table.current_version),
            ("lake.last_batch_id_ms", lambda: table.last_batch_id(source)),
        ):
            t0 = time.perf_counter()
            fn()
            self.record(name, (time.perf_counter() - t0) * 1000.0)
        version = table.current_version()
        snap = table.snapshot(version)
        self.record("lake.metadata_bytes", os.path.getsize(os.path.join(table.meta_dir, f"v{version}.json")))
        self.record("lake.data_files", len(snap["files"]))
        self.record("lake.compactions", len(snap["summary"].get("compacted_buckets", [])))


# ---------------------------------------------------------------------------
# file_filter
# ---------------------------------------------------------------------------


class FileFilter(Workload):
    """The reference plugin's job: CSV and JSONL files → apply_task →
    parquet, on a 3-format timestamp cascade."""

    name = "file_filter"
    primary = "file_pass"
    rows = 20_000  # per format
    files = 4  # per format: one task per file on the 4 cores

    def _setup(self) -> None:
        from embulk_filter_timestamp_format_spark.plans import TaskConfig

        self.truth = inputs.filter_rows(self.seed, self.rows)
        self.csv = os.path.join(self.dir, "csv")
        self.jsonl = os.path.join(self.dir, "jsonl")
        inputs.write_filter_files(self.truth, self.csv, self.jsonl, self.files)
        csv_task, jsonl_task = inputs.filter_tasks()
        self.csv_task = TaskConfig.from_dict(csv_task)
        self.jsonl_task = TaskConfig.from_dict(jsonl_task)
        self.outputs: "list[tuple[str, str]]" = []
        self.passes = 0

    def _csv(self):
        from embulk_filter_timestamp_format_spark.sources.readers import read_csv

        return read_csv(self.spark, self.csv, inputs.CSV_SCHEMA)

    def _jsonl(self):
        from embulk_filter_timestamp_format_spark.sources.readers import read_jsonl

        return read_jsonl(self.spark, self.jsonl)

    def _file_pass(self, csv_out: str, json_out: str) -> None:
        from embulk_filter_timestamp_format_spark.plans import apply_task

        apply_task(self._csv(), self.csv_task).write.parquet(csv_out)
        apply_task(self._jsonl(), self.jsonl_task).write.parquet(json_out)

    def _outputs(self) -> "tuple[str, str]":
        self.passes += 1
        out = os.path.join(self.dir, f"out{self.passes:04d}")
        return os.path.join(out, "csv"), os.path.join(out, "jsonl")

    def warmup(self) -> None:
        self._file_pass(*self._outputs())

    def step(self, tracer) -> int:
        from embulk_filter_timestamp_format_spark.plans import apply_task

        csv_out, json_out = self._outputs()
        self.logs.take()
        tracer.call("op", "file_pass", self._file_pass, csv_out, json_out)
        self.attempted += 1
        self.outputs.append((csv_out, json_out))
        compiles, compile_ms, fallbacks = self.logs.take()
        tracer.call("read", "read_output", lambda: force(self.spark.read.parquet(csv_out, json_out)))
        self.attempted += 1
        if tracer.enabled:
            self.record("plans.codegen_compiles", compiles)
            self.record("plans.codegen_ms", compile_ms)
            self.record("plans.codegen_fallbacks", fallbacks)
            self.record("sources.input_bytes", _dir_bytes(self.csv) + _dir_bytes(self.jsonl))
            t = {}
            for key, fn in (
                ("csv_scan", lambda: force(self._csv())),
                ("json_scan", lambda: force(self._jsonl())),
                ("csv_apply", lambda: force(apply_task(self._csv(), self.csv_task))),
                ("json_apply", lambda: force(apply_task(self._jsonl(), self.jsonl_task))),
            ):
                t0 = time.perf_counter()
                fn()
                t[key] = time.perf_counter() - t0
            self.record("sources.scan_s", t["csv_scan"] + t["json_scan"])
            self.record("plans.apply_self_s", t["csv_apply"] - t["csv_scan"] + t["json_apply"] - t["json_scan"])
            self.record("plans.json_rewrite_self_s", t["json_apply"] - t["json_scan"])
        return 2 * self.rows

    def verify(self) -> None:
        expected = checks.expected_filter_values(self.truth)
        for csv_out, json_out in self.outputs:
            errors = checks.check_filter_output(csv_out, json_out, expected)
            if errors:
                self.fail(f"{csv_out}: " + "; ".join(errors))


# ---------------------------------------------------------------------------
# cdc_trickle
# ---------------------------------------------------------------------------


class CdcTrickle(Workload):
    """Small micro-batches into a merge-on-read table over a wide key
    space, each followed by a change-feed consumer and a time-range scan.

    Sizes: a 100-event batch is 1/100 of the 10k-event MOR batch whose
    per-batch fixed cost already dominated on a 4-core host. The starting
    table is a 20k-event load over 20k doc ids (about 12k rows, more than
    100 times a batch), so cost that grows with the table shows apart
    from cost that grows with the change."""

    name = "cdc_trickle"
    primary = "apply_batch"
    load_events = 20_000  # the warm-up batch: the table's starting state
    batch_events = 100
    max_steps = 20  # more than a 60 s loop can apply
    num_docs = 20_000
    hot_pct, num_hot = 2, 4  # 0.5% per hot key: under the 5% skew threshold
    write_mode = "mor"
    with_feed = True  # a ChangesFeed consumer polls after every commit

    def _setup(self) -> None:
        from embulk_filter_timestamp_format_spark.lake import IceTable
        from embulk_filter_timestamp_format_spark.sources.binlog import generate_binlog
        from embulk_filter_timestamp_format_spark.streaming.cdc import TARGET_SCHEMA, CdcPipeline

        total = self.load_events + self.batch_events * self.max_steps
        chunk = generate_binlog(
            self.spark, os.path.join(self.dir, "binlog"), total, num_docs=self.num_docs,
            num_chunks=1, seed=self.seed, hot_pct=self.hot_pct, num_hot=self.num_hot,
            delete_pct=5,
        )[0]
        self.batches = inputs.split_binlog(
            chunk, os.path.join(self.dir, "batches"),
            [self.load_events] + [self.batch_events] * self.max_steps,
        )
        self.table = IceTable.create(
            self.spark, os.path.join(self.dir, "table"), TARGET_SCHEMA,
            key="doc_id", num_buckets=8, write_mode=self.write_mode, compact_threshold=4,
        )
        self.pipe = CdcPipeline(self.spark, self.table)
        self.applied = 0
        self.feed = None

    def _batch(self, i: int):
        from embulk_filter_timestamp_format_spark.sources.binlog import BINLOG_SCHEMA

        return self.spark.read.schema(BINLOG_SCHEMA).parquet(self.batches[i])

    def _time_range(self, i: int) -> "tuple[dt.datetime, dt.datetime]":
        from embulk_filter_timestamp_format_spark.sources.binlog import BASE_EPOCH_MS

        first = self.load_events + (i - 1) * self.batch_events if i else 0
        last = first + (self.batch_events if i else self.load_events) - 1
        return tuple(
            dt.datetime.fromtimestamp((BASE_EPOCH_MS + o) / 1000, _UTC) for o in (first, last)
        )

    def _scan(self, i: int):
        return self.table.scan([("event_time", "between", self._time_range(i))])

    def warmup(self) -> None:
        from embulk_filter_timestamp_format_spark.streaming.feed import ChangesFeed

        self.pipe.apply_batch(self._batch(0), 0)
        self.applied = 1
        if self.with_feed:
            self.feed = ChangesFeed(self.table, os.path.join(self.dir, "cursor.json"), start_version=1)
            self.consume_feed(self.feed)
        force(self._scan(0))
        # one regular step: the first merge into a non-empty table and the
        # first delta-over-base reads compile plans the load did not
        self.step(Tracer(self.spark, enabled=False))

    def step(self, tracer) -> "int | None":
        i = self.applied
        if i >= len(self.batches):
            return None
        before = self.table.current_version()
        data_bytes = _dir_bytes(self.table.data_dir) if tracer.enabled else 0
        batch = self._batch(i)
        self.logs.take()
        version = tracer.call("op", "apply_batch", self.pipe.apply_batch, batch, i)
        op_span = tracer.spans[-1]
        self.attempted += 1
        compiles, compile_ms, fallbacks = self.logs.take()
        self.applied += 1
        if version != before + 1:
            self.fail(f"batch {i}: committed version {version}, expected {before + 1}")
        if self.with_feed:
            self.keep_poll(i, tracer.call("read", "feed_poll", self.consume_feed, self.feed))
            self.attempted += 1
            if self.feed.cursor != version:
                self.fail(f"batch {i}: feed cursor {self.feed.cursor}, table version {version}")
        tracer.call("read", "scan", lambda: force(self._scan(i)))
        self.attempted += 1
        if tracer.enabled:
            self.record("plans.codegen_compiles", compiles)
            self.record("plans.codegen_ms", compile_ms)
            self.record("plans.codegen_fallbacks", fallbacks)
            lineage = self.pipe.metrics[-1]
            self.record("streaming.cdc.stats_s", lineage["dedup_sec"])
            self.record("streaming.cdc.merge_s", lineage["merge_sec"])
            self.record("streaming.cdc.salted_batches", 1 if lineage["salt_buckets"] else 0)
            self.record("streaming.cdc.jobs_per_batch", op_span.counters["jobs"])
            self.record(
                "lake.bytes_written_per_event",
                (_dir_bytes(self.table.data_dir) - data_bytes) / self.batch_events,
            )
            if self.with_feed:
                self.record("streaming.feed_poll_s", tracer.times("feed_poll")[-1])
            self.record("lake.scan_s", tracer.times("scan")[-1])
            self.record("lake.files_read_per_scan", self.table.last_scan_info["files_read"])
            self.probe_lake(self.table, self.pipe.source_name)
            t0 = time.perf_counter()
            force(batch)
            scan_s = time.perf_counter() - t0
            # the tsfmt coercion every batch runs, under apply_batch's
            # whole-stage codegen setting
            wscg = self.spark.conf.get("spark.sql.codegen.wholeStage")
            self.spark.conf.set("spark.sql.codegen.wholeStage", str(self.pipe.wholestage_codegen).lower())
            t0 = time.perf_counter()
            force(self.pipe.coerce(batch))
            self.spark.conf.set("spark.sql.codegen.wholeStage", wscg)
            self.record("sources.scan_s", scan_s)
            self.record("plans.apply_self_s", time.perf_counter() - t0 - scan_s)
            self.record("sources.input_bytes", os.path.getsize(self.batches[i]))
        return self.batch_events

    def finish(self, tracer) -> None:
        """Redeliver the last committed batch: the batch-id fence must make
        it a no-op."""
        last = self.applied - 1
        before = self.table.current_version()
        result = tracer.call("op", "redeliver", self.pipe.apply_batch, self._batch(last), last)
        self.attempted += 1
        if result is not None or self.table.current_version() != before:
            self.fail(f"redelivered batch {last} committed (returned {result})")

    def verify(self) -> None:
        applied = self.batches[: self.applied]
        expected = checks.expected_cdc_state(applied)
        errors = checks.check_cdc_state(self.table.read().toArrow().to_pylist(), expected)
        lo, hi = self._time_range(self.applied - 1)
        scanned = {r["doc_id"] for r in self._scan(self.applied - 1).select("doc_id").toArrow().to_pylist()}
        want = {d for d, r in expected.items() if lo <= r["event_time"] <= hi}
        if scanned != want:
            errors.append(f"time-range scan: {len(scanned ^ want)} doc ids differ from the reference")
        if self.with_feed:
            errors += self.check_polls(checks.expected_cdc_changes(applied))
        if errors:
            self.fail("; ".join(errors))


class CdcBulk(CdcTrickle):
    """Large micro-batches into a copy-on-write table with the hot-key
    share above the skew threshold, so the salted dedup path runs; each
    commit is followed by a time-range scan only."""

    name = "cdc_bulk"
    load_events = 20_000
    batch_events = 20_000
    max_steps = 15  # more than a 60 s loop can apply
    num_docs = 50_000
    hot_pct, num_hot = 30, 4  # 7.5% per hot key: over the 5% skew threshold
    write_mode = "cow"
    with_feed = False


# ---------------------------------------------------------------------------
# corpus_dedup
# ---------------------------------------------------------------------------


class CorpusDedup(Workload):
    """Document batches merge into a corpus table; each merge is followed
    by one incremental MinHash-LSH dedup pass against the sketch table,
    then each downstream consumer polls the corpus's change feed."""

    name = "corpus_dedup"
    primary = "incremental_dedup_pass"
    init_docs = 500  # merged at set-up; the warm-up runs the bootstrap pass
    batch_docs = 200
    max_steps = 10  # more than a 60 s loop can apply
    dup_share = 0.10
    buckets = 4  # corpus and sketch tables
    consumers = 2  # change-feed consumers, each with its own cursor
    read_per_call = True  # read_p50_s is one consumer's poll + commit
    # a pass takes longer than --seconds; two keep one burst of host CPU
    # steal from deciding a run's op_p50_s
    min_steps = 2

    def _setup(self) -> None:
        from pyspark.sql import types as T

        from embulk_filter_timestamp_format_spark.lake import IceTable
        from embulk_filter_timestamp_format_spark.operators.incremental import create_sketch_table

        total = self.init_docs + self.batch_docs * self.max_steps
        self.corpus = inputs.corpus(self.seed, total, self.dup_share)
        sizes = [self.init_docs] + [self.batch_docs] * self.max_steps
        self.phases, self.batch_files, start = [], [], 0
        os.makedirs(os.path.join(self.dir, "batches"))
        for i, size in enumerate(sizes):
            docs = self.corpus.docs[start : start + size]
            path = os.path.join(self.dir, "batches", f"batch_{i:05d}.parquet")
            inputs.write_corpus_batch(docs, path)
            self.phases.append(docs)
            self.batch_files.append(path)
            start += size
        schema = T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("text", T.StringType()),
                T.StructField("event_seq", T.LongType()),
            ]
        )
        self.table = IceTable.create(
            self.spark, os.path.join(self.dir, "corpus"), schema, key="doc_id", num_buckets=self.buckets
        )
        self.sketch = create_sketch_table(self.spark, os.path.join(self.dir, "sketch"), num_buckets=self.buckets)
        self.from_version = self.table.current_version()
        self._merge(0)  # the corpus's starting state
        self.applied = 1

    def _merge(self, i: int) -> None:
        self.table.merge_into(self.spark.read.parquet(self.batch_files[i]), batch_id=i, source="ingest")

    def _pass(self, i: int) -> None:
        from embulk_filter_timestamp_format_spark.operators.incremental import incremental_dedup_pass

        r = incremental_dedup_pass(self.table, self.sketch, self.from_version, batch_id=1_000_000 + i)
        self.from_version = r["corpus_version"] or r["to_version"]

    def warmup(self) -> None:
        from embulk_filter_timestamp_format_spark.streaming.feed import ChangesFeed

        self.feeds = [
            ChangesFeed(self.table, os.path.join(self.dir, f"cursor{k}.json"), start_version=1)
            for k in range(self.consumers)
        ]
        self._pass(0)
        for feed in self.feeds:
            self.consume_feed(feed)

    def step(self, tracer) -> "int | None":
        i = self.applied
        if i >= len(self.batch_files):
            return None
        from_version = self.from_version
        data_bytes = _dir_bytes(self.table.data_dir) if tracer.enabled else 0
        tracer.call("op", "merge_into", self._merge, i)
        self.attempted += 1
        merged = self.table.current_version()
        if tracer.enabled:
            self.record(
                "lake.bytes_written_per_event",
                (_dir_bytes(self.table.data_dir) - data_bytes) / self.batch_docs,
            )
        tracer.call("op", "incremental_dedup_pass", self._pass, i)
        self.attempted += 1
        self.applied += 1
        version = self.table.current_version()
        for k, feed in enumerate(self.feeds):
            self.keep_poll(i, tracer.call("read", "feed_poll", self.consume_feed, feed))
            self.attempted += 1
            if feed.cursor != version:
                self.fail(f"batch {i}: feed {k} cursor {feed.cursor}, corpus version {version}")
        if tracer.enabled:
            self.probe_lake(self.table, "ingest")
            t0 = time.perf_counter()
            force(self.table.changes(from_version, merged))
            changes_s = time.perf_counter() - t0
            t0 = time.perf_counter()
            force(self.spark.read.parquet(self.batch_files[i]))
            self.record("sources.scan_s", time.perf_counter() - t0)
            self.record("sources.input_bytes", os.path.getsize(self.batch_files[i]))
            pass_s = tracer.times("incremental_dedup_pass")[-1]
            self.record("operators.pass_s", pass_s)
            self.record("operators.changes_read_s", changes_s)
            self.record("operators.pass_rest_s", pass_s - changes_s)
            self.record("operators.drops_per_pass", self.table.read(merged).count() - self.table.read().count())
            for poll_s in tracer.times("feed_poll")[-self.consumers :]:
                self.record("streaming.feed_poll_s", poll_s)
        return self.batch_docs

    def layer_metrics(self) -> dict:
        out = super().layer_metrics()
        if self.layers:
            out["operators.sketch_rows"] = self.sketch.read().count()
            out["operators.planted_recall"] = self.planted_recall
        return out

    def verify(self) -> None:
        from __spark_entry__ import _minhash_pairs_sql

        applied = self.phases[: self.applied]
        per_phase, partner = checks.expected_survivors(applied, _minhash_pairs_sql)
        want = per_phase[-1]
        got = {r["doc_id"] for r in self.table.read().select("doc_id").collect()}
        texts = {d: t for docs in applied for d, t in docs}
        errors = checks.check_dedup(got, want, partner, texts)
        # a poll nets the merge and the pass: the phase's new survivors are
        # inserts, the survivors it removed are deletes
        before, net = set(), []
        for after in per_phase:
            net.append({(d, "insert") for d in after - before} | {(d, "delete") for d in before - after})
            before = after
        errors += self.check_polls(net)
        if errors:
            self.fail("; ".join(errors))
        planted = texts.keys() & self.corpus.planted.keys()
        self.planted_recall = len(planted - got) / len(planted) if planted else 0.0


WORKLOADS = {w.name: w for w in (CdcTrickle, CorpusDedup, FileFilter, CdcBulk)}
