"""Merge-on-read tables: replay equivalence with copy-on-write, bounded
delta chains via adaptive compaction, idempotent fencing, time travel."""

import glob

import pytest
from pyspark.sql import functions as F

from embulk_filter_timestamp_format_spark.lake import IceTable
from embulk_filter_timestamp_format_spark.sources.binlog import BINLOG_SCHEMA, generate_binlog
from embulk_filter_timestamp_format_spark.streaming.cdc import TARGET_SCHEMA, CdcPipeline

N_EVENTS = 2000
N_DOCS = 300


@pytest.fixture(scope="module")
def binlog_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("binlog_mor"))
    generate_binlog(spark, d, N_EVENTS, N_DOCS, num_chunks=4)
    return d


def _table(spark, tmp_path, name, **kw):
    return IceTable.create(
        spark, str(tmp_path / name), TARGET_SCHEMA, key="doc_id", num_buckets=8, **kw
    )


def _rows(table):
    return {
        r["doc_id"]: (tuple(r["tokens"]), r["n_tok"], r["event_seq"])
        for r in table.read().collect()
    }


def _chunks(binlog_dir):
    return sorted(glob.glob(binlog_dir + "/chunk_*"))


def test_mor_replay_equals_cow(spark, binlog_dir, tmp_path):
    cow = _table(spark, tmp_path, "cow")
    CdcPipeline(spark, cow).replay_chunks(_chunks(binlog_dir))
    mor = _table(spark, tmp_path, "mor", write_mode="mor")
    CdcPipeline(spark, mor).replay_chunks(_chunks(binlog_dir))
    assert _rows(mor) == _rows(cow)
    # MOR actually wrote deltas (at threshold 8, 4 batches stay deltas)
    snap = mor.snapshot()
    assert any(f.get("delta") for f in snap["files"])


def test_mor_compaction_bounds_delta_chain(spark, binlog_dir, tmp_path):
    mor = _table(spark, tmp_path, "mor_c", write_mode="mor", compact_threshold=2)
    pipe = CdcPipeline(spark, mor)
    chunks = _chunks(binlog_dir)
    pipe.replay_chunks(chunks)
    snap = mor.snapshot()
    chain: dict[int, int] = {}
    for f in snap["files"]:
        if f.get("delta"):
            chain[f["bucket"]] = chain.get(f["bucket"], 0) + 1
    # bound = per-bucket staggered threshold (threshold + jitter max)
    assert all(
        c <= IceTable.bucket_compact_threshold(snap["spec"], b)
        for b, c in chain.items()
    ), chain
    # at least one commit compacted something
    assert any(
        mor.snapshot(v)["summary"].get("compacted_buckets")
        for v in range(2, mor.current_version() + 1)
    )
    # state identical to an uncompacted replay
    plain = _table(spark, tmp_path, "mor_p", write_mode="mor", compact_threshold=100)
    CdcPipeline(spark, plain).replay_chunks(chunks)
    assert _rows(mor) == _rows(plain)
    # no orphan files: disk == union of registered paths over all versions
    import os

    registered = set()
    for v in range(1, mor.current_version() + 1):
        for f in mor.snapshot(v)["files"]:
            registered.add(os.path.join(mor.root, f["path"]))
    on_disk = {
        p
        for p in glob.glob(os.path.join(mor.data_dir, "**", "*.parquet"), recursive=True)
    }
    assert on_disk <= registered  # compaction may drop same-commit deltas from disk


def test_mor_duplicate_batch_fenced(spark, binlog_dir, tmp_path):
    mor = _table(spark, tmp_path, "mor_f", write_mode="mor")
    pipe = CdcPipeline(spark, mor)
    chunks = _chunks(binlog_dir)
    pipe.replay_chunks(chunks)
    v = mor.current_version()
    CdcPipeline(spark, mor).replay_chunks(chunks)  # duplicate delivery
    assert mor.current_version() == v
    df0 = spark.read.schema(BINLOG_SCHEMA).parquet(chunks[0])
    assert pipe.apply_batch(df0, 0) is None


def test_mor_time_travel(spark, binlog_dir, tmp_path):
    mor = _table(spark, tmp_path, "mor_tt", write_mode="mor", compact_threshold=2)
    pipe = CdcPipeline(spark, mor)
    chunks = _chunks(binlog_dir)
    pipe.replay_chunks(chunks[:1])
    v1 = mor.current_version()
    n1 = mor.read().count()
    pipe.replay_chunks(chunks, start_batch=0)
    assert mor.read(version=v1).count() == n1  # snapshot isolation across compaction


def test_mor_schema_evolution_mid_replay(spark, binlog_dir, tmp_path):
    """Retype-in-place while delta files exist: old base AND old delta
    files are cast-projected to the new schema on read; replay continues
    and matches a plain replay."""
    from pyspark.sql import types as T

    chunks = _chunks(binlog_dir)
    mor = _table(spark, tmp_path, "mor_ev", write_mode="mor")
    pipe = CdcPipeline(spark, mor)
    pipe.replay_chunks(chunks[:2])

    fields = [
        T.StructField(f.name, T.DoubleType(), True) if f.name == "ingest_time_unix" else f
        for f in TARGET_SCHEMA.fields
    ]
    mor.evolve_schema(T.StructType(fields))
    assert dict(mor.read().dtypes)["ingest_time_unix"] == "double"

    CdcPipeline(spark, mor).replay_chunks(chunks, start_batch=0)
    plain = _table(spark, tmp_path, "mor_ev_plain", write_mode="mor")
    CdcPipeline(spark, plain).replay_chunks(chunks)
    assert _rows(mor) == _rows(plain)
    assert dict(mor.read().dtypes)["ingest_time_unix"] == "double"


def test_mor_deletes_are_tombstones(spark, tmp_path):
    mor = _table(spark, tmp_path, "mor_d", write_mode="mor")
    up1 = spark.createDataFrame(
        [("d1", [1, 2], 2, "s", None, None, None, 1), ("d2", [3], 1, "s", None, None, None, 2)],
        TARGET_SCHEMA,
    ).withColumn("op", F.lit("U"))
    mor.merge_into(up1, batch_id=0, source="t")
    del2 = spark.createDataFrame(
        [("d1", [9], 1, "s", None, None, None, 3)], TARGET_SCHEMA
    ).withColumn("op", F.lit("D"))
    mor.merge_into(del2, batch_id=1, source="t")
    rows = {r["doc_id"] for r in mor.read().collect()}
    assert rows == {"d2"}
    # the tombstone is physically present in a delta file (merge-on-read)
    snap = mor.snapshot()
    assert sum(1 for f in snap["files"] if f.get("delta")) >= 2


def test_manual_compact_is_state_invariant(spark, binlog_dir, tmp_path):
    """compact() folds every delta chain to base files in one commit;
    state is unchanged and the changelog across the compaction commit is
    empty (file sets churn, contents don't)."""
    t = _table(spark, tmp_path, "manual_compact", write_mode="mor", compact_threshold=1000)
    CdcPipeline(spark, t).replay_chunks(_chunks(binlog_dir))
    before = _rows(t)
    v1 = t.current_version()
    assert any(f.get("delta") for f in t.snapshot()["files"])

    v2 = t.compact()
    assert v2 == v1 + 1
    snap = t.snapshot()
    assert not any(f.get("delta") for f in snap["files"])
    assert snap["summary"]["operation"] == "compact"
    assert _rows(t) == before
    assert t.changes(v1, v2).count() == 0  # state-invariant commit
    assert t.compact() is None  # nothing left to fold


def _upserts(spark, rows):
    data = [(d, t, len(t), "s", None, None, None, q) for d, t, q in rows]
    return spark.createDataFrame(data, TARGET_SCHEMA).withColumn("op", F.lit("U"))


def test_mor_base_delta_seq_tie_prefers_delta(spark, tmp_path):
    """A (key, seq) tie between a BASE row and a delta row resolves to the
    delta (side priority) — without it the MOR read returns both rows."""
    mor = _table(spark, tmp_path, "mor_tie", write_mode="mor", compact_threshold=100)
    mor.merge_into(_upserts(spark, [("d1", [1], 5)]), batch_id=0, source="t")
    mor.compact()  # fold the delta so d1 now sits in a BASE file
    assert not any(f.get("delta") for f in mor.snapshot()["files"])
    mor.merge_into(_upserts(spark, [("d1", [2], 5)]), batch_id=1, source="t")
    rows = mor.read().collect()
    assert len(rows) == 1
    assert list(rows[0]["tokens"]) == [2]


def test_mor_unfenced_redelivery_is_idempotent(spark, tmp_path):
    """The same batch delivered twice WITHOUT a batch-id fence must not
    duplicate keys in MOR reads (exact (key, seq) delta ties collapse)."""
    mor = _table(spark, tmp_path, "mor_redeliver", write_mode="mor")
    up = _upserts(spark, [("d1", [1], 3), ("d2", [2, 2], 4)])
    mor.merge_into(up, batch_id=None)
    mor.merge_into(up, batch_id=None)  # duplicate delivery, no fence
    rows = mor.read().collect()
    assert sorted(r["doc_id"] for r in rows) == ["d1", "d2"]
    # a redelivered DELETE tombstone tie also stays idempotent
    dels = spark.createDataFrame(
        [("d1", [9], 1, "s", None, None, None, 9)], TARGET_SCHEMA
    ).withColumn("op", F.lit("D"))
    mor.merge_into(dels, batch_id=None)
    mor.merge_into(dels, batch_id=None)
    assert {r["doc_id"] for r in mor.read().collect()} == {"d2"}


def test_mor_same_seq_mixed_op_tie_tombstone_wins(spark, tmp_path):
    """Two DIFFERENT deltas sharing (key, seq) — a U payload and a D
    tombstone, a producer-contract violation — must resolve
    deterministically: the tombstone wins (priority base=0 < U=1 < D=2),
    so the key is absent from the MOR read regardless of delivery order."""
    for order, name in [((0, 1), "ud"), ((1, 0), "du")]:
        mor = _table(spark, tmp_path, f"mor_mixed_{name}", write_mode="mor")
        up = _upserts(spark, [("d1", [1], 7)])
        dels = spark.createDataFrame(
            [("d1", [1], 1, "s", None, None, None, 7)], TARGET_SCHEMA
        ).withColumn("op", F.lit("D"))
        batches = [up, dels]
        mor.merge_into(batches[order[0]], batch_id=None)
        mor.merge_into(batches[order[1]], batch_id=None)
        assert mor.read().collect() == []


def test_mor_null_seq_rows_never_win(spark, tmp_path):
    """The latest-version aggregate skips NULL-seq rows: a key whose only
    rows have a NULL seq stays absent, and a NULL-seq row never beats a
    row with a seq — in the read, the change feed and compaction."""
    mor = _table(spark, tmp_path, "mor_nullseq", write_mode="mor", compact_threshold=100)
    v0 = mor.current_version()
    mor.merge_into(_upserts(spark, [("d1", [1], None), ("d2", [2], 5)]), batch_id=0)
    mor.merge_into(_upserts(spark, [("d1", [3], None), ("d2", [4], None)]), batch_id=1)
    want = {"d2": ((2,), 1, 5)}
    assert _rows(mor) == want
    assert {r["doc_id"]: r["_change_type"] for r in mor.changes(v0).collect()} == {"d2": "insert"}
    mor.compact()
    assert _rows(mor) == want


def _exchanges(df):
    """(hash exchanges, broadcast exchanges) in df's executed plan."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()  # the final plan only, not the initial one too
    text = plan.toString()
    return text.count("Exchange hashpartitioning"), text.count("BroadcastExchange")


def test_mor_read_plans_hold_one_exchange(spark, binlog_dir, tmp_path):
    """MOR read(), MOR scan() and changes() each resolve the latest row
    per key with ONE aggregate: one hash exchange on the key, no
    broadcast join-back."""
    t = _table(spark, tmp_path, "mor_shape", write_mode="mor", compact_threshold=100)
    pipe = CdcPipeline(spark, t)
    chunks = _chunks(binlog_dir)
    pipe.replay_chunks(chunks[:2])
    t.compact()  # base files + delta files from here on
    v1 = t.current_version()
    pipe.replay_chunks(chunks[2:], start_batch=2)
    files = t.snapshot()["files"]
    assert any(f.get("delta") for f in files) and not all(f.get("delta") for f in files)

    assert _exchanges(t.read()) == (1, 0)
    assert _exchanges(t.scan([("event_seq", ">=", N_EVENTS // 2)])) == (1, 0)
    assert _exchanges(t.changes(v1)) == (1, 0)
