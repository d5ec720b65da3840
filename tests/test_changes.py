"""Incremental changelog reads (IceTable.changes — the CDF twin of time
travel): diff-vs-state-read equivalence on COW and MOR tables, bucket-level
pruning (cost ∝ churn), schema-evolution casts, and version guards."""

import glob

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from embulk_filter_timestamp_format_spark.lake import IceTable, changelog_diff
from embulk_filter_timestamp_format_spark.sources.binlog import generate_binlog
from embulk_filter_timestamp_format_spark.streaming.cdc import TARGET_SCHEMA, CdcPipeline

N_EVENTS = 2000
N_DOCS = 300


@pytest.fixture(scope="module")
def binlog_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("binlog_chg"))
    generate_binlog(spark, d, N_EVENTS, N_DOCS, num_chunks=4)
    return d


def _chunks(binlog_dir):
    return sorted(glob.glob(binlog_dir + "/chunk_*"))


def _state(table, version):
    return {
        r["doc_id"]: (tuple(r["tokens"] or ()), r["n_tok"], r["event_seq"])
        for r in table.read(version).collect()
    }


def _truth_diff(old, new):
    """Classify net changes between two key→(payload…, seq) states."""
    out = {}
    for k, v in new.items():
        if k not in old:
            out[k] = ("insert", v)
        elif old[k][-1] != v[-1]:
            out[k] = ("update_postimage", v)
    for k, v in old.items():
        if k not in new:
            out[k] = ("delete", v)
    return out


def _got_diff(table, v1, v2):
    return {
        r["doc_id"]: (r["_change_type"], (tuple(r["tokens"] or ()), r["n_tok"], r["event_seq"]))
        for r in table.changes(v1, v2).collect()
    }


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_changes_matches_state_diff(spark, binlog_dir, tmp_path, mode):
    table = IceTable.create(
        spark, str(tmp_path / f"t_{mode}"), TARGET_SCHEMA, key="doc_id",
        num_buckets=8, write_mode=mode,
    )
    pipe = CdcPipeline(spark, table)
    chunks = _chunks(binlog_dir)
    pipe.replay_chunks(chunks[:2])
    v_mid = table.current_version()
    pipe.replay_chunks(chunks[2:], start_batch=2)
    v_end = table.current_version()

    truth = _truth_diff(_state(table, v_mid), _state(table, v_end))
    assert _got_diff(table, v_mid, v_end) == truth
    assert truth  # the diff is non-trivial (inserts + updates exist)
    assert {t for t, _ in truth.values()} >= {"insert", "update_postimage"}


def test_changes_reads_only_churned_buckets(spark, tmp_path, monkeypatch):
    table = IceTable.create(
        spark, str(tmp_path / "t_prune"), TARGET_SCHEMA, key="doc_id", num_buckets=8
    )
    def payload(ids, seq):
        rows = [(d, [1, 2], 2, "s", None, None, None, seq) for d in ids]
        return spark.createDataFrame(rows, TARGET_SCHEMA).withColumn("op", F.lit("U"))

    table.merge_into(payload([f"d{i}" for i in range(40)], seq=1), batch_id=0)
    v1 = table.current_version()
    # second batch touches ONE key → one churned bucket
    table.merge_into(payload(["d0"], seq=2), batch_id=1)
    v2 = table.current_version()

    paths1 = {e["path"] for e in table.snapshot(v1)["files"]}
    churned = {e["bucket"] for e in table.snapshot(v2)["files"] if e["path"] not in paths1}
    assert len(churned) == 1

    seen = []
    orig = IceTable._read_projected

    def spy(self, files, *a, **kw):
        seen.extend(files)
        return orig(self, files, *a, **kw)

    monkeypatch.setattr(IceTable, "_read_projected", spy)
    got = {r["doc_id"]: r["_change_type"] for r in table.changes(v1, v2).collect()}
    assert got == {"d0": "update_postimage"}
    # every file read covers the one churned bucket: the bucket's old
    # file (FROM side) and its rewrite (TO side), nothing else
    assert len(seen) == 2 and {e["bucket"] for e in seen} == churned


def test_changes_across_schema_evolution(spark, tmp_path):
    table = IceTable.create(
        spark, str(tmp_path / "t_evo"), TARGET_SCHEMA, key="doc_id", num_buckets=4
    )
    def payload(ids, seq, schema):
        rows = [
            tuple([d, [1], 1, "s", None, None, None, seq][: len(schema.fields)])
            for d in ids
        ]
        return spark.createDataFrame(rows, schema).withColumn("op", F.lit("U"))

    table.merge_into(payload(["a", "b"], 1, TARGET_SCHEMA), batch_id=0)
    v1 = table.current_version()
    wide = T.StructType(TARGET_SCHEMA.fields + [T.StructField("extra", T.LongType())])
    table.evolve_schema(wide)
    rows = [("a", [1], 1, "s", None, None, None, 2, 99)]
    upd = spark.createDataFrame(rows, wide).withColumn("op", F.lit("U"))
    table.merge_into(upd, batch_id=1)
    v2 = table.current_version()

    out = {r["doc_id"]: r for r in table.changes(v1, v2).collect()}
    assert set(out) == {"a"}
    assert out["a"]["_change_type"] == "update_postimage"
    assert out["a"]["extra"] == 99  # TO-version schema, old files cast-projected


def test_changes_guards(spark, tmp_path):
    table = IceTable.create(
        spark, str(tmp_path / "t_guard"), TARGET_SCHEMA, key="doc_id", num_buckets=4
    )
    rows = [("a", [1], 1, "s", None, None, None, 1)]
    upd = spark.createDataFrame(rows, TARGET_SCHEMA).withColumn("op", F.lit("U"))
    table.merge_into(upd, batch_id=0)
    v = table.current_version()
    assert table.changes(v, v).count() == 0  # identical snapshots → empty
    with pytest.raises(ValueError):
        table.changes(v, v - 1)


def test_changelog_diff_delete_preimage(spark):
    schema = "k string, v int, seq long"
    old = spark.createDataFrame([("a", 1, 10), ("b", 2, 20)], schema)
    new = spark.createDataFrame([("a", 1, 10)], schema)
    out = changelog_diff(old, new, key="k", seq="seq").collect()
    assert [(r["k"], r["v"], r["_change_type"]) for r in out] == [("b", 2, "delete")]


def test_expire_snapshots_gc(spark, tmp_path):
    import os

    table = IceTable.create(
        spark, str(tmp_path / "t_gc"), TARGET_SCHEMA, key="doc_id", num_buckets=4
    )
    def payload(ids, seq):
        rows = [(d, [1], 1, "s", None, None, None, seq) for d in ids]
        return spark.createDataFrame(rows, TARGET_SCHEMA).withColumn("op", F.lit("U"))

    for b in range(4):
        table.merge_into(payload([f"d{i}" for i in range(10)], seq=b + 1), batch_id=b)
    before = {r["doc_id"]: r["event_seq"] for r in table.read().collect()}
    v_end = table.current_version()

    # plant an orphan (a crashed writer's leak). A FRESH unreferenced file
    # must survive the default grace window — it could equally be an
    # in-flight writer between data write and commit — while files
    # referenced only by expired snapshots are deleted immediately.
    orphan = os.path.join(table.data_dir, "orphan.parquet")
    open(orphan, "w").write("x")

    stats = table.expire_snapshots(keep_last=2)
    assert stats["snapshots"] > 0 and stats["files"] > 0
    assert os.path.exists(orphan)  # inside the grace window
    assert table.expire_snapshots(keep_last=2, orphan_grace_sec=0)["files"] == 1
    assert not os.path.exists(orphan)
    assert table.versions() == [v_end - 1, v_end]
    # current state intact; every retained-referenced file still on disk
    assert {r["doc_id"]: r["event_seq"] for r in table.read().collect()} == before
    assert table.read(v_end - 1).count() == 10
    with pytest.raises(FileNotFoundError):
        table.read(v_end - 2)
    # history skips the expired gap; fencing still sees the last batch id
    assert [h["version"] for h in table.history()] == [v_end - 1, v_end]
    assert table.last_batch_id() == 3


def test_changelog_replication_rebuilds_table(spark, binlog_dir, tmp_path):
    """Downstream replication from the change feed: applying the emitted
    changelog of every consecutive version pair of table A (as MERGE
    batches: postimages upsert, delete preimages delete) onto an empty
    table B reproduces A's final state exactly — the end-to-end proof
    that changes() is a complete, lossless change feed."""
    a = IceTable.create(
        spark, str(tmp_path / "a"), TARGET_SCHEMA, key="doc_id", num_buckets=8
    )
    CdcPipeline(spark, a).replay_chunks(_chunks(binlog_dir))
    versions = a.versions()

    b = IceTable.create(
        spark, str(tmp_path / "b"), TARGET_SCHEMA, key="doc_id", num_buckets=8
    )
    for i, (v1, v2) in enumerate(zip(versions, versions[1:])):
        feed = a.changes(v1, v2)
        upd = feed.select(
            *[f.name for f in TARGET_SCHEMA.fields],
            F.when(F.col("_change_type") == "delete", F.lit("D"))
            .otherwise(F.lit("U"))
            .alias("op"),
        )
        b.merge_into(upd, batch_id=i, source="replication")
    assert _state(b, None) == _state(a, None)


def test_codec_table_property_applies_to_data_files(spark, tmp_path):
    """codec= is a table-spec property honored by every write (parquet
    footer says so); default stays snappy; reads are codec-transparent."""
    import pyarrow.parquet as pq

    import datetime

    ts = datetime.datetime(2024, 1, 1)
    rows = [
        (str(i), [1, 2], 2, "s", "2024-01-01 00:00:00", ts, 0, i)
        for i in range(50)
    ]
    df = spark.createDataFrame(rows, TARGET_SCHEMA)

    def file_codecs(t):
        snap = t.snapshot()
        out = set()
        for e in snap["files"]:
            md = pq.ParquetFile(f"{t.root}/{e['path']}").metadata
            out.add(md.row_group(0).column(0).compression)
        return out

    t_default = IceTable.create(spark, str(tmp_path / "d"), TARGET_SCHEMA, num_buckets=4)
    t_default.append(df)
    assert file_codecs(t_default) == {"SNAPPY"}

    t_zstd = IceTable.create(
        spark, str(tmp_path / "z"), TARGET_SCHEMA, num_buckets=4, codec="zstd"
    )
    t_zstd.append(df)
    assert file_codecs(t_zstd) == {"ZSTD"}
    assert t_zstd.read().count() == 50


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_changes_nets_churn_inside_the_range(spark, tmp_path, mode):
    """A key deleted and re-upserted inside the range is an update (its
    seq moved); a key inserted then deleted inside the range emits
    nothing."""
    table = IceTable.create(
        spark, str(tmp_path / f"t_net_{mode}"), TARGET_SCHEMA, key="doc_id",
        num_buckets=4, write_mode=mode,
    )

    def batch(rows, op):
        data = [(d, [1], 1, "s", None, None, None, q) for d, q in rows]
        return spark.createDataFrame(data, TARGET_SCHEMA).withColumn("op", F.lit(op))

    table.merge_into(batch([("a", 1), ("keep", 1)], "U"), batch_id=0)
    v1 = table.current_version()
    table.merge_into(batch([("a", 2)], "D"), batch_id=1)
    table.merge_into(batch([("a", 3), ("b", 3)], "U"), batch_id=2)
    table.merge_into(batch([("b", 4)], "D"), batch_id=3)
    got = {r["doc_id"]: (r["_change_type"], r["event_seq"]) for r in table.changes(v1).collect()}
    assert got == {"a": ("update_postimage", 3)}


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_changes_across_rebucket_and_migration(spark, binlog_dir, tmp_path, mode):
    """A range spanning a rebucket, the migration of every legacy file
    and later merges (FROM holds only old-generation files, TO only
    new-generation ones) equals the state diff."""
    table = IceTable.create(
        spark, str(tmp_path / f"t_mig_{mode}"), TARGET_SCHEMA, key="doc_id",
        num_buckets=4, write_mode=mode, compact_threshold=50, compact_jitter=0,
    )
    pipe = CdcPipeline(spark, table)
    chunks = _chunks(binlog_dir)
    pipe.replay_chunks(chunks[:2])
    v1 = table.current_version()
    table.rebucket(8)
    assert table.migrate_buckets() is not None
    pipe.replay_chunks(chunks[2:], start_batch=2)
    v2 = table.current_version()

    truth = _truth_diff(_state(table, v1), _state(table, v2))
    assert _got_diff(table, v1, v2) == truth and truth
