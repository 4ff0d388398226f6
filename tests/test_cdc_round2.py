"""Round-2 engine features: per-batch count-based hot-key skew detection,
invalid-record counts in lineage, and commit-conflict retry (disjoint
appends re-commit; overlapping merges recompute; orphan files cleaned)."""

import datetime
import glob
import os

import pytest
from pyspark.sql import functions as F

from embulk_filter_timestamp_format_spark.lake import IceTable
from embulk_filter_timestamp_format_spark.lake.table import CommitConflict
from embulk_filter_timestamp_format_spark.sources.binlog import binlog_events
from embulk_filter_timestamp_format_spark.streaming.cdc import TARGET_SCHEMA, CdcPipeline


def _fresh_table(spark, tmp_path, name="t", num_buckets=4):
    return IceTable.create(
        spark, str(tmp_path / name), TARGET_SCHEMA, key="doc_id", num_buckets=num_buckets
    )


def _table_rows(table):
    return {
        r["doc_id"]: (tuple(r["tokens"]), r["n_tok"], r["event_seq"])
        for r in table.read().collect()
    }


def _payload(spark, ids, seq=1, tok=7):
    ts = datetime.datetime(2023, 11, 14, 22, 13, 20)
    rows = [
        (d, [tok, tok + 1], 2, "src0", "2023-11-14 22:13:20.000 +0000", ts, 1700000000, seq)
        for d in ids
    ]
    return spark.createDataFrame(rows, TARGET_SCHEMA)


# ---------------------------------------------------------------------------
# skew detection
# ---------------------------------------------------------------------------


def test_skew_detection_engages_and_matches_unsalted(spark, tmp_path):
    # pathological batch: ~90% of 4000 events hit ONE doc_id
    ev = binlog_events(spark, 4000, 500, hot_pct=90, num_hot=1)
    t_skew = _fresh_table(spark, tmp_path, "skew")
    pipe = CdcPipeline(spark, t_skew, skew_detect=True, skew_threshold=0.05)
    pipe.apply_batch(ev, 0)
    assert pipe.metrics[0]["salt_buckets"] > 0  # detection engaged

    t_plain = _fresh_table(spark, tmp_path, "plain")
    pipe2 = CdcPipeline(spark, t_plain, skew_detect=False)
    pipe2.apply_batch(ev, 0)
    assert pipe2.metrics[0]["salt_buckets"] == 0
    assert _table_rows(t_skew) == _table_rows(t_plain)  # identical result


def test_skew_detection_stays_off_for_uniform_keys(spark, tmp_path):
    ev = binlog_events(spark, 4000, 2000, hot_pct=0)
    t = _fresh_table(spark, tmp_path, "uniform")
    pipe = CdcPipeline(spark, t, skew_detect=True, skew_threshold=0.05)
    pipe.apply_batch(ev, 0)
    assert pipe.metrics[0]["salt_buckets"] == 0


# ---------------------------------------------------------------------------
# invalid-record lineage counts
# ---------------------------------------------------------------------------


def test_invalid_count_recorded_in_lineage(spark, tmp_path):
    good = binlog_events(spark, 60, 20)
    bad = good.withColumn(
        "event_time_str",
        F.when(F.col("offset") % 20 == 7, F.lit("NOT A TIME")).otherwise(
            F.col("event_time_str")
        ),
    )
    t = _fresh_table(spark, tmp_path, "inv")
    pipe = CdcPipeline(spark, t, stop_on_invalid_record=False)
    pipe.apply_batch(bad, 0)
    assert pipe.metrics[0]["invalid"] == 3  # offsets 7, 27, 47
    pipe.apply_batch(good, 1)
    assert pipe.metrics[1]["invalid"] == 0


def test_committed_snapshot_records_batch_lineage(spark, tmp_path):
    ev = binlog_events(spark, 60, 20)
    t = _fresh_table(spark, tmp_path, "lin")
    pipe = CdcPipeline(spark, t)
    version = pipe.apply_batch(ev, 0)
    stats = ev.agg(
        F.count(F.lit(1)).alias("events"),
        F.min("offset").alias("min_offset"),
        F.max("offset").alias("max_offset"),
        F.sum(F.when(F.col("op") == "D", 1).otherwise(0)).alias("deletes"),
    ).collect()[0].asDict()
    (lineage,) = IceTable.load(spark, t.root).snapshot(version)["summary"]["lineage"]
    assert lineage["batch_id"] == 0 and lineage["source"] == "binlog"
    for k, v in stats.items():
        assert lineage[k] == v, k
    assert lineage["invalid"] == 0
    assert lineage["salt_buckets"] == pipe.metrics[0]["salt_buckets"]
    assert lineage["formats_planned"] == 1  # every event parses with format 1
    assert lineage["stats_sec"] >= 0


# ---------------------------------------------------------------------------
# commit-conflict retry
# ---------------------------------------------------------------------------


def _install_racer(monkeypatch, victim, racer_fn):
    """First _write_snapshot on `victim` lets a concurrent writer commit
    first — the victim's commit then hits CommitConflict and must retry."""
    orig = IceTable._write_snapshot
    state = {"fired": False}

    def racy(self, snap):
        if self is victim and not state["fired"]:
            state["fired"] = True
            racer_fn()
        return orig(self, snap)

    monkeypatch.setattr(IceTable, "_write_snapshot", racy)
    return state


def test_append_retries_after_lost_race(spark, tmp_path, monkeypatch):
    t1 = _fresh_table(spark, tmp_path, "race_append")
    t2 = IceTable.load(spark, str(tmp_path / "race_append"))
    state = _install_racer(
        monkeypatch, t1, lambda: IceTable.append(t2, _payload(spark, ["doc_b"]))
    )
    v = t1.append(_payload(spark, ["doc_a"]))
    assert state["fired"]
    assert v == 3  # create=1, racer=2, retried append=3
    assert {r["doc_id"] for r in t1.read().collect()} == {"doc_a", "doc_b"}


def test_merge_recomputes_after_overlapping_race(spark, tmp_path, monkeypatch):
    t1 = _fresh_table(spark, tmp_path, "race_merge")
    t2 = IceTable.load(spark, str(tmp_path / "race_merge"))
    t1.append(_payload(spark, ["doc_x"], seq=1, tok=1))
    v0 = t1.current_version()

    def racer():
        upd = _payload(spark, ["doc_x"], seq=2, tok=50).withColumn("op", F.lit("U"))
        IceTable.merge_into(t2, upd)

    state = _install_racer(monkeypatch, t1, racer)
    mine = _payload(spark, ["doc_x"], seq=3, tok=99).withColumn("op", F.lit("U"))
    v = t1.merge_into(mine)
    assert state["fired"]
    assert v == v0 + 2  # racer committed v0+1, recomputed merge v0+2
    rows = _table_rows(t1)
    assert rows["doc_x"] == ((99, 100), 2, 3)  # last writer's payload wins

    # no orphan data files: everything on disk is registered in SOME
    # snapshot (older versions keep their files for time travel; only the
    # loser's stale attempt must have been deleted)
    registered = set()
    for ver in range(1, t1.current_version() + 1):
        for f in t1.snapshot(ver)["files"]:
            registered.add(os.path.join(str(tmp_path / "race_merge"), f["path"]))
    on_disk = set(glob.glob(str(tmp_path / "race_merge" / "data" / "**" / "*.parquet"), recursive=True))
    assert on_disk == registered


def test_merge_exhausts_retries_raises(spark, tmp_path, monkeypatch):
    t1 = _fresh_table(spark, tmp_path, "race_exhaust")
    t2 = IceTable.load(spark, str(tmp_path / "race_exhaust"))
    t1.append(_payload(spark, ["doc_x"], seq=1))

    orig = IceTable._write_snapshot
    seqs = iter(range(100, 200))

    def always_lose(self, snap):
        if self is t1:
            upd = _payload(spark, ["doc_x"], seq=next(seqs)).withColumn("op", F.lit("U"))
            IceTable.merge_into(t2, upd)
        return orig(self, snap)

    monkeypatch.setattr(IceTable, "_write_snapshot", always_lose)
    mine = _payload(spark, ["doc_x"], seq=999).withColumn("op", F.lit("U"))
    with pytest.raises(CommitConflict):
        t1.merge_into(mine)


# ---------------------------------------------------------------------------
# multi-source fencing
# ---------------------------------------------------------------------------


def test_batch_fencing_is_per_source(spark, tmp_path):
    """Two upstream sources merge into one table; each source's batch-id
    fence is independent (snapshot summary keys batch_ids by source)."""
    import pyspark.sql.functions as F

    table = _fresh_table(spark, tmp_path)
    upd_a = _payload(spark, ["a1", "a2"], seq=1).withColumn("op", F.lit("U"))
    upd_b = _payload(spark, ["b1"], seq=1).withColumn("op", F.lit("U"))
    table.merge_into(upd_a, batch_id=0, source="binlog_a")
    # source b's batch 0 must NOT be fenced by source a's batch 0
    table.merge_into(upd_b, batch_id=0, source="binlog_b")
    assert set(_table_rows(table)) == {"a1", "a2", "b1"}
    # re-delivery of a's batch 0 IS fenced (no state change, no version bump)
    v = table.current_version()
    dup = _payload(spark, ["a1"], seq=99).withColumn("op", F.lit("U"))
    table.merge_into(dup, batch_id=0, source="binlog_a")
    assert table.current_version() == v
    assert _table_rows(table)["a1"][2] == 1
    assert table.last_batch_id("binlog_a") == 0
    assert table.last_batch_id("binlog_b") == 0


# ---------------------------------------------------------------------------
# per-partition lineage metrics table
# ---------------------------------------------------------------------------


def test_per_partition_lineage_metrics_table(spark, tmp_path):
    """CdcPipeline records per-(batch, source-partition) lineage rows to a
    queryable parquet metrics table; partition sums reconcile with the
    batch-level lineage and the raw batch."""
    import pyspark.sql.functions as F
    from embulk_filter_timestamp_format_spark.sources.binlog import generate_binlog

    binlog = str(tmp_path / "binlog")
    chunks = generate_binlog(spark, binlog, 1200, 200, num_chunks=2)
    table = _fresh_table(spark, tmp_path)
    mpath = str(tmp_path / "metrics_table")
    pipe = CdcPipeline(spark, table, metrics_table_path=mpath, num_source_partitions=4)
    pipe.replay_chunks(chunks)

    m = spark.read.parquet(mpath)
    rows = m.collect()
    assert {r["batch_id"] for r in rows} == {0, 1}
    assert all(0 <= r["partition"] < 4 for r in rows)
    assert all(r["source"] == "binlog" for r in rows)
    # per-partition events/deletes reconcile with the batch lineage
    for b, lin in enumerate(pipe.metrics):
        batch_rows = [r for r in rows if r["batch_id"] == b]
        assert sum(r["events"] for r in batch_rows) == lin["events"]
        assert sum(r["deletes"] for r in batch_rows) == lin["deletes"]
        assert min(r["min_offset"] for r in batch_rows) == lin["min_offset"]
        assert max(r["max_offset"] for r in batch_rows) == lin["max_offset"]
        assert all(r["snapshot_version"] == lin["snapshot_version"] for r in batch_rows)
    # partition assignment matches the documented rule (xxhash64 mod P)
    raw = spark.read.parquet(chunks[0])
    truth = {
        (r["p"], ): r["n"]
        for r in raw.groupBy(
            F.pmod(F.xxhash64("doc_id"), F.lit(4)).alias("p")
        ).count().withColumnRenamed("count", "n").collect()
    }
    got = {(r["partition"],): r["events"] for r in rows if r["batch_id"] == 0}
    assert got == truth
