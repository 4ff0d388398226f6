"""The one commit protocol of IceTable writes (``IceTable._commit``).

Pins:

* crash injection: a writer that dies between its data-file write and
  the snapshot commit leaves the table unchanged; the orphan GC removes
  exactly the crashed attempt's files; redelivering the batch id then
  commits once and matches a control table (append, COW and MOR merge);
* the ``None`` guard of ``rebucket`` and ``evolve_schema``: a lost race
  re-plans onto the winner instead of raising;
* metadata reads: one snapshot-log read per copy-on-write merge pass,
  at most two per CDC batch.
"""

import datetime
import glob
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from embulk_filter_timestamp_format_spark.lake import IceTable
from embulk_filter_timestamp_format_spark.sources.binlog import binlog_events
from embulk_filter_timestamp_format_spark.streaming.cdc import TARGET_SCHEMA, CdcPipeline

IDS = [f"doc_{i:03d}" for i in range(40)]


def _table(spark, tmp_path, name, mode="cow", **kw):
    return IceTable.create(
        spark, str(tmp_path / name), TARGET_SCHEMA, key="doc_id",
        num_buckets=4, write_mode=mode, **kw,
    )


def _payload(spark, ids, seq):
    ts = datetime.datetime(2023, 11, 14, 22, 13, 20)
    rows = [
        (d, [seq, i], 2, "s", "2023-11-14 22:13:20.000000 +0000", ts, 1700000000, seq)
        for i, d in enumerate(ids)
    ]
    return spark.createDataFrame(rows, TARGET_SCHEMA).withColumn("op", F.lit("U"))


def _rows(table):
    return sorted(
        tuple(tuple(v) if isinstance(v, list) else v for v in r)
        for r in table.read().collect()
    )


def _data_files(table):
    return set(glob.glob(os.path.join(table.root, "data", "**", "*.parquet"), recursive=True))


def _apply(op, table, df, batch_id):
    if op == "append":
        return table.append(df.drop("op"), batch_id=batch_id)
    return table.merge_into(df, batch_id=batch_id)


def _race_once(monkeypatch, victim, racer):
    """The victim's first commit attempt lets `racer` commit first."""
    orig = IceTable._write_snapshot
    fired = []

    def racy(self, snap):
        if self is victim and not fired:
            fired.append(snap["version"])
            racer()
        return orig(self, snap)

    monkeypatch.setattr(IceTable, "_write_snapshot", racy)
    return fired


# ------------------------------------------------------------ crash injection


@pytest.mark.parametrize("op", ["append", "cow", "mor"])
def test_crash_between_data_write_and_commit(spark, tmp_path, monkeypatch, op):
    mode = "mor" if op == "mor" else "cow"
    # MOR at threshold 1 also compacts inside the crashed attempt, so its
    # written files are fresh deltas AND folded base files
    kw = {"compact_threshold": 1, "compact_jitter": 0} if mode == "mor" else {}
    table, control = (_table(spark, tmp_path, n, mode, **kw) for n in ("t", "control"))
    first, batch = _payload(spark, IDS[:20], 1), _payload(spark, IDS[10:30], 2)
    for t in (table, control):
        _apply(op, t, first, 0)
    _apply(op, control, batch, 1)
    v0, rows0, files0 = table.current_version(), _rows(table), _data_files(table)

    def crash(self, snap):
        raise OSError("writer died before its commit")

    monkeypatch.setattr(IceTable, "_write_snapshot", crash)
    with pytest.raises(OSError, match="writer died"):
        _apply(op, table, batch, 1)
    monkeypatch.undo()

    assert table.current_version() == v0
    assert _rows(table) == rows0
    crashed = _data_files(table) - files0
    assert crashed and _data_files(table) >= files0
    gc = table.expire_snapshots(keep_last=len(table.versions()), orphan_grace_sec=0)
    assert (gc["snapshots"], gc["files"]) == (0, len(crashed))
    assert _data_files(table) == files0

    assert _apply(op, table, batch, 1) == v0 + 1
    assert _apply(op, table, batch, 1) == v0 + 1  # fenced redelivery
    assert table.current_version() == v0 + 1
    assert _rows(table) == _rows(control)


# ------------------------------------------------- re-plan on a lost race


def test_rebucket_replans_onto_concurrent_merge(spark, tmp_path, monkeypatch):
    table, control = (_table(spark, tmp_path, n) for n in ("t", "control"))
    other = IceTable.load(spark, table.root)
    for t in (table, control):
        t.merge_into(_payload(spark, IDS[:30], 1), batch_id=0)
    v0 = table.current_version()
    racing = _payload(spark, IDS[20:], 2)
    control.merge_into(racing, batch_id=0, source="other")
    control.rebucket(8)

    fired = _race_once(
        monkeypatch, table,
        lambda: other.merge_into(racing, batch_id=0, source="other"),
    )
    assert table.rebucket(8) == v0 + 2
    assert fired == [v0 + 1]
    snap = table.snapshot()
    assert snap["spec"]["num_buckets"] == 8
    assert snap["summary"]["operation"] == "rebucket"
    assert snap["summary"]["batch_ids"] == {"default": 0, "other": 0}
    assert all(f["nbuckets"] == 4 for f in snap["files"])
    assert _rows(table) == _rows(control)
    # merges under the new bucket count agree with the control's
    for t in (table, control):
        t.merge_into(_payload(spark, IDS[::3], 3), batch_id=1)
    assert _rows(table) == _rows(control)


def test_evolve_schema_replans_onto_concurrent_merge(spark, tmp_path, monkeypatch):
    table = _table(spark, tmp_path, "t")
    other = IceTable.load(spark, table.root)
    table.merge_into(_payload(spark, IDS[:30], 1), batch_id=0)
    v0 = table.current_version()
    wider = T.StructType(TARGET_SCHEMA.fields + [T.StructField("lang", T.StringType())])

    fired = _race_once(
        monkeypatch, table,
        lambda: other.merge_into(_payload(spark, IDS[20:], 2), batch_id=0, source="other"),
    )
    assert table.evolve_schema(wider) == v0 + 2
    assert fired == [v0 + 1]
    snap = table.snapshot()
    assert snap["summary"]["operation"] == "evolve"
    assert snap["schema_version"] == 2
    assert snap["summary"]["batch_ids"] == {"default": 0, "other": 0}
    assert table.schema() == wider
    got = {r["doc_id"]: (r["event_seq"], r["lang"]) for r in table.read().collect()}
    assert got == {d: (2 if d in IDS[20:] else 1, None) for d in IDS}


# ------------------------------------------------------------ metadata reads


class _LogReads:
    """Counts outermost snapshot-log reads (``snapshot()`` calls
    ``current_version()`` itself; that nested read is not counted)."""

    def __init__(self, monkeypatch):
        self.count = 0
        self._depth = 0
        for name in ("snapshot", "current_version"):
            monkeypatch.setattr(IceTable, name, self._spy(getattr(IceTable, name)))

    def _spy(self, fn):
        def spy(table, *args, **kwargs):
            self.count += self._depth == 0
            self._depth += 1
            try:
                return fn(table, *args, **kwargs)
            finally:
                self._depth -= 1

        return spy


def test_cow_merge_and_cdc_batch_read_the_log_once(spark, tmp_path, monkeypatch):
    table = _table(spark, tmp_path, "t")
    pipe = CdcPipeline(spark, table)
    pipe.apply_batch(binlog_events(spark, 400, 60, seed=1), 0)

    reads = _LogReads(monkeypatch)
    assert pipe.apply_batch(binlog_events(spark, 400, 60, seed=2), 1) is not None
    assert reads.count <= 2

    reads.count = 0
    assert table.merge_into(_payload(spark, IDS[:10], 10**6), batch_id=2) is not None
    assert reads.count == 1
