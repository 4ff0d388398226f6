"""Bucket-count evolution (IceTable.rebucket / migrate_buckets): a
metadata-only commit changes spec.num_buckets without rewriting data
files; bucket-scoped operations widen exact bucket equality to the
CRT residue test (old_bucket ≡ new_bucket mod gcd) — see the module
notes above _entry_covers in lake/table.py. These tests pin:

* state invariance of the rebucket commit itself (read + changes)
* correctness of merges/compaction/changelog ACROSS the boundary,
  with mixed-generation file layouts (the transitional state)
* lazy migration (COW churn rewrites under the new bucketing) and
  explicit migration (migrate_buckets), both state-invariant
* scan()'s bucket-granularity skipping staying exactly
  read().filter(...) when legacy multi-bucket files are present
"""

import glob

import pytest
from pyspark.sql import functions as F

from embulk_filter_timestamp_format_spark.lake import IceTable
from embulk_filter_timestamp_format_spark.lake.table import (
    _entry_buckets,
    _entry_covers,
    _entry_gen,
)
from embulk_filter_timestamp_format_spark.sources.binlog import generate_binlog
from embulk_filter_timestamp_format_spark.streaming.cdc import TARGET_SCHEMA, CdcPipeline

N_EVENTS = 2000
N_DOCS = 300


@pytest.fixture(scope="module")
def binlog_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("binlog_rb"))
    generate_binlog(spark, d, N_EVENTS, N_DOCS, num_chunks=4)
    return d


def _chunks(binlog_dir):
    return sorted(glob.glob(binlog_dir + "/chunk_*"))


def _state(table, version=None):
    return {
        r["doc_id"]: (tuple(r["tokens"] or ()), r["n_tok"], r["event_seq"])
        for r in table.read(version).collect()
    }


def _payload(spark, ids, seq):
    rows = [(d, [1, 2], 2, "s", None, None, None, seq) for d in ids]
    return spark.createDataFrame(rows, TARGET_SCHEMA).withColumn("op", F.lit("U"))


# ---------------------------------------------------------------- unit


def test_coverage_arithmetic():
    e4 = {"bucket": 3, "nbuckets": 4}
    # grow 4→8: bucket 3 covers {3, 7}
    assert _entry_buckets(e4, 8, 8) == {3, 7}
    assert _entry_covers(e4, 7, 8, 8) and not _entry_covers(e4, 6, 8, 8)
    # same generation: exact membership
    e8 = {"bucket": 5, "nbuckets": 8}
    assert _entry_buckets(e8, 8, 8) == {5}
    # non-multiple 4→6: gcd 2 → bucket 3 covers odd buckets
    assert _entry_buckets(e4, 6, 6) == {1, 3, 5}
    # absent nbuckets falls back to the snapshot default
    assert _entry_gen({"bucket": 0}, 4) == 4
    assert _entry_buckets({"bucket": 1}, 8, 4) == {1, 5}


# ------------------------------------------------------- state invariance


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_rebucket_commit_is_state_invariant(spark, binlog_dir, tmp_path, mode):
    table = IceTable.create(
        spark, str(tmp_path / f"t_{mode}"), TARGET_SCHEMA, key="doc_id",
        num_buckets=4, write_mode=mode,
    )
    pipe = CdcPipeline(spark, table)
    pipe.replay_chunks(_chunks(binlog_dir)[:2])
    v1 = table.current_version()
    before = _state(table)

    v2 = table.rebucket(8)
    assert v2 == v1 + 1
    assert table.snapshot()["spec"]["num_buckets"] == 8
    assert _state(table) == before
    # the commit moved no data → changelog across it is empty
    assert table.changes(v1, v2).count() == 0
    # time travel below the boundary still reads the old spec
    assert _state(table, v1) == before
    # no-op rebucket returns the current version without a commit
    assert table.rebucket(8) == v2

    with pytest.raises(ValueError):
        table.rebucket(0)
    with pytest.raises(ValueError):
        table.rebucket(-3)


# ---------------------------------------------- merges across the boundary


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_merges_across_rebucket_match_control(spark, binlog_dir, tmp_path, mode):
    """Start at 4 buckets, grow to 8 mid-replay; final state must equal a
    control table that ran the whole replay at a fixed bucket count."""
    chunks = _chunks(binlog_dir)
    control = IceTable.create(
        spark, str(tmp_path / f"c_{mode}"), TARGET_SCHEMA, key="doc_id",
        num_buckets=8, write_mode=mode,
    )
    CdcPipeline(spark, control).replay_chunks(chunks)

    table = IceTable.create(
        spark, str(tmp_path / f"g_{mode}"), TARGET_SCHEMA, key="doc_id",
        num_buckets=4, write_mode=mode,
    )
    pipe = CdcPipeline(spark, table)
    pipe.replay_chunks(chunks[:2])
    v_pre = table.current_version()
    pre_state = _state(table)
    table.rebucket(8)
    pipe.replay_chunks(chunks[2:], start_batch=2)

    assert _state(table) == _state(control)
    # changelog spanning the rebucket boundary equals the state diff
    got = {
        r["doc_id"]: r["_change_type"]
        for r in table.changes(v_pre).collect()
    }
    post = _state(table)
    truth = {}
    for k, v in post.items():
        if k not in pre_state:
            truth[k] = "insert"
        elif pre_state[k][-1] != v[-1]:
            truth[k] = "update_postimage"
    for k in pre_state:
        if k not in post:
            truth[k] = "delete"
    assert got == truth and truth


def test_cow_merge_rewrites_whole_legacy_files(spark, tmp_path):
    """A COW merge touching one NEW bucket must rewrite the whole legacy
    file covering it (closure) — the legacy file's rows for the sibling
    bucket survive into current-generation files."""
    table = IceTable.create(
        spark, str(tmp_path / "t"), TARGET_SCHEMA, key="doc_id", num_buckets=2,
    )
    ids = [f"d{i}" for i in range(40)]
    table.merge_into(_payload(spark, ids, seq=1), batch_id=0)
    table.rebucket(4)
    table.merge_into(_payload(spark, [ids[0]], seq=2), batch_id=1)

    st = _state(table)
    assert set(st) == set(ids)
    assert st[ids[0]][-1] == 2
    # every file covering the touched bucket was migrated to gen 4
    touched_gens = {
        _entry_gen(f, 4)
        for f in table.snapshot()["files"]
        if _entry_covers(f, 0, 4, 4) or _entry_covers(f, 2, 4, 4)
    }
    # the touched legacy file (bucket b under 2) covered {b, b+2} under 4;
    # both of those buckets' files must now be current-generation
    assert any(_entry_gen(f, 4) == 4 for f in table.snapshot()["files"])
    assert 2 not in touched_gens or all(
        _entry_gen(f, 4) == 4
        for f in table.snapshot()["files"]
        if _entry_covers(f, 0, 4, 4)
    )


def test_non_multiple_rebucket_still_correct(spark, tmp_path):
    table = IceTable.create(
        spark, str(tmp_path / "t"), TARGET_SCHEMA, key="doc_id", num_buckets=4,
    )
    ids = [f"d{i}" for i in range(30)]
    table.merge_into(_payload(spark, ids, seq=1), batch_id=0)
    before = _state(table)
    table.rebucket(6)  # gcd(4,6)=2 — legal, degraded pruning
    assert _state(table) == before
    table.merge_into(_payload(spark, ids[:5], seq=2), batch_id=1)
    st = _state(table)
    assert set(st) == set(ids)
    assert all(st[d][-1] == 2 for d in ids[:5])
    assert all(st[d][-1] == 1 for d in ids[5:])


# ------------------------------------------------------------- migration


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_migrate_buckets_state_invariant(spark, binlog_dir, tmp_path, mode):
    table = IceTable.create(
        spark, str(tmp_path / f"t_{mode}"), TARGET_SCHEMA, key="doc_id",
        num_buckets=4, write_mode=mode,
        # keep MOR delta chains alive so migration sees legacy deltas
        compact_threshold=50, compact_jitter=0,
    )
    pipe = CdcPipeline(spark, table)
    pipe.replay_chunks(_chunks(binlog_dir)[:3])
    table.rebucket(8)
    before = _state(table)
    v_pre = table.current_version()

    v = table.migrate_buckets()
    assert v == v_pre + 1
    snap = table.snapshot()
    assert all(_entry_gen(f, 8) == 8 for f in snap["files"])
    assert {f["bucket"] for f in snap["files"]} <= set(range(8))
    assert _state(table) == before
    assert table.changes(v_pre, v).count() == 0
    # second pass: nothing left to migrate
    assert table.migrate_buckets() is None
    # delta files stayed deltas (MOR) / bases stayed bases (COW)
    if mode == "mor":
        assert any(f.get("delta") for f in snap["files"])
    else:
        assert not any(f.get("delta") for f in snap["files"])


def test_migrate_buckets_bounded_pass(spark, tmp_path):
    table = IceTable.create(
        spark, str(tmp_path / "t"), TARGET_SCHEMA, key="doc_id", num_buckets=4,
    )
    table.merge_into(_payload(spark, [f"d{i}" for i in range(50)], 1), batch_id=0)
    before = _state(table)
    table.rebucket(8)
    n_legacy = sum(1 for f in table.snapshot()["files"] if _entry_gen(f, 8) != 8)
    assert n_legacy > 1
    table.migrate_buckets(max_files=1)
    still = sum(1 for f in table.snapshot()["files"] if _entry_gen(f, 8) != 8)
    assert still == n_legacy - 1
    assert _state(table) == before


# ---------------------------------------------------- scan + compaction


def test_scan_equivalence_with_mixed_generations(spark, binlog_dir, tmp_path):
    table = IceTable.create(
        spark, str(tmp_path / "t"), TARGET_SCHEMA, key="doc_id",
        num_buckets=4, write_mode="mor", compact_threshold=50, compact_jitter=0,
    )
    pipe = CdcPipeline(spark, table)
    chunks = _chunks(binlog_dir)
    pipe.replay_chunks(chunks[:2])
    table.rebucket(8)
    pipe.replay_chunks(chunks[2:3], start_batch=2)
    assert any(
        _entry_gen(f, 8) != 8 for f in table.snapshot()["files"]
    ), "fixture must exercise the mixed-generation read path"

    pred = [("event_seq", ">=", N_EVENTS // 2)]

    def rows(df):
        return {
            (r["doc_id"], tuple(r["tokens"] or ()), r["n_tok"], r["event_seq"])
            for r in df.collect()
        }

    got = rows(table.scan(pred))
    want = rows(table.read().filter(F.col("event_seq") >= N_EVENTS // 2))
    assert got == want and want


def test_compaction_folds_legacy_deltas(spark, binlog_dir, tmp_path):
    table = IceTable.create(
        spark, str(tmp_path / "t"), TARGET_SCHEMA, key="doc_id",
        num_buckets=4, write_mode="mor", compact_threshold=50, compact_jitter=0,
    )
    pipe = CdcPipeline(spark, table)
    chunks = _chunks(binlog_dir)
    pipe.replay_chunks(chunks[:2])
    table.rebucket(8)
    pipe.replay_chunks(chunks[2:], start_batch=2)
    before = _state(table)
    v_pre = table.current_version()

    v = table.compact()
    assert v is not None
    snap = table.snapshot()
    assert not any(f.get("delta") for f in snap["files"])
    # compaction migrates every legacy file it touched to the current gen
    assert all(_entry_gen(f, 8) == 8 for f in snap["files"])
    assert _state(table) == before
    assert table.changes(v_pre, v).count() == 0


# ------------------------------------------- stale probe rows (rebucket race)


@pytest.mark.parametrize("race", ["before_merge", "during_write"])
def test_stale_probe_rows_across_rebucket_match_control(
    spark, binlog_dir, tmp_path, race
):
    """The pipeline harvests the batch's probe rows (touched buckets and
    key envelopes) under 8 buckets. A concurrent rebucket(16) plus one
    merge at 16 buckets then commits — before the batch's merge reads its
    snapshot (first pass) or while it writes (commit conflict, retry).
    The merge at 16 leaves current-generation files behind: legacy files
    span both of their new buckets and would hide a stale probe. Bucket
    ids from 8 must not steer a merge into the 16-bucket snapshot, so the
    final state equals a control whose last merge probes for itself."""
    chunks = _chunks(binlog_dir)
    table, control = (
        IceTable.create(
            spark, str(tmp_path / name), TARGET_SCHEMA, key="doc_id",
            num_buckets=8,
        )
        for name in ("race", "control")
    )
    for t in (table, control):
        CdcPipeline(spark, t).replay_chunks(chunks[:2])
    ids = [r["doc_id"] for r in table.read().select("doc_id").collect()]

    def concurrent_writer(t, merge):
        t.rebucket(16)
        merge(_payload(spark, ids, 10**9), source="other")

    calls = []
    merge_into = table.merge_into

    def recording_merge(*args, **kwargs):
        calls.append((args, kwargs))
        if race == "before_merge":
            concurrent_writer(table, merge_into)
        return merge_into(*args, **kwargs)

    table.merge_into = recording_merge
    if race == "during_write":
        write_files = table._write_data_files

        def racing_write(*args, **kwargs):
            table._write_data_files = write_files
            concurrent_writer(table, merge_into)
            return write_files(*args, **kwargs)

        table._write_data_files = racing_write
    CdcPipeline(spark, table).replay_chunks(chunks[2:3], start_batch=2)
    table.merge_into = merge_into

    (args, kwargs), = calls
    assert kwargs["probe_rows"] is not None
    concurrent_writer(control, control.merge_into)
    control.merge_into(
        *args, **{k: v for k, v in kwargs.items() if k != "probe_rows"}
    )
    assert table.snapshot()["spec"]["num_buckets"] == 16
    assert table.read().count() == control.read().count()
    assert _state(table) == _state(control)
