"""IceTable: parquet data files + JSON snapshot log with atomic commits.

Layout::

    root/
      data/<uuid>.parquet          immutable data files (one per bucket write)
      metadata/v<N>.json           snapshot N (exclusive-create = atomic CAS)

Snapshot JSON::

    {"version": N, "parent": N-1,
     "schema": <spark schema json>, "schema_version": K,
     "spec": {"key": "doc_id", "num_buckets": B},
     "files": [{"path": "data/..", "bucket": 7, "rows": 123,
                "schema_version": K, "nbuckets": B_at_write_time}],
     "summary": {"batch_ids": {"<source>": <last applied batch id>},
                 "lineage": [...], "operation": "merge|append|evolve"}}

Guarantees (the Iceberg subset the north rule uses):

* **snapshot isolation / time travel** — readers pin a version; files are
  immutable; `read(version=...)`.
* **atomic commit** — `open(path, 'x')` exclusive create of v<N>.json is
  the commit point, and every write goes through one protocol
  (``IceTable._commit``). A loser of a race re-reads the log and re-checks
  its batch-id fence, then rebases the same data files onto the winner
  when its plan's *guard* allows, else deletes them and re-plans. The
  guard names the buckets whose file set (and the bucket count) must be
  unchanged: ``append`` ∅ (always rebase); copy-on-write ``merge_into``
  its touched buckets; merge-on-read ``merge_into``, ``compact``,
  ``migrate_buckets``, ``rebucket`` and ``evolve_schema`` None (always
  re-plan); ``publish_branch`` re-plans into its fast-forward check, so
  it raises once main has advanced.
* **idempotent batch-id fencing** — `merge_into(..., batch_id=)` is a
  no-op when the batch id was already applied for that source (duplicate
  micro-batch delivery / restart replay → exactly-once table state).
* **schema evolution** — retype-in-place commits bump schema_version;
  old files are read with their original schema and cast-projected to
  the latest (the reference's buildOuputSchema rule applied lake-side).
* **bucket evolution** — ``rebucket(M)`` changes the bucket count in a
  metadata-only commit (Iceberg partition-spec evolution for the bucket
  transform); old files keep their generation's bucketing and every
  bucket-scoped op widens to the gcd residue test; churn migrates files
  lazily, ``migrate_buckets()`` finishes the job explicitly.
* **copy-on-write MERGE by bucket** — only buckets containing updated
  keys are rewritten; cost ∝ touched data, never table size. Bucket
  count is the merge-parallelism knob at cluster scale.
* **merge-on-read MERGE** (``write_mode='mor'``) — each merge appends
  per-bucket DELTA files (payload + ``__op``, deletes as tombstones);
  write cost ∝ batch changes, independent of table size. Readers merge
  base+deltas with the same hash-agg-max dedup the CDC path uses (the
  ``seq`` column from the spec orders versions). Buckets whose delta
  chain exceeds ``compact_threshold`` are compacted back to base files
  inside the same commit (adaptive per-bucket copy-on-write), bounding
  read amplification. The right mode for high-churn CDC: COW rewrites
  every touched bucket per batch — at uniform key distributions that is
  the whole table every batch.
"""

from __future__ import annotations

import json
import math
import os
import re
import shutil
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


_STATS_STR_TRUNC = 64  # Iceberg-style string bound truncation length


def _stats_bound(value, lower: bool):
    """JSON-safe (tagged_value, type) for one min/max bound, or (None, None)
    when the value cannot be represented as a valid bound.

    Strings are truncated to ``_STATS_STR_TRUNC`` chars: a truncated MIN is
    still a valid lower bound as-is; a truncated MAX must be rounded UP
    (last code point incremented, trailing U+10FFFF dropped) or discarded —
    the Iceberg truncate(upper) rule."""
    import datetime as _dt

    if isinstance(value, bool) or value is None:
        return None, None
    if isinstance(value, int):
        return value, "plain"
    if isinstance(value, float):
        # NaN is unordered — a NaN bound would poison every comparison
        return (None, None) if value != value else (value, "plain")
    if isinstance(value, bytes):
        try:
            value = value.decode("utf-8")
        except UnicodeDecodeError:
            return None, None
    if isinstance(value, str):
        if len(value) <= _STATS_STR_TRUNC:
            return value, "plain"
        if lower:
            return value[:_STATS_STR_TRUNC], "plain"
        trunc = value[:_STATS_STR_TRUNC]
        while trunc and ord(trunc[-1]) >= 0x10FFFF:
            trunc = trunc[:-1]
        if not trunc:
            return None, None
        return trunc[:-1] + chr(ord(trunc[-1]) + 1), "plain"
    if isinstance(value, _dt.datetime):
        if value.tzinfo is not None:
            value = value.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        epoch = _dt.datetime(1970, 1, 1)
        return round((value - epoch).total_seconds() * 1_000_000), "ts"
    if isinstance(value, _dt.date):
        return value.isoformat(), "date"  # ISO order == lexicographic order
    return None, None


def _footer_column_stats(abs_path: str, cols: "list[str] | None"):
    """(num_rows, {col: {"min","max","nulls","type"}}) from the parquet
    FOOTER only — no data pages are read, so registering stats costs one
    local metadata read per file (the same place Iceberg writers get
    their manifest bounds; on an object store this is the tail read the
    committer already holds in memory).

    Top-level atomic columns only (nested paths like ``embedding.list.
    element`` carry no useful file bound). A column whose min or max is
    unrepresentable (NaN, non-UTF8, exotic logical type) records only
    null counts — readers treat missing bounds as "may match"."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(abs_path).metadata
    acc: dict[str, dict] = {}
    for rg in range(md.num_row_groups):
        row_group = md.row_group(rg)
        for ci in range(row_group.num_columns):
            col = row_group.column(ci)
            name = col.path_in_schema
            if "." in name or name == "__bucket":
                continue
            if cols is not None and name not in cols:
                continue
            st = col.statistics
            cur = acc.setdefault(
                name, {"min": None, "max": None, "nulls": 0, "type": None, "ok": True}
            )
            if st is not None and st.has_null_count and st.null_count is not None:
                cur["nulls"] += st.null_count
            if st is None or not st.has_min_max:
                # no bounds for this row group (all-null chunk, or a writer
                # that dropped stats) — poisons the FILE's bounds, but the
                # null tally above still enables the all-null prune
                cur["ok"] = False
                continue
            lo, lo_t = _stats_bound(st.min, lower=True)
            hi, hi_t = _stats_bound(st.max, lower=False)
            if lo is None or hi is None:
                cur["ok"] = False
                continue
            cur["type"] = lo_t or hi_t
            cur["min"] = lo if cur["min"] is None else min(cur["min"], lo)
            cur["max"] = hi if cur["max"] is None else max(cur["max"], hi)
    out = {}
    for name, cur in acc.items():
        if not cur["ok"]:
            cur["min"] = cur["max"] = None
        cur.pop("ok")
        out[name] = cur
    return md.num_rows, out


def _normalize_pred_value(value, stat_type: "str | None"):
    """Predicate literal → the stats bound domain (datetime → epoch µs,
    date → ISO string) so comparisons match ``_stats_bound``'s encoding."""
    import datetime as _dt

    if stat_type == "ts" and isinstance(value, _dt.datetime):
        if value.tzinfo is not None:
            value = value.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return round((value - _dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)
    if stat_type == "date" and isinstance(value, _dt.date):
        return value.isoformat()
    return value


def _entry_may_match(entry: dict, col: str, op: str, value) -> bool:
    """Conservative file-level predicate check against manifest bounds.
    True (keep the file) whenever stats are missing or incomparable;
    False only on PROOF that no row in the file can satisfy the
    predicate."""
    stats = entry.get("stats", {}).get(col)
    if stats is None:
        return True
    lo, hi = stats.get("min"), stats.get("max")
    if lo is None or hi is None:
        # no bounds. One provable case remains: an all-null column
        # satisfies no comparison predicate.
        rows = entry.get("rows")
        return not (rows and stats.get("nulls") == rows)
    try:
        if op == "between":
            vlo = _normalize_pred_value(value[0], stats.get("type"))
            vhi = _normalize_pred_value(value[1], stats.get("type"))
            return hi >= vlo and lo <= vhi
        v = _normalize_pred_value(value, stats.get("type"))
        if op == "<":
            return lo < v
        if op == "<=":
            return lo <= v
        if op == ">":
            return hi > v
        if op == ">=":
            return hi >= v
        if op in ("=", "=="):
            return lo <= v <= hi
    except TypeError:
        return True
    return True  # unknown op: never prune on it


class CommitConflict(Exception):
    pass


MAX_COMMIT_RETRIES = 5


@dataclass
class _Plan:
    """One commit planned against one snapshot: the snapshot's files it
    drops (``remove``, paths), the entries it adds, snapshot-level
    overrides (``meta``: spec / schema / schema_version) and summary keys.
    ``written`` lists the data files the plan wrote; those not in ``add``
    are deleted once the commit lands, all of them when it is abandoned.
    ``guard`` is the race rule — see ``IceTable._commit``."""

    guard: "frozenset | set | None"
    add: list = field(default_factory=list)
    remove: set = field(default_factory=set)
    meta: dict = field(default_factory=dict)
    summary: dict = field(default_factory=dict)
    written: list = field(default_factory=list)


# ----------------------------------------------------------------------
# bucket-generation arithmetic (rebucket support)
#
# A data file written when the table had N buckets holds exactly the keys
# with xxhash64(key) % N == file.bucket. After `rebucket(M)` the CURRENT
# bucket of such a key is xxhash64(key) % M — and by the Chinese remainder
# theorem a residue pair (b mod N, nb mod M) is jointly satisfiable iff
# b ≡ nb (mod gcd(N, M)). Old files therefore never need rewriting: every
# bucket-scoped operation just widens "bucket == b" to this residue test.
# When M is a multiple of N (the recommended growth shape) gcd = N and an
# old file covers exactly M/N current buckets — pruning keeps full
# precision within the old granularity. Entries record the bucket count
# they were written under in ``nbuckets`` (absent = the owning snapshot's
# spec count, which is how pre-rebucket snapshots stay self-consistent
# for time travel).
# ----------------------------------------------------------------------


def _entry_gen(entry: dict, default_n: int) -> int:
    """Bucket count `entry` was written under."""
    return entry.get("nbuckets", default_n)


def _entry_covers(entry: dict, bucket: int, m: int, default_n: int) -> bool:
    """May `entry` hold keys whose CURRENT bucket (mod `m`) is `bucket`?"""
    n = _entry_gen(entry, default_n)
    if n == m:
        return entry["bucket"] == bucket
    return (entry["bucket"] - bucket) % math.gcd(n, m) == 0


def _entry_buckets(entry: dict, m: int, default_n: int) -> set:
    """All current buckets (mod `m`) that `entry` may hold keys of."""
    n = _entry_gen(entry, default_n)
    if n == m:
        return {entry["bucket"]}
    g = math.gcd(n, m)
    return set(range(entry["bucket"] % g, m, g))


def _files_covering(files: list, buckets: set, m: int, default_n: int) -> list:
    return [
        f for f in files
        if any(_entry_covers(f, b, m, default_n) for b in buckets)
    ]


def _bucket_closure(files: list, buckets: set, m: int, default_n: int) -> set:
    """Smallest superset of `buckets` closed under whole-file coverage:
    any file overlapping the set is wholly inside it. Rewrites that
    replace files bucket-by-bucket must operate on a closed set, or a
    multi-bucket legacy file's rows for the OTHER buckets would be lost
    with it. Fixpoint terminates in ≤ #generations rounds."""
    out = set(buckets)
    while True:
        cov: set = set()
        for f in _files_covering(files, out, m, default_n):
            cov |= _entry_buckets(f, m, default_n)
        if cov <= out:
            return out
        out |= cov


def changelog_diff(
    old: DataFrame,
    new: DataFrame,
    key: str,
    seq: str,
    broadcast_keys: bool = True,
) -> DataFrame:
    """Net row changes between two keyed states (one row per key each;
    ``seq`` is the per-key row version — strictly increasing under CDC,
    so seq equality ⇔ the row is unchanged).

    Output: the payload columns of ``new`` (``old`` for deletes) plus
    ``_change_type`` ∈ {insert, update_postimage, delete}; unchanged keys
    are dropped.

    Plan shape (the sort-free diff): classification runs on SLIM
    (key, seq, side) rows — one union + one fixed-width HashAggregate, no
    full-outer SortMergeJoin of the wide payloads; the payloads join back
    once per CHANGED key only. ``broadcast_keys`` broadcasts the
    changed-key sides (right for version-adjacent changelogs, where
    changes ≈ one batch); disable when diffing distant versions at
    cluster scale — AQE then picks shuffled hash joins keyed on ``key``.
    """
    payload = [c for c in new.columns]
    tagged = old.select(
        F.col(key), F.col(seq).alias("__seq"), F.lit(0).alias("__side")
    ).unionByName(
        new.select(F.col(key), F.col(seq).alias("__seq"), F.lit(1).alias("__side"))
    )
    cls = tagged.groupBy(key).agg(
        F.max(F.when(F.col("__side") == 0, F.col("__seq"))).alias("__so"),
        F.max(F.when(F.col("__side") == 1, F.col("__seq"))).alias("__sn"),
    )
    new_keys = cls.filter(
        F.col("__so").isNull() | (F.col("__sn").isNotNull() & (F.col("__so") != F.col("__sn")))
    ).select(
        key,
        F.when(F.col("__so").isNull(), F.lit("insert"))
        .otherwise(F.lit("update_postimage"))
        .alias("_change_type"),
    )
    del_keys = cls.filter(F.col("__sn").isNull()).select(
        key, F.lit("delete").alias("_change_type")
    )
    if broadcast_keys:
        new_keys, del_keys = F.broadcast(new_keys), F.broadcast(del_keys)
    return new.join(new_keys, key).select(*payload, "_change_type").unionByName(
        old.join(del_keys, key).select(*payload, "_change_type")
    )


class IceTable:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.meta_dir = os.path.join(root, "metadata")
        self.data_dir = os.path.join(root, "data")
        self.last_merge_info: "dict | None" = None
        self._last_probe_ran = False

    # ------------------------------------------------------------------
    # catalog
    # ------------------------------------------------------------------

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        schema: T.StructType,
        key: str = "doc_id",
        num_buckets: int = 16,
        write_mode: str = "cow",
        seq: str = "event_seq",
        compact_threshold: int = 8,
        compact_jitter: "int | None" = None,
        codec: str = "snappy",
        stats_cols: "list[str] | str" = "auto",
        sort_cols: "list[str] | None" = None,
        parquet_block_bytes: "int | None" = None,
        merge_file_pruning: bool = True,
        cow_file_threshold: int = 8,
        max_file_rows: "int | None" = None,
    ) -> "IceTable":
        if write_mode not in ("cow", "mor"):
            raise ValueError(f"write_mode must be 'cow' or 'mor', got {write_mode!r}")
        if write_mode == "mor" and seq not in {f.name for f in schema.fields}:
            raise ValueError(f"merge-on-read needs the seq column {seq!r} in the schema")
        t = cls(spark, root)
        os.makedirs(t.meta_dir, exist_ok=True)
        os.makedirs(t.data_dir, exist_ok=True)
        snap = {
            "version": 1,
            "parent": None,
            "schema": json.loads(schema.json()),
            "schema_version": 1,
            "spec": {
                "key": key,
                "num_buckets": num_buckets,
                "write_mode": write_mode,
                "seq": seq,
                "compact_threshold": compact_threshold,
                # deterministic per-bucket threshold stagger: under uniform
                # churn every bucket's delta chain crosses a SINGLE
                # threshold in the SAME batch, turning adaptive compaction
                # into a periodic stop-the-world full-table fold (observed
                # at the 100M-event run: one batch rewrote all 64 buckets).
                # bucket b compacts at threshold + (b·φ64 mod (jitter+1)),
                # spreading the folds across ~jitter consecutive batches;
                # read amplification bound becomes threshold + jitter.
                "compact_jitter": (
                    compact_jitter
                    if compact_jitter is not None
                    else max(compact_threshold // 2, 0)
                ),
                # parquet codec for data files, a table property so every
                # writer agrees. Measured on the 8M-event replay (two
                # interleaved rounds, BENCH/NOTES.md "Round 4: lake parquet
                # codec A/B"): at low steal snappy ≈ uncompressed on wall
                # clock and zstd/lz4 run ~8-15% slower, but zstd files
                # are ~15% smaller — on an object-store-bound cluster
                # that size win flips the tradeoff, so zstd is the
                # documented at-scale setting while snappy stays the
                # local default.
                "codec": codec,
                # manifest column statistics: per-file min/max/null-count
                # bounds harvested from the parquet FOOTER at commit time
                # (no extra Spark job, no data-page reads). "auto" = every
                # top-level atomic column; a list pins the tracked set
                # (the at-scale setting — wide tables pay manifest bytes
                # per column); [] disables collection. scan() uses the
                # bounds for file-level (COW) / bucket-level (MOR) data
                # skipping on top of the existing bucket pruning.
                "stats_cols": stats_cols,
                # z-order-lite: sort rows WITHIN each bucket file by these
                # columns at write time (one sortWithinPartitions on the
                # already-bucket-partitioned batch — no extra shuffle).
                # Row groups inside a file then cover disjoint sort-key
                # ranges, so the parquet reader's row-group pruning (and
                # dictionary/RLE encoding) bite on seq/time filters —
                # the intra-file complement of scan()'s file-level
                # skipping. parquet_block_bytes sizes the row groups
                # (default: writer default 128 MB; smaller = finer
                # pruning granularity, more footer overhead).
                "sort_cols": sort_cols,
                "parquet_block_bytes": parquet_block_bytes,
                # file-scoped COW overwrite (Iceberg's overwrite-by-file
                # semantics): a copy-on-write merge rewrites only the
                # files of a touched bucket whose manifest KEY bounds may
                # contain a batch key; provably-disjoint files are carried
                # forward in the commit untouched. Turns COW write
                # amplification from O(touched-bucket bytes) into
                # O(key-overlapping files) when churn is key-localized
                # (hot recent docs) — the single-NVMe rewrite tail the
                # round-4 scaling runs pinned. cow_file_threshold bounds
                # the per-bucket base-file chain this creates: a bucket
                # whose chain would exceed it is rewritten whole
                # (coalescing), so read amplification stays ≤ threshold
                # files per bucket.
                "merge_file_pruning": merge_file_pruning,
                "cow_file_threshold": cow_file_threshold,
                # target file size in rows (Iceberg's write.target-file-size
                # analog): when set, each bucket's write is sorted by KEY
                # and split into ≤max_file_rows files, so every file covers
                # a narrow, contiguous key range. This is what makes
                # merge_file_pruning bite in steady state — a monolithic
                # one-file-per-bucket layout has full-span key bounds and
                # every merge hits it; a split layout lets key-localized
                # churn carry the cold files forward. KEY leads the
                # within-bucket sort when splitting (sort_cols follow it),
                # since contiguity of the split is the point.
                "max_file_rows": max_file_rows,
            },
            "files": [],
            "summary": {"batch_ids": {}, "lineage": [], "operation": "create"},
        }
        t._write_snapshot(snap)
        return t

    @classmethod
    def load(cls, spark: SparkSession, root: str) -> "IceTable":
        t = cls(spark, root)
        if t.current_version() is None:
            raise FileNotFoundError(f"no icetable at {root}")
        return t

    # ------------------------------------------------------------------
    # snapshot log
    # ------------------------------------------------------------------

    def current_version(self) -> "int | None":
        try:
            versions = [
                int(f[1:-5])
                for f in os.listdir(self.meta_dir)
                if f.startswith("v") and f.endswith(".json")
            ]
        except FileNotFoundError:
            return None
        return max(versions) if versions else None

    def snapshot(self, version: "int | None | str" = None) -> dict:
        """Snapshot by version number, by TAG NAME (str), or the current
        one — every versioned entry point (read / scan / changes / time
        travel) funnels through here, so tags work everywhere versions do."""
        if isinstance(version, str):
            version = self.tag_version(version)
        v = version if version is not None else self.current_version()
        with open(os.path.join(self.meta_dir, f"v{v}.json")) as f:
            return json.load(f)

    def versions(self) -> list[int]:
        """Committed versions still present (ascending; expiration leaves
        gaps below the retention horizon)."""
        return sorted(
            int(f[1:-5])
            for f in os.listdir(self.meta_dir)
            if f.startswith("v") and f.endswith(".json")
        )

    def history(self) -> list[dict]:
        out = []
        for i in self.versions():
            snap = self.snapshot(i)
            out.append(
                {
                    "version": snap["version"],
                    "operation": snap["summary"].get("operation"),
                    "batch_ids": snap["summary"].get("batch_ids", {}),
                    "num_files": len(snap["files"]),
                }
            )
        return out

    def _write_snapshot(self, snap: dict) -> None:
        """Atomic commit: exclusive create of the next version file."""
        path = os.path.join(self.meta_dir, f"v{snap['version']}.json")
        try:
            with open(path, "x") as f:
                json.dump(snap, f, indent=1)
        except FileExistsError:
            raise CommitConflict(
                f"version {snap['version']} already committed (concurrent writer)"
            ) from None

    # ------------------------------------------------------------------
    # read path
    # ------------------------------------------------------------------

    def schema(self, version: "int | None" = None) -> T.StructType:
        return T.StructType.fromJson(self.snapshot(version)["schema"])

    def _read_projected(
        self, files: list[dict], schema: T.StructType, with_op: bool = False
    ) -> "DataFrame | None":
        """Files → DataFrame cast-projected to `schema` (schema-evolution
        read rule: each file is read with its own schema_version and
        projected to the requested one). `with_op` keeps the delta files'
        ``__op`` column. None when `files` is empty."""
        if not files:
            return None
        by_sv: dict[int, list[str]] = {}
        for f in files:
            by_sv.setdefault(f.get("schema_version", 1), []).append(
                os.path.join(self.root, f["path"])
            )
        parts = []
        for _sv, paths in by_sv.items():
            df = self.spark.read.parquet(*paths)
            cols = [
                (F.col(f.name) if f.name in df.columns else F.lit(None))
                .cast(f.dataType)
                .alias(f.name)
                for f in schema.fields
            ]
            if with_op:
                cols.append(F.col("__op"))
            parts.append(df.select(*cols))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _merge_mor(
        self, base: "DataFrame | None", deltas: DataFrame, key: str, seq: str
    ) -> DataFrame:
        """Merge-on-read view: latest row per key across base ∪ deltas
        (hash-agg max + join-back — the same sort-free dedup plan the CDC
        batch path uses), delete tombstones dropped. The maxes side spans
        the WHOLE key set, so it is NOT broadcast — AQE picks a shuffled
        hash join co-partitioned on the key.

        (key, seq) ties are broken AFTER the join-back so merge_into
        stays idempotent like the COW path: a delta row beats the base
        row it superseded, and a delete tombstone beats an upsert at the
        same seq (priority classes base=0 < delta-U=1 < delta-D=2 —
        side-priority max reusing the (key, seq) partitioning, no extra
        shuffle), and surviving exact ties (the same delta delivered
        twice without a batch-id fence) collapse to one row per key.
        Producer contract: `seq` is a total order per key (binlog
        position), so two DIFFERENT upsert payloads never legitimately
        share (key, seq); if a producer violates that, the D-beats-U rule
        still resolves mixed ties deterministically and only same-op
        distinct-payload ties fall to an arbitrary pick. Every aggregate
        here is a HashAggregate over scalar columns — no SortAggregate in
        the read path."""
        all_rows = deltas.withColumn(
            "__prio",
            F.when(F.col("__op") == "D", F.lit(2)).otherwise(F.lit(1)),
        )
        if base is not None:
            all_rows = base.withColumn("__op", F.lit("U")).withColumn(
                "__prio", F.lit(0)
            ).unionByName(all_rows)
        maxes = all_rows.groupBy(key).agg(F.max(seq).alias(seq))
        cand = all_rows.join(maxes, [key, seq])
        best = cand.groupBy(key, seq).agg(F.max("__prio").alias("__bestprio"))
        latest = (
            cand.join(best, [key, seq])
            .filter(F.col("__prio") == F.col("__bestprio"))
            .dropDuplicates([key])
        )
        return latest.filter(F.col("__op") != "D").drop("__op", "__prio", "__bestprio")

    def read(self, version: "int | None" = None) -> DataFrame:
        """Snapshot read; old-schema files are cast-projected to the
        snapshot schema. Merge-on-read tables merge base + delta files."""
        snap = self.snapshot(version)
        return self._read_state(snap)

    def _read_state(
        self,
        snap: dict,
        buckets: "set[int] | None" = None,
        schema: "T.StructType | None" = None,
        bucket_space: "int | None" = None,
    ) -> DataFrame:
        """Materialized state of a snapshot (MOR base+delta merge applied),
        optionally restricted to ``buckets`` and cast-projected to an
        override ``schema`` (used by changes() to diff across a schema
        evolution in the TO version's shape). ``bucket_space`` is the
        modulus the ``buckets`` ids live in (default: this snapshot's own
        bucket count) — changes() passes the TO version's count so a diff
        across a rebucket speaks one bucket language.

        When the selection includes a file from an older bucket
        generation (pre-rebucket), that file also carries rows of buckets
        OUTSIDE the selection; a row-level residue filter drops them
        BEFORE the MOR merge so a partial file set never fabricates a
        stale merged row."""
        schema = schema if schema is not None else T.StructType.fromJson(snap["schema"])
        spec = snap["spec"]
        files = snap["files"]
        row_filter = None
        if buckets is not None:
            default_n = spec["num_buckets"]
            m = bucket_space if bucket_space is not None else default_n
            files = _files_covering(files, buckets, m, default_n)
            if any(_entry_gen(f, default_n) != m for f in files):
                row_filter = self._bucket_expr(spec["key"], m).isin(
                    [int(b) for b in sorted(buckets)]
                )
        if not files:
            return self.spark.createDataFrame([], schema)
        base_files = [f for f in files if not f.get("delta")]
        delta_files = [f for f in files if f.get("delta")]
        base = self._read_projected(base_files, schema)
        if base is not None and row_filter is not None:
            base = base.filter(row_filter)
        if not delta_files:
            return base if base is not None else self.spark.createDataFrame([], schema)
        deltas = self._read_projected(delta_files, schema, with_op=True)
        if row_filter is not None:
            deltas = deltas.filter(row_filter)
        return self._merge_mor(base, deltas, spec["key"], spec.get("seq", "event_seq"))

    def scan(
        self,
        predicates: "list[tuple]",
        version: "int | None" = None,
    ) -> DataFrame:
        """Predicate scan with manifest-stats data skipping.

        ``predicates`` is a conjunction of simple bounds —
        ``[(col, op, value)]`` with op ∈ {<, <=, >, >=, =, between}
        (``between`` takes a ``(lo, hi)`` 2-tuple, inclusive). The full
        predicate is ALWAYS re-applied as a Spark filter; the manifest
        bounds only decide which files never reach the scan, so the
        result is exactly ``read(version).filter(...)`` at lower cost.

        Skipping granularity follows the write mode:

        * **COW / append-only** (no delta files): every row lives in
          exactly one immutable file, so pruning is per FILE. CDC batches
          arrive in (roughly) seq order, which makes per-file seq/time
          ranges naturally tight — a time-range scan reads ~churn, not
          the table.
        * **MOR** (delta files present): the merged row for a key can
          combine any of its bucket's base+delta files, so the safe unit
          is the BUCKET — skipped only when NO file in it could satisfy
          the conjunction. (A surviving row is always a physical row from
          one file; if every file in a bucket refutes some predicate, no
          merged row from that bucket can match.)

        ``last_scan_info`` records {files_total, files_read,
        buckets_skipped, granularity} for observability/tests. At 100 TB
        the same bounds live in the snapshot JSON the driver already
        parses — pruning stays a driver-side metadata pass, independent
        of cluster size."""
        snap = self.snapshot(version)
        schema = T.StructType.fromJson(snap["schema"])
        files = snap["files"]
        for col, op, _v in predicates:
            if col not in {f.name for f in schema.fields}:
                raise ValueError(f"scan predicate on unknown column {col!r}")
            if op not in ("<", "<=", ">", ">=", "=", "==", "between"):
                raise ValueError(f"unsupported scan op {op!r}")

        def may_match(entry):
            return all(_entry_may_match(entry, c, op, v) for c, op, v in predicates)

        has_delta = any(f.get("delta") for f in files)
        if has_delta:
            default_n = snap["spec"]["num_buckets"]
            buckets: set = set()
            kept: set = set()
            for f in files:
                cov = _entry_buckets(f, default_n, default_n)
                buckets |= cov
                if may_match(f):
                    kept |= cov
            out = self._read_state(snap, buckets=kept)
            read_count = len(_files_covering(files, kept, default_n, default_n))
            self.last_scan_info = {
                "files_total": len(files),
                "files_read": read_count,
                "buckets_skipped": len(buckets - kept),
                "granularity": "bucket",
            }
        else:
            kept_files = [f for f in files if may_match(f)]
            df = self._read_projected(kept_files, schema)
            out = df if df is not None else self.spark.createDataFrame([], schema)
            self.last_scan_info = {
                "files_total": len(files),
                "files_read": len(kept_files),
                "buckets_skipped": 0,
                "granularity": "file",
            }
        cond = F.lit(True)
        for c, op, v in predicates:
            col = F.col(c)
            if op == "between":
                cond = cond & col.between(F.lit(v[0]), F.lit(v[1]))
            elif op == "<":
                cond = cond & (col < F.lit(v))
            elif op == "<=":
                cond = cond & (col <= F.lit(v))
            elif op == ">":
                cond = cond & (col > F.lit(v))
            elif op == ">=":
                cond = cond & (col >= F.lit(v))
            else:
                cond = cond & (col == F.lit(v))
        return out.filter(cond)

    def changes(
        self,
        from_version: int,
        to_version: "int | None" = None,
        broadcast_keys: bool = True,
    ) -> DataFrame:
        """Incremental changelog read (the CDF twin of time travel): net
        row changes between two committed versions, as the TO version's
        payload columns + ``_change_type`` ∈ {insert, update_postimage,
        delete} (deletes carry the preimage, cast-projected to the TO
        schema across evolutions).

        Scale design — cost ∝ churn, never table size: data files are
        immutable, so a bucket whose file set is IDENTICAL in both
        snapshots cannot have changed; only churned buckets are read and
        diffed (COW rewrites touched buckets, MOR appends per-bucket
        deltas — both churn exactly the buckets that changed). The diff
        itself is the sort-free slim-classification plan of
        ``changelog_diff``."""
        snap1 = self.snapshot(from_version)
        snap2 = self.snapshot(to_version)
        if snap2["version"] < snap1["version"]:
            raise ValueError(
                f"to_version {snap2['version']} precedes from_version {snap1['version']}"
            )
        # a bucket's state can only have changed if some file covering it
        # was added or removed between the snapshots; coverage is computed
        # in the TO version's bucket space so the diff survives a rebucket
        # commit in between (a rebucket itself moves no paths → no churn)
        spec = snap2["spec"]
        m = spec["num_buckets"]
        n1 = snap1["spec"]["num_buckets"]
        paths1 = {f["path"]: f for f in snap1["files"]}
        paths2 = {f["path"]: f for f in snap2["files"]}
        churned: set = set()
        for p in set(paths1).symmetric_difference(paths2):
            if p in paths1:
                churned |= _entry_buckets(paths1[p], m, n1)
            else:
                churned |= _entry_buckets(paths2[p], m, m)
        schema = T.StructType.fromJson(snap2["schema"])
        old = self._read_state(snap1, buckets=churned, schema=schema, bucket_space=m)
        new = self._read_state(snap2, buckets=churned)
        return changelog_diff(
            old, new, spec["key"], spec.get("seq", "event_seq"), broadcast_keys
        )

    def _split_rewrite_files(
        self,
        spec: dict,
        candidates: "list[dict]",
        probe_keys: DataFrame,
        envelopes: "dict[int, tuple]",
        num_buckets: int,
    ) -> "tuple[list[dict], list[dict]]":
        """(hit, carry) partition of the candidate base files of a COW
        merge: ``carry`` files have manifest key bounds provably disjoint
        from every batch key and are carried forward in the commit
        unread and unwritten; ``hit`` files must be rewritten.

        Soundness: a key present in a file always lies inside that
        file's footer min/max (string truncation rounds the max UP —
        see _stats_bound), so bound-disjoint ⇒ key-absent; files with
        missing or non-plain (timestamp-domain) key bounds are
        conservatively hit. NULL keys are outside the merge contract
        (the key is a primary key; equi-joins never match them either
        way).

        Two tiers, cheap one first:

        1. **Envelope pass (free, driver-side).** ``envelopes`` maps
           each touched bucket to its batch-key (min, max) — harvested
           by the caller from the SAME aggregate that discovered the
           touched buckets, so it costs no extra Spark job. A file
           whose bounds are disjoint from the envelope of every touched
           bucket it covers is carried immediately. Under the
           key-localized churn this feature targets, the envelope IS
           the churn window, so this tier does nearly all the carrying.
        2. **Exact probe (one Spark job), split layouts only.** Files
           that intersect an envelope may still miss every actual key
           when the batch is sparse inside its span. The exact test
           runs IN SPARK — surviving ranges are a metadata-sized
           broadcast, the probe the caller's persisted (__k, __bucket)
           projection, the join a broadcast hash join on bucket with
           the range as residual filter — so driver traffic is O(files
           hit), never O(batch keys). It runs ONLY when
           ``max_file_rows`` is set: on a monolithic layout every file
           has (near-)full-span bounds, nothing can be carried, and the
           probe is pure overhead — measured at ~0.36 s/merge on the
           round-5 A/B's `prune` arm (BENCH/NOTES.md), which is why
           plain tables get tier 1 only and pay zero extra jobs.

        Per-bucket chains longer than ``cow_file_threshold`` are
        coalesced (whole bucket hit), which bounds COW read
        amplification the way compact_threshold bounds MOR's."""
        self._last_probe_ran = False
        if not spec.get("merge_file_pruning", True) or not candidates:
            return list(candidates), []
        key = spec["key"]
        threshold = spec.get("cow_file_threshold", 8)
        max_file_rows = spec.get("max_file_rows")
        per_bucket: dict[int, int] = {}
        bucket_rows: dict[int, int] = {}
        for f in candidates:
            for b in _entry_buckets(f, num_buckets, num_buckets):
                per_bucket[b] = per_bucket.get(b, 0) + 1
                bucket_rows[b] = bucket_rows.get(b, 0) + int(f.get("rows") or 0)
        if max_file_rows:
            # under target-file-size splitting a bucket legitimately holds
            # ceil(rows/max_file_rows) disjoint-range files; the threshold
            # bounds the EXCESS over that ideal layout (per-key read
            # amplification ≈ overlapping files, not chain length)
            coalesce = {
                b
                for b, c in per_bucket.items()
                if c > -(-bucket_rows[b] // max_file_rows) + threshold
            }
        else:
            coalesce = {b for b, c in per_bucket.items() if c > threshold}

        def _envelope_disjoint(lo, hi, cov):
            # Python str comparison == Spark UTF8String comparison here:
            # UTF-8 byte order preserves code-point order. Buckets the
            # file covers but the batch didn't touch contribute no keys;
            # a None bound (all-NULL-key bucket) can't prove disjoint.
            for b in cov:
                env = envelopes.get(b)
                if env is None:
                    continue
                elo, ehi = env
                if elo is None or ehi is None or (hi >= elo and lo <= ehi):
                    return False
            return True

        hit: list[dict] = []
        carry: list[dict] = []
        ranged: list[dict] = []
        rows: list[tuple] = []
        for f in candidates:
            cov = _entry_buckets(f, num_buckets, num_buckets)
            st = f.get("stats", {}).get(key) or {}
            lo, hi = st.get("min"), st.get("max")
            if (cov & coalesce) or lo is None or hi is None or st.get("type") != "plain":
                hit.append(f)
            elif _envelope_disjoint(lo, hi, cov):
                carry.append(f)
            elif max_file_rows:
                ranged.append(f)
                for b in cov:
                    rows.append((f["path"], int(b), lo, hi))
            else:
                hit.append(f)
        self._last_probe_ran = bool(ranged)  # tier-2 exact probe engaged
        if not ranged:
            return hit, carry
        ranges = self.spark.createDataFrame(rows, ["__path", "__rb", "__kmin", "__kmax"])
        probe = probe_keys.select("__k", F.col("__bucket").alias("__rb"))
        hit_paths = {
            r["__path"]
            for r in probe.join(F.broadcast(ranges), "__rb")
            .filter((F.col("__k") >= F.col("__kmin")) & (F.col("__k") <= F.col("__kmax")))
            .select("__path")
            .distinct()
            .collect()
        }
        carry += [f for f in ranged if f["path"] not in hit_paths]
        hit += [f for f in ranged if f["path"] in hit_paths]
        return hit, carry

    # ------------------------------------------------------------------
    # write paths
    # ------------------------------------------------------------------

    def _bucket_expr(self, key: str, num_buckets: int):
        return F.pmod(F.xxhash64(F.col(key)), F.lit(num_buckets)).cast("int")

    def _write_data_files(self, df: DataFrame, snap: dict, delta: bool = False):
        """Write df bucketed by key under `snap`'s spec and schema version;
        returns file entries for the snapshot.

        One output dir per write; files are registered with their bucket so
        later merges prune by bucket. Co-locates each bucket in one file
        via repartition on the bucket column (the shuffle that makes every
        later merge join bucket-local).
        """
        tag = uuid.uuid4().hex[:12]
        out_dir = os.path.join(self.data_dir, tag)
        spec = snap["spec"]
        key, num_buckets = spec["key"], spec["num_buckets"]
        schema_version = snap["schema_version"]
        codec = spec.get("codec", "snappy")
        stats_cols = spec.get("stats_cols", "auto")
        with_bucket = df.withColumn("__bucket", self._bucket_expr(key, num_buckets))
        # Spark's default parquet timestamp encoding is the deprecated INT96,
        # which carries NO footer min/max — switch to TIMESTAMP_MICROS for
        # the table's data files so time columns get manifest bounds (and
        # stay readable by every modern engine). Session conf, so save and
        # restore around the write.
        conf = self.spark.conf
        prev_ts_type = conf.get("spark.sql.parquet.outputTimestampType", None)
        conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        try:
            batch = with_bucket.repartition(num_buckets, F.col("__bucket"))
            sort_cols = list(spec.get("sort_cols") or [])
            max_file_rows = spec.get("max_file_rows")
            if max_file_rows:
                # key-led sort + maxRecordsPerFile: the writer cuts each
                # bucket's sorted stream every max_file_rows rows, so the
                # resulting files cover contiguous, disjoint key ranges —
                # the layout merge_file_pruning needs. sort_cols keep
                # their z-order role after the key.
                sort_cols = [key] + [c for c in sort_cols if c != key]
            if sort_cols:
                # __bucket leads the sort so the dynamic-partition writer
                # sees its required ordering already satisfied and does
                # NOT re-sort (a re-sort on __bucket alone is unstable and
                # would scramble the secondary order)
                batch = batch.sortWithinPartitions("__bucket", *sort_cols)
            writer = (
                batch.write.partitionBy("__bucket")
                .option("compression", codec)
                .mode("append")
            )
            if max_file_rows:
                writer = writer.option("maxRecordsPerFile", str(max_file_rows))
            if spec.get("parquet_block_bytes"):
                writer = writer.option(
                    "parquet.block.size", str(spec["parquet_block_bytes"])
                )
            writer.parquet(out_dir)
        finally:
            if prev_ts_type is not None:
                conf.set("spark.sql.parquet.outputTimestampType", prev_ts_type)
            else:
                conf.unset("spark.sql.parquet.outputTimestampType")
        entries = []
        for bdir in os.listdir(out_dir):
            if not bdir.startswith("__bucket="):
                continue
            bucket = int(bdir.split("=")[1])
            for fn in os.listdir(os.path.join(out_dir, bdir)):
                if fn.endswith(".parquet"):
                    rel = os.path.relpath(
                        os.path.join(out_dir, bdir, fn), self.root
                    )
                    entry = {
                        "path": rel,
                        "bucket": bucket,
                        "schema_version": schema_version,
                        "nbuckets": num_buckets,
                    }
                    if delta:
                        entry["delta"] = True
                    entries.append(entry)
        if stats_cols != [] and entries:
            # harvest footers concurrently: each read is a small tail I/O
            # and pyarrow releases the GIL around it, so a sequential loop
            # serializes ~num_buckets reads per commit. On local disk the
            # whole harvest is noise either way (0.26 s of a ~30 s
            # 8M-event replay — the manifest-stats A/B write-up in
            # BENCH/NOTES.md round 4); the concurrency is for object
            # stores, where these become the same ranged GETs an Iceberg
            # committer issues per data file at ~10-100 ms each.
            from concurrent.futures import ThreadPoolExecutor

            want = None if stats_cols == "auto" else stats_cols
            with ThreadPoolExecutor(max_workers=min(16, len(entries))) as ex:
                harvested = list(
                    ex.map(
                        lambda e: _footer_column_stats(
                            os.path.join(self.root, e["path"]), want
                        ),
                        entries,
                    )
                )
            for entry, (rows, stats) in zip(entries, harvested):
                entry["rows"] = rows
                if stats:
                    entry["stats"] = stats
        return entries

    def _remove_files(self, entries: list[dict]) -> None:
        """Best-effort cleanup of data files orphaned by a lost commit race."""
        for e in entries:
            try:
                os.remove(os.path.join(self.root, e["path"]))
            except OSError:
                pass

    def _commit(
        self,
        operation: str,
        plan,
        batch_id: "int | None" = None,
        source: str = "default",
    ) -> "int | None":
        """The one commit protocol of every table write.

        Reads the snapshot once, applies the batch-id fence, and calls
        ``plan(snap)`` for a :class:`_Plan` (or None: nothing to commit,
        returned as None). The child snapshot is ``snap``'s files minus
        ``plan.remove`` plus ``plan.add``, committed by exclusive create.
        On :class:`CommitConflict` the log is re-read and the fence
        re-checked; then the plan's guard decides:

        * ``∅`` — rebase: the same data files commit onto the winner;
        * a bucket set — rebase only when the winner left the bucket count
          and the file set covering those buckets unchanged (the
          copy-on-write validation rule: a winner that rewrote a touched
          bucket invalidated the merge input);
        * ``None`` — delete the plan's files and re-plan on the winner.

        At most MAX_COMMIT_RETRIES plans, each with at most
        MAX_COMMIT_RETRIES commit attempts (a plan out of attempts is
        dropped like a stale one). Any other error from the commit
        propagates and leaves the written files for
        ``expire_snapshots``'s orphan scan, as a crash would."""
        def fenced(snap):
            return batch_id is not None and self._fenced(snap, source, batch_id)

        snap = self.snapshot()
        for planned in range(MAX_COMMIT_RETRIES + 1):
            if fenced(snap):
                return snap["version"]
            if planned == MAX_COMMIT_RETRIES:
                break
            p = plan(snap)
            if p is None:
                return None
            for _ in range(MAX_COMMIT_RETRIES):
                new = self._child(snap, operation)
                new.update(p.meta)
                new["files"] = [
                    f for f in snap["files"] if f["path"] not in p.remove
                ] + p.add
                new["summary"].update(p.summary)
                if batch_id is not None:
                    new["summary"]["batch_ids"][source] = batch_id
                try:
                    self._write_snapshot(new)
                except CommitConflict:
                    latest = self.snapshot()
                    rebase = self._may_rebase(p.guard, snap, latest)
                    snap = latest
                    if rebase and not fenced(snap):
                        continue
                    break
                added = {e["path"] for e in p.add}
                self._remove_files([e for e in p.written if e["path"] not in added])
                return new["version"]
            self._remove_files(p.written)  # stale against the winner: re-plan
        raise CommitConflict(f"{operation} lost {MAX_COMMIT_RETRIES} commit races")

    @staticmethod
    def _may_rebase(guard: "set | None", snap: dict, latest: dict) -> bool:
        """The race rule of :meth:`_commit`."""
        if guard is None:
            return False
        if not guard:
            return True
        m = snap["spec"]["num_buckets"]
        if latest["spec"]["num_buckets"] != m:
            return False
        return {f["path"] for f in _files_covering(snap["files"], guard, m, m)} == {
            f["path"] for f in _files_covering(latest["files"], guard, m, m)
        }

    def _fold(self, snap: dict, files: list, buckets: set) -> "tuple[set, set, list]":
        """Merge the base and delta files of `files` covering `buckets`
        into fresh base files: latest row per key, tombstones dropped.
        Whole files are replaced, so the bucket set is closed first (see
        _bucket_closure) — which also migrates the legacy-generation files
        it touches to the current bucketing. Returns (closed buckets,
        folded paths, new entries)."""
        spec = snap["spec"]
        m = spec["num_buckets"]
        buckets = _bucket_closure(files, buckets, m, m)
        folded = _files_covering(files, buckets, m, m)
        schema = T.StructType.fromJson(snap["schema"])
        base = self._read_projected([f for f in folded if not f.get("delta")], schema)
        deltas = self._read_projected(
            [f for f in folded if f.get("delta")], schema, with_op=True
        )
        merged = self._merge_mor(base, deltas, spec["key"], spec.get("seq", "event_seq"))
        return buckets, {f["path"] for f in folded}, self._write_data_files(merged, snap)

    def append(self, df: DataFrame, batch_id: "int | None" = None, source: str = "default") -> int:
        """Add `df`'s rows as new data files. Appends never invalidate each
        other, so a lost race re-commits the same files (guard ∅)."""

        def plan(snap):
            entries = self._write_data_files(df, snap)
            return _Plan(guard=frozenset(), add=entries, written=entries)

        return self._commit("append", plan, batch_id, source)

    def merge_into(
        self,
        updates: DataFrame,
        batch_id: "int | None" = None,
        source: str = "default",
        op_col: str = "op",
        lineage: "dict | None" = None,
        probe_df: "DataFrame | None" = None,
        probe_rows: "tuple[int, list[tuple]] | None" = None,
    ) -> "int | None":
        """Copy-on-write MERGE: `updates` has one row per key with op I/U/D
        (pre-deduped by the caller); I/U upsert the payload, D deletes.
        Only buckets containing updated keys are rewritten.

        ``probe_df``: optional cheap source of the touched keys (e.g. the
        RAW change batch before any transformation) — the touched-bucket
        probe then costs a column-pruned scan instead of executing the
        whole update plan twice. Contract (r06): the probe's key set must
        equal the batch's key set EXACTLY (a multiset is fine) — the
        merge also derives the anti-join key set from it, so a probe
        with extra keys would delete their target rows. Every caller
        passes the raw rows the batch was built from, which dedup-latest
        and delete batches preserve key-for-key.

        ``probe_rows``: optional precollected probe result —
        ``(num_buckets, [(bucket, key_min, key_max), ...])`` covering
        every touched bucket under the bucket count it was computed at
        (e.g. harvested from a stats aggregate the caller already runs
        over the raw batch). Skips the probe job entirely; the anti-join
        keys then come from ``probe_df`` (which is NOT executed as a
        second full plan — pass a slim raw projection). Bucket ids are
        only meaningful under their bucket count: whenever the snapshot
        a pass reads (the first or a retry) has another one — a
        concurrent ``rebucket`` — the rows are ignored and the merge
        runs its own probe.

        Returns the committed version (None for an empty batch; unchanged
        version when the batch id is fenced).

        Commit races (see _commit): the guard is the touched buckets. A
        concurrent commit that left them (and the bucket count) untouched
        is disjoint — the same data files re-commit on top of it; one that
        rewrote a touched bucket invalidates our merge input, so the merge
        recomputes from the new snapshot (Iceberg's validation + retry
        rule for copy-on-write).

        Tables created with ``write_mode='mor'`` take the merge-on-read
        path instead: delta files + adaptive compaction.

        Producer contract: the table's ``seq`` column must be a total
        order per key (a binlog position / LSN). Redelivering the SAME
        row is idempotent in both modes; two DIFFERENT payloads sharing
        (key, seq) violate the contract — MOR reads then resolve a mixed
        U/D tie deterministically (tombstone wins) and a same-op
        distinct-payload tie arbitrarily.
        """
        summary = {"lineage": [lineage]} if lineage is not None else {}

        def plan(snap):
            if snap["spec"].get("write_mode", "cow") == "mor":
                return self._plan_mor(snap, updates, op_col, summary)
            return self._plan_cow(
                snap, updates, op_col, summary, probe_df, probe_rows
            )

        return self._commit("merge", plan, batch_id, source)

    def _plan_cow(
        self,
        snap: dict,
        updates: DataFrame,
        op_col: str,
        summary: dict,
        probe_df: "DataFrame | None",
        probe_rows: "tuple[int, list[tuple]] | None",
    ) -> "_Plan | None":
        """One copy-on-write merge pass against `snap` (see merge_into)."""
        spec = snap["spec"]
        key, num_buckets = spec["key"], spec["num_buckets"]
        schema = T.StructType.fromJson(snap["schema"])
        payload_cols = [f.name for f in schema.fields]

        # ONE slim (key, bucket) projection feeds both probes — the
        # touched-bucket discovery and the file-range intersection —
        # so the probe plan (possibly the whole update pipeline when
        # no probe_df is given) executes once, not twice. persist()
        # is the right cache here: ≤3 actions, KBs per batch key.
        # The ONE aggregate also returns each touched bucket's batch
        # key ENVELOPE (min/max), so the common pruning case — a
        # file range disjoint from everything the batch touches in
        # its bucket — is decided on the driver for free, without a
        # second Spark job (see _split_rewrite_files). r06: callers
        # that already aggregate the raw batch pass probe_rows and
        # the probe job disappears entirely.
        probe = probe_df if probe_df is not None else updates
        pk = None
        if probe_rows is not None and probe_rows[0] == num_buckets:
            bucket_rows = [
                {"__bucket": b, "__lo": lo, "__hi": hi}
                for (b, lo, hi) in probe_rows[1]
            ]
        else:
            pk = probe.select(
                F.col(key).alias("__k"),
                self._bucket_expr(key, num_buckets).alias("__bucket"),
            ).persist()
            bucket_rows = [
                r.asDict()
                for r in pk.groupBy("__bucket").agg(
                    F.min("__k").alias("__lo"), F.max("__k").alias("__hi")
                ).collect()
            ]
        touched = {r["__bucket"] for r in bucket_rows}
        envelopes = {
            r["__bucket"]: (r["__lo"], r["__hi"]) for r in bucket_rows
        }
        if not touched:
            if pk is not None:
                pk.unpersist()
            return None  # empty batch: no commit (re-delivery is a no-op anyway)
        # pre-rebucket files span several current buckets; a rewrite
        # replaces whole files, so close the touched set over file
        # coverage (their unrelated rows are then carried through the
        # merge and land in current-generation files — rebucket
        # migration happens lazily, churn-by-churn)
        touched = _bucket_closure(snap["files"], touched, num_buckets, num_buckets)
        # file-scoped overwrite: within the touched buckets, only
        # files whose manifest KEY bounds may contain a batch key are
        # read + rewritten; bound-disjoint files are carried forward
        # in the commit (Iceberg overwrite-by-file). At key-localized
        # churn this cuts the COW rewrite tail from touched-bucket
        # bytes to overlapping-file bytes. The guard still covers the
        # full touched-bucket file set, so a concurrent writer that
        # rewrote a carried file forces a recompute.
        candidates = _files_covering(
            [f for f in snap["files"] if not f.get("delta")],
            touched, num_buckets, num_buckets,
        )
        # tier-2 exact range probe (split layouts only) needs a
        # (__k, __bucket) frame; when the probe job was skipped via
        # probe_rows, derive it from the slim probe projection
        pk_probe = pk if pk is not None else probe.select(
            F.col(key).alias("__k"),
            self._bucket_expr(key, num_buckets).alias("__bucket"),
        )
        try:
            hit, carry = self._split_rewrite_files(
                spec, candidates, pk_probe, envelopes, num_buckets
            )
            target = self._read_projected(hit, schema) if hit else None

            # MERGE = (target rows whose key is NOT updated) ∪ (upserts).
            # The anti-join needs only the update KEYS — broadcastable,
            # so the target side is filtered with NO shuffle and NO sort
            # (a full-outer formulation would force a SortMergeJoin of
            # the wide rows). At billion-key batch scale disable the
            # broadcast (AQE then picks a shuffled-hash anti join keyed
            # on doc_id — both sides already hash-partition on it).
            # r06: the key set comes from the PROBE (cached slim rows,
            # or the caller's slim raw projection) instead of
            # re-executing the whole `updates` plan a second time just
            # for its keys — the probe contract guarantees the sets are
            # equal. Distinct before the broadcast so a raw multi-event
            # batch doesn't inflate the build side.
            upserts = updates.filter(F.col(op_col) != "D").select(*payload_cols)
            if target is None:
                merged = upserts
            else:
                upd_keys = F.broadcast(
                    pk_probe.select(F.col("__k").alias(key)).distinct()
                )
                merged = target.join(upd_keys, key, "left_anti").unionByName(upserts)

            entries = self._write_data_files(merged, snap)
        finally:
            if pk is not None:
                pk.unpersist()  # write executed (or failed) — pk is done
        self.last_merge_info = {
            "files_candidate": len(candidates),
            "files_rewritten": len(hit),
            "files_carried": len(carry),
            "files_written": len(entries),
            "probe_ran": self._last_probe_ran,
            "bytes_written": sum(
                os.path.getsize(os.path.join(self.root, e["path"]))
                for e in entries
            ),
        }
        return _Plan(
            guard=touched,
            add=entries,
            remove={f["path"] for f in hit},
            summary=summary,
            written=entries,
        )

    def _plan_mor(
        self, snap: dict, updates: DataFrame, op_col: str, summary: dict
    ) -> "_Plan | None":
        """Merge-on-read MERGE: append the (pre-deduped) updates as
        per-bucket DELTA files — payload + ``__op`` (deletes stay as
        tombstone rows) — WITHOUT reading or rewriting the base table.
        Write cost ∝ batch changes; at 10^10-event scale this is the
        difference between rewriting the table every batch (COW under
        uniform keys) and an append-sized write.

        Buckets whose delta chain would exceed ``compact_threshold`` are
        compacted in the SAME commit: base + all deltas of the bucket are
        merged (latest-per-key, tombstones dropped) into fresh base files
        and the chain is replaced — adaptive per-bucket copy-on-write
        that bounds read amplification to ``compact_threshold`` files.

        Guard None: any lost commit race recomputes from the fresh
        snapshot (MOR recompute is cheap — the delta write)."""
        spec = snap["spec"]
        num_buckets = spec["num_buckets"]
        payload_cols = [f.name for f in T.StructType.fromJson(snap["schema"]).fields]
        delta_df = updates.select(*payload_cols, F.col(op_col).alias("__op"))
        entries = self._write_data_files(delta_df, snap, delta=True)
        if not entries:
            return None  # empty batch: nothing to merge, nothing to commit

        # read amplification per CURRENT bucket = delta files covering
        # it (a pre-rebucket delta file counts toward every bucket it
        # spans — it is read for each of them)
        chain: dict[int, int] = {}
        for f in snap["files"]:
            if f.get("delta"):
                for b in _entry_buckets(f, num_buckets, num_buckets):
                    chain[b] = chain.get(b, 0) + 1
        for e in entries:
            chain[e["bucket"]] = chain.get(e["bucket"], 0) + 1
        compact = {
            b
            for b, c in chain.items()
            if c > self.bucket_compact_threshold(spec, b)
        }
        if not compact:
            return _Plan(guard=None, add=entries, summary=summary, written=entries)
        # the fresh deltas of compacted buckets fold into the new base
        # files and are never referenced; the commit deletes them
        compact, folded, comp_entries = self._fold(snap, snap["files"] + entries, compact)
        return _Plan(
            guard=None,
            add=[e for e in entries if e["path"] not in folded] + comp_entries,
            remove=folded,
            summary={**summary, "compacted_buckets": sorted(compact)},
            written=entries + comp_entries,
        )

    def compact(self, buckets: "set[int] | None" = None) -> "int | None":
        """Manual merge-on-read compaction: fold the delta chains of
        ``buckets`` (default: every bucket holding deltas) into fresh
        base files in one commit (operation='compact'). The inline
        adaptive compaction already bounds read amplification to
        ``compact_threshold`` files per bucket; this is the maintenance
        entry point for squeezing it to 1 ahead of read-heavy workloads.
        State-invariant by construction — changes() across a compaction
        commit is empty. Returns the committed version (None when the
        selected buckets hold no deltas). Guard None: a concurrent commit
        may have rewritten or extended the folded chains."""

        def plan(snap):
            m = snap["spec"]["num_buckets"]
            delta_buckets: set = set()
            for f in snap["files"]:
                if f.get("delta"):
                    delta_buckets |= _entry_buckets(f, m, m)
            todo = delta_buckets if buckets is None else delta_buckets & set(buckets)
            if not todo:
                return None
            todo, folded, entries = self._fold(snap, snap["files"], todo)
            return _Plan(
                guard=None,
                add=entries,
                remove=folded,
                summary={"compacted_buckets": sorted(todo)},
                written=entries,
            )

        return self._commit("compact", plan)

    def expire_snapshots(
        self, keep_last: int = 2, orphan_grace_sec: float = 3 * 86400
    ) -> dict:
        """Retention GC — the operation that makes time travel viable at
        10^10-row scale, where every COW merge rewrites touched buckets
        and unexpired history grows the data directory without bound.

        Keeps the ``keep_last`` newest snapshots (always ≥ 1); deletes
        older v<N>.json files and every data file that was referenced by
        an EXPIRED snapshot but no retained one (those were committed, so
        no in-flight writer can still reference them). Parquet referenced
        by NO snapshot at all (a crashed writer's leak — the gap
        _remove_files can't see) is removed only when older than
        ``orphan_grace_sec`` (mtime cutoff, like Iceberg's
        remove_orphan_files olderThan — default 3 days): a younger
        unreferenced file may belong to a writer that is between
        _write_data_files and _write_snapshot right now, and deleting it
        would let that writer commit a snapshot pointing at missing data.
        Time travel / changes() below the horizon then raise; history()
        skips the gap.

        Safe against concurrent WRITERS (they only create new versions;
        the commit fence lives in the latest snapshot, which is always
        retained; in-flight data files sit inside the grace window).
        Like Iceberg, it is the caller's contract that no READER still
        pins an expired version.

        Returns {"snapshots": n_removed, "files": n_removed, "bytes": b}.
        """
        import time

        if self.branch_name is not None:
            raise ValueError(
                "expire_snapshots runs on the main handle (it owns data/)"
            )
        vs = self.versions()
        keep = set(vs[-max(keep_last, 1):])
        # tagged versions are pinned: snapshot file and data files both
        # survive until the tag is dropped
        keep |= {v for v in self.list_tags().values() if v in set(vs)}
        referenced: set[str] = set()
        expired_refs: set[str] = set()
        for v in vs:
            paths = {f["path"] for f in self.snapshot(v)["files"]}
            if v in keep:
                referenced |= paths
            else:
                expired_refs |= paths
        # live branches pin their files: a WAP branch older than the
        # orphan grace window must survive until published or dropped
        for bn in self.list_branches():
            b = self._branch_handle(bn)
            for v in b.versions():
                referenced |= {f["path"] for f in b.snapshot(v)["files"]}
        n_snaps = 0
        for v in vs:
            if v not in keep:
                os.remove(os.path.join(self.meta_dir, f"v{v}.json"))
                n_snaps += 1
        cutoff = time.time() - orphan_grace_sec
        n_files = n_bytes = 0
        for dirpath, _dirnames, filenames in os.walk(self.data_dir):
            for fn in filenames:
                full = os.path.join(dirpath, fn)
                rel = os.path.relpath(full, self.root)
                if not fn.endswith(".parquet") or rel in referenced:
                    continue
                if rel not in expired_refs and os.path.getmtime(full) > cutoff:
                    continue  # possibly an in-flight writer's uncommitted file
                n_bytes += os.path.getsize(full)
                os.remove(full)
                n_files += 1
        return {"snapshots": n_snaps, "files": n_files, "bytes": n_bytes}

    def rebucket(self, new_num_buckets: int) -> int:
        """Metadata-only bucket-count evolution (operation='rebucket'):
        change ``spec.num_buckets`` WITHOUT rewriting any data file — the
        10^10-row growth path, where a table created with 64 buckets needs
        4,096 before any single bucket outgrows an executor.

        Existing files are stamped with the bucket count they were written
        under; every bucket-scoped operation (merge pruning, changelog
        churn, scan skipping, compaction) widens exact bucket equality to
        the residue test ``old_bucket ≡ new_bucket (mod gcd(old_n, new_n))``
        — see the module notes above _entry_covers. Growth by an integer
        MULTIPLE keeps pruning at the old granularity immediately and
        full granularity as rewrites lazily migrate files; a non-multiple
        count is permitted but degrades pruning to gcd granularity until
        ``migrate_buckets`` (or churn) rewrites the legacy files.

        Iceberg parity: bucket-transform partition-spec evolution
        (`PartitionSpec` evolution API) — same contract: old files keep
        their old spec, new writes use the new one, metadata-only commit.
        A lost race re-plans on the winner (guard None).
        """
        if not isinstance(new_num_buckets, int) or new_num_buckets <= 0:
            raise ValueError(f"num_buckets must be a positive int, got {new_num_buckets!r}")

        def plan(snap):
            old_n = snap["spec"]["num_buckets"]
            if new_num_buckets == old_n:
                return None
            return _Plan(
                guard=None,
                remove={f["path"] for f in snap["files"]},
                add=[{**f, "nbuckets": _entry_gen(f, old_n)} for f in snap["files"]],
                meta={"spec": dict(snap["spec"], num_buckets=new_num_buckets)},
                summary={"rebucket": {"from": old_n, "to": new_num_buckets}},
            )

        v = self._commit("rebucket", plan)
        return v if v is not None else self.current_version()

    def migrate_buckets(self, max_files: "int | None" = None) -> "int | None":
        """Rewrite files of older bucket generations into the current
        bucketing (operation='migrate') — the maintenance endgame of
        ``rebucket``. State-invariant: base files are re-split as base
        files, delta files as delta files (``__op`` preserved), so
        ``changes()`` across the commit is empty. ``max_files`` bounds one
        pass for incremental migration of a huge table. Returns the
        committed version, or None when every file is already current."""

        def plan(snap):
            m = snap["spec"]["num_buckets"]
            legacy = [f for f in snap["files"] if _entry_gen(f, m) != m]
            if max_files is not None:
                legacy = legacy[:max_files]
            if not legacy:
                return None
            schema = T.StructType.fromJson(snap["schema"])
            entries: list[dict] = []
            base_sel = [f for f in legacy if not f.get("delta")]
            delta_sel = [f for f in legacy if f.get("delta")]
            if base_sel:
                entries += self._write_data_files(
                    self._read_projected(base_sel, schema), snap
                )
            if delta_sel:
                entries += self._write_data_files(
                    self._read_projected(delta_sel, schema, with_op=True),
                    snap, delta=True,
                )
            return _Plan(
                guard=None,
                add=entries,
                remove={f["path"] for f in legacy},
                summary={"migrated_files": len(legacy)},
                written=entries,
            )

        return self._commit("migrate", plan)

    def evolve_schema(self, new_schema: T.StructType) -> int:
        """Retype-in-place / add-column schema evolution commit. Existing
        data files stay; readers cast-project them to the new schema. A
        lost race re-plans on the winner (guard None)."""
        return self._commit(
            "evolve",
            lambda snap: _Plan(
                guard=None,
                meta={
                    "schema": json.loads(new_schema.json()),
                    "schema_version": snap["schema_version"] + 1,
                },
            ),
        )

    # ------------------------------------------------------------------

    def _child(self, snap: dict, operation: str) -> dict:
        return {
            "version": snap["version"] + 1,
            "parent": snap["version"],
            "schema": snap["schema"],
            "schema_version": snap["schema_version"],
            "spec": snap["spec"],
            "files": [],
            "summary": {
                "batch_ids": dict(snap["summary"].get("batch_ids", {})),
                "lineage": [],
                "operation": operation,
            },
        }

    @staticmethod
    def bucket_compact_threshold(spec: dict, bucket: int) -> int:
        """Per-bucket delta-chain compaction threshold: the configured
        threshold plus a deterministic stagger (Fibonacci-hash of the
        bucket id mod jitter+1) so uniform churn does not synchronize
        every bucket's fold into one stop-the-world batch."""
        threshold = spec.get("compact_threshold", 8)
        jitter = spec.get("compact_jitter", max(threshold // 2, 0))
        if not jitter:
            return threshold
        return threshold + (bucket * 2654435761) % (jitter + 1)

    @staticmethod
    def _fenced(snap: dict, source: str, batch_id: int) -> bool:
        last = snap["summary"].get("batch_ids", {}).get(source)
        return last is not None and batch_id <= last

    def last_batch_id(self, source: str = "default") -> "int | None":
        return self.snapshot()["summary"].get("batch_ids", {}).get(source)

    # ------------------------------------------------------------------
    # branches: write-audit-publish
    # ------------------------------------------------------------------
    #
    # The Iceberg WAP (write-audit-publish) staging pattern, branch-ref
    # style: ingest lands on an isolated branch, audits run against the
    # branch state, and a metadata-only fast-forward makes it visible on
    # main — or the branch is dropped and GC reclaims its files. A branch
    # is an IceTable handle whose snapshot log lives under
    # metadata/branches/<name>/ while DATA files share the table's data/
    # dir (uuid-dir writes never collide), so every existing operation —
    # merge_into with fencing, MOR compaction, changes(), scan pruning,
    # even rebucket/evolve_schema — works on a branch unmodified. At
    # 10^10-row scale nothing here copies data: fork, publish, and drop
    # are all O(metadata).

    @property
    def branch_name(self) -> "str | None":
        """This handle's branch name, or None for the main table."""
        return getattr(self, "_branch_name", None)

    def _branches_dir(self) -> str:
        return os.path.join(self.root, "metadata", "branches")

    def _branch_handle(self, name: str) -> "IceTable":
        b = IceTable(self.spark, self.root)
        b.meta_dir = os.path.join(self._branches_dir(), name)
        b._branch_name = name
        return b

    def list_branches(self) -> list[str]:
        d = self._branches_dir()
        if not os.path.isdir(d):
            return []
        return sorted(
            n for n in os.listdir(d) if os.path.isdir(os.path.join(d, n))
        )

    def create_branch(self, name: str) -> "IceTable":
        """Fork a branch at the current version (operation='branch') —
        the W of write-audit-publish. O(1): copies one snapshot dict into
        the branch's log; no data movement. The returned handle supports
        the full write surface; main readers never see branch commits."""
        if self.branch_name is not None:
            raise ValueError("cannot branch from a branch; use the main handle")
        if not re.fullmatch(r"[A-Za-z0-9._-]+", name or ""):
            raise ValueError(f"invalid branch name {name!r}")
        b = self._branch_handle(name)
        if b.current_version() is not None:
            raise ValueError(f"branch {name!r} already exists")
        os.makedirs(b.meta_dir, exist_ok=True)
        snap = self.snapshot()
        fork = dict(snap)
        fork["summary"] = dict(
            snap["summary"], operation="branch", branch_of=snap["version"]
        )
        b._write_snapshot(fork)  # same version number = the fork point
        return b

    def branch(self, name: str) -> "IceTable":
        """Handle for an existing branch."""
        b = self._branch_handle(name)
        if b.current_version() is None:
            raise FileNotFoundError(f"no branch {name!r} at {self.root}")
        return b

    def publish_branch(self, name: str, drop: bool = True) -> int:
        """Fast-forward publish (the P of write-audit-publish): commit the
        branch HEAD's state as the next MAIN version, metadata-only.

        Squash semantics: one main commit carrying the branch head's
        files/spec/schema AND its batch-id fences — ``changes()`` across
        the publish is the branch's net churn since the fork (state
        diff), and redelivering an already-staged batch to main after
        publish is a fenced no-op, so exactly-once survives the publish.

        Fast-forward ONLY: if main advanced past the fork point, the
        audit validated a stale base — raises :class:`CommitConflict`;
        re-branch and re-apply (staged batches are fenced per source, so
        re-applying them to a fresh branch is idempotent). A writer that
        wins the race for the same main version makes the publish re-plan
        (guard None) into this check, so it raises too."""
        if self.branch_name is not None:
            raise ValueError("publish from the main handle")
        b = self.branch(name)
        head = b.snapshot()
        fork_v = min(b.versions())

        def plan(snap):
            if snap["version"] != fork_v:
                raise CommitConflict(
                    f"main advanced {fork_v} -> {snap['version']} since branch "
                    f"{name!r} forked; audit is stale — re-branch and re-apply"
                )
            if head["version"] == fork_v:  # nothing staged
                return None
            return _Plan(
                guard=None,
                add=head["files"],
                remove={f["path"] for f in snap["files"]},
                meta={k: head[k] for k in ("schema", "schema_version", "spec")},
                summary={
                    "batch_ids": dict(head["summary"].get("batch_ids", {})),
                    "lineage": head["summary"].get("lineage", []),
                    "branch": name,
                    "branch_head": head["version"],
                },
            )

        v = self._commit("publish", plan)
        if drop:
            self.drop_branch(name)
        return v if v is not None else fork_v

    def drop_branch(self, name: str) -> None:
        """Abandon a branch (the audit-failed path). Metadata goes now;
        branch-only data files become unreferenced and fall to
        ``expire_snapshots``'s orphan scan after the grace window."""
        if self.branch_name is not None:
            raise ValueError("drop from the main handle")
        b = self.branch(name)
        shutil.rmtree(b.meta_dir)

    # ------------------------------------------------------------------
    # tags: named immutable snapshot refs
    # ------------------------------------------------------------------
    #
    # Iceberg-style tags: a tag pins a committed version under a stable
    # name ("training-run-2026-08", "audited") so readers can address it
    # without version-number bookkeeping, and ``expire_snapshots`` keeps
    # the pinned snapshot AND its data files alive past the retention
    # horizon until the tag is dropped. Tags are immutable (exclusive
    # create — re-pointing a tag is drop + create, two deliberate steps)
    # and O(metadata): one tiny JSON file per tag under the handle's own
    # meta dir, so branch handles get independent tag namespaces for free.

    def _tags_dir(self) -> str:
        return os.path.join(self.meta_dir, "tags")

    def create_tag(self, name: str, version: "int | None" = None) -> int:
        """Pin ``version`` (default: current) under ``name``. Returns the
        pinned version. Exclusive-create makes concurrent taggers race
        safely — one wins, the rest get the error."""
        if not re.fullmatch(r"[A-Za-z0-9._-]+", name or ""):
            raise ValueError(f"invalid tag name {name!r}")
        v = self.current_version() if version is None else version
        if v is None or v not in set(self.versions()):
            raise ValueError(f"no committed version {v} to tag")
        os.makedirs(self._tags_dir(), exist_ok=True)
        try:
            with open(os.path.join(self._tags_dir(), name + ".json"), "x") as f:
                json.dump({"version": v}, f)
        except FileExistsError:
            raise ValueError(
                f"tag {name!r} already exists (tags are immutable: "
                "drop_tag then re-create to re-point)"
            ) from None
        return v

    def tag_version(self, name: str) -> int:
        try:
            with open(os.path.join(self._tags_dir(), name + ".json")) as f:
                return json.load(f)["version"]
        except FileNotFoundError:
            raise FileNotFoundError(f"no tag {name!r} at {self.root}") from None

    def list_tags(self) -> dict:
        """{name: pinned version}, name-sorted."""
        d = self._tags_dir()
        if not os.path.isdir(d):
            return {}
        out = {}
        for fn in sorted(os.listdir(d)):
            if fn.endswith(".json"):
                with open(os.path.join(d, fn)) as f:
                    out[fn[:-5]] = json.load(f)["version"]
        return out

    def drop_tag(self, name: str) -> None:
        """Unpin — the version falls back under normal retention at the
        next ``expire_snapshots``."""
        try:
            os.remove(os.path.join(self._tags_dir(), name + ".json"))
        except FileNotFoundError:
            raise FileNotFoundError(f"no tag {name!r} at {self.root}") from None
