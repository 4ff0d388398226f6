"""CDC apply loop: binlog tail → tsfmt coercion → dedup-latest → MERGE.

The north-star pipeline:

* micro-batch tailing via Structured Streaming ``readStream`` +
  ``foreachBatch`` (each micro-batch is a bounded DataFrame);
* the tsfmt schema-coercion layer (the reference's cast semantics) turns
  raw event-time representations into the target's typed columns;
* ``stop_on_invalid_record`` aborts BEFORE the merge commit (exactly-once
  preserved on failure);
* dedup latest-by-(doc_id, event_seq): two-phase ``max_by`` aggregation —
  map-side partial aggregation absorbs hot keys; an explicit salt stage
  (``salt_buckets``) adds a pre-shuffle spread for extreme skew;
* idempotent batch-id-fenced ``merge_into`` (duplicate delivery of a
  micro-batch after restart is a no-op → exactly-once table state);
* lineage recorded at two granularities from ONE stats pass: per-batch
  (offset range, op and invalid counts, formats planned) in the
  committed snapshot's summary, plus the snapshot version and phase
  seconds in ``CdcPipeline.metrics``; and per source partition (key-hash
  mod P — how a keyed CDC stream assigns partitions) appended to a
  queryable parquet metrics table (``metrics_table_path``);
* the format-prefix rule: a batch whose rows all parse with their
  column's first format is coerced by a plan of that format alone (see
  ``apply_batch``), so an aligned feed never plans the cascade's later
  formats.

At cluster scale the only shuffles per batch are the dedup aggregation
and the bucketed merge write; both key on doc_id, so AQE coalesces or
splits them as data dictates.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import policy
from ..lake import IceTable
from ..plans import InvalidFlagPlan, TaskConfig, apply_task, invalid_filter
from ..plans.apply import CompiledProjection, first_format_task
from ..sources.binlog import BINLOG_SCHEMA

# target table: pre-tokenized training sequences + engine-managed time cols
TARGET_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("tokens", T.ArrayType(T.IntegerType())),
        T.StructField("n_tok", T.IntegerType()),
        T.StructField("source", T.StringType()),
        T.StructField("event_time_str", T.StringType()),
        T.StructField("event_time", T.TimestampType()),
        T.StructField("ingest_time_unix", T.LongType()),
        T.StructField("event_seq", T.LongType()),
    ]
)


def default_coercion_task() -> TaskConfig:
    """The schema-evolution/coercion step every batch runs: the raw
    event_time_str is normalized to the reference's default output format,
    the epoch-ms long becomes a typed timestamp, and the fractional epoch
    double becomes whole-second long — the reference's cast matrix live in
    a CDC pipeline (tokens pass through untouched)."""
    return TaskConfig.from_dict(
        {
            "default_from_timestamp_format": [
                "%Y-%m-%d %H:%M:%S.%N %z",
                "%Y-%m-%d %H:%M:%S %z",
                "%Y-%m-%d %H:%M:%S",
            ],
            "columns": [
                # string → string (normalize to default to_format, µs + offset)
                {"name": "event_time_str", "type": "string"},
                # long epoch-ms → typed timestamp
                {"name": "event_time_ms", "type": "timestamp", "from_unit": "ms"},
                # double epoch-sec → long epoch-sec (trunc)
                {"name": "event_time_sec", "type": "long", "from_unit": "sec", "to_unit": "sec"},
            ],
        }
    )


def dedup_latest(
    df: DataFrame,
    key: str = "doc_id",
    seq: str = "event_seq",
    salt_buckets: int = 0,
    broadcast_maxes: bool = True,
) -> DataFrame:
    """Keep the row with the max `seq` per `key` (`seq` values are unique
    per key — binlog positions).

    Implementation: hash-aggregate ``max(seq)`` per key (fixed-width
    buffer → HashAggregate with map-side partial combine, which absorbs
    hot keys before the shuffle), then join the (key, max seq) pairs back
    to fetch the payload. The maxes side is tiny (two scalar columns) —
    broadcast by default, so the payload rows are filtered WITHOUT any
    shuffle or sort of the wide batch. A ``max_by(struct(payload))``
    aggregation would compile to SortAggregate (two full sorts of the
    wide rows); row_number() over a window is the semantic spec in tests
    but has the same sort problem.

    ``salt_buckets`` adds an explicit (key, salt) pre-aggregation for
    pathological skew beyond what partial aggregation absorbs.
    At cluster scale set ``broadcast_maxes=False`` when the distinct-key
    count per batch is too large to broadcast; AQE then picks a
    shuffled-hash join.
    """
    if salt_buckets and salt_buckets > 1:
        salted = df.withColumn("__salt", F.pmod(F.col(seq), F.lit(salt_buckets)))
        partial = salted.groupBy(key, "__salt").agg(F.max(seq).alias(seq))
        maxes = partial.groupBy(key).agg(F.max(seq).alias(seq))
    else:
        maxes = df.groupBy(key).agg(F.max(seq).alias(seq))
    if broadcast_maxes:
        maxes = F.broadcast(maxes)
    return df.join(maxes, [key, seq])


class InvalidRecordError(RuntimeError):
    pass


_STATS_COLS = ["offset", "op", "doc_id"]  # raw columns the stats pass reads

# Hot-key detection reads a sample of at most this many doc_ids. The key
# distribution of a binlog is stable across micro-batches, so the probe
# runs on the first batch and then every SKEW_PROBE_INTERVAL-th: the
# probe action drops out of the per-batch serial floor.
SKEW_SAMPLE_ROWS = 50_000
SKEW_PROBE_INTERVAL = 8


class CdcPipeline:
    """Binds a source dir, an IceTable target, and the coercion task."""

    def __init__(
        self,
        spark: SparkSession,
        table: IceTable,
        source_name: str = "binlog",
        salt_buckets: int = 0,
        stop_on_invalid_record: bool = False,
        metrics_table_path: "str | None" = None,
        num_source_partitions: int = 8,
        skew_detect: bool = True,
        skew_threshold: float = 0.05,
    ):
        self.spark = spark
        self.table = table
        self.source_name = source_name
        self.task = default_coercion_task()
        self.task.stop_on_invalid_record = stop_on_invalid_record
        self.salt_buckets = salt_buckets
        # per-partition lineage rows land here as a queryable parquet
        # metrics table (spark.read.parquet); None disables the write
        self.metrics_table_path = metrics_table_path
        self.num_source_partitions = num_source_partitions
        self.metrics: list[dict] = []
        # per-batch count-based hot-key detection (SURVEY §4): when the
        # estimated share of the hottest doc_id exceeds skew_threshold,
        # the dedup aggregation runs with an explicit salt stage sized to
        # the fan-out width (policy.width). salt_buckets > 0 forces it
        # statically.
        self.skew_detect = skew_detect
        self.skew_threshold = skew_threshold
        self._batches_since_probe: "int | None" = None
        self._last_salt = 0
        # the format-prefix rule's state and its lazily built plans,
        # keyed by `narrow` (first format only) — see apply_batch
        self._narrow = False
        self._tasks: dict = {}
        self._projs: dict = {}
        self._flags: dict = {}
        self._out_cols = None

    # ------------------------------------------------------------------

    def coerce(
        self, batch_df: DataFrame, proj: "CompiledProjection | None" = None
    ) -> DataFrame:
        """tsfmt layer → target schema. tokens untouched (invariant).

        ``proj`` is the coercion projection to apply: by default the full
        format cascade, exact on any input; ``apply_batch`` passes the one
        its stats pass chose. Projections (stage columns included) are
        compiled once per pipeline and reused for every micro-batch —
        per-batch Python work is just two `select` calls."""
        if proj is None:
            proj = self._projection(batch_df.schema, narrow=False)
        if self._out_cols is None:
            self._out_cols = [
                F.col("op"),
                F.col("doc_id"),
                F.col("event_seq"),
                F.col("offset"),
                F.col("tokens"),
                F.col("n_tok"),
                F.col("source"),
                F.col("event_time_str"),
                F.col("event_time_ms").alias("event_time"),
                F.col("event_time_sec").alias("ingest_time_unix"),
            ]
        return proj.apply(batch_df).select(*self._out_cols)

    def _task(self, schema: T.StructType, narrow: bool) -> TaskConfig:
        """The coercion task, or its first-format cut when `narrow`."""
        if narrow not in self._tasks:
            self._tasks[narrow] = (
                first_format_task(self.task, schema) if narrow else self.task
            )
        return self._tasks[narrow]

    def _projection(self, schema: T.StructType, narrow: bool) -> CompiledProjection:
        if narrow not in self._projs:
            self._projs[narrow] = CompiledProjection(self._task(schema, narrow), schema)
        return self._projs[narrow]

    def _flag_plan(self, schema: T.StructType, narrow: bool) -> "InvalidFlagPlan | None":
        """The stats pass's invalid flag (None when no column can fail).
        STAGED as two projections (one nanos column PER format, then a
        cheap attribute cascade): inlined directly under the hash
        aggregate the multi-format coalesce re-runs each later format's
        regex per field reference (conditional-context CSE defeat) AND
        exceeds janino's 64 KB method limit, de-optimizing the stage."""
        if narrow not in self._flags:
            plan = InvalidFlagPlan(schema, self._task(schema, narrow), _STATS_COLS)
            self._flags[narrow] = plan if plan.can_fail else None
        return self._flags[narrow]

    def _invalid_by_part(self, batch_df: DataFrame, part_col) -> dict:
        """Exact full-cascade invalid count per source partition: one job
        over the raw batch."""
        plan = self._flag_plan(batch_df.schema, narrow=False)
        return {
            r["__part"]: r["invalid"]
            for r in plan.apply(batch_df)
            .groupBy(part_col.alias("__part"))
            .agg(F.sum(InvalidFlagPlan.FLAG).alias("invalid"))
            .collect()
        }

    def _detect_skew(self, batch_df: DataFrame, events: int) -> int:
        """Count-based hot-key detection on a bounded doc_id sample: the
        estimated hottest-key share ≥ skew_threshold engages the salted
        dedup path, sized to the fan-out width. Cost: one column-pruned
        scan of doc_id (sampled) + a key-count aggregate."""
        frac = min(1.0, SKEW_SAMPLE_ROWS / max(events, 1))
        keys = batch_df.select("doc_id")
        if frac < 1.0:
            keys = keys.sample(fraction=frac, seed=7)
        top = keys.groupBy("doc_id").count().agg(
            F.max("count").alias("hot"), F.sum("count").alias("total")
        ).collect()[0]
        if not top["total"] or top["hot"] / top["total"] < self.skew_threshold:
            return 0
        return policy.width(self.spark)

    @property
    def wholestage_codegen(self) -> bool:
        """Whether whole-stage codegen is on inside apply_batch: never (see
        there). Read-only, so a harness that times one stage alone can run
        it under the same setting."""
        return False

    def apply_batch(self, batch_df: DataFrame, batch_id: int) -> "int | None":
        """foreachBatch body. Returns committed snapshot version.

        The format-prefix rule. On a small batch, planning and compiling
        the multi-format parse cascade costs more than running it, so the
        batch plans the cascade only when its rows need it. The stats
        pass sums ``miss1``: rows with a non-null configured string value
        that their column's first (effective) format does not parse. A
        batch with ``miss1 == 0`` is coerced by a plan of each column's
        first format alone — exact, since first-match-wins makes the
        cascade equal format 1 wherever format 1 parses — and otherwise by
        the full cascade. The stats pass runs in one of two modes,
        because a binlog's shape is stable across micro-batches (the same
        premise as the skew probe's interval):

        * full (the first batch, and after any miss): the full-cascade
          invalid flag, with ``miss1`` read off its format-1 column for
          free. A batch with ``miss1 == 0`` switches to narrow mode.
        * narrow: a format-1-only flag, which counts ``miss1`` and implies
          0 invalid rows when it is 0. When it is not, one more job over
          the raw batch counts the exact full-cascade invalid rows (per
          source partition), the batch is coerced by the full cascade,
          and the pipeline returns to full mode.

        ``stop_on_invalid_record`` aborts on the exact count in both modes,
        before ``merge_into``. ``metrics``/lineage record
        ``formats_planned`` (1, or the cascade's length).

        Whole-stage codegen is DISABLED inside the batch: the inline
        multi-format parse cascade compiled to a >64 KB method under WSCG
        fusion (WSCG cannot split expression code whose inputs are
        locals) — every batch paid a failed janino compile then ran
        interpreted. The staged per-format projection no longer blows the
        limit, but per-operator codegen still measures equal-or-faster
        (alternating 2M-event replays: best 31.3 s off vs 35.7 s on)."""
        prev = self.spark.conf.get("spark.sql.codegen.wholeStage", "true")
        self.spark.conf.set(
            "spark.sql.codegen.wholeStage", str(self.wholestage_codegen).lower()
        )
        try:
            return self._apply_batch(batch_df, batch_id)
        finally:
            self.spark.conf.set("spark.sql.codegen.wholeStage", prev)

    def _apply_batch(self, batch_df: DataFrame, batch_id: int) -> "int | None":
        # one snapshot read serves the fence and the bucket count; the
        # merge re-checks the fence against its own read at commit time
        snap = self.table.snapshot()
        if self.table._fenced(snap, self.source_name, batch_id):
            return None  # fenced duplicate delivery

        t0 = time.time()
        schema = batch_df.schema
        narrow = self._narrow
        # batch lineage stats from the RAW batch: a column-pruned scan
        # (parquet footer stats make this nearly free). The invalid-record
        # and format-1 miss counts fold into the SAME pass (they alone
        # force the parse of the configured string columns) — they feed
        # lineage observability, stop_on_invalid_record and the
        # format-prefix rule, so none of them costs an extra scan.
        # (An Observation would be free-er, but Observation.get never
        # resolves for foreachBatch micro-batch lineage.) The count is the
        # observability twin of the reference's per-value WARN
        # (ColumnVisitorImpl.java:90-97).
        aggs = [
            F.count(F.lit(1)).alias("events"),
            F.min("offset").alias("min_offset"),
            F.max("offset").alias("max_offset"),
            F.sum(F.when(F.col("op") == "D", 1).otherwise(0)).alias("deletes"),
        ]
        stats_in = batch_df.select(*_STATS_COLS)
        flag_plan = self._flag_plan(schema, narrow)
        if flag_plan is not None:
            stats_in = flag_plan.apply(batch_df)
            aggs.append(F.sum(InvalidFlagPlan.FLAG).alias("invalid"))
            aggs.append(F.sum(InvalidFlagPlan.MISS1).alias("miss1"))
        # per-source-partition lineage in the SAME pass (north-rule
        # granularity): partition = key-hash mod P, the assignment a keyed
        # CDC stream (e.g. key-partitioned Kafka topic) would carry. The
        # groupBy costs nothing extra — fixed-width groups, map-side
        # combined; batch totals derive driver-side from the few rows.
        #
        # r06: the SAME aggregate also carries the merge's touched-bucket
        # probe — grouping additionally by the table's bucket expression
        # and harvesting each bucket's key envelope (min/max). The merge
        # then skips its own probe job (probe_rows below), so the raw
        # batch is scanned ONCE for stats + probe instead of twice.
        t_buckets = snap["spec"]["num_buckets"]
        part_col = F.pmod(
            F.xxhash64("doc_id"), F.lit(self.num_source_partitions)
        )

        combined = [
            r.asDict()
            for r in stats_in.withColumn("__part", part_col)
            .withColumn("__bucket", self.table._bucket_expr("doc_id", t_buckets))
            .groupBy("__part", "__bucket")
            .agg(
                *aggs,
                F.min("doc_id").alias("__lo"),
                F.max("doc_id").alias("__hi"),
            )
            .collect()
        ]

        # r06: ONE raw-batch aggregate serves lineage stats AND the
        # merge's touched-bucket probe — the (part x bucket) grid rolls
        # up to per-part lineage rows driver-side, and each bucket's key
        # envelope (min/max) goes to merge_into as probe_rows so the
        # merge runs no probe job of its own. (An overlapped-thread
        # variant — stats concurrent with the merge write — measured
        # SLOWER here: the write stages already saturate the cores, so
        # the stats job contended instead of back-filling, and the merge
        # had to re-run its own probe. Serial + fused wins.)
        if not combined:
            return None
        pstats_by_part: dict = {}
        env: dict = {}
        for r in combined:
            p = pstats_by_part.setdefault(
                r["__part"],
                {"__part": r["__part"], "min_offset": None, "max_offset": None},
            )
            for k in ("events", "deletes", "invalid", "miss1"):
                if k in r:
                    p[k] = p.get(k, 0) + (r[k] or 0)
            p["min_offset"] = (
                r["min_offset"] if p["min_offset"] is None
                else min(p["min_offset"], r["min_offset"])
            )
            p["max_offset"] = (
                r["max_offset"] if p["max_offset"] is None
                else max(p["max_offset"], r["max_offset"])
            )
            b = r["__bucket"]
            lo, hi = env.get(b, (None, None))
            env[b] = (
                r["__lo"] if lo is None else min(lo, r["__lo"]),
                r["__hi"] if hi is None else max(hi, r["__hi"]),
            )
        pstats = sorted(pstats_by_part.values(), key=lambda p: p["__part"])
        probe_rows = (t_buckets, [(b, lo, hi) for b, (lo, hi) in env.items()])
        # the format-prefix rule (see apply_batch)
        miss1 = sum(p.get("miss1", 0) for p in pstats)
        if narrow and miss1:
            exact = self._invalid_by_part(batch_df, part_col)
            for p in pstats:
                p["invalid"] = exact.get(p["__part"]) or 0
        fits = not miss1 and self._task(schema, True) is not self.task
        self._narrow = fits
        n_bad = sum(p.get("invalid", 0) for p in pstats)
        if self.task.stop_on_invalid_record and n_bad:
            raise InvalidRecordError(
                f"batch {batch_id}: {n_bad} unparseable record(s); "
                "aborting before commit"
            )
        events = sum(r["events"] for r in pstats)

        salt = self.salt_buckets
        if self.skew_detect and not salt:
            if (
                self._batches_since_probe is None
                or self._batches_since_probe >= SKEW_PROBE_INTERVAL
            ):
                self._last_salt = self._detect_skew(batch_df, events)
                self._batches_since_probe = 0
            self._batches_since_probe += 1
            salt = self._last_salt

        # r06: dedup BEFORE coercion. The coercion is a row-wise
        # projection that passes doc_id/event_seq through untouched, and
        # dedup-latest only selects rows by (key, max seq) — so the two
        # commute and the tsfmt parse runs over the per-key latest rows
        # only (~1/3 of the raw batch on the headline replay) instead of
        # every raw event. The maxes aggregate reads raw columns either
        # way (column pruning keeps the parse out of it). The projection
        # is the one the format-prefix rule chose: the latest rows are a
        # subset of the raw batch, so miss1 == 0 holds for them too.
        proj = self._projection(schema, narrow=fits)
        latest = self.coerce(dedup_latest(batch_df, salt_buckets=salt), proj)
        t_plan = time.time()

        updates = latest.select(
            "op", "doc_id", "tokens", "n_tok", "source",
            "event_time_str", "event_time", "ingest_time_unix", "event_seq",
        )
        # everything known before the commit goes into the lineage the
        # snapshot summary records; merge_into serializes it at commit
        lineage = {
            "batch_id": batch_id,
            "source": self.source_name,
            "events": events,
            "min_offset": min(r["min_offset"] for r in pstats),
            "max_offset": max(r["max_offset"] for r in pstats),
            "deletes": sum(r["deletes"] for r in pstats),
            "invalid": n_bad,
            "salt_buckets": salt,
            "formats_planned": proj.formats_planned,
            # the stats pass, skew probe and (lazy) plan building; the
            # dedup and coercion execute inside merge_into
            "stats_sec": round(t_plan - t0, 3),
        }
        # touched buckets + key envelopes ride the stats aggregate above
        # (probe_rows) — the merge runs NO probe job; the slim raw key
        # projection is still handed over for the anti-join key set and
        # the (split-layout-only) exact range probe. The coercion+dedup
        # plan executes exactly ONCE, in the copy-on-write write action.
        version = self.table.merge_into(
            updates,
            batch_id=batch_id,
            source=self.source_name,
            lineage=lineage,
            probe_df=batch_df.select("doc_id"),
            probe_rows=probe_rows,
        )
        if version is None:
            return None  # empty batch: nothing merged, nothing committed
        lineage["snapshot_version"] = version
        lineage["merge_sec"] = round(time.time() - t_plan, 3)
        lineage["wall_time"] = time.time()
        self.metrics.append(lineage)
        if self.metrics_table_path:
            self._write_metrics_rows(pstats, batch_id, version, salt)
        return version

    def _write_metrics_rows(
        self, pstats: list[dict], batch_id: int, version: int, salt: int
    ) -> None:
        """Per-partition lineage rows → the parquet metrics table
        (queryable with spark.read.parquet). Written driver-side with
        pyarrow: ≤ num_source_partitions rows per batch, so a Spark write
        action here would only add ~0.5 s to the per-batch serial floor."""
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        os.makedirs(self.metrics_table_path, exist_ok=True)
        now = time.time()
        n = len(pstats)
        cols = {
            "batch_id": pa.array([batch_id] * n, pa.int64()),
            "source": pa.array([self.source_name] * n, pa.string()),
            "partition": pa.array([r["__part"] for r in pstats], pa.int64()),
            "events": pa.array([r["events"] for r in pstats], pa.int64()),
            "min_offset": pa.array([r["min_offset"] for r in pstats], pa.int64()),
            "max_offset": pa.array([r["max_offset"] for r in pstats], pa.int64()),
            "deletes": pa.array([r["deletes"] for r in pstats], pa.int64()),
            "invalid": pa.array([r.get("invalid") or 0 for r in pstats], pa.int64()),
            "salt_buckets": pa.array([salt] * n, pa.int64()),
            "snapshot_version": pa.array([version] * n, pa.int64()),
            "wall_time": pa.array([now] * n, pa.float64()),
        }
        pq.write_table(
            pa.table(cols),
            os.path.join(
                self.metrics_table_path, f"b{batch_id}_{uuid.uuid4().hex[:8]}.parquet"
            ),
        )

    # ------------------------------------------------------------------

    def replay_stream(
        self,
        binlog_dir: str,
        checkpoint_dir: str,
        max_files_per_trigger: "int | None" = None,
    ) -> None:
        """Tail the binlog dir with Structured Streaming; exactly-once via
        checkpointed offsets + batch-id-fenced commits."""
        reader = (
            self.spark.readStream.schema(BINLOG_SCHEMA)
            .option("latestFirst", "false")
            .option("maxFilesPerTrigger", max_files_per_trigger or 4)
        )
        stream = reader.parquet(os.path.join(binlog_dir, "chunk_*"))
        q = (
            stream.writeStream.foreachBatch(lambda df, bid: self.apply_batch(df, bid))
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    def replay_chunks(self, chunk_paths: list[str], start_batch: int = 0) -> None:
        """Bounded replay (one batch per chunk) — the deterministic test
        harness; byte-equal to the streaming path by construction."""
        for i, path in enumerate(chunk_paths):
            df = self.spark.read.schema(BINLOG_SCHEMA).parquet(path)
            self.apply_batch(df, start_batch + i)
