"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` — flagship CDC round over sf0.001 events.
`queries()` — one entry per implemented operator (SURVEY.md §2 + the
training-data pipeline ops); each callable takes (spark, sf_dir).
`oracle_sql()` — DuckDB twins for every SQL-expressible query.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from embulk_filter_timestamp_format_spark import policy
from embulk_filter_timestamp_format_spark.functions.format import TimestampFormatterPlan
from embulk_filter_timestamp_format_spark.functions.parse import TimestampParserPlan
from embulk_filter_timestamp_format_spark.functions import units as U
from embulk_filter_timestamp_format_spark.functions.units import TimestampUnit
from embulk_filter_timestamp_format_spark.operators import decontaminate as DC
from embulk_filter_timestamp_format_spark.operators import dedup as D
from embulk_filter_timestamp_format_spark.operators import lines as L
from embulk_filter_timestamp_format_spark.operators import sampling as SAMP
from embulk_filter_timestamp_format_spark.operators import similarity as S
from embulk_filter_timestamp_format_spark.operators import text as TX
from embulk_filter_timestamp_format_spark.operators.text import LANG_MARKERS, STOPWORDS, BPE_TOKEN_RE
from embulk_filter_timestamp_format_spark.lake import changelog_diff
from embulk_filter_timestamp_format_spark.streaming.cdc import dedup_latest


# r06 guide-§2.5/§6 fix: each sf table is ONE parquet file (sf1.0 events
# = 16 MB), i.e. 1-2 input splits at the default 128 MB maxPartitionBytes
# — so every per-row-heavy projection (regex parse, shingle/sketch HOFs,
# dot products) ran near-serial regardless of core count. Above the
# size gate the scan is spread over the session's width by hashing the
# unique id (embulk_filter_timestamp_format_spark/policy.py).
def _read_spread(spark: SparkSession, path: str, id_col: str) -> DataFrame:
    return policy.spread(spark.read.parquet(path), id_col)


def _events(spark: SparkSession, sf_dir: str, spread: bool = True) -> DataFrame:
    # spread on user_id, not event_id: the consumers that keep the
    # fan-out (changelog, sessionize, as-of, range-join) hash-partition
    # by user_id at the same shuffle width, so EnsureRequirements
    # recognises the exchange as already satisfying the window/join
    # requirement. r06 single-file-layout A/B (plans/r06, OPTIMIZATION
    # notes): the spread WINS for per-row-heavy projections (the tsfmt
    # parse/format/json family, 2-5x) and partition-reusing windows, and
    # LOSES for aggregation-first queries where it forfeits map-side
    # combine and pre-shuffles full rows (dedup-latest, merge-upsert,
    # window counts, lineage aggregates, rebucket) - those pass
    # spread=False, as do the trivial projections (epoch_units,
    # unit_change) and the append-bound time-scan build.
    if not spread:
        return spark.read.parquet(f"{sf_dir}/events.parquet")
    return _read_spread(spark, f"{sf_dir}/events.parquet", "user_id")


def _docs(spark: SparkSession, sf_dir: str, spread: bool = True) -> DataFrame:
    # same single-file-layout A/B policy as _events (r06): the fan-out
    # wins 3-12x for tokenizer/regex-heavy consumers (quality_filter,
    # repetition_signals, pii_scrub, url family, the LSH extractions)
    # and loses for aggregation-first or pure-projection consumers
    # (dedup_exact, contamination, split/sample) - those opt out.
    if not spread:
        return spark.read.parquet(f"{sf_dir}/documents.parquet")
    return _read_spread(spark, f"{sf_dir}/documents.parquet", "doc_id")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _read_spread(spark, f"{sf_dir}/embeddings.parquet", "vec_id")


def _ts_nanos(col):
    return U.col_timestamp_to_nanos(col)


# ---------------------------------------------------------------------------
# tsfmt kernels (reference ops 8-17) over the events table
# ---------------------------------------------------------------------------


def q_tsfmt_format_string(spark, sf_dir):
    """timestamp → string, reference default to_format %Y-%m-%d %H:%M:%S.%6N %z."""
    fmt = TimestampFormatterPlan("%Y-%m-%d %H:%M:%S.%6N %z", "UTC")
    ev = _events(spark, sf_dir)
    return ev.select(
        F.col("event_id"), fmt.format_expr(_ts_nanos(F.col("ts"))).alias("ts_str")
    )


def q_tsfmt_parse_roundtrip(spark, sf_dir):
    """string → timestamp via the ruby-dialect parser; round-trips the µs
    instant. STAGED projections (render → parse → convert): composing
    the parse tree directly over the formatter tree puts the formatter
    subtrees into the parse expression's conditional branches where
    subexpression elimination does not reach (measured 3× slower
    inline)."""
    fmt = TimestampFormatterPlan("%Y-%m-%d %H:%M:%S.%N", "UTC")
    parser = TimestampParserPlan(["%Y-%m-%d %H:%M:%S.%N"], "UTC")
    ev = _events(spark, sf_dir)
    rendered = ev.select(
        F.col("event_id"), fmt.format_expr(_ts_nanos(F.col("ts"))).alias("__s")
    )
    staged = parser.parse_df(rendered, "__s", "__n")
    return staged.select(
        F.col("event_id"), U.col_nanos_to_timestamp(F.col("__n")).alias("parsed_ts")
    )


def q_tsfmt_epoch_units(spark, sf_dir):
    """instant → epoch long/double at several units (ops 11-12)."""
    ev = _events(spark, sf_dir, spread=False)
    nanos = _ts_nanos(F.col("ts"))
    return ev.select(
        F.col("event_id"),
        U.col_nanos_to_long(nanos, TimestampUnit.SECOND).alias("epoch_sec"),
        U.col_nanos_to_long(nanos, TimestampUnit.MILLISECOND).alias("epoch_ms"),
        U.col_nanos_to_long(nanos, TimestampUnit.MICROSECOND).alias("epoch_us"),
        U.col_nanos_to_double(nanos, TimestampUnit.SECOND).alias("epoch_sec_d"),
    )


def q_tsfmt_unit_change(spark, sf_dir):
    """long epoch unit rescale with trunc-toward-zero downscale (op 12)."""
    ev = _events(spark, sf_dir, spread=False)
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    return ev.select(
        F.col("event_id"),
        U.col_change_unit_long(us, TimestampUnit.MICROSECOND, TimestampUnit.MILLISECOND).alias("us_to_ms"),
        U.col_change_unit_long(us, TimestampUnit.MICROSECOND, TimestampUnit.SECOND).alias("us_to_sec"),
        U.col_change_unit_long(
            U.col_change_unit_long(us, TimestampUnit.MICROSECOND, TimestampUnit.SECOND),
            TimestampUnit.SECOND,
            TimestampUnit.NANOSECOND,
        ).alias("sec_to_ns"),
    )


def q_tsfmt_timezone_render(spark, sf_dir):
    """to_timezone changes rendering only (op 15): format @ Asia/Tokyo."""
    fmt = TimestampFormatterPlan("%Y-%m-%d %H:%M:%S", "Asia/Tokyo")
    ev = _events(spark, sf_dir)
    return ev.select(F.col("event_id"), fmt.format_expr(_ts_nanos(F.col("ts"))).alias("tokyo_str"))


def q_tsfmt_multiformat_cascade(spark, sf_dir):
    """multi-format fallback parse (op 13): mixed date-only / full strings.

    Uses the STAGED cascade (parse_df: one projection column per format,
    then a cheap attribute cascade) — the inline parse_expr coalesce
    re-runs later formats' regex extraction per field reference
    (conditional-context CSE defeat, ~15× the regex work per row)."""
    ev = _events(spark, sf_dir)
    raw = F.when(
        F.col("event_id") % 2 == 0, F.date_format(F.col("ts"), "yyyy-MM-dd HH:mm:ss")
    ).otherwise(F.date_format(F.col("ts"), "yyyy-MM-dd"))
    parser = TimestampParserPlan(["%Y-%m-%d %H:%M:%S", "%Y-%m-%d"], "UTC")
    parsed = parser.parse_df(ev.select("event_id", raw.alias("__raw")), "__raw", "__nanos")
    return parsed.select(
        F.col("event_id"),
        U.col_nanos_to_long(F.col("__nanos"), TimestampUnit.MILLISECOND).alias("parsed_ms"),
    )


def q_tsfmt_json_epoch(spark, sf_dir):
    """JSON-addressed scalar cast (ops 19-21): $.k epoch-sec → formatted string."""
    ev = _events(spark, sf_dir)
    fmt = TimestampFormatterPlan("%Y-%m-%d %H:%M:%S", "UTC")
    k = F.get_json_object(F.col("props"), "$.k").try_cast("long")
    nanos = U.col_long_to_nanos(k, TimestampUnit.SECOND)
    return ev.select(F.col("event_id"), fmt.format_expr(nanos).alias("k_ts"))


# ---------------------------------------------------------------------------
# CDC operators (north-rule additions: dedup window, merge join, lineage)
# ---------------------------------------------------------------------------


def q_cdc_dedup_latest(spark, sf_dir):
    ev = _events(spark, sf_dir, spread=False).select("user_id", "event_id", "event_type", "value")
    latest = dedup_latest(ev, key="user_id", seq="event_id")
    return latest.select("user_id", "event_id", "event_type", F.round("value", 6).alias("value"))


def q_cdc_merge_upsert(spark, sf_dir):
    """MERGE semantics as a bounded query: target = latest state from the
    first half of the stream, updates = latest from the second half
    ('error' events are deletes); output = merged state."""
    ev = _events(spark, sf_dir, spread=False)
    split = F.col("event_id") < 5000
    base = dedup_latest(
        ev.filter(split).select("user_id", "event_id", "event_type", "value"),
        key="user_id", seq="event_id",
    )
    upd = dedup_latest(
        ev.filter(~split).select("user_id", "event_id", "event_type", "value"),
        key="user_id", seq="event_id",
    ).withColumn("op", F.when(F.col("event_type") == "error", F.lit("D")).otherwise(F.lit("U")))
    # MERGE as (updated-key rows from upd, minus deletes) ∪ (base rows
    # whose key is untouched) — the broadcast-anti-join formulation the
    # engine's COW merge uses; a full-outer join would force a
    # SortMergeJoin of the wide rows. Semantics identical (the oracle
    # keeps the full-outer SQL spelling).
    survivors = upd.filter(F.col("op") != "D").select(
        "user_id", "event_id", "event_type", F.round("value", 6).alias("value")
    )
    untouched = base.join(F.broadcast(upd.select("user_id")), "user_id", "left_anti").select(
        "user_id", "event_id", "event_type", F.round("value", 6).alias("value")
    )
    return survivors.unionByName(untouched)


def q_cdc_rebucket(spark, sf_dir):
    """Bucket-count evolution end to end (lake/table.py::rebucket): the
    first half of the stream lands in a 4-bucket merge-on-read table, a
    metadata-only rebucket(8) commit changes the bucket count WITHOUT
    rewriting data files, the second half merges across the boundary
    (bucket-scoped ops widen bucket equality to the gcd residue test, so
    legacy 4-bucket files keep pruning correctly), and migrate_buckets()
    rewrites the stragglers. The final table state must equal plain
    latest-per-key SQL over the whole stream with 'error' latests
    dropped — physical bucket layout is invisible to merge semantics."""
    import tempfile

    from pyspark.sql import types as T

    from embulk_filter_timestamp_format_spark.lake import IceTable

    ev = _events(spark, sf_dir, spread=False).select(
        F.col("user_id").cast("long"),
        F.col("event_id").cast("long"),
        "event_type",
        F.round("value", 6).alias("value"),
    )
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("event_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )

    def batch(df):
        latest = dedup_latest(df, key="user_id", seq="event_id")
        return latest.withColumn(
            "op",
            F.when(F.col("event_type") == "error", F.lit("D")).otherwise(F.lit("U")),
        )

    split = F.col("event_id") < 5000
    root = tempfile.mkdtemp(prefix="efts_rebucket_")
    table = IceTable.create(
        spark, root + "/t", schema, key="user_id", seq="event_id",
        num_buckets=4, write_mode="mor", compact_threshold=2, compact_jitter=0,
    )
    table.merge_into(batch(ev.filter(split)), batch_id=0)
    table.rebucket(8)
    table.merge_into(batch(ev.filter(~split)), batch_id=1)
    table.migrate_buckets()
    return table.read().select("user_id", "event_id", "event_type", "value")


def q_cdc_changelog(spark, sf_dir):
    """Incremental changelog (CDF) semantics as a bounded query: diff the
    merged state before/after the second half of the stream — the same
    slim-classification sort-free plan IceTable.changes() runs between
    committed versions (lake/table.py::changelog_diff; version-level
    bucket pruning is exercised in test_cdc_round2)."""
    ev = _events(spark, sf_dir)
    split = F.col("event_id") < 5000
    # the two state tables are each read by multiple diff branches (the
    # anti-join, the tagged union, and the per-side join-backs) — persist
    # them like the materialized snapshots changes() diffs in production,
    # instead of recomputing the dedup shuffle per branch
    s1 = dedup_latest(
        ev.filter(split).select("user_id", "event_id", "event_type", "value"),
        key="user_id", seq="event_id",
    ).select("user_id", "event_id", "event_type", F.round("value", 6).alias("value")).persist()
    upd = dedup_latest(
        ev.filter(~split).select("user_id", "event_id", "event_type", "value"),
        key="user_id", seq="event_id",
    ).withColumn("op", F.when(F.col("event_type") == "error", F.lit("D")).otherwise(F.lit("U"))).persist()
    survivors = upd.filter(F.col("op") != "D").select(
        "user_id", "event_id", "event_type", F.round("value", 6).alias("value")
    )
    untouched = s1.join(F.broadcast(upd.select("user_id")), "user_id", "left_anti")
    s2 = survivors.unionByName(untouched)
    return changelog_diff(s1, s2, key="user_id", seq="event_id")


def q_stream_window_counts(spark, sf_dir):
    """Event-time tumbling-window counts — the streaming windowed-agg
    plan (streaming/windows.py) run in its bounded/backfill form; the
    streaming variant adds only withWatermark."""
    from embulk_filter_timestamp_format_spark.streaming.windows import windowed_counts

    ev = _events(spark, sf_dir, spread=False).select(
        F.col("ts").cast("timestamp").alias("event_time"),
        F.col("event_type"),
    )
    return windowed_counts(ev, ts_col="event_time", window="1 minute", keys=("event_type",))


def q_asof_price(spark, sf_dir):
    """Distributed as-of join (operators/asof.py): each click event
    picks up the same user's most recent purchase value at-or-before
    its timestamp — kdb aj / pandas merge_asof / DuckDB ASOF JOIN,
    expressed as one union + running-window pass (one shuffle per
    side, no theta-join, no UDFs). Right side pre-aggregated to one
    row per (user, ts) for determinism."""
    from embulk_filter_timestamp_format_spark.operators.asof import asof_join

    ev = _events(spark, sf_dir).select(
        F.col("user_id"),
        F.col("ts").cast("timestamp").alias("ts"),
        F.col("event_type"),
        F.col("event_id"),
        F.col("value"),
    )
    right = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.round(F.max("value"), 6).alias("price"))
    )
    left = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    out = asof_join(left, right, on="ts", by=["user_id"])
    # unmatched lefts keep NULLs in the operator; the contract query
    # sentinel-coalesces them because the driver's DuckDB fetch goes
    # through pandas, where NULL double/timestamp become NaN/NaT
    return out.select(
        "user_id",
        "ts",
        "event_id",
        F.coalesce(
            F.col("ts_asof"), F.lit("1900-01-01 00:00:00").cast("timestamp")
        ).alias("ts_asof"),
        F.coalesce(F.col("price"), F.lit(-1.0)).alias("price"),
    )


def q_range_join(spark, sf_dir):
    """Bucketed range (interval) join (operators/ranges.py): each click
    joined to every 2-hour post-signup window of the same user it falls
    in — intervals exploded to epoch-anchored buckets, plain hash
    equi-join on (user, bucket), exact-bounds verify; never a
    nested-loop theta-join."""
    from embulk_filter_timestamp_format_spark.operators.ranges import range_join

    ev = _events(spark, sf_dir).select(
        F.col("user_id"),
        F.col("ts").cast("timestamp").alias("ts"),
        F.col("event_type"),
        F.col("event_id"),
    )
    right = ev.filter(F.col("event_type") == "signup").select(
        "user_id",
        F.col("ts").alias("range_start"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("range_end"),
        F.col("event_id").alias("range_id"),
    )
    left = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    return range_join(left, right, on="ts", by=["user_id"], bucket_width="1 hour")


def q_sessionize(spark, sf_dir):
    """Per-user session windows, 30-minute inactivity gap
    (streaming/windows.py::sessionize): Spark's native session_window
    merging aggregation — streaming-statefully on a stream, plain
    gaps-and-islands on this bounded input (the oracle twin)."""
    from embulk_filter_timestamp_format_spark.streaming.windows import sessionize

    ev = _events(spark, sf_dir).select(
        F.col("user_id"), F.col("ts").cast("timestamp").alias("event_time")
    )
    return sessionize(ev, gap="30 minutes")


def q_cdc_lineage_stats(spark, sf_dir):
    """Per-micro-batch lineage: offset range + op counts (batch = event_id div 1000)."""
    ev = _events(spark, sf_dir, spread=False)
    return (
        ev.groupBy((F.col("event_id") / 1000).cast("long").alias("batch_id"))
        .agg(
            F.count("*").cast("long").alias("events"),
            F.min("event_id").cast("long").alias("min_offset"),
            F.max("event_id").cast("long").alias("max_offset"),
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).cast("long").alias("errors"),
            F.countDistinct("user_id").cast("long").alias("n_keys"),
        )
    )


def q_cdc_partition_lineage(spark, sf_dir):
    """Per-(micro-batch, source-partition) lineage — the metrics-table
    granularity CdcPipeline records (streaming/cdc.py::_write_metrics_rows);
    partition = key-hash mod 8, spelled with the oracle-reproducible
    md5-prefix scheme (the engine itself uses xxhash64 — the assignment
    rule, not the hash, is the contract)."""
    ev = _events(spark, sf_dir, spread=False)
    part = F.pmod(
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10).cast("long"),
        F.lit(8),
    )
    return (
        ev.groupBy(
            (F.col("event_id") / 1000).cast("long").alias("batch_id"),
            part.alias("partition"),
        ).agg(
            F.count("*").cast("long").alias("events"),
            F.min("event_id").cast("long").alias("min_offset"),
            F.max("event_id").cast("long").alias("max_offset"),
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).cast("long").alias("errors"),
        )
    )


# ---------------------------------------------------------------------------
# training-data pipeline operators
# ---------------------------------------------------------------------------


def q_dedup_exact(spark, sf_dir):
    return D.dedup_exact(_docs(spark, sf_dir, spread=False))


def q_text_analysis(spark, sf_dir):
    return TX.analyze(_docs(spark, sf_dir))


def q_ngram_jaccard(spark, sf_dir):
    """Exact-Jaccard baseline over a bounded verification sample (the
    quadratic-per-block exact pass is by design sample-only at scale; the
    LSH path covers the full corpus). doc_id < 2000 covers all of sf0.01
    and a fixed 2000-doc sample at larger sf — same bound in the oracle."""
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 2000)
    return D.ngram_jaccard_pairs(docs, n=3, threshold=0.8)


def q_minhash_lsh(spark, sf_dir):
    return D.minhash_lsh_pairs(_docs(spark, sf_dir), n=3, threshold=0.8)


def q_simhash_pairs(spark, sf_dir):
    return D.simhash_pairs(_docs(spark, sf_dir), max_hamming=3)


def q_embedding_topk(spark, sf_dir):
    return S.cosine_topk(_emb(spark, sf_dir), query_ids=list(range(10)), k=5)


def q_ann_lsh_topk(spark, sf_dir):
    """Multiprobe hyperplane-LSH ANN. The md5-Rademacher planes make the
    whole pipeline (signature, Hamming-2 multiprobe, exact re-rank)
    reproducible in the SQL oracle — see _ann_lsh_sql."""
    return S.lsh_ann_topk(_emb(spark, sf_dir), query_ids=list(range(10)), k=5)


def q_ann_ivf_topk(spark, sf_dir):
    """IVF-Flat ANN with hash-sampled centroids — deterministic, so the
    whole pipeline (centroid pick, assignment, probing, re-rank) has an
    exact SQL oracle."""
    return S.ivf_topk(
        _emb(spark, sf_dir), query_ids=list(range(10)), k=5,
        centroid_stride=32, nprobe=4,
    )


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup-style cluster-then-prune semantic dedup
    (operators/similarity.py::semantic_dedup): nearest hash-sampled
    centroid per embedding (the shared IVF build), within-cluster
    cosine pairs only, keep-min survivors. Deterministic end to end —
    the SQL oracle reproduces centroid pick, round-6 assignment and the
    dup set exactly."""
    return S.semantic_dedup(
        _emb(spark, sf_dir), threshold=0.4, centroid_stride=32
    )


def q_embedding_neardup(spark, sf_dir):
    """Embedding-cosine near-dup pairs — exact all-pairs verification
    baseline (oracle-checkable) over a bounded sample (vec_id < 1000:
    all of sf0.01, a fixed 1000-vector sample beyond — the quadratic
    exact pass is sample-only by design, same bound in the oracle); the
    LSH banded variant is the full-corpus scale path (containment +
    recall vs this baseline in test_operators)."""
    emb = _emb(spark, sf_dir).filter(F.col("vec_id") < 1000)
    return S.embedding_neardup_pairs(emb, threshold=0.4, method="exact")


def q_corpus_dedup_pass(spark, sf_dir):
    """Lake-integrated corpus dedup maintenance (operators/maintenance.py):
    documents seeded into an icetable → MinHash-LSH sweep → keep-min
    policy → op='D' delete batch through merge_into → surviving state.
    The table build + pass commit run eagerly at construction (lake
    writes are actions); the returned DataFrame re-reads the committed
    snapshot. Oracle: documents minus the larger side of every
    verified near-dup pair (the same SQL pipeline as minhash_lsh)."""
    import tempfile

    from pyspark.sql import types as T

    from embulk_filter_timestamp_format_spark.lake import IceTable
    from embulk_filter_timestamp_format_spark.operators.maintenance import dedup_pass

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("event_seq", T.LongType()),
        ]
    )
    root = tempfile.mkdtemp(prefix="efts_dedup_pass_")
    table = IceTable.create(spark, root, schema, key="doc_id", num_buckets=8)
    ups = (
        _docs(spark, sf_dir)
        .select(
            F.col("doc_id").cast("long"),
            "text",
            F.col("doc_id").cast("long").alias("event_seq"),
        )
        .withColumn("op", F.lit("U"))
    )
    table.merge_into(ups, batch_id=0, source="seed")
    dedup_pass(table, threshold=0.8, batch_id=1)
    return table.read().select("doc_id", "text")


def q_incremental_dedup(spark, sf_dir):
    """Churn-proportional dedup (operators/incremental.py): documents
    arrive in two merge batches (ids below / above the midpoint); each
    batch is followed by an incremental pass that signs ONLY the new
    docs and band-joins them against the persisted sketch table, so
    old↔old pairs are never recomputed. Returned state must equal the
    two-phase SQL twin: phase-1 LSH dedup of the first half, then
    drops among (survivors ∪ second half) — old↔old pairs cannot occur
    in phase 2 because band collisions are deterministic on text, so
    any such pair would already have fired in phase 1."""
    import tempfile

    from pyspark.sql import types as T

    from embulk_filter_timestamp_format_spark.lake import IceTable
    from embulk_filter_timestamp_format_spark.operators.incremental import (
        create_sketch_table,
        incremental_dedup_pass,
    )

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("event_seq", T.LongType()),
        ]
    )
    docs = (
        _docs(spark, sf_dir)
        .select(
            F.col("doc_id").cast("long"),
            "text",
            F.col("doc_id").cast("long").alias("event_seq"),
        )
        .withColumn("op", F.lit("U"))
    )
    cut = (docs.agg(F.max("doc_id")).first()[0] + 1) // 2
    root = tempfile.mkdtemp(prefix="efts_incr_dedup_")
    corpus = IceTable.create(spark, root + "/corpus", schema, key="doc_id", num_buckets=8)
    sketch = create_sketch_table(spark, root + "/sketch", num_buckets=8)
    v0 = corpus.current_version()
    corpus.merge_into(docs.filter(F.col("doc_id") < cut), batch_id=0, source="ingest")
    r1 = incremental_dedup_pass(corpus, sketch, v0, batch_id=100)
    corpus.merge_into(docs.filter(F.col("doc_id") >= cut), batch_id=1, source="ingest")
    incremental_dedup_pass(
        corpus, sketch, r1["corpus_version"] or r1["to_version"], batch_id=101
    )
    return corpus.read().select("doc_id", "text")


def q_multimodal_features(spark, sf_dir):
    """documents → REAL binary PPM (P6) payloads (Catalyst-built: header
    + utf-8 bytes tiled to w*h*3) → pure-Python netpbm decode over Arrow
    batches → integer-exact pixel stats. The decode executes for real in
    any environment (no native libs needed) and is oracle-checked to the
    bit; reference parity: the binary-passthrough discipline of
    ColumnVisitorImpl.java (untargeted columns survive byte-identical)
    extended to a decodable media payload."""
    from embulk_filter_timestamp_format_spark.operators import multimodal as MM

    media = MM.synth_ppm_media(_docs(spark, sf_dir))
    return MM.ppm_features(media)


def q_token_frequency(spark, sf_dir):
    """Corpus vocabulary: per-token term + document frequency — the
    wordcount shape every tokenizer-training pipeline starts from
    (operators/text.py::token_frequencies). One explode + hash
    aggregates; stopword skew absorbed by map-side combine."""
    return TX.token_frequencies(_docs(spark, sf_dir))


def q_repetition_signals(spark, sf_dir):
    """Gopher-style repetition filters, word-gram form
    (operators/text.py::repetition_signals): distinct-token ratio +
    top-{2,3}-gram mass per doc. One explode feeds all gram lengths;
    two hash aggregates + a conditional-max pivot; no SortAggregate."""
    return TX.repetition_signals(_docs(spark, sf_dir))


def q_tfidf_keywords(spark, sf_dir):
    """Per-doc top-5 smoothed-TF-IDF keywords
    (operators/text.py::tfidf_keywords). One explode + two hash
    aggregates (df re-aggregated from the vocab-sized tf table, no
    second pass over tokens), broadcast IDF join, top-k window as the
    only per-doc sort. Rounded-score + token ordering keeps ranks
    engine-portable."""
    return TX.tfidf_keywords(_docs(spark, sf_dir), k=5)


def q_lm_score(spark, sf_dir):
    """Self-trained bigram-LM fluency scoring
    (operators/text.py::lm_score): Stupid-Backoff-style
    ln(max(P_bigram, 0.4·P_unigram)) averaged per doc + a perplexity
    proxy — the CCNet/Gopher LM-quality filter shape. Train = the same
    one-explode hash aggregation as the vocabulary table; score = one
    more corpus pass with broadcast model joins. No UDFs, no sorts."""
    return TX.lm_score(_docs(spark, sf_dir))


def q_dedup_components(spark, sf_dir):
    """Near-duplicate cluster canonicalization (operators/components.py):
    connected components over the MinHash-LSH pair graph — pairwise
    matches are transitive (a~b, b~c groups a,b,c even when a,c never
    shared a bucket), so the canonical group key is the component's min
    doc_id, computed by iterative min-label propagation (O(cluster
    diameter) rounds, two hash shuffles each, lineage truncated per
    round). DuckDB twin: recursive-CTE transitive closure over the
    same pair SQL."""
    from embulk_filter_timestamp_format_spark.operators.components import (
        connected_components,
    )

    docs = _docs(spark, sf_dir)
    pairs = D.minhash_lsh_pairs(docs, n=3, threshold=0.8)
    comp = connected_components(pairs, nodes=docs.select("doc_id"))
    return comp.select(F.col("node").alias("doc_id"), F.col("component"))


def q_pii_scrub(spark, sf_dir):
    """PII detection + redaction (operators/pii.py): per-doc counts of
    emails / IPv4s / phone-shaped digit runs plus the masked text, one
    codegen-resident projection (3 count + 3 replace regexes on
    progressively-masked text — no shuffle, scan-speed at any scale).
    The corpus text is salted with deterministic doc_id-derived PII
    (identically in the SQL twin) so the oracle exercises every
    pattern, not just accidental hits. Patterns are written in the
    Java-regex ∩ RE2 common subset; parity is pinned in
    tests/test_pii.py::test_duckdb_parity."""
    from embulk_filter_timestamp_format_spark.operators.pii import pii_signals

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com from 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7, call +1 555-01"),
            F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
            F.lit(" done"),
        ).alias("text"),
    )
    return pii_signals(docs, keep_scrubbed=True)


def q_corpus_profile(spark, sf_dir):
    """Grouped corpus profiling (operators/profile.py): per-language doc
    counts, word mass, and length-distribution quantiles — one hash
    aggregate on the tiny group key. The contract runs ``exact=True``
    (percentile ≡ DuckDB quantile_cont, SQL-exact); the default
    ``exact=False`` scale path swaps in approx_percentile (sketch,
    fixed memory per group) and is closeness-tested in pytest."""
    from embulk_filter_timestamp_format_spark.operators.profile import (
        corpus_profile,
    )

    return corpus_profile(_docs(spark, sf_dir), exact=True)


def q_line_dedup(spark, sf_dir):
    """Corpus-wide span dedup (operators/lines.py::line_dedup): C4/CCNet
    line-removal over 12-word spans — explode docs into spans, count
    normalized spans corpus-wide, drop every occurrence of spans seen
    >= 2 times, reassemble docs in order. One vocabulary-sized hash
    aggregate + a broadcast drop-join + one per-doc regroup; no UDFs,
    no unbounded sorts."""
    return L.line_dedup(_docs(spark, sf_dir), chunk_words=12)


_MIX_WEIGHTS = {"src0": 4.0, "src1": 2.0, "src2": 1.0, "src3": 1.0}
_MIX_BUDGET = 4000


def q_corpus_mix(spark, sf_dir):
    """Token-budget domain mixture (operators/sampling.py::
    mixture_report): DoReMi/Pile-style source reweighting — per-source
    token totals, target token mass from the weight vector, stable-hash
    acceptance thresholds, realized kept docs/tokens. One hash
    aggregate + a broadcast threshold join; the corpus itself is never
    shuffled."""
    return SAMP.mixture_report(_docs(spark, sf_dir), _MIX_WEIGHTS, _MIX_BUDGET)


def q_contamination(spark, sf_dir):
    """Benchmark decontamination report
    (operators/decontaminate.py::contamination_report): per-training-doc
    3-gram shingle overlap against a held-out "benchmark" slice
    (doc_id % 25 == 7 stands in for the eval set — same split in the
    oracle). Benchmark keys reduce to a broadcast int64 set; the corpus
    side is one explode + broadcast semi-join + per-doc hash aggregate,
    never shuffled by content."""
    docs = _docs(spark, sf_dir, spread=False)
    bench = docs.filter(F.col("doc_id") % 25 == 7)
    train = docs.filter(F.col("doc_id") % 25 != 7)
    return DC.contamination_report(train, bench, n=3, threshold=0.5)


def q_corpus_split(spark, sf_dir):
    """Deterministic train/val/test assignment (operators/sampling.py):
    the label is a pure function of (doc_id, salt) via the md5-prefix
    bucket, so dataset versions never migrate documents across splits.
    Stateless narrow projection — no shuffle at any scale."""
    out = SAMP.hash_split(
        _docs(spark, sf_dir, spread=False), "doc_id",
        {"train": 0.9, "val": 0.05, "test": 0.05},
    )
    return out.select("doc_id", "split_bucket", "split")


def q_corpus_sample(spark, sf_dir):
    """Per-language deterministic downsampling (language rebalancing):
    keep 50% of en, 25% of fr, drop the rest — nested samples, stable
    under re-runs and re-sharding."""
    out = SAMP.stratified_sample(
        _docs(spark, sf_dir, spread=False), "doc_id", {"en": 0.5, "fr": 0.25},
        strata_col="lang",
    )
    return out.select("doc_id", "lang")


def q_sequence_pack(spark, sf_dir):
    """Contiguous token-stream packing into 2048-token bins within 16
    hash groups (BPE-ish token counts from operators/text.py). One
    shuffle on the group key; the per-group window sort is the only
    ordered operation, bounded by num_groups."""
    docs = _docs(spark, sf_dir).select(
        "doc_id", TX.bpe_token_count(F.col("text")).alias("n_tok")
    )
    return SAMP.pack_sequences(
        docs, "doc_id", "n_tok", budget=2048, num_groups=16
    )


# ---------------------------------------------------------------------------
# driver contract
# ---------------------------------------------------------------------------


def _salted_url_docs(spark, sf_dir):
    """documents + two deterministic URLs per doc (the corpus itself is
    URL-free — checked): one uppercase-scheme https with default port,
    tracking params and a fragment; one http on a non-default port with
    trailing prose punctuation. Exercises every normalization rule."""
    d = F.col("doc_id")

    def s(col):
        return col.cast("string")

    return _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.coalesce(F.col("text"), F.lit("")),
            F.lit(" see HTTPS://WWW.Site"), s(d % 40),
            F.lit(".CO.UK:443/p/"), s(d),
            F.lit("?utm_source=x&ref="), s(d % 7),
            F.lit("#frag then http://cdn"), s(d % 5),
            F.lit(".example.net:8080/a/"), s(d % 11),
            F.lit(")."),
        ).alias("text"),
    )


def q_url_extract(spark, sf_dir):
    """URL extraction + canonicalization + registered domain
    (operators/urls.py): casefold scheme/host, drop default ports /
    fragments / utm_* params, public-suffix-lite domain."""
    from embulk_filter_timestamp_format_spark.operators import urls as URLS

    return URLS.extract_urls(_salted_url_docs(spark, sf_dir))


def q_domain_stats(spark, sf_dir):
    """Per-registered-domain URL and doc counts over the salted corpus —
    the Zipf-skewed hash aggregate (map-side combine absorbs head
    domains)."""
    from embulk_filter_timestamp_format_spark.operators import urls as URLS

    return URLS.domain_stats(_salted_url_docs(spark, sf_dir))


def q_quality_filter(spark, sf_dir):
    """Gopher-rule composite quality filter (operators/text.py::
    quality_filter): keep/drop + failed-rule attribution per document.
    Thresholds tuned to this corpus's length band (min 30 / max 90
    words, ≥1 required stopword) so the output splits keep/drop;
    everything else is the published Gopher default."""
    return TX.quality_filter(
        _docs(spark, sf_dir),
        min_words=30,
        max_words=90,
        min_required_stopwords=1,
    )


def q_cdc_time_scan(spark, sf_dir):
    """Manifest-stats data-skipping scan (lake/table.py::scan): events land
    in an icetable as three seq-ordered appends (the CDC arrival order), so
    each data file's footer min/max covers a disjoint time slice; a
    time-range scan then prunes non-overlapping files driver-side before
    any Spark job runs. Result ≡ read().filter(ts >= cutoff) — the oracle
    is the plain filter; the file-pruning counters are asserted in
    tests/test_scan.py. Cutoff = min + 70% of the ts span, computed in
    integer epoch-µs in BOTH engines so the boundary is exact."""
    import datetime as dt
    import tempfile

    from embulk_filter_timestamp_format_spark.lake import IceTable

    ev = _events(spark, sf_dir, spread=False).select(
        "event_id", "ts", "user_id", "event_type", F.round("value", 6).alias("value")
    )
    root = tempfile.mkdtemp(prefix="efts_time_scan_")
    table = IceTable.create(spark, root, ev.schema, key="event_id", num_buckets=8)
    us = F.unix_micros(F.col("ts").cast("timestamp"))  # parquet ts is NTZ; session is UTC
    bounds = ev.agg(
        F.min(us).alias("mn"), F.max(us).alias("mx"), F.max("event_id").alias("n")
    ).first()
    third = (bounds["n"] + 1) // 3
    for i in range(3):
        lo, hi = i * third, (i + 1) * third if i < 2 else bounds["n"] + 1
        table.append(ev.filter((F.col("event_id") >= lo) & (F.col("event_id") < hi)))
    cutoff_us = bounds["mn"] + (bounds["mx"] - bounds["mn"]) * 7 // 10
    cutoff = dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=cutoff_us)
    return table.scan([("ts", ">=", cutoff)])


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: one CDC round over sf0.001 events — tsfmt coercion
    (timestamp→string/epochs) + dedup-latest-per-key (the per-batch body
    of the merge pipeline)."""
    sf_dir = "/root/testdata/sf0.001"
    ev = _events(spark, sf_dir)
    fmt = TimestampFormatterPlan("%Y-%m-%d %H:%M:%S.%6N %z", "UTC")
    nanos = _ts_nanos(F.col("ts"))
    coerced = ev.select(
        "user_id",
        "event_id",
        "event_type",
        fmt.format_expr(nanos).alias("event_time_str"),
        U.col_nanos_to_long(nanos, TimestampUnit.MILLISECOND).alias("event_time_ms"),
    )
    return dedup_latest(coerced, key="user_id", seq="event_id")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "tsfmt_format_string": q_tsfmt_format_string,
        "tsfmt_parse_roundtrip": q_tsfmt_parse_roundtrip,
        "tsfmt_epoch_units": q_tsfmt_epoch_units,
        "tsfmt_unit_change": q_tsfmt_unit_change,
        "tsfmt_timezone_render": q_tsfmt_timezone_render,
        "tsfmt_multiformat_cascade": q_tsfmt_multiformat_cascade,
        "tsfmt_json_epoch": q_tsfmt_json_epoch,
        "stream_window_counts": q_stream_window_counts,
        "cdc_dedup_latest": q_cdc_dedup_latest,
        "cdc_merge_upsert": q_cdc_merge_upsert,
        "cdc_rebucket": q_cdc_rebucket,
        "cdc_changelog": q_cdc_changelog,
        "cdc_time_scan": q_cdc_time_scan,
        "cdc_lineage_stats": q_cdc_lineage_stats,
        "cdc_partition_lineage": q_cdc_partition_lineage,
        "dedup_exact": q_dedup_exact,
        "text_analysis": q_text_analysis,
        "ngram_jaccard": q_ngram_jaccard,
        "minhash_lsh": q_minhash_lsh,
        "simhash_pairs": q_simhash_pairs,
        "embedding_topk": q_embedding_topk,
        "ann_lsh_topk": q_ann_lsh_topk,
        "ann_ivf_topk": q_ann_ivf_topk,
        "semantic_dedup": q_semantic_dedup,
        "embedding_neardup": q_embedding_neardup,
        "corpus_dedup_pass": q_corpus_dedup_pass,
        "incremental_dedup": q_incremental_dedup,
        "multimodal_features": q_multimodal_features,
        "corpus_split": q_corpus_split,
        "corpus_sample": q_corpus_sample,
        "sequence_pack": q_sequence_pack,
        "token_frequency": q_token_frequency,
        "repetition_signals": q_repetition_signals,
        "contamination": q_contamination,
        "tfidf_keywords": q_tfidf_keywords,
        "lm_score": q_lm_score,
        "line_dedup": q_line_dedup,
        "corpus_mix": q_corpus_mix,
        "asof_price": q_asof_price,
        "sessionize": q_sessionize,
        "range_join": q_range_join,
        "dedup_components": q_dedup_components,
        "pii_scrub": q_pii_scrub,
        "corpus_profile": q_corpus_profile,
        "quality_filter": q_quality_filter,
        "url_extract": q_url_extract,
        "domain_stats": q_domain_stats,
    }


_WORDS = "list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')"
_NWORDS = f"len({_WORDS})"
_NORM = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"
_STOP_LIST = "[" + ",".join(f"'{w}'" for w in STOPWORDS) + "]"
_SHINGLES = (
    f"list_distinct(list_transform(range(1, greatest(len(w) - 2, 0) + 1), "
    f"i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))"
)
# 60-bit md5-prefix shingle keys (must match operators.dedup.shingle_keys)
_SHINGLE_KEYS = (
    f"list_distinct(list_transform({_SHINGLES}, "
    f"x -> (('0x' || substring(md5(x), 1, 15))::BIGINT)))"
)
# minhash affine-permutation constants (must match operators.dedup.affine_params(32, 7))
from embulk_filter_timestamp_format_spark.operators.dedup import affine_params as _affine_params

_MINHASH_AB = (
    "[" + ", ".join(f"{{'a': {a}, 'b': {b}}}" for a, b in _affine_params(32, 7)) + "]"
)

# 60-bit md5-prefix word hashes (must match operators.dedup.word_hashes60)
_LWORDS = "list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '')"
_WORD_HASHES60 = (
    f"list_transform(list_distinct({_LWORDS}), "
    f"w -> (('0x' || substring(md5(w), 1, 15))::BIGINT))"
)


def _simhash60_sql() -> str:
    """60-term majority-bit sum — the DuckDB twin of dedup.simhash60."""
    terms = [
        f"CASE WHEN len(list_filter(hs, h -> ((h >> {b}) & 1) = 1)) * 2 >= len(hs)"
        f" THEN {1 << b} ELSE 0 END"
        for b in range(60)
    ]
    return "(" + "\n + ".join(terms) + ")"


def _cos_sql(a: str, b: str) -> str:
    """Rounded-to-6 cosine between two DuckDB list columns — the twin of
    operators.similarity.cosine + F.round(·, 6) (float64, matching
    accumulation as validated by the embedding_topk oracle)."""
    dot = (
        f"list_sum(list_transform(range(1, len({b}) + 1), "
        f"i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE))"
    )
    na = f"sqrt(list_sum(list_transform(range(1, len({a}) + 1), i -> {a}[i]::DOUBLE * {a}[i]::DOUBLE)))"
    nb = f"sqrt(list_sum(list_transform(range(1, len({b}) + 1), i -> {b}[i]::DOUBLE * {b}[i]::DOUBLE)))"
    return f"round({dot} / ({na} * {nb}), 6)"


def _ann_lsh_sql(num_planes: int = 6, seed: int = 11, k: int = 5, probe_hamming: int = 2) -> str:
    """DuckDB twin of operators.similarity.lsh_ann_topk with the default
    md5-Rademacher planes: signature → multiprobe bucket join → exact
    re-rank — the WHOLE ANN pipeline, SQL-exact (plane component i of
    plane p = parity of md5('plane:seed:p:i'), identical to
    similarity.plane_sign)."""

    def sgn(p: int) -> str:
        key = f"'plane:{seed}:{p}:' || (i - 1)::VARCHAR"
        return (
            f"(CASE WHEN (('0x' || substring(md5({key}), 1, 15))::BIGINT % 2) = 1 "
            f"THEN 1.0 ELSE -1.0 END)"
        )

    def plane_dot(p: int, v: str) -> str:
        return (
            f"list_sum(list_transform(range(1, len({v}) + 1), "
            f"i -> {v}[i]::DOUBLE * {sgn(p)}))"
        )

    bucket = " + ".join(
        f"(CASE WHEN {plane_dot(p, 'embedding')} >= 0 THEN {1 << p} ELSE 0 END)"
        for p in range(num_planes)
    )
    masks = [0]
    if probe_hamming >= 1:
        masks += [1 << p for p in range(num_planes)]
    if probe_hamming >= 2:
        masks += [
            (1 << p1) | (1 << p2)
            for p1 in range(num_planes)
            for p2 in range(p1 + 1, num_planes)
        ]
    mask_list = "[" + ", ".join(str(m) for m in masks) + "]"
    return f"""
        WITH sig AS (
          SELECT vec_id, embedding, ({bucket})::BIGINT AS bucket FROM embeddings),
        q AS (
          SELECT vec_id AS query_id, embedding AS qv, bucket AS qbucket
          FROM sig WHERE vec_id < 10),
        probes AS (
          SELECT query_id, qv, xor(qbucket, m.mask::BIGINT) AS bucket
          FROM q, (SELECT unnest({mask_list}) AS mask) m),
        scored AS (
          SELECT DISTINCT p.query_id, s.vec_id AS neighbor_id,
                 {_cos_sql('p.qv', 's.embedding')} AS cos_sim
          FROM sig s JOIN probes p USING (bucket)
          WHERE s.vec_id <> p.query_id)
        SELECT query_id, neighbor_id, rank, cos_sim FROM (
          SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
          FROM scored) WHERE rank <= {k}"""


def _lang_case() -> str:
    """Argmax over marker-word hit counts, ties by language code order."""
    exprs = {
        lang: f"len(list_filter(lw, x -> list_contains([{','.join(repr(w) for w in ms)}], x)))"
        for lang, ms in sorted(LANG_MARKERS.items())
    }
    langs = sorted(exprs)
    best = f"greatest({','.join(exprs.values())})"
    whens = " ".join(f"WHEN {exprs[lang]} = __best THEN '{lang}'" for lang in langs)
    return exprs, best, whens


def _pii_scrub_sql() -> str:
    """DuckDB twin of q_pii_scrub, generated from the SAME
    operators.pii.PII_PATTERNS constants (pattern AND replacement, $N
    → \\N) so the two sides cannot drift — the count-then-mask
    chaining over progressively-masked text is reproduced stage by
    stage."""
    from embulk_filter_timestamp_format_spark.operators.pii import PII_PATTERNS

    salted = (
        "SELECT doc_id, text || ' contact user' || CAST(doc_id AS VARCHAR)"
        " || '@example.com from 10.0.' || CAST(doc_id % 256 AS VARCHAR)"
        " || '.7, call +1 555-01' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')"
        " || ' done' AS t FROM documents"
    )
    cur, prev, parts, names = "t", f"({salted})", [], []
    for i, (name, pat, repl) in enumerate(PII_PATTERNS):
        dpat = pat.replace("'", "''")
        drepl = repl.replace("$", "\\")
        parts.append(
            f"m{i} AS (SELECT *, len(regexp_extract_all({cur}, '{dpat}'))"
            f" AS {name}_count, regexp_replace({cur}, '{dpat}', '{drepl}', 'g')"
            f" AS t{i} FROM {prev if i == 0 else f'm{i - 1}'})"
        )
        cur = f"t{i}"
        names.append(f"{name}_count")
    return (
        "WITH " + ", ".join(parts)
        + f" SELECT doc_id, {', '.join(names)},"
        + " + ".join(names)
        + f" AS pii_total, {cur} AS scrubbed FROM m{len(parts) - 1}"
    )


# MinHash-LSH pair pipeline in DuckDB (the twin of
# operators.dedup.minhash_lsh_pairs) — used by the minhash_lsh oracle
# and, composed, by the corpus_dedup_pass oracle
def _minhash_pairs_sql(src: str = "documents") -> str:
    """The MinHash-LSH pair pipeline over an arbitrary (doc_id, text)
    relation ``src`` — parameterized so the incremental-dedup oracle can
    instantiate it per phase."""
    return f"""
            WITH base AS (SELECT doc_id, list_transform({_WORDS}, x -> lower(x)) AS w
                          FROM {src}),
            shf AS (SELECT doc_id, s FROM
                      (SELECT doc_id, {_SHINGLE_KEYS} AS s FROM base)
                    WHERE len(s) > 0),
            sig AS (SELECT doc_id,
                     list_transform({_MINHASH_AB}::STRUCT(a BIGINT, b BIGINT)[],
                       p -> list_min(list_transform(s,
                            x -> (p.a * (x & 2147483647) + p.b) % 2305843009213693951))) AS g
                    FROM shf),
            bands AS (SELECT doc_id, b,
                       array_to_string(list_slice(g, b*4 + 1, b*4 + 4), ',') AS bucket
                      FROM sig, range(0, 8) t(b)),
            cand AS (SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
                     FROM bands a JOIN bands c ON a.b = c.b AND a.bucket = c.bucket
                     WHERE a.doc_id < c.doc_id)
            SELECT id_a, id_b,
                   round(len(list_intersect(sa.s, sb.s))::DOUBLE
                         / len(list_distinct(list_concat(sa.s, sb.s))), 6) AS jaccard
            FROM cand JOIN shf sa ON sa.doc_id = id_a JOIN shf sb ON sb.doc_id = id_b
            WHERE len(list_intersect(sa.s, sb.s))::DOUBLE
                  / len(list_distinct(list_concat(sa.s, sb.s))) >= 0.8"""


_MINHASH_PAIRS_SQL = _minhash_pairs_sql()


def _url_pipeline_sql() -> str:
    """Shared DuckDB CTE chain for the url_extract / domain_stats oracles,
    generated from the SAME operators.urls pattern constants (regexes in
    the RE2 ∩ Java common subset, so the engines cannot drift)."""
    from embulk_filter_timestamp_format_spark.operators.urls import (
        TWO_LEVEL_SUFFIXES,
        URL_COMPONENTS_RE,
        URL_RE,
        URL_TRAIL_PUNCT_RE,
    )

    comp = URL_COMPONENTS_RE.replace("'", "''")
    url_re = URL_RE.replace("'", "''")
    suf = "[" + ",".join(f"'{x}'" for x in TWO_LEVEL_SUFFIXES) + "]"
    salted = (
        "SELECT doc_id, coalesce(text, '')"
        " || ' see HTTPS://WWW.Site' || CAST(doc_id % 40 AS VARCHAR)"
        " || '.CO.UK:443/p/' || CAST(doc_id AS VARCHAR)"
        " || '?utm_source=x&ref=' || CAST(doc_id % 7 AS VARCHAR)"
        " || '#frag then http://cdn' || CAST(doc_id % 5 AS VARCHAR)"
        " || '.example.net:8080/a/' || CAST(doc_id % 11 AS VARCHAR)"
        " || ').' AS t FROM documents"
    )
    return f"""
            WITH salted AS ({salted}),
            u AS (SELECT doc_id, regexp_replace(raw, '{URL_TRAIL_PUNCT_RE}', '') AS url
                  FROM (SELECT doc_id, unnest(regexp_extract_all(t, '{url_re}')) AS raw
                        FROM salted)),
            parts AS (SELECT doc_id, url,
                lower(regexp_extract(url, '{comp}', 1)) AS scheme,
                lower(regexp_extract(url, '{comp}', 2)) AS host,
                regexp_extract(url, '{comp}', 3) AS port,
                regexp_extract(url, '{comp}', 4) AS path,
                regexp_extract(url, '{comp}', 5) AS q FROM u),
            enriched AS (SELECT *,
                string_split(host, '.') AS hl,
                array_to_string(list_filter(string_split(q, '&'),
                  p -> p <> '' AND NOT starts_with(p, 'utm_')), '&') AS qkept
              FROM parts),
            urls AS (SELECT doc_id, url,
                scheme || '://' || host
                || CASE WHEN port <> '' AND NOT ((scheme = 'http' AND port = '80')
                         OR (scheme = 'https' AND port = '443'))
                     THEN ':' || port ELSE '' END
                || CASE WHEN path = '/' THEN '' ELSE path END
                || CASE WHEN qkept <> '' THEN '?' || qkept ELSE '' END AS norm_url,
                host,
                CASE WHEN len(hl) <= 2 THEN host
                     WHEN list_contains({suf},
                            array_to_string(list_slice(hl, len(hl) - 1, len(hl)), '.'))
                       THEN array_to_string(list_slice(hl, len(hl) - 2, len(hl)), '.')
                     ELSE array_to_string(list_slice(hl, len(hl) - 1, len(hl)), '.')
                END AS domain
              FROM enriched)"""


def oracle_sql() -> dict[str, str]:
    exprs, best, whens = _lang_case()
    return {
        "tsfmt_format_string": """
            SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S.%f') || ' +0000' AS ts_str
            FROM events""",
        "tsfmt_parse_roundtrip": """
            SELECT event_id, ts AS parsed_ts FROM events""",
        "tsfmt_epoch_units": """
            SELECT event_id,
                   epoch_us(ts) // 1000000 AS epoch_sec,
                   epoch_us(ts) // 1000    AS epoch_ms,
                   epoch_us(ts)            AS epoch_us,
                   (epoch_us(ts) // 1000000) + (epoch_us(ts) % 1000000) / 1000000.0 AS epoch_sec_d
            FROM events""",
        "tsfmt_unit_change": """
            SELECT event_id,
                   epoch_us(ts) // 1000 AS us_to_ms,
                   epoch_us(ts) // 1000000 AS us_to_sec,
                   (epoch_us(ts) // 1000000) * 1000000000 AS sec_to_ns
            FROM events""",
        "tsfmt_timezone_render": """
            SELECT event_id, strftime(ts + INTERVAL 9 HOUR, '%Y-%m-%d %H:%M:%S') AS tokyo_str
            FROM events""",
        "tsfmt_multiformat_cascade": """
            SELECT event_id,
                   CASE WHEN event_id % 2 = 0
                        THEN epoch_ms(strptime(strftime(ts, '%Y-%m-%d %H:%M:%S'), '%Y-%m-%d %H:%M:%S'))
                        ELSE epoch_ms(strptime(strftime(ts, '%Y-%m-%d'), '%Y-%m-%d'))
                   END AS parsed_ms
            FROM events""",
        "tsfmt_json_epoch": """
            SELECT event_id,
                   strftime(make_timestamp(CAST(props->>'$.k' AS BIGINT) * 1000000),
                            '%Y-%m-%d %H:%M:%S') AS k_ts
            FROM events""",
        "stream_window_counts": """
            SELECT time_bucket(INTERVAL '1 minute', ts) AS window_start,
                   time_bucket(INTERVAL '1 minute', ts) + INTERVAL '1 minute' AS window_end,
                   event_type,
                   CAST(count(*) AS BIGINT) AS events
            FROM events GROUP BY 1, 2, 3""",
        # operators.asof.asof_join twin: DuckDB's native ASOF JOIN
        # (inclusive backward) over the same deduplicated right side
        "asof_price": """
            WITH r AS (SELECT user_id, ts, round(max(value), 6) AS price
                       FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
                 l AS (SELECT user_id, ts, event_id
                       FROM events WHERE event_type = 'click')
            SELECT l.user_id, l.ts, l.event_id,
                   coalesce(r.ts, TIMESTAMP '1900-01-01 00:00:00') AS ts_asof,
                   coalesce(r.price, -1.0) AS price
            FROM l ASOF LEFT JOIN r
              ON l.user_id = r.user_id AND l.ts >= r.ts""",
        # operators.ranges.range_join twin: the plain theta-join the
        # bucketed plan must reproduce exactly
        "range_join": """
            WITH r AS (SELECT user_id, ts AS range_start,
                              ts + INTERVAL '2 hours' AS range_end,
                              event_id AS range_id
                       FROM events WHERE event_type = 'signup'),
                 l AS (SELECT user_id, ts, event_id
                       FROM events WHERE event_type = 'click')
            SELECT l.user_id, l.ts, l.event_id,
                   r.range_start, r.range_end, r.range_id
            FROM l JOIN r ON l.user_id = r.user_id
                         AND l.ts >= r.range_start AND l.ts <= r.range_end""",
        # streaming.windows.sessionize twin: gaps-and-islands with the
        # break at diff >= gap (session_window merges on STRICT overlap)
        "sessionize": """
            WITH o AS (
              SELECT user_id, ts,
                     lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS pts
              FROM events),
            s AS (
              SELECT user_id, ts,
                     sum(CASE WHEN pts IS NULL
                              OR ts - pts >= INTERVAL '30 minutes'
                              THEN 1 ELSE 0 END)
                       OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sid
              FROM o)
            SELECT user_id, min(ts) AS session_start,
                   max(ts) + INTERVAL '30 minutes' AS session_end,
                   CAST(count(*) AS BIGINT) AS events
            FROM s GROUP BY user_id, sid""",
        "cdc_dedup_latest": """
            SELECT user_id, event_id, event_type, round(value, 6) AS value
            FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) rn
                  FROM events) WHERE rn = 1""",
        "cdc_merge_upsert": """
            WITH base AS (
              SELECT user_id, event_id, event_type, value
              FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) rn
                    FROM events WHERE event_id < 5000) WHERE rn = 1),
            upd AS (
              SELECT user_id, event_id, event_type, value,
                     CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op
              FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) rn
                    FROM events WHERE event_id >= 5000) WHERE rn = 1)
            SELECT coalesce(u.user_id, t.user_id) AS user_id,
                   CASE WHEN u.op IS NOT NULL THEN u.event_id ELSE t.event_id END AS event_id,
                   CASE WHEN u.op IS NOT NULL THEN u.event_type ELSE t.event_type END AS event_type,
                   round(CASE WHEN u.op IS NOT NULL THEN u.value ELSE t.value END, 6) AS value
            FROM base t FULL OUTER JOIN upd u USING (user_id)
            WHERE NOT (u.op IS NOT NULL AND u.op = 'D')""",
        # two batch merges with per-batch latest + error→delete reduce to
        # latest-per-key over the whole stream with error latests dropped
        # (a batch-1 delete on an absent key is a no-op; any later batch-2
        # row supersedes it) — bucket layout never appears in the answer
        "cdc_rebucket": """
            SELECT user_id, event_id, event_type, round(value, 6) AS value
            FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) rn
                  FROM events) WHERE rn = 1 AND event_type <> 'error'""",
        # same state construction as cdc_merge_upsert; the changelog is
        # the seq-keyed diff of the two states (seq equality ⇔ unchanged)
        "cdc_changelog": """
            WITH s1 AS (
              SELECT user_id, event_id, event_type, round(value, 6) AS value
              FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) rn
                    FROM events WHERE event_id < 5000) WHERE rn = 1),
            upd AS (
              SELECT user_id, event_id, event_type, round(value, 6) AS value,
                     CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op
              FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) rn
                    FROM events WHERE event_id >= 5000) WHERE rn = 1),
            s2 AS (
              SELECT user_id, event_id, event_type, value FROM upd WHERE op <> 'D'
              UNION ALL
              SELECT t.user_id, t.event_id, t.event_type, t.value FROM s1 t
              WHERE t.user_id NOT IN (SELECT user_id FROM upd))
            SELECT coalesce(n.user_id, o.user_id) AS user_id,
                   CASE WHEN n.user_id IS NOT NULL THEN n.event_id ELSE o.event_id END AS event_id,
                   CASE WHEN n.user_id IS NOT NULL THEN n.event_type ELSE o.event_type END AS event_type,
                   CASE WHEN n.user_id IS NOT NULL THEN n.value ELSE o.value END AS value,
                   CASE WHEN o.user_id IS NULL THEN 'insert'
                        WHEN n.user_id IS NULL THEN 'delete'
                        ELSE 'update_postimage' END AS _change_type
            FROM s1 o FULL OUTER JOIN s2 n ON o.user_id = n.user_id
            WHERE o.user_id IS NULL OR n.user_id IS NULL OR o.event_id <> n.event_id""",
        "cdc_lineage_stats": """
            SELECT CAST(floor(event_id / 1000) AS BIGINT) AS batch_id,
                   CAST(count(*) AS BIGINT) AS events,
                   CAST(min(event_id) AS BIGINT) AS min_offset,
                   CAST(max(event_id) AS BIGINT) AS max_offset,
                   CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS errors,
                   CAST(count(DISTINCT user_id) AS BIGINT) AS n_keys
            FROM events GROUP BY 1""",
        # append-only icetable state == the raw events; the data-skipping
        # scan must therefore equal the plain time-range filter. Cutoff is
        # integer epoch-µs floor arithmetic in both engines (exact boundary).
        "cdc_time_scan": """
            WITH cut AS (
              SELECT MIN(epoch_us(ts)) + ((MAX(epoch_us(ts)) - MIN(epoch_us(ts))) * 7) // 10 AS c
              FROM events)
            SELECT event_id, ts, user_id, event_type, round(value, 6) AS value
            FROM events, cut
            WHERE epoch_us(ts) >= cut.c""",
        "cdc_partition_lineage": """
            SELECT CAST(floor(event_id / 1000) AS BIGINT) AS batch_id,
                   (('0x' || substring(md5(user_id::VARCHAR), 1, 15))::BIGINT % 8) AS partition,
                   CAST(count(*) AS BIGINT) AS events,
                   CAST(min(event_id) AS BIGINT) AS min_offset,
                   CAST(max(event_id) AS BIGINT) AS max_offset,
                   CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS errors
            FROM events GROUP BY 1, 2""",
        "dedup_exact": f"""
            WITH fp AS (SELECT doc_id,
                        md5(regexp_replace(lower(trim(coalesce(text, ''))), '\\s+', ' ', 'g')) AS fp
                        FROM documents),
            g AS (SELECT fp, min(doc_id) AS canonical_id, count(*) AS group_size
                  FROM fp GROUP BY fp)
            SELECT f.doc_id, g.canonical_id, g.group_size,
                   f.doc_id <> g.canonical_id AS is_dup
            FROM fp f JOIN g USING (fp)""",
        "text_analysis": f"""
            WITH t AS (
              SELECT doc_id, text,
                     {_WORDS} AS w,
                     list_transform({_WORDS}, x -> lower(x)) AS lw
              FROM documents)
            SELECT doc_id,
              len(w) AS n_words,
              len(regexp_extract_all(text, '{BPE_TOKEN_RE}')) AS n_bpe_tokens,
              round(CASE WHEN len(lw) > 0
                    THEN len(list_filter(lw, x -> list_contains({_STOP_LIST}, x))) / len(lw)
                    ELSE 0.0 END, 6) AS stopword_ratio,
              round(CASE WHEN length(text) > 0
                    THEN (length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g'))) / length(text)
                    ELSE 0.0 END, 6) AS punct_ratio,
              round(least(len(w) / 50.0, 1.0) * 0.5
                  + greatest(0.0, 1.0 - (CASE WHEN length(text) > 0
                      THEN (length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g'))) / length(text)
                      ELSE 0.0 END) * 5.0) * 0.3
                  + (CASE WHEN (CASE WHEN len(lw) > 0
                       THEN len(list_filter(lw, x -> list_contains({_STOP_LIST}, x))) / len(lw)
                       ELSE 0.0 END) > 0.6 THEN 0.5 ELSE 1.0 END) * 0.2, 6) AS quality,
              CASE WHEN {best} > 0 THEN (CASE {whens} END) ELSE 'und' END AS lang_pred,
              md5({_NORM}) AS fp_md5
            FROM (SELECT *, {best} AS __best FROM t) tt""",
        "ngram_jaccard": f"""
            WITH sh AS (
              SELECT doc_id, lang, s, len(s) AS sz, length(bin(len(s))) AS band
              FROM (SELECT doc_id, lang, {_SHINGLE_KEYS} AS s
                    FROM (SELECT doc_id, lang,
                                 list_transform({_WORDS}, x -> lower(x)) AS w
                          FROM documents WHERE doc_id < 2000))
              WHERE len(s) > 0)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   round(len(list_intersect(a.s, b.s))::DOUBLE
                         / len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
            FROM sh a JOIN sh b
              ON a.lang = b.lang AND a.doc_id < b.doc_id
             AND abs(a.band - b.band) <= 1
             AND least(a.sz, b.sz) * 5 >= greatest(a.sz, b.sz) * 4
            WHERE len(list_intersect(a.s, b.s))::DOUBLE
                  / len(list_distinct(list_concat(a.s, b.s))) >= 0.8""",
        "embedding_topk": """
            WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
            scored AS (
              SELECT q.query_id, e.vec_id AS neighbor_id,
                     round(list_sum(list_transform(range(1, len(e.embedding) + 1),
                                    i -> q.qv[i]::DOUBLE * e.embedding[i]::DOUBLE))
                           / (sqrt(list_sum(list_transform(range(1, len(q.qv) + 1), i -> q.qv[i]::DOUBLE * q.qv[i]::DOUBLE)))
                            * sqrt(list_sum(list_transform(range(1, len(e.embedding) + 1), i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)))), 6)
                     AS cos_sim
              FROM embeddings e, q WHERE e.vec_id <> q.query_id)
            SELECT query_id, neighbor_id, rank, cos_sim FROM (
              SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
              FROM scored) WHERE rank <= 5""",
        # same op order as operators.similarity.embedding_neardup_pairs
        # (method='exact'): norms staged per row, left-to-right float64
        # dot, threshold on the UNROUNDED sim, round(·, 6) for output
        "embedding_neardup": """
            WITH nv AS (
              SELECT vec_id, embedding,
                     sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS nrm
              FROM embeddings WHERE vec_id < 1000)
            SELECT id_a, id_b, round(sim, 6) AS cos_sim FROM (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                     list_sum(list_transform(range(1, len(a.embedding) + 1),
                              i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
                       / (a.nrm * b.nrm) AS sim
              FROM nv a JOIN nv b ON a.vec_id < b.vec_id)
            WHERE sim >= 0.4""",
        # minhash_lsh uses affine universal-hash permutations over the
        # md5-derived shingle keys and raw string band buckets, so the
        # WHOLE pipeline — signature, banding, candidate join,
        # exact-Jaccard verify — is reproduced in SQL (same (a,b)
        # constants, same integer arithmetic).
        "minhash_lsh": _MINHASH_PAIRS_SQL,
        # operators.components twin: recursive-CTE transitive closure
        # over the SAME MinHash pair SQL; component = min reachable id
        "dedup_components": f"""
            WITH RECURSIVE pairs AS ({_MINHASH_PAIRS_SQL}),
            e AS (SELECT id_a AS a, id_b AS b FROM pairs
                  UNION SELECT id_b, id_a FROM pairs),
            reach AS (
              SELECT a AS node, a AS r FROM e
              UNION
              SELECT reach.node, e.b FROM reach JOIN e ON e.a = reach.r
            )
            SELECT d.doc_id, coalesce(m.comp, d.doc_id) AS component
            FROM documents d
            LEFT JOIN (SELECT node, min(r) AS comp FROM reach GROUP BY node) m
              ON d.doc_id = m.node""",
        # operators.pii twin generated from the same PII_PATTERNS
        # constants (see _pii_scrub_sql) — stage-by-stage count + mask
        "pii_scrub": _pii_scrub_sql(),
        # operators.profile twin: Spark exact percentile ≡ DuckDB
        # quantile_cont (both linear interpolation at rank p·(n-1));
        # word counts via the shared _WORDS tokenizer twin
        "corpus_profile": f"""
            WITH d AS (SELECT lang, len({_WORDS}) AS nw,
                              length(text) AS nc
                       FROM documents)
            SELECT lang, count(*) AS n_docs,
                   CAST(sum(nw) AS BIGINT) AS total_words,
                   round(avg(nw), 6) AS avg_words,
                   round(quantile_cont(nw, 0.25), 6) AS p25_words,
                   round(quantile_cont(nw, 0.50), 6) AS p50_words,
                   round(quantile_cont(nw, 0.90), 6) AS p90_words,
                   round(quantile_cont(nw, 0.99), 6) AS p99_words,
                   round(avg(nc), 6) AS avg_chars
            FROM d GROUP BY lang""",
        # lake-integrated maintenance: survivors = documents minus the
        # larger side of every verified near-dup pair (keep-min policy
        # over the SAME pipeline as minhash_lsh)
        "corpus_dedup_pass": f"""
            WITH pairs AS ({_MINHASH_PAIRS_SQL})
            SELECT doc_id, text FROM documents
            WHERE doc_id NOT IN (SELECT id_b FROM pairs)""",
        # two-phase twin of the incremental pass: phase 1 dedups the
        # first half, phase 2 drops id_b among (survivors ∪ second
        # half). Band collisions are deterministic on text, so old↔old
        # pairs cannot appear in phase 2 (they fired in phase 1) — the
        # pair set equals the incremental new⨝all candidate set.
        "incremental_dedup": f"""
            WITH cutoff AS (SELECT (MAX(doc_id) + 1) // 2 AS c FROM documents),
            docs1 AS (SELECT doc_id, text FROM documents, cutoff WHERE doc_id < c),
            p1 AS ({_minhash_pairs_sql("docs1")}),
            surv1 AS (SELECT doc_id, text FROM docs1
                      WHERE doc_id NOT IN (SELECT id_b FROM p1)),
            corpus2 AS (SELECT doc_id, text FROM surv1
                        UNION ALL
                        SELECT doc_id, text FROM documents, cutoff WHERE doc_id >= c),
            p2 AS ({_minhash_pairs_sql("corpus2")})
            SELECT doc_id, text FROM corpus2
            WHERE doc_id NOT IN (SELECT id_b FROM p2)""",
        # simhash candidate generation covers ALL pairs at distance ≤ d
        # (multi-index pigeonhole), so the result equals the brute-force
        # all-pairs Hamming filter — which IS the oracle below.
        "simhash_pairs": f"""
            WITH h AS (SELECT doc_id, {_WORD_HASHES60} AS hs FROM documents),
            s AS (SELECT doc_id, {_simhash60_sql()} AS sim FROM h WHERE len(hs) > 0)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(bit_count(xor(a.sim, b.sim)) AS INTEGER) AS hamming
            FROM s a JOIN s b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.sim, b.sim)) <= 3""",
        # IVF ANN: centroid pick / assignment / probing / re-rank all
        # deterministic (md5 hash sample + rounded-cosine ranking) → the
        # whole pipeline has an exact SQL twin.
        "ann_lsh_topk": _ann_lsh_sql(),
        "ann_ivf_topk": f"""
            WITH c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings
                       WHERE (('0x' || substring(md5(vec_id::VARCHAR), 1, 15))::BIGINT) % 32 = 0),
            a AS (SELECT vec_id, cid FROM (
                    SELECT e.vec_id, c.cid,
                           row_number() OVER (PARTITION BY e.vec_id
                               ORDER BY {_cos_sql('e.embedding', 'c.cv')} DESC, c.cid ASC) AS rn
                    FROM embeddings e, c) WHERE rn = 1),
            q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
            p AS (SELECT query_id, qv, cid FROM (
                    SELECT q.query_id, q.qv, c.cid,
                           row_number() OVER (PARTITION BY q.query_id
                               ORDER BY {_cos_sql('q.qv', 'c.cv')} DESC, c.cid ASC) AS rn
                    FROM q, c) WHERE rn <= 4),
            cand AS (SELECT p.query_id, p.qv, e.vec_id AS neighbor_id, e.embedding AS nv
                     FROM p JOIN a ON a.cid = p.cid JOIN embeddings e ON e.vec_id = a.vec_id
                     WHERE e.vec_id <> p.query_id)
            SELECT query_id, neighbor_id, rank, cos_sim FROM (
              SELECT query_id, neighbor_id,
                     {_cos_sql('qv', 'nv')} AS cos_sim,
                     row_number() OVER (PARTITION BY query_id
                         ORDER BY {_cos_sql('qv', 'nv')} DESC, neighbor_id ASC) AS rank
              FROM cand) WHERE rank <= 5""",
        # semantic_dedup: the full SemDeDup pipeline in SQL — same
        # centroid sample + round-6 argmax assignment as ann_ivf_topk,
        # then within-cluster pairs and keep-min survivors.
        "semantic_dedup": f"""
            WITH c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings
                       WHERE (('0x' || substring(md5(vec_id::VARCHAR), 1, 15))::BIGINT) % 32 = 0),
            a AS (SELECT vec_id, embedding, cid FROM (
                    SELECT e.vec_id, e.embedding, c.cid,
                           row_number() OVER (PARTITION BY e.vec_id
                               ORDER BY {_cos_sql('e.embedding', 'c.cv')} DESC, c.cid ASC) AS rn
                    FROM embeddings e, c) WHERE rn = 1),
            d AS (SELECT DISTINCT y.vec_id AS dup
                  FROM a x JOIN a y ON x.cid = y.cid AND x.vec_id < y.vec_id
                  WHERE {_cos_sql('x.embedding', 'y.embedding')} >= 0.4)
            SELECT a.vec_id, a.cid AS cluster_id, (d.dup IS NULL) AS keep
            FROM a LEFT JOIN d ON d.dup = a.vec_id""",
        # multimodal_features: the Spark side builds REAL binary PPM (P6)
        # payloads (header + tiled utf-8 bytes) and decodes them with a
        # pure-Python netpbm parser; the oracle recomputes every pixel
        # from the source text — hex-extracts byte j, counts its tiling
        # multiplicity cnt_j = ((n_px-1-j) // len) + 1, and aggregates
        # integer-exact sum/min/max. Dims in the output come from the
        # PARSED header, so a decode bug breaks the hash.
        "multimodal_features": """
            WITH d AS (
              SELECT doc_id AS media_id,
                     octet_length(encode(text)) AS len,
                     hex(encode(text)) AS hx
              FROM documents WHERE octet_length(encode(text)) > 0
            ), dims AS (
              SELECT media_id, len, hx,
                     (len % 64 + 1)::INT AS width, (len % 48 + 1)::INT AS height,
                     ((len % 64 + 1) * (len % 48 + 1) * 3)::INT AS n_px
              FROM d
            ), b AS (
              SELECT media_id, width, height, n_px,
                     ('0x' || substr(hx, 2*j + 1, 2))::BIGINT AS byte,
                     ((n_px - 1 - j) // len) + 1 AS cnt
              FROM dims, UNNEST(range(len)) AS t(j)
              WHERE j < n_px
            )
            SELECT media_id, width, height, n_px,
                   SUM(byte * cnt)::BIGINT AS byte_sum,
                   MIN(byte)::INT AS byte_min, MAX(byte)::INT AS byte_max
            FROM b GROUP BY media_id, width, height, n_px""",
        # deterministic split/sample/pack (operators/sampling.py): the
        # md5-prefix bucket is bit-identical in both engines, so labels,
        # survivors and the packing layout reproduce exactly.
        "corpus_split": """
            SELECT doc_id, split_bucket,
                   CASE WHEN split_bucket < 9000 THEN 'train'
                        WHEN split_bucket < 9500 THEN 'val'
                        ELSE 'test' END AS split
            FROM (SELECT doc_id,
                         (('0x' || substring(md5('split:' || doc_id::VARCHAR), 1, 15))::BIGINT % 10000) AS split_bucket
                  FROM documents)""",
        "corpus_sample": """
            SELECT doc_id, lang
            FROM (SELECT doc_id, lang,
                         (('0x' || substring(md5('sample:' || doc_id::VARCHAR), 1, 15))::BIGINT % 10000) AS b
                  FROM documents)
            WHERE b < CASE lang WHEN 'en' THEN 5000 WHEN 'fr' THEN 2500 ELSE 0 END""",
        "sequence_pack": f"""
            WITH t AS (
              SELECT doc_id,
                     CAST(len(regexp_extract_all(text, '{BPE_TOKEN_RE}')) AS BIGINT) AS n_tok,
                     (('0x' || substring(md5('pack:' || doc_id::VARCHAR), 1, 15))::BIGINT % 16) AS grp
              FROM documents),
            s AS (
              SELECT doc_id, grp, n_tok,
                     CAST(coalesce(sum(n_tok) OVER (PARTITION BY grp ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                          AS BIGINT) AS strt
              FROM t)
            SELECT doc_id, grp, strt // 2048 AS bin, strt % 2048 AS bin_offset,
                   ((strt + greatest(n_tok, 1) - 1) // 2048) - (strt // 2048) + 1 AS n_bins
            FROM s""",
        # text.lm_score twin: same self-trained bigram counts, same
        # Stupid-Backoff max, alpha=0.4; round-6 absorbs summation-order
        # ULP drift in the per-doc avg
        "lm_score": f"""
            WITH base AS (
              SELECT doc_id, list_transform({_WORDS}, x -> lower(x)) AS w
              FROM documents),
            toks AS (SELECT doc_id, unnest(w) AS tok FROM base),
            uni AS (SELECT tok, count(*)::DOUBLE AS uc FROM toks GROUP BY tok),
            tot AS (SELECT sum(uc) AS tot FROM uni),
            db2 AS (
              SELECT doc_id, bg['w1'] AS w1, bg['w2'] AS w2
              FROM (SELECT doc_id,
                           unnest(list_transform(
                             range(1, greatest(len(w) - 1, 0) + 1),
                             i -> {{'w1': w[i], 'w2': w[i+1]}})) AS bg
                    FROM base)),
            big AS (SELECT w1, w2, count(*)::DOUBLE AS bc
                    FROM db2 GROUP BY w1, w2),
            sc AS (
              SELECT d.doc_id,
                     ln(greatest(bc / u1.uc, 0.4 * u2.uc / tot)) AS lp
              FROM db2 d
              JOIN big USING (w1, w2)
              JOIN uni u1 ON u1.tok = d.w1
              JOIN uni u2 ON u2.tok = d.w2, tot),
            pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
                          avg(lp) AS a
                   FROM sc GROUP BY doc_id)
            SELECT documents.doc_id,
                   coalesce(n_bigrams, 0) AS n_bigrams,
                   round(a, 6) AS avg_logprob,
                   round(exp(-a), 6) AS ppl_proxy
            FROM documents LEFT JOIN pd USING (doc_id)""",
        # lines.line_dedup twin: same 12-word spans, same lower(trim)
        # normalization, drop-all at count >= 2, order-preserving
        # reassembly (string_agg skips the CASE's NULLs exactly like
        # collect_list skips unmatched whens)
        "line_dedup": f"""
            WITH base AS (SELECT doc_id, {_WORDS} AS w FROM documents),
            ch AS (
              SELECT doc_id, i AS pos,
                     array_to_string(w[(i*12)+1 : (i+1)*12], ' ') AS line
              FROM (SELECT doc_id, w,
                           unnest(range(0, CAST(ceil(len(w)/12.0) AS INT))) AS i
                    FROM base)),
            cnt AS (SELECT lower(trim(line)) AS norm, count(*) AS c
                    FROM ch WHERE lower(trim(line)) <> '' GROUP BY 1),
            k AS (SELECT doc_id, pos, line,
                         (coalesce(c, 0) < 2 OR lower(trim(line)) = '') AS kept
                  FROM ch LEFT JOIN cnt ON lower(trim(ch.line)) = cnt.norm),
            agg AS (SELECT doc_id,
                           CAST(count(*) AS BIGINT) AS n_lines,
                           CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                           string_agg(CASE WHEN kept THEN line END, chr(10) ORDER BY pos) AS txt
                    FROM k GROUP BY doc_id)
            SELECT d.doc_id, coalesce(n_lines, 0) AS n_lines,
                   coalesce(n_kept, 0) AS n_kept,
                   coalesce(txt, '') AS text_kept
            FROM documents d LEFT JOIN agg USING (doc_id)""",
        # sampling.mixture_report twin: same md5 bucket, same
        # floor-based threshold, identical weight/budget literals
        "corpus_mix": f"""
            WITH d AS (
              SELECT doc_id, source, CAST({_NWORDS} AS BIGINT) AS n_tok,
                     (('0x' || substring(md5('mix:' || doc_id::VARCHAR), 1, 15))::BIGINT
                      % 10000) AS b
              FROM documents),
            t AS (SELECT source, CAST(count(*) AS BIGINT) AS total_docs,
                         CAST(sum(n_tok) AS BIGINT) AS total_tokens
                  FROM d GROUP BY source),
            thr AS (
              SELECT source, total_docs, total_tokens,
                     4000.0 * (CASE source WHEN 'src0' THEN 4.0 WHEN 'src1' THEN 2.0
                               WHEN 'src2' THEN 1.0 WHEN 'src3' THEN 1.0
                               ELSE 0.0 END) / 8.0 AS target,
                     CASE WHEN total_tokens > 0
                          THEN least(10000, CAST(floor(target / total_tokens * 10000) AS INT))
                          ELSE 0 END AS rate_bp
              FROM t),
            k AS (SELECT d.source, CAST(count(*) AS BIGINT) AS kept_docs,
                         CAST(sum(n_tok) AS BIGINT) AS kept_tokens
                  FROM d JOIN thr USING (source)
                  WHERE d.b < thr.rate_bp GROUP BY d.source)
            SELECT source, total_docs, total_tokens,
                   round(target, 6) AS target_tokens, rate_bp,
                   coalesce(kept_docs, 0) AS kept_docs,
                   coalesce(kept_tokens, 0) AS kept_tokens
            FROM thr LEFT JOIN k USING (source)""",
        # text.tfidf_keywords twin: same smoothed idf, rounded-score +
        # token rank ordering (row_number is deterministic under it)
        "tfidf_keywords": f"""
            WITH toks AS (
              SELECT doc_id, unnest(list_transform({_WORDS}, x -> lower(x))) AS token
              FROM documents),
            tfd AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
                    FROM toks GROUP BY doc_id, token),
            dfq AS (SELECT token, CAST(count(*) AS BIGINT) AS df_docs
                    FROM tfd GROUP BY token),
            n AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
            scored AS (
              SELECT tfd.doc_id, tfd.token, tf,
                     round(tf * (ln((n_docs + 1.0) / (df_docs + 1.0)) + 1.0), 6)
                       AS score
              FROM tfd JOIN dfq USING (token), n),
            ranked AS (
              SELECT doc_id, token, tf, score,
                     row_number() OVER (PARTITION BY doc_id
                                        ORDER BY score DESC, token ASC) AS rank
              FROM scored)
            SELECT doc_id, CAST(rank AS INT) AS rank, token, tf, score
            FROM ranked WHERE rank <= 5""",
        # decontaminate.contamination_report twin: same md5-prefix
        # 60-bit shingle keys (_SHINGLE_KEYS), same % 25 == 7 benchmark
        # split, unrounded fraction for the contaminated flag
        "contamination": f"""
            WITH base AS (
              SELECT doc_id, list_transform({_WORDS}, x -> lower(x)) AS w
              FROM documents),
            sh AS (SELECT doc_id, {_SHINGLE_KEYS} AS ks FROM base),
            bench AS (SELECT DISTINCT unnest(ks) AS k FROM sh WHERE doc_id % 25 = 7),
            train AS (SELECT doc_id, ks FROM sh WHERE doc_id % 25 <> 7),
            tot AS (SELECT doc_id, CAST(len(ks) AS BIGINT) AS n_shingles FROM train),
            hits AS (
              SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_hits
              FROM (SELECT doc_id, unnest(ks) AS k FROM train) t
              JOIN bench USING (k)
              GROUP BY t.doc_id)
            SELECT tot.doc_id, n_shingles,
              coalesce(n_hits, 0) AS n_hits,
              round(CASE WHEN n_shingles > 0
                         THEN coalesce(n_hits, 0) / n_shingles::DOUBLE
                         ELSE 0.0 END, 6) AS overlap_frac,
              (CASE WHEN n_shingles > 0
                    THEN coalesce(n_hits, 0) / n_shingles::DOUBLE
                    ELSE 0.0 END) >= 0.5 AS contaminated
            FROM tot LEFT JOIN hits USING (doc_id)""",
        "token_frequency": f"""
            WITH toks AS (
              SELECT doc_id, unnest(list_transform({_WORDS}, x -> lower(x))) AS token
              FROM documents),
            tf AS (SELECT token, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY token),
            dfq AS (SELECT token, CAST(count(*) AS BIGINT) AS df_docs
                    FROM (SELECT DISTINCT token, doc_id FROM toks) GROUP BY token)
            SELECT token, tf, df_docs FROM tf JOIN dfq USING (token)""",
        "url_extract": _url_pipeline_sql()
        + """
            SELECT doc_id, url, norm_url, host, domain FROM urls""",
        "domain_stats": _url_pipeline_sql()
        + """
            SELECT o.domain, o.n_urls, d.n_docs
            FROM (SELECT domain, count(*) AS n_urls FROM urls GROUP BY domain) o
            JOIN (SELECT domain, count(*) AS n_docs
                  FROM (SELECT DISTINCT domain, doc_id FROM urls) GROUP BY domain) d
              USING (domain)""",
        # same word/gram pipeline as repetition_signals; thresholds compare
        # the SAME float arithmetic both sides (integer-exact numerators,
        # IEEE division; repetition fracs rounded 6 BEFORE comparison, as
        # in the operator), so keep/reasons are engine-exact
        "quality_filter": f"""
            WITH base AS (
              SELECT doc_id, text, list_transform({_WORDS}, x -> lower(x)) AS w
              FROM documents),
            grams AS (
              SELECT doc_id, 2 AS gn,
                     unnest(list_transform(range(1, greatest(len(w) - 1, 0) + 1),
                                           i -> w[i] || ' ' || w[i+1])) AS g
              FROM base
              UNION ALL
              SELECT doc_id, 3 AS gn,
                     unnest(list_transform(range(1, greatest(len(w) - 2, 0) + 1),
                                           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g
              FROM base),
            counts AS (SELECT doc_id, gn, g, count(*) AS c
                       FROM grams GROUP BY doc_id, gn, g),
            per_n AS (SELECT doc_id, gn, max(c) AS topc FROM counts GROUP BY doc_id, gn),
            piv AS (SELECT doc_id,
                      max(CASE WHEN gn = 2 THEN topc END) AS top_bi,
                      max(CASE WHEN gn = 3 THEN topc END) AS top_tri
                    FROM per_n GROUP BY doc_id),
            sig AS (SELECT b.doc_id,
                      coalesce(len(w), 0) AS n_words,
                      CASE WHEN coalesce(len(w), 0) > 0
                           THEN list_sum(list_transform(w, x -> len(x)))::DOUBLE / len(w)
                           ELSE 0.0 END AS mwl,
                      CASE WHEN coalesce(len(w), 0) > 0
                           THEN (len(regexp_extract_all(text, '#'))
                                 + len(regexp_extract_all(text, '\\.\\.\\.')))::DOUBLE / len(w)
                           ELSE 0.0 END AS sym,
                      CASE WHEN coalesce(len(w), 0) > 0
                           THEN len(list_filter(w, x -> regexp_matches(x, '[a-z]')))::DOUBLE / len(w)
                           ELSE 0.0 END AS alpha,
                      coalesce(len(list_distinct(list_filter(w,
                        x -> list_contains(['and','be','have','of','that','the','to','with'], x)))), 0) AS nstop,
                      round(CASE WHEN coalesce(len(w), 0) >= 2 THEN top_bi * 2.0 / len(w) ELSE 0.0 END, 6) AS top_bi_f,
                      round(CASE WHEN coalesce(len(w), 0) >= 3 THEN top_tri * 3.0 / len(w) ELSE 0.0 END, 6) AS top_tri_f
                    FROM base b LEFT JOIN piv USING (doc_id)),
            fl AS (SELECT doc_id, n_words, mwl, alpha,
                     concat_ws(',',
                       CASE WHEN n_words < 30 OR n_words > 90 THEN 'word_count' END,
                       CASE WHEN mwl < 3.0 OR mwl > 10.0 THEN 'mean_word_len' END,
                       CASE WHEN sym > 0.1 THEN 'symbol_ratio' END,
                       CASE WHEN alpha < 0.8 THEN 'alpha_words' END,
                       CASE WHEN nstop < 1 THEN 'stopwords' END,
                       CASE WHEN top_bi_f > 0.18 THEN 'bigram_rep' END,
                       CASE WHEN top_tri_f > 0.16 THEN 'trigram_rep' END) AS reasons
                   FROM sig)
            SELECT doc_id, n_words, round(mwl, 6) AS mean_word_len,
                   round(alpha, 6) AS alpha_word_frac,
                   reasons = '' AS keep, reasons
            FROM fl""",
        "repetition_signals": f"""
            WITH base AS (
              SELECT doc_id, list_transform({_WORDS}, x -> lower(x)) AS w
              FROM documents),
            nw AS (SELECT doc_id, len(w) AS n_words FROM base),
            grams AS (
              SELECT doc_id, 1 AS gn, unnest(w) AS g FROM base
              UNION ALL
              SELECT doc_id, 2 AS gn,
                     unnest(list_transform(range(1, greatest(len(w) - 1, 0) + 1),
                                           i -> w[i] || ' ' || w[i+1])) AS g
              FROM base
              UNION ALL
              SELECT doc_id, 3 AS gn,
                     unnest(list_transform(range(1, greatest(len(w) - 2, 0) + 1),
                                           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g
              FROM base),
            counts AS (SELECT doc_id, gn, g, count(*) AS c
                       FROM grams GROUP BY doc_id, gn, g),
            per_n AS (SELECT doc_id, gn, max(c) AS topc, count(*) AS ndist
                      FROM counts GROUP BY doc_id, gn),
            piv AS (SELECT doc_id,
                      max(CASE WHEN gn = 1 THEN ndist END) AS n_distinct,
                      max(CASE WHEN gn = 2 THEN topc END) AS top_bi,
                      max(CASE WHEN gn = 3 THEN topc END) AS top_tri
                    FROM per_n GROUP BY doc_id)
            SELECT nw.doc_id, n_words,
              round(CASE WHEN n_words > 0 THEN n_distinct / n_words ELSE 0.0 END, 6)
                AS distinct_frac,
              round(CASE WHEN n_words >= 2 THEN top_bi * 2.0 / n_words ELSE 0.0 END, 6)
                AS top_bigram_frac,
              round(CASE WHEN n_words >= 3 THEN top_tri * 3.0 / n_words ELSE 0.0 END, 6)
                AS top_trigram_frac
            FROM nw LEFT JOIN piv USING (doc_id)""",
        # ann_lsh_topk: candidate-generation — verified in pytest by
        # containment/recall vs the exact baseline (rows-only driver
        # check).
    }
