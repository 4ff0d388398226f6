"""cdc_micro_cow: small micro-batches replayed into a copy-on-write table.

Each operation is one ``CdcPipeline.apply_batch`` call, from handing over
the batch to its committed snapshot. A batch holds PER_BATCH events over
NUM_DOCS doc_ids (the generator's hot keys and deletes included), so the
per-batch fixed cost -- stats+probe aggregate, dedup, coercion plan,
bucket rewrite, snapshot commit -- is nearly all of the time.

Checks, after the timed batches, against DuckDB over the binlog parquet:
the final ``read()`` equals the latest non-deleted event per key with the
coerced columns computed in SQL, and ``changes(v-1, v)`` at a mid-run
version equals the diff of the two binlog-prefix states.
"""

from __future__ import annotations

import os
import statistics
import time

PER_BATCH = 4000
NUM_DOCS = 30000
BUCKETS = 8
WARM_BATCHES = 2  # the cold first batch and one more, both in setup_s
MIN_TRACED_OPS = 4  # traced runs trace batches in ABBA order: U T T U ...

COERCED = ("event_time_str", "event_time_ms", "event_time_sec")


def run(ctx) -> dict:
    from embulk_filter_timestamp_format_spark.lake import IceTable
    from embulk_filter_timestamp_format_spark.sources.binlog import BINLOG_SCHEMA
    from embulk_filter_timestamp_format_spark.streaming.cdc import (
        TARGET_SCHEMA,
        CdcPipeline,
        dedup_latest,
    )
    from inputs import write_binlog

    spark, args, tr = ctx.spark, ctx.args, ctx.tracer
    pool = WARM_BATCHES + int(args.seconds * 2) + 8
    binlog = os.path.join(ctx.workdir, "binlog")
    t = time.perf_counter()
    batch_dirs = write_binlog(spark, binlog, args.seed, pool, PER_BATCH, NUM_DOCS)
    ctx.layers["sources.binlog_s"] = time.perf_counter() - t

    table = IceTable.create(
        spark, os.path.join(ctx.workdir, "table"), TARGET_SCHEMA,
        key="doc_id", num_buckets=BUCKETS, write_mode="cow",
    )
    pipe = CdcPipeline(spark, table)
    if args.trace:
        tr.wrap(pipe, "coerce", "streaming.coerce")
        tr.wrap(pipe, "_detect_skew", "streaming.skew_probe")
        tr.wrap(table, "merge_into", "lake.merge_into")
        for m in ("snapshot", "current_version", "last_batch_id"):
            tr.wrap(table, m, "lake.metadata")

    def batch(i):
        return spark.read.schema(BINLOG_SCHEMA).parquet(batch_dirs[i])

    versions: dict[int, int] = {}
    for i in range(WARM_BATCHES):
        versions[i] = pipe.apply_batch(batch(i), i)
    setup_s = time.perf_counter() - ctx.t_start

    latencies, traced, untraced, per_op = [], [], [], []
    i = WARM_BATCHES
    t_loop = time.perf_counter()
    while i < pool and (
        time.perf_counter() - t_loop < args.seconds
        or (args.trace and len(latencies) < MIN_TRACED_OPS)
    ):
        df = batch(i)
        # ABBA order, so JIT drift over the run does not read as overhead
        trace_this = bool(args.trace) and (i - WARM_BATCHES) % 4 in (1, 2)
        before = table.snapshot() if trace_this else None
        tr.enabled = trace_this
        tr.op_id = i

        def op(df=df, i=i):
            with tr.span("streaming.apply_batch"):
                return pipe.apply_batch(df, i)

        ok, dt, v = ctx.attempt("apply_batch", op)
        tr.enabled = False
        if ok:
            versions[i] = v
            latencies.append(dt)
            (traced if trace_this else untraced).append(dt)
        if trace_this and ok:
            per_op.append(_batch_layers(ctx, table, before, batch_dirs[i], i))
            per_op[-1]["streaming.coerce_exec_s"] = _coerce_exec(
                spark, pipe, dedup_latest, df
            )
        i += 1
    applied = sorted(versions)

    if args.trace:
        for k in per_op[0] if per_op else ():
            ctx.layers[k] = statistics.median(p[k] for p in per_op)
        ctx.layers["trace.overhead_ratio"] = (
            statistics.median(traced) / statistics.median(untraced)
            if traced and untraced else 0.0
        )
        _kernel_layers(ctx, spark, binlog, BINLOG_SCHEMA)
        ctx.layers["spark.codegen_failures"] = ctx.codegen_failures()

    _check(ctx, table, binlog, versions, applied)
    return {
        "setup_s": setup_s,
        "latencies": latencies,
        "items": PER_BATCH * len(latencies),
    }


def _batch_layers(ctx, table, before: dict, batch_dir: str, op: int) -> dict:
    from inputs import dir_bytes
    from spans import self_time, total

    spans = ctx.tracer.op_spans(op)
    root = next(s for s in spans if s["name"] == "streaming.apply_batch")
    # snapshot() calls current_version(): count only the outermost call
    name = {s["id"]: s["name"] for s in spans}
    meta = [s for s in spans
            if s["name"] == "lake.metadata" and name.get(s["parent"]) != "lake.metadata"]
    after = table.snapshot()
    old = {f["path"] for f in before["files"]}
    new = [f["path"] for f in after["files"] if f["path"] not in old]
    written = sum(os.path.getsize(os.path.join(table.root, p)) for p in new)
    return {
        "streaming.apply_batch_self_s": self_time(root, spans),
        "streaming.coerce_s": total(spans, "streaming.coerce"),
        "lake.metadata_s": total(meta, "lake.metadata"),
        "lake.metadata_calls": len(meta),
        "lake.merge_into_s": total(spans, "lake.merge_into"),
        "spark.jobs_per_batch": sum(s["jobs"] for s in spans),
        "spark.stages_per_batch": sum(s["stages"] for s in spans),
        "spark.tasks_per_batch": sum(s["tasks"] for s in spans),
        "lake.files_written_per_batch": len(new),
        "lake.bytes_written_per_batch": written,
        "lake.write_amp": written / dir_bytes(batch_dir),
    }


def _coerce_exec(spark, pipe, dedup_latest, df) -> float:
    """The deduped batch's coercion forced alone, under the same codegen
    setting apply_batch uses."""
    prev = spark.conf.get("spark.sql.codegen.wholeStage", "true")
    spark.conf.set("spark.sql.codegen.wholeStage", str(pipe.wholestage_codegen).lower())
    try:
        t = time.perf_counter()
        pipe.coerce(dedup_latest(df)).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t
    finally:
        spark.conf.set("spark.sql.codegen.wholeStage", prev)


def _kernel_layers(ctx, spark, binlog: str, schema: str) -> None:
    """plans.compile_s and each coercion column's kernel applied alone over
    every generated event (cached), forced to the noop sink."""
    import copy

    from embulk_filter_timestamp_format_spark.plans import apply_task
    from embulk_filter_timestamp_format_spark.plans.apply import CompiledProjection
    from embulk_filter_timestamp_format_spark.streaming.cdc import default_coercion_task

    frame = spark.read.schema(schema).parquet(binlog).cache()
    rows = frame.count()
    task = default_coercion_task()
    times = []
    for _ in range(5):
        t = time.perf_counter()
        CompiledProjection(task, frame.schema)
        times.append(time.perf_counter() - t)
    ctx.layers["plans.compile_s"] = statistics.median(times)
    for col in COERCED:
        one = copy.deepcopy(task)
        one.columns = [c for c in task.columns if c.name == col]
        out = apply_task(frame, one).select(col)
        times = []
        for _ in range(4):  # the first pass compiles; it is not counted
            t = time.perf_counter()
            out.write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - t)
        ctx.layers[f"functions.{col}_rows_per_s"] = rows / statistics.median(times[1:])
    frame.unpersist()


# -- output checks ------------------------------------------------------------

_STATE_SQL = """
    SELECT doc_id, tokens, n_tok, source,
           strftime(make_timestamp(event_time_ms * 1000), '%Y-%m-%d %H:%M:%S.%f')
             || ' +0000' AS event_time_str,
           make_timestamp(event_time_ms * 1000) AS event_time,
           CAST(trunc(event_time_sec) AS BIGINT) AS ingest_time_unix,
           event_seq
    FROM (SELECT * FROM ev WHERE batch IN ({batches})
          QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY event_seq DESC) = 1)
    WHERE op <> 'D'
"""

_COLS = ["doc_id", "tokens", "n_tok", "source", "event_time_str", "event_time",
         "ingest_time_unix", "event_seq"]


def _diff(got: list, want: list) -> str:
    first = next((i for i, (a, b) in enumerate(zip(got, want)) if a != b), None)
    where = f"; first difference {got[first]} vs {want[first]}" if first is not None else ""
    return f"{len(got)} rows vs {len(want)} expected{where}"


def _rows(df) -> list[tuple]:
    return sorted(tuple(r[c] for c in _COLS) for r in df.select(*_COLS).collect())


def _expected(con, batches: list) -> list[tuple]:
    """State after the given (successfully applied) batches."""
    return sorted(con.execute(_STATE_SQL.format(batches=",".join(map(str, batches)))).fetchall())


def _check(ctx, table, binlog: str, versions: dict, applied: list) -> None:
    import duckdb

    con = duckdb.connect()
    glob = os.path.join(binlog, "batch=*", "*.parquet").replace("'", "''")
    con.execute(f"CREATE VIEW ev AS SELECT * FROM read_parquet('{glob}', hive_partitioning = true)")
    got, want = _rows(table.read()), _expected(con, applied)
    ctx.check("cdc.final_state", got == want, _diff(got, want))

    mid = max(1, len(applied) // 2)
    old = {r[0]: r for r in _expected(con, applied[:mid])}
    new = {r[0]: r for r in _expected(con, applied[:mid + 1])}
    want_ch = sorted(
        [(k, "insert", r[-1]) for k, r in new.items() if k not in old]
        + [(k, "update_postimage", r[-1]) for k, r in new.items()
           if k in old and old[k][-1] != r[-1]]
        + [(k, "delete", r[-1]) for k, r in old.items() if k not in new]
    )
    ch = table.changes(versions[applied[mid - 1]], versions[applied[mid]])
    got_ch = sorted(
        (r["doc_id"], r["_change_type"], r["event_seq"])
        for r in ch.select("doc_id", "_change_type", "event_seq").collect()
    )
    ctx.check("cdc.changes", got_ch == want_ch, _diff(got_ch, want_ch))
    con.close()
