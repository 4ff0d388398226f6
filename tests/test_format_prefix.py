"""The CDC batch's format-prefix rule (``CdcPipeline.apply_batch``): a
batch whose event times all parse with their column's first format is
coerced by a plan of that format alone, and the full cascade is planned
only for batches that need it. The rule must change nothing a reader can
see: table state, lineage invalid counts and the abort-before-commit of
``stop_on_invalid_record`` all equal a pipeline that always plans the
full cascade."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from embulk_filter_timestamp_format_spark.functions.parse import TimestampParserPlan
from embulk_filter_timestamp_format_spark.lake import IceTable
from embulk_filter_timestamp_format_spark.plans import TaskConfig
from embulk_filter_timestamp_format_spark.sources.binlog import binlog_events
from embulk_filter_timestamp_format_spark.streaming.cdc import (
    TARGET_SCHEMA,
    CdcPipeline,
    InvalidRecordError,
)

PER_BATCH = 400
DOCS = 150


class FullCascade(CdcPipeline):
    """Control: never cuts the format list, so every batch plans the
    full cascade in its stats pass and its coercion."""

    def _task(self, schema, narrow):
        return self.task


def _table(spark, tmp_path, name):
    return IceTable.create(
        spark, str(tmp_path / name), TARGET_SCHEMA, key="doc_id", num_buckets=4
    )


def _batch(spark, i, no_fraction=0, invalid=0):
    """Batch i of the feed. Every `no_fraction`-th event drops its
    fraction (parses with format 2 only), every `invalid`-th is
    unparseable; the rest parse with format 1."""
    ev = binlog_events(spark, PER_BATCH, DOCS, start_offset=i * PER_BATCH)
    s = F.col("event_time_str")
    if no_fraction:
        s = F.when(
            F.col("offset") % no_fraction == 3, F.regexp_replace(s, r"\.\d+ ", " ")
        ).otherwise(s)
    if invalid:
        s = F.when(F.col("offset") % invalid == 5, F.lit("NOT A TIME")).otherwise(s)
    return ev.withColumn("event_time_str", s)


def _rows(table):
    return sorted(tuple(r) for r in table.read().collect())


def _spy_merge_plans(table):
    """Record the analyzed plan of every batch handed to merge_into."""
    plans = []
    merge_into = table.merge_into

    def spy(updates, **kw):
        plans.append(updates._jdf.queryExecution().analyzed().toString())
        return merge_into(updates, **kw)

    table.merge_into = spy
    return plans


def test_rule_matches_full_cascade_control(spark, tmp_path):
    feed = [
        {},                                  # aligned: full mode, fits
        {"no_fraction": 7},                  # narrow mode, misses
        {"invalid": 11},                     # full mode, misses
        {},                                  # full mode, fits
        {"no_fraction": 9, "invalid": 13},   # narrow mode, misses
        {},                                  # full mode, fits
    ]
    t_rule = _table(spark, tmp_path, "rule")
    t_ctl = _table(spark, tmp_path, "control")
    rule, ctl = CdcPipeline(spark, t_rule), FullCascade(spark, t_ctl)
    for i, shape in enumerate(feed):
        df = _batch(spark, i, **shape)
        rule.apply_batch(df, i)
        ctl.apply_batch(df, i)

    assert _rows(t_rule) == _rows(t_ctl)
    invalid = [m["invalid"] for m in rule.metrics]
    assert invalid == [m["invalid"] for m in ctl.metrics]
    assert invalid[2] > 0 and invalid[4] > 0 and invalid[1] == 0
    assert [m["formats_planned"] for m in rule.metrics] == [1, 3, 3, 1, 3, 1]
    assert all(m["formats_planned"] == 3 for m in ctl.metrics)
    # the committed lineage carries the same counts
    lineage = [
        e for v in t_rule.versions()
        for e in t_rule.snapshot(v)["summary"]["lineage"]
    ]
    assert [e["invalid"] for e in lineage] == invalid


def test_stop_on_invalid_in_narrow_mode_aborts_with_exact_count(spark, tmp_path):
    table = _table(spark, tmp_path, "stop")
    pipe = CdcPipeline(spark, table, stop_on_invalid_record=True)
    pipe.apply_batch(_batch(spark, 0), 0)  # fits: the next batch runs narrow
    assert pipe._narrow
    v_before = table.current_version()
    # 400 events: offsets ≡ 3 (mod 8) lose their fraction (50 format-2
    # rows, which are not invalid); one event is unparseable
    bad = _batch(spark, 1, no_fraction=8).withColumn(
        "event_time_str",
        F.when(F.col("offset") == 410, F.lit("NOT A TIME")).otherwise(
            F.col("event_time_str")
        ),
    )
    with pytest.raises(InvalidRecordError, match=r"batch 1: 1 unparseable record"):
        pipe.apply_batch(bad, 1)
    assert table.current_version() == v_before  # nothing committed
    assert not pipe._narrow  # a miss returns the pipeline to full mode


def test_narrow_merge_plan_plans_first_format_only(spark, tmp_path):
    table = _table(spark, tmp_path, "shape")
    plans = _spy_merge_plans(table)
    pipe = CdcPipeline(spark, table)
    pipe.apply_batch(_batch(spark, 0), 0)  # full mode, fits
    pipe.apply_batch(_batch(spark, 1), 1)  # narrow mode, fits
    pipe.apply_batch(_batch(spark, 2, no_fraction=5), 2)  # narrow mode, misses
    for plan in plans[:2]:
        assert "__pf0__" in plan
        assert "__pf1__" not in plan and "__mk1__" not in plan
    assert "__pf1__" in plans[2]  # the batch that needs the cascade plans it


def test_first_format_task_cuts_after_the_dialect_filter():
    from embulk_filter_timestamp_format_spark.plans.apply import first_format_task

    schema = T.StructType([T.StructField("t", T.StringType())])

    def planned(task):
        c = task.columns[0]
        return TimestampParserPlan(
            task.from_formats(c), task.from_tz(c), task.timestamp_parser
        ).formats

    java, ruby = "yyyy-MM-dd HH:mm:ss", "%Y-%m-%d %H:%M:%S.%N %z"
    for mode in ("auto", "auto_java"):
        task = TaskConfig.from_dict(
            {"timestamp_parser": mode,
             "columns": [{"name": "t", "type": "string",
                          "from_format": [java, ruby, "%Y-%m-%d"]}]}
        )
        cut = first_format_task(task, schema)
        # a mixed list keeps only its ruby formats: the cut is format 1 of
        # those, lowered exactly as the full plan lowers it
        assert planned(cut) == planned(task)[:1]
        assert planned(cut) != [java]
    one = TaskConfig.from_dict({"columns": [{"name": "t", "type": "string"}]})
    assert first_format_task(one, schema) is one  # nothing to cut
