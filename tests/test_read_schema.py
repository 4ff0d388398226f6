"""Table files are read with the snapshot's schema.

A data file written at a snapshot's ``schema_version`` holds exactly that
schema (the write casts to it), so ``_read_projected`` reads it with that
schema and Spark runs no schema-inference job; files at older versions
infer theirs and are cast-projected. Pins both read paths and the job
count they buy a warm copy-on-write CDC batch."""

import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from embulk_filter_timestamp_format_spark.lake import IceTable
from embulk_filter_timestamp_format_spark.sources.binlog import BINLOG_SCHEMA, binlog_events
from embulk_filter_timestamp_format_spark.streaming.cdc import TARGET_SCHEMA, CdcPipeline
from test_policy import _jobs

SCHEMA = T.StructType([T.StructField("k", T.StringType()), T.StructField("x", T.LongType())])


def _table(spark, tmp_path, name, schema=SCHEMA):
    return IceTable.create(spark, str(tmp_path / name), schema, key="k", num_buckets=2)


def test_append_of_narrower_type_reads_as_table_type(spark, tmp_path):
    table = _table(spark, tmp_path, "widen")
    ints = spark.createDataFrame([("a", 1), ("b", 2)], "k string, x int")
    table.append(ints)
    out = table.read()
    assert dict(out.dtypes)["x"] == "bigint"
    assert sorted(tuple(r) for r in out.collect()) == [("a", 1), ("b", 2)]


def test_read_across_evolve_schema(spark, tmp_path):
    ints = T.StructType([T.StructField("k", T.StringType()), T.StructField("x", T.IntegerType())])
    table = _table(spark, tmp_path, "evolve", ints)
    table.append(spark.createDataFrame([("a", 1)], ints))
    strings = T.StructType(
        [T.StructField("k", T.StringType()), T.StructField("x", T.StringType()),
         T.StructField("y", T.DoubleType())]
    )
    table.evolve_schema(strings)
    table.append(spark.createDataFrame([("b", "two", 2.5)], strings))
    out = table.read()
    assert dict(out.dtypes) == {"k": "string", "x": "string", "y": "double"}
    assert sorted(tuple(r) for r in out.collect()) == [("a", "1", None), ("b", "two", 2.5)]


def test_read_runs_no_job(spark, tmp_path):
    table = _table(spark, tmp_path, "nojob")
    table.append(spark.createDataFrame([("a", 1)], SCHEMA))
    _, jobs = _jobs(spark, table.read)
    assert jobs == 0


def test_warm_cow_cdc_batch_runs_at_most_8_jobs(spark, tmp_path):
    """perfbench's cdc_micro_cow shape: 4,000-event batches over 30,000
    doc_ids into an 8-bucket copy-on-write table, read from parquet."""
    per_batch, path = 4000, str(tmp_path / "binlog")
    (
        binlog_events(spark, 3 * per_batch, 30000, seed=1)
        .withColumn("batch", F.floor(F.col("offset") / per_batch).cast("int"))
        .write.partitionBy("batch").parquet(path)
    )
    table = IceTable.create(
        spark, str(tmp_path / "t"), TARGET_SCHEMA, key="doc_id", num_buckets=8,
        write_mode="cow",
    )
    pipe = CdcPipeline(spark, table)

    def batch(i):
        return spark.read.schema(BINLOG_SCHEMA).parquet(os.path.join(path, f"batch={i}"))

    for i in range(2):  # the cold batch and one warm one
        pipe.apply_batch(batch(i), i)
    version, jobs = _jobs(spark, lambda: pipe.apply_batch(batch(2), 2))
    assert version is not None
    assert jobs <= 8
