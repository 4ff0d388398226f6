"""The execution policy (embulk_filter_timestamp_format_spark/policy.py):
its decisions cost no Spark job, the spread gate shapes the plan as
documented, and the salt stays bounded at wide sessions.

Job counts come from ``statusTracker`` over a job group set around each
call; the listener bus is drained first so a job cannot be missed."""

import itertools
import re
from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F

from embulk_filter_timestamp_format_spark import policy
from embulk_filter_timestamp_format_spark.operators import similarity as S

_groups = itertools.count()
_BIG_ROWS = 1_000_000  # a Range's estimate is 8 B/row: 8 MB, over the gate


def _jobs(spark, fn):
    """(fn(), number of Spark jobs fn ran)."""
    sc = spark.sparkContext
    group = f"test-policy-{next(_groups)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _hash_exchanges(df):
    """Partition counts of the hash-partitioning exchanges in df's plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return [int(n) for n in re.findall(r"Exchange hashpartitioning\(.*?, (\d+)\)", plan)]


@pytest.fixture()
def shuffle_partitions(spark):
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    yield lambda n: spark.conf.set("spark.sql.shuffle.partitions", str(n))
    spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_width_is_max_of_shuffle_width_and_cores(spark, shuffle_partitions):
    cores = spark.sparkContext.defaultParallelism
    shuffle_partitions(1)
    assert policy.width(spark) == cores
    shuffle_partitions(cores + 2)
    assert policy.width(spark) == cores + 2


def test_gate_and_spread_run_no_job(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    spark.range(1000).write.parquet(path)
    df = spark.read.parquet(path)  # schema inference may run a job
    below, jobs = _jobs(spark, lambda: policy.below_gate(df))
    assert (below, jobs) == (True, 0)
    for src in (df, spark.range(_BIG_ROWS)):
        _, jobs = _jobs(spark, lambda: policy.spread(src, "id"))
        assert jobs == 0


def test_spread_exchange_only_above_gate(spark, shuffle_partitions):
    shuffle_partitions(spark.sparkContext.defaultParallelism + 2)
    small = spark.range(1000)
    assert policy.below_gate(small)
    assert policy.spread(small, "id") is small
    assert _hash_exchanges(policy.spread(small, "id")) == []

    big = spark.range(_BIG_ROWS)
    assert not policy.below_gate(big)
    assert _hash_exchanges(policy.spread(big, "id")) == [policy.width(spark)]


def test_peek_dim_runs_no_job_below_gate(spark):
    vec = F.array(F.lit(1.0), F.lit(2.0), F.lit(3.0)).alias("v")
    small = spark.range(1000).select("id", vec)
    dim, jobs = _jobs(spark, lambda: S._peek_dim(small, "v"))
    assert (dim, jobs) == (None, 0)
    # above the gate the peek is one bounded job and finds the width
    big = spark.range(_BIG_ROWS).select("id", vec)
    dim, jobs = _jobs(spark, lambda: S._peek_dim(big, "v"))
    assert dim == 3 and jobs >= 1


def test_salt_is_capped_at_wide_sessions(spark):
    def session(cores):
        return SimpleNamespace(sparkContext=SimpleNamespace(defaultParallelism=cores))

    assert policy.salt(session(512)) == policy.SALT_MAX == 32
    assert policy.salt(session(4)) == 4
    assert policy.salt(spark) == min(spark.sparkContext.defaultParallelism, 32)
