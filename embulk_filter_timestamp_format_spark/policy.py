"""Execution policy: the plan-shape decisions the engine derives from the
session and the input size, each made here and nowhere else.

The size gate: below ~4 MB of compressed input a fan-out exchange (or
the dim peek + unrolled-dot compile) costs more than the parallelism it
buys. Measured at sf0.1, 1-4 MB tables lost 0.2-1.2 s per query to it;
sf1-scale single files (5-18 MB) won 2-12x.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SPREAD_MIN_BYTES = 4 * 1024 * 1024
SALT_MAX = 32


def width(spark: SparkSession) -> int:
    """Partitions a hash fan-out targets: shuffle width or core count."""
    return max(
        int(spark.conf.get("spark.sql.shuffle.partitions")),
        spark.sparkContext.defaultParallelism,
    )


def _est_bytes(df: DataFrame) -> "int | None":
    """The optimizer's ``sizeInBytes`` (file sizes for scans). Reading it
    plans but runs no job; None when it is unavailable."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return None


def below_gate(df: DataFrame) -> bool:
    """``df`` is known to be under ``SPREAD_MIN_BYTES``. An unknown size
    counts as large: the narrow-input case is the one that hurts."""
    est = _est_bytes(df)
    return est is not None and est < SPREAD_MIN_BYTES


def spread(df: DataFrame, id_col: str) -> DataFrame:
    """Fan a narrow input (single-file tables scan as 1-2 splits, lake
    snapshots as one file per bucket) out before a per-row-heavy stage.

    Below the gate ``df`` is returned as is. Above it the hash exchange
    on ``id_col`` is UNCONDITIONAL, at an explicit ``width`` so AQE cannot
    coalesce it: an input already hash-spread on the same key collapses
    with it (CollapseRepartition), but any other already-wide input pays
    one more shuffle of its rows. Values are unchanged."""
    if below_gate(df):
        return df
    return df.repartition(width(df.sparkSession), F.col(id_col))


def salt(spark: SparkSession) -> int:
    """Chunks for a salted hot-bucket self-join: the core count, capped so
    the replicated build side does not grow with session width."""
    return min(spark.sparkContext.defaultParallelism, SALT_MAX)
