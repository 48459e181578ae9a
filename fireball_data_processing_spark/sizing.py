"""Scale gates: one Catalyst size probe and the four plan rewrites it drives.

Plans are shaped for a corpus far larger than the ones they are tested on,
and four plan shapes only pay off at one end of that range. Each rewrite
decides from :func:`plan_size_bytes`, Catalyst's optimized-plan estimate
(driver-side metadata; no job runs).

The one rule: **a ``None`` size means the plan stays as written** — no
repartition, no persist, no broadcast hint, no ``coalesce(1)``. The size is
``None`` for a streaming frame, when the probe fails (it reads a private JVM
API), and for an estimate of 2^60 bytes or more: a propagated unknown (local
relations under explode/aggregate multiply out to ~2^65), not a measurement.
A rewrite that declines returns the very frame it was given, so for the
three that build a new frame ``out is df`` tells whether it fired
(:func:`pin_if_large` persists in place).
"""

from __future__ import annotations

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_UNKNOWN = 1 << 60


def _catalyst_estimate(df: DataFrame) -> int:
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's size estimate for ``df`` in bytes, or ``None`` when there
    is no usable one. ``localCheckpoint`` keeps the origin plan's stats, so
    a pinned frame still reports its true estimate."""
    if df.isStreaming:
        return None
    try:
        size = _catalyst_estimate(df)
    except Py4JError:
        return None
    return size if size < _UNKNOWN else None


def conf_bytes(spark: SparkSession, key: str) -> int:
    """A byte-size session conf (``"128MB"``, ``"64m"``, plain bytes), parsed
    as Spark parses it; a negative value (``-1`` = disabled) keeps its sign."""
    raw = spark.conf.get(key).strip()
    utils = spark.sparkContext._jvm.org.apache.spark.network.util.JavaUtils
    n = int(utils.byteStringAsBytes(raw.lstrip("-")))
    return -n if raw.startswith("-") else n


def shuffle_partitions(spark: SparkSession) -> int:
    return int(spark.conf.get("spark.sql.shuffle.partitions"))


def _split_bytes(spark: SparkSession) -> int:
    return conf_bytes(spark, "spark.sql.files.maxPartitionBytes")


def spread(df: DataFrame, key_col: str) -> DataFrame:
    """Repartition a pre-explode frame on ``key_col`` to the shuffle
    partition count while its input is too small to yield that many scan
    splits. A small input arrives as one or two scan partitions, so the
    explode would run serially (and AQE would coalesce a count-less
    exchange back down); key-grain stages downstream reuse the
    partitioning. At corpus scale the same repartition is a pure extra
    shuffle: the scan's splits already give the parallelism."""
    size = plan_size_bytes(df)
    if size is None:
        return df
    parts = shuffle_partitions(df.sparkSession)
    if size >= parts * _split_bytes(df.sparkSession):
        return df
    return df.repartition(parts, F.col(key_col))


def pin_if_large(df: DataFrame) -> DataFrame:
    """Persist a frame with several consumers (both sides of a self-join)
    once it is too large to fit fewer scan splits than shuffle partitions.
    At corpus scale re-running its upstream per consumer doubles full
    passes; at local scale the consumers run concurrently, and a persist
    serializes them behind a cache job (+50% on the LSH pair queries at
    sf0.1)."""
    size = plan_size_bytes(df)
    if size is None:
        return df
    spark = df.sparkSession
    if size < shuffle_partitions(spark) * _split_bytes(spark):
        return df
    return df.persist()


def broadcast_if_small(df: DataFrame) -> DataFrame:
    """Broadcast-hint a join side that fits
    ``spark.sql.autoBroadcastJoinThreshold``. Above it, or with broadcasting
    disabled (``-1``), Catalyst/AQE choose: a billion-row corpus index
    forced onto every executor would run them out of memory."""
    size = plan_size_bytes(df)
    if size is None:
        return df
    if size > conf_bytes(df.sparkSession, "spark.sql.autoBroadcastJoinThreshold"):
        return df
    return F.broadcast(df)


def collapse_if_one_split(df: DataFrame) -> DataFrame:
    """``coalesce(1)`` a frame that fits one scan split. It already runs as
    one task, so this costs no parallelism, and an aggregate above it takes
    its clustering from the single partition instead of an exchange. Only
    where no shuffle runs upstream: ``coalesce`` fuses into that stage."""
    size = plan_size_bytes(df)
    if size is None or size > _split_bytes(df.sparkSession):
        return df
    return df.coalesce(1)
