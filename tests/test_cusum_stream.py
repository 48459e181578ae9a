"""Streaming CUSUM monitor (streaming/cusum_stream.py): batch parity,
late-data additive merge, replay idempotence."""

from __future__ import annotations

import pytest

import os

from pyspark.sql import functions as F

from fireball_data_processing_spark.operators.drift import cusum_alarm
from fireball_data_processing_spark.streaming.cusum_stream import (
    cusum_monitor,
    stream_rate_deltas,
)

pytestmark = pytest.mark.slow  # runs streams end to end; run with -m slow

DAY = 86400 * 10**9
SCHEMA = "ts bigint, x int"
ARGS = dict(target=0.2, allowance=0.01, threshold=0.3)


def _rows(day_rates):
    rows = []
    for day, (k, n1) in enumerate(day_rates):
        for i in range(k):
            rows.append((day * DAY + i, 1 if i < n1 else 0))
    return rows


def _run(spark, src, out, ckpt):
    q = stream_rate_deltas(
        spark, src, SCHEMA, ts_col="ts", success=F.col("x") == 1,
        out_path=out, checkpoint_dir=ckpt,
    )
    q.awaitTermination(120)


def _batch_chart(spark, rows):
    df = spark.createDataFrame(rows, SCHEMA)
    daily = df.groupBy(
        F.floor(F.col("ts") / F.lit(86400.0 * 1e9)).cast("bigint").alias("day")
    ).agg(
        F.round(
            F.sum(F.when(F.col("x") == 1, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)),
            8,
        ).alias("share")
    )
    return cusum_alarm(daily, "day", "share", **ARGS).collect()


def test_stream_cusum_matches_batch_chart(spark, tmp_path):
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    os.makedirs(src)
    rows = _rows([(10, 2), (10, 2), (10, 3), (10, 5), (10, 6), (10, 6)])
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    _run(spark, src, out, ckpt)
    got = [tuple(r) for r in cusum_monitor(spark, out, **ARGS).collect()]
    want = [tuple(r) for r in _batch_chart(spark, rows)]
    assert got == want
    assert any(r[3] for r in got)  # the upward drift alarms


def test_late_data_merges_additively(spark, tmp_path):
    src, out, ckpt = (str(tmp_path / d) for d in ("s", "o", "c"))
    os.makedirs(src)
    # first batch: partial day-0 data; second batch: LATE day-0 rows
    first = [(0 * DAY + i, 1 if i < 1 else 0) for i in range(5)]
    late = [(0 * DAY + 100 + i, 1) for i in range(5)]
    spark.createDataFrame(first, SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    _run(spark, src, out, ckpt)
    spark.createDataFrame(late, SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    _run(spark, src, out, ckpt)
    got = cusum_monitor(spark, out, **ARGS).collect()
    # merged day 0: 10 trials, 6 successes -> share 0.6
    assert len(got) == 1
    assert abs(got[0]["x"] - 0.6) < 1e-6


def test_replay_is_idempotent(spark, tmp_path):
    from fireball_data_processing_spark.streaming.sinks_stream import (
        write_epoch_partition,
    )

    src, out, ckpt = (str(tmp_path / d) for d in ("s2", "o2", "c2"))
    os.makedirs(src)
    rows = _rows([(10, 2), (10, 8)])
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    _run(spark, src, out, ckpt)
    before = [tuple(r) for r in cusum_monitor(spark, out, **ARGS).collect()]
    deltas = (
        spark.read.parquet(out).filter(F.col("batch_id") == 0).drop("batch_id")
    )
    write_epoch_partition(deltas, 0, out)
    after = [tuple(r) for r in cusum_monitor(spark, out, **ARGS).collect()]
    assert before == after
