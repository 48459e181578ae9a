"""Streaming decayed-sum sketch (streaming/decay_stream.py): batch
parity, epoch-merge correctness, replay idempotence, rescale identity."""

from __future__ import annotations

import pytest

import os

from pyspark.sql import functions as F

from fireball_data_processing_spark.streaming.decay_stream import (
    decayed_weight_to_ref,
    read_decayed,
    stream_decay_deltas,
)

pytestmark = pytest.mark.slow  # runs streams end to end; run with -m slow

DAY = 86400 * 10**9
T0 = 1700000000 * 10**9
SCHEMA = "g string, ts bigint, v double"


def _run(spark, src, out, ckpt):
    q = stream_decay_deltas(
        spark, src, SCHEMA, group_col="g", value_col="v", ts_col="ts",
        t0_ns=T0, half_life_days=7.0, out_path=out, checkpoint_dir=ckpt,
    )
    q.awaitTermination(120)


def _batch_expected(rows, as_of_ns, h=7.0):
    exp = {}
    n = {}
    for g, ts, v in rows:
        w = 0.5 ** ((as_of_ns - ts) / DAY / h)
        exp[g] = exp.get(g, 0.0) + v * w
        n[g] = n.get(g, 0) + 1
    return exp, n


def test_stream_decay_matches_batch_weighting(spark, tmp_path):
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    os.makedirs(src)
    rows = [
        ("a", T0 + i * DAY, float(i + 1)) for i in range(5)
    ] + [("b", T0 + 10 * DAY, 4.0)]
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    _run(spark, src, out, ckpt)

    as_of = T0 + 14 * DAY
    got = {
        r["group"]: (r["n"], r["decayed_sum"])
        for r in read_decayed(spark, out, as_of, T0, 7.0).collect()
    }
    exp, n = _batch_expected(rows, as_of)
    for g in exp:
        assert got[g][0] == n[g]
        assert abs(got[g][1] - exp[g]) < 1e-4, (g, got[g], exp[g])


def test_epochs_merge_by_addition(spark, tmp_path):
    # same rows split over two availableNow runs == one run
    rows1 = [("a", T0 + 1 * DAY, 2.0), ("a", T0 + 2 * DAY, 3.0)]
    rows2 = [("a", T0 + 3 * DAY, 5.0)]
    src, out, ckpt = (str(tmp_path / d) for d in ("s1", "o1", "c1"))
    os.makedirs(src)
    spark.createDataFrame(rows1, SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    _run(spark, src, out, ckpt)
    spark.createDataFrame(rows2, SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    _run(spark, src, out, ckpt)

    as_of = T0 + 8 * DAY
    got = read_decayed(spark, out, as_of, T0, 7.0).first()
    exp, _ = _batch_expected(rows1 + rows2, as_of)
    assert abs(got["decayed_sum"] - exp["a"]) < 1e-4
    assert got["n"] == 3


def test_replay_is_idempotent(spark, tmp_path):
    from fireball_data_processing_spark.streaming.sinks_stream import (
        write_epoch_partition,
    )

    src, out, ckpt = (str(tmp_path / d) for d in ("s2", "o2", "c2"))
    os.makedirs(src)
    rows = [("a", T0 + i * DAY, 1.0) for i in range(8)]
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    _run(spark, src, out, ckpt)
    before = [tuple(r) for r in read_decayed(spark, out, T0, T0, 7.0).collect()]
    deltas = (
        spark.read.parquet(out).filter(F.col("batch_id") == 0).drop("batch_id")
    )
    write_epoch_partition(deltas, 0, out)
    after = [tuple(r) for r in read_decayed(spark, out, T0, T0, 7.0).collect()]
    assert before == after


def test_rescale_identity_across_read_times(spark):
    # reading at T then discounting by hand one more half-life must
    # equal reading at T + h directly (the mergeable-decay property)
    df = spark.createDataFrame(
        [(T0 + i * DAY, float(i)) for i in range(10)], "ts bigint, v double"
    )
    w = decayed_weight_to_ref(F.col("ts"), T0, 7.0)
    s0 = df.agg(F.sum(F.col("v") * w)).first()[0]
    at_t = s0 * 0.5 ** ((7 * DAY) / DAY / 7.0)
    exp, _ = _batch_expected(
        [("x", T0 + i * DAY, float(i)) for i in range(10)], T0 + 7 * DAY
    )
    assert abs(at_t - exp["x"]) < 1e-9
