"""Streaming intake contract gate: each file drop becomes one
micro-batch judged as a unit — ledger rows per epoch, wholesale
admit/quarantine routing, and idempotent replay."""

from __future__ import annotations

import pytest

import os
import time

import pandas as pd
from pyspark.sql import functions as F

from fireball_data_processing_spark.operators.expectations import (
    expect_condition,
    expect_unique,
)
from fireball_data_processing_spark.streaming.expectations_stream import (
    run_expectation_gate,
)

pytestmark = pytest.mark.slow  # runs streams end to end; run with -m slow

_SCHEMA = "id long, val long"


def _checks(batch):
    return [
        expect_unique(batch, "drop", "unique_id", ["id"]),
        expect_condition(batch, "drop", "val_in_0_10", F.col("val").between(0, 10)),
    ]


def _stage_drops(landing):
    os.makedirs(landing, exist_ok=True)
    clean = os.path.join(landing, "drop_clean.parquet")
    bad = os.path.join(landing, "drop_bad.parquet")
    pd.DataFrame({"id": [10, 11, 12], "val": [1, 2, 3]}).to_parquet(clean)
    pd.DataFrame({"id": [1, 1, 2], "val": [5, 20, 3]}).to_parquet(bad)
    # distinct mtimes pin micro-batch order: clean drop first
    now = time.time()
    os.utime(clean, (now - 10, now - 10))
    os.utime(bad, (now, now))
    return clean, bad


def _run(spark, base):
    run_expectation_gate(
        spark,
        os.path.join(base, "landing"),
        _SCHEMA,
        _checks,
        ledger_path=os.path.join(base, "ledger"),
        checkpoint_dir=os.path.join(base, "ckpt"),
        admit_path=os.path.join(base, "admit"),
        quarantine_path=os.path.join(base, "quarantine"),
    )


def test_contract_gate_routes_batches_wholesale(spark, tmp_path):
    base = str(tmp_path)
    _stage_drops(os.path.join(base, "landing"))
    _run(spark, base)

    ledger = spark.read.parquet(os.path.join(base, "ledger"))
    rows = {
        (r["batch_id"], r["expectation"]): r for r in ledger.collect()
    }
    assert len(rows) == 4  # 2 drops x 2 checks
    # epoch 0 = the clean drop (older mtime): everything passes
    assert rows[(0, "unique_id")]["passed"] is True
    assert rows[(0, "val_in_0_10")]["passed"] is True
    # epoch 1 = the bad drop: one duplicate id, one out-of-range val
    assert rows[(1, "unique_id")]["n_failed"] == 1
    assert rows[(1, "val_in_0_10")]["n_failed"] == 1
    assert rows[(1, "unique_id")]["passed"] is False

    admitted = spark.read.parquet(os.path.join(base, "admit"))
    assert sorted(r["id"] for r in admitted.collect()) == [10, 11, 12]
    quarantined = spark.read.parquet(os.path.join(base, "quarantine"))
    assert sorted(r["id"] for r in quarantined.collect()) == [1, 1, 2]


def test_contract_gate_replay_is_idempotent(spark, tmp_path):
    base = str(tmp_path)
    _stage_drops(os.path.join(base, "landing"))
    _run(spark, base)
    first = spark.read.parquet(os.path.join(base, "ledger")).collect()
    # a fresh checkpoint replays both drops with the same epoch ids: the
    # epoch overwrites must REPLACE, never duplicate — on BOTH routed
    # destinations, not just admit
    import shutil

    shutil.rmtree(os.path.join(base, "ckpt"))
    _run(spark, base)
    again = spark.read.parquet(os.path.join(base, "ledger")).collect()
    assert len(again) == len(first) == 4
    key = lambda r: (r["batch_id"], r["expectation"])
    assert sorted(map(key, again)) == sorted(map(key, first))
    admitted = spark.read.parquet(os.path.join(base, "admit"))
    assert admitted.count() == 3
    quarantined = spark.read.parquet(os.path.join(base, "quarantine"))
    assert sorted(r["id"] for r in quarantined.collect()) == [1, 1, 2]


def test_redelivery_verdict_flip_clears_stale_quarantine(spark, tmp_path):
    # the docstring's redelivery workflow: the producer replaces a
    # quarantined drop with a corrected file and the replay's verdict
    # FLIPS — the stale quarantine copy must be cleared, not orphaned
    base = str(tmp_path)
    landing = os.path.join(base, "landing")
    clean, bad = _stage_drops(landing)
    _run(spark, base)
    assert spark.read.parquet(os.path.join(base, "quarantine")).count() == 3

    pd.DataFrame({"id": [1, 2, 3], "val": [5, 6, 3]}).to_parquet(bad)
    os.utime(bad, (os.path.getmtime(clean) + 5,) * 2)
    import shutil

    shutil.rmtree(os.path.join(base, "ckpt"))
    _run(spark, base)
    admitted = spark.read.parquet(os.path.join(base, "admit"))
    assert sorted(r["id"] for r in admitted.collect()) == [1, 2, 3, 10, 11, 12]
    assert spark.read.parquet(os.path.join(base, "quarantine")).count() == 0
    ledger = spark.read.parquet(os.path.join(base, "ledger"))
    assert ledger.filter(~F.col("passed")).count() == 0


def test_contract_gate_through_connector_seam(spark, tmp_path):
    # the seam itself: hand run_expectation_gate_from_stream a frame we
    # built (any connector's frame plugs in the same way) and pin
    # row-identical routing vs the file-source convenience wrapper
    from fireball_data_processing_spark.streaming.expectations_stream import (
        run_expectation_gate_from_stream,
    )

    base = str(tmp_path)
    _stage_drops(os.path.join(base, "landing"))
    stream = (
        spark.readStream.schema(_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(os.path.join(base, "landing"))
    )
    q = run_expectation_gate_from_stream(
        stream,
        _checks,
        ledger_path=os.path.join(base, "ledger"),
        checkpoint_dir=os.path.join(base, "ckpt"),
        admit_path=os.path.join(base, "admit"),
        quarantine_path=os.path.join(base, "quarantine"),
    )
    assert not q.isActive  # availableNow drains and terminates
    admitted = spark.read.parquet(os.path.join(base, "admit"))
    assert sorted(r["id"] for r in admitted.collect()) == [10, 11, 12]
    quarantined = spark.read.parquet(os.path.join(base, "quarantine"))
    assert sorted(r["id"] for r in quarantined.collect()) == [1, 1, 2]
