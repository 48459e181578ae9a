"""The scale-gate module: the size probe, the conf reader, and the rule
that a failed or unknown size estimate leaves every plan as written."""

from __future__ import annotations

from conftest import SMOKE_DIR as SMOKE
from py4j.protocol import Py4JError
from pyspark.sql import functions as F

from fireball_data_processing_spark import sizing
from fireball_data_processing_spark.operators.dedup import minhash_signature
from fireball_data_processing_spark.sources.tables import load_table
from fireball_data_processing_spark.streaming.capstone import (
    ingest_pipeline_batch,
)
from fireball_data_processing_spark.streaming.dedup_stream import (
    corpus_band_index,
    corpus_hash_index,
)


def _docs(spark):
    d = load_table(spark, SMOKE, "documents")
    corpus = d.filter(F.pmod(F.col("doc_id"), F.lit(4)) == 0)
    incoming = d.filter(F.pmod(F.col("doc_id"), F.lit(4)) != 0)
    return corpus, incoming


def _broken_probe(df):
    raise Py4JError("size estimate unavailable")


def test_plan_size_bytes_known_unknown_and_streaming(spark):
    docs = load_table(spark, SMOKE, "documents")
    size = sizing.plan_size_bytes(docs)
    assert size is not None and 0 < size < 1 << 30

    # a cross join of two ~64 GiB ranges multiplies out past 2^60: unknown
    big = spark.range(1 << 33)
    assert sizing.plan_size_bytes(big.crossJoin(big)) is None

    stream = spark.readStream.schema(docs.schema).parquet(SMOKE)
    assert sizing.plan_size_bytes(stream) is None


def test_conf_bytes_parses_spark_byte_strings(spark):
    key = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(key)
    try:
        for raw, want in [("10MB", 10 << 20), ("64m", 64 << 20),
                          ("1b", 1), ("4096", 4096), ("-1", -1)]:
            spark.conf.set(key, raw)
            assert sizing.conf_bytes(spark, key) == want
    finally:
        spark.conf.set(key, saved)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_failed_probe_leaves_every_plan_as_written(spark, monkeypatch):
    """With the JVM probe raising, each rewrite returns the frame it was
    given, and the gated pipelines return the same rows as with a working
    probe."""
    corpus, incoming = _docs(spark)
    hash_index = corpus_hash_index(corpus)
    band_index = corpus_band_index(
        minhash_signature(corpus), num_hashes=8, band_size=2
    )

    def outputs():
        return (
            _rows(ingest_pipeline_batch(incoming, hash_index, min_words=10)),
            _rows(ingest_pipeline_batch(
                incoming, band_index, min_words=10, gate="near"
            )),
            _rows(minhash_signature(incoming, num_hashes=8)),
        )

    # every rewrite fires on these frames while the probe works
    big = spark.range(1 << 33)
    assert sizing.spread(incoming, "doc_id") is not incoming
    assert sizing.pin_if_large(big).is_cached
    big.unpersist()
    assert sizing.broadcast_if_small(hash_index) is not hash_index
    assert sizing.collapse_if_one_split(incoming) is not incoming
    want = outputs()

    monkeypatch.setattr(sizing, "_catalyst_estimate", _broken_probe)
    assert sizing.plan_size_bytes(incoming) is None
    assert sizing.spread(incoming, "doc_id") is incoming
    assert sizing.pin_if_large(big) is big and not big.is_cached
    assert sizing.broadcast_if_small(hash_index) is hash_index
    assert sizing.collapse_if_one_split(incoming) is incoming
    assert outputs() == want
    assert all(want)

