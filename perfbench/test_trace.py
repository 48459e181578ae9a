"""Event-log parser test: one query on tiny generated inputs, traced.

    python3 -m pytest perfbench/test_trace.py -q

Every job in the event log must map to exactly one span of the query, and
the query must run at least one job.
"""

import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import gen  # noqa: E402
from tracing import Tracer, assign_spans, event_log_file, parse_event_log  # noqa: E402


def test_every_job_maps_to_one_query_span():
    from fireball_data_processing_spark import queries as catalog
    from pyspark.sql import SparkSession

    work = tempfile.mkdtemp(dir=HERE, prefix=".test-")
    try:
        gen.generate(f"{work}/in", seed=1, tables=("events",), sf=0.001)
        os.makedirs(f"{work}/log")
        spark = (
            SparkSession.builder.master("local[2]")
            .config("spark.ui.enabled", "false")
            .config("spark.sql.shuffle.partitions", "4")
            .config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", f"{work}/log")
            .config("spark.eventLog.compress", "false")
            .getOrCreate()
        )
        app_id = spark.sparkContext.applicationId
        tracer = Tracer(spark.sparkContext)
        with tracer.span("heuristics_matrix") as q:
            with tracer.span("build"):
                df = catalog.REGISTRY["heuristics_matrix"].fn(spark, f"{work}/in")
            with tracer.span("exec"):
                df.write.format("noop").mode("overwrite").save()
        spark.stop()

        jobs = parse_event_log(event_log_file(f"{work}/log", app_id))
        assert len(jobs) > 0
        assert assign_spans(jobs, tracer.spans) == 0
        query_spans = {s.sid for s in tracer.spans}
        assert all(j.span in query_spans for j in jobs)
        assert all(j.end >= j.submit for j in jobs)
        assert sum(j.tasks for j in jobs) > 0
        # the exec span's noop write is at least one job of its own
        exec_sid = next(s.sid for s in tracer.spans if s.name == "exec")
        assert any(j.span == exec_sid for j in jobs)
        assert q.dur > 0
    finally:
        shutil.rmtree(work, ignore_errors=True)
