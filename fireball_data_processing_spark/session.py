"""SparkSession factory with scale-oriented defaults.

The reference parallelizes with a per-instance process pool on one node
(``heuristic_worker.py:113``); here the equivalent knobs are Spark conf.
Defaults are tuned so the same plans that pass correctness at sf0.01 keep
working on a large cluster:

- AQE on (runtime coalescing, skew-join splitting) — the synthetic corpus and
  the real FIREBALL corpus are both instance-skewed (a few 250MB+ instances,
  ``explorer_server.py:85``).
- shuffle partitions sized for local runs but overridable via env; on a real
  cluster AQE coalesces, so a high static number is safe.
- Arrow enabled for every pandas_udf / applyInPandas edge.
- the generated-code cache holds the catalog's working set. Spark keeps
  each compiled whole-stage-codegen class in an LRU keyed by its source,
  capped at 100 entries by default; one pass of nine event queries needs
  171 classes, so a long-lived session cycling through them missed on
  nearly every lookup and paid a Janino compile plus a fresh JIT on every
  repeated query. 4096 is above the ~3,300 compilations one pass over the
  whole catalog makes, so a warm query compiles nothing.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Default parallelism: local[$SPARK_GRAFT_CPUS], else every core this host
# has.
_DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)

# Compiled-class cache entries (a static conf: read once, at the first
# codegen in the JVM); see the module docstring.
CODEGEN_CACHE_ENTRIES = 4096


def get_spark(
    app_name: str = "fireball-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults."""
    master = master or f"local[{_DEFAULT_CPUS}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- adaptive execution: runtime coalesce + skew handling -------
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # --- shuffle sizing ---------------------------------------------
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or _DEFAULT_CPUS * 2),
        )
        # --- scan split sizing: explicit so the 100-TB math is visible —
        #     128 MiB splits keep a task's working set inside executor
        #     memory even with wide rows; raise for many-small-columns
        #     tables, lower for mega-document corpora (the reference's
        #     250 MB instances would otherwise pin single tasks)
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # --- Arrow for all pandas UDF edges ------------------------------
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- scan robustness: reference skips BadGzipFile chunks
        #     (dataset/utils.py:22-27); the Spark analog is per-file
        #     corruption tolerance, opt-in at the loader, not globally.
        # --- broadcast threshold: dims (nation/region/labels) are tiny ---
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # timestamps in the synthetic corpus are naive; keep them NTZ-like
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
