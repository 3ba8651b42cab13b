"""SparkSession factory with the engine's pinned configuration.

Defaults are sized for the sandbox (``local[N]``, one JVM) but every knob is
the one you would set on a 1000-executor cluster too: AQE on (runtime
re-planning, skew-join splitting, partition coalescing), Arrow transfer for
the pandas-UDF extraction stage with bounded batch sizes (documents are up to
20 MB — ``maxRecordsPerBatch`` keeps per-batch memory predictable), UTC
session timezone (oracle comparability), shuffle partitions ≈ cores locally
(on a real cluster leave AQE to coalesce from a higher initial number).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Arrow batch sizing for the extraction UDF: bigger batches amortize the
# JVM↔Python transfer of the html binary column (measured: the transfer, not
# the Python parse, dominates at small batches). 1024 rows ≈ 5-75 MB at
# typical crawl page sizes. The record cap alone is NOT a memory bound —
# documents run up to the 20 MB P3 cap, so 512 near-cap rows would be a
# ~10 GB batch; the BYTE cap below is what actually bounds executor + Python
# worker memory, closing a batch once it reaches the limit — overshoot is at
# most one row, so worst case is bound + 20 MB (verified
# on 4.1.2 for the scalar-pandas-UDF input path by
# tests/test_pipeline.py::test_near_cap_documents_cross_arrow_in_bounded_batches).
# Tune via SPARK_GRAFT_ARROW_BATCH / SPARK_GRAFT_ARROW_BATCH_BYTES on
# memory-tight executors.
ARROW_MAX_RECORDS = int(os.environ.get("SPARK_GRAFT_ARROW_BATCH", "512"))
ARROW_MAX_BYTES = int(
    os.environ.get("SPARK_GRAFT_ARROW_BATCH_BYTES", str(64 * 1024 * 1024))
)


# Spark SQL settings every entry point runs with: ``build_session`` passes
# them to the builder, ``jobs/extract_job.py`` sets them on the session the
# launcher made. Shuffle partitions are not here: they are sized per host.
SQL_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": str(ARROW_MAX_RECORDS),
    "spark.sql.execution.arrow.maxBytesPerBatch": str(ARROW_MAX_BYTES),
    "spark.sql.session.timeZone": "UTC",
    # Lossy UTF-8 decode (U+FFFD replacement) for the html binary column,
    # matching Rust String::from_utf8_lossy (pipeline.rs:332). Without
    # this Spark 4's decode() raises MALFORMED_CHARACTER_CODING.
    "spark.sql.legacy.codingErrorAction": "true",
    # List table paths on the driver. Above the default of 32 paths Spark
    # lists with a distributed job (about 1 s per read on 4 vCPUs); a table
    # read hands Spark one directory per url_bucket (64) and the sidecar
    # read one path per file the run wrote. TableIO already walks the same
    # tree on the driver; on Iceberg, reads are planned from manifests.
    "spark.sql.sources.parallelPartitionDiscovery.threshold": "10000",
}


def build_session(
    app_name: str = "riptide-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or "local[{}]".format(
        os.environ.get("SPARK_GRAFT_CPUS", "*")
    )
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus else 32

    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        **SQL_CONF,
        "spark.python.worker.reuse": "true",
        "spark.ui.enabled": "false",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        **(extra_conf or {}),
    }
    builder = SparkSession.builder.appName(app_name).master(master)
    for key, value in conf.items():
        builder = builder.config(key, value)
    return builder.getOrCreate()
