"""SparkSession factory with scale-aware defaults.

Local testing runs ``local[$SPARK_GRAFT_CPUS]`` (single JVM); production
target is a 1000-executor cluster over ~100 TB.  Every default here is
chosen to survive that scale-up:

- AQE on (runtime shuffle-partition coalescing + skew-join splitting —
  author/thread activity in the reference's domain is heavily Zipf-skewed).
- Arrow on (all Python UDF paths are pandas_udf / applyInPandas, never
  row-at-a-time).
- UTC session timezone (parity with the reference's unix-seconds model,
  tsdb.py:54, and with the DuckDB oracle).
- shuffle.partitions sized to cores locally; on a real cluster AQE's
  coalescing makes the initial number mostly a ceiling.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

def get_spark(
    app_name: str = "timesearch_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the SparkSession.

    If a session already exists (e.g. the driver passed one in), its
    config wins — Spark ignores builder config on getOrCreate of a live
    session, which is the behavior we want for the driver harness.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = max(4, cpus)

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def side_by_side(*calls):
    """Run zero-argument ``calls`` at once: the first on this thread, each
    other on an ``InheritableThread``, which keeps the caller's job group and
    description.  Once all are done, re-raise the first failure in call
    order, else return the results in call order."""
    from pyspark import InheritableThread

    out, errors = [None] * len(calls), []

    def run(i):
        try:
            out[i] = calls[i]()
        except BaseException as e:  # noqa: BLE001 — re-raised below
            errors.append((i, e))

    threads = [InheritableThread(run, args=(i,)) for i in range(1, len(calls))]
    for t in threads:
        t.start()
    if calls:
        run(0)
    for t in threads:
        t.join()
    if errors:
        raise min(errors, key=lambda ie: ie[0])[1]
    return out
