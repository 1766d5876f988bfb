"""Materialized continuous aggregate (the hypertable-rollup pattern as a
STORED artifact, not just a query).

``MaterializedRollup`` persists tumbling (window, key) counts + value
sums partitioned by window, and ``refresh`` recomputes ONLY the windows
that can still change: everything from ``max materialized window −
allowed_lateness`` forward.  The events input is filtered with a
foldable bound (tables.event_ts_bound), so the refresh SCAN is
partition/row-group-pruned — at 100 TB a refresh reads hours, not
history.  Late events inside the lateness horizon are absorbed by the
recompute; anything later is dropped by policy (the same contract a
watermarked streaming aggregate makes — streaming/windows.py is the
push-based twin of this pull-based artifact).

Write path: dynamic partition overwrite replaces exactly the affected
``w=<epoch>`` directories.  On a transactional table format
(Delta/Iceberg) the same refresh becomes MERGE/REPLACE WHERE; the plain
parquet layout here mirrors the engine's other stores and keeps
per-window replacement idempotent — a re-run of the same refresh writes
identical bytes.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from timesearch_spark.fs import get_fs
from timesearch_spark.operators import windows as win
from timesearch_spark.tables import event_ts_bound, ts_dtype


class MaterializedRollup:
    """Persisted tumbling rollup: (w, key, n, value_sum_micros) parquet
    partitioned by ``w`` (window-start epoch seconds)."""

    def __init__(self, spark: SparkSession, path: str,
                 duration_sec: int = 3600):
        self.spark = spark
        self.path = path
        self.duration_sec = duration_sec
        # metadata listings route through the fs shim (object-store
        # capable); data IO is Spark parquet either way
        self._fs = get_fs(spark, path)
        self._fs.mkdirs(path)

    def _materialized_windows(self) -> list[int]:
        try:
            return sorted(
                int(m.group(1))
                for d in self._fs.ls(self.path)
                if (m := re.fullmatch(r"w=(\d+)", d))
            )
        except FileNotFoundError:
            return []

    def read(self) -> DataFrame:
        ws = self._materialized_windows()
        if not ws:
            return self.spark.createDataFrame(
                [], "event_type string, n bigint, value_sum_micros bigint, w bigint"
            )
        # partition-dir inference types w as INT for epoch values < 2^31:
        # cast back to the long the empty-store branch declares
        return self.spark.read.parquet(self.path).withColumn(
            "w", F.col("w").cast("long")
        )

    def refresh(self, events: DataFrame) -> dict:
        """Recompute every window that can still change; returns
        {'from_window': sec|None, 'windows': n_recomputed}.  Events may
        arrive up to one full window late and still be counted."""
        ws = self._materialized_windows()
        lower = None
        if ws:
            lower = max(ws) - self.duration_sec
            dt = ts_dtype(events)
            events = events.filter(
                F.col("ts") >= event_ts_bound(lower, dt)  # foldable: pushed scan bound
            )
        dur = f"{self.duration_sec} seconds"
        rollup = (
            win.tumbling_counts(
                events.withColumn(
                    "value", F.floor(F.col("value") * 1000000).cast("long")
                ),
                dur,
                "event_type",
            )
            .select(
                F.col("event_type"),
                F.col("n"),
                F.col("value_sum").cast("long").alias("value_sum_micros"),
                F.col("window_start").cast("long").alias("w"),
            )
        )
        # materialize the (tiny: windows × keys) rollup once — the window
        # count and the write would otherwise each re-run the raw-event
        # aggregation, doubling the refresh's pruned-scan cost
        rollup = rollup.localCheckpoint(eager=True)
        n_windows = rollup.select("w").distinct().count()
        if n_windows:
            (
                rollup.repartition("w")
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("w")
                .parquet(self.path)
            )
        return {"from_window": lower, "windows": n_windows}
