"""Mergeable distinct-count sketches (HLL) over event streams.

COUNT(DISTINCT) is the one aggregate a continuous rollup cannot
incrementally maintain from counters alone: distinct users for January
+ distinct users for February is NOT distinct users for Jan-Feb.  The
engine's answer is the warehouse-standard one — persist a mergeable
HyperLogLog sketch per (period, key) and make every read a cheap union
of sketches:

- :func:`distinct_sketches` — one map-side-combined hash aggregate from
  raw events to (period, key, sketch).  This is the ONLY stage that sees
  raw data; the sketch column is a bounded ~``2^lg_k`` bytes however many
  billion ids a period holds, so the shuffle carries sketches, not ids.
- :func:`rollup_estimates` — per-key AND overall distinct estimates per
  period from a sketch table (no raw-data access), the overall row via
  one more union across keys.
- :func:`cumulative_estimates` — running since-launch distincts per key:
  the sketch union runs as an ordered window over periods, so one pass
  yields every prefix's estimate (re-aggregating raw history per prefix
  is the quadratic this avoids).
- :class:`SketchStore` — the persisted artifact, partitioned by period
  with recompute-recent refresh (same contract as
  rollup.MaterializedRollup: windows inside the lateness horizon are
  re-aggregated from the pruned scan, older sketches are immutable).
  ``estimate(since, until)`` answers any period range from stored
  sketches alone.

Estimates are Apache DataSketches HLL (relative error ~1.04/sqrt(2^lg_k),
~1.6% at the lg_k=12 default); exactness-tolerance is pinned in
tests/test_sketches.py against exact COUNT(DISTINCT).  No reference
equivalent (its only distinct-ish op is page dedup, timesearch.py-style
id sets); this extends SURVEY §2-D for the 100 TB regime where exact
distinct state is unshardable.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from timesearch_spark.fs import get_fs

from timesearch_spark.operators.windows import with_event_time
from timesearch_spark.tables import event_ts_bound, ts_dtype


def distinct_sketches(
    events: DataFrame,
    period_sec: int = 86400,
    lg_k: int = 12,
) -> DataFrame:
    """(period, event_type, sketch, n_events): one HLL sketch of
    ``user_id`` per epoch-aligned period and event type.  Output: period = epoch seconds long.
    """
    ev = with_event_time(events)
    # F.floor, not cast('long'): the cast truncates toward zero and
    # misfiles pre-epoch (negative) timestamps
    period = (F.floor(F.col("ts_sec") / period_sec) * period_sec).alias(
        "period"
    )
    return ev.groupBy(period, F.col("event_type")).agg(
        F.hll_sketch_agg(F.col("user_id"), F.lit(lg_k)).alias("sketch"),
        F.count("*").alias("n_events"),
    )


def distinct_rollup(
    events: DataFrame,
    lg_k: int = 12,
) -> DataFrame:
    """Per-period distinct estimates per key AND overall in ONE raw-event
    pass: ``rollup(period, key)`` expands to the ((period, key), (period))
    grouping sets inside a single ObjectHashAggregate, so the overall row
    never costs a second scan (composing rollup_estimates over a LAZY
    distinct_sketches plan would re-aggregate raw events per branch —
    use that composition only over a persisted sketch table, where both
    branches read tiny stored rows).  Output: (period, key, n_unique)
    with ``__all__`` for the cross-key row; the grand-total row rollup
    also emits is dropped to match rollup_estimates.  Equality with the
    two-step composition is test-pinned."""
    ev = with_event_time(events)
    period = (F.floor(F.col("ts_sec") / 86400) * 86400).alias(
        "period"
    )
    return (
        ev.select(period, F.col("event_type"), F.col("user_id"))
        .rollup("period", "event_type")
        .agg(
            F.hll_sketch_estimate(
                F.hll_sketch_agg(F.col("user_id"), F.lit(lg_k))
            ).alias("n_unique"),
            # grouping() distinguishes the rollup rows from genuinely
            # null data values — coalesce alone would conflate them
            F.grouping("period").alias("__gp"),
            F.grouping("event_type").alias("__gk"),
        )
        .filter(F.col("__gp") == 0)  # drop the grand-total row
        .select(
            "period",
            F.when(F.col("__gk") == 1, F.lit("__all__"))
            .otherwise(F.col("event_type"))
            .alias("event_type"),
            "n_unique",
        )
    )


def rollup_estimates(sketches: DataFrame) -> DataFrame:
    """Per-period estimates from a sketch table: one row per (period,
    key) plus an ``__all__`` row per period (the union across keys —
    which plain per-key distinct COUNTS could never produce).  Output:
    (period, key, n_unique)."""
    per_key = sketches.select(
        "period",
        F.col("event_type"),
        F.hll_sketch_estimate("sketch").alias("n_unique"),
    )
    overall = (
        sketches.groupBy("period")
        .agg(
            F.hll_sketch_estimate(
                F.hll_union_agg("sketch", allowDifferentLgConfigK=True)
            ).alias("n_unique")
        )
        .select("period", F.lit("__all__").alias("event_type"), "n_unique")
    )
    return per_key.unionByName(overall)


def cumulative_estimates(sketches: DataFrame) -> DataFrame:
    """Running since-launch distinct estimate per key: for each period,
    the union of that key's sketches over all periods <= it.

    hll_union is not a window aggregate, so the prefix union rides a
    collect_list window over the (tiny) per-period sketch rows and a
    JVM-side reduce fold — rows here are periods × keys, never events.
    Output: (period, key, n_unique_cum)."""
    w = (
        Window.partitionBy("event_type")
        .orderBy("period")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    prefix = sketches.withColumn(
        "__sketches", F.collect_list("sketch").over(w)
    )
    merged = F.reduce(
        F.col("__sketches"),
        F.element_at("__sketches", 1),
        lambda acc, s: F.hll_union(acc, s),
    )
    return prefix.select(
        "period",
        F.col("event_type"),
        F.hll_sketch_estimate(merged).alias("n_unique_cum"),
    )


class SketchStore:
    """Persisted (period, key, sketch) parquet partitioned by
    ``p=<epoch>``, refreshed by recomputing only periods from the newest
    stored one on (immutable-history /
    recompute-recent, the MaterializedRollup contract).  Reads answer
    distinct questions from sketches alone — no raw-event access."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        period_sec: int = 86400,
    ):
        self.spark = spark
        self.path = path
        self.period_sec = period_sec
        # metadata listings route through the fs shim (object-store
        # capable); data IO is Spark parquet either way
        self._fs = get_fs(spark, path)
        self._fs.mkdirs(path)

    def _stored_periods(self) -> list[int]:
        try:
            return sorted(
                int(m.group(1))
                for d in self._fs.ls(self.path)
                if (m := re.fullmatch(r"p=(\d+)", d))
            )
        except FileNotFoundError:
            return []

    def read(self) -> DataFrame:
        ps = self._stored_periods()
        if not ps:
            return self.spark.createDataFrame(
                [], "period long, event_type string, sketch binary, n_events long")
        return (
            self.spark.read.parquet(self.path)
            # partition-dir inference types p as INT for epoch values
            # < 2^31: cast back to the long every other period column
            # carries (and survive 2038)
            .select(
                F.col("p").cast("long").alias("period"),
                "event_type", "sketch", "n_events",
            )
        )

    def refresh(self, events: DataFrame) -> int:
        """Re-aggregate every period from the newest stored one
        forward off a bound-pruned scan; dynamic partition overwrite
        replaces exactly those ``p=`` directories.  Returns the number
        of periods (re)written."""
        ps = self._stored_periods()
        src = events
        if ps:
            # floor to a PERIOD BOUNDARY: a mid-period horizon would
            # rebuild that period's sketch from a partial scan and
            # silently overwrite the full-period sketch with it
            horizon = max(ps) // self.period_sec * self.period_sec
            src = events.filter(
                F.col("ts") >= event_ts_bound(horizon, ts_dtype(events))
            )
        # materialize once: the count and the write otherwise each
        # re-run the raw-event aggregation (sketch rows are periods ×
        # keys — tiny — so pinning them is free)
        fresh = distinct_sketches(src, self.period_sec).withColumnRenamed(
            "period", "p").localCheckpoint(eager=True)
        n = fresh.select("p").distinct().count()
        if n:
            (
                fresh.repartition("p")
                .write.partitionBy("p")
                .option("partitionOverwriteMode", "dynamic")
                .mode("overwrite")
                .parquet(self.path)
            )
        return n

    def estimate(
        self, since: int | None = None, until: int | None = None
    ) -> DataFrame:
        """(key, n_unique) over the stored period range [since, until)
        — one union-agg per key over pruned sketch partitions."""
        df = self.read()
        if since is not None:
            df = df.filter(F.col("period") >= since)
        if until is not None:
            df = df.filter(F.col("period") < until)
        return df.groupBy("event_type").agg(
            F.hll_sketch_estimate(
                F.hll_union_agg("sketch", allowDifferentLgConfigK=True)
            ).alias("n_unique")
        )
