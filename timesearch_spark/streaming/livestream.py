"""Livestream: continuous polling ingest as Structured Streaming
(SURVEY §2 I1/I2/G4, §3.4).

Reference semantics (livestream.py:45-167 in
/root/reference/timesearch_modules/livestream.py): one poll generator per
entity, round-robin cycled with a 30 s sleep, ``--once`` for a single
cycle, each step inserting the newest submissions+comments through the
upsert sink; failures yield a zero-stat step and never kill the loop.

Spark mapping:

- poll cadence      → ``trigger(processingTime='30 seconds')``
- ``--once``        → ``trigger(availableNow=True)``
- round-robin of N entities → union of N streams in one query (G4)
- dual insert       → ``foreachBatch``: one merge per kind, side by side
- never-die         → query restart from checkpoint + idempotent MERGE

The source here is a file stream (NDJSON drop directory — the archive
case, A3) or any DataStreamReader the caller supplies; the live HTTP
poll of the reference is a driver-side fetcher appending NDJSON files to
the drop directory, which turns the remote API into a replayable,
checkpointable source instead of an in-process generator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from timesearch_spark.schemas import RAW_NDJSON
from timesearch_spark.session import side_by_side
from timesearch_spark.sources.ndjson import comments_from_raw, submissions_from_raw
from timesearch_spark.streaming.store import ParquetMergeStore


def read_ndjson_stream(spark: SparkSession, drop_dir: str,
                       max_files_per_trigger: int | None = None) -> DataFrame:
    """Streaming NDJSON source over a drop directory (I5's throttle maps to
    maxFilesPerTrigger)."""
    reader = spark.readStream.schema(RAW_NDJSON)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.json(drop_dir)


def union_sources(streams: list[DataFrame]) -> DataFrame:
    """G4: round-robin interleave of N per-entity generators
    (livestream.py:45-59 ``cycle_generators``) → union of N streaming
    sources in ONE query.

    The reference interleaves generators in the driver so N entities
    share one process; Spark subsumes the interleave — each source
    contributes its new files to every micro-batch and the single
    ``foreachBatch`` MERGE applies them together.  ``unionByName`` with
    ``allowMissingColumns`` tolerates per-source schema drift (a
    submissions-only entity next to a comments-only one)."""
    if not streams:
        raise ValueError("at least one stream required")
    out = streams[0]
    for s in streams[1:]:
        out = out.unionByName(s, allowMissingColumns=True)
    return out


def livestream(
    raw_stream: DataFrame,
    submissions_store: ParquetMergeStore | None,
    comments_store: ParquetMergeStore | None,
    checkpoint_dir: str,
    poll_seconds: int = 30,
    once: bool = False,
) -> StreamingQuery:
    """Run the poll loop: classify each micro-batch and MERGE each kind
    into its store (livestream.py:185-194's dual insert), both merges side
    by side; they commit separately, and a failed batch replays idempotently.

    ``once=True`` = the reference's ``--once`` flag (availableNow drains
    everything then stops); otherwise a 30 s processing-time trigger
    (livestream.py:68-69).
    """

    def handle_batch(batch: DataFrame, batch_id: int) -> None:
        # The canonical projections keep the transient ``edited`` column:
        # the upsert uses it for replaced_at (tsdb.py:374-377) and drops it
        # from the stored snapshot (it's not in the store schema).  The
        # merge counters are observed during the merge's own
        # materializations, so the 30 s hot path pays no job for them.
        # side_by_side keeps the batch's job group, which query.stop() cancels
        merges = []
        if submissions_store is not None:
            merges.append(lambda: submissions_store.merge(submissions_from_raw(batch)))
        if comments_store is not None:
            merges.append(lambda: comments_store.merge(comments_from_raw(batch)))
        side_by_side(*merges)

    writer = (
        raw_stream.writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if once:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{poll_seconds} seconds")
    return writer.start()
