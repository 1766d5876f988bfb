"""Streaming joins: stream-stream attribution within a time horizon,
and per-micro-batch static enrichment.

The batch as-of join (operators/asof.py) answers "the latest click
before this purchase" exactly; its streaming twin cannot — a
stream-stream join can only emit candidates inside a bounded event-time
horizon (state must be evictable), and "latest" is undecidable until
the watermark passes.  So the streaming form is split into the two
standard pieces:

- :func:`attribution_join_stream` — watermarked stream-stream INNER
  join with an event-time interval condition (``left_ts - horizon <=
  right_ts <= left_ts``).  The time bound is what lets Spark bound the
  join state: each side keeps only rows newer than (watermark −
  horizon), so state is O(rate × horizon) regardless of stream age.
  Emits ALL qualifying pairs; the exact "latest per left row" is a
  downstream batch rank over the (tiny) attributed output, or
  asof_join over the archived tables — the lambda-architecture split
  the reference's livestream/timesearch pairing (livestream.py +
  timesearch.py re-scan) uses for exactly this reason.
- :func:`enrich_stream` — stream-static join: the dimension DataFrame
  is re-planned per micro-batch (a batch-side broadcast under AQE when
  small), so slowly-changing dims refresh without restarting the
  query.  Point-in-time correctness against a VERSIONED dim is the
  batch scd2_lookup; stream-static always joins the dim's CURRENT
  state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def attribution_join_stream(
    left: DataFrame,
    right: DataFrame,
    on: str,
    horizon_sec: int = 3600,
    left_cols: list[str] | None = None,
    right_cols: list[str] | None = None,
) -> DataFrame:
    """Join two epoch-seconds streams on ``on`` where the right event's
    ``created`` lands in ``[left created - horizon_sec, left created]``
    — purchase←click attribution, error←deploy blame, reply←mention linking.

    Both sides get event-time watermarks (600 s of allowed lateness);
    the interval condition uses the watermarked timestamp columns so the
    state store evicts everything older than watermark − horizon.
    Output: key, left/right timestamps (epoch seconds, as
    ``left_created`` and ``right_created``) and the requested payload
    columns, append-mode capable.
    """
    lcols = left_cols if left_cols is not None else [
        c for c in left.columns if c not in (on, "created")
    ]
    rcols = right_cols if right_cols is not None else [
        c for c in right.columns if c not in (on, "created")
    ]
    clash = set(lcols) & set(rcols)
    if clash:
        raise ValueError(f"payload columns collide: {sorted(clash)}")
    l = left.select(
        F.col(on).alias("__k"),
        F.timestamp_seconds(F.col("created")).alias("__lt"),
        *[F.col(c) for c in lcols],
    ).withWatermark("__lt", "600 seconds")
    r = right.select(
        F.col(on).alias("__rk"),
        F.timestamp_seconds(F.col("created")).alias("__rt"),
        *[F.col(c) for c in rcols],
    ).withWatermark("__rt", "600 seconds")
    cond = (
        (l["__k"] == r["__rk"])
        & (r["__rt"] <= l["__lt"])
        & (r["__rt"] >= l["__lt"] - F.expr(f"INTERVAL {int(horizon_sec)} SECONDS"))
    )
    return l.join(r, cond, "inner").select(
        F.col("__k").alias(on),
        F.unix_timestamp("__lt").alias("left_created"),
        F.unix_timestamp("__rt").alias("right_created"),
        *[F.col(c) for c in lcols],
        *[F.col(c) for c in rcols],
    )


def enrich_stream(
    stream: DataFrame,
    dim: DataFrame,
    on: list[str],
    how: str = "left",
) -> DataFrame:
    """Stream-static enrichment join: every micro-batch joins against
    the CURRENT contents of ``dim`` (static DataFrames are re-resolved
    per batch, so a dim backed by a parquet path picks up appended
    files between batches).  ``how`` is restricted to the shapes
    stream-static supports with the stream on the left."""
    if how not in ("inner", "left", "left_semi", "left_anti"):
        raise ValueError(f"unsupported stream-static join type: {how!r}")
    return stream.join(dim, on, how)
