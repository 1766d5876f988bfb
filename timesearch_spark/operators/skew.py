"""Skew-resilient operator variants.

AQE handles skewed sort-merge JOINS at runtime (skew-join split), and
hash aggregates absorb hot grouping keys via map-side partial
aggregation.  The shape neither helps with is the per-group ORDERED
window (rank / top-k): all rows of a group land in one task, so one hot
key — a mega-thread in the reference's domain, a boilerplate-heavy
source in a corpus — serializes the stage.  ``topk_per_group`` is the
salted two-phase form: exact results, bounded per-task group size.
The caller picks it over the plain window.  The event-time twins with
the same contract (``sessionize_salted``, ``funnel_progression_salted``,
``session_funnel_salted``) live in ``operators.windows``, and the
distributed tree walk in ``trees.comment_forest_big``.

Reference tie-in: E2 per-group child ranking (offline_reading.py:211);
``queries.window_rank_children`` is the unsalted single-window form this
operator replaces at scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def topk_per_group(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[Column],
    k: int,
) -> DataFrame:
    """Exact top-k rows per group (dense ``row_number <= k`` semantics,
    ties resolved by ``order_cols`` — make them total for deterministic
    output) without a per-group single-task hotspot.

    Phase 1 ranks within (group, salt) — a hot group's rows split across
    16 salt shards, each keeping its local top-k.  Phase 2 ranks the
    <= 16*k survivors per group.  Any row in the true global
    top-k is in the top-k of whichever salt shard it landed in, so the
    result is EXACT for every salt assignment; the salt is a
    deterministic hash of the WHOLE row (order_cols may carry SortOrder
    wrappers, which can't be hashed), so re-running the same input
    replays identically but adding an unrelated column can move shard
    assignment — only intermediate plan shapes change, never the result.

    Cost: one extra narrow shuffle of the survivor set (<= 16*k
    rows per group — thousands of rows, not a thread's millions).  Use
    the plain window (window_rank_children) when no group can dominate a
    task; use this when one can.
    """
    # salt = deterministic hash of the hashABLE row columns (order_cols
    # may carry SortOrder wrappers, which can't be hashed; MapType
    # columns are rejected by xxhash64 outright — e.g. the MEDIA table's
    # meta map); identical rows share a shard, which is fine — exactness
    # never depends on the assignment
    from pyspark.sql.types import MapType

    def _hashable(dt) -> bool:
        if isinstance(dt, MapType):
            return False
        if hasattr(dt, "elementType"):
            return _hashable(dt.elementType)
        if hasattr(dt, "fields"):
            return all(_hashable(f.dataType) for f in dt.fields)
        return True

    cols = [f.name for f in df.schema.fields if _hashable(f.dataType)]
    salt_src = [F.col(c) for c in cols] or [F.lit(0)]
    salt = F.pmod(F.xxhash64(*salt_src), F.lit(16))
    w1 = Window.partitionBy(*group_cols, "__salt").orderBy(*order_cols)
    w2 = Window.partitionBy(*group_cols).orderBy(*order_cols)
    return (
        df.withColumn("__salt", salt)
        .withColumn("__rn1", F.row_number().over(w1))
        .filter(F.col("__rn1") <= k)
        .withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") <= k)
        .drop("__salt", "__rn1")
    )
