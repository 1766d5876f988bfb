"""Breakdown: zero-filled dual group-count (SURVEY §2 D1, the flagship).

Reference semantics (breakdown.py:8-42 in /root/reference/timesearch_modules):
for every grouping key that appears in *either* fact table, emit the count
of rows in each table, with missing counters zero-filled
(``setdefault(..., 0)``, breakdown.py:38-41).  The reference streams both
tables through a Python dict; here it is ONE hash aggregate over the
tagged union of both tables (r15 — the earlier two-aggregate +
null-safe full-outer-join form paid two extra Exchanges plus the join
sorts, because Spark wraps null-safe join keys and neither aggregate's
partitioning satisfied the join) — Catalyst does partial (map-side)
aggregation automatically, so the one shuffle carries a row per
distinct key per side per map partition, not one row per input row.

Scale notes (100 TB): the single aggregate shrinks the union to
|distinct keys| rows.  Author keys are Zipf-skewed in the wild but the
skew is consumed by the *aggregate* (map-side partials); no join
remains on this path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from timesearch_spark.operators.exports import _sort_listing


def breakdown(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_name: str = "submissions",
    right_name: str = "comments",
    key_name: str | None = None,
) -> DataFrame:
    """Per-key counts of two fact tables, full-outer zero-filled.

    Returns columns: ``key_name, <left_name>, <right_name>, total_posts``
    (total is D4, breakdown.py:63-66).
    """
    key_name = key_name or key
    # ONE aggregation over the tagged union, not two aggregates + a
    # full-outer join (r15, guide §2.4): the join had to be null-SAFE
    # (a NULL grouping key — deleted authors — groups on each side, and
    # plain USING can't equate NULL=NULL), and Spark wraps null-safe
    # equi-join keys, so neither side's aggregate partitioning
    # satisfied the join's required distribution — the flagship paid
    # TWO extra Exchanges plus both SortMergeJoin sorts just to stitch
    # the halves back together (5 shuffles total).  groupBy is
    # null-safe by definition (NULL is one group), so per-side counts
    # as summed indicators over the union compute the identical
    # zero-filled rows — missing side sums to 0 exactly where the old
    # coalesce zero-filled — in ONE exchange that map-side partial
    # aggregation collapses to a row per distinct key per side per
    # partition, same as the old agg exchanges carried.
    tagged = left.select(
        F.col(key).alias(key_name),
        F.lit(1).alias("__l"),
        F.lit(0).alias("__r"),
    ).unionByName(
        right.select(
            F.col(key).alias(key_name),
            F.lit(0).alias("__l"),
            F.lit(1).alias("__r"),
        )
    )
    out = (
        tagged.groupBy(key_name)
        .agg(
            F.sum("__l").cast("long").alias(left_name),
            F.sum("__r").cast("long").alias(right_name),
        )
        .withColumn("total_posts", (F.col(left_name) + F.col(right_name)).cast("long"))
    )
    return out


def breakdown_sorted(
    bd: DataFrame,
    sort: str,
    key_name: str,
) -> DataFrame:
    """Reference's comparator sorts (breakdown.py:55-82): by name (lower),
    or by -submissions / -comments / -total with lower(name) tiebreak,
    under the listing sort rule (exports._sort_listing)."""
    # exact-key final tiebreak: the reference's comparator ends at
    # lower(name) and leans on Python's stable sort for case-colliding
    # names; Spark's sorts are nondeterministic on full ties, so the
    # tie is refined deterministically, so the exported file's bytes
    # are reproducible on such names (and equal under either sort arm)
    exact_key = F.col(key_name).cast("string")
    lower_key = F.lower(exact_key)
    if sort == "name":
        return _sort_listing(bd, lower_key.asc(), exact_key.asc())
    cols = ("submissions", "comments", "total_posts")
    if sort not in cols:
        raise ValueError(
            f"unknown sort {sort!r}: use name|{'|'.join(cols)}"
        )
    return _sort_listing(bd, F.col(sort).desc(), lower_key.asc(),
                         exact_key.asc())
