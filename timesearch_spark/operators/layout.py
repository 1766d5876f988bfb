"""Physical data layout: clustered writes, layout inspection, and
small-file compaction.

At 100 TB the fastest scan is the one that never happens: parquet keeps
min/max statistics per row group, and a reader (Spark's parquet filter
pushdown, DuckDB zone maps) skips any row group whose [min, max] range
can't satisfy the predicate.  Those stats are only selective if the
writer CLUSTERED the data — a shuffled table has every row group
spanning the whole key domain, so nothing ever prunes.

- :func:`cluster_write` — range-partition on the cluster key(s) and
  sort within each partition before writing: globally ordered layout,
  near-disjoint per-file and per-row-group key ranges.  This is the
  plain-parquet form of Delta/Iceberg ``CLUSTER BY`` (a linear sort;
  for multi-column point lookups across ALL dimensions a Z-order curve
  is the upgrade, same write shape with an interleaved sort key).
  ``repartitionByRange`` samples the key distribution, so skewed keys
  still land in balanced files.
- :func:`layout_stats` / :func:`clustering_quality` — read the parquet
  footers (pyarrow, metadata-only) and score how prunable a column is:
  the average fraction of row groups a uniformly-drawn point predicate
  must read.  1/n_groups = perfectly clustered, ~1.0 = shuffled.  Tests
  pin the write path with this, not with timing.
- :func:`compact` — bounded-size rewrite of a small-file table into
  ~``target_mb`` files, preserving an optional cluster order.  The
  companion to every incremental sink in this engine (store.py's
  micro-batch buckets, CorpusStore's versioned appends): frequent small
  appends are write-optimal and read-toxic; periodic compaction is the
  standard repair (OPTIMIZE in Delta, rewrite_data_files in Iceberg).

No reference equivalent: the reference's storage is a single sqlite
file (tsdb.py); physical layout is this engine's own scale surface.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def cluster_write(
    df: DataFrame,
    path: str,
    cluster_cols: list[str],
    num_files: int | None = None,
) -> None:
    """Write ``df`` to ``path`` as parquet, range-clustered on
    ``cluster_cols``: one range-exchange (sampled bounds → balanced
    output files) + an in-partition sort that rides the same exchange —
    Spark plans repartitionByRange + sortWithinPartitions on matching
    keys as ONE shuffle, so clustering costs a single pass."""
    parts = (
        df.repartitionByRange(num_files, *cluster_cols)
        if num_files
        else df.repartitionByRange(*cluster_cols)
    )
    parts.sortWithinPartitions(*cluster_cols).write.mode("overwrite").parquet(path)


def layout_stats(path: str, column: str, spark=None) -> list[tuple]:
    """Per-row-group (min, max, n_rows) for ``column`` across every
    parquet file under ``path`` — footer metadata only, no data read.
    For a ``scheme://`` path pass ``spark``; footers are then read
    through the Hadoop FileSystem (seekable stream shim) instead of the
    local OS."""
    import pyarrow.parquet as pq

    from timesearch_spark.fs import get_fs

    fs = get_fs(spark, path)
    out = []
    files = sorted(
        os.path.join(path, f)
        for f in fs.ls(path)
        if f.endswith(".parquet")
    )
    for fp in files:
        with fs.open_binary(fp) as fobj:
            meta = pq.ParquetFile(fobj).metadata
        idx = {meta.schema.column(i).name: i for i in range(meta.num_columns)}
        ci = idx[column]
        for rg in range(meta.num_row_groups):
            st = meta.row_group(rg).column(ci).statistics
            out.append((st.min, st.max, meta.row_group(rg).num_rows))
    return out


def clustering_quality(path: str, column: str, spark=None) -> float:
    """Average fraction of row groups a point predicate on ``column``
    must read, estimated over 64 evenly-spaced values across the
    observed domain.  Lower is better: 1/n_groups is perfect clustering,
    ~1.0 means every row group spans the domain (no pruning possible)."""
    stats = layout_stats(path, column, spark=spark)
    if not stats:
        return 1.0
    lo = min(s[0] for s in stats)
    hi = max(s[1] for s in stats)
    if hi == lo:
        return 1.0
    hits = 0
    for i in range(64):
        v = lo + (hi - lo) * i / 63
        hits += sum(1 for mn, mx, _ in stats if mn <= v <= mx)
    return hits / (64 * len(stats))


def _quantile_bucket(col: str, bounds: list[float]):
    """Bucket id (0..len(bounds)) of ``col`` against sorted quantile
    boundaries, as ONE foldable-literal expression: count of boundaries
    <= value.  Quantile (not uniform) buckets keep the z-curve balanced
    under skewed columns — every bucket holds ~the same row count."""
    b = F.lit([float(x) for x in bounds])
    return F.size(
        F.filter(b, lambda x: x <= F.col(col).cast("double"))
    ).cast("long")


def _interleave_bits(b1, b2, bits: int):
    """Morton/Z value: interleave the low ``bits`` bits of two bucket
    ids — b1 in odd positions, b2 in even.  Pure integer expression
    (shifts + masks), whole-stage codegen'd."""
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(b1, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(b2, i).bitwiseAND(F.lit(1)), 2 * i)
        )
    return z


def zorder_write(
    df: DataFrame,
    path: str,
    cols: list[str],
    num_files: int = 16,
) -> None:
    """Write ``df`` Z-ORDER clustered on two columns: each file covers a
    small square of the 2-D key space instead of a slab of one
    dimension, so point/range predicates on EITHER column prune row
    groups — the property a linear sort only gives its leading key.
    This is Delta OPTIMIZE ZORDER BY re-expressed as plain DataFrame
    ops: per-column quantile bucket ids (approxQuantile boundaries as a
    foldable literal, so bucketing rides the scan), bit-interleaved into
    a Morton value, then the same range-partition + in-partition sort
    single-shuffle write cluster_write uses.

    Two columns (the common case: entity × time).  More dimensions
    interleave the same way but each added dimension dilutes per-column
    pruning — at 100 TB, two or three is the useful range (the Delta
    guidance).  approxQuantile is one metadata-light pass; at scale
    reuse boundaries from a previous run instead of resampling."""
    if len(cols) != 2:
        raise ValueError("zorder_write interleaves exactly 2 columns")
    n_buckets = 1 << 8
    probs = [i / n_buckets for i in range(1, n_buckets)]
    qa, qb = df.approxQuantile(
        [cols[0], cols[1]], probs, 0.001
    )
    b1 = _quantile_bucket(cols[0], qa)
    b2 = _quantile_bucket(cols[1], qb)
    with_z = df.withColumn("__z", _interleave_bits(b1, b2, 8))
    (
        with_z.repartitionByRange(num_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


def compact(
    spark: SparkSession,
    path: str,
    target_mb: int = 128,
    cluster_cols: list[str] | None = None,
) -> int:
    """Rewrite the parquet table at ``path`` into ~``target_mb`` files
    (computed from current on-disk bytes), optionally re-clustering.
    Returns the new file count.  Rewrite-to-temp + swap: the original
    directory is replaced only after the rewrite fully succeeds, so a
    failed compaction leaves the table untouched; residue from a crash
    mid-swap is repaired on the next call (the old-dir snapshot is
    restored if the live path vanished, discarded otherwise).

    Flat (unpartitioned) tables only: rewriting a hive-partitioned
    directory would silently drop its partitioning — compact each
    partition directory instead (or use CorpusStore.compact_batches for
    the corpus layout)."""
    from timesearch_spark.fs import get_fs

    fs = get_fs(spark, path)
    old = path.rstrip("/") + ".__compact_old__"
    if fs.exists(old):
        if not fs.exists(path):
            fs.rename(old, path)  # crashed between the two renames
        else:
            fs.delete(old)  # crashed before the old copy was removed
    part_dirs = [
        d
        for d in fs.ls(path)
        if "=" in d and fs.is_dir(os.path.join(path, d))
    ]
    if part_dirs:
        raise ValueError(
            f"compact() is for flat tables; {path} is hive-partitioned "
            f"({part_dirs[0]}, ...) — compact per partition directory"
        )
    total = sum(
        fs.size(os.path.join(path, f))
        for f in fs.ls(path)
        if f.endswith(".parquet")
    )
    n = max(1, -(-total // (target_mb << 20)))  # ceil div
    df = spark.read.parquet(path)
    tmp = path.rstrip("/") + ".__compact_tmp__"
    if cluster_cols:
        (
            df.repartitionByRange(n, *cluster_cols)
            .sortWithinPartitions(*cluster_cols)
            .write.mode("overwrite")
            .parquet(tmp)
        )
    else:
        df.repartition(n).write.mode("overwrite").parquet(tmp)
    fs.rename(path, old)
    fs.rename(tmp, path)
    fs.delete(old)
    return sum(1 for f in fs.ls(path) if f.endswith(".parquet"))


# --- bucketed tables: co-located joins without a shuffle -----------------------

def bucket_write(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
    path: str | None = None,
) -> None:
    """Persist ``df`` as a BUCKETED parquet table (Spark's Hive-style
    bucketing): rows are hash-distributed into ``n_buckets`` file
    groups by ``bucket_cols`` at WRITE time and the bucket spec is
    recorded in the catalog — so equi-joins and aggregations on the
    bucket keys read both sides already co-located and skip their
    shuffle entirely (the physical plan of a bucketed-bucketed join on
    the keys has ZERO Exchange; test-pinned).  This is the repeated-join
    answer at 100 TB: `repartition()` co-locates for ONE query and is
    forgotten on write, a bucketed warehouse table amortizes the one
    write-side shuffle across every downstream join/agg on that key —
    the fact-table layout (orders ⋈ lineitem every day) where paying
    the shuffle once is the whole point.

    ``sort_cols`` additionally sorts within each bucket file (Spark can
    then sort-merge without a sort).  ``path`` makes it an external
    table at that location; default is the session warehouse dir.
    Both join sides must use the same ``n_buckets`` (or a multiple, with
    ``spark.sql.bucketing.coalesceBucketsInJoin.enabled``) for the
    shuffle-free plan.  Read it back with ``spark.table(table)`` —
    ``spark.read.parquet(path)`` sees only bare files and loses the
    bucket spec.
    """
    if not bucket_cols:
        raise ValueError("bucket_cols must be non-empty")
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    w = (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, *bucket_cols)
    )
    if sort_cols:
        w = w.sortBy(*sort_cols)
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table)
