"""Data-quality profiling (engine extension): one-pass per-column stats.

The deequ/TFDV-style health check a pipeline runs before trusting a new
drop of data: null rates, approximate distinct counts, min/max ranges —
enough to catch schema drift, silent null floods, and key-cardinality
regressions without a second scan.

Scale shape: ONE aggregate job computes every column's statistics
together (Catalyst evaluates the expressions side by side in a single
map-side-combined global agg — no per-column jobs, no shuffle beyond
the 1-row reduce); the long-form pivot to one row per column happens on
that single aggregated row via an inline explode, which is free.
Approximate distincts use HyperLogLog++ (``approx_count_distinct``) so
high-cardinality keys never build exact hash sets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: dtypes whose min/max are meaningful and safely castable to string
_ORDERED_PREFIXES = (
    "tinyint", "smallint", "int", "bigint", "float", "double", "decimal",
    "string", "date", "timestamp", "boolean",
)


def table_profile(df: DataFrame) -> DataFrame:
    """Per-column profile: (column, dtype, n_rows, n_null, approx_distinct,
    min_value, max_value) — min/max as strings (NULL for unordered types
    like arrays/maps/structs/binary).

    approx_distinct is HLL++ at 5% relative standard deviation (~a few
    KB of sketch per column)."""
    cols = df.dtypes
    n = F.count(F.lit(1)).alias("__n")
    aggs = [n]
    for name, dtype in cols:
        c = F.col(f"`{name}`")
        ordered = dtype.startswith(_ORDERED_PREFIXES)
        aggs.append(
            F.sum(F.when(c.isNull(), 1).otherwise(0)).alias(f"__null_{name}")
        )
        aggs.append(
            F.approx_count_distinct(c, 0.05).alias(f"__dist_{name}")
        )
        aggs.append(
            (F.min(c).cast("string") if ordered else F.lit(None).cast("string"))
            .alias(f"__min_{name}")
        )
        aggs.append(
            (F.max(c).cast("string") if ordered else F.lit(None).cast("string"))
            .alias(f"__max_{name}")
        )
    one = df.agg(*aggs)
    rows = F.array(*[
        F.struct(
            F.lit(name).alias("column"),
            F.lit(dtype).alias("dtype"),
            F.col("__n").alias("n_rows"),
            F.col(f"`__null_{name}`").cast("long").alias("n_null"),
            F.col(f"`__dist_{name}`").alias("approx_distinct"),
            F.col(f"`__min_{name}`").alias("min_value"),
            F.col(f"`__max_{name}`").alias("max_value"),
        )
        for name, dtype in cols
    ])
    return one.select(F.explode(rows).alias("p")).select("p.*")


def drift_report(
    current: DataFrame,
    baseline: DataFrame,
) -> DataFrame:
    """Compare two ``table_profile`` outputs (current vs an accepted
    baseline): flags schema drift (column added/removed/retyped), null
    floods (null fraction up by more than 0.05 absolute), and
    cardinality collapse/explosion (approx-distinct ratio outside
    [0.5, 2]).  Output: (column, issue, detail) — empty
    means the drop looks like the baseline.  Both inputs are tiny
    (one row per column), so this is a driver-friendly full-outer join.
    """
    cur = current.select(
        "column", F.col("dtype").alias("c_dtype"),
        (F.col("n_null") / F.col("n_rows")).alias("c_null_frac"),
        F.col("approx_distinct").alias("c_dist"),
    )
    base = baseline.select(
        "column", F.col("dtype").alias("b_dtype"),
        (F.col("n_null") / F.col("n_rows")).alias("b_null_frac"),
        F.col("approx_distinct").alias("b_dist"),
    )
    j = cur.join(base, "column", "full_outer")
    lo, hi = 0.5, 2.0
    ratio = F.col("c_dist") / F.nullif(F.col("b_dist"), F.lit(0))
    issues = F.array_compact(F.array(
        F.when(F.col("b_dtype").isNull(), F.struct(
            F.lit("added_column").alias("issue"), F.col("c_dtype").alias("detail"))),
        F.when(F.col("c_dtype").isNull(), F.struct(
            F.lit("removed_column").alias("issue"), F.col("b_dtype").alias("detail"))),
        F.when(
            F.col("c_dtype").isNotNull() & F.col("b_dtype").isNotNull()
            & (F.col("c_dtype") != F.col("b_dtype")),
            F.struct(F.lit("retyped_column").alias("issue"),
                     F.concat_ws("->", "b_dtype", "c_dtype").alias("detail")),
        ),
        F.when(
            F.col("c_null_frac") - F.col("b_null_frac") > 0.05,
            F.struct(F.lit("null_flood").alias("issue"),
                     F.concat_ws("->", F.round("b_null_frac", 4).cast("string"),
                                 F.round("c_null_frac", 4).cast("string")).alias("detail")),
        ),
        F.when(
            # a zero-distinct baseline makes the ratio NULL (nullif) —
            # flag any growth from zero explicitly or the most extreme
            # cardinality explosion possible would pass silently
            (ratio < lo) | (ratio > hi)
            | ((F.col("b_dist") == 0) & (F.col("c_dist") > 0)),
            F.struct(F.lit("cardinality_drift").alias("issue"),
                     F.concat_ws("->", F.col("b_dist").cast("string"),
                                 F.col("c_dist").cast("string")).alias("detail")),
        ),
    ))
    return (
        j.select("column", F.explode(issues).alias("i"))
        .select("column", "i.issue", "i.detail")
    )
