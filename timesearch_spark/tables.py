"""Loaders for the driver's synthetic parquet tables (TESTDATA.md).

``load`` reads one table; ``load_all`` returns a dict.  Reads are plain
``spark.read.parquet`` so Catalyst gets full pushdown/pruning; nothing is
cached here (callers decide) and nothing is collected.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # events.parquet has shipped as both TIMESTAMP(NANOS) and
    # timestamp[us] (TIMESTAMP_NTZ) across driver generations.  Keep
    # nanosAsLong on so the NANOS variant still reads (raw long, filters
    # push down as INT64 comparisons); the NTZ variant reads natively and
    # event_ts_sec branches on the actual dtype.  Session timezone is
    # pinned to UTC because unix_timestamp interprets NTZ wall-clock in
    # session tz, and the oracle (DuckDB EPOCH) treats it as UTC.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


#: Memoized (row_groups, file_bytes, rows, encoded_uncompressed_bytes)
#: per parquet file path (footer-only reads).
_FILE_META: dict[str, tuple[int, int, int, int]] = {}


def _file_meta(uri: str) -> tuple[int, int, int, int]:
    """(row_groups, file_bytes, rows, encoded_uncompressed_bytes) from
    the parquet footer, memoized per URI."""
    if uri not in _FILE_META:
        from urllib.parse import unquote, urlparse

        import pyarrow.parquet as pq

        path = unquote(urlparse(uri).path) if "://" in uri else uri
        meta = pq.ParquetFile(path).metadata
        _FILE_META[uri] = (
            meta.num_row_groups,
            os.path.getsize(path),
            meta.num_rows,
            sum(
                meta.row_group(i).total_byte_size
                for i in range(meta.num_row_groups)
            ),
        )
    return _FILE_META[uri]


#: Analyzed-plan node names that can never INCREASE the row count of
#: their input.  The footer bounds below are only valid when every node
#: above the scan is on this list — a join, explode/Generate, or union
#: can multiply rows far past what the source footers say, so any plan
#: containing a node NOT listed here gets ``None`` (probe runs instead).
#: Whitelist, not blacklist: an unknown/new node name fails safe.
_ROW_NONINCREASING_NODES = frozenset({
    "Relation", "LogicalRelation", "Project", "Filter", "SubqueryAlias",
    "GlobalLimit", "LocalLimit", "Limit", "Sort", "Repartition",
    "RepartitionByExpression", "Rebalance", "Sample", "Deduplicate",
    "Distinct", "ResolvedHint", "UnresolvedHint", "Aggregate", "Window",
})
# (Aggregate groups rows — output <= input; Window is 1:1.  Sample is
# accepted only without replacement — checked per-line below, since
# sample(withReplacement=True) replicates rows via Poisson draws and a
# fraction > 1 emits MORE rows than the scan.)

#: The subset additionally safe for BYTE ceilings: nodes that cannot
#: synthesize new values.  Aggregate and Window are row-non-increasing
#: but can EXPAND bytes (collect_list, concat aggregations, windowed
#: arrays); Project is handled per-line — attribute-only projections
#: pass, computed ones (concat(text, text), repeat(...)) fail safe.
_BYTE_NONINCREASING_NODES = _ROW_NONINCREASING_NODES - {
    "Aggregate", "Window",
}


def _plan_nonincreasing(
    df: DataFrame, nodes: frozenset, bytes_safe: bool = False
) -> bool:
    """True when every node of ``df``'s analyzed logical plan is on the
    ``nodes`` whitelist (and per-node flags hold), i.e. the parquet
    footer totals are a valid ceiling.  ``bytes_safe`` additionally
    rejects value-synthesizing Projects, keeping the BYTE ceiling sound
    (a computed column can exceed the scan's bytes while row counts
    hold).  Conservative: any parse failure or unknown node → False."""
    import re

    try:
        tree = df._jdf.queryExecution().analyzed().treeString()
    except Exception:
        return False
    for line in tree.splitlines():
        m = re.match(r"^[\s:+\-]*'?([A-Za-z]+)", line)
        if not m:
            continue
        name = m.group(1)
        if name not in nodes:
            return False
        if name == "Sample" and re.search(r"\btrue\b", line):
            return False  # withReplacement=true: rows can multiply
        if bytes_safe and name == "Project" and re.search(r"[(]| AS ", line):
            # any function call / alias in the projection may synthesize
            # bytes the footers never saw; plain attribute lists (the
            # common `select(cols)` shape) are the only byte-safe form
            return False
    return True


def _plan_row_nonincreasing(df: DataFrame) -> bool:
    """True when the footer totals are a valid ROW ceiling for ``df``."""
    return _plan_nonincreasing(df, _ROW_NONINCREASING_NODES)


#: Nodes that PRESERVE the row count exactly (1:1): when every node is
#: on this list the footer total is not just a ceiling but the exact
#: count — a Filter/Limit/Sample/Aggregate can shrink rows, so none of
#: those qualify.
_ROW_PRESERVING_NODES = frozenset({
    "Relation", "LogicalRelation", "Project", "SubqueryAlias", "Sort",
    "Repartition", "RepartitionByExpression", "Rebalance",
    "ResolvedHint", "UnresolvedHint", "Window",
})


def row_count_exact(df: DataFrame) -> int | None:
    """EXACT row count of ``df`` from parquet footer metadata — no Spark
    job; None unless every plan node above the scan is row-PRESERVING
    (projections/sorts/repartitions only).  Distinct from
    :func:`row_count_bound`: a too-big verdict from a mere ceiling
    would mis-route provably-small-after-filter inputs, so gates whose
    BIG branch changes semantics (e.g. the BLAS near-dup broadcast
    delegating to approximate LSH) may only pre-empt their probe on an
    exact count."""
    try:
        files = df.inputFiles()
        if not files or not _plan_nonincreasing(df, _ROW_PRESERVING_NODES):
            return None
        return sum(_file_meta(f)[2] for f in files)
    except Exception:
        return None


def row_count_bound(df: DataFrame) -> int | None:
    """Upper bound on ``df``'s row count from parquet footer metadata —
    no Spark job.  Valid only when the plan above the scan is
    row-non-increasing (filters/limits/projections — checked against
    the analyzed plan, since a join or explode can multiply rows past
    any footer total); None when it isn't, or when the plan has no
    readable parquet files (in-memory DFs, remote FS without local
    access).  Used for cost-based plan gates where a cheap over-estimate
    is enough (e.g. skipping a probe aggregate on provably-small input)."""
    try:
        files = df.inputFiles()
        if not files or not _plan_row_nonincreasing(df):
            return None
        return sum(_file_meta(f)[2] for f in files)
    except Exception:
        return None


def byte_size_bound(df: DataFrame) -> int | None:
    """Total ENCODED-UNCOMPRESSED bytes of ``df``'s parquet inputs
    (sum of row-group ``total_byte_size`` from the footers — the size
    before the compression codec, after the column encodings); no Spark
    job; None when no readable parquet backs the plan.  A ceiling
    companion to :func:`row_count_bound` for gates keyed on data
    VOLUME: under Spark's default string encodings (DICTIONARY with
    PLAIN fallback) the encoded bytes are >= the unique value bytes, so
    quantities bounded by text volume (words, word-n-grams) are bounded
    by this number; prefix-compressing encoders (DELTA_BYTE_ARRAY) can
    undercut raw bytes, which is why callers keep a safety margin.
    Stricter plan-shape guard than :func:`row_count_bound`: besides
    joins/explodes, any node that can SYNTHESIZE value bytes — an
    Aggregate or Window, or a Project computing expressions (e.g.
    ``concat(text, text)``) — also voids the ceiling, since those keep
    row counts but not byte totals."""
    try:
        files = df.inputFiles()
        if not files or not _plan_nonincreasing(
            df, _BYTE_NONINCREASING_NODES, bytes_safe=True
        ):
            return None
        return sum(_file_meta(f)[3] for f in files)
    except Exception:
        return None


def _scan_parallelism(
    files: list[str], default_parallelism: int,
    open_cost: int = 4 * 1024 * 1024, max_part: int = 128 * 1024 * 1024,
) -> int:
    """Estimate of the parquet scan's effective task parallelism: per file,
    min(row groups, byte splits) under Spark's split formula
    (maxSplitBytes = min(maxPartitionBytes, max(openCost, total/parallelism))).
    Callers with a live session pass the session's actual split configs
    (spread does); the defaults match Spark's."""
    metas = [_file_meta(f) for f in files]
    total = sum(m[1] for m in metas)
    max_split = min(max_part, max(open_cost, total // max(default_parallelism, 1)))
    return sum(
        min(m[0], -(-m[1] // max_split)) if m[1] else 1 for m in metas
    )


def spread(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Ensure at least ``min_parts`` (default: cores) partitions before
    expensive per-row compute.

    Parquet parallelism is bounded by row groups: the driver's test files
    are single-row-group, so every scan reads as ONE task no matter how
    many cores the session has — a 64×-expression map stage then runs
    serially.  At production scale the inputs are many multi-row-group
    files and the scan already yields >= cores partitions, making this a
    NO-OP (no Exchange in the plan); it only round-robins when the scan
    genuinely under-splits, which is exactly when the shuffle is cheaper
    than the serial compute it unblocks.

    The under-split check is metadata-only — never
    ``df.rdd.getNumPartitions()``, whose RDD conversion costs a full
    physical-planning pass per call (r3's measured per-query overhead):

    1. If the analyzed logical plan (eagerly computed at DataFrame
       creation — reading its string is free) already contains a
       shuffle-introducing operator (repartition to >= min_parts,
       aggregate, window, distinct, sort), the output is
       shuffle-partitions wide and spread is a no-op.
    2. Otherwise the plan is scan-bound: estimate the scan's effective
       parallelism from ``inputFiles`` plus memoized parquet-footer
       row-group counts.  With >= min_parts input files the answer is
       known from the listing alone, so the 100 TB path never opens a
       footer.
    """
    import re

    want = min_parts or df.sparkSession.sparkContext.defaultParallelism
    try:
        logical = df._jdf.queryExecution().analyzed().toString()
    except Exception:
        logical = ""
    # 'Sort ... true' only: global sorts shuffle; sortWithinPartitions
    # prints 'Sort ... false' and introduces none.
    if re.search(
        r"^(?:[:+\- ]*)(?:Aggregate|Window|Deduplicate) |"
        r"^(?:[:+\- ]*)Sort \[.*\], true\b",
        logical,
        re.M,
    ):
        return df
    # numPartitions prints as 'Repartition N, true' (true = shuffle;
    # false is coalesce, which only caps) and 'RepartitionByExpression
    # [exprs], N' with N LAST on the line — a lazy first-digit match
    # would grab an expression id like 'l_orderkey#5L' instead.
    reparts = [
        int(x)
        for x in re.findall(r"^[:+\- ]*Repartition (\d+), true\s*$", logical, re.M)
    ] + [
        int(x)
        for x in re.findall(
            r"^[:+\- ]*RepartitionByExpression \[[^\n]*\], (\d+)\s*$", logical, re.M
        )
    ]
    if reparts and max(reparts) >= want:
        return df
    try:
        files = df.inputFiles()
    except Exception:
        files = []
    if len(files) >= want:
        return df
    if files:
        try:
            conf = df.sparkSession.conf
            def _bytes_conf(key, default):
                # Spark byte configs accept "134217728", "128m", "256MB",
                # "1g", "4194304b" (case-insensitive, optional 'b') — parse
                # the full grammar or the fallback silently re-defaults and
                # spread() mis-estimates the scan's split count
                try:
                    import re as _re

                    m = _re.fullmatch(
                        r"\s*(\d+)\s*([kmgt]?)b?\s*", conf.get(key).lower()
                    )
                    mult = {"": 1, "k": 1 << 10, "m": 1 << 20,
                            "g": 1 << 30, "t": 1 << 40}[m.group(2)]
                    return int(m.group(1)) * mult
                except Exception:
                    return default
            effective = _scan_parallelism(
                files, want,
                open_cost=_bytes_conf("spark.sql.files.openCostInBytes",
                                      4 * 1024 * 1024),
                max_part=_bytes_conf("spark.sql.files.maxPartitionBytes",
                                     128 * 1024 * 1024),
            )
        except Exception:
            # unreadable footers (remote FS without local access): the
            # input is < min_parts files, so it's small — round-robin.
            return df.repartition(want)
        if effective >= want:
            return df
        return df.repartition(want)
    # No backing files (in-memory test DFs): the one case worth the RDD
    # conversion to answer exactly.
    if df.rdd.getNumPartitions() < want:
        return df.repartition(want)
    return df


NANOS_PER_SEC = 1_000_000_000


def ts_dtype(df: DataFrame) -> str:
    """The Spark dtype string of an event-time column ('bigint' when the
    parquet was TIMESTAMP(NANOS) read under nanosAsLong, 'timestamp_ntz'
    or 'timestamp' when it was timestamp[us])."""
    return dict(df.dtypes).get("ts", "bigint")


def event_ts_sec(col="ts", dtype: str = "bigint"):
    """events.ts → epoch seconds (long, true floor), for either physical
    encoding of the driver's events table.

    timestamp/timestamp_ntz: ``unix_timestamp`` — JVM-side floorDiv of the
    internal micros, exact floor for fractional seconds (verified against
    the oracle's FLOOR(EPOCH(ts)); NTZ wall-clock is interpreted in the
    session tz, which ``load`` pins to UTC).  A plain cast-to-long is NOT
    equivalent: CAST(TIMESTAMP_NTZ AS BIGINT) is an analysis error.

    bigint (nanos-as-long): exact integer math — nano epochs (~1.7e18)
    exceed double's 2^53 mantissa, so float division would corrupt the low
    digits.  Decimal division alone isn't enough either: its scale-6
    result rounds HALF_UP before the long cast, so a nano within 5e-7 s
    below a second boundary would round UP, diverging from
    FLOOR(EPOCH(ts)).  We subtract the pmod remainder first so the
    division is exact.
    """
    from pyspark.sql import functions as F

    c = F.col(col) if isinstance(col, str) else col
    if dtype.startswith("timestamp"):
        return F.unix_timestamp(c)
    cd = c.cast("decimal(38,0)")
    whole = cd - F.pmod(cd, F.lit(NANOS_PER_SEC).cast("decimal(38,0)"))
    return (whole / NANOS_PER_SEC).cast("long")


def event_ts_bound(epoch_sec: int, dtype: str = "bigint"):
    """An epoch-seconds boundary as a literal directly comparable to the
    events.ts column — foldable, so it reaches the parquet scan as a
    pushed filter in both encodings (INT64 nano comparison / timestamp
    comparison)."""
    import datetime as _dt

    from pyspark.sql import functions as F

    if dtype.startswith("timestamp"):
        wall = _dt.datetime.fromtimestamp(epoch_sec, _dt.timezone.utc)
        return F.lit(wall.strftime("%Y-%m-%d %H:%M:%S")).cast(dtype)
    return F.lit(epoch_sec * NANOS_PER_SEC)


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {n: load(spark, sf_dir, n) for n in TABLE_NAMES}
