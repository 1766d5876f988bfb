"""NDJSON archive ingest (SURVEY §2 A3/A3a, §1.3).

Reference semantics (ingest_jsonfile.py:12-40 in
/root/reference/timesearch_modules/ingest_jsonfile.py): one JSON object
per line, classified structurally —

- submission: ``name`` starts with 't3_' OR ``over_18`` present;
- comment:    ``name`` starts with 't1_' OR ``parent_id``/``link_id``
  present;

then canonicalized into the two archive tables with the ingest rules of
tsdb.py:389-509:

- ``idint``  = base36-decoded bare id (tsdb.py:412,477; common.py:43-65);
- ``idstr``  = 't3_'/'t1_' fullname (normalized, common.py:147-150);
- ``author`` = '[DELETED]' sentinel when null (tsdb.py:394-397,468-471);
- ``url``    normalization CASE (tsdb.py:399-409): self post → NULL,
  crosspost → parent permalink, '/r/...' → absolute;
- ``textlen`` = length of selftext/body (tsdb.py:424,485);
- body/selftext HTML-unescaped (pushshift.py:72-73).

Spark shape: ``spark.read.schema(RAW_NDJSON).json(path)`` — schema-on-read
with explicit StructType (no sampling pass), then two filtered
projections.  All expressions are built-in (codegen); classification is a
map-only stage, so ingest parallelism == file split count at any scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from timesearch_spark import functions as tsf
from timesearch_spark.schemas import DELETED_SENTINEL, RAW_NDJSON


def read_raw(spark: SparkSession, path: str) -> DataFrame:
    """Read NDJSON with the explicit raw schema (absent fields → null)."""
    return spark.read.schema(RAW_NDJSON).json(path)


def read_raw_file(spark: SparkSession, path: str) -> DataFrame:
    """``read_raw`` with the reference's SEQUENTIAL-FILE semantics
    (ingest_jsonfile.py:29-39): lines after the first blank (or
    whitespace-only — ``line.strip()``, hence the ``\\s`` regex rather
    than ``trim``'s space-only strip) line are never read — its loop
    ``break``s there, treating the blank as end-of-file — and an object
    before it classifiable as neither submission nor comment raises
    ValueError, as the reference's loop does; a corrupt JSON line parses
    to an all-null row and trips the same check (json.loads would have
    raised).  One aggregate over the file finds both the first blank
    and the first unclassifiable line.

    Line order is recovered WITHOUT assuming anything about Spark's
    split scheduling: the key is ``(input_file_block_start,
    record-number-in-partition)``.  Blocks partition the single input
    file by byte offset, a block is never split across partitions, and
    ``monotonically_increasing_id`` documents the record number in the
    lower 33 bits — so the struct orders lines exactly as they appear
    in the file even when FileSourceScan reorders or packs the splits
    (its length-descending ordering is an undocumented internal).
    Contract: ``path`` is ONE file, as in the reference CLI; a glob
    would collide block offsets across files."""
    pos = F.struct(
        F.input_file_block_start().alias("b"),
        F.monotonically_increasing_id().bitwiseAND(
            F.lit((1 << 33) - 1)).alias("r"),
    )
    lines = spark.read.text(path).select(
        pos.alias("__pos"),
        F.col("value").rlike(r"^\s*$").alias("__blank"),
        F.from_json("value", RAW_NDJSON).alias("__o"),
    )
    bad_pos = F.when(F.col("kind").isNull() & ~F.col("__blank"), F.col("__pos"))
    first = classify(lines.select("__pos", "__blank", "__o", "__o.*")).agg(
        F.min(F.when(F.col("__blank"), F.col("__pos"))).alias("blank"),
        F.min(bad_pos).alias("bad_pos"),
        F.min_by("__o", bad_pos).alias("bad"),
    ).first()
    blank = first["blank"]
    if first["bad_pos"] is not None and (blank is None or first["bad_pos"] < blank):
        bad = first["bad"].asDict() if first["bad"] is not None else {}
        raise ValueError(f"Could not recognize object type {bad}.")
    if blank is not None:
        lines = lines.filter(
            F.col("__pos") < F.struct(
                F.lit(blank["b"]).cast("long").alias("b"),
                F.lit(blank["r"]).cast("long").alias("r"),
            )
        )
    return lines.select("__o.*")


def is_submission_raw() -> Column:
    """A3a discriminator (ingest_jsonfile.py:12-17)."""
    return F.col("name").startswith("t3_") | F.col("over_18").isNotNull()


def is_comment_raw() -> Column:
    """A3a discriminator — byte-exact ingest_jsonfile.py:19-23: the
    parent/link ids must carry the ``t3_`` prefix, not merely exist (a
    non-null ``parent_id`` of the wrong kind is an object the reference
    REJECTS, and must stay unclassifiable here too)."""
    return (
        F.col("name").startswith("t1_")
        | F.col("parent_id").startswith("t3_")
        | F.col("link_id").startswith("t3_")
    )


def classify(raw: DataFrame) -> DataFrame:
    """Add a ``kind`` column: submission / comment / null (unclassifiable).

    Submission wins ties, matching the reference's check order
    (ingest_jsonfile.py:25-40: objects are tested as submission first).
    """
    return raw.withColumn(
        "kind",
        F.when(is_submission_raw(), F.lit("submission"))
        .when(is_comment_raw(), F.lit("comment"))
        .otherwise(F.lit(None).cast("string")),
    )


def _bare_id() -> Column:
    """id if present, else name with its prefix stripped."""
    return F.coalesce(
        F.col("id"),
        F.when(
            F.col("name").startswith("t1_") | F.col("name").startswith("t3_"),
            tsf.strip_prefix(F.col("name")),
        ).otherwise(F.col("name")),
    )


def _edited_ts() -> Column:
    """``edited`` arrives as false | unix ts (tsdb.py:374-377): false → null,
    number → long (int truncation, H18)."""
    e = F.col("edited")
    return (
        F.when(F.lower(e).isin("false", ""), F.lit(None))
        .otherwise(e.cast("double"))
        .cast("long")
    )


def _normalized_url() -> Column:
    """URL normalization CASE chain (tsdb.py:399-409)."""
    return (
        F.when(F.col("is_self") == True, F.lit(None).cast("string"))  # noqa: E712
        .when(
            F.col("crosspost_parent").isNotNull()
            & (F.size(F.coalesce(F.col("crosspost_parent_list"), F.array())) > 0),
            F.concat(
                F.lit("https://reddit.com"),
                F.col("crosspost_parent_list")[0]["permalink"],
            ),
        )
        .when(
            F.col("url").startswith("/r/"),
            F.concat(F.lit("https://reddit.com"), F.col("url")),
        )
        .otherwise(F.col("url"))
    )


def submissions_from_raw(raw: DataFrame, extra_cols=()) -> DataFrame:
    """Canonical ``submissions`` rows from classified raw objects.

    Pushshift omits attributes that are null, so the reference fills
    them back in before insert (pushshift.py:34-41 FALLBACK_ATTRIBUTES,
    applied in DummyObject.__init__ for BOTH the paginated feed and
    ingest_jsonfile's objects): absent ``selftext`` becomes ``''``
    (and textlen 0), absent ``score`` becomes 0.

    ``extra_cols`` pass transient ingest columns through (e.g. the
    enrichment ``source_priority`` of A5/C4)."""
    bare = _bare_id()
    selftext = tsf.html_unescape_basic(F.coalesce(F.col("selftext"), F.lit("")))
    return classify(raw).filter(F.col("kind") == "submission").select(
        tsf.base36_decode(bare).alias("idint"),
        F.concat(F.lit("t3_"), bare).alias("idstr"),
        F.col("created_utc").alias("created"),
        F.coalesce(F.col("is_self"), F.lit(False)).alias("self"),
        F.coalesce(F.col("over_18"), F.lit(False)).alias("nsfw"),
        F.coalesce(F.col("author"), F.lit(DELETED_SENTINEL)).alias("author"),
        F.col("title"),
        _normalized_url().alias("url"),
        selftext.alias("selftext"),
        F.coalesce(F.col("score"), F.lit(0)).alias("score"),
        F.col("subreddit"),
        F.col("distinguished").alias("distinguish"),
        F.length(selftext).cast("long").alias("textlen"),
        F.col("num_comments"),
        F.col("link_flair_text").alias("flair_text"),
        F.col("link_flair_css_class").alias("flair_css_class"),
        F.lit(None).cast("long").alias("augmented_at"),
        F.lit(None).cast("long").alias("augmented_count"),
        _edited_ts().alias("edited"),
        *[F.col(c) for c in extra_cols],
    )


def comments_from_raw(raw: DataFrame, extra_cols=()) -> DataFrame:
    """Canonical ``comments`` rows from classified raw objects.

    Parent normalization mirrors DummyObject.__init__
    (pushshift.py:74-78): a missing ``parent_id`` falls back to the
    ``link_id`` (the comment is top-level) and a NUMERIC parent id is a
    pushshift int form — re-encoded as its ``t1_`` base36 fullname.
    Score falls back to 0 (FALLBACK_ATTRIBUTES, pushshift.py:34-41).

    KNOWN AMBIGUITY (accepted, test-pinned): the reference converts only
    JSON *integers* (``isinstance(val, int)``); schema-on-read parses
    ``parent_id`` into a string column, so the raw token's quoting is
    gone by the time we see it and the ``^[0-9]+$`` test also matches a
    bare all-digit base36 STRING id (e.g. ``"12345"``), which the
    reference would keep verbatim but this path re-encodes.  Real
    pushshift dumps carry either ``t1_``/``t3_`` fullnames or int
    forms, never bare digit strings, so the collision class is empty in
    practice; distinguishing would cost a second raw parse of every
    line.  Pinned in tests/test_sources.py
    (test_parent_digit_string_ambiguity_pinned)."""
    bare = _bare_id()
    body = tsf.html_unescape_basic(F.col("body"))
    parent = F.coalesce(F.col("parent_id"), F.col("link_id"))
    parent = F.when(
        parent.rlike("^[0-9]+$"),
        F.concat(F.lit("t1_"), tsf.base36_encode(parent.cast("long"))),
    ).otherwise(parent)
    return classify(raw).filter(F.col("kind") == "comment").select(
        tsf.base36_decode(bare).alias("idint"),
        F.concat(F.lit("t1_"), bare).alias("idstr"),
        F.col("created_utc").alias("created"),
        F.coalesce(F.col("author"), F.lit(DELETED_SENTINEL)).alias("author"),
        parent.alias("parent"),
        F.col("link_id").alias("submission"),
        body.alias("body"),
        F.coalesce(F.col("score"), F.lit(0)).alias("score"),
        F.col("subreddit"),
        F.col("distinguished").alias("distinguish"),
        F.length(body).cast("long").alias("textlen"),
        _edited_ts().alias("edited"),
        *[F.col(c) for c in extra_cols],
    )
