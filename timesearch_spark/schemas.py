"""Canonical archive schemas (Reddit-shaped), as explicit StructTypes.

Derived from the reference's SQLite DDL (tsdb.py:42-101 in
/root/reference/timesearch_modules/tsdb.py) and FIXTURES.md §1.  Unix
timestamps stay ``bigint`` for oracle/hash parity; booleans are real
booleans (the reference stores INT 0/1, tsdb.py:55-56).

At 100 TB these tables are stored as Parquet partitioned by
``subreddit`` (the reference's database-per-entity convention,
tsdb.py:19-32, becomes a partition key) and sub-partitioned by
``created_date`` so time-range queries prune at the directory level.
"""

from __future__ import annotations

from pyspark.sql import types as T

DELETED_SENTINEL = "[DELETED]"  # tsdb.py:394-397, 468-471

SUBMISSIONS = T.StructType(
    [
        T.StructField("idint", T.LongType()),        # base36-decoded (tsdb.py:52)
        T.StructField("idstr", T.StringType()),      # 't3_' fullname, unique key
        T.StructField("created", T.LongType()),      # unix seconds UTC
        T.StructField("self", T.BooleanType()),
        T.StructField("nsfw", T.BooleanType()),
        T.StructField("author", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("url", T.StringType()),        # NULL for self posts
        T.StructField("selftext", T.StringType()),
        T.StructField("score", T.LongType()),
        T.StructField("subreddit", T.StringType()),
        T.StructField("distinguish", T.StringType()),
        T.StructField("textlen", T.LongType()),      # length(selftext)
        T.StructField("num_comments", T.LongType()),
        T.StructField("flair_text", T.StringType()),
        T.StructField("flair_css_class", T.StringType()),
        T.StructField("augmented_at", T.LongType()),
        T.StructField("augmented_count", T.LongType()),
    ]
)

COMMENTS = T.StructType(
    [
        T.StructField("idint", T.LongType()),
        T.StructField("idstr", T.StringType()),      # 't1_' fullname, unique key
        T.StructField("created", T.LongType()),
        T.StructField("author", T.StringType()),
        T.StructField("parent", T.StringType()),     # 't3_...' or 't1_...'
        T.StructField("submission", T.StringType()), # owning 't3_...'
        T.StructField("body", T.StringType()),
        T.StructField("score", T.LongType()),
        T.StructField("subreddit", T.StringType()),
        T.StructField("distinguish", T.StringType()),
        T.StructField("textlen", T.LongType()),
    ]
)

# Raw NDJSON ingest shape (pushshift/archive JSON before canonicalization;
# FIXTURES.md §2, pushshift.py:33-98).  Any field may be absent.
RAW_NDJSON = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("created_utc", T.LongType()),
        T.StructField("author", T.StringType()),
        T.StructField("subreddit", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("selftext", T.StringType()),
        T.StructField("body", T.StringType()),
        T.StructField("score", T.LongType()),
        T.StructField("is_self", T.BooleanType()),
        T.StructField("over_18", T.BooleanType()),
        T.StructField("distinguished", T.StringType()),
        T.StructField("link_flair_text", T.StringType()),
        T.StructField("link_flair_css_class", T.StringType()),
        T.StructField("num_comments", T.LongType()),
        T.StructField("url", T.StringType()),
        T.StructField("crosspost_parent", T.StringType()),
        T.StructField(
            "crosspost_parent_list",
            T.ArrayType(T.StructType([T.StructField("permalink", T.StringType())])),
        ),
        T.StructField("parent_id", T.StringType()),
        T.StructField("link_id", T.StringType()),
        T.StructField("edited", T.StringType()),  # false | unix ts; parsed downstream
    ]
)

# Multimodal document schema: opaque binary payload + typed metadata
# (engine extension; no reference equivalent).
MEDIA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),       # image | audio | video
        T.StructField("payload", T.BinaryType()),
        T.StructField("mime", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType())),
    ]
)
