"""User-facing facade: the reference's CLI surface as engine calls.

Every subcommand of timesearch.py:22-60 (/root/reference/timesearch.py)
maps to one function here, so a user of the reference can switch by
replacing ``timesearch.py <cmd>`` with ``api.<cmd>(...)``:

| reference subcommand | here | engine path |
|---|---|---|
| get_submissions   | ``get_submissions``  | paginated source → MERGE store |
| get_comments      | ``get_comments``     | paginated source → MERGE store |
| ingest_jsonfile   | ``ingest_jsonfile``  | NDJSON reader → MERGE store |
| livestream        | ``livestream``       | streaming.livestream |
| breakdown         | ``breakdown``        | operators.breakdown → JSON |
| index             | ``index``            | operators.exports.write_index |
| offline_reading   | ``offline_reading``  | trees.render_thread_pages → exports.write_thread_docs (threads past ``max_thread_rows``: trees.thread_page_fragments → exports.write_thread_docs_streamed) |
| merge_db          | ``merge_db``         | operators.merge.anti_join_merge |
| get_wiki / get_styles | ``get_wiki``/``get_styles`` | document dumps (driver-side; out of the analytic engine, kept for surface completeness) |

An "archive" is a directory holding two MERGE stores (submissions,
comments) — the Spark analog of the reference's per-entity SQLite file
(tsdb.py:19-32), with ``subreddit``/``author`` as the partition key at
scale.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from timesearch_spark import fs as _fs
from timesearch_spark import schemas
from timesearch_spark.operators import exports
from timesearch_spark.operators.breakdown import breakdown as _breakdown
from timesearch_spark.operators.merge import anti_join_merge
from timesearch_spark.operators.trees import render_thread_pages
from timesearch_spark.sources import ndjson as _ndjson
from timesearch_spark.sources.paginated import (
    RateLimiter,
    enrichment_interleave,
    paginate,
)
from timesearch_spark.streaming import livestream as _ls
from timesearch_spark.streaming.store import ParquetMergeStore


class Archive:
    """Per-entity archive: two MERGE stores under one directory."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self.submissions = ParquetMergeStore(
            spark, os.path.join(path, "submissions"),
            schema=schemas.SUBMISSIONS, key="idstr", text_col="selftext",
        )
        self.comments = ParquetMergeStore(
            spark, os.path.join(path, "comments"),
            schema=schemas.COMMENTS, key="idstr", text_col="body",
        )

    @property
    def basename(self) -> str:
        return os.path.basename(os.path.normpath(self.path))


# --- historical ingest (timesearch.py get_submissions/get_comments) ----------

def _ingest_paginated(archive, fetch_page, canonicalize, store, lower,
                      page_size, limiter, lookup, augmented_from=None,
                      upper=None):
    if lower == "update":  # get_submissions.py:52-59
        lower = store.resume_lower_bound(augmented_submissions=augmented_from)
    pages = paginate(fetch_page, lower=lower or 0, upper=upper,
                     page_size=page_size, limiter=limiter)
    raw_schema = schemas.RAW_NDJSON
    extra_cols: tuple = ()
    if lookup is not None:
        pages = enrichment_interleave(pages, lookup)
        # carry the later-wins priority through canonicalization (C4/E3);
        # build a NEW StructType (StructType.add mutates in place)
        from pyspark.sql import types as T

        raw_schema = T.StructType(
            list(schemas.RAW_NDJSON.fields)
            + [T.StructField("source_priority", T.IntegerType())]
        )
        extra_cols = ("source_priority",)
    n = 0
    for page in pages:
        raw = archive.spark.createDataFrame(page, raw_schema)
        batch = canonicalize(raw, extra_cols=extra_cols)
        order_col = "source_priority" if lookup is not None else None
        store.merge(batch, batch_order_col=order_col)
        if lookup is not None:
            # the interleaved page holds dummy (priority 1) + live
            # (priority 2) rows per item — count ITEMS, not rows, to
            # keep the reference's ingest-count semantics
            n += sum(1 for it in page if it.get("source_priority") == 1)
        else:
            n += len(page)
    return n


def get_submissions(archive: Archive, fetch_page, lower="update",
                    upper: int | None = None,
                    page_size: int = 1000, limiter: RateLimiter | None = None,
                    lookup=None) -> int:
    """Historical submission backfill (§3.1): keyset pages → enrichment →
    MERGE.  ``fetch_page(after, before, limit)`` abstracts the remote API;
    ``upper`` is the reference's -up exclusive bound (timesearch.py:563-570)."""
    return _ingest_paginated(
        archive, fetch_page, _ndjson.submissions_from_raw,
        archive.submissions, lower, page_size, limiter, lookup,
        upper=upper,
    )


def get_comments(archive: Archive, fetch_page, lower="update",
                 upper: int | None = None,
                 page_size: int = 1000, limiter: RateLimiter | None = None,
                 lookup=None, specific_submission: str | None = None,
                 observed_at: int | None = None) -> int:
    """Comment backfill (get_comments.py:7-102).

    ``lower="update"`` resumes augmented-at-aware: the bound comes from
    the newest comment NOT belonging to an augmented submission
    (get_comments.py:40-58) — a prior specific-submission scan must not
    trick the resume point into skipping older general history.

    ``specific_submission``: scan one thread regardless of age, then
    stamp ``submissions.augmented_at`` (get_comments.py:92-100) so later
    general scans know this thread's comments don't bound the resume.
    The reference's thread scan reads a THREAD-SCOPED endpoint
    (get_comments.py:70 ``get_comments_from_submission``); with an
    injected source that scoping is enforced here instead — fetched
    rows outside the thread are dropped, so ``-s`` against a general
    dump ingests exactly the thread it stamps.
    """
    canonicalize = _ndjson.comments_from_raw
    if specific_submission is not None:
        from pyspark.sql import functions as F

        sid = specific_submission if specific_submission.startswith("t3_") \
            else "t3_" + specific_submission

        def canonicalize(raw, **kw):  # noqa: F811 — thread-scoped source shim
            return _ndjson.comments_from_raw(raw, **kw).filter(
                F.col("submission") == sid
            )

    n = _ingest_paginated(
        archive, fetch_page, canonicalize,
        archive.comments,
        0 if specific_submission is not None else lower,
        page_size, limiter, lookup,
        augmented_from=archive.submissions.snapshot(),
        upper=upper,
    )
    if specific_submission is not None:
        mark_augmented(archive, specific_submission, observed_at=observed_at)
    return n


def mark_augmented(archive: Archive, submission_idstr: str,
                   observed_at: int | None = None) -> None:
    """Stamp ``augmented_at = now`` on one submission (the UPDATE at
    get_comments.py:92-100): a one-row merge with ``augmented_at`` as the
    only mutable column, so every other column keeps its stored value."""
    import time as _t

    from pyspark.sql import functions as F

    if observed_at is None:
        observed_at = int(_t.time())
    # accept a bare base36 id like every other entry point: an
    # un-normalized key would full-outer-merge a phantom near-all-null
    # row instead of stamping the stored submission, and the
    # augmented-aware resume bound would silently exclude nothing
    if not submission_idstr.startswith("t3_"):
        submission_idstr = "t3_" + submission_idstr
    row = archive.spark.createDataFrame(
        [(submission_idstr,)], "idstr string"
    ).select(
        *[
            F.lit(None).cast(f.dataType).alias(f.name)
            if f.name not in ("idstr", "augmented_at")
            else (
                F.col("idstr") if f.name == "idstr"
                else F.lit(observed_at).cast("long").alias("augmented_at")
            )
            for f in schemas.SUBMISSIONS.fields
        ]
    )
    archive.submissions.merge(
        row, observed_at=observed_at, mutable=["augmented_at"],
    )


# --- archive-file ingest (timesearch.py ingest_jsonfile) ---------------------

def ingest_jsonfile(archive: Archive, path: str) -> dict:
    """NDJSON archive ingest (ingest_jsonfile.py:25-70): classify lines,
    upsert both kinds, return counters.

    ``new_*`` are inserted-THIS-RUN counts — TSDB.insert's ``new_values``
    semantics (tsdb.py:335-339), so re-ingesting an overlapping archive
    reports only the delta.  ``total_*`` are the post-ingest table counts
    the reference prints at the end (ingest_jsonfile.py:59-64), both
    from one action.

    Reference file semantics (ingest_jsonfile.py:29-39): lines after the
    first blank line are never read (its loop breaks there), and an
    object before it classifiable as neither submission nor comment
    fails the ingest with ValueError before either store is touched —
    both reproduced by ``read_raw_file``.
    """
    raw = _ndjson.read_raw_file(archive.spark, path)
    sres = archive.submissions.merge(_ndjson.submissions_from_raw(raw))
    cres = archive.comments.merge(_ndjson.comments_from_raw(raw))
    totals = (
        archive.submissions.snapshot().selectExpr("true AS s")
        .unionByName(archive.comments.snapshot().selectExpr("false AS s"))
        .selectExpr("count_if(s) AS subs", "count_if(NOT s) AS coms")
        .first()
    )
    return {
        "new_submissions": sres.stats["inserted"],
        "new_comments": cres.stats["inserted"],
        "total_submissions": totals["subs"],
        "total_comments": totals["coms"],
    }


# --- livestream (timesearch.py livestream) -----------------------------------

def livestream(archive: Archive, drop_dir: str, once: bool = False,
               poll_seconds: int = 30, limit: int | None = None,
               submissions: bool = True, comments: bool = True,
               subreddit: str | None = None, username: str | None = None):
    """Continuous ingest; returns the StreamingQuery (I1).  ``limit``
    maps the reference's -l per-cycle item cap (livestream.py:277-285)
    to maxFilesPerTrigger — the micro-batch's unit of admission.
    ``submissions``/``comments`` select which kinds are collected
    (timesearch.py:265-305 -s/-c: both by default); a deselected kind's
    rows pass through the stream unstored.  ``subreddit``/``username``
    scope the stream to one entity's rows — the reference's per-name
    generators poll per-entity API feeds (livestream.py:120-167), so a
    multi-entity run over one shared drop directory gives each archive
    only its own posts."""
    if not (submissions or comments):
        raise ValueError("livestream: at least one of submissions/comments")
    from pyspark.sql import functions as F

    raw = _ls.read_ndjson_stream(archive.spark, drop_dir,
                                 max_files_per_trigger=limit)
    if subreddit is not None:
        raw = raw.filter(F.col("subreddit") == subreddit)
    if username is not None:
        raw = raw.filter(F.col("author") == username)
    return _ls.livestream(
        raw,
        archive.submissions if submissions else None,
        archive.comments if comments else None,
        checkpoint_dir=os.path.join(archive.path, "_checkpoint"),
        poll_seconds=poll_seconds, once=once,
    )


# --- analytics (timesearch.py breakdown / index / offline_reading) -----------

def breakdown(archive: Archive, sort: str | None = None,
              out_dir: str | None = None, key: str = "author",
              sharded: bool = False, streamed: bool = False) -> DataFrame | str:
    """D1 flagship: zero-filled dual counts; writes JSON when out_dir
    given.  ``key`` follows breakdown.py:29-34 — 'author' for a
    subreddit archive, 'subreddit' for a user archive (which subreddits
    the user posts to).  ``sharded=True`` (requires ``sort``) writes
    the executor-parallel shard form instead of the single driver file
    — the 100× path when distinct keys run to millions; the shard dir's
    content files concatenate in filename order into the identical
    JSON.  ``streamed=True`` (unsorted only) is the 100× path for the
    single-line ``json.dumps`` contract: identical file bytes at any
    key count, executor-streamed (write_breakdown_unsorted_streamed)."""
    bd = _breakdown(
        archive.submissions.snapshot(), archive.comments.snapshot(),
        key=key, key_name=key,
    )
    if out_dir is None:
        return bd
    if streamed:
        if sort is not None or sharded:
            raise ValueError("streamed=True is the unsorted single-file "
                             "form; it conflicts with sort/sharded")
        return exports.write_breakdown_unsorted_streamed(
            bd, out_dir, archive.basename, key_name=key
        )
    if sharded:
        return exports.write_breakdown_sharded(
            bd, out_dir, archive.basename, sort=sort, key_name=key
        )
    return exports.write_breakdown(bd, out_dir, archive.basename, sort=sort,
                                   key_name=key)


def index(archive: Archive, out_dir: str, orderby: str = "date",
          score_threshold: int = 0, html: bool = False,
          offline: bool = False, sharded: bool = False) -> str:
    """Sorted listing export (index.py:100-167).  ``sharded=True``
    writes the executor-parallel shard form instead of the single
    driver-written file (millions of submissions); content files
    concatenate in filename order into the identical listing."""
    if sharded:
        return exports.write_index_sharded(
            archive.submissions.snapshot(), out_dir,
            orderby=orderby, score_threshold=score_threshold, html=html,
            offline=offline,
        )
    return exports.write_index(
        archive.submissions.snapshot(), out_dir, archive.basename,
        orderby=orderby, score_threshold=score_threshold, html=html,
        offline=offline,
    )


#: Per-thread change-fingerprint manifest inside an offline_reading
#: output dir (leading underscore = metadata, like Spark's _SUCCESS).
PAGE_MANIFEST = "_page_manifest"

#: Fingerprint ENCODING version, stamped into every manifest row (fpv
#: column).  Bump whenever _thread_fingerprints changes what bytes feed
#: the hash (r13: delimited-string join → per-field xxhash64 args with
#: null markers).  A manifest written under a different version — or a
#: pre-versioning manifest with no fpv column — makes every fp compare
#: meaningless, so the reader logs that a FULL re-render is expected
#: and treats all threads as changed, instead of letting the universal
#: mismatch masquerade as data churn.  Stale-page removal (idstr
#: anti-join) is version-independent and still runs.
FP_FORMAT_VERSION = 2


def _thread_fingerprints(submissions: DataFrame,
                         comments: DataFrame) -> DataFrame:
    """(idstr, fp): one render-relevant change fingerprint per thread —
    equal fp ⟺ the page bytes cannot have changed (64-bit multiset
    hash, ~2⁻⁶⁴ false-negative; a false negative skips one re-render
    until the thread next changes, it never corrupts output).

    fp = count ‖ Σ xxhash64(comment render fields) ‖ xxhash64(submission
    render fields).  The per-row hash feeds each field to xxhash64 as
    its OWN argument — xxhash64 chains fields through the running seed
    with per-field length finalization, so no delimiter/sentinel
    encoding is needed and field values containing control characters
    (legal in JSON bodies) cannot make distinct rows serialize
    identically, which a ``\\x01``-join encoding allowed.  xxhash64
    SKIPS null fields (("x", null) and (null, "x") would collide), so a
    0/1 null marker precedes every field and keeps the encoding
    injective up to the 2⁻⁶⁴ hash bound.  The order-insensitive
    combiner is a SUM — not XOR, where duplicate rows cancel — carried
    in decimal(38,0) so ANSI mode cannot overflow it.  One hash-agg
    over the comments, no text leaves the executors."""
    from pyspark.sql import functions as F

    def rowhash(*cols):
        parts = []
        for c in cols:
            parts.append(F.col(c).isNull().cast("int"))
            parts.append(F.col(c).cast("string"))
        return F.xxhash64(*parts)

    norm = F.when(
        F.col("submission").startswith("t3_"), F.col("submission")
    ).otherwise(F.concat(F.lit("t3_"), F.col("submission")))
    cfp = (
        comments.withColumn("submission", norm)
        .groupBy("submission")
        .agg(
            F.count("*").alias("__n"),
            F.sum(rowhash("idstr", "parent", "created", "score",
                          "author", "body", "subreddit")
                  .cast("decimal(38,0)")).alias("__csum"),
        )
    )
    sfp = submissions.select(
        "idstr",
        rowhash("idstr", "author", "title", "url", "selftext",
                "score", "created", "subreddit").alias("__sh"),
    )
    return sfp.join(cfp, sfp["idstr"] == cfp["submission"], "left").select(
        "idstr",
        F.concat_ws(
            ":",
            F.coalesce(F.col("__n"), F.lit(0)).cast("string"),
            F.coalesce(F.col("__csum").cast("string"), F.lit("0")),
            F.col("__sh").cast("string"),
        ).alias("fp"),
    )


def offline_reading(archive: Archive, out_dir: str,
                    specific_submission: str | None = None,
                    checkpoint_dir: str | None = None,
                    incremental: bool = False,
                    max_thread_rows: int | None = None) -> int:
    """Thread HTML export (§3.3): forest walk → render → one file per
    submission; returns the file count.  ``specific_submission`` renders
    one thread only (the reference's -s, offline_reading.py:393-416) —
    the filter lands BEFORE the forest walk, so the shuffle carries one
    thread, not the archive.  ``checkpoint_dir`` makes a mega-thread
    walk's per-round state durable (:func:`timesearch_spark.fs.
    checkpointer`); when left unset it is AUTO-derived for
    ``scheme://`` archives (store-adjacent ``_checkpoints/``,
    :func:`timesearch_spark.fs.derive_checkpoint_dir`) — on a real
    cluster an executor loss mid-walk then recomputes instead of
    failing the export, while plain local archives keep the cheap
    ``localCheckpoint``.

    Arm routing (r13): by DEFAULT the export is auto-routed PER THREAD —
    one cheap comment-count probe (map-side partial agg + a broadcast
    split) sends threads at or under ``max_thread_rows``
    (trees.DEFAULT_MAX_THREAD_ROWS unless overridden) through the fused
    one-pass assembler and the over-bound ones through the streamed
    no-ceiling arm, same run, same bytes — so one 10M-comment
    mega-thread no longer fails the whole export (the fused arm's loud
    ValueError) or forces every small thread onto the slower arm.  When
    no thread is over the bound (the probe's common answer) the plan is
    exactly the fused-only export.  The streamed arm — the distributed
    pointer-doubling walk orders page fragments and an O(tree depth)
    stack writer folds them into the SAME bytes
    (trees.thread_page_fragments → exports.write_thread_docs_streamed)
    — pays walk rounds the fused one-pass assembler avoids, so only
    threads that need it take it.  Both arms put every page through
    one executor-side atomic write (``<id>.html.inprogress``, then a
    move), so the output store must be one pyarrow or fsspec can open.

    ``incremental=True`` re-renders ONLY threads whose render-relevant
    bytes changed since the last run (new/edited/deleted comments,
    submission title/selftext/score edits), judged by a per-thread
    fingerprint manifest kept in ``out_dir/_page_manifest`` — at
    archive scale a daily delta re-renders the <1% that moved, not
    millions of unchanged pages.  Threads
    DELETED from the archive (merge rollback, re-ingest from a narrower
    dump) have their stale pages removed, so the incremental file set
    converges to what a from-scratch render would produce.  Crash
    safety: pages are written BEFORE stale deletes and the manifest
    swap (staging dir + delete/rename through the fs shim), so an
    interruption leaves the OLD manifest and the next run merely
    re-renders the already-written delta and re-issues the idempotent
    deletes — never skips either.  Returns the re-rendered count (0
    when nothing changed).  Not combinable with
    ``specific_submission`` (a one-thread fingerprint set would clobber
    the manifest's other rows)."""
    from timesearch_spark.fs import derive_checkpoint_dir

    if incremental and specific_submission is not None:
        raise ValueError(
            "offline_reading: incremental=True cannot be combined with "
            "specific_submission — the manifest covers the whole "
            "archive; render the one thread without incremental")
    if checkpoint_dir is None:
        checkpoint_dir = derive_checkpoint_dir(archive.path)
    comments = archive.comments.snapshot()
    submissions = archive.submissions.snapshot()
    if specific_submission is not None:
        sid = specific_submission if specific_submission.startswith("t3_") \
            else "t3_" + specific_submission
        from pyspark.sql import functions as F

        comments = comments.filter(F.col("submission") == sid)
        submissions = submissions.filter(F.col("idstr") == sid)

    manifest_pin = None
    removed_df = None
    if incremental:
        from pyspark.sql import functions as F

        spark = submissions.sparkSession
        fsh = _fs.get_fs(spark, out_dir)
        man_path = os.path.join(out_dir, PAGE_MANIFEST)
        # pinned: the fingerprint hash-agg feeds the changed-set (itself
        # consumed by both entity filters), the removal anti-join, and
        # the manifest swap — without the pin it re-executes per
        # consumer.  Released in the finally below even if the render
        # or write raises (an unreleased pin lives for the session).
        fp = _thread_fingerprints(submissions, comments).persist()
        manifest_pin = fp
        if fsh.exists(man_path):
            old_raw = spark.read.parquet(man_path)
            old = old_raw.select(
                F.col("idstr").alias("__oid"), F.col("fp").alias("__ofp"))
            same_fpv = (
                "fpv" in old_raw.columns
                and (r0 := old_raw.select("fpv").first()) is not None
                and r0["fpv"] == FP_FORMAT_VERSION
            )
            if same_fpv:
                changed = (
                    fp.join(old, fp["idstr"] == old["__oid"], "left")
                    .filter(F.col("__ofp").isNull()
                            | (F.col("__ofp") != F.col("fp")))
                    .select("idstr")
                )
            else:
                # Manifest written under a different fingerprint
                # encoding: every fp compare would mismatch.  Surface
                # WHY (a one-time full re-render after upgrade, not
                # data churn) and re-render everything.
                import logging

                # reuse the walrus-bound r0 (don't re-run the first()
                # job), and guard the empty-manifest case: an fpv
                # COLUMN with zero ROWS gives r0 is None (ADVICE r14)
                logging.getLogger(__name__).warning(
                    "offline_reading: %s was written under fingerprint "
                    "format %s (current %s) — a one-time FULL re-render "
                    "is expected, this is not data churn",
                    man_path,
                    r0["fpv"]
                    if "fpv" in old_raw.columns and r0 is not None
                    else "<unversioned>",
                    FP_FORMAT_VERSION,
                )
                changed = fp.select("idstr")
            # threads DELETED from the archive (merge rollback,
            # re-ingest from a narrower dump): manifest rows with no
            # fingerprint.  Their pages are removed below so the
            # incremental file set converges to what a from-scratch
            # render would produce.  Kept as a DATAFRAME (r14): a mass
            # rollback of a 1.5M-page archive is millions of idstrs —
            # the delete pass runs executor-side through mapInPandas +
            # pyarrow.fs (delete_thread_pages_distributed).
            removed_df = old.join(
                fp, old["__oid"] == fp["idstr"], "left_anti"
            ).select(F.col("__oid").alias("idstr"))
        else:
            changed = fp.select("idstr")
        submissions = submissions.join(changed, "idstr", "left_semi")
        norm = F.when(
            F.col("submission").startswith("t3_"), F.col("submission")
        ).otherwise(F.concat(F.lit("t3_"), F.col("submission")))
        comments = comments.withColumn("submission", norm).join(
            changed.select(F.col("idstr").alias("submission")),
            "submission", "left_semi",
        )

    def _swap_manifest() -> None:
        # AFTER the pages land: stale pages are deleted first (re-run
        # idempotent — a crash between deletes and the swap leaves the
        # old manifest, the next run recomputes the same removals and
        # exists-checked deletes converge), then the full-corpus
        # fingerprints become the new manifest via staging dir +
        # delete/rename (old manifest is still being read lazily until
        # here, so never overwrite in place).
        if removed_df is not None:
            exports.delete_thread_pages_distributed(removed_df, out_dir)
        staging = man_path + ".staging"
        fp.withColumn("fpv", F.lit(FP_FORMAT_VERSION)).write.mode(
            "overwrite").parquet(staging)
        if fsh.exists(man_path):
            fsh.delete(man_path)
        fsh.rename(staging, man_path)
    # Reference-parity pages (offline_reading.py:201-222,310-312): one
    # complete header+submission+nested-comments+footer page per
    # SUBMISSION row — zero-comment threads included, comment-only
    # orphan threads excluded, exactly the reference's scope.
    from timesearch_spark.operators import trees as _trees

    bound = (_trees.DEFAULT_MAX_THREAD_ROWS
             if max_thread_rows is None else max_thread_rows)
    try:
        n = _routed_page_export(
            submissions, comments, out_dir,
            checkpoint_dir=checkpoint_dir, bound=bound,
        )
        if incremental:
            _swap_manifest()
    finally:
        if manifest_pin is not None:
            manifest_pin.unpersist()
    return n


def _routed_page_export(submissions: DataFrame, comments: DataFrame,
                        out_dir: str, checkpoint_dir: str,
                        bound: int) -> int:
    """The DEFAULT page-export plan (r13 auto-routing, extracted r14 so
    tools/bench_scaling.py can probe it end-to-end): one comment-count
    agg finds threads past the fused assembler's one-task bound
    (precedent: comment_forest_auto's skew probe).  The over-set is
    tiny by construction (each member has > bound comments), so the
    split joins broadcast it; when it is empty — the common case — the
    export is exactly the fused-only plan."""
    from pyspark.sql import functions as F

    from timesearch_spark.operators import trees as _trees

    norm = F.when(
        F.col("submission").startswith("t3_"), F.col("submission")
    ).otherwise(F.concat(F.lit("t3_"), F.col("submission")))
    normed = comments.withColumn("submission", norm)
    over = (
        normed.groupBy("submission")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > bound)
        .select("submission")
    )
    over_pin = over.persist()
    try:
        if over.limit(1).count() == 0:
            pages = render_thread_pages(
                submissions, comments, checkpoint_dir=checkpoint_dir,
                max_thread_rows=bound,
            )
            n = exports.write_thread_docs(pages, out_dir)
        else:
            over_subs = over.select(F.col("submission").alias("idstr"))
            fused_pages = render_thread_pages(
                submissions.join(
                    F.broadcast(over_subs), "idstr", "left_anti"),
                normed.join(F.broadcast(over), "submission",
                            "left_anti"),
                checkpoint_dir=checkpoint_dir,
                max_thread_rows=bound,
            )
            n = exports.write_thread_docs(fused_pages, out_dir)
            frags = _trees.thread_page_fragments(
                submissions.join(
                    F.broadcast(over_subs), "idstr", "left_semi"),
                normed.join(F.broadcast(over), "submission",
                            "left_semi"),
                checkpoint_dir=checkpoint_dir,
            )
            n += exports.write_thread_docs_streamed(frags, out_dir)
    finally:
        over_pin.unpersist()
    return n


# --- merge_db (timesearch.py merge_db) ---------------------------------------

def merge_db(to_archive: Archive, from_archive: Archive) -> dict:
    """Insert-only merge (merge_db.py:7-34): copy rows absent from the
    target; existing rows are never updated (timesearch.py:350-354)."""
    out = {}
    for name in ("submissions", "comments"):
        to_store = getattr(to_archive, name)
        from_store = getattr(from_archive, name)
        before = to_store.snapshot().count()
        merged = anti_join_merge(
            to_store.snapshot(), from_store.snapshot(), key="idint"
        )
        to_store.overwrite_snapshot(merged)
        out[name] = to_store.snapshot().count() - before
    return out


# --- document dumps (timesearch.py get_wiki / get_styles) --------------------

def get_wiki(archive: Archive, pages: dict[str, str], out_dir: str) -> int:
    """Wiki dump (get_wiki.py:8-26): raw markdown + rendered HTML per
    page, the reference's exact composition — escape ``<``/``>`` first
    (including its '&rt;' [sic] typo, get_wiki.py:24) then render with
    the ``markdown`` package (``output_format='html5'``) or the
    deterministic subset renderer when the package is absent (the same
    arm choice the thread renderer makes).  The ``config/stylesheet``
    pseudo-page is skipped (get_wiki.py:15-16 — it belongs to
    get_styles).  Driver-side file export — not an analytic path, but it
    routes through the fs shim like every other sink, so an archive
    rooted at a ``scheme://`` store gets its wiki dump ON the store
    instead of silently on the driver's local disk."""
    shim = _fs.get_fs(archive.spark if archive is not None else None, out_dir)
    shim.mkdirs(out_dir)

    def render_page(md_text: str) -> str:
        escaped = md_text.replace("<", "&lt;").replace(">", "&rt;")
        try:
            import markdown as _markdown

            return _markdown.markdown(escaped, output_format="html5")
        except ImportError:
            from timesearch_spark.functions.markdown_lite import render

            return render(escaped)

    n = 0
    for name, md_text in pages.items():
        if name == "config/stylesheet":
            continue
        # nested page names ('config/sidebar') keep '/' separators: local
        # paths on posix and every Hadoop scheme agree on '/'
        base = out_dir.rstrip("/") + "/" + name
        parent = base.rsplit("/", 1)[0]
        if parent != out_dir.rstrip("/"):
            shim.mkdirs(parent)
        with shim.open_write(base + ".md") as f:
            f.write(md_text)
        with shim.open_write(base + ".html") as f:
            f.write(render_page(md_text))
        n += 1
    return n


def get_styles(archive: Archive, stylesheet: str | None, images: dict[str, bytes],
               out_dir: str) -> int:
    """Stylesheet/image dump (get_styles.py:9-32).  Routes through the
    fs shim (same contract as :func:`get_wiki`) so ``scheme://`` archive
    roots receive the stylesheet and images on the store."""
    shim = _fs.get_fs(archive.spark if archive is not None else None, out_dir)
    shim.mkdirs(out_dir)
    root = out_dir.rstrip("/")
    n = 0
    if stylesheet is not None:
        with shim.open_write(root + "/stylesheet.css") as f:
            f.write(stylesheet)
        n += 1
    for name, payload in images.items():
        shim.write_bytes(root + "/" + name, payload)
        n += 1
    return n
