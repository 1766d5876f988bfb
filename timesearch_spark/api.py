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
| breakdown         | ``breakdown``        | operators.breakdown → exports.write_breakdown |
| index             | ``index``            | operators.exports.write_index |
| offline_reading   | ``offline_reading``  | trees.render_thread_pages (head and comments of a thread in one Python pass) → exports.write_thread_docs (threads past ``max_thread_rows``: trees.thread_page_fragments → exports.write_thread_docs_streamed) |
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
from timesearch_spark.functions import render_markdown
from timesearch_spark.operators import exports
from timesearch_spark.operators.breakdown import breakdown as _breakdown
from timesearch_spark.operators.merge import anti_join_merge
from timesearch_spark.operators.trees import THREAD_ID, render_thread_pages
from timesearch_spark.session import side_by_side
from timesearch_spark.sources import ndjson as _ndjson
from timesearch_spark.sources.paginated import enrichment_interleave, paginate
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
                      page_size, lookup, augmented_from=None, upper=None):
    if lower == "update":  # get_submissions.py:52-59
        lower = store.resume_lower_bound(augmented_submissions=augmented_from)
    pages = paginate(fetch_page, lower=lower or 0, upper=upper,
                     page_size=page_size)
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
                    page_size: int = 1000, lookup=None) -> int:
    """Historical submission backfill (§3.1): keyset pages → enrichment →
    MERGE.  ``fetch_page(after, before, limit)`` abstracts the remote API;
    ``upper`` is the reference's -up exclusive bound (timesearch.py:563-570)."""
    return _ingest_paginated(
        archive, fetch_page, _ndjson.submissions_from_raw,
        archive.submissions, lower, page_size, lookup,
        upper=upper,
    )


def get_comments(archive: Archive, fetch_page, lower="update",
                 upper: int | None = None,
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
        1000, lookup,
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
    Both stores merge side by side and commit separately: one may commit
    when the other fails (its error is raised); re-ingesting converges.
    """
    raw = _ndjson.read_raw_file(archive.spark, path)
    sres, cres = side_by_side(
        lambda: archive.submissions.merge(_ndjson.submissions_from_raw(raw)),
        lambda: archive.comments.merge(_ndjson.comments_from_raw(raw)))
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
              out_dir: str | None = None, key: str = "author") -> DataFrame | str:
    """D1 flagship: zero-filled dual counts; writes the reference's
    JSON file when out_dir given (exports.write_breakdown: one file
    streamed from the driver at any key count).  ``key`` follows
    breakdown.py:29-34 — 'author' for a subreddit archive, 'subreddit'
    for a user archive (which subreddits the user posts to)."""
    bd = _breakdown(
        archive.submissions.snapshot(), archive.comments.snapshot(),
        key=key, key_name=key,
    )
    if out_dir is None:
        return bd
    return exports.write_breakdown(bd, out_dir, archive.basename, sort=sort,
                                   key_name=key)


def index(archive: Archive, out_dir: str, orderby: str = "date",
          score_threshold: int = 0, html: bool = False,
          offline: bool = False) -> str:
    """Sorted listing export (index.py:100-167): one file per ordering,
    streamed from the driver (exports.write_index)."""
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
#: and treats every such row's thread as changed, instead of letting
#: the universal mismatch masquerade as data churn.  Stale-page removal
#: (an idstr match) is version-independent and still runs.
FP_FORMAT_VERSION = 2

#: Declared schema of a manifest row, as the swap writes it.  A
#: pre-versioning manifest reads with a null ``fpv``.
MANIFEST_SCHEMA = "idstr string, fp string, fpv int"

def _thread_fingerprints(submissions: DataFrame, comments: DataFrame,
                         manifest: DataFrame | None = None) -> DataFrame:
    """(idstr, fp, __n, __ofp, __ofpv, __old): one render-relevant
    change fingerprint per thread, its comment count — the fused arm's
    routing input — and its prior manifest entry.  Equal fp ⟺ the page
    bytes cannot have changed (64-bit multiset hash, ~2⁻⁶⁴
    false-negative; a false negative skips one re-render until the
    thread next changes, it never corrupts output).

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
    in decimal(38,0) so ANSI mode cannot overflow it.

    The prior ``manifest`` (:data:`MANIFEST_SCHEMA`; none when omitted)
    gives ``__ofp`` and ``__ofpv``, with ``__old`` true when the thread
    has a row there; a thread only the manifest holds comes back with a
    null ``fp`` — a full outer match.  Comment hashes, submission
    hashes and manifest rows meet in ONE hash-agg keyed by thread (one
    shuffle, map-side partial sums; no text leaves the executors);
    comment-only orphan threads get no row."""
    from pyspark.sql import functions as F

    from timesearch_spark.functions.sqlexpr import ident

    def rowhash(*cols):
        return "xxhash64(" + ", ".join(
            f"CAST({ident(c)} IS NULL AS INT), CAST({ident(c)} AS STRING)"
            for c in cols) + ")"

    if manifest is None:
        manifest = submissions.sparkSession.createDataFrame([], MANIFEST_SCHEMA)
    rows = comments.selectExpr(
        f"{THREAD_ID} AS idstr",
        "CAST(" + rowhash("idstr", "parent", "created", "score", "author",
                          "body", "subreddit") + " AS DECIMAL(38,0)) AS __h",
    ).unionByName(submissions.selectExpr(
        "idstr",
        rowhash("idstr", "author", "title", "url", "selftext", "score",
                "created", "subreddit") + " AS __sh",
    ), allowMissingColumns=True).unionByName(manifest.selectExpr(
        "idstr", "fp AS __ofp", "fpv AS __ofpv", "true AS __old",
    ), allowMissingColumns=True)
    return rows.groupBy("idstr").agg(*[F.expr(c) for c in (
        "count(__h) AS __n", "sum(__h) AS __csum", "max(__sh) AS __sh",
        "max(__ofp) AS __ofp", "max(__ofpv) AS __ofpv",
        "count(__old) > 0 AS __old",
    )]).where("__sh IS NOT NULL OR __old").selectExpr(
        "idstr",
        "IF(__sh IS NULL, NULL, concat_ws(':', CAST(__n AS STRING),"
        " coalesce(CAST(__csum AS STRING), '0'), CAST(__sh AS STRING)))"
        " AS fp",
        "__n", "__ofp", "__ofpv", "__old",
    )


def offline_reading(archive: Archive, out_dir: str,
                    specific_submission: str | None = None,
                    checkpoint_dir: str | None = None,
                    incremental: bool = False,
                    max_thread_rows: int | None = None) -> int:
    """Thread HTML export (§3.3): one complete page file per submission
    (header, submission block, nested comments, footer); returns the
    file count.  ``specific_submission`` renders one thread only (the
    reference's -s, offline_reading.py:393-416) — the filter lands
    BEFORE the render, so the shuffle carries one thread, not the
    archive.  ``checkpoint_dir`` makes the streamed arm's walk state
    durable (:func:`timesearch_spark.fs.checkpointer`); when left
    unset it is AUTO-derived for ``scheme://`` archives (store-adjacent
    ``_checkpoints/``, :func:`timesearch_spark.fs.derive_checkpoint_dir`)
    — on a real cluster an executor loss mid-walk then recomputes
    instead of failing the export, while plain local archives keep the
    cheap ``localCheckpoint``.

    Arm routing (r13): by DEFAULT the export is auto-routed PER THREAD —
    one cheap comment-count probe (map-side partial agg + a broadcast
    split) sends threads at or under ``max_thread_rows``
    (trees.DEFAULT_MAX_THREAD_ROWS unless overridden) through the fused
    one-pass render (trees.render_thread_pages: head row and comments of
    a thread rendered in one Python pass) and the over-bound ones
    through the streamed no-ceiling arm, same run, same bytes — so one
    10M-comment mega-thread no longer fails the whole export (the fused
    arm's loud ValueError) or forces every small thread onto the slower
    arm.  When
    no thread is over the bound (the probe's common answer) the plan is
    exactly the fused-only export.  The streamed arm — the distributed
    pointer-doubling walk orders page fragments and an O(tree depth)
    stack writer folds them into the SAME bytes
    (trees.thread_page_fragments → exports.write_thread_docs_streamed)
    — pays walk rounds the fused one-pass render avoids, so only
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
    converges to what a from-scratch render would produce.

    One pass decides everything: the fingerprints (with each thread's
    comment count) are matched full-outer against the manifest, read
    with its declared schema, and every thread is tagged ``same``,
    ``changed`` (new, edited, or a manifest row whose ``fpv`` is stale
    or missing) or ``removed``.  That frame is pinned with the tree
    walk's checkpointer (executor-local, or durable under
    ``checkpoint_dir``) while an ``Observation`` counts changed,
    removed and over-bound changed threads and stale-``fpv`` rows, and
    released when the export ends.  From those counts: the over-bound threads come from
    the pin, so the router runs no probe; the delete pass runs only
    when something was removed; both semi-joins of the render read one
    changed-set plan; the manifest swap writes the pin's non-removed
    rows; and a refresh that finds nothing changed or removed writes
    nothing at all — no page, no delete, no manifest.

    Crash safety: pages are written BEFORE stale deletes and the
    manifest swap (staging dir + delete/rename through the fs shim), so
    an interruption leaves the OLD manifest and the next run merely
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

    # Reference-parity pages (offline_reading.py:201-222,310-312): one
    # complete header+submission+nested-comments+footer page per
    # SUBMISSION row — zero-comment threads included, comment-only
    # orphan threads excluded, exactly the reference's scope.
    from timesearch_spark.operators import trees as _trees

    bound = (_trees.DEFAULT_MAX_THREAD_ROWS
             if max_thread_rows is None else max_thread_rows)
    if incremental:
        return _incremental_page_export(
            submissions, comments, out_dir,
            checkpoint_dir=checkpoint_dir, bound=bound,
        )
    return _routed_page_export(
        submissions, comments, out_dir,
        checkpoint_dir=checkpoint_dir, bound=bound,
    )


def _incremental_page_export(submissions: DataFrame, comments: DataFrame,
                             out_dir: str, checkpoint_dir: str | None,
                             bound: int) -> int:
    """``offline_reading(incremental=True)``: one pinned classification
    pass, then only the writes its counts call for."""
    import logging

    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from timesearch_spark.functions.sqlexpr import lit

    spark = submissions.sparkSession
    fsh = _fs.get_fs(spark, out_dir)
    man_path = os.path.join(out_dir, PAGE_MANIFEST)
    old = (spark.read.schema(MANIFEST_SCHEMA).parquet(man_path)
           if fsh.exists(man_path) else None)
    version = lit(FP_FORMAT_VERSION)
    stale = f"__old AND coalesce(__ofpv <> {version}, true)"  # no fpv: stale
    # one row per thread in the archive or the manifest: removed (only
    # in the manifest), changed (new, edited, or judged under another
    # fingerprint encoding) or same
    classified = _thread_fingerprints(
        submissions, comments, manifest=old,
    ).selectExpr(
        "idstr", "fp", "__n", "__ofpv", f"{stale} AS __stale",
        "CASE WHEN fp IS NULL THEN 'removed'"
        f" WHEN NOT (__ofp <=> fp) OR {stale} THEN 'changed'"
        " ELSE 'same' END AS __tag",
    )
    over_bound = f"__tag = 'changed' AND __n > {lit(bound)}"
    seen = Observation()
    # the tree walk's checkpointer: executor-local for plain archives,
    # durable under checkpoint_dir for scheme:// ones
    pin = _fs.checkpointer(spark, checkpoint_dir)(
        classified.observe(seen, *[F.expr(c) for c in (
            "count_if(__tag = 'changed') AS changed",
            "count_if(__tag = 'removed') AS removed",
            f"count_if({over_bound}) AS over",
            "count_if(__stale) AS stale",
            "max(IF(__stale, __ofpv, NULL)) AS stale_fpv",
        )]).select("idstr", "fp", "__n", "__tag"))
    try:
        counts = seen.get
        if counts["stale"]:
            # Manifest rows written under a different fingerprint
            # encoding: every fp compare would mismatch.  Surface WHY (a
            # one-time full re-render after upgrade, not data churn).
            logging.getLogger(__name__).warning(
                "offline_reading: %s was written under fingerprint "
                "format %s (current %s) — a one-time FULL re-render "
                "is expected, this is not data churn",
                man_path,
                "<unversioned>" if counts["stale_fpv"] is None
                else counts["stale_fpv"],
                FP_FORMAT_VERSION,
            )
        if counts["changed"] == 0 and counts["removed"] == 0:
            return 0  # no-op refresh: no page, delete or manifest write

        # render only the changed threads; the semi-join also keeps
        # comment-only orphan threads (never classified) out of the
        # render.  Both joins read one changed-set plan, so the planner
        # reuses its exchange.
        changed = pin.filter("__tag = 'changed'").select("idstr")
        submissions = submissions.join(
            changed, submissions["idstr"] == changed["idstr"], "left_semi")
        comments = comments.withColumn("submission", F.expr(THREAD_ID))
        comments = comments.join(
            changed, comments["submission"] == changed["idstr"], "left_semi")
        over = pin.filter(over_bound).selectExpr("idstr AS submission")
        # Crash order: pages, then stale deletes, then the manifest swap.
        # An interruption leaves the OLD manifest, so the next run
        # re-renders the already-written delta and re-issues the
        # idempotent deletes — never skips either.
        n = _routed_page_export(
            submissions, comments, out_dir,
            checkpoint_dir=checkpoint_dir, bound=bound,
            over=(over, counts["over"]),
        )
        if counts["removed"]:
            # executor-side: a mass rollback is millions of ids, never
            # collected to the driver
            exports.delete_thread_pages_distributed(
                pin.filter("__tag = 'removed'").select("idstr"), out_dir)
        # staging dir + delete/rename through the fs shim: a torn write
        # never replaces the old manifest
        staging = man_path + ".staging"
        pin.filter("__tag <> 'removed'").selectExpr(
            "idstr", "fp", f"{version} AS fpv"
        ).write.mode("overwrite").parquet(staging)
        if fsh.exists(man_path):
            fsh.delete(man_path)
        fsh.rename(staging, man_path)
        return n
    finally:
        _fs.release_checkpoint(pin)


def _routed_page_export(submissions: DataFrame, comments: DataFrame,
                        out_dir: str, checkpoint_dir: str | None,
                        bound: int,
                        over: tuple[DataFrame, int] | None = None) -> int:
    """The DEFAULT page-export plan (r13 auto-routing, extracted r14 so
    tools/bench_scaling.py can probe it end-to-end): one comment-count
    agg finds threads past the fused render's one-task bound — an
    exact count, not a sample — and routes just those through the
    distributed walk (``trees.thread_page_fragments``).  The over-set is
    tiny by construction (each member has > bound comments), so the
    split joins broadcast it; when it is empty — the common case — the
    export is exactly the fused-only plan.  A caller that has already
    counted the over-bound threads passes ``over`` as (their ids in one
    ``submission`` column, their count); then no probe runs."""
    from pyspark.sql import functions as F

    from timesearch_spark.operators import trees as _trees

    normed = comments.withColumn("submission", F.expr(THREAD_ID))
    probe = None
    try:
        if over is None:
            probe = (
                normed.groupBy("submission")
                .agg(F.count(F.lit(1)).alias("__n"))
                .filter(F.col("__n") > bound)
                .select("submission")
            ).persist()
            over = (probe, probe.limit(1).count())
        over_ids, n_over = over
        if n_over == 0:
            pages = render_thread_pages(submissions, comments,
                                        max_thread_rows=bound)
            return exports.write_thread_docs(pages, out_dir)
        over_subs = over_ids.select(F.col("submission").alias("idstr"))
        fused_pages = render_thread_pages(
            submissions.join(F.broadcast(over_subs), "idstr", "left_anti"),
            normed.join(F.broadcast(over_ids), "submission", "left_anti"),
            max_thread_rows=bound,
        )
        n = exports.write_thread_docs(fused_pages, out_dir)
        frags = _trees.thread_page_fragments(
            submissions.join(F.broadcast(over_subs), "idstr", "left_semi"),
            normed.join(F.broadcast(over_ids), "submission", "left_semi"),
            checkpoint_dir=checkpoint_dir,
        )
        return n + exports.write_thread_docs_streamed(frags, out_dir)
    finally:
        if probe is not None:
            probe.unpersist()


# --- merge_db (timesearch.py merge_db) ---------------------------------------

def merge_db(to_archive: Archive, from_archive: Archive) -> dict:
    """Insert-only merge (merge_db.py:7-34): copy rows absent from the
    target; existing rows are never updated (timesearch.py:350-354).
    Both stores merge side by side and commit separately, as in ingest."""
    def merge_one(to_store, from_store):
        before = to_store.snapshot().count()
        merged = anti_join_merge(
            to_store.snapshot(), from_store.snapshot(), key="idint"
        )
        to_store.overwrite_snapshot(merged)
        return to_store.snapshot().count() - before

    subs, coms = side_by_side(
        lambda: merge_one(to_archive.submissions, from_archive.submissions),
        lambda: merge_one(to_archive.comments, from_archive.comments))
    return {"submissions": subs, "comments": coms}


# --- document dumps (timesearch.py get_wiki / get_styles) --------------------

def get_wiki(archive: Archive, pages: dict[str, str], out_dir: str) -> int:
    """Wiki dump (get_wiki.py:8-26): raw markdown + rendered HTML per
    page, the reference's exact composition through
    :func:`timesearch_spark.functions.render_markdown` — escape
    ``<``/``>`` first (including its '&rt;' [sic] typo, get_wiki.py:24),
    then the one markdown arm the thread renderer also uses.  The
    ``config/stylesheet`` pseudo-page is skipped (get_wiki.py:15-16 — it belongs to
    get_styles).  Driver-side file export — not an analytic path, but it
    routes through the fs shim like every other sink, so an archive
    rooted at a ``scheme://`` store gets its wiki dump ON the store
    instead of silently on the driver's local disk."""
    shim = _fs.get_fs(archive.spark if archive is not None else None, out_dir)
    shim.mkdirs(out_dir)

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
            f.write(render_markdown(md_text))
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
