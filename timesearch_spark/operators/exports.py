"""Export sinks (SURVEY §2 A8/A9/A10, F1/F3, H7/H10/H14/H16).

Reference output shapes:

- **index listings** (index.py:9-15,100-167): one formatted line per
  submission above a score threshold, ordered by a chosen key; txt
  (``{timestamp}: [{title}]({link}) - /u/{author} (+{score})``) or HTML
  div variant wrapped in a fixed header/footer; timestamp '%Y %b %d';
  link = ``https://redd.it/<bare id>`` (or offline per-thread page);
  deleted authors link to '#' (index.py:142-146); newlines stripped from
  titles (index.py:159).
- **breakdown JSON** (breakdown.py:83-101): plain ``json.dumps`` dict of
  ``{name: {submissions, comments}}``, or — when sorted — a custom
  pretty format, one ``"name": {...}`` line per key.
- **per-thread HTML** (offline_reading.py:369-390): one ``<id>.html``
  per submission.

Spark shape: listing lines and page fragments are formatted by JVM
expressions (F.format_string/concat), fully distributed until the final
write; breakdown rows are formatted on the driver with the reference's
own templates as they stream by.  Every file reaches storage through
one atomic put, :func:`_put`: listings and breakdowns stream their
ordered rows to it from the driver (``toLocalIterator``: one partition
in driver memory at a time, since the *output contract* is one ordered
file), and the per-thread pages are put from executor tasks.

Listing sort rule (:func:`_sort_listing`, shared by index listings and
sorted breakdowns): a frame whose optimizer size estimate (no job) is at
most ``spark.sql.adaptive.advisoryPartitionSizeInBytes`` — the size AQE
itself targets for one partition, 64 MB by default — is sorted in ONE
coalesced partition, which skips the global sort's range-sampling job
and exchange and leaves ``toLocalIterator`` one job; a larger frame
keeps the range-partitioned ``orderBy``, so the driver never holds more
than one bounded sort partition.  Every ordering is total (index rows
end on ``idstr``, breakdown rows on the exact key), so both arms write
the same bytes."""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from timesearch_spark.functions import flatten_newlines, listing_time, strip_prefix

LINE_FORMAT_TXT = "%s: [%s](%s) - /u/%s (+%d)"  # index.py:9-11
LINE_FORMAT_HTML = (
    '<div>%s: <a href="%s">[%s] %s</a> - <a href="%s">%s</a> (+%d)</div>'
)  # index.py:13-15
HTML_HEADER = (  # byte-exact index.py:22-36 incl. the triple-quote's leading \n
    "\n<html>\n<head>\n<meta charset=\"UTF-8\">\n<style>\n    *\n    {\n"
    "        font-family: Consolas;\n    }\n</style>\n</head>\n\n<body>\n"
)
HTML_FOOTER = "\n</body>\n</html>\n"  # index.py:38-40

#: The five orderings of index.py:68-92 (F1/F3); each is (column factory,
#: suffix) — factories because Columns need a live session.  Each ends
#: on ``idstr`` (see :func:`index_lines`), so no two rows tie.
INDEX_ORDERINGS = {
    "date": (lambda: [F.asc("created")], "_date"),
    "title": (lambda: [F.asc("title")], "_title"),
    "score": (lambda: [F.desc("score")], "_score"),
    "author": (lambda: [F.asc("author")], "_author"),
    "subreddit": (  # user archives: which subreddit each post landed in
        lambda: [F.asc("subreddit")], "_subreddit",
    ),  # index.py:84-86 ('subreddit ASC', username archives only)
    "flair": (  # F3: flaired first, each group time-ordered (index.py:89-92)
        lambda: [F.col("flair_text").isNull().cast("int").asc(), F.asc("created")],
        "_flair",
    ),
}


def _fits_one_partition(df: DataFrame) -> bool:
    """Whether the optimizer's size estimate of ``df`` (plan statistics:
    no job) is at most the session's advisory partition size."""
    spark = df.sparkSession
    est = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    limit = spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes"))
    return int(str(est)) <= limit  # est: a Scala BigInt or its int


def _sort_listing(df: DataFrame, *cols) -> DataFrame:
    """``df`` in ``cols`` order for a driver-streamed listing: one
    coalesced partition when it fits one, else a range-partitioned
    ``orderBy``.  ``cols`` must order totally, or the arms may disagree
    on ties."""
    if _fits_one_partition(df):
        return df.coalesce(1).sortWithinPartitions(*cols)
    return df.orderBy(*cols)


def _link_col(offline: bool):
    return (
        F.concat(F.lit("../offline_reading/"), F.col("idstr"), F.lit(".html"))
        if offline
        else F.concat(F.lit("https://redd.it/"), strip_prefix(F.col("idstr")))
    )  # index.py:134-138


def index_lines(
    submissions: DataFrame,
    orderby: str = "date",
    score_threshold: int = 0,
    html: bool = False,
    offline: bool = False,
) -> DataFrame:
    """The listing as a one-column ('line') DataFrame in final order;
    rows tied on the ordering's key follow ``idstr``."""
    order_cols, _ = INDEX_ORDERINGS[orderby]
    df = _sort_listing(submissions.filter(F.col("score") >= score_threshold),
                      *order_cols(), F.asc("idstr"))

    link = _link_col(offline)
    author = F.col("author")
    title = flatten_newlines(F.coalesce(F.col("title"), F.lit("")))
    ts = listing_time(F.col("created"))
    if html:
        author_link = F.when(
            F.lower(author) == "[deleted]", F.lit("#")
        ).otherwise(F.concat(F.lit("https://reddit.com/u/"), author))  # index.py:142-146
        line = F.format_string(
            LINE_FORMAT_HTML,
            ts, link, F.coalesce(F.col("flair_text"), F.lit("")), title,
            author_link, author, F.col("score"),
        )
    else:
        line = F.format_string(LINE_FORMAT_TXT, ts, title, link, author, F.col("score"))
    return df.select(line.alias("line"))


def _write_listing(rows: DataFrame, out_dir: str, name: str, line,
                   head: str = "", sep: str = "", tail: str = "") -> str:
    """The one driver-side listing sink: ``head``, then ``line(row)`` for
    every row of ``rows`` in order with ``sep`` between them, then
    ``tail`` — streamed through ``toLocalIterator`` (driver memory is
    one partition, at any row count) into the atomic :func:`_put`, so a
    failed iteration leaves the previous file intact.  Returns
    ``out_dir/name``."""
    uri = f"{_out_root(out_dir).rstrip('/')}/{name}"

    def chunks():
        yield head
        for i, row in enumerate(rows.toLocalIterator()):
            yield sep + line(row) if i else line(row)
        yield tail

    _put(*_open_fs(uri), chunks())
    return os.path.join(out_dir, name)


def write_index(
    submissions: DataFrame,
    out_dir: str,
    basename: str,
    orderby: str = "date",
    score_threshold: int = 0,
    html: bool = False,
    offline: bool = False,
) -> str:
    """Write one ordered listing file; returns its path."""
    _, suffix = INDEX_ORDERINGS[orderby]
    lines = index_lines(submissions, orderby, score_threshold, html, offline)
    return _write_listing(
        lines, out_dir, basename + suffix + (".html" if html else ".txt"),
        lambda r: r["line"] + "\n",
        head=HTML_HEADER if html else "", tail=HTML_FOOTER if html else "",
    )


#: One sorted-breakdown row, verbatim from breakdown.py:83-88.
BREAKDOWN_LINE = '    "{name}": {{"submissions": {submissions}, "comments": {comments}}}'


def write_breakdown(bd: DataFrame, out_dir: str, basename: str,
                    sort: str | None = None, key_name: str = "author") -> str:
    """Write the reference's breakdown file (breakdown.py:83-101);
    returns its path.  Sorted: the pretty one-``"name": {...}``-line-
    per-key body in ``breakdown_sorted`` order (a NULL key prints as
    ``None``, an empty breakdown as ``{\\n\\n}\\n``).  Unsorted: the
    single-line ``json.dumps`` of the whole dict, no trailing newline,
    keys in row order — each row dumps as a one-key dict with its braces
    cut, so the ``", "``-joined rows are exactly the dict's dump."""
    if sort is None:
        return _write_listing(
            bd, out_dir, basename + "_breakdown.json",
            lambda r: json.dumps({r[key_name]: {
                "submissions": r["submissions"],
                "comments": r["comments"]}})[1:-1],
            head="{", sep=", ", tail="}",
        )
    from timesearch_spark.operators.breakdown import breakdown_sorted

    rows = breakdown_sorted(bd, sort=sort, key_name=key_name)
    return _write_listing(
        rows, out_dir, f"{basename}_breakdown_{sort}.json",
        lambda r: BREAKDOWN_LINE.format(name=r[key_name],
                                        submissions=r["submissions"],
                                        comments=r["comments"]),
        head="{\n", sep=",\n", tail="\n}\n",
    )


def _open_fs(uri: str):
    """Resolve a URI to ``(pyarrow FileSystem, path inside it)`` —
    driver AND executor side (no py4j).  Native pyarrow bindings first
    (file, s3, hdfs-with-libhdfs, gs); schemes pyarrow can't open
    (abfs-class stores) fall through to the installed fsspec handler
    wrapped in ``PyFileSystem(FSSpecHandler(...))``, which serves the
    identical pyarrow surface.  Raises when neither library can open
    the scheme — executor-side exports need a store one of them can."""
    import pyarrow.fs as pafs

    try:
        return pafs.FileSystem.from_uri(uri)
    except Exception:
        import fsspec  # optional dependency — ImportError propagates

        from urllib.parse import urlparse

        scheme = urlparse(uri).scheme
        fs = fsspec.filesystem(scheme)
        path = fs._strip_protocol(uri)
        return pafs.PyFileSystem(pafs.FSSpecHandler(fs)), path


def _out_root(out_dir: str) -> str:
    """Create ``out_dir`` through the same handle the executors open
    (not the Hadoop shim, which knows only Hadoop-configured schemes)
    and return its pyarrow URI for the writer tasks."""
    from timesearch_spark.fs import pyarrow_fs_uri

    uri = pyarrow_fs_uri(out_dir)
    fss, path = _open_fs(uri)
    fss.create_dir(path, recursive=True)
    return uri


def _put(fss, path: str, chunks) -> None:
    """The one way an export file reaches storage: stream ``chunks``
    (strings) into ``<path>.inprogress``, delete the destination
    (missing is fine — ``move()`` won't overwrite on every store), then
    move — so a retried task never leaves a torn file, and a re-run
    overwrites.  When ``chunks`` raises, the partial ``.inprogress``
    file is removed and the destination is left as it was."""
    tmp = path + ".inprogress"
    try:
        with fss.open_output_stream(tmp) as f:
            for chunk in chunks:
                f.write(chunk.encode("utf-8"))
    except BaseException:
        try:
            fss.delete_file(tmp)
        except OSError:
            pass  # the original failure is the one to report
        raise
    try:
        fss.delete_file(path)
    except Exception:
        # missing-ok (pyarrow error types vary per store); a real
        # permission/IO failure resurfaces at move()
        pass
    fss.move(tmp, path)


def write_thread_docs(docs: DataFrame, out_dir: str) -> int:
    """One ``<submission>.html`` per (submission, doc) row, ``doc``
    written VERBATIM through the atomic put from ``mapInPandas`` — the
    sink of the fused page arm (api.offline_reading writes what
    trees.render_thread_pages renders, every page complete) for every
    URI a store handle opens: plain path, ``file://``, ``s3``,
    fsspec-bridged.  Returns the number of pages written."""
    base_uri = _out_root(out_dir)

    def write_part(batches):
        import pandas as pd

        fss, base = _open_fs(base_uri)
        base = base.rstrip("/")
        n = 0
        for pdf in batches:
            for name, doc in zip(pdf["submission"], pdf["doc"]):
                _put(fss, f"{base}/{name}.html", [doc])
                n += 1
        yield pd.DataFrame({"n": [n]})

    total = docs.mapInPandas(write_part, "n long").agg(F.sum("n")).first()[0]
    return int(total or 0)


def _fold_page(rows):
    """One thread's ordered fragments → its page text, as a stream of
    chunks: close deeper levels (drain ``post``s), write the blank-line
    sibling join where a level already has output (html_from_tree,
    offline_reading.py:240), write ``pre`` and push ``post``; the final
    drain emits the head fragment's ``post`` (the page footer) last."""
    post_stack: list = []
    count_stack = [0]
    for _, _, d, pre, post in rows:
        d = int(d)
        while len(post_stack) > d:
            yield post_stack.pop()
            count_stack.pop()
        if count_stack[-1] > 0:
            yield "\n\n"
        count_stack[-1] += 1
        yield pre
        post_stack.append(post)
        count_stack.append(0)
    while post_stack:
        yield post_stack.pop()


def write_thread_docs_streamed(frags: DataFrame, out_dir: str) -> int:
    """The page sink with NO per-thread memory ceiling: folds the
    ordered ``(submission, okey, depth, pre, post)`` fragments of
    :func:`~timesearch_spark.operators.trees.thread_page_fragments` into
    one ``<submission>.html`` per thread, byte-identical to
    ``render_thread_pages`` → :func:`write_thread_docs`, streaming each
    file through the same atomic put — peak state per writer task is
    one Arrow batch plus an O(tree depth) stack of close tags, never a
    whole thread (the fused arm's bound, see
    trees.DEFAULT_MAX_THREAD_ROWS).

    Fragments arrive in (submission, okey) order — threads
    hash-partitioned so each lives wholly in one task, a spill-backed
    sortWithinPartitions on the walk's root-path key ordering them
    (lexicographic path order IS the preorder; r13 — ranking the key
    into an integer position first cost one extra full Exchange+Sort
    upstream) — and :func:`_fold_page` is the fused page pass's stack,
    streamed.  The thread's ``okey = ''`` head fragment sorts first and
    carries header+submission block in ``pre`` and the page FOOTER in
    ``post``.  A thread with no head fragment (comments whose
    submission was never archived) is consumed but writes nothing — the
    reference's scope (offline_reading.py:310-312).  Returns the number
    of pages written."""
    base_uri = _out_root(out_dir)

    def write_part(batches):
        import itertools

        import pandas as pd

        fss, base = _open_fs(base_uri)
        base = base.rstrip("/")
        rows = (
            row
            for pdf in batches
            for row in zip(pdf["submission"], pdf["okey"], pdf["depth"],
                           pdf["pre"], pdf["post"])
        )
        n = 0
        for sub, thread in itertools.groupby(rows, key=lambda r: r[0]):
            head = next(thread)
            if head[1] != "":  # headless thread: no page (reference scope)
                continue
            _put(fss, f"{base}/{sub}.html",
                 _fold_page(itertools.chain([head], thread)))
            n += 1
        yield pd.DataFrame({"n": [n]})

    counts = (
        frags.repartition("submission")
        .sortWithinPartitions("submission", "okey")
        .mapInPandas(write_part, "n long")
    )
    total = counts.agg(F.sum("n")).first()[0]
    return int(total or 0)


def delete_thread_pages_distributed(removed: DataFrame, out_dir: str) -> int:
    """Executor-parallel, idempotent page deletes for the incremental
    export's REMOVAL delta (api.offline_reading: threads deleted from
    the archive): only ``idstr`` strings ship to tasks, each task opens
    the store through ``_open_fs`` and deletes ``<idstr>.html``.  A
    delete that races a retry (file already gone) re-checks existence
    and treats NotFound as success, so repeated runs converge; a
    TRANSIENT per-file failure is retried executor-side (3 attempts,
    short backoff, ADVICE r14) so one flaky delete can't abort the job;
    a file that still fails after the retries fails the export.

    Scale contract (r14, VERDICT r13 #3): the delta stays a DataFrame
    end-to-end — a mass rollback of a 1.5M-page archive never collects
    millions of idstrs to the driver or issues serial fs calls; wall
    tracks delta_size / (writer tasks × fs throughput), the same shape
    as the page writer."""
    from timesearch_spark.fs import pyarrow_fs_uri

    out_uri = pyarrow_fs_uri(out_dir)

    def run(batches):
        import pandas as pd
        import pyarrow.fs as pafs

        fss, out_path = _open_fs(out_uri)
        n = 0
        import time as _time

        for pdf in batches:
            for idstr in pdf["idstr"]:
                rel = f"{out_path.rstrip('/')}/{idstr}.html"
                for attempt in range(3):
                    try:
                        fss.delete_file(rel)
                        n += 1
                        break
                    except Exception:
                        # missing-ok (idempotent re-run / retried
                        # task); anything still present is an IO
                        # failure — retry it here rather than abort
                        # the whole job over one flaky file
                        if fss.get_file_info([rel])[0].type == \
                                pafs.FileType.NotFound:
                            break
                        if attempt == 2:
                            raise
                        _time.sleep(0.2 * (attempt + 1))
        yield pd.DataFrame({"n": [n]})

    spark = removed.sparkSession
    total = (
        removed.repartition(
            max(1, spark.sparkContext.defaultParallelism))
        .mapInPandas(run, "n long")
        .agg(F.sum("n"))
        .first()[0]
    )
    return int(total or 0)
