"""CLI front-end: the reference's 10 argparse subcommands over api.py.

Mirrors /root/reference/timesearch.py:22-60,525-582 — same subcommand
names, same flags (``-r/--subreddit``, ``-u/--user``, ``--lower``,
``--upper``, ``--once``, ``--sort``, the index section toggles…) — so a
user of the reference can run ``python -m timesearch_spark
get_submissions -r sub`` and land on the Spark engine.

Differences forced by the environment, kept explicit:

- Archives are parquet MERGE stores under ``<root>/subreddits/<name>``
  or ``<root>/users/<name>`` (the analog of the reference's per-entity
  ``<name>.db`` layout, tsdb.py:19-32); ``--archive-root`` picks the
  root (default ``.``).
- The remote API is injected, never hard-coded: ``get_submissions`` /
  ``get_comments`` take ``--source FILE`` (an NDJSON archive served as
  keyset pages — sources/adapters.ndjson_fetch_page) or ``--source-url
  TEMPLATE`` (the HTTP shape, sources/adapters.http_fetch_page).
  ``livestream`` takes ``--source DIR`` (the streaming drop directory).
- ``get_wiki`` / ``get_styles`` read local inputs (``--pages-json``,
  ``--css`` / ``--images``) instead of a live API.

Two EXTENSION subcommands (not in the reference) expose the
training-data surface: ``ingest_corpus`` (drop-dir stream → cross-run
deduped corpus, streaming/corpus.py) and ``curate`` (the full curation
ladder over a document table, operators/pipeline.curate_corpus).

Subcommand gateways import lazily for the same reason the reference
does (timesearch.py:16-20): help text must not pay engine start-up.
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def _resolve_archive_path(root: str, subreddit: str | None, username: str | None) -> str:
    if (subreddit is None) == (username is None):
        raise SystemExit("exactly one of -r/--subreddit or -u/--user is required")
    if subreddit is not None:
        return os.path.join(root, "subreddits", subreddit)
    return os.path.join(root, "users", username)


def _archive(args):
    from timesearch_spark.api import Archive
    from timesearch_spark.session import get_spark

    spark = get_spark("timesearch-cli")
    path = _resolve_archive_path(
        args.archive_root, getattr(args, "subreddit", None),
        getattr(args, "username", None),
    )
    return Archive(spark, path)


def _fetch_page(args):
    from timesearch_spark.sources import adapters

    if getattr(args, "source", None):
        return adapters.ndjson_fetch_page(args.source)
    if getattr(args, "source_url", None):
        return adapters.http_fetch_page(args.source_url)
    raise SystemExit("--source FILE or --source-url TEMPLATE is required")


def _lookup(args):
    """Supplementation lookup (the reference's supplement_reddit_data
    step, on by default and disabled by --dont_supplement): live copies
    come from --supplement-source, an NDJSON file of fresher item
    versions keyed by id.  Returns None when supplementation is off or
    no live source was given — the flag is honored either way instead
    of being silently ignored."""
    if not getattr(args, "do_supplement", True):
        return None
    src = getattr(args, "supplement_source", None)
    if not src:
        return None
    import json as _json

    live = {}
    with open(src, encoding="utf-8") as f:
        for line in f:
            line = line.strip()
            if not line:
                continue
            obj = _json.loads(line)
            if obj.get("id") is not None:
                live[obj["id"]] = obj

    def lookup(ids):
        return {i: live[i] for i in ids if i in live}

    return lookup


def _parse_lower(value):
    if value is None or value == "update":
        return "update"
    return int(value)


# --- gateways (one per reference subcommand) ---------------------------------

def cmd_get_submissions(args):
    from timesearch_spark import api

    n = api.get_submissions(
        _archive(args), _fetch_page(args),
        lower=_parse_lower(args.lower),
        upper=int(args.upper) if args.upper is not None else None,
        lookup=_lookup(args),
    )
    print(f"get_submissions: {n} items")
    return 0


def cmd_get_comments(args):
    from timesearch_spark import api

    n = api.get_comments(
        _archive(args), _fetch_page(args),
        lower=_parse_lower(args.lower),
        upper=int(args.upper) if args.upper is not None else None,
        specific_submission=args.specific_submission,
        lookup=_lookup(args),
    )
    print(f"get_comments: {n} items")
    return 0


def _split_names(x: str | None) -> list[str]:
    """The reference's multi-name split (common.py:135-140 via
    livestream._listify): '+', ' ' and ',' all separate names."""
    import re

    if not x:
        return []
    return [p for p in re.split(r"[+ ,]", x) if p]


def cmd_livestream(args):
    from timesearch_spark import api
    from timesearch_spark.api import Archive
    from timesearch_spark.session import get_spark

    # reference rule (timesearch.py:265-305): -s/-c select kinds;
    # NEITHER specified means BOTH are collected
    want_subs = args.do_submissions or not (args.do_submissions or args.do_comments)
    want_coms = args.do_comments or not (args.do_submissions or args.do_comments)
    # multi-name round-robin (livestream.py:16-23,86-99): '-r a+b -u c'
    # runs one per-entity generator each — here one scoped streaming
    # query per archive, all over the shared drop directory
    entities = [("r", s) for s in _split_names(args.subreddit)] + [
        ("u", u) for u in _split_names(args.username)
    ]
    if not entities:
        args.parser.error("livestream needs -r and/or -u")
    spark = get_spark("timesearch-cli")
    queries = []
    for kind, name in entities:
        path = _resolve_archive_path(
            args.archive_root,
            name if kind == "r" else None,
            name if kind == "u" else None,
        )
        q = api.livestream(
            Archive(spark, path), args.source, once=args.once,
            poll_seconds=args.sleepy, limit=args.limit,
            submissions=want_subs, comments=want_coms,
            subreddit=name if kind == "r" else None,
            username=name if kind == "u" else None,
        )
        queries.append(q)
        if args.once:  # one full cycle per entity, in turn
            q.awaitTermination()
    if not args.once:
        for q in queries:
            q.awaitTermination()
    print("livestream: done" if args.once else "livestream: stopped")
    return 0


def cmd_ingest_jsonfile(args):
    from timesearch_spark import api

    counts = api.ingest_jsonfile(_archive(args), args.json_file)
    print(json.dumps(counts))
    return 0


def cmd_breakdown(args):
    from timesearch_spark import api

    archive = _archive(args)
    # breakdown.py:29-34: subreddit archive → per-author counts; user
    # archive → per-subreddit counts.  Files land in the breakdown/
    # sibling dir, the reference's layout (tsdb.py:187)
    key = "subreddit" if args.username is not None else "author"
    out = api.breakdown(archive, sort=args.sort,
                        out_dir=os.path.join(archive.path, "breakdown"),
                        key=key)
    print(out)
    return 0


def cmd_index(args):
    from timesearch_spark import api

    archive = _archive(args)
    # the reference's per-property toggles (--all/--author/--date/…,
    # timesearch.py:435-515) each produce one listing file
    orders = []
    if args.do_all or args.do_date:
        orders.append("date")
    if args.do_all or args.do_title:
        orders.append("title")
    if args.do_all or args.do_score:
        orders.append("score")
    # twin reference gates (index.py:79-86): the author listing exists
    # for SUBREDDIT archives only (a user archive's author column is
    # trivially the archive's own user), the subreddit listing for USER
    # archives only
    if args.username is None and (args.do_all or args.do_author):
        orders.append("author")
    if args.username is not None and (args.do_all or args.do_subreddit):
        orders.append("subreddit")
    if args.do_all or args.do_flair:
        orders.append("flair")
    if not orders:
        # reference parity (index.py:94-95): selecting no sorts — or
        # only sorts gated off for this archive kind — raises 'No sorts
        # selected!', it does not silently default to a date listing
        args.parser.error("No sorts selected! Read the docstring")
    for orderby in orders:
        # listings land in the index/ sibling dir (tsdb.py:189) — the
        # reference's layout, and the anchor its relative
        # '../offline_reading/<id>.html' links resolve against (flat
        # placement silently broke every --offline link)
        out = api.index(
            archive, os.path.join(archive.path, "index"), orderby=orderby,
            score_threshold=args.score_threshold, html=args.html,
            offline=args.offline,
        )
        print(out)
    return 0


def cmd_offline_reading(args):
    from timesearch_spark import api

    archive = _archive(args)
    n = api.offline_reading(
        archive, os.path.join(archive.path, "offline_reading"),
        specific_submission=args.specific_submission,
        checkpoint_dir=args.checkpoint_dir,
        incremental=args.incremental,
        max_thread_rows=args.max_thread_rows,
    )
    print(f"offline_reading: {n} threads")
    return 0


def cmd_merge_db(args):
    from timesearch_spark import api
    from timesearch_spark.api import Archive
    from timesearch_spark.session import get_spark

    spark = get_spark("timesearch-cli")
    counts = api.merge_db(Archive(spark, args.to_db_path),
                          Archive(spark, args.from_db_path))
    print(json.dumps(counts))
    return 0


def cmd_get_wiki(args):
    from timesearch_spark import api

    archive = _archive(args)
    with open(args.pages_json, encoding="utf-8") as f:
        pages = json.load(f)
    n = api.get_wiki(archive, pages, os.path.join(archive.path, "wiki"))
    print(f"get_wiki: {n} pages")
    return 0


def cmd_get_styles(args):
    from timesearch_spark import api

    archive = _archive(args)
    stylesheet = None
    if args.css:
        with open(args.css, encoding="utf-8") as f:
            stylesheet = f.read()
    images = {}
    if args.images:
        for name in sorted(os.listdir(args.images)):
            with open(os.path.join(args.images, name), "rb") as f:
                images[name] = f.read()
    n = api.get_styles(archive, stylesheet, images,
                       os.path.join(archive.path, "styles"))
    print(f"get_styles: {n} files")
    return 0


def cmd_profile(args):
    from timesearch_spark.operators.quality import table_profile
    from timesearch_spark.session import get_spark

    spark = get_spark("timesearch-cli")
    df = spark.read.parquet(args.input)
    rows = table_profile(df).collect()
    print(json.dumps([r.asDict() for r in rows], default=str))
    return 0


def cmd_ingest_corpus(args):
    from timesearch_spark.session import get_spark
    from timesearch_spark.streaming.corpus import CorpusStore

    store = CorpusStore(
        get_spark("timesearch-cli"), args.corpus,
        neardup_threshold=args.neardup,
        lease_timeout_sec=args.lease_timeout,
    )
    q = store.ingest_stream(args.source, once=args.once,
                            poll_seconds=args.sleepy)
    q.awaitTermination()
    print(json.dumps({"version": store.version(),
                      "docs": store.corpus().count()}))
    return 0


def cmd_compact(args):
    from timesearch_spark.session import get_spark
    from timesearch_spark.streaming.corpus import CorpusStore

    spark = get_spark("timesearch-cli")
    if args.corpus:
        store = CorpusStore(spark, args.corpus)
        stats = store.compact_batches(target_mb=args.target_mb)
        stats["vacuumed"] = len(store.vacuum())
        print(json.dumps(stats))
    else:
        from timesearch_spark.operators.layout import compact

        cluster = args.cluster.split(",") if args.cluster else None
        n = compact(spark, args.table, target_mb=args.target_mb,
                    cluster_cols=cluster)
        print(json.dumps({"files_after": n, "table": args.table}))
    return 0


def cmd_curate(args):
    from timesearch_spark.operators.pipeline import _executor, rung_counts
    from timesearch_spark.session import get_spark
    from timesearch_spark.streaming.corpus import DOCUMENT_SCHEMA

    spark = get_spark("timesearch-cli")

    def read_docs(path):
        if not path:
            return None
        if path.endswith((".jsonl", ".json", ".ndjson")):
            return spark.read.schema(DOCUMENT_SCHEMA).json(path)
        return spark.read.parquet(path)

    docs = read_docs(args.input)
    knobs = dict(
        benchmark=read_docs(args.benchmark),
        paragraph_max_df=args.paragraph_max_df,
        span_n=args.span_n,
        span_stride=args.span_stride,
        line_dedup=args.line_dedup,
        neardup_threshold=args.neardup,
        lm_ref=read_docs(args.lm_ref),
        lm_ppl_max=args.lm_ppl_max,
        clf_pos=read_docs(args.clf_pos),
        clf_neg=read_docs(args.clf_neg),
        clf_min_score=args.clf_min_score,
        dsir_target=read_docs(args.dsir_target),
        dsir_k=args.dsir_k,
    )
    metrics: dict = {}
    try:
        # --stage-dir commits each rung there (a killed run resumes from
        # its last committed rung); without it the ladder is one plan
        ladder = _executor(docs, args.stage_dir, metrics,
                           resume=not args.no_resume,
                           lease_timeout_sec=args.lease_timeout, **knobs)
    except ValueError as e:  # knobs that do not make a ladder
        raise SystemExit(f"curate: {e}") from None
    out = ladder.run()
    out.write.mode("overwrite").partitionBy("split").parquet(args.output)
    kept = spark.read.parquet(args.output).count()
    # per-rung audit, one job: the pinned boundaries or committed rungs
    report = {"kept": kept, "output": args.output,
              "rungs": rung_counts(metrics)}
    if args.stage_dir:
        report["stage_dir"] = args.stage_dir
    print(json.dumps(report))
    return 0


# --- parser ------------------------------------------------------------------

def _add_entity_args(p: argparse.ArgumentParser) -> None:
    p.add_argument("-r", "--subreddit", dest="subreddit", default=None)
    p.add_argument("-u", "--user", dest="username", default=None)


def build_parser() -> argparse.ArgumentParser:
    parser = argparse.ArgumentParser(
        prog="timesearch_spark",
        description="The subreddit archiver, on Spark. "
        "1. get_submissions -r name  2. get_comments -r name  "
        "3. livestream -r name",
    )
    parser.add_argument("--archive-root", dest="archive_root", default=".")
    sub = parser.add_subparsers(dest="command", required=True)

    p = sub.add_parser("get_submissions",
                       aliases=["get-submissions", "timesearch"],
                       help="collect submissions")
    _add_entity_args(p)
    p.add_argument("-l", "--lower", dest="lower", default="update")
    p.add_argument("-up", "--upper", dest="upper", default=None)
    p.add_argument("--dont_supplement", "--dont-supplement",
                   dest="do_supplement", action="store_false")
    p.add_argument("--supplement-source", dest="supplement_source",
                   default=None,
                   help="NDJSON file of live item copies for enrichment")
    p.add_argument("--source", dest="source", default=None)
    p.add_argument("--source-url", dest="source_url", default=None)
    p.set_defaults(func=cmd_get_submissions)

    p = sub.add_parser("get_comments",
                       aliases=["get-comments", "commentaugment"],
                       help="collect comments")
    _add_entity_args(p)
    p.add_argument("-s", "--specific", dest="specific_submission", default=None)
    p.add_argument("-l", "--lower", dest="lower", default="update")
    p.add_argument("-up", "--upper", dest="upper", default=None)
    p.add_argument("--dont_supplement", "--dont-supplement",
                   dest="do_supplement", action="store_false")
    p.add_argument("--supplement-source", dest="supplement_source",
                   default=None,
                   help="NDJSON file of live item copies for enrichment")
    p.add_argument("--source", dest="source", default=None)
    p.add_argument("--source-url", dest="source_url", default=None)
    p.set_defaults(func=cmd_get_comments)

    p = sub.add_parser("livestream", help="continuous ingest")
    _add_entity_args(p)
    p.add_argument("-1", "--once", dest="once", action="store_true")
    p.add_argument("-w", "--wait", "--sleepy", dest="sleepy", type=int, default=30)
    p.add_argument("-l", "--limit", dest="limit", type=int, default=None)
    p.add_argument("-s", "--submissions", dest="do_submissions",
                   action="store_true",
                   help="collect submissions (default: both kinds when "
                        "neither -s nor -c is given)")
    p.add_argument("-c", "--comments", dest="do_comments",
                   action="store_true",
                   help="collect comments (default: both kinds when "
                        "neither -s nor -c is given)")
    p.add_argument("--source", dest="source", required=True,
                   help="NDJSON drop directory (streaming source)")
    p.set_defaults(func=cmd_livestream, parser=p)

    p = sub.add_parser("ingest_jsonfile", help="ingest an NDJSON archive file")
    p.add_argument("json_file")
    _add_entity_args(p)
    p.set_defaults(func=cmd_ingest_jsonfile)

    p = sub.add_parser("breakdown", help="per-author counts JSON")
    _add_entity_args(p)
    # type=str.lower: the reference lowercases the sort before its
    # sorter lookup (breakdown.py:77), so '--sort NAME' is valid input
    p.add_argument("--sort", dest="sort", default=None, type=str.lower,
                   choices=["name", "submissions", "comments", "total_posts"])
    p.set_defaults(func=cmd_breakdown)

    p = sub.add_parser("index", aliases=["redmash"],
                       help="sorted listing export")
    _add_entity_args(p)
    p.add_argument("--all", dest="do_all", action="store_true")
    p.add_argument("--author", dest="do_author", action="store_true")
    p.add_argument("--date", dest="do_date", action="store_true")
    p.add_argument("--flair", dest="do_flair", action="store_true")
    p.add_argument("--html", dest="html", action="store_true")
    p.add_argument("--score", dest="do_score", action="store_true")
    p.add_argument("--sub", dest="do_subreddit", action="store_true")
    p.add_argument("--title", dest="do_title", action="store_true")
    p.add_argument("--offline", dest="offline", action="store_true")
    p.add_argument("--score_threshold", "--score-threshold",
                   dest="score_threshold", type=int, default=0)
    p.set_defaults(func=cmd_index, parser=p)

    p = sub.add_parser("offline_reading", aliases=["offline-reading"],
                       help="thread HTML export")
    _add_entity_args(p)
    p.add_argument("-s", "--specific", dest="specific_submission", default=None)
    p.add_argument("--checkpoint-dir", dest="checkpoint_dir", default=None,
                   help="durable checkpoint dir for mega-thread walks "
                        "(cluster runs: survives executor loss)")
    p.add_argument("--max-thread-rows", dest="max_thread_rows", type=int,
                   default=None,
                   help="per-thread comment bound for the fused arm "
                        "(default trees.DEFAULT_MAX_THREAD_ROWS); "
                        "threads past it auto-route to the streamed arm")
    p.add_argument("--incremental", action="store_true",
                   help="re-render only threads whose fingerprint "
                        "changed since the last run (manifest in "
                        "out_dir/_page_manifest)")
    p.set_defaults(func=cmd_offline_reading)

    p = sub.add_parser("merge_db", aliases=["merge-db", "mergedb"],
                       help="insert-only archive merge")
    p.add_argument("--from", dest="from_db_path", required=True)
    p.add_argument("--to", dest="to_db_path", required=True)
    p.set_defaults(func=cmd_merge_db)

    p = sub.add_parser("get_wiki", aliases=["get-wiki", "getwiki"],
                       help="wiki page dump")
    _add_entity_args(p)
    p.add_argument("--pages-json", dest="pages_json", required=True,
                   help="JSON file: {page_name: markdown_text}")
    p.set_defaults(func=cmd_get_wiki)

    p = sub.add_parser("get_styles", aliases=["get-styles", "getstyles"],
                       help="stylesheet/image dump")
    _add_entity_args(p)
    p.add_argument("--css", dest="css", default=None)
    p.add_argument("--images", dest="images", default=None)
    p.set_defaults(func=cmd_get_styles)

    p = sub.add_parser("profile",
                       help="[extension] per-column data-quality profile")
    p.add_argument("--input", dest="input", required=True,
                   help="parquet table to profile")
    p.set_defaults(func=cmd_profile)

    p = sub.add_parser("ingest_corpus",
                       help="[extension] drop-dir stream -> deduped corpus")
    p.add_argument("--source", dest="source", required=True)
    p.add_argument("--corpus", dest="corpus", required=True)
    p.add_argument("--neardup", dest="neardup", type=float, default=None)
    p.add_argument("-1", "--once", dest="once", action="store_true")
    p.add_argument("-w", "--wait", dest="sleepy", type=int, default=30)
    p.add_argument("--lease-timeout", dest="lease_timeout", type=float,
                   default=None, metavar="SEC",
                   help="serialize concurrent writers on this corpus via "
                        "a store lease (seconds to wait for the current "
                        "holder; default: optimistic CAS only)")
    p.set_defaults(func=cmd_ingest_corpus)

    p = sub.add_parser("curate",
                       help="[extension] curation ladder over a document table")
    p.add_argument("--input", dest="input", required=True,
                   help="parquet dir or NDJSON file of documents")
    p.add_argument("--output", dest="output", required=True)
    p.add_argument("--benchmark", dest="benchmark", default=None)
    p.add_argument("--neardup", dest="neardup", type=float, default=0.7)
    p.add_argument("--paragraph-max-df", dest="paragraph_max_df",
                   type=int, default=None)
    p.add_argument("--span-n", dest="span_n", type=int, default=None,
                   help="repeated-span removal window (tokens); off when "
                        "unset")
    p.add_argument("--span-stride", dest="span_stride", type=int,
                   default=None, help="window stride (default: span-n)")
    p.add_argument("--line-dedup", dest="line_dedup", action="store_true",
                   help="drop exact-duplicate non-blank lines inside "
                        "each document (finest-grain surgery rung)")
    p.add_argument("--lm-ref", dest="lm_ref", default=None,
                   help="trusted reference corpus (parquet/NDJSON) for "
                        "the CCNet-style perplexity gate")
    p.add_argument("--lm-ppl-max", dest="lm_ppl_max", type=float,
                   default=None,
                   help="with --lm-ref: drop documents whose unigram-LM "
                        "perplexity exceeds this bound")
    p.add_argument("--clf-pos", dest="clf_pos", default=None,
                   help="positive (quality) labeled sample for the "
                        "trained-classifier gate (parquet/NDJSON)")
    p.add_argument("--clf-neg", dest="clf_neg", default=None,
                   help="negative (reject) labeled sample for the "
                        "trained-classifier gate")
    p.add_argument("--clf-min-score", dest="clf_min_score", type=float,
                   default=None,
                   help="with --clf-pos/--clf-neg: drop documents whose "
                        "classifier score falls below this bound")
    p.add_argument("--dsir-target", dest="dsir_target", default=None,
                   help="target-distribution corpus (parquet/NDJSON) for "
                        "DSIR importance resampling (Xie et al. 2023)")
    p.add_argument("--dsir-k", dest="dsir_k", type=int, default=None,
                   help="with --dsir-target: keep the k most target-like "
                        "documents (deterministic Gumbel top-k)")
    p.add_argument("--stage-dir", dest="stage_dir", default=None,
                   help="checkpoint each rung here; a killed run resumes "
                        "from its last committed rung")
    p.add_argument("--no-resume", dest="no_resume", action="store_true",
                   help="with --stage-dir: wipe committed rungs and rerun")
    p.add_argument("--lease-timeout", dest="lease_timeout", type=float,
                   default=None,
                   help="with --stage-dir: serialize concurrent runners "
                        "via a writer lease (seconds to wait)")
    p.set_defaults(func=cmd_curate)

    p = sub.add_parser(
        "compact",
        help="[extension] small-file compaction: a CorpusStore "
        "(--corpus, consolidates batch dirs + vacuums superseded "
        "indexes) or a flat parquet table (--table, optional "
        "--cluster col[,col])",
    )
    g = p.add_mutually_exclusive_group(required=True)
    g.add_argument("--corpus", dest="corpus", default=None)
    g.add_argument("--table", dest="table", default=None)
    p.add_argument("--target-mb", dest="target_mb", type=int, default=128)
    p.add_argument("--cluster", dest="cluster", default=None)
    p.set_defaults(func=cmd_compact)

    return parser


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.func(args)


if __name__ == "__main__":  # pragma: no cover
    sys.exit(main())
