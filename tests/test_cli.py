"""CLI front-end tests: every reference subcommand
(/root/reference/timesearch.py:22-60) runs end-to-end against a temp
archive through ``cli.main`` — the same code path as
``python -m timesearch_spark <cmd>``."""

from __future__ import annotations

import json
import os

import pytest

from timesearch_spark import cli


def _sub(i, **kw):
    d = {
        "id": f"s{i}", "name": f"t3_s{i}", "created_utc": 100 + i,
        "author": f"user{i % 3}", "subreddit": "t", "title": f"post {i}",
        "selftext": f"text {i}", "score": i, "is_self": False,
        "over_18": False, "url": f"https://x/{i}", "num_comments": 0,
    }
    d.update(kw)
    return d


def _com(i, **kw):
    d = {
        "id": f"c{i}", "name": f"t1_c{i}", "created_utc": 200 + i,
        "author": f"user{i % 3}", "subreddit": "t", "body": f"reply {i}",
        "score": i, "parent_id": "t3_s0", "link_id": "t3_s0",
    }
    d.update(kw)
    return d


def _write_jsonl(path, objs):
    path.write_text("\n".join(json.dumps(o) for o in objs) + "\n")
    return str(path)


@pytest.fixture()
def root(spark, tmp_path):
    """Archive root pre-seeded via get_submissions + get_comments —
    exercising those two subcommands is part of the setup."""
    subs = _write_jsonl(tmp_path / "subs.jsonl", [_sub(i) for i in range(4)])
    coms = _write_jsonl(tmp_path / "coms.jsonl", [_com(i) for i in range(6)])
    rootdir = str(tmp_path / "archives")
    assert cli.main(["--archive-root", rootdir, "get_submissions",
                     "-r", "t", "--lower", "0", "--source", subs]) == 0
    assert cli.main(["--archive-root", rootdir, "get_comments",
                     "-r", "t", "--lower", "0", "--source", coms]) == 0
    return rootdir


def _archive_dir(root):
    return os.path.join(root, "subreddits", "t")


def test_get_submissions_and_comments_populate_archive(spark, root):
    from timesearch_spark.api import Archive

    ar = Archive(spark, _archive_dir(root))
    assert ar.submissions.snapshot().count() == 4
    assert ar.comments.snapshot().count() == 6


def test_get_submissions_update_resume(spark, root, tmp_path):
    more = _write_jsonl(tmp_path / "more.jsonl", [_sub(i) for i in range(6)])
    assert cli.main(["--archive-root", root, "get_submissions",
                     "-r", "t", "--source", more]) == 0  # default lower=update
    from timesearch_spark.api import Archive

    assert Archive(spark, _archive_dir(root)).submissions.snapshot().count() == 6


def test_breakdown_writes_json(spark, root):
    # files land in the breakdown/ sibling dir (reference tsdb.py:187)
    bdir = os.path.join(_archive_dir(root), "breakdown")
    assert cli.main(["--archive-root", root, "breakdown", "-r", "t"]) == 0
    out = os.path.join(bdir, "t_breakdown.json")
    data = json.loads(open(out).read())
    assert sum(v["comments"] for v in data.values()) == 6
    assert sum(v["submissions"] for v in data.values()) == 4
    # sorted variant: the reference's pretty one-line-per-key format
    assert cli.main(["--archive-root", root, "breakdown", "-r", "t",
                     "--sort", "comments"]) == 0
    sorted_out = os.path.join(bdir, "t_breakdown_comments.json")
    sdata = json.loads(open(sorted_out).read())
    counts = [v["comments"] for v in sdata.values()]
    assert counts == sorted(counts, reverse=True)


def test_breakdown_sharded_without_sort_is_a_usage_error(root, capsys):
    """The breakdown has one file writer, so there is no ``--sharded``
    form: argparse rejects the flag, with or without ``--sort``, as a
    usage error (exit 2) before any archive is opened."""
    for extra in ([], ["--sort", "comments"]):
        with pytest.raises(SystemExit) as exc:
            cli.main(["--archive-root", root, "breakdown", "-r", "t",
                      "--sharded", *extra])
        assert exc.value.code == 2  # argparse usage-error exit
        assert "unrecognized arguments: --sharded" in capsys.readouterr().err


def test_breakdown_stream_writes_identical_unsorted_file(spark, root):
    """The CLI's unsorted breakdown streams through the one file writer
    and must write the reference's single-line ``json.dumps`` of the
    counts (breakdown.py:88): the same bytes as a test-local dump of the
    archive's breakdown rows, no trailing newline."""
    from timesearch_spark.api import Archive
    from timesearch_spark.operators.breakdown import breakdown

    assert cli.main(["--archive-root", root, "breakdown", "-r", "t"]) == 0
    got = open(os.path.join(_archive_dir(root), "breakdown",
                            "t_breakdown.json"), "rb").read()
    ar = Archive(spark, _archive_dir(root))
    bd = breakdown(ar.submissions.snapshot(), ar.comments.snapshot(),
                   key="author")
    twin = json.dumps({r["author"]: {"submissions": r["submissions"],
                                     "comments": r["comments"]}
                       for r in bd.collect()})
    assert got.decode("utf-8") == twin and not got.endswith(b"\n")


def test_breakdown_stream_conflicts_are_usage_errors(root, capsys):
    """There is no separate ``--stream`` form either — every breakdown
    file streams through the one writer — so the flag is a usage error
    alone and with ``--sort``/``--sharded``."""
    for extra in ([], ["--sort", "name"], ["--sort", "name", "--sharded"]):
        with pytest.raises(SystemExit) as exc:
            cli.main(["--archive-root", root, "breakdown", "-r", "t",
                      "--stream", *extra])
        assert exc.value.code == 2
        assert "--stream" in capsys.readouterr().err


def test_relative_archive_root_exports(spark, tmp_path, monkeypatch):
    """The CLI default --archive-root is '.', so archive paths are often
    relative — and the export writers resolve them through pyarrow,
    which rejects a relative path.  Page and breakdown exports must
    land under the archive.  The working directory is pinned to the
    JVM's, as in a fresh CLI process: Spark resolves the stores'
    relative paths against that one."""
    monkeypatch.chdir(spark._jvm.System.getProperty("user.dir"))
    rel = os.path.relpath(tmp_path / "archives")
    assert not os.path.isabs(rel)
    subs = _write_jsonl(tmp_path / "subs.jsonl", [_sub(i) for i in range(2)])
    coms = _write_jsonl(tmp_path / "coms.jsonl", [_com(i) for i in range(3)])
    assert cli.main(["--archive-root", rel, "get_submissions",
                     "-r", "t", "--lower", "0", "--source", subs]) == 0
    assert cli.main(["--archive-root", rel, "get_comments",
                     "-r", "t", "--lower", "0", "--source", coms]) == 0
    archive = tmp_path / "archives" / "subreddits" / "t"

    assert cli.main(["--archive-root", rel, "offline_reading", "-r", "t"]) == 0
    assert sorted(os.listdir(archive / "offline_reading")) == [
        "t3_s0.html", "t3_s1.html"]
    assert cli.main(["--archive-root", rel, "breakdown", "-r", "t"]) == 0
    data = json.loads((archive / "breakdown" / "t_breakdown.json").read_text())
    assert sum(v["comments"] for v in data.values()) == 3
    assert sum(v["submissions"] for v in data.values()) == 2


def test_offline_reading_has_no_stream_flag(tmp_path, capsys):
    """Threads past --max-thread-rows already take the streamed arm, so
    offline_reading has no flag to force it."""
    with pytest.raises(SystemExit) as exc:
        cli.main(["--archive-root", str(tmp_path), "offline_reading",
                  "-r", "t", "--stream"])
    assert exc.value.code == 2
    assert "--stream" in capsys.readouterr().err


def test_index_listing_flags(spark, root, capsys):
    assert cli.main(["--archive-root", root, "index", "-r", "t",
                     "--score", "--html"]) == 0
    # listings land in the index/ sibling dir (reference tsdb.py:189)
    files = os.listdir(os.path.join(_archive_dir(root), "index"))
    assert any("score" in f for f in files)
    # one listing writer: there is no --sharded form
    with pytest.raises(SystemExit) as exc:
        cli.main(["--archive-root", root, "index", "-r", "t", "--score",
                  "--sharded"])
    assert exc.value.code == 2
    assert "unrecognized arguments: --sharded" in capsys.readouterr().err


def test_index_sharded_concatenates_to_single_file(spark, root):
    """``index`` streams the sort's ordered partitions, in partition
    order, into one listing file: with coalescing off the rows span
    several shards, and the file is byte-identical to the one written
    from a single partition.  No shard directory is left beside it."""
    adir = os.path.join(_archive_dir(root), "index")
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = (spark.conf.get(key), spark.conf.get("spark.sql.shuffle.partitions"))
    written = {}
    try:
        spark.conf.set(key, "false")
        for parts in ("8", "1"):
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            assert cli.main(["--archive-root", root, "index", "-r", "t",
                             "--score"]) == 0
            listings = [f for f in os.listdir(adir) if "score" in f]
            assert len(listings) == 1 and listings[0].endswith("_score.txt")
            with open(os.path.join(adir, listings[0])) as f:
                written[parts] = f.read()
    finally:
        spark.conf.set(key, prev[0])
        spark.conf.set("spark.sql.shuffle.partitions", prev[1])
    assert written["8"] == written["1"]
    lines = written["8"].splitlines()
    assert [int(ln.rsplit("(+", 1)[1].rstrip(")")) for ln in lines] \
        == [3, 2, 1, 0]


def test_index_no_sorts_selected_is_an_error(root, capsys):
    """Reference parity (index.py:94-95): no sort flags — or only sorts
    gated off for this archive kind — raises 'No sorts selected!'; the
    old behaviour silently defaulted to a date listing the reference
    never writes."""
    with pytest.raises(SystemExit) as exc:
        cli.main(["--archive-root", root, "index", "-r", "t"])
    assert exc.value.code == 2
    assert "No sorts selected" in capsys.readouterr().err

    # user archive asking ONLY for the (subreddit-archive-only) author
    # listing: everything gates off -> same error, not a date listing
    with pytest.raises(SystemExit):
        cli.main(["--archive-root", root, "index", "-u", "me", "--author"])


def test_index_all_writes_subreddit_listing_for_user_archives_only(
    spark, root, tmp_path
):
    """Reference gate (index.py:84-86): the 'subreddit ASC' listing is a
    USER-archive property (which subreddit each post landed in).
    `index --all` on a subreddit archive must not crash (r10 bug: the
    ordering was missing from INDEX_ORDERINGS entirely) nor emit the
    file; on a user archive it must emit it, subreddit-ordered."""
    # subreddit archive: --all runs clean, no _subreddit file
    assert cli.main(["--archive-root", root, "index", "-r", "t",
                     "--all"]) == 0
    files = os.listdir(os.path.join(_archive_dir(root), "index"))
    assert not any("_subreddit" in f for f in files)
    for o in ("_date", "_title", "_score", "_author", "_flair"):
        assert any(o in f for f in files), f"missing {o} listing"

    # user archive: --all includes the subreddit-ordered listing
    subs = _write_jsonl(
        tmp_path / "usubs.jsonl",
        [_sub(0, subreddit="zzz", author="me"),
         _sub(1, subreddit="aaa", author="me"),
         _sub(2, subreddit="mmm", author="me")],
    )
    uroot = str(tmp_path / "uarch")
    assert cli.main(["--archive-root", uroot, "get_submissions", "-u", "me",
                     "--lower", "0", "--source", subs]) == 0
    assert cli.main(["--archive-root", uroot, "index", "-u", "me",
                     "--sub"]) == 0
    udir = os.path.join(uroot, "users", "me", "index")
    listing = [f for f in os.listdir(udir) if "_subreddit" in f]
    assert listing, "user archive --sub must write the subreddit listing"
    lines = open(os.path.join(udir, listing[0])).read().splitlines()
    # the three posts appear ordered by their subreddit (aaa, mmm, zzz)
    assert [s for ln in lines for s in ("post 1", "post 2", "post 0")
            if s in ln] == ["post 1", "post 2", "post 0"]

    # twin gate (index.py:79-81): the AUTHOR listing is a subreddit-
    # archive property — --all on a user archive must not emit one (it
    # would be trivially single-valued: the archive's own user)
    assert cli.main(["--archive-root", uroot, "index", "-u", "me",
                     "--all"]) == 0
    ufiles = os.listdir(udir)
    assert not any("_author" in f for f in ufiles)
    for o in ("_date", "_title", "_score", "_subreddit", "_flair"):
        assert any(o in f for f in ufiles), f"missing {o} listing"


def test_offline_reading_renders_threads(spark, root):
    assert cli.main(["--archive-root", root, "offline_reading",
                     "-r", "t"]) == 0
    out = os.path.join(_archive_dir(root), "offline_reading")
    assert len(os.listdir(out)) >= 1


def test_merge_db_insert_only(spark, root, tmp_path, capsys):
    other = _write_jsonl(tmp_path / "other.jsonl",
                         [_sub(i) for i in range(2, 8)])
    assert cli.main(["--archive-root", root, "get_submissions", "-r", "t2",
                     "--lower", "0", "--source", other]) == 0
    assert cli.main(["--archive-root", root, "merge_db",
                     "--from", os.path.join(root, "subreddits", "t2"),
                     "--to", _archive_dir(root)]) == 0
    counts = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert counts["submissions"] == 4  # s4..s7 were new; s2, s3 already present
    from timesearch_spark.api import Archive

    assert Archive(spark, _archive_dir(root)).submissions.snapshot().count() == 8


def test_ingest_jsonfile(spark, root, tmp_path, capsys):
    dump = _write_jsonl(tmp_path / "dump.jsonl",
                        [_sub(0), _sub(9), _com(9)])
    assert cli.main(["--archive-root", root, "ingest_jsonfile", dump,
                     "-r", "t"]) == 0
    counts = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert counts["new_submissions"] == 1  # s0 already present
    assert counts["new_comments"] == 1


def test_livestream_once(spark, root, tmp_path):
    drop = tmp_path / "drop"
    drop.mkdir()
    _write_jsonl(drop / "batch1.jsonl", [_sub(20), _com(20)])
    assert cli.main(["--archive-root", root, "livestream", "-r", "t",
                     "--once", "--source", str(drop)]) == 0
    from timesearch_spark.api import Archive

    ar = Archive(spark, _archive_dir(root))
    assert ar.submissions.snapshot().filter("idstr = 't3_s20'").count() == 1
    assert ar.comments.snapshot().filter("idstr = 't1_c20'").count() == 1


def test_livestream_multi_name_round_robin(spark, tmp_path):
    """Reference multi-name livestream (livestream.py:16-23,86-99):
    '-r a+b' runs one per-entity generator each — here one SCOPED query
    per archive over the shared drop directory, so each archive
    receives only its own subreddit's rows."""
    drop = tmp_path / "drop_multi"
    drop.mkdir()
    _write_jsonl(drop / "mix.jsonl", [
        _sub(40, subreddit="aaa"), _com(40, subreddit="aaa"),
        _sub(41, subreddit="bbb"), _com(41, subreddit="bbb"),
        _sub(42, subreddit="ccc"),  # third entity: not collected
    ])
    root = str(tmp_path / "multi_archives")
    assert cli.main(["--archive-root", root, "livestream", "-r", "aaa+bbb",
                     "--once", "--source", str(drop)]) == 0
    from timesearch_spark.api import Archive

    a = Archive(spark, os.path.join(root, "subreddits", "aaa"))
    b = Archive(spark, os.path.join(root, "subreddits", "bbb"))
    assert a.submissions.snapshot().filter("idstr = 't3_s40'").count() == 1
    assert a.submissions.snapshot().count() == 1  # bbb/ccc rows excluded
    assert a.comments.snapshot().filter("idstr = 't1_c40'").count() == 1
    assert b.submissions.snapshot().filter("idstr = 't3_s41'").count() == 1
    assert b.submissions.snapshot().count() == 1
    assert not os.path.exists(os.path.join(root, "subreddits", "ccc"))

    # neither -r nor -u: a usage error, not a silent no-op loop
    with pytest.raises(SystemExit):
        cli.main(["--archive-root", root, "livestream", "--once",
                  "--source", str(drop)])


def test_livestream_kind_selection(spark, root, tmp_path):
    """Reference -s/-c (timesearch.py:265-305): collect only the chosen
    kind; neither flag = both (pinned by test_livestream_once above).
    A comments-only cycle must leave the submissions store untouched."""
    drop = tmp_path / "drop_c"
    drop.mkdir()
    _write_jsonl(drop / "b.jsonl", [_sub(30), _com(30)])
    assert cli.main(["--archive-root", root, "livestream", "-r", "t",
                     "--once", "-c", "--source", str(drop)]) == 0
    from timesearch_spark.api import Archive

    ar = Archive(spark, _archive_dir(root))
    assert ar.comments.snapshot().filter("idstr = 't1_c30'").count() == 1
    assert ar.submissions.snapshot().filter("idstr = 't3_s30'").count() == 0

    # same drop dir: the archive's streaming checkpoint pins the source
    # path, so the second cycle appends a new file there instead
    _write_jsonl(drop / "b2.jsonl", [_sub(31), _com(31)])
    assert cli.main(["--archive-root", root, "livestream", "-r", "t",
                     "--once", "-s", "--source", str(drop)]) == 0
    ar = Archive(spark, _archive_dir(root))
    assert ar.submissions.snapshot().filter("idstr = 't3_s31'").count() == 1
    assert ar.comments.snapshot().filter("idstr = 't1_c31'").count() == 0


def test_get_wiki_and_styles(spark, root, tmp_path):
    pages = tmp_path / "pages.json"
    pages.write_text(json.dumps({
        "index": "# hello <b>&</b>", "rules/one": "be nice",
        "config/stylesheet": ".css {}",  # get_wiki.py:15-16: NOT a wiki page
    }))
    assert cli.main(["--archive-root", root, "get_wiki", "-r", "t",
                     "--pages-json", str(pages)]) == 0
    wiki = os.path.join(_archive_dir(root), "wiki")
    assert os.path.exists(os.path.join(wiki, "index.md"))
    assert os.path.exists(os.path.join(wiki, "rules", "one.html"))
    assert not os.path.exists(os.path.join(wiki, "config"))
    # the md file is raw; the html file is escape-then-markdown
    # (get_wiki.py:24-25, incl. the reference's '&rt;' [sic] escape)
    assert open(os.path.join(wiki, "index.md")).read() == "# hello <b>&</b>"
    html = open(os.path.join(wiki, "index.html")).read()
    assert "<h1>" in html and "&lt;b&rt;" in html and "<b>" not in html

    css = tmp_path / "style.css"
    css.write_text("body { color: red }")
    imgdir = tmp_path / "imgs"
    imgdir.mkdir()
    (imgdir / "logo.png").write_bytes(b"\x89PNG fake")
    assert cli.main(["--archive-root", root, "get_styles", "-r", "t",
                     "--css", str(css), "--images", str(imgdir)]) == 0
    styles = os.path.join(_archive_dir(root), "styles")
    assert os.path.exists(os.path.join(styles, "stylesheet.css"))
    assert os.path.exists(os.path.join(styles, "logo.png"))


def test_entity_arg_validation(root):
    with pytest.raises(SystemExit):
        cli.main(["--archive-root", root, "breakdown"])  # no -r / -u
    with pytest.raises(SystemExit):
        cli.main(["--archive-root", root, "breakdown", "-r", "a", "-u", "b"])


def test_http_adapter_shape():
    """The HTTP fetch_page adapter (pushshift.py:148-164's URL shape) with
    an injected opener — no network needed."""
    from timesearch_spark.sources.adapters import http_fetch_page

    seen = []

    def opener(url):
        seen.append(url)
        return json.dumps({"data": [
            {"id": "b", "created_utc": 2}, {"id": "a", "created_utc": 1},
        ]}).encode()

    fetch = http_fetch_page("https://h/s?after={after}&before={before}&limit={limit}",
                            opener=opener)
    page = fetch(0, None, 50)
    assert seen == ["https://h/s?after=0&before=&limit=50"]
    assert [it["id"] for it in page] == ["a", "b"]  # sorted asc


def test_upper_bound_limits_backfill(spark, tmp_path):
    """--upper is the reference's -up exclusive ceiling
    (timesearch.py:563-570): items at created_utc >= upper must not
    ingest."""
    subs = _write_jsonl(tmp_path / "u.jsonl", [_sub(i) for i in range(6)])
    root = str(tmp_path / "arch")
    assert cli.main(["--archive-root", root, "get_submissions", "-r", "up",
                     "--lower", "0", "--upper", "103", "--source", subs]) == 0
    from timesearch_spark.api import Archive

    ar = Archive(spark, os.path.join(root, "subreddits", "up"))
    got = sorted(r["idstr"] for r in ar.submissions.snapshot().collect())
    assert got == ["t3_s0", "t3_s1", "t3_s2"]  # created 100..102 < 103


def test_user_archive_breakdown_groups_by_subreddit(spark, tmp_path):
    """breakdown -u groups by subreddit (which subreddits the user posts
    to), mirroring breakdown.py:29-34 — not by author."""
    subs = _write_jsonl(
        tmp_path / "usubs.jsonl",
        [_sub(0, subreddit="aaa", author="me"),
         _sub(1, subreddit="bbb", author="me"),
         _sub(2, subreddit="aaa", author="me")],
    )
    root = str(tmp_path / "arch")
    assert cli.main(["--archive-root", root, "get_submissions", "-u", "me",
                     "--lower", "0", "--source", subs]) == 0
    assert cli.main(["--archive-root", root, "breakdown", "-u", "me"]) == 0
    out = os.path.join(root, "users", "me", "breakdown", "me_breakdown.json")
    data = json.loads(open(out).read())
    assert data["aaa"]["submissions"] == 2
    assert data["bbb"]["submissions"] == 1


def test_offline_reading_specific_submission(spark, root, tmp_path):
    """-s renders ONE thread (offline_reading.py:393-416); the filter
    lands before the forest walk."""
    extra = _write_jsonl(tmp_path / "x.jsonl",
                         [_sub(30), _com(30, parent_id="t3_s30", link_id="t3_s30")])
    assert cli.main(["--archive-root", root, "ingest_jsonfile", extra,
                     "-r", "t"]) == 0
    assert cli.main(["--archive-root", root, "offline_reading", "-r", "t",
                     "-s", "s30"]) == 0
    out = os.path.join(_archive_dir(root), "offline_reading")
    assert os.listdir(out) == ["t3_s30.html"]


def test_help_never_starts_spark(monkeypatch):
    """Subcommand gateways import lazily (timesearch.py:16-20's rationale):
    --help must not pay engine start-up."""
    import timesearch_spark.session as sess

    def boom(*a, **kw):
        raise AssertionError("--help started a SparkSession")

    monkeypatch.setattr(sess, "get_spark", boom)
    for argv in (["--help"], ["get_submissions", "--help"], ["index", "--help"]):
        with pytest.raises(SystemExit) as e:
            cli.main(argv)
        assert e.value.code == 0


def test_subcommand_aliases_match_reference(monkeypatch):
    """The reference registers aliases — including the project's legacy
    command names (timesearch.py: 'timesearch', 'commentaugment',
    'redmash', 'mergedb', ...) — so a reference user's scripts keep
    working verbatim."""
    for alias in ("timesearch", "get-submissions", "get-comments",
                  "commentaugment", "redmash", "offline-reading",
                  "merge-db", "mergedb", "get-wiki", "getwiki",
                  "get-styles", "getstyles"):
        with pytest.raises(SystemExit) as e:
            cli.main([alias, "--help"])
        assert e.value.code == 0, alias


def test_get_comments_specific_submission_stamps_augmented(spark, root, tmp_path, capsys):
    """-s scans one thread regardless of age and stamps augmented_at
    (get_comments.py:92-100) so later general resumes don't skip history."""
    # the dump holds TWO threads: -s must ingest only the stamped one
    # (the reference's thread scan reads a thread-scoped endpoint,
    # get_comments.py:70 — with an injected source the api enforces it)
    coms = _write_jsonl(tmp_path / "old.jsonl",
                        [_com(50, created_utc=150, parent_id="t3_s1", link_id="t3_s1"),
                         _com(51, created_utc=151, parent_id="t3_s0", link_id="t3_s0")])
    assert cli.main(["--archive-root", root, "get_comments", "-r", "t",
                     "-s", "t3_s1", "--source", coms]) == 0
    from timesearch_spark.api import Archive

    ar = Archive(spark, _archive_dir(root))
    assert ar.comments.snapshot().filter("idstr = 't1_c50'").count() == 1
    assert ar.comments.snapshot().filter("idstr = 't1_c51'").count() == 0
    aug = ar.submissions.snapshot().filter("idstr = 't3_s1'").first()
    assert aug["augmented_at"] is not None


def test_ingest_corpus_subcommand(spark, tmp_path, capsys):
    drop = tmp_path / "drop"
    drop.mkdir()
    docs = [
        {"doc_id": 1, "source": "w", "lang": "en", "text": "alpha doc"},
        {"doc_id": 2, "source": "w", "lang": "en", "text": "alpha doc"},
        {"doc_id": 3, "source": "w", "lang": "en", "text": "beta doc"},
    ]
    (drop / "a.jsonl").write_text("\n".join(json.dumps(d) for d in docs) + "\n")
    corpus = str(tmp_path / "corpus")
    assert cli.main(["ingest_corpus", "--source", str(drop),
                     "--corpus", corpus, "--once"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["docs"] == 2  # exact dup dropped


@pytest.mark.slow
def test_curate_subcommand(spark, tmp_path, capsys):
    docs = [
        {"doc_id": 1, "source": "w", "lang": "en",
         "text": "the cat sat on the mat and it is a fine day for cats to sit"},
        {"doc_id": 2, "source": "w", "lang": "en",
         "text": "THE CAT SAT ON THE MAT AND IT IS A FINE DAY FOR CATS TO SIT"},
        {"doc_id": 3, "source": "w", "lang": "en", "text": ""},
    ]
    src = tmp_path / "docs.jsonl"
    src.write_text("\n".join(json.dumps(d) for d in docs) + "\n")
    outdir = str(tmp_path / "curated")
    assert cli.main(["curate", "--input", str(src), "--output", outdir]) == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["kept"] == 1  # dup collapsed, empty doc gated
    kept = spark.read.parquet(outdir).collect()
    assert kept[0]["doc_id"] == 1 and kept[0]["split"] in ("train", "val", "test")


@pytest.mark.slow
def test_curate_subcommand_lm_flags(spark, tmp_path, capsys):
    """--lm-ref/--lm-ppl-max run the perplexity rung end-to-end from
    the CLI (heuristic-proof soup dropped, lm_gated in the rung audit),
    compose with --stage-dir (the rung is committed like any other),
    and half-specified flags are usage errors."""
    import pytest

    clean = "the cat sat on the mat and it is a fine day for cats to sit"
    docs = [
        {"doc_id": 1, "source": "w", "lang": "en", "text": clean},
        {"doc_id": 9, "source": "w", "lang": "en",
         "text": "the xqj of zvv and kpl is wmt the rrq of bbn and qpw"},
    ]
    src = tmp_path / "docs.jsonl"
    src.write_text("\n".join(json.dumps(d) for d in docs) + "\n")
    ref = tmp_path / "ref.jsonl"
    ref.write_text("\n".join(json.dumps(
        {"doc_id": 100 + i, "source": "w", "lang": "en", "text": clean})
        for i in range(10)) + "\n")
    outdir = str(tmp_path / "curated")

    assert cli.main(["curate", "--input", str(src), "--output", outdir,
                     "--lm-ref", str(ref), "--lm-ppl-max", "25"]) == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["kept"] == 1
    assert "lm_gated" in res["rungs"]
    assert [r["doc_id"] for r in spark.read.parquet(outdir).collect()] == [1]

    with pytest.raises(SystemExit):
        cli.main(["curate", "--input", str(src), "--output", outdir,
                  "--lm-ref", str(ref)])

    # r12: the rung composes with --stage-dir — committed like any other
    out2 = str(tmp_path / "curated_staged")
    stage = tmp_path / "stage"
    assert cli.main(["curate", "--input", str(src), "--output", out2,
                     "--lm-ref", str(ref), "--lm-ppl-max", "25",
                     "--stage-dir", str(stage)]) == 0
    res2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res2["kept"] == 1
    assert res2["rungs"].get("lm_gated") == 1
    assert (stage / "lm_gated" / "_SUCCESS").exists()
    assert [r["doc_id"] for r in spark.read.parquet(out2).collect()] == [1]


def test_profile_subcommand(spark, tmp_path, capsys):
    src = str(tmp_path / "t.parquet")
    spark.createDataFrame([(1, "a"), (2, None)], "k long, s string") \
        .write.parquet(src)
    assert cli.main(["profile", "--input", src]) == 0
    rows = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    by_col = {r["column"]: r for r in rows}
    assert by_col["s"]["n_null"] == 1 and by_col["k"]["n_rows"] == 2


def test_compact_subcommand(spark, tmp_path, capsys):
    # flat-table form
    src = str(tmp_path / "t")
    spark.range(1000).repartition(20).write.parquet(src)
    assert cli.main(["compact", "--table", src, "--cluster", "id"]) == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["files_after"] < 20
    assert spark.read.parquet(src).count() == 1000

    # corpus-store form
    from timesearch_spark.streaming.corpus import CorpusStore

    store = CorpusStore(spark, str(tmp_path / "c"))
    for i in range(2):
        b = spark.createDataFrame(
            [(i * 10, "w", "en", f"unique doc {i}")],
            "doc_id long, source string, lang string, text string",
        )
        store.ingest_batch(b)
    assert cli.main(["compact", "--corpus", str(tmp_path / "c")]) == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["batches_after"] == 1 and res["vacuumed"] >= 1


def test_http_adapter_drops_malformed_items():
    """An item with null/absent created_utc must be dropped, not raise —
    a deterministic KeyError inside retry_forever would re-fetch the
    same page every backoff interval for eternity."""
    from timesearch_spark.sources.adapters import http_fetch_page

    def opener(url):
        return json.dumps({"data": [
            {"id": "ok", "created_utc": 5},
            {"id": "no_ts"},                      # absent created_utc
            {"id": "null_ts", "created_utc": None},
            {"created_utc": 6},                   # absent id
        ]}).encode()

    fetch = http_fetch_page("https://h/s?after={after}&limit={limit}",
                            opener=opener)
    assert [it["id"] for it in fetch(0, None, 50)] == ["ok"]


def test_supplement_source_enriches_and_flag_disables(spark, tmp_path, capsys):
    """--supplement-source wires the reference's supplement step: live
    copies (priority 2) overwrite the archived dummy rows; and
    --dont_supplement really disables it."""
    dump = tmp_path / "dump.jsonl"
    dump.write_text(json.dumps(_sub(1, score=5)) + "\n")
    live = tmp_path / "live.jsonl"
    live_item = {**_sub(1, score=99)}
    live.write_text(json.dumps(live_item) + "\n")

    root = str(tmp_path / "a")
    assert cli.main([
        "--archive-root", root, "get_submissions", "-r", "s",
        "--lower", "0", "--source", str(dump),
        "--supplement-source", str(live),
    ]) == 0
    from timesearch_spark.api import Archive

    ar = Archive(spark, f"{root}/subreddits/s")
    assert ar.submissions.snapshot().first()["score"] == 99

    root2 = str(tmp_path / "b")
    assert cli.main([
        "--archive-root", root2, "get_submissions", "-r", "s",
        "--lower", "0", "--source", str(dump),
        "--supplement-source", str(live), "--dont_supplement",
    ]) == 0
    ar2 = Archive(spark, f"{root2}/subreddits/s")
    assert ar2.submissions.snapshot().first()["score"] == 5


@pytest.mark.slow
def test_full_reference_workflow_chained(spark, tmp_path, capsys):
    """The reference's end-to-end loop (timesearch.py:22-60) as ONE
    chain against a single fresh archive: ingest_jsonfile seeds it, then
    breakdown, index, and offline_reading all read the same store —
    each step consuming the previous step's on-disk state."""
    dump = _write_jsonl(
        tmp_path / "dump.jsonl",
        [_sub(i) for i in range(5)] + [_com(i) for i in range(8)],
    )
    rootdir = str(tmp_path / "chain_archives")
    assert cli.main(["--archive-root", rootdir, "ingest_jsonfile", dump,
                     "-r", "t"]) == 0
    counts = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert counts["new_submissions"] == 5 and counts["new_comments"] == 8

    adir = os.path.join(rootdir, "subreddits", "t")
    assert cli.main(["--archive-root", rootdir, "breakdown", "-r", "t"]) == 0
    data = json.loads(open(
        os.path.join(adir, "breakdown", "t_breakdown.json")).read())
    assert sum(v["submissions"] for v in data.values()) == 5
    assert sum(v["comments"] for v in data.values()) == 8

    assert cli.main(["--archive-root", rootdir, "index", "-r", "t",
                     "--score", "--html", "--offline"]) == 0
    idir = os.path.join(adir, "index")
    listing = [f for f in os.listdir(idir) if "score" in f]
    assert listing

    assert cli.main(["--archive-root", rootdir, "offline_reading",
                     "-r", "t"]) == 0
    threads = os.listdir(os.path.join(adir, "offline_reading"))
    assert len(threads) >= 1
    html = open(os.path.join(adir, "offline_reading", threads[0])).read()
    assert "reply" in html or "post" in html

    # the listing's '../offline_reading/<id>.html' links must RESOLVE
    # from the index/ dir — the reference's sibling-dir layout
    # (tsdb.py:187-191); flat placement silently broke every --offline
    # link by pointing one level above the archive
    import re as _re

    body = open(os.path.join(idir, listing[0])).read()
    hrefs = _re.findall(r'href="(\.\./offline_reading/[^"]+)"', body)
    assert hrefs, "offline listing carries no offline links"
    for h in hrefs:
        target = os.path.normpath(os.path.join(idir, h))
        assert os.path.exists(target), f"broken offline link {h}"


def test_curate_subcommand_span_flags(spark, tmp_path, capsys):
    shared = " ".join(f"tok{i}" for i in range(8))
    docs = [
        {"doc_id": 1, "source": "w", "lang": "en",
         "text": f"the cat is on a mat {shared}"},
        {"doc_id": 2, "source": "w", "lang": "en",
         "text": f"a dog and the bird fly {shared} plus an extra tail here"},
    ]
    src = tmp_path / "docs.jsonl"
    src.write_text("\n".join(json.dumps(d) for d in docs) + "\n")
    outdir = str(tmp_path / "curated_spans")
    assert cli.main([
        "curate", "--input", str(src), "--output", outdir,
        "--span-n", "8", "--span-stride", "1", "--neardup", "0.99",
    ]) == 0
    texts = {r["doc_id"]: r["text"]
             for r in spark.read.parquet(outdir).collect()}
    assert shared in texts[1]      # winner keeps the span
    assert shared not in texts[2]  # duplicate occurrence stripped


@pytest.mark.slow
def test_full_workflow_on_file_scheme_root(spark, tmp_path, capsys):
    """The chained reference workflow against a file:// archive root:
    every store (MERGE stores, pointers) and every driver-side sink
    (breakdown JSON, listing) runs through the Hadoop-FS shim; the
    executor-side thread-HTML sink maps file:// back to the local path."""
    dump = _write_jsonl(
        tmp_path / "dump.jsonl",
        [_sub(i) for i in range(3)] + [_com(i) for i in range(4)],
    )
    rootdir = f"file://{tmp_path}/scheme_archives"
    assert cli.main(["--archive-root", rootdir, "ingest_jsonfile", dump,
                     "-r", "t"]) == 0
    counts = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert counts["new_submissions"] == 3 and counts["new_comments"] == 4

    assert cli.main(["--archive-root", rootdir, "breakdown", "-r", "t"]) == 0
    local_adir = str(tmp_path / "scheme_archives" / "subreddits" / "t")
    data = json.loads(open(
        os.path.join(local_adir, "breakdown", "t_breakdown.json")).read())
    assert sum(v["submissions"] for v in data.values()) == 3

    assert cli.main(["--archive-root", rootdir, "index", "-r", "t",
                     "--date"]) == 0
    assert cli.main(["--archive-root", rootdir, "offline_reading",
                     "-r", "t"]) == 0
    threads = os.listdir(os.path.join(local_adir, "offline_reading"))
    assert len(threads) >= 1


@pytest.mark.slow
def test_curate_subcommand_staged(spark, tmp_path, capsys):
    """--stage-dir checkpoints every rung; a second invocation resumes
    (all rungs committed, same output) and reports the rung audit from
    the committed parquet."""
    docs = [
        {"doc_id": 1, "source": "w", "lang": "en",
         "text": "the cat sat on the mat and it is a fine day for cats to sit"},
        {"doc_id": 2, "source": "w", "lang": "en",
         "text": "THE CAT SAT ON THE MAT AND IT IS A FINE DAY FOR CATS TO SIT"},
        {"doc_id": 3, "source": "w", "lang": "en", "text": ""},
    ]
    src = tmp_path / "docs.jsonl"
    src.write_text("\n".join(json.dumps(d) for d in docs) + "\n")
    outdir = str(tmp_path / "curated")
    stage = str(tmp_path / "stage")
    args = ["curate", "--input", str(src), "--output", outdir,
            "--stage-dir", stage, "--lease-timeout", "30"]
    assert cli.main(args) == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["kept"] == 1
    # no paragraph/span flags -> the identity input rung is NOT written
    # (it would be a full corpus copy); the audit starts at the gate
    assert "input" not in res["rungs"]
    assert res["rungs"]["gated"] == 2 and res["rungs"]["final"] == 1
    # resume: every rung already committed — same report, no rewrite of
    # the rung store (mtime of the final rung unchanged)
    import os

    before = os.path.getmtime(os.path.join(stage, "final", "_SUCCESS"))
    assert cli.main(args) == 0
    res2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res2["rungs"] == res["rungs"] and res2["kept"] == 1
    assert os.path.getmtime(os.path.join(stage, "final", "_SUCCESS")) == before


@pytest.mark.slow
def test_curate_subcommand_clf_flags(spark, tmp_path, capsys):
    """r12: --clf-pos/--clf-neg/--clf-min-score run the trained-
    classifier gate end-to-end (heuristic-proof soup dropped, clf_gated
    in the audit), compose with --stage-dir, and partial flags are
    usage errors."""
    import pytest

    clean = "the cat sat on the mat and it is a fine day for cats to sit"
    soup = "the xqj of zvv and kpl is wmt the rrq of bbn and qpw is ooz"
    docs = [
        {"doc_id": 1, "source": "w", "lang": "en", "text": clean},
        {"doc_id": 9, "source": "w", "lang": "en", "text": soup},
    ]
    src = tmp_path / "docs.jsonl"
    src.write_text("\n".join(json.dumps(d) for d in docs) + "\n")
    posf = tmp_path / "pos.jsonl"
    posf.write_text("\n".join(json.dumps(
        {"doc_id": 100 + i, "source": "w", "lang": "en",
         "text": clean + f" p{i}"}) for i in range(10)) + "\n")
    negf = tmp_path / "neg.jsonl"
    negf.write_text("\n".join(json.dumps(
        {"doc_id": 200 + i, "source": "w", "lang": "en",
         "text": f"the a{i} of b{i} and c{i} is d{i} the e{i} of f{i}"})
        for i in range(10)) + "\n")
    outdir = str(tmp_path / "curated_clf")

    assert cli.main(["curate", "--input", str(src), "--output", outdir,
                     "--clf-pos", str(posf), "--clf-neg", str(negf),
                     "--clf-min-score", "0.5"]) == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["kept"] == 1
    assert "clf_gated" in res["rungs"]
    assert [r["doc_id"] for r in spark.read.parquet(outdir).collect()] == [1]

    with pytest.raises(SystemExit):
        cli.main(["curate", "--input", str(src), "--output", outdir,
                  "--clf-pos", str(posf)])

    out2 = str(tmp_path / "curated_clf_staged")
    stage = tmp_path / "stage_clf"
    assert cli.main(["curate", "--input", str(src), "--output", out2,
                     "--clf-pos", str(posf), "--clf-neg", str(negf),
                     "--clf-min-score", "0.5",
                     "--stage-dir", str(stage)]) == 0
    res2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res2["kept"] == 1
    assert res2["rungs"].get("clf_gated") == 1
    assert (stage / "clf_gated" / "_SUCCESS").exists()


def test_curate_subcommand_line_dedup_flag(spark, tmp_path, capsys):
    """r12: --line-dedup wires the within-document duplicate-line
    surgery — a doc the repetition gate would drop survives rewritten."""
    line = "the cat sat on the mat and it is a fine day"
    docs = [
        {"doc_id": 1, "source": "w", "lang": "en",
         # dissimilar on purpose: the rewritten doc 9 must not land in
         # doc 1's near-dup cluster downstream
         "text": "a completely different english document with many of "
                 "the words it has and more then some"},
        {"doc_id": 9, "source": "w", "lang": "en",
         "text": "\n".join([line] * 8)},
    ]
    src = tmp_path / "docs.jsonl"
    src.write_text("\n".join(json.dumps(d) for d in docs) + "\n")
    outdir = str(tmp_path / "curated_lines")

    assert cli.main(["curate", "--input", str(src), "--output", outdir,
                     "--line-dedup"]) == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["kept"] == 2  # the spammy doc survives rewritten
    assert {r["doc_id"] for r in spark.read.parquet(outdir).collect()} \
        == {1, 9}
