"""Streaming MERGE store + livestream tests (SURVEY §2 I1-I4, §5.4)."""

from __future__ import annotations

import json

from timesearch_spark.schemas import COMMENTS
from timesearch_spark.streaming.livestream import livestream, read_ndjson_stream
from timesearch_spark.streaming.store import ParquetMergeStore

COMMENT_COLS = (
    "idint long, idstr string, created long, author string, parent string, "
    "submission string, body string, score long, subreddit string, "
    "distinguish string, textlen long"
)


import pytest

def _store(spark, tmp_path, name="c"):
    return ParquetMergeStore(
        spark, str(tmp_path / name), schema=COMMENTS, key="idstr", text_col="body"
    )


def _comment(idstr, body, score=1, created=100, author="alice"):
    return (
        1, idstr, created, author, "t3_s", "t3_s", body, score, "test", None,
        len(body),
    )


def test_store_merge_and_versioning(spark, tmp_path):
    store = _store(spark, tmp_path)
    assert store.version() == 0 and store.snapshot().count() == 0

    b1 = spark.createDataFrame([_comment("t1_a", "v1")], COMMENT_COLS)
    store.merge(b1, observed_at=10)
    assert store.version() == 1
    assert store.snapshot().first()["body"] == "v1"
    assert store.edits().count() == 0

    # edit capture: changed body archives the OLD text (tsdb.py:361-387)
    b2 = spark.createDataFrame([_comment("t1_a", "v2")], COMMENT_COLS)
    store.merge(b2, observed_at=20)
    assert store.version() == 2
    assert store.snapshot().first()["body"] == "v2"
    edits = store.edits().collect()
    assert len(edits) == 1
    assert edits[0]["previous_body"] == "v1" and edits[0]["replaced_at"] == 20


def test_store_merge_idempotent_replay(spark, tmp_path):
    store = _store(spark, tmp_path)
    b = spark.createDataFrame([_comment("t1_a", "same")], COMMENT_COLS)
    store.merge(b, observed_at=1)
    store.merge(b, observed_at=2)  # micro-batch replay
    assert store.snapshot().count() == 1
    assert store.edits().count() == 0  # unchanged text -> no CDC rows


def test_store_resume_lower_bound_overlap(spark, tmp_path):
    store = _store(spark, tmp_path)
    assert store.resume_lower_bound() == 0
    b = spark.createDataFrame(
        [_comment("t1_a", "x", created=500), _comment("t1_b", "y", created=900)],
        COMMENT_COLS,
    )
    store.merge(b)
    # max(created) - 1: the reference's same-second overlap (get_comments.py:57-65)
    assert store.resume_lower_bound() == 899


def test_snapshot_reused_until_commit(spark, tmp_path, monkeypatch):
    """A store's full snapshot is built once per committed pointer: with
    no commit between, the same DataFrame comes back and no reader is
    built.  An empty store's snapshot is replaced after its first merge,
    and a merge through another store object on the same path shows in
    this one's next snapshot."""
    from pyspark.sql import SparkSession

    store = _store(spark, tmp_path)
    empty = store.snapshot()
    assert store.snapshot() is empty and empty.count() == 0
    store.merge(spark.createDataFrame([_comment("t1_a", "v1")], COMMENT_COLS),
                observed_at=1)
    first = store.snapshot()
    assert first is not empty and first.count() == 1

    def no_reader(self):
        raise AssertionError("snapshot() built a reader with no commit")

    with monkeypatch.context() as mp:
        mp.setattr(SparkSession, "read", property(no_reader))
        assert store.snapshot() is first

    other = _store(spark, tmp_path)
    other.merge(spark.createDataFrame(
        [_comment("t1_a", "v2"), _comment("t1_b", "new")], COMMENT_COLS),
        observed_at=2)
    again = store.snapshot()
    assert again is not first
    assert {(r["idstr"], r["body"]) for r in again.collect()} == \
        {("t1_a", "v2"), ("t1_b", "new")}


@pytest.mark.slow
def test_livestream_end_to_end(spark, tmp_path):
    drop = tmp_path / "drop"
    drop.mkdir()
    (drop / "batch1.jsonl").write_text(
        "\n".join(
            json.dumps(o)
            for o in [
                {
                    "id": "s1", "name": "t3_s1", "created_utc": 100,
                    "author": "alice", "subreddit": "t", "title": "post",
                    "selftext": "v1", "score": 1, "is_self": True, "over_18": False,
                },
                {
                    "id": "c1", "name": "t1_c1", "created_utc": 101,
                    "author": "bob", "subreddit": "t", "body": "first",
                    "score": 2, "parent_id": "t3_s1", "link_id": "t3_s1",
                },
            ]
        )
    )

    from timesearch_spark.schemas import SUBMISSIONS

    subs_store = ParquetMergeStore(
        spark, str(tmp_path / "subs"), schema=SUBMISSIONS, key="idstr",
        text_col="selftext",
    )
    com_store = _store(spark, tmp_path, "coms")

    q = livestream(
        read_ndjson_stream(spark, str(drop)),
        subs_store, com_store,
        checkpoint_dir=str(tmp_path / "ckpt"),
        once=True,  # the reference's --once flag
    )
    q.awaitTermination(120)

    assert subs_store.snapshot().first()["idstr"] == "t3_s1"
    assert com_store.snapshot().first()["body"] == "first"

    # second poll cycle: an edit arrives; restart from checkpoint
    (drop / "batch2.jsonl").write_text(
        json.dumps(
            {
                "id": "c1", "name": "t1_c1", "created_utc": 101,
                "author": "bob", "subreddit": "t", "body": "edited",
                "score": 3, "parent_id": "t3_s1", "link_id": "t3_s1",
                "edited": "150",
            }
        )
    )
    q2 = livestream(
        read_ndjson_stream(spark, str(drop)),
        subs_store, com_store,
        checkpoint_dir=str(tmp_path / "ckpt"),
        once=True,
    )
    q2.awaitTermination(120)

    snap = com_store.snapshot().collect()
    assert len(snap) == 1 and snap[0]["body"] == "edited" and snap[0]["score"] == 3
    edits = com_store.edits().collect()
    assert len(edits) == 1
    assert edits[0]["previous_body"] == "first"
    assert edits[0]["replaced_at"] == 150  # obj.edited wins (tsdb.py:374-377)


@pytest.mark.slow
def test_store_merge_touches_only_batch_buckets(spark, tmp_path):
    """A micro-batch rewrites ONLY the bucket partitions its keys hash
    into; every other bucket keeps serving its old directory (the
    dynamic-partition-overwrite property, with reader isolation)."""
    import os

    store = _store(spark, tmp_path)
    seed = spark.createDataFrame(
        [_comment(f"t1_x{i}", f"body {i}") for i in range(64)], COMMENT_COLS
    )
    store.merge(seed, observed_at=1)
    manifest_v1 = dict(store.bucket_manifest())
    assert len(manifest_v1) > 1  # seed spread over several buckets

    one = spark.createDataFrame([_comment("t1_x0", "edited")], COMMENT_COLS)
    res = store.merge(one, observed_at=2)

    # v=2 holds exactly the buckets the 1-row batch hashed into
    v2 = os.path.join(str(tmp_path / "c"), "snapshot", "v=2")
    written = [d for d in os.listdir(v2) if d.startswith("__bucket=")]
    assert len(written) == 1
    moved = {b for b, v in store.bucket_manifest().items() if v == 2}
    assert len(moved) == 1
    # untouched buckets still point at v=1
    assert all(
        v == 1 for b, v in store.bucket_manifest().items() if b not in moved
    )
    # nothing lost, the edit landed, counters are TSDB.insert-style
    assert store.snapshot().count() == 64
    row = store.snapshot().filter("idstr = 't1_x0'").first()
    assert row["body"] == "edited"
    assert res.stats["inserted"] == 0 and res.stats["updated"] == 1

    # vacuum drops no live dirs (v=1 still referenced) and is safe to run
    assert store.vacuum() == []


@pytest.mark.slow
def test_store_merge_nondeterministic_batch(spark, tmp_path):
    """A batch whose rows differ per evaluation (rand()-based filter)
    must merge without losing rows: merge() pins the batch with a
    localCheckpoint before planning, so the bucket plan, the write pass,
    and the stats all see the same data.  Before the pin, the write pass
    could land rows in buckets whose old data was never merged in."""
    from pyspark.sql import functions as F

    store = _store(spark, tmp_path)
    seed = spark.createDataFrame(
        [_comment(f"t1_s{i}", f"seed {i}") for i in range(64)], COMMENT_COLS
    )
    store.merge(seed, observed_at=1)

    cand = spark.createDataFrame(
        [_comment(f"t1_n{i}", f"new {i}") for i in range(256)], COMMENT_COLS
    )
    # ~50% sample, re-rolled on every evaluation of the plan
    nondet = cand.filter(F.rand() < 0.5)
    res = store.merge(nondet, observed_at=2)

    # every seed row survived, and the snapshot equals seed ∪ merged keys
    snap = store.snapshot()
    assert snap.filter(F.col("idstr").startswith("t1_s")).count() == 64
    merged_new = snap.filter(F.col("idstr").startswith("t1_n")).count()
    assert merged_new == res.stats["inserted"] == res.stats["batch_keys"]
    assert 0 < merged_new < 256  # the sample actually sampled


def test_store_merge_insert_counters(spark, tmp_path):
    store = _store(spark, tmp_path)
    b1 = spark.createDataFrame(
        [_comment("t1_a", "x"), _comment("t1_b", "y")], COMMENT_COLS
    )
    assert store.merge(b1).stats == {"inserted": 2, "updated": 0, "batch_keys": 2}
    b2 = spark.createDataFrame(
        [_comment("t1_b", "y2"), _comment("t1_c", "z")], COMMENT_COLS
    )
    assert store.merge(b2).stats == {"inserted": 1, "updated": 1, "batch_keys": 2}


def test_schema_version_gate_and_upgrade(spark, tmp_path):
    # an archive written at schema v1 must refuse to open, then upgrade
    from timesearch_spark.streaming import store as st

    store = _store(spark, tmp_path, "old")
    b = spark.createDataFrame([_comment("t1_a", "x")], COMMENT_COLS)
    store.merge(b, observed_at=1)
    store._commit(store.version(), schema_version=1)  # simulate old archive

    try:
        store.check_schema_version()
        raise AssertionError("gate did not trip")
    except st.ArchiveOutOfDate as e:
        assert "upgrade_store" in str(e)

    assert st.upgrade_store(store) == st.SCHEMA_VERSION
    store.check_schema_version()  # now opens clean
    assert store.snapshot().count() == 1


@pytest.mark.slow
def test_legacy_flat_layout_migration(spark, tmp_path):
    """A GENUINE pre-bucket store: flat parquet under snapshot/v=1 and a
    LATEST pointer with no 'buckets' key.  It must (a) trip the open
    gate, (b) still be readable, (c) refuse merge and vacuum, and
    (d) migrate losslessly to the bucketed layout."""
    import os

    from timesearch_spark.streaming import store as st

    path = tmp_path / "legacy"
    flat = spark.createDataFrame(
        [_comment("t1_a", "old a"), _comment("t1_b", "old b")], COMMENT_COLS
    )
    flat.write.parquet(str(path / "snapshot" / "v=1"))  # no __bucket= dirs
    (path / "LATEST").write_text(json.dumps({"version": 1, "schema_version": 2}))

    store = ParquetMergeStore(
        spark, str(path), schema=COMMENTS, key="idstr", text_col="body"
    )
    try:
        store.check_schema_version()
        raise AssertionError("gate did not trip on a v2 flat archive")
    except st.ArchiveOutOfDate:
        pass
    # readable through the flat fallback — NOT silently empty
    assert store.snapshot().count() == 2
    # destructive ops refuse until migrated
    b = spark.createDataFrame([_comment("t1_c", "new")], COMMENT_COLS)
    for op in (lambda: store.merge(b), store.vacuum):
        try:
            op()
            raise AssertionError("legacy store accepted a destructive op")
        except st.ArchiveOutOfDate:
            pass

    assert st.upgrade_store(store) == st.SCHEMA_VERSION
    store.check_schema_version()
    assert store.bucket_manifest()  # bucketed now
    assert store.snapshot().count() == 2
    assert {r["body"] for r in store.snapshot().collect()} == {"old a", "old b"}
    # the old flat dir is unreferenced and vacuum may now reclaim it
    assert store.vacuum() == ["v=1"]
    assert store.snapshot().count() == 2
    store.merge(b, observed_at=5)
    assert store.snapshot().count() == 3


def test_merge_and_ingest_job_budget(spark, tmp_path, jobs_launched, monkeypatch):
    """A small MERGE into a built store is a fixed handful of jobs (the
    upsert join evaluated once, counters observed, not counted), and a
    small ``ingest_jsonfile`` stays under its budget — the one-pass
    MERGE's parent launched 17 and 45.  The budget is two-sided: the
    comments merge runs on another thread, and its jobs must still land
    in the caller's job group, under the caller's job description."""
    from timesearch_spark import api

    store = _store(spark, tmp_path, "hot")
    store.merge(spark.createDataFrame(
        [_comment(f"t1_x{i}", f"body {i}") for i in range(64)], COMMENT_COLS))
    small = spark.createDataFrame(
        [_comment("t1_x0", "edited"), _comment("t1_new", "fresh")], COMMENT_COLS)
    # with an edit row to write: the worst case
    assert jobs_launched(lambda: store.merge(small)) <= 6
    assert store.snapshot().count() == 65 and store.edits().count() == 1

    sub, com = _sub_obj, _com_obj
    ar = api.Archive(spark, str(tmp_path / "ar"))
    api.ingest_jsonfile(ar, _dump(tmp_path / "d0.jsonl", [sub(i, "v1") for i in range(8)]
                                  + [com(i, "v1") for i in range(40)]))
    delta = ([sub(0, "v2"), sub(8, "v1")]
             + [com(i, "v2") for i in range(5)] + [com(40 + i, "v1") for i in range(9)])

    # tag the jobs launched inside the comments merge (tags are thread-local)
    sc, tag = spark.sparkContext, "comments-merge"
    merge = ParquetMergeStore.merge

    def tagged(self, *a, **kw):
        if self is not ar.comments:
            return merge(self, *a, **kw)
        sc.addJobTag(tag)
        try:
            return merge(self, *a, **kw)
        finally:
            sc.removeJobTag(tag)

    monkeypatch.setattr(ParquetMergeStore, "merge", tagged)
    got = {}

    def ingest():
        sc.setJobDescription("daily delta")
        got.update(api.ingest_jsonfile(ar, _dump(tmp_path / "d1.jsonl", delta)))

    n = jobs_launched(ingest)
    assert got == {"new_submissions": 1, "new_comments": 9,
                   "total_submissions": 9, "total_comments": 49}
    # two merges of >= 5 jobs each plus the file check and the totals:
    # a merge whose jobs escape the caller's group drops n below 14
    assert 14 <= n <= 20
    jobs = list(sc._jsc.sc().statusTracker().getJobIdsForTag(tag))
    status = sc._jsc.sc().statusStore()
    assert len(jobs) >= 5
    assert {status.job(j).description().get() for j in jobs} == {"daily delta"}


def _sub_obj(i, text, **kw):
    return {"id": f"s{i}", "name": f"t3_s{i}", "created_utc": 100 + i,
            "author": "alice", "subreddit": "t", "title": f"post {i}",
            "selftext": text, "score": 1, "is_self": True, "over_18": False, **kw}


def _com_obj(i, text, **kw):
    return {"id": f"c{i}", "name": f"t1_c{i}", "created_utc": 200 + i,
            "author": "bob", "subreddit": "t", "body": text, "score": 2,
            "parent_id": "t3_s0", "link_id": "t3_s0", **kw}


def _dump(path, objs):
    path.write_text("\n".join(json.dumps(o) for o in objs) + "\n")
    return str(path)


def _both_in_flight(monkeypatch, method):
    """Make every ``ParquetMergeStore.<method>`` call wait until a second
    one is in flight.  A caller that writes its two stores one after the
    other fails on the barrier's timeout instead of hanging."""
    import threading

    barrier = threading.Barrier(2, timeout=60)
    orig = getattr(ParquetMergeStore, method)

    def waiting(self, *a, **kw):
        barrier.wait()
        return orig(self, *a, **kw)

    monkeypatch.setattr(ParquetMergeStore, method, waiting)


def test_ingest_merges_both_stores_at_once(spark, tmp_path, monkeypatch):
    from timesearch_spark import api

    ar = api.Archive(spark, str(tmp_path / "ar"))
    _both_in_flight(monkeypatch, "merge")
    got = api.ingest_jsonfile(ar, _dump(
        tmp_path / "d.jsonl", [_sub_obj(0, "v1"), _com_obj(0, "v1"), _com_obj(1, "v1")]))
    assert got == {"new_submissions": 1, "new_comments": 2,
                   "total_submissions": 1, "total_comments": 2}


def test_livestream_batch_merges_both_stores_at_once(spark, tmp_path, monkeypatch):
    from timesearch_spark import api

    drop = tmp_path / "drop"
    drop.mkdir()
    _dump(drop / "b1.jsonl", [_sub_obj(0, "v1"), _com_obj(0, "v1")])
    ar = api.Archive(spark, str(tmp_path / "ar"))
    _both_in_flight(monkeypatch, "merge")
    q = api.livestream(ar, str(drop), once=True)
    q.awaitTermination(120)
    assert q.exception() is None
    # both merges (4+ jobs each) ran in the batch's job group, the one
    # query.stop() cancels
    assert len(spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId))) >= 8
    assert [r["idstr"] for r in ar.submissions.snapshot().collect()] == ["t3_s0"]
    assert [r["idstr"] for r in ar.comments.snapshot().collect()] == ["t1_c0"]


def test_merge_db_merges_both_stores_at_once(spark, tmp_path, monkeypatch):
    from timesearch_spark import api

    a = api.Archive(spark, str(tmp_path / "a"))
    b = api.Archive(spark, str(tmp_path / "b"))
    api.ingest_jsonfile(a, _dump(tmp_path / "a.jsonl", [_sub_obj(0, "a"), _com_obj(0, "a")]))
    api.ingest_jsonfile(b, _dump(tmp_path / "b.jsonl", [
        _sub_obj(0, "b"), _sub_obj(1, "b"), _com_obj(1, "b"), _com_obj(2, "b")]))
    _both_in_flight(monkeypatch, "overwrite_snapshot")
    assert api.merge_db(a, b) == {"submissions": 1, "comments": 2}
    assert a.submissions.snapshot().where("idstr = 't3_s0'").first()["selftext"] == "a"


def test_ingest_failed_merge_still_commits_the_other_store(spark, tmp_path, monkeypatch):
    """The two stores commit separately: when the comments merge fails,
    the submissions merge still commits, the comments error is raised
    once both finished, no thread outlives the call, and re-ingesting
    the file converges to the archive a clean single ingest builds."""
    import threading

    from timesearch_spark import api

    base = _dump(tmp_path / "d0.jsonl", [_sub_obj(i, "v1") for i in range(3)]
                 + [_com_obj(i, "v1") for i in range(6)])
    # edits carry ``edited``, so replaced_at does not depend on the clock
    delta = _dump(tmp_path / "d1.jsonl", [_sub_obj(0, "v2", edited="150"), _sub_obj(3, "v1")]
                  + [_com_obj(i, "v2", edited="250") for i in range(3)] + [_com_obj(6, "v1")])
    clean = api.Archive(spark, str(tmp_path / "clean"))
    ar = api.Archive(spark, str(tmp_path / "ar"))
    for archive in (clean, ar):
        api.ingest_jsonfile(archive, base)
    api.ingest_jsonfile(clean, delta)

    merge = ParquetMergeStore.merge

    def failing(self, *a, **kw):
        if self is ar.comments:
            raise RuntimeError("comments merge failed")
        return merge(self, *a, **kw)

    versions = (ar.submissions.version(), ar.comments.version())
    baseline = threading.active_count()
    monkeypatch.setattr(ParquetMergeStore, "merge", failing)
    with pytest.raises(RuntimeError, match="comments merge failed"):
        api.ingest_jsonfile(ar, delta)
    assert threading.active_count() == baseline
    assert (ar.submissions.version(), ar.comments.version()) == (versions[0] + 1, versions[1])

    monkeypatch.undo()
    api.ingest_jsonfile(ar, delta)
    for name in ("submissions", "comments"):
        got, want = getattr(ar, name), getattr(clean, name)
        assert sorted(got.snapshot().collect()) == sorted(want.snapshot().collect())
        assert sorted(got.edits().collect()) == sorted(want.edits().collect())
        assert want.edits().count() > 0


def test_store_merge_golden_sequence(spark, tmp_path, caplog):
    """Independent pin of the one-pass MERGE: after every merge of a
    fixed sequence, the snapshot rows, the committed edit rows, the
    counters and the one structured commit record equal hand-written
    literals (none derived from the store or upsert code)."""
    import logging

    store = _store(spark, tmp_path, "golden")
    cols = COMMENT_COLS + ", edited long"

    def c(idstr, body, score=1, author="alice", created=100, edited=None):
        return (1, idstr, created, author, "t3_s", "t3_s", body, score,
                "test", None, len(body), edited)

    steps = [
        # insert two keys
        ([c("t1_a", "hello"), c("t1_b", "world", score=2)], 10,
         {"t1_a": ("alice", "hello", 1), "t1_b": ("alice", "world", 2)},
         [], (2, 0, 2), 0),
        # text edit: the batch's edited timestamp is replaced_at
        ([c("t1_a", "hello v2", edited=15)], 20,
         {"t1_a": ("alice", "hello v2", 1), "t1_b": ("alice", "world", 2)},
         [("t1_a", "hello", 15)], (0, 1, 1), 1),
        # score-only change: no edit row
        ([c("t1_b", "world", score=7)], 30,
         {"t1_a": ("alice", "hello v2", 1), "t1_b": ("alice", "world", 7)},
         [("t1_a", "hello", 15)], (0, 1, 1), 0),
        # deletion mask: raw '[deleted]' author + '[removed]' keeps the text
        ([c("t1_a", "[removed]", score=3, author="[deleted]")], 40,
         {"t1_a": ("alice", "hello v2", 3), "t1_b": ("alice", "world", 7)},
         [("t1_a", "hello", 15)], (0, 1, 1), 0),
        # vandalism marker keeps the text, whoever the author
        ([c("t1_b", "x has been overwritten y", score=7)], 50,
         {"t1_a": ("alice", "hello v2", 3), "t1_b": ("alice", "world", 7)},
         [("t1_a", "hello", 15)], (0, 1, 1), 0),
        # the same key twice in one batch: the later line wins
        ([c("t1_a", "hello v3"), c("t1_a", "hello v4"),
          c("t1_c", "first"), c("t1_c", "second")], 60,
         {"t1_a": ("alice", "hello v4", 1), "t1_b": ("alice", "world", 7),
          "t1_c": ("alice", "second", 1)},
         [("t1_a", "hello", 15), ("t1_a", "hello v2", 60)], (1, 1, 2), 1),
    ]
    # replay of the last batch: same state, no new history
    steps.append((steps[-1][0], 70, steps[-1][2], steps[-1][3], (0, 2, 2), 0))

    caplog.set_level(logging.INFO, logger="timesearch_spark")
    for version, (rows, at, snap, edits, stats, edit_rows) in enumerate(steps, 1):
        caplog.clear()
        res = store.merge(spark.createDataFrame(rows, cols), observed_at=at)
        assert res.stats == dict(zip(("inserted", "updated", "batch_keys"), stats))
        assert store.version() == version
        assert {r["idstr"]: (r["author"], r["body"], r["score"])
                for r in store.snapshot().collect()} == snap
        assert sorted(map(tuple, store.edits().collect())) == edits
        records = [json.loads(r.getMessage()) for r in caplog.records
                   if r.name == "timesearch_spark"]
        assert len(records) == 1
        rec = records[0]
        assert rec["event"] == "store.commit" and rec["store"] == store.path
        assert rec["version"] == version and rec["edit_rows"] == edit_rows
        assert [rec[k] for k in ("inserted", "updated", "batch_keys")] == list(stats)
        assert rec["buckets"] == sorted(
            int(b) for b, v in store.bucket_manifest().items() if v == version)


def test_zero_edit_merge_hides_orphaned_edits(spark, tmp_path):
    """A merge that captures no edits still clears an orphaned
    ``edits/v=N`` from an uncommitted attempt at the same version, so
    committing N does not surface the orphan's rows."""
    store = _store(spark, tmp_path, "orphan")
    store.merge(spark.createDataFrame([_comment("t1_a", "old")], COMMENT_COLS),
                observed_at=1)
    ptr = (tmp_path / "orphan" / "LATEST").read_text()
    store.merge(spark.createDataFrame([_comment("t1_a", "new")], COMMENT_COLS),
                observed_at=2)
    assert store.edits().count() == 1
    (tmp_path / "orphan" / "LATEST").write_text(ptr)  # roll back: v=2 orphaned
    res = store.merge(
        spark.createDataFrame([_comment("t1_b", "other")], COMMENT_COLS),
        observed_at=3)
    assert store.version() == 2 and res.stats["inserted"] == 1
    assert store.edits().count() == 0
    assert {r["body"] for r in store.snapshot().collect()} == {"old", "other"}


def test_streaming_event_time_windows_and_dedup(spark, tmp_path):
    """tumbling/sliding/session windows + watermarked dedup run as real
    Structured Streaming queries (file source → memory sink) and agree
    with hand-computed event-time answers."""
    from pyspark.sql import functions as F

    from timesearch_spark.streaming import windows as sw

    drop = tmp_path / "wdrop"
    drop.mkdir()
    evs = [
        {"idstr": "a1", "author": "alice", "event_type": "post", "created": 0},
        {"idstr": "a2", "author": "alice", "event_type": "post", "created": 900},
        {"idstr": "b1", "author": "bob", "event_type": "comment", "created": 1000},
        {"idstr": "a3", "author": "alice", "event_type": "post", "created": 3700},
        {"idstr": "b2", "author": "bob", "event_type": "comment", "created": 7300},
        {"idstr": "b2", "author": "bob", "event_type": "comment", "created": 7300},
    ]
    (drop / "b.jsonl").write_text("\n".join(json.dumps(e) for e in evs))
    schema = "idstr string, author string, event_type string, created long"

    def run(df, name, mode):
        q = (
            df.writeStream.format("memory").queryName(name).outputMode(mode)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        return spark.table(name).collect()

    stream = spark.readStream.schema(schema).json(str(drop))

    tumb = run(
        sw.tumbling_counts_stream(stream, "1 hour", key="event_type").select(
            F.col("window_start").cast("long").alias("ws"), "event_type", "n"
        ),
        "tumb", "complete",
    )
    assert {(r["ws"], r["event_type"]): r["n"] for r in tumb} == {
        (0, "post"): 2, (0, "comment"): 1, (3600, "post"): 1, (7200, "comment"): 2,
    }

    slid = run(
        sw.sliding_counts_stream(stream, "1 hour", "30 minutes", key="event_type")
        .select(F.col("window_start").cast("long").alias("ws"), "event_type", "n"),
        "slid", "complete",
    )
    # slide-aligned window starts; every event lands in
    # duration/slide = 2 overlapping windows
    assert {(r["ws"], r["event_type"]): r["n"] for r in slid} == {
        (-1800, "post"): 2, (0, "post"): 2,          # events at 0 and 900
        (1800, "post"): 1, (3600, "post"): 1,        # event at 3700
        (-1800, "comment"): 1, (0, "comment"): 1,    # event at 1000
        (5400, "comment"): 2, (7200, "comment"): 2,  # both 7300 rows
    }

    sess = run(
        sw.session_counts_stream(stream, "30 minutes", key="author").select(
            F.col("session_start").cast("long").alias("s"),
            F.col("session_end").cast("long").alias("e"),
            "author",
            "n_events",
        ),
        "sess", "complete",
    )
    assert {(r["s"], r["e"], r["author"]): r["n_events"] for r in sess} == {
        (0, 2700, "alice"): 2,       # 0 and 900 chain within the 1800s gap
        (3700, 5500, "alice"): 1,
        (1000, 2800, "bob"): 1,
        (7300, 9100, "bob"): 2,      # duplicate-id rows both count here
    }

    # shift off epoch 0: Spark's initial watermark is 1970-01-01, and the
    # streaming dedup treats an event_time equal to the watermark as late
    shifted = stream.withColumn("created", F.col("created") + 36000)
    ded = run(
        sw.dedup_stream(shifted, key="idstr", ts_col="created"), "ded", "append"
    )
    assert sorted(r["idstr"] for r in ded) == ["a1", "a2", "a3", "b1", "b2"]


def test_union_of_n_sources_single_query(spark, tmp_path):
    """G4 (livestream.py:45-59 cycle_generators): N per-entity sources
    drained by ONE streaming query through one foreachBatch MERGE."""
    from timesearch_spark.streaming.livestream import union_sources

    entities = {"aaa": "t3_e1", "bbb": "t3_e2", "ccc": "t3_e3"}
    streams = []
    for sub, idstr in entities.items():
        drop = tmp_path / f"drop_{sub}"
        drop.mkdir()
        (drop / "b1.jsonl").write_text(
            json.dumps(
                {
                    "id": idstr[3:], "name": idstr, "created_utc": 100,
                    "author": "alice", "subreddit": sub, "title": f"post {sub}",
                    "selftext": "v1", "score": 1, "is_self": True,
                    "over_18": False,
                }
            )
        )
        streams.append(read_ndjson_stream(spark, str(drop)))

    from timesearch_spark.schemas import SUBMISSIONS

    store = ParquetMergeStore(
        spark, str(tmp_path / "subs"), schema=SUBMISSIONS, key="idstr",
        text_col="selftext",
    )
    q = livestream(
        union_sources(streams), store, None,
        checkpoint_dir=str(tmp_path / "ckpt"), once=True,
    )
    q.awaitTermination(120)

    snap = store.snapshot().collect()
    assert {r["idstr"] for r in snap} == set(entities.values())
    assert {r["subreddit"] for r in snap} == set(entities.keys())


@pytest.mark.slow
def test_edits_replay_is_idempotent_and_uncommitted_invisible(spark, tmp_path):
    """Crash between the edits write and the manifest commit: the
    orphaned edits version is invisible to edits(), and the replayed
    batch REPLACES it instead of appending duplicate CDC rows."""
    store = _store(spark, tmp_path, "cdc")
    store.merge(
        spark.createDataFrame([_comment("t1_a", "old")], COMMENT_COLS),
        observed_at=1,
    )
    ptr = (tmp_path / "cdc" / "LATEST").read_text()  # pre-edit pointer
    edit_batch = spark.createDataFrame(
        [_comment("t1_a", "new")], COMMENT_COLS
    )
    store.merge(edit_batch, observed_at=2)
    assert store.edits().count() == 1
    # simulate the crash: roll the pointer back to before the merge —
    # the edits/v=2 dir is now an orphan of an uncommitted merge
    (tmp_path / "cdc" / "LATEST").write_text(ptr)
    assert store.edits().count() == 0  # uncommitted version invisible
    # replay converges: same version, same edits dir, no duplicates
    store.merge(edit_batch, observed_at=3)
    assert store.edits().count() == 1


def test_merge_preserves_partial_schema_version_and_gates(spark, tmp_path):
    from timesearch_spark.streaming import store as st

    store = _store(spark, tmp_path, "partial")
    store.merge(
        spark.createDataFrame([_comment("t1_a", "x")], COMMENT_COLS),
        observed_at=1,
    )
    # a bucketed-but-mid-migration archive (schema v2 + bucket manifest)
    store._commit(store.version(), schema_version=2)
    try:
        store.merge(
            spark.createDataFrame([_comment("t1_b", "y")], COMMENT_COLS)
        )
        raise AssertionError("merge accepted a partially-migrated store")
    except st.ArchiveOutOfDate as e:
        assert "upgrade_store" in str(e)
    assert store.schema_version() == 2  # untouched, migration still runs

    # NEWER archive than the engine: refused in the other direction too
    store._commit(store.version(), schema_version=st.SCHEMA_VERSION + 1)
    try:
        store.check_schema_version()
        raise AssertionError("gate accepted a newer-engine archive")
    except st.ArchiveOutOfDate as e:
        assert "NEWER" in str(e)


@pytest.mark.slow
def test_upgrade_skips_rewrite_for_layout_only_steps(spark, tmp_path):
    """A bucketed v2 store (the interrupted-upgrade state) upgrades to
    v3 with a pointer bump only — no second full-corpus rewrite."""
    import os

    from timesearch_spark.streaming import store as st

    store = _store(spark, tmp_path, "bump")
    store.merge(
        spark.createDataFrame([_comment("t1_a", "x")], COMMENT_COLS),
        observed_at=1,
    )
    store._commit(store.version(), schema_version=2)
    vdirs_before = sorted(os.listdir(tmp_path / "bump" / "snapshot"))
    assert st.upgrade_store(store) == st.SCHEMA_VERSION
    assert sorted(os.listdir(tmp_path / "bump" / "snapshot")) == vdirs_before
    store.check_schema_version()
    assert store.snapshot().count() == 1


@pytest.mark.slow
def test_concurrent_merge_loses_cleanly(spark, tmp_path, monkeypatch):
    """Two writers racing the same store: the slower merge must abort
    with ConcurrentWriteError BEFORE touching the faster writer's
    committed version dir — no torn state, and a straight retry of the
    losing batch lands on the new snapshot."""
    import timesearch_spark.streaming.store as st

    store_a = _store(spark, tmp_path, "race")
    store_b = ParquetMergeStore(
        spark, str(tmp_path / "race"), schema=COMMENTS, key="idstr",
        text_col="body",
    )
    batch_a = spark.createDataFrame([_comment("a1", "from A")], COMMENT_COLS)
    batch_b = spark.createDataFrame([_comment("b1", "from B")], COMMENT_COLS)

    # interleave deterministically: while A's merge is between planning
    # and commit, B plans+commits the same base version
    fired = []
    orig = st.upsert_snapshot

    def hooked(*args, **kwargs):
        if not fired:
            fired.append(True)
            monkeypatch.setattr(st, "upsert_snapshot", orig)
            store_b.merge(batch_b)  # B wins: commits v1 under A's feet
        return orig(*args, **kwargs)

    monkeypatch.setattr(st, "upsert_snapshot", hooked)
    import pytest as _pytest

    with _pytest.raises(st.ConcurrentWriteError):
        store_a.merge(batch_a)

    # no torn state: B's commit is intact, A left nothing behind
    assert store_a.version() == 1
    assert [r["idstr"] for r in store_a.snapshot().collect()] == ["b1"]
    assert store_a.vacuum() == []  # staging cleaned up on abort

    # retry of the losing batch sees the new snapshot and succeeds
    res = store_a.merge(batch_a)
    assert res.stats["inserted"] == 1
    assert sorted(r["idstr"] for r in store_a.snapshot().collect()) == [
        "a1", "b1",
    ]


@pytest.mark.slow
def test_writer_lease_serializes_concurrent_merges(spark, tmp_path):
    """VERDICT r6 item 7: with lease_timeout_sec set, two well-behaved
    writers SERIALIZE — both eventually commit, nobody aborts with
    ConcurrentWriteError, and the final state contains both batches.
    Both writer threads are released from a pre-held lease at once to
    guarantee actual contention."""
    import threading

    from timesearch_spark.fs import WriterLease, get_fs

    path = str(tmp_path / "leased")
    store_a = ParquetMergeStore(
        spark, path, schema=COMMENTS, key="idstr", text_col="body",
        lease_timeout_sec=60.0,
    )
    store_b = ParquetMergeStore(
        spark, path, schema=COMMENTS, key="idstr", text_col="body",
        lease_timeout_sec=60.0,
    )
    gate = WriterLease(get_fs(spark, path), path).acquire()

    errors = []

    def run(store, idstr, body):
        try:
            store.merge(
                spark.createDataFrame([_comment(idstr, body)], COMMENT_COLS)
            )
        except Exception as exc:  # pragma: no cover - failure reporting
            errors.append(exc)

    ta = threading.Thread(target=run, args=(store_a, "a1", "from A"))
    tb = threading.Thread(target=run, args=(store_b, "b1", "from B"))
    ta.start(); tb.start()
    import time as _time
    _time.sleep(1.0)          # both writers now polling the held lease
    assert store_a.version() == 0  # nobody committed past the gate
    gate.release()
    ta.join(120); tb.join(120)

    assert not errors, errors
    assert store_a.version() == 2  # both merges landed, serialized
    assert sorted(r["idstr"] for r in store_a.snapshot().collect()) == [
        "a1", "b1",
    ]
    # lease released after the last commit: a fresh merge proceeds
    res = store_a.merge(
        spark.createDataFrame([_comment("c1", "after")], COMMENT_COLS)
    )
    assert res.stats["inserted"] == 1


@pytest.mark.slow
def test_writer_lease_times_out_against_live_holder(spark, tmp_path):
    from timesearch_spark.fs import LeaseTimeout, WriterLease, get_fs
    import pytest as _pytest

    path = str(tmp_path / "leased_to")
    store = ParquetMergeStore(
        spark, path, schema=COMMENTS, key="idstr", text_col="body",
        lease_timeout_sec=1.0,
    )
    holder = WriterLease(get_fs(spark, path), path).acquire()
    with _pytest.raises(LeaseTimeout):
        store.merge(
            spark.createDataFrame([_comment("x1", "blocked")], COMMENT_COLS)
        )
    assert store.version() == 0  # nothing half-written
    holder.release()
    assert store.merge(
        spark.createDataFrame([_comment("x1", "now")], COMMENT_COLS)
    ).stats["inserted"] == 1


@pytest.mark.slow
def test_writer_lease_breaks_stale_holder(spark, tmp_path):
    """A lease whose TTL expired (crashed writer) is broken by the next
    waiter instead of blocking it forever."""
    import json as _json
    import os as _os

    path = str(tmp_path / "leased_stale")
    store = ParquetMergeStore(
        spark, path, schema=COMMENTS, key="idstr", text_col="body",
        lease_timeout_sec=5.0,
    )
    _os.makedirs(path, exist_ok=True)
    with open(_os.path.join(path, "_writer.lease"), "w") as f:
        f.write(_json.dumps(
            {"owner": "crashed", "acquired_at": 1.0, "ttl_sec": 60.0}
        ))
    res = store.merge(
        spark.createDataFrame([_comment("s1", "recovered")], COMMENT_COLS)
    )
    assert res.stats["inserted"] == 1
    assert store.version() == 1


def test_writer_lease_concurrent_breakers_both_commit(spark, tmp_path):
    """Round 9: TTL breaking is rename-to-unique, so two waiters that
    both observe the same expired lease can no longer collide on a
    delete+create pair — exactly one break wins, the other re-contends,
    and BOTH writers eventually acquire (serially) and commit."""
    import json as _json
    import os as _os
    import threading

    from timesearch_spark.fs import WriterLease, get_fs

    path = str(tmp_path / "lease_breakers")
    _os.makedirs(path, exist_ok=True)
    fs = get_fs(spark, path)
    with open(_os.path.join(path, "_writer.lease"), "w") as f:
        f.write(_json.dumps(
            {"owner": "crashed", "acquired_at": 1.0, "ttl_sec": 1.0}
        ))
    start = threading.Barrier(2)
    committed: list[str] = []
    errors: list[BaseException] = []

    def breaker(tag: str):
        try:
            # generous budget: the loser serializes behind the winner's
            # whole py4j commit, and on this SHARED host a saturated
            # JVM/GIL can stall polls for tens of seconds (a 30s budget
            # flaked once under a concurrent bench run) — the timeout
            # only matters on genuine failure
            lz = WriterLease(fs, path, timeout_sec=120.0, poll_sec=0.01)
            start.wait()  # maximize the break collision window
            with lz:
                held = _json.loads(fs.read_text(lz.path))
                assert held["owner"] == lz.owner  # really ours, not shared
                committed.append(tag)
        except BaseException as exc:  # noqa: BLE001 — surfaced below
            errors.append(exc)

    ts = [threading.Thread(target=breaker, args=(t,)) for t in ("a", "b")]
    for t in ts:
        t.start()
    for t in ts:
        t.join(180)
    assert not errors, errors
    assert sorted(committed) == ["a", "b"]
    # no lock (or tombstone) left behind
    leftovers = [e for e in _os.listdir(path) if e.startswith("_writer")]
    assert leftovers == []


def test_writer_lease_break_restores_stolen_live_lease(spark, tmp_path):
    """The break verifies the tombstone's content: a lease that was
    re-acquired by someone else between our expiry read and our rename
    (now LIVE) is renamed straight back, not destroyed."""
    import json as _json
    import os as _os

    from timesearch_spark.fs import WriterLease, get_fs

    path = str(tmp_path / "lease_restore")
    _os.makedirs(path, exist_ok=True)
    fs = get_fs(spark, path)
    live = WriterLease(fs, path).acquire()  # someone else's fresh lease
    stale = {"owner": "crashed", "acquired_at": 1.0, "ttl_sec": 1.0}
    breaker = WriterLease(fs, path)
    breaker._try_break(stale)  # judged THE STALE body, grabs the live one
    held = _json.loads(fs.read_text(live.path))
    assert held["owner"] == live.owner  # restored, not deleted
    live.release()


def test_writer_lease_break_restores_same_owner_reacquired_lease(
    spark, tmp_path
):
    """ADVICE r9: the tombstone verify must match acquired_at as well as
    owner — a lease RE-acquired by the same owner instance (fresh
    timestamp, live) is someone's valid mutual exclusion, not the
    expired body we judged, and must be restored."""
    import json as _json
    import os as _os
    import time as _time

    from timesearch_spark.fs import WriterLease, get_fs

    path = str(tmp_path / "lease_reacq")
    _os.makedirs(path, exist_ok=True)
    fs = get_fs(spark, path)
    # the judged-expired body: same owner as the live lease below
    stale = {"owner": "holder-1", "acquired_at": 1.0, "ttl_sec": 1.0}
    live_body = {"owner": "holder-1", "acquired_at": _time.time(),
                 "ttl_sec": 600.0}
    lease_path = _os.path.join(path, "_writer.lease")
    with open(lease_path, "w") as f:
        f.write(_json.dumps(live_body))
    WriterLease(fs, path)._try_break(stale)
    held = _json.loads(open(lease_path).read())
    assert held == live_body  # restored intact, not deleted


def test_writer_lease_break_restores_unreadable_tombstone(
    spark, tmp_path, monkeypatch
):
    """ADVICE r9: when the tombstone's content cannot be read (transient
    FS error in the grab window) the breaker cannot prove it grabbed the
    expired lease — it must restore, not delete; the expired case just
    gets re-judged on the next poll."""
    import json as _json
    import os as _os

    from timesearch_spark.fs import WriterLease, get_fs

    path = str(tmp_path / "lease_unreadable")
    _os.makedirs(path, exist_ok=True)
    fs = get_fs(spark, path)
    body = {"owner": "crashed", "acquired_at": 1.0, "ttl_sec": 1.0}
    lease_path = _os.path.join(path, "_writer.lease")
    with open(lease_path, "w") as f:
        f.write(_json.dumps(body))
    lz = WriterLease(fs, path)
    real_read = type(fs).read_text

    def flaky_read(self, p):
        if ".breaking." in p:
            raise OSError("transient read failure")
        return real_read(self, p)

    monkeypatch.setattr(type(fs), "read_text", flaky_read)
    lz._try_break(body)
    monkeypatch.undo()
    assert _json.loads(open(lease_path).read()) == body  # restored
    assert [e for e in _os.listdir(path) if ".breaking." in e] == []

    # ...and with a readable tombstone the same judged lease IS broken
    lz._try_break(body)
    assert not _os.path.exists(lease_path)


def test_writer_lease_break_election_serializes_breakers(spark, tmp_path):
    """r15: breaking is gated on a create-if-absent marker — while one
    breaker holds `_writer.lease.break`, another waiter's _try_break is
    a no-op returning False (sleep-and-re-poll), so two breakers can
    never interleave on the lock itself."""
    import json as _json
    import os as _os
    import time as _time

    from timesearch_spark.fs import WriterLease, get_fs

    path = str(tmp_path / "lease_election")
    _os.makedirs(path, exist_ok=True)
    fs = get_fs(spark, path)
    stale = {"owner": "crashed", "acquired_at": 1.0, "ttl_sec": 1.0}
    lease_path = _os.path.join(path, "_writer.lease")
    with open(lease_path, "w") as f:
        f.write(_json.dumps(stale))
    # a live elected breaker's marker (fresh timestamp)
    marker = lease_path + ".break"
    with open(marker, "w") as f:
        f.write(_json.dumps({"owner": "other-breaker", "at": _time.time()}))
    lz = WriterLease(fs, path)
    assert lz._try_break(stale) is False  # lost the election: back off
    assert _json.loads(open(lease_path).read()) == stale  # lock untouched
    assert _os.path.exists(marker)  # the live marker was NOT cleared


def test_writer_lease_break_clears_stale_marker(spark, tmp_path):
    """r15: a marker left by a breaker that crashed mid-break expires
    after _BREAK_TTL_SEC and is cleared by the next waiter, so breaking
    cannot stall forever behind a ghost election."""
    import json as _json
    import os as _os

    from timesearch_spark.fs import WriterLease, get_fs

    path = str(tmp_path / "lease_stale_marker")
    _os.makedirs(path, exist_ok=True)
    fs = get_fs(spark, path)
    stale = {"owner": "crashed", "acquired_at": 1.0, "ttl_sec": 1.0}
    lease_path = _os.path.join(path, "_writer.lease")
    with open(lease_path, "w") as f:
        f.write(_json.dumps(stale))
    marker = lease_path + ".break"
    with open(marker, "w") as f:
        f.write(_json.dumps({"owner": "ghost", "at": 1.0}))  # ancient
    lz = WriterLease(fs, path)
    assert lz._try_break(stale) is False  # this call only clears the ghost
    assert not _os.path.exists(marker)
    assert lz._try_break(stale) is True  # next poll wins the election
    assert not _os.path.exists(lease_path)  # and really breaks
    assert [e for e in _os.listdir(path) if e.startswith("_writer")] == []


def test_writer_lease_break_r14_interleaving_never_renames_live(
    spark, tmp_path
):
    """r15 regression pin for the exact r14 race, deterministically: A
    judged the OLD lease expired; before A breaks, B completed a full
    break + re-acquire (lock now holds B's LIVE lease).  A's _try_break
    must not issue ANY rename — the lock file never vanishes from under
    B and no zombie can be resurrected after B releases."""
    import json as _json
    import os as _os

    from timesearch_spark.fs import WriterLease, get_fs

    path = str(tmp_path / "lease_r14")
    _os.makedirs(path, exist_ok=True)
    fs = get_fs(spark, path)
    stale = {"owner": "crashed", "acquired_at": 1.0, "ttl_sec": 1.0}
    live = WriterLease(fs, path).acquire()  # B's fresh live lease

    renames: list[tuple] = []
    real_rename = type(fs).rename

    def spying_rename(self, src, dst):
        renames.append((src, dst))
        return real_rename(self, src, dst)

    import unittest.mock as _mock

    with _mock.patch.object(type(fs), "rename", spying_rename):
        a = WriterLease(fs, path)
        assert a._try_break(stale) is True  # elected, but guard #2 bails
    assert renames == []  # the live lock was never renamed
    held = _json.loads(fs.read_text(live.path))
    assert held["owner"] == live.owner
    live.release()  # B's release sees its own lock, removes it cleanly
    assert [e for e in _os.listdir(path) if e.startswith("_writer")] == []


def test_writer_lease_break_window_restore_by_create(spark, tmp_path):
    """r15 guard #3, forced deterministically: the lock mutates to a
    LIVE lease inside the re-read→rename window (simulated by patching
    the re-read to return the stale judgment while the file really
    holds the live body).  The breaker grabs the live lease, fails the
    tombstone verify, and must restore the exact bytes via
    create_exclusive — lock intact, no leftovers."""
    import json as _json
    import os as _os
    import time as _time
    import unittest.mock as _mock

    from timesearch_spark.fs import WriterLease, get_fs

    path = str(tmp_path / "lease_window")
    _os.makedirs(path, exist_ok=True)
    fs = get_fs(spark, path)
    stale = {"owner": "crashed", "acquired_at": 1.0, "ttl_sec": 1.0}
    live_raw = _json.dumps(
        {"owner": "fresh-holder", "acquired_at": _time.time(),
         "ttl_sec": 600.0}
    )
    lease_path = _os.path.join(path, "_writer.lease")
    with open(lease_path, "w") as f:
        f.write(live_raw)  # the file already holds the LIVE body

    real_read = type(fs).read_text

    def window_read(self, p):
        # the breaker's re-read of the LOCK sees the stale judgment
        # (the mutation lands just after); tombstone reads are real
        if p.endswith("_writer.lease"):
            return _json.dumps(stale)
        return real_read(self, p)

    with _mock.patch.object(type(fs), "read_text", window_read):
        WriterLease(fs, path)._try_break(stale)
    assert open(lease_path).read() == live_raw  # byte-exact restore
    leftovers = [
        e for e in _os.listdir(path)
        if e.startswith("_writer") and e != "_writer.lease"
    ]
    assert leftovers == []


def test_writer_lease_break_window_restore_never_clobbers_fresh_lock(
    spark, tmp_path
):
    """r15 guard #3's second half: if a THIRD writer creates a fresh
    lock while the breaker holds the mistaken tombstone, the restore
    (create-if-absent, not rename-replace) must leave that fresh lock
    intact and drop the tombstone — the old rename-back design clobbered
    it."""
    import json as _json
    import os as _os
    import time as _time
    import unittest.mock as _mock

    from timesearch_spark.fs import WriterLease, get_fs

    path = str(tmp_path / "lease_noclobber")
    _os.makedirs(path, exist_ok=True)
    fs = get_fs(spark, path)
    stale = {"owner": "crashed", "acquired_at": 1.0, "ttl_sec": 1.0}
    live_raw = _json.dumps(
        {"owner": "grabbed-holder", "acquired_at": _time.time(),
         "ttl_sec": 600.0}
    )
    fresh_raw = _json.dumps(
        {"owner": "third-writer", "acquired_at": _time.time(),
         "ttl_sec": 600.0}
    )
    lease_path = _os.path.join(path, "_writer.lease")
    with open(lease_path, "w") as f:
        f.write(live_raw)

    real_read = type(fs).read_text

    def window_read(self, p):
        if p.endswith("_writer.lease"):
            return _json.dumps(stale)  # stale re-read, as above
        # tombstone read: the moment the breaker inspects its grab, the
        # third writer's fresh lock lands — the worst restore timing
        if not _os.path.exists(lease_path):
            with open(lease_path, "w") as f:
                f.write(fresh_raw)
        return real_read(self, p)

    with _mock.patch.object(type(fs), "read_text", window_read):
        WriterLease(fs, path)._try_break(stale)
    assert open(lease_path).read() == fresh_raw  # fresh lock survived
    leftovers = [
        e for e in _os.listdir(path)
        if e.startswith("_writer") and e != "_writer.lease"
    ]
    assert leftovers == []


def test_writer_lease_acquired_at_reflects_acquisition_not_wait_start(
    spark, tmp_path
):
    """Review r8: a lease acquired after polling must publish the time
    it was ACQUIRED — stamping the wait start would erode (or instantly
    exhaust) the published TTL and invite a spurious break."""
    import json as _json
    import threading
    import time as _time

    from timesearch_spark.fs import WriterLease, get_fs

    path = str(tmp_path / "lease_fresh")
    _os_makedirs = __import__("os").makedirs
    _os_makedirs(path, exist_ok=True)
    fs = get_fs(spark, path)
    gate = WriterLease(fs, path).acquire()
    got: dict = {}

    def waiter():
        lz = WriterLease(fs, path, poll_sec=0.05)
        lz.acquire()
        got["at"] = _time.time()
        got["body"] = _json.loads(fs.read_text(lz.path))
        lz.release()

    t = threading.Thread(target=waiter)
    t.start()
    _time.sleep(1.5)  # waiter is polling the held lease the whole time
    gate.release()
    t.join(30)
    assert got, "waiter never acquired"
    # stamped at acquisition: the 1.5s spent waiting must NOT appear
    assert got["at"] - got["body"]["acquired_at"] < 1.0


def test_writer_lease_release_respects_ownership(spark, tmp_path):
    """Review r8: a holder whose lease was TTL-broken must not delete
    the breaker's live lease on release."""
    from timesearch_spark.fs import WriterLease, get_fs

    path = str(tmp_path / "lease_owner")
    __import__("os").makedirs(path, exist_ok=True)
    fs = get_fs(spark, path)
    a = WriterLease(fs, path).acquire()
    # simulate the TTL break: the lock vanishes and B takes it
    fs.delete(a.path)
    b = WriterLease(fs, path).acquire()
    a.release()  # stalled holder exits late — must be a no-op
    import json as _json

    held = _json.loads(fs.read_text(b.path))
    assert held["owner"] == b.owner  # B's live lease survived
    b.release()
    # and B's release really removes it
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        fs.read_text(b.path)


def test_writer_lease_erroring_reads_still_time_out(spark, tmp_path):
    """Review r8: a lock read that persistently fails with an error
    whose text mentions FileNotFoundException (a nested Java cause, not
    a vanished file) must not busy-spin forever — the deadline bounds
    every path through the acquire loop."""
    import time as _time

    import pytest as _pytest

    from timesearch_spark.fs import LeaseTimeout, WriterLease

    class BrokenFS:
        def create_exclusive(self, path, text):
            return False  # always contended

        def read_text(self, path):
            raise RuntimeError(
                "py4j: java.io.IOException caused by "
                "java.io.FileNotFoundException: /etc/hadoop/creds"
            )

        def delete(self, path):
            pass

    lz = WriterLease(BrokenFS(), str(tmp_path / "b"), timeout_sec=1.0,
                     poll_sec=0.01)
    t0 = _time.monotonic()
    with _pytest.raises(LeaseTimeout):
        lz.acquire()
    assert _time.monotonic() - t0 < 10  # bounded, not a spin-forever


def test_writer_lease_ttl_break_over_hadoopfs_root(spark, tmp_path):
    """The rename-to-unique break must work through the Hadoop FS shim
    too (schemed roots use HadoopFS.rename, not os.rename): an expired
    lease on a file:// root is broken and re-acquired."""
    import json as _json
    import os as _os

    from timesearch_spark.fs import WriterLease, get_fs

    local = tmp_path / "lease_hfs"
    _os.makedirs(local, exist_ok=True)
    with open(local / "_writer.lease", "w") as f:
        f.write(_json.dumps(
            {"owner": "crashed", "acquired_at": 1.0, "ttl_sec": 1.0}
        ))
    root = f"file://{local}"
    fs = get_fs(spark, root)
    lz = WriterLease(fs, root, timeout_sec=30.0, poll_sec=0.05).acquire()
    held = _json.loads(fs.read_text(lz.path))
    assert held["owner"] == lz.owner
    lz.release()
    leftovers = [e for e in _os.listdir(local) if e.startswith("_writer")]
    assert leftovers == []
