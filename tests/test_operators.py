"""Golden + property tests for the operator library (SURVEY §5.2-5.3).

Micro-fixtures are Reddit-shaped (idstr/author/body/...); invariants are
the ones extracted from the reference's code paths.
"""

from __future__ import annotations

from functools import partial

import pytest

from pyspark.sql import Row
from pyspark.sql import functions as F

from timesearch_spark.operators import exports
from timesearch_spark.operators.breakdown import breakdown, breakdown_sorted
from timesearch_spark.operators.exports import write_breakdown
from timesearch_spark.operators.merge import anti_join_merge
from timesearch_spark.operators.upsert import upsert_snapshot


def _subs(spark, rows):
    return spark.createDataFrame(
        rows, "idstr string, author string, selftext string, score long, created long"
    )


def _comments(spark, rows):
    return spark.createDataFrame(
        rows, "idstr string, author string, body string, score long, created long"
    )


# --- D1: breakdown (breakdown.py:8-42) -------------------------------------

def test_breakdown_zero_fill(spark):
    subs = _subs(spark, [("t3_a", "alice", None, 1, 10), ("t3_b", "bob", None, 1, 11)])
    comments = _comments(spark, [("t1_c", "alice", "hi", 1, 12), ("t1_d", "carol", "yo", 1, 13)])
    out = {r["author"]: r for r in breakdown(subs, comments, key="author", key_name="author").collect()}
    assert out["alice"]["submissions"] == 1 and out["alice"]["comments"] == 1
    assert out["bob"]["submissions"] == 1 and out["bob"]["comments"] == 0   # zero-fill
    assert out["carol"]["submissions"] == 0 and out["carol"]["comments"] == 1
    for r in out.values():
        assert r["total_posts"] == r["submissions"] + r["comments"]


def test_breakdown_totals_equal_table_counts(spark):
    subs = _subs(spark, [(f"t3_{i}", f"u{i % 3}", None, 1, i) for i in range(10)])
    comments = _comments(spark, [(f"t1_{i}", f"u{i % 5}", "x", 1, i) for i in range(20)])
    bd = breakdown(subs, comments, key="author", key_name="author")
    agg = bd.agg(F.sum("submissions"), F.sum("comments")).first()
    assert agg[0] == 10 and agg[1] == 20


def test_breakdown_sort_orders(spark):
    subs = _subs(spark, [("t3_a", "Zed", None, 1, 1), ("t3_b", "Zed", None, 1, 2), ("t3_c", "amy", None, 1, 3)])
    comments = _comments(spark, [("t1_a", "amy", "x", 1, 1)])
    bd = breakdown(subs, comments, key="author", key_name="author")
    by_name = [r["author"] for r in breakdown_sorted(bd, "name", "author").collect()]
    assert by_name == ["amy", "Zed"]  # lower(name) sort (breakdown.py:55-56)
    by_subs = [r["author"] for r in breakdown_sorted(bd, "submissions", "author").collect()]
    assert by_subs == ["Zed", "amy"]


def _breakdown_fixture(spark):
    """Breakdown with the nasty cases: case-colliding names (Bob/bob),
    count ties, and a key that only appears on one side."""
    subs = _subs(spark, [
        ("t3_a", "Bob", None, 1, 1), ("t3_b", "bob", None, 1, 2),
        ("t3_c", "amy", None, 1, 3), ("t3_d", "amy", None, 1, 4),
        ("t3_e", "Zed", None, 1, 5),
    ])
    comments = _comments(spark, [
        ("t1_a", "amy", "x", 1, 1), ("t1_b", "carol", "y", 1, 2),
        ("t1_c", "Bob", "z", 1, 3),
    ])
    return breakdown(subs, comments, key="author", key_name="author")


def test_index_constants_byte_parity_with_reference():
    """The listing templates must be byte-exact to the reference's
    module constants (index.py:9-40), reproduced verbatim here —
    including the HTML header/footer's leading newlines (triple-quote
    artifacts the reference's files really contain) and the '%Y %b %d'
    timestamp shape."""
    from timesearch_spark.operators.exports import (
        HTML_FOOTER, HTML_HEADER, LINE_FORMAT_HTML, LINE_FORMAT_TXT)

    # index.py:9-11 / 13-15 (printf-style here, .format there — compare
    # via a rendered sample)
    sample_txt = LINE_FORMAT_TXT % ("2016 Aug 10", "t", "https://x", "u", 5)
    assert sample_txt == "2016 Aug 10: [t](https://x) - /u/u (+5)"
    sample_html = LINE_FORMAT_HTML % (
        "2016 Aug 10", "https://x", "f", "t", "https://a", "u", 5)
    assert sample_html == (
        '<div>2016 Aug 10: <a href="https://x">[f] t</a> - '
        '<a href="https://a">u</a> (+5)</div>'
    )
    # index.py:22-36 / 38-40, byte-exact
    assert HTML_HEADER == (
        '\n<html>\n<head>\n<meta charset="UTF-8">\n<style>\n    *\n    {\n'
        '        font-family: Consolas;\n    }\n</style>\n</head>\n\n<body>\n'
    )
    assert HTML_FOOTER == "\n</body>\n</html>\n"


def _reference_breakdown_dump(results, sort):
    """The reference's sorted breakdown file (breakdown.py:55-88):
    comparator + template + join + brace wrap, verbatim — except that
    ``lower`` is made None-safe, because the reference's own
    ``name.lower()`` cannot sort a NULL key (deleted authors); ours
    sorts it first, as Spark's ascending order does."""
    def lower(n):
        return (n is not None, (n or "").lower())

    # breakdown.py:55-82: comparators return (inverted count, lower name)
    sorters = {
        "name": lambda n: lower(n),
        "submissions": lambda n: (-results[n]["submissions"], lower(n)),
        "comments": lambda n: (-results[n]["comments"], lower(n)),
        "total_posts": lambda n: (
            -(results[n]["submissions"] + results[n]["comments"]), lower(n)),
    }
    # the reference's full-tie order is Python sort STABILITY over dict
    # insertion order (DB iteration); collect() order isn't pinned, so
    # fix the stand-in's base order to exact name — the same refinement
    # breakdown_sorted applies deterministically
    names = sorted(sorted(results, key=lambda n: (n is not None, n or "")),
                   key=sorters[sort])
    # breakdown.py:83-88: the template + join + brace wrap, verbatim
    dump = '    "{name}": {{"submissions": {submissions}, "comments": {comments}}}'
    dump = [dump.format(name=name, **results[name]) for name in names]
    return "{\n" + ",\n".join(dump) + "\n}\n"


def _read_export(path):
    if path.startswith("file://"):
        path = path[len("file://"):]
    with open(path, "rb") as f:
        return f.read().decode("utf-8")


_SORTS = ("name", "submissions", "comments", "total_posts")


def _assert_reference_parity(spark, bd, out, case, sorts=_SORTS,
                             coalesce=True, one_partition=None):
    """Write ``bd`` once per sort and assert each file is byte-identical
    to the reference formatter over ``bd.collect()`` (the collect form).
    ``coalesce=False`` turns post-shuffle coalescing off, so the sorted
    rows stay in the sort's ordered range partitions and the file is
    their concatenation, streamed one partition at a time.
    ``one_partition`` forces the listing sort's size gate open (True:
    one coalesced partition) or shut (False: the range sort); None
    leaves it to the size estimate."""
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    results = {r["author"]: {"submissions": r["submissions"],
                             "comments": r["comments"]}
               for r in bd.collect()}
    prev = spark.conf.get(key)
    if not coalesce:
        spark.conf.set(key, "false")
    try:
        with pytest.MonkeyPatch.context() as mp:
            if one_partition is not None:
                mp.setattr(exports, "_fits_one_partition",
                           lambda df: one_partition)
            files = {}
            for sort in sorts:
                path = write_breakdown(bd, out, case, sort=sort,
                                       key_name="author")
                assert path == f"{out}/{case}_breakdown_{sort}.json"
                ours = _read_export(path)
                assert ours == _reference_breakdown_dump(results, sort), \
                    f"{case} sort={sort} diverges"
                files[sort] = ours
            return files
    finally:
        spark.conf.set(key, prev)


def test_breakdown_pretty_byte_parity_with_reference_formatter(spark, tmp_path):
    """Byte parity of every sorted ``write_breakdown`` file with the
    reference's own pretty format (breakdown.py:55-88) for all four
    sorts over the case-collision/tie fixture, including the
    -count/lower(name) tiebreak order."""
    _assert_reference_parity(spark, _breakdown_fixture(spark),
                             str(tmp_path), "t")


def test_sharded_breakdown_concatenates_to_collect_form(spark, tmp_path):
    """Above the size gate the sorted rows are range-partitioned by the
    sort; the driver writer streams those shards in partition order
    into one file.  With coalescing off the fixture spans several
    shards, and their concatenation must equal the collect form byte
    for byte — the no-trailing-comma last line and case-colliding
    tiebreaks included — for every sort."""
    from timesearch_spark.operators.breakdown import breakdown_sorted

    bd = _breakdown_fixture(spark)
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(exports, "_fits_one_partition", lambda df: False)
            shards = breakdown_sorted(bd, "name", "author").rdd.glom().collect()
    finally:
        spark.conf.set(key, prev)
    assert sum(1 for s in shards if s) > 1
    _assert_reference_parity(spark, bd, str(tmp_path), "t", coalesce=False,
                             one_partition=False)


def _null_key_breakdown(spark):
    return breakdown(
        _subs(spark, [("t3_a", None, None, 1, 1), ("t3_b", None, None, 1, 2),
                      ("t3_c", "amy", None, 1, 3)]),
        _comments(spark, [("t1_a", "zed", "x", 1, 1)]),
        key="author", key_name="author")


def _empty_breakdown(spark):
    return breakdown(
        _subs(spark, [("t3_a", "amy", None, 1, 1)]).limit(0),
        _comments(spark, [("t1_a", "amy", "x", 1, 1)]).limit(0),
        key="author", key_name="author")


def _unicode_breakdown(spark):
    """A seeded 200-name breakdown (unicode, case collisions, count
    ties) from 4-partition inputs."""
    import random

    rng = random.Random(10)
    pool = ["bob", "Bob", "BOB", "ümläut", "Ümläut", "名前", "mixedCase",
            "MIXEDcase", "space name", "tab\tname", "z" * 40]
    names = [rng.choice(pool) + str(rng.randrange(60)) for _ in range(200)]
    return breakdown(
        _subs(spark, [(f"t3_{i}", n, None, 1, i)
                      for i, n in enumerate(names)]).repartition(4),
        _comments(spark, [(f"t1_{i}", n, "x", 1, i) for i, n in
                          enumerate(rng.sample(names, 120))]).repartition(4),
        key="author", key_name="author")


def test_sharded_breakdown_null_key_parity(spark, tmp_path):
    """A NULL grouping key (deleted authors) is rendered as "None" (the
    collect form's str(None) spelling), ordered nulls-first like
    breakdown_sorted, and the last-line comma marking neither mistakes
    it for nor misses the final row."""
    files = _assert_reference_parity(spark, _null_key_breakdown(spark),
                                     str(tmp_path), "n", coalesce=False,
                                     one_partition=False)
    assert files["name"].startswith('{\n    "None": {"submissions": 2')
    assert '"None"' in files["submissions"]


def test_sharded_breakdown_empty_archive_parity(spark, tmp_path):
    """A zero-key breakdown's file is ``{\\n`` + empty body + ``\\n}\\n``
    (a blank line between the braces), even though no row carries the
    blank line."""
    files = _assert_reference_parity(spark, _empty_breakdown(spark),
                                     str(tmp_path), "e", coalesce=False,
                                     one_partition=False)
    assert set(files.values()) == {"{\n\n}\n"}


def test_sharded_breakdown_on_file_scheme_and_randomized_names(spark, tmp_path):
    """The writer works on a scheme:// root and stays byte-identical to
    the collect form on the 200-name fixture, with the streamed rows
    crossing the range sort's 8 uncoalesced partitions."""
    _assert_reference_parity(spark, _unicode_breakdown(spark),
                             f"file://{tmp_path}/exports", "r",
                             coalesce=False, one_partition=False)


@pytest.mark.parametrize("fixture", [
    _breakdown_fixture, _null_key_breakdown, _empty_breakdown,
    _unicode_breakdown,
])
def test_breakdown_sort_arms_write_same_bytes(spark, tmp_path, fixture):
    """Every sorted breakdown file is the same bytes, equal to the
    collect form, whether the listing sort takes one coalesced
    partition or the range-partitioned sort over several."""
    bd = fixture(spark)
    one = _assert_reference_parity(spark, bd, str(tmp_path / "one"), "b",
                                   one_partition=True)
    ranged = _assert_reference_parity(spark, bd, str(tmp_path / "range"),
                                      "b", coalesce=False,
                                      one_partition=False)
    assert one == ranged


# --- C1: anti-join merge (merge_db.py:7-12) ---------------------------------

def test_merge_insert_only_invariant(spark):
    existing = _subs(spark, [("t3_a", "alice", "v1", 1, 10), ("t3_b", "bob", "v1", 2, 11)])
    incoming = _subs(spark, [("t3_b", "bob", "CHANGED", 9, 11), ("t3_c", "carol", "new", 3, 12)])
    merged = anti_join_merge(existing, incoming, key="idstr")
    rows = {r["idstr"]: r for r in merged.collect()}
    assert set(rows) == {"t3_a", "t3_b", "t3_c"}
    # Existing rows are never updated (timesearch.py:350-354).
    assert rows["t3_b"]["selftext"] == "v1" and rows["t3_b"]["score"] == 2
    assert merged.count() == existing.count() + 1


# --- C3/I3/I4: upsert with edit capture ------------------------------------

def test_upsert_insert_and_update(spark):
    snap = _comments(spark, [("t1_a", "alice", "old body", 5, 10)])
    batch = _comments(spark, [("t1_a", "alice", "new body", 7, 10), ("t1_b", "bob", "fresh", 1, 20)])
    res = upsert_snapshot(snap, batch, key="idstr", text_col="body", observed_at=99)
    rows = {r["idstr"]: r for r in res.snapshot.collect()}
    assert set(rows) == {"t1_a", "t1_b"}
    assert rows["t1_a"]["body"] == "new body" and rows["t1_a"]["score"] == 7
    edits = res.edits.collect()
    assert len(edits) == 1
    assert edits[0]["previous_body"] == "old body" and edits[0]["replaced_at"] == 99


def test_upsert_idempotent(spark):
    snap = _comments(spark, [("t1_a", "alice", "body", 5, 10)])
    batch = _comments(spark, [("t1_a", "alice", "body", 5, 10), ("t1_b", "bob", "x", 1, 20)])
    once = upsert_snapshot(snap, batch, key="idstr", text_col="body", observed_at=1)
    twice = upsert_snapshot(once.snapshot, batch, key="idstr", text_col="body", observed_at=2)
    a = sorted(map(tuple, once.snapshot.collect()))
    b = sorted(map(tuple, twice.snapshot.collect()))
    assert a == b
    assert twice.edits.count() == 0  # unchanged text → no edit rows


def test_upsert_null_keeps_old(spark):
    # UPDATE ... SET col = coalesce(new, old): null new values never clobber.
    snap = _comments(spark, [("t1_a", "alice", "body", 5, 10)])
    batch = _comments(spark, [("t1_a", "alice", None, None, 10)])
    res = upsert_snapshot(snap, batch, key="idstr", text_col="body", observed_at=1)
    r = res.snapshot.first()
    assert r["body"] == "body" and r["score"] == 5
    assert res.edits.count() == 0


def test_upsert_deletion_mask(spark):
    # tsdb.py:527-545: author gone + '[removed]' → keep old text, no edit.
    snap = _comments(spark, [("t1_a", "alice", "precious text", 5, 10)])
    batch = _comments(spark, [("t1_a", None, "[removed]", 5, 10)])
    res = upsert_snapshot(snap, batch, key="idstr", text_col="body", observed_at=1)
    assert res.snapshot.first()["body"] == "precious text"
    assert res.edits.count() == 0


def test_upsert_vandalism_mask(spark):
    snap = _comments(spark, [("t1_a", "alice", "precious text", 5, 10)])
    batch = _comments(spark, [("t1_a", "alice", "spam pastebin.com/64GuVi2F spam", 5, 10)])
    res = upsert_snapshot(snap, batch, key="idstr", text_col="body", observed_at=1)
    assert res.snapshot.first()["body"] == "precious text"
    assert res.edits.count() == 0


def test_upsert_later_wins_within_batch(spark):
    # C4/E3: dummy then live copy in one batch — the later (higher order) wins.
    snap = _comments(spark, [])
    batch = spark.createDataFrame(
        [
            Row(idstr="t1_a", author="alice", body="dummy", score=1, created=10, source_priority=1),
            Row(idstr="t1_a", author="alice", body="live", score=2, created=10, source_priority=2),
        ]
    )
    res = upsert_snapshot(
        snap.limit(0), batch, key="idstr", text_col="body",
        observed_at=1, batch_order_col="source_priority",
    )
    r = res.snapshot.first()
    assert r["body"] == "live" and r["score"] == 2


def test_upsert_tagged_union_matches_join_twin(spark):
    """Equivalence proof for the r16 tagged-union merge rewrite: a
    test-local replica of the ORIGINAL full-outer-join upsert (the
    pre-r16 implementation, verbatim) must produce the same snapshot
    AND the same edit-capture rows as the operator, on a fixture that
    exercises every rule: plain update, no-change, null-never-clobbers,
    deletion masking, vandalism masking, insert-only, old-only, and
    edited-timestamp capture.  Pins the merge semantics to the join
    formulation forever, whatever the physical plan does."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from timesearch_spark.operators.upsert import upsert_snapshot

    # test-local copies of the Column formulation the operator used
    # before its projection became SQL text — independent of the
    # operator's own code
    COMMENT_MUTABLE = ["score", "body", "distinguish"]
    GREASY = ["has been overwritten", "pastebin.com/64GuVi2F"]

    def _latest_per_key(batch, key, order_col):
        order_exprs = []
        if order_col is not None:
            order_exprs.append(F.col(order_col).desc())
        if "created" in batch.columns:
            order_exprs.append(F.col("created").desc())
        batch = batch.withColumn("__arrival", F.monotonically_increasing_id())
        order_exprs.append(F.col("__arrival").desc())
        w = Window.partitionBy(key).orderBy(*order_exprs)
        return (
            batch.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn", "__arrival")
        )

    def _is_deleted(author_col, text_col):
        removed = text_col.isin("[removed]", "[deleted]")
        greasy = F.lit(False)
        for marker in GREASY:
            greasy = greasy | text_col.contains(marker)
        author_gone = author_col.isNull() | (
            F.lower(author_col) == F.lit("[deleted]")
        )
        return (author_gone & removed) | greasy

    def join_twin(snapshot, batch, key="idstr", text_col="body",
                  author_col="author", edited_ts_col="edited",
                  observed_at=None):
        mutable = COMMENT_MUTABLE
        cols = snapshot.columns
        batch = _latest_per_key(batch, key, None)
        old = snapshot.alias("old")
        new = batch.alias("new")
        joined = old.join(
            new, on=F.col(f"old.{key}") == F.col(f"new.{key}"),
            how="full_outer")
        okey, nkey = F.col(f"old.{key}"), F.col(f"new.{key}")
        matched = okey.isNotNull() & nkey.isNotNull()
        deleted = _is_deleted(
            F.col(f"new.{author_col}"), F.col(f"new.{text_col}"))
        out_cols = []
        for c in cols:
            oc = F.col(f"old.{c}")
            nc = F.col(f"new.{c}") if c in batch.columns else F.lit(None)
            if c == key:
                expr = F.coalesce(oc, nc)
            elif c == text_col and c in mutable:
                expr = F.when(matched & deleted, oc).otherwise(
                    F.when(matched, F.coalesce(nc, oc))
                    .otherwise(F.coalesce(oc, nc)))
            elif c in mutable:
                expr = F.when(matched, F.coalesce(nc, oc)).otherwise(
                    F.coalesce(oc, nc))
            else:
                expr = F.coalesce(oc, nc)
            out_cols.append(expr.alias(c))
        new_snapshot = joined.select(*out_cols)
        replaced_at = F.lit(observed_at).cast("long")
        if edited_ts_col and edited_ts_col in batch.columns:
            replaced_at = F.coalesce(
                F.col(f"new.{edited_ts_col}").cast("long"), replaced_at)
        text_changed = (
            matched & ~deleted & F.col(f"new.{text_col}").isNotNull()
            & (F.col(f"old.{text_col}").isNull()
               | (F.col(f"old.{text_col}") != F.col(f"new.{text_col}"))))
        edits = joined.filter(text_changed).select(
            okey.alias(key),
            F.col(f"old.{text_col}").alias(f"previous_{text_col}"),
            replaced_at.alias("replaced_at"))
        return new_snapshot, edits

    snap = _comments(spark, [
        ("t1_upd", "alice", "old text", 5, 10),      # plain update
        ("t1_same", "bob", "same", 1, 11),           # no change
        ("t1_null", "carol", "keep", 2, 12),         # null never clobbers
        ("t1_del", "dave", "precious", 3, 13),       # deletion mask
        ("t1_van", "eve", "precious2", 4, 14),       # vandalism mask
        ("t1_oldonly", "fred", "untouched", 6, 15),  # no batch row
        ("t1_nulltext", "gina", None, 7, 16),        # old text NULL + new
    ])
    batch = spark.createDataFrame(
        [
            ("t1_upd", "alice", "new text", 9, 10, 777),
            ("t1_same", "bob", "same", 1, 11, None),
            ("t1_null", None, None, None, 12, None),
            ("t1_del", None, "[removed]", 3, 13, None),
            ("t1_van", "eve", "x pastebin.com/64GuVi2F y", 4, 14, None),
            ("t1_new", "hank", "fresh", 8, 20, None),   # insert
            ("t1_nulltext", "gina", "now set", 7, 16, None),
            ("t1_twice", "ivy", "first copy", 1, 30, None),  # later wins
            ("t1_twice", "ivy", "second copy", 2, 30, None),
        ],
        "idstr string, author string, body string, score long, "
        "created long, edited long",
    )
    got = upsert_snapshot(snap, batch, key="idstr", text_col="body",
                          observed_at=99)
    want_snap, want_edits = join_twin(snap, batch, observed_at=99)
    assert sorted(map(tuple, got.snapshot.collect())) == \
        sorted(map(tuple, want_snap.collect()))
    assert sorted(map(tuple, got.edits.collect())) == \
        sorted(map(tuple, want_edits.collect()))
    # the edit rows themselves: changed text captured with the batch's
    # edited timestamp, observation time when absent
    edits = {r["idstr"]: r for r in got.edits.collect()}
    assert set(edits) == {"t1_upd", "t1_nulltext"}
    assert edits["t1_upd"]["previous_body"] == "old text"
    assert edits["t1_upd"]["replaced_at"] == 777
    assert edits["t1_nulltext"]["previous_body"] is None
    assert edits["t1_nulltext"]["replaced_at"] == 99


def test_salted_topk_matches_plain_window(spark):
    """operators.skew.topk_per_group must return EXACTLY the rows of the
    single-window row_number form, for any salt assignment — here on the
    real lineitem table against the oracled window_rank_children."""
    import __spark_entry__ as entrymod
    from tests.conftest import SF_SMALL

    qs = entrymod.queries()
    plain = {tuple(r) for r in qs["window_rank_children"](spark, SF_SMALL).collect()}
    salted = {tuple(r) for r in qs["window_rank_salted"](spark, SF_SMALL).collect()}
    assert plain == salted and len(plain) > 0


def test_salted_topk_handles_duplicate_order_values(spark):
    # all rows tie on the order column; row_number's within-shard then
    # final ranking must still yield exactly k rows per group
    from pyspark.sql import functions as F

    from timesearch_spark.operators.skew import topk_per_group

    df = spark.range(200).select(
        (F.col("id") % 2).alias("g"), F.lit(1.0).alias("v"), F.col("id")
    )
    out = topk_per_group(df, ["g"], [F.col("v").desc(), F.col("id").asc()], k=5)
    rows = out.collect()
    assert len(rows) == 10
    assert {r["g"] for r in rows} == {0, 1}
    assert sorted(r["id"] for r in rows if r["g"] == 0) == [0, 2, 4, 6, 8]


def test_retention_cohorts(spark):
    """Hand-computed cohort table: users keyed by first-activity day,
    counted on each day they return."""
    from timesearch_spark.operators import windows as win

    DAY = 86400
    rows = [
        # u1: first day 0, returns day 1 and 2 (twice -> still one count)
        ("e1", 0 * DAY + 10, "u1"), ("e2", 1 * DAY + 5, "u1"),
        ("e3", 2 * DAY + 1, "u1"), ("e4", 2 * DAY + 2, "u1"),
        # u2: first day 0, never returns
        ("e5", 0 * DAY + 99, "u2"),
        # u3: first day 1, returns day 2
        ("e6", 1 * DAY + 50, "u3"), ("e7", 2 * DAY + 60, "u3"),
    ]
    events = spark.createDataFrame(
        [(i, ts * 10**9, u, "click", 1.0) for (i, ts, u) in rows],
        "event_id string, ts long, user_id string, event_type string, value double",
    )
    out = {(r["cohort_period"], r["period_offset"]): r["n_users"]
           for r in win.retention_cohorts(events).collect()}
    assert out == {
        (0, 0): 2,          # u1, u2 start day 0
        (0, 1): 1,          # u1 returns day 1
        (0, 2): 1,          # u1 returns day 2 (deduped)
        (DAY, 0): 1,        # u3 starts day 1
        (DAY, 1): 1,        # u3 returns day 2
    }


def test_funnel_progression(spark):
    """Ordered progression: a 'buy' before any 'view' must not count."""
    from timesearch_spark.operators import windows as win

    rows = [
        # u1 completes view -> click -> buy in order
        ("e1", 10, "u1", "view"), ("e2", 20, "u1", "click"), ("e3", 30, "u1", "buy"),
        # u2 views then buys (no click): reaches stage 1 only
        ("e4", 10, "u2", "view"), ("e5", 20, "u2", "buy"),
        # u3 buys FIRST, then views then clicks: stages 1..2, buy mustn't count
        ("e6", 5, "u3", "buy"), ("e7", 10, "u3", "view"), ("e8", 20, "u3", "click"),
        # u4 never does a funnel step
        ("e9", 10, "u4", "scroll"),
    ]
    events = spark.createDataFrame(
        [(i, ts * 10**9, u, t, 0.0) for (i, ts, u, t) in rows],
        "event_id string, ts long, user_id string, event_type string, value double",
    )
    # the salted twin folds 10 s chunks (every step its own bucket) and
    # must give the same literal ladders
    salted = partial(win.funnel_progression_salted, bucket_sec=10)
    for funnel in (win.funnel_progression, salted):
        out = {r["stage"]: r["n_users"] for r in
               funnel(events, ["view", "click", "buy"]).collect()}
        assert out == {1: 3, 2: 2, 3: 1}
    # spine completeness: when every funnel user completes every stage,
    # intermediate stages still get their cumulative rows
    solo = spark.createDataFrame(
        [("e1", 10 * 10**9, "u1", "view", 0.0),
         ("e2", 20 * 10**9, "u1", "buy", 0.0)],
        "event_id string, ts long, user_id string, event_type string, value double",
    )
    for funnel in (win.funnel_progression, salted):
        out2 = {r["stage"]: r["n_users"] for r in
                funnel(solo, ["view", "buy"]).collect()}
        assert out2 == {1: 1, 2: 1}


def test_funnel_ladders_have_no_window(spark):
    """The cumulative stage ladder is one aggregate over exploded
    stages, so the all-time funnels' optimized plans hold no Window
    node (the ladder's unpartitioned window ran on one task and logged
    Spark's "No Partition Defined" warning on every call)."""
    from timesearch_spark.operators import windows as win

    events = spark.createDataFrame(
        [("e1", 10 * 10**9, "u1", "view", 0.0)],
        "event_id string, ts long, user_id string, event_type string, value double",
    )
    for funnel in (win.funnel_progression, win.funnel_progression_salted):
        out = funnel(events, ["view", "buy"])
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert "Window" not in plan, funnel.__name__
        assert [tuple(r) for r in out.collect()] == [(1, 1), (2, 0)]


def test_funnel_salted_matches_plain(spark):
    """The chunk-transition salted funnel is EXACT: identical ladder to
    the plain one-shuffle fold on golden and randomized inputs, with
    bucket boundaries landing mid-progression."""
    import random

    from timesearch_spark.operators import windows as win

    rng = random.Random(88)
    rows = []
    eid = 0
    for u in range(12):
        for _ in range(rng.randrange(1, 40)):
            eid += 1
            # spread over ~5 buckets at bucket_sec=100
            rows.append(
                (f"e{eid}", rng.randrange(0, 500) * 10**9, f"u{u}",
                 rng.choice(["view", "click", "buy", "scroll"]), 0.0)
            )
    # one "bot" user with a dense burst crossing bucket boundaries
    for ts in range(95, 305):
        eid += 1
        rows.append(
            (f"e{eid}", ts * 10**9, "bot",
             ["view", "click", "buy"][ts % 3], 0.0)
        )
    events = spark.createDataFrame(
        rows,
        "event_id string, ts long, user_id string, event_type string, value double",
    )
    steps = ["view", "click", "buy"]
    plain = {r["stage"]: r["n_users"]
             for r in win.funnel_progression(events, steps).collect()}
    salted = {r["stage"]: r["n_users"]
              for r in win.funnel_progression_salted(
                  events, steps, bucket_sec=100).collect()}
    assert plain == salted


def test_sessionize_salted_matches_plain(spark):
    """Exact parity including session ids: chunk-local sessions plus
    calendar-bounded seam merging reproduce the plain per-user window
    byte-for-byte — multi-chunk chains, interior sessions, single-event
    users, and seams that do and don't merge."""
    import random

    from timesearch_spark.operators import windows as win

    rng = random.Random(4040)
    for trial in range(3):
        rows, eid = [], 0
        for u in range(12):
            t = rng.randrange(0, 80)
            for _ in range(rng.randrange(1, 60)):
                t += rng.choice([1, 2, 5, 45, 60, 120, 250])
                eid += 1
                rows.append((f"e{eid}", t * 10**9, f"u{u}", "view", 0.0))
        # a continuous "bot" stream: one session chaining through many
        # bucket seams end-to-end
        for t in range(500, 900, 10):
            eid += 1
            rows.append((f"e{eid}", t * 10**9, "bot", "view", 0.0))
        events = spark.createDataFrame(
            rows,
            "event_id string, ts long, user_id string, "
            "event_type string, value double",
        )
        plain = sorted(
            map(tuple, win.sessionize(events, gap_sec=40).collect())
        )
        salted = sorted(
            map(
                tuple,
                win.sessionize_salted(
                    events, gap_sec=40, bucket_sec=100
                ).collect(),
            )
        )
        assert plain == salted, f"trial {trial}"
        bot = [r for r in plain if r[0] == "bot"]
        assert len(bot) == 1 and bot[0][4] == 40  # one chained session


def test_sessionize_salted_adversarial_boundaries(spark):
    """Seam edge cases, with gap_sec LARGER than bucket_sec so merge
    chains must cross EMPTY buckets: events pinned to bucket
    boundaries, deltas exactly == gap (merge) and gap+1 (break),
    duplicate timestamps straddling a boundary, single-event users."""
    from timesearch_spark.operators import windows as win

    rows, eid = [], 0

    def ev(u, t):
        nonlocal eid
        eid += 1
        return (f"e{eid}", t * 10**9, u, "view", 0.0)

    rows += [ev("bound", t) for t in (0, 10, 20, 30, 40)]     # on boundaries
    rows += [ev("exact", t) for t in (5, 40, 75, 110)]        # delta == gap
    rows += [ev("break", t) for t in (5, 41, 77)]             # delta == gap+1
    rows += [ev("dup", t) for t in (9, 9, 10, 10, 10, 11)]    # duplicate ts
    rows += [ev("solo", 3)]
    rows += [ev("empty_gap", t) for t in (5, 38, 71, 140)]    # crosses empty
    events = spark.createDataFrame(
        rows,
        "event_id string, ts long, user_id string, "
        "event_type string, value double",
    )
    # gap 35 > bucket 10: chunk seams at every boundary, merges must
    # chain across buckets with no events at all
    plain = sorted(map(tuple, win.sessionize(events, gap_sec=35).collect()))
    salted = sorted(
        map(
            tuple,
            win.sessionize_salted(events, gap_sec=35, bucket_sec=10).collect(),
        )
    )
    # both forms share one session rule, so parity alone cannot catch a
    # drift in it: pin the hand-derived sessions (user, session_id,
    # session_start, session_end, n_events) — a delta == gap continues
    # a session, gap+1 starts one, ids are 1-based in time order
    assert plain == [
        ("bound", 1, 0, 40, 5),
        ("break", 1, 5, 5, 1),
        ("break", 2, 41, 41, 1),
        ("break", 3, 77, 77, 1),
        ("dup", 1, 9, 11, 6),
        ("empty_gap", 1, 5, 71, 3),
        ("empty_gap", 2, 140, 140, 1),
        ("exact", 1, 5, 110, 4),
        ("solo", 1, 3, 3, 1),
    ]
    assert plain == salted


def test_session_funnel_salted_matches_plain(spark):
    """Chunk-merged sessionization + composed per-session vectors give
    the exact plain session_funnel ladder: seams that merge (dense
    bursts crossing bucket edges), seams that don't, single-session
    chunks, and interior sessions are all exercised by the fuzz loop."""
    import random

    from timesearch_spark.operators import windows as win

    rng = random.Random(808)
    steps = ["view", "click", "buy"]
    for trial in range(3):
        rows, eid = [], 0
        for u in range(10):
            t = rng.randrange(0, 50)
            for _ in range(rng.randrange(1, 50)):
                # mixed small and large gaps: some cross the gap_sec=40
                # boundary (new session), some cross bucket_sec=100
                # seams without a session break (merge path)
                t += rng.choice([1, 2, 5, 45, 60, 120])
                eid += 1
                rows.append(
                    (f"e{eid}", t * 10**9, f"u{u}",
                     rng.choice(steps + ["scroll"]), 0.0)
                )
        events = spark.createDataFrame(
            rows,
            "event_id string, ts long, user_id string, "
            "event_type string, value double",
        )
        plain = {r["stage"]: r["n_users"]
                 for r in win.session_funnel(events, steps, gap_sec=40).collect()}
        salted = {r["stage"]: r["n_users"]
                  for r in win.session_funnel_salted(
                      events, steps, gap_sec=40, bucket_sec=100).collect()}
        assert plain == salted, f"trial {trial}: {plain} != {salted}"


def test_trending_topk(spark):
    from timesearch_spark.operators import windows as win

    H = 3600
    rows = (
        [("a", 5), ("b", 3), ("c", 1)],          # hour 0 counts
        [("b", 4), ("c", 4), ("d", 2)],          # hour 1: tie b/c -> key asc
    )
    data = []
    eid = 0
    for hour, counts in enumerate(rows):
        for key, n in counts:
            for _ in range(n):
                data.append((f"e{eid}", (hour * H + eid % 60) * 10**9, "u", key, 0.0))
                eid += 1
    events = spark.createDataFrame(
        data, "event_id string, ts long, user_id string, event_type string, value double")
    out = {(r["window_start"], r["rn"]): (r["event_type"], r["n"])
           for r in win.trending_topk(events, "1 hour", k=2).collect()}
    import datetime as dt

    h0 = dt.datetime(1970, 1, 1, 0, 0)
    h1 = dt.datetime(1970, 1, 1, 1, 0)
    assert out[(h0, 1)] == ("a", 5) and out[(h0, 2)] == ("b", 3)
    assert out[(h1, 1)] == ("b", 4) and out[(h1, 2)] == ("c", 4)  # tie: b before c


def test_rate_anomalies_flags_spike_not_noise(spark):
    from timesearch_spark.operators import windows as win

    H = 3600
    data = []
    eid = 0
    # 11 steady hours of ~10 events, then one 100-event spike hour
    for hour in range(12):
        n = 100 if hour == 11 else 10 + (hour % 2)  # mild jitter
        for _ in range(n):
            data.append((f"e{eid}", (hour * H + eid % 60) * 10**9,
                         "u", "click", 0.0))
            eid += 1
    events = spark.createDataFrame(
        data, "event_id string, ts long, user_id string, event_type string, value double")
    out = win.rate_anomalies(events, "1 hour", trailing=24, z=3.0).collect()
    assert len(out) == 1
    row = out[0]
    assert row["n"] == 100 and row["zscore"] > 3
    import datetime as dt

    assert row["window_start"] == dt.datetime(1970, 1, 1, 11, 0)


def test_window_percentiles(spark):
    from timesearch_spark.operators import windows as win

    H = 3600
    data = []
    for i in range(100):  # hour 0: values 1..100
        data.append((f"a{i}", (0 * H + i % 60) * 10**9, "u", "lat", float(i + 1)))
    for i in range(10):   # hour 1: values 10..100 step 10
        data.append((f"b{i}", (1 * H + i) * 10**9, "u", "lat", float((i + 1) * 10)))
    events = spark.createDataFrame(
        data, "event_id string, ts long, user_id string, event_type string, value double")
    out = {r["window_start"].hour: r for r in
           win.window_percentiles(events, "1 hour").collect()}
    assert out[0]["n"] == 100 and out[1]["n"] == 10
    assert 49 <= out[0]["p50"] <= 51          # median of 1..100
    assert 94 <= out[0]["p95"] <= 96
    assert out[1]["p50"] in (50.0, 60.0)      # median of 10..100 (10 values)


def test_session_funnel_resets_at_session_boundaries(spark):
    from timesearch_spark.operators import windows as win

    rows = [
        # u1: view and buy in ONE session -> converts
        ("e1", 100, "u1", "view"), ("e2", 200, "u1", "buy"),
        # u2: view, then a >gap pause, then buy -> two sessions, no conversion
        ("e3", 100, "u2", "view"), ("e4", 100 + 4000, "u2", "buy"),
    ]
    events = spark.createDataFrame(
        [(i, ts * 10**9, u, t, 0.0) for (i, ts, u, t) in rows],
        "event_id string, ts long, user_id string, event_type string, value double",
    )
    # the salted twin at 150 s buckets: u1's session merges across a
    # bucket seam, u2's pause breaks one
    salted = partial(win.session_funnel_salted, bucket_sec=150)
    for funnel in (win.session_funnel, salted):
        scoped = {r["stage"]: r["n_users"] for r in
                  funnel(events, ["view", "buy"], gap_sec=1800).collect()}
        assert scoped == {1: 2, 2: 1}   # u2 stops at stage 1 in-session
    alltime = {r["stage"]: r["n_users"] for r in
               win.funnel_progression(events, ["view", "buy"]).collect()}
    assert alltime == {1: 2, 2: 2}  # the all-time funnel counts u2 too


def test_rate_anomalies_flags_break_from_flat_history(spark):
    """stddev == 0 (perfectly constant rate) then a deviation: the
    infinite-z case must flag (outage/spike of a steady service), with
    null zscore standing in for infinity."""
    from timesearch_spark.operators import windows as win

    H = 3600
    data = []
    eid = 0
    for hour in range(12):
        n = 100 if hour == 11 else 10  # EXACTLY 10/hour, then a spike
        for _ in range(n):
            data.append((f"e{eid}", (hour * H + eid % 60) * 10**9,
                         "u", "click", 0.0))
            eid += 1
    events = spark.createDataFrame(
        data,
        "event_id string, ts long, user_id string, event_type string, value double")
    out = win.rate_anomalies(events, "1 hour", trailing=24, z=3.0).collect()
    assert len(out) == 1
    row = out[0]
    assert row["n"] == 100 and row["stddev"] == 0.0 and row["zscore"] is None


def test_breakdown_null_key_group_stays_one_row(spark):
    """NULL grouping keys (deleted authors) must merge into ONE zero-
    filled row across both sides — a plain USING join splits them and
    the JSON export then drops one of the counts."""
    from timesearch_spark.operators.breakdown import breakdown

    subs = spark.createDataFrame(
        [("u1",), (None,), (None,)], "author string")
    comms = spark.createDataFrame(
        [("u1",), ("u1",), (None,)], "author string")
    rows = {r["author"]: (r["submissions"], r["comments"])
            for r in breakdown(subs, comms, key="author").collect()}
    assert len(rows) == 2
    assert rows["u1"] == (1, 2) and rows[None] == (2, 1)


def test_sessionize_salted_keeps_null_user(spark):
    """Review r8 follow-up: a NULL user_id is one group to the plain
    window (nulls partition together); the chunk join must be
    null-safe, not silently drop the group."""
    from timesearch_spark.operators import windows as win

    rows = [
        ("e1", 10 * 10**9, None, "view", 0.0),
        ("e2", 20 * 10**9, None, "view", 0.0),
        ("e3", 300 * 10**9, None, "view", 0.0),   # second session
        ("e4", 10 * 10**9, "u1", "view", 0.0),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id string, ts long, user_id string, "
        "event_type string, value double",
    )
    plain = sorted(
        map(tuple, win.sessionize(ev, gap_sec=40).collect()), key=str
    )
    salted = sorted(
        map(
            tuple,
            win.sessionize_salted(ev, gap_sec=40, bucket_sec=100).collect(),
        ),
        key=str,
    )
    assert plain == salted
    assert sum(1 for r in plain if r[0] is None) == 2


def test_unsorted_breakdown_streamed_byte_identity(spark, tmp_path):
    """The unsorted ``write_breakdown`` file streams row by row yet must
    be the reference's single-line ``json.dumps`` of the whole dict
    (breakdown.py:88), no trailing newline, keys in row order — checked
    against a test-local json.dumps twin on the tie fixture, a NULL key
    (``null``), the empty breakdown (``{}``) and 50 keys from 4
    partitions."""
    import json as _json

    def twin(bd):
        return _json.dumps({r["author"]: {"submissions": r["submissions"],
                                          "comments": r["comments"]}
                            for r in bd.collect()})

    subs = _subs(spark, [("t3_a", None, None, 1, 1), ("t3_b", "amy", None, 1, 2)])
    comments = _comments(spark, [("t1_a", "zed", "x", 1, 1)])
    null = breakdown(subs, comments, key="author", key_name="author")
    fifty = breakdown(
        _subs(spark, [(f"t3_{i}", f"user{i:03d}", None, 1, i)
                      for i in range(50)]).repartition(4),
        _comments(spark, [("t1_a", "user000", "x", 1, 1)]),
        key="author", key_name="author").repartition(4)
    cases = {"ties": _breakdown_fixture(spark), "null": null,
             "empty": _breakdown_fixture(spark).limit(0), "fifty": fifty}
    for case, bd in cases.items():
        path = write_breakdown(bd, str(tmp_path / case), case,
                               key_name="author")
        assert path == str(tmp_path / case / f"{case}_breakdown.json")
        got = _read_export(path)
        assert got == twin(bd) and not got.endswith("\n"), case
    assert '"null": {"submissions": 1, "comments": 0}' in _read_export(
        str(tmp_path / "null" / "null_breakdown.json"))
    assert _read_export(str(tmp_path / "empty" / "empty_breakdown.json")) == "{}"


def test_unsorted_breakdown_streamed_past_collect_bound(spark, tmp_path):
    """The unsorted file has no key cap to refuse past: its rows stream
    to the driver one partition at a time, so 5,000 keys over 8
    partitions are written whole as one valid dump."""
    import json as _json

    subs = spark.range(5000).selectExpr(
        "concat('t3_', id) AS idstr", "format_string('user%04d', id) AS author",
        "CAST(NULL AS string) AS selftext", "1L AS score", "id AS created")
    comments = _comments(spark, [("t1_a", "user0000", "x", 1, 1)])
    bd = breakdown(subs, comments, key="author",
                   key_name="author").repartition(8)
    got = _json.loads(_read_export(
        write_breakdown(bd, str(tmp_path), "big", key_name="author")))
    assert len(got) == 5000
    assert got["user0007"] == {"submissions": 1, "comments": 0}
    assert got["user0000"] == {"submissions": 1, "comments": 1}
