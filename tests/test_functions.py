"""Scalar function library vs the reference's Python semantics."""

from __future__ import annotations

from pyspark.sql import functions as F

from timesearch_spark import functions as tsf


def _one(spark, col):
    return spark.range(1).select(col.alias("v")).first()["v"]


def test_base36_roundtrip(spark):
    # negatives included: the reference's encode carries a '-' sign
    # (common.py:50-65) and int(x, 36) accepts '-zz'; F.conv alone would
    # wrap them as unsigned 2^64 complements (r10 parity fix)
    # incl. the signed-64 extremes: Long.MIN_VALUE's magnitude (2^63)
    # doesn't fit a signed long, so both directions route through
    # decimal(20,0) — the reference's arbitrary-precision int() has no
    # such edge and neither may we (r10 verdict item 6)
    df = spark.createDataFrame(
        [(i,) for i in [1, 35, 36, 12345, 2**40, 0, -1, -12345,
                        2**63 - 1, -(2**63)]], "n long"
    )
    out = df.select(
        "n",
        tsf.base36_encode("n").alias("enc"),
        tsf.base36_decode(tsf.base36_encode("n")).alias("dec"),
    ).collect()
    for r in out:
        # reference common.py:43-65: int(x, 36) / lowercase encode
        assert r["dec"] == r["n"]
        assert int(r["enc"], 36) == r["n"]


def test_prefix_helpers(spark):
    df = spark.createDataFrame([("abc123",), ("t3_zzz",)], "id string")
    rows = df.select(
        tsf.with_prefix("id", "t3_").alias("p"),
        tsf.strip_prefix(tsf.with_prefix("id", "t3_")).alias("bare"),
    ).collect()
    assert rows[0]["p"] == "t3_abc123" and rows[0]["bare"] == "abc123"
    assert rows[1]["p"] == "t3_zzz" and rows[1]["bare"] == "zzz"  # no double prefix


def test_html_escape_ref_typo(spark):
    # offline_reading.py:285-290 writes '&rt;' for '>' — reproduced [sic].
    v = _one(spark, tsf.html_escape_ref(F.lit("<a>&")))
    assert v == "&lt;a&rt;&"


def test_html_unescape(spark):
    v = _one(spark, tsf.html_unescape_basic(F.lit("&lt;b&gt; &amp;&quot;&#39;")))
    assert v == "<b> &\"'"


def test_time_formats(spark):
    # 2024-01-02 03:04:05 UTC = 1704164645
    v = _one(spark, tsf.human_time(F.lit(1704164645)))
    assert v == "Jan 02 2024 03:04:05"  # strftime '%b %d %Y %H:%M:%S'
    v = _one(spark, tsf.listing_time(F.lit(1704164645)))
    assert v == "2024 Jan 02"  # strftime '%Y %b %d' (index.py:17)


def test_split_any(spark):
    # common.py:135-140: split on '+', ' ', ',' dropping empties.
    v = _one(spark, tsf.split_any(F.lit("a+b c,d++e")))
    assert v == ["a", "b", "c", "d", "e"]


def test_sanitize_braces(spark):
    v = _one(spark, tsf.sanitize_braces(F.lit("{x}")))
    assert v == "{{x}}"


def test_author_display(spark):
    v = _one(spark, tsf.author_display(F.lit(None).cast("string")))
    assert v == "[DELETED]"


def test_markdown_lite_subset():
    from timesearch_spark.functions.markdown_lite import render

    assert render(None) is None
    assert render("hello world") == "<p>hello world</p>"
    assert render("# Title") == "<h1>Title</h1>"
    assert render("para one\n\npara two") == "<p>para one</p>\n<p>para two</p>"
    assert render("**b** and *i* and `c`") == (
        "<p><strong>b</strong> and <em>i</em> and <code>c</code></p>"
    )
    assert render("[x](http://y)") == '<p><a href="http://y">x</a></p>'
    assert render("> quoted") == "<blockquote>\n<p>quoted</p>\n</blockquote>"
    assert render("- a\n- b") == "<ul>\n<li>a</li>\n<li>b</li>\n</ul>"
    # entity-aware ampersand escaping (markdown's smart-amp rule): the
    # reference pre-escapes brackets, so '&lt;'/'&rt;' [sic] must survive
    assert render("a &lt;b&rt; c & d") == "<p>a &lt;b&rt; c &amp; d</p>"
    assert render("1 < 2 > 0") == "<p>1 &lt; 2 &gt; 0</p>"
    # ordered lists
    assert render("1. a\n2. b") == "<ol>\n<li>a</li>\n<li>b</li>\n</ol>"
    assert render("1. *a*") == "<ol>\n<li><em>a</em></li>\n</ol>"
    # fenced code: no inline processing, brackets escaped, blank lines kept
    assert render("```\nx = 1\n\ny < 2\n```") == (
        "<pre><code>x = 1\n\ny &lt; 2\n</code></pre>"
    )
    assert render("before\n\n```py\n**not bold**\n```\n\nafter") == (
        "<p>before</p>\n<pre><code>**not bold**\n</code></pre>\n<p>after</p>"
    )
    # indented code blocks (python-markdown core behavior)
    assert render("    code line") == "<pre><code>code line\n</code></pre>"
    # an unterminated fence is not a fence
    assert render("``` not code") == "<p>``` not code</p>"
    # a quote in the url cannot break out of the href attribute
    assert render('[x](u"onclick=y)') == '<p><a href="u&quot;onclick=y">x</a></p>'


def test_markdown_lite_total_on_arbitrary_text():
    """The renderer is exposed to arbitrary comment bodies: it must be
    pure and total — always a string, never an exception, deterministic,
    and never leaking an unescaped raw '<' outside the tags it emits."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from timesearch_spark.functions.markdown_lite import render

    @settings(max_examples=300, deadline=None)
    @given(st.text(max_size=400))
    def check(s):
        out = render(s)
        assert isinstance(out, str)
        assert render(s) == out  # deterministic
        # every '<' in the output opens a tag this renderer emits
        import re

        for m in re.finditer(r"<", out):
            tail = out[m.start():]
            assert re.match(
                r"</?(p|h[1-6]|blockquote|ul|ol|li|pre|code|strong|em|a)\b", tail
            ), tail[:40]

    check()


def test_markdown_render_total_on_nul_bytes():
    """ADVICE r4 regression: NUL-delimited digit runs in corpus text
    collided with the fence-placeholder encoding and raised IndexError,
    violating render()'s never-raises contract."""
    from timesearch_spark.functions.markdown_lite import render

    assert render("\x000\x00") == "<p>0</p>"
    assert render("a\x00b") == "<p>ab</p>"
    out = render("```\ncode\n```\n\n\x005\x00")
    assert "<pre><code>" in out and "5" in out


def test_markdown_package_branch(monkeypatch):
    """The markdown-present arm (functions/__init__.py) must wire the real
    package through the SAME Arrow pandas_udf shape as the subset arm —
    proven with a fake `markdown` module in sys.modules + module reload."""
    import importlib
    import sys
    import types

    import pandas as pd

    import timesearch_spark.functions as fn

    fake = types.ModuleType("markdown")

    def _fake_md(s, output_format=None):
        # the arm must pass the reference's output_format='html5'
        # (offline_reading.py:291, get_wiki.py:25)
        assert output_format == "html5"
        return "<MD>%s</MD>" % s

    fake.markdown = _fake_md
    monkeypatch.setitem(sys.modules, "markdown", fake)
    importlib.reload(fn)
    try:
        assert fn.HAS_MARKDOWN is True
        # escape-then-render composition parity (offline_reading.py:285-291):
        # the body reaching markdown is already '&lt;'/'&rt;'-escaped
        out = fn.markdown_render.func(pd.Series(["&lt;b&rt; *x*", None]))
        assert list(out) == ["<MD>&lt;b&rt; *x*</MD>", None]
    finally:
        monkeypatch.delitem(sys.modules, "markdown", raising=False)
        importlib.reload(fn)
    assert fn.HAS_MARKDOWN is False


def test_markdown_code_spans_stay_literal():
    """python-markdown keeps code-span content literal: link/em/strong
    syntax inside backticks must not render."""
    from timesearch_spark.functions.markdown_lite import render

    out = render("`[x](y)` and [a](b) and `**bold**`")
    assert "<code>[x](y)</code>" in out
    assert "<code>**bold**</code>" in out
    assert '<a href="b">a</a>' in out


def test_sqlexpr_round_trips_adversarial_names_and_literals(spark):
    """Names and values spliced into SQL text through ``sqlexpr`` parse
    back as themselves: backticks, quotes, backslashes, dots, comment
    openers, the vandalism markers the upsert splices as literals and the
    stopwords the text profile splices."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from timesearch_spark.functions.sqlexpr import ident, lit
    from timesearch_spark.operators.textstats import STOPWORDS
    from timesearch_spark.operators.upsert import GREASY

    tricky = st.sampled_from([
        "`", "``", "'", "''", "\\", "\\'", "\\\\", '"', "a.b", " ", "--",
        "/*", "*/", ";", ")", "\\u0041", "\\n", "%", "_", "\n", "NULL",
        "select", "[removed]", *GREASY,
    ])
    text = st.lists(st.one_of(tricky, st.text(max_size=5)), max_size=4).map("".join)
    value = st.one_of(text, st.none(), st.booleans(),
                      st.integers(-(2 ** 63) + 1, 2 ** 63 - 1))

    @settings(max_examples=40, deadline=None)
    @given(st.lists(st.tuples(text.filter(bool), value), min_size=1,
                    max_size=6, unique_by=lambda p: p[0]))
    def check(pairs):
        df = spark.range(1).selectExpr(
            *[f"{lit(v)} AS {ident(k)}" for k, v in pairs])
        assert df.columns == [k for k, _ in pairs]
        assert list(df.first()) == [v for _, v in pairs]

    check()

    # every stopword text_profile_table splices into its IN lists
    words = sorted({w for ws in STOPWORDS.values() for w in ws})
    row = spark.range(1).selectExpr(
        f"array({', '.join(map(lit, words))}) AS w").first()
    assert row["w"] == words
