"""Scalar function library (SURVEY §2 H1-H18).

Everything here is a Column-expression builder over pyspark.sql.functions —
JVM-side, whole-stage-codegen eligible.  Python UDFs appear only where no
builtin exists (markdown render, full HTML unescape) and are Arrow-batched.
"""

from __future__ import annotations

import html as _html

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

# --- H1: base36 (common.py:43-65) -----------------------------------------

def base36_decode(col) -> Column:
    """base36 string → bigint (reference: int(x, 36), SIGNED — Python's
    int() accepts '-zz'; F.conv alone would wrap negatives as unsigned
    64-bit)."""
    c = F.lower(F.col(col) if isinstance(col, str) else col)
    # negate in decimal BEFORE the long cast: the magnitude of
    # Long.MIN_VALUE (2^63) doesn't fit a signed long on its own, so
    # conv→long→negate would throw CAST_INVALID_INPUT under ANSI
    mag = F.conv(F.regexp_replace(c, "^-", ""), 36, 10).cast("decimal(20,0)")
    return F.when(c.startswith("-"), -mag).otherwise(mag).cast("long")


def base36_encode(col) -> Column:
    """bigint → lowercase base36 string (reference emits lowercase and a
    '-' sign for negatives, common.py:50-65; F.conv alone would render a
    negative as its unsigned 2^64 complement).  The magnitude is taken
    in decimal(20,0) because ``F.abs`` on a bare long throws
    ARITHMETIC_OVERFLOW at Long.MIN_VALUE under ANSI — the reference's
    arbitrary-precision int() has no such edge, so neither do we."""
    c = (F.col(col) if isinstance(col, str) else col).cast("long")
    mag = F.lower(F.conv(F.abs(c.cast("decimal(20,0)")).cast("string"), 10, 36))
    return F.when(c < 0, F.concat(F.lit("-"), mag)).otherwise(mag)


# --- H2: fullname prefixes (common.py:147-150) -----------------------------

def with_prefix(col, prefix: str = "t3_") -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.when(c.startswith(prefix), c).otherwise(F.concat(F.lit(prefix), c))


def strip_prefix(col) -> Column:
    """Drop the 'tN_' fullname prefix (reference: idstr[3:])."""
    c = F.col(col) if isinstance(col, str) else col
    return F.substring(c, 4, 2_147_483_000)


def is_submission_id(col) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.startswith("t3_")


# --- H4: HTML escape with the reference's own typo -------------------------

def html_escape_ref(col) -> Column:
    """'<'→'&lt;', '>'→'&rt;' — the reference's [sic] typo
    (offline_reading.py:285-290), reproduced for output parity."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(F.regexp_replace(c, "<", "&lt;"), ">", "&rt;")


# --- H3: HTML unescape (pushshift.py:72-73) --------------------------------
# Common entities via regexp chain (JVM-side fast path) ...

def html_unescape_basic(col) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    for pat, rep in (("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'), ("&#39;", "'"), ("&amp;", "&")):
        c = F.regexp_replace(c, pat, rep)
    return c


# ... and the full Python `html.unescape` as an Arrow-batched pandas UDF for
# exact parity when exotic entities matter (slow path by design).
@F.pandas_udf(T.StringType())
def html_unescape_full(s):  # pragma: no cover - exercised via Spark
    return s.map(lambda x: _html.unescape(x) if x is not None else None)


# --- H5: markdown → HTML (offline_reading.py:285-291) ----------------------
# The `markdown` package is not in this container; the arm is chosen once,
# here, behind an import-try.
try:  # pragma: no cover
    import markdown as _markdown

    def _markdown_html(text: str) -> str:
        # output_format parity with render_markdown
        # (offline_reading.py:285-291) and get_wiki.py:20-26
        return _markdown.markdown(text, output_format="html5")

    HAS_MARKDOWN = True
except ImportError:  # pragma: no cover
    HAS_MARKDOWN = False

    # Deterministic subset renderer (paragraphs, headings, quotes,
    # lists, strong/em/code/links) — see functions/markdown_lite.py.
    from timesearch_spark.functions.markdown_lite import render as _markdown_html


def render_markdown(text: str) -> str:
    """The reference's render_markdown (offline_reading.py:285-291,
    get_wiki.py:20-26): escape ``<``/``>`` first — including its '&rt;'
    [sic] typo — then render with the arm chosen at import.  Escaping
    is idempotent, so already-escaped text renders the same."""
    return _markdown_html(text.replace("<", "&lt;").replace(">", "&rt;"))


@F.pandas_udf(T.StringType())
def markdown_render(s):
    """:func:`render_markdown` over a string column, Arrow-batched;
    nulls pass through."""
    return s.map(lambda x: None if x is None else render_markdown(x))


# --- H6/H7: timestamp formats (common.py:94-97, index.py:17) ---------------

def human_time(col) -> Column:
    """unix seconds → 'Jan 01 2024 00:00:00' (strftime '%b %d %Y %H:%M:%S')."""
    c = F.col(col) if isinstance(col, str) else col
    return F.date_format(F.from_unixtime(c), "MMM dd yyyy HH:mm:ss")


def listing_time(col) -> Column:
    """unix seconds → '2024 Jan 01' (strftime '%Y %b %d', index.py:17)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.date_format(F.from_unixtime(c), "yyyy MMM dd")


# --- H10: newline → space in titles (index.py:159) --------------------------

def flatten_newlines(col) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(c, "\n", " ")


# --- H12: multi-delimiter split (common.py:135-140: '+', ' ', ',') ----------

def split_any(col) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(c, "[+ ,]"), lambda x: x != "")


# --- H15: brace sanitize (offline_reading.py:293-296) ----------------------

def sanitize_braces(col) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(F.regexp_replace(c, "\\{", "{{"), "\\}", "}}")


# --- H16: [DELETED]/null author display (index.py:142-146) ------------------

def author_display(col) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.coalesce(c, F.lit("[DELETED]"))
