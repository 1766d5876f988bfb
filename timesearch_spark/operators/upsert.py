"""Upsert-with-history: the reference's storage heart (SURVEY §2 C3, I3, I4).

Reference semantics (tsdb.py:389-509):
- probe each incoming row by ``idstr``;
- absent → INSERT;
- present → ``UPDATE ... SET col = coalesce(new, old)`` for the mutable
  columns (submissions: nsfw, score, selftext, distinguish, num_comments,
  flair_text, flair_css_class — tsdb.py:438-448; comments: score, body,
  distinguish — tsdb.py:494-500);
- **edit capture** (tsdb.py:303-324, 361-387): when the text column
  changed, append a row holding the *old* text to the ``*_edits`` table
  with ``replaced_at`` = the new row's edit timestamp, else observation
  time;
- **deletion masking** (tsdb.py:527-545): if the new author is gone and
  the new text is '[removed]'/'[deleted]' (or matches a vandalism
  pattern), keep the old text and do NOT record an edit.

Spark shape: one full-outer join snapshot ⟗ batch on the key and ONE
projection of it — the new snapshot columns under the per-column
coalesce rules, plus the edit capture and three row flags (``__new``,
``__in_batch``, ``__edit``).  Both outputs (new snapshot + appended edit
rows) and the merge counters are read off that one merged frame, so a
caller that materializes it evaluates the join once.  The batch is
deduplicated to one row per key first (later-wins, C4/E3) so the join
is 1:1.  This is the MERGE pattern; with a transactional table format
it becomes ``MERGE INTO whenMatched/whenNotMatched``, without one the
caller overwrites affected partitions.

The projection and the later-wins window are SQL text (one py4j round
trip each, not one per Column node); every name and literal in that
text goes through :mod:`timesearch_spark.functions.sqlexpr`.

Scale notes: snapshot and batch shuffle once each on the key; bucketing
the snapshot by ``idstr`` removes its shuffle entirely.  The coalesce
rules are idempotent, so task retries / micro-batch replays are safe
(same observable semantics as the reference's per-row transaction).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from timesearch_spark.functions.sqlexpr import ident, lit

# Vandalism markers (tsdb.py:541-543): a body containing ANY of these is
# treated like a deletion — keep the old text.  The reference checks
# `any(grease in body for grease in greasy)` over exactly this list.
GREASY = ["has been overwritten", "pastebin.com/64GuVi2F"]

SUBMISSION_MUTABLE = [
    "nsfw", "score", "selftext", "distinguish", "num_comments",
    "flair_text", "flair_css_class",
]  # tsdb.py:438-448
COMMENT_MUTABLE = ["score", "body", "distinguish"]  # tsdb.py:494-500

#: Row flags of the merged frame: key absent from the snapshot (an
#: insert), key present in the batch, and the row yields an edit row.
FLAGS = ("__new", "__in_batch", "__edit")

#: TSDB.insert-style counters over the merged frame (tsdb.py:335-339),
#: as aggregates a caller can observe while it materializes the frame.
COUNTERS = (
    "count_if(__new) AS inserted",
    "count_if(__in_batch) AS batch_keys",
    "count_if(__edit) AS edit_rows",
)


@dataclass
class UpsertResult:
    snapshot: DataFrame
    edits: DataFrame
    stats: dict = field(default_factory=dict)
    #: snapshot columns + FLAGS + ``previous_<text>`` + ``replaced_at``;
    #: ``split_merged`` turns it (or a checkpoint of it) into the two outputs
    merged: DataFrame | None = None


def _latest_per_key(batch: DataFrame, key: str, order_col: str | None,
                    columns) -> DataFrame:
    """Collapse a batch to one row per key, later-wins (E3).

    ``order_col`` is a monotone source-priority / arrival column.  When
    None, ``created`` breaks ties first, then an arrival-order column
    captured HERE (``monotonically_increasing_id`` before any shuffle:
    within a file-split partition it follows file order, and partition ids
    follow split order) — so when one NDJSON batch holds two versions of
    the same idstr with equal ``created`` (original + edited copy), the
    later line wins, matching the reference's sequential row-by-row
    application (tsdb.py:389-509).

    That guarantee is best-effort: it holds for deterministic narrow
    lineage upstream (file sources), but ``monotonically_increasing_id``
    is not stable under task retry/speculation on a nondeterministic
    source.  Callers needing strict ordering there should pass an
    explicit ``order_col`` captured at read time.
    """
    order = []
    if order_col is not None:
        order.append(f"{ident(order_col)} DESC")
    # created/arrival ALWAYS follow as tiebreaks: with only an explicit
    # order_col, two same-key rows at equal priority (the 1-second
    # pagination overlap re-reading an item) would pick a
    # nondeterministic winner — the older version could clobber the newer
    if "created" in columns:
        order.append(f"{ident('created')} DESC")
    order.append("__arrival DESC")
    return (
        batch.selectExpr("*", "monotonically_increasing_id() AS __arrival")
        .selectExpr("*", f"row_number() OVER (PARTITION BY {ident(key)} "
                         f"ORDER BY {', '.join(order)}) AS __rn")
        .filter("__rn = 1")
        .drop("__rn", "__arrival")
    )


def _deleted(author: str, text: str) -> str:
    """Deletion-mask predicate (tsdb.py:527-545) over two SQL operands:
    author gone AND body is a removal placeholder, or the body matches a
    vandalism marker."""
    removed = f"{text} IN ({lit('[removed]')}, {lit('[deleted]')})"
    greasy = " OR ".join(f"contains({text}, {lit(m)})" for m in GREASY)
    # match the canonical '[DELETED]' sentinel AND the raw lowercase
    # '[deleted]' that archive/pushshift dumps carry verbatim (only
    # NULL authors get canonicalized; a literal string flows through) —
    # exports.py applies the same case-insensitive test
    author_gone = f"({author} IS NULL OR lower({author}) = {lit('[deleted]')})"
    return f"(({author_gone} AND {removed}) OR ({greasy}))"


def split_merged(merged: DataFrame, key: str, text_col: str
                 ) -> tuple[DataFrame, DataFrame]:
    """The new snapshot and the edit rows of an upsert's merged frame."""
    prev = f"previous_{text_col}"
    snapshot = merged.drop(*FLAGS, prev, "replaced_at")
    edits = merged.filter("__edit").selectExpr(ident(key), ident(prev), "replaced_at")
    return snapshot, edits


def upsert_snapshot(
    snapshot: DataFrame,
    batch: DataFrame,
    key: str = "idstr",
    mutable: list[str] | None = None,
    text_col: str = "body",
    author_col: str = "author",
    edited_ts_col: str | None = "edited",
    observed_at: int | None = None,
    batch_order_col: str | None = None,
) -> UpsertResult:
    """Full-outer MERGE of ``batch`` into ``snapshot``.

    Returns the new snapshot plus the edit-capture rows (old text versions)
    shaped like the ``*_edits`` tables: (idstr, previous_text, replaced_at),
    and the ``merged`` frame both are projected from.  ``edited_ts_col``,
    if present in the batch, supplies ``replaced_at`` (tsdb.py:374-377);
    otherwise ``observed_at`` is used.
    """
    if mutable is None:
        mutable = COMMENT_MUTABLE if text_col == "body" else SUBMISSION_MUTABLE

    cols = snapshot.columns
    batch_cols = set(batch.columns)
    batch = _latest_per_key(batch, key, batch_order_col, batch_cols)

    def o(c: str) -> str:
        return f"o.{ident(c)}"

    def n(c: str) -> str:
        return f"n.{ident(c)}" if c in batch_cols else "NULL"

    joined = snapshot.selectExpr("*", "true AS __in_old").alias("o").join(
        batch.selectExpr("*", "true AS __in_batch").alias("n"),
        on=F.expr(f"{o(key)} = {n(key)}"), how="full_outer",
    )
    matched = "(o.__in_old IS NOT NULL AND n.__in_batch IS NOT NULL)"
    deleted = _deleted(n(author_col), n(text_col))

    out = []
    for c in cols:
        if c == key:
            expr = f"coalesce({o(c)}, {n(c)})"
        elif c == text_col and c in mutable:
            # Deletion masking: keep old text when the new row is a removal.
            expr = (f"CASE WHEN {matched} AND {deleted} THEN {o(c)} "
                    f"WHEN {matched} THEN coalesce({n(c)}, {o(c)}) "
                    f"ELSE coalesce({o(c)}, {n(c)}) END")
        elif c in mutable:
            expr = (f"CASE WHEN {matched} THEN coalesce({n(c)}, {o(c)}) "
                    f"ELSE coalesce({o(c)}, {n(c)}) END")
        else:
            # Immutable columns: the first-seen value wins (reference never
            # updates them).
            expr = f"coalesce({o(c)}, {n(c)})"
        out.append(f"{expr} AS {ident(c)}")

    replaced_at = f"CAST({lit(observed_at)} AS BIGINT)"
    if edited_ts_col and edited_ts_col in batch_cols:
        replaced_at = f"coalesce(CAST({n(edited_ts_col)} AS BIGINT), {replaced_at})"
    text_changed = (
        f"{matched} AND NOT {deleted} AND {n(text_col)} IS NOT NULL "
        f"AND ({o(text_col)} IS NULL OR {o(text_col)} != {n(text_col)})"
    )
    merged = joined.selectExpr(
        *out,
        "o.__in_old IS NULL AS __new",
        "n.__in_batch IS NOT NULL AS __in_batch",
        f"coalesce({text_changed}, false) AS __edit",
        f"{o(text_col)} AS {ident(f'previous_{text_col}')}",
        f"{replaced_at} AS replaced_at",
    )
    new_snapshot, edits = split_merged(merged, key, text_col)
    return UpsertResult(snapshot=new_snapshot, edits=edits, merged=merged)
