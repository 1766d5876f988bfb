"""Custom stateful streaming operators via ``applyInPandasWithState``.

The reference keeps two pieces of cross-poll state by hand: the running
new-item counters printed per livestream step
(livestream.py:25-43 in /root/reference/timesearch_modules/) and the
per-submission scan state ``augmented_at``/``augmented_count``
(tsdb.py:68-69, get_comments.py:92-100 — SURVEY §2 I7).  Both are
per-key mutable state survived across micro-batches — exactly what
Structured Streaming's ``applyInPandasWithState`` models, with the state
store (checkpointed, partitioned by key) replacing the reference's
SQLite columns and Python locals.

``running_author_counts`` is the streaming form of the flagship
breakdown (D1): per-author cumulative submission/comment counts, updated
incrementally per micro-batch instead of recomputed by a full-table
groupBy.  State is O(distinct authors) — bounded, shuffle-partitioned,
and spillable; 100 TB/day of events stream through while only the
counter map persists.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUT_SCHEMA = (
    "author string, n_submissions long, n_comments long, last_created long"
)
STATE_SCHEMA = "n_submissions long, n_comments long, last_created long"


def running_author_counts(events: DataFrame) -> DataFrame:
    """Per-author cumulative counts over a stream of rows with
    ``idstr`` (t3_/t1_ fullname), ``author``, ``created``.

    Emits one updated row per author per micro-batch in which that author
    appeared (output mode ``update``).  The Arrow batch iterator keeps
    per-group memory flat even for pathological authors (bot skew)."""
    import pandas as pd

    def update(key, pdfs, state: GroupState):
        n_subs, n_comms, last = (0, 0, 0)
        if state.exists:
            n_subs, n_comms, last = state.get
        for pdf in pdfs:
            if pdf.empty:
                continue
            # fillna: a NULL idstr makes .str.startswith yield NaN in an
            # object series and `~` raises TypeError — one malformed
            # event must not kill the streaming query; NULL created is
            # skipped the same way (int(NaN) raises)
            is_sub = pdf["idstr"].fillna("").str.startswith("t3_")
            n_subs += int(is_sub.sum())
            n_comms += int((~is_sub).sum())
            created_max = pdf["created"].dropna().max()
            if created_max == created_max and created_max is not None:
                last = max(last, int(created_max))
        state.update((n_subs, n_comms, last))
        yield pd.DataFrame(
            [
                {
                    "author": key[0],
                    "n_submissions": n_subs,
                    "n_comments": n_comms,
                    "last_created": last,
                }
            ]
        )

    return events.groupBy("author").applyInPandasWithState(
        update,
        OUT_SCHEMA,
        STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def scan_state(comments: DataFrame) -> DataFrame:
    """Per-submission comment-scan state — the streaming analog of
    ``augmented_at``/``augmented_count`` (I7): how many comments each
    submission has accumulated and when it last changed.  A processing-time
    timeout emits a final "settled" row once a thread goes quiet, the
    event-driven form of the reference's mark-submission-scanned step
    (get_comments.py:92-100)."""
    import pandas as pd

    out_schema = (
        "submission string, n_comments long, last_created long, settled boolean"
    )
    state_schema = "n_comments long, last_created long"

    def update(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            n, last = state.get
            state.remove()
            yield pd.DataFrame(
                [{"submission": key[0], "n_comments": n, "last_created": last,
                  "settled": True}]
            )
            return
        n, last = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            if pdf.empty:
                continue
            n += len(pdf)
            created_max = pdf["created"].dropna().max()
            if created_max == created_max and created_max is not None:
                last = max(last, int(created_max))
        state.update((n, last))
        state.setTimeoutDuration(30 * 60 * 1000)
        yield pd.DataFrame(
            [{"submission": key[0], "n_comments": n, "last_created": last,
              "settled": False}]
        )

    return comments.groupBy("submission").applyInPandasWithState(
        update,
        out_schema,
        state_schema,
        "update",
        GroupStateTimeout.ProcessingTimeTimeout,
    )
