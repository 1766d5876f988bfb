"""Event-time analytics over the events table: tumbling windows,
gap sessionization, cohort retention, ordered funnels, trending top-k,
and rate-anomaly flags.

The reference has no event-time constructs at all (SURVEY §2-I: its only
event-time notion is a hand-rolled monotone lower bound).  These are
the north-star batch forms; the streaming variants (withWatermark +
window / session_window) live in timesearch_spark.streaming, and the
persisted/incremental form is operators.rollup.MaterializedRollup.

events.ts arrives as nanos-as-long OR timestamp[us] depending on the
testdata generation (tables.event_ts_sec branches); helpers convert once.
At 100 TB the tumbling agg is a single map-side-combined hash aggregate
on (window, key) — the same shape as breakdown — and sessionization is
one shuffle on user_id followed by a per-user ordered scan (window
functions), which AQE keeps balanced unless one user dominates.

Sessionize and both funnels come in two physical forms behind one
rule: the plain form orders a user's whole history on one task, and
its ``*_salted`` twin orders (user, time-bucket) chunks and stitches
their summaries, so no task holds a hot user's events.  Both forms run
the same session rule (:func:`_session_flags`) and funnel fold
(:func:`_fold_from`) and give identical output on every input; the
caller picks the form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from timesearch_spark.tables import event_ts_sec, ts_dtype


def with_event_time(events: DataFrame) -> DataFrame:
    """Add ``ts_sec`` (epoch seconds, long) and ``event_time`` (timestamp).

    Branches on the ts column's actual encoding (nanos-as-long vs
    timestamp[us]); see tables.event_ts_sec."""
    return events.withColumn(
        "ts_sec", event_ts_sec("ts", ts_dtype(events))
    ).withColumn("event_time", F.timestamp_seconds(F.col("ts_sec")))


def tumbling_counts(
    events: DataFrame,
    duration: str = "1 hour",
    key: str = "event_type",
) -> DataFrame:
    """Tumbling-window counts + value sum per key.

    Output: (window_start ts, key, n, value_sum)."""
    ev = with_event_time(events)
    return (
        ev.groupBy(F.window("event_time", duration).alias("w"), F.col(key))
        .agg(F.count("*").alias("n"), F.sum("value").alias("value_sum"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col(key),
            F.col("n"),
            F.col("value_sum"),
        )
    )


def _session_flags(ev: DataFrame, gap_sec: int, keys: list[str]) -> DataFrame:
    """The one session-boundary rule: lag + running sum over the
    (ts_sec, event_id)-ordered window partitioned by ``keys`` →
    ``session_seq``.  ``ev`` already carries ``ts_sec``
    (:func:`with_event_time`).  The plain forms partition by the user,
    the salted twins by (user, time-bucket) chunk; all four sessionizing
    operators call this, so the boundary semantics (gap strictness, tie
    order, null handling) can never drift between them."""
    w = Window.partitionBy(*keys).orderBy("ts_sec", "event_id")
    return ev.withColumn(
        "new_session",
        F.when(
            F.col("ts_sec") - F.lag("ts_sec").over(w) > gap_sec, 1
        ).otherwise(F.when(F.lag("ts_sec").over(w).isNull(), 1).otherwise(0)),
    ).withColumn(
        "session_seq",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )


def sessionize(
    events: DataFrame,
    gap_sec: int = 1800,
) -> DataFrame:
    """Gap-based sessions per user: a new session starts when the time
    since the previous event exceeds ``gap_sec``.

    Classic lag + running-sum construction: one shuffle on the user, two
    ordered window passes.  Output: (user_id, session_id, session_start,
    session_end, n_events)."""
    flagged = _session_flags(with_event_time(events), gap_sec, ["user_id"])
    return (
        flagged.groupBy(F.col("user_id"), F.col("session_seq").alias("session_id"))
        .agg(
            F.min("ts_sec").alias("session_start"),
            F.max("ts_sec").alias("session_end"),
            F.count("*").alias("n_events"),
        )
    )


def sessionize_salted(
    events: DataFrame,
    gap_sec: int = 1800,
    bucket_sec: int = 3600,
) -> DataFrame:
    """:func:`sessionize` without the hot-user ceiling — identical
    output (ids included), no stage that passes one user's events, or
    even their session list, through one task.

    The plain form's exposure is the per-user lag window: all of a hot
    key's events sort on one task.  Here the window runs per
    (user, time-bucket) chunk instead, and the only cross-chunk
    sequential question — does a chunk's first session continue the
    previous chunk's last session? — is answered on the CHUNK summary
    relation, whose per-user cardinality is bounded by the calendar
    (time range / ``bucket_sec``), not by activity:

    1. chunk-local sessionize: the gap rule inside each (user, bucket)
       — correct everywhere except at chunk seams;
    2. chunk summaries get seam-merge flags and, via one bounded
       per-user window: the anchor chunk every merge chain roots at
       (a chain passes only through single-session chunks), the count
       of global sessions STARTING in each chunk, and its running
       offset — which makes the final ``session_id`` pure arithmetic,
       no rank over the session list;
    3. sessions group by their chain label ((anchor, TAIL) for seam
       chains, themselves otherwise) and aggregate (min start,
       max end, sum n) — merged sessions combine, everything else
       passes through 1:1.

    Exact parity with :func:`sessionize` (fuzz-pinned), including the
    1-based time-ordered ids."""
    TAIL = 2**31  # > any chunk-local session_seq
    ev = with_event_time(events).withColumn(
        "__bucket", F.floor(F.col("ts_sec") / bucket_sec)
    )
    flagged = _session_flags(ev, gap_sec, ["user_id", "__bucket"])
    per_sess = flagged.groupBy("user_id", "__bucket", "session_seq").agg(
        F.min("ts_sec").alias("s_start"),
        F.max("ts_sec").alias("s_end"),
        F.count("*").alias("s_n"),
    )
    chunks = per_sess.groupBy("user_id", "__bucket").agg(
        F.min("s_start").alias("first_ts"),
        F.max("s_end").alias("last_ts"),
        F.max("session_seq").alias("m"),
    )
    cw = Window.partitionBy("user_id").orderBy("__bucket")
    prev = cw.rowsBetween(Window.unboundedPreceding, -1)
    chunks = (
        chunks.withColumn(
            # seam merge: this chunk's first event continues the
            # previous chunk's last session (same strictness as the
            # in-window gap rule)
            "mrg",
            F.coalesce(
                F.col("first_ts") - F.lag("last_ts").over(cw) <= gap_sec,
                F.lit(False),
            ),
        )
        .withColumn("starts", F.col("m") - F.col("mrg").cast("long"))
        .withColumn(
            "offset",
            F.coalesce(F.sum("starts").over(prev), F.lit(0)),
        )
        .withColumn(
            # anchor of the merge chain through this seam: the nearest
            # earlier chunk that is NOT a pass-through (pass-through =
            # single session that itself merged backward)
            "anchor",
            F.max(
                F.when(
                    ~((F.col("m") == 1) & F.col("mrg")), F.col("__bucket")
                )
            ).over(prev),
        )
    )
    # null-SAFE join keys: a NULL user_id is one group to the plain
    # window (nulls partition together), so the chunk join must not
    # drop it under null != null equi-join semantics
    cs = chunks.select(
        F.col("user_id").alias("__cu"),
        F.col("__bucket").alias("__cb"),
        "m", "mrg", "starts", "offset", "anchor",
    )
    s = per_sess.join(
        cs,
        F.col("user_id").eqNullSafe(F.col("__cu"))
        & F.col("__bucket").eqNullSafe(F.col("__cb")),
    ).drop("__cu", "__cb")
    chained = (F.col("session_seq") == 1) & F.col("mrg")
    is_tail = F.col("session_seq") == F.col("m")
    lb = F.when(chained, F.col("anchor")).otherwise(F.col("__bucket"))
    ls = F.when(chained | is_tail, F.lit(TAIL)).otherwise(F.col("session_seq"))
    # the session_id of a chain is carried by its start constituent —
    # the one group member that is not chained backward
    cand = F.when(
        chained, F.lit(None).cast("long")
    ).otherwise(
        F.col("offset")
        + F.when(is_tail, F.col("starts")).otherwise(
            F.col("session_seq") - F.col("mrg").cast("long")
        )
    )
    s = s.withColumn("cand_id", cand)
    return (
        s.groupBy(F.col("user_id"), lb.alias("__lb"), ls.alias("__ls"))
        .agg(
            F.min("cand_id").alias("session_id"),
            F.min("s_start").alias("session_start"),
            F.max("s_end").alias("session_end"),
            F.sum("s_n").alias("n_events"),
        )
        .select(
            "user_id", "session_id", "session_start", "session_end", "n_events"
        )
    )


def retention_cohorts(
    events: DataFrame,
) -> DataFrame:
    """Cohort retention table: users grouped by their FIRST activity
    period, counted in every later period they return.

    Output: (cohort_period, period_offset, n_users) where cohort_period
    is the epoch-aligned start of the user's first period and offset is
    periods-since-cohort (0 = the cohort's own period).

    Shape: one hash-agg to (user, period) distinct activity (map-side
    combined — the wide shuffle carries one row per user-period, not per
    event), a window min per user for the cohort (same shuffle key), and
    a final count-distinct rollup on the narrow (cohort, offset, user)
    relation.  No joins; everything keys on user_id so AQE coalesces the
    single exchange chain.  At 100 TB the first aggregate is the only
    stage that sees raw events."""
    ev = with_event_time(events)
    # F.floor, not cast('long'): the cast truncates toward zero, which
    # puts pre-epoch (negative) timestamps in the wrong period
    period = (F.floor(F.col("ts_sec") / 86400) * 86400).alias(
        "period"
    )
    user_periods = (
        ev.select(F.col("user_id"), period).distinct()
    )
    w = Window.partitionBy("user_id")
    cohorted = user_periods.withColumn("cohort_period", F.min("period").over(w))
    return (
        cohorted.select(
            "cohort_period",
            ((F.col("period") - F.col("cohort_period")) / 86400)
            .cast("long")
            .alias("period_offset"),
            F.col("user_id"),
        )
        .groupBy("cohort_period", "period_offset")
        .agg(F.count_distinct(F.col("user_id")).alias("n_users"))
    )


def _seq():
    """Aggregate: the group's events as a time-sorted ``seq`` array of
    (ts_sec, t) structs — the input every funnel fold walks."""
    return F.array_sort(
        F.collect_list(F.struct(F.col("ts_sec"), F.col("event_type").alias("t")))
    ).alias("seq")


def _fold_from(steps: list[str], k: int):
    """The one funnel fold over a sorted ``seq``: state = number of
    steps completed in order, starting at ``k``; an event advances the
    state iff it matches the NEXT wanted step.  ``k=0`` is a whole
    progression; the salted twins fold every ``k`` (:func:`_trans_vector`).
    Whole-stage-codegen'd JVM expression."""
    steps_arr = F.lit(steps)
    return F.aggregate(
        F.col("seq"),
        F.lit(k),
        lambda acc, e: F.when(
            (acc < F.size(steps_arr))
            & (e["t"] == F.element_at(steps_arr, acc + 1)),
            acc + 1,
        ).otherwise(acc),
    )


def _ladder(reached: DataFrame, n_steps: int) -> DataFrame:
    """(stage >= 1) rows → full-spine cumulative (stage, n_users) ladder.

    A user at stage k has reached every stage 1..k, so ``n_users(s)`` is
    one count over each user's exploded stages, with a zero row per
    spine stage so stages nobody reached still appear.  One aggregate,
    no window."""
    spine = reached.sparkSession.range(1, n_steps + 1).select(
        F.col("id").cast("int").alias("stage"), F.lit(0).alias("n")
    )
    hits = reached.select(
        F.explode(F.sequence(F.lit(1), F.col("stage"))).alias("stage"),
        F.lit(1).alias("n"),
    )
    return (
        spine.unionByName(hits)
        .groupBy("stage")
        .agg(F.sum("n").alias("n_users"))
        .orderBy("stage")
    )


def funnel_progression(
    events: DataFrame,
    steps: list[str],
) -> DataFrame:
    """Ordered funnel: how far each user progresses through ``steps``
    IN ORDER (a later step only counts after an earlier one happened),
    plus the per-stage user rollup a dashboard plots.

    Output: (stage, n_users) for stage 1..len(steps) — n_users = users
    whose ordered progression reached at least that stage.

    Shape: ONE shuffle (groupBy user) collecting each user's
    (ts, type) events; the ordered walk is a JVM-side ``aggregate`` fold
    over the sorted array (whole-stage codegen'd, no Python); the stage
    rollup is a tiny second agg over one row per user.  Per-user state
    is bounded by that user's event count — the same bound sessionize
    carries; when one user CAN dominate a task, use
    :func:`funnel_progression_salted` (exact chunk-transition form)."""
    ev = with_event_time(events)
    per_user = ev.groupBy("user_id").agg(_seq())
    reached = per_user.select(_fold_from(steps, 0).alias("stage")).filter(
        F.col("stage") > 0
    )
    return _ladder(reached, len(steps))


def _trans_vector(steps: list[str]):
    """Funnel transition vector over a sorted ``seq`` column:
    ``trans[k+1]`` = funnel state after folding the chunk entering at
    state ``k`` (element_at is 1-based).  n+1 codegen'd folds — n is
    the step count, so a handful of array scans."""
    return F.array(*[_fold_from(steps, k) for k in range(len(steps) + 1)])


def _compose_trans(a, b):
    """Composition of transition vectors: apply ``a`` then ``b``."""
    return F.transform(a, lambda x: F.element_at(b, x + 1))


def funnel_progression_salted(
    events: DataFrame,
    steps: list[str],
    bucket_sec: int = 3600,
) -> DataFrame:
    """:func:`funnel_progression` without the hot-user ceiling.

    The plain funnel collects each user's whole event history into one
    array on one task — a bot with 100M events serializes the stage.
    The fold is COMPOSABLE, though: funnel state is just "steps
    completed so far" (0..n), so any time-chunk of a user's events
    defines a transition vector ``trans[k] = state after this chunk,
    entering at state k``.  That makes the salted exact plan:

    1. group by (user, ts-bucket): a hot user's events split across
       time buckets, each task folding one bounded chunk;
    2. per chunk, compute the full transition vector — n+1 codegen'd
       folds over the sorted chunk (n = len(steps), so this is a
       handful of array scans, not a blowup);
    3. shuffle ONE tiny row per (user, bucket) — the vector, not the
       events — and compose vectors in bucket order with a second
       fold per user.

    Within-chunk order is (ts_sec, type) and buckets compose in time
    order, so the composition walks events in exactly the order the
    plain funnel sorts them — results are identical for every input,
    not just skewed ones (pinned by the fuzz test).  Per-task state is
    bounded by events-per-(user, bucket); pick ``bucket_sec`` so a
    pathological key's densest hour fits an executor.

    The session-scoped analogue is :func:`session_funnel_salted`."""
    n = len(steps)
    ev = with_event_time(events)
    b = (F.floor(F.col("ts_sec") / bucket_sec)).alias("__bucket")
    per_chunk = ev.groupBy(F.col("user_id"), b).agg(_seq())
    # trans[k+1] = exit state entering at k (element_at is 1-based)
    trans = per_chunk.select(
        F.col("user_id"),
        F.col("__bucket"),
        _trans_vector(steps).alias("trans"),
    )
    composed = trans.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("__bucket").alias("b"), F.col("trans")))
        ).alias("chunks")
    )
    stage = F.aggregate(
        F.col("chunks"),
        F.lit(0),
        lambda acc, c: F.element_at(c["trans"], acc + 1),
    )
    reached = composed.select(stage.alias("stage")).filter(F.col("stage") > 0)
    return _ladder(reached, n)


def session_funnel(
    events: DataFrame,
    steps: list[str],
    gap_sec: int = 1800,
) -> DataFrame:
    """Funnel scoped to SESSIONS: the ordered progression resets at every
    session boundary (sessionize's gap rule), and a user counts at the
    deepest stage any single session of theirs reached — the "did they
    convert in one sitting" question, which the all-time funnel can't
    answer (a view on Monday + a purchase in March is not a funnel).

    Shape: the same single user-shuffle as sessionize (lag + running-sum
    session ids ride it), one codegen'd fold per (user, session) over the
    sorted per-session events, a per-user max, then the spine ladder.
    Output: (stage, n_users).  When one user can dominate a task, use
    :func:`session_funnel_salted` — identical results, chunk-merged
    sessions."""
    flagged = _session_flags(with_event_time(events), gap_sec, ["user_id"])
    per_session = flagged.groupBy("user_id", "session_seq").agg(_seq())
    per_user = (
        per_session.select(F.col("user_id"), _fold_from(steps, 0).alias("stage"))
        .groupBy("user_id")
        .agg(F.max("stage").alias("stage"))
    )
    reached = per_user.select("stage").filter(F.col("stage") > 0)
    return _ladder(reached, len(steps))


def session_funnel_salted(
    events: DataFrame,
    steps: list[str],
    gap_sec: int = 1800,
    bucket_sec: int = 3600,
) -> DataFrame:
    """:func:`session_funnel` without the hot-user ceiling.

    Harder than the all-time funnel because session BOUNDARIES also
    come from a per-user ordered pass (the lag window).  Both are
    chunk-mergeable, though: the gap rule only compares consecutive
    timestamps, so sessions computed inside a (user, time-bucket)
    chunk are correct except at the seam — the chunk's first session
    continues the previous chunk's last session iff the seam gap is
    within ``gap_sec``.  And per-session funnel progressions are
    transition vectors (:func:`funnel_progression_salted`), which
    compose across a merged seam.  So the exact plan:

    1. session-flag within (user, bucket) — the per-key window now
       holds one bounded chunk, not the user's history;
    2. fold each chunk-local session to a transition vector; keep per
       chunk only (first_ts, last_ts, first/last session vectors, the
       best stage among interior sessions, session count) — constant
       size regardless of chunk volume;
    3. one fold per user over the bucket-ordered chunk summaries,
       carrying O(len(steps)) state: the still-open session's vector,
       the last timestamp (for the seam test), and the best closed
       stage.  Merged seams compose vectors; unmerged seams close the
       open session.

    A user's final stage = max(best closed, open session's stage),
    identical to the plain :func:`session_funnel` on every input
    (fuzz-pinned).  No stage ever materializes a hot user's events —
    or even their session list — on one task."""
    n = len(steps)
    ev = with_event_time(events).withColumn(
        "__bucket", F.floor(F.col("ts_sec") / bucket_sec)
    )
    # chunk-local session flags: window keyed by (user, bucket) so no
    # task sees a whole hot user
    flagged = _session_flags(ev, gap_sec, ["user_id", "__bucket"])
    per_sess = flagged.groupBy("user_id", "__bucket", "session_seq").agg(
        _seq(),
        F.min("ts_sec").alias("s_first"),
        F.max("ts_sec").alias("s_last"),
    )
    per_sess = per_sess.select(
        "user_id",
        "__bucket",
        "session_seq",
        "s_first",
        "s_last",
        _trans_vector(steps).alias("trans"),
    )
    sess_sorted = F.array_sort(
        F.collect_list(F.struct(F.col("session_seq"), F.col("trans")))
    )
    per_chunk = (
        per_sess.groupBy("user_id", "__bucket")
        .agg(
            F.min("s_first").alias("first_ts"),
            F.max("s_last").alias("last_ts"),
            sess_sorted.alias("ss"),
        )
        .select(
            "user_id",
            "__bucket",
            "first_ts",
            "last_ts",
            F.element_at("ss", 1)["trans"].alias("s_head"),
            F.element_at("ss", -1)["trans"].alias("s_tail"),
            F.size("ss").alias("m"),
            # best stage among interior sessions (2..m-1): fully closed
            # inside the chunk, can never merge across a seam
            F.aggregate(
                F.slice(
                    "ss", F.lit(2), F.greatest(F.size("ss") - 2, F.lit(0))
                ),
                F.lit(0),
                lambda a, s: F.greatest(a, F.element_at(s["trans"], 1)),
            ).alias("inner_best"),
        )
    )
    chunks_sorted = F.array_sort(
        F.collect_list(
            F.struct(
                F.col("__bucket").alias("b"),
                F.col("first_ts"),
                F.col("last_ts"),
                F.col("s_head"),
                F.col("s_tail"),
                F.col("m"),
                F.col("inner_best"),
            )
        )
    )
    per_user = per_chunk.groupBy("user_id").agg(chunks_sorted.alias("chunks"))

    # Fold state: (last = last event ts so far, cur = open session's
    # transition vector, best = best closed stage).  The identity
    # vector makes the first chunk a plain "close nothing" step:
    # element_at(identity, 1) == 0 and compose(identity, s) == s.
    identity = F.array(*[F.lit(k) for k in range(n + 1)])
    init = F.struct(
        F.lit(None).cast("long").alias("last"),
        identity.alias("cur"),
        F.lit(0).alias("best"),
    )

    def step(acc, c):
        merged = acc["last"].isNotNull() & (
            (c["first_ts"] - acc["last"]) <= gap_sec
        )
        head = F.when(merged, _compose_trans(acc["cur"], c["s_head"])).otherwise(
            c["s_head"]
        )
        single = c["m"] == 1
        prev_closed = F.when(merged, F.lit(0)).otherwise(
            F.element_at(acc["cur"], 1)
        )
        head_closed = F.when(single, F.lit(0)).otherwise(F.element_at(head, 1))
        return F.struct(
            c["last_ts"].alias("last"),
            F.when(single, head).otherwise(c["s_tail"]).alias("cur"),
            F.greatest(
                acc["best"], prev_closed, head_closed, c["inner_best"]
            ).alias("best"),
        )

    folded = F.aggregate(F.col("chunks"), init, step)
    stage = F.greatest(folded["best"], F.element_at(folded["cur"], 1))
    reached = per_user.select(stage.alias("stage")).filter(F.col("stage") > 0)
    return _ladder(reached, n)


def trending_topk(
    events: DataFrame,
    duration: str = "1 hour",
    k: int = 3,
) -> DataFrame:
    """Top-k keys per tumbling window by event count — the trending
    dashboard rollup.  One map-side-combined hash agg on (window, key),
    then a rank window over the (already tiny) per-window key counts;
    ties break by key for determinism.  Output: (window_start, key, n,
    rn)."""
    counts = tumbling_counts(events, duration, "event_type").select(
        F.col("window_start"), F.col("event_type"), F.col("n")
    )
    w = Window.partitionBy("window_start").orderBy(F.desc("n"), F.asc("event_type"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
    )


def rate_anomalies(
    events: DataFrame,
    duration: str = "1 hour",
    trailing: int = 24,
    z: float = 3.0,
) -> DataFrame:
    """Per-key event-rate anomaly flags: a window whose count deviates
    from the TRAILING ``trailing``-window mean by more than ``z`` sample
    standard deviations (two-sided — spikes and outages both flag).
    Windows with fewer than 6 preceding observations are
    never flagged (cold-start noise).

    Shape: the per-(window, key) counts come from the same
    map-side-combined agg every rollup here uses; the trailing stats are
    ONE ordered window pass per key over the tiny count series (rows =
    windows × keys, not events).  Output: (window_start, key, n, mean,
    stddev, zscore)."""
    counts = tumbling_counts(events, duration, "event_type").select(
        F.col("window_start"), F.col("event_type"), F.col("n")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("window_start")
        .rowsBetween(-trailing, -1)
    )
    stats = counts.select(
        "window_start", "event_type", "n",
        F.avg("n").over(w).alias("mean"),
        F.stddev_samp("n").over(w).alias("stddev"),
        F.count("n").over(w).alias("history"),
    )
    zscore = (F.col("n") - F.col("mean")) / F.col("stddev")
    # stddev == 0 (perfectly flat history) is the HIGHEST-signal case,
    # not a reason to stay silent: any deviation from a constant rate is
    # an infinite-z anomaly — a steady service going dark, exactly the
    # outage this operator advertises.  zscore reports null there
    # (infinity has no finite value to round).
    flat_break = (F.col("stddev") == 0) & (F.col("n") != F.col("mean"))
    return (
        stats.filter(
            (F.col("history") >= 6)
            & (((F.col("stddev") > 0) & (F.abs(zscore) >= z)) | flat_break)
        )
        .select(
            "window_start", "event_type", "n",
            F.round("mean", 4).alias("mean"),
            F.round("stddev", 4).alias("stddev"),
            F.when(F.col("stddev") > 0, F.round(zscore, 4)).alias("zscore"),
        )
    )


def window_percentiles(
    events: DataFrame,
    duration: str = "1 hour",
) -> DataFrame:
    """Per-window value percentiles (p50/p95/p99-style latency rollup)
    via ``percentile_approx`` — a bounded-size quantile sketch per
    (window, key) group that map-side partial-merges like any aggregate,
    so the shuffle carries sketches, not values, at accuracy 10000
    (1/10000 relative rank error).  Output:
    (window_start, event_type, n, p50, p95, p99)."""
    ev = with_event_time(events)
    pcts = {"p50": 0.5, "p95": 0.95, "p99": 0.99}
    pcols = [F.percentile_approx("value", p, 10000).alias(name)
             for name, p in pcts.items()]
    return (
        ev.groupBy(F.window("event_time", duration).alias("w"),
                   F.col("event_type"))
        .agg(F.count("*").alias("n"), *pcols)
        .select(F.col("w.start").alias("window_start"), "event_type", "n",
                *pcts)
    )
