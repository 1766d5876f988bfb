"""Comment-forest assembly and rendering (SURVEY §2 C6/J2, §3.3).

Reference semantics (offline_reading.py:298-367 in
/root/reference/timesearch_modules/offline_reading.py):

- comments of one submission are fetched, sorted by ``created``
  (offline_reading.py:338), and linked parent→child;
- a comment whose parent id is missing gets a **phantom parent** node with
  ``data=None`` (offline_reading.py:360-366).  NOTE a deliberate
  deviation: the reference never re-attaches that phantom subtree, so the
  root-anchored walk (offline_reading.py:224-246) silently DROPS orphan
  comments from the rendered output; here phantom parents hang under the
  submission root, so every stored comment is reachable and counted.
  Depth/render output for orphan subtrees therefore differs from the
  reference by design (they appear instead of vanishing);
- top-level comments (parent starts with 't3_') attach to the submission
  root (offline_reading.py:357-359);
- render order walks children by score desc (offline_reading.py:211),
  preorder DFS (offline_reading.py:153-160).

Spark shape: threads are small (single-submission scope) while the corpus
is huge, so the right plan is ``groupBy(submission).applyInPandas`` — the
only shuffle is on the submission key, and the in-memory recursion runs
per group exactly like the reference's TreeNode code.  At 100 TB the
groups stay bounded (a thread is never TBs), and AQE's skew split keeps a
mega-thread from stalling a task slot.
"""

from __future__ import annotations

import os

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

TREE_SCHEMA = (
    "submission string, idstr string, parent string, depth int, "
    "position int, phantom boolean"
)

#: A comment's thread id as its submission's fullname (SQL text): raw and
#: ``t3_``-prefixed spellings of one thread are one thread.
THREAD_ID = ("IF(startswith(submission, 't3_'), submission,"
             " concat('t3_', submission))")


def _walk_one_thread(
    submission: str, idstrs: list, parents: list, scores: list, out: list
) -> None:
    """Assemble one submission's comment tree and append its preorder walk
    to ``out``.  Inputs are created-asc ordered plain lists — no pandas in
    the per-thread path, which is what keeps 100k tiny threads cheap.

    Port of tree_from_submission/walk semantics (offline_reading.py:331-367,
    153-160): created-asc insertion, phantom parents for missing ids,
    children visited by (score desc, idstr asc), preorder positions.
    """
    root = "t3_" + submission if not submission.startswith("t3_") else submission

    children: dict[str, list[str]] = {}
    score: dict[str, int] = {}
    parent_of: dict[str, str] = {}
    phantom: set[str] = set()
    known = set(idstrs)

    for idstr, parent, sc in zip(idstrs, parents, scores):
        if str(parent).startswith("t3_"):
            parent = root
        elif parent not in known and parent not in phantom:
            # Phantom parent (offline_reading.py:360-366): materialize a
            # data-less node under the root.
            phantom.add(parent)
            children.setdefault(root, []).append(parent)
            parent_of[parent] = root
            score[parent] = 0
        children.setdefault(parent, []).append(idstr)
        parent_of[idstr] = parent
        # Arrow hands a nullable long column over as float64 with NaN
        # (not None) — and NaN poisons the sibling sort key (every
        # comparison False → render order degrades to shuffle order).
        # `sc != sc` is the NaN test.
        score[idstr] = 0 if sc is None or sc != sc else sc

    # Iterative preorder DFS (recursion depth is unbounded in adversarial
    # threads; an explicit stack is).
    position = 0
    stack = [(root, -1)]
    while stack:
        node, depth = stack.pop()
        if node != root:
            out.append(
                (submission, node, parent_of.get(node), depth, position, node in phantom)
            )
            position += 1
        kids = children.get(node)
        if kids:
            # Render order: score desc (offline_reading.py:211), id asc for
            # determinism; reversed for the LIFO stack.
            kids.sort(key=lambda k: (-score.get(k, 0), k), reverse=True)
            for k in kids:
                stack.append((k, depth + 1))


def _python_stage_width(df: DataFrame) -> int:
    """Explicit partition count for a repartition feeding a Python
    (Arrow) stage.  r15, guide §2.5/§4: a keyed ``repartition(col)``
    WITHOUT a count is AQE-coalescible, and AQE targets shuffle BYTES
    (64 MB advisory) — correct for JVM relational stages, wrong before
    a per-row Python render whose cost is CPU per row, not bytes: at
    sf0.1 the page assembler's entire 600k-row input coalesced to ONE
    partition and the whole render ran on one core.  An explicit count
    pins the width; the value follows the session's configured
    parallelism (cluster-scale via conf), never a local constant."""
    sess = df.sparkSession
    try:
        # 'auto' (Databricks) and other non-numeric values fall back to
        # the session's parallelism (ADVICE r15)
        parts = int(sess.conf.get("spark.sql.shuffle.partitions", "200"))
    except (TypeError, ValueError):
        parts = 0
    return max(sess.sparkContext.defaultParallelism, parts)


def comment_forest(comments: DataFrame) -> DataFrame:
    """Preorder walk of every submission's comment tree.

    Input needs columns (idstr, parent, submission, created, score).
    Output: (submission, idstr, parent, depth, position, phantom) where
    depth 0 = top-level comment and position is the render order within
    the thread.

    Threads are tiny and numerous, so ``groupBy.applyInPandas`` (one
    Python call per group) would drown in per-group dispatch overhead.
    Instead: hash-partition by submission, sort within partitions, and
    walk each partition's groups inside ONE ``mapInPandas`` iterator —
    per-Arrow-batch Python cost, identical per-thread semantics, same
    single shuffle."""
    cols = ["idstr", "parent", "submission", "created", "score"]
    df = comments.select(*cols)
    parted = df.repartition(
        _python_stage_width(df), "submission"
    ).sortWithinPartitions("submission", "created")

    out_cols = ["submission", "idstr", "parent", "depth", "position", "phantom"]

    def walk_group_lists(subs, idstrs, parents, scores, out):
        """Walk every contiguous submission run in the (sorted) lists."""
        start = 0
        for i in range(1, len(subs) + 1):
            if i == len(subs) or subs[i] != subs[start]:
                _walk_one_thread(
                    subs[start], idstrs[start:i], parents[start:i], scores[start:i], out
                )
                start = i

    def walk_partition(batches):
        # Groups can straddle Arrow batch boundaries: hold back the last
        # submission's rows until the next batch (partitioning guarantees
        # a submission never straddles *partitions*).
        psubs, pids, ppar, psc = [], [], [], []
        for pdf in batches:
            if pdf.empty:
                continue
            subs = psubs + pdf["submission"].tolist()
            ids = pids + pdf["idstr"].tolist()
            par = ppar + pdf["parent"].tolist()
            sc = psc + pdf["score"].tolist()
            # find the start of the final (possibly incomplete) group
            cut = len(subs) - 1
            while cut > 0 and subs[cut - 1] == subs[-1]:
                cut -= 1
            psubs, pids, ppar, psc = subs[cut:], ids[cut:], par[cut:], sc[cut:]
            out: list = []
            walk_group_lists(subs[:cut], ids[:cut], par[:cut], sc[:cut], out)
            if out:
                yield pd.DataFrame(out, columns=out_cols)
        out = []
        walk_group_lists(psubs, pids, ppar, psc, out)
        if out:
            yield pd.DataFrame(out, columns=out_cols)

    return parted.mapInPandas(walk_partition, TREE_SCHEMA)


def comment_forest_big(
    comments: DataFrame,
    max_depth: int = 65536,
    checkpoint_dir: str | None = None,
    page_order: bool = False,
    drop_orphan_subtrees: bool = False,
    emit_path: bool = False,
    payload: tuple[str, ...] = (),
) -> DataFrame:
    """:func:`comment_forest` for threads too large for one task.

    The per-partition Python walk puts a whole thread on one task slot —
    fine for the reference's domain (offline_reading.py:331-367 walks one
    submission in one process precisely because threads are small), fatal
    for the one mega-thread that serializes a stage.  This variant
    computes the identical output with distributed relational passes:

    1. one window ranks siblings under each parent by (score desc,
       idstr asc) — the walk's visit order (offline_reading.py:211) — as
       a zero-padded fixed-width path segment.  That parent-partitioned
       window is the only per-key ordered stage left, and its groups are
       single families, not whole threads;
    2. pointer doubling builds every node's root path as the
       concatenation of those segments: each round a node splices in its
       known ancestor's (ancestor, path, hop count), so the known
       ancestor jumps 1, 2, 4, ... levels per round — ``O(log depth)``
       self-joins of the narrow per-node state, never depth-proportional
       rounds, with a per-round checkpoint to truncate lineage (the
       :func:`~timesearch_spark.operators.dedup.connected_components`
       recipe) — ``localCheckpoint`` by default, or a RELIABLE
       checkpoint into ``checkpoint_dir`` (see
       :func:`timesearch_spark.fs.checkpointer`) so a cluster run
       survives executor loss mid-walk;
    3. preorder position = rank of the path key within the thread: a
       parent's path is a proper prefix of its descendants' paths and
       siblings order by their rank segment, so lexicographic path order
       IS the preorder walk.

    Input contract: ``(submission, idstr)`` is unique — one row per
    comment per thread, as a store snapshot holds them.  The walk keys
    its state and the ``payload`` re-attach join on that pair, so a
    duplicated comment row would fan out into duplicate output rows.
    Nulls in ``idstr``, ``parent`` or ``submission`` raise.

    Semantics parity with the sequential walk, including: phantom
    parents for unknown ids materialized under the root with score 0
    (offline_reading.py:360-366, one per missing id), top-level ``t3_``
    parents remapped to the root, null/NaN scores ranked as 0, and
    nodes unreachable from the root (parent cycles) silently dropped —
    the reference's root-anchored walk never visits them either.
    ``max_depth`` bounds the supported tree depth (rounds =
    ``ceil(log2(max_depth)) + 1``); it also bounds per-row state, since
    a cycle's hop count doubles every round and would otherwise grow
    its path key without limit.  Nodes deeper than the bound are
    dropped like unreachable ones.

    Scale ledger: state is one narrow row per node; each round is one
    equi-join on (submission, ancestor id) plus a LIMIT-1 convergence
    probe — nothing super-linear in thread size ever materializes.
    Path keys cost 8 bytes per ancestor level, so the final
    position sort shuffles ~8·depth bytes per node.

    The two keyword knobs retarget the walk at the PAGE pipeline
    (:func:`thread_page_fragments`) without touching the default
    analytics semantics:

    - ``page_order``: sibling visit order becomes the page assembler's
      (score desc, ``lower(idstr)`` asc, created asc-nulls-first, idstr
      asc) — offline_reading.py:146-148's ``x[0].lower()`` pre-sort
      under :211's stable score re-sort, with the assembler's
      created-asc insertion as the tie.  Requires a ``created`` column
      (used only in the one sibling window; it never rides the rounds).
    - ``drop_orphan_subtrees``: phantom nodes get a ``~`` sentinel as
      their path segment's first character (real segments are all
      digits), and every row whose root path passes through a phantom —
      the phantom itself included — is dropped before positions are
      assigned.  That is the PAGE-scope rule: the reference never
      attaches phantoms to the root, so orphan subtrees are absent from
      the page bytes (offline_reading.py:358-366); the analytics
      default keeps them, separately oracled.
    - ``emit_path`` (r13): return the raw root-path key as
      ``order_key`` INSTEAD of computing integer ``position`` — a
      parent's path is a proper prefix of its descendants' and siblings
      order by rank segment, so sorting by the key gives exactly the
      preorder (step 3 above is a rank over this very column).  The
      page pipeline sorts fragments per thread in its writer anyway,
      so ranking first would pay one extra full Exchange+Sort of every
      walked row only to replace one sortable key with another.
    - ``payload`` (r13): extra input columns carried THROUGH the walk
      and returned on the output rows (phantoms carry nulls).  They are
      1:1 with nodes, so correctness is free; the cost model is what
      gates use: payload rides the initial state checkpoint and then
      only the UNRESOLVED frontier's round shuffles (todo shrinks as
      depths resolve — done rows rest in their checkpoint), while the
      per-round anc lookup side stays narrow (payload is excluded from
      anc_state).  The page pipeline passes its render fields here,
      which deletes the post-walk fields equi-join — two full
      exchanges of walk-sized relations — it previously paid."""
    root = F.concat(F.lit("t3_"), F.regexp_replace("submission", "^t3_", ""))

    def _required(name: str):
        # nulls here are data errors, and BOTH walks fail loudly on
        # them — the sequential walk crashes too (a None parent becomes
        # a None phantom child of the root, and the sibling sort's
        # (score, idstr) tie-break can't compare None to str), just
        # with an unhelpful TypeError from inside the Arrow iterator.
        # The relational walk would otherwise silently drop the row at
        # the anc join; raise the pointed error instead, so the two
        # walks agree that this input is an error.
        return F.when(
            F.col(name).isNull(),
            F.raise_error(
                F.lit(
                    f"comment_forest_big: null {name} — clean the input "
                    "(orphan rows without a thread cannot be walked)"
                )
            ),
        ).otherwise(F.col(name).cast("string"))

    pl = [f"__pl_{c}" for c in payload]  # collision-proof internal names
    base = comments.select(
        _required("submission").alias("submission"),
        _required("idstr").alias("idstr"),
        _required("parent").alias("parent"),
        F.coalesce(
            F.nanvl(F.col("score").cast("double"), F.lit(0.0)), F.lit(0.0)
        ).alias("__score"),
        root.alias("__root"),
        *([F.col("created").alias("__created")] if page_order else []),
        *[F.col(c).alias(a) for c, a in zip(payload, pl)],
    )
    from timesearch_spark.fs import checkpointer

    ckpt = checkpointer(comments.sparkSession, checkpoint_dir)
    # `base` feeds three subtrees of the state materialization: the
    # `known` distinct (the normalize join's build side), the phantom
    # branch's normalize join, and the nodes branch (whose own copy of
    # the join Catalyst eliminates — `known` is distinct on exactly the
    # join key, so the left-outer adds nothing once __kid is dropped).
    # Checkpoint it once so the input is READ ONCE instead of once per
    # subtree.  r13 measured -25% on thread_page_frags for the fat page
    # path; r15 event-log profiling showed the "cheap parquet re-read"
    # assumption was wrong for the analytics path too — each extra
    # pass re-ran the scan+id-synthesis projection (~1 s per pass at
    # sf0.1, two avoidable passes ≈ a third of tree_depth_dist's
    # wall).  At scale the trade is the same one the state ckpt
    # already makes: one narrow materialization replaces two full
    # source scans (guide §1.2 — don't compute things twice).
    base = ckpt(base)
    known = base.select(
        F.col("submission").alias("__ksub"), F.col("idstr").alias("__kid")
    ).distinct()
    # Normalize parents (offline_reading.py:357-366): t3_* -> thread
    # root; known comment id -> itself; unknown id -> phantom parent.
    #
    # r16 (guide §2.2 — shuffle fewer bytes): the per-row "is the parent
    # known?" LEFT join only ever fed the phantom derivation (Catalyst
    # already eliminated it from the nodes branch, since `known` is
    # distinct on exactly the join key and the flag was dropped there),
    # but it still shuffled one forest-sized row per NODE into the join
    # just to distinct the missing parents afterwards.  Derive phantoms
    # the set-sized way instead: non-root parent ids → map-side-combined
    # DISTINCT (top-level comments drop out before the shuffle — the
    # bulk of any forum-shaped forest) → LEFT ANTI against the known
    # ids.  Same missing-parent set, one narrow (submission, parent)
    # exchange instead of a forest-row exchange, and the nodes branch
    # becomes a pure projection of the checkpointed base.
    parents = (
        base.filter(~F.col("parent").startswith("t3_"))
        .select("submission", "parent")
        .distinct()
    )
    missing = parents.join(
        known,
        (parents["submission"] == known["__ksub"])
        & (parents["parent"] == known["__kid"]),
        "left_anti",
    )
    phantoms = missing.select(
        "submission",
        F.col("parent").alias("idstr"),
        root.alias("parent"),
        F.lit(0.0).alias("__score"),
        root.alias("__root"),
        F.lit(True).alias("phantom"),
        *([F.lit(None).cast(dict(base.dtypes)["__created"])
           .alias("__created")] if page_order else []),
    )
    # r16 (guide §8/§2.3): the payload does NOT ride the sibling-rank
    # window.  `nodes` stays NARROW — the window's (submission, parent)
    # exchange and its sort move only the ranking fields — and the
    # payload is re-attached below by ONE equi-join on the unique
    # (submission, idstr) row key, the exchange the spread already paid.
    # Before, payload bytes (the page arm ships body text here) crossed
    # TWO full exchanges (window + spread) and one sort just to come
    # along for the rank; now they cross exactly one exchange, unsorted.
    nodes = base.select(
        "submission",
        "idstr",
        F.when(F.col("parent").startswith("t3_"), F.col("__root"))
        .otherwise(F.col("parent"))
        .alias("parent"),
        "__score",
        "__root",
        F.lit(False).alias("phantom"),
        *(["__created"] if page_order else []),
    ).unionByName(phantoms)

    # Sibling visit order as a fixed-width sortable segment (width 8 =
    # up to 100M children per parent before overflow).
    order = (
        # page order: the assembler's stable sort key — score desc,
        # id.lower() asc, then created-asc insertion (nulls first, the
        # order the fused pass's sortWithinPartitions feeds them), then
        # idstr as the deterministic final tie
        [F.desc("__score"), F.asc(F.lower(F.col("idstr"))),
         F.asc_nulls_first("__created"), F.asc("idstr")]
        if page_order
        else [F.desc("__score"), F.asc("idstr")]
    )
    rank = F.row_number().over(
        Window.partitionBy("submission", "parent").orderBy(*order)
    )
    # State invariant: ``path`` = rank segments for the chain from the
    # child-of-anc down to this node; ``hops`` = edges from anc to node.
    # A node is DONE when anc == its thread root.
    seg = F.lpad(rank.cast("string"), 8, "0")
    if drop_orphan_subtrees:
        # Phantom segments lead with a sentinel no real (all-digit)
        # segment contains, so "passed through a phantom" is one
        # contains() over the concatenated path at the end — the subtree
        # resolves normally through the rounds (todo drains), then the
        # whole orphan lineage drops in one filter.  Width stays 8.
        seg = F.when(
            F.col("phantom"),
            F.concat(F.lit("~"), F.lpad(rank.cast("string"), 7, "0")),
        ).otherwise(seg)
    state = nodes.select(
        "submission",
        "idstr",
        "parent",
        "phantom",
        "__root",
        F.col("parent").alias("anc"),
        seg.alias("path"),
        F.lit(1).alias("hops"),
    )
    # r15 (guide §2.5): the state inherits the sibling-rank window's
    # (submission, parent) partitioning, and every direct child of a
    # mega-thread's root shares that ONE key — on the sf0.1 mega
    # fixture a single partition held 147k of 600k rows, and that
    # straggler rode EVERY downstream scan: each round's anc-side read,
    # each ckpt, and the final consumer (the page pipeline's Python
    # render serialized on it).  Hash-repartition on the unique row key
    # (deterministic, retry-safe) with an EXPLICIT width so AQE cannot
    # coalesce the spread away; width follows the session's configured
    # parallelism (conf-driven on a cluster), not a local constant.
    # Only the workloads that HAVE the hot family by construction spread
    # — the page arm (only over-bound threads are routed here since
    # r13) — while skew-free callers (the parity twins walk ~150k small
    # families) skip the extra exchange.
    if page_order or pl:
        width = _python_stage_width(comments)
        state = state.repartition(width, "submission", "idstr")
    if pl:
        # Payload re-attach (see the `nodes` note): one left equi-join
        # on the unique (submission, idstr) row key — phantoms have no
        # base row and get typed nulls, exactly the literals they
        # carried before.  Both sides are repartitioned to the spread
        # width explicitly so the join reuses those exchanges (guide
        # §2.4) and AQE cannot coalesce the pinned width away; the
        # narrow rank side is hinted as the hash-join BUILD side so the
        # payload side STREAMS — a sort-merge join would re-sort the
        # payload bytes, re-spending what skipping the window saved.
        pay = base.select("submission", "idstr", *pl).repartition(
            width, "submission", "idstr")
        state = state.hint("shuffle_hash").join(
            pay, ["submission", "idstr"], "left")
    state = ckpt(state)

    # Only the advancing FRONTIER is ever re-materialized: done rows
    # stay in the checkpointed piece that produced them (typically the
    # bulk of the forest after 2-3 rounds), and each round's anc lookup
    # reads those pieces back without recomputation.
    from functools import reduce

    done_parts = [state.filter(F.col("anc") == F.col("__root"))]
    todo = state.filter(F.col("anc") != F.col("__root"))
    rounds = max(1, (int(max_depth) - 1).bit_length() + 1)
    # r15 (guide §3.1/§2.4): the frontier shrinks geometrically (a node
    # at depth d resolves in ceil(log2 d) rounds, so past round 1 the
    # unresolved tail is a sliver of the forest) while the anc-lookup
    # side stays forest-sized — the shuffle-join rounds paid two full
    # Exchanges of every walked node PER ROUND just to advance that
    # sliver.  Once the frontier's exact count is known (the
    # convergence probe is a full count on the checkpointed piece —
    # same cached scan limit(1) paid), a small-enough frontier takes
    # the broadcast path: broadcast its distinct (submission, anc)
    # keys, left-semi prune the forest-sized anc relation map-side
    # (≤ one surviving anc row per key), then broadcast the pruned
    # ancs back into the advance join — the round runs with ZERO
    # shuffle exchanges.  The gate is a row count, not a local-mode
    # constant: 1M narrow key rows is tens of MB broadcast on any
    # cluster, and at 100 TB the later rounds still qualify because
    # geometric shrink is scale-free.  Round 0 (frontier size unknown,
    # typically forest-sized) always takes the shuffle path, and the
    # prune only engages once the frontier has ALSO shrunk to a
    # quarter of its first observed size: below the session's
    # auto-broadcast threshold AQE already broadcasts the whole anc
    # side for free, so pruning a still-forest-sized frontier would
    # add collect/broadcast jobs without removing an exchange.
    bcast_rows = int(
        os.environ.get("SPARK_GRAFT_WALK_BCAST_ROWS", "1000000")
    )
    # r16 (ADVICE r15, medium): the row gate alone misjudges DEEP
    # forests — each pruned anc row carries __apath, which grows 8
    # chars per resolved hop, so a 1M-row frontier whose ancs sit
    # 2^round hops deep broadcasts ~8·2^round bytes/row of path alone
    # (multi-GB against the 8 GB broadcast cap — the same rows-vs-bytes
    # misjudgment the render_thread_pages fix closed).  Gate ALSO on
    # estimated bytes: rows × (fixed row width + 8 × the round's max
    # resolvable hop count).  256 MB default: comfortably inside any
    # executor profile while still letting every geometric-shrink tail
    # round qualify (the frontier shrinks faster than the path grows).
    bcast_bytes = int(
        os.environ.get("SPARK_GRAFT_WALK_BCAST_BYTES", str(256 << 20))
    )
    n_todo: int | None = None
    n_first: int | None = None
    for rnd in range(rounds):
        # convergence probe runs AFTER each advance (r13): probing
        # before it cost one extra job per walk — the common shallow
        # forest paid probe+advance+probe where advance+probe suffices,
        # and an all-top-level forest's first advance joins an empty
        # frontier, which costs what the probe it replaces did
        full = reduce(lambda a, b: a.unionByName(b), done_parts + [todo])
        anc_state = full.select(
            F.col("submission").alias("__asub"),
            F.col("idstr").alias("__aid"),
            F.col("anc").alias("__aanc"),
            F.col("path").alias("__apath"),
            F.col("hops").alias("__ahops"),
        )
        # ancs resolved so far carry hops ≤ 2^rnd, i.e. ≤ 8·2^rnd path
        # chars; ~96 bytes covers the five id-ish string fields plus
        # UnsafeRow overhead.  min() keeps the estimate finite for the
        # default 64k max_depth.
        est_bytes = (
            (n_todo or 0) * (96 + 8 * min(2 ** rnd, int(max_depth)))
        )
        if (n_todo is not None and n_todo <= bcast_rows
                and est_bytes <= bcast_bytes
                and n_first is not None and n_todo * 4 <= n_first):
            keys = todo.select(
                F.col("submission").alias("__qsub"),
                F.col("anc").alias("__qanc"),
            ).dropDuplicates(["__qsub", "__qanc"])
            anc_state = anc_state.join(
                F.broadcast(keys),
                (anc_state["__asub"] == keys["__qsub"])
                & (anc_state["__aid"] == keys["__qanc"]),
                "left_semi",
            )
            anc_state = F.broadcast(anc_state)
        advanced = (
            todo.join(
                anc_state,
                (todo["submission"] == anc_state["__asub"])
                & (todo["anc"] == anc_state["__aid"]),
                "inner",  # every non-root anc is a known or phantom node
            )
            .select(
                "submission",
                "idstr",
                "parent",
                "phantom",
                "__root",
                F.col("__aanc").alias("anc"),
                F.concat(F.col("__apath"), F.col("path")).alias("path"),
                (F.col("hops") + F.col("__ahops")).alias("hops"),
                *pl,
            )
            # depth bound doubles as the cycle guard: a cycle member's
            # hop count doubles every round and exits here in O(log)
            # rounds instead of growing its path key forever
            .filter(F.col("hops") <= F.lit(int(max_depth)))
        )
        advanced = ckpt(advanced)
        done_parts.append(advanced.filter(F.col("anc") == F.col("__root")))
        todo = advanced.filter(F.col("anc") != F.col("__root"))
        n_todo = todo.count()
        if n_first is None:
            n_first = n_todo
        if n_todo == 0:
            break

    resolved = reduce(lambda a, b: a.unionByName(b), done_parts)
    if drop_orphan_subtrees:
        resolved = resolved.filter(~F.col("path").contains("~"))
    back = [F.col(a).alias(c) for c, a in zip(payload, pl)]
    if emit_path:
        return resolved.select(
            "submission",
            "idstr",
            "parent",
            (F.col("hops") - F.lit(1)).cast("int").alias("depth"),
            F.col("path").alias("order_key"),
            "phantom",
            *back,
        )
    pos = F.row_number().over(Window.partitionBy("submission").orderBy("path"))
    return resolved.select(
        "submission",
        "idstr",
        "parent",
        (F.col("hops") - F.lit(1)).cast("int").alias("depth"),
        (pos - F.lit(1)).cast("int").alias("position"),
        "phantom",
        *back,
    )


def thread_stats(forest: DataFrame) -> DataFrame:
    """Per-thread rollup over the walk: size, max depth, phantom count."""
    return forest.groupBy("submission").agg(
        F.count("*").alias("n_nodes"),
        F.max("depth").alias("max_depth"),
        F.sum(F.col("phantom").cast("long")).alias("n_phantom"),
    )


# --- rendering (J1 UDF surface) ---------------------------------------------

def render_comment_html(df: DataFrame) -> DataFrame:
    """Per-comment HTML div, nested by depth (offline_reading.py:178-199
    template family).  The body goes through ``functions.markdown_render``
    — the reference's render_markdown (offline_reading.py:285-291):
    escape brackets FIRST, including the '&rt;' [sic] typo, then
    markdown — an Arrow-batched pandas_udf, never a row-at-a-time UDF."""
    from timesearch_spark.functions import markdown_render

    return df.withColumn(
        "html",
        F.format_string(
            '<div class="comment" id="%s" style="margin-left:%dem">%s</div>',
            F.col("idstr"),
            F.col("depth").cast("int"),
            markdown_render(F.col("body")),
        ),
    )


# --- reference-parity thread pages (offline_reading.py:9-98, 178-296) -------
#
# The templates below reproduce the reference's page bytes exactly (same
# adjudication as the listing constants in operators/exports.py: byte-exact
# export parity is the spec, so the template TEXT is shared data; the
# machinery around it is original).  Each constant is the reference
# triple-quoted template after its ``.strip()`` and ``str.format`` passes,
# re-expressed printf-style; the one structural
# difference is the children slot — the reference substitutes
# ``{children}`` with ``str.format`` per node, which would misfire on a
# comment whose BODY contains a literal ``{children}`` had we split on
# that text, so the slot is marked with a NUL sentinel no document can
# plausibly contain and split there instead.

#: where a node's rendered children nest (offline_reading.py:80/97's
#: ``{{children}}`` slot) — NUL-delimited so body text can never collide
_CHILD_SLOT = "\x00children\x00"

#: HTML_HEADER (offline_reading.py:9-38) with ``%s`` at the {title} slot
PAGE_HEADER_FMT = (
    '<html>\n<head>\n<title>%s</title>\n<meta charset="UTF-8">\n'
    '<meta name="viewport" content="width=device-width, initial-scale=1.0"/>\n'
    "\n<style>\n.submission, .comment\n{\n    padding-left: 20px;\n"
    "    padding-right: 4px;\n}\n.comment\n{\n    margin-top: 4px;\n"
    "    margin-bottom: 4px;\n    border: 1px solid black;\n}\n"
    ".submission\n{\n    border: 2px solid blue;\n}\n.hidden\n{\n"
    "    display: none;\n}\n</style>\n</head>\n<body>"
)

#: HTML_FOOTER (offline_reading.py:40-61) — never format()ed, verbatim
PAGE_FOOTER = (
    "</body>\n\n<script>\nfunction toggle_collapse(comment_div)\n{\n"
    '    var button = comment_div.getElementsByClassName("toggle_hide_button")[0];\n'
    '    var collapsible = comment_div.getElementsByClassName("collapsible")[0];\n'
    '    if (collapsible.classList.contains("hidden"))\n    {\n'
    '        collapsible.classList.remove("hidden");\n'
    '        button.innerText = "[-]";\n    }\n    else\n    {\n'
    '        collapsible.classList.add("hidden");\n'
    '        button.innerText = "[+]";\n    }\n}\n</script>\n</html>'
)

#: HTML_COMMENT (offline_reading.py:63-82); %s: id, usernamelink, score,
#: permalink, human, body
COMMENT_FMT = (
    '<div class="comment" id="%s">\n    <p class="userinfo">\n        <a\n'
    '        class="toggle_hide_button"\n        href="javascript:void(0)"\n'
    '        onclick="toggle_collapse(this.parentElement.parentElement)">[-]\n'
    "        </a>\n        %s\n        |\n"
    '        <span class="score">%s points</span>\n        |\n'
    '        <a class="timestamp" href="%s">%s</a>\n    </p>\n'
    '    <div class="collapsible">\n        %s\n        ' + _CHILD_SLOT
    + "\n    </div>\n</div>"
)

#: HTML_SUBMISSION (offline_reading.py:84-98); %s: id, usernamelink,
#: score, permalink, human, title, url_or_text — its children slot is the
#: template's tail, so no sentinel is needed
SUBMISSION_FMT = (
    '<div class="submission" id="%s">\n    <p class="userinfo">\n'
    "        %s\n        |\n"
    '        <span class="score">%s points</span>\n        |\n'
    '        <a class="timestamp" href="%s">%s</a>\n    </p>\n'
    "    <strong>%s</strong>\n    <p>%s</p>\n</div>\n"
)


def _page_block_renderer():
    """The page renderer both page arms share, so they cannot drift a
    byte.  ``head(fields)`` renders everything on a page ABOVE the
    comment forest from one submissions row: the HTML header (title)
    and the submission block, html_from_database's tree root
    (offline_reading.py:201-222).  ``block(root, idstr, fields)``
    renders one comment's HTML_COMMENT block, split at the children
    slot into ``(pre, post)``.  A null field prints as ``None`` (the
    reference's ``str(None)``); Arrow hands nullable numbers over as
    NaN, which folds to None first."""
    import datetime

    from timesearch_spark.functions import render_markdown

    def norm(v):
        return None if v is None or v != v else v

    def text(v):
        v = norm(v)
        return "None" if v is None else v

    def number(v):
        v = norm(v)
        return "None" if v is None else int(v)

    def human(ts):
        ts = norm(ts)
        if ts is None:
            return "None"
        return datetime.datetime.utcfromtimestamp(int(ts)).strftime(
            "%b %d %Y %H:%M:%S")

    def userlink(author):
        """html_helper_userlink (offline_reading.py:273-284)"""
        a = str(text(author))
        if a.lower() == "[deleted]":
            return "[deleted]"
        return f'<a href="https://old.reddit.com/u/{a}">{a}</a>'

    def head(f):
        idstr = f["idstr"]
        title = text(f["title"])
        url, selftext = norm(f["url"]), norm(f["selftext"])
        # html_helper_urlortext (offline_reading.py:259-271): url wins,
        # else rendered selftext, else '' — Python truthiness, so empty
        # strings fall through like nulls
        if url:
            url_or_text = f'<a href="{url}">{url}</a>'
        elif selftext:
            url_or_text = render_markdown(selftext)
        else:
            url_or_text = ""
        link = (f"https://old.reddit.com/r/{text(f['subreddit'])}"
                f"/comments/{idstr[3:]}")
        return (PAGE_HEADER_FMT % title) + SUBMISSION_FMT % (
            idstr, userlink(f["author"]), number(f["score"]), link,
            human(f["created"]), title, url_or_text)

    def block(root, idstr, f):
        link = (f"https://old.reddit.com/r/{text(f.get('subreddit'))}"
                f"/comments/{root[3:]}/_/{idstr[3:]}")
        body = norm(f.get("body"))
        html = COMMENT_FMT % (
            idstr, userlink(f.get("author")), number(f.get("score")), link,
            human(f.get("created")),
            "" if body is None else render_markdown(body),
        )
        pre, _, post = html.partition(_CHILD_SLOT)
        return pre, post

    return head, block


#: Per-thread row bound for the fused page pass.  One page = one
#: task, so one thread's row dicts + rendered parts live in a single
#: Python worker's memory (~1 KiB/row with rendered HTML): 2M rows is
#: ~2 GiB — far past any real Reddit thread (the largest on record is
#: ~100k comments) but comfortably inside an executor.  Hitting it means
#: degenerate input (a corpus mis-keyed onto one submission); the guard
#: turns the silent executor OOM into an actionable error.
DEFAULT_MAX_THREAD_ROWS = 2_000_000

#: The fused page pass's input row: one head row per submission
#: (``__k = 0``, its selftext in ``body``) and one row per comment
#: (``__k = 1``, no ``title``/``url``), keyed by thread.
_PAGE_ROW = ("submission", "__k", "idstr", "parent", "created", "score",
             "author", "body", "subreddit", "title", "url")


def render_thread_pages(
    submissions: DataFrame,
    comments: DataFrame,
    max_thread_rows: int = DEFAULT_MAX_THREAD_ROWS,
) -> DataFrame:
    """(submission, doc): one COMPLETE reference-parity page per
    submission row — header (title), submission block, nested comment
    forest, footer (html_from_database, offline_reading.py:201-222) —
    rendered in ONE partition-then-walk pass (the shape of
    :func:`comment_forest`).

    Each submission contributes a head row and each comment a comment
    row (:data:`_PAGE_ROW`); comment thread ids are normalized to the
    t3_ fullname (:data:`THREAD_ID`), so raw and prefixed spellings of
    one thread assemble as ONE tree.  The rows are repartitioned on the
    thread key and sorted within partitions by (thread, head first,
    created).  Per thread the pass renders the head, builds the tree
    (created-asc insertion, score-desc/id.lower()-asc children; orphan
    subtrees under missing parents stay unreachable and are dropped
    from the page, exactly as the reference's never-attached phantoms —
    offline_reading.py:358-366; contrast the forest ANALYTICS path,
    which surfaces phantoms deliberately), renders each node's
    HTML_COMMENT block, and folds the preorder into the nested document
    with an explicit stack (children substituted into the parent's
    slot, siblings joined with a blank line — html_from_tree,
    offline_reading.py:225-246), then appends the footer.  EVERY
    submission gets a page, zero-comment ones included
    (trees_from_database iterates the submissions table,
    offline_reading.py:310-312); a thread with no head row —
    comment-only orphans — gets none, also per the reference.

    A page is one file, so rendering it ALWAYS needs the whole thread in
    one task; the explicit stack keeps degenerate 500k-deep chains off
    the recursion limit, and ``max_thread_rows`` bounds the one-task
    memory footprint with a loud error instead of an executor OOM (see
    DEFAULT_MAX_THREAD_ROWS).  Submissions need (idstr, title, url,
    selftext, score, author, subreddit, created); comments need
    (submission, idstr, parent, created, score, author, body,
    subreddit)."""
    heads = submissions.selectExpr(
        "idstr AS submission", "0 AS __k", "idstr",
        "CAST(NULL AS STRING) AS parent", "created", "score", "author",
        "selftext AS body", "subreddit", "title", "url")
    rows = heads.unionByName(comments.selectExpr(
        f"{THREAD_ID} AS submission", "1 AS __k", "idstr", "parent",
        "created", "score", "author", "body", "subreddit",
        "CAST(NULL AS STRING) AS title", "CAST(NULL AS STRING) AS url"))
    # explicit width (r15): see _python_stage_width — the unpinned form
    # AQE-coalesced this whole render's input to ONE partition at sf0.1
    parted = rows.repartition(
        _python_stage_width(rows), "submission"
    ).sortWithinPartitions("submission", "__k", "created")

    def render_pages(batches):
        head, block = _page_block_renderer()

        def forest(root, rows):
            children: dict = {}
            fields: dict = {}
            score: dict = {}
            for r in rows:  # created-asc insertion (sorted upstream)
                parent = r["parent"]
                if str(parent).startswith("t3_"):
                    parent = root
                # A parent absent from the thread stays DETACHED: the
                # reference puts a phantom TreeNode in node_map but never
                # attaches it to the root (offline_reading.py:358-366),
                # so html_from_tree's root walk (:224-246) never reaches
                # the orphan subtree and it is silently absent from the
                # page.  children[missing_parent] is populated here but
                # never pushed, so the subtree is unreachable too.
                children.setdefault(parent, []).append(r["idstr"])
                fields[r["idstr"]] = r
                sc = r["score"]
                score[r["idstr"]] = 0 if sc is None or sc != sc else sc

            def push_kids(stack, node, depth):
                kids = children.get(node)
                if kids:
                    # score desc, then id.lower() asc, then created-asc
                    # insertion: listnodes pre-sorts by x[0].lower()
                    # (offline_reading.py:146-148) and html_from_tree
                    # stably re-sorts by -score (:210-211).  One stable
                    # sort on the composite key is equivalent; reversed()
                    # keeps tie order through the LIFO stack.
                    kids.sort(key=lambda k: (-score.get(k, 0), k.lower()))
                    stack.extend((k, depth) for k in reversed(kids))

            parts: list = []
            post_stack: list = []
            count_stack: list = [0]
            stack: list = []
            push_kids(stack, root, 0)
            while stack:
                node, d = stack.pop()
                while len(post_stack) > d:
                    parts.append(post_stack.pop())
                    count_stack.pop()
                if count_stack[-1] > 0:
                    parts.append("\n\n")  # sibling join (offline_reading.py:240)
                count_stack[-1] += 1
                pre, post = block(root, node, fields[node])
                parts.append(pre)
                post_stack.append(post)
                count_stack.append(0)
                push_kids(stack, node, d + 1)
            while post_stack:
                parts.append(post_stack.pop())
            return "".join(parts)

        cur = None
        page_head = None
        rows: list = []
        out_subs: list = []
        out_docs: list = []

        def close_thread():
            # one output ROW per thread, but batched into ~1k-row Arrow
            # frames: yielding a 1-row DataFrame per thread cost ~0.5 ms
            # each — 7 s of pure pandas constructor overhead on a 15k-
            # thread corpus.  A headless thread writes no page.
            if page_head is not None:
                out_subs.append(cur)
                out_docs.append(page_head + forest(cur, rows) + PAGE_FOOTER)

        for pdf in batches:
            # column zips, not pdf.to_dict("records"): the records form
            # builds one more dict per row than the render needs
            for (sub, k, idstr, parent, created, sc, author, body, srd,
                 title, url) in zip(*(pdf[c] for c in _PAGE_ROW)):
                if sub != cur:
                    close_thread()
                    if len(out_subs) >= 1024:
                        yield pd.DataFrame(
                            {"submission": out_subs, "doc": out_docs})
                        out_subs, out_docs = [], []
                    cur, page_head, rows = sub, None, []
                if k == 0:
                    page_head = head({
                        "idstr": idstr, "title": title, "url": url,
                        "selftext": body, "score": sc, "author": author,
                        "subreddit": srd, "created": created})
                    continue
                rows.append({"idstr": idstr, "parent": parent,
                             "created": created, "score": sc,
                             "author": author, "body": body,
                             "subreddit": srd})
                if len(rows) > max_thread_rows:
                    # Fail BEFORE the list grows to executor-killing
                    # size: the guard fires while accumulating, not
                    # after, so the failure mode is this message rather
                    # than a worker OOM with no cause attached.
                    raise ValueError(
                        f"thread {sub!r} exceeds max_thread_rows="
                        f"{max_thread_rows} comments; the fused "
                        "page pass holds one whole thread per task by "
                        "design.  If this thread is real, use the "
                        "streamed arm (thread_page_fragments + "
                        "exports.write_thread_docs_streamed, where "
                        "api.offline_reading routes threads past "
                        "max_thread_rows: distributed walk + O(depth) "
                        "stack writer, same bytes) or raise "
                        "max_thread_rows=; if not, the corpus is "
                        "mis-keyed — exclude the submission or fix the "
                        "ingest.")
        close_thread()
        if out_subs:
            yield pd.DataFrame({"submission": out_subs, "doc": out_docs})

    return parted.mapInPandas(render_pages, "submission string, doc string")


def thread_page_fragments(
    submissions: DataFrame,
    comments: DataFrame,
    max_depth: int = 65536,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """The page pipeline with NO per-thread memory ceiling: every page,
    byte-identical to :func:`render_thread_pages`, as an ordered stream
    of fragments ``(submission, okey, depth, pre, post)`` that
    :func:`~timesearch_spark.operators.exports.write_thread_docs_streamed`
    folds into files with an O(tree depth) stack — so a 10M-comment
    mega-thread streams through one writer task instead of OOMing it.

    Shape: the distributed pointer-doubling walk
    (:func:`comment_forest_big` with ``page_order`` — sibling order
    (score desc, id.lower() asc, created asc), ``drop_orphan_subtrees``
    — the reference's never-attached phantoms, offline_reading.py:358-366)
    assigns every comment its preorder ORDER KEY (``emit_path``: the
    walk's root-path key, whose lexicographic order IS the preorder —
    r13 dropped the integer-position window here, one full
    Exchange+Sort of every walked row the writer's own per-thread sort
    made redundant), carrying the render fields as payload; a
    stateless Arrow pass splits each rendered HTML_COMMENT block at the
    children slot into (pre, post).  The submissions table contributes
    ``okey = ''`` fragments — the empty key sorts before every
    all-digit path, so the head is first in writer order: ``pre`` =
    header + submission block (the ``head`` of
    :func:`_page_block_renderer`, as in the fused arm), ``post`` = the
    page footer — which the writer's stack drain emits LAST, after
    every comment's close tags, exactly where the fused arm concats it.
    Comment depths shift +1 so they nest inside the submission
    fragment's open post.

    This is the SCALE arm: it pays the walk's O(log depth) rounds that
    the fused one-pass :func:`render_thread_pages` avoids — keep the
    fused arm for bounded threads and route here when
    ``max_thread_rows`` trips.
    Threads present in ``comments`` but absent from ``submissions``
    produce comment fragments with no ``okey = ''`` head; the writer
    skips headless threads, preserving the reference's scope (pages
    come from the submissions table, offline_reading.py:310-312)."""
    comments = comments.withColumn("submission", F.expr(THREAD_ID))

    # The render fields ride the walk as payload (r13): they are 1:1
    # with nodes, so the post-walk fields equi-join — two full
    # exchanges of walk-sized relations — is gone; payload costs only
    # the initial state checkpoint plus the unresolved frontier's round
    # shuffles (see comment_forest_big's payload note).
    joined = comment_forest_big(
        comments.select("submission", "idstr", "parent", "score", "created",
                        "author", "body", "subreddit"),
        max_depth=max_depth,
        checkpoint_dir=checkpoint_dir,
        page_order=True,
        drop_orphan_subtrees=True,
        emit_path=True,
        payload=("created", "score", "author", "body", "subreddit"),
    ).select("submission", "idstr", "order_key", "depth",
             "created", "score", "author", "body", "subreddit")

    def render_fragments(batches):
        _, block = _page_block_renderer()
        for pdf in batches:
            pres, posts = [], []
            for idstr, sub, created, score, author, body, srd in zip(
                pdf["idstr"], pdf["submission"], pdf["created"],
                pdf["score"], pdf["author"], pdf["body"], pdf["subreddit"],
            ):
                pre, post = block(sub, idstr, {
                    "created": created, "score": score, "author": author,
                    "body": body, "subreddit": srd,
                })
                pres.append(pre)
                posts.append(post)
            yield pd.DataFrame({
                "submission": pdf["submission"],
                "okey": pdf["order_key"],
                # comment depths nest INSIDE the submission fragment's
                # open post (the footer): shift +1 past its level 0
                "depth": (pdf["depth"] + 1).astype("int32"),
                "pre": pres,
                "post": posts,
            })

    frag_schema = ("submission string, okey string, depth int, "
                   "pre string, post string")
    # r15 (guide §2.5): the walk's output inherits its partitioning
    # from per-(submission, anc) joins and per-(submission, parent)
    # windows — and a mega thread's direct children of the root all
    # share ONE such key, so one partition holds the entire top level
    # (147k of 600k rows on the sf0.1 mega fixture) and the Python
    # block render serializes on that straggler.  Hash-repartition on
    # the unique row key right before the Arrow boundary: deterministic
    # (retry-safe, no rand()), explicit partition count so AQE cannot
    # coalesce the sub-GB local case back into the straggler it fixes.
    # Width scales with the session's configured parallelism, not a
    # constant; the extra exchange moves pre-render fields once and
    # buys a full-width render stage (measured 3.6 s → ~1.2 s at
    # sf0.1-mega; the rendered pre/post fragments, several times
    # fatter, were never shuffled before and still are not).
    comment_frags = joined.repartition(
        _python_stage_width(joined), "submission", "idstr"
    ).mapInPandas(render_fragments, frag_schema)

    head_cols = ["idstr", "title", "url", "selftext", "score", "author",
                 "subreddit", "created"]

    def render_heads(batches):
        head, _ = _page_block_renderer()
        for pdf in batches:
            yield pd.DataFrame({
                "submission": pdf["idstr"],
                "okey": "",  # '' < every all-digit path: head first
                "depth": pd.Series(0, index=pdf.index, dtype="int32"),
                "pre": [head(dict(zip(head_cols, vals)))
                        for vals in zip(*(pdf[c] for c in head_cols))],
                "post": PAGE_FOOTER,
            })

    head_frags = submissions.select(*head_cols).mapInPandas(
        render_heads, frag_schema)
    return head_frags.unionByName(comment_frags)
