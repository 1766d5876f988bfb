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


def comment_forest(comments: DataFrame, num_partitions: int | None = None) -> DataFrame:
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
        num_partitions or _python_stage_width(df), "submission"
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

def html_escape(col):
    """The reference's escape — including its '&rt;' typo, reproduced for
    parity (offline_reading.py:285-290)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(F.regexp_replace(c, "<", "&lt;"), ">", "&rt;")


def render_comment_html(df: DataFrame, body_col: str = "body") -> DataFrame:
    """Per-comment HTML div, nested by depth (offline_reading.py:178-199
    template family).  Reference composition (render_markdown,
    offline_reading.py:285-291): escape brackets FIRST — including the
    '&rt;' [sic] typo — then run the body through markdown.
    ``functions.markdown_render`` owns the package-vs-subset branch (the
    ``markdown`` package behind an import-try, the deterministic subset
    renderer in functions/markdown_lite.py otherwise) and is an
    Arrow-batched pandas_udf in BOTH arms — never a row-at-a-time UDF."""
    from timesearch_spark.functions import markdown_render

    rendered = markdown_render(html_escape(F.col(body_col)))

    return df.withColumn(
        "html",
        F.format_string(
            '<div class="comment" id="%s" style="margin-left:%dem">%s</div>',
            F.col("idstr"),
            F.col("depth").cast("int"),
            rendered,
        ),
    )


# --- reference-parity thread pages (offline_reading.py:9-98, 178-296) -------
#
# The templates below reproduce the reference's page bytes exactly (same
# adjudication as the listing constants in operators/exports.py: byte-exact
# export parity is the spec, so the template TEXT is shared data; the
# machinery around it is original).  Each constant is the reference
# triple-quoted template after its ``.strip()`` and ``str.format`` passes,
# re-expressed printf-style for ``F.format_string``; the one structural
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


def _userlink(author) -> F.Column:
    """html_helper_userlink (offline_reading.py:273-284): an <a> tag for
    the author, or the literal '[deleted]'."""
    a = F.coalesce(author, F.lit("None"))  # str(None) parity on null
    return F.when(F.lower(a) == "[deleted]", F.lit("[deleted]")).otherwise(
        F.format_string('<a href="https://old.reddit.com/u/%s">%s</a>', a, a)
    )


def _permalink(subreddit, submission, idstr, kind: str) -> F.Column:
    """html_helper_permalink (offline_reading.py:248-258)."""
    base = F.concat(
        F.lit("https://old.reddit.com/r/"),
        F.coalesce(subreddit, F.lit("None")),
        F.lit("/comments/"),
    )
    if kind == "submission":
        return F.concat(base, F.substring(idstr, 4, 2_147_483_000))
    return F.concat(
        base,
        F.substring(submission, 4, 2_147_483_000),
        F.lit("/_/"),
        F.substring(idstr, 4, 2_147_483_000),
    )


def _render_body(col) -> F.Column:
    """render_markdown (offline_reading.py:285-291): escape-then-markdown,
    Arrow-batched.  The reference's trailing sanitize_braces round-trips
    through its str.format passes back to the raw text, so the net page
    bytes carry the rendered markdown verbatim — no brace step here."""
    from timesearch_spark.functions import markdown_render

    return markdown_render(html_escape(col))


def _page_block_renderer():
    """The Python-side HTML_COMMENT block renderer, shared by the fused
    page pass (:func:`assemble_thread_pages`) and the streamed fragment
    arm (:func:`thread_page_fragments`) so the two arms cannot drift a
    byte: ``block(root, idstr, fields) -> (pre, post)`` splits the
    rendered block at the children slot.  Markdown arm selection matches
    functions.markdown_render (offline_reading.py:285-291); NaN-vs-None
    normalization matches Arrow's nullable hand-off."""
    import datetime

    from timesearch_spark.functions import HAS_MARKDOWN

    if HAS_MARKDOWN:  # the same arm choice markdown_render makes
        import markdown as _md

        def md(text):
            return _md.markdown(text, output_format="html5")
    else:
        from timesearch_spark.functions.markdown_lite import render as md

    def norm(v):
        # Arrow hands nullable columns over with NaN; fold to None
        return None if v is None or v != v else v

    def human(ts):
        ts = norm(ts)
        if ts is None:
            return "None"
        return datetime.datetime.utcfromtimestamp(int(ts)).strftime(
            "%b %d %Y %H:%M:%S")

    def userlink(author):
        a = "None" if norm(author) is None else str(author)
        if a.lower() == "[deleted]":
            return "[deleted]"
        return f'<a href="https://old.reddit.com/u/{a}">{a}</a>'

    def block(root, idstr, f):
        sub_bare = root[3:]
        subreddit = "None" if norm(f.get("subreddit")) is None else f["subreddit"]
        link = (f"https://old.reddit.com/r/{subreddit}/comments/"
                f"{sub_bare}/_/{idstr[3:]}")
        score = norm(f.get("score"))
        body = norm(f.get("body"))
        text = COMMENT_FMT % (
            idstr,
            userlink(f.get("author")),
            "None" if score is None else int(score),
            link,
            human(f.get("created")),
            "" if body is None else md(
                body.replace("<", "&lt;").replace(">", "&rt;")),
        )
        pre, _, post = text.partition(_CHILD_SLOT)
        return pre, post

    return block


#: Per-thread row bound for the fused page assembler.  One page = one
#: task, so one thread's row dicts + rendered parts live in a single
#: Python worker's memory (~1 KiB/row with rendered HTML): 2M rows is
#: ~2 GiB — far past any real Reddit thread (the largest on record is
#: ~100k comments) but comfortably inside an executor.  Hitting it means
#: degenerate input (a corpus mis-keyed onto one submission); the guard
#: turns the silent executor OOM into an actionable error.
DEFAULT_MAX_THREAD_ROWS = 2_000_000


def assemble_thread_pages(comments: DataFrame,
                          num_partitions: int | None = None,
                          max_thread_rows: int = DEFAULT_MAX_THREAD_ROWS,
                          ) -> DataFrame:
    """(submission, doc): each thread's comment forest walked, rendered
    and nested in ONE partition-then-walk pass (the same shape as
    :func:`comment_forest`): repartition on the thread key, sort within
    partitions, then per thread build the tree (created-asc insertion,
    score-desc/id.lower()-asc children; orphan subtrees under missing
    parents stay unreachable and are dropped from the page, exactly as
    the reference's never-attached phantoms — offline_reading.py:358-366;
    contrast the forest ANALYTICS path, which surfaces phantoms
    deliberately), render each node's HTML_COMMENT block in-process
    (same markdown arm as functions.markdown_render), and fold the
    preorder into the nested document with an explicit stack (children
    substituted into the parent's slot, siblings joined with a blank
    line — html_from_tree, offline_reading.py:225-246).

    Fused on purpose: the staged walk→join-bodies→render→assemble form
    paid two extra shuffles (the idstr join + re-partitioning the
    blocks), an Arrow UDF round trip, and a second Python pass — 11.8 s
    vs ~5 s at sf0.1 on the synthetic 390k-comment corpus.  Nothing is
    lost at scale: a page is one file, so assembly ALWAYS needs the
    whole thread in one task — the distributed pointer-doubling walk
    buys nothing here (it still serves the forest analytics queries).
    The explicit stack keeps degenerate 500k-deep chains off the
    recursion limit, and ``max_thread_rows`` bounds the one-task memory
    footprint with a loud error instead of an executor OOM (see
    DEFAULT_MAX_THREAD_ROWS).  Input columns: (submission, idstr,
    parent, created, score, author, body, subreddit)."""
    cols = ["submission", "idstr", "parent", "created", "score",
            "author", "body", "subreddit"]
    df = comments.select(*cols)
    # explicit width (r15): see _python_stage_width — the unpinned form
    # AQE-coalesced this whole render's input to ONE partition at sf0.1
    parted = df.repartition(
        num_partitions or _python_stage_width(df), "submission"
    ).sortWithinPartitions("submission", "created")

    def render_pages(batches):
        block = _page_block_renderer()

        def assemble(sub, rows):
            root = sub if sub.startswith("t3_") else "t3_" + sub
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
                # never pushed, so the subtree is unreachable too.  (The
                # forest ANALYTICS path keeps phantom-under-root rows on
                # purpose — that choice is separately oracled there.)
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
                pre, post = block(root, node, fields.get(node, {}))
                parts.append(pre)
                post_stack.append(post)
                count_stack.append(0)
                push_kids(stack, node, d + 1)
            while post_stack:
                parts.append(post_stack.pop())
            return "".join(parts)

        cur = None
        rows: list = []
        out_subs: list = []
        out_docs: list = []

        def close_thread():
            # one output ROW per thread, but batched into ~1k-row Arrow
            # frames: yielding a 1-row DataFrame per thread cost ~0.5 ms
            # each — 7 s of pure pandas constructor overhead on a 15k-
            # thread corpus
            if cur is not None:
                out_subs.append(cur)
                out_docs.append(assemble(cur, rows))

        for pdf in batches:
            it = zip(pdf["submission"], pdf["idstr"], pdf["parent"],
                     pdf["created"], pdf["score"], pdf["author"],
                     pdf["body"], pdf["subreddit"])
            for sub, idstr, parent, created, sc, author, body, srd in it:
                if sub != cur:
                    close_thread()
                    if len(out_subs) >= 1024:
                        yield pd.DataFrame(
                            {"submission": out_subs, "doc": out_docs})
                        out_subs, out_docs = [], []
                    cur, rows = sub, []
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
                        "assembler holds one whole thread per task by "
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


def _page_head_col() -> F.Column:
    """Everything on a page ABOVE the comment forest, as one native
    expression over a submissions row: HTML header (title) + the
    submission block (html_from_database's tree root, offline_reading.py
    :201-222).  Shared by :func:`render_thread_pages` (which concats the
    assembled forest and the footer after it) and
    :func:`thread_page_fragments` (where it is the thread's first
    fragment and the footer rides the fragment's ``post``)."""
    sub_block = F.format_string(
        SUBMISSION_FMT,
        F.col("idstr"),
        _userlink(F.col("author")),
        F.coalesce(F.col("score").cast("string"), F.lit("None")),
        _permalink(F.col("subreddit"), F.col("idstr"), F.col("idstr"),
                   "submission"),
        F.coalesce(
            F.date_format(F.from_unixtime(F.col("created")),
                          "MMM dd yyyy HH:mm:ss"),
            F.lit("None"),
        ),
        F.coalesce(F.col("title"), F.lit("None")),
        # html_helper_urlortext (offline_reading.py:259-271): url wins,
        # else rendered selftext, else '' — Python truthiness, so empty
        # strings fall through like nulls
        F.when(
            F.coalesce(F.col("url"), F.lit("")) != "",
            F.format_string('<a href="%s">%s</a>', F.col("url"), F.col("url")),
        ).when(
            F.coalesce(F.col("selftext"), F.lit("")) != "",
            _render_body(F.col("selftext")),
        ).otherwise(F.lit("")),
    )
    return F.concat(
        F.format_string(PAGE_HEADER_FMT,
                        F.coalesce(F.col("title"), F.lit("None"))),
        sub_block,
    )


def render_thread_pages(
    submissions: DataFrame,
    comments: DataFrame,
    checkpoint_dir: str | None = None,
    num_partitions: int | None = None,
    max_thread_rows: int = DEFAULT_MAX_THREAD_ROWS,
) -> DataFrame:
    """(submission, doc): one COMPLETE reference-parity page per
    submission row — header (title), submission block, nested comment
    forest, footer (html_from_database, offline_reading.py:201-222).
    EVERY submission gets a page, zero-comment ones included
    (trees_from_database iterates the submissions table,
    offline_reading.py:310-312); comment-only orphan threads get none,
    also per the reference.  Submission ids are normalized to their
    t3_ fullname before the walk, so raw and prefixed spellings of one
    thread assemble as ONE tree instead of two concatenated fragments.

    ``checkpoint_dir`` is accepted for interface stability (callers
    derive it for scheme:// archives) but unused: the fused
    walk+render+assemble pass (see :func:`assemble_thread_pages`) is a
    single non-iterative stage with no growing lineage to truncate —
    page assembly inherently holds one whole thread per task, so the
    distributed pointer-doubling walk (which the forest ANALYTICS
    queries still use) buys nothing on this path."""
    norm = F.when(
        F.col("submission").startswith("t3_"), F.col("submission")
    ).otherwise(F.concat(F.lit("t3_"), F.col("submission")))
    comments = comments.withColumn("submission", norm)
    docs = assemble_thread_pages(comments, num_partitions=num_partitions,
                                 max_thread_rows=max_thread_rows)

    page = F.concat(
        _page_head_col(),
        F.coalesce(F.col("doc"), F.lit("")),  # zero-comment: children = ''
        F.lit(PAGE_FOOTER),
    )
    # r15 (guide §3.1): MapInPandas output carries no usable size
    # estimate, so the planner judged the RENDERED PAGES side tiny and
    # broadcast it (88 MiB at sf0.1 — and unbounded with the corpus:
    # at archive scale this collects every rendered page through the
    # driver and dies on the 8 GB broadcast cap), leaving the join
    # output with the submissions scan's partitioning (ONE partition
    # locally) for all downstream work.  Force the sort-merge join:
    # the fat side crosses the network exactly once, keyed, at any
    # scale, and the join output is partition-parallel.
    return (
        submissions.join(docs.hint("merge"),
                         submissions["idstr"] == docs["submission"],
                         "left")
        .select(F.col("idstr").alias("submission"), page.alias("doc"))
    )


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
    made redundant); one equi-join brings the render fields back to the
    walked rows; a stateless Arrow pass splits each rendered
    HTML_COMMENT block at the children slot into (pre, post).  The
    submissions table contributes ``okey = ''`` fragments — the empty
    key sorts before every all-digit path, so the head is first in
    writer order: ``pre`` = header + submission block (the exact
    :func:`_page_head_col` expression the fused arm uses), ``post`` =
    the page footer — which the writer's stack drain emits LAST, after
    every comment's close tags, exactly where the fused arm concats it.
    Comment depths shift +1 so they nest inside the submission
    fragment's open post.

    This is the SCALE arm: it pays the walk's O(log depth) rounds plus
    one fields join that the fused one-pass assembler
    (:func:`assemble_thread_pages`) avoids — keep the fused arm for
    bounded threads and route here when ``max_thread_rows`` trips.
    Threads present in ``comments`` but absent from ``submissions``
    produce comment fragments with no ``okey = ''`` head; the writer
    skips headless threads, preserving the reference's scope (pages
    come from the submissions table, offline_reading.py:310-312)."""
    norm = F.when(
        F.col("submission").startswith("t3_"), F.col("submission")
    ).otherwise(F.concat(F.lit("t3_"), F.col("submission")))
    comments = comments.withColumn("submission", norm)

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
        import pandas as pd

        block = _page_block_renderer()
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

    head_frags = submissions.select(
        F.col("idstr").alias("submission"),
        F.lit("").alias("okey"),  # '' < every all-digit path: head first
        F.lit(0).cast("int").alias("depth"),
        _page_head_col().alias("pre"),
        F.lit(PAGE_FOOTER).alias("post"),
    )
    return head_frags.unionByName(comment_frags)
