"""The benchmark's workloads.  Each builds its inputs from ``ctx.seed``,
times about ``ctx.seconds`` of work, and checks every output against the
generator's truth.  Every op is either a *write* (data into the archive)
or a *read* (a job over the archive), so both workloads report the same
end-to-end metrics.

- ``archive_batch`` (closed loop, one client): the daily cron job of a
  timesearch archive owner.  Set-up builds the archive and warms it up
  with one large day (ingest, full render, breakdown, index).  Write:
  one small overlapping delta dump through ``api.ingest_jsonfile``.
  Read: the export sequence that follows every three writes,
  ``api.offline_reading(incremental=True)`` (re-rendering the few
  threads the dumps changed) then ``api.breakdown`` and ``api.index``.
- ``live_corpus`` (open loop, then one closed-loop read): posts polled
  live into an archive, and a training corpus curated.  The archive is
  built by ``api.livestream(poll_seconds=1)`` itself from an initial
  dump and warmed up by one live file; then a generator thread renames
  small NDJSON files into the drop directory on a fixed schedule.
  Write: one file, timed from when it was due to when the micro-batch
  holding it committed.  Read: one
  ``operators.pipeline.curate_corpus`` run over a seeded parquet corpus
  through the noop sink.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import sys
import threading
import time
import traceback

import gen

# archive size: submissions in the initial dump, mean comments per thread
ARCHIVE_SUBS = 300
COMMENTS_PER_SUB = 4
# deltas (new submissions, new comments, re-sends): the set-up's warm-up
# day, then the timed days, small enough that a refresh re-renders a few
# percent of the threads
WARMUP_DELTA = (30, 300, 150)
DELTA = (1, 10, 5)
# timed days ingested before each refresh: three write samples per read
WRITES_PER_READ = 3
# live_corpus: one file every LIVE_PERIOD_S seconds holding LIVE_FILE
# (new submissions, new comments, re-sends) on the newest threads.  After
# the set-up's warm-up file (the first merge into a built archive), a
# micro-batch of one file takes ~4 s on 4 cores, so each file meets an
# idle stream: no backlog builds up.
LIVE_PERIOD_S = 5.0
LIVE_FILE = (2, 70, 28)
LIVE_RECENT_THREADS = 40
# live_corpus read: documents in the curation corpus
CORPUS_DOCS = 4_000
# longest wait for a micro-batch to commit before its files count as
# failed
COMMIT_WAIT_S = 60.0
STORES = ("submissions", "comments")


class Ctx:
    """What a workload gets: the session, its scratch root, the seed,
    the run length and the tracer (None in untraced runs); and what it
    leaves: the ops it timed and extra per-layer counters."""

    def __init__(self, spark, root: str, seed: int, seconds: int, tracer,
                 setup_start: float):
        self.spark = spark
        self.root = root
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.setup_start = setup_start
        self.setup_s = 0.0
        self.timed = (0.0, 0.0)
        self.ops: list[dict] = []
        self.extra: dict[str, float] = {}
        # facts of the run for its stderr line, next to the timings
        self.info: dict = {}
        self.input_bytes = 0
        self.archive_path = ""

    def path(self, *parts: str) -> str:
        return os.path.join(self.root, *parts)

    def mark(self, stage: str) -> None:
        """Log how far set-up has got (stderr), to see where it goes."""
        print(f"setup {time.time() - self.setup_start:7.2f}s {stage}",
              file=sys.stderr)

    def record(self, kind: str, dur: float, ok: bool) -> None:
        self.ops.append({"kind": kind, "s": dur, "ok": ok})

    def begin_timed(self) -> None:
        if self.tracer is not None:
            self.tracer.install()
        self.timed = (time.time(), 0.0)
        self.setup_s = self.timed[0] - self.setup_start

    def end_timed(self) -> None:
        self.timed = (self.timed[0], time.time())
        if self.tracer is not None:
            self.tracer.uninstall()

    def span(self, name: str, layer: str):
        """A span of the benchmark's own code, recorded in the timed
        phase of a traced run."""
        if self.tracer is None or not self.tracer.installed:
            return contextlib.nullcontext()
        return self.tracer.span(name, layer)

    def op(self, op_id: str) -> None:
        if self.tracer is not None:
            self.tracer.op_id = op_id


def _check(ok: bool, what: str) -> bool:
    if not ok:
        print(f"check failed: {what}", file=sys.stderr)
    return ok


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(base, f))
               for base, _, files in os.walk(path) for f in files)


def _versions(arch) -> dict[str, int]:
    return {name: getattr(arch, name).version() for name in STORES}


def _store_layer(ctx: Ctx, arch, v0: dict[str, int], input_bytes: int,
                 rows_merged: int, edit_rows: int) -> None:
    """What the timed phase's merges wrote, from a walk of the version
    directories they committed: bucket directories, rows (parquet
    footers) and bytes (snapshot plus edits), with their bases."""
    import pyarrow.parquet as pq

    buckets = rows = size = versions = 0
    for name in STORES:
        store = getattr(arch, name)
        v1 = store.version()
        versions += v1 - v0[name]
        for v in range(v0[name] + 1, v1 + 1):
            vdir = os.path.join(store.path, "snapshot", f"v={v}")
            buckets += len(glob.glob(os.path.join(vdir, "__bucket=*")))
            for f in glob.glob(os.path.join(vdir, "__bucket=*", "*.parquet")):
                rows += pq.ParquetFile(f).metadata.num_rows
            size += dir_bytes(vdir)
            size += dir_bytes(os.path.join(store.path, "edits", f"v={v}"))
    ctx.extra.update({
        "store.versions_committed": versions,
        "store.buckets_rewritten": buckets,
        "store.rows_rewritten": rows,
        "store.rows_merged": rows_merged,
        "store.bytes_written": size,
        "store.input_bytes": input_bytes,
        "store.edit_rows": edit_rows,
    })


def _edits_ok(arch, want: dict[str, int]) -> bool:
    """Committed edit-history rows of both stores equal the truth."""
    ok = True
    for name in STORES:
        n = getattr(arch, name).edits().count()
        ok &= _check(n == want[name], f"{name} edit rows {n} != {want[name]}")
    return ok


# -- archive_batch ------------------------------------------------------------

def _ingest_expect(g: gen.Archive, before: tuple[int, int]) -> dict:
    return {"new_submissions": len(g.subs) - before[0],
            "new_comments": len(g.coms) - before[1],
            "total_submissions": len(g.subs), "total_comments": len(g.coms)}


def _breakdown_ok(path: str, expect: dict) -> bool:
    with open(path) as f:
        got = json.load(f)
    order = sorted(expect, key=lambda a: (
        -(expect[a]["submissions"] + expect[a]["comments"]), a.lower(), a))
    return (_check(got == expect, "breakdown counts")
            and _check(list(got) == order, "breakdown order"))


def _count_lines(path: str) -> int:
    with open(path) as f:
        return sum(1 for _ in f)


def archive_batch(ctx: Ctx) -> None:
    from timesearch_spark import api

    g = gen.Archive(ctx.seed)
    dump = g.initial_dump(ARCHIVE_SUBS, COMMENTS_PER_SUB)
    expect = _ingest_expect(g, (0, 0))
    path = ctx.path("dump-0.json")
    ctx.input_bytes += gen.write_ndjson(dump, path)
    arch = api.Archive(ctx.spark, ctx.path("archive"))
    ctx.archive_path = arch.path
    got = api.ingest_jsonfile(arch, path)
    if got != expect:
        raise RuntimeError(f"initial ingest counters {got} != {expect}")
    ctx.mark("archive built")
    pages, exports = ctx.path("pages"), ctx.path("exports")

    def expect_exports(before: dict) -> dict:
        """What a refresh must produce now, ``before`` being the thread
        state its pages were last rendered from."""
        after = g.thread_state()
        return {"changed": sum(1 for s, st in after.items() if before.get(s) != st),
                "threads": len(after), "breakdown": g.breakdown(),
                "index_lines": sum(1 for s in g.subs.values() if s["score"] >= 0)}

    def refresh(want: dict) -> bool:
        n = api.offline_reading(arch, pages, incremental=True)
        bd = api.breakdown(arch, sort="total_posts", out_dir=exports)
        idx = api.index(arch, exports)
        return (_check(n == want["changed"],
                       f"re-rendered {n} threads, expected {want['changed']}")
                and _breakdown_ok(bd, want["breakdown"])
                and _check(_count_lines(idx) == want["index_lines"], "index lines"))

    # rounds are generated up front, each with the truth after it.  A
    # round is WRITES_PER_READ days ingested, then one refresh.  Round 0
    # is the set-up's warm-up (one large day, then a full render: no
    # pages exist yet); the later rounds outlast the timed phase.
    rounds = []
    rendered: dict = {}
    for r in range(ctx.seconds // 5 + 2):
        days = []
        for _ in range(1 if r == 0 else WRITES_PER_READ):
            before = (len(g.subs), len(g.coms))
            lines = g.delta_dump(*(WARMUP_DELTA if r == 0 else DELTA))
            path = ctx.path(f"dump-{r}-{len(days)}.json")
            days.append({"path": path, "bytes": gen.write_ndjson(lines, path),
                         "lines": len(lines), "ingest": _ingest_expect(g, before)})
        rounds.append({"days": days, "exports": expect_exports(rendered),
                       "edits": dict(g.edits)})
        rendered = g.thread_state()

    def run_round(i: int, rnd: dict) -> list[tuple[str, float, bool]]:
        """Ingest a round's days, then refresh the exports from them:
        (kind, seconds, ok) of each op."""
        ops = []
        for j, d in enumerate(rnd["days"]):
            t0 = time.monotonic()
            ctx.op(f"write-{i}-{j}")
            ok = False
            try:
                got = api.ingest_jsonfile(arch, d["path"])
                ok = _check(got == d["ingest"], f"ingest counters {got} != {d['ingest']}")
            except Exception:
                traceback.print_exc()
            ops.append(("write", time.monotonic() - t0, ok))
        t0 = time.monotonic()
        ctx.op(f"read-{i}")
        ok = False
        try:
            ok = refresh(rnd["exports"])
        except Exception:
            traceback.print_exc()
        ops.append(("read", time.monotonic() - t0, ok))
        return ops

    # warm-up: the first merge into a built archive and the first render
    # of the process are several times slower than the next ones
    for _, dur, ok in run_round(0, rounds[0]):
        ctx.record("setup", dur, ok)
    ctx.mark("warmed up")
    ctx.input_bytes += rounds[0]["days"][0]["bytes"]
    edits0 = sum(rounds[0]["edits"].values())

    v0 = _versions(arch)
    ctx.begin_timed()
    start = time.monotonic()
    done = [rounds[0]]
    cycle = 0.0
    for i, rnd in enumerate(rounds[1:], 1):
        # closed loop: start another round only if it should end in time
        if cycle and time.monotonic() - start + cycle > ctx.seconds:
            break
        t0 = time.monotonic()
        for kind, dur, ok in run_round(i, rnd):
            ctx.record(kind, dur, ok)
        cycle = time.monotonic() - t0
        ctx.info.setdefault("rendered", []).append(
            [rnd["exports"]["changed"], rnd["exports"]["threads"]])
        done.append(rnd)
    ctx.end_timed()
    timed = [d for rnd in done[1:] for d in rnd["days"]]
    ctx.input_bytes += sum(d["bytes"] for d in timed)

    last = done[-1]
    n_pages = sum(1 for f in os.listdir(pages) if f.endswith(".html"))
    ctx.record("verify", 0.0, _edits_ok(arch, last["edits"])
               and _check(n_pages == last["exports"]["threads"], f"{n_pages} pages"))
    if ctx.tracer is not None:
        _store_layer(ctx, arch, v0, sum(d["bytes"] for d in timed),
                     sum(d["lines"] for d in timed),
                     sum(last["edits"].values()) - edits0)


# -- live_corpus --------------------------------------------------------------

def _committed(checkpoint: str) -> dict[str, tuple[int, float]]:
    """Dropped file name -> (id, commit time) of the micro-batch that
    read it, from the query's checkpoint: the file source log maps files
    to batch ids, and ``commits/<id>`` is written when that batch
    committed."""
    commits = {}
    for f in glob.glob(os.path.join(checkpoint, "commits", "*")):
        name = os.path.basename(f)
        if name.isdigit():
            commits[int(name)] = os.stat(f).st_mtime
    out = {}
    for f in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
        with open(f) as fh:
            for line in fh:
                if line.startswith("{"):
                    e = json.loads(line)
                    if e["batchId"] in commits:
                        out[e["path"].rsplit("/", 1)[-1]] = (
                            e["batchId"], commits[e["batchId"]])
    return out


def _wait_committed(checkpoint: str, names: list[str],
                    timeout: float) -> dict[str, tuple[int, float]]:
    deadline = time.time() + timeout
    while True:
        got = _committed(checkpoint)
        if all(n in got for n in names) or time.time() > deadline:
            return got
        time.sleep(0.05)


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def live_corpus(ctx: Ctx) -> None:
    from timesearch_spark import api

    g = gen.Archive(ctx.seed)
    drop, stage = ctx.path("drop"), ctx.path("stage")
    os.makedirs(drop)
    os.makedirs(stage)
    arch = api.Archive(ctx.spark, ctx.path("archive"))
    ctx.archive_path = arch.path
    checkpoint = os.path.join(arch.path, "_checkpoint")

    def staged(name: str, lines: list[dict]) -> tuple[str, int, int]:
        return name, gen.write_ndjson(lines, os.path.join(stage, name)), len(lines)

    def drop_in(name: str) -> None:
        # written outside the drop directory, renamed in: the file
        # source never lists a partial file
        os.rename(os.path.join(stage, name), os.path.join(drop, name))

    query = api.livestream(arch, drop, poll_seconds=1)
    try:
        # the stream builds the archive from the initial dump (a merge
        # into empty stores)
        init = staged("init.json", g.initial_dump(ARCHIVE_SUBS, COMMENTS_PER_SUB))
        drop_in(init[0])
        if init[0] not in _wait_committed(checkpoint, [init[0]], COMMIT_WAIT_S):
            raise RuntimeError("the initial dump never committed")
        ctx.mark("archive built by the stream")
        g.settle()
        # warm-up: the first merge into a built archive is several times
        # slower than the next ones
        warm = staged("warm.json",
                      g.delta_dump(*LIVE_FILE, touch_recent=LIVE_RECENT_THREADS))
        drop_in(warm[0])
        ctx.record("setup", 0.0, warm[0] in _wait_committed(
            checkpoint, [warm[0]], COMMIT_WAIT_S))
        ctx.mark("warmed up")
        edits_set_up = sum(g.edits.values())
        n_files = max(1, int(ctx.seconds // LIVE_PERIOD_S))
        files = [staged(f"live-{i:04d}.json",
                        g.delta_dump(*LIVE_FILE, touch_recent=LIVE_RECENT_THREADS))
                 for i in range(n_files)]
        names = [f[0] for f in files]
        corpus = ctx.path("corpus.parquet")
        _write_corpus(gen.corpus(ctx.seed, CORPUS_DOCS), corpus)
        v0 = _versions(arch)

        ctx.begin_timed()
        # the 1 s poll ticks on whole seconds: due times half a second
        # past one make the tick wait a fixed 0.5 s instead of a random one
        now = time.time()
        t0 = int(now) + 0.5 if now % 1 < 0.3 else int(now) + 1.5
        due = [t0 + i * LIVE_PERIOD_S for i in range(n_files)]
        dropped: list[float] = []

        def generator() -> None:
            for name, when in zip(names, due):
                time.sleep(max(0.0, when - time.time()))
                drop_in(name)
                dropped.append(time.time())

        ctx.op("write")
        thread = threading.Thread(target=generator, daemon=True)
        thread.start()
        thread.join(timeout=ctx.seconds + COMMIT_WAIT_S)
        commits = _wait_committed(checkpoint, names, COMMIT_WAIT_S)
    finally:
        query.stop()
    # read after the stop: a trigger records its progress after its commit
    progress = list(query.recentProgress)

    latencies = []
    for name, when in zip(names, due):
        if name in commits:
            latencies.append(commits[name][1] - when)
            ctx.record("write", latencies[-1], True)
        else:
            ctx.record("write", COMMIT_WAIT_S, False)
    ctx.input_bytes += init[1] + warm[1] + sum(f[1] for f in files)
    timed_batches = {commits[n][0] for n in names if n in commits}
    live = [p for p in progress if p["batchId"] in timed_batches]
    trigger = [p["durationMs"].get("triggerExecution", 0) / 1e3 for p in live]
    ctx.extra.update({
        "livestream.batches": len(live),
        "livestream.trigger_s": _median(trigger),
        "livestream.batch_rows": _median([p["numInputRows"] for p in live]),
        # due-to-commit beyond the batch's own trigger time: the wait for
        # a trigger to start, behind earlier batches
        "livestream.queue_s": _median(latencies) - _median(trigger),
        "livestream.generator_late_s": _median([d - w for d, w in zip(dropped, due)]),
    })
    if ctx.tracer is not None:
        _store_layer(ctx, arch, v0, sum(f[1] for f in files),
                     sum(f[2] for f in files), sum(g.edits.values()) - edits_set_up)

    # read: curate the corpus
    ctx.op("read")
    ok = False
    dur = 0.0
    try:
        dur, ok = _curate(ctx, corpus)
    except Exception:
        traceback.print_exc()
    ctx.record("read", dur, ok)
    ctx.end_timed()

    # every live item is in the archive, with the edit history it implies
    ok = _edits_ok(arch, g.edits)
    for name, table in (("submissions", g.subs), ("comments", g.coms)):
        n = getattr(arch, name).snapshot().count()
        ok &= _check(n == len(table), f"{name} rows {n} != {len(table)}")
    ctx.record("verify", 0.0, ok)


def _write_corpus(docs: list[tuple[int, str]], path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({"doc_id": [d[0] for d in docs],
                             "text": [d[1] for d in docs]}), path)


def _curate(ctx: Ctx, path: str) -> tuple[float, bool]:
    """One curation run over the corpus at ``path``, timed from the read
    to the end of the noop write, then checked: all ``CORPUS_DOCS``
    documents entered, the exact rung keeps one document per distinct
    gated text, no text survives twice (no injected copy is kept), and no
    rung grows the set."""
    from timesearch_spark.operators import dedup, pipeline

    metrics: dict = {}
    t0 = time.monotonic()
    out = pipeline.curate_corpus(ctx.spark.read.parquet(path), metrics=metrics)
    with ctx.span("pipeline.action", "pipeline"):
        out.write.format("noop").mode("overwrite").save()
    dur = time.monotonic() - t0
    try:
        counts = pipeline.rung_counts(metrics)
        gated = {r[0].strip(" ").lower() for r in metrics["gated"].select("text").collect()}
        kept = [r[0].strip(" ").lower() for r in out.select("text").collect()]
    finally:
        dedup.release_pins(out)
    ladder = [counts[k] for k in ("input", "gated", "exact", "neardup")]
    ctx.info["rungs"] = ladder
    return dur, (_check(counts["input"] == CORPUS_DOCS, f"curate input {counts}")
                 and _check(counts["exact"] == len(gated), f"exact rung {counts}")
                 and _check(len(kept) == len(set(kept)), "a duplicate text survived")
                 and _check(ladder == sorted(ladder, reverse=True), f"rungs {counts}"))


WORKLOADS = {"archive_batch": archive_batch, "live_corpus": live_corpus}
