"""Versioned, bucket-partitioned parquet MERGE store — the upsert/CDC
sink (SURVEY §2 A11, C3, I3, I4).

Reference semantics: TSDB.insert (tsdb.py:326-359) — per-batch upsert
with edit capture, one commit per chunk.  Spark has no transactional
single-table update without a lakehouse format, so the store emulates
MERGE with per-bucket versioning:

- rows are hash-bucketed on the merge key into ``n_buckets`` partitions;
  the live snapshot is a *manifest* mapping bucket → the version whose
  directory holds that bucket's current data
  (``<path>/snapshot/v=N/__bucket=B``);
- a merge touches only the buckets present in the batch: it reads just
  those buckets' current directories (partition pruning by path), runs
  the upsert join against that pruned subset, and writes ONLY the
  touched buckets under a fresh ``v=N+1`` — untouched buckets keep
  serving their old directories with zero I/O.  Merge cost is
  O(touched buckets), not O(snapshot) — the property dynamic partition
  overwrite gives on a lakehouse table, plus reader isolation: the
  ``LATEST`` pointer swaps atomically, so a reader of the old manifest
  never sees a half-written version;
- edit rows append under ``<path>/edits`` (append-only CDC log, exactly
  the ``*_edits`` tables of tsdb.py:88-100), one ``edits/v=N`` per merge
  that captured any;
- the merge itself is operators.upsert.upsert_snapshot — idempotent
  coalesce rules, so a replayed micro-batch converges to the same state
  (exactly-once-per-key downstream of at-least-once delivery).  Its
  join is evaluated ONCE per merge: the merged rows are
  localCheckpointed and both the snapshot and the edits write read the
  checkpoint;
- per-merge counters (UpsertResult.stats) mirror TSDB.insert's
  ``new_values`` dict (tsdb.py:335-339): inserted = newly created keys,
  updated = batch keys that already existed.  They are observed
  (``Observation``) while the merged rows materialize, so they cost no
  job, and each commit logs them as one JSON record to the
  ``timesearch_spark`` logger;
- reads declare the store's schema, so no read runs a parquet
  footer-inference job;
- a store commits alone (own pointer, CAS, lease, staging): an archive's
  two stores are written at once, one may commit while the other fails,
  and re-running the write converges (a replayed merge is idempotent).

With Delta/Iceberg available this class collapses to ``MERGE INTO``;
the interface (merge/snapshot/resume_lower_bound) is format-agnostic by
design.  At 100 TB, raise ``n_buckets`` so each bucket directory stays
in the GB range; a micro-batch then rewrites only the handful of
buckets its keys hash into.
"""

from __future__ import annotations

import json
import logging
import os
import time
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from timesearch_spark.fs import get_fs, read_json, write_json_atomic
from timesearch_spark.functions.sqlexpr import ident, lit
from timesearch_spark.operators.upsert import (
    COUNTERS, UpsertResult, split_merged, upsert_snapshot,
)

_log = logging.getLogger("timesearch_spark")

#: Archive format version (parity with DATABASE_VERSION stored in
#: PRAGMA user_version, tsdb.py:34-37; checked at open tsdb.py:217-228).
#: v1: initial columns; v2: + submissions.augmented_at/augmented_count
#: (tsdb.py:68-69); v3: on-disk layout change — flat ``snapshot/v=N``
#: replaced by the per-bucket manifest.  v3 exists so that a pre-bucket
#: store trips the open gate instead of silently reading empty.
SCHEMA_VERSION = 3

#: Default hash-bucket count for the snapshot layout.  32 keeps local
#: tests fast; a 100 TB deployment raises it (e.g. 4096) so each bucket
#: directory stays in the low-GB range.
N_BUCKETS_DEFAULT = 32


class ArchiveOutOfDate(Exception):
    """Raised when a store was written by an older schema version
    (exceptions.py:22-26 analog); run ``upgrade_store`` to migrate."""


class ConcurrentWriteError(Exception):
    """Raised when a commit finds the version pointer moved since the
    writer planned its batch — a second writer committed concurrently.
    The store is single-writer (the reference's SQLite gets this free
    from file locking); this BEST-EFFORT check turns the realistic
    lost-update race — a slow merge landing after a faster one already
    committed — into a clean abort.  It is not a lock: writes stage
    into per-attempt dirs and publish inside a jobs-free window of two
    renames + one pointer write, but two writers both inside that tiny
    window can still interleave, which is why concurrent writers remain
    a contract violation rather than a supported mode.  The loser's
    staging dirs are deleted on abort (or reclaimed by ``vacuum`` after
    a crash)."""


class ParquetMergeStore:
    def __init__(
        self,
        spark: SparkSession,
        path: str,
        schema,
        key: str = "idstr",
        text_col: str = "body",
        n_buckets: int = N_BUCKETS_DEFAULT,
        lease_timeout_sec: float | None = None,
    ):
        """``lease_timeout_sec``: when set, every write path (merge,
        overwrite_snapshot) runs under a :class:`~timesearch_spark.fs.
        WriterLease` on the store root — two cooperating writers
        SERIALIZE (the later one blocks up to this many seconds, then
        plans against the winner's committed snapshot) instead of the
        loser aborting with ConcurrentWriteError.  None (default) keeps
        the plain optimistic protocol; the version CAS stays armed
        either way as the correctness backstop (the lease is advisory
        on S3-style stores — see fs.HadoopFS.create_exclusive)."""
        self.spark = spark
        self.path = path
        self.schema = schema
        self.key = key
        self.text_col = text_col
        self.lease_timeout_sec = lease_timeout_sec
        # metadata IO routes through the fs shim, so the store works on
        # any Hadoop-compatible filesystem (s3a/hdfs/file), not just the
        # local disk the reference's SQLite assumed (tsdb.py:19-32)
        self._fs = get_fs(spark, path)
        # A store that already exists keeps its original bucket count —
        # manifest entries are only valid under the hash modulus they
        # were written with.
        self.n_buckets = int(self._pointer().get("n_buckets", n_buckets))
        self._fs.mkdirs(path)
        # (pointer, DataFrame) of the last full snapshot() — see there
        self._snap = None

    def _lease(self):
        """Writer lease (or a no-op guard when leasing is off)."""
        from timesearch_spark.fs import WriterLease

        return WriterLease.maybe(self._fs, self.path, self.lease_timeout_sec)

    # -- bucket math ----------------------------------------------------------

    def _bucket_sql(self) -> str:
        """Hash bucket of the merge key: pmod(xxhash64(key), n_buckets).
        pmod (not %) so negative hashes land in [0, n_buckets)."""
        return (f"CAST(pmod(xxhash64({ident(self.key)}), {lit(self.n_buckets)})"
                " AS INT)")

    # -- version pointer ----------------------------------------------------

    def _pointer_file(self) -> str:
        return os.path.join(self.path, "LATEST")

    def _pointer(self) -> dict:
        return read_json(
            self._fs,
            self._pointer_file(),
            default={
                "version": 0,
                "schema_version": SCHEMA_VERSION,
                "buckets": {},
            },
        )

    def version(self) -> int:
        return self._pointer()["version"]

    def schema_version(self) -> int:
        return self._pointer().get("schema_version", 1)

    def bucket_manifest(self) -> dict[str, int]:
        """bucket id (as str) → snapshot version currently holding it."""
        return self._pointer().get("buckets", {})

    def _is_legacy_flat(self) -> bool:
        """A pointer written before the bucket-manifest layout (schema
        v2-): has data (version > 0) but no ``buckets`` key.  Such a
        store is readable (``_live_paths`` falls back to the flat
        ``v=N`` dir) but refuses merge/vacuum until ``upgrade_store``
        rewrites it bucketed."""
        ptr = self._pointer()
        return ptr.get("version", 0) > 0 and "buckets" not in ptr

    def check_schema_version(self) -> None:
        """Open-time gate (tsdb.py:217-228): refuse a mismatched archive
        in BOTH directions — older needs migration, newer means this
        engine would misread a layout it doesn't know."""
        found = self.schema_version()
        if found < SCHEMA_VERSION:
            raise ArchiveOutOfDate(
                f"archive at {self.path} is schema v{found}; "
                f"engine expects v{SCHEMA_VERSION} — run upgrade_store()"
            )
        if found > SCHEMA_VERSION:
            raise ArchiveOutOfDate(
                f"archive at {self.path} is schema v{found}, NEWER than "
                f"this engine's v{SCHEMA_VERSION} — upgrade the engine; "
                "reading would misinterpret the on-disk layout"
            )

    def _version_dir(self, version: int) -> str:
        return os.path.join(self.path, "snapshot", f"v={version}")

    def _bucket_dir(self, version: int, bucket: int) -> str:
        return os.path.join(self._version_dir(version), f"__bucket={bucket}")

    def _commit(
        self,
        version: int,
        schema_version: int | None = None,
        buckets: dict[str, int] | None = None,
        expected_version: int | None = None,
    ) -> None:
        # best-effort CAS: re-read the pointer immediately before the
        # swap and abort on drift.  Not a lock (two writers passing the
        # check in the same instant can still race — the contract IS
        # single-writer), but it catches the realistic failure mode: a
        # slow merge landing after a faster one already committed.
        if expected_version is not None:
            found = self._pointer()["version"]
            if found != expected_version:
                raise ConcurrentWriteError(
                    f"pointer moved from v{expected_version} to v{found} "
                    "while this merge ran — a concurrent writer "
                    "committed; this store is single-writer, re-run the "
                    "batch against the new snapshot"
                )
        # default: CARRY FORWARD the stored schema version — a merge on
        # a partially-migrated store must not stamp it current and
        # silently skip the pending migrations (only migrations pass an
        # explicit new version)
        if schema_version is None:
            schema_version = self.schema_version()
        if buckets is None:
            buckets = self.bucket_manifest()
        write_json_atomic(  # atomic pointer swap (see fs shim notes)
            self._fs,
            self._pointer_file(),
            {
                "version": version,
                "schema_version": schema_version,
                "n_buckets": self.n_buckets,
                "buckets": buckets,
                "committed_at": time.time(),
            },
        )

    # -- reads ----------------------------------------------------------------

    def _live_paths(self, buckets: list[int] | None = None) -> list[str]:
        """Directories holding the current data for the given buckets
        (all buckets when None), resolved through the manifest."""
        if self._is_legacy_flat():
            # Pre-bucket layout: the whole snapshot lives flat under
            # v=N.  No pruning possible — return it whole so reads (and
            # upgrade_store) see the data instead of an empty manifest.
            flat = self._version_dir(self.version())
            return [flat] if self._fs.is_dir(flat) else []
        manifest = self.bucket_manifest()
        if buckets is None:
            items = manifest.items()
        else:
            items = [(str(b), manifest[str(b)]) for b in buckets if str(b) in manifest]
        return [self._bucket_dir(ver, int(b)) for b, ver in items]

    def _empty(self) -> DataFrame:
        return self.spark.createDataFrame([], self.schema)

    def snapshot(self, buckets: list[int] | None = None) -> DataFrame:
        """Current table state; pass ``buckets`` to read a pruned subset
        (the merge path does — that's the partition-pruning win).

        The full snapshot is built once per committed pointer: while
        ``LATEST`` reads the same as when this store last built it, the
        same DataFrame comes back (no reader, no directory listing).
        Any commit, by this or another store object on the path,
        rewrites the pointer (``committed_at`` at least), so the next
        call reads the new state.  Reuse is safe because version
        directories are write-once and ``vacuum`` removes only those
        the pointer no longer references.  Two calls with no commit
        between share attribute ids, like one DataFrame used twice."""
        if buckets is None:
            ptr = self._pointer()
            if self._snap is None or self._snap[0] != ptr:
                self._snap = (ptr, self._read(self._live_paths()))
            return self._snap[1]
        return self._read(self._live_paths(buckets))

    def _read(self, paths: list[str]) -> DataFrame:
        if not paths:
            return self._empty()
        # declared schema: no footer-inference job per read
        return self.spark.read.schema(self.schema).parquet(*paths)

    def _edits_schema(self) -> T.StructType:
        return T.StructType([
            T.StructField(self.key, self.schema[self.key].dataType),
            T.StructField(f"previous_{self.text_col}",
                          self.schema[self.text_col].dataType),
            T.StructField("replaced_at", T.LongType()),
        ])

    def edits(self) -> DataFrame:
        """The CDC log: edit batches land in ``edits/v=N`` (N = the merge
        version that produced them) and only COMMITTED versions are read
        — an edits dir orphaned by a crash between the edits write and
        the manifest commit is invisible, and the replayed batch
        overwrites it at the same version (idempotent, no duplicate
        history).  Flat ``part-*`` files from the pre-versioned layout
        are grandfathered in as committed."""
        d = os.path.join(self.path, "edits")
        paths: list[str] = []
        try:
            committed = self.version()
            for entry in self._fs.ls(d):
                full = os.path.join(d, entry)
                if ".staging-" in entry:
                    continue  # in-flight or crashed pre-publish residue
                if entry.startswith("v=") and self._fs.is_dir(full):
                    if int(entry[2:]) <= committed:
                        paths.append(full)
                elif entry.endswith(".parquet"):
                    paths.append(full)  # legacy flat layout
        except FileNotFoundError:
            pass
        if not paths:
            return self.spark.createDataFrame([], self._edits_schema())
        return self.spark.read.schema(self._edits_schema()).parquet(*paths)

    def resume_lower_bound(
        self, augmented_submissions: DataFrame | None = None
    ) -> int:
        """I2: incremental resume point = max stored ``created`` − 1 (the
        1-second overlap of get_submissions.py:52-66); 0 on empty.

        ``augmented_submissions`` is the augmented-at-aware variant
        (get_comments.py:40-58): a specific-submission scan pulls a whole
        thread regardless of age, so blindly resuming from max(created)
        would skip everything older than that thread.  Given the
        submissions rows with ``augmented_at IS NOT NULL``, the bound is
        taken over comments NOT belonging to them (C2 anti-join on the
        ``submission`` fk); only if every comment is augmented-covered
        does the plain latest apply.  The anti-join build side is the
        augmented set — small (one row per deliberately-scanned thread),
        so AQE turns it into a broadcast join."""
        snap = self.snapshot()
        if augmented_submissions is not None and "submission" in snap.columns:
            aug = augmented_submissions.filter(
                F.col("augmented_at").isNotNull()
            ).select(F.col("idstr").alias("submission"))
            row = (
                snap.join(aug, on="submission", how="left_anti")
                .agg(F.max("created").alias("m"))
                .first()
            )
            if row is not None and row["m"] is not None:
                return row["m"] - 1
            # every stored comment came from augmented threads → fall
            # through to the general latest (get_comments.py:55-58)
        row = snap.agg(F.max("created").alias("m")).first()
        if row is None or row["m"] is None:
            return 0
        return row["m"] - 1

    # -- merge ----------------------------------------------------------------

    def merge(
        self,
        batch: DataFrame,
        observed_at: int | None = None,
        batch_order_col: str | None = None,
        mutable: list[str] | None = None,
    ) -> UpsertResult:
        """MERGE one batch: upsert into the touched buckets only.

        Reads just the bucket directories the batch's keys hash into,
        writes just those buckets at version N+1, and repoints them in
        the manifest — untouched buckets are never read or rewritten.

        A merge is three Spark actions, four when it captures edits:
        pin the batch (observing the buckets it touches), materialize
        the upsert join once (observing the counters), write the
        touched buckets, and write the edit rows.  ``stats`` carries
        TSDB.insert-style counters (tsdb.py:335-339) —
        ``inserted``/``updated``/``batch_keys`` — read off the join's
        one evaluation, so they cost no job.  Each commit logs one JSON
        record (store, version, buckets, counters, edit rows) to the
        ``timesearch_spark`` logger at INFO.

        With ``lease_timeout_sec`` set the whole merge — base-version
        read through pointer commit — runs under the writer lease, so
        concurrent cooperating writers queue instead of racing."""
        with self._lease():
            return self._merge_impl(batch, observed_at, batch_order_col, mutable)

    def _merge_impl(
        self,
        batch: DataFrame,
        observed_at: int | None = None,
        batch_order_col: str | None = None,
        mutable: list[str] | None = None,
    ) -> UpsertResult:
        if observed_at is None:
            observed_at = int(time.time())
        if self._is_legacy_flat():
            raise ArchiveOutOfDate(
                f"archive at {self.path} uses the pre-bucket flat layout; "
                "run upgrade_store() before merging"
            )
        # both-direction version gate: merging a partially-migrated (or
        # newer-engine) archive under wrong layout assumptions is data
        # loss, not a warning
        self.check_schema_version()

        # Pin the batch before planning: ``batch`` feeds both the bucket
        # plan and the upsert join, and a nondeterministic source —
        # sample(), rand() filters, a task retried against a moving
        # upstream — could yield different rows per pass, writing
        # buckets whose old rows were never merged in.  localCheckpoint
        # materializes the rows once and truncates lineage, so every
        # pass sees the same data; block loss surfaces as an error,
        # never a silent different recompute.  The touched buckets are
        # observed during that same materialization.
        planned = Observation()
        batch = batch.observe(
            planned, F.expr(f"collect_set({self._bucket_sql()}) AS touched")
        ).localCheckpoint(eager=True)
        touched = sorted(planned.get["touched"])
        if not touched:  # empty batch: nothing to do
            return UpsertResult(
                snapshot=self.snapshot(), edits=self.edits().limit(0),
                stats={"inserted": 0, "updated": 0, "batch_keys": 0},
            )

        # version + manifest this merge is based on: the commit CAS
        # aborts if another writer moves the pointer past this
        base_version = self.version()
        base_manifest = dict(self.bucket_manifest())

        res = upsert_snapshot(
            self.snapshot(buckets=touched),
            batch,
            key=self.key,
            mutable=mutable,
            text_col=self.text_col,
            observed_at=observed_at,
            batch_order_col=batch_order_col,
        )
        # ONE evaluation of the upsert join: both writes below read this
        # checkpoint, and the counters are observed while it is built.
        # Not persist(): AQE does not coalesce a cached plan's shuffle
        # partitions, so a cached frame writes several files per bucket.
        counted = Observation()
        merged = res.merged.observe(
            counted, *[F.expr(c) for c in COUNTERS]
        ).localCheckpoint(eager=True)
        counts = counted.get
        res.merged = merged
        res.snapshot, res.edits = split_merged(merged, self.key, self.text_col)
        res.stats = {
            "inserted": counts["inserted"],
            "updated": counts["batch_keys"] - counts["inserted"],
            "batch_keys": counts["batch_keys"],
        }

        new_version = base_version + 1
        vdir = self._version_dir(new_version)
        # Write to a per-attempt staging dir, publish by atomic rename
        # AFTER a version-drift check: writing v=N directly would let a
        # slow merge clobber a dir a faster concurrent writer already
        # committed at the same version — the one torn state the
        # single-writer CAS protocol must never produce.
        token = uuid.uuid4().hex
        staging = vdir + f".staging-{token}"
        (
            res.snapshot.withColumn("__bucket", F.expr(self._bucket_sql()))
            .write.partitionBy("__bucket")
            .mode("overwrite")
            .parquet(staging)
        )

        # Repoint the buckets that were ACTUALLY written.  With the
        # batch checkpointed above the write pass can't diverge from the
        # planning pass, but the invariant is cheap to verify from the
        # directories on disk — keep it as a hard guard: a bucket
        # written outside ``touched`` never had its old rows merged in,
        # so repointing it would lose data.
        written = sorted(
            int(d.split("=", 1)[1])
            for d in self._fs.ls(staging)
            if d.startswith("__bucket=")
        )
        extra = set(written) - set(touched)
        if extra:
            self._fs.delete(staging)
            raise RuntimeError(
                f"batch produced rows in buckets {sorted(extra)} not seen "
                "when planning the merge — the source is nondeterministic "
                "across evaluations; persist/checkpoint the batch upstream"
            )

        edits_dir = os.path.join(self.path, "edits", f"v={new_version}")
        edits_staging = None
        if counts["edit_rows"]:
            # the edits batch stages BEFORE the CAS so that the
            # publish window below contains NO Spark jobs — only two
            # renames and the pointer write, milliseconds not seconds
            edits_staging = f"{edits_dir}.staging-{token}"
            res.edits.write.mode("overwrite").parquet(edits_staging)

        # Pre-publish CAS: abort (cleanly, the winner's data untouched)
        # before renaming over anything if another writer committed
        # meanwhile.  Best-effort, not a lock: a writer sitting between
        # its own CAS and commit is invisible to this check, so two
        # writers BOTH inside the (tiny) publish window can still
        # interleave — the store's contract is single-writer; the CAS
        # exists to turn the realistic race (a slow merge landing after
        # a faster one committed) into a clean abort.
        if self.version() != base_version:
            self._fs.delete(staging)
            if edits_staging:
                self._fs.delete(edits_staging)
            raise ConcurrentWriteError(
                f"pointer moved from v{base_version} to v{self.version()} "
                "while this merge ran — a concurrent writer committed; "
                "this store is single-writer, re-run the batch against "
                "the new snapshot"
            )
        # An existing v=N dir here is an UNCOMMITTED orphan of a crashed
        # earlier attempt (the pointer still reads base_version, so it
        # references nothing at N) — replace it; an orphaned edits/v=N
        # goes too, even when this merge has no edit rows of its own,
        # or committing N would make the orphan's rows visible.
        if self._fs.is_dir(vdir):
            self._fs.delete(vdir)
        self._fs.rename(staging, vdir)  # atomic publish of the data files
        if self._fs.is_dir(edits_dir):
            self._fs.delete(edits_dir)
        if edits_staging:
            self._fs.rename(edits_staging, edits_dir)

        manifest = base_manifest
        for b in written:
            manifest[str(b)] = new_version
        self._commit(new_version, buckets=manifest, expected_version=base_version)
        _log.info(json.dumps({
            "event": "store.commit", "store": self.path, "version": new_version,
            "buckets": written, **res.stats, "edit_rows": counts["edit_rows"],
        }))
        return res

    def overwrite_snapshot(
        self, df: DataFrame, schema_version: int = SCHEMA_VERSION
    ) -> int:
        """Full-table rewrite (migrations, merge_db): every bucket lands
        at the new version.  Returns the new version.  Runs under the
        writer lease when ``lease_timeout_sec`` is set."""
        with self._lease():
            return self._overwrite_impl(df, schema_version)

    def _overwrite_impl(self, df: DataFrame, schema_version: int) -> int:
        base_version = self.version()
        new_version = base_version + 1
        vdir = self._version_dir(new_version)
        staging = vdir + f".staging-{uuid.uuid4().hex}"
        (
            df.withColumn("__bucket", F.expr(self._bucket_sql()))
            .write.partitionBy("__bucket")
            .mode("overwrite")
            .parquet(staging)
        )
        written = {
            d.split("=", 1)[1]: new_version
            for d in self._fs.ls(staging)
            if d.startswith("__bucket=")
        }
        if self.version() != base_version:
            self._fs.delete(staging)
            raise ConcurrentWriteError(
                f"pointer moved from v{base_version} to v{self.version()} "
                "during overwrite_snapshot — concurrent writer committed"
            )
        if self._fs.is_dir(vdir):
            self._fs.delete(vdir)
        self._fs.rename(staging, vdir)
        self._commit(
            new_version,
            schema_version=schema_version,
            buckets=written,
            expected_version=base_version,
        )
        return new_version

    def vacuum(self) -> list[str]:
        """Delete snapshot version directories no longer referenced by
        the manifest, plus ``.staging-`` residue of crashed merges.
        Call only when no reader holds an older pointer AND no merge is
        in flight — a staging dir being written right now is
        indistinguishable from crash residue, so vacuuming under a live
        writer kills that writer's merge (it fails cleanly post-write,
        but its work is lost)."""
        if self._is_legacy_flat():
            raise ArchiveOutOfDate(
                f"archive at {self.path} has no bucket manifest — vacuuming "
                "would delete the live flat snapshot; run upgrade_store() first"
            )
        live = {ver for ver in self.bucket_manifest().values()}
        root = os.path.join(self.path, "snapshot")
        removed = []
        if not self._fs.is_dir(root):
            return removed
        for d in self._fs.ls(root):
            if not d.startswith("v="):
                continue
            if ".staging-" in d:
                # residue of a merge that crashed (or CAS-aborted with the
                # cleanup interrupted) before publishing — never referenced
                self._fs.delete(os.path.join(root, d))
                removed.append(d)
                continue
            ver = int(d.split("=", 1)[1])
            if ver not in live:
                self._fs.delete(os.path.join(root, d))
                removed.append(d)
        edir = os.path.join(self.path, "edits")
        if self._fs.is_dir(edir):
            for d in self._fs.ls(edir):
                if ".staging-" in d:
                    self._fs.delete(os.path.join(edir, d))
                    removed.append(d)
        return removed


#: Stepwise migrations (database_upgrader.py:24-49 analog): version → fn.
#: Each fn takes (store, snapshot DataFrame) and returns the migrated
#: DataFrame; the runner commits one version bump per step.
MIGRATIONS: dict[int, callable] = {
    # 1 → 2: the reference's v2 added submissions.augmented_at /
    # augmented_count (tsdb.py:68-69); parquet snapshots add them as nulls.
    2: lambda store, df: _add_missing_columns(df, store.schema),
    # 2 → 3: flat snapshot/v=N → per-bucket manifest.  No row transform:
    # the overwrite_snapshot rewrite itself re-buckets, and _live_paths'
    # legacy fallback lets snapshot() read the flat layout going in.
    3: lambda store, df: df,
}

#: Steps whose migration is a pure layout/version bump: when the store is
#: already bucketed (a previous step's overwrite_snapshot re-bucketed it),
#: the runner commits the version WITHOUT re-reading and re-writing the
#: whole corpus — a v1 store pays ONE full rewrite, not one per step.
LAYOUT_ONLY_STEPS: frozenset[int] = frozenset({3})


def _add_missing_columns(df: DataFrame, schema) -> DataFrame:
    for field in schema.fields:
        if field.name not in df.columns:
            df = df.withColumn(field.name, F.lit(None).cast(field.dataType))
    return df.select(*[f.name for f in schema.fields])


def upgrade_store(store: ParquetMergeStore) -> int:
    """Run every pending migration step in order (the database_upgrader
    loop); returns the final schema version."""
    current = store.schema_version()
    while current < SCHEMA_VERSION:
        step = current + 1
        if step in LAYOUT_ONLY_STEPS and not store._is_legacy_flat():
            # already in the target layout: bump the committed version,
            # skip the corpus rewrite
            store._commit(store.version(), schema_version=step)
            current = step
            continue
        migrate = MIGRATIONS.get(step)
        snap = store.snapshot()
        if migrate is not None:
            snap = migrate(store, snap)
        store.overwrite_snapshot(snap, schema_version=step)
        current = step
    return current
