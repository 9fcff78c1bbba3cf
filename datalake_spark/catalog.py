"""Catalog — the ``files`` and ``latest`` tables over a data lake.

The reference stores one DynamoDB row per (day-bucket × file) for index
locality (client/datalake/common/record.py:67-89) and a separate latest table
(ingester/datalake_ingester/storage.py:78-137).  The Spark-native design keeps
ONE logical row per file in a parquet table partitioned by
``what`` / ``bucket_date`` (derived from ``start``), so Catalyst's partition
pruning replaces the DynamoDB time-index walk; the bucket fan-out exists only
as a view (``file_buckets``) for callers that want the reference's physical
shape.

At 100 TB: partitioning by (what, bucket_date) gives ~(#whats × #days)
partitions, each holding the day's files for one producer — time-interval
queries touch only the overlapping day-partitions, work-id queries rely on
parquet min/max stats over the sorted-on-write ``work_id`` column, and the
``latest`` table is a tiny MERGE-maintained aggregate that replaces a full
scan with an O(1) read.
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datalake_spark.metadata import DAY_MS
from datalake_spark.schema import FILES_SCHEMA
from datalake_spark.session import local_frame
from datalake_spark.store import ObjectStore, join_key, open_store


# -- object-store-safe table commits ----------------------------------------
# Rewrites (latest-table merge, compaction) never rename or overwrite data
# in place.  Each table root holds immutable version directories
# (v00000017-<uuid>/) plus one small _CURRENT manifest; committing a version
# is a single atomic object PUT — readers resolve the manifest and read an
# immutable directory, so they can never observe a half-swapped table; old
# versions are garbage-collected only after the commit, and the previous
# version is always retained for in-flight readers.  Every driver-side IO
# goes through datalake_spark.store.ObjectStore (GET/PUT/LIST/DELETE/COPY):
# local catalogs use LocalStore, tests prove the protocol on the MemStore
# fake, and a real S3/GCS deployment registers its SDK-backed store —
# nothing here changes.

_MANIFEST = "_CURRENT"
_LOCK = "_LOCK"
_LEASE_DIR = "_leases"

# distinguishes "caller passed no base manifest" from "base manifest is
# None (no table existed)" in write_latest — the two mean different CAS
# targets (re-read vs version 1)
_UNSET: dict = {}


class WriterLockHeld(Exception):
    """Another writer holds the table lock and the wait timed out."""


class CommitConflict(Exception):
    """Another writer committed this table version first (lost the
    conditional-PUT race).  Callers re-read the current manifest,
    recompute against it, and retry — the optimistic-concurrency loop
    every numbered-commit table format runs (Delta/Iceberg style)."""


# commit markers retained beyond the manifest's history window — a
# writer paused across this many commits is assumed dead (its conflict
# detection degrades to the manifest read-back guard in _commit_version)
_KEEP_COMMIT_MARKERS = 16


def _read_manifest(store: ObjectStore, table_key: str) -> dict | None:
    """Resolve the table's current manifest.

    The AUTHORITY is the commit-marker log (``_commits/v{N}`` — each
    written exactly once via conditional PUT, never overwritten): the
    retained marker with the highest version IS the current manifest.
    ``_CURRENT`` is a convenience cache of it — and because plain PUTs
    race, a marker winner's delayed flip can briefly overwrite a newer
    committer's flip (manifest regression).  Resolving against the
    marker log makes that window harmless: readers and committers never
    observe a version older than the newest committed one.  ``_CURRENT``
    remains the bootstrap for pre-marker catalogs and the fast answer
    when no marker exceeds it; the next commit re-heals it."""
    cur = None
    raw = store.get(join_key(table_key, _MANIFEST))
    if raw is not None:
        try:
            cur = json.loads(raw)
        except json.JSONDecodeError:
            cur = None
    best_v = cur.get("version", 0) if cur else 0
    best_key = None
    for key in store.list(join_key(table_key, "_commits")):
        name = key.rsplit("/", 1)[-1]
        if name.startswith("v") and name[1:].isdigit() and int(name[1:]) > best_v:
            best_v = int(name[1:])
            best_key = key
    if best_key is not None:
        raw = store.get(best_key)
        if raw is not None:
            try:
                return json.loads(raw)
            except json.JSONDecodeError:
                pass
    return cur


def _table_name(store: ObjectStore, table_key: str) -> str:
    """A table's name for messages: its store URL plus its key (the IVF-PQ
    index commits at the store root, key ``""``)."""
    return f"{store.url}/{table_key}" if table_key else store.url


def _commit_version(
    store: ObjectStore,
    table_key: str,
    version: int,
    dirname: str,
    prev: dict | None = None,
    keep_versions: int = 2,
    extra: dict | None = None,
) -> dict:
    """Commit ``dirname`` as table ``version``: win the version's commit
    MARKER with a conditional PUT, then point _CURRENT at it (one
    whole-object PUT of the manifest — never a directory move).

    The marker (``_commits/v{N}``, PUT-if-absent) serializes writers
    that target the same next version: exactly one wins, every loser
    gets :class:`CommitConflict` and retries against the winner's
    manifest — which is what makes lockless maintenance commits (latest
    merge, index rebuild) lost-update-free, not just last-writer-wins.
    The reference's analog is DynamoDB's per-item conditional put
    (ingester/datalake_ingester/storage.py:64-137); on S3 the marker is
    an ``If-None-Match: *`` PUT.  A read-back guard covers the marker's
    GC horizon: if the manifest has already advanced past ``version``,
    the commit conflicts even when the marker was reclaimed.

    The manifest carries a bounded ``history`` of superseded versions
    (Iceberg-style snapshot lineage): the previous current entry is
    appended and the list trimmed to ``keep_versions - 1`` entries, whose
    directories GC then retains — so ``keep_versions=2`` reproduces the
    current+previous behavior and larger values buy time travel."""
    hist = list((prev or {}).get("history", []))
    if prev is not None:
        hist.append({"version": prev["version"], "dir": prev["dir"]})
    hist = hist[-(keep_versions - 1):] if keep_versions > 1 else []
    manifest = {"version": version, "dir": dirname, "history": hist}
    manifest.update(extra or {})
    payload = json.dumps(manifest).encode()
    marker = join_key(table_key, "_commits", f"v{version:08d}")
    if not store.put_if_absent(marker, payload):
        # Roll-forward: if the marker's winner died between winning and
        # flipping _CURRENT, every successor would recompute this same
        # version and conflict forever.  Completing the dead winner's
        # flip from its marker payload unwedges the table; if the winner
        # is actually alive its own flip writes identical bytes —
        # idempotent either way.
        cur = _read_manifest(store, table_key)
        if cur is None or cur.get("version", 0) < version:
            won = store.get(marker)
            if won is not None:
                try:
                    json.loads(won)
                except json.JSONDecodeError:
                    pass
                else:
                    store.put(join_key(table_key, _MANIFEST), won)
        raise CommitConflict(
            f"{_table_name(store, table_key)}: version {version} already committed"
        )
    cur = _read_manifest(store, table_key)
    if cur is not None and cur.get("version", 0) > version:
        # stale writer beyond the marker GC horizon: someone advanced
        # the manifest STRICTLY past us while our marker slot had been
        # reclaimed.  (Equality is NOT a conflict: only one payload can
        # ever win a version's marker, so a manifest already AT our
        # version is our own payload — a concurrent loser's roll-forward
        # heal raced ahead of this read-back.  Treating equality as a
        # conflict livelocked two racing committers: each loser's heal
        # made the next winner abort its own commit.)
        store.delete(marker)
        raise CommitConflict(
            f"{_table_name(store, table_key)}: manifest already at "
            f"v{cur['version']} > {version}"
        )
    store.put(join_key(table_key, _MANIFEST), payload)
    # reclaim old markers (deletes only, strictly after the flip)
    floor = version - _KEEP_COMMIT_MARKERS
    for key in store.list(join_key(table_key, "_commits")):
        name = key.rsplit("/", 1)[-1]
        if name.startswith("v") and name[1:].isdigit() and int(name[1:]) < floor:
            store.delete(key)
    return manifest


def _new_version_dir(version: int) -> str:
    return f"v{version:08d}-{uuid.uuid4().hex[:8]}"


# a version directory's name: ``v{version:08d}-{tag}`` (the tag is a
# uuid fragment); any other entry under a table root (``_commits``,
# ``.stage-*`` staging, a legacy ``what=`` partition) is not a version
_VERSION_DIR = re.compile(r"v(\d+)-[0-9a-z]+")


def _dir_version(name: str) -> int | None:
    """The version number of version directory ``name``, or None when
    ``name`` is not a version directory — the one parse of these names
    shared by commit-time GC, ``gc_orphans`` and ``fsck``."""
    m = _VERSION_DIR.fullmatch(name)
    return int(m.group(1)) if m else None


def _is_retryable_commit_race(
    e: Exception,
    store: ObjectStore | None = None,
    table_key: str | None = None,
    started_version: int | None = None,
) -> bool:
    """A Spark job failure whose signature is 'my snapshot/output was
    removed under me by a concurrent committer's GC' — the read or write
    races the sweep, bounded by keep_versions.  Retryable with the same
    remedy as a CommitConflict: re-resolve the current manifest and
    redo the attempt.

    The message substrings are broad ('does not exist' matches a missing
    INPUT path and real GC corruption too), so callers that know the
    table pass (store, table_key, started_version): the race is only
    confirmed — and the attempt only retried — when the table's manifest
    actually ADVANCED past the version observed when the attempt began.
    A missing path with no concurrent commit is a real error and raises
    on the first attempt instead of burning 12 full Spark retries and
    being misreported as a commit conflict."""
    msg = str(e)
    if not any(
        s in msg
        for s in ("FileNotFound", "PATH_NOT_FOUND", "does not exist",
                  "No such file or directory")
    ):
        return False
    if store is None or table_key is None:
        return True
    m = _read_manifest(store, table_key)
    now = m["version"] if m else 0
    return now != (started_version or 0)


def _resolve(store: ObjectStore, table_key: str,
             seen: list[tuple[str, int]]) -> dict | None:
    """Read ``table_key``'s manifest inside a commit attempt and record
    the version resolved in ``seen`` (0 = no table yet), so
    :func:`_retry_commit` can tell a GC race on it from a real error."""
    m = _read_manifest(store, table_key)
    seen.append((table_key, m["version"] if m else 0))
    return m


def _retry_commit(store: ObjectStore, op: str, tries: int, attempt):
    """The optimistic-commit loop every versioned table runs: call
    ``attempt(seen)`` until it returns, and return its result.

    An attempt resolves its manifests through :func:`_resolve` (which
    records each ``(table_key, version)`` in ``seen``), computes against
    them and commits.  A :class:`CommitConflict` — another writer took
    the version — retries with a fresh ``seen``, re-resolving the
    winner's state.  So does any other failure that
    :func:`_is_retryable_commit_race` confirms against a recorded pair:
    a concurrent committer's GC removed what this attempt was reading or
    writing.  Anything else raises at once.  After ``tries`` attempts
    the loop gives up with a named :class:`CommitConflict`.  The loop
    itself adds no store call while attempts succeed."""
    for _ in range(tries):
        seen: list[tuple[str, int]] = []
        try:
            return attempt(seen)
        except CommitConflict:
            continue
        except Exception as e:
            if any(
                _is_retryable_commit_race(e, store, key, version)
                for key, version in seen
            ):
                continue
            raise
    raise CommitConflict(f"{op}: conflicted on {tries} consecutive attempts")


def _gc_versions(
    store: ObjectStore,
    table_key: str,
    keep_dirs: set[str],
    committed_version: int,
) -> list[str]:
    """Delete version directories not in ``keep_dirs`` (deletes only —
    safe and non-atomic-OK on object stores; runs strictly after commit)
    and return the names deleted, sorted.

    Lockless-concurrency guard: version directories are named
    ``v{version:08d}-{uuid}``, and a committer's GC must never touch a
    directory numbered at or BEYOND its own ``committed_version`` — that
    directory belongs to a racing later committer (possibly already
    flipped, possibly a marker-won dead winner awaiting roll-forward)
    OR a same-version loser still mid-write (its Spark job races our
    sweep; it will conflict on the marker and retry, and a LATER commit
    sweeps its orphan).  Without the guard, committer A's GC (keep-set
    computed from A's own manifest) could delete B's just-committed
    v(N+1) data — or yank B's identically-numbered in-flight directory
    out from under its write tasks — both observed in the two-thread
    race tests.  Strictly-older dirs not in ``keep_dirs`` are true
    orphans (superseded history, stale loser attempts) and go.  Entries
    that are not version directories (see :func:`_dir_version`) are
    never touched.

    LIST cost is O(version directories), not O(table objects): the
    candidates come from one shallow ``subdirs`` resolution, and only
    the dirs actually being reclaimed get a recursive LIST — a
    maintenance commit on a table with millions of retained data
    objects never enumerates them."""
    gone = []
    for top in store.subdirs(table_key):
        v = _dir_version(top)
        if v is None or v >= committed_version or top in keep_dirs:
            continue
        store.delete_prefix(join_key(table_key, top))
        gone.append(top)
    return sorted(gone)


def _version_dir_state(store: ObjectStore, vkey: str) -> str:
    """Classify a committed version directory: ``"data"`` (holds at least
    one data part file), ``"empty"`` (exists — the writer's _SUCCESS /
    marker objects are there — but a dynamic partition write over zero
    rows emitted no parts: the legitimate empty-index case), or
    ``"missing"`` (no objects at all: the committed write ALWAYS leaves
    markers, so a fully absent directory is GC corruption, not
    emptiness)."""
    names = [k.rsplit("/", 1)[-1] for k in store.list(vkey)]
    if not names:
        return "missing"
    if any(not n.startswith((".", "_")) for n in names):
        return "data"
    return "empty"


def with_bucket_date(df: DataFrame) -> DataFrame:
    """Add the derived day-partition column (record.py:151-160's bucket)."""
    return df.withColumn(
        "bucket_date", F.to_date(F.timestamp_millis(F.col("start")))
    )


def explode_buckets(df: DataFrame) -> DataFrame:
    """Reference-shaped fan-out: one row per day bucket the interval touches
    (record.py:171-192).  ``sequence`` is evaluated JVM-side; span is bounded
    by validation at MAX_BUCKET_SPAN=30 so the explode factor is ≤30."""
    return df.withColumn(
        "time_bucket",
        F.explode(
            F.sequence(
                (F.col("start") / DAY_MS).cast("long"),
                (F.coalesce(F.col("end"), F.col("start")) / DAY_MS).cast("long"),
            )
        ),
    )


class Catalog:
    """File-metadata catalog: append-oriented ``files`` + derived ``latest``.

    Writer exclusion: table rewrites (``compact``) take an exclusive lease
    (``files/_LOCK``) and drain the short-lived shared leases every
    ``append`` registers under ``files/_leases/``, so a cooperating append
    either completes before the compaction scan or blocks until the new
    version is committed and lands there — zero-loss, not
    sweep-window-loss.  The straggler sweeps remain as the safety net for
    non-cooperating/crashed writers.  Leases carry expiries, so a crashed
    holder only stalls peers for its TTL.  The reference analog is
    DynamoDB's per-item conditional put
    (ingester/datalake_ingester/storage.py:64-137); on a real object store
    back the lock PUT with a conditional/if-match write.
    """

    FILES_KEY = "files"
    LATEST_KEY = "latest"
    INDEX_KEY = "work_id_index"

    def __init__(self, spark: SparkSession, root: str,
                 lock_ttl: float = 3600.0, append_lease_ttl: float = 300.0,
                 lock_poll: float = 0.1, lock_wait: float = 600.0,
                 keep_versions: int = 2, store: ObjectStore | None = None):
        self.spark = spark
        # every driver-side control-plane IO (manifests, locks, leases,
        # GC, sweeps) goes through the store; Spark data reads/writes use
        # store.spark_url(key).  root/files_path/latest_path remain the
        # Spark-visible data locations for callers that join paths onto
        # them (checkpoints, reports, direct inspection).  ``store``
        # overrides the scheme-registry resolution of ``root`` for
        # pre-configured store instances (custom boto3 clients/endpoints,
        # hybrid control/data planes).
        self.store = store if store is not None else open_store(root)
        self.root = self.store.spark_url("")
        self.files_path = self.store.spark_url(self.FILES_KEY)
        self.latest_path = self.store.spark_url(self.LATEST_KEY)
        self.lock_ttl = lock_ttl
        self.append_lease_ttl = append_lease_ttl
        self.lock_poll = lock_poll
        self.lock_wait = lock_wait
        # retained table versions (current + keep_versions-1 history):
        # 2 = classic current+previous; more buys time travel via files_at
        self.keep_versions = max(1, keep_versions)

    # -- writer exclusion ---------------------------------------------------
    def _lock_key(self) -> str:
        return join_key(self.FILES_KEY, _LOCK)

    def _read_lock(self) -> dict | None:
        raw = self.store.get(self._lock_key())
        if raw is None:
            return None
        try:
            lock = json.loads(raw)
        except json.JSONDecodeError:
            return None
        return lock if lock.get("expiry", 0) > time.time() else None

    def _acquire_lock(self, purpose: str) -> str:
        """Take the exclusive writer lock: write-then-reread, so of N racing
        writers the last PUT wins and every loser observes a foreign owner
        and keeps waiting.  Expired locks are taken over.  Needs only
        atomic PUT + read-after-write consistency (which S3/GCS provide);
        a store with conditional PUT can swap in put_if_absent for the
        cold-path create."""
        owner = uuid.uuid4().hex
        deadline = time.time() + self.lock_wait
        while True:
            held = self._read_lock()
            if held is not None and held["owner"] != owner:
                if time.time() > deadline:
                    raise WriterLockHeld(
                        f"{held['purpose']} lock held by {held['owner']}"
                    )
                time.sleep(self.lock_poll)
                continue
            self.store.put(
                self._lock_key(),
                json.dumps({"owner": owner, "purpose": purpose,
                            "expiry": time.time() + self.lock_ttl}).encode(),
            )
            held = self._read_lock()
            if held is not None and held["owner"] == owner:
                return owner
            # lost a write-write race — wait for the winner

    def _release_lock(self, owner: str) -> None:
        held = self._read_lock()
        if held is not None and held["owner"] == owner:
            self.store.delete(self._lock_key())

    def _acquire_append_lease(self) -> str:
        """Register a shared append lease; blocks while a rewrite holds the
        exclusive lock.  The check-register-recheck order closes the race
        where the lock lands between our check and our registration: the
        rewriter drains leases AFTER locking, so either it sees our lease
        (and waits for us) or we see its lock (and back off)."""
        deadline = time.time() + self.lock_wait
        while True:
            if self._read_lock() is not None:
                if time.time() > deadline:
                    raise WriterLockHeld("table locked for rewrite")
                time.sleep(self.lock_poll)
                continue
            key = join_key(
                self.FILES_KEY, _LEASE_DIR, f"append-{uuid.uuid4().hex}"
            )
            self.store.put(
                key,
                json.dumps(
                    {"expiry": time.time() + self.append_lease_ttl}
                ).encode(),
            )
            if self._read_lock() is None:
                return key
            self.store.delete(key)  # a rewriter locked mid-registration

    def _wait_append_leases(self) -> None:
        """Drain shared leases: wait until every registered append has
        released (normal) or expired (crashed holder), GCing spent ones."""
        lease_prefix = join_key(self.FILES_KEY, _LEASE_DIR)
        while True:
            live = False
            for key in self.store.list(lease_prefix):
                raw = self.store.get(key)
                if raw is None:
                    continue
                try:
                    lease = json.loads(raw)
                except json.JSONDecodeError:
                    continue
                if lease.get("expiry", 0) > time.time():
                    live = True
                else:
                    self.store.delete(key)
            if not live:
                return
            time.sleep(self.lock_poll)

    def _files_key(self) -> str:
        """Current files data key: manifest-resolved version dir, or the
        legacy flat layout (pre-manifest catalogs) until the first
        compaction migrates it."""
        m = _read_manifest(self.store, self.FILES_KEY)
        if m is None:
            return self.FILES_KEY
        return join_key(self.FILES_KEY, m["dir"])

    def _files_dir(self) -> str:
        """Spark URL of the current files data directory."""
        return self.store.spark_url(self._files_key())

    # -- write path ---------------------------------------------------------
    def _staged_data_append(self, write_fn, table_key: str,
                            target_key: str) -> None:
        """Append part files into a SHARED data directory safely under
        writer concurrency.  Two Spark jobs appending to one directory
        share its ``_temporary/0`` staging, and whichever job finishes
        first deletes it — discarding the other job's in-flight task
        outputs, which then fails loudly (task file vanished) or, worse,
        commits ZERO files without an error (the sf1.0 concurrency
        stress caught exactly this: a racing append 'succeeded' and its
        row was simply absent).  So every append runs its Spark write in
        its OWN staging directory under the table root and PROMOTES the
        parts into the target with server-side copies — the streaming
        shard commit's rename-free pattern (streaming/curation.py).
        Part filenames carry Spark's job-unique UUID, so promoted names
        never collide; partition subpaths are preserved; readers see
        parts appear one by one exactly as they would under a direct
        append.  The staging name is DOT-prefixed: parquet readers skip
        dot-dirs (so a legacy flat-layout read never trips partition
        discovery on it), the ``v*`` GC/fsck walks never match it, and
        on the MemStore fake it stays data-plane (executors must write
        it).  A crash before promote leaks only that invisible staging
        dir."""
        stage_key = join_key(table_key, f".stage-{uuid.uuid4().hex[:12]}")
        try:
            write_fn(self.store.spark_url(stage_key))
            promote = []
            for k in self.store.list(stage_key):
                name = k.rsplit("/", 1)[-1]
                if not name.endswith(".parquet") or name.startswith(
                    ("_", ".")
                ):
                    continue  # _SUCCESS / committer markers stay behind
                rel = k[len(stage_key) + 1:]
                promote.append((k, join_key(target_key, rel)))
            # the copies are independent objects (concurrency-proven by
            # the store hypothesis property) — a wide backfill append
            # promotes hundreds of parts, and serializing its server-side
            # copy round-trips from the driver is a pure latency ceiling
            if len(promote) <= 1:
                for src, dst in promote:
                    self.store.copy(src, dst)
            else:
                from concurrent.futures import ThreadPoolExecutor

                with ThreadPoolExecutor(
                    max_workers=min(16, len(promote))
                ) as pool:
                    # list() re-raises the first copy failure
                    list(pool.map(
                        lambda sd: self.store.copy(*sd), promote
                    ))
        finally:
            self.store.delete_prefix(stage_key)

    def append(self, df: DataFrame, _no_lease: bool = False) -> None:
        """Append validated metadata rows (idempotency is by ``id`` at query
        time, mirroring the reference's tolerated duplicate puts,
        ingester/datalake_ingester/storage.py:64-73).  Appends only create
        new objects inside the current version directory — always safe on
        object storage, and CONCURRENCY-safe against other appenders via
        the stage-and-promote write (:meth:`_staged_data_append`).

        Holds a shared append lease for the duration, so a concurrent
        ``compact`` either waits for this write or makes this write wait
        and land in the new version.  ``_no_lease`` (tests only) models a
        non-cooperating writer, which only the straggler sweeps protect.

        Also maintains the work-id secondary index (no-op until someone
        builds it): the reference's ingester writes BOTH index keys on
        every put (client/datalake/common/record.py:58-59), so every
        append path — batch uploader, CLI push, streaming — must keep the
        index fresh or work-id queries served from it silently miss the
        new rows.
        """
        lease = None if _no_lease else self._acquire_append_lease()
        try:
            def write(url: str) -> None:
                (
                    with_bucket_date(df)
                    # co-locate each (what, bucket_date) on one task before
                    # the partitioned write: an N-task input would otherwise
                    # fan out to N files per touched partition and leave
                    # maybe_compact to repair the fragmentation after the
                    # fact.  Metadata rows are small, so one file per
                    # partition per append is the right grain; a single
                    # giant partition would be a data problem, not a
                    # metadata one.
                    .repartition(F.col("what"), F.col("bucket_date"))
                    # sort within partitions so parquet row-group stats make
                    # work_id and id lookups skippable without an index;
                    # leads with the partition columns so the dynamic-
                    # partition writer keeps this order instead of inserting
                    # its own (unstable) partition-column sort
                    .sortWithinPartitions(
                        "what", "bucket_date", "work_id", "id"
                    )
                    .write.mode("append")
                    .partitionBy("what", "bucket_date")
                    .parquet(url)
                )

            self._staged_data_append(write, self.FILES_KEY, self._files_key())
            self.append_work_id_index(df)
        finally:
            if lease is not None:
                self.store.delete(lease)

    def refresh_latest(self, new_rows: DataFrame | None = None) -> None:
        """Maintain the latest table: top-1 per (what, where) by
        (start, create_time) — the reference's conditional-upsert invariant
        'replace iff new.start >= existing.start', ties won by the newer write
        (storage.py:82, ingester/tests/test_storage.py:154+).

        With ``new_rows`` (the rows just appended) and an existing latest
        table, this is an incremental MERGE: union the one-row-per-key
        latest table with the batch and re-take the top-1 — no full files
        scan, mirroring the reference's per-file conditional put.  Without
        it (or on first call), recompute from the full files table.  The
        streaming micro-batch path delegates here per batch.

        Concurrency: the commit is a conditional PUT on the target
        version's marker, so two writers merging different batches can
        NEVER silently drop one batch — the loser's
        :class:`CommitConflict` re-reads the winner's latest table and
        re-merges against it (optimistic-concurrency retry, the batch
        analog of the reference's conditional-put-until-accepted upsert,
        ingester/datalake_ingester/storage.py:82-137).  Each attempt
        resolves the manifest EXACTLY ONCE: the snapshot merged and the
        CAS target version both come from that one read, so a commit
        landing between "read base" and "write merged" always collides
        on the base.version+1 marker — there is no window where a stale
        base can commit over an intervening batch."""
        cols = [f.name for f in FILES_SCHEMA.fields]

        def attempt(seen: list) -> None:
            base = _resolve(self.store, self.LATEST_KEY, seen)
            existing = (
                self._latest_snapshot(base) if new_rows is not None else None
            )
            if existing is not None:
                src = existing.select(*cols).unionByName(
                    new_rows.select(*cols)
                )
            elif new_rows is not None and not self.store.exists_prefix(
                self._files_key()
            ):
                # first merge on a catalog with no files table yet
                # (streaming writers merge latest before/independently
                # of the files append)
                src = new_rows.select(*cols)
            else:
                # full recompute: resolve the FILES manifest ONCE and
                # scan the exact directory it names — the version the
                # retry classifier compares against is then the version
                # actually scanned, by construction (a concurrent
                # compact's GC of it is a retryable race).  Only this
                # branch reads it, so the hot incremental-merge path —
                # the per-micro-batch streaming delegate — pays no extra
                # control-plane GET per attempt
                src = self._files_snapshot(
                    _resolve(self.store, self.FILES_KEY, seen)
                )
            latest = (
                src.groupBy("what", "where")
                .agg(
                    F.max_by(
                        F.struct(*cols),
                        # id as the final tiebreak mirrors QueryEngine.
                        # _latest_rank: (start, create_time) CAN tie across
                        # distinct records, and the reference's newer-write
                        # rule has no batch analog — the unique id keeps the
                        # merge deterministic under any partitioning
                        F.struct(
                            F.col("start"), F.col("create_time"), F.col("id")
                        ),
                    ).alias("r")
                )
                .select(
                    F.concat_ws(":", F.col("what"), F.col("where")).alias("what_where_key"),
                    F.col("r.*"),
                )
            )
            self.write_latest(latest, base=base)

        _retry_commit(self.store, "refresh_latest", 12, attempt)

    def _files_snapshot(self, m: dict | None) -> DataFrame:
        """The files table at FILES manifest ``m`` (already read by the
        caller) — scans exactly the directory that manifest names, so
        the caller's race bookkeeping and the scan can never disagree;
        None = the legacy flat layout."""
        if m is not None:
            return self.spark.read.parquet(
                self.store.spark_url(join_key(self.FILES_KEY, m["dir"]))
            )
        return self.spark.read.parquet(self.files_path)

    def _latest_snapshot(self, m: dict | None) -> DataFrame | None:
        """The latest table at manifest ``m`` (already read by the
        caller), or None when no table exists.  Separated from
        :meth:`latest_table` so the merge path can resolve the manifest
        once per attempt and thread the SAME read into write_latest's
        CAS target — re-reading inside would reopen the lost-update
        window between snapshot and commit."""
        if m is not None:
            return self.spark.read.parquet(
                self.store.spark_url(join_key(self.LATEST_KEY, m["dir"]))
            )
        try:
            return self.spark.read.parquet(self.latest_path)  # legacy layout
        except Exception:
            return None

    def write_latest(self, latest: DataFrame, base: dict | None = _UNSET) -> None:
        """Commit a new latest-table version: write a fresh immutable
        directory, win the version's commit marker (conditional PUT),
        flip the manifest, GC versions older than the previous one.
        Raises :class:`CommitConflict` when a concurrent writer took the
        version first (refresh_latest re-merges and retries; the losing
        attempt's directory is swept by the next successful commit's
        GC).  Rename-free throughout.

        ``base`` is the manifest the caller's snapshot was built FROM
        (None = built against no table).  The CAS target is always
        base.version+1 of that snapshot, so a merge over a stale base
        conflicts instead of committing over the intervening batch.
        Without ``base`` (direct external callers replacing the whole
        table) the manifest is read here — last-writer-wins for full
        replacements, which have no merge base to lose."""
        m = _read_manifest(self.store, self.LATEST_KEY) if base is _UNSET else base
        version = (m["version"] + 1) if m else 1
        dirname = _new_version_dir(version)
        latest.write.parquet(
            self.store.spark_url(join_key(self.LATEST_KEY, dirname))
        )
        manifest = _commit_version(
            self.store, self.LATEST_KEY, version, dirname, m,
            self.keep_versions,
        )
        keep = {dirname} | {h["dir"] for h in manifest["history"]}
        _gc_versions(self.store, self.LATEST_KEY, keep, version)

    # -- read path ----------------------------------------------------------
    def files(self) -> DataFrame:
        return self.spark.read.parquet(self._files_dir())

    def latest_table(self, version: int | None = None) -> DataFrame | None:
        """Current latest table, or — with ``version`` — a TIME-TRAVEL read
        of a retained snapshot (Iceberg-style: the manifest's bounded
        ``history`` keeps the last ``keep_versions - 1`` superseded
        directories on disk; construct the catalog with a larger
        ``keep_versions`` to buy a deeper travel window).  Raises KeyError
        for a version that exists in lineage but fell out of the retention
        window, so a reader never silently gets the wrong snapshot."""
        m = _read_manifest(self.store, self.LATEST_KEY)
        if version is not None:
            if m is None:
                raise KeyError(f"no latest-table versions exist yet ({version=})")
            if version == m["version"]:
                dirname = m["dir"]
            else:
                by_v = {h["version"]: h["dir"] for h in m.get("history", [])}
                if version not in by_v:
                    raise KeyError(
                        f"latest-table version {version} not retained "
                        f"(have {sorted(self.latest_versions())}; raise "
                        f"keep_versions to widen the window)"
                    )
                dirname = by_v[version]
            return self.spark.read.parquet(
                self.store.spark_url(join_key(self.LATEST_KEY, dirname))
            )
        try:
            if m is not None:
                return self.spark.read.parquet(
                    self.store.spark_url(join_key(self.LATEST_KEY, m["dir"]))
                )
            return self.spark.read.parquet(self.latest_path)  # legacy layout
        except Exception:
            return None

    def latest_versions(self) -> list[int]:
        """Retained latest-table versions, newest first (current + the
        manifest's history window)."""
        m = _read_manifest(self.store, self.LATEST_KEY)
        if m is None:
            return []
        return [m["version"]] + [
            h["version"] for h in reversed(m.get("history", []))
        ]

    # -- work-id secondary index --------------------------------------------
    # The reference maintains a SECOND DynamoDB index keyed by
    # work_id_index_key = "{work_id}:{what}" (client/datalake/common/
    # record.py:59, ingester writes both keys) precisely because work-id
    # point lookups cannot be served by the time index.  The Spark analog:
    # a projection of the files table partitioned by a hash bucket of
    # work_id, so a work-id query prunes to 1/num_buckets of the data
    # instead of scanning every (what, bucket_date) partition.

    @property
    def work_id_index_path(self) -> str:
        return self.store.spark_url(self.INDEX_KEY)

    @staticmethod
    def _wid_bucket(col, num_buckets: int):
        return F.pmod(F.xxhash64(col), F.lit(num_buckets)).cast("int")

    def build_work_id_index(self, num_buckets: int = 64,
                            _race_hook=None) -> None:
        """Full (re)build of the work-id index projection, committed with
        the same versioned-directory + atomic-manifest protocol as the
        latest table (object-store safe, readers never torn).  Size
        ``num_buckets`` so one bucket ≈ one task's worth of rows at your
        scale; the bucket count is recorded in the manifest and reused by
        the incremental append path.

        Concurrent-APPEND safety (the sf1.0 concurrency stress caught
        the window, r8): an ``append_work_id_index`` racing this rebuild
        can land its part files in the OLD version directory after the
        rebuild's scan but before its manifest flip — the append's own
        moved-version guard passes, yet the new index misses the rows.
        Same shape as compact-vs-append, same cure: a straggler sweep of
        old-dir parts not present when the scan started, run BEFORE and
        again AFTER the commit (any append that lands later than the
        post-commit sweep re-reads the manifest later still, sees the
        new version, and retries into it — the two-sweep argument from
        :meth:`compact`).  Swept rows are RE-BUCKETED through a tiny
        Spark append (the rebuild may change num_buckets, and a copied
        file in the wrong hash bucket would be invisible to lookups);
        duplicates with scan-captured rows are tolerated by the
        query-path id-dedup, as everywhere."""
        cols = [f.name for f in FILES_SCHEMA.fields]

        def attempt(seen: list) -> None:
            nonlocal _race_hook
            m = _resolve(self.store, self.INDEX_KEY, seen)
            version = (m["version"] + 1) if m else 1
            dirname = _new_version_dir(version)
            new_key = join_key(self.INDEX_KEY, dirname)
            old_key = join_key(self.INDEX_KEY, m["dir"]) if m else None
            # order matters, and the files() DataFrame must be created
            # AFTER the known listing AND fresh per attempt: Spark pins
            # the parquet file listing at DataFrame creation (the
            # InMemoryFileIndex is not re-listed at job run).  An index
            # part present in `known` belongs to an append whose files
            # rows landed strictly earlier (appends write files before
            # index), so a files listing taken after `known` is always a
            # superset — every known part's rows are in the scan, and
            # every post-known append is either swept or guard-retried.
            known = set(self.store.list(old_key)) if old_key else set()
            # one FILES manifest read serves both the scan path and the
            # race classifier — scanned version == recorded version by
            # construction (self.files() would re-resolve it); the scan
            # reads the FILES table, so a concurrent compact's GC there
            # is as retryable as an index-version race
            src = (
                self._files_snapshot(_resolve(self.store, self.FILES_KEY, seen))
                .select(*cols)
                .filter(F.col("work_id").isNotNull())
            )
            (
                src.withColumn(
                    "wid_bucket",
                    self._wid_bucket(F.col("work_id"), num_buckets),
                )
                .repartition(F.col("wid_bucket"))
                .write.partitionBy("wid_bucket")
                .parquet(self.store.spark_url(new_key))
            )
            if _race_hook is not None:
                hook, _race_hook = _race_hook, None
                hook()  # test-only: a racing append post-scan
            if old_key:
                known = self._sweep_index_stragglers(
                    old_key, new_key, known, num_buckets
                )
            manifest = _commit_version(
                self.store, self.INDEX_KEY, version, dirname, m,
                self.keep_versions, extra={"num_buckets": num_buckets},
            )
            if old_key:
                self._sweep_index_stragglers(
                    old_key, new_key, known, num_buckets
                )
            keep = {dirname} | {h["dir"] for h in manifest["history"]}
            _gc_versions(self.store, self.INDEX_KEY, keep, version)

        _retry_commit(self.store, "build_work_id_index", 12, attempt)

    def _sweep_index_stragglers(
        self, old_key: str, new_key: str, known: set[str], num_buckets: int
    ) -> set[str]:
        """Append rows from old-version index parts NOT in ``known`` into
        the new version directory, re-bucketed for ``num_buckets``.
        Returns the updated known-set so the post-commit sweep skips
        what this one captured."""
        stragglers = [
            k for k in self.store.list(old_key)
            if k.endswith(".parquet") and k not in known
        ]
        if not stragglers:
            return known
        cols = [f.name for f in FILES_SCHEMA.fields]
        (
            self.spark.read.parquet(
                *[self.store.spark_url(k) for k in stragglers]
            )
            .select(*cols)
            .withColumn(
                "wid_bucket", self._wid_bucket(F.col("work_id"), num_buckets)
            )
            .repartition(F.col("wid_bucket"))
            .write.mode("append")
            .partitionBy("wid_bucket")
            .parquet(self.store.spark_url(new_key))
        )
        return known | set(stragglers)

    def append_work_id_index(self, new_rows: DataFrame, _race_hook=None) -> bool:
        """Incrementally index just-appended rows (append-only part files
        into the current version directory — a pure PUT, no rewrite).
        Returns False when no index exists yet (callers then either skip
        or build).  Called automatically by :meth:`append`, so every
        ingest path keeps the index fresh.

        Rebuild race: a concurrent ``build_work_id_index`` commits a NEW
        version directory and GCs the old one, which would silently
        discard part files appended into the old directory mid-flight.
        Guard: after writing, re-read the manifest; if the version moved,
        retry the write into the new directory.  The retry can duplicate
        rows already captured by the rebuild's scan — harmless, because
        every query-path consumer dedups by ``id`` (the reference's
        tolerated-duplicate-puts invariant, storage.py:64-73); losing the
        rows is the failure mode, duplicating them is not.

        ``_race_hook`` is test-only: called between the part-file write
        and the manifest re-read to simulate a concurrent rebuild.
        """
        m = _read_manifest(self.store, self.INDEX_KEY)
        if m is None:
            return False
        cols = [f.name for f in FILES_SCHEMA.fields]
        bucketed = (
            new_rows.select(*cols)
            .filter(F.col("work_id").isNotNull())
        )
        for _attempt in range(5):
            nb = m["num_buckets"]

            def write(url: str, nb=nb) -> None:
                (
                    bucketed
                    .withColumn(
                        "wid_bucket", self._wid_bucket(F.col("work_id"), nb)
                    )
                    .repartition(F.col("wid_bucket"))
                    .write.mode("append")
                    .partitionBy("wid_bucket")
                    .parquet(url)
                )

            # staged: two appenders (or an appender and the rebuild's
            # straggler sweep) writing one directory directly would share
            # Spark's _temporary staging and can silently discard each
            # other's task outputs (see _staged_data_append)
            self._staged_data_append(
                write, self.INDEX_KEY, join_key(self.INDEX_KEY, m["dir"])
            )
            if _race_hook is not None:
                hook, _race_hook = _race_hook, None
                hook()
            m2 = _read_manifest(self.store, self.INDEX_KEY)
            if m2 is None or m2["version"] == m["version"]:
                return True
            m = m2  # rebuild won the race; land the rows in its version
        # Exhausting the loop PROVES loss risk: the only way here is that
        # every attempt — including the last — observed the version move
        # after its write, i.e. the final write's target directory was
        # superseded (and likely GC'd) too.  Raise unconditionally; a
        # further re-read proving "stable now" would say nothing about
        # where the already-written rows landed.
        raise RuntimeError(
            "append_work_id_index: index version moved on every one of "
            "5 attempts; appended rows may be lost — rebuild the index "
            "(build_work_id_index) to restore consistency"
        )

    def work_id_index(self) -> tuple[DataFrame, int] | None:
        """(index DataFrame, num_buckets) or None if never built.

        An index built over a corpus with only NULL work_ids is an EMPTY
        directory (nothing passes the isNotNull filter and the dynamic
        partition write emits no files); parquet cannot infer a schema
        from it, so that case returns an empty typed frame rather than
        erroring — the correct answer for every lookup against it.

        That empty-frame fallback is gated on the directory actually
        being data-free: a read failure over a directory that DOES hold
        part files (corrupt part, permission error, partial GC) is a real
        error and re-raises — ``by_work_id`` serves exclusively from this
        index, so masking it would silently turn every work-id query into
        zero rows.  A directory with NO objects at all also re-raises:
        the committed write always leaves at least its _SUCCESS marker,
        so a fully absent directory is a manifest pointing at GC'd state
        (corruption), not the empty-index case."""
        from pyspark.sql import types as T

        m = _read_manifest(self.store, self.INDEX_KEY)
        if m is None:
            return None
        vkey = join_key(self.INDEX_KEY, m["dir"])
        try:
            df = self.spark.read.parquet(self.store.spark_url(vkey))
        except Exception:
            if _version_dir_state(self.store, vkey) != "empty":
                raise
            schema = T.StructType(
                list(FILES_SCHEMA.fields)
                + [T.StructField("wid_bucket", T.IntegerType(), True)]
            )
            df = local_frame(self.spark, [], schema)
        return (df, m["num_buckets"])

    def partition_file_counts(self) -> dict[str, int]:
        """Data-file count per (what, bucket_date) partition of the current
        version — the small-file health metric streaming ingest degrades
        (one file per micro-batch per partition).  Driver-side listing; on
        an object store at scale, feed this from the store's inventory
        instead."""
        key = self._files_key()
        counts: dict[str, int] = {}
        for k in self.store.list(key):
            if not k.endswith(".parquet"):
                continue
            rel = k[len(key) + 1:] if key else k
            part = os.path.dirname(rel) or "."
            counts[part] = counts.get(part, 0) + 1
        return counts

    def maybe_compact(
        self, max_files_per_partition: int = 16, **compact_kwargs
    ) -> bool:
        """Compact only when some partition exceeds the small-file
        threshold; returns whether a compaction ran.  The check is a cheap
        listing, so streaming ingest can call this every N batches and the
        rewrite cost is only paid when fragmentation actually accumulated."""
        counts = self.partition_file_counts()
        if not counts or max(counts.values()) <= max_files_per_partition:
            return False
        self.compact(**compact_kwargs)
        return True

    def delete_where(self, predicate, target_file_rows: int = 1_000_000) -> None:
        """Hard-delete matching rows (GDPR/right-to-be-forgotten at the
        metadata-archive level): rewrite the files table WITHOUT rows
        matching ``predicate`` (a Column or SQL string) under compact's
        full commit protocol — exclusive lock, lease drain, versioned
        directory, atomic manifest flip — then cascade: the latest table
        recomputes (a deleted file must stop being anyone's "latest") and
        the work-id index rebuilds at its recorded bucket count.

        Scope: rows present at the rewrite's scan.  A row appended
        CONCURRENTLY that happens to match the predicate survives (the
        straggler sweeps copy raced-in files verbatim) — deletion is a
        point-in-time operation, not a standing filter; re-run it for
        late arrivals.  Note the deleted rows stay on disk in the
        previous table version — readable via files_at() until the
        retention window rolls it out, and kept by compact for in-flight
        readers even with keep_versions=1 — so run a second compact()
        when the deletion must also purge history.
        """
        pred = F.expr(predicate) if isinstance(predicate, str) else predicate
        self.compact(target_file_rows=target_file_rows, _drop_where=pred)
        self.refresh_latest()
        idx = self.work_id_index()
        if idx is not None:
            self.build_work_id_index(num_buckets=idx[1])

    def update_where(
        self,
        predicate,
        assignments: dict[str, object],
        target_file_rows: int = 1_000_000,
    ) -> None:
        """UPDATE ... SET — rewrite matching rows with new column values
        under compact's full commit protocol (exclusive lock, lease
        drain, versioned directory, atomic manifest flip), completing the
        catalog's DML triad next to append and delete_where.  The
        reference's ingester has exactly one update path (an
        ObjectCreated:Copy re-puts the record, storage.py update
        disposition); this is its set-based generalization — fix a
        mis-pushed work_id, rewrite relocated urls, patch a bad size —
        with the same point-in-time scope and cascade semantics as
        delete_where.

        ``assignments`` maps existing column name -> Column or SQL
        expression string; each value is cast back to the column's
        current type so the table schema cannot drift.  Rows where the
        predicate is NULL or FALSE are byte-preserved (three-valued
        logic pinned the same way as delete_where).  Cascades: latest
        recomputes and the work-id index rebuilds at its recorded bucket
        count (updates may change the columns either derives from).
        """
        pred = F.expr(predicate) if isinstance(predicate, str) else predicate
        cols = {f.name: f.dataType for f in FILES_SCHEMA.fields}
        for c in assignments:
            if c not in cols and c != "bucket_date":
                raise ValueError(f"unknown column {c!r} in assignments")

        def transform(df: DataFrame) -> DataFrame:
            hit = F.coalesce(pred, F.lit(False))
            out = df
            for c, expr in assignments.items():
                val = F.expr(expr) if isinstance(expr, str) else expr
                tgt = dict(cols, bucket_date=None).get(c)
                if tgt is not None:
                    val = val.cast(tgt)
                out = out.withColumn(
                    c, F.when(hit, val).otherwise(F.col(c))
                )
            # start edits can move a file across day buckets: recompute
            # the partition column from the (possibly updated) start
            if "start" in assignments and "bucket_date" not in assignments:
                out = with_bucket_date(out.drop("bucket_date"))
            return out

        self.compact(target_file_rows=target_file_rows, _transform=transform)
        self.refresh_latest()
        idx = self.work_id_index()
        if idx is not None:
            self.build_work_id_index(num_buckets=idx[1])

    def collect_stats(self) -> DataFrame:
        """ANALYZE-style column statistics for the files table: one row
        per column with null count, approximate NDV (HLL sketch — the
        mergeable estimator a 100 TB table requires; exact distinct would
        shuffle every column), and min/max rendered as strings.  One full
        scan computes every column's stats in a single aggregate (no
        per-column passes).  Persist the returned frame next to the table
        to drive broadcast/skew decisions and freshness monitoring."""
        df = self.files()
        aggs = []
        for f in FILES_SCHEMA.fields:
            c = f.name
            aggs += [
                F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
                .cast("bigint").alias(f"{c}__nulls"),
                F.hll_sketch_estimate(F.hll_sketch_agg(F.col(c).cast("string")))
                .cast("bigint").alias(f"{c}__ndv"),
                F.min(F.col(c).cast("string")).alias(f"{c}__min"),
                F.max(F.col(c).cast("string")).alias(f"{c}__max"),
            ]
        wide = df.agg(F.count(F.lit(1)).cast("bigint").alias("__rows"), *aggs)
        cols = [f.name for f in FILES_SCHEMA.fields]
        stack = ", ".join(
            f"'{c}', {c}__nulls, {c}__ndv, {c}__min, {c}__max" for c in cols
        )
        return wide.selectExpr(
            "__rows as n_rows",
            f"stack({len(cols)}, {stack}) as "
            "(column, n_nulls, approx_ndv, min_str, max_str)",
        ).select("column", "n_rows", "n_nulls", "approx_ndv", "min_str", "max_str")

    def table_versions(self) -> list[dict]:
        """Retained files-table versions, newest first: the current entry
        plus up to ``keep_versions - 1`` history entries whose directories
        GC preserved (Iceberg-style snapshot listing)."""
        m = _read_manifest(self.store, self.FILES_KEY)
        if m is None:
            return []
        out = [{"version": m["version"], "dir": m["dir"]}]
        out += list(reversed(m.get("history", [])))
        return out

    def files_at(self, version: int) -> DataFrame:
        """Time travel to a retained ``version`` of the files table.

        Snapshot semantics follow the append design: appends land inside
        the CURRENT version directory, so a historical version freezes at
        the instant it was superseded — ``files_at(N-1)`` is exactly the
        table the version-N rewrite scanned (its recovery value: a bad
        compaction can be inspected and rolled back against its true
        input), while ``files_at(current)`` is the live table.  Raises
        ValueError for versions GC has already dropped — raise
        ``keep_versions`` to retain more."""
        for entry in self.table_versions():
            if entry["version"] == version:
                return self.spark.read.parquet(
                    self.store.spark_url(join_key(self.FILES_KEY, entry["dir"]))
                )
        retained = [e["version"] for e in self.table_versions()]
        raise ValueError(
            f"version {version} is not retained (have {retained}; "
            f"keep_versions={self.keep_versions})"
        )

    def compact(
        self, target_file_rows: int = 1_000_000, layout: str = "sort",
        _race_hook=None, _drop_where=None, _transform=None,
    ) -> None:
        """Rewrite the files table to bounded file counts per partition.

        Streaming ingest appends one parquet file per micro-batch per
        partition; over time a (what, bucket_date) partition accumulates
        many small files and scan task scheduling dominates IO.  Compaction
        rewrites each partition's rows into ceil(rows / target_file_rows)
        files, re-sorting on (work_id, id) so row-group stats stay skippable.

        ``layout="zorder"`` instead clusters each partition on the Morton
        interleave of (start, hash(work_id)) — the Delta OPTIMIZE ZORDER
        move: row-group min/max stats become selective for BOTH of the
        catalog's query dimensions (time-interval scans prune on start,
        work-id lookups prune on the hash) without maintaining the
        secondary index.  Useful when the table is wide enough that
        row-group skipping matters inside a single (what, bucket_date)
        partition; the default single-column sort stays right for small
        partitions.

        Commit protocol (object-store-safe, rename-free):

        1. scan the current version, recording its input file list
        2. write the compacted output to a NEW version directory
        3. straggler sweep: copy any file that appeared in the old version
           since the scan (concurrent appends) into the new directory —
           copies are appends, so this is safe
        4. atomically flip the manifest (single small-object PUT)
        5. second straggler sweep for appends that raced step 3-4, then GC
           versions older than the previous one

        Writer exclusion makes this zero-loss for cooperating writers: the
        exclusive lock is taken first and the shared append leases drained,
        so every in-flight append completes before the scan and every later
        append blocks until the flip, then resolves the NEW version.  The
        straggler sweeps remain as defense in depth for writers that bypass
        the lease (crashed appenders past their TTL, foreign tools).

        At 100 TB this is the maintenance job (run off-peak, per
        partition).  ``_race_hook`` is test-only: called between the
        compacted write and the first sweep to simulate a concurrent
        appender.
        """
        owner = self._acquire_lock("compact")
        try:
            self._wait_append_leases()
            old_key = self._files_key()
            old_dir = self.store.spark_url(old_key)
            m = _read_manifest(self.store, self.FILES_KEY)
            version = (m["version"] + 1) if m else 1
            df = self.spark.read.parquet(old_dir)
            scanned = {
                os.path.relpath(
                    p.replace("file://", "", 1) if p.startswith("file://") else p,
                    old_dir,
                )
                for p in df.inputFiles()
            }
            dirname = _new_version_dir(version)
            new_key = join_key(self.FILES_KEY, dirname)
            new_dir = self.store.spark_url(new_key)
            # Drop ONLY rows where the predicate is definitely true.  A bare
            # ~pred silently deletes NULL-evaluating rows too (e.g.
            # work_id = 'job0' against a NULL work_id → NULL → ~NULL = NULL
            # → filtered out): under SQL three-valued logic filter() keeps
            # only TRUE, so rows with a NULL verdict would be hard-deleted
            # along with the matches.  coalesce(pred, false) pins the NULL
            # verdict to "not a match" before negating.
            out = (
                df
                if _drop_where is None
                else df.filter(~F.coalesce(_drop_where, F.lit(False)))
            )
            if _transform is not None:
                out = _transform(out)
            if layout == "zorder":
                from datalake_spark.functions.zorder import morton_key

                bits = 12
                top = (1 << bits) - 1
                stats = out.agg(
                    F.min("start").alias("_zlo"), F.max("start").alias("_zhi")
                )
                scaled = [
                    F.expr(
                        f"(start - _zlo) * {top} "
                        f"DIV GREATEST(_zhi - _zlo, 1L)"
                    ),
                    F.pmod(
                        F.xxhash64(F.coalesce(F.col("work_id"), F.lit(""))),
                        F.lit(1 << bits),
                    ).cast("long"),
                ]
                arranged = (
                    out.crossJoin(F.broadcast(stats))
                    .withColumn("_zv", morton_key(scaled, bits))
                    .repartition(F.col("what"), F.col("bucket_date"))
                    # the sort must LEAD with the partition columns: the
                    # dynamic-partition writer requires ordering by them
                    # and would otherwise insert its own (unstable) sort,
                    # destroying the clustering
                    .sortWithinPartitions("what", "bucket_date", "_zv")
                    .drop("_zv", "_zlo", "_zhi")
                )
            else:
                arranged = out.repartition(
                    F.col("what"), F.col("bucket_date")
                ).sortWithinPartitions("what", "bucket_date", "work_id", "id")
            (
                arranged.write.mode("overwrite")
                .option("maxRecordsPerFile", target_file_rows)
                .partitionBy("what", "bucket_date")
                .parquet(new_dir)
            )
            if _race_hook is not None:
                _race_hook()
            swept = self._sweep_stragglers(old_key, new_key, scanned)
            manifest = _commit_version(
                self.store, self.FILES_KEY, version, dirname, m,
                self.keep_versions,
            )
            self._sweep_stragglers(old_key, new_key, scanned | swept)
            keep = {dirname} | {h["dir"] for h in manifest["history"]}
            if old_key == self.FILES_KEY:
                # one-time migration from the legacy flat layout: drop the
                # old root-level partition dirs (new readers already resolve
                # the manifest; legacy-path readers should re-open via the
                # catalog)
                for k in self.store.list(self.FILES_KEY):
                    rel = k[len(self.FILES_KEY) + 1:]
                    top = rel.split("/", 1)[0]
                    if (top == dirname or top.startswith(_MANIFEST)
                            or top.startswith(_LOCK) or top == _LEASE_DIR
                            or top == "_commits"):
                        continue
                    self.store.delete(k)
            else:
                _gc_versions(
                    self.store, self.FILES_KEY,
                    keep | {old_key.rsplit("/", 1)[-1]}, version,
                )
        finally:
            self._release_lock(owner)

    def _sweep_stragglers(
        self, old_key: str, new_key: str, known: set[str]
    ) -> set[str]:
        """Server-side-copy parquet objects under ``old_key`` (relative
        partition paths preserved) that are not in ``known`` into
        ``new_key``; returns the relative paths copied.  Copies are pure
        appends into the new version — object-store safe."""
        copied: set[str] = set()
        new_prefix = f"{new_key}/"
        for k in self.store.list(old_key):
            # legacy-migration case: old_key is the table root and contains
            # the new version dir — never sweep the output into itself
            if k.startswith(new_prefix) or not k.endswith(".parquet"):
                continue
            rel = k[len(old_key) + 1:] if old_key else k
            if rel in known:
                continue
            self.store.copy(k, join_key(new_key, rel))
            copied.add(rel)
        return copied

    def gc_orphans(self) -> dict[str, list[str]]:
        """Reclaim orphan version directories — dirs no manifest (current
        or history) references.  Under optimistic commits these accrue
        routinely (every losing attempt leaves one until a strictly
        newer commit sweeps its table), and ``fsck`` reports them as
        informational; this is the operator verb that deletes them NOW.

        Safety: a dir numbered >= the table's current version is never
        touched (a racing committer may be writing it, or a marker-won
        winner may be awaiting roll-forward) — identical to the
        commit-time GC guard.  Returns {table: [deleted dirs]}."""
        out: dict[str, list[str]] = {}
        for table_key in (self.FILES_KEY, self.LATEST_KEY, self.INDEX_KEY):
            m = _read_manifest(self.store, table_key)
            if m is None:
                continue
            referenced = {m["dir"]} | {h["dir"] for h in m.get("history", [])}
            gone = _gc_versions(self.store, table_key, referenced, m["version"])
            if gone:
                out[table_key] = gone
        return out

    def fsck(self, deep: bool = True) -> dict:
        """Catalog invariant check — the operational health verb a 100 TB
        deployment runs after incidents and before GC policy changes.

        Cheap structural checks (always): manifests parse and their
        directories exist; version directories not referenced by any
        manifest are reported as GC candidates (never deleted here);
        expired locks/leases counted.  ``deep=True`` adds three bounded
        data checks: latest-table rows whose file id is missing from the
        files table (a broken cascade after delete), work-id-index rows
        whose id is missing (index staleness the retry/rebuild path
        should have prevented), and files rows with a non-null work_id
        missing FROM the index (freshness gap).  Each deep check is one
        join — the latest table is tiny and the index a projection of
        files, so cost is ~2 scans of metadata, not data.

        Returns a report dict; ``report["ok"]`` is False when any
        invariant is violated (orphan dirs and expired locks are
        informational, not violations).
        """
        import time as _time

        report: dict = {"problems": [], "info": {}}

        def check_table(table_key: str, name: str) -> None:
            m = _read_manifest(self.store, table_key)
            if m is None:
                report["info"][f"{name}_versioned"] = self.store.exists_prefix(
                    table_key
                )
                return
            top_dirs = set(self.store.subdirs(table_key))
            if m["dir"] not in top_dirs:
                report["problems"].append(
                    f"{name}: manifest points at missing dir {m['dir']}"
                )
            referenced = {m["dir"]} | {
                h["dir"] for h in m.get("history", [])
            }
            orphans = sorted(
                d for d in top_dirs
                if _dir_version(d) is not None and d not in referenced
            )
            if orphans:
                report["info"][f"{name}_orphan_dirs"] = orphans
            missing_history = sorted(
                h["dir"]
                for h in m.get("history", [])
                if h["dir"] not in top_dirs
            )
            if missing_history:
                report["problems"].append(
                    f"{name}: history dirs missing {missing_history}"
                )
            # the current version's commit marker (when still retained)
            # must agree with the manifest — a mismatch means a manual
            # flip or partial roll-forward bypassed the CAS protocol
            raw_marker = self.store.get(
                join_key(table_key, "_commits", f"v{m['version']:08d}")
            )
            if raw_marker is not None:
                try:
                    mk = json.loads(raw_marker)
                except json.JSONDecodeError:
                    report["problems"].append(
                        f"{name}: unparseable commit marker v{m['version']}"
                    )
                else:
                    if mk.get("dir") != m["dir"]:
                        report["problems"].append(
                            f"{name}: commit marker v{m['version']} points "
                            f"at {mk.get('dir')} but manifest at {m['dir']}"
                        )

        check_table(self.FILES_KEY, "files")
        check_table(self.LATEST_KEY, "latest")
        check_table(self.INDEX_KEY, "work_id_index")
        # expired lock / leases (informational: TTL takeover handles them)
        now = _time.time()
        raw_lock = self.store.get(self._lock_key())
        if raw_lock is not None:
            try:
                if json.loads(raw_lock).get("expiry", 0) < now:
                    report["info"]["expired_lock"] = True
            except Exception:
                report["problems"].append("files: unparseable _LOCK file")
        expired = 0
        for key in self.store.list(join_key(self.FILES_KEY, _LEASE_DIR)):
            try:
                raw = self.store.get(key)
                if raw is None or json.loads(raw).get("expiry", 0) < now:
                    expired += 1
            except Exception:
                expired += 1
        if expired:
            report["info"]["expired_leases"] = expired
        report["info"]["partition_file_counts_max"] = max(
            self.partition_file_counts().values(), default=0
        )
        if deep and _version_dir_state(self.store, self._files_key()) == "data":
            ids = self.files().select("id", "work_id")
            latest = self.latest_table()
            if latest is not None:
                stale = (
                    latest.select("id")
                    .join(ids.select("id"), "id", "left_anti")
                    .count()
                )
                if stale:
                    report["problems"].append(
                        f"latest: {stale} rows reference deleted/missing ids"
                    )
            idx = self.work_id_index()
            if idx is not None:
                stale_idx = (
                    idx[0].select("id")
                    .join(ids.select("id"), "id", "left_anti")
                    .count()
                )
                if stale_idx:
                    report["problems"].append(
                        f"work_id_index: {stale_idx} rows reference "
                        f"deleted/missing ids"
                    )
                unindexed = (
                    ids.filter(F.col("work_id").isNotNull())
                    .select("id")
                    .join(idx[0].select("id"), "id", "left_anti")
                    .count()
                )
                if unindexed:
                    report["problems"].append(
                        f"work_id_index: {unindexed} files with work_id "
                        f"missing from the index"
                    )
        report["ok"] = not report["problems"]
        return report

    def file_buckets(self) -> DataFrame:
        """Reference's DatalakeRecord view: the per-bucket fan-out with the
        composite index keys (record.py:53-65), derived — never stored."""
        df = explode_buckets(self.files())
        return df.select(
            "*",
            F.concat_ws(":", F.col("time_bucket"), F.col("what")).alias("time_index_key"),
            F.concat_ws(":", F.col("where"), F.col("id")).alias("range_key"),
            F.when(
                F.col("work_id").isNotNull(),
                F.concat_ws(":", F.col("work_id"), F.col("what")),
            )
            # null work_id is randomized in the reference to avoid a hot key
            # (record.py:197-199); we salt deterministically with the id.
            .otherwise(F.concat(F.lit("null"), F.col("id"), F.lit(":"), F.col("what")))
            .alias("work_id_index_key"),
        )
