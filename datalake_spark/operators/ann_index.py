"""Standing IVF-PQ serving index under the catalog commit protocol.

The one-call operators (similarity.ivfpq_topk) rebuild the whole index
per query — fine for a gate check, wrong for serving: at scale the index
is a STANDING artifact (Jégou et al. 2011 §V; the layout every
billion-vector ANN system persists).  :class:`IvfPqIndex` makes it one,
with the same durability story as the catalog's tables (the reference's
conditional-put discipline, ingester/datalake_ingester/storage.py:64-137):

- ``build(candidates)`` trains the coarse centroids (ivf_index_build)
  and the PQ codebooks (pq_train, Lloyd-trained), encodes the corpus to
  cell-tagged codes, writes everything under a fresh version dir, and
  commits via the marker-CAS protocol (catalog._commit_version:
  ``_commits/v{N}`` PUT-if-absent is the authority, ``_CURRENT`` a
  cache) — a crash anywhere before the marker leaves the index in its
  prior state (orphan dirs only; no torn index is ever observable).
- ``append(batch, epoch)`` encodes NEW vectors against the STANDING
  centroids/codebooks (never retrains — the property that keeps every
  epoch's codes comparable) and writes them as
  ``codes/epoch=E/cent_id=*/`` inside the current version dir, then
  commits a new manifest version whose ``epochs`` list includes E.
  Epoch-keyed overwrite writes + the committed-epochs list make replays
  idempotent (the streaming/semantic.py discipline): a crash before the
  commit re-runs the identical deterministic encode and overwrites the
  same objects; a replay after the commit is a no-op.  Vectors already
  indexed under an EARLIER committed epoch are anti-joined out (the
  at-least-once re-delivery guard — a duplicate c_id would appear twice
  in every probe of its cell).
- ``search(queries)`` loads the manifest and serves the queries from
  the decoded model (similarity.IvfPqModel: centroids and codebooks as
  NumPy arrays, kept on the handle per version dir): the probe and the
  ADC tables are built on the driver, and one partition-pruned
  ``mapInArrow`` scan reads only the probed cells' codes of COMMITTED
  epochs (uncommitted crash-orphan epoch dirs are invisible —
  partition-pruned out by the epoch filter).  A warm single-query
  search is one Spark job, two when collecting the query frame needs
  one.
- ``rebuild(source)`` retrains-and-swaps (the catalog ``compact``
  precedent, catalog.py:1185): fresh centroids/codebooks trained on the
  CURRENT committed corpus (ids recovered from the committed epochs,
  vectors from a caller-supplied source), everything re-encoded into a
  new version dir, committed via the same marker CAS.  The committed
  ``epochs`` list carries over, so a replay of an epoch the rebuild
  folded in is still a post-commit no-op; a concurrent appender that
  loses the version race simply re-resolves and re-encodes against the
  new model (the contract ``append`` already implements).  This is the
  missing lifecycle verb: ``build`` refuses an existing root and
  ``append`` never retrains (epoch comparability), so without rebuild a
  long-lived index could never re-fit drifted codebooks.  Each
  rebuild GCs the root down to the current and previous version dirs.

Readers never lock; concurrent appenders serialize on the version
marker (losers re-resolve the manifest and retry, re-encoding if a
rebuild swapped the version dir).  Model geometry (m/ksub/
num_centroids) lives IN the manifest, so a reopened handle serves with
the parameters the index was built with, not its constructor defaults.

At 100 TB: the per-append cost is O(|batch| · (num_centroids + m·ksub)
· dim) map work + one shuffle of m rows per vector; the standing corpus
is never re-read (the prior-ids guard reads the one-row-per-vector
``ids`` tree, not the m-rows-per-vector codes — and the tree is
hash-bucketed by c_id, the work-id-index precedent catalog.py:785, so
the guard's scan partition-prunes to the buckets the batch actually
touches instead of shuffling the full corpus-ids column per
micro-batch).  Search reads nprobe/num_centroids of the code files and
never touches a raw vector.
"""

from __future__ import annotations

import os
import uuid
from dataclasses import asdict, dataclass, replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datalake_spark.catalog import (
    _commit_version,
    _gc_versions,
    _new_version_dir,
    _read_manifest,
    _resolve,
    _retry_commit,
)
from datalake_spark.operators.similarity import (
    IvfPqModel,
    ivf_assign_cells,
    ivf_index_build,
    pq_encode,
    pq_train,
)
from datalake_spark.session import persisted, released
from datalake_spark.store import ObjectStore, join_key, open_store


class IndexNotBuilt(Exception):
    pass


class IndexAlreadyBuilt(Exception):
    pass


class EpochProvenanceConflict(Exception):
    """An epoch number is already committed by a DIFFERENT writer class
    (manual ``append`` vs a registered stream).  Pre-r14 the colliding
    append silently no-oped post-commit — the colliding batch's vectors
    were never indexed and never searchable, with no error (r13 advisor
    finding).  Raising at the collision point makes the mixed-use
    hazard loud; the fix is operational (rebuild into a new lifetime,
    or append under an epoch number outside every stream's range)."""


@dataclass
class _Fields:
    """The index fields a manifest version carries beside the commit
    protocol's own (``version``, ``dir``, ``history``): the committed
    epochs, the model geometry and ids layout, and the lineage — the
    index lifetime id, the per-epoch writer provenance map and the
    registered-streams map.  A commit writes ``asdict`` of one of these,
    so the fields keep the manifest's key order."""

    epochs: list
    m: int
    ksub: int
    num_centroids: int
    residual: bool
    ids_buckets: int
    index_id: str | None
    epoch_src: dict
    streams: dict

    @classmethod
    def of(cls, manifest: dict) -> "_Fields":
        """The fields of a committed ``manifest`` — the one place their
        names and legacy defaults are spelled.  Every successor version
        starts from this and ``replace``s what it changes, so no commit
        site can drop an inherited field.  Legacy manifests lack
        ``residual`` and ``ids_buckets`` (pre-bucketing: the ids tree is
        flat) and the lineage; the defaults keep those indexes
        serveable."""
        return cls(
            epochs=[int(e) for e in manifest["epochs"]],
            m=int(manifest["m"]),
            ksub=int(manifest["ksub"]),
            num_centroids=int(manifest["num_centroids"]),
            residual=bool(manifest.get("residual", False)),
            ids_buckets=int(manifest.get("ids_buckets", 0)),
            index_id=manifest.get("index_id"),
            epoch_src=dict(manifest.get("epoch_src", {})),
            streams=dict(manifest.get("streams", {})),
        )


class IvfPqIndex:
    """A standing IVF-PQ index rooted at ``root`` (any ObjectStore URL).

    Layout (all inside the manifest's current version dir):

    - ``centroids/``  — (cent_id, cent_vec), num_centroids rows
    - ``codebooks/``  — (sub, code, cb_micro), m·ksub rows
    - ``codes/epoch=E/cent_id=*/`` — (c_id, sub, code), m rows/vector
    - ``ids/epoch=E/bucket=B/`` — (c_id), 1 row/vector (the cheap
      prior-ids set, hash-bucketed by c_id so the append guard prunes;
      legacy pre-bucketing indexes have no ``bucket=`` level and the
      manifest carries no ``ids_buckets`` — the guard then reads the
      whole tree, exactly the old behavior)

    plus the commit-protocol control plane at the root: ``_commits/v*``
    markers and the ``_CURRENT`` manifest cache."""

    CENTS = "centroids"
    CB = "codebooks"
    CODES = "codes"
    IDS = "ids"

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        num_centroids: int = 16,
        m: int = 8,
        ksub: int = 16,
        train_iters: int = 2,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        store: ObjectStore | None = None,
        residual: bool = False,
        ids_buckets: int = 64,
    ):
        self.spark = spark
        self.store = store if store is not None else open_store(root)
        self.num_centroids = num_centroids
        self.m = m
        self.ksub = ksub
        self.train_iters = train_iters
        self.id_col = id_col
        self.vec_col = vec_col
        # hash-bucket fanout of the ids tree (prior-ids prune); like
        # m/ksub the committed manifest is the authority once built
        self.ids_buckets = ids_buckets
        # IVFADC residual layout (similarity.pq_encode centroids= /
        # ivfpq_search residual=True).  Like m/ksub, the committed
        # manifest is the authority once built — a reopened handle
        # serves with the layout the index was written in.
        self.residual = residual
        # (version dir, IvfPqModel, codes schema) of the last search:
        # a dir's model never changes (append never retrains, rebuild
        # writes a new dir), so the dir name is the cache key
        self._model: tuple | None = None

    # -- plumbing --------------------------------------------------------

    def _url(self, *parts: str) -> str:
        return self.store.spark_url(join_key(*parts))

    def manifest(self) -> dict | None:
        """The committed index state (marker log is the authority), or
        None when the index has never been built."""
        return _read_manifest(self.store, "")

    def _built(self, seen: list) -> dict:
        """The committed manifest for one commit attempt (recorded in
        ``seen``); raises :class:`IndexNotBuilt` when there is none."""
        m = _resolve(self.store, "", seen)
        if m is None:
            raise IndexNotBuilt(self.store.url)
        return m

    def _commit(self, prev: dict | None, vdir: str, fields: _Fields) -> dict:
        """Commit ``vdir`` with ``fields`` as the version after ``prev``
        (None = the first version) through the marker CAS."""
        return _commit_version(
            self.store, "", prev["version"] + 1 if prev else 1, vdir,
            prev=prev, extra=asdict(fields),
        )

    def _read_model(self, m: dict) -> tuple[DataFrame, DataFrame]:
        vdir = m["dir"]
        cents = self.spark.read.parquet(self._url(vdir, self.CENTS))
        cb = self.spark.read.parquet(self._url(vdir, self.CB))
        return cents, cb

    @staticmethod
    def _id_bucket(col: F.Column, nb: int, dtype) -> F.Column:
        """Canonical id→bucket hash: the id is cast to STRING before
        xxhash64 so the bucket is a function of the id's VALUE, not its
        physical type — an INT32-typed batch probing an INT64-built ids
        tree must land in the same buckets (xxhash64 hashes the two
        types differently; the pre-prune plain anti-join coerced types,
        so the prune must too or re-delivered vectors would silently
        re-commit).  Integral and scale-0 decimal ids normalize through
        an integer cast first: the bare string cast unified INT32/INT64
        but NOT fractional numerics — a re-delivered batch whose ids
        arrive as DOUBLE stringifies '1.0' where the committed tree
        hashed '1', pruning to the wrong bucket and re-committing a
        duplicate.  Fractional id types (DOUBLE/FLOAT, decimal with
        scale > 0) are rejected outright: an id is a key, and a key
        type whose string form is representation-dependent cannot
        bucket stably."""
        from pyspark.sql import types as T

        if isinstance(
            dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
        ):
            col = col.cast("long")
        elif isinstance(dtype, T.DecimalType):
            if dtype.scale != 0:
                raise ValueError(
                    f"id column of type {dtype.simpleString()} cannot "
                    "be hash-bucketed (fractional decimal scale); use "
                    "an integral, scale-0 decimal, or string id"
                )
            # decimal(38,0) keeps > 2^63 ids exact; '1' prints as '1'
            col = col.cast(T.DecimalType(38, 0))
        elif isinstance(dtype, (T.FloatType, T.DoubleType)):
            raise ValueError(
                f"id column of type {dtype.simpleString()} cannot be "
                "hash-bucketed ('1.0' vs '1' — representation-dependent "
                "string form); cast ids to an integral or string type"
            )
        return F.pmod(F.xxhash64(col.cast("string")), F.lit(nb))

    def _write_codes(self, codes: DataFrame, vdir: str, epoch: int) -> None:
        """Write one epoch's (c_id, sub, code) rows, partitioned by cell."""
        codes.repartition("cent_id").write.mode("overwrite").partitionBy(
            "cent_id"
        ).parquet(self._url(vdir, self.CODES, f"epoch={epoch}"))

    def _write_ids(
        self, ids: DataFrame, vdir: str, epoch: int, nb: int
    ) -> None:
        """Write the (c_id) tree for one epoch, hash-bucketed by c_id
        when ``nb > 0`` so :meth:`_prior_ids` can partition-prune."""
        out = ids.select("c_id")
        w = out.write.mode("overwrite")
        if nb > 0:
            out = out.withColumn(
                "bucket",
                self._id_bucket(
                    F.col("c_id"), nb, out.schema["c_id"].dataType
                ),
            )
            # cluster rows by their output partition before the write
            # (guide §6 write distribution): without it the writer emits
            # one file per (input partition × bucket) — a spread corpus
            # fans every epoch into input-partitions× more files for
            # _prior_ids to list and scan
            out = out.repartition("bucket")
            w = out.write.mode("overwrite").partitionBy("bucket")
        w.parquet(self._url(vdir, self.IDS, f"epoch={epoch}"))

    def _prior_ids(self, m: dict, batch: DataFrame) -> DataFrame:
        """(c_id) committed under any epoch in manifest ``m`` that the
        append guard must anti-join against, pruned to the hash buckets
        ``batch``'s ids can possibly live in.  The bucket list is a
        bounded collect (≤ ids_buckets distinct values, driver-side by
        design — it constant-folds into the scan's PartitionFilters, so
        at 10⁹ indexed vectors a small micro-batch reads only its
        touched buckets instead of the whole corpus-ids column).
        Legacy indexes (no ``ids_buckets`` in the manifest) read the
        unpruned tree."""
        f = _Fields.of(m)
        prior = (
            self.spark.read.parquet(self._url(m["dir"], self.IDS))
            .filter(F.col("epoch").isin(f.epochs))
        )
        nb = f.ids_buckets
        if nb > 0:
            touched = sorted(
                r[0]
                for r in batch.select(
                    self._id_bucket(
                        F.col(self.id_col),
                        nb,
                        batch.schema[self.id_col].dataType,
                    ).alias("bucket")
                )
                .distinct()
                .collect()
            )
            prior = prior.filter(F.col("bucket").isin(touched))
        return prior.select("c_id")

    # -- lifecycle -------------------------------------------------------

    def build(self, candidates: DataFrame) -> dict:
        """Train + encode + commit version 1 (epoch 0).  Exactly one of
        N racing builders wins the v1 marker; losers get CommitConflict
        and should reopen the winner's index."""
        if self.manifest() is not None:
            raise IndexAlreadyBuilt(self.store.url)
        fields = _Fields(
            epochs=[0], m=self.m, ksub=self.ksub,
            num_centroids=self.num_centroids, residual=self.residual,
            ids_buckets=self.ids_buckets,
            # lifetime identity + per-epoch writer provenance: a stream
            # registration is bound to THIS index_id, and append refuses
            # to treat a replay as idempotent when the epoch was
            # committed by a different writer class
            index_id=uuid.uuid4().hex, epoch_src={"0": "build"}, streams={},
        )
        vdir = _new_version_dir(1)
        self._train_and_write(candidates, vdir, fields, self.train_iters)
        return self._commit(None, vdir, fields)

    @released()
    def _train_and_write(
        self, corpus: DataFrame, vdir: str, f: _Fields, iters: int
    ) -> None:
        """Train the coarse centroids and the PQ codebooks on ``corpus``
        (geometry from ``f``), encode it, and write centroids, codebooks,
        codes and ids as epoch 0 of ``vdir`` — the body build and
        rebuild share.  The training caches are released on return."""
        cents, assign = ivf_index_build(
            corpus, f.num_centroids, id_col=self.id_col, vec_col=self.vec_col,
        )
        # assign carries (c_id, c_vec, cent_id) row-locally (r14): train
        # and encode read the cell tag off the row — no corpus-sized
        # cells join anywhere in the build
        cells = assign.select("c_id", "cent_id")
        rcents = cents if f.residual else None
        if f.residual:
            cb = pq_train(
                assign, m=f.m, ksub=f.ksub, iters=iters,
                id_col="c_id", vec_col="c_vec",
                cells="cent_id", centroids=rcents,
            )
        else:
            cb = pq_train(
                corpus, m=f.m, ksub=f.ksub, iters=iters,
                id_col=self.id_col, vec_col=self.vec_col,
            )
        codes = pq_encode(
            assign, cb, m=f.m, id_col="c_id", vec_col="c_vec",
            cells="cent_id", centroids=rcents,
        )
        cents.write.mode("overwrite").parquet(self._url(vdir, self.CENTS))
        cb.write.mode("overwrite").parquet(self._url(vdir, self.CB))
        self._write_codes(codes, vdir, 0)
        self._write_ids(cells, vdir, 0, f.ids_buckets)

    @released()
    def append(
        self,
        batch: DataFrame,
        epoch: int,
        _race_hook=None,
        provenance: str = "manual",
    ) -> dict:
        """Encode ``batch`` against the standing model as ``epoch`` and
        commit.  Idempotent per epoch: an already-committed epoch
        returns immediately (post-commit replay), an uncommitted one is
        rewritten in place (pre-commit crash replay — deterministic
        encode, same bytes).  CommitConflict retries re-resolve the
        manifest, so a concurrent appender (or a rebuild that swapped
        the version dir) just costs this appender a re-encode.

        ``provenance`` names the writer class ("manual" for direct
        calls, "stream:<id>" for a registered stream): the
        already-committed fast path is a legal no-op ONLY when the
        committed epoch's recorded provenance matches — a replay of
        one's OWN commit.  A number collision across writer classes
        (manual 'ann append --epoch N' vs a stream reaching batch N-1)
        raises :class:`EpochProvenanceConflict` instead of silently
        dropping the batch from the index (r13 advisor finding).
        Epochs committed by pre-r14 manifests carry no provenance and
        match any writer (the old behavior, preserved for legacy
        indexes only).

        The batch is persisted for the duration of the call: the
        re-delivery guard evaluates it twice (the touched-bucket
        collect and the anti-join), and for a non-deterministic source
        (``sample()``, un-ordered ``limit``) two independent
        evaluations could disagree — the bucket set would miss buckets
        holding ids the anti-join's evaluation produces, silently
        disabling the guard.  NOTE the persist is advisory: under
        cache-block loss Spark recomputes from the source, so for a
        GENUINELY non-deterministic source the caller must materialize
        first (write it out, or ``localCheckpoint()``) — the persist
        narrows the window; determinism of the batch plan is the
        contract that closes it (foreachBatch micro-batches satisfy
        it)."""
        batch = persisted(batch.select(
            F.col(self.id_col).alias(self.id_col),
            F.col(self.vec_col).alias(self.vec_col),
        ))
        # NULL guard (r13 review): a NULL vector would assign a NULL
        # cent_id (cosine over NULL is NULL) — the id lands in the
        # ids tree with no searchable code, and the re-delivery
        # guard then blocks a later CORRECT delivery forever.  A
        # NULL id breaks the bucket hash the same way.  Raising here
        # (one cached limit-1 scan; the batch is persisted) beats
        # both silent corruptions.
        bad = batch.filter(
            F.col(self.id_col).isNull() | F.col(self.vec_col).isNull()
        )
        if not bad.isEmpty():
            raise ValueError(
                "append batch contains NULL ids or NULL vectors — "
                "a NULL vector would commit an unsearchable id that "
                "permanently blocks its own correct re-delivery; "
                "filter them out (or fix the source) first"
            )
        return self._append(batch, epoch, _race_hook, provenance)

    def _append(
        self, batch: DataFrame, epoch: int, _race_hook, provenance: str
    ) -> dict:
        def attempt(seen: list) -> dict:
            m = self._built(seen)
            f = _Fields.of(m)
            if epoch in f.epochs:
                src = f.epoch_src.get(str(int(epoch)))
                if src is not None and src != provenance:
                    raise EpochProvenanceConflict(
                        f"epoch {int(epoch)} of {self.store.url} is "
                        f"already committed by '{src}' but this append "
                        f"runs as '{provenance}' — a silent no-op here "
                        "would drop the batch from the index forever; "
                        "pick an epoch number outside the other "
                        "writer's range, or rebuild into a new lifetime"
                    )
                return m  # post-commit replay of our own epoch
            vdir = m["dir"]
            cents, cb = self._read_model(m)
            # at-least-once re-delivery guard: ids already committed
            # under EARLIER epochs leave the batch (ids tree is one row
            # per vector — the codes tree, m rows per vector, is never
            # read here — partition-pruned to the batch's hash buckets).
            # The epoch filter also hides crash-orphan uncommitted epoch
            # dirs, whose vectors must NOT count as indexed (they are
            # invisible to search too).
            prior = self._prior_ids(m, batch)
            new = batch.join(
                prior, F.col(self.id_col) == F.col("c_id"), "left_anti"
            )
            # row-local cell assignment carrying the vector through
            # (r14): encode reads (c_id, c_vec, cent_id) off one frame —
            # no cells join back onto the batch
            cells = ivf_assign_cells(
                new, cents, id_col=self.id_col, vec_col=self.vec_col,
                keep_vec=True,
            )
            codes = pq_encode(
                cells, cb, m=f.m,
                id_col="c_id", vec_col="c_vec", cells="cent_id",
                # manifest, not constructor: appended codes must use the
                # layout the index was BUILT with
                centroids=cents if f.residual else None,
            )
            self._write_codes(codes, vdir, epoch)
            self._write_ids(cells, vdir, epoch, f.ids_buckets)
            if _race_hook is not None:
                _race_hook()
            return self._commit(m, vdir, replace(
                f, epochs=f.epochs + [epoch],
                epoch_src={**f.epoch_src, str(int(epoch)): provenance},
            ))

        # a lost CAS (a concurrent appender, or a rebuild that swapped
        # the version dir) re-resolves and re-encodes
        return _retry_commit(self.store, "IvfPqIndex.append", 5, attempt)

    def rebuild(
        self,
        source: DataFrame,
        num_centroids: int | None = None,
        m: int | None = None,
        ksub: int | None = None,
        train_iters: int | None = None,
        residual: bool | None = None,
        _race_hook=None,
    ) -> dict:
        """Retrain-and-swap: fit fresh centroids/codebooks on the
        CURRENT committed corpus and commit the re-encoded index as the
        next version (the catalog ``compact`` rebuild-and-swap shape).

        The index stores codes, not vectors, so ``source`` must supply
        (id_col, vec_col) rows covering every committed id — the
        vectors are recovered by an inner join against the committed
        ids tree, and a source missing any committed id raises rather
        than silently shrinking the index.  Geometry defaults to the
        manifest's (a rebuild re-fits drifted codebooks; it does not
        quietly reshape the index) — pass overrides to change it.

        Concurrency is the append contract run in reverse: the rebuild
        loses its marker CAS to any append that committed since it
        resolved the manifest, re-resolves (now seeing the new epoch's
        ids), and retrains; an append losing to the rebuild re-resolves
        and re-encodes against the new model (``append`` already does).
        The committed ``epochs`` list carries over even though all
        codes land in the new version's ``epoch=0`` dirs, so replays of
        folded epochs stay post-commit no-ops.  After the commit, GC
        keeps the new and the previous version dirs (the catalog's
        retention) and reclaims older ones and losing attempts'
        orphans; an appender caught writing into a reclaimed dir
        retries like one that lost the CAS."""
        source = source.select(
            F.col(self.id_col).alias(self.id_col),
            F.col(self.vec_col).alias(self.vec_col),
        )
        it = int(train_iters if train_iters is not None else self.train_iters)
        tries = 0

        def attempt(seen: list) -> dict:
            nonlocal tries
            tries += 1
            mfst = self._built(seen)
            cur = _Fields.of(mfst)
            nxt = replace(
                cur,
                num_centroids=int(
                    num_centroids if num_centroids is not None
                    else cur.num_centroids
                ),
                m=int(m if m is not None else cur.m),
                ksub=int(ksub if ksub is not None else cur.ksub),
                residual=bool(cur.residual if residual is None else residual),
                # physical ids layout comes from the HANDLE, not the
                # manifest: rebuild rewrites the whole ids tree anyway, so
                # it is the one safe point to (up)grade a legacy flat
                # layout to the bucketed one (mixed per-epoch layouts
                # would break partition discovery, which is why append
                # always follows the manifest)
                ids_buckets=int(self.ids_buckets),
            )
            committed = (
                self.spark.read.parquet(self._url(mfst["dir"], self.IDS))
                .filter(F.col("epoch").isin(cur.epochs))
                .select("c_id")
            )
            corpus = source.join(
                committed, F.col(self.id_col) == F.col("c_id"), "inner"
            ).drop("c_id")
            # DISTINCT coverage, then row-vs-id equality: a source that
            # repeats an id could otherwise pad the row count past a
            # missing committed id (silent shrink) while double-encoding
            # the repeated one (duplicate c_id in every probe of its
            # cell — the corruption the append guard exists to prevent).
            # ONE aggregation over a left join computes all three
            # counts (the pre-r13 form ran three driver actions — three
            # corpus passes at 10⁹ vectors where one suffices): a
            # committed id with k source matches contributes k rows,
            # an uncovered one contributes 1 null-source row, so
            # count(non-null id) is the inner-join row count and the
            # two countDistincts are committed / covered ids.
            st = (
                committed.join(
                    source,
                    F.col("c_id") == F.col(self.id_col),
                    "left",
                )
                .agg(
                    F.countDistinct("c_id").alias("n_committed"),
                    F.countDistinct(self.id_col).alias("n_ids"),
                    F.count(self.id_col).alias("n_rows"),
                )
                .collect()[0]
            )
            n_committed, n_ids, n_rows = (
                st["n_committed"], st["n_ids"], st["n_rows"]
            )
            if n_ids < n_committed:
                race = (
                    " (NOTE: a concurrent append won the version race "
                    "during this rebuild — the committed corpus grew to "
                    f"epochs {cur.epochs}; "
                    "re-supply a source covering the newly appended "
                    "vectors rather than suspecting the original one)"
                    if tries > 1 else ""
                )
                raise ValueError(
                    f"rebuild source covers {n_ids} of "
                    f"{n_committed} committed ids — refusing to "
                    f"silently shrink the index{race}"
                )
            if n_rows != n_ids:
                raise ValueError(
                    f"rebuild source has duplicate ids ({n_rows} rows "
                    f"over {n_ids} ids) — one vector per id is the "
                    "index contract"
                )
            vdir = _new_version_dir(mfst["version"] + 1)
            self._train_and_write(corpus, vdir, nxt, it)
            if _race_hook is not None:
                _race_hook()
            manifest = self._commit(mfst, vdir, nxt)
            # reclaim superseded dirs and losing attempts' orphans; an
            # appender still writing into one of them retries (its
            # attempt recorded the version it resolved)
            _gc_versions(
                self.store, "",
                {vdir} | {h["dir"] for h in manifest["history"]},
                manifest["version"],
            )
            return manifest

        # an append that won the version makes this attempt retrain on it
        return _retry_commit(self.store, "IvfPqIndex.rebuild", 5, attempt)

    def search(
        self, queries: DataFrame, k: int = 10, nprobe: int = 4
    ) -> DataFrame:
        """(q_id, c_id, adc, rk): the top-``k`` of every query over the
        committed index, probing ``nprobe`` cells
        (similarity.IvfPqModel.search — the one IVF-PQ search path).
        Every call reads the manifest, so an append is visible to the
        next search; the codes are filtered to its COMMITTED epochs
        (crash-orphan epoch dirs are pruned out at plan time).  The
        decoded model and the codes schema are read once per version
        dir and kept on the handle, so a warm search reads no centroid
        or codebook file and infers no parquet schema: it runs the one
        codes scan, plus a job to collect the queries unless they are a
        local relation.  The result is a local relation."""
        m = self.manifest()
        if m is None:
            raise IndexNotBuilt(self.store.url)
        f = _Fields.of(m)
        url = self._url(m["dir"], self.CODES)
        if self._model is None or self._model[0] != m["dir"]:
            model = IvfPqModel.of(*self._read_model(m), f.m, f.residual)
            # epochs grow past the int range a first read may infer, and
            # cent_id takes the centroid ids' own type
            types = {"epoch": T.LongType(), "cent_id": model.cent_type}
            schema = T.StructType([
                T.StructField(x.name, types.get(x.name, x.dataType))
                for x in self.spark.read.parquet(url).schema
            ])
            self._model = (m["dir"], model, schema)
        _, model, schema = self._model
        codes = self.spark.read.schema(schema).parquet(url).filter(
            F.col("epoch").isin(f.epochs)
        )
        return model.search(
            codes, queries, k=k, nprobe=nprobe,
            id_col=self.id_col, vec_col=self.vec_col,
        )

    # -- streaming maintenance -------------------------------------------

    #: Epoch range reserved per registered stream.  A fresh stream's
    #: base lands one full stride above every previously-reserved range,
    #: so two CONCURRENTLY-live streams on one index can never allocate
    #: colliding epoch numbers (each would need > a million micro-batches
    #: to escape its range — the sink raises first, see start_stream).
    STREAM_EPOCH_STRIDE = 1_000_000

    @staticmethod
    def _checkpoint_key(checkpoint_dir: str) -> str:
        """Canonical manifest key for a checkpoint path: the same
        physical checkpoint must resolve to the same ``streams`` entry
        no matter how it is spelled (``/ck`` vs ``file:/ck`` vs
        ``file:///ck`` vs relative vs trailing slash) — a spelling fork
        would register a second stream on the same Spark checkpoint and
        later refuse a healthy restart as a provenance conflict.
        Local paths (no scheme, or a ``file:`` scheme) normalize through
        ``os.path.abspath``; foreign schemes (s3a://, hdfs://) keep
        their URL form minus any trailing slash."""
        ck = str(checkpoint_dir)
        if ck.startswith("file:"):
            ck = ck[len("file:"):]
            # file:///p and file://p and file:/p all mean local /p
            while ck.startswith("//"):
                ck = ck[1:]
        if "://" not in ck:
            ck = os.path.abspath(ck)
        return ck.rstrip("/") or "/"

    def register_stream(
        self, checkpoint_dir: str, landing_dir: str
    ) -> tuple[str, int]:
        """Bind a streaming checkpoint to this index lifetime; returns
        ``(stream_id, epoch_base)``.  The binding lives in the MANIFEST
        (``streams`` map keyed by the checkpoint path), so it works for
        every checkpoint scheme — no marker file in the checkpoint dir,
        no driver-local ``isdir`` heuristics (the r13 CLI guard's gap).

        First registration of a checkpoint commits a fresh
        ``stream_id`` and an ``epoch_base`` one full
        :attr:`STREAM_EPOCH_STRIDE` above every previously-reserved
        stream range AND every committed epoch; the stream then appends
        as ``base + batchId + 1`` with provenance ``stream:<id>``.
        Reserving a disjoint stride per registration means two
        concurrently-live streams on one index can never allocate the
        same epoch number (pre-stride, a second fresh stream based at
        ``max(epochs)`` was GUARANTEED to collide with a live peer's
        next batch mid-stream).  A fresh stream on a manually-appended
        index is legal and collision-free (the r13 guard false-refused
        it); re-delivered vectors are handled by the prior-ids
        anti-join, not by epoch numbers.

        Re-registration of a KNOWN checkpoint verifies the binding:
        same landing dir, same index lifetime (``index_id`` — a torn-
        down-and-rebuilt-from-scratch root under the same URL is a
        different lifetime), and no FOREIGN epochs inside the stream's
        RESERVED range (a manual append that landed there while the
        stream was down would collide with a future batch — refuse at
        start instead of raising mid-stream; another stream's epochs
        live outside the range by construction and don't false-refuse).
        A binding whose stream never committed an epoch may be REBOUND
        to a new landing dir in place — a first start that failed
        before its first batch (typo'd landing dir) must not burn the
        checkpoint forever."""
        ck = self._checkpoint_key(checkpoint_dir)
        stride = int(self.STREAM_EPOCH_STRIDE)

        def attempt(seen: list) -> tuple[str, int]:
            m = self._built(seen)
            f = _Fields.of(m)
            # legacy manifests (pre-normalization) may hold the raw
            # spelling — honor it so an existing binding keeps working
            key = ck if ck in f.streams else (
                str(checkpoint_dir)
                if str(checkpoint_dir) in f.streams else ck
            )
            ent = f.streams.get(key)
            if ent is not None:
                sid, base = ent["stream_id"], int(ent["epoch_base"])
                mine = f"stream:{sid}"
                if ent.get("landing_dir") != landing_dir:
                    if any(v == mine for v in f.epoch_src.values()):
                        raise ValueError(
                            f"checkpoint {key} is registered to landing "
                            f"dir {ent.get('landing_dir')!r}, not "
                            f"{landing_dir!r} — a checkpoint binds one "
                            "stream; use a fresh checkpoint dir for a "
                            "new source"
                        )
                    # never-used binding (first start died before its
                    # first batch): rebind in place instead of burning
                    # the checkpoint dir on a typo'd landing dir
                    ent = {**ent, "landing_dir": landing_dir}
                else:
                    if (
                        f.index_id is not None
                        and ent.get("index_id") is not None
                        and ent["index_id"] != f.index_id
                    ):
                        raise ValueError(
                            f"checkpoint {key} was registered to a "
                            f"previous index lifetime at {self.store.url}"
                            " — the index was torn down and rebuilt; use "
                            "a fresh checkpoint dir"
                        )
                    foreign = sorted(
                        e for e in f.epochs
                        if base < e <= base + stride
                        and f.epoch_src.get(str(e), mine) != mine
                    )
                    if foreign:
                        raise EpochProvenanceConflict(
                            f"epochs {foreign} of {self.store.url} were "
                            "committed by another writer inside this "
                            f"stream's reserved range ({base}, "
                            f"{base + stride}] — a future micro-batch "
                            "would collide; rebuild into a new lifetime "
                            "or use a fresh checkpoint dir"
                        )
                    return sid, base
            else:
                sid = uuid.uuid4().hex[:16]
                # the index's FIRST stream bases directly above the
                # committed epochs (compact numbering, matches the
                # manual-append clock); every LATER registration lands
                # one full stride above all reserved ranges and committed
                # epochs, aligned to a stride boundary — disjoint from
                # every live peer, so concurrent streams cannot allocate
                # one number
                top = max(f.epochs, default=0)
                if not f.streams:
                    base = top
                else:
                    floor = max(top, max(
                        int(s["epoch_base"]) + stride
                        for s in f.streams.values()
                    ))
                    base = ((floor // stride) + 1) * stride
                ent = {
                    "stream_id": sid,
                    "epoch_base": base,
                    "landing_dir": landing_dir,
                    "index_id": f.index_id,
                }
            self._commit(
                m, m["dir"], replace(f, streams={**f.streams, key: ent})
            )
            return sid, base

        # a lost CAS re-resolves (maybe another start registered first)
        return _retry_commit(
            self.store, "IvfPqIndex.register_stream", 5, attempt
        )

    def start_stream(
        self,
        landing_dir: str,
        checkpoint_dir: str,
        available_now: bool = True,
        trigger_interval: str | None = None,
    ):
        """Maintain the index from a stream of embedding events (the
        streaming/semantic.py landing-dir shape): every micro-batch
        appends as index epoch ``epoch_base + streaming_epoch + 1``
        under the checkpoint's registered stream identity
        (:meth:`register_stream`) — replays are idempotent per epoch,
        and manual ``append`` epochs can no longer silently absorb a
        stream's batches (provenance-checked)."""
        from datalake_spark.streaming.semantic import vec_stream

        sid, base = self.register_stream(checkpoint_dir, landing_dir)
        stride = int(self.STREAM_EPOCH_STRIDE)

        def _sink(batch: DataFrame, epoch: int) -> None:
            if epoch + 1 > stride:
                raise EpochProvenanceConflict(
                    f"stream {sid} exceeded its reserved epoch range "
                    f"({stride} micro-batches) — rebuild the index into "
                    "a new lifetime with a fresh checkpoint to continue"
                )
            self.append(batch, base + epoch + 1, provenance=f"stream:{sid}")

        writer = (
            vec_stream(self.spark, landing_dir)
            .writeStream.foreachBatch(_sink)
            .option("checkpointLocation", checkpoint_dir)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        elif trigger_interval is not None:
            writer = writer.trigger(processingTime=trigger_interval)
        return writer.start()
