"""Streaming corpus curation: documents arriving as a stream pass the same
quality rules and dedup funnel as the batch pipeline, landing in the shard
layout a training loader reads.

Composition (every stage is the verified batch/stream primitive):

1. ``readStream`` over a landing dir of document JSON (any streaming
   DataFrame with (doc_id, text, lang, event ms) works — the transport is
   pluggable exactly like streaming/sources.py).
2. Stateless quality rules — ``pipeline.quality_rules`` minus the
   canonicality rule: a per-fingerprint MIN over all history is not a
   streaming-safe aggregate, so exact dup removal is done by the
   watermark-bounded content-hash dedup (stage 3) for twins inside the
   horizon, and by the batch ``exact_dedup`` as terminal cleanup — the
   same at-least-once contract streaming ingest has with query-time
   dedup-by-id.
3. ``dedup_stream_within_watermark`` on the normalized content hash.
4. ``foreachBatch`` append into ``shard=K`` dirs via the same seeded
   md5 membership as export.write_training_shards; within a micro-batch
   each touched shard gets one file (pre-write repartition).  Order
   within a shard is re-established at read time from the persisted
   ``_skey`` (export.read_training_shard) — a stream cannot emit a
   globally sorted shard, so the sort key column IS the order contract.
4b. (r13, optional) CCNet-style LM quality filtering against a STANDING
   pretrained bigram model (operators/lm.lm_train written to parquet
   once; lm_score per micro-batch is stateless) — runs before the
   near-dup probe so junk never enters the signature store.
5. (r13, optional) the same foreachBatch appends the survivors'
   embeddings to a standing :class:`~datalake_spark.operators.ann_index.
   IvfPqIndex` as index epoch ``streaming_epoch + 1`` — the composed
   ingest → curate → serve lifecycle under ONE checkpoint: the shard
   commit (deterministic copy-promote) and the index commit
   (epoch-keyed marker CAS) are each idempotent, so an at-least-once
   replay of a crashed micro-batch re-runs both as no-ops.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datalake_spark.export import KEY_COL, SHARD_COL, shard_key, shard_of
from datalake_spark.session import persisted, released
from datalake_spark.store import join_key, open_store
from datalake_spark.streaming.dedup import dedup_stream_within_watermark

DOC_EVENT_SCHEMA = "doc_id long, text string, lang string, ms long"
# r13: composed curation+indexing events additionally carry the doc's
# embedding — curated survivors' vectors feed the standing IVF-PQ
# index in the same foreachBatch (see StreamingCurator(ann_index=))
DOC_VEC_EVENT_SCHEMA = DOC_EVENT_SCHEMA + ", embedding array<float>"


def doc_stream(
    spark: SparkSession, landing_dir: str, with_embedding: bool = False
) -> DataFrame:
    """JSON document events from a landing directory."""
    schema = DOC_VEC_EVENT_SCHEMA if with_embedding else DOC_EVENT_SCHEMA
    return spark.readStream.schema(schema).json(landing_dir)


def curate_stream(
    stream: DataFrame,
    watermark: str = "1 hour",
    scrub_pii: bool = False,
    **rule_kwargs,
) -> DataFrame:
    """quality rules (stateless subset) + watermark-bounded exact dedup on
    the content hash.  Returns the stream of surviving documents.

    ``scrub_pii`` redacts emails/IPs/phones in the text BEFORE hashing —
    a pure-Column transform (functions/text.scrub_pii), so it is
    streaming-stateless; scrubbing first means two docs differing only in
    their PII dedup as the same content, which is the curation-correct
    order."""
    from datalake_spark.pipeline import quality_rules

    if scrub_pii:
        from datalake_spark.functions.text import scrub_pii as _scrub

        stream = stream.withColumn("text", _scrub("text"))
    ruled = quality_rules(stream, canonicality=False, **rule_kwargs)
    # is_canonical is a full-history MIN (not streaming-safe); the hash
    # dedup below owns exact-dup removal inside the watermark horizon
    kept = ruled.filter(
        F.col("len_ok") & F.col("stop_ok") & F.col("lang_ok")
    ).drop("len_ok", "stop_ok", "lang_ok", "is_canonical", "keep")
    hashed = kept.withColumn("hash", F.md5(F.col("text")))
    return dedup_stream_within_watermark(
        hashed, key_cols=["hash"], time_col="ms", watermark=watermark
    ).drop("hash")


class StreamingCurator:
    """readStream(docs) → rules → dedup → shard-layout append
    [→ standing-index epoch append when ``ann_index`` is given]."""

    def __init__(
        self,
        spark: SparkSession,
        shards_path: str,
        n_shards: int = 8,
        seed: str = "shuf42",
        id_col: str = "doc_id",
        compact_every: int = 0,
        max_files_per_shard: int = 16,
        near_dup_threshold: float | None = None,
        sig_path: str | None = None,
        ann_index=None,
        vec_col: str = "embedding",
        lm_model_path: str | None = None,
        lm_threshold: int | None = None,
    ):
        self.spark = spark
        # every driver-side commit step goes through the store (the same
        # GET/PUT/LIST/DELETE/COPY seam the catalog uses — LocalStore for
        # plain paths, MemStore for mem://, a registered SDK store for a
        # real bucket); shards_path stays the Spark-visible data root for
        # the readers (export.read_training_shard, compact_shards)
        self.store = open_store(shards_path)
        self.shards_path = self.store.spark_url("")
        self.n_shards = n_shards
        self.seed = seed
        self.id_col = id_col
        # every N micro-batches, threshold-check shard fragmentation and
        # rewrite to one file per shard (export.compact_shards); 0 = off
        self.compact_every = compact_every
        self.max_files_per_shard = max_files_per_shard
        # near-dup stage: probe each micro-batch against the STANDING
        # MinHash signature store (operators/dedup.minhash_incremental_
        # pairs) — the corpus is never re-paired, per-batch cost only;
        # survivors' signatures append to the store.  None = off (exact
        # watermark dedup still runs upstream in curate_stream).
        self.near_dup_threshold = near_dup_threshold
        self.sig_path = sig_path or self.store.spark_url("_signatures")
        # r13: the composed serving lifecycle — curated survivors'
        # embeddings append to a STANDING IvfPqIndex inside the same
        # foreachBatch, as index epoch (streaming epoch + 1), so ONE
        # checkpoint drives shard layout AND index and a crash-replay
        # re-runs two idempotent commits: the deterministic shard
        # copy-promote and the epoch-keyed index append (a committed
        # epoch replays as a post-commit no-op; the index's own
        # re-delivery guard additionally drops ids an earlier epoch
        # committed).  The index must already be BUILT (``ann build``
        # trains the model; append never retrains).
        self.ann_index = ann_index
        self.vec_col = vec_col
        # r14: the checkpoint's registered identity on the index —
        # (stream_id, epoch_base) from IvfPqIndex.register_stream(),
        # set by start().  Streaming index epochs run ABOVE the base
        # with 'stream:<id>' provenance, so they can never silently
        # collide with manual 'ann append' epochs (a collision raises
        # EpochProvenanceConflict instead of dropping the batch).
        # Direct _write_batch calls (tests / embedding) fall back to
        # base 0 under the constant 'direct' identity.
        self._stream_binding: tuple[str, int] | None = None
        # test seam (the ann_index append _race_hook precedent): the
        # sf1 composed-lifecycle soak installs a raising callable at a
        # named commit boundary to simulate a crash mid-batch, then
        # replays the epoch and asserts both commits healed.  Empty in
        # production; _crash() is a dict probe per boundary.
        self._crash_hooks: dict = {}
        # r13: CCNet-style LM quality filtering as a streaming stage —
        # stateless BECAUSE the model is a standing artifact: lm_train
        # runs once on clean reference text (batch), the persisted
        # model frame scores every micro-batch (operators/lm.lm_score,
        # one explode + two key joins), and docs with
        # 0 <= lm_score_micro < lm_threshold drop — the batch
        # curate_corpus keep-predicate exactly (no-signal docs, score
        # -1, are kept).  Both params come together.
        if (lm_model_path is None) != (lm_threshold is None):
            raise ValueError(
                "lm_model_path and lm_threshold must be given together"
            )
        self.lm_threshold = lm_threshold
        self.lm_model = (
            spark.read.parquet(lm_model_path)
            if lm_model_path is not None else None
        )

    def _near_dup_filter(self, batch: DataFrame) -> DataFrame:
        from datalake_spark.operators.dedup import (
            minhash_incremental_pairs,
            minhash_signatures,
        )

        try:
            corpus_sig = self.spark.read.parquet(self.sig_path)
        except Exception:
            # first batch: no standing signatures yet — an empty typed
            # frame keeps the probe's plan shape identical
            corpus_sig = minhash_signatures(batch.limit(0), id_col=self.id_col)
        pairs = minhash_incremental_pairs(
            None,
            batch,
            id_col=self.id_col,
            threshold=self.near_dup_threshold,
            corpus_sig=corpus_sig,
        )
        cid = corpus_sig.select(F.col("_id").alias("_cid"))
        # drop a NEW doc when it matches anything already retained (the
        # corpus side of a pair, whichever side its id sorted to), or a
        # smaller-id doc within its own batch (keep-first, matching the
        # batch pipeline's canonical-min rule)
        drop_vs_corpus_b = pairs.join(
            cid, F.col("doc_a") == F.col("_cid")
        ).select(F.col("doc_b").alias("_drop"))
        drop_vs_corpus_a = pairs.join(
            cid, F.col("doc_b") == F.col("_cid")
        ).select(F.col("doc_a").alias("_drop"))
        in_batch = (
            pairs.join(cid, F.col("doc_a") == F.col("_cid"), "left_anti")
            .join(cid, F.col("doc_b") == F.col("_cid"), "left_anti")
            .select(F.col("doc_b").alias("_drop"))
        )
        drops = drop_vs_corpus_b.unionByName(drop_vs_corpus_a).unionByName(
            in_batch
        ).distinct()
        return persisted(batch.join(
            drops, F.col(self.id_col) == F.col("_drop"), "left_anti"
        ))

    def _crash(self, point: str) -> None:
        """Fire the installed crash hook for ``point`` (no-op when none
        is installed — the production path)."""
        fn = self._crash_hooks.get(point)
        if fn is not None:
            fn()

    @released()
    def _write_batch(self, batch: DataFrame, epoch: int) -> None:
        """foreachBatch sink.  The shard append is made idempotent per
        epoch: the batch is written (mode=overwrite, replay-safe) to a
        staging prefix keyed by epoch id, then each part object is
        promoted into its ``shard=K/`` prefix under a DETERMINISTIC
        ``epoch-<id>-<seq>`` name via store COPY + staging DELETE — the
        object-store-safe commit (no renames; a PUT/COPY is atomic per
        object).  A crash-and-replay of the same epoch re-runs the
        identical plan and re-copies the same names with the same
        contents — exactly-once shard contents, no duplicate docs, and
        the reader-visible layout stays plain ``shard=K/*.parquet``."""
        # persisted for the sink's whole lifetime: the batch plan (the
        # full rules + watermark-dedup pipeline) otherwise re-executes
        # per consumer — the isEmpty probe, the staging write, and the
        # index append each replayed it (r13 review finding); released
        # with every other cache of the batch on exit, crash or not
        batch = persisted(batch)
        if batch.isEmpty():
            # stateful upstream ops (the watermark dedup) flush state
            # through trailing EMPTY micro-batches; committing those
            # would grow the index's epoch list (and burn a manifest
            # version) for zero rows.  Skipping is replay-consistent:
            # the replayed batch is empty again.
            return
        if self.lm_threshold is not None:
            from datalake_spark.operators.lm import lm_score

            # LM quality first — the cheap stage shrinks what the
            # near-dup probe sees (the batch curate_corpus / CCNet
            # order); junk never enters the signature store or the
            # index
            low = (
                lm_score(batch, self.lm_model, id_col=self.id_col)
                .filter(
                    (F.col("lm_score_micro") >= 0)
                    & (F.col("lm_score_micro") < self.lm_threshold)
                )
                .select(F.col(self.id_col).alias("_lmid"))
            )
            batch = batch.join(
                low, F.col(self.id_col) == F.col("_lmid"), "left_anti"
            )
        if self.near_dup_threshold is not None:
            batch = self._near_dup_filter(batch)
        keyed = batch.withColumn(
            KEY_COL, shard_key(self.id_col, self.seed)
        ).withColumn(SHARD_COL, shard_of(F.col(KEY_COL), self.n_shards))
        staging_key = join_key("_staging", f"epoch-{epoch}")
        (
            keyed.repartition(self.n_shards, F.col(SHARD_COL))
            .write.mode("overwrite")
            .partitionBy(SHARD_COL)
            .parquet(self.store.spark_url(staging_key))
        )
        self._crash("staged")
        by_shard: dict[str, list[str]] = {}
        for k in self.store.list(staging_key):
            rel = k[len(staging_key) + 1:]
            if rel.endswith(".parquet") and rel.startswith(f"{SHARD_COL}="):
                by_shard.setdefault(rel.split("/", 1)[0], []).append(k)
        n_copied = 0
        for shard_seg in sorted(by_shard):
            for i, src in enumerate(sorted(by_shard[shard_seg])):
                self.store.copy(
                    src,
                    join_key(
                        shard_seg, f"epoch-{epoch:010d}-{i:05d}.parquet"
                    ),
                )
                n_copied += 1
                if n_copied == 1:
                    self._crash("mid_promote")
        self.store.delete_prefix(staging_key)
        self._crash("promoted")
        if self.ann_index is not None:
            if self.vec_col not in batch.columns:
                raise ValueError(
                    f"ann_index is set but the stream carries no "
                    f"'{self.vec_col}' column — read the landing dir "
                    "with with_embedding=True (DOC_VEC_EVENT_SCHEMA)"
                )
            # docs WITHOUT an embedding are curated but not indexed —
            # the schema is nullable, and a NULL vector reaching the
            # index would commit an unsearchable id that permanently
            # blocks its own correct re-delivery (the index ALSO
            # raises on NULLs; dropping here keeps text-only events a
            # legal input).  Since the id is never committed, a later
            # re-delivery WITH the embedding indexes normally.
            vecs = batch.filter(F.col(self.vec_col).isNotNull()).select(
                F.col(self.id_col).alias(self.ann_index.id_col),
                F.col(self.vec_col).alias(self.ann_index.vec_col),
            )
            # a batch whose every row was near-dup-dropped (or carries
            # no embedding) must not burn an empty index epoch — the
            # pre-filter isEmpty guard can't see those drops
            if not vecs.isEmpty():
                # epoch-keyed idempotent append of the CURATED
                # survivors' vectors under the checkpoint's registered
                # stream identity (base + batch + 1; build holds index
                # epoch 0); ordering vs the shard write is immaterial:
                # a crash between the two replays both, each a no-op
                sid, base = self._stream_binding or ("direct", 0)
                stride = int(self.ann_index.STREAM_EPOCH_STRIDE)
                if self._stream_binding is not None and epoch + 1 > stride:
                    from datalake_spark.operators.ann_index import (
                        EpochProvenanceConflict,
                    )

                    raise EpochProvenanceConflict(
                        f"stream {sid} exceeded its reserved epoch "
                        f"range ({stride} micro-batches) — rebuild the "
                        "index into a new lifetime with a fresh "
                        "checkpoint to continue"
                    )
                self.ann_index.append(
                    vecs, base + epoch + 1, provenance=f"stream:{sid}"
                )
            self._crash("indexed")
        if self.near_dup_threshold is not None:
            # survivors' signatures extend the standing store (the
            # cached survivor frame pays the probe once for both writes);
            # at-least-once replays re-append the same ids, which the
            # pair logic tolerates — self-pairs are excluded by the
            # strict doc_a < doc_b orientation
            from datalake_spark.operators.dedup import minhash_signatures

            minhash_signatures(batch, id_col=self.id_col).write.mode(
                "append"
            ).parquet(self.sig_path)
            self._crash("signatures")
        if self.compact_every and (epoch + 1) % self.compact_every == 0:
            from datalake_spark.export import compact_shards

            compact_shards(
                self.spark, self.shards_path, self.max_files_per_shard
            )

    def start(
        self,
        landing_dir: str,
        checkpoint_dir: str,
        available_now: bool = True,
        trigger_interval: str | None = None,
        **curate_kwargs,
    ):
        """``available_now`` drains the currently-visible documents and
        stops (tests / batch catch-up); otherwise the query runs as a
        daemon with ``trigger_interval`` pacing micro-batches — the mode
        behind the ``curate-stream`` CLI command."""
        if self.ann_index is not None:
            # bind checkpoint ↔ index lifetime BEFORE the query starts:
            # verifies landing dir + index_id for a known checkpoint,
            # allocates (stream_id, epoch_base) for a fresh one, and
            # refuses foreign epochs already inside the stream's range
            self._stream_binding = self.ann_index.register_stream(
                checkpoint_dir, landing_dir
            )
        curated = curate_stream(
            doc_stream(
                self.spark, landing_dir,
                with_embedding=self.ann_index is not None,
            ),
            **curate_kwargs,
        )
        writer = (
            curated.writeStream.foreachBatch(self._write_batch)
            .option("checkpointLocation", checkpoint_dir)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        elif trigger_interval is not None:
            writer = writer.trigger(processingTime=trigger_interval)
        return writer.start()
