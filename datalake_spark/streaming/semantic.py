"""Streaming SemDeDup: embedding batches arriving as a stream probe the
STANDING semantic cluster index (operators/dedup.semantic_index_build) and
survivors extend it — the embedding-tier twin of the streaming MinHash
near-dup stage (streaming/curation.StreamingCurator._near_dup_filter).

Per micro-batch cost is the semantic_incremental_pairs contract: assign
the batch against fixed centroids, prune the corpus side to the clusters
the batch touched, pair cluster-locally.  The corpus is never re-exploded,
re-assigned, or re-paired; history only grows the parquet index, which a
cluster-partitioned layout prunes at probe time.

Replay safety (the at-least-once foreachBatch contract): every write this
sink performs is keyed by epoch id and mode=overwrite — survivors land in
``vecs/epoch=N/``, index growth in ``_semindex/elements/epoch=N/`` and
``_semindex/norms/epoch=N/`` — so a crash-and-replay of an epoch re-runs
the identical deterministic plan (exact-integer assignment, exact BIGINT
micro dot sums) and overwrites the same objects with the same contents.
Centroids are trained once, on the first batch, and never move
afterwards — the standing-index property that makes the probe
incremental at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datalake_spark.session import persisted, released

VEC_EVENT_SCHEMA = "vec_id long, embedding array<double>, ms long"


def vec_stream(spark: SparkSession, landing_dir: str) -> DataFrame:
    """JSON embedding events from a landing directory."""
    return spark.readStream.schema(VEC_EVENT_SCHEMA).json(landing_dir)


class SemanticStreamDeduper:
    """readStream(embeddings) → standing-index semantic probe → survivors.

    ``out_path`` gets ``vecs/epoch=N/`` survivor parquet and the
    ``_semindex/`` standing index (centroids / elements / norms)."""

    def __init__(
        self,
        spark: SparkSession,
        out_path: str,
        k: int = 4,
        iters: int = 2,
        threshold: float = 0.97,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ):
        self.spark = spark
        self.out_path = out_path.rstrip("/")
        self.k = k
        self.iters = iters
        self.threshold = threshold
        self.id_col = id_col
        self.vec_col = vec_col
        self.index_path = f"{self.out_path}/_semindex"

    # -- standing index ------------------------------------------------

    def _load_index(self):
        from pyspark.errors import AnalysisException

        try:
            cents = self.spark.read.parquet(f"{self.index_path}/centroids")
        except AnalysisException as e:
            # ONLY a missing path means "first batch".  Any other read
            # failure (throttle, corrupt footer, transient storage error)
            # must propagate: swallowing it would retrain centroids on
            # the current batch and overwrite the standing ones, leaving
            # every prior epoch's elements assigned under DIFFERENT
            # centroids — permanent silent under-deduplication.
            if "PATH_NOT_FOUND" in str(e) or "Path does not exist" in str(e):
                return None
            raise
        # centroids are written LAST in _process_batch, so their presence
        # implies the epoch's elements/norms writes completed — these
        # reads are intentionally unguarded
        el_raw = self.spark.read.parquet(f"{self.index_path}/elements")
        # layout detection: the cluster-partitioned layout (r10+) stores
        # ``cluster`` as a PARTITION DIRECTORY (``cluster=K/``), the
        # legacy layout as a data column.  New epochs must match the
        # existing layout — mixing directory depths under one root breaks
        # Spark's partition discovery for the whole standing index.
        # Detected STRUCTURALLY from the scanned file paths (r11, advisor
        # finding: the old positional ``columns[1] != "cluster"`` check
        # silently flipped if element-frame column order or Spark's
        # partition-column placement ever changed — and a flipped verdict
        # writes epochs at the wrong directory depth, the exact failure
        # this detection exists to prevent).
        self._partitioned_layout = any(
            "/cluster=" in f for f in el_raw.inputFiles()
        )
        if "cluster" not in el_raw.columns:  # pragma: no cover - corrupt
            raise ValueError(
                f"standing index at {self.index_path}/elements has no "
                f"'cluster' column/partition: {el_raw.columns}"
            )
        el = el_raw.select("_vid", "cluster", "_pos", "_val")
        # norms is returned RAW (epoch partition column included): one
        # read serves both the probe's corpus norms and the prior-epoch
        # id set in _process_batch — no second scan of a monotonically
        # growing tree per batch
        norms_raw = self.spark.read.parquet(f"{self.index_path}/norms")
        return cents, el, norms_raw

    @released()
    def _append_index(
        self,
        survivors: DataFrame,
        rows: DataFrame,
        epoch: int,
        prior_vids: DataFrame | None = None,
    ) -> None:
        """Append the SURVIVORS' slice of the probe's already-assigned
        (persisted) batch rows — the batch's centroid assignment is paid
        exactly once, inside the probe.

        ``prior_vids`` (ids already in the standing index under EARLIER
        epochs) guards cross-epoch at-least-once re-delivery: a vec_id
        that survived epoch M and is re-delivered in epoch N>M is
        anti-joined out of the probe's corpus side (so it "survives"
        again), but appending it here a second time would put duplicate
        ``_vid`` rows in the standing index — doubling dot sums and
        duplicating norm-join rows in every future probe of its cluster.
        The filter is epoch-scoped (built from ``epoch != N`` rows by the
        caller), so a same-epoch crash replay still rewrites epoch N with
        its original contents.  The duplicate survivor row in
        ``vecs/epoch=N`` remains — downstream readers dedup by id, and
        the index (the thing every future probe consults) stays unique.

        Both element and norm epoch dirs are written
        ``partitionBy("cluster")`` so the standing index gets the
        file-level pruning the probe's touched-cluster semi-join is
        designed around (semantic_index_build's contract)."""
        from datalake_spark.operators.dedup import _index_parts

        sid = survivors.select(F.col(self.id_col).alias("_sid"))
        rows_s = rows.join(sid, F.col("_vid") == F.col("_sid"), "left_semi")
        if prior_vids is not None:
            rows_s = rows_s.join(prior_vids, "_vid", "left_anti")
        elements, norms = _index_parts(persisted(rows_s))
        # match the standing index's layout (set by _load_index; a fresh
        # index takes the partitioned one): appending cluster-partitioned
        # epochs under a legacy unpartitioned root would leave files at
        # conflicting directory depths and kill every future read
        def _w(df):
            w = df.write.mode("overwrite")
            return w.partitionBy("cluster") if getattr(
                self, "_partitioned_layout", True
            ) else w
        _w(elements).parquet(f"{self.index_path}/elements/epoch={epoch}")
        _w(norms).parquet(f"{self.index_path}/norms/epoch={epoch}")

    # -- foreachBatch sink ----------------------------------------------

    @released()
    def _process_batch(self, batch: DataFrame, epoch: int) -> None:
        from datalake_spark.operators.dedup import (
            semantic_incremental_pairs,
        )
        from datalake_spark.operators.similarity import kmeans_centroids

        batch = persisted(batch)
        bidx: list = []
        index = self._load_index()
        if index is None:
            # first batch: train the standing centroids ON the batch
            # (deterministic k-means — a replay retrains identically)
            # and probe new x new only
            cents = persisted(kmeans_centroids(
                batch, k=self.k, iters=self.iters,
                id_col=self.id_col, vec_col=self.vec_col,
            ))
            pairs = semantic_incremental_pairs(
                None, batch, threshold=self.threshold,
                id_col=self.id_col, vec_col=self.vec_col,
                centroids=cents, batch_index_out=bidx,
            )
            corpus_ids = None
            prior_vids = None
        else:
            cents, el_old, norms_raw = index
            norms_old = norms_raw.select("_vid", "cluster", "_norm_sq")
            # replay hygiene: if this epoch's index append already
            # happened before a crash, the batch's own ids are in the
            # corpus side — a doc twice in the element union doubles
            # other pairs' dot sums (spurious drops).  Excluding the
            # batch's ids makes the probe see the corpus as-if this
            # epoch never ran, so a replay recomputes the original
            # answer.  (This handles SAME-epoch replays only; a vec_id
            # re-delivered in a LATER epoch is kept out of the standing
            # index by _append_index's prior_vids anti-join.)
            bid = batch.select(F.col(self.id_col).alias("_bid"))
            el_old = el_old.join(
                bid, F.col("_vid") == F.col("_bid"), "left_anti"
            )
            norms_old = norms_old.join(
                bid, F.col("_vid") == F.col("_bid"), "left_anti"
            )
            pairs = semantic_incremental_pairs(
                None, batch, threshold=self.threshold,
                id_col=self.id_col, vec_col=self.vec_col,
                index=(cents, el_old, norms_old), batch_index_out=bidx,
            )
            corpus_ids = norms_old.select(F.col("_vid").alias("_cid"))
            # ids already indexed under EARLIER epochs (epoch is the
            # partition column of the norms layout — one row per doc,
            # derived from the SAME norms read as the probe's corpus
            # side, no second scan).  Excluding the CURRENT epoch keeps
            # same-epoch crash replays byte-identical; see
            # _append_index's docstring.
            prior_vids = (
                norms_raw.filter(F.col("epoch") != F.lit(epoch))
                .select("_vid")
            )

        # pairs feeds up to four subtrees (both corpus drop joins, the
        # in-batch residue, and through drops the survivors anti-join) —
        # persist per the repo's shared-frame discipline or each subtree
        # re-runs the whole probe plan
        pairs = persisted(pairs)
        # drop rule (the MinHash streaming stage's): a NEW doc dies when
        # it pairs with anything already retained (either side), or with
        # a smaller-id doc inside its own batch (keep-first)
        if corpus_ids is not None:
            drop_b = pairs.join(
                corpus_ids, F.col("doc_a") == F.col("_cid")
            ).select(F.col("doc_b").alias("_drop"))
            drop_a = pairs.join(
                corpus_ids, F.col("doc_b") == F.col("_cid")
            ).select(F.col("doc_a").alias("_drop"))
            in_batch = (
                pairs.join(corpus_ids, F.col("doc_a") == F.col("_cid"),
                           "left_anti")
                .join(corpus_ids, F.col("doc_b") == F.col("_cid"),
                      "left_anti")
                .select(F.col("doc_b").alias("_drop"))
            )
            drops = drop_b.unionByName(drop_a).unionByName(in_batch)
        else:
            drops = pairs.select(F.col("doc_b").alias("_drop"))
        survivors = persisted(batch.join(
            drops.distinct(), F.col(self.id_col) == F.col("_drop"),
            "left_anti",
        ))

        survivors.write.mode("overwrite").parquet(
            f"{self.out_path}/vecs/epoch={epoch}"
        )
        self._append_index(survivors, bidx[0], epoch, prior_vids=prior_vids)
        if index is None:
            # centroids LAST: their presence is the index's commit marker
            # (_load_index treats a missing-centroids index as "first
            # batch" and a crash anywhere earlier replays into exactly
            # that state)
            cents.write.mode("overwrite").parquet(
                f"{self.index_path}/centroids"
            )

    def start(
        self,
        landing_dir: str,
        checkpoint_dir: str,
        available_now: bool = True,
        trigger_interval: str | None = None,
    ):
        writer = (
            vec_stream(self.spark, landing_dir)
            .writeStream.foreachBatch(self._process_batch)
            .option("checkpointLocation", checkpoint_dir)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        elif trigger_interval is not None:
            writer = writer.trigger(processingTime=trigger_interval)
        return writer.start()
