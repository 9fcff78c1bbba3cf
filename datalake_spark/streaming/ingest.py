"""Streaming metadata ingestion.

Reference pipeline (ingester/datalake_ingester/ingester.py:88-137): SQS
long-poll → SNS envelope parse → per-event dispatch (Put/CompleteMultipart →
store, Copy → update, else UnsupportedS3Event) → DynamoDB conditional puts +
latest-table upsert (storage.py:64-137) → SNS report (reporter.py:31-34).

Spark-native restatement: a file-arrival readStream of event JSON →
validation/dispatch as Column logic → ``foreachBatch``: idempotent append to
the files catalog, latest-table merge with the reference's replace-iff
``new.start >= existing.start`` invariant (storage.py:82 — ties replace), and
a ``reports`` side-output.  Exactly-once comes from checkpointing + dedup on
``id`` instead of SQS delete-on-success (queue.py:77-78).

At scale the same foreachBatch body runs unchanged against a Kafka/queue
source; only ``readStream.format`` changes.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datalake_spark.catalog import Catalog, with_bucket_date
from datalake_spark.schema import INGEST_EVENT_SCHEMA, REPORT_SCHEMA
from datalake_spark.session import local_frame, persisted, released

SUPPORTED_EVENTS = {
    "ObjectCreated:Put": "store",
    "ObjectCreated:Copy": "update",
    "ObjectCreated:CompleteMultipartUpload": "store",
}
_EVENT_KEYS = list(SUPPORTED_EVENTS)


def classify_events(events: DataFrame) -> DataFrame:
    """Validation + dispatch as Column logic (ingester.py:101-114,
    s3_notification.py:33-61): 2.x eventVersion only, s3:TestEvent skipped,
    unsupported names routed to the error side-output, not raised."""
    return events.withColumn(
        "disposition",
        F.when(F.col("event_name") == "s3:TestEvent", F.lit("skip"))
        .when(~F.col("event_version").startswith("2."), F.lit("error_version"))
        .when(
            F.col("event_name").isin(_EVENT_KEYS),
            F.lit("ok"),
        )
        .otherwise(F.lit("error_unsupported")),
    )


def _merge_latest(spark: SparkSession, catalog: Catalog, batch_files: DataFrame) -> None:
    """Latest-table upsert without Delta MERGE (parquet emulation): union the
    existing latest rows with the batch, keep max_by (start, create_time) per
    (what, where) — reproducing the conditional-put 'replace iff new.start >=
    existing.start, ties replace' (storage.py:82, tests/test_storage.py:154+).
    The table is tiny (one row per what×where); the new version is committed
    via the catalog's manifest protocol (write-new-directory + atomic
    manifest flip — no in-place overwrite, no _tmp double-write, safe on
    object storage).  Delegates to Catalog.refresh_latest(new_rows=...),
    the shared incremental MERGE for both batch and streaming writers."""
    catalog.refresh_latest(new_rows=batch_files)


class StreamingIngester:
    """readStream(landing_dir JSON events) → files catalog + latest + reports."""

    def __init__(self, spark: SparkSession, catalog: Catalog, reports_path: str | None = None):
        import uuid

        self.spark = spark
        self.catalog = catalog
        self.reports_path = reports_path or os.path.join(catalog.root, "reports")
        # unique per ingester so job groups are attributable in the UI (and
        # countable in tests) even when several pipelines share a session
        self.job_group = f"ingest-{uuid.uuid4().hex[:8]}"

    @released()
    def _handle_batch(self, batch: DataFrame, epoch_id: int) -> None:
        """One data pass per micro-batch: both metrics (ok-record and error
        counts) ride the plan as ``observe`` aggregates and are fired by a
        single noop-format action that also populates the ``files`` cache —
        no count() jobs.  The append and latest-merge then reuse the cached
        deduped batch."""
        from pyspark.sql import Observation

        t0 = time.time()
        spark = self.spark
        spark.sparkContext.setJobGroup(
            f"{self.job_group}-epoch-{epoch_id}", "streaming ingest micro-batch",
        )
        obs_cls = Observation(f"ingest_cls_{epoch_id}")
        obs_files = Observation(f"ingest_files_{epoch_id}")
        # the error metric observes ALL classified rows (upstream of the ok
        # filter), the record metric observes the deduped files rows — both
        # sit in one plan, so one action computes both
        classified = classify_events(batch).observe(
            obs_cls,
            F.sum(
                F.when(F.col("disposition").startswith("error"), 1).otherwise(0)
            ).alias("n_err"),
        )
        ok = classified.filter(F.col("disposition") == "ok")
        # idempotency: at-least-once delivery duplicates collapse on id
        # within the batch; cross-batch dups collapse at query time
        # (QueryEngine.dropDuplicates), mirroring the reference's
        # tolerated duplicate puts (storage.py:64-73).
        w = Window.partitionBy("file_id").orderBy(F.col("event_time").desc())
        files = persisted(
            ok.filter(F.col("metadata").isNotNull())
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(
                F.col("metadata.version").alias("version"),
                F.col("metadata.start").alias("start"),
                F.col("metadata.end").alias("end"),
                F.col("metadata.what").alias("what"),
                F.col("metadata.where").alias("where"),
                F.col("metadata.id").alias("id"),
                F.col("metadata.hash").alias("hash"),
                F.col("metadata.path").alias("path"),
                F.col("metadata.work_id").alias("work_id"),
                F.concat(
                    F.lit("s3://"), F.col("bucket_name"), F.lit("/"), F.col("key_name")
                ).alias("url"),
                F.col("event_time").alias("create_time"),
                F.coalesce(F.col("size"), F.lit(0)).alias("size"),
            )
            .observe(obs_files, F.count(F.lit(1)).alias("n_ok"))
        )
        try:
            files.write.format("noop").mode("overwrite").save()
            n_ok = int(obs_files.get["n_ok"])
            n_err = int(obs_cls.get["n_err"] or 0)
            if n_ok:
                # Catalog.append also keeps the work-id secondary index
                # fresh at batch cost (no-op until someone builds it)
                self.catalog.append(files)
                _merge_latest(spark, self.catalog, files)
            # report side-output (ingester.py:27-65 shape, flattened)
            report = local_frame(
                spark,
                [
                    {
                        "version": 0,
                        "status": "error" if n_err else "success",
                        "start": int(t0 * 1000),
                        "duration": time.time() - t0,
                        "n_records": n_ok,
                        "n_errors": n_err,
                        "epoch_id": epoch_id,
                    }
                ],
                REPORT_SCHEMA,
            )
            report.write.mode("append").parquet(self.reports_path)
        finally:
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    def start(
        self,
        landing_dir: str,
        checkpoint_dir: str,
        available_now: bool = True,
        trigger_interval: str | None = None,
    ):
        stream = (
            self.spark.readStream.schema(INGEST_EVENT_SCHEMA)
            .json(landing_dir)
        )
        return self.start_stream(
            stream, checkpoint_dir, available_now, trigger_interval
        )

    def start_stream(
        self,
        events: DataFrame,
        checkpoint_dir: str,
        available_now: bool = True,
        trigger_interval: str | None = None,
    ):
        """Run the pipeline over ANY streaming DataFrame in
        INGEST_EVENT_SCHEMA shape — the transport (landing dir, rate
        source, Kafka) is chosen by streaming/sources.py:event_stream;
        the batch body is identical.  ``available_now`` drains the
        currently-visible events and stops (batch catch-up / tests);
        otherwise the query runs continuously, with ``trigger_interval``
        (e.g. "10 seconds") pacing the micro-batches — the daemon mode
        behind the ``listen`` CLI command."""
        writer = (
            events.writeStream.foreachBatch(self._handle_batch)
            .option("checkpointLocation", checkpoint_dir)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        elif trigger_interval is not None:
            writer = writer.trigger(processingTime=trigger_interval)
        return writer.start()

    def reports(self) -> DataFrame | None:
        try:
            return self.spark.read.parquet(self.reports_path)
        except Exception:
            return None
