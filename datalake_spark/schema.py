"""Spark StructTypes for the engine's tables.

Derived from the reference's data model (see SURVEY.md §1):
- Metadata: client/datalake/common/metadata.py:52 (fields :108-109)
- DatalakeRecord: client/datalake/common/record.py:53-65
- latest row: ingester/datalake_ingester/storage.py:103-120
- ingester report: ingester/datalake_ingester/ingester.py:27-65
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# The user-facing metadata record — one row per archived file.  This is the
# engine's primary "files" table schema: the flattened Metadata plus the
# record-level fields captured at ingest (url, create_time, size).
# ---------------------------------------------------------------------------
METADATA_FIELDS = [
    T.StructField("version", T.IntegerType(), nullable=False),
    T.StructField("start", T.LongType(), nullable=False),  # epoch ms
    T.StructField("end", T.LongType(), nullable=True),  # epoch ms; NULL = instant
    T.StructField("what", T.StringType(), nullable=False),
    T.StructField("where", T.StringType(), nullable=False),
    T.StructField("id", T.StringType(), nullable=False),
    T.StructField("hash", T.StringType(), nullable=False),
    T.StructField("path", T.StringType(), nullable=False),
    T.StructField("work_id", T.StringType(), nullable=True),
]

METADATA_SCHEMA = T.StructType(METADATA_FIELDS)

FILES_SCHEMA = T.StructType(
    METADATA_FIELDS
    + [
        T.StructField("url", T.StringType(), nullable=False),
        T.StructField("create_time", T.LongType(), nullable=False),  # epoch ms
        T.StructField("size", T.LongType(), nullable=False),
    ]
)

# Materialized top-1 per (what, where) — reference's "latest table"
# (ingester/datalake_ingester/storage.py:103-120).  We keep it flat (same
# schema as files plus the composite key) rather than nesting metadata.
LATEST_SCHEMA = T.StructType(
    [T.StructField("what_where_key", T.StringType(), nullable=False)] + FILES_SCHEMA.fields
)

# Streaming ingest event, mirroring the flattened S3 notification
# (ingester/datalake_ingester/s3_notification.py:22-83, FIXTURES.md §3).
INGEST_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_name", T.StringType(), nullable=False),
        T.StructField("event_version", T.StringType(), nullable=False),
        T.StructField("bucket_name", T.StringType(), nullable=False),
        T.StructField("key_name", T.StringType(), nullable=False),
        T.StructField("event_time", T.LongType(), nullable=False),
        T.StructField("file_id", T.StringType(), nullable=False),
        T.StructField("metadata", METADATA_SCHEMA, nullable=True),
        T.StructField("size", T.LongType(), nullable=True),
    ]
)

# Ingester report side-output (ingester/datalake_ingester/ingester.py:27-65),
# flattened to one row of counts per streaming-ingest micro-batch.  The
# fields are nullable and in alphabetical order, as Spark infers them from
# the report dict, so a reports table written from that inference reads as
# one schema with the rows appended under this one.
REPORT_SCHEMA = T.StructType(
    [
        T.StructField("duration", T.DoubleType()),
        T.StructField("epoch_id", T.LongType()),
        T.StructField("n_errors", T.LongType()),
        T.StructField("n_records", T.LongType()),
        T.StructField("start", T.LongType()),
        T.StructField("status", T.StringType()),
        T.StructField("version", T.LongType()),
    ]
)
