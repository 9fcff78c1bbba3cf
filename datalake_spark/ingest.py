"""Batch ingestion — the reference's push path (O12/O15/O16) re-expressed.

Reference flow (client/datalake/archive.py:186-257 + dlfile.py:159-235):
open file → infer metadata (blake2b hash, env-default where, ~translations)
→ validate → upload to s3://bucket/{id}/data.  Here: rows are validated with
the same Metadata semantics, content hashing is the blake2b pandas UDF, and
the sink is the partitioned catalog table (append) — content bytes stay on
object storage, only metadata enters the engine (the reference's own
"datalake does not inspect the content" stance).
"""

from __future__ import annotations

import os
from typing import Any, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datalake_spark.catalog import Catalog
from datalake_spark.functions.hashing import blake2b_udf
from datalake_spark.metadata import Metadata
from datalake_spark.schema import FILES_SCHEMA
from datalake_spark.session import local_frame
from datalake_spark.translator import Translator


def prepare_metadata(
    records: Iterable[dict[str, Any]],
    translations: dict[str, str] | None = None,
    default_where: str | None = None,
) -> list[dict[str, Any]]:
    """Validate + normalize a batch of metadata dicts driver-side (the
    reference's File._infer_metadata_fields, dlfile.py:197-219): apply
    ``field -> "<regex>~<fmt>"`` translations against path, default
    ``where`` from the environment, normalize dates, enforce the schema."""
    trans = {k: Translator(v) for k, v in (translations or {}).items()}
    out = []
    for rec in records:
        r = dict(rec)
        for field, t in trans.items():
            if r.get(field) is None and r.get("path"):
                r[field] = t.translate(r["path"])
        if r.get("where") is None:
            r["where"] = default_where or os.environ.get("DATALAKE_DEFAULT_WHERE")
        r.setdefault("work_id", None)
        out.append(dict(Metadata(**r)))
    return out


def push_metadata(
    spark: SparkSession,
    catalog: Catalog,
    records: list[dict[str, Any]],
    bucket: str = "datalake",
    urls: dict[str, str] | None = None,
) -> DataFrame:
    """Append validated metadata rows to the catalog.  ``urls`` carries the
    real content-store urls for ids whose bytes were uploaded through
    :class:`datalake_spark.archive.Archive` (the content half of push);
    other rows get the reference's s3 url shape.  Returns the appended
    frame."""
    import time

    now_ms = int(time.time() * 1000)
    rows = [
        {
            **r,
            "url": (urls or {}).get(r["id"], f"s3://{bucket}/{r['id']}/data"),
            "create_time": r.get("create_time") or now_ms,
            "size": r.get("size", 0),
        }
        for r in records
    ]
    df = local_frame(spark, rows, FILES_SCHEMA)
    catalog.append(df)
    return df


def _infer_push_fields(filename: str, **metadata_fields: Any) -> dict:
    """The push-path field inference shared by the eager and streaming
    variants (reference File._infer_metadata_fields, dlfile.py:197-219):
    abspath ``path``, env-default ``where``, inline ``<regex>~<fmt>``
    translations on where/what/work_id."""
    fields = dict(metadata_fields)
    fields.setdefault("path", os.path.abspath(filename))
    if fields.get("where") is None:
        fields["where"] = os.environ.get("DATALAKE_DEFAULT_WHERE")
    for f in ("where", "what", "work_id"):
        v = fields.get(f)
        if isinstance(v, str) and "~" in v:
            fields[f] = Translator(v).translate(fields["path"])
    fields.setdefault("work_id", None)
    return fields


def infer_file_metadata(filename: str, compress: bool = False,
                        **metadata_fields: Any):
    """Local file → (validated Metadata, content bytes), with the push-path
    inference applied (reference File.from_filename/_compressed +
    _infer_metadata_fields, dlfile.py:159-219): abspath ``path``, optional
    gzip-on-ingest, env-default ``where``, inline ``<regex>~<fmt>``
    translations on where/what/work_id, blake2b-16 content hash.

    Materializes the content — fine for small files; :func:`push_file`
    streams instead and never holds the blob."""
    import hashlib

    from datalake_spark.archive import _gzip_bytes
    from datalake_spark.metadata import Metadata

    filename = os.path.abspath(filename)
    with open(filename, "rb") as fh:
        content = fh.read()
    if compress and not content.startswith(b"\x1f\x8b"):
        content = _gzip_bytes(content)
    fields = _infer_push_fields(filename, **metadata_fields)
    if "hash" not in fields:
        fields["hash"] = hashlib.blake2b(content, digest_size=16).hexdigest()
    return Metadata(**fields), content


def push_file(
    spark: SparkSession,
    catalog: Catalog,
    archive,
    filename: str,
    compress: bool = False,
    **metadata_fields: Any,
) -> str:
    """One-call push: filename → inferred+validated metadata → content into
    the archive → metadata row into the catalog; returns the stored url
    (the reference's Archive.prepare_metadata_and_push, archive.py:186-257,
    split across the engine's content/metadata halves).

    STREAMS the content (Archive.store_stream): blake2b in 64 KiB blocks
    while the bytes flow into the store's streaming writer (multipart on
    S3) — the blob is never materialized driver-side, so a push is
    bounded by one store part (DATALAKE_CHUNK_SIZE_MB), not file size.
    Validation still happens BEFORE any store IO: the metadata is
    constructed with a placeholder hash so bad slugs/dates fail first,
    then the real stored-bytes hash replaces it during the stream —
    byte- and hash-identical to the eager :func:`infer_file_metadata`
    path (gzip mtime=0 both sides)."""
    from datalake_spark.metadata import Metadata

    fields = _infer_push_fields(filename, **metadata_fields)
    user_hash = fields.get("hash")
    meta = Metadata(**{**fields, "hash": user_hash or "0" * 32})
    if not user_hash:
        meta["hash"] = None  # store_stream fills from the stored bytes
    with open(filename, "rb") as fh:
        url = archive.store_stream(meta, fh, compress=compress)
    push_metadata(spark, catalog, [dict(meta)],
                  urls={meta["id"]: url})
    return url


def hash_content(df: DataFrame, content_col: str = "content") -> DataFrame:
    """Attach the reference's blake2b-16 content hash (dlfile.py:221-235) to
    a frame of binary content (e.g. from the binaryFile source) — the bulk
    variant of push-time hash inference."""
    return df.withColumn("hash", blake2b_udf(F.col(content_col)))

