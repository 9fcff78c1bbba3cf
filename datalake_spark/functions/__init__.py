"""Scalar/vector function library: hashing, text analysis, vectors.

Everything here prefers JVM-side built-ins; Python appears only as
Arrow-batched pandas UDFs where Spark has no equivalent (blake2b, named-group
formatting, simhash bit-fold).
"""

from datalake_spark.functions.datetime_fns import (
    bucket_span_col,
    iso8601_col,
    normalize_epoch_col,
    time_bucket_col,
)
from datalake_spark.functions.hashing import blake2b_udf, minhash_signature
from datalake_spark.functions.text import (
    tokenize,
    token_count,
    stopword_ratio,
    quality_score,
    lang_id,
    doc_fingerprint,
)

__all__ = [
    "bucket_span_col",
    "iso8601_col",
    "normalize_epoch_col",
    "time_bucket_col",
    "blake2b_udf",
    "minhash_signature",
    "tokenize",
    "token_count",
    "stopword_ratio",
    "quality_score",
    "lang_id",
    "doc_fingerprint",
]
