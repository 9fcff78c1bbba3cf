"""spark.sql() parity surface (SURVEY.md §7.1 ``sql.py``): registers the
engine's tables as views and its Python-side functions as SQL-callable
UDFs/UDTFs, so every capability is reachable from plain SQL text.

Column-expression helpers (tokenize, quality_score, cosine_micro_exact …)
need no registration — they compile to the same Catalyst expressions SQL
already has (split, aggregate, transform, …); what SQL cannot reach without
registration is the Python-backed surface: blake2b (no Spark built-in), the
named-group translator DSL, and the chunking UDTF.
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import SparkSession

from datalake_spark.catalog import Catalog
from datalake_spark.functions.hashing import blake2b_udf
from datalake_spark.operators.chunking import TokenChunker


@lru_cache(maxsize=256)
def _translator(expr: str):
    from datalake_spark.translator import Translator

    return Translator(expr)


def register_functions(spark: SparkSession) -> None:
    """SQL-callable function surface:

    - ``blake2b16(content)``     — the reference's content hash (O15)
    - ``dl_translate(path, expr)`` — the <regex>~<format> DSL (O16),
      full named-group semantics (driver-parsed, cached per expression)
    - ``token_chunker(text, size, overlap)`` — lateral UDTF (chunking)
    """
    spark.udf.register("blake2b16", blake2b_udf)

    def translate(path: str, expr: str) -> str | None:
        if path is None or expr is None:
            return None
        return _translator(expr).translate(path)

    spark.udf.register("dl_translate", translate, "string")
    spark.udtf.register("token_chunker", TokenChunker)


def register_catalog(spark: SparkSession, catalog: Catalog) -> None:
    """The files catalog as SQL views: ``files``, ``latest``,
    ``file_buckets`` (the reference's DatalakeRecord shape)."""
    catalog.files().createOrReplaceTempView("files")
    latest = catalog.latest_table()
    if latest is not None:
        latest.createOrReplaceTempView("latest")
    catalog.file_buckets().createOrReplaceTempView("file_buckets")
