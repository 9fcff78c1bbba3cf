"""Hashing functions.

- blake2b-16: the reference's content hash (client/datalake/dlfile.py:221-235,
  digest_size=16).  Spark has no blake2b built-in, so this is the one place a
  pandas UDF is mandatory; Arrow batches keep it ~vectorized.
- minhash signatures: built from xxhash64 with per-band seeds — pure Column
  expressions, JVM-side, no Python in the hot path.
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T


@F.pandas_udf(T.StringType())
def blake2b_udf(content: pd.Series) -> pd.Series:
    """blake2b 16-byte hexdigest of binary or string content."""

    def h(x) -> str | None:
        if x is None:
            return None
        if isinstance(x, str):
            x = x.encode("utf-8")
        return hashlib.blake2b(x, digest_size=16).hexdigest()

    return content.map(h)


def md5hash60(col: Column | str) -> Column:
    """Cross-engine 60-bit hash of a string: first 15 hex chars of md5 as a
    bigint.  Unlike xxhash64 this is reproducible in DuckDB
    (``CAST(CONCAT('0x', SUBSTR(md5(x), 1, 15)) AS BIGINT)``), so operators
    parameterized on it (SimHash, rolling fingerprints) become fully
    oracle-checkable end-to-end.  Still JVM-side codegen in Spark — md5 is
    a few× slower than xxhash64, which is why xxhash64 stays the default in
    the operators themselves."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def sql_md5hash60(expr: str) -> str:
    """DuckDB twin of :func:`md5hash60`."""
    return f"CAST(CONCAT('0x', SUBSTR(md5({expr}), 1, 15)) AS BIGINT)"


def minhash_signature(shingle_array: Column, num_hashes: int) -> Column:
    """MinHash signature of an array<string> of shingles as
    array<bigint>[num_hashes]: sig[i] = min over shingles of
    xxhash64(shingle, seed=i).

    Pure Column expression — evaluated in whole-stage codegen, no shuffle,
    no Python.  For 100 TB this is the per-row map stage of MinHash LSH.
    """
    def hasher(seed: int):
        # NB: a plain `lambda s, i=i:` would present two parameters to
        # pyspark's HOF binder, which then feeds the array index as the
        # second arg — the closure must be built by a factory instead.
        return lambda s: F.xxhash64(s, F.lit(seed))

    return F.array(
        *[
            F.array_min(F.transform(shingle_array, hasher(i)))
            for i in range(num_hashes)
        ]
    )
