"""Digest batteries: the declared column/kind map must match the Spark
schema exactly, and the digest must actually detect value changes."""

import pytest
from pyspark.sql import functions as F

from datalake_spark.queries.batteries import (
    BATTERY_SUBS,
    digest_df,
    queries as battery_queries,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def batteries():
    return {q.name: q for q in battery_queries()}


def test_declared_cols_match_spark_schema(spark, batteries, built_surface):
    """Each Sub's {column: kind} must list exactly the sub-query's output
    columns, with kind 'd'/'d4' iff the column is floating (doubles need
    the decimal canon) and 'v' otherwise.  The frames come from the
    session's one build of the surface; the DYNAMIC subs it skips are
    built here."""
    for bname, subs in BATTERY_SUBS.items():
        for sub in subs:
            built = built_surface.get(sub.q.name)
            df = built.df if built else sub.q.build(spark, SF)
            schema = {f.name: f.dataType.simpleString() for f in df.schema.fields}
            assert set(schema) == set(sub.cols), (bname, sub.q.name)
            for col, kind in sub.cols.items():
                is_float = schema[col] in ("double", "float")
                assert (kind in ("d", "d4")) == is_float, (
                    bname, sub.q.name, col, schema[col], kind,
                )


def test_digest_is_value_sensitive(spark):
    """Changing one value in one row must change the digest; permuting rows
    must not (order-insensitive multiset hash)."""
    base = spark.range(100).select(
        F.col("id"), (F.col("id") % 7).alias("grp")
    )
    cols = {"id": "v", "grp": "v"}
    d0 = digest_df(base, "x", cols).collect()[0]
    permuted = base.orderBy(F.rand(seed=7))
    d1 = digest_df(permuted, "x", cols).collect()[0]
    assert d0.digest == d1.digest and d0.n_rows == d1.n_rows == 100
    tweaked = base.withColumn(
        "grp", F.when(F.col("id") == 42, F.lit(99)).otherwise(F.col("grp"))
    )
    d2 = digest_df(tweaked, "x", cols).collect()[0]
    assert d2.digest != d0.digest


def test_digest_distinguishes_duplicate_multiplicity(spark):
    """SUM (not XOR/bit-agg) of row hashes: a row appearing twice vs once
    must produce different digests."""
    one = spark.range(10)
    two = one.union(spark.range(9, 10))  # row 9 duplicated
    d1 = digest_df(one, "x", {"id": "v"}).collect()[0]
    d2 = digest_df(two, "x", {"id": "v"}).collect()[0]
    assert d1.digest != d2.digest


def test_null_canon_distinct_from_literal(spark):
    """NULL must not collide with the string 'None' or empty string."""
    a = spark.createDataFrame([(1, None)], "id int, v string")
    b = spark.createDataFrame([(1, "None")], "id int, v string")
    c = spark.createDataFrame([(1, "")], "id int, v string")
    cols = {"id": "v", "v": "v"}
    ds = {digest_df(df, "x", cols).collect()[0].digest for df in (a, b, c)}
    assert len(ds) == 3


def test_double_canon_cross_engine_stress(spark):
    """The 'd' canon (FLOOR(x*1e6 + 0.5) as bigint -> string) must hash
    identically in Spark and DuckDB for adversarial doubles: signed zeros,
    subnormals-adjacent magnitudes, values straddling the 6th-decimal
    rounding boundary (these BROKE the previous decimal-ROUND canon —
    DuckDB rounds via float multiply, Spark via the exact expansion), and
    the full contracted magnitude range."""
    import duckdb
    import numpy as np

    from datalake_spark.queries.batteries import digest_df, digest_sql

    rng = np.random.default_rng(0xC0FFEE)
    vals = np.concatenate(
        [
            np.array([0.0, -0.0, 1e-7, -1e-7, 0.0000005, -0.0000005,
                      0.1234565, 0.12345649999, 99999999.999999,
                      -99999999.999999, 1.5e-6, 2.5e-6, 3.5e-6]),
            rng.uniform(-1e8, 1e8, 3000),
            rng.uniform(-1, 1, 3000),
            rng.uniform(-1e-5, 1e-5, 2000),
            np.round(rng.uniform(-1e6, 1e6, 2000), 2),  # money-like
        ]
    )
    import pandas as pd

    pdf = pd.DataFrame({"i": np.arange(len(vals)), "x": vals})
    sdf = spark.createDataFrame(pdf)
    got = digest_df(sdf, "t", {"i": "v", "x": "d"}).collect()[0]

    con = duckdb.connect()
    con.register("tbl", pdf)
    sql = digest_sql("t", "SELECT i, x FROM tbl", {"i": "v", "x": "d"})
    want = con.execute(sql).fetchone()
    assert (got.n_rows, str(got.digest)) == (want[1], str(want[2]))
