"""SparkSession factory tuned for the engine.

Local mode is a correctness/test harness; every config here is chosen so the
same code scales to a multi-executor cluster: AQE for runtime re-planning
(partition coalescing, skew-join splitting), shuffle partitions sized to the
parallelism at hand, Arrow for any pandas exchange, UTC session timezone so
results are oracle-comparable (DuckDB timestamps are UTC-naive).
"""

from __future__ import annotations

import contextvars
import os
from collections.abc import Iterator, Sequence
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# At 100 TB the shuffle-partition count should target ~128-256 MB per
# partition post-shuffle; AQE coalesces down from a high initial number, so on
# a real cluster we set a large initialPartitionNum and let AQE shrink it.
# Locally we match core count.
_LOCAL_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """Half the host's physical memory, capped at 16g (the gate SFs' size);
    16g where ``meminfo`` cannot be read.  In local mode the driver heap
    is the whole executor memory too, so a heap larger than the host lets
    the JVM grow until the kernel kills it instead of spilling."""
    try:
        with open(meminfo) as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    kib = int(line.split()[1])
                    return f"{min(kib // 2 // 1024, 16 * 1024)}m"
    except (OSError, ValueError, IndexError):
        pass
    return "16g"


def get_spark(app_name: str = "datalake_spark", master: str | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(_LOCAL_SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
    )
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        # local mode is one JVM: the "driver" heap is the whole
        # executor memory too.  sf10 one-offs (60 M-row windows under
        # the 180-plan fuzz battery) need more than the default —
        # env-tunable so the scale harness can raise it without
        # changing the driver's defaults.
        builder = builder.master(f"local[{cpus}]").config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory(),
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(
    spark: SparkSession, rows: Sequence, schema: T.StructType
) -> DataFrame:
    """``rows`` held on the driver as a DataFrame of ``schema``.  A row
    is a tuple (a ``Row`` too) in the schema's field order, or a dict
    keyed by field name whose missing keys read as NULL.

    The frame is built from a pyarrow Table, so one under
    ``spark.sql.execution.arrow.localRelationThreshold`` is a
    ``LocalRelation``: a ``collect()`` reads it on the driver with no
    Spark job.  ``createDataFrame`` over a Python list builds a
    ``LogicalRDD`` instead, and each of its actions runs a Python-worker
    job.  A NULL in a non-nullable field raises ``ValueError``, as
    ``createDataFrame``'s schema check does.

    The rows travel inside the plan, so this is for frames bounded by a
    parameter or by one request.  The local paths of
    ``dedup.connected_components`` (up to ``local_edge_budget`` = 2M
    edges) and ``bpe_train`` (up to 1M vocab rows) keep
    ``createDataFrame``: a ``LocalRelation`` would embed that many rows
    in every plan that reads it."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    names = schema.names
    if rows and isinstance(rows[0], dict):
        rows = [tuple(r.get(n) for n in names) for r in rows]
    cols = list(zip(*rows)) if rows else [()] * len(names)
    for field, col in zip(schema.fields, cols):
        if not field.nullable and any(v is None for v in col):
            raise ValueError(f"field {field.name}: NULL in a non-nullable field")
    arrow = to_arrow_schema(schema)
    return spark.createDataFrame(
        pa.table(
            [pa.array(c, type=f.type) for c, f in zip(cols, arrow)],
            schema=arrow,
        ),
        schema,
    )


# Open ``released()`` scopes, innermost last.  A ContextVar, so each
# thread sees its own stack: ``foreachBatch`` bodies run on Py4J
# callback threads and the HTTP API serves requests concurrently.
_SCOPES: contextvars.ContextVar[tuple[list[DataFrame], ...]] = (
    contextvars.ContextVar("datalake_spark_persist_scopes", default=())
)


def persisted(df: DataFrame) -> DataFrame:
    """``df.persist()``, recorded in the innermost open :func:`released`
    scope so that scope unpersists it on exit.  Outside any scope it is
    exactly ``df.persist()``: the cache lives until ``clearCache()``."""
    df = df.persist()
    scopes = _SCOPES.get()
    if scopes:
        scopes[-1].append(df)
    return df


@contextmanager
def released() -> Iterator[list[DataFrame]]:
    """Unpersist (non-blocking) every frame :func:`persisted` caches while
    this scope is open, on normal exit or on an exception — the release
    for per-batch and per-build entry points that run their own action.
    Use as ``with released():`` or, for a whole function, ``@released()``;
    ``with released() as frames`` names the list being recorded.
    """
    frames: list[DataFrame] = []
    token = _SCOPES.set(_SCOPES.get() + (frames,))
    try:
        yield frames
    finally:
        _SCOPES.reset(token)
        for df in frames:
            df.unpersist()
