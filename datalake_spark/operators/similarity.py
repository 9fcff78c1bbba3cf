"""Similarity search over embedding columns.

- brute_force_topk: exact cosine top-k — the correctness baseline; candidate
  side streams, query side broadcasts, ranking via window.  O(|Q|·|C|) dot
  products, all codegen.
- srp_ann_topk: the scale path — random-hyperplane (SRP) LSH buckets cut the
  candidate set to colliding buckets across T tables before exact re-rank.
- ivf_topk: IVF-style probe — deterministic centroid assignment (no training
  dependency: centroids are a fixed sample), query probes nprobe nearest
  centroid partitions.

At 100 TB: signatures/centroid-ids are computed in the scan (map stage);
the only shuffles are the bucket equi-join (SRP) or the centroid equi-join
(IVF), versus brute force's broadcast-nested-loop over everything.

Ranking exactness (r6): every rank-sensitive cosine here uses
functions/vectors.cosine_micro_exact — micro-quantized components, exact
BIGINT dot/norm sums, one fixed IEEE double finish — because a plain
double fold's value depends on accumulation order: a <=1-ulp disagreement
between engines (or between two partitionings of the same cluster!) can
flip a nearest-centroid assignment and swap entire IVF probe cells, which
the sf1.0 scale run demonstrated on near-parallel vectors.  Quantized
ranking is also retry/partitioning-stable WITHIN Spark, not just
cross-engine.
"""

from __future__ import annotations

import math
import random

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datalake_spark.functions.vectors import cosine_micro_exact
from datalake_spark.session import persisted


def brute_force_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: broadcast queries × candidates, window-rank."""
    q = queries.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"))
    c = candidates.select(F.col(id_col).alias("c_id"), F.col(vec_col).alias("c_vec"))
    sims = (
        c.join(F.broadcast(q))
        # a zero-norm, NULL, NULL-component or different-length vector
        # yields the -2.0 sentinel (see micro_cosine): ranks last in
        # every top-k instead of killing the job (ANSI 0/0) or
        # NaN-ranking first
        .withColumn("cosine", cosine_micro_exact("q_vec", "c_vec"))
        .select("q_id", "c_id", "cosine")
    )
    w = W.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("c_id"))
    return sims.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)


def _random_planes(dim: int, num_planes: int, num_tables: int, seed: int = 42):
    rng = random.Random(seed)
    tables = []
    for _ in range(num_tables):
        planes = []
        for _ in range(num_planes):
            v = [rng.gauss(0, 1) for _ in range(dim)]
            n = math.sqrt(sum(x * x for x in v)) or 1.0
            planes.append([x / n for x in v])
        tables.append(planes)
    return tables


def srp_ann_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 10,
    dim: int = 64,
    num_planes: int = 4,
    num_tables: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Approximate cosine top-k: SRP-LSH candidate generation (union over T
    hash tables of same-bucket pairs) + exact re-rank of candidates.

    Defaults (4 planes x 16 tables) target weak-neighbor regimes (random
    embeddings, top cosine ~0.4): P(bucket collision) ~ (1-acos(s)/pi)^4 per
    table, ~0.93 over 16 tables at s=0.39 — measured recall 0.84 on the test
    corpus.  For clustered real-world embeddings, raise num_planes.

    Signatures come from ONE numpy matmul per Arrow batch (a pandas UDF):
    the pure-Column formulation (T×P zip_with folds with 4096 literal nodes)
    is semantically identical but its codegen compile time dominates.  The
    candidate set is distinct on (q_id, c_id) — never on vector columns —
    and vectors are joined back only for the exact re-rank."""
    tables = _random_planes(dim, num_planes, num_tables, seed)
    sig_udf = _srp_signature_udf(tables)
    q = queries.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"))
    c = candidates.select(F.col(id_col).alias("c_id"), F.col(vec_col).alias("c_vec"))
    q_sig = q.select("q_id", F.posexplode(sig_udf("q_vec")).alias("t", "sig"))
    c_sig = c.select("c_id", F.posexplode(sig_udf("c_vec")).alias("t", "sig"))
    cand = (
        c_sig.join(F.broadcast(q_sig), ["t", "sig"])
        .select("q_id", "c_id")
        .distinct()
    )
    sims = (
        cand.join(c, "c_id")
        .join(F.broadcast(q), "q_id")
        # zero-norm candidates yield -2.0 and rank last (see
        # cosine_micro_exact)
        .withColumn("cosine", cosine_micro_exact("q_vec", "c_vec"))
        .select("q_id", "c_id", "cosine")
    )
    w = W.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("c_id"))
    return sims.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)


def _srp_signature_udf(tables):
    """pandas UDF: embedding -> array of per-table SRP signatures (bigint),
    computed as one (batch × dim) @ (dim × T*P) matmul + bit-pack."""
    mats = np.concatenate(
        [np.asarray(planes, dtype=np.float64).T for planes in tables], axis=1
    )  # dim × (T*P)
    num_tables = len(tables)
    num_planes = len(tables[0])
    weights = (1 << np.arange(num_planes)).astype(np.int64)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def sigs(emb: pd.Series) -> pd.Series:
        E = np.vstack(emb.to_numpy()).astype(np.float64)  # n × dim
        bits = (E @ mats) >= 0  # n × (T*P)
        bits = bits.reshape(len(E), num_tables, num_planes)
        packed = bits @ weights  # n × T
        return pd.Series(packed.tolist())

    return sigs


def _list_matrix(col, width: int):
    """Unpack an Arrow ``list<number>`` column of n rows into an
    (n, width) NumPy matrix with one fancy-index gather.  Returns
    ``(mat, null_rows, bad_width)``: ``null_rows`` flags rows that are
    NULL or hold a NULL component, ``bad_width`` the other rows whose
    length is not ``width``; rows flagged in either mask read as zeros
    in ``mat``.  ListArray offsets are absolute positions into
    ``.values`` (which ignores the array's slice offset), so they index
    it directly."""
    offs = col.offsets.to_numpy()
    null_rows = np.zeros(len(offs) - 1, dtype=bool)
    if col.null_count:
        null_rows |= col.is_null().to_numpy(zero_copy_only=False)
    vals = col.values
    if vals.null_count:
        # running NULL count over the values: a row holds a NULL
        # component iff the count rises across its offsets
        seen = np.concatenate(
            ([0], np.cumsum(vals.is_null().to_numpy(zero_copy_only=False)))
        )
        null_rows |= seen[offs[1:]] > seen[offs[:-1]]
        vals = vals.fill_null(0)
    flat = vals.to_numpy(zero_copy_only=False)
    ok = ~null_rows & (np.diff(offs) == width)
    mat = np.zeros((len(null_rows), width), dtype=flat.dtype)
    idx = np.flatnonzero(ok)
    mat[idx] = flat[offs[idx, None] + np.arange(width)]
    return mat, null_rows, ~(null_rows | ok)


def _assign_nearest(
    df: DataFrame, vec_col: str, centroids: DataFrame
) -> DataFrame:
    """``df`` + a row-local ``cent_id`` column (the centroid frame's own
    cent_id type): the nearest (cent_id, cent_vec) centroid of every
    ``vec_col`` vector by the exact cosine_micro_exact ordering — max
    sim, ties to the smaller cent_id.  The parameter-bounded centroid
    frame (a local relation at the build call sites, a tiny parquet
    read on streaming appends) is quantized into NumPy int64 matrices
    in the function closure, and one ``mapInArrow`` stage computes
    every exact cosine and the argmax over whole Arrow batches: zero
    shuffles, zero corpus aggregation.

    Exact by construction: quantization is floor(x·1e6+0.5) in float64;
    dot and norm-square are int64 sums; the finish is one int64→float64
    cast, one multiply (sqa·sq) and one IEEE divide, with the −2.0
    guard when that product is not positive (zero norms); np.argmax
    takes the FIRST maximal element of the cent_id-sorted axis.  A row
    whose vector is NULL or has NULL components scores −2.0 against
    every centroid and lands on the smallest cent_id; a vector whose
    width differs from the centroids' raises ValueError.  An empty
    centroid frame assigns nothing.  Pinned against a pure-Python
    integer reference in tests/test_operators.py."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    cent_type = centroids.schema["cent_id"].dataType
    cent_rows = sorted(
        centroids.select("cent_id", "cent_vec").collect(),
        key=lambda r: r["cent_id"],
    )
    if not cent_rows:
        return (
            df.withColumn("cent_id", F.lit(None).cast(cent_type))
            .filter(F.lit(False))
        )
    for r in cent_rows:
        if r["cent_vec"] is None or any(
            x is None for x in r["cent_vec"]
        ):
            raise ValueError(
                f"IVF: centroid {r['cent_id']!r} is NULL or has NULL "
                "components"
            )
    cent_ids = pa.array(
        [r["cent_id"] for r in cent_rows], type=to_arrow_type(cent_type)
    )
    qcv = np.array(
        [
            [math.floor(float(x) * 1_000_000 + 0.5) for x in r["cent_vec"]]
            for r in cent_rows
        ],
        dtype=np.int64,
    )
    dim = qcv.shape[1]
    sq = np.sqrt((qcv * qcv).sum(axis=1).astype(np.float64))
    out_schema = T.StructType(
        list(df.schema.fields)
        + [T.StructField("cent_id", cent_type, True)]
    )
    cols = df.columns

    def assign_batches(batches):
        for b in batches:
            if b.num_rows == 0:
                continue
            # NULL rows read as zero vectors: every sim is the -2.0
            # guard, so argmax lands on the smallest cent_id
            mat, _, bad_width = _list_matrix(b.column(vec_col), dim)
            if bad_width.any():
                raise ValueError(
                    "IVF: embedding dim mismatch vs centroids in "
                    "_assign_nearest input"
                )
            qa = np.floor(
                mat.astype(np.float64) * 1_000_000 + 0.5
            ).astype(np.int64)
            sqa = np.sqrt((qa * qa).sum(axis=1).astype(np.float64))
            denom = sqa[:, None] * sq[None, :]
            with np.errstate(divide="ignore", invalid="ignore"):
                sims = np.where(
                    denom > 0,
                    (qa @ qcv.T).astype(np.float64) / denom,
                    -2.0,
                )
            arrays = [b.column(c) for c in cols]
            arrays.append(cent_ids.take(np.argmax(sims, axis=1)))
            yield pa.RecordBatch.from_arrays(arrays, cols + ["cent_id"])

    return df.mapInArrow(assign_batches, out_schema)


def ivf_index_build(
    candidates: DataFrame,
    num_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """Build the IVF index as two PERSISTABLE frames — (centroids,
    assignments) — so the ANN index is a standing artifact like the
    MinHash signature table: write both to parquet (assignments
    partitioned by ``cent_id`` for probe-side partition pruning), sign
    each new embedding batch once, and serve every later search from the
    stored index instead of re-assigning 100 TB of vectors per query.

    Centroids = the num_centroids lowest-id candidate vectors (a
    deterministic coreset — ordered, so the index is reproducible and
    oracle-checkable; kmeans_iterate refines cells when wanted).
    Assignments map every candidate to its nearest centroid ROW-LOCALLY
    (:func:`_assign_nearest`): the map stage computes every exact cosine
    and takes the argmax in place, with no shuffle."""
    # num_centroids rows, parameter-bounded: materialized once (bounded
    # collect + literal rebuild) so the corpus-scan + TakeOrdered coreset
    # lineage does not ride under every consumer — the assignment, the
    # probe ranking, the residual centroid map, and the index write
    cents = _materialize_small(
        candidates.orderBy(id_col)
        .limit(num_centroids)
        .select(F.col(id_col).alias("cent_id"), F.col(vec_col).alias("cent_vec"))
    )
    c = candidates.select(F.col(id_col).alias("c_id"), F.col(vec_col).alias("c_vec"))
    c_assign = _assign_nearest(c, "c_vec", cents).select(
        "c_id", "c_vec", "cent_id"
    )
    return cents, c_assign


def ivf_assign_cells(
    batch: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_vec: bool = False,
) -> DataFrame:
    """(c_id, cent_id): nearest-centroid cell of every batch vector
    against a FIXED (cent_id, cent_vec) frame — the incremental half of
    :func:`ivf_index_build` (identical exact-cosine argmax ordering, so
    a vector is assigned the same cell whether it arrived at build time
    or in a later append batch).  Row-local (:func:`_assign_nearest`):
    pure map work, no shuffle; per-batch cost
    O(|batch| · num_centroids · dim).  ``keep_vec=True`` additionally
    carries the vector through as ``c_vec`` so an encode step can
    consume the assignment without re-joining the batch."""
    c = batch.select(F.col(id_col).alias("c_id"), F.col(vec_col).alias("c_vec"))
    out = _assign_nearest(c, "c_vec", centroids)
    if keep_vec:
        return out.select("c_id", "c_vec", "cent_id")
    return out.select("c_id", "cent_id")


def ivf_search(
    centroids: DataFrame,
    assignments: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe a built (possibly parquet-loaded) IVF index: each query ranks
    its ``nprobe`` nearest centroids, then re-ranks exactly within those
    cells only.  With cent_id-partitioned assignments the probe join
    prunes to nprobe/num_centroids of the index."""
    q = queries.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"))
    q_probe = (
        q.join(F.broadcast(centroids))
        .withColumn("sim", cosine_micro_exact("q_vec", "cent_vec"))
        .withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("cent_id"))
            ),
        )
        .filter(F.col("rk") <= nprobe)
        .select("q_id", "q_vec", "cent_id")
    )
    sims = (
        assignments.join(F.broadcast(q_probe), "cent_id")
        # zero-norm candidates yield -2.0 and rank last (see
        # cosine_micro_exact)
        .withColumn("cosine", cosine_micro_exact("q_vec", "c_vec"))
        .select("q_id", "c_id", "cosine")
    )
    w = W.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("c_id"))
    return sims.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)


def ivf_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 10,
    num_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-style ANN in one call: :func:`ivf_index_build` then
    :func:`ivf_search` (see those for the persistence/scale story)."""
    cents, c_assign = ivf_index_build(
        candidates, num_centroids, id_col=id_col, vec_col=vec_col
    )
    return ivf_search(
        cents, c_assign, queries, k=k, nprobe=nprobe,
        id_col=id_col, vec_col=vec_col,
    )


def kmeans_iterate(
    emb: DataFrame,
    k: int = 4,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids_out: list | None = None,
) -> DataFrame:
    """Fixed-iteration Lloyd k-means: (id, cluster, dist_sq) after ``iters``
    assign/update rounds, deterministic and ENGINE-PORTABLE.

    - Seeds are the vectors of the k smallest ids (a k-row driver read —
      no RNG, so reruns and replays agree).
    - Distances and centroid updates accumulate through DECIMAL(30,12)
      sums of double products before the final double cast, so results do
      not depend on partitioning/accumulation order — the same discipline
      as the embedding centroid/near-dup oracles.
    - Assignment ties (equal distance) break on the smaller cluster id via
      an explicit row_number ordering.

    Fixed iteration count (not convergence-looped) keeps the whole
    computation one declarative plan per round and makes the output
    SQL-replayable — the oracle unrolls the same rounds as CTEs.  At
    scale: per round, one shuffle for the distance aggregation and one for
    the centroid update; the k×dim centroid frame stays broadcast-sized.

    ``centroids_out`` (optional list): receives the FINAL centroid frame
    (cluster, pos, cval) — the persistable "index" half incremental
    consumers (semantic_incremental_pairs) assign new batches against
    without re-clustering.
    """
    # persisted: el feeds the seed-centroid build plus a distance join
    # AND a centroid update per iteration (~2·iters+1 consumers) — each
    # would re-run the explode lineage against the source otherwise
    el = persisted(emb.select(
        F.col(id_col).alias("_id"), F.posexplode(vec_col).alias("_pos", "_val")
    ).withColumn("_val", F.col("_val").cast("double")))
    # Round-0 centroids as a LOCAL relation (r14, guide §5): the seed
    # collect was already paying one bounded TakeOrdered job — collecting
    # the k seed VECTORS instead of just their ids costs the same job and
    # lets the (k·dim)-row centroid frame be built driver-side, removing
    # the el ⋈ seed_map join from under every round's lineage (each
    # consumer re-planned it) and making round 1's distance join
    # broadcast-certain.  Values are a pure pass-through: el's _cval was
    # the raw component cast to double; the collected Python float IS
    # that double.
    seed_rows = (
        emb.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_vec"))
        .orderBy("_id")
        .limit(k)
        .collect()
    )
    spark = emb.sparkSession
    cent = spark.createDataFrame(
        [
            (cid, pos, None if v is None else float(v))
            for cid, r in enumerate(
                sorted(seed_rows, key=lambda r: r["_id"])
            )
            # a NULL embedding exploded to zero rows in the pre-r14
            # join form; the local build reproduces that
            for pos, v in enumerate(r["_vec"] or [])
        ],
        "_cid int, _pos int, _cval double",
    )
    assign = None
    for _it in range(iters):
        joined = el.join(cent, "_pos")
        diff2 = (
            (F.col("_val") - F.col("_cval")) * (F.col("_val") - F.col("_cval"))
        ).cast("decimal(30,12)")
        d2 = joined.groupBy("_id", "_cid").agg(
            F.sum(diff2).cast("double").alias("_d2")
        )
        # argmin via min_by (map-side partial merge; no per-id sort) —
        # ordering struct(_d2, _cid) keeps the exact (dist ASC, smaller
        # cluster id) tiebreak the window form had
        assign = (
            d2.groupBy("_id")
            .agg(
                F.min_by(F.struct("_cid", "_d2"),
                         F.struct("_d2", "_cid")).alias("_b")
            )
            .select(
                "_id",
                F.col("_b._cid").alias("_cid"),
                F.col("_b._d2").alias("_d2"),
            )
        )
        # lazy by design (r14 A/B): materializing each round's k·dim
        # centroid frame read +50% wall at sf0.1 (eager job roundtrips)
        # with no consumer that re-executes the chain more than once —
        # the last round's update is dead code for assign-only callers
        # and lazy evaluation never runs it
        cent = (
            el.join(assign.select("_id", "_cid"), "_id")
            .groupBy("_cid", "_pos")
            .agg(
                (
                    F.sum(F.col("_val").cast("decimal(30,12)")).cast("double")
                    / F.count(F.lit(1))
                ).alias("_cval")
            )
        )
    if centroids_out is not None:
        centroids_out.append(
            cent.select(
                F.col("_cid").cast("bigint").alias("cluster"),
                F.col("_pos").alias("pos"),
                F.col("_cval").alias("cval"),
            )
        )
    return assign.select(
        F.col("_id").alias(id_col),
        F.col("_cid").cast("bigint").alias("cluster"),
        F.col("_d2").alias("dist_sq"),
    )


def kmeans_centroids(
    emb: DataFrame,
    k: int = 4,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Just the final (cluster, pos, cval) centroid frame of
    :func:`kmeans_iterate` — the standing cluster index an incremental
    pipeline persists once and assigns every new batch against."""
    out: list = []
    kmeans_iterate(
        emb, k=k, iters=iters, id_col=id_col, vec_col=vec_col,
        centroids_out=out,
    )
    return out[0]


def assign_to_centroids(
    emb: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_vec: bool = False,
) -> DataFrame:
    """(id, cluster): nearest-centroid assignment of ``emb`` against a
    FIXED (cluster, pos, cval) frame — one decimal-exact distance pass,
    ties to the smaller cluster id (the kmeans_iterate discipline).  The
    assignment half of the incremental path: the centroid index never
    moves, so per-batch cost is O(|batch| · k · dim).

    ROW-LOCAL (r14, guide §2.3/§2.4): the k centroids are packed into
    one broadcast row of cluster-sorted (cluster, pos-ordered cval
    array) structs; each batch row folds every squared distance in the
    map stage and takes the argmin in place.  The pre-r14 form exploded
    the batch to (id, pos, val) rows and paid TWO corpus-scaled
    shuffles (groupBy(id, cluster) distance sum + groupBy(id) min_by).
    Arithmetic is term-for-term identical — each (val − cval)² is cast
    to DECIMAL(30,12) before an exact, order-independent decimal sum —
    and the packed array is cluster-sorted with array_position taking
    the FIRST minimal element, reproducing the (dist ASC, smaller
    cluster id) min_by tiebreak exactly.

    ``keep_vec=True`` additionally carries the vector column through —
    consumers that need (id, cluster, vector) (e.g. the SemDeDup index
    build, which explodes the assigned corpus) read it off the row
    instead of joining the corpus-sized assignment frame back on id."""
    packed = (
        centroids.select(
            F.col("cluster").alias("_cid"),
            F.struct(F.col("pos").alias("pos"), F.col("cval").alias("cval"))
            .alias("_pc"),
        )
        .groupBy("_cid")
        .agg(
            F.transform(
                F.array_sort(F.collect_list("_pc")), lambda s: s["cval"]
            ).alias("_cvals")
        )
        .select(F.struct(F.col("_cid"), F.col("_cvals")).alias("_ce"))
        .agg(F.array_sort(F.collect_list("_ce")).alias("_cents"))
    )
    acc_t = "decimal(38,12)"
    d2 = lambda e: F.aggregate(  # noqa: E731
        F.zip_with(
            F.col("_vd"),
            e["_cvals"],
            lambda a, b: ((a - b) * (a - b)).cast("decimal(30,12)"),
        ),
        F.lit(0).cast(acc_t),
        lambda acc, x: (acc + x).cast(acc_t),
    ).cast("double")
    return (
        emb.join(F.broadcast(packed))
        # strict pre-r14 equivalence: no centroids -> no assignments
        .filter(F.size(F.col("_cents")) > 0)
        .withColumn(
            "_vd", F.transform(vec_col, lambda x: x.cast("double"))
        )
        .withColumn("_d2s", F.transform(F.col("_cents"), d2))
        # coalesce → statically non-nullable: consumers inner-join on
        # cluster, and a nullable cluster would let Catalyst push the
        # inferred isnotnull(cluster) below these Projects, inlining the
        # whole per-centroid argmin into the join condition (observed as
        # 3-4x duplicated HOF work per row in the r14 plan audit).
        # Fallback unreachable: _cents is non-empty.
        .select(
            F.col(id_col),
            *([F.col(vec_col)] if keep_vec else []),
            F.coalesce(
                F.element_at(
                    F.col("_cents"),
                    F.array_position(
                        F.col("_d2s"), F.array_min(F.col("_d2s"))
                    ).cast("int"),
                )["_cid"].cast("bigint"),
                F.lit(-1).cast("bigint"),
            ).alias("cluster"),
        )
    )


# -- product quantization (ADC) ---------------------------------------------


def _py_quantize_micro_unit(vec) -> list[int]:
    """Driver-side twin of functions/vectors.quantize_micro_unit — used
    to build seed codebooks from collected seed rows without a second
    cluster job (r14).  Bit-identical by construction: every step is the
    same single correctly-rounded IEEE-double operation on the same
    exact integers as the Column expression — floor(x*1e6+0.5) per
    component (double multiply/add/floor), an exact integer norm square
    (Python ints are exact; the values fit in the long range the
    cluster fold uses), long→double cast (round-to-nearest, same rule
    both sides), one sqrt, one divide, one multiply, one add, one floor
    — correctly rounded in CPython and the JVM alike.  Pinned against
    the Column twin over adversarial inputs in
    tests/test_operators.py."""
    qa = [math.floor(float(x) * 1_000_000 + 0.5) for x in vec]
    nsq = 0
    for q in qa:
        nsq += q * q
    # the 'fits in the long range' precondition above, ENFORCED: the
    # cluster fold accumulates over JVM longs and would silently wrap
    # past 2^63-1 (components ≳ 3e3 at micro scale, sooner summed over
    # many dims) while this exact big-int sum would not — fail loudly
    # instead of letting the two paths diverge (r14 advisor finding)
    if nsq > 2**63 - 1:
        raise ValueError(
            "quantize_micro_unit: exact norm-square "
            f"{nsq} exceeds the signed-64-bit range the cluster fold "
            "uses; embedding magnitudes are out of the supported range"
        )
    nrm = math.sqrt(float(nsq)) if nsq > 0 else 1.0
    return [math.floor(float(q) / nrm * 1_000_000 + 0.5) for q in qa]


# exact schema of the seed codebook frame (see pq_train): sub/code are
# non-nullable ints; cb_micro keeps nullable element containment, the
# schema of a Column-built slice of quantize_micro_unit.
_CB_SCHEMA = T.StructType(
    [
        T.StructField("sub", T.IntegerType(), False),
        T.StructField("code", T.IntegerType(), False),
        T.StructField(
            "cb_micro", T.ArrayType(T.LongType(), True), True
        ),
    ]
)


def _seed_codebooks_local(
    spark, seed_rows, m: int, cent_qv: dict | None = None
) -> DataFrame:
    """(sub, code, cb_micro) seed codebook built driver-side from the
    collected (id, vec) seed rows: unit-normalize + micro-quantize each
    seed (``_py_quantize_micro_unit``, bit-identical to the cluster
    expression), validate the dim/m contract (the ``_pq_d_sub`` raise,
    driver-side), and slice into the ``m`` subvectors — pure driver work
    on rows a single TakeOrdered job already fetched (guide §5: the
    driver may do PARAMETER-BOUNDED work).

    ``cent_qv`` (r15, the residual path): {cent_id: quantized centroid}
    — each seed's representation becomes the exact elementwise
    difference qv(vec) − qv(centroid of its ``_cell``), the IVFADC
    residual.  Exact int−int mirrors the Column ``zip_with(a-b)`` of
    :func:`_pq_quantized` on longs term-for-term.  A seed whose cell is
    absent from the map is dropped BEFORE code numbering, as that
    function's inner join on cent_id drops it (unreachable in practice:
    cells come from _assign_nearest against these very centroids)."""
    quantized = []
    for r in sorted(seed_rows, key=lambda r: r["_id"]):
        # NULL vector / NULL component in a SEED row would poison every
        # downstream distance, and float(None) would raise an opaque
        # TypeError — fail loudly naming the seed instead (gate corpora
        # carry no NULL vectors, so real-data behavior is unchanged)
        if r["_vec"] is None or any(x is None for x in r["_vec"]):
            raise ValueError(
                "pq_train: seed embedding "
                f"{r['_id']!r} is NULL or has NULL components; PQ seed "
                "vectors must be fully populated"
            )
        qv = _py_quantize_micro_unit(r["_vec"])
        if cent_qv is not None:
            cm = cent_qv.get(r["_cell"])
            if cm is None:
                continue
            if len(cm) != len(qv):
                raise ValueError(
                    "pq_train: residual seed "
                    f"{r['_id']!r} has dim {len(qv)} but its cell "
                    f"centroid has dim {len(cm)}"
                )
            qv = [a - b for a, b in zip(qv, cm)]
        quantized.append((r["_id"], qv))
    rows = []
    for code, (_sid, qv) in enumerate(quantized):
        dim = len(qv)
        if dim % m != 0 or dim < m:
            raise ValueError(
                "PQ: embedding dim must be a positive multiple "
                f"of m={m}, got dim={dim}"
            )
        d_sub = dim // m
        for sub in range(m):
            rows.append(
                (sub, code, qv[sub * d_sub : (sub + 1) * d_sub])
            )
    return spark.createDataFrame(rows, _CB_SCHEMA)


def _materialize_small(df: DataFrame) -> DataFrame:
    """Collect a PARAMETER-BOUNDED frame (centroids: num_centroids rows;
    codebooks: m·ksub rows — never corpus-scaled) and rebuild it as a
    local-relation DataFrame with the same schema and exact row values.

    Why (r14, guide §3.3/§7.3): these tiny frames sit under every
    consumer of an ANN pipeline — the coreset/centroid lineage is a
    corpus scan + TakeOrdered, and each Lloyd round's codebook is a
    union over the previous round's whole tree, so the STATIC plan
    doubles per round and every consumer re-plans (and without a cache
    hit re-executes) the full subtree.  At sf0.1 Catalyst planning gaps
    dominate these entries' wall time; at 100 TB the repeated corpus
    scans behind each consumer are the cost.  A bounded collect +
    literal rebuild truncates the lineage exactly — values identical
    (exact longs/doubles roundtrip), determinism unchanged, and unlike
    ``localCheckpoint`` nothing can be lost with an executor."""
    rows = df.collect()
    return df.sparkSession.createDataFrame(rows, df.schema)


def _pq_d_sub(m: int):
    """Validated subvector width over the quantized array column ``_qv``:
    dim must be a positive multiple of ``m`` — silent truncation would
    drop the tail dimensions from every codebook, code, and ADC distance,
    and m > dim would make every slice empty (all distances 0, 'top-k'
    degenerating to the k lowest ids).  Dim is data, not schema, so the
    check rides the row and raises on the first bad vector scanned."""
    sz = F.size("_qv")
    return (
        F.when((sz % m == 0) & (sz >= m), (sz / m).cast("int"))
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        "PQ: embedding dim must be a positive multiple "
                        f"of m={m}, got dim="
                    ),
                    sz.cast("string"),
                )
            )
        )
    )


def _pq_quantized(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    cells: DataFrame | str | None = None,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """(c_id, _qv [, cent_id]): every vector unit-normalized and
    micro-quantized (functions/vectors.quantize_micro_unit).  ``cells``
    attaches the coarse cell id — either a (c_id, cent_id) frame
    (joined ONCE here, before any subvector explosion) or the NAME of a
    column already on ``df`` (r14: callers holding the row-local
    :func:`_assign_nearest` output pass the column and pay no join at
    all).  With ``centroids`` (cent_id, cent_vec) too, _qv is instead
    the RESIDUAL on the micro grid — qv(vector) − qv(cell centroid),
    elementwise exact BIGINT subtraction (the IVFADC representation,
    Jégou et al. 2011 §III-C: residuals concentrate around the origin,
    so the same codebook budget quantizes them with less error than the
    raw vectors).  Only the num_centroids-row centroid frame ever
    broadcasts."""
    from datalake_spark.functions.vectors import quantize_micro_unit

    qv = quantize_micro_unit(F.col(vec_col))
    if isinstance(cells, str):
        base = df.select(
            F.col(id_col).alias("c_id"),
            F.col(cells).alias("cent_id"),
            qv.alias("_qv"),
        )
    elif cells is not None:
        base = df.select(
            F.col(id_col).alias("c_id"), qv.alias("_qv")
        ).join(cells.select("c_id", "cent_id"), "c_id")
    else:
        base = df.select(F.col(id_col).alias("c_id"), qv.alias("_qv"))
    if cells is not None and centroids is not None:
        cm = centroids.select(
            "cent_id",
            quantize_micro_unit(F.col("cent_vec")).alias("_cm"),
        )
        base = base.join(F.broadcast(cm), "cent_id").select(
            "c_id",
            "cent_id",
            F.zip_with("_qv", "_cm", lambda a, b: a - b).alias("_qv"),
        )
    return base


def _pq_subvectors(
    df: DataFrame,
    m: int,
    id_col: str,
    vec_col: str,
    cells: DataFrame | str | None = None,
    centroids: DataFrame | None = None,
    keep_cell: bool = False,
) -> DataFrame:
    """(c_id, sub, sv_micro [, cent_id]): the :func:`_pq_quantized`
    representation (raw or residual) sliced into its ``m`` subvectors —
    the exploded form pq_encode's nearest-codeword assignment and
    pq_train's Lloyd rounds both consume.  ``keep_cell`` carries the
    cell tag through the explosion (pq_encode's cell-tagged output) —
    attached at one row per VECTOR above, never re-joined onto the m
    rows per vector here."""
    d_sub = _pq_d_sub(m)
    tag = ["cent_id"] if (keep_cell and cells is not None) else []
    return _pq_quantized(df, id_col, vec_col, cells, centroids).select(
        "c_id",
        *tag,
        F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("sub"),
        F.slice(F.col("_qv"), F.col("sub") * d_sub + 1, d_sub).alias(
            "sv_micro"
        ),
    )


def _pq_assign(
    sv: DataFrame, codebooks: DataFrame, keep: tuple[str, ...] = ()
) -> DataFrame:
    """(c_id, sub, code, *keep): per-subspace nearest codeword of every
    subvector, ROW-LOCAL — zero corpus shuffle.  The m·ksub codebooks (a
    parameter-bounded LOCAL relation at every call site, so collecting
    them schedules no cluster job) are packed into per-sub NumPy int64
    matrices shipped in the function closure, and one ``mapInArrow``
    stage computes every squared-L2 and the argmin over whole record
    batches.  ``keep`` names sv columns to carry through (pq_train keeps
    sv_micro so its update step needs no join back; pq_encode keeps the
    cell tag).

    Exact by construction: distances are int64 (a−b)·(a−b) sums (the
    micro-quantized values cannot overflow int64: |diff| ≤ 2e6 →
    per-term ≤ 4e12), and ``np.argmin`` takes the FIRST minimal element
    of the code-sorted axis — the (dist ASC, code ASC) tie-break.
    Pinned against a pure-Python integer reference in
    tests/test_operators.py.

    Malformed input raises ValueError: a NULL codeword or ragged
    codebook widths (at call time), and a sub with no codebook, a NULL
    subvector or component, or a subvector whose width differs from the
    codebooks' (when the stage runs)."""
    import pyarrow as pa

    by_sub: dict = {}
    for r in codebooks.collect():
        if r["cb_micro"] is None or any(
            x is None for x in r["cb_micro"]
        ):
            raise ValueError(
                f"PQ: codebook (sub={r['sub']}, code={r['code']}) is "
                "NULL or has NULL components"
            )
        by_sub.setdefault(r["sub"], []).append((r["code"], r["cb_micro"]))
    packed = {
        s: (
            np.array([c for c, _ in sorted(lst)], dtype=np.int32),
            np.array([v for _, v in sorted(lst)], dtype=np.int64),
        )
        for s, lst in by_sub.items()
    }
    widths = {cb.shape[1] for _, cb in packed.values()}
    if len(widths) > 1:
        raise ValueError(
            f"PQ: codebook widths differ across subs: {sorted(widths)}"
        )
    w = widths.pop() if widths else 0
    in_cols = ["c_id", "sub", "sv_micro"]
    in_cols += [k for k in keep if k not in in_cols]
    out_cols = ["c_id", "sub", "code", *keep]
    src = sv.select(*in_cols)
    fields = []
    for c in out_cols:
        if c == "code":
            fields.append(T.StructField("code", T.IntegerType(), True))
        else:
            fields.append(src.schema[c])
    out_schema = T.StructType(fields)

    def assign_batches(batches):
        for b in batches:
            if b.num_rows == 0:
                continue
            subs = b.column("sub").to_numpy(zero_copy_only=False)
            present = np.unique(subs)
            for s in present:
                if int(s) not in packed:
                    raise ValueError(
                        f"PQ: no codebook for sub {int(s)} in "
                        "_pq_assign input"
                    )
            mat, null_rows, bad_width = _list_matrix(
                b.column("sv_micro"), w
            )
            if null_rows.any():
                raise ValueError(
                    "PQ: NULL subvector/component in _pq_assign input"
                )
            if bad_width.any():
                raise ValueError(
                    f"PQ: subvector width differs from the codebook "
                    f"width {w} in _pq_assign input"
                )
            codes = np.empty(b.num_rows, dtype=np.int32)
            for s in present:
                mask = subs == s
                cb_codes, cb_mat = packed[int(s)]
                d = mat[mask][:, None, :] - cb_mat[None, :, :]
                codes[mask] = cb_codes[
                    np.argmin((d * d).sum(axis=2), axis=1)
                ]
            arrays = []
            for c in out_cols:
                if c == "code":
                    arrays.append(pa.array(codes, type=pa.int32()))
                else:
                    arrays.append(b.column(c))
            yield pa.RecordBatch.from_arrays(arrays, out_cols)

    return src.mapInArrow(assign_batches, out_schema)


def pq_train(
    candidates: DataFrame,
    m: int = 8,
    ksub: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cells: str | None = None,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Train PQ codebooks as a PERSISTABLE frame: (sub, code, cb_micro).

    Product quantization (Jégou et al. 2011) splits each dim-D vector
    into ``m`` subvectors and replaces every subvector with the id of
    its nearest codeword from a per-subspace codebook of ``ksub``
    entries, compressing the corpus to m small ints per vector — the
    representation IVF-PQ systems scan at billion-vector scale.

    Training (r11) is per-subspace Lloyd k-means in the repo's
    exact-integer discipline, seeded with the deterministic coreset
    (subvectors of the ``ksub`` lowest-id candidates, UNIT-normalized
    then micro-quantized — quantize_micro_unit, so ADC's squared-L2
    ranks by cosine):

    - ``iters`` rounds of assign (exact BIGINT squared-L2 argmin, ties
      to the smaller code) + update (component mean of the members,
      rounded HALF-UP back onto the micro grid: floor((2s+n)/(2n))
      computed as exact integer floor-division via pmod — identical in
      Spark and DuckDB, no float quotient anywhere, so the trained
      codebooks are engine/retry/partitioning-identical and the oracle
      replays the rounds as CTEs).
    - A codeword that loses all members keeps its previous value (the
      standard empty-cluster rule), so the codebook is always exactly
      m*ksub rows.
    - ``iters=0`` is the raw coreset (the pre-r11 behavior; the recall
      baseline the trained books are tested against).

    At scale: each round is one broadcast join against the m*ksub
    codebooks + two ordinary aggregations — the corpus shuffles one row
    per (vector, subspace), never a sorted rank.  Callers at 100 TB
    should train on a bounded sample (pass a ``.limit``-ed or sampled
    frame); the codebook stays m*ksub rows regardless.

    ``cells`` + ``centroids`` (r11): train on IVFADC RESIDUALS —
    ``cells`` names the column of ``candidates`` holding each vector's
    cell id (e.g. the ``cent_id`` of :func:`ivf_index_build`'s
    assignments); training uses subvectors of qv(vector) − qv(cell
    centroid) (see :func:`_pq_quantized`), and the coreset seed uses the
    same residual representation, so codebooks model the residual
    distribution the codes will actually quantize."""
    # Seed codebooks in ONE bounded job (guide §5 driver work): collect
    # the raw (id, vector[, cell]) seed rows via a distributed
    # TakeOrdered — stored/row-local columns only, so the corpus scan
    # stays fully pruned (no quantized projection rides corpus-wide) —
    # and build the quantize/slice representation DRIVER-SIDE with
    # bit-identical IEEE ops (_py_quantize_micro_unit).  In RESIDUAL
    # mode the one TakeOrdered also fetches the seed's cell tag; the
    # parameter-bounded centroid frame — a _materialize_small local
    # relation at every residual call site, so its collect schedules no
    # cluster job — is quantized driver-side, and the residual is exact
    # int−int.
    res_mode = cells is not None and centroids is not None
    sel = [F.col(id_col).alias("_id"), F.col(vec_col).alias("_vec")]
    if res_mode:
        sel.append(F.col(cells).alias("_cell"))
    seed_rows = candidates.select(*sel).orderBy("_id").limit(ksub).collect()
    cent_qv = None
    if res_mode:
        cent_qv = {}
        for cr in centroids.select("cent_id", "cent_vec").collect():
            if cr["cent_vec"] is None or any(
                x is None for x in cr["cent_vec"]
            ):
                raise ValueError(
                    "pq_train: residual centroid "
                    f"{cr['cent_id']!r} is NULL or has NULL components"
                )
            cent_qv[cr["cent_id"]] = _py_quantize_micro_unit(cr["cent_vec"])
    cb = _seed_codebooks_local(
        candidates.sparkSession, seed_rows, m, cent_qv=cent_qv
    )
    if iters <= 0:
        return cb
    # persisted: sv feeds one row-local assign per round — each would
    # re-run the quantize+slice lineage against the source otherwise
    sv = persisted(_pq_subvectors(
        candidates, m, id_col, vec_col, cells, centroids
    ))
    for _ in range(iters):
        # row-local assign KEEPS sv_micro on the row, so the update
        # aggregates it directly — the pre-r14 corpus-wide
        # sv ⋈ assign shuffle join per Lloyd round is gone (r14)
        assign = _pq_assign(sv, cb, keep=("sv_micro",))
        upd = (
            assign
            .select("sub", "code", F.posexplode("sv_micro").alias("_p", "_v"))
            .groupBy("sub", "code", "_p")
            .agg(
                (
                    F.lit(2).cast("long") * F.sum("_v") + F.count(F.lit(1))
                ).alias("_num"),
                (F.lit(2).cast("long") * F.count(F.lit(1))).alias("_den"),
            )
            # round-half-up mean on the micro grid as exact integers:
            # floor(num/den) = (num - pmod(num, den)) div den — the
            # subtraction makes the dividend an exact multiple, where
            # truncating div == floor in BOTH engines (no float quotient
            # to disagree by an ulp at a .5 boundary)
            .select(
                "sub", "code", "_p",
                F.expr(
                    "CAST((_num - pmod(_num, _den)) div _den AS LONG)"
                ).alias("_v"),
            )
            .groupBy("sub", "code")
            .agg(F.collect_list(F.struct("_p", "_v")).alias("_pv"))
            .select(
                "sub", "code",
                F.transform(
                    F.array_sort("_pv"), lambda s: s["_v"]
                ).alias("cb_micro"),
            )
        )
        # empty-cluster rule: codewords with no members keep their value.
        # The round's m·ksub-row codebook is MATERIALIZED (bounded
        # collect + literal rebuild, _materialize_small): pre-r14 each
        # round's cb was a persisted union over the previous round's
        # whole tree, so the static plan doubled per round and every
        # consumer re-planned the full training lineage — at sf0.1 the
        # Catalyst planning gap was the dominant cost of the ANN gate
        # entries (r14 stage profile), and the training work itself now
        # runs exactly once per round instead of riding every consumer.
        cb = _materialize_small(
            upd.unionByName(
                cb.join(
                    upd.select("sub", "code"), ["sub", "code"], "left_anti"
                )
            )
        )
    return cb


def pq_encode(
    candidates: DataFrame,
    codebooks: DataFrame,
    m: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cells: DataFrame | str | None = None,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Encode every candidate to its per-subspace nearest codeword:
    (c_id, sub, code) — m small ints per vector, the standing compressed
    index (write partitioned however the search layer shards).  One
    broadcast join against the m*ksub codebooks + a per-(vector,
    subspace) rank; squared-L2 distances are exact BIGINT sums of
    micro-component differences.

    ``cells`` (optional, (c_id, cent_id) — e.g. the assignments frame of
    :func:`ivf_index_build` — or the name of a cell column already on
    ``candidates``) tags every code row with its coarse IVF cell for
    the IVF-PQ layout: write the codes ``partitionBy("cent_id")`` and
    :func:`ivfpq_search` reads only the ``nprobe/num_centroids`` slice
    of the compressed index — file-level partition pruning on top of
    PQ's compression.  A cells FRAME is joined at one row per vector,
    shuffled, never broadcast: cells is corpus-sized (the r1 norms
    lesson); the column form pays no join at all.

    ``centroids`` (r11, requires ``cells``): encode IVFADC RESIDUALS —
    the codes quantize qv(vector) − qv(cell centroid) against codebooks
    trained with the same ``cells``/``centroids`` (see
    :func:`pq_train`); :func:`ivfpq_search` must then be called with
    ``residual=True`` so the query side subtracts the probed cell's
    centroid before the ADC table lookup.

    Assignment is :func:`_pq_assign` — a row-local argmin against the
    codebooks shipped in its closure: no corpus shuffle, and the cell
    tag is attached at one row per VECTOR before the subvector
    explosion (``cells`` may be a (c_id, cent_id) frame or the name of
    a column already on ``candidates`` — the pre-r14 form re-joined
    cells onto the m-rows-per-vector code output).  Value-pinned by the
    ANN_PQ/ANN_IVFPQ oracles."""
    keep = ("cent_id",) if cells is not None else ()
    return _pq_assign(
        _pq_subvectors(
            candidates, m, id_col, vec_col, cells, centroids,
            keep_cell=cells is not None,
        ),
        codebooks,
        keep=keep,
    )


def pq_search(
    codebooks: DataFrame,
    codes: DataFrame,
    queries: DataFrame,
    k: int = 10,
    m: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ADC (asymmetric distance computation) top-k over a built PQ index:
    each query computes its exact BIGINT distance to every codeword of
    every subspace (a |Q|*m*ksub lookup table, broadcast), then the
    approximate query-candidate distance is the SUM over subspaces of
    table[sub, code(c, sub)] — one broadcast join against the compressed
    codes and one (q_id, c_id) aggregation.  The corpus is touched only
    through its m-int codes: no full vectors move, which is the entire
    point of PQ at 100 TB."""
    from datalake_spark.functions.vectors import quantize_micro_unit

    qv = queries.select(
        F.col(id_col).alias("q_id"),
        quantize_micro_unit(F.col(vec_col)).alias("_qv"),
    )
    d_sub = _pq_d_sub(m)
    qsub = qv.select(
        "q_id",
        F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("sub"),
        F.slice(F.col("_qv"), F.col("sub") * d_sub + 1, d_sub).alias(
            "qv_micro"
        ),
    )
    zero = F.lit(0).cast("long")
    dist = F.aggregate(
        F.zip_with(
            F.col("qv_micro"), F.col("cb_micro"),
            lambda a, b: (a - b) * (a - b),
        ),
        zero,
        lambda acc, x: acc + x,
    )
    qtable = (
        qsub.join(F.broadcast(codebooks), "sub")
        .withColumn("_dist", dist)
        .select("q_id", "sub", "code", "_dist")
    )
    adc = (
        codes.join(F.broadcast(qtable), ["sub", "code"])
        .groupBy("q_id", "c_id")
        .agg(F.sum("_dist").alias("adc"))
    )
    w = W.partitionBy("q_id").orderBy("adc", "c_id")
    return adc.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= k
    )


def pq_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 10,
    m: int = 8,
    ksub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_iters: int = 2,
) -> DataFrame:
    """PQ-ADC ANN in one call: :func:`pq_train` + :func:`pq_encode` +
    :func:`pq_search`.  A per-batch pipeline should instead build the
    codebooks/codes once, write them to parquet, and serve every later
    search from the stored index (the ivf_index_build/ivf_search split)."""
    cb = pq_train(candidates, m=m, ksub=ksub, iters=train_iters,
                  id_col=id_col, vec_col=vec_col)
    codes = pq_encode(candidates, cb, m=m, id_col=id_col, vec_col=vec_col)
    return pq_search(
        cb, codes, queries, k=k, m=m, id_col=id_col, vec_col=vec_col
    )


def ivfpq_search(
    centroids: DataFrame,
    codebooks: DataFrame,
    codes: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    m: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    residual: bool = False,
) -> DataFrame:
    """IVF-PQ (Jégou et al. 2011 §V): the billion-vector serving layout —
    a coarse quantizer prunes WHICH codes are read, PQ compresses WHAT is
    read.  Each query ranks its ``nprobe`` nearest IVF centroids
    (exact-integer cosine, as :func:`ivf_search`), then ADC-ranks ONLY
    the cell-tagged codes of those cells: with codes stored
    ``partitionBy("cent_id")`` (see :func:`pq_encode` ``cells=``) the
    broadcast cell-probe join prunes the parquet read to
    nprobe/num_centroids of the compressed index — the corpus is touched
    through neither its vectors nor its full code set.  All ranking keys
    are exact BIGINTs (ADC) or the fixed-IEEE exact cosine (probe), so
    results are partitioning/retry-stable and oracle-checkable.

    ``nprobe >= num_centroids`` degrades gracefully to exact
    :func:`pq_search` semantics (every cell probed) — pinned by the
    equality test in tests/test_operators.py.

    ``residual=True`` (r11): the index stores IVFADC residual codes
    (``pq_encode(..., centroids=)``), so the ADC lookup table is built
    PER PROBED CELL — each (query, cell) pair subtracts the cell
    centroid from the query on the micro grid before the codeword
    distances, approximating ||q − x|| = ||(q − c) − (x − c)|| with the
    residual codeword standing in for (x − c).  The table grows from
    |Q|·m·ksub to |Q|·nprobe·m·ksub rows — still query-sized, still a
    broadcast; the codes read is identically partition-pruned."""
    from datalake_spark.functions.vectors import quantize_micro_unit

    q = queries.select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("q_vec"),
        quantize_micro_unit(F.col(vec_col)).alias("_qv"),
    )
    q_probe = (
        q.join(F.broadcast(centroids))
        .withColumn("sim", cosine_micro_exact("q_vec", "cent_vec"))
        .withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("cent_id"))
            ),
        )
        .filter(F.col("rk") <= nprobe)
        .select("q_id", "cent_id")
    )
    d_sub = _pq_d_sub(m)
    if residual:
        cm = centroids.select(
            "cent_id", quantize_micro_unit(F.col("cent_vec")).alias("_cm")
        )
        # per-(query, probed cell) residual, then slice: the ADC table
        # carries cent_id so each cell's codes meet their own table rows
        qres = (
            q.join(F.broadcast(q_probe), "q_id")
            .join(F.broadcast(cm), "cent_id")
            .select(
                "q_id", "cent_id",
                F.zip_with("_qv", "_cm", lambda a, b: a - b).alias("_qv"),
            )
        )
        qsub = qres.select(
            "q_id", "cent_id",
            F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("sub"),
            F.slice(F.col("_qv"), F.col("sub") * d_sub + 1, d_sub).alias(
                "qv_micro"
            ),
        )
        table_keys = ["q_id", "cent_id", "sub", "code"]
    else:
        qsub = q.select(
            "q_id",
            F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("sub"),
            F.slice(F.col("_qv"), F.col("sub") * d_sub + 1, d_sub).alias(
                "qv_micro"
            ),
        )
        table_keys = ["q_id", "sub", "code"]
    zero = F.lit(0).cast("long")
    dist = F.aggregate(
        F.zip_with(
            F.col("qv_micro"), F.col("cb_micro"),
            lambda a, b: (a - b) * (a - b),
        ),
        zero,
        lambda acc, x: acc + x,
    )
    qtable = (
        qsub.join(F.broadcast(codebooks), "sub")
        .withColumn("_dist", dist)
        .select(*[c for c in table_keys if c != "code"], "code", "_dist")
    )
    # probe-pruned ADC: codes ⋈ broadcast(probe) on the cell key — on a
    # cent_id-partitioned parquet index this is the partition-pruning
    # read; qtable (|Q|·m·ksub rows, ·nprobe when residual) broadcasts
    # like pq_search's
    adc = (
        codes.join(F.broadcast(q_probe), "cent_id")
        .join(F.broadcast(qtable), table_keys)
        .groupBy("q_id", "c_id")
        .agg(F.sum("_dist").alias("adc"))
    )
    w = W.partitionBy("q_id").orderBy("adc", "c_id")
    return adc.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= k
    )


def ivfpq_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 10,
    num_centroids: int = 16,
    nprobe: int = 4,
    m: int = 8,
    ksub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_iters: int = 2,
    residual: bool = False,
) -> DataFrame:
    """IVF-PQ ANN in one call: :func:`ivf_index_build` (coarse cells) +
    :func:`pq_train`/:func:`pq_encode` (cell-tagged codes) +
    :func:`ivfpq_search`.  A standing pipeline builds once and writes
    centroids/codebooks/codes to parquet (codes partitioned by cent_id),
    then serves every search from the stored index.

    ``residual=True`` is the full IVFADC form: codebooks train on and
    codes quantize the per-cell residuals, and the search subtracts the
    probed cell's centroid from the query — same plan shape, better
    quantization fit (the codebook budget models a zero-centered
    distribution instead of the raw sphere)."""
    cents, assign = ivf_index_build(
        candidates, num_centroids, id_col=id_col, vec_col=vec_col
    )
    # assign carries (c_id, c_vec, cent_id) row-locally (r14): train and
    # encode read the cell tag off the row instead of joining a separate
    # corpus-sized cells frame back on c_id
    rcents = cents if residual else None
    if residual:
        cb = pq_train(assign, m=m, ksub=ksub, iters=train_iters,
                      id_col="c_id", vec_col="c_vec",
                      cells="cent_id", centroids=rcents)
    else:
        cb = pq_train(candidates, m=m, ksub=ksub, iters=train_iters,
                      id_col=id_col, vec_col=vec_col)
    codes = pq_encode(
        assign, cb, m=m, id_col="c_id", vec_col="c_vec",
        cells="cent_id", centroids=rcents,
    )
    return ivfpq_search(
        cents, cb, codes, queries, k=k, nprobe=nprobe, m=m,
        id_col=id_col, vec_col=vec_col, residual=residual,
    )
