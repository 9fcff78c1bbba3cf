"""DSIR — Data Selection with Importance Resampling (Xie et al. 2023,
NeurIPS): pick pretraining documents whose hashed-n-gram distribution
looks like a TARGET corpus, by importance weights between two bag-of-
hashed-ngrams unigram models.

    features(x)       = word unigrams + bigrams, hashed into B buckets
    log w(x)          = sum over feature occurrences f of
                        log p_target(bucket(f)) - log p_raw(bucket(f))
    select            = top-n by weight (the paper resamples with Gumbel
                        noise; the deterministic top-n is the gateable
                        form and the limit of the temperature-0 sampler —
                        deviation documented, like lm.py's micro-mean)

Exactness discipline: probabilities are add-1-smoothed ratios of BIGINT
counts, p(b) = (c_b + 1)/(total + B), and the log is
functions/intmath.log2_fp — the fixed-point integer digit recurrence
both engines compute bit-identically — so every per-bucket log-ratio
and every per-doc weight is a BIGINT the DuckDB oracle reproduces
exactly (no float log-sums anywhere, the lm.py precedent).

Split (the lm_train/lm_score shape): :func:`dsir_train` emits a
persistable B-row model frame; :func:`dsir_score` consumes it (possibly
parquet-reloaded); :func:`dsir_sample` is the top-n selection.

At 100 TB: training is two feature-count shuffles (target + raw) that
reduce to B-row frames; scoring is one explode + a B-row BROADCAST join
(the model is parameter-sized like PQ codebooks, not corpus-sized — the
r1 norms lesson does not apply) + one per-doc re-agg; selection is a
distributed TakeOrdered (orderBy + limit), never a single-partition
window.  Hashing is md5hash60 (cross-engine, functions/hashing.py);
callers who do not need the oracle can swap xxhash64 for a few× cheaper
scan, same plan shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datalake_spark.functions.hashing import md5hash60
from datalake_spark.functions.intmath import log2_fp
from datalake_spark.session import persisted


def hashed_features(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_buckets: int = 1024,
) -> DataFrame:
    """(doc_id, bucket): one row per feature OCCURRENCE — word unigrams
    ('u:' || w) and bigrams ('b:' || l || ' ' || r) of the whitespace
    tokenization, hashed into ``num_buckets`` buckets.  Multiplicity is
    kept (DSIR counts occurrences, not distinct features).  Split once
    into an array column, then transform over it (the lm_bigrams
    no-re-split discipline)."""
    return (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.split(F.col(text_col), " ").alias("_parts"),
        )
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "concat("
                    "  transform(_parts, w -> concat('u:', w)),"
                    "  CASE WHEN size(_parts) >= 2 THEN"
                    "    transform(sequence(1, size(_parts) - 1),"
                    "      i -> concat('b:', element_at(_parts, i), ' ',"
                    "                  element_at(_parts, i + 1)))"
                    "  ELSE array() END)"
                )
            ).alias("_feat"),
        )
        .select(
            "doc_id",
            (md5hash60(F.col("_feat")) % num_buckets).alias("bucket"),
        )
    )


def _bucket_counts(feats: DataFrame, num_buckets: int) -> DataFrame:
    """(bucket, c): occurrence counts on the FULL B-row bucket spine
    (empty buckets count 0 — they still carry the smoothing prior)."""
    spine = feats.sparkSession.range(num_buckets).select(
        F.col("id").cast("long").alias("bucket")
    )
    counts = feats.groupBy("bucket").agg(F.count(F.lit(1)).alias("c"))
    return spine.join(counts, "bucket", "left").select(
        "bucket", F.coalesce("c", F.lit(0)).cast("long").alias("c")
    )


def dsir_train(
    target: DataFrame,
    raw: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_buckets: int = 1024,
    features_target: DataFrame | None = None,
    features_raw: DataFrame | None = None,
) -> DataFrame:
    """Train the importance model as one PERSISTABLE B-row frame:
    (bucket, c_t, c_r, llr_fp) where

        llr_fp = log2fp(c_t + 1) + log2fp(R + B)
               - log2fp(c_r + 1) - log2fp(T + B)

    i.e. the fixed-point log2 of the add-1-smoothed probability ratio
    p_target(b)/p_raw(b) (T, R = total feature occurrences; B = bucket
    count).  Two count shuffles reducing to B rows + one 1-row totals
    cross-join; the logs run over the B-row frame, so their cost is
    nil.  Domain note: totals must stay below 2^43 occurrences
    (log2_fp's overflow guard raises in-plan past it) — one trained
    model per ~8·10^12-token reference slice, which is the paper's
    regime (the reference is the SMALL clean corpus).

    ``features_target`` / ``features_raw`` (optional, (doc_id, bucket))
    reuse already-extracted :func:`hashed_features` frames so a caller
    scoring the same corpus pays one tokenization (the lm_train
    ``bigrams=`` hand-off)."""
    ft = features_target if features_target is not None else (
        hashed_features(target, text_col, id_col, num_buckets))
    fr = features_raw if features_raw is not None else (
        hashed_features(raw, text_col, id_col, num_buckets))
    ct = _bucket_counts(ft, num_buckets).select(
        "bucket", F.col("c").alias("c_t")
    )
    cr = _bucket_counts(fr, num_buckets).select(
        "bucket", F.col("c").alias("c_r")
    )
    # persisted: the B-row count frame feeds both the totals aggregate
    # and the output join — else the two corpus-sized count shuffles
    # run twice
    m = persisted(ct.join(cr, "bucket"))
    totals = m.agg(
        (F.sum("c_t") + num_buckets).alias("_tb"),
        (F.sum("c_r") + num_buckets).alias("_rb"),
    )
    return (
        m.crossJoin(F.broadcast(totals))
        .select(
            "bucket", "c_t", "c_r",
            (
                log2_fp("c_t + 1") + log2_fp("_rb")
                - log2_fp("c_r + 1") - log2_fp("_tb")
            ).cast("long").alias("llr_fp"),
        )
    )


def dsir_score(
    docs: DataFrame,
    model: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_buckets: int = 1024,
    features: DataFrame | None = None,
) -> DataFrame:
    """Score every document against a trained (possibly parquet-reloaded)
    model: (doc_id, n_feats, dsir_logw_fp) where dsir_logw_fp is the
    exact BIGINT sum over feature occurrences of the bucket's llr_fp —
    2^20 times the log2 importance weight.  Docs whose text yields no
    features keep n_feats = 0 and weight 0 (the empty product).  The
    model join is BROADCAST — B rows, parameter-sized.  ``features``
    (optional, (doc_id, bucket)) reuses an already-extracted
    :func:`hashed_features` frame — the dsir_train hand-off."""
    feats = features if features is not None else (
        hashed_features(docs, text_col, id_col, num_buckets))
    per_bucket = (
        feats
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .join(F.broadcast(model.select("bucket", "llr_fp")), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("n").alias("n_feats"),
            F.sum(F.col("n") * F.col("llr_fp")).alias("dsir_logw_fp"),
        )
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(per_bucket, "doc_id", "left")
        .select(
            F.col("doc_id").alias(id_col),
            F.coalesce("n_feats", F.lit(0)).cast("long").alias("n_feats"),
            F.coalesce("dsir_logw_fp", F.lit(0)).cast("long")
            .alias("dsir_logw_fp"),
        )
    )


def dsir_sample(
    docs: DataFrame,
    model: DataFrame,
    n: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_buckets: int = 1024,
    features: DataFrame | None = None,
) -> DataFrame:
    """Deterministic top-``n`` selection by importance weight (ties to
    the smaller id — every selection in the repo is replayable).
    orderBy + limit is Spark's distributed TakeOrdered: each partition
    ships its local top-n, no single-partition window.  ``features``
    passes through to :func:`dsir_score`."""
    scored = dsir_score(docs, model, text_col, id_col, num_buckets,
                        features=features)
    return (
        docs.join(scored, id_col)
        .orderBy(F.col("dsir_logw_fp").desc(), F.col(id_col))
        .limit(n)
    )
