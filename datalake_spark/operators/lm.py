"""CCNet-style bigram-LM quality filtering as standing operators
(Wenzek et al. 2020: train a small LM on clean reference text, score the
crawl, filter on likelihood).

The gate query (queries/pipeline_q.lm_quality_score) proved the math in
r10; this module is its productized form (r11): a TRAIN half that emits
a persistable model frame and a SCORE half that consumes it — the
semantic_index_build split — so a curation pipeline trains once on a
reference slice, writes the model to parquet, and scores every later
batch against the standing artifact.

Exactness discipline (the reason this is gateable at all): perplexity is
exp of a MEAN LOG probability and float log-sums are order-dependent —
instead the score is the exact integer arithmetic-mean token probability
in micro units (add-1-smoothed p(r|l) = (c_lr+1)/(c_l+V),
micro = (c_lr+1)*1e6 div (c_l+V), doc score = SUM(p_micro) DIV
n_bigrams), plus the OOV-context count: a monotone low-likelihood signal
that ranks junk exactly like a perplexity threshold at the decision
boundary, with every value engine/partitioning-exact.

At 100 TB: training is one bigram-count shuffle over the reference
slice; the model frame is corpus-vocabulary-sized, so the scoring joins
stay SHUFFLED, never broadcast (the r1 norms lesson) — only the 1-row
vocab-size frame broadcasts.  Scoring is one explode + two key joins +
one per-doc re-agg, all key-distributed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datalake_spark.session import persisted


def lm_bigrams(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, l, r): whitespace-token bigrams, one row per position.
    Docs under 2 tokens emit nothing.  Split once into an array column,
    then transform over it (never element_at(split(...)) per position —
    the O(words²) re-split anti-pattern)."""
    parts = df.select(
        F.col(id_col).alias("doc_id"),
        F.split(F.col(text_col), " ").alias("_parts"),
    )
    return parts.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("_parts") >= 2,
                F.expr(
                    "transform(sequence(1, size(_parts) - 1), "
                    "i -> struct(element_at(_parts, i) as l, "
                    "element_at(_parts, i + 1) as r))"
                ),
            ).otherwise(F.array().cast("array<struct<l:string,r:string>>"))
        ).alias("b"),
    ).select("doc_id", F.col("b.l").alias("l"), F.col("b.r").alias("r"))


def lm_train(
    reference: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bigrams: DataFrame | None = None,
) -> DataFrame:
    """Train the bigram model as one PERSISTABLE frame:
    (l, r, c_lr, c_l, v_sz) — pair count, left-context marginal
    (denormalized per pair row) and the vocabulary size (constant
    column), i.e. everything :func:`lm_score` needs from a single
    parquet artifact.  ``bigrams`` (optional, (doc_id, l, r)) reuses an
    already-exploded frame so a caller scoring the same corpus pays one
    tokenization (the gate query's shape).  One count shuffle + one
    marginal re-agg; the model is vocabulary-sized."""
    bi = bigrams if bigrams is not None else lm_bigrams(
        reference, text_col=text_col, id_col=id_col
    )
    # cxy feeds the marginal, the vocab count, and the output join —
    # persist per the shared-frame discipline (or the reference corpus
    # re-tokenizes three times)
    cxy = persisted(
        bi.groupBy("l", "r").agg(F.count(F.lit(1)).alias("c_lr"))
    )
    cx = cxy.groupBy("l").agg(F.sum("c_lr").alias("c_l"))
    vocab = cxy.select(F.explode(F.array("l", "r")).alias("w")).agg(
        F.count_distinct("w").alias("v_sz")
    )
    return cxy.join(cx, "l").crossJoin(F.broadcast(vocab)).select(
        "l", "r", "c_lr", "c_l", "v_sz"
    )


def lm_score(
    docs: DataFrame,
    model: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bigrams: DataFrame | None = None,
) -> DataFrame:
    """Score every document against a trained (possibly parquet-reloaded)
    model frame: (doc_id, n_bigrams, oov_contexts, lm_score_micro).
    Sub-2-token docs carry no signal and score the pinned -1 sentinel.
    An EMPTY model (no reference doc had 2 tokens) scores everything as
    all-OOV with the divisor pinned via GREATEST(v_sz, 1) — defined, not
    an ANSI divide-by-zero job kill."""
    bi = bigrams if bigrams is not None else lm_bigrams(
        docs, text_col=text_col, id_col=id_col
    )
    pair = model.select("l", "r", "c_lr")
    # c_l is functionally dependent on l in the model frame; the distinct
    # rebuilds the marginal for OOV-pair-but-known-context joins
    ctx = model.select("l", "c_l").distinct()
    vocab = model.agg(
        F.coalesce(F.max("v_sz"), F.lit(0)).cast("long").alias("v_sz")
    )
    scored = (
        bi.join(pair, ["l", "r"], "left")
        .join(ctx, "l", "left")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            F.expr(
                "(COALESCE(c_lr, 0) + 1) * 1000000 DIV "
                "(COALESCE(c_l, 0) + GREATEST(v_sz, 1))"
            ).alias("_p_micro"),
            F.when(F.col("c_l").isNull(), F.lit(1)).otherwise(F.lit(0))
            .alias("_oov"),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("_oov").alias("oov_contexts"),
            F.expr("SUM(_p_micro) DIV COUNT(1)").alias("lm_score_micro"),
        )
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(scored, "doc_id", "left")
        .select(
            F.col("doc_id").alias(id_col),
            F.coalesce("n_bigrams", F.lit(0)).cast("bigint")
            .alias("n_bigrams"),
            F.coalesce("oov_contexts", F.lit(0)).cast("bigint")
            .alias("oov_contexts"),
            F.coalesce("lm_score_micro", F.lit(-1)).cast("bigint")
            .alias("lm_score_micro"),
        )
    )
