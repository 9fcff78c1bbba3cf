"""End-to-end corpus curation: quality rules → near-dup removal →
deterministic training shards, as one composable pipeline.

Each stage is an operator that exists (and is verified) on its own —
``quality_rules`` is the generic form of the driver-gated
``c4_filter_cascade`` query, dedup is :func:`operators.dedup.dedup_corpus`,
the writer is :func:`export.write_training_shards`.  This module is the
user story: a reference user with a raw document table runs one call and
gets audited training shards.

Scale notes: the rule pass is pure Column work plus one window shuffle on
the content fingerprint; dedup cost is the chosen tier's (LSH-banded by
default); the export adds one hash-partitioned write.  The report numbers
ride existing aggregations — no extra full-table passes beyond the two
count jobs the report needs, and those are single-column scans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datalake_spark.export import write_training_shards
from datalake_spark.operators.dedup import dedup_corpus
from datalake_spark.session import persisted, released

DEFAULT_STOPWORDS = ("the", "a")


def load_classifier_weights(spark, path: str, scale: float = 1_000_000.0) -> DataFrame:
    """Load a trained (term, weight) table into the exact-integer
    (term, weight_micro) frame :func:`queries.pipeline_q.
    classify_quality_weighted` consumes — the user-facing path from a
    fastText-style model file to corpus inference.

    Accepted formats (by extension):

    - ``.parquet``: columns ``term`` + ``weight_micro`` (used verbatim)
      or ``term`` + ``weight`` (scaled to micro-ints here);
    - anything else is read as text (fastText ``.vec`` style / TSV /
      space-separated): each line ``term <ws> weight``; extra columns
      beyond the weight are ignored, and an optional ``<count> <dim>``
      header line (both tokens bare integers — the fastText convention)
      is dropped.  A REAL all-digit term with a bare-integer weight is
      indistinguishable from that header; weights in practice carry a
      sign or decimal point, and micro-scaling makes integers rare.

    Weights quantize as FLOOR(w*scale + 0.5) — the repo's standing
    cross-engine exact-int discipline (functions/vectors.py): scoring
    becomes pure BIGINT folds, so inference verdicts are partitioning-
    and engine-invariant.  The read is a distributed Spark scan either
    way — a 10 M-term vocabulary is a normal small DataFrame, and the
    consumer broadcasts it."""
    if path.endswith(".parquet"):
        w = spark.read.parquet(path)
        if "weight_micro" in w.columns:
            return w.select("term", F.col("weight_micro").cast("long"))
        return w.select(
            "term",
            F.floor(F.col("weight").cast("double") * scale + F.lit(0.5))
            .cast("long")
            .alias("weight_micro"),
        )
    lines = spark.read.text(path)
    parts = F.split(F.trim(F.col("value")), r"\s+")
    return (
        lines.select(
            # F.get (not getItem): a blank/short line yields NULL instead
            # of an array-index error, and the filter drops it
            F.get(parts, 0).alias("term"),
            F.get(parts, 1).alias("_w_raw"),
        )
        .filter(
            F.col("_w_raw").isNotNull()
            & (F.length("term") > 0)
            # fastText "<n_terms> <dim>" header: both tokens bare ints
            & ~(
                F.col("term").rlike(r"^\d+$")
                & F.col("_w_raw").rlike(r"^\d+$")
            )
        )
        .select(
            "term",
            F.floor(F.col("_w_raw").cast("double") * scale + F.lit(0.5))
            .cast("long")
            .alias("weight_micro"),
        )
        .filter(F.col("weight_micro").isNotNull())
    )


def classify_corpus(
    docs: DataFrame,
    weights,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Facade: run the weighted quality classifier over a corpus.
    ``weights`` is either the (term, weight_micro) DataFrame or a PATH
    accepted by :func:`load_classifier_weights`."""
    from datalake_spark.queries.pipeline_q import classify_quality_weighted

    if isinstance(weights, str):
        weights = load_classifier_weights(
            docs.sparkSession, weights
        )
    return classify_quality_weighted(
        docs, weights, id_col=id_col, text_col=text_col
    )


def quality_rules(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str | None = "lang",
    langs: tuple[str, ...] = ("en",),
    min_words: int = 20,
    max_words: int = 200,
    stop_ratio_den: int = 20,
    stopwords: tuple[str, ...] = DEFAULT_STOPWORDS,
    fp_tokens: int = 6,
    canonicality: bool = True,
) -> DataFrame:
    """Per-document keep/drop with per-rule attribution columns
    (``len_ok``, ``stop_ok``, ``lang_ok``, ``is_canonical``, ``keep``).

    The stopword floor is the integer comparison
    ``n_stop * stop_ratio_den >= n_words`` (ratio ≥ 1/den) — no float
    thresholds, so the decision is engine-portable.  Canonicality keeps
    only the min-id holder of each ``fp_tokens``-token md5 prefix
    fingerprint (the dedup_exact fingerprint).  One window shuffle on the
    fingerprint; everything else is map-side Column work.

    ``canonicality=False`` skips the fingerprint window (a full-history
    MIN — not a streaming-safe aggregate) and reports ``is_canonical``
    as true; streaming callers own exact-dup removal via the
    watermark-bounded hash dedup instead (streaming/curation.py).
    """
    from pyspark.sql import Window

    toks = F.split(F.col(text_col), " ")
    fp = F.md5(F.concat_ws(" ", F.slice(toks, 1, fp_tokens)))
    enriched = df.withColumn("_n_words", F.size(toks).cast("bigint")).withColumn(
        "_n_stop",
        F.size(F.filter(toks, lambda x: x.isin(*stopwords))).cast("bigint"),
    )
    if canonicality:
        enriched = enriched.withColumn("_fp", fp).withColumn(
            "_fp_keeper", F.min(id_col).over(Window.partitionBy("_fp"))
        )
    else:
        enriched = enriched.withColumn("_fp", F.lit(None)).withColumn(
            "_fp_keeper", F.col(id_col)
        )
    lang_ok = (
        F.col(lang_col).isin(*langs) if lang_col is not None else F.lit(True)
    )
    out = enriched.withColumn(
        "len_ok",
        (F.col("_n_words") >= min_words) & (F.col("_n_words") <= max_words),
    ).withColumn(
        "stop_ok",
        F.col("_n_stop") * stop_ratio_den >= F.col("_n_words"),
    ).withColumn("lang_ok", lang_ok).withColumn(
        "is_canonical", F.col(id_col) == F.col("_fp_keeper")
    ).withColumn(
        "keep",
        F.col("len_ok") & F.col("stop_ok") & F.col("lang_ok")
        & F.col("is_canonical"),
    )
    return out.drop("_n_words", "_n_stop", "_fp", "_fp_keeper")


RULE_COLS = ("len_ok", "stop_ok", "lang_ok", "is_canonical", "keep")


def curate_corpus(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dedup_strategy: str = "minhash",
    dedup_threshold: float = 0.5,
    rule_kwargs: dict | None = None,
    quarantine_path: str | None = None,
    span_dedup_k: int | None = None,
    benchmark: DataFrame | None = None,
    decontaminate_n: int = 13,
    decontaminate_min_hits: int = 1,
    quality_lm_threshold: int | None = None,
    lm_reference: DataFrame | None = None,
    dsir_target: DataFrame | None = None,
    dsir_top_n: int | None = None,
    dsir_num_buckets: int = 1024,
    dsir_after_dedup: bool = False,
    **dedup_kwargs,
) -> DataFrame:
    """Quality rules then near-dup dedup; returns the surviving rows of
    ``df`` (original columns only).

    With ``quality_lm_threshold`` (micro units — the exact-integer mean
    token probability of operators/lm.lm_score), a CCNet-style LM
    quality stage runs right after the rules: a bigram model trains on
    ``lm_reference`` (its own clean slice when given, else the
    rule-surviving corpus itself) and docs scoring BELOW the threshold
    are dropped (quarantine stage ``low_lm_quality``).  Docs with no
    signal (under 2 tokens, score sentinel -1) always pass — absence of
    evidence is not junk evidence.  Runs before decontamination/dedup:
    likelihood filtering is the cheap stage, so it shrinks what the
    expensive stages see (the CCNet pipeline order).

    With ``dsir_target`` + ``dsir_top_n``, a DSIR data-selection stage
    (Xie et al. 2023; operators/dsir.py) runs after the LM stage: an
    importance model trains on the target slice against the surviving
    corpus, and only the ``dsir_top_n`` documents by importance weight
    are kept (quarantine stage ``dsir_unselected``).  By default
    selection runs BEFORE decontamination/dedup for the same cost
    reason as the LM stage — scoring is one broadcast join, so it
    shrinks what the expensive stages see.  CAVEAT of that default: a
    target-like 100-way duplicate cluster consumes up to 100 of the
    ``dsir_top_n`` slots and is then mostly removed by dedup, so the
    final kept count can land well below ``dsir_top_n`` (the export
    manifest reports the real ``n_kept``), and the raw model trains on
    the dup-skewed distribution.  For corpora with heavy duplication
    pass ``dsir_after_dedup=True``: the stage then runs LAST (after
    near-dup and span dedup, so it scores and selects over the cleaned
    corpus, the order the DSIR paper assumes) and the kept count equals
    ``min(dsir_top_n, deduped corpus size)``; the tradeoff is that
    decontamination/dedup see the unselected corpus.

    With ``benchmark`` (an eval-set DataFrame with the same text
    column), a decontamination stage drops documents sharing >=
    ``decontaminate_min_hits`` distinct ``decontaminate_n``-grams with
    it (operators/dedup.decontaminate — the pre-training n-gram
    collision rule).  It runs after the rules (smaller corpus) and
    before dedup (no point clustering docs that are leaving);
    quarantined docs record stage ``contaminated``.

    With ``span_dedup_k``, a third stage runs cross-document duplicated-
    span removal (operators/dedup.py:duplicated_span_dedup) over the
    near-dup survivors: every k-word gram shared by >= 2 surviving docs is
    deleted IN PLACE (the text column is replaced by the reassembled
    remainder), and docs scrubbed down to nothing are dropped.  Whole-doc
    dedup first, span dedup second is the cost-correct order — cluster
    losers are gone before their spans are counted.

    With ``quarantine_path``, every dropped document is written there
    with a ``drop_stage`` column plus the per-rule attribution booleans —
    the audit trail that lets a curation run answer "why is doc X not in
    the training set" without re-running anything.  Rule failures record
    their failing rules; near-dup losers record stage ``near_dup`` (their
    cluster canonical survived); span-emptied docs record ``span_empty``.
    """
    ruled = quality_rules(
        df, text_col=text_col, id_col=id_col, **(rule_kwargs or {})
    )
    kept = ruled.filter(F.col("keep")).select(*df.columns)
    lm_dropped = None
    if quality_lm_threshold is not None:
        from datalake_spark.operators.lm import lm_score, lm_train

        model = lm_train(
            lm_reference if lm_reference is not None else kept,
            text_col=text_col, id_col=id_col,
        )
        low = (
            lm_score(kept, model, text_col=text_col, id_col=id_col)
            .filter(
                (F.col("lm_score_micro") >= 0)
                & (F.col("lm_score_micro") < quality_lm_threshold)
            )
            .select(F.col(id_col).alias("_lmid"))
        )
        if quarantine_path is not None:
            lm_dropped = kept.join(
                low, F.col(id_col) == F.col("_lmid")
            ).select(
                *df.columns,
                *[F.lit(True).alias(c) for c in RULE_COLS],
                F.lit("low_lm_quality").alias("drop_stage"),
            )
        kept = kept.join(low, F.col(id_col) == F.col("_lmid"), "left_anti")
    def _dsir_selected_ids(frame: DataFrame) -> DataFrame:
        """(_dsid) ids of the dsir_top_n docs of ``frame`` by importance
        weight — one feature extraction shared by the raw-count half of
        training and the scoring pass (the lm-stage single-tokenization
        discipline); persisted like the other curation-stage caches,
        until the enclosing ``released()`` scope exits."""
        from datalake_spark.operators.dsir import (
            dsir_sample,
            dsir_train,
            hashed_features,
        )

        fk = persisted(hashed_features(
            frame, text_col=text_col, id_col=id_col,
            num_buckets=dsir_num_buckets,
        ))
        model = dsir_train(
            dsir_target, frame, text_col=text_col, id_col=id_col,
            num_buckets=dsir_num_buckets, features_raw=fk,
        )
        return dsir_sample(
            frame, model, dsir_top_n, text_col=text_col, id_col=id_col,
            num_buckets=dsir_num_buckets, features=fk,
        ).select(F.col(id_col).alias("_dsid"))

    dsir_dropped = None
    run_dsir = dsir_target is not None and dsir_top_n is not None
    if run_dsir and not dsir_after_dedup:
        selected = _dsir_selected_ids(kept)
        if quarantine_path is not None:
            dsir_dropped = kept.join(
                selected, F.col(id_col) == F.col("_dsid"), "left_anti"
            ).select(
                *df.columns,
                *[F.lit(True).alias(c) for c in RULE_COLS],
                F.lit("dsir_unselected").alias("drop_stage"),
            )
        kept = kept.join(
            selected, F.col(id_col) == F.col("_dsid"), "left_semi"
        )
    decon_dropped = None
    if benchmark is not None:
        from datalake_spark.operators.dedup import decontaminate

        dirty = (
            decontaminate(
                kept, benchmark, text_col=text_col, id_col=id_col,
                n=decontaminate_n, min_hits=decontaminate_min_hits,
            )
            .filter(F.col("contaminated"))
            .select(F.col(id_col).alias("_did"))
        )
        if quarantine_path is not None:
            decon_dropped = kept.join(
                dirty, F.col(id_col) == F.col("_did")
            ).select(
                *df.columns,
                *[F.lit(True).alias(c) for c in RULE_COLS],
                F.lit("contaminated").alias("drop_stage"),
            )
        kept = kept.join(dirty, F.col(id_col) == F.col("_did"), "left_anti")
    surviving = dedup_corpus(
        kept,
        text_col=text_col,
        id_col=id_col,
        strategy=dedup_strategy,
        threshold=dedup_threshold,
        **dedup_kwargs,
    )
    span_emptied = None
    if span_dedup_k is not None:
        from datalake_spark.operators.dedup import duplicated_span_dedup

        spans = duplicated_span_dedup(
            surviving, text_col=text_col, id_col=id_col, k=span_dedup_k
        ).select(
            F.col(id_col).alias("_sid"),
            F.col("cleaned_text").alias("_cleaned"),
        )
        rewritten = (
            surviving.join(spans, F.col(id_col) == F.col("_sid"))
            # keep the pre-rewrite text alongside: the quarantine audit
            # trail must store the ORIGINAL document (like rule/near-dup
            # drops do), not the emptied cleaned text — else "why is doc
            # X not in the training set" inspection has nothing to show
            .withColumn("_orig_text", F.col(text_col))
            .withColumn(text_col, F.col("_cleaned"))
        )
        if quarantine_path is not None:
            span_emptied = (
                rewritten.filter(F.col(text_col) == "")
                .withColumn(text_col, F.col("_orig_text"))
                .select(
                    *df.columns,
                    *[F.lit(True).alias(c) for c in RULE_COLS],
                    F.lit("span_empty").alias("drop_stage"),
                )
            )
        surviving = rewritten.filter(F.col(text_col) != "").select(*df.columns)
    dsir_post = run_dsir and dsir_after_dedup
    if dsir_post:
        # after-dedup selection: scores the cleaned (deduped,
        # span-scrubbed) corpus — see the docstring caveat on the
        # pre-dedup default
        selected = _dsir_selected_ids(surviving)
        if quarantine_path is not None:
            # quarantine rows come from the ORIGINAL input, not the
            # span-scrubbed surviving frame: the audit trail must show
            # the document as ingested (the span_empty rule below —
            # a '' or rewritten text answers nothing about why doc X
            # was dropped), so only the DROPPED IDS come from surviving
            dropped_ids = surviving.select(
                F.col(id_col).alias("_dsx")
            ).join(selected, F.col("_dsx") == F.col("_dsid"), "left_anti")
            dsir_dropped = df.join(
                dropped_ids, F.col(id_col) == F.col("_dsx"), "left_semi"
            ).select(
                *df.columns,
                *[F.lit(True).alias(c) for c in RULE_COLS],
                F.lit("dsir_unselected").alias("drop_stage"),
            )
        surviving = surviving.join(
            selected, F.col(id_col) == F.col("_dsid"), "left_semi"
        )
    if quarantine_path is not None:
        rule_drops = ruled.filter(~F.col("keep")).select(
            *df.columns, *RULE_COLS, F.lit("rules").alias("drop_stage")
        )
        dup_drops = (
            kept.join(
                surviving.select(F.col(id_col).alias("_kid")),
                F.col(id_col) == F.col("_kid"),
                "left_anti",
            )
            .select(
                *df.columns,
                *[F.lit(True).alias(c) for c in RULE_COLS],
                F.lit("near_dup").alias("drop_stage"),
            )
        )
        if dsir_post and dsir_dropped is not None:
            # after-dedup dsir losers are absent from `surviving`, so
            # the kept-minus-surviving anti-join above would re-report
            # them as near_dup — keep the specific stage (the
            # span_empty pattern below)
            dup_drops = dup_drops.join(
                dsir_dropped.select(F.col(id_col).alias("_xid")),
                F.col(id_col) == F.col("_xid"),
                "left_anti",
            )
        drops = rule_drops.unionByName(dup_drops)
        if lm_dropped is not None:
            drops = drops.unionByName(lm_dropped)
        if dsir_dropped is not None:
            drops = drops.unionByName(dsir_dropped)
        if decon_dropped is not None:
            drops = drops.unionByName(decon_dropped)
        if span_emptied is not None:
            # span-emptied ids would otherwise double-report as near_dup
            # (they are absent from `surviving`): keep the specific stage
            drops = drops.join(
                span_emptied.select(F.col(id_col).alias("_eid")),
                F.col(id_col) == F.col("_eid"),
                "left_anti",
            ).unionByName(span_emptied)
        drops.write.mode("overwrite").parquet(quarantine_path)
    return surviving


@released()
def curate_and_export(
    df: DataFrame,
    path: str,
    n_shards: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: str = "shuf42",
    quarantine_path: str | None = None,
    fmt: str = "parquet",
    **curate_kwargs,
) -> dict:
    """The one-call pipeline: curate then shard.  Returns the shard
    manifest extended with a curation report (input / post-curation
    counts and the drop rate).  ``quarantine_path`` writes dropped docs
    with per-rule attribution (see curate_corpus).  ``fmt`` is
    ``parquet`` / ``jsonl`` (write_training_shards) or ``webdataset``
    (tar shards with {key}.txt/{key}.json member pairs) — all three
    share the same seeded membership and order contract.  Every cache
    the curation stages make is released on return."""
    n_input = df.count()
    curated = curate_corpus(
        df,
        text_col=text_col,
        id_col=id_col,
        quarantine_path=quarantine_path,
        **curate_kwargs,
    )
    if fmt == "webdataset":
        from datalake_spark.export import write_webdataset

        manifest = write_webdataset(
            curated, path, n_shards, id_col=id_col, seed=seed,
            text_col=text_col,
        )
    else:
        manifest = write_training_shards(
            curated, path, n_shards, id_col=id_col, seed=seed, fmt=fmt
        )
    manifest["curation"] = {
        "n_input": n_input,
        "n_kept": manifest["n_rows"],
        "drop_rate": round(1.0 - manifest["n_rows"] / max(n_input, 1), 6),
    }
    # re-persist so the on-disk manifest carries the curation report too
    import json
    import os

    from datalake_spark.export import MANIFEST

    with open(os.path.join(path, MANIFEST), "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    return manifest
