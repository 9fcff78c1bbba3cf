"""Benchmark the declared query surface at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints JSON lines in this order:
  1. compact   {"metric", "value", "unit", "sf", "canary_sec"} — short
     enough that a bounded head OR tail capture always parses the
     headline number
  2. detailed  adds per-query timings, the extras, and the anchor ratios
     (full precision; may exceed a bounded tail capture)
  3. per_query_extras_sec, three short lines ext1/ext2/ext3 (r15: the
     driver's ~2 KB tail capture must retain per-query seconds —
     PERF_r14 had per_query: {})
  4. compact again WITH "queries" (headline per-query seconds rounded to
     centiseconds) — the driver keeps the LAST ~2000 chars of output, so
     the contract line must FOLLOW the >2KB detail line (r3+r4 both
     ended parsed:null with compact-first-only ordering)

Noise control: a fixed-work CPU canary (100M-row xxhash64 aggregate —
constant work regardless of SF or code under test) is timed min-of-3 at
run start and again at run end.  `canary_sec` vs `CANARY_REF_SEC` (pinned
on an idle r4 machine) measures co-tenant load during the run, and
`vs_anchor_r1_normalized` divides the raw ratios by that factor — the r3
round lost ~40% uniformly to sandbox co-tenants and the artifact could
not prove it.

Each query is materialized through the noop sink so every output column is
computed (a bare .count() would let Catalyst prune the interesting work).
"""

from __future__ import annotations

import json
import os
import sys
import time

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql import types as T  # noqa: E402

from datalake_spark.queries import registry  # noqa: E402
from datalake_spark.session import get_spark  # noqa: E402

# Headline set: the scale-sensitive queries (full-table aggregation, multi-way
# join, window, range join, near-dup self-join, ANN, catalog ops).
HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "q6_forecast_revenue",
    "q10_returned_items",
    "q_tumbling_window",
    "q_topk_per_group",
    "q_window_running",
    "q_distinct_counts",
    "q_range_join",
    "q_pivot",
    "dl_time_interval",
    "dl_latest_all",
    "dl_bucket_fanout",
    "dedup_exact",
    "text_stats",
    "ngram_jaccard",
    "minhash_lsh_dedup",
    "simhash_pairs",
    "ann_srp_topk",
    "embedding_cosine_topk",
    "asof_last_signup",
    "sessionize",
    "token_bpe_count",
    "doc_chunks",
    "multimodal_features",
]


# Round-1 per-query anchor (BENCH_r01.json, sf0.1, local[32]) — the repo's
# own baseline since the reference publishes no numbers (BASELINE.md).
# Per-round deltas are reported against this; >1.3x slower is flagged.
# NB since r1: simhash_pairs (md5-portable hash + exact hamming<=3 gate) and
# ann_srp_topk (in-plan brute-force recall verify) deliberately do MORE work
# than their r1 forms — their anchors are expected to drift.
ANCHOR_SF01 = {
    "total": 23.941,
    "queries": {
        "q1_pricing_summary": 2.73, "q3_shipping_priority": 1.39,
        "q5_local_supplier": 1.097, "q6_forecast_revenue": 0.36,
        "q10_returned_items": 0.789, "q_tumbling_window": 0.562,
        "q_topk_per_group": 0.602, "q_window_running": 0.559,
        "q_distinct_counts": 1.214, "q_range_join": 0.557,
        "q_pivot": 0.434, "dl_time_interval": 0.665,
        "dl_latest_all": 0.966, "dl_bucket_fanout": 0.764,
        "dedup_exact": 0.318, "text_stats": 0.321,
        "ngram_jaccard": 2.426, "minhash_lsh_dedup": 1.976,
        "simhash_pairs": 1.169, "ann_srp_topk": 1.039,
        "embedding_cosine_topk": 1.479, "asof_last_signup": 0.497,
        "sessionize": 0.619, "token_bpe_count": 0.398,
        "doc_chunks": 0.558, "multimodal_features": 0.451,
    },
}


# Idle-machine min-of-3 canary time, pinned r4 (local[32]).  The canary is
# CONSTANT WORK — co-tenant load shows up as canary_sec / CANARY_REF_SEC > 1.
CANARY_REF_SEC = 0.25

# Era-pinned second reference (r6 finding, BASELINE.md r6 section): a
# controlled idle-machine run measured the canary floor at 0.377-0.398 s —
# the 0.25 s reference is unreachable on CURRENT hardware, i.e. dividing
# by canary/0.25 silently folds ~1.5x of "hardware era" into every
# normalized ratio and under-flags real regressions.  The legacy series
# stays (continuity with r1-r5 records); flagging for anchors taken on
# current hardware (the r5+ extras) uses THIS reference.
CANARY_REF_R6 = 0.39


# Extras anchor, pinned r5 (min-of-2 full runs at load 1.4-1.6, sf0.1,
# local[32]).  The extras are timed SINGLE-pass (min-of-2 only across
# whole-bench repeats), so their single-run variance is higher than the
# headline set's — the flag threshold is 1.5x normalized, vs 1.3x for the
# anchored headline.  A missing key (a new extra) is simply unflagged
# until the next anchor refresh.
ANCHOR_EXTRAS_R5 = {
    "dedup_clusters": 4.57, "kmeans_2iter": 1.347,
    "tfidf_top_terms": 0.989, "pii_scrub": 0.535,
    "stratified_sample": 0.281, "video_roundtrip": 1.628,
    "corpus_report": 0.379, "embedding_dedup_clusters": 2.757,
    "repetition_signals": 1.501, "chargram_commonness": 3.096,
    "c4_filter_cascade": 0.348, "deterministic_shuffle": 0.217,
    "shard_stats": 0.197, "embedding_quantize": 1.152,
    "fuzzy_join_lev1": 0.893, "ngram_novelty": 1.428,
    "near_dup_triangles": 2.382, "audio_sniff_roundtrip": 0.468,
    "span_dedup": 3.131, "vocab_report": 0.433,
    "domain_mix_sample": 0.441, "minhash_incremental": 3.212,
    "funnel_analysis": 0.737, "cohort_retention": 0.632,
    "postings_index": 0.301, "pagerank_2iter": 6.345,
    "pmi_collocations": 1.143, "k_anonymize": 0.641,
    "dl_freshness": 0.844, "rolling_active_users": 1.405,
    "bpe_merges": 0.656, "bpe_segment_corpus": 1.673,
    "q_corr_matrix": 1.82, "event_sequences": 0.614,
    # r5 late additions (single idle-run pins, refresh next round)
    "video_real_roundtrip": 1.576,
}

# r7 anchor refresh (min-of-2 full runs, sf0.1, local[32], era load
# 1.01-1.08 against the 0.39 reference — i.e. measured at current-
# hardware idle): the two extras r6 left unanchored.
# quality_classifier_weighted is pinned at its post-single-tokenize-pass
# shape (the stale 7.56 s pre-fix reading was never a valid anchor).
ANCHOR_EXTRAS_R7 = {
    "quality_classifier_weighted": 2.64,
    "video_sniff_roundtrip": 1.05,
}

# r8 anchor pins (min of 3 full runs, sf0.1, local[32]; the minimum run's
# canary_end was 0.29 = current-hardware idle): the two extras r7 added
# unanchored.  decontamination showed 1.6-3.1 s across the three runs —
# IO/page-cache sensitive like the other scan-bound extras (BASELINE.md
# r7 adjudication) — the idle minimum is the anchor per protocol.
ANCHOR_EXTRAS_R8 = {
    "decontamination": 1.62,
    "sequence_packing": 0.32,
}

# r9 anchor pins (min of 2 full runs, sf0.1, local[32]; the minimum run's
# era load was 0.83 = idle): the two SemDeDup extras r8 added unanchored,
# pinned on their POST-FIX plans (norm broadcasts dropped, incremental
# mode probing a pruned standing index) — the r8 readings (4.3 / 4.2 s)
# were never valid anchors per the quality_classifier_weighted precedent.
ANCHOR_EXTRAS_R9 = {
    "semantic_dedup": 2.90,
    "semantic_incremental": 4.007,
}

# Pinned r10 (min across four full sf0.1 runs, best era load 0.87 idle —
# BASELINE.md r10 section): the three r9 extras on the plans r10 keeps —
# weighted_sample on the map-side-pruned Efraimidis-Spirakis plan,
# budget_mix on the two-level prefix sum, table_profile unchanged (its
# approx twin and the other r10 newcomers enter unanchored, next-round
# protocol as usual).
ANCHOR_EXTRAS_R10 = {
    "weighted_sample": 0.462,
    "budget_mix": 0.76,
    "table_profile": 3.329,
}

# Pinned r11 (min of two full sf0.1 runs under the new warm-scan
# protocol, era loads 1.09/1.24, extras internally min-of-2 now): the
# three r10 newcomers.  ann_ivfpq_topk is DELIBERATELY ~1.7x its r10
# reading — pq_train now runs 2 Lloyd rounds in-plan (recall 0.58 ->
# 0.70; BASELINE.md r11) — so its anchor pins the trained-codebook
# plan.  ann_index_lifecycle (r11 newcomer) enters unanchored per
# protocol.
ANCHOR_EXTRAS_R11 = {
    "table_profile_approx": 4.812,
    "ann_ivfpq_topk": 10.015,
    "lm_quality_score": 2.189,
}

# Pinned r12 from the r11 closing min-of-2 readings (BASELINE.md "r11
# closing runs": era 1.17, io_era 11.95, flags empty).  dsir_select is
# pinned on its single-tokenization plan.  ann_index_lifecycle was due
# to pin at 8.278 s, but r12 CHANGED its plan (the gate now also
# rebuilds the index — retrain-and-swap — and probes again), so per the
# quality_classifier_weighted precedent the stale reading is not a
# valid anchor: it re-enters unanchored, pin in r13.
ANCHOR_EXTRAS_R12 = {
    "dsir_select": 1.814,
}

# Pinned r13 from the r12 protocol-run minimums (BASELINE.md r12:
# ann_index_lifecycle 22.3 s run 3 / 23.4 run 1; ann_clustered_recall
# 27.0 s run 3 — its 57.6 s first-board reading was cold-start heavy,
# ~27-29 s is the representative warm cost).  Both entries are
# verification pipelines BY DESIGN (the lifecycle gate rebuilds the
# standing index with real parquet writes; clustered_recall runs four
# full ANN pipelines + two brute-force truth sets in one plan), so the
# anchors pin that verification cost, not a serving plan — the serving
# number is ann_serving_search (r13, unanchored first round).
ANCHOR_EXTRAS_R13 = {
    "ann_index_lifecycle": 22.3,
    "ann_clustered_recall": 27.0,
}

# Pinned r14 from the r13 protocol-run minimums (BASELINE.md r13:
# ann_serving_search 0.94-1.0 s warm — search-only over the prebuilt
# standing index; the number that decomposes ann_ivfpq_topk into ~90%
# train+encode verification + ~1 s serving).  ann_index_lifecycle is
# RE-pinned on its r13-grown plan (the null-guard limit-1 scan per
# append): 24.3 s was its r13 protocol reading, normalized 1.09-1.24
# against the stale 22.3 anchor with no plan regression — per the
# quality_classifier_weighted precedent the grown plan re-anchors.
ANCHOR_EXTRAS_R14 = {
    "ann_serving_search": 0.94,
    "ann_index_lifecycle": 24.3,
}


def _serving_search_entry(spark, sf_dir: str):
    """Build a standing IVF-PQ index ONCE (untimed) and return a bench
    entry that times :meth:`IvfPqIndex.search` alone — manifest read,
    driver-side cell probe and ADC tables, one partition-pruned codes
    scan with a per-partition top-k, driver merge.

    Geometry and corpus split match the ann_ivfpq_topk gate entry
    (num_centroids=16, nprobe=4, m=32, ksub=32; queries vec_id < 3,
    corpus the rest), so the two board numbers decompose the in-plan
    pipeline: ann_ivfpq_topk ≈ train + encode + this."""
    import shutil
    import tempfile

    from datalake_spark.operators.ann_index import IvfPqIndex
    from datalake_spark.queries import load

    root = tempfile.mkdtemp(prefix="bench_ann_serving_")
    # rebuilt per bench run; best-effort cleanup of prior CRASHED runs.
    # Liveness is keyed on the creating PID (written into the dir), not
    # on mtime: an age gate alone would delete a live serving index
    # from under a concurrent bench whose run exceeds the age (r13
    # advisor finding).  A dir with no pid file is pre-r14 debris and
    # falls back to the old 2 h age gate.
    with open(os.path.join(root, ".bench_pid"), "w") as f:
        f.write(str(os.getpid()))

    def _dead(pidfile: str) -> bool:
        try:
            with open(pidfile) as fh:
                pid = int(fh.read().strip())
            os.kill(pid, 0)  # signal 0: existence probe only
            return False
        except (OSError, ValueError):
            # no such process (or unreadable pid file) -> sweepable;
            # EPERM would mean a live foreign-user process, but bench
            # dirs are same-user by construction
            return True

    for stale in os.listdir(tempfile.gettempdir()):
        p = os.path.join(tempfile.gettempdir(), stale)
        if (not stale.startswith("bench_ann_serving_")
                or stale == os.path.basename(root)):
            continue
        pidfile = os.path.join(p, ".bench_pid")
        try:
            sweep = (
                _dead(pidfile) if os.path.exists(pidfile)
                else (time.time() - os.path.getmtime(p)) > 7200
            )
        except OSError:
            continue
        if sweep:
            shutil.rmtree(p, ignore_errors=True)
    idx = IvfPqIndex(
        spark, root, num_centroids=16, m=32, ksub=32, train_iters=2
    )
    idx.build(load(spark, sf_dir, "embeddings").filter("vec_id >= 3"))

    def _entry(s, d):
        q = load(s, d, "embeddings").filter("vec_id < 3")
        return idx.search(q, k=3, nprobe=4)

    return _entry


def _canary(spark) -> float:
    """Fixed-work CPU probe: 100M xxhash64-of-string rows, map-side agg.
    No table reads, no shuffle — measures available CPU, nothing else."""
    best = None
    for _ in range(3):
        t0 = time.time()
        (
            spark.range(0, 100_000_000, 1, 32)
            .select(
                (F.xxhash64(F.col("id").cast("string")) % 1000000).alias("h")
            )
            .agg(F.sum("h").alias("s"), F.count(F.lit(1)).alias("n"))
            .write.mode("overwrite")
            .format("noop")
            .save()
        )
        dt = time.time() - t0
        best = dt if best is None or dt < best else best
    return round(best, 3)


_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


def _io_probe_and_warm(spark, sf_dir: str) -> tuple[float, float]:
    """r11 IO-robustness protocol (BASELINE.md): the recorded bench run
    landed in a sandbox IO storm 3 of the last 4 rounds, costing a manual
    same-code A/B adjudication each time (r7/r9/r10 — raw flags moving
    RANDOMLY between untouched scan-bound queries, the canary-blind
    signature, pinned by the minhash cold/warm solo probe).  This
    automates that probe and removes the exposure:

    - cold/warm scan probe: documents.parquet (the biggest text table,
      the minhash recipe) is scanned twice AS THE FIRST TABLE TOUCH;
      cold/warm >> 1 marks a cold-IO era in the artifact itself.
    - warm-scan pre-pass: every input table is then scanned once
      untimed, so the TIMED queries run against a page-cache-warm store
      and measure compute, not the co-tenant IO lottery.  (At 100 TB a
      bench would never fit cache — but this bench's job is detecting
      PLAN regressions at sf0.1, and IO noise is exactly what it must
      not measure.)
    """
    from datalake_spark.queries import load

    def _scan(table: str) -> float:
        t0 = time.time()
        load(spark, sf_dir, table).write.mode("overwrite").format(
            "noop"
        ).save()
        return round(time.time() - t0, 3)

    cold = _scan("documents")
    warm = _scan("documents")
    for t in _TABLES:
        if t != "documents":
            _scan(t)
    return cold, warm


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    spark = get_spark("bench")
    # IO probe FIRST (its cold leg must be the first table touch), then
    # the warm pre-pass over every input table
    io_cold, io_warm = _io_probe_and_warm(spark, sf_dir)
    # untimed warmup: JVM codegen + parquet footer/FS cache + the Python UDF
    # worker pool (first pandas_udf stage otherwise pays ~n_cores process
    # spawns inside whichever query happens to run it first).  The warmup is
    # a REAL hash-aggregate with decimal sums — shaped like q1 — so the
    # first timed query measures steady state, not whole-stage-codegen
    # compilation of the aggregate path (r2 left q1 carrying that tax).
    (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(20,4)")).alias("wq"),
            F.avg("l_discount").alias("wd"),
            F.count(F.lit(1)).alias("wn"),
        )
        .write.mode("overwrite")
        .format("noop")
        .save()
    )

    @F.pandas_udf(T.LongType())
    def _warm(x: pd.Series) -> pd.Series:
        return x

    spark.range(10000).repartition(64).select(_warm("id")).write.mode(
        "overwrite"
    ).format("noop").save()
    canary_start = _canary(spark)
    qs = {q.name: q.build for q in registry()}
    # battery-folded sub-queries stay benchable in their raw form (the
    # digest fold is gate plumbing, not the operator under test)
    from datalake_spark.queries.batteries import BATTERY_SUBS

    for subs in BATTERY_SUBS.values():
        for sub in subs:
            qs.setdefault(sub.q.name, sub.q.build)
    # two passes, min per query: single-pass numbers swing ±20% under
    # co-tenant load; the min is the standard low-noise estimator and what
    # the per-round regression flags compare against
    timings: dict[str, float] = {}
    for _pass in range(2):
        for name in HEADLINE:
            build = qs[name]
            # the near-dup queries persist() their sig frames; drop those
            # caches so every timed run pays the one-pass materialization
            # the anchor paid (pass 2 would otherwise read pass 1's cache)
            spark.catalog.clearCache()
            t0 = time.time()
            df = build(spark, sf_dir)
            df.write.mode("overwrite").format("noop").save()
            dt = round(time.time() - t0, 3)
            if name not in timings or dt < timings[name]:
                timings[name] = dt
    total = round(sum(timings.values()), 3)
    # newer operators, timed single-pass and reported SEPARATELY so the
    # headline total stays comparable with the r1 anchor set
    extras = [
        "dedup_clusters", "kmeans_2iter", "tfidf_top_terms", "pii_scrub",
        "stratified_sample", "video_roundtrip", "corpus_report",
        "embedding_dedup_clusters",
        # r4 curation additions
        "repetition_signals", "chargram_commonness", "c4_filter_cascade",
        "deterministic_shuffle", "shard_stats", "embedding_quantize",
        "fuzzy_join_lev1", "ngram_novelty", "near_dup_triangles",
        "audio_sniff_roundtrip",
        # r4 second-session additions
        "span_dedup", "vocab_report", "domain_mix_sample",
        "minhash_incremental", "funnel_analysis", "cohort_retention",
        "postings_index", "pagerank_2iter", "pmi_collocations",
        "k_anonymize", "dl_freshness", "rolling_active_users",
        "bpe_merges", "bpe_segment_corpus", "q_corr_matrix",
        "event_sequences",
        # r5 additions
        "video_real_roundtrip",
        # r6 additions (no frozen anchor yet — first round on the board)
        "quality_classifier_weighted", "video_sniff_roundtrip",
        # r7 additions (anchored r8: ANCHOR_EXTRAS_R8)
        "decontamination", "sequence_packing",
        # r8 additions (anchored r9: ANCHOR_EXTRAS_R9, post-fix plans)
        "semantic_dedup", "semantic_incremental",
        # r9 additions (anchored r10: ANCHOR_EXTRAS_R10 — weighted_sample
        # and budget_mix on their r10 scale-safe plans)
        "weighted_sample", "budget_mix", "table_profile",
        # r10 additions (anchored r11: ANCHOR_EXTRAS_R11 — ann_ivfpq_topk
        # re-anchored on the trained-codebook plan)
        "table_profile_approx", "ann_ivfpq_topk", "lm_quality_score",
        # r11 additions (dsir_select anchored r12: ANCHOR_EXTRAS_R12;
        # ann_index_lifecycle re-entered unanchored — its r12 plan adds
        # the rebuild + post-rebuild probe)
        "ann_index_lifecycle", "dsir_select",
        # r12 additions (anchored r13: ANCHOR_EXTRAS_R13): four recall
        # pipelines + two brute-force truth sets + the in-plan totals
        # in one entry
        "ann_clustered_recall",
        # r13 addition (no frozen anchor yet — first round on the
        # board): search-only probe of a PREBUILT standing index —
        # the serving cost the train+encode-in-plan ANN entries
        # deliberately do not isolate
        "ann_serving_search",
    ]
    # ann_serving_search: the standing-index architecture claim ("gate
    # cost is verification; serving reads a compressed partition-pruned
    # index") as a measured number.  The index is built ONCE, untimed,
    # with the ann_ivfpq_topk gate geometry over the same corpus split
    # — so (ann_ivfpq_topk − ann_serving_search) ≈ the train+encode
    # cost every in-plan ANN entry pays by design.
    # r14: SPARK_GRAFT_HEADLINE_ONLY=1 skips the extras battery (and
    # the untimed serving-index build that exists only for it) — the
    # knob behind the per-round sf1 SCALING record (BASELINE.md): the
    # headline set re-timed on the 10x tiles answers "did any plan go
    # super-linear between rounds" without the extras' half-hour at 10x.
    if os.environ.get("SPARK_GRAFT_HEADLINE_ONLY"):
        extras = []
    else:
        qs["ann_serving_search"] = _serving_search_entry(spark, sf_dir)
    # r11: extras are min-of-2 too — the single-pass exposure was the
    # other half of the per-round IO-era adjudication tax (the extras
    # carry the 1.5x flag threshold precisely because they were noisier;
    # min-of-2 + the warm pre-pass removes most of that variance)
    extra_timings: dict[str, float] = {}
    for _pass in range(2):
        for name in extras:
            if name not in qs:
                continue
            spark.catalog.clearCache()
            t0 = time.time()
            qs[name](spark, sf_dir).write.mode("overwrite").format(
                "noop"
            ).save()
            dt = round(time.time() - t0, 3)
            if name not in extra_timings or dt < extra_timings[name]:
                extra_timings[name] = dt
    canary_end = _canary(spark)
    # load factor > 1 means the machine was slower than the idle reference
    # during this run; ratios are normalized by it below.  Mean of the two
    # probes: max would overstate load and mask real regressions, min
    # would understate it and re-flag noise.
    load = round(
        (canary_start + canary_end) / 2 / CANARY_REF_SEC, 2
    )
    # era-pinned load: same probes against the CURRENT-hardware idle floor
    # — the honest co-tenancy factor for anchors taken on this hardware
    load_era = round(
        (canary_start + canary_end) / 2 / CANARY_REF_R6, 2
    )
    compact = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "canary_sec": [canary_start, canary_end],
        "canary_ref_sec": CANARY_REF_SEC,
        "canary_load_factor": load,
        "canary_ref_r6_sec": CANARY_REF_R6,
        "canary_load_factor_r6": load_era,
        # cold/warm documents-scan ratio: >> 1 marks a cold-IO era (the
        # r10 minhash solo-probe recipe, automated); the timed queries
        # themselves ran page-cache-warm either way (pre-pass)
        "io_scan_cold_sec": io_cold,
        "io_scan_warm_sec": io_warm,
        "io_era": round(io_cold / io_warm, 2) if io_warm > 0 else -1.0,
    }
    # line 1: always parseable under a bounded tail capture
    print(json.dumps(compact))
    out = dict(compact)
    out["queries"] = timings
    out["extra_queries"] = extra_timings
    if abs(sf - 0.1) < 1e-9:
        anchor = ANCHOR_SF01["queries"]
        out["anchor_total_r1"] = ANCHOR_SF01["total"]
        out["vs_anchor_r1"] = {
            n: round(t / anchor[n], 2) for n, t in timings.items() if n in anchor
        }
        # raw flags, then the canary-normalized view: a query is only a
        # real regression if it is slow AFTER dividing out machine load
        out["vs_anchor_r1_normalized"] = {
            n: round(r / max(load, 1.0), 2)
            for n, r in out["vs_anchor_r1"].items()
        }
        out["flagged_over_1p3x"] = sorted(
            n for n, r in out["vs_anchor_r1"].items() if r > 1.3
        )
        out["flagged_over_1p3x_normalized"] = sorted(
            n
            for n, r in out["vs_anchor_r1_normalized"].items()
            if r > 1.3
        )
        # extras regression flags against the r5/r7 anchors (single-pass
        # timings -> higher variance -> 1.5x normalized threshold).  Both
        # normalization series are reported; FLAGGING uses the era-pinned
        # one: these anchors were taken on current hardware (canary floor
        # ~0.39), so dividing by the legacy 0.25-referenced load factor
        # shrinks every ratio by ~1.5x and hides real regressions.
        anchor_extras = {
            **ANCHOR_EXTRAS_R5, **ANCHOR_EXTRAS_R7, **ANCHOR_EXTRAS_R8,
            **ANCHOR_EXTRAS_R9, **ANCHOR_EXTRAS_R10, **ANCHOR_EXTRAS_R11,
            **ANCHOR_EXTRAS_R12, **ANCHOR_EXTRAS_R13, **ANCHOR_EXTRAS_R14,
        }
        out["vs_anchor_extras_r5_normalized"] = {
            n: round(t / anchor_extras[n] / max(load, 1.0), 2)
            for n, t in extra_timings.items()
            if n in anchor_extras
        }
        out["vs_anchor_extras_normalized_era"] = {
            n: round(t / anchor_extras[n] / max(load_era, 1.0), 2)
            for n, t in extra_timings.items()
            if n in anchor_extras
        }
        out["extras_flagged_over_1p5x_normalized"] = sorted(
            n
            for n, r in out["vs_anchor_extras_normalized_era"].items()
            if r > 1.5
        )
        # standing adjudications (see BASELINE.md): these two deliberately
        # do more work than their r1 anchors measured
        out["adjudicated"] = {
            "ann_srp_topk": "in-plan brute-force recall verdict since r2",
            "simhash_pairs": "md5-portable hash + exact hamming gate since r3",
            "raw_flags_era_note": (
                "raw ratios vs the r1 anchor are era-confounded: the r1 "
                "numbers were taken on hardware whose canary floor was "
                "0.25 s vs 0.39 s now (BASELINE.md r6) — the normalized "
                "series divides that out and is the flag that matters; "
                "minhash_lsh_dedup normalized returned to 1.0 in r7 after "
                "the sentinel fold (was 1.22 in r6)"
            ),
        }
    # line 2: full detail (may exceed a bounded tail capture)
    print(json.dumps(out))
    # r15 (VERDICT r14 item 1): per-query seconds must SURVIVE the
    # driver's ~2 KB tail capture — PERF_r14.json had per_query: {},
    # geomean null and an empty scaling block because the timings lived
    # only in the oversized detail line above.  The extras board is
    # emitted as three short lines (each well under the capture on its
    # own), ordered so the entries most under optimization (ann_*,
    # semantic_*, table_profile — the tail of the sorted list) sit in
    # the LAST extras line, closest to the end of the capture window.
    # Values rounded to centiseconds; compact separators.  The detail
    # line above keeps the full-precision numbers (old format retained).
    sep = (",", ":")

    def _r(t: float) -> float:
        # centiseconds below 1 s, deciseconds above: the whole tail
        # block (three extras lines + the contract line) must fit the
        # driver's EXACTLY-2000-char capture (measured from
        # BENCH_r12-14.json), and full precision stays on the detail
        # line.  The ±0.05 s quantum is far under the bench's own
        # documented single-pass noise (±20%).
        return round(t, 2 if t < 1 else 1)

    if extra_timings:
        # DESCENDING name order: if a stricter-than-expected capture
        # clips the head of part 1, the clipped entries are the z-end
        # (video_*, weighted_sample — the stable multimodal/sampling
        # entries) and the ann_* family lands at the very end of the
        # last part, maximally protected next to the contract line.
        # Three parts so a clipped line costs a third of the board,
        # not half.
        enames = sorted(extra_timings, reverse=True)
        step = (len(enames) + 2) // 3
        for part in range(3):
            chunk = enames[part * step:(part + 1) * step]
            if not chunk:
                continue
            # key "extN" = extras seconds, part N of 3 (kept terse: the
            # whole tail block must fit the driver's exactly-2000-char
            # capture; the sf0.001 format check measured 2000 on the
            # nose with longer keys)
            print(json.dumps(
                {f"ext{part + 1}":
                    {n: _r(extra_timings[n]) for n in chunk}},
                separators=sep,
            ))
    # final line: the driver contract line — metric/value/unit/sf AND
    # the per-query headline seconds (rounded, see _r) so the line
    # always parses whole from a tail-bounded capture.  Emitted LAST so
    # a tail capture keeps it.  Fields derivable from `canary_sec` plus
    # the pinned constants in this file (the two refs, the legacy load
    # factor, the raw cold/warm scan pair behind io_era) are omitted
    # HERE only — lines 1-2 carry the full envelope; the whole tail
    # block (three extras lines + this line) must stay under ~2000 chars
    # or the driver's capture clips a line and loses it entirely.
    compact_q = {
        "metric": compact["metric"],
        "value": compact["value"],
        "unit": compact["unit"],
        "sf": compact["sf"],
        "queries": {n: _r(t) for n, t in timings.items()},
        "canary_sec": [round(c, 2) for c in compact["canary_sec"]],
        "canary_load_factor_r6": compact["canary_load_factor_r6"],
        "io_era": compact["io_era"],
    }
    print(json.dumps(compact_q, separators=sep))


if __name__ == "__main__":
    main()
