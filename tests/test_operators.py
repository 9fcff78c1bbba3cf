"""Operator tests: dedup family, similarity search, as-of/range joins,
multimodal plumbing, text functions — all against real data or controlled
frames on a live session."""

from __future__ import annotations

import json
import math

import pytest
from pyspark.sql import functions as F

from datalake_spark.operators import dedup, similarity, asof
from datalake_spark.operators.multimodal import extract_features, MEDIA_SCHEMA
from datalake_spark.functions.text import lang_id, quality_score, token_count
from datalake_spark.functions.hashing import blake2b_udf
from datalake_spark.queries import load
from datalake_spark.session import released
from tests.conftest import SF_DIR, rdd_ids


@pytest.fixture(scope="module")
def docs(spark):
    return load(spark, SF_DIR, "documents").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return load(spark, SF_DIR, "embeddings").cache()


class TestDedup:
    def test_exact_dedup_keeps_distinct(self, spark, docs):
        out = dedup.exact_dedup(docs)
        # sf0.001 documents have no exact text dups -> identity
        assert out.count() == docs.count()

    def test_exact_dedup_collapses_duplicates(self, spark):
        df = spark.createDataFrame(
            [(1, "same text"), (2, "same text"), (3, "other")], ["doc_id", "text"]
        )
        out = dedup.exact_dedup(df)
        assert sorted(r["doc_id"] for r in out.collect()) == [1, 3]

    def test_minhash_lsh_matches_exact_jaccard(self, spark, docs):
        """LSH candidates + exact verify must reproduce the all-pairs answer."""
        from datalake_spark.queries.pipeline_q import ngram_jaccard

        lsh = {
            (r["doc_a"], r["doc_b"])
            for r in dedup.minhash_lsh_pairs(docs, threshold=0.5).collect()
        }
        exact = {
            (r["doc_a"], r["doc_b"])
            for r in ngram_jaccard(spark, SF_DIR).collect()
        }
        assert lsh == exact

    def test_simhash_pairs_are_near_dups(self, spark, docs):
        pairs = dedup.simhash_pairs(docs, max_hamming=3).collect()
        # sanity: pairs flagged by simhash share most shingles directionally
        assert all(r["hamming"] <= 3 for r in pairs)

    def test_shingles_short_docs_dont_crash(self, spark):
        """Docs with fewer than n tokens must yield an empty shingle set, not
        an INVALID_PARAMETER_VALUE.START abort (ADVICE r1, high)."""
        df = spark.createDataFrame(
            [(1, ""), (2, "one"), (3, "one two"), (4, "one two three four")],
            ["doc_id", "text"],
        )
        rows = df.select(
            "doc_id", dedup.shingles(F.col("text"), 3).alias("sh")
        ).collect()
        by_id = {r["doc_id"]: r["sh"] for r in rows}
        assert by_id[1] == [] and by_id[2] == [] and by_id[3] == []
        assert by_id[4] == ["one two three", "two three four"]
        # and the full LSH operator runs end-to-end over a shorty corpus
        assert dedup.minhash_lsh_pairs(df, threshold=0.5).count() == 0

    def test_simhash_degenerate_bucket_capped(self, spark):
        """1000 empty docs collapse to one simhash: the capped bucket must
        expand ~cap²/2 pairs, not 1000²/2 (ADVICE/VERDICT r1)."""
        df = spark.createDataFrame(
            [(i, "") for i in range(1000)], ["doc_id", "text"]
        )
        n = dedup.simhash_pairs(df, max_bucket=50).count()
        # 4 bands × C(50,2) distinct-deduped = C(50,2) = 1225 (same capped
        # prefix in every band)
        assert 0 < n <= 50 * 49 // 2

    def test_simhash_truncated_buckets_surface_recall_loss(self, spark):
        """The exactness claim holds only when no bucket exceeds the cap
        (r2 advisory): the stats frame must flag exactly the over-full
        buckets and be empty when the cap is not hit."""
        df = spark.createDataFrame(
            [(i, "") for i in range(200)], ["doc_id", "text"]
        )
        trunc = dedup.simhash_truncated_buckets(df, max_bucket=50).collect()
        # all 200 empty docs share one simhash -> one bucket per band
        assert len(trunc) == 4 and all(r.bucket_size == 200 for r in trunc)
        assert dedup.simhash_truncated_buckets(df, max_bucket=200).count() == 0

    def test_capped_buckets_equals_slice_of_sorted_collect(self, spark):
        """r12 value-identity pin: _capped_buckets (row_number prefix
        BEFORE the collect — bounded aggregation buffers) must equal the
        pre-r12 slice(sort_array(collect_list(...)), 1, cap) form on
        randomized bucket shapes: hot buckets past the cap, buckets
        exactly AT the cap, under-cap buckets, and singleton buckets —
        for both the plain-id and the (id, payload)-struct payloads."""
        import random

        rng = random.Random(0xCA99ED)
        rows = []
        for band in range(3):
            for bh in range(6):
                size = rng.choice([1, 3, 7, 11, 40])  # 7 == the cap
                ids = rng.sample(range(10_000), size)
                for i in ids:
                    rows.append((i, i * 31 + band, band, bh))
        df = spark.createDataFrame(
            rows, "_id long, _sh long, _band int, _bh long"
        )
        cap = 7
        got_plain = {
            (r["_band"], r["_bh"]): r["_ids"]
            for r in dedup._capped_buckets(
                df, F.col("_id"), "_ids", cap
            ).collect()
        }
        want_plain = {
            (r["_band"], r["_bh"]): r["_ids"]
            for r in df.groupBy("_band", "_bh")
            .agg(F.slice(F.sort_array(F.collect_list("_id")), 1, cap)
                 .alias("_ids"))
            .collect()
        }
        assert got_plain == want_plain and got_plain
        got_struct = {
            (r["_band"], r["_bh"]): [tuple(x) for x in r["_rows"]]
            for r in dedup._capped_buckets(
                df, F.struct(F.col("_id"), F.col("_sh")), "_rows", cap
            ).collect()
        }
        want_struct = {
            (r["_band"], r["_bh"]): [tuple(x) for x in r["_rows"]]
            for r in df.groupBy("_band", "_bh")
            .agg(F.slice(
                F.sort_array(
                    F.collect_list(F.struct(F.col("_id"), F.col("_sh")))
                ), 1, cap).alias("_rows"))
            .collect()
        }
        assert got_struct == want_struct
        # the free pre-cap size channel reports true bucket sizes
        sizes = {
            (r["_band"], r["_bh"]): r["_bsz"]
            for r in dedup._capped_buckets(
                df, F.col("_id"), "_ids", cap, size_alias="_bsz"
            ).collect()
        }
        truth = {}
        for (_i, _s, band, bh) in rows:
            truth[(band, bh)] = truth.get((band, bh), 0) + 1
        assert sizes == truth

    def test_fingerprint_dedup_runs(self, docs):
        assert dedup.fingerprint_dedup(docs).count() <= docs.count()

    @pytest.mark.parametrize("budget", [2_000_000, 0])
    def test_connected_components_matches_union_find(self, spark, budget):
        """Min-label propagation + path compression must equal a reference
        union-find on a random graph plus a 41-node chain (the chain
        forces the O(log diameter) doubling to actually iterate).
        budget=0 forces the distributed path; the default takes the
        in-driver union-find shortcut — both must agree exactly."""
        import random

        rng = random.Random(42)
        edges = [(rng.randint(0, 199), rng.randint(0, 199)) for _ in range(150)]
        edges += [(1000 + i, 1000 + i + 1) for i in range(40)]
        edges = [(a, b) for a, b in edges if a != b]

        parent: dict[int, int] = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        comps: dict[int, list[int]] = {}
        for v in parent:
            comps.setdefault(find(v), []).append(v)
        expect = {v: min(vs) for vs in comps.values() for v in vs}

        df = spark.createDataFrame(edges, "doc_a long, doc_b long")
        got = {
            r.id: r.cluster_id
            for r in dedup.connected_components(
                df, local_edge_budget=budget
            ).collect()
        }
        assert got == expect

    def test_distributed_components_release_every_round(self, spark):
        """The distributed path caches each round through ``persisted``:
        its caller's ``released()`` scope frees every round, and the
        result's analyzed plan stays one cut, not the rounds' lineage."""
        edges = [(i, i + 1) for i in range(39) if i % 7 != 6]
        df = spark.createDataFrame(edges, "doc_a long, doc_b long")
        before = rdd_ids(spark)
        with released():
            comp = dedup.connected_components(df, local_edge_budget=0)
            got = {r.id: r.cluster_id for r in comp.collect()}
            assert len(comp._jdf.queryExecution().analyzed().toString()) < 2000
        assert got == {i: i - i % 7 for i in range(40)}
        assert not rdd_ids(spark) - before

    def test_connected_components_empty_pairs(self, spark):
        df = spark.createDataFrame([], "doc_a long, doc_b long")
        assert dedup.connected_components(df).count() == 0

    @pytest.mark.parametrize("strategy", ["exact", "fingerprint", "minhash",
                                          "simhash"])
    def test_dedup_corpus_keeps_one_per_cluster(self, spark, strategy):
        """Every tier of the one-call facade collapses the duplicate group
        to its min-id representative and passes unique docs through."""
        dup = "the quick brown fox jumps over the lazy dog again and again"
        rows = [(i, dup) for i in range(5)] + [
            (10, "completely different text about spark execution plans"),
            (11, "another unrelated document mentioning parquet footers"),
        ]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        kept = sorted(
            r.doc_id
            for r in dedup.dedup_corpus(df, strategy=strategy).collect()
        )
        assert kept == [0, 10, 11]

    def test_kmeans_iterate_partitions_separated_data(self, spark):
        """Two well-separated blobs must each form one cluster regardless
        of id offsets (seeds are the k smallest ids, not ids 0..k-1), and
        every point's dist_sq must be to its own blob's centroid."""
        from datalake_spark.operators.similarity import kmeans_iterate

        rows = []
        for i in range(10):          # blob A near (0, 0), ids 100..109
            rows.append((100 + i, [float(i % 3) * 0.01, 0.0]))
        for i in range(10):          # blob B near (10, 10), ids 200..209
            rows.append((200 + i, [10.0 + (i % 3) * 0.01, 10.0]))
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        out = kmeans_iterate(df, k=2, iters=2).collect()
        by_cluster: dict[int, set] = {}
        for r in out:
            by_cluster.setdefault(r.cluster, set()).add(r.vec_id)
        assert sorted(map(sorted, by_cluster.values())) == [
            sorted(range(100, 110)), sorted(range(200, 210)),
        ]
        # dist_sq is measured against the centroids the FINAL assignment
        # used (they lag the last update by design), so only sanity-bound it
        assert all(r.dist_sq >= 0.0 for r in out)

    def test_dedup_corpus_unknown_strategy(self, spark):
        df = spark.createDataFrame([(1, "x")], ["doc_id", "text"])
        with pytest.raises(ValueError, match="unknown dedup strategy"):
            dedup.dedup_corpus(df, strategy="psychic")

    def test_dedup_corpus_quality_col_keeps_best(self, spark):
        """With quality_col, the HIGHEST-quality cluster member survives
        (ties to the smaller id) instead of the min id — the keep-the-
        best-variant curation semantic."""
        dup = "the quick brown fox jumps over the lazy dog again and again"
        rows = [
            (0, dup, 10.0), (1, dup, 99.0), (2, dup, 50.0),   # winner: 1
            (5, "totally different text about spark plans", 1.0),
            # second cluster with a quality TIE -> smaller id 7 wins
            (7, "parquet footer stats make row groups skippable fast", 7.0),
            (8, "parquet footer stats make row groups skippable fast", 7.0),
        ]
        df = spark.createDataFrame(rows, ["doc_id", "text", "q"])
        kept = sorted(
            r.doc_id
            for r in dedup.dedup_corpus(
                df, strategy="minhash", quality_col="q"
            ).collect()
        )
        assert kept == [1, 5, 7]

    def test_dedup_corpus_null_quality_loses(self, spark):
        """A cluster member with NULL quality must lose to any member
        with a real quality value (struct comparison would otherwise
        sort the NULL field first and crown it the winner)."""
        dup = "the quick brown fox jumps over the lazy dog again and again"
        rows = [
            (0, dup, None), (1, dup, 5.0),      # winner: 1, not NULL 0
            (3, "completely unrelated filler text about row groups", None),
        ]
        df = spark.createDataFrame(
            rows, "doc_id long, text string, q double"
        )
        kept = sorted(
            r.doc_id
            for r in dedup.dedup_corpus(
                df, strategy="minhash", quality_col="q"
            ).collect()
        )
        assert kept == [1, 3]


class TestSimilarity:
    def test_brute_force_topk_shape(self, emb):
        q = emb.filter(F.col("vec_id") < 3)
        c = emb.filter(F.col("vec_id") >= 3)
        out = similarity.brute_force_topk(q, c, k=5).collect()
        assert len(out) == 15
        by_q = {}
        for r in out:
            by_q.setdefault(r["q_id"], []).append(r)
        for rows in by_q.values():
            sims = [r["cosine"] for r in sorted(rows, key=lambda r: r["rk"])]
            assert sims == sorted(sims, reverse=True)

    def test_srp_ann_recall(self, emb):
        """ANN top-5 must recover most of exact top-5 (recall >= 0.6 on
        random data with 8x8 tables; exactness is the brute-force path)."""
        q = emb.filter(F.col("vec_id") < 10)
        c = emb.filter(F.col("vec_id") >= 10)
        exact = {
            (r["q_id"], r["c_id"])
            for r in similarity.brute_force_topk(q, c, k=5).collect()
        }
        ann = {
            (r["q_id"], r["c_id"])
            for r in similarity.srp_ann_topk(q, c, k=5).collect()
        }
        recall = len(exact & ann) / len(exact)
        assert recall >= 0.6, f"recall {recall}"

    def test_ivf_topk_runs(self, emb):
        q = emb.filter(F.col("vec_id") < 3)
        c = emb.filter(F.col("vec_id") >= 3)
        out = similarity.ivf_topk(q, c, k=5, num_centroids=8, nprobe=3).collect()
        assert {r["q_id"] for r in out} == {0, 1, 2}


class TestAsof:
    def test_asof_backward(self, spark):
        left = spark.createDataFrame(
            [("u1", 100), ("u1", 250), ("u2", 50)], ["user", "ts"]
        )
        right = spark.createDataFrame(
            [("u1", 90, "a"), ("u1", 200, "b"), ("u2", 60, "c")],
            ["user", "ts", "tag"],
        )
        out = {
            (r["user"], r["ts"]): r["tag"]
            for r in asof.asof_join(left, right, on="ts", by=["user"]).collect()
        }
        assert out == {("u1", 100): "a", ("u1", 250): "b", ("u2", 50): None}

    def test_asof_no_payload_right(self, spark):
        """Degenerate right frame (only by+on columns): the null-struct cast
        must be 'struct<_on:T>' with no trailing comma — the join then acts
        as an existence probe (left rows pass through unchanged)."""
        left = spark.createDataFrame([("u1", 100), ("u2", 50)], ["user", "ts"])
        right = spark.createDataFrame([("u1", 90)], ["user", "ts"])
        out = asof.asof_join(left, right, on="ts", by=["user"])
        assert sorted(out.columns) == ["ts", "user"]
        assert out.count() == 2

    def test_asof_forward(self, spark):
        left = spark.createDataFrame([("u1", 100)], ["user", "ts"])
        right = spark.createDataFrame(
            [("u1", 90, "past"), ("u1", 150, "next")], ["user", "ts", "tag"]
        )
        out = asof.asof_join(left, right, on="ts", by=["user"], direction="forward").collect()
        assert out[0]["tag"] == "next"

    def test_asof_nearest_basic(self, spark):
        left = spark.createDataFrame(
            [("u1", 100), ("u1", 210), ("u2", 50)], ["user", "ts"]
        )
        right = spark.createDataFrame(
            [("u1", 90, "close_b"), ("u1", 220, "close_f"), ("u2", 500, "far")],
            ["user", "ts", "tag"],
        )
        out = {
            (r["user"], r["ts"]): r["tag"]
            for r in asof.asof_join(
                left, right, on="ts", by=["user"], direction="nearest"
            ).collect()
        }
        # 100 is 10 from 90 and 120 from 220 -> backward; 210 is 10 from 220
        # -> forward; u2 has only a far forward match -> still matched
        assert out == {("u1", 100): "close_b", ("u1", 210): "close_f",
                       ("u2", 50): "far"}

    def test_asof_nearest_tie_prefers_backward(self, spark):
        left = spark.createDataFrame([("u1", 100)], ["user", "ts"])
        right = spark.createDataFrame(
            [("u1", 90, "b"), ("u1", 110, "f")], ["user", "ts", "tag"]
        )
        out = asof.asof_join(left, right, on="ts", by=["user"],
                             direction="nearest").collect()
        assert out[0]["tag"] == "b"

    def test_asof_nearest_matches_pandas(self, spark):
        """Column-based nearest == pandas merge_asof(direction='nearest')
        on random data including exact-tie distances."""
        import random

        import pandas as pd

        rng = random.Random(7)
        lrows = [("u%d" % rng.randint(0, 2), rng.randint(0, 50) * 10)
                 for _ in range(60)]
        seen: dict[tuple, str] = {}
        for i in range(40):
            # unique (user, ts) on the right: with duplicate keys the pick
            # among equals is unspecified in BOTH engines
            seen.setdefault(
                ("u%d" % rng.randint(0, 2), rng.randint(0, 50) * 10 + 5),
                "t%d" % i,
            )
        rrows = [(u, t, tag) for (u, t), tag in seen.items()]
        left = spark.createDataFrame(lrows, ["user", "ts"]).dropDuplicates(
            ["user", "ts"])
        right = spark.createDataFrame(rrows, ["user", "ts", "tag"])
        got = {
            (r["user"], r["ts"]): r["tag"]
            for r in asof.asof_join(
                left, right, on="ts", by=["user"], direction="nearest"
            ).collect()
        }
        lpdf = left.toPandas()
        rpdf = right.toPandas()
        exp = {}
        for u in lpdf["user"].unique():
            lp = lpdf[lpdf["user"] == u].sort_values("ts")
            rp = rpdf[rpdf["user"] == u].sort_values("ts")
            if len(rp) == 0:
                m = lp.assign(tag=None)
            else:
                m = pd.merge_asof(lp, rp.drop(columns=["user"]), on="ts",
                                  direction="nearest")
            for _, row in m.iterrows():
                exp[(u, int(row["ts"]))] = row["tag"] if isinstance(
                    row["tag"], str) else None
        assert got == exp

    def test_asof_pandas_matches_window(self, spark):
        import random

        rng = random.Random(3)
        left = spark.createDataFrame(
            [(f"u{i%5}", rng.randint(0, 1000)) for i in range(100)], ["user", "ts"]
        ).distinct()
        right = spark.createDataFrame(
            [(f"u{i%5}", rng.randint(0, 1000), i) for i in range(50)],
            ["user", "ts", "val"],
        ).dropDuplicates(["user", "ts"])
        a = {
            (r["user"], r["ts"]): r["val"]
            for r in asof.asof_join(left, right, on="ts", by=["user"]).collect()
        }
        b = {
            (r["user"], r["ts"]): r["val"]
            for r in asof.asof_join_pandas(left, right, on="ts", by="user").collect()
        }
        assert a == b

    def test_range_join_bucketized_matches_plain(self, spark):
        left = spark.createDataFrame([(i, i * 10) for i in range(100)], ["id", "t"])
        right = spark.createDataFrame(
            [(j, j * 100, j * 100 + 95) for j in range(10)], ["rid", "lo", "hi"]
        )
        plain = asof.range_join(left, right, "t", "lo", "hi").count()
        bucketed = asof.range_join(left, right, "t", "lo", "hi", bucket_width=100).count()
        assert plain == bucketed > 0

    def test_range_join_bucketized_left_outer(self, spark):
        """how='left' with bucket_width must keep unmatched left rows (the
        range predicate lives in the join condition, not a post-filter)."""
        left = spark.createDataFrame([(1, 50), (2, 5000)], ["id", "t"])
        right = spark.createDataFrame([(9, 0, 100)], ["rid", "lo", "hi"])
        plain = asof.range_join(left, right, "t", "lo", "hi", how="left")
        bucketed = asof.range_join(
            left, right, "t", "lo", "hi", bucket_width=100, how="left"
        )
        want = {(1, 9), (2, None)}
        assert {(r["id"], r["rid"]) for r in plain.collect()} == want
        assert {(r["id"], r["rid"]) for r in bucketed.collect()} == want

    def test_range_join_bucketized_rejects_full_outer(self, spark):
        left = spark.createDataFrame([(1, 50)], ["id", "t"])
        right = spark.createDataFrame([(9, 0, 100)], ["rid", "lo", "hi"])
        with pytest.raises(ValueError, match="range_join"):
            asof.range_join(left, right, "t", "lo", "hi", bucket_width=100, how="full")


class TestMultimodal:
    def test_feature_extraction_plumbing(self, spark):
        rows = [
            ("m1", "image", bytearray(b"\x00\x10\xff"), None, None, None, None),
            ("m2", "image", bytearray(b""), None, None, None, None),
            ("m3", "audio", None, None, None, None, None),
        ]
        media = spark.createDataFrame(rows, schema=MEDIA_SCHEMA)
        out = {r["media_id"]: r for r in extract_features(media, dim=4).collect()}
        assert out["m1"]["n_bytes"] == 3
        assert len(out["m1"]["feature"]) == 4
        assert out["m3"]["n_bytes"] == 0

    def test_pixel_histogram(self, spark):
        """Counts match the image content; a corrupt blob yields one
        error row instead of killing the stage."""
        import numpy as np

        from datalake_spark.functions.imaging import png_encode
        from datalake_spark.operators.multimodal import pixel_histogram

        img = np.zeros((4, 4, 3), dtype=np.uint8)
        img[:2] = 7  # 24 pixels of 7, 24 of 0
        rows = [
            ("ok", "image", bytearray(png_encode(img)), None, None, None, None),
            ("bad", "image", bytearray(b"\x00garbage"), None, None, None, None),
        ]
        media = spark.createDataFrame(rows, schema=MEDIA_SCHEMA)
        got = pixel_histogram(media).collect()
        ok = {(r["px"], r["cnt"]) for r in got if r["media_id"] == "ok"}
        assert ok == {(0, 24), (7, 24)}
        bad = [r for r in got if r["media_id"] == "bad"]
        assert len(bad) == 1 and bad[0]["decode_error"] is not None
        assert bad[0]["px"] is None

    def test_decode_image_no_longer_needs_pil(self, spark):
        """decode_image is now the real stdlib header decoder (see
        tests/test_imaging.py for its coverage); an empty frame plans and
        runs without PIL."""
        from datalake_spark.operators import multimodal

        media = spark.createDataFrame([], schema=MEDIA_SCHEMA)
        assert multimodal.decode_image(media).collect() == []


class TestTextFunctions:
    def test_lang_id_english(self, spark):
        df = spark.createDataFrame(
            [("the cat is in the house and the dog",), ("le chat est dans la maison et le chien",),
             ("la de que",), ("cat dog",), (None,)],
            "text string",
        )
        got = [r["l"] for r in df.select(lang_id("text").alias("l")).collect()]
        assert got[0] == "en"
        assert got[1] == "fr"
        # es and fr tie on 3 hits: the alphabetically first wins
        assert got[2:] == ["es", "und", "und"]

    def test_quality_and_tokens(self, spark, docs):
        out = docs.select(
            token_count("text").alias("n"), quality_score("text").alias("q")
        ).agg(F.min("n"), F.min("q"), F.max("q")).collect()[0]
        assert out[0] > 0 and 0.0 <= out[1] <= out[2] <= 1.0

    def test_blake2b_matches_hashlib(self, spark):
        import hashlib

        df = spark.createDataFrame([("hello world",)], ["c"])
        got = df.select(blake2b_udf(F.col("c")).alias("h")).collect()[0]["h"]
        assert got == hashlib.blake2b(b"hello world", digest_size=16).hexdigest()


class TestMultimodalResizeFrames:
    def _media(self, spark, rows):
        from datalake_spark.operators.multimodal import MEDIA_SCHEMA

        return spark.createDataFrame(rows, schema=MEDIA_SCHEMA)

    def test_resize_plumbing(self, spark):
        from datalake_spark.operators.multimodal import resize_images

        media = self._media(
            spark,
            [
                ("a", "image", b"0123456789" * 100, None, None, None, None),
                ("b", "image", b"xy", None, None, None, None),  # smaller than target
                ("c", "image", None, None, None, None, None),
            ],
        )
        out = {r["media_id"]: r for r in resize_images(media, 16, 16).collect()}
        assert len(bytes(out["a"]["content"])) == 256
        assert len(bytes(out["b"]["content"])) == 256  # tiled up
        assert bytes(out["b"]["content"])[:4] == b"xyxy"
        assert out["c"]["content"] is None
        assert out["a"]["width"] == out["a"]["height"] == 16

    def test_frame_sampling_fanout(self, spark):
        from datalake_spark.operators.multimodal import sample_frames

        media = self._media(
            spark,
            [
                ("vid1", "video", b"v" * 500, None, None, None, 5500),  # 5.5s -> 5 frames
                ("vid2", "video", b"w" * 100, None, None, None, 20_000),  # capped at 8
            ],
        )
        rows = sample_frames(media, every_ms=1000, max_frames=8).collect()
        by_id = {}
        for r in rows:
            by_id.setdefault(r["media_id"], []).append(r)
        assert len(by_id["vid1"]) == 5
        assert len(by_id["vid2"]) == 8
        assert [r["frame_ms"] for r in sorted(by_id["vid1"], key=lambda x: x["frame_idx"])] == [
            0, 1000, 2000, 3000, 4000,
        ]
        assert all(len(bytes(r["frame"])) == 64 for r in rows)

    def test_frame_sampling_real_gif(self, spark):
        """The REAL path: stdlib GIF LZW decode, per-frame-delay timeline,
        PNG re-encoded samples; non-GIF blobs yield frame_error rows."""
        import numpy as np

        from datalake_spark.functions.imaging import (
            gif_encode,
            png_decode,
        )
        from datalake_spark.operators.multimodal import sample_frames

        pal = np.array([[50, 50, 50], [200, 200, 200]], dtype=np.uint8)
        # two 300ms frames: solid 50-gray then solid 200-gray
        gif = gif_encode(
            [np.zeros((2, 3), np.uint8), np.ones((2, 3), np.uint8)],
            pal, delay_ms=300,
        )
        media = self._media(
            spark,
            [
                ("g", "video", gif, None, None, None, None),
                ("bad", "video", b"mp4-ish bytes", None, None, None, None),
            ],
        )
        rows = sample_frames(
            media, every_ms=200, max_frames=8, use_fake=False
        ).collect()
        by_id = {}
        for r in rows:
            by_id.setdefault(r["media_id"], []).append(r)
        g = sorted(by_id["g"], key=lambda x: x["frame_idx"])
        # total 600ms sampled at 200ms -> t=0,200,400; src frames 0,0,1
        assert [r["frame_ms"] for r in g] == [0, 200, 400]
        means = [float(png_decode(bytes(r["frame"])).mean()) for r in g]
        assert means == [50.0, 50.0, 200.0]
        assert all(r["frame_error"] is None for r in g)
        [bad] = by_id["bad"]
        assert bad["frame_idx"] == -1 and bad["frame"] is None
        assert "av gate" in bad["frame_error"]

    def test_av_branch_sampling_loop(self, spark, monkeypatch):
        """Pin the mp4/webm av-branch logic (timeline sampling, max_frames
        cap, rgb24 ndarray → PNG) with a stub av module, so the branch
        doesn't bit-rot while the real lib is absent from this container."""
        import numpy as np

        from datalake_spark.functions.imaging import png_decode
        from datalake_spark.operators import multimodal as mm

        class FakeFrame:
            def __init__(self, t, gray):
                self.time = t
                self._gray = gray

            def to_ndarray(self, format):
                assert format == "rgb24"
                return np.full((2, 2, 3), self._gray, np.uint8)

        class FakeContainer:
            # 10 fps clip, 30 frames, gray value == frame index
            class streams:
                video = [object()]

            def decode(self, stream):
                for i in range(30):
                    yield FakeFrame(i / 10.0, i)

            def __enter__(self):
                return self

            def __exit__(self, *a):
                return False

        class FakeAv:
            @staticmethod
            def open(buf):
                return FakeContainer()

        monkeypatch.setattr(mm, "_av", FakeAv, raising=False)
        monkeypatch.setattr(mm, "_HAS_AV", True)
        out = mm._real_frames(b"\x00\x00\x00\x18ftypmp42", every_ms=500, max_frames=4)
        # 10fps sampled every 500ms -> frames 0,5,10,15 at ts 0,500,1000,1500
        assert [ts for ts, _ in out] == [0, 500, 1000, 1500]
        assert [int(png_decode(png).mean()) for _, png in out] == [0, 5, 10, 15]

    @pytest.mark.skipif(
        not __import__("datalake_spark.operators.multimodal", fromlist=["_HAS_AV"])._HAS_AV,
        reason="optional av library not installed",
    )
    def test_real_mp4_frames_via_av(self, spark, tmp_path):
        """With av present: encode a tiny mp4 and sample real frames."""
        import av
        import numpy as np

        from datalake_spark.functions.imaging import png_decode
        from datalake_spark.operators.multimodal import sample_frames

        path = str(tmp_path / "clip.mp4")
        with av.open(path, "w") as container:
            stream = container.add_stream("mpeg4", rate=10)
            stream.width, stream.height, stream.pix_fmt = 32, 32, "yuv420p"
            for i in range(20):
                img = np.full((32, 32, 3), min(i * 12, 255), np.uint8)
                frame = av.VideoFrame.from_ndarray(img, format="rgb24")
                for packet in stream.encode(frame):
                    container.mux(packet)
            for packet in stream.encode():
                container.mux(packet)
        with open(path, "rb") as f:
            blob = f.read()
        media = self._media(spark, [("m", "video", blob, None, None, None, None)])
        rows = sample_frames(
            media, every_ms=500, max_frames=4, use_fake=False
        ).collect()
        assert [r["frame_ms"] for r in rows] == [0, 500, 1000, 1500]
        assert all(r["frame_error"] is None for r in rows)
        # brightness is monotone along the clip (lossy codec → inexact)
        means = [float(png_decode(bytes(r["frame"])).mean()) for r in rows]
        assert means == sorted(means) and means[-1] > means[0] + 50

    def test_real_features_and_gif_resize(self, spark):
        """extract_features(use_fake=False) emits pixel statistics for
        stdlib-decodable blobs and NULL for codec-gated ones; resize_images
        real path now covers GIF via decode_pixels."""
        import numpy as np

        from datalake_spark.functions.imaging import (
            gif_encode,
            png_decode,
            png_encode,
        )
        from datalake_spark.operators.multimodal import (
            extract_features,
            resize_images,
        )

        png = png_encode(np.full((4, 6, 3), 100, np.uint8))
        gif = gif_encode(
            [np.zeros((3, 5), np.uint8)],
            np.array([[80, 80, 80]], dtype=np.uint8),
        )
        media = self._media(
            spark,
            [
                ("png", "image", png, None, None, None, None),
                ("gif", "image", gif, None, None, None, None),
                ("jpg", "image", b"\xff\xd8\xff\xe0 stub", None, None, None, None),
            ],
        )
        feats = {r["media_id"]: r["feature"]
                 for r in extract_features(media, use_fake=False).collect()}
        assert feats["png"][:5] == pytest.approx(
            [6.0, 4.0, 3.0, 100.0 / 255.0, 0.0]
        )
        assert feats["gif"][:4] == pytest.approx([5.0, 3.0, 3.0, 80.0 / 255.0])
        assert feats["jpg"] is None  # PIL-gated, not a failed stage
        resized = {r["media_id"]: r
                   for r in resize_images(media, 2, 2, use_fake=False).collect()}
        px = png_decode(bytes(resized["gif"]["content"]))
        assert px.shape == (2, 2, 3) and int(px[0, 0, 0]) == 80
        assert resized["jpg"]["content"] is None


class TestPortableHashing:
    """md5hash60 and the portable fingerprint are the cross-engine (DuckDB-
    replayable) hash paths; pin them against hashlib and exact fold math."""

    def test_md5hash60_matches_hashlib(self, spark):
        import hashlib

        from datalake_spark.functions.hashing import md5hash60

        df = spark.createDataFrame(
            [("",), ("hello world",), ("Straße ünïcode",)], "s string"
        )
        got = {r.s: r.h for r in df.select("s", md5hash60("s").alias("h")).collect()}
        for s, h in got.items():
            want = int(hashlib.md5(s.encode()).hexdigest()[:15], 16)
            assert h == want

    def test_portable_fingerprint_fold(self, spark):
        """Replay the polynomial fold in Python over hashlib group hashes."""
        import hashlib

        from pyspark.sql import functions as F

        from datalake_spark.functions.text import doc_fingerprint_portable

        text = " ".join(f"tok{i}" for i in range(20))  # 3 groups of k=8
        df = spark.createDataFrame([(text,)], "text string")
        got = df.select(doc_fingerprint_portable("text").alias("fp")).collect()[0].fp

        toks = text.split()
        acc = 97531
        for i in range(0, (len(toks) - 1) // 8 + 1):
            g = " ".join(toks[i * 8 : i * 8 + 8])
            h = int(hashlib.md5(g.encode()).hexdigest()[:15], 16)
            acc = (acc * 1000003 + h) % 2147483647
        assert got == acc

    def test_portable_fingerprint_order_sensitive(self, spark):
        from datalake_spark.functions.text import doc_fingerprint_portable

        df = spark.createDataFrame(
            [(1, "a b c d e f g h i j"), (2, "j i h g f e d c b a")],
            "id int, text string",
        )
        fps = [r.fp for r in df.select(doc_fingerprint_portable("text").alias("fp")).collect()]
        assert fps[0] != fps[1]


class TestNgramJaccardCapped:
    """ngram_jaccard_pairs: the posting-list-safe exact Jaccard operator."""

    def _docs(self, spark):
        base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        rows = [
            (1, base),
            (2, base + " extra"),          # near-dup of 1
            (3, "totally different words with no overlap at all here now"),
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_matches_uncapped_on_clean_corpus(self, spark):
        from datalake_spark.operators.dedup import ngram_jaccard_pairs

        got = {
            (r.doc_a, r.doc_b): round(r.jaccard, 6)
            for r in ngram_jaccard_pairs(self._docs(spark), max_df=100).collect()
        }
        # doc1 has 8 shingles, doc2 has 9, 8 common -> J = 8/9
        assert got == {(1, 2): round(8 / 9, 6)}

    def test_matches_uncapped_gate_twin_on_real_corpus(self, spark):
        """The production capped form equals the gate's oracle-exact
        uncapped twin (queries/pipeline_q.ngram_jaccard) on the real
        sf0.001 documents table, values included — the cap must be inert
        when no posting list exceeds max_df."""
        from datalake_spark.operators.dedup import ngram_jaccard_pairs
        from datalake_spark.queries import load
        from datalake_spark.queries.pipeline_q import ngram_jaccard

        docs = load(spark, SF_DIR, "documents")
        got = {
            (r.doc_a, r.doc_b): (r.n_common, round(r.jaccard, 9))
            for r in ngram_jaccard_pairs(docs).collect()
        }
        want = {
            (r.doc_a, r.doc_b): (r.n_common, round(r.jaccard, 9))
            for r in ngram_jaccard(spark, SF_DIR).collect()
        }
        assert got == want and len(want) > 0

    def test_trunc_out_reports_dropped_stop_shingles(self, spark):
        """The r13 trunc_out channel (the banded tiers' convention):
        every shingle dropped by the max_df cap is reported with its
        document frequency; a non-binding cap yields an empty frame —
        the recall approximation as an observable."""
        from pyspark.sql import functions as F

        from datalake_spark.operators.dedup import ngram_jaccard_pairs

        docs = spark.range(40).select(
            F.col("id").alias("doc_id"),
            F.concat(
                F.lit("shared boilerplate prefix words here "),
                F.col("id").cast("string"),
            ).alias("text"),
        )
        tr: list = []
        ngram_jaccard_pairs(docs, max_df=10, trunc_out=tr).count()
        dropped = tr[0].collect()
        assert len(dropped) > 0
        assert all(r.df > 10 for r in dropped)
        tr2: list = []
        ngram_jaccard_pairs(docs, max_df=10_000, trunc_out=tr2).count()
        assert tr2[0].count() == 0

    def test_stop_shingle_does_not_explode(self, spark):
        """1000 docs sharing one boilerplate shingle must produce zero pairs
        from it (DF > max_df) and the job must stay linear."""
        from pyspark.sql import functions as F

        from datalake_spark.operators.dedup import ngram_jaccard_pairs

        docs = spark.range(1000).select(
            F.col("id").alias("doc_id"),
            F.concat(
                F.lit("click here to unsubscribe token"),
                F.col("id").cast("string"),
                F.lit(" unique"),
                F.col("id").cast("string"),
            ).alias("text"),
        )
        out = ngram_jaccard_pairs(docs, max_df=100).collect()
        assert out == []

    def test_verify_is_exact_despite_cap(self, spark):
        """A pair surviving the cap reports its TRUE Jaccard computed over
        all shingles, including ones above max_df."""
        from datalake_spark.operators.dedup import ngram_jaccard_pairs

        # 'x0 x1 ... x9' common boilerplate in every doc (DF=4 > max_df=3);
        # docs 1/2 additionally share a rare tail
        boiler = " ".join(f"x{i}" for i in range(10))
        rows = [
            (1, boiler + " rare tail one two three"),
            (2, boiler + " rare tail one two three"),
            (3, boiler + " aaa bbb ccc ddd eee"),
            (4, boiler + " fff ggg hhh iii jjj"),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got = {(r.doc_a, r.doc_b): r.jaccard for r in
               ngram_jaccard_pairs(docs, max_df=3, threshold=0.9).collect()}
        assert got == {(1, 2): 1.0}  # exact duplicates -> exactly 1.0


class TestContaminationCheck:
    def test_containment_catches_embedded_benchmark(self, spark):
        """A training doc that CONTAINS a benchmark item must score
        containment ~1 even though its Jaccard vs the item is low."""
        from datalake_spark.operators.dedup import contamination_check

        bench_text = "the quick brown fox jumps over the lazy dog today"
        filler = " ".join(f"filler{i}" for i in range(90))
        corpus = spark.createDataFrame(
            [(1, filler + " " + bench_text), (2, filler)],
            "doc_id long, text string",
        )
        probe = spark.createDataFrame(
            [(100, bench_text)], "doc_id long, text string"
        )
        rows = contamination_check(corpus, probe, threshold=0.5).collect()
        assert [(r.corpus_id, r.probe_id) for r in rows] == [(1, 100)]
        assert rows[0].containment >= 0.8  # boundary shingles may differ

    def test_no_false_hits(self, spark):
        from datalake_spark.operators.dedup import contamination_check

        corpus = spark.createDataFrame(
            [(1, "completely unrelated training text goes here")],
            "doc_id long, text string",
        )
        probe = spark.createDataFrame(
            [(100, "benchmark question about something else entirely")],
            "doc_id long, text string",
        )
        assert contamination_check(corpus, probe, threshold=0.1).count() == 0


class TestScaleClaimPlans:
    """Pin the 100 TB plan shapes of the new operators: probe/query sides
    broadcast, corpus sides never sort-merge against them."""

    def test_contamination_broadcasts_probe_only(self, spark):
        from datalake_spark.operators.dedup import contamination_check

        corpus = spark.createDataFrame(
            [(i, f"w{i} w{i+1} w{i+2} w{i+3}") for i in range(50)],
            "doc_id long, text string",
        )
        probe = spark.createDataFrame(
            [(100, "w1 w2 w3 w4")], "doc_id long, text string"
        )
        plan = contamination_check(corpus, probe)._jdf.queryExecution(
        ).executedPlan().toString()
        assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
        assert "SortMergeJoin" not in plan

    def test_contamination_broadcast_opt_out_for_big_probes(self, spark):
        """broadcast_probe=False (r14): a CORPUS-scaled probe must be
        joinable without forcing a driver-sized broadcast — the shingle
        join falls back to a shuffle strategy (AQE-splittable), values
        unchanged."""
        from datalake_spark.operators.dedup import contamination_check

        corpus = spark.createDataFrame(
            [(i, f"w{i} w{i+1} w{i+2} w{i+3}") for i in range(50)],
            "doc_id long, text string",
        )
        probe = spark.createDataFrame(
            [(100, "w1 w2 w3 w4"), (101, "w7 w8 w9 w10")],
            "doc_id long, text string",
        )
        thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            out = contamination_check(
                corpus, probe, threshold=0.5, broadcast_probe=False
            )
            plan = out._jdf.queryExecution().executedPlan().toString()
            assert "BroadcastExchange" not in plan
            got = {(r.corpus_id, r.probe_id) for r in out.collect()}
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
        want = {
            (r.corpus_id, r.probe_id)
            for r in contamination_check(
                corpus, probe, threshold=0.5
            ).collect()
        }
        assert got == want and got

    def test_capped_jaccard_has_no_corpus_broadcast_hint(self, spark):
        """ngram_jaccard_pairs leaves join strategy to AQE (unhinted): the
        initial plan must not force a broadcast of the corpus-wide hash
        lists (a SortMergeJoin or AQE placeholder is the acceptable
        shape)."""
        from datalake_spark.operators.dedup import ngram_jaccard_pairs

        docs = spark.createDataFrame(
            [(i, f"a{i} b{i} c{i} d{i} e{i}") for i in range(20)],
            "doc_id long, text string",
        )
        df = ngram_jaccard_pairs(docs)
        # analyzed without error and executes
        assert df.count() == 0

    def test_tfidf_broadcasts_corpus_count_only(self, spark, tmp_path):
        """The single-row corpus count joins by broadcast; the doc-term
        and term frames never broadcast (they scale with the corpus)."""
        from datalake_spark.queries.pipeline_q import tfidf_top_terms

        sf = "/root/testdata/sf0.001"
        plan = tfidf_top_terms(spark, sf)._jdf.queryExecution(
        ).executedPlan().toString()
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
        assert "CartesianProduct" not in plan

    def test_stratified_sample_single_stratum_shuffle(self, spark):
        """One exchange on the stratum key serves both window functions —
        the rank and the stratum count must not shuffle twice."""
        from datalake_spark.queries.pipeline_q import stratified_sample

        sf = "/root/testdata/sf0.001"
        plan = stratified_sample(spark, sf)._jdf.queryExecution(
        ).executedPlan().toString()
        assert plan.count("Exchange hashpartitioning(source") == 1

    def test_chargram_broadcasts_gram_totals_only(self, spark):
        """The ≤|charset|²-row gram-total table broadcasts back onto the
        per-(doc,gram) counts; the counts frame (corpus-sized) must never
        be the broadcast side or sort-merge against the totals."""
        from datalake_spark.queries.pipeline_q import chargram_commonness

        sf = "/root/testdata/sf0.001"
        plan = chargram_commonness(spark, sf)._jdf.queryExecution(
        ).executedPlan().toString()
        assert "BroadcastExchange" in plan
        assert "SortMergeJoin" not in plan

    def test_deterministic_shuffle_no_global_sort(self, spark):
        """Training-order shuffle is sharded: the only exchange is the
        hash partition on the shard id — a global sort (SinglePartition
        exchange) must never appear."""
        from datalake_spark.queries.pipeline_q import deterministic_shuffle

        sf = "/root/testdata/sf0.001"
        plan = deterministic_shuffle(spark, sf)._jdf.queryExecution(
        ).executedPlan().toString()
        assert "Exchange SinglePartition" not in plan
        assert "Exchange hashpartitioning(shard" in plan


class TestAudioMetadataOp:
    def test_bulk_header_sniff(self, spark):
        from datalake_spark.operators.multimodal import (
            MEDIA_SCHEMA,
            audio_metadata,
        )
        from tests.test_imaging import TestAudioHeaderSniff as V

        mp3 = V._mp3_frame() * 4
        flac = V._flac(rate=22050, channels=1, bps=16, total=22050)
        media = spark.createDataFrame(
            [
                ("m1", "audio", mp3, None, None, None, None),
                ("f1", "audio", flac, None, None, None, None),
                ("bad", "audio", b"OggS nope", None, None, None, None),
            ],
            schema=MEDIA_SCHEMA,
        )
        got = {r["media_id"]: r for r in audio_metadata(media).collect()}
        assert got["m1"]["container"] == "mp3"
        assert (got["m1"]["channels"], got["m1"]["sample_rate"]) == (2, 44100)
        assert got["m1"]["duration_ms"] == int(4 * 1152 / 44100 * 1000)
        assert got["f1"]["container"] == "flac"
        assert (got["f1"]["channels"], got["f1"]["sample_rate"],
                got["f1"]["duration_ms"]) == (1, 22050, 1000)
        assert got["bad"]["container"] is None
        assert "unknown audio container" in got["bad"]["meta_error"]


class TestSpanDedup:
    """duplicated_span_dedup: cross-document k-gram span removal."""

    def _mk(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id int, text string")

    def test_shared_span_removed_both_docs(self, spark):
        # 8-gram "a b c d e f g h" appears in docs 1 and 2; unique tails stay
        span = "a b c d e f g h"
        df = self._mk(
            spark,
            [(1, span + " unique one tail"), (2, span + " other two tail"),
             (3, "totally different words here nine ten eleven twelve")],
        )
        out = {
            r["doc_id"]: r
            for r in dedup.duplicated_span_dedup(df, k=8, min_df=2).collect()
        }
        assert out[1]["n_removed"] == 8 and out[2]["n_removed"] == 8
        assert out[1]["cleaned_text"] == "unique one tail"
        assert out[2]["cleaned_text"] == "other two tail"
        assert out[3]["n_removed"] == 0
        assert out[3]["cleaned_text"].startswith("totally different")

    def test_overlapping_spans_cover_union(self, spark):
        # dup gram at starts 0 and 1 -> covered positions 0..8 (union, not 16)
        nine = "a b c d e f g h i"
        df = self._mk(
            spark, [(1, nine + " x y z"), (2, nine + " p q r")]
        )
        out = {r["doc_id"]: r for r in dedup.duplicated_span_dedup(df, k=8).collect()}
        # both 8-grams inside the shared 9 words are duplicated
        assert out[1]["n_dup_starts"] == 2
        assert out[1]["n_removed"] == 9
        assert out[1]["cleaned_text"] == "x y z"

    def test_within_doc_repeat_not_removed(self, spark):
        # the repeated span lives in ONE doc only -> distinct-doc df == 1
        span = "a b c d e f g h"
        df = self._mk(
            spark,
            [(1, span + " " + span), (2, "nothing in common with that")],
        )
        out = dedup.duplicated_span_dedup(df, k=8).filter("doc_id = 1").first()
        assert out["n_removed"] == 0

    def test_short_docs_pass_through(self, spark):
        df = self._mk(spark, [(1, "too short"), (2, "too short")])
        rows = {r["doc_id"]: r for r in dedup.duplicated_span_dedup(df, k=8).collect()}
        assert rows[1]["n_removed"] == 0 and rows[1]["cleaned_text"] == "too short"

    def test_fully_removed_doc_yields_empty_text(self, spark):
        span = "a b c d e f g h"
        df = self._mk(spark, [(1, span), (2, span)])
        rows = dedup.duplicated_span_dedup(df, k=8).collect()
        assert all(r["n_removed"] == 8 and r["cleaned_text"] == "" for r in rows)


class TestMinhashIncremental:
    """minhash_incremental_pairs: batch-vs-corpus near-dup maintenance."""

    def _pairs(self, df):
        return {(r["doc_a"], r["doc_b"]) for r in df.collect()}

    def test_matches_full_operator_restricted(self, spark, docs):
        full = self._pairs(dedup.minhash_lsh_pairs(docs, threshold=0.5))
        old = docs.filter("doc_id < 60")
        new = docs.filter("doc_id >= 60")
        inc = self._pairs(
            dedup.minhash_incremental_pairs(old, new, threshold=0.5)
        )
        assert inc == {p for p in full if p[1] >= 60}

    def test_no_old_old_pairs(self, spark, docs):
        old = docs.filter("doc_id < 60")
        new = docs.filter("doc_id >= 60")
        inc = self._pairs(dedup.minhash_incremental_pairs(old, new))
        assert all(b >= 60 for _a, b in inc)

    def test_precomputed_corpus_sig(self, spark, docs):
        old = docs.filter("doc_id < 60")
        new = docs.filter("doc_id >= 60")
        sig = dedup.minhash_signatures(old)
        via_sig = self._pairs(
            dedup.minhash_incremental_pairs(None, new, corpus_sig=sig)
        )
        direct = self._pairs(dedup.minhash_incremental_pairs(old, new))
        assert via_sig == direct

    def test_interleaved_batch_ids(self, spark):
        # new-batch ids BELOW the corpus ids: the pair's doc_b is then an
        # OLD doc, which the verify join must still resolve
        t = "the quick brown fox jumps over the lazy dog again and again"
        df = spark.createDataFrame(
            [(1, t), (10, t), (20, "completely unrelated text with other words")],
            "doc_id int, text string",
        )
        old = df.filter("doc_id >= 10")
        new = df.filter("doc_id < 10")
        inc = self._pairs(dedup.minhash_incremental_pairs(old, new, threshold=0.5))
        assert inc == {(1, 10)}


class TestIvfIndexPersistence:
    """ivf_index_build/ivf_search: the index survives a parquet roundtrip
    and serves identical results to the one-call operator."""

    def test_parquet_roundtrip_matches_one_call(self, spark, emb, tmp_path):
        queries = emb.filter("vec_id < 3")
        direct = {
            (r["q_id"], r["rk"]): r["c_id"]
            for r in similarity.ivf_topk(queries, emb, k=5).collect()
        }
        cents, assign = similarity.ivf_index_build(emb)
        cents.write.parquet(f"{tmp_path}/cents")
        assign.write.partitionBy("cent_id").parquet(f"{tmp_path}/assign")
        via_index = {
            (r["q_id"], r["rk"]): r["c_id"]
            for r in similarity.ivf_search(
                spark.read.parquet(f"{tmp_path}/cents"),
                spark.read.parquet(f"{tmp_path}/assign"),
                queries, k=5,
            ).collect()
        }
        assert via_index == direct and direct

    def test_probe_prunes_partitions(self, spark, emb, tmp_path):
        cents, assign = similarity.ivf_index_build(emb, num_centroids=8)
        assign.write.partitionBy("cent_id").parquet(f"{tmp_path}/assign")
        stored = spark.read.parquet(f"{tmp_path}/assign")
        out = similarity.ivf_search(cents, stored, emb.filter("vec_id = 0"),
                                    k=3, nprobe=2)
        assert out.count() == 3


def _ref_qmicro(vec):
    """Micro-quantize a vector: floor(x·1e6+0.5) per component."""
    return [math.floor(float(x) * 1_000_000 + 0.5) for x in vec]


def _ref_cosine(a, b):
    """cosine_micro_exact in plain Python: exact int dot product and
    norm squares, then one IEEE finish (int→float casts, one sqrt each,
    one multiply, one divide) and −2.0 when a norm is zero."""
    qa, qb = _ref_qmicro(a), _ref_qmicro(b)
    den = math.sqrt(float(sum(x * x for x in qa))) * math.sqrt(
        float(sum(x * x for x in qb)))
    return float(sum(x * y for x, y in zip(qa, qb))) / den if den > 0 else -2.0


def _ref_nearest(vec, cents):
    """Nearest centroid of ``vec`` in ``cents`` ({cent_id: vector}): the
    FIRST max cosine over the cent_id-sorted centroids.  A NULL vector
    or component scores −2.0 everywhere, landing on the smallest id."""
    null = vec is None or any(x is None for x in vec)
    return max(
        sorted(cents),
        key=lambda cid: -2.0 if null else _ref_cosine(vec, cents[cid]),
    )


def _ref_pq_code(sv, codewords):
    """Nearest codeword of subvector ``sv`` in ``codewords`` ({code:
    micro vector}): the FIRST min of the exact int squared-L2 over the
    code-sorted codewords."""
    return min(
        sorted(codewords),
        key=lambda code: sum((a - b) ** 2 for a, b in zip(sv, codewords[code])),
    )


# SemDeDup reference fixture: group A near e1 (ids 1, 3, 5), group B near
# e2 (ids 2, 4, 6, 8) and a zero vector (7).  (1, 3) is planted just above
# _REF_T: its micro cosine 0.98007493... clears it, the real cosine
# 0.98007468... does not; every other pair is far from the threshold.
_REF_VECS = {
    1: [1.0, 0.2972664, 0.2079183, 0.2795934],
    2: [0.05, 1.0, 0.0, 0.1234567],
    3: [1.0, 0.1652245, 0.1215935, 0.1203736],
    4: [0.0500003, 1.0000002, 0.0000004, 0.1234571],
    5: [1.0, 0.0, 0.0, 0.9],
    6: [0.0, 1.0, 0.9, 0.0],
    7: [0.0, 0.0, 0.0, 0.0],
    8: [0.0499995, 0.9999996, 0.0, 0.1234561],
}
_REF_T = 0.9800748
# malformed vectors: NULL, a NULL component, and doc 1 one component
# longer (a zero-padded cosine of exactly 1 with doc 1)
_BAD_VECS = {
    10: None,
    11: [1.0, 0.2972664, None, 0.2795934],
    12: _REF_VECS[1] + [0.0],
}


def _vec_frame(spark, vecs, ids=None):
    return spark.createDataFrame(
        [(i, vecs[i]) for i in sorted(ids or vecs)],
        "vec_id long, embedding array<double>",
    )


def _ref_pairs(vecs, ids, cluster, new=None, t=_REF_T):
    """Pure-Python within-cluster brute force over _ref_cosine: the
    (a < b) pairs of ``ids`` sharing a cluster at or above ``t``; with
    ``new``, only pairs holding at least one new id."""
    return {
        (a, b)
        for a in ids for b in ids
        if a < b and cluster[a] == cluster[b]
        and (new is None or a in new or b in new)
        and vecs[a] is not None and vecs[b] is not None
        and None not in vecs[a] + vecs[b] and len(vecs[a]) == len(vecs[b])
        and _ref_cosine(vecs[a], vecs[b]) >= t
    }


class TestMicroCosineReference:
    """Every embedding cosine is cosine_micro_exact's arithmetic, bit for
    bit, and malformed vectors never pair (the -2.0 sentinel)."""

    GROUP = {i: "A" if i in (1, 3, 5) else "B" for i in _REF_VECS}

    def test_semantic_dup_pairs_match_reference(self, spark):
        df = _vec_frame(spark, _REF_VECS)
        got = {(r.doc_a, r.doc_b) for r in dedup.semantic_dup_pairs(
            df, k=2, threshold=_REF_T).collect()}
        cluster = {r.vec_id: r.cluster for r in dedup.semantic_dedup(
            df, k=2, threshold=_REF_T).collect()}
        assert got == _ref_pairs(_REF_VECS, _REF_VECS, cluster)
        assert (1, 3) in got

    def test_incremental_cosines_are_reference_bits(self, spark):
        new = {3, 4, 5, 7, 8}
        out = dedup.semantic_incremental_pairs(
            _vec_frame(spark, _REF_VECS, {1, 2, 6}),
            _vec_frame(spark, _REF_VECS, new), k=2, threshold=_REF_T,
        ).collect()
        for r in out:
            assert r.cosine == _ref_cosine(_REF_VECS[r.doc_a],
                                           _REF_VECS[r.doc_b]), r
        got = {(r.doc_a, r.doc_b) for r in out}
        assert got == _ref_pairs(_REF_VECS, _REF_VECS, self.GROUP, new)
        # both verify paths: corpus x new (exploded index) and new x new
        assert {(1, 3), (4, 8)} <= got

    def test_streaming_survivors_follow_reference_pairs(self, spark, tmp_path):
        from datalake_spark.streaming.semantic import SemanticStreamDeduper

        landing, out = tmp_path / "landing", str(tmp_path / "out")
        landing.mkdir()
        dd = SemanticStreamDeduper(spark, out, k=2, threshold=_REF_T)
        first, second = [1, 2, 6], [3, 4, 5, 7, 8]
        for n, ids in enumerate((first, second)):
            (landing / f"b{n}.json").write_text("".join(
                json.dumps({"vec_id": i, "embedding": _REF_VECS[i], "ms": i})
                + "\n" for i in ids))
            dd.start(str(landing), str(tmp_path / "ck")).awaitTermination(120)
        pairs = _ref_pairs(_REF_VECS, first + second, self.GROUP, second)
        # a new doc dies pairing with a kept corpus doc, or with a
        # smaller-id doc of its own batch
        drop = {b if a in first or a < b else a for a, b in pairs}
        got = {r.vec_id for r in spark.read.parquet(f"{out}/vecs").collect()}
        assert got == set(first + second) - drop
        assert 3 in drop

    def test_embedding_near_dup_rounds_the_reference(self, spark, tmp_path):
        from datalake_spark.queries import pipeline_q

        _vec_frame(spark, _REF_VECS).write.parquet(
            str(tmp_path / "embeddings.parquet"))
        out = pipeline_q.embedding_near_dup(spark, str(tmp_path)).collect()
        for r in out:
            assert r.cosine_r == round(
                _ref_cosine(_REF_VECS[r.id_a], _REF_VECS[r.id_b]), 8), r
        same = dict.fromkeys(_REF_VECS, 0)
        assert {(r.id_a, r.id_b) for r in out} == _ref_pairs(
            _REF_VECS, _REF_VECS, same, t=pipeline_q._ND_THRESHOLD)

    def test_malformed_vectors_never_pair(self, spark, tmp_path):
        """A NULL vector, a NULL component and a length mismatch have no
        cosine: -2.0 in brute_force_topk, and no SemDeDup pair on the
        batch, incremental or streaming path."""
        vecs = {**_REF_VECS, **_BAD_VECS,
                13: [0.05, 1.0, None, 0.1234567]}
        top = similarity.brute_force_topk(
            _vec_frame(spark, vecs, {1}), _vec_frame(spark, vecs, set(vecs) - {1}),
            k=len(vecs))
        cos = {r.c_id: r.cosine for r in top.collect()}
        assert {cos[i] for i in (10, 11, 12, 13)} == {-2.0}
        assert cos[12] < cos[3]

        ids = set(_REF_VECS) | set(_BAD_VECS)
        df = _vec_frame(spark, vecs, ids)
        verdict = {r.vec_id: r for r in dedup.semantic_dedup(
            df, k=2, threshold=_REF_T).collect()}
        assert set(verdict) == ids
        assert all(verdict[i].keep for i in _BAD_VECS)
        assert verdict[10].cluster is None
        got = {(r.doc_a, r.doc_b) for r in dedup.semantic_dup_pairs(
            df, k=2, threshold=_REF_T).collect()}
        assert got == _ref_pairs(_REF_VECS, _REF_VECS, self.GROUP)

        new = {3, 4, 5, 7, 8, 10, 11, 12}
        got = {(r.doc_a, r.doc_b) for r in dedup.semantic_incremental_pairs(
            _vec_frame(spark, vecs, {1, 2, 6, 13}), _vec_frame(spark, vecs, new),
            k=2, threshold=_REF_T).collect()}
        assert got == _ref_pairs(_REF_VECS, _REF_VECS, self.GROUP, new - {10, 11, 12})

        from datalake_spark.streaming.semantic import SemanticStreamDeduper

        landing, out = tmp_path / "landing", str(tmp_path / "out")
        landing.mkdir()
        dd = SemanticStreamDeduper(spark, out, k=2, threshold=_REF_T)
        for n, batch in enumerate(([1, 2, 6, 13], [3, 10, 11, 12])):
            (landing / f"b{n}.json").write_text("".join(
                json.dumps({"vec_id": i, "embedding": vecs[i], "ms": i})
                + "\n" for i in batch))
            dd.start(str(landing), str(tmp_path / "ck")).awaitTermination(120)
        got = {r.vec_id for r in spark.read.parquet(f"{out}/vecs").collect()}
        assert got == {1, 2, 6, 13, 10, 11, 12}


def _column_seed_codebooks(df, id_col, vec_col, m, ksub,
                           cell_col=None, cents=None):
    """Seed codebook rows (sub, code, cb_micro) rebuilt from the Column
    quantize_micro_unit: the ``ksub`` lowest-id vectors, code = id rank,
    each sliced into ``m`` subvectors.  With ``cell_col`` + ``cents``
    each seed is the residual qv(vector) − qv(its cell's centroid)."""
    from datalake_spark.functions.vectors import quantize_micro_unit

    sel = [F.col(id_col).alias("_id"),
           quantize_micro_unit(F.col(vec_col)).alias("_qv")]
    if cell_col is not None:
        sel.append(F.col(cell_col).alias("_cell"))
    seeds = sorted(df.select(*sel).orderBy("_id").limit(ksub).collect(),
                   key=lambda r: r["_id"])
    cm = None
    if cents is not None:
        cm = {
            r["cent_id"]: r["_cm"]
            for r in cents.select(
                "cent_id", quantize_micro_unit(F.col("cent_vec")).alias("_cm")
            ).collect()
        }
    out = []
    for code, r in enumerate(seeds):
        qv = r["_qv"]
        if cm is not None:
            qv = [a - b for a, b in zip(qv, cm[r["_cell"]])]
        d_sub = len(qv) // m
        out += [(sub, code, tuple(qv[sub * d_sub:(sub + 1) * d_sub]))
                for sub in range(m)]
    return sorted(out)


class TestPq:
    """Product quantization (pq_train/pq_encode/pq_search): exact-integer
    ADC, standing-index parquet roundtrip, and recall against the exact
    brute-force baseline."""

    def test_codebook_and_codes_shapes(self, emb):
        c = emb.filter("vec_id >= 3")
        cb = similarity.pq_train(c, m=8, ksub=16)
        rows = cb.collect()
        assert len(rows) == 8 * 16
        assert all(len(r["cb_micro"]) == 8 for r in rows)  # dim 64 / m 8
        codes = similarity.pq_encode(c, cb, m=8).collect()
        n = c.count()
        assert len(codes) == n * 8
        assert all(0 <= r["code"] < 16 for r in codes)

    def test_recall_vs_brute_force(self, emb):
        """ADC top-5 recall floor on the gate embeddings.  These are
        isotropic random vectors — PQ's worst case (no cluster structure
        for codebooks to exploit, all cosines concentrated near 0), so
        the bar is 0.4 at m=32/ksub=32 (measured 0.54-0.58; the classic
        m=8/ksub=16 scores 0.06 here while fine on clustered corpora).
        Recall scales with m exactly as PQ theory predicts — 0.06/0.30/
        0.50 at m=8/16/32 with ksub=16 — which is itself evidence the
        distance machinery is right; exactness is pinned by the ADC
        value oracle (ANN_PQ_SQL), not by recall."""
        q = emb.filter("vec_id < 10")
        c = emb.filter("vec_id >= 10")
        exact = {
            (r["q_id"], r["c_id"])
            for r in similarity.brute_force_topk(q, c, k=5).collect()
        }
        ann = {
            (r["q_id"], r["c_id"])
            for r in similarity.pq_topk(q, c, k=5, m=32, ksub=32).collect()
        }
        recall = len(exact & ann) / len(exact)
        assert recall >= 0.4, f"recall {recall}"

    def test_trained_codebooks_recall_geq_coreset(self, emb):
        """r11: pq_train's Lloyd rounds (iters=2, the default) must not
        lose recall vs the raw coreset seed (iters=0, the pre-r11
        codebooks) on the gate embeddings — the training exists to FIT
        the codebooks to the data, so at worst it matches the seed.
        Measured on this corpus: 0.58 coreset → 0.70 trained at
        m=32/ksub=32."""
        q = emb.filter("vec_id < 10")
        c = emb.filter("vec_id >= 10")
        exact = {
            (r["q_id"], r["c_id"])
            for r in similarity.brute_force_topk(q, c, k=5).collect()
        }

        def recall(iters: int) -> float:
            ann = {
                (r["q_id"], r["c_id"])
                for r in similarity.pq_topk(
                    q, c, k=5, m=32, ksub=32, train_iters=iters
                ).collect()
            }
            return len(exact & ann) / len(exact)

        coreset, trained = recall(0), recall(2)
        assert trained >= coreset, (trained, coreset)

    def test_pq_train_scope_releases_every_persisted_frame(self, spark,
                                                           emb):
        """Training persists the exploded subvectors; ``released()``
        must unpersist every persisted frame so loop-driving callers
        can release (the kmeans_iterate discipline).  r14: the
        per-round codebooks are no longer persisted DataFrames — they
        are parameter-bounded local relations (_materialize_small), so
        the only cluster-cached frame is sv and nothing can leak."""
        # materialize the fixture's own cache BEFORE the snapshot so the
        # leak check attributes only pq_train's persists (r14: training
        # executes eagerly inside the call, so the fixture cache would
        # otherwise first materialize after `before` and read as a leak)
        emb.count()
        before = rdd_ids(spark)
        with released() as frames:
            cb = similarity.pq_train(
                emb.filter("vec_id >= 3"), m=8, ksub=16, iters=2,
            )
            assert cb.count() == 8 * 16 and len(frames) == 1  # sv (r14)
        leaked = rdd_ids(spark) - before
        assert not leaked, f"persisted RDDs leaked by pq_train: {leaked}"

    def test_py_quantize_micro_unit_matches_column_twin(self, spark):
        """r14 single-collect seed path: the driver-side quantizer must be
        BIT-identical to the Column expression on adversarial inputs —
        negatives, zero vector, sub-micro components (quantize to 0 with
        the 0.5 offset), large components, near-.5 rounding boundaries."""
        from pyspark.sql import functions as F

        from datalake_spark.functions.vectors import quantize_micro_unit
        from datalake_spark.operators.similarity import (
            _py_quantize_micro_unit,
        )

        vecs = [
            [0.0] * 8,
            [1.0] + [0.0] * 7,
            [-1.0, 1.0, -0.5, 0.5, -0.25, 0.125, 3.75, -2.5],
            [1e-7, -1e-7, 4.9e-7, 5.1e-7, -4.9e-7, -5.1e-7, 0.0, 1.0],
            [123.456789, -987.654321, 0.0000015, -0.0000025, 1.5, 2.5,
             -1.5, -2.5],
            [0.1234565, 0.1234575, -0.1234565, -0.1234575, 7.0, -7.0,
             0.33333333, -0.66666667],
        ]
        df = spark.createDataFrame(
            [(i, v) for i, v in enumerate(vecs)],
            "vec_id long, embedding array<double>",
        )
        cluster = {
            r["vec_id"]: r["u"]
            for r in df.select(
                "vec_id", quantize_micro_unit(F.col("embedding")).alias("u")
            ).collect()
        }
        for i, v in enumerate(vecs):
            assert _py_quantize_micro_unit(v) == cluster[i], f"vec {i}"

    def test_seed_codebooks_null_vector_raises_named_error(self, spark):
        """r15 (r14 advisor): a NULL seed vector or NULL component must
        raise a clear ValueError naming the seed id — not an opaque
        TypeError (driver path) or silently-NULL cb_micro rows (cluster
        path)."""
        import pytest

        from datalake_spark.operators.similarity import (
            _seed_codebooks_local,
        )

        for bad in (
            [{"_id": 7, "_vec": None}],
            [{"_id": 9, "_vec": [1.0, None, 0.5, 0.25]}],
        ):
            with pytest.raises(ValueError, match="seed embedding"):
                _seed_codebooks_local(spark, bad, m=2)

    def test_py_quantize_micro_unit_norm_overflow_raises(self):
        """r15 (r14 advisor): a norm-square past 2^63-1 would silently
        WRAP in the cluster's long fold while the Python twin is exact
        big-int — the driver path must refuse loudly instead of letting
        the two paths diverge."""
        import pytest

        from datalake_spark.operators.similarity import (
            _py_quantize_micro_unit,
        )

        # one component of 4e12 → q ~ 4e18, q² ~ 1.6e37 >> 2^63-1
        with pytest.raises(ValueError, match="signed-64-bit"):
            _py_quantize_micro_unit([4.0e12, 1.0])
        # magnitude just inside the guard still works: 3e3 over 8 dims
        # → nsq ≈ 8 * (3e9)² = 7.2e19 > 9.2e18 raises too
        with pytest.raises(ValueError, match="signed-64-bit"):
            _py_quantize_micro_unit([3000.0] * 8)
        # normal-range embeddings are untouched
        assert _py_quantize_micro_unit([1.0, -0.5]) is not None

    def test_seed_codebooks_match_column_reference(self, emb):
        """pq_train(iters=0) builds its seed codebooks driver-side; they
        must equal the seeds rebuilt from the Column quantizer."""
        c = emb.filter("vec_id >= 3")
        got = sorted(
            (r["sub"], r["code"], tuple(r["cb_micro"]))
            for r in similarity.pq_train(c, m=16, ksub=8, iters=0).collect()
        )
        assert got == _column_seed_codebooks(
            c, "vec_id", "embedding", m=16, ksub=8
        )

    def test_pq_assign_matches_python_reference(self, spark):
        """The mapInArrow PQ assignment must equal the pure-Python
        reference (exact int squared-L2, first min over code-sorted
        codewords) — including ties, which resolve to the SMALLEST code."""
        import random as _random

        from datalake_spark.operators.similarity import (
            _pq_assign, _pq_subvectors, _seed_codebooks_local,
        )

        rng = _random.Random(7)
        dim, m, ksub = 16, 4, 4
        vecs = [
            [rng.uniform(-3, 3) for _ in range(dim)] for _ in range(40)
        ]
        # adversarial: seed 3 duplicates seed 2, so codes 2 and 3 are
        # identical codewords and every subvector nearest to them ties;
        # duplicates of seed rows force exact-zero distances
        vecs[3] = list(vecs[2])
        vecs[10] = list(vecs[0])
        vecs[11] = list(vecs[1])
        vecs[12] = [0.0] * dim           # zero norm -> all-zero unit
        vecs[13] = [1e-8] * dim          # sub-micro -> quantizes to 0
        df = spark.createDataFrame(
            [(i, v) for i, v in enumerate(vecs)],
            "vec_id long, embedding array<double>",
        )
        seed_rows = (
            df.selectExpr("vec_id as _id", "embedding as _vec")
            .orderBy("_id").limit(ksub).collect()
        )
        cb = _seed_codebooks_local(spark, seed_rows, m)
        sv = _pq_subvectors(df, m, "vec_id", "embedding")
        books: dict = {}
        for r in cb.collect():
            books.setdefault(r["sub"], {})[r["code"]] = r["cb_micro"]
        base = {
            (r["c_id"], r["sub"]): tuple(r["sv_micro"])
            for r in sv.collect()
        }
        expected = {
            k: _ref_pq_code(v, books[k[1]]) for k, v in base.items()
        }
        got = {
            (r["c_id"], r["sub"]): (r["code"], tuple(r["sv_micro"]))
            for r in _pq_assign(sv, cb, ("sv_micro",)).collect()
        }
        assert {k: v[0] for k, v in got.items()} == expected
        assert len(expected) == 40 * m
        assert 3 not in expected.values() and 2 in expected.values()
        # keep threading carries sv_micro through unchanged
        assert {k: v[1] for k, v in got.items()} == base

    def test_pq_encode_missing_sub_raises_named_error(self, emb):
        """A subvector whose sub has no codebook is one named ValueError
        (not a raw KeyError from the kernel's codebook lookup)."""
        c = emb.filter("vec_id >= 3")
        cb = similarity.pq_train(c, m=8, ksub=4, iters=0)
        with pytest.raises(Exception, match="no codebook for sub 5"):
            similarity.pq_encode(c, cb.filter("sub != 5"), m=8).collect()

    def test_assign_nearest_matches_python_reference(self, spark):
        """ivf_assign_cells must equal the pure-Python reference (exact
        int dots, the fixed IEEE finish, first max over cent_id-sorted
        centroids) — ties (a vector equidistant to two centroids takes
        the smaller cent_id), zero-norm and sub-micro vectors (every sim
        −2.0 → smallest cent_id), NULL vectors and NULL components (same
        landing), and an empty centroid frame (no rows)."""
        import random as _random

        rng = _random.Random(11)
        dim = 12
        vecs = [
            [rng.uniform(-2, 2) for _ in range(dim)] for _ in range(50)
        ]
        vecs[5] = [0.0] * dim            # zero norm -> smallest cent_id
        vecs[6] = [1e-8] * dim           # sub-micro -> quantizes to 0
        vecs[7] = None                   # NULL vector
        # NULL component in a copy of centroid 4's vector: still lands
        # on the smallest cent_id, never on 4
        vecs[8] = vecs[1][:5] + [None] + vecs[1][6:]
        cent_vecs = {3: vecs[0], 4: vecs[1], 8: vecs[2], 9: list(vecs[2])}
        # duplicate centroid vectors (ids 8, 9) force an exact sim tie
        cents = spark.createDataFrame(
            list(cent_vecs.items()), "cent_id long, cent_vec array<double>"
        )
        df = spark.createDataFrame(
            list(enumerate(vecs)), "vec_id long, embedding array<double>"
        )
        got = {
            r["c_id"]: r["cent_id"]
            for r in similarity.ivf_assign_cells(df, cents).collect()
        }
        assert got == {
            i: _ref_nearest(v, cent_vecs) for i, v in enumerate(vecs)
        }
        assert 9 not in got.values() and 8 in got.values()
        assert got[5] == got[6] == got[7] == got[8] == 3
        empty = cents.filter("cent_id < 0")
        assert similarity.ivf_assign_cells(df, empty).collect() == []

    def test_assign_cells_keeps_string_cent_id_type(self, spark):
        """cent_id keeps the centroid frame's own type: an index built on
        string vec_ids assigns string cells."""
        from pyspark.sql import types as T

        vecs = {f"v{i:02d}": [math.cos(i), math.sin(i), 0.5 * i, 1.0]
                for i in range(20)}
        df = spark.createDataFrame(
            list(vecs.items()), "vec_id string, embedding array<double>"
        )
        cents, _ = similarity.ivf_index_build(df, num_centroids=4)
        out = similarity.ivf_assign_cells(df, cents)
        assert out.schema["cent_id"].dataType == T.StringType()
        cent_vecs = {r["cent_id"]: r["cent_vec"] for r in cents.collect()}
        assert {r["c_id"]: r["cent_id"] for r in out.collect()} == {
            k: _ref_nearest(v, cent_vecs) for k, v in vecs.items()
        }

    def test_assign_cells_dim_mismatch_raises_named_error(self, spark):
        """A vector whose width differs from the centroids' is one named
        ValueError from the assignment kernel."""
        cents = spark.createDataFrame(
            [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])],
            "cent_id long, cent_vec array<double>",
        )
        df = spark.createDataFrame(
            [(0, [1.0, 0.0, 0.0]), (1, [1.0, 0.0])],
            "vec_id long, embedding array<double>",
        )
        with pytest.raises(Exception, match="embedding dim mismatch"):
            similarity.ivf_assign_cells(df, cents).collect()

    def test_residual_seed_codebooks_match_column_reference(self, emb):
        """pq_train(iters=0) with a cell column + centroids builds its
        RESIDUAL seed codebooks driver-side; they must equal the residual
        seeds rebuilt from the Column quantizer."""
        c = emb.filter("vec_id >= 3")
        cents, assign = similarity.ivf_index_build(c, num_centroids=4)
        got = sorted(
            (r["sub"], r["code"], tuple(r["cb_micro"]))
            for r in similarity.pq_train(
                assign, m=16, ksub=8, iters=0, id_col="c_id",
                vec_col="c_vec", cells="cent_id", centroids=cents,
            ).collect()
        )
        assert got and got == _column_seed_codebooks(
            assign, "c_id", "c_vec", m=16, ksub=8,
            cell_col="cent_id", cents=cents,
        )

    def test_parquet_roundtrip_matches_one_call(self, spark, emb, tmp_path):
        queries = emb.filter("vec_id < 3")
        c = emb.filter("vec_id >= 3")
        direct = {
            (r["q_id"], r["rk"]): (r["c_id"], r["adc"])
            for r in similarity.pq_topk(queries, c, k=5).collect()
        }
        cb = similarity.pq_train(c)
        codes = similarity.pq_encode(c, cb)
        cb.write.parquet(f"{tmp_path}/cb")
        codes.write.parquet(f"{tmp_path}/codes")
        via_index = {
            (r["q_id"], r["rk"]): (r["c_id"], r["adc"])
            for r in similarity.pq_search(
                spark.read.parquet(f"{tmp_path}/cb"),
                spark.read.parquet(f"{tmp_path}/codes"),
                queries, k=5,
            ).collect()
        }
        assert via_index == direct and direct

    def test_ivfpq_full_probe_equals_plain_pq(self, emb):
        """nprobe >= num_centroids means every cell is probed, so IVF-PQ
        must reproduce pq_search EXACTLY (same exact-BIGINT ADC keys) —
        the structural pin that the cell layer only prunes, never
        perturbs, the distance machinery."""
        q = emb.filter("vec_id < 3")
        c = emb.filter("vec_id >= 3")
        plain = {
            (r["q_id"], r["rk"]): (r["c_id"], r["adc"])
            for r in similarity.pq_topk(q, c, k=5, m=16, ksub=16).collect()
        }
        full = {
            (r["q_id"], r["rk"]): (r["c_id"], r["adc"])
            for r in similarity.ivfpq_topk(
                q, c, k=5, num_centroids=8, nprobe=8, m=16, ksub=16
            ).collect()
        }
        assert full == plain and plain

    def test_ivfpq_index_roundtrip_and_pruned_probe(self, spark, emb,
                                                    tmp_path):
        """The standing IVF-PQ index: centroids + codebooks + cell-tagged
        codes written to parquet (codes partitionBy cent_id), reloaded,
        and probed — (a) results identical to the one-call operator, and
        (b) the probe plan touches the corpus ONLY through the index
        (zero corpus-source scan leaves — the
        test_semantic_probe_reads_index_not_corpus discipline)."""
        spark.catalog.clearCache()
        corpus_dir = str(tmp_path / "corpus-src")
        emb.filter("vec_id >= 3").write.parquet(corpus_dir)
        c = spark.read.parquet(corpus_dir)
        q = emb.filter("vec_id < 3")

        direct = {
            (r["q_id"], r["rk"]): (r["c_id"], r["adc"])
            for r in similarity.ivfpq_topk(
                q, c, k=5, num_centroids=8, nprobe=3, m=16, ksub=16
            ).collect()
        }
        cents, assign = similarity.ivf_index_build(c, num_centroids=8)
        cb = similarity.pq_train(c, m=16, ksub=16)
        codes = similarity.pq_encode(
            c, cb, m=16, cells=assign.select("c_id", "cent_id")
        )
        idx = tmp_path / "idx"
        cents.write.parquet(str(idx / "cents"))
        cb.write.parquet(str(idx / "cb"))
        codes.write.partitionBy("cent_id").parquet(str(idx / "codes"))

        out = similarity.ivfpq_search(
            spark.read.parquet(str(idx / "cents")),
            spark.read.parquet(str(idx / "cb")),
            spark.read.parquet(str(idx / "codes")),
            q, k=5, nprobe=3, m=16,
        )
        # (b) plan audit: no scan leaf over the corpus source path
        stack = [out._jdf.queryExecution().executedPlan()]
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
        via_index = {
            (r["q_id"], r["rk"]): (r["c_id"], r["adc"])
            for r in out.collect()
        }
        assert via_index == direct and direct

    def test_adc_stable_under_repartitioning(self, emb):
        """The exact-BIGINT distance discipline means a different
        partitioning must produce the identical ranking (the r6 lesson:
        double folds flip ranks on near-parallel vectors)."""
        q = emb.filter("vec_id < 3")
        c = emb.filter("vec_id >= 3")
        a = {(r["q_id"], r["rk"]): (r["c_id"], r["adc"])
             for r in similarity.pq_topk(q, c, k=5).collect()}
        b = {(r["q_id"], r["rk"]): (r["c_id"], r["adc"])
             for r in similarity.pq_topk(
                 q.repartition(7), c.repartition(13), k=5).collect()}
        assert a == b

    def test_zero_norm_vector_yields_zero_components_not_nan(self, spark):
        """A failed-encoder all-zero embedding must quantize to all-zero
        unit components (divisor pinned to 1), never NaN/NULL — one NaN
        codeword would poison every distance against it and the oracle's
        division could disagree."""
        from datalake_spark.functions.vectors import quantize_micro_unit

        df = spark.createDataFrame(
            [(1, [0.0] * 8), (2, [1.0] + [0.0] * 7)],
            "vec_id long, embedding array<double>",
        )
        rows = {
            r["vec_id"]: r["u"]
            for r in df.select(
                "vec_id", quantize_micro_unit("embedding").alias("u")
            ).collect()
        }
        assert rows[1] == [0] * 8
        assert rows[2][0] == 1_000_000 and rows[2][1:] == [0] * 7

    def test_dim_not_multiple_of_m_raises(self, spark):
        """Silent truncation dropped tail dims pre-fix; m>dim gave all-zero
        distances.  Both now raise at scan time."""
        import pytest as _pt

        df = spark.createDataFrame(
            [(i, [float(i)] * 6) for i in range(20)],
            "vec_id long, embedding array<double>",
        )
        with _pt.raises(Exception, match="multiple of m"):
            similarity.pq_train(df, m=4, ksub=4).collect()
        with _pt.raises(Exception, match="multiple of m"):
            similarity.pq_topk(df.filter("vec_id < 2"),
                               df.filter("vec_id >= 2"), k=2, m=8).collect()

    def test_zero_norm_candidate_ranks_last_not_first(self, spark):
        """0/0 cosine is NaN and BOTH engines sort NaN above every real
        double — pre-guard, one zero-norm embedding ranked FIRST in every
        query's top-k.  nanvl pins it to -2.0 (below the cosine range):
        real neighbors fill the top-k and the zero vector only appears
        when k exceeds the real candidate count."""
        rows = [(0, [1.0, 0.0, 0.0, 0.0])] + [
            (10 + i, [1.0, float(i) * 0.1, 0.0, 0.0]) for i in range(3)
        ] + [(99, [0.0, 0.0, 0.0, 0.0])]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        q = df.filter("vec_id = 0")
        c = df.filter("vec_id >= 10")
        top3 = {r["c_id"] for r in similarity.brute_force_topk(q, c, k=3).collect()}
        assert 99 not in top3
        all4 = {r["c_id"]: r["cosine"]
                for r in similarity.brute_force_topk(q, c, k=4).collect()}
        assert all4[99] == -2.0


class TestIvfPqResidual:
    """IVFADC residual layout (r11, similarity.ivfpq_topk residual=True):
    codes quantize qv(x) − qv(cell centroid), the search subtracts the
    probed cell's centroid from the query.  No DuckDB oracle (the gate
    keeps the raw layout — on the gate's ISOTROPIC synthetic embeddings
    residuals measurably do not help: recall@5 0.37 residual vs 0.42 raw
    at m=32/ksub=32, because random unit vectors give residuals no
    concentration to exploit; the layout exists for real clustered
    corpora, per Jégou et al. 2011 §III-C).  Verification here is a
    pure-numpy integer replica of the ENTIRE pipeline — the BPE
    reference-trainer precedent — plus determinism/partitioning pins.
    """

    M, KSUB, NC, NPROBE, K, NQ = 8, 8, 4, 2, 3, 3

    def _numpy_reference(self, vecs):
        """Replay quantize → cells → residuals → coreset+Lloyd → encode →
        probe → ADC with plain-python integers (floats only where the
        operators use fixed IEEE ops: norms and cosines)."""
        m, ksub, nc, nprobe, k, nq = (
            self.M, self.KSUB, self.NC, self.NPROBE, self.K, self.NQ)

        def qunit(v):
            qa = _ref_qmicro(v)
            nsq = sum(x * x for x in qa)
            nrm = math.sqrt(float(nsq)) if nsq > 0 else 1.0
            return [math.floor(x / nrm * 1_000_000 + 0.5) for x in qa]

        ids = sorted(vecs)
        qids, cids = ids[:nq], ids[nq:]
        cents = {cid: vecs[cid] for cid in cids[:nc]}
        cell = {
            c: max(cents, key=lambda ct: (_ref_cosine(vecs[c], cents[ct]), -ct))
            for c in cids
        }
        cm = {ct: qunit(v) for ct, v in cents.items()}
        rv = {
            c: [a - b for a, b in zip(qunit(vecs[c]), cm[cell[c]])]
            for c in cids
        }
        d_sub = len(next(iter(rv.values()))) // m

        def subs(v):
            return [v[s * d_sub:(s + 1) * d_sub] for s in range(m)]

        # coreset seed, then Lloyd rounds in the exact-integer discipline
        cb = {(s, code): subs(rv[cid])[s]
              for code, cid in enumerate(cids[:ksub]) for s in range(m)}
        for _ in range(2):
            assign = {
                (c, s): min(
                    range(ksub),
                    key=lambda code: (
                        sum((a - b) ** 2
                            for a, b in zip(subs(rv[c])[s], cb[(s, code)])),
                        code))
                for c in cids for s in range(m)
            }
            nxt = {}
            for s in range(m):
                for code in range(ksub):
                    members = [c for c in cids if assign[(c, s)] == code]
                    if not members:
                        nxt[(s, code)] = cb[(s, code)]
                        continue
                    n = len(members)
                    comp = []
                    for p in range(d_sub):
                        num = 2 * sum(subs(rv[c])[s][p] for c in members) + n
                        den = 2 * n
                        comp.append((num - (num % den)) // den)
                    nxt[(s, code)] = comp
            cb = nxt
        codes = {
            (c, s): min(
                range(ksub),
                key=lambda code: (
                    sum((a - b) ** 2
                        for a, b in zip(subs(rv[c])[s], cb[(s, code)])),
                    code))
            for c in cids for s in range(m)
        }
        out = {}
        for qid in qids:
            probes = sorted(
                cents, key=lambda ct: (-_ref_cosine(vecs[qid], cents[ct]), ct)
            )[:nprobe]
            scored = []
            for c in cids:
                if cell[c] not in probes:
                    continue
                qr = [a - b
                      for a, b in zip(qunit(vecs[qid]), cm[cell[c]])]
                adc = sum(
                    sum((a - b) ** 2
                        for a, b in zip(subs(qr)[s], cb[(s, codes[(c, s)])]))
                    for s in range(m))
                scored.append((adc, c))
            for rk, (adc, c) in enumerate(sorted(scored)[:k], start=1):
                out[(qid, rk)] = (c, adc)
        return out

    def test_matches_pure_python_integer_reference(self, emb):
        sample = emb.filter("vec_id < 60")
        vecs = {r["vec_id"]: list(r["embedding"])
                for r in sample.collect()}
        expected = self._numpy_reference(vecs)
        q = sample.filter(f"vec_id < {self.NQ}")
        c = sample.filter(f"vec_id >= {self.NQ}")
        got = {
            (r["q_id"], r["rk"]): (r["c_id"], r["adc"])
            for r in similarity.ivfpq_topk(
                q, c, k=self.K, num_centroids=self.NC,
                nprobe=self.NPROBE, m=self.M, ksub=self.KSUB,
                residual=True,
            ).collect()
        }
        assert got == expected and got

    def test_repartitioning_invariance(self, emb):
        q = emb.filter("vec_id < 3")
        c = emb.filter("vec_id >= 3")
        base = sorted(
            (r["q_id"], r["rk"], r["c_id"], r["adc"])
            for r in similarity.ivfpq_topk(
                q, c, k=5, num_centroids=8, nprobe=3, m=16, ksub=16,
                residual=True,
            ).collect())
        shuffled = sorted(
            (r["q_id"], r["rk"], r["c_id"], r["adc"])
            for r in similarity.ivfpq_topk(
                q.repartition(7), c.repartition(13), k=5, num_centroids=8,
                nprobe=3, m=16, ksub=16, residual=True,
            ).collect())
        assert base == shuffled and base

    def test_standing_index_residual_manifest(self, spark, emb, tmp_path):
        """A residual index commits its layout to the manifest: appends
        encode residuals against the standing model and a REOPENED
        handle (default constructor args) serves residual search."""
        from datalake_spark.operators.ann_index import IvfPqIndex

        q = emb.filter("vec_id < 3")
        base = emb.filter("vec_id >= 3 AND vec_id < 300")
        extra = emb.filter("vec_id >= 300")
        root = str(tmp_path / "residx")
        idx = IvfPqIndex(spark, root, num_centroids=8, m=16, ksub=16,
                         residual=True)
        idx.build(base)
        idx.append(extra, 1)
        assert idx.manifest()["residual"] is True
        direct = sorted(
            (r["q_id"], r["rk"], r["c_id"], r["adc"])
            for r in idx.search(q, k=5, nprobe=3).collect())
        reopened = IvfPqIndex(spark, root)  # layout comes from manifest
        again = sorted(
            (r["q_id"], r["rk"], r["c_id"], r["adc"])
            for r in reopened.search(q, k=5, nprobe=3).collect())
        assert direct == again and direct


class TestPerceptualHash:
    """Integer DCT pHash (functions/imaging.phash64), the banded pair
    finder (dedup.hamming_band_pairs), and the real-codec operator
    (multimodal.phash_image).  The full cross-engine arithmetic replay
    is the image_phash_pairs driver gate; these pin local semantics."""

    def _img(self, seed, h=32, w=32):
        import numpy as np

        rng = np.random.RandomState(seed)
        return rng.randint(0, 255, size=(h, w, 1)).astype(np.uint8)

    def test_robust_to_small_perturbation_distinct_otherwise(self):
        import numpy as np

        from datalake_spark.functions.imaging import phash64

        a = self._img(7)
        b = a.copy()
        b[0, 0, 0] = (int(b[0, 0, 0]) + 40) % 255
        c = self._img(8)
        ha, hb, hc = phash64(a), phash64(b), phash64(c)
        assert bin(ha ^ hb).count("1") <= 3
        assert bin(ha ^ hc).count("1") > 10
        assert 0 <= ha < 2 ** 63
        # brightness invariance: DC is dropped, so a constant shift
        # (mod-free, no wraparound) must not move the hash at all
        d = np.clip(a.astype(np.int64) + 17, 0, 255).astype(np.uint8)
        flipped = bin(ha ^ phash64(d)).count("1")
        assert flipped <= 2, flipped

    def test_resizes_and_grayscales(self):
        from datalake_spark.functions.imaging import phash64

        big = self._img(9, h=64, w=48)
        assert isinstance(phash64(big), int)
        rgb = self._img(10).repeat(3, axis=2)
        assert phash64(rgb) == phash64(self._img(10))  # mean of equal chans

    def test_hamming_band_pairs_is_pigeonhole_exact(self, spark):
        """Every pair within max_hamming MUST be found (hamming <
        num_bands pigeonhole); pairs beyond it never appear."""
        import itertools

        from datalake_spark.operators.dedup import hamming_band_pairs

        hashes = [0b111, (1 << 62) | 0b111, (1 << 62) | 0b100,
                  0b1111111111, (1 << 40) | (1 << 20) | 1]
        rows = [(i, h) for i, h in enumerate(hashes)]
        df = spark.createDataFrame(rows, "media_id long, phash long")
        got = {(r["id_a"], r["id_b"]): r["hamming"]
               for r in hamming_band_pairs(df).collect()}
        want = {}
        for (i, a), (j, b) in itertools.combinations(rows, 2):
            d = bin(a ^ b).count("1")
            if d <= 3:
                want[(i, j)] = d
        assert got == want and want

    def test_hamming_pairs_native_string_ids_and_null_drop(self, spark):
        """Ids keep their native type (r11 advisor: the long cast
        silently NULLed string ids like phash_image's media_id) and
        null-id/null-hash rows are dropped, not paired."""
        from datalake_spark.operators.dedup import hamming_band_pairs

        rows = [("img-a", 0b111), ("img-b", 0b100), (None, 0b111),
                ("img-c", None)]
        df = spark.createDataFrame(rows, "media_id string, phash long")
        got = {(r["id_a"], r["id_b"]): r["hamming"]
               for r in hamming_band_pairs(df).collect()}
        assert got == {("img-a", "img-b"): 2}

    def test_hamming_truncation_sentinel_and_detector(self, spark):
        """The cap's exactness boundary is self-describing: trunc_out /
        hamming_truncated_buckets report every over-cap bucket with its
        pre-cap size, and the capped pairs equal the id-smallest-prefix
        expansion (the minhash/simhash sentinel contract, closing the
        r11 'silent truncation' gap)."""
        import itertools

        from datalake_spark.operators.dedup import (
            hamming_band_pairs,
            hamming_truncated_buckets,
        )

        # 7 identical hashes -> every band bucket holds 7 rows; cap 4
        rows = [(i, 0b1010101) for i in range(7)] + [(99, 1 << 50)]
        df = spark.createDataFrame(rows, "media_id long, phash long")
        sent: list = []
        pairs = hamming_band_pairs(df, max_bucket=4, trunc_out=sent)
        got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
        want = {(a, b) for a, b in itertools.combinations(range(4), 2)}
        assert got == want  # the id-smallest 4 of each bucket pair up
        t = sent[0].collect()
        assert len(t) == 4  # every band truncates one bucket
        # the 1<<50 outlier shares the all-zero band-1/band-2 buckets
        # with the cluster (its set bit lives in band 3), so two
        # buckets carry 8 rows pre-cap
        assert sorted(r["bucket_size"] for r in t) == [7, 7, 8, 8]
        d = hamming_truncated_buckets(df, max_bucket=4).collect()
        assert sorted((r["band"], r["bucket_size"]) for r in d) == sorted(
            (r["band"], r["bucket_size"]) for r in t
        )
        # under-cap corpus: both channels are empty (exactness certified)
        sent2: list = []
        hamming_band_pairs(df, max_bucket=100, trunc_out=sent2).collect()
        assert sent2[0].count() == 0
        assert hamming_truncated_buckets(df, max_bucket=100).count() == 0

    def test_phash_image_real_codec_and_error_rows(self, spark):
        import pandas as pd

        from datalake_spark.functions.imaging import phash64, png_encode
        from datalake_spark.operators import multimodal as mm

        img = self._img(11)
        media = spark.createDataFrame(
            pd.DataFrame(
                {
                    "media_id": ["good", "junk"],
                    "modality": ["image", "image"],
                    "content": [png_encode(img), b"not a png"],
                    "mime": [None, None],
                    "width": [None, None],
                    "height": [None, None],
                    "duration_ms": [None, None],
                }
            ),
            schema=mm.MEDIA_SCHEMA,
        )
        out = {r["media_id"]: r for r in mm.phash_image(media).collect()}
        assert out["good"]["phash"] == phash64(img)
        assert out["good"]["decode_error"] is None
        assert out["junk"]["phash"] is None
        assert out["junk"]["decode_error"]
