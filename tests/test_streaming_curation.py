"""Streaming curation: rules + watermarked dedup + shard-layout append."""

import glob
import json
import os

import pytest

from datalake_spark.export import read_training_shard
from datalake_spark.streaming.curation import StreamingCurator
from tests.conftest import rdd_ids

T0 = 1_420_070_400_000


def _doc(i, text, lang="en", ms=None):
    return {"doc_id": i, "text": text, "lang": lang, "ms": ms or (T0 + i)}


def _write(landing, docs, name):
    os.makedirs(landing, exist_ok=True)
    with open(os.path.join(landing, name), "w") as f:
        for d in docs:
            f.write(json.dumps(d) + "\n")


def _good(i):
    body = " ".join(f"the s{i}w{j} a s{i}v{j}" for j in range(8))
    return f"doc {i} begins the tale here {body}"


class TestStreamingCuration:
    def test_rules_dedup_and_shard_layout(self, spark, tmp_path):
        landing = str(tmp_path / "landing")
        shards = str(tmp_path / "shards")
        ckpt = str(tmp_path / "ckpt")
        docs = [_doc(i, _good(i)) for i in range(20)]
        docs += [
            _doc(100, "the a tiny"),            # fails length band
            _doc(101, _good(5), ms=T0 + 5),     # in-watermark dup of doc 5's text
            _doc(102, _good(7), lang="de"),     # fails language
        ]
        _write(landing, docs, "b1.json")
        cur = StreamingCurator(spark, shards, n_shards=4)
        q = cur.start(landing, ckpt)
        q.awaitTermination(120)

        out = spark.read.parquet(shards)
        ids = sorted(r["doc_id"] for r in out.collect())
        assert ids == list(range(20))  # 100/101/102 all dropped
        # shard dirs exist; membership matches the batch writer's key math
        assert {os.path.basename(p).split("=")[1]
                for p in glob.glob(f"{shards}/shard=*")} <= {"0", "1", "2", "3"}
        total = 0
        for s in range(4):
            rows = read_training_shard(spark, shards, s).collect()
            keys = [r["_skey"] for r in rows]
            assert keys == sorted(keys)
            total += len(rows)
        assert total == 20

    def test_restart_appends_only_new_batches(self, spark, tmp_path):
        landing = str(tmp_path / "landing")
        shards = str(tmp_path / "shards")
        ckpt = str(tmp_path / "ckpt")
        _write(landing, [_doc(i, _good(i)) for i in range(5)], "b1.json")
        cur = StreamingCurator(spark, shards, n_shards=2)
        cur.start(landing, ckpt).awaitTermination(120)
        _write(landing, [_doc(i, _good(i)) for i in range(5, 8)], "b2.json")
        cur.start(landing, ckpt).awaitTermination(120)
        ids = sorted(r["doc_id"] for r in spark.read.parquet(shards).collect())
        assert ids == list(range(8))

    def test_compact_every_bounds_shard_files(self, spark, tmp_path):
        from datalake_spark.export import shard_file_counts

        landing = str(tmp_path / "landing")
        shards = str(tmp_path / "shards")
        ckpt = str(tmp_path / "ckpt")
        cur = StreamingCurator(spark, shards, n_shards=2, compact_every=1,
                               max_files_per_shard=2)
        for b in range(4):
            _write(landing, [_doc(b * 10 + k, _good(b * 10 + k))
                             for k in range(3)], f"b{b}.json")
            cur.start(landing, ckpt).awaitTermination(120)
        assert max(shard_file_counts(shards).values()) <= 2
        ids = sorted(r["doc_id"] for r in spark.read.parquet(shards).collect())
        assert len(ids) == 12


class TestStreamingPiiStage:
    def test_scrub_before_hash_dedups_pii_variants(self, spark, tmp_path):
        """Two docs identical except for their embedded PII must collapse
        to one after the scrub stage (scrub runs BEFORE the content
        hash), and the surviving text carries the typed placeholders."""
        from datalake_spark.streaming.curation import (
            StreamingCurator, curate_stream, doc_stream,
        )

        landing = str(tmp_path / "landing")
        shards = str(tmp_path / "shards")
        ckpt = str(tmp_path / "ckpt")
        base = _good(1)
        docs = [
            _doc(1, base + " mail alice@example.com from 10.0.0.7"),
            _doc(2, base + " mail bob@other.org from 192.168.1.9",
                 ms=T0 + 1),
        ]
        _write(landing, docs, "b1.json")
        cur = StreamingCurator(spark, shards, n_shards=2)
        q = cur.start(landing, ckpt, scrub_pii=True)
        q.awaitTermination(120)
        rows = spark.read.parquet(shards).collect()
        assert len(rows) == 1
        assert "<EMAIL>" in rows[0]["text"] and "<IP>" in rows[0]["text"]
        assert "alice@example.com" not in rows[0]["text"]

    def test_scrub_off_keeps_both(self, spark, tmp_path):
        from datalake_spark.streaming.curation import StreamingCurator

        landing = str(tmp_path / "landing")
        base = _good(2)
        docs = [
            _doc(1, base + " mail alice@example.com now ok"),
            _doc(2, base + " mail bob@other.org now ok", ms=T0 + 1),
        ]
        _write(landing, docs, "b1.json")
        cur = StreamingCurator(spark, str(tmp_path / "s2"), n_shards=2)
        q = cur.start(landing, str(tmp_path / "c2"))
        q.awaitTermination(120)
        assert spark.read.parquet(str(tmp_path / "s2")).count() == 2


class TestStreamingNearDup:
    """Incremental MinHash near-dup inside the streaming curator: each
    micro-batch probes the STANDING signature store (never re-pairing the
    corpus) and survivors extend it."""

    def _curator(self, spark, shards):
        return StreamingCurator(
            spark, shards, n_shards=2, near_dup_threshold=0.5
        )

    def test_cross_batch_near_dup_dropped(self, spark, tmp_path):
        landing = str(tmp_path / "landing")
        shards = str(tmp_path / "shards")
        cur = self._curator(spark, shards)
        # batch 1: distinct docs
        _write(landing, [_doc(i, _good(i)) for i in range(6)], "b1.json")
        q = cur.start(landing, str(tmp_path / "ck"))
        q.awaitTermination(120)
        # batch 2: doc 50 is a light edit of doc 2 (same long body, one
        # appended word -> Jaccard >> 0.5, but a DIFFERENT exact hash, so
        # only the near-dup stage can catch it); doc 51 is fresh
        _write(
            landing,
            [_doc(50, _good(2) + " extraword"), _doc(51, _good(51))],
            "b2.json",
        )
        q = cur.start(landing, str(tmp_path / "ck"))
        q.awaitTermination(120)
        ids = sorted(r["doc_id"] for r in spark.read.parquet(shards).collect())
        assert 51 in ids and 50 not in ids
        assert ids == [0, 1, 2, 3, 4, 5, 51]
        # the signature store grew to exactly the survivors
        sigs = spark.read.parquet(f"{shards}/_signatures")
        assert sorted(r["_id"] for r in sigs.select("_id").collect()) == [
            "0", "1", "2", "3", "4", "5", "51",
        ] or sorted(
            int(r["_id"]) for r in sigs.select("_id").collect()
        ) == [0, 1, 2, 3, 4, 5, 51]

    def test_in_batch_near_dup_keeps_min_id(self, spark, tmp_path):
        landing = str(tmp_path / "landing")
        shards = str(tmp_path / "shards")
        cur = self._curator(spark, shards)
        _write(
            landing,
            [_doc(7, _good(7)), _doc(8, _good(7) + " tailword")],
            "b1.json",
        )
        q = cur.start(landing, str(tmp_path / "ck"))
        q.awaitTermination(120)
        ids = sorted(r["doc_id"] for r in spark.read.parquet(shards).collect())
        assert ids == [7]


class TestEpochReplayIdempotence:
    @pytest.mark.parametrize("scheme", ["plain", "mem"])
    def test_replaying_an_epoch_does_not_duplicate_docs(
        self, spark, tmp_path, scheme
    ):
        """foreachBatch replays the last epoch after a crash between the
        shard write and the checkpoint commit (at-least-once).  The
        staged-overwrite + deterministic copy-promote write must make
        that replay a no-op for shard CONTENTS: same docs, same file
        names, no duplicates — on a local root AND over the fake object
        store (the commit is store COPY + DELETE, never a rename)."""
        import uuid as _uuid

        root = (
            str(tmp_path / "shards")
            if scheme == "plain"
            else f"mem://cur-{_uuid.uuid4().hex[:8]}/shards"
        )
        cur = StreamingCurator(spark, root, n_shards=2)
        shards = cur.shards_path  # Spark-visible data root (both schemes)
        batch = spark.createDataFrame(
            [(i, _good(i), "en", T0 + i) for i in range(6)],
            "doc_id long, text string, lang string, ms long",
        )
        cur._write_batch(batch, epoch=0)
        first = sorted(
            os.path.relpath(p, shards)
            for p in glob.glob(f"{shards}/shard=*/*.parquet")
        )
        ids_first = sorted(
            r["doc_id"] for r in spark.read.parquet(shards).collect()
        )
        cur._write_batch(batch, epoch=0)  # the replay
        second = sorted(
            os.path.relpath(p, shards)
            for p in glob.glob(f"{shards}/shard=*/*.parquet")
        )
        ids_second = sorted(
            r["doc_id"] for r in spark.read.parquet(shards).collect()
        )
        assert first == second              # same deterministic file names
        assert ids_first == ids_second == list(range(6))
        # a NEW epoch appends alongside, old epoch files untouched
        batch2 = spark.createDataFrame(
            [(i, _good(i), "en", T0 + i) for i in range(6, 9)],
            "doc_id long, text string, lang string, ms long",
        )
        cur._write_batch(batch2, epoch=1)
        ids = sorted(r["doc_id"] for r in spark.read.parquet(shards).collect())
        assert ids == list(range(9))
        # staging epoch dirs are cleaned (the empty _staging parent may
        # remain; Spark ignores underscore-prefixed dirs)
        assert glob.glob(os.path.join(shards, "_staging", "epoch-*")) == []


class TestComposedCurateIndex:
    """r13: the composed serving lifecycle — ingest → curate →
    standing-IVF-PQ-index append in ONE foreachBatch chain under one
    checkpoint (the pieces each prove their own exactly-once story;
    this proves the composition's)."""

    def _index_and_landing(self, spark, tmp_path):
        from datalake_spark.operators.ann_index import IvfPqIndex

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        seed = emb.filter("vec_id >= 300 and vec_id < 380").selectExpr(
            "vec_id AS doc_id", "embedding"
        )
        idx = IvfPqIndex(
            spark, str(tmp_path / "annidx"), num_centroids=8, m=16,
            ksub=16, id_col="doc_id", vec_col="embedding", ids_buckets=8,
        )
        idx.build(seed)
        vecs = {
            r["doc_id"]: list(r["embedding"])
            for r in emb.filter("vec_id < 8").selectExpr(
                "vec_id AS doc_id", "embedding"
            ).collect()
        }
        landing = str(tmp_path / "landing")
        docs = []
        for i in range(6):
            d = _doc(i, _good(i))
            d["embedding"] = [float(x) for x in vecs[i]]
            docs.append(d)
        # doc 6 fails the quality rules — its vector must NOT be indexed
        junk = _doc(6, "x")
        junk["embedding"] = [float(x) for x in vecs[6]]
        docs.append(junk)
        _write(landing, docs, "batch0.json")
        return idx, landing

    def test_curate_then_index_one_checkpoint(self, spark, tmp_path):
        idx, landing = self._index_and_landing(spark, tmp_path)
        shards = str(tmp_path / "shards")
        cur = StreamingCurator(
            spark, shards, n_shards=2, ann_index=idx
        )
        q = cur.start(landing, str(tmp_path / "ck"))
        q.awaitTermination(180)
        # curated shards hold the 6 rule-passing docs (embedding rides)
        got = sorted(
            r["doc_id"] for r in spark.read.parquet(shards).collect()
        )
        assert got == list(range(6))
        # the index committed streaming epoch 0 as index epoch 1 and
        # serves exactly seed + survivors — the junk doc is absent.
        # (Empty state-flush micro-batches are skipped by the sink, so
        # no empty epochs pad the list; the engine may still split
        # non-empty input across batches, hence >= not ==.)
        man = idx.manifest()
        assert set(man["epochs"]) >= {0, 1}
        ids = {
            r["c_id"]
            for r in spark.read.parquet(
                idx._url(man["dir"], type(idx).IDS)
            ).select("c_id").collect()
        }
        assert ids == set(range(6)) | set(range(300, 380))
        # probing with a survivor's own vector finds it
        probe = spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet"
        ).filter("vec_id < 2").selectExpr("vec_id AS doc_id", "embedding")
        hits = idx.search(probe, k=3, nprobe=8).collect()
        assert len(hits) == 6

    def test_crash_replay_is_noop_for_shards_and_index(
        self, spark, tmp_path
    ):
        """At-least-once replay of a committed micro-batch (crash
        between the sinks and the checkpoint commit): BOTH commits must
        be no-ops — deterministic shard file names with identical
        contents, and the epoch-keyed index append returning
        post-commit without writing."""
        idx, landing = self._index_and_landing(spark, tmp_path)
        shards = str(tmp_path / "shards")
        cur = StreamingCurator(spark, shards, n_shards=2, ann_index=idx)
        q = cur.start(landing, str(tmp_path / "ck"))
        q.awaitTermination(180)
        man1 = idx.manifest()
        files1 = sorted(
            os.path.relpath(p, shards)
            for p in glob.glob(f"{shards}/shard=*/*.parquet")
        )
        ids1 = sorted(
            r["doc_id"] for r in spark.read.parquet(shards).collect()
        )
        # replay epoch 0 through the sink directly (what a restarted
        # query does for an uncommitted-checkpoint batch)
        emb = spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet"
        )
        batch = emb.filter("vec_id < 6").selectExpr(
            "vec_id AS doc_id", "embedding"
        ).selectExpr(
            "doc_id", "'replay text' AS text", "'en' AS lang",
            f"CAST({T0} AS LONG) AS ms", "embedding",
        )
        cur._write_batch(batch.drop("text", "lang", "ms").join(
            spark.read.parquet(shards).select(
                "doc_id", "text", "lang", "ms"
            ),
            "doc_id",
        ), epoch=0)
        man2 = idx.manifest()
        files2 = sorted(
            os.path.relpath(p, shards)
            for p in glob.glob(f"{shards}/shard=*/*.parquet")
        )
        ids2 = sorted(
            r["doc_id"] for r in spark.read.parquet(shards).collect()
        )
        assert man2["version"] == man1["version"]  # index: no new commit
        assert man2["epochs"] == man1["epochs"]
        assert files1 == files2                    # shards: same names
        assert ids1 == ids2                        # ... same contents

    def test_crashed_batch_releases_its_caches(self, spark, tmp_path):
        """A micro-batch that crashes after the index append (near-dup
        stage on) must release the batch, probe and survivor caches: a
        daemon replaying crashed batches would otherwise grow its cache
        by one batch's frames per crash."""
        idx, _ = self._index_and_landing(spark, tmp_path)
        cur = StreamingCurator(
            spark, str(tmp_path / "shards"), n_shards=2,
            near_dup_threshold=0.5, ann_index=idx,
        )

        def crash():
            raise RuntimeError("crash after index append")

        cur._crash_hooks["indexed"] = crash
        emb = spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet"
        )
        batch = spark.createDataFrame(
            [(i, _good(i), "en", T0 + i) for i in range(4)],
            "doc_id long, text string, lang string, ms long",
        ).join(emb.selectExpr("vec_id AS doc_id", "embedding"), "doc_id")
        before = rdd_ids(spark)
        with pytest.raises(RuntimeError, match="crash after index append"):
            cur._write_batch(batch, epoch=0)
        assert rdd_ids(spark) - before == set()

    def test_null_embedding_curates_but_does_not_index(
        self, spark, tmp_path
    ):
        """r13 review: the schema's embedding is nullable — a doc
        missing it must land in the shards but NOT commit its id to
        the index (an indexed NULL would permanently block its own
        correct re-delivery).  A later re-delivery WITH the embedding
        then indexes normally."""
        from pyspark.sql import functions as F

        idx, _ = self._index_and_landing(spark, tmp_path)
        shards = str(tmp_path / "shards2")
        cur = StreamingCurator(spark, shards, n_shards=2, ann_index=idx)
        emb = spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet"
        )
        texts = spark.createDataFrame(
            [(i, _good(i), "en", T0 + i) for i in range(2)],
            "doc_id long, text string, lang string, ms long",
        )
        batch = texts.join(
            emb.selectExpr("vec_id AS doc_id", "embedding"), "doc_id"
        ).withColumn(
            "embedding",
            F.when(F.col("doc_id") == 1, F.lit(None)).otherwise(
                F.col("embedding")
            ),
        )
        cur._write_batch(batch, epoch=0)
        man = idx.manifest()
        ids = {
            r["c_id"]
            for r in spark.read.parquet(
                idx._url(man["dir"], type(idx).IDS)
            ).select("c_id").collect()
        }
        assert 0 in ids and 1 not in ids  # doc 1 curated, not indexed
        got = sorted(
            r["doc_id"] for r in spark.read.parquet(shards).collect()
        )
        assert got == [0, 1]              # both docs in the shards
        # re-delivery of doc 1 WITH its embedding indexes normally
        redeliver = texts.filter("doc_id = 1").join(
            emb.selectExpr("vec_id AS doc_id", "embedding"), "doc_id"
        )
        cur._write_batch(redeliver, epoch=1)
        man = idx.manifest()
        ids = {
            r["c_id"]
            for r in spark.read.parquet(
                idx._url(man["dir"], type(idx).IDS)
            ).select("c_id").collect()
        }
        assert 1 in ids

    def test_all_dropped_batch_burns_no_empty_epoch(self, spark, tmp_path):
        """A batch whose every row lacks an embedding (or was
        near-dup-dropped) must not commit an empty index epoch — the
        manifest version and epoch list stay put."""
        from pyspark.sql import functions as F

        idx, _ = self._index_and_landing(spark, tmp_path)
        shards = str(tmp_path / "shards3")
        cur = StreamingCurator(spark, shards, n_shards=2, ann_index=idx)
        texts = spark.createDataFrame(
            [(9, _good(9), "en", T0)],
            "doc_id long, text string, lang string, ms long",
        ).withColumn(
            "embedding", F.lit(None).cast("array<float>")
        )
        man1 = idx.manifest()
        cur._write_batch(texts, epoch=0)
        man2 = idx.manifest()
        assert man2["version"] == man1["version"]
        assert man2["epochs"] == man1["epochs"]


class TestStreamingLmQuality:
    """r13: CCNet-style LM quality filtering as a streaming stage — the
    model is a STANDING artifact (lm_train written to parquet once),
    scoring is stateless per micro-batch, and the keep predicate is the
    batch curate_corpus one (no-signal docs kept)."""

    def test_low_lm_docs_drop_before_shards(self, spark, tmp_path):
        from datalake_spark.operators.lm import lm_score, lm_train

        # reference: clean english-ish docs; the junk doc is a string of
        # tokens the model never saw (all-OOV contexts score low)
        ref = spark.createDataFrame(
            [(i, _good(i)) for i in range(20)],
            "doc_id long, text string",
        )
        model_path = str(tmp_path / "lm_model")
        lm_train(ref).write.parquet(model_path)

        # the junk doc must PASS the upstream quality rules (length,
        # stopword ratio, language) so only the LM stage can drop it —
        # same shape as _good but with tokens the model never saw
        good = _good(50)
        junk = "junk words start here now " + " ".join(
            f"the z{j}qx a w{j}kv" for j in range(8)
        )
        # vacuity guard: junk must pass every upstream rule, so only
        # the LM stage can be the thing that drops it
        from datalake_spark.pipeline import quality_rules

        rr = quality_rules(
            spark.createDataFrame(
                [(51, junk, "en", T0)],
                "doc_id long, text string, lang string, ms long",
            ),
            canonicality=False,
        ).collect()[0]
        assert rr["len_ok"] and rr["stop_ok"] and rr["lang_ok"]
        model = spark.read.parquet(model_path)
        scores = {
            r["doc_id"]: r["lm_score_micro"]
            for r in lm_score(
                spark.createDataFrame(
                    [(50, good), (51, junk)], "doc_id long, text string"
                ),
                model,
            ).collect()
        }
        assert scores[51] < scores[50]
        thr = scores[51] + 1  # junk below, good above

        landing = str(tmp_path / "landing")
        shards = str(tmp_path / "shards")
        _write(
            landing,
            [_doc(50, good), _doc(51, junk, ms=T0 + 1)],
            "b1.json",
        )
        cur = StreamingCurator(
            spark, shards, n_shards=2,
            lm_model_path=model_path, lm_threshold=int(thr),
        )
        q = cur.start(landing, str(tmp_path / "ck"))
        q.awaitTermination(120)
        ids = sorted(
            r["doc_id"] for r in spark.read.parquet(shards).collect()
        )
        assert ids == [50]

    def test_one_flag_alone_raises(self, spark, tmp_path):
        with pytest.raises(ValueError, match="together"):
            StreamingCurator(
                spark, str(tmp_path / "s"), lm_threshold=100
            )
