"""Standing IVF-PQ index lifecycle: build/append/search under the
marker-CAS commit protocol, epoch-replay idempotence, crash-orphan
invisibility, cross-epoch re-delivery uniqueness, append-vs-append and
append-vs-rebuild commit races, retrain-and-swap (rebuild), and the
hash-bucketed prior-ids prune."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datalake_spark.operators import similarity
from datalake_spark.operators.ann_index import (
    IndexAlreadyBuilt,
    IndexNotBuilt,
    IvfPqIndex,
)
from datalake_spark.queries import load
from tests.conftest import SF_DIR, count_jobs, rdd_ids


@pytest.fixture(scope="module")
def emb(spark):
    return load(spark, SF_DIR, "embeddings").cache()


def _topk(df):
    return {(r["q_id"], r["rk"]): (r["c_id"], r["adc"]) for r in df.collect()}


class TestIvfPqIndexLifecycle:
    def test_build_then_search_equals_one_call(self, spark, emb, tmp_path):
        """A freshly built index must serve exactly what the one-call
        operator computes on the same corpus/params — the standing form
        changes durability, never values."""
        q = emb.filter("vec_id < 3")
        c = emb.filter("vec_id >= 3")
        idx = IvfPqIndex(spark, str(tmp_path / "idx"),
                         num_centroids=8, m=16, ksub=16)
        man = idx.build(c)
        assert man["version"] == 1 and man["epochs"] == [0]
        got = _topk(idx.search(q, k=5, nprobe=3))
        want = _topk(similarity.ivfpq_topk(
            q, c, k=5, num_centroids=8, nprobe=3, m=16, ksub=16))
        assert got == want and got

    def test_failed_build_releases_its_caches(self, spark, emb, tmp_path,
                                              monkeypatch):
        """A build that raises after training must not keep the
        training caches: a process that retries failed builds would
        otherwise hold one cached subvector frame per failure."""
        def fail(*_a, **_k):
            raise OSError("codes write failed")

        emb.count()  # the fixture's own cache predates the snapshot
        before = rdd_ids(spark)
        monkeypatch.setattr(IvfPqIndex, "_write_codes", fail)
        idx = IvfPqIndex(spark, str(tmp_path / "idx"),
                         num_centroids=8, m=16, ksub=16)
        with pytest.raises(OSError, match="codes write failed"):
            idx.build(emb.filter("vec_id >= 3"))
        assert rdd_ids(spark) - before == set()

    def test_search_unbuilt_raises_and_double_build_raises(
            self, spark, emb, tmp_path):
        idx = IvfPqIndex(spark, str(tmp_path / "idx2"))
        with pytest.raises(IndexNotBuilt):
            idx.search(emb.filter("vec_id < 3"))
        with pytest.raises(IndexNotBuilt):
            idx.append(emb.filter("vec_id < 3"), 1)
        idx.build(emb.filter("vec_id >= 3 and vec_id < 50"))
        with pytest.raises(IndexAlreadyBuilt):
            idx.build(emb.filter("vec_id >= 3 and vec_id < 50"))

    def test_append_encodes_against_standing_model(self, spark, emb,
                                                   tmp_path):
        """Appended vectors must be encoded with the BUILD-time
        centroids/codebooks (never retrained) — the manual composition
        with standing artifacts is the value oracle."""
        q = emb.filter("vec_id < 3")
        base = emb.filter("vec_id >= 3 and vec_id < 200")
        extra = emb.filter("vec_id >= 200")
        idx = IvfPqIndex(spark, str(tmp_path / "idx3"),
                         num_centroids=8, m=16, ksub=16)
        idx.build(base)
        man = idx.append(extra, 1)
        assert man["version"] == 2 and man["epochs"] == [0, 1]
        got = _topk(idx.search(q, k=5, nprobe=3))

        # manual composition: train on base only, encode base+extra
        cents, assign = similarity.ivf_index_build(base, 8)
        cb = similarity.pq_train(base, m=16, ksub=16)
        cells_extra = similarity.ivf_assign_cells(extra, cents)
        codes = similarity.pq_encode(
            base, cb, m=16, cells=assign.select("c_id", "cent_id")
        ).unionByName(
            similarity.pq_encode(extra, cb, m=16, cells=cells_extra)
        )
        want = _topk(similarity.ivfpq_search(
            cents, cb, codes, q, k=5, nprobe=3, m=16))
        assert got == want and got

    def test_epoch_replay_is_idempotent(self, spark, emb, tmp_path):
        """The at-least-once contract: replaying a committed epoch is a
        no-op (same manifest version), and a pre-commit crash replay
        (epoch dir written, marker missing) heals into the identical
        committed state."""
        q = emb.filter("vec_id < 3")
        base = emb.filter("vec_id >= 3 and vec_id < 200")
        extra = emb.filter("vec_id >= 200 and vec_id < 300")
        idx = IvfPqIndex(spark, str(tmp_path / "idx4"),
                         num_centroids=8, m=16, ksub=16)
        idx.build(base)

        # pre-commit crash: write the epoch dirs, then "die" before the
        # marker — search must NOT see the orphan epoch
        class _Boom(Exception):
            pass

        def _die():
            raise _Boom()

        with pytest.raises(_Boom):
            idx.append(extra, 1, _race_hook=_die)
        assert idx.manifest()["epochs"] == [0]
        orphan_blind = _topk(idx.search(q, k=5, nprobe=3))
        base_only = _topk(idx.search(q, k=5, nprobe=8))  # full probe
        assert orphan_blind  # sane
        assert all(c >= 3 and c < 200 for (c, _a) in base_only.values())

        # replay: same epoch id, commits this time
        man = idx.append(extra, 1)
        assert man["epochs"] == [0, 1]
        after = _topk(idx.search(q, k=5, nprobe=3))

        # post-commit replay: identical manifest back, values unchanged
        man2 = idx.append(extra, 1)
        assert man2["version"] == man["version"]
        assert _topk(idx.search(q, k=5, nprobe=3)) == after

    def test_cross_epoch_redelivery_keeps_index_unique(self, spark, emb,
                                                       tmp_path):
        """A vector committed in epoch 1 and re-delivered in epoch 2
        must not be indexed twice (duplicate c_id rows would double it
        in every probe of its cell)."""
        base = emb.filter("vec_id >= 3 and vec_id < 100")
        b1 = emb.filter("vec_id >= 100 and vec_id < 150")
        b2 = emb.filter("vec_id >= 100 and vec_id < 200")  # overlaps b1
        idx = IvfPqIndex(spark, str(tmp_path / "idx5"),
                         num_centroids=8, m=16, ksub=16)
        idx.build(base)
        idx.append(b1, 1)
        idx.append(b2, 2)
        man = idx.manifest()
        ids = (
            spark.read.parquet(
                idx._url(man["dir"], IvfPqIndex.IDS))
            .filter(F.col("epoch").isin(man["epochs"]))
        )
        dup = ids.groupBy("c_id").count().filter("count > 1").count()
        assert dup == 0
        assert ids.count() == base.count() + b2.count()  # b1 ⊂ b2

    def test_concurrent_append_race_serializes_on_marker(self, spark, emb,
                                                         tmp_path):
        """Two appenders racing distinct epochs: the loser's marker PUT
        conflicts, it re-resolves the winner's manifest and retries —
        both epochs end up committed (lost-update-free, the catalog
        discipline)."""
        base = emb.filter("vec_id >= 3 and vec_id < 100")
        b1 = emb.filter("vec_id >= 100 and vec_id < 150")
        b2 = emb.filter("vec_id >= 150 and vec_id < 200")
        idx = IvfPqIndex(spark, str(tmp_path / "idx6"),
                         num_centroids=8, m=16, ksub=16)
        idx.build(base)

        # deterministic interleave: appender A commits epoch 2 from
        # inside appender B's race hook, so B's first marker PUT loses
        done: list = []

        def _sneak():
            if not done:
                done.append(1)
                idx.append(b1, 2)

        man = idx.append(b2, 3, _race_hook=_sneak)
        assert sorted(man["epochs"]) == [0, 2, 3]
        assert man["version"] == 3

    def test_rebuild_retrains_on_current_corpus(self, spark, emb,
                                                tmp_path):
        """rebuild() must serve exactly what a fresh one-call pipeline
        trained on the FULL committed corpus computes — the proof that
        the swap re-fit centroids AND codebooks on build+appended
        vectors (append alone never retrains, so the two states differ
        by construction when the build slice is small)."""
        q = emb.filter("vec_id < 3")
        base = emb.filter("vec_id >= 3 and vec_id < 60")
        extra = emb.filter("vec_id >= 60")
        idx = IvfPqIndex(spark, str(tmp_path / "idxr"),
                         num_centroids=8, m=16, ksub=16)
        idx.build(base)
        idx.append(extra, 1)
        man = idx.rebuild(emb)
        assert man["version"] == 3 and man["epochs"] == [0, 1]
        got = _topk(idx.search(q, k=5, nprobe=3))
        want = _topk(similarity.ivfpq_topk(
            q, base.unionByName(extra), k=5, num_centroids=8, nprobe=3,
            m=16, ksub=16))
        assert got == want and got
        # folded-epoch replay stays a post-commit no-op
        man2 = idx.append(extra, 1)
        assert man2["version"] == man["version"]
        # a reopened handle serves the rebuilt state from the manifest
        assert _topk(IvfPqIndex(spark, str(tmp_path / "idxr"))
                     .search(q, k=5, nprobe=3)) == got

    def test_rebuild_gcs_superseded_version_dirs(self, spark, emb,
                                                 tmp_path):
        """Rebuild reclaims what it supersedes: after build -> append ->
        rebuild -> rebuild the root holds exactly the current and the
        previous version dir (the catalog's default retention)."""
        import os

        root = tmp_path / "idxgc"
        idx = IvfPqIndex(spark, str(root), num_centroids=8, m=16, ksub=16)
        idx.build(emb.filter("vec_id >= 3 and vec_id < 60"))
        idx.append(emb.filter("vec_id >= 60 and vec_id < 120"), 1)
        src = emb.filter("vec_id >= 3 and vec_id < 120")
        prev = idx.rebuild(src)
        man = idx.rebuild(src)
        assert sorted(d for d in os.listdir(root) if d.startswith("v")) \
            == sorted([prev["dir"], man["dir"]])
        assert man["history"] == [
            {"version": prev["version"], "dir": prev["dir"]}
        ]

    def test_rebuild_refuses_short_source_and_unbuilt(self, spark, emb,
                                                      tmp_path):
        idx = IvfPqIndex(spark, str(tmp_path / "idxs"),
                         num_centroids=8, m=16, ksub=16)
        with pytest.raises(IndexNotBuilt):
            idx.rebuild(emb)
        idx.build(emb.filter("vec_id >= 3 and vec_id < 100"))
        with pytest.raises(ValueError, match="silently shrink"):
            idx.rebuild(emb.filter("vec_id >= 3 and vec_id < 50"))
        # r12 review finding: a source repeating one id while missing
        # another used to pad the ROW count past the coverage check —
        # silent shrink + duplicate c_id in one move.  Both now raise.
        padded = emb.filter("vec_id >= 3 and vec_id < 99").unionByName(
            emb.filter("vec_id = 3")  # id 3 twice, id 99 missing
        )
        with pytest.raises(ValueError, match="silently shrink"):
            idx.rebuild(padded)
        dup_full = emb.unionByName(emb.filter("vec_id = 3"))
        with pytest.raises(ValueError, match="duplicate ids"):
            idx.rebuild(dup_full)

    def test_prior_ids_prune_is_id_type_stable(self, spark, emb,
                                               tmp_path):
        """r12 review finding: xxhash64 hashes INT32 and INT64
        differently, so an int-typed re-delivery batch probing a
        long-built ids tree used to prune AWAY the bucket holding its
        committed ids and re-commit duplicates.  The bucket hash now
        canonicalizes through a string cast — a re-delivered batch in a
        DIFFERENT physical id type must add nothing."""
        from pyspark.sql import functions as F

        base = emb.filter("vec_id >= 3 and vec_id < 120")
        idx = IvfPqIndex(spark, str(tmp_path / "idxt"),
                         num_centroids=8, m=16, ksub=16, ids_buckets=16)
        idx.build(base)
        redelivered = base.filter("vec_id < 60").withColumn(
            "vec_id", F.col("vec_id").cast("int")
        )
        idx.append(redelivered, 1)
        man = idx.manifest()
        ids = spark.read.parquet(idx._url(man["dir"], IvfPqIndex.IDS))
        assert ids.select("c_id").distinct().count() == base.count()
        assert ids.count() == base.count()  # nothing re-committed

    def test_fractional_id_types_are_rejected_by_bucket_hash(
        self, spark, emb, tmp_path
    ):
        """r12 advisor finding: the string-cast canonicalization unifies
        INT32/INT64 but NOT fractional numerics — a DOUBLE id 1.0
        stringifies '1.0' where the tree hashed '1', pruning to the
        wrong bucket and re-committing a duplicate.  Fractional id
        types now raise at plan-build time instead of corrupting the
        index; integral and scale-0 decimal ids keep bucketing stably."""
        from pyspark.sql import functions as F

        base = emb.filter("vec_id >= 3 and vec_id < 120")
        idx = IvfPqIndex(spark, str(tmp_path / "idxfr"),
                         num_centroids=8, m=16, ksub=16, ids_buckets=16)
        idx.build(base)
        redelivered = base.filter("vec_id < 60").withColumn(
            "vec_id", F.col("vec_id").cast("double")
        )
        with pytest.raises(ValueError, match="cannot be hash-bucketed"):
            idx.append(redelivered, 1)
        # scale-0 decimal is value-stable through the canonicalization:
        # a decimal re-delivery of committed longs must add nothing
        dec = base.filter("vec_id < 60").withColumn(
            "vec_id", F.col("vec_id").cast("decimal(20,0)")
        )
        idx.append(dec, 1)
        man = idx.manifest()
        ids = spark.read.parquet(idx._url(man["dir"], IvfPqIndex.IDS))
        assert ids.count() == base.count()  # nothing re-committed

    def test_append_rejects_null_ids_and_null_vectors(
        self, spark, emb, tmp_path
    ):
        """r13 review: a NULL vector assigns a NULL cent_id — the id
        lands in the ids tree with no searchable code, and the
        re-delivery guard then blocks its own CORRECT re-delivery
        forever.  append() must raise, not corrupt."""
        from pyspark.sql import functions as F

        base = emb.filter("vec_id >= 3 and vec_id < 80")
        idx = IvfPqIndex(spark, str(tmp_path / "idxnv"),
                         num_centroids=8, m=16, ksub=16)
        idx.build(base)
        nullvec = emb.filter("vec_id >= 80 and vec_id < 90").withColumn(
            "embedding",
            F.when(F.col("vec_id") == 85, F.lit(None)).otherwise(
                F.col("embedding")
            ),
        )
        with pytest.raises(ValueError, match="NULL ids or NULL vectors"):
            idx.append(nullvec, 1)
        nullid = emb.filter("vec_id >= 80 and vec_id < 90").withColumn(
            "vec_id",
            F.when(F.col("vec_id") == 85, F.lit(None)).otherwise(
                F.col("vec_id")
            ),
        )
        with pytest.raises(ValueError, match="NULL ids or NULL vectors"):
            idx.append(nullid, 1)
        # nothing was committed by either refusal
        assert idx.manifest()["epochs"] == [0]

    def test_append_racing_rebuild_loses_and_reencodes(self, spark, emb,
                                                       tmp_path):
        """An append that committed while the rebuild was training makes
        the rebuild's marker CAS lose; the rebuild re-resolves and
        retrains ON the new epoch's vectors (the catalog compact race
        contract).  Afterwards the index equals a fresh pipeline over
        all three slices."""
        q = emb.filter("vec_id < 3")
        base = emb.filter("vec_id >= 3 and vec_id < 60")
        b1 = emb.filter("vec_id >= 60 and vec_id < 120")
        b2 = emb.filter("vec_id >= 120 and vec_id < 180")
        idx = IvfPqIndex(spark, str(tmp_path / "idxrc"),
                         num_centroids=8, m=16, ksub=16)
        idx.build(base)
        idx.append(b1, 1)

        done: list = []

        def _sneak():
            if not done:
                done.append(1)
                idx.append(b2, 2)  # wins version 3 under the rebuild

        man = idx.rebuild(emb, _race_hook=_sneak)
        assert man["version"] == 4
        assert sorted(man["epochs"]) == [0, 1, 2]
        got = _topk(idx.search(q, k=5, nprobe=3))
        want = _topk(similarity.ivfpq_topk(
            q, base.unionByName(b1).unionByName(b2), k=5,
            num_centroids=8, nprobe=3, m=16, ksub=16))
        assert got == want and got

    def test_rebuild_losing_append_reencodes_against_new_model(
            self, spark, emb, tmp_path):
        """The mirror race: an appender that read the PRE-rebuild
        manifest loses its CAS to the rebuild, re-resolves, and encodes
        against the rebuilt model — its vectors are searchable and
        unique afterwards."""
        q = emb.filter("vec_id < 3")
        base = emb.filter("vec_id >= 3 and vec_id < 120")
        b1 = emb.filter("vec_id >= 120 and vec_id < 200")
        idx = IvfPqIndex(spark, str(tmp_path / "idxra"),
                         num_centroids=8, m=16, ksub=16)
        idx.build(base)

        done: list = []

        def _sneak():
            if not done:
                done.append(1)
                idx.rebuild(base)  # wins version 2 under the append

        man = idx.append(b1, 1, _race_hook=_sneak)
        assert man["version"] == 3 and sorted(man["epochs"]) == [0, 1]
        full = idx.search(q, k=5, nprobe=8)
        seen = {c for (c, _a) in _topk(full).values()}
        assert any(c >= 120 for c in seen)  # appended vectors serve
        ids = spark.read.parquet(idx._url(man["dir"], IvfPqIndex.IDS))
        dup = ids.groupBy("c_id").count().filter("count > 1").count()
        assert dup == 0

    def test_prior_ids_prune_reaches_partition_filters(self, spark, emb,
                                                       tmp_path):
        """The re-delivery guard's ids scan must partition-prune to the
        batch's hash buckets (constant-folded isin → PartitionFilters),
        and still return exactly the committed ids that can collide
        with the batch."""
        base = emb.filter("vec_id >= 3 and vec_id < 300")
        batch = emb.filter("vec_id >= 250 and vec_id < 260")
        idx = IvfPqIndex(spark, str(tmp_path / "idxp"),
                         num_centroids=8, m=16, ksub=16, ids_buckets=16)
        idx.build(base)
        man = idx.manifest()
        assert man["ids_buckets"] == 16
        prior = idx._prior_ids(man, batch)
        plan = prior._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan
        pf = plan.split("PartitionFilters", 1)[1].split("]", 1)[0]
        assert "bucket" in pf
        # values: the pruned read still covers every batch id already
        # committed (the anti-join's correctness contract)
        got = {r[0] for r in prior.collect()}
        overlap = {r[0] for r in batch.select("vec_id").collect()}
        assert overlap <= got
        # and the guard still works end-to-end: re-appending committed
        # vectors adds nothing
        idx.append(batch, 1)
        ids = (
            spark.read.parquet(idx._url(man["dir"], IvfPqIndex.IDS))
        )
        assert ids.select("c_id").distinct().count() == base.count()

    def test_legacy_unbucketed_ids_tree_still_appends(self, spark, emb,
                                                      tmp_path):
        """A pre-bucketing index (no ids_buckets in the manifest, flat
        ids/epoch=E dirs) must keep appending with the unpruned guard —
        and a rebuild upgrades it to the bucketed layout."""
        base = emb.filter("vec_id >= 3 and vec_id < 100")
        extra = emb.filter("vec_id >= 80 and vec_id < 150")
        idx = IvfPqIndex(spark, str(tmp_path / "idxl"),
                         num_centroids=8, m=16, ksub=16, ids_buckets=0)
        idx.build(base)
        man = idx.manifest()
        # ids_buckets=0 == the r11 manifest's missing key: both resolve
        # to the flat layout through the same m.get(..., 0) path
        assert int(man.get("ids_buckets", 0)) == 0
        man2 = idx.append(extra, 1)
        ids = spark.read.parquet(idx._url(man2["dir"], IvfPqIndex.IDS))
        assert "bucket" not in ids.columns
        assert ids.select("c_id").distinct().count() == ids.count()
        assert ids.count() == 147  # 97 base + 50 new (80..99 deduped)
        # rebuild upgrades the layout using the handle's ids_buckets
        idx.ids_buckets = 8
        idx.rebuild(emb)
        ids2 = spark.read.parquet(
            idx._url(idx.manifest()["dir"], IvfPqIndex.IDS))
        assert "bucket" in ids2.columns
        assert int(idx.manifest()["ids_buckets"]) == 8

    def test_streaming_maintenance_survives_rebuild(self, spark, emb,
                                                    tmp_path):
        """The streaming path across a retrain-and-swap: micro-batches
        landed BEFORE a rebuild are folded into the new model by the
        rebuild itself; micro-batches landed AFTER encode against the
        rebuilt model; nothing is indexed twice and the final state
        equals the batch-composed equivalent."""
        import json
        import os

        q = emb.filter("vec_id < 3")
        base = emb.filter("vec_id >= 3 and vec_id < 150")
        b1 = emb.filter("vec_id >= 150 and vec_id < 200")
        b2 = emb.filter("vec_id >= 200 and vec_id < 260")
        idx = IvfPqIndex(spark, str(tmp_path / "idxsr"),
                         num_centroids=8, m=16, ksub=16)
        idx.build(base)

        landing = tmp_path / "landing_sr"
        landing.mkdir()

        def land(frame, name):
            rows = [
                {"vec_id": r["vec_id"], "embedding": list(r["embedding"]),
                 "ms": 1}
                for r in frame.collect()
            ]
            with open(landing / name, "w") as f:
                for row in rows:
                    f.write(json.dumps(row) + os.linesep)

        land(b1, "batch0.json")
        idx.start_stream(
            str(landing), str(tmp_path / "ckpt_sr")
        ).awaitTermination(120)
        assert idx.manifest()["epochs"] == [0, 1]

        # retrain-and-swap folds base + b1 into the new model
        idx.rebuild(emb)
        # the stream resumes against the SWAPPED index
        land(b2, "batch1.json")
        idx.start_stream(
            str(landing), str(tmp_path / "ckpt_sr")
        ).awaitTermination(120)
        man = idx.manifest()
        assert sorted(man["epochs"]) == [0, 1, 2]
        ids = spark.read.parquet(idx._url(man["dir"], IvfPqIndex.IDS))
        assert ids.groupBy("c_id").count().filter("count > 1").count() == 0
        assert ids.count() == base.count() + b1.count() + b2.count()

        got = _topk(idx.search(q, k=5, nprobe=3))
        # batch-composed equivalent: rebuild-trained model on base+b1,
        # then append b2 against it
        idx2 = IvfPqIndex(spark, str(tmp_path / "idxsr2"),
                          num_centroids=8, m=16, ksub=16)
        idx2.build(base)
        idx2.append(b1, 1)
        idx2.rebuild(emb)
        idx2.append(b2, 2)
        assert got == _topk(idx2.search(q, k=5, nprobe=3)) and got

    def test_streaming_maintenance_appends_epochs(self, spark, emb,
                                                  tmp_path):
        """The foreachBatch maintenance path: landed embedding events
        extend the index as epoch streaming_epoch+1; results match a
        batch append of the same vectors."""
        import json
        import os

        q = emb.filter("vec_id < 3")
        base = emb.filter("vec_id >= 3 and vec_id < 200")
        extra = emb.filter("vec_id >= 200 and vec_id < 260")
        idx = IvfPqIndex(spark, str(tmp_path / "idx7"),
                         num_centroids=8, m=16, ksub=16)
        idx.build(base)

        landing = tmp_path / "landing"
        landing.mkdir()
        rows = [
            {"vec_id": r["vec_id"], "embedding": list(r["embedding"]),
             "ms": 1}
            for r in extra.collect()
        ]
        with open(landing / "batch0.json", "w") as f:
            for row in rows:
                f.write(json.dumps(row) + os.linesep)
        qry = idx.start_stream(str(landing), str(tmp_path / "ckpt"))
        qry.awaitTermination(120)
        man = idx.manifest()
        assert man["epochs"] == [0, 1]
        got = _topk(idx.search(q, k=5, nprobe=3))

        idx2 = IvfPqIndex(spark, str(tmp_path / "idx8"),
                          num_centroids=8, m=16, ksub=16)
        idx2.build(base)
        idx2.append(extra, 1)
        assert got == _topk(idx2.search(q, k=5, nprobe=3)) and got


class TestEpochProvenance:
    """r14 (r13 advisor medium): streaming epochs and manual 'append'
    epochs shared one integer namespace — a manual append at N made the
    stream's later batch N-1 a silent post-commit no-op, dropping those
    vectors from the index forever.  Epochs now carry writer provenance
    in the manifest and streams register a checkpoint-bound epoch base
    above everything committed before them."""

    def _mk(self, spark, emb, tmp_path, name="pidx"):
        idx = IvfPqIndex(spark, str(tmp_path / name),
                         num_centroids=8, m=16, ksub=16)
        idx.build(emb.filter("vec_id >= 3 and vec_id < 100"))
        return idx

    def test_cross_writer_epoch_collision_raises(self, spark, emb,
                                                 tmp_path):
        from datalake_spark.operators.ann_index import (
            EpochProvenanceConflict,
        )

        idx = self._mk(spark, emb, tmp_path)
        b = emb.filter("vec_id >= 100 and vec_id < 120")
        idx.append(b, 1)  # provenance "manual"
        # same epoch, same writer class: legal post-commit no-op
        v = idx.manifest()["version"]
        assert idx.append(b, 1)["version"] == v
        # same epoch, DIFFERENT writer class: loud, not a silent drop
        with pytest.raises(EpochProvenanceConflict):
            idx.append(
                emb.filter("vec_id >= 120 and vec_id < 140"), 1,
                provenance="stream:deadbeef",
            )
        # epoch 0 (the build) is not manually appendable either
        with pytest.raises(EpochProvenanceConflict):
            idx.append(b, 0)

    def test_register_stream_base_and_rebinding(self, spark, emb,
                                                tmp_path):
        idx = self._mk(spark, emb, tmp_path, "pidx2")
        stride = idx.STREAM_EPOCH_STRIDE
        idx.append(emb.filter("vec_id >= 100 and vec_id < 120"), 1)
        idx.append(emb.filter("vec_id >= 120 and vec_id < 140"), 7)
        # fresh checkpoint: the index's FIRST stream bases directly
        # above every committed epoch (manual ones included) — a fresh
        # stream on a manually-appended index is legal (the r13 guard
        # false-refused it)
        sid, base = idx.register_stream("/ck/a", "/landing/a")
        assert base == 7
        # re-registration is a stable lookup, not a new binding —
        # under ANY spelling of the same physical checkpoint (r14: a
        # spelling fork would register a second stream on one Spark
        # checkpoint and later refuse a healthy restart)
        assert idx.register_stream("/ck/a", "/landing/a") == (sid, base)
        assert idx.register_stream("file:/ck/a", "/landing/a") == (sid, base)
        assert idx.register_stream("file:///ck/a", "/landing/a") == (
            sid, base)
        assert idx.register_stream("/ck/a/", "/landing/a") == (sid, base)
        # a second checkpoint is its own stream, with a reserved range
        # DISJOINT from the live first stream's (base+stride ceiling) —
        # concurrently-live streams can never allocate one epoch number
        sid2, base2 = idx.register_stream("/ck/b", "/landing/b")
        assert sid2 != sid
        assert base2 > base + stride
        assert base2 % stride == 0
        # peers' epochs are OUTSIDE each other's reserved range: one
        # stream committing does not false-refuse the other's restart
        idx.append(
            emb.filter("vec_id >= 140 and vec_id < 150"), base2 + 1,
            provenance=f"stream:{sid2}",
        )
        assert idx.register_stream("/ck/a", "/landing/a") == (sid, base)
        assert idx.register_stream("/ck/b", "/landing/b") == (sid2, base2)
        # an UNUSED binding (no committed epoch) may be rebound — a
        # first start that died before its first batch must not burn
        # the checkpoint dir on a typo'd landing dir
        assert idx.register_stream("/ck/a", "/landing/FIXED") == (sid, base)
        assert idx.register_stream("/ck/a", "/landing/FIXED") == (sid, base)
        # once a stream has committed an epoch, the binding is final
        with pytest.raises(ValueError, match="registered to landing dir"):
            idx.register_stream("/ck/b", "/landing/OTHER")

    def test_manual_append_inside_stream_range_refused_at_start(
            self, spark, emb, tmp_path):
        """The advisor's exact scenario: manual append lands inside a
        registered stream's range while the stream is down — restart
        refuses instead of letting a future micro-batch collide."""
        from datalake_spark.operators.ann_index import (
            EpochProvenanceConflict,
        )

        idx = self._mk(spark, emb, tmp_path, "pidx3")
        sid, base = idx.register_stream("/ck/c", "/landing/c")
        idx.append(
            emb.filter("vec_id >= 100 and vec_id < 110"), base + 1,
            provenance=f"stream:{sid}",
        )
        # the stream's own epoch does not block its restart
        assert idx.register_stream("/ck/c", "/landing/c") == (sid, base)
        # a manual epoch above the base is foreign in-range
        idx.append(emb.filter("vec_id >= 110 and vec_id < 120"), base + 3)
        with pytest.raises(EpochProvenanceConflict, match="another writer"):
            idx.register_stream("/ck/c", "/landing/c")

    def test_legacy_manifest_without_provenance_still_noops(
            self, spark, emb, tmp_path):
        """Pre-r14 manifests carry no epoch_src: replays of their epochs
        must keep no-oping for ANY writer (old behavior preserved)."""
        from datalake_spark.catalog import _commit_version

        idx = self._mk(spark, emb, tmp_path, "pidx4")
        b = emb.filter("vec_id >= 100 and vec_id < 120")
        idx.append(b, 1)
        # strip the lineage fields the way a pre-r14 writer would
        m = idx.manifest()
        _commit_version(
            idx.store, "", m["version"] + 1, m["dir"], prev=m,
            extra={k: m[k] for k in
                   ("epochs", "m", "ksub", "num_centroids",
                    "residual", "ids_buckets")},
        )
        assert "epoch_src" not in idx.manifest()
        v = idx.manifest()["version"]
        assert idx.append(b, 1, provenance="stream:x")["version"] == v
        assert idx.append(b, 1)["version"] == v

    def test_register_stream_gives_up_after_five_conflicts(
            self, spark, monkeypatch):
        """A registration that loses every CAS retries exactly 5 times,
        then raises a CommitConflict naming the operation.  The manifest
        is committed directly, so no Spark build runs."""
        import uuid

        from datalake_spark.catalog import CommitConflict, _commit_version
        from datalake_spark.operators import ann_index

        idx = IvfPqIndex(spark, f"mem://ann-{uuid.uuid4().hex[:8]}/idx")
        _commit_version(
            idx.store, "", 1, "v00000001-0000abcd", prev=None,
            extra={"epochs": [0], "m": 8, "ksub": 16, "num_centroids": 16,
                   "residual": False, "ids_buckets": 64},
        )
        calls = []

        def always_conflict(store, table_key, version, *a, **k):
            calls.append(version)
            raise CommitConflict(f"v{version} taken")

        monkeypatch.setattr(ann_index, "_commit_version", always_conflict)
        with pytest.raises(
            CommitConflict,
            match="register_stream: conflicted on 5 consecutive attempts",
        ):
            idx.register_stream("/ck/x", "/landing/x")
        assert calls == [2] * 5

    def test_two_concurrent_streams_never_collide(self, spark, emb,
                                                  tmp_path):
        """The r14 stride-reservation fix END TO END: two LIVE streams
        maintaining one index concurrently (separate landing dirs and
        checkpoints) commit disjoint epochs and every vector lands
        exactly once.  Pre-stride, the second registration based at
        max(committed epochs) and the two foreachBatch sinks were
        GUARANTEED to allocate the same epoch number — whichever
        appended second died with EpochProvenanceConflict mid-stream."""
        import json
        import os

        idx = self._mk(spark, emb, tmp_path, "pidx6")
        stride = idx.STREAM_EPOCH_STRIDE
        a = emb.filter("vec_id >= 100 and vec_id < 140")
        b = emb.filter("vec_id >= 140 and vec_id < 180")

        def land(frame, d, name):
            d.mkdir(exist_ok=True)
            with open(d / name, "w") as f:
                for r in frame.collect():
                    f.write(json.dumps(
                        {"vec_id": r["vec_id"],
                         "embedding": list(r["embedding"]), "ms": 1}
                    ) + os.linesep)

        land(a, tmp_path / "land_a", "a0.json")
        land(b, tmp_path / "land_b", "b0.json")
        # start BOTH before awaiting either: the queries run
        # concurrently in the streaming scheduler, so the appends race
        qa = idx.start_stream(str(tmp_path / "land_a"),
                              str(tmp_path / "ck_two_a"))
        qb = idx.start_stream(str(tmp_path / "land_b"),
                              str(tmp_path / "ck_two_b"))
        qa.awaitTermination(180)
        qb.awaitTermination(180)
        assert qa.exception() is None and qb.exception() is None

        m = idx.manifest()
        bases = sorted(
            int(s["epoch_base"]) for s in m["streams"].values()
        )
        assert len(bases) == 2
        # disjoint reserved ranges: the second base is a full stride up
        assert bases[1] >= bases[0] + stride
        # each stream committed exactly one epoch, inside its own range,
        # under its own provenance
        srcs = m["epoch_src"]
        by_sid = {s["stream_id"]: int(s["epoch_base"])
                  for s in m["streams"].values()}
        stream_epochs = {
            int(e): src for e, src in srcs.items()
            if src.startswith("stream:")
        }
        assert len(stream_epochs) == 2
        for e, src in stream_epochs.items():
            base_e = by_sid[src.split(":", 1)[1]]
            assert base_e < e <= base_e + stride
        # every vector indexed exactly once, and the index still answers
        ids = spark.read.parquet(idx._url(m["dir"], IvfPqIndex.IDS))
        assert ids.groupBy("c_id").count().filter("count > 1").count() == 0
        assert ids.count() == 97 + a.count() + b.count()
        q = emb.filter("vec_id < 3")
        assert idx.search(q, k=3, nprobe=3).count() > 0
        # both streams restart cleanly against the composed state
        sids = set(by_sid)
        assert idx.register_stream(
            str(tmp_path / "ck_two_a"), str(tmp_path / "land_a")
        )[0] in sids
        assert idx.register_stream(
            str(tmp_path / "ck_two_b"), str(tmp_path / "land_b")
        )[0] in sids

    def test_rebuild_and_append_carry_lineage(self, spark, emb, tmp_path):
        idx = self._mk(spark, emb, tmp_path, "pidx5")
        sid, base = idx.register_stream("/ck/d", "/landing/d")
        idx.append(
            emb.filter("vec_id >= 100 and vec_id < 120"), base + 1,
            provenance=f"stream:{sid}",
        )
        before = idx.manifest()
        idx.rebuild(emb)
        m = idx.manifest()
        assert m["index_id"] == before["index_id"]
        assert m["epoch_src"] == before["epoch_src"]
        assert m["streams"] == before["streams"]
        # the binding survives the swap — restart keeps its identity
        assert idx.register_stream("/ck/d", "/landing/d") == (sid, base)


_VEC = "vec_id long, embedding array<double>"


class TestInteractiveSearch:
    """The search path: the model decoded once per version dir, one
    partition-pruned codes scan, a local-relation result."""

    def _index(self, spark, emb, tmp_path):
        idx = IvfPqIndex(spark, str(tmp_path / "iidx"),
                         num_centroids=8, m=16, ksub=16)
        idx.build(emb.filter("vec_id >= 3 and vec_id < 200"))
        return idx

    def test_warm_search_runs_at_most_two_jobs(self, spark, emb, tmp_path):
        idx = self._index(spark, emb, tmp_path)
        q = emb.filter("vec_id < 3")
        want = _topk(idx.search(q, k=5, nprobe=3))  # loads the model
        arrow_q = spark.createDataFrame(q.toArrow())
        list_q = spark.createDataFrame(q.collect(), q.schema)
        got, n = count_jobs(spark, lambda: _topk(idx.search(arrow_q, k=5,
                                                            nprobe=3)))
        assert got == want and n <= 1, n
        got, n = count_jobs(spark, lambda: _topk(idx.search(list_q, k=5,
                                                            nprobe=3)))
        assert got == want and n <= 2, n
        # the result is a local relation: collecting it again is free
        out = idx.search(arrow_q, k=5, nprobe=3)
        assert count_jobs(spark, out.collect)[1] == 0

    def test_append_is_visible_without_a_model_reload(
            self, spark, emb, tmp_path, monkeypatch):
        idx = self._index(spark, emb, tmp_path)
        q = emb.filter("vec_id < 3")
        idx.search(q, k=5, nprobe=3)
        loaded = idx._model
        idx.append(emb.filter("vec_id >= 200"), 1)

        def no_reload(*_a, **_k):
            raise AssertionError("model re-read after an append")

        monkeypatch.setattr(IvfPqIndex, "_read_model", no_reload)
        got = _topk(idx.search(q, k=20, nprobe=8))
        assert idx._model is loaded
        assert any(c >= 200 for c, _ in got.values())
        monkeypatch.undo()
        fresh = IvfPqIndex(spark, str(tmp_path / "iidx"))
        assert _topk(fresh.search(q, k=20, nprobe=8)) == got

    def test_rebuild_reloads_the_model(self, spark, emb, tmp_path):
        idx = self._index(spark, emb, tmp_path)
        q = emb.filter("vec_id < 3")
        idx.search(q, k=5, nprobe=3)
        before = idx._model[0]
        idx.append(emb.filter("vec_id >= 200"), 1)
        man = idx.rebuild(emb)
        got = _topk(idx.search(q, k=5, nprobe=3))
        assert idx._model[0] == man["dir"] != before
        want = _topk(similarity.ivfpq_topk(
            q, emb.filter("vec_id >= 3"), k=5, num_centroids=8, nprobe=3,
            m=16, ksub=16))
        assert got == want and got

    def test_small_frames_are_local_relations(self, spark, emb):
        """The parameter-bounded frames of the build are rebuilt from
        pyarrow Tables: collecting them launches no job."""
        from datalake_spark.operators.similarity import (
            _materialize_small,
            _seed_codebooks_local,
        )

        small = _materialize_small(emb.filter("vec_id < 4"))
        seeds = [{"_id": r["vec_id"], "_vec": r["embedding"]}
                 for r in emb.filter("vec_id < 4").collect()]
        cb = _seed_codebooks_local(spark, seeds, m=16)
        for df, n_rows in ((small, 4), (cb, 4 * 16)):
            rows, n = count_jobs(spark, df.collect)
            assert len(rows) == n_rows and n == 0, n
        assert small.schema == emb.schema
        assert small.collect() == emb.filter("vec_id < 4").collect()


class TestMalformedQueries:
    """Every malformed query gets one ValueError naming it, the same on
    the one-call operator and on the standing index; so does a code
    row with no codeword."""

    @pytest.fixture(scope="class")
    def index(self, spark, emb, tmp_path_factory):
        idx = IvfPqIndex(spark, str(tmp_path_factory.mktemp("midx")),
                         num_centroids=8, m=16, ksub=16)
        idx.build(emb.filter("vec_id >= 3 and vec_id < 200"))
        return idx

    @pytest.fixture(params=["ivfpq_topk", "IvfPqIndex.search"])
    def search(self, request, emb, index):
        if request.param == "ivfpq_topk":
            c = emb.filter("vec_id >= 3 and vec_id < 200")
            return lambda q, k=5: similarity.ivfpq_topk(
                q, c, k=k, num_centroids=8, nprobe=3, m=16, ksub=16,
                train_iters=0)
        return lambda q, k=5: index.search(q, k=k, nprobe=3)

    @pytest.mark.parametrize("vec, what", [
        (None, "NULL"),
        ([0.5] * 10 + [None] + [0.5] * 53, "NULL"),
        ([0.5] * 32, "dim 32"),
        ([0.5] * 63, "dim 63"),
    ])
    def test_bad_query_raises_naming_it(self, spark, search, vec, what):
        q = spark.createDataFrame([(7001, [0.1] * 64), (9001, vec)], _VEC)
        with pytest.raises(ValueError, match=f"query 9001 .*{what}"):
            search(q)

    def test_repeated_query_id_raises(self, spark, search):
        q = spark.createDataFrame([(9001, [0.1] * 64)] * 2, _VEC)
        with pytest.raises(ValueError, match="query id 9001 appears twice"):
            search(q)

    def test_all_zero_query_ranks_normally(self, spark, search):
        q = spark.createDataFrame([(9001, [0.0] * 64)], _VEC)
        got = _topk(search(q))
        assert sorted(rk for _, rk in got) == [1, 2, 3, 4, 5]

    def test_code_without_codeword_raises(self, spark, emb, tmp_path):
        """The join form's inner join dropped such a row without a
        word; both paths now name it."""
        c = emb.filter("vec_id >= 3 and vec_id < 200")
        q = emb.filter("vec_id < 3")
        cents, assign = similarity.ivf_index_build(c, 8)
        cb = similarity.pq_train(c, m=16, ksub=16, iters=0)
        codes = similarity.pq_encode(
            c, cb, m=16, cells=assign.select("c_id", "cent_id"))
        bad = codes.limit(1).withColumn("code", F.lit(999))
        with pytest.raises(ValueError, match="code=999.*no codeword"):
            similarity.ivfpq_search(
                cents, cb, codes.unionByName(bad), q, k=5, nprobe=8, m=16)

        index = IvfPqIndex(spark, str(tmp_path / "cidx"),
                           num_centroids=8, m=16, ksub=16)
        index.build(c)
        man = index.manifest()
        cent = index._url(man["dir"], IvfPqIndex.CODES, "epoch=0")
        cell = spark.read.parquet(cent).first()["cent_id"]
        spark.createDataFrame(
            [(99999, 3, 999)], "c_id long, sub int, code int"
        ).write.mode("append").parquet(f"{cent}/cent_id={cell}")
        with pytest.raises(ValueError, match="99999 .*sub=3, code=999"):
            index.search(q, k=5, nprobe=8)
