"""Training-shard export: deterministic membership/order, one file per
shard, manifest integrity, ordered reads."""

import glob
import os

import pytest

from datalake_spark.export import (
    MANIFEST,
    read_manifest,
    read_training_shard,
    write_training_shards,
)


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.range(0, 200).selectExpr(
        "id as doc_id", "concat('text-', id) as text"
    )


class TestWriteTrainingShards:
    def test_membership_and_order_deterministic(self, spark, corpus, tmp_path):
        m1 = write_training_shards(corpus, str(tmp_path / "a"), n_shards=4)
        m2 = write_training_shards(corpus, str(tmp_path / "b"), n_shards=4)
        assert m1["rows_per_shard"] == m2["rows_per_shard"]
        for s in range(4):
            a = [r["doc_id"] for r in
                 read_training_shard(spark, str(tmp_path / "a"), s).collect()]
            b = [r["doc_id"] for r in
                 read_training_shard(spark, str(tmp_path / "b"), s).collect()]
            assert a == b and len(a) == m1["rows_per_shard"][str(s)]

    def test_one_file_per_shard_and_full_coverage(self, spark, corpus, tmp_path):
        path = str(tmp_path / "sh")
        m = write_training_shards(corpus, path, n_shards=8)
        for s in range(8):
            files = glob.glob(os.path.join(path, f"shard={s}", "*.parquet"))
            assert len(files) == 1, f"shard {s}: {files}"
        got = sorted(
            r["doc_id"] for r in spark.read.parquet(path).collect()
        )
        assert got == list(range(200))
        assert m["n_rows"] == 200
        assert sum(m["rows_per_shard"].values()) == 200

    def test_order_follows_persisted_key(self, spark, corpus, tmp_path):
        path = str(tmp_path / "ord")
        write_training_shards(corpus, path, n_shards=2)
        rows = read_training_shard(spark, path, 0).collect()
        keys = [r["_skey"] for r in rows]
        assert keys == sorted(keys)
        # a different seed permutes the order
        write_training_shards(corpus, str(tmp_path / "seed2"), n_shards=2,
                              seed="other")
        other = [r["doc_id"] for r in
                 read_training_shard(spark, str(tmp_path / "seed2"), 0).collect()]
        mine = [r["doc_id"] for r in rows]
        assert other != mine

    def test_manifest_roundtrip_and_single_shard(self, spark, corpus, tmp_path):
        path = str(tmp_path / "one")
        m = write_training_shards(corpus, path, n_shards=1)
        assert m == read_manifest(path)
        assert m["rows_per_shard"] == {"0": 200}
        assert os.path.exists(os.path.join(path, MANIFEST))
        with pytest.raises(ValueError):
            write_training_shards(corpus, path, n_shards=0)

    def test_uniformity(self, spark, corpus, tmp_path):
        """md5 sharding is uniform: no shard is pathologically loaded."""
        m = write_training_shards(corpus, str(tmp_path / "u"), n_shards=4)
        sizes = list(m["rows_per_shard"].values())
        assert min(sizes) > 0
        assert max(sizes) < 2.5 * (200 / 4)


class TestCompactShards:
    def test_streaming_fragmentation_compacts_to_one_file(self, spark, corpus, tmp_path):
        from datalake_spark.export import (
            compact_shards,
            shard_file_counts,
            write_training_shards,
        )

        path = str(tmp_path / "frag")
        write_training_shards(corpus, path, n_shards=2)
        # simulate micro-batch appends: 5 more files per shard
        extra = spark.range(200, 400).selectExpr(
            "id as doc_id", "concat('text-', id) as text"
        )
        from datalake_spark.export import KEY_COL, SHARD_COL, shard_key, shard_of
        from pyspark.sql import functions as F

        keyed = extra.withColumn(KEY_COL, shard_key("doc_id", "shuf42")) \
            .withColumn(SHARD_COL, shard_of(F.col(KEY_COL), 2))
        for i in range(5):
            batch = keyed.filter((F.col("doc_id") % 5) == i)
            batch.repartition(2, F.col(SHARD_COL)).write.mode("append") \
                .partitionBy(SHARD_COL).parquet(path)
        assert max(shard_file_counts(path).values()) >= 6
        before = sorted(r["doc_id"] for r in spark.read.parquet(path).collect())
        assert compact_shards(spark, path, max_files_per_shard=4) is True
        assert shard_file_counts(path) == {0: 1, 1: 1}
        after = sorted(r["doc_id"] for r in spark.read.parquet(path).collect())
        assert after == before == list(range(400))
        # below threshold: no-op
        assert compact_shards(spark, path, max_files_per_shard=4) is False
        # intra-shard order restored
        from datalake_spark.export import read_training_shard

        keys = [r["_skey"] for r in read_training_shard(spark, path, 0).collect()]
        assert keys == sorted(keys)


    def test_compaction_caches_nothing_and_keeps_the_manifest(
        self, spark, corpus, tmp_path
    ):
        """The rewrite goes through a staging directory, so nothing is
        cached or checkpointed: a compaction inside ``released()`` leaves
        no persistent RDD, and the manifest survives the swap."""
        from datalake_spark.export import (
            KEY_COL, SHARD_COL, compact_shards, shard_file_counts, shard_key,
            shard_of,
        )
        from datalake_spark.session import released
        from pyspark.sql import functions as F
        from tests.conftest import rdd_ids

        path = str(tmp_path / "frag")
        manifest = write_training_shards(corpus, path, n_shards=2)
        keyed = corpus.withColumn(KEY_COL, shard_key("doc_id", "shuf42")) \
            .withColumn(SHARD_COL, shard_of(F.col(KEY_COL), 2))
        for i in range(3):
            keyed.filter(F.col("doc_id") % 3 == i).repartition(
                2, F.col(SHARD_COL)).write.mode("append") \
                .partitionBy(SHARD_COL).parquet(path)
        before = rdd_ids(spark)
        with released():
            assert compact_shards(spark, path, max_files_per_shard=2)
        assert not rdd_ids(spark) - before
        assert shard_file_counts(path) == {0: 1, 1: 1}
        assert spark.read.parquet(path).count() == 2 * 200
        assert read_manifest(path) == manifest
        assert not os.path.exists(f"{path}.old")
        assert not os.path.exists(f"{path}.compacting")


class TestJsonlShards:
    def test_jsonl_roundtrip_same_membership_and_order(self, spark, tmp_path):
        from datalake_spark.export import (
            read_training_shard, write_training_shards,
        )

        df = spark.createDataFrame(
            [(i, f"text {i}") for i in range(40)], "doc_id long, text string"
        )
        pq, js = str(tmp_path / "pq"), str(tmp_path / "js")
        m1 = write_training_shards(df, pq, 4)
        m2 = write_training_shards(df, js, 4, fmt="jsonl")
        assert m2["format"] == "jsonl"
        assert m1["rows_per_shard"] == m2["rows_per_shard"]
        for k in range(4):
            a = [r["doc_id"] for r in read_training_shard(spark, pq, k).collect()]
            b = [int(r["doc_id"]) for r in
                 read_training_shard(spark, js, k).collect()]
            assert a == b, k

    def test_gzip_jsonl_files(self, spark, tmp_path):
        import glob

        from datalake_spark.export import write_training_shards

        df = spark.createDataFrame(
            [(i, f"t{i}") for i in range(10)], "doc_id long, text string"
        )
        path = str(tmp_path / "gz")
        write_training_shards(df, path, 2, fmt="jsonl", compression="gzip")
        files = glob.glob(f"{path}/shard=*/*.json.gz")
        assert len(files) == 2

    def test_bad_format_raises(self, spark, tmp_path):
        import pytest as _pytest

        from datalake_spark.export import write_training_shards

        df = spark.createDataFrame([(1, "t")], "doc_id long, text string")
        with _pytest.raises(ValueError, match="fmt"):
            write_training_shards(df, str(tmp_path / "x"), 2, fmt="csv")


class TestWebdataset:
    """WebDataset tar-shard export: loader-facing {key}.txt/{key}.json
    member pairs, byte-identical across re-runs, same membership as the
    parquet shard writer."""

    def _docs(self, spark, n=30):
        rows = [(i, f"document body {i} " + "w " * (i % 7), "en")
                for i in range(n)]
        return spark.createDataFrame(rows, "doc_id long, text string, lang string")

    def test_roundtrip_and_determinism(self, spark, tmp_path):
        from datalake_spark.export import (
            read_webdataset_shard, write_webdataset,
        )

        df = self._docs(spark)
        p1, p2 = str(tmp_path / "w1"), str(tmp_path / "w2")
        m1 = write_webdataset(df, p1, n_shards=4)
        m2 = write_webdataset(df, p2, n_shards=4)
        assert m1["n_rows"] == 30
        # byte-identical re-run: md5 receipts match shard for shard
        assert m1["md5_per_shard"] == m2["md5_per_shard"]
        got = {}
        for k in range(4):
            if m1["rows_per_shard"].get(str(k), 0) == 0:
                continue
            for key, text, meta in read_webdataset_shard(p1, k):
                got[meta["doc_id"]] = (text, meta["lang"], k)
        assert set(got) == set(range(30))
        for i, (text, lang, _k) in got.items():
            assert text.startswith(f"document body {i} ") and lang == "en"

    def test_stale_temps_swept_and_none_left_behind(self, spark, tmp_path):
        """A crashed prior attempt's .tmp-<uuid> leftovers are removed on
        the next run — but ONLY once old enough that they cannot belong
        to a concurrent export into the same dir (age-gated sweep; a
        young temp survives so the concurrent run's publish os.replace
        still finds it).  A clean run publishes only final tar names —
        close() renames exactly once (idempotent) and failed attempts
        abort their temp instead of leaking it."""
        import glob as _glob
        import time as _time

        from datalake_spark.export import write_webdataset

        wd = str(tmp_path / "wd")
        os.makedirs(wd)
        stale = os.path.join(wd, "shard-00001.tar.tmp-deadbeefcafe")
        with open(stale, "wb") as fh:
            fh.write(b"half-written garbage")
        old = _time.time() - 7200
        os.utime(stale, (old, old))  # a crash two hours ago
        live = os.path.join(wd, "shard-00000.tar.tmp-feedfacebeef")
        with open(live, "wb") as fh:
            fh.write(b"a concurrent run's in-flight temp")
        write_webdataset(self._docs(spark), wd, n_shards=2)
        assert not os.path.exists(stale)
        assert os.path.exists(live)  # young temp: not ours to delete
        os.remove(live)
        assert _glob.glob(os.path.join(wd, "*.tmp-*")) == []
        assert sorted(
            os.path.basename(p)
            for p in _glob.glob(os.path.join(wd, "shard-*.tar"))
        ) == ["shard-00000.tar", "shard-00001.tar"]

    def test_membership_matches_parquet_shards(self, spark, tmp_path):
        """Same (corpus, seed) => same shard assignment in BOTH formats:
        a loader can switch layout without reshuffling data."""
        from datalake_spark.export import (
            read_webdataset_shard, write_training_shards, write_webdataset,
        )

        df = self._docs(spark)
        wd, pq = str(tmp_path / "wd"), str(tmp_path / "pq")
        m = write_webdataset(df, wd, n_shards=4, seed="s1")
        write_training_shards(df, pq, n_shards=4, seed="s1")
        for k in range(4):
            want = sorted(
                r["doc_id"]
                for r in spark.read.parquet(f"{pq}/shard={k}").collect()
            )
            have = sorted(
                meta["doc_id"]
                for _b, _t, meta in read_webdataset_shard(wd, k)
            ) if m["rows_per_shard"].get(str(k), 0) else []
            assert have == want, k

    def test_intra_shard_order_is_the_seeded_shuffle(self, spark, tmp_path):
        from datalake_spark.export import (
            read_webdataset_shard, write_webdataset,
        )

        df = self._docs(spark)
        wd = str(tmp_path / "wo")
        m = write_webdataset(df, wd, n_shards=2)
        for k in range(2):
            if not m["rows_per_shard"].get(str(k), 0):
                continue
            keys = [key for key, _t, _m in read_webdataset_shard(wd, k)]
            assert keys == sorted(keys)  # hash-prefixed keys: stored order


class TestSequencePacking:
    def test_matches_hand_packed_model(self, spark):
        """Single shard, tiny budget: seq_id/offset follow the exact
        concat-and-chunk arithmetic over the deterministic order."""
        import hashlib

        rows = [(i, " ".join(f"t{j}" for j in range(3 + i))) for i in range(6)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        from datalake_spark.export import pack_sequences

        got = {r["doc_id"]: r for r in
               pack_sequences(df, budget_tokens=10, n_shards=1).collect()}
        # replicate: order by (md5 key, id), running cumsum
        order = sorted(
            rows,
            key=lambda r: (hashlib.md5(f"shuf42:{r[0]}".encode()).hexdigest(),
                           r[0]),
        )
        before = 0
        for doc_id, text in order:
            n = len(text.split(" "))
            r = got[doc_id]
            assert (r["shard"], r["n_tokens"]) == (0, n), doc_id
            assert r["seq_id"] == before // 10, doc_id
            assert r["offset_tokens"] == before % 10, doc_id
            before += n

    def test_empty_and_whitespace_docs_pack_as_zero_tokens(self, spark):
        from datalake_spark.export import pack_sequences

        df = spark.createDataFrame(
            [(1, ""), (2, "  "), (3, "one two")],
            "doc_id long, text string",
        )
        got = {r["doc_id"]: r["n_tokens"]
               for r in pack_sequences(df, n_shards=1).collect()}
        assert got == {1: 0, 2: 0, 3: 2}

    def test_matches_shard_membership_of_writer(self, spark, tmp_path):
        """Packing's shard assignment equals write_training_shards'
        membership for the same seed — the map describes the layout."""
        from datalake_spark.export import pack_sequences, write_training_shards

        rows = [(i, f"some text body number {i}") for i in range(40)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        path = str(tmp_path / "shards")
        write_training_shards(df, path, n_shards=4)
        stored = {
            r["doc_id"]: r["shard"]
            for r in spark.read.parquet(path).collect()
        }
        packed = {
            r["doc_id"]: r["shard"]
            for r in pack_sequences(df, n_shards=4).collect()
        }
        assert packed == stored
