"""QueryEngine behavioral invariants — ported from the reference's
api/tests/test_archive_querier.py (interval overlap :213-258, null end
:413-460, latest :469-614, work-id :190-210) and run against a real
SparkSession, catalog round-trip included."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from datalake_spark.catalog import Catalog
from datalake_spark.metadata import DAY_MS
from datalake_spark.query import QueryEngine
from datalake_spark.schema import FILES_SCHEMA
from tests.conftest import count_jobs, random_metadata

T0 = 1420070400000  # 2015-01-01


def make_files_df(spark, rows):
    full = []
    for i, r in enumerate(rows):
        d = dict(r)
        d.setdefault("version", 0)
        d.setdefault("path", "/var/log/x")
        d.setdefault("hash", f"h{i}")
        d.setdefault("work_id", None)
        d.setdefault("url", f"s3://bucket/{d['id']}/data")
        d.setdefault("create_time", d["start"])
        d.setdefault("size", 100)
        full.append(d)
    return spark.createDataFrame(full, schema=FILES_SCHEMA)


@pytest.fixture()
def engine(spark):
    rows = [
        # one-bucket file
        {"id": "a", "what": "nginx", "where": "h1", "start": T0 + 1000, "end": T0 + 2000},
        # spans 3 buckets
        {"id": "b", "what": "nginx", "where": "h1", "start": T0, "end": T0 + 2 * DAY_MS + 1},
        # instant file (null end)
        {"id": "c", "what": "nginx", "where": "h2", "start": T0 + 5000, "end": None},
        # different what
        {"id": "d", "what": "syslog", "where": "h1", "start": T0 + 1000, "end": T0 + 2000},
        # work_id files
        {"id": "e", "what": "nginx", "where": "h1", "start": T0 + 10, "end": T0 + 20, "work_id": "job1"},
        {"id": "f", "what": "nginx", "where": "h3", "start": T0 + 30, "end": T0 + 40, "work_id": "job1"},
    ]
    return QueryEngine(make_files_df(spark, rows))


class TestByTime:
    def test_intersecting_only(self, engine):
        ids = {r["id"] for r in engine.by_time("nginx", T0 + 1500, T0 + 1600).collect()}
        assert ids == {"a", "b", "e"} - {"e"} | {"b", "a"}  # e ends at T0+20
        assert "d" not in ids

    def test_bucket_spanning_file_returned_once(self, engine):
        rows = engine.by_time("nginx", T0, T0 + 3 * DAY_MS).collect()
        assert sum(1 for r in rows if r["id"] == "b") == 1

    def test_null_end_intersects_only_at_start(self, engine):
        # instant file at T0+5000 (test_archive_querier.py:413-460)
        assert {r["id"] for r in engine.by_time("nginx", T0 + 4000, T0 + 6000).collect()} >= {"c"}
        assert "c" not in {
            r["id"] for r in engine.by_time("nginx", T0 + 5001, T0 + 6000).collect()
        }

    def test_where_filter(self, engine):
        ids = {r["id"] for r in engine.by_time("nginx", T0, T0 + DAY_MS, where="h2").collect()}
        assert ids == {"c"}

    def test_no_results_outside_range(self, engine):
        assert engine.by_time("nginx", T0 + 40 * DAY_MS, T0 + 41 * DAY_MS).count() == 0


class TestByWorkId:
    def test_lookup(self, engine):
        ids = {r["id"] for r in engine.by_work_id("job1", "nginx").collect()}
        assert ids == {"e", "f"}

    def test_with_where(self, engine):
        ids = {r["id"] for r in engine.by_work_id("job1", "nginx", where="h3").collect()}
        assert ids == {"f"}

    def test_missing(self, engine):
        assert engine.by_work_id("nope", "nginx").count() == 0


class TestLatest:
    def test_max_start_wins(self, spark):
        rows = [
            {"id": "old", "what": "w", "where": "s", "start": T0, "end": None},
            {"id": "new", "what": "w", "where": "s", "start": T0 + 1000, "end": None},
        ]
        eng = QueryEngine(make_files_df(spark, rows))
        got = eng.latest("w", "s", as_of=T0 + DAY_MS).collect()
        assert [r["id"] for r in got] == ["new"]

    def test_create_time_breaks_ties(self, spark):
        # test_archive_querier.py:510-530
        rows = [
            {"id": "x", "what": "w", "where": "s", "start": T0, "end": None, "create_time": T0 + 1},
            {"id": "y", "what": "w", "where": "s", "start": T0, "end": None, "create_time": T0 + 2},
        ]
        eng = QueryEngine(make_files_df(spark, rows))
        assert [r["id"] for r in eng.latest("w", "s", as_of=T0 + 1000).collect()] == ["y"]

    def test_empty_archive(self, engine):
        assert engine.latest("nope", "h1", as_of=T0).count() == 0

    def test_lookback_window(self, spark):
        rows = [{"id": "old", "what": "w", "where": "s", "start": T0, "end": None}]
        eng = QueryEngine(make_files_df(spark, rows))
        # 15 days later with default 14-day lookback -> not found
        assert eng.latest("w", "s", as_of=T0 + 15 * DAY_MS).count() == 0
        assert eng.latest("w", "s", as_of=T0 + 13 * DAY_MS).count() == 1

    def test_lookforward_rejects_future(self, spark):
        # records starting >24h after as_of are invalid (querier.py:353)
        rows = [{"id": "fut", "what": "w", "where": "s", "start": T0 + 2 * DAY_MS, "end": None}]
        eng = QueryEngine(make_files_df(spark, rows))
        assert eng.latest("w", "s", as_of=T0).count() == 0

    def test_bucket_spanning_record_beats_later_start(self, spark):
        """The reference walks day buckets newest-first and records fan out to
        every bucket they span (querier.py:407-417): a record spanning into a
        newer bucket wins over a later-STARTING record confined to an older
        bucket (ADVICE r1, low)."""
        rows = [
            # starts day 0, spans into day 2 -> present in bucket(day 2)
            {"id": "spanner", "what": "w", "where": "s",
             "start": T0, "end": T0 + 2 * DAY_MS + 1000},
            # starts later but confined to day 1 -> newest bucket is day 1
            {"id": "later_start", "what": "w", "where": "s",
             "start": T0 + DAY_MS + 5000, "end": T0 + DAY_MS + 6000},
        ]
        eng = QueryEngine(make_files_df(spark, rows))
        got = eng.latest("w", "s", as_of=T0 + 2 * DAY_MS + 2000).collect()
        assert [r["id"] for r in got] == ["spanner"]


class TestPagination:
    def test_stable_pages(self, spark):
        rng = random.Random(7)
        rows = [
            {
                "id": f"id{i:03d}",
                "what": "w",
                "where": "s",
                "start": T0 + rng.randint(0, 10**6),
                "end": None,
            }
            for i in range(250)
        ]
        eng = QueryEngine(make_files_df(spark, rows))
        q = eng.by_time("w", T0, T0 + DAY_MS)
        pages = [eng.page(q, page=i, page_size=100) for i in range(3)]
        counts = [p.count() for p in pages]
        assert counts == [100, 100, 50]  # pages <= MAX_RESULTS, non-final full
        all_ids = [r["id"] for p in pages for r in p.collect()]
        assert len(set(all_ids)) == 250  # no dup across pages (stronger than ref)

    def test_page_plan_has_no_global_sort(self, spark):
        """The scale contract (VERDICT r1 #1): page() must plan as a bounded
        top-k merge (TakeOrderedAndProject), NOT a Window over a
        single-partition global sort."""
        rows = [
            {"id": f"id{i:03d}", "what": "w", "where": "s", "start": T0 + i, "end": None}
            for i in range(50)
        ]
        eng = QueryEngine(make_files_df(spark, rows))
        q = eng.page(eng.by_time("w", T0, T0 + DAY_MS), page=1, page_size=10)
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in plan
        assert "Window" not in plan
        assert "SinglePartition" not in plan

    def test_page_after_keyset_matches_offset_pages(self, spark):
        """Keyset pagination walks the same sequence as offset pagination."""
        rng = random.Random(11)
        rows = [
            {"id": f"id{i:03d}", "what": "w", "where": "s",
             "start": T0 + rng.randint(0, 10**6), "end": None}
            for i in range(95)
        ]
        eng = QueryEngine(make_files_df(spark, rows))
        q = eng.by_time("w", T0, T0 + DAY_MS)
        via_offset = [
            (r["start"], r["id"])
            for p in range(4)
            for r in eng.page(q, page=p, page_size=30).collect()
        ]
        via_keyset, cursor = [], (None, None)
        while True:
            batch = eng.page_after(q, cursor[0], cursor[1], page_size=30).collect()
            if not batch:
                break
            via_keyset += [(r["start"], r["id"]) for r in batch]
            cursor = (batch[-1]["start"], batch[-1]["id"])
        assert via_keyset == sorted(via_offset)
        assert len(via_keyset) == 95

    def test_opaque_cursor_token_loop(self, spark):
        """The reference's next-token contract: walk pages via opaque
        base64 tokens until the token is None; the concatenation equals the
        unpaged ordered result and the final short page ends the loop."""
        rng = random.Random(13)
        rows = [
            {"id": f"id{i:03d}", "what": "w", "where": "s",
             "start": T0 + rng.randint(0, 10**6), "end": None}
            for i in range(95)
        ]
        eng = QueryEngine(make_files_df(spark, rows))
        q = eng.by_time("w", T0, T0 + DAY_MS)
        walked, token, n_pages = [], None, 0
        while True:
            batch, token = eng.fetch_page(q, cursor=token, page_size=30)
            walked += [(r["start"], r["id"]) for r in batch]
            n_pages += 1
            if token is None:
                break
        assert n_pages == 4  # 30+30+30+5
        unpaged = [(r["start"], r["id"])
                   for r in q.orderBy("start", "id").collect()]
        assert walked == unpaged
        # tokens are URL-clean (no padding) and round-trip exactly
        from datalake_spark.query import decode_cursor, encode_cursor

        t = encode_cursor(12345, "idxyz")
        assert "=" not in t
        assert decode_cursor(t) == {"last_start": 12345, "last_id": "idxyz"}

    def test_exact_page_boundary_emits_final_empty_page(self, spark):
        """A result set that divides evenly by page_size yields a trailing
        token whose page is empty with a None token — the loop still
        terminates (same shape the reference's cursor machine produces)."""
        rows = [
            {"id": f"id{i:03d}", "what": "w", "where": "s",
             "start": T0 + i, "end": None}
            for i in range(60)
        ]
        eng = QueryEngine(make_files_df(spark, rows))
        q = eng.by_time("w", T0, T0 + DAY_MS)
        batch1, t1 = eng.fetch_page(q, page_size=30)
        batch2, t2 = eng.fetch_page(q, cursor=t1, page_size=30)
        batch3, t3 = eng.fetch_page(q, cursor=t2, page_size=30)
        assert (len(batch1), len(batch2), len(batch3)) == (30, 30, 0)
        assert t3 is None

    @pytest.mark.parametrize(
        "bad", ["%%%not-base64%%%", "aGVsbG8", "e30", "WzEsMl0"]
    )
    def test_malformed_cursor_raises_invalid_cursor(self, spark, bad):
        """Garbage, non-JSON, field-less and non-dict tokens all 400 with
        the InvalidCursor code (reference v0.py:180-184)."""
        from datalake_spark.query import InvalidCursor, decode_cursor

        with pytest.raises(InvalidCursor) as ei:
            decode_cursor(bad)
        assert ei.value.code == "InvalidCursor"


class TestCatalog:
    def test_roundtrip_and_latest(self, spark, tmp_path):
        cat = Catalog(spark, str(tmp_path))
        rng = random.Random(42)
        rows = []
        for i in range(200):
            m = random_metadata(rng)
            rows.append(
                {
                    "id": m["id"],
                    "what": m["what"],
                    "where": m["where"],
                    "start": m["start"],
                    "end": m["end"],
                    "work_id": m["work_id"],
                }
            )
        df = make_files_df(spark, rows)
        cat.append(df)
        files = cat.files()
        assert files.count() == 200
        # partition layout: what + bucket_date present
        assert "bucket_date" in files.columns
        cat.refresh_latest()
        latest = cat.latest_table()
        expected = (
            files.groupBy("what", "where")
            .agg(F.max_by(F.struct("id"), F.struct("start", "create_time"))["id"].alias("id"))
            .count()
        )
        assert latest.count() == expected
        # engine over the catalog prunes by bucket_date without error
        eng = QueryEngine(files)
        assert eng.by_time("nginx", 1262304000000, 1420070400000).count() >= 0

    def test_partition_pruning_in_plan(self, spark, tmp_path):
        """The 100 TB contract: a time-interval query over the partitioned
        catalog must reach the scan as PartitionFilters on (what,
        bucket_date) — the Spark replacement for the reference's DynamoDB
        time-bucket walk (querier.py:263-284)."""
        cat = Catalog(spark, str(tmp_path))
        rows = [
            {"id": f"f{i}", "what": "nginx", "where": "h1",
             "start": T0 + i * DAY_MS, "end": None}
            for i in range(20)
        ]
        cat.append(make_files_df(spark, rows))
        eng = QueryEngine(cat.files())
        q = eng.by_time("nginx", T0, T0 + 2 * DAY_MS)
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan
        assert "bucket_date" in plan.split("PartitionFilters")[1][:400]
        # and the equality on the first-level partition column too
        assert "what" in plan.split("PartitionFilters")[1][:400]
        # correctness: only the 3 overlapping days' files return
        assert q.count() == 3

    def test_work_id_filter_pushed_to_scan(self, spark, tmp_path):
        """work_id / id point lookups must reach the parquet scan as
        PushedFilters — with append's sortWithinPartitions("work_id",
        "id") keeping row-group stats tight, that is what makes the
        lookup skip row groups instead of scanning the partition."""
        cat = Catalog(spark, str(tmp_path))
        rows = [
            {"id": f"f{i}", "what": "nginx", "where": "h1",
             "start": T0, "end": None, "work_id": f"w{i % 5}"}
            for i in range(20)
        ]
        cat.append(make_files_df(spark, rows))
        eng = QueryEngine(cat.files())
        plan = eng.by_work_id("w3", "nginx")._jdf.queryExecution(
        ).executedPlan().toString()
        pushed = plan.split("PushedFilters")[1][:200]
        assert "EqualTo(work_id,w3)" in pushed
        by_id = eng.by_id("f7")._jdf.queryExecution().executedPlan().toString()
        assert "EqualTo(id,f7)" in by_id.split("PushedFilters")[1][:200]


class TestQueryValidation:
    """Error contract — ported from api/tests/test_bad_queries.py:32-135."""

    def _code(self, params):
        from datalake_spark.query import InvalidQuery, validate_query_params

        with pytest.raises(InvalidQuery) as e:
            validate_query_params(params)
        return e.value.code

    def test_no_args(self):
        assert self._code({}) == "NoArgs"

    def test_no_what(self):
        assert self._code({"start": 0, "end": 1}) == "NoWhat"

    def test_no_work_interval(self):
        assert self._code({"what": "nginx"}) == "NoWorkInterval"

    def test_start_without_end(self):
        assert self._code({"what": "nginx", "start": 0}) == "NoWorkInterval"

    def test_work_id_and_interval(self):
        assert (
            self._code({"what": "nginx", "work_id": "j1", "start": 0, "end": 1})
            == "InvalidWorkInterval"
        )

    def test_start_after_end(self):
        assert (
            self._code({"what": "nginx", "start": 10_000, "end": 1_000})
            == "InvalidWorkInterval"
        )

    def test_invalid_time(self):
        assert (
            self._code({"what": "nginx", "start": "not-a-date", "end": 1})
            == "InvalidTime"
        )

    def test_invalid_page(self):
        assert (
            self._code({"what": "nginx", "work_id": "j1", "page": -1})
            == "InvalidCursor"
        )

    def test_valid_normalizes(self):
        from datalake_spark.query import validate_query_params

        out = validate_query_params(
            {"what": "nginx", "start": "2015-01-01", "end": 1420156800}
        )
        assert out["start"] == T0
        assert out["end"] == 1420156800000  # seconds → ms heuristic


class TestLatestFastPath:
    """O5 — materialized latest table probe with 24 h lookforward fallback
    (querier.py:355-379)."""

    def _latest_table(self, spark, rows):
        df = make_files_df(spark, rows)
        return df.withColumn(
            "what_where_key", F.concat_ws(":", F.col("what"), F.col("where"))
        )

    def test_fast_path_hit(self, spark):
        files = make_files_df(
            spark,
            [
                {"id": "old", "what": "nginx", "where": "h1", "start": T0 + 1000, "end": None},
                {"id": "new", "what": "nginx", "where": "h1", "start": T0 + 5000, "end": None},
            ],
        )
        latest = self._latest_table(
            spark,
            [{"id": "new", "what": "nginx", "where": "h1", "start": T0 + 5000, "end": None}],
        )
        eng = QueryEngine(files, latest_table=latest)
        got = eng.latest("nginx", "h1", as_of=T0 + DAY_MS).collect()
        assert [r["id"] for r in got] == ["new"]

    def test_future_row_falls_back_to_scan(self, spark):
        files = make_files_df(
            spark,
            [{"id": "ok", "what": "nginx", "where": "h1", "start": T0 + 1000, "end": None}],
        )
        # latest table holds only a row starting >24h after as_of
        latest = self._latest_table(
            spark,
            [
                {
                    "id": "future",
                    "what": "nginx",
                    "where": "h1",
                    "start": T0 + 3 * DAY_MS,
                    "end": None,
                }
            ],
        )
        eng = QueryEngine(files, latest_table=latest)
        got = eng.latest("nginx", "h1", as_of=T0 + 2000).collect()
        assert [r["id"] for r in got] == ["ok"]

    def test_miss_falls_back(self, spark):
        files = make_files_df(
            spark,
            [{"id": "only", "what": "nginx", "where": "h1", "start": T0 + 1000, "end": None}],
        )
        latest = self._latest_table(
            spark,
            [{"id": "x", "what": "syslog", "where": "h9", "start": T0, "end": None}],
        )
        eng = QueryEngine(files, latest_table=latest)
        got = eng.latest("nginx", "h1", as_of=T0 + 2000).collect()
        assert [r["id"] for r in got] == ["only"]

    def test_compaction(self, spark, tmp_path):
        """Many small appends → compact → fewer files, identical contents,
        partition layout and row-group sort preserved."""
        import glob

        cat = Catalog(spark, str(tmp_path))
        for batch in range(5):
            rows = [
                {"id": f"b{batch}f{i}", "what": "nginx", "where": "h1",
                 "start": T0 + (i % 3) * DAY_MS, "end": None}
                for i in range(10)
            ]
            cat.append(make_files_df(spark, rows))
        before = set(glob.glob(f"{tmp_path}/files/**/*.parquet", recursive=True))
        data_before = sorted(r["id"] for r in cat.files().collect())
        assert len(before) >= 15  # 5 appends × 3 day-partitions
        cat.compact()
        after = set(glob.glob(f"{tmp_path}/files/**/*.parquet", recursive=True))
        assert len(after) == 3  # one file per (what, bucket_date) partition
        assert sorted(r["id"] for r in cat.files().collect()) == data_before
        # partition columns still present and pruning still works
        eng = QueryEngine(cat.files())
        assert eng.by_time("nginx", T0, T0 + 1).count() == 5 * 4  # i%3==0 rows


class TestReadJobs:
    """Each archive read runs only the jobs its answer needs: a latest hit
    is the probe alone, a point lookup is one scan with no exchange."""

    @pytest.fixture()
    def cat(self, spark, tmp_path):
        cat = Catalog(spark, str(tmp_path))
        cat.append(make_files_df(spark, [
            {"id": "old", "what": "nginx", "where": "h1", "start": T0 + 1000,
             "end": None},
            {"id": "new", "what": "nginx", "where": "h1", "start": T0 + 5000,
             "end": None},
        ]))
        cat.refresh_latest()
        return cat

    def test_latest_hit_runs_one_job(self, spark, cat):
        eng = QueryEngine(cat.files(), latest_table=cat.latest_table())
        # the probe runs inside latest(), so count around the call too
        rows, n = count_jobs(
            spark, lambda: eng.latest("nginx", "h1", as_of=T0 + DAY_MS)
            .collect())
        assert [r["id"] for r in rows] == ["new"] and n == 1, n

    def test_latest_miss_falls_back_to_the_scan(self, spark, cat):
        # a (what, where) appended after the latest table was refreshed
        cat.append(make_files_df(spark, [
            {"id": "late", "what": "nginx", "where": "h9", "start": T0 + 9000,
             "end": None},
        ]))
        eng = QueryEngine(cat.files(), latest_table=cat.latest_table())
        got = eng.latest("nginx", "h9", as_of=T0 + DAY_MS).collect()
        scan = QueryEngine(cat.files()).latest("nginx", "h9", as_of=T0 + DAY_MS)
        assert got == scan.collect() and [r["id"] for r in got] == ["late"]

    def test_by_id_plan_has_no_exchange(self, cat):
        q = QueryEngine(cat.files()).by_id("new")
        assert "Exchange" not in q._jdf.queryExecution().executedPlan().toString()
        assert [r["id"] for r in q.collect()] == ["new"]

    def test_duplicate_id_returns_one_of_its_rows(self, spark, tmp_path):
        cat = Catalog(spark, str(tmp_path))
        first = {"id": "dup", "what": "nginx", "where": "h1", "start": T0,
                 "end": None, "hash": "h", "create_time": T0 + 1}
        # a re-delivery may carry other metadata, here another day
        again = dict(first, start=T0 + 3 * DAY_MS, create_time=T0 + 2)
        cat.append(make_files_df(spark, [first]))
        cat.append(make_files_df(spark, [again]))
        appended = [r.asDict() for r in make_files_df(spark, [first, again])
                    .collect()]
        rows = QueryEngine(cat.files()).by_id("dup").collect()
        assert len(rows) == 1
        assert {k: rows[0][k] for k in FILES_SCHEMA.names} in appended
