"""Streaming ingestion tests — behaviors from ingester/tests/test_ingester.py
and test_storage.py: event dispatch, idempotent at-least-once handling,
latest-table conditional-upsert semantics (incl. out-of-order and equal-start
arrivals), report side-output."""

from __future__ import annotations

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from datalake_spark.catalog import Catalog
from datalake_spark.streaming.ingest import StreamingIngester, classify_events


def event(file_id, what="nginx", where="h1", start=1420070400000, end=None,
          name="ObjectCreated:Put", version="2.1", event_time=None, size=10,
          work_id=None):
    return {
        "event_name": name,
        "event_version": version,
        "bucket_name": "bkt",
        "key_name": f"{file_id}/data",
        "event_time": event_time or start + 500,
        "file_id": file_id,
        "size": size,
        "metadata": {
            "version": 0,
            "start": start,
            "end": end,
            "what": what,
            "where": where,
            "id": file_id,
            "hash": "h" + file_id,
            "path": "/var/log/x",
            "work_id": work_id,
        },
    }


def write_events(path, events, name="batch.json"):
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, name), "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")


def run_ingest(spark, root, events, name="b1.json"):
    cat = Catalog(spark, os.path.join(root, "cat"))
    ing = StreamingIngester(spark, cat)
    landing = os.path.join(root, "landing")
    write_events(landing, events, name)
    q = ing.start(landing, os.path.join(root, "ckpt"))
    q.awaitTermination(60)
    return cat, ing


class TestClassify:
    def test_dispatch(self, spark):
        evs = [
            event("a"),
            event("b", name="ObjectCreated:Copy"),
            event("c", name="ObjectCreated:CompleteMultipartUpload"),
            event("d", name="ObjectRemoved:Delete"),
            event("e", name="s3:TestEvent"),
            event("f", version="1.0"),
        ]
        df = spark.createDataFrame(evs)
        got = {
            r["file_id"]: r["disposition"]
            for r in classify_events(df).select("file_id", "disposition").collect()
        }
        assert got["a"] == got["b"] == got["c"] == "ok"
        assert got["d"] == "error_unsupported"
        assert got["e"] == "skip"
        assert got["f"] == "error_version"


class TestIngest:
    def test_end_to_end(self, spark, tmp_path):
        cat, ing = run_ingest(
            spark,
            str(tmp_path),
            [event("a1"), event("a2", where="h2"), event("bad", name="Nope:Event")],
        )
        files = cat.files()
        assert {r["id"] for r in files.collect()} == {"a1", "a2"}
        latest = cat.latest_table()
        assert latest.count() == 2
        reports = ing.reports()
        assert reports.count() == 1
        r = reports.collect()[0]
        assert r["status"] == "error" and r["n_records"] == 2 and r["n_errors"] == 1

    def test_reports_schema_is_pinned(self, spark, tmp_path):
        """A batch appends its report in the schema Spark inferred from the
        report dict, so a reports table written by that inference still
        reads as one schema after the append."""
        cat = Catalog(spark, os.path.join(str(tmp_path), "cat"))
        ing = StreamingIngester(spark, cat)
        spark.createDataFrame([{
            "version": 0, "status": "success", "start": 1, "duration": 0.5,
            "n_records": 3, "n_errors": 0, "epoch_id": 7,
        }]).write.parquet(ing.reports_path)
        landing = os.path.join(str(tmp_path), "landing")
        write_events(landing, [event("a1")])
        ing.start(landing, os.path.join(str(tmp_path), "ckpt")).awaitTermination(60)
        pinned = (
            "struct<duration:double,epoch_id:bigint,n_errors:bigint,"
            "n_records:bigint,start:bigint,status:string,version:bigint>"
        )
        parts = glob.glob(os.path.join(ing.reports_path, "*.parquet"))
        assert len(parts) >= 2
        for part in parts:
            assert spark.read.parquet(part).schema.simpleString() == pinned
        reports = ing.reports()
        assert reports.schema.simpleString() == pinned
        assert sorted((r["epoch_id"], r["n_records"]) for r in reports.collect()) == [
            (0, 1), (7, 3)
        ]

    def test_metrics_ride_the_plan_no_count_jobs(self, spark, tmp_path, monkeypatch):
        """The batch metrics come from observe() aggregates fired by the
        single data pass — DataFrame.count must never run inside a
        micro-batch, and an error-only batch stays within a small job
        budget (no per-metric jobs)."""
        from pyspark.sql import DataFrame

        real_count = DataFrame.count

        def forbidden_count(self):
            raise AssertionError("count() action inside a micro-batch")

        monkeypatch.setattr(DataFrame, "count", forbidden_count)
        try:
            cat, ing = run_ingest(
                spark,
                str(tmp_path),
                [event("a1"), event("a2", where="h2"),
                 event("bad", name="Nope:Event")],
            )
        finally:
            monkeypatch.setattr(DataFrame, "count", real_count)
        # report rows unchanged vs the two-count() implementation
        [r] = ing.reports().collect()
        assert r["status"] == "error" and r["n_records"] == 2 and r["n_errors"] == 1
        assert {x["id"] for x in cat.files().collect()} == {"a1", "a2"}
        assert cat.latest_table().count() == 2

    def test_error_only_batch_job_budget(self, spark, tmp_path):
        """An all-error batch runs the metrics pass + report write only —
        the job group for the epoch stays tiny (the old implementation
        spent dedicated count() jobs here)."""
        cat, ing = run_ingest(
            spark,
            str(tmp_path),
            [event("x", name="Nope:Event"), event("y", version="1.0")],
        )
        [r] = ing.reports().collect()
        assert r["n_records"] == 0 and r["n_errors"] == 2
        tracker = spark.sparkContext.statusTracker()
        jobs = tracker.getJobIdsForGroup(f"{ing.job_group}-epoch-0")
        assert 0 < len(jobs) <= 4

    def test_rate_source_end_to_end(self, spark, tmp_path):
        """The pluggable rate source drives the SAME pipeline body:
        deterministic synthetic events land in the catalog and the latest
        table, no landing dir involved."""
        import os
        import time

        from datalake_spark.streaming.sources import event_stream

        cat = Catalog(spark, os.path.join(str(tmp_path), "cat"))
        ing = StreamingIngester(spark, cat)
        stream = event_stream(spark, source="rate", rows_per_batch=8)
        q = ing.start_stream(
            stream, os.path.join(str(tmp_path), "ckpt"), available_now=False
        )
        try:
            deadline = time.time() + 60
            n = 0
            latest_seen = False
            # wait for BOTH the files append and the latest merge: stop()
            # interrupts the micro-batch thread, so stopping the moment the
            # files rows appear can abort the same epoch's latest write
            # mid-flight (exactly-once would replay it from the checkpoint
            # on restart — but this test never restarts)
            while time.time() < deadline:
                try:
                    n = cat.files().count()
                except Exception:
                    n = 0
                latest_seen = latest_seen or cat.latest_table() is not None
                if n >= 8 and latest_seen:
                    break
                time.sleep(1)
        finally:
            q.stop()
        assert n >= 8 and latest_seen
        rows = cat.files().collect()
        assert all(r["what"] == "rate" for r in rows)
        assert {r["where"] for r in rows} <= {f"host{i}" for i in range(4)}
        # latest table tracked the synthetic hosts
        assert cat.latest_table().count() <= 4

    def test_rate_events_conform_to_schema(self, spark):
        from datalake_spark.schema import INGEST_EVENT_SCHEMA
        from datalake_spark.streaming.sources import event_stream

        stream = event_stream(spark, source="rate")
        assert [f.name for f in stream.schema.fields] == [
            f.name for f in INGEST_EVENT_SCHEMA.fields
        ]
        # same field names and types (nullability of synthesized literals
        # legitimately differs from the declared reader schema)
        got = [(f.name, f.dataType.simpleString())
               for f in stream.schema["metadata"].dataType.fields]
        want = [(f.name, f.dataType.simpleString())
                for f in INGEST_EVENT_SCHEMA["metadata"].dataType.fields]
        assert got == want

    def test_kafka_envelope_matches_landing_dir_parse(self, spark, tmp_path):
        """The kafka value-envelope projection over a static DataFrame must
        equal the landing-dir JSON read of the same bytes — pins the
        from_json contract without the connector jar."""
        from datalake_spark.streaming.sources import parse_event_envelope

        events = [
            event("k1"),
            event("k2", what="syslog", where="h9", end=1420070500000),
            event("k3", name="ObjectCreated:Copy", size=0),
        ]
        # kafka-shaped frame: binary value column, one JSON event per row
        kafka_like = spark.createDataFrame(
            [(json.dumps(e).encode(),) for e in events], "value binary"
        )
        parsed = parse_event_envelope(kafka_like)
        landing = str(tmp_path / "landing")
        write_events(landing, events, "b.json")
        from datalake_spark.schema import INGEST_EVENT_SCHEMA
        ref = spark.read.schema(INGEST_EVENT_SCHEMA).json(landing)
        assert parsed.schema == ref.schema
        key = lambda r: r["file_id"]
        assert sorted(parsed.collect(), key=key) == sorted(ref.collect(), key=key)

    def test_kafka_envelope_malformed_value_yields_nulls(self, spark):
        from datalake_spark.streaming.sources import parse_event_envelope

        bad = spark.createDataFrame([(b"{not json",), (b"",)], "value binary")
        rows = parse_event_envelope(bad).collect()
        assert len(rows) == 2
        assert all(r["file_id"] is None for r in rows)

    def test_unknown_source_and_missing_args(self, spark):
        from datalake_spark.streaming.sources import event_stream

        with pytest.raises(ValueError, match="unknown event source"):
            event_stream(spark, source="carrier-pigeon")
        with pytest.raises(ValueError, match="landing_dir"):
            event_stream(spark, source="files")
        with pytest.raises(ValueError, match="kafka_bootstrap"):
            event_stream(spark, source="kafka")

    def test_duplicate_delivery_idempotent(self, spark, tmp_path):
        # at-least-once: same file_id delivered twice in a batch -> one row
        cat, _ = run_ingest(spark, str(tmp_path), [event("dup"), event("dup")])
        assert cat.files().count() == 1

    def test_latest_upsert_out_of_order(self, spark, tmp_path):
        """Conditional-upsert semantics (storage.py:82): newer start wins;
        an out-of-order older record must NOT displace it; equal start is
        replaced by the later arrival (test_storage.py:117-160)."""
        root = str(tmp_path)
        cat = Catalog(spark, os.path.join(root, "cat"))
        ing = StreamingIngester(spark, cat)
        landing = os.path.join(root, "landing")
        ckpt = os.path.join(root, "ckpt")
        t0 = 1420070400000
        write_events(landing, [event("new", start=t0 + 5000, event_time=t0 + 5100)], "b1.json")
        q = ing.start(landing, ckpt)
        q.awaitTermination(60)
        # out-of-order older record arrives later
        write_events(landing, [event("old", start=t0, event_time=t0 + 9000)], "b2.json")
        q = ing.start(landing, ckpt)
        q.awaitTermination(60)
        latest = {r["what_where_key"]: r["id"] for r in cat.latest_table().collect()}
        assert latest["nginx:h1"] == "new"
        # equal-start, later create_time replaces (ties replace)
        write_events(
            landing,
            [event("tie", start=t0 + 5000, event_time=t0 + 6000)],
            "b3.json",
        )
        q = ing.start(landing, ckpt)
        q.awaitTermination(60)
        latest = {r["what_where_key"]: r["id"] for r in cat.latest_table().collect()}
        assert latest["nginx:h1"] == "tie"
        # files table kept every version (3 rows)
        assert cat.files().count() == 3


class TestWatermarkWindows:
    """Watermarked tumbling-window aggregation: append-mode finalize-once and
    late-data drop — the streaming capability the reference's bucket design
    sidesteps (SURVEY §2.2 Streaming)."""

    H = 3600 * 1000
    T0 = 1420070400000  # 2015-01-01T00:00Z

    def _run(self, spark, landing, out, ckpt, events, name):
        from datalake_spark.schema import INGEST_EVENT_SCHEMA
        from datalake_spark.streaming.windows import windowed_event_counts

        write_events(landing, events, name)
        stream = (
            spark.readStream.schema(INGEST_EVENT_SCHEMA)
            .json(landing)
            .select("event_time", F.col("metadata.what").alias("what"))
        )
        agg = windowed_event_counts(stream, time_col="event_time")
        q = (
            agg.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(60)

    def test_late_rows_dropped_windows_finalize_once(self, spark, tmp_path):
        landing = str(tmp_path / "landing")
        out = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        T0, H = self.T0, self.H

        def ev(fid, minutes):
            return event(fid, event_time=T0 + minutes * 60000)

        # batch 1: 00:05 and 02:05 -> watermark advances to 01:35 after commit
        self._run(spark, landing, out, ckpt, [ev("a", 5), ev("b", 125)], "b1.json")
        # batch 2: late 00:10 (< watermark -> dropped) + 03:05; the 00:00
        # window (end 01:00 <= 01:35) finalizes THIS batch with count 1
        self._run(spark, landing, out, ckpt, [ev("late", 10), ev("c", 185)], "b2.json")
        # batch 3: 05:05 advances watermark past 03:00 -> 02:00 window emits
        self._run(spark, landing, out, ckpt, [ev("d", 305)], "b3.json")

        got = {
            (r["w_start_ms"] - T0) // H: r["n_events"]
            for r in spark.read.parquet(out).collect()
        }
        # hour-0 window: only "a" (late row dropped despite belonging here);
        # hour-2 window: only "b"; each window appears exactly once
        assert got[0] == 1
        assert got[2] == 1
        rows = spark.read.parquet(out).collect()
        assert len(rows) == len({r["w_start_ms"] for r in rows})


class TestStatefulProfiles:
    """applyInPandasWithState: per-key running state across micro-batches,
    checkpoint-restored between availableNow runs."""

    def _run(self, spark, landing, out, ckpt, rows, name):
        from datalake_spark.streaming.stateful import running_profiles

        os.makedirs(landing, exist_ok=True)
        with open(os.path.join(landing, name), "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        stream = spark.readStream.schema("key string, value double, ms long").json(landing)
        prof = running_profiles(stream)
        q = (
            prof.writeStream.foreachBatch(
                lambda b, _eid: b.write.mode("append").parquet(out)
            )
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(60)

    def test_state_accumulates_across_batches(self, spark, tmp_path):
        landing = str(tmp_path / "landing")
        out = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        self._run(spark, landing, out, ckpt,
                  [{"key": "a", "value": 1.0, "ms": 10},
                   {"key": "a", "value": 2.0, "ms": 20},
                   {"key": "b", "value": 5.0, "ms": 15}], "b1.json")
        self._run(spark, landing, out, ckpt,
                  [{"key": "a", "value": 4.0, "ms": 30}], "b2.json")
        rows = spark.read.parquet(out).collect()
        # latest profile per key reflects ALL batches (state restored from
        # checkpoint between runs)
        final = {}
        for r in rows:
            if r["key"] not in final or r["last_ms"] > final[r["key"]]["last_ms"]:
                final[r["key"]] = r
        assert final["a"]["n_events"] == 3
        assert final["a"]["sum_value"] == 7.0
        assert final["a"]["last_ms"] == 30
        assert final["b"]["n_events"] == 1 and final["b"]["sum_value"] == 5.0


class TestStatefulSessions:
    """Custom applyInPandasWithState sessionization: closed sessions emitted
    exactly once, the open session re-emitted per batch, state restored from
    the checkpoint across restarts."""

    def _run(self, spark, landing, out, ckpt, rows, name):
        from datalake_spark.streaming.stateful import stateful_sessions

        os.makedirs(landing, exist_ok=True)
        with open(os.path.join(landing, name), "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        stream = spark.readStream.schema(
            "key string, value double, ms long"
        ).json(landing)
        sess = stateful_sessions(stream, gap_ms=5000)
        q = (
            sess.writeStream.foreachBatch(
                lambda b, _eid: b.write.mode("append").parquet(out)
            )
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(60)

    def test_sessions_split_and_survive_restart(self, spark, tmp_path):
        landing = str(tmp_path / "landing")
        out = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        # batch 1: two sessions for 'a' (gap 19s > 5s), second still open
        self._run(spark, landing, out, ckpt,
                  [{"key": "a", "value": 1.0, "ms": 0},
                   {"key": "a", "value": 2.0, "ms": 1000},
                   {"key": "a", "value": 3.0, "ms": 20000},
                   {"key": "b", "value": 9.0, "ms": 500}], "b1.json")
        # batch 2 (fresh query, state from checkpoint): extends a's open
        # session, then a far event closes it and opens another
        self._run(spark, landing, out, ckpt,
                  [{"key": "a", "value": 4.0, "ms": 22000},
                   {"key": "a", "value": 5.0, "ms": 40000}], "b2.json")
        rows = spark.read.parquet(out).collect()
        closed = sorted(
            (r.key, r.session_start_ms, r.session_end_ms, r.n_events, r.sum_value)
            for r in rows if r.closed
        )
        assert closed == [
            ("a", 0, 1000, 2, 3.0),        # closed within batch 1
            ("a", 20000, 22000, 2, 7.0),   # closed in batch 2, spans batches
        ]
        # exactly one open-session row per batch per active key
        open_a = [r for r in rows if r.key == "a" and not r.closed]
        assert sorted((r.session_start_ms, r.session_end_ms) for r in open_a) == [
            (20000, 20000),  # after batch 1
            (40000, 40000),  # after batch 2
        ]
        open_b = [r for r in rows if r.key == "b" and not r.closed]
        assert [(r.session_start_ms, r.n_events) for r in open_b] == [(500, 1)]


class TestStreamingDedup:
    """Streaming dedup: exact within a run, watermark-bounded state, late
    duplicates passed through to the batch-side cleanup."""

    def _drive(self, spark, landing, out, ckpt, batches):
        from datalake_spark.streaming.dedup import dedup_stream_within_watermark

        os.makedirs(landing, exist_ok=True)
        for name, rows in batches:
            with open(os.path.join(landing, name), "w") as f:
                for r in rows:
                    f.write(json.dumps(r) + "\n")
            stream = spark.readStream.schema(
                "doc_id long, hash string, ms long"
            ).json(landing)
            deduped = dedup_stream_within_watermark(stream, watermark="10 seconds")
            q = (
                deduped.writeStream.foreachBatch(
                    lambda b, _eid: b.write.mode("append").parquet(out)
                )
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(60)

    def test_within_batch_and_cross_batch_dedup(self, spark, tmp_path):
        landing, out, ckpt = (str(tmp_path / d) for d in ("l", "o", "c"))
        self._drive(
            spark, landing, out, ckpt,
            [
                ("b1.json", [
                    {"doc_id": 1, "hash": "h1", "ms": 1_000},
                    {"doc_id": 2, "hash": "h1", "ms": 2_000},   # dup within batch
                    {"doc_id": 3, "hash": "h2", "ms": 3_000},
                ]),
                ("b2.json", [
                    {"doc_id": 4, "hash": "h2", "ms": 4_000},   # dup within horizon
                    {"doc_id": 5, "hash": "h3", "ms": 5_000},
                ]),
            ],
        )
        hashes = sorted(r.hash for r in spark.read.parquet(out).collect())
        assert hashes == ["h1", "h2", "h3"]

    def test_state_expires_after_watermark(self, spark, tmp_path):
        """A duplicate arriving far beyond the watermark horizon passes
        through (state expired) — the documented batch-cleanup contract."""
        landing, out, ckpt = (str(tmp_path / d) for d in ("l", "o", "c"))
        self._drive(
            spark, landing, out, ckpt,
            [
                ("b1.json", [{"doc_id": 1, "hash": "h1", "ms": 1_000}]),
                # advance watermark far past h1's horizon, then repeat h1
                ("b2.json", [{"doc_id": 2, "hash": "hx", "ms": 10_000_000}]),
                ("b3.json", [{"doc_id": 3, "hash": "h1", "ms": 10_050_000}]),
            ],
        )
        h1_rows = [r for r in spark.read.parquet(out).collect() if r.hash == "h1"]
        assert len(h1_rows) == 2  # original + late duplicate passed through

    def test_terminal_batch_cleanup(self, spark, tmp_path):
        """The funnel's second stage: batch exact_dedup collapses what the
        streaming horizon let through."""
        from datalake_spark.operators.dedup import exact_dedup

        df = spark.createDataFrame(
            [(1, "same text"), (3, "same text"), (5, "other")],
            "doc_id long, text string",
        )
        kept = sorted(r.doc_id for r in exact_dedup(df).collect())
        assert kept == [1, 5]


class TestStreamJoins:
    """Watermarked stream-stream join (impression×click attribution shape)
    and stream-static dimension enrichment (streaming/joins.py)."""

    T0 = 1420070400000

    def _start(self, spark, l_dir, r_dir, out, ckpt, how="inner"):
        from datalake_spark.schema import INGEST_EVENT_SCHEMA
        from datalake_spark.streaming.joins import stream_stream_join

        def src(d, idcol):
            return (
                spark.readStream.schema(INGEST_EVENT_SCHEMA)
                .json(d)
                .select(
                    "event_time",
                    F.col("metadata.what").alias("what"),
                    F.col("metadata.id").alias(idcol),
                )
            )

        joined = stream_stream_join(
            src(l_dir, "imp_id"), src(r_dir, "click_id"),
            key="what", watermark="30 minutes", band="15 minutes", how=how,
        ).select("_lkey", "imp_id", "click_id")
        q = (
            joined.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(90)

    def test_band_join_matches_and_excludes(self, spark, tmp_path):
        l_dir, r_dir = str(tmp_path / "imp"), str(tmp_path / "clk")
        out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
        T0 = self.T0
        m = 60000
        # impressions at 00:00 (nginx, syslog); clicks at +10m (inside the
        # 15m band), +20m (outside), and a key with no impression
        write_events(l_dir, [
            event("i1", what="nginx", event_time=T0),
            event("i2", what="syslog", event_time=T0),
        ], "l.json")
        write_events(r_dir, [
            event("c1", what="nginx", event_time=T0 + 10 * m),
            event("c2", what="syslog", event_time=T0 + 20 * m),
            event("c3", what="app", event_time=T0 + 5 * m),
        ], "r.json")
        self._start(spark, l_dir, r_dir, out, ckpt)
        got = {(r["imp_id"], r["click_id"])
               for r in spark.read.parquet(out).collect()}
        assert got == {("i1", "c1")}  # only the in-band same-key pair

    def test_stream_static_enrich_broadcasts(self, spark, tmp_path):
        from datalake_spark.schema import INGEST_EVENT_SCHEMA
        from datalake_spark.streaming.joins import stream_static_enrich

        landing = str(tmp_path / "landing")
        out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
        write_events(landing, [event("a", what="nginx"),
                               event("b", what="unknown")], "b.json")
        dim = spark.createDataFrame(
            [("nginx", "web")], ["what", "category"])
        stream = (
            spark.readStream.schema(INGEST_EVENT_SCHEMA)
            .json(landing)
            .select(F.col("metadata.what").alias("what"),
                    F.col("metadata.id").alias("fid"))
        )
        q = (
            stream_static_enrich(stream, dim)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(60)
        got = {r["fid"]: r["category"]
               for r in spark.read.parquet(out).collect()}
        assert got == {"a": "web", "b": None}  # left join keeps unmatched

    def test_band_join_suffixes_colliding_payload(self, spark):
        """Both sides carrying a same-named payload column ('uid') must not
        produce duplicate output columns; the right side gets _right (the
        unified API lets the batch frames exercise the select logic)."""
        from datalake_spark.streaming.joins import stream_stream_join

        left = spark.createDataFrame(
            [("nginx", 1000, "lu")], ["what", "event_time", "uid"])
        right = spark.createDataFrame(
            [("nginx", 2000, "ru")], ["what", "event_time", "uid"])
        out = stream_stream_join(left, right, key="what", band="15 minutes")
        assert out.columns.count("uid") == 1
        row = out.collect()[0]
        assert row["uid"] == "lu" and row["uid_right"] == "ru"


class TestStreamingWorkIdIndex:
    def test_batches_maintain_existing_index(self, spark, tmp_path):
        """Once the work-id index exists, every micro-batch extends it; the
        pruned lookup then sees streamed rows without a rebuild."""
        import os as _os

        from datalake_spark.query import QueryEngine

        root = str(tmp_path)
        cat = Catalog(spark, _os.path.join(root, "cat"))
        # seed the catalog + index with one batch
        cat, ing = run_ingest(
            spark, root, [event("a1", work_id="jobx")], name="b1.json"
        )
        cat.build_work_id_index(num_buckets=4)
        # second micro-batch through the SAME ingester pipeline
        landing = _os.path.join(root, "landing")
        write_events(landing, [event("a2", work_id="joby")], "b2.json")
        q = ing.start(landing, _os.path.join(root, "ckpt"))
        q.awaitTermination(60)
        eng = QueryEngine(cat.files(), work_id_index=cat.work_id_index())
        assert [r["id"] for r in eng.by_work_id("joby", "nginx").collect()] == ["a2"]
        assert [r["id"] for r in eng.by_work_id("jobx", "nginx").collect()] == ["a1"]

    def test_no_index_no_failure(self, spark, tmp_path):
        cat, ing = run_ingest(
            spark, str(tmp_path), [event("z1", work_id="jobz")]
        )
        assert cat.work_id_index() is None
        assert {r["id"] for r in cat.files().collect()} == {"z1"}
