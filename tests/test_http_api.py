"""HTTP shim parity suite — the reference's dual-backend pattern
(api/tests/test_archive_querier.py:129-157): every query is asked through
the in-process QueryEngine AND through the HTTP hop, and the answers must
match.  Error contract pinned per api/tests/test_bad_queries.py and
v0.py:135-184."""

from __future__ import annotations

import json
import threading
import urllib.error
import urllib.request

import pytest

from datalake_spark.catalog import Catalog
from datalake_spark.http_api import DatalakeHttpApp, HttpQuerier, serve
from datalake_spark.metadata import DAY_MS
from datalake_spark.query import QueryEngine
from tests.conftest import count_jobs
from tests.test_query_engine import T0, make_files_df

ROWS = [
    {"id": "a", "what": "nginx", "where": "h1", "start": T0 + 1000,
     "end": T0 + 2000},
    {"id": "b", "what": "nginx", "where": "h1", "start": T0,
     "end": T0 + 2 * DAY_MS + 1},
    {"id": "c", "what": "nginx", "where": "h2", "start": T0 + 5000,
     "end": None},
    {"id": "d", "what": "syslog", "where": "h1", "start": T0 + 1000,
     "end": T0 + 2000},
    {"id": "e", "what": "nginx", "where": "h1", "start": T0 + 10,
     "end": T0 + 20, "work_id": "job1"},
    {"id": "f", "what": "nginx", "where": "h3", "start": T0 + 30,
     "end": T0 + 40, "work_id": "job1"},
]


@pytest.fixture(scope="module")
def store_root(tmp_path_factory):
    root = tmp_path_factory.mktemp("store")
    # content for one file so the data route has something to serve — the
    # {id}/data + {id}/metadata sidecar layout Archive.store always writes
    (root / "a").mkdir()
    (root / "a" / "data").write_bytes(b"hello nginx\n")
    (root / "a" / "metadata").write_text(json.dumps(
        {"id": "a", "what": "nginx", "where": "h1", "path": "/var/log/x",
         "start": T0 + 1000, "end": T0 + 2000, "version": 0, "hash": "h0",
         "work_id": None}))
    return root


@pytest.fixture(scope="module")
def engine(spark, store_root):
    rows = [dict(r, url=f"file://{store_root}/{r['id']}/data")
            for r in ROWS]
    return QueryEngine(make_files_df(spark, rows))


@pytest.fixture(scope="module")
def server(engine, store_root):
    from datalake_spark.archive import Archive

    archive = Archive(f"file://{store_root}")
    app = DatalakeHttpApp(engine, archive=archive,
                          storage_url=f"file://{store_root}", page_size=2)
    srv = serve(app, port=0)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


def _get_json(url, expect=200):
    try:
        with urllib.request.urlopen(url) as resp:
            assert resp.status == expect
            return json.loads(resp.read())
    except urllib.error.HTTPError as e:
        assert e.code == expect, (e.code, e.read())
        return json.loads(e.read())


# -- dual-backend parity ----------------------------------------------------


class TestDualBackendParity:
    """Each case computes the expected answer via the ENGINE and asserts the
    HTTP adapter returns the same id set (and field values)."""

    def test_by_time(self, engine, server):
        want = {r["id"] for r in
                engine.by_time("nginx", T0, T0 + 3000).collect()}
        got = HttpQuerier(server).query_by_time("nginx", T0, T0 + 3000)
        assert {r["metadata"]["id"] for r in got} == want
        # page_size=2 forces the cursor loop: >2 records proves next-links
        assert len(got) == len(want) >= 3

    def test_by_time_where(self, engine, server):
        want = {r["id"] for r in
                engine.by_time("nginx", T0, T0 + 9000, where="h2").collect()}
        got = HttpQuerier(server).query_by_time(
            "nginx", T0, T0 + 9000, where="h2")
        assert {r["metadata"]["id"] for r in got} == want == {"c"}

    def test_by_work_id(self, engine, server):
        want = {r["id"] for r in
                engine.by_work_id("job1", "nginx").collect()}
        got = HttpQuerier(server).query_by_work_id("job1", "nginx")
        assert {r["metadata"]["id"] for r in got} == want == {"e", "f"}

    def test_latest(self, engine, server):
        eng = engine.latest(
            "nginx", "h1", lookback_days=999999).collect()
        got = HttpQuerier(server).query_latest(
            "nginx", "h1", lookback=999999)
        assert got is not None
        assert got["metadata"]["id"] == eng[0]["id"]

    def test_latest_missing_is_none(self, server):
        assert HttpQuerier(server).query_latest(
            "nginx", "nowhere", lookback=999999) is None

    def test_record_shape(self, server):
        got = HttpQuerier(server).query_by_time("nginx", T0, T0 + 1500)
        rec = next(r for r in got if r["metadata"]["id"] == "a")
        assert rec["url"].endswith("/a/data")
        assert rec["http_url"].endswith("/v0/archive/files/a/data")
        assert rec["size"] == 100
        m = rec["metadata"]
        assert m["start_iso"] == "2015-01-01T00:00:01.000Z"
        assert m["end_iso"] == "2015-01-01T00:00:02.000Z"
        assert m["version"] == 0 and m["hash"]
        # instant file: null end -> null end_iso
        c = next(r for r in HttpQuerier(server).query_by_time(
            "nginx", T0 + 5000, T0 + 5001) if r["metadata"]["id"] == "c")
        assert c["metadata"]["end"] is None
        assert c["metadata"]["end_iso"] is None


# -- routes + error contract ------------------------------------------------


class TestRoutes:
    def test_health(self, server):
        assert _get_json(f"{server}/health/") == {}

    def test_archive_status(self, server):
        assert _get_json(f"{server}/v0/archive/")["storage_url"].startswith(
            "file://")

    def test_spec_and_docs(self, server):
        spec = _get_json(f"{server}/spec/")
        assert spec["info"]["title"] == "Datalake API"
        assert "/v0/archive/files/" in spec["paths"]
        assert "/v0/archive/files/" in _get_json(f"{server}/docs/")[
            "endpoints"]

    def test_docs_serves_html_to_browsers(self, server):
        """The reference ships a static Swagger UI at /docs/
        (api/datalake_api/static/index.html); this app content-negotiates:
        browsers (Accept: text/html) get the self-contained explorer
        page, API clients keep the JSON endpoint listing."""
        req = urllib.request.Request(
            f"{server}/docs/", headers={"Accept": "text/html"}
        )
        with urllib.request.urlopen(req) as resp:
            assert resp.headers["Content-Type"].startswith("text/html")
            body = resp.read().decode()
        assert "<title>Datalake API</title>" in body and "/spec/" in body

    def test_file_data_and_metadata(self, server):
        with urllib.request.urlopen(
                f"{server}/v0/archive/files/a/data") as resp:
            assert resp.read() == b"hello nginx\n"
        m = _get_json(f"{server}/v0/archive/files/a/metadata")
        assert m["id"] == "a" and m["what"] == "nginx"

    def test_file_404(self, server):
        body = _get_json(f"{server}/v0/archive/files/zzz/metadata",
                         expect=404)
        assert body["code"] == "NoSuchFile"

    @pytest.mark.parametrize("qs,code", [
        ("", "NoArgs"),
        ("where=h1", "NoWhat"),
        ("what=nginx", "NoWorkInterval"),
        ("what=nginx&start=1", "NoWorkInterval"),
        ("what=nginx&work_id=j&start=1&end=2", "InvalidWorkInterval"),
        ("what=nginx&start=2&end=1", "InvalidWorkInterval"),
        ("what=nginx&start=bogus&end=2", "InvalidTime"),
        ("what=nginx&start=1&end=2&cursor=!!!", "InvalidCursor"),
    ])
    def test_files_error_contract(self, server, qs, code):
        body = _get_json(f"{server}/v0/archive/files/?{qs}", expect=400)
        assert body["code"] == code
        assert body["message"]

    def test_invalid_lookback(self, server):
        body = _get_json(
            f"{server}/v0/archive/latest/nginx/h1?lookback=soon",
            expect=400)
        assert body["code"] == "InvalidLookback"

    def test_latest_404_message(self, server):
        body = _get_json(
            f"{server}/v0/archive/latest/nginx/nowhere?lookback=3",
            expect=404)
        assert body["code"] == "NoSuchFile"
        assert body["message"] == \
            'No "nginx" files found in last 3 days from "nowhere"'

    def test_latest_data_route(self, engine, server):
        # 'a' is newest for (nginx, h1) only within its window; serve the
        # content of whatever latest resolves to, if it has content
        got = HttpQuerier(server).query_latest(
            "nginx", "h1", lookback=999999)
        if got["metadata"]["id"] == "a":
            with urllib.request.urlopen(
                    f"{server}/v0/archive/latest/nginx/h1/data"
                    "?lookback=999999") as resp:
                assert resp.read() == b"hello nginx\n"

    def test_environment_route(self, server, tmp_path):
        """/v0/environment/ — the reference's build-version endpoint
        (api/datalake_api/v0.py:654-686): {data: {build: {version}}},
        reading the deployment's version file when present and falling
        back to a version string otherwise."""
        body = _get_json(f"{server}/v0/environment/")
        assert set(body) == {"data"}
        assert set(body["data"]) == {"build"}
        assert isinstance(body["data"]["build"]["version"], str)
        assert body["data"]["build"]["version"]  # non-empty fallback
        assert "/v0/environment/" in _get_json(f"{server}/docs/")[
            "endpoints"]

    def test_environment_reads_version_file(self, engine, tmp_path):
        """With a deployment-written version file the route serves its
        stripped contents, byte-for-byte the reference's behavior."""
        from datalake_spark.http_api import DatalakeHttpApp

        app = DatalakeHttpApp(engine)
        vf = tmp_path / "version.txt"
        vf.write_text("abc123def\n")
        app.version_file = str(vf)
        assert app._build_version() == "abc123def"
        app.version_file = str(tmp_path / "missing.txt")
        assert app._build_version().startswith("datalake-spark/")

    def test_root_redirects_to_docs(self, server):
        import urllib.request

        class NoRedirect(urllib.request.HTTPRedirectHandler):
            def redirect_request(self, *a, **k):
                return None

        opener = urllib.request.build_opener(NoRedirect)
        try:
            opener.open(f"{server}/")
            raise AssertionError("expected 302")
        except urllib.error.HTTPError as e:
            assert e.code == 302
            assert e.headers["Location"] == "/docs/"

    def test_pagination_cursor_roundtrip(self, server):
        # page_size=2 and 4+ nginx time rows: first page carries next
        page1 = _get_json(
            f"{server}/v0/archive/files/?what=nginx&start={T0}"
            f"&end={T0 + 9000}")
        assert len(page1["records"]) == 2 and page1["next"]
        page2 = _get_json(page1["next"])
        ids1 = {r["metadata"]["id"] for r in page1["records"]}
        ids2 = {r["metadata"]["id"] for r in page2["records"]}
        assert not ids1 & ids2  # no duplicates across pages


class TestRequestMonitor:
    """Per-request tracing hook — the reference's monitor_performance
    Sentry instrumentation (api/datalake_api/sentry.py:39-54) as a
    bounded in-process recorder on the WSGI app."""

    @staticmethod
    def _call(app, path, qs=""):
        environ = {"REQUEST_METHOD": "GET", "PATH_INFO": path,
                   "QUERY_STRING": qs, "wsgi.url_scheme": "http",
                   "HTTP_HOST": "test"}
        seen = {}
        body = app(environ, lambda status, headers: seen.update(s=status))
        return seen["s"], b"".join(body)

    def test_timed_record_per_request(self, engine):
        app = DatalakeHttpApp(engine)
        assert self._call(app, "/health/")[0] == "200 OK"
        assert self._call(app, "/health/")[0] == "200 OK"
        # a 400 (no args) and a 404 carry their error codes
        assert self._call(app, "/v0/archive/files/")[0].startswith("400")
        assert self._call(app, "/nope")[0].startswith("404")
        recs = list(app.monitor.records)
        assert len(recs) == 4
        assert all(r["ms"] >= 0 for r in recs)
        agg = {(r["route"], r["status"]): r for r in app.monitor.snapshot()}
        assert agg[("/health/", 200)]["n"] == 2
        assert agg[("/health/", 200)]["n_err"] == 0
        assert agg[("/v0/archive/files/", 400)]["n_err"] == 1
        assert agg[("/nope", 404)]["n_err"] == 1
        assert agg[("/health/", 200)]["max_ms"] >= agg[("/health/", 200)]["mean_ms"] / 2

    def test_route_labels_collapse_ids(self, engine):
        app = DatalakeHttpApp(engine)
        self._call(app, "/v0/archive/files/zzz/metadata")
        self._call(app, "/v0/archive/files/yyy/metadata")
        routes = {r["route"] for r in app.monitor.records}
        assert routes == {"/v0/archive/files/<id>/metadata"}

    def test_flush_parquet(self, spark, engine, tmp_path):
        app = DatalakeHttpApp(engine)
        self._call(app, "/health/")
        self._call(app, "/v0/archive/")
        path = str(tmp_path / "http_reports")
        assert app.monitor.flush_parquet(spark, path) == 2
        assert app.monitor.flush_parquet(spark, path) == 0  # buffer drained
        back = spark.read.parquet(path)
        assert back.count() == 2
        assert {r["route"] for r in back.collect()} == {"/health/", "/v0/archive/"}


class TestMetricsEndpoint:
    def test_metrics_reports_latency_aggregates(self, engine):
        app = DatalakeHttpApp(engine)
        call = TestRequestMonitor._call
        call(app, "/health/")
        call(app, "/health/")
        status, body = call(app, "/metrics/")
        assert status == "200 OK"
        routes = {
            (r["route"], r["status"]): r
            for r in json.loads(body)["routes"]
        }
        h = routes[("/health/", 200)]
        assert h["n"] == 2 and h["mean_ms"] >= 0 and h["n_err"] == 0


class TestFileLookup:
    """The file routes over a catalog: one job for a lookup, one answer
    for an id delivered twice."""

    def test_metadata_route_runs_one_job_on_one_split(self, spark, tmp_path):
        cat = Catalog(spark, str(tmp_path))
        # one (what, bucket_date) partition, one append: one data file
        cat.append(make_files_df(spark, [
            {"id": f"f{i}", "what": "nginx", "where": "h1",
             "start": T0 + i, "end": None}
            for i in range(5)
        ]))
        app = DatalakeHttpApp(QueryEngine(cat.files()))
        (status, body), n = count_jobs(spark, lambda: TestRequestMonitor._call(
            app, "/v0/archive/files/f3/metadata"))
        assert status == "200 OK" and json.loads(body)["id"] == "f3"
        assert n == 1, n

    def test_duplicate_id_metadata_is_200(self, spark, tmp_path):
        cat = Catalog(spark, str(tmp_path))
        first = {"id": "dup", "what": "nginx", "where": "h1", "start": T0,
                 "end": None, "create_time": T0 + 1}
        cat.append(make_files_df(spark, [first]))
        cat.append(make_files_df(spark, [dict(first, create_time=T0 + 2)]))
        app = DatalakeHttpApp(QueryEngine(cat.files()))
        status, body = TestRequestMonitor._call(
            app, "/v0/archive/files/dup/metadata")
        assert status == "200 OK" and json.loads(body)["id"] == "dup"
        status, body = TestRequestMonitor._call(
            app, "/v0/archive/files/nope/metadata")
        assert status.startswith("404")
        assert json.loads(body)["code"] == "NoSuchFile"
