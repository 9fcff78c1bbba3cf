"""HTTP query shim: the reference's Flask API surface re-served over the
Spark QueryEngine, stdlib-only (WSGI callable + ``wsgiref`` runner).

Route-for-route parity with the reference API (api/datalake_api/app.py:51-72,
v0.py:110-132,198-402,436-525,543-640):

    GET /                                       302 -> /docs/
    GET /docs/                                  endpoint index (JSON here;
                                                the reference serves swagger
                                                static assets)
    GET /spec/                                  minimal swagger JSON
    GET /health/                                {}
    GET /v0/archive/                            {"storage_url": ...}
    GET /v0/archive/files/?what=&where=&work_id=&start=&end=&cursor=
    GET /v0/archive/files/<id>/data
    GET /v0/archive/files/<id>/metadata
    GET /v0/archive/latest/<what>/<where>[?lookback=N]
    GET /v0/archive/latest/<what>/<where>/data

Error contract (v0.py:135-139 handle_4xx_status): every 4xx body is
``{"code": <ErrorCode>, "message": <human text>}`` with the reference's
codes — NoArgs, NoWhat, NoWorkInterval, InvalidWorkInterval, InvalidTime,
InvalidCursor, InvalidLookback, NoSuchFile — raised by the shared
validate_query_params / cursor machinery, so the CLI, Python API, and HTTP
hop cannot drift apart.

Pagination is the engine's opaque keyset cursor (O6): `next` is the same
URL with the `cursor` query param swapped, `null` when exhausted — the
reference's next-token loop (v0.py:385-402).

Scale notes: the WSGI layer only ever drives bounded driver-side work — a
page collect (<=100 rows), a 0-or-1-row latest probe, a point lookup, or a
streamed content fetch; every filter stays a pushed-down Spark plan.  One
SparkSession serves all requests (wsgiref is single-threaded; put a real
WSGI server in front for concurrency — the app object is stateless).
"""

from __future__ import annotations

import json
import threading
import time
from collections import deque
from datetime import datetime, timezone
from typing import Iterable
from urllib.parse import parse_qs, quote, urlencode

from pyspark.sql import types as T

from datalake_spark.archive import InvalidDatalakePath
from datalake_spark.query import (
    DEFAULT_LOOKBACK_DAYS,
    InvalidQuery,
    MAX_RESULTS,
    QueryEngine,
)
from datalake_spark.session import local_frame

_METADATA_FIELDS = (
    "version", "start", "end", "what", "where", "id", "hash", "path",
    "work_id",
)


def unix_ms_to_utc_iso(unix_ms):
    """Millisecond-precision UTC ISO string, Z-suffixed (v0.py:35-44)."""
    if unix_ms is None:
        return None
    return (
        datetime.fromtimestamp(unix_ms / 1000.0, tz=timezone.utc)
        .isoformat(timespec="milliseconds")
        .replace("+00:00", "Z")
    )


def _record(row, base_url: str) -> dict:
    """files-table Row -> DatalakeRecord response dict (v0.py:265-379):
    url/http_url/create_time/size at top level, the metadata nested with
    start_iso/end_iso enrichment (v0.py:47-63)."""
    d = row.asDict() if hasattr(row, "asDict") else dict(row)
    meta = {k: d.get(k) for k in _METADATA_FIELDS}
    meta["start_iso"] = unix_ms_to_utc_iso(meta["start"])
    meta["end_iso"] = unix_ms_to_utc_iso(meta["end"])
    fid = quote(str(meta["id"]), safe="")
    return {
        "url": d.get("url"),
        "http_url": f"{base_url}/v0/archive/files/{fid}/data",
        "create_time": d.get("create_time"),
        "size": d.get("size"),
        "metadata": meta,
    }


def _route_label(path: str) -> str:
    """Collapse path params so latency aggregates group by ROUTE, not by
    id (the cardinality-bounding Sentry does with route transactions)."""
    parts = [p for p in path.split("/") if p]
    if (
        len(parts) == 5
        and parts[:3] == ["v0", "archive", "files"]
        and parts[4] in ("data", "metadata")
    ):
        return f"/v0/archive/files/<id>/{parts[4]}"
    if len(parts) in (5, 6) and parts[:3] == ["v0", "archive", "latest"]:
        tail = "/data" if len(parts) == 6 else ""
        return f"/v0/archive/latest/<what>/<where>{tail}"
    return path or "/"


class _HttpError(Exception):
    def __init__(self, status: int, code: str, message: str) -> None:
        super().__init__(message)
        self.status, self.code, self.message = status, code, message


# one row per traced request, as RequestMonitor.flush_parquet appends it
_MONITOR_SCHEMA = T.StructType([
    T.StructField("route", T.StringType()),
    T.StructField("status", T.IntegerType()),
    T.StructField("ms", T.DoubleType()),
    T.StructField("code", T.StringType()),
    T.StructField("ts_ms", T.LongType()),
])


class RequestMonitor:
    """Per-request tracing — the reference instruments every API route
    with Sentry transactions (api/datalake_api/sentry.py:39-54
    ``monitor_performance``); this is the self-contained analog: every
    request records (route pattern, status, latency ms, error code) into
    a bounded ring buffer plus per-(route, status) running aggregates.

    Memory is bounded (``keep_last`` raw records + one aggregate row per
    route×status), so it is safe under unbounded request volume; call
    :meth:`flush_parquet` from an operator loop to persist the buffered
    records to a reports table (one append per flush — never one Spark
    write per request).  Thread-safe: a real WSGI server in front of the
    app may drive it concurrently."""

    def __init__(self, keep_last: int = 1000) -> None:
        self._lock = threading.Lock()
        self.records: deque = deque(maxlen=keep_last)
        self.by_route: dict[tuple[str, int], dict] = {}

    def record(
        self, route: str, status: int, ms: float, code: str | None = None
    ) -> None:
        with self._lock:
            self.records.append(
                {"route": route, "status": status, "ms": ms, "code": code,
                 "ts_ms": int(time.time() * 1000)}
            )
            agg = self.by_route.setdefault(
                (route, status),
                {"n": 0, "sum_ms": 0.0, "max_ms": 0.0, "n_err": 0},
            )
            agg["n"] += 1
            agg["sum_ms"] += ms
            agg["max_ms"] = max(agg["max_ms"], ms)
            agg["n_err"] += 1 if code is not None else 0

    def snapshot(self) -> list[dict]:
        """Aggregate view: one row per (route, status) with count, mean
        and max latency, and error count."""
        with self._lock:
            return [
                {
                    "route": route, "status": status, "n": a["n"],
                    "mean_ms": a["sum_ms"] / a["n"], "max_ms": a["max_ms"],
                    "n_err": a["n_err"],
                }
                for (route, status), a in sorted(self.by_route.items())
            ]

    def flush_parquet(self, spark, path: str) -> int:
        """Append the buffered raw records to a parquet reports table and
        clear the buffer; returns rows written."""
        with self._lock:
            rows = list(self.records)
            self.records.clear()
        if not rows:
            return 0
        df = local_frame(spark, rows, _MONITOR_SCHEMA)
        df.coalesce(1).write.mode("append").parquet(path)
        return len(rows)


class DatalakeHttpApp:
    """WSGI callable over a QueryEngine (+ optional Archive for content)."""

    def __init__(
        self,
        engine: QueryEngine,
        archive=None,
        storage_url: str | None = None,
        page_size: int = MAX_RESULTS,
    ) -> None:
        self.engine = engine
        self.archive = archive
        self.storage_url = storage_url or (
            getattr(archive, "storage_url", None)
        )
        self.page_size = page_size
        # per-request tracing (sentry.py:39-54 monitor_performance analog)
        self.monitor = RequestMonitor()

    # -- WSGI ---------------------------------------------------------------

    def __call__(self, environ, start_response) -> Iterable[bytes]:
        t0 = time.perf_counter()
        err_code = None
        try:
            status, headers, body = self._route(environ)
        except _HttpError as e:
            status, err_code = e.status, e.code
            body = json.dumps({"code": e.code, "message": e.message}).encode()
            headers = [("Content-Type", "application/json")]
        except InvalidQuery as e:
            status, err_code = 400, e.code
            body = json.dumps({"code": e.code, "message": str(e)}).encode()
            headers = [("Content-Type", "application/json")]
        except InvalidDatalakePath as e:
            # NoSuchDatalakeFile and its parent: the reference 404s both
            # shapes as NoSuchFile (v0.py:436-441)
            status, err_code = 404, "NoSuchFile"
            body = json.dumps({"code": "NoSuchFile", "message": str(e)}).encode()
            headers = [("Content-Type", "application/json")]
        self.monitor.record(
            _route_label(environ.get("PATH_INFO", "/")),
            status,
            (time.perf_counter() - t0) * 1000.0,
            err_code,
        )
        phrase = {200: "OK", 302: "Found", 400: "Bad Request",
                  404: "Not Found", 405: "Method Not Allowed"}[status]
        headers = list(headers) + [("Content-Length", str(len(body)))]
        start_response(f"{status} {phrase}", headers)
        return [body]

    # -- routing ------------------------------------------------------------

    def _route(self, environ) -> tuple[int, list, bytes]:
        if environ.get("REQUEST_METHOD", "GET") != "GET":
            raise _HttpError(405, "MethodNotAllowed", "GET only")
        path = environ.get("PATH_INFO", "/")
        qs = {
            k: v[-1]
            for k, v in parse_qs(environ.get("QUERY_STRING", "")).items()
        }
        base = self._base_url(environ)
        if path == "/":
            return 302, [("Location", "/docs/")], b""
        if path == "/docs/":
            # the reference serves a static Swagger UI page here
            # (api/datalake_api/static/index.html); this app ships a
            # self-contained explorer (no external assets — deployments
            # may be air-gapped) when the client asks for HTML, and the
            # machine-readable endpoint listing otherwise
            if "text/html" in environ.get("HTTP_ACCEPT", ""):
                return (
                    200,
                    [("Content-Type", "text/html; charset=utf-8")],
                    _DOCS_HTML.encode(),
                )
            return self._json(
                {"endpoints": sorted(_ENDPOINTS), "spec": "/spec/"}
            )
        if path == "/spec/":
            return self._json(_spec())
        if path == "/health/":
            return self._json({})
        if path == "/metrics/":
            # per-route latency aggregates from the request monitor (the
            # sentry.py monitor_performance analog, self-served)
            return self._json({"routes": self.monitor.snapshot()})
        if path == "/v0/environment/":
            # build-version info, the reference's exact response shape
            # (api/datalake_api/v0.py:654-686: /version.txt if the
            # deployment wrote one, else a fallback version string)
            return self._json(
                {"data": {"build": {"version": self._build_version()}}}
            )
        if path == "/v0/archive/":
            return self._json({"storage_url": self.storage_url})
        if path == "/v0/archive/files/":
            return self._files(qs, base, environ)
        parts = [p for p in path.split("/") if p]
        # /v0/archive/files/<id>/data | /metadata
        if (
            len(parts) == 5
            and parts[:3] == ["v0", "archive", "files"]
            and parts[4] in ("data", "metadata")
        ):
            return self._file(parts[3], parts[4], base)
        # /v0/archive/latest/<what>/<where>[/data]
        if (
            len(parts) in (5, 6)
            and parts[:3] == ["v0", "archive", "latest"]
            and (len(parts) == 5 or parts[5] == "data")
        ):
            return self._latest(parts[3], parts[4], qs, base,
                                want_data=len(parts) == 6)
        raise _HttpError(404, "NoSuchRoute", f"no route for {path}")

    # deployment images write their build sha here (the reference's
    # convention, v0.py:647-652); overridable for tests / other layouts
    version_file = "/version.txt"

    def _build_version(self) -> str:
        try:
            with open(self.version_file) as f:
                return f.read().strip()
        except OSError:
            from datalake_spark import __version__

            return f"datalake-spark/{__version__}"

    @staticmethod
    def _json(obj) -> tuple[int, list, bytes]:
        return 200, [("Content-Type", "application/json")], json.dumps(
            obj
        ).encode()

    @staticmethod
    def _base_url(environ) -> str:
        host = environ.get("HTTP_HOST") or (
            environ.get("SERVER_NAME", "localhost")
            + ":"
            + environ.get("SERVER_PORT", "80")
        )
        scheme = environ.get("wsgi.url_scheme", "http")
        return f"{scheme}://{host}"

    # -- handlers -----------------------------------------------------------

    def _files(self, qs: dict, base: str, environ) -> tuple[int, list, bytes]:
        from datalake_spark.query import validate_query_params

        params = validate_query_params(
            {k: v for k, v in qs.items() if k != "cursor"}
        )
        if params.get("work_id") is not None:
            df = self.engine.by_work_id(
                params["work_id"], params["what"], where=params.get("where")
            )
        else:
            df = self.engine.by_time(
                params["what"], params["start"], params["end"],
                where=params.get("where"),
            )
        rows, token = self.engine.fetch_page(
            df, cursor=qs.get("cursor"), page_size=self.page_size
        )
        next_url = None
        if token is not None:
            args = dict(qs)
            args["cursor"] = token
            next_url = (
                f"{base}{environ.get('PATH_INFO')}?{urlencode(args)}"
            )
        return self._json(
            {"records": [_record(r, base) for r in rows], "next": next_url}
        )

    def _lookup(self, file_id: str):
        rows = self.engine.by_id(file_id).collect()
        if not rows:
            raise _HttpError(
                404, "NoSuchFile", f"no file with id {file_id}"
            )
        return rows[0]

    def _file(self, file_id: str, leaf: str, base: str):
        row = self._lookup(file_id)
        if leaf == "metadata":
            return self._json(_record(row, base)["metadata"])
        return self._content(row)

    def _content(self, row) -> tuple[int, list, bytes]:
        if self.archive is None:
            raise _HttpError(
                404, "NoSuchFile", "no archive configured for content"
            )
        with self.archive.fetch(row["url"]) as f:
            headers = [("Content-Type", f.content_type or "text/plain")]
            if f.content_encoding is not None:
                headers.append(("Content-Encoding", f.content_encoding))
            return 200, headers, f.read()

    def _latest(self, what: str, where: str, qs: dict, base: str,
                want_data: bool):
        lookback = qs.get("lookback", DEFAULT_LOOKBACK_DAYS)
        try:
            lookback = int(lookback)
        except ValueError:
            raise _HttpError(
                400, "InvalidLookback",
                f"lookback must be an integer not {type(lookback)}",
            )
        rows = self.engine.latest(
            what, where, lookback_days=lookback
        ).collect()
        if not rows:
            m = 'No "{}" files found in last {} days from "{}"'
            raise _HttpError(
                404, "NoSuchFile", m.format(what, lookback, where)
            )
        if want_data:
            return self._content(rows[0])
        return self._json(_record(rows[0], base))


_ENDPOINTS = (
    "/docs/", "/spec/", "/health/", "/metrics/", "/v0/environment/",
    "/v0/archive/",
    "/v0/archive/files/", "/v0/archive/files/<id>/data",
    "/v0/archive/files/<id>/metadata", "/v0/archive/latest/<what>/<where>",
    "/v0/archive/latest/<what>/<where>/data",
)


# Minimal self-contained API explorer (the Swagger-UI role of the
# reference's static/index.html without vendored assets): renders /spec/
# client-side and links every listed route.
_DOCS_HTML = """<!DOCTYPE html>
<html lang="en"><head><meta charset="utf-8">
<title>Datalake API</title>
<style>
 body{font-family:system-ui,sans-serif;margin:2rem;max-width:48rem}
 code,pre{background:#f4f4f4;padding:.1rem .3rem;border-radius:3px}
 li{margin:.4rem 0}
</style></head><body>
<h1>Datalake API</h1>
<p>Machine-readable spec: <a href="/spec/"><code>/spec/</code></a> —
endpoint list as JSON: <code>GET /docs/</code> with
<code>Accept: application/json</code>.</p>
<ul id="eps"></ul>
<script>
fetch('/spec/').then(r => r.json()).then(s => {
  const ul = document.getElementById('eps');
  Object.keys(s.paths).sort().forEach(p => {
    // textContent, never innerHTML: parameterized routes contain
    // <id>/<what>/<where>, which innerHTML would parse as tags
    const li = document.createElement('li');
    const code = document.createElement('code');
    code.textContent = 'GET ' + p;
    if (p.includes('<')) {
      li.appendChild(code);
    } else {
      const a = document.createElement('a');
      a.href = p;
      a.appendChild(code);
      li.appendChild(a);
    }
    ul.appendChild(li);
  });
});
</script></body></html>
"""


def _spec() -> dict:
    return {
        "swagger": "2.0",
        "info": {
            "version": "0",
            "title": "Datalake API",
            "description": "Query files in the datalake archive",
        },
        "paths": {p: {"get": {}} for p in _ENDPOINTS if p.startswith("/v0")},
    }


def serve(app: DatalakeHttpApp, host: str = "127.0.0.1", port: int = 0):
    """Blocking wsgiref server (CLI / tests); returns the server object so
    callers can read the bound port (``server.server_address``) or shut it
    down from another thread."""
    from wsgiref.simple_server import (
        WSGIRequestHandler,
        WSGIServer,
        make_server,
    )

    class _QuietServer(WSGIServer):
        def handle_error(self, request, client_address):  # pragma: no cover
            pass

    class _QuietHandler(WSGIRequestHandler):
        def log_message(self, *args):  # no per-request stderr spam
            pass

    return make_server(
        host, port, app, server_class=_QuietServer,
        handler_class=_QuietHandler,
    )


class HttpQuerier:
    """In-process HTTP adapter: the reference's dual-backend test pattern
    (api/tests/test_archive_querier.py:129-157) — the same queries asked
    through the HTTP hop must equal the in-process engine's answers.
    urllib-only; follows `next` links."""

    def __init__(self, base_url: str) -> None:
        self.base_url = base_url.rstrip("/")

    def _get(self, path: str, expect: int = 200) -> dict:
        import urllib.error
        import urllib.request

        try:
            with urllib.request.urlopen(self.base_url + path) as resp:
                return json.loads(resp.read())
        except urllib.error.HTTPError as e:
            body = json.loads(e.read())
            if e.code != expect:
                raise AssertionError(
                    f"GET {path} -> {e.code} {body}"
                ) from e
            return body

    def query_by_time(self, what, start, end, where=None) -> list[dict]:
        args = {"what": what, "start": start, "end": end}
        if where is not None:
            args["where"] = where
        return self._drain(f"/v0/archive/files/?{urlencode(args)}")

    def query_by_work_id(self, work_id, what, where=None) -> list[dict]:
        args = {"what": what, "work_id": work_id}
        if where is not None:
            args["where"] = where
        return self._drain(f"/v0/archive/files/?{urlencode(args)}")

    def _drain(self, path: str) -> list[dict]:
        out: list[dict] = []
        url: str | None = self.base_url + path
        while url is not None:
            import urllib.request

            with urllib.request.urlopen(url) as resp:
                page = json.loads(resp.read())
            out.extend(page["records"])
            url = page["next"]
        return out

    def query_latest(self, what, where, lookback=None) -> dict | None:
        q = f"?lookback={lookback}" if lookback is not None else ""
        import urllib.error
        import urllib.request

        try:
            with urllib.request.urlopen(
                f"{self.base_url}/v0/archive/latest/{quote(what)}/{quote(where)}{q}"
            ) as resp:
                return json.loads(resp.read())
        except urllib.error.HTTPError as e:
            if e.code == 404:
                return None
            raise
