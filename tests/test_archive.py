"""Fetch (O14), sniffing (O11 content half), compression (O21): pytest
coverage mirroring the reference's client/test/test_fetch.py cases."""

import gzip
import os

import pytest

from datalake_spark.archive import (
    Archive,
    InvalidDatalakePath,
    filename_column,
)

META = {
    "id": "abc123",
    "what": "syslog",
    "where": "webserver01",
    "start": 1704672123456,
    "end": 1704672183456,
    "path": "/var/log/syslog",
    "work_id": None,
    "hash": "0" * 32,
}


@pytest.fixture()
def archive(tmp_path):
    return Archive(f"file://{tmp_path}/store")


@pytest.fixture()
def url(archive):
    return archive.store(META, b"welcome to the jungle")


@pytest.fixture()
def http_store(archive, url):
    """A stdlib http.server presenting the store over HTTP with the
    datalake API's error contract (404 → JSON message+code), so the
    http-scheme fetch path can be driven without network access."""
    import json
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    root = archive._root

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):
            path = os.path.join(root, self.path.lstrip("/"))
            if os.path.isfile(path):
                with open(path, "rb") as fh:
                    body = fh.read()
                self.send_response(200)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)
            else:
                body = json.dumps(
                    {"message": "no such file", "code": "NoSuchFile"}
                ).encode()
                self.send_response(404)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

        def log_message(self, *a):  # keep pytest output clean
            pass

    server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    try:
        yield f"http://127.0.0.1:{server.server_port}"
    finally:
        server.shutdown()
        server.server_close()


@pytest.fixture()
def http_archive(archive, http_store):
    """Archive configured with both the store and its http frontend."""
    return Archive(archive.storage_url, http_url=http_store)


class TestFetch:
    def test_invalid_scheme(self, archive):
        with pytest.raises(InvalidDatalakePath):
            archive.fetch("x4t://foobar/bing")

    def test_url_without_key(self, archive):
        with pytest.raises(InvalidDatalakePath):
            archive.fetch(archive.storage_url)

    def test_key_does_not_exist(self, archive):
        with pytest.raises(InvalidDatalakePath):
            archive.fetch(archive.storage_url + "/nosuchfile/data")

    def test_missing_file_is_no_such_file(self, archive):
        from datalake_spark.archive import NoSuchDatalakeFile

        with pytest.raises(NoSuchDatalakeFile):
            archive.fetch(archive.storage_url + "/nosuchfile/data")

    def test_missing_sidecar_is_no_such_file(self, archive, url):
        from datalake_spark.archive import NoSuchDatalakeFile

        os.remove(os.path.join(archive._root, META["id"], "metadata"))
        with pytest.raises(NoSuchDatalakeFile):
            archive.fetch(url)

    def test_corrupt_sidecar_is_datalake_error(self, archive, url):
        sidecar = os.path.join(archive._root, META["id"], "metadata")
        with open(sidecar, "w") as fh:
            fh.write("{not json")
        with pytest.raises(InvalidDatalakePath, match="corrupt"):
            archive.fetch(url)

    @pytest.mark.parametrize("streaming", [True, False])
    def test_fetch_and_read(self, archive, url, streaming):
        f = archive.fetch(url, stream=streaming)
        assert f.read() == b"welcome to the jungle"
        assert f.read() == b""  # second read is empty

    @pytest.mark.parametrize("streaming", [True, False])
    def test_fetch_read_size(self, archive, url, streaming):
        f = archive.fetch(url, stream=streaming)
        assert f.read(5) == b"welco"
        assert f.read() == b"me to the jungle"

    def test_iter_content(self, archive, url):
        f = archive.fetch(url, stream=True)
        assert b"".join(f.iter_content(4)) == b"welcome to the jungle"

    def test_readlines(self, archive):
        meta = dict(META, id="lines1")
        u = archive.store(meta, b"one\ntwo\nthree\n" * 100)
        f = archive.fetch(u)
        assert f.readlines() == (b"one\ntwo\nthree\n" * 100).splitlines(True)

    def test_read_closed_file_raises(self, archive, url):
        f = archive.fetch(url)
        f.close()
        f.close()  # close twice is fine
        with pytest.raises(ValueError):
            f.read()

    def test_metadata_round_trip(self, archive, url):
        assert archive.fetch(url).metadata == META


class TestHttpFetch:
    """O14's http(s) branch, mirroring TestFetch over a live http.server
    (reference archive.py:283-313 + StreamingHTTPFile, dlfile.py:128)."""

    @pytest.mark.parametrize("streaming", [True, False])
    def test_fetch_and_read(self, http_archive, http_store, streaming):
        f = http_archive.fetch(f"{http_store}/{META['id']}/data",
                               stream=streaming)
        assert f.read() == b"welcome to the jungle"
        assert f.read() == b""

    @pytest.mark.parametrize("streaming", [True, False])
    def test_fetch_read_size(self, http_archive, http_store, streaming):
        f = http_archive.fetch(f"{http_store}/{META['id']}/data",
                               stream=streaming)
        assert f.read(5) == b"welco"
        assert f.read() == b"me to the jungle"

    def test_iter_content(self, http_archive, http_store):
        f = http_archive.fetch(f"{http_store}/{META['id']}/data", stream=True)
        assert b"".join(f.iter_content(4)) == b"welcome to the jungle"

    def test_metadata_round_trip(self, http_archive, http_store):
        f = http_archive.fetch(f"{http_store}/{META['id']}/data")
        assert f.metadata == META
        assert f.content_type is None  # path /var/log/syslog has no ext

    def test_404_is_no_such_file_with_api_code(self, http_archive, http_store):
        from datalake_spark.archive import NoSuchDatalakeFile

        with pytest.raises(NoSuchDatalakeFile, match=r"NoSuchFile"):
            http_archive.fetch(f"{http_store}/nope/data")

    def test_url_outside_configured_base_raises(self, http_archive):
        with pytest.raises(InvalidDatalakePath, match="configured http url"):
            http_archive.fetch("http://127.0.0.1:1/elsewhere/data")

    def test_http_url_without_data_suffix_raises(self, http_archive, http_store):
        with pytest.raises(InvalidDatalakePath, match="fetchable"):
            http_archive.fetch(f"{http_store}/{META['id']}/metadata")

    def test_unconfigured_http_raises(self, archive, http_store):
        with pytest.raises(InvalidDatalakePath, match="configured http url"):
            archive.fetch(f"{http_store}/{META['id']}/data")

    def test_fetch_to_filename_over_http(self, http_archive, http_store,
                                         tmp_path):
        t = str(tmp_path / "{where}/{what}-{id}.log")
        fname = http_archive.fetch_to_filename(
            f"{http_store}/{META['id']}/data", filename_template=t
        )
        assert fname == str(tmp_path / "webserver01/syslog-abc123.log")
        assert open(fname, "rb").read() == b"welcome to the jungle"

    def test_cli_cat_over_http(self, archive, http_store):
        import io as _io

        from datalake_spark.cli import run

        out = _io.StringIO()
        rc = run(
            ["cat", f"{http_store}/{META['id']}/data",
             "--storage-url", archive.storage_url,
             "--http-url", http_store],
            out=out,
        )
        assert rc == 0 and out.getvalue() == "welcome to the jungle"

    def test_gzip_sniff_over_http(self, http_archive, archive, http_store):
        meta = dict(META, id="hgz", path="/logs/app.json.gz")
        archive.store(meta, b'{"a": 1}', compress=True)
        f = http_archive.fetch(f"{http_store}/hgz/data", stream=True)
        assert f.content_encoding == "gzip"
        assert f.content_type == "application/json"


class TestFetchToFilename:
    def test_default_template_is_id(self, archive, url, tmp_path, monkeypatch):
        monkeypatch.chdir(tmp_path)
        fname = archive.fetch_to_filename(url)
        assert fname == META["id"]
        assert open(fname, "rb").read() == b"welcome to the jungle"

    def test_fancy_template(self, archive, url, tmp_path):
        t = str(tmp_path / "{where}/{what}/{start}-{id}-foobar.log")
        fname = archive.fetch_to_filename(url, filename_template=t)
        expected = str(
            tmp_path / "webserver01/syslog/1704672123456-abc123-foobar.log"
        )
        assert fname == expected and os.path.exists(expected)

    def test_iso_template(self, archive, url, tmp_path):
        t = str(tmp_path / "{start_iso}-{end_iso}-foobar.log")
        fname = archive.fetch_to_filename(url, filename_template=t)
        assert fname.endswith(
            "2024-01-08T00:02:03.456-2024-01-08T00:03:03.456-foobar.log"
        )

    def test_unknown_template_var(self, archive, url):
        with pytest.raises(InvalidDatalakePath):
            archive.fetch_to_filename(url, filename_template="{nosuchmeta}")

    def test_bad_template(self, archive, url):
        with pytest.raises(InvalidDatalakePath):
            archive.fetch_to_filename(url, filename_template="{bad")


class TestSniffing:
    def test_gzip_encoding_and_type(self, archive):
        meta = dict(META, id="gz1", path="/logs/app.json.gz")
        u = archive.store(meta, b'{"a": 1}', compress=True)
        f = archive.fetch(u)
        assert f.content_encoding == "gzip"
        assert f.content_type == "application/json"
        assert gzip.decompress(f.read()) == b'{"a": 1}'

    def test_store_compress_is_deterministic(self, archive):
        a = archive.store(dict(META, id="d1"), b"x" * 100, compress=True)
        b = archive.store(dict(META, id="d2"), b"x" * 100, compress=True)
        assert archive.fetch(a).read() == archive.fetch(b).read()

    def test_store_compress_skips_already_gzipped(self, archive):
        blob = gzip.compress(b"payload", mtime=0)
        u = archive.store(dict(META, id="g2"), blob, compress=True)
        assert archive.fetch(u).read() == blob

    def test_checksum_stripped_path(self, archive):
        meta = dict(META, id="ck1", path="report.csv-" + "ab" * 16)
        u = archive.store(meta, b"a,b\n1,2\n")
        f = archive.fetch(u)
        assert f.content_type == "text/csv"
        assert f.content_encoding is None

    def test_unknown_type(self, archive):
        meta = dict(META, id="uk1", path="README")
        u = archive.store(meta, b"hi")
        assert archive.fetch(u).content_type is None


class TestBulkSniffOperator:
    def test_matches_point_api(self, spark, archive, tmp_path):
        """The Column-level sniff and ArchiveFile must agree case by case."""
        from datalake_spark.operators.sniff import sniff_content

        cases = [
            ("a", "data/file.json.gz", gzip.compress(b"x", mtime=0)),
            ("b", "notes.txt", b"hello"),
            ("c", "img.png", bytes.fromhex("89504E470D0A1A0A")),
            ("d", "report.csv-" + "0f" * 16, b"a,b"),
            ("e", "README", b"data"),
            ("f", "blob.bin", gzip.compress(b"y", mtime=0)),
            # encoding suffixes are case-SENSITIVE in mimetypes: '.Z'
            # strips (text/plain), '.z' does not (None) — the r2 advisory
            ("g", "notes.txt.Z", b"zz"),
            ("h", "notes.txt.z", b"zz"),
            # suffix_map rewrites, case-INsensitive: .tgz/.TAZ -> .tar.gz
            ("i", "bundle.tgz", b"tt"),
            ("j", "bundle.TAZ", b"tt"),
            ("k", "pic.svgz", b"ss"),
            ("l", "logs.txt.bz2", b"bb"),
            ("m", "page.html.xz", b"hh"),
            # suffixes outside [A-Za-z0-9] and a dotfile that merely ends
            # in a suffix_map key
            ("n", "a.c++", b"cc"),
            ("o", "a.h++", b"hh"),
            ("p", "a.x_b", b"xx"),
            ("q", "dir/.tgz", b"tt"),
        ]
        point = {}
        for fid, path, content in cases:
            u = archive.store(dict(META, id=fid, path=path), content)
            f = archive.fetch(u)
            point[fid] = (f.content_type, f.content_encoding)
        df = spark.createDataFrame(
            [(fid, path, content) for fid, path, content in cases],
            "id string, path string, content binary",
        )
        bulk = {
            r.id: (r.content_type, r.content_encoding)
            for r in sniff_content(df).collect()
        }
        assert bulk == point

    def test_sweep_matches_point_api(self, spark):
        """Every suffix mimetypes knows, in three cases, bare, behind each
        encoding suffix (and the non-encodings '.z'/'.GZ'), with and
        without a 40-hex checksum, under plain, dotfile and dot-only
        basenames: one sniff_content call, no row may disagree with
        ArchiveFile.content_type."""
        import io
        import mimetypes

        from datalake_spark.archive import ArchiveFile
        from datalake_spark.operators.sniff import sniff_content

        suffixes = sorted(set(mimetypes.types_map) | set(mimetypes.suffix_map))
        paths = {
            base + case(suf) + enc + tail
            for suf in suffixes
            for case in (str, str.upper, str.title)
            for enc in ("", *mimetypes.encodings_map, ".z", ".GZ")
            for tail in ("", "-" + "0f" * 20)
            for base in ("a", "dir.d/.a", "x/..")
        }
        paths |= {"..gz", "a..gz", "x.", "a:.txt", "s3://b/k.tar.gz",
                  "x:y:.txt", "a/b/", "README"}
        df = spark.createDataFrame([(p, b"") for p in paths],
                                   "path string, content binary")
        bulk = {r.path: r.content_type for r in
                sniff_content(df).select("path", "content_type").collect()}
        point = {p: ArchiveFile(io.BytesIO(b""), {"path": p}).content_type
                 for p in paths}
        assert bulk.keys() == point.keys()
        assert {p: (bulk[p], t) for p, t in point.items() if bulk[p] != t} == {}

    def test_sniff_directory(self, spark, tmp_path):
        from datalake_spark.operators.sniff import sniff_directory

        (tmp_path / "x.json").write_bytes(b"{}")
        (tmp_path / "y.gz").write_bytes(gzip.compress(b"z", mtime=0))
        rows = {os.path.basename(r.path): r for r in
                sniff_directory(spark, str(tmp_path)).collect()}
        assert rows["x.json"].content_type == "application/json"
        assert rows["y.gz"].content_encoding == "gzip"


class TestFilenameColumn:
    def test_unknown_var_raises_at_plan_time(self, spark):
        from pyspark.sql import functions as F

        with pytest.raises(InvalidDatalakePath):
            filename_column("{nope}", {"id": F.lit(1)})

    def test_bad_template_raises(self, spark):
        from pyspark.sql import functions as F

        with pytest.raises(InvalidDatalakePath):
            filename_column("{bad", {"id": F.lit(1)})

    def test_null_renders_as_none(self, spark):
        from pyspark.sql import functions as F

        df = spark.range(1).select(
            filename_column(
                "{a}-{b}", {"a": F.lit("x"), "b": F.lit(None).cast("string")}
            ).alias("f")
        )
        assert df.collect()[0].f == "x-None"


class TestCliFetch:
    def test_fetch_and_cat(self, archive, url, tmp_path, monkeypatch, capsys):
        import io

        from datalake_spark.cli import run

        monkeypatch.chdir(tmp_path)
        monkeypatch.setenv("DATALAKE_STORAGE_URL", archive.storage_url)
        out = io.StringIO()
        rc = run(["fetch", url], out=out)
        assert rc == 0
        fname = out.getvalue().strip()
        assert open(fname, "rb").read() == b"welcome to the jungle"

        out = io.StringIO()
        rc = run(["cat", url], out=out)
        assert rc == 0
        assert out.getvalue() == "welcome to the jungle"

    def test_fetch_requires_storage_url(self, monkeypatch):
        import io

        from datalake_spark.cli import run

        monkeypatch.delenv("DATALAKE_STORAGE_URL", raising=False)
        assert run(["fetch", "file:///x/y/data"], out=io.StringIO()) == 2


class TestPushWithContent:
    """push stores content through the Archive when a store is configured:
    the content half of O12, with blake2b inference (O15) and optional gzip
    (O21), round-tripped through fetch."""

    def test_push_stores_and_fetch_round_trips(self, spark, tmp_path, monkeypatch):
        import hashlib
        import io

        from datalake_spark.cli import run

        src = tmp_path / "app.log"
        src.write_bytes(b"log line one\nlog line two\n")
        store_url = f"file://{tmp_path}/store"
        out = io.StringIO()
        rc = run(
            ["--catalog", str(tmp_path / "cat"), "push",
             "--what", "syslog", "--where", "web01",
             "--start", "2024-01-08", "--end", "2024-01-09",
             "--path", str(src), "--storage-url", store_url],
            spark=spark, out=out,
        )
        assert rc == 0
        file_id = out.getvalue().strip()

        a = Archive(store_url)
        f = a.fetch(a.url_from_id(file_id))
        assert f.read() == src.read_bytes()
        # hash inferred as blake2b-16 of the content (reference dlfile.py)
        want = hashlib.blake2b(src.read_bytes(), digest_size=16).hexdigest()
        assert f.metadata["hash"] == want
        # catalog url points at the real store
        from datalake_spark.catalog import Catalog

        row = Catalog(spark, str(tmp_path / "cat")).files().collect()[0]
        assert row.url == a.url_from_id(file_id)
        assert row.hash == want

    def test_push_compress(self, spark, tmp_path):
        import gzip
        import io

        from datalake_spark.cli import run

        src = tmp_path / "big.json"
        src.write_bytes(b'{"k": 1}' * 100)
        store_url = f"file://{tmp_path}/store"
        out = io.StringIO()
        rc = run(
            ["--catalog", str(tmp_path / "cat2"), "push",
             "--what", "blob", "--where", "w", "--start", "2024-01-08",
             "--path", str(src), "--storage-url", store_url, "--compress"],
            spark=spark, out=out,
        )
        assert rc == 0
        file_id = out.getvalue().strip()
        a = Archive(store_url)
        f = a.fetch(a.url_from_id(file_id))
        assert f.content_encoding == "gzip"
        assert gzip.decompress(f.read()) == src.read_bytes()


class TestBulkFetch:
    """fetch_bulk: distributed content fetch, error rows for bad urls,
    composition with the bulk sniff."""

    def test_fetch_bulk_and_sniff(self, spark, archive):
        from pyspark.sql import functions as F

        from datalake_spark.archive import fetch_bulk
        from datalake_spark.operators.sniff import sniff_content

        urls = []
        for i in range(5):
            meta = dict(META, id=f"bf{i}", path=f"f{i}.json")
            urls.append(archive.store(meta, b'{"i": %d}' % i))
        urls.append(archive.storage_url + "/missing/data")

        df = spark.createDataFrame([(u,) for u in urls], "url string")
        got = {r.url: r for r in fetch_bulk(df, archive.storage_url).collect()}
        for i, u in enumerate(urls[:5]):
            assert bytes(got[u].content) == b'{"i": %d}' % i
            assert got[u].fetch_error is None
        missing = got[urls[5]]
        assert missing.content is None and missing.fetch_error

        # composes with the bulk sniff (path from the url tail here)
        fetched = fetch_bulk(df, archive.storage_url).filter(
            F.col("content").isNotNull()
        ).withColumn("path", F.lit("x.json"))
        sniffed = sniff_content(fetched).collect()
        assert all(r.content_type == "application/json" for r in sniffed)

    def test_bulk_matches_point_fetch(self, spark, archive, url):
        from datalake_spark.archive import fetch_bulk

        df = spark.createDataFrame([(url,)], "url string")
        [row] = fetch_bulk(df, archive.storage_url).collect()
        assert bytes(row.content) == archive.fetch(url).read()

    def test_bulk_mixed_schemes(self, spark, archive, url, http_store):
        """file:// and http:// urls in one frame; per-row errors for a
        missing http id, an http url on a foreign base, and an unreachable
        port — the stage itself never fails."""
        from datalake_spark.archive import fetch_bulk

        rows = [
            url,                                      # store scheme, ok
            f"{http_store}/{META['id']}/data",        # http scheme, ok
            f"{http_store}/ghost/data",               # http 404
            "http://127.0.0.1:9/unreachable/data",    # foreign base url
        ]
        df = spark.createDataFrame([(u,) for u in rows], "url string")
        got = {
            r.url: r
            for r in fetch_bulk(
                df, archive.storage_url, http_url=http_store
            ).collect()
        }
        assert bytes(got[rows[0]].content) == b"welcome to the jungle"
        assert bytes(got[rows[1]].content) == b"welcome to the jungle"
        assert got[rows[2]].content is None
        assert "NoSuchFile" in got[rows[2]].fetch_error
        assert got[rows[3]].content is None and got[rows[3]].fetch_error


class TestTemplatingEquivalence:
    """The plan-side filename_column and the driver-side
    _filename_from_template must produce identical names for the same
    metadata — seeded random sweep across the supported variables."""

    def test_column_matches_driver_path(self, spark, archive):
        import random

        from pyspark.sql import functions as F

        rng = random.Random(77)
        rows = []
        for i in range(50):
            start = rng.randrange(0, 2**41)
            rows.append(
                {
                    "id": f"id{i:03d}",
                    "what": rng.choice(["syslog", "nginx", "app.log"]),
                    "where": rng.choice(["web01", "db-2", "h_3"]),
                    "start": start,
                    "end": start + rng.randrange(0, 10**7) if i % 3 else None,
                    "work_id": None if i % 4 == 0 else f"w{i}",
                    "path": f"/var/log/f{i}",
                    "hash": "0" * 32,
                }
            )
        templates = [
            "{id}",
            "{what}/{where}/{start}-{id}.log",
            "{where}/{what}-{start_iso}.log",
            "{start_iso}-{end_iso}-{work_id}-foobar.log",
        ]
        df = spark.createDataFrame(
            [(r["id"], r["what"], r["where"], r["start"], r["end"],
              r["work_id"]) for r in rows],
            "id string, what string, site string, start long, end long, work_id string",
        )
        iso = lambda c: F.date_format(  # noqa: E731
            F.timestamp_millis(F.col(c)), "yyyy-MM-dd'T'HH:mm:ss.SSS"
        )
        from datalake_spark.archive import filename_column

        for t in templates:
            got = {
                r.id: r.f
                for r in df.select(
                    "id",
                    filename_column(
                        t,
                        {
                            "id": F.col("id"),
                            "what": F.col("what"),
                            "where": F.col("site"),
                            "start": F.col("start"),
                            "end": F.col("end"),
                            "work_id": F.col("work_id"),
                            "start_iso": iso("start"),
                            "end_iso": iso("end"),
                        },
                    ).alias("f"),
                ).collect()
            }
            for r in rows:
                want = archive._filename_from_template(t, r)
                assert got[r["id"]] == want, (t, r["id"], got[r["id"]], want)


class TestArchiveOverFakeStore:
    """The archive's blob IO runs through the store seam: the same
    store/fetch/fetch_bulk surface works over the fake object store
    (mem://) — the test stand-in for the reference's s3-native archive
    (client/datalake/archive.py:100-109)."""

    def _mem_archive(self):
        import uuid as _uuid

        from datalake_spark.archive import Archive

        return Archive(f"mem://arch-{_uuid.uuid4().hex[:8]}/lake")

    def test_store_fetch_roundtrip(self):
        arch = self._mem_archive()
        meta = {"id": "abc123", "what": "nginx", "where": "h1",
                "start": 1, "end": 2, "path": "/l", "hash": "x",
                "work_id": None, "version": 0}
        url = arch.store(meta, b"log line 1\nlog line 2\n")
        assert url == f"{arch.storage_url}/abc123/data"
        f = arch.fetch(url)
        assert f.read() == b"log line 1\nlog line 2\n"
        assert f.metadata["what"] == "nginx"
        # streaming mode reads through the store handle too
        f2 = arch.fetch(url, stream=True)
        assert f2.read(4) == b"log "
        f2.close()

    def test_missing_blob_and_sidecar_errors(self):
        import pytest as _pytest

        from datalake_spark.archive import NoSuchDatalakeFile

        arch = self._mem_archive()
        with _pytest.raises(NoSuchDatalakeFile):
            arch.fetch(arch.storage_url + "/nope/data")
        # blob without sidecar: plant the data object only
        from datalake_spark.store import open_store

        st = open_store(arch.storage_url)
        st.put("lonely/data", b"bytes")
        with _pytest.raises(NoSuchDatalakeFile, match="sidecar"):
            arch.fetch(arch.storage_url + "/lonely/data")

    def test_fetch_bulk_over_mem(self, spark):
        """Executor worker processes resolve the same mem bucket data
        plane (deterministic backing) — the distributed O14 path works
        over the fake store end to end."""
        from datalake_spark.archive import fetch_bulk

        arch = self._mem_archive()
        urls = []
        for i in range(6):
            meta = {"id": f"f{i}", "what": "nginx", "where": "h1",
                    "start": 1, "end": 2, "path": "/l", "hash": "x",
                    "work_id": None, "version": 0}
            urls.append(arch.store(meta, f"content-{i}".encode()))
        urls.append(arch.storage_url + "/missing/data")
        df = spark.createDataFrame([(u,) for u in urls], "url string")
        rows = {r["url"]: r for r in
                fetch_bulk(df, arch.storage_url).collect()}
        for i, u in enumerate(urls[:6]):
            assert rows[u]["content"] == f"content-{i}".encode()
            assert rows[u]["fetch_error"] is None
        assert rows[urls[6]]["content"] is None
        assert rows[urls[6]]["fetch_error"]


class TestStoreStreamShortReads:
    def test_gzip_sniff_survives_one_byte_reads(self, tmp_path):
        """A stream whose read(n) returns short (pipe/socket-shaped) must
        not false-negative the already-gzipped sniff and double-compress
        — eager and streamed stores stay byte- and hash-identical."""
        import gzip as _gzip
        import io

        from datalake_spark.archive import Archive

        class OneByteReads(io.BytesIO):
            def read(self, n=-1):
                return super().read(1 if n and n > 0 else n)

        a = Archive(str(tmp_path / "arch"))
        blob = _gzip.compress(b"already compressed payload" * 100, mtime=0)
        a.store(dict(META, id="eager"), blob, compress=True)
        meta = dict(META, id="streamed", hash=None)
        a.store_stream(meta, OneByteReads(blob), compress=True)
        assert a._store.get("eager/data") == a._store.get("streamed/data")
        assert a._store.get("streamed/data") == blob  # NOT re-gzipped
