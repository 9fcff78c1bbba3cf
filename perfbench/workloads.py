"""The two workloads.  Each sets up its inputs, runs closed loops with one
client for the run's seconds, checks every answer against a plain-Python
model of the generated inputs, and returns its figures."""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time
from datetime import datetime
from urllib.parse import urlencode, urlsplit

from perfbench import gen
from perfbench.sparklog import group_for
from perfbench.tracing import CountingStore, Proxy

PAGE = gen.CATALOG_READ["page_size"]
ROUTE_PHASE = {"by_time": "read.by_time", "by_work_id": "read.by_work_id",
               "latest": "read.latest", "miss_latest": "read.latest",
               "metadata": "read.by_id", "miss_id": "read.by_id",
               "data": "read.fetch"}
# warm-up operations, checked and counted in set-up: the first requests
# and batches run while the JVM is still compiling their code paths
READ_WARMUP = 6  # requests: one of each kind and the miss, 7 calls
INGEST_WARMUP = 1  # batches
INGEST_LOOKAHEAD = 2
# timed batches: a fixed count, not a time limit.  Later batches run
# faster as the JVM warms, and the catalog's file count decides whether
# compaction runs, so both would move with how many fit in the time.
# With three, rows per second spread up to 25 % between runs
INGEST_BATCHES = 5


class Ctx:
    """One run: its session, per-run directory, seed, clock and counters."""

    def __init__(self, spark, root: str, seed: int, seconds: float,
                 anchor_ms: int, tracer=None, max_ops: int | None = None):
        self.spark, self.root, self.seed = spark, root, seed
        self.seconds, self.anchor_ms, self.tracer = seconds, anchor_ms, tracer
        self.max_ops = max_ops  # fixed op count instead of a time limit
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        self.t_first_op = 0.0  # perf_counter() when timing starts
        self.op_spans: list[dict] = []
        self.stores: list[CountingStore] = []
        self.layer: dict[str, float] = {}
        self.report: dict = {}
        self.rows_returned: dict[str, int] = {}
        self.windows: list[tuple] = []  # measured windows, time.time()
        self.measuring = False  # record op spans (not during warm-up)
        self.samples = 0  # operations behind op_p50_ms
        self._n = 0

    def path(self, *parts: str) -> str:
        return os.path.join(self.root, *parts)

    def check(self, ok: bool, what: str) -> bool:
        if not ok:
            self.failed += 1
            if len(self.problems) < 20:
                self.problems.append(what)
        return ok

    def store(self, name: str):
        """A counting store over ``name`` when tracing, else None (the
        engine then opens its own)."""
        from datalake_spark.store import LocalStore

        if self.tracer is None:
            return None
        store = CountingStore(LocalStore(self.path(name)), self.tracer)
        self.stores.append(store)
        return store

    def span(self, name: str, **attrs):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name, **attrs)

    def catalog(self, name: str):
        from datalake_spark.catalog import Catalog

        cat = Catalog(self.spark, self.path(name), store=self.store(name))
        if self.tracer is None:
            return cat
        return Proxy(cat, self.tracer, "catalog",
                     ("append", "refresh_latest", "build_work_id_index",
                      "maybe_compact"))

    @contextlib.contextmanager
    def op(self, phase: str):
        """Time one operation; when tracing, run it under its own job group
        so the event log attributes its Spark jobs to ``phase``."""
        if self.tracer is None:
            yield
            return
        self._n += 1
        group = group_for(phase, self._n)
        sc = self.spark.sparkContext
        sc.setJobGroup(group, phase)
        rec = {"phase": phase, "group": group, "start": time.time()}
        try:
            yield
        finally:
            rec["end"] = time.time()
            if self.measuring:
                self.op_spans.append(rec)
            sc.setLocalProperty("spark.jobGroup.id", None)

    def done(self, t0: float, n: int) -> bool:
        if self.max_ops is not None:
            return n >= self.max_ops
        return time.perf_counter() - t0 >= self.seconds


def _files_frame(spark, rows: list[dict]):
    from datalake_spark.schema import FILES_SCHEMA

    cols = FILES_SCHEMA.names
    return spark.createDataFrame([tuple(r[c] for c in cols) for r in rows],
                                 FILES_SCHEMA)


def _build_catalog(spark, cat, rows: list[dict], buckets: int,
                   layer: dict, src: str) -> None:
    """Land ``rows`` as parquet at ``src`` and append them, then build
    ``latest`` and the work-id index; each step's seconds go to
    ``layer["catalog.<step>_s"]``."""
    # the append reads files, not a DataFrame over a Python list: such a
    # frame goes through Python workers each time it is evaluated, which
    # took more than half of the append's time
    _files_frame(spark, rows).write.parquet(src)
    steps = (("append", lambda: cat.append(spark.read.parquet(src))),
             ("refresh_latest", cat.refresh_latest),
             ("build_work_id_index",
              lambda: cat.build_work_id_index(num_buckets=buckets)))
    for name, fn in steps:
        t = time.perf_counter()
        fn()
        layer[f"catalog.{name}_s"] = time.perf_counter() - t


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, names in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, n)) for n in names)
    return total


def _latest_key(r: dict) -> tuple:
    return (r["start"], r["create_time"], r["id"])


# -- ingest_read: reads ------------------------------------------------------

class ReadModel:
    """Plain-Python answers for the read workload's requests."""

    def __init__(self, rows: list[dict], blobs: dict):
        self.blobs = blobs
        self.by_id = {r["id"]: r for r in rows}
        self.by_what: dict[str, list] = {}
        self.latest: dict[tuple, dict] = {}
        for r in rows:
            self.by_what.setdefault(r["what"], []).append(r)
            k = (r["what"], r["where"])
            if k not in self.latest or _latest_key(r) > _latest_key(self.latest[k]):
                self.latest[k] = r

    def listing(self, req: dict) -> list[str]:
        if req["kind"] == "by_work_id":
            rows = [r for r in self.by_what.get(req["what"], [])
                    if r["work_id"] == req["work_id"]]
        else:
            rows = gen.overlapping(self.by_what.get(req["what"], []),
                                   req["what"], req["start"], req["end"])
        return [r["id"] for r in sorted(rows, key=lambda r: (r["start"], r["id"]))]


def _wsgi(app, path: str, query: str = "") -> tuple[int, bytes]:
    env = {"REQUEST_METHOD": "GET", "PATH_INFO": path, "QUERY_STRING": query,
           "HTTP_HOST": "bench.local", "wsgi.url_scheme": "http"}
    status = []
    body = b"".join(app(env, lambda s, h: status.append(int(s.split()[0]))))
    return status[0], body


def _route(req: dict) -> tuple[str, str]:
    kind = req["kind"]
    if kind in ("by_time", "by_work_id"):
        q = {"what": req["what"]}
        if kind == "by_work_id":
            q["work_id"] = req["work_id"]
        else:
            q["start"], q["end"] = req["start"], req["end"]
        return "/v0/archive/files/", urlencode(q)
    if kind in ("latest", "miss_latest"):
        return f"/v0/archive/latest/{req['what']}/{req['where']}", ""
    leaf = "data" if kind == "data" else "metadata"
    return f"/v0/archive/files/{req['id']}/{leaf}", ""


def _check_read(ctx: Ctx, model: ReadModel, req: dict, page: int,
                status: int, body: bytes) -> str | None:
    """Check one response; returns the next page's URL, if any."""
    kind = req["kind"]
    tag = f"{kind} {req}"
    if kind in ("miss_id", "miss_latest"):
        ok = status == 404 and json.loads(body).get("code") == "NoSuchFile"
        ctx.check(ok, f"{tag}: want 404 NoSuchFile, got {status}")
        return None
    if not ctx.check(status == 200, f"{tag}: status {status}"):
        return None
    if kind == "data":
        ctx.check(body == model.blobs[req["id"]], f"{tag}: blob bytes differ")
        return None
    doc = json.loads(body)
    if kind == "metadata":
        want = model.by_id[req["id"]]
        got = {k: doc.get(k) for k in ("id", "what", "where", "start", "end",
                                       "work_id", "hash", "path", "version")}
        ctx.check(got == {k: want[k] for k in got}, f"{tag}: metadata differs")
        return None
    if kind == "latest":
        want = model.latest[(req["what"], req["where"])]
        ctx.check(doc["metadata"]["id"] == want["id"],
                  f"{tag}: latest {doc['metadata']['id']} != {want['id']}")
        return None
    ids = model.listing(req)
    want = ids[page * PAGE:(page + 1) * PAGE]
    got = [r["metadata"]["id"] for r in doc["records"]]
    ctx.check(got == want, f"{tag} page {page}: {len(got)} ids, want {len(want)}")
    ctx.check((doc["next"] is not None) == (len(want) == PAGE),
              f"{tag} page {page}: cursor presence")
    return doc["next"]


def ingest_read(ctx: Ctx) -> dict:
    """Build the catalog, serve reads over HTTP, then stream S3 events
    into the same catalog and compact it."""
    from datalake_spark.archive import Archive

    storage_url = ctx.path("archive")
    rows, blobs = gen.catalog_rows(ctx.seed, ctx.anchor_ms, storage_url)
    archive = Archive(storage_url)
    meta_keys = ("version", "start", "end", "what", "where", "id",
                 "hash", "path", "work_id")
    by_id = {r["id"]: r for r in rows}
    for fid, blob in blobs.items():
        archive.store({k: by_id[fid][k] for k in meta_keys}, blob)
    cat = ctx.catalog("catalog")
    _build_catalog(ctx.spark, cat, rows, gen.CATALOG_READ["index_buckets"],
                   ctx.layer, ctx.path("rows"))
    read = _serve_reads(ctx, cat, archive, storage_url, rows, blobs)
    rows_per_s = _drain_stream(ctx, cat, rows)
    return {
        "op_p50_ms": read,
        "work_per_s": rows_per_s,
        "bytes_per_row": _dir_bytes(ctx.path("catalog"))
        / ctx.report["live_rows"],
    }


def _serve_reads(ctx: Ctx, cat, archive, storage_url: str, rows: list,
                 blobs: dict) -> float:
    """The closed read loop; returns the geometric mean of the routes'
    median latencies in ms."""
    from datalake_spark.http_api import DatalakeHttpApp
    from datalake_spark.query import QueryEngine

    # open the catalog and build the app exactly as `cli serve` does
    t = time.perf_counter()
    engine = QueryEngine(cat.files(), latest_table=cat.latest_table(),
                         work_id_index=cat.work_id_index())
    ctx.layer["catalog.open_ms"] = (time.perf_counter() - t) * 1000
    if ctx.tracer is not None:
        engine = Proxy(engine, ctx.tracer, "query",
                       ("by_time", "by_work_id", "latest", "by_id",
                        "fetch_page"), frames=("limit", "collect"))
        archive = Proxy(archive, ctx.tracer, "archive", ("fetch",))
    app = DatalakeHttpApp(engine, archive=archive, storage_url=storage_url)
    model = ReadModel(rows, blobs)

    lat: list[float] = []
    by_kind: dict[str, list] = {}

    def call(req: dict, path: str, query: str, page: int):
        ctx.attempted += 1
        if ctx.tracer is not None:
            ctx.tracer.request_id = f"r{ctx.attempted}"
        with ctx.op(ROUTE_PHASE[req["kind"]]), \
                ctx.span("http_api.request", route=req["kind"]):
            t = time.perf_counter()
            status, body = _wsgi(app, path, query)
            dt = time.perf_counter() - t
        phase = ROUTE_PHASE[req["kind"]]
        ctx.rows_returned[phase] = ctx.rows_returned.get(phase, 0) + (
            0 if status != 200 else len(json.loads(body)["records"])
            if req["kind"] in ("by_time", "by_work_id") else 1)
        before = ctx.failed
        nxt = _check_read(ctx, model, req, page, status, body)
        ctx.failed = min(ctx.failed, before + 1)  # one failure per call
        return dt, nxt

    def serve(reqs, t0=None) -> None:
        """Send ``reqs``, following cursors; with ``t0``, time them and
        stop when the run is done."""
        for req in reqs:
            path, query = _route(req)
            page = 0
            while True:
                dt, nxt = call(req, path, query, page)
                if t0 is not None:
                    lat.append(dt)
                    by_kind.setdefault(req["kind"], []).append(dt * 1000)
                    if ctx.done(t0, len(lat)):
                        return
                if nxt is None:
                    break
                u = urlsplit(nxt)
                path, query, page = u.path, u.query, page + 1

    t = time.perf_counter()
    serve(gen.request_cycle(ctx.seed, 0, ctx.anchor_ms, rows,
                            blobs)[:READ_WARMUP])
    ctx.layer["setup.warmup_s"] = time.perf_counter() - t

    ctx.t_first_op = time.perf_counter()
    t0 = time.perf_counter()
    ctx.measuring = True
    cycle = 1
    while not ctx.done(t0, len(lat)):
        serve(gen.request_cycle(ctx.seed, cycle, ctx.anchor_ms, rows, blobs),
              t0)
        cycle += 1
    wall = time.perf_counter() - t0
    ctx.windows.append((time.time() - wall, time.time()))
    lat_ms = sorted(x * 1000 for x in lat)
    ctx.samples = len(lat_ms)
    p50_by_kind = {k: statistics.median(v) for k, v in by_kind.items()}
    # the routes' latencies differ several-fold, so a median over all
    # calls would fall on whichever route the assumed mix puts in the
    # middle; the geometric mean of the per-route medians does not depend
    # on the shares and moves with every route (the rare misses left out)
    routes = [v for k, v in p50_by_kind.items() if not k.startswith("miss")]
    ctx.report.update({
        "requests": len(lat_ms),
        "requests_by_kind": {k: len(v) for k, v in by_kind.items()},
        "p50_ms_by_kind": {k: round(v, 1) for k, v in p50_by_kind.items()},
        "read_p50_ms": statistics.median(lat_ms),
        "read_p90_ms": lat_ms[int(0.9 * (len(lat_ms) - 1))],
        "requests_per_s": len(lat_ms) / wall,
    })
    return statistics.geometric_mean(routes)


# -- ingest_read: streaming ingest -------------------------------------------

class IngestModel:
    """Replace-iff-newer model of what the ingester must commit."""

    def __init__(self, seed_rows: list[dict]):
        self.seed_ids = {r["id"] for r in seed_rows}
        self.ids: set[str] = set()
        self.latest = {}
        for r in seed_rows:
            self._offer(r)

    def _offer(self, r: dict) -> None:
        k = (r["what"], r["where"])
        if k not in self.latest or _latest_key(r) > _latest_key(self.latest[k]):
            self.latest[k] = r

    def batch(self, events: list[dict]) -> int:
        """Apply one micro-batch; returns the file rows it commits."""
        from datalake_spark.streaming.ingest import SUPPORTED_EVENTS

        newest: dict[str, dict] = {}
        for e in events:
            if (e["event_name"] in SUPPORTED_EVENTS
                    and e["event_version"].startswith("2.")
                    and e["metadata"] is not None):
                cur = newest.get(e["file_id"])
                if cur is None or e["event_time"] > cur["event_time"]:
                    newest[e["file_id"]] = e
        for e in newest.values():
            self.ids.add(e["file_id"])
            self._offer(dict(e["metadata"], create_time=e["event_time"]))
        return len(newest)


def _iso_s(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def _drain_stream(ctx: Ctx, cat, seed_rows: list) -> float:
    """Stream event files into ``cat`` (which holds ``seed_rows``), check
    the end state and compact; returns file rows committed per second."""
    from datalake_spark.schema import INGEST_EVENT_SCHEMA
    from datalake_spark.streaming.ingest import StreamingIngester

    p = gen.INGEST_STREAM
    model = IngestModel(seed_rows)

    landing = ctx.path("landing")
    os.makedirs(landing)
    batches: list[list[dict]] = []

    def land() -> None:
        k = len(batches)
        events = gen.event_batch(ctx.seed, k, ctx.anchor_ms)
        batches.append(events)
        tmp = os.path.join(landing, f".b{k:05d}.json")
        with open(tmp, "wb") as fh:
            fh.write(gen.event_lines(events))
        os.rename(tmp, os.path.join(landing, f"b{k:05d}.json"))

    ingester = StreamingIngester(ctx.spark, cat)
    stream = (ctx.spark.readStream.schema(INGEST_EVENT_SCHEMA)
              .option("maxFilesPerTrigger", 1).json(landing))
    for _ in range(INGEST_LOOKAHEAD):
        land()
    # a processing-time trigger rather than availableNow: the client keeps
    # the backlog INGEST_LOOKAHEAD files ahead and stops landing after the
    # last timed batch's file, so the stream never idles
    query = ingester.start_stream(stream, ctx.path("checkpoint"),
                                  available_now=False,
                                  trigger_interval="0 seconds")
    progress: list[dict] = []

    def wait_batch(batch_id: int) -> None:
        while True:
            lp = query.lastProgress
            if lp is not None and lp["batchId"] >= batch_id and (
                    not progress or progress[-1]["batchId"] < lp["batchId"]):
                progress.append(lp)
            if progress and progress[-1]["batchId"] >= batch_id:
                return
            if query.exception() is not None or not query.isActive:
                raise RuntimeError(f"stream stopped: {query.exception()}")
            time.sleep(0.005)

    try:
        t = time.perf_counter()
        for k in range(INGEST_WARMUP):
            wait_batch(k)
            model.batch(batches[k])
            land()
        ctx.report["ingest_warmup_s"] = time.perf_counter() - t
        t0 = time.perf_counter()
        n, rows_measured = INGEST_WARMUP, 0
        while True:
            wait_batch(n)
            rows_measured += model.batch(batches[n])
            if len(batches) < INGEST_WARMUP + INGEST_BATCHES:
                land()
            if n >= len(batches) - 1:
                break
            n += 1
        wall = time.perf_counter() - t0
        ctx.windows.append((time.time() - wall, time.time()))
    finally:
        query.stop()
    measured = [x for x in progress if x["batchId"] >= INGEST_WARMUP]
    if len(progress) != len(batches):
        ctx.check(False, f"{len(progress)} progress events for "
                  f"{len(batches)} batches (one was missed or merged)")
    for prog in progress:
        want = len(batches[prog["batchId"]])
        ctx.check(prog["numInputRows"] == want,
                  f"batch {prog['batchId']}: {prog['numInputRows']} rows, "
                  f"want {want}")
    ctx.attempted += len(progress)

    def trig(prog):
        return prog["durationMs"]["triggerExecution"]

    if ctx.tracer is not None:
        for prog in progress:
            start = _iso_s(prog["timestamp"])
            b = ctx.tracer.add("streaming.ingest.batch", start,
                               start + trig(prog) / 1000.0,
                               batch=prog["batchId"])
            # spans the batch body recorded on the stream's threads
            for s in ctx.tracer.spans:
                if (s["parent"] is None and s is not b
                        and b["start"] <= s["start"] <= b["end"]):
                    s["parent"] = b["id"]
            if prog["batchId"] >= INGEST_WARMUP:
                ctx.op_spans.append({
                    "phase": "ingest.batch",
                    "group": f"{ingester.job_group}-epoch-{prog['batchId']}",
                    "start": b["start"], "end": b["end"]})
        for d, key in (("add_batch", "addBatch"),
                       ("query_planning", "queryPlanning"),
                       ("wal_commit", "walCommit"), ("get_batch", "getBatch")):
            ctx.layer[f"streaming.ingest.{d}_ms_p50"] = statistics.median(
                prog["durationMs"].get(key, 0) for prog in measured)
        ctx.layer["streaming.ingest.rows_per_event"] = rows_measured / max(
            1, sum(prog["numInputRows"] for prog in measured))

    # end state: committed ids, latest table, fsck, compaction
    ctx.attempted += 1  # the compaction
    got_ids = {r["id"] for r in cat.files().select("id").distinct().collect()}
    ctx.check(got_ids - model.seed_ids == model.ids,
              f"committed ids: {len(got_ids - model.seed_ids)} vs "
              f"{len(model.ids)} unique ok ids delivered")
    got_latest = {(r["what"], r["where"]): (r["id"], r["start"], r["create_time"])
                  for r in cat.latest_table().collect()}
    want_latest = {k: (r["id"], r["start"], r["create_time"])
                   for k, r in model.latest.items()}
    ctx.check(got_latest == want_latest, "latest table differs from the "
              "replace-iff-newer model")
    ctx.check(cat.fsck()["ok"], "fsck before compaction")
    counts = cat.partition_file_counts()
    ctx.layer["catalog.max_files_per_partition"] = max(counts.values())
    with ctx.op("ingest.compact"):
        t = time.perf_counter()
        ran = cat.maybe_compact(max_files_per_partition=p["compact_max_files"])
        ctx.layer["catalog.compact_s"] = time.perf_counter() - t
    ctx.check(ran, "maybe_compact did not compact")
    ctx.check(cat.fsck()["ok"], "fsck after compaction")
    ctx.report.update({
        "batches": len(measured), "rows_committed": rows_measured,
        "batch_ms": [trig(prog) for prog in measured],
        "batch_p50_ms": statistics.median(trig(prog) for prog in measured),
        "ingest_rows_per_s": rows_measured / wall,
        "compacted": ran, "live_rows": cat.files().count(),
    })
    return rows_measured / wall


# -- corpus_curation ----------------------------------------------------------

def _vec_rows(docs: list[dict]) -> list[tuple]:
    return [(d["doc_id"], d["embedding"]) for d in docs]


def _check_shards(ctx: Ctx, manifest: dict, shards: list, by_id: dict,
                  params: dict) -> None:
    """The exported shards against the manifest and the curation rules."""
    ctx.check(manifest["n_rows"] == len(shards),
              f"manifest n_rows {manifest['n_rows']} != {len(shards)} rows "
              "in the shards")
    ctx.check(manifest["curation"]["n_input"] == params["docs"],
              "manifest n_input != docs generated")
    texts: dict[str, int] = {}
    for r in shards:
        d = by_id.get(r["doc_id"])
        if not ctx.check(d is not None and d["text"] == r["text"],
                         f"doc {r['doc_id']}: not an input doc"):
            continue
        n = len(d["text"].split(" "))
        ctx.check(d["lang"] == "en" and 20 <= n <= 200,
                  f"doc {r['doc_id']}: kept despite lang {d['lang']} or "
                  f"{n} words")
        other = texts.setdefault(d["text"], r["doc_id"])
        ctx.check(other == r["doc_id"], f"docs {other} and {r['doc_id']}: "
                  "exact duplicates both kept")


def _check_semdedup(ctx: Ctx, verdicts: list, ids: set) -> set:
    """One verdict per input vector; every dropped vector names a kept
    canonical in its own cluster.  Returns the kept ids."""
    by_id = {r["vec_id"]: r for r in verdicts}
    ctx.check(set(by_id) == ids and len(verdicts) == len(ids),
              f"semantic_dedup: {len(verdicts)} verdicts for {len(ids)} "
              "vectors")
    kept = {i for i, r in by_id.items() if r["keep"]}
    for i, r in by_id.items():
        if r["keep"]:
            ctx.check(r["canonical"] == i, f"vector {i}: kept but "
                      f"canonical {r['canonical']}")
            continue
        c = by_id.get(r["canonical"])
        ctx.check(c is not None and c["keep"] and c["cluster"] == r["cluster"]
                  and r["canonical"] < i,
                  f"vector {i}: dropped for canonical {r['canonical']}")
    return kept


def corpus_curation(ctx: Ctx) -> dict:
    import numpy as np
    from pyspark.sql import functions as F

    from datalake_spark.operators.ann_index import IvfPqIndex
    from datalake_spark.operators.dedup import semantic_dedup
    from datalake_spark.pipeline import curate_and_export

    p = gen.CORPUS_CURATION
    docs = gen.corpus(ctx.seed)
    by_id = {d["doc_id"]: d for d in docs}
    # the corpus is landed as parquet in set-up, as a curation job would
    # find it: a DataFrame over a Python list goes through Python workers
    # on every action and made curate_and_export take 60 % longer
    ctx.spark.createDataFrame(
        [(d["doc_id"], d["text"], d["lang"], d["embedding"]) for d in docs],
        "doc_id long, text string, lang string, embedding array<double>",
    ).write.parquet(ctx.path("corpus"))
    corpus = ctx.spark.read.parquet(ctx.path("corpus"))
    shard_dir = ctx.path("shards")
    index = IvfPqIndex(ctx.spark, ctx.path("index"),
                       num_centroids=p["num_centroids"],
                       store=ctx.store("index"))
    vec_schema = "vec_id long, embedding array<double>"
    took: dict[str, float] = {}

    @contextlib.contextmanager
    def phase(name: str, span: str):
        with ctx.op(name), ctx.span(span):
            t = time.perf_counter()
            yield
            took[name] = time.perf_counter() - t

    # the three batch phases run once, cold, as a curation job would
    ctx.t_first_op = time.perf_counter()
    t0 = time.perf_counter()
    ctx.measuring = True
    ctx.attempted += 3
    with phase("curate.export", "pipeline.curate_and_export"):
        manifest = curate_and_export(corpus, shard_dir, p["shards"])
    shards = ctx.spark.read.parquet(shard_dir).select(
        "doc_id", "text").collect()
    _check_shards(ctx, manifest, shards, by_id, p)

    with phase("curate.semdedup", "operators.dedup.semantic_dedup"):
        emb = ctx.spark.read.parquet(shard_dir).select(
            F.col("doc_id").alias("vec_id"), "embedding")
        verdicts = semantic_dedup(
            emb, k=p["semdedup_k"],
            threshold=p["semdedup_threshold"]).collect()
    kept = _check_semdedup(ctx, verdicts, {r["doc_id"] for r in shards})

    indexed = sorted(kept)
    with phase("ann.build", "operators.ann_index.build"):
        index.build(emb.where(F.col("vec_id").isin(indexed)))
    batch_s = time.perf_counter() - t0

    # closed-loop single-query searches for the run's seconds, after one
    # untimed search: the first search runs its plan cold and takes a
    # third longer, and whether it fell among the five to seven timed
    # ones would still move the median
    mat = np.array([by_id[i]["embedding"] for i in indexed])
    k = p["search_k"]
    lat: list[float] = []
    recall: list[float] = []
    t1 = None
    for qid in gen.search_queries(ctx.seed, indexed, 10_000):
        q = ctx.spark.createDataFrame(_vec_rows([by_id[qid]]), vec_schema)
        ctx.attempted += 1
        if t1 is None:
            with ctx.span("operators.ann_index.search", warmup=True):
                t = time.perf_counter()
                got = index.search(q, k=k).collect()
                ctx.report["search_warmup_ms"] = (
                    time.perf_counter() - t) * 1000
        else:
            with phase("ann.search", "operators.ann_index.search"):
                t = time.perf_counter()
                got = index.search(q, k=k).collect()
                lat.append(time.perf_counter() - t)
        ranks = sorted(r["rk"] for r in got)
        ids = {r["c_id"] for r in got}
        ctx.check(ranks == list(range(1, k + 1)) and len(ids) == k
                  and ids <= kept,
                  f"search {qid}: ranks {ranks}, {len(ids)} distinct ids")
        d2 = ((mat - mat[indexed.index(qid)]) ** 2).sum(axis=1)
        want = {indexed[j] for j in np.argsort(d2, kind="stable")[:k]}
        recall.append(len(ids & want) / k)
        if t1 is None:
            t1 = time.perf_counter()
        elif ctx.done(t1, len(lat)):
            break
    search_s = time.perf_counter() - t1
    ctx.windows.append((time.time() - (time.perf_counter() - t0),
                        time.time()))

    planted_exact = sum(1 for d in docs if d["exact"])
    sem_pairs = [(d["doc_id"], d["sem_of"]) for d in docs
                 if d["sem_of"] is not None
                 and {d["doc_id"], d["sem_of"]} <= {r["doc_id"]
                                                     for r in shards}]
    lat_ms = [x * 1000 for x in lat]
    ctx.samples = len(lat_ms)
    search_p50 = statistics.median(lat_ms)
    ctx.layer.update({
        "pipeline.curate_and_export_s": took["curate.export"],
        "pipeline.kept_frac": len(shards) / len(docs),
        "operators.dedup.semantic_dedup_s": took["curate.semdedup"],
        "operators.dedup.semantic_kept_frac": len(kept) / len(shards),
        "operators.ann_index.build_s": took["ann.build"],
        "operators.ann_index.search_ms_p50": search_p50,
        "operators.ann_index.recall_at_10": statistics.mean(recall),
    })
    ctx.report.update({
        "docs": len(docs), "kept_after_curation": len(shards),
        "kept_after_semdedup": len(kept),
        "planted_exact_copies": planted_exact,
        "planted_semantic_pairs_caught": sum(
            1 for a, b in sem_pairs if not (a in kept and b in kept)),
        "planted_semantic_pairs": len(sem_pairs),
        "curate_docs_per_s": len(docs) / took["curate.export"],
        "semdedup_docs_per_s": len(shards) / took["curate.semdedup"],
        "index_vectors_per_s": len(indexed) / took["ann.build"],
        "search_ms": [round(x, 1) for x in lat_ms],
        "search_p50_ms": search_p50,
        "search_recall_at_10": statistics.mean(recall),
        "search_s": search_s,
    })
    return {
        "op_p50_ms": search_p50,
        "work_per_s": len(docs) / batch_s,
        "bytes_per_row": (_dir_bytes(shard_dir) + _dir_bytes(
            ctx.path("index"))) / len(shards),
    }


WORKLOADS = {"ingest_read": ingest_read, "corpus_curation": corpus_curation}
