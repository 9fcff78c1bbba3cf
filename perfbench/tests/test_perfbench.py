"""The benchmark's own contract: metric schema, generator determinism,
instrumentation that changes nothing, and exactly repeating store counts."""

from __future__ import annotations

import json
import os
import re

import pytest

from perfbench import gen, schema
from perfbench.tracing import CountingStore, Proxy, Tracer, self_times, \
    union_length

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
ANCHOR = 1_700_006_400_000  # a UTC midnight


# -- metric schema ------------------------------------------------------------

def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_metric_names_and_units_are_well_formed():
    b = _bench()
    assert set(b) == {"command", "paths", "run_seconds", "workloads",
                      "end_to_end", "per_layer"}
    metrics = b["end_to_end"] + b["per_layer"]
    names = [m["name"] for m in metrics] + [w["name"] for w in b["workloads"]]
    assert len(names) == len(set(names))
    for n in names:
        assert schema.NAME_RE.match(n), n
        assert re.fullmatch(r"[A-Za-z0-9_.-]+", n), n
    for m in metrics:
        assert re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", m["unit"]), m
        assert m["better"] in ("lower", "higher")
    for m in b["end_to_end"]:
        assert 0 < m["bound"] <= 0.25
    setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"])
    assert len(b["per_layer"]) <= 128 and 2 <= len(b["workloads"]) <= 8
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"]
               for w in b["workloads"])


def test_every_spark_phase_counter_is_declared():
    names = {n for n, _, _ in schema.PER_LAYER}
    for p in schema.SPARK_PHASES:
        for c in schema.SPARK_COUNTERS:
            assert f"{p}.{c}" in names


# -- generators ---------------------------------------------------------------

def _dump(obj) -> bytes:
    def enc(o):
        if isinstance(o, bytes):
            return o.hex()
        raise TypeError(o)
    return json.dumps(obj, sort_keys=True, default=enc).encode()


def _all_inputs(seed: int) -> bytes:
    rows, blobs = gen.catalog_rows(seed, ANCHOR, "/archive")
    cycles = [gen.request_cycle(seed, c, ANCHOR, rows, blobs)
              for c in range(3)]
    events = [gen.event_lines(gen.event_batch(seed, k, ANCHOR))
              for k in range(3)]
    return _dump([rows, blobs, cycles, [e.decode() for e in events],
                  gen.corpus(seed),
                  gen.search_queries(seed, list(range(50)), 20)])


def test_generators_are_deterministic():
    assert _all_inputs(7) == _all_inputs(7)
    assert _all_inputs(7) != _all_inputs(8)


def test_generated_shapes():
    p = gen.INGEST_STREAM
    events = [e for k in range(4) for e in gen.event_batch(3, k, ANCHOR)]
    n = len(events)
    ids = [e["file_id"] for e in events]
    assert 0.01 < (n - len(set(ids))) / n < 0.06  # re-deliveries
    bad = sum(e["event_name"] == "ObjectRemoved:Delete" for e in events)
    assert 0 < bad / n < 3 * p["unsupported_frac"]
    early = sum(e["metadata"]["start"] < ANCHOR - 2 * gen.DAY_MS
                for e in events)
    assert 0.02 < early / n < 0.1  # out-of-order starts
    rows, blobs = gen.catalog_rows(3, ANCHOR, "/a")
    assert len(rows) == gen.CATALOG_READ["files"]
    assert all(ANCHOR - gen.CATALOG_READ["days"] * gen.DAY_MS <= r["start"]
               < ANCHOR for r in rows)
    cycle = gen.request_cycle(3, 0, ANCHOR, rows, blobs)
    assert len(cycle) == sum(gen.CATALOG_READ["mix"].values())
    docs = [d for s in range(3) for d in gen.corpus(s)]
    n = len(docs)
    assert 0.1 < sum(d["dup_of"] is not None for d in docs) / n < 0.2
    assert 0.05 < sum(d["sem_of"] is not None for d in docs) / n < 0.15
    assert 0.01 < sum(d["lang"] != "en" for d in docs) / n < 0.06
    assert any(len(d["text"].split(" ")) < 20 for d in docs)
    per = gen.CORPUS_CURATION["docs"]
    by_id = {(i // per, d["doc_id"]): d for i, d in enumerate(docs)}
    for i, d in enumerate(docs):
        if d["exact"]:
            assert d["text"] == by_id[(i // per, d["dup_of"])]["text"]
        if d["sem_of"] is not None:
            src = by_id[(i // per, d["sem_of"])]["embedding"]
            assert sum(a * b for a, b in zip(src, d["embedding"])) > 0.99


# -- tracing helpers ----------------------------------------------------------

def test_union_and_self_time():
    assert union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert union_length([(0, 2), (1, 3)], 1.5, 2.5) == 1
    t = Tracer()
    root = t.add("root", 0.0, 10.0)
    t.add("a", 1.0, 4.0, parent=root["id"])
    t.add("b", 3.0, 5.0, parent=root["id"])
    assert self_times(t.spans)[root["id"]] == pytest.approx(6.0)


# -- instrumentation changes no behaviour ---------------------------------------

def _rows():
    return gen.catalog_rows(5, ANCHOR, "/archive",
                            dict(gen.CATALOG_READ, files=300))[0]


def _catalog_answers(cat, rows, src):
    from datalake_spark.query import QueryEngine
    from perfbench.workloads import _build_catalog

    _build_catalog(cat.spark, cat, rows, 8, {}, src)
    eng = QueryEngine(cat.files(), latest_table=cat.latest_table(),
                      work_id_index=cat.work_id_index())
    return eng, {
        "ids": sorted(r["id"] for r in cat.files().select("id").collect()),
        "latest": sorted(tuple(r) for r in cat.latest_table().collect()),
        "fsck": cat.fsck()["ok"],
    }


def test_counting_store_and_proxies_change_nothing(spark, tmp_path):
    from datalake_spark.catalog import Catalog
    from datalake_spark.store import LocalStore

    rows = _rows()
    plain_eng, plain = _catalog_answers(
        Catalog(spark, str(tmp_path / "plain")), rows,
        str(tmp_path / "plain-rows"))
    tracer = Tracer()
    store = CountingStore(LocalStore(str(tmp_path / "counted")), tracer)
    cat = Proxy(Catalog(spark, str(tmp_path / "counted"), store=store),
                tracer, "catalog", ("append", "refresh_latest",
                                    "build_work_id_index"))
    eng, counted = _catalog_answers(cat, rows, str(tmp_path / "counted-rows"))
    assert counted == plain and plain["fsck"]
    assert sum(store.calls.values()) > 0
    assert {s["name"] for s in tracer.spans} >= {
        "catalog.append", "catalog.refresh_latest", "store.put_if_absent"}

    traced = Proxy(eng, tracer, "query", ("by_time", "latest", "by_id",
                                          "fetch_page"),
                   frames=("limit", "collect"))
    r = rows[0]

    def answers(e):
        return (
            [x["id"] for x in e.fetch_page(
                e.by_time(r["what"], r["start"], r["start"] + 3600_000))[0]],
            [x["id"] for x in e.latest(r["what"], r["where"]).collect()],
            [x["id"] for x in e.by_id(r["id"]).limit(1).collect()],
        )

    want = answers(plain_eng)
    assert answers(traced) == want and want[2] == [r["id"]]
    assert "query.by_id.limit.collect" in {s["name"] for s in tracer.spans}


def _traced_run(spark, root: str, workload: str, max_ops: int):
    from perfbench.workloads import WORKLOADS, Ctx

    os.makedirs(root)
    ctx = Ctx(spark, root, 3, 0, ANCHOR, tracer=Tracer(), max_ops=max_ops)
    WORKLOADS[workload](ctx)
    assert ctx.failed == 0, ctx.problems
    return [dict(s.calls, lost=s.lost) for s in ctx.stores]


@pytest.mark.parametrize("workload,max_ops", [("ingest_read", 2),
                                              ("corpus_curation", 1)])
def test_store_calls_repeat_exactly(spark, tmp_path, workload, max_ops):
    a = _traced_run(spark, str(tmp_path / "a"), workload, max_ops)
    b = _traced_run(spark, str(tmp_path / "b"), workload, max_ops)
    assert a == b and any(sum(s.values()) for s in a)
