"""Seeded input generators.  Pure Python: no Spark, no clock, no IO.

The same (seed, anchor, parameters) always yields byte-identical inputs.
``anchor_ms`` is the UTC midnight the timestamps hang off; run.py passes
the midnight of the run so the engine's now-relative 14-day ``latest``
lookback sees the same bucket structure on every day.
"""

from __future__ import annotations

import json
import random

DAY_MS = 24 * 60 * 60 * 1000
HOUR_MS = 60 * 60 * 1000

# Workload parameters; perfbench/README.md describes them.
CATALOG_READ = {
    "files": 4000,
    "whats": 4,
    "wheres": 12,
    "days": 12,  # (what, day) partitions = whats * days
    "work_ids": 120,
    "blob_frac": 0.25,
    "blob_bytes": [64, 512],
    "index_buckets": 8,
    "page_size": 100,
    # one cycle of the closed-loop request mix.  No usage data says how
    # often clients use each route, so the shares are assumed: every
    # request kind equally often, plus one miss in 21 requests (about
    # 5 %).  Each by_time window holds two pages, so it makes two calls
    # (the second follows the cursor): 25 calls per cycle.
    "mix": {"by_time": 4, "by_work_id": 4, "latest": 4, "metadata": 4,
            "data": 4, "miss": 1},
}

# event files streamed into the CATALOG_READ catalog after the reads
INGEST_STREAM = {
    "whats": 4,
    "wheres": 12,
    "work_ids": 120,
    "events_per_batch": 1000,
    "redelivery_frac": 0.03,
    "unsupported_frac": 0.01,
    "out_of_order_frac": 0.05,
    "compact_max_files": 4,
}


CORPUS_CURATION = {
    "docs": 200,
    # token ranks are Zipf-distributed: p(rank r) ~ 1 / r ** zipf_s over
    # the vocabulary; stopwords ("the", "a") are mixed in at stop_frac
    "vocab": 2000,
    "zipf_s": 1.0,
    "stop_frac": 0.12,
    "words": [30, 120],
    # planted near-dup texts: a copy of an earlier doc with edit_frac of
    # its tokens replaced; exact_share of them are exact copies
    "near_dup_frac": 0.15,
    "edit_frac": 0.03,
    "exact_share": 0.34,
    # planted semantic dups: an earlier doc's unit embedding plus
    # Gaussian noise of semantic_noise per dimension, renormalized
    "semantic_dup_frac": 0.10,
    "semantic_noise": 0.01,
    "non_en_frac": 0.03,
    "short_frac": 0.02,
    "short_words": [5, 15],
    "dim": 64,
    "shards": 4,
    "semdedup_k": 2,  # two clusters, so pairs are only sought within one
    "semdedup_threshold": 0.97,
    "num_centroids": 8,
    "search_k": 10,
}


def _hex(rng: random.Random, bits: int = 128) -> str:
    return "%0*x" % (bits // 4, rng.getrandbits(bits))


def file_row(rng: random.Random, start: int, params: dict,
             storage_url: str) -> dict:
    """One ``files`` row in FIXTURES §1 shape (NULL end with p=0.2,
    work_id NULL with p=0.5, intervals up to two days)."""
    fid = _hex(rng)
    w = rng.randrange(params["whats"])
    s = rng.randrange(params["wheres"])
    end = None if rng.random() < 0.2 else start + rng.randrange(2 * DAY_MS)
    work_id = (None if rng.random() < 0.5
               else f"job-{rng.randrange(params['work_ids'])}")
    return {
        "version": 0,
        "start": start,
        "end": end,
        "what": f"what{w}",
        "where": f"site{s}",
        "id": fid,
        "hash": _hex(rng),
        "path": f"/var/log/what{w}/{fid[:8]}.log",
        "work_id": work_id,
        "url": f"{storage_url}/{fid}/data",
        "create_time": start + 1 + rng.randrange(10 * 60 * 1000),
        "size": 0,
    }


def catalog_rows(seed: int, anchor_ms: int, storage_url: str,
                 params: dict = CATALOG_READ) -> tuple[list[dict], dict]:
    """Files rows for the read workload plus ``{id: blob bytes}`` for the
    blob-backed share.  Starts fall in the ``days`` before the anchor."""
    rng = random.Random(f"catalog-{seed}")
    rows, blobs = [], {}
    lo, hi = params["blob_bytes"]
    for _ in range(params["files"]):
        start = anchor_ms - 1 - rng.randrange(params["days"] * DAY_MS)
        row = file_row(rng, start, params, storage_url)
        if rng.random() < params["blob_frac"]:
            blob = rng.randbytes(rng.randrange(lo, hi))
            blobs[row["id"]] = blob
            row["size"] = len(blob)
        rows.append(row)
    return rows, blobs


def overlapping(rows: list[dict], what: str, start: int, end: int) -> list[dict]:
    """Rows of ``what`` whose [start, end or start] meets [start, end]."""
    return [r for r in rows if r["what"] == what and r["start"] <= end
            and (r["end"] if r["end"] is not None else r["start"]) >= start]


def request_cycle(seed: int, cycle: int, anchor_ms: int, rows: list[dict],
                  blobs: dict, params: dict = CATALOG_READ) -> list[dict]:
    """One cycle of the request mix (closed loop, one client).  Parameters
    come from the generated rows, so every answer is known.  The order of
    kinds is the same in every cycle and for every seed, and each time
    window holds between one and two pages of rows, so a cycle always
    makes the same number of HTTP calls of each kind.  The miss
    alternates between an unknown id and a (what, where) pair with no
    files."""
    rng = random.Random(f"requests-{seed}-{cycle}")
    with_wid = [r for r in rows if r["work_id"] is not None]
    with_blob = [r for r in rows if r["id"] in blobs]
    pairs = sorted({(r["what"], r["where"]) for r in rows})
    page = params["page_size"]
    left = dict(params["mix"])
    reqs = []
    while any(left.values()):
        for kind in params["mix"]:
            if not left[kind]:
                continue
            left[kind] -= 1
            if kind == "by_time":
                reqs.append(_time_window(rng, rows, page, params, anchor_ms))
            elif kind == "by_work_id":
                r = rng.choice(with_wid)
                reqs.append({"kind": kind, "what": r["what"],
                             "work_id": r["work_id"]})
            elif kind == "latest":
                what, where = rng.choice(pairs)
                reqs.append({"kind": kind, "what": what, "where": where})
            elif kind in ("metadata", "data"):
                r = rng.choice(with_blob if kind == "data" else rows)
                reqs.append({"kind": kind, "id": r["id"]})
            elif (cycle + left[kind]) % 2 == 0:
                reqs.append({"kind": "miss_id", "id": _hex(rng)})
            else:
                reqs.append({"kind": "miss_latest", "what": "what0",
                             "where": "nowhere"})
    return reqs


def _time_window(rng: random.Random, rows: list[dict], page: int,
                 params: dict, anchor_ms: int) -> dict:
    """A window starting on a whole hour, as short as holds more than one
    page of rows; redrawn until it also holds less than two pages."""
    while True:
        what = f"what{rng.randrange(params['whats'])}"
        start = (anchor_ms - rng.randrange(1, params["days"]) * DAY_MS
                 + rng.randrange(24) * HOUR_MS)
        for hours in range(1, 48):
            n = len(overlapping(rows, what, start, start + hours * HOUR_MS))
            if n > page:
                break
        if n < 2 * page:
            return {"kind": "by_time", "what": what, "start": start,
                    "end": start + hours * HOUR_MS}


def _base_event(seed: int, batch: int, i: int, anchor_ms: int,
                params: dict) -> dict:
    """Event ``i`` of backlog file ``batch`` before any re-delivery: a
    pure function of its coordinates, so a later file can re-deliver it
    without keeping state."""
    rng = random.Random(f"event-{seed}-{batch}-{i}")
    # in-order starts advance through the hour after the anchor minus a
    # day; out-of-order starts land days earlier
    start = anchor_ms - DAY_MS + batch * 60_000 + i * 10 + rng.randrange(10)
    if rng.random() < params["out_of_order_frac"]:
        start -= rng.randrange(1, 5) * DAY_MS
    meta = file_row(rng, start, params, "")
    for k in ("url", "create_time", "size"):
        meta.pop(k)
    name = ("ObjectRemoved:Delete"
            if rng.random() < params["unsupported_frac"]
            else rng.choice(["ObjectCreated:Put",
                             "ObjectCreated:CompleteMultipartUpload"]))
    return {
        "event_name": name,
        "event_version": "2.1",
        "bucket_name": "ingest-bucket",
        "key_name": f"{meta['id']}/data",
        "event_time": start + 1000 + i,
        "file_id": meta["id"],
        "metadata": meta,
        "size": rng.randrange(1, 1 << 20),
    }


def event_batch(seed: int, batch: int, anchor_ms: int,
                params: dict = INGEST_STREAM) -> list[dict]:
    """Backlog file ``batch``: ``events_per_batch`` S3 events of which
    about ``redelivery_frac`` re-deliver an event of this or one of the two
    previous files (with a later event_time)."""
    rng = random.Random(f"batch-{seed}-{batch}")
    n = params["events_per_batch"]
    out = []
    for i in range(n):
        if out and rng.random() < params["redelivery_frac"]:
            src_batch = rng.randrange(max(0, batch - 2), batch + 1)
            src_i = rng.randrange(i if src_batch == batch else n)
            ev = _base_event(seed, src_batch, src_i, anchor_ms, params)
            ev["event_time"] += 5000 + rng.randrange(5000)
        else:
            ev = _base_event(seed, batch, i, anchor_ms, params)
        out.append(ev)
    return out


def event_lines(events: list[dict]) -> bytes:
    return "".join(json.dumps(e, sort_keys=True) + "\n"
                   for e in events).encode()


def corpus(seed: int, params: dict = CORPUS_CURATION) -> list[dict]:
    """Docs (doc_id, text, lang, embedding) with planted near-dup texts,
    semantic dups, non-``en`` and too-short docs.  Each doc records what
    was planted: ``dup_of`` (a text copy or near copy of that doc),
    ``exact`` (the copy is exact) and ``sem_of`` (an embedding near that
    doc's)."""
    import math

    rng = random.Random(f"corpus-{seed}")
    vocab = [f"tok{i}" for i in range(params["vocab"])]
    cum, total = [], 0.0
    for r in range(1, params["vocab"] + 1):
        total += 1.0 / r ** params["zipf_s"]
        cum.append(total)

    def words(n: int) -> list[str]:
        return [rng.choice(("the", "a")) if rng.random() < params["stop_frac"]
                else rng.choices(vocab, cum_weights=cum)[0]
                for _ in range(n)]

    def unit(v: list[float]) -> list[float]:
        norm = math.sqrt(sum(x * x for x in v))
        return [x / norm for x in v]

    docs: list[dict] = []
    for i in range(params["docs"]):
        d = {"doc_id": i, "lang": "en", "dup_of": None, "exact": False,
             "sem_of": None}
        originals = [x for x in docs if x["dup_of"] is None
                     and x["sem_of"] is None]
        roll = rng.random()
        if originals and roll < params["near_dup_frac"]:
            src = rng.choice(originals)
            toks = src["text"].split(" ")
            d["dup_of"] = src["doc_id"]
            d["exact"] = rng.random() < params["exact_share"]
            if not d["exact"]:
                toks = [rng.choice(vocab) if rng.random() < params["edit_frac"]
                        else t for t in toks]
            d["text"] = " ".join(toks)
        else:
            lo, hi = (params["short_words"] if rng.random()
                      < params["short_frac"] else params["words"])
            d["text"] = " ".join(words(rng.randrange(lo, hi)))
        if rng.random() < params["non_en_frac"]:
            d["lang"] = "de"
        vec = [rng.gauss(0.0, 1.0) for _ in range(params["dim"])]
        if (originals and d["dup_of"] is None
                and rng.random() < params["semantic_dup_frac"]
                / (1 - params["near_dup_frac"])):
            src = rng.choice(originals)
            d["sem_of"] = src["doc_id"]
            vec = [x + rng.gauss(0.0, params["semantic_noise"])
                   for x in src["embedding"]]
        d["embedding"] = unit(vec)
        docs.append(d)
    return docs


def search_queries(seed: int, indexed: list[int], n: int) -> list[int]:
    """``n`` ids of indexed vectors to search for, in order."""
    rng = random.Random(f"queries-{seed}")
    return [rng.choice(indexed) for _ in range(n)]
