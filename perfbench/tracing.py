"""Spans, a counting ObjectStore and timing proxies.

Everything here wraps the engine from outside: the proxies forward every
attribute to the wrapped object and only add a span around the methods
they name, so the engine runs exactly as it would unwrapped.
"""

from __future__ import annotations

import contextlib
import threading
import time

from datalake_spark.store import ObjectStore
from perfbench.schema import STORE_VERBS


class Tracer:
    """In-memory spans: (name, start, end, parent, request id).  Times
    are ``time.time()`` seconds so they line up with Spark's event log."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self.request_id: str | None = None

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str, **attrs):
        return _Span(self, name, attrs)

    def add(self, name: str, start: float, end: float, parent=None,
            **attrs) -> dict:
        """Record a span measured elsewhere (stream progress events)."""
        s = {"id": None, "name": name, "start": start, "end": end,
             "parent": parent, "req": self.request_id, **attrs}
        with self._lock:
            s["id"] = len(self.spans)
            self.spans.append(s)
        return s


class _Span:
    def __init__(self, tracer: Tracer, name: str, attrs: dict):
        self.t, self.name, self.attrs = tracer, name, attrs

    def __enter__(self):
        stack = self.t._stack()
        self.rec = self.t.add(self.name, time.time(), 0.0,
                              parent=stack[-1]["id"] if stack else None,
                              **self.attrs)
        stack.append(self.rec)
        return self.rec

    def __exit__(self, *exc):
        self.rec["end"] = time.time()
        if exc[0] is not None:
            self.rec["error"] = exc[0].__name__
        self.t._stack().pop()
        return False


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part of it its children cover."""
    kids: dict[int, list] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered = union_length(kids.get(s["id"], []), s["start"], s["end"])
        out[s["id"]] = max(0.0, (s["end"] - s["start"]) - covered)
    return out


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class CountingStore(ObjectStore):
    """Counts and times every store verb, then delegates.  The derived
    verbs (``exists_prefix``, ``delete_prefix``) stay the base class's,
    so they are counted as the primitive calls they make; ``subdirs`` is
    delegated (a LocalStore also lists empty directories) and counted as
    a ``list``."""

    def __init__(self, inner: ObjectStore, tracer: Tracer | None = None):
        self.inner = inner
        self.url = inner.url
        self.tracer = tracer
        self.calls = dict.fromkeys(STORE_VERBS, 0)
        self.lost = 0  # put_if_absent that found the key taken
        self.busy_s = 0.0
        self.bytes_put = 0
        self._lock = threading.Lock()

    def _call(self, verb: str, fn, *args, nbytes: int = 0):
        span = (self.tracer.span(f"store.{verb}") if self.tracer is not None
                else contextlib.nullcontext())
        t0 = time.time()
        with span:
            out = fn(*args)
        with self._lock:
            self.calls[verb] += 1
            self.busy_s += time.time() - t0
            self.bytes_put += nbytes
            if verb == "put_if_absent" and out is False:
                self.lost += 1
        return out

    def get(self, key):
        return self._call("get", self.inner.get, key)

    def put(self, key, data):
        return self._call("put", self.inner.put, key, data, nbytes=len(data))

    def put_if_absent(self, key, data):
        return self._call("put_if_absent", self.inner.put_if_absent, key,
                          data, nbytes=len(data))

    def delete(self, key):
        return self._call("delete", self.inner.delete, key)

    def list(self, prefix):
        return self._call("list", self.inner.list, prefix)

    def subdirs(self, prefix):
        return self._call("list", self.inner.subdirs, prefix)

    def copy(self, src, dst):
        return self._call("copy", self.inner.copy, src, dst)

    def open_read(self, key):
        return self._call("get", self.inner.open_read, key)

    def open_write(self, key, chunk_size: int = 100 * 1024 * 1024):
        return self._call("put", self.inner.open_write, key, chunk_size)

    def spark_url(self, key):
        return self.inner.spark_url(key)

    def __getattr__(self, name):
        return getattr(self.inner, name)


class Proxy:
    """Forward everything to ``target``; wrap the methods in ``timed`` in
    a span named ``<layer>.<method>``.  With ``frames``, DataFrames the
    timed methods return are wrapped as well, timing those DataFrame
    methods, so the action that runs a query plan (``collect``) is
    attributed to the layer that built it."""

    def __init__(self, target, tracer: Tracer, layer: str, timed: tuple,
                 frames: tuple = ()):
        object.__setattr__(self, "_target", target)
        object.__setattr__(self, "_tracer", tracer)
        object.__setattr__(self, "_layer", layer)
        object.__setattr__(self, "_timed", timed)
        object.__setattr__(self, "_frames", frames)

    def __getattr__(self, name):
        attr = getattr(self._target, name)
        if name not in self._timed or not callable(attr):
            return attr
        tracer, layer, frames = self._tracer, self._layer, self._frames

        def timed(*args, **kwargs):
            with tracer.span(f"{layer}.{name}"):
                out = attr(*args, **kwargs)
            if frames and _is_frame(out):
                return Proxy(out, tracer, f"{layer}.{name}", frames, frames)
            return out

        return timed

    def __setattr__(self, name, value):
        setattr(self._target, name, value)


def _is_frame(obj) -> bool:
    from pyspark.sql import DataFrame

    return isinstance(obj, DataFrame)
