"""Metric names, units and directions, read from BENCHMARK.json at the
checkout root, plus the phase and operation names the per-layer metrics
are built from."""

from __future__ import annotations

import json
import os
import re

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
BENCHMARK = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "BENCHMARK.json")

with open(BENCHMARK) as _fh:
    _B = json.load(_fh)

WORKLOADS = tuple(w["name"] for w in _B["workloads"])
# name, unit, better, bound (share of the parent's median)
END_TO_END = tuple((m["name"], m["unit"], m["better"], m["bound"])
                   for m in _B["end_to_end"])
# name, unit, better
PER_LAYER = tuple((m["name"], m["unit"], m["better"])
                  for m in _B["per_layer"])

READ_PHASES = ("read.by_time", "read.by_work_id", "read.latest",
               "read.by_id", "read.fetch")
INGEST_PHASES = ("ingest.batch", "ingest.compact")
CURATE_PHASES = ("curate.export", "curate.semdedup", "ann.build",
                 "ann.search")
SPARK_PHASES = READ_PHASES + INGEST_PHASES + CURATE_PHASES
QUERY_OPS = ("by_time", "by_work_id", "latest", "by_id", "fetch_page")
# query op -> the read phase whose input records it scans
SCAN_PHASE = {"by_time": "read.by_time", "by_work_id": "read.by_work_id",
              "latest": "read.latest", "by_id": "read.by_id"}
STORE_VERBS = ("get", "put", "put_if_absent", "list", "delete", "copy")
SPARK_COUNTERS = ("jobs", "task_cpu_s", "max_task_s", "records_read",
                  "shuffle_bytes", "spill_bytes", "driver_gap_s")
