"""Per-stage profile of declared queries (guide §1: measure first).

Runs each named query through the noop sink on an event-log-enabled
session, then parses the Spark event log into a per-query job/stage
board: stage wall time, task count, shuffle read/write bytes, input
bytes.  This is the "open the Stages tab" loop from the optimization
guide, usable in a sandbox with spark.ui.enabled=false.

Usage: python tools/profile_query.py [--sf SF_DIR] [--explain] q1 q2 ...
       python tools/profile_query.py --headline       # whole headline set
"""

from __future__ import annotations

import json
import os
import shlex
import sys
import time

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

EVDIR = "/tmp/sparkevents"


def main() -> None:
    args = [a for a in sys.argv[1:]]
    sf_dir = "/root/testdata/sf0.1"
    explain = False
    names: list[str] = []
    passes = 1
    i = 0
    while i < len(args):
        a = args[i]
        if a == "--sf":
            sf_dir = args[i + 1]
            i += 2
        elif a == "--explain":
            explain = True
            i += 1
        elif a == "--two-pass":
            passes = 2
            i += 1
        elif a == "--headline":
            from bench import HEADLINE

            names.extend(HEADLINE)
            i += 1
        else:
            names.append(a)
            i += 1

    os.makedirs(EVDIR, exist_ok=True)
    # the event log must be on before the JVM starts
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([
        "--conf", "spark.eventLog.enabled=true",
        "--conf", f"spark.eventLog.dir=file:{EVDIR}",
        "--conf", "spark.eventLog.compress=false",
        "--conf", "spark.eventLog.rolling.enabled=false",
        "pyspark-shell",
    ])
    from datalake_spark.session import get_spark

    spark = get_spark("profile")

    from datalake_spark.queries import registry, load
    from datalake_spark.queries.batteries import BATTERY_SUBS

    qs = {q.name: q.build for q in registry()}
    for subs in BATTERY_SUBS.values():
        for sub in subs:
            qs.setdefault(sub.q.name, sub.q.build)

    # warm scans + codegen/UDF warmup, same as bench.py
    for t in ("lineitem", "orders", "documents", "embeddings", "events",
              "customer", "part", "supplier", "nation", "region"):
        load(spark, sf_dir, t).write.mode("overwrite").format("noop").save()
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    @F.pandas_udf(T.LongType())
    def _warm(x: pd.Series) -> pd.Series:
        return x

    spark.range(10000).repartition(64).select(_warm("id")).write.mode(
        "overwrite"
    ).format("noop").save()

    marks: list[tuple[str, float, float]] = []
    for name in names:
        for p in range(passes):
            spark.catalog.clearCache()
            spark.sparkContext.setJobDescription(f"PROFILE:{name}:{p}")
            t0 = time.time()
            df = qs[name](spark, sf_dir)
            if explain and p == 0:
                print(f"==== PLAN {name} ====")
                print(df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"))
            df.write.mode("overwrite").format("noop").save()
            t1 = time.time()
            marks.append((f"{name}:{p}", t0, t1))
            print(f"TIMED {name} pass{p}: {t1 - t0:.3f}s", flush=True)
        spark.sparkContext.setJobDescription(None)

    app_id = spark.sparkContext.applicationId
    spark.stop()
    time.sleep(1.0)

    # parse the event log
    evfile = None
    for f in os.listdir(EVDIR):
        if app_id in f:
            evfile = os.path.join(EVDIR, f)
    assert evfile, f"no event log for {app_id} in {EVDIR}"
    if os.path.isdir(evfile):
        parts = sorted(
            os.path.join(evfile, p)
            for p in os.listdir(evfile)
            if p.startswith("events")
        )
    else:
        parts = [evfile]

    def _lines():
        for p in parts:
            with open(p) as fh:
                yield from fh

    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    if True:
        for line in _lines():
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            e = ev.get("Event")
            if e == "SparkListenerJobStart":
                jid = ev["Job ID"]
                desc = ev.get("Properties", {}).get(
                    "spark.job.description", ""
                )
                jobs[jid] = {
                    "desc": desc,
                    "t0": ev["Submission Time"] / 1000.0,
                    "stages": [s["Stage ID"] for s in ev["Stage Infos"]],
                }
            elif e == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["t1"] = ev["Completion Time"] / 1000.0
            elif e == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                sid = si["Stage ID"]
                sub = si.get("Submission Time")
                comp = si.get("Completion Time")
                stages[sid] = {
                    "name": si.get("Stage Name", ""),
                    "tasks": si.get("Number of Tasks", 0),
                    "dur": (comp - sub) / 1000.0 if sub and comp else None,
                }
            elif e == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                st = stages.setdefault(sid, {})
                tm = ev.get("Task Metrics") or {}
                st["task_ms"] = st.get("task_ms", 0) + (
                    tm.get("Executor Run Time", 0)
                )
                srm = tm.get("Shuffle Read Metrics") or {}
                st["sh_read"] = st.get("sh_read", 0) + (
                    srm.get("Remote Bytes Read", 0)
                    + srm.get("Local Bytes Read", 0)
                )
                swm = tm.get("Shuffle Write Metrics") or {}
                st["sh_write"] = st.get("sh_write", 0) + (
                    swm.get("Shuffle Bytes Written", 0)
                )
                im = tm.get("Input Metrics") or {}
                st["input"] = st.get("input", 0) + im.get("Bytes Read", 0)
                pym = tm.get("Executor Deserialize Time", 0)
                st["deser_ms"] = st.get("deser_ms", 0) + pym

    for label, t0, t1 in marks:
        my_jobs = {
            jid: j
            for jid, j in jobs.items()
            if j["desc"] == f"PROFILE:{label.rsplit(':', 1)[0]}:{label.rsplit(':', 1)[1]}"
            and j["t0"] >= t0 - 0.5
            and j.get("t1", 1e18) <= t1 + 0.5
        }
        njobs = len(my_jobs)
        print(f"\n### {label}: {t1 - t0:.3f}s wall, {njobs} jobs")
        gap = None
        last_end = t0
        rows = []
        for jid in sorted(my_jobs):
            j = my_jobs[jid]
            jdur = j.get("t1", t1) - j["t0"]
            sched_gap = j["t0"] - last_end
            last_end = j.get("t1", t1)
            srows = []
            for sid in sorted(j["stages"]):
                st = stages.get(sid)
                if not st or st.get("dur") is None:
                    continue
                srows.append(
                    f"      stage {sid}: {st['dur']:.2f}s {st.get('tasks', '?')}t "
                    f"task_cpu={st.get('task_ms', 0) / 1000.0:.1f}s "
                    f"in={st.get('input', 0) >> 10}K "
                    f"shR={st.get('sh_read', 0) >> 10}K shW={st.get('sh_write', 0) >> 10}K "
                    f"| {st.get('name', '')[:70]}"
                )
            rows.append((jid, jdur, sched_gap, srows))
        for jid, jdur, sched_gap, srows in rows:
            print(f"  job {jid}: {jdur:.2f}s (+{sched_gap:.2f}s gap before)")
            for s in srows:
                print(s)


if __name__ == "__main__":
    main()
