"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload ingest_read --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer ones with
``--trace 1``).  Everything the run writes lives under one per-run
directory in ``.perfbench-tmp/``, removed on exit; a traced run also
writes its spans to ``.perfbench-out/``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TMP = os.path.join(ROOT, ".perfbench-tmp")
OUT = os.path.join(ROOT, ".perfbench-out")
DAY_MS = 24 * 60 * 60 * 1000
# spans whose union is the blocking path of a workload's measured window
ROOT_SPANS = ("http_api.request", "streaming.ingest.batch",
              "pipeline.curate_and_export", "operators.dedup.semantic_dedup",
              "operators.ann_index.build", "operators.ann_index.search")


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def make_run_root() -> str:
    """A fresh per-run directory; roots left by crashed runs (their pid is
    gone) are swept first."""
    os.makedirs(TMP, exist_ok=True)
    for name in os.listdir(TMP):
        pid = name.rsplit("-", 1)[-1]
        if name.startswith("run-") and pid.isdigit() and not _alive(int(pid)):
            shutil.rmtree(os.path.join(TMP, name), ignore_errors=True)
    root = os.path.join(TMP, f"run-{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    for sub in ("tmp", "jtmp", "local", "eventlog"):
        os.makedirs(os.path.join(root, sub))
    return root


def configure_env(root: str, trace: bool) -> None:
    """Point Spark, the JVM and Python's tempfile at the run root, size the
    session to this machine, and switch Spark's event log on only for a
    traced run.  Must run before pyspark starts the JVM."""
    # Spark gets half the cores: the rest serve the Python driver, the
    # JVM's compiler and GC threads, and whatever else shares the host.
    # With every core given to Spark, a second busy process on a 4-core
    # host stretched a search from 2.3 s to 4.3 s; with half, it did not
    # move.
    cpus = max(1, len(os.sched_getaffinity(0)) // 2)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(root, "local")
    os.environ["TMPDIR"] = os.path.join(root, "tmp")
    args = [
        "--driver-java-options",
        # a heap fixed at its maximum: no run-to-run heap resizing; no
        # hsperfdata file, which the JVM would write to /tmp
        "-Xms2g -XX:-UsePerfData "
        f"-Djava.io.tmpdir={os.path.join(root, 'jtmp')} "
        f"-Dderby.system.home={os.path.join(root, 'tmp')}",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(root, 'warehouse')}",
    ]
    if trace:
        args += ["--conf", "spark.eventLog.enabled=true",
                 "--conf", "spark.eventLog.rolling.enabled=false",
                 "--conf", "spark.eventLog.compress=false",
                 "--conf", f"spark.eventLog.dir=file://{root}/eventlog"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def layer_metrics(ctx, session_s: float, groups: dict) -> tuple[dict, dict]:
    """Per-layer figures from the spans, the counting stores and the
    event log; metrics a workload does not exercise read 0."""
    from perfbench import schema
    from perfbench.sparklog import phase_counters
    from perfbench.tracing import self_times, union_length

    spans = ctx.tracer.spans
    m = dict.fromkeys((n for n, _, _ in schema.PER_LAYER), 0.0)
    m["session.get_spark_s"] = session_s
    m.update(ctx.layer)

    def med(xs):
        xs = list(xs)
        return statistics.median(xs) if xs else 0.0

    # spans that start in a measured window; set-up, warm-up and the
    # end-state checks fall outside them
    in_window = [s for s in spans
                 if any(lo <= s["start"] <= hi for lo, hi in ctx.windows)]
    for op in ("append", "refresh_latest"):
        m[f"catalog.{op}_ms_p50"] = med(
            (s["end"] - s["start"]) * 1000 for s in in_window
            if s["name"] == f"catalog.{op}")
    for verb in schema.STORE_VERBS:
        m[f"store.{verb}.calls"] = sum(st.calls[verb] for st in ctx.stores)
    m["store.put_if_absent.lost"] = sum(st.lost for st in ctx.stores)
    m["store.busy_ms"] = sum(st.busy_s for st in ctx.stores) * 1000
    m["store.bytes_put"] = sum(st.bytes_put for st in ctx.stores)

    # query layer: per request, the time in spans of one engine method
    # plus the DataFrame calls on what it returned
    per_req: dict[tuple, float] = {}
    for s in in_window:
        parts = s["name"].split(".")
        if parts[0] == "query":
            key = (s["req"], parts[1])
            per_req[key] = per_req.get(key, 0.0) + s["end"] - s["start"]
    for op in schema.QUERY_OPS:
        m[f"query.{op}.ms_p50"] = med(
            v * 1000 for (_, o), v in per_req.items() if o == op)
    selft = self_times(spans)
    m["http_api.self_ms_p50"] = med(
        selft[s["id"]] * 1000 for s in in_window
        if s["name"] == "http_api.request")
    m["archive.fetch_ms_p50"] = med(
        (s["end"] - s["start"]) * 1000 for s in in_window
        if s["name"] == "archive.fetch")
    # share of the measured windows the requests, batches or curation
    # phases cover
    roots = [(s["start"], s["end"]) for s in spans if s["parent"] is None
             and s["name"] in ROOT_SPANS]
    m["trace.blocking_coverage"] = (
        sum(union_length(roots, lo, hi) for lo, hi in ctx.windows)
        / sum(hi - lo for lo, hi in ctx.windows))

    phases = phase_counters(groups, ctx.op_spans, schema.SPARK_PHASES)
    for p, c in phases.items():
        if c["ops"] == 0:
            continue
        for name in schema.SPARK_COUNTERS:
            m[f"{p}.{name}"] = c[name]
    returned = ctx.rows_returned
    for op, phase in schema.SCAN_PHASE.items():
        ph = [phase] + (["read.fetch"] if op == "by_id" else [])
        rows = sum(returned.get(x, 0) for x in ph)
        recs = sum(phases[x]["records_total"] for x in ph)
        m[f"query.{op}.rows_scanned_per_row"] = recs / rows if rows else 0.0
    undeclared = set(m) - {n for n, _, _ in schema.PER_LAYER}
    if undeclared:
        raise KeyError(f"metrics missing from BENCHMARK.json: {undeclared}")
    return m, phases


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "datalake_spark")):
        print(f"no datalake_spark package under {ROOT}: run from a full "
              "checkout", file=sys.stderr)
        return 2
    # import the benchmark as a package from the checkout root, never its
    # modules as top-level names
    sys.path[:] = [ROOT] + [p for p in sys.path
                            if os.path.abspath(p or ".") != os.path.dirname(
                                os.path.abspath(__file__))]
    from perfbench import schema

    if args.workload not in schema.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of "
              f"{', '.join(schema.WORKLOADS)}", file=sys.stderr)
        return 2

    def on_term(signum, frame):
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, on_term)
    root = make_run_root()
    spark = proc = None
    try:
        configure_env(root, bool(args.trace))
        from datalake_spark.session import get_spark
        from perfbench.sparklog import read_jobs
        from perfbench.tracing import Tracer
        from perfbench.workloads import WORKLOADS, Ctx

        t = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{args.workload}")
        session_s = time.perf_counter() - t
        gateway = spark.sparkContext._gateway
        proc = getattr(gateway, "proc", None)
        anchor = int(time.time() * 1000) // DAY_MS * DAY_MS
        ctx = Ctx(spark, root, args.seed, args.seconds, anchor,
                  tracer=Tracer() if args.trace else None)
        e2e = WORKLOADS[args.workload](ctx)
        rss_kb = (resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
                  + (_vm_hwm_kb(proc.pid) if proc is not None else 0))
        spark.stop()
        spark = None
        # process start to the first timed operation
        e2e = {"setup_s": ctx.t_first_op - T_START, **e2e,
               "peak_rss_mb": rss_kb / 1024}
        units = {n: u for n, u, _, _ in schema.END_TO_END}
        if args.trace:
            layer, phases = layer_metrics(
                ctx, session_s, read_jobs(os.path.join(root, "eventlog")))
            os.makedirs(OUT, exist_ok=True)
            out = os.path.join(
                OUT, f"trace-{args.workload}-seed{args.seed}.json")
            with open(out, "w") as fh:
                json.dump({"workload": args.workload, "seed": args.seed,
                           "traced_end_to_end": e2e, "report": ctx.report,
                           "per_layer": layer, "phases": phases,
                           "spans": ctx.tracer.spans}, fh, indent=1)
            print(f"spans and per-layer metrics written to {out}")
            units = {n: u for n, u, _ in schema.PER_LAYER}
            metrics = layer
        else:
            metrics = e2e
        print(f"workload {args.workload} seed {args.seed}: "
              + json.dumps(ctx.report, sort_keys=True))
        label = "traced end-to-end" if args.trace else "end-to-end"
        for name, unit, better, _ in schema.END_TO_END:
            print(f"{label}: {name} = {e2e[name]:.4f} {unit} "
                  f"({better} is better"
                  + (f", {ctx.samples} samples)" if name == "op_p50_ms"
                     else ")"))
        for p in ctx.problems:
            print(f"WRONG: {p}")
        print(json.dumps({
            "correct": ctx.failed == 0,
            "attempted": ctx.attempted,
            "failed": min(ctx.failed, ctx.attempted),
            "metrics": {n: {"value": float(metrics[n]), "unit": units[n]}
                        for n in units},
        }))
        return 0
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        try:
            if spark is not None:
                spark.stop()
        except Exception:  # a broken gateway must not stop the clean-up
            traceback.print_exc()
        finally:
            if proc is not None:
                _stop_jvm(proc)
            shutil.rmtree(root, ignore_errors=True)


def _stop_jvm(proc) -> None:
    """Close the gateway JVM's stdin (it exits on EOF) and wait for it."""
    try:
        proc.stdin.close()
    except OSError:
        pass
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)


if __name__ == "__main__":
    sys.exit(main())
