"""Benchmark entry point; run it from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

One process, one Spark session on ``local[<cpus>]``, one operation at a time.
The run sets up (session start, input preparation, warm-up), runs the cold
first operation, then runs operations until ``--seconds`` have passed, and
checks the output of every operation. With ``--trace 1`` half the timed
operations are traced, and the per-layer metrics come from those; the
untraced ones measure the tracing overhead. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics of BENCHMARK.json, or its per-layer metrics with
``--trace 1``). A full record of the run goes to
``.perfbench_out/runs/<workload>-<run_id>.json``. Timings come only from
operations that passed their checks; when a timing metric has none to come
from, the run still prints its result, without that metric, and exits 1.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT_DIR = os.path.join(ROOT, ".perfbench_out")
WORKLOADS = ("delivery_mixed", "analytics_headline")
HOST_PROBES = 4  # speed probes before set-up and again after Spark stopped
PROBE_WARM_S = 2.0  # unrecorded probe work that wakes idle CPUs first


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args(argv)
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")
    return args


def _isolate(work: str) -> int:
    """Keep the files Spark, the JVM and Python write inside ``work``, and
    pin the core count. Must run before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = local
    java_opts = os.environ.get("JAVA_TOOL_OPTIONS", "")
    os.environ["JAVA_TOOL_OPTIONS"] = f"{java_opts} -Djava.io.tmpdir={tmp}".strip()
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    return int(os.environ["SPARK_GRAFT_CPUS"])


def _attempt(wl, spark, i: int, tracer, cpus: int) -> dict:
    """One operation, then a speed probe; an exception is a failed
    operation, not a failed run."""
    from perfbench.stats import speed_probe_s

    try:
        rec = wl.op(spark, i, tracer)
    except Exception:  # noqa: BLE001 - the run reports it and goes on
        rec = {"traced": tracer.enabled, "problems": [traceback.format_exc()]}
        print(rec["problems"][0], file=sys.stderr)
    rec["i"] = i
    rec["probe_s"] = speed_probe_s(cpus)
    return rec


def _stop() -> None:
    """Stop Spark and wait until the JVM and every process it forked ended."""
    from pyspark import SparkContext

    from perfbench.stats import descendants

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + 30
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)


def _per_layer(names, ops: list[dict], timed: list[dict], attempted: int, failed: int):
    from perfbench.stats import median

    traced = [r for r in ops if r.get("layers")]
    values = {}
    for name in names:
        seen = [r["layers"][name] for r in traced if name in r["layers"]]
        values[name] = median(seen) if seen else None
    walls = {
        flag: [r["wall_s"] for r in timed if r["traced"] is flag and not r["problems"]]
        for flag in (True, False)
    }
    values["error_rate"] = failed / attempted
    if walls[True] and walls[False]:
        values["trace.overhead_pct"] = 100 * (median(walls[True]) / median(walls[False]) - 1)
    if traced:
        values["trace.coverage_min"] = min(r["coverage"] for r in traced)
    return values


def _end_to_end(wl, record: dict, ops: list[dict], attempted: int, failed: int) -> dict:
    """The end-to-end metrics, in reference-host seconds: wall times scaled
    by how much slower than on the reference host the run's speed probes
    ran. Timings come only from operations that passed every check; a
    metric with no such operation is left out."""
    from perfbench import stats

    scale = stats.REFERENCE_PROBE_S / record["probe_s"]["p50"]

    def ref_s(rec: dict) -> float:
        return rec["wall_s"] * scale

    values = {"setup_s": ref_s(record["setup"]), "ok_rate": (attempted - failed) / attempted}
    if not ops[0]["problems"]:
        values["first_op_s"] = ref_s(ops[0])
    passed = [r for r in ops[1:] if not r["problems"]]
    if passed:
        record["timed_ops"] = {
            "ref_s": stats.summary([ref_s(r) for r in passed]),
            "wall_s": stats.summary([r["wall_s"] for r in passed]),
        }
        values.update(wl.end_to_end(passed, ref_s))
    return values


def main(argv=None) -> int:
    args = parse_args(argv)
    # import the repository's packages, never this directory's modules as
    # top-level names
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != here]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    run_id = time.strftime("%Y%m%dT%H%M%SZ", time.gmtime()) + f"-s{args.seed}-p{os.getpid()}"
    work = os.path.join(OUT_DIR, f"work-{run_id}")
    cpus = _isolate(work)
    try:
        return _run(args, spec, run_id, work, cpus)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, spec, run_id: str, work: str, cpus: int) -> int:
    import bench

    from perfbench import stats, workloads
    from perfbench.spans import NullTracer, Tracer
    from snapshot_sender_spark.session import get_spark

    if args.workload == "analytics_headline":
        wl = workloads.Analytics(args.seed, work, OUT_DIR)
    else:
        wl = workloads.Delivery(args.seed, work)

    record = {
        "run_id": run_id, "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "cpus": cpus,
        "git_commit": stats.git_commit(ROOT), "source_digest": stats.source_digest(ROOT),
        "loadavg_start": bench.loadavg(), "setup": {},
    }
    run_ticks = stats.host_ticks()
    # the host's speed: before set-up and after Spark stopped, when no engine
    # process is alive, and between operations
    probes = stats.host_probes(cpus, HOST_PROBES, warm_s=PROBE_WARM_S)

    try:
        marks = [time.perf_counter()]
        with stats.stopwatch(record["setup"]):
            spark = get_spark(app_name=f"perfbench-{args.workload}")
            spark.sparkContext.setLogLevel("ERROR")
            marks.append(time.perf_counter())
            record["inputs"] = wl.prepare(spark)
            marks.append(time.perf_counter())
            spark.range(0, 1000, 1, cpus).count()  # warm-up: scheduler and executor threads
            marks.append(time.perf_counter())
        record["setup"]["parts_s"] = dict(
            zip(("session", "inputs", "warm_up"), (b - a for a, b in zip(marks, marks[1:])))
        )
        untraced = NullTracer()
        ops = [_attempt(wl, spark, 0, untraced, cpus)]  # the cold first operation
        tracer = Tracer(spark) if args.trace else untraced
        # traced runs need one full untraced, traced, traced, untraced cycle
        min_timed = max(4, wl.min_timed) if args.trace else wl.min_timed
        start = time.perf_counter()
        while True:
            i = len(ops)
            # traced runs go untraced, traced, traced, untraced, ...: both
            # kinds sample early and late operations alike
            traced = (i - 1) % 4 in (1, 2)
            ops.append(_attempt(wl, spark, i, tracer if traced else untraced, cpus))
            if len(ops) - 1 >= min_timed and time.perf_counter() - start >= args.seconds:
                break
        record["timed_region_s"] = time.perf_counter() - start
        try:
            wl.finish(spark, ops)
        except Exception:  # noqa: BLE001 - an unverifiable op counts as failed
            for rec in ops:
                rec["problems"].append("verification failed: " + traceback.format_exc())
        peak_rss_mb = stats.spark_peak_rss_mb()
    finally:
        _stop()

    probes += [r["probe_s"] for r in ops] + stats.host_probes(cpus, HOST_PROBES)
    record["probe_s"] = {**stats.summary(probes), "all": probes}
    attempted = len(ops)
    failed = sum(1 for r in ops if r["problems"])
    if args.trace:
        values = _per_layer(
            [m["name"] for m in spec["per_layer"]], ops, ops[1:], attempted, failed
        )
        values["peak_rss_mb"] = peak_rss_mb
        # the other workload's layers cannot be measured here: they read 0
        metrics = {
            m["name"]: {"value": values.get(m["name"]) or 0.0, "unit": m["unit"]}
            for m in spec["per_layer"]
        }
        missing = []
    else:
        values = _end_to_end(wl, record, ops, attempted, failed)
        metrics = {
            m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
            for m in spec["end_to_end"] if m["name"] in values
        }
        missing = [m["name"] for m in spec["end_to_end"] if m["name"] not in values]

    record.update({
        "loadavg_end": bench.loadavg(),
        "steal_run": stats.steal_share(run_ticks, stats.host_ticks()),
        "peak_rss_mb": peak_rss_mb, "ops": ops,
        "not_measured": sorted(k for k in metrics if values.get(k) is None),
        "missing": missing,
        "correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics,
    })
    runs = os.path.join(OUT_DIR, "runs")
    os.makedirs(runs, exist_ok=True)
    # mode "x": a record is never overwritten, even by a run in the same second
    with open(os.path.join(runs, f"{args.workload}-{run_id}.json"), "x") as fh:
        json.dump(record, fh, indent=1)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics,
    }))
    if missing:
        print(f"no passing operation to time {missing}", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
