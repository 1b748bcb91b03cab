"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
COMPACT JSON line {"metric", "value", "unit", "queries", "best_total_sec",
"cold_total_sec", "sf", "detail"}.

OUTPUT CONTRACT (revised round 6): round 5's line carried all 5 raw laps per
query plus loadavg samples and outgrew the driver's ~2 KB tail capture, so
BENCH_r05.json recorded "parsed": null. The printed line is now kept well
under 1 KB — per-query medians plus the three totals only — and everything
else (raw laps, per-query best/cold, loadavg samples) goes to the committed
sidecar file named in "detail" (BENCH_DETAIL.json at the repo root).

Each query is forced end-to-end with the noop sink (full computation, no
driver collect). METHODOLOGY (revised round 5 for noise robustness — the
machine is shared with other tenants and rounds 3/4 were judged through a
±1.4x co-tenant noise band):

* ``queries_cold`` / ``cold_total_sec`` — each query's FIRST execution in the
  session (pays plan compilation, whole-stage-codegen JIT, Python-worker/
  numpy boot, state-store class load). Comparable to BENCH_r01.
* ``queries`` / ``value`` / ``best_total_sec`` — per-query MIN over 5 warm
  laps (HEADLINE statistic, revised round 7). Rounds 2-4 recorded an
  effectively best-of number; round 5-6 put the median-of-laps sum in
  ``value``, which is the statistic MOST inflated by co-tenant load (the r6
  driver run recorded 15.7s under loadavg 5-11 for code whose quiet-load
  best was 12.6s). The min over 5 laps is the load-robust, cross-round-
  comparable choice: co-tenant steal can only ADD time to a lap, so the min
  is the closest observable to the machine-limited cost. ``value`` ==
  ``best_total_sec`` == sum of per-query mins.
* ``median_total_sec`` (line) / ``queries_median`` (detail file) — the
  round-5/6 median statistic, kept for continuity and noise attribution
  (median >> min on a lap set = the run was load-polluted).
* ``queries_raw`` (detail file) — all 5 warm lap times per query, so a
  regression can be attributed (uniform drift = machine, single-lap outlier =
  noise, all-laps step on one query = plan change).
* ``codegen_classes_compiled`` (detail file) — the generated classes the
  cold lap and each warm lap compiled (``session.compiled_classes``). A warm
  lap should compile none: any count there is Janino recompiling, and the
  JIT re-warming, plans the session already ran.
* ``load`` (detail file) — /proc/loadavg samples: before/after the whole
  bench and at the start of each warm lap. First-run constants vanish at real
  data scale, so the warm numbers predict 100-TB throughput; the cold column
  keeps the one-time costs honest.

NOISE WITNESSES (perfbench's; they replace the round-12 loadavg gate):
nothing waits for a quiet host. The hypervisor steal of each lap is measured
with ``perfbench.stats``: the share of the CPU ticks the lap wanted that were
stolen (``*_steal_pct``), so a polluted lap is provably polluted. A ``perfbench.stats.host_probes`` speed
probe is recorded before and after the laps (``probes_before_s``,
``probes_after_s``); it does not touch the engine, so only the host's state
moves it. ``ref_total_sec`` (line and detail file) is ``best_total_sec`` in
perfbench's reference-host seconds: scaled by ``stats.REFERENCE_PROBE_S``
over the median of those probes, so runs taken at different host speeds
compare; ``value`` stays raw wall seconds. Warm-lap query order rotates by
a coprime stride per lap, so a noise burst cannot tax the same query every
lap.

LAP ORDER (revised round 6): headline COLD laps first (unchanged from
rounds 1-5, so the cold column stays cross-round comparable — it must keep
paying plan compile + codegen JIT + Python-worker boot), then the
delivery-pipeline laps, then the headline WARM laps. Round 5 ran delivery
LAST while 1-min loadavg climbed 1.6 -> 9.1, which made
`delivery_pipeline_100x1000`'s 1.19x drift unattributable (no code in that
path had changed); mid-run placement moves it off the end-of-run load while
leaving the cold methodology intact. Each delivery lap records its own
loadavg sample (``load["delivery_laps"]``); delivery's own cold lap now
runs after the headline cold lap instead of after all warm laps, so ITS
cold number is not comparable to rounds 1-5 (the warm min always was the
comparison statistic there).
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from perfbench import stats  # noqa: E402
from snapshot_sender_spark.queries import all_queries  # noqa: E402
from snapshot_sender_spark.session import compiled_classes, get_spark  # noqa: E402

HEADLINE = [
    "q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume",
    "tpch_q6_forecast_revenue",
    "join_inner_3way",
    "join_range_theta",
    "join_asof_last_click",
    "agg_rollup",
    "window_topk_per_group",
    "window_running_sum",
    "sort_topk_global",
    "json_funcs",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_embedding_pairs",
    "sim_cosine_topk",
    "text_stats",
    "stream_tumbling_counts",
]

WARM_LAPS = 5


def ref_total_sec(best_total: float, load: dict) -> float | None:
    """``best_total`` in reference-host seconds (wall × REFERENCE_PROBE_S /
    the median speed probe of the run), or None for a run without probes."""
    probes = load.get("probes_before_s", []) + load.get("probes_after_s", [])
    if not probes:
        return None
    return round(best_total * stats.REFERENCE_PROBE_S / stats.median(probes), 3)


def format_line(
    medians: dict, best: dict, cold: dict, sf, load=None, laps_max=WARM_LAPS, cpus=None
) -> str:
    """The ONE printed JSON line. MUST stay well under the driver's ~2 KB
    tail-capture budget (round 5's oversized line made BENCH_r05.json record
    "parsed": null). If per-query numbers ever push it past 1.9 KB, they are
    dropped — the totals and the detail-file pointer always survive.
    ``value`` is the best-of-laps total (see module docstring, round-7
    methodology); medians stay visible as ``median_total_sec``.

    ``load`` (round-9 verdict #4): the 1-min /proc/loadavg at bench start
    and end, IN the printed line, so each BENCH_r{N}.json is
    self-adjudicating for machine noise (round 8's driver artifact looked
    like a +17% regression and only the sidecar's loadavg 2.3->5.45 laps
    proved co-tenant load). Key order and the ``stat`` marker are unchanged
    for cross-round comparability; the load keys are appended at the end."""
    payload = {
        "metric": "headline_queries_total_sec",
        "value": round(sum(best.values()), 3),
        "unit": "sec",
        # methodology marker (round-8 ADVICE): `value` switched from
        # median-of-5-laps (r5-r6) to min-of-5-laps in r7 under the same
        # metric name; "stat" lets downstream parsers detect that
        # mechanically instead of misreading the change as a perf delta.
        # The marker reports the lap count, so a min over more samples is
        # never mistaken for a same-methodology improvement.
        "stat": f"min{laps_max}",
        "queries": best,
        "best_total_sec": round(sum(best.values()), 3),
        "median_total_sec": round(sum(medians.values()), 3),
        "cold_total_sec": round(sum(cold.values()), 3),
        "sf": sf,
        "detail": "BENCH_DETAIL.json",
    }
    if load is not None:
        start, end = load.get("start") or [], load.get("end") or []
        if start:
            payload["load1_start"] = start[0]
        if end:
            payload["load1_end"] = end[0]
        lap_loads = [
            s[0]
            for key in ("laps", "delivery_laps")
            for s in load.get(key, [])
            if s
        ]
        if lap_loads:
            payload["load1_lap_max"] = max(lap_loads)
        # hypervisor steal across the warm laps (r13 s3), as a percentage of
        # the ticks the laps wanted: the pollution loadavg cannot see
        steals = load.get("lap_steal_pct")
        if steals:
            payload["steal_warm_max_pct"] = max(steals)
        ref = ref_total_sec(sum(best.values()), load)
        if ref is not None:
            payload["ref_total_sec"] = ref
    if cpus is not None:  # run provenance on the line itself (r14, addition)
        payload["cpus"] = cpus
    line = json.dumps(payload, separators=(",", ":"))
    if len(line) > 1900:
        del payload["queries"]
        line = json.dumps(payload, separators=(",", ":"))
    return line


def loadavg() -> list[float]:
    try:
        with open("/proc/loadavg") as fh:
            return [float(x) for x in fh.read().split()[:3]]
    except OSError:
        return []


def write_detail(detail: dict, root: str) -> None:
    """Write ``BENCH_DETAIL.json`` under ``root`` and the run's own copy under
    ``root/bench_runs``. The copy is opened with mode "x": a record is never
    overwritten, even by a run that started in the same second. A failed
    write is reported on stderr and never costs the printed line."""
    name = f"BENCH_DETAIL_c{detail['cpus']}_sf{detail['sf']}_{detail['run_id']}.json"
    text = json.dumps(detail, indent=1, sort_keys=True) + "\n"
    for path, mode in (
        (os.path.join(root, "BENCH_DETAIL.json"), "w"),
        (os.path.join(root, "bench_runs", name), "x"),
    ):
        try:
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, mode) as fh:
                fh.write(text)
        except OSError as exc:  # read-only checkout, or a run of the same second
            print(f"bench: could not write {path}: {exc}", file=sys.stderr)


def main():
    from perfbench.run import HOST_PROBES, PROBE_WARM_S

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    # run provenance (r14, VERDICT item 3): a control run at another core
    # count silently overwrote the 32-core run-of-record's BENCH_DETAIL.json
    # twice in r13. Every run now stamps cpus/sf/run_id in the detail header
    # AND writes an immutable per-run copy under bench_runs/; the canonical
    # BENCH_DETAIL.json pointer in the printed line is unchanged.
    run_id = time.strftime("%Y%m%dT%H%M%SZ", time.gmtime())

    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")

    load_samples = {"start": loadavg(), "laps": [], "delivery_laps": [], "end": [],
                    "lap_steal_pct": [], "delivery_lap_steal_pct": []}

    registry = all_queries()
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(1000).count()  # session init
    load_samples["probes_before_s"] = stats.host_probes(cpus, HOST_PROBES, warm_s=PROBE_WARM_S)

    cold = {}
    raw: dict[str, list[float]] = {name: [] for name in HEADLINE}
    compiles = {"cold": 0, "warm": []}  # see ``codegen_classes_compiled`` above

    # COLD lap FIRST, exactly as rounds 1-5 ran it: first execution of each
    # query — plan compile + codegen JIT + Python-worker boot included (this
    # lap doubles as the warmup). Keeping it first keeps the cold column
    # comparable across rounds.
    c0 = compiled_classes(spark)
    with stats.stopwatch({}) as lap:
        for name in HEADLINE:
            t0 = time.perf_counter()
            registry[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            cold[name] = round(time.perf_counter() - t0, 3)
    compiles["cold"] = compiled_classes(spark) - c0
    load_samples["cold_steal_pct"] = round(100 * lap["steal"], 2)

    # The reference's own integration workload (100 files × 1,000 records,
    # s3_files.py:25-26): full pipeline — scan ⋈ metadata → anti-join → key
    # lookup → AES-CTR decrypt → gunzip → parse → per-file counts. The
    # reference ships this with 10 threads / chunk-size 1; this is the direct
    # architecture-class comparison from BASELINE.md §B. Runs mid-bench (see
    # module docstring: round 5's last-position laps were polluted by
    # end-of-run co-tenant load).
    import shutil
    import tempfile

    from snapshot_sender_spark.plans import delivery as dlv
    from snapshot_sender_spark.sources import fixtures as fx

    from snapshot_sender_spark.util import write_once

    fixture_root = os.path.join(tempfile.gettempdir(), "bench_pipeline_100x1000_v1")
    write_once(
        fixture_root,
        lambda tmp: fx.generate(tmp, n_files=100, records_per_file=1000, seed=42),
        probe=os.path.join(fixture_root, "input", "metadata.sidecar.jsonl"),  # written last
    )
    status_dir = tempfile.mkdtemp(prefix="bench_status_")
    try:
        cfg = dlv.RunConfig(correlation_id="bench", topic_name="db.core.claimant",
                            reprocess_files=True)

        def run_pipeline() -> float:
            load_samples["delivery_laps"].append(loadavg())
            with stats.stopwatch({}) as lap:
                result = dlv.build_decrypted(
                    spark, os.path.join(fixture_root, "input"), status_dir, cfg
                )
                n = dlv.parse_records(result.delivered).count()
                assert n == 100 * 1000, n
            load_samples["delivery_lap_steal_pct"].append(round(100 * lap["steal"], 2))
            return round(lap["wall_s"], 3)

        # lap 1 = cold (first execution, worker-pool growth / cryptography
        # import ×32 workers / from_json codegen); lap 2 untimed warm-up —
        # measured, it still pays one-time JIT/worker costs; then 5 laps
        cold["delivery_pipeline_100x1000"] = run_pipeline()
        run_pipeline()
        raw["delivery_pipeline_100x1000"] = [run_pipeline() for _ in range(WARM_LAPS)]
    finally:
        shutil.rmtree(status_dir, ignore_errors=True)

    # WARM: 5 timed laps per query; report the median (noise-robust) and keep
    # the min + raw lap times for cross-round comparison and attribution.
    # Query ORDER rotates by a stride coprime with len(HEADLINE) each lap so
    # a co-tenant burst can't tax the same query every lap (r12 verdict #5).
    for lap_idx in range(WARM_LAPS):
        load_samples["laps"].append(loadavg())
        off = (lap_idx * 7) % len(HEADLINE)
        c0 = compiled_classes(spark)
        with stats.stopwatch({}) as lap:
            for name in HEADLINE[off:] + HEADLINE[:off]:
                t0 = time.perf_counter()
                registry[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                raw[name].append(round(time.perf_counter() - t0, 3))
        compiles["warm"].append(compiled_classes(spark) - c0)
        load_samples["lap_steal_pct"].append(round(100 * lap["steal"], 2))

    load_samples["probes_after_s"] = stats.host_probes(cpus, HOST_PROBES)
    load_samples["end"] = loadavg()
    medians = {name: round(statistics.median(v), 3) for name, v in raw.items()}
    best = {name: min(v) for name, v in raw.items()}

    # Sidecar with everything the compact line can't carry (raw laps for
    # attribution, per-query cold/best, loadavg, steal and probe samples).
    # Committed at the repo root so a reader can audit it; the printed line
    # references it.
    write_detail(
        {
            "queries_best": best,
            "queries_median": medians,
            "queries_raw": raw,
            "queries_cold": cold,
            "codegen_classes_compiled": compiles,
            "load": load_samples,
            "ref_total_sec": ref_total_sec(sum(best.values()), load_samples),
            "warm_laps": WARM_LAPS,
            "sf": sf,
            "sf_dir": sf_dir,
            "cpus": cpus,
            "run_id": run_id,
        },
        os.path.dirname(os.path.abspath(__file__)),
    )

    # ONE compact line (<1 KB) — the driver's tail capture is ~2 KB.
    print(format_line(medians, best, cold, sf, load=load_samples, cpus=cpus))


if __name__ == "__main__":
    main()
