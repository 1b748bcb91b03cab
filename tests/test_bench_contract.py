"""bench.py output contract: the single printed JSON line must fit the
driver's ~2 KB tail capture (BENCH_r05.json was "parsed": null because the
round-5 line carried raw laps + loadavg samples and outgrew it)."""

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import bench  # noqa: E402


def _fake_timings():
    # The real headline set plus the delivery pipeline — same key lengths the
    # real run produces.
    names = bench.HEADLINE + ["delivery_pipeline_100x1000"]
    return {n: 12.345 for n in names}


def test_compact_line_fits_tail_budget():
    med = _fake_timings()
    best = {n: v - 2.0 for n, v in med.items()}  # min <= median by construction
    line = bench.format_line(med, best, med, 0.1)
    assert len(line) < 1024, len(line)
    parsed = json.loads(line)
    assert parsed["metric"] == "headline_queries_total_sec"
    assert parsed["unit"] == "sec"
    assert parsed["detail"] == "BENCH_DETAIL.json"
    assert set(parsed["queries"]) == set(best)
    # round-7 methodology: the headline value IS the best-of-laps total
    assert parsed["value"] == round(sum(best.values()), 3)
    assert parsed["value"] == parsed["best_total_sec"]
    assert parsed["median_total_sec"] == round(sum(med.values()), 3)


def test_oversized_medians_fall_back_to_totals_only():
    # Pathological: hundreds of long query names — the guard must drop the
    # per-query dict rather than breach the budget.
    t = {f"query_with_a_very_long_name_{i:04d}": 1.0 for i in range(300)}
    line = bench.format_line(t, t, t, 0.1)
    assert len(line) < 1024
    parsed = json.loads(line)
    assert "queries" not in parsed
    assert parsed["value"] == 300.0


def test_line_is_single_line_json():
    t = _fake_timings()
    line = bench.format_line(t, t, t, 0.01)
    assert "\n" not in line
    json.loads(line)  # round-trips


def test_line_carries_self_adjudicating_load():
    """Round-9 verdict #4: the printed line itself records start/end/lap-max
    1-min loadavg so a load-polluted round is visible WITHOUT the sidecar —
    and still fits the tail budget with every query present."""
    med = _fake_timings()
    best = {n: v - 2.0 for n, v in med.items()}
    load = {
        "start": [0.06, 0.1, 0.2],
        "end": [5.45, 3.2, 1.9],
        "laps": [[2.3, 1.0, 0.5], [5.45, 3.0, 1.5], []],
        "delivery_laps": [[6.7, 0.9, 0.8]],  # delivery laps count too
    }
    line = bench.format_line(med, best, med, 0.1, load=load)
    assert len(line) < 1200, len(line)
    parsed = json.loads(line)
    assert parsed["load1_start"] == 0.06
    assert parsed["load1_end"] == 5.45
    assert parsed["load1_lap_max"] == 6.7  # max over warm AND delivery laps
    # unreadable /proc/loadavg (non-Linux) degrades to no load keys, no crash
    bare = json.loads(
        bench.format_line(med, best, med, 0.1, load={"start": [], "end": [], "laps": []})
    )
    assert "load1_start" not in bare and "load1_lap_max" not in bare
    # key ORDER of the pre-existing fields is unchanged (cross-round parsers)
    keys = list(parsed)
    assert keys[:4] == ["metric", "value", "unit", "stat"]
    assert keys[-3:] == ["load1_start", "load1_end", "load1_lap_max"]


def test_stat_marker_reports_actual_lap_count():
    """The stat marker names the lap count behind the min: min-of-N."""
    t = {"q": 1.0}
    assert json.loads(bench.format_line(t, t, t, 0.1))["stat"] == "min5"
    assert json.loads(bench.format_line(t, t, t, 0.1, laps_max=7))["stat"] == "min7"


def test_per_run_record_is_never_overwritten(tmp_path, capsys):
    """Two runs that start in the same second share a ``run_id``: the second
    must leave the first run's record byte-for-byte intact, say so on stderr,
    and still reach the printed line (a write failure never raises)."""
    t = {"q": 1.0}
    detail = {"cpus": 4, "sf": 0.1, "run_id": "20260101T000000Z", "queries_best": t}
    bench.write_detail(detail, str(tmp_path))
    record = tmp_path / "bench_runs" / "BENCH_DETAIL_c4_sf0.1_20260101T000000Z.json"
    first = record.read_bytes()
    assert json.loads(first) == detail

    bench.write_detail({**detail, "queries_best": {"q": 2.0}}, str(tmp_path))
    assert record.read_bytes() == first
    assert str(record) in capsys.readouterr().err
    # the canonical pointer follows the latest run
    assert json.loads((tmp_path / "BENCH_DETAIL.json").read_text())["queries_best"] == {"q": 2.0}
    assert json.loads(bench.format_line(t, t, t, 0.1, cpus=4))["cpus"] == 4


def test_ref_total_scales_best_by_the_run_probes():
    """``ref_total_sec`` is the best total in reference-host seconds: a host
    probing twice as slow as the reference halves it; ``value`` stays raw."""
    from perfbench import stats

    med = _fake_timings()
    best = {n: v - 2.0 for n, v in med.items()}
    slow = 2 * stats.REFERENCE_PROBE_S
    load = {
        "start": [0.5], "end": [0.7], "laps": [[0.6]], "lap_steal_pct": [1.5],
        "probes_before_s": [slow, slow, 9.0], "probes_after_s": [slow, 0.001],
    }
    line = bench.format_line(med, best, med, 0.1, load=load, cpus=4)
    assert len(line) < 1200, len(line)
    parsed = json.loads(line)
    assert parsed["value"] == round(sum(best.values()), 3)
    assert parsed["ref_total_sec"] == round(sum(best.values()) / 2, 3)  # median probe = slow
    # a run without probes carries no ref_total_sec rather than a made-up one
    assert "ref_total_sec" not in json.loads(bench.format_line(med, best, med, 0.1, load={}))
