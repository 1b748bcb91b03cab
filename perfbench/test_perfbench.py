"""Tests of the benchmark's own logic: order statistics, span self time, the
tracer's span nesting and py4j count, fixture determinism and the output
verifier.

Run from the repository root: ``python -m pytest perfbench -q``. No Spark
session is started.
"""

from __future__ import annotations

import base64
import json
import os
from types import SimpleNamespace

import pytest

from perfbench import fixtures, verify
from perfbench.run import _end_to_end
from perfbench.spans import NAME, NullTracer, Tracer, self_by_layer, self_times
from perfbench.workloads import delivery_layers
from perfbench.stats import REFERENCE_PROBE_S, median, percentile, summary
from snapshot_sender_spark.sources.fixtures import decrypt_data_key


def test_median_and_percentiles():
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([4.0, 1.0, 3.0, 2.0]) == 2.5
    assert percentile([1, 2, 3, 4, 5], 25) == 2
    assert percentile([1, 2, 3, 4, 5], 0) == 1
    assert percentile([1, 2, 3, 4, 5], 100) == 5
    assert percentile([10, 20], 90) == pytest.approx(19.0)
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        percentile([1.0], 101)


def test_summary_reports_tail_only_with_ten_samples_beyond_it():
    assert summary([1.0, 2.0, 3.0]) == {"n": 3, "p50": 2.0}
    assert "p90" not in summary(list(range(99)))
    assert summary(list(range(101)))["p90"] == 90


def test_self_time_subtracts_direct_children_only():
    spans = [
        ["job", 0.0, 10.0, None, "op"],
        ["a", 1.0, 4.0, 0, "op"],
        ["b", 5.0, 9.0, 0, "op"],
        ["b.exec", 6.0, 7.0, 2, "op"],
    ]
    assert self_times(spans) == [3.0, 3.0, 3.0, 1.0]
    layers = self_by_layer(spans)
    assert layers == {"job": 3.0, "a": 3.0, "b": 3.0, "b.exec": 1.0}
    assert sum(layers.values()) == 10.0


def test_delivery_layers_charge_the_manifest_count_to_its_own_layer():
    spans = [
        ["plans.job", 0.0, 10.0, None, "op"],
        ["plans.delivery.deliver", 1.0, 3.0, 0, "op"],
        ["plans.delivery.deliver.exec", 1.5, 2.5, 1, "op"],
        ["plans.delivery.manifest.exec", 4.0, 6.0, 0, "op"],
        ["sources.listing.exec", 6.0, 7.0, 0, "op"],
    ]
    layers = delivery_layers(spans)
    assert layers["plans.delivery.deliver_s"] == 2.0
    assert layers["plans.delivery.manifest_s"] == 2.0
    assert layers["sources.listing.exec_s"] == 1.0
    assert layers["plans.job.self_s"] == 5.0
    assert sum(layers.values()) == 10.0


def test_null_tracer_runs_the_block_and_records_nothing():
    tracer = NullTracer()
    fn = object()
    tracer.install([("unused",)])
    with tracer.operation("op", "plans.job") as counts, tracer.span("x"):
        pass
    tracer.uninstall()
    assert counts == {} and tracer.traced(fn, "layer") is fn and not tracer.enabled


class _Workload:
    def end_to_end(self, timed, ref_s):
        return {"job_s_p50": median([ref_s(r) for r in timed])}


def _op(wall_s, *problems):
    return {"wall_s": wall_s, "problems": list(problems)}


def test_timings_come_only_from_passing_operations_in_reference_seconds():
    # probes twice as slow as on the reference host: times are halved
    record = {"setup": {"wall_s": 5.0}, "probe_s": {"p50": 2 * REFERENCE_PROBE_S}}
    ops = [_op(8.0), _op(2.0), _op(9.0, "bad output"), _op(3.0)]
    values = _end_to_end(_Workload(), record, ops, 4, 1)
    assert values == pytest.approx(
        {"setup_s": 2.5, "ok_rate": 0.75, "first_op_s": 4.0, "job_s_p50": 1.25}
    )

    ops = [_op(8.0, "bad output"), _op(2.0, "bad output")]
    values = _end_to_end(_Workload(), record, ops, 2, 2)
    assert values == {"setup_s": 2.5, "ok_rate": 0.0}


def _module(name: str, **fns):
    for fn in fns.values():
        fn.__module__ = name
    return SimpleNamespace(**fns)


def test_tracer_nests_spans_and_keeps_same_module_calls_in_the_caller():
    def inner():
        return "inner"

    inner_mod = _module("pkg.inner", inner=inner)

    def helper():
        return 1

    def outer():
        return outer_mod.helper() + len(inner_mod.inner())

    outer_mod = _module("pkg.outer", outer=outer, helper=helper)
    tracer = Tracer(spark=None)
    tracer.wrap(outer_mod, "outer", "outer.layer")
    tracer.wrap(outer_mod, "helper", "outer.helper")
    tracer.wrap(inner_mod, "inner", "inner.layer")
    assert outer_mod.outer() == 6  # outside an operation: nothing recorded
    assert tracer.spans == []

    tracer._op = "op1"
    with tracer.span("root"):
        assert outer_mod.outer() == 6
    tracer._op = None
    tracer.uninstall()
    assert outer_mod.outer is outer

    spans = tracer.op_spans("op1")
    assert [s[NAME] for s in spans] == ["root", "outer.layer", "inner.layer"]
    assert [s[3] for s in spans] == [None, 0, 1]
    assert all(s[1] <= s[2] for s in spans)


def test_py4j_commands_count_once_without_object_releases(monkeypatch):
    from py4j.clientserver import JavaClient
    from py4j.java_gateway import GatewayClient

    monkeypatch.setattr(GatewayClient, "send_command", lambda self, command, *a, **k: "ok")
    tracer = Tracer(spark=None)
    tracer.install([])
    try:
        client = object.__new__(JavaClient)
        tracer._counting = True
        assert client.send_command("c\nt\nmethod\ne\n") == "ok"
        client.send_command("m\nd\no42\ne\n")  # py4j releasing a collected object
    finally:
        tracer.uninstall()
    assert tracer._py4j == 1


def _fixture(tmp_path):
    return fixtures.generate(str(tmp_path / "fx"), [5, 7, 4, 6], seed=9, invalid_every=3)


def test_fixtures_repeat_for_a_seed(tmp_path):
    a = fixtures.generate(str(tmp_path / "a"), [5, 7], seed=4)
    b = fixtures.generate(str(tmp_path / "b"), [5, 7], seed=4)
    c = fixtures.generate(str(tmp_path / "c"), [5, 7], seed=5)
    assert a.sha256 == b.sha256
    assert a.sha256 != c.sha256
    fx = _fixture(tmp_path)
    assert len(fx.invalid) == 1 and len(fx.valid) == 3
    assert fx.records[fx.valid[1]] == 7


def _deliver(fx, names, out_dir, status_dir):
    """Write what a correct sink writes: decrypted payloads and markers."""
    from cryptography.hazmat.primitives.ciphers import Cipher, algorithms, modes

    with open(os.path.join(fx.input_dir, "metadata.sidecar.jsonl")) as fh:
        meta = {row["fileName"]: row for row in map(json.loads, fh)}
    os.makedirs(out_dir)
    for name in names:
        key = base64.b64decode(decrypt_data_key(meta[name]["cipherText"]))
        iv = base64.b64decode(meta[name]["iv"])
        with open(os.path.join(fx.input_dir, name), "rb") as fh:
            dec = Cipher(algorithms.AES(key), modes.CTR(iv)).decryptor()
            payload = dec.update(fh.read()) + dec.finalize()
        with open(os.path.join(out_dir, fx.output_name(name)), "wb") as fh:
            fh.write(payload)
    fixtures.mark_finished(status_dir, names)


def _report(fx, names, **changes):
    fields = {
        "files_delivered": len(names),
        "records_parsed": sum(fx.records[n] for n in names),
        "rejected": len(fx.invalid),
        "blocked": 0,
        "collection_status": "Sent",
        "completion_status": verify.COMPLETED,
    }
    return SimpleNamespace(**{**fields, **changes})


@pytest.fixture
def delivered(tmp_path):
    fx = _fixture(tmp_path)
    out_dir, status_dir = str(tmp_path / "out"), str(tmp_path / "status")
    _deliver(fx, fx.valid, out_dir, status_dir)
    assert verify.delivery_problems(_report(fx, fx.valid), fx, fx.valid, out_dir, status_dir) == []
    assert verify.written(fx, fx.valid, out_dir, status_dir)[0] == 2 * len(fx.valid)
    return fx, out_dir, status_dir


def test_verifier_catches_a_flipped_output_byte(delivered):
    fx, out_dir, status_dir = delivered
    path = os.path.join(out_dir, fx.output_name(fx.valid[0]))
    with open(path, "r+b") as fh:
        first = fh.read(1)
        fh.seek(0)
        fh.write(bytes([first[0] ^ 1]))
    problems = verify.delivery_problems(_report(fx, fx.valid), fx, fx.valid, out_dir, status_dir)
    assert problems == [f"output {fx.output_name(fx.valid[0])} differs from its payload"]


def test_verifier_catches_a_missing_marker(delivered):
    fx, out_dir, status_dir = delivered
    os.remove(os.path.join(status_dir, fx.valid[2] + ".finished"))
    problems = verify.delivery_problems(_report(fx, fx.valid), fx, fx.valid, out_dir, status_dir)
    assert problems == [f"missing marker for {fx.valid[2]}"]


def test_verifier_catches_wrong_counts(delivered):
    fx, out_dir, status_dir = delivered
    report = _report(fx, fx.valid, records_parsed=17, rejected=0)
    problems = verify.delivery_problems(report, fx, fx.valid, out_dir, status_dir)
    assert problems == ["records_parsed: got 17, want 18", "rejected: got 0, want 1"]


def test_verifier_catches_a_missing_output(delivered):
    fx, out_dir, status_dir = delivered
    os.remove(os.path.join(out_dir, fx.output_name(fx.valid[1])))
    problems = verify.delivery_problems(_report(fx, fx.valid), fx, fx.valid, out_dir, status_dir)
    assert problems == [f"missing output {fx.output_name(fx.valid[1])}"]


def test_query_check_catches_a_wrong_row_count_and_digest():
    assert verify.query_problems("q", (10, "123"), (10, "123")) == []
    assert verify.query_problems("q", (9, "123"), (10, "123")) == ["q: 9 rows, oracle has 10"]
    assert verify.query_problems("q", (10, "124"), (10, "123")) == [
        "q: row digest differs from the oracle's"
    ]
