"""Full job orchestration (§3.1/§3.2): delivered-topic path, empty-topic path
(Received + implicit success indicator), heartbeat skip, and the connected-
components operator."""

import gzip
import json
import os
import re
import shutil

import pytest
from pyspark.sql import functions as F

from snapshot_sender_spark.operators.graph import connected_components
from snapshot_sender_spark.plans import delivery, job
from snapshot_sender_spark.plans import status as st
from snapshot_sender_spark.sources import fixtures as fx


def test_full_job_delivered_topic(spark, tmp_path):
    f = fx.generate(str(tmp_path), n_files=4, records_per_file=6, seed=31)
    cfg = delivery.RunConfig(correlation_id="job-1", topic_name=f.topic)
    report = job.run_delivery_job(
        spark,
        f.input_dir,
        f.status_dir,
        f.output_dir,
        str(tmp_path / "status_table"),
        cfg,
        files_exported=4,
    )
    assert report.files_delivered == 4
    assert report.records_parsed == 24
    assert report.collection_status == "Sent"
    assert report.completion_status == "COMPLETED_SUCCESSFULLY"
    assert report.success_indicator and os.path.basename(report.success_indicator) == (
        "_core_claimant_successful.gz"
    )
    msg = json.loads(report.monitoring_message)
    assert msg["custom_elements"][1]["value"] == "job-1"
    assert report.counters.get("snapshot_sender_files_sent_success") == 4
    # outputs + markers on disk
    assert len([p for p in os.listdir(f.output_dir) if p.endswith(".json.gz")]) == 4


def test_full_job_empty_topic(spark, tmp_path):
    """§3.2: zero files exported → Received + success indicator anyway."""
    empty_in = str(tmp_path / "input")
    os.makedirs(empty_in)
    with open(os.path.join(empty_in, "metadata.sidecar.jsonl"), "w"):
        pass
    cfg = delivery.RunConfig(correlation_id="job-empty", topic_name="db.database.empty")
    report = job.run_delivery_job(
        spark,
        empty_in,
        str(tmp_path / "status"),
        str(tmp_path / "out"),
        str(tmp_path / "status_table"),
        cfg,
        files_exported=0,
    )
    assert report.files_delivered == 0
    assert report.collection_status == "Received"
    assert report.completion_status == "COMPLETED_SUCCESSFULLY"
    assert report.success_indicator is not None
    with open(report.success_indicator, "rb") as fh:
        assert gzip.decompress(fh.read()) == b""


def test_full_job_heartbeat_skips_monitoring(spark, tmp_path):
    f = fx.generate(str(tmp_path), n_files=1, records_per_file=2, seed=33)
    cfg = delivery.RunConfig(
        correlation_id="hb", topic_name=f.topic, export_date="NIFI_HEARTBEAT"
    )
    report = job.run_delivery_job(
        spark, f.input_dir, f.status_dir, f.output_dir, str(tmp_path / "st"), cfg
    )
    assert report.monitoring_message is None  # JobCompletionNotificationListener.kt:60-75


def test_corrupt_payload_fails_job_before_its_output_and_marker(spark, tmp_path):
    """A file whose bytes don't decrypt to valid gzip fails the job with the
    file's name before its output or .finished marker is written, so a rerun
    tries it again instead of reporting success with 0 delivered."""
    f = fx.generate(str(tmp_path), n_files=4, records_per_file=5, seed=13)
    victim = f.files[1]
    path = os.path.join(f.input_dir, victim)
    data = bytearray(open(path, "rb").read())
    data[:16] = b"\x00" * 16  # wrong ciphertext → bad gzip
    with open(path, "wb") as fh:
        fh.write(bytes(data))
    cfg = delivery.RunConfig(correlation_id="corrupt", topic_name=f.topic)

    for _ in range(2):  # the first run, then the rerun
        with pytest.raises(Exception, match=re.escape(victim)):
            job.run_delivery_job(
                spark, f.input_dir, f.status_dir, f.output_dir,
                str(tmp_path / "status_table"), cfg,
            )
        assert victim.replace(".txt.gz.enc", ".json.gz") not in os.listdir(f.output_dir)
        assert victim + ".finished" not in os.listdir(f.status_dir)


def test_unresolved_data_key_fails_job_naming_a_file(spark, tmp_path):
    """A key lookup that resolves no pair (a data-key service failure) fails
    the job naming a file, before any output, marker, success indicator or
    status row exists — the files are not dropped as delivered-nothing."""
    f = fx.generate(str(tmp_path), n_files=4, records_per_file=5, seed=19)
    table = str(tmp_path / "status_table")
    cfg = delivery.RunConfig(correlation_id="nokey", topic_name=f.topic)
    with pytest.raises(Exception, match="|".join(map(re.escape, f.files))):
        job.run_delivery_job(
            spark, f.input_dir, f.status_dir, f.output_dir, table, cfg,
            key_lookup=lambda pairs: [],
        )
    assert not os.path.exists(f.output_dir) or os.listdir(f.output_dir) == []
    assert not os.path.exists(f.status_dir) or os.listdir(f.status_dir) == []
    assert not os.path.exists(table)


def test_job_counts_every_route_from_the_receipts(spark, tmp_path, monkeypatch):
    """One job over 3 deliverable files, 1 invalid name, 1 blocked topic and
    1 pre-marked file reports exact counts, and takes all of them from the
    sink's receipts on the driver: no DataFrame.count action runs."""
    from pyspark.sql.classic.dataframe import DataFrame

    f = fx.generate(str(tmp_path / "a"), n_files=4, records_per_file=5, seed=51)
    blocked = fx.generate(
        str(tmp_path / "b"), topic="db.core.blocked", n_files=1, records_per_file=5, seed=52
    )
    sidecar = "metadata.sidecar.jsonl"
    shutil.copy(os.path.join(blocked.input_dir, blocked.files[0]), f.input_dir)
    with open(os.path.join(blocked.input_dir, sidecar)) as fh:
        blocked_meta = fh.read()
    with open(os.path.join(f.input_dir, sidecar)) as fh:
        invalid_meta = {**json.loads(fh.readline()), "fileName": "not-a-valid-name.enc"}
    shutil.copy(
        os.path.join(f.input_dir, f.files[0]), os.path.join(f.input_dir, "not-a-valid-name.enc")
    )
    with open(os.path.join(f.input_dir, sidecar), "a") as fh:
        fh.write(blocked_meta + json.dumps(invalid_meta) + "\n")
    with open(os.path.join(f.status_dir, f.files[0] + ".finished"), "w") as fh:
        fh.write(f"Finished {f.files[0]}")

    def no_count(self):
        raise AssertionError("run_delivery_job ran a DataFrame.count action")

    monkeypatch.setattr(DataFrame, "count", no_count)
    cfg = delivery.RunConfig(
        correlation_id="routes", topic_name=f.topic, blocked_topics="db.core.blocked"
    )
    report = job.run_delivery_job(
        spark, f.input_dir, f.status_dir, f.output_dir, str(tmp_path / "status_table"), cfg
    )
    deliverable = f.files[1:]
    assert (report.files_delivered, report.rejected, report.blocked) == (3, 1, 1)
    assert report.records_parsed == 3 * 5
    assert report.counters == {
        "snapshot_sender_files_sent_success": 3,
        # AES-CTR keeps the length: the delivered gzip bytes are the inputs'
        "snapshot_sender_bytes_sent": sum(
            os.path.getsize(os.path.join(f.input_dir, n)) for n in deliverable
        ),
        "snapshot_sender_topics_seen": 1,
    }
    assert sorted(p for p in os.listdir(f.output_dir) if p.endswith(".json.gz")) == sorted(
        n.replace(".txt.gz.enc", ".json.gz") for n in deliverable
    )


def test_delivery_job_runs_one_spark_job(spark, tmp_path):
    """A delivery job runs 1 Spark job: the sink, whose action returns the
    receipts the counts come from. The manifest, each file's resolved key and
    its route stay on the driver. Pinned on a fixture with a pre-marked file
    and a rejected name."""
    f = fx.generate(str(tmp_path), n_files=3, records_per_file=3, seed=53)
    sidecar = os.path.join(f.input_dir, "metadata.sidecar.jsonl")
    with open(sidecar) as fh:
        invalid_meta = {**json.loads(fh.readline()), "fileName": "not-a-valid-name.enc"}
    shutil.copy(
        os.path.join(f.input_dir, f.files[0]), os.path.join(f.input_dir, "not-a-valid-name.enc")
    )
    with open(sidecar, "a") as fh:
        fh.write(json.dumps(invalid_meta) + "\n")
    with open(os.path.join(f.status_dir, f.files[0] + ".finished"), "w") as fh:
        fh.write(f"Finished {f.files[0]}")
    sc = spark.sparkContext
    group = "delivery-job-jobs"
    sc.setJobGroup(group, "run_delivery_job")
    try:
        report = job.run_delivery_job(
            spark, f.input_dir, f.status_dir, f.output_dir, str(tmp_path / "status_table"),
            delivery.RunConfig(correlation_id="one-job", topic_name=f.topic),
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # the tracker is fed asynchronously
    assert (report.files_delivered, report.rejected, report.records_parsed) == (2, 1, 6)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1


def test_status_phase_starts_no_spark_job(spark, tmp_path, monkeypatch):
    """Everything from the collection-status decision on (upsert, completion,
    success indicator, monitoring message) runs on the driver: a job group set
    when the phase starts sees zero Spark jobs."""
    f = fx.generate(str(tmp_path), n_files=2, records_per_file=3, seed=37)
    sc = spark.sparkContext
    group = "status-phase-jobs"
    decide = st.collection_status

    def tagged(*args, **kwargs):
        sc.setJobGroup(group, "status phase")
        return decide(*args, **kwargs)

    monkeypatch.setattr(st, "collection_status", tagged)
    try:
        report = job.run_delivery_job(
            spark, f.input_dir, f.status_dir, f.output_dir, str(tmp_path / "status_table"),
            delivery.RunConfig(correlation_id="no-jobs", topic_name=f.topic),
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert report.collection_status == "Sent"
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # the tracker is fed asynchronously
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_connected_components_basic(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)], "id_a long, id_b long"
    )
    out = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20, 23: 20}


def test_connected_components_chain_diameter(spark):
    # a long path graph exercises multi-round propagation
    edges = spark.createDataFrame([(i, i + 1) for i in range(30)], "id_a long, id_b long")
    out = connected_components(edges)
    comps = out.select(F.countDistinct("component").alias("c")).first()["c"]
    assert comps == 1
    assert out.filter(F.col("component") != 0).count() == 0 or (
        out.filter(F.col("component") == 0).count() == 31
    )


def test_connected_components_star_matches_propagation(spark):
    """Alternating large-star/small-star reaches the identical fixpoint as
    min-label propagation on a mixed graph: cliques, chains, isolated
    self-loops, reversed edge order, duplicate edges."""
    import random

    from snapshot_sender_spark.operators.graph import (
        connected_components_auto,
        connected_components_star,
    )

    rnd = random.Random(41)
    edge_list = (
        [(rnd.randrange(150), rnd.randrange(150)) for _ in range(220)]  # random
        + [(200 + i, 200 + i + 1) for i in range(25)]  # chain
        + [(300 + i, 300 + j) for i in range(6) for j in range(i + 1, 6)]  # clique
        + [(400, 400), (401, 402), (402, 401)]  # self-loop + dup reversed pair
    )
    edges = spark.createDataFrame(edge_list, "id_a long, id_b long")
    want = {(r["node"], r["component"]) for r in connected_components(edges, max_iter=200).collect()}
    got_star = {(r["node"], r["component"]) for r in connected_components_star(edges).collect()}
    got_auto = {(r["node"], r["component"]) for r in connected_components_auto(edges).collect()}
    assert got_star == want
    assert got_auto == want


def test_connected_components_star_diameter_independent(spark):
    """The point of the star variant: a 400-hop chain converges within ~log n
    alternations where label propagation would need 400 rounds. Pin the
    round bound by capping max_iter at 12 — propagation under the same cap
    is still far from the fixpoint."""
    from snapshot_sender_spark.operators.graph import (
        _propagate,
        _symmetrize,
        connected_components_star,
    )

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(400)], "id_a long, id_b long"
    )
    out = connected_components_star(edges, max_iter=12)
    assert out.select(F.countDistinct("component").alias("c")).first()["c"] == 1
    assert out.filter(F.col("component") != 0).count() == 0
    assert out.count() == 401
    # propagation with the same round budget has NOT converged on this graph
    _, converged = _propagate(_symmetrize(edges, "id_a", "id_b"), 12)
    assert not converged


def test_connected_components_auto_routes_deep_graph(spark):
    """The router probes with a few propagation rounds and falls back to the
    star variant when the fixpoint isn't reached — a chain longer than
    probe_rounds must still come out fully merged (propagation alone at
    probe depth could not have produced this labeling)."""
    from snapshot_sender_spark.operators.graph import connected_components_auto

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(120)], "id_a long, id_b long"
    )
    out = connected_components_auto(edges, probe_rounds=3)
    assert out.select(F.countDistinct("component").alias("c")).first()["c"] == 1
    assert out.count() == 121
    # empty-graph degenerate case through both paths
    empty = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components_auto(empty).count() == 0


def test_full_job_with_pushgateway_lifecycle(spark, tmp_path):
    """run_delivery_job with a gateway wires the reference's metrics
    lifecycle: scheduled pushes while the job runs, a final push carrying the
    job's observed counters, then delete of the per-job grouping key
    (type/correlation_id/topic_name/export_date)."""

    class Gw:
        def __init__(self):
            self.events = []

        def push(self, job_name, grouping, counters):
            self.events.append(("push", job_name, dict(grouping), dict(counters)))

        def delete(self, job_name, grouping):
            self.events.append(("delete", job_name, dict(grouping)))

    f = fx.generate(str(tmp_path), n_files=3, records_per_file=2, seed=41)
    cfg = delivery.RunConfig(correlation_id="job-gw", topic_name=f.topic)
    gw = Gw()
    report = job.run_delivery_job(
        spark,
        f.input_dir,
        f.status_dir,
        f.output_dir,
        str(tmp_path / "status_table"),
        cfg,
        files_exported=3,
        gateway=gw,
        push_rate=0.05,
        initial_delay=0.01,
        scrape_interval=0.01,
    )
    assert report.files_delivered == 3
    kinds = [e[0] for e in gw.events]
    assert kinds[-1] == "delete" and kinds[-2] == "push" and kinds.count("push") >= 1
    final = gw.events[-2]
    assert final[1] == "snapshot_sender"
    assert final[2] == {
        "type": cfg.snapshot_type,
        "correlation_id": "job-gw",
        "topic_name": f.topic,
        "export_date": cfg.export_date,
    }
    assert final[3].get("snapshot_sender_files_sent_success") == 3
    assert gw.events[-1][2] == final[2]


def test_full_job_final_push_outage_does_not_discard_report(spark, tmp_path):
    """A gateway outage at the FINAL push must not abort run_delivery_job:
    delivery side effects are already committed, so the JobReport is returned
    and the error is recorded — the reference's pushFinalMetrics runs in
    afterJob's finally block where a listener exception does not fail the
    completed Spring Batch job."""

    class DownGw:
        def push(self, job_name, grouping, counters):
            raise ConnectionError("pushgateway unreachable")

        def delete(self, job_name, grouping):
            raise ConnectionError("pushgateway unreachable")

    f = fx.generate(str(tmp_path), n_files=2, records_per_file=2, seed=42)
    cfg = delivery.RunConfig(correlation_id="job-gw-down", topic_name=f.topic)
    report = job.run_delivery_job(
        spark,
        f.input_dir,
        f.status_dir,
        f.output_dir,
        str(tmp_path / "status_table"),
        cfg,
        files_exported=2,
        gateway=DownGw(),
        push_rate=5.0,
        initial_delay=5.0,  # no scheduled push fires; only push_final hits the outage
        scrape_interval=0.01,
    )
    assert report.files_delivered == 2
    assert report.counters.get("snapshot_sender_files_sent_success") == 2


def test_build_decrypted_starts_no_spark_job(spark, tmp_path):
    """The delivery manifest (sidecar rows, marker probes, key pairs) is
    settled on the driver: declaring the plan runs no Spark job, with a
    pre-marked file in the status dir."""
    f = fx.generate(str(tmp_path), n_files=3, records_per_file=3, seed=38)
    with open(os.path.join(f.status_dir, f.files[0] + ".finished"), "w") as fh:
        fh.write(f"Finished {f.files[0]}")
    sc = spark.sparkContext
    group = "build-decrypted-jobs"
    sc.setJobGroup(group, "build_decrypted")
    try:
        result = delivery.build_decrypted(
            spark, f.input_dir, f.status_dir,
            delivery.RunConfig(correlation_id="no-jobs", topic_name=f.topic),
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # the tracker is fed asynchronously
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert sorted(r["fileName"] for r in result.delivered.select("fileName").collect()) == (
        f.files[1:]
    )


def test_premarked_object_is_never_opened(spark, tmp_path):
    """Only pending objects are opened: a pre-marked object whose file is
    gone from disk, while its sidecar row and its marker stay, does not
    stop the job from delivering the others (opening it would fail the
    job)."""
    f = fx.generate(str(tmp_path / "a"), n_files=2, records_per_file=3, seed=39)
    big = fx.generate(
        str(tmp_path / "b"), topic="db.core.big", n_files=1, records_per_file=400, seed=40
    )
    sidecar = "metadata.sidecar.jsonl"
    with open(os.path.join(big.input_dir, sidecar)) as src, open(
        os.path.join(f.input_dir, sidecar), "a"
    ) as dst:
        dst.write(src.read())
    with open(os.path.join(f.status_dir, big.files[0] + ".finished"), "w") as fh:
        fh.write(f"Finished {big.files[0]}")
    small = max(os.path.getsize(os.path.join(f.input_dir, n)) for n in f.files)
    large = os.path.getsize(os.path.join(big.input_dir, big.files[0]))
    assert small < large
    assert not os.path.exists(os.path.join(f.input_dir, big.files[0]))
    report = job.run_delivery_job(
        spark, f.input_dir, f.status_dir, f.output_dir, str(tmp_path / "status_table"),
        delivery.RunConfig(correlation_id="unopened", topic_name=f.topic),
    )
    assert report.files_delivered == 2
    assert report.records_parsed == 6


def test_hidden_object_fails_the_job_naming_it(spark, tmp_path):
    """A valid name starting with ``_`` is a hidden object. Its manifest row
    must fail the job, naming it, before anything is delivered — not vanish
    while the job reports Sent."""
    f = fx.generate(str(tmp_path), n_files=3, records_per_file=3, seed=41)
    hidden = "_core.claimant-045-050-000001.txt.gz.enc"
    os.rename(os.path.join(f.input_dir, f.files[0]), os.path.join(f.input_dir, hidden))
    sidecar = os.path.join(f.input_dir, "metadata.sidecar.jsonl")
    with open(sidecar) as fh:
        text = fh.read().replace(f.files[0], hidden)
    with open(sidecar, "w") as fh:
        fh.write(text)
    with pytest.raises(ValueError, match=re.escape(hidden)):
        job.run_delivery_job(
            spark, f.input_dir, f.status_dir, f.output_dir, str(tmp_path / "status_table"),
            delivery.RunConfig(correlation_id="hidden", topic_name=f.topic),
        )
    assert os.listdir(f.output_dir) == []
    assert os.listdir(f.status_dir) == []
