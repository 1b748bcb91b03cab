"""Continuous (streaming) delivery: files landing over time are delivered
exactly once across restarts — the reference's batch-rerun contract as a
Structured Streaming service."""

import gzip
import json
import os
import re
import shutil
import time

import pytest

from snapshot_sender_spark.plans import delivery
from snapshot_sender_spark.sources import fixtures as fx
from snapshot_sender_spark.sources import listing
from snapshot_sender_spark.streaming import delivery_stream as ds


def _land(fixture, input_dir, names):
    """Simulate objects landing: copy encrypted files + append their metadata
    rows as a new sidecar file in meta_stream/ (the arrival signal)."""
    meta_rows = {
        json.loads(line)["fileName"]: line
        for line in open(os.path.join(fixture.input_dir, "metadata.sidecar.jsonl"))
    }
    os.makedirs(os.path.join(input_dir, "meta_stream"), exist_ok=True)
    for name in names:
        shutil.copy(os.path.join(fixture.input_dir, name), os.path.join(input_dir, name))
    batch_file = os.path.join(input_dir, "meta_stream", f"arrival_{time.time_ns()}.json")
    with open(batch_file, "w") as fh:
        for name in names:
            fh.write(meta_rows[name])


def test_streaming_delivery_across_restarts(spark, tmp_path):
    f = fx.generate(str(tmp_path / "gen"), n_files=5, records_per_file=4, seed=51)
    input_dir = str(tmp_path / "landing")
    out_dir = str(tmp_path / "out")
    status_dir = str(tmp_path / "status")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(input_dir)

    # wave 1: two files land → first run delivers them
    _land(f, input_dir, f.files[:2])
    ds.run_streaming_delivery(
        spark, input_dir, out_dir, status_dir, ckpt, delivery.key_lookup_local
    )
    outs = sorted(p for p in os.listdir(out_dir) if p.endswith(".json.gz"))
    assert len(outs) == 2

    # wave 2: three more land → restarted query (same checkpoint) delivers
    # ONLY the new arrivals
    time.sleep(1.1)
    _land(f, input_dir, f.files[2:])
    ds.run_streaming_delivery(
        spark, input_dir, out_dir, status_dir, ckpt, delivery.key_lookup_local
    )
    outs = sorted(p for p in os.listdir(out_dir) if p.endswith(".json.gz"))
    assert len(outs) == 5
    markers = [p for p in os.listdir(status_dir) if p.endswith(".finished")]
    assert len(markers) == 5

    # restart with nothing new: no re-delivery (mtimes unchanged)
    mtimes = {p: os.path.getmtime(os.path.join(out_dir, p)) for p in outs}
    ds.run_streaming_delivery(
        spark, input_dir, out_dir, status_dir, ckpt, delivery.key_lookup_local
    )
    assert {p: os.path.getmtime(os.path.join(out_dir, p)) for p in outs} == mtimes

    # payloads intact
    for p in outs:
        with open(os.path.join(out_dir, p), "rb") as fh:
            lines = gzip.decompress(fh.read()).decode().strip().split("\n")
        assert len(lines) == 4


def _record_sink_rows(monkeypatch, opened):
    """Wrap the shared sink's per-file tasks so each call appends the set of
    file names it opens to ``opened``."""
    real = delivery.file_tasks

    def recording(spark, rows, *args):
        opened.append({r["fileName"] for r in rows})
        return real(spark, rows, *args)

    monkeypatch.setattr(delivery, "file_tasks", recording)


def test_batch_object_read_is_scoped_to_the_batch(spark, tmp_path, monkeypatch):
    """A micro-batch must open ONLY its own files — per-batch I/O is
    O(batch), not O(prefix). With 5 objects landed and a 2-file batch, the
    rows the shared sink receives are exactly those 2 files (the old
    load(prefix) + derived-column isin shape scanned all 5)."""
    f = fx.generate(str(tmp_path / "gen"), n_files=5, records_per_file=2, seed=52)
    input_dir = str(tmp_path / "landing")
    os.makedirs(input_dir)
    _land(f, input_dir, f.files)  # all 5 on disk
    batch = f.files[:2]
    rows = [
        listing.meta_row(json.loads(line), "sidecar")
        for line in open(os.path.join(f.input_dir, "metadata.sidecar.jsonl"))
        if json.loads(line)["fileName"] in batch
    ]
    opened = []
    _record_sink_rows(monkeypatch, opened)
    counts = ds.deliver_batch(
        spark, input_dir, str(tmp_path / "out"), str(tmp_path / "status"), rows,
        delivery.key_lookup_local,
    )
    assert opened == [set(batch)]
    assert counts["delivered"] == 2


def test_second_micro_batch_reads_only_its_own_files(spark, tmp_path, monkeypatch):
    """End-to-end: across two waves, the files each micro-batch's sink opens
    are exactly that wave's arrivals — wave 2 never re-reads wave 1's
    objects even though they still sit under the prefix."""
    f = fx.generate(str(tmp_path / "gen"), n_files=5, records_per_file=2, seed=53)
    input_dir = str(tmp_path / "landing")
    out_dir = str(tmp_path / "out")
    status_dir = str(tmp_path / "status")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(input_dir)

    scans = []
    _record_sink_rows(monkeypatch, scans)
    from snapshot_sender_spark.plans import delivery as dl

    _land(f, input_dir, f.files[:2])
    ds.run_streaming_delivery(
        spark, input_dir, out_dir, status_dir, ckpt, dl.key_lookup_local
    )
    time.sleep(1.1)
    _land(f, input_dir, f.files[2:])
    ds.run_streaming_delivery(
        spark, input_dir, out_dir, status_dir, ckpt, dl.key_lookup_local
    )
    assert set().union(*scans) == set(f.files)
    # wave-2 batches are disjoint from wave 1's files: no re-read, ever
    wave2 = [s for s in scans if s & set(f.files[2:])]
    assert wave2 and all(not (s & set(f.files[:2])) for s in wave2)


def test_micro_batch_of_40_files_runs_one_spark_job(spark, tmp_path):
    """A 40-file micro-batch is delivered by one Spark job, the sink's: the
    batch's objects are opened by path in its tasks, with no listing job
    and no broadcast of the manifest."""
    f = fx.generate(str(tmp_path / "gen"), n_files=40, records_per_file=2, seed=58)
    rows = [
        listing.meta_row(json.loads(line), "sidecar")
        for line in open(os.path.join(f.input_dir, "metadata.sidecar.jsonl"))
    ]
    sc = spark.sparkContext
    group = "micro-batch-jobs"
    sc.setJobGroup(group, "deliver_batch")
    try:
        counts = ds.deliver_batch(
            spark, f.input_dir, f.output_dir, f.status_dir, rows, delivery.key_lookup_local
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # the tracker is fed asynchronously
    assert counts == {"delivered": 40, "records": 80, "rejected": 0}
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1


def test_stale_epoch_marker_with_different_arrivals_fails_loudly(spark, tmp_path):
    """A status dir retained across a LOST checkpoint: the fresh generation
    re-signals everything as epoch 0, colliding with the committed epoch-0
    marker while carrying different files — the fingerprinted marker must
    raise instead of silently skipping the new arrivals. Same-input replays
    (fingerprint match) stay no-ops."""
    import pytest

    from snapshot_sender_spark.plans import delivery as dl

    f = fx.generate(str(tmp_path / "gen"), n_files=3, records_per_file=2, seed=54)
    input_dir = str(tmp_path / "landing")
    out_dir = str(tmp_path / "out")
    status_dir = str(tmp_path / "status")
    os.makedirs(input_dir)
    _land(f, input_dir, f.files[:2])
    ds.run_streaming_delivery(
        spark, input_dir, out_dir, status_dir, str(tmp_path / "ckpt"), dl.key_lookup_local
    )
    assert len([p for p in os.listdir(out_dir) if p.endswith(".json.gz")]) == 2
    # same arrivals, fresh checkpoint → fingerprint match → no-op
    ds.run_streaming_delivery(
        spark, input_dir, out_dir, status_dir, str(tmp_path / "ckpt_same"), dl.key_lookup_local
    )
    assert len([p for p in os.listdir(out_dir) if p.endswith(".json.gz")]) == 2
    # third file lands; checkpoint lost → epoch-0 collision with different set
    time.sleep(1.1)
    _land(f, input_dir, f.files[2:])
    with pytest.raises(Exception, match="checkpoint generations"):
        ds.run_streaming_delivery(
            spark, input_dir, out_dir, status_dir, str(tmp_path / "ckpt_lost"),
            dl.key_lookup_local,
        )
    assert len([p for p in os.listdir(out_dir) if p.endswith(".json.gz")]) == 2


def test_stale_epoch_marker_same_names_different_content_fails_loudly(spark, tmp_path):
    """The fingerprint hashes fileName + iv + cipherText, not names alone: a
    retained status dir meeting a fresh checkpoint generation whose epoch-0
    batch carries the SAME file names but re-uploaded encryption material
    (different iv) must raise, not silently fast-skip the new bytes."""
    import pytest

    from snapshot_sender_spark.plans import delivery as dl

    f = fx.generate(str(tmp_path / "gen"), n_files=2, records_per_file=2, seed=55)
    input_dir = str(tmp_path / "landing")
    status_dir = str(tmp_path / "status")
    os.makedirs(input_dir)
    _land(f, input_dir, f.files)
    ds.run_streaming_delivery(
        spark, input_dir, str(tmp_path / "out"), status_dir,
        str(tmp_path / "ckpt"), dl.key_lookup_local,
    )
    # second landing dir: identical names, perturbed iv (a re-upload with new
    # encryption material); retained status dir; fresh checkpoint → epoch 0
    input2 = str(tmp_path / "landing2")
    os.makedirs(os.path.join(input2, "meta_stream"))
    rows = [
        json.loads(line)
        for line in open(os.path.join(f.input_dir, "metadata.sidecar.jsonl"))
    ]
    with open(os.path.join(input2, "meta_stream", "arrival_0.json"), "w") as fh:
        for r in rows:
            r["iv"] = ("0" * len(r["iv"]))[: len(r["iv"])]
            fh.write(json.dumps(r) + "\n")
    for name in f.files:
        shutil.copy(os.path.join(f.input_dir, name), os.path.join(input2, name))
    with pytest.raises(Exception, match="checkpoint generations"):
        ds.run_streaming_delivery(
            spark, input2, str(tmp_path / "out2"), status_dir,
            str(tmp_path / "ckpt2"), dl.key_lookup_local,
        )


def test_legacy_v1_marker_fails_loudly(spark, tmp_path):
    """A marker in the pre-round-5 format (fileName-only fingerprint, no
    "v" field) meeting a replay fails loudly, naming the collision, instead
    of being skipped: no code writes that format any more."""
    from snapshot_sender_spark.plans import delivery as dl

    f = fx.generate(str(tmp_path / "gen"), n_files=2, records_per_file=2, seed=56)
    input_dir = str(tmp_path / "landing")
    out_dir = str(tmp_path / "out")
    status_dir = str(tmp_path / "status")
    os.makedirs(input_dir)
    _land(f, input_dir, f.files)
    ds.run_streaming_delivery(
        spark, input_dir, out_dir, status_dir, str(tmp_path / "ckpt"), dl.key_lookup_local
    )
    markers = [p for p in os.listdir(status_dir) if p.startswith("_epoch_")]
    assert markers
    assert len([p for p in os.listdir(out_dir) if p.endswith(".json.gz")]) == 2
    # a v1 marker with DIFFERENT names, replayed under a fresh checkpoint
    with open(os.path.join(status_dir, markers[0]), "w") as fh:
        fh.write(json.dumps({"n": 1, "x": 12345}))
    import pytest

    with pytest.raises(Exception, match="checkpoint generations"):
        ds.run_streaming_delivery(
            spark, input_dir, out_dir, status_dir, str(tmp_path / "ckpt3"),
            dl.key_lookup_local,
        )


def test_epoch_marker_records_what_the_epoch_delivered(spark, tmp_path):
    """Each delivery epoch's marker records, next to its fingerprint, the
    files it delivered and rejected and the records it delivered, counted
    from the batch's receipts; an epoch with nothing pending records zeros."""
    f = fx.generate(str(tmp_path / "gen"), n_files=2, records_per_file=3, seed=57)
    input_dir = str(tmp_path / "landing")
    status_dir = str(tmp_path / "status")
    os.makedirs(input_dir)
    _land(f, input_dir, f.files)
    ran = ds.run_streaming_delivery(
        spark, input_dir, str(tmp_path / "out"), status_dir, str(tmp_path / "ckpt"),
        delivery.key_lookup_local,
    )
    assert ran == [0]
    marker = os.path.join(status_dir, "_epoch_0.committed")
    with open(marker) as fh:
        record = json.load(fh)
    assert record["n"] == 2
    assert {k: record[k] for k in ("delivered", "records", "rejected")} == {
        "delivered": 2, "records": 6, "rejected": 0,
    }
    # the same batch replayed under a fresh checkpoint, its marker lost:
    # both files are finished, so the epoch has nothing pending
    os.remove(marker)
    ds.run_streaming_delivery(
        spark, input_dir, str(tmp_path / "out"), status_dir, str(tmp_path / "ckpt2"),
        delivery.key_lookup_local,
    )
    with open(marker) as fh:
        record = json.load(fh)
    assert {k: record[k] for k in ("delivered", "records", "rejected")} == {
        "delivered": 0, "records": 0, "rejected": 0,
    }


def test_replayed_epoch_with_lost_marker_skips_finished_files(spark, tmp_path):
    """Per-FILE idempotence under epoch replay: if the epoch marker is lost
    but outputs + .finished markers survive, the replayed batch re-delivers
    nothing (the already-processed left_anti, the batch pipeline's own
    restart contract, now guards the streaming path too)."""
    from snapshot_sender_spark.plans import delivery as dl

    f = fx.generate(str(tmp_path / "gen"), n_files=2, records_per_file=2, seed=55)
    input_dir = str(tmp_path / "landing")
    out_dir = str(tmp_path / "out")
    status_dir = str(tmp_path / "status")
    os.makedirs(input_dir)
    _land(f, input_dir, f.files)
    ds.run_streaming_delivery(
        spark, input_dir, out_dir, status_dir, str(tmp_path / "ckpt"), dl.key_lookup_local
    )
    outs = sorted(p for p in os.listdir(out_dir) if p.endswith(".json.gz"))
    assert len(outs) == 2
    mtimes = {p: os.path.getmtime(os.path.join(out_dir, p)) for p in outs}
    # lose BOTH the checkpoint and the epoch marker; .finished markers survive
    for m in os.listdir(status_dir):
        if m.startswith("_epoch_"):
            os.remove(os.path.join(status_dir, m))
    ds.run_streaming_delivery(
        spark, input_dir, out_dir, status_dir, str(tmp_path / "ckpt2"), dl.key_lookup_local
    )
    assert {p: os.path.getmtime(os.path.join(out_dir, p)) for p in outs} == mtimes


def test_signalled_but_deleted_file_does_not_wedge_the_stream(spark, tmp_path):
    """A replayed epoch whose signalled file was meanwhile deleted from the
    landing dir (ops TTL) must deliver the survivors and commit — an explicit
    load of a missing path would otherwise raise every replay, wedging the
    epoch in a crash loop."""
    from snapshot_sender_spark.plans import delivery as dl

    f = fx.generate(str(tmp_path / "gen"), n_files=3, records_per_file=2, seed=56)
    input_dir = str(tmp_path / "landing")
    out_dir = str(tmp_path / "out")
    status_dir = str(tmp_path / "status")
    os.makedirs(input_dir)
    _land(f, input_dir, f.files)
    os.remove(os.path.join(input_dir, f.files[0]))  # deleted before delivery
    ds.run_streaming_delivery(
        spark, input_dir, out_dir, status_dir, str(tmp_path / "ckpt"), dl.key_lookup_local
    )
    outs = [p for p in os.listdir(out_dir) if p.endswith(".json.gz")]
    assert len(outs) == 2  # survivors delivered, epoch committed
    assert any(p.startswith("_epoch_") for p in os.listdir(status_dir))


def test_hidden_arrival_fails_the_batch_naming_it(spark, tmp_path):
    """An arrival whose object is hidden (a name starting with ``_``) fails
    the micro-batch naming it, instead of vanishing from an epoch that
    commits."""
    f = fx.generate(str(tmp_path / "gen"), n_files=2, records_per_file=2, seed=54)
    hidden = "_core.claimant-045-050-000001.txt.gz.enc"
    os.rename(os.path.join(f.input_dir, f.files[0]), os.path.join(f.input_dir, hidden))
    sidecar = os.path.join(f.input_dir, "metadata.sidecar.jsonl")
    with open(sidecar) as fh:
        text = fh.read().replace(f.files[0], hidden)
    with open(sidecar, "w") as fh:
        fh.write(text)
    input_dir = str(tmp_path / "landing")
    status_dir = str(tmp_path / "status")
    os.makedirs(input_dir)
    _land(f, input_dir, [hidden, f.files[1]])
    with pytest.raises(Exception, match=re.escape(hidden)):
        ds.run_streaming_delivery(
            spark, input_dir, str(tmp_path / "out"), status_dir, str(tmp_path / "ckpt"),
            delivery.key_lookup_local,
        )
    assert not [p for p in os.listdir(status_dir) if p.startswith("_epoch_")]


def test_null_arrival_field_fails_naming_the_row(spark, tmp_path):
    """An arrival row with a NULL field fails the micro-batch with a
    ValueError naming the row's file and the arrivals dir, before anything is
    delivered or the epoch commits."""
    f = fx.generate(str(tmp_path / "gen"), n_files=2, records_per_file=2, seed=56)
    input_dir = str(tmp_path / "landing")
    out_dir = str(tmp_path / "out")
    status_dir = str(tmp_path / "status")
    os.makedirs(input_dir)
    _land(f, input_dir, f.files)
    meta_dir = os.path.join(input_dir, "meta_stream")
    [arrival] = os.listdir(meta_dir)
    with open(os.path.join(meta_dir, arrival)) as fh:
        rows = [json.loads(line) for line in fh]
    rows[1]["iv"] = None
    with open(os.path.join(meta_dir, arrival), "w") as fh:
        fh.writelines(json.dumps(r) + "\n" for r in rows)
    named = re.escape(f"{meta_dir}: metadata row '{rows[1]['fileName']}'")
    with pytest.raises(Exception, match=named):
        ds.run_streaming_delivery(
            spark, input_dir, out_dir, status_dir, str(tmp_path / "ckpt"),
            delivery.key_lookup_local,
        )
    assert not os.path.exists(out_dir) or not os.listdir(out_dir)
    assert not [p for p in os.listdir(status_dir) if p.startswith("_epoch_")]
