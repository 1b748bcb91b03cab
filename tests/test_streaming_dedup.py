"""Streaming ingestion-dedup service: per-batch dedup against the persisted
bucketed index, index grows with accepted docs, epochs idempotent."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from snapshot_sender_spark.streaming.dedup_stream import run_streaming_ingestion_dedup


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture
def dirs(tmp_path):
    d = {
        "input": str(tmp_path / "input"),
        "accepted": str(tmp_path / "accepted"),
        "ckpt": str(tmp_path / "ckpt"),
    }
    os.makedirs(d["input"])
    return d


TABLE = "t_stream_dedup_idx"


@pytest.fixture(autouse=True)
def _drop_table(spark):
    yield
    spark.sql(f"DROP TABLE IF EXISTS {TABLE}")
    spark.sql(f"DROP TABLE IF EXISTS {TABLE}_sizes")


def accepted_ids(spark, dirs):
    return {
        r["doc_id"]
        for r in spark.read.parquet(os.path.join(dirs["accepted"], "data")).collect()
    }


def test_streaming_dedup_within_batch_and_against_index(spark, dirs):
    """Batch 1: exact dup and near-dup collapse to the min id. Batch 2: a
    near-dup of an already-accepted doc is rejected via the index; novel
    docs are accepted and indexed."""
    base = "alpha beta gamma delta epsilon zeta eta theta"
    _docs(
        spark,
        [
            (1, base),
            (2, base),  # exact dup of 1 → dropped
            (3, base + " iota"),  # near-dup of 1 → dropped
            (4, "one two three four five six seven eight"),
        ],
    ).write.mode("append").parquet(dirs["input"])
    run_streaming_ingestion_dedup(
        spark, dirs["input"], TABLE, dirs["accepted"], dirs["ckpt"], threshold=0.5
    )
    assert accepted_ids(spark, dirs) == {1, 4}

    _docs(
        spark,
        [
            (10, base + " kappa"),  # near-dup of accepted 1 → rejected
            (11, "nine ten eleven twelve thirteen fourteen fifteen sixteen"),
        ],
    ).write.mode("append").parquet(dirs["input"])
    run_streaming_ingestion_dedup(
        spark, dirs["input"], TABLE, dirs["accepted"], dirs["ckpt"], threshold=0.5
    )
    assert accepted_ids(spark, dirs) == {1, 4, 11}
    # the index holds exactly the accepted docs' postings
    assert {
        r["id"] for r in spark.table(TABLE).select("id").distinct().collect()
    } == {1, 4, 11}


def test_streaming_dedup_index_grows_between_epochs_of_one_run(spark, dirs):
    """With maxFilesPerTrigger=1, two input files become two epochs of one
    run: the second epoch must see the first epoch's index append (clone-
    session refresh) and reject its near-dup."""
    base = "red orange yellow green blue indigo violet ultraviolet"
    _docs(spark, [(1, base)]).coalesce(1).write.mode("append").parquet(dirs["input"])
    _docs(spark, [(2, base + " extra")]).coalesce(1).write.mode("append").parquet(
        dirs["input"]
    )
    run_streaming_ingestion_dedup(
        spark,
        dirs["input"],
        TABLE,
        dirs["accepted"],
        dirs["ckpt"],
        threshold=0.5,
        max_files_per_trigger=1,
    )
    assert accepted_ids(spark, dirs) == {1}


def test_streaming_dedup_epoch_replay_is_noop(spark, dirs):
    """A replayed epoch (marker present, checkpoint lost) must not re-append
    to the corpus or the index."""
    _docs(spark, [(1, "solo unique document text body here")]).write.mode(
        "append"
    ).parquet(dirs["input"])
    run_streaming_ingestion_dedup(
        spark, dirs["input"], TABLE, dirs["accepted"], dirs["ckpt"], threshold=0.5
    )
    n_files = len(os.listdir(os.path.join(dirs["accepted"], "data")))
    # simulate checkpoint loss: rerun over the same input with a fresh ckpt
    run_streaming_ingestion_dedup(
        spark,
        dirs["input"],
        TABLE,
        dirs["accepted"],
        str(dirs["ckpt"]) + "_2",
        threshold=0.5,
    )
    assert accepted_ids(spark, dirs) == {1}
    assert len(os.listdir(os.path.join(dirs["accepted"], "data"))) == n_files


def test_streaming_dedup_mid_epoch_crash_replay_no_duplicates(
    spark, dirs, monkeypatch
):
    """Crash AFTER the corpus epoch write but BEFORE the index write, then
    replay with a fresh checkpoint: the epoch-directory overwrite and the
    per-epoch dynamic partition overwrite must leave zero duplicate corpus
    rows and an index consistent with the accepted corpus."""
    from snapshot_sender_spark.operators import dedup as dedup_ops
    from snapshot_sender_spark.streaming import dedup_stream as ds

    _docs(
        spark,
        [(1, "unique first document text body"), (2, "another totally different one here")],
    ).write.mode("append").parquet(dirs["input"])

    real_append = dedup_ops.append_dedup_index_epoch
    calls = {"n": 0}

    def crashing_append(*a, **kw):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("injected crash before index write")
        return real_append(*a, **kw)

    monkeypatch.setattr(dedup_ops, "append_dedup_index_epoch", crashing_append)
    with pytest.raises(Exception):
        run_streaming_ingestion_dedup(
            spark, dirs["input"], TABLE, dirs["accepted"], dirs["ckpt"], threshold=0.5
        )
    # corpus epoch dir was written; index was not; marker was not. Replay with
    # a fresh checkpoint reprocesses the same batch.
    run_streaming_ingestion_dedup(
        spark,
        dirs["input"],
        TABLE,
        dirs["accepted"],
        dirs["ckpt"] + "_retry",
        threshold=0.5,
    )
    rows = spark.read.parquet(os.path.join(dirs["accepted"], "data")).collect()
    assert sorted(r["doc_id"] for r in rows) == [1, 2]  # no duplicates
    # index postings cover exactly the accepted docs, once each
    idx_ids = [r["id"] for r in spark.table(TABLE).select("id").collect()]
    per_doc = {r["doc_id"]: r["text"] for r in rows}
    expected = sum(
        len({f"{a} {b}" for a, b in zip(t.split(), t.split()[1:])})
        for t in per_doc.values()
    )
    assert len(idx_ids) == expected and set(idx_ids) == {1, 2}
    # and a SECOND replay (epoch re-run with marker present) stays unchanged
    run_streaming_ingestion_dedup(
        spark,
        dirs["input"],
        TABLE,
        dirs["accepted"],
        dirs["ckpt"] + "_retry2",
        threshold=0.5,
    )
    assert spark.table(TABLE).count() == expected
    assert spark.read.parquet(os.path.join(dirs["accepted"], "data")).count() == 2


def test_streaming_dedup_crash_after_index_append_replay(spark, dirs, monkeypatch):
    """Crash AFTER the index append but BEFORE the epoch marker, then replay:
    the replayed epoch must NOT see the crashed attempt's own postings (they
    would self-match every accepted doc at Jaccard 1.0, drop them all, and
    strand the stale index partition as phantom postings). The current-epoch
    partition is excluded from the cross-set check, so replay recomputes the
    same accepted set and both writes converge. Guards the round-3 advice
    finding (replay data loss in the append→marker window)."""
    from snapshot_sender_spark.streaming.epochs import EpochLog

    _docs(
        spark,
        [(1, "unique first document text body"), (2, "another totally different one here")],
    ).write.mode("append").parquet(dirs["input"])

    real_commit = EpochLog.commit
    calls = {"n": 0}

    def crashing_commit(self, epoch, record):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("injected crash after index append, before marker")
        return real_commit(self, epoch, record)

    monkeypatch.setattr(EpochLog, "commit", crashing_commit)
    with pytest.raises(Exception):
        run_streaming_ingestion_dedup(
            spark, dirs["input"], TABLE, dirs["accepted"], dirs["ckpt"], threshold=0.5
        )
    # corpus epoch dir AND index epoch partition were written; marker was not
    assert spark.table(TABLE).count() > 0
    run_streaming_ingestion_dedup(
        spark,
        dirs["input"],
        TABLE,
        dirs["accepted"],
        dirs["ckpt"] + "_retry",
        threshold=0.5,
    )
    rows = spark.read.parquet(os.path.join(dirs["accepted"], "data")).collect()
    assert sorted(r["doc_id"] for r in rows) == [1, 2]  # nothing lost, no dupes
    per_doc = {r["doc_id"]: r["text"] for r in rows}
    expected = sum(
        len({f"{a} {b}" for a, b in zip(t.split(), t.split()[1:])})
        for t in per_doc.values()
    )
    idx_ids = [r["id"] for r in spark.table(TABLE).select("id").collect()]
    assert len(idx_ids) == expected and set(idx_ids) == {1, 2}  # no phantoms
    # subsequent batches still dedup correctly against the recovered index
    _docs(spark, [(10, "unique first document text body extra")]).write.mode(
        "append"
    ).parquet(dirs["input"])
    run_streaming_ingestion_dedup(
        spark,
        dirs["input"],
        TABLE,
        dirs["accepted"],
        dirs["ckpt"] + "_retry",
        threshold=0.5,
    )
    assert accepted_ids(spark, dirs) == {1, 2}  # 10 rejected via the index


def test_stale_warehouse_location_from_previous_process_is_cleared(spark, dirs):
    """With the in-memory catalog, a previous PROCESS's managed index table
    leaves its warehouse directory on disk while the new catalog is empty —
    DROP TABLE IF EXISTS no-ops and CREATE would fail with
    LOCATION_ALREADY_EXISTS. The index builders must clear such unreachable
    locations. Simulated by planting the directories without catalog
    entries."""
    import shutil

    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    spark.sql(f"DROP TABLE IF EXISTS {TABLE}")
    spark.sql(f"DROP TABLE IF EXISTS {TABLE}_sizes")
    for t in (TABLE, f"{TABLE}_sizes"):
        stale = os.path.join(wh, t)
        os.makedirs(stale, exist_ok=True)
        with open(os.path.join(stale, "leftover.parquet"), "wb") as f:
            f.write(b"junk")
    try:
        _docs(spark, [(1, "fresh corpus document text body")]).write.mode(
            "append"
        ).parquet(dirs["input"])
        run_streaming_ingestion_dedup(
            spark, dirs["input"], TABLE, dirs["accepted"], dirs["ckpt"], threshold=0.5
        )
        assert accepted_ids(spark, dirs) == {1}
        assert {r["id"] for r in spark.table(TABLE).select("id").collect()} == {1}
    finally:
        for t in (TABLE, f"{TABLE}_sizes"):
            shutil.rmtree(os.path.join(wh, t), ignore_errors=True)


def test_concurrent_same_epoch_index_append_no_duplicates(spark, dirs):
    """Two concurrent attempts of the SAME epoch's index append (the zombie-
    attempt shape: a stalled first attempt resumes while its replay is
    already writing): per-epoch dynamic partition overwrite must converge to
    exactly one copy of the epoch's postings — never a double-append. The
    delivery sink has the equivalent race tests (test_robustness.py); this
    pins the index-append side."""
    import threading

    from snapshot_sender_spark.operators import dedup as dedup_ops

    docs = _docs(
        spark,
        [(1, "first unique document body text"), (2, "second distinct body of words")],
    )
    # establish the table (epoch 0), then race two epoch-1 attempts
    dedup_ops.append_dedup_index_epoch(spark, TABLE, docs, "text", "doc_id", 0)
    batch = _docs(spark, [(10, "a brand new third document arrives")])
    errs = []

    def attempt():
        try:
            dedup_ops.append_dedup_index_epoch(spark, TABLE, batch, "text", "doc_id", 1)
        except Exception as e:  # a loser MAY fail; it must not corrupt
            errs.append(e)

    threads = [threading.Thread(target=attempt) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert len(errs) < 2  # at least one attempt succeeded
    spark.catalog.refreshTable(TABLE)
    spark.catalog.refreshTable(TABLE + "_sizes")
    text = batch.first()["text"]
    expected = len({f"{a} {b}" for a, b in zip(text.split(), text.split()[1:])})
    got = spark.table(TABLE).filter(F.col("epoch") == 1).collect()
    assert len(got) == expected and {r["id"] for r in got} == {10}
    sizes = spark.table(TABLE + "_sizes").filter(F.col("epoch") == 1).collect()
    assert len(sizes) == 1 and sizes[0]["set_size"] == expected
    # epoch 0 untouched by the race
    assert {r["id"] for r in spark.table(TABLE).filter(F.col("epoch") == 0).collect()} == {1, 2}


def test_stale_epoch_marker_with_different_input_fails_loudly(spark, dirs):
    """Epoch ids restart at 0 under a FRESH checkpoint, so a marker retained
    from a previous checkpoint generation can collide with a batch of
    entirely different content — the silent outcomes (skip the new files, or
    overwrite the committed epoch) are both data loss. The marker carries the
    committed batch's fingerprint; a mismatch must raise, naming the
    collision. Same-input replays (fingerprint match) stay no-ops."""
    _docs(spark, [(1, "the original first document body")]).coalesce(1).write.mode(
        "append"
    ).parquet(dirs["input"])
    run_streaming_ingestion_dedup(
        spark, dirs["input"], TABLE, dirs["accepted"], dirs["ckpt"], threshold=0.5
    )
    assert accepted_ids(spark, dirs) == {1}
    # same input, fresh checkpoint → fingerprint matches → no-op (unchanged)
    run_streaming_ingestion_dedup(
        spark, dirs["input"], TABLE, dirs["accepted"], dirs["ckpt"] + "_same", threshold=0.5
    )
    assert accepted_ids(spark, dirs) == {1}
    # new file lands, checkpoint LOST: fresh generation re-lists everything as
    # epoch 0 → collides with the committed epoch-0 marker → loud failure
    _docs(spark, [(2, "a brand new second document body")]).coalesce(1).write.mode(
        "append"
    ).parquet(dirs["input"])
    # (the RuntimeError surfaces wrapped in Spark's StreamingQueryException)
    with pytest.raises(Exception, match="checkpoint generations"):
        run_streaming_ingestion_dedup(
            spark, dirs["input"], TABLE, dirs["accepted"], dirs["ckpt"] + "_lost", threshold=0.5
        )
    # nothing was silently dropped or overwritten
    assert accepted_ids(spark, dirs) == {1}
    # the supported path still works: the ORIGINAL checkpoint picks up only
    # the new file as the next epoch
    run_streaming_ingestion_dedup(
        spark, dirs["input"], TABLE, dirs["accepted"], dirs["ckpt"], threshold=0.5
    )
    assert accepted_ids(spark, dirs) == {1, 2}


def test_compact_dedup_index_folds_epochs_probe_identical(spark, dirs):
    """Compaction folds committed epoch partitions into the reserved
    epoch=-1 partition: the cross-set probe result is bit-identical, the
    partition/file census shrinks, the bucket-aligned no-Exchange plan
    survives, and the service keeps deduping correctly afterwards."""
    from snapshot_sender_spark.operators import dedup as dedup_ops
    from snapshot_sender_spark.streaming.dedup_stream import committed_epochs

    texts = {
        0: "alpha beta gamma delta epsilon zeta eta theta",
        1: "one two three four five six seven eight",
        2: "red orange yellow green blue indigo violet ultraviolet",
    }
    # three epochs of one file each (mtime-ordered)
    import time as _time

    for k, txt in texts.items():
        part = dirs["input"] + f"_stage{k}"
        _docs(spark, [(k * 10, txt)]).coalesce(1).write.parquet(part)
        import glob as _glob
        import shutil as _shutil

        src = _glob.glob(os.path.join(part, "part-*.parquet"))[0]
        dst = os.path.join(dirs["input"], f"e{k}.parquet")
        _shutil.move(src, dst)
        os.utime(dst, (_time.time() - 300 + 60 * k,) * 2)
    run_streaming_ingestion_dedup(
        spark, dirs["input"], TABLE, dirs["accepted"], dirs["ckpt"],
        threshold=0.5, max_files_per_trigger=1,
    )
    assert accepted_ids(spark, dirs) == {0, 10, 20}
    epochs = committed_epochs(dirs["accepted"])
    assert epochs == [0, 1, 2]

    probe = _docs(spark, [(99, texts[1] + " nine")])  # near-dup of doc 10

    def probe_pairs():
        df = dedup_ops.incremental_jaccard_against_index(
            spark, TABLE, probe, "text", "doc_id", threshold=0.5
        )
        rows = {(r["id_new"], r["id_existing"], round(r["jaccard"], 9))
                for r in df.collect()}
        # final AQE plan only (Initial section repeats the exchanges)
        plan = (
            df._jdf.queryExecution().executedPlan().toString()
            .split("== Initial Plan ==")[0]
        )
        return rows, plan

    before, plan_before = probe_pairs()
    assert before, "probe must hit the indexed near-dup"

    def census(t):
        parts = {r[0] for r in spark.sql(f"SHOW PARTITIONS {t}").collect()}
        files = spark.table(t).inputFiles()
        return parts, len(files)

    parts0, files0 = census(TABLE)
    assert parts0 == {"epoch=0", "epoch=1", "epoch=2"}

    moved = dedup_ops.compact_dedup_index(spark, TABLE, epochs)
    assert moved > 0
    parts1, files1 = census(TABLE)
    assert parts1 == {"epoch=-1"}
    assert files1 < files0

    after, plan_after = probe_pairs()
    assert after == before
    # corpus side still bucket-aligned: in-place bucketed scan and exactly
    # ONE shuffle on the shingle hash (the probe batch side) — the same pin
    # as test_dedup_index_incremental_matches_and_skips_corpus_shuffle
    for plan in (plan_before, plan_after):
        assert "Bucketed: true" in plan
        assert plan.count("Exchange hashpartitioning(h#") == 1

    # folding nonexistent/already-folded epochs is a true no-op: markers
    # outlive partitions, so a service cycle with nothing new must not
    # rewrite the standing corpus
    assert dedup_ops.compact_dedup_index(spark, TABLE, [5]) == 0
    assert dedup_ops.compact_dedup_index(spark, TABLE, epochs) == 0
    assert census(TABLE) == (parts1, files1)
    assert probe_pairs()[0] == before

    # CRASH RECOVERY: simulate dying between the target overwrite and the
    # source drops — the folded epoch exists in BOTH epoch=-1 and its own
    # partition (recreate it with the same content via the idempotent
    # per-epoch append). Re-running the fold must dedup by key, not
    # amplify, and restore the exact probe results.
    doc0 = spark.read.parquet(
        os.path.join(dirs["accepted"], "data", "epoch=0")
    ).select("doc_id", "text")
    dedup_ops.append_dedup_index_epoch(
        spark, TABLE, doc0, "text", "doc_id", epoch=0
    )
    assert census(TABLE)[0] == {"epoch=-1", "epoch=0"}  # the crash state
    healed = dedup_ops.compact_dedup_index(spark, TABLE, [0])
    assert healed == moved  # same unique posting rows as the clean fold
    assert census(TABLE)[0] == {"epoch=-1"}
    assert probe_pairs()[0] == before
    assert spark.table(TABLE).count() == moved  # no duplicate rows survive

    # the service continues: a 4th epoch dedups against the compacted index
    nxt = _docs(spark, [(30, texts[2] + " infrared"),  # near-dup of doc 20
                        (31, "nine ten eleven twelve thirteen fourteen "
                             "fifteen sixteen")])
    part = dirs["input"] + "_stage3"
    nxt.coalesce(1).write.parquet(part)
    import glob as _glob
    import shutil as _shutil

    src = _glob.glob(os.path.join(part, "part-*.parquet"))[0]
    _shutil.move(src, os.path.join(dirs["input"], "e3.parquet"))
    run_streaming_ingestion_dedup(
        spark, dirs["input"], TABLE, dirs["accepted"], dirs["ckpt"],
        threshold=0.5,
    )
    assert accepted_ids(spark, dirs) == {0, 10, 20, 31}
    # the new epoch's partition coexists with the compacted one
    parts2, _ = census(TABLE)
    assert "epoch=-1" in parts2 and any(p != "epoch=-1" for p in parts2)


def test_compact_dedup_index_rejects_target_in_fold_set(spark, dirs):
    from snapshot_sender_spark.operators import dedup as dedup_ops

    _docs(spark, [(1, "alpha beta gamma delta epsilon zeta eta theta")]).coalesce(
        1
    ).write.mode("append").parquet(dirs["input"])
    run_streaming_ingestion_dedup(
        spark, dirs["input"], TABLE, dirs["accepted"], dirs["ckpt"], threshold=0.5
    )
    with pytest.raises(ValueError, match="target_epoch"):
        dedup_ops.compact_dedup_index(spark, TABLE, [0, -1])
    assert dedup_ops.compact_dedup_index(spark, TABLE, []) == 0


def test_service_compact_after_run(spark, dirs):
    """compact_after=True folds all committed epochs when the stream
    terminates; a follow-up run dedups correctly against the compacted
    index and its own new epoch partitions."""
    import glob as _glob
    import shutil as _shutil
    import time as _time

    texts = ["alpha beta gamma delta epsilon zeta eta theta",
             "one two three four five six seven eight"]
    for k, txt in enumerate(texts):
        part = dirs["input"] + f"_s{k}"
        _docs(spark, [(k * 10, txt)]).coalesce(1).write.parquet(part)
        src = _glob.glob(os.path.join(part, "part-*.parquet"))[0]
        dst = os.path.join(dirs["input"], f"e{k}.parquet")
        _shutil.move(src, dst)
        os.utime(dst, (_time.time() - 300 + 60 * k,) * 2)
    run_streaming_ingestion_dedup(
        spark, dirs["input"], TABLE, dirs["accepted"], dirs["ckpt"],
        threshold=0.5, max_files_per_trigger=1, compact_after=True,
    )
    parts = {r[0] for r in spark.sql(f"SHOW PARTITIONS {TABLE}").collect()}
    assert parts == {"epoch=-1"}
    assert accepted_ids(spark, dirs) == {0, 10}
    # follow-up: a near-dup of an accepted doc is rejected via the compacted
    # index; a novel doc is accepted into a fresh epoch partition
    nxt = _docs(spark, [(30, texts[0] + " iota"),
                        (31, "nine ten eleven twelve thirteen fourteen "
                             "fifteen sixteen")])
    part = dirs["input"] + "_s2"
    nxt.coalesce(1).write.parquet(part)
    src = _glob.glob(os.path.join(part, "part-*.parquet"))[0]
    _shutil.move(src, os.path.join(dirs["input"], "e2.parquet"))
    run_streaming_ingestion_dedup(
        spark, dirs["input"], TABLE, dirs["accepted"], dirs["ckpt"],
        threshold=0.5,
    )
    assert accepted_ids(spark, dirs) == {0, 10, 31}
