"""Structured-streaming semantics: watermark late-data drop, session windows,
streaming dedup, stateful running aggregates — on controlled micro-batches so
expected emissions are known exactly."""

import os

import pytest
from pyspark.sql import functions as F

from snapshot_sender_spark.streaming import windows as sw


@pytest.fixture()
def event_dir(tmp_path, spark):
    """Three micro-batch files: b1 advances event time (watermark), b2 lets the
    old window get evicted, b3 carries a late row behind the watermark.

    Note Spark's contract: a late row is only *guaranteed* dropped once the
    window's state has been evicted (watermark passed the window end in an
    earlier batch); within the eviction batch itself it may still be counted."""
    import time

    d = str(tmp_path / "stream_in")
    os.makedirs(d)
    schema = "event_id long, ts string, user_id long, event_type string, value double, props string"
    batches = [
        [  # b1: establishes window [00:00, 01:00) and advances watermark to 02:00
            (1, "2024-01-01 00:05:00", 10, "click", 1.0, "{}"),
            (2, "2024-01-01 00:50:00", 10, "click", 2.0, "{}"),
            (3, "2024-01-01 03:00:00", 11, "view", 3.0, "{}"),
        ],
        [  # b2: watermark 02:00 in effect → [00:00) window evicted + emitted here
            (5, "2024-01-01 03:10:00", 11, "view", 5.0, "{}"),
        ],
        [  # b3: late row for the already-evicted window → guaranteed drop
            (4, "2024-01-01 00:10:00", 10, "click", 4.0, "{}"),
        ],
    ]
    for i, rows in enumerate(batches, 1):
        df = spark.createDataFrame(rows, schema).withColumn("ts", F.to_timestamp("ts"))
        df.coalesce(1).write.parquet(f"{d}/b{i}")
        time.sleep(1.1)  # file-source batching orders by mtime; keep file order strict
    return d


def _stream(spark, path, schema):
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(path + "/*/")
    )


def test_late_data_dropped(spark, event_dir):
    """An event arriving behind the watermark must not re-open its window
    (append mode, 1h watermark, 1h tumbling windows)."""
    schema = spark.read.parquet(event_dir + "/b1").schema
    events = _stream(spark, event_dir, schema)
    agg = (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count("*").alias("n"), F.sum("value").alias("v"))
        .select(F.col("window.start").alias("ws"), "n", "v")
    )
    out = sw.run_to_memory(agg, "append")
    emitted = [
        (r["n"], r["v"]) for r in out.collect() if r["ws"].isoformat() == "2024-01-01T00:00:00"
    ]
    # the [00:00, 01:00) window was evicted in batch 2 (watermark 02:00) with
    # events 1+2 only; the late event 4 arriving in batch 3 must neither re-open
    # the window nor emit a correction row
    assert emitted == [(2, 3.0)]


def test_session_window_batch_semantics(spark):
    df = spark.createDataFrame(
        [
            (10, "2024-01-01 00:00:00"),
            (10, "2024-01-01 00:10:00"),  # same session (gap 30m)
            (10, "2024-01-01 01:00:00"),  # new session (50m gap)
            (11, "2024-01-01 00:00:00"),
        ],
        "user_id long, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    out = sw.session_counts(df, "30 minutes").collect()
    by_user = {}
    for r in out:
        by_user.setdefault(r["user_id"], []).append(r)
    assert len(by_user[10]) == 2
    first = min(by_user[10], key=lambda r: r["session_start"])
    assert first["n_events"] == 2
    assert first["session_end"].isoformat() == "2024-01-01T00:40:00"  # last ts + gap
    assert len(by_user[11]) == 1


def test_streaming_dedup_exactly_once(spark, sf_dir):
    out = sw.streaming_dedup_counts(spark, sf_dir)
    n_stream = {r["event_type"]: r["n"] for r in out.collect()}
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    n_batch = {
        r["event_type"]: r["n"]
        for r in batch.groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    assert n_stream == n_batch  # doubled input, deduped back to exact counts


def _rollup(spark, event_dir, rollup_path, ckpt):
    from snapshot_sender_spark.streaming import rollup as ru

    schema = spark.read.parquet(event_dir + "/b1").schema
    out = ru.run_incremental_rollup(_stream(spark, event_dir, schema), rollup_path, ckpt, "1 hour")
    return {
        (r["window_start"].isoformat(), r["event_type"]): (r["n"], r["sum_value"])
        for r in out.collect()
    }


def test_incremental_rollup_multi_batch_and_restart(spark, event_dir, tmp_path):
    """The foreachBatch rollup merges partials across micro-batches, and a
    restart over the same checkpoint does not double-merge (exactly-once per
    epoch via the streaming checkpoint)."""
    rollup_path, ckpt = str(tmp_path / "rollup"), str(tmp_path / "ckpt")
    out = _rollup(spark, event_dir, rollup_path, ckpt)  # 3 files → 3 micro-batches
    # events 1,2 (b1) + late 4 (b3) in [00:00), event 3,5 (b1,b2) in [03:00)
    assert out[("2024-01-01T00:00:00", "click")] == (3, 7.0)
    assert out[("2024-01-01T03:00:00", "view")] == (2, 8.0)

    # restart over the same checkpoint: no new data → no re-merge
    assert _rollup(spark, event_dir, rollup_path, ckpt) == out


def test_incremental_rollup_replayed_epoch_merges_once(spark, event_dir, tmp_path):
    """Spark replays the last epoch when its checkpoint commit is lost; the
    rollup's epoch marker must make that replay a no-op, not merge the
    epoch's partials a second time."""
    rollup_path, ckpt = str(tmp_path / "rollup"), str(tmp_path / "ckpt")
    first = _rollup(spark, event_dir, rollup_path, ckpt)
    last = max(int(n) for n in os.listdir(ckpt + "/commits") if n.isdigit())
    os.remove(f"{ckpt}/commits/{last}")
    os.remove(f"{ckpt}/commits/.{last}.crc")
    assert _rollup(spark, event_dir, rollup_path, ckpt) == first


def test_incremental_rollup_crash_before_publish_converges(
    spark, event_dir, tmp_path, monkeypatch
):
    """A crash after the last epoch's merged state is written but before it
    is live (its marker commit): the rerun on the same checkpoint must end
    with the rollup of an uncrashed run — no earlier epoch dropped, none
    merged twice."""
    from snapshot_sender_spark.streaming.epochs import EpochLog

    clean = _rollup(spark, event_dir, str(tmp_path / "clean"), str(tmp_path / "clean_ckpt"))
    real_commit = EpochLog.commit

    def crashing_commit(self, epoch, record):
        if epoch == 2:
            raise RuntimeError("injected crash before the epoch's state is live")
        return real_commit(self, epoch, record)

    rollup_path, ckpt = str(tmp_path / "rollup"), str(tmp_path / "ckpt")
    monkeypatch.setattr(EpochLog, "commit", crashing_commit)
    with pytest.raises(Exception, match="injected crash"):
        _rollup(spark, event_dir, rollup_path, ckpt)
    monkeypatch.undo()
    assert _rollup(spark, event_dir, rollup_path, ckpt) == clean


def test_rocksdb_state_store_multi_batch(spark, event_dir):
    """The RocksDB state store provider carries windowed state across
    micro-batches and produces results identical to the default provider
    (provider instantiation fails loudly on a bad class, so a green run
    proves RocksDB was active)."""
    schema = spark.read.parquet(event_dir + "/b1").schema
    events = _stream(spark, event_dir, schema)
    agg = (
        events.groupBy(F.window("ts", "1 hour"))
        .agg(F.count("*").alias("n"))
        .select(F.col("window.start").alias("ws"), "n")
    )
    out = sw.run_to_memory(agg, "complete", state_store="rocksdb")
    got = {r["ws"].isoformat(): r["n"] for r in out.collect()}
    # all three batches accumulated: window 00:00 has events 1,2 + late 4
    assert got["2024-01-01T00:00:00"] == 3
    assert got["2024-01-01T03:00:00"] == 2
    # the session conf is restored afterwards
    assert (
        spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
        != sw.ROCKSDB_PROVIDER
    )


def test_stateful_running_max(spark, event_dir):
    """applyInPandasWithState: state carries across micro-batches (two files →
    two batches via maxFilesPerTrigger=1)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    schema = spark.read.parquet(event_dir + "/b1").schema
    events = _stream(spark, event_dir, schema)

    def running_max(key, pdfs, state):
        mx, cnt = state.get if state.exists else (float("-inf"), 0)
        for pdf in pdfs:
            if len(pdf):
                mx = max(mx, float(pdf["value"].max()))
                cnt += len(pdf)
        state.update((mx, cnt))
        yield pd.DataFrame({"user_id": [key[0]], "max_value": [mx], "n_events": [cnt]})

    out = events.groupBy("user_id").applyInPandasWithState(
        running_max,
        outputStructType="user_id long, max_value double, n_events long",
        stateStructType="max_value double, n_events long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    result = sw.run_to_memory(out, "update").collect()
    # last emission per user reflects accumulated state over both batches
    final = {}
    for r in result:
        final[r["user_id"]] = (r["max_value"], max(r["n_events"], final.get(r["user_id"], (0, 0))[1]))
    assert final[10][1] == 3  # events 1, 2 (batch 1) + 4 (batch 2)
    assert final[10][0] == 4.0  # max value arrived in batch 2
    assert final[11][1] == 2


def test_dynamic_gap_session_boundaries(spark):
    """Pins session_window's dynamic-gap semantics the oracle models: the
    session-end boundary is INCLUSIVE for merging (an event at exactly the
    current session's end still merges — only a strictly-later event starts
    a new session), and a later event inside the merged window extends the
    end by its own gap (running max of interval ends)."""
    rows = [
        (1, "2024-01-01 00:00:00", "view"),   # [00:00, 00:10)
        (1, "2024-01-01 00:10:00", "click"),  # ts == prev end -> MERGES (inclusive), end 00:40
        (1, "2024-01-01 00:35:00", "view"),   # 00:35 <= 00:40 -> merges, end max(40,45)=00:45
        (1, "2024-01-01 00:45:01", "view"),   # strictly after 00:45 -> new [00:45:01, 00:55:01)
    ]
    df = spark.createDataFrame(rows, "user_id long, ts_s string, event_type string").select(
        "user_id", F.to_timestamp("ts_s").alias("ts"), "event_type"
    )
    gap = F.make_interval(
        mins=F.when(F.col("event_type") == "view", F.lit(10)).otherwise(F.lit(30))
    )
    got = sorted(
        (
            str(r["start"]), str(r["end"]), r["n"]
        )
        for r in df.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("start"), F.col("w.end").alias("end"), "n")
        .collect()
    )
    assert got == [
        ("2024-01-01 00:00:00", "2024-01-01 00:45:00", 3),
        ("2024-01-01 00:45:01", "2024-01-01 00:55:01", 1),
    ]


def test_streaming_dynamic_gap_sessions_merge_and_drop_late(spark, tmp_path):
    """Dynamic-gap session windows under a watermark, across micro-batches
    (append mode — the only supported mode for streaming session windows):
    user 11's 03:10 view (b2) lands exactly on the end of the 03:00 session
    from b1 and must MERGE into it (inclusive boundary, state carried across
    batches); user 10's late 00:10 click (b3) arrives behind the watermark
    after its session was finalized and must NOT reopen it; b4 advances the
    watermark so the merged session is finalized and emitted."""
    import time

    d = str(tmp_path / "dyn_sess_in")
    os.makedirs(d)
    schema = "event_id long, ts string, user_id long, event_type string"
    batches = [
        [(1, "2024-01-01 00:05:00", 10, "click"),   # session [00:05, 00:35)
         (3, "2024-01-01 03:00:00", 11, "view")],   # session [03:00, 03:10)
        [(5, "2024-01-01 03:10:00", 11, "view")],   # == end -> merges, end 03:20
        [(4, "2024-01-01 00:10:00", 10, "click")],  # behind watermark 02:10 -> drop
        [(6, "2024-01-01 06:00:00", 12, "view")],   # watermark 05:00 finalizes u11
    ]
    for i, rows in enumerate(batches, 1):
        df = spark.createDataFrame(rows, schema).withColumn("ts", F.to_timestamp("ts"))
        df.coalesce(1).write.parquet(f"{d}/b{i}")
        time.sleep(1.1)
    pq_schema = spark.read.parquet(d + "/b1").schema
    events = _stream(spark, d, pq_schema)
    gap = F.make_interval(
        mins=F.when(F.col("event_type") == "view", F.lit(10)).otherwise(F.lit(30))
    )
    agg = (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n"))
        .select(
            F.col("w.start").alias("start"), F.col("w.end").alias("end"), "user_id", "n"
        )
    )
    got = {
        (r["user_id"], r["start"].isoformat(), r["end"].isoformat(), r["n"])
        for r in sw.run_to_memory(agg, "append").collect()
    }
    assert got == {
        (10, "2024-01-01T00:05:00", "2024-01-01T00:35:00", 1),  # late row kept out
        (11, "2024-01-01T03:00:00", "2024-01-01T03:20:00", 2),  # cross-batch merge
    }


def test_dynamic_gap_session_fuzz_vs_model(spark):
    """Randomized check of session_window's dynamic-gap semantics against an
    independent interval-merge model (inclusive boundary: an event at t joins
    the current session iff t <= current end; end = max of member t+gap).
    75 independent (case, user) streams with ties and zero steps, one Spark
    job, fixed seed."""
    import datetime
    import random

    rnd = random.Random(7)
    rows = []
    for case in range(25):
        for user in range(3):
            t = 0
            for _ in range(rnd.randint(1, 12)):
                t += rnd.randint(0, 90)  # minutes; 0 keeps ties in play
                rows.append((case, user, t, rnd.choice(["view", "click"])))

    base = datetime.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [
            (c, u, base + datetime.timedelta(minutes=t), et)
            for c, u, t, et in rows
        ],
        "case_id int, user_id int, ts timestamp, event_type string",
    )
    gap = F.make_interval(
        mins=F.when(F.col("event_type") == "view", F.lit(10)).otherwise(F.lit(30))
    )
    got = {
        (
            r["case_id"],
            r["user_id"],
            int((r["start"] - base).total_seconds() // 60),
            int((r["end"] - base).total_seconds() // 60),
            r["n"],
        )
        for r in df.groupBy(F.session_window("ts", gap).alias("w"), "case_id", "user_id")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("start"), F.col("w.end").alias("end"),
                "case_id", "user_id", "n")
        .collect()
    }

    want = set()
    by_key = {}
    for c, u, t, et in rows:
        by_key.setdefault((c, u), []).append((t, 10 if et == "view" else 30))
    for (c, u), evs in by_key.items():
        evs.sort(key=lambda e: e[0])
        start = end = None
        n = 0
        for t, g in evs:
            if start is None or t > end:  # strictly after current end -> new session
                if start is not None:
                    want.add((c, u, start, end, n))
                start, end, n = t, t + g, 1
            else:  # t <= end: inclusive merge
                end = max(end, t + g)
                n += 1
        want.add((c, u, start, end, n))
    assert got == want


def test_streaming_observe_metrics(spark, event_dir):
    """df.observe on a streaming query: per-micro-batch counters surface in
    StreamingQueryProgress.observedMetrics — the run-long operator counters
    (files read / rejected / delivered) for the continuous service, with no
    extra action or second pass over the data."""
    schema = spark.read.parquet(event_dir + "/b1").schema
    events = _stream(spark, event_dir, schema)
    observed = events.observe(
        "ingest", F.count(F.lit(1)).alias("rows"), F.sum("value").alias("total_value")
    )
    name = "obs_stream_q"
    q = (
        observed.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    per_batch = [
        p.observedMetrics["ingest"]
        for p in q.recentProgress
        if "ingest" in p.observedMetrics
    ]
    assert sum(m["rows"] for m in per_batch) == 5  # all three files' rows counted
    assert sum(m["total_value"] for m in per_batch) == 15.0


def test_update_mode_emits_only_changed_windows(spark, event_dir):
    """Update output mode: each micro-batch emits only the windows whose
    aggregate CHANGED in that batch (vs complete re-emitting everything and
    append waiting for the watermark). The memory sink accumulates the update
    stream, so the row multiset is the exact per-batch emission history; the
    late b3 row lands behind the watermark of an evicted window → no update."""
    import uuid

    schema = spark.read.parquet(event_dir + "/b1").schema
    events = _stream(spark, event_dir, schema)
    agg = (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count("*").alias("n"))
        .select(F.col("window.start").cast("string").alias("ws"), "n")
    )
    name = f"upd_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted((r["ws"], r["n"]) for r in spark.table(name).collect())
    assert got == [
        ("2024-01-01 00:00:00", 2),  # batch 1: both windows change
        ("2024-01-01 03:00:00", 1),
        ("2024-01-01 03:00:00", 2),  # batch 2: only the 03:00 window changes
    ]  # batch 3: late row for an evicted window → dropped, nothing emitted


def test_foreach_row_sink(spark, event_dir, tmp_path):
    """The row-level foreach sink (writeStream.foreach with open/process/close
    lifecycle): the per-row delivery shape of the reference's HttpWriter
    (chunk size 1, JobConfiguration.kt:96-97) — every row is delivered exactly
    once per epoch-partition, and close() runs the commit-side bookkeeping."""
    out = tmp_path / "foreach_rows"
    out.mkdir()

    class RowWriter:
        def open(self, partition_id, epoch_id):
            self.rows = []
            self.tag = f"{epoch_id}-{partition_id}"
            return True

        def process(self, row):
            self.rows.append(f"{row['event_id']}")

        def close(self, error):
            if self.rows:  # one marker file per (epoch, partition) with rows
                p = out / f"part-{self.tag}"
                p.write_text("\n".join(self.rows))

    schema = spark.read.parquet(event_dir + "/b1").schema
    events = _stream(spark, event_dir, schema)
    q = (
        events.select("event_id")
        .writeStream.foreach(RowWriter())
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    delivered = sorted(
        int(line)
        for f in out.iterdir()
        for line in f.read_text().splitlines()
    )
    assert delivered == [1, 2, 3, 4, 5]


def test_run_to_memory_leaves_no_view(spark, sf_dir):
    """Each call used to leave its ``stream_<uuid>`` memory-sink view in the
    session catalog for the life of the session. The returned frame reads
    the sink itself, so it must outlive the dropped view."""
    from snapshot_sender_spark.queries import all_queries

    build = all_queries()["stream_tumbling_counts"].fn
    before = sorted(t.name for t in spark.catalog.listTables())
    results = [build(spark, sf_dir) for _ in range(3)]
    assert sorted(t.name for t in spark.catalog.listTables()) == before
    rows = [sorted(df.collect()) for df in results]
    assert rows[0] and rows[0] == rows[1] == rows[2]
