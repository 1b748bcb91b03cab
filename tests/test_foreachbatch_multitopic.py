"""foreachBatch exactly-once sink (epoch-id idempotency) and multi-topic
delivery fan-out (the reference runs one topic per job; the declarative plan
is topic-agnostic)."""

import os
from collections import Counter

from snapshot_sender_spark.plans import delivery
from snapshot_sender_spark.sources import fixtures as fx
from snapshot_sender_spark.streaming import windows as sw
from snapshot_sender_spark.streaming.epochs import EpochLog, fingerprint


def test_foreachbatch_idempotent_sink(spark, sf_dir, tmp_path):
    """foreachBatch with epoch-id bookkeeping through the services' ledger
    (streaming/epochs.EpochLog): re-delivering an already-committed epoch is
    a no-op — the streaming analog of the .finished marker anti-join."""
    out_dir = str(tmp_path / "epochs")
    os.makedirs(out_dir)
    ledger = EpochLog(out_dir, "epoch_{}.committed")

    def write_epoch(df, epoch_id):
        fp = fingerprint(df, "event_type")
        if ledger.check(epoch_id, fp):  # already committed → skip (exactly-once)
            return
        counts = df.groupBy("event_type").count().collect()
        ledger.commit(epoch_id, {**fp, "counts": {r["event_type"]: r["count"] for r in counts}})

    events = sw.read_events_stream(spark, sf_dir)
    q = events.writeStream.foreachBatch(write_epoch).trigger(availableNow=True).start()
    q.awaitTermination()
    committed = [p for p in os.listdir(out_dir) if p.endswith(".committed")]
    assert len(committed) >= 1
    # replay the same epoch: file content unchanged (idempotent)
    before = open(os.path.join(out_dir, committed[0])).read()
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    write_epoch(batch, int(committed[0].split("_")[1].split(".")[0]))
    after = open(os.path.join(out_dir, committed[0])).read()
    assert before == after


def test_multi_topic_delivery(spark, tmp_path):
    """Three topics through ONE pipeline run: per-topic outputs, markers, and
    receipt counts all fan out from the same declarative plan."""
    root = str(tmp_path)
    topics = ["db.core.claimant", "db.other.ledger", "accounts.payments"]
    merged_input = os.path.join(root, "input")
    os.makedirs(merged_input)
    status_dir = os.path.join(root, "status")
    output_dir = os.path.join(root, "output")
    os.makedirs(status_dir)
    os.makedirs(output_dir)
    meta_lines = []
    for i, topic in enumerate(topics):
        sub = fx.generate(os.path.join(root, f"gen{i}"), topic=topic, n_files=2 + i,
                          records_per_file=5, seed=40 + i)
        for name in os.listdir(sub.input_dir):
            src = os.path.join(sub.input_dir, name)
            if name.endswith(".jsonl"):
                meta_lines.extend(open(src).read().splitlines())
            else:
                os.link(src, os.path.join(merged_input, name))
    with open(os.path.join(merged_input, "metadata.sidecar.jsonl"), "w") as fh:
        fh.write("\n".join(meta_lines) + "\n")

    cfg = delivery.RunConfig(correlation_id="multi", topic_name="*")
    result = delivery.build_decrypted(spark, merged_input, status_dir, cfg)
    receipts = delivery.deliver(result, output_dir, status_dir)
    per_topic = Counter(receipts.column("topic").to_pylist())
    assert per_topic == {
        "db.core.claimant": 2,
        "db.other.ledger": 3,
        "accounts.payments": 4,
    }
    # every file delivered + marked, across all topics
    assert len([p for p in os.listdir(output_dir) if p.endswith(".json.gz")]) == 9
    assert len([p for p in os.listdir(status_dir) if p.endswith(".finished")]) == 9
    # blocked-topic routing still works per topic in the same run
    cfg2 = delivery.RunConfig(
        correlation_id="multi2", topic_name="*",
        blocked_topics="db.other.ledger", reprocess_files=True,
    )
    result2 = delivery.build_decrypted(spark, merged_input, status_dir, cfg2)
    assert result2.blocked.count() == 3
    assert result2.delivered.count() == 6
