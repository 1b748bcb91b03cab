"""Subprocess harness for the speculative-execution idempotence test.

Runs the delivery receipt sink's writer (``deliver_batches``) in its OWN
SparkSession with ``spark.speculation=true`` (a core conf — it cannot be
enabled on the shared test session) and one induced straggler task. NOTE: Spark's TaskSchedulerImpl
only starts the speculation thread on cluster backends, so local mode never
actually launches a duplicate attempt (empirically confirmed: a 6 s straggler
against a ms-median with multiplier 1.0 / quantile 0.1 produced none); this
harness therefore proves the sink runs correctly UNDER the speculation
configuration, while the genuinely-concurrent duplicate-attempt race is
driven deterministically by
tests/test_robustness.py::test_duplicate_attempts_race_is_idempotent.
Prints one JSON line with what happened; the pytest side asserts on it.

Usage: python speculative_delivery.py <tmpdir>
"""

import base64
import gzip
import json
import os
import sys
import time

REPO = os.path.abspath(os.path.join(os.path.dirname(__file__), "..", ".."))
sys.path.insert(0, REPO)


def main() -> None:
    tmp = sys.argv[1]
    attempts_dir = os.path.join(tmp, "attempts")
    out_dir = os.path.join(tmp, "out")
    status_dir = os.path.join(tmp, "status")
    os.makedirs(attempts_dir, exist_ok=True)

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    spark = (
        SparkSession.builder.master("local[4]")
        .appName("speculative-delivery")
        .config("spark.speculation", "true")
        .config("spark.speculation.interval", "50ms")
        .config("spark.speculation.multiplier", "1.0")
        .config("spark.speculation.quantile", "0.1")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from snapshot_sender_spark.functions import crypto
    from snapshot_sender_spark.plans import delivery

    key, iv = b"0" * 16, b"1" * 16
    payloads = [gzip.compress(f"payload-{i}".encode() * 50, mtime=0) for i in range(8)]
    files = [
        (
            f"db.core.claimant-000-001-{i:06d}.txt.gz.enc",
            f"db.core.claimant-000-001-{i:06d}.json.gz",
            "db.core.claimant",
            "db",
            "core.claimant",
            "delivered",
            bytearray(crypto._ctr_transform(payload, key, iv)),
            base64.b64encode(key).decode(),
            base64.b64encode(iv).decode(),
        )
        for i, payload in enumerate(payloads)
    ]
    schema = (
        "fileName string, outputFileName string, topic string, database string, "
        "collection string, route string, content binary, plaintextKey string, iv string"
    )
    df = spark.createDataFrame(files, schema).repartition(8, "fileName")

    @F.udf(T.BinaryType())
    def slow_identity(b, fn):
        from pyspark import TaskContext

        tc = TaskContext.get()
        stamp = os.path.join(attempts_dir, f"{tc.partitionId()}_{tc.taskAttemptId()}")
        open(stamp, "w").close()
        if fn.endswith("000000.txt.gz.enc"):
            time.sleep(6)  # the straggler: everyone else finishes in ms
        return b

    slow = df.withColumn("content", slow_identity("content", "fileName"))
    os.makedirs(out_dir, exist_ok=True)
    os.makedirs(status_dir, exist_ok=True)
    slow.mapInArrow(
        lambda batches: delivery.deliver_batches(out_dir, status_dir, batches),
        delivery.RECEIPT_SCHEMA,
    ).toArrow()

    outs = sorted(os.listdir(out_dir))
    markers = sorted(p for p in os.listdir(status_dir) if p.endswith(".finished"))
    ok_content = all(
        open(os.path.join(out_dir, f[1]), "rb").read() == payload
        for f, payload in zip(files, payloads)
    )
    attempts = os.listdir(attempts_dir)
    per_partition: dict = {}
    for a in attempts:
        pid = a.split("_")[0]
        per_partition[pid] = per_partition.get(pid, 0) + 1
    print(
        json.dumps(
            {
                "outputs": outs,
                "markers": markers,
                "ok_content": ok_content,
                "n_attempts": len(attempts),
                "max_attempts_per_partition": max(per_partition.values()),
                "tmp_leftovers": [f for f in outs + markers if ".tmp" in f],
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
