"""End-to-end delivery pipeline test mirroring the reference's seven golden
integration assertions (SnapshotSenderIntegrationTest.kt:39-136, SURVEY.md §5.2)
on locally generated encrypted fixtures."""

import gzip
import json
import os
import re
from collections import Counter

import pytest
from pyspark.sql import functions as F

from snapshot_sender_spark.plans import delivery, status
from snapshot_sender_spark.sources import fixtures as fx

N_FILES = 6
RECORDS = 40


def _status_rows(tuples):
    return [dict(zip(status.STATUS_COLUMNS, t)) for t in tuples]


@pytest.fixture(scope="module")
def fixture(tmp_path_factory):
    root = tmp_path_factory.mktemp("snapshots")
    return fx.generate(str(root), n_files=N_FILES, records_per_file=RECORDS, seed=7)


@pytest.fixture(scope="module")
def run(spark, fixture):
    cfg = delivery.RunConfig(correlation_id="123", topic_name=fixture.topic)
    result = delivery.build_decrypted(spark, fixture.input_dir, fixture.status_dir, cfg)
    receipts = delivery.deliver(result, fixture.output_dir, fixture.status_dir)
    return cfg, result, receipts.to_pylist()


def test_marker_per_input(fixture, run):
    # golden assertion 1 (SnapshotSenderIntegrationTest.kt:39-44)
    markers = sorted(os.listdir(fixture.status_dir))
    assert markers == sorted(f + ".finished" for f in fixture.files)


def test_output_per_input_renamed(fixture, run):
    # golden assertion 2 (:46-56): one output per input, .txt.gz → .json.gz
    outputs = sorted(os.listdir(fixture.output_dir))
    expected = sorted(
        f.replace(".txt.gz.enc", ".json.gz") for f in fixture.files
    )
    assert outputs == expected


def test_outputs_valid_gzip_jsonl(fixture, run):
    # golden assertion 5 (:78-102): valid gzip, exact record count, parseable JSON
    for name in os.listdir(fixture.output_dir):
        with open(os.path.join(fixture.output_dir, name), "rb") as fh:
            lines = gzip.decompress(fh.read()).decode().strip().split("\n")
        assert len(lines) == RECORDS
        for line in lines:
            rec = json.loads(line)
            assert "_id" in rec and "citizenId" in rec["_id"]


def test_idempotent_rerun(spark, fixture, run):
    # anti-join against .finished markers → second run delivers nothing
    cfg = delivery.RunConfig(correlation_id="123", topic_name=fixture.topic)
    result = delivery.build_decrypted(spark, fixture.input_dir, fixture.status_dir, cfg)
    assert result.delivered.count() == 0


def test_reprocess_flag_overrides_markers(spark, fixture, run):
    cfg = delivery.RunConfig(
        correlation_id="123", topic_name=fixture.topic, reprocess_files=True
    )
    result = delivery.build_decrypted(spark, fixture.input_dir, fixture.status_dir, cfg)
    assert result.delivered.count() == N_FILES


def test_status_transitions(fixture, run):
    # golden assertion 4 (:66-76): Sent n/n for delivered, Received 0/0 for empty
    cfg, _, manifest_rows = run
    seed = _status_rows(
        [
            ("123", fixture.topic, "Exported", N_FILES, 0),
            ("321", "db.database.empty", "Exported", 0, 0),
            ("111", "db.database.sent", "Sent", 10, 10),
        ]
    )
    # FilesSent derived from the delivery receipts, per collection
    sent = Counter(
        ("123", r["topic"]) for r in manifest_rows if r["route"] == delivery.DELIVERED
    )
    updated = [
        {**r, "FilesSent": sent.get((r["CorrelationId"], r["CollectionName"]), r["FilesSent"])}
        for r in seed
    ]
    final = {
        (r["CorrelationId"], r["CollectionName"]): (
            r["CollectionStatus"],
            r["FilesExported"],
            r["FilesSent"],
        )
        for r in status.collection_status(updated)
    }
    assert final[("123", fixture.topic)] == ("Sent", N_FILES, N_FILES)
    assert final[("321", "db.database.empty")] == ("Received", 0, 0)
    assert final[("111", "db.database.sent")] == ("Sent", 10, 10)


def test_received_requires_exported_status():
    # DynamoDBExportStatusService.kt:121-131 — NO_FILES_EXPORTED flips to
    # Received ONLY when CollectionStatus=='Exported' and sent==0; a failed or
    # in-flight row with 0 files must pass through unchanged, or completion
    # could report COMPLETED_SUCCESSFULLY for a failed run.
    rows = [
        ("c", "exported.empty", "Exported", 0, 0),
        ("c", "failed.empty", "Export_Failed", 0, 0),
        ("c", "exporting.empty", "Exporting", 0, 0),
        ("c", "exported.sent.mismatch", "Exported", 0, 3),
    ]
    out = {
        r["CollectionName"]: r["CollectionStatus"]
        for r in status.collection_status(_status_rows(rows))
    }
    assert out == {
        "exported.empty": "Received",
        "failed.empty": "Export_Failed",
        "exporting.empty": "Exporting",
        "exported.sent.mismatch": "Exported",
    }


def test_completion_aggregate():
    # DynamoDBExportStatusService.kt:79-102
    rows = [
        ("ok", "a", "Sent", 1, 1),
        ("ok", "b", "Received", 0, 0),
        ("ok", "c", "Blocked_Topic", 1, 0),
        ("bad", "a", "Sent", 1, 1),
        ("bad", "b", "Export_Failed", 1, 0),
        ("wip", "a", "Exported", 2, 1),
    ]
    out = status.completion_status(_status_rows(rows))
    assert out == {
        "ok": "COMPLETED_SUCCESSFULLY",
        "bad": "COMPLETED_UNSUCCESSFULLY",
        "wip": "NOT_COMPLETED",
    }


def _data_files(path):
    return sorted(n for n in os.listdir(path) if not n.startswith(("_", ".")))


def test_status_store_upsert_over_spark_written_table(spark, tmp_path):
    """A table written by Spark's coalesce(1) parquet writer (part file,
    _SUCCESS and .crc sidecars) is upserted in place: its rows are kept, the
    key that matches is replaced, one data file is left, and Spark reads the
    result back with STATUS_SCHEMA's types."""
    path = str(tmp_path / "status_table")
    old = [("111", "db.a.sent", "Sent", 10, 10), ("222", "db.b.wip", "Exported", 3, 1)]
    spark.createDataFrame(old, status.STATUS_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(path)
    assert os.path.exists(os.path.join(path, "_SUCCESS"))
    assert [n.startswith("part-") and n.endswith(".parquet") for n in _data_files(path)] == [True]

    new = [("222", "db.b.wip", "Sent", 3, 3), ("333", "db.c.new", "Received", 0, 0)]
    merged = status.upsert_status(path, _status_rows(new))
    want = {
        ("111", "db.a.sent", "Sent", 10, 10),
        ("222", "db.b.wip", "Sent", 3, 3),
        ("333", "db.c.new", "Received", 0, 0),
    }
    assert {tuple(r.values()) for r in merged} == want
    assert len(_data_files(path)) == 1
    for df in (status.load_status(spark, path), spark.read.parquet(path)):
        assert df.schema.simpleString() == (
            "struct<CorrelationId:string,CollectionName:string,CollectionStatus:string,"
            "FilesExported:int,FilesSent:int>"
        )
        assert {tuple(r) for r in df.collect()} == want


def test_status_store_crash_before_replace_keeps_old_table(spark, tmp_path, monkeypatch):
    """A crash between writing the new file and replacing the old one leaves
    the old table whole: the tmp file is hidden from Spark and the reader."""
    path = str(tmp_path / "status_table")
    a, b = ("1", "a", "Sent", 1, 1), ("2", "b", "Sent", 1, 1)
    status.upsert_status(path, _status_rows([a]))

    def crash(src, dst):
        raise OSError("crash")

    monkeypatch.setattr(status.os, "replace", crash)
    with pytest.raises(OSError, match="crash"):
        status.upsert_status(path, _status_rows([("1", "a", "Exported", 1, 0), b]))
    monkeypatch.undo()
    assert [tuple(r) for r in status.load_status(spark, path).collect()] == [a]
    merged = status.upsert_status(path, _status_rows([b]))
    assert sorted(tuple(r.values()) for r in merged) == [a, b]


_UPSERT_WORKER = """
import os, sys, time
sys.path.insert(0, sys.argv[1])
from snapshot_sender_spark.plans import status
path, tag, go = sys.argv[2:5]
open(f"{go}.{tag}.ready", "w").close()
while not os.path.exists(go):
    time.sleep(0.001)
for i in range(20):
    row = dict(zip(status.STATUS_COLUMNS, (tag, f"c{i}", "Exported", 1, 0)))
    status.upsert_status(path, [row])
"""


def test_status_store_concurrent_upserts_lose_no_row(tmp_path):
    """Two processes upsert 20 distinct keys each, one key per call, at the
    same time: the read-merge-write is serialized, so all 40 rows survive."""
    import subprocess
    import sys
    import time

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path, go = str(tmp_path / "status_table"), str(tmp_path / "go")
    procs = [
        subprocess.Popen([sys.executable, "-c", _UPSERT_WORKER, repo, path, tag, go])
        for tag in ("p1", "p2")
    ]
    deadline = time.monotonic() + 120
    while not all(os.path.exists(f"{go}.{tag}.ready") for tag in ("p1", "p2")):
        assert time.monotonic() < deadline and all(p.poll() is None for p in procs)
        time.sleep(0.01)
    open(go, "w").close()  # both imported: release them together
    for p in procs:
        assert p.wait(timeout=120) == 0
    rows = status.upsert_status(path, [])
    assert sorted((r["CorrelationId"], r["CollectionName"]) for r in rows) == sorted(
        (tag, f"c{i}") for tag in ("p1", "p2") for i in range(20)
    )
    assert len(_data_files(path)) == 1


def test_blocked_topic_routing(spark, fixture):
    cfg = delivery.RunConfig(
        correlation_id="123",
        topic_name=fixture.topic,
        blocked_topics=f"{fixture.topic},db.other.topic",
        reprocess_files=True,
    )
    result = delivery.build_decrypted(spark, fixture.input_dir, fixture.status_dir, cfg)
    assert result.delivered.count() == 0
    assert result.blocked.count() == N_FILES


def test_record_parse(spark, fixture):
    cfg = delivery.RunConfig(
        correlation_id="123", topic_name=fixture.topic, reprocess_files=True
    )
    result = delivery.build_decrypted(spark, fixture.input_dir, fixture.status_dir, cfg)
    records = delivery.parse_records(result.delivered)
    n = records.count()
    assert n == N_FILES * RECORDS
    first = records.filter(F.col("record._id.citizenId") == "1/0").collect()
    assert len(first) == 1
    assert first[0]["record"]["_version"] == 2
    # Mongo $date extended JSON → real timestamp
    parsed_ts = records.select(
        F.to_timestamp(
            F.col("record.createdDateTime.`$date`"), "yyyy-MM-dd'T'HH:mm:ss.SSSX"
        ).alias("ts")
    ).first()
    assert parsed_ts["ts"] is not None


def test_invalid_filename_routed_to_rejects(spark, tmp_path):
    """A file whose (enc-stripped) name fails the grammar goes to the rejects
    stream and is neither decrypted nor delivered (HttpWriter.kt:121-127
    reject-counter semantics)."""
    import json as _json
    import shutil

    f = fx.generate(str(tmp_path), n_files=2, records_per_file=3, seed=23)
    good = os.path.join(f.input_dir, f.files[0])
    bad_name = "not-a-valid-snapshot-name.enc"
    shutil.copy(good, os.path.join(f.input_dir, bad_name))
    meta_path = os.path.join(f.input_dir, "metadata.sidecar.jsonl")
    with open(meta_path) as fh:
        first_meta = _json.loads(fh.readline())
    first_meta["fileName"] = bad_name
    with open(meta_path, "a") as fh:
        fh.write(_json.dumps(first_meta) + "\n")

    cfg = delivery.RunConfig(correlation_id="rej", topic_name=f.topic)
    result = delivery.build_decrypted(spark, f.input_dir, f.status_dir, cfg)
    assert [r["fileName"] for r in result.rejected.collect()] == [bad_name]
    assert result.delivered.count() == 2  # only the well-named files


def test_success_indicator_and_monitoring(tmp_path):
    p = status.write_success_indicator(str(tmp_path), "db.database.empty")
    assert os.path.basename(p) == "_database_empty_successful.gz"
    with open(p, "rb") as fh:
        assert gzip.decompress(fh.read()) == b""
    msg = json.loads(
        status.monitoring_message("123", "2026-08-13", "full", "COMPLETED_SUCCESSFULLY")
    )
    # SnsServiceImpl.kt:41-51 verbatim: two custom elements, Snapshot Sender user
    assert msg["severity"] == "Critical"
    assert msg["notification_type"] == "Information"
    assert msg["slack_username"] == "Snapshot Sender"
    assert msg["title_text"] == "Full - All files sent - success"
    assert [e["key"] for e in msg["custom_elements"]] == ["Export date", "Correlation Id"]

    # severity/notification_type derive from completion status (SnsServiceImpl.kt:53-70)
    failed = json.loads(
        status.monitoring_message("123", "2026-08-13", "full", "COMPLETED_UNSUCCESSFULLY")
    )
    assert failed["severity"] == "High"
    assert failed["notification_type"] == "Error"
    assert failed["title_text"] == "Full - All files sent - failed"
    partial = json.loads(
        status.monitoring_message("123", "2026-08-13", "incremental", "NOT_COMPLETED")
    )
    assert partial["severity"] == "High"
    assert partial["notification_type"] == "Information"
    assert partial["title_text"] == "Incremental - All files sent - in progress"


def test_collection_status_truth_table():
    """Exhaustive decision table for collection_status
    (DynamoDBExportStatusService.kt:113-141): ONLY 'Exported' rows transition —
    to 'Sent' when counts match and are positive, to 'Received' when both are
    zero (NO_FILES_EXPORTED); any other (status, exported, sent) combination
    passes through unchanged, including failed and in-flight rows with zero
    counts (the r1 advisory's latent bug: a non-Exported zero-count row must
    NOT flip to Received)."""
    cases = []
    for s in ["Exported", "Export_Failed", "Exporting", "Sent", "Received"]:
        for exported in [0, 2]:
            for sent in [0, 1, 2]:
                cases.append((f"c-{s}-{exported}-{sent}", s, s, exported, sent))
    rows = _status_rows([(cid, "t", s, e, n) for cid, _, s, e, n in cases])
    got = {r["CorrelationId"]: r["CollectionStatus"] for r in status.collection_status(rows)}
    for cid, orig, s, exported, sent in cases:
        if s == "Exported" and exported == sent and sent > 0:
            want = "Sent"
        elif s == "Exported" and exported == 0 and sent == 0:
            want = "Received"
        else:
            want = orig
        assert got[cid] == want, (cid, got[cid], want)


def test_deliver_plan_has_one_python_node(spark, tmp_path, monkeypatch):
    """The sink is the payload's only Python crossing: the plan deliver
    runs through toArrow has exactly one Python node, MapInArrow, with no
    decrypt UDF (ArrowEvalPython) ahead of it and no pandas sink."""
    import re

    from pyspark.sql.classic.dataframe import DataFrame

    f = fx.generate(str(tmp_path), n_files=2, records_per_file=3, seed=44)
    plans = []
    to_arrow = DataFrame.toArrow

    def capture(self, *args, **kwargs):
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return to_arrow(self, *args, **kwargs)

    monkeypatch.setattr(DataFrame, "toArrow", capture)
    cfg = delivery.RunConfig(correlation_id="plan", topic_name=f.topic)
    result = delivery.build_decrypted(spark, f.input_dir, f.status_dir, cfg)
    delivery.deliver(result, f.output_dir, f.status_dir)
    [plan] = plans
    nodes = [re.match(r"[\s:+|-]*(\w+)", line).group(1) for line in plan.splitlines()]
    assert [n for n in nodes if re.search("Python|Pandas|Arrow", n)] == ["MapInArrow"]


def test_pack_balances_bins_by_length():
    """The sink's bins are packed by length, largest first into the
    least-loaded bin: on delivery_mixed's shape (8 large files among 50
    small ones, 4 bins) each bin gets 2 large files, and the largest bin's
    load stays within 1.5x the median bin's."""
    large = [400_000 + 1_500 * i for i in range(8)]
    small = [600 + 7 * i for i in range(50)]
    lengths = small[:25] + large + small[25:]
    bins = delivery.pack(lengths, 4)
    assert sorted(i for b in bins for i in b) == list(range(len(lengths)))
    big = set(range(25, 33))
    assert [len(big & set(b)) for b in bins] == [2, 2, 2, 2]
    loads = sorted(sum(lengths[i] for i in b) for b in bins)
    assert loads[-1] <= 1.5 * (loads[1] + loads[2]) / 2


def test_parse_records_kernel_matches_expr(spark, fixture):
    """parse_records' fused path is a single mapInArrow kernel (r13:
    decrypt → gunzip → split → blank-drop in one crossing); pin EXACT result
    equality (sorted row multiset, record compared as canonical JSON) against
    the JVM split/trim/explode expression path over the payload strings, each
    decrypted and gunzipped on the driver, so any drift in split/trim
    semantics fails loudly."""
    import gzip as gz

    from snapshot_sender_spark.functions import crypto

    cfg = delivery.RunConfig(correlation_id="p", topic_name=fixture.topic,
                             reprocess_files=True)
    dec = delivery.build_decrypted(
        spark, fixture.input_dir, fixture.status_dir, cfg
    ).delivered
    payloads = spark.createDataFrame(
        [
            (r["fileName"], r["topic"],
             gz.decompress(crypto.decrypt_payload(
                 open(r["path"], "rb").read(), r["plaintextKey"], r["iv"]
             )).decode("utf-8", errors="replace"))
            for r in dec.select("fileName", "topic", "path", "plaintextKey", "iv").collect()
        ],
        "fileName string, topic string, payload string",
    )
    reference = (
        payloads.select(
            "fileName",
            "topic",
            F.explode(
                F.filter(
                    F.split(F.col("payload"), "\n"),
                    lambda x: F.length(F.trim(x)) > 0,
                )
            ).alias("line"),
        )
        .select(
            "fileName",
            "topic",
            F.from_json(F.col("line"), delivery.RECORD_SCHEMA).alias("record"),
            F.col("line"),
        )
    )
    built = delivery.parse_records(dec)
    # names+types equal; nullability differs by construction (explode proves
    # line non-null, mapInArrow output is always nullable) — value-irrelevant
    assert [(f.name, f.dataType) for f in built.schema.fields] == [
        (f.name, f.dataType) for f in reference.schema.fields
    ]
    # plan shape: one MapInArrow, no ArrowEvalPython / Generate explode
    plan = built._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan
    assert "ArrowEvalPython" not in plan and "Generate" not in plan

    def rows(df):
        out = df.select(
            "fileName", "topic", F.to_json(F.col("record")).alias("rec"), "line"
        ).collect()
        return sorted((r["fileName"], r["topic"], r["rec"], r["line"]) for r in out)

    got, want = rows(built), rows(reference)
    assert len(got) == len(want) and got == want


def test_parse_records_kernel_blank_and_null_semantics(spark, tmp_path):
    """Direct kernel-semantics pin for the edge rows the fixture may not
    exercise: all-space lines drop, tab/\\r lines survive (Spark trim strips
    U+0020 only), trailing-newline empties drop, invalid utf-8 follows the
    errors='replace' policy, and a NULL input raises naming its file."""
    import base64 as b64
    import gzip as gz
    import pyarrow as pa

    from snapshot_sender_spark.functions import crypto

    key = b"0" * 16
    iv = b"1" * 16
    kb, ivb = b64.b64encode(key).decode(), b64.b64encode(iv).decode()

    def enc(payload: bytes) -> bytes:
        return crypto._ctr_transform(gz.compress(payload), key, iv)

    body = b"a\n   \n\tx\n\rb\nbad\xff\xfeline\n\n"
    batch = pa.RecordBatch.from_arrays(
        [
            pa.array(["f1", "f2"]),
            pa.array(["t", "t"]),
            pa.array([enc(body), None], type=pa.binary()),
            pa.array([kb, kb]),
            pa.array([ivb, ivb]),
        ],
        names=["fileName", "topic", "content", "plaintextKey", "iv"],
    )
    with pytest.raises(ValueError, match="^f2: decrypted payload is empty or NULL"):
        list(crypto.decrypt_explode_lines_kernel(iter([batch])))
    out = list(crypto.decrypt_explode_lines_kernel(iter([batch.slice(0, 1)])))
    lines = [v.as_py() for b in out for v in b.column(2)]
    assert {v.as_py() for b in out for v in b.column(0)} == {"f1"}
    assert lines == ["a", "\tx", "\rb", "bad��line"]

    # the delivery sink's receipt counts the same lines as records
    path = tmp_path / "f1.txt.gz.enc"
    path.write_bytes(enc(body))
    routed = spark.createDataFrame(
        [("f1.txt.gz.enc", "f1.json.gz", "t", "db", "coll", "delivered",
          str(path), path.stat().st_size, kb, ivb)],
        "fileName string, outputFileName string, topic string, database string, "
        "collection string, route string, path string, length long, plaintextKey string, "
        "iv string",
    )
    [receipt] = delivery.deliver(
        delivery.DeliveryResult(routed), str(tmp_path / "out"), str(tmp_path / "status")
    ).to_pylist()
    assert receipt["records"] == len(lines)


def _assert_batch_line_bytes_bounded(batches, threshold):
    """No batch holds more line bytes than max(threshold, longest line)."""
    sizes = [[len(v.as_py().encode()) for v in b.column(2)] for b in batches]
    bound = max([threshold] + [n for batch in sizes for n in batch])
    assert all(sum(batch) <= bound for batch in sizes), (bound, sizes)


def test_parse_records_kernel_group_flush_identical(monkeypatch):
    """The 2 GiB-cliff guard (r14): when the decompressed-payload group hits
    _EMIT_GROUP_BYTES the kernel flushes mid-batch. Force the chunked path
    with a tiny threshold and pin that the concatenated output is row-for-row
    identical to the single-group output (including an invalid-utf8 payload
    landing in a flushed group, exercising the replace-decode fallback), and
    that no batch holds more line bytes than the threshold or its longest
    line."""
    import base64 as b64
    import gzip as gz
    import pyarrow as pa

    from snapshot_sender_spark.functions import crypto

    key = b"0" * 16
    iv = b"1" * 16
    kb, ivb = b64.b64encode(key).decode(), b64.b64encode(iv).decode()

    def enc(payload: bytes) -> bytes:
        return crypto._ctr_transform(gz.compress(payload), key, iv)

    payloads = [b"a1\na2\n", b"b1\n \nb2", b"c-bad\xff\xfe\nc2\n\n", b"d1"]
    batch = pa.RecordBatch.from_arrays(
        [
            pa.array([f"f{i}" for i in range(len(payloads))]),
            pa.array(["t"] * len(payloads)),
            pa.array([enc(p) for p in payloads], type=pa.binary()),
            pa.array([kb] * len(payloads)),
            pa.array([ivb] * len(payloads)),
        ],
        names=["fileName", "topic", "content", "plaintextKey", "iv"],
    )

    def rows(batches):
        return [
            (b.column(0)[i].as_py(), b.column(1)[i].as_py(), b.column(2)[i].as_py())
            for b in batches
            for i in range(b.num_rows)
        ]

    want = rows(crypto.decrypt_explode_lines_kernel(iter([batch])))
    monkeypatch.setattr(crypto, "_EMIT_GROUP_BYTES", 1)  # flush after every line
    chunked = list(crypto.decrypt_explode_lines_kernel(iter([batch])))
    _assert_batch_line_bytes_bounded(chunked, 1)
    assert rows(chunked) == want
    for b in chunked:  # schema (incl. plain string, not large_string) intact
        assert b.schema.names == ["fileName", "topic", "line"]
        assert b.schema.types == [pa.string(), pa.string(), pa.string()]


def test_parse_kernel_splits_one_large_payload(monkeypatch):
    """One payload inflating to several times _EMIT_GROUP_BYTES (one of its
    lines longer than that) emits several batches, none holding more line
    bytes than the threshold or its longest line, with the same lines as a
    plain split of the text."""
    import base64 as b64
    import gzip as gz
    import random

    import pyarrow as pa

    from snapshot_sender_spark.functions import crypto

    rng = random.Random(5)
    lines = [("x" * rng.randrange(0, 300)).encode() for _ in range(400)]
    lines[123] = b"y" * 3000  # longer than the threshold below
    text = b"\n".join(lines) + b"\n"
    threshold = 2048
    assert len(text) > 10 * threshold
    key, iv = b"0" * 16, b"1" * 16
    batch = pa.RecordBatch.from_arrays(
        [pa.array(["big.enc"]), pa.array(["t"]),
         pa.array([crypto._ctr_transform(gz.compress(text), key, iv)], type=pa.binary()),
         pa.array([b64.b64encode(key).decode()]), pa.array([b64.b64encode(iv).decode()])],
        names=["fileName", "topic", "content", "plaintextKey", "iv"],
    )
    monkeypatch.setattr(crypto, "_EMIT_GROUP_BYTES", threshold)
    out = list(crypto.decrypt_explode_lines_kernel(iter([batch])))
    assert len(out) > 1
    _assert_batch_line_bytes_bounded(out, threshold)
    got = [v.as_py() for b in out for v in b.column(2)]
    assert got == [ln.decode() for ln in text.split(b"\n") if ln.strip(b" ")]


def test_parse_records_names_the_file_it_fails_on(spark, tmp_path):
    """A delivered file whose data key resolves to the wrong key decrypts to
    non-gzip: the strict parse fails with a ValueError naming that file. A
    key that is not base64 fails the same way."""
    import base64 as b64
    import re

    import pyarrow as pa

    from snapshot_sender_spark.functions import crypto

    f = fx.generate(str(tmp_path), n_files=1, records_per_file=3, seed=29)
    wrong = b64.b64encode(b"\x01" * 32).decode()
    cfg = delivery.RunConfig(correlation_id="wk", topic_name=f.topic)
    result = delivery.build_decrypted(
        spark, f.input_dir, f.status_dir, cfg,
        key_lookup=lambda pairs: [(kid, ct, wrong) for kid, ct in pairs],
    )
    with pytest.raises(Exception, match="ValueError: " + re.escape(f.files[0])):
        delivery.parse_records(result.delivered).count()

    batch = pa.RecordBatch.from_arrays(
        [pa.array(["f.enc"]), pa.array(["t"]), pa.array([b"x"], type=pa.binary()),
         pa.array(["not base64!"]), pa.array([b64.b64encode(b"1" * 16).decode()])],
        names=["fileName", "topic", "content", "plaintextKey", "iv"],
    )
    with pytest.raises(ValueError, match="^f.enc: payload does not decrypt"):
        list(crypto.decrypt_explode_lines_kernel(iter([batch])))


def test_local_strings_df_roundtrip(spark):
    """The VALUES LocalRelation builder (util.local_strings_df, r13: replaces
    createDataFrame's pickled-RDD scan in the key-join build) must round-trip
    arbitrary strings (quotes, backslashes, control chars), honor NULLs, plan
    as LocalTableScan (no RDD / Python stage), and produce a correctly-named
    empty relation for zero rows."""
    from snapshot_sender_spark.util import local_strings_df

    rows = [
        ("kid'1", "ct\\x", "pt"),
        ("k\"2", "c\tt\n2", None),
        ("", "a%s?{}$b", "p'\\'q"),
    ]
    df = local_strings_df(spark, rows, ["a", "b", "c"])
    assert "LocalTableScan" in df._jdf.queryExecution().executedPlan().toString()
    got = sorted((r["a"], r["b"], r["c"]) for r in df.collect())
    assert got == sorted(rows)

    empty = local_strings_df(spark, [], ["fileName"])
    assert empty.columns == ["fileName"]
    assert empty.count() == 0


def test_listing_memo_revalidates_on_change(spark, tmp_path):
    """The sidecar memos (sources/listing.py) must hit only while the
    sidecar is byte-identical on disk: unchanged -> same plan handle; any
    mutation -> a fresh one. ``read_encrypted_files``' scan sees the
    deletion."""
    from snapshot_sender_spark.sources import listing

    root = str(tmp_path / "memo_fixture")
    f = fx.generate(root, n_files=2, records_per_file=3, seed=11)

    m1 = listing.read_encryption_meta(spark, f.input_dir)
    m2 = listing.read_encryption_meta(spark, f.input_dir)
    assert m1 is m2  # unchanged sidecar -> memo hit

    df1 = listing.read_encrypted_files(spark, f.input_dir)
    n_before = df1.count()
    assert n_before == 2

    # mutate the dir: drop one object AND its sidecar row
    victim = sorted(os.listdir(f.input_dir))[0]
    assert victim.endswith(".enc")
    os.unlink(os.path.join(f.input_dir, victim))
    sidecar = os.path.join(f.input_dir, "metadata.sidecar.jsonl")
    kept = [
        line
        for line in open(sidecar).read().splitlines()
        if json.loads(line)["fileName"] != victim
    ]
    with open(sidecar, "w") as fh:
        fh.write("\n".join(kept) + "\n")

    m3 = listing.read_encryption_meta(spark, f.input_dir)
    assert m3 is not m1  # sidecar changed -> fresh reader
    df2 = listing.read_encrypted_files(spark, f.input_dir)
    assert df2.count() == 1  # fresh listing sees the deletion
    assert m3.count() == 1


@pytest.mark.parametrize(
    "line",
    [
        '{"fileName": "x.enc", "iv": ',  # does not parse
        '{"fileName": "x.enc", "iv": null, "dataKeyEncryptionKeyId": "k", "cipherText": "c"}',
        '{"fileName": "x.enc", "iv": "aXY=", "dataKeyEncryptionKeyId": "k"}',  # no cipherText
    ],
    ids=["unparsable", "null_field", "missing_field"],
)
def test_bad_sidecar_row_fails_naming_the_line(spark, tmp_path, line):
    """A sidecar line that does not parse, or a row with a NULL or missing
    field, raises a ValueError naming the sidecar and the line, before the
    key lookup is called."""
    f = fx.generate(str(tmp_path), n_files=2, records_per_file=3, seed=43)
    sidecar = os.path.join(f.input_dir, "metadata.sidecar.jsonl")
    with open(sidecar) as fh:
        first, *rest = fh.read().splitlines()
    with open(sidecar, "w") as fh:
        fh.write("\n".join([first, line, *rest]) + "\n")
    calls = []

    def key_lookup(pairs):
        calls.append(pairs)
        return delivery.key_lookup_local(pairs)

    cfg = delivery.RunConfig(correlation_id="bad-sidecar", topic_name=f.topic)
    with pytest.raises(ValueError, match=re.escape(f"{sidecar}:2:")):
        delivery.build_decrypted(spark, f.input_dir, f.status_dir, cfg, key_lookup=key_lookup)
    assert calls == []
