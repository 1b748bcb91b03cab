"""The flagship pipeline: decrypt → validate → route → deliver → book-keep.

Reference physical plan (JobConfiguration.kt:41-64):
    reader → finishedFilter → dataKeyLookup → decrypt → httpWriter(+markers,+counts)

Spark-first re-expression (§3.1 of SURVEY.md): the control plane is settled
on the driver, as the reference settles it before any payload moves; the
payload plane is one declarative DataFrame plan.

    driver, no Spark job (sources/listing.py):
      sidecar rows (memoized)                              -- the manifest
      → drop rows with a .finished marker                  -- idempotent restart,
                                                              one probe per row
      → distinct (keyId, cipherText) → key_lookup          -- one DKS call per
                                                              distinct key, ≡ the
                                                              reference's memo cache
                                                              HttpKeyService.kt:48-50
      → (fileName, iv, plaintextKey) per row               -- NULL key: the sink
                                                              fails naming the file
    plan:
      binaryFile WHERE _metadata.file_name IN (pending)    -- pruned at listing:
        ⋈ broadcast(manifest)                                 finished objects are
                                                              never opened
      → route: bad filename → rejected, blocked topic     -- one CASE column,
               → blocked, else delivered                     one row per file
      → deliver: open (decrypt, gunzip check), record     -- mapInArrow receipt
                 count, .json.gz + .finished marker per file  sink, run once by the
                                                              toArrow that returns
                                                              its receipts
      → parse: open → split lines → from_json              -- record-level view

Everything after the manifest is JVM-side until a Python crossing: the payload
crosses into Python once, encrypted, and only delivered rows keep their
``content``. Both crossings open a file with one function,
``crypto.open_payload`` (DecryptionProcessor.kt:26-41), so the sink, the strict
parse and the tolerant parse refuse the same files with the same messages.

Scale: content bytes never shuffle (the one join broadcasts the manifest); a
sink task opens every file of one binaryFile scan partition (crypto.py says
how they pack); markers make the sink idempotent under task retry
(at-least-once ≡ reference chunk retry, JobConfiguration.kt:46-50).
"""

from __future__ import annotations

import os
import uuid
from collections.abc import Callable
from dataclasses import dataclass
from functools import partial

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import crypto, text
from ..sources import fixtures as fx
from ..util import local_strings_df, write_atomic
# read_encrypted_files, read_encryption_meta and read_finished_markers are not
# called here: perfbench wraps them as this module's attributes
from ..sources.listing import (  # noqa: F401
    read_encrypted_files,
    read_encryption_meta,
    read_finished_markers,
    read_pending_objects,
    read_sidecar,
    unfinished,
)

# Payload record schema (FIXTURES.md §A1; producer shape s3_files.py:40-75)
RECORD_SCHEMA = T.StructType(
    [
        T.StructField("_id", T.StructType([T.StructField("citizenId", T.StringType())])),
        T.StructField("type", T.StringType()),
        T.StructField("contractId", T.StringType()),
        T.StructField(
            "addressNumber",
            T.StructType(
                [T.StructField("type", T.StringType()), T.StructField("cryptoId", T.StringType())]
            ),
        ),
        T.StructField("addressLine2", T.StringType()),
        T.StructField(
            "townCity",
            T.StructType(
                [T.StructField("type", T.StringType()), T.StructField("cryptoId", T.StringType())]
            ),
        ),
        T.StructField("postcode", T.StringType()),
        T.StructField("processId", T.StringType()),
        T.StructField(
            "effectiveDate",
            T.StructType(
                [
                    T.StructField("type", T.StringType()),
                    T.StructField("date", T.IntegerType()),
                    T.StructField("knownDate", T.IntegerType()),
                ]
            ),
        ),
        T.StructField(
            "paymentEffectiveDate",
            T.StructType(
                [
                    T.StructField("type", T.StringType()),
                    T.StructField("date", T.IntegerType()),
                    T.StructField("knownDate", T.IntegerType()),
                ]
            ),
        ),
        T.StructField("createdDateTime", T.StructType([T.StructField("$date", T.StringType())])),
        T.StructField(
            "_lastModifiedDateTime", T.StructType([T.StructField("$date", T.StringType())])
        ),
        T.StructField("_version", T.IntegerType()),
    ]
)


@dataclass
class RunConfig:
    """Run-scoped properties (reference: PropertyUtility.kt:5-11, application.properties)."""

    correlation_id: str
    topic_name: str
    export_date: str = "2026-08-13"
    snapshot_type: str = "full"
    blocked_topics: str = ""
    reprocess_files: bool = False


DELIVERED, REJECTED, BLOCKED = "delivered", "rejected", "blocked"


@dataclass
class DeliveryResult:
    routed: DataFrame  # one row per file; ``route`` is one of the three views

    @property
    def delivered(self) -> DataFrame:  # one row per file to deliver, still encrypted
        return self.routed.filter(F.col("route") == DELIVERED)

    @property
    def rejected(self) -> DataFrame:  # filename-grammar rejects (HttpWriter.kt:121-127)
        return self.routed.filter(F.col("route") == REJECTED).select("path", "fileName")

    @property
    def blocked(self) -> DataFrame:  # blocked-topic rows (FilterBlockedTopicsUtils.kt:24)
        return self.routed.filter(F.col("route") == BLOCKED).select("path", "fileName", "topic")


def key_lookup_local(ciphertext_pairs: list[tuple[str, str]]) -> list[tuple[str, str, str]]:
    """Local stand-in for the DKS decrypt endpoint: one call per distinct
    (keyId, cipherText) pair — the reference achieves the same via its memo
    cache (HttpKeyService.kt:48-50,73,101). Returns (keyId, cipherText,
    plaintext_b64) triples."""
    return [(kid, ct, fx.decrypt_data_key(ct)) for kid, ct in ciphertext_pairs]


def build_decrypted(
    spark: SparkSession,
    input_dir: str,
    status_dir: str,
    cfg: RunConfig,
    key_lookup: Callable[[list[tuple[str, str]]], list[tuple[str, str, str]]] = key_lookup_local,
) -> DeliveryResult:
    """Declare the plan up to (and including) payload decryption. The
    manifest is settled on the driver first, so no Spark job runs here: the
    sidecar rows (a bad one raises a ValueError naming its line), minus
    those with a ``.finished`` marker (FinishedFilterProcessor.kt:17-27; kept
    on ``reprocess_files``). A pending row whose object the scan would not
    return raises a ValueError naming it (``listing.require_listed``)."""
    rows = read_sidecar(input_dir)
    if not cfg.reprocess_files:
        rows = unfinished(rows, status_dir)
    objects = read_pending_objects(spark, input_dir, [r[0] for r in rows])
    return route_and_decrypt(spark, objects, rows, key_lookup, cfg.blocked_topics)


def route_and_decrypt(
    spark: SparkSession,
    objects: DataFrame,
    rows: list,
    key_lookup: Callable[[list[tuple[str, str]]], list[tuple[str, str, str]]],
    blocked_topics: str = "",
) -> DeliveryResult:
    """The plan after the manifest, shared by the batch job and each
    streaming micro-batch: ``rows`` is the manifest, one ``META_COLUMNS`` tuple
    (fileName, iv, dataKeyEncryptionKeyId, cipherText) per file to deliver,
    and ``objects`` those files' encrypted objects (path, fileName,
    content). Nothing is decrypted here: a routed row carries its
    ``content``, ``plaintextKey`` and ``iv`` to the Python crossing that
    opens it (``crypto.open_payload``)."""
    # data-key resolution: one external call per distinct key pair of the
    # manifest, never of the content scan: the reference's processor order
    # (finishedFilter → dataKey, JobConfiguration.kt:61-64 — name validation
    # and topic blocking happen later, in the writer). `or []`: a custom
    # key_lookup may return None for "no keys". A file whose key did not
    # resolve carries a NULL plaintextKey, and the sink fails the job naming
    # it instead of dropping it silently. VALUES LocalRelation, not
    # createDataFrame, whose pickled-RDD scan re-runs a Python-worker stage
    # on every broadcast build (util.local_strings_df has the numbers).
    pairs = list(dict.fromkeys((r[2], r[3]) for r in rows))
    keys = {(kid, ct): key for kid, ct, key in key_lookup(pairs) or []}
    meta = local_strings_df(
        spark, [(r[0], r[1], keys.get((r[2], r[3]))) for r in rows],
        ["fileName", "iv", "plaintextKey"],
    )
    files = objects.join(F.broadcast(meta), "fileName")

    # 2. database/collection/topic of the enc-stripped name, which is what
    #    the reference parses (DecryptionProcessor.kt:40, HttpWriter.kt:47-49,
    #    121-127); markers keep the original key (S3Utils.kt:25-32)
    name = F.col("decryptedFileName")
    files = (
        files.withColumn("decryptedFileName", text.strip_enc_suffix(F.col("fileName")))
        .withColumn("database", text.extract_database(name))
        .withColumn("collection", text.extract_collection(name))
        .withColumn("topic", text.derive_topic(name, F.col("database"), F.col("collection")))
    )

    # 3.-4. grammar rejects, then blocked topics (FilterBlockedTopicsUtils.kt:
    #    15-30); only delivered rows keep content, so nothing else decrypts
    blocked_list = text.parse_blocked_topics(blocked_topics)
    route = (
        F.when(~text.filename_is_valid(name), F.lit(REJECTED))
        .when(~text.topic_not_blocked(F.col("topic"), blocked_list), F.lit(BLOCKED))
        .otherwise(F.lit(DELIVERED))
    )
    routed = files.withColumn("route", route).withColumn(
        "content", F.when(F.col("route") == DELIVERED, F.col("content"))
    )

    # 5. rename (HttpWriter.kt:58)
    return DeliveryResult(
        routed.withColumn("outputFileName", text.rename_output(F.col("decryptedFileName")))
    )


_ROW_COLUMNS = ["fileName", "outputFileName", "topic", "database", "collection", "route"]
SINK_COLUMNS = _ROW_COLUMNS + ["content", "plaintextKey", "iv"]
RECEIPT_SCHEMA = (
    ", ".join(f"{c} string" for c in _ROW_COLUMNS) + ", payload_bytes long, records long"
)


def checked_files(batch):
    """(row, payload, records) per row of one ``SINK_COLUMNS`` batch, with
    payload None off the delivered route. ``payload`` is the decrypted, still
    gzipped file and ``records`` its lines that keep text after trimming
    spaces — what ``parse_records(...).count()`` counts. A delivered file
    that ``crypto.open_payload`` cannot open raises its ValueError naming
    it."""
    rows = batch.select(_ROW_COLUMNS).to_pylist()
    content, key, iv = (batch.column(c) for c in ("content", "plaintextKey", "iv"))
    for i, row in enumerate(rows):
        if row["route"] != DELIVERED:
            yield row, None, 0
            continue
        payload, chunks = crypto.open_payload(
            row["fileName"], content[i].as_py(), key[i].as_py(), iv[i].as_py()
        )
        yield row, payload, sum(1 for c in chunks for line in c.split(b"\n") if line.strip(b" "))


def mark_finished(status_dir: str, file_name: str, nonce: str) -> None:
    """The ``.finished`` marker (HttpWriter.kt:95-96) the restart anti-join reads."""
    marker = os.path.join(status_dir, file_name + ".finished")
    write_atomic(marker, f"Finished {file_name}".encode(), nonce)


def deliver_batches(output_dir: str, status_dir: str, batches):
    """The sink's mapInArrow function: a receipt per row, output + marker per delivered file."""
    nonce = uuid.uuid4().hex  # per task attempt: see write_atomic
    for batch in batches:
        sizes, counts = [], []
        for row, payload, records in checked_files(batch):
            if payload is not None:
                write_atomic(os.path.join(output_dir, row["outputFileName"]), payload, nonce)
                mark_finished(status_dir, row["fileName"], nonce)
            sizes.append(0 if payload is None else len(payload))
            counts.append(records)
        yield pa.RecordBatch.from_arrays(
            [batch.column(c).cast(pa.string()) for c in _ROW_COLUMNS]
            + [pa.array(sizes, pa.int64()), pa.array(counts, pa.int64())],
            names=_ROW_COLUMNS + ["payload_bytes", "records"],
        )


def deliver(result: DeliveryResult, output_dir: str, status_dir: str) -> pa.Table:
    """Run the sink and return its receipts, a pyarrow Table with
    ``RECEIPT_SCHEMA``, one row per routed file. Per delivered file: decrypt,
    check that the bytes gunzip and count their records, then write the
    still-gzipped bytes to ``output_dir/<name .txt.gz→.json.gz>`` and a
    ``<original>.finished`` marker (HttpWriter.kt:58,95-96;
    S3StatusFileWriter.kt:19-52). A NULL or non-gzip payload fails the job
    with the file's name before that file's output or marker exists, so a
    rerun tries it again. Rejected and blocked rows write nothing.

    One ``mapInArrow`` pass, run once by the ``toArrow`` that brings the
    receipts to the driver. The job *derives* its counts from them
    (``tally``) instead of incrementing counters
    (DynamoDBExportStatusService.kt:38-44)."""
    os.makedirs(output_dir, exist_ok=True)
    os.makedirs(status_dir, exist_ok=True)
    return (
        result.routed.select(SINK_COLUMNS)
        .mapInArrow(partial(deliver_batches, output_dir, status_dir), RECEIPT_SCHEMA)
        .toArrow()
    )


def tally(receipts: pa.Table) -> dict:
    """One sink run's counts from its receipts: files per route, and the
    delivered files' ``records``, ``bytes`` and distinct ``topics``."""
    rows = receipts.to_pylist()
    delivered = [r for r in rows if r["route"] == DELIVERED]
    return {
        **{k: sum(r["route"] == k for r in rows) for k in (DELIVERED, REJECTED, BLOCKED)},
        "records": sum(r["records"] for r in delivered),
        "bytes": sum(r["payload_bytes"] for r in delivered),
        "topics": len({r["topic"] for r in delivered}),
    }


def _unopenable(batches):
    """``corrupt_payloads``' mapInArrow function: the (path, fileName, topic)
    of each row whose file the tolerant parse skips."""
    for batch in batches:
        cells = [batch.column(c) for c in ("fileName", "content", "plaintextKey", "iv")]
        bad = [
            crypto.tolerant_chunks(*(c[i].as_py() for c in cells)) is None
            for i in range(batch.num_rows)
        ]
        yield batch.select(["path", "fileName", "topic"]).filter(pa.array(bad, pa.bool_()))


def corrupt_payloads(decrypted: DataFrame) -> DataFrame:
    """Files that ``crypto.open_payload`` cannot open (NULL or empty input,
    bad key or IV, not gzip: a wrong key, truncation) — the rejects
    side-channel for the tolerant parse path, which skips exactly these."""
    return decrypted.select(
        "path", "fileName", "topic", "content", "plaintextKey", "iv"
    ).mapInArrow(_unopenable, "path string, fileName string, topic string")


def parse_records(decrypted: DataFrame, tolerant: bool = False) -> DataFrame:
    """Record-level view: open → split lines → drop blank lines → from_json.

    The reference never parses the payload (it forwards opaque bytes,
    HttpWriter.kt:75); this is the generalized engine surface the payload shape
    implies (SURVEY.md §1.2). One ``mapInArrow`` crossing opens each file
    with ``crypto.open_payload`` and splits its lines in pyarrow C kernels
    (``crypto.decrypt_explode_lines_kernel``, guide §4.2). A file that does
    not open fails the job naming it; ``tolerant=True`` skips it instead
    (``corrupt_payloads`` lists those files). Malformed JSON lines are a NULL
    ``record`` with the raw line preserved — the PERMISSIVE /
    _corrupt_record policy."""
    lines = decrypted.select("fileName", "topic", "content", "plaintextKey", "iv").mapInArrow(
        partial(crypto.decrypt_explode_lines_kernel, tolerant=tolerant),
        "fileName string, topic string, line string",
    )
    return lines.select(
        "fileName",
        "topic",
        F.from_json(F.col("line"), RECORD_SCHEMA).alias("record"),
        F.col("line"),
    )
