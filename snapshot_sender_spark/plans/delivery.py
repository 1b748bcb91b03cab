"""The flagship pipeline: decrypt → validate → route → deliver → book-keep.

Reference physical plan (JobConfiguration.kt:41-64):
    reader → finishedFilter → dataKeyLookup → decrypt → httpWriter(+markers,+counts)

Spark-first re-expression (one declarative DataFrame plan, §3.1 of SURVEY.md):
    binaryFile ⋈ broadcast(metadata)                      -- source
      → left_anti(finished markers)                       -- idempotent restart
      → route: bad filename → rejected, blocked topic     -- one CASE column,
               → blocked, else delivered                     one row per file
      → ⋈ broadcast(distinct-key plaintext lookup)        -- one DKS call per
                                                             distinct key, ≡ the
                                                             reference's memo cache
                                                             HttpKeyService.kt:48-50
      → deliver: decrypt, gunzip check, record count,     -- mapInArrow receipt
                 .json.gz + .finished marker per file        sink, run once
      → parse: decrypt → gunzip → explode lines → from_json  -- record-level view

Everything before the sink is JVM-side: the payload crosses into Python once,
encrypted, and only delivered rows keep their ``content``. The ``decrypted``
column the record-level views read is never selected by the sink, so Catalyst
prunes that UDF from the sink's plan.

Scale: content bytes never shuffle (all joins broadcast the small side); decrypt
parallelism = file-partition parallelism (`spark.sql.files.maxPartitionBytes`);
markers make the sink idempotent under task retry (at-least-once ≡ reference
chunk retry, JobConfiguration.kt:46-50).
"""

from __future__ import annotations

import gzip
import io
import os
import uuid
import zlib
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
from ..sources.listing import (
    read_encrypted_files,
    read_encryption_meta,
    read_finished_markers,
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
    def delivered(self) -> DataFrame:  # one decrypted row per file to deliver
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
    """Declare the plan up to (and including) payload decryption."""
    # one metadata DataFrame serves both the content join and the key-distinct
    # source (it was read twice per call — two reader round trips for the
    # same sidecar)
    meta = read_encryption_meta(spark, input_dir)
    files = read_encrypted_files(spark, input_dir, meta=meta)

    # 1. idempotent-restart filter (FinishedFilterProcessor.kt:17-27), on the
    #    content side and on the key source alike
    if not cfg.reprocess_files:
        finished = F.broadcast(read_finished_markers(spark, status_dir))
        files = files.join(finished, "fileName", "left_anti")
        meta = meta.join(finished, "fileName", "left_anti")
    return route_and_decrypt(spark, files, meta, key_lookup, cfg.blocked_topics)


def route_and_decrypt(
    spark: SparkSession,
    files: DataFrame,
    meta: DataFrame,
    key_lookup: Callable[[list[tuple[str, str]]], list[tuple[str, str, str]]],
    blocked_topics: str = "",
) -> DeliveryResult:
    """Steps 2–6 of the plan, shared by the batch job and each streaming
    micro-batch: ``files`` holds the encrypted objects joined with their
    metadata (path, fileName, content, iv, dataKeyEncryptionKeyId,
    cipherText), ``meta`` the metadata rows of the same files."""
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

    # 5. data-key resolution: distinct keys → external lookup → broadcast join.
    #    distinct() is tiny (a handful of keys per run); collecting it to the
    #    driver IS the operator — one network call per distinct key. The key
    #    set comes from the metadata side alone, never touching the content
    #    scan: this mirrors the reference's processor order (finishedFilter →
    #    dataKey, JobConfiguration.kt:61-64 — name validation and topic
    #    blocking happen later, in the writer), and keeps the driver job
    #    O(metadata), not O(objects).
    pairs = [
        (r["dataKeyEncryptionKeyId"], r["cipherText"])
        for r in meta.select("dataKeyEncryptionKeyId", "cipherText").distinct().collect()
    ]
    resolved = key_lookup(pairs)
    # VALUES LocalRelation, not createDataFrame: the pickled-RDD scan the
    # latter plans re-runs a Python-worker stage on EVERY broadcast build —
    # one per lap here (util.local_strings_df docstring has the numbers)
    keys_df = local_strings_df(
        spark,
        # `or []`: a custom key_lookup returning None for "no keys" must get
        # the empty-relation path, as the pre-r13 code tolerated
        [tuple(r) for r in (resolved or [])],
        ["dataKeyEncryptionKeyId", "cipherText", "plaintextKey"],
    )
    # left join: a file whose key the lookup did not resolve keeps a NULL
    # plaintextKey, and the sink fails the job naming it (a DKS failure fails
    # the job) instead of dropping it silently
    routed = routed.join(F.broadcast(keys_df), ["dataKeyEncryptionKeyId", "cipherText"], "left")

    # 6. rename (HttpWriter.kt:58) + the lazy decrypt (DecryptionProcessor.kt:26-41)
    decrypted = crypto.aes_ctr_decrypt(F.col("content"), F.col("plaintextKey"), F.col("iv"))
    return DeliveryResult(
        routed.withColumn("outputFileName", text.rename_output(F.col("decryptedFileName")))
        .withColumn("decrypted", decrypted)
    )


_ROW_COLUMNS = ["fileName", "outputFileName", "topic", "database", "collection", "route"]
SINK_COLUMNS = _ROW_COLUMNS + ["content", "plaintextKey", "iv"]
RECEIPT_SCHEMA = (
    ", ".join(f"{c} string" for c in _ROW_COLUMNS) + ", payload_bytes long, records long"
)


def _count_records(file_name: str, payload: bytes | None) -> int:
    """Records in one decrypted payload: the gunzipped lines that keep text
    after trimming spaces — what ``parse_records(...).count()`` counts. A
    NULL, empty or non-gzip payload raises an error naming the file."""
    if not payload:
        raise ValueError(f"{file_name}: decrypted payload is empty or NULL (no key, content or IV)")
    try:
        with gzip.GzipFile(fileobj=io.BytesIO(payload)) as gz:
            return sum(1 for line in gz if line.strip(b" \n"))
    except (OSError, EOFError, zlib.error) as e:
        raise ValueError(f"{file_name}: decrypted payload is not valid gzip ({e})") from e


def checked_files(batch):
    """(row, payload, records) per row of one ``SINK_COLUMNS`` batch, with
    payload None off the delivered route. A delivered file that is NULL or
    does not decrypt and gunzip raises a ValueError naming it."""
    rows = batch.select(_ROW_COLUMNS).to_pylist()
    content, key, iv = (batch.column(c) for c in ("content", "plaintextKey", "iv"))
    for i, row in enumerate(rows):
        if row["route"] != DELIVERED:
            yield row, None, 0
            continue
        name = row["fileName"]
        try:
            payload = crypto.decrypt_payload(content[i].as_py(), key[i].as_py(), iv[i].as_py())
        except ValueError as e:  # a malformed key or IV (binascii.Error is one)
            raise ValueError(f"{name}: payload does not decrypt ({e})") from e
        yield row, payload, _count_records(name, payload)


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


def deliver(result: DeliveryResult, output_dir: str, status_dir: str) -> DataFrame:
    """Materialize the sink and return one receipt per routed file. Per
    delivered file: decrypt, check that the bytes gunzip and count their
    records, then write the still-gzipped bytes to
    ``output_dir/<name .txt.gz→.json.gz>`` and a ``<original>.finished``
    marker (HttpWriter.kt:58,95-96; S3StatusFileWriter.kt:19-52). A NULL or
    non-gzip payload fails the job with the file's name before that file's
    output or marker exists, so a rerun tries it again. Rejected and blocked
    rows write nothing.

    One ``mapInArrow`` pass, run exactly once (eager ``localCheckpoint``).
    The job *derives* its counts from the receipts instead of incrementing
    counters (DynamoDBExportStatusService.kt:38-44). At-least-once,
    idempotent by marker anti-join on restart."""
    os.makedirs(output_dir, exist_ok=True)
    os.makedirs(status_dir, exist_ok=True)
    return (
        result.routed.select(SINK_COLUMNS)
        .mapInArrow(partial(deliver_batches, output_dir, status_dir), RECEIPT_SCHEMA)
        .localCheckpoint(eager=True)
    )


def corrupt_payloads(decrypted: DataFrame) -> DataFrame:
    """Files whose decrypted bytes are not valid gzip (wrong key, truncation)
    — the rejects side-channel for the tolerant parse path."""
    return (
        decrypted.withColumn("payload", crypto.gunzip_or_null(F.col("decrypted")))
        .filter(F.col("payload").isNull() & F.col("decrypted").isNotNull())
        .select("path", "fileName", "topic")
    )


def parse_records(decrypted: DataFrame, tolerant: bool = False) -> DataFrame:
    """Record-level view: gunzip → split lines → explode → from_json.

    The reference never parses the payload (it forwards opaque bytes,
    HttpWriter.kt:75); this is the generalized engine surface the payload shape
    implies (SURVEY.md §1.2). ``tolerant=True`` drops undecodable payloads
    (see ``corrupt_payloads`` for the reject stream) and leaves malformed JSON
    lines as a NULL ``record`` with the raw line preserved — the PERMISSIVE /
    _corrupt_record policy."""
    if not tolerant:
        # fused kernel path (r13): decrypt → gunzip → line-split → blank-drop
        # in ONE mapInArrow crossing with the per-line work in pyarrow C
        # kernels (guide §4.2). Replaces the pandas-UDF payload + JVM regex
        # split + Generate explode of megabyte strings: plan is
        # Project → MapInArrow instead of ArrowEvalPython → Filter → Generate.
        # Result equality with the expression path is pinned by
        # tests/test_delivery.py::test_parse_records_kernel_matches_expr.
        lines = decrypted.select(
            "fileName", "topic", "content", "plaintextKey", "iv"
        ).mapInArrow(
            crypto.decrypt_explode_lines_kernel,
            "fileName string, topic string, line string",
        )
    else:
        payload = crypto.gunzip_or_null(F.col("decrypted")).cast("string")
        lines = (
            decrypted.select(
                "fileName",
                "topic",
                payload.alias("payload"),
            )
            .filter(F.col("payload").isNotNull())
            .select(
                "fileName",
                "topic",
                # one F.expr round trip instead of the Column/lambda chain
                # (~0.1 s of py4j per build); analyzed-plan-identical to
                # explode(filter(split(payload,'\n'), x -> len(trim(x))>0))
                F.expr(
                    "explode(filter(split(payload, '\\n', -1), "
                    "x_1 -> length(trim(x_1)) > 0))"
                ).alias("line"),
            )
        )
    return lines.select(
        "fileName",
        "topic",
        F.from_json(F.col("line"), RECORD_SCHEMA).alias("record"),
        F.col("line"),
    )
