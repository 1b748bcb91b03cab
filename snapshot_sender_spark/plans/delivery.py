"""The flagship pipeline: decrypt → validate → route → deliver → book-keep.

Reference physical plan (JobConfiguration.kt:41-64):
    reader → finishedFilter → dataKeyLookup → decrypt → httpWriter(+markers,+counts)

Spark-first re-expression (one declarative DataFrame plan, §3.1 of SURVEY.md):
    binaryFile ⋈ broadcast(metadata)                      -- source
      → left_anti(finished markers)                       -- idempotent restart
      → filename grammar validate (rejects routed out)    -- regexp predicate
      → topic derivation + blocked-topic predicate        -- projection + isin
      → ⋈ broadcast(distinct-key plaintext lookup)        -- one DKS call per
                                                             distinct key, ≡ the
                                                             reference's memo cache
                                                             HttpKeyService.kt:48-50
      → AES-CTR decrypt (Arrow-vectorized pandas UDF)     -- CPU-only stage
      → deliver: gunzip check + record count, per-file    -- receipt sink, run once
                 .json.gz + .finished markers                (mapInPandas → receipts)
      → parse: gunzip → explode lines → from_json          -- record-level view

Everything before the decrypt UDF is JVM-side; the cheap filters run before the
expensive decrypt exactly like the reference orders its processors
(JobConfiguration.kt:61-64) — but here it's a property of the declared plan, so
Catalyst keeps it true under composition.

Scale: content bytes never shuffle (all joins broadcast the small side); decrypt
parallelism = file-partition parallelism (`spark.sql.files.maxPartitionBytes`);
markers make the sink idempotent under task retry (at-least-once ≡ reference
chunk retry, JobConfiguration.kt:46-50).
"""

from __future__ import annotations

import gzip
import io
import os
import zlib
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import crypto, text
from ..sources import fixtures as fx
from ..util import local_strings_df
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


@dataclass
class DeliveryResult:
    delivered: DataFrame  # one decrypted row per file to deliver
    rejected: DataFrame  # filename-grammar rejects (HttpWriter.kt:121-127)
    blocked: DataFrame  # blocked-topic rows (FilterBlockedTopicsUtils.kt:24)


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
    # 2. filename grammar split: valid → pipeline, invalid → rejects sink.
    #    The reference validates the *decrypted* name — DecryptionProcessor.kt:40
    #    strips .enc before HttpWriter.kt:121-127 parses it — so validate the
    #    enc-stripped form here; markers keep the original key (S3Utils.kt:25-32).
    files = files.withColumn("decryptedFileName", text.strip_enc_suffix(F.col("fileName")))
    files = files.withColumn(
        "fileNameValid", text.filename_is_valid(F.col("decryptedFileName"))
    )
    rejected = files.filter(~F.col("fileNameValid")).select("path", "fileName")
    valid = files.filter(F.col("fileNameValid")).drop("fileNameValid")

    # 3. database/collection/topic projection (TextParsingUtility.kt:7-11, HttpWriter.kt:47-49)
    valid = (
        valid.withColumn("database", text.extract_database(F.col("decryptedFileName")))
        .withColumn("collection", text.extract_collection(F.col("decryptedFileName")))
        .withColumn(
            "topic",
            text.derive_topic(F.col("decryptedFileName"), F.col("database"), F.col("collection")),
        )
    )

    # 4. blocked-topic routing (FilterBlockedTopicsUtils.kt:15-30)
    blocked_list = text.parse_blocked_topics(blocked_topics)
    blocked = valid.filter(~text.topic_not_blocked(F.col("topic"), blocked_list)).select(
        "path", "fileName", "topic"
    )
    valid = valid.filter(text.topic_not_blocked(F.col("topic"), blocked_list))

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
    # plaintextKey, so it decrypts to NULL and the sink fails the job naming
    # it (a DKS failure fails the job) instead of dropping it silently
    valid = valid.join(F.broadcast(keys_df), ["dataKeyEncryptionKeyId", "cipherText"], "left")

    # 6. AES-CTR decrypt (vectorized) + rename (DecryptionProcessor.kt:26-41)
    decrypted = valid.withColumn(
        "decrypted", crypto.aes_ctr_decrypt(F.col("content"), F.col("plaintextKey"), F.col("iv"))
    ).withColumn("outputFileName", text.rename_output(F.col("decryptedFileName")))
    return DeliveryResult(delivered=decrypted, rejected=rejected, blocked=blocked)


RECEIPT_SCHEMA = (
    "fileName string, outputFileName string, topic string, database string, "
    "collection string, payload_bytes long, records long"
)


def _count_records(file_name: str, payload: bytes | None) -> int:
    """Records in one decrypted payload: the lines of the gunzipped bytes that
    keep text after trimming spaces — what ``parse_records(...).count()``
    counts. A NULL or non-gzip payload raises an error naming the file."""
    if payload is None:
        raise ValueError(f"{file_name}: decrypted payload is NULL (no data key, content or IV)")
    try:
        with gzip.GzipFile(fileobj=io.BytesIO(payload)) as gz:
            return sum(1 for line in gz if line.strip(b" \n"))
    except (OSError, EOFError, zlib.error) as e:
        raise ValueError(f"{file_name}: decrypted payload is not valid gzip ({e})") from e


def deliver(result: DeliveryResult, output_dir: str, status_dir: str) -> DataFrame:
    """Materialize the sink and return its receipts. Per file: check that the
    decrypted bytes gunzip and count their records, then write the still-gzipped
    bytes to ``output_dir/<name .txt.gz→.json.gz>`` and a ``<original>.finished``
    marker (HttpWriter.kt:58,95-96; S3StatusFileWriter.kt:19-52). A NULL or
    non-gzip payload fails the job with the file's name before that file's
    output or marker exists, so a rerun tries it again.

    Same shape as ``http_sink.http_deliver``: a ``mapInPandas`` sink run exactly
    once (eager ``localCheckpoint``), so later actions on the receipts read the
    stored rows instead of re-running the writes. One receipt per file
    (fileName, outputFileName, topic, database, collection, payload_bytes,
    records) — the counts the reference keeps in DynamoDB are *derived* from
    the receipts by aggregation (deterministic), instead of incremental
    counter updates (DynamoDBExportStatusService.kt:38-44). At-least-once,
    idempotent by marker anti-join on restart."""
    os.makedirs(output_dir, exist_ok=True)
    os.makedirs(status_dir, exist_ok=True)

    rows = result.delivered.select(
        "fileName", "outputFileName", "topic", "database", "collection", "decrypted"
    )

    def write_batches(batches):
        # tmp names are per-attempt unique: under speculative execution two
        # attempts of the same partition run CONCURRENTLY, and a shared tmp
        # path would let one attempt truncate the other's half-written file
        # mid-rename. Unique tmp + atomic replace makes duplicate attempts
        # last-writer-wins over identical content — byte-stable output.
        import uuid

        nonce = uuid.uuid4().hex
        for pdf in batches:
            records = []
            for row in pdf.itertuples(index=False):
                records.append(_count_records(row.fileName, row.decrypted))
                out_path = os.path.join(output_dir, row.outputFileName)
                tmp = f"{out_path}.{nonce}.tmp"
                with open(tmp, "wb") as fh:
                    fh.write(row.decrypted)
                os.replace(tmp, out_path)  # atomic → idempotent under retry
                marker = os.path.join(status_dir, row.fileName + ".finished")
                mtmp = f"{marker}.{nonce}.tmp"
                with open(mtmp, "w") as fh:
                    fh.write(f"Finished {row.fileName}")
                os.replace(mtmp, marker)
            yield pdf.drop(columns="decrypted").assign(
                payload_bytes=pdf["decrypted"].map(len), records=records
            )

    return rows.mapInPandas(write_batches, schema=RECEIPT_SCHEMA).localCheckpoint(eager=True)


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
    cols = set(decrypted.columns)
    if not tolerant and {"content", "plaintextKey", "iv"} <= cols:
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
        gunzip_fn = crypto.gunzip_or_null if tolerant else crypto.gunzip
        payload = gunzip_fn(F.col("decrypted")).cast("string")
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
