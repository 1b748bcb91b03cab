"""The flagship pipeline: decrypt → validate → route → deliver → book-keep.

Reference physical plan (JobConfiguration.kt:41-64):
    reader → finishedFilter → dataKeyLookup → decrypt → httpWriter(+markers,+counts)

Spark-first re-expression (§3.1 of SURVEY.md): the control plane is settled
on the driver, as the reference settles it before any payload moves; the
payload plane is one Spark job of per-file tasks.

    driver, no Spark job (sources/listing.py):
      sidecar rows (memoized)                              -- the manifest
      → drop rows with a .finished marker                  -- idempotent restart,
                                                              one probe per row
      → one stat per pending row → (path, length)          -- a finished object
                                                              is never opened
      → distinct (keyId, cipherText) → key_lookup          -- one DKS call per
                                                              distinct key, ≡ the
                                                              reference's memo cache
                                                              HttpKeyService.kt:48-50
    driver, no Spark job (a LocalTableScan):
      VALUES (fileName, path, length, iv, plaintextKey)    -- NULL key: the sink
                                                              fails naming the file
      → route: bad filename → rejected, blocked topic     -- one CASE column,
               → blocked, else delivered                     one row per file
      → bins: delivered rows packed by length into k =    -- each task's load,
              min(delivered, defaultParallelism) bins,       not its file count
              largest first into the least-loaded bin
    one Spark job, one task per bin:
      → deliver: read by path, open (decrypt, gunzip      -- mapInArrow receipt
                 check), record count, .json.gz +            sink, one task
                 .finished marker per file                   per bin
      → parse: read by path → open → split lines          -- record-level view,
               → from_json                                   the same tasks' shape

The file sink, the HTTP sink, the strict parse and the tolerant parse run
the same per-file tasks (``file_tasks``): each reads its files one at a time
with ``listing.read_object`` and opens them with ``crypto.open_payload``
(DecryptionProcessor.kt:26-41), so they refuse the same files with the same
messages. Rejected and blocked rows never leave the driver.

Scale: content bytes never shuffle and never reach the driver; the driver
holds O(files) manifest rows. Markers make the sink idempotent under task
retry (at-least-once ≡ reference chunk retry, JobConfiguration.kt:46-50).
"""

from __future__ import annotations

import heapq
import os
import uuid
from collections.abc import Callable
from dataclasses import dataclass
from functools import partial

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_schema

from ..functions import crypto, text
from ..sources import fixtures as fx
from ..util import local_strings_df, write_atomic
# read_encrypted_files, read_encryption_meta and read_finished_markers are not
# called here: perfbench wraps them as this module's attributes
from ..sources.listing import (  # noqa: F401
    read_encrypted_files,
    read_encryption_meta,
    read_finished_markers,
    read_object,
    read_sidecar,
    stat_objects,
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
    def delivered(self) -> DataFrame:  # one row per file to deliver, by path
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
    """Declare the plan up to the sink. The manifest is settled on the
    driver, so no Spark job runs here: the sidecar rows (a bad one raises a
    ValueError naming its line), minus those with a ``.finished`` marker
    (FinishedFilterProcessor.kt:17-27; kept on ``reprocess_files``). A
    pending row whose object is absent, not ``*.enc`` or hidden raises a
    ValueError naming it (``listing.stat_objects``)."""
    rows = read_sidecar(input_dir)
    if not cfg.reprocess_files:
        rows = unfinished(rows, status_dir)
    return route_and_decrypt(spark, input_dir, rows, key_lookup, cfg.blocked_topics)


def route_and_decrypt(
    spark: SparkSession,
    input_dir: str,
    rows: list,
    key_lookup: Callable[[list[tuple[str, str]]], list[tuple[str, str, str]]],
    blocked_topics: str = "",
) -> DeliveryResult:
    """The plan after the manifest, shared by the batch job and each
    streaming micro-batch: ``rows`` is the manifest, one ``META_COLUMNS``
    tuple (fileName, iv, dataKeyEncryptionKeyId, cipherText) per file of
    ``input_dir`` to deliver. One stat per row gives its path and length
    (``listing.stat_objects``, which raises on a row it cannot read). The
    routed frame is one VALUES relation (fileName, path, length, iv,
    plaintextKey) plus the routing columns, so collecting it starts no
    Spark job. Nothing is read or decrypted here: a routed row carries its
    ``path``, ``plaintextKey`` and ``iv`` to the task that opens it
    (``file_tasks``)."""
    objects = stat_objects(input_dir, [r[0] for r in rows])
    # data-key resolution: one external call per distinct key pair of the
    # manifest: the reference's processor order (finishedFilter → dataKey,
    # JobConfiguration.kt:61-64 — name validation and topic blocking happen
    # later, in the writer). `or []`: a custom key_lookup may return None for
    # "no keys". A file whose key did not resolve carries a NULL
    # plaintextKey, and the sink fails the job naming it instead of dropping
    # it silently.
    pairs = list(dict.fromkeys((r[2], r[3]) for r in rows))
    keys = {(kid, ct): key for kid, ct, key in key_lookup(pairs) or []}
    files = local_strings_df(
        spark,
        [(r[0], path, str(length), r[1], keys.get((r[2], r[3])))
         for r, (path, length) in zip(rows, objects)],
        ["fileName", "path", "length", "iv", "plaintextKey"],
    ).withColumn("length", F.col("length").cast("long"))

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
    #    15-30); only delivered rows are ever opened
    blocked_list = text.parse_blocked_topics(blocked_topics)
    route = (
        F.when(~text.filename_is_valid(name), F.lit(REJECTED))
        .when(~text.topic_not_blocked(F.col("topic"), blocked_list), F.lit(BLOCKED))
        .otherwise(F.lit(DELIVERED))
    )

    # 5. rename (HttpWriter.kt:58)
    return DeliveryResult(
        files.withColumn("route", route)
        .withColumn("outputFileName", text.rename_output(F.col("decryptedFileName")))
    )


def pack(lengths: list[int], k: int) -> list[list[int]]:
    """Indices of ``lengths`` in ``k`` bins, longest first, each into the
    least-loaded bin so far (LPT): the bins' loads, not their counts, come
    out even, so no task opens all the large files."""
    bins: list[list[int]] = [[] for _ in range(k)]
    heap = [(0, b) for b in range(k)]
    for i in sorted(range(len(lengths)), key=lambda i: -lengths[i]):
        load, b = heapq.heappop(heap)
        bins[b].append(i)
        heapq.heappush(heap, (load + lengths[i], b))
    return bins


def _open_bins(bins: list[list[dict]], columns: list[str], kernel, ids):
    """``file_tasks``' mapInArrow function: for each bin id, ``kernel`` over
    one-row batches of ``columns``, one per file of the bin, whose
    ``content`` is the file's bytes read by path when the batch is taken."""
    schema = pa.schema([(c, pa.binary() if c == "content" else pa.string()) for c in columns])
    for batch in ids:
        for b in batch.column(0).to_pylist():
            yield from kernel(
                pa.RecordBatch.from_pylist(
                    [{**row, "content": read_object(row["path"])}], schema=schema
                )
                for row in bins[int(b)]
            )


def file_tasks(
    spark: SparkSession, rows: list[dict], columns: list[str], kernel, schema: T.StructType | str
) -> DataFrame:
    """The one Python crossing that opens delivered files: ``rows`` (dicts
    with ``path``, ``length`` and the other ``columns``) packed by length
    into ``k = min(len(rows), defaultParallelism)`` bins (``pack``), one task
    per bin. Each task feeds ``kernel`` (a mapInArrow function whose output
    schema is ``schema``) one-row batches of ``columns``, reading each
    file's ``content`` just before its batch, so a task holds one file at a
    time."""
    k = min(len(rows), spark.sparkContext.defaultParallelism)
    bins = [[rows[i] for i in b] for b in pack([r["length"] for r in rows], k)] or [[]]
    # a VALUES relation of the bin ids: with no more rows than
    # defaultParallelism, its scan gives each id a partition of its own
    ids = local_strings_df(spark, [(str(b),) for b in range(len(bins))], ["bin"])
    return ids.mapInArrow(partial(_open_bins, bins, columns, kernel), schema)


def _collect(frame: DataFrame, columns: list[str]) -> list[dict]:
    """``frame``'s rows as dicts: a routed frame is a LocalTableScan, so no
    Spark job runs."""
    return [r.asDict() for r in frame.select(*columns).collect()]


_ROW_COLUMNS = ["fileName", "outputFileName", "topic", "database", "collection", "route"]
SINK_COLUMNS = _ROW_COLUMNS + ["content", "plaintextKey", "iv"]
_RECEIPT_ARROW = pa.schema(
    [(c, pa.string()) for c in _ROW_COLUMNS]
    + [("payload_bytes", pa.int64()), ("records", pa.int64())]
)
RECEIPT_SCHEMA = from_arrow_schema(_RECEIPT_ARROW)


def sink(frame: DataFrame, write, schema: T.StructType) -> tuple[list[dict], pa.Table | None]:
    """The sink both writers share: ``frame``'s routed rows, collected with
    no Spark job, and the receipts of ``write`` (a mapInArrow function over
    ``SINK_COLUMNS`` batches, output ``schema``) run over its delivered rows
    by ``file_tasks`` — one Spark job, or none when nothing is delivered.
    Returns the rows off the delivered route and the receipts (None when
    nothing ran)."""
    rows = _collect(frame, [*_ROW_COLUMNS, "path", "length", "plaintextKey", "iv"])
    delivered = [r for r in rows if r["route"] == DELIVERED]
    off_route = [r for r in rows if r["route"] != DELIVERED]
    if not delivered:
        return off_route, None
    tasks = file_tasks(frame.sparkSession, delivered, SINK_COLUMNS, write, schema)
    return off_route, tasks.toArrow()


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
            schema=_RECEIPT_ARROW,
        )


def deliver(result: DeliveryResult, output_dir: str, status_dir: str) -> pa.Table:
    """Run the sink and return its receipts, a pyarrow Table with
    ``RECEIPT_SCHEMA``, one row per routed file. Per delivered file: read,
    decrypt, check that the bytes gunzip and count their records, then write
    the still-gzipped bytes to ``output_dir/<name .txt.gz→.json.gz>`` and a
    ``<original>.finished`` marker (HttpWriter.kt:58,95-96;
    S3StatusFileWriter.kt:19-52). A NULL or non-gzip payload fails the job
    with the file's name before that file's output or marker exists, so a
    rerun tries it again. Rejected and blocked rows write nothing; their
    receipts are made on the driver.

    One ``sink`` run, whose ``toArrow`` brings the receipts to the driver.
    The job *derives* its counts from them (``tally``) instead of
    incrementing counters (DynamoDBExportStatusService.kt:38-44)."""
    os.makedirs(output_dir, exist_ok=True)
    os.makedirs(status_dir, exist_ok=True)
    off_route, receipts = sink(
        result.routed, partial(deliver_batches, output_dir, status_dir), RECEIPT_SCHEMA
    )
    tables = [pa.Table.from_pylist(
        [{**r, "payload_bytes": 0, "records": 0} for r in off_route], schema=_RECEIPT_ARROW
    )]
    if receipts is not None:
        tables.append(receipts.cast(_RECEIPT_ARROW))
    return pa.concat_tables(tables)


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
    side-channel for the tolerant parse path, which skips exactly these.
    ``decrypted`` is a routed frame such as ``DeliveryResult.delivered``."""
    rows = _collect(decrypted, ["path", "fileName", "topic", "length", "plaintextKey", "iv"])
    return file_tasks(
        decrypted.sparkSession, rows,
        ["path", "fileName", "topic", "content", "plaintextKey", "iv"],
        _unopenable, "path string, fileName string, topic string",
    )


def parse_records(decrypted: DataFrame, tolerant: bool = False) -> DataFrame:
    """Record-level view of a routed frame such as
    ``DeliveryResult.delivered``: read → open → split lines → drop blank
    lines → from_json.

    The reference never parses the payload (it forwards opaque bytes,
    HttpWriter.kt:75); this is the generalized engine surface the payload shape
    implies (SURVEY.md §1.2). The sink's per-file tasks (``file_tasks``) read
    each file and hand it to one ``mapInArrow`` kernel that opens it with
    ``crypto.open_payload`` and splits its lines in pyarrow C kernels
    (``crypto.decrypt_explode_lines_kernel``, guide §4.2). A file that does
    not open fails the job naming it; ``tolerant=True`` skips it instead
    (``corrupt_payloads`` lists those files). Malformed JSON lines are a NULL
    ``record`` with the raw line preserved — the PERMISSIVE /
    _corrupt_record policy."""
    rows = _collect(decrypted, ["fileName", "topic", "path", "length", "plaintextKey", "iv"])
    lines = file_tasks(
        decrypted.sparkSession, rows, ["fileName", "topic", "content", "plaintextKey", "iv"],
        partial(crypto.decrypt_explode_lines_kernel, tolerant=tolerant),
        "fileName string, topic string, line string",
    )
    return lines.select(
        "fileName",
        "topic",
        F.from_json(F.col("line"), RECORD_SCHEMA).alias("record"),
        F.col("line"),
    )
