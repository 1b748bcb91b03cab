"""Continuous delivery: the flagship pipeline as a Structured Streaming
service.

The reference is a batch job per (correlation_id, topic) — rerun by an
external scheduler as exports land. Re-expressed as a stream, the same
declarative stages run continuously: a file-stream source watches the input
prefix, each micro-batch runs decrypt→validate→route, and foreachBatch
delivers with epoch-id idempotent commits (checkpoint + markers give
exactly-once delivery across restarts — the streaming generalization of the
reference's restart contract). The epoch markers ``<status>/_epoch_N.committed``
are kept by the services' shared ledger, streaming/epochs.py.

Local fixture layout (same as plans/delivery): encrypted objects + a
metadata sidecar. The metadata side is re-read per batch (it grows with the
prefix); at scale it is the driver-side listing delta.
"""

from __future__ import annotations

import json
import os
import time
import zlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans import delivery
from ..sources.listing import (
    ENCRYPTION_META_SCHEMA,
    listed_names,
    meta_row,
    require_listed,
    unfinished,
)
from .epochs import EpochLog, run_epochs


def read_encrypted_stream(spark: SparkSession, input_dir: str) -> DataFrame:
    """File-stream source over the encrypted prefix; binaryFile isn't a
    streaming source, so the stream carries (path, fileName) from the text
    listing of object names via the parquet-less 'binaryFile'... workaround:
    stream the metadata sidecar (one row per landed object) and join content
    per batch in foreachBatch. The sidecar IS the arrival signal — exactly the
    listing delta a scale deployment streams from S3 inventory/SQS events."""
    return (
        spark.readStream.schema(ENCRYPTION_META_SCHEMA)
        .json(os.path.join(input_dir, "meta_stream"))
    )


def poll_arrivals(
    s3_client, bucket: str, prefix: str, input_dir: str, seen: set,
    rejected: list | None = None,
) -> list[str]:
    """One poll of the arrival signal from a REAL S3 listing: page through
    ListObjectsV2 + per-object HEAD metadata (sources/s3.py — the reference's
    S3DirectoryReader contract over actual wire protocol) and append the NEW
    objects' metadata rows as one sidecar file under ``meta_stream/`` — the
    file-stream source then delivers them as the next micro-batch. This is
    the listing→signal bridge a deployment runs between scheduler ticks (or
    replaces with S3 inventory/SQS events); ``seen`` carries the listing
    delta state, O(names) driver-side. Each poll pays one paginated LIST
    (unavoidable without inventory/events) but HEADs only keys not yet
    SIGNALLED — per-poll request count is O(new arrivals + standing rejects),
    never O(corpus). Keys missing the encryption metadata triple are appended
    to ``rejected`` (if given) ONCE per key — a standing reject stays in the
    list, not duplicated every poll — and re-PROBED each poll: they are
    deliberately NOT marked seen, so a producer re-uploading the same key
    with corrected metadata IS picked up on the next poll; the bounded
    re-HEAD cost of standing rejects (anomalies, normally few) buys that
    recovery path. Returns the newly-signalled names."""
    from ..sources.s3 import list_objects_with_metadata

    new, newly_rejected = list_objects_with_metadata(
        s3_client, bucket, prefix, skip_names=seen
    )
    if newly_rejected and rejected is not None:
        known = set(rejected)
        rejected.extend(k for k in newly_rejected if k not in known)
    if not new:
        return []
    meta_dir = os.path.join(input_dir, "meta_stream")
    os.makedirs(meta_dir, exist_ok=True)
    path = os.path.join(meta_dir, f"arrival_{time.time_ns()}.json")
    with open(path, "w") as fh:
        for r in new:
            fh.write(json.dumps(r) + "\n")
    seen.update(r["fileName"] for r in new)
    return [r["fileName"] for r in new]


def read_batch_objects(spark: SparkSession, input_dir: str, names) -> DataFrame:
    """Read EXACTLY one micro-batch's encrypted objects as (path, fileName,
    content).

    The batch's file names are already known driver-side (the tiny metadata
    rows ARE the arrival signal), so the binaryFile source is given the
    explicit per-file path list — per-batch I/O is O(batch), never O(corpus).
    The batch job instead filters its memoized directory reader on
    ``_metadata.file_name`` (``listing.read_pending_objects``), which Spark
    applies while listing. That suits one listing per run, not this stream:
    its prefix grows with every arrival, so each micro-batch would re-list
    every object ever landed — quadratic total listing over a continuous
    service's lifetime. The reference reads each object exactly once
    (S3DirectoryReader.kt:59-65: paginated listing, one GET per listed key);
    the explicit path list is the streaming equivalent of that contract.
    Its cost: up to 32 paths
    (``spark.sql.sources.parallelPartitionDiscovery.threshold``) are resolved
    on the driver; beyond that Spark resolves them with a parallel listing
    job of one task per path. Measured warm on 4 cores: 32 paths 0.13-0.18 s
    and no Spark job, 40 paths 0.48-0.73 s and one 40-task job.

    Signalled-but-absent files (deleted between the arrival signal and this
    replayed batch — ops TTL/cleanup) are probed out driver-side first
    (O(batch) existence probes ≡ one HEAD per batch file at S3 scale): an
    explicit `load` of a missing path raises, which would wedge the replaying
    epoch in a crash loop; the survivors still deliver, matching the old
    prefix-scan behavior. Deletion races are closed in two layers: a file
    vanishing between the probe and load-time path RESOLUTION still raises
    at `load` (verified: ignoreMissingFiles does NOT cover that sub-window),
    so the probe+load is retried with a re-probed list; one vanishing after
    resolution but before the executor's read is skipped by
    ``ignoreMissingFiles`` (the sub-window that option does cover). A present
    file the source hides (a name starting with ``_`` or ``.``) raises a
    ValueError naming it (``listing.require_listed``)."""
    from pyspark.errors import AnalysisException

    last_err: Exception | None = None
    for _ in range(3):
        paths = [
            p
            for p in (os.path.join(input_dir, name) for name in sorted(names))
            if os.path.exists(p)
        ]
        if not paths:
            return spark.createDataFrame([], "fileName string, content binary")
        try:
            objects = spark.read.format("binaryFile").option("ignoreMissingFiles", "true").load(paths)
        except AnalysisException as e:  # a probed path vanished pre-resolution
            last_err = e
            continue
        require_listed([os.path.basename(p) for p in paths], listed_names(objects), input_dir)
        return objects.select(
            F.col("path"),
            F.element_at(F.split(F.col("path"), "/"), -1).alias("fileName"),
            F.col("content"),
        )
    raise last_err


def run_streaming_delivery(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    status_dir: str,
    checkpoint_dir: str,
    key_lookup,
) -> list[int]:
    """Drive the continuous delivery to completion over currently-available
    input (Trigger.AvailableNow). Returns the list of processed epoch ids.

    foreachBatch body = the batch pipeline stages on the batch's file set:
    metadata rows → key lookup and content join (read per batch) →
    grammar/topic routing (``delivery.route_and_decrypt``) → the batch
    ``deliver()`` sink (per file: decrypt, gunzip check, atomic rename +
    marker, fully distributed — decrypted bytes never reach the driver).
    The epoch's marker (``epochs.EpochLog``, fingerprint = crc of every
    file's name, iv and cipherText) makes redelivery of a replayed batch a
    no-op, refuses a different batch under a reused epoch id, and records
    the files delivered and rejected and the records delivered. The
    driver-side collects are the metadata rows and the batch's receipts,
    O(files-per-batch), not O(bytes)."""
    os.makedirs(output_dir, exist_ok=True)
    os.makedirs(status_dir, exist_ok=True)

    def step(meta_df: DataFrame, epoch_id: int):
        # file-level metadata: tiny. A row with a NULL field raises naming it
        # and the arrivals dir, as a bad sidecar row does in the batch job.
        arrivals = os.path.join(input_dir, "meta_stream")
        rows = [meta_row(r.asDict(), arrivals) for r in meta_df.collect()]
        # order-insensitive batch fingerprint, computed driver-side from the
        # already-collected metadata (no extra job), checked against the
        # epoch's marker. Each file's crc covers fileName + iv + cipherText,
        # so a same-name batch whose objects were re-uploaded with different
        # encryption material is detected too, not just a renamed one.
        fp = {"v": 2, "n": len(rows), "x": 0}
        for name, iv, _, cipher_text in rows:
            fp["x"] ^= zlib.crc32(b"\x00".join((name.encode(), iv.encode(), cipher_text.encode())))
        return fp, lambda: deliver_batch(rows)

    def deliver_batch(rows) -> dict:
        # the reference's already-processed filter (FinishedFilterProcessor
        # semantics), the batch job's marker probe: per-FILE idempotence — a
        # replayed epoch whose marker was lost re-delivers nothing that
        # already has a .finished marker. One probe per batch file, NOT a
        # scan of the whole marker dir, which would grow
        # O(everything-ever-delivered) per batch.
        rows = unfinished(rows, status_dir)  # Rows in META_COLUMNS order
        counts = dict.fromkeys(("delivered", "records", "rejected"), 0)
        if rows:
            # explicit path list: this batch's bytes and ONLY this batch's
            # bytes are read — O(batch) I/O regardless of how large the
            # standing prefix has grown (see read_batch_objects)
            objects = read_batch_objects(spark, input_dir, {r[0] for r in rows})
            # the batch plan's routing and key lookup, on this batch's
            # objects and manifest; the stream blocks no topics
            result = delivery.route_and_decrypt(spark, objects, rows, key_lookup)
            # the batch receipt sink: the executors deliver the micro-batch
            tally = delivery.tally(delivery.deliver(result, output_dir, status_dir))
            counts = {k: tally[k] for k in counts}
        return counts

    return run_epochs(
        read_encrypted_stream(spark, input_dir), checkpoint_dir,
        EpochLog(status_dir, "_epoch_{}.committed"), step,
    )
