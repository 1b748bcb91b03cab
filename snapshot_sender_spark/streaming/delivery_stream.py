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

Local fixture layout (same as plans/delivery): encrypted objects, whose
metadata rows arrive as files under ``meta_stream/``; at scale those are the
driver-side listing delta. Each micro-batch opens exactly its own objects,
by path, in the batch job's sink tasks (``deliver_batch``), so per-batch I/O
is O(batch) however large the prefix has grown.
"""

from __future__ import annotations

import json
import os
import time
import zlib

from pyspark.sql import DataFrame, SparkSession

from ..plans import delivery
from ..sources.listing import ENCRYPTION_META_SCHEMA, meta_row, unfinished
from .epochs import EpochLog, run_epochs


def read_encrypted_stream(spark: SparkSession, input_dir: str) -> DataFrame:
    """The arrival signal: a file-stream source over the metadata rows under
    ``meta_stream/`` (one ``META_COLUMNS`` row per landed object); each
    micro-batch's objects are read by path in foreachBatch. It is exactly
    the listing delta a scale deployment streams from S3 inventory/SQS
    events."""
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


def deliver_batch(
    spark: SparkSession, input_dir: str, output_dir: str, status_dir: str, rows, key_lookup
) -> dict:
    """Deliver one micro-batch's manifest ``rows`` (``META_COLUMNS`` tuples)
    through the batch job's route and sink; returns the files delivered and
    rejected and the records delivered.

    Rows with a ``.finished`` marker are dropped first (one probe per row,
    the batch job's restart filter, FinishedFilterProcessor.kt:17-27), so a
    replayed epoch whose marker was lost re-delivers nothing. So are rows
    whose object is gone (deleted between the arrival signal and this
    replayed batch — ops TTL/cleanup): the survivors deliver and the epoch
    commits, where a missing object would otherwise fail every replay and
    wedge the stream. A present object the batch job cannot read (hidden,
    not ``*.enc``) raises a ValueError naming it (``listing.stat_objects``).
    An object deleted after that check but before its task opens it fails
    the epoch, naming the file; the replay then drops it as gone. The
    stream blocks no topics."""
    rows = [
        r for r in unfinished(rows, status_dir)
        if os.path.exists(os.path.join(input_dir, r[0]))
    ]
    counts = dict.fromkeys(("delivered", "records", "rejected"), 0)
    if rows:
        result = delivery.route_and_decrypt(spark, input_dir, rows, key_lookup)
        tally = delivery.tally(delivery.deliver(result, output_dir, status_dir))
        counts = {k: tally[k] for k in counts}
    return counts


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

    foreachBatch body = the batch pipeline stages on the batch's file set
    (``deliver_batch``): metadata rows → key lookup and grammar/topic
    routing (``delivery.route_and_decrypt``) → the batch ``deliver()`` sink
    (per file: read by path, decrypt, gunzip check, atomic rename + marker,
    fully distributed — decrypted bytes never reach the driver).
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
        return fp, lambda: deliver_batch(
            spark, input_dir, output_dir, status_dir, rows, key_lookup
        )

    return run_epochs(
        read_encrypted_stream(spark, input_dir), checkpoint_dir,
        EpochLog(status_dir, "_epoch_{}.committed"), step,
    )
