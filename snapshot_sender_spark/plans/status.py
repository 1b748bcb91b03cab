"""Control-plane semantics: export-status table, collection status decision,
run-completion aggregate, success indicators, monitoring payload.

Reference: DynamoDB table UCExportToCrownStatus (environment.sh:37-52) driven by
DynamoDBExportStatusService.kt; completion branches in
JobCompletionNotificationListener.kt:31-58; success indicator
SuccessServiceImpl.kt:39-104; SNS payload SnsServiceImpl.kt:41-51.

Re-expression: the status table is a driver-side keyed store, one row per
(CorrelationId, CollectionName) — O(collections) rows, where the reference
makes point operations on one small DynamoDB table. ``upsert_status`` reads it
with pyarrow, replaces rows by key and writes one parquet file through a
dot-prefixed tmp file and ``os.replace``, under an ``flock`` on an
``_``-prefixed lock file in the table directory: a crash leaves the old table
or the new one, and concurrent upserts lose no row. The file keeps
``STATUS_SCHEMA``, so ``spark.read.parquet`` reads the same table. The status
rules are plain Python over rows (dicts keyed by ``STATUS_COLUMNS``).
FilesSent is *derived* from the delivery receipts instead of incremented per
file, which makes it deterministic under retries (the reference's
increment-then-marker ordering at HttpWriter.kt:95-96 can double-count on
crash — SURVEY.md §7 risk 3).
"""

from __future__ import annotations

import contextlib
import fcntl
import json
import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

from ..functions.crypto import empty_gzip
from ..util import write_atomic

STATUS_SCHEMA = (
    "CorrelationId string, CollectionName string, CollectionStatus string, "
    "FilesExported int, FilesSent int"
)
STATUS_COLUMNS = (
    "CorrelationId", "CollectionName", "CollectionStatus", "FilesExported", "FilesSent"
)
_ARROW_SCHEMA = pa.schema(
    [(c, pa.string()) for c in STATUS_COLUMNS[:3]] + [(c, pa.int32()) for c in STATUS_COLUMNS[3:]]
)
# the table's data file when it has none yet. Spark and `_data_files` skip
# `_`- and `.`-prefixed names, so the lock and tmp files stay out of the table
_DATA_FILE = "part-00000-status.parquet"
_LOCK_FILE = "_status.lock"

# status sets (DynamoDBExportStatusService.kt:185-186)
SUCCESSFUL_STATUSES = ["Sent", "Received", "Success", "Table_Unavailable", "Blocked_Topic"]
FAILED_STATUSES = ["Export_Failed"]


def load_status(spark: SparkSession, path: str) -> DataFrame:
    if os.path.exists(path):
        # explicit schema: a table whose first upsert has not committed yet
        # holds no data file, and reads as empty instead of failing inference
        return spark.read.schema(STATUS_SCHEMA).parquet(path)
    return spark.createDataFrame([], STATUS_SCHEMA)


def _data_files(path: str) -> list[str]:
    return sorted(n for n in os.listdir(path) if not n.startswith(("_", ".")))


def upsert_status(path: str, rows: list[dict]) -> list[dict]:
    """MERGE-style upsert on (CorrelationId, CollectionName): the table's rows
    with ``rows`` replacing those of the same key, written back as one parquet
    file; returns the merged rows. The new file replaces the table's first
    data file atomically (a table written by Spark's ``coalesce(1)`` writer
    has exactly one), then any other data file is removed."""
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, _LOCK_FILE), "a") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)  # serializes read-merge-write; released on close
        files = _data_files(path)
        merged = {}
        for name in files:
            table = pq.read_table(os.path.join(path, name), columns=list(STATUS_COLUMNS))
            for r in table.to_pylist():
                merged[r["CorrelationId"], r["CollectionName"]] = r
        for r in rows:
            merged[r["CorrelationId"], r["CollectionName"]] = {c: r[c] for c in STATUS_COLUMNS}
        out = list(merged.values())
        for name in files:  # Hadoop checksum sidecars would not match the new bytes
            with contextlib.suppress(FileNotFoundError):
                os.remove(os.path.join(path, f".{name}.crc"))
        target = files[0] if files else _DATA_FILE
        tmp = os.path.join(path, f".{target}.tmp")
        with open(tmp, "wb") as fh:
            pq.write_table(pa.Table.from_pylist(out, schema=_ARROW_SCHEMA), fh)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, os.path.join(path, target))
        for name in files[1:]:
            os.remove(os.path.join(path, name))
    return out


def _decide(status: str | None, exported: int | None, sent: int | None) -> str | None:
    if status != "Exported" or exported is None or sent is None:
        return status
    if exported == sent and sent > 0:
        return "Sent"
    if exported == 0 and sent == 0:
        return "Received"
    return status


def collection_status(rows: list[dict]) -> list[dict]:
    """The reference's collection-status decision
    (DynamoDBExportStatusService.kt:113-141), row by row:
      Exported ∧ exported==sent ∧ sent>0 → Sent
      Exported ∧ exported==0 ∧ sent==0   → Received  (NO_FILES_EXPORTED, :121-131,:154)
      else                               → unchanged (IN_PROGRESS / Export_Failed)."""
    return [
        {**r, "CollectionStatus": _decide(
            r["CollectionStatus"], r["FilesExported"], r["FilesSent"]
        )}
        for r in rows
    ]


def completion_status(rows: list[dict]) -> dict[str, str]:
    """Run-completion ALL/ANY aggregate per CorrelationId
    (DynamoDBExportStatusService.kt:79-102): all successful →
    COMPLETED_SUCCESSFULLY; any Export_Failed → COMPLETED_UNSUCCESSFULLY; else
    NOT_COMPLETED. A NULL status counts for neither, as in SQL's
    bool_and/bool_or; an id whose statuses are all NULL is NOT_COMPLETED."""
    statuses: dict[str, list[str]] = {}
    for r in rows:
        seen = statuses.setdefault(r["CorrelationId"], [])
        if r["CollectionStatus"] is not None:
            seen.append(r["CollectionStatus"])
    out = {}
    for cid, seen in statuses.items():
        if seen and all(s in SUCCESSFUL_STATUSES for s in seen):
            out[cid] = "COMPLETED_SUCCESSFULLY"
        elif any(s in FAILED_STATUSES for s in seen):
            out[cid] = "COMPLETED_UNSUCCESSFULLY"
        else:
            out[cid] = "NOT_COMPLETED"
    return out


def write_success_indicator(output_dir: str, topic: str) -> str:
    """Zero-byte gzip `_<database>_<collection>_successful.gz`
    (SuccessServiceImpl.kt:95-104; topic parse :97-98 strips optional db. prefix)."""
    parts = topic.split(".")
    if parts[0] == "db" and len(parts) >= 3:
        database, collection = parts[1], ".".join(parts[2:])
    else:
        database, collection = parts[0], ".".join(parts[1:])
    name = f"_{database}_{collection}_successful.gz"
    path = os.path.join(output_dir, name)
    write_atomic(path, empty_gzip(), uuid.uuid4().hex)
    return path


# SendingCompletionStatus.kt:3-7 — enum constant → description string
COMPLETION_DESCRIPTIONS = {
    "COMPLETED_SUCCESSFULLY": "success",
    "COMPLETED_UNSUCCESSFULLY": "failed",
    "NOT_COMPLETED": "in progress",
}


def monitoring_severity(completion_status: str) -> str:
    """SnsServiceImpl.kt:53-61: COMPLETED_SUCCESSFULLY → Critical, else High."""
    return "Critical" if completion_status == "COMPLETED_SUCCESSFULLY" else "High"


def monitoring_notification_type(completion_status: str) -> str:
    """SnsServiceImpl.kt:63-71: COMPLETED_UNSUCCESSFULLY → Error, else Information."""
    return "Error" if completion_status == "COMPLETED_UNSUCCESSFULLY" else "Information"


def monitoring_message(
    correlation_id: str,
    export_date: str,
    snapshot_type: str,
    status: str,
) -> str:
    """SNS monitoring JSON payload, field-for-field the reference's
    (SnsServiceImpl.kt:41-51): severity/notification_type derived from the
    completion status (:53-70), slack_username "Snapshot Sender", title
    "{SnapshotType} - All files sent - {status description}", and exactly two
    custom elements (Export date, Correlation Id). Skipped upstream when
    export_date == 'NIFI_HEARTBEAT' (JobCompletionNotificationListener.kt:60-75).

    Kotlin's String.capitalize() uppercases only the first char and leaves the
    rest intact ("full"→"Full", "fullExport"→"FullExport"); Python's
    str.capitalize() would lowercase the tail, so slice explicitly."""
    snapshot_cap = snapshot_type[:1].upper() + snapshot_type[1:]
    description = COMPLETION_DESCRIPTIONS[status]
    return json.dumps(
        {
            "severity": monitoring_severity(status),
            "notification_type": monitoring_notification_type(status),
            "slack_username": "Snapshot Sender",
            "title_text": f"{snapshot_cap} - All files sent - {description}",
            "custom_elements": [
                {"key": "Export date", "value": export_date},
                {"key": "Correlation Id", "value": correlation_id},
            ],
        }
    )
