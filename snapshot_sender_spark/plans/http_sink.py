"""Per-file HTTP delivery sink — the reference's NiFi POST path
(HttpWriter.kt:39-119, headers NiFiUtility.kt:12-25) as a second writer of
the delivery sink (``delivery.sink``): its bins, per-file reader, per-file
check and marker writer; only the write step is a POST.

Semantics preserved:
  * 12 routing headers per POST, including filename (renamed .txt.gz→.json.gz),
    database/collection/topic parsed from the filename, snapshot_type
    normalized (drift_testing_incremental→incremental, NiFiUtility.kt:27-32),
    export_date, correlation_id (HttpWriter.kt:60-71).
  * body = the still-gzipped decrypted bytes, unparsed (HttpWriter.kt:75).
  * non-2xx → retry with exponential backoff (the reference retries the whole
    chunk ×100, JobConfiguration.kt:46-50; here per-file retries inside the
    task + Spark task retries around it — same at-least-once contract).
  * a .finished marker after success (HttpWriter.kt:95-96) makes restarts
    idempotent via the upstream anti-join.

Scale: one POST per file from the task whose bin holds it; only the
receipts, one small row per posted file, come back to the driver. One TLS
context per task (≡ the reference's pooled client,
SecureHttpClientProvider.kt).
"""

from __future__ import annotations

import time
import urllib.request
import uuid

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import from_arrow_schema

from ..functions.text import normalize_snapshot_type
from .delivery import checked_files, mark_finished, sink


def nifi_headers(
    filename: str,
    database: str,
    collection: str,
    topic: str,
    export_date: str,
    snapshot_type: str,
    correlation_id: str,
    status_table_name: str = "UCExportToCrownStatus",
    s3_prefix: str = "",
    shutdown_flag: str = "true",
    reprocess_files: str = "false",
    environment: str = "local",
) -> dict[str, str]:
    """The 12-header set (NiFiUtility.kt:12-25)."""
    return {
        "filename": filename,
        "environment": environment,
        "export_date": export_date,
        "database": database,
        "collection": collection,
        "snapshot_type": normalize_snapshot_type(snapshot_type),
        "topic": topic,
        "status_table_name": status_table_name,
        "correlation_id": correlation_id,
        "s3_prefix": s3_prefix,
        "shutdown_flag": shutdown_flag,
        "reprocess_files": reprocess_files,
    }


class DeliveryError(Exception):
    """Non-2xx after exhausting retries (≡ WriterException, HttpWriter.kt:84-88)."""


RECEIPT_SCHEMA = pa.schema(
    [
        ("fileName", pa.string()),
        ("topic", pa.string()),
        ("status_code", pa.int32()),
        ("attempts", pa.int32()),
        ("bytes_sent", pa.int64()),
    ]
)


def _ssl_context(tls: dict | None):
    """Build the task-local SSLContext from file paths (an SSLContext is not
    picklable, so the sink ships paths and constructs per task) — the
    reference's keystore config (SecureHttpClientProvider.kt:36-60:
    trust.keystore → cafile, identity.keystore → certfile/keyfile for mutual
    TLS)."""
    if not tls:
        return None
    import ssl

    ctx = ssl.create_default_context(cafile=tls.get("cafile"))
    if tls.get("certfile"):
        ctx.load_cert_chain(tls["certfile"], tls.get("keyfile"))
    if tls.get("check_hostname") is False:
        ctx.check_hostname = False
    return ctx


def http_deliver(
    decrypted: DataFrame,
    url: str,
    correlation_id: str,
    export_date: str,
    snapshot_type: str = "full",
    status_dir: str | None = None,
    max_retries: int = 5,
    backoff_s: float = 0.1,
    tls: dict | None = None,
) -> pa.Table:
    """POST each delivered file's payload with routing headers; at-least-once
    with idempotent markers. ``decrypted`` is a routed delivery frame such as
    ``DeliveryResult.delivered``; rows off the ``delivered`` route are not
    posted. The files run through ``delivery.sink``'s per-file tasks: each
    is read, decrypted and gzip-checked before its POST, and a bad one raises
    naming the file. Retries per file: ``max_retries`` attempts
    with ×2 exponential backoff (HttpKeyService.kt:37-40's policy applied to
    delivery).

    Returns the receipts on the driver, a pyarrow Table with
    ``RECEIPT_SCHEMA``, one row per posted file: the one action that runs
    the POSTs (``toArrow``) also brings them back, so no later action can
    re-POST a partition, as it could on a DataFrame of receipts."""

    def post_batches(batches):
        ctx = _ssl_context(tls)
        nonce = uuid.uuid4().hex
        for batch in batches:
            out = []
            for row, body, _ in checked_files(batch):
                if body is None:
                    continue
                headers = nifi_headers(
                    filename=row["outputFileName"],
                    database=row["database"],
                    collection=row["collection"],
                    topic=row["topic"],
                    export_date=export_date,
                    snapshot_type=snapshot_type,
                    correlation_id=correlation_id,
                )
                headers["Content-Type"] = "application/octet-stream"
                req = urllib.request.Request(url, data=body, headers=headers, method="POST")
                for attempts in range(1, max_retries + 1):
                    try:
                        with urllib.request.urlopen(req, timeout=30, context=ctx) as resp:
                            # Only 200 counts as delivered (HttpWriter.kt:82-115
                            # retries everything else, including other 2xx).
                            if resp.status == 200:
                                break
                    except Exception:  # a failed POST is retried like a non-200
                        pass
                    if attempts == max_retries:
                        raise DeliveryError(
                            f"delivery failed for {row['fileName']} after {max_retries} attempts"
                        )
                    time.sleep(backoff_s * 2 ** (attempts - 1))
                if status_dir:
                    mark_finished(status_dir, row["fileName"], nonce)
                out.append(
                    {
                        "fileName": row["fileName"],
                        "topic": row["topic"],
                        "status_code": 200,
                        "attempts": attempts,
                        "bytes_sent": len(body),
                    }
                )
            yield pa.RecordBatch.from_pylist(out, schema=RECEIPT_SCHEMA)

    _, receipts = sink(decrypted, post_batches, from_arrow_schema(RECEIPT_SCHEMA))
    return RECEIPT_SCHEMA.empty_table() if receipts is None else receipts.cast(RECEIPT_SCHEMA)
