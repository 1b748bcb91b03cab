"""S3 snapshot source: paginated listing + per-object encryption user-metadata.

Mirrors the reference's reader (S3DirectoryReader.kt:31-98):
  * one paginated ListObjectsV2 pass per run (:59-65),
  * per-object HEAD for user metadata `iv`, `dataKeyEncryptionKeyId`,
    `cipherText` (:82-98); missing keys → the object is routed to a rejects
    list (the reference throws DataKeyDecryptionException),
  * content itself is NOT fetched driver-side: the rows are the manifest
    that ``delivery.route_and_decrypt`` routes, and each object's bytes are
    read once, by the sink task that delivers it (``listing.read_object``).

At 100 TB: listing ~100k objects is a driver-side metadata operation (MBs);
content I/O is fully distributed over the sink's tasks. HEAD calls are the
listing's per-object cost — issued from a thread pool, bounded by
``max_workers`` (≡ the reference's 50-connection pool, AWSConfiguration.kt:53).
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

METADATA_KEYS = ("iv", "datakeyencryptionkeyid", "ciphertext")  # S3 lowercases user metadata


def list_objects_with_metadata(
    s3_client, bucket: str, prefix: str, max_workers: int = 16, skip_names=None
) -> tuple[list[dict], list[str]]:
    """Paginated ListObjectsV2 + HEAD per object. Returns (metadata rows,
    rejected keys missing the encryption triple).

    ``skip_names``: object base names to exclude BEFORE the HEAD fan-out — a
    continuous poller (streaming/delivery_stream.poll_arrivals) passes its
    already-seen set so each poll pays one listing pass (unavoidable without
    S3 inventory/SQS events) but only O(new) HEAD requests, not O(corpus)."""
    keys: list[str] = []
    skip = skip_names or ()
    paginator = s3_client.get_paginator("list_objects_v2")
    for page in paginator.paginate(Bucket=bucket, Prefix=prefix):
        for obj in page.get("Contents", []):
            if obj["Key"].rsplit("/", 1)[-1] not in skip:
                keys.append(obj["Key"])

    def head(key: str):
        meta = {
            k.lower(): v
            for k, v in s3_client.head_object(Bucket=bucket, Key=key)
            .get("Metadata", {})
            .items()
        }
        return key, meta

    rows, rejected = [], []
    with ThreadPoolExecutor(max_workers=max_workers) as pool:
        for key, meta in pool.map(head, keys):
            if all(meta.get(k) for k in METADATA_KEYS):
                rows.append(
                    {
                        "fileName": key.rsplit("/", 1)[-1],
                        "iv": meta["iv"],
                        "dataKeyEncryptionKeyId": meta["datakeyencryptionkeyid"],
                        "cipherText": meta["ciphertext"],
                    }
                )
            else:
                rejected.append(key)
    return rows, rejected
