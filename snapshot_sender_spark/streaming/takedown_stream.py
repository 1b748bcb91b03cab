"""Continuous TAKEDOWN service (round 8): data-removal requests arrive as a
stream of (id) rows — the operational form of GDPR/right-to-be-forgotten
processing — and each micro-batch removes those ids from BOTH halves of a
dedup service's state (persisted index + accepted corpus) through the
round-8 takedown operators, then commits an AUDIT MANIFEST per batch.

Contract mirrors the ingestion services: per-batch markers under
``accepted_dir/_takedowns`` (the shared ledger streaming/epochs.py, which
writes each one whole) fast-skip replayed batches after verifying the
request fingerprint (epoch-collision guard), and the underlying removals
are delete-only and convergent — a crash anywhere re-runs to the same
state, so the marker is audit + fast-skip, never the only idempotence
guard. The manifest records what compliance needs: request count, request
fingerprint, and corpus rows actually removed (0 for ids that never
existed or were already removed — takedown of an unknown id is a no-op by
design, not an error, because removal requests routinely outlive the
data).

MANIFEST SCHEMA NOTE — ``corpus_rows_removed`` is REPLAY-SENSITIVE: it is
measured at commit-attempt time, so if the process crashes AFTER the
removals but BEFORE the marker write, the replayed batch re-runs against
already-cleaned state and commits 0 for a takedown that actually removed
rows. The REMOVAL itself is exactly-once-equivalent either way (delete-only
and convergent); only the audit COUNT can under-report under that crash
window. Counting matches before removing in the same run is inherently racy
(rows can be removed between the count and the delete), so instead every
manifest carries ``"rows_removed_semantics": "as-of-this-run"`` to make the
caveat machine-readable; auditors needing exact counts should reconcile
against the pre-takedown corpus snapshot.

Three kinds, matching the ingestion services:
  "docs"   text service   — posting index (+sizes), corpus keyed doc_id
  "media"  signature mode — per-band sig index, corpus keyed media_id
  "video"  posting mode   — posting index (+sizes), corpus keyed media_id
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..operators import dedup
from . import dedup_stream, media_dedup_stream
from .epochs import EpochLog, fingerprint, parquet_stream, run_epochs

REQUEST_SCHEMA = "id long"

_KINDS = {
    "docs": dedup_stream.takedown_accepted_docs,
    "media": media_dedup_stream.takedown_accepted_media,
    "video": media_dedup_stream.takedown_accepted_video,
}

__all__ = ["run_streaming_takedown", "takedown_manifests", "REQUEST_SCHEMA"]


def _ledger(accepted_dir: str) -> EpochLog:
    return EpochLog(os.path.join(accepted_dir, "_takedowns"), "batch_{}.json")


def takedown_manifests(accepted_dir: str) -> dict[int, dict]:
    """Committed takedown audit manifests by batch id."""
    return _ledger(accepted_dir).records()


def run_streaming_takedown(
    spark: SparkSession,
    requests_dir: str,
    accepted_dir: str,
    index_table: str,
    checkpoint_dir: str,
    kind: str = "media",
    max_files_per_trigger: int | None = None,
) -> list[int]:
    """Drive takedown processing to completion over currently-available
    removal-request files (Trigger.AvailableNow). Returns processed batch
    ids. Each batch: verify-or-commit the request fingerprint, run the
    ``kind``'s service-level takedown (index + corpus, delete-only,
    convergent), write the audit manifest."""
    if kind not in _KINDS:
        raise ValueError(f"kind must be one of {sorted(_KINDS)}, got {kind!r}")
    takedown = _KINDS[kind]

    def step(batch: DataFrame, batch_id: int):
        return fingerprint(batch, "id"), lambda: remove(batch)

    def remove(batch: DataFrame) -> dict:
        ids = batch.select("id").distinct().localCheckpoint()
        removed = takedown(batch.sparkSession, accepted_dir, index_table, ids)
        return {
            "kind": kind,
            "distinct_ids": ids.count(),
            "corpus_rows_removed": int(removed),
            # replay-sensitivity marker — see module docstring: a crash
            # after the removals but before this commit replays the batch
            # against cleaned state and records 0 here
            "rows_removed_semantics": "as-of-this-run",
        }

    batches = run_epochs(
        parquet_stream(spark, REQUEST_SCHEMA, requests_dir, max_files_per_trigger),
        checkpoint_dir, _ledger(accepted_dir), step,
    )
    dedup.refresh_index(spark, index_table)
    return batches
