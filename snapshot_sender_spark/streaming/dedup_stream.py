"""Continuous ingestion dedup service: a document stream is deduped per
micro-batch against the persisted bucketed posting-list index
(operators/dedup.py:build_dedup_index), and each batch's surviving (novel)
docs are appended to BOTH the accepted corpus and the index inside the same
epoch — so batch N+1 is deduped against everything accepted through batch N.
This is the streaming form of the training-data pipeline's daily-crawl dedup.

Scale shape (mirrors the batch incremental operator): the corpus posting
list is never re-shuffled — each batch sort-merge joins against pre-sorted
index buckets in place; only the batch's own shingles shuffle. Within-batch
near-dup uses the exact pair operator on the (small) batch. Epoch markers
(``<accepted>/_epochs/epoch_N.committed``, kept by the services' shared
ledger streaming/epochs.py) make replayed batches no-ops and refuse a batch
whose input fingerprint differs from its epoch's marker.

Generalization beyond the reference: the reference never dedups payloads
(src/main/kotlin has no near-dup stage); this implements the north-star
LLM-data requirement as a first-class streaming service.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup, index_lifecycle
from .epochs import EpochLog, fingerprint, parquet_stream, run_epochs

DOC_SCHEMA = "doc_id long, text string"


def epoch_log(accepted_dir: str) -> EpochLog:
    """The epoch markers of a dedup service (text, image or video)."""
    return EpochLog(os.path.join(accepted_dir, "_epochs"), "epoch_{}.committed")


def committed_epochs(accepted_dir: str) -> list[int]:
    """Epoch ids whose markers are committed — the only epochs
    ``dedup.compact_dedup_index`` may fold (a compacted epoch's partition
    disappears, so crash-replay of an UNcommitted epoch would duplicate its
    postings; see the compaction docstring's durability contract)."""
    return list(epoch_log(accepted_dir).records())


def run_streaming_ingestion_dedup(
    spark: SparkSession,
    input_dir: str,
    index_table: str,
    accepted_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.5,
    n_buckets: int = 8,
    max_files_per_trigger: int | None = None,
    compact_after: bool = False,
) -> list[int]:
    """Drive ingestion dedup to completion over currently-available input
    (Trigger.AvailableNow). Returns the processed epoch ids.

    Per micro-batch: (1) within-batch exact dedup (content hash, keep min
    id); (2) within-batch near-dup (exact Jaccard pairs ≥ threshold, keep
    the lower id of every pair); (3) cross-set near-dup of the survivors
    against the standing index (bucket-aligned join, corpus never shuffles);
    (4) append the accepted docs to ``accepted_dir`` and their postings to
    the index. Epoch markers in ``accepted_dir/_epochs`` make a replayed
    batch (crash between append and checkpoint commit) a no-op.

    ``compact_after``: once the stream terminates, fold every committed
    epoch's index partition into the reserved compacted partition
    (``dedup.compact_dedup_index``) — the built-in small-file maintenance
    for a service run per crawl cycle. Safe at this point by construction:
    every folded epoch has its marker committed (the fold reads the marker
    dir), and no epoch is in flight."""
    os.makedirs(accepted_dir, exist_ok=True)
    data_dir = os.path.join(accepted_dir, "data")

    def step(batch: DataFrame, epoch_id: int):
        return fingerprint(batch, "doc_id", "text"), lambda: dedup_batch(batch, epoch_id)

    def dedup_batch(batch: DataFrame, epoch_id: int) -> None:
        # foreachBatch hands a CLONED session; the metastore is shared but
        # each session caches table relations (file listings) separately —
        # work through the batch's session and refresh before reading so an
        # earlier epoch's index append is visible to this one.
        sess = batch.sparkSession
        # (1) within-batch exact: keep the min doc_id per content hash.
        # Checkpointed — every later stage re-reads these survivors, and
        # without the checkpoint the scan + exact-dedup join would replay
        # inside each stage's lineage.
        keepers = dedup.exact_dedup(batch, "text", "doc_id").select(
            F.col("keeper_id").alias("doc_id")
        )
        batch = batch.join(keepers, "doc_id").localCheckpoint()
        # ONE shingle pass for the whole epoch (round-6 profiling: the text →
        # bigram → xxhash64 fan-out used to run independently inside stages
        # 2, 3 AND the index append): hash-shingle the survivors once, lazily
        # checkpoint, and feed the array form to the near-dup selector and
        # the exploded posting form to the index probe + append.
        shingled = dedup.hashed_shingle_sets(batch, "text", "doc_id").localCheckpoint(
            eager=False
        )
        posting = shingled.select("id", F.explode("shingles").alias("h"))
        # (2) within-batch near-dup: drop the higher id of every pair. The
        # cost-based selector picks the physical plan per batch (GEMM for
        # small/dense batches, posting joins past the flops budget), so the
        # service stays scale-correct when a single micro-batch is a whole
        # day's crawl.
        near = (
            dedup.ngram_jaccard_pairs_gemm(
                batch, "text", "doc_id", threshold, shingled=shingled
            )
            .select(F.col("id_b").alias("doc_id"))
            .distinct()
        )
        survivors = batch.join(near, "doc_id", "left_anti")
        # (3) cross-set vs the standing index (absent on the first epoch).
        # The CURRENT epoch's partition is excluded from the corpus side: a
        # crash between the index append (below) and the marker leaves this
        # epoch's own postings in the index, and replay would otherwise
        # self-match every accepted doc at Jaccard 1.0 — dropping them all
        # and stranding the stale partition (phantom postings).
        # The probe uses the FULL batch posting list (not just step-2
        # survivors): a doc already dropped within-batch that also matches
        # the corpus adds a drop-row for an id the anti-join below no longer
        # carries — the accepted set is identical, and the full list is the
        # already-checkpointed one.
        if dedup.refresh_index(sess, index_table):
            dups = (
                dedup.incremental_jaccard_against_index(
                    sess, index_table, None, "text", "doc_id", threshold,
                    exclude_epoch=epoch_id, posting=posting,
                )
                .select(F.col("id_new").alias("doc_id"))
                .distinct()
            )
            accepted = survivors.join(dups, "doc_id", "left_anti")
        else:
            accepted = survivors
        # (4) publish, replay-idempotently: the corpus epoch directory is
        # OVERWRITTEN (a re-run of this epoch replaces, never duplicates) and
        # the index append is per-epoch dynamic partition overwrite; with the
        # current epoch excluded from step (3), replay recomputes the SAME
        # accepted set whether the crash hit before or after the index
        # append, so both writes converge. The marker is a fast-skip, not
        # the only duplicate guard.
        accepted = accepted.localCheckpoint()  # one computation, used twice
        accepted.write.mode("overwrite").parquet(
            os.path.join(data_dir, f"epoch={epoch_id}")
        )
        # index postings for the accepted docs: reuse the epoch's posting
        # list instead of re-shingling the accepted text
        accepted_posting = posting.join(
            accepted.select(F.col("doc_id").alias("id")), "id", "semi"
        )
        dedup.append_dedup_index_epoch(
            sess, index_table, accepted, "text", "doc_id", epoch_id,
            n_buckets=n_buckets, posting=accepted_posting,
        )

    epochs = run_epochs(
        parquet_stream(spark, DOC_SCHEMA, input_dir, max_files_per_trigger),
        checkpoint_dir, epoch_log(accepted_dir), step,
    )
    # make clone-session appends visible to the caller's session
    if dedup.refresh_index(spark, index_table) and compact_after:
        # committed_epochs can only yield non-negative ids (EpochLog
        # matches \d+), so the reserved compacted partition is never in
        # this list; compact_dedup_index additionally prunes to epochs
        # whose partitions still exist, making repeat cycles no-ops
        dedup.compact_dedup_index(spark, index_table, committed_epochs(accepted_dir))
    return epochs


def takedown_accepted_docs(
    spark: SparkSession,
    accepted_dir: str,
    index_table: str,
    ids: DataFrame,
) -> int:
    """Service-level TAKEDOWN for the TEXT ingestion-dedup service (GDPR /
    data-removal): remove the given doc ids from BOTH halves of the
    service's state — the persisted posting index + sizes table
    (``dedup.takedown_dedup_index``: only affected epoch partitions
    rewritten) and the accepted-corpus store (the epoch-partitioned parquet
    under ``accepted_dir/data``). Returns corpus rows removed. Same
    contract as the media service's ``takedown_accepted_media``: delete-only
    and convergent on crash re-run; epoch markers untouched (they
    fingerprint INPUT batches — a takedown must never make a crashed epoch
    replayable); the same text re-submitted under a new id is ACCEPTED
    afterwards because its postings are gone."""
    dedup.takedown_dedup_index(spark, index_table, ids)
    return index_lifecycle.remove_ids_from_partitioned_dir(
        spark, os.path.join(accepted_dir, "data"), "doc_id", ids
    )
