"""Incremental time-bucket rollup — a continuously-maintained aggregate table
(the "hypertable rollup" / continuous-aggregate pattern).

Each micro-batch computes *mergeable partials* (count, sum) for its rows'
time buckets and MERGEs them into a persistent rollup table keyed on
(bucket, event_type): existing partials for touched keys are summed with the
batch's, untouched keys pass through. Derived metrics (avg) come from the
partials at read time, so merges stay associative/commutative — the property
that makes the rollup restartable and backfillable.

Replay-safe through the services' epoch ledger (streaming/epochs.py):
epoch N's merged state — the newest committed state plus N's partials — is
written to its own directory ``<rollup_path>/state_N``, which a replay of N
overwrites, and becomes the rollup only when N's marker
``<rollup_path>/_epochs/epoch_N.committed`` commits. Older state
directories are removed after that commit. A crash at any point leaves the
last committed state live, so a replayed epoch is merged exactly once.

Local storage is one parquet directory per epoch (the dependency-free
analog of Delta MERGE INTO); at scale the same foreachBatch body targets a
Delta/Iceberg table and the MERGE is keyed on the same bucket columns, with
the table partitioned by bucket date so each batch touches only recent
partitions.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .epochs import EpochLog, fingerprint, run_epochs

ROLLUP_SCHEMA = (
    "window_start timestamp, event_type string, n long, sum_value_cents long"
)


def _ledger(path: str) -> EpochLog:
    return EpochLog(os.path.join(path, "_epochs"), "epoch_{}.committed")


def _live(path: str) -> int | None:
    """The newest epoch whose marker is committed: its state is the rollup."""
    return max(_ledger(path).epochs(), default=None)


def _drop_stale_states(path: str) -> None:
    """Remove every state directory but the live one: older epochs' and any
    a crash left uncommitted."""
    live = f"state_{_live(path)}"
    for name in os.listdir(path) if os.path.isdir(path) else ():
        if name.startswith("state_") and name != live:
            shutil.rmtree(os.path.join(path, name))


def load_rollup(spark: SparkSession, path: str) -> DataFrame:
    """The rollup as of its newest committed epoch (empty before the first)."""
    live = _live(path)
    if live is None:
        return spark.createDataFrame([], ROLLUP_SCHEMA)
    return spark.read.parquet(os.path.join(path, f"state_{live}"))


def batch_partials(batch_df: DataFrame, width: str) -> DataFrame:
    """Mergeable partial aggregates for one batch: count + integer-cent sum
    (exact, order-free — the package float policy)."""
    return (
        batch_df.groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias("sum_value_cents"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "sum_value_cents")
    )


def merge_rollup(spark: SparkSession, path: str, epoch: int, partials: DataFrame) -> None:
    """MERGE partials into the rollup as epoch ``epoch``'s state: sum with
    the live rows per key, keep untouched keys. The state goes live when
    the epoch's marker commits; until then the previous one stays live."""
    _drop_stale_states(path)
    (
        load_rollup(spark, path)
        .unionByName(partials)
        .groupBy("window_start", "event_type")
        .agg(F.sum("n").alias("n"), F.sum("sum_value_cents").alias("sum_value_cents"))
        .coalesce(1)  # the rollup is O(buckets × types): small by design
        .write.mode("overwrite")
        .parquet(os.path.join(path, f"state_{int(epoch)}"))
    )


def run_incremental_rollup(
    stream_df: DataFrame,
    rollup_path: str,
    checkpoint_dir: str,
    width: str = "6 hours",
) -> DataFrame:
    """Drive the stream to completion (AvailableNow), merging each batch's
    partials into the rollup table; returns the final rollup with the derived
    average (exact partials → exact derived metric)."""
    spark = stream_df.sparkSession

    def step(batch_df: DataFrame, epoch_id: int):
        return fingerprint(batch_df, "ts", "event_type", "value"), lambda: merge_rollup(
            spark, rollup_path, epoch_id, batch_partials(batch_df, width)
        )

    run_epochs(stream_df, checkpoint_dir, _ledger(rollup_path), step)
    _drop_stale_states(rollup_path)
    out = load_rollup(spark, rollup_path)
    return out.select(
        "window_start",
        "event_type",
        "n",
        (F.col("sum_value_cents").cast("double") / 100.0).alias("sum_value"),
        (F.col("sum_value_cents").cast("double") / 100.0 / F.col("n").cast("double")).alias(
            "avg_value"
        ),
    )
