"""The replay ledger every foreachBatch service keeps: one JSON marker per
committed epoch, holding the fingerprint of that epoch's input, and the one
runner that drives each service's stream through it.

``run_epochs`` checks an epoch's marker before the service's work and
commits it after, so a replayed epoch is skipped (the marker idempotence of
the reference's FinishedFilterProcessor.kt:17-27, per epoch instead of per
file) and a different batch under a reused epoch id fails loudly (see
``fingerprint``). ``commit`` writes a tmp file and renames it into place, so
an empty or garbled marker was damaged outside the service: it fails loudly
too.

Marker files by service:
  ``<accepted>/_epochs/epoch_N.committed``     text, image and video dedup
  ``<status>/_epoch_N.committed``              delivery
  ``<accepted>/_takedowns/batch_N.json``       takedown (fingerprint + audit)
  ``<rollup_path>/_epochs/epoch_N.committed``  rollup
"""

from __future__ import annotations

import json
import os
import re
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..util import write_atomic

__all__ = ["EpochLog", "fingerprint", "parquet_stream", "run_epochs"]


def fingerprint(batch: DataFrame, *cols: str) -> dict:
    """Order-insensitive fingerprint of a micro-batch over the given
    columns: row count + XOR of per-row hashes — one cheap aggregate.
    Stored inside an epoch marker so a replayed epoch can prove it carries
    the SAME input: epoch ids restart at 0 under a fresh checkpoint, so a
    marker from a previous checkpoint generation may collide with a batch
    of entirely different content — silently fast-skipping would DROP the
    new files, silently reprocessing would overwrite the committed epoch.
    A fingerprint mismatch turns both into a loud, actionable error. Shared
    by the text service (doc_id, text), both media service modes
    (media_id, content) and the takedown service (id)."""
    row = batch.agg(
        F.count("*").alias("n"),
        F.coalesce(
            F.expr(f"bit_xor(hash({', '.join(cols)}))").cast("long"), F.lit(0)
        ).alias("x"),
    ).first()
    return {"n": row["n"], "x": int(row["x"])}


class EpochLog:
    """The committed markers in ``directory``, one file per epoch named by
    ``name_template`` with ``{}`` standing for the epoch id."""

    def __init__(self, directory: str, name_template: str):
        self.directory = directory
        self.name_template = name_template
        head, _, tail = name_template.partition("{}")
        self._name = re.compile(re.escape(head) + r"(\d+)" + re.escape(tail))

    def path(self, epoch: int) -> str:
        return os.path.join(self.directory, self.name_template.format(int(epoch)))

    def check(self, epoch: int, fp: dict) -> bool:
        """False when ``epoch`` has no marker; True when its committed
        fingerprint keys equal ``fp``; otherwise raises."""
        path = self.path(epoch)
        if not os.path.exists(path):
            return False
        committed = {k: self._read(path).get(k) for k in fp}
        if committed != fp:
            raise RuntimeError(
                f"epoch {epoch} marker {path} holds fingerprint {committed} but this "
                f"batch's is {fp}: epoch ids have collided across checkpoint "
                "generations (a fresh checkpoint with retained markers?). Refusing "
                "to skip new input or overwrite the committed epoch — restore the "
                "matching checkpoint or clear the markers."
            )
        return True

    def commit(self, epoch: int, record: dict) -> None:
        """Write ``record`` as the epoch's marker: a complete file or none."""
        os.makedirs(self.directory, exist_ok=True)
        write_atomic(self.path(epoch), json.dumps(record).encode(), uuid.uuid4().hex)

    def epochs(self) -> list[int]:
        """Ids of the committed markers, ascending (tmp files ignored)."""
        names = os.listdir(self.directory) if os.path.isdir(self.directory) else []
        return sorted(int(m.group(1)) for m in map(self._name.fullmatch, names) if m)

    def records(self) -> dict[int, dict]:
        """Every committed marker's record by epoch id."""
        return {e: self._read(self.path(e)) for e in self.epochs()}

    @staticmethod
    def _read(path: str) -> dict:
        with open(path) as fh:
            text = fh.read()
        try:
            record = json.loads(text)
        except ValueError:
            record = None
        if not isinstance(record, dict):
            raise RuntimeError(
                f"epoch marker {path} is empty or not a JSON record ({text[:80]!r}): "
                "it was damaged outside the service; inspect it before a rerun"
            )
        return record


def parquet_stream(
    spark: SparkSession, schema: str, input_dir: str, max_files_per_trigger: int | None
) -> DataFrame:
    """The file-stream source of a parquet-fed service: ``schema`` rows from
    the files landing in ``input_dir``, at most ``max_files_per_trigger``
    files per micro-batch (None: every available file)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(input_dir)


def run_epochs(stream: DataFrame, checkpoint_dir: str, ledger: EpochLog, step) -> list[int]:
    """Drive ``stream`` to completion over the input available now
    (Trigger.AvailableNow), one ``ledger`` entry per micro-batch; returns
    the epoch ids whose work ran.

    ``step(batch, epoch)`` returns ``(fingerprint, work)``. An epoch whose
    marker holds that fingerprint is skipped; otherwise ``work()`` runs and
    the marker commits ``{**fingerprint, **(work() or {})}``. The marker is
    written only after the work returns, so the work must converge when a
    crash before the commit replays it."""
    ran: list[int] = []

    def batch(df: DataFrame, epoch: int) -> None:
        fp, work = step(df, epoch)
        if ledger.check(epoch, fp):
            return
        ledger.commit(epoch, {**fp, **(work() or {})})
        ran.append(epoch)

    (
        stream.writeStream.foreachBatch(batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return ran
