"""The replay ledger every foreachBatch service keeps: one JSON marker per
committed epoch, holding the fingerprint of that epoch's input.

A service calls ``check`` before its work and ``commit`` after it, so a
replayed epoch is skipped (the marker idempotence of the reference's
FinishedFilterProcessor.kt:17-27, per epoch instead of per file) and a
different batch under a reused epoch id fails loudly (see ``fingerprint``).
``commit`` writes a tmp file and renames it into place, so an empty or
garbled marker was damaged outside the service: it fails loudly too.

Marker files by service:
  ``<accepted>/_epochs/epoch_N.committed``   text, image and video dedup
  ``<status>/_epoch_N.committed``           delivery
  ``<accepted>/_takedowns/batch_N.json``    takedown (fingerprint + audit)
"""

from __future__ import annotations

import json
import os
import re
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..util import write_atomic

__all__ = ["EpochLog", "fingerprint"]


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

    def records(self) -> dict[int, dict]:
        """Every committed marker's record by epoch id (tmp files ignored)."""
        if not os.path.isdir(self.directory):
            return {}
        out = {}
        for name in os.listdir(self.directory):
            m = self._name.fullmatch(name)
            if m:
                out[int(m.group(1))] = self._read(os.path.join(self.directory, name))
        return dict(sorted(out.items()))

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
