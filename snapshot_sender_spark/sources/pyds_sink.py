"""Python DataSource WRITER (Spark 4 DataSource API, write path): the
reference's delivery sink as a pluggable format with a real commit protocol.

The reference's sink is two uncoordinated writes per file — the NiFi POST
(HttpWriter.kt:72-81) then the `.finished` marker (S3StatusFileWriter.kt:19-52,
invoked at HttpWriter.kt:96) — so a crash between them re-delivers on restart
(at-least-once by construction). Re-expressed as a ``DataSourceWriter`` the
same outputs get all-or-nothing visibility from the DSv2 commit protocol:

* ``write(iterator)`` (executor, per partition) stages one gzip JSON-L file
  under ``<path>/_staging/`` and returns a ``WriterCommitMessage`` naming the
  staged file, its row count, and the delivered fileNames;
* ``commit(messages)`` (driver, runs once ALL tasks succeeded) moves staged
  files into ``<path>``, publishes ``_MANIFEST.json`` (the commit point),
  then writes one ``.finished`` marker per delivered fileName under
  ``<path>/status/`` — nothing becomes visible if any task failed, and a
  driver crash mid-publish can only leave a committed manifest with missing
  markers, which ``replay_markers`` idempotently re-creates on recovery
  (markers are a pure function of the manifests). Overwrite mode replaces
  the previous commit wholesale: data files, manifest, its status markers,
  and stale ``_staging`` leftovers;
* ``abort(messages)`` deletes whatever was staged.

The streaming form (``DataSourceStreamWriter``) does the same per epoch with
``_MANIFEST-<batchId>.json`` as the commit record; a batchId whose manifest
already exists is skipped wholesale, which is exactly the epoch-idempotence
foreachBatch sinks hand-roll.

At 100 TB: staging + rename is the classic object-store commit pattern (one
manifest write makes the epoch visible); markers keep restart idempotence for
readers that poll the status prefix like the reference's
FinishedFilterProcessor.
"""

from __future__ import annotations

import gzip
import json
import os
import shutil
import uuid
from dataclasses import dataclass, field

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceStreamWriter,
    DataSourceWriter,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType


@dataclass
class _StagedFile(WriterCommitMessage):
    staged: str
    rows: int
    file_names: list = field(default_factory=list)


def _stage_partition(path: str, schema_fields: list, iterator) -> _StagedFile:
    staging = os.path.join(path, "_staging")
    os.makedirs(staging, exist_ok=True)
    name = f"part-{uuid.uuid4().hex}.json.gz"
    staged = os.path.join(staging, name)
    rows = 0
    file_names = []
    with gzip.open(staged, "wt", encoding="utf-8") as out:
        for row in iterator:
            d = {f: row[f] for f in schema_fields}
            if "fileName" in d and d["fileName"] is not None:
                file_names.append(d["fileName"])
            out.write(json.dumps(d, default=str) + "\n")
            rows += 1
    return _StagedFile(staged=staged, rows=rows, file_names=file_names)


def _publish(path: str, messages, manifest_name: str) -> None:
    """Move staged files into place, write the manifest (THE commit point),
    then the markers. Markers after the manifest means a driver crash
    mid-publish can never advertise a batch that did not commit; on recovery
    the markers are idempotently re-creatable from the manifest (see
    ``replay_markers``), so marker-polling readers converge to exactly the
    committed set."""
    status = os.path.join(path, "status")
    os.makedirs(status, exist_ok=True)
    entries = []
    for m in messages:
        if m is None or m.rows == 0:
            if m is not None and os.path.exists(m.staged):
                os.remove(m.staged)
            continue
        final = os.path.join(path, os.path.basename(m.staged))
        shutil.move(m.staged, final)
        entries.append({"file": os.path.basename(final), "rows": m.rows,
                        "delivered": m.file_names})
    tmp = os.path.join(path, f".{manifest_name}.tmp")
    with open(tmp, "w") as fh:
        json.dump({"files": entries, "total_rows": sum(e["rows"] for e in entries)}, fh)
    os.replace(tmp, os.path.join(path, manifest_name))
    _write_markers(status, entries)


def _write_markers(status: str, entries) -> None:
    from ..plans.delivery import mark_finished  # driver-side only: keeps worker imports light

    nonce = uuid.uuid4().hex
    for e in entries:
        for fn in e["delivered"]:
            mark_finished(status, fn, nonce)


def replay_markers(path: str) -> int:
    """Recovery helper: re-derive the status markers from every committed
    manifest under ``path`` (markers are a pure function of the manifests).
    Returns the number of markers ensured present. Run after a driver crash
    that may have landed between the manifest rename and the marker writes."""
    status = os.path.join(path, "status")
    os.makedirs(status, exist_ok=True)
    n = 0
    for f in sorted(os.listdir(path)):
        if f.startswith("_MANIFEST") and f.endswith(".json"):
            with open(os.path.join(path, f)) as fh:
                manifest = json.load(fh)
            _write_markers(status, manifest["files"])
            n += sum(len(e["delivered"]) for e in manifest["files"])
    return n


def _clear_previous_commit(path: str, data_suffix: str, keep_staged) -> None:
    """Overwrite semantics: replace the previous commit WHOLESALE — data
    files, manifest, the status markers it advertised, and any _staging
    leftovers a crashed prior run abandoned (everything in _staging except
    this commit's own staged files, which _publish is about to move)."""
    for f in os.listdir(path):
        if f.endswith(data_suffix) or f == "_MANIFEST.json":
            os.remove(os.path.join(path, f))
    status = os.path.join(path, "status")
    if os.path.isdir(status):
        for f in os.listdir(status):
            if f.endswith(".finished"):
                os.remove(os.path.join(status, f))
    staging = os.path.join(path, "_staging")
    if os.path.isdir(staging):
        live = {os.path.basename(m.staged) for m in keep_staged if m is not None}
        for f in os.listdir(staging):
            if f not in live:
                os.remove(os.path.join(staging, f))


def _discard(messages) -> None:
    for m in messages:
        if m is not None and os.path.exists(m.staged):
            os.remove(m.staged)


class DeliverySinkWriter(DataSourceWriter):
    def __init__(self, options, schema: StructType, overwrite: bool):
        self.path = options["path"]
        self.fields = list(schema.fieldNames())
        self.overwrite = overwrite

    def write(self, iterator):
        return _stage_partition(self.path, self.fields, iterator)

    def commit(self, messages):
        if self.overwrite:
            _clear_previous_commit(self.path, ".json.gz", messages)
        _publish(self.path, messages, "_MANIFEST.json")

    def abort(self, messages):
        _discard(messages)


class DeliverySinkStreamWriter(DataSourceStreamWriter):
    def __init__(self, options, schema: StructType):
        self.path = options["path"]
        self.fields = list(schema.fieldNames())

    def write(self, iterator):
        return _stage_partition(self.path, self.fields, iterator)

    def commit(self, messages, batchId: int):
        manifest = os.path.join(self.path, f"_MANIFEST-{batchId}.json")
        if os.path.exists(manifest):
            _discard(messages)  # epoch already committed (restart replay)
            return
        _publish(self.path, messages, os.path.basename(manifest))

    def abort(self, messages, batchId: int):
        _discard(messages)


class DeliverySinkDataSource(DataSource):
    @classmethod
    def name(cls):
        return "delivery_sink"

    def schema(self):
        # write-only source; schema comes from the written DataFrame
        return "fileName string"

    def writer(self, schema: StructType, overwrite: bool):
        return DeliverySinkWriter(self.options, schema, overwrite)

    def streamWriter(self, schema: StructType, overwrite: bool):
        return DeliverySinkStreamWriter(self.options, schema)


def register(spark) -> None:
    spark.dataSource.register(DeliverySinkDataSource)


class DeliverySinkArrowWriter(DataSourceArrowWriter):
    """Arrow-native variant (DataSourceArrowWriter): partitions arrive as
    pyarrow RecordBatches and are staged as parquet via pyarrow.parquet —
    no per-row Python objects anywhere on the write path. Same commit
    protocol as the Row form."""

    def __init__(self, options, schema: StructType, overwrite: bool = False):
        self.path = options["path"]
        self.overwrite = overwrite

    def write(self, iterator):
        import pyarrow.parquet as pq

        staging = os.path.join(self.path, "_staging")
        os.makedirs(staging, exist_ok=True)
        staged = os.path.join(staging, f"part-{uuid.uuid4().hex}.parquet")
        rows = 0
        file_names: list = []
        writer = None
        try:
            for batch in iterator:
                if writer is None:
                    writer = pq.ParquetWriter(staged, batch.schema)
                writer.write_batch(batch)
                rows += batch.num_rows
                if "fileName" in batch.schema.names:
                    file_names.extend(
                        v for v in batch.column("fileName").to_pylist() if v is not None
                    )
        finally:
            if writer is not None:
                writer.close()
        if writer is None:  # empty partition: nothing staged
            return _StagedFile(staged=staged, rows=0, file_names=[])
        return _StagedFile(staged=staged, rows=rows, file_names=file_names)

    def commit(self, messages):
        if self.overwrite:  # same contract as the Row writer: replace the
            _clear_previous_commit(self.path, ".parquet", messages)
        _publish(self.path, messages, "_MANIFEST.json")

    def abort(self, messages):
        _discard(messages)


class DeliverySinkArrowDataSource(DataSource):
    @classmethod
    def name(cls):
        return "delivery_sink_arrow"

    def schema(self):
        return "fileName string"

    def writer(self, schema: StructType, overwrite: bool):
        return DeliverySinkArrowWriter(self.options, schema, overwrite)


def register_arrow(spark) -> None:
    spark.dataSource.register(DeliverySinkArrowDataSource)
