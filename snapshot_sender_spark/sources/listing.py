"""Snapshot-file source: encrypted objects + per-object encryption metadata.

The reference settles what to send on the driver before any payload moves:
a paginated S3 ListObjectsV2 + per-object GET that reads the encryption
triple (iv, dataKeyEncryptionKeyId, cipherText) from S3 *user metadata*
(S3DirectoryReader.kt:31-98), then one existence probe per key for a
``.finished`` marker (FinishedFilterProcessor.kt:17-27), then one GET per
object (S3Utils.kt:34-42). The source here does the same:

    sidecar rows (driver, memoized)  →  unfinished: one marker probe per row
      → stat_objects: one stat per pending row (path, length)
      → read_object: one read per pending object, inside the sink's tasks

Locally the manifest comes from the fixture's ``metadata.sidecar.jsonl``
sidecar; against S3 it would come from a driver-side boto3 paginated listing
(one LIST per 1000 keys — the reference does exactly one listing per run too,
S3DirectoryReader.kt:51-80). The manifest is O(number of files) and tiny next
to the content, so settling it starts no Spark job, and a finished object is
never opened. ``read_object`` is the only code that reads a delivered
object's bytes.
"""

from __future__ import annotations

import json
import os
import stat

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..util import local_strings_df

SIDECAR = "metadata.sidecar.jsonl"
ENCRYPTION_META_SCHEMA = T.StructType(
    [
        T.StructField("fileName", T.StringType(), False),
        T.StructField("iv", T.StringType(), False),
        T.StructField("dataKeyEncryptionKeyId", T.StringType(), False),
        T.StructField("cipherText", T.StringType(), False),
    ]
)
META_COLUMNS = ENCRYPTION_META_SCHEMA.fieldNames()
# (path, fileName, length, content) of read_encrypted_files' scan
_OBJECT_COLUMNS = ("path", "element_at(split(path, '/'), -1) AS fileName", "length", "content")

# Memos: the sidecar is parsed once per content, not once per
# build_decrypted call. A delivery input dir CAN change between calls
# (fixtures regenerate, tests append rows), so a hit additionally requires
# the sidecar's (mtime_ns, size) fingerprint to match.
_META_CACHE: dict[str, tuple] = {}
_META_DF_CACHE: dict[str, tuple] = {}


def _memo(cache: dict, key: str, entry: tuple) -> None:
    if len(cache) >= 128:
        cache.clear()
    cache[key] = entry


def _fingerprint(path: str) -> tuple | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _parse_sidecar(path: str) -> list[tuple[str, str, str, str]]:
    rows = []
    with open(path, "rb") as fh:
        for n, line in enumerate(fh, 1):
            if not line.strip():  # a blank line carries no object
                continue
            try:
                obj = json.loads(line)
            except ValueError as e:  # JSONDecodeError and UnicodeDecodeError
                raise ValueError(f"{path}:{n}: sidecar line does not parse ({e})") from e
            if not isinstance(obj, dict):
                raise ValueError(f"{path}:{n}: sidecar line is not a JSON object")
            rows.append(meta_row(obj, f"{path}:{n}"))
    return rows


def meta_row(obj: dict, where: str) -> tuple[str, str, str, str]:
    """One metadata row (a sidecar line, or a stream arrival) as its
    ``META_COLUMNS`` tuple. A NULL, missing or non-string field raises a
    ValueError naming ``where`` and the row's fileName."""
    bad = [c for c in META_COLUMNS if not isinstance(obj.get(c), str)]
    if bad:
        raise ValueError(
            f"{where}: metadata row {obj.get('fileName')!r} has a NULL, missing or "
            f"non-string {', '.join(bad)}"
        )
    return tuple(obj[c] for c in META_COLUMNS)


def read_sidecar(input_dir: str) -> list[tuple[str, str, str, str]]:
    """The per-object encryption metadata — the S3 user-metadata side of the
    source (S3DirectoryReader.kt:86-98) — as ``META_COLUMNS`` tuples, one per
    object, read on the driver and memoized (the list is shared: do not
    mutate it). A line that does not parse, or a row with a NULL, missing or
    non-string field, raises a ValueError naming the sidecar and the line."""
    sidecar = os.path.join(input_dir, SIDECAR)
    fp = _fingerprint(sidecar)
    cached = _META_CACHE.get(input_dir)
    if cached is not None and cached[0] == fp:
        return cached[1]
    rows = _parse_sidecar(sidecar)
    _memo(_META_CACHE, input_dir, (fp, rows))
    return rows


def unfinished(rows, status_dir: str) -> list:
    """The manifest ``rows`` (fileName first) whose object has no
    ``<fileName>.finished`` marker in ``status_dir``: one existence probe per
    row, as the reference probes each key (FinishedFilterProcessor.kt:17-27;
    a HEAD per key against S3), never a scan of every marker ever written.
    A missing status dir means nothing is finished; any other I/O error
    propagates — reading it as "nothing finished" would re-deliver
    everything."""

    def marked(name: str) -> bool:
        try:
            os.stat(os.path.join(status_dir, name + ".finished"))
        except (FileNotFoundError, NotADirectoryError):
            return False
        return True

    return [r for r in rows if not marked(r[0])]


def read_encryption_meta(spark: SparkSession, input_dir: str) -> DataFrame:
    """The sidecar rows as a DataFrame (fileName, iv, dataKeyEncryptionKeyId,
    cipherText), memoized while the sidecar is unchanged."""
    rows = read_sidecar(input_dir)
    cached = _META_DF_CACHE.get(input_dir)
    if cached is not None and cached[0] is spark and cached[1] is rows:
        return cached[2]
    df = local_strings_df(spark, rows, META_COLUMNS)
    _memo(_META_DF_CACHE, input_dir, (spark, rows, df))
    return df


def stat_objects(input_dir: str, names) -> list[tuple[str, int]]:
    """(path, length) of each manifest object ``names`` in ``input_dir``: one
    ``os.stat`` per name, the driver's one listing of the pending objects
    (S3DirectoryReader.kt:59-65). A name that is absent, not ``*.enc``, or
    hidden (it starts with ``_`` or ``.``) raises a ValueError naming it,
    so no manifest row can vanish from the job."""
    found, bad = [], []
    for name in names:
        path = os.path.join(input_dir, name)
        if name.startswith(("_", ".")) or not name.endswith(".enc") or os.sep in name:
            bad.append(name)
            continue
        try:
            st = os.stat(path)
        except (FileNotFoundError, NotADirectoryError):
            bad.append(name)
            continue
        if not stat.S_ISREG(st.st_mode):
            bad.append(name)
            continue
        found.append((path, st.st_size))
    if bad:
        bad.sort()
        shown = ", ".join(bad[:20]) + (f" and {len(bad) - 20} more" if len(bad) > 20 else "")
        raise ValueError(
            f"{input_dir}: {len(bad)} object(s) of the manifest cannot be read "
            f"(absent, not *.enc, or hidden: a name starting with '_' or '.'): {shown}"
        )
    return found


def read_object(path: str) -> bytes:
    """One object's bytes, read whole: the reference's one GET per object
    (S3Utils.kt:34-42). Every sink and parse task reads a delivered file
    through this, one file at a time."""
    with open(path, "rb") as fh:
        return fh.read()


def read_encrypted_files(spark: SparkSession, input_dir: str) -> DataFrame:
    """One row per encrypted object of ``input_dir`` that has a sidecar row:
    (fileName, path, length, content, iv, dataKeyEncryptionKeyId,
    cipherText), every object scanned by a binaryFile reader, finished or
    not. The delivery job does not call it; perfbench's
    ``sources.listing.scan_s`` times it."""
    reader = spark.read.format("binaryFile").option("pathGlobFilter", "*.enc").load(input_dir)
    meta = read_encryption_meta(spark, input_dir)
    return reader.selectExpr(*_OBJECT_COLUMNS).join(F.broadcast(meta), "fileName", "inner")


def read_finished_markers(spark: SparkSession, status_dir: str) -> DataFrame:
    """DataFrame of fileNames that already have a `.finished` marker, read
    as a binaryFile scan of the whole status dir. The delivery paths probe
    one marker per manifest row instead (``unfinished``); this relational
    form is what perfbench's ``sources.listing.markers_s`` times."""
    # Only a missing/empty dir means "nothing finished"; a real I/O or
    # permission error must propagate.
    if not os.path.isdir(status_dir):
        return local_strings_df(spark, [], ["fileName"])
    try:
        markers = (
            spark.read.format("binaryFile")
            .option("pathGlobFilter", "*.finished")
            .load(status_dir)
            .select(F.element_at(F.split(F.col("path"), "/"), -1).alias("marker"))
        )
    except AnalysisException:  # dir exists but matches no files → empty set
        return local_strings_df(spark, [], ["fileName"])
    return markers.select(
        F.regexp_replace(F.col("marker"), r"\.finished$", "").alias("fileName")
    )
