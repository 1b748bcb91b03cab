"""Snapshot-file source: binary objects + per-object encryption metadata.

The reference settles what to send on the driver before any payload moves:
a paginated S3 ListObjectsV2 + per-object GET that reads the encryption
triple (iv, dataKeyEncryptionKeyId, cipherText) from S3 *user metadata*
(S3DirectoryReader.kt:31-98), then one existence probe per key for a
``.finished`` marker (FinishedFilterProcessor.kt:17-27). Spark's
``binaryFile`` source gives us the bytes but not user metadata, so the source
here is a driver-side manifest plus a scan pruned to it:

    sidecar rows (driver, memoized)  →  unfinished: one marker probe per row
      → binaryFile scan WHERE _metadata.file_name IN (pending)  ⋈  manifest

Locally the manifest comes from the fixture's ``metadata.sidecar.jsonl``
sidecar; against S3 it would come from a driver-side boto3 paginated listing
(one LIST per 1000 keys — the reference does exactly one listing per run too,
S3DirectoryReader.kt:51-80). The manifest is O(number of files) and tiny next
to the content, so settling it starts no Spark job, and its join with the
content is a broadcast hash join — no shuffle of the multi-TB content side.
Spark applies the ``_metadata.file_name`` filter when it lists the files
(``DataFilters: [file_name IN …]`` in the plan), so a finished object is never
opened.
"""

from __future__ import annotations

import json
import os
from urllib.parse import unquote

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..util import local_strings_df, sql_strings

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
# (path, fileName, length, content): the EncryptedStream analog
# (DomainClasses.kt:10-32) before its metadata join
_OBJECT_COLUMNS = ("path", "element_at(split(path, '/'), -1) AS fileName", "length", "content")

# Memos (r13, guide §1.2 driver-side constants): parsing the sidecar and
# especially building the binaryFile reader, which lists the directory
# (InMemoryFileIndex), cost ~0.1-0.2 s per build_decrypted call over
# *identical* inputs. Unlike the read-only testdata tables
# (tables._LOAD_CACHE), a delivery input dir CAN change between calls
# (fixtures regenerate, tests append objects), so a hit additionally requires
# a filesystem FINGERPRINT match: the (name, mtime_ns, size) set of the
# matching files, captured by a driver-side scandir that costs ~0.2 ms per
# 100 objects. A changed/deleted/added file changes the fingerprint and
# forces a fresh read. The reader is a logical plan handle — no data is
# cached; every execution rescans the files.
_META_CACHE: dict[str, tuple] = {}
_META_DF_CACHE: dict[str, tuple] = {}
_FILES_CACHE: dict[str, tuple] = {}


def _memo(cache: dict, key: str, entry: tuple) -> None:
    if len(cache) >= 128:
        cache.clear()
    cache[key] = entry


def _dir_fingerprint(paths: list[str]) -> tuple:
    out = []
    for p in paths:
        try:
            st = os.stat(p)
            out.append((p, st.st_mtime_ns, st.st_size))
        except OSError:
            out.append((p, None, None))
    return tuple(out)


def _enc_listing(input_dir: str) -> list[str]:
    """Top-level ``*.enc`` files plus any subdirectories (the binaryFile
    source can descend into partition-style subdirs; a subdir's mtime changes
    whenever an entry is added/removed inside it, so including the dirs keeps
    the fingerprint sensitive to nested changes)."""
    try:
        with os.scandir(input_dir) as it:
            return sorted(
                e.path for e in it if e.name.endswith(".enc") or e.is_dir()
            )
    except OSError:
        return []


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
    fp = _dir_fingerprint([sidecar])
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


def listed_names(objects: DataFrame) -> frozenset[str]:
    """The names of the files a file-source DataFrame's index lists, read
    from the driver's file index in one py4j string (no Spark job)."""
    # py4j passes no Java array to an Object[] or varargs parameter, and
    # iterating one costs a round trip per element: wrap it, join it JVM-side
    wrap = objects.sparkSession._jvm.scala.collection.immutable.ArraySeq.unsafeWrapArray
    uris = wrap(objects._jdf.inputFiles()).mkString("\n")
    return frozenset(unquote(u.rsplit("/", 1)[-1]) for u in uris.split("\n") if u)


def require_listed(names, listed: frozenset[str], where: str) -> None:
    """Fail, naming them, on manifest ``names`` the scan would not return: an
    absent object, one outside the ``*.enc`` glob, or one the binaryFile
    source hides because its name starts with ``_`` or ``.``. Without this
    the content join drops them silently."""
    missing = sorted(set(names) - listed)
    if missing:
        shown = ", ".join(missing[:20]) + (f" and {len(missing) - 20} more" if len(missing) > 20 else "")
        raise ValueError(
            f"{where}: {len(missing)} object(s) of the manifest are not returned by the scan "
            f"(absent, not *.enc, or hidden: a name starting with '_' or '.'): {shown}"
        )


def _directory_reader(spark: SparkSession, input_dir: str) -> tuple[DataFrame, frozenset[str]]:
    """The memoized binaryFile reader over ``input_dir``'s ``*.enc`` objects,
    and the names its listing holds."""
    fp = _dir_fingerprint(_enc_listing(input_dir))
    cached = _FILES_CACHE.get(input_dir)
    if cached is not None and cached[0] is spark and cached[1] == fp:
        return cached[2], cached[3]
    reader = spark.read.format("binaryFile").option("pathGlobFilter", "*.enc").load(input_dir)
    listed = listed_names(reader)
    _memo(_FILES_CACHE, input_dir, (spark, fp, reader, listed))
    return reader, listed


def read_pending_objects(spark: SparkSession, input_dir: str, names: list[str]) -> DataFrame:
    """(path, fileName, length, content) of the objects named ``names``: the
    memoized directory reader filtered on ``_metadata.file_name``, one IN
    expression that Spark applies while listing, so no other object is
    opened. A name the listing lacks raises (``require_listed``)."""
    reader, listed = _directory_reader(spark, input_dir)
    require_listed(names, listed, input_dir)
    cond = "false"
    if names:
        cond = f"_metadata.file_name IN ({', '.join(sql_strings(spark, sorted(set(names))))})"
    return reader.filter(cond).selectExpr(*_OBJECT_COLUMNS)


def read_encrypted_files(spark: SparkSession, input_dir: str) -> DataFrame:
    """One row per encrypted object of ``input_dir`` that has a sidecar row:
    (fileName, path, length, content, iv, dataKeyEncryptionKeyId,
    cipherText), every object scanned, finished or not."""
    reader, _ = _directory_reader(spark, input_dir)
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
