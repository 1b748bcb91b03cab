"""Crypto / codec scalar functions.

The reference decrypts snapshot payloads with AES/CTR/NoPadding using a
base64-decoded data key + IV (reference: DecryptionProcessor.kt:27-41), and the
payloads are gzip-compressed JSON-Lines (reference fixture: resources/aws/
s3_files.py:28,78-84). Spark's built-in ``aes_decrypt`` supports ECB/GCM/CBC but
not CTR, so CTR is a vectorized Pandas UDF over Arrow batches (one Python
crossing per ~10k-row batch, not per row). Gzip likewise.

Scale note: AES-CTR is a seekable stream cipher (counter mode), so a 100 TB
deployment can decrypt byte ranges of large objects independently by seeking the
counter — ``aes_ctr_decrypt_at`` exposes that offset-aware form. Whole-file
decryption here assumes file-granular rows (the reference's own unit of work);
files are capped per task by ``spark.sql.files.maxPartitionBytes``.
"""

from __future__ import annotations

import base64
import gzip
import io
import zlib

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

try:
    from cryptography.hazmat.primitives.ciphers import Cipher, algorithms, modes

    HAVE_CRYPTOGRAPHY = True
except ImportError:  # pragma: no cover - present in the target image
    HAVE_CRYPTOGRAPHY = False


def _ctr_transform(data: bytes, key: bytes, iv: bytes) -> bytes:
    """AES/CTR/NoPadding; encrypt == decrypt (XOR keystream)."""
    if not HAVE_CRYPTOGRAPHY:  # pragma: no cover
        raise NotImplementedError("cryptography library unavailable")
    cipher = Cipher(algorithms.AES(key), modes.CTR(iv))
    enc = cipher.encryptor()
    return enc.update(data) + enc.finalize()


def decrypt_payload(content, key_b64: str | None, iv_b64: str | None) -> bytes | None:
    """One payload's AES-CTR plaintext, NULL if any input is; key and IV are
    base64 strings (reference metadata encoding: S3DirectoryReader.kt:86-98)."""
    if content is None or key_b64 is None or iv_b64 is None:
        return None
    return _ctr_transform(bytes(content), base64.b64decode(key_b64), base64.b64decode(iv_b64))


def ctr_at_offset(data: bytes, key: bytes, iv: bytes, byte_offset: int) -> bytes:
    """Decrypt ``data`` as if it started ``byte_offset`` bytes into the stream.

    CTR keystream block i = AES_enc(key, counter+i); seeking = bumping the
    counter by offset//16 and discarding offset%16 keystream bytes.
    """
    block_skip, intra = divmod(byte_offset, 16)
    counter = int.from_bytes(iv, "big") + block_skip
    seek_iv = (counter % (1 << 128)).to_bytes(16, "big")
    out = _ctr_transform(b"\x00" * intra + data, key, seek_iv)
    return out[intra:]


# --- pandas UDFs (Arrow-vectorized) -------------------------------------------


@F.pandas_udf(T.BinaryType())
def aes_ctr_decrypt(content: pd.Series, key_b64: pd.Series, iv_b64: pd.Series) -> pd.Series:
    """AES-CTR decrypt a binary column (``decrypt_payload`` per row)."""
    return pd.Series(list(map(decrypt_payload, content, key_b64, iv_b64)))


# The payload codecs are marked non-deterministic AFTER definition (they are
# pure; the flag is an optimizer fence): when a filter references a UDF's
# column (the `payload IS NOT NULL` guards in plans/delivery.parse_records and
# corrupt_payloads), Catalyst would push the filter down and evaluate the UDF
# on both sides, twice per file. Non-determinism forbids the duplication
# (spark_optimization_guide §4.4). They are used only in Project/Filter.


@F.pandas_udf(T.BinaryType())
def gunzip(content: pd.Series) -> pd.Series:
    return pd.Series(
        [None if b is None else gzip.decompress(bytes(b)) for b in content]
    )


@F.pandas_udf(T.BinaryType())
def gunzip_or_null(content: pd.Series) -> pd.Series:
    """Tolerant gunzip: undecodable payloads (wrong key, truncation,
    corruption) become NULL instead of failing the task — the PERMISSIVE /
    corrupt-record policy at the codec layer, so bad files route to a rejects
    side-channel rather than poisoning the whole job."""
    out = []
    for b in content:
        if b is None:
            out.append(None)
            continue
        try:
            out.append(gzip.decompress(bytes(b)))
        except Exception:
            out.append(None)
    return pd.Series(out)


aes_ctr_decrypt = aes_ctr_decrypt.asNondeterministic()
gunzip = gunzip.asNondeterministic()

# decrypt_explode_lines_kernel flushes its decompressed-payload group at this
# many bytes so no per-array total approaches pa.string()'s 2 GiB int32-offset
# ceiling (residual: one SINGLE payload inflating past ~1.5 GiB still hits the
# cast — realistic gzip ratios on ≤32 MB compressed payloads stay far below).
# Module-level so tests can force the chunked path with a tiny value.
_EMIT_GROUP_BYTES = 512 * 1024 * 1024
gunzip_or_null = gunzip_or_null.asNondeterministic()


def decrypt_explode_lines_kernel(batches):
    """``mapInArrow`` kernel for the delivery parse path: input batches of
    (fileName, topic, content, plaintextKey, iv), output batches of
    (fileName, topic, line) — decrypt → gunzip → split lines → drop blank
    lines, all in one Python crossing with the per-line work in C
    (spark_optimization_guide §4.2: hand whole batches to vectorized native
    kernels instead of building per-row Python objects).

    Semantics are EXACTLY the decrypt UDF + gunzip + JVM explode path
    (pinned by tests/test_delivery.py::test_parse_records_kernel_matches_expr):

    * rows with a NULL content/key/iv produce no lines (the old
      ``payload IS NOT NULL`` filter);
    * payload text = utf-8 decode with errors='replace' (split-then-decode ==
      decode-then-split for '\\n': 0x0A is never a continuation byte, so a
      replacement run can never absorb a newline);
    * lines = split on '\\n' keeping trailing empties (split(payload,'\\n',-1)),
      then keep only lines where length(trim(line)) > 0 — Spark's ``trim``
      strips U+0020 only, which pc.utf8_trim(line, ' ') reproduces;
    * a payload that does not decrypt or gunzip, or decrypts to no bytes at
      all, raises a ValueError naming the file, failing the task (the
      non-tolerant contract — the tolerant path routes through
      gunzip_or_null instead).

    Why not zero-copy offsets over the decompressed buffer: an Arrow string
    array's single offsets vector makes consecutive strings adjacent in the
    values buffer, and dropping the '\\n' separator bytes breaks adjacency —
    so the C-level ``split_pattern`` (one re-pack of the payload bytes) is the
    floor. The win over the old path is removing: per-payload Python ``str``
    construction, the pandas Series hop, the Arrow re-encode of 1 MB cells,
    and the JVM regex split + Generate explode of megabyte strings.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    from ..pyboundary import install_zipimport_guard

    install_zipimport_guard()

    def emit(fn, tp, texts, rows):
        bin_arr = pa.array(texts, type=pa.large_binary())
        try:
            str_arr = bin_arr.cast(pa.large_utf8())
        except pa.ArrowInvalid:
            # invalid utf-8 somewhere: fall back to Python decode with the
            # errors='replace' policy of the old fused UDF (rare path)
            str_arr = pa.array(
                [t.decode("utf-8", errors="replace") for t in texts],
                type=pa.large_utf8(),
            )
        del bin_arr
        splits = pc.split_pattern(str_arr, "\n")
        flat = pc.list_flatten(splits)
        parents = pc.list_parent_indices(splits)
        keep = pc.not_equal(pc.utf8_trim(flat, " "), "")
        lines = pc.filter(flat, keep).cast(pa.string())
        sel = pc.take(pa.array(rows, type=pa.int64()), pc.filter(parents, keep))
        yield pa.RecordBatch.from_arrays(
            [pc.take(fn, sel), pc.take(tp, sel), lines],
            names=["fileName", "topic", "line"],
        )

    for batch in batches:
        n = batch.num_rows
        fn, tp, content, key, iv = (batch.column(i) for i in range(5))
        texts: list = []
        rows: list = []
        pending = 0
        for i in range(n):
            # cryptography's rust binding accepts only `bytes` (a memoryview
            # over the Arrow buffer is rejected) — one copy per payload, noise
            # next to the AES work itself
            try:
                plain = decrypt_payload(content[i].as_py(), key[i].as_py(), iv[i].as_py())
                if plain is None:
                    continue
                if not plain:  # gzip.decompress(b"") == b"": would read as no lines
                    raise EOFError("empty payload")
                t = gzip.decompress(plain)
            except ValueError as e:  # a malformed key or IV (binascii.Error is one)
                raise ValueError(f"{fn[i].as_py()}: payload does not decrypt ({e})") from e
            except (OSError, EOFError, zlib.error) as e:  # wrong key, truncation
                raise ValueError(
                    f"{fn[i].as_py()}: decrypted payload is not valid gzip ({e})"
                ) from e
            texts.append(t)
            rows.append(i)
            pending += len(t)
            # flush before the group's decompressed bytes approach the int32
            # offset ceiling of pa.string(): the final `.cast(pa.string())`
            # raises ArrowInvalid past 2 GiB of line bytes per array, a cliff
            # the pre-kernel pandas path did not have. (Line bytes ≤ payload
            # bytes, so capping the payload group caps every downstream
            # array.) Also bounds peak worker memory — at the default 32 MB
            # Arrow batch of compressed payloads a high gzip ratio could
            # otherwise pin multiple GiB of plaintext at once.
            if pending >= _EMIT_GROUP_BYTES:
                yield from emit(fn, tp, texts, rows)
                texts, rows, pending = [], [], 0
        if texts:
            yield from emit(fn, tp, texts, rows)


@F.pandas_udf(T.BinaryType())
def gzip_bytes(content: pd.Series) -> pd.Series:
    out = []
    for b in content:
        if b is None:
            out.append(None)
            continue
        buf = io.BytesIO()
        # fixed mtime for deterministic output (golden-file comparisons)
        with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
            gz.write(bytes(b))
        out.append(buf.getvalue())
    return pd.Series(out)


def empty_gzip() -> bytes:
    """Zero-byte gzip payload — the reference's success indicator body
    (SuccessServiceImpl.kt:100-104)."""
    buf = io.BytesIO()
    with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0):
        pass
    return buf.getvalue()


# --- distributed chunked decrypt (one huge object, many tasks) ----------------


def local_range_reader(path: str):
    """Range reader for local/posix files: pread the [offset, offset+length)
    slice without buffering the rest. On a cluster, substitute an object-store
    range reader (e.g. an S3 ``get_object(Range="bytes=o-e")`` closure) — the
    operator only needs (offset, length) → bytes."""

    def read(offset: int, length: int) -> bytes:
        with open(path, "rb") as f:
            f.seek(offset)
            return f.read(length)

    return read


def chunked_decrypt(
    spark,
    size_bytes: int,
    key_b64: str,
    iv_b64: str,
    range_reader,
    chunk_bytes: int = 64 * 1024 * 1024,
):
    """Decrypt ONE large AES-CTR object across many tasks — the 100 TB answer
    to the reference's whole-object buffering (S3Utils.kt:34-42, which holds
    the entire object in memory; SURVEY §7 risk 2): CTR is a seekable stream
    cipher, so each task range-reads its [offset, offset+chunk) slice and
    applies the keystream at its counter offset (``ctr_at_offset``). No task
    ever holds more than ``chunk_bytes``; a 50 GB object becomes
    ceil(size/chunk) independent tasks.

    Returns a DataFrame (chunk_idx, offset, plaintext) ordered by chunk_idx =
    byte order; downstream consumers stream-concatenate (the payload is a
    gzip stream, which decompresses sequentially). ``range_reader`` is a
    picklable (offset, length) → bytes closure; ``local_range_reader`` for
    posix paths, or an object-store range-GET closure on a cluster."""
    key = base64.b64decode(key_b64)
    iv = base64.b64decode(iv_b64)
    n_chunks = max(1, -(-size_bytes // chunk_bytes))
    ranges = spark.range(n_chunks).select(
        F.col("id").alias("chunk_idx"),
        (F.col("id") * chunk_bytes).alias("offset"),
        F.least(
            F.lit(chunk_bytes),
            F.lit(size_bytes) - F.col("id") * chunk_bytes,
        ).alias("length"),
    ).repartition(min(n_chunks, spark.sparkContext.defaultParallelism))

    def decrypt_ranges(batches):
        for pdf in batches:
            outs = []
            for idx, off, ln in zip(pdf["chunk_idx"], pdf["offset"], pdf["length"]):
                cipher = range_reader(int(off), int(ln))
                outs.append(
                    {
                        "chunk_idx": int(idx),
                        "offset": int(off),
                        "plaintext": ctr_at_offset(cipher, key, iv, int(off)),
                    }
                )
            yield pd.DataFrame(outs, columns=["chunk_idx", "offset", "plaintext"])

    return ranges.mapInPandas(
        decrypt_ranges, schema="chunk_idx long, offset long, plaintext binary"
    )
