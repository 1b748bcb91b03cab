"""Crypto / codec functions.

The reference decrypts snapshot payloads with AES/CTR/NoPadding using a
base64-decoded data key + IV (reference: DecryptionProcessor.kt:27-41), and the
payloads are gzip-compressed JSON-Lines (reference fixture: resources/aws/
s3_files.py:28,78-84). Spark's built-in ``aes_decrypt`` supports ECB/GCM/CBC but
not CTR, so one Python function, ``open_payload``, decrypts and gunzips a
delivered file. The delivery sinks and the record parse call it from their
``mapInArrow`` batch functions: one Python crossing per Arrow batch, not per
row.

Scale note: AES-CTR is a seekable stream cipher (counter mode), so a 100 TB
deployment can decrypt byte ranges of large objects independently by seeking the
counter — ``ctr_at_offset`` exposes that offset-aware form and
``chunked_decrypt`` runs it one task per range. Whole-file decryption here
assumes file-granular rows (the reference's own unit of work). A task opens
the files of one bin, one at a time; the driver packs the bins by file
length, largest first into the least-loaded bin (``delivery.pack``), so the
large files spread over the tasks.
"""

from __future__ import annotations

import base64
import gzip
import io
import zlib
from collections.abc import Iterator

from pyspark.sql import functions as F

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


# The gunzipped text of a payload is handed out in chunks of at most this many
# bytes, and the parse kernel flushes its line batches at it, so no Arrow array
# approaches pa.string()'s 2 GiB int32-offset ceiling, however large one payload
# inflates. Module-level so tests can force the chunked path with a tiny value.
_EMIT_GROUP_BYTES = 512 * 1024 * 1024


def open_payload(name: str, content, key_b64: str | None, iv_b64: str | None):
    """Open one delivered file: ``(plaintext, chunks)``, where ``plaintext``
    is the decrypted, still-gzipped payload (what the sinks deliver,
    HttpWriter.kt:75) and ``chunks`` iterates its gunzipped text cut at
    newlines, the newline at each cut dropped. A chunk holds at most
    ``_EMIT_GROUP_BYTES``, or one line if that line is longer.

    A NULL or empty input, a malformed key or IV, and a payload that does
    not gunzip each raise a ValueError naming the file: the first
    two here, the last while ``chunks`` is read."""
    try:
        plain = decrypt_payload(content, key_b64, iv_b64)
    except ValueError as e:  # a malformed key or IV (binascii.Error is one)
        raise ValueError(f"{name}: payload does not decrypt ({e})") from e
    if not plain:  # gzip.decompress(b"") == b"": would read as no lines
        raise ValueError(f"{name}: decrypted payload is empty or NULL (no key, content or IV)")
    return plain, _text_chunks(name, plain)


def tolerant_chunks(name: str, content, key_b64: str | None, iv_b64: str | None):
    """All of ``open_payload``'s chunks for one file, read whole so that a
    failure drops every line of it; None if the file does not open."""
    try:
        return list(open_payload(name, content, key_b64, iv_b64)[1])
    except ValueError:
        return None


def _text_chunks(name: str, plain: bytes) -> Iterator[bytes]:
    limit = _EMIT_GROUP_BYTES
    buf = b""
    try:
        with gzip.GzipFile(fileobj=io.BytesIO(plain)) as gz:
            while block := gz.read(limit):
                buf += block
                while len(buf) > limit:
                    cut = buf.rfind(b"\n", 0, limit + 1)
                    if cut < 0:  # a line longer than the limit: cut after it
                        cut = buf.find(b"\n", limit)
                    if cut < 0:  # ... once its end is read
                        break
                    yield buf[:cut]
                    buf = buf[cut + 1 :]
    except (OSError, EOFError, zlib.error) as e:  # wrong key, truncation
        raise ValueError(f"{name}: decrypted payload is not valid gzip ({e})") from e
    yield buf


def decrypt_explode_lines_kernel(batches, tolerant: bool = False):
    """``mapInArrow`` kernel for the delivery parse path: input batches of
    (fileName, topic, content, plaintextKey, iv), output batches of
    (fileName, topic, line) — ``open_payload`` → split lines → drop blank
    lines, all in one Python crossing with the per-line work in C
    (spark_optimization_guide §4.2: hand whole batches to vectorized native
    kernels instead of building per-row Python objects).

    Semantics are EXACTLY the JVM split/trim/explode of the payload text
    (pinned by tests/test_delivery.py::test_parse_records_kernel_matches_expr):

    * payload text = utf-8 decode with errors='replace' (split-then-decode ==
      decode-then-split for '\\n': 0x0A is never a continuation byte, so a
      replacement run can never absorb a newline; the same holds for the
      newline-bounded chunks);
    * lines = split on '\\n' keeping trailing empties (split(payload,'\\n',-1)),
      then keep only lines where length(trim(line)) > 0 — Spark's ``trim``
      strips U+0020 only, which pc.utf8_trim(line, ' ') reproduces;
    * a file ``open_payload`` cannot open (NULL or empty input, bad key,
      not gzip) raises its ValueError naming the file, failing the task; with
      ``tolerant`` the file is skipped whole instead.

    Output batches hold at most ``_EMIT_GROUP_BYTES`` of payload text, or one
    line if a line is longer, so one huge payload emits several batches.

    Why not zero-copy offsets over the decompressed buffer: an Arrow string
    array's single offsets vector makes consecutive strings adjacent in the
    values buffer, and dropping the '\\n' separator bytes breaks adjacency —
    so the C-level ``split_pattern`` (one re-pack of the payload bytes) is the
    floor.
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
            # errors='replace' policy (rare path)
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

    def chunks(*scalars):
        # cryptography's rust binding accepts only `bytes` (a memoryview
        # over the Arrow buffer is rejected) — one copy per payload, noise
        # next to the AES work itself
        cells = [s.as_py() for s in scalars]
        if tolerant:
            return tolerant_chunks(*cells) or []
        return open_payload(*cells)[1]

    for batch in batches:
        fn, tp, content, key, iv = (batch.column(i) for i in range(5))
        texts: list = []
        rows: list = []
        pending = 0
        for i in range(batch.num_rows):
            for chunk in chunks(fn[i], content[i], key[i], iv[i]):
                if pending and pending + len(chunk) > _EMIT_GROUP_BYTES:
                    yield from emit(fn, tp, texts, rows)
                    texts, rows, pending = [], [], 0
                texts.append(chunk)
                rows.append(i)
                pending += len(chunk)
        if texts:
            yield from emit(fn, tp, texts, rows)


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
    ever holds more than one chunk of ``chunk_bytes``; a 50 GB object
    becomes ceil(size/chunk) independent tasks.

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
        import pyarrow as pa

        for batch in batches:
            for idx, off, ln in zip(*(batch.column(i).to_pylist() for i in range(3))):
                plain = ctr_at_offset(range_reader(off, ln), key, iv, off)
                yield pa.RecordBatch.from_arrays(
                    [pa.array([idx]), pa.array([off]), pa.array([plain], pa.binary())],
                    names=["chunk_idx", "offset", "plaintext"],
                )

    return ranges.mapInArrow(
        decrypt_ranges, schema="chunk_idx long, offset long, plaintext binary"
    )
