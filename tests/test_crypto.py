import base64
import gzip
import os

import pytest

from snapshot_sender_spark.functions import crypto
from snapshot_sender_spark.functions.crypto import (
    _ctr_transform,
    ctr_at_offset,
    empty_gzip,
)


def test_ctr_roundtrip():
    key = os.urandom(32)
    iv = os.urandom(16)
    data = b"hello world" * 1000
    assert _ctr_transform(_ctr_transform(data, key, iv), key, iv) == data


def test_ctr_seek_matches_full_decrypt():
    key = bytes(range(32))
    iv = bytes(range(16))
    data = bytes(range(256)) * 33  # not block aligned
    full = _ctr_transform(data, key, iv)
    for off in (0, 1, 15, 16, 17, 100, 255):
        assert ctr_at_offset(full[off:], key, iv, off) == data[off:]


def test_ctr_counter_wraparound():
    key = bytes(range(32))
    iv = b"\xff" * 16  # counter at max → wraps within the stream
    data = os.urandom(64)
    assert _ctr_transform(_ctr_transform(data, key, iv), key, iv) == data


def test_parse_records_roundtrip(spark, tmp_path):
    """An AES-CTR encrypted gzip payload, read from its path, decrypts and
    gunzips back to its lines through Spark (``parse_records``' one
    mapInArrow crossing)."""
    from snapshot_sender_spark.plans import delivery

    key = os.urandom(32)
    iv = os.urandom(16)
    payload = b'{"a": 1}\n{"a": 2}\n'
    enc = _ctr_transform(gzip.compress(payload), key, iv)
    path = tmp_path / "f.enc"
    path.write_bytes(enc)
    df = spark.createDataFrame(
        [("f.enc", "t", str(path), len(enc),
          base64.b64encode(key).decode(), base64.b64encode(iv).decode())],
        "fileName string, topic string, path string, length long, plaintextKey string, iv string",
    )
    out = delivery.parse_records(df).collect()
    assert [r["line"] for r in out] == ['{"a": 1}', '{"a": 2}']
    assert {r["fileName"] for r in out} == {"f.enc"}


def test_open_payload_roundtrip():
    """``open_payload`` returns the decrypted gzip bytes unchanged and their
    text in chunks that rejoin, at the newlines cut, to the original."""
    key, iv = os.urandom(32), os.urandom(16)
    text = b"abc" * 100 + b"\n" + b"def\n" * 50
    plain = gzip.compress(text)
    enc = _ctr_transform(plain, key, iv)
    k64, iv64 = base64.b64encode(key).decode(), base64.b64encode(iv).decode()
    got, chunks = crypto.open_payload("f.enc", enc, k64, iv64)
    assert got == plain
    assert b"\n".join(chunks) == text

    with pytest.raises(ValueError, match="^f.enc: decrypted payload is empty or NULL"):
        crypto.open_payload("f.enc", enc, None, iv64)
    with pytest.raises(ValueError, match="^f.enc: payload does not decrypt"):
        crypto.open_payload("f.enc", enc, "not base64!", iv64)
    _, chunks = crypto.open_payload("f.enc", enc, base64.b64encode(os.urandom(32)).decode(), iv64)
    with pytest.raises(ValueError, match="^f.enc: decrypted payload is not valid gzip"):
        list(chunks)


def test_empty_gzip_is_valid_and_empty():
    assert gzip.decompress(empty_gzip()) == b""


def test_builtin_aes_cbc_roundtrip_and_cross_check(spark):
    """Spark's built-in aes_encrypt/aes_decrypt (CBC/PKCS with explicit IV —
    deterministic, unlike the random-IV default) round-trips and its
    ciphertext matches the cryptography library bit-for-bit; try_aes_decrypt
    returns NULL on garbage instead of failing the job (the reference's
    permanent-error routing, HttpKeyService.kt:61-70). CTR itself is NOT
    offered by the built-in — the custom UDF in functions/crypto.py exists
    precisely for that gap (SURVEY.md §2B crypto row)."""
    from cryptography.hazmat.primitives.ciphers import Cipher, algorithms, modes
    from cryptography.hazmat.primitives.padding import PKCS7

    key = b"0123456789abcdef0123456789abcdef"
    iv = b"ABCDEF0123456789"
    plaintext = b'{"rec": 1}'

    df = spark.createDataFrame([(plaintext, key, iv)], "pt binary, key binary, iv binary")
    row = df.selectExpr(
        "aes_encrypt(pt, key, 'CBC', 'PKCS', iv) AS ct",
        "aes_decrypt(aes_encrypt(pt, key, 'CBC', 'PKCS', iv), key, 'CBC', 'PKCS') AS rt",
        "try_aes_decrypt(X'00112233445566', key, 'CBC', 'PKCS') AS bad",
    ).first()
    assert bytes(row["rt"]) == plaintext
    assert row["bad"] is None

    padder = PKCS7(128).padder()
    padded = padder.update(plaintext) + padder.finalize()
    enc = Cipher(algorithms.AES(key), modes.CBC(iv)).encryptor()
    expected = enc.update(padded) + enc.finalize()
    # Spark prepends the IV to CBC output
    assert bytes(row["ct"]) == iv + expected


def test_chunked_decrypt_reassembles_large_object(spark, tmp_path):
    """One large AES-CTR object decrypted as independent range tasks must
    reassemble byte-identical to a whole-object decrypt, including chunk
    boundaries that fall mid-AES-block (chunk size not a multiple of 16)."""
    import base64 as b64
    import os

    from snapshot_sender_spark.functions.crypto import (
        _ctr_transform,
        chunked_decrypt,
        local_range_reader,
    )

    key = bytes(range(32))
    iv = bytes(range(16))
    plain = os.urandom(1_000_003)  # prime-ish size: last chunk is ragged
    cipher = _ctr_transform(plain, key, iv)
    path = str(tmp_path / "big.enc")
    with open(path, "wb") as f:
        f.write(cipher)

    out = chunked_decrypt(
        spark,
        size_bytes=len(cipher),
        key_b64=b64.b64encode(key).decode(),
        iv_b64=b64.b64encode(iv).decode(),
        range_reader=local_range_reader(path),
        chunk_bytes=65_537,  # not a multiple of 16 → intra-block seeks
    )
    rows = sorted(out.collect(), key=lambda r: r["chunk_idx"])
    assert len(rows) == -(-len(cipher) // 65_537)
    assert all(r["offset"] == i * 65_537 for i, r in enumerate(rows))
    assert b"".join(bytes(r["plaintext"]) for r in rows) == plain
