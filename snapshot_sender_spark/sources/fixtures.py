"""Deterministic generator of reference-shaped encrypted snapshot fixtures.

Reproduces the semantics of the reference's integration fixture
(resources/aws/s3_files.py:15-84): for each file, JSON-Lines of Mongo-style
documents → gzip → AES/CTR encrypt with a per-run data key; the key itself is
stored "encrypted" (here: XOR with a fixed master key, base64) next to an IV and
a key-id — the same metadata triple the reference reads from S3 user metadata
(S3DirectoryReader.kt:86-98).

Local layout (stands in for the S3 prefix + user metadata):
    <root>/input/<topic>-045-050-NNNNNN.txt.gz.enc     encrypted objects
    <root>/input/metadata.sidecar.jsonl                        one JSON row per object:
        {fileName, iv, dataKeyEncryptionKeyId, cipherText}
    <root>/status/...                                   .finished markers (delivery writes)

At 100 TB this layout maps 1:1 onto S3: the objects are read one GET each
by the sink's tasks and the metadata rows come from a driver-side
paginated listing (see listing.py).
"""

from __future__ import annotations

import base64
import gzip
import io
import json
import os
import random
from dataclasses import dataclass

MASTER_KEY = bytes(range(32))  # fixture-only "DKS" master key


def _xor_master(key: bytes) -> bytes:
    return bytes(a ^ b for a, b in zip(key, MASTER_KEY))


def encrypt_data_key(plaintext_key: bytes) -> str:
    return base64.b64encode(_xor_master(plaintext_key)).decode()


def decrypt_data_key(ciphertext_b64: str) -> str:
    """The local stand-in for the DKS decrypt call (HttpKeyService.kt:53-84).
    Returns the base64 plaintext data key."""
    return base64.b64encode(_xor_master(base64.b64decode(ciphertext_b64))).decode()


def make_record(file_no: int, record_no: int) -> dict:
    """One Mongo-style payload document (shape: s3_files.py:40-75)."""
    return {
        "_id": {"citizenId": f"{file_no}/{record_no}"},
        "type": "addressDeclaration",
        "contractId": f"c{file_no:04d}{record_no:06d}",
        "addressNumber": {"type": "AddressNumber", "cryptoId": f"crypto{record_no}"},
        "addressLine2": None,
        "townCity": {"type": "TownCity", "cryptoId": f"town{record_no}"},
        "postcode": f"SM5 {record_no % 10}LF",
        "processId": f"p{record_no:08d}",
        "effectiveDate": {"type": "SPECIFIC_EFFECTIVE_DATE", "date": 20150320, "knownDate": 20150320},
        "paymentEffectiveDate": {
            "type": "SPECIFIC_EFFECTIVE_DATE",
            "date": 20150320,
            "knownDate": 20150320,
        },
        "createdDateTime": {"$date": "2015-03-20T12:23:25.183Z"},
        "_lastModifiedDateTime": {"$date": "2018-12-14T15:01:02.000+0000"},
        "_version": 2,
    }


@dataclass
class Fixture:
    root: str
    input_dir: str
    status_dir: str
    output_dir: str
    topic: str
    n_files: int
    records_per_file: int
    data_key_id: str
    files: list[str]


def generate(
    root: str,
    topic: str = "db.core.claimant",
    n_files: int = 10,
    records_per_file: int = 100,
    seed: int = 42,
    data_key_id: str = "cloudhsm:1,2",
) -> Fixture:
    rng = random.Random(seed)
    input_dir = os.path.join(root, "input")
    status_dir = os.path.join(root, "status")
    output_dir = os.path.join(root, "output")
    for d in (input_dir, status_dir, output_dir):
        os.makedirs(d, exist_ok=True)

    data_key = bytes(rng.randrange(256) for _ in range(32))
    cipher_text = encrypt_data_key(data_key)

    meta_rows = []
    files = []
    from ..functions.crypto import _ctr_transform

    for f in range(1, n_files + 1):
        name = f"{topic}-045-050-{f:06d}.txt.gz.enc"
        lines = "".join(
            json.dumps(make_record(f, r), separators=(", ", ": ")) + "\n"
            for r in range(records_per_file)
        )
        buf = io.BytesIO()
        with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
            gz.write(lines.encode())
        iv = bytes(rng.randrange(256) for _ in range(16))
        enc = _ctr_transform(buf.getvalue(), data_key, iv)
        with open(os.path.join(input_dir, name), "wb") as fh:
            fh.write(enc)
        meta_rows.append(
            {
                "fileName": name,
                "iv": base64.b64encode(iv).decode(),
                "dataKeyEncryptionKeyId": data_key_id,
                "cipherText": cipher_text,
            }
        )
        files.append(name)

    with open(os.path.join(input_dir, "metadata.sidecar.jsonl"), "w") as fh:
        for row in meta_rows:
            fh.write(json.dumps(row) + "\n")

    return Fixture(
        root=root,
        input_dir=input_dir,
        status_dir=status_dir,
        output_dir=output_dir,
        topic=topic,
        n_files=n_files,
        records_per_file=records_per_file,
        data_key_id=data_key_id,
        files=files,
    )
