"""Seeded delivery fixtures for the benchmark, written in the engine's input
layout: ``<input>/<name>.txt.gz.enc`` objects plus ``metadata.sidecar.jsonl``
(fileName, iv, dataKeyEncryptionKeyId, cipherText).

The generator is the benchmark's own, not ``sources.fixtures.generate``: it
records the sha256 of every gzip payload it encrypts, so the verifier can
check each delivered file byte for byte, and it compresses files on a few
threads (zlib and AES release the interpreter lock) so that building the
inputs stays a small, fixed share of set-up time. Only the data-key wrapping
comes from the engine, because ``plans.delivery.key_lookup_local`` must be
able to unwrap it.
"""

from __future__ import annotations

import base64
import gzip
import hashlib
import json
import os
import random
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from cryptography.hazmat.primitives.ciphers import Cipher, algorithms, modes

from snapshot_sender_spark.sources.fixtures import encrypt_data_key

TOPIC = "db.core.claimant"
KEY_ID = "cloudhsm:1,2"
GZIP_LEVEL = 6
GEN_THREADS = 4

# One payload line, the document shape of sources/fixtures.make_record.
_RECORD = (
    '{{"_id": {{"citizenId": "{salt}{f}/{r}"}}, "type": "addressDeclaration", '
    '"contractId": "c{f:04d}{r:06d}", '
    '"addressNumber": {{"type": "AddressNumber", "cryptoId": "crypto{r}"}}, '
    '"addressLine2": null, "townCity": {{"type": "TownCity", "cryptoId": "town{r}"}}, '
    '"postcode": "SM5 {pc}LF", "processId": "p{r:08d}", '
    '"effectiveDate": {{"type": "SPECIFIC_EFFECTIVE_DATE", "date": 20150320, '
    '"knownDate": 20150320}}, '
    '"paymentEffectiveDate": {{"type": "SPECIFIC_EFFECTIVE_DATE", "date": 20150320, '
    '"knownDate": 20150320}}, "createdDateTime": {{"$date": "2015-03-20T12:23:25.183Z"}}, '
    '"_lastModifiedDateTime": {{"$date": "2018-12-14T15:01:02.000+0000"}}, "_version": {v}}}\n'
)


@dataclass
class DeliveryFixture:
    input_dir: str
    records: dict[str, int]  # object name -> records in its payload
    valid: list[str]  # object names that pass the filename grammar
    invalid: list[str]  # object names designed to fail it (rejects path)
    sha256: dict[str, str]  # object name -> sha256 of its gzip payload
    enc_bytes: dict[str, int]  # object name -> encrypted size

    @staticmethod
    def output_name(name: str) -> str:
        """The sink's name for a delivered object (text.rename_output)."""
        return name[: -len(".enc")].replace(".txt.gz", ".json.gz")


def _payload(f: int, records: int, salt: str, pc: int, version: int) -> bytes:
    text = "".join(
        _RECORD.format(salt=salt, f=f, r=r, pc=(r + pc) % 10, v=version)
        for r in range(records)
    )
    return gzip.compress(text.encode(), compresslevel=GZIP_LEVEL, mtime=0)


def _encrypt(data: bytes, key: bytes, iv: bytes) -> bytes:
    enc = Cipher(algorithms.AES(key), modes.CTR(iv)).encryptor()
    return enc.update(data) + enc.finalize()


def generate(root: str, sizes: list[int], seed: int, invalid_every: int = 0) -> DeliveryFixture:
    """Write one object per entry of ``sizes`` (its record count) under
    ``root/input``. Every ``invalid_every``-th object (if non-zero) gets a
    name that fails the filename grammar. Equal arguments give byte-identical
    files."""
    rng = random.Random(seed)
    input_dir = os.path.join(root, "input")
    os.makedirs(input_dir)
    data_key = rng.randbytes(32)
    cipher_text = encrypt_data_key(data_key)
    specs = []
    for f, records in enumerate(sizes, start=1):
        bad = invalid_every and f % invalid_every == 0
        name = (
            f"{TOPIC}_unsplit_{f:06d}.txt.gz.enc" if bad else f"{TOPIC}-045-050-{f:06d}.txt.gz.enc"
        )
        salt = f"{rng.getrandbits(24):06x}-"
        specs.append(
            (f, name, records, salt, rng.randrange(10), rng.randrange(1, 9), rng.randbytes(16))
        )

    def write(spec):
        f, name, records, salt, pc, version, iv = spec
        gz = _payload(f, records, salt, pc, version)
        enc = _encrypt(gz, data_key, iv)
        with open(os.path.join(input_dir, name), "wb") as fh:
            fh.write(enc)
        return name, hashlib.sha256(gz).hexdigest(), len(enc)

    with ThreadPoolExecutor(GEN_THREADS) as pool:
        written = list(pool.map(write, specs))
    with open(os.path.join(input_dir, "metadata.sidecar.jsonl"), "w") as fh:
        for _f, name, _records, _salt, _pc, _v, iv in specs:
            row = {
                "fileName": name,
                "iv": base64.b64encode(iv).decode(),
                "dataKeyEncryptionKeyId": KEY_ID,
                "cipherText": cipher_text,
            }
            fh.write(json.dumps(row) + "\n")
    invalid = [n for n, *_ in written if "_unsplit_" in n]
    return DeliveryFixture(
        input_dir=input_dir,
        records={name: records for _, name, records, *_ in specs},
        valid=[n for n, *_ in written if "_unsplit_" not in n],
        invalid=invalid,
        sha256={n: h for n, h, _ in written},
        enc_bytes={n: size for n, _, size in written},
    )


def mark_finished(status_dir: str, names: list[str]) -> None:
    """Write the ``.finished`` markers the sink would have left for ``names``."""
    os.makedirs(status_dir, exist_ok=True)
    for name in names:
        with open(os.path.join(status_dir, name + ".finished"), "w") as fh:
            fh.write(f"Finished {name}")
