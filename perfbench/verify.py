"""Output checks for every operation the benchmark times.

A delivery job is correct when its counts are exact, every delivered file is
byte-identical to the gzip payload the fixture encrypted, every delivered
file has its ``.finished`` marker, and exactly the designed bad names went to
rejects. A headline query is correct when its row count and order-insensitive
row digest equal those of its DuckDB oracle.
"""

from __future__ import annotations

import hashlib
import os

COMPLETED = "COMPLETED_SUCCESSFULLY"


def _sha256(path: str) -> str:
    with open(path, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()


def delivery_problems(report, fixture, expected: list[str], output_dir: str, status_dir: str):
    """Everything wrong with one delivery job, as readable lines (empty when
    correct). ``expected`` names the objects the job should deliver."""
    problems = []
    want = {
        "files_delivered": len(expected),
        "records_parsed": sum(fixture.records[n] for n in expected),
        "rejected": len(fixture.invalid),
        "blocked": 0,
        "collection_status": "Sent",
        "completion_status": COMPLETED,
    }
    for field, value in want.items():
        got = getattr(report, field)
        if got != value:
            problems.append(f"{field}: got {got!r}, want {value!r}")

    outputs = {fixture.output_name(n): n for n in expected}
    present = {n for n in os.listdir(output_dir) if n.endswith(".json.gz")}
    for name in sorted(present - outputs.keys()):
        problems.append(f"unexpected output {name}")
    for out_name, name in sorted(outputs.items()):
        if out_name not in present:
            problems.append(f"missing output {out_name}")
        elif _sha256(os.path.join(output_dir, out_name)) != fixture.sha256[name]:
            problems.append(f"output {out_name} differs from its payload")
        if not os.path.exists(os.path.join(status_dir, name + ".finished")):
            problems.append(f"missing marker for {name}")
    return problems


def query_problems(name: str, observed: tuple[int, int], oracle: tuple[int, int]) -> list[str]:
    """Compare one query's (row count, row digest) with its oracle's."""
    if observed[0] != oracle[0]:
        return [f"{name}: {observed[0]} rows, oracle has {oracle[0]}"]
    if observed[1] != oracle[1]:
        return [f"{name}: row digest differs from the oracle's"]
    return []


def written(fixture, names: list[str], output_dir: str, status_dir: str) -> tuple[int, int]:
    """(files, bytes) the sink wrote for ``names``: payloads plus markers."""
    files = total = 0
    for name in names:
        for path in (
            os.path.join(output_dir, fixture.output_name(name)),
            os.path.join(status_dir, name + ".finished"),
        ):
            if os.path.exists(path):
                files += 1
                total += os.path.getsize(path)
    return files, total
