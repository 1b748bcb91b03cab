"""Small shared utilities."""

from __future__ import annotations

import os
import shutil
import tempfile
from collections.abc import Callable, Hashable


def write_once(final_dir: str, write_fn: Callable[[str], None], probe: str | None = None) -> None:
    """Build a cached directory exactly once, concurrency- and crash-safe:
    write into a UNIQUE temp sibling (mkdtemp — concurrent writers never share
    a tmp path), then atomically rename into place; losing the rename race is
    benign. ``probe`` is the completeness marker to check (e.g. a Spark
    ``_SUCCESS`` file); defaults to the directory itself, which is only safe
    when the directory appears atomically via this helper's rename."""
    probe = probe or final_dir
    if os.path.exists(probe):
        return
    if os.path.isdir(final_dir):  # exists but incomplete (stale half-write) → rebuild
        shutil.rmtree(final_dir, ignore_errors=True)
    parent = os.path.dirname(final_dir) or "."
    tmp = tempfile.mkdtemp(prefix=os.path.basename(final_dir) + ".", dir=parent)
    try:
        # write_fn gets a path INSIDE tmp so os.replace moves a fully-built dir
        target = os.path.join(tmp, "d")
        write_fn(target)
        try:
            os.replace(target, final_dir)
        except OSError:
            if not os.path.exists(probe):  # lost a benign race?
                raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def write_atomic(path: str, data: bytes, nonce: str) -> None:
    """Per-attempt tmp file + ``os.replace``: duplicate (speculative) attempts
    of a partition run concurrently, and a shared tmp path would let one
    truncate the other's file mid-rename; this way the last writer wins over
    identical content."""
    tmp = f"{path}.{nonce}.tmp"
    with open(tmp, "wb") as fh:
        fh.write(data)
    os.replace(tmp, path)


def local_strings_df(spark, rows, colnames):
    """Small driver-side string table as a SQL VALUES LocalRelation.

    ``spark.createDataFrame(list_of_tuples)`` plans a *pickled-RDD scan* whose
    every materialization (e.g. each broadcast-hash build in a re-executed
    plan) runs a Python-worker deserialization stage — measured ~0.1-0.3 s of
    pure overhead per execution (r13 §6 floor numbers). A VALUES clause
    analyzes to a LocalTableScan: rows live in the plan, the broadcast builds
    JVM-side, no Python stage exists. Intended for control-plane tables (a
    handful of rows), not data.

    ``rows`` is a list of tuples of ``str | None``. An EMPTY rows list yields
    an empty relation with the right column names (string type). Values are
    embedded as escaped literals — backslash-escape of ``\\`` and ``'`` covers
    Spark's default literal parsing (round-trip pinned by
    tests/test_delivery.py::test_local_strings_df_roundtrip).
    """
    # the backslash-escape below is only correct under the default parser
    # mode; with the legacy spark.sql.parser.escapedStringLiterals=true a
    # value containing a quote would terminate the literal early (SQL-text
    # injection into the VALUES clause) — refuse loudly instead.
    # (parameterized SQL is not an option: positional `?` binding inside a
    # multi-row VALUES returns TRANSPOSED rows on Spark 4.1 — r13 finding)
    legacy = spark.conf.get("spark.sql.parser.escapedStringLiterals", "false")
    if str(legacy).lower() == "true":
        raise ValueError(
            "local_strings_df requires spark.sql.parser.escapedStringLiterals=false "
            "(default): its literal escaping is unsound under the legacy parser mode"
        )
    cols = ", ".join(colnames)
    if not rows:
        # one dummy row, folded away by LIMIT 0 (empty VALUES is a parse error)
        dummy = ", ".join("''" for _ in colnames)
        return spark.sql(f"SELECT * FROM VALUES ({dummy}) AS t({cols}) LIMIT 0")

    def esc(v):
        if v is None:
            return "CAST(NULL AS STRING)"
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"

    values = ", ".join("(" + ", ".join(esc(c) for c in r) + ")" for r in rows)
    return spark.sql(f"SELECT * FROM VALUES {values} AS t({cols})")


# DataFrame-independent Column expression trees, memoized per JVM gateway
# (r14, guide §1.2 driver-side constants): a Column is an immutable handle on
# an UNRESOLVED expression — it binds to whatever DataFrame it is later used
# with — but BUILDING one pays a synchronous py4j round trip per helper call
# (F.when/F.concat/...). Builders that assemble large expression trees every
# lap (the URL-canonicalization family spends ~2-4k trips per build) can
# build them once per JVM and reuse. Keyed on the py4j gateway object
# (identity-checked), so a restarted JVM can never see stale handles.
_EXPR_CACHE: dict = {}


def session_exprs(spark, key: Hashable, build: Callable[[], tuple]):
    """Return ``build()``'s tuple of Columns, memoized per (JVM gateway, key).
    Keys that carry column names are tuples, so no two name lists collide."""
    gw = spark.sparkContext._gateway
    hit = _EXPR_CACHE.get(key)
    if hit is not None and hit[0] is gw:
        return hit[1]
    cols = build()
    if len(_EXPR_CACHE) >= 256:
        _EXPR_CACHE.clear()
    _EXPR_CACHE[key] = (gw, cols)
    return cols
