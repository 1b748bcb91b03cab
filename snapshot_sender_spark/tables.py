"""Loaders for the driver-provided testdata tables (TESTDATA.md / FIXTURES.md §B)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _pin_session_confs(spark: SparkSession) -> None:
    """Correctness-critical dynamic confs, pinned here because the verifying
    driver builds its own SparkSession: UTC session timezone (timestamps must
    canonicalize identically to DuckDB's UTC-naive values) and Arrow for the
    pandas-UDF crossings."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")


# (sf_dir, name) -> (session, fingerprint, analyzed base DataFrame). A
# DataFrame here is an immutable LOGICAL PLAN handle, not data: memoizing it
# skips the repeated `spark.read.parquet` footer/schema round trip
# (~100-140 ms per call measured on local[32] — the dominant cost of building
# a multi-table query), while every execution still scans the parquet files.
# A hit requires (a) the cached entry's session to BE (identity) the caller's
# session — two live sessions can never alias, and a handle bound to a
# stopped session is simply replaced the next time the table is loaded from a
# new session — and (b) an unchanged filesystem FINGERPRINT of the table path
# (r14: one os.stat per file / one scandir per directory per hit, the same
# revalidation sources/listing.py applies — removes the previous "testdata is
# read-only" assumption; a mutated table forces a fresh reader).
_LOAD_CACHE: dict[tuple[str, str], tuple[SparkSession, tuple, DataFrame]] = {}


def _table_fingerprint(path: str) -> tuple | None:
    """(mtime_ns, size) for a parquet file, or the sorted entries of a parquet
    directory — (name, mtime_ns, size) per file, (name, <its entries>) per
    subdirectory, so a nested partition file changed in place is seen too;
    None when unstatable (never matches, so the reader is rebuilt and raises
    its own error)."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not os.path.isdir(path):
        return (st.st_mtime_ns, st.st_size)
    try:
        return _dir_fingerprint(path)
    except OSError:
        return None


def _dir_fingerprint(path: str) -> tuple:
    # DirEntry.is_dir() answers from the directory listing on Linux, so a
    # flat directory costs one scandir and one stat per file, as before
    with os.scandir(path) as it:
        return tuple(
            sorted(
                (e.name, _dir_fingerprint(e.path))
                if e.is_dir()
                else (e.name, e.stat().st_mtime_ns, e.stat().st_size)
                for e in it
            )
        )


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    key = (sf_dir, name)
    fp = _table_fingerprint(os.path.join(sf_dir, f"{name}.parquet"))
    cached = _LOAD_CACHE.get(key)
    if cached is not None and cached[0] is spark and fp is not None and cached[1] == fp:
        return cached[2]
    _pin_session_confs(spark)
    df = _load_uncached(spark, sf_dir, name)
    if len(_LOAD_CACHE) >= 512:
        _LOAD_CACHE.clear()
    _LOAD_CACHE[key] = (spark, fp, df)
    return df


def _load_uncached(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # events.parquet has stored ts either as TIMESTAMP(NANOS) (which the
        # Spark parquet reader rejects unless read as long and converted) or,
        # in newer generations, as plain TIMESTAMP(MICROS). Handle both.
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        raw = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        if isinstance(raw.schema["ts"].dataType, T.LongType):
            raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(raw.schema["ts"].dataType, T.TimestampNTZType):
            # session tz is pinned UTC, so this cast is value-preserving; it
            # keeps every downstream query's output type stable (TIMESTAMP)
            raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
        return raw
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view (for the SQL API surface)."""
    for name in TABLE_NAMES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)


# (sf_dir, name) -> (session, base DataFrame, view name). Supports the
# SQL-text query builders (r14, guide §1.2 driver-side constants): a builder
# that assembles its plan through the Column API pays one py4j round trip
# (~0.1-0.2 ms synchronous socket latency) per helper call — 300-900 trips
# for the multi-join headline queries, i.e. most of their construction time.
# Building the SAME plan as one spark.sql() text costs a handful of trips.
# The view is re-registered only when `load` hands back a different handle
# (new session, or the table file changed under the fingerprint memo), so a
# warm hit costs zero py4j traffic. View names carry a per-sf_dir tag so two
# tiers in one session never alias.
_VIEW_CACHE: dict[tuple[str, str], tuple[SparkSession, DataFrame, str]] = {}
_SFDIR_TAG: dict[str, str] = {}


def view(spark: SparkSession, sf_dir: str, name: str) -> str:
    """Return the temp-view name of ``load(spark, sf_dir, name)``, registering
    (or re-registering, when the underlying handle changed) on demand."""
    df = load(spark, sf_dir, name)
    key = (sf_dir, name)
    cached = _VIEW_CACHE.get(key)
    if cached is not None and cached[0] is spark and cached[1] is df:
        return cached[2]
    tag = _SFDIR_TAG.setdefault(sf_dir, str(len(_SFDIR_TAG)))
    vname = f"ssp_{name}_{tag}"
    df.createOrReplaceTempView(vname)
    if len(_VIEW_CACHE) >= 512:
        _VIEW_CACHE.clear()
    _VIEW_CACHE[key] = (spark, df, vname)
    return vname
