"""Structured Streaming surface: file-replayed event streams with windowed
aggregations, watermarks, streaming dedup, and custom state.

Motivation (SURVEY.md §2B "Streaming"): the reference's run-long incremental
counters (DynamoDBExportStatusService.kt:38-44) and periodic metric emission
(PushGatewayServiceImpl.kt:22-26) are a streaming aggregation; here it's the
general surface: tumbling/sliding/session windows + watermark late-data policy.

Test hermeticity: streams replay the driver's events.parquet through the file
source with Trigger.AvailableNow and a memory sink — synchronous and
deterministic. At scale the same plans read Kafka; nothing in the plan changes
except the source format.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _events_stream_dir(sf_dir: str) -> str:
    """The file-stream source wants a directory; expose the single parquet file
    through a stable symlink dir (per sf_dir, reused across calls)."""
    import hashlib
    import os
    import tempfile

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    target = os.path.join(sf_dir, "events.parquet")
    if os.path.isdir(target):
        # multi-file table: the directory itself is a valid stream source
        # (the symlink indirection exists only for single-file testdata —
        # a top-level symlink to a DIRECTORY is skipped by the file source)
        return target
    d = os.path.join(tempfile.gettempdir(), f"events_stream_{tag}")
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, "events.parquet")
    # Concurrent sessions race on the same link (TOCTOU); a stale link can
    # also point at a moved sf_dir. Validate, then create tolerating the race.
    if os.path.islink(link) and os.readlink(link) != target:
        os.remove(link)
    if not os.path.exists(link):
        try:
            os.symlink(target, link)
        except FileExistsError:
            pass  # another session won the race with the same target
    return d


# (sf_dir) -> (session, raw events schema): the batch-side schema probe is a
# footer read (~100-250 ms via spark.read.parquet); the schema of the
# read-only fixture cannot change within a session, so memoize it the same
# way tables._LOAD_CACHE memoizes plan handles (identity-checked session).
_EVENTS_SCHEMA_CACHE: dict[str, tuple[SparkSession, object]] = {}


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    # nanos→micros conversion as in tables.load (the conf is set there);
    # newer testdata generations store ts as TIMESTAMP(MICROS) directly.
    from pyspark.sql import types as T

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    cached = _EVENTS_SCHEMA_CACHE.get(sf_dir)
    if cached is not None and cached[0] is spark:
        schema = cached[1]
    else:
        schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
        _EVENTS_SCHEMA_CACHE[sf_dir] = (spark, schema)
    stream = (
        spark.readStream.schema(schema)
        .format("parquet")
        .load(_events_stream_dir(sf_dir))
    )
    if isinstance(schema["ts"].dataType, T.LongType):
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(schema["ts"].dataType, T.TimestampNTZType):
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


ROCKSDB_PROVIDER = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"


def run_to_memory(
    stream_df: DataFrame,
    output_mode: str,
    state_partitions: int = 2,
    state_store: str | None = None,
) -> DataFrame:
    """Drive a streaming DataFrame to completion (AvailableNow) into a memory
    sink; return the materialized result as a batch DataFrame.

    Stateful operators allocate one state store per shuffle partition; for
    file-replay micro-batches the store init dominates wall time, so the
    query runs with a reduced stateful shuffle width (results are partition-
    count independent; r13 sweeps on local[32], min-of-4 wall-clock:
    width 1 0.59s ≤ width 2 0.62s < width 4 0.76s < width 8 < width 16 —
    per-store init/commit dominates at this tier; 2 keeps multi-partition
    state machinery exercised while shedding most of that overhead).
    The conf is restored afterwards — on a real cluster state width is sized
    to the key space, not trimmed.

    ``state_store='rocksdb'`` runs the query on the RocksDB state store
    provider — the 100 TB configuration: state lives off-heap/on-disk per
    partition instead of in the executor heap, so key cardinality is bounded
    by disk, not memory (provider instantiation fails loudly if the class is
    unavailable, so a green run proves the provider was active)."""
    spark = stream_df.sparkSession
    name = f"stream_{uuid.uuid4().hex[:12]}"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    prev_provider = spark.conf.get(provider_key, None)
    nodata_key = "spark.sql.streaming.noDataMicroBatches.enabled"
    prev_nodata = spark.conf.get(nodata_key, None)
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
        if state_store == "rocksdb":
            spark.conf.set(provider_key, ROCKSDB_PROVIDER)
        if output_mode == "complete":
            # the trailing NO-DATA micro-batch exists to advance the watermark
            # so append/update sinks can flush expired state; a complete-mode
            # drive re-emits the whole (unchanged) result table from identical
            # state — same rows, one extra planning+WAL+commit cycle (~0.1 s
            # measured, r13). Scoped strictly to complete mode: append/update
            # drives keep the extra batch (their final windows NEED it).
            spark.conf.set(nodata_key, "false")
        q = (
            stream_df.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        if state_store == "rocksdb":
            if prev_provider:
                spark.conf.set(provider_key, prev_provider)
            else:
                spark.conf.unset(provider_key)
        if output_mode == "complete":
            if prev_nodata is not None:
                spark.conf.set(nodata_key, prev_nodata)
            else:
                spark.conf.unset(nodata_key)
    # The analyzed plan holds the memory sink itself, not the view name, so
    # the result outlives its view; dropping it keeps the session catalog
    # from gaining one result table per call.
    result = spark.table(name)
    spark.catalog.dropTempView(name)
    return result


def tumbling_counts(events: DataFrame, width: str = "6 hours") -> DataFrame:
    """Tumbling-window aggregate (exact decimal sums — see queries/__init__)."""
    return (
        events.groupBy(F.window("ts", width), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def sliding_counts(events: DataFrame, width: str = "2 hours", slide: str = "1 hour") -> DataFrame:
    return (
        events.groupBy(F.window("ts", width, slide))
        .agg(F.count("*").alias("n"))
        .select(F.col("window.start").alias("window_start"), "n")
    )


def session_counts(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Session windows per user (gap-based). Works identically as a batch
    aggregation — the session assignment is the operator; streaming adds the
    watermark-driven state cleanup."""
    return (
        events.groupBy("user_id", F.session_window("ts", gap))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


def streaming_dedup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dropDuplicates: the input is the event stream unioned with
    itself (every event twice); exact-once output proves the dedup state."""
    s1 = read_events_stream(spark, sf_dir)
    s2 = read_events_stream(spark, sf_dir)
    deduped = s1.union(s2).dropDuplicates(["event_id"])
    out = run_to_memory(deduped, "append")
    return out.groupBy("event_type").agg(F.count("*").alias("n"))
