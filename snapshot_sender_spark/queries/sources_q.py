"""Source/format coverage (SURVEY.md §2B "Scans/sources" + "Sinks"): CSV and
gzip JSON-Lines round-trips through real write→scan cycles (schema-explicit,
no inference in the scan path), to_json serialization, and the stream-static
join. Oracles read the original parquet — a lossless round-trip must match."""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..tables import load
from . import query
from .relational import SQL_DSUM, _money


def _roundtrip_dir(sf_dir: str, fmt: str) -> str:
    import hashlib

    tag = hashlib.md5(f"{sf_dir}:{fmt}".encode()).hexdigest()[:8]
    return os.path.join(tempfile.gettempdir(), f"source_rt_{fmt}_{tag}")


def _write_once(final_dir: str, write_fn) -> None:
    """Concurrency/crash-safe cached write (unique tmp + atomic rename);
    probes Spark's _SUCCESS marker so a pre-existing half-written cache is
    rebuilt rather than trusted."""
    from ..util import write_once

    write_once(final_dir, write_fn, probe=os.path.join(final_dir, "_SUCCESS"))


@query(
    "source_csv_roundtrip",
    oracle=f"""
    SELECT s_nationkey, COUNT(*) AS n, {SQL_DSUM('s_acctbal')} AS total_bal
    FROM supplier GROUP BY s_nationkey
    """,
    category="source",
)
def source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """supplier → CSV (header, explicit schema back) → aggregate. The scan uses
    an explicit schema — no inference pass at scale."""
    d = _roundtrip_dir(sf_dir, "csv")
    _write_once(
        d,
        lambda tmp: load(spark, sf_dir, "supplier")
        .write.mode("overwrite")
        .option("header", True)
        .csv(tmp),
    )
    schema = T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    )
    s = spark.read.schema(schema).option("header", True).csv(d)
    return s.groupBy("s_nationkey").agg(
        F.count("*").alias("n"),
        F.sum(_money(F.col("s_acctbal"))).cast("double").alias("total_bal"),
    )


@query(
    "source_avro_roundtrip",
    oracle=f"""
    SELECT s_nationkey, COUNT(*) AS n, {SQL_DSUM('s_acctbal')} AS total_bal,
           CAST(COUNT(*) FILTER (WHERE s_suppkey % 7 = 0) AS BIGINT) AS n_commented
    FROM supplier GROUP BY s_nationkey
    """,
    category="source",
)
def source_avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """supplier → AVRO object container files (deflate codec) → distributed
    range-split scan → aggregate. Neither the spark-avro jar nor a Python
    avro package is in the image, so both halves are the repo's pure-spec
    implementation (functions/avro_codec.py + the ``avrofile`` Python
    DataSource): the scan cuts each file into byte-range partitions and
    finds block starts by sync-marker scan — the real Avro split algorithm,
    so giant files fan out across tasks (exactly-once coverage pinned in
    tests/test_avro.py). A nullable-union column exercises the ["null", T]
    branch encoding. The fixture writer is driver-side by design (fixture
    generation, cached once); the SCAN is the distributed operator."""
    from ..functions import avro_codec
    from ..sources import avro_pyds

    d = _roundtrip_dir(sf_dir, "avro")
    schema = {
        "type": "record",
        "name": "supplier",
        "fields": [
            {"name": "s_suppkey", "type": "long"},
            {"name": "s_name", "type": "string"},
            {"name": "s_nationkey", "type": "int"},
            {"name": "s_acctbal", "type": "double"},
            # nullable union: every 7th supplier carries a comment
            {"name": "s_comment", "type": ["null", "string"]},
        ],
    }

    def write_fixture(tmp: str) -> None:
        rows = [
            {
                "s_suppkey": r["s_suppkey"],
                "s_name": r["s_name"],
                "s_nationkey": r["s_nationkey"],
                "s_acctbal": r["s_acctbal"],
                "s_comment": f"note-{r['s_suppkey']}" if r["s_suppkey"] % 7 == 0 else None,
            }
            for r in load(spark, sf_dir, "supplier")
            .orderBy("s_suppkey")
            .collect()
        ]
        os.makedirs(tmp, exist_ok=True)
        n_files = 4
        per = (len(rows) + n_files - 1) // n_files
        for k in range(n_files):
            chunk = rows[k * per : (k + 1) * per]
            if chunk:
                avro_codec.write_avro_file(
                    os.path.join(tmp, f"part-{k:02d}.avro"),
                    schema, chunk, codec="deflate", block_rows=64,
                )
        open(os.path.join(tmp, "_SUCCESS"), "w").close()

    _write_once(d, write_fixture)
    avro_pyds.register(spark)
    # small split_bytes forces MULTI-RANGE reads per file — the scan path
    # a 100 TB directory would take, not the one-partition-per-file one
    s = (
        spark.read.format("avrofile")
        .option("split_bytes", 8192)
        .load(d)
    )
    return s.groupBy("s_nationkey").agg(
        F.count("*").alias("n"),
        F.sum(_money(F.col("s_acctbal"))).cast("double").alias("total_bal"),
        F.count("s_comment").alias("n_commented"),
    )


@query(
    "source_avro_write_roundtrip",
    oracle="""
    SELECT p_type, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(p_retailprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price,
           CAST(SUM(p_size) AS BIGINT) AS total_size
    FROM part GROUP BY p_type
    """,
    category="source",
)
def source_avro_write_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """part → DISTRIBUTED Avro write (``df.write.format("avrofile")``: one
    container file staged per task, all-or-nothing commit via the
    staging + _MANIFEST protocol — the write-path complement of
    ``source_avro_roundtrip``'s range-split scan) → scan → aggregate.
    Both halves are the pure-spec implementation; the writer's nullable
    fields land as ["null", T] unions."""
    from ..sources import avro_pyds

    avro_pyds.register(spark)
    d = _roundtrip_dir(sf_dir, "avro_w")

    def write_fixture(tmp: str) -> None:
        (
            load(spark, sf_dir, "part")
            .select("p_partkey", "p_type", "p_retailprice", "p_size")
            .repartition(4)
            .write.format("avrofile")
            .mode("overwrite")
            .save(tmp)
        )
        open(os.path.join(tmp, "_SUCCESS"), "w").close()

    _write_once(d, write_fixture)
    p = spark.read.format("avrofile").option("split_bytes", 65536).load(d)
    return p.groupBy("p_type").agg(
        F.count("*").alias("n"),
        F.sum(_money(F.col("p_retailprice"))).cast("double").alias("total_price"),
        F.sum("p_size").cast("long").alias("total_size"),
    )


@query(
    "source_jsonl_gzip_roundtrip",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
    FROM orders GROUP BY o_orderpriority
    """,
    category="source",
)
def source_jsonl_gzip_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders → gzip JSON-Lines (the reference's payload format + the engine's
    partitioned .json.gz sink, HttpWriter.kt:58) → schema-explicit scan →
    aggregate."""
    d = _roundtrip_dir(sf_dir, "jsonl")
    _write_once(
        d,
        lambda tmp: load(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
        .write.mode("overwrite")
        .option("compression", "gzip")
        .json(tmp),
    )
    schema = "o_orderkey bigint, o_orderpriority string, o_totalprice double"
    o = spark.read.schema(schema).json(d)
    return o.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        F.sum(_money(F.col("o_totalprice"))).cast("double").alias("total"),
    )


@query(
    "source_orc_roundtrip",
    oracle="""
    SELECT p_type, COUNT(*) AS n,
           CAST(SUM(CAST(p_retailprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
    FROM part GROUP BY p_type
    """,
    category="source",
)
def source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """part → ORC → scan → aggregate (the columnar alternative to parquet;
    same pushdown/pruning machinery)."""
    d = _roundtrip_dir(sf_dir, "orc")
    _write_once(
        d,
        lambda tmp: load(spark, sf_dir, "part").write.mode("overwrite").orc(tmp),
    )
    p = spark.read.orc(d)
    return p.groupBy("p_type").agg(
        F.count("*").alias("n"),
        F.sum(_money(F.col("p_retailprice"))).cast("double").alias("total_price"),
    )


@query(
    "source_partition_pruning",
    oracle="""
    SELECT event_type, user_id % 8 AS user_bucket, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM events WHERE event_type IN ('click', 'purchase')
    GROUP BY 1, 2
    """,
    category="source",
)
def source_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned layout (events partitioned by event_type) read
    with a partition predicate: the scan lists only the two matching
    directories — at 100 TB this is the difference between scanning the
    selected partitions and scanning the table. The plan carries the
    predicate as PartitionFilters (asserted in tests/test_plans.py), not a
    post-scan filter."""
    from ..tables import load as _load

    d = _roundtrip_dir(sf_dir, "part_events")
    _write_once(
        d,
        lambda tmp: _load(spark, sf_dir, "events")
        .withColumn("ts", F.col("ts").cast("long"))  # partition files keep raw nanos
        .write.mode("overwrite")
        .partitionBy("event_type")
        .parquet(tmp),
    )
    e = spark.read.parquet(d).filter(F.col("event_type").isin("click", "purchase"))
    return e.groupBy("event_type", (F.col("user_id") % 8).alias("user_bucket")).agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("total_value"),
    )


@query(
    "json_serialize",
    oracle="""
    SELECT event_id,
           concat('{{"t":"', event_type, '","u":', CAST(user_id AS VARCHAR), '}}') AS as_json
    FROM events WHERE event_id < 50
    """.replace("{{", "{").replace("}}", "}"),
    category="scalar-json",
)
def json_serialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """to_json over a struct column (the engine's serialization half of the
    from_json/to_json pair)."""
    e = load(spark, sf_dir, "events").filter(F.col("event_id") < 50)
    return e.select(
        "event_id",
        F.to_json(
            F.struct(F.col("event_type").alias("t"), F.col("user_id").alias("u"))
        ).alias("as_json"),
    )


@query(
    "stream_static_join",
    oracle="""
    SELECT c.c_mktsegment, COUNT(*) AS n,
           CAST(SUM(CAST(e.value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
    category="streaming",
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream ⋈ static dimension (stateless enrich) + aggregate, driven to
    completion — the streaming form of the broadcast dimension join. The
    broadcast hint encodes the query's CONTRACT that customer is a
    dimension (dims stay machine-sized at any corpus scale); a fact-sized
    static side would instead ride the default shuffled stream-static join
    by dropping the hint — Structured Streaming plans both."""
    from ..streaming import windows as sw

    events = sw.read_events_stream(spark, sf_dir)
    customer = load(spark, sf_dir, "customer")
    joined = events.join(
        F.broadcast(customer), events.user_id == customer.c_custkey, "inner"
    )
    agg = joined.groupBy("c_mktsegment").agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("total_value"),
    )
    return sw.run_to_memory(agg, "complete")


@query(
    "source_text_lines",
    oracle="""
    SELECT CAST(string_split(line, '|')[1] AS BIGINT) AS doc_id,
           length(string_split(line, '|')[2]) AS text_len
    FROM (SELECT CAST(doc_id AS VARCHAR) || '|' || text AS line FROM documents)
    """,
    category="source",
)
def source_text_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The line-oriented ``text`` source (one string column per line — the
    rawest scan Spark offers, what a log/JSONL pre-parser starts from):
    documents written as delimited lines, read back, fields re-split."""
    d = _roundtrip_dir(sf_dir, "textlines")
    _write_once(
        d,
        lambda tmp: load(spark, sf_dir, "documents")
        .select(F.concat(F.col("doc_id").cast("string"), F.lit("|"), F.col("text")).alias("value"))
        .write.mode("overwrite")
        .text(tmp),
    )
    lines = spark.read.text(d)
    parts = F.split(F.col("value"), r"\|")
    return lines.select(
        parts.getItem(0).cast("bigint").alias("doc_id"),
        F.length(parts.getItem(1)).alias("text_len"),
    )


@query(
    "source_binaryfile_scan",
    oracle="""
    SELECT 'doc_' || CAST(doc_id AS VARCHAR) || '.txt' AS file_name,
           CAST(n_chars AS BIGINT) AS n_bytes
    FROM documents WHERE doc_id < 5
    """,
    category="source",
)
def source_binaryfile_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``binaryFile`` source — Spark's object scan (one row per object:
    path, length, content; the shape of S3DirectoryReader.kt:31-98's
    objects): five known files scanned, identity checked via basename and
    byte length (ASCII text → bytes == n_chars)."""
    import os as _os

    d = _roundtrip_dir(sf_dir, "binfiles")

    def write_files(tmp: str) -> None:
        _os.makedirs(tmp, exist_ok=True)
        rows = (
            load(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < 5)
            .select("doc_id", "text")
            .collect()
        )
        for r in rows:
            with open(_os.path.join(tmp, f"doc_{r['doc_id']}.txt"), "w") as fh:
                fh.write(r["text"])

    from ..util import write_once as _wo

    _wo(d, write_files, probe=_os.path.join(d, "doc_0.txt"))
    files = spark.read.format("binaryFile").load(d)
    return files.select(
        F.element_at(F.split(F.col("path"), "/"), -1).alias("file_name"),
        F.col("length").alias("n_bytes"),
    )
