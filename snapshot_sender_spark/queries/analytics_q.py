"""Query batch 7: warehouse-analytics patterns — MERGE-style upsert (the
status-table CDC pattern), SCD2 history windows, event funnel, cohort
retention, n-gram frequencies, DISTRIBUTE BY."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..tables import load, register_views
from . import query


@query(
    "merge_upsert",
    oracle="""
    WITH updates AS (
      SELECT c_custkey, c_name, c_nationkey,
             CAST(CAST(c_acctbal AS DECIMAL(12,2)) + CAST(100.00 AS DECIMAL(12,2)) AS DOUBLE)
               AS c_acctbal,
             c_mktsegment
      FROM customer WHERE c_mktsegment = 'BUILDING'
    )
    SELECT * FROM updates
    UNION ALL
    SELECT c_custkey, c_name, c_nationkey, CAST(c_acctbal AS DOUBLE) AS c_acctbal, c_mktsegment
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM updates u WHERE u.c_custkey = c.c_custkey)
    """,
    category="cdc",
)
def merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO emulated with anti-join + union — the relational form of
    the keyed upsert that plans/status.py upsert_status runs on the driver
    over the small status table (DynamoDB updateItem in the reference,
    DynamoDBExportStatusService.kt:143-177). Delta MERGE is the cluster-scale
    form; the anti-join+union plan is dependency-free."""
    c = load(spark, sf_dir, "customer")
    updates = c.filter(F.col("c_mktsegment") == "BUILDING").withColumn(
        "c_acctbal",
        (F.col("c_acctbal").cast("decimal(12,2)") + F.lit(100.00).cast("decimal(12,2)")).cast(
            "double"
        ),
    )
    kept = c.join(updates.select("c_custkey"), "c_custkey", "left_anti").withColumn(
        "c_acctbal", F.col("c_acctbal").cast("double")
    )
    return updates.unionByName(kept)


@query(
    "scd2_order_history",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate AS valid_from,
           LEAD(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
             AS valid_to,
           CASE WHEN LEAD(o_orderdate) OVER (PARTITION BY o_custkey
                                             ORDER BY o_orderdate, o_orderkey) IS NULL
                THEN 1 ELSE 0 END AS is_current
    FROM orders
    """,
    category="cdc",
)
def scd2_order_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 validity intervals derived with lead(): each order version is valid
    until the customer's next order (open-ended for the latest)."""
    o = load(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    nxt = F.lead("o_orderdate").over(w)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.col("o_orderdate").alias("valid_from"),
        nxt.alias("valid_to"),
        F.when(nxt.isNull(), 1).otherwise(0).alias("is_current"),
    )


@query(
    "funnel_view_click_purchase",
    oracle="""
    WITH stages AS (
      SELECT user_id,
             MIN(ts) FILTER (WHERE event_type = 'view') AS first_view,
             MIN(ts) FILTER (WHERE event_type = 'click') AS first_click,
             MIN(ts) FILTER (WHERE event_type = 'purchase') AS first_purchase
      FROM events GROUP BY user_id
    )
    SELECT COUNT(*) AS n_users,
           COUNT(first_view) AS n_viewed,
           COUNT(CASE WHEN first_click > first_view THEN 1 END) AS n_clicked_after_view,
           COUNT(CASE WHEN first_purchase > first_click AND first_click > first_view
                      THEN 1 END) AS n_full_funnel
    FROM stages
    """,
    category="analytics",
)
def funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-funnel conversion: view → click → purchase, each stage's first
    event strictly after the previous stage's."""
    e = load(spark, sf_dir, "events")
    stages = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("first_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("first_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("first_purchase"),
    )
    return stages.agg(
        F.count("*").alias("n_users"),
        F.count("first_view").alias("n_viewed"),
        F.count(F.when(F.col("first_click") > F.col("first_view"), 1)).alias(
            "n_clicked_after_view"
        ),
        F.count(
            F.when(
                (F.col("first_purchase") > F.col("first_click"))
                & (F.col("first_click") > F.col("first_view")),
                1,
            )
        ).alias("n_full_funnel"),
    )


@query(
    "cohort_retention",
    oracle="""
    WITH firsts AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT e.user_id, f.cohort_day,
             date_diff('day', f.cohort_day, CAST(e.ts AS DATE)) AS day_offset
      FROM events e JOIN firsts f ON f.user_id = e.user_id
    )
    SELECT CAST(cohort_day AS TIMESTAMP) AS cohort_day, day_offset,
           COUNT(*) AS n_active_users
    FROM activity
    WHERE day_offset <= 7
    GROUP BY 1, 2
    """,
    category="analytics",
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-seen day, activity counted by
    day offset for the first week."""
    e = load(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(F.min(F.col("ts").cast("date")).alias("cohort_day"))
    activity = (
        e.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff(F.col("ts").cast("date"), F.col("cohort_day")).alias("day_offset"),
        )
        .distinct()
    )
    return (
        activity.filter(F.col("day_offset") <= 7)
        .groupBy(F.col("cohort_day").cast("timestamp").alias("cohort_day"), "day_offset")
        .agg(F.count("*").alias("n_active_users"))
    )


@query(
    "text_trigram_freq",
    oracle="""
    SELECT trigram, COUNT(*) AS n FROM (
      SELECT ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] AS trigram
      FROM (SELECT string_split(text, ' ') AS ws FROM documents),
           UNNEST(range(1, len(ws) - 1)) AS t(i)
    )
    GROUP BY trigram
    ORDER BY n DESC, trigram
    LIMIT 30
    """,
    category="llm-text",
)
def text_trigram_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-trigram frequency table (the n-gram language-model building block)."""
    d = load(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    n = F.size(words)
    trigrams = F.zip_with(
        F.slice(words, 1, n - 2),
        F.zip_with(F.slice(words, 2, n - 2), F.slice(words, 3, n - 2), lambda a, b: F.concat(a, F.lit(" "), b)),
        lambda a, bc: F.concat(a, F.lit(" "), bc),
    )
    return (
        d.select(F.explode(trigrams).alias("trigram"))
        .groupBy("trigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("trigram"))
        .limit(30)
    )


@query(
    "sql_distribute_by",
    oracle="""
    SELECT l_suppkey, l_orderkey, l_quantity FROM lineitem WHERE l_suppkey < 20
    """,
    category="sql",
)
def sql_distribute_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTRIBUTE BY / SORT BY: explicit partition placement + intra-partition
    order (the pre-shuffle co-location primitive behind bucketed writes). The
    result SET is order-insensitive-identical to the plain projection."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT l_suppkey, l_orderkey, l_quantity FROM lineitem
        WHERE l_suppkey < 20
        DISTRIBUTE BY l_suppkey SORT BY l_suppkey, l_orderkey
        """
    )
