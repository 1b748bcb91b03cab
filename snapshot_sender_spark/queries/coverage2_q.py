"""Round-2 surface additions: dynamic-gap session windows, DataFrame
transpose, and per-source corpus cap sampling.

Dynamic-gap sessions generalize the fixed-gap session_window the engine
already declares (SURVEY §2B "Streaming"): the reference's run-long activity
sessions (PushGatewayServiceImpl.kt:22-26 periodic emission between jobs)
have event-type-dependent quiet periods, which is exactly a per-event gap
expression. Transpose is the Spark 4 DataFrame.transpose operator (metrics
matrix pivot, the shape the reference's pushgateway grouping key produces).
Per-source cap sampling is the corpus-balancing primitive every LLM data
pipeline needs: bound any one domain/source's contribution deterministically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..tables import load
from . import query
from .goldens import golden_oracle


@query(
    "stream_session_dynamic_gap",
    oracle="""
    WITH g AS (
      SELECT user_id, ts, event_id,
             CASE WHEN event_type = 'view' THEN INTERVAL '10 minutes'
                  ELSE INTERVAL '30 minutes' END AS gap
      FROM events
    ), o AS (
      SELECT user_id, ts, event_id, ts + gap AS e,
             MAX(ts + gap) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_end
      FROM g
    ), s AS (
      SELECT user_id, ts, e,
             SUM(CASE WHEN prev_end IS NULL OR ts > prev_end THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS sid
      FROM o
    )
    SELECT MIN(ts) AS session_start, MAX(e) AS session_end,
           user_id, COUNT(*) AS n_events
    FROM s GROUP BY user_id, sid
    """,
    category="streaming",
)
def stream_session_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """session_window with a per-event gap expression (views cool off in 10
    minutes, everything else in 30). Spark merges the per-event intervals
    [ts, ts+gap) transitively; the oracle re-derives the same sessions with
    the classic interval-merge idiom (running MAX of prior interval ends —
    a new session starts only when ts is strictly AFTER every earlier end:
    Spark merges an event landing exactly on the session end, pinned in
    tests/test_streaming.py::test_dynamic_gap_session_boundaries). The gap
    must be CalendarIntervalType, hence make_interval, not an ANSI day-time
    interval literal."""
    events = load(spark, sf_dir, "events")
    gap = F.make_interval(
        mins=F.when(F.col("event_type") == "view", F.lit(10)).otherwise(F.lit(30))
    )
    return (
        events.groupBy(F.session_window("ts", gap), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


@query(
    "relational_transpose",
    oracle="""
    SELECT 'n_events' AS key,
           CAST(COUNT(*) FILTER (WHERE event_type = 'click')    AS DOUBLE) AS click,
           CAST(COUNT(*) FILTER (WHERE event_type = 'error')    AS DOUBLE) AS error,
           CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS DOUBLE) AS purchase,
           CAST(COUNT(*) FILTER (WHERE event_type = 'signup')   AS DOUBLE) AS signup,
           CAST(COUNT(*) FILTER (WHERE event_type = 'view')     AS DOUBLE) AS view
    FROM events
    UNION ALL
    SELECT 'n_users',
           CAST(COUNT(DISTINCT user_id) FILTER (WHERE event_type = 'click')    AS DOUBLE),
           CAST(COUNT(DISTINCT user_id) FILTER (WHERE event_type = 'error')    AS DOUBLE),
           CAST(COUNT(DISTINCT user_id) FILTER (WHERE event_type = 'purchase') AS DOUBLE),
           CAST(COUNT(DISTINCT user_id) FILTER (WHERE event_type = 'signup')   AS DOUBLE),
           CAST(COUNT(DISTINCT user_id) FILTER (WHERE event_type = 'view')     AS DOUBLE)
    FROM events
    """,
    category="relational",
)
def relational_transpose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrame.transpose (Spark 4.0): a (metric × event_type) matrix flip.
    The index column's values become column names, so the input is ordered
    first for a deterministic column set; all measure cells share one type
    (DOUBLE), transpose's requirement. The oracle builds the transposed
    matrix directly with FILTER aggregates — both are exact integer counts
    widened to double, so the hash comparison is bit-stable."""
    events = load(spark, sf_dir, "events")
    base = (
        events.groupBy("event_type")
        .agg(
            F.count("*").cast("double").alias("n_events"),
            F.countDistinct("user_id").cast("double").alias("n_users"),
        )
        .orderBy("event_type")
    )
    return base.transpose()


@query(
    "curation_source_cap",
    oracle="""
    SELECT doc_id, source FROM (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY md5(text), doc_id) AS rk
      FROM documents
    ) WHERE rk <= 7
    """,
    category="curation",
)
def curation_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus balancing: cap any one source's contribution at K=7 documents,
    chosen deterministically (rank by md5(text) — an unbiased, seedless
    shuffle — tie-broken by doc_id). At 100 TB this is a single window over
    the source-partitioned shuffle; Catalyst inserts WindowGroupLimit so each
    partition keeps only K rows before the final filter, no full sort of the
    corpus."""
    docs = load(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(F.md5("text").asc_nulls_last(), "doc_id")
    return (
        docs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 7)
        .select("doc_id", "source")
    )


@query(
    "agg_percentile_within_group",
    oracle="""
    SELECT l_returnflag,
           CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY
             CAST(CAST(l_extendedprice AS DECIMAL(12,2))*100 AS BIGINT)) AS DOUBLE)
             AS p25_disc_cents,
           percentile_cont(0.25) WITHIN GROUP (ORDER BY
             CAST(CAST(l_extendedprice AS DECIMAL(12,2))*100 AS BIGINT))
             AS p25_cont_cents,
           CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY
             CAST(CAST(l_extendedprice AS DECIMAL(12,2))*100 AS BIGINT)) AS DOUBLE)
             AS p90_disc_cents
    FROM lineitem GROUP BY l_returnflag
    """,
    category="aggregation",
)
def agg_percentile_within_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI ordered-set aggregates PERCENTILE_DISC / PERCENTILE_CONT WITHIN
    GROUP. Values are integer cents, so DISC picks an exact stored integer and
    CONT's interpolation a + frac*(b-a) (frac ∈ {0, .25, .5, .75} — dyadic)
    is exact in binary floating point on both engines — no round() anywhere."""
    from ..tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT l_returnflag,
               CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY
                 CAST(CAST(l_extendedprice AS DECIMAL(12,2))*100 AS BIGINT)) AS DOUBLE)
                 AS p25_disc_cents,
               percentile_cont(0.25) WITHIN GROUP (ORDER BY
                 CAST(CAST(l_extendedprice AS DECIMAL(12,2))*100 AS BIGINT))
                 AS p25_cont_cents,
               CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY
                 CAST(CAST(l_extendedprice AS DECIMAL(12,2))*100 AS BIGINT)) AS DOUBLE)
                 AS p90_disc_cents
        FROM lineitem GROUP BY l_returnflag
        """
    )


@query(
    "sql_unpivot_clause",
    oracle="""
    WITH wide AS (
      SELECT event_type,
             CAST(COUNT(*) AS DOUBLE) AS n_events,
             CAST(COUNT(DISTINCT user_id) AS DOUBLE) AS n_users
      FROM events GROUP BY event_type
    )
    SELECT event_type, 'n_events' AS metric, n_events AS val FROM wide
    UNION ALL
    SELECT event_type, 'n_users', n_users FROM wide
    """,
    category="sql",
)
def sql_unpivot_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native SQL UNPIVOT clause (Spark 3.4+): wide metric columns → long
    (metric, val) rows — the inverse of PIVOT, as first-class syntax rather
    than the stack() expression (`unpivot_stack` declares that form). The
    oracle is the ANSI UNION ALL expansion, proving the clause is sugar."""
    from ..tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT event_type, metric, val FROM (
          SELECT event_type,
                 CAST(COUNT(*) AS DOUBLE) AS n_events,
                 CAST(COUNT(DISTINCT user_id) AS DOUBLE) AS n_users
          FROM events GROUP BY event_type
        ) UNPIVOT (val FOR metric IN (n_events, n_users))
        """
    )


@query(
    "sql_pivot_clause",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(l_quantity) FILTER (WHERE l_linestatus = 'F') AS DOUBLE) AS F,
           CAST(SUM(l_quantity) FILTER (WHERE l_linestatus = 'O') AS DOUBLE) AS O
    FROM lineitem GROUP BY l_returnflag
    """,
    category="sql",
)
def sql_pivot_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native SQL PIVOT clause with an explicit IN list (the DataFrame pivot
    form is `agg_pivot`). l_quantity is a whole-number double ≤ 50, so the
    sums are exact integers in double arithmetic — order-independent, no
    decimal detour needed."""
    from ..tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT * FROM (
          SELECT l_returnflag, l_linestatus, l_quantity FROM lineitem
        ) PIVOT (
          CAST(SUM(l_quantity) AS DOUBLE) FOR l_linestatus IN ('F' AS F, 'O' AS O)
        )
        """
    )


@query(
    "udtf_table_arg_gaps",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events,
           COALESCE(MAX(epoch_us(ts) - epoch_us(prev_ts)), 0) AS max_gap_us
    FROM (
      SELECT user_id, ts,
             LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
      FROM events
    ) GROUP BY user_id
    """,
    category="udtf",
)
def udtf_table_arg_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF consuming a TABLE(...) argument with PARTITION BY/ORDER BY
    (Spark 4): per-user largest inter-event gap. The engine feeds each
    partition's rows to one UDTF instance in ts order (eval per row,
    terminate per partition) — the polymorphic-table-function surface the
    LATERAL form (`text_chunk_udtf`) can't express, since it needs cross-row
    state within an ordered partition. Gap multiset is invariant under tie
    order, so max/count are deterministic; microsecond integers keep the
    oracle exact."""
    from datetime import timedelta

    from pyspark.sql.functions import udtf

    from ..tables import register_views

    register_views(spark, sf_dir)

    @udtf(returnType="user_id bigint, n_events bigint, max_gap_us bigint")
    class GapStats:
        def __init__(self):
            self.uid = None
            self.n = 0
            self.prev = None
            self.max_gap = 0

        def eval(self, row):
            self.uid = row["user_id"]
            self.n += 1
            if self.prev is not None:
                gap = (row["ts"] - self.prev) // timedelta(microseconds=1)
                if gap > self.max_gap:
                    self.max_gap = gap
            self.prev = row["ts"]

        def terminate(self):
            if self.uid is not None:
                yield self.uid, self.n, self.max_gap

    spark.udtf.register("gap_stats", GapStats)
    return spark.sql(
        """
        SELECT * FROM gap_stats(
          TABLE(SELECT user_id, ts FROM events)
          PARTITION BY user_id ORDER BY ts
        )
        """
    )


@query(
    "window_fill_forward",
    oracle="""
    SELECT event_id, user_id,
           LAST_VALUE(v IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled,
           NTH_VALUE(v, 2 IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS second_seen
    FROM (
      SELECT event_id, user_id, ts,
             CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
      FROM events
    )
    """,
    category="window",
)
def window_fill_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward fill (LOCF): error readings are NULLed, then each row carries
    the last non-null value via LAST_VALUE ... IGNORE NULLS over an ordered
    per-user frame (plus NTH_VALUE IGNORE NULLS for the general form). The
    values are carried, never combined, so floats pass through bit-identical;
    (ts, event_id) ordering makes the frame total. At scale this is one
    window over the user-partitioned shuffle — the standard telemetry
    gap-fill without any self-join."""
    events = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    v = F.when(F.col("event_type") == "error", F.lit(None)).otherwise(F.col("value"))
    return events.select(
        "event_id",
        "user_id",
        F.last(v, ignorenulls=True).over(w).alias("filled"),
        F.nth_value(v, 2, ignoreNulls=True).over(w).alias("second_seen"),
    )


@query(
    "text_stats_arrow_udf",
    oracle=r"""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars_live,
           CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS ws_tokens,
           CAST(length(text) - length(replace(text, 'e', '')) AS BIGINT) AS n_e
    FROM documents
    """,
    category="llm-text",
)
def text_stats_arrow_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-native scalar UDF (Spark 4.1 `arrow_udf`): the batch arrives as a
    pyarrow.Array and is processed entirely with pyarrow.compute kernels —
    no pandas materialization, no per-row Python. Counts chars, \\S+ tokens,
    and 'e' occurrences per document; all integers, so the oracle is exact.
    This is the third vectorized-UDF tier the engine declares (pandas UDF →
    mapInArrow → arrow_udf), the one with zero conversion overhead."""
    from ..functions.arrowudfs import a_count_e, a_len, a_ws_tokens

    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        a_len("text").alias("n_chars_live"),
        a_ws_tokens("text").alias("ws_tokens"),
        a_count_e("text").alias("n_e"),
    )


@query(
    "sql_session_variables",
    oracle="""
    SELECT l_returnflag, COUNT(*) AS n
    FROM lineitem
    WHERE l_orderkey > (SELECT MAX(l_orderkey) FROM lineitem) / 2
    GROUP BY l_returnflag
    """,
    category="sql",
)
def sql_session_variables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL session variables (Spark 4: DECLARE / SET VAR): a cutoff computed
    once into a typed variable, then referenced in a later statement — the
    reference's run-scoped properties (correlation_id, export_date,
    PropertyUtility.kt:5-11) as engine state instead of string templating.
    The oracle inlines the same scalar subquery."""
    from ..tables import register_views

    register_views(spark, sf_dir)
    spark.sql("DECLARE OR REPLACE VARIABLE cutoff BIGINT")
    spark.sql("SET VAR cutoff = (SELECT MAX(l_orderkey) FROM lineitem) / 2")
    return spark.sql(
        "SELECT l_returnflag, COUNT(*) AS n FROM lineitem "
        "WHERE l_orderkey > cutoff GROUP BY l_returnflag"
    )


@query(
    "sql_execute_immediate",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n
    FROM orders
    WHERE o_totalprice > 200000.0 AND o_orderstatus = 'F'
    GROUP BY o_orderpriority
    """,
    category="sql",
)
def sql_execute_immediate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXECUTE IMMEDIATE with positional USING parameters: the dynamic-SQL
    form of parameterized queries (the spark.sql(args=...) API form is
    `sql_parameterized`). Parameters bind as typed literals, not string
    splices — injection-safe dynamic SQL."""
    from ..tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        EXECUTE IMMEDIATE
          'SELECT o_orderpriority, COUNT(*) AS n
           FROM orders WHERE o_totalprice > ? AND o_orderstatus = ?
           GROUP BY o_orderpriority'
          USING 200000.0, 'F'
        """
    )


@query(
    "sql_scripting_block",
    oracle="""
    SELECT CAST(COUNT(*) FILTER (WHERE l_quantity >= 10) AS BIGINT)
         + CAST(COUNT(*) FILTER (WHERE l_quantity >= 20) AS BIGINT)
         + CAST(COUNT(*) FILTER (WHERE l_quantity >= 30) AS BIGINT)
           AS total_ge_counts
    FROM lineitem
    """,
    category="sql",
)
def sql_scripting_block(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scripting (Spark 4 BEGIN…END with DECLARE/WHILE/SET): an
    imperative loop over thresholds accumulating counts into a variable, the
    procedural surface of the engine (the reference's chunk-loop control flow,
    JobConfiguration.kt:41-52, lives in this layer when expressed in SQL).
    The script's last statement is the result; the oracle collapses the loop
    into FILTER aggregates."""
    from ..tables import register_views

    register_views(spark, sf_dir)
    spark.conf.set("spark.sql.scripting.enabled", "true")
    return spark.sql(
        """
        BEGIN
          DECLARE i INT DEFAULT 1;
          DECLARE total BIGINT DEFAULT 0;
          WHILE i <= 3 DO
            SET total = total + (
              SELECT COUNT(*) FROM lineitem WHERE l_quantity >= i * 10);
            SET i = i + 1;
          END WHILE;
          SELECT total AS total_ge_counts;
        END
        """
    )


@query(
    "agg_bitmap_distinct",
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(COUNT(DISTINCT user_id) FILTER (WHERE value > 50) AS BIGINT)
             AS n_big_spenders
    FROM events GROUP BY event_type
    """,
    category="aggregation",
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct counting via roaring-style bitmaps (bitmap_bit_position
    → bitmap_construct_agg per bucket → bitmap_count, summed): the
    high-cardinality COUNT(DISTINCT) pattern that scales — each group's key
    space shards into fixed-size bitmap buckets, partial aggregation builds
    one small bitmap per (group, bucket) map-side, and the merge is bitwise
    OR instead of a re-shuffle of raw ids; duplicate positions collapse in the
    bitmap itself, so no pre-dedup pass exists anywhere in the plan.
    Bit-exact ≡ COUNT(DISTINCT), which is the oracle."""
    from ..tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT event_type,
               SUM(bitmap_count(bm)) AS n_users,
               SUM(bitmap_count(bm_big)) AS n_big_spenders
        FROM (
          SELECT event_type,
                 bitmap_construct_agg(bitmap_bit_position(user_id)) AS bm,
                 bitmap_construct_agg(
                   CASE WHEN value > 50 THEN bitmap_bit_position(user_id) END)
                   AS bm_big
          FROM events
          GROUP BY event_type, bitmap_bucket_number(user_id)
        )
        GROUP BY event_type
        """
    )


@query(
    "string_url_parse",
    oracle="""
    SELECT doc_id,
           source || '.example.com' AS host,
           '/corpus/' || lang AS path,
           'doc=' || CAST(doc_id AS VARCHAR) AS query,
           CAST(doc_id AS VARCHAR) AS doc_param
    FROM documents
    """,
    category="string",
)
def string_url_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """parse_url component extraction (HOST / PATH / QUERY / keyed QUERY
    param) over URLs synthesized from document metadata — the crawl-corpus
    provenance column every web-scale dataset carries. The oracle knows the
    construction, so each extracted part is checked against its ground
    truth."""
    docs = load(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.com/corpus/"),
        F.col("lang"),
        F.lit("?doc="),
        F.col("doc_id").cast("string"),
    )
    return docs.select(
        "doc_id",
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY")).alias("query"),
        F.parse_url(url, F.lit("QUERY"), F.lit("doc")).alias("doc_param"),
    )


def _loaded_bpe_model(spark: SparkSession, sf_dir: str):
    """Round-10 verdict #5: the e2e pipelines must exercise the FROZEN-VOCAB
    artifact end-to-end — train (memoized) → save_bpe_model → load_bpe_model
    → apply the LOADED model. The save is write-once per tier (the marker
    doubles as the completeness probe: load_bpe_model refuses a torn save)."""
    import hashlib
    import os
    import tempfile

    from ..operators import bpe as _bpe
    from ..util import write_once
    from .bpe_q import MAX_WORDS, NUM_MERGES, _model

    model = _model(spark, sf_dir)
    # key the cached artifact on the MODEL CONTENT (merges + base vocab):
    # a /tmp leftover from different training params OR a regenerated
    # fixture corpus can never be loaded in place of the just-trained model
    # (training is already memoized in-process, so the fingerprint is free)
    key = f"{NUM_MERGES}:{MAX_WORDS}:{repr((model.merges, model.base_vocab))}"
    d = os.path.join(
        tempfile.gettempdir(),
        "bpe_model_" + hashlib.md5(key.encode()).hexdigest()[:12],
    )
    write_once(
        d,
        lambda tmp: _bpe.save_bpe_model(spark, model, tmp),
        probe=os.path.join(d, "_MODEL_OK"),
    )
    return _bpe.load_bpe_model(spark, d)


def _bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_tokens) over the full corpus with the SAVED-then-LOADED
    model — the count source the pipelines' token audit joins in."""
    from ..operators import bpe as _bpe

    model = _loaded_bpe_model(spark, sf_dir)
    docs = load(spark, sf_dir, "documents")
    return _bpe.bpe_tokenize(spark, docs, model).select(
        "doc_id", F.coalesce("n_tokens", F.lit(0)).alias("bpe_tokens")
    )


def _pipeline_e2e_oracle() -> str:
    from .bpe_q import _UNGENERATED, _bpe_counts_ctes

    ctes = _bpe_counts_ctes()
    if ctes is None:
        return _UNGENERATED
    return f"""
    WITH RECURSIVE{ctes},
    quality AS (
      SELECT doc_id, lang, source, text,
             len(string_split(text, ' ')) AS n_words
      FROM (
        SELECT *, length(text) AS real_chars,
               len(string_split(text, ' ')) AS nw,
               CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                 / len(string_split(text, ' ')) AS uniq_ratio
        FROM documents
      )
      WHERE real_chars BETWEEN 120 AND 450 AND nw >= 25 AND uniq_ratio >= 0.30
    ),
    exact AS (
      SELECT * FROM quality q
      WHERE doc_id = (SELECT MIN(doc_id) FROM quality q2
                      WHERE md5(lower(trim(q2.text))) = md5(lower(trim(q.text))))
    ),
    shingled AS (
      SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i + 1] AS shingle
      FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM exact),
           UNNEST(range(1, len(ws))) AS t(i)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS set_size FROM shingled GROUP BY doc_id),
    neardup_drop AS (
      SELECT DISTINCT b.doc_id
      FROM (SELECT a.doc_id AS id_a, b.doc_id AS doc_id, COUNT(*) AS n_shared
            FROM shingled a JOIN shingled b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id) b
      JOIN sizes sa ON sa.doc_id = b.id_a
      JOIN sizes sb ON sb.doc_id = b.doc_id
      WHERE CAST(n_shared AS DOUBLE)
            / CAST(sa.set_size + sb.set_size - n_shared AS DOUBLE) >= 0.5
    ),
    grams AS (
      SELECT doc_id, source,
             ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]
                   || ' ' || ws[i+4] AS gram
      FROM (SELECT doc_id, source, string_split(text, ' ') AS ws FROM exact),
           UNNEST(range(1, len(ws) - 3)) AS t(i)
    ),
    bench AS (SELECT DISTINCT gram FROM grams WHERE source = 'src0'),
    contaminated AS (
      SELECT DISTINCT doc_id FROM grams
      WHERE source <> 'src0' AND gram IN (SELECT gram FROM bench)
    ),
    surviving AS (
      SELECT * FROM exact
      WHERE source <> 'src0'
        AND doc_id NOT IN (SELECT doc_id FROM neardup_drop)
        AND doc_id NOT IN (SELECT doc_id FROM contaminated)
    ),
    capped AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY source
                                     ORDER BY md5(text), doc_id) AS rk
        FROM surviving
      ) WHERE rk <= 5
    )
    SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'b' THEN 'train'
                WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'd' THEN 'valid'
                ELSE 'test' END AS split,
           lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS total_words,
           CAST(SUM(coalesce(len(t.ids), 0)) AS BIGINT) AS total_bpe_tokens
    FROM capped LEFT JOIN dtoks t USING (doc_id)
    GROUP BY split, lang
    """


@query(
    "pipeline_curation_e2e",
    oracle=_pipeline_e2e_oracle(),
    category="llm-pipeline",
)
def pipeline_curation_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole corpus-curation workflow as ONE oracle-checked plan, chaining
    the operators the engine declares individually: quality gates → exact
    dedup (min doc_id per content fingerprint) → near-dup drop (bigram
    Jaccard ≥ 0.5, drop the higher id of each pair) → benchmark
    decontamination (any shared word-5-gram with the src0 bench set) → drop
    the bench source itself → per-source cap (K=5, md5-ranked) → hash
    train/valid/test split → per-(split, lang) doc/token audit. Every stage
    is deterministic (hash ranks, integer counts, same-input float compares),
    so the composition hash-matches end to end — the proof the operators
    compose into the actual LLM-data pipeline, not just pass in isolation.
    Round-10: the token audit is REAL — total_bpe_tokens counts with the
    trained tokenizer after a save→load round-trip (the frozen-vocab
    artifact exercised end-to-end), replayed cross-engine by the DuckDB
    recursive-CTE application of the pinned merge golden."""
    docs = load(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    quality = docs.select(
        "doc_id", "lang", "source", "text", F.size(words).alias("n_words")
    ).filter(
        F.length("text").between(120, 450)
        & (F.size(words) >= 25)
        & ((F.size(F.array_distinct(words)).cast("double") / F.size(words)) >= 0.30)
    )
    fp = F.md5(F.lower(F.trim(F.col("text"))))
    w_fp = Window.partitionBy(fp).orderBy("doc_id")
    exact = (
        quality.withColumn("_rn", F.row_number().over(w_fp))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    ws = F.split(F.col("text"), " ")
    shingles = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size(ws) - 1),
            lambda i: F.concat_ws(" ", F.slice(ws, i, 2)),
        )
    )
    shingled = exact.select("doc_id", F.explode(shingles).alias("shingle"))
    sizes = shingled.groupBy("doc_id").agg(F.count("*").alias("set_size"))
    a, b = shingled.alias("a"), shingled.alias("b")
    pairs = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count("*").alias("n_shared"))
    )
    jac = (
        pairs.join(sizes.withColumnRenamed("doc_id", "id_a").alias("sa"), "id_a")
        .join(
            sizes.withColumnRenamed("doc_id", "id_b")
            .withColumnRenamed("set_size", "set_size_b")
            .alias("sb"),
            "id_b",
        )
        .filter(
            F.col("n_shared").cast("double")
            / (F.col("set_size") + F.col("set_size_b") - F.col("n_shared")).cast("double")
            >= 0.5
        )
    )
    neardup_drop = jac.select(F.col("id_b").alias("doc_id")).distinct()
    grams = F.transform(
        F.sequence(F.lit(1), F.size(ws) - 4),
        lambda i: F.concat_ws(" ", F.slice(ws, i, 5)),
    )
    exploded = exact.filter(F.size(ws) >= 5).select(
        "doc_id", "source", F.explode(grams).alias("gram")
    )
    bench = exploded.filter(F.col("source") == "src0").select("gram").distinct()
    contaminated = (
        exploded.filter(F.col("source") != "src0")
        .join(F.broadcast(bench), "gram")
        .select("doc_id")
        .distinct()
    )
    surviving = (
        exact.filter(F.col("source") != "src0")
        .join(neardup_drop, "doc_id", "left_anti")
        .join(contaminated, "doc_id", "left_anti")
    )
    w_cap = Window.partitionBy("source").orderBy(F.md5("text").asc_nulls_last(), "doc_id")
    capped = (
        surviving.withColumn("rk", F.row_number().over(w_cap)).filter(F.col("rk") <= 5)
    )
    nib = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    split = F.when(nib <= "b", "train").when(nib <= "d", "valid").otherwise("test")
    counts = _bpe_token_counts(spark, sf_dir)
    return (
        capped.select("doc_id", split.alias("split"), "lang", "n_words")
        .join(counts, "doc_id", "left")
        .groupBy("split", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_words").cast("long").alias("total_words"),
            F.sum(F.coalesce("bpe_tokens", F.lit(0)))
            .cast("long")
            .alias("total_bpe_tokens"),
        )
    )


def _pipeline_takedown_oracle() -> str:
    from .bpe_q import _UNGENERATED, _bpe_counts_ctes

    ctes = _bpe_counts_ctes()
    if ctes is None:
        return _UNGENERATED
    return f"""
    WITH RECURSIVE{ctes},
    quality AS (
      SELECT doc_id, lang, source, text,
             len(string_split(text, ' ')) AS n_words
      FROM (
        SELECT *, length(text) AS real_chars,
               len(string_split(text, ' ')) AS nw,
               CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                 / len(string_split(text, ' ')) AS uniq_ratio
        FROM documents
      )
      WHERE real_chars BETWEEN 120 AND 450 AND nw >= 25 AND uniq_ratio >= 0.30
    ),
    exact AS (
      SELECT * FROM quality q
      WHERE doc_id = (SELECT MIN(doc_id) FROM quality q2
                      WHERE md5(lower(trim(q2.text))) = md5(lower(trim(q.text))))
    ),
    corpus AS (SELECT * FROM exact WHERE doc_id % 2 = 0),
    batch AS (SELECT * FROM exact WHERE doc_id % 2 = 1),
    retained AS (SELECT * FROM corpus WHERE doc_id % 10 <> 0),
    sh_ret AS (
      SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i + 1] AS shingle
      FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM retained),
           UNNEST(range(1, len(ws))) AS t(i)
    ),
    sh_bat AS (
      SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i + 1] AS shingle
      FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM batch),
           UNNEST(range(1, len(ws))) AS t(i)
    ),
    sz_ret AS (SELECT doc_id, COUNT(*) AS n FROM sh_ret GROUP BY doc_id),
    sz_bat AS (SELECT doc_id, COUNT(*) AS n FROM sh_bat GROUP BY doc_id),
    cross_drop AS (
      SELECT DISTINCT p.id_b AS doc_id
      FROM (SELECT b.doc_id AS id_b, r.doc_id AS id_r, COUNT(*) AS shared
            FROM sh_bat b JOIN sh_ret r ON b.shingle = r.shingle
            GROUP BY 1, 2) p
      JOIN sz_bat sb ON sb.doc_id = p.id_b
      JOIN sz_ret sr ON sr.doc_id = p.id_r
      WHERE CAST(p.shared AS DOUBLE)
            / CAST(sb.n + sr.n - p.shared AS DOUBLE) >= 0.5
    ),
    within_drop AS (
      SELECT DISTINCT p.id_b AS doc_id
      FROM (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
            FROM sh_bat a JOIN sh_bat b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2) p
      JOIN sz_bat sa ON sa.doc_id = p.id_a
      JOIN sz_bat sb ON sb.doc_id = p.id_b
      WHERE CAST(p.shared AS DOUBLE)
            / CAST(sa.n + sb.n - p.shared AS DOUBLE) >= 0.5
    ),
    accepted AS (
      SELECT * FROM retained
      UNION ALL
      SELECT * FROM batch
      WHERE doc_id NOT IN (SELECT doc_id FROM cross_drop)
        AND doc_id NOT IN (SELECT doc_id FROM within_drop)
    ),
    grams AS (
      SELECT doc_id, source,
             ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]
                   || ' ' || ws[i+4] AS gram
      FROM (SELECT doc_id, source, string_split(text, ' ') AS ws FROM accepted),
           UNNEST(range(1, len(ws) - 3)) AS t(i)
    ),
    bench AS (SELECT DISTINCT gram FROM grams WHERE source = 'src0'),
    contaminated AS (
      SELECT DISTINCT doc_id FROM grams
      WHERE source <> 'src0' AND gram IN (SELECT gram FROM bench)
    )
    SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'b' THEN 'train'
                WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'd' THEN 'valid'
                ELSE 'test' END AS split,
           lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS total_words,
           CAST(SUM(coalesce(t.ids_len, 0)) AS BIGINT) AS total_bpe_tokens
    FROM accepted LEFT JOIN (SELECT doc_id, len(ids) AS ids_len FROM dtoks) t
      USING (doc_id)
    WHERE source <> 'src0'
      AND doc_id NOT IN (SELECT doc_id FROM contaminated)
    GROUP BY split, lang
    """


@query(
    "pipeline_curation_takedown_e2e",
    oracle=_pipeline_takedown_oracle(),
    category="llm-pipeline",
)
def pipeline_curation_takedown_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-9 verdict #5: the curation pipeline COMPOSED WITH TAKEDOWN —
    quality gates → exact dedup → build the PERSISTED posting index from the
    standing corpus (even doc_ids, epoch 0) → GDPR TAKEDOWN mid-pipeline
    (ids ≡ 0 mod 10: ``takedown_dedup_index`` rewrites only affected index
    partitions; the corpus store drops the same ids) → the incoming batch
    (odd doc_ids) probes the POST-TAKEDOWN index (cross-set Jaccard ≥ 0.5,
    bucket-aligned, no corpus Exchange) plus within-batch near-dup →
    decontamination → bench-source drop → hash split → per-(split, lang)
    audit.

    The payoff the oracle proves: a batch document whose ONLY near-duplicate
    was taken down is ACCEPTED — removal semantics compose through the whole
    chain (index probe, corpus union, decontam, split), not just per-index.
    Non-vacuous at both driver tiers: exactly one batch doc's sole drop
    witness is in the removal set at sf0.001 AND sf0.01 (verified against a
    brute-force cross-join), so a takedown that silently failed to reach the
    index would hash-mismatch here.
    Every stage is deterministic, so the composition hash-matches end to end
    against a DuckDB replay whose retained-corpus set applies the same
    removal rule longhand. Round-10: the audit's total_bpe_tokens counts
    with the SAVED-then-LOADED tokenizer (frozen-vocab artifact end-to-end),
    replayed cross-engine from the pinned merge golden."""
    from ..operators import dedup as _dedup

    docs = load(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    quality = docs.select(
        "doc_id", "lang", "source", "text", F.size(words).alias("n_words")
    ).filter(
        F.length("text").between(120, 450)
        & (F.size(words) >= 25)
        & ((F.size(F.array_distinct(words)).cast("double") / F.size(words)) >= 0.30)
    )
    fp = F.md5(F.lower(F.trim(F.col("text"))))
    w_fp = Window.partitionBy(fp).orderBy("doc_id")
    exact = (
        quality.withColumn("_rn", F.row_number().over(w_fp))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        .localCheckpoint()  # computed once; feeds index build, probe, audit
    )
    corpus = exact.filter(F.col("doc_id") % 2 == 0)
    batch = exact.filter(F.col("doc_id") % 2 == 1)

    table = "t_q_curation_takedown_idx"
    for t in (table, table + "_sizes"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    _dedup.append_dedup_index_epoch(spark, table, corpus, "text", "doc_id", epoch=0)

    # --- TAKEDOWN mid-pipeline: the real removal operators, both halves ---
    removal_ids = corpus.filter(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("id")
    )
    _dedup.takedown_dedup_index(spark, table, removal_ids)
    retained = corpus.join(
        removal_ids.withColumnRenamed("id", "doc_id"), "doc_id", "left_anti"
    )

    # --- batch probes the POST-takedown index (near-dups of removed docs
    # no longer block acceptance) + within-batch near-dup ---
    cross_drop = (
        _dedup.incremental_jaccard_against_index(
            spark, table, batch, "text", "doc_id", threshold=0.5
        )
        .select(F.col("id_new").alias("doc_id"))
        .distinct()
    )
    within_drop = (
        _dedup.ngram_jaccard_pairs(batch, "text", "doc_id", threshold=0.5)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    accepted = retained.unionByName(
        batch.join(cross_drop, "doc_id", "left_anti")
        .join(within_drop, "doc_id", "left_anti")
    ).localCheckpoint()  # frozen post-takedown corpus; feeds decontam + audit

    ws = F.split(F.col("text"), " ")
    grams = F.transform(
        F.sequence(F.lit(1), F.size(ws) - 4),
        lambda i: F.concat_ws(" ", F.slice(ws, i, 5)),
    )
    exploded = accepted.filter(F.size(ws) >= 5).select(
        "doc_id", "source", F.explode(grams).alias("gram")
    )
    bench = exploded.filter(F.col("source") == "src0").select("gram").distinct()
    contaminated = (
        exploded.filter(F.col("source") != "src0")
        .join(F.broadcast(bench), "gram")
        .select("doc_id")
        .distinct()
    )
    final = accepted.filter(F.col("source") != "src0").join(
        contaminated, "doc_id", "left_anti"
    )
    nib = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    split = F.when(nib <= "b", "train").when(nib <= "d", "valid").otherwise("test")
    counts = _bpe_token_counts(spark, sf_dir)
    return (
        final.select("doc_id", split.alias("split"), "lang", "n_words")
        .join(counts, "doc_id", "left")
        .groupBy("split", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_words").cast("long").alias("total_words"),
            F.sum(F.coalesce("bpe_tokens", F.lit(0)))
            .cast("long")
            .alias("total_bpe_tokens"),
        )
    )


@query(
    "window_time_range_frame",
    oracle="""
    SELECT event_id, user_id,
           COUNT(*) OVER w AS n_last_hour,
           CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) OVER w
                AS BIGINT) AS cents_last_hour
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
    """,
    category="window",
)
def window_time_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-interval RANGE frame: each event's trailing 1-hour activity
    (count + exact cents sum) per user — the rolling-telemetry window as an
    event-time distance frame, not a row count (`window_range_frame` is the
    numeric-distance form). Peers at the same ts share the frame on both
    engines; the cents sum keeps the money column order-free exact."""
    from ..tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT event_id, user_id,
               COUNT(*) OVER w AS n_last_hour,
               SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) OVER w
                 AS cents_last_hour
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts
                     RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
        """
    )


@query(
    "json_variant_explode",
    oracle="""
    SELECT event_id, key, CAST(json_extract(props, '$.' || key) AS BIGINT) AS val
    FROM (SELECT event_id, props, UNNEST(json_keys(props)) AS key FROM events)
    """,
    category="variant",
)
def json_variant_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """variant_explode as a lateral table function: each event's semi-
    structured props object fans out to (key, value) rows without declaring
    a schema anywhere — the VARIANT counterpart of map explode, for payloads
    whose keys drift (schema_of_variant / typed variant_get cover the other
    access paths in `json_variant_extract`). The oracle unnests DuckDB's
    json_keys and re-extracts each key's value."""
    from ..tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT event_id, t.key AS key, CAST(t.value AS BIGINT) AS val
        FROM (SELECT event_id, parse_json(props) AS pv FROM events),
             LATERAL variant_explode(pv) AS t(pos, key, value)
        """
    )


@query(
    "join_point_in_time",
    oracle="""
    WITH hist AS (
      SELECT o_custkey, o_orderkey, o_orderdate AS valid_from,
             LEAD(o_orderdate) OVER (PARTITION BY o_custkey
                                     ORDER BY o_orderdate, o_orderkey) AS valid_to
      FROM orders
    )
    SELECT l.l_orderkey, l.l_linenumber, l.l_shipdate,
           h.o_orderkey AS version_orderkey, h.valid_from
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN hist h ON h.o_custkey = o.o_custkey
      AND l.l_shipdate >= h.valid_from
      AND (h.valid_to IS NULL OR l.l_shipdate < h.valid_to)
    """,
    category="join",
)
def join_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join: each shipped line item is matched to the customer's
    order-version (SCD2 interval derived with lead()) that was current at
    ship time — the standard warehouse PIT lookup (and the leakage-safe
    feature-store join: training rows must only see dimension state as of
    their own timestamp). The half-open [valid_from, valid_to) intervals tile
    each key's timeline, so exactly one version matches per fact row that
    ships inside the history. At scale both sides shuffle once on the
    customer key and the interval predicate rides the equi join as a
    post-condition, never a nested loop."""
    from ..tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        WITH hist AS (
          SELECT o_custkey, o_orderkey, o_orderdate AS valid_from,
                 LEAD(o_orderdate) OVER (PARTITION BY o_custkey
                                         ORDER BY o_orderdate, o_orderkey) AS valid_to
          FROM orders
        )
        SELECT l.l_orderkey, l.l_linenumber, l.l_shipdate,
               h.o_orderkey AS version_orderkey, h.valid_from
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN hist h ON h.o_custkey = o.o_custkey
          AND l.l_shipdate >= h.valid_from
          AND (h.valid_to IS NULL OR l.l_shipdate < h.valid_to)
        """
    )


@query(
    "analytics_cooccurrence_lift",
    oracle="""
    WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
    totals AS (SELECT event_type, COUNT(*) AS n FROM ut GROUP BY event_type),
    n_users AS (SELECT COUNT(DISTINCT user_id) AS u FROM events),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             COUNT(*) AS n_both
      FROM ut a JOIN ut b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY a.event_type, b.event_type
    )
    SELECT type_a, type_b, n_both,
           CAST(n_both AS DOUBLE) * u / (ta.n * tb.n) AS lift
    FROM pairs, n_users
    JOIN totals ta ON ta.event_type = type_a
    JOIN totals tb ON tb.event_type = type_b
    """,
    category="analytics",
)
def analytics_cooccurrence_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence with lift over per-user event-type sets:
    which behaviors coincide more than independence predicts. All counts are
    integers and the lift is one identical division on both engines, so the
    floats hash-match. Scale shape: the distinct (user, type) projection is
    tiny relative to the event log, the self-join runs on the user key, and
    the type totals broadcast."""
    from ..tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
        totals AS (SELECT event_type, COUNT(*) AS n FROM ut GROUP BY event_type),
        n_users AS (SELECT COUNT(DISTINCT user_id) AS u FROM events),
        pairs AS (
          SELECT a.event_type AS type_a, b.event_type AS type_b,
                 COUNT(*) AS n_both
          FROM ut a JOIN ut b
            ON a.user_id = b.user_id AND a.event_type < b.event_type
          GROUP BY a.event_type, b.event_type
        )
        SELECT type_a, type_b, n_both,
               CAST(n_both AS DOUBLE) * u / (ta.n * tb.n) AS lift
        FROM pairs, n_users
        JOIN totals ta ON ta.event_type = type_a
        JOIN totals tb ON tb.event_type = type_b
        """
    )


@query(
    "sim_cosine_adjacent_hof",
    oracle="""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding::DOUBLE[],
                            x -> CAST(FLOOR(x * 1000) AS BIGINT)) AS qv
      FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           CAST(list_sum(list_transform(range(1, len(a.qv) + 1),
                  i -> a.qv[i] * b.qv[i])) AS DOUBLE)
           / (sqrt(CAST(list_sum(list_transform(a.qv, x -> x * x)) AS DOUBLE))
            * sqrt(CAST(list_sum(list_transform(b.qv, x -> x * x)) AS DOUBLE)))
             AS cosine
    FROM q a JOIN q b ON b.vec_id = a.vec_id + 1
    """,
    category="llm-similarity",
)
def sim_cosine_adjacent_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine similarity between consecutive embeddings written entirely in
    built-in array higher-order functions — zip_with for the elementwise
    product, aggregate for the fold — no UDF, fully inside whole-stage
    codegen (the batch GEMM kernels exist for all-pairs; this is the
    expression-level form for row-adjacent comparisons). Vectors are
    quantized to integers so the dot products are exact on both engines and
    the final division is one identical float op."""
    e = load(spark, sf_dir, "embeddings")
    qv = F.transform(
        F.col("embedding"), lambda x: F.floor(x.cast("double") * 1000).cast("long")
    )
    q = e.select("vec_id", qv.alias("qv"))
    a, b = q.alias("a"), q.alias("b")

    def dot(u, v):
        return F.aggregate(
            F.zip_with(u, v, lambda x, y: x * y), F.lit(0).cast("long"), lambda acc, x: acc + x
        )

    return (
        a.join(b, F.col("b.vec_id") == F.col("a.vec_id") + 1)
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            (
                dot(F.col("a.qv"), F.col("b.qv")).cast("double")
                / (
                    F.sqrt(dot(F.col("a.qv"), F.col("a.qv")).cast("double"))
                    * F.sqrt(dot(F.col("b.qv"), F.col("b.qv")).cast("double"))
                )
            ).alias("cosine"),
        )
    )


@query(
    "sim_label_centroid_arrow",
    oracle="""
    WITH quant AS (
      SELECT label,
             list_transform(embedding::DOUBLE[],
                            x -> CAST(FLOOR(x * 1000) AS BIGINT)) AS qv
      FROM embeddings
    )
    SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(qv[1]) AS BIGINT) AS sum_d1,
           CAST(SUM(qv[2]) AS BIGINT) AS sum_d2,
           CAST(SUM(qv[3]) AS BIGINT) AS sum_d3,
           CAST(SUM(qv[4]) AS BIGINT) AS sum_d4
    FROM quant GROUP BY label
    """,
    category="llm-similarity",
)
def sim_label_centroid_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid sums via grouped applyInArrow (Spark 4): each
    label's rows arrive as ONE pyarrow.Table, the list column flattens to a
    contiguous buffer, and numpy folds it as a (n, dim) matrix — the
    grouped-Arrow API tier (applyInPandas without the pandas materialization).
    Quantized integer sums, so the fold is exact and order-free
    (`sim_label_centroid_dist` is the same aggregate in pure SQL)."""

    def centroid(tbl):
        import numpy as np
        import pyarrow as pa

        emb = tbl["embedding"].combine_chunks()
        flat = np.asarray(emb.flatten(), dtype=np.float64)
        dim = len(emb[0])
        m = np.floor(flat * 1000).astype(np.int64).reshape(-1, dim)
        sums = m.sum(axis=0)
        return pa.table(
            {
                "label": [tbl["label"][0].as_py()],
                "n": [m.shape[0]],
                "sum_d1": [int(sums[0])],
                "sum_d2": [int(sums[1])],
                "sum_d3": [int(sums[2])],
                "sum_d4": [int(sums[3])],
            }
        )

    e = load(spark, sf_dir, "embeddings")
    return e.groupBy("label").applyInArrow(
        centroid, schema="label long, n long, sum_d1 long, sum_d2 long, sum_d3 long, sum_d4 long"
    )


@query(
    "agg_theta_set_ops",
    oracle="""
    SELECT
      CAST((SELECT COUNT(DISTINCT user_id) FROM events WHERE event_type = 'view')
           AS BIGINT) AS n_view,
      CAST((SELECT COUNT(DISTINCT user_id) FROM events WHERE event_type = 'click')
           AS BIGINT) AS n_click,
      CAST((SELECT COUNT(DISTINCT user_id) FROM events
            WHERE event_type IN ('view', 'click')) AS BIGINT) AS n_union,
      CAST((SELECT COUNT(*) FROM
             (SELECT DISTINCT user_id FROM events WHERE event_type = 'view'
              INTERSECT
              SELECT DISTINCT user_id FROM events WHERE event_type = 'click') t)
           AS BIGINT) AS n_intersect,
      CAST((SELECT COUNT(*) FROM
             (SELECT DISTINCT user_id FROM events WHERE event_type = 'view'
              EXCEPT
              SELECT DISTINCT user_id FROM events WHERE event_type = 'click') t)
           AS BIGINT) AS n_view_only
    """,
    category="aggregation",
)
def agg_theta_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta sketches (Apache DataSketches, Spark 4): mergeable distinct
    sketches that support UNION / INTERSECT / DIFFERENCE algebra — the only
    sketch family that answers "how many users did A and B" without a
    re-shuffle of raw ids. The sketch retains the k smallest hashes (a set,
    so order- and partitioning-free); below k entries it is EXACT, which test
    cardinalities are, so the estimates hash-match the COUNT(DISTINCT)
    oracle — at 100 TB the same plan returns ±1.6% estimates (k=4096) at a
    constant 32 KB per group."""
    from ..tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        WITH sk AS (
          SELECT
            theta_sketch_agg(CASE WHEN event_type = 'view' THEN user_id END)
              AS s_view,
            theta_sketch_agg(CASE WHEN event_type = 'click' THEN user_id END)
              AS s_click
          FROM events
        )
        SELECT
          theta_sketch_estimate(s_view) AS n_view,
          theta_sketch_estimate(s_click) AS n_click,
          theta_sketch_estimate(theta_union(s_view, s_click)) AS n_union,
          theta_sketch_estimate(theta_intersection(s_view, s_click)) AS n_intersect,
          theta_sketch_estimate(theta_difference(s_view, s_click)) AS n_view_only
        FROM sk
        """
    )


@query(
    "agg_min_max_by",
    oracle="""
    SELECT o_orderpriority,
           MAX(CASE WHEN rk_max = 1 THEN o_orderkey END) AS top_order,
           MAX(CASE WHEN rk_min = 1 THEN o_orderkey END) AS bottom_order
    FROM (
      SELECT o_orderpriority, o_orderkey,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice DESC, o_orderkey DESC) AS rk_max,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice ASC, o_orderkey ASC) AS rk_min
      FROM orders
    )
    GROUP BY o_orderpriority
    """,
    category="aggregation",
)
def agg_min_max_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmin/argmax aggregates: which order carries each priority's highest
    and lowest total price. The ordering key is a (price, orderkey) struct,
    so ties break deterministically — the window-free form of top-1-per-group
    (one aggregation, no sort, no WindowGroupLimit needed)."""
    from ..tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderpriority,
               max_by(o_orderkey, struct(o_totalprice, o_orderkey)) AS top_order,
               min_by(o_orderkey, struct(o_totalprice, o_orderkey)) AS bottom_order
        FROM orders GROUP BY o_orderpriority
        """
    )


@query(
    "math_width_bucket",
    oracle="""
    SELECT b AS bucket, CAST(COUNT(*) AS BIGINT) AS n FROM (
      SELECT CASE WHEN value < 0 THEN 0
                  WHEN value >= 100 THEN 11
                  ELSE CAST(FLOOR(value / 10) AS BIGINT) + 1 END AS b
      FROM events
    ) GROUP BY b
    """,
    category="math",
)
def math_width_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram bucketing with width_bucket (10 buckets over
    [0, 100), underflow→0, overflow→n+1) — the binning primitive behind
    histogram features and range-partition sizing. The oracle spells out the
    same bucket arithmetic; value/10 on doubles is exact enough here because
    bucket edges are representable and both engines evaluate the identical
    expression."""
    events = load(spark, sf_dir, "events")
    return (
        events.select(
            F.width_bucket("value", F.lit(0.0), F.lit(100.0), F.lit(10)).alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count("*").alias("n"))
    )


@query(
    "agg_kll_quantile_sketch",
    # GOLDEN-PINNED (goldens.py): the from-scratch SeededKLL draws its
    # compaction coin from the seed alone and each group is canonically
    # ordered inside the UDF by (value, event_id) — a total order — so the
    # estimate is a pure function of the data SET on any partitioning
    # (seeded randomness + order canonicalization, both documented lanes).
    # Quantiles SELECT an ingested value (no float arithmetic, no libm), so
    # the repr round-trip reproduces the double bit-exactly cross-container.
    oracle=golden_oracle("agg_kll_quantile_sketch"),
    category="aggregation",
)
def agg_kll_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KLL quantile sketch (Karnin-Lang-Liberty), reimplemented with a SEEDED
    compaction coin (operators/sketch.py) so the estimate is reproducible and
    hash-attestable — the built-in DataSketches kll_sketch_agg_double uses an
    unseeded RNG and cannot be pinned. Accuracy (rank error ~1/k) and merge
    mechanics are pinned in tests/test_operators.py; the exact siblings are
    `percentile_exact` / `agg_percentile_within_group`."""
    from ..operators.sketch import kll_group_quantiles

    ev = load(spark, sf_dir, "events").select("event_type", "event_id", "value")
    return kll_group_quantiles(
        ev,
        group_cols=["event_type"],
        value_col="value",
        order_cols=["value", "event_id"],
        qs={"p50_est": 0.5, "p90_est": 0.9},
        k=200,
        seed=42,
    )


@query(
    "string_luhn_check",
    oracle="""
    SELECT num, CASE WHEN
      list_sum(list_transform(range(1, length(num) + 1), i ->
        CASE WHEN i % 2 = 0
             THEN CASE WHEN 2 * CAST(substr(reverse(num), i, 1) AS INT) > 9
                       THEN 2 * CAST(substr(reverse(num), i, 1) AS INT) - 9
                       ELSE 2 * CAST(substr(reverse(num), i, 1) AS INT) END
             ELSE CAST(substr(reverse(num), i, 1) AS INT) END)) % 10 = 0
      THEN TRUE ELSE FALSE END AS valid
    FROM (SELECT lpad(CAST(o_orderkey AS VARCHAR), 15, '7') AS num
          FROM orders WHERE o_orderkey <= 2000)
    """,
    category="string",
)
def string_luhn_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """luhn_check over deterministic 15-digit account numbers built from
    order keys — the checksum gate a PII/payment-scrubbing pipeline applies
    before redacting candidate card numbers (`text_pii_redact` is the scrub
    itself). The oracle re-implements Luhn digit-doubling arithmetic in SQL,
    so Spark's built-in is verified against the spec, not against itself."""
    from ..tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT num, luhn_check(num) AS valid
        FROM (SELECT lpad(CAST(o_orderkey AS STRING), 15, '7') AS num
              FROM orders WHERE o_orderkey <= 2000)
        """
    )
