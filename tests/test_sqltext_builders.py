"""r14 SQL-text builder pins: the headline relational builders were converted
from Column-method chains (~200-900 synchronous py4j round trips per build,
the dominant construction cost after the r13 load memo) to single spark.sql()
texts over memoized temp views (tables.view). Each conversion is pinned by
OPTIMIZED-plan identity — ``optimizedPlan().sameResult()`` both ways — against
the retained Column-form reference below (copied verbatim from the r13 tree).
sameResult compares canonicalized logical plans: identical results AND
identical physical-planning input. Join hints don't participate in sameResult,
so the two hinted queries (q5, rollup) additionally pin their broadcast
physical shape."""

import pytest
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from snapshot_sender_spark.queries import all_queries
from snapshot_sender_spark.queries.relational import (
    _cents,
    _factor,
    _from_cents,
    _money,
    dsum,
)
from snapshot_sender_spark.tables import load

SF = "/root/testdata/sf0.001"


def _rev_col():
    return _from_cents(
        F.sum(_cents(F.col("l_extendedprice")) * (100 - _cents(F.col("l_discount")))), 4
    ).alias("revenue")


# ---- reference Column-form builders (verbatim r13 implementations) ----------


def ref_q1(spark, sf):
    from snapshot_sender_spark.queries.relational import (
        _CENTS_SQL,
        _DSUM_SQL,
        _FROM_CENTS_SQL,
    )

    l = load(spark, sf, "lineitem")
    price_c = _CENTS_SQL("l_extendedprice")
    qty_c = _CENTS_SQL("l_quantity")
    disc_c = _CENTS_SQL("l_discount")
    disc_comp_c = f"100 - {disc_c}"
    tax_comp_c = f"100 + {_CENTS_SQL('l_tax')}"
    return (
        l.filter(F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.expr(_DSUM_SQL("l_quantity")).alias("sum_qty"),
            F.expr(_DSUM_SQL("l_extendedprice")).alias("sum_base_price"),
            F.expr(_FROM_CENTS_SQL(f"SUM(({price_c}) * ({disc_comp_c}))", 4)).alias(
                "sum_disc_price"
            ),
            F.expr(
                _FROM_CENTS_SQL(f"SUM(({price_c}) * ({disc_comp_c}) * ({tax_comp_c}))", 6)
            ).alias("sum_charge"),
            F.expr(_FROM_CENTS_SQL(f"SUM({qty_c})", 2) + " / COUNT(l_quantity)").alias(
                "avg_qty"
            ),
            F.expr(
                _FROM_CENTS_SQL(f"SUM({price_c})", 2) + " / COUNT(l_extendedprice)"
            ).alias("avg_price"),
            F.expr(_FROM_CENTS_SQL(f"SUM({disc_c})", 2) + " / COUNT(l_discount)").alias(
                "avg_disc"
            ),
            F.count("*").alias("count_order"),
        )
    )


def ref_q3(spark, sf):
    c = load(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load(spark, sf, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    l = load(spark, sf, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(_rev_col())
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), F.asc("o_orderdate"), F.asc("l_orderkey"))
        .limit(10)
    )


def ref_q5(spark, sf):
    c = load(spark, sf, "customer")
    o = load(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    l = load(spark, sf, "lineitem")
    s = load(spark, sf, "supplier")
    n = load(spark, sf, "nation")
    r = load(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, (s.s_suppkey == l.l_suppkey) & (s.s_nationkey == c.c_nationkey))
        .join(F.broadcast(n), n.n_nationkey == s.s_nationkey)
        .join(F.broadcast(r), r.r_regionkey == n.n_regionkey)
        .groupBy("n_name")
        .agg(_rev_col())
    )


def ref_q6(spark, sf):
    l = load(spark, sf, "lineitem")
    return l.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & F.col("l_discount").between(0.03, 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.sum(_money(F.col("l_extendedprice")) * _factor(F.col("l_discount")))
        .cast("double")
        .alias("revenue"),
        F.count("*").alias("n"),
    )


def ref_3way(spark, sf):
    c = load(spark, sf, "customer")
    o = load(spark, sf, "orders")
    l = load(spark, sf, "lineitem")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(dsum(F.col("l_extendedprice")).alias("revenue"), F.count("*").alias("n_items"))
    )


def ref_range_theta(spark, sf):
    p = load(spark, sf, "part")
    l = load(spark, sf, "lineitem")
    return (
        p.join(
            l,
            (l.l_partkey == p.p_partkey) & l.l_quantity.between(p.p_size - 2, p.p_size + 2),
        )
        .groupBy("p_size")
        .agg(
            F.count("*").alias("n_matches"),
            F.sum(_money(F.col("l_quantity"))).cast("double").alias("total_qty"),
        )
    )


def ref_asof(spark, sf):
    e = load(spark, sf, "events")
    p = e.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    c = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user_id"), F.col("ts").alias("c_ts")
    )
    return (
        p.join(c, (p.user_id == F.col("c_user_id")) & (F.col("c_ts") <= p.ts), "left")
        .groupBy("event_id", "user_id", "ts")
        .agg(F.max("c_ts").alias("last_click_ts"), F.count("c_ts").alias("n_clicks_before"))
    )


def ref_rollup(spark, sf):
    c = load(spark, sf, "customer")
    n = load(spark, sf, "nation")
    r = load(spark, sf, "region")
    return (
        c.join(F.broadcast(n), n.n_nationkey == c.c_nationkey)
        .join(F.broadcast(r), r.r_regionkey == n.n_regionkey)
        .rollup("r_name", "n_name")
        .agg(dsum(F.col("c_acctbal")).alias("total_bal"), F.count("*").alias("n"))
    )


def ref_window_topk(spark, sf):
    o = load(spark, sf, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return o.select(
        "o_custkey", "o_orderkey", "o_totalprice", F.row_number().over(w).alias("rn")
    ).filter(F.col("rn") <= 3)


def ref_running_sum(spark, sf):
    o = load(spark, sf, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.sum(_money(F.col("o_totalprice")))
        .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
        .cast("double")
        .alias("running_total"),
        F.first("o_orderkey").over(w).alias("first_order"),
    )


def ref_sort_topk(spark, sf):
    o = load(spark, sf, "orders")
    return (
        o.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
    )


def ref_json_funcs(spark, sf):
    e = load(spark, sf, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(k).cast("bigint").alias("sum_k"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
    )


def ref_dedup_exact(spark, sf):
    from snapshot_sender_spark.operators import dedup

    return dedup.exact_dedup(load(spark, sf, "documents"), "text", "doc_id")


def ref_text_stats(spark, sf):
    from snapshot_sender_spark.queries.llm import STOPWORDS

    d = load(spark, sf, "documents")
    words = F.split(F.col("text"), " ")
    n_stop = F.size(F.filter(words, lambda w: w.isin(STOPWORDS)))
    return d.select(
        "doc_id",
        "lang",
        F.length("text").alias("n_chars"),
        F.size(words).alias("n_words"),
        (F.length(F.regexp_replace(F.col("text"), " ", "")).cast("double") / F.size(words)).alias(
            "avg_word_len"
        ),
        n_stop.alias("n_stopwords"),
        (n_stop.cast("double") / F.size(words)).alias("stopword_ratio"),
    )


CASES = [
    ("q1_pricing_summary", ref_q1),
    ("tpch_q3_shipping_priority", ref_q3),
    ("tpch_q5_local_supplier_volume", ref_q5),
    ("tpch_q6_forecast_revenue", ref_q6),
    ("join_inner_3way", ref_3way),
    ("join_range_theta", ref_range_theta),
    ("join_asof_last_click", ref_asof),
    ("agg_rollup", ref_rollup),
    ("window_topk_per_group", ref_window_topk),
    ("window_running_sum", ref_running_sum),
    ("sort_topk_global", ref_sort_topk),
    ("json_funcs", ref_json_funcs),
    ("dedup_exact", ref_dedup_exact),
    ("text_stats", ref_text_stats),
]


@pytest.mark.parametrize("name,ref_fn", CASES, ids=[c[0] for c in CASES])
def test_sqltext_builder_plan_identity(spark, name, ref_fn):
    new = all_queries()[name].fn(spark, SF)
    ref = ref_fn(spark, SF)
    assert new.schema == ref.schema, f"{name}: schema drift"
    no = new._jdf.queryExecution().optimizedPlan()
    ro = ref._jdf.queryExecution().optimizedPlan()
    assert no.sameResult(ro) and ro.sameResult(no), (
        f"{name}: optimized plans diverged\n--- sql form\n{no.toString()}"
        f"\n--- column form\n{ro.toString()}"
    )


@pytest.mark.parametrize("name", ["tpch_q5_local_supplier_volume", "agg_rollup"])
def test_sqltext_hinted_broadcast_shape(spark, name):
    """Join hints are invisible to sameResult — pin the physical shape the
    SQL BROADCAST hints must produce (every dim side a broadcast build)."""
    phys = all_queries()[name].fn(spark, SF)._jdf.queryExecution().executedPlan().toString()
    expected = 5 if name == "tpch_q5_local_supplier_volume" else 2
    assert phys.count("BroadcastHashJoin") == expected, phys
    assert "SortMergeJoin" not in phys and "ShuffledHashJoin" not in phys, phys


def test_minhash_banded_sql_matches_column_form(spark):
    """dedup_minhash_banded's SQL-CTE form (r14) vs the retained Column
    pipeline: optimized plans differ cosmetically (USING-join coalescing),
    so the pin is exact sorted-row equality — and the cross-engine DuckDB
    oracle pins every value independently."""
    d = load(spark, SF, "documents")
    words = F.split(F.col("text"), " ")
    n = F.size(words)
    trigrams = F.zip_with(
        F.slice(words, 1, n - 2),
        F.zip_with(
            F.slice(words, 2, n - 2), F.slice(words, 3, n - 2),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
        lambda a, bc: F.concat(a, F.lit(" "), bc),
    )
    g = d.select("doc_id", F.explode(trigrams).alias("gram")).distinct()
    h = (
        g.select("doc_id", "gram", F.explode(F.sequence(F.lit(0), F.lit(7))).alias("j"))
        .select(
            "doc_id",
            "j",
            F.conv(
                F.substring(
                    F.md5(F.concat(F.col("j").cast("string"), F.lit(":"), F.col("gram"))),
                    1, 15,
                ),
                16, 10,
            ).cast("long").alias("hv"),
        )
        .groupBy("doc_id", "j")
        .agg(F.min("hv").alias("mh"))
    )
    b = h.groupBy("doc_id", F.expr("j div 2").alias("band")).agg(
        F.concat(
            F.min(F.when(F.col("j") % 2 == 0, F.col("mh"))).cast("string"),
            F.lit(":"),
            F.min(F.when(F.col("j") % 2 == 1, F.col("mh"))).cast("string"),
        ).alias("sig")
    )
    b2 = b.select(F.col("doc_id").alias("id_b"), "band", "sig")
    cand = (
        b.select(F.col("doc_id").alias("id_a"), "band", "sig")
        .join(b2, ["band", "sig"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    sz = g.groupBy("doc_id").agg(F.count("*").alias("n"))
    ga = g.select(F.col("doc_id").alias("id_a"), "gram")
    gb = g.select(F.col("doc_id").alias("id_b"), "gram")
    inter = (
        cand.join(ga, "id_a").join(gb, ["id_b", "gram"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("ni"))
    )
    jac = F.col("ni").cast("double") / (
        F.col("sa_n") + F.col("sb_n") - F.col("ni")
    ).cast("double")
    ref = (
        inter.join(sz.select(F.col("doc_id").alias("id_a"), F.col("n").alias("sa_n")), "id_a")
        .join(sz.select(F.col("doc_id").alias("id_b"), F.col("n").alias("sb_n")), "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.4)
    )
    new = all_queries()["dedup_minhash_banded"].fn(spark, SF)
    assert new.schema == ref.schema
    assert sorted(map(tuple, new.collect())) == sorted(map(tuple, ref.collect()))


@pytest.mark.parametrize(
    "name", ["curation_url_canonicalize", "curation_host_cap", "curation_host_dedup"]
)
def test_curation_expr_memo_plan_identity(spark, name):
    """The session_exprs memo (r14) hands back the SAME Column objects each
    lap — a memo-hit build must produce the same optimized plan as a
    cold-cache build (no drift can hide in the cache)."""
    from snapshot_sender_spark import util

    fn = all_queries()[name].fn
    util._EXPR_CACHE.clear()
    cold = fn(spark, SF)  # rebuilds the expression trees
    warm = fn(spark, SF)  # memo hit
    co = cold._jdf.queryExecution().optimizedPlan()
    wo = warm._jdf.queryExecution().optimizedPlan()
    assert co.sameResult(wo) and wo.sameResult(co)
    assert cold.schema == warm.schema


def test_shingle_expr_memo_plan_identity(spark):
    """hashed_shingle_sets' session_exprs memo (r14): a memo-hit build must
    produce the same optimized plan as a cold-cache build."""
    from snapshot_sender_spark import util
    from snapshot_sender_spark.operators import dedup

    d = load(spark, SF, "documents")
    util._EXPR_CACHE.clear()
    cold = dedup.hashed_shingle_sets(d, "text", "doc_id")
    warm = dedup.hashed_shingle_sets(d, "text", "doc_id")
    co = cold._jdf.queryExecution().optimizedPlan()
    wo = warm._jdf.queryExecution().optimizedPlan()
    assert co.sameResult(wo) and wo.sameResult(co)
    assert cold.schema == warm.schema


def test_shingle_expr_memo_keys_do_not_collide(spark):
    """The memo key holds the column names as a tuple: ('a:b', 'c') and
    ('a', 'b:c') joined with ':' would be the same string, and the second
    build would reuse the first one's Columns."""
    from snapshot_sender_spark import util
    from snapshot_sender_spark.operators import dedup

    df = spark.createDataFrame(
        [("red fox jumps", 1, "blue whale sings", 2)], "`a:b` string, c long, a string, `b:c` long"
    )
    util._EXPR_CACHE.clear()
    first = dedup.hashed_shingle_sets(df, "a:b", "c").first()
    second = dedup.hashed_shingle_sets(df, "a", "b:c").first()
    assert (first["id"], second["id"]) == (1, 2)
    assert first["shingles"] != second["shingles"]
