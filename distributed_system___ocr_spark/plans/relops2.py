"""Extended relational coverage: as-of join, multi-way TPC-H-style
join, semi-join (EXISTS), scalar subquery, INTERSECT, UNION,
approximate/exact quantiles."""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.tokens import DUCK_TOKENS, SPARK_TOKENS
from ..operators.asof import asof_join
from .queries import _t, register


# --------------------------------------------------------------------------
# as-of join: each click matched to the user's most recent prior purchase
# --------------------------------------------------------------------------

_ASOF_SQL = """
    SELECT c.event_id, c.user_id, c.ts,
           p.event_id AS asof_event_id,
           p.value    AS asof_value,
           p.ts       AS asof_ts
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id AND c.ts >= p.ts
    """


def _asof_sides(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    return clicks, purchases


@register("asof_click_to_purchase", _ASOF_SQL)
def asof_click_to_purchase(spark, sf_dir):
    clicks, purchases = _asof_sides(spark, sf_dir)
    return asof_join(
        clicks, purchases, key="user_id", ts="ts",
        right_cols=["event_id", "value"],
    )


@register("asof_click_to_purchase_salted", _ASOF_SQL)
def asof_click_to_purchase_salted(spark, sf_dir):
    """Same oracle as asof_click_to_purchase; physical shape is the
    skew-hardened (key, time-bucket) two-phase form
    (operators/asof.asof_join_salted) — the per-key window the plain
    form serializes a hot user into becomes per-(user, day) plus a
    bucket-granularity carry-forward."""
    from ..operators.asof import asof_join_salted

    clicks, purchases = _asof_sides(spark, sf_dir)
    return asof_join_salted(
        clicks, purchases, key="user_id", ts="ts",
        right_cols=["event_id", "value"],
    )


# --------------------------------------------------------------------------
# TPC-H Q5-style: 6-table join, local-supplier revenue per nation
# --------------------------------------------------------------------------

@register(
    "q5_local_supplier_volume",
    """
    SELECT n_name,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                    AS DECIMAL(18,6))) AS DOUBLE) AS revenue
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
    GROUP BY n_name
    """,
)
def q5_local_supplier_volume(spark, sf_dir):
    """True dims (supplier/nation/region — bounded cardinality) get a
    static broadcast hint; orders and customer are FACT-sized (1.5M /
    150k rows per sf — broadcasting them OOMs at any real scale), so
    lineitem⋈orders⋈customer are shuffle joins on their keys. AQE still
    converts them to broadcast at runtime when a side is genuinely
    small (e.g. test sf), which is the decision made from measured
    sizes, not a hint that lies at 100 TB."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region")
    joined = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(supp),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return joined.groupBy("n_name").agg(
        F.sum(
            (F.col("l_extendedprice") * (1 - F.col("l_discount")))
            .cast("decimal(18,6)")
        ).cast("double").alias("revenue")
    )


# --------------------------------------------------------------------------
# TPC-H Q14-style: promo revenue share (lineitem x part)
# --------------------------------------------------------------------------

@register(
    "q14_promo_revenue",
    """
    SELECT round(CAST(
             100.0 * SUM(CASE WHEN p_type = 'PROMO'
                  THEN CAST(l_extendedprice * (1 - l_discount)
                            AS DECIMAL(18,6))
                  ELSE CAST(0 AS DECIMAL(18,6)) END)
             / SUM(CAST(l_extendedprice * (1 - l_discount)
                        AS DECIMAL(18,6)))
           AS DOUBLE), 6) AS promo_share,
           count(*) AS n_lineitems
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1996-01-01 00:00:00'
    """,
)
def q14_promo_revenue(spark, sf_dir):
    """part scales with sf (200k rows/sf in TPC-H) — same class as
    customer, so no static broadcast hint; AQE broadcasts it at
    runtime when measured small. The conditional revenue split is one
    partial-aggregated pass over the filtered lineitem scan."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-01-01 00:00:00").cast("timestamp"))
    )
    part = _t(spark, sf_dir, "part")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,6)"
    )
    joined = li.join(part, F.col("l_partkey") == F.col("p_partkey"))
    return joined.agg(
        F.round(
            (
                100.0
                * F.sum(
                    F.when(F.col("p_type") == "PROMO", rev)
                    .otherwise(F.lit(0).cast("decimal(18,6)"))
                )
                / F.sum(rev)
            ).cast("double"),
            6,
        ).alias("promo_share"),
        F.count("*").alias("n_lineitems"),
    )


# --------------------------------------------------------------------------
# range (interval) join: clicks within the hour before each purchase
# --------------------------------------------------------------------------

@register(
    "range_join_click_window",
    """
    SELECT p.event_id, p.user_id, count(c.event_id) AS n_clicks_1h
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON c.user_id = p.user_id
     AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts < p.ts
    GROUP BY p.event_id, p.user_id
    """,
)
def range_join_click_window(spark, sf_dir):
    """Equi-key (user) + range predicate: the shuffle is on user_id
    only, so each task range-scans one user's events — bounded fan-out,
    never a cross product. The classic attribution-window join."""
    ev = _t(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("c_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    joined = p.join(
        c,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_ts") < F.col("p_ts")),
        "left",
    )
    return joined.groupBy(
        F.col("p_id").alias("event_id"), F.col("p_user").alias("user_id")
    ).agg(F.count("c_id").alias("n_clicks_1h"))


# --------------------------------------------------------------------------
# calendar-spine gap-fill (time-series resample with empty buckets)
# --------------------------------------------------------------------------

@register(
    "gapfill_daily_events",
    """
    WITH bounds AS (
      SELECT CAST(min(ts) AS DATE) AS lo, CAST(max(ts) AS DATE) AS hi
      FROM events
    ),
    spine AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS day
      FROM bounds
    ),
    daily AS (
      SELECT CAST(ts AS DATE) AS day, count(*) AS n FROM events GROUP BY 1
    )
    SELECT s.day, coalesce(d.n, 0) AS n_events
    FROM spine s LEFT JOIN daily d ON d.day = s.day
    """,
)
def gapfill_daily_events(spark, sf_dir):
    """Dense daily counts including zero days: the spine is generated
    from the aggregated bounds (2 scalar rows cross the driver-free
    plan, not the fact table), exploded, and left-joined to the daily
    partial agg — the standard resample shape at any scale."""
    ev = _t(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min(F.col("ts").cast("date")).alias("lo"),
        F.max(F.col("ts").cast("date")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi")).alias("day")
    )
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count("*").alias("n")
    )
    return spine.join(daily, "day", "left").select(
        "day", F.coalesce("n", F.lit(0)).alias("n_events")
    )


# --------------------------------------------------------------------------
# semi-join (EXISTS)
# --------------------------------------------------------------------------

@register(
    "semi_join_big_spenders",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_totalprice > 200000)
    """,
)
def semi_join_big_spenders(spark, sf_dir):
    big = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 200000)
    return (
        _t(spark, sf_dir, "customer")
        .join(big, F.col("c_custkey") == F.col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
    )


# --------------------------------------------------------------------------
# scalar subquery
# --------------------------------------------------------------------------

@register(
    "scalar_subquery_max_order",
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_totalprice > 0.95 * (SELECT max(o_totalprice) FROM orders)
    """,
)
def scalar_subquery_max_order(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    mx = orders.agg(F.max("o_totalprice").alias("m"))
    return (
        orders.join(F.broadcast(mx))
        .filter(F.col("o_totalprice") > 0.95 * F.col("m"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


# --------------------------------------------------------------------------
# INTERSECT / UNION set ops
# --------------------------------------------------------------------------

@register(
    "intersect_users",
    """
    SELECT user_id FROM events WHERE event_type = 'click'
    INTERSECT
    SELECT user_id FROM events WHERE event_type = 'purchase'
    """,
)
def intersect_users(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "click").select("user_id")
    b = ev.filter(F.col("event_type") == "purchase").select("user_id")
    return a.intersect(b)


@register(
    "except_all_multiset",
    """
    SELECT user_id FROM events WHERE event_type = 'view'
    EXCEPT ALL
    SELECT user_id FROM events WHERE event_type = 'purchase'
    """,
)
def except_all_multiset(spark, sf_dir):
    """Multiset difference (bag semantics): each purchase occurrence
    cancels ONE view occurrence of the same user — the duplicate
    accounting distinction the plain EXCEPT (set) query can't show."""
    ev = _t(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "view").select("user_id")
    b = ev.filter(F.col("event_type") == "purchase").select("user_id")
    return a.exceptAll(b)


@register(
    "intersect_all_multiset",
    """
    SELECT user_id FROM events WHERE event_type = 'view'
    INTERSECT ALL
    SELECT user_id FROM events WHERE event_type = 'click'
    """,
)
def intersect_all_multiset(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "view").select("user_id")
    b = ev.filter(F.col("event_type") == "click").select("user_id")
    return a.intersectAll(b)


@register(
    "union_event_kinds",
    """
    SELECT user_id, 'click' AS kind FROM events WHERE event_type = 'click'
    UNION
    SELECT user_id, 'view' AS kind FROM events WHERE event_type = 'view'
    """,
)
def union_event_kinds(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.lit("click").alias("kind")
    )
    b = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.lit("view").alias("kind")
    )
    return a.unionByName(b).distinct()


# --------------------------------------------------------------------------
# exact quantiles per group
# --------------------------------------------------------------------------

@register(
    "value_quantiles_by_type",
    """
    SELECT event_type,
           round(CAST(median(CAST(value AS DOUBLE)) AS DOUBLE), 6) AS median_value,
           round(CAST(min(value) AS DOUBLE), 6) AS min_value,
           round(CAST(max(value) AS DOUBLE), 6) AS max_value
    FROM events GROUP BY event_type
    """,
)
def value_quantiles_by_type(spark, sf_dir):
    return (
        _t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.round(F.median(F.col("value").cast("double")), 6)
            .cast("double").alias("median_value"),
            F.round(F.min("value").cast("double"), 6).alias("min_value"),
            F.round(F.max("value").cast("double"), 6).alias("max_value"),
        )
    )


# --------------------------------------------------------------------------
# CUBE grouping
# --------------------------------------------------------------------------

@register(
    "cube_lang_source",
    """
    SELECT lang, source, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY CUBE (lang, source)
    """,
)
def cube_lang_source(spark, sf_dir):
    return (
        _t(spark, sf_dir, "documents")
        .cube("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


# --------------------------------------------------------------------------
# MERGE/upsert emulation (no Delta in this container: anti-join + union,
# the standard CDC pattern; a real MERGE INTO slots in with Delta/Iceberg)
# --------------------------------------------------------------------------

@register(
    "merge_upsert_events",
    """
    WITH target AS (
      SELECT event_id, event_type, value FROM events WHERE event_id < 500
    ),
    source AS (
      SELECT event_id, event_type,
             CAST(value * 2 AS DOUBLE) AS value
      FROM events WHERE event_id >= 400 AND event_id < 600
    )
    SELECT event_id, event_type, round(CAST(value AS DOUBLE), 6) AS value,
           CASE WHEN event_id >= 400 THEN 'merged' ELSE 'kept' END AS op
    FROM (
      SELECT * FROM source
      UNION ALL
      SELECT t.* FROM target t
      WHERE NOT EXISTS (SELECT 1 FROM source s WHERE s.event_id = t.event_id)
    )
    """,
)
def merge_upsert_events(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    target = ev.filter(F.col("event_id") < 500).select(
        "event_id", "event_type", "value"
    )
    source = ev.filter(
        (F.col("event_id") >= 400) & (F.col("event_id") < 600)
    ).select(
        "event_id", "event_type", (F.col("value") * 2).cast("double").alias("value")
    )
    kept = target.join(source.select("event_id"), "event_id", "left_anti")
    merged = source.unionByName(kept)
    return merged.select(
        "event_id",
        "event_type",
        F.round(F.col("value").cast("double"), 6).alias("value"),
        F.when(F.col("event_id") >= 400, "merged").otherwise("kept").alias("op"),
    )


# --------------------------------------------------------------------------
# unpivot (stack): wide metrics -> long form
# --------------------------------------------------------------------------

@register(
    "unpivot_doc_metrics",
    f"""
    SELECT doc_id, 'n_chars' AS metric, CAST(n_chars AS BIGINT) AS value
    FROM documents
    UNION ALL
    SELECT doc_id, 'n_tokens' AS metric,
           CAST(len({DUCK_TOKENS})
                AS BIGINT) AS value
    FROM documents
    """,
)
def unpivot_doc_metrics(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").selectExpr(
        "doc_id",
        "cast(n_chars as long) as n_chars",
        f"cast(size({SPARK_TOKENS}) as long) as n_tokens",
    )
    return d.selectExpr(
        "doc_id",
        "stack(2, 'n_chars', n_chars, 'n_tokens', n_tokens)"
        " as (metric, value)",
    )


# --------------------------------------------------------------------------
# JSON scalar functions (props column is a JSON string)
# --------------------------------------------------------------------------

@register(
    "json_props_extract",
    """
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value,
           CAST(json_extract_string(props, '$.missing') IS NULL AS BOOLEAN)
             AS missing_is_null,
           count(*) OVER (PARTITION BY CAST(json_extract_string(props, '$.k')
                                            AS BIGINT) % 10) AS k_bucket_n
    FROM events
    """,
)
def json_props_extract(spark, sf_dir):
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    missing = F.get_json_object("props", "$.missing").isNull()
    w = Window.partitionBy(k % 10)
    return ev.select(
        "event_id",
        k.alias("k_value"),
        missing.alias("missing_is_null"),
        F.count("*").over(w).alias("k_bucket_n"),
    )


# --------------------------------------------------------------------------
# explicit GROUPING SETS (beyond rollup/cube)
# --------------------------------------------------------------------------

@register(
    "grouping_sets_events",
    """
    SELECT event_type, user_id % 3 AS ubucket, count(*) AS n
    FROM events
    GROUP BY GROUPING SETS ((event_type), (user_id % 3), ())
    """,
)
def grouping_sets_events(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").withColumn(
        "ubucket", F.col("user_id") % 3
    )
    return ev.groupingSets(
        [["event_type"], ["ubucket"], []], "event_type", "ubucket"
    ).agg(F.count("*").alias("n"))


# --------------------------------------------------------------------------
# correlated subquery: orders above their customer's average
# --------------------------------------------------------------------------

@register(
    "correlated_above_avg_orders",
    """
    SELECT o_orderkey, o_custkey,
           round(CAST(o_totalprice AS DOUBLE), 6) AS o_totalprice
    FROM orders o
    WHERE o_totalprice > (
      SELECT CAST(SUM(CAST(o2.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             / count(*)
      FROM orders o2 WHERE o2.o_custkey = o.o_custkey
    )
    """,
)
def correlated_above_avg_orders(spark, sf_dir):
    """Catalyst decorrelates this into the window form below — the
    DataFrame API expresses it directly as one shuffle on custkey."""
    from pyspark.sql import Window

    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    cust_avg = (
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(w)
        .cast("double") / F.count("*").over(w)
    )
    return (
        orders.withColumn("cust_avg", cust_avg)
        .filter(F.col("o_totalprice") > F.col("cust_avg"))
        .select(
            "o_orderkey", "o_custkey",
            F.round(F.col("o_totalprice").cast("double"), 6)
            .alias("o_totalprice"),
        )
    )


# --------------------------------------------------------------------------
# null semantics: coalesce / nullif / null-safe equality
# --------------------------------------------------------------------------

@register(
    "null_semantics_props",
    """
    SELECT event_id,
           coalesce(json_extract_string(props, '$.missing'), 'absent')
             AS with_default,
           nullif(CAST(json_extract_string(props, '$.k') AS BIGINT), 0)
             AS k_nonzero,
           (CAST(json_extract_string(props, '$.k') AS BIGINT)
              IS NOT DISTINCT FROM 0) AS k_is_zero_nullsafe
    FROM events
    """,
)
def null_semantics_props(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.select(
        "event_id",
        F.coalesce(
            F.get_json_object("props", "$.missing"), F.lit("absent")
        ).alias("with_default"),
        F.nullif(k, F.lit(0)).alias("k_nonzero"),
        k.eqNullSafe(F.lit(0)).alias("k_is_zero_nullsafe"),
    )
