"""Window-function breadth, subqueries, unpivot, map/regex functions,
and cross-join grids — the long tail of SURVEY.md section 2.4-2.8.

All pure-Column plans (whole-stage codegen, no UDFs).  Window ORDER BY
keys are always non-null and unique (ts_us, event_id) so Spark's
nulls-first vs DuckDB's nulls-last defaults can never diverge; every
float emitted either passes through unchanged or goes through the
decimal-exact / portable-round patterns from tables.py.
"""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..tables import (
    ORACLE_ROUND2,
    cents,
    events,
    load,
    quantize_units,
    rebalance_for_cpu,
    round2,
)
from .registry import query

HOUR_US = 3600 * 1_000_000


@query(
    "q_window_ntile",
    oracle="""
    SELECT user_id, event_id,
           ntile(4) OVER w AS quartile,
           dense_rank() OVER (PARTITION BY user_id ORDER BY event_type)
               AS type_rank,
           percent_rank() OVER w AS pr,
           cume_dist() OVER w AS cd
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    """,
)
def q_window_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-family windows: ntile / dense_rank / percent_rank /
    cume_dist.  percent_rank and cume_dist are single exact-integer
    divisions — bit-identical doubles in both engines.  All four share
    one user_id partitioning (one shuffle, one sort)."""
    ev = events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    wt = Window.partitionBy("user_id").orderBy("event_type")
    return ev.select(
        "user_id",
        "event_id",
        F.ntile(4).over(w).alias("quartile"),
        F.dense_rank().over(wt).alias("type_rank"),
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
    )


@query(
    "q_first_last",
    oracle="""
    SELECT user_id, event_id,
           first_value(event_id) OVER w AS first_ev,
           last_value(event_id) OVER w AS last_ev,
           nth_value(event_id, 2) OVER w AS second_ev,
           lead(event_id, 1, -1) OVER (PARTITION BY user_id
                                       ORDER BY epoch_us(ts), event_id)
               AS next_ev
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def q_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic value windows: first/last/nth over the full partition
    frame + lead with default.  The explicit unbounded frame makes
    last_value/nth_value well-defined identically in both engines."""
    ev = events(spark, sf_dir)
    wf = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    wl = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        F.first("event_id").over(wf).alias("first_ev"),
        F.last("event_id").over(wf).alias("last_ev"),
        F.nth_value("event_id", 2).over(wf).alias("second_ev"),
        F.lead("event_id", 1, -1).over(wl).alias("next_ev"),
    )


@query(
    "q_window_range",
    oracle=f"""
    SELECT user_id, event_id, epoch_us(ts) AS ts_us,
           count(*) OVER w AS n_1h,
           round(CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE), 2)
               AS sum_1h
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN {HOUR_US} PRECEDING AND CURRENT ROW)
    """,
)
def q_window_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame: per-event trailing-1-hour count and sum per user
    (value-based frame bounds, not row counts — ties in ts all enter the
    frame, so the frame SET is deterministic even with duplicate
    timestamps).  The sum is decimal-exact, order-insensitive."""
    ev = events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-HOUR_US, 0)
    )
    return ev.select(
        "user_id",
        "event_id",
        "ts_us",
        F.count(F.lit(1)).over(w).alias("n_1h"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,2)")).over(w).cast("double"),
            2,
        ).alias("sum_1h"),
    )


@query(
    "q_subquery_scalar",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE o_totalprice > (
        SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               / count(o_totalprice)
        FROM orders
    )
    """,
)
def q_subquery_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery: orders above the global average price.  The
    average is the decimal-exact sum / count (identical double in both
    engines, so the > comparison can never flip).  Plan: single-row
    aggregate broadcast into the filter — no second scan of orders at
    scale beyond the aggregate's own."""
    orders = load(spark, sf_dir, "orders")
    avg_df = orders.agg(
        (
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double")
            / F.count("o_totalprice")
        ).alias("avg_price")
    )
    return (
        orders.crossJoin(F.broadcast(avg_df))
        .where(F.col("o_totalprice") > F.col("avg_price"))
        .select("o_orderkey", "o_totalprice")
    )


@query(
    "q_subquery_correlated",
    oracle=f"""
    SELECT c.c_custkey, c.c_acctbal,
           {ORACLE_ROUND2.format(x="n.nation_avg")} AS nation_avg
    FROM customer c
    JOIN (
        SELECT c_nationkey,
               CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                   / count(c_acctbal) AS nation_avg
        FROM customer GROUP BY c_nationkey
    ) n ON c.c_nationkey = n.c_nationkey
    WHERE c.c_acctbal > n.nation_avg
    """,
)
def q_subquery_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated subquery (customers richer than their nation's
    average), decorrelated to a grouped aggregate + join — the rewrite
    Catalyst itself applies to correlated scalar subqueries.  The
    filter compares the unrounded exact average; rounding happens only
    on emit."""
    cust = load(spark, sf_dir, "customer")
    nation_avg = cust.groupBy("c_nationkey").agg(
        (
            F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double")
            / F.count("c_acctbal")
        ).alias("nation_avg")
    )
    return (
        cust.join(F.broadcast(nation_avg), "c_nationkey")
        .where(F.col("c_acctbal") > F.col("nation_avg"))
        .select(
            "c_custkey",
            "c_acctbal",
            round2(F.col("nation_avg")).alias("nation_avg"),
        )
    )


@query(
    "q_unpivot",
    oracle="""
    SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure,
           l_quantity AS val
    FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
    FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
    FROM lineitem
    """,
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide -> long): three measure columns into (measure, val)
    rows.  Spark's unpivot is a single-pass Expand — the scan is read
    once, not once per measure (the UNION ALL oracle reads it three
    times; at 100 TB the Expand shape is the point)."""
    li = load(spark, sf_dir, "lineitem")
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount"],
        "measure",
        "val",
    )


@query(
    "q_map_funcs",
    oracle="""
    SELECT event_id,
           array_to_string(json_keys(props), ',') AS ks,
           CAST(props->>'$.k' AS BIGINT) AS kv,
           len(json_keys(props)) AS n_keys
    FROM events
    """,
)
def q_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map functions over JSON-derived maps: from_json -> map_keys /
    element access / size (SURVEY.md 2.8 map family).  Key order is
    normalized by array_sort so the concatenation is deterministic."""
    ev = events(spark, sf_dir)
    m = F.from_json(F.col("props"), "map<string,bigint>")
    return ev.select(
        "event_id",
        F.array_join(F.array_sort(F.map_keys(m)), ",").alias("ks"),
        m.getItem("k").alias("kv"),
        F.size(F.map_keys(m)).alias("n_keys"),
    )


@query(
    "q_regex_extract",
    oracle="""
    SELECT event_id,
           nullif(regexp_extract(props, '"k":\\s*(\\d+)', 1), '') AS k_str,
           CAST(nullif(regexp_extract(props, '"k":\\s*(\\d+)', 1), '')
                AS BIGINT) AS k_num,
           regexp_matches(event_type, '^(click|view)$') AS is_passive
    FROM events
    """,
)
def q_regex_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex capture groups + full-match predicate (extends the
    reference's regex usage, app.rb:141,198, to extraction).  Both
    engines return '' for a non-matching extract; nullif normalizes."""
    ev = events(spark, sf_dir)
    k = F.nullif(
        F.regexp_extract(F.col("props"), r'"k":\s*(\d+)', 1), F.lit("")
    )
    return ev.select(
        "event_id",
        k.alias("k_str"),
        k.cast("bigint").alias("k_num"),
        F.col("event_type").rlike("^(click|view)$").alias("is_passive"),
    )


@query(
    "q_cross_join_grid",
    oracle="""
    WITH segs AS (SELECT DISTINCT c_mktsegment FROM customer),
    counts AS (
        SELECT n_regionkey, c_mktsegment, count(*) AS n_cust
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_regionkey, c_mktsegment
    )
    SELECT r_name, segs.c_mktsegment AS c_mktsegment,
           coalesce(n_cust, 0) AS n_cust
    FROM region CROSS JOIN segs
    LEFT JOIN counts ON counts.n_regionkey = region.r_regionkey
                     AND counts.c_mktsegment = segs.c_mktsegment
    """,
)
def q_cross_join_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross join as a dense dimension grid (region x market segment)
    left-joined to observed counts — the zero-filled-matrix pattern.
    Both cross-join sides are tiny dimension sets; the fact aggregation
    happens BEFORE the grid join, so the grid never multiplies facts."""
    region = load(spark, sf_dir, "region")
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    segs = cust.select("c_mktsegment").distinct()
    counts = (
        cust.join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .groupBy("n_regionkey", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    return (
        region.crossJoin(F.broadcast(segs))
        .join(
            counts,
            (counts["n_regionkey"] == region["r_regionkey"])
            & (counts["c_mktsegment"] == segs["c_mktsegment"]),
            "left",
        )
        .select(
            "r_name",
            segs["c_mktsegment"].alias("c_mktsegment"),
            F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
        )
    )


@query(
    "q_cube",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           GROUPING(o_orderstatus, o_orderpriority) AS gid,
           count(*) AS n_orders
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all 2^k grouping combinations in one Expand + one
    aggregation (completes the rollup/grouping-sets family)."""
    orders = load(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .select("o_orderstatus", "o_orderpriority", "gid", "n_orders")
    )


@query(
    "q_conditional_agg",
    oracle="""
    SELECT user_id,
           count(*) FILTER (WHERE event_type = 'error') AS n_errors,
           count(*) FILTER (WHERE value > 50.0) AS n_high,
           round(CAST(sum(CAST(value AS DECIMAL(18,2)))
                      FILTER (WHERE event_type = 'purchase') AS DOUBLE), 2)
               AS purchase_sum
    FROM events
    GROUP BY user_id
    """,
)
def q_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered/conditional aggregates: count_if + conditional decimal
    sum — one pass, one shuffle of partials."""
    ev = events(spark, sf_dir)
    return ev.groupBy("user_id").agg(
        F.count_if(F.col("event_type") == "error").alias("n_errors"),
        F.count_if(F.col("value") > 50.0).alias("n_high"),
        F.round(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.col("value").cast("decimal(18,2)"),
                )
            ).cast("double"),
            2,
        ).alias("purchase_sum"),
    )


@query(
    "q_collect_set",
    oracle="""
    SELECT user_id,
           array_to_string(list_sort(list_distinct(list(event_type))), ',')
               AS types,
           len(list_distinct(list(event_type))) AS n_types
    FROM events
    GROUP BY user_id
    """,
)
def q_collect_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-set aggregation (collect_set), order-normalized via
    array_sort so the concatenation is deterministic."""
    ev = events(spark, sf_dir)
    cs = F.array_sort(F.collect_set("event_type"))
    return ev.groupBy("user_id").agg(
        F.array_join(cs, ",").alias("types"),
        F.size(cs).alias("n_types"),
    )


@query(
    "q_null_funcs",
    oracle="""
    SELECT event_id,
           nullif(event_type, 'click') AS nn,
           coalesce(nullif(event_type, 'click'), 'suppressed') AS co,
           CASE WHEN nullif(event_type, 'click') IS NOT NULL
                THEN 'present' ELSE 'absent' END AS presence
    FROM events
    """,
)
def q_null_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-handling family: nullif / coalesce / nvl2-style presence
    (the reference's dig-returns-nil tolerance, app.rb:64,137, as
    explicit three-valued logic)."""
    ev = events(spark, sf_dir)
    nn = F.nullif(F.col("event_type"), F.lit("click"))
    return ev.select(
        "event_id",
        nn.alias("nn"),
        F.coalesce(nn, F.lit("suppressed")).alias("co"),
        F.when(nn.isNotNull(), "present").otherwise("absent").alias("presence"),
    )


@query(
    "q_bitwise",
    oracle="""
    SELECT event_id,
           event_id & 255 AS b_and,
           event_id | 4096 AS b_or,
           xor(event_id, 255) AS b_xor,
           event_id << 2 AS b_shl,
           event_id >> 3 AS b_shr
    FROM events
    """,
)
def q_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise function family — exact integer ops, trivially
    cross-engine."""
    ev = events(spark, sf_dir)
    e = F.col("event_id")
    return ev.select(
        "event_id",
        e.bitwiseAND(F.lit(255)).alias("b_and"),
        e.bitwiseOR(F.lit(4096)).alias("b_or"),
        e.bitwiseXOR(F.lit(255)).alias("b_xor"),
        F.shiftleft(e, 2).alias("b_shl"),
        F.shiftright(e, 3).alias("b_shr"),
    )


@query(
    "q_skew_join_salted",
    oracle="""
    SELECT e.event_id, e.user_id, d.n_user
    FROM events e
    JOIN (SELECT user_id, count(*) AS n_user FROM events GROUP BY user_id) d
      ON e.user_id = d.user_id
    """,
)
def q_skew_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated join: the fact side adds a deterministic salt
    (event_id mod 8), the (small) per-key aggregate side replicates
    across all 8 salts, and the join key becomes (user_id, salt) — a hot
    user's rows now spread over 8 reducers instead of one.  The oracle is
    the UNSALTED join: salting is physical-only, results are identical.
    (AQE's skew-join split handles this automatically for sort-merge
    joins; explicit salting is the portable form for aggregate-heavy
    pipelines where the skew survives into the shuffle.)"""
    ev = events(spark, sf_dir)
    n_salts = 8
    dim = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_user"))
    dim_salted = dim.select(
        "user_id",
        "n_user",
        F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1))).alias("salt"),
    )
    fact_salted = ev.select(
        "event_id", "user_id", (F.col("event_id") % n_salts).alias("salt")
    )
    return fact_salted.join(dim_salted, ["user_id", "salt"]).select(
        "event_id", "user_id", "n_user"
    )


@query(
    "q_stats_moments",
    oracle="""
    SELECT event_type, n,
           (floor((CASE WHEN n > 1 THEN (sxx - sx * sx / n) / (n - 1) END) * 10000.0 + 0.5) / 10000.0) AS var_v,
           (floor((CASE WHEN n > 1 THEN sqrt((sxx - sx * sx / n) / (n - 1)) END) * 10000.0 + 0.5) / 10000.0) AS std_v,
           (floor(((n * sxy - sx * sy)
                   / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))) * 10000.0 + 0.5) / 10000.0) AS corr_vk
    FROM (
        SELECT event_type,
               count(*) AS n,
               CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sx,
               CAST(sum(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
               CAST(sum(CAST(CAST(props->>'$.k' AS BIGINT) AS DECIMAL(18,2))) AS DOUBLE) AS sy,
               CAST(sum(CAST(CAST(props->>'$.k' AS BIGINT) AS DECIMAL(18,2))
                        * CAST(CAST(props->>'$.k' AS BIGINT) AS DECIMAL(18,2))) AS DOUBLE) AS syy,
               CAST(sum(CAST(value AS DECIMAL(18,2))
                        * CAST(CAST(props->>'$.k' AS BIGINT) AS DECIMAL(18,2))) AS DOUBLE) AS sxy
        FROM events
        WHERE value IS NOT NULL AND CAST(props->>'$.k' AS BIGINT) IS NOT NULL
        GROUP BY event_type
    )
    """,
)
def q_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates (variance / stddev / correlation) derived
    from DECIMAL-EXACT raw moments instead of the built-in var_samp/corr
    (whose float accumulation is partition-order-dependent): the five
    sums are order-insensitive decimals, so both engines derive the same
    doubles from the same exact values.  One shuffle of partial sums."""
    from ..tables import round4 as _round4

    ev = events(spark, sf_dir)
    v = F.col("value").cast("decimal(18,2)")
    k = F.get_json_object("props", "$.k").cast("bigint").cast("decimal(18,2)")
    base = (
        ev.where(
            F.col("value").isNotNull()
            & F.get_json_object("props", "$.k").cast("bigint").isNotNull()
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(v).cast("double").alias("sx"),
            F.sum(v * v).cast("double").alias("sxx"),
            F.sum(k).cast("double").alias("sy"),
            F.sum(k * k).cast("double").alias("syy"),
            F.sum(v * k).cast("double").alias("sxy"),
        )
    )
    n = F.col("n").cast("double")
    var_v = F.when(
        F.col("n") > 1,
        (F.col("sxx") - F.col("sx") * F.col("sx") / n) / (n - 1),
    )
    corr = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / F.sqrt(
        (n * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (n * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return base.select(
        "event_type",
        "n",
        _round4(var_v).alias("var_v"),
        _round4(F.sqrt(var_v)).alias("std_v"),
        _round4(corr).alias("corr_vk"),
    )


@query(
    "q_string_pad",
    oracle="""
    SELECT c_custkey,
           lpad(c_name, 25, '*') AS padded_l,
           rpad(c_name, 25, '.') AS padded_r,
           translate(c_name, '#0', '-x') AS translated,
           levenshtein(c_name, 'Customer#000000001') AS lev,
           split_part(c_name, '#', 2) AS name_num,
           reverse(c_name) AS rev,
           repeat(substring(c_name, 1, 2), 2) AS rep
    FROM customer
    """,
)
def q_string_pad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function breadth: pad / translate / levenshtein /
    split_part / reverse / repeat (completes SURVEY.md 2.8's string
    family beyond the REF's concat/replace/regex)."""
    cust = load(spark, sf_dir, "customer")
    c = F.col("c_name")
    return cust.select(
        "c_custkey",
        F.lpad(c, 25, "*").alias("padded_l"),
        F.rpad(c, 25, ".").alias("padded_r"),
        F.translate(c, "#0", "-x").alias("translated"),
        F.levenshtein(c, F.lit("Customer#000000001")).alias("lev"),
        F.split_part(c, F.lit("#"), F.lit(2)).alias("name_num"),
        F.reverse(c).alias("rev"),
        F.repeat(F.substring(c, 1, 2), 2).alias("rep"),
    )


@query(
    "q_array_funcs",
    oracle="""
    SELECT doc_id,
           array_to_string(list_sort(list_distinct(list_intersect(a, b))), ',')
               AS inter,
           array_to_string(list_sort(list_distinct(
               list_filter(a, x -> NOT list_contains(b, x)))), ',') AS exc,
           array_to_string(list_sort(list_distinct(list_concat(a, b))), ',')
               AS uni,
           list_contains(a, 'the') AS has_the,
           len(a) AS n_a
    FROM (
        SELECT doc_id,
               string_split(text, ' ')[1:5] AS a,
               string_split(text, ' ')[3:7] AS b
        FROM documents
    )
    """,
)
def q_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-function breadth: intersect / except / union / contains /
    slice — results order-normalized (sorted, distinct) because Spark
    preserves left-argument order while DuckDB does not."""
    docs = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    a = F.slice(toks, 1, 5)
    b = F.slice(toks, 3, 5)
    base = docs.select("doc_id", a.alias("a"), b.alias("b"))
    def joined(col):
        # empty list -> NULL: DuckDB's array_to_string emits NULL for an
        # empty list where Spark emits ''; nullif aligns the two.
        return F.nullif(F.array_join(F.array_sort(col), ","), F.lit(""))

    return base.select(
        "doc_id",
        joined(F.array_intersect("a", "b")).alias("inter"),
        joined(F.array_except("a", "b")).alias("exc"),
        joined(F.array_union("a", "b")).alias("uni"),
        F.array_contains("a", "the").alias("has_the"),
        F.size("a").alias("n_a"),
    )


@query(
    "q_webhook_payload",
    oracle="""
    SELECT event_id,
           subject,
           '**' || subject || '**' || chr(10) || 'k=' || k AS description,
           CASE WHEN state = 'failure' THEN 15158332
                WHEN state = 'success' THEN 3066993 END AS discord_color,
           CASE WHEN state = 'failure' THEN '#e74c3c'
                WHEN state = 'success' THEN '#2ecc71' END AS slack_color,
           replace('**' || subject || '**' || chr(10) || 'k=' || k,
                   '**', '*') AS slack_text
    FROM (
        SELECT event_id,
               'user-' || user_id || ': ' || event_type AS subject,
               CAST(props->>'$.k' AS BIGINT) AS k,
               CASE WHEN event_type = 'error' THEN 'failure'
                    WHEN event_type = 'purchase' THEN
                         CASE WHEN value >= 50.0 THEN 'success'
                              ELSE 'failure' END
               END AS state
        FROM events
    )
    WHERE state IS NOT NULL
    """,
)
def q_webhook_payload(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REF's webhook payload shaping as a declared batch query
    (app.rb:183-189,213-265): markdown subject/description build, Discord
    decimal colors, Slack hex colors, and the Slack '**'->'*' bold
    rewrite — every string op exact, fully oracled.  The colors and the
    bold rewrite are the webhook sink's own column expressions; the
    description is built here with ``concat`` because ``k`` can be NULL,
    and the sink's ``concat_ws`` skips a NULL where DuckDB's ``||``
    yields NULL."""
    from ..functions import classify_state
    from ..streaming.sinks import discord_color, slack_bold, slack_color

    ev = events(spark, sf_dir)
    classified = ev.select(
        "event_id",
        F.concat(
            F.lit("user-"), F.col("user_id"), F.lit(": "), F.col("event_type")
        ).alias("subject"),
        F.get_json_object("props", "$.k").cast("bigint").alias("k"),
        classify_state(F.col("event_type"), F.col("value")).alias("state"),
    ).where(F.col("state").isNotNull())
    description = F.concat(
        F.lit("**"),
        F.col("subject"),
        F.lit("**\n"),
        F.lit("k="),
        F.col("k"),
    )
    return classified.select(
        "event_id",
        "subject",
        description.alias("description"),
        discord_color().alias("discord_color"),
        slack_color().alias("slack_color"),
        slack_bold(description).alias("slack_text"),
    )


@query(
    "q_sql_tpch_q1",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2)
               AS sum_qty,
           round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2)
               AS sum_base_price,
           round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                          * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 2)
               AS sum_disc_price,
           round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                          * (1 - CAST(l_discount AS DECIMAL(18,2)))
                          * (1 + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE), 2)
               AS sum_charge,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_sql_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 (pricing summary) through the spark.sql SURFACE — the
    engine's SQL front end over a registered temp view, proving the same
    declared semantics are reachable by SQL text, not just the DataFrame
    API.  Decimal-exact sums throughout."""
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_v")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2)
                   AS sum_qty,
               round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2)
                   AS sum_base_price,
               round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                              * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 2)
                   AS sum_disc_price,
               round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                              * (1 - CAST(l_discount AS DECIMAL(18,2)))
                              * (1 + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE), 2)
                   AS sum_charge,
               count(*) AS count_order
        FROM lineitem_v
        WHERE l_shipdate <= TIMESTAMP '2001-09-01 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        """
    )


@query(
    "q_join_full",
    oracle="""
    SELECT coalesce(c.c_nationkey, s.s_nationkey) AS nationkey,
           c.n_cust, s.n_supp
    FROM (SELECT c_nationkey, count(*) AS n_cust FROM customer
          GROUP BY c_nationkey) c
    FULL OUTER JOIN (SELECT s_nationkey, count(*) AS n_supp FROM supplier
                     GROUP BY s_nationkey) s
      ON c.c_nationkey = s.s_nationkey
    """,
)
def q_join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join: nations with customers but no suppliers (and
    vice versa) survive with NULLs on the absent side — completes the
    join-type family (SURVEY.md 2.3)."""
    cust = (
        load(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    supp = (
        load(spark, sf_dir, "supplier")
        .groupBy("s_nationkey")
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    return cust.join(
        supp, cust["c_nationkey"] == supp["s_nationkey"], "full_outer"
    ).select(
        F.coalesce("c_nationkey", "s_nationkey").alias("nationkey"),
        "n_cust",
        "n_supp",
    )


@query(
    "q_intersect_all",
    oracle="""
    SELECT user_id, event_type FROM events WHERE value > 30.0
    INTERSECT ALL
    SELECT user_id, event_type FROM events WHERE value < 70.0
    """,
)
def q_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL (multiplicity-preserving, unlike q_intersect's
    distinct semantics)."""
    ev = events(spark, sf_dir)
    hi = ev.where(F.col("value") > 30.0).select("user_id", "event_type")
    lo = ev.where(F.col("value") < 70.0).select("user_id", "event_type")
    return hi.intersectAll(lo)


@query(
    "q_except_all",
    oracle="""
    SELECT user_id, event_type FROM events WHERE value > 30.0
    EXCEPT ALL
    SELECT user_id, event_type FROM events WHERE value > 70.0
    """,
)
def q_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL (bag difference — each duplicate subtracts once)."""
    ev = events(spark, sf_dir)
    a = ev.where(F.col("value") > 30.0).select("user_id", "event_type")
    b = ev.where(F.col("value") > 70.0).select("user_id", "event_type")
    return a.exceptAll(b)


@query(
    "q_argmax",
    oracle="""
    SELECT user_id,
           arg_max(event_type, event_id) AS last_type,
           arg_min(event_type, event_id) AS first_type,
           max(event_id) AS max_eid
    FROM events
    GROUP BY user_id
    """,
)
def q_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """argmax/argmin aggregates (max_by/min_by) keyed on the UNIQUE
    event_id, so the selected row is deterministic — the single-pass
    alternative to the row_number()=1 pattern of q_dedup_latest."""
    ev = events(spark, sf_dir)
    return ev.groupBy("user_id").agg(
        F.max_by("event_type", "event_id").alias("last_type"),
        F.min_by("event_type", "event_id").alias("first_type"),
        F.max("event_id").alias("max_eid"),
    )


@query(
    "q_date_breadth",
    oracle="""
    SELECT o_orderkey,
           CAST(last_day(CAST(o_orderdate AS DATE)) AS VARCHAR) AS month_end,
           quarter(CAST(o_orderdate AS DATE)) AS q,
           isodow(CAST(o_orderdate AS DATE)) AS iso_dow,
           weekofyear(CAST(o_orderdate AS DATE)) AS iso_week,
           CAST(CAST(CAST(o_orderdate AS DATE) + INTERVAL 1 MONTH AS DATE)
                AS VARCHAR) AS next_month,
           datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
               AS days_since_epoch_start
    FROM orders
    """,
)
def q_date_breadth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-function breadth: last_day / quarter / ISO day-of-week /
    ISO week / add_months / datediff.  Conventions verified aligned:
    Spark weekday+1 == DuckDB isodow, both weekofyear are ISO, both
    month-adds clamp to month end.  Dates emit as strings so the hash
    never depends on an engine's date serialization."""
    orders = load(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    return orders.select(
        "o_orderkey",
        F.last_day(d).cast("string").alias("month_end"),
        F.quarter(d).alias("q"),
        (F.weekday(d) + 1).alias("iso_dow"),
        F.weekofyear(d).alias("iso_week"),
        F.add_months(d, 1).cast("string").alias("next_month"),
        F.datediff(d, F.lit("1995-01-01").cast("date")).alias(
            "days_since_epoch_start"
        ),
    )


@query(
    "q_percentile_cont",
    oracle="""
    SELECT event_type,
           (floor((quantile_cont(value, 0.5)) * 10000.0 + 0.5) / 10000.0)
               AS p50,
           (floor((quantile_cont(value, 0.9)) * 10000.0 + 0.5) / 10000.0)
               AS p90
    FROM events
    WHERE value IS NOT NULL
    GROUP BY event_type
    """,
)
def q_percentile_cont(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated (continuous) percentiles: both engines compute
    (1-f)*lo + f*hi over the same sorted doubles — the standard
    PERCENTILE_CONT definition; portable-rounded on emit."""
    from ..tables import round4 as _round4

    ev = events(spark, sf_dir).where(F.col("value").isNotNull())
    return ev.groupBy("event_type").agg(
        _round4(
            F.expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY value)")
        ).alias("p50"),
        _round4(
            F.expr("percentile_cont(0.9) WITHIN GROUP (ORDER BY value)")
        ).alias("p90"),
    )


@query(
    "q_like_family",
    oracle="""
    SELECT p_partkey,
           p_name LIKE '%green%' AS has_green,
           p_type ILIKE 'standard%' AS is_standard_ci,
           starts_with(p_brand, 'Brand#1') AS brand1,
           contains(p_name, 'ol') AS has_ol,
           ends_with(p_type, 'STEEL') AS steel
    FROM part
    """,
)
def q_like_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pattern-predicate family: LIKE / case-insensitive ILIKE /
    prefix / substring / suffix predicates."""
    part = load(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.col("p_name").like("%green%").alias("has_green"),
        F.col("p_type").ilike("standard%").alias("is_standard_ci"),
        F.startswith(F.col("p_brand"), F.lit("Brand#1")).alias("brand1"),
        F.contains(F.col("p_name"), F.lit("ol")).alias("has_ol"),
        F.endswith(F.col("p_type"), F.lit("STEEL")).alias("steel"),
    )


@query(
    "q_count_distinct_multi",
    oracle="""
    SELECT event_type,
           count(DISTINCT (user_id, epoch_us(ts) // 86400000000))
               AS active_user_days,
           count(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY event_type
    """,
)
def q_count_distinct_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-column exact count-distinct (the active-user-days shape):
    distinct over a composite key inside a grouped aggregation."""
    ev = events(spark, sf_dir)
    day = F.expr("ts_us div 86400000000")
    return ev.groupBy("event_type").agg(
        F.countDistinct(F.col("user_id"), day).alias("active_user_days"),
        F.countDistinct("user_id").alias("n_users"),
    )


@query(
    "q_window_global",
    oracle="""
    SELECT event_id,
           row_number() OVER (ORDER BY epoch_us(ts), event_id) AS global_seq,
           rank() OVER (ORDER BY value DESC, event_id) AS value_rank
    FROM events
    WHERE value IS NOT NULL
    """,
)
def q_window_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global (partitionless-SEMANTICS) windows, computed scalably: both
    total orders are bucketed prefix sums (operators/ranking) — range
    buckets from approxQuantile boundaries, per-bucket parallel windows,
    and a broadcast bucket-offset table — so no single-task window
    appears in the plan.  ``rank() OVER (ORDER BY value DESC, event_id)``
    has a unique tiebreaker, so it equals row_number under the same
    order and the prefix-sum rank is exact."""
    from ..operators import ranking

    ev = events(spark, sf_dir).where(F.col("value").isNotNull())
    ts_bounds = ranking.quantile_boundaries(ev, "ts_us", 32)
    seq = ranking.global_row_number(
        ev,
        [F.col("ts_us").asc(), F.col("event_id").asc()],
        ranking.range_bucket(F.col("ts_us"), ts_bounds),
        "global_seq",
    )
    val_bounds = ranking.quantile_boundaries(ev, "value", 32)
    # Descending leading key: bucket is monotone in `value`, offsets
    # accumulate from the high buckets down (bucket_desc=True).
    # nan_last: Spark sorts NaN as the largest double — route any NaN
    # to the top bucket so its rank matches the sort order.
    ranked = ranking.global_row_number(
        seq,
        [F.col("value").desc(), F.col("event_id").asc()],
        ranking.range_bucket(F.col("value"), val_bounds, nan_last=True),
        "value_rank",
        bucket_desc=True,
    )
    return ranked.select("event_id", "global_seq", "value_rank")


@query(
    "q_try_funcs",
    oracle="""
    SELECT event_id,
           TRY_CAST(event_type AS BIGINT) AS bad_cast,
           TRY_CAST(props->>'$.k' AS BIGINT) AS good_cast,
           CASE WHEN (event_id % 10) = 0 THEN NULL
                ELSE CAST(value AS DOUBLE) / (event_id % 10) END AS safe_div
    FROM events
    """,
)
def q_try_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-tolerant evaluation: try_cast + try_divide return NULL where
    ANSI mode would raise — the engine-level form of the parser's
    drop-bad-lines tolerance (lib/ndjson.rb:26-34).  Division by zero
    yields NULL on both sides (the DuckDB oracle spells it with CASE)."""
    ev = events(spark, sf_dir)
    return ev.select(
        "event_id",
        F.expr("try_cast(event_type AS BIGINT)").alias("bad_cast"),
        F.expr(
            "try_cast(get_json_object(props, '$.k') AS BIGINT)"
        ).alias("good_cast"),
        F.try_divide(F.col("value"), F.col("event_id") % 10).alias("safe_div"),
    )


@query(
    "q_struct_json",
    oracle="""
    SELECT event_id,
           to_json(struct_pack(
               uid := user_id,
               etype := event_type,
               ts_us := epoch_us(ts))) AS payload,
           json_extract_string(
               to_json(struct_pack(uid := user_id, etype := event_type)),
               '$.etype') AS roundtrip
    FROM events
    """,
)
def q_struct_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Struct construction + JSON serialization + re-extraction: the
    sink-payload-building shape (app.rb:213-237 builds nested JSON
    bodies).  Field order and compact formatting agree across engines;
    struct fields are non-null so the engines' null-field policies never
    differ."""
    ev = events(spark, sf_dir)
    return ev.select(
        "event_id",
        F.to_json(
            F.struct(
                F.col("user_id").alias("uid"),
                F.col("event_type").alias("etype"),
                F.col("ts_us"),
            )
        ).alias("payload"),
        F.get_json_object(
            F.to_json(
                F.struct(
                    F.col("user_id").alias("uid"),
                    F.col("event_type").alias("etype"),
                )
            ),
            "$.etype",
        ).alias("roundtrip"),
    )


@query(
    "q_explode_outer",
    oracle="""
    SELECT doc_id, tok
    FROM (
        SELECT doc_id,
               unnest(CASE WHEN len(f) = 0 THEN [NULL] ELSE f END) AS tok
        FROM (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), t -> t = 'the') AS f
            FROM documents
        )
    )
    """,
)
def q_explode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode_outer: rows with an EMPTY array survive as a NULL row
    (plain explode drops them) — the outer-lateral semantics; the oracle
    spells it with an explicit [NULL] substitution."""
    docs = load(spark, sf_dir, "documents")
    f = F.filter(F.split("text", " "), lambda t: t == "the")
    return docs.select("doc_id", F.explode_outer(f).alias("tok"))


@query(
    "q_map_transform",
    oracle="""
    SELECT event_id,
           'k=' || CAST(2 * CAST(props->>'$.k' AS BIGINT) AS VARCHAR)
               AS doubled_entries,
           CAST(props->>'$.k' AS BIGINT) % 7 AS k_mod
    FROM events
    """,
)
def q_map_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map value transformation + serialization — the reference's
    ``details.transform_values { ... }.to_json`` (app.rb:189).  Entries
    are emitted as a SORTED key=value concatenation, which removes the
    map-iteration-order difference that usually forces map ops to
    rows-only checks."""
    ev = events(spark, sf_dir)
    m = F.from_json(F.col("props"), "map<string,bigint>")
    doubled = F.transform_values(m, lambda _k, v: v * 2)
    entries = F.transform(
        F.array_sort(F.map_entries(doubled)),
        lambda e: F.concat_ws("=", e["key"], e["value"].cast("string")),
    )
    return ev.select(
        "event_id",
        F.array_join(entries, ",").alias("doubled_entries"),
        (m.getItem("k") % 7).alias("k_mod"),
    )


@query(
    "q_sql_tpch_q6",
    oracle="""
    SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                          * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE), 2)
               AS revenue,
           count(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.02 AND 0.09
      AND l_quantity < 24.0
    """,
)
def q_sql_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecasting revenue change) through spark.sql: the
    all-predicates-pushed single-scan aggregate — every filter lands in
    the parquet reader, the aggregation is one partial+final pair."""
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_v6")
    return spark.sql(
        """
        SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                              * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE), 2)
                   AS revenue,
               count(*) AS n_rows
        FROM lineitem_v6
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
          AND l_discount BETWEEN 0.02 AND 0.09
          AND l_quantity < 24.0
        """
    )


@query(
    "q_sql_tpch_q18",
    oracle="""
    SELECT c_custkey, o_orderkey,
           round(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE), 2)
               AS o_price,
           sum_qty
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN (
        SELECT l_orderkey,
               round(CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2)))
                          AS DECIMAL(18,2)) AS DOUBLE), 2) AS sum_qty
        FROM lineitem
        GROUP BY l_orderkey
        HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 150
    ) big ON big.l_orderkey = o_orderkey
    """,
)
def q_sql_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-quantity orders) through spark.sql: a
    HAVING-filtered aggregate subquery joined back to its dimensions —
    the decimal HAVING threshold is exact, so membership can't flip."""
    for name, view in [
        ("customer", "customer_v18"),
        ("orders", "orders_v18"),
        ("lineitem", "lineitem_v18"),
    ]:
        load(spark, sf_dir, name).createOrReplaceTempView(view)
    return spark.sql(
        """
        SELECT c_custkey, o_orderkey,
               round(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE), 2)
                   AS o_price,
               sum_qty
        FROM customer_v18
        JOIN orders_v18 ON c_custkey = o_custkey
        JOIN (
            SELECT l_orderkey,
                   round(CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2)))
                              AS DECIMAL(18,2)) AS DOUBLE), 2) AS sum_qty
            FROM lineitem_v18
            GROUP BY l_orderkey
            HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 150
        ) big ON big.l_orderkey = o_orderkey
        """
    )


@query(
    "q_data_profile",
    oracle="""
    SELECT 'l_quantity' AS col, count(*) AS n, count(l_quantity) AS n_nonnull,
           count(DISTINCT l_quantity) AS n_distinct,
           round(CAST(min(l_quantity) AS DOUBLE), 2) AS min_v,
           round(CAST(max(l_quantity) AS DOUBLE), 2) AS max_v
    FROM lineitem
    UNION ALL
    SELECT 'l_discount', count(*), count(l_discount),
           count(DISTINCT l_discount),
           round(CAST(min(l_discount) AS DOUBLE), 2),
           round(CAST(max(l_discount) AS DOUBLE), 2)
    FROM lineitem
    UNION ALL
    SELECT 'l_tax', count(*), count(l_tax), count(DISTINCT l_tax),
           round(CAST(min(l_tax) AS DOUBLE), 2),
           round(CAST(max(l_tax) AS DOUBLE), 2)
    FROM lineitem
    """,
)
def q_data_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling (the ingest-QA op): per-column row/non-null/
    distinct counts and bounds, long-form.  ONE scan computes every
    column's aggregates (the oracle's UNION ALL reads the table three
    times; at 100 TB the single-pass shape is the point)."""
    li = load(spark, sf_dir, "lineitem")
    agg = li.agg(
        F.count(F.lit(1)).alias("n"),
        *[
            agg_fn
            for c in ["l_quantity", "l_discount", "l_tax"]
            for agg_fn in [
                F.count(c).alias(f"nn_{c}"),
                F.countDistinct(c).alias(f"nd_{c}"),
                F.round(F.min(c).cast("double"), 2).alias(f"mn_{c}"),
                F.round(F.max(c).cast("double"), 2).alias(f"mx_{c}"),
            ]
        ],
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(c).alias("col"),
                F.col("n").alias("n"),
                F.col(f"nn_{c}").alias("n_nonnull"),
                F.col(f"nd_{c}").alias("n_distinct"),
                F.col(f"mn_{c}").alias("min_v"),
                F.col(f"mx_{c}").alias("max_v"),
            )
            for c in ["l_quantity", "l_discount", "l_tax"]
        ]
    )
    return agg.select(F.explode(rows).alias("p")).select("p.*")


@query(
    "q_outlier_iqr",
    oracle="""
    WITH q AS (
        SELECT event_type,
               percentile_disc(0.25) WITHIN GROUP (ORDER BY value) AS q1,
               percentile_disc(0.75) WITHIN GROUP (ORDER BY value) AS q3
        FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type, e.value
    FROM events e JOIN q ON e.event_type = q.event_type
    WHERE e.value < q.q1 - 1.5 * (q.q3 - q.q1)
       OR e.value > q.q3 + 1.5 * (q.q3 - q.q1)
    """,
)
def q_outlier_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IQR outlier detection (the data-cleaning filter): per-group
    quartiles via percentile_disc (ACTUAL data values — exact), fences
    from identical IEEE arithmetic, so outlier membership is
    deterministic cross-engine.  Quartiles broadcast back to the scan."""
    ev = events(spark, sf_dir)
    q = ev.groupBy("event_type").agg(
        F.expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY value)").alias("q1"),
        F.expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY value)").alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    return (
        ev.join(F.broadcast(q), "event_type")
        .where(
            (F.col("value") < F.col("q1") - 1.5 * iqr)
            | (F.col("value") > F.col("q3") + 1.5 * iqr)
        )
        .select("event_id", "event_type", "value")
    )


@query("q_approx_quantiles")
def q_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch (Greenwald-Khanna via
    ``percentile_approx``) per returnflag group — the 100 TB path for
    percentile dashboards where exact percentiles would need a full sort
    per group.  Rows-only: DuckDB's approx_quantile is a t-digest, a
    different sketch with different (both valid) answers.  Exact
    counterparts are oracled in q_percentile_disc / q_percentile_cont.
    The three quantiles are emitted as scalar columns (not
    array<double>): the driver collects rows-only results too, and its
    pandas canonicalizer throws on array cells."""
    li = load(spark, sf_dir, "lineitem")
    qs = F.percentile_approx("l_extendedprice", [0.5, 0.9, 0.99], 10000)
    return li.groupBy("l_returnflag").agg(
        qs.getItem(0).alias("approx_p50"),
        qs.getItem(1).alias("approx_p90"),
        qs.getItem(2).alias("approx_p99"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "q_variant_extract",
    oracle="""
    SELECT CAST(props->>'$.k' AS BIGINT) % 10 AS k_mod,
           count(*) AS n,
           min(CAST(props->>'$.k' AS BIGINT)) AS min_k,
           max(CAST(props->>'$.k' AS BIGINT)) AS max_k
    FROM events
    WHERE CAST(props->>'$.k' AS BIGINT) IS NOT NULL
    GROUP BY 1
    """,
)
def q_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT path: ``try_parse_json`` to the binary VARIANT
    encoding once, then typed ``try_variant_get`` extraction — the
    parse-once/extract-many model for semi-structured columns (vs
    re-tokenizing JSON text per path as ``get_json_object`` does).
    Malformed rows become NULL variants, never errors.  At 100 TB the
    win is storage+CPU: VARIANT's binary form is columnar-shreddable
    and each extraction is a field lookup, not a string scan."""
    ev = events(spark, sf_dir)
    k = F.try_variant_get(F.try_parse_json("props"), "$.k", "bigint")
    return (
        ev.select(k.alias("k"))
        .where(F.col("k").isNotNull())
        .groupBy((F.col("k") % 10).alias("k_mod"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


@query(
    "q_join_hint_smj",
    oracle="""
    SELECT n_name, count(*) AS n_cust,
           round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 2)
               AS sum_bal
    FROM customer JOIN nation ON n_nationkey = c_nationkey
    GROUP BY n_name
    """,
)
def q_join_hint_smj(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-strategy override: ``hint("merge")`` forces a sort-merge join
    where the planner (and AQE) would otherwise broadcast the nation dim —
    the control surface for cases where the human knows better (e.g. the
    'small' side is small only pre-explosion, or executor memory is
    committed elsewhere).  Result is strategy-invariant and matches the
    plain-join oracle; the physical plan (SortMergeJoin vs
    BroadcastHashJoin) is the only thing that changes."""
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation").hint("merge")
    return (
        cust.join(nation, F.col("n_nationkey") == F.col("c_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            F.round(
                F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double"),
                2,
            ).alias("sum_bal"),
        )
    )


@query(
    "q_pandas_udaf",
    oracle="""
    SELECT event_type, median(value) AS med_value, count(value) AS n
    FROM events
    GROUP BY event_type
    """,
)
def q_pandas_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-aggregate pandas UDF (the UDAF surface): per-group exact
    median via an Arrow-batched vectorized aggregate — the escape hatch
    for aggregations Catalyst lacks.  Median is an order statistic, so
    the float result is selection-exact (identical across engines; the
    even-count case is one (a+b)/2 op, same IEEE result in DuckDB and
    numpy) — which is what lets a Python UDAF pass the value-hash gate.
    Scale: grouped-agg UDFs get full map-side Arrow batching but NO
    partial aggregation — every group's values shuffle to one task, so
    keep it to aggregates that genuinely need the whole group (order
    statistics) and guard group cardinality/skew; everything expressible
    as a monoid should stay in built-ins."""
    @F.pandas_udf("double")
    def median_udaf(v: pd.Series) -> float:
        return float(v.median())

    ev = load(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        median_udaf(F.col("value")).alias("med_value")
    )
    # grouped-agg UDFs cannot mix with built-in aggregates in one agg()
    # (INVALID_PANDAS_UDF_PLACEMENT) - the count rides a separate
    # aggregate joined on the (tiny) group key.
    n = ev.groupBy("event_type").agg(F.count(F.col("value")).alias("n"))
    return med.join(n, "event_type")


@query(
    "q_quantile_hist",
    oracle="""
    WITH b AS (
        SELECT CAST(floor(l_extendedprice / 100.0) AS BIGINT) AS bucket,
               count(*) AS c
        FROM lineitem GROUP BY 1
    ),
    cum AS (
        SELECT bucket, c,
               CAST(sum(c) OVER (ORDER BY bucket
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS cum_c
        FROM b
    ),
    t AS (SELECT count(*) AS n FROM lineitem),
    q AS (SELECT unnest([25, 50, 75, 90, 99]) AS qpct)
    SELECT qpct, min(bucket) * 100 AS approx_value
    FROM q CROSS JOIN t JOIN cum ON cum_c * 100 >= qpct * n
    GROUP BY qpct
    """,
)
def q_quantile_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic approximate quantiles via a fixed-width histogram
    sketch: bucket counts (one hash aggregation, mergeable, bounded by
    the VALUE DOMAIN not the corpus) → cumulative counts → the q-th
    quantile is the first bucket whose cumulative share reaches q.
    Pure integer arithmetic (`cum·100 ≥ q%·N`), so unlike
    GK/t-digest sketches (q_approx_quantiles, rows-only) the estimate
    is engine-exact and fully hash-oracled, with error bounded by the
    bucket width.  The cumulative window runs over the bucket TABLE
    (domain-bounded, ~thousands of rows), never the fact table."""
    li = load(spark, sf_dir, "lineitem")
    b = li.groupBy(
        F.floor(F.col("l_extendedprice") / 100.0)
        .cast("long")
        .alias("bucket")
    ).agg(F.count(F.lit(1)).alias("c"))
    w = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # n = count(*) of lineitem = sum of bucket counts (every row lands in
    # exactly one bucket), computed on the SAME single-partition window
    # pass as the running sum (optimization round 13) — the previous
    # separate ``li.agg(count)`` branch was a second full lineitem scan
    # for one scalar the bucket table already holds.
    w_all = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = b.select(
        "bucket",
        F.sum("c").over(w).cast("long").alias("cum_c"),
        F.sum("c").over(w_all).cast("long").alias("n"),
    )
    qdf = spark.createDataFrame([(25,), (50,), (75,), (90,), (99,)], "qpct long")
    return (
        F.broadcast(qdf)
        .join(cum, F.col("cum_c") * 100 >= F.col("qpct") * F.col("n"))
        .groupBy("qpct")
        .agg((F.min("bucket") * 100).alias("approx_value"))
    )


@query(
    "q_quality_checks",
    oracle="""
    SELECT 'lineitem_orphans' AS check_name,
           CAST((SELECT count(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = l.l_orderkey))
                AS BIGINT) AS n_violations
    UNION ALL
    SELECT 'orders_null_priority',
           CAST((SELECT count(*) FROM orders
                 WHERE o_orderpriority IS NULL) AS BIGINT)
    UNION ALL
    SELECT 'lineitem_qty_range',
           CAST((SELECT count(*) FROM lineitem
                 WHERE l_quantity < 0 OR l_quantity > 50) AS BIGINT)
    UNION ALL
    SELECT 'orders_dup_pk',
           CAST((SELECT count(*) FROM (
                     SELECT o_orderkey FROM orders
                     GROUP BY o_orderkey HAVING count(*) > 1))
                AS BIGINT)
    UNION ALL
    SELECT 'customer_dup_pk',
           CAST((SELECT count(*) FROM (
                     SELECT c_custkey FROM customer
                     GROUP BY c_custkey HAVING count(*) > 1))
                AS BIGINT)
    """,
)
def q_quality_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expectation-suite data-quality checks (the dbt-test /
    Great-Expectations pattern) as one engine query: referential
    integrity (anti-join orphan count — the scalable form of NOT
    EXISTS), null-rate, range, and primary-key-uniqueness violations,
    each a count the pipeline can gate on.  Every check is a
    shuffle-partial-aggregate or broadcast/shuffle anti-join — no
    collects; violation counts are integers (full hash oracle)."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")

    def one(name: str, cnt_df) -> DataFrame:
        return cnt_df.select(
            F.lit(name).alias("check_name"),
            F.col("n").cast("long").alias("n_violations"),
        )

    orphans = (
        li.select("l_orderkey")
        .join(
            orders.select("o_orderkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
            "left_anti",
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    null_prio = orders.where(F.col("o_orderpriority").isNull()).agg(
        F.count(F.lit(1)).alias("n")
    )
    qty_range = li.where(
        (F.col("l_quantity") < 0) | (F.col("l_quantity") > 50)
    ).agg(F.count(F.lit(1)).alias("n"))
    dup_o = (
        orders.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") > 1)
        .agg(F.count(F.lit(1)).alias("n"))
    )
    dup_c = (
        cust.groupBy("c_custkey")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") > 1)
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        one("lineitem_orphans", orphans)
        .unionAll(one("orders_null_priority", null_prio))
        .unionAll(one("lineitem_qty_range", qty_range))
        .unionAll(one("orders_dup_pk", dup_o))
        .unionAll(one("customer_dup_pk", dup_c))
    )


@query(
    "q_window_misc",
    oracle="""
    SELECT event_id, user_id,
           dense_rank() OVER w AS drank,
           CAST(percent_rank() OVER w AS DOUBLE) AS prank,
           CAST(cume_dist() OVER w AS DOUBLE) AS cdist,
           nth_value(event_id, 2) OVER (PARTITION BY user_id
               ORDER BY epoch_us(ts), event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
               AS second_event
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    """,
)
def q_window_misc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Remaining ranking-window family in one pass: dense_rank,
    percent_rank ((rank−1)/(n−1): one IEEE division of integers —
    hash-exact), cume_dist, and nth_value with an explicit full frame.
    All four specs share the user_id partitioning → one shuffle, one
    sort."""
    ev = events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    w_full = w.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return ev.select(
        "event_id",
        "user_id",
        F.dense_rank().over(w).alias("drank"),
        F.percent_rank().over(w).alias("prank"),
        F.cume_dist().over(w).alias("cdist"),
        F.nth_value("event_id", 2).over(w_full).alias("second_event"),
    )


@query(
    "q_corr",
    oracle="""
    WITH c AS (
        SELECT l_returnflag,
               CAST(floor(l_quantity * 100.0 + 0.5) AS BIGINT) AS qc,
               CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS pc
        FROM lineitem
    ),
    s AS (
        SELECT l_returnflag,
               count(*) AS n,
               CAST(CAST(sum(qc) AS DECIMAL(38,0)) AS DOUBLE) AS sx,
               CAST(CAST(sum(pc) AS DECIMAL(38,0)) AS DOUBLE) AS sy,
               CAST(CAST(sum(qc * qc) AS DECIMAL(38,0)) AS DOUBLE) AS sxx,
               CAST(CAST(sum(pc * pc) AS DECIMAL(38,0)) AS DOUBLE) AS syy,
               CAST(CAST(sum(qc * pc) AS DECIMAL(38,0)) AS DOUBLE) AS sxy
        FROM c GROUP BY 1
    )
    SELECT l_returnflag, n,
           (CAST(n AS DOUBLE) * sxy - sx * sy)
             / (sqrt(CAST(n AS DOUBLE) * sxx - sx * sx)
                * sqrt(CAST(n AS DOUBLE) * syy - sy * sy)) AS corr_qty_price,
           (CAST(n AS DOUBLE) * sxy - sx * sy)
             / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)) / 10000.0
               AS cov_qty_price
    FROM s
    """,
)
def q_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation + sample covariance per group, engine-exact:
    values quantize to integer cents (exact), the five raw moments
    accumulate as exact integer sums (order-independent; second moments
    in DECIMAL(38,0) headroom), convert once to double (an
    integer-to-double conversion is uniquely round-to-nearest in every
    engine — unlike fractional decimal-to-double, which engines
    implement with different internal roundings), and the closed-form
    combination is a fixed IEEE expression tree.  Correlation is
    invariant under the cents scaling; covariance divides it back out.
    Contrast the streaming corr()/covar_samp() built-ins, whose
    co-moment updates are float-order sensitive.  One partial-agg
    shuffle, like any groupBy."""
    li = load(spark, sf_dir, "lineitem")
    qc = cents(F.col("l_quantity"))
    pc = cents(F.col("l_extendedprice"))
    base = li.select(
        "l_returnflag", qc.alias("qc"), pc.alias("pc")
    )
    dec = "decimal(38,0)"
    s = base.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("qc").cast(dec)).cast(dec).cast("double").alias("sx"),
        F.sum(F.col("pc").cast(dec)).cast(dec).cast("double").alias("sy"),
        F.sum((F.col("qc") * F.col("qc")).cast(dec))
        .cast(dec)
        .cast("double")
        .alias("sxx"),
        F.sum((F.col("pc") * F.col("pc")).cast(dec))
        .cast(dec)
        .cast("double")
        .alias("syy"),
        F.sum((F.col("qc") * F.col("pc")).cast(dec))
        .cast(dec)
        .cast("double")
        .alias("sxy"),
    )
    nd = F.col("n").cast("double")
    num = nd * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(nd * F.col("sxx") - F.col("sx") * F.col("sx")) * F.sqrt(
        nd * F.col("syy") - F.col("sy") * F.col("sy")
    )
    return s.select(
        "l_returnflag",
        "n",
        (num / den).alias("corr_qty_price"),
        (
            num / (nd * (F.col("n") - F.lit(1)).cast("double")) / F.lit(1e4)
        ).alias("cov_qty_price"),
    )


@query(
    "q_stack_inline",
    oracle="""
    SELECT o_orderkey, 'total' AS metric,
           CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS val
    FROM orders WHERE o_orderkey < 100
    UNION ALL
    SELECT o_orderkey, 'year', CAST(year(o_orderdate) AS BIGINT)
    FROM orders WHERE o_orderkey < 100
    """,
)
def q_stack_inline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-valued-function breadth: ``stack`` (the SQL-surface
    wide→long generator, the TVF cousin of unpivot) turns each order row
    into (metric, value) pairs — integer cents / year so the oracle's
    LATERAL VALUES replay hash-matches.  A generator is a pure
    projection: no shuffle, stays in codegen."""
    orders = load(spark, sf_dir, "orders").where(F.col("o_orderkey") < 100)
    return orders.select(
        "o_orderkey",
        F.expr(
            "stack(2, 'total', cast(floor(o_totalprice * 100.0D + 0.5D)"
            " as bigint), 'year', cast(year(o_orderdate) as bigint))"
        ).alias("metric", "val"),
    )


@query(
    "q_winsorize",
    oracle="""
    WITH q AS (
        SELECT event_type,
               percentile_disc(0.05) WITHIN GROUP (ORDER BY value) AS p05,
               percentile_disc(0.95) WITHIN GROUP (ORDER BY value) AS p95
        FROM events WHERE value IS NOT NULL GROUP BY event_type
    )
    SELECT e.event_id, e.event_type,
           CASE WHEN e.value < q.p05 THEN q.p05
                WHEN e.value > q.p95 THEN q.p95
                ELSE e.value END AS value_w
    FROM events e JOIN q ON e.event_type = q.event_type
    WHERE e.value IS NOT NULL
    """,
)
def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization (tail clamping) per group — the outlier-robust
    cleaning step for numeric features: values clamp to the exact
    per-group 5th/95th percentile DATA values (percentile_disc, never
    interpolated), so the output is deterministic cross-engine.  The
    percentile table broadcasts back to the scan; one full pass."""
    ev = events(spark, sf_dir).where(F.col("value").isNotNull())
    q = ev.groupBy("event_type").agg(
        F.expr(
            "percentile_disc(0.05) WITHIN GROUP (ORDER BY value)"
        ).alias("p05"),
        F.expr(
            "percentile_disc(0.95) WITHIN GROUP (ORDER BY value)"
        ).alias("p95"),
    )
    clamped = (
        F.when(F.col("value") < F.col("p05"), F.col("p05"))
        .when(F.col("value") > F.col("p95"), F.col("p95"))
        .otherwise(F.col("value"))
    )
    return (
        ev.join(F.broadcast(q), "event_type")
        .select("event_id", "event_type", clamped.alias("value_w"))
    )


@query(
    "q_zscore",
    oracle="""
    WITH c AS (
        SELECT event_id, event_type,
               CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS v
        FROM events WHERE value IS NOT NULL
    ),
    m AS (
        SELECT event_type, count(*) AS n,
               CAST(CAST(sum(v) AS DECIMAL(38,0)) AS DOUBLE) AS sv,
               CAST(CAST(sum(v * v) AS DECIMAL(38,0)) AS DOUBLE) AS svv
        FROM c GROUP BY 1
    )
    SELECT c.event_id, c.event_type,
           (CAST(c.v AS DOUBLE) - sv / CAST(n AS DOUBLE))
             / sqrt(svv / CAST(n AS DOUBLE)
                    - (sv / CAST(n AS DOUBLE)) * (sv / CAST(n AS DOUBLE)))
               AS z
    FROM c JOIN m USING (event_type)
    """,
)
def q_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score standardization (feature normalization): values
    quantize to exact integer micros, the two moments accumulate as
    exact integer sums, and mean/std/z are one fixed IEEE expression
    tree — engine-exact like q_corr, where a float-accumulated
    mean/stddev would drift with partition order.  Moment table
    broadcasts back; one pass + one shuffle-free map."""
    ev = events(spark, sf_dir).where(F.col("value").isNotNull())
    v = quantize_units(F.col("value"), 1e6)
    c = ev.select("event_id", "event_type", v.alias("v"))
    dec = "decimal(38,0)"
    m = c.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("v").cast(dec)).cast(dec).cast("double").alias("sv"),
        F.sum((F.col("v") * F.col("v")).cast(dec))
        .cast(dec)
        .cast("double")
        .alias("svv"),
    )
    nd = F.col("n").cast("double")
    mean = F.col("sv") / nd
    std = F.sqrt(F.col("svv") / nd - mean * mean)
    return (
        c.join(F.broadcast(m), "event_type")
        .select(
            "event_id",
            "event_type",
            ((F.col("v").cast("double") - mean) / std).alias("z"),
        )
    )


@query(
    "q_ratio_to_report",
    oracle="""
    WITH c AS (
        SELECT event_type, user_id,
               CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT))
                    AS BIGINT) AS cents
        FROM events WHERE value IS NOT NULL
        GROUP BY 1, 2
    )
    SELECT event_type, user_id, cents,
           CAST(cents AS DOUBLE)
             / CAST(sum(cents) OVER (PARTITION BY event_type) AS DOUBLE)
               AS share_of_type,
           CAST(cents AS DOUBLE)
             / CAST(sum(cents) OVER () AS DOUBLE) AS share_of_total
    FROM c
    """,
)
def q_ratio_to_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report: each (type, user) cell as a share of its type
    and of the grand total — the percent-of-total window pattern every
    BI layer needs.  Sums are exact integer cents (order-independent),
    each share ONE IEEE division ⇒ hash-exact.  The grand-total
    "window" aggregates a |types|×|users| table, not the fact table —
    the pre-aggregate-then-window shape that keeps partitionless
    windows off corpus-sized input (cf. operators/ranking for when the
    windowed input IS corpus-sized)."""
    ev = events(spark, sf_dir).where(F.col("value").isNotNull())
    c = ev.select(
        "event_type", "user_id", cents(F.col("value")).alias("v")
    ).groupBy(
        "event_type", "user_id"
    ).agg(F.sum("v").cast("long").alias("cents"))
    w_type = Window.partitionBy("event_type")
    w_all = Window.partitionBy()
    return c.select(
        "event_type",
        "user_id",
        "cents",
        (
            F.col("cents").cast("double")
            / F.sum("cents").over(w_type).cast("double")
        ).alias("share_of_type"),
        (
            F.col("cents").cast("double")
            / F.sum("cents").over(w_all).cast("double")
        ).alias("share_of_total"),
    )


@query(
    "q_xml_parse",
    oracle="""
    SELECT o_orderpriority AS prio,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
                AS BIGINT) AS sum_cents,
           CAST(min(o_orderkey) AS BIGINT) AS min_key,
           CAST(max(o_orderkey) AS BIGINT) AS max_key
    FROM orders
    GROUP BY 1
    """,
)
def q_xml_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML ingest surface (Spark 4 ``from_xml``): render each order as
    an XML fragment, parse it back with a typed schema, and aggregate
    the PARSED fields — the self-certifying roundtrip device the repo
    uses for every interchange format (CSV q_csv_roundtrip, ORC
    q_orc_roundtrip, JSON q_json_parse/q_struct_json): the oracle
    computes the same aggregate from the raw columns, so a hash match
    proves encode → parse → extract is lossless, exercising the one
    semi-structured codec the registry didn't yet cover.

    Scale shape: render and parse are per-row JVM expressions inside
    one whole-stage-codegen scan (no UDF, no shuffle); the only
    shuffle is the 5-group rollup.  Cents are quantized half-up BEFORE
    encode so the XML carries integers end-to-end."""
    orders = rebalance_for_cpu(load(spark, sf_dir, "orders"))
    xml = F.concat(
        F.lit("<o><k>"),
        F.col("o_orderkey").cast("string"),
        F.lit("</k><p>"),
        F.col("o_orderpriority"),
        F.lit("</p><t>"),
        F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
        .cast("long")
        .cast("string"),
        F.lit("</t></o>"),
    )
    parsed = orders.select(
        F.from_xml(xml, "k LONG, p STRING, t LONG").alias("x")
    )
    return parsed.groupBy(F.col("x.p").alias("prio")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x.t").cast("long").alias("sum_cents"),
        F.min("x.k").alias("min_key"),
        F.max("x.k").alias("max_key"),
    )


@query(
    "q_hof_reduce",
    oracle="""
    WITH z AS (
        SELECT vec_id, CAST(label AS BIGINT) AS label,
               list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0 + 0.5)
                             AS BIGINT)) AS qv
        FROM embeddings WHERE vec_id < 200
    )
    SELECT vec_id, label,
           CAST(list_sum(list_transform(qv, x -> abs(x))) AS BIGINT)
               AS l1_milli,
           CAST(len(list_filter(qv, x -> x > 0)) AS BIGINT) AS n_pos,
           CAST(CASE WHEN len(list_filter(qv, x -> abs(x) >= 300)) > 0
                     THEN 1 ELSE 0 END AS BIGINT) AS has_big,
           CAST(CASE WHEN len(list_filter(qv, x -> abs(x) >= 250)) = 0
                     THEN 1 ELSE 0 END AS BIGINT) AS all_small,
           CAST(list_dot_product(qv, list_reverse(qv)) AS BIGINT)
               AS pal_dot
    FROM z
    """,
)
def q_hof_reduce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order-function surface breadth in ONE query: transform
    (milli quantization), aggregate (L1 fold), filter (positive
    count), exists / forall (threshold flags), and zip_with + reverse
    (palindromic dot product) over the embedding arrays — the §2.8
    lambda-expression family q_array_funcs's element-wise ops don't
    reach.  DuckDB replays each lambda with its independent list-
    function engine (list_transform / list_sum / list_filter /
    list_dot_product / list_reverse), so a hash match pins Spark's HOF
    evaluation semantics, not just its API shape.  All-integer
    outputs (quantize-then-fold, exact BIGINT arithmetic).

    Scale shape: every HOF is a per-row JVM expression — one scan, no
    shuffle, no UDF; the vec_id filter is pushed to the parquet scan.
    Array length (64) bounds per-row cost; nothing accumulates
    driver-side."""
    vecs = load(spark, sf_dir, "embeddings").where(F.col("vec_id") < 200)
    qv = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * 1000.0 + 0.5).cast("long"),
    )
    z = vecs.select(
        "vec_id", F.col("label").cast("long").alias("label"), qv.alias("qv")
    )
    zero = F.lit(0).cast("long")
    return z.select(
        "vec_id",
        "label",
        F.aggregate("qv", zero, lambda a, x: a + F.abs(x)).alias(
            "l1_milli"
        ),
        F.size(F.filter("qv", lambda x: x > 0)).cast("long").alias("n_pos"),
        F.exists("qv", lambda x: F.abs(x) >= 300)
        .cast("long")
        .alias("has_big"),
        F.forall("qv", lambda x: F.abs(x) < 250)
        .cast("long")
        .alias("all_small"),
        F.aggregate(
            F.zip_with("qv", F.reverse("qv"), lambda x, y: x * y),
            zero,
            lambda a, x: a + x,
        ).alias("pal_dot"),
    )
