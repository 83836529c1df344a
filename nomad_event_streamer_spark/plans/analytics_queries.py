"""Event-analytics queries (SURVEY.md 2.12 EXT): funnel conversion,
retention cohorts, and transition matrices over the events table — the
product-analytics trio every clickstream warehouse runs.

No reference analog (the reference forwards task events; it never
aggregates user behavior); EXT coverage.  All three are integer-exact
(timestamps, counts; the one float is a single division), so all carry
full value-hash oracles.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..tables import cents, events, load
from .registry import query

WEEK_US = 7 * 24 * 3600 * 1_000_000


@query(
    "q_funnel",
    oracle="""
    WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us
               FROM events),
    s1 AS (SELECT user_id, min(ts_us) AS t1 FROM e
           WHERE event_type = 'view' GROUP BY 1),
    s2 AS (SELECT e.user_id, min(ts_us) AS t2
           FROM e JOIN s1 USING (user_id)
           WHERE event_type = 'click' AND ts_us > t1 GROUP BY 1),
    s3 AS (SELECT e.user_id, min(ts_us) AS t3
           FROM e JOIN s2 USING (user_id)
           WHERE event_type = 'purchase' AND ts_us > t2 GROUP BY 1)
    SELECT 1 AS stage, 'view' AS event_type,
           CAST((SELECT count(*) FROM s1) AS BIGINT) AS n_users
    UNION ALL
    SELECT 2, 'click', CAST((SELECT count(*) FROM s2) AS BIGINT)
    UNION ALL
    SELECT 3, 'purchase', CAST((SELECT count(*) FROM s3) AS BIGINT)
    """,
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel conversion (view → click → purchase): stage N
    counts users whose earliest stage-N event strictly follows their
    earliest stage-(N-1) completion — the sequencing semantics (not
    mere co-occurrence) that funnel products implement.

    Plan: ONE events scan, ONE user_id exchange (optimization round 13
    — the branch-per-stage form re-derived stage N-1 inside stage N and
    scanned events 12x): per-user stage timestamps are three chained
    conditional-min windows over the same user partition (t2 = min
    click ts > t1 needs every click compared against t1, which the
    window holds in place; a groupBy would need a join-back per stage),
    then one per-user rollup and one 3-row count.  At 100 TB the event
    scan is pruned to the three funnel types before the one shuffle."""
    ev = events(spark, sf_dir).select("user_id", "event_type", "ts_us")
    ev = ev.where(F.col("event_type").isin("view", "click", "purchase"))
    w_u = Window.partitionBy("user_id")
    t1 = ev.withColumn(
        "t1",
        F.min(F.when(F.col("event_type") == "view", F.col("ts_us"))).over(
            w_u
        ),
    )
    t2 = t1.withColumn(
        "t2",
        F.min(
            F.when(
                (F.col("event_type") == "click")
                & (F.col("ts_us") > F.col("t1")),
                F.col("ts_us"),
            )
        ).over(w_u),
    )
    t3 = t2.withColumn(
        "t3",
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("ts_us") > F.col("t2")),
                F.col("ts_us"),
            )
        ).over(w_u),
    )
    per_user = t3.groupBy("user_id").agg(
        F.max("t1").alias("t1"),
        F.max("t2").alias("t2"),
        F.max("t3").alias("t3"),
    )
    counts = per_user.agg(
        F.count("t1").cast("long").alias("n1"),
        F.count("t2").cast("long").alias("n2"),
        F.count("t3").cast("long").alias("n3"),
    )
    return counts.select(
        F.expr(
            "stack(3, 1, 'view', n1, 2, 'click', n2, 3, 'purchase', n3)"
        ).alias("stage", "event_type", "n_users")
    )


@query(
    "q_retention",
    oracle=f"""
    WITH w AS (
        SELECT user_id, epoch_us(ts) // {WEEK_US} AS week
        FROM events GROUP BY 1, 2
    ),
    first AS (SELECT user_id, min(week) AS cohort FROM w GROUP BY 1)
    SELECT cohort, week - cohort AS week_offset,
           count(*) AS n_users
    FROM w JOIN first USING (user_id)
    GROUP BY 1, 2
    """,
)
def q_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention cohort matrix: users grouped by first-active week,
    counted in each later week they return — the classic triangle
    retention table.  Absolute integer week ids (epoch_us div week) keep
    everything engine-exact.

    Plan: (user, week) dedup + per-user min + one join, all partitioned
    by user_id; the output is cohort×offset-sized (weeks², tiny)."""
    ev = events(spark, sf_dir)
    w = (
        ev.select(
            "user_id",
            F.expr(f"ts_us div {WEEK_US}").alias("week"),
        )
        .distinct()
    )
    first = w.groupBy("user_id").agg(F.min("week").alias("cohort"))
    return (
        w.join(first, "user_id")
        .groupBy("cohort", (F.col("week") - F.col("cohort")).alias("week_offset"))
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@query(
    "q_transitions",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY epoch_us(ts), event_id)
                   AS prev_type
        FROM events
    ),
    c AS (
        SELECT prev_type, event_type AS next_type, count(*) AS n
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY 1, 2
    ),
    t AS (SELECT prev_type, sum(n) AS tot FROM c GROUP BY 1)
    SELECT c.prev_type, c.next_type, CAST(c.n AS BIGINT) AS n,
           CAST(c.n AS DOUBLE) / CAST(t.tot AS DOUBLE) AS p
    FROM c JOIN t USING (prev_type)
    """,
)
def q_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: lag window → (prev, next) counts → row-normalized
    probabilities.  The single int/int division is IEEE-exact, so the
    probabilities hash-match despite being floats.

    Plan: one user_id-partitioned window sort, one (prev,next) hash
    aggregation (|types|² rows), a broadcast-sized row-total join."""
    ev = events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).where(F.col("prev_type").isNotNull())
    c = (
        seq.groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    t = c.groupBy("prev_type").agg(F.sum("n").alias("tot"))
    return (
        c.join(F.broadcast(t), "prev_type")
        .select(
            "prev_type",
            "next_type",
            F.col("n").cast("long").alias("n"),
            (F.col("n").cast("double") / F.col("tot").cast("double")).alias(
                "p"
            ),
        )
    )


@query(
    "q_cohort_ltv",
    oracle=f"""
    WITH e AS (
        SELECT user_id, epoch_us(ts) // {WEEK_US} AS week,
               CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
        FROM events WHERE value IS NOT NULL
    ),
    first AS (SELECT user_id, min(week) AS cohort FROM e GROUP BY 1),
    cell AS (
        SELECT cohort, week - cohort AS week_offset,
               CAST(sum(cents) AS BIGINT) AS cents
        FROM e JOIN first USING (user_id)
        GROUP BY 1, 2
    )
    SELECT cohort, week_offset, cents,
           CAST(sum(cents) OVER (PARTITION BY cohort ORDER BY week_offset
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cum_cents
    FROM cell
    """,
)
def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV curves: cumulative revenue (integer cents) per
    first-active-week cohort across week offsets — the lifetime-value
    staple that pairs with q_retention's user counts.  The cumulative
    window runs over the cohort×offset CELL table (weeks², tiny), never
    the fact table; revenue sums are exact integer cents."""
    from ..tables import cents as cents_of

    ev = events(spark, sf_dir).where(F.col("value").isNotNull())
    e = ev.select(
        "user_id",
        F.expr(f"ts_us div {WEEK_US}").alias("week"),
        cents_of(F.col("value")).alias("cents"),
    )
    first = e.groupBy("user_id").agg(F.min("week").alias("cohort"))
    cell = (
        e.join(first, "user_id")
        .groupBy(
            "cohort", (F.col("week") - F.col("cohort")).alias("week_offset")
        )
        .agg(F.sum("cents").cast("long").alias("cents"))
    )
    w = (
        Window.partitionBy("cohort")
        .orderBy("week_offset")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return cell.select(
        "cohort",
        "week_offset",
        "cents",
        F.sum("cents").over(w).cast("long").alias("cum_cents"),
    )


@query(
    "q_attribution",
    oracle="""
    WITH e AS (
        SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us
        FROM events
    ),
    tagged AS (
        SELECT user_id, event_id, event_type,
               last_value(CASE WHEN event_type <> 'purchase'
                               THEN event_type END IGNORE NULLS)
                   OVER w_prev AS last_touch,
               first_value(CASE WHEN event_type <> 'purchase'
                                THEN event_type END IGNORE NULLS)
                   OVER w_first AS first_touch
        FROM e
        WINDOW
          w_prev AS (PARTITION BY user_id ORDER BY ts_us, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
          w_first AS (PARTITION BY user_id ORDER BY ts_us, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT last_touch, first_touch, count(*) AS n_conversions
    FROM tagged
    WHERE event_type = 'purchase' AND last_touch IS NOT NULL
    GROUP BY 1, 2
    """,
)
def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing attribution: each purchase credits the user's LAST
    preceding non-purchase touch (last-touch model) and the FIRST touch
    of their history (first-touch model), counted jointly — the
    conversion-credit matrix attribution tools produce.  Both lookups
    are ignorenulls window picks over one shared user_id partitioning
    (the same one-shuffle shape as q_interpolate's bracketing);
    string/count output ⇒ full hash oracle."""
    ev = events(spark, sf_dir)
    touch = F.when(
        F.col("event_type") != "purchase", F.col("event_type")
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    tagged = ev.select(
        "event_type",
        F.last(touch, ignorenulls=True).over(w_prev).alias("last_touch"),
        F.first(touch, ignorenulls=True).over(w_prev).alias("first_touch"),
    )
    return (
        tagged.where(
            (F.col("event_type") == "purchase")
            & F.col("last_touch").isNotNull()
        )
        .groupBy("last_touch", "first_touch")
        .agg(F.count(F.lit(1)).alias("n_conversions"))
    )


@query(
    "q_stickiness",
    oracle="""
    WITH ud AS (
        SELECT DISTINCT epoch_us(ts) // 86400000000 AS d, user_id FROM events
    ),
    days AS (SELECT DISTINCT d FROM ud),
    dau AS (SELECT d, CAST(count(*) AS BIGINT) AS dau FROM ud GROUP BY 1),
    mau AS (
        SELECT days.d, CAST(count(DISTINCT ud.user_id) AS BIGINT) AS mau
        FROM days JOIN ud ON ud.d BETWEEN days.d - 29 AND days.d
        GROUP BY 1
    )
    SELECT dau.d, dau.dau, mau.mau,
           CAST((dau.dau * 1000) // mau.mau AS BIGINT) AS stickiness_milli
    FROM dau JOIN mau USING (d)
    """,
)
def q_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness per day — the product-analytics engagement
    ratio (what fraction of the trailing-30-day actives showed up
    today).  The oracle uses the textbook BETWEEN range join; the
    declared plan converts it to an EQUI-join by the standard offset
    trick: each distinct (day, user) row contributes to the 30 window
    days it falls inside (explode of 30 offsets over the
    ALREADY-DISTINCT day-user table — the compressed relation, never
    raw events), then one distinct-count per window day.  Integer
    milli ratio by exact division.

    Scale: raw events collapse to distinct (day, user) first (one
    partial-agg shuffle); the 30× fan-out applies to that compressed
    table; window-day counts shuffle on the day key (days are few)."""
    ev = events(spark, sf_dir)
    ud = (
        ev.select(
            F.expr("ts_us div 86400000000").alias("d"), "user_id"
        ).distinct()
    )
    days = ud.select("d").distinct()
    dau = ud.groupBy("d").agg(F.count(F.lit(1)).cast("long").alias("dau"))
    windowed = ud.select(
        F.explode(F.expr("sequence(0, 29)")).alias("off"), "d", "user_id"
    ).select((F.col("d") + F.col("off")).alias("wd"), "user_id")
    mau = (
        windowed.join(days.select(F.col("d").alias("wd")), "wd")
        .groupBy("wd")
        .agg(F.countDistinct("user_id").cast("long").alias("mau"))
        .select(F.col("wd").alias("d"), "mau")
    )
    return (
        dau.join(mau, "d")
        .select(
            "d",
            "dau",
            "mau",
            F.expr("(dau * 1000) div mau").cast("long").alias(
                "stickiness_milli"
            ),
        )
    )


@query(
    "q_time_to_convert",
    oracle="""
    WITH s AS (SELECT user_id, min(epoch_us(ts)) AS t0 FROM events
               WHERE event_type = 'signup' GROUP BY 1),
    p AS (SELECT user_id, min(epoch_us(ts)) AS t1 FROM events
          WHERE event_type = 'purchase' GROUP BY 1),
    d AS (SELECT s.user_id, p.t1 - s.t0 AS lat_us
          FROM s JOIN p USING (user_id) WHERE p.t1 >= s.t0),
    r AS (SELECT lat_us, row_number() OVER (ORDER BY lat_us, user_id) AS rn,
                 count(*) OVER () AS n FROM d)
    SELECT CAST(max(n) AS BIGINT) AS n_converted,
           CAST(min(lat_us) AS BIGINT) AS min_us,
           CAST(min(CASE WHEN rn * 2 >= n THEN lat_us END) AS BIGINT)
               AS median_us,
           CAST(min(CASE WHEN rn * 10 >= n * 9 THEN lat_us END) AS BIGINT)
               AS p90_us,
           CAST(max(lat_us) AS BIGINT) AS max_us
    FROM r
    """,
)
def q_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert latency distribution (first signup → first
    purchase per user): the funnel's companion metric — WHEN conversions
    happen, not just whether.  Exact integer microsecond latencies with
    lower-median / lower-p90 picks (rank thresholds on exact integers,
    no interpolation), so the whole summary is engine-bit-exact.

    Scale: per-user firsts are map-side-combinable MINs; latencies are
    user-cardinality; the global rank uses the bucketed prefix-sum
    (operators/ranking.py, bit_length(lat) as the monotone bucket) so no
    partitionless window touches the latency table."""
    from ..operators import ranking

    ev = events(spark, sf_dir)
    s = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t0"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t1"))
    )
    d = (
        s.join(p, "user_id")
        .where(F.col("t1") >= F.col("t0"))
        .select("user_id", (F.col("t1") - F.col("t0")).alias("lat_us"))
    )
    ranked = ranking.global_row_number(
        d,
        [F.col("lat_us").asc(), F.col("user_id").asc()],
        bucket=F.length(F.bin(F.col("lat_us") + 1)),
        out_col="rn",
    )
    n = d.agg(F.count(F.lit(1)).cast("long").alias("n"))
    r = ranked.crossJoin(F.broadcast(n))
    return r.agg(
        F.max("n").cast("long").alias("n_converted"),
        F.min("lat_us").cast("long").alias("min_us"),
        F.min(F.when(F.col("rn") * 2 >= F.col("n"), F.col("lat_us")))
        .cast("long")
        .alias("median_us"),
        F.min(F.when(F.col("rn") * 10 >= F.col("n") * 9, F.col("lat_us")))
        .cast("long")
        .alias("p90_us"),
        F.max("lat_us").cast("long").alias("max_us"),
    )


@query(
    "q_mad_outliers",
    oracle="""
    WITH e AS (SELECT event_type,
                      CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS c,
                      event_id
               FROM events),
    m1 AS (
        SELECT event_type, c,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY c, event_id) AS rn,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM e),
    med AS (SELECT event_type,
                   CAST(min(CASE WHEN rn * 2 >= n THEN c END) AS BIGINT) AS med
            FROM m1 GROUP BY 1),
    dev AS (SELECT e.event_type, abs(e.c - med.med) AS ad, e.event_id
            FROM e JOIN med USING (event_type)),
    m2 AS (SELECT event_type, ad,
                  row_number() OVER (PARTITION BY event_type
                                     ORDER BY ad, event_id) AS rn,
                  count(*) OVER (PARTITION BY event_type) AS n
           FROM dev),
    madt AS (SELECT event_type,
                    CAST(min(CASE WHEN rn * 2 >= n THEN ad END) AS BIGINT) AS mad
             FROM m2 GROUP BY 1)
    SELECT e.event_type, CAST(count(*) AS BIGINT) AS n,
           CAST(max(med.med) AS BIGINT) AS median_cents,
           CAST(max(madt.mad) AS BIGINT) AS mad_cents,
           CAST(sum(CASE WHEN abs(e.c - med.med) > 3 * madt.mad
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM e JOIN med USING (event_type) JOIN madt USING (event_type)
    GROUP BY 1
    """,
)
def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection via median absolute deviation — the
    resistant alternative to q_zscore/q_outlier_iqr (a single extreme
    value shifts a mean and stdev but not a median): per event type,
    lower median of value-cents, MAD = lower median of |x − median|,
    and the count beyond the 3·MAD fence.  Lower-median picks are rank
    thresholds on exact integers (the same device as q_time_to_convert
    and q_weighted_median), so everything is engine-bit-exact — float
    median interpolation never appears.

    Scale: two per-group ranking windows + three joins, ALL keyed by
    event_type (one partitioning serves every step); the median/MAD
    tables are group-cardinality and broadcast."""
    ev = events(spark, sf_dir)
    e = ev.select(
        "event_type",
        F.floor(F.col("value") * 100.0 + 0.5).cast("long").alias("c"),
        "event_id",
    )
    w1 = Window.partitionBy("event_type").orderBy("c", "event_id")
    wn = Window.partitionBy("event_type")
    m1 = e.select(
        "event_type",
        "c",
        F.row_number().over(w1).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    med = m1.groupBy("event_type").agg(
        F.min(F.when(F.col("rn") * 2 >= F.col("n"), F.col("c")))
        .cast("long")
        .alias("med")
    )
    dev = e.join(F.broadcast(med), "event_type").select(
        "event_type", F.abs(F.col("c") - F.col("med")).alias("ad"), "event_id"
    )
    w2 = Window.partitionBy("event_type").orderBy("ad", "event_id")
    m2 = dev.select(
        "event_type",
        "ad",
        F.row_number().over(w2).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    madt = m2.groupBy("event_type").agg(
        F.min(F.when(F.col("rn") * 2 >= F.col("n"), F.col("ad")))
        .cast("long")
        .alias("mad")
    )
    return (
        e.join(F.broadcast(med), "event_type")
        .join(F.broadcast(madt), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.max("med").cast("long").alias("median_cents"),
            F.max("mad").cast("long").alias("mad_cents"),
            F.sum(
                F.when(
                    F.abs(F.col("c") - F.col("med")) > 3 * F.col("mad"), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers"),
        )
    )


@query(
    "q_gini",
    oracle="""
    WITH u AS (SELECT user_id, CAST(count(*) AS BIGINT) AS x
               FROM events GROUP BY 1),
    r AS (SELECT x, row_number() OVER (ORDER BY x, user_id) AS i,
                 count(*) OVER () AS n, sum(x) OVER () AS sx FROM u)
    SELECT CAST(max(n) AS BIGINT) AS n_users,
           CAST(max(sx) AS BIGINT) AS total_events,
           CAST(2 * sum(i * x) - (max(n) + 1) * max(sx) AS BIGINT) AS gini_num,
           CAST(max(n) * max(sx) AS BIGINT) AS gini_den
    FROM r
    """,
)
def q_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-user activity — the concentration /
    inequality diagnostic (is the workload a few whales or a broad
    base?), via the exact rank formula G = (2·Σi·xᵢ − (n+1)·Σxᵢ) /
    (n·Σxᵢ) over ascending-sorted counts.  Emitted as the exact integer
    numerator/denominator pair — zero float ops, engine-bit-exact.

    Scale: per-user counts are one map-side-combinable shuffle; the
    global ascending rank uses the bucketed prefix-sum
    (operators/ranking.py, bit_length(count) buckets), so no
    partitionless window touches the user table; totals broadcast.
    The rank-product accumulator Σi·xᵢ ≤ n·Σx is n²-scale, so it rides
    DECIMAL(38,0) (VERDICT r10 item #2 sweep — Spark's non-ANSI
    sum(long) wraps silently where DuckDB promotes to HUGEINT);
    headroom past n·total_events = 10^38, and past the BIGINT emission
    bound (~9e18) the decimal→long cast yields NULL (loud), not a
    wrapped value."""
    from ..operators import ranking

    ev = events(spark, sf_dir)
    u = ev.groupBy("user_id").agg(F.count(F.lit(1)).cast("long").alias("x"))
    ranked = ranking.global_row_number(
        u,
        [F.col("x").asc(), F.col("user_id").asc()],
        bucket=F.length(F.bin("x")),
        out_col="i",
    )
    tot = u.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
    )
    r = ranked.crossJoin(F.broadcast(tot))
    dec = "decimal(38,0)"
    return r.agg(
        F.max("n").cast("long").alias("n_users"),
        F.max("sx").cast("long").alias("total_events"),
        (
            F.lit(2).cast(dec)
            * F.sum(F.col("i").cast(dec) * F.col("x").cast(dec))
            - (F.max("n") + 1).cast(dec) * F.max("sx").cast(dec)
        )
        .cast("long")
        .alias("gini_num"),
        (F.max("n").cast(dec) * F.max("sx").cast(dec))
        .cast("long")
        .alias("gini_den"),
    )


@query(
    "q_abandonment",
    oracle="""
    WITH c AS (SELECT user_id, epoch_us(ts) AS t FROM events
               WHERE event_type = 'click'),
    p AS (SELECT user_id, epoch_us(ts) AS t FROM events
          WHERE event_type = 'purchase'),
    conv AS (
        SELECT DISTINCT c.user_id, c.t
        FROM c JOIN p ON p.user_id = c.user_id
                     AND p.t >= c.t AND p.t < c.t + 3600000000
    ),
    agg AS (
        SELECT c.user_id, count(*) AS n_clicks,
               CAST(count(conv.t) AS BIGINT) AS n_converted
        FROM c LEFT JOIN conv
          ON conv.user_id = c.user_id AND conv.t = c.t
        GROUP BY 1
    )
    SELECT CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(n_clicks) AS BIGINT) AS total_clicks,
           CAST(sum(n_converted) AS BIGINT) AS converted_clicks,
           CAST(sum(n_clicks - n_converted) AS BIGINT) AS abandoned_clicks
    FROM agg
    """,
)
def q_abandonment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click abandonment — the funnel's complement: clicks NOT followed
    by a purchase by the same user within one hour (the cart-abandonment
    metric).  The within-window match is a per-user equi-join with a
    range predicate (user_id is the shuffle key; per-user event lists
    bound the range probe — never a time-only θ-join), converted click
    instants dedupe before the left join back, and every output is an
    exact integer count.

    Scale: both event subsets shuffle once on user_id; at heavier
    per-user volumes the same 1-hour banding as q_interval_join drops
    in — the plan shape is already equi-keyed."""
    ev = events(spark, sf_dir)
    c = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("ts_us").alias("t")
    )
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts_us").alias("pt")
    )
    conv = (
        c.join(
            p,
            (F.col("p_user") == F.col("user_id"))
            & (F.col("pt") >= F.col("t"))
            & (F.col("pt") < F.col("t") + 3600000000),
        )
        .select("user_id", "t")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    agg = (
        c.join(conv, ["user_id", "t"], "left")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_clicks"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0)))
            .cast("long")
            .alias("n_converted"),
        )
    )
    return agg.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("n_clicks").cast("long").alias("total_clicks"),
        F.sum("n_converted").cast("long").alias("converted_clicks"),
        F.sum(F.col("n_clicks") - F.col("n_converted"))
        .cast("long")
        .alias("abandoned_clicks"),
    )


@query(
    "q_path_topk",
    oracle="""
    WITH e AS (
        SELECT user_id, event_type, event_id,
               lead(event_type, 1) OVER w AS e2,
               lead(event_type, 2) OVER w AS e3
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    ),
    p AS (
        SELECT event_type || '>' || e2 || '>' || e3 AS path, count(*) AS n
        FROM e WHERE e3 IS NOT NULL GROUP BY 1
    ),
    r AS (SELECT path, n,
                 row_number() OVER (ORDER BY n DESC, path) AS rk FROM p)
    SELECT path, CAST(n AS BIGINT) AS n, CAST(rk AS BIGINT) AS rk
    FROM r WHERE rk <= 10
    """,
)
def q_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top user paths (clickstream sequence mining): the 10 most common
    3-event sequences across all users, ranked with a deterministic
    (count desc, path asc) tiebreak — the "what do users actually do"
    query behind every product-flow dashboard, and the input to funnel
    design.  Two leads over ONE per-user ordered window build the
    ordered trigrams row-locally; path counts are a map-side-combinable
    aggregate.

    Scale: one user_id-partitioned window + one path-keyed partial-agg
    shuffle; the final top-10 is ``orderBy(...).limit(10)`` — physical
    TakeOrderedAndProject, a per-partition heap + driver merge of 10
    rows — and only the 10 survivors see the rank window, so no
    partitionless window ever touches the full path vocabulary (pinned
    by ``test_path_topk_window_is_bounded``)."""
    ev = events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    e = ev.select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    )
    p = (
        e.where(F.col("e3").isNotNull())
        .select(
            F.concat_ws(">", "event_type", "e2", "e3").alias("path")
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    top = p.orderBy(F.col("n").desc(), F.col("path").asc()).limit(10)
    wr = Window.orderBy(F.col("n").desc(), F.col("path").asc())
    return (
        top.withColumn("rk", F.row_number().over(wr).cast("long"))
        .select("path", "n", "rk")
    )


@query(
    "q_burstiness",
    oracle="""
    WITH h AS (SELECT epoch_us(ts) // 3600000000 AS hr,
                      CAST(count(*) AS BIGINT) AS x
               FROM events GROUP BY 1),
    a AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
                 CAST(sum(x*x) AS BIGINT) AS sxx FROM h)
    SELECT n AS n_hours, sx AS total_events,
           CAST(n * sxx - sx * sx AS BIGINT) AS fano_num,
           CAST((n - 1) * sx AS BIGINT) AS fano_den
    FROM a
    """,
)
def q_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burstiness of the event stream via the Fano factor (sample
    variance over mean of per-hour counts): ~1 for a Poisson process,
    >1 = bursty/clumped arrivals (the capacity-planning red flag), <1 =
    regular.  Emitted as the exact integer pair fano_num/fano_den =
    (n·Σx² − (Σx)²) / ((n−1)·Σx) — zero float ops, engine-bit-exact.

    Scale: events collapse to the time-range-sized hourly series (one
    combinable shuffle), then a single-row aggregate.  The second-moment
    accumulator Σx² and the cross products n·Σx², (Σx)² are n²-scale,
    so they ride DECIMAL(38,0) (VERDICT r10 item #2 sweep — Spark's
    non-ANSI sum(long)/multiply wraps silently where DuckDB promotes to
    HUGEINT / raises); decimal headroom is ample past 10^12
    events/hour, and past the BIGINT emission bound the decimal→long
    cast yields NULL (loud), never a wrapped value."""
    ev = events(spark, sf_dir)
    h = (
        ev.select(F.expr("ts_us div 3600000000").alias("hr"))
        .groupBy("hr")
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
    )
    dec = "decimal(38,0)"
    a = h.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("x").cast(dec) * F.col("x").cast(dec)).alias("sxx"),
    )
    return a.select(
        F.col("n").alias("n_hours"),
        F.col("sx").alias("total_events"),
        (
            F.col("n").cast(dec) * F.col("sxx")
            - F.col("sx").cast(dec) * F.col("sx").cast(dec)
        )
        .cast("long")
        .alias("fano_num"),
        ((F.col("n") - 1).cast(dec) * F.col("sx").cast(dec))
        .cast("long")
        .alias("fano_den"),
    )


@query(
    "q_lorenz",
    oracle="""
    WITH u AS (SELECT user_id, CAST(count(*) AS BIGINT) AS x
               FROM events GROUP BY 1),
    r AS (SELECT x, row_number() OVER (ORDER BY x, user_id) AS i,
                 count(*) OVER () AS n, sum(x) OVER () AS sx FROM u),
    d AS (SELECT ((i - 1) * 10) // n AS decile, x, n, sx FROM r)
    SELECT CAST(decile AS BIGINT) AS decile,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(x) AS BIGINT) AS events,
           CAST((sum(x) * 1000) // max(sx) AS BIGINT) AS share_milli
    FROM d GROUP BY decile
    """,
)
def q_lorenz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve at decile resolution — q_gini's companion view (the
    single coefficient says HOW concentrated; the curve says WHERE):
    users ascending-ranked by activity are cut into ten equal-population
    deciles and each decile reports its share of total events in exact
    integer milli.  The familiar "top decile drives X% of load" readout.

    Scale: identical posture to q_gini — one combinable per-user count,
    the bucketed prefix-sum global rank (no partitionless window over
    users), broadcast totals, then a 10-group aggregate."""
    from ..operators import ranking

    ev = events(spark, sf_dir)
    u = ev.groupBy("user_id").agg(F.count(F.lit(1)).cast("long").alias("x"))
    ranked = ranking.global_row_number(
        u,
        [F.col("x").asc(), F.col("user_id").asc()],
        bucket=F.length(F.bin("x")),
        out_col="i",
    )
    tot = u.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
    )
    d = ranked.crossJoin(F.broadcast(tot)).select(
        F.expr("((i - 1) * 10) div n").cast("long").alias("decile"),
        "x",
        "sx",
    )
    return d.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("x").cast("long").alias("events"),
        F.expr("(sum(x) * 1000) div max(sx)").cast("long").alias(
            "share_milli"
        ),
    )


@query(
    "q_tdigest_int",
    oracle="""
    WITH v AS (
        SELECT CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS cents,
               l_orderkey, l_linenumber
        FROM lineitem
    ),
    r AS (
        SELECT cents,
               row_number() OVER (ORDER BY cents, l_orderkey, l_linenumber)
                   AS rnk,
               count(*) OVER () AS n
        FROM v
    )
    SELECT CAST(((rnk - 1) * 32) // n AS BIGINT) AS c_id,
           CAST(count(*) AS BIGINT) AS weight,
           CAST(sum(cents) AS BIGINT) AS sum_cents,
           min(cents) AS min_cents,
           max(cents) AS max_cents
    FROM r GROUP BY 1
    """,
)
def q_tdigest_int(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile digest with INTEGER centroids (the t-digest
    idea — Dunning & Ertl, "Computing Extremely Accurate Quantiles
    Using t-Digests" — under a uniform scale function, so centroid
    boundaries are exact equi-depth rank cuts instead of float
    k-scale ones; VERDICT r04 item #8): values quantize to cents, every
    row gets its GLOBAL rank under the total order (cents, orderkey,
    linenumber), and centroid ``c_id = (rank-1)·K div N`` buckets the
    sorted stream into K=32 equal-weight centroids.  Each centroid
    carries (weight, sum, min, max) — all int64, so the whole digest
    table is bit-reproducible and sits under the full hash gate (the
    float t-digest's asin scale function and incremental-buffer merge
    order cannot be).

    The centroid table IS the mergeable state: shard digests
    concatenate (union) and re-compress by re-ranking centroid
    boundaries — the t-digest cluster-merge step — and quantile q is
    answered from the centroid whose cumulative weight brackets qN,
    interpolating inside [min, max].

    Scale: the global rank uses the bucketed prefix-sum
    (``ranking.global_row_number`` — range buckets from an
    approxQuantile sampling pass, per-bucket windows, a broadcast
    ≤32-row offset table); NO partitionless window ever touches the
    data.  One extra sampling action at plan time, one bucket shuffle,
    one 32-group aggregate."""
    from ..operators.ranking import (
        global_row_number,
        quantile_boundaries,
        range_bucket,
    )

    li = load(spark, sf_dir, "lineitem").select(
        F.floor(F.col("l_extendedprice") * F.lit(100.0) + F.lit(0.5))
        .cast("long")
        .alias("cents"),
        "l_orderkey",
        "l_linenumber",
    )
    bounds = quantile_boundaries(li, "cents", 32)
    ranked = global_row_number(
        li,
        [
            F.col("cents").asc(),
            F.col("l_orderkey").asc(),
            F.col("l_linenumber").asc(),
        ],
        bucket=range_bucket(F.col("cents"), bounds),
        out_col="rnk",
    )
    tot = li.agg(F.count(F.lit(1)).cast("long").alias("n"))
    d = ranked.crossJoin(F.broadcast(tot)).select(
        F.expr("((rnk - 1) * 32) div n").cast("long").alias("c_id"), "cents"
    )
    return d.groupBy("c_id").agg(
        F.count(F.lit(1)).cast("long").alias("weight"),
        F.sum("cents").cast("long").alias("sum_cents"),
        F.min("cents").alias("min_cents"),
        F.max("cents").alias("max_cents"),
    )


@query(
    "q_tdigest_merge",
    oracle="""
    WITH v AS (
        SELECT l_returnflag AS flag,
               CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS cents,
               l_orderkey, l_linenumber
        FROM lineitem
    ),
    r AS (
        SELECT flag, cents,
               row_number() OVER (PARTITION BY flag
                                  ORDER BY cents, l_orderkey, l_linenumber)
                   AS rnk,
               count(*) OVER (PARTITION BY flag) AS ng
        FROM v
    ),
    gd AS (
        SELECT flag, ((rnk - 1) * 32) // ng AS c_id,
               CAST(count(*) AS BIGINT) AS w,
               CAST(sum(cents) AS BIGINT) AS s,
               min(cents) AS mn, max(cents) AS mx
        FROM r GROUP BY 1, 2
    ),
    sorted AS (
        SELECT *,
               coalesce(sum(w) OVER (ORDER BY mn, mx, flag
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING), 0) AS cum_before,
               sum(w) OVER () AS n
        FROM gd
    )
    SELECT CAST((cum_before * 32) // n AS BIGINT) AS m_id,
           CAST(sum(w) AS BIGINT) AS weight,
           CAST(sum(s) AS BIGINT) AS sum_cents,
           min(mn) AS min_cents,
           max(mx) AS max_cents
    FROM sorted GROUP BY 1
    """,
)
def q_tdigest_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Digest MERGEABILITY demonstrated (the property q_tdigest_int's
    centroid table claims): per-group digests (32 equi-depth integer
    centroids per l_returnflag, built with PARTITIONED rank windows —
    no global ordering needed for shard digests) merge into one global
    digest by sorting the 96 centroids on their value ranges,
    prefix-summing weights, and re-bucketing at the merged equal-weight
    cuts — the t-digest cluster-merge step, all integer, bit-exact in
    both engines.  The merged table approximates the direct global
    digest (q_tdigest_int) with the standard merge error; the pytest
    pins total-weight conservation and range nesting.

    Scale: shard digests are the DISTRIBUTED output (one partitioned
    window per shard key — this is how 1000 executors each summarize
    their slice); the merge runs over shards × 32 centroid rows — a
    bounded table (the ≤96-row partitionless prefix window is
    offset-table-scale, same class as the bucketed prefix-sum offsets),
    never the data."""
    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.floor(F.col("l_extendedprice") * F.lit(100.0) + F.lit(0.5))
        .cast("long")
        .alias("cents"),
        "l_orderkey",
        "l_linenumber",
    )
    wg = Window.partitionBy("flag").orderBy(
        "cents", "l_orderkey", "l_linenumber"
    )
    ng = li.groupBy("flag").agg(F.count(F.lit(1)).alias("ng"))
    r = li.withColumn("rnk", F.row_number().over(wg)).join(
        F.broadcast(ng), "flag"
    )
    gd = (
        r.select(
            "flag",
            F.expr("((rnk - 1) * 32) div ng").alias("c_id"),
            "cents",
        )
        .groupBy("flag", "c_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("w"),
            F.sum("cents").cast("long").alias("s"),
            F.min("cents").alias("mn"),
            F.max("cents").alias("mx"),
        )
    )
    wsort = Window.orderBy("mn", "mx", "flag").rowsBetween(
        Window.unboundedPreceding, -1
    )
    tot = gd.agg(F.sum("w").cast("long").alias("n"))
    sorted_ = gd.withColumn(
        "cum_before", F.coalesce(F.sum("w").over(wsort), F.lit(0))
    ).crossJoin(F.broadcast(tot))
    return (
        sorted_.select(
            F.expr("(cum_before * 32) div n").cast("long").alias("m_id"),
            "w",
            "s",
            "mn",
            "mx",
        )
        .groupBy("m_id")
        .agg(
            F.sum("w").cast("long").alias("weight"),
            F.sum("s").cast("long").alias("sum_cents"),
            F.min("mn").alias("min_cents"),
            F.max("mx").alias("max_cents"),
        )
    )


_SESSION_US = 300 * 1_000_000  # 5-minute activity half-open interval


@query(
    "q_interval_union",
    oracle=f"""
    WITH e AS (
        SELECT user_id, event_id, epoch_us(ts) AS s,
               epoch_us(ts) + {_SESSION_US} AS e
        FROM events
    ),
    f AS (
        SELECT user_id, event_id, s, e,
               CASE WHEN max(e) OVER (
                        PARTITION BY user_id ORDER BY s, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING) IS NULL
                      OR s > max(e) OVER (
                        PARTITION BY user_id ORDER BY s, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING)
                    THEN 1 ELSE 0 END AS flag
        FROM e
    ),
    g AS (
        SELECT user_id, s, e,
               sum(flag) OVER (PARTITION BY user_id ORDER BY s, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND CURRENT ROW) AS isl
        FROM f
    ),
    isl AS (
        SELECT user_id, isl, min(s) AS mn, max(e) AS mx,
               count(*) AS n_ev
        FROM g GROUP BY 1, 2
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_islands,
           CAST(sum(mx - mn) AS BIGINT) AS covered_us,
           CAST(max(mx - mn) AS BIGINT) AS max_island_us,
           CAST(sum(n_ev) AS BIGINT) AS n_events
    FROM isl GROUP BY 1
    """,
)
def q_interval_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval union / gaps-and-islands coverage: pad every event to a
    5-minute half-open activity interval, merge overlaps per user, and
    report island count, total covered time, and the longest island —
    the "how much wall-clock was this user actually active" metric that
    session padding + naive sums double-count.  Pure integer epoch
    arithmetic under the full hash gate.

    Algorithm: the classic cumulative-max sweep — an island starts
    exactly where a start exceeds the running max of all prior ends
    (window over (user, start, event_id); the event_id tiebreak makes
    row order total, and equal-start rows can never open an island
    apart, so island membership is order-invariant).  Plan: two
    windows + two aggregations ALL partitioned by user_id — one hash
    partitioning serves the entire chain, no cross-key shuffle.  At
    100 TB each user's timeline sorts within its partition; skew is
    bounded by per-user event counts, the same envelope q_sessionize
    already carries."""
    ev = events(spark, sf_dir).select(
        "user_id",
        "event_id",
        F.col("ts_us").alias("s"),
        (F.col("ts_us") + F.lit(_SESSION_US)).alias("e"),
    )
    order = [F.col("s").asc(), F.col("event_id").asc()]
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_max = F.max("e").over(w_prev)
    flagged = ev.withColumn(
        "flag",
        F.when(prev_max.isNull() | (F.col("s") > prev_max), 1).otherwise(0),
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    grouped = flagged.withColumn("isl", F.sum("flag").over(w_run))
    islands = grouped.groupBy("user_id", "isl").agg(
        F.min("s").alias("mn"),
        F.max("e").alias("mx"),
        F.count(F.lit(1)).alias("n_ev"),
    )
    return islands.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_islands"),
        F.sum(F.col("mx") - F.col("mn")).cast("long").alias("covered_us"),
        F.max(F.col("mx") - F.col("mn")).cast("long").alias("max_island_us"),
        F.sum("n_ev").cast("long").alias("n_events"),
    )


@query(
    "q_cramers_v",
    oracle="""
    WITH c AS (
        SELECT event_type AS et, user_id % 8 AS cohort, count(*) AS o
        FROM events GROUP BY 1, 2
    ),
    rt AS (SELECT et, sum(o) AS r FROM c GROUP BY 1),
    ct AS (SELECT cohort, sum(o) AS cc FROM c GROUP BY 1),
    n AS (SELECT sum(o) AS n FROM c),
    grid AS (
        SELECT rt.et, ct.cohort, coalesce(c.o, 0) AS o, rt.r, ct.cc, n.n
        FROM rt CROSS JOIN ct CROSS JOIN n
        LEFT JOIN c ON c.et = rt.et AND c.cohort = ct.cohort
    ),
    t AS (
        SELECT CAST((CAST(o AS HUGEINT)*n - r*cc)
                    * (CAST(o AS HUGEINT)*n - r*cc) * 1000000
                    // (CAST(n AS HUGEINT) * r * cc) AS BIGINT) AS term,
               n, et, cohort
        FROM grid
    )
    SELECT CAST(max(n) AS BIGINT) AS n,
           CAST(sum(term) AS BIGINT) AS chi2_ppm,
           CAST(sum(term) * 1000
                // (max(n) * (least(count(DISTINCT et),
                                    count(DISTINCT cohort)) - 1))
                AS BIGINT) AS v2_ppb
    FROM t
    """,
)
def q_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V association audit between event type and user cohort
    (user_id mod 8): the chi-square contingency statistic normalized to
    [0,1] — the "is this categorical feature independent of that one"
    check a feature-selection / leakage audit runs.  Integer-exact by
    the q_drift_tri device: each chi² term is
    (o·n − r·c)²·10⁶ div (n·r·c) in DECIMAL(38,0) (identical flooring
    both engines), chi2_ppm sums them, and v2_ppb = chi²/(n·(k−1)) with
    k−1 = least(|et|, |cohort|) − 1 COMPUTED from the data in both
    engines (ADVICE r07: a hardcoded 4 would misstate V² consistently
    in both engines if event-type cardinality ever changed — invisible
    to the hash gate) — V² in parts-per-billion, sqrt-free so the hash
    gate holds (V itself is the caller's one sqrt).

    Scale shape: ONE (type, cohort) fact aggregate (40 cells), then
    everything is cell-table-sized: marginals are 5- and 8-row
    broadcasts, the zero-restoring grid is 40 rows.  Contingency
    cardinality, not event count, bounds all post-scan work."""
    ev = load(spark, sf_dir, "events")
    c = ev.groupBy(
        F.col("event_type").alias("et"),
        (F.col("user_id") % 8).alias("cohort"),
    ).agg(F.count(F.lit(1)).alias("o"))
    rt = c.groupBy("et").agg(F.sum("o").alias("r"))
    ct = c.groupBy("cohort").agg(F.sum("o").alias("cc"))
    n = c.agg(F.sum("o").alias("n"))
    grid = (
        rt.crossJoin(F.broadcast(ct))
        .crossJoin(F.broadcast(n))
        .join(c, ["et", "cohort"], "left")
        .select(
            "et",
            "cohort",
            F.coalesce("o", F.lit(0)).alias("o"),
            "r",
            "cc",
            "n",
        )
    )
    d = "CAST({} AS DECIMAL(38,0))"
    num = f"({d.format('o')} * n - {d.format('r')} * cc)"
    term = f"CAST(({num} * {num} * 1000000) div ({d.format('n')} * r * cc) AS BIGINT)"
    return (
        grid.select(F.expr(term).alias("term"), "n", "et", "cohort")
        .agg(
            F.max("n").cast("long").alias("n"),
            F.sum("term").cast("long").alias("chi2_ppm"),
            F.expr(
                "sum(term) * 1000 div (max(n)"
                " * (least(count(DISTINCT et), count(DISTINCT cohort)) - 1))"
            )
            .cast("long")
            .alias("v2_ppb"),
        )
    )


# ---------------------------------------------------------------------------
# RFM segmentation (round-8b)
# ---------------------------------------------------------------------------


@query(
    "q_rfm_segments",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               CAST(max(epoch_us(ts)) AS BIGINT) AS r_us,
               CAST(count(*) AS BIGINT) AS f,
               CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT))
                    AS BIGINT) AS m_cents
        FROM events GROUP BY user_id
    ),
    th AS (
        SELECT percentile_disc(0.5) WITHIN GROUP (ORDER BY r_us) AS rt,
               percentile_disc(0.5) WITHIN GROUP (ORDER BY f) AS ft,
               percentile_disc(0.5) WITHIN GROUP (ORDER BY m_cents) AS mt
        FROM per_user
    )
    SELECT concat('R', CASE WHEN r_us > rt THEN 1 ELSE 0 END,
                  'F', CASE WHEN f > ft THEN 1 ELSE 0 END,
                  'M', CASE WHEN m_cents > mt THEN 1 ELSE 0 END) AS segment,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(f) AS BIGINT) AS sum_events,
           CAST(sum(m_cents) AS BIGINT) AS sum_cents
    FROM per_user CROSS JOIN th
    GROUP BY 1
    """,
)
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM SEGMENTATION (recency / frequency / monetary, the classic
    customer-value grid): per user the last-seen time, event count, and
    cents mass; each dimension split at its exact median
    (``percentile_disc`` — a real data value, so the cut is
    float-exact in both engines) into above/below, yielding the 8
    R{0,1}F{0,1}M{0,1} segments with user counts and mass rollups.

    The median-threshold broadcast is deliberately NOT an ntile window:
    a partitionless ntile over the user table is the single-task shape
    that dies at a billion users, while percentile_disc is one
    sort-based aggregate to a 1-row threshold table.

    Scale: one user-keyed partial aggregate, a 1-row broadcast, and an
    8-group rollup."""
    ev = events(spark, sf_dir).select(
        "user_id",
        "ts_us",
        F.expr("CAST(floor(value * 100.0 + 0.5) AS BIGINT)").alias("cents"),
    )
    per_user = ev.groupBy("user_id").agg(
        F.max("ts_us").cast("long").alias("r_us"),
        F.count(F.lit(1)).cast("long").alias("f"),
        F.sum("cents").cast("long").alias("m_cents"),
    )
    th = per_user.agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY r_us)").alias("rt"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY f)").alias("ft"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY m_cents)").alias(
            "mt"
        ),
    )
    seg = F.concat(
        F.lit("R"),
        F.when(F.col("r_us") > F.col("rt"), 1).otherwise(0).cast("string"),
        F.lit("F"),
        F.when(F.col("f") > F.col("ft"), 1).otherwise(0).cast("string"),
        F.lit("M"),
        F.when(F.col("m_cents") > F.col("mt"), 1).otherwise(0).cast("string"),
    )
    return (
        per_user.crossJoin(F.broadcast(th))
        .groupBy(seg.alias("segment"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum("f").cast("long").alias("sum_events"),
            F.sum("m_cents").cast("long").alias("sum_cents"),
        )
    )


# ---------------------------------------------------------------------------
# Bitmap-index active users (round 9)
# ---------------------------------------------------------------------------


@query(
    "q_bitmap_dau",
    oracle="""
    WITH e AS (
        SELECT (epoch_us(ts) // 86400000000) * 86400000000 AS day_us,
               user_id // 62 AS word_idx,
               user_id % 62 AS bit
        FROM events
    ),
    words AS (
        SELECT day_us, word_idx,
               bit_or(1::BIGINT << CAST(bit AS INTEGER)) AS bm
        FROM e GROUP BY 1, 2
    ),
    win AS (
        SELECT day_us, word_idx, bm,
               bit_or(bm) OVER (PARTITION BY word_idx ORDER BY day_us
                                ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
                   AS bm7
        FROM words
    )
    SELECT day_us,
           CAST(sum(bit_count(bm)) AS BIGINT) AS dau,
           CAST(sum(bit_count(bm7)) AS BIGINT) AS wau,
           CAST(sum(bit_count(bm)) * 1000
                // sum(bit_count(bm7)) AS BIGINT) AS stickiness_milli
    FROM win GROUP BY day_us
    """,
)
def q_bitmap_dau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BITMAP-INDEX active-user rollup (the roaring-bitmap analytics
    shape, word-aligned): users pack into 62-bit words (word = id div
    62, bit = id mod 62 — bit 62/63 would reach the BIGINT sign bit,
    where DuckDB raises and Spark silently wraps: the one-bit tax that
    keeps both engines in defined-behavior territory) per day via one ``bit_or`` aggregate, DAU =
    popcount sum, WAU = popcount of the 7-day windowed ``bit_or`` per
    word — set union as ONE integer OR instead of a distinct-count
    shuffle, and the window merge is exact (unlike sketch rollups) at
    62 users per row.  DAU/WAU stickiness in milli closes the loop with
    q_stickiness, which computes the same ratio by count-distinct —
    two independent algorithms for one metric.

    Scale: the per-day shuffle carries (day, word) keys — at 1e9 users
    that is 16M words per day, each 8 bytes, ~128 MB/day regardless of
    event volume; the window is per-word (partitioned, bounded frame).
    This is how production engagement pipelines actually store DAU
    sets."""
    from ..tables import events as events_tbl

    ev = events_tbl(spark, sf_dir).select(
        F.expr("(ts_us div 86400000000) * 86400000000").alias("day_us"),
        F.expr("user_id div 62").alias("word_idx"),
        (F.col("user_id") % 62).alias("bit"),
    )
    words = ev.groupBy("day_us", "word_idx").agg(
        F.bit_or(F.expr("shiftleft(1L, cast(bit as int))")).alias("bm")
    )
    w = (
        Window.partitionBy("word_idx")
        .orderBy("day_us")
        .rowsBetween(-6, 0)
    )
    win = words.withColumn("bm7", F.bit_or("bm").over(w))
    return win.groupBy("day_us").agg(
        F.sum(F.bit_count("bm")).cast("long").alias("dau"),
        F.sum(F.bit_count("bm7")).cast("long").alias("wau"),
        F.expr(
            "sum(bit_count(bm)) * 1000 div sum(bit_count(bm7))"
        )
        .cast("long")
        .alias("stickiness_milli"),
    )


# ---------------------------------------------------------------------------
# Time-boxed window funnel (round 9)
# ---------------------------------------------------------------------------

_WF_WINDOW_US = 48 * 3600 * 1_000_000  # 48 h conversion window


@query(
    "q_window_funnel",
    oracle=f"""
    WITH ev AS (
        SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events
        WHERE event_type IN ('view', 'click', 'purchase')
    ),
    s1 AS (
        SELECT user_id, min(ts_us) AS t1 FROM ev
        WHERE event_type = 'view' GROUP BY user_id
    ),
    s2 AS (
        SELECT ev.user_id, min(ts_us) AS t2
        FROM ev JOIN s1 USING (user_id)
        WHERE event_type = 'click' AND ts_us > t1
          AND ts_us <= t1 + {_WF_WINDOW_US}
        GROUP BY ev.user_id
    ),
    s3 AS (
        SELECT ev.user_id, min(ts_us) AS t3
        FROM ev JOIN s1 USING (user_id) JOIN s2 USING (user_id)
        WHERE event_type = 'purchase' AND ts_us > t2
          AND ts_us <= t1 + {_WF_WINDOW_US}
        GROUP BY ev.user_id
    ),
    d AS (
        SELECT s1.user_id, t1,
               CASE WHEN t3 IS NOT NULL THEN 3
                    WHEN t2 IS NOT NULL THEN 2 ELSE 1 END AS depth,
               CASE WHEN t3 IS NOT NULL THEN t3 - t1
                    WHEN t2 IS NOT NULL THEN t2 - t1 ELSE 0 END AS elapsed
        FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
    )
    SELECT CAST(depth AS BIGINT) AS depth,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(elapsed) AS BIGINT) AS elapsed_us_sum
    FROM d GROUP BY depth
    """,
)
def q_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-BOXED window funnel (the ClickHouse ``windowFunnel``
    semantics, greedy earliest-first): view -> click -> purchase where
    every later step must land within 48 h of the user's FIRST view —
    q_funnel's ordering constraint plus the conversion window real
    funnel products enforce (a purchase a month later is not a funnel
    conversion).  Greedy anchoring (each step's time is the earliest
    valid one, window anchored at step 1) is the deterministic
    standard; per reached depth the user count and summed
    time-to-depth.

    Plan: three min-aggregations + joins all keyed by user_id — one
    hash partitioning serves the chain (the q_funnel posture); the
    window bound is a per-row predicate, no extra shuffle."""
    ev = events(spark, sf_dir).select("user_id", "event_type", "ts_us")
    ev = ev.where(F.col("event_type").isin("view", "click", "purchase"))
    s1 = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t1"))
    )
    s2 = (
        ev.where(F.col("event_type") == "click")
        .join(s1, "user_id")
        .where(
            (F.col("ts_us") > F.col("t1"))
            & (F.col("ts_us") <= F.col("t1") + F.lit(_WF_WINDOW_US))
        )
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t2"))
    )
    s3 = (
        ev.where(F.col("event_type") == "purchase")
        .join(s1, "user_id")
        .join(s2, "user_id")
        .where(
            (F.col("ts_us") > F.col("t2"))
            & (F.col("ts_us") <= F.col("t1") + F.lit(_WF_WINDOW_US))
        )
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t3"))
    )
    d = (
        s1.join(s2, "user_id", "left")
        .join(s3, "user_id", "left")
        .select(
            F.when(F.col("t3").isNotNull(), 3)
            .when(F.col("t2").isNotNull(), 2)
            .otherwise(1)
            .cast("long")
            .alias("depth"),
            F.when(F.col("t3").isNotNull(), F.col("t3") - F.col("t1"))
            .when(F.col("t2").isNotNull(), F.col("t2") - F.col("t1"))
            .otherwise(0)
            .cast("long")
            .alias("elapsed"),
        )
    )
    return d.groupBy("depth").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("elapsed").cast("long").alias("elapsed_us_sum"),
    )


# ---------------------------------------------------------------------------
# Token-bucket rate limiter replay (round 9)
# ---------------------------------------------------------------------------

_TB_CAP = 3_000_000  # micro-tokens (3 tokens)
_TB_COST = 1_000_000  # one token per admitted event
_TB_DIV = 86400  # refill: 1 token/day == delta_us div 86400 micro-tokens
_TB_MAX_K = 100  # verdicts for each user's first 100 events (bounded unroll)


def _token_bucket_oracle(
    cap: int = _TB_CAP,
    cost: int = _TB_COST,
    div: int = _TB_DIV,
    maxk: int = _TB_MAX_K,
) -> str:
    parts = [
        f"""WITH ev AS (
        SELECT user_id, epoch_us(ts) AS ts_us, event_id FROM events
    ),
    r AS (
        SELECT user_id, ts_us,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts_us, event_id) AS k
        FROM ev
    ),
    rc AS MATERIALIZED (SELECT * FROM r WHERE k <= {maxk}),
    st_0 AS MATERIALIZED (
        SELECT DISTINCT user_id, CAST({cap} AS BIGINT) AS tok,
               CAST(0 AS BIGINT) AS na, CAST(0 AS BIGINT) AS nd,
               CAST(NULL AS BIGINT) AS prev_ts
        FROM rc
    )"""
    ]
    for k in range(1, maxk + 1):
        p = k - 1
        parts.append(
            f"""st_{k} AS MATERIALIZED (
        SELECT s.user_id,
               CASE WHEN e.ts_us IS NULL THEN s.tok
                    WHEN rf.v >= {cost} THEN rf.v - {cost}
                    ELSE rf.v END AS tok,
               s.na + CASE WHEN e.ts_us IS NOT NULL
                            AND rf.v >= {cost} THEN 1 ELSE 0 END AS na,
               s.nd + CASE WHEN e.ts_us IS NOT NULL
                            AND rf.v < {cost} THEN 1 ELSE 0 END AS nd,
               coalesce(e.ts_us, s.prev_ts) AS prev_ts
        FROM st_{p} s
        LEFT JOIN rc e ON e.user_id = s.user_id AND e.k = {k}
        LEFT JOIN LATERAL (
            SELECT CASE WHEN s.prev_ts IS NULL THEN s.tok
                        ELSE least({cap},
                                   s.tok + (e.ts_us - s.prev_ts)
                                           // {div}) END AS v
        ) rf ON true
    )"""
        )
    parts.append(
        f"""SELECT user_id, CAST(na AS BIGINT) AS n_allowed,
           CAST(nd AS BIGINT) AS n_denied,
           CAST(tok AS BIGINT) AS tokens_final
    FROM st_{maxk}"""
    )
    return ",\n    ".join(parts[:-1]) + "\n    " + parts[-1]


def _tb_replay(
    spark: SparkSession,
    sf_dir: str,
    cap: int = _TB_CAP,
    cost: int = _TB_COST,
    div: int = _TB_DIV,
    maxk: int = _TB_MAX_K,
) -> DataFrame:
    """The q_token_bucket dataflow with the knobs exposed — the
    registered query pins the declared literals; scripts/fuzz_families/bucket.py
    replays the REAL recurrence across the knob space (the
    ttl family's _ttl_pipeline pattern).

    Execution (optimization round 13): the recurrence runs as a JVM
    higher-order ``aggregate`` over each user's rank-capped, k-sorted
    event array instead of an ``applyInPandas`` per-user Python loop
    (guide §4.1/§4.2 — the state is 4 longs and the loop body is three
    integer ops, so the Python boundary WAS the cost: one worker
    round-trip per user group for microseconds of arithmetic).  The
    refill's floor division is ``(d - d % div) / div`` — d is made an
    exact multiple of div before the double division, so the quotient
    is exact (never the float-rounding of a raw floor(a/b)).  Interleaved
    A/B at sf0.1: 0.185 (0.64 s vs 3.43 s) with identical-code controls
    at 0.99/0.95; verdicts pinned by scripts/fuzz_families/bucket.py (3-way
    differential across the knob space) and the unchanged 100-round CTE
    oracle."""
    from ..tables import events as events_tbl

    ev = events_tbl(spark, sf_dir).select("user_id", "ts_us", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    rc = ev.withColumn("k", F.row_number().over(w)).where(F.col("k") <= maxk)

    lcap, lcost, ldiv = (
        F.lit(cap).cast("long"),
        F.lit(cost).cast("long"),
        F.lit(div).cast("long"),
    )

    def step(acc, x):
        d = x["ts_us"] - acc["prev"]
        refill = F.least(lcap, acc["tok"] + ((d - d % ldiv) / ldiv).cast("long"))
        tok0 = F.when(acc["prev"] >= 0, refill).otherwise(acc["tok"])
        admit = tok0 >= lcost
        return F.struct(
            F.when(admit, tok0 - lcost).otherwise(tok0).alias("tok"),
            (acc["na"] + F.when(admit, 1).otherwise(0).cast("long")).alias(
                "na"
            ),
            (acc["nd"] + F.when(admit, 0).otherwise(1).cast("long")).alias(
                "nd"
            ),
            x["ts_us"].alias("prev"),
        )

    init = F.struct(
        lcap.alias("tok"),
        F.lit(0).cast("long").alias("na"),
        F.lit(0).cast("long").alias("nd"),
        F.lit(-1).cast("long").alias("prev"),
    )
    fin = F.aggregate(
        F.sort_array(F.collect_list(F.struct("k", "ts_us"))), init, step
    )
    return (
        rc.groupBy("user_id")
        .agg(fin.alias("__st"))
        .select(
            "user_id",
            F.col("__st.na").alias("n_allowed"),
            F.col("__st.nd").alias("n_denied"),
            F.col("__st.tok").alias("tokens_final"),
        )
    )


@query("q_token_bucket", oracle=_token_bucket_oracle())
def q_token_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKEN-BUCKET rate limiting replayed over the event log (the
    standard-Internet limiter: RFC-style bucket of capacity 3 tokens,
    1 token/day refill, 1 token per admitted event, integer
    micro-tokens with truncating refill) — per user the admitted /
    denied counts and the final bucket level for their first 100
    events (bounded unroll; corpus max is 86 events/user).  The audit
    a quota/abuse pipeline runs offline to tune limits BEFORE enforcing
    them online.

    An inherently sequential per-key recurrence — the same class as
    BPE/Holt/label-prop — made hash-oracle-able by the bounded-rank
    unroll device: 100 MATERIALIZED CTE rounds each advancing every
    user's state by one event (rounds beyond a user's count are
    LEFT-join no-ops).

    Scale: ONE user-keyed shuffle; the recurrence is a JVM higher-order
    ``aggregate`` over each user's rank-capped (<=100-element) sorted
    event array (state = 4 longs — optimization round 13; formerly an
    applyInPandas Python loop whose per-group worker round-trip WAS the
    cost); series cardinality is the parallelism unit."""
    return _tb_replay(spark, sf_dir)


# ---------------------------------------------------------------------------
# CIDR longest-prefix-match enrichment join (round 9)
# ---------------------------------------------------------------------------

# Deterministic route table: one /8 default, three /16 subnets (octet2 in
# 0..2), four /24 carve-outs at (octet2, octet3) in {(0,4),(1,5),(2,6),
# (3,7)} — with IPs built as (10, u%4, u%8, u%256) every user with u%8>=4
# wins a /24, u%8<4 with u%4<3 wins a /16, and u%8=3 falls to the /8, so
# ALL THREE precedence lengths are exercised at every sf (u%8 spans 0..7
# once there are >=8 users).  ONE SQL literal both engines read.
_ROUTES_SQL = (
    "SELECT * FROM (VALUES "
    + ", ".join(
        ["(8, 10, 'rt8_default')"]
        + [f"(16, {(10 << 8) | k}, 'rt16_{k}')" for k in range(3)]
        + [
            f"(24, {(((10 << 8) | (o % 4)) << 8) | o}, 'rt24_{o % 4}_{o}')"
            for o in (4, 5, 6, 7)
        ]
    )
    + ") AS t(plen, pkey, route)"
)


@query(
    "q_ip_lpm_join",
    oracle=f"""
    WITH routes AS ({_ROUTES_SQL}),
    ips AS (
        SELECT event_id, user_id,
               10 * 16777216 + (user_id % 4) * 65536
                   + (user_id % 8) * 256 + user_id % 256 AS ip32
        FROM events
    ),
    cand AS (
        SELECT event_id, user_id, ip32, r.plen, r.route
        FROM ips
        JOIN routes r
          ON r.pkey = CASE r.plen WHEN 8 THEN ip32 // 16777216
                                  WHEN 16 THEN ip32 // 65536
                                  ELSE ip32 // 256 END
    ),
    best AS (
        SELECT event_id, route,
               row_number() OVER (PARTITION BY event_id
                                  ORDER BY plen DESC) AS rn
        FROM cand
    )
    SELECT route,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT b.event_id) AS BIGINT) AS n_matched
    FROM best b WHERE rn = 1
    GROUP BY route
    """,
)
def q_ip_lpm_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CIDR LONGEST-PREFIX-MATCH enrichment join — the geo/ASN lookup
    every log pipeline runs, and a classic non-equi join done right:
    instead of a range theta-join against the route table, each IP
    EXPLODES to its 3 candidate prefix keys (/8, /16, /24 — the
    prefix-length pyramid), equi-joins the broadcast route table on
    (plen, pkey), and the longest match wins per event (row_number by
    plen, the LPM precedence).  IPs are synthesized deterministically
    from user_id (Knuth multiplicative spread over 10.0.0.0/8); the
    route table is ONE VALUES literal both engines read, with /24
    carve-outs inside /16s so precedence is really exercised.

    Scale: candidates are 3 rows per event joined by hash against a
    broadcast table — never a range scan per row; the winner window is
    partitioned by event (3-row partitions).  At 100 TB this is the
    standard trick that turns an unjoinable CIDR θ-join into 3×
    broadcast-hash lookups."""
    from ..tables import events as events_tbl

    routes = spark.sql(f"SELECT plen, pkey, route FROM ({_ROUTES_SQL})")
    ev = events_tbl(spark, sf_dir).select(
        "event_id",
        "user_id",
        (
            F.lit(10 * 16777216)
            + (F.col("user_id") % 4) * F.lit(65536)
            + (F.col("user_id") % 8) * F.lit(256)
            + F.col("user_id") % 256
        ).alias("ip32"),
    )
    cand = ev.select(
        "event_id",
        "ip32",
        F.explode(
            F.array(
                F.struct(
                    F.lit(8).alias("plen"),
                    F.expr("ip32 div 16777216").alias("pkey"),
                ),
                F.struct(
                    F.lit(16).alias("plen"),
                    F.expr("ip32 div 65536").alias("pkey"),
                ),
                F.struct(
                    F.lit(24).alias("plen"),
                    F.expr("ip32 div 256").alias("pkey"),
                ),
            )
        ).alias("c"),
    ).select("event_id", "ip32", "c.plen", "c.pkey")
    joined = cand.join(F.broadcast(routes), ["plen", "pkey"])
    w = Window.partitionBy("event_id").orderBy(F.col("plen").desc())
    best = (
        joined.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
    )
    return best.groupBy("route").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.countDistinct("event_id").cast("long").alias("n_matched"),
    )


# ---------------------------------------------------------------------------
# One-way ANOVA, integer-quantized (round 9b)
# ---------------------------------------------------------------------------


@query(
    "q_anova_f",
    oracle="""
    WITH x AS (
        SELECT event_type, CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS c
        FROM events
    ),
    g AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS ng,
               CAST(sum(c) AS BIGINT) AS sg,
               CAST(sum(c * c) AS BIGINT) AS sqg
        FROM x GROUP BY 1
    ),
    gm AS (SELECT event_type, ng, sg, sqg, sg // ng AS mg FROM g),
    tot AS (
        SELECT CAST(sum(ng) AS BIGINT) AS n,
               CAST(count(*) AS BIGINT) AS k,
               CAST(sum(sg) AS BIGINT) // CAST(sum(ng) AS BIGINT) AS m
        FROM gm
    )
    SELECT t.k, t.n,
           CAST(sum(g.ng * (g.mg - t.m) * (g.mg - t.m)) AS BIGINT) AS ssb,
           CAST(sum(g.sqg - 2 * g.mg * g.sg + g.ng * g.mg * g.mg)
                AS BIGINT) AS ssw,
           CASE WHEN t.k > 1 THEN
             (CAST(CAST(sum(g.ng * (g.mg - t.m) * (g.mg - t.m)) AS BIGINT)
                   AS DOUBLE) / CAST(t.k - 1 AS DOUBLE))
               / (CAST(CAST(sum(g.sqg - 2 * g.mg * g.sg + g.ng * g.mg * g.mg)
                            AS BIGINT) AS DOUBLE)
                  / CAST(t.n - t.k AS DOUBLE))
           ELSE NULL END AS f_stat
    FROM gm g, tot t
    GROUP BY t.k, t.n
    """,
)
def q_anova_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE-WAY ANOVA F statistic across event-type groups on the cents-
    quantized value — "does the metric's mean differ by variant?", the
    first significance read an A/B/n experimentation pipeline takes
    before any pairwise test.

    Integer-quantized variant (the q_ndcg_int / q_tdigest_int house
    device): group means are floor-divided cents (exact BIGINTs), so
    between-group SSB = sum ng*(mg-m)^2 and within-group
    SSW = sum(x^2) - 2*mg*Sg + ng*mg^2 are exact integer sums —
    order-independent, hash-stable — and the F ratio is ONE fixed IEEE
    expression tree over exact-integer-valued doubles (the q_corr
    conversion rule: integer->double is uniquely round-to-nearest).

    Scale: a single two-level aggregation — per-group raw moments
    (count/sum/sum-of-squares, map-side combinable partial agg) then a
    k-row reduction; no row ever leaves its partition unaggregated.
    The second-moment and SSB/SSW accumulators ride DECIMAL(38,0)
    (VERDICT r10 item #2 sweep — non-ANSI sum(long) wraps silently
    where DuckDB promotes to HUGEINT); past the BIGINT emission bound
    the decimal→long cast yields NULL (loud), never a wrap."""
    ev = events(spark, sf_dir)
    x = ev.select("event_type", cents(F.col("value")).alias("c"))
    # n²-scale accumulators (Σc², ng·mg², mg·sg) ride DECIMAL(38,0)
    # (VERDICT r10 item #2 sweep): Spark's non-ANSI sum(long) wraps
    # silently where DuckDB promotes to HUGEINT.  Bounds: sqg ≤ N·c²
    # (~3e21 at N=3e9, cents ≤ 1e6), ssw/ssb same order — decimal
    # headroom to 10^38; past the BIGINT emission bound the
    # decimal→long cast yields NULL (loud), never a wrapped value.
    dec = "decimal(38,0)"
    g = x.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("ng"),
        F.sum("c").cast("long").alias("sg"),
        F.sum(F.col("c").cast(dec) * F.col("c").cast(dec)).alias("sqg"),
    )
    gm = g.withColumn("mg", F.expr("sg div ng"))
    tot = gm.agg(
        F.sum("ng").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.expr("CAST(sum(sg) AS BIGINT) div CAST(sum(ng) AS BIGINT)").alias(
            "m"
        ),
    )
    j = gm.crossJoin(F.broadcast(tot))
    agg = j.groupBy("k", "n").agg(
        F.sum(
            F.col("ng").cast(dec)
            * (F.col("mg") - F.col("m")).cast(dec)
            * (F.col("mg") - F.col("m")).cast(dec)
        )
        .cast("long")
        .alias("ssb"),
        F.sum(
            F.col("sqg")
            - F.lit(2).cast(dec) * F.col("mg").cast(dec) * F.col("sg").cast(dec)
            + F.col("ng").cast(dec) * F.col("mg").cast(dec) * F.col("mg").cast(dec)
        )
        .cast("long")
        .alias("ssw"),
    )
    kd = (F.col("k") - 1).cast("double")
    nd = (F.col("n") - F.col("k")).cast("double")
    # k > 1 guard (ADVICE r09): with a single group, double/0.0 diverges
    # between engines (Spark NULL-ish vs DuckDB Infinity-class) — both
    # sides now emit NULL on that degenerate input instead.
    return agg.select(
        "k",
        "n",
        "ssb",
        "ssw",
        F.when(
            F.col("k") > 1,
            (F.col("ssb").cast("double") / kd)
            / (F.col("ssw").cast("double") / nd),
        ).alias("f_stat"),
    )


# ---------------------------------------------------------------------------
# Length-3 path mining (round 9b)
# ---------------------------------------------------------------------------


@query(
    "q_path_3gram",
    oracle="""
    WITH s AS (
        SELECT event_type AS t1,
               lead(event_type, 1) OVER w AS t2,
               lead(event_type, 2) OVER w AS t3
        FROM (
            SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type
            FROM events
        )
        WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
    ),
    c AS (
        SELECT t1, t2, t3, CAST(count(*) AS BIGINT) AS n
        FROM s WHERE t3 IS NOT NULL
        GROUP BY 1, 2, 3
    ),
    r AS (
        SELECT t1, t2, t3, n,
               row_number() OVER (ORDER BY n DESC, t1, t2, t3) AS rnk
        FROM c
    )
    SELECT t1, t2, t3, n, CAST(rnk AS BIGINT) AS rnk
    FROM r WHERE rnk <= 10
    """,
)
def q_path_3gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LENGTH-3 BEHAVIORAL PATH MINING — the top-10 most common
    consecutive event-type triples across user timelines (the
    PrefixSpan level-3 slice / the "user path Sankey" table a product
    analytics pipeline publishes; q_transitions is the length-2
    Markov matrix this extends).

    Scale: one user-partitioned window pass materializes the triple
    stream join-free (two leads — the q_phrase_search device), counts
    are a map-side-combinable <= |types|³-key aggregate (125 here —
    model-sized, never corpus-sized), top-10 is TakeOrderedAndProject
    with the rank attached to the 10 survivors."""
    ev = events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    s = ev.select(
        F.col("event_type").alias("t1"),
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    ).where(F.col("t3").isNotNull())
    c = s.groupBy("t1", "t2", "t3").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    order = [
        F.col("n").desc(),
        F.col("t1").asc(),
        F.col("t2").asc(),
        F.col("t3").asc(),
    ]
    top = c.orderBy(*order).limit(10)
    w2 = Window.orderBy(*order)
    return top.withColumn(
        "rnk", F.row_number().over(w2).cast("long")
    )


# ---------------------------------------------------------------------------
# Kaplan-Meier survival curve (round 9b)
# ---------------------------------------------------------------------------

_KM_H = 48  # observation window, hours


def _km_oracle() -> str:
    h = _KM_H
    parts = [
        f"""WITH f AS (
        SELECT user_id, min(epoch_us(ts)) AS first_ts,
               min(CASE WHEN event_type = 'purchase'
                        THEN epoch_us(ts) END) AS p_ts
        FROM events GROUP BY 1
    ),
    obs AS (
        SELECT user_id,
               CASE WHEN p_ts IS NOT NULL
                     AND p_ts - first_ts < {h} * 3600000000
                    THEN (p_ts - first_ts) // 3600000000
                    ELSE {h} END AS obs,
               CASE WHEN p_ts IS NOT NULL
                     AND p_ts - first_ts < {h} * 3600000000
                    THEN 1 ELSE 0 END AS ev
        FROM f
    ),
    rk AS (
        SELECT CAST(r.t AS BIGINT) AS t,
               CAST(count(*) FILTER (o.obs >= r.t) AS BIGINT) AS n_risk,
               CAST(count(*) FILTER (o.ev = 1 AND o.obs = r.t)
                    AS BIGINT) AS d
        FROM (SELECT unnest(range(0, {h})) AS t) r, obs o
        GROUP BY 1
    ),
    s_start AS (SELECT CAST(1000000 AS BIGINT) AS s)"""
    ]
    for t in range(h):
        prev = "s_start" if t == 0 else f"s_{t - 1}"
        parts.append(
            f"""s_{t} AS (
        SELECT rk.t, rk.n_risk, rk.d,
               CASE WHEN rk.n_risk = 0 THEN p.s
                    ELSE p.s * (rk.n_risk - rk.d) // rk.n_risk END AS s
        FROM rk, {prev} p WHERE rk.t = {t}
    )"""
        )
    finals = " UNION ALL ".join(
        f"SELECT t AS t_hours, n_risk, d AS n_events, s AS s_ppm"
        f" FROM s_{t} WHERE d > 0"
        for t in range(h)
    )
    return ",\n    ".join(parts) + "\n    " + finals


def _km_risk_table(spark: SparkSession, obs: DataFrame, h: int) -> DataFrame:
    """(t, n_risk, d) for t in 0..h-1 from the per-user (obs, ev) table
    WITHOUT row expansion (VERDICT r11 item #3 — replaces the old
    ``grid.join(obs, obs >= t)`` broadcast-nested-loop that blew the
    user table up 48×): one ≤(h+1)-bucket histogram of obs, then
    n_risk(t) = Σ_{o>=t} cnt as the histogram's suffix sum over the
    calendar grid.  The suffix window runs over the (h+1)-row grid
    only — never a data-scale table."""
    hist = obs.groupBy("obs").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum("ev").cast("long").alias("d"),
    )
    grid = spark.range(0, h + 1).select(F.col("id").alias("t"))
    g = grid.join(
        F.broadcast(hist), grid.t == hist.obs, "left"
    ).select(
        "t",
        F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt"),
        F.coalesce(F.col("d"), F.lit(0)).alias("d"),
    )
    # (h+1)-row calendar grid only — never a data-scale window.
    w_sfx = Window.orderBy("t").rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    return g.select(
        "t",
        F.sum("cnt").over(w_sfx).cast("long").alias("n_risk"),
        "d",
    ).where(F.col("t") < h)


@query("q_survival_km", oracle=_km_oracle())
def q_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KAPLAN-MEIER survival curve (Kaplan & Meier 1958) for
    time-to-first-purchase within a 48-hour observation window —
    right-censoring done properly (users who never purchase inside the
    window stay in every risk set; naive conversion rates silently
    drop them), hourly steps, survival in exact ppm with truncating
    division per step so the whole curve is integer and hash-gated.

    Scale: the fact-scale work is ONE per-user min/min aggregate,
    collapsed to a ≤49-bucket (obs, count, events) HISTOGRAM; the risk
    table falls out as the histogram's suffix sum over the calendar
    grid (VERDICT r11 item #3 — this replaces the old
    ``grid.join(obs, obs >= t)`` broadcast-nested-loop, which expanded
    the PER-USER table 48×; the suffix-sum window runs over the 49-row
    grid only).  The inherently sequential product then folds
    driver-side over the collected risk table (the q_ffd_binpack
    metadata-collect class) while the oracle unrolls the 48 steps as
    1-row CTEs."""
    h = _KM_H
    ev = events(spark, sf_dir)
    f = ev.groupBy("user_id").agg(
        F.min("ts_us").alias("first_ts"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts_us"))
        ).alias("p_ts"),
    )
    in_win = F.col("p_ts").isNotNull() & (
        F.col("p_ts") - F.col("first_ts") < h * 3600000000
    )
    obs = f.select(
        F.when(in_win, F.expr("(p_ts - first_ts) div 3600000000"))
        .otherwise(F.lit(h))
        .alias("obs"),
        F.when(in_win, F.lit(1)).otherwise(F.lit(0)).alias("ev"),
    )
    rk = _km_risk_table(spark, obs, h)
    table = sorted(
        ((r["t"], r["n_risk"], r["d"]) for r in rk.collect())
    )
    s = 1_000_000
    rows = []
    for t, n_risk, d in table:
        if n_risk > 0:
            s = s * (n_risk - d) // n_risk
        if d > 0:
            rows.append((t, n_risk, d, s))
    return spark.createDataFrame(
        rows, "t_hours long, n_risk long, n_events long, s_ppm long"
    )


# ---------------------------------------------------------------------------
# Slope One rating prediction (round 9b)
# ---------------------------------------------------------------------------


@query(
    "q_slope_one",
    oracle="""
    WITH r AS (
        SELECT user_id, event_type,
               CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT))
                    AS BIGINT)
               // CAST(count(*) AS BIGINT) AS rc
        FROM events GROUP BY 1, 2
    ),
    dev AS (
        SELECT a.event_type AS ta, b.event_type AS tb,
               CAST(sum(a.rc - b.rc) AS BIGINT) AS dnum,
               CAST(count(*) AS BIGINT) AS n
        FROM r a JOIN r b ON a.user_id = b.user_id
                         AND a.event_type <> b.event_type
        GROUP BY 1, 2
    ),
    p AS (
        SELECT t.user_id, t.event_type, t.rc AS actual_cents,
               CAST(sum(d.dnum + d.n * o.rc) AS BIGINT) AS pred_num,
               CAST(sum(d.n) AS BIGINT) AS pred_den
        FROM r t
        JOIN dev d ON d.ta = t.event_type
        JOIN r o ON o.user_id = t.user_id AND o.event_type = d.tb
        GROUP BY 1, 2, 3
    )
    SELECT user_id, event_type, actual_cents, pred_num, pred_den,
           (1000 * pred_num
            - ((1000 * pred_num % pred_den) + pred_den) % pred_den)
               // pred_den AS pred_milli
    FROM p
    """,
)
def q_slope_one(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLOPE ONE collaborative filtering (Lemire & Maclachlan 2005) —
    the deliberately-simple item-item recommender: each user "rates"
    each event type by mean spend (floor-div cents), the model is the
    per-type-pair average rating deviation, and the weighted prediction
    for an existing (user, type) cell is Σ_b (dev_num + n·r_ub) div
    Σ_b n over the user's other types — the leave-nothing-out
    self-prediction audit that grades the model before deployment.

    Integer device: deviations stay as (numerator, count) pairs so no
    per-pair division ever happens; the single final division is the
    EXPLICIT floored form (x − pmod(x, den)) / den spelled identically
    in both engines, because the numerator can go negative and Spark's
    `div` truncates toward zero where DuckDB's `//` floors (the
    q_dbscan_grid rule).

    Scale: the model is the |types|² deviation table (25 rows —
    model-sized, never corpus-sized) built from ONE user-keyed
    self-join of the user-type rating table; predictions join ratings
    to the broadcast model.  Fact rows are touched once, in the rating
    aggregate."""
    ev = events(spark, sf_dir)
    r = ev.groupBy("user_id", "event_type").agg(
        F.expr(
            "CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT))"
            " AS BIGINT) div count(*)"
        )
        .cast("long")
        .alias("rc")
    )
    a = r.select(
        "user_id",
        F.col("event_type").alias("ta"),
        F.col("rc").alias("ra"),
    )
    b = r.select(
        "user_id",
        F.col("event_type").alias("tb"),
        F.col("rc").alias("rb"),
    )
    dev = (
        a.join(b, "user_id")
        .where(F.col("ta") != F.col("tb"))
        .groupBy("ta", "tb")
        .agg(
            F.sum(F.col("ra") - F.col("rb")).cast("long").alias("dnum"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
    )
    t = r.select(
        "user_id",
        "event_type",
        F.col("rc").alias("actual_cents"),
    )
    o = r.select(
        "user_id",
        F.col("event_type").alias("tb"),
        F.col("rc").alias("ro"),
    )
    p = (
        t.join(
            F.broadcast(dev),
            F.col("event_type") == F.col("ta"),
        )
        .join(o, ["user_id", "tb"])
        .groupBy("user_id", "event_type", "actual_cents")
        .agg(
            F.sum(F.col("dnum") + F.col("n") * F.col("ro"))
            .cast("long")
            .alias("pred_num"),
            F.sum("n").cast("long").alias("pred_den"),
        )
    )
    return p.select(
        "user_id",
        "event_type",
        "actual_cents",
        "pred_num",
        "pred_den",
        F.expr(
            "(1000 * pred_num"
            " - ((1000 * pred_num % pred_den) + pred_den) % pred_den)"
            " div pred_den"
        )
        .cast("long")
        .alias("pred_milli"),
    )


# ---------------------------------------------------------------------------
# CUPED variance-reduced experiment readout (round 9b)
# ---------------------------------------------------------------------------


@query(
    "q_cuped",
    oracle="""
    WITH b AS (
        SELECT user_id, epoch_us(ts) AS ts_us,
               CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS c
        FROM events
    ),
    mid AS (
        SELECT (min(ts_us) + max(ts_us)) // 2 AS m FROM b
    ),
    u AS (
        SELECT user_id, user_id % 2 AS variant,
               CAST(sum(CASE WHEN ts_us < (SELECT m FROM mid)
                             THEN c ELSE 0 END) AS BIGINT) AS pre,
               CAST(sum(CASE WHEN ts_us >= (SELECT m FROM mid)
                             THEN c ELSE 0 END) AS BIGINT) AS post
        FROM b GROUP BY 1, 2
    ),
    g AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(CAST(sum(pre) AS DECIMAL(38,0)) AS DOUBLE) AS sx,
               CAST(CAST(sum(post) AS DECIMAL(38,0)) AS DOUBLE) AS sy,
               CAST(CAST(sum(pre * pre) AS DECIMAL(38,0)) AS DOUBLE)
                   AS sxx,
               CAST(CAST(sum(pre * post) AS DECIMAL(38,0)) AS DOUBLE)
                   AS sxy
        FROM u
    ),
    v AS (
        SELECT variant,
               CAST(count(*) AS BIGINT) AS n_v,
               CAST(sum(pre) AS BIGINT) AS sum_pre,
               CAST(sum(post) AS BIGINT) AS sum_post
        FROM u GROUP BY 1
    )
    SELECT v.variant, v.n_v, v.sum_pre, v.sum_post,
           CAST(v.sum_post AS DOUBLE) / CAST(v.n_v AS DOUBLE)
               AS mean_post,
           CAST(v.sum_post AS DOUBLE) / CAST(v.n_v AS DOUBLE)
           - ((CAST(g.n AS DOUBLE) * g.sxy - g.sx * g.sy)
              / (CAST(g.n AS DOUBLE) * g.sxx - g.sx * g.sx))
             * (CAST(v.sum_pre AS DOUBLE) / CAST(v.n_v AS DOUBLE)
                - g.sx / CAST(g.n AS DOUBLE)) AS mean_adj
    FROM v, g
    """,
)
def q_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced experiment readout (Deng et al. 2013,
    "Improving the Sensitivity of Online Controlled Experiments") —
    the standard experimentation-platform adjustment: each variant's
    post-period mean corrected by θ·(pre-period deviation), with θ =
    cov(pre, post)/var(pre) pooled over all users, so pre-existing
    user-level differences stop masquerading as treatment effects
    (q_anova_f asks "do means differ"; CUPED answers it with the
    pre-period variance removed).

    Engine-exactness (the q_corr device end-to-end): per-user pre/post
    are exact cents sums split at the global midpoint timestamp, θ's
    moments accumulate as exact integer sums (DECIMAL(38,0) headroom,
    order-independent) converted once to double, and — the key
    identity — the per-variant adjusted mean needs NO per-user float
    sum: mean_adj = Σpost/n_v − θ·(Σpre/n_v − Σpre_all/n), a fixed
    IEEE tree over exact-integer-valued doubles.

    Scale: one per-user aggregate (map-side combinable, the midpoint
    rides a 1-row broadcast), one 1-row moment reduction, one
    |variants|-row rollup — fact rows are touched once."""
    ev = events(spark, sf_dir)
    b = ev.select(
        "user_id", "ts_us", cents(F.col("value")).alias("c")
    )
    mid = b.agg(
        F.expr("(min(ts_us) + max(ts_us)) div 2").alias("m")
    )
    u = (
        b.crossJoin(F.broadcast(mid))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.col("ts_us") < F.col("m"), F.col("c")).otherwise(
                    0
                )
            )
            .cast("long")
            .alias("pre"),
            F.sum(
                F.when(
                    F.col("ts_us") >= F.col("m"), F.col("c")
                ).otherwise(0)
            )
            .cast("long")
            .alias("post"),
        )
        .withColumn("variant", F.col("user_id") % 2)
    )
    dec = "decimal(38,0)"
    g = u.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("pre").cast(dec)).cast(dec).cast("double").alias("sx"),
        F.sum(F.col("post").cast(dec)).cast(dec).cast("double").alias("sy"),
        F.sum((F.col("pre") * F.col("pre")).cast(dec))
        .cast(dec)
        .cast("double")
        .alias("sxx"),
        F.sum((F.col("pre") * F.col("post")).cast(dec))
        .cast(dec)
        .cast("double")
        .alias("sxy"),
    )
    v = u.groupBy("variant").agg(
        F.count(F.lit(1)).cast("long").alias("n_v"),
        F.sum("pre").cast("long").alias("sum_pre"),
        F.sum("post").cast("long").alias("sum_post"),
    )
    j = v.crossJoin(F.broadcast(g))
    nd = F.col("n").cast("double")
    theta = (nd * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        nd * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    mean_post = F.col("sum_post").cast("double") / F.col("n_v").cast(
        "double"
    )
    mean_pre_v = F.col("sum_pre").cast("double") / F.col("n_v").cast(
        "double"
    )
    mean_pre_all = F.col("sx") / nd
    return j.select(
        "variant",
        "n_v",
        "sum_pre",
        "sum_post",
        mean_post.alias("mean_post"),
        (mean_post - theta * (mean_pre_v - mean_pre_all)).alias(
            "mean_adj"
        ),
    )


# ---------------------------------------------------------------------------
# Difference-in-differences readout (round 10)
# ---------------------------------------------------------------------------


@query(
    "q_diff_in_diff",
    oracle="""
    WITH e AS (
        SELECT user_id % 2 AS g, epoch_us(ts) AS ts_us,
               CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS c
        FROM events
    ),
    m AS (SELECT (min(ts_us) + max(ts_us)) // 2 AS mid FROM e),
    cell AS (
        SELECT g, CASE WHEN ts_us >= mid THEN 1 ELSE 0 END AS p,
               CAST(count(*) AS BIGINT) AS n, CAST(sum(c) AS BIGINT) AS s
        FROM e CROSS JOIN m GROUP BY 1, 2
    ),
    w AS (
        SELECT
          max(CASE WHEN g=0 AND p=0 THEN n END) AS n00,
          max(CASE WHEN g=0 AND p=0 THEN s END) AS s00,
          max(CASE WHEN g=0 AND p=1 THEN n END) AS n01,
          max(CASE WHEN g=0 AND p=1 THEN s END) AS s01,
          max(CASE WHEN g=1 AND p=0 THEN n END) AS n10,
          max(CASE WHEN g=1 AND p=0 THEN s END) AS s10,
          max(CASE WHEN g=1 AND p=1 THEN n END) AS n11,
          max(CASE WHEN g=1 AND p=1 THEN s END) AS s11
        FROM cell
    )
    SELECT n00, s00, n01, s01, n10, s10, n11, s11,
           (CAST(s11 AS DOUBLE) / CAST(n11 AS DOUBLE)
            - CAST(s10 AS DOUBLE) / CAST(n10 AS DOUBLE))
           - (CAST(s01 AS DOUBLE) / CAST(n01 AS DOUBLE)
              - CAST(s00 AS DOUBLE) / CAST(n00 AS DOUBLE)) AS did_cents
    FROM w
    """,
)
def q_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIFFERENCE-IN-DIFFERENCES readout (Card & Krueger 1994 posture —
    the quasi-experimental causal estimate when assignment isn't
    randomized; complements q_cuped's variance reduction and q_anova_f's
    omnibus test in the experimentation leg): groups = user parity,
    periods split at the observation-window midpoint (a 1-row broadcast
    scalar, the gapfill device), outcome = cents-exact value sums.  The
    2x2 cell table rides ONE conditional aggregate; the DiD estimate
    (post-pre delta of treated minus control) is one fixed IEEE
    expression over exact-integer-valued doubles (the q_anova_f
    conversion rule), so the double hashes identically cross-engine.

    Scale: one map-side-combinable 4-cell aggregate after a 1-row
    min/max broadcast — two passes over the fact, zero fact-scale
    shuffles."""
    e = events(spark, sf_dir).select(
        (F.col("user_id") % 2).alias("g"),
        "ts_us",
        cents(F.col("value")).alias("c"),
    )
    m = e.agg(
        F.expr("CAST((min(ts_us) + max(ts_us)) div 2 AS BIGINT)").alias("mid")
    )
    cell = (
        e.crossJoin(F.broadcast(m))
        .select(
            "g",
            F.when(F.col("ts_us") >= F.col("mid"), 1).otherwise(0).alias("p"),
            "c",
        )
        .groupBy("g", "p")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("c").cast("long").alias("s"),
        )
    )

    def pick(gg: int, pp: int, col: str):
        return F.max(
            F.when((F.col("g") == gg) & (F.col("p") == pp), F.col(col))
        )

    w = cell.agg(
        pick(0, 0, "n").alias("n00"),
        pick(0, 0, "s").alias("s00"),
        pick(0, 1, "n").alias("n01"),
        pick(0, 1, "s").alias("s01"),
        pick(1, 0, "n").alias("n10"),
        pick(1, 0, "s").alias("s10"),
        pick(1, 1, "n").alias("n11"),
        pick(1, 1, "s").alias("s11"),
    )
    did = (
        F.col("s11").cast("double") / F.col("n11").cast("double")
        - F.col("s10").cast("double") / F.col("n10").cast("double")
    ) - (
        F.col("s01").cast("double") / F.col("n01").cast("double")
        - F.col("s00").cast("double") / F.col("n00").cast("double")
    )
    return w.select("*", did.alias("did_cents"))


# ---------------------------------------------------------------------------
# Sequential-test boundary audit (round 10)
# ---------------------------------------------------------------------------

_SPRT_UP, _SPRT_DOWN = 200, -200
_SPRT_DAY_US = 86_400_000_000


@query(
    "q_sprt_boundary",
    oracle=f"""
    WITH e AS (
        SELECT user_id % 2 AS variant, epoch_us(ts) AS ts_us, event_id,
               CASE WHEN event_type = 'purchase' THEN 9 ELSE -1 END AS w
        FROM events
    ),
    c AS (
        SELECT variant, w,
               row_number() OVER (PARTITION BY variant
                                  ORDER BY ts_us, event_id) AS rnk,
               sum(w) OVER (PARTITION BY variant ORDER BY ts_us, event_id
                            ROWS UNBOUNDED PRECEDING) AS cum
        FROM e
    )
    SELECT variant,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(w) AS BIGINT) AS final_llr,
           CAST(max(cum) AS BIGINT) AS max_llr,
           CAST(min(cum) AS BIGINT) AS min_llr,
           CAST(coalesce(min(CASE WHEN cum >= {_SPRT_UP} THEN rnk END), 0)
                AS BIGINT) AS first_cross_up,
           CAST(coalesce(min(CASE WHEN cum <= {_SPRT_DOWN} THEN rnk END), 0)
                AS BIGINT) AS first_cross_down
    FROM c GROUP BY variant
    """,
)
def q_sprt_boundary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEQUENTIAL-TEST BOUNDARY AUDIT (Wald 1945 SPRT posture — the
    always-valid-inference primitive modern experimentation platforms
    replay offline: walk each variant's event stream accumulating an
    integer log-likelihood-ratio step, +9 on conversion / −1 otherwise,
    and record when the running score first crosses the decision
    boundaries): per variant the final/max/min running LLR and the
    first crossing rank of ±200 (0 = never crossed — the oracle's
    NULL-coalesce channel).

    The running cumsum does NOT ride a 2-partition global window:
    within-day cumsum + day-bucket offset cumsum (the q_pack_sequences
    distributed prefix-sum device — the per-variant offset window runs
    over day-cardinality rows, never events), so every fact-scale stage
    is partition-parallel at 100 TB.  All-integer state; full hash
    oracle against DuckDB's plain global window."""
    ev = events(spark, sf_dir)
    e = ev.select(
        (F.col("user_id") % 2).alias("variant"),
        "ts_us",
        "event_id",
        F.when(F.col("event_type") == "purchase", 9)
        .otherwise(-1)
        .cast("long")
        .alias("w"),
        F.expr(f"ts_us div {_SPRT_DAY_US}").alias("day"),
    )
    win = Window.partitionBy("variant", "day").orderBy("ts_us", "event_id")
    within = e.select(
        "variant",
        "day",
        "w",
        F.sum("w")
        .over(win.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cum_in"),
        F.row_number().over(win).alias("rn_in"),
    )
    daytot = e.groupBy("variant", "day").agg(
        F.sum("w").alias("sw"), F.count(F.lit(1)).alias("cnt")
    )
    wd = (
        Window.partitionBy("variant")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = daytot.select(
        "variant",
        "day",
        F.coalesce(F.sum("sw").over(wd), F.lit(0)).alias("off_w"),
        F.coalesce(F.sum("cnt").over(wd), F.lit(0)).alias("off_n"),
    )
    c = within.join(offsets, ["variant", "day"]).select(
        "variant",
        "w",
        (F.col("off_w") + F.col("cum_in")).cast("long").alias("cum"),
        (F.col("off_n") + F.col("rn_in")).cast("long").alias("rnk"),
    )
    return c.groupBy("variant").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("w").cast("long").alias("final_llr"),
        F.max("cum").cast("long").alias("max_llr"),
        F.min("cum").cast("long").alias("min_llr"),
        F.coalesce(
            F.min(F.when(F.col("cum") >= _SPRT_UP, F.col("rnk"))), F.lit(0)
        )
        .cast("long")
        .alias("first_cross_up"),
        F.coalesce(
            F.min(F.when(F.col("cum") <= _SPRT_DOWN, F.col("rnk"))), F.lit(0)
        )
        .cast("long")
        .alias("first_cross_down"),
    )


# ---------------------------------------------------------------------------
# Two-sample nonparametric battery: Mann-Whitney U + KS D (round 10)
# ---------------------------------------------------------------------------

_NP_BUCKET = 1000  # cents per prefix-sum bucket


@query(
    "q_mann_whitney_ks",
    oracle="""
    WITH e AS (
        -- NULL values carry no rank/CDF mass: without the filter the
        -- NULL-cents GROUP enters the prefix sums where the engines
        -- order it differently (Spark NULLS FIRST vs DuckDB NULLS
        -- LAST) -- found by scripts/fuzz_families/rankcdf.py's nulls family
        SELECT user_id % 2 AS v,
               CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS c
        FROM events WHERE value IS NOT NULL
    ),
    d AS (
        SELECT c,
               CAST(sum(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
               CAST(sum(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1
        FROM e GROUP BY c
    ),
    p AS (
        SELECT c, c0, c1, c0 + c1 AS cnt,
               sum(c0 + c1) OVER (ORDER BY c) AS cum,
               sum(c0) OVER (ORDER BY c) AS cum0,
               sum(c1) OVER (ORDER BY c) AS cum1
        FROM d
    ),
    tot AS (SELECT CAST(sum(c0) AS BIGINT) AS n0,
                   CAST(sum(c1) AS BIGINT) AS n1 FROM d),
    mw AS (
        -- per-row products ride HUGEINT explicitly (ADVICE r11 #3):
        -- DuckDB promotes the SUM to HUGEINT but not the row-level
        -- multiply, so cnt³ alone overflows BIGINT at a ~2.1M-row tie
        -- group — mirror the Spark side's DECIMAL(38,0) device
        SELECT CAST(sum(CAST(c0 AS HUGEINT)
                        * (2 * (cum - cnt + 1) + cnt - 1)) AS BIGINT)
                   AS r2_0,
               CAST(sum(CAST(cnt AS HUGEINT) * cnt * cnt - cnt) AS BIGINT)
                   AS tie_sum
        FROM p
    ),
    ks AS (
        SELECT CAST(max(abs(CAST(cum0 AS HUGEINT) * t.n1
                            - CAST(cum1 AS HUGEINT) * t.n0)) AS BIGINT)
                   AS d_num
        FROM p, tot t
    )
    SELECT t.n0, t.n1,
           CAST(mw.r2_0 - CAST(t.n0 AS HUGEINT) * (t.n0 + 1) AS BIGINT)
               AS u2_0,
           CAST(2 * CAST(t.n0 AS HUGEINT) * t.n1
                - (mw.r2_0 - CAST(t.n0 AS HUGEINT) * (t.n0 + 1)) AS BIGINT)
               AS u2_1,
           mw.tie_sum,
           ks.d_num,
           CASE WHEN t.n0 > 0 AND t.n1 > 0 THEN
               CAST(ks.d_num AS DOUBLE)
                 / (CAST(t.n0 AS DOUBLE) * CAST(t.n1 AS DOUBLE))
           ELSE NULL END AS ks_d
    FROM tot t, mw, ks
    """,
)
def q_mann_whitney_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-SAMPLE NONPARAMETRIC BATTERY (Mann & Whitney 1947; Kolmogorov
    1933 / Smirnov 1939 — the distribution-free significance reads an
    experimentation pipeline runs when q_anova_f's normality posture is
    suspect): variants = user parity over cents-quantized values.

    Integer-exactness devices: Mann-Whitney midranks ride DOUBLED ranks
    (2·midrank = 2·start + cnt − 1 per tie group — no halves), so
    2·R₀, 2·U₀, 2·U₁ and the tie-correction Σ(t³−t) are exact integers
    with the invariant u2_0 + u2_1 = 2·n0·n1; the KS statistic rides
    the CROSS-MULTIPLIED numerator max|F₀−F₁|·n0·n1 (an integer max —
    no fraction comparison), with ks_d emitted as one fixed IEEE
    division of exact ints (the q_anova_f rule).  The n²/n³-scale
    accumulators (r2_0 ≤ 2N², tie_sum ≤ N³, d_num ≤ N²/4) ride
    DECIMAL(38,0) — the q_drift_tri convention — because Spark's
    non-ANSI sum(long) wraps silently past 2^63 where DuckDB promotes
    to HUGEINT; decimal headroom holds past N = 10^12 rows, and past
    the BIGINT emission bound the decimal→long cast yields NULL (a
    loud hash mismatch), never a wrapped value.

    Scale: one map-side-combinable distinct-value aggregate (bounded by
    the cents DOMAIN, not the corpus), then prefix sums via the
    value-bucketed distributed device (within-bucket windows + a
    bucket-offset table of ≤ cents/1000 rows — the q_sprt_boundary
    posture; no partitionless window over the distinct-value table),
    and three 1-row reductions."""
    ev = load(spark, sf_dir, "events")
    e = ev.where(F.col("value").isNotNull()).select(
        (F.col("user_id") % 2).alias("v"),
        F.expr("CAST(floor(value * 100.0 + 0.5) AS BIGINT)").alias("c"),
    )
    d = e.groupBy("c").agg(
        F.sum(F.when(F.col("v") == 0, 1).otherwise(0))
        .cast("long")
        .alias("c0"),
        F.sum(F.when(F.col("v") == 1, 1).otherwise(0))
        .cast("long")
        .alias("c1"),
    )
    db = d.withColumn("bk", F.expr(f"c div {_NP_BUCKET}"))
    win = Window.partitionBy("bk").orderBy("c").rowsBetween(
        Window.unboundedPreceding, 0
    )
    within = db.select(
        "c",
        "c0",
        "c1",
        "bk",
        (F.col("c0") + F.col("c1")).alias("cnt"),
        F.sum(F.col("c0") + F.col("c1")).over(win).alias("w_cum"),
        F.sum("c0").over(win).alias("w_cum0"),
        F.sum("c1").over(win).alias("w_cum1"),
    )
    btot = db.groupBy("bk").agg(
        F.sum(F.col("c0") + F.col("c1")).alias("bt"),
        F.sum("c0").alias("bt0"),
        F.sum("c1").alias("bt1"),
    )
    woff = Window.orderBy("bk").rowsBetween(Window.unboundedPreceding, -1)
    offs = btot.select(
        "bk",
        F.coalesce(F.sum("bt").over(woff), F.lit(0)).alias("off"),
        F.coalesce(F.sum("bt0").over(woff), F.lit(0)).alias("off0"),
        F.coalesce(F.sum("bt1").over(woff), F.lit(0)).alias("off1"),
    )
    p = within.join(offs, "bk").select(
        "c",
        "c0",
        "c1",
        "cnt",
        (F.col("off") + F.col("w_cum")).alias("cum"),
        (F.col("off0") + F.col("w_cum0")).alias("cum0"),
        (F.col("off1") + F.col("w_cum1")).alias("cum1"),
    )
    tot = d.agg(
        F.sum("c0").cast("long").alias("n0"),
        F.sum("c1").cast("long").alias("n1"),
    )
    # n²/n³-scale accumulators ride DECIMAL(38,0) (VERDICT r10 item #2 —
    # the q_drift_tri/q_cramers_v convention): Spark's non-ANSI
    # sum(long) silently wraps past 2^63, and DuckDB's ROW-LEVEL
    # multiplies stay BIGINT too (only the SUM promotes to HUGEINT) —
    # so BOTH sides cast the per-row products up BEFORE the multiply
    # (Spark: decimal(38,0); oracle: explicit CAST .. AS HUGEINT —
    # ADVICE r11 #3).  Bounds with N total rows: r2_0 ≤ 2N², tie_sum ≤ N³,
    # d_num ≤ N²/4 — decimal headroom 10^38 holds past N = 10^12.  The
    # BIGINT emission at the end is exact for N ≤ ~2×10⁹ (where 2N² and
    # N³... the dominant tie_sum ≤ N³ needs N ≤ 2×10⁶ in the degenerate
    # all-one-value case, N ≤ 2×10⁹ under the ≥1000-distinct-cents
    # domain this data model guarantees); past that Spark's decimal→long
    # cast yields NULL (loud hash mismatch), never a wrapped value.
    dec = "decimal(38,0)"
    mw = p.agg(
        F.sum(
            F.col("c0").cast(dec)
            * (2 * (F.col("cum") - F.col("cnt") + 1) + F.col("cnt") - 1).cast(
                dec
            )
        )
        .cast("long")
        .alias("r2_0"),
        F.sum(
            F.col("cnt").cast(dec) * F.col("cnt").cast(dec)
            * F.col("cnt").cast(dec)
            - F.col("cnt").cast(dec)
        )
        .cast("long")
        .alias("tie_sum"),
    )
    ks = (
        p.crossJoin(F.broadcast(tot))
        .agg(
            F.max(
                F.abs(
                    F.col("cum0").cast(dec) * F.col("n1").cast(dec)
                    - F.col("cum1").cast(dec) * F.col("n0").cast(dec)
                )
            )
            .cast("long")
            .alias("d_num")
        )
    )
    u2_0 = F.col("r2_0").cast(dec) - F.col("n0").cast(dec) * (
        F.col("n0") + 1
    ).cast(dec)
    return (
        tot.crossJoin(F.broadcast(mw))
        .crossJoin(F.broadcast(ks))
        .select(
            "n0",
            "n1",
            u2_0.cast("long").alias("u2_0"),
            (
                F.lit(2).cast(dec)
                * F.col("n0").cast(dec)
                * F.col("n1").cast(dec)
                - u2_0
            )
            .cast("long")
            .alias("u2_1"),
            "tie_sum",
            "d_num",
            # one-variant guard (found by scripts/fuzz_families/rankcdf.py on its
            # first run): with n0·n1 = 0, ANSI Spark raises DIVIDE_BY_ZERO
            # where DuckDB emits a value — both engines emit NULL instead
            # (the q_anova_f k>1 convention)
            F.when(
                (F.col("n0") > 0) & (F.col("n1") > 0),
                F.col("d_num").cast("double")
                / (F.col("n0").cast("double") * F.col("n1").cast("double")),
            ).alias("ks_d"),
        )
    )


# ---------------------------------------------------------------------------
# 1-D Wasserstein distance between variant value distributions (round 10)
# ---------------------------------------------------------------------------


@query(
    "q_wasserstein1",
    oracle="""
    WITH e AS (
        -- NULL values carry no rank/CDF mass: without the filter the
        -- NULL-cents GROUP enters the prefix sums where the engines
        -- order it differently (Spark NULLS FIRST vs DuckDB NULLS
        -- LAST) -- found by scripts/fuzz_families/rankcdf.py's nulls family
        SELECT user_id % 2 AS v,
               CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS c
        FROM events WHERE value IS NOT NULL
    ),
    d AS (
        SELECT c,
               CAST(sum(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
               CAST(sum(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1
        FROM e GROUP BY c
    ),
    p AS (
        SELECT c, sum(c0) OVER (ORDER BY c) AS cum0,
                  sum(c1) OVER (ORDER BY c) AS cum1,
               lead(c) OVER (ORDER BY c) AS c_next
        FROM d
    ),
    tot AS (SELECT CAST(sum(c0) AS BIGINT) AS n0,
                   CAST(sum(c1) AS BIGINT) AS n1 FROM d),
    num AS (
        -- aggregate CTE, not GROUP BY: exactly ONE row even when the
        -- domain has < 2 distinct values (every c_next NULL) or the
        -- input is empty — matching the Spark side's grouping-less
        -- agg + crossJoin shape (found by the r11 rank/CDF fuzzer
        -- design pass; a GROUP BY here emits ZERO rows on those
        -- degenerate inputs while Spark emits one NULL row)
        -- the gap product rides HUGEINT explicitly (ADVICE r11 #3):
        -- DuckDB's row-level multiply stays BIGINT and would raise
        -- where Spark's DECIMAL(38,0) device answers
        SELECT CAST(sum(abs(CAST(cum0 AS HUGEINT) * t.n1
                            - CAST(cum1 AS HUGEINT) * t.n0)
                        * (c_next - c)) AS BIGINT) AS w1_num
        FROM p, tot t WHERE c_next IS NOT NULL
    )
    SELECT t.n0, t.n1, num.w1_num,
           CASE WHEN t.n0 > 0 AND t.n1 > 0 THEN
               CAST(num.w1_num AS DOUBLE)
                 / (CAST(t.n0 AS DOUBLE) * CAST(t.n1 AS DOUBLE))
           ELSE NULL END AS w1_cents
    FROM tot t, num
    """,
)
def q_wasserstein1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D WASSERSTEIN (earth-mover) DISTANCE between the two variants'
    value distributions (Monge 1781 / Kantorovich 1942; Ramdas et al.
    2017 for the CDF identity — the optimal-transport drift measure
    that, unlike q_mann_whitney_ks's KS max, weighs HOW FAR mass
    moved): W₁ = ∫|F₀ − F₁| dx over the cents domain, computed exactly
    as Σ |cum0·n1 − cum1·n0|·gap — a cross-multiplied integer numerator
    (the q_mann_whitney_ks device plus the inter-value GAP weight), with
    w1_cents emitted as ONE fixed IEEE division of exact ints.

    Scale: the same domain-bounded distinct-value scaffold as the
    nonparametric battery — prefix sums AND the next-distinct-value
    lead ride the value-bucketed distributed device (within-bucket
    windows + a bucket-cardinality offset/lead table; the bucket-seam
    next value comes from the next bucket's min).  No partitionless
    window over DATA; the bucket-offset table DOES use one
    (``woff``/``wlead`` below) — deliberately, because that table is
    bounded by domain/_NP_BUCKET (≤ cents-range/1000 rows, metadata
    scale), the q_pack_sequences posture.  The w1_num accumulator is
    DECIMAL(38,0) (n²·domain-scale terms — see the agg comment)."""
    ev = load(spark, sf_dir, "events")
    e = ev.where(F.col("value").isNotNull()).select(
        (F.col("user_id") % 2).alias("v"),
        F.expr("CAST(floor(value * 100.0 + 0.5) AS BIGINT)").alias("c"),
    )
    d = e.groupBy("c").agg(
        F.sum(F.when(F.col("v") == 0, 1).otherwise(0))
        .cast("long")
        .alias("c0"),
        F.sum(F.when(F.col("v") == 1, 1).otherwise(0))
        .cast("long")
        .alias("c1"),
    )
    db = d.withColumn("bk", F.expr(f"c div {_NP_BUCKET}"))
    cum_w = Window.partitionBy("bk").orderBy("c").rowsBetween(
        Window.unboundedPreceding, 0
    )
    lead_w = Window.partitionBy("bk").orderBy("c")
    within = db.select(
        "c",
        "bk",
        F.sum("c0").over(cum_w).alias("w_cum0"),
        F.sum("c1").over(cum_w).alias("w_cum1"),
        F.lead("c").over(lead_w).alias("w_next"),
    )
    btot = db.groupBy("bk").agg(
        F.sum("c0").alias("bt0"),
        F.sum("c1").alias("bt1"),
        F.min("c").alias("bmin"),
    )
    woff = Window.orderBy("bk").rowsBetween(Window.unboundedPreceding, -1)
    wlead = Window.orderBy("bk")
    offs = btot.select(
        "bk",
        F.coalesce(F.sum("bt0").over(woff), F.lit(0)).alias("off0"),
        F.coalesce(F.sum("bt1").over(woff), F.lit(0)).alias("off1"),
        F.lead("bmin").over(wlead).alias("next_bmin"),
    )
    p = within.join(offs, "bk").select(
        "c",
        (F.col("off0") + F.col("w_cum0")).alias("cum0"),
        (F.col("off1") + F.col("w_cum1")).alias("cum1"),
        F.coalesce(F.col("w_next"), F.col("next_bmin")).alias("c_next"),
    )
    tot = d.agg(
        F.sum("c0").cast("long").alias("n0"),
        F.sum("c1").cast("long").alias("n1"),
    )
    num = (
        p.where(F.col("c_next").isNotNull())
        .crossJoin(F.broadcast(tot))
        .agg(
            # DECIMAL(38,0) accumulator (VERDICT r10 item #2): the term
            # |cum0·n1 − cum1·n0|·gap is n²·domain-scale — Spark's
            # non-ANSI sum(long) would wrap silently, and DuckDB's
            # row-level multiply stays BIGINT (would raise), so the
            # oracle mirrors with explicit HUGEINT casts (ADVICE r11
            # #3).  Bound: w1_num ≤ (N²/4)·range(c);
            # decimal headroom holds past N = 10^9 even at a 10^18
            # cents range, and past the BIGINT emission bound the
            # decimal→long cast yields NULL (loud), never a wrap.
            F.sum(
                F.abs(
                    F.col("cum0").cast("decimal(38,0)")
                    * F.col("n1").cast("decimal(38,0)")
                    - F.col("cum1").cast("decimal(38,0)")
                    * F.col("n0").cast("decimal(38,0)")
                )
                * (F.col("c_next") - F.col("c")).cast("decimal(38,0)")
            )
            .cast("long")
            .alias("w1_num")
        )
    )
    return tot.crossJoin(F.broadcast(num)).select(
        "n0",
        "n1",
        "w1_num",
        # one-variant guard (scripts/fuzz_families/rankcdf.py): n0·n1 = 0 raises
        # under ANSI where DuckDB answers — both sides emit NULL
        F.when(
            (F.col("n0") > 0) & (F.col("n1") > 0),
            F.col("w1_num").cast("double")
            / (F.col("n0").cast("double") * F.col("n1").cast("double")),
        ).alias("w1_cents"),
    )


# ---------------------------------------------------------------------------
# Round-11 significance battery: ordered-trend, multi-rater agreement,
# Mann-Kendall
# ---------------------------------------------------------------------------


@query(
    "q_cochran_armitage",
    oracle="""
    WITH e AS (
        SELECT CAST((epoch_us(ts) // 86400000000) % 7 AS BIGINT) AS t,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        FROM events
    ),
    g AS (
        SELECT t, CAST(count(*) AS BIGINT) AS ni,
               CAST(sum(y) AS BIGINT) AS ri
        FROM e GROUP BY t
    ),
    a AS (
        SELECT CAST(sum(ni) AS BIGINT) AS n,
               CAST(sum(ri) AS BIGINT) AS r,
               CAST(sum(t * ni) AS BIGINT) AS stn,
               CAST(sum(t * ri) AS BIGINT) AS strr,
               CAST(sum(t * t * ni) AS BIGINT) AS st2n
        FROM g
    )
    SELECT n, r, stn, strr, st2n,
           CASE WHEN r > 0 AND r < n
                     AND CAST(n AS HUGEINT) * st2n
                         - CAST(stn AS HUGEINT) * stn > 0 THEN
               (CAST(n AS DOUBLE) * CAST(strr AS DOUBLE)
                - CAST(stn AS DOUBLE) * CAST(r AS DOUBLE))
               * (CAST(n AS DOUBLE) * CAST(strr AS DOUBLE)
                  - CAST(stn AS DOUBLE) * CAST(r AS DOUBLE))
               * CAST(n AS DOUBLE)
               / (CAST(r AS DOUBLE) * (CAST(n AS DOUBLE) - CAST(r AS DOUBLE))
                  * (CAST(n AS DOUBLE) * CAST(st2n AS DOUBLE)
                     - CAST(stn AS DOUBLE) * CAST(stn AS DOUBLE)))
           ELSE NULL END AS z2
    FROM a
    """,
)
def q_cochran_armitage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COCHRAN-ARMITAGE TREND TEST (Cochran 1954; Armitage 1955): does
    the purchase proportion trend MONOTONICALLY across the ordered
    day-of-week scores t = 0..6?  The chi-square independence family
    (q_cramers_v, q_drift_chi2) is blind to ordering; this is the
    ordered-alternative test an experimentation pipeline reads for
    dose-response-shaped questions.

    Exactness: the five sufficient statistics (n, r, Σt·nᵢ, Σt·rᵢ,
    Σt²·nᵢ) are SMALL-scale exact BIGINTs (each ≤ 36·N, int64-safe to
    N ≈ 2.5e17 events), and z² = (N·Σtr − Σtn·R)²·N /
    (R·(N−R)·(N·Σt²n − (Σtn)²)) is ONE fixed IEEE expression tree over
    exact-integer-valued doubles (the q_anova_f rule), NULL-guarded for
    the degenerate all/none-converted and single-category inputs.  The
    positivity GUARD's cross products n·Σt²n and (Σtn)² are n²-scale
    (36N²-class, past int64 at N ≈ 5e8), so they ride DECIMAL(38,0) on
    the Spark side / HUGEINT in the oracle (ADVICE r11 #1, the
    q_zipf_slope device) — the z² VALUE itself stays in IEEE doubles.

    Scale: one 7-key map-side-combinable agg then a 1-row reduction —
    nothing leaves its partition unaggregated."""
    ev = events(spark, sf_dir)
    e = ev.select(
        F.expr("(ts_us div 86400000000) % 7").cast("long").alias("t"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    g = e.groupBy("t").agg(
        F.count(F.lit(1)).cast("long").alias("ni"),
        F.sum("y").cast("long").alias("ri"),
    )
    a = g.agg(
        F.sum("ni").cast("long").alias("n"),
        F.sum("ri").cast("long").alias("r"),
        F.sum(F.col("t") * F.col("ni")).cast("long").alias("stn"),
        F.sum(F.col("t") * F.col("ri")).cast("long").alias("strr"),
        F.sum(F.col("t") * F.col("t") * F.col("ni"))
        .cast("long")
        .alias("st2n"),
    )
    nd = F.col("n").cast("double")
    rd = F.col("r").cast("double")
    stnd = F.col("stn").cast("double")
    strd = F.col("strr").cast("double")
    st2nd = F.col("st2n").cast("double")
    num = nd * strd - stnd * rd
    # Guard cross products are 36N²-scale → DECIMAL(38,0) (ADVICE r11 #1;
    # oracle mirrors with HUGEINT).  The z² value stays IEEE-double.
    dec = "decimal(38,0)"
    den_exact = (
        F.col("n").cast(dec) * F.col("st2n").cast(dec)
        - F.col("stn").cast(dec) * F.col("stn").cast(dec)
    )
    return a.select(
        "n",
        "r",
        "stn",
        "strr",
        "st2n",
        F.when(
            (F.col("r") > 0) & (F.col("r") < F.col("n")) & (den_exact > 0),
            num * num * nd / (rd * (nd - rd) * (nd * st2nd - stnd * stnd)),
        ).alias("z2"),
    )


@query(
    "q_mk_trend",
    oracle="""
    WITH h AS (SELECT epoch_us(ts) // 3600000000 AS hr,
                      CAST(count(*) AS BIGINT) AS x
               FROM events GROUP BY 1),
    r AS (SELECT hr, x, row_number() OVER (ORDER BY hr) AS rn FROM h),
    s AS (
        SELECT CAST(sum(CASE WHEN b.x > a.x THEN 1
                             WHEN b.x < a.x THEN -1 ELSE 0 END)
                    AS BIGINT) AS s
        FROM r a JOIN r b ON a.rn < b.rn
    ),
    ties AS (
        SELECT CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
                   AS tie_term
        FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM h GROUP BY x)
        WHERE t > 1
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM h)
    SELECT n.n, s.s,
           CAST(n.n * (n.n - 1) * (2 * n.n + 5) - ties.tie_term
                AS BIGINT) AS var18,
           CASE WHEN n.n * (n.n - 1) * (2 * n.n + 5) - ties.tie_term > 0
           THEN CAST(s.s AS DOUBLE) * CAST(s.s AS DOUBLE) * 18.0
                / CAST(n.n * (n.n - 1) * (2 * n.n + 5) - ties.tie_term
                       AS DOUBLE)
           ELSE NULL END AS z2
    FROM n, s, ties
    """,
)
def q_mk_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MANN-KENDALL TREND TEST (Mann 1945; Kendall 1975) on the hourly
    event-count series — the rank-based monotone-trend read that pairs
    with q_theil_sen's slope magnitude (same robustness posture: signs
    of pairwise differences, immune to outliers and any monotone
    transform).  S = Σ_{i<j} sign(xⱼ − xᵢ), the tie-corrected variance
    numerator var18 = n(n−1)(2n+5) − Σt(t−1)(2t+5) (the /18 kept
    symbolic so everything stays integer), and z² = 18·S²/var18 as ONE
    fixed IEEE expression over exact ints.

    Scale: the pair join is quadratic IN THE HOURLY TABLE — which is
    time-range-bounded, not corpus-scale (the q_theil_sen group-bounded
    argument applied to the global series); events collapse to it with
    one combinable shuffle first.  Tie groups ride a second ≤n-row agg."""
    from ..operators import ranking

    ev = events(spark, sf_dir)
    h = (
        ev.select(F.expr("ts_us div 3600000000").alias("hr"))
        .groupBy("hr")
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
    )
    # reused: rank join + ties + count — eager: the consumers are
    # concurrent stages, so a lazy cut would re-shuffle events per branch
    h = h.localCheckpoint(eager=True)
    r = ranking.global_row_number(
        h,
        [F.col("hr").asc()],
        bucket=F.expr("hr div 64"),
        out_col="rn",
        # eager: both self-join sides are concurrent map stages — a
        # lazy cut lets them race and recompute the rank (r12 A/B)
    ).localCheckpoint(eager=True)
    a, b = r.alias("a"), r.alias("b")
    s = a.join(b, F.col("a.rn") < F.col("b.rn")).agg(
        F.sum(
            F.when(F.col("b.x") > F.col("a.x"), 1)
            .when(F.col("b.x") < F.col("a.x"), -1)
            .otherwise(0)
        )
        .cast("long")
        .alias("s")
    )
    ties = (
        h.groupBy("x")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
        .where(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(
                    F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("tie_term")
        )
    )
    n = h.agg(F.count(F.lit(1)).cast("long").alias("n"))
    var18 = (
        F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
        - F.col("tie_term")
    )
    return (
        n.crossJoin(F.broadcast(s))
        .crossJoin(F.broadcast(ties))
        .select(
            "n",
            "s",
            var18.cast("long").alias("var18"),
            F.when(
                var18 > 0,
                F.col("s").cast("double")
                * F.col("s").cast("double")
                * F.lit(18.0)
                / var18.cast("double"),
            ).alias("z2"),
        )
    )


@query(
    "q_fleiss_kappa",
    oracle="""
    WITH types AS (
        SELECT event_type,
               row_number() OVER (ORDER BY event_type) - 1 AS idx,
               count(*) OVER () AS k
        FROM (SELECT DISTINCT event_type FROM events)
    ),
    base AS (
        SELECT e.event_id, t.idx AS true_idx, t.k
        FROM events e JOIN types t USING (event_type)
    ),
    lab AS (
        SELECT b.event_id, r.r,
               CASE WHEN CAST(concat('0x', substring(md5(
                         concat(CAST(b.event_id AS VARCHAR), ':',
                                CAST(r.r AS VARCHAR))), 1, 15)) AS BIGINT)
                         % 4 = 0
                    THEN CAST(concat('0x', substring(md5(
                         concat(CAST(b.event_id AS VARCHAR), ':',
                                CAST(r.r AS VARCHAR), ':p')), 1, 15))
                         AS BIGINT) % b.k
                    ELSE b.true_idx END AS lbl
        FROM base b CROSS JOIN (SELECT * FROM (VALUES (1), (2), (3)) v(r)) r
    ),
    cell AS (
        SELECT event_id, lbl, CAST(count(*) AS BIGINT) AS nij
        FROM lab GROUP BY 1, 2
    ),
    po AS (
        SELECT CAST(count(DISTINCT event_id) AS BIGINT) AS n_items,
               CAST(sum(nij * (nij - 1)) AS BIGINT) AS sum_pairs
        FROM cell
    ),
    mass AS (
        SELECT CAST(sum(m * m) AS BIGINT) AS sum_m2
        FROM (SELECT CAST(count(*) AS BIGINT) AS m FROM lab GROUP BY lbl)
    )
    SELECT p.n_items, p.sum_pairs, m.sum_m2,
           CAST(p.sum_pairs AS DOUBLE)
             / (6.0 * CAST(p.n_items AS DOUBLE)) AS po,
           CAST(m.sum_m2 AS DOUBLE)
             / (9.0 * CAST(p.n_items AS DOUBLE)
                    * CAST(p.n_items AS DOUBLE)) AS pe,
           CASE WHEN m.sum_m2 * 1.0
                     < 9.0 * CAST(p.n_items AS DOUBLE)
                          * CAST(p.n_items AS DOUBLE) THEN
               (CAST(p.sum_pairs AS DOUBLE)
                  / (6.0 * CAST(p.n_items AS DOUBLE))
                - CAST(m.sum_m2 AS DOUBLE)
                  / (9.0 * CAST(p.n_items AS DOUBLE)
                         * CAST(p.n_items AS DOUBLE)))
               / (1.0 - CAST(m.sum_m2 AS DOUBLE)
                  / (9.0 * CAST(p.n_items AS DOUBLE)
                         * CAST(p.n_items AS DOUBLE)))
           ELSE NULL END AS kappa
    FROM po p, mass m
    """,
)
def q_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLEISS' KAPPA (Fleiss 1971) — chance-corrected agreement among
    THREE raters per item, the multi-rater generalization of
    q_eval_kappa's Cohen (which is 2-rater only): the labeling-quality
    read a data-annotation pipeline runs before trusting majority
    votes.  Raters are md5-SYNTHESIZED deterministic views of
    event_type (each rater flips to an md5-chosen category on the 25%
    of (item, rater) cells the md5 device selects — the q_hash_split
    content-free-hash posture, so both engines derive identical
    panels from the same bytes).

    Exactness: per-item pair counts Σnᵢⱼ(nᵢⱼ−1) ≤ 6 per item (3
    raters) and category masses are exact BIGINTs; po = Σpairs/(6N),
    pe = Σm²/(9N²), κ = (po−pe)/(1−pe) are ONE fixed IEEE tree each
    over exact-integer-valued doubles (inputs exceed 2^53 only past
    ~5·10⁷ items for Σm² — document bound, q_anova_f rule), with the
    pe = 1 degenerate (all raters one category) NULL-guarded.

    Scale: the 3-rater expansion is a 3-row broadcast cross; per-item
    cells are one (event, label)-keyed combinable agg; masses a ≤k-row
    agg; everything reduces to one row."""
    ev = load(spark, sf_dir, "events")
    wt = Window.orderBy("event_type")
    types = (
        ev.select("event_type")
        .distinct()
        .select(
            "event_type",
            (F.row_number().over(wt) - 1).alias("idx"),
            F.count(F.lit(1)).over(
                Window.rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ).alias("k"),
        )
    )
    base = ev.select("event_id", "event_type").join(
        F.broadcast(types), "event_type"
    )
    raters = spark.createDataFrame([(1,), (2,), (3,)], "r long")

    def md5_int(col):
        return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")

    sid = F.col("event_id").cast("string")
    rid = F.col("r").cast("string")
    lab = (
        base.crossJoin(F.broadcast(raters))
        .select(
            "event_id",
            F.when(
                md5_int(F.concat(sid, F.lit(":"), rid)) % 4 == 0,
                md5_int(F.concat(sid, F.lit(":"), rid, F.lit(":p")))
                % F.col("k"),
            )
            .otherwise(F.col("idx"))
            .alias("lbl"),
        )
    )
    # reused: cells + masses — eager (concurrent consumer stages)
    lab = lab.localCheckpoint(eager=True)
    cell = lab.groupBy("event_id", "lbl").agg(
        F.count(F.lit(1)).cast("long").alias("nij")
    )
    po = cell.agg(
        F.countDistinct("event_id").cast("long").alias("n_items"),
        F.sum(F.col("nij") * (F.col("nij") - 1))
        .cast("long")
        .alias("sum_pairs"),
    )
    mass = (
        lab.groupBy("lbl")
        .agg(F.count(F.lit(1)).cast("long").alias("m"))
        .agg(
            F.sum(
                F.col("m").cast("decimal(38,0)")
                * F.col("m").cast("decimal(38,0)")
            )
            .cast("long")
            .alias("sum_m2")
        )
    )
    j = po.crossJoin(F.broadcast(mass))
    nd = F.col("n_items").cast("double")
    pod = F.col("sum_pairs").cast("double") / (F.lit(6.0) * nd)
    ped = F.col("sum_m2").cast("double") / (F.lit(9.0) * nd * nd)
    return j.select(
        "n_items",
        "sum_pairs",
        "sum_m2",
        pod.alias("po"),
        ped.alias("pe"),
        F.when(
            F.col("sum_m2") * F.lit(1.0) < F.lit(9.0) * nd * nd,
            (pod - ped) / (F.lit(1.0) - ped),
        ).alias("kappa"),
    )


@query(
    "q_decile_lift",
    oracle="""
    WITH u AS (
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_ev,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_pos
        FROM events GROUP BY user_id
    ),
    r AS (
        SELECT user_id, n_ev, n_pos,
               row_number() OVER (ORDER BY n_ev DESC, user_id) AS rn,
               count(*) OVER () AS n
        FROM u
    ),
    d AS (
        SELECT ((rn - 1) * 10) // n AS decile, n_ev, n_pos,
               CASE WHEN n_pos > 0 THEN 1 ELSE 0 END AS conv
        FROM r
    ),
    g AS (
        SELECT decile, CAST(count(*) AS BIGINT) AS n_users,
               CAST(sum(conv) AS BIGINT) AS n_conv
        FROM d GROUP BY decile
    ),
    tot AS (SELECT CAST(sum(n_users) AS BIGINT) AS nu,
                   CAST(sum(n_conv) AS BIGINT) AS nc FROM g)
    SELECT g.decile, g.n_users, g.n_conv,
           CAST(g.n_conv * 1000000 // g.n_users AS BIGINT) AS conv_ppm,
           CAST(sum(g.n_conv) OVER (ORDER BY g.decile) AS BIGINT)
               AS cum_conv,
           CASE WHEN t.nc > 0 THEN
               CAST(sum(g.n_conv) OVER (ORDER BY g.decile) * t.nu * 1000
                    // (t.nc * sum(g.n_users) OVER (ORDER BY g.decile))
                    AS BIGINT)
           ELSE NULL END AS cum_lift_milli
    FROM g CROSS JOIN tot t
    """,
)
def q_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DECILE LIFT / GAINS TABLE — the model-targeting read every
    propensity deployment starts with (does the top decile by score
    convert k× the base rate?): users scored by activity volume,
    ranked into exact deciles by the bucketed global-rank device, with
    per-decile conversion ppm and CUMULATIVE lift in exact milli units
    (cum_conv·N_total·1000 div (C_total·cum_users) — all integer, full
    hash gate; complements q_pr_curve's threshold sweep and
    q_eval_auc's ranking integral with the bucketed BUSINESS view).

    Scale: one user-keyed combinable agg, the bucketed rank (no
    partitionless window over users), a 10-key rollup; the cumulative
    window runs over the 10-row decile table."""
    from ..operators import ranking

    ev = load(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_ev"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("n_pos"),
    )
    u = u.localCheckpoint(eager=False)  # lazy: the count materializes it
    n = u.count()
    r = ranking.global_row_number(
        u,
        [F.col("n_ev").desc(), F.col("user_id").asc()],
        bucket=F.length(F.bin("n_ev")),
        out_col="rn",
        bucket_desc=True,
    )
    d = r.select(
        F.expr(f"((rn - 1) * 10) div {n}").alias("decile"),
        "n_pos",
        F.when(F.col("n_pos") > 0, 1).otherwise(0).alias("conv"),
    )
    g = d.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("conv").cast("long").alias("n_conv"),
    )
    tot = g.agg(
        F.sum("n_users").cast("long").alias("nu"),
        F.sum("n_conv").cast("long").alias("nc"),
    )
    wc = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, 0
    )  # 10-row decile table only
    j = g.crossJoin(F.broadcast(tot))
    cum_conv = F.sum("n_conv").over(wc)
    return j.select(
        "decile",
        "n_users",
        "n_conv",
        F.expr("n_conv * 1000000 div n_users").cast("long").alias("conv_ppm"),
        cum_conv.cast("long").alias("cum_conv"),
        F.when(
            F.col("nc") > 0,
            F.expr(
                "(sum(n_conv) OVER (ORDER BY decile"
                " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
                " * nu * 1000)"
                " div (nc * sum(n_users) OVER (ORDER BY decile"
                " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))"
            ),
        )
        .cast("long")
        .alias("cum_lift_milli"),
    )


@query(
    "q_l_moments",
    oracle="""
    WITH c AS (
        SELECT CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS x,
               event_id
        FROM events WHERE value IS NOT NULL
    ),
    r AS (SELECT x, row_number() OVER (ORDER BY x, event_id) AS i,
                 count(*) OVER () AS n
          FROM c),
    b AS (
        -- b1/b2 stay HUGEINT internals: their n^2/n^3-scale magnitudes
        -- exceed BIGINT at modest corpus sizes (the x10 probe raised
        -- CAST_OVERFLOW at 3e21), so only the BOUNDED statistics are
        -- emitted; the raw sums never leave the engine
        SELECT CAST(max(n) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS b0_num,
               sum(CAST(i - 1 AS HUGEINT) * x) AS b1_raw,
               sum(CAST(i - 1 AS HUGEINT) * (i - 2) * x) AS b2_raw
        FROM r
    )
    SELECT n, b0_num,
           CAST(b0_num AS DOUBLE) / CAST(n AS DOUBLE) AS l1,
           CASE WHEN n >= 2 THEN
               2.0 * CAST(b1_raw AS DOUBLE)
                   / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))
               - CAST(b0_num AS DOUBLE) / CAST(n AS DOUBLE)
           ELSE NULL END AS l2,
           CASE WHEN n >= 3 THEN
               6.0 * CAST(b2_raw AS DOUBLE)
                   / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)
                      * (CAST(n AS DOUBLE) - 2.0))
               - 6.0 * CAST(b1_raw AS DOUBLE)
                   / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))
               + CAST(b0_num AS DOUBLE) / CAST(n AS DOUBLE)
           ELSE NULL END AS l3
    FROM b
    """,
)
def q_l_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAMPLE L-MOMENTS (Hosking 1990) of the cents-quantized value —
    the order-statistics moments (location l1, scale l2, the l3 whose
    ratio t3 = l3/l2 is L-skewness) that stay FINITE and robust where
    q_stats_moments' raw power moments explode under heavy tails; the
    estimator every hydrology/risk pipeline fits distributions with.
    Probability-weighted moment numerators b0 = Σx, b1 = Σ(i−1)x,
    b2 = Σ(i−1)(i−2)x over GLOBALLY SORTED values are exact integers
    (i from the bucketed global-rank device — the distributed exact
    order statistic, no partitionless window over the fact table);
    b1/b2 are n²/n³-scale so they accumulate in DECIMAL(38,0)/HUGEINT
    (the r10 item #2 convention) and stay INTERNAL — the ×10 probe
    showed a raw BIGINT emission of b2 overflows at 3·10²¹ already, so
    only the bounded statistics (n, b0, and the L-moments, whose
    magnitudes are cents-scale) leave the plan; l1/l2/l3 are ONE fixed
    IEEE tree each with n<2/n<3 NULL guards (both engines convert the
    exact decimal/HUGEINT internals to double by round-to-nearest).

    Scale: rank + three accumulators in one pass over the ranked scan;
    the only shuffles are the rank device's bucket exchange."""
    from ..operators import ranking

    ev = events(spark, sf_dir).where(F.col("value").isNotNull())
    c = ev.select(
        cents(F.col("value")).alias("x"),
        "event_id",
    )
    # cents can be negative: bit_length buckets are not monotone there,
    # so bucket by x div 2^20 (truncation toward zero IS monotone).
    r = ranking.global_row_number(
        c,
        [F.col("x").asc(), F.col("event_id").asc()],
        bucket=F.expr("x div 1048576"),
        out_col="i",
    )
    dec = "decimal(38,0)"
    # b1/b2 stay DECIMAL internals and are NOT emitted raw: they are
    # n^2/n^3-scale (the x10 probe raised CAST_OVERFLOW at 3e21 on a
    # BIGINT emission), so only the bounded statistics leave the plan.
    b = r.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("b0_num"),
        F.sum((F.col("i") - 1).cast(dec) * F.col("x").cast(dec)).alias(
            "b1_raw"
        ),
        F.sum(
            (F.col("i") - 1).cast(dec)
            * (F.col("i") - 2).cast(dec)
            * F.col("x").cast(dec)
        ).alias("b2_raw"),
    )
    nd = F.col("n").cast("double")
    b0 = F.col("b0_num").cast("double")
    b1 = F.col("b1_raw").cast("double")
    b2 = F.col("b2_raw").cast("double")
    return b.select(
        "n",
        "b0_num",
        (b0 / nd).alias("l1"),
        F.when(
            F.col("n") >= 2,
            F.lit(2.0) * b1 / (nd * (nd - F.lit(1.0))) - b0 / nd,
        ).alias("l2"),
        F.when(
            F.col("n") >= 3,
            F.lit(6.0) * b2 / (nd * (nd - F.lit(1.0)) * (nd - F.lit(2.0)))
            - F.lit(6.0) * b1 / (nd * (nd - F.lit(1.0)))
            + b0 / nd,
        ).alias("l3"),
    )


@query(
    "q_cumulative_distinct",
    oracle="""
    WITH fs AS (
        SELECT user_id,
               min(epoch_us(ts) // 86400000000) AS first_day
        FROM events GROUP BY user_id
    ),
    days AS (
        SELECT DISTINCT epoch_us(ts) // 86400000000 AS day FROM events
    ),
    nd AS (
        SELECT first_day AS day, CAST(count(*) AS BIGINT) AS new_users
        FROM fs GROUP BY first_day
    )
    SELECT d.day,
           CAST(coalesce(nd.new_users, 0) AS BIGINT) AS new_users,
           CAST(sum(coalesce(nd.new_users, 0)) OVER (ORDER BY d.day)
                AS BIGINT) AS cum_users
    FROM days d LEFT JOIN nd ON nd.day = d.day
    """,
)
def q_cumulative_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUMULATIVE-DISTINCT USER CURVE (the DAU table's missing
    companion: "how many users have we EVER seen by day d?") via the
    first-seen identity — cumulative COUNT DISTINCT over an append
    stream equals the running sum of per-day FIRST APPEARANCES, which
    turns an unbounded distinct-state problem into one user-keyed min
    + a day-cardinality prefix sum.  The device is what makes the
    query scale: no growing distinct set is ever materialized per day
    (contrast q_bitmap_dau's per-day exact bitmaps).

    Scale: one user-keyed combinable min, one ≤days-row rollup; the
    cumulative window runs over the time-range-bounded day table
    (documented bounded-table window, the q_wasserstein1 posture)."""
    ev = events(spark, sf_dir)
    fs = ev.groupBy("user_id").agg(
        F.expr("min(ts_us div 86400000000)").alias("first_day")
    )
    days = ev.select(
        F.expr("ts_us div 86400000000").alias("day")
    ).distinct()
    nd = fs.groupBy(F.col("first_day").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("new_users")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return (
        days.join(nd, "day", "left")
        .select("day", F.coalesce("new_users", F.lit(0)).alias("new_users"))
        .select(
            "day",
            F.col("new_users").cast("long").alias("new_users"),
            F.sum("new_users").over(w).cast("long").alias("cum_users"),
        )
    )


@query(
    "q_negative_sampling",
    oracle="""
    WITH pos AS (
        SELECT DISTINCT user_id, event_type FROM events
    ),
    types AS (SELECT DISTINCT event_type FROM events),
    users AS (SELECT DISTINCT user_id FROM events),
    cand AS (
        SELECT u.user_id, t.event_type,
               CAST(concat('0x', substring(md5(
                   concat('neg:', CAST(u.user_id AS VARCHAR), ':',
                          t.event_type)), 1, 15)) AS BIGINT) AS h
        FROM users u CROSS JOIN types t
        LEFT JOIN pos p ON p.user_id = u.user_id
                       AND p.event_type = t.event_type
        WHERE p.user_id IS NULL
    ),
    ranked AS (
        SELECT user_id, event_type,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY h, event_type) AS rn
        FROM cand
    ),
    neg AS (SELECT user_id, event_type FROM ranked WHERE rn <= 2)
    SELECT t.event_type,
           CAST(coalesce(p.n_pos, 0) AS BIGINT) AS n_pos_users,
           CAST(coalesce(n.n_neg, 0) AS BIGINT) AS n_neg_samples
    FROM types t
    LEFT JOIN (SELECT event_type, count(*) AS n_pos FROM pos
               GROUP BY 1) p USING (event_type)
    LEFT JOIN (SELECT event_type, count(*) AS n_neg FROM neg
               GROUP BY 1) n USING (event_type)
    """,
)
def q_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DETERMINISTIC NEGATIVE SAMPLING for implicit-feedback training
    (the recsys/contrastive-learning data-prep step: every observed
    (user, type) positive needs unobserved negatives, and rand() would
    make the training set irreproducible): per user, the 2 unobserved
    event types ranked first by the md5-int device — stable across
    runs, engines, and partitionings (the q_hash_split posture) — with
    the per-type positive/negative census as the audit.

    Plan shape: the candidate grid is users × |types| — a BROADCAST
    cross with a bounded multiplier (~20), not user × user — pruned by
    one LEFT ANTI join against the positives; per-user top-2 rides a
    user-PARTITIONED row_number (partition-parallel, never global).

    Scale: two distinct aggs + one broadcast cross + one anti join +
    one partitioned rank; output is |types| rows."""
    ev = load(spark, sf_dir, "events")
    pos = ev.select("user_id", "event_type").distinct()
    # reused: grid prune + census — eager (the anti-join and census
    # branches are concurrent; lazy would re-shuffle events per branch)
    pos = pos.localCheckpoint(eager=True)
    types = pos.select("event_type").distinct()
    users = pos.select("user_id").distinct()
    cand = (
        users.crossJoin(F.broadcast(types))
        .join(pos, ["user_id", "event_type"], "left_anti")
        .select(
            "user_id",
            "event_type",
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("neg:"),
                            F.col("user_id").cast("string"),
                            F.lit(":"),
                            F.col("event_type"),
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            )
            .cast("long")
            .alias("h"),
        )
    )
    w = Window.partitionBy("user_id").orderBy("h", "event_type")
    neg = (
        cand.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 2)
        .select("user_id", "event_type")
    )
    p = pos.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_pos")
    )
    n = neg.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_neg")
    )
    return (
        types.join(p, "event_type", "left")
        .join(n, "event_type", "left")
        .select(
            "event_type",
            F.coalesce("n_pos", F.lit(0)).cast("long").alias("n_pos_users"),
            F.coalesce("n_neg", F.lit(0)).cast("long").alias("n_neg_samples"),
        )
    )
