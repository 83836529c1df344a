"""Declared time-series feature queries (SURVEY.md 2.12 EXT): bounded-
horizon EWMA and a cogroup-based point-in-time (feature-store) join.

Both keep the float policy: EWMA is computed in fixed-point integers
(powers of two are exact in double), and the point-in-time join selects
rows by exact integer/date comparisons — so both carry full value-hash
oracles.
"""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..tables import cents as cents_of, events, load
from .registry import query

_EWMA_TAPS = 16
_EWMA_SCALE_BITS = 24


def _ewma_oracle() -> str:
    taps = " + ".join(
        f"COALESCE(lag(cents, {j}) OVER w, 0) * {1 << (_EWMA_SCALE_BITS - 1 - j)}"
        for j in range(_EWMA_TAPS)
    )
    return f"""
    SELECT user_id, event_id,
           CAST(({taps}) AS DOUBLE) / {1 << _EWMA_SCALE_BITS} / 100.0
               AS ewma
    FROM (
        SELECT user_id, event_id, epoch_us(ts) AS ts_us,
               CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
        FROM events
    )
    WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
    """


@query("q_ewma", oracle=_ewma_oracle())
def q_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-horizon EWMA (alpha = 1/2, 16 taps) per user event stream —
    the standard streaming feature smoother, truncated to a fixed lag
    horizon as production feature stores do (tap 16 carries weight 2^-16;
    the tail is noise).  Fixed-point trick: weights are powers of two and
    values are exact cents, so every product is an exact BIGINT and the
    sum is order-independent — the one trailing double division pair
    (/2^24 exact, /100 rounds once) is cross-engine deterministic, which
    puts an EWMA under the value-hash gate.  Scale: one window sort per
    user partition, then a pure lag-projection — no iteration, no state."""
    ev = events(spark, sf_dir).select(
        "user_id",
        "event_id",
        "ts_us",
        cents_of(F.col("value")).alias("cents"),
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    acc = F.lit(0).cast("long")
    for j in range(_EWMA_TAPS):
        acc = acc + F.coalesce(F.lag("cents", j).over(w), F.lit(0)) * F.lit(
            1 << (_EWMA_SCALE_BITS - 1 - j)
        )
    return ev.select(
        "user_id",
        "event_id",
        (
            acc.cast("double") / F.lit(float(1 << _EWMA_SCALE_BITS)) / 100.0
        ).alias("ewma"),
    )


@query(
    "q_cogroup_asof",
    oracle="""
    WITH cand AS (
        SELECT ev.event_id, o.o_orderkey, o.o_orderdate
        FROM events ev
        JOIN orders o
          ON o.o_custkey = ev.user_id AND o.o_orderdate <= CAST(ev.ts AS DATE)
    ),
    latest AS (
        SELECT event_id, max(o_orderdate) AS d FROM cand GROUP BY event_id
    ),
    sel AS (
        SELECT c.event_id, max(c.o_orderkey) AS as_of_orderkey
        FROM cand c JOIN latest l
          ON c.event_id = l.event_id AND c.o_orderdate = l.d
        GROUP BY c.event_id
    )
    SELECT e.event_id, e.user_id, s.as_of_orderkey
    FROM events e LEFT JOIN sel s USING (event_id)
    """,
)
def q_cogroup_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (feature-store) join via ``cogroup + applyInPandas``:
    each user's event stream and order history meet in ONE pandas batch,
    where a sorted merge (`searchsorted`) finds, per event, the latest
    order at or before the event date — training-serving-skew-free
    feature lookup.  Cogroup is the right Spark surface: both sides
    hash-partition on the key ONCE, and the per-key pandas merge replaces
    the exploding event×order inequality join the SQL oracle runs
    (max_by over the range join).  Deterministic: ties on order date
    resolve to the max orderkey, selection on exact ints/dates."""
    ev = events(spark, sf_dir).select(
        "event_id", "user_id", F.col("ts_t").cast("date").alias("ev_date")
    )
    orders = load(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate"
    )

    def merge(evs: pd.DataFrame, ords: pd.DataFrame) -> pd.DataFrame:
        out = evs[["event_id", "user_id"]].copy()
        if not len(evs):
            return out.assign(as_of_orderkey=pd.Series(dtype="Int64"))
        if not len(ords):
            out["as_of_orderkey"] = pd.array([None] * len(evs), dtype="Int64")
            return out
        # sort orders by (date, orderkey): for each event date, the
        # rightmost order with date <= event date IS the max-key order of
        # the latest date (the deterministic tie-break).
        o = ords.sort_values(["o_orderdate", "o_orderkey"]).reset_index(
            drop=True
        )
        idx = o["o_orderdate"].searchsorted(evs["ev_date"], side="right") - 1
        keys = o["o_orderkey"].to_numpy()
        vals = [int(keys[i]) if i >= 0 else None for i in idx]
        out["as_of_orderkey"] = pd.array(vals, dtype="Int64")
        return out

    return (
        ev.groupBy("user_id")
        .cogroup(orders.groupBy(F.col("o_custkey").alias("user_id")))
        .applyInPandas(
            merge, "event_id long, user_id long, as_of_orderkey long"
        )
    )


_HOUR_US = 3600 * 1_000_000


@query(
    "q_interpolate",
    oracle=f"""
    WITH obs AS (
        SELECT user_id,
               epoch_us(ts) - epoch_us(ts) % {_HOUR_US} AS hour_us,
               max(value) AS v
        FROM events WHERE user_id < 50 AND value IS NOT NULL
        GROUP BY 1, 2
    ),
    r AS (SELECT user_id, min(hour_us) AS lo, max(hour_us) AS hi
          FROM obs GROUP BY 1),
    spine AS (
        SELECT user_id, unnest(generate_series(lo, hi, {_HOUR_US}))
                   AS hour_us
        FROM r
    ),
    j AS (
        SELECT s.user_id, s.hour_us, o.v,
               last_value(o.v IGNORE NULLS) OVER w_prev AS vp,
               last_value(CASE WHEN o.v IS NOT NULL THEN s.hour_us END
                          IGNORE NULLS) OVER w_prev AS tp,
               first_value(o.v IGNORE NULLS) OVER w_next AS vn,
               first_value(CASE WHEN o.v IS NOT NULL THEN s.hour_us END
                           IGNORE NULLS) OVER w_next AS tn
        FROM spine s LEFT JOIN obs o USING (user_id, hour_us)
        WINDOW
          w_prev AS (PARTITION BY s.user_id ORDER BY s.hour_us
                     ROWS UNBOUNDED PRECEDING),
          w_next AS (PARTITION BY s.user_id ORDER BY s.hour_us
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, hour_us,
           CASE WHEN v IS NOT NULL THEN v
                ELSE vp + (vn - vp) * (CAST(hour_us - tp AS DOUBLE)
                                       / CAST(tn - tp AS DOUBLE))
           END AS v_interp
    FROM j
    """,
)
def q_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation over a dense per-user hourly spine: silent
    hours get vp + (vn-vp)·Δt/T from the bracketing observations.  The
    spine endpoints are each user's observed min/max hour, so every gap
    is interior and bracketed.  Float policy: the interpolation is ONE
    fixed expression tree of exact-integer-derived doubles (hour deltas
    < 2^53) evaluated identically by both engines, and the per-hour
    observation is max(value) (order-independent), so the result
    hash-matches without rounding.

    Scale: everything partitions by user_id (spine generation is a
    per-user sequence — no driver collect; windows are per-user);
    states the same shape ``q_gapfill_hours`` proves for counts."""
    ev = events(spark, sf_dir).where(
        (F.col("user_id") < 50) & F.col("value").isNotNull()
    )
    hour = (F.col("ts_us") - F.col("ts_us") % _HOUR_US).alias("hour_us")
    obs = ev.groupBy("user_id", hour).agg(F.max("value").alias("v"))
    spine = (
        obs.groupBy("user_id")
        .agg(F.min("hour_us").alias("lo"), F.max("hour_us").alias("hi"))
        .select(
            "user_id",
            F.explode(
                F.sequence(F.col("lo"), F.col("hi"), F.lit(_HOUR_US))
            ).alias("hour_us"),
        )
    )
    j = spine.join(obs, ["user_id", "hour_us"], "left")
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("hour_us")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_next = (
        Window.partitionBy("user_id")
        .orderBy("hour_us")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    t_obs = F.when(F.col("v").isNotNull(), F.col("hour_us"))
    j = j.select(
        "user_id",
        "hour_us",
        "v",
        F.last("v", ignorenulls=True).over(w_prev).alias("vp"),
        F.last(t_obs, ignorenulls=True).over(w_prev).alias("tp"),
        F.first("v", ignorenulls=True).over(w_next).alias("vn"),
        F.first(t_obs, ignorenulls=True).over(w_next).alias("tn"),
    )
    interp = F.col("vp") + (F.col("vn") - F.col("vp")) * (
        (F.col("hour_us") - F.col("tp")).cast("double")
        / (F.col("tn") - F.col("tp")).cast("double")
    )
    return j.select(
        "user_id",
        "hour_us",
        F.when(F.col("v").isNotNull(), F.col("v"))
        .otherwise(interp)
        .alias("v_interp"),
    )


@query(
    "q_rolling_median",
    oracle="""
    WITH c AS (
        SELECT user_id, event_id, epoch_us(ts) AS ts_us,
               CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
        FROM events WHERE value IS NOT NULL
    ),
    w AS (
        SELECT user_id, event_id,
               list_sort(list(cents) OVER (
                   PARTITION BY user_id ORDER BY ts_us, event_id
                   ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)) AS win
        FROM c
    )
    SELECT user_id, event_id,
           win[(len(win) + 1) // 2] AS med_cents
    FROM w
    """,
)
def q_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling median (lower median of the trailing 5 observations per
    user) — the robust smoother for spike-laden series, an
    order-statistic no running-aggregate trick computes.  Values
    quantize to exact integer cents; the frame's values collect into a
    sorted bounded array (≤5 elements — window-frame-bounded memory)
    and the median is an index pick, so the result is engine-exact.

    Scale: one user-partitioned window sort (shared with every other
    per-user frame); the collected array is frame-sized, never
    partition-sized."""
    ev = events(spark, sf_dir).where(F.col("value").isNotNull())
    cents = cents_of(F.col("value"))
    c = ev.select("user_id", "event_id", "ts_us", cents.alias("cents"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(-4, Window.currentRow)
    )
    win = F.sort_array(F.collect_list("cents").over(w))
    med = F.element_at(win, ((F.size(win) + 1) / 2).cast("int"))
    return c.select("user_id", "event_id", med.alias("med_cents"))


@query(
    "q_cusum",
    oracle="""
    WITH RECURSIVE c AS (
        SELECT user_id, event_id, epoch_us(ts) AS ts_us,
               CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
        FROM events WHERE value IS NOT NULL
    ),
    seq AS (
        SELECT user_id, event_id, cents,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts_us, event_id) AS rn,
               first_value(cents) OVER (PARTITION BY user_id
                                        ORDER BY ts_us, event_id) AS ref
        FROM c
    ),
    cusum AS (
        SELECT user_id, event_id, rn,
               greatest(0, cents - ref - 100) AS s
        FROM seq WHERE rn = 1
        UNION ALL
        SELECT seq.user_id, seq.event_id, seq.rn,
               greatest(0, cusum.s + seq.cents - seq.ref - 100) AS s
        FROM seq JOIN cusum
          ON seq.user_id = cusum.user_id AND seq.rn = cusum.rn + 1
    )
    SELECT user_id, event_id, CAST(s AS BIGINT) AS cusum,
           s > 1000 AS alarm
    FROM cusum
    """,
)
def q_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM changepoint detection per user (reference = the
    user's first observation, drift k=100 cents, alarm h=1000): the
    classic sequential statistic s_t = max(0, s_{t-1} + x_t − ref − k)
    that no window frame expresses — implemented as an Arrow-batched
    ``applyInPandas`` over user groups (numpy loop over each user's
    ordered integer cents).  Integer state ⇒ engine-exact, and the
    oracle replays the recursion as a DuckDB RECURSIVE CTE stepping on
    row_number — a custom sequential operator under the FULL value-hash
    gate.

    Scale: state is one integer per user; groups process independently
    (user_id partitioning, the same shuffle every per-user op shares);
    the per-group loop is O(rows in group) with Arrow-batch transfer."""
    import pandas as pd

    ev = events(spark, sf_dir).where(F.col("value").isNotNull())
    cents = cents_of(F.col("value"))
    c = ev.select("user_id", "event_id", "ts_us", cents.alias("cents"))

    def cusum_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts_us", "event_id"])
        ref = int(pdf["cents"].iloc[0])
        s = 0
        out = []
        for x in pdf["cents"].astype("int64"):
            s = max(0, s + int(x) - ref - 100)
            out.append(s)
        return pd.DataFrame(
            {
                "user_id": pdf["user_id"],
                "event_id": pdf["event_id"],
                "cusum": out,
                "alarm": [v > 1000 for v in out],
            }
        )

    return c.groupBy("user_id").applyInPandas(
        cusum_group,
        "user_id long, event_id long, cusum long, alarm boolean",
    )


@query(
    "q_theil_sen",
    oracle="""
    WITH c AS (
        SELECT user_id, event_id, epoch_us(ts) AS ts_us,
               CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
        FROM events WHERE value IS NOT NULL
    ),
    pairs AS (
        SELECT a.user_id,
               CAST(b.cents - a.cents AS DOUBLE)
               / (CAST(b.ts_us - a.ts_us AS DOUBLE) / 3600000000.0)
                   AS slope
        FROM c a JOIN c b
          ON a.user_id = b.user_id
         AND (a.ts_us < b.ts_us
              OR (a.ts_us = b.ts_us AND a.event_id < b.event_id))
         AND a.ts_us <> b.ts_us
    )
    SELECT user_id,
           count(*) AS n_pairs,
           percentile_disc(0.5) WITHIN GROUP (ORDER BY slope)
               AS slope_cents_per_hour
    FROM pairs GROUP BY user_id
    """,
)
def q_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend estimate per user: the median of all
    pairwise slopes (cents/hour) — immune to outliers that wreck
    least-squares.  Each slope is ONE IEEE division of exact integers
    (deterministic), and the median is percentile_disc — an actual data
    value, not an interpolation — so the whole estimator hash-matches.

    Scale: pairs are quadratic IN THE GROUP (67 events → ~2.2k pairs
    here) but linear across groups; at production the standard fix is
    the repeated-median or a per-group hash sample cap before pairing —
    group-bounded work either way, shuffled once on user_id."""
    ev = events(spark, sf_dir).where(F.col("value").isNotNull())
    cents = cents_of(F.col("value"))
    c = ev.select("user_id", "event_id", "ts_us", cents.alias("cents"))
    a = c.select(
        "user_id",
        F.col("event_id").alias("id_a"),
        F.col("ts_us").alias("ts_a"),
        F.col("cents").alias("c_a"),
    )
    b = c.select(
        "user_id",
        F.col("event_id").alias("id_b"),
        F.col("ts_us").alias("ts_b"),
        F.col("cents").alias("c_b"),
    )
    pairs = a.join(b, "user_id").where(
        (
            (F.col("ts_a") < F.col("ts_b"))
            | (
                (F.col("ts_a") == F.col("ts_b"))
                & (F.col("id_a") < F.col("id_b"))
            )
        )
        & (F.col("ts_a") != F.col("ts_b"))
    )
    slope = (F.col("c_b") - F.col("c_a")).cast("double") / (
        (F.col("ts_b") - F.col("ts_a")).cast("double") / F.lit(3.6e9)
    )
    return (
        pairs.select("user_id", slope.alias("slope"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.expr(
                "percentile_disc(0.5) WITHIN GROUP (ORDER BY slope)"
            ).alias("slope_cents_per_hour"),
        )
    )


@query(
    "q_seasonal_index",
    oracle="""
    WITH e AS (
        SELECT CAST(dayofweek(ts) AS BIGINT) AS dow,
               CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
        FROM events
    ),
    g AS (SELECT dow, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(cents) AS BIGINT) AS s
          FROM e GROUP BY 1),
    t AS (SELECT CAST(sum(n) AS BIGINT) AS tn, CAST(sum(s) AS BIGINT) AS ts_
          FROM g)
    SELECT dow, n, s,
           CAST((s * tn * 1000) // (n * ts_) AS BIGINT) AS index_milli
    FROM g CROSS JOIN t
    """,
)
def q_seasonal_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonal index — the first step of classical seasonal
    decomposition (and the capacity-planning staple): per weekday, mean
    event value relative to the overall mean, in milli-units.  The ratio
    of means is computed as ONE integer expression over four exact
    BIGINTs — ``(s·tn·1000) div (n·ts)`` — so no float mean is ever
    materialized and the whole table is engine-bit-exact.  (Weekday
    numbering: DuckDB's 0=Sunday..6 convention; Spark's dayofweek is
    1-based, shifted by one.)  Int64 headroom: s·tn·1000 — safe to
    ~3e6 value-cents-sum per 1e9 events; re-scale the milli factor
    past that (documented, not enforced).

    Scale: one 7-group partial-agg shuffle + a broadcast one-row total."""
    ev = events(spark, sf_dir)
    e = ev.select(
        (F.dayofweek("ts_t") - 1).cast("long").alias("dow"),
        F.floor(F.col("value") * 100.0 + 0.5).cast("long").alias("cents"),
    )
    g = e.groupBy("dow").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("s"),
    )
    t = g.agg(
        F.sum("n").cast("long").alias("tn"),
        F.sum("s").cast("long").alias("ts_"),
    )
    return g.crossJoin(F.broadcast(t)).select(
        "dow",
        "n",
        "s",
        F.expr("(s * tn * 1000) div (n * ts_)").cast("long").alias(
            "index_milli"
        ),
    )


@query(
    "q_autocorr",
    oracle="""
    WITH h AS (
        SELECT epoch_us(ts) // 3600000000 AS hr, CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1
    ),
    bounds AS (SELECT min(hr) AS lo, max(hr) AS hi FROM h),
    grid AS (
        SELECT lo + g.i AS hr
        FROM bounds, LATERAL (SELECT unnest(range(0, CAST(hi - lo + 1 AS BIGINT))) AS i) g
    ),
    s AS (SELECT grid.hr, coalesce(h.c, 0) AS c FROM grid LEFT JOIN h USING (hr)),
    lagk AS (
        SELECT k.k, s.c AS x, l.c AS y
        FROM (SELECT unnest([1, 24]) AS k) k
        JOIN s ON TRUE
        JOIN s l ON l.hr = s.hr + k.k
    ),
    agg AS (
        SELECT k, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x*y) AS BIGINT) AS sxy,
               CAST(sum(x*x) AS BIGINT) AS sxx, CAST(sum(y*y) AS BIGINT) AS syy
        FROM lagk GROUP BY k
    )
    SELECT k, n, (n*sxy - sx*sy) AS r_num,
           (n*sxx - sx*sx) AS den_x, (n*syy - sy*sy) AS den_y
    FROM agg
    """,
)
def q_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-k autocorrelation of the hourly event-count series (k = 1 and
    24 — short-range persistence and daily seasonality, the two
    diagnostics a forecasting pipeline checks first): the Pearson
    correlation between the series and its k-hour shift over the
    GAP-FILLED hourly grid (missing hours count 0 — skipping them would
    silently splice non-adjacent hours together).  Emitted as the exact
    integer numerator and the two variance factors (r_k =
    r_num / sqrt(den_x · den_y)) so the whole table is engine-bit-exact
    with no float carve-out; the caller takes the one sqrt.

    Scale: the hourly series is time-range-sized (corpus-independent
    once aggregated — one partial-agg shuffle over the events); the
    shift join keys on the hour, and the 2-row lag dimension broadcasts.
    Int64: n·sxy with per-hour counts c — safe to ~3e9 events/hour over
    ~1e5 hours (documented, not enforced)."""
    ev = events(spark, sf_dir)
    h = (
        ev.select(F.expr("ts_us div 3600000000").alias("hr"))
        .groupBy("hr")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    bounds = h.agg(F.min("hr").alias("lo"), F.max("hr").alias("hi"))
    grid = bounds.select(
        F.explode(F.expr("sequence(lo, hi)")).alias("hr")
    )
    s = grid.join(h, "hr", "left").select(
        "hr", F.coalesce(F.col("c"), F.lit(0)).alias("c")
    )
    ks = spark.createDataFrame([(1,), (24,)], ["k"])
    sx = s.select(F.col("hr").alias("hr0"), F.col("c").alias("x"))
    sy = s.select(F.col("hr").alias("hr1"), F.col("c").alias("y"))
    lagk = (
        sx.crossJoin(F.broadcast(ks))
        .join(sy, F.col("hr1") == F.col("hr0") + F.col("k"))
    )
    agg = lagk.groupBy("k").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    return agg.select(
        "k",
        "n",
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).alias("r_num"),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).alias("den_x"),
        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).alias("den_y"),
    )


@query(
    "q_tumbling_ohlc",
    oracle="""
    WITH e AS (
        SELECT event_type,
               epoch_us(ts) // 3600000000 AS bucket,
               CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents,
               printf('%020d-%010d', epoch_us(ts), event_id) AS ord
        FROM events
    )
    SELECT event_type, CAST(bucket AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           arg_min(cents, ord) AS open_cents,
           max(cents) AS high_cents,
           min(cents) AS low_cents,
           arg_max(cents, ord) AS close_cents
    FROM e GROUP BY 1, 2
    """,
)
def q_tumbling_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window OHLC candles (the market-data downsampling
    aggregate, and the general shape of any first/last/min/max
    rollup): per (event_type, 1-hour bucket) the opening value
    (earliest row), high, low, and close (latest row), cents-exact.
    First/last are argmin/argmax aggregates over a zero-padded
    ``(ts, id)`` string key — lexicographic order equals the numeric
    composite order, a device both engines share exactly (DuckDB has
    no struct-keyed arg_min), so ties at equal timestamps resolve
    identically without a window pass.

    Scale shape: ONE partial-aggregated shuffle on (type, bucket) —
    min_by/max_by combine map-side like any other agg, so this beats
    the two-window formulation (sort + full-frame window) that
    shuffles the raw stream; bucket count grows with time span, not
    row count.  (EXT row, SURVEY.md §2.12; reference has no windowed
    aggregates beyond the running max, app.rb:157-160.)"""
    ev = events(spark, sf_dir)
    e = ev.select(
        "event_type",
        F.expr("ts_us div 3600000000").alias("bucket"),
        F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5))
        .cast("long")
        .alias("cents"),
        F.format_string("%020d-%010d", "ts_us", "event_id").alias("ord"),
    )
    return e.groupBy("event_type", "bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.min_by("cents", "ord").alias("open_cents"),
        F.max("cents").alias("high_cents"),
        F.min("cents").alias("low_cents"),
        F.max_by("cents", "ord").alias("close_cents"),
    )


@query(
    "q_changepoint_binseg",
    oracle="""
    WITH e AS (
        SELECT event_type, epoch_us(ts) AS ts_us,
               CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY epoch_us(ts), event_id) AS rn,
               count(*) OVER (PARTITION BY event_type) AS n,
               sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT))
                   OVER (PARTITION BY event_type
                         ORDER BY epoch_us(ts), event_id) AS l1,
               sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT))
                   OVER (PARTITION BY event_type) AS ltot
        FROM events
    ),
    g AS (
        SELECT event_type, rn, ts_us,
               CAST((CAST(l1 AS HUGEINT) * l1 * (n - rn) * 1000000
                     + CAST(ltot - l1 AS HUGEINT) * (ltot - l1)
                       * rn * 1000000)
                    // (CAST(rn AS HUGEINT) * (n - rn))
                    - (CAST(ltot AS HUGEINT) * ltot * 1000000 // n)
                    AS BIGINT) AS gain_micro
        FROM e WHERE rn < n
    )
    SELECT event_type, CAST(rn AS BIGINT) AS split_rn,
           ts_us AS split_ts_us, gain_micro
    FROM (SELECT *, row_number() OVER (PARTITION BY event_type
                                       ORDER BY gain_micro DESC, rn) AS rr
          FROM g)
    WHERE rr = 1
    """,
)
def q_changepoint_binseg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-split changepoint detection (the first round of binary
    segmentation, Scott & Knott 1974 lineage — public): per event type,
    the split position maximizing the between-segment sum-of-squares
    gain G(t) = L1²/t + L2²/(n−t) − L²/n over the cents-quantized value
    series — where the series mean shifts, G peaks.  The CUSUM twin
    (q_cusum) accumulates deviation; this op picks the argmax split
    with an EXACT integer gain: every term is rational in the prefix
    sums, evaluated in DECIMAL(38,0)/HUGEINT with identical flooring
    (micro-scaled), so argmax and gain are both under the full hash
    gate.  Headroom: L²·(n−t)·10⁶ ≲ 10³¹ at sf1 — 7 digits of slack.

    Scale shape: prefix sums and ranks are type-partitioned running
    windows (linear, the q_window_runsum posture); the argmax is a
    type-partitioned rank — no joins, no grids, one pass."""
    ev = events(spark, sf_dir)
    wt = Window.partitionBy("event_type")
    wo = wt.orderBy("ts_us", "event_id")
    e = ev.select(
        "event_type",
        "ts_us",
        "event_id",
        F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    ).select(
        "event_type",
        "ts_us",
        F.row_number().over(wo).alias("rn"),
        F.count(F.lit(1)).over(wt).alias("n"),
        F.sum("cents").over(wo.rowsBetween(Window.unboundedPreceding, 0)).alias("l1"),
        F.sum("cents").over(wt).alias("ltot"),
    )
    d = "CAST({} AS DECIMAL(38,0))"
    gain = (
        f"CAST(({d.format('l1')} * l1 * (n - rn) * 1000000"
        f" + {d.format('(ltot - l1)')} * (ltot - l1) * rn * 1000000)"
        f" div ({d.format('rn')} * (n - rn))"
        f" - ({d.format('ltot')} * ltot * 1000000 div n) AS BIGINT)"
    )
    g = e.where(F.col("rn") < F.col("n")).select(
        "event_type",
        "rn",
        "ts_us",
        F.expr(gain).alias("gain_micro"),
    )
    wr = Window.partitionBy("event_type").orderBy(
        F.col("gain_micro").desc(), F.col("rn")
    )
    return (
        g.withColumn("rr", F.row_number().over(wr))
        .where(F.col("rr") == 1)
        .select(
            "event_type",
            F.col("rn").cast("long").alias("split_rn"),
            F.col("ts_us").alias("split_ts_us"),
            "gain_micro",
        )
    )


@query(
    "q_sax_symbols",
    oracle="""
    WITH hourly AS (
        SELECT event_type,
               epoch_us(ts) // 3600000000 AS bucket,
               arg_max(CAST(floor(value * 100.0 + 0.5) AS BIGINT),
                       printf('%020d-%010d', epoch_us(ts), event_id))
                   AS close_cents
        FROM events GROUP BY 1, 2
    ),
    series AS (
        SELECT event_type, close_cents,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY bucket) AS rn,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM hourly
    ),
    paa AS (
        SELECT event_type, (rn - 1) * 8 // n AS seg,
               sum(close_cents) // count(*) AS paa_cents
        FROM series GROUP BY 1, 2
    ),
    bp AS (
        SELECT event_type,
               CAST(percentile_disc(0.25)
                    WITHIN GROUP (ORDER BY paa_cents) AS BIGINT) AS b1,
               CAST(percentile_disc(0.50)
                    WITHIN GROUP (ORDER BY paa_cents) AS BIGINT) AS b2,
               CAST(percentile_disc(0.75)
                    WITHIN GROUP (ORDER BY paa_cents) AS BIGINT) AS b3
        FROM paa GROUP BY 1
    )
    SELECT p.event_type,
           string_agg(CASE WHEN p.paa_cents <= b.b1 THEN 'a'
                           WHEN p.paa_cents <= b.b2 THEN 'b'
                           WHEN p.paa_cents <= b.b3 THEN 'c'
                           ELSE 'd' END, '' ORDER BY p.seg) AS sax_word,
           CAST(count(*) AS BIGINT) AS n_segments,
           CAST(min(p.paa_cents) AS BIGINT) AS min_paa_cents,
           CAST(max(p.paa_cents) AS BIGINT) AS max_paa_cents
    FROM paa p JOIN bp b USING (event_type)
    GROUP BY 1
    """,
)
def q_sax_symbols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX symbolic aggregate approximation (Lin et al. 2003, public)
    of each event type's hourly close series: 8-segment PAA (integer
    floor-div means over equal row ranges) symbolized against EXACT
    discrete quartiles of the PAA distribution (percentile_disc picks
    actual data values — no interpolation, no Gaussian-table floats),
    yielding the 8-letter SAX word a time-series index stores.  The
    hourly series reuses the q_tumbling_ohlc close device (max_by over
    the zero-padded (ts,id) key), so every stage is hash-gated.

    Scale shape: the candle agg is the only fact-scale term; the
    series/PAA/breakpoint stages run on candle-cardinality tables with
    type-partitioned windows, and the word assembly is 8 rows per
    type."""
    ev = events(spark, sf_dir)
    hourly = (
        ev.select(
            "event_type",
            F.expr("ts_us div 3600000000").alias("bucket"),
            F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5))
            .cast("long")
            .alias("cents"),
            F.format_string("%020d-%010d", "ts_us", "event_id").alias("ord"),
        )
        .groupBy("event_type", "bucket")
        .agg(F.max_by("cents", "ord").alias("close_cents"))
    )
    wt = Window.partitionBy("event_type")
    series = hourly.select(
        "event_type",
        "close_cents",
        F.row_number().over(wt.orderBy("bucket")).alias("rn"),
        F.count(F.lit(1)).over(wt).alias("n"),
    )
    paa = (
        series.groupBy(
            "event_type",
            F.expr("(rn - 1) * 8 div n").alias("seg"),
        )
        .agg(F.expr("sum(close_cents) div count(1)").alias("paa_cents"))
    )
    bp = paa.groupBy("event_type").agg(
        F.expr(
            "CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY paa_cents)"
            " AS BIGINT)"
        ).alias("b1"),
        F.expr(
            "CAST(percentile_disc(0.50) WITHIN GROUP (ORDER BY paa_cents)"
            " AS BIGINT)"
        ).alias("b2"),
        F.expr(
            "CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY paa_cents)"
            " AS BIGINT)"
        ).alias("b3"),
    )
    sym = paa.join(F.broadcast(bp), "event_type").select(
        "event_type",
        "seg",
        "paa_cents",
        F.expr(
            "CASE WHEN paa_cents <= b1 THEN 'a' "
            "WHEN paa_cents <= b2 THEN 'b' "
            "WHEN paa_cents <= b3 THEN 'c' ELSE 'd' END"
        ).alias("sym"),
    )
    return sym.groupBy("event_type").agg(
        F.concat_ws(
            "",
            F.transform(
                F.array_sort(F.collect_list(F.struct("seg", "sym"))),
                lambda s: s["sym"],
            ),
        ).alias("sax_word"),
        F.count(F.lit(1)).cast("long").alias("n_segments"),
        F.min("paa_cents").cast("long").alias("min_paa_cents"),
        F.max("paa_cents").cast("long").alias("max_paa_cents"),
    )


# ---------------------------------------------------------------------------
# VWAP (round-8b)
# ---------------------------------------------------------------------------


@query(
    "q_vwap",
    oracle="""
    WITH e AS (
        SELECT event_type,
               (epoch_us(ts) // 3600000000) * 3600000000 AS hour_us,
               CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents,
               CAST(event_id % 7 + 1 AS BIGINT) AS vol
        FROM events
    )
    SELECT event_type, CAST(hour_us AS BIGINT) AS hour_us,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(vol) AS BIGINT) AS vol_sum,
           CAST(sum(cents * vol) AS BIGINT) AS pv_sum,
           CAST(sum(cents * vol) // sum(vol) AS BIGINT) AS vwap_cents
    FROM e GROUP BY 1, 2
    """,
)
def q_vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VWAP — volume-weighted average price per (instrument, hour), the
    market-data rollup beside q_tumbling_ohlc's candles: price = the
    cents-quantized value, volume = a deterministic per-event lot size
    (event_id-derived, engine-portable), VWAP = Σpv/Σv as exact integer
    floor division.  The weighted-mean shape every metering/billing
    rollup shares.

    Scale: ONE map-side-combinable aggregate on the (type, hour) key —
    two sums and a count; the division happens on the
    group-cardinality output."""
    ev = events(spark, sf_dir).select(
        "event_type",
        F.expr("(ts_us div 3600000000) * 3600000000").alias("hour_us"),
        F.expr("CAST(floor(value * 100.0 + 0.5) AS BIGINT)").alias("cents"),
        F.expr("CAST(event_id % 7 + 1 AS BIGINT)").alias("vol"),
    )
    return (
        ev.groupBy("event_type", "hour_us")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("vol").cast("long").alias("vol_sum"),
            F.sum(F.col("cents") * F.col("vol")).cast("long").alias("pv_sum"),
        )
        .select(
            "event_type",
            F.col("hour_us").cast("long").alias("hour_us"),
            "n",
            "vol_sum",
            "pv_sum",
            F.expr("pv_sum div vol_sum").cast("long").alias("vwap_cents"),
        )
    )


# ---------------------------------------------------------------------------
# Holt linear-trend smoothing (round-8b)
# ---------------------------------------------------------------------------

_HOLT_T = 30  # the corpus spans exactly 30 days at every sf
_HOLT_ALPHA_MILLI = 300
_HOLT_BETA_MILLI = 200


def _holt_chain() -> str:
    """Unrolled per-step CTE chain (the pagerank device): each step t
    computes (s_t, b_t) for all series at once from step t-1.  Ends at
    ``st_{T}`` with no final SELECT (callers append their own)."""
    a, na = _HOLT_ALPHA_MILLI, 1000 - _HOLT_ALPHA_MILLI
    b, nb = _HOLT_BETA_MILLI, 1000 - _HOLT_BETA_MILLI
    parts = [
        f"""
    WITH days AS (
        SELECT DISTINCT (epoch_us(ts) // 86400000000) * 86400000000 AS day_us
        FROM events
    ),
    types AS (SELECT DISTINCT event_type FROM events),
    cnt AS (
        SELECT event_type,
               (epoch_us(ts) // 86400000000) * 86400000000 AS day_us,
               CAST(count(*) AS BIGINT) AS x
        FROM events GROUP BY 1, 2
    ),
    x AS (
        SELECT t.event_type,
               CAST(row_number() OVER (PARTITION BY t.event_type
                                       ORDER BY d.day_us) AS BIGINT) AS t,
               CAST(coalesce(c.x, 0) AS BIGINT) AS x
        FROM types t CROSS JOIN days d
        LEFT JOIN cnt c ON c.event_type = t.event_type
                       AND c.day_us = d.day_us
    ),
    st_1 AS (
        SELECT x1.event_type, x1.x,
               CAST(x1.x * 1000 AS BIGINT) AS s,
               CAST((x2.x - x1.x) * 1000 AS BIGINT) AS b
        FROM (SELECT * FROM x WHERE t = 1) x1
        JOIN (SELECT * FROM x WHERE t = 2) x2 USING (event_type)
    )"""
    ]
    for t in range(2, _HOLT_T + 1):
        parts.append(
            f""",
    st_{t} AS (
        SELECT event_type, x, s,
               ({b} * (s - s_prev) + {nb} * b_prev) // 1000 AS b
        FROM (
            SELECT p.event_type, xt.x,
                   ({a} * xt.x * 1000 + {na} * (p.s + p.b)) // 1000 AS s,
                   p.s AS s_prev, p.b AS b_prev
            FROM st_{t - 1} p
            JOIN x xt ON xt.event_type = p.event_type AND xt.t = {t}
        )
    )"""
        )
    return "".join(parts)


def _holt_oracle() -> str:
    selects = " UNION ALL ".join(
        f"SELECT event_type, CAST({t} AS BIGINT) AS t, x,"
        f" CAST(s AS BIGINT) AS s_milli, CAST(b AS BIGINT) AS b_milli"
        f" FROM st_{t}"
        for t in range(1, _HOLT_T + 1)
    )
    return _holt_chain() + "\n    " + selects


@query("q_holt_linear", oracle=_holt_oracle())
def q_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOLT's linear-trend double exponential smoothing (Holt 1957) over
    each event type's daily-count series, in exact milli fixed point:
    s_t = αx_t + (1-α)(s_{t-1}+b_{t-1}), b_t = β(s_t−s_{t-1}) +
    (1-β)b_{t-1}, α=0.3 β=0.2, initialized s_1=x_1, b_1=x_2−x_1 — the
    trend-aware complement of q_ewma's level-only smoother.  Emits the
    FULL (level, trend) path per series, every step hash-gated against
    an oracle that unrolls the 30 steps as chained CTEs (the pagerank
    device — an inherently sequential recurrence under the complete
    value-hash gate).

    Scale: the recurrence is sequential in t but independent across
    series, so the operator is one applyInPandas over series keys with
    O(1) state per series and the day grid (30 x series) as its input —
    series cardinality partitions the work; the corpus-sized scan
    reduces to the grid in ONE map-side-combinable aggregate."""
    import pandas as pd

    from ..tables import events as events_tbl

    ev = events_tbl(spark, sf_dir).select(
        "event_type",
        F.expr("(ts_us div 86400000000) * 86400000000").alias("day_us"),
    )
    cnt = ev.groupBy("event_type", "day_us").agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    days = ev.select("day_us").distinct()
    types = ev.select("event_type").distinct()
    grid = (
        types.crossJoin(F.broadcast(days))
        .join(cnt, ["event_type", "day_us"], "left")
        .select(
            "event_type",
            "day_us",
            F.coalesce(F.col("x"), F.lit(0)).cast("long").alias("x"),
        )
    )
    a, na = _HOLT_ALPHA_MILLI, 1000 - _HOLT_ALPHA_MILLI
    be, nbe = _HOLT_BETA_MILLI, 1000 - _HOLT_BETA_MILLI

    def tdiv(p: int, q: int) -> int:
        # truncate toward zero — Python // FLOORS, but Spark div and
        # DuckDB // both truncate; a negative trend term diverges
        # without this (caught by the hash gate on first sim run)
        return -((-p) // q) if p < 0 else p // q

    def holt(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day_us")
        xs = [int(v) for v in pdf["x"]]
        et = pdf["event_type"].iloc[0]
        s = xs[0] * 1000
        b = (xs[1] - xs[0]) * 1000
        out = [(et, 1, xs[0], s, b)]
        for t in range(2, len(xs) + 1):
            x = xs[t - 1]
            s_new = tdiv(a * x * 1000 + na * (s + b), 1000)
            b = tdiv(be * (s_new - s) + nbe * b, 1000)
            s = s_new
            out.append((et, t, x, s, b))
        return pd.DataFrame(
            out, columns=["event_type", "t", "x", "s_milli", "b_milli"]
        )

    return grid.groupBy("event_type").applyInPandas(
        holt,
        "event_type STRING, t BIGINT, x BIGINT, s_milli BIGINT,"
        " b_milli BIGINT",
    )


# ---------------------------------------------------------------------------
# Day-scoped rolling correlation (round-8b)
# ---------------------------------------------------------------------------


@query(
    "q_rolling_corr",
    oracle="""
    WITH e AS (
        SELECT (epoch_us(ts) // 86400000000) * 86400000000 AS day_us,
               (epoch_us(ts) // 3600000000) * 3600000000 AS hour_us,
               event_type
        FROM events WHERE event_type IN ('click', 'view')
    ),
    h AS (
        SELECT day_us, hour_us,
               CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                    AS BIGINT) AS x,
               CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                    AS BIGINT) AS y
        FROM e GROUP BY 1, 2
    ),
    w AS (
        SELECT day_us, hour_us, x, y,
               CAST(count(*) OVER win AS BIGINT) AS n,
               CAST(sum(x) OVER win AS BIGINT) AS sx,
               CAST(sum(y) OVER win AS BIGINT) AS sy,
               CAST(sum(x * y) OVER win AS BIGINT) AS sxy,
               CAST(sum(x * x) OVER win AS BIGINT) AS sxx,
               CAST(sum(y * y) OVER win AS BIGINT) AS syy
        FROM h
        WINDOW win AS (PARTITION BY day_us ORDER BY hour_us
                       ROWS UNBOUNDED PRECEDING)
    )
    SELECT day_us, hour_us, n,
           CAST(n * sxy - sx * sy AS BIGINT) AS num,
           CAST(CASE WHEN (n * sxx - sx * sx) * (n * syy - sy * sy) = 0
                THEN 0
                ELSE CAST(floor(
                     CAST(n * sxy - sx * sy AS DOUBLE)
                     * CAST(n * sxy - sx * sy AS DOUBLE)
                     / (CAST(n * sxx - sx * sx AS DOUBLE)
                        * CAST(n * syy - sy * sy AS DOUBLE))
                     * 1000000.0 + 0.5) AS BIGINT)
                END AS BIGINT) AS r2_ppm,
           CAST(CASE WHEN n * sxy - sx * sy > 0 THEN 1
                     WHEN n * sxy - sx * sy < 0 THEN -1
                     ELSE 0 END AS BIGINT) AS corr_sign
    FROM w
    """,
)
def q_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-scoped ROLLING CORRELATION between the click and view hourly
    series: per hour, the cumulative-from-day-start Pearson r² (in ppm,
    via the portable floor(x·10⁶+0.5) float device over exact integer
    window sums — the five sums are int64-exact; only the final ratio
    is IEEE double, identical in both engines) plus the correlation
    sign — the co-movement monitor beside q_corr's global coefficient
    and q_autocorr's lag structure.

    Scale: the window partitions by DAY (never partitionless — the
    single-task global-series shape is the anti-pattern), so state per
    partition is one day of hours; everything before the window is one
    (day, hour) map-side-combinable aggregate."""
    from ..tables import events as events_tbl

    ev = (
        events_tbl(spark, sf_dir)
        .where(F.col("event_type").isin("click", "view"))
        .select(
            F.expr("(ts_us div 86400000000) * 86400000000").alias("day_us"),
            F.expr("(ts_us div 3600000000) * 3600000000").alias("hour_us"),
            "event_type",
        )
    )
    h = ev.groupBy("day_us", "hour_us").agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("long")
        .alias("x"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("long")
        .alias("y"),
    )
    win = (
        Window.partitionBy("day_us")
        .orderBy("hour_us")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w = h.select(
        "day_us",
        "hour_us",
        F.count(F.lit(1)).over(win).cast("long").alias("n"),
        F.sum("x").over(win).cast("long").alias("sx"),
        F.sum("y").over(win).cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).over(win).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(win).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(win).cast("long").alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    denx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return w.select(
        "day_us",
        "hour_us",
        "n",
        num.cast("long").alias("num"),
        F.when(denx * deny == 0, F.lit(0))
        .otherwise(
            F.floor(
                num.cast("double")
                * num.cast("double")
                / (denx.cast("double") * deny.cast("double"))
                * F.lit(1000000.0)
                + F.lit(0.5)
            )
        )
        .cast("long")
        .alias("r2_ppm"),
        F.when(num > 0, 1).when(num < 0, -1).otherwise(0)
        .cast("long")
        .alias("corr_sign"),
    )


_HOLT_HORIZON = 7


def _holt_forecast_oracle() -> str:
    return (
        _holt_chain()
        + f""",
    hz AS (SELECT unnest(range(1, {_HOLT_HORIZON + 1})) AS h)
    SELECT event_type, CAST(h AS BIGINT) AS h,
           CAST(s + h * b AS BIGINT) AS forecast_milli
    FROM st_{_HOLT_T} CROSS JOIN hz"""
    )


@query("q_holt_forecast", oracle=_holt_forecast_oracle())
def q_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """h-step-ahead FORECAST from the Holt state (ŷ_{T+h} = s_T + h·b_T,
    the linear-trend extrapolation): per series the next 7 daily-count
    forecasts in exact milli units — the number a capacity/token-budget
    planner actually consumes (q_holt_linear publishes the fitted path;
    this publishes the plan).  Shares the smoother end-to-end, so the
    forecast inherits the hash-gated recurrence.

    Scale: the q_holt_linear pass + a 7-row horizon broadcast over the
    series-cardinality final state."""
    path = q_holt_linear(spark, sf_dir)
    final = path.where(F.col("t") == _HOLT_T).select(
        "event_type", "s_milli", "b_milli"
    )
    hz = spark.range(1, _HOLT_HORIZON + 1).select(F.col("id").alias("h"))
    return final.crossJoin(F.broadcast(hz)).select(
        "event_type",
        F.col("h").cast("long").alias("h"),
        (F.col("s_milli") + F.col("h") * F.col("b_milli"))
        .cast("long")
        .alias("forecast_milli"),
    )


# ---------------------------------------------------------------------------
# Holt-Winters additive triple smoothing (round 9)
# ---------------------------------------------------------------------------

_HW_M = 7  # weekly season over the 30-day corpus
_HW_GAMMA_MILLI = 300


def _hw_chain() -> str:
    """Unrolled Holt-Winters CTE chain: per step t > m one CTE ``hw_{t}``
    holding (event_type, l, b) and one ``se_{t}`` holding the refreshed
    seasonal; seasonal lookups reach back to ``se_{t-m}`` (init
    seasonals se_1..se_m come from the m-mean initialization)."""
    a, na = _HOLT_ALPHA_MILLI, 1000 - _HOLT_ALPHA_MILLI
    be, nbe = _HOLT_BETA_MILLI, 1000 - _HOLT_BETA_MILLI
    g, ng = _HW_GAMMA_MILLI, 1000 - _HW_GAMMA_MILLI
    m = _HW_M
    parts = [
        f"""
    WITH days AS (
        SELECT DISTINCT (epoch_us(ts) // 86400000000) * 86400000000 AS day_us
        FROM events
    ),
    types AS (SELECT DISTINCT event_type FROM events),
    cnt AS (
        SELECT event_type,
               (epoch_us(ts) // 86400000000) * 86400000000 AS day_us,
               CAST(count(*) AS BIGINT) AS x
        FROM events GROUP BY 1, 2
    ),
    x AS MATERIALIZED (
        SELECT t.event_type,
               CAST(row_number() OVER (PARTITION BY t.event_type
                                       ORDER BY d.day_us) AS BIGINT) AS t,
               CAST(coalesce(c.x, 0) AS BIGINT) AS x
        FROM types t CROSS JOIN days d
        LEFT JOIN cnt c ON c.event_type = t.event_type
                       AND c.day_us = d.day_us
    ),
    init AS MATERIALIZED (
        SELECT event_type,
               CAST(sum(CASE WHEN t <= {m} THEN x ELSE 0 END) * 1000 // {m}
                    AS BIGINT) AS l0,
               CAST((sum(CASE WHEN t > {m} AND t <= {2 * m} THEN x
                              ELSE 0 END)
                     - sum(CASE WHEN t <= {m} THEN x ELSE 0 END)) * 1000
                    // ({m} * {m}) AS BIGINT) AS b0
        FROM x WHERE t <= {2 * m} GROUP BY event_type
    )"""
    ]
    for i in range(1, m + 1):
        parts.append(
            f""",
    se_{i} AS MATERIALIZED (
        SELECT x.event_type, CAST(x.x * 1000 - init.l0 AS BIGINT) AS s
        FROM x JOIN init USING (event_type) WHERE x.t = {i}
    )"""
        )
    parts.append(
        f""",
    hw_{m} AS MATERIALIZED (SELECT event_type, l0 AS l, b0 AS b FROM init)"""
    )
    for t in range(m + 1, _HOLT_T + 1):
        parts.append(
            f""",
    hw_{t}_pre AS MATERIALIZED (
        SELECT p.event_type, xt.x, p.l AS l_prev, p.b AS b_prev, se.s AS s_m,
               ({a} * (xt.x * 1000 - se.s) + {na} * (p.l + p.b)) // 1000 AS l
        FROM hw_{t - 1} p
        JOIN x xt ON xt.event_type = p.event_type AND xt.t = {t}
        JOIN se_{t - m} se ON se.event_type = p.event_type
    ),
    hw_{t} AS MATERIALIZED (
        SELECT event_type, l,
               ({be} * (l - l_prev) + {nbe} * b_prev) // 1000 AS b
        FROM hw_{t}_pre
    ),
    se_{t} AS MATERIALIZED (
        SELECT event_type,
               ({g} * (x * 1000 - l) + {ng} * s_m) // 1000 AS s
        FROM hw_{t}_pre
    ),
    out_{t} AS (
        SELECT p.event_type, CAST({t} AS BIGINT) AS t, p.x,
               CAST(p.l AS BIGINT) AS l_milli,
               CAST(hw.b AS BIGINT) AS b_milli,
               CAST(se2.s AS BIGINT) AS s_milli,
               CAST(p.l_prev + p.b_prev + p.s_m AS BIGINT) AS fit_milli
        FROM hw_{t}_pre p
        JOIN hw_{t} hw USING (event_type)
        JOIN se_{t} se2 USING (event_type)
    )"""
        )
    return "".join(parts)


def _hw_oracle() -> str:
    selects = " UNION ALL ".join(
        f"SELECT * FROM out_{t}" for t in range(_HW_M + 1, _HOLT_T + 1)
    )
    return _hw_chain() + "\n    " + selects


@query("q_holt_winters", oracle=_hw_oracle())
def q_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOLT-WINTERS additive TRIPLE exponential smoothing (Winters 1960)
    over each event type's daily-count series with a weekly (m=7)
    season — completes the smoothing family (q_ewma level, q_holt_linear
    level+trend, here level+trend+season) in exact milli fixed point
    with truncating division: l_t = (α(1000·x_t − s_{t−m}) +
    (1−α)(l+b))÷1000, b_t = (β Δl + (1−β)b)÷1000, s_t = (γ(1000·x_t −
    l_t) + (1−γ)s_{t−m})÷1000, initialized from the first two season
    means (l = mean(y_1..m), b = (mean(y_m+1..2m) − mean(y_1..m))/m,
    s_i = y_i − l).  Emits the full (level, trend, seasonal, one-step
    fit) path for t = m+1..T, every step hash-gated against an oracle
    that unrolls 23 step CTEs with m-deep seasonal lookbacks (the
    q_holt_linear pagerank device extended with a second state stream).

    Scale: sequential in t, independent across series — ONE
    applyInPandas over series keys, O(m) state per series, grid input
    from a map-side-combinable count."""
    import pandas as pd

    from ..tables import events as events_tbl

    ev = events_tbl(spark, sf_dir).select(
        "event_type",
        F.expr("(ts_us div 86400000000) * 86400000000").alias("day_us"),
    )
    cnt = ev.groupBy("event_type", "day_us").agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    days = ev.select("day_us").distinct()
    types = ev.select("event_type").distinct()
    grid = (
        types.crossJoin(F.broadcast(days))
        .join(cnt, ["event_type", "day_us"], "left")
        .select(
            "event_type",
            "day_us",
            F.coalesce(F.col("x"), F.lit(0)).cast("long").alias("x"),
        )
    )
    a, na = _HOLT_ALPHA_MILLI, 1000 - _HOLT_ALPHA_MILLI
    be, nbe = _HOLT_BETA_MILLI, 1000 - _HOLT_BETA_MILLI
    g, ng = _HW_GAMMA_MILLI, 1000 - _HW_GAMMA_MILLI
    m = _HW_M

    def tdiv(p: int, q: int) -> int:
        return -((-p) // q) if p < 0 else p // q

    def hw(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day_us")
        xs = [int(v) for v in pdf["x"]]
        et = pdf["event_type"].iloc[0]
        mean1 = sum(xs[:m])
        mean2 = sum(xs[m : 2 * m])
        level = tdiv(mean1 * 1000, m)
        b = tdiv((mean2 - mean1) * 1000, m * m)
        season = [xs[i] * 1000 - level for i in range(m)]
        out = []
        for t in range(m + 1, len(xs) + 1):
            x = xs[t - 1]
            s_m = season[(t - 1) - m]
            fit = level + b + s_m
            l_new = tdiv(a * (x * 1000 - s_m) + na * (level + b), 1000)
            b = tdiv(be * (l_new - level) + nbe * b, 1000)
            s_new = tdiv(g * (x * 1000 - l_new) + ng * s_m, 1000)
            season.append(s_new)
            level = l_new
            out.append((et, t, x, level, b, s_new, fit))
        return pd.DataFrame(
            out,
            columns=[
                "event_type",
                "t",
                "x",
                "l_milli",
                "b_milli",
                "s_milli",
                "fit_milli",
            ],
        )

    return grid.groupBy("event_type").applyInPandas(
        hw,
        "event_type STRING, t BIGINT, x BIGINT, l_milli BIGINT,"
        " b_milli BIGINT, s_milli BIGINT, fit_milli BIGINT",
    )


# ---------------------------------------------------------------------------
# Delta + varint codec roundtrip (round 9)
# ---------------------------------------------------------------------------


@query(
    "q_delta_varint",
    oracle="""
    WITH s AS (
        SELECT event_type, event_id,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY event_id) AS rn,
               event_id - lag(event_id, 1, 0)
                   OVER (PARTITION BY event_type ORDER BY event_id)
                   AS delta
        FROM events
    ),
    sized AS (
        SELECT event_type, delta,
               CASE WHEN delta = 0 THEN 1
                    ELSE (length(bin(delta)) + 6) // 7 END AS nbytes
        FROM s
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_values,
           CAST(sum(nbytes) AS BIGINT) AS varint_bytes,
           CAST(count(*) * 8 AS BIGINT) AS raw_bytes,
           CAST(sum(nbytes) * 1000 // (count(*) * 8) AS BIGINT)
               AS ratio_milli,
           CAST(max(delta) AS BIGINT) AS max_delta
    FROM sized GROUP BY event_type
    """,
)
def q_delta_varint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELTA + LEB128-VARINT codec roundtrip over each event type's
    sorted id stream — the integer-column encoding every time-series /
    log store leans on (parquet DELTA_BINARY_PACKED's simpler cousin,
    protobuf's wire format): per series the ids are delta-encoded and
    REALLY serialized to LEB128 bytes in an Arrow batch (7-bit groups,
    continuation bit), decoded back, and the roundtrip asserted
    bit-exact; the emitted audit is the compressed size, the 8-byte-raw
    baseline, and the milli compression ratio.

    The size oracle is the varint length closed form — a value v > 0
    costs ceil(bitlen(v)/7) bytes, v = 0 costs 1 — over deltas the
    oracle recomputes with lag(); a wrong continuation-bit or group
    order in the codec changes len(payload) and breaks the hash (the
    QOI closed-form-size device on a 1-D integer stream).

    Scale: one (type)-partitioned window for deltas, then per-series
    applyInPandas encode/decode with O(1) state — series are the unit
    of parallelism, the codec is scan-speed."""
    import pandas as pd

    from ..tables import events as events_tbl

    ev = events_tbl(spark, sf_dir).select("event_type", "event_id")

    def codec(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("event_id")
        ids = [int(v) for v in pdf["event_id"]]
        et = pdf["event_type"].iloc[0]
        deltas, prev = [], 0
        for v in ids:
            deltas.append(v - prev)
            prev = v
        buf = bytearray()
        for d in deltas:
            assert d >= 0
            while True:
                b = d & 0x7F
                d >>= 7
                if d:
                    buf.append(b | 0x80)
                else:
                    buf.append(b)
                    break
        # real decode + roundtrip assert
        out, cur, shift, pos = [], 0, 0, 0
        for byte in buf:
            cur |= (byte & 0x7F) << shift
            if byte & 0x80:
                shift += 7
            else:
                out.append(cur)
                cur, shift = 0, 0
        acc, rec = 0, []
        for d in out:
            acc += d
            rec.append(acc)
        if rec != ids:
            raise ValueError(f"varint roundtrip mismatch for {et}")
        raw = len(ids) * 8
        return pd.DataFrame(
            [
                (
                    et,
                    len(ids),
                    len(buf),
                    raw,
                    len(buf) * 1000 // raw,
                    max(v - p for v, p in zip(ids, [0] + ids[:-1])),
                )
            ],
            columns=[
                "event_type",
                "n_values",
                "varint_bytes",
                "raw_bytes",
                "ratio_milli",
                "max_delta",
            ],
        )

    return ev.groupBy("event_type").applyInPandas(
        codec,
        "event_type STRING, n_values BIGINT, varint_bytes BIGINT,"
        " raw_bytes BIGINT, ratio_milli BIGINT, max_delta BIGINT",
    )


@query(
    "q_rle_runs",
    oracle="""
    WITH s AS (
        SELECT event_type, day_us,
               CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
                    THEN 1 ELSE 0 END AS boundary,
               row_number() OVER w AS grp_ord
        FROM (SELECT event_type, event_id, epoch_us(ts) AS ts_us,
                     (epoch_us(ts) // 86400000000) * 86400000000 AS day_us
              FROM events)
        WINDOW w AS (PARTITION BY day_us ORDER BY ts_us, event_id)
    ),
    runs AS (
        SELECT event_type, day_us,
               sum(boundary) OVER (PARTITION BY day_us ORDER BY grp_ord
                                   ROWS UNBOUNDED PRECEDING) AS run_id
        FROM s
    ),
    sized AS (
        SELECT event_type, day_us, run_id,
               CAST(count(*) AS BIGINT) AS run_len
        FROM runs GROUP BY 1, 2, 3
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_runs,
           CAST(max(run_len) AS BIGINT) AS max_run,
           CAST(sum(run_len) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN run_len = 0 THEN 1
                         ELSE (length(bin(run_len)) + 6) // 7 END) + count(*)
                AS BIGINT) AS rle_bytes
    FROM sized GROUP BY event_type
    """,
)
def q_rle_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RUN-LENGTH ENCODING audit of the arrival-ordered event_type
    stream, scoped per DAY — the parquet row-group analogy: a real
    columnar encoder's RLE state resets at page/row-group boundaries,
    so the honest sizing signal is runs WITHIN the storage unit, and
    day-scoping is exactly what keeps the op scalable (every window is
    PARTITIONED BY day; no global sort, no partitionless window —
    the repo's design rule).  Per type: run count, longest run, RLE
    byte cost (one tag byte + the varint run length per run — the
    closed form shared with q_delta_varint).

    The layout-advisor signal: a type whose n_runs approaches n_rows
    gains nothing from RLE (interleaved arrivals); long runs compress
    — decided from one day-partitioned scan, not a rewrite
    experiment."""
    from ..tables import events as events_tbl

    ev = events_tbl(spark, sf_dir).select(
        "event_type",
        "ts_us",
        "event_id",
        F.expr("(ts_us div 86400000000) * 86400000000").alias("day_us"),
    )
    w = Window.partitionBy("day_us").orderBy("ts_us", "event_id")
    s = ev.select(
        "event_type",
        "day_us",
        F.when(
            F.lag("event_type").over(w).isNull()
            | (F.lag("event_type").over(w) != F.col("event_type")),
            1,
        )
        .otherwise(0)
        .alias("boundary"),
        F.row_number().over(w).alias("grp_ord"),
    )
    runs = s.select(
        "event_type",
        "day_us",
        F.sum("boundary")
        .over(
            Window.partitionBy("day_us")
            .orderBy("grp_ord")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        .alias("run_id"),
    )
    sized = runs.groupBy("event_type", "day_us", "run_id").agg(
        F.count(F.lit(1)).cast("long").alias("run_len")
    )
    return sized.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_runs"),
        F.max("run_len").cast("long").alias("max_run"),
        F.sum("run_len").cast("long").alias("n_rows"),
        (
            F.sum(
                F.expr(
                    "CASE WHEN run_len = 0 THEN 1 "
                    "ELSE (length(bin(run_len)) + 6) div 7 END"
                )
            )
            + F.count(F.lit(1))
        )
        .cast("long")
        .alias("rle_bytes"),
    )


# ---------------------------------------------------------------------------
# LTTB downsampling (round 9)
# ---------------------------------------------------------------------------

_LTTB_B = 3  # days per bucket over the 30-day corpus -> 10 buckets


def _lttb_chain() -> str:
    """Unrolled LTTB bucket rounds over the shared daily grid: sel_1 is
    the forced first point, sel_b (b = 2..9) the argmax-area point
    against the previous selection and the next bucket's 3x-centroid,
    sel_10 the forced last point.  3x-multiplied cross products keep
    the fractional centroid integer."""
    nb = _HOLT_T // _LTTB_B  # 10
    parts = [
        f"""
    WITH days AS (
        SELECT DISTINCT (epoch_us(ts) // 86400000000) * 86400000000 AS day_us
        FROM events
    ),
    types AS (SELECT DISTINCT event_type FROM events),
    cnt AS (
        SELECT event_type,
               (epoch_us(ts) // 86400000000) * 86400000000 AS day_us,
               CAST(count(*) AS BIGINT) AS x
        FROM events GROUP BY 1, 2
    ),
    g AS MATERIALIZED (
        SELECT t.event_type,
               CAST(row_number() OVER (PARTITION BY t.event_type
                                       ORDER BY d.day_us) AS BIGINT) AS t,
               CAST(coalesce(c.x, 0) AS BIGINT) AS x,
               CAST((row_number() OVER (PARTITION BY t.event_type
                                        ORDER BY d.day_us) - 1)
                    // {_LTTB_B} + 1 AS BIGINT) AS b
        FROM types t CROSS JOIN days d
        LEFT JOIN cnt c ON c.event_type = t.event_type
                       AND c.day_us = d.day_us
    ),
    bsum AS MATERIALIZED (
        SELECT event_type, b, CAST(sum(t) AS BIGINT) AS sx,
               CAST(sum(x) AS BIGINT) AS sy
        FROM g GROUP BY 1, 2
    ),
    sel_1 AS MATERIALIZED (
        SELECT event_type, CAST(1 AS BIGINT) AS b, t, x,
               CAST(0 AS BIGINT) AS area3x
        FROM g WHERE t = 1
    )"""
    ]
    for b in range(2, nb):
        parts.append(
            f"""sel_{b} AS MATERIALIZED (
        SELECT event_type, CAST({b} AS BIGINT) AS b, t, x, area3x
        FROM (
            SELECT c.event_type, c.t, c.x,
                   abs((3 * p.t - n.sx) * (c.x - p.x)
                       - (p.t - c.t) * (n.sy - 3 * p.x)) AS area3x,
                   row_number() OVER (
                       PARTITION BY c.event_type
                       ORDER BY abs((3 * p.t - n.sx) * (c.x - p.x)
                                    - (p.t - c.t) * (n.sy - 3 * p.x)) DESC,
                                c.t ASC
                   ) AS rn
            FROM g c
            JOIN sel_{b - 1} p ON p.event_type = c.event_type
            JOIN bsum n ON n.event_type = c.event_type AND n.b = {b + 1}
            WHERE c.b = {b}
        ) WHERE rn = 1
    )"""
        )
    parts.append(
        f"""sel_{nb} AS (
        SELECT event_type, CAST({nb} AS BIGINT) AS b, t, x,
               CAST(0 AS BIGINT) AS area3x
        FROM g WHERE t = {_HOLT_T}
    )"""
    )
    return ",\n    ".join(parts)


def _lttb_oracle() -> str:
    nb = _HOLT_T // _LTTB_B
    selects = " UNION ALL ".join(
        f"SELECT event_type, b, t, x, area3x FROM sel_{b}"
        for b in range(1, nb + 1)
    )
    return _lttb_chain() + "\n    " + selects


@query("q_lttb_downsample", oracle=_lttb_oracle())
def q_lttb_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LTTB DOWNSAMPLING (Steinarsson 2013, "Largest-Triangle-Three-
    Buckets" — the standard time-series visualization downsampler) over
    each event type's 30-day count series, fixed-width integer variant:
    3-day buckets, forced first/last points, and each middle bucket
    contributes the point maximizing the triangle area with the
    PREVIOUSLY SELECTED point and the NEXT bucket's centroid — the
    shape-preserving 30->10 reduction a dashboard applies before
    plotting millions of points.

    Integer device: the centroid's /3 is cleared by 3x-multiplying the
    cross product (|3·cross| preserves the argmax), so selection is
    bit-deterministic with a smallest-day tie-break — which makes the
    sequential selection chain (each bucket depends on the previous
    CHOICE, not just previous data) hash-oracle-able via 8 unrolled
    MATERIALIZED argmax rounds.

    Scale: sequential in buckets but independent across series — ONE
    applyInPandas over series keys with the day grid as input (the
    Holt-family shape); bucket count is a constant, never data-sized."""
    import pandas as pd

    from ..tables import events as events_tbl

    ev = events_tbl(spark, sf_dir).select(
        "event_type",
        F.expr("(ts_us div 86400000000) * 86400000000").alias("day_us"),
    )
    cnt = ev.groupBy("event_type", "day_us").agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    days = ev.select("day_us").distinct()
    types = ev.select("event_type").distinct()
    grid = (
        types.crossJoin(F.broadcast(days))
        .join(cnt, ["event_type", "day_us"], "left")
        .select(
            "event_type",
            "day_us",
            F.coalesce(F.col("x"), F.lit(0)).cast("long").alias("x"),
        )
    )
    nb = _HOLT_T // _LTTB_B

    def lttb(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day_us")
        xs = [int(v) for v in pdf["x"]]
        et = pdf["event_type"].iloc[0]
        ts = list(range(1, len(xs) + 1))
        out = [(et, 1, 1, xs[0], 0)]
        pt, px = 1, xs[0]
        for b in range(2, nb):
            lo, hi = (b - 1) * _LTTB_B, b * _LTTB_B
            nlo, nhi = b * _LTTB_B, (b + 1) * _LTTB_B
            sx = sum(ts[nlo:nhi])
            sy = sum(xs[nlo:nhi])
            best = None
            for i in range(lo, hi):
                area = abs(
                    (3 * pt - sx) * (xs[i] - px) - (pt - ts[i]) * (sy - 3 * px)
                )
                key = (-area, ts[i])
                if best is None or key < best[0]:
                    best = (key, ts[i], xs[i], area)
            out.append((et, b, best[1], best[2], best[3]))
            pt, px = best[1], best[2]
        out.append((et, nb, len(xs), xs[-1], 0))
        return pd.DataFrame(
            out, columns=["event_type", "b", "t", "x", "area3x"]
        )

    return grid.groupBy("event_type").applyInPandas(
        lttb,
        "event_type STRING, b BIGINT, t BIGINT, x BIGINT, area3x BIGINT",
    )


# ---------------------------------------------------------------------------
# Banded dynamic time warping (round 9b)
# ---------------------------------------------------------------------------

_DTW_N = 24  # hourly profile length
_DTW_BAND = 3  # Sakoe-Chiba band half-width
_DTW_INF = 1 << 40  # unreachable-cell sentinel (cost sums stay far below)


def _dtw_oracle(n: int = _DTW_N, w: int = _DTW_BAND) -> str:
    """Anti-diagonal unroll of the banded DTW recurrence: cells on
    diagonal i+j=k depend only on diagonals k-1 (up, left) and k-2
    (diag), so each MATERIALIZED round computes one whole diagonal with
    NO within-round dependency — unlike a row unroll, whose left-cell
    dependency would force width*depth rounds.  Parameterized (profile
    length n, band half-width w) so scripts/fuzz_families/dtw.py can sweep the
    knob space against the REAL dataflow (the ttl fuzz family's pattern)."""
    inf = _DTW_INF
    parts = [
        f"""WITH hrs AS (
        SELECT user_id,
               CAST(epoch_us(ts) // 3600000000 % {n} AS BIGINT) + 1 AS i
        FROM events
    ),
    users AS (SELECT DISTINCT user_id FROM hrs),
    grid AS (
        SELECT u.user_id, CAST(r.i AS BIGINT) AS i
        FROM users u, (SELECT unnest(range(1, {n + 1})) AS i) r
    ),
    a AS (
        SELECT g.user_id, g.i, CAST(count(h.user_id) AS BIGINT) AS a
        FROM grid g
        LEFT JOIN hrs h ON h.user_id = g.user_id AND h.i = g.i
        GROUP BY 1, 2
    ),
    nb AS (SELECT count(*) AS nu FROM users),
    btot AS (
        SELECT i AS j, CAST(count(*) // (SELECT nu FROM nb) AS BIGINT) AS b
        FROM hrs GROUP BY 1
    ),
    bg AS (
        SELECT CAST(r.j AS BIGINT) AS j, coalesce(btot.b, 0) AS b
        FROM (SELECT unnest(range(1, {n + 1})) AS j) r
        LEFT JOIN btot ON btot.j = r.j
    ),
    cost AS MATERIALIZED (
        SELECT a.user_id, a.i, bg.j, abs(a.a - bg.b) AS c
        FROM a JOIN bg ON abs(a.i - bg.j) <= {w}
    ),
    d_2 AS MATERIALIZED (
        SELECT user_id, i, j, c AS d FROM cost WHERE i = 1 AND j = 1
    )"""
    ]
    for k in range(3, 2 * n + 1):
        p3 = (
            f"coalesce(p3.d, {inf})" if k - 2 >= 2 else f"CAST({inf} AS BIGINT)"
        )
        p3_join = (
            f"""
        LEFT JOIN d_{k - 2} p3 ON p3.user_id = c.user_id
             AND p3.i = c.i - 1 AND p3.j = c.j - 1"""
            if k - 2 >= 2
            else ""
        )
        parts.append(
            f"""d_{k} AS MATERIALIZED (
        SELECT c.user_id, c.i, c.j,
               c.c + least(coalesce(p1.d, {inf}), coalesce(p2.d, {inf}),
                           {p3}) AS d
        FROM cost c
        LEFT JOIN d_{k - 1} p1 ON p1.user_id = c.user_id
             AND p1.i = c.i - 1 AND p1.j = c.j
        LEFT JOIN d_{k - 1} p2 ON p2.user_id = c.user_id
             AND p2.i = c.i AND p2.j = c.j - 1{p3_join}
        WHERE c.i + c.j = {k}
    )"""
        )
    parts.append(
        f"""SELECT user_id, d AS dtw_cost FROM d_{2 * n}
    WHERE i = {n} AND j = {n}"""
    )
    return ",\n    ".join(parts[:-1]) + "\n    " + parts[-1]


@query("q_dtw_band", oracle=_dtw_oracle())
def q_dtw_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BANDED DYNAMIC TIME WARPING (Sakoe & Chiba 1978) of each user's
    24-hour activity profile against the fleet-average profile — the
    elastic-alignment distance that scores "same shape, shifted hours"
    as near, where Euclidean distance would punish a 2-hour timezone
    offset at full price.  The standard behavioral-cohort /
    anomalous-daily-rhythm feature; an operator Spark has no built-in
    for.

    Integer device: profiles are event COUNTS, the reference profile is
    the per-hour total floor-divided by the user count, and |a_i - b_j|
    costs make the whole DP integer-exact.  The Sakoe-Chiba band
    (|i-j| <= 3) bounds each DP row to 7 cells; the oracle unrolls the
    recurrence by ANTI-DIAGONALS (47 MATERIALIZED rounds, no
    within-round dependency — see _dtw_oracle).

    Scale: one groupBy(user) count agg (map-side combinable), then ONE
    applyInPandas over user keys with constant per-key state (24-vector
    + 25x25 banded DP); the reference profile is a 24-row broadcast.
    Key cardinality is the parallelism unit — the same shape that holds
    at 1e9 users."""
    return _dtw_replay(spark, sf_dir)


def _dtw_replay(
    spark: SparkSession,
    sf_dir: str,
    n: int = _DTW_N,
    w: int = _DTW_BAND,
) -> DataFrame:
    """The q_dtw_band dataflow with the knobs exposed (profile length
    n, band half-width w) — the registered query pins the declared
    literals; scripts/fuzz_families/dtw.py replays the REAL DP across the knob
    space (the _tb_replay pattern)."""
    import pandas as pd

    from ..tables import events as events_tbl

    ev = events_tbl(spark, sf_dir).select(
        "user_id",
        (F.expr("ts_us div 3600000000") % n + 1).cast("long").alias("i"),
    )
    # ONE events-scale aggregation (optimization round 12): the user
    # count and the per-hour totals both fall out of the (user, i)
    # count table — sum(a) grouped by i IS the per-hour event count and
    # countDistinct(user_id) over it IS the user count — so the event
    # scan + shuffle runs once instead of three times (guide §2.3
    # "aggregate before you shuffle"; values identical by construction)
    cnt = (
        ev.groupBy("user_id", "i")
        .agg(F.count(F.lit(1)).cast("long").alias("a"))
        # eager: nu/bg/main are concurrent consumer stages — a lazy cut
        # would re-run the events shuffle per branch (r12 A/B)
        .localCheckpoint(eager=True)
    )
    nu = cnt.select(F.countDistinct("user_id").alias("nu"))
    bg = (
        cnt.groupBy("i")
        .agg(F.sum("a").alias("tot"))
        .crossJoin(F.broadcast(nu))
        .select(F.col("i").alias("j"), F.expr("tot div nu").alias("b"))
    )
    barr = bg.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(j, b))), s -> s.b)"
        ).alias("barr"),
        F.expr(
            "transform(array_sort(collect_list(struct(j, b))), s -> s.j)"
        ).alias("jarr"),
    )
    inf = _DTW_INF

    def dtw(pdf: pd.DataFrame) -> pd.DataFrame:
        uid = int(pdf["user_id"].iloc[0])
        a = [0] * (n + 1)
        for i, v in zip(pdf["i"], pdf["a"]):
            a[int(i)] = int(v)
        bmap = dict(zip(pdf["jarr"].iloc[0], pdf["barr"].iloc[0]))
        b = [0] * (n + 1)
        for j in range(1, n + 1):
            b[j] = int(bmap.get(j, 0))
        d = [[inf] * (n + 1) for _ in range(n + 1)]
        for i in range(1, n + 1):
            for j in range(max(1, i - w), min(n, i + w) + 1):
                c = abs(a[i] - b[j])
                if i == 1 and j == 1:
                    d[i][j] = c
                    continue
                d[i][j] = c + min(
                    d[i - 1][j],
                    d[i][j - 1],
                    d[i - 1][j - 1] if i > 1 and j > 1 else inf,
                )
        return pd.DataFrame(
            [(uid, d[n][n])], columns=["user_id", "dtw_cost"]
        )

    return (
        cnt.crossJoin(F.broadcast(barr))
        .groupBy("user_id")
        .applyInPandas(dtw, "user_id BIGINT, dtw_cost BIGINT")
    )


@query(
    "q_perm_entropy",
    oracle="""
    WITH s AS (
        SELECT value AS v,
               lead(value, 1) OVER w AS v2,
               lead(value, 2) OVER w AS v3
        FROM (
            SELECT user_id, event_id, epoch_us(ts) AS ts_us, value
            FROM events
        )
        WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
    ),
    p AS (
        SELECT CAST(
            CAST(v < v2 AS INT) + 2 * CAST(v2 < v3 AS INT)
            + 4 * CAST(v < v3 AS INT) AS BIGINT) AS pattern
        FROM s WHERE v3 IS NOT NULL
    ),
    c AS (SELECT pattern, CAST(count(*) AS BIGINT) AS n FROM p GROUP BY 1),
    t AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM c)
    SELECT pattern, n,
           CAST(length(bin((SELECT tot FROM t))) - length(bin(n))
                AS BIGINT) AS surprisal_bits
    FROM c
    """,
)
def q_perm_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMUTATION-ENTROPY ordinal patterns (Bandt & Pompe 2002, order
    3): each consecutive value triple on a user's timeline maps to its
    comparison pattern (v<v2, v2<v3, v<v3 bits — 8 classes, 2 of them
    impossible for strict orders and realized only through ties), and
    the corpus-level pattern histogram is the complexity signature —
    near-uniform = noise-like, concentrated = regular/trending.  The
    standard pre-model check that a metric stream is signal, not RNG.

    Float policy: only COMPARISONS touch the raw doubles (identical
    parquet values compare identically in both engines); counts are
    integers, and the per-pattern surprisal uses the house bit_length
    device (q_bigram_surprisal) instead of a transcendental log.

    Scale: one window pass per user timeline (the q_window_lag shuffle
    shape) then a map-side-combinable 8-key count — no float
    accumulation anywhere."""
    ev = events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    s = ev.select(
        F.col("value").alias("v"),
        F.lead("value", 1).over(w).alias("v2"),
        F.lead("value", 2).over(w).alias("v3"),
    )
    p = s.where(F.col("v3").isNotNull()).select(
        (
            (F.col("v") < F.col("v2")).cast("int")
            + 2 * (F.col("v2") < F.col("v3")).cast("int")
            + 4 * (F.col("v") < F.col("v3")).cast("int")
        )
        .cast("long")
        .alias("pattern")
    )
    c = p.groupBy("pattern").agg(F.count(F.lit(1)).cast("long").alias("n"))
    tot = c.agg(F.sum("n").cast("long").alias("tot"))
    return c.crossJoin(F.broadcast(tot)).select(
        "pattern",
        "n",
        (F.length(F.bin("tot")) - F.length(F.bin("n")))
        .cast("long")
        .alias("surprisal_bits"),
    )


# ---------------------------------------------------------------------------
# Time-weighted average (round 9b)
# ---------------------------------------------------------------------------


@query(
    "q_twap",
    oracle="""
    WITH e AS (
        SELECT user_id, event_id, epoch_us(ts) AS ts_us,
               CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
        FROM events
    ),
    d AS (
        SELECT user_id, cents,
               lead(ts_us) OVER w - ts_us AS dt
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_intervals,
           CAST(sum(dt) AS BIGINT) AS span_us,
           CAST(sum(cents * dt) AS BIGINT) AS cw_sum,
           CAST(sum(cents * dt) // sum(dt) AS BIGINT) AS twap_cents
    FROM d WHERE dt IS NOT NULL AND dt > 0
    GROUP BY 1
    """,
)
def q_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWAP — TIME-weighted average per user under last-observation-
    carried-forward semantics (each value holds until the next event,
    so it is weighted by how LONG it held, not how often it was
    sampled): the irregular-sampling mean every time-series store
    ships as `time_weight` (TimescaleDB) / integral-average (InfluxDB),
    and the honest aggregate where q_vwap's count-weighted mean
    over-counts bursts.  Exact integers end-to-end: cents × usec-gap
    products sum exactly in BIGINT, one floor division per group.

    Scale: one user-partitioned window pass (lead) then ONE map-side-
    combinable per-user aggregate — the q_window_lag shuffle shape;
    zero-length gaps (same-timestamp events) carry zero weight and are
    excluded identically in both engines."""
    ev = events(spark, sf_dir).select(
        "user_id", "event_id", "ts_us", cents_of(F.col("value")).alias("cents")
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    d = ev.select(
        "user_id",
        "cents",
        (F.lead("ts_us").over(w) - F.col("ts_us")).alias("dt"),
    ).where(F.col("dt").isNotNull() & (F.col("dt") > 0))
    return d.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_intervals"),
        F.sum("dt").cast("long").alias("span_us"),
        F.sum(F.col("cents") * F.col("dt")).cast("long").alias("cw_sum"),
        F.expr(
            "CAST(sum(cents * dt) div sum(dt) AS BIGINT)"
        ).alias("twap_cents"),
    )


# ---------------------------------------------------------------------------
# Bounded 2-state Viterbi decode (round 10)
# ---------------------------------------------------------------------------

_VIT_N = 16  # decoded prefix length per user
_VIT_SWITCH = -7  # transition log-weight (state change)
_VIT_MISS = -12  # emission log-weight (observation disagrees with state)


def _viterbi_oracle(n: int = _VIT_N) -> str:
    """Unrolled max-plus Viterbi rounds (the q_dtw_band device): per
    round a LEFT join pulls observation rank t — NULL past a short
    user's stream keeps (v0, v1) unchanged, so one unroll serves every
    stream length ≤ n."""
    parts = [
        f"""WITH e AS (
        SELECT user_id, epoch_us(ts) AS ts_us, event_id,
               CASE WHEN event_type IN ('purchase', 'signup')
                    THEN 1 ELSE 0 END AS x
        FROM events
    ),
    r AS (
        SELECT user_id, x,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts_us, event_id) AS rnk
        FROM e
    ),
    o AS (SELECT user_id, x, rnk FROM r WHERE rnk <= {n}),
    l0 AS (SELECT DISTINCT user_id, 0 AS v0, 0 AS v1, 0 AS es, 0 AS n
           FROM e)"""
    ]
    for t in range(1, n + 1):
        parts.append(
            f"""w{t} AS (
        SELECT l.user_id,
               CASE WHEN o.x IS NULL THEN l.v0
                    ELSE greatest(l.v0, l.v1 + {_VIT_SWITCH})
                         + CASE WHEN o.x = 1 THEN {_VIT_MISS} ELSE 0 END
                    END AS v0,
               CASE WHEN o.x IS NULL THEN l.v1
                    ELSE greatest(l.v1, l.v0 + {_VIT_SWITCH})
                         + CASE WHEN o.x = 0 THEN {_VIT_MISS} ELSE 0 END
                    END AS v1,
               l.es AS es0,
               l.n + CASE WHEN o.x IS NULL THEN 0 ELSE 1 END AS n,
               o.x IS NOT NULL AS stepped
        FROM l{t - 1} l LEFT JOIN o ON o.user_id = l.user_id
                                   AND o.rnk = {t}
    ),
    l{t} AS (
        SELECT user_id, v0, v1,
               es0 + CASE WHEN stepped AND v1 > v0 THEN 1 ELSE 0 END AS es,
               n
        FROM w{t}
    )"""
        )
    return (
        ",\n    ".join(parts)
        + f"""
    SELECT user_id, CAST(n AS BIGINT) AS n_steps,
           CAST(v0 AS BIGINT) AS v_browse, CAST(v1 AS BIGINT) AS v_engage,
           CAST(greatest(v0, v1) AS BIGINT) AS best_score,
           CAST(CASE WHEN v1 > v0 THEN 1 ELSE 0 END AS BIGINT) AS best_state,
           CAST(es AS BIGINT) AS engaged_steps
    FROM l{n}"""
    )


@query("q_viterbi_2state", oracle=_viterbi_oracle())
def q_viterbi_2state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOUNDED 2-STATE VITERBI DECODE (Viterbi 1967 — the max-plus
    sequence-smoothing primitive; the session-quality / bot-vs-human
    state decode an event pipeline runs over noisy per-step signals;
    completes the DP family next to q_dtw_band's alignment DP): over
    each user's FIRST 16 events (deterministic (ts, event_id) rank —
    the boundedness that makes the oracle a fixed unroll), observations
    x_t = [event_type ∈ {purchase, signup}], integer log-weights
    (switch −7, emission miss −12), forward max-plus recurrence
    v_s(t) = max(v_s, v_{1−s} − 7) + emit_s(x_t).  Emits per user the
    final state values, best score/state, and the count of steps where
    the engaged state dominated — forward-only observables, so no
    backtrace materialization.

    All-integer max-plus arithmetic → full hash gate: the oracle
    unrolls 16 LEFT-join rounds (NULL past a short stream holds the
    state — one unroll serves every stream length), the Spark side runs
    the REAL per-user loop in Arrow-batched applyInPandas.

    Scale: ONE user-keyed shuffle into applyInPandas; per-group state
    is two ints over ≤16 rows (rank-pruned BEFORE the shuffle, so the
    decode stage moves 16 rows/user regardless of history depth); user
    cardinality is the parallelism unit — the q_dtw_band posture."""
    ev = events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    obs = (
        ev.select(
            "user_id",
            "ts_us",
            "event_id",
            # NULL event_type must observe as 0, matching the oracle's
            # CASE ... ELSE 0 — isin().cast('int') propagates NULL and
            # pandas astype(int) would raise inside applyInPandas
            # (ADVICE r10 #1: divergent failure modes on NULL input).
            F.when(F.col("event_type").isin("purchase", "signup"), 1)
            .otherwise(0)
            .alias("x"),
        )
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= _VIT_N)
        .select("user_id", "rnk", "x")
    )

    def decode(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("rnk")
        v0 = v1 = es = 0
        for x in pdf["x"].astype(int):
            v0, v1 = (
                max(v0, v1 + _VIT_SWITCH) + (_VIT_MISS if x == 1 else 0),
                max(v1, v0 + _VIT_SWITCH) + (_VIT_MISS if x == 0 else 0),
            )
            if v1 > v0:
                es += 1
        return pd.DataFrame(
            {
                "user_id": [int(pdf["user_id"].iloc[0])],
                "n_steps": [len(pdf)],
                "v_browse": [v0],
                "v_engage": [v1],
                "best_score": [max(v0, v1)],
                "best_state": [1 if v1 > v0 else 0],
                "engaged_steps": [es],
            }
        )

    return obs.groupBy("user_id").applyInPandas(
        decode,
        "user_id long, n_steps long, v_browse long, v_engage long,"
        " best_score long, best_state long, engaged_steps long",
    )


# ---------------------------------------------------------------------------
# Round-11 time-series statistics: runs test, peak detection, integer
# rescaled-range, inter-event gap histogram
# ---------------------------------------------------------------------------


@query(
    "q_runs_test",
    oracle="""
    WITH h AS (SELECT epoch_us(ts) // 3600000000 AS hr,
                      CAST(count(*) AS BIGINT) AS x
               FROM events GROUP BY 1),
    med AS (
        SELECT x AS m FROM (
            SELECT x, row_number() OVER (ORDER BY x, hr) AS rn,
                   count(*) OVER () AS n
            FROM h
        ) WHERE rn = (n + 1) // 2
    ),
    s AS (
        SELECT hr, CASE WHEN x > m THEN 1 ELSE 0 END AS sgn
        FROM h CROSS JOIN med WHERE x <> m
    ),
    r AS (SELECT sgn, row_number() OVER (ORDER BY hr) AS rn FROM s),
    tr AS (
        SELECT CAST(count(*) AS BIGINT) AS n_trans
        FROM r a JOIN r b ON b.rn = a.rn + 1 AND a.sgn <> b.sgn
    ),
    agg AS (
        -- coalesce: on an empty/all-tie sign series (every hour equals
        -- the median) sum(sgn) is NULL while the Spark side emits 0 --
        -- both engines report the 0-observation row identically
        SELECT CAST(count(*) AS BIGINT) AS n_obs,
               CAST(coalesce(sum(sgn), 0) AS BIGINT) AS n_above,
               CAST(count(*) - coalesce(sum(sgn), 0) AS BIGINT) AS n_below
        FROM s
    )
    SELECT a.n_obs, a.n_above, a.n_below,
           CASE WHEN a.n_obs > 0 THEN t.n_trans + 1 ELSE 0 END AS n_runs,
           CASE WHEN a.n_obs > 0 THEN
               (a.n_obs + 2 * a.n_above * a.n_below) * 1000 // a.n_obs
           ELSE NULL END AS expected_runs_milli
    FROM agg a, tr t
    """,
)
def q_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WALD-WOLFOWITZ RUNS TEST (Wald & Wolfowitz 1940) on the hourly
    event-count series: is the sequence of above/below-median hours
    random, or does load clump (the randomness read that complements
    q_burstiness's Fano magnitude)?  Ties with the median are dropped
    (the standard treatment), the observed run count R = transitions+1,
    and the null expectation E[R] = 1 + 2·n₁·n₂/n is emitted as exact
    integer MILLI units — fully integer, full hash gate.

    Devices: the median is the exact lower median (value at 1-based
    rank (n+1) div 2) selected with the bucketed global-rank device
    (operators/ranking.py, bit_length(x) buckets — no partitionless
    window over the series); a run transition is an hour whose
    successor in time order (``ranking.global_neighbors``, one bucketed
    window) has the other sign, counted by the same aggregate that
    counts the observations.

    Scale: events collapse to the time-range-bounded hourly series
    (one combinable shuffle); everything after runs on that bounded
    table — one rank job, one neighbour window, one 1-row reduction."""
    from ..operators import ranking

    ev = events(spark, sf_dir)
    h = (
        ev.select(F.expr("ts_us div 3600000000").alias("hr"))
        .groupBy("hr")
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
    )
    # reused: median rank + sign series; lazy — n_h count materializes
    h = h.localCheckpoint(eager=False)
    n_h = h.count()
    ranked = ranking.global_row_number(
        h,
        [F.col("x").asc(), F.col("hr").asc()],
        bucket=F.length(F.bin("x")),
        out_col="rn",
    )
    med = ranked.where(F.col("rn") == max((n_h + 1) // 2, 1)).select(
        F.col("x").alias("m")
    )
    s = (
        h.crossJoin(F.broadcast(med))
        .where(F.col("x") != F.col("m"))
        .select(
            "hr",
            F.when(F.col("x") > F.col("m"), 1).otherwise(0).alias("sgn"),
        )
    )
    r = ranking.global_neighbors(
        s, [F.col("hr").asc()], bucket=F.expr("hr div 64"), cols=["sgn"]
    )
    agg = r.agg(
        F.count(F.lit(1)).cast("long").alias("n_obs"),
        F.coalesce(F.sum("sgn"), F.lit(0)).cast("long").alias("n_above"),
        (F.count(F.lit(1)) - F.coalesce(F.sum("sgn"), F.lit(0)))
        .cast("long")
        .alias("n_below"),
        F.count(F.when(F.col("next.sgn") != F.col("sgn"), 1))
        .cast("long")
        .alias("n_trans"),
    )
    return agg.select(
        "n_obs",
        "n_above",
        "n_below",
        F.when(F.col("n_obs") > 0, F.col("n_trans") + 1)
        .otherwise(0)
        .cast("long")
        .alias("n_runs"),
        F.when(
            F.col("n_obs") > 0,
            F.expr("(n_obs + 2 * n_above * n_below) * 1000 div n_obs"),
        )
        .cast("long")
        .alias("expected_runs_milli"),
    )


@query(
    "q_peak_hours",
    oracle="""
    WITH h AS (SELECT epoch_us(ts) // 3600000000 AS hr,
                      CAST(count(*) AS BIGINT) AS x
               FROM events GROUP BY 1),
    r AS (SELECT hr, x, row_number() OVER (ORDER BY hr) AS rn FROM h),
    pk AS (
        SELECT c.hr, c.x,
               c.x - greatest(p.x, n.x) AS prominence
        FROM r c JOIN r p ON p.rn = c.rn - 1
                 JOIN r n ON n.rn = c.rn + 1
        WHERE c.x > p.x AND c.x >= n.x
    )
    SELECT hr, x, prominence,
           CAST(row_number() OVER (ORDER BY prominence DESC, x DESC, hr)
                AS BIGINT) AS rnk
    FROM (
        SELECT * FROM pk
        ORDER BY prominence DESC, x DESC, hr LIMIT 10
    )
    """,
)
def q_peak_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOCAL-MAXIMA PEAK DETECTION over the hourly event-count series —
    the top-10 load spikes by prominence (height above the taller
    neighbor), the capacity-planning companion to q_changepoint_binseg
    (which finds level SHIFTS, not spikes).  A peak is an interior hour
    with x > previous AND x ≥ next (strict left / weak right breaks
    plateau ties exactly once per plateau edge); all integer, full
    hash gate.

    Devices: both neighbours in time order come from one bucketed
    window (``ranking.global_neighbors``, hr div 64 buckets — monotone,
    bounded bucket count; no rank, no join, no window over the whole
    series); top-10 is the heap operator.

    Scale: one combinable shuffle to the time-range-bounded hourly
    table, then one bucket-partitioned window over it."""
    from ..operators import ranking

    ev = events(spark, sf_dir)
    h = (
        ev.select(F.expr("ts_us div 3600000000").alias("hr"))
        .groupBy("hr")
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
    )
    r = ranking.global_neighbors(
        h, [F.col("hr").asc()], bucket=F.expr("hr div 64"), cols=["x"]
    )
    # the two ends have no neighbour on one side: the NULL comparison
    # drops them, as the oracle's inner joins do
    pk = r.where(
        (F.col("x") > F.col("prev.x")) & (F.col("x") >= F.col("next.x"))
    ).select(
        "hr",
        "x",
        (F.col("x") - F.greatest("prev.x", "next.x")).alias("prominence"),
    )
    order = [
        F.col("prominence").desc(),
        F.col("x").desc(),
        F.col("hr").asc(),
    ]
    top = pk.orderBy(*order).limit(10)
    w = Window.orderBy(*order)
    return top.withColumn("rnk", F.row_number().over(w).cast("long"))


@query(
    "q_hurst_rs",
    oracle="""
    WITH h AS (SELECT epoch_us(ts) // 3600000000 AS hr,
                      CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT))
                           AS BIGINT) AS y
               FROM events WHERE value IS NOT NULL GROUP BY 1),
    r AS (SELECT hr, y, row_number() OVER (ORDER BY hr) AS rn FROM h),
    sc AS (SELECT * FROM (VALUES (8), (16), (32), (64)) AS t(w)),
    blk AS (
        SELECT sc.w, (r.rn - 1) // sc.w AS b, r.rn, r.y
        FROM r CROSS JOIN sc
    ),
    bs AS (
        SELECT w, b, CAST(sum(y) AS BIGINT) AS s,
               CAST(count(*) AS BIGINT) AS cnt
        FROM blk GROUP BY 1, 2
    ),
    d AS (
        SELECT blk.w, blk.b, blk.rn,
               blk.y * blk.w - bs.s AS dev
        FROM blk JOIN bs ON bs.w = blk.w AND bs.b = blk.b
        WHERE bs.cnt = blk.w
    ),
    c AS (
        SELECT w, b, dev,
               sum(dev) OVER (PARTITION BY w, b ORDER BY rn
                              ROWS UNBOUNDED PRECEDING) AS cum
        FROM d
    ),
    per_block AS (
        SELECT w, b,
               CAST(max(cum) - min(cum) AS BIGINT) AS rng,
               CAST(sum(abs(dev)) AS BIGINT) AS absdev
        FROM c GROUP BY 1, 2
    )
    SELECT w, CAST(count(*) AS BIGINT) AS n_blocks,
           CAST(sum(rng) AS BIGINT) AS sum_range,
           CAST(sum(absdev) AS BIGINT) AS sum_absdev,
           CASE WHEN sum(absdev) > 0 THEN
               CAST(sum(rng) * 1000000 // sum(absdev) AS BIGINT)
           ELSE NULL END AS rs_ppm
    FROM per_block GROUP BY w ORDER BY w
    """,
)
def q_hurst_rs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTEGER RESCALED-RANGE profile at dyadic scales (Hurst 1951;
    Mandelbrot & Wallis 1969) over the hourly revenue series — does the
    range of cumulative deviations grow faster than a memoryless series
    would (long-range dependence), read as R/S ratio per window size
    w ∈ {8,16,32,64} hours.  Exact-integer variant: deviations are
    scaled by w (dᵢ = w·yᵢ − S_block, so no fractional mean), the
    dispersion denominator is Σ|dᵢ| (mean-abs-deviation in place of the
    classical std — no sqrt, engine-bit-exact), and the per-scale
    statistic is Σrange·10⁶ div Σabsdev ppm.  Only FULL blocks count.

    Scale: one combinable shuffle to the time-range-bounded hourly
    table; the 4-scale expansion is a 4-row broadcast cross; cumulative
    sums run in windows PARTITIONED BY (w, block) — partition-parallel,
    never a partitionless window over the series; per-scale rollup is a
    4-row reduction."""
    from ..operators import ranking

    ev = events(spark, sf_dir).where(F.col("value").isNotNull())
    h = (
        ev.select(
            F.expr("ts_us div 3600000000").alias("hr"),
            cents_of(F.col("value")).alias("c"),
        )
        .groupBy("hr")
        .agg(F.sum("c").cast("long").alias("y"))
    )
    r = ranking.global_row_number(
        h,
        [F.col("hr").asc()],
        bucket=F.expr("hr div 64"),
        out_col="rn",
    )
    sc = spark.createDataFrame([(8,), (16,), (32,), (64,)], "w long")
    blk = r.crossJoin(F.broadcast(sc)).withColumn(
        "b", F.expr("(rn - 1) div w")
    )
    bs = blk.groupBy("w", "b").agg(
        F.sum("y").cast("long").alias("s"),
        F.count(F.lit(1)).cast("long").alias("cnt"),
    )
    d = (
        blk.join(bs, ["w", "b"])
        .where(F.col("cnt") == F.col("w"))
        .select(
            "w",
            "b",
            "rn",
            (F.col("y") * F.col("w") - F.col("s")).alias("dev"),
        )
    )
    wnd = Window.partitionBy("w", "b").orderBy("rn").rowsBetween(
        Window.unboundedPreceding, 0
    )
    c = d.withColumn("cum", F.sum("dev").over(wnd))
    per_block = c.groupBy("w", "b").agg(
        (F.max("cum") - F.min("cum")).cast("long").alias("rng"),
        F.sum(F.abs("dev")).cast("long").alias("absdev"),
    )
    return (
        per_block.groupBy("w")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_blocks"),
            F.sum("rng").cast("long").alias("sum_range"),
            F.sum("absdev").cast("long").alias("sum_absdev"),
            F.when(
                F.sum("absdev") > 0,
                F.expr("sum(rng) * 1000000 div sum(absdev)"),
            )
            .cast("long")
            .alias("rs_ppm"),
        )
        .orderBy("w")
    )


@query(
    "q_gap_bitlen_hist",
    oracle="""
    WITH e AS (
        SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id
        FROM events
    ),
    g AS (
        SELECT event_type,
               ts_us - lag(ts_us) OVER (PARTITION BY user_id, event_type
                                        ORDER BY ts_us, event_id) AS gap_us
        FROM e
    )
    SELECT event_type,
           CAST(length(bin(gap_us // 1000 + 1)) AS BIGINT) AS gap_ms_bitlen,
           CAST(count(*) AS BIGINT) AS n,
           CAST(min(gap_us // 1000) AS BIGINT) AS min_gap_ms,
           CAST(max(gap_us // 1000) AS BIGINT) AS max_gap_ms
    FROM g WHERE gap_us IS NOT NULL
    GROUP BY 1, 2
    """,
)
def q_gap_bitlen_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTER-EVENT GAP HISTOGRAM at log2 resolution per event type —
    the arrival-process fingerprint (heartbeats pile into one bit-
    length bucket, human activity spreads across many; the per-pair
    diagnostic q_burstiness's single Fano number cannot localize).
    Buckets are bit_length(gap_ms + 1) — the size_bitlen house device,
    integer-exact, ~40 buckets max; min/max gap per bucket anchor the
    bucket edges in the output.

    Scale: ONE lag in a window PARTITIONED BY (user, type) — the same
    partition-parallel shuffle every per-user op shares, no
    partitionless window anywhere — then a map-side-combinable rollup
    to ≤ |types|·64 rows."""
    ev = events(spark, sf_dir)
    w = Window.partitionBy("user_id", "event_type").orderBy(
        "ts_us", "event_id"
    )
    g = ev.select(
        "event_type",
        (F.col("ts_us") - F.lag("ts_us").over(w)).alias("gap_us"),
    ).where(F.col("gap_us").isNotNull())
    return g.groupBy(
        "event_type",
        F.length(F.bin(F.expr("gap_us div 1000 + 1")))
        .cast("long")
        .alias("gap_ms_bitlen"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.expr("min(gap_us div 1000)").cast("long").alias("min_gap_ms"),
        F.expr("max(gap_us div 1000)").cast("long").alias("max_gap_ms"),
    )
