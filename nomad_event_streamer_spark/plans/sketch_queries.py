"""Declared sketch/summary queries (SURVEY.md 2.12): frequency sketches
whose sketch-then-verify plans produce EXACT output — so they ship with
full DuckDB value-hash oracles despite being sketch-powered.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..operators import sketch
from ..tables import events, load, rebalance_for_cpu
from .registry import query


@query(
    "q_heavy_hitters",
    oracle="""
    WITH toks AS (
        SELECT unnest(string_split(text, ' ')) AS tok FROM documents
    )
    SELECT tok AS item, count(*) AS cnt,
           CAST(count(*) AS DOUBLE) / CAST((SELECT count(*) FROM toks)
                                           AS DOUBLE) AS frac
    FROM toks
    GROUP BY tok
    HAVING count(*) > 0.0335 * (SELECT count(*) FROM toks)
    """,
)
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters over the token stream via distributed Misra-Gries
    sketch-then-verify (operators/sketch.py): per-partition MG summaries
    (k=30 counters, bounded memory at any key cardinality) merge into a
    no-false-negative candidate set for phi=3.35%; a broadcast semi-join
    + exact count yields EXACT results — hence the plain GROUP BY/HAVING
    oracle.  At 100 TB this shuffles only candidate-key rows instead of
    the full distinct-key aggregate."""
    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    toks = docs.select(F.explode(F.split("text", " ")).alias("tok"))
    return sketch.heavy_hitters(toks, "tok", phi=0.0335, k=30)


@query("q_hll_rollup")  # rows-only: HLL estimates have no SQL replica
def q_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup (the pre-aggregated sketch table pattern):
    per-(event_type, day) HLL sketches are built once (`hll_sketch_agg`),
    then distinct-user counts for ANY grouping roll up by merging
    sketches (`hll_union_agg`) — never re-touching the fact table.  At
    100 TB this is how interactive distinct-count dashboards work: the
    sketch table is aggregate-sized, merges are associative, and any
    time/type slice is a sketch-merge away.  Estimates are
    Spark-implementation-specific (Datasketches HLL), hence rows-only;
    determinism within Spark is covered by the driver's repeat runs."""
    ev = events(spark, sf_dir)
    daily = (
        ev.groupBy("event_type", F.to_date("ts_t").alias("day"))
        .agg(F.hll_sketch_agg(F.col("user_id"), F.lit(12)).alias("hll"))
    )
    return (
        daily.groupBy("event_type")
        .agg(
            F.hll_sketch_estimate(
                F.hll_union_agg(F.col("hll"), F.lit(False))
            ).alias("approx_users"),
            F.count(F.lit(1)).alias("n_days"),
        )
    )


_HLL_ORACLE = sketch.hll_registers_oracle_sql(
    "SELECT event_type, user_id FROM events",
    ["event_type"],
    "user_id",
    p=8,
)


@query("q_hll_registers", oracle=_HLL_ORACLE)
def q_hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog with VERIFIABLE internals: the register table
    (event_type, bucket, max_rho) is pure integer arithmetic
    (operators/sketch.hll_registers), so unlike the Datasketches-backed
    q_hll_rollup it carries a full cross-engine value-hash oracle.  The
    query builds per-(event_type, day) registers first and merges them
    by element-wise max — exercising the mergeability that makes sketch
    rollups work at 100 TB (union = max, associative, fact table touched
    once) — and the merged result equals the direct computation, which
    is exactly what the oracle computes."""
    ev = events(spark, sf_dir)
    daily = sketch.hll_registers(
        ev.withColumn("day", F.to_date("ts_t")),
        ["event_type", "day"],
        "user_id",
        p=8,
    )
    return (
        daily.groupBy("event_type", "bucket")
        .agg(F.max("max_rho").alias("max_rho"))
    )


# alpha_256 * m^2 * 2^53 as one exact literal, shared verbatim by both
# engines (alpha_m = 0.7213/(1 + 1.079/m), the standard HLL constant).
_HLL_P = 8
_HLL_M = 1 << _HLL_P
_HLL_ALPHA = 0.7213 / (1 + 1.079 / _HLL_M)
_HLL_NUM = repr(_HLL_ALPHA * _HLL_M * _HLL_M * float(1 << 53))


@query(
    "q_hll_estimate",
    oracle=f"""
    WITH reg AS ({sketch.hll_registers_oracle_sql(
        "SELECT event_type, user_id FROM events",
        ["event_type"],
        "user_id",
        p=_HLL_P,
    )})
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_filled,
           CAST(({_HLL_M} - count(*)) * {1 << 53}
                + sum((1::BIGINT << 53) >> CAST(max_rho AS INTEGER))
                AS BIGINT) AS denom_units,
           {_HLL_NUM} / CAST(({_HLL_M} - count(*)) * {1 << 53}
                + sum((1::BIGINT << 53) >> CAST(max_rho AS INTEGER))
                AS DOUBLE) AS est_users
    FROM reg GROUP BY event_type
    """,
)
def q_hll_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HLL cardinality ESTIMATE made engine-exact: the harmonic-mean
    denominator Σ2^-rho is computed as exact integer units of 2^-53
    (empty registers contribute 2^53 each, filled ones 2^(53-rho); 256
    terms stay < 2^63), so the only float op is the single final
    division by the shared alpha·m²·2^53 literal.  Contrast
    q_approx_count_distinct / q_hll_rollup (rows-only: Datasketches
    internals); this is the same estimator family with a full
    cross-engine value-hash.  Deliberately NO small-range (linear
    counting) correction: it needs ``ln``, whose rounding is not
    IEEE-pinned across libms, and would break the hash gate.  At the
    test cardinality (n≈150 ≪ m=256) raw HLL therefore overestimates —
    expected and documented; production use at n ≳ 3m is in the
    estimator's standard ±1.04/√m band, and ``n_filled`` (V = m −
    n_filled) is emitted so a consumer can apply linear counting
    downstream."""
    ev = events(spark, sf_dir)
    reg = sketch.hll_registers(ev, ["event_type"], "user_id", p=_HLL_P)
    filled = F.count(F.lit(1))
    denom = (F.lit(_HLL_M) - filled) * F.lit(1 << 53) + F.sum(
        F.expr(f"shiftright({1 << 53}L, cast(max_rho AS INT))")
    )
    return reg.groupBy("event_type").agg(
        filled.cast("long").alias("n_filled"),
        denom.cast("long").alias("denom_units"),
        (F.lit(float(_HLL_NUM)) / denom.cast("double")).alias("est_users"),
    )


# Count-Min parameters: d=4 hash rows, w=16 buckets — deliberately
# NARROW (the 31-token vocabulary collides inside 16 buckets) so the
# sketch's one-sided error is actually exercised: estimates strictly
# exceed exact counts for colliding tokens, and the CMS invariant
# est >= exact is assertable (and asserted) on every probe.
_CMS_D = 4
_CMS_W = 16


@query(
    "q_countmin",
    oracle=f"""
    WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
    rows_ AS (SELECT unnest(range(0, {_CMS_D})) AS i),
    cells AS (
        SELECT i, CAST(concat('0x', substring(md5(concat(CAST(i AS VARCHAR), ':', tok)), 1, 8))
                  AS BIGINT) % {_CMS_W} AS bucket, count(*) AS cnt
        FROM toks CROSS JOIN rows_ GROUP BY 1, 2
    ),
    probes AS (SELECT unnest(['spark', 'query', 'join', 'scan', 'window']) AS tok),
    pb AS (
        SELECT p.tok, r.i,
               CAST(concat('0x', substring(md5(concat(CAST(r.i AS VARCHAR), ':', p.tok)), 1, 8))
               AS BIGINT) % {_CMS_W} AS bucket
        FROM probes p CROSS JOIN rows_ r
    ),
    est AS (
        SELECT pb.tok, CAST(min(coalesce(c.cnt, 0)) AS BIGINT) AS est
        FROM pb LEFT JOIN cells c ON pb.i = c.i AND pb.bucket = c.bucket
        GROUP BY pb.tok
    ),
    exact AS (SELECT tok, CAST(count(*) AS BIGINT) AS exact FROM toks GROUP BY tok)
    SELECT e.tok, e.est, CAST(coalesce(x.exact, 0) AS BIGINT) AS exact,
           e.est >= coalesce(x.exact, 0) AS is_overestimate
    FROM est e LEFT JOIN exact x ON e.tok = x.tok
    """,
)
def q_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch (Cormode & Muthukrishnan 2005) with point-query
    estimates: the d×w counter matrix is ONE partial-aggregate groupBy
    over (hash-row, bucket) — bounded memory at ANY key cardinality, the
    property that makes CMS the streaming-frequency workhorse — and a
    point query reads d cells and takes the min.  Probes report estimate
    vs exact count side by side with the one-sided-error invariant
    (est >= exact, equality iff no collision in some row) as an output
    column; w=16 forces real collisions so the overestimate path is
    exercised, not just the lucky-exact one.

    Everything is integer (counter sums, md5-derived buckets), so the
    full sketch STATE and the estimates are hash-oracled — stronger than
    the usual "sketch ≈ right" test.  Scale: the sketch is d·w counters
    regardless of corpus size (mergeable across partitions by addition);
    the only data-sized pass is the token scan feeding the partial agg;
    probes broadcast."""
    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    toks = docs.select(F.explode(F.split("text", " ")).alias("tok"))
    rows_ = spark.range(_CMS_D).select(F.col("id").cast("int").alias("i"))
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("i").cast("string"), F.lit(":"), F.col("tok"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % _CMS_W
    )
    cells = (
        toks.crossJoin(F.broadcast(rows_))
        .groupBy("i", bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    probes = spark.createDataFrame(
        [("spark",), ("query",), ("join",), ("scan",), ("window",)], ["tok"]
    )
    pb = probes.crossJoin(F.broadcast(rows_)).select(
        "tok", "i", bucket.alias("bucket")
    )
    est = (
        pb.join(F.broadcast(cells), ["i", "bucket"], "left")
        .groupBy("tok")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).cast("long").alias("est"))
    )
    exact = toks.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("exact"))
    return (
        est.join(exact, "tok", "left")
        .select(
            "tok",
            "est",
            F.coalesce(F.col("exact"), F.lit(0)).cast("long").alias("exact"),
            (F.col("est") >= F.coalesce(F.col("exact"), F.lit(0))).alias(
                "is_overestimate"
            ),
        )
    )


def _sketch_jaccard_oracle() -> str:
    reg = sketch.hll_registers_oracle_sql(
        "SELECT source, unnest(string_split(text, ' ')) AS tok "
        "FROM documents",
        ["source"],
        "tok",
        p=_HLL_P,
    )
    den_expr = (
        f"CAST(({_HLL_M} - count(*)) * {1 << 53}"
        f" + sum((1::BIGINT << 53) >> CAST(max_rho AS INTEGER)) AS BIGINT)"
    )
    est = "{num} / CAST({den} AS DOUBLE)".format
    ea = est(num=_HLL_NUM, den="da.den")
    eb = est(num=_HLL_NUM, den="db.den")
    eu = est(num=_HLL_NUM, den="ud.den_u")
    from ..tables import ORACLE_ROUND4

    jac = ORACLE_ROUND4.format(x=f"((({ea}) + ({eb}) - ({eu})) / ({eu}))")
    return f"""
    WITH reg AS ({reg}),
    den AS (
        SELECT source, {den_expr} AS den FROM reg GROUP BY source
    ),
    pairs AS (
        SELECT a.source AS source_a, b.source AS source_b
        FROM den a, den b WHERE a.source < b.source
    ),
    u AS (
        SELECT p.source_a, p.source_b, r.bucket,
               max(r.max_rho) AS max_rho
        FROM pairs p JOIN reg r
          ON r.source = p.source_a OR r.source = p.source_b
        GROUP BY 1, 2, 3
    ),
    ud AS (
        SELECT source_a, source_b,
               CAST(count(*) AS BIGINT) AS n_filled_union,
               {den_expr} AS den_u
        FROM u GROUP BY 1, 2
    ),
    st AS (
        SELECT DISTINCT source, tok FROM (
            SELECT source, unnest(string_split(text, ' ')) AS tok
            FROM documents)
    ),
    sc AS (SELECT source, CAST(count(*) AS BIGINT) AS n_set
           FROM st GROUP BY 1),
    inter AS (
        SELECT a.source AS source_a, b.source AS source_b,
               CAST(count(*) AS BIGINT) AS n_inter
        FROM st a JOIN st b ON a.tok = b.tok AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT ud.source_a, ud.source_b, ud.n_filled_union,
           {ea} AS est_a, {eb} AS est_b, {eu} AS est_union,
           {jac} AS jaccard_est,
           CAST(coalesce(i.n_inter, 0) AS BIGINT) AS n_inter,
           CAST(sa.n_set + sb.n_set - coalesce(i.n_inter, 0)
                AS BIGINT) AS n_union,
           CAST((coalesce(i.n_inter, 0) * 1000)
                // (sa.n_set + sb.n_set - coalesce(i.n_inter, 0))
                AS BIGINT) AS jaccard_milli
    FROM ud
    JOIN den da ON da.source = ud.source_a
    JOIN den db ON db.source = ud.source_b
    JOIN sc sa ON sa.source = ud.source_a
    JOIN sc sb ON sb.source = ud.source_b
    LEFT JOIN inter i
      ON i.source_a = ud.source_a AND i.source_b = ud.source_b
    """


@query("q_sketch_jaccard", oracle=_sketch_jaccard_oracle())
def q_sketch_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based set similarity: pairwise Jaccard between per-source
    token SETS estimated from mergeable HLL registers — union cardinality
    comes from element-wise register max (|A∪B| via one sketch merge),
    intersection by inclusion-exclusion, so source-pair similarity needs
    NO pair join over values: at 100 TB each corpus partition
    contributes register partials once, and every pairwise similarity is
    computed over m=256-row register tables.  Registers, denominators,
    and counts are exact integers; the estimates are the q_hll_estimate
    device (one shared alpha*m^2*2^53 literal, a single IEEE division),
    and jaccard_est is a fixed IEEE expression tree both engines evaluate
    bit-identically before portable 4dp rounding — all under the full
    hash gate.  The exact per-pair Jaccard (distinct-token join, bounded
    by vocabulary) rides along so the sketch's error is itself a
    verifiable, regression-testable quantity."""
    from ..tables import round4

    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    toks = docs.select(
        "source", F.explode(F.split("text", " ")).alias("tok")
    )
    reg = sketch.hll_registers(toks, ["source"], "tok", p=_HLL_P)

    filled = F.count(F.lit(1))
    denom = (F.lit(_HLL_M) - filled) * F.lit(1 << 53) + F.sum(
        F.expr(f"shiftright({1 << 53}L, cast(max_rho AS INT))")
    )
    den = reg.groupBy("source").agg(denom.cast("long").alias("den"))

    pairs = (
        den.select(F.col("source").alias("source_a"))
        .crossJoin(F.broadcast(den.select(F.col("source").alias("source_b"))))
        .where(F.col("source_a") < F.col("source_b"))
    )
    ra = reg.select(
        F.col("source").alias("source_a"), "bucket", "max_rho"
    )
    rb = reg.select(
        F.col("source").alias("source_b"), "bucket", "max_rho"
    )
    u = (
        pairs.join(ra, "source_a")
        .select("source_a", "source_b", "bucket", "max_rho")
        .unionByName(
            pairs.join(rb, "source_b").select(
                "source_a", "source_b", "bucket", "max_rho"
            )
        )
        .groupBy("source_a", "source_b", "bucket")
        .agg(F.max("max_rho").alias("max_rho"))
    )
    ud = u.groupBy("source_a", "source_b").agg(
        filled.cast("long").alias("n_filled_union"),
        denom.cast("long").alias("den_u"),
    )

    st = toks.distinct()
    sc = st.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_set")
    )
    inter = (
        st.select(F.col("source").alias("source_a"), "tok")
        .join(st.select(F.col("source").alias("source_b"), "tok"), "tok")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_inter"))
    )

    num = F.lit(float(_HLL_NUM))
    joined = (
        ud.join(
            F.broadcast(den.select(F.col("source").alias("source_a"),
                                   F.col("den").alias("den_a"))),
            "source_a",
        )
        .join(
            F.broadcast(den.select(F.col("source").alias("source_b"),
                                   F.col("den").alias("den_b"))),
            "source_b",
        )
        .join(
            F.broadcast(sc.select(F.col("source").alias("source_a"),
                                  F.col("n_set").alias("n_a"))),
            "source_a",
        )
        .join(
            F.broadcast(sc.select(F.col("source").alias("source_b"),
                                  F.col("n_set").alias("n_b"))),
            "source_b",
        )
        .join(F.broadcast(inter), ["source_a", "source_b"], "left")
        .withColumn("n_inter", F.coalesce(F.col("n_inter"), F.lit(0)))
    )
    est_a = num / F.col("den_a").cast("double")
    est_b = num / F.col("den_b").cast("double")
    est_u = num / F.col("den_u").cast("double")
    return joined.select(
        "source_a",
        "source_b",
        "n_filled_union",
        est_a.alias("est_a"),
        est_b.alias("est_b"),
        est_u.alias("est_union"),
        round4((est_a + est_b - est_u) / est_u).alias("jaccard_est"),
        F.col("n_inter").cast("long").alias("n_inter"),
        (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
        .cast("long")
        .alias("n_union"),
        F.expr("(n_inter * 1000) div (n_a + n_b - n_inter)")
        .cast("long")
        .alias("jaccard_milli"),
    )


_KMV_K = 32
# (k-1) * 2^60 as one exact literal both engines share (31*2^60 is a
# power-of-two multiple of a small integer — exactly representable)
_KMV_NUM = repr(float((_KMV_K - 1) * (1 << 60)))


@query(
    "q_kmv_distinct",
    oracle=f"""
    WITH h AS (
        SELECT DISTINCT event_type,
               CAST(concat('0x', substring(md5(CAST(user_id AS VARCHAR)),
                                           1, 15)) AS BIGINT) AS hv
        FROM events
    ),
    r AS (
        SELECT event_type, hv,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY hv ASC) AS rk,
               count(*) OVER (PARTITION BY event_type) AS n_seen
        FROM h
    ),
    kth AS (
        SELECT event_type, CAST(max(n_seen) AS BIGINT) AS n_seen,
               CAST(max(CASE WHEN rk = {_KMV_K} THEN hv END)
                    AS BIGINT) AS h_k
        FROM r GROUP BY event_type
    ),
    ex AS (
        SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT)
                   AS exact_users
        FROM events GROUP BY event_type
    )
    SELECT k.event_type, k.n_seen, coalesce(k.h_k, 0) AS h_k,
           CASE WHEN k.n_seen < {_KMV_K}
                THEN CAST(k.n_seen AS DOUBLE)
                ELSE {_KMV_NUM} / CAST(k.h_k AS DOUBLE) END AS est_users,
           e.exact_users
    FROM kth k JOIN ex e USING (event_type)
    """,
)
def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-count sketch (Bar-Yossef et al.
    2002) with verifiable internals — the HLL-register philosophy
    applied to the other classic cardinality sketch: per event_type keep
    the k=32 smallest md5-replayed 60-bit hashes of user_id; the k-th
    smallest alone estimates cardinality as ``(k-1)*2^60 / h_k``
    (uniform order statistics), with the small-set convention
    est = n_seen when fewer than k distinct hashes exist.  The sketch
    state (h_k, n_seen) is exact integers and the estimate is one IEEE
    division by a shared exact literal — all hash-gated; the exact
    distinct count rides along so sketch error is itself a verifiable
    column.  KMV is MERGEABLE (union = k smallest of the multiset
    union), the property that makes sketch-table rollups work.

    Scale: the distinct-hash projection is one partial-agg; the per-key
    k-smallest is a key-partitioned window (rank <= k early-bounded by
    WindowGroupLimit); nothing global.  In production the window is
    replaced by the same partial top-k merge the estimator tolerates —
    here the declared plan keeps the rank explicit so the oracle can
    replay it row-for-row."""
    ev = events(spark, sf_dir)
    h = (
        ev.select(
            "event_type",
            F.conv(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 15),
                16,
                10,
            )
            .cast("long")
            .alias("hv"),
        )
        .distinct()
    )
    from pyspark.sql import Window as W

    w_rank = W.partitionBy("event_type").orderBy(F.col("hv").asc())
    w_all = W.partitionBy("event_type")
    r = h.select(
        "event_type",
        "hv",
        F.row_number().over(w_rank).alias("rk"),
        F.count(F.lit(1)).over(w_all).alias("n_seen"),
    )
    kth = r.groupBy("event_type").agg(
        F.max("n_seen").cast("long").alias("n_seen"),
        F.max(F.when(F.col("rk") == _KMV_K, F.col("hv")))
        .cast("long")
        .alias("h_k"),
    )
    ex = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("exact_users")
    )
    return (
        kth.join(ex, "event_type")
        .select(
            "event_type",
            "n_seen",
            F.coalesce(F.col("h_k"), F.lit(0)).alias("h_k"),
            F.when(
                F.col("n_seen") < _KMV_K, F.col("n_seen").cast("double")
            )
            .otherwise(
                F.lit(float(_KMV_NUM)) / F.col("h_k").cast("double")
            )
            .alias("est_users"),
            "exact_users",
        )
    )


_THETA_K = 32
_THETA_ONE = 1 << 60
_THETA_ONE_F = repr(float(_THETA_ONE))


@query(
    "q_theta_intersect",
    oracle=f"""
    WITH st AS (
        SELECT DISTINCT source, tok FROM (
            SELECT source, unnest(string_split(text, ' ')) AS tok
            FROM documents)
    ),
    h AS (
        SELECT DISTINCT source,
               CAST(concat('0x', substring(md5(tok), 1, 15)) AS BIGINT) AS hv
        FROM st
    ),
    r AS (
        SELECT source, hv,
               row_number() OVER (PARTITION BY source ORDER BY hv ASC) AS rk,
               count(*) OVER (PARTITION BY source) AS n_seen
        FROM h
    ),
    theta AS (
        SELECT source,
               CAST(CASE WHEN max(n_seen) >= {_THETA_K}
                         THEN max(CASE WHEN rk = {_THETA_K} THEN hv END)
                         ELSE {_THETA_ONE} END AS BIGINT) AS theta
        FROM r GROUP BY source
    ),
    smp AS (
        SELECT r.source, r.hv FROM r JOIN theta t ON r.source = t.source
        WHERE r.hv < t.theta
    ),
    grid AS (
        SELECT a.source AS source_a, a.theta AS theta_a,
               b.source AS source_b, b.theta AS theta_b
        FROM theta a JOIN theta b ON a.source < b.source
    ),
    common AS (
        SELECT sa.source AS source_a, sb.source AS source_b,
               CAST(count(*) AS BIGINT) AS n_common
        FROM smp sa
        JOIN smp sb ON sa.hv = sb.hv AND sa.source < sb.source
        JOIN grid g ON g.source_a = sa.source AND g.source_b = sb.source
        WHERE sa.hv < least(g.theta_a, g.theta_b)
        GROUP BY 1, 2
    ),
    inter AS (
        SELECT a.source AS source_a, b.source AS source_b,
               CAST(count(*) AS BIGINT) AS n_inter
        FROM st a JOIN st b ON a.tok = b.tok AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT g.source_a, g.source_b,
           CAST(least(g.theta_a, g.theta_b) AS BIGINT) AS theta_ab,
           CAST(coalesce(c.n_common, 0) AS BIGINT) AS n_common,
           CAST(coalesce(c.n_common, 0) AS DOUBLE) * {_THETA_ONE_F}
               / CAST(least(g.theta_a, g.theta_b) AS DOUBLE) AS est_inter,
           CAST(coalesce(i.n_inter, 0) AS BIGINT) AS n_inter
    FROM grid g
    LEFT JOIN common c
      ON c.source_a = g.source_a AND c.source_b = g.source_b
    LEFT JOIN inter i
      ON i.source_a = g.source_a AND i.source_b = g.source_b
    """,
)
def q_theta_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch set INTERSECTION (Dasgupta et al., "Theta-Sketch
    Framework", 2016; the DataSketches model) over per-source token sets
    — the set-operation twin the KMV machinery generalizes to (VERDICT
    r05 item #7c).  Each source keeps its k=32 smallest 60-bit hashes
    plus threshold theta (the k-th smallest; 2^60 when the set is
    smaller than k); for a pair, theta_ab = min(theta_a, theta_b) and
    |A∩B| is estimated as (retained common hashes below theta_ab) *
    2^60 / theta_ab — the standard theta intersection rule.

    Everything stateful is exact integers (hv, theta, n_common), and the
    estimate is one exact double product (n_common * 2^60 — a power-of-2
    scaled small int, no rounding) followed by a single IEEE division —
    bit-identical across engines, so the whole sketch sits under the
    full hash gate; the exact intersection (distinct-token equi-join)
    rides along, making the sketch's error a verifiable column.

    Scale: per-source sketches are a key-partitioned window over the
    distinct-hash projection (WindowGroupLimit-bounded); the pairwise
    stage joins k-row SAMPLES (640 rows total here) on hv — sketch-sized
    work independent of corpus size, the reason theta sketches exist.
    The source-pair grid is the accepted broadcast-grid device."""
    from pyspark.sql import Window as W

    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    # Shared-base eager cuts (optimization round 12): the distinct
    # (source, token) projection feeds the hash/sketch pipeline AND both
    # sides of the exact set-op self-join (3 concurrent fact-scale
    # consumers), and the ranked-hash table feeds theta + the retained
    # sample — all inside one action, the eager-not-lazy shape; uncut,
    # the documents scan + token explode replayed per consumer (20
    # parquet scans in the intersection twin's plan).  theta is
    # per-source-tiny and re-joined 4x, so it gets the same cut.
    st = (
        docs.select("source", F.explode(F.split("text", " ")).alias("tok"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    h = st.select(
        "source",
        F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10)
        .cast("long")
        .alias("hv"),
    ).distinct()
    w_rank = W.partitionBy("source").orderBy(F.col("hv").asc())
    w_all = W.partitionBy("source")
    r = h.select(
        "source",
        "hv",
        F.row_number().over(w_rank).alias("rk"),
        F.count(F.lit(1)).over(w_all).alias("n_seen"),
    ).localCheckpoint(eager=True)
    theta = r.groupBy("source").agg(
        F.when(
            F.max("n_seen") >= _THETA_K,
            F.max(F.when(F.col("rk") == _THETA_K, F.col("hv"))),
        )
        .otherwise(F.lit(_THETA_ONE))
        .cast("long")
        .alias("theta")
    ).localCheckpoint(eager=True)
    smp = (
        r.join(F.broadcast(theta), "source")
        .where(F.col("hv") < F.col("theta"))
        .select("source", "hv")
    )
    grid = (
        theta.select(
            F.col("source").alias("source_a"), F.col("theta").alias("theta_a")
        )
        .crossJoin(
            F.broadcast(
                theta.select(
                    F.col("source").alias("source_b"),
                    F.col("theta").alias("theta_b"),
                )
            )
        )
        .where(F.col("source_a") < F.col("source_b"))
    )
    common = (
        smp.select(F.col("source").alias("source_a"), "hv")
        .join(smp.select(F.col("source").alias("source_b"), "hv"), "hv")
        .where(F.col("source_a") < F.col("source_b"))
        .join(F.broadcast(grid), ["source_a", "source_b"])
        .where(F.col("hv") < F.least("theta_a", "theta_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    inter = (
        st.select(F.col("source").alias("source_a"), "tok")
        .join(st.select(F.col("source").alias("source_b"), "tok"), "tok")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_inter"))
    )
    ncommon = F.coalesce(F.col("n_common"), F.lit(0))
    theta_ab = F.least("theta_a", "theta_b")
    return (
        grid.join(F.broadcast(common), ["source_a", "source_b"], "left")
        .join(F.broadcast(inter), ["source_a", "source_b"], "left")
        .select(
            "source_a",
            "source_b",
            theta_ab.cast("long").alias("theta_ab"),
            ncommon.cast("long").alias("n_common"),
            (
                ncommon.cast("double")
                * F.lit(float(_THETA_ONE))
                / theta_ab.cast("double")
            ).alias("est_inter"),
            F.coalesce(F.col("n_inter"), F.lit(0))
            .cast("long")
            .alias("n_inter"),
        )
    )


@query(
    "q_theta_anotb",
    oracle=f"""
    WITH st AS (
        SELECT DISTINCT source, tok FROM (
            SELECT source, unnest(string_split(text, ' ')) AS tok
            FROM documents)
    ),
    h AS (
        SELECT DISTINCT source,
               CAST(concat('0x', substring(md5(tok), 1, 15)) AS BIGINT) AS hv
        FROM st
    ),
    r AS (
        SELECT source, hv,
               row_number() OVER (PARTITION BY source ORDER BY hv ASC) AS rk,
               count(*) OVER (PARTITION BY source) AS n_seen
        FROM h
    ),
    theta AS (
        SELECT source,
               CAST(CASE WHEN max(n_seen) >= {_THETA_K}
                         THEN max(CASE WHEN rk = {_THETA_K} THEN hv END)
                         ELSE {_THETA_ONE} END AS BIGINT) AS theta
        FROM r GROUP BY source
    ),
    smp AS (
        SELECT r.source, r.hv FROM r JOIN theta t ON r.source = t.source
        WHERE r.hv < t.theta
    ),
    grid AS (
        SELECT a.source AS source_a, a.theta AS theta_a,
               b.source AS source_b, b.theta AS theta_b
        FROM theta a JOIN theta b ON a.source <> b.source
    ),
    only_a AS (
        SELECT g.source_a, g.source_b, CAST(count(*) AS BIGINT) AS n_only
        FROM grid g
        JOIN smp sa ON sa.source = g.source_a
        WHERE sa.hv < least(g.theta_a, g.theta_b)
          AND NOT EXISTS (SELECT 1 FROM smp sb
                          WHERE sb.source = g.source_b AND sb.hv = sa.hv)
        GROUP BY 1, 2
    ),
    ex AS (
        SELECT gg.source_a, gg.source_b,
               CAST(count(*) AS BIGINT) AS n_exact
        FROM grid gg
        JOIN st a ON a.source = gg.source_a
        LEFT JOIN st b ON b.source = gg.source_b AND b.tok = a.tok
        WHERE b.tok IS NULL
        GROUP BY 1, 2
    )
    SELECT g.source_a, g.source_b,
           CAST(least(g.theta_a, g.theta_b) AS BIGINT) AS theta_ab,
           CAST(coalesce(o.n_only, 0) AS BIGINT) AS n_only,
           CAST(coalesce(o.n_only, 0) AS DOUBLE) * {_THETA_ONE_F}
               / CAST(least(g.theta_a, g.theta_b) AS DOUBLE) AS est_anotb,
           CAST(coalesce(e.n_exact, 0) AS BIGINT) AS n_exact
    FROM grid g
    LEFT JOIN only_a o
      ON o.source_a = g.source_a AND o.source_b = g.source_b
    LEFT JOIN ex e
      ON e.source_a = g.source_a AND e.source_b = g.source_b
    """,
)
def q_theta_anotb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch A-NOT-B (set difference) — completes the
    DataSketches set-operation triad (union = KMV merge, intersection =
    q_theta_intersect, difference = this).  For each DIRECTED source
    pair, |A\\B| is estimated as the count of A-sample hashes below
    theta_ab = min(theta_a, theta_b) absent from B's sample, scaled by
    2^60/theta_ab.  The absent-from-B test is sound because B's sample
    retains EVERY B hash below theta_b >= theta_ab — a hash below
    theta_ab missing from it is genuinely not in B.

    Same exactness posture as the intersection twin: integer internals,
    one exact product + one IEEE division, exact per-pair difference
    (token anti-join) riding along; pairwise work is k-row samples."""
    from pyspark.sql import Window as W

    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    # Shared-base eager cuts (optimization round 12): the distinct
    # (source, token) projection feeds the hash/sketch pipeline AND both
    # sides of the exact set-op self-join (3 concurrent fact-scale
    # consumers), and the ranked-hash table feeds theta + the retained
    # sample — all inside one action, the eager-not-lazy shape; uncut,
    # the documents scan + token explode replayed per consumer (20
    # parquet scans in the intersection twin's plan).  theta is
    # per-source-tiny and re-joined 4x, so it gets the same cut.
    st = (
        docs.select("source", F.explode(F.split("text", " ")).alias("tok"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    h = st.select(
        "source",
        F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10)
        .cast("long")
        .alias("hv"),
    ).distinct()
    w_rank = W.partitionBy("source").orderBy(F.col("hv").asc())
    w_all = W.partitionBy("source")
    r = h.select(
        "source",
        "hv",
        F.row_number().over(w_rank).alias("rk"),
        F.count(F.lit(1)).over(w_all).alias("n_seen"),
    ).localCheckpoint(eager=True)
    theta = r.groupBy("source").agg(
        F.when(
            F.max("n_seen") >= _THETA_K,
            F.max(F.when(F.col("rk") == _THETA_K, F.col("hv"))),
        )
        .otherwise(F.lit(_THETA_ONE))
        .cast("long")
        .alias("theta")
    ).localCheckpoint(eager=True)
    smp = (
        r.join(F.broadcast(theta), "source")
        .where(F.col("hv") < F.col("theta"))
        .select("source", "hv")
    )
    grid = (
        theta.select(
            F.col("source").alias("source_a"), F.col("theta").alias("theta_a")
        )
        .crossJoin(
            F.broadcast(
                theta.select(
                    F.col("source").alias("source_b"),
                    F.col("theta").alias("theta_b"),
                )
            )
        )
        .where(F.col("source_a") != F.col("source_b"))
    )
    sa = smp.select(F.col("source").alias("source_a"), "hv")
    sb = smp.select(F.col("source").alias("source_b"), "hv")
    only_a = (
        grid.join(sa, "source_a")
        .where(F.col("hv") < F.least("theta_a", "theta_b"))
        .join(sb, ["source_b", "hv"], "left_anti")
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_only"))
    )
    ex = (
        grid.select("source_a", "source_b")
        .join(
            st.select(F.col("source").alias("source_a"), "tok"), "source_a"
        )
        .join(
            st.select(F.col("source").alias("source_b"), "tok"),
            ["source_b", "tok"],
            "left_anti",
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
    )
    nonly = F.coalesce(F.col("n_only"), F.lit(0))
    theta_ab = F.least("theta_a", "theta_b")
    return (
        grid.join(F.broadcast(only_a), ["source_a", "source_b"], "left")
        .join(F.broadcast(ex), ["source_a", "source_b"], "left")
        .select(
            "source_a",
            "source_b",
            theta_ab.cast("long").alias("theta_ab"),
            nonly.cast("long").alias("n_only"),
            (
                nonly.cast("double")
                * F.lit(float(_THETA_ONE))
                / theta_ab.cast("double")
            ).alias("est_anotb"),
            F.coalesce(F.col("n_exact"), F.lit(0))
            .cast("long")
            .alias("n_exact"),
        )
    )


# ---------------------------------------------------------------------------
# Bloom filter false-positive audit (round-8b)
# ---------------------------------------------------------------------------

_BF_M = 4096  # bits
_BF_K = 3  # hash functions


@query(
    "q_bloom_fpr",
    oracle=f"""
    WITH mem AS (
        SELECT c_custkey AS key FROM customer
        WHERE c_mktsegment = 'BUILDING'
    ),
    probe AS (
        SELECT c_custkey AS key FROM customer
        WHERE c_mktsegment <> 'BUILDING'
    ),
    hj AS (SELECT unnest(range(0, {_BF_K})) AS j),
    bits AS (
        SELECT DISTINCT
               CAST(concat('0x', substring(md5('b' || j || ':' || key),
                    1, 15)) AS BIGINT) % {_BF_M} AS bit
        FROM mem CROSS JOIN hj
    ),
    pb AS (
        SELECT key, j,
               CAST(concat('0x', substring(md5('b' || j || ':' || key),
                    1, 15)) AS BIGINT) % {_BF_M} AS bit
        FROM probe CROSS JOIN hj
    ),
    hits AS (
        SELECT p.key, CAST(count(b.bit) AS BIGINT) AS n_hit
        FROM pb p LEFT JOIN bits b USING (bit)
        GROUP BY p.key
    ),
    mb AS (
        SELECT m.key, j,
               CAST(concat('0x', substring(md5('b' || j || ':' || m.key),
                    1, 15)) AS BIGINT) % {_BF_M} AS bit
        FROM mem m CROSS JOIN hj
    ),
    mhits AS (
        SELECT p.key, CAST(count(b.bit) AS BIGINT) AS n_hit
        FROM mb p LEFT JOIN bits b USING (bit)
        GROUP BY p.key
    )
    SELECT CAST({_BF_M} AS BIGINT) AS m_bits,
           CAST({_BF_K} AS BIGINT) AS k_hashes,
           (SELECT CAST(count(*) AS BIGINT) FROM mem) AS n_members,
           (SELECT CAST(count(*) AS BIGINT) FROM bits) AS n_bits_set,
           (SELECT CAST(count(*) AS BIGINT) FROM mhits
            WHERE n_hit = {_BF_K}) AS n_members_positive,
           (SELECT CAST(count(*) AS BIGINT) FROM probe) AS n_probes,
           (SELECT CAST(count(*) AS BIGINT) FROM hits
            WHERE n_hit = {_BF_K}) AS n_false_positives,
           CAST((SELECT count(*) FROM hits WHERE n_hit = {_BF_K})
                * 1000000 // (SELECT count(*) FROM probe)
                AS BIGINT) AS fpr_ppm
    """,
)
def q_bloom_fpr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLOOM FILTER built from scratch and audited for its measured
    false-positive rate (Bloom 1970): k=3 md5-derived bit positions per
    key into an m=4096-bit space, membership = every position set.
    Reports the set-bit count, the zero-false-negative check (every
    member must test positive — the Bloom guarantee, hash-gated), and
    the measured FPR in ppm over the non-member probes — the number a
    pipeline compares against the m/k design point before shipping the
    filter to a join pruner (q_bloom_prune_join uses the engine's
    built-in; this one is bit-transparent to both engines).

    Scale: the bit table is bounded by m (KB-sized at any corpus
    cardinality — exactly why blooms ship as broadcast join pruners);
    build and probe are each one scan with a 3-row position expansion,
    and the verdict join is an equi-join on the bit index."""
    cust = load(spark, sf_dir, "customer")
    mem = cust.where(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("key")
    )
    probe = cust.where(F.col("c_mktsegment") != "BUILDING").select(
        F.col("c_custkey").alias("key")
    )
    hj = spark.range(_BF_K).select(F.col("id").alias("j"))

    bits = sketch.bloom_positions(mem, hj, _BF_M).select("bit").distinct()
    probe_hits = (
        sketch.bloom_positions(probe, hj, _BF_M)
        .join(bits.withColumn("present", F.lit(1)), "bit", "left")
        .groupBy("key")
        .agg(F.sum(F.coalesce(F.col("present"), F.lit(0))).alias("n_hit"))
    )
    member_hits = (
        sketch.bloom_positions(mem, hj, _BF_M)
        .join(bits.withColumn("present", F.lit(1)), "bit", "left")
        .groupBy("key")
        .agg(F.sum(F.coalesce(F.col("present"), F.lit(0))).alias("n_hit"))
    )
    # One Catalyst DAG: every count is a 1-row aggregate crossJoined
    # (broadcast) into the single output row — no driver-side actions.
    hit = F.when(F.col("n_hit") == _BF_K, 1).otherwise(0)
    stats = (
        mem.agg(F.count(F.lit(1)).cast("long").alias("n_members"))
        .crossJoin(
            F.broadcast(
                bits.agg(F.count(F.lit(1)).cast("long").alias("n_bits_set"))
            )
        )
        .crossJoin(
            F.broadcast(
                member_hits.agg(
                    F.sum(hit).cast("long").alias("n_members_positive")
                )
            )
        )
        .crossJoin(
            F.broadcast(
                probe.agg(F.count(F.lit(1)).cast("long").alias("n_probes"))
            )
        )
        .crossJoin(
            F.broadcast(
                probe_hits.agg(
                    F.sum(hit).cast("long").alias("n_false_positives")
                )
            )
        )
    )
    return stats.select(
        F.lit(_BF_M).cast("long").alias("m_bits"),
        F.lit(_BF_K).cast("long").alias("k_hashes"),
        "n_members",
        "n_bits_set",
        "n_members_positive",
        "n_probes",
        "n_false_positives",
        F.expr("(n_false_positives * 1000000) div n_probes")
        .cast("long")
        .alias("fpr_ppm"),
    )


# ---------------------------------------------------------------------------
# Flajolet-Martin / PCSA distinct sketch (round 9)
# ---------------------------------------------------------------------------

_FM_M = 64  # stochastic-averaging buckets


@query(
    "q_fm_sketch",
    oracle=f"""
    WITH h AS (
        SELECT DISTINCT event_type,
               CAST(concat('0x', substring(md5(CAST(user_id AS VARCHAR)),
                                           1, 15)) AS BIGINT) AS hv
        FROM events
    ),
    parts AS (
        SELECT event_type, hv % {_FM_M} AS bucket, hv // {_FM_M} AS v
        FROM h
    ),
    bm AS (
        SELECT event_type, bucket,
               bit_or(1::BIGINT << (CASE WHEN v = 0 THEN 62
                      ELSE length(bin(v & -v)) - 1 END)) AS bitmap
        FROM parts GROUP BY 1, 2
    )
    SELECT event_type,
           CAST(bucket AS BIGINT) AS bucket,
           CAST(bitmap AS BIGINT) AS bitmap,
           CAST(length(bin((bitmap + 1) & ~bitmap)) - 1 AS BIGINT)
               AS r_lowest_zero
    FROM bm
    """,
)
def q_fm_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flajolet-Martin / PCSA distinct-count sketch (Flajolet & Martin
    1985, "Probabilistic counting algorithms for data base
    applications" — the ORIGINAL bitmap sketch the HLL family
    descends from; completes the sketch lineage beside q_hll_registers
    / q_kmv_distinct / q_theta_*): per (event_type, bucket) the OR of
    ``1 << rho(h)`` bitmaps (rho = trailing-zero count of the hashed
    key) and the PCSA observable R = index of the lowest UNSET bit,
    whose mean over m=64 stochastic-averaging buckets estimates
    log2(n/m·phi).

    Everything is a pure integer bit trick shared by both engines:
    rho via ``length(bin(v & -v)) - 1`` (v=0 capped at 62 so the shift
    never reaches the sign bit), lowest-zero via ``bin((b+1) & ~b)``,
    and the bitmap itself is Spark's ``bit_or`` aggregate — map-side
    combinable, m·64 bits of state per group total, the classic
    one-pass-mergeable-sketch shape (a 100 TB scan carries 512 bytes
    per group per partition).

    The estimate-accuracy claim is pinned in tests (PCSA mean-R
    estimator lands within 25% of the true distinct count at sf0.01);
    the registered output stays integer-exact (bitmaps + R), so the
    full value-hash gate applies."""
    ev = rebalance_for_cpu(events(spark, sf_dir))
    h = ev.select(
        "event_type",
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10
        )
        .cast("long")
        .alias("hv"),
    ).distinct()
    parts = h.select(
        "event_type",
        (F.col("hv") % _FM_M).alias("bucket"),
        F.expr(f"hv div {_FM_M}").alias("v"),
    )
    bm = parts.groupBy("event_type", "bucket").agg(
        F.bit_or(
            F.expr(
                "shiftleft(1L, CASE WHEN v = 0 THEN 62 "
                "ELSE cast(length(bin(v & -v)) as int) - 1 END)"
            )
        ).alias("bitmap")
    )
    return bm.select(
        "event_type",
        F.col("bucket").cast("long").alias("bucket"),
        F.col("bitmap").cast("long").alias("bitmap"),
        (F.length(F.bin(F.expr("(bitmap + 1) & ~bitmap"))) - 1)
        .cast("long")
        .alias("r_lowest_zero"),
    )


@query(
    "q_ams_f2",
    oracle="""
    WITH f AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY user_id
    ),
    exact AS (
        SELECT CAST(sum(c) AS BIGINT) AS n_events,
               CAST(count(*) AS BIGINT) AS n_users,
               CAST(sum(CAST(c AS HUGEINT) * c) AS BIGINT) AS f2_exact
        FROM f
    ),
    est AS (
        SELECT j.j,
               CAST(sum(CASE WHEN CAST(concat('0x', substring(md5(
                          concat(CAST(f.user_id AS VARCHAR), ':',
                                 CAST(j.j AS VARCHAR))), 1, 15)) AS BIGINT)
                          % 2 = 0
                         THEN f.c ELSE -f.c END) AS BIGINT) AS z
        FROM f CROSS JOIN (
            SELECT * FROM (VALUES (1), (2), (3), (4), (5), (6), (7), (8),
                                  (9), (10), (11), (12), (13), (14), (15),
                                  (16)) v(j)
        ) j
        GROUP BY j.j
    ),
    m AS (
        SELECT CAST(sum(CAST(z AS HUGEINT) * z) AS BIGINT) AS sum_z2
        FROM est
    )
    SELECT e.n_events, e.n_users, e.f2_exact,
           CAST(m.sum_z2 // 16 AS BIGINT) AS f2_est,
           CASE WHEN e.f2_exact > 0 THEN
               CAST((m.sum_z2 // 16) * 1000000 // e.f2_exact AS BIGINT)
           ELSE NULL END AS ratio_ppm
    FROM exact e, m
    """,
)
def q_ams_f2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS SECOND-MOMENT SKETCH (Alon, Matias & Szegedy 1996) for the
    self-join size F₂ = Σf_u² of the user-activity stream — the
    classic ±1-sign estimator (16 independent estimators Z_j = Σf_u·s_j(u),
    F̂₂ = mean Z²), judged against the EXACT F₂ in the same plan so the
    ratio_ppm column IS the sketch-quality audit.  Signs come from the
    md5-int device (the q_hash_split posture), so both engines derive
    identical sign matrices from the same bytes — fully deterministic,
    full hash gate.

    Exactness: per-user counts and the signed sums Z_j are exact
    BIGINTs; the squares f_u²/Z² accumulate in DECIMAL(38,0) (Spark) /
    HUGEINT (DuckDB) — the r10-item-#2 convention for n²-scale terms —
    with BIGINT emission bounds in the ~10⁹-row class documented by
    that sweep.

    Scale: ONE user-keyed combinable agg builds the frequency vector;
    the 16-estimator expansion is a 16-row broadcast cross rolled up
    map-side (16 keys); both reductions are 1-row."""
    ev = load(spark, sf_dir, "events")
    f = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    # reused: exact F2 + 16 estimators — eager (concurrent agg branches)
    f = f.localCheckpoint(eager=True)
    dec = "decimal(38,0)"
    exact = f.agg(
        F.sum("c").cast("long").alias("n_events"),
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum(F.col("c").cast(dec) * F.col("c").cast(dec))
        .cast("long")
        .alias("f2_exact"),
    )
    js = spark.createDataFrame([(j,) for j in range(1, 17)], "j long")
    sign_src = F.concat(
        F.col("user_id").cast("string"), F.lit(":"), F.col("j").cast("string")
    )
    sgn = F.when(
        F.conv(F.substring(F.md5(sign_src), 1, 15), 16, 10).cast("long") % 2
        == 0,
        F.col("c"),
    ).otherwise(-F.col("c"))
    est = (
        f.crossJoin(F.broadcast(js))
        .groupBy("j")
        .agg(F.sum(sgn).cast("long").alias("z"))
    )
    m = est.agg(
        F.sum(F.col("z").cast(dec) * F.col("z").cast(dec)).alias("sum_z2")
    )
    return exact.crossJoin(F.broadcast(m)).select(
        "n_events",
        "n_users",
        "f2_exact",
        F.expr("CAST(sum_z2 div 16 AS BIGINT)").alias("f2_est"),
        F.when(
            F.col("f2_exact") > 0,
            F.expr(
                "CAST((sum_z2 div 16) * 1000000 div f2_exact AS BIGINT)"
            ),
        ).alias("ratio_ppm"),
    )
