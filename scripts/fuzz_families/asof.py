"""As-of join differential fuzzer — the engine's tagged-union +
running-window device vs DuckDB's NATIVE ``ASOF JOIN``.

The three registered as-of queries carry hand-written oracle SQL that
restates the semantics (range join + arg_min); this fuzzer instead pits
``operators/asof.asof_join`` against a genuinely INDEPENDENT
implementation — DuckDB's built-in ASOF JOIN operator — across seeded
random directions (backward / forward via the negated-timestamp trick),
tolerances (none, or 1 min..2 h as a row-local null-out), and left/right
subset predicates over the events table.  A mismatch is a real
semantics bug in the device (tie handling, null carry, direction
negation), not an oracle-authoring blind spot — the same shared-mental-
model risk the main diff family exists to cover, applied to the one
operator family with a native reference available.

Both sides dedupe the right input to one row per (key, ts) with the
greatest-id-wins rule the operator documents, so matches are
deterministic.  Every output column is an integer.

Run: python scripts/fuzz.py asof [n_seeds] [out.json]
"""

from __future__ import annotations

import pyspark.sql.functions as F

SF = "/root/testdata/sf0.01"
SEED_BASE = 0
TYPES = ["click", "purchase", "error", "signup"]


def case(rng, seed):
    c = {"direction": rng.choice(["backward", "forward"])}
    c["tolerance_us"] = (
        None if rng.random() < 0.4 else rng.randint(60, 7200) * 1_000_000
    )
    # left/right subset predicates; the right type may equal the left
    # one: a self-as-of is legal
    c["left_type"] = rng.choice(TYPES)
    c["right_type"] = rng.choice(TYPES)
    c["left_mod"] = None
    if rng.random() < 0.5:
        m = rng.choice([2, 3, 5])
        c["left_mod"] = (m, rng.randrange(m))
    c["right_min_cents"] = rng.randint(1000, 90000) if rng.random() < 0.5 else None
    return c


def _cents():
    return F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("long")


def render(spark, c):
    """(Spark DataFrame, DuckDB SQL) for one case."""
    from nomad_event_streamer_spark.operators.asof import asof_join
    from nomad_event_streamer_spark.tables import events

    direction, tol_us = c["direction"], c["tolerance_us"]
    l_sql = f"event_type = '{c['left_type']}'"
    l_col = F.col("event_type") == c["left_type"]
    if c["left_mod"]:
        m, k = c["left_mod"]
        l_sql += f" AND user_id % {m} = {k}"
        l_col = l_col & (F.col("user_id") % m == k)
    r_sql = f"event_type = '{c['right_type']}'"
    r_col = F.col("event_type") == c["right_type"]
    if c["right_min_cents"] is not None:
        r_sql += (
            " AND CAST(floor(value * 100.0 + 0.5) AS BIGINT)"
            f" >= {c['right_min_cents']}"
        )
        r_col = r_col & (_cents() >= c["right_min_cents"])

    ev = events(spark, SF)
    left = ev.where(l_col).select("event_id", "user_id", "ts_us")
    right = ev.where(r_col).select(
        "user_id", "ts_us", F.col("event_id").alias("rid"), _cents().alias("rv")
    )
    if direction == "forward":
        left = left.withColumn("jts", -F.col("ts_us"))
        right = right.withColumn("jts", -F.col("ts_us")).drop("ts_us")
    else:
        left = left.withColumn("jts", F.col("ts_us"))
        right = right.withColumnRenamed("ts_us", "jts")
    joined = asof_join(
        left, right, key="user_id", ts="jts", right_value="rv", right_id="rid"
    )
    if tol_us is not None:
        # Row-local null-out: |left.ts - right.ts| <= tol in real time.
        # The operator carries only (rid, rv), so the right ts comes from
        # a SECOND as-of over the same inputs that carries it as the value.
        with_rts = asof_join(
            left,
            right.withColumn(
                "rts", -F.col("jts") if direction == "forward" else F.col("jts")
            ),
            key="user_id",
            ts="jts",
            right_value="rts",
            right_id="rid",
        ).select("event_id", F.col("asof_rts").alias("rts"))
        joined = joined.join(with_rts, "event_id")
        dist = (
            F.col("rts") - F.col("ts_us")
            if direction == "forward"
            else F.col("ts_us") - F.col("rts")
        )
        in_tol = dist <= F.lit(tol_us)
        joined = joined.select(
            "event_id",
            "user_id",
            "ts_us",
            F.when(in_tol, F.col("asof_rid")).alias("asof_rid"),
            F.when(in_tol, F.col("asof_rv")).alias("asof_rv"),
        )
    else:
        joined = joined.select("event_id", "user_id", "ts_us", "asof_rid", "asof_rv")

    # DuckDB native ASOF JOIN
    cmp_op = ">=" if direction == "backward" else "<="
    if tol_us is not None:
        dist_sql = (
            "(l.ts_us - r.ts_us)" if direction == "backward" else "(r.ts_us - l.ts_us)"
        )
        tol_sel = (
            f"CASE WHEN r.ts_us IS NOT NULL AND {dist_sql} <= {tol_us} "
            "THEN r.rid END AS asof_rid, "
            f"CASE WHEN r.ts_us IS NOT NULL AND {dist_sql} <= {tol_us} "
            "THEN r.rv END AS asof_rv"
        )
    else:
        tol_sel = "r.rid AS asof_rid, r.rv AS asof_rv"
    sql = f"""
    WITH l AS (
        SELECT event_id, user_id, epoch_us(ts) AS ts_us
        FROM events WHERE {l_sql}
    ),
    r0 AS (
        SELECT user_id, epoch_us(ts) AS ts_us, event_id,
               CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS v
        FROM events WHERE {r_sql}
    ),
    r AS (
        SELECT user_id, ts_us, arg_max(v, event_id) AS rv,
               max(event_id) AS rid
        FROM r0 GROUP BY 1, 2
    )
    SELECT l.event_id, l.user_id, l.ts_us, {tol_sel}
    FROM l ASOF LEFT JOIN r
      ON l.user_id = r.user_id AND l.ts_us {cmp_op} r.ts_us
    """
    return joined, sql


def check(run, c):
    run.compare(*render(run.spark, c))
    return {"direction": c["direction"]}
