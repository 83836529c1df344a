"""Differential fuzz for the round-7 SQL-surface family: recursive
CTEs, LATERAL correlated top-k, and null-safe joins.

Unlike the diff family (dual-rendered DataFrame-vs-SQL), every seed here
builds ONE SQL string and runs the IDENTICAL text on Spark 4's SQL
front end and on DuckDB — the strongest possible differential, since
there is no per-engine rendering step to share a bug with.  Spark temp
views are registered under the same names DuckDB's driver views use.

Shapes (seeded random):
- recursive_graph: WITH RECURSIVE reachability over the 25-node
  nation trade graph (precomputed once per engine): random 1-3 seed
  nations, hop bound 1-4, forward or REVERSED edge direction, min-hop
  + path-count aggregate.
- recursive_series: WITH RECURSIVE arithmetic iteration — random
  length 5-40, multiplier/modulus, sum/max aggregate; exercises the
  recursion operator's per-step expression evaluation.
- lateral_topk: random customer-segment filter, k in 1-5, order
  column (price cents / date / key), ASC or DESC, unique tiebreak.
- lateral_agg (r08): correlated LATERAL aggregate (count + sum/max
  cents over a random date bound) — the decorrelate-to-grouped-join
  path, vs DuckDB's nested-loop LATERAL.
- nullsafe_join: random modulus 3-11 and folded residue for the
  nullif bucket, IS NOT DISTINCT FROM join of two pre-aggregated
  sides (customer x supplier).

All outputs are BIGINT/strings (cents quantization for prices), so a
mismatch is an engine-semantics bug, never float noise.

Run: python scripts/fuzz.py sql_surface [n_seeds] [out.json]
"""

from __future__ import annotations

SF = "/root/testdata/sf0.01"
SEED_BASE = 0
TABLES = ("nation", "customer", "supplier", "orders", "lineitem")

_EDGES_SQL = """
    SELECT DISTINCT sn.n_name AS src, cn.n_name AS dst
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation sn ON sn.n_nationkey = s.s_nationkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation cn ON cn.n_nationkey = c.c_nationkey
"""


def gen_sql(rng) -> tuple[str, str]:
    """Return (shape, sql) for one seed."""
    shape = rng.choice(
        [
            "recursive_graph",
            "recursive_series",
            "lateral_topk",
            "lateral_agg",
            "nullsafe_join",
        ]
    )
    if shape == "recursive_graph":
        # Respect Spark's default recursion row-limit guard
        # (spark.sql.cteRecursionRowLimit = 1e6): the dense 25-node
        # graph grows ~n_seeds * 25^bound path rows, so hop bound 4 is
        # only in-budget from a single seed (25^4 = 390k); 3 seeds at
        # bound 4 (1.17M) correctly trips the engine guard — found by
        # this fuzzer's first sweep, kept out of the grammar since the
        # guard firing is the engine working as designed.
        bound = rng.randint(1, 4)
        n_seeds = 1 if bound == 4 else rng.randint(1, 3)
        seeds = sorted(rng.sample(range(25), n_seeds))
        seed_list = ", ".join(f"'NATION_{i}'" for i in seeds)
        src, dst = ("src", "dst") if rng.random() < 0.5 else ("dst", "src")
        sql = f"""
            WITH RECURSIVE reach(node, hop) AS (
                SELECT n_name, 0 FROM nation WHERE n_name IN ({seed_list})
                UNION ALL
                SELECT e.{dst}, r.hop + 1
                FROM reach r JOIN trade_edges e ON e.{src} = r.node
                WHERE r.hop < {bound}
            )
            SELECT node, CAST(min(hop) AS BIGINT) AS hops,
                   CAST(count(*) AS BIGINT) AS n_paths
            FROM reach GROUP BY node
        """
    elif shape == "recursive_series":
        # r08 deepening (VERDICT r07 item #5): lengths up to 95 steps
        # exercise the recursion operator well past the prior 40-step
        # ceiling while respecting Spark's default recursion LEVEL
        # guard (spark.sql.cteRecursionLevelLimit = 100): the first
        # 240-seed sweep at lengths <= 120 tripped
        # RECURSION_LEVEL_LIMIT_EXCEEDED on every length > 100 — the
        # engine guard firing as designed (the per-step semantics are
        # what this shape tests; raising the limit needs Spark-only
        # `MAX RECURSION LEVEL` syntax, which would break the
        # identical-text discipline).
        length = rng.randint(5, 95)
        mult = rng.randint(2, 9)
        mod = rng.choice([97, 101, 1009, 9973])
        a0 = rng.randint(1, mod - 1)
        sql = f"""
            WITH RECURSIVE t(n, acc) AS (
                SELECT 1, CAST({a0} AS BIGINT)
                UNION ALL
                SELECT n + 1, (acc * {mult}) % {mod} FROM t
                WHERE n < {length}
            )
            SELECT CAST(max(n) AS BIGINT) AS steps,
                   CAST(sum(acc) AS BIGINT) AS acc_sum,
                   CAST(max(acc) AS BIGINT) AS acc_max
            FROM t
        """
    elif shape == "lateral_topk":
        seg = rng.choice(
            ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]
        )
        # r08 deepening: k widened from 1-3 to 1-5
        k = rng.randint(1, 5)
        order_expr = rng.choice(
            [
                "CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)",
                "o_orderdate",
                "o_orderkey",
            ]
        )
        direction = rng.choice(["ASC", "DESC"])
        sql = f"""
            SELECT c.c_custkey, t.o_orderkey, t.price_cents
            FROM (SELECT c_custkey FROM customer
                  WHERE c_mktsegment = '{seg}') c,
            LATERAL (SELECT o_orderkey,
                            CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)
                                AS price_cents
                     FROM orders o WHERE o.o_custkey = c.c_custkey
                     ORDER BY {order_expr} {direction}, o_orderkey
                     LIMIT {k}) t
        """
    elif shape == "lateral_agg":
        # r08 addition: correlated LATERAL AGGREGATE (no LIMIT) — the
        # decorrelation path Catalyst rewrites to a grouped join rather
        # than a ranked window; random segment filter, random aggregate
        # pair, random date lower bound.  Identical text on DuckDB's
        # nested-loop LATERAL.
        seg = rng.choice(
            ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]
        )
        year = rng.randint(1992, 1997)
        aggs = rng.choice(
            [
                (
                    "CAST(count(*) AS BIGINT)",
                    "CAST(coalesce(sum(CAST(floor(o_totalprice * 100.0 + 0.5)"
                    " AS BIGINT)), 0) AS BIGINT)",
                ),
                (
                    "CAST(count(*) AS BIGINT)",
                    "CAST(coalesce(max(CAST(floor(o_totalprice * 100.0 + 0.5)"
                    " AS BIGINT)), 0) AS BIGINT)",
                ),
            ]
        )
        sql = f"""
            SELECT c.c_custkey, t.n_orders, t.cents_agg
            FROM (SELECT c_custkey FROM customer
                  WHERE c_mktsegment = '{seg}') c,
            LATERAL (SELECT {aggs[0]} AS n_orders,
                            {aggs[1]} AS cents_agg
                     FROM orders o
                     WHERE o.o_custkey = c.c_custkey
                       AND o.o_orderdate >= DATE '{year}-01-01') t
        """
    else:  # nullsafe_join
        mod = rng.choice([3, 5, 7, 11])
        fold = rng.randint(0, mod - 1)
        sql = f"""
            WITH ca AS (SELECT nullif(c_nationkey % {mod}, {fold}) AS bucket,
                               count(*) AS c_cnt
                        FROM customer GROUP BY 1),
                 sa AS (SELECT nullif(s_nationkey % {mod}, {fold}) AS sbucket,
                               count(*) AS s_cnt
                        FROM supplier GROUP BY 1)
            SELECT CAST(ca.bucket AS BIGINT) AS bucket, c_cnt, s_cnt
            FROM ca JOIN sa ON ca.bucket IS NOT DISTINCT FROM sa.sbucket
        """
    return shape, sql


def setup(run):
    from nomad_event_streamer_spark.tables import load

    for t in TABLES:
        load(run.spark, SF, t).createOrReplaceTempView(t)
    # Materialize the trade graph once per engine; the recursion itself
    # is then instant per seed (25-node graph).
    run.spark.sql(f"CACHE TABLE trade_edges AS {_EDGES_SQL}")
    run.con.execute(f"CREATE TABLE trade_edges AS {_EDGES_SQL}")


def case(rng, seed):
    shape, sql = gen_sql(rng)
    return {"shape": shape, "sql": sql}


def check(run, c):
    run.compare(run.spark.sql(c["sql"]), c["sql"])
    return {"shape": c["shape"]}
