"""Differential query fuzzing vs DuckDB (VERDICT r02 item #3).

The hand-written oracles could share blind spots with the queries they
check (same author, same mental model).  This fuzzer generates seeded
random filter / aggregate / join / window / rollup / window-over-agg
queries over ``events`` / ``lineitem`` (+``orders``, +``customer`` for
the 3-table chain) from a bounded grammar, renders each query BOTH
as a PySpark DataFrame program (through the engine's own ``tables.load``
path) and as DuckDB SQL, and
hash-compares the results with the same normalization the verification
driver uses.

Float policy: every generated output expression is integer-exact
(BIGINT atoms, half-up cent quantization, integer CASE/greatest/mod
arithmetic), so a mismatch is an engine-semantics or loader bug, never
float noise.  Magnitudes are bounded by construction (atom ``hi`` bounds,
no atom*atom products) so Spark's ANSI overflow never fires.

Run: python scripts/fuzz.py diff [n_seeds] [out.json]
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession, Window

SF = "/root/testdata/sf0.01"
SEED_BASE = 0


# ---------------------------------------------------------------------------
# Dual-rendered expressions: one node -> (DuckDB SQL, PySpark Column)
# ---------------------------------------------------------------------------


@dataclass
class Ex:
    sql: str
    col: Column
    hi: float  # magnitude bound (abs), to keep sums within int64


def _binop(a: Ex, b: Ex, op: str, hi: float) -> Ex:
    return Ex(f"({a.sql} {op} {b.sql})", _COLOPS[op](a.col, b.col), hi)


_COLOPS: dict[str, Callable[[Column, Column], Column]] = {
    "+": lambda x, y: x + y,
    "-": lambda x, y: x - y,
    "*": lambda x, y: x * y,
    "%": lambda x, y: x % y,
}


@dataclass
class Pred:
    sql: str
    col: Column


# Atom spec: name -> (duckdb sql, spark column factory, hi bound)
# Spark side reads through tables.load, so events.ts is the canonical
# ns-epoch LONG there while DuckDB sees TIMESTAMP — the two renderings
# below are the engine-specific spellings of the SAME integer.
def _events_atoms() -> dict[str, tuple[str, Callable[[], Column], float]]:
    return {
        "event_id": ("event_id", lambda: F.col("event_id"), 2e6),
        "user_id": ("user_id", lambda: F.col("user_id"), 1e6),
        "val_cents": (
            "CAST(floor(value * 100.0 + 0.5) AS BIGINT)",
            lambda: F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast(
                "long"
            ),
            1e7,
        ),
        "tod_us": (
            "(epoch_us(ts) % 86400000000)",
            lambda: F.expr("(ts div 1000) % 86400000000"),
            8.7e10,
        ),
    }


def _lineitem_atoms() -> dict[str, tuple[str, Callable[[], Column], float]]:
    return {
        "l_orderkey": ("l_orderkey", lambda: F.col("l_orderkey"), 1e7),
        "l_partkey": ("l_partkey", lambda: F.col("l_partkey"), 1e7),
        "l_suppkey": ("l_suppkey", lambda: F.col("l_suppkey"), 1e6),
        "l_linenumber": ("l_linenumber", lambda: F.col("l_linenumber"), 8),
        "qty": (
            "CAST(floor(l_quantity) AS BIGINT)",
            lambda: F.floor(F.col("l_quantity")).cast("long"),
            64,
        ),
        "price_cents": (
            "CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)",
            lambda: F.floor(
                F.col("l_extendedprice") * F.lit(100.0) + F.lit(0.5)
            ).cast("long"),
            2e7,
        ),
        "ship_year": (
            "CAST(year(l_shipdate) AS BIGINT)",
            lambda: F.year(F.col("l_shipdate")).cast("long"),
            2200,
        ),
    }


def _orders_atoms() -> dict[str, tuple[str, Callable[[], Column], float]]:
    return {
        "o_custkey": ("o_custkey", lambda: F.col("o_custkey"), 1e7),
        "total_cents": (
            "CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)",
            lambda: F.floor(
                F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5)
            ).cast("long"),
            6e7,
        ),
        "order_year": (
            "CAST(year(o_orderdate) AS BIGINT)",
            lambda: F.year(F.col("o_orderdate")).cast("long"),
            2200,
        ),
    }


def _customer_atoms() -> dict[str, tuple[str, Callable[[], Column], float]]:
    # half-up cent quantization works identically for negative balances
    # (floor is toward -inf in both engines)
    return {
        "c_nationkey": ("c_nationkey", lambda: F.col("c_nationkey"), 32),
        "acct_cents": (
            "CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT)",
            lambda: F.floor(
                F.col("c_acctbal") * F.lit(100.0) + F.lit(0.5)
            ).cast("long"),
            2e6,
        ),
    }


STR_ATOMS = {
    "events": ["event_type"],
    "lineitem": ["l_returnflag", "l_linestatus"],
    "orders": ["o_orderstatus", "o_orderpriority"],
    "join": ["l_returnflag", "l_linestatus", "o_orderstatus", "o_orderpriority"],
    "fulljoin": [
        "l_returnflag",
        "l_linestatus",
        "o_orderstatus",
        "o_orderpriority",
    ],
    "join3": [
        "l_returnflag",
        "l_linestatus",
        "o_orderstatus",
        "o_orderpriority",
        "c_mktsegment",
    ],
}

INT_ATOMS = {
    "events": _events_atoms,
    "lineitem": _lineitem_atoms,
    "orders": _orders_atoms,
    "join": lambda: {**_lineitem_atoms(), **_orders_atoms()},
    "fulljoin": lambda: {**_lineitem_atoms(), **_orders_atoms()},
    "join3": lambda: {
        **_lineitem_atoms(),
        **_orders_atoms(),
        **_customer_atoms(),
    },
}

# Window order keys.  NOT unique: the synthetic lineitem has ~11.8k
# duplicate (l_orderkey, l_linenumber) pairs at sf0.01, so every window
# query ALSO appends the summed expression itself as the final ORDER BY
# tiebreak — tied rows then carry identical increments, which makes the
# running sum (and the rn/ws multiset) deterministic without needing a
# unique key at all.  (Seed 0 of this fuzzer caught exactly that
# order-dependence on its first run.)
UNIQUE_KEYS = {
    "events": ["event_id"],
    "lineitem": ["l_orderkey", "l_linenumber"],
    "join": ["l_orderkey", "l_linenumber"],
    "join3": ["l_orderkey", "l_linenumber"],
    "fulljoin": ["l_orderkey", "l_linenumber"],  # agg-only shape; unused
}


class Gen:
    """One seeded random query: builds the AST once, renders twice."""

    MAX_HI = 5e11  # keeps sum() over ~1e6 rows far from int64 edge

    def __init__(self, rng):
        self.rng = rng
        self.table = self.rng.choice(["events", "lineitem", "join", "join3"])
        self.atoms = INT_ATOMS[self.table]()
        self.shape = self.rng.choice(
            [
                "project",
                "agg",
                "agg",
                "window",
                "setop",
                "rollup",
                "aggwindow",
                "subquery",
                "outeragg",
            ]
        )
        # subquery shapes correlate lineitem against an orders subquery;
        # outeragg aggregates over a both-sides-thinned FULL OUTER join
        # (VERDICT r05 item #6 — the two untouched surfaces)
        if self.shape == "subquery":
            self.table = "lineitem"
            self.atoms = INT_ATOMS[self.table]()
        elif self.shape == "outeragg":
            self.table = "fulljoin"
            self.atoms = INT_ATOMS[self.table]()
        # the join table exercises both inner and left outer semantics
        self.join_type = self.rng.choice(["inner", "left"])

    # -- expressions --------------------------------------------------------

    def atom(self) -> Ex:
        name = self.rng.choice(sorted(self.atoms))
        sql, colf, hi = self.atoms[name]
        return Ex(sql, colf(), hi)

    def int_expr(self, depth: int = 0) -> Ex:
        if depth >= 2 or self.rng.random() < 0.35:
            return self.atom()
        kind = self.rng.choice(["add", "sub", "mulc", "mod", "case", "minmax"])
        a = self.int_expr(depth + 1)
        if kind == "mulc":
            c = self.rng.randint(2, 7)
            out = _binop(a, Ex(str(c), F.lit(c), c), "*", a.hi * c)
        elif kind == "mod":
            c = self.rng.choice([7, 13, 64, 97, 1000])
            out = _binop(a, Ex(str(c), F.lit(c), c), "%", c)
        elif kind == "case":
            p = self.pred(depth + 1)
            b = self.int_expr(depth + 1)
            out = Ex(
                f"(CASE WHEN {p.sql} THEN {a.sql} ELSE {b.sql} END)",
                F.when(p.col, a.col).otherwise(b.col),
                max(a.hi, b.hi),
            )
        elif kind == "minmax":
            b = self.int_expr(depth + 1)
            fn = self.rng.choice(["greatest", "least"])
            out = Ex(
                f"{fn}({a.sql}, {b.sql})",
                (F.greatest if fn == "greatest" else F.least)(a.col, b.col),
                max(a.hi, b.hi),
            )
        else:
            b = self.int_expr(depth + 1)
            out = _binop(a, b, "+" if kind == "add" else "-", a.hi + b.hi)
        return out if out.hi <= self.MAX_HI else self.atom()

    def str_atom(self) -> str:
        return self.rng.choice(STR_ATOMS[self.table])

    def pred(self, depth: int = 0) -> Pred:
        if depth < 2 and self.rng.random() < 0.3:
            a, b = self.pred(depth + 1), self.pred(depth + 1)
            op = self.rng.choice(["AND", "OR"])
            col = (a.col & b.col) if op == "AND" else (a.col | b.col)
            p = Pred(f"({a.sql} {op} {b.sql})", col)
            if self.rng.random() < 0.2:
                p = Pred(f"(NOT {p.sql})", ~p.col)
            return p
        if self.rng.random() < 0.4:
            name = self.str_atom()
            vals = self.str_values[name]
            mode = self.rng.choice(["eq", "in", "like"])
            if mode == "eq":
                v = self.rng.choice(vals + ["zz-miss"])
                return Pred(f"({name} = '{v}')", F.col(name) == v)
            if mode == "in":
                pick = self.rng.sample(vals, min(len(vals), self.rng.randint(1, 3)))
                quoted = ", ".join(f"'{v}'" for v in pick)
                return Pred(f"({name} IN ({quoted}))", F.col(name).isin(pick))
            v = self.rng.choice(vals)[:1]
            return Pred(f"({name} LIKE '{v}%')", F.col(name).like(f"{v}%"))
        e = self.int_expr(depth + 1)
        c = int(e.hi * self.rng.random())
        if self.rng.random() < 0.25:
            c2 = c + int(e.hi * self.rng.random() * 0.2)
            return Pred(
                f"({e.sql} BETWEEN {c} AND {c2})",
                (e.col >= c) & (e.col <= c2),
            )
        op = self.rng.choice(["<", "<=", "=", ">=", ">", "<>"])
        colops = {
            "<": e.col < c, "<=": e.col <= c, "=": e.col == c,
            ">=": e.col >= c, ">": e.col > c, "<>": e.col != c,
        }
        return Pred(f"({e.sql} {op} {c})", colops[op])

    # -- table rendering ----------------------------------------------------

    def _spark_base(self, spark: SparkSession, sf_dir: str) -> DataFrame:
        from nomad_event_streamer_spark.tables import load

        if self.table == "events":
            return load(spark, sf_dir, "events")
        if self.table == "lineitem":
            return load(spark, sf_dir, "lineitem")
        if self.table == "fulljoin":
            # both sides deterministically thinned so the full outer join
            # produces left-orphans AND right-orphans — aggregates then
            # run over genuinely nullable atoms from both sides
            li = load(spark, sf_dir, "lineitem").where(
                F.col("l_orderkey") % 5 != 0
            )
            orders = load(spark, sf_dir, "orders").where(
                F.col("o_orderkey") % 3 != 0
            )
            return li.join(
                orders, F.col("l_orderkey") == F.col("o_orderkey"), "full"
            )
        if self.table == "join3":
            # 3-table chain: the multi-join decimal-aggregate surface
            # (VERDICT r04 item #7).  The inner lineitem⋈orders link is
            # always tight; a "left" seed thins CUSTOMER so the second
            # hop exercises outer-null semantics through the c atoms.
            base = load(spark, sf_dir, "lineitem").join(
                load(spark, sf_dir, "orders"),
                F.col("l_orderkey") == F.col("o_orderkey"),
                "inner",
            )
            customer = load(spark, sf_dir, "customer")
            if self._join_type() == "left":
                customer = customer.where(F.col("c_custkey") % 3 != 0)
            return base.join(
                customer,
                F.col("o_custkey") == F.col("c_custkey"),
                self._join_type(),
            )
        orders = load(spark, sf_dir, "orders")
        if self._join_type() == "left":
            # every lineitem matches an order in TPC-H shapes, so a left
            # join only exercises null semantics if the right side is
            # thinned first (deterministic orphan filter)
            orders = orders.where(F.col("o_orderkey") % 3 != 0)
        return load(spark, sf_dir, "lineitem").join(
            orders,
            F.col("l_orderkey") == F.col("o_orderkey"),
            self._join_type(),
        )

    def _join_type(self) -> str:
        # NULL ordering defaults differ between the engines (Spark: NULLS
        # FIRST asc; DuckDB: NULLS LAST), and aggwindow's grouping keys
        # must be non-null for deterministic partition/order — both
        # window shapes stay inner.
        if self.shape in ("window", "aggwindow"):
            return "inner"
        return self.join_type

    def _sql_from(self) -> str:
        if self.table == "fulljoin":
            return (
                "(SELECT * FROM lineitem WHERE l_orderkey % 5 <> 0) l "
                "FULL JOIN (SELECT * FROM orders WHERE o_orderkey % 3 <> 0) o "
                "ON l_orderkey = o_orderkey"
            )
        if self.table == "join3":
            inner = "lineitem JOIN orders ON l_orderkey = o_orderkey"
            if self._join_type() == "left":
                return (
                    f"{inner} LEFT JOIN (SELECT * FROM customer "
                    "WHERE c_custkey % 3 <> 0) c "
                    "ON o_custkey = c_custkey"
                )
            return f"{inner} JOIN customer ON o_custkey = c_custkey"
        if self.table == "join":
            if self._join_type() == "left":
                return (
                    "lineitem LEFT JOIN (SELECT * FROM orders "
                    "WHERE o_orderkey % 3 <> 0) o "
                    "ON l_orderkey = o_orderkey"
                )
            return "lineitem JOIN orders ON l_orderkey = o_orderkey"
        return self.table

    def _orders_pred(self) -> Pred:
        """A predicate over orders atoms only (for the subquery body) —
        generated by temporarily retargeting the atom pools."""
        saved_atoms, saved_table = self.atoms, self.table
        self.atoms, self.table = _orders_atoms(), "orders"
        try:
            return self.pred()
        finally:
            self.atoms, self.table = saved_atoms, saved_table

    # -- query shapes -------------------------------------------------------

    def build(
        self, spark: SparkSession, sf_dir: str, str_values: dict[str, list[str]]
    ) -> tuple[DataFrame, str]:
        self.str_values = str_values
        where = self.pred()
        base = self._spark_base(spark, sf_dir).where(where.col)
        uniq = UNIQUE_KEYS[self.table]

        if self.shape == "subquery":
            # EXISTS / NOT EXISTS / IN / NOT IN over a correlated orders
            # subquery.  Spark renders the decorrelated plan directly
            # (left_semi / left_anti join — the shape Catalyst produces
            # for these subqueries); DuckDB parses the REAL subquery SQL
            # and decorrelates it itself, so the two engines reach the
            # semantics through independent machinery.  NOT IN is safe as
            # an anti join here because both key columns are non-null by
            # construction (TPC-H keys).  Half the exists-family seeds add
            # a second, non-equi correlated conjunct (orders atom vs outer
            # lineitem atom) — genuine correlation beyond the key.
            from nomad_event_streamer_spark.tables import load

            mode = self.rng.choice(["exists", "not_exists", "in", "not_in"])
            sub = self._orders_pred()
            orders = load(spark, sf_dir, "orders").where(sub.col)
            cond = F.col("l_orderkey") == F.col("o_orderkey")
            extra_sql = ""
            if mode in ("exists", "not_exists") and self.rng.random() < 0.5:
                oatoms = _orders_atoms()
                oa_sql, oa_colf, _ = oatoms[self.rng.choice(sorted(oatoms))]
                la_name = self.rng.choice(sorted(self.atoms))
                la_sql, la_colf, _ = self.atoms[la_name]
                op = self.rng.choice(["<", "<=", ">", ">="])
                colops = {
                    "<": oa_colf() < la_colf(),
                    "<=": oa_colf() <= la_colf(),
                    ">": oa_colf() > la_colf(),
                    ">=": oa_colf() >= la_colf(),
                }
                cond = cond & colops[op]
                extra_sql = f" AND ({oa_sql} {op} {la_sql})"
            how = "left_semi" if mode in ("exists", "in") else "left_anti"
            filtered = base.join(orders, cond, how)
            if mode in ("exists", "not_exists"):
                neg = "NOT " if mode == "not_exists" else ""
                cond_sql = (
                    f"{neg}EXISTS (SELECT 1 FROM orders "
                    f"WHERE o_orderkey = l_orderkey AND {sub.sql}{extra_sql})"
                )
            else:
                neg = "NOT " if mode == "not_in" else ""
                cond_sql = (
                    f"l_orderkey {neg}IN "
                    f"(SELECT o_orderkey FROM orders WHERE {sub.sql})"
                )
            if self.rng.random() < 0.5:
                # aggregate over the subquery survivors
                s_expr = self.int_expr()
                df = filtered.groupBy(
                    F.col("l_linenumber").alias("k0")
                ).agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(s_expr.col).alias("s"),
                )
                sql = (
                    f"SELECT l_linenumber AS k0, count(*) AS n, "
                    f"CAST(sum({s_expr.sql}) AS BIGINT) AS s "
                    f"FROM lineitem WHERE {where.sql} AND {cond_sql} "
                    f"GROUP BY l_linenumber"
                )
                return df, sql
            exprs = [self.int_expr() for _ in range(self.rng.randint(1, 2))]
            cols = [F.col(k) for k in uniq] + [
                e.col.alias(f"c{i}") for i, e in enumerate(exprs)
            ]
            sels = list(uniq) + [
                f"{e.sql} AS c{i}" for i, e in enumerate(exprs)
            ]
            sql = (
                f"SELECT {', '.join(sels)} FROM lineitem "
                f"WHERE {where.sql} AND {cond_sql}"
            )
            return filtered.select(*cols), sql

        if self.shape == "project":
            exprs = [self.int_expr() for _ in range(self.rng.randint(1, 3))]
            cols = [F.col(k) for k in uniq] + [
                e.col.alias(f"c{i}") for i, e in enumerate(exprs)
            ]
            sels = list(uniq) + [
                f"{e.sql} AS c{i}" for i, e in enumerate(exprs)
            ]
            sql = (
                f"SELECT {', '.join(sels)} FROM {self._sql_from()} "
                f"WHERE {where.sql}"
            )
            return base.select(*cols), sql

        if self.shape == "setop":
            exprs = [self.int_expr() for _ in range(self.rng.randint(1, 2))]
            where2 = self.pred()
            # DISTINCT and ALL (multiset) variants both fuzzed: bag
            # semantics (intersect_all/except_all keep min/diff of
            # multiplicities) is a subtle surface the distinct ops
            # never touch.
            op = self.rng.choice(
                ["union", "intersect", "except", "intersect_all", "except_all"]
            )
            cols = [e.col.alias(f"c{i}") for i, e in enumerate(exprs)]
            sels = ", ".join(f"{e.sql} AS c{i}" for i, e in enumerate(exprs))
            base2 = self._spark_base(spark, sf_dir).where(where2.col)
            d1, d2 = base.select(*cols), base2.select(*cols)
            if op == "union":
                df = d1.union(d2).distinct()
            elif op == "intersect":
                df = d1.intersect(d2)  # INTERSECT DISTINCT semantics
            elif op == "except":
                df = d1.subtract(d2)  # EXCEPT DISTINCT semantics
            elif op == "intersect_all":
                df = d1.intersectAll(d2)
            else:
                df = d1.exceptAll(d2)
            kw = {
                "union": "UNION",
                "intersect": "INTERSECT",
                "except": "EXCEPT",
                "intersect_all": "INTERSECT ALL",
                "except_all": "EXCEPT ALL",
            }
            sql = (
                f"SELECT {sels} FROM {self._sql_from()} WHERE {where.sql} "
                f"{kw[op]} "
                f"SELECT {sels} FROM {self._sql_from()} WHERE {where2.sql}"
            )
            return df, sql

        if self.shape == "window":
            pk = self.atom()
            k = self.rng.choice([7, 13, 64])
            we = self.int_expr()
            if self.rng.random() < 0.3:
                # RANGE frame over a (non-unique) integer order key: the
                # running sum includes the WHOLE peer group of the current
                # value, so it is order-independent by construction — no
                # tiebreak needed, and duplicate order values are exactly
                # what it exercises.
                ok = self.atom()
                w = (
                    Window.partitionBy(pk.col % k)
                    .orderBy(ok.col.asc())
                    .rangeBetween(Window.unboundedPreceding, Window.currentRow)
                )
                df = base.select(
                    *[F.col(u) for u in uniq],
                    (pk.col % k).alias("pk"),
                    ok.col.alias("ok"),
                    F.sum(we.col).over(w).alias("ws"),
                )
                sql = (
                    f"SELECT {', '.join(uniq)}, ({pk.sql} % {k}) AS pk, "
                    f"{ok.sql} AS ok, "
                    f"CAST(sum({we.sql}) OVER (PARTITION BY ({pk.sql} % {k}) "
                    f"ORDER BY {ok.sql} "
                    f"RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) "
                    f"AS BIGINT) AS ws "
                    f"FROM {self._sql_from()} WHERE {where.sql}"
                )
                return df, sql
            # order keys are non-unique (see UNIQUE_KEYS note): append the
            # summed expression as the final tiebreak so tied rows have
            # identical increments and the prefix sum is order-independent.
            order_cols = [F.col(u).asc() for u in uniq] + [we.col.asc()]
            order_sql = ", ".join(uniq + [we.sql])
            w = (
                Window.partitionBy(pk.col % k)
                .orderBy(*order_cols)
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            df = base.select(
                *[F.col(u) for u in uniq],
                (pk.col % k).alias("pk"),
                F.row_number().over(
                    Window.partitionBy(pk.col % k).orderBy(*order_cols)
                ).alias("rn"),
                F.sum(we.col).over(w).alias("ws"),
            )
            sql = (
                f"SELECT {', '.join(uniq)}, ({pk.sql} % {k}) AS pk, "
                f"row_number() OVER (PARTITION BY ({pk.sql} % {k}) "
                f"ORDER BY {order_sql}) AS rn, "
                f"CAST(sum({we.sql}) OVER (PARTITION BY ({pk.sql} % {k}) "
                f"ORDER BY {order_sql} "
                f"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) "
                f"AS BIGINT) AS ws "
                f"FROM {self._sql_from()} WHERE {where.sql}"
            )
            return df, sql

        if self.shape == "rollup":
            # GROUP BY ROLLUP over two bounded integer keys: exercises the
            # multi-grouping NULL group markers (subtotal + grand-total
            # rows) the fixed oracles share but the other shapes never
            # generate.  Keys are non-null int exprs, so every NULL in the
            # output IS a rollup marker — any marker-semantics divergence
            # between engines breaks the hash.
            #
            # Known engine divergence THIS SHAPE FOUND (first 40-seed run,
            # 2 hits): on EMPTY input, DuckDB follows the SQL standard and
            # still emits the grand-total () grouping-set row (n=0, s=NULL)
            # while Spark returns zero rows (both DataFrame rollup and SQL
            # GROUP BY ROLLUP).  n=0 is impossible for any non-degenerate
            # group (per-group count >= 1), so `HAVING count(*) > 0`
            # removes exactly that row on both sides without touching the
            # marker semantics under test.
            # Second divergence this shape found (seed 87, first 200-seed
            # run): ROLLUP(e, e) with the SAME expression twice — in the
            # middle grouping set (e), Spark emits NULL for the second
            # position (positional marker semantics, consistent with its
            # grouping_id) while DuckDB binds both output references to
            # the one still-grouped expression and emits its value.  A
            # dark-corner ambiguity in the standard; avoided by requiring
            # textually distinct key expressions.
            keys = []
            for i in range(2):
                a = self.atom()
                k = self.rng.choice([7, 13, 64])
                if keys and f"({a.sql} % {k})" == keys[0][0]:
                    sql_expr = f"(({a.sql} % {k}) + 1)"
                    keys.append((sql_expr, (a.col % k) + 1, f"k{i}"))
                else:
                    keys.append((f"({a.sql} % {k})", a.col % k, f"k{i}"))
            s_expr = self.int_expr()
            key_cols = [c.alias(al) for _, c, al in keys]
            df = (
                base.rollup(*key_cols)
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(s_expr.col).alias("s"),
                )
                .where(F.col("n") > 0)
            )
            key_sel = ", ".join(f"{s} AS {al}" for s, _, al in keys)
            group_by = ", ".join(s for s, _, _ in keys)
            sql = (
                f"SELECT {key_sel}, count(*) AS n, "
                f"CAST(sum({s_expr.sql}) AS BIGINT) AS s "
                f"FROM {self._sql_from()} WHERE {where.sql} "
                f"GROUP BY ROLLUP ({group_by}) HAVING count(*) > 0"
            )
            return df, sql

        if self.shape == "aggwindow":
            # window-over-aggregate-over-join (VERDICT r04 item #7): rank
            # and running sum across the GROUPS of a two-key aggregate.
            # After GROUP BY (k0, k1) the pairs are unique, so within a
            # k0 partition the k1 values are distinct → row_number and
            # the rows-frame prefix sum are deterministic without any
            # extra tiebreak.  Keys must be textually distinct (same
            # dark corner as rollup); join bases are forced inner so
            # keys are non-null.
            keys: list[tuple[str, Column, str]] = []
            for i in range(2):
                if self.rng.random() < 0.5:
                    name = self.str_atom()
                    if keys and name == keys[0][0]:
                        a = self.atom()
                        keys.append((f"({a.sql} % 13)", a.col % 13, f"k{i}"))
                    else:
                        keys.append((name, F.col(name), f"k{i}"))
                else:
                    a = self.atom()
                    k = self.rng.choice([7, 13, 64, 97])
                    if keys and f"({a.sql} % {k})" == keys[0][0]:
                        keys.append(
                            (f"(({a.sql} % {k}) + 1)", (a.col % k) + 1, f"k{i}")
                        )
                    else:
                        keys.append((f"({a.sql} % {k})", a.col % k, f"k{i}"))
            s_expr = self.int_expr()
            key_cols = [c.alias(al) for _, c, al in keys]
            inner = base.groupBy(*key_cols).agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(s_expr.col).alias("s"),
            )
            wp = Window.partitionBy("k0").orderBy(F.col("k1").asc())
            df = inner.select(
                "k0",
                "k1",
                "n",
                "s",
                F.row_number().over(wp).alias("rn"),
                F.sum("s")
                .over(
                    wp.rowsBetween(Window.unboundedPreceding, Window.currentRow)
                )
                .alias("ws"),
            )
            key_sel = ", ".join(f"{s} AS {al}" for s, _, al in keys)
            group_by = ", ".join(s for s, _, _ in keys)
            sql = (
                f"SELECT k0, k1, n, s, "
                f"row_number() OVER (PARTITION BY k0 ORDER BY k1) AS rn, "
                f"CAST(sum(s) OVER (PARTITION BY k0 ORDER BY k1 "
                f"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) "
                f"AS BIGINT) AS ws "
                f"FROM (SELECT {key_sel}, count(*) AS n, "
                f"CAST(sum({s_expr.sql}) AS BIGINT) AS s "
                f"FROM {self._sql_from()} WHERE {where.sql} "
                f"GROUP BY {group_by}) g"
            )
            return df, sql

        # agg (default, double-weighted)
        n_keys = self.rng.randint(1, 2)
        keys: list[tuple[str, Column, str]] = []  # (sql, col, alias)
        for i in range(n_keys):
            if self.rng.random() < 0.5:
                name = self.str_atom()
                keys.append((name, F.col(name), f"k{i}"))
            else:
                a = self.atom()
                k = self.rng.choice([7, 13, 64, 97])
                keys.append((f"({a.sql} % {k})", a.col % k, f"k{i}"))
        s_expr = self.int_expr()
        mn_expr = self.int_expr()
        dist_name = self.rng.choice(sorted(self.atoms))
        dist_sql, dist_colf, _ = self.atoms[dist_name]
        aggs_spark = [
            F.count(F.lit(1)).alias("n"),
            F.sum(s_expr.col).alias("s"),
            F.min(mn_expr.col).alias("mn"),
            F.max(mn_expr.col).alias("mx"),
            F.countDistinct(dist_colf()).alias("cd"),
        ]
        key_cols = [c.alias(a) for _, c, a in keys]
        df = base.groupBy(*key_cols).agg(*aggs_spark)
        key_sel = ", ".join(f"{s} AS {a}" for s, _, a in keys)
        group_by = ", ".join(s for s, _, _ in keys)
        having_sql = ""
        if self.rng.random() < 0.4:
            # HAVING over post-aggregate values: exercises the
            # filter-above-aggregate surface the fixed oracles use but
            # the fuzzer never generated before round 5
            hc = self.rng.randint(1, 40)
            hop = self.rng.choice([">", ">=", "<>"])
            df = df.where(
                {
                    ">": F.col("n") > hc,
                    ">=": F.col("n") >= hc,
                    "<>": F.col("n") != hc,
                }[hop]
            )
            having_sql = f" HAVING count(*) {hop} {hc}"
        sql = (
            f"SELECT {key_sel}, count(*) AS n, "
            f"CAST(sum({s_expr.sql}) AS BIGINT) AS s, "
            f"min({mn_expr.sql}) AS mn, max({mn_expr.sql}) AS mx, "
            f"count(DISTINCT {dist_sql}) AS cd "
            f"FROM {self._sql_from()} WHERE {where.sql} GROUP BY {group_by}"
            f"{having_sql}"
        )
        return df, sql


def str_value_pool(con) -> dict[str, list[str]]:
    pool = {}
    for table, names in (
        ("events", ["event_type"]),
        ("lineitem", ["l_returnflag", "l_linestatus"]),
        ("orders", ["o_orderstatus", "o_orderpriority"]),
        ("customer", ["c_mktsegment"]),
    ):
        for name in names:
            pool[name] = [
                r[0]
                for r in con.execute(
                    f"SELECT DISTINCT {name} FROM {table} "
                    f"WHERE {name} IS NOT NULL ORDER BY 1 LIMIT 20"
                ).fetchall()
            ]
    return pool


def setup(run):
    return str_value_pool(run.con)


def case(rng, seed):
    gen = Gen(rng)
    return {"table": gen.table, "shape": gen.shape, "_gen": gen}


def check(run, case):
    df, case["sql"] = case["_gen"].build(run.spark, SF, run.state)
    run.compare(df, case["sql"])
    return {"shape": case["shape"], "table": case["table"]}
