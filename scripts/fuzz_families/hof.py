"""Differential fuzz for the higher-order-function surface
(q_hof_reduce's family): seeded random lambda-expression chains over
the quantized embedding arrays, DUAL-RENDERED — Spark's transform /
filter / reverse / slice / array_sort / aggregate / exists against
DuckDB's independent list-function engine (list_transform /
list_filter / list_reverse / slicing / list_sort / list_aggregate) —
and hash-compared with the driver's normalization.

Everything is integer: vectors quantize to milli ints up front, affine
map coefficients are small, and every reduction lands in BIGINT, so a
mismatch is a lambda-semantics bug (ordering, clamping, empty-array,
null-fold), never float noise.  Slice clamping, empty-after-filter
reductions, and sort-then-head are exactly the edges the fixed
q_hof_reduce oracle cannot sweep.

Run: python scripts/fuzz.py hof [n_seeds] [out.json]
"""

from __future__ import annotations

SF = "/root/testdata/sf0.01"
SEED_BASE = 0

_QV_SPARK = (
    "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0 + 0.5)"
    " AS BIGINT))"
)
_QV_DUCK = (
    "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0"
    " + 0.5) AS BIGINT))"
)


def gen_chain(rng) -> tuple[str, str, str]:
    """Return (shape_label, spark_expr, duck_expr) over alias V."""
    sp, dk = _QV_SPARK, _QV_DUCK
    labels = []
    for _ in range(rng.randint(1, 3)):
        op = rng.choice(["affine", "filt_mod", "filt_thresh", "rev", "slice", "sort"])
        labels.append(op)
        if op == "affine":
            a = rng.choice([-3, -2, 2, 3, 5, 7])
            b = rng.randint(-2000, 2000)
            sp = f"transform({sp}, x -> x * {a}L + {b}L)"
            dk = f"list_transform({dk}, x -> x * {a} + {b})"
        elif op == "filt_mod":
            m = rng.choice([2, 3, 5, 7])
            r = rng.randint(0, m - 1)
            sp = f"filter({sp}, x -> abs(x) % {m}L = {r}L)"
            dk = f"list_filter({dk}, x -> abs(x) % {m} = {r})"
        elif op == "filt_thresh":
            t = rng.randint(-1500, 1500)
            cmp_ = rng.choice([">", "<", ">=", "<="])
            sp = f"filter({sp}, x -> x {cmp_} {t}L)"
            dk = f"list_filter({dk}, x -> x {cmp_} {t})"
        elif op == "rev":
            sp = f"reverse({sp})"
            dk = f"list_reverse({dk})"
        elif op == "slice":
            k = rng.randint(1, 80)  # > 64 exercises clamping
            sp = f"slice({sp}, 1, {k})"
            dk = f"({dk})[1:{k}]"
        else:  # sort
            sp = f"array_sort({sp})"
            dk = f"list_sort({dk})"
    red = rng.choice(["sum", "size", "maxg", "ming", "exists", "head"])
    labels.append(red)
    if red == "sum":
        sp = f"aggregate({sp}, CAST(0 AS BIGINT), (acc, x) -> acc + x)"
        dk = f"coalesce(list_aggregate({dk}, 'sum'), 0)"
    elif red == "size":
        sp = f"CAST(size({sp}) AS BIGINT)"
        dk = f"CAST(len({dk}) AS BIGINT)"
    elif red in ("maxg", "ming"):
        f = "max" if red == "maxg" else "min"
        sp = (
            f"CASE WHEN size({sp}) = 0 THEN -999999 "
            f"ELSE array_{f}({sp}) END"
        )
        dk = (
            f"CASE WHEN len({dk}) = 0 THEN -999999 "
            f"ELSE list_aggregate({dk}, '{f}') END"
        )
    elif red == "exists":
        t = rng.randint(-500, 500)
        sp = f"CASE WHEN exists({sp}, x -> x > {t}L) THEN 1 ELSE 0 END"
        dk = (
            f"CASE WHEN len(list_filter({dk}, x -> x > {t})) > 0 "
            "THEN 1 ELSE 0 END"
        )
    else:  # head: first element after the chain (clamp-safe)
        sp = (
            f"CASE WHEN size({sp}) = 0 THEN -999999 "
            f"ELSE element_at({sp}, 1) END"
        )
        dk = f"coalesce(({dk})[1], -999999)"
    return "+".join(labels), sp, dk


def setup(run):
    from nomad_event_streamer_spark.tables import load

    load(run.spark, SF, "embeddings").createOrReplaceTempView("embeddings")


def case(rng, seed):
    chain, sp, dk = gen_chain(rng)
    return {
        "chain": chain,
        "spark_sql": f"SELECT vec_id, CAST({sp} AS BIGINT) AS r "
        "FROM embeddings WHERE vec_id < 300",
        "duck_sql": f"SELECT vec_id, CAST({dk} AS BIGINT) AS r "
        "FROM embeddings WHERE vec_id < 300",
    }


def check(run, c):
    run.compare(run.spark.sql(c["spark_sql"]), c["duck_sql"])
    return {"reduction": c["chain"].rsplit("+", 1)[-1]}
