"""``batch_queries``: a fixed list of registered queries over sf0.01.

An untimed warm-up pass collects every query and checks its value hash
against ``oracle_hashes.json``.  Timed passes then run the list in a
seeded order, each query measured over build (calling the query
function, which runs the Spark jobs some queries need to build their
DataFrame) plus final action into the ``noop`` sink, in CPU time of the
process tree and in wall time.

Re-derive the hashes from the DuckDB oracles with::

    python3 perfbench/batch.py --derive-hashes
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import statistics
import sys
import time

from cputime import tree_cpu_s

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_DIR = os.path.join(HERE, "data", "sf0.01")
HASHES = os.path.join(HERE, "oracle_hashes.json")

# Chosen once and never swapped.  Relational: scan, aggregate, join and
# window shapes whose time is mostly per-query fixed cost (schema reads,
# planning).  LLM-ops: BPE training, whose DataFrame build runs one Spark
# job per merge round on the driver.  The list is short so that a run,
# warm-up and passes included, takes about a minute on 4 cores.
RELATIONAL = (
    "q_scan_project",
    "q_agg_groupby",
    "q_count_distinct",
    "q_agg_rollup",
    "q_join_range",
    "q_window_runsum",
    "q_dedup_latest",
    "q_star_join",
    "q_join_agg_topk",
)
LLM_OPS = ("q_bpe_train",)
QUERIES = RELATIONAL + LLM_OPS
# The JIT keeps compiling through the timed passes: on 4 cores a pass's
# CPU time fell from about 13 s to 5-6 s over eight passes.  The JIT's
# compiler threads and the garbage collector run beside the queries and
# are charged to whichever pass they overlap, so a query's CPU time, like
# its wall time, is its lowest pass.  More passes do not steady it: JVMs
# settle on plateaus up to 20 % apart (4.1-5.4 s a pass after eleven).
MIN_PASSES = 8


def value_hash(columns: list[str], rows: list[tuple]) -> str:
    """Order-insensitive hash of a result under the ``oracle_compare``
    rule: columns sorted by name, cells normalized, rows sorted."""
    from tests.oracle_compare import normalize

    h = hashlib.sha256(repr(sorted(columns)).encode())
    for row in normalize(columns, rows):
        h.update(repr(row).encode())
        h.update(b"\n")
    return h.hexdigest()


def check_hashes(results: dict[str, str | None], expected: dict[str, str]) -> int:
    """Number of queries whose hash is missing or differs."""
    return sum(1 for q, h in results.items() if h is None or h != expected.get(q))


def run(
    spark, seconds: float, seed: int, tracer, expected: dict[str, str], min_passes: int
) -> dict:
    """A warm-up pass, then timed passes over the relational queries, at
    least ``min_passes`` of them and at least ``seconds`` long.  The
    LLM-ops queries run only in a traced run, checked and timed once: one
    BPE training varies by about 30 % from run to run, too much for an
    end-to-end metric at the passes a run can afford."""
    from __spark_entry__ import queries

    registry = queries()
    names = RELATIONAL + (LLM_OPS if tracer.enabled else ())
    sc = spark.sparkContext
    failed = 0
    got: dict[str, str | None] = {}
    t_warm = time.perf_counter()
    with tracer.span("batch.warmup"):
        for name in names:
            try:
                df = registry[name](spark, DATA_DIR)
                got[name] = value_hash(df.columns, [tuple(r) for r in df.collect()])
            except Exception as exc:  # one query's failure must not hide the rest
                print(f"# {name}: {type(exc).__name__}: {exc}", file=sys.stderr)
                got[name] = None
    failed += check_hashes(got, expected)
    ready_at = time.perf_counter()
    print(f"# batch warm-up pass {ready_at - t_warm:.1f} s", file=sys.stderr)

    build: dict[str, list[float]] = {q: [] for q in names}
    action: dict[str, list[float]] = {q: [] for q in names}
    build_jobs: dict[str, list[int]] = {q: [] for q in names}
    cpu: dict[str, list[float]] = {q: [] for q in names}

    def timed(name: str, group: str) -> bool:
        try:
            with tracer.span(f"plans.{name}"):
                sc.setJobGroup(f"{group}-build", name)
                c0 = tree_cpu_s()
                t0 = time.perf_counter()
                with tracer.span(f"plans.{name}.build"):
                    df = registry[name](spark, DATA_DIR)
                t1 = time.perf_counter()
                sc.setJobGroup(f"{group}-action", name)
                with tracer.span(f"plans.{name}.action"):
                    df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
                c2 = tree_cpu_s()
        except Exception as exc:
            print(f"# {name}: {type(exc).__name__}: {exc}", file=sys.stderr)
            return False
        build[name].append(t1 - t0)
        action[name].append(t2 - t1)
        cpu[name].append(c2 - c0)
        if tracer.enabled:
            with tracer.overhead():
                jobs = sc.statusTracker().getJobIdsForGroup(f"{group}-build")
            build_jobs[name].append(len(jobs))
        return True

    rng = random.Random(seed)
    runs = passes = 0
    t_start = time.perf_counter()
    while passes < min_passes or time.perf_counter() - t_start < seconds:
        order = list(RELATIONAL)
        rng.shuffle(order)
        for name in order:
            runs += 1
            failed += not timed(name, f"perfbench-{passes}-{name}")
        passes += 1
    pass_s = [sum(build[q][i] + action[q][i] for q in RELATIONAL) for i in range(passes)]
    pass_cpu = [sum(cpu[q][i] for q in RELATIONAL) for i in range(passes)]
    print(f"# batch timed passes (s): {[round(x, 2) for x in pass_s]}", file=sys.stderr)
    print(f"# batch timed passes (CPU s): {[round(x, 2) for x in pass_cpu]}", file=sys.stderr)
    for name in LLM_OPS if tracer.enabled else ():
        runs += 1
        failed += not timed(name, f"perfbench-llm-{name}")
    sc.setLocalProperty("spark.jobGroup.id", None)

    # A query's wall time is its fastest pass: host contention comes in
    # bursts that slow some passes of a run.
    per_query = {q: min(b + a for b, a in zip(build[q], action[q])) for q in names if build[q]}
    layers: dict[str, float] = {}
    for q in per_query:
        layers[f"plans.{q}.build_s"] = statistics.median(build[q])
        layers[f"plans.{q}.action_s"] = statistics.median(action[q])
        layers[f"plans.{q}.build_jobs"] = statistics.median(build_jobs[q]) if build_jobs[q] else 0
    return {
        "attempted": len(names) + runs,
        "failed": failed,
        "passes": passes,
        "ready_at": ready_at,
        "per_query_s": per_query,
        "relational_wall_s": sum(per_query.get(q, 0.0) for q in RELATIONAL),
        "relational_cpu_s": sum(min(cpu[q]) for q in RELATIONAL if cpu[q]),
        "llm_ops_wall_s": (
            sum(per_query[q] for q in LLM_OPS) if set(LLM_OPS) <= per_query.keys() else None
        ),
        "hash_mismatches": [q for q, h in got.items() if h is None or h != expected.get(q)],
        "layers": layers,
    }


def load_expected() -> dict[str, str]:
    with open(HASHES, encoding="utf-8") as fh:
        return {q: rec["hash"] for q, rec in json.load(fh)["queries"].items()}


def derive_hashes() -> None:
    """Recompute ``oracle_hashes.json`` from the DuckDB oracle SQL."""
    import duckdb

    sys.path.insert(0, os.path.dirname(HERE))
    from __spark_entry__ import oracle_sql
    from nomad_event_streamer_spark.tables import TABLE_NAMES

    sql = oracle_sql()
    con = duckdb.connect()
    for name in TABLE_NAMES:
        path = os.path.join(DATA_DIR, f"{name}.parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    out = {}
    for q in QUERIES:
        tbl = con.execute(sql[q]).fetch_arrow_table()
        rows = list(zip(*[c.to_pylist() for c in tbl.columns]))
        out[q] = {"rows": len(rows), "hash": value_hash(tbl.column_names, rows)}
    with open(HASHES, "w", encoding="utf-8") as fh:
        json.dump(
            {"data": "data/sf0.01", "rule": "tests/oracle_compare.py normalize", "queries": out},
            fh,
            indent=1,
            sort_keys=True,
        )
        fh.write("\n")


if __name__ == "__main__":
    if sys.argv[1:] != ["--derive-hashes"]:
        sys.exit("usage: python3 perfbench/batch.py --derive-hashes")
    derive_hashes()
