"""Plan-shape budgets for queries whose cost was cut, so that the cut
cannot grow back unnoticed in the fast tier.

Counted at sf0.001, in the physical plan before execution:

- ``Window``: Window nodes;
- ``Exchange``: shuffle exchanges the operators require (the per-scan
  round-robin rebalance exchanges follow the scan count);
- ``<table>``: file scans of that testdata table;
- ``build_jobs``: Spark jobs run while the DataFrame is built (eager
  checkpoints, plan-time counts), with the table schemas already read.

A budget caps each count it names.  An eager checkpoint hides the plan
below it but shows up in ``build_jobs``.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import DataFrame

from nomad_event_streamer_spark import tables
from nomad_event_streamer_spark.plans import QUERIES


def plan_counts(df: DataFrame, table: str) -> dict:
    plan = df._jdf.queryExecution().executedPlan().toString()
    nodes = [
        (m.group(1), line)
        for line in plan.splitlines()
        if (m := re.match(r"^[\s:|+-]*(\w+)", line))
    ]
    return {
        "Window": sum(n == "Window" for n, _ in nodes),
        "Exchange": sum(
            n == "Exchange" and "ENSURE_REQUIREMENTS" in line
            for n, line in nodes
        ),
        table: sum(
            n == "FileScan" and f"{table}.parquet" in line
            for n, line in nodes
        ),
    }


# q_peak_hours and q_runs_test take their time-order neighbours from
# ``ranking.global_neighbors``: no eager checkpoint, no rn ± 1 join.
# q_funnel and q_quantile_hist read their fact table once.
_BUDGET = {
    "q_peak_hours": (
        "events",
        {"build_jobs": 0, "Window": 4, "Exchange": 5, "events": 2},
    ),
    "q_runs_test": (
        "events",
        {"build_jobs": 3, "Window": 7, "Exchange": 10, "events": 0},
    ),
    "q_funnel": ("events", {"events": 2}),
    "q_quantile_hist": ("lineitem", {"lineitem": 2}),
}


@pytest.mark.parametrize("slug", sorted(_BUDGET))
def test_plan_budget(spark, sf_dir, slug):
    table, budget = _BUDGET[slug]
    tables.schema(spark, sf_dir, table)
    sc = spark.sparkContext
    group = f"plan-budget-{slug}"
    sc.setJobGroup(group, slug)
    try:
        df = QUERIES[slug](spark, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    got = plan_counts(df, table)
    got["build_jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))
    assert all(got[k] <= budget[k] for k in budget), (got, budget)
