"""Dump .explain("formatted") for a list of declared queries to files.

Usage: python scripts/dump_plans.py <outdir> <suffix> q_a q_b ...
Writes <outdir>/<query>_<suffix>.txt for each query.

NOTE (ADVICE r12): "planning only" holds for the final action, but
CONSTRUCTING a query runs real Spark jobs wherever its plan builder
executes actions — eager localCheckpoint(eager=True) cuts (most r12/r13
winners), plan-time collects (p90 caps, guards), approxQuantile.  The
dumped plan then shows each checkpointed subtree as a single
``Scan ExistingRDD`` leaf, so scan/Exchange counts in these dumps
UNDERCOUNT work that still executes at runtime — read plan-node deltas
across a checkpoint boundary as "moved behind a materialized cut", not
"eliminated".
"""
import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nomad_event_streamer_spark.plans import all_queries
from nomad_event_streamer_spark.session import get_spark


def main() -> None:
    outdir, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(outdir, exist_ok=True)
    spark = get_spark(master="local[4]")
    queries = all_queries()
    for name in names:
        df = queries[name](spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(buf.getvalue())
        txt = buf.getvalue()
        n_exch = txt.count("Exchange")
        n_py = txt.count("EvalPython") + txt.count("MapInPandas") + txt.count(
            "MapInArrow"
        )
        joins = [
            k
            for k in (
                "BroadcastHashJoin",
                "SortMergeJoin",
                "ShuffledHashJoin",
                "BroadcastNestedLoopJoin",
                "CartesianProduct",
            )
            if k in txt
        ]
        print(f"{name}: exchanges={n_exch} python_nodes={n_py} joins={joins}")


if __name__ == "__main__":
    main()
