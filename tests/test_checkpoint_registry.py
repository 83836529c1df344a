"""Guard the eager/lazy localCheckpoint classification (VERDICT r12
item #9).

The round-12 A/B proved ``localCheckpoint(eager=False)`` RACES when its
first consumer is a set of CONCURRENT stages (self-join sides, union
branches, independent agg branches): each stage recomputes the whole
subtree before the cache fills (+54% on q_dedup_clusters, +60% on
q_mk_trend measured).  Classification rule:

- LAZY is correct when a SEQUENTIAL action materializes the cut first
  (a count()/collect(), a broadcast query stage, or loop rounds chained
  by shuffle dependencies).
- EAGER is required when the first consumer is concurrent multi-branch.

This test pins every call site's declared class, so an edit that flips
eagerness — or adds a site — fails HERE and forces a deliberate
re-classification (update the registry below together with an A/B or a
consumer-structure argument), instead of silently reintroducing the
k-times-recompute race.

The registry keys are ``<file>::<enclosing function>``; values are the
sorted list of eager/lazy flags of that function's call sites (loops
count once — sites, not executions).
"""

from __future__ import annotations

import ast
import os

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "nomad_event_streamer_spark",
)

EXPECTED = {
    "operators/bpe.py::bpe_train": ["lazy", "lazy"],
    "operators/dedup.py::connected_components": [
        "eager", "eager", "eager", "lazy",
    ],
    "operators/dedup.py::connected_components_star": ["lazy", "lazy"],
    "operators/graph.py::bfs_hops": ["lazy", "lazy", "lazy", "lazy"],
    "operators/graph.py::grid_components": ["lazy", "lazy"],
    "operators/graph.py::kcore": ["lazy", "lazy"],
    "operators/graph.py::louvain_level0": ["lazy", "lazy"],
    "operators/graph.py::pagerank": ["lazy", "lazy", "lazy"],
    "operators/graph.py::triangles": ["eager", "eager"],
    "plans/advanced.py::q_label_prop": ["eager", "lazy"],
    "plans/analytics_queries.py::q_decile_lift": ["lazy"],
    "plans/analytics_queries.py::q_fleiss_kappa": ["eager"],
    "plans/analytics_queries.py::q_mk_trend": ["eager", "eager"],
    "plans/analytics_queries.py::q_negative_sampling": ["eager"],
    "plans/corpus_queries.py::q_assoc_rules": ["lazy"],
    "plans/corpus_queries.py::q_suffix_rank": ["eager"],
    "plans/corpus_queries.py::q_unigram_lm_em": ["lazy", "lazy"],
    "plans/corpus_queries.py::q_unigram_token_count": ["lazy", "lazy"],
    "plans/curation_queries.py::q_consistent_hash_ring": ["eager"],
    "plans/curation_queries.py::q_greedy_set_cover": ["lazy", "lazy"],
    "plans/curation_queries.py::q_kneser_ney": ["eager"],
    "plans/graph_queries.py::q_adamic_adar": ["eager"],
    "plans/graph_queries.py::q_adamic_adar_capped": [
        "eager", "lazy", "lazy", "lazy",
    ],
    "plans/graph_queries.py::q_bellman_ford": ["lazy", "lazy", "lazy"],
    "plans/graph_queries.py::q_clustering_coeff": ["eager"],
    "plans/graph_queries.py::q_degree_hist": ["eager"],
    "plans/graph_queries.py::q_link_predict": ["eager"],
    "plans/graph_queries.py::q_link_predict_capped": [
        "eager", "lazy", "lazy",
    ],
    "plans/graph_queries.py::q_scc": ["eager", "lazy"],
    "plans/llm_ops.py::q_jl_project": ["lazy"],
    "plans/llm_ops.py::q_kcenter_seed": ["lazy", "lazy"],
    "plans/llm_ops.py::q_kmeans_lloyd": ["lazy", "lazy"],
    "plans/llm_ops.py::q_louvain_l0": ["eager"],
    "plans/llm_ops.py::q_mutual_best_match": ["eager"],
    "plans/llm_ops.py::q_perceptron_rounds": ["lazy"],
    # r13: + per-pick cuts (sel1 + loop site) — sequential consumers
    # (pick t materializes before pick t+1's build references it)
    "plans/retrieval_queries.py::q_mmr_rerank": [
        "lazy", "lazy", "lazy", "lazy",
    ],
    "plans/sketch_queries.py::q_ams_f2": ["eager"],
    "plans/sketch_queries.py::q_theta_anotb": ["eager", "eager", "eager"],
    "plans/sketch_queries.py::q_theta_intersect": [
        "eager", "eager", "eager",
    ],
    "plans/timeseries_queries.py::_dtw_replay": ["eager"],
    # q_peak_hours (no site) and q_runs_test read their time-order
    # neighbours off each row (ranking.global_neighbors), so no
    # self-join sides or crossJoined aggregate branches consume one
    # frame concurrently; the operator's own two reads of its input
    # (window, bucket-ends table) share one shuffle stage through
    # exchange reuse.  q_runs_test's lazy cut on ``h`` is materialized
    # by ``h.count()`` before either consumer runs.
    "plans/timeseries_queries.py::q_runs_test": ["lazy"],
}


def _scan() -> dict[str, list[str]]:
    reg: dict[str, list[str]] = {}
    for dirpath, _dirs, files in os.walk(PKG):
        for fn in sorted(files):
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            rel = os.path.relpath(path, PKG)
            tree = ast.parse(open(path).read())

            class V(ast.NodeVisitor):
                def __init__(self) -> None:
                    self.stack: list[str] = []

                def visit_FunctionDef(self, n):
                    self.stack.append(n.name)
                    self.generic_visit(n)
                    self.stack.pop()

                visit_AsyncFunctionDef = visit_FunctionDef

                def visit_Call(self, n):
                    if (
                        isinstance(n.func, ast.Attribute)
                        and n.func.attr == "localCheckpoint"
                    ):
                        eager = None
                        for kw in n.keywords:
                            if kw.arg == "eager" and isinstance(
                                kw.value, ast.Constant
                            ):
                                eager = kw.value.value
                        if n.args and isinstance(n.args[0], ast.Constant):
                            eager = n.args[0].value
                        if eager is None:
                            eager = True  # pyspark default
                        fname = self.stack[-1] if self.stack else "<module>"
                        reg.setdefault(f"{rel}::{fname}", []).append(
                            "eager" if eager else "lazy"
                        )
                    self.generic_visit(n)

            V().visit(tree)
    return {k: sorted(v) for k, v in reg.items()}


def test_checkpoint_sites_match_declared_classification():
    got = _scan()
    missing = {k: v for k, v in EXPECTED.items() if k not in got}
    added = {k: v for k, v in got.items() if k not in EXPECTED}
    changed = {
        k: (EXPECTED[k], got[k])
        for k in EXPECTED
        if k in got and got[k] != EXPECTED[k]
    }
    assert not (missing or added or changed), (
        "localCheckpoint site classification drifted — re-classify per "
        "the r12 rule (concurrent first consumer => eager; sequential "
        "=> lazy), A/B the change, then update EXPECTED.\n"
        f"missing={missing}\nadded={added}\nchanged={changed}"
    )
