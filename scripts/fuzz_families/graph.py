"""Differential fuzz for the co-activity wedge/cap family (VERDICT r11
item #4): q_link_predict, q_link_predict_capped, q_adamic_adar,
q_adamic_adar_capped, q_clustering_coeff across random graph SHAPES and
the p90-cap tie boundaries the fixed sf fixtures never produce — THREE
independent implementations per seed (the rankcdf family's pattern):

1. the REAL registered queries, run against a synthesized events table
   (cell equi-join edge builders, exact-rank p90 caps, wedge joins),
2. the registered DuckDB oracles over the SAME parquet,
3. a pure-Python referee (dict/Counter adjacency + explicit wedge
   enumeration and cap replay — shares no engine code and no SQL).

Input families, cycled per seed:
- hub: one star user co-active with many others (the Σd² blowup the
  caps exist for; the p90 degree cap MUST change the capped answers);
- path: chain of users sharing consecutive cells (max-diameter graph,
  wedge counts minimal);
- dense: Erdős–Rényi-ish random cell assignment (generic tie mix);
- all_tie: every cell the same size / every vertex the same degree —
  the p90 falls exactly ON the shared value (rank boundary: cap keeps
  everything; capped must EQUAL uncapped — exactly the tie class the
  rank/CDF fuzzer caught bugs in);
- sparse: co-occurrence below min_cells everywhere (empty edge set —
  every query emits ZERO rows in both engines);
- cliques: several disconnected cliques (components independent).

q_kcore is deliberately out of scope: it rides the documents LSH graph
(plans/llm_ops.py), whose inputs the dedup fuzz family already varies;
this family owns the EVENTS-derived co-activity graphs.

A seed passes iff, for every query, Spark == DuckDB (driver
normalization) and both match the referee row-for-row.

Run: python scripts/fuzz.py graph [n_seeds] [out.json]
"""

from __future__ import annotations

import random
from collections import Counter, defaultdict

SF = "/root/testdata/sf0.001"
SEED_BASE = 9900
MIN_CELLS = 3
TOPK = 20
SLUGS = (
    "q_link_predict",
    "q_link_predict_capped",
    "q_adamic_adar",
    "q_adamic_adar_capped",
    "q_clustering_coeff",
)
KINDS = ["hub", "path", "all_tie", "sparse", "cliques", "dense"]


# ---------------------------------------------------------------------------
# referee: textbook adjacency-dict graph ops + explicit p90 cap replay
# ---------------------------------------------------------------------------


def _p90_value(vals: list[int]) -> int:
    """Value at 1-based rank max((m*9)//10, 1) under ascending order —
    the exact-rank cap both engines compute (tiebreaks cannot change
    the VALUE at a rank)."""
    if not vals:
        return 0
    pos = max((len(vals) * 9) // 10, 1)
    return sorted(vals)[pos - 1]


def _edges_from_cells(
    cells: set, cap_cells: bool
) -> tuple[set, dict, int]:
    by_cell: dict = defaultdict(set)
    for u, e, h in cells:
        by_cell[(e, h)].add(u)
    cap = 0
    if cap_cells:
        cap = _p90_value([len(v) for v in by_cell.values()])
        by_cell = {k: v for k, v in by_cell.items() if len(v) <= cap}
    paircnt: Counter = Counter()
    for us in by_cell.values():
        u = sorted(us)
        for i in range(len(u)):
            for j in range(i + 1, len(u)):
                paircnt[(u[i], u[j])] += 1
    edges = {p for p, c in paircnt.items() if c >= MIN_CELLS}
    nbrs: dict = defaultdict(set)
    for a, b in edges:
        nbrs[a].add(b)
        nbrs[b].add(a)
    return edges, nbrs, cap


def _wedge_scores(
    edges: set, nbrs: dict, cap_degree: bool
) -> tuple[Counter, Counter, dict, int]:
    deg = {x: len(n) for x, n in nbrs.items()}
    cap = 0
    mids = set(deg)
    if cap_degree:
        cap = _p90_value(list(deg.values()))
        mids = {x for x, d in deg.items() if d <= cap}
    n_common: Counter = Counter()
    aa: Counter = Counter()
    for x in mids:
        ns = sorted(nbrs[x])
        w = 1000 // deg[x].bit_length()
        for i in range(len(ns)):
            for j in range(i + 1, len(ns)):
                key = (ns[i], ns[j])
                n_common[key] += 1
                aa[key] += w
    # candidates exclude adjacent pairs
    for key in list(n_common):
        if key in edges:
            del n_common[key]
            del aa[key]
    return n_common, aa, deg, cap


def _rank_rows(rows: list[tuple], keyfn, topk: int) -> list[tuple]:
    rows = sorted(rows, key=keyfn)[:topk]
    return [r + (i + 1,) for i, r in enumerate(rows)]


def referee(cells: set) -> dict:
    out = {}
    for capped in (False, True):
        edges, nbrs, _ = _edges_from_cells(cells, cap_cells=capped)
        n_common, aa, deg, _ = _wedge_scores(edges, nbrs, cap_degree=capped)
        lp = [
            (
                a,
                b,
                c,
                c * 1000 // (deg[a] + deg[b] - c),
            )
            for (a, b), c in n_common.items()
        ]
        out["q_link_predict" + ("_capped" if capped else "")] = _rank_rows(
            lp, lambda r: (-r[2], -r[3], r[0], r[1]), TOPK
        )
        ad = [(a, b, n_common[(a, b)], w) for (a, b), w in aa.items()]
        out["q_adamic_adar" + ("_capped" if capped else "")] = _rank_rows(
            ad, lambda r: (-r[3], -r[2], r[0], r[1]), TOPK
        )
        if not capped:
            # closed wedges at the middle: count neighbor pairs that
            # are themselves edges
            tri: Counter = Counter()
            for x, ns in nbrs.items():
                s = sorted(ns)
                for i in range(len(s)):
                    for j in range(i + 1, len(s)):
                        if (s[i], s[j]) in edges:
                            tri[x] += 1
            cc = [
                (v, deg[v], tri.get(v, 0),
                 2000000 * tri.get(v, 0) // (deg[v] * (deg[v] - 1)))
                for v in deg
                if deg[v] >= 2
            ]
            out["q_clustering_coeff"] = _rank_rows(
                cc, lambda r: (-r[3], -r[1], r[0]), TOPK
            )
    return out


# referee output column orders, matching the queries' emission order
REFEREE_COLS = {
    "q_link_predict": ("a", "b", "n_common", "jacc_milli", "rnk"),
    "q_link_predict_capped": ("a", "b", "n_common", "jacc_milli", "rnk"),
    "q_adamic_adar": ("a", "b", "n_common", "aa_milli", "rnk"),
    "q_adamic_adar_capped": ("a", "b", "n_common", "aa_milli", "rnk"),
    "q_clustering_coeff": ("v", "d", "t", "cc_ppm", "rnk"),
}


# ---------------------------------------------------------------------------
# input synthesis: cells = set of (user, event_type, hour)
# ---------------------------------------------------------------------------

_TYPES = ["a", "b", "c", "d", "e"]


def synth(rng: random.Random, family: str) -> set:
    cells: set = set()

    def co(users: list[int], n_shared: int) -> None:
        """Put every user in ``users`` into ``n_shared`` common cells."""
        for _ in range(n_shared):
            e = rng.choice(_TYPES)
            h = rng.randint(0, 30)
            for u in users:
                cells.add((u, e, h))

    if family == "hub":
        hub = 0
        spokes = list(range(1, rng.randint(6, 14)))
        for s in spokes:
            co([hub, s], rng.randint(3, 5))
        # a few spoke-spoke edges so wedges close
        for _ in range(rng.randint(1, 4)):
            a, b = rng.sample(spokes, 2)
            co([a, b], 3)
    elif family == "path":
        n = rng.randint(4, 10)
        for i in range(n - 1):
            co([i, i + 1], rng.randint(3, 4))
    elif family == "all_tie":
        # every cell exactly the same size (2) and every vertex the same
        # degree (2): a ring of k users, consecutive pairs sharing
        # exactly 3 DISJOINT cells — the p90 rank lands exactly ON the
        # shared value, so both caps keep everything and capped must
        # EQUAL uncapped bit-for-bit
        k = rng.randint(4, 8)
        for i in range(k):
            for j in range(3):
                cells.add((i, _TYPES[j], 1000 + i))
                cells.add(((i + 1) % k, _TYPES[j], 1000 + i))
    elif family == "sparse":
        for _ in range(rng.randint(5, 20)):
            a, b = rng.sample(range(10), 2)
            co([a, b], rng.randint(1, MIN_CELLS - 1))
    elif family == "cliques":
        base = 0
        for _ in range(rng.randint(2, 4)):
            k = rng.randint(3, 5)
            group = list(range(base, base + k))
            for i in range(k):
                for j in range(i + 1, k):
                    co([group[i], group[j]], 3)
            base += k
    else:  # dense
        n_users = rng.randint(5, 15)
        for _ in range(rng.randint(20, 80)):
            u = rng.randint(0, n_users - 1)
            e = rng.choice(_TYPES)
            h = rng.randint(0, 10)
            cells.add((u, e, h))
    return cells


def case(rng, seed):
    kind = KINDS[seed % len(KINDS)]
    cells = synth(rng, kind)
    return {"kind": kind, "n_cells": len(cells), "_cells": cells}


def events_table(run, cells: set):
    import pandas as pd

    rows = sorted(cells)
    ev = run.template("events", max(len(rows), 1))
    if not rows:
        return ev.iloc[:0]
    ev["user_id"] = [u for u, _, _ in rows]
    ev["event_type"] = [e for _, e, _ in rows]
    ev["ts"] = pd.to_datetime([h * 3600_000_000 for _, _, h in rows], unit="us")
    ev["event_id"] = range(len(rows))
    return ev


def check(run, c):
    from nomad_event_streamer_spark.plans import ORACLES, QUERIES

    ref = referee(c["_cells"])
    sf_dir, con = run.synth(events=events_table(run, c["_cells"]))
    for slug in SLUGS:
        c["slug"] = slug
        result = run.compare(QUERIES[slug](run.spark, sf_dir), ORACLES[slug], con)
        run.same(result, (REFEREE_COLS[slug], ref[slug]), ("spark", "referee"))
    del c["slug"]
    return {"kind": c["kind"]}
