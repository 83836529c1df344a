"""Differential fuzz for the grid-DBSCAN dataflow across its knob space
(cell width g, density floor mp) — THREE independent implementations per
seed (the ttl family's pattern):

1. the REAL Spark pipeline incl. the shortcutting component search
   (`plans.llm_ops._dbscan_replay`),
2. the parameterized 40-round unrolled DuckDB oracle
   (`_dbscan_oracle(g, mp, rounds=40)` — fine grids / mp=1 build deeper
   components than the registered query's 16-round regime; round 10
   measured 19 at g=15, mp=1),
3. a pure-Python referee: floor-div grid + UNION-FIND over core-cell
   8-adjacency (a different component algorithm entirely — label prop
   bugs and union-find bugs don't correlate).

The registered q_dbscan_grid pins ONE (g=40, mp=6) point; the sweep
exercises coarse grids (one blob), fine grids (many fragments, deep
component chains — the regime that broke plain neighbor-prop at x10),
and high floors (mostly noise).

Run: python scripts/fuzz.py dbscan [n_seeds] [out.json]
"""

from __future__ import annotations

from collections import defaultdict

SF = "/root/testdata/sf0.001"
SEQUENTIAL_SEED = 0xDB5C


def py_referee(docs, g: int, mp: int) -> dict[int, tuple[int, int]]:
    pts = {}
    for vid, emb in zip(docs["vec_id"], docs["embedding"]):
        x = int((float(emb[0]) * 1000.0 + 0.5) // 1)
        y = int((float(emb[1]) * 1000.0 + 0.5) // 1)
        pts[int(vid)] = (x // g, y // g)
    cellcnt: dict[tuple, int] = defaultdict(int)
    for c in pts.values():
        cellcnt[c] += 1
    core = {c for c, n in cellcnt.items() if n >= mp}
    parent = {c: c for c in core}

    def find(c):
        while parent[c] != c:
            parent[c] = parent[parent[c]]
            c = parent[c]
        return c

    for cx, cy in core:
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                nb = (cx + dx, cy + dy)
                if nb in core:
                    ra, rb = find((cx, cy)), find(nb)
                    if ra != rb:
                        parent[max(ra, rb)] = min(ra, rb)
    lin = lambda c: (c[0] + 32768) * 65536 + (c[1] + 32768)  # noqa: E731
    comp_min: dict[tuple, int] = {}
    for c in core:
        r = find(c)
        comp_min[r] = min(comp_min.get(r, 1 << 62), lin(c))
    label = {c: comp_min[find(c)] for c in core}
    out = {}
    for vid, c in pts.items():
        cands = [
            label[(c[0] + dx, c[1] + dy)]
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
            if (c[0] + dx, c[1] + dy) in core
        ]
        out[vid] = (min(cands) if cands else -1, int(c in core))
    return out


def setup(run):
    import pandas as pd

    return pd.read_parquet(f"{SF}/embeddings.parquet")


def case(rng, seed):
    # widened knob space (VERDICT r09 item #7): finer grids (deeper
    # component chains — the pointer-doubling stress regime), a
    # uniform arm, and density floors up to mostly-noise
    g = rng.choice([10, 12, 15, 20, 25, 30, 40, 50, 60, 80, 120, rng.randint(10, 150)])
    mp = rng.choice([1, 2, 3, 4, 5, 6, 8, 10, 14, rng.randint(1, 16)])
    return {"g": g, "mp": mp}


def check(run, c):
    from nomad_event_streamer_spark.plans.llm_ops import _dbscan_oracle, _dbscan_replay

    g, mp = c["g"], c["mp"]
    spark_rows = {
        r["vec_id"]: (r["cluster"], r["is_core"])
        for r in _dbscan_replay(run.spark, SF, g=g, mp=mp, max_rounds=40).collect()
    }
    duck_rows = {r[0]: (r[1], r[2]) for r in run.duck(_dbscan_oracle(g=g, mp=mp, rounds=40))}
    run.agree(referee=py_referee(run.state, g, mp), spark=spark_rows, duckdb=duck_rows)
