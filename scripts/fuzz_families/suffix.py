"""Differential fuzz for the suffix-order family (round 12 follow-up to
the graph family): q_suffix_rank, q_maximal_repeat, q_repeat_profile
across corpus SHAPES the fixed sf fixtures never produce — THREE
independent implementations per seed (the graph family's pattern):

1. the REAL registered queries (direct suffix arrays ranked, or
   paired with their neighbours, by one bucketed window, and the
   zip_with LCP of adjacent arrays, operators/suffix.py and
   operators/ranking.py) over a synthesized documents table,
2. the registered DuckDB oracles (prefix doubling unrolled as
   dense_rank CTE chains, plus the binary LCP walk) over the SAME
   parquet,
3. a pure-Python referee: materialize every suffix tail, sort, dense
   rank, and take TRUE common-prefix lengths of adjacent pairs —
   shares no engine code, no doubling, no SQL.

Input families, cycled per seed — each aims at a known failure class:
- all_same: k identical documents (every suffix k-duplicated; the
  maximal repeat is a full document — the padded-equality overshoot
  the min-tail cap exists for);
- runs: single-token runs ('a a a ... a') — the classic adjacent-LCP
  chain where lcp = tail length - 1 all the way down;
- periodic: period-p repetition inside one document (self-similar
  suffixes, rank ties resolved only deep in the doubling);
- shared_prefix: documents diverging only at the tail (cross-document
  LCP approx doc length; exercises the doc-boundary cap on BOTH
  sides);
- single: 1-token documents plus one EMPTY text (split(' ') yields
  one '' token in Spark, DuckDB, and Python alike — the degenerate
  token the corpus fixtures never contain);
- boundary: one document at exactly 2^rounds = 128 tokens (the loud
  guard's pass side) among normal docs;
- random: small-vocabulary random documents (generic tie mix).

A seed passes iff, for every query, Spark == DuckDB (driver
normalization) and both match the referee row-for-row.

Run: python scripts/fuzz.py suffix [n_seeds] [out.json]
"""

from __future__ import annotations

import random
from collections import defaultdict

SF = "/root/testdata/sf0.001"
SEED_BASE = 12700
REPEAT_L = 8  # q_repeat_profile's duplicated-position threshold
CAP = 128  # 2^_SUFFIX_ROUNDS
SLUGS = ("q_suffix_rank", "q_maximal_repeat", "q_repeat_profile")
KINDS = ["all_same", "runs", "periodic", "shared_prefix", "single", "boundary", "random"]


# ---------------------------------------------------------------------------
# referee: materialized suffix tails, sorted; true LCPs of neighbors
# ---------------------------------------------------------------------------


def _lcp(a: tuple, b: tuple) -> int:
    n = 0
    for x, y in zip(a, b):
        if x != y:
            return n
        n += 1
    return n


def referee(docs: list[tuple[int, str]]) -> dict:
    toks = {d: text.split(" ") for d, text in docs}
    sufs = sorted(
        (tuple(ts[p - 1 :]), d, p)
        for d, ts in toks.items()
        for p in range(1, len(ts) + 1)
    )
    out: dict = {}

    # q_suffix_rank: top-10 duplicate-tail classes
    ranks: dict = {}
    for tail, _, _ in sufs:
        if tail not in ranks:
            ranks[tail] = len(ranks) + 1
    cls: dict = defaultdict(lambda: [0, None])
    for tail, d, p in sufs:
        c = cls[tail]
        c[0] += 1
        gid = d * 1000 + p
        c[1] = gid if c[1] is None else min(c[1], gid)
    rows = sorted(
        ((ranks[t], n, gid) for t, (n, gid) in cls.items()),
        key=lambda r: (-r[1], r[0]),
    )[:10]
    n_total, n_classes = len(sufs), len(ranks)
    out["q_suffix_rank"] = [
        (r, n, gid, i + 1, n_total, n_classes)
        for i, (r, n, gid) in enumerate(rows)
    ]

    # adjacent-pair LCPs (true common prefixes of the tails)
    pairs = [
        (_lcp(sufs[i][0], sufs[i + 1][0]), sufs[i][1], sufs[i][2],
         sufs[i + 1][1], sufs[i + 1][2])
        for i in range(len(sufs) - 1)
    ]

    # q_maximal_repeat: top-10 by (lcp desc, doc_a, pos_a, doc_b, pos_b)
    top = sorted(pairs, key=lambda r: (-r[0], r[1], r[2], r[3], r[4]))[:10]
    out["q_maximal_repeat"] = [r + (i + 1,) for i, r in enumerate(top)]

    # q_repeat_profile: per-position neighbor max, per-doc rollup
    nlcp: dict = defaultdict(int)
    for lcp, da, pa, db, pb in pairs:
        nlcp[(da, pa)] = max(nlcp[(da, pa)], lcp)
        nlcp[(db, pb)] = max(nlcp[(db, pb)], lcp)
    prof = []
    for d, ts in toks.items():
        vals = [nlcp[(d, p)] for p in range(1, len(ts) + 1)]
        prof.append(
            (
                d,
                len(ts),
                sum(1 for v in vals if v >= REPEAT_L),
                max(vals) if vals else 0,
                sum(vals),
            )
        )
    out["q_repeat_profile"] = sorted(prof)
    return out


REFEREE_COLS = {
    "q_suffix_rank": ("r", "n_suffixes", "min_gid", "rnk", "n_total",
                      "n_classes"),
    "q_maximal_repeat": ("lcp", "doc_a", "pos_a", "doc_b", "pos_b", "rnk"),
    "q_repeat_profile": ("doc_id", "n_pos", "n_dup_pos", "max_lcp",
                         "lcp_mass"),
}


# ---------------------------------------------------------------------------
# input synthesis
# ---------------------------------------------------------------------------

_VOCAB = ["a", "b", "c", "ab", "ba", "x"]


def synth(rng: random.Random, family: str) -> list[tuple[int, str]]:
    def rand_doc(n: int) -> str:
        return " ".join(rng.choice(_VOCAB) for _ in range(n))

    docs: list[tuple[int, str]] = []
    if family == "all_same":
        text = rand_doc(rng.randint(4, 20))
        docs = [(i, text) for i in range(rng.randint(2, 5))]
    elif family == "runs":
        for i in range(rng.randint(1, 3)):
            tok = rng.choice(_VOCAB)
            docs.append((i, " ".join([tok] * rng.randint(5, 40))))
    elif family == "periodic":
        p = rng.randint(1, 3)
        period = [rng.choice(_VOCAB) for _ in range(p)]
        n = rng.randint(10, 60)
        body = (period * ((n // p) + 1))[:n]
        docs = [(0, " ".join(body))]
        if rng.random() < 0.5:
            docs.append((1, rand_doc(rng.randint(3, 10))))
    elif family == "shared_prefix":
        pre = [rng.choice(_VOCAB) for _ in range(rng.randint(8, 30))]
        for i in range(rng.randint(2, 4)):
            tail = [rng.choice(_VOCAB) for _ in range(rng.randint(0, 4))]
            docs.append((i, " ".join(pre + tail)))
    elif family == "single":
        for i in range(rng.randint(2, 8)):
            docs.append((i, rng.choice(_VOCAB)))
        docs.append((len(docs), ""))  # one empty text: a '' token
    elif family == "boundary":
        docs = [(0, rand_doc(CAP))]  # exactly 2^rounds tokens: guard passes
        docs.append((1, rand_doc(rng.randint(2, 10))))
    else:  # random
        for i in range(rng.randint(2, 6)):
            docs.append((i, rand_doc(rng.randint(1, 25))))
    return docs


def case(rng, seed):
    kind = KINDS[seed % len(KINDS)]
    docs = synth(rng, kind)
    return {"kind": kind, "n_docs": len(docs), "_docs": docs}


def check(run, c):
    import pandas as pd

    from nomad_event_streamer_spark.plans import ORACLES, QUERIES

    docs = c["_docs"]
    ref = referee(docs)
    documents = pd.DataFrame(
        {
            "doc_id": [i for i, _ in docs],
            "text": [t for _, t in docs],
            "lang": ["en"] * len(docs),
            "source": ["fuzz"] * len(docs),
            "n_chars": [len(t) for _, t in docs],
        }
    )
    sf_dir, con = run.synth(documents=documents)
    for slug in SLUGS:
        c["slug"] = slug
        result = run.compare(QUERIES[slug](run.spark, sf_dir), ORACLES[slug], con)
        run.same(result, (REFEREE_COLS[slug], ref[slug]), ("spark", "referee"))
    del c["slug"]
    return {"kind": c["kind"]}
