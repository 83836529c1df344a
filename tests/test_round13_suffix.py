"""Round-13 optimization pins: the direct suffix-array form
(operators/suffix.py suffix_arrays + one bucketed global rank + the
zip_with LCP) must be bit-identical to the prefix-doubling chain it
replaced.

The doubling chain lives here as the referee (``_suffix_rank_levels``);
a pure-Python brute force referees both.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from pyspark.sql import DataFrame, Window

from nomad_event_streamer_spark.operators import ranking
from nomad_event_streamer_spark.operators import suffix as sfx
from nomad_event_streamer_spark.plans import QUERIES, corpus_queries
from tests.test_plan_budget import plan_counts

# Deliberately nasty corpus: duplicate documents (every suffix class
# multiply occupied), one doc a prefix of another (pad ordering), deep
# shared prefixes (rank ties resolved only late in the doubling), a
# one-token doc, a doc with an empty token (split artifacts), and a doc
# at exactly 2^rounds tokens.
_ROUNDS = 3  # cap = 8 tokens
_DOCS = [
    (1, "a b c d e f g h"),
    (2, "a b c d e f g h"),
    (3, "a b c d"),
    (4, "a b c d e"),
    (5, "x"),
    (6, "a  b"),  # split on ' ' yields an empty middle token
    (7, "b a b a b a b"),
    (8, "c c c c c c c c"),
]


def _token_positions(docs: DataFrame) -> DataFrame:
    """(doc_id, pos, tok) with 1-based positions (matches DuckDB's
    ``generate_subscripts``)."""
    return docs.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("p0", "tok"),
    ).select("doc_id", (F.col("p0") + 1).alias("pos"), "tok")


def _suffix_rank_levels(toks: DataFrame, rounds: int) -> list[DataFrame]:
    """Prefix doubling (Manber & Myers 1993; Flick & Aluru SC'15), the
    Spark twin of ``suffix_cte``: all levels ``lv[j]``: (doc_id, pos, r)
    where r is the corpus-wide dense rank of the ``2^j``-token
    (zero-padded) prefix of the suffix at (doc_id, pos).  ``lv[rounds]``
    is the final suffix rank, exact for documents up to ``2^rounds``
    tokens.

    Positions are dense 1..n per document (posexplode), so
    ``lead(r, 2^j)`` over (doc_id, pos) is the rank at pos + 2^j, with
    0 beyond the end.  Dense ranks ride ``ranking.global_dense_rank``,
    bucketed by ``bitlen_subbucket`` after round 0."""
    lv = ranking.global_dense_rank(
        toks, ["tok"], F.substring("tok", 1, 1), "r"
    ).select("doc_id", "pos", F.col("r").cast("long").alias("r"))
    levels = [lv]
    w_doc = Window.partitionBy("doc_id").orderBy(F.col("pos").asc())
    for j in range(rounds):
        paired = lv.select(
            "doc_id",
            "pos",
            F.col("r").alias("r1"),
            F.coalesce(F.lead("r", 1 << j).over(w_doc), F.lit(0))
            .cast("long")
            .alias("r2"),
        )
        lv = ranking.global_dense_rank(
            paired, ["r1", "r2"], ranking.bitlen_subbucket(F.col("r1")), "r"
        ).select("doc_id", "pos", F.col("r").cast("long").alias("r"))
        levels.append(lv)
    return levels


def _brute_final_ranks():
    """(doc, pos) -> dense rank of the suffix tail under (tail) order,
    tails truncated at 2^_ROUNDS tokens, shorter-prefix-first."""
    sufs = []
    for d, text in _DOCS:
        ts = text.split(" ")
        for p in range(1, len(ts) + 1):
            sufs.append((tuple(ts[p - 1 : p - 1 + (1 << _ROUNDS)]), d, p))
    tails = sorted({t for t, _, _ in sufs})
    rank = {t: i + 1 for i, t in enumerate(tails)}
    return {(d, p): rank[t] for t, d, p in sufs}


def test_suffix_arrays_rank_matches_doubling_chain(spark):
    docs = spark.createDataFrame(_DOCS, "doc_id long, text string")
    toks = _token_positions(docs)
    old = {
        (r["doc_id"], r["pos"]): r["r"]
        for r in _suffix_rank_levels(toks, _ROUNDS)[-1].collect()
    }
    suf = sfx.suffix_arrays(docs, _ROUNDS)
    new = {
        (r["doc_id"], r["pos"]): r["r"]
        for r in ranking.global_dense_rank(
            suf,
            ["sarr"],
            sfx.suffix_array_bucket(F.col("sarr")),
            "r",
        ).collect()
    }
    assert new == old
    assert new == _brute_final_ranks()


def test_zipwith_lcp_matches_brute_force(spark):
    docs = spark.createDataFrame(_DOCS, "doc_id long, text string")
    # the documents are shorter than the package's 2^rounds cap, so its
    # suffix arrays are the whole tails, as in the brute force below
    got_next, got_prev = {}, {}
    for r in corpus_queries._suffix_neighbors(docs).collect():
        if r["next"] is not None:
            nxt = (r["next"]["doc_id"], r["next"]["pos"])
            got_next[(r["doc_id"], r["pos"], *nxt)] = r["lcp_next"]
        got_prev[(r["doc_id"], r["pos"])] = r["lcp_prev"]
    # brute force: sort all tails under (tail, doc, pos), LCP of each
    # adjacent pair
    sufs = []
    for d, text in _DOCS:
        ts = text.split(" ")
        for pp in range(1, len(ts) + 1):
            sufs.append((tuple(ts[pp - 1 :]), d, pp))
    sufs.sort()
    want = {}
    for (ta, da, pa), (tb, db, pb) in zip(sufs, sufs[1:]):
        lcp = 0
        for x, y in zip(ta, tb):
            if x != y:
                break
            lcp += 1
        want[(da, pa, db, pb)] = lcp
    assert got_next == want
    # each pair's LCP is also the second suffix's lcp_prev
    assert got_prev == {
        (d, p): None for _, d, p in sufs[:1]
    } | {(db, pb): v for (_, _, db, pb), v in want.items()}


# Plan-shape budget of the two LCP consumers, neither of which has a
# checkpoint cut, so the whole plan is visible (counts as in
# tests/test_plan_budget.py, at sf0.001).  Both take their suffix-order
# neighbours from one ``ranking.global_neighbors`` window; a global row
# number with an rn-keyed adjacency join, ranking through the doubling
# chain, or another pass over the suffix table exceeds it.
_PLAN_BUDGET = {
    "q_maximal_repeat": {"Window": 4, "Exchange": 3, "documents": 2},
    "q_repeat_profile": {"Window": 3, "Exchange": 5, "documents": 3},
}


@pytest.mark.parametrize("slug", sorted(_PLAN_BUDGET))
def test_lcp_consumer_plan_budget(spark, sf_dir, slug):
    got = plan_counts(QUERIES[slug](spark, sf_dir), "documents")
    budget = _PLAN_BUDGET[slug]
    assert all(got[k] <= budget[k] for k in budget), (got, budget)
