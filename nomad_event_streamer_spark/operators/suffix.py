"""Suffix ranking over direct suffix arrays, for exact-substring dedup
(Lee et al. 2022 §4): every document suffix is carried as its token
array, truncated at ``2^rounds`` tokens, so equal arrays are equal
tails and rank-adjacent suffixes maximize the longest common prefix —
the machinery maximal-repeat and exact-substring dedup need.

The ranks are the ones prefix doubling (Manber & Myers 1993; Flick &
Aluru SC'15) reaches after ``rounds`` rounds; ``suffix_cte`` unrolls
those rounds as the DuckDB oracle, and ``tests/test_round13_suffix.py``
keeps a Spark doubling chain as the referee.  The direct form is exact
only for documents of at most ``2^rounds`` tokens, which the suffix
queries guard loudly (``plans/corpus_queries._suffix_guard``).

Design for 100 TB: one narrow pass over ``documents`` (split +
posexplode + slice, no shuffle) feeding one bucketed global rank
(``operators/ranking.py``, never a partitionless window).

Reference parity: the reference pipeline (app.rb:1-278) has no text
indexing at all; this is EXT surface for the LLM-dedup north star.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

__all__ = [
    "suffix_arrays",
    "suffix_array_bucket",
    "suffix_cte",
]


def suffix_arrays(docs: DataFrame, rounds: int) -> DataFrame:
    """(doc_id, pos, sarr): every suffix's token array, truncated at
    ``2^rounds`` tokens — the direct form of the prefix-doubling key.

    Equivalence with ``rounds`` doubling rounds: round ``rounds``
    dense-ranks suffixes by their zero-PADDED ``2^rounds``-token prefix
    under the chained pair order (r1, r2), which by induction is the
    elementwise order of the padded token-rank sequence with pad = 0
    sorting below every real rank.  Spark's array<string> ordering is
    exactly that order: elementwise by token (rank order = token string
    order, dense_rank is order-preserving) and a shorter array that is
    a prefix of a longer one sorts FIRST (pad-0 semantics).  Equality
    classes also coincide (padded prefix tuples are equal iff the
    truncated arrays are equal).  Therefore ``global_dense_rank`` over
    ``sarr`` yields bit-identical ranks to the doubling chain — pinned
    by tests/test_round13_suffix.py and the ``suffix_cte`` oracle.

    Cost: one narrow pass over ``documents`` (split + posexplode +
    slice, no shuffle) feeding a single bucketed rank.  A shuffled row
    carries a <= 2^rounds-token array (~L/2 tokens on average) where a
    doubling round carries one long, but the O(log L) window+rank
    rounds, ~5 shuffles each, and their barriers are gone."""
    cap = 1 << rounds
    return docs.select(
        "doc_id", F.split("text", " ").alias("__arr")
    ).select(
        "doc_id",
        F.posexplode("__arr").alias("p0", "__tok"),
        "__arr",
    ).select(
        "doc_id",
        (F.col("p0") + 1).alias("pos"),
        F.slice("__arr", F.col("p0") + 1, cap).alias("sarr"),
    )


def suffix_array_bucket(col) -> "F.Column":
    """Monotone, pure bucket for the ``operators/ranking.py`` devices
    over a suffix-array key: (first token, second token or "").  A
    prefix of the leading sort key, so ordering is preserved; equal
    arrays always share a bucket; <= vocab^2 classes (the offsets table
    stays driver-scale).  The null second token of a length-1 suffix is
    coalesced to "" — the minimum string — matching the shorter-prefix-
    sorts-first array order, and never joining on a null struct field.
    (``try_element_at``: ANSI mode makes plain ``element_at`` throw on
    the out-of-bounds second token of a length-1 suffix.)"""
    return F.struct(
        F.try_element_at(col, F.lit(1)).alias("b1"),
        F.coalesce(F.try_element_at(col, F.lit(2)), F.lit("")).alias("b2"),
    )


def suffix_cte(rounds: int) -> str:
    """DuckDB CTE chain of the prefix-doubling ranks: ``t`` (token
    positions), ``lv0`` .. ``lv{rounds}``, where ``lv{j}`` dense-ranks
    each suffix by its zero-padded ``2^j``-token prefix.  Callers append
    their own consuming CTEs / SELECT."""
    parts = [
        """t AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM documents
    )""",
        """lv0 AS (
        SELECT doc_id, pos,
               CAST(dense_rank() OVER (ORDER BY tok) AS BIGINT) AS r
        FROM t
    )""",
    ]
    for j in range(rounds):
        h = 1 << j
        parts.append(
            f"""lv{j + 1} AS (
        SELECT a.doc_id, a.pos,
               CAST(dense_rank() OVER (ORDER BY a.r, coalesce(b.r, 0))
                    AS BIGINT) AS r
        FROM lv{j} a LEFT JOIN lv{j} b
          ON b.doc_id = a.doc_id AND b.pos = a.pos + {h}
    )"""
        )
    return "WITH " + ",\n    ".join(parts)
