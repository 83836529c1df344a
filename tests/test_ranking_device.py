"""Focused pins for the round-12 ranking-device internals.

The optimization round replaced ``suffix.dense_rank_classes`` (distinct
+ bucketed rank + token-scale join-back) with
``ranking.global_dense_rank`` (one bucketed window + a distinct-count
offset table) bucketed by ``ranking.bitlen_subbucket``.  The driver
hash gate proves the consuming queries end-to-end; these tests pin the
device's two load-bearing contracts in isolation so a future edit
cannot drift on inputs the corpus does not cover:

- ``bitlen_subbucket`` must be MONOTONE (a bigger key never gets a
  smaller bucket) and a pure function of the key (equal keys share a
  bucket) — the ``global_row_number``/``global_dense_rank`` bucket
  contract; and it must actually split the top bitlength class (the
  skew reason it exists, guide §2.5).
- ``global_dense_rank`` must equal a plain partitionless
  ``dense_rank()`` on every input, including tie-heavy ones.
- ``global_neighbors`` must give every row the predecessor and
  successor a plain sort of the collected rows gives, across empty,
  one-row and struct-keyed buckets.
"""

from __future__ import annotations

import random

from pyspark.sql import Window
from pyspark.sql import functions as F

from nomad_event_streamer_spark.operators import ranking
from nomad_event_streamer_spark.operators import suffix as sfx
from nomad_event_streamer_spark.plans import ORACLES, QUERIES


class TestBitlenSubbucket:
    def test_monotone_and_pure(self, spark):
        vals = (
            list(range(1, 3001))
            + [(1 << 20) + d for d in range(-3, 4)]
            + [(1 << 40) + d for d in range(-3, 4)]
            + [(1 << 62) + d for d in range(-3, 4)]
        )
        df = spark.createDataFrame([(v,) for v in vals], "v long")
        rows = (
            df.select("v", ranking.bitlen_subbucket(F.col("v")).alias("b"))
            .orderBy("v")
            .collect()
        )
        prev = None
        for r in rows:
            assert prev is None or r.b >= prev, (r.v, r.b, prev)
            prev = r.b

    def test_splits_top_class(self, spark):
        # dense ranks uniform over [1, 100000]: plain bitlength puts
        # ~half the keys in one bucket; the subbucket must cap the
        # largest bucket near 1/2^sub_bits of the key space
        df = spark.range(1, 100001).select(F.col("id").alias("v"))
        top = (
            df.select(ranking.bitlen_subbucket(F.col("v")).alias("b"))
            .groupBy("b")
            .count()
            .agg(F.max("count"))
            .collect()[0][0]
        )
        assert top <= 100000 // 16, top  # sub_bits=5 => <= ~1/32 + slack


class TestGlobalDenseRank:
    def test_matches_partitionless_dense_rank(self, spark):
        rnd = random.Random(12)
        # tie-heavy pairs: few distinct r1 classes, repeated r2
        pairs = [
            (rnd.randint(1, 300), rnd.randint(1, 40)) for _ in range(4000)
        ]
        df = spark.createDataFrame(pairs, "r1 long, r2 long")
        got = ranking.global_dense_rank(
            df, ["r1", "r2"], ranking.bitlen_subbucket(F.col("r1")), "rk"
        )
        w = Window.orderBy(F.col("r1").asc(), F.col("r2").asc())
        exp = df.withColumn("rk", F.dense_rank().over(w))
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, exp.collect())
        )

    def test_ranks_are_dense_from_one(self, spark):
        df = spark.createDataFrame(
            [(v,) for v in (5, 5, 9, 1000, 1 << 40, 9)], "r1 long"
        )
        got = ranking.global_dense_rank(
            df, ["r1"], ranking.bitlen_subbucket(F.col("r1")), "rk"
        )
        ranks = sorted({r.rk for r in got.collect()})
        assert ranks == [1, 2, 3, 4]


class TestGlobalNeighbors:
    """Referee: sort the collected rows in Python; each row's ``prev`` /
    ``next`` must be the rows beside it, ``None`` at the two ends."""

    def _check(self, spark, rows, bucket):
        df = spark.createDataFrame(rows, "k long, v string")
        got = {
            r.k: (r.prev and tuple(r.prev), r.next and tuple(r.next))
            for r in ranking.global_neighbors(
                df, [F.col("k").asc()], bucket, ["k", "v"]
            ).collect()
        }
        # ascending with NULLs first, as Spark sorts
        srt = sorted(rows, key=lambda r: (r[0] is not None, r[0] or 0))
        want = {
            k: (
                srt[i - 1] if i > 0 else None,
                srt[i + 1] if i + 1 < len(srt) else None,
            )
            for i, (k, _) in enumerate(srt)
        }
        assert got == want

    def test_empty_buckets_between_full_ones(self, spark):
        # keys in buckets 0, 3, 4 and 9 of k div 10; 1-2 and 5-8 empty
        rows = [(k, f"v{k}") for k in (1, 5, 9, 30, 31, 45, 90, 99)]
        self._check(spark, rows, F.expr("k div 10"))

    def test_one_row_buckets(self, spark):
        rows = [(k, f"v{k}") for k in (3, 14, 15, 27, 58, 61, 62, 63)]
        self._check(spark, rows, F.expr("k div 10"))

    def test_one_bucket(self, spark):
        rnd = random.Random(16)
        rows = [(k, f"v{k}") for k in rnd.sample(range(1000), 200)]
        self._check(spark, rows, F.lit(0))

    def test_every_row_its_own_bucket(self, spark):
        rnd = random.Random(17)
        rows = [(k, f"v{k}") for k in rnd.sample(range(1000), 200)]
        self._check(spark, rows, F.col("k"))

    def test_null_carried_values(self, spark):
        # a NULL carried value is a real neighbour, not "no neighbour"
        rows = [(k, None if k % 3 else f"v{k}") for k in range(0, 120, 7)]
        self._check(spark, rows, F.expr("k div 16"))

    def test_null_sort_key_in_null_bucket(self, spark):
        rows = [(None, "n"), (1, "a"), (70, "b"), (71, None)]
        self._check(spark, rows, F.expr("k div 64"))

    def test_empty_and_single_row_frames(self, spark):
        self._check(spark, [], F.expr("k div 10"))
        self._check(spark, [(7, None)], F.expr("k div 10"))

    def test_struct_bucket_suffix_order(self, spark):
        docs = [
            (1, "a b c a b"),
            (2, "a b c a b"),
            (3, "b a"),
            (4, "x"),
            (5, "a  b"),
            (6, "c c c"),
        ]
        suf = sfx.suffix_arrays(
            spark.createDataFrame(docs, "doc_id long, text string"), 3
        )
        got = {
            (r.doc_id, r.pos): (
                r.prev and tuple(r.prev),
                r.next and tuple(r.next),
            )
            for r in ranking.global_neighbors(
                suf,
                [
                    F.col("sarr").asc(),
                    F.col("doc_id").asc(),
                    F.col("pos").asc(),
                ],
                sfx.suffix_array_bucket(F.col("sarr")),
                ["doc_id", "pos"],
            ).collect()
        }
        srt = sorted(
            (tuple(t.split(" ")[p - 1 : p + 7]), d, p)
            for d, t in docs
            for p in range(1, len(t.split(" ")) + 1)
        )
        keys = [(d, p) for _, d, p in srt]
        want = {
            k: (
                keys[i - 1] if i > 0 else None,
                keys[i + 1] if i + 1 < len(keys) else None,
            )
            for i, k in enumerate(keys)
        }
        assert got == want

    def test_consumers_match_oracle_sf0001(self, spark, sf_dir):
        from tests.oracle_compare import compare, duckdb_connection

        con = duckdb_connection(sf_dir)
        for slug in ("q_peak_hours", "q_runs_test"):
            compare(QUERIES[slug](spark, sf_dir), con, ORACLES[slug])
