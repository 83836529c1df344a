"""Round-9c operator referees: Hilbert-curve index (textbook xy2d
referee + curve-property pins + the span win over Z-order that justifies
the operator), md5-device video shot detection, and the stream-stream
LEFT OUTER join's watermark-eviction rule."""

from __future__ import annotations

import glob
import hashlib
import os

import pandas as pd
import pyspark.sql.functions as F

from nomad_event_streamer_spark.operators.hilbert import (
    hilbert_expr,
    write_hilbert_clustered,
)
from nomad_event_streamer_spark.plans import QUERIES
from nomad_event_streamer_spark.tables import load

SF = "/root/testdata/sf0.001"


def _hilbert_index_py(x: int, y: int, order: int = 8) -> int:
    """Pure-python referee (textbook xy2d) — shares no code with either
    engine path."""
    n = 1 << order
    rx = ry = 0
    d = 0
    s = n // 2
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x = n - 1 - x
                y = n - 1 - y
            x, y = y, x
        s //= 2
    return d


class TestHilbertIndex:
    def test_spark_matches_textbook_referee(self, spark):
        rows = [(x, y) for x in range(0, 256, 17) for y in range(0, 256, 13)]
        df = spark.createDataFrame(rows, "hx: long, hy: long")
        got = {
            (r["hx"], r["hy"]): r["d"]
            for r in df.select(
                "hx", "hy", hilbert_expr("hx", "hy", 8).alias("d")
            ).collect()
        }
        for (x, y), d in got.items():
            assert d == _hilbert_index_py(x, y, 8), (x, y)

    def test_bijective_and_curve_adjacent_order4(self, spark):
        """The two properties that make Hilbert better than Morton:
        a bijection onto 0..n²-1 and NO long jumps (consecutive curve
        positions are grid neighbors — Morton violates this at every
        quadrant seam)."""
        ref = {
            (x, y): _hilbert_index_py(x, y, 4)
            for x in range(16)
            for y in range(16)
        }
        assert sorted(ref.values()) == list(range(256))
        inv = {d: p for p, d in ref.items()}
        for d in range(255):
            (x1, y1), (x2, y2) = inv[d], inv[d + 1]
            assert abs(x1 - x2) + abs(y1 - y2) == 1

    def test_hilbert_buckets_tighter_than_zorder(self, spark):
        """The operator's reason to exist, pinned on the dense 256x256
        grid (data-free, deterministic): 48 equal curve segments (1365
        cells — NOT a power of 4) have strictly smaller summed
        bounding-box AREA under Hilbert than under Morton, i.e. fewer
        files overlap a 2-D range predicate.  (At 4^k-aligned segment
        sizes both curves tile into identical quadrant blocks and the
        comparison degenerates to equality — measured, which is why the
        registered query cuts 48 segments, not 64.)"""
        from nomad_event_streamer_spark.operators.zorder import (
            interleave_bits,
        )

        grid = spark.range(0, 256 * 256).select(
            F.expr("id div 256").alias("hx"),
            (F.col("id") % 256).alias("hy"),
        )

        def area(df, code):
            rows = (
                df.groupBy(F.expr("c div 1365").alias("b"))
                .agg(
                    (F.max("hx") - F.min("hx") + 1).alias("sx"),
                    (F.max("hy") - F.min("hy") + 1).alias("sy"),
                )
                .collect()
            )
            return sum(r["sx"] * r["sy"] for r in rows)

        h = grid.withColumn("c", hilbert_expr("hx", "hy", 8))
        z = grid.withColumn(
            "c", interleave_bits(F.col("hx"), F.col("hy"), 8)
        )
        ha, za = area(h, "c"), area(z, "c")
        assert ha < za, (ha, za)
        # the win is large, not marginal (measured 97k vs 173k)
        assert ha * 3 < za * 2

    def test_clustered_files_narrow_footer_stats(self, spark, tmp_path):
        import pyarrow.parquet as pq_meta

        li = load(spark, SF, "lineitem").select("l_partkey", "l_suppkey")
        lo_a, hi_a, lo_b, hi_b = li.agg(
            F.min("l_partkey"),
            F.max("l_partkey"),
            F.min("l_suppkey"),
            F.max("l_suppkey"),
        ).collect()[0]
        out = str(tmp_path / "hilberted")
        write_hilbert_clustered(
            li, out, "l_partkey", "l_suppkey",
            lo_a, hi_a, lo_b, hi_b, num_files=8,
        )
        files = glob.glob(os.path.join(out, "part-*.parquet"))
        assert len(files) >= 4
        spreads_pk, spreads_sk = [], []
        for f in files:
            md = pq_meta.ParquetFile(f).metadata
            mins = {"l_partkey": [], "l_suppkey": []}
            maxs = {"l_partkey": [], "l_suppkey": []}
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    col = md.row_group(rg).column(ci)
                    name = col.path_in_schema
                    if name in mins and col.statistics is not None:
                        mins[name].append(col.statistics.min)
                        maxs[name].append(col.statistics.max)
            spreads_pk.append(max(maxs["l_partkey"]) - min(mins["l_partkey"]))
            spreads_sk.append(max(maxs["l_suppkey"]) - min(mins["l_suppkey"]))
        avg_pk = sum(spreads_pk) / len(spreads_pk)
        avg_sk = sum(spreads_sk) / len(spreads_sk)
        assert avg_pk < 0.8 * (hi_a - lo_a)
        assert avg_sk < 0.8 * (hi_b - lo_b)


class TestVideoShotDetect:
    @staticmethod
    def _luma(doc_id: int, t: int) -> int:
        base = (
            int(
                hashlib.md5(f"{doc_id}:{t // 8}".encode()).hexdigest()[:6],
                16,
            )
            % 200
        )
        noise = (
            int(hashlib.md5(f"{doc_id}#{t}".encode()).hexdigest()[:6], 16)
            % 16
        )
        return base + noise

    def test_matches_pure_python_detector(self, spark):
        docs = pd.read_parquet(f"{SF}/documents.parquet")
        expected = {}
        for doc_id in docs["doc_id"]:
            d = int(doc_id)
            lumas = [self._luma(d, t) for t in range(32)]
            cuts = [
                t
                for t in range(1, 32)
                if abs(lumas[t] - lumas[t - 1]) > 32
            ]
            bounds = [0] + cuts + [32]
            lens = [b - a for a, b in zip(bounds, bounds[1:])]
            expected[d] = (
                len(cuts) + 1,
                cuts[0] if cuts else -1,
                max(lens),
                sum(lumas),
            )
        got = {
            r["doc_id"]: (
                r["n_shots"],
                r["first_cut"],
                r["longest_shot"],
                r["luma_mass"],
            )
            for r in QUERIES["q_video_shot_detect"](spark, SF).collect()
        }
        assert got == expected

    def test_noise_never_cuts_within_scene(self, spark):
        """Intra-scene |delta| <= 15 < 32 by construction: every cut the
        detector reports must sit on a scene seam (t % 8 == 0)."""
        rows = QUERIES["q_video_shot_detect"](spark, SF).collect()
        for r in rows:
            if r["first_cut"] != -1:
                assert r["first_cut"] % 8 == 0


class TestStreamOuterJoin:
    def test_eviction_rule(self, spark):
        """Final emitted set = batch matches + null rows for exactly
        the unmatched purchases older than the final global watermark
        (min over both inputs of max event time, minus the 30 min
        delay); the younger unmatched tail is withheld by design."""
        import duckdb

        rows = QUERIES["q_stream_outer_join"](spark, SF).collect()
        matched = {
            (r["purchase_id"], r["click_id"])
            for r in rows
            if r["click_id"] is not None
        }
        nulls = {r["purchase_id"] for r in rows if r["click_id"] is None}
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW events AS SELECT * FROM "
            f"read_parquet('{SF}/events.parquet')"
        )
        exp_m = {
            (a, b)
            for a, b in con.execute(
                """SELECT p.event_id, c.event_id FROM events p
                   JOIN events c ON p.user_id = c.user_id
                    AND p.event_type='purchase' AND c.event_type='click'
                    AND epoch_us(c.ts) BETWEEN epoch_us(p.ts) - 3600000000
                                           AND epoch_us(p.ts)"""
            ).fetchall()
        }
        assert matched == exp_m
        [cut] = con.execute(
            """SELECT least(
                 max(CASE WHEN event_type='click' THEN epoch_us(ts) END),
                 max(CASE WHEN event_type='purchase' THEN epoch_us(ts) END)
               ) - 1800000000 FROM events"""
        ).fetchone()
        exp_nulls = {
            r[0]
            for r in con.execute(
                f"""SELECT p.event_id FROM events p
                    WHERE p.event_type='purchase'
                      AND epoch_us(p.ts) < {cut}
                      AND NOT EXISTS (
                        SELECT 1 FROM events c
                        WHERE c.user_id = p.user_id
                          AND c.event_type='click'
                          AND epoch_us(c.ts)
                              BETWEEN epoch_us(p.ts) - 3600000000
                                  AND epoch_us(p.ts))"""
            ).fetchall()
        }
        assert nulls == exp_nulls
