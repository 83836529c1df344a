"""Round-11 operators (VERDICT r10 items #4 + new surface).

q_link_predict_capped: the hub-mitigation path of the wedge family,
previously tested but never oracle-gated, now a declared query whose
self-calibrating p90 caps are replicated inside the DuckDB oracle.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from nomad_event_streamer_spark.plans import ORACLES, QUERIES

SF = "/root/testdata/sf0.001"


class TestLinkPredictCapped:
    def test_oracle_parity_sf0001(self, spark):
        from tests.oracle_compare import compare, duckdb_connection

        con = duckdb_connection(SF)
        compare(QUERIES["q_link_predict_capped"](spark, SF), con,
                ORACLES["q_link_predict_capped"])

    def test_caps_actually_prune(self, spark):
        """The point of the query is the guarded path: at the fixture,
        the p90 cell cap must drop at least one hot cell (so the pair
        join runs on a strictly smaller input than the uncapped
        sibling's)."""
        from nomad_event_streamer_spark.tables import events

        cell = (
            events(spark, SF)
            .select(
                "user_id",
                "event_type",
                F.expr("ts_us div 3600000000").alias("h"),
            )
            .distinct()
        )
        cs = cell.groupBy("event_type", "h").agg(
            F.count(F.lit(1)).alias("n")
        )
        sizes = sorted(r["n"] for r in cs.collect())
        cap = sizes[max((len(sizes) * 9) // 10, 1) - 1]
        dropped = sum(1 for s in sizes if s > cap)
        assert dropped > 0, (
            "fixture degenerate: p90 cap prunes nothing — cap device "
            "untested"
        )

    def test_differs_from_uncapped(self, spark):
        """Hub mitigation must change the answer on this fixture (if the
        capped and uncapped top-20 coincide, the hash gate would not be
        evidence the guards executed)."""
        capped = {
            tuple(r) for r in QUERIES["q_link_predict_capped"](spark, SF)
            .select("a", "b", "n_common").collect()
        }
        uncapped = {
            tuple(r) for r in QUERIES["q_link_predict"](spark, SF)
            .select("a", "b", "n_common").collect()
        }
        assert capped != uncapped


class TestRankCdfDegenerateInputs:
    """Regression pins for the two divergences scripts/fuzz_families/rankcdf.py
    found on its first runs (round 11)."""

    @staticmethod
    def _sf(tmp_path, frame):
        import os

        import pandas as pd  # noqa: F401

        d = tmp_path / "sf_degenerate"
        d.mkdir()
        for name in os.listdir(SF):
            os.symlink(os.path.join(SF, name), d / name)
        os.unlink(d / "events.parquet")
        frame.to_parquet(d / "events.parquet", index=False)
        return str(d)

    def test_one_variant_emits_null_ratio_in_both_engines(
        self, spark, tmp_path
    ):
        """n1 == 0 (every user even): ANSI Spark raised DIVIDE_BY_ZERO
        on ks_d / w1_cents while DuckDB answered — both must emit NULL."""
        import pandas as pd

        ev = pd.read_parquet(f"{SF}/events.parquet")
        ev["user_id"] = ev["user_id"] * 2
        sf_dir = self._sf(tmp_path, ev)

        from tests.oracle_compare import compare, duckdb_connection

        con = duckdb_connection(sf_dir)
        for slug in ("q_mann_whitney_ks", "q_wasserstein1"):
            df = QUERIES[slug](spark, sf_dir)
            [row] = df.collect()
            assert row["n1"] == 0
            ratio = row["ks_d"] if slug == "q_mann_whitney_ks" else row["w1_cents"]
            assert ratio is None
            compare(df, con, ORACLES[slug])

    def test_null_values_carry_no_rank_mass(self, spark, tmp_path):
        """A NULL-cents group entered the prefix sums where the engines
        order NULLs differently (Spark NULLS FIRST vs DuckDB NULLS
        LAST); NULL values are excluded in both engines, and n0/n1
        count only non-NULL rows."""
        import pandas as pd

        ev = pd.read_parquet(f"{SF}/events.parquet")
        ev.loc[ev.index[::3], "value"] = None
        sf_dir = self._sf(tmp_path, ev)

        from tests.oracle_compare import compare, duckdb_connection

        con = duckdb_connection(sf_dir)
        n_nonnull = int(ev["value"].notna().sum())
        for slug in ("q_mann_whitney_ks", "q_wasserstein1"):
            df = QUERIES[slug](spark, sf_dir)
            [row] = df.collect()
            assert row["n0"] + row["n1"] == n_nonnull
            compare(df, con, ORACLES[slug])

    def test_empty_input_one_null_row_in_both_engines(
        self, spark, tmp_path
    ):
        """Empty events: both engines emit exactly ONE row of NULL
        aggregates (the W1 oracle's aggregate-CTE shape — a GROUP BY
        would emit zero rows on this input while Spark emits one)."""
        import pandas as pd

        ev = pd.read_parquet(f"{SF}/events.parquet").iloc[:0]
        sf_dir = self._sf(tmp_path, ev)

        from tests.oracle_compare import compare, duckdb_connection

        con = duckdb_connection(sf_dir)
        for slug in ("q_mann_whitney_ks", "q_wasserstein1"):
            df = QUERIES[slug](spark, sf_dir)
            rows = df.collect()
            assert len(rows) == 1
            assert rows[0]["n0"] is None
            compare(df, con, ORACLES[slug])


class TestRound11StatsBattery:
    """Oracle parity at sf0.001 for the round-11 additions (the driver
    covers sf0.01; this pins a second scale) plus device-level pins."""

    SLUGS = [
        "q_runs_test",
        "q_peak_hours",
        "q_hurst_rs",
        "q_gap_bitlen_hist",
        "q_cochran_armitage",
        "q_mk_trend",
        "q_fleiss_kappa",
        "q_clustering_coeff",
        "q_ams_f2",
    ]

    def test_oracle_parity_sf0001(self, spark):
        from tests.oracle_compare import compare, duckdb_connection

        con = duckdb_connection(SF)
        for slug in self.SLUGS:
            compare(QUERIES[slug](spark, SF), con, ORACLES[slug])

    def test_runs_test_invariants(self, spark):
        [row] = QUERIES["q_runs_test"](spark, SF).collect()
        assert row["n_obs"] == row["n_above"] + row["n_below"]
        assert 0 < row["n_runs"] <= row["n_obs"]

    def test_hurst_full_blocks_only(self, spark):
        rows = QUERIES["q_hurst_rs"](spark, SF).collect()
        assert [r["w"] for r in rows] == sorted(r["w"] for r in rows)
        for r in rows:
            # range of cumulative deviations is bounded by total abs dev
            assert r["sum_range"] <= r["sum_absdev"]
            assert r["rs_ppm"] <= 1_000_000

    def test_ams_estimator_is_unbiased_shape(self, spark):
        [row] = QUERIES["q_ams_f2"](spark, SF).collect()
        assert row["f2_exact"] > 0 and row["f2_est"] > 0
        # 16 averaged estimators land within a loose constant factor
        assert 0.2 * row["f2_exact"] < row["f2_est"] < 5 * row["f2_exact"]

    def test_clustering_coeff_bounds(self, spark):
        rows = QUERIES["q_clustering_coeff"](spark, SF).collect()
        assert rows
        for r in rows:
            assert 0 <= r["cc_ppm"] <= 1_000_000
            assert r["d"] >= 2


class TestRound11MachineryOps:
    SLUGS = [
        "q_image_quadtree",
        "q_audio_vad_frames",
        "q_perceptron_rounds",
        "q_consistent_hash_ring",
    ]

    def test_oracle_parity_sf0001(self, spark):
        from tests.oracle_compare import compare, duckdb_connection

        con = duckdb_connection(SF)
        for slug in self.SLUGS:
            compare(QUERIES[slug](spark, SF), con, ORACLES[slug])

    def test_quadtree_leaf_algebra(self, spark):
        for r in QUERIES["q_image_quadtree"](spark, SF).collect():
            assert r["n_split1"] + r["n_leaf1"] == 4
            assert (
                r["n_leaf2_flat"] + r["n_leaf2_dense"] == 4 * r["n_split1"]
            )
            assert r["total_leaves"] == (
                r["n_leaf1"] + r["n_leaf2_flat"] + r["n_leaf2_dense"]
            )

    def test_perceptron_learns(self, spark):
        rows = QUERIES["q_perceptron_rounds"](spark, SF).collect()
        assert [r["r"] for r in rows] == [1, 2, 3, 4, 5]
        # round-1 update fires on every row (zero weights misclassify all)
        assert rows[0]["mistakes"] == 500

    def test_ring_rebalance_is_minimal(self, spark):
        rows = QUERIES["q_consistent_hash_ring"](spark, SF).collect()
        n = sum(r["n_users_8"] for r in rows)
        assert n == sum(r["n_users_9"] for r in rows)
        moved = sum(r["moved_in"] for r in rows)
        # consistent hashing moves ~1/9 of keys; allow a wide band but
        # far below the ~8/9 a mod-N reshard would move
        assert moved < n // 3
        [s9] = [r for r in rows if r["shard"] == 9]
        assert s9["n_users_8"] == 0 and s9["n_users_9"] == s9["moved_in"]


class TestRound11DataPrepOps:
    SLUGS = [
        "q_decile_lift",
        "q_l_moments",
        "q_cumulative_distinct",
        "q_negative_sampling",
    ]

    def test_oracle_parity_sf0001(self, spark):
        from tests.oracle_compare import compare, duckdb_connection

        con = duckdb_connection(SF)
        for slug in self.SLUGS:
            compare(QUERIES[slug](spark, SF), con, ORACLES[slug])

    def test_decile_lift_monotone_cumulative(self, spark):
        rows = QUERIES["q_decile_lift"](spark, SF).orderBy("decile").collect()
        assert [r["decile"] for r in rows] == list(range(len(rows)))
        cums = [r["cum_conv"] for r in rows]
        assert cums == sorted(cums)
        # the final cumulative bucket IS the base rate: lift == 1000 milli
        assert rows[-1]["cum_lift_milli"] == 1000

    def test_l_moments_scale_positive(self, spark):
        [row] = QUERIES["q_l_moments"](spark, SF).collect()
        assert row["l2"] is not None and row["l2"] > 0  # dispersion > 0
        # L-skewness bounded: |t3| < 1 for any sample
        assert abs(row["l3"] / row["l2"]) < 1

    def test_cumulative_distinct_ends_at_user_count(self, spark):
        from nomad_event_streamer_spark.tables import load

        rows = (
            QUERIES["q_cumulative_distinct"](spark, SF)
            .orderBy("day")
            .collect()
        )
        n_users = (
            load(spark, SF, "events").select("user_id").distinct().count()
        )
        assert rows[-1]["cum_users"] == n_users
        assert sum(r["new_users"] for r in rows) == n_users

    def test_negative_sampling_two_per_user(self, spark):
        rows = QUERIES["q_negative_sampling"](spark, SF).collect()
        from nomad_event_streamer_spark.tables import load

        ev = load(spark, SF, "events")
        n_users = ev.select("user_id").distinct().count()
        n_types = ev.select("event_type").distinct().count()
        total_neg = sum(r["n_neg_samples"] for r in rows)
        # every user has >= 2 unobserved types at this fixture iff their
        # positive count <= n_types - 2; the census must never exceed 2/user
        assert total_neg <= 2 * n_users
        assert len(rows) == n_types


def test_global_rank_div_bucket_handles_negative_keys(spark):
    """q_l_moments ranks possibly-NEGATIVE cents with bucket =
    x div 2^20 — valid because truncation-toward-zero div is monotone
    non-decreasing even across the sign boundary (bit_length is NOT:
    every negative long has bin() length 64).  Pin the device on a
    sign-straddling key set."""
    import pyspark.sql.functions as F

    from nomad_event_streamer_spark.operators import ranking

    vals = [-(2**21), -3, -1, 0, 1, 5, 2**20, 2**22]
    df = spark.createDataFrame([(v, i) for i, v in enumerate(vals)],
                               "x long, tie long")
    ranked = ranking.global_row_number(
        df,
        [F.col("x").asc(), F.col("tie").asc()],
        bucket=F.expr("x div 1048576"),
        out_col="rn",
    )
    got = {r["x"]: r["rn"] for r in ranked.collect()}
    expect = {v: i + 1 for i, v in enumerate(sorted(vals))}
    assert got == expect
