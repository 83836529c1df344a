"""Round-12 operators (VERDICT r11 items #1/#6).

q_adamic_adar_capped: the second wedge consumer gains the hub-guarded
path, closing the registry's last unguarded quadratic-in-degree plan.
The self-calibrating p90 caps are replicated inside the DuckDB oracle
(the q_link_predict_capped device).
"""

from __future__ import annotations

import pyspark.sql.functions as F

from nomad_event_streamer_spark.plans import ORACLES, QUERIES
from scripts.fuzz_families import suffix as suffix_family

SF = "/root/testdata/sf0.001"


class TestAdamicAdarCapped:
    def test_oracle_parity_sf0001(self, spark):
        from tests.oracle_compare import compare, duckdb_connection

        con = duckdb_connection(SF)
        compare(QUERIES["q_adamic_adar_capped"](spark, SF), con,
                ORACLES["q_adamic_adar_capped"])

    def test_differs_from_uncapped(self, spark):
        """Hub mitigation must change the answer on this fixture — if
        the capped and uncapped top-20 coincide the hash gate would not
        be evidence the guards executed."""
        capped = {
            tuple(r) for r in QUERIES["q_adamic_adar_capped"](spark, SF)
            .select("a", "b", "aa_milli").collect()
        }
        uncapped = {
            tuple(r) for r in QUERIES["q_adamic_adar"](spark, SF)
            .select("a", "b", "aa_milli").collect()
        }
        assert capped != uncapped

    def test_common_neighbors_monotone_under_caps(self, spark):
        """The caps only EXCLUDE evidence, never invent it: the capped
        graph's edge set is a subset of the uncapped one (the cell cap
        removes pair-count contributions and the edge rule is a >=
        threshold), and the degree cap removes wedge middles — so on a
        pair both variants rank, capped n_common <= uncapped n_common.
        (aa_milli is deliberately NOT monotone: smaller capped degrees
        mean smaller bit_lengths and thus LARGER per-middle weights —
        the weights track the capped graph, which is the point.)"""
        capped = {
            (r["a"], r["b"]): r["n_common"]
            for r in QUERIES["q_adamic_adar_capped"](spark, SF).collect()
        }
        uncapped = {
            (r["a"], r["b"]): r["n_common"]
            for r in QUERIES["q_adamic_adar"](spark, SF).collect()
        }
        shared = set(capped) & set(uncapped)
        for key in shared:
            assert capped[key] <= uncapped[key]

    def test_degree_cap_prunes_middles(self, spark):
        """The p90 degree cap must exclude at least one hub middle at
        the DRIVER fixture sf0.01 (else the guarded path the hash gate
        verifies is untested; sf0.001's graph is too small — its max
        degree IS the p90, 0 vertices dropped — so this pin runs at
        the same scale as the correctness gate: 15 hubs dropped)."""
        from nomad_event_streamer_spark.operators.graph import (
            coactivity_edges,
        )
        from nomad_event_streamer_spark.plans.graph_queries import (
            _LP_MIN_CELLS,
            _p90,
        )
        from nomad_event_streamer_spark.tables import events

        cell = (
            events(spark, "/root/testdata/sf0.01")
            .select(
                "user_id",
                "event_type",
                F.expr("ts_us div 3600000000").alias("h"),
            )
            .distinct()
        )
        cs = cell.groupBy("event_type", "h").agg(
            F.count(F.lit(1)).cast("long").alias("n")
        )
        cap_cell = _p90(cs, "n", [F.col("event_type"), F.col("h")])
        e = coactivity_edges(
            cell, min_cells=_LP_MIN_CELLS, max_cell=cap_cell
        )
        nb = e.select(F.col("a").alias("x")).unionAll(
            e.select(F.col("b").alias("x"))
        )
        deg = nb.groupBy("x").agg(F.count(F.lit(1)).cast("long").alias("d"))
        cap_deg = _p90(deg, "d", [F.col("x")])
        dropped = deg.where(F.col("d") > cap_deg).count()
        assert dropped > 0, (
            "fixture degenerate: p90 degree cap prunes nothing — cap "
            "device untested"
        )


class TestSurvivalKmRiskTable:
    """VERDICT r11 item #3: the KM risk table must come from the
    histogram + suffix-sum device, not the 48x broadcast-nested-loop
    expansion of the per-user table."""

    def test_no_bnlj_in_risk_plan(self, spark):
        from nomad_event_streamer_spark.plans.analytics_queries import (
            _km_risk_table,
        )

        obs = spark.createDataFrame(
            [(0, 1), (3, 1), (3, 0), (48, 0), (47, 1)], "obs long, ev long"
        )
        rk = _km_risk_table(spark, obs, 48)
        plan = rk._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" not in plan, (
            "risk table regressed to the theta-join expansion"
        )

    def test_risk_values_match_definition(self, spark):
        from nomad_event_streamer_spark.plans.analytics_queries import (
            _km_risk_table,
        )

        data = [(0, 1), (3, 1), (3, 0), (48, 0), (47, 1), (5, 0)]
        obs = spark.createDataFrame(data, "obs long, ev long")
        got = {
            r["t"]: (r["n_risk"], r["d"])
            for r in _km_risk_table(spark, obs, 48).collect()
        }
        for t in range(48):
            n_risk = sum(1 for o, _ in data if o >= t)
            d = sum(1 for o, e in data if o == t and e == 1)
            assert got[t] == (n_risk, d), f"t={t}"

    def test_query_hash_unchanged_sf0001(self, spark):
        from tests.oracle_compare import compare, duckdb_connection

        con = duckdb_connection(SF)
        compare(QUERIES["q_survival_km"](spark, SF), con,
                ORACLES["q_survival_km"])


def _corpus_tokens(spark):
    import pandas as pd

    docs = pd.read_parquet(f"{SF}/documents.parquet")
    return {
        int(r.doc_id): r.text.split(" ") for r in docs.itertuples()
    }


class TestSuffixReferee:
    """The suffix family's pure-Python referee (shares no engine code,
    no SQL: every suffix tail materialized and sorted, true LCPs of
    neighbors) on the sf0.001 documents, against every column of the
    three registered suffix queries."""

    def test_queries_match_referee(self, spark):
        import pandas as pd

        docs = pd.read_parquet(f"{SF}/documents.parquet")
        ref = suffix_family.referee(
            [(int(d), t) for d, t in zip(docs.doc_id, docs.text)]
        )
        for slug in suffix_family.SLUGS:
            cols = suffix_family.REFEREE_COLS[slug]
            got = QUERIES[slug](spark, SF).select(*cols).collect()
            assert sorted(map(tuple, got)) == sorted(ref[slug]), slug


class TestUnigramReferee:
    """Pure-Python unigram-LM referee: explicit substring counting,
    Viterbi DP with the longest-piece tie-break, M-step recount."""

    @staticmethod
    def _model(toks):
        from collections import Counter

        words = Counter()
        for ts in toks.values():
            for w in ts:
                if w:
                    words[w] += 1
        sub = Counter()
        for w, c in words.items():
            for k in range(1, 5):
                for i in range(len(w) - k + 1):
                    sub[w[i:i + k]] += c
        singles = {p: f for p, f in sub.items() if len(p) == 1}
        multis = sorted(
            ((f, p) for p, f in sub.items() if len(p) > 1),
            key=lambda x: (-x[0], x[1]),
        )[:64]
        vocab = dict(singles)
        vocab.update({p: f for f, p in multis})
        total = sum(vocab.values())
        cost = {
            p: 1000 * (total.bit_length() - f.bit_length())
            for p, f in vocab.items()
        }
        return words, vocab, cost

    def test_fit_matches_referee(self, spark):
        toks = _corpus_tokens(spark)
        _, vocab, cost = self._model(toks)
        want = sorted(
            ((f, p) for p, f in vocab.items()), key=lambda x: (-x[0], x[1])
        )[:20]
        got = (
            QUERIES["q_unigram_lm_fit"](spark, SF).orderBy("rnk").collect()
        )
        for row, (f, p) in zip(got, want):
            assert (row["piece"], row["freq"], row["cost_milli"]) == (
                p,
                f,
                cost[p],
            )

    def test_em_matches_referee(self, spark):
        from collections import Counter

        toks = _corpus_tokens(spark)
        words, vocab, cost = self._model(toks)
        new_cnt = Counter()
        for w, c in words.items():
            n = len(w)
            dp = [0] + [None] * n
            for j in range(1, n + 1):
                best = None
                for k in range(1, min(4, j) + 1):
                    piece = w[j - k:j]
                    if piece in cost and dp[j - k] is not None:
                        cand = dp[j - k] + cost[piece]
                        if best is None or cand < best:
                            best = cand
                dp[j] = best
            j = n
            while j > 0:
                pick = None
                for k in range(1, min(4, j) + 1):
                    piece = w[j - k:j]
                    if piece in cost and dp[j - k] + cost[piece] == dp[j]:
                        pick = k  # max k wins: keep scanning upward
                assert pick is not None
                new_cnt[w[j - pick:j]] += c
                j -= pick
        want = sorted(
            ((new_cnt.get(p, 0), p) for p in vocab),
            key=lambda x: (-x[0], x[1]),
        )[:20]
        got = (
            QUERIES["q_unigram_lm_em"](spark, SF).orderBy("rnk").collect()
        )
        for row, (n, p) in zip(got, want):
            assert (row["piece"], row["seed_freq"], row["new_cnt"]) == (
                p,
                vocab[p],
                n,
            )

    def test_unigram_token_count(self, spark):
        toks = _corpus_tokens(spark)
        words, vocab, cost = TestUnigramReferee._model(toks)
        # per-word Viterbi piece count (same DP as the EM referee)
        wn = {}
        for w in words:
            n = len(w)
            dp = [0] + [None] * n
            for j in range(1, n + 1):
                best = None
                for k in range(1, min(4, j) + 1):
                    piece = w[j - k:j]
                    if piece in cost and dp[j - k] is not None:
                        cand = dp[j - k] + cost[piece]
                        if best is None or cand < best:
                            best = cand
                dp[j] = best
            cnt, j = 0, n
            while j > 0:
                pick = None
                for k in range(1, min(4, j) + 1):
                    piece = w[j - k:j]
                    if piece in cost and dp[j - k] + cost[piece] == dp[j]:
                        pick = k
                cnt += 1
                j -= pick
            wn[w] = cnt
        want = {
            d: sum(wn[w] for w in ts if w) for d, ts in toks.items()
        }
        got = {
            r["doc_id"]: r["n_unigram_tokens"]
            for r in QUERIES["q_unigram_token_count"](spark, SF).collect()
        }
        assert got == want


class TestDsirReferee:
    """q_dsir_weights (R13_QUEUE): oracle parity plus a pure-Python
    referee that replays the hashed-bucket importance weights from the
    raw parquet, independent of both engines."""

    def test_oracle_parity_sf0001(self, spark):
        from tests.oracle_compare import compare, duckdb_connection

        con = duckdb_connection(SF)
        compare(QUERIES["q_dsir_weights"](spark, SF), con,
                ORACLES["q_dsir_weights"])

    def test_python_referee(self, spark):
        import hashlib
        from collections import Counter

        import duckdb

        B = 256
        docs = duckdb.connect().execute(
            f"SELECT doc_id, text, lang FROM "
            f"read_parquet('{SF}/documents.parquet')"
        ).fetchall()

        def bucket(tok: str) -> int:
            return int(hashlib.md5(tok.encode()).hexdigest()[:15], 16) % B

        cr: Counter = Counter()
        ct: Counter = Counter()
        per_doc: dict = {}
        for doc_id, text, lang in docs:
            bs = [bucket(t) for t in text.split(" ") if t]
            per_doc[doc_id] = bs
            cr.update(bs)
            if lang == "en":
                ct.update(bs)
        tr, tt = sum(cr.values()), sum(ct.values())
        k = (tt + B).bit_length() - (tr + B).bit_length()
        want = {
            d: (
                len(bs),
                sum(
                    (ct[b] + 1).bit_length() - (cr[b] + 1).bit_length() - k
                    for b in bs
                ),
            )
            for d, bs in per_doc.items()
        }
        got = {
            r["doc_id"]: (r["n_toks"], r["w_bits"])
            for r in QUERIES["q_dsir_weights"](spark, SF).collect()
        }
        assert got == want


class TestPackAssignReferee:
    """q_pack_assign (R13_QUEUE): oracle parity plus a pure-Python
    first-fit-by-class referee and the packing invariants."""

    def test_oracle_parity_sf0001(self, spark):
        from tests.oracle_compare import compare, duckdb_connection

        con = duckdb_connection(SF)
        compare(QUERIES["q_pack_assign"](spark, SF), con,
                ORACLES["q_pack_assign"])

    def test_python_referee(self, spark):
        import duckdb
        from collections import defaultdict

        docs = duckdb.connect().execute(
            f"SELECT doc_id, text FROM "
            f"read_parquet('{SF}/documents.parquet') ORDER BY doc_id"
        ).fetchall()
        by_cls = defaultdict(list)
        for doc_id, text in docs:
            n = len([t for t in text.split(" ") if t])
            if n == 0:
                continue
            eff = min(n, 128)
            cls = 1 if eff == 1 else 1 << (eff - 1).bit_length()
            by_cls[cls].append(eff)
        want = {}
        for cls, effs in by_cls.items():
            cap = 128 // cls
            for i, eff in enumerate(effs):  # already doc_id-ordered
                key = (cls, i // cap)
                n_docs, sum_tok = want.get(key, (0, 0))
                want[key] = (n_docs + 1, sum_tok + eff)
        want = {
            k: (nd, st, nd * k[0] - st, 128 - nd * k[0])
            for k, (nd, st) in want.items()
        }
        got = {
            (r["cls"], r["window_id"]): (
                r["n_docs"], r["sum_tok"], r["slot_pad"], r["tail_pad"]
            )
            for r in QUERIES["q_pack_assign"](spark, SF).collect()
        }
        assert got == want

    def test_window_invariants(self, spark):
        """Every window respects the 128-token budget: docs*cls <= 128,
        both pads nonnegative, and within a class only the LAST window
        may be partially filled."""
        rows = QUERIES["q_pack_assign"](spark, SF).collect()
        from collections import defaultdict

        per_cls = defaultdict(list)
        for r in rows:
            assert r["n_docs"] * r["cls"] <= 128
            assert r["slot_pad"] >= 0 and r["tail_pad"] >= 0
            per_cls[r["cls"]].append((r["window_id"], r["tail_pad"]))
        for cls, ws in per_cls.items():
            ws.sort()
            ids = [w for w, _ in ws]
            assert ids == list(range(len(ids)))  # dense window ids
            for w, tail in ws[:-1]:
                assert tail == 0, f"non-final window {w} of cls {cls} short"


class TestRendezvousReferee:
    """q_rendezvous_hash (R13_QUEUE): oracle parity, a pure-Python HRW
    referee, and the minimal-migration property the docstring pins."""

    def test_oracle_parity_sf0001(self, spark):
        from tests.oracle_compare import compare, duckdb_connection

        con = duckdb_connection(SF)
        compare(QUERIES["q_rendezvous_hash"](spark, SF), con,
                ORACLES["q_rendezvous_hash"])

    def test_python_referee_and_minimal_migration(self, spark):
        import hashlib

        import duckdb

        users = [
            r[0]
            for r in duckdb.connect().execute(
                f"SELECT DISTINCT user_id FROM "
                f"read_parquet('{SF}/events.parquet')"
            ).fetchall()
        ]

        def w(u, s):
            h = hashlib.md5(f"hrw:{s}:{u}".encode()).hexdigest()
            return int(h[:14], 16) * 16 + s

        n8: dict = {}
        n9: dict = {}
        moved: dict = {}
        for u in users:
            packed = {s: w(u, s) for s in range(1, 10)}
            s8 = max((packed[s] for s in range(1, 9)))
            s9 = max(packed.values())
            s8, s9 = s8 % 16, s9 % 16
            n8[s8] = n8.get(s8, 0) + 1
            n9[s9] = n9.get(s9, 0) + 1
            if s8 != s9:
                moved[s9] = moved.get(s9, 0) + 1
        got = {
            r["shard"]: (r["n_users_8"], r["n_users_9"], r["moved_in"])
            for r in QUERIES["q_rendezvous_hash"](spark, SF).collect()
        }
        assert set(got) == set(range(1, 10))
        for s in range(1, 10):
            assert got[s] == (n8.get(s, 0), n9.get(s, 0), moved.get(s, 0))
        # HRW's exactly-minimal migration: movement ONLY to the new shard
        for s in range(1, 9):
            assert got[s][2] == 0
        assert got[9][1] == got[9][2]  # everything on shard 9 just moved


class TestPpjoinReferee:
    """q_ppjoin (R13_QUEUE): oracle parity, a pure-Python brute-force
    referee, and the prefix-filter recall-1 property."""

    def test_oracle_parity_sf0001(self, spark):
        from tests.oracle_compare import compare, duckdb_connection

        con = duckdb_connection(SF)
        compare(QUERIES["q_ppjoin"](spark, SF), con, ORACLES["q_ppjoin"])

    def test_python_bruteforce_referee(self, spark):
        """Brute force: ALL pairs, exact shingle-set Jaccard, keep
        >= 4/5 — no prefix filter at all.  The registered query must
        emit exactly this set (recall 1 AND precision 1: the filter is
        an optimization, never a semantic)."""
        import duckdb

        docs = duckdb.connect().execute(
            f"SELECT doc_id, text FROM "
            f"read_parquet('{SF}/documents.parquet') ORDER BY doc_id"
        ).fetchall()
        sh = {}
        for d, text in docs:
            toks = text.split(" ")
            sh[d] = {
                " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
            }
        want = {}
        ids = sorted(sh)
        for i, a in enumerate(ids):
            for b in ids[i + 1 :]:
                if not sh[a] or not sh[b]:
                    continue
                inter = len(sh[a] & sh[b])
                union = len(sh[a]) + len(sh[b]) - inter
                if union and 1000 * inter // union >= 800:
                    want[(a, b)] = (
                        inter,
                        len(sh[a]),
                        len(sh[b]),
                        1000 * inter // union,
                    )
        got = {
            (r["doc_a"], r["doc_b"]): (
                r["inter"], r["size_a"], r["size_b"], r["jacc_milli"]
            )
            for r in QUERIES["q_ppjoin"](spark, SF).collect()
        }
        assert got == want
