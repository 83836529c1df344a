"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints one
JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced end-to-end with the noop sink (all columns computed,
nothing collected to the driver).
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import subprocess
import sys
import time

from nomad_event_streamer_spark.plans import all_queries
from nomad_event_streamer_spark.session import get_spark

# FROZEN cross-round comparison core (VERDICT r07 item #2): exactly the 37
# queries BENCH_r06.json measured, in its order.  The full HEADLINE set
# grows every round (37 -> 67 -> ...), which makes round-over-round totals a
# set-diff exercise; this list NEVER changes, so `core37_wall_sec` in any
# two BENCH_r*.json artifacts (r08+) is directly comparable forever.
# Deliberately a separate literal, not HEADLINE[:37] — reordering or
# curating HEADLINE must not be able to silently redefine the core.
CORE37 = [
    "q_scan_project",
    "q_agg_groupby",
    "q_count_distinct",
    "q_agg_rollup",
    "q_dedup_latest",
    "q_window_rank",
    "q_window_runsum",
    "q_join_inner",
    "q_join_left",
    "q_join_range",
    "q_topk",
    "q_explode_tokens",
    "q_time_bucket",
    "q_case_when_state",
    "q_dedup_exact",
    "q_dedup_minhash",
    "q_ngram_jaccard",
    "q_simhash",
    "q_text_stats",
    "q_sim_topk",
    "q_sim_ann",
    "q_multimodal_decode",
    "q_sessionize",
    "q_tfidf_top3",
    "q_minhash_est",
    "q_dedup_embed",
    "q_join_agg_topk",
    "q_star_join",
    "q_sim_topk_int",
    "q_hll_registers",
    "q_triangles",
    "q_funnel",
    "q_mix_budget",
    "q_quantile_hist",
    "q_dataset_shuffle",
    "q_unigram_surprisal",
    "q_curation_pipeline",
]

HEADLINE = [
    "q_scan_project",
    "q_agg_groupby",
    "q_count_distinct",
    "q_agg_rollup",
    "q_dedup_latest",
    "q_window_rank",
    "q_window_runsum",
    "q_join_inner",
    "q_join_left",
    "q_join_range",
    "q_topk",
    "q_explode_tokens",
    "q_time_bucket",
    "q_case_when_state",
    "q_dedup_exact",
    "q_dedup_minhash",
    "q_ngram_jaccard",
    "q_simhash",
    "q_text_stats",
    "q_sim_topk",
    "q_sim_ann",
    "q_multimodal_decode",
    "q_sessionize",
    "q_tfidf_top3",
    "q_minhash_est",
    "q_dedup_embed",
    "q_join_agg_topk",
    "q_star_join",
    # round-2 headliners
    "q_sim_topk_int",
    "q_hll_registers",
    "q_triangles",
    "q_funnel",
    "q_mix_budget",
    "q_quantile_hist",
    "q_dataset_shuffle",
    "q_unigram_surprisal",
    "q_curation_pipeline",
    # round-3..6 heavyweights (VERDICT r06 item #3): the newest operator
    # families now carry per-round medians + plan fingerprints, so a perf
    # regression in them is caught by artifact diffing, not just plan pins
    "q_bpe_train",
    "q_dedup_clusters_star",
    "q_semdedup",
    "q_split_leakage",
    "q_exactsubstr_cut",
    "q_sim_ivfpq_int",
    "q_stream_dedup_lsh",
    "q_image_resize",
    "q_audio_resample",
    "q_theta_intersect",
    # round-7 additions
    "q_eval_mcc",
    "q_card_dedup_yield",
    "q_perplexity_buckets",
    "q_embed_lsh_tuning",
    "q_kcore",
    # round-7 SQL-surface family (the two non-trivial members: the
    # recursive edge build is fact-join-bound; the lateral decorrelates
    # to a fact-sized window) + the PR-curve eval row
    "q_recursive_cte",
    "q_lateral_topk",
    "q_pr_curve",
    # round-7c batch (the members with fact-scale cost: the SCC edge
    # projection is five joins + a threshold agg; gopher/vocab walk the
    # full token stream; OHLC and nearest-as-of shuffle the event
    # stream — the cheap scan-shaped ops (xml/hof/prf rollup) stay
    # un-benched)
    "q_scc",
    "q_gopher_rules",
    "q_vocab_coverage",
    "q_tumbling_ohlc",
    "q_asof_nearest",
    # 7d pair: drift_tri walks the full token stream against the vocab
    # grid; rbo runs BOTH rankers (exact + IVF) over the corpus
    "q_drift_tri",
    "q_rbo_overlap",
    # 7e: the LSH-candidate + Levenshtein verify stage is the one
    # fact-scale member (guards the AQE single-task regression); the
    # scan-shaped statistics trio stays un-benched
    "q_dedup_verify_editdist",
    # 7g: phrase search and RAKE walk the token stream; the
    # changepoint windows the full event stream
    "q_phrase_search",
    "q_changepoint_binseg",
    "q_rake_keyphrases",
    # 7h: the quantization audit scans every embedding cell twice
    "q_embed_quantize_int8",
    # round-8 curation ops with fact-scale cost: the canonicalizer is
    # the regex-heaviest per-row pipeline (9 regexes + HOF sort), the
    # PII scorecard runs 3 regexp_extract_all over the full text, and
    # Kneser-Ney walks the bigram stream into three count tables (the
    # cheap rollup/sharding ops stay un-benched)
    "q_url_canon",
    "q_pii_scorecard",
    "q_kneser_ney",
    # round-8b ops with fact-scale cost: line dedup moves the line bytes
    # through a corpus-wide frequency pass + reassembly; the
    # contamination matrix and threshold sweep ride the shingle/LSH
    # machinery; tokenizer_compare runs BOTH BPE arms (the heaviest new
    # op — exactly the one to regression-track); link_predict carries
    # the Σd² wedge join; the PQ sweep guards the encode/ADC path; the
    # TTL dedup is the stateful streaming twin.  Scan-shaped ops
    # (classifier, robots, warc, vwap, drift) stay un-benched.
    "q_line_dedup",
    "q_contamination_matrix",
    "q_tokenizer_compare",
    "q_jaccard_threshold_sweep",
    # q_link_predict stays in the headline set: VERDICT r11 item #1
    # asked for it to move to the diagnostic set, but the bench driver
    # contract forbids REMOVING entries from the `queries` dict of the
    # artifact (BENCH_r11.json carries q_link_predict), so the
    # optimization round restored it here — optimized instead of hidden
    # (the round-12 lineage-cut rewrite shares the edge build across
    # its five plan branches).  q_adamic_adar, which never appeared in
    # a BENCH artifact, remains diagnostic-only.
    "q_link_predict",
    "q_pq_recall_sweep",
    "q_stream_dedup_ttl",
    # round-9 fact-scale additions: OPH rides the full shingle stream
    # (the CPU-bound dedup pass the op exists to cheapen), Louvain runs
    # the LSH pipeline + 3 gain rounds, k-center is 4 corpus scans of
    # 64-dim HOF distances, QOI is the per-row codec pass, FM the
    # events-wide bit_or rollup.  Scan-shaped unicode_nfc /
    # path_prefix_rollup / schema_evolution stay un-benched.
    "q_dedup_oph",
    "q_louvain_l0",
    "q_kcenter_seed",
    "q_image_qoi",
    "q_fm_sketch",
    # events-wide state machines: bitmap window union + per-user
    # token-bucket replay (applyInPandas over 1500 series at sf0.1)
    "q_bitmap_dau",
    "q_token_bucket",
    # round-9b fact-scale additions: banded DTW is the per-user DP
    # (applyInPandas over user keys), weighted Jaccard moves the token
    # histograms through the shared-token pair join, naive Bayes scores
    # fact×classes rows against the vocab model, the Hilbert fold is the
    # 8-level HOF over lineitem, shot detection runs 64 md5s/row, DBSCAN
    # iterates the cell graph, and the two streaming ops exercise
    # outer-join eviction and chained dual-state queries.  Scan-light
    # perm_entropy / anova_f / lcp_adjacent / path_3gram / adamic_adar
    # (link_predict already tracks the wedge join) stay un-benched.
    "q_dtw_band",
    "q_weighted_jaccard",
    "q_naive_bayes_bits",
    "q_hilbert_cluster",
    "q_video_shot_detect",
    "q_dbscan_grid",
    "q_stream_outer_join",
    "q_stream_dedup_then_window",
    # round-10 additions: dhash runs the per-row codec + the pigeonhole
    # block self-join (the image twin of q_image_resize + the pair
    # machinery); goertzel is the per-row O(n) recurrence over the WAV
    # walk (the audio twin of q_audio_resample)
    "q_image_dhash_pairs",
    "q_audio_goertzel",
    # round-10 batch 2 fact-scale members: log_parse runs two codegen
    # string renders + a grouped regex per event row; readability walks
    # the full token stream twice (word explode + per-word syllable
    # regex); sprt_boundary exercises the day-bucketed distributed
    # prefix-sum over the whole event stream.  Scan-light kmeans
    # (embeddings sf-fixed) and diff_in_diff (two 1-row aggs) stay
    # un-benched.
    "q_log_parse",
    "q_readability_fk",
    "q_sprt_boundary",
    # round-11 additions: the wedge-family capped path, a second wedge
    # consumer, ring sharding, the bounded pair join, fact-scale global
    # rank, codec, sketch-vs-exact, and the multi-round collect class
    "q_link_predict_capped",
    "q_clustering_coeff",
    "q_consistent_hash_ring",
    "q_mk_trend",
    "q_l_moments",
    "q_image_quadtree",
    "q_ams_f2",
    "q_perceptron_rounds",
    # round-12 additions: the second capped wedge consumer (replaces the
    # uncapped q_link_predict as the wedge family's tracked plan); the
    # suffix-array family (one suffix-array pass, one bucketed neighbour
    # window and the adjacent-pair LCPs — the corpus-scale member);
    # and the unigram-LM EM round (the SentencePiece counterpart to
    # q_bpe_train: one corpus pass + 24 unrolled vocab-scale DP rounds —
    # tracked for the same round-count-bound reason as the BPE trainer)
    "q_adamic_adar_capped",
    "q_maximal_repeat",
    "q_unigram_lm_em",
]

# Oracle-exactness diagnostics (VERDICT r11 item #1): deliberately
# UNGUARDED plans kept registered as cap-free exact references for the
# capped variants, but excluded from the headline set — their Σd² wedge
# volume is the textbook scale-killer and their wall-clock tracks graph
# skew, not plan quality.  Run with SPARK_GRAFT_BENCH_SET=diagnostic.
DIAGNOSTIC = [
    "q_link_predict",
    "q_adamic_adar",
]


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def plan_fingerprint(df) -> str:
    """Stable 12-hex fingerprint of the OPTIMIZED logical plan, so
    "did the plan change between rounds?" is answerable from two bench
    artifacts alone (VERDICT r04 item #2 — the q_quantile_hist class of
    measurement ambiguity).  Expression ids (``#123``), which differ per
    session, and the sf-dir path are normalized out; everything
    structural (operators, join strategies chosen by hints, pushed
    filters, aggregate shapes) stays."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    plan = re.sub(r"#\d+", "#", plan)
    # lambda variable names carry a SESSION-GLOBAL counter (`lambda
    # x_7` in a cold session is `lambda x_95` after other plans built),
    # so un-normalized fingerprints only match across runs that build
    # plans in the identical order — an ad-hoc one-query check against
    # the sidecar would show false drift on every HOF-bearing plan
    # (found by exactly such a check in round 8b).
    plan = re.sub(r"lambda ([A-Za-z]+)_\d+", r"lambda \1_", plan)
    plan = re.sub(r"/[^\s,\]\)]*testdata[^\s,\]\)]*", "<sf_dir>", plan)
    return hashlib.sha256(plan.encode()).hexdigest()[:12]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf") or "0.1")
    # SPARK_GRAFT_BENCH_SET=core37 runs ONLY the frozen core in a fresh
    # session — the VERDICT r09 bisect protocol: core37 measured alone
    # isolates per-query cost from 92-query-session accumulation
    # (catalog/GC/listener growth).  =list:q_a,q_b runs an ad-hoc subset
    # (the weak-query re-grade protocol).  Default: full headline set.
    bench_set = os.environ.get("SPARK_GRAFT_BENCH_SET", "headline")
    if bench_set == "core37":
        run_list = CORE37
    elif bench_set == "diagnostic":
        run_list = DIAGNOSTIC
    elif bench_set.startswith("list:"):
        run_list = [q.strip() for q in bench_set[5:].split(",") if q.strip()]
    else:
        run_list = HEADLINE

    # Box-speed calibration (round 10): a fixed single-thread integer
    # loop measured BEFORE Spark starts.  The r09→r10 investigation found
    # core37 swinging 21.5→40 s across sessions with UNCHANGED plans and
    # no concurrent load in the VM — host-level contention this guest
    # can't see (steal% read 0 while wall-clock doubled).  cpu_calib_sec
    # in the artifact lets any two rounds' wall-clocks be compared on a
    # same-box-speed basis: ratio core37/calib is the plan signal,
    # core37 alone is not.
    t0 = time.perf_counter()
    acc = 0
    for i in range(20_000_000):
        acc += i * i
    cpu_calib_sec = round(time.perf_counter() - t0, 3)
    # Multi-core calibration (VERDICT r12 item #1a): round 12 proved
    # the single-thread loop is blind to multi-core contention epochs —
    # cpu_calib_sec read 1.20 (FASTER than r11's 1.234) while core37
    # wall-clock doubled on plan-identical code.  The same integer loop
    # run in min(8, cpus) concurrent SUBPROCESSES (threads would
    # serialize on the GIL and measure nothing multi-core) demands that
    # many real cores at once: on an idle box cpu_calib_mt_sec ~
    # cpu_calib_sec + spawn overhead, while under host-level core
    # contention it balloons exactly like the 32-thread query stages do
    # while the 1-thread probe reads normal.  Comparable round over
    # round like cpu_calib_sec.  Additions only — the existing calib,
    # timing loop, and JSON contract are untouched.
    mt_n = min(8, int(cpus) if str(cpus).isdigit() else 8)
    t0 = time.perf_counter()
    procs = [
        subprocess.Popen(
            [
                sys.executable,
                "-c",
                "acc = 0\nfor i in range(20_000_000):\n    acc += i * i\n",
            ]
        )
        for _ in range(mt_n)
    ]
    for p in procs:
        p.wait()
    cpu_calib_mt_sec = round(time.perf_counter() - t0, 3)
    spark = get_spark(master=f"local[{cpus}]")
    queries = all_queries()

    # Warm the JVM/codegen paths and the executor Python worker pool so
    # per-query numbers measure the plan, not first-run class loading or
    # worker spawn.
    force(queries["q_scan_project"](spark, sf_dir))
    force(
        spark.range(spark.sparkContext.defaultParallelism * 2)
        .repartition(spark.sparkContext.defaultParallelism * 2)
        .mapInPandas(lambda it: it, "id long")
    )

    # median-of-3 per query (VERDICT r03 item #6): the first run pays
    # Janino compilation, later runs reuse codegen, and this box shows
    # ±20-30% GC/contention variance within a session — the median of
    # three warm-path runs is stable enough that a >20% round-over-round
    # move means a PLAN change, not noise.  (Was best-of-2 in r01-r03.)
    runs_per_query = 3
    timings: dict[str, float] = {}
    all_runs: dict[str, list[float]] = {}
    plan_fps: dict[str, str] = {}
    total = 0.0
    for name in run_list:
        fn = queries[name]
        plan_fps[name] = plan_fingerprint(fn(spark, sf_dir))
        runs: list[float] = []
        for _ in range(runs_per_query):
            t0 = time.perf_counter()
            force(fn(spark, sf_dir))
            runs.append(round(time.perf_counter() - t0, 3))
        med = sorted(runs)[len(runs) // 2]
        timings[name] = med
        all_runs[name] = runs
        total += med
        print(
            f"# {name}: median {med:.3f}s "
            f"(runs: {', '.join(f'{r:.3f}' for r in sorted(runs))}) "
            f"plan={plan_fps[name]}",
            file=sys.stderr,
        )

    # Full evidence per query (VERDICT r04 item #2): the raw wall times in
    # measurement order, and a normalized optimized-plan fingerprint — a
    # >20% move with an UNCHANGED fingerprint is session noise (compare
    # the runs spread), with a CHANGED fingerprint it's a plan regression.
    # Decidable from artifacts alone.  VERDICT r05 item #2: this evidence
    # goes to a committed SIDECAR file (and stderr), NOT the final stdout
    # line — the driver captures only a ~2 KB stdout tail, and r05's
    # evidence-laden single line truncated the headline away
    # (BENCH_r05.json "parsed": null).  The LAST stdout line must stay the
    # compact r04-shaped object.
    missing_core = [q for q in CORE37 if q not in timings]
    if bench_set.startswith("list:") or bench_set == "diagnostic":
        core_total = None if missing_core else sum(timings[q] for q in CORE37)
    else:
        assert (
            not missing_core
        ), f"frozen core queries absent from HEADLINE: {missing_core}"
        core_total = sum(timings[q] for q in CORE37)

    core_out = None if core_total is None else round(core_total, 3)
    evidence = {
        "stat": "median",
        "runs_per_query": runs_per_query,
        "runs": all_runs,
        "plan_fp": plan_fps,
        "core37_wall_sec": core_out,
        "cpu_calib_sec": cpu_calib_sec,
                "cpu_calib_mt_sec": cpu_calib_mt_sec,
        "bench_set": bench_set,
        "sf": sf,
    }
    evidence_path = os.environ.get(
        "SPARK_GRAFT_BENCH_EVIDENCE",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_EVIDENCE.json"),
    )
    with open(evidence_path, "w") as fh:
        json.dump(evidence, fh, indent=1)
    print(f"# evidence sidecar: {evidence_path}", file=sys.stderr)
    print(json.dumps(evidence), file=sys.stderr)

    print(
        json.dumps(
            {
                "metric": "headline_queries_wall_sec",
                "value": round(total, 3),
                "unit": "sec",
                # frozen r06 37-query core (VERDICT r07 item #2): the
                # round-over-round comparable number; `value` covers the
                # growing full set.
                "core37_wall_sec": core_out,
                "cpu_calib_sec": cpu_calib_sec,
                "cpu_calib_mt_sec": cpu_calib_mt_sec,
                "queries": timings,
                "sf": sf,
            }
        )
    )
    # Truncation-proof FINAL line (VERDICT r09 item #2): the driver keeps
    # only a ~2,000-char stdout tail, and the full per-query line above
    # outgrew it in r09 (BENCH_r09.json "parsed": null, core37 lost).
    # This compact last line always fits — same driver contract shape
    # (metric/value/unit/queries/sf) with `queries` restricted to the
    # frozen core (~37 entries ≈ 1 KB), so whichever line the tail parser
    # lands on, `core37_wall_sec` and the headline total survive.
    print(
        json.dumps(
            {
                "metric": "headline_queries_wall_sec",
                "value": round(total, 3),
                "unit": "sec",
                "core37_wall_sec": core_out,
                "cpu_calib_sec": cpu_calib_sec,
                "cpu_calib_mt_sec": cpu_calib_mt_sec,
                "n_queries": len(timings),
                "bench_set": bench_set,
                # frozen-core timings when the core ran (always fits);
                # otherwise the ad-hoc list's own timings.
                "queries": {q: timings[q] for q in CORE37 if q in timings}
                or timings,
                "sf": sf,
            },
            separators=(",", ":"),
        )
    )


if __name__ == "__main__":
    main()
