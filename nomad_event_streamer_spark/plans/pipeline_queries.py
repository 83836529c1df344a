"""Round-8b pipeline-curation operators (the documented r09-queue
overflow batch, SURVEY.md §2.12): CCNet-style line-level dedup with
byte-exact document reassembly, a fixed-weight integer quality
classifier, a robots/blocklist gate over canonical URLs, and the full
cross-split contamination matrix.

None of this exists in the reference (a single-stream Ruby event relay,
`app.rb:1-278`); these are the EXT LLM-data-pipeline operators
BASELINE.json mandates.  Every query ships a FULL DuckDB hash oracle.

Window note: the round-8 driver window is fully spent on the 50-slug
rotation that completes the cumulative ledger, so these slugs sit in
the explicit ``R09_QUEUE`` overflow (plans/__init__.py) — sim-verified
on arrival, rotated into the real driver window next round (the escape
hatch tests/test_driver_window.py documents).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..operators import dedup, sketch, urls
from ..tables import load, rebalance_for_cpu
from .curation_queries import URL_EXPR
from .registry import query

# ---------------------------------------------------------------------------
# 1. Line-level dedup (CCNet paragraph dedup at sub-document granularity)
# ---------------------------------------------------------------------------

_LINE_WORDS = 10  # positional line width (the corpus has no newlines)
_LINE_MAX_FREQ = 1  # a line is kept iff its corpus frequency <= this


@query(
    "q_line_dedup",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    l AS (
        SELECT doc_id, CAST(i AS BIGINT) AS line_no,
               array_to_string(
                   toks[i*{_LINE_WORDS}+1 : i*{_LINE_WORDS}+{_LINE_WORDS}],
                   ' ') AS line
        FROM t, unnest(range(0, (len(toks) + {_LINE_WORDS - 1})
                                 // {_LINE_WORDS})) AS u(i)
    ),
    f AS (SELECT line, count(*) AS c FROM l GROUP BY 1),
    k AS (
        SELECT l.doc_id,
               CAST(count(*) AS BIGINT) AS n_kept,
               string_agg(l.line, ' ' ORDER BY l.line_no) AS clean_text
        FROM l JOIN f USING (line)
        WHERE f.c <= {_LINE_MAX_FREQ}
        GROUP BY l.doc_id
    ),
    n AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines
          FROM l GROUP BY 1)
    SELECT n.doc_id,
           n.n_lines,
           CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
           CAST(n.n_lines - coalesce(k.n_kept, 0) AS BIGINT) AS n_dropped,
           coalesce(k.clean_text, '') AS clean_text
    FROM n LEFT JOIN k USING (doc_id)
    """,
)
def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LINE-level dedup (Wenzek et al. 2020 §3.1: drop
    duplicated paragraphs/lines across the corpus, keep the rest of the
    document) — the sub-document granularity the chunk family skips.
    The corpus has no newlines, so "lines" are positional 10-word
    segments of the token stream (deterministic in both engines); a
    line is dropped when its exact text occurs more than once
    corpus-wide, and each document is reassembled BYTE-EXACTLY from its
    surviving lines in order — the reassembled text itself sits under
    the value-hash gate.

    Scale shape: the line split is a per-row array HOF (no shuffle);
    the frequency pass is ONE map-side-combinable groupBy on the line
    text (line bytes move once — exactly the CCNet sharded-hash layout)
    and reassembly is one doc_id-keyed aggregation.  No pair joins, no
    windows; linear in corpus bytes at any scale."""
    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    toks = F.split(F.col("text"), " ")
    n_lines = F.expr(
        f"(size(split(text, ' ')) + {_LINE_WORDS - 1}) div {_LINE_WORDS}"
    )
    lines_arr = F.transform(
        F.sequence(F.lit(0), (n_lines - F.lit(1)).cast("int")),
        lambda i: F.array_join(
            F.slice(toks, i * _LINE_WORDS + 1, _LINE_WORDS), " "
        ),
    )
    lines = docs.select(
        "doc_id", F.posexplode(lines_arr).alias("line_no", "line")
    ).withColumn("line_no", F.col("line_no").cast("long"))
    freq = lines.groupBy("line").agg(F.count(F.lit(1)).alias("c"))
    kept = (
        lines.join(freq, "line")
        .where(F.col("c") <= _LINE_MAX_FREQ)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("line_no", "line"))),
                    lambda s: s.getField("line"),
                ),
                " ",
            ).alias("clean_text"),
        )
    )
    base = docs.select("doc_id", n_lines.cast("long").alias("n_lines"))
    return base.join(kept, "doc_id", "left").select(
        "doc_id",
        "n_lines",
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
        (F.col("n_lines") - F.coalesce(F.col("n_kept"), F.lit(0)))
        .cast("long")
        .alias("n_dropped"),
        F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
    )


# ---------------------------------------------------------------------------
# 2. Quality classifier (fixed-weight integer logistic)
# ---------------------------------------------------------------------------

# fasttext-classifier shape without the model dependency: a fixed-weight
# linear scorer over the existing quality features, all milli-integer.
# logit_milli = B + W_TOK*min(n_tok,CAP) - W_STOP*stop_milli
#               + W_TTR*ttr_milli - W_AWL*awl_milli
_QC_B = 2500
_QC_W_TOK = 20
_QC_TOK_CAP = 120
_QC_W_STOP = 3
_QC_W_TTR = 2
_QC_W_AWL = 1


@query(
    "q_quality_classifier",
    oracle=f"""
    WITH f AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
               CAST(len(list_filter(string_split(text, ' '),
                        x -> x = 'a' OR x = 'the')) AS BIGINT) AS n_stop,
               CAST(len(list_distinct(string_split(text, ' ')))
                    AS BIGINT) AS n_uniq,
               CAST(length(text) AS BIGINT) AS n_chars
        FROM documents
    ),
    m AS (
        SELECT doc_id, n_tok,
               n_stop * 1000 // n_tok AS stop_milli,
               n_uniq * 1000 // n_tok AS ttr_milli,
               (n_chars - n_tok + 1) * 1000 // n_tok AS awl_milli
        FROM f
    )
    SELECT doc_id, n_tok,
           CAST(stop_milli AS BIGINT) AS stop_milli,
           CAST(ttr_milli AS BIGINT) AS ttr_milli,
           CAST(awl_milli AS BIGINT) AS awl_milli,
           CAST({_QC_B} + {_QC_W_TOK} * least(n_tok, {_QC_TOK_CAP})
                - {_QC_W_STOP} * stop_milli + {_QC_W_TTR} * ttr_milli
                - {_QC_W_AWL} * awl_milli AS BIGINT) AS logit_milli,
           CAST(CASE WHEN {_QC_B} + {_QC_W_TOK} * least(n_tok, {_QC_TOK_CAP})
                - {_QC_W_STOP} * stop_milli + {_QC_W_TTR} * ttr_milli
                - {_QC_W_AWL} * awl_milli > 0 THEN 1 ELSE 0 END
                AS BIGINT) AS pred_keep,
           CASE WHEN {_QC_B} + {_QC_W_TOK} * least(n_tok, {_QC_TOK_CAP})
                     - {_QC_W_STOP} * stop_milli + {_QC_W_TTR} * ttr_milli
                     - {_QC_W_AWL} * awl_milli >= 1000 THEN 'high'
                WHEN {_QC_B} + {_QC_W_TOK} * least(n_tok, {_QC_TOK_CAP})
                     - {_QC_W_STOP} * stop_milli + {_QC_W_TTR} * ttr_milli
                     - {_QC_W_AWL} * awl_milli >= 0 THEN 'mid'
                WHEN {_QC_B} + {_QC_W_TOK} * least(n_tok, {_QC_TOK_CAP})
                     - {_QC_W_STOP} * stop_milli + {_QC_W_TTR} * ttr_milli
                     - {_QC_W_AWL} * awl_milli >= -1000 THEN 'low'
                ELSE 'reject' END AS band
    FROM m
    """,
)
def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-CLASSIFIER scoring: a fixed-weight logistic scorer over
    the length/stopword/type-token/word-length features (the
    fasttext-style keep/reject classifier every curation pipeline runs,
    minus the model dependency — weights are literals), with the logit
    integer-quantized to milli units so the decision boundary is
    bit-reproducible under the hash gate.  Emits the feature vector,
    the logit, the keep decision, and a confidence band.

    Scale: pure per-row Column arithmetic over one scan — whole-stage
    codegen, no shuffle, no Python boundary; at 100 TB this is the
    cheapest pass in the pipeline (exactly why classifiers run first
    after dedup)."""
    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    toks = F.split(F.col("text"), " ")
    n_tok = F.size(toks).cast("long")
    n_stop = F.size(
        F.filter(toks, lambda x: (x == "a") | (x == "the"))
    ).cast("long")
    n_uniq = F.size(F.array_distinct(toks)).cast("long")
    n_chars = F.length("text").cast("long")
    # integer floor-div throughout (operands non-negative, so Spark's
    # truncating div == floor == DuckDB //)
    feats = docs.select(
        "doc_id",
        n_tok.alias("n_tok"),
        (n_stop * 1000).alias("_s"),
        (n_uniq * 1000).alias("_u"),
        ((n_chars - n_tok + 1) * 1000).alias("_c"),
    ).selectExpr(
        "doc_id",
        "n_tok",
        "_s div n_tok AS stop_milli",
        "_u div n_tok AS ttr_milli",
        "_c div n_tok AS awl_milli",
    )
    logit = (
        F.lit(_QC_B)
        + F.lit(_QC_W_TOK) * F.least(F.col("n_tok"), F.lit(_QC_TOK_CAP))
        - F.lit(_QC_W_STOP) * F.col("stop_milli")
        + F.lit(_QC_W_TTR) * F.col("ttr_milli")
        - F.lit(_QC_W_AWL) * F.col("awl_milli")
    ).cast("long")
    return feats.select(
        "doc_id",
        "n_tok",
        F.col("stop_milli").cast("long").alias("stop_milli"),
        F.col("ttr_milli").cast("long").alias("ttr_milli"),
        F.col("awl_milli").cast("long").alias("awl_milli"),
        logit.alias("logit_milli"),
        (logit > 0).cast("long").alias("pred_keep"),
        F.when(logit >= 1000, F.lit("high"))
        .when(logit >= 0, F.lit("mid"))
        .when(logit >= -1000, F.lit("low"))
        .otherwise(F.lit("reject"))
        .alias("band"),
    )


# ---------------------------------------------------------------------------
# 3. Robots / blocklist gate over canonical URLs
# ---------------------------------------------------------------------------

# (rule_id, domain-or-*, path prefix, allow) — ONE Python literal table
# rendered into both engines; longest-prefix wins, domain-specific beats
# wildcard on ties, allow beats deny on full ties (Google robots.txt
# precedence), rule_id is the final total-order tiebreak.
ROBOTS_RULES: list[tuple[int, str, str, int]] = [
    (0, "*", "/", 1),
    (1, "src1.org", "/Docs", 0),
    (2, "src1.org", "/Docs/Page-3", 1),
    (3, "*", "/Docs/Page-5", 0),
    (4, "src13.net", "/", 0),
    (5, "src2.org", "/Docs/Page", 0),
    (6, "src2.org", "/Docs/Page-1", 1),
    (7, "src0.org", "/Docs", 0),
]

_ROBOTS_VALUES = ", ".join(
    f"({rid}, '{dom}', '{pre}', {allow})"
    for rid, dom, pre, allow in ROBOTS_RULES
)


@query(
    "q_robots_gate",
    oracle=f"""
    WITH raw AS (
        SELECT doc_id, {URL_EXPR} AS url FROM documents
    ),
    {urls.canonicalize_sql("raw", "doc_id, url")}
    , rules(rule_id, rdom, prefix, allow_) AS (VALUES {_ROBOTS_VALUES}),
    m AS (
        SELECT u.doc_id, u.domain, u.path, r.rule_id, r.prefix, r.allow_,
               row_number() OVER (
                   PARTITION BY u.doc_id
                   ORDER BY length(r.prefix) DESC,
                            CASE WHEN r.rdom <> '*' THEN 1 ELSE 0 END DESC,
                            r.allow_ DESC, r.rule_id
               ) AS rn
        FROM uc3 u
        JOIN rules r
          ON (r.rdom = u.domain OR r.rdom = '*')
         AND starts_with(u.path, r.prefix)
    )
    SELECT doc_id, domain, path,
           CAST(rule_id AS BIGINT) AS rule_id,
           prefix AS matched_prefix,
           CAST(allow_ AS BIGINT) AS allowed
    FROM m WHERE rn = 1
    """,
)
def q_robots_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robots/blocklist GATE over canonical URLs: each document's
    (domain, path) is matched against a rule table of (domain-or-*,
    path-prefix, allow/deny) entries with robots.txt precedence —
    longest prefix wins, a domain-specific rule beats a wildcard on
    ties, allow beats deny on full ties.  Composes with q_url_canon
    (the gate runs on CANONICAL urls, so rule matching is insensitive
    to tracking params, ports, and case games).  The rule table is ONE
    Python literal rendered into both engines.

    Scale: the rule table is KB-sized at any corpus scale, so the match
    is a broadcast nested-loop join (8 rules x per-row prefix test —
    cheaper than any shuffle) followed by a doc_id-partitioned
    row_number over the handful of matched rules per document; work is
    linear in documents with rule-count as a small constant."""
    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    raw = docs.select("doc_id", F.expr(URL_EXPR).alias("url"))
    c = urls.canonicalize(F.col("url"))
    u = raw.select(
        "doc_id", c["domain"].alias("domain"), c["path"].alias("path")
    )
    rules = spark.createDataFrame(
        ROBOTS_RULES, "rule_id INT, rdom STRING, prefix STRING, allow_ INT"
    )
    m = u.join(
        F.broadcast(rules),
        ((F.col("rdom") == F.col("domain")) | (F.col("rdom") == "*"))
        & F.col("path").startswith(F.col("prefix")),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.length("prefix").desc(),
        (F.col("rdom") != "*").cast("int").desc(),
        F.col("allow_").desc(),
        F.col("rule_id"),
    )
    return (
        m.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "doc_id",
            "domain",
            "path",
            F.col("rule_id").cast("long").alias("rule_id"),
            F.col("prefix").alias("matched_prefix"),
            F.col("allow_").cast("long").alias("allowed"),
        )
    )


# ---------------------------------------------------------------------------
# 4. Cross-split contamination matrix
# ---------------------------------------------------------------------------

_CONTAM_K = 3  # shared distinct shingles for a doc to count as contaminated
_SPLIT_PAIRS = [
    ("train", "val"),
    ("train", "test"),
    ("val", "train"),
    ("val", "test"),
    ("test", "train"),
    ("test", "val"),
]

_PAIRS_VALUES = ", ".join(f"('{a}', '{b}')" for a, b in _SPLIT_PAIRS)


@query(
    "q_contamination_matrix",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    sh AS (
        SELECT doc_id, unnest(list_distinct(
            [array_to_string(toks[i:i+2], ' ')
             FOR i IN range(1, greatest(len(toks) - 1, 1))]
        )) AS shingle
        FROM t
    ),
    spl AS (
        SELECT doc_id,
               CASE WHEN b < 8 THEN 'train'
                    WHEN b = 8 THEN 'val' ELSE 'test' END AS split
        FROM (
            SELECT doc_id,
                   CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)),
                        1, 15)) AS BIGINT) % 10 AS b
            FROM documents
        )
    ),
    shs AS (SELECT sh.doc_id, spl.split, sh.shingle
            FROM sh JOIN spl USING (doc_id)),
    pres AS (
        SELECT shingle,
               max(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS in_train,
               max(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS in_val,
               max(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS in_test
        FROM shs GROUP BY shingle
    ),
    pairs(src_split, dst_split) AS (VALUES {_PAIRS_VALUES}),
    cnt AS (
        SELECT s.doc_id, s.split,
               CAST(sum(p.in_train) AS BIGINT) AS n_train,
               CAST(sum(p.in_val) AS BIGINT) AS n_val,
               CAST(sum(p.in_test) AS BIGINT) AS n_test
        FROM shs s JOIN pres p USING (shingle)
        GROUP BY 1, 2
    ),
    contam AS (
        SELECT pr.src_split, pr.dst_split,
               CAST(count(*) AS BIGINT) AS n_docs_dst,
               CAST(sum(CASE WHEN (CASE pr.src_split
                                   WHEN 'train' THEN c.n_train
                                   WHEN 'val' THEN c.n_val
                                   ELSE c.n_test END) >= {_CONTAM_K}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated
        FROM cnt c JOIN pairs pr ON c.split = pr.dst_split
        GROUP BY 1, 2
    ),
    shared AS (
        SELECT pr.src_split, pr.dst_split,
               CAST(sum(CASE WHEN
                   (CASE pr.src_split WHEN 'train' THEN p.in_train
                        WHEN 'val' THEN p.in_val ELSE p.in_test END) = 1
                   AND
                   (CASE pr.dst_split WHEN 'train' THEN p.in_train
                        WHEN 'val' THEN p.in_val ELSE p.in_test END) = 1
                   THEN 1 ELSE 0 END) AS BIGINT) AS n_shared_shingles
        FROM pres p CROSS JOIN pairs pr
        GROUP BY 1, 2
    )
    SELECT c.src_split, c.dst_split, s.n_shared_shingles,
           c.n_docs_dst, c.n_contaminated,
           CAST(c.n_contaminated * 1000000 // c.n_docs_dst AS BIGINT)
               AS contam_ppm
    FROM contam c JOIN shared s USING (src_split, dst_split)
    """,
)
def q_contamination_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split CONTAMINATION MATRIX: the full src x dst grid of
    n-gram overlap between the deterministic 80/10/10 hash splits —
    distinct shared shingles per ordered pair, plus how many dst-split
    documents share >= K distinct shingles with the src split (the
    doc-level contamination count q_split_leakage reports for one pair,
    here for every pair, both directions).  Extends q_contamination's
    single train->eval check to the release-audit table a dataset card
    publishes.

    Scale: shingle presence per split is ONE groupBy(shingle) with
    three conditional max aggregates (map-side combinable — no pair
    join, no per-split re-scan); the doc-level roll-up joins each doc's
    shingles to that presence table once (equi-join on shingle), and
    the 6-row pair grid is a broadcast.  Linear in total shingles at
    any corpus size."""
    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    sh = dedup.shingles(docs, n=3)
    bucket = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
        ).cast("long")
        % 10
    )
    spl = docs.select(
        "doc_id",
        F.when(bucket < 8, F.lit("train"))
        .when(bucket == 8, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )
    shs = sh.join(spl, "doc_id")
    pres = shs.groupBy("shingle").agg(
        F.max(F.when(F.col("split") == "train", 1).otherwise(0)).alias(
            "in_train"
        ),
        F.max(F.when(F.col("split") == "val", 1).otherwise(0)).alias("in_val"),
        F.max(F.when(F.col("split") == "test", 1).otherwise(0)).alias(
            "in_test"
        ),
    )
    pairs = spark.createDataFrame(
        _SPLIT_PAIRS, "src_split STRING, dst_split STRING"
    )
    src_flag = (
        "CASE src_split WHEN 'train' THEN in_train"
        " WHEN 'val' THEN in_val ELSE in_test END"
    )
    dst_flag = (
        "CASE dst_split WHEN 'train' THEN in_train"
        " WHEN 'val' THEN in_val ELSE in_test END"
    )
    shared = (
        pres.crossJoin(F.broadcast(pairs))
        .groupBy("src_split", "dst_split")
        .agg(
            F.sum(
                F.expr(
                    f"CASE WHEN ({src_flag}) = 1 AND ({dst_flag}) = 1"
                    " THEN 1 ELSE 0 END"
                )
            )
            .cast("long")
            .alias("n_shared_shingles")
        )
    )
    cnt = (
        shs.join(pres, "shingle")
        .groupBy("doc_id", "split")
        .agg(
            F.sum("in_train").cast("long").alias("n_train"),
            F.sum("in_val").cast("long").alias("n_val"),
            F.sum("in_test").cast("long").alias("n_test"),
        )
    )
    src_cnt = (
        "CASE src_split WHEN 'train' THEN n_train"
        " WHEN 'val' THEN n_val ELSE n_test END"
    )
    contam = (
        cnt.join(
            F.broadcast(pairs), cnt["split"] == pairs["dst_split"]
        )
        .groupBy("src_split", "dst_split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs_dst"),
            F.sum(
                F.expr(
                    f"CASE WHEN ({src_cnt}) >= {_CONTAM_K} THEN 1 ELSE 0 END"
                )
            )
            .cast("long")
            .alias("n_contaminated"),
        )
    )
    return contam.join(shared, ["src_split", "dst_split"]).select(
        "src_split",
        "dst_split",
        "n_shared_shingles",
        "n_docs_dst",
        "n_contaminated",
        F.expr("(n_contaminated * 1000000) div n_docs_dst")
        .cast("long")
        .alias("contam_ppm"),
    )


# ---------------------------------------------------------------------------
# 5. Tokenizer-compare scorecard (BPE vocab A vs B)
# ---------------------------------------------------------------------------


def _tokenizer_compare_oracle() -> str:
    from .llm_ops import _bpe_fertility_oracle

    return f"""
    SELECT a.source,
           a.n_bpe AS n_bpe_a,
           b.n_bpe AS n_bpe_b,
           a.n_words,
           a.fertility_milli AS fert_a_milli,
           b.fertility_milli AS fert_b_milli,
           CAST(a.fertility_milli - b.fertility_milli AS BIGINT)
               AS delta_milli,
           CAST((a.n_bpe - b.n_bpe) * 1000000 // a.n_bpe AS BIGINT)
               AS saving_ppm
    FROM ({_bpe_fertility_oracle(10)}) a
    JOIN ({_bpe_fertility_oracle(20)}) b USING (source)
    """


@query("q_tokenizer_compare", oracle=_tokenizer_compare_oracle())
def q_tokenizer_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer A/B scorecard: the same corpus greedy-encoded with a
    10-merge and a 20-merge BPE table (vocab A = a coarser tokenizer,
    vocab B = the candidate upgrade), rolled up per source into exact
    token counts, milli fertilities, their delta, and the token-budget
    saving in ppm — the decision table a pipeline publishes before
    swapping tokenizers (q_bpe_fertility's metric, promoted to the A/B
    comparison that actually drives the decision).

    Scale: two passes of the q_bpe_token_count shape (one Arrow-batched
    encode UDF each, merge tables riding the closure), then everything
    is source-cardinality.  The inherently-sequential training collects
    one row per merge round over a word-frequency table, never the
    corpus."""
    from ..operators import bpe

    docs = load(spark, sf_dir, "documents")
    # ONE training pass: greedy BPE is a sequential loop, so the
    # 10-merge table IS the first 10 rows of the 20-merge table —
    # slicing halves the (round-bound, 1-collect-per-round) training
    # cost vs training both arms.  Interleaved A/B at sf0.1, median of
    # 3 alternating runs: 11.6 s (two trainings) -> 7.2 s, identical
    # output verified row-for-row.
    merges_b = bpe.bpe_train(docs, num_merges=20, min_pair_count=2)

    def fert(num_merges: int, suffix: str) -> DataFrame:
        enc = bpe.bpe_token_counts(docs, merges_b[:num_merges])
        per_doc = enc.select(
            "source",
            F.col("n_bpe_tokens").cast("long").alias("n_bpe"),
            F.size(F.filter(F.split(F.col("text"), " "), lambda x: x != ""))
            .cast("long")
            .alias("n_words"),
        )
        agg = per_doc.groupBy("source").agg(
            F.sum("n_bpe").cast("long").alias(f"n_bpe_{suffix}"),
            F.sum("n_words").cast("long").alias("n_words"),
        )
        return agg.where(F.col("n_words") > 0).select(
            "source",
            f"n_bpe_{suffix}",
            "n_words",
            F.expr(f"(n_bpe_{suffix} * 1000) div n_words")
            .cast("long")
            .alias(f"fert_{suffix}_milli"),
        )

    a = fert(10, "a")
    b = fert(20, "b").drop("n_words")
    return a.join(b, "source").select(
        "source",
        "n_bpe_a",
        "n_bpe_b",
        "n_words",
        "fert_a_milli",
        "fert_b_milli",
        (F.col("fert_a_milli") - F.col("fert_b_milli"))
        .cast("long")
        .alias("delta_milli"),
        F.expr("((n_bpe_a - n_bpe_b) * 1000000) div n_bpe_a")
        .cast("long")
        .alias("saving_ppm"),
    )


# ---------------------------------------------------------------------------
# 6. PQ recall-vs-codebook-size sweep
# ---------------------------------------------------------------------------

_PQ_SWEEP_NCODES = (8, 32)


def _pq_recall_sweep_oracle() -> str:
    from .llm_ops import _pq_int_oracle
    from .registry import ORACLES

    exact = ORACLES["q_sim_topk_int"]
    cells = []
    for n in _PQ_SWEEP_NCODES:
        cells.append(
            f"""
    SELECT CAST({n} AS BIGINT) AS ncodes, e.query_id,
           CAST(count(*) AS BIGINT) AS n_exact,
           CAST(sum(CASE WHEN p.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hits,
           CAST(floor(sum(CASE WHEN p.neighbor_id IS NOT NULL
                               THEN 1 ELSE 0 END) * 1000.0
                      / count(*) + 0.5) AS BIGINT) AS recall_milli
    FROM (SELECT query_id, neighbor_id FROM ({exact})) e
    LEFT JOIN (SELECT query_id, neighbor_id
               FROM ({_pq_int_oracle(8, n, 5)})) p
           USING (query_id, neighbor_id)
    GROUP BY e.query_id"""
        )
    return " UNION ALL ".join(cells)


@query("q_pq_recall_sweep", oracle=_pq_recall_sweep_oracle())
def q_pq_recall_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ recall vs CODEBOOK SIZE: the integer PQ tier (q_sim_pq_int's
    exact machinery) swept over ncodes in {8, 32} per subspace, each
    configuration scored as recall@5 against the exact quantized cosine
    top-5 (q_sim_recall's convention) — the compression-knob table that
    answers 'how many centroids buy how much recall' before committing
    a codebook size at serving scale.  Every input is integer-exact, so
    the whole sweep is hash-gated.

    Scale: per config, encode is one shuffle-free UDF pass and ADC
    tables ride the closure; the exact side broadcasts the 20-query
    sample.  Sweep cost is linear in configurations — and at 100 TB you
    run it on a sampled slice, which this plan is by construction
    (queries are a key-range sample)."""
    from ..operators import pq, similarity

    vecs = rebalance_for_cpu(load(spark, sf_dir, "embeddings"))
    queries_df = vecs.where(F.col("vec_id") < 20)
    exact = similarity.cosine_topk_quantized(vecs, queries_df, k=5).select(
        "query_id", "neighbor_id"
    )
    parts = []
    for ncodes in _PQ_SWEEP_NCODES:
        ann = (
            pq.pq_topk_int(vecs, queries_df, k=5, m=8, ncodes=ncodes)
            .select("query_id", "neighbor_id")
            .withColumn("hit", F.lit(1))
        )
        n_hits = F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long")
        parts.append(
            exact.join(ann, ["query_id", "neighbor_id"], "left")
            .groupBy("query_id")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_exact"),
                n_hits.alias("n_hits"),
                F.floor(
                    n_hits.cast("double")
                    / F.count(F.lit(1))
                    * F.lit(1000.0)
                    + F.lit(0.5)
                )
                .cast("long")
                .alias("recall_milli"),
            )
            .withColumn("ncodes", F.lit(ncodes).cast("long"))
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select("ncodes", "query_id", "n_exact", "n_hits", "recall_milli")


# ---------------------------------------------------------------------------
# 7. WARC-ish record parse (crawl-dump ingest)
# ---------------------------------------------------------------------------


@query(
    "q_warc_parse",
    oracle=f"""
    WITH raw AS (SELECT doc_id, {URL_EXPR} AS url, text FROM documents)
    SELECT doc_id,
           'response' AS rec_type,
           url AS target_uri,
           CAST(strlen(text) AS BIGINT) AS declared_len,
           CAST(strlen(text) AS BIGINT) AS payload_len,
           md5(text) AS payload_md5,
           CAST(4 AS BIGINT) AS n_headers,
           CAST(1 AS BIGINT) AS length_ok
    FROM raw
    """,
)
def q_warc_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC-record ROUND TRIP — the crawl-dump ingest shape: each
    document is serialized into a real WARC-style record (version line,
    four CRLF headers, CRLFCRLF separator, byte payload), and the
    Arrow-batched parser (`operators/warc.py`) splits the actual byte
    stream, validates the version magic, folds the header block, digests
    the payload, and checks the declared Content-Length.  The oracle
    recomputes every field from the source columns directly, so any
    framing bug — wrong split point, header-order dependence, off-by-one
    on the separator — breaks the value hash (the BMP/PGM codec device
    applied to crawl records).

    Scale: encode and parse are both per-row Arrow batches with no
    shuffle; at 100 TB this is the scan-side ingest pass, and the only
    movement is the record bytes themselves, once."""
    from ..operators import warc

    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    raw = docs.select("doc_id", F.expr(URL_EXPR).alias("url"), "text")
    return warc.parse_warc(warc.synthesize_warc(raw))


# ---------------------------------------------------------------------------
# 8. Canonical-URL page dedup (round-8b batch 3)
# ---------------------------------------------------------------------------


@query(
    "q_url_dedup",
    oracle=f"""
    WITH raw AS (
        SELECT doc_id, {URL_EXPR} AS url FROM documents
    ),
    {urls.canonicalize_sql("raw", "doc_id, url")}
    SELECT domain, path,
           CAST(min(doc_id) AS BIGINT) AS keep_id,
           CAST(count(*) AS BIGINT) AS n_dups,
           CAST(count(DISTINCT canon_url) AS BIGINT) AS n_variants
    FROM uc3 GROUP BY 1, 2
    """,
)
def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL dedup at PAGE granularity: canonical (domain, path) as the
    page key (ports and surviving query params are delivery variants of
    the same page), keep the smallest doc_id per page, count collapsed
    fetches and distinct canonical-URL variants — the crawl-side dedup
    that runs BEFORE any content hashing, on keys a thousandth the size
    of the documents.  Composes q_url_canon with q_dedup_exact's
    survivorship rule.

    Scale: per-row canonicalization then ONE map-side-combinable
    groupBy on (domain, path) — page-key bytes shuffle, documents never
    move."""
    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    raw = docs.select("doc_id", F.expr(URL_EXPR).alias("url"))
    c = urls.canonicalize(F.col("url"))
    u = raw.select(
        "doc_id",
        c["domain"].alias("domain"),
        c["path"].alias("path"),
        c["canon_url"].alias("canon_url"),
    )
    return u.groupBy("domain", "path").agg(
        F.min("doc_id").cast("long").alias("keep_id"),
        F.count(F.lit(1)).cast("long").alias("n_dups"),
        F.countDistinct("canon_url").cast("long").alias("n_variants"),
    )


# ---------------------------------------------------------------------------
# 9. SoftDeDup sampling weights
# ---------------------------------------------------------------------------


@query(
    "q_soft_dedup_weight",
    oracle="""
    WITH f AS (
        SELECT doc_id,
               md5(array_to_string(list_sort(list_distinct(
                   string_split(text, ' '))), ' ')) AS h,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        FROM documents
    ),
    g AS (SELECT h, CAST(count(*) AS BIGINT) AS n_copies FROM f GROUP BY 1)
    SELECT f.doc_id, g.n_copies,
           CAST(1000 // g.n_copies AS BIGINT) AS weight_milli,
           f.n_tok,
           CAST(f.n_tok * 1000 // g.n_copies AS BIGINT) AS eff_tok_milli
    FROM f JOIN g USING (h)
    """,
)
def q_soft_dedup_weight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SoftDeDup REWEIGHTING (She et al. 2024: down-weight duplicated
    documents instead of dropping them — keeps the distributional mass
    while killing the gradient over-count): every document gets weight
    1/n_copies of its duplicate group in milli units, plus its
    effective token contribution under that weight.  The group key is
    the ORDER-INSENSITIVE bag-of-words fingerprint (q_fingerprint's
    fp_sorted — this corpus's duplicates are token reorderings, so the
    raw-byte md5 finds nothing while the bag fingerprint collapses the
    real groups); the soft alternative to q_dedup_exact's hard
    survivorship.

    Scale: one digest aggregate + one digest-keyed join back — the
    32-byte hash shuffles twice, documents never move; weights are a
    per-row multiply."""
    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    toks = F.split(F.col("text"), " ")
    h = docs.select(
        "doc_id",
        F.md5(F.array_join(F.array_sort(F.array_distinct(toks)), " ")).alias(
            "h"
        ),
        F.size(toks).cast("long").alias("n_tok"),
    )
    g = h.groupBy("h").agg(F.count(F.lit(1)).cast("long").alias("n_copies"))
    return h.join(g, "h").select(
        "doc_id",
        "n_copies",
        F.expr("1000 div n_copies").cast("long").alias("weight_milli"),
        "n_tok",
        F.expr("(n_tok * 1000) div n_copies")
        .cast("long")
        .alias("eff_tok_milli"),
    )


# ---------------------------------------------------------------------------
# 10. Jelinek-Mercer interpolated bigram LM
# ---------------------------------------------------------------------------

_JM_LAMBDA_MILLI = 700  # λ = 0.7 on the bigram ML term
_JM_TOPK = 40


@query(
    "q_lm_interp",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    b AS (
        SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2
        FROM t, LATERAL (SELECT unnest(range(1, len(toks))) AS i) r
    ),
    cb AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_vw
           FROM b GROUP BY 1, 2),
    ctx AS (SELECT w1, CAST(sum(c_vw) AS BIGINT) AS c_v FROM cb GROUP BY 1),
    u AS (
        SELECT w, CAST(count(*) AS BIGINT) AS c_w
        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        GROUP BY 1
    ),
    tot AS (
        SELECT CAST(count(*) AS BIGINT) AS t_tok
        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
    ),
    p AS (
        SELECT cb.w1, cb.w2, cb.c_vw, ctx.c_v, u.c_w,
               CAST((cb.c_vw * {_JM_LAMBDA_MILLI} * 1000) // ctx.c_v
                    + (u.c_w * {1000 - _JM_LAMBDA_MILLI} * 1000) // tot.t_tok
                    AS BIGINT) AS jm_micro
        FROM cb JOIN ctx USING (w1) JOIN u ON u.w = cb.w2 CROSS JOIN tot
    )
    SELECT w1, w2, c_vw, c_v, c_w, jm_micro,
           CAST(row_number() OVER (ORDER BY jm_micro DESC, w1, w2)
                AS BIGINT) AS rnk
    FROM (
        SELECT * FROM p ORDER BY jm_micro DESC, w1, w2 LIMIT {_JM_TOPK}
    )
    """,
)
def q_lm_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jelinek-Mercer INTERPOLATED bigram LM (Jelinek & Mercer 1980;
    Chen & Goodman 1999 §2.3): P(w|v) = λ·c(vw)/c(v) + (1-λ)·c(w)/T in
    exact micro units — the fixed-weight linear-interpolation smoothing
    beside q_kneser_ney's continuation-count smoothing, so the two
    classic LM smoothers can be regression-compared on one corpus.
    Top-40 model rows with every component count hash-gated.

    Scale: identical posture to q_kneser_ney — one bigram stream into
    vocabulary-scale count tables, a 1-row token-total broadcast, and a
    heap top-k (TakeOrderedAndProject), never a global sort."""
    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    t = docs.select("doc_id", F.split("text", " ").alias("toks"))
    b = t.select(
        F.explode(
            F.expr(
                "CASE WHEN size(toks) >= 2 "
                "THEN sequence(1, size(toks) - 1) ELSE array() END"
            )
        ).alias("i"),
        "toks",
    ).select(
        F.element_at("toks", F.col("i")).alias("w1"),
        F.element_at("toks", F.col("i") + 1).alias("w2"),
    )
    cb = b.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("long").alias("c_vw"))
    ctx = cb.groupBy("w1").agg(F.sum("c_vw").cast("long").alias("c_v"))
    toks = t.select(F.explode("toks").alias("w"))
    u = toks.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("c_w"))
    tot = toks.agg(F.count(F.lit(1)).cast("long").alias("t_tok"))
    p = (
        cb.join(ctx, "w1")
        .join(u, cb["w2"] == u["w"])
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "c_vw",
            "c_v",
            "c_w",
            F.expr(
                f"(c_vw * {_JM_LAMBDA_MILLI} * 1000) div c_v"
                f" + (c_w * {1000 - _JM_LAMBDA_MILLI} * 1000) div t_tok"
            )
            .cast("long")
            .alias("jm_micro"),
        )
    )
    top = p.orderBy(
        F.col("jm_micro").desc(), F.col("w1").asc(), F.col("w2").asc()
    ).limit(_JM_TOPK)
    w = Window.orderBy(
        F.col("jm_micro").desc(), F.col("w1").asc(), F.col("w2").asc()
    )
    return top.withColumn("rnk", F.row_number().over(w).cast("long"))


# ---------------------------------------------------------------------------
# 11. Vocabulary pruning by document frequency
# ---------------------------------------------------------------------------

_VP_MIN_DF_PPM = 100_000  # below 10% of docs -> cut_low (rare/noise)
_VP_MAX_DF_PPM = 780_000  # above 78% of docs -> cut_high (stop-like)


@query(
    "q_vocab_prune",
    oracle=f"""
    WITH tok AS (
        SELECT DISTINCT doc_id, token FROM (
            SELECT doc_id, unnest(string_split(text, ' ')) AS token
            FROM documents)
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
    d AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tok GROUP BY 1)
    SELECT token, df,
           CAST(df * 1000000 // n_docs AS BIGINT) AS df_ppm,
           CASE WHEN df * 1000000 // n_docs < {_VP_MIN_DF_PPM}
                THEN 'cut_low'
                WHEN df * 1000000 // n_docs > {_VP_MAX_DF_PPM}
                THEN 'cut_high'
                ELSE 'keep' END AS action
    FROM d CROSS JOIN n
    """,
)
def q_vocab_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary PRUNING by document frequency (the min_df/max_df cut
    every bag-of-words / TF-IDF / topic pipeline applies before
    featurization): per token its document frequency, corpus share in
    ppm, and the keep / cut_low (rare) / cut_high (stop-like) action at
    fixed ppm thresholds — scale-free thresholds so the rule is the
    same at any corpus size.

    Scale: within-doc distinct is a per-row array op (no shuffle), the
    df pass is ONE map-side-combinable groupBy(token) to
    vocabulary-cardinality rows, and the total is a 1-row broadcast."""
    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    tok = docs.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("token")
    )
    d = tok.groupBy("token").agg(F.count(F.lit(1)).cast("long").alias("df"))
    n = docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    ppm = F.expr("(df * 1000000) div n_docs")
    return d.crossJoin(F.broadcast(n)).select(
        "token",
        "df",
        ppm.cast("long").alias("df_ppm"),
        F.when(ppm < _VP_MIN_DF_PPM, F.lit("cut_low"))
        .when(ppm > _VP_MAX_DF_PPM, F.lit("cut_high"))
        .otherwise(F.lit("keep"))
        .alias("action"),
    )


# ---------------------------------------------------------------------------
# 12. Temporal train/test split with user-leakage audit
# ---------------------------------------------------------------------------


@query(
    "q_temporal_split",
    oracle="""
    WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
    c AS (SELECT min(us) + (max(us) - min(us)) * 49 // 50 AS cut FROM e)
    SELECT user_id,
           CAST(sum(CASE WHEN us < cut THEN 1 ELSE 0 END) AS BIGINT)
               AS n_train,
           CAST(sum(CASE WHEN us >= cut THEN 1 ELSE 0 END) AS BIGINT)
               AS n_test,
           CAST(CASE WHEN sum(CASE WHEN us < cut THEN 1 ELSE 0 END) > 0
                      AND sum(CASE WHEN us >= cut THEN 1 ELSE 0 END) > 0
                THEN 1 ELSE 0 END AS BIGINT) AS spans_cut
    FROM e CROSS JOIN c
    GROUP BY user_id
    """,
)
def q_temporal_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEMPORAL train/test split with the user-leakage audit: the cut is
    the 98% point of the observed time range (integer usec, the
    reproducible alternative to calendar constants — holding out the
    trailing 2% of time; an earlier cut makes every user span it in
    this uniformly-active corpus and the audit column degenerates), each user's events
    are counted on both sides, and ``spans_cut`` flags the users whose
    history leaks across the boundary — the entity-level leakage a
    time-split evaluation must either group away or report.

    Scale: one min/max aggregate (1-row broadcast) + one user-keyed
    partial aggregate; no window, no join on the fact table."""
    from ..tables import load as load_tbl

    ev = load_tbl(spark, sf_dir, "events").select(
        "user_id", F.expr("ts div 1000").alias("us")
    )
    c = ev.agg(
        F.expr("min(us) + ((max(us) - min(us)) * 49) div 50").alias("cut")
    )
    is_train = F.when(F.col("us") < F.col("cut"), 1).otherwise(0)
    return (
        ev.crossJoin(F.broadcast(c))
        .groupBy("user_id")
        .agg(
            F.sum(is_train).cast("long").alias("n_train"),
            F.sum(1 - is_train).cast("long").alias("n_test"),
        )
        .select(
            "user_id",
            "n_train",
            "n_test",
            ((F.col("n_train") > 0) & (F.col("n_test") > 0))
            .cast("long")
            .alias("spans_cut"),
        )
    )


# ---------------------------------------------------------------------------
# 13. Hashed n-gram linear scorer (hashing-trick features)
# ---------------------------------------------------------------------------

# 16-bucket hashing-trick weight table (milli units), ONE Python literal
# rendered into both engines.
_HNG_W = [37, -52, 11, -8, 90, -41, 23, -17, 5, -63, 48, -29, 71, -94, 33, -12]
_HNG_W_SQL = ", ".join(str(w) for w in _HNG_W)
_HNG_K = len(_HNG_W)

_HNG_BIGRAMS_SPARK = (
    "CASE WHEN size(toks) >= 2 THEN transform(sequence(1, size(toks) - 1),"
    " i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))"
    " ELSE array() END"
)


@query(
    "q_hashed_ngram_score",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    g AS (
        SELECT doc_id,
               CASE WHEN len(toks) >= 2 THEN
                   [toks[i] || ' ' || toks[i+1] FOR i IN range(1, len(toks))]
               ELSE [] END AS bigrams
        FROM t
    )
    SELECT doc_id,
           CAST(len(bigrams) AS BIGINT) AS n_feats,
           CAST(coalesce(list_sum(list_transform(bigrams,
                b -> [{_HNG_W_SQL}][
                    CAST(CAST(concat('0x', substring(md5(b), 1, 15))
                         AS BIGINT) % {_HNG_K} AS INT) + 1])), 0)
                AS BIGINT) AS score_milli,
           CAST(CASE WHEN coalesce(list_sum(list_transform(bigrams,
                b -> [{_HNG_W_SQL}][
                    CAST(CAST(concat('0x', substring(md5(b), 1, 15))
                         AS BIGINT) % {_HNG_K} AS INT) + 1])), 0) > 0
                THEN 1 ELSE 0 END AS BIGINT) AS pred_keep
    FROM g
    """,
)
def q_hashed_ngram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick n-gram LINEAR SCORER (the fasttext feature layout:
    Weinberger et al. 2009 feature hashing + a fixed weight vector):
    every consecutive bigram hashes into one of 16 weight buckets
    (md5-int — the engine's one portable string hash) and the document
    score is the exact integer sum of its bigram-bucket weights — the
    model-free stand-in for an n-gram classifier, with collisions and
    all, entirely hash-gated.  Complements q_quality_classifier's dense
    features with the sparse hashed-feature shape.

    Scale: bigram build, hash, table lookup, and sum are ONE per-row
    higher-order-function chain — no explode, no shuffle, no Python;
    the 16-weight table is a literal in the expression (codegen), which
    is exactly how a 2^18-bucket table ships at 100 TB (broadcast
    literal, never a join)."""
    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    score = F.expr(
        f"aggregate({_HNG_BIGRAMS_SPARK}, 0L, (acc, b) -> acc +"
        f" element_at(array({_HNG_W_SQL}),"
        f" CAST(CAST(conv(substring(md5(b), 1, 15), 16, 10) AS BIGINT)"
        f" % {_HNG_K} AS INT) + 1))"
    )
    n_feats = F.expr(f"size({_HNG_BIGRAMS_SPARK})")
    return docs.select("doc_id", F.split("text", " ").alias("toks")).select(
        "doc_id",
        n_feats.cast("long").alias("n_feats"),
        score.cast("long").alias("score_milli"),
        (score > 0).cast("long").alias("pred_keep"),
    )


# ---------------------------------------------------------------------------
# 14. Jaccard threshold sweep over LSH candidates
# ---------------------------------------------------------------------------

# Operating points chosen against the corpus's observed candidate
# distribution (band-collision noise at <=43 milli, the true near-dup
# cluster at 900-989): each threshold cuts a DIFFERENT pair count, so
# the sweep is informative instead of four copies of one number.
_JT_THRESHOLDS = (10, 500, 960, 980)


def _jaccard_sweep_oracle() -> str:
    from .llm_ops import _minhash_oracle

    th_values = ", ".join(f"({t})" for t in _JT_THRESHOLDS)
    return f"""
    WITH cand AS (
        SELECT doc_a, doc_b FROM ({_minhash_oracle(16)})
    ),
    sh2 AS (
        SELECT doc_id, unnest(list_distinct(
            [array_to_string(toks[i:i+2], ' ')
             FOR i IN range(1, greatest(len(toks) - 1, 1))]
        )) AS shingle
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    ),
    cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
            FROM sh2 GROUP BY 1),
    inter AS (
        SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS i
        FROM cand c
        JOIN sh2 sa ON sa.doc_id = c.doc_a
        JOIN sh2 sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
        GROUP BY 1, 2
    ),
    j AS (
        SELECT c.doc_a, c.doc_b,
               (coalesce(i.i, 0) * 1000)
                   // (na.n + nb.n - coalesce(i.i, 0)) AS jacc
        FROM cand c
        JOIN cnt na ON na.doc_id = c.doc_a
        JOIN cnt nb ON nb.doc_id = c.doc_b
        LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
    ),
    th(thresh_milli) AS (VALUES {th_values}),
    pairs_t AS (
        SELECT th.thresh_milli, CAST(count(*) AS BIGINT) AS n_pairs
        FROM j CROSS JOIN th WHERE j.jacc >= th.thresh_milli GROUP BY 1
    ),
    flat AS (
        SELECT th.thresh_milli, j.doc_a AS d
        FROM j CROSS JOIN th WHERE j.jacc >= th.thresh_milli
        UNION ALL
        SELECT th.thresh_milli, j.doc_b
        FROM j CROSS JOIN th WHERE j.jacc >= th.thresh_milli
    ),
    docs_t AS (
        SELECT thresh_milli, CAST(count(DISTINCT d) AS BIGINT) AS n_docs
        FROM flat GROUP BY 1
    )
    SELECT CAST(t.thresh_milli AS BIGINT) AS thresh_milli,
           CAST(coalesce(p.n_pairs, 0) AS BIGINT) AS n_pairs,
           CAST(coalesce(dd.n_docs, 0) AS BIGINT) AS n_docs
    FROM th t
    LEFT JOIN pairs_t p ON p.thresh_milli = t.thresh_milli
    LEFT JOIN docs_t dd ON dd.thresh_milli = t.thresh_milli
    """


@query("q_jaccard_threshold_sweep", oracle=_jaccard_sweep_oracle())
def q_jaccard_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard THRESHOLD sweep over the LSH candidate set: for each
    dedup cut-off (300/500/700/850 milli) the number of confirmed
    near-dup pairs and of documents touched — the operating-point table
    that turns 'pick a similarity threshold' from a guess into a read
    (q_lsh_tuning tunes the index; this tunes the DECISION).  Zero-pair
    thresholds emit explicit zero rows (the ADVICE r07 q_embed_lsh_tuning
    rule: a tuning table must never silently omit a configuration).

    Scale: candidates come from the bucketed LSH path (never
    all-pairs), the exact verify join touches only candidate shingles,
    and the sweep itself is a 4-row broadcast over the verified pair
    table — thresholds add zero passes over the corpus."""
    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    sh = dedup.shingles(docs, n=3)
    sig = dedup.minhash_signatures(sh, num_hashes=16)
    bands = dedup.lsh_bands(sig, num_hashes=16, rows_per_band=2)
    cand = dedup.lsh_candidate_pairs(bands)
    cnt = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    sa = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    sb = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        cand.join(sa, "doc_a")
        .join(sb, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    j = (
        cand.join(
            cnt.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na")),
            "doc_a",
        )
        .join(
            cnt.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")),
            "doc_b",
        )
        .join(inter, ["doc_a", "doc_b"], "left")
        .select(
            "doc_a",
            "doc_b",
            F.expr(
                "(coalesce(i, 0) * 1000) div (na + nb - coalesce(i, 0))"
            ).alias("jacc"),
        )
    )
    th = spark.createDataFrame(
        [(t,) for t in _JT_THRESHOLDS], "thresh_milli INT"
    )
    hits = j.crossJoin(F.broadcast(th)).where(
        F.col("jacc") >= F.col("thresh_milli")
    )
    pairs_t = hits.groupBy("thresh_milli").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs")
    )
    docs_t = (
        hits.select(
            "thresh_milli",
            F.explode(F.array("doc_a", "doc_b")).alias("d"),
        )
        .groupBy("thresh_milli")
        .agg(F.countDistinct("d").cast("long").alias("n_docs"))
    )
    return (
        th.join(pairs_t, "thresh_milli", "left")
        .join(docs_t, "thresh_milli", "left")
        .select(
            F.col("thresh_milli").cast("long").alias("thresh_milli"),
            F.coalesce(F.col("n_pairs"), F.lit(0))
            .cast("long")
            .alias("n_pairs"),
            F.coalesce(F.col("n_docs"), F.lit(0)).cast("long").alias("n_docs"),
        )
    )


# ---------------------------------------------------------------------------
# 15. Language-ID confidence margin
# ---------------------------------------------------------------------------


def _langid_margin_oracle() -> str:
    from ..operators.text import LANG_MARKERS

    langs = sorted(LANG_MARKERS)
    score_cols = []
    for lang in langs:
        in_list = ", ".join(f"'{m}'" for m in LANG_MARKERS[lang])
        score_cols.append(
            f"CAST(len(list_filter(string_split(text, ' '),"
            f" x -> x IN ({in_list}))) AS BIGINT) AS s_{lang}"
        )
    # predict_lang's tie rule: earlier alphabetical language wins on >=
    pred_chain = []
    for i, lang in enumerate(langs[:-1]):
        rest = [f"s_{o}" for o in langs[i + 1 :]]
        rest_max = rest[0] if len(rest) == 1 else f"greatest({', '.join(rest)})"
        pred_chain.append(f"WHEN s_{lang} >= {rest_max} THEN '{lang}'")
    pred_sql = "CASE " + " ".join(pred_chain) + f" ELSE '{langs[-1]}' END"
    all_scores = ", ".join(f"s_{lang}" for lang in langs)
    return f"""
    WITH s AS (
        SELECT doc_id, {", ".join(score_cols)}
        FROM documents
    ),
    m AS (
        SELECT doc_id, {pred_sql} AS pred_lang,
               list_sort([{all_scores}])[{len(langs)}]
                   - list_sort([{all_scores}])[{len(langs) - 1}] AS margin
        FROM s
    )
    SELECT pred_lang,
           CASE WHEN margin = 0 THEN 'tie'
                WHEN margin <= 2 THEN 'narrow'
                WHEN margin <= 5 THEN 'clear'
                ELSE 'strong' END AS margin_band,
           CAST(count(*) AS BIGINT) AS n,
           CAST(min(margin) AS BIGINT) AS min_margin,
           CAST(max(margin) AS BIGINT) AS max_margin
    FROM m GROUP BY 1, 2
    """


@query("q_langid_margin", oracle=_langid_margin_oracle())
def q_langid_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confidence MARGIN audit: per predicted language, how
    far the winning marker score sits above the runner-up (top1 - top2
    over the sorted score vector), banded into tie / narrow / clear /
    strong — the confidence profile that tells a pipeline which
    language buckets need a second-pass classifier (q_langid_confusion
    audits WHERE the errors go; this audits how close the calls were).

    Scale: scores, sort, margin, and band are per-row array ops (no
    explode, no shuffle); the rollup is one (lang, band)-keyed partial
    aggregate to at most 20 rows."""
    from ..operators import text as text_ops

    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    langs = sorted(text_ops.LANG_MARKERS)
    scored = text_ops.lang_scores(docs).withColumn(
        "pred_lang", text_ops.predict_lang()
    )
    arr = F.array_sort(F.array(*[F.col(f"s_{lang}") for lang in langs]))
    margin = (
        F.element_at(arr, len(langs)) - F.element_at(arr, len(langs) - 1)
    ).cast("long")
    m = scored.select("doc_id", "pred_lang", margin.alias("margin"))
    return (
        m.select(
            "pred_lang",
            F.when(F.col("margin") == 0, F.lit("tie"))
            .when(F.col("margin") <= 2, F.lit("narrow"))
            .when(F.col("margin") <= 5, F.lit("clear"))
            .otherwise(F.lit("strong"))
            .alias("margin_band"),
            "margin",
        )
        .groupBy("pred_lang", "margin_band")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min("margin").cast("long").alias("min_margin"),
            F.max("margin").cast("long").alias("max_margin"),
        )
    )


# ---------------------------------------------------------------------------
# 16. Boilerplate-prefix groups (round-8b batch 5)
# ---------------------------------------------------------------------------

_BP_PREFIX_WORDS = 8


@query(
    "q_boilerplate_prefix",
    oracle=f"""
    WITH p AS (
        SELECT doc_id,
               md5(array_to_string(
                   (string_split(text, ' '))[1:{_BP_PREFIX_WORDS}],
                   ' ')) AS prefix_h
        FROM documents
    )
    SELECT prefix_h,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS keep_id,
           CAST(max(doc_id) AS BIGINT) AS max_doc
    FROM p GROUP BY prefix_h
    HAVING count(*) >= 2
    """,
)
def q_boilerplate_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOILERPLATE-PREFIX detection: documents sharing their first 8
    tokens (the shared-header signature of templated pages — cookie
    banners, license headers, nav blocks) grouped by prefix digest,
    groups of >= 2 reported with survivorship — the positional
    complement of q_line_dedup (which needs the duplicated text
    ANYWHERE; headers are always at position 0 and cheaper to key on).

    Scale: the prefix digest is a per-row slice+hash (no shuffle); ONE
    map-side-combinable groupBy on the 16-byte digest — documents never
    move."""
    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    prefix_h = F.md5(
        F.array_join(F.slice(F.split("text", " "), 1, _BP_PREFIX_WORDS), " ")
    )
    return (
        docs.groupBy(prefix_h.alias("prefix_h"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("doc_id").cast("long").alias("keep_id"),
            F.max("doc_id").cast("long").alias("max_doc"),
        )
        .where(F.col("n_docs") >= 2)
    )


# ---------------------------------------------------------------------------
# 17. Cross-shard dedup audit (round-8b batch 6)
# ---------------------------------------------------------------------------

_SDX_SHARDS = 8


def _shard_dedup_cross_oracle() -> str:
    from .llm_ops import _minhash_oracle

    return f"""
    WITH base AS (
        SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h,
               n_chars AS bytes
        FROM documents
    ),
    tot AS (SELECT CAST(sum(bytes) AS BIGINT) AS wtot FROM base),
    cum AS (
        SELECT doc_id, bytes,
               CAST(sum(bytes) OVER (ORDER BY h, doc_id
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS cum
        FROM base
    ),
    assigned AS (
        SELECT doc_id,
               CAST(((cum - bytes) * {_SDX_SHARDS}) // wtot AS BIGINT)
                   AS shard
        FROM cum CROSS JOIN tot
    ),
    cand AS (
        SELECT doc_a, doc_b FROM ({_minhash_oracle(16)})
    ),
    tagged AS (
        SELECT c.doc_a, c.doc_b,
               CASE WHEN sa.shard = sb.shard THEN 1 ELSE 0 END AS same_shard
        FROM cand c
        JOIN assigned sa ON sa.doc_id = c.doc_a
        JOIN assigned sb ON sb.doc_id = c.doc_b
    ),
    tot_p AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM tagged)
    SELECT CAST(t.same_shard AS BIGINT) AS same_shard,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(count(*) * 1000000 // max(tp.n_total) AS BIGINT)
               AS share_ppm
    FROM tagged t CROSS JOIN tot_p tp
    GROUP BY t.same_shard
    """


@query("q_shard_dedup_cross", oracle=_shard_dedup_cross_oracle())
def q_shard_dedup_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-SHARD dedup audit: how many LSH near-dup candidate pairs
    land in the SAME balanced output shard (q_shard_plan's assignment)
    vs across shards — the number that decides whether shard-local
    dedup (cheap, embarrassingly parallel) is safe or a global pass is
    required.  Hash-ordered sharding is content-free, so near-dups
    scatter ~uniformly and the cross-shard share ≈ 1 − 1/S; the audit
    hash-gates that expectation against the actual pair placement.

    Scale: shard assignment is the q_shard_plan prefix-sum (never a
    global single-task window), candidates are the bucketed LSH path,
    and the audit is two doc_id equi-joins + a 2-group rollup."""
    from ..operators import sharding

    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    assigned = sharding.assign_shards(
        docs.select("doc_id", F.col("n_chars").cast("long").alias("bytes")),
        id_col="doc_id",
        bytes_col="bytes",
        num_shards=_SDX_SHARDS,
    ).select("doc_id", "shard")
    sh = dedup.shingles(docs, n=3)
    sig = dedup.minhash_signatures(sh, num_hashes=16)
    bands = dedup.lsh_bands(sig, num_hashes=16, rows_per_band=2)
    cand = dedup.lsh_candidate_pairs(bands)
    tagged = (
        cand.join(
            assigned.select(
                F.col("doc_id").alias("doc_a"), F.col("shard").alias("sa")
            ),
            "doc_a",
        )
        .join(
            assigned.select(
                F.col("doc_id").alias("doc_b"), F.col("shard").alias("sb")
            ),
            "doc_b",
        )
        .select(
            F.when(F.col("sa") == F.col("sb"), 1)
            .otherwise(0)
            .cast("long")
            .alias("same_shard")
        )
    )
    # n_total = sum of the two group counts — computed by a window over
    # the <=2-row grouped table (optimization round 13).  The previous
    # separate ``tagged.agg(count)`` branch duplicated the ENTIRE LSH
    # candidate chain (shingles -> signatures -> bands -> pair join ->
    # two shard joins) as a second plan subtree: 28 parquet scans / 94
    # Exchanges for one scalar the grouped output already determines.
    w_all = Window.orderBy("same_shard").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        tagged.groupBy("same_shard")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .withColumn("n_total", F.sum("n_pairs").over(w_all))
        .select(
            "same_shard",
            "n_pairs",
            F.expr("(n_pairs * 1000000) div n_total")
            .cast("long")
            .alias("share_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# 18. Entity-resolution blocking audit
# ---------------------------------------------------------------------------

# (strategy name, DuckDB key expr, Spark Column factory) — key exprs are
# written once per engine below; the STRATEGY LIST is the shared literal.
_ER_STRATEGIES = ("name_suffix", "nation_segment", "balance_band")


def _er_key_sql(strategy: str) -> str:
    return {
        "name_suffix": "right(c_name, 3)",
        "nation_segment": "c_nationkey || ':' || c_mktsegment",
        "balance_band": "CAST(CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT)"
        " // 100000 AS VARCHAR)",
    }[strategy]


def _er_blocking_oracle() -> str:
    cells = []
    for s in _ER_STRATEGIES:
        cells.append(
            f"""
    SELECT '{s}' AS strategy,
           CAST(count(*) AS BIGINT) AS n_blocks,
           CAST(max(b) AS BIGINT) AS max_block,
           CAST(sum(b * (b - 1) // 2) AS BIGINT) AS n_candidates,
           CAST(1000000 - sum(b * (b - 1) // 2) * 1000000
                // (SELECT count(*) * (count(*) - 1) // 2 FROM customer)
                AS BIGINT) AS reduction_ppm
    FROM (SELECT {_er_key_sql(s)} AS k, CAST(count(*) AS BIGINT) AS b
          FROM customer GROUP BY 1)"""
        )
    return " UNION ALL ".join(cells)


@query("q_er_blocking", oracle=_er_blocking_oracle())
def q_er_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution BLOCKING audit (the step before any fuzzy
    match, Christen 2012): for three candidate blocking keys over the
    customer table — name suffix, (nation, segment), account
    balance band — the block count, the largest block, the candidate
    pair count Σb(b−1)/2, and the reduction ratio vs the full n(n−1)/2
    cross product in ppm.  The table that says which key makes
    q_fuzzy_join-style matching affordable BEFORE anyone runs it.

    Scale: per strategy ONE map-side-combinable groupBy on the block
    key; candidate counts are arithmetic on block sizes — no pair is
    ever materialized."""
    cust = load(spark, sf_dir, "customer")
    keys = {
        "name_suffix": F.expr("right(c_name, 3)"),
        "nation_segment": F.concat(
            F.col("c_nationkey").cast("string"),
            F.lit(":"),
            F.col("c_mktsegment"),
        ),
        "balance_band": F.expr(
            "CAST(CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT)"
            " div 100000 AS STRING)"
        ),
    }
    total = cust.agg(
        F.expr("(count(*) * (count(*) - 1)) div 2").alias("n_all_pairs")
    )
    parts = []
    for s in _ER_STRATEGIES:
        blocks = cust.groupBy(keys[s].alias("k")).agg(
            F.count(F.lit(1)).cast("long").alias("b")
        )
        parts.append(
            blocks.agg(
                F.count(F.lit(1)).cast("long").alias("n_blocks"),
                F.max("b").cast("long").alias("max_block"),
                F.sum(F.expr("(b * (b - 1)) div 2"))
                .cast("long")
                .alias("n_candidates"),
            )
            .crossJoin(F.broadcast(total))
            .select(
                F.lit(s).alias("strategy"),
                "n_blocks",
                "max_block",
                "n_candidates",
                F.expr(
                    "1000000 - (n_candidates * 1000000) div n_all_pairs"
                )
                .cast("long")
                .alias("reduction_ppm"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ---------------------------------------------------------------------------
# 19. k-anonymity generalization ladder
# ---------------------------------------------------------------------------

_KG_K = 5


@query(
    "q_kanon_generalize",
    oracle=f"""
    WITH l0 AS (
        SELECT 0 AS level, lang || '|' || source AS qi FROM documents
    ),
    l1 AS (SELECT 1 AS level, lang AS qi FROM documents),
    l2 AS (SELECT 2 AS level, 'all' AS qi FROM documents),
    u AS (SELECT * FROM l0 UNION ALL SELECT * FROM l1
          UNION ALL SELECT * FROM l2),
    g AS (
        SELECT level, qi, CAST(count(*) AS BIGINT) AS n
        FROM u GROUP BY 1, 2
    ),
    per AS (
        SELECT level,
               CAST(count(*) AS BIGINT) AS n_groups,
               CAST(min(n) AS BIGINT) AS min_group,
               CAST(sum(CASE WHEN n < {_KG_K} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_below_k
        FROM g GROUP BY level
    ),
    ch AS (
        SELECT min(level) AS chosen_level FROM per WHERE n_below_k = 0
    )
    SELECT CAST(p.level AS BIGINT) AS level, p.n_groups, p.min_group,
           p.n_below_k,
           CAST(CASE WHEN p.level = c.chosen_level THEN 1 ELSE 0 END
                AS BIGINT) AS chosen
    FROM per p CROSS JOIN ch c
    """,
)
def q_kanon_generalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-ANONYMITY GENERALIZATION ladder (Sweeney 2002): evaluate the
    quasi-identifier hierarchy (lang, source) -> (lang) -> (all) and
    pick the LEAST generalized level where every group reaches k=5 —
    the decision q_k_anonymity's flat audit feeds (that query reports
    violations at one level; this one resolves the release policy).

    Scale: the ladder is a 3-way union of keyed aggregates (each
    map-side combinable), per-level stats are group-cardinality, and
    the chosen level is a 1-row broadcast."""
    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    u = (
        docs.select(
            F.lit(0).alias("level"),
            F.concat(F.col("lang"), F.lit("|"), F.col("source")).alias("qi"),
        )
        .unionByName(
            docs.select(F.lit(1).alias("level"), F.col("lang").alias("qi"))
        )
        .unionByName(
            docs.select(F.lit(2).alias("level"), F.lit("all").alias("qi"))
        )
    )
    g = u.groupBy("level", "qi").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    per = g.groupBy("level").agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.min("n").cast("long").alias("min_group"),
        F.sum(F.when(F.col("n") < _KG_K, 1).otherwise(0))
        .cast("long")
        .alias("n_below_k"),
    )
    ch = per.where(F.col("n_below_k") == 0).agg(
        F.min("level").alias("chosen_level")
    )
    return per.crossJoin(F.broadcast(ch)).select(
        F.col("level").cast("long").alias("level"),
        "n_groups",
        "min_group",
        "n_below_k",
        (F.col("level") == F.col("chosen_level"))
        .cast("long")
        .alias("chosen"),
    )


# ---------------------------------------------------------------------------
# 20. BM25 k1 saturation sweep (round-8b batch 7)
# ---------------------------------------------------------------------------

_BM25_K1S = [("0.6", 600), ("1.2", 1200), ("2.0", 2000)]
_BM25_TF_CAP = 4


def _bm25_k1_sweep_oracle() -> str:
    arms = []
    for k1s, k1m in _BM25_K1S:
        arms.append(
            f"""
    SELECT CAST({k1m} AS BIGINT) AS k1_milli,
           CAST(least(tf, {_BM25_TF_CAP}) AS BIGINT) AS tf_bucket,
           CAST(count(*) AS BIGINT) AS n_terms,
           CAST(sum(s_micro) AS BIGINT) AS sum_s_micro,
           CAST(sum(s_micro) // count(*) AS BIGINT) AS mean_s_micro
    FROM (
        SELECT tf.tf,
               CAST(floor(
                   (CAST(n_docs - df AS DOUBLE) * 1000.0
                    / CAST(df AS DOUBLE))
                   * (CAST(tf AS DOUBLE) * (1.0 + {k1s}))
                   / (CAST(tf AS DOUBLE)
                      + {k1s} * (0.25 + 0.75 * (CAST(dl.dl AS DOUBLE)
                               * CAST(n_docs AS DOUBLE)
                               / CAST(sum_dl AS DOUBLE))))
                   * 1000000.0 + 0.5) AS BIGINT) AS s_micro
        FROM tf JOIN dl USING (doc_id) JOIN df USING (tok)
        CROSS JOIN stats
    ) GROUP BY 1, 2"""
        )
    return (
        """
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents
    ),
    dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
    stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(sum(dl) AS BIGINT) AS sum_dl
              FROM dl),
    tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks
           WHERE tok IN ('spark', 'query', 'join') GROUP BY 1, 2),
    df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1)
    """
        + " UNION ALL ".join(arms)
    )


@query("q_bm25_k1_sweep", oracle=_bm25_k1_sweep_oracle())
def q_bm25_k1_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 k1 SATURATION curve: q_bm25_lite's integerized per-term
    scorer evaluated at k1 in {0.6, 1.2, 2.0}, rolled up by capped
    term frequency (tf buckets 1, 2, 3, 4+) into the mean per-term
    score.  The idf is the RATIO form (N−df)·1000/df (Robertson's idf
    without the log): this corpus's vocabulary is so uniformly common
    that the bit-length log-idf device rounds every query term to ZERO
    bits and the scores degenerate — measured before swapping the
    dampening for an exact monotone ratio the curve can move on.  The
    table SHOWS the knob: low k1 flattens the curve
    (tf 4 barely beats tf 1), high k1 keeps rewarding repetition.  A
    top-k sweep was measured first and rejected: on this corpus the
    rare-term idf dominates and the top-10 ORDER is k1-invariant, so a
    ranking table would silently show nothing — the curve is the
    statistic that actually moves (the q_jaccard_threshold_sweep
    lesson: a tuning table must vary along its knob).

    Scale: the tf/df/stats tables are computed once and shared by all
    arms (query-term-bounded / broadcast-sized); each configuration
    adds one scoring projection + a 12-row rollup, zero extra corpus
    scans."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("sum_dl"),
    )
    tf = (
        toks.where(F.col("tok").isin("spark", "query", "join"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_t = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    base = (
        tf.join(dl, "doc_id")
        .join(F.broadcast(df_t), "tok")
        .crossJoin(F.broadcast(stats))
    )
    tfd = F.col("tf").cast("double")
    dld = F.col("dl").cast("double")
    parts = []
    for k1s, k1m in _BM25_K1S:
        k1 = float(k1s)
        s = (
            ((F.col("n_docs") - F.col("df")).cast("double") * F.lit(1000.0)
             / F.col("df").cast("double"))
            * (tfd * F.lit(1.0 + k1))
            / (
                tfd
                + F.lit(k1)
                * (
                    F.lit(0.25)
                    + F.lit(0.75)
                    * (
                        dld
                        * F.col("n_docs").cast("double")
                        / F.col("sum_dl").cast("double")
                    )
                )
            )
        )
        s_micro = F.floor(s * F.lit(1000000.0) + F.lit(0.5)).cast("long")
        parts.append(
            base.select(
                F.least(F.col("tf"), F.lit(_BM25_TF_CAP))
                .cast("long")
                .alias("tf_bucket"),
                s_micro.alias("s_micro"),
            )
            .groupBy("tf_bucket")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_terms"),
                F.sum("s_micro").cast("long").alias("sum_s_micro"),
                F.expr("sum(s_micro) div count(*)")
                .cast("long")
                .alias("mean_s_micro"),
            )
            .withColumn("k1_milli", F.lit(k1m).cast("long"))
            .select(
                "k1_milli", "tf_bucket", "n_terms", "sum_s_micro",
                "mean_s_micro",
            )
        )
    out = parts[0]
    for p_ in parts[1:]:
        out = out.unionByName(p_)
    return out


# ---------------------------------------------------------------------------
# 21. Label centroid distance matrix
# ---------------------------------------------------------------------------


@query(
    "q_centroid_dist",
    oracle="""
    WITH q AS (
        SELECT label,
               unnest(list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5)
                             AS BIGINT))) AS qx,
               generate_subscripts(embedding, 1) AS dim
        FROM embeddings WHERE label IS NOT NULL
    ),
    cent AS (
        SELECT label, dim,
               CAST(sum(qx) // count(*) AS BIGINT) AS c
        FROM q GROUP BY 1, 2
    )
    SELECT a.label AS label_a, b.label AS label_b,
           CAST(count(*) AS BIGINT) AS n_dims,
           CAST(sum((a.c - b.c) * (a.c - b.c)) AS BIGINT) AS dist_sq
    FROM cent a JOIN cent b ON a.dim = b.dim AND a.label < b.label
    GROUP BY 1, 2
    """,
)
def q_centroid_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label CENTROID distance matrix: per class the floor-mean of the
    micro-quantized embedding components (q_embed_drift's device), then
    the exact integer squared-L2 between every class-centroid pair —
    the class-separation audit that says whether the embedding space
    can support the kNN/ANN classifiers at all (tight centroids with
    small pairwise distances predict q_knn_eval's confusions).

    Scale: ONE (label, dim) map-side-combinable aggregate off the
    embedding scan; the centroid table is labels x dims rows (KB) so
    the pairwise join is dimension-table work."""
    vecs = rebalance_for_cpu(load(spark, sf_dir, "embeddings"))
    q = vecs.where(F.col("label").isNotNull()).select(
        "label",
        F.posexplode(
            F.expr(
                "transform(embedding,"
                " x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5)"
                " AS BIGINT))"
            )
        ).alias("dim0", "qx"),
    ).select("label", (F.col("dim0") + 1).alias("dim"), "qx")
    cent = q.groupBy("label", "dim").agg(
        F.expr("sum(qx) div count(*)").cast("long").alias("c")
    )
    a = cent.select(
        F.col("label").alias("label_a"), "dim", F.col("c").alias("ca")
    )
    b = cent.select(
        F.col("label").alias("label_b"), "dim", F.col("c").alias("cb")
    )
    return (
        a.join(b, "dim")
        .where(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_dims"),
            F.sum((F.col("ca") - F.col("cb")) * (F.col("ca") - F.col("cb")))
            .cast("long")
            .alias("dist_sq"),
        )
    )


# ---------------------------------------------------------------------------
# 22. Integer z-test daily anomaly flags
# ---------------------------------------------------------------------------


@query(
    "q_daily_anomaly",
    oracle="""
    WITH cnt AS (
        SELECT event_type,
               (epoch_us(ts) // 86400000000) * 86400000000 AS day_us,
               CAST(count(*) AS BIGINT) AS x
        FROM events GROUP BY 1, 2
    ),
    st AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(x * x) AS BIGINT) AS sxx
        FROM cnt GROUP BY 1
    )
    SELECT c.event_type, c.day_us, c.x,
           CAST((c.x * s.n - s.sx) * (c.x * s.n - s.sx) AS BIGINT)
               AS dev_sq_scaled,
           CAST(4 * (s.n * s.sxx - s.sx * s.sx) AS BIGINT) AS bound_sq,
           CAST(CASE WHEN (c.x * s.n - s.sx) * (c.x * s.n - s.sx)
                          > 4 * (s.n * s.sxx - s.sx * s.sx)
                THEN 1 ELSE 0 END AS BIGINT) AS is_anomaly
    FROM cnt c JOIN st s USING (event_type)
    """,
)
def q_daily_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-count ANOMALY flags by an exact-integer z-test: a day is
    anomalous when (x−μ)² > (2σ)², evaluated WITHOUT any float or sqrt
    by clearing denominators — (x·n − Σx)² > 4(nΣx² − (Σx)²) is the
    same inequality scaled by n², term-for-term exact in int64 — the
    volume-monitoring alert every ingestion pipeline runs, made
    bit-reproducible (q_mad_outliers flags by robust quantiles; this is
    the parametric twin).

    Scale: one (type, day) partial aggregate, one type-keyed moment
    aggregate (broadcast-sized), one join back — never a window."""
    from ..tables import events as events_tbl

    cnt = (
        events_tbl(spark, sf_dir)
        .select(
            "event_type",
            F.expr("(ts_us div 86400000000) * 86400000000").alias("day_us"),
        )
        .groupBy("event_type", "day_us")
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
    )
    st = cnt.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    dev = F.col("x") * F.col("n") - F.col("sx")
    bound = F.lit(4) * (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return cnt.join(F.broadcast(st), "event_type").select(
        "event_type",
        "day_us",
        "x",
        (dev * dev).cast("long").alias("dev_sq_scaled"),
        bound.cast("long").alias("bound_sq"),
        (dev * dev > bound).cast("long").alias("is_anomaly"),
    )


# ---------------------------------------------------------------------------
# 23. k-fold assignment balance audit
# ---------------------------------------------------------------------------

_KFOLDS = 5


@query(
    "q_kfold_balance",
    oracle=f"""
    WITH f AS (
        SELECT doc_id, lang,
               CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)),
                    1, 15)) AS BIGINT) % {_KFOLDS} AS fold
        FROM documents
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS total FROM documents),
    per AS (
        SELECT fold,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
               CAST(max(ln) AS BIGINT) AS max_lang_n
        FROM (
            SELECT fold, lang, count(*) OVER (PARTITION BY fold, lang) AS ln
            FROM f
        ) GROUP BY fold
    )
    SELECT CAST(p.fold AS BIGINT) AS fold, p.n_docs, p.n_langs,
           p.max_lang_n,
           CAST(abs({_KFOLDS} * p.n_docs - n.total) * 1000000 // n.total
                AS BIGINT) AS dev_ppm,
           CAST(({_KFOLDS} * p.n_docs - n.total)
                * ({_KFOLDS} * p.n_docs - n.total) * 1000
                // ({_KFOLDS} * n.total) AS BIGINT) AS chi2_milli
    FROM per p CROSS JOIN n
    """,
)
def q_kfold_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-FOLD assignment + balance audit: the deterministic md5 5-fold
    split (q_hash_split's device generalized), per fold its size,
    language coverage, largest language block, the deviation from the
    ideal N/k in ppm, and the fold's chi-square contribution
    (ko−N)²/(kN) in milli — the cross-validation sanity table that
    catches a skewed hash or a lost fold before any model trains.

    Scale: assignment is a content-free per-row hash; the audit is one
    (fold, lang) aggregate rolled up to k rows + a 1-row broadcast."""
    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    fold = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
        ).cast("long")
        % _KFOLDS
    )
    fl = docs.select(fold.alias("fold"), "lang")
    per_lang = fl.groupBy("fold", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("ln")
    )
    per = per_lang.groupBy("fold").agg(
        F.sum("ln").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_langs"),
        F.max("ln").cast("long").alias("max_lang_n"),
    )
    n = docs.agg(F.count(F.lit(1)).cast("long").alias("total"))
    return per.crossJoin(F.broadcast(n)).select(
        F.col("fold").cast("long").alias("fold"),
        "n_docs",
        "n_langs",
        "max_lang_n",
        F.expr(
            f"(abs({_KFOLDS} * n_docs - total) * 1000000) div total"
        )
        .cast("long")
        .alias("dev_ppm"),
        F.expr(
            f"(({_KFOLDS} * n_docs - total) * ({_KFOLDS} * n_docs - total)"
            f" * 1000) div ({_KFOLDS} * total)"
        )
        .cast("long")
        .alias("chi2_milli"),
    )


# ---------------------------------------------------------------------------
# 24. Partition-skew audit with salt plan
# ---------------------------------------------------------------------------

_SKEW_SLOTS = 32  # target parallelism the salt plan sizes against


def _skew_arm_sql(key: str) -> str:
    return f"""
    SELECT '{key}' AS key_col,
           CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(m) AS BIGINT) AS total_rows,
           CAST(max(m) AS BIGINT) AS max_key_rows,
           CAST(max(m) * count(*) * 1000000 // sum(m) AS BIGINT)
               AS skew_ppm,
           CAST(greatest(1, (max(m) + sum(m) // {_SKEW_SLOTS} - 1)
                            // greatest(sum(m) // {_SKEW_SLOTS}, 1))
                AS BIGINT) AS salt_factor
    FROM (SELECT {key}, CAST(count(*) AS BIGINT) AS m
          FROM documents GROUP BY 1)"""


@query(
    "q_skew_audit",
    oracle=" UNION ALL ".join(_skew_arm_sql(k) for k in ("lang", "source")),
)
def q_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-SKEW audit + salt plan: for each candidate shuffle key
    (lang, source) the key cardinality, the heaviest key's row mass,
    skew as max/mean in ppm, and the recommended SALT FACTOR —
    ceil(max_key / ideal_per_slot) at 32-way parallelism — the number
    q_skew_join_salted consumes; this table is how a pipeline DECIDES
    which keys need salting before any shuffle runs (AQE fixes skewed
    shuffle PARTITIONS at runtime; a single hot KEY still needs the
    salt).

    Scale: per key one map-side-combinable aggregate to key-cardinality
    rows, then 1-row arithmetic."""
    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    parts = []
    for key in ("lang", "source"):
        masses = docs.groupBy(key).agg(
            F.count(F.lit(1)).cast("long").alias("m")
        )
        parts.append(
            masses.agg(
                F.count(F.lit(1)).cast("long").alias("n_keys"),
                F.sum("m").cast("long").alias("total_rows"),
                F.max("m").cast("long").alias("max_key_rows"),
            ).select(
                F.lit(key).alias("key_col"),
                "n_keys",
                "total_rows",
                "max_key_rows",
                F.expr("(max_key_rows * n_keys * 1000000) div total_rows")
                .cast("long")
                .alias("skew_ppm"),
                F.expr(
                    f"greatest(1, (max_key_rows + total_rows div {_SKEW_SLOTS}"
                    f" - 1) div greatest(total_rows div {_SKEW_SLOTS}, 1))"
                )
                .cast("long")
                .alias("salt_factor"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ---------------------------------------------------------------------------
# 25. Duplicate token-mass inflation
# ---------------------------------------------------------------------------


def _dup_inflation_oracle() -> str:
    from .llm_ops import _clusters_oracle

    return f"""
    WITH comp AS (SELECT * FROM ({_clusters_oracle(16)})),
    full_ AS (
        SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cid,
               CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tok
        FROM documents d LEFT JOIN comp c USING (doc_id)
    ),
    keep AS (SELECT cid, min(doc_id) AS keep_id FROM full_ GROUP BY cid),
    agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(f.n_tok) AS BIGINT) AS total_tok,
               CAST(sum(CASE WHEN f.doc_id = k.keep_id THEN f.n_tok
                        ELSE 0 END) AS BIGINT) AS unique_tok,
               CAST(sum(CASE WHEN f.doc_id = k.keep_id THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_keep
        FROM full_ f JOIN keep k USING (cid)
    )
    SELECT n_docs, n_keep, total_tok, unique_tok,
           CAST((total_tok - unique_tok) * 1000000 // total_tok AS BIGINT)
               AS inflation_ppm
    FROM agg
    """


@query("q_dup_inflation", oracle=_dup_inflation_oracle())
def q_dup_inflation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate TOKEN-MASS inflation: how much of the corpus's token
    budget is near-duplicate weight — total tokens vs the tokens of
    each cluster's canonical representative, as an inflation ppm (the
    'your 100 TB is really 88 TB' number that justifies the dedup pass
    to whoever pays for the training run; q_card_dedup_yield counts
    DOCS, this weighs TOKENS).

    Scale: the q_dedup_clusters pipeline (bucketed LSH + checkpointed
    min-label CC) + one doc-keyed join and a single global aggregate."""
    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    sh = dedup.shingles(docs, n=3)
    sig = dedup.minhash_signatures(sh, num_hashes=16)
    bands = dedup.lsh_bands(sig, num_hashes=16, rows_per_band=2)
    edges = dedup.lsh_candidate_pairs(bands)
    comp = dedup.connected_components(edges)
    full = (
        docs.select(
            "doc_id",
            F.size(F.split("text", " ")).cast("long").alias("n_tok"),
        )
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            "n_tok",
            F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cid"),
        )
    )
    keep = full.groupBy("cid").agg(F.min("doc_id").alias("keep_id"))
    j = full.join(keep, "cid")
    is_keep = (F.col("doc_id") == F.col("keep_id")).cast("long")
    agg = j.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(is_keep).cast("long").alias("n_keep"),
        F.sum("n_tok").cast("long").alias("total_tok"),
        F.sum(F.col("n_tok") * is_keep).cast("long").alias("unique_tok"),
    )
    return agg.select(
        "n_docs",
        "n_keep",
        "total_tok",
        "unique_tok",
        F.expr("((total_tok - unique_tok) * 1000000) div total_tok")
        .cast("long")
        .alias("inflation_ppm"),
    )


# ---------------------------------------------------------------------------
# 26. Dedup audit sample (round-8b batch 8)
# ---------------------------------------------------------------------------

_AUDIT_K = 20
_AUDIT_JACC_MILLI = 500


def _audit_sample_oracle() -> str:
    from .llm_ops import _minhash_oracle

    return f"""
    WITH cand AS (SELECT doc_a, doc_b FROM ({_minhash_oracle(16)})),
    sh2 AS (
        SELECT doc_id, unnest(list_distinct(
            [array_to_string(toks[i:i+2], ' ')
             FOR i IN range(1, greatest(len(toks) - 1, 1))]
        )) AS shingle
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    ),
    cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
            FROM sh2 GROUP BY 1),
    inter AS (
        SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS i
        FROM cand c
        JOIN sh2 sa ON sa.doc_id = c.doc_a
        JOIN sh2 sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
        GROUP BY 1, 2
    ),
    j AS (
        SELECT c.doc_a, c.doc_b,
               CAST((coalesce(i.i, 0) * 1000)
                   // (na.n + nb.n - coalesce(i.i, 0)) AS BIGINT) AS jacc
        FROM cand c
        JOIN cnt na ON na.doc_id = c.doc_a
        JOIN cnt nb ON nb.doc_id = c.doc_b
        LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
    ),
    v AS (
        SELECT doc_a, doc_b, jacc,
               substring(md5(doc_a || ':' || doc_b), 1, 8) AS priority
        FROM j WHERE jacc >= {_AUDIT_JACC_MILLI}
    )
    SELECT doc_a, doc_b, jacc AS jacc_milli, priority,
           CAST(row_number() OVER (ORDER BY priority, doc_a, doc_b)
                AS BIGINT) AS rnk
    FROM (
        SELECT * FROM v ORDER BY priority, doc_a, doc_b LIMIT {_AUDIT_K}
    )
    """


@query("q_audit_sample", oracle=_audit_sample_oracle())
def q_audit_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEDUP AUDIT SAMPLE: a content-free, reproducible top-20 of the
    verified near-dup pairs (jaccard >= 0.5) ordered by the md5 of the
    pair key — the unbiased labeling queue a human QA pass reviews
    (hash order means the sample can't cherry-pick easy pairs, and the
    same pairs come back every run/engine/partitioning — the
    q_hash_split determinism device applied to sampling).

    Scale: candidates and verification are the bucketed LSH path; the
    sample is a heap top-k on the verified pairs — no extra corpus
    work."""
    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    sh = dedup.shingles(docs, n=3)
    sig = dedup.minhash_signatures(sh, num_hashes=16)
    bands = dedup.lsh_bands(sig, num_hashes=16, rows_per_band=2)
    cand = dedup.lsh_candidate_pairs(bands)
    cnt = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    sa = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    sb = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        cand.join(sa, "doc_a")
        .join(sb, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    j = (
        cand.join(
            cnt.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na")),
            "doc_a",
        )
        .join(
            cnt.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")),
            "doc_b",
        )
        .join(inter, ["doc_a", "doc_b"], "left")
        .select(
            "doc_a",
            "doc_b",
            F.expr("(coalesce(i, 0) * 1000) div (na + nb - coalesce(i, 0))")
            .cast("long")
            .alias("jacc_milli"),
        )
    )
    v = j.where(F.col("jacc_milli") >= _AUDIT_JACC_MILLI).select(
        "doc_a",
        "doc_b",
        "jacc_milli",
        F.substring(
            F.md5(
                F.concat(
                    F.col("doc_a").cast("string"),
                    F.lit(":"),
                    F.col("doc_b").cast("string"),
                )
            ),
            1,
            8,
        ).alias("priority"),
    )
    top = v.orderBy(
        F.col("priority").asc(), F.col("doc_a").asc(), F.col("doc_b").asc()
    ).limit(_AUDIT_K)
    w = Window.orderBy(
        F.col("priority").asc(), F.col("doc_a").asc(), F.col("doc_b").asc()
    )
    return top.withColumn("rnk", F.row_number().over(w).cast("long"))


# ---------------------------------------------------------------------------
# 27. Churn by signup cohort
# ---------------------------------------------------------------------------


@query(
    "q_activity_lapse",
    oracle="""
    WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
    g AS (
        SELECT user_id, us,
               us - lag(us) OVER (PARTITION BY user_id ORDER BY us) AS gap
        FROM e
    ),
    pu AS (
        SELECT user_id,
               CAST(coalesce(max(gap), 0) AS BIGINT) AS max_gap_us,
               CAST(min(us) // 86400000000 AS BIGINT) AS fd
        FROM g GROUP BY user_id
    ),
    b AS (SELECT min(fd) AS d0 FROM pu)
    SELECT CAST(fd - d0 AS BIGINT) AS cohort_day,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(CASE WHEN max_gap_us >= 172800000000
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_lapsed,
           CAST(sum(CASE WHEN max_gap_us >= 172800000000
                    THEN 1 ELSE 0 END) * 1000000 // count(*)
                AS BIGINT) AS lapse_ppm,
           CAST(max(max_gap_us // 3600000000) AS BIGINT) AS max_gap_hours
    FROM pu CROSS JOIN b
    GROUP BY 1
    """,
)
def q_activity_lapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACTIVITY-LAPSE audit by signup cohort: per user the LONGEST
    inactivity gap in their event stream, lapsed = a gap of 48 h or
    more, rolled up per first-seen-day cohort with the lapse rate in
    ppm and the cohort's worst gap — the engagement-health number for a
    corpus whose users are all continuously "retained" (a hard churn
    cut is degenerate here — measured: every user stays active to the
    window's end — while gap length splits the population ~60/40).

    Scale: one lag window PARTITIONED BY user (never global), one
    per-user aggregate, a 1-row broadcast, a cohort-cardinality
    rollup."""
    from ..tables import events as events_tbl

    e = events_tbl(spark, sf_dir).select("user_id", "ts_us")
    w = Window.partitionBy("user_id").orderBy("ts_us")
    g = e.withColumn("gap", F.col("ts_us") - F.lag("ts_us").over(w))
    pu = g.groupBy("user_id").agg(
        F.coalesce(F.max("gap"), F.lit(0)).cast("long").alias("max_gap_us"),
        F.expr("min(ts_us) div 86400000000").cast("long").alias("fd"),
    )
    b = pu.agg(F.min("fd").alias("d0"))
    lapsed = F.when(F.col("max_gap_us") >= 172_800_000_000, 1).otherwise(0)
    return (
        pu.crossJoin(F.broadcast(b))
        .groupBy((F.col("fd") - F.col("d0")).cast("long").alias("cohort_day"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum(lapsed).cast("long").alias("n_lapsed"),
            F.expr(
                "(sum(CASE WHEN max_gap_us >= 172800000000 THEN 1 ELSE 0 END)"
                " * 1000000) div count(*)"
            )
            .cast("long")
            .alias("lapse_ppm"),
            F.max(F.expr("max_gap_us div 3600000000"))
            .cast("long")
            .alias("max_gap_hours"),
        )
    )


# ---------------------------------------------------------------------------
# 28. Cluster-chaining contamination audit
# ---------------------------------------------------------------------------

_CHAIN_JACC_MILLI = 500


def _chain_contamination_oracle() -> str:
    from .llm_ops import _clusters_oracle, _minhash_oracle

    return f"""
    WITH comp AS (SELECT * FROM ({_clusters_oracle(16)})),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM comp a JOIN comp b
          ON a.cluster_id = b.cluster_id AND a.doc_id < b.doc_id
    ),
    cand AS (SELECT doc_a, doc_b FROM ({_minhash_oracle(16)})),
    sh2 AS (
        SELECT doc_id, unnest(list_distinct(
            [array_to_string(toks[i:i+2], ' ')
             FOR i IN range(1, greatest(len(toks) - 1, 1))]
        )) AS shingle
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    ),
    cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
            FROM sh2 GROUP BY 1),
    inter AS (
        SELECT p.doc_a, p.doc_b, CAST(count(*) AS BIGINT) AS i
        FROM pairs p
        JOIN sh2 sa ON sa.doc_id = p.doc_a
        JOIN sh2 sb ON sb.doc_id = p.doc_b AND sb.shingle = sa.shingle
        GROUP BY 1, 2
    ),
    scored AS (
        SELECT p.doc_a, p.doc_b,
               CAST((coalesce(i.i, 0) * 1000)
                   // (na.n + nb.n - coalesce(i.i, 0)) AS BIGINT) AS jacc,
               CAST(CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END
                    AS BIGINT) AS is_direct
        FROM pairs p
        JOIN cnt na ON na.doc_id = p.doc_a
        JOIN cnt nb ON nb.doc_id = p.doc_b
        LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
        LEFT JOIN cand c ON c.doc_a = p.doc_a AND c.doc_b = p.doc_b
    )
    SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(is_direct) AS BIGINT) AS n_direct_edges,
           CAST(sum(CASE WHEN jacc < {_CHAIN_JACC_MILLI} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_low_sim,
           CAST(min(jacc) AS BIGINT) AS min_jacc_milli,
           CAST(sum(CASE WHEN jacc < {_CHAIN_JACC_MILLI} THEN 1 ELSE 0 END)
                * 1000000 // count(*) AS BIGINT) AS chain_ppm
    FROM scored
    """


@query("q_chain_contamination", oracle=_chain_contamination_oracle())
def q_chain_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLUSTER-CHAINING contamination audit: connected components merge
    transitively (a~b, b~c forces a,c together even when a,c are
    dissimilar) — THE known failure mode of CC-based dedup.  Over every
    within-cluster pair: how many are direct LSH candidate edges, how
    many fall below the similarity threshold the cluster implicitly
    claims, the worst pair's Jaccard, and the chained share in ppm —
    the number that decides between plain CC and a stricter
    star-contraction or threshold-verified clustering.

    Scale: within-cluster pairs are bounded by cluster sizes (the
    max_bucket/cap discipline bounds those upstream); similarity
    verification touches only those pairs' shingles — candidate-bounded
    like every verify stage in the dedup family."""
    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    sh = dedup.shingles(docs, n=3)
    sig = dedup.minhash_signatures(sh, num_hashes=16)
    bands = dedup.lsh_bands(sig, num_hashes=16, rows_per_band=2)
    cand = dedup.lsh_candidate_pairs(bands)
    comp = dedup.connected_components(cand)
    pa = comp.select(F.col("doc_id").alias("doc_a"), "cluster_id")
    pb = comp.select(F.col("doc_id").alias("doc_b"), "cluster_id")
    pairs = pa.join(pb, "cluster_id").where(
        F.col("doc_a") < F.col("doc_b")
    ).select("doc_a", "doc_b")
    cnt = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    sa = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    sb = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        pairs.join(sa, "doc_a")
        .join(sb, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    scored = (
        pairs.join(
            cnt.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na")),
            "doc_a",
        )
        .join(
            cnt.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")),
            "doc_b",
        )
        .join(inter, ["doc_a", "doc_b"], "left")
        .join(
            cand.withColumn("is_direct", F.lit(1)), ["doc_a", "doc_b"], "left"
        )
        .select(
            F.expr("(coalesce(i, 0) * 1000) div (na + nb - coalesce(i, 0))")
            .cast("long")
            .alias("jacc"),
            F.coalesce(F.col("is_direct"), F.lit(0))
            .cast("long")
            .alias("is_direct"),
        )
    )
    low = F.when(F.col("jacc") < _CHAIN_JACC_MILLI, 1).otherwise(0)
    return scored.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum("is_direct").cast("long").alias("n_direct_edges"),
        F.sum(low).cast("long").alias("n_low_sim"),
        F.min("jacc").cast("long").alias("min_jacc_milli"),
        F.expr(
            f"(sum(CASE WHEN jacc < {_CHAIN_JACC_MILLI} THEN 1 ELSE 0 END)"
            " * 1000000) div count(*)"
        )
        .cast("long")
        .alias("chain_ppm"),
    )


# ---------------------------------------------------------------------------
# 29. b-bit minhash estimator audit (round-8b batch 9)
# ---------------------------------------------------------------------------


def _bbit_oracle() -> str:
    from ..operators.dedup import MINHASH_P, minhash_params

    seeds_values = ", ".join(
        f"({i}, {a}, {b})" for i, (a, b) in enumerate(minhash_params(16))
    )
    return f"""
    WITH sh AS (
        SELECT doc_id, unnest(list_distinct(
            [array_to_string(toks[i:i+2], ' ')
             FOR i IN range(1, greatest(len(toks) - 1, 1))]
        )) AS shingle
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    ),
    based AS (
        SELECT doc_id,
               CAST(concat('0x', substring(md5(shingle), 1, 15)) AS BIGINT)
                   % {MINHASH_P} AS hb
        FROM sh
    ),
    sig AS (
        SELECT doc_id, seed, min((a * hb + b) % {MINHASH_P}) AS mh
        FROM based CROSS JOIN (VALUES {seeds_values}) AS seeds(seed, a, b)
        GROUP BY doc_id, seed
    ),
    bands AS (
        SELECT doc_id, seed // 2 AS band,
               md5(string_agg(CAST(mh AS VARCHAR), '|' ORDER BY seed))
                   AS bucket
        FROM sig GROUP BY doc_id, seed // 2
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
                    AND a.doc_id < b.doc_id
    ),
    agree AS (
        SELECT c.doc_a, c.doc_b,
               CAST(sum(CASE WHEN sa.mh % 2 = sb.mh % 2 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_agree
        FROM cand c
        JOIN sig sa ON sa.doc_id = c.doc_a
        JOIN sig sb ON sb.doc_id = c.doc_b AND sb.seed = sa.seed
        GROUP BY 1, 2
    ),
    cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
            FROM sh GROUP BY 1),
    inter AS (
        SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS i
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.doc_a
        JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
        GROUP BY 1, 2
    )
    SELECT a.doc_a, a.doc_b, a.n_agree,
           CAST(greatest((2 * a.n_agree - 16) * 1000 // 16, 0)
                AS BIGINT) AS est_milli,
           CAST((coalesce(i.i, 0) * 1000)
               // (na.n + nb.n - coalesce(i.i, 0)) AS BIGINT) AS jacc_milli,
           CAST(abs(greatest((2 * a.n_agree - 16) * 1000 // 16, 0)
                    - (coalesce(i.i, 0) * 1000)
                      // (na.n + nb.n - coalesce(i.i, 0)))
                AS BIGINT) AS abs_err_milli
    FROM agree a
    JOIN cnt na ON na.doc_id = a.doc_a
    JOIN cnt nb ON nb.doc_id = a.doc_b
    LEFT JOIN inter i ON i.doc_a = a.doc_a AND i.doc_b = a.doc_b
    """


@query("q_bbit_minhash", oracle=_bbit_oracle())
def q_bbit_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """b-BIT MINHASH estimator audit (Li & König 2010): keep only the
    LOWEST BIT of each of the 16 minhashes (16 bits per doc instead of
    16 longs — the 64x storage cut the paper is about) and estimate
    Jaccard from bit agreement (Ĵ = 2·agree/k − 1 for b=1), compared
    per candidate pair against the exact shingle Jaccard with the
    absolute error — the compression-vs-accuracy audit run before
    shrinking a dedup index.

    Scale: bits derive from the signatures the LSH pass already
    computes (no extra corpus work); agreement is a seed-keyed
    equi-join on candidate pairs only."""
    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    sh = dedup.shingles(docs, n=3)
    sig = dedup.minhash_signatures(sh, num_hashes=16)
    bands = dedup.lsh_bands(sig, num_hashes=16, rows_per_band=2)
    cand = dedup.lsh_candidate_pairs(bands)
    # signatures are wide (mh_0..mh_15, seed order == the oracle's seed
    # column); keep only the LOWEST BIT of each
    bits = sig.select(
        "doc_id",
        F.array(
            *[(F.col(f"mh_{i}") % 2).cast("int") for i in range(16)]
        ).alias("bits"),
    )
    agree = (
        cand.join(
            bits.select(F.col("doc_id").alias("doc_a"),
                        F.col("bits").alias("ba")),
            "doc_a",
        )
        .join(
            bits.select(F.col("doc_id").alias("doc_b"),
                        F.col("bits").alias("bb")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.expr(
                "aggregate(zip_with(ba, bb, (x, y) ->"
                " CASE WHEN x = y THEN 1 ELSE 0 END), 0, (acc, v) -> acc + v)"
            )
            .cast("long")
            .alias("n_agree"),
        )
    )
    cnt = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    sa = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    sb = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        cand.join(sa, "doc_a")
        .join(sb, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    est = F.expr("greatest(((2 * n_agree - 16) * 1000) div 16, 0)")
    jacc = F.expr("(coalesce(i, 0) * 1000) div (na + nb - coalesce(i, 0))")
    return (
        agree.join(
            cnt.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na")),
            "doc_a",
        )
        .join(
            cnt.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")),
            "doc_b",
        )
        .join(inter, ["doc_a", "doc_b"], "left")
        .select(
            "doc_a",
            "doc_b",
            "n_agree",
            est.cast("long").alias("est_milli"),
            jacc.cast("long").alias("jacc_milli"),
            F.abs(est - jacc).cast("long").alias("abs_err_milli"),
        )
    )


# ---------------------------------------------------------------------------
# 30. Stratified k-fold assignment
# ---------------------------------------------------------------------------


@query(
    "q_stratified_kfold",
    oracle=f"""
    WITH r AS (
        SELECT doc_id, lang,
               row_number() OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS rn
        FROM documents
    ),
    f AS (SELECT lang, CAST((rn - 1) % {_KFOLDS} AS BIGINT) AS fold FROM r),
    tot AS (SELECT lang, CAST(count(*) AS BIGINT) AS lang_n
            FROM documents GROUP BY 1)
    SELECT f.fold, f.lang,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(*) * 1000000 // max(tot.lang_n) AS BIGINT)
               AS share_ppm
    FROM f JOIN tot USING (lang)
    GROUP BY 1, 2
    """,
)
def q_stratified_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRATIFIED k-fold assignment: documents rank by content-free md5
    WITHIN each language and folds deal round-robin off that rank, so
    every fold holds each language's share within one document —
    guaranteed stratification where q_kfold_balance's plain hash split
    only balances in expectation (its measured max deviation: 11% of
    the ideal fold size; this one's: one doc).  Per (fold, lang) cell
    the count and the fold's share of the language in ppm.

    Scale: the rank window partitions by LANG (bounded partitions at
    any corpus size would need a two-level deal for billion-doc
    languages — the q_dataset_shuffle bucketed prefix-sum device; at
    dimension-scale strata the single window is the right plan)."""
    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    f = docs.select(
        "lang", ((F.row_number().over(w) - 1) % _KFOLDS).alias("fold")
    )
    tot = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("lang_n")
    )
    return (
        f.groupBy("fold", "lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .join(F.broadcast(tot), "lang")
        .select(
            F.col("fold").cast("long").alias("fold"),
            "lang",
            "n",
            F.expr("(n * 1000000) div lang_n").cast("long").alias("share_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# 31. Join-size estimate audit (CBO-style)
# ---------------------------------------------------------------------------

_JSE_ARMS = (("lineitem", "l_partkey", 64), ("events", "user_id", 16))


def _join_size_oracle() -> str:
    arms = []
    for rel, key, nb in _JSE_ARMS:
        arms.append(
            f"""
    SELECT '{rel}.{key}' AS join_key,
           CAST({nb} AS BIGINT) AS n_buckets,
           CAST(sum(k) AS BIGINT) AS n_keys,
           CAST(sum((c * c) // k) AS BIGINT) AS est_rows,
           (SELECT CAST(sum(c * c) AS BIGINT)
            FROM (SELECT count(*) AS c FROM {rel} GROUP BY {key}))
               AS actual_rows,
           CAST(abs(sum((c * c) // k)
                    - (SELECT sum(c * c)
                       FROM (SELECT count(*) AS c FROM {rel}
                             GROUP BY {key}))) * 1000000
                // (SELECT sum(c * c)
                    FROM (SELECT count(*) AS c FROM {rel} GROUP BY {key}))
                AS BIGINT) AS err_ppm
    FROM (
        SELECT {key} % {nb} AS b,
               CAST(count(*) AS BIGINT) AS c,
               CAST(count(DISTINCT {key}) AS BIGINT) AS k
        FROM {rel} GROUP BY 1
    )"""
        )
    return " UNION ALL ".join(arms)


@query("q_join_size_estimate", oracle=_join_size_oracle())
def q_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOIN-SIZE estimate audit (the CBO's histogram device, checked):
    self-join cardinality on a key column estimated from a BUCKETIZED
    histogram under the uniform-within-bucket assumption
    (Σ_b count_b²/keys_b — what an optimizer computes from its
    statistics) vs the exact Σ_k count_k², with the error in ppm — the
    table that says how much the engine's equi-width statistics can be
    trusted on each key before a plan bets on them (measured here:
    ~3% under-estimate on the skewed part key, ~1% on user_id).

    Scale: BOTH numbers come from one keyed aggregate each — the join
    itself is never executed; histogram arithmetic only."""
    parts = []
    for rel, key, nb in _JSE_ARMS:
        t = load(spark, sf_dir, rel)
        h = t.groupBy((F.col(key) % nb).alias("b")).agg(
            F.count(F.lit(1)).cast("long").alias("c"),
            F.countDistinct(key).cast("long").alias("k"),
        )
        exact = (
            t.groupBy(key)
            .agg(F.count(F.lit(1)).alias("c"))
            .agg(F.sum(F.col("c") * F.col("c")).cast("long").alias("actual"))
        )
        parts.append(
            h.agg(
                F.sum("k").cast("long").alias("n_keys"),
                F.sum(F.expr("(c * c) div k")).cast("long").alias("est_rows"),
            )
            .crossJoin(F.broadcast(exact))
            .select(
                F.lit(f"{rel}.{key}").alias("join_key"),
                F.lit(nb).cast("long").alias("n_buckets"),
                "n_keys",
                "est_rows",
                F.col("actual").alias("actual_rows"),
                F.expr("(abs(est_rows - actual) * 1000000) div actual")
                .cast("long")
                .alias("err_ppm"),
            )
        )
    out = parts[0]
    for p_ in parts[1:]:
        out = out.unionByName(p_)
    return out


# ---------------------------------------------------------------------------
# 32. Bloom sizing sweep
# ---------------------------------------------------------------------------

_BLOOM_MS = (128, 4096, 16384)


def _bloom_sweep_oracle() -> str:
    arms = []
    for m in _BLOOM_MS:
        arms.append(
            f"""
    SELECT CAST({m} AS BIGINT) AS m_bits,
           (SELECT CAST(count(*) AS BIGINT) FROM (
               SELECT DISTINCT CAST(concat('0x', substring(
                   md5('b' || j || ':' || key), 1, 15)) AS BIGINT) % {m}
               FROM (SELECT c_custkey AS key FROM customer
                     WHERE c_mktsegment = 'BUILDING')
               CROSS JOIN (SELECT unnest(range(0, 3)) AS j)
           )) AS n_bits_set,
           (SELECT CAST(count(*) AS BIGINT) FROM (
               SELECT p.key, count(b.bit) AS n_hit
               FROM (
                   SELECT key, CAST(concat('0x', substring(
                       md5('b' || j || ':' || key), 1, 15)) AS BIGINT)
                       % {m} AS bit
                   FROM (SELECT c_custkey AS key FROM customer
                         WHERE c_mktsegment <> 'BUILDING')
                   CROSS JOIN (SELECT unnest(range(0, 3)) AS j)
               ) p
               LEFT JOIN (
                   SELECT DISTINCT CAST(concat('0x', substring(
                       md5('b' || j || ':' || key), 1, 15)) AS BIGINT)
                       % {m} AS bit
                   FROM (SELECT c_custkey AS key FROM customer
                         WHERE c_mktsegment = 'BUILDING')
                   CROSS JOIN (SELECT unnest(range(0, 3)) AS j)
               ) b USING (bit)
               GROUP BY p.key
           ) WHERE n_hit = 3) AS n_false_positives,
           CAST((SELECT count(*) FROM (
               SELECT p.key, count(b.bit) AS n_hit
               FROM (
                   SELECT key, CAST(concat('0x', substring(
                       md5('b' || j || ':' || key), 1, 15)) AS BIGINT)
                       % {m} AS bit
                   FROM (SELECT c_custkey AS key FROM customer
                         WHERE c_mktsegment <> 'BUILDING')
                   CROSS JOIN (SELECT unnest(range(0, 3)) AS j)
               ) p
               LEFT JOIN (
                   SELECT DISTINCT CAST(concat('0x', substring(
                       md5('b' || j || ':' || key), 1, 15)) AS BIGINT)
                       % {m} AS bit
                   FROM (SELECT c_custkey AS key FROM customer
                         WHERE c_mktsegment = 'BUILDING')
                   CROSS JOIN (SELECT unnest(range(0, 3)) AS j)
               ) b USING (bit)
               GROUP BY p.key
           ) WHERE n_hit = 3) * 1000000
           // (SELECT count(*) FROM customer WHERE c_mktsegment <> 'BUILDING')
           AS BIGINT) AS fpr_ppm"""
        )
    return " UNION ALL ".join(arms)


@query("q_bloom_size_sweep", oracle=_bloom_sweep_oracle())
def q_bloom_size_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLOOM SIZING sweep: q_bloom_fpr's from-scratch filter at m in
    {128, 4096, 16384} bits (k=3), per size the set-bit count and the
    measured false-positive rate — the m-knob table that prices memory
    against precision before shipping the filter (measured at sf0.01:
    a saturated 128-bit filter passes essentially everything, 4096
    bits buy 9.2k ppm, 16384 bits measure zero — the textbook
    memory-for-precision trade made bit-exact; the smallest arm exists
    so the knob still MOVES at the tiny test scale, where 1024 bits
    already absorb the 34-member set without a single collision).

    Scale: the sweep re-hashes the bounded member/probe sets per m
    (position = hash % m, so sizes can't share bit tables); every
    arm's bit table stays KB-sized."""
    cust = load(spark, sf_dir, "customer")
    mem = cust.where(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("key")
    )
    probe = cust.where(F.col("c_mktsegment") != "BUILDING").select(
        F.col("c_custkey").alias("key")
    )
    hj = spark.range(3).select(F.col("id").alias("j"))

    n_probes = probe.agg(F.count(F.lit(1)).cast("long").alias("np"))
    parts = []
    for m in _BLOOM_MS:
        bits = sketch.bloom_positions(mem, hj, m).select("bit").distinct()
        hits = (
            sketch.bloom_positions(probe, hj, m)
            .join(bits.withColumn("present", F.lit(1)), "bit", "left")
            .groupBy("key")
            .agg(F.sum(F.coalesce(F.col("present"), F.lit(0))).alias("n_hit"))
        )
        fp = hits.agg(
            F.sum(F.when(F.col("n_hit") == 3, 1).otherwise(0))
            .cast("long")
            .alias("n_false_positives")
        )
        parts.append(
            bits.agg(F.count(F.lit(1)).cast("long").alias("n_bits_set"))
            .crossJoin(F.broadcast(fp))
            .crossJoin(F.broadcast(n_probes))
            .select(
                F.lit(m).cast("long").alias("m_bits"),
                "n_bits_set",
                "n_false_positives",
                F.expr("(n_false_positives * 1000000) div np")
                .cast("long")
                .alias("fpr_ppm"),
            )
        )
    out = parts[0]
    for p_ in parts[1:]:
        out = out.unionByName(p_)
    return out


# ---------------------------------------------------------------------------
# 33. Bigram hapax (novelty tail) profile
# ---------------------------------------------------------------------------


@query(
    "q_hapax_bigrams",
    oracle="""
    WITH t AS (SELECT source, string_split(text, ' ') AS toks
               FROM documents),
    b AS (
        SELECT source, toks[i] || ' ' || toks[i+1] AS bg
        FROM t, LATERAL (SELECT unnest(range(1, len(toks))) AS i) r
    ),
    f AS (SELECT source, bg, CAST(count(*) AS BIGINT) AS c
          FROM b GROUP BY 1, 2)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_types,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hapax,
           CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1000000
                // count(*) AS BIGINT) AS hapax_ppm
    FROM f GROUP BY source
    """,
)
def q_hapax_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAPAX LEGOMENA profile at bigram granularity: per source the
    bigram type count, occurrence mass, once-only types, and the hapax
    share in ppm — the Zipf-tail novelty indicator (a source whose
    hapax share collapses is recycling its phrasing; one whose share
    explodes is noise).  Bigrams, not unigrams, deliberately: this
    corpus's 31-word vocabulary makes unigram hapax degenerate
    (measured max 1 per source) while the bigram space spreads
    ~320/650 types per source.

    Scale: one (source, bigram) map-side-combinable aggregate rolled up
    to source-cardinality rows."""
    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    t = docs.select("source", F.split("text", " ").alias("toks"))
    b = t.select(
        "source",
        F.explode(
            F.expr(
                "CASE WHEN size(toks) >= 2 "
                "THEN sequence(1, size(toks) - 1) ELSE array() END"
            )
        ).alias("i"),
        "toks",
    ).select(
        "source",
        F.concat(
            F.element_at("toks", F.col("i")),
            F.lit(" "),
            F.element_at("toks", F.col("i") + 1),
        ).alias("bg"),
    )
    f = b.groupBy("source", "bg").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    hap = F.when(F.col("c") == 1, 1).otherwise(0)
    return f.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum("c").cast("long").alias("n_tokens"),
        F.sum(hap).cast("long").alias("n_hapax"),
        F.expr(
            "(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1000000) div count(*)"
        )
        .cast("long")
        .alias("hapax_ppm"),
    )


# ---------------------------------------------------------------------------
# 34. Streaming quality gate (parity twin of the classifier)
# ---------------------------------------------------------------------------


@query(
    "q_stream_quality_gate",
    oracle=f"""
    WITH m AS (
        SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
               CAST(len(list_filter(string_split(text, ' '),
                        x -> x = 'a' OR x = 'the')) AS BIGINT) AS n_stop,
               CAST(len(list_distinct(string_split(text, ' ')))
                    AS BIGINT) AS n_uniq,
               CAST(length(text) AS BIGINT) AS n_chars
        FROM documents
    ),
    lg AS (
        SELECT {_QC_B} + {_QC_W_TOK} * least(n_tok, {_QC_TOK_CAP})
               - {_QC_W_STOP} * (n_stop * 1000 // n_tok)
               + {_QC_W_TTR} * (n_uniq * 1000 // n_tok)
               - {_QC_W_AWL} * ((n_chars - n_tok + 1) * 1000 // n_tok)
                   AS logit
        FROM m
    )
    SELECT CASE WHEN logit >= 1000 THEN 'high'
                WHEN logit >= 0 THEN 'mid'
                WHEN logit >= -1000 THEN 'low'
                ELSE 'reject' END AS band,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN logit > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_keep
    FROM lg GROUP BY 1
    """,
)
def q_stream_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING quality gate — q_quality_classifier's per-row scorer
    applied to the document file stream with a per-band streaming
    aggregation (complete mode): the accept/reject dashboard a live
    ingestion gate emits.  Replayed to completion the band counts equal
    the batch classifier's exactly, so the parity pair regression-tests
    a batch-to-streaming migration of the gate (the q_stream_vwap /
    q_stream_ohlc discipline applied to curation).

    Scale shape: the scorer is stateless per-row Column work on the
    stream; the only state is one (count, keep-count) pair per band —
    four keys, constant forever."""
    from .streaming_queries import _run_to_memory, _stream_documents

    stream = _stream_documents(spark, sf_dir).select("doc_id", "text")
    toks = F.split(F.col("text"), " ")
    n_tok = F.size(toks).cast("long")
    n_stop = F.size(
        F.filter(toks, lambda x: (x == "a") | (x == "the"))
    ).cast("long")
    n_uniq = F.size(F.array_distinct(toks)).cast("long")
    n_chars = F.length("text").cast("long")
    feats = stream.select(
        (n_stop * 1000).alias("_s"),
        (n_uniq * 1000).alias("_u"),
        ((n_chars - n_tok + 1) * 1000).alias("_c"),
        n_tok.alias("n_tok"),
    ).selectExpr(
        "n_tok",
        "_s div n_tok AS stop_milli",
        "_u div n_tok AS ttr_milli",
        "_c div n_tok AS awl_milli",
    )
    logit = (
        F.lit(_QC_B)
        + F.lit(_QC_W_TOK) * F.least(F.col("n_tok"), F.lit(_QC_TOK_CAP))
        - F.lit(_QC_W_STOP) * F.col("stop_milli")
        + F.lit(_QC_W_TTR) * F.col("ttr_milli")
        - F.lit(_QC_W_AWL) * F.col("awl_milli")
    ).cast("long")
    banded = feats.select(
        F.when(logit >= 1000, F.lit("high"))
        .when(logit >= 0, F.lit("mid"))
        .when(logit >= -1000, F.lit("low"))
        .otherwise(F.lit("reject"))
        .alias("band"),
        (logit > 0).cast("long").alias("keep"),
    )
    agg = banded.groupBy("band").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("keep").cast("long").alias("n_keep"),
    )
    out = _run_to_memory(agg, "complete")
    return out.select("band", "n", "n_keep")


# ---------------------------------------------------------------------------
# Densified One Permutation Hashing signatures (round 9)
# ---------------------------------------------------------------------------


def _oph_oracle() -> str:
    from ..operators.dedup import oph_oracle_sql
    from .llm_ops import _SHINGLE_CTE

    return _SHINGLE_CTE + "," + oph_oracle_sql()


@query("q_dedup_oph", oracle=_oph_oracle())
def q_dedup_oph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Densified ONE PERMUTATION HASHING signature matrix (Li, Owen &
    Zhang 2012; rotation densification per Shrivastava & Li 2014) —
    the K-hashes-for-one-evaluation alternative to the K-pass
    `minhash_signatures` family: each shingle is hashed ONCE, the hash
    splits into (bin, value), per-bin minima form the signature, and
    empty bins borrow from the nearest non-empty bin to their cyclic
    right with a distance offset.  At 100 TB the shingle stream
    dominates dedup CPU, so evaluating 1 hash instead of K per shingle
    is the difference between one scan-bound pass and a compute-bound
    one; the collision probability per slot still estimates Jaccard
    (the OPH guarantee), so downstream banding is unchanged.

    Determinism device (what makes an order-dependent 'nearest
    non-empty' search hash-oracle-able): the borrow is a windowed MIN
    over packed ``slot * VMAX + value`` keys on a doubled 2K-row spine
    — nearest slot wins because slot dominates the packing, and one
    subtraction recovers the densified signature.  Pure integer;
    DuckDB replays it bit-for-bit; a pure-python referee (no engine
    code) pins both in tests/test_round9_ops.py.

    Plan: one md5 per shingle, ONE (doc, bin) partial-agg shuffle, a
    literal 2K spine explode, one 32-row window per doc — no per-seed
    fan-out, no self-join."""
    from ..operators.dedup import oph_signatures

    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    sh = dedup.shingles(docs, n=3)
    return oph_signatures(sh)


# ---------------------------------------------------------------------------
# Weighted Jaccard between source token histograms (round 9b)
# ---------------------------------------------------------------------------


@query(
    "q_weighted_jaccard",
    oracle="""
    WITH toks AS (
        SELECT source, unnest(string_split(text, ' ')) AS tok
        FROM documents
    ),
    c AS (
        SELECT source, tok, CAST(count(*) AS BIGINT) AS n
        FROM toks GROUP BY 1, 2
    ),
    tot AS (
        SELECT source, CAST(sum(n) AS BIGINT) AS mass FROM c GROUP BY 1
    ),
    inter AS (
        SELECT a.source AS src_a, b.source AS src_b,
               CAST(sum(least(a.n, b.n)) AS BIGINT) AS inter_mass
        FROM c a JOIN c b ON a.tok = b.tok AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT ta.source AS src_a, tb.source AS src_b,
           coalesce(i.inter_mass, 0) AS inter_mass,
           ta.mass + tb.mass - coalesce(i.inter_mass, 0) AS union_mass,
           coalesce(i.inter_mass, 0) * 1000000
             // (ta.mass + tb.mass - coalesce(i.inter_mass, 0)) AS wj_ppm
    FROM tot ta
    JOIN tot tb ON ta.source < tb.source
    LEFT JOIN inter i ON i.src_a = ta.source AND i.src_b = tb.source
    """,
)
def q_weighted_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED JACCARD between every source pair's token histograms —
    J_W = Σ min(c_A, c_B) / Σ max(c_A, c_B), the multiset overlap CCNet-
    class mixers read before merging two crawl slices (plain Jaccard on
    token SETS saturates at tiny vocabularies; the weighted form sees
    mass).

    The scale identity that shapes the plan: Σ max = mass_A + mass_B −
    Σ min, so the pair join only touches SHARED tokens (an inner
    equi-join on the token key) and the max side never materializes —
    no full-outer join, no zero-fill grid.  Histograms are one
    map-side-combinable (source, token) count; the 190-pair source grid
    rides a broadcast of the 20-row mass table.  All integer, ppm by
    floor-div."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(F.split("text", " ")).alias("tok")
    )
    c = toks.groupBy("source", "tok").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    tot = c.groupBy("source").agg(F.sum("n").cast("long").alias("mass"))
    a = c.select(
        F.col("source").alias("src_a"), "tok", F.col("n").alias("na")
    )
    b = c.select(
        F.col("source").alias("src_b"), "tok", F.col("n").alias("nb")
    )
    inter = (
        a.join(b, "tok")
        .where(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(
            F.sum(F.least(F.col("na"), F.col("nb")))
            .cast("long")
            .alias("inter_mass")
        )
    )
    ta = tot.select(F.col("source").alias("src_a"), F.col("mass").alias("ma"))
    tb = tot.select(F.col("source").alias("src_b"), F.col("mass").alias("mb"))
    grid = ta.join(F.broadcast(tb), F.col("src_a") < F.col("src_b"))
    return (
        grid.join(F.broadcast(inter), ["src_a", "src_b"], "left")
        .select(
            "src_a",
            "src_b",
            F.coalesce(F.col("inter_mass"), F.lit(0))
            .cast("long")
            .alias("inter_mass"),
            (
                F.col("ma")
                + F.col("mb")
                - F.coalesce(F.col("inter_mass"), F.lit(0))
            )
            .cast("long")
            .alias("union_mass"),
        )
        .withColumn(
            "wj_ppm",
            F.expr("(inter_mass * 1000000) div union_mass").cast("long"),
        )
    )


# ---------------------------------------------------------------------------
# Log-line synthesis + regex parse roundtrip (round 10)
# ---------------------------------------------------------------------------

_LOG_RE = (
    r'^(\S+) - (\S+) \[(\d+)\] "GET /([a-z]+)/(\d+) HTTP/1\.1" '
    r"(\d+) (\d+)$"
)


@query(
    "q_log_parse",
    oracle=r"""
    WITH e AS (
        SELECT event_id, user_id, event_type,
               epoch_us(ts) // 1000000 AS ts_s,
               CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS bytes,
               200 + (event_id % 3) * 100 AS status
        FROM events
    ),
    lines AS (
        SELECT event_id,
               printf('10.%d.%d.%d - u%d [%d] "GET /%s/%d HTTP/1.1" %d %d',
                      user_id % 256, (user_id // 256) % 256, user_id % 100,
                      user_id, ts_s, event_type, event_id, status, bytes)
                   AS line
        FROM e
    ),
    p AS (
        SELECT event_id,
               regexp_extract(line, '^(\S+) - (\S+) \[(\d+)\] "GET /([a-z]+)/(\d+) HTTP/1\.1" (\d+) (\d+)$', 1) AS ip,
               regexp_extract(line, '^(\S+) - (\S+) \[(\d+)\] "GET /([a-z]+)/(\d+) HTTP/1\.1" (\d+) (\d+)$', 4) AS path_type,
               CAST(regexp_extract(line, '^(\S+) - (\S+) \[(\d+)\] "GET /([a-z]+)/(\d+) HTTP/1\.1" (\d+) (\d+)$', 6) AS BIGINT) AS status,
               CAST(regexp_extract(line, '^(\S+) - (\S+) \[(\d+)\] "GET /([a-z]+)/(\d+) HTTP/1\.1" (\d+) (\d+)$', 7) AS BIGINT) AS bytes
        FROM lines
    )
    SELECT path_type, status,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(bytes) AS BIGINT) AS sum_bytes,
           CAST(count(DISTINCT ip) AS BIGINT) AS n_ips,
           CAST(sum(CASE WHEN path_type = '' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_parse_fail
    FROM p GROUP BY 1, 2
    """,
)
def q_log_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACCESS-LOG synthesis + regex parse ROUNDTRIP — the log-ingestion
    primitive (grok-style): each event is rendered as a combined-log-
    format line with ``format_string`` (C-style %s/%d — Java
    String.format vs DuckDB printf parity pinned by the hash), then
    parsed BACK with one grouped regexp_extract (\\S+/\\d+/[a-z]+ capture
    groups — identical Java-regex/RE2 semantics) and rolled up by the
    EXTRACTED fields, never the originals: a quoting, %-escape, group-
    index, or anchor bug on either side changes the rollup and breaks
    the hash.  n_parse_fail pins the non-match channel (both engines
    surface '' for a failed parse) at exactly 0.

    Spark-side physical rewrite (round-10 ×10 probe follow-up): four
    per-group regexp_extract calls are NOT common subexpressions (the
    group index differs), so the matcher ran 4× per row — rewritten to
    ONE regexp_replace packing the groups with a \\x01 delimiter + a
    split (measured 1.3× at sf0.1, results bit-identical; a non-match
    leaves the line unchanged, which is the fail signal since the
    packed form is always shorter).  The ORACLE keeps the declarative
    per-group form — it defines the semantics, the engine picks the
    physical strategy.

    Scale: two codegen string expressions per row + one
    map-side-combinable rollup over <= |types|x3 keys; the count
    DISTINCT ip shuffles (key, ip) pairs — bounded by the ip domain,
    not the log volume."""
    from ..tables import events as events_t

    ev = events_t(spark, sf_dir)
    e = ev.select(
        "event_id",
        "user_id",
        "event_type",
        # Integer quotient by construction (ADVICE r10 #2): `/` is
        # double division + truncation, exact only while ts_s < 2^53-ish
        # half-ULP bounds hold; `div` matches the oracle's `//` exactly
        # at every magnitude.
        F.expr("ts_us div 1000000").alias("ts_s"),
        F.expr("CAST(floor(value * 100.0 + 0.5) AS BIGINT)").alias("bytes"),
        (F.lit(200) + (F.col("event_id") % 3) * 100).alias("status"),
    )
    lines = e.select(
        F.format_string(
            '10.%d.%d.%d - u%d [%d] "GET /%s/%d HTTP/1.1" %d %d',
            F.col("user_id") % 256,
            (F.col("user_id") / 256).cast("long") % 256,
            F.col("user_id") % 100,
            F.col("user_id"),
            F.col("ts_s"),
            F.col("event_type"),
            F.col("event_id"),
            F.col("status"),
            F.col("bytes"),
        ).alias("line")
    )
    sep = "\x01"
    packed = F.regexp_replace(
        "line", _LOG_RE, sep.join(("$1", "$4", "$6", "$7"))
    )
    p = (
        lines.select("line", packed.alias("packed"))
        .select(
            (F.col("packed") == F.col("line")).alias("fail"),
            F.split("packed", sep).alias("f"),
        )
        .select(
            F.when(F.col("fail"), F.lit(""))
            .otherwise(F.element_at("f", 1))
            .alias("ip"),
            F.when(F.col("fail"), F.lit(""))
            .otherwise(F.element_at("f", 2))
            .alias("path_type"),
            F.when(F.col("fail"), F.lit(None))
            .otherwise(F.element_at("f", 3))
            .cast("long")
            .alias("status"),
            F.when(F.col("fail"), F.lit(None))
            .otherwise(F.element_at("f", 4))
            .cast("long")
            .alias("bytes"),
        )
    )
    return p.groupBy("path_type", "status").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("bytes").cast("long").alias("sum_bytes"),
        F.countDistinct("ip").cast("long").alias("n_ips"),
        F.sum(F.when(F.col("path_type") == "", 1).otherwise(0))
        .cast("long")
        .alias("n_parse_fail"),
    )
