"""Corpus-hygiene queries: the boilerplate-removal / fingerprinting /
LM-scoring / saturation / quality-ranking passes a pre-training data
pipeline runs over a raw crawl (SURVEY.md §2.12, round-4 additions).

Every query here ships a full DuckDB hash oracle: the float policy is
integer-first (bit-length logs, exact integer regression sums, Broder-
style md5-replayed hashes), and the single float op (Wilson lower bound)
is a fixed IEEE expression tree both engines evaluate bit-identically
before portable floor-half-up rounding.

None of this exists in the reference (a single-stream Ruby event relay,
`app.rb:1-278`); these are the EXT operators the build contract mandates
for the 100 TB training-data use case.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..operators import ranking
from ..tables import ORACLE_ROUND4, load, rebalance_for_cpu, round4
from .registry import query

# Shared oracle CTE: distinct 3-token shingles per document.  Imported,
# not copied — the literal is interpolated into each oracle string at
# module-build time, so the resulting oracle strings stay self-contained
# for the driver while there is exactly ONE definition to maintain.
from .llm_ops import _SHINGLE_CTE, _SPAN_RUNS_CTE  # noqa: E402

# CDC chunking constants shared by q_chunk_dedup and its oracle — the
# same window/modulus family as operators.text.cdc_chunks (q_chunk_cdc),
# so the chunk boundaries here are the ones the dedup store would see.
_CDC_WINDOW = 8
_CDC_MODULUS = 64
_CHUNK_KEEP_MAX_DOCS = 2


@query(
    "q_chunk_dedup",
    oracle=f"""
    WITH d AS (SELECT doc_id, text, length(text) AS L FROM documents),
    pos AS (
        SELECT doc_id, L, text,
               unnest(range(2, greatest(L - {_CDC_WINDOW} + 2, 2))) AS p
        FROM d
    ),
    cuts AS (
        SELECT doc_id, p FROM pos
        WHERE CAST(concat('0x', substring(md5(substring(text, p, {_CDC_WINDOW})), 1, 4))
                   AS BIGINT) % {_CDC_MODULUS} = 0
    ),
    bounds AS (
        SELECT DISTINCT doc_id, p FROM (
            SELECT doc_id, 1 AS p FROM d
            UNION ALL SELECT doc_id, p FROM cuts
            UNION ALL SELECT doc_id, L + 1 AS p FROM d)
    ),
    spans AS (
        SELECT doc_id, p,
               lead(p) OVER (PARTITION BY doc_id ORDER BY p) AS nxt
        FROM bounds
    ),
    chunks AS (
        SELECT s.doc_id, s.p,
               substring(d.text, s.p, s.nxt - s.p) AS chunk,
               s.nxt - s.p AS clen
        FROM spans s JOIN d USING (doc_id) WHERE s.nxt IS NOT NULL
    ),
    freq AS (
        SELECT md5(chunk) AS h, count(DISTINCT doc_id) AS n_docs
        FROM chunks GROUP BY 1
    )
    SELECT c.doc_id,
           count(*) AS n_chunks,
           CAST(sum(CASE WHEN f.n_docs <= {_CHUNK_KEEP_MAX_DOCS} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN f.n_docs <= {_CHUNK_KEEP_MAX_DOCS} THEN c.clen ELSE 0 END)
                AS BIGINT) AS kept_bytes,
           md5(coalesce(string_agg(c.chunk, '' ORDER BY c.p)
                        FILTER (WHERE f.n_docs <= {_CHUNK_KEEP_MAX_DOCS}), ''))
               AS kept_md5
    FROM chunks c JOIN freq f ON md5(c.chunk) = f.h
    GROUP BY c.doc_id
    """,
)
def q_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-frequency boilerplate removal (the CCNet/Dolma "drop
    paragraphs that repeat across the corpus" pass, with content-defined
    chunks as the unit since the corpus has no newlines): CDC-chunk every
    document (same boundary predicate as q_chunk_cdc), count how many
    DISTINCT documents each chunk digest appears in, drop chunks seen in
    more than ``_CHUNK_KEEP_MAX_DOCS`` documents, and reassemble the
    surviving text in original order.  ``kept_md5`` hashes the
    reassembled document, so the oracle proves byte-exact reconstruction,
    not just counts.

    Scale: the frequency table is keyed by the 16-byte chunk digest —
    digests shuffle for the global count, not chunk bytes; the
    keep-filter join is digest-keyed (broadcastable once pruned to the
    boilerplate tail, else a plain hash join); reassembly groups each
    document's own chunks — document-local bytes move exactly once, the
    irreducible cost of emitting rewritten text.  No step is
    quadratic in corpus size."""
    from ..operators import text as text_ops

    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    d = docs.select("doc_id", "text", F.length("text").alias("L"))
    cuts = text_ops.md5_window_cuts(d, _CDC_WINDOW, _CDC_MODULUS)
    spans = text_ops.chunk_spans(text_ops.chunk_bounds(d, cuts))
    chunks = spans.join(d.select("doc_id", "text"), "doc_id").select(
        "doc_id",
        "p",
        F.expr("substring(text, p, nxt - p)").alias("chunk"),
        (F.col("nxt") - F.col("p")).alias("clen"),
    )
    freq = chunks.groupBy(F.md5("chunk").alias("h")).agg(
        F.countDistinct("doc_id").alias("n_docs")
    )
    flagged = chunks.join(
        freq, F.md5(chunks["chunk"]) == freq["h"]
    ).withColumn("kept", F.col("n_docs") <= _CHUNK_KEEP_MAX_DOCS)
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(F.col("kept").cast("long")).alias("n_kept"),
        F.sum(F.when(F.col("kept"), F.col("clen")).otherwise(0))
        .cast("long")
        .alias("kept_bytes"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("kept"), F.struct("p", "chunk")
                            )
                        )
                    ),
                    lambda x: x["chunk"],
                ),
                "",
            )
        ).alias("kept_md5"),
    )


# Winnowing parameters (Schleimer, Wilkerson, Aiken — SIGMOD 2003
# "Winnowing: Local Algorithms for Document Fingerprinting"): token
# k-grams, window of w consecutive gram hashes, keep the window minimum
# with the RIGHTMOST tie-break (robust winnowing).  The (hash, position)
# pair is packed into one BIGINT — h * 2^20 + (2^20-1 - pos) — so a
# single integer MIN implements "smallest hash, then largest position"
# and both engines agree bit-for-bit.  2^20 positions caps documents at
# ~1M tokens (far above any web doc); both engines FAIL LOUD
# (raise_error / error()) on an over-long document rather than silently
# aliasing positions — the same posture as gear_chunks' window<=23 guard.
_WIN_K = 4
_WIN_W = 5
_POS_MOD = 1 << 20


@query(
    "q_winnow_fingerprint",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               CASE WHEN len(string_split(text, ' ')) < {_POS_MOD}
                    THEN string_split(text, ' ')
                    ELSE error('q_winnow_fingerprint: document exceeds 2^20 tokens')
               END AS toks
        FROM documents
    ),
    g AS (
        SELECT doc_id, len(toks) - {_WIN_K} + 1 AS n, toks,
               unnest(range(1, greatest(len(toks) - {_WIN_K} + 2, 1))) AS j
        FROM t
    ),
    h AS (
        SELECT doc_id, n, j,
               CAST(concat('0x', substring(md5(
                   array_to_string(toks[j:j+{_WIN_K - 1}], ' ')), 1, 10))
                   AS BIGINT) * {_POS_MOD} + ({_POS_MOD - 1} - j) AS key
        FROM g
    ),
    w AS (
        SELECT doc_id, n, j,
               min(key) OVER (PARTITION BY doc_id ORDER BY j
                              ROWS BETWEEN CURRENT ROW AND {_WIN_W - 1} FOLLOWING) AS sel
        FROM h
    ),
    fp AS (
        SELECT DISTINCT doc_id, sel // {_POS_MOD} AS fp_h,
               {_POS_MOD - 1} - (sel % {_POS_MOD}) AS fp_pos
        FROM w WHERE j <= n - {_WIN_W} + 1
    )
    SELECT doc_id, count(*) AS n_fp, CAST(sum(fp_h) AS BIGINT) AS fp_sum,
           min(fp_pos) AS first_pos, max(fp_pos) AS last_pos
    FROM fp GROUP BY doc_id
    """,
)
def q_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS winnowing fingerprints (Schleimer et al., SIGMOD 2003): hash
    every token 4-gram, slide a 5-gram window, keep each window's minimum
    hash with the rightmost tie-break, and de-duplicate the selections —
    the guarantee is that any shared substring of >= w+k-1 tokens yields
    at least one shared fingerprint, at ~2/(w+1) the density of full
    k-gram hashing.  Emitted per document: fingerprint count, integer
    checksum of the selected hashes, and first/last selected position
    (the summary a copy-detection index stores).

    The min-with-rightmost-tie-break is ONE integer ``min`` over the
    packed ``h * 2^20 + (2^20-1-j)`` key — no argmin UDF, no struct
    comparison semantics to align across engines.

    Scale: everything is document-local (per-doc ordered window + per-doc
    aggregate) — a single partitioning by doc_id serves both steps;
    no cross-document shuffle at any size."""
    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    # Fail loud on a document whose token count would alias the packed
    # position field (>= 2^20 tokens) — silently-wrong fingerprints are
    # worse than an error.  CASE lazily evaluates raise_error only on the
    # offending rows.
    t = docs.select(
        "doc_id",
        F.expr(
            f"CASE WHEN size(split(text, ' ')) < {_POS_MOD}"
            " THEN split(text, ' ')"
            " ELSE raise_error(concat('q_winnow_fingerprint: document '"
            " , cast(doc_id AS string), ' exceeds 2^20 tokens')) END"
        ).alias("toks"),
    )
    g = t.select(
        "doc_id",
        (F.size("toks") - F.lit(_WIN_K - 1)).alias("n"),
        "toks",
        F.explode(
            F.expr(
                f"CASE WHEN size(toks) >= {_WIN_K} "
                f"THEN sequence(1, size(toks) - {_WIN_K} + 1) "
                f"ELSE array() END"
            )
        ).alias("j"),
    )
    key = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(" ", F.slice("toks", F.col("j"), _WIN_K))),
                1,
                10,
            ),
            16,
            10,
        ).cast("long")
        * _POS_MOD
        + (F.lit(_POS_MOD - 1) - F.col("j"))
    )
    h = g.select("doc_id", "n", "j", key.alias("key"))
    w = Window.partitionBy("doc_id").orderBy("j").rowsBetween(0, _WIN_W - 1)
    sel = (
        h.withColumn("sel", F.min("key").over(w))
        .where(F.col("j") <= F.col("n") - _WIN_W + 1)
        .select(
            "doc_id",
            F.expr(f"sel DIV {_POS_MOD}").alias("fp_h"),
            (F.lit(_POS_MOD - 1) - F.col("sel") % _POS_MOD).alias("fp_pos"),
        )
        .distinct()
    )
    return sel.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_fp"),
        F.sum("fp_h").cast("long").alias("fp_sum"),
        F.min("fp_pos").alias("first_pos"),
        F.max("fp_pos").alias("last_pos"),
    )


@query(
    "q_bigram_surprisal",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    b AS (
        SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2
        FROM t, LATERAL (SELECT unnest(range(1, len(toks))) AS i) r
    ),
    cb AS (SELECT w1, w2, count(*) AS cb FROM b GROUP BY 1, 2),
    cp AS (SELECT w1, CAST(sum(cb) AS BIGINT) AS cp FROM cb GROUP BY 1)
    SELECT doc_id, count(*) AS n_bigrams,
           CAST(sum(length(bin(cp)) - length(bin(cb))) AS BIGINT) AS surprisal_bits
    FROM b JOIN cb USING (w1, w2) JOIN cp USING (w1)
    GROUP BY doc_id
    """,
)
def q_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM perplexity filtering, integer form (the conditional
    upgrade of q_unigram_surprisal): per-bigram surprisal
    ≈ -log2 P(w2|w1) computed as bit_length(c(w1·)) - bit_length(c(w1,w2))
    — within 1 bit of the true log-ratio but pure integer arithmetic, so
    the per-document scores (high = improbable word *transitions* =
    garbled or off-distribution text, a sharper signal than unigram
    rarity) are engine-exact and fully hash-oracled.

    Scale: the LM "model" is the bigram count table (vocabulary²-bounded,
    in practice corpus-sublinear) keyed by the bigram — a map-side
    combinable count then a bigram-keyed hash join back to occurrences;
    the prefix-count table is strictly smaller.  Both joins broadcast
    once the model is pruned, else they are plain shuffle joins on the
    model key — never on raw text."""
    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    t = docs.select("doc_id", F.split("text", " ").alias("toks"))
    b = t.select(
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN size(toks) >= 2 "
                "THEN sequence(1, size(toks) - 1) ELSE array() END"
            )
        ).alias("i"),
        "toks",
    ).select(
        "doc_id",
        F.element_at("toks", F.col("i")).alias("w1"),
        F.element_at("toks", F.col("i") + 1).alias("w2"),
    )
    cb = b.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb"))
    cp = cb.groupBy("w1").agg(F.sum("cb").cast("long").alias("cp"))
    bits = F.length(F.bin("cp")) - F.length(F.bin("cb"))
    return (
        b.join(cb, ["w1", "w2"])
        .join(cp, "w1")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(bits).cast("long").alias("surprisal_bits"),
        )
    )


@query(
    "q_zipf_slope",
    oracle="""
    WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
    v AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
    r AS (SELECT tok, c, row_number() OVER (ORDER BY c DESC, tok) AS rnk FROM v),
    xy AS (SELECT length(bin(rnk)) AS x, length(bin(c)) AS y FROM r),
    s AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx
        FROM xy
    )
    SELECT n AS n_vocab,
           (n * sxy - sx * sy) AS slope_num,
           (n * sxx - sx * sx) AS slope_den
    FROM s
    """,
)
def q_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit of the corpus vocabulary at octave resolution: the
    least-squares slope of log2(frequency) against log2(rank), with both
    logs taken as integer bit_length — the standard corpus-health
    diagnostic (natural text ≈ -1; a machine-generated or template-heavy
    corpus bends away).  The regression is emitted as the EXACT integer
    numerator / denominator pair (slope = slope_num / slope_den), so the
    whole query is engine-bit-exact with no float policy carve-out; the
    caller divides.  Headroom: the ACCUMULATORS are log-compressed
    (x, y = bit lengths ≤ 64, so sxy ≤ 4096·n — int64-safe to ~2e15
    vocab), but the final 1-row cross products n·sxy, sx·sy are
    n²-scale, so they ride DECIMAL(38,0) (VERDICT r10 item #2 sweep —
    Spark's non-ANSI multiply wraps silently where DuckDB raises);
    past the BIGINT emission bound (n ≈ 1.5e9 vocab) the decimal→long
    cast yields NULL (loud), never a wrapped value.

    Scale: the vocabulary count is one map-side-combinable groupBy; the
    global rank uses the bucketed prefix-sum (operators/ranking.py) with
    bit_length(c) as the monotone bucket — the only partitionless window
    runs over the <= 64-row bucket-offset table, never the vocabulary."""
    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    v = (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ranked = ranking.global_row_number(
        v,
        [F.col("c").desc(), F.col("tok").asc()],
        bucket=F.length(F.bin("c")),
        out_col="rnk",
        bucket_desc=True,
    )
    xy = ranked.select(
        F.length(F.bin("rnk")).alias("x"), F.length(F.bin("c")).alias("y")
    )
    s = xy.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    dec = "decimal(38,0)"
    return s.select(
        F.col("n").alias("n_vocab"),
        (
            F.col("n").cast(dec) * F.col("sxy").cast(dec)
            - F.col("sx").cast(dec) * F.col("sy").cast(dec)
        )
        .cast("long")
        .alias("slope_num"),
        (
            F.col("n").cast(dec) * F.col("sxx").cast(dec)
            - F.col("sx").cast(dec) * F.col("sx").cast(dec)
        )
        .cast("long")
        .alias("slope_den"),
    )


@query(
    "q_ngram_novelty",
    oracle=_SHINGLE_CTE
    + """
    , fs AS (SELECT shingle, min(doc_id) AS first_doc FROM sh GROUP BY 1)
    SELECT doc_id, count(*) AS n_shingles,
           CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel
    FROM sh JOIN fs USING (shingle) GROUP BY doc_id
    """,
)
def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-saturation curve: for every document, how many of its
    distinct 3-token shingles appear for the FIRST time in it (first
    occurrence = the minimum doc_id carrying the shingle).  Plotted
    against ingestion order this is the diminishing-returns diagnostic a
    crawl pipeline watches to decide when another dump stops adding
    information (Heaps'-law flattening), and per-document
    ``n_novel / n_shingles`` is a dedup-adjacent quality signal — a
    document contributing zero novel shingles is subsumed by the corpus
    before it.

    Scale: first-occurrence is a map-side-combinable MIN keyed by the
    shingle (the shingle vocabulary shuffles once), then one
    shingle-keyed join back to per-doc shingle rows and a per-doc count
    — the same two-shuffle shape as q_contamination; nothing is
    pairwise."""
    from ..operators import dedup

    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    sh = dedup.shingles(docs, n=3)
    fs = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    return (
        sh.join(fs, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_novel"),
        )
    )


# Wilson lower bound at 95% (z = 1.96): both engines evaluate the SAME
# IEEE double expression tree (z² = 3.8416, z²/2 = 1.9208, z²/4 = 0.9604
# pre-folded as literals so neither engine re-derives them), then the
# portable floor-half-up 4dp rounding.  sqrt is IEEE-correctly-rounded,
# so the full chain is bit-identical cross-engine.
_WILSON_ORACLE_EXPR = (
    "((CAST(n_pass AS DOUBLE) / n) + 1.9208 / n"
    " - 1.96 * sqrt(((CAST(n_pass AS DOUBLE) / n)"
    " * (1.0 - (CAST(n_pass AS DOUBLE) / n)) + 0.9604 / n) / n))"
    " / (1.0 + 3.8416 / n)"
)


@query(
    "q_quality_wilson",
    oracle=f"""
    WITH s AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN n_chars BETWEEN 250 AND 450 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_pass
        FROM documents GROUP BY source
    )
    SELECT source, n, n_pass,
           {ORACLE_ROUND4.format(x=_WILSON_ORACLE_EXPR)} AS wilson_lb
    FROM s
    """,
)
def q_quality_wilson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality ranking by Wilson 95% lower confidence bound:
    each source's pass rate on a quality gate (here the in-band length
    predicate; any boolean gate drops in), ranked by the Wilson score
    lower bound rather than the raw proportion — the standard fix for
    "a source with 3/3 passing is not better than one with 9,000/10,000"
    when deciding which crawl sources to keep or re-weight.

    Float policy: the bound is one fixed IEEE expression tree over the
    two exact integers (n, n_pass) — division/multiplication/sqrt are
    deterministic and correctly rounded, both engines evaluate the
    literal-identical tree, and the result passes through the portable
    floor-half-up 4dp quantizer.  Scale: a single partial-aggregate
    shuffle keyed by source; output is source-cardinality rows."""
    docs = load(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(
            F.when(F.col("n_chars").between(250, 450), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_pass"),
    )
    phat = F.col("n_pass").cast("double") / F.col("n")
    wilson = (
        phat
        + F.lit(1.9208) / F.col("n")
        - F.lit(1.96)
        * F.sqrt(
            (phat * (F.lit(1.0) - phat) + F.lit(0.9604) / F.col("n"))
            / F.col("n")
        )
    ) / (F.lit(1.0) + F.lit(3.8416) / F.col("n"))
    return s.select(
        "source", "n", "n_pass", round4(wilson).alias("wilson_lb")
    )


@query(
    "q_t_closeness",
    oracle="""
    WITH cats AS (SELECT DISTINCT n_chars // 100 AS cat FROM documents),
    gtab AS (SELECT n_chars // 100 AS cat, CAST(count(*) AS BIGINT) AS gc
             FROM documents GROUP BY 1),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS ntot,
                   CAST(count(DISTINCT n_chars // 100) AS BIGINT) AS m
            FROM documents),
    grp AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS n
            FROM documents GROUP BY 1, 2),
    gcnt AS (SELECT lang, source, n_chars // 100 AS cat,
                    CAST(count(*) AS BIGINT) AS c
             FROM documents GROUP BY 1, 2, 3),
    grid AS (SELECT g.lang, g.source, g.n, cats.cat, coalesce(x.c, 0) AS c
             FROM grp g CROSS JOIN cats
             LEFT JOIN gcnt x
               ON x.lang = g.lang AND x.source = g.source AND x.cat = cats.cat),
    j AS (SELECT grid.lang, grid.source, grid.n, grid.cat,
                 grid.c * t.ntot - gl.gc * grid.n AS diff, t.ntot, t.m
          FROM grid JOIN gtab gl USING (cat) CROSS JOIN tot t),
    cum AS (SELECT lang, source, n, ntot, m, cat,
                   sum(diff) OVER (PARTITION BY lang, source ORDER BY cat
                                   ROWS UNBOUNDED PRECEDING) AS cum
            FROM j)
    SELECT lang, source, n,
           CAST(sum(abs(cum)) AS BIGINT) AS emd_num,
           CAST(n * ntot * (m - 1) AS BIGINT) AS emd_den,
           sum(abs(cum)) * 5 > n * ntot * (m - 1) AS above_t
    FROM cum GROUP BY lang, source, n, ntot, m
    """,
)
def q_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (Li et al., ICDE 2007) — the third member of the
    privacy-release trio after q_k_anonymity and q_l_diversity, catching
    what both miss: a group can be k-large AND l-diverse while its
    sensitive-value *distribution* still diverges from the corpus (e.g.
    all-high length buckets), which is itself a disclosure.  Distance is
    the ordered-attribute Earth Mover's Distance = mean |cumulative
    probability difference| over the m length-bucket categories,
    computed in EXACT integers: per-category diff is scaled by
    ntot·n_group (``c·ntot − gc·n``), cumulated per group, and emitted as
    the numerator/denominator pair with the t=0.2 flag evaluated as
    ``5·num > den`` — zero float ops, full hash oracle.  The
    cross-multiplied terms (``c·ntot``, ``gc·n``, the cumulated diffs,
    and den = n·ntot·(m−1)) are n²-scale, so they ride DECIMAL(38,0)
    (VERDICT r10 item #2 sweep — Spark's non-ANSI arithmetic wraps
    silently where DuckDB promotes to HUGEINT); decimal headroom holds
    past ntot = 10^18, and past the BIGINT emission bound the
    decimal→long cast yields NULL (loud), never a wrapped value.  The
    ``above_t`` comparison runs on the decimals directly, so the FLAG
    stays exact even where the emitted pair would saturate.

    Scale: three partial-agg shuffles (global counts, group counts,
    group×category counts) sized by quasi-identifier and category
    cardinality — never by the corpus; the category grid is
    broadcast-small and the cumulative window partitions by group."""
    docs = load(spark, sf_dir, "documents")
    cat = F.expr("n_chars div 100")
    cats = docs.select(cat.alias("cat")).distinct()
    gtab = docs.groupBy(cat.alias("cat")).agg(
        F.count(F.lit(1)).cast("long").alias("gc")
    )
    tot = docs.agg(
        F.count(F.lit(1)).cast("long").alias("ntot"),
        F.countDistinct(cat).cast("long").alias("m"),
    )
    grp = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    gcnt = docs.groupBy("lang", "source", cat.alias("cat")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    grid = (
        grp.crossJoin(F.broadcast(cats))
        .join(gcnt, ["lang", "source", "cat"], "left")
        .withColumn("c", F.coalesce(F.col("c"), F.lit(0)))
    )
    dec = "decimal(38,0)"
    j = (
        grid.join(F.broadcast(gtab), "cat")
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "diff",
            F.col("c").cast(dec) * F.col("ntot").cast(dec)
            - F.col("gc").cast(dec) * F.col("n").cast(dec),
        )
    )
    w = (
        Window.partitionBy("lang", "source")
        .orderBy("cat")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = j.withColumn("cum", F.sum("diff").over(w))
    den = (
        F.col("n").cast(dec)
        * F.col("ntot").cast(dec)
        * (F.col("m") - 1).cast(dec)
    )
    return cum.groupBy("lang", "source", "n", "ntot", "m").agg(
        F.sum(F.abs("cum")).cast("long").alias("emd_num"),
        F.max(den).cast("long").alias("emd_den"),
        (F.sum(F.abs("cum")) * F.lit(5).cast(dec) > F.max(den)).alias(
            "above_t"
        ),
    ).drop("ntot", "m")


@query(
    "q_mix_temperature",
    oracle="""
    WITH s AS (SELECT source, CAST(count(*) AS BIGINT) AS n
               FROM documents GROUP BY 1),
    w AS (SELECT source, n,
                 CAST(floor(sqrt(CAST(n AS DOUBLE) * 1000000000000.0))
                      AS BIGINT) AS wgt
          FROM s),
    t AS (SELECT CAST(sum(wgt) AS BIGINT) AS sw FROM w)
    SELECT source, n, wgt, CAST((wgt * 1000000) // sw AS BIGINT) AS share_ppm
    FROM w CROSS JOIN t
    """,
)
def q_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled data-mixing weights at α = 1/2 (the
    multilingual-LM sampling standard: w_i ∝ n_i^α flattens the source
    distribution so head sources stop drowning the tail): per-source
    weight = floor(sqrt(n·10¹²)) = floor(10⁶·√n) — sqrt is IEEE
    correctly-rounded, so the integer weights are bit-identical
    cross-engine, their sum is exact, and each source's sampling share
    in ppm is an exact integer division.  No float accumulation
    anywhere (the usual w_i/Σw float normalization is summation-order
    sensitive; this is not).

    Scale: one partial-agg shuffle keyed by source; the weight table is
    source-cardinality (broadcast-size) and the total is one row."""
    docs = load(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n"))
    w = s.withColumn(
        "wgt",
        F.floor(F.sqrt(F.col("n").cast("double") * F.lit(1e12))).cast(
            "long"
        ),
    )
    t = w.agg(F.sum("wgt").cast("long").alias("sw"))
    return w.crossJoin(F.broadcast(t)).select(
        "source",
        "n",
        "wgt",
        F.expr("(wgt * 1000000) div sw").cast("long").alias("share_ppm"),
    )


@query(
    "q_systematic_sample",
    oracle="""
    WITH d AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h,
                      CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
               FROM documents),
    g AS (SELECT *, CAST(concat('0x', substring(h, 1, 1)) AS BIGINT) AS grp
          FROM d),
    c AS (SELECT *, CAST(sum(n_tok) OVER (PARTITION BY grp ORDER BY h, doc_id
                                          ROWS UNBOUNDED PRECEDING) AS BIGINT)
                    AS cum_in
          FROM g),
    t AS (SELECT grp, CAST(sum(n_tok) AS BIGINT) AS tot FROM g GROUP BY 1),
    o AS (SELECT grp, CAST(coalesce(sum(tot) OVER (ORDER BY grp
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                      AS off
          FROM t),
    tw AS (SELECT CAST(sum(n_tok) AS BIGINT) AS wtot FROM d),
    x AS (SELECT doc_id, n_tok, off + cum_in AS cum FROM c JOIN o USING (grp))
    SELECT doc_id, n_tok,
           CAST(((cum - n_tok) * 100) // wtot AS BIGINT) AS slot,
           CAST((cum * 100) // wtot - ((cum - n_tok) * 100) // wtot
                AS BIGINT) AS n_slots
    FROM x CROSS JOIN tw
    WHERE (cum * 100) // wtot > ((cum - n_tok) * 100) // wtot
    """,
)
def q_systematic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size-proportional systematic sampling (PPS without replacement,
    the deterministic form): documents in hash-shuffled order are laid
    head-to-tail by token mass and the k = 100 equal-mass boundaries
    select the document they land in — every document's selection
    probability is proportional to its token count, reproducible across
    runs/engines/partitionings (rand()-based weighted sampling is
    neither), and big documents straddling several boundaries report
    ``n_slots``.  Selection is pure integer arithmetic on the
    distributed prefix sum: doc selected iff floor(cum·k/W) advances
    across it.

    Scale: the same 16-nibble-group distributed prefix sum as
    q_pack_sequences (per-group window cumsums + a broadcast 16-row
    offset table) — no single-partition global window; the only global
    values are W (one row) and the offset table.  Int64: cum·k ≤ W·k,
    safe to ~9e16 total tokens at k=100."""
    docs = load(spark, sf_dir, "documents")
    h = F.md5(F.col("doc_id").cast("string"))
    base = docs.select(
        "doc_id",
        h.alias("h"),
        F.size(F.split("text", " ")).cast("long").alias("n_tok"),
        F.conv(F.substring(h, 1, 1), 16, 10).cast("long").alias("grp"),
    )
    w_in = (
        Window.partitionBy("grp")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum_in = base.withColumn("cum_in", F.sum("n_tok").over(w_in))
    totals = base.groupBy("grp").agg(F.sum("n_tok").alias("tot"))
    w_off = Window.orderBy("grp").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "grp", F.coalesce(F.sum("tot").over(w_off), F.lit(0)).alias("off")
    )
    tw = base.agg(F.sum("n_tok").cast("long").alias("wtot"))
    x = (
        cum_in.join(F.broadcast(offsets), "grp")
        .withColumn("cum", F.col("off") + F.col("cum_in"))
        .crossJoin(F.broadcast(tw))
    )
    lo = F.expr("((cum - n_tok) * 100) div wtot")
    hi = F.expr("(cum * 100) div wtot")
    return (
        x.where(hi > lo)
        .select(
            "doc_id",
            "n_tok",
            lo.cast("long").alias("slot"),
            (hi - lo).cast("long").alias("n_slots"),
        )
    )


# Session gap shared with q_sessionize (plans/advanced.py) and band
# width for the interval-overlap join: one-hour buckets over session
# spans (sessions here last minutes-to-hours, so a session lands in a
# handful of buckets; the bucket is the shuffle key).
_IJ_GAP_US = 2 * 3600 * 1_000_000
_IJ_BUCKET_US = 3600 * 1_000_000


@query(
    "q_interval_join",
    oracle=f"""
    WITH g AS (
        SELECT user_id, event_id, epoch_us(ts) AS ts_us,
               CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                         OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > {_IJ_GAP_US}
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    ),
    s AS (
        SELECT user_id, event_id, ts_us,
               CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        FROM g
    ),
    sess AS (
        SELECT user_id, session_id,
               min(ts_us) AS start_us, max(ts_us) AS end_us
        FROM s GROUP BY 1, 2
    )
    SELECT a.user_id, a.session_id, count(*) AS n_concurrent
    FROM sess a JOIN sess b
      ON a.user_id <> b.user_id
     AND a.start_us <= b.end_us AND b.start_us <= a.end_us
    GROUP BY 1, 2
    """,
)
def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap self-join (session concurrency): for every user
    session, how many OTHER users' sessions overlap it in time — the
    load/concurrency analysis shape, and the general interval-join
    pattern (genomics ranges, ad exposure windows, resource booking).
    The naive formulation is an inequality-only θ-join = cartesian; the
    scale plan is RANGE BANDING: each session explodes into the 1-hour
    buckets it spans, candidates equi-join on the bucket, pairs
    de-duplicate (a pair can share several buckets), and the exact
    overlap predicate confirms.  The oracle IS the quadratic θ-join —
    feasible at oracle scale, which is exactly why the banded plan and
    not the θ-join is the declared operator.

    Scale: candidate volume = Σ_bucket (sessions-in-bucket)² — bounded
    by banding granularity, not corpus size; hot buckets (a flash-crowd
    hour) are the skew knob, the same max_bucket/salting treatment as
    the shared-shingle joins.  Sessions build on one user_id
    partitioning (two windows + one agg, same as q_sessionize)."""
    from ..tables import events

    ev = events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    g = ev.select(
        "user_id",
        "event_id",
        "ts_us",
        F.when(
            F.lag("ts_us").over(w).isNull()
            | ((F.col("ts_us") - F.lag("ts_us").over(w)) > _IJ_GAP_US),
            1,
        )
        .otherwise(0)
        .alias("is_new"),
    )
    ws = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sess = (
        g.withColumn("session_id", F.sum("is_new").over(ws))
        .groupBy("user_id", "session_id")
        .agg(
            F.min("ts_us").alias("start_us"), F.max("ts_us").alias("end_us")
        )
    )
    banded = sess.select(
        "user_id",
        "session_id",
        "start_us",
        "end_us",
        F.explode(
            F.sequence(
                F.expr(f"start_us div {_IJ_BUCKET_US}"),
                F.expr(f"end_us div {_IJ_BUCKET_US}"),
            )
        ).alias("bucket"),
    )
    a = banded.select(
        F.col("user_id").alias("a_user"),
        F.col("session_id").alias("a_sess"),
        F.col("start_us").alias("a_start"),
        F.col("end_us").alias("a_end"),
        "bucket",
    )
    b = banded.select(
        F.col("user_id").alias("b_user"),
        F.col("session_id").alias("b_sess"),
        F.col("start_us").alias("b_start"),
        F.col("end_us").alias("b_end"),
        "bucket",
    )
    pairs = (
        a.join(b, "bucket")
        .where(
            (F.col("a_user") != F.col("b_user"))
            & (F.col("a_start") <= F.col("b_end"))
            & (F.col("b_start") <= F.col("a_end"))
        )
        .select("a_user", "a_sess", "b_user", "b_sess")
        .distinct()
    )
    return pairs.groupBy(
        F.col("a_user").alias("user_id"), F.col("a_sess").alias("session_id")
    ).agg(F.count(F.lit(1)).alias("n_concurrent"))


@query(
    "q_audio_pcm_stats",
    oracle="""
    WITH d AS (SELECT doc_id, 64 + doc_id % 97 AS n FROM documents),
    s AS (SELECT doc_id, n, t.t,
                 ((doc_id*7919 + t.t*104729 + 1234) % 65536) - 32768 AS v
          FROM d CROSS JOIN range(0, 160) t(t) WHERE t.t < n),
    c AS (SELECT doc_id, n, t, v,
                 lag(v) OVER (PARTITION BY doc_id ORDER BY t) AS pv
          FROM s)
    SELECT doc_id, CAST(max(n) AS BIGINT) AS n_samples,
           CAST(8000 AS BIGINT) AS sample_rate,
           CAST(sum(abs(v)) AS BIGINT) AS sum_abs,
           CAST(max(abs(v)) AS BIGINT) AS max_abs,
           CAST(sum(CASE WHEN pv IS NOT NULL AND ((v < 0) <> (pv < 0))
                    THEN 1 ELSE 0 END) AS BIGINT) AS zero_cross
    FROM c GROUP BY doc_id
    """,
)
def q_audio_pcm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode path — the audio leg of the multimodal mandate,
    same strategy as q_multimodal_decode's BMP/PGM leg: each document
    carries a *valid RIFF/WAVE file* (16-bit mono PCM, closed-form int16
    samples), and the Arrow-batched decoder walks the actual container
    (RIFF magic, chunk iteration with the even-byte padding rule,
    unknown-chunk tolerance, ``fmt ``/``data`` parsing) in pure
    numpy/struct (operators/multimodal.py: encode_wav/decode_wav), then
    emits integer signal features: total |amplitude|, peak, and the
    zero-crossing count.  The oracle recomputes the features from the
    closed form, so any chunk-walk, sample-width, or endianness bug in
    the decoder breaks the hash.

    100 TB shape: encode stands in for the object-storage scan; decode
    is per-byte linear inside mapInPandas with no shuffle until the tiny
    stats output — identical posture to the image path."""
    from ..operators import multimodal

    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    payloads = multimodal.synthetic_audio(docs)
    return multimodal.decode_audio_stats(payloads)


@query(
    "q_audio_goertzel",
    oracle="""
    WITH d AS (SELECT doc_id, 64 + doc_id % 97 AS n FROM documents),
    x AS (SELECT doc_id, n, t.t,
                 ((doc_id*7919 + t.t*104729 + 1234) % 65536) - 32768 AS v
          FROM d CROSS JOIN range(0, 160) t(t) WHERE t.t < n),
    s AS (
        SELECT doc_id, n,
            CAST(sum(v * CASE (n-1-t) % 6 WHEN 0 THEN 1 WHEN 1 THEN 1
                         WHEN 3 THEN -1 WHEN 4 THEN -1 ELSE 0 END)
                 AS BIGINT) AS s1p,
            CAST(sum(CASE WHEN t <= n-2 THEN
                     v * CASE (n-2-t) % 6 WHEN 0 THEN 1 WHEN 1 THEN 1
                         WHEN 3 THEN -1 WHEN 4 THEN -1 ELSE 0 END
                     ELSE 0 END) AS BIGINT) AS s2p,
            CAST(sum(v * CASE (n-1-t) % 3 WHEN 0 THEN 1 WHEN 1 THEN -1
                         ELSE 0 END) AS BIGINT) AS s1m,
            CAST(sum(CASE WHEN t <= n-2 THEN
                     v * CASE (n-2-t) % 3 WHEN 0 THEN 1 WHEN 1 THEN -1
                         ELSE 0 END ELSE 0 END) AS BIGINT) AS s2m
        FROM x GROUP BY doc_id, n
    )
    SELECT doc_id, CAST(n AS BIGINT) AS n_samples,
           CAST(8000 AS BIGINT) AS sample_rate,
           CAST(s1p*s1p + s2p*s2p - s1p*s2p AS BIGINT) AS energy_sr6,
           CAST(s1m*s1m + s2m*s2m + s1m*s2m AS BIGINT) AS energy_sr3
    FROM s
    """,
)
def q_audio_goertzel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-bin GOERTZEL tone energy over the real WAV chunk walk —
    the audio FREQUENCY leg (VERDICT r09 item #5) completing the
    time-domain q_audio_pcm_stats / q_audio_resample family: decode the
    RIFF container, run the actual Goertzel recurrence s_t = x_t +
    c·s_{t−1} − s_{t−2} in int64 at the two integer-coefficient bins
    (f = sr/6, c = +1 and f = sr/3, c = −1), emit the exact bin
    energies.  The oracle replays the recurrence RELATIONALLY via the
    periodic impulse response (c=+1: [1,1,0,−1,−1,0]; c=−1: [1,−1,0]) —
    s_{N−1} is a CASE-mod weighted sum, so no CTE unroll (sharper than
    the q_holt_linear unroll device; equivalence property-tested in
    tests/test_round10_ops.py).  operators/multimodal.py:
    goertzel_energies has the scale notes."""
    from ..operators import multimodal

    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    payloads = multimodal.synthetic_audio(docs)
    return multimodal.goertzel_energies(payloads)


@query(
    "q_class_balance",
    oracle="""
    WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n
               FROM documents GROUP BY 1),
    m AS (SELECT CAST(min(n) AS BIGINT) AS k FROM c),
    r AS (SELECT doc_id, lang,
                 row_number() OVER (PARTITION BY lang
                     ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
          FROM documents)
    SELECT lang, count(*) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS id_checksum
    FROM r CROSS JOIN m WHERE rn <= k GROUP BY lang
    """,
)
def q_class_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsampling: every language keeps exactly
    min-class-count documents, chosen by deterministic hash rank (md5 of
    the id, not rand(), so the subsample is reproducible across runs,
    engines, and partitionings — the property a training-data freeze
    needs).  The head-class downsampling half of imbalance handling;
    q_mix_temperature is the soft-reweight alternative.

    Scale: rank is a per-class window (lang partitions the shuffle);
    the class-count table and the scalar min broadcast.  Output proves
    membership (id checksum), not just counts."""
    docs = load(spark, sf_dir, "documents")
    c = docs.groupBy("lang").agg(F.count(F.lit(1)).cast("long").alias("n"))
    m = c.agg(F.min("n").cast("long").alias("k"))
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    r = docs.select("doc_id", "lang").withColumn("rn", F.row_number().over(w))
    return (
        r.crossJoin(F.broadcast(m))
        .where(F.col("rn") <= F.col("k"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("doc_id").cast("long").alias("id_checksum"),
        )
    )


@query(
    "q_orc_roundtrip",
    oracle="""
    SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           min(doc_id) AS min_id, max(doc_id) AS max_id
    FROM documents WHERE lang IN ('en', 'fr')
    GROUP BY lang
    """,
)
def q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC format + partitioned-layout roundtrip: documents written once
    as ORC partitioned by ``lang`` (Hive-style directory layout), read
    back with a partition filter — the scan touches only the en/fr
    directories (partition pruning identical to the parquet path; ORC
    carries its own stripe-level min/max indexes for row skipping) — and
    the read-back aggregate hash-matches the source-table oracle,
    proving the format conversion is lossless.  Spark's ORC support is
    built-in (native reader), so an ORC-based lakehouse can adopt every
    operator here unchanged.

    100 TB shape: format choice changes the scan layer only; the
    partition-pruned read is the same files-skipped pattern as
    q_partitioned_sink_prune."""
    import os as _os

    docs = load(spark, sf_dir, "documents")
    tag = _os.path.basename(_os.path.normpath(sf_dir)) or "sf"
    out = f"/tmp/spark_graft_orc_{tag}"
    if not _os.path.exists(_os.path.join(out, "_SUCCESS")):
        (
            docs.repartition("lang")
            .write.partitionBy("lang")
            .mode("overwrite")
            .orc(out)
        )
    back = spark.read.orc(out).where(F.col("lang").isin("en", "fr"))
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )


# ExactSubstr cut threshold in tokens (Lee et al. 2022 use 50; the
# synthetic corpus's duplicated regions top out at ~95 tokens, so 20
# exercises both cut and keep paths on real data).
_XS_MIN_CUT = 20


@query(
    "q_exactsubstr_cut",
    oracle=_SPAN_RUNS_CTE
    + f"""
    , per_run AS (
        SELECT doc_id, grp, min(i) AS start_i, count(*) AS r
        FROM runs GROUP BY 1, 2
    ),
    regions AS (
        SELECT doc_id, start_i, start_i + r + 5 AS end_i
        FROM per_run WHERE r + 6 >= {_XS_MIN_CUT}
    ),
    tokens AS (
        SELECT doc_id, tt.tt AS t, toks[tt.tt] AS tok, len(toks) AS n
        FROM t, LATERAL (SELECT unnest(range(1, len(toks) + 1)) AS tt) tt
    ),
    cut AS (
        SELECT DISTINCT tk.doc_id, tk.t
        FROM tokens tk JOIN regions r
          ON tk.doc_id = r.doc_id AND tk.t BETWEEN r.start_i AND r.end_i
    ),
    ft AS (
        SELECT tk.doc_id, tk.t, tk.tok, tk.n, c.t IS NOT NULL AS is_cut
        FROM tokens tk
        LEFT JOIN cut c ON tk.doc_id = c.doc_id AND tk.t = c.t
    ),
    reg_n AS (SELECT doc_id, count(*) AS n_regions FROM regions GROUP BY 1)
    SELECT ft.doc_id,
           CAST(max(ft.n) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN ft.is_cut THEN 1 ELSE 0 END) AS BIGINT) AS n_cut,
           CAST(coalesce(max(reg_n.n_regions), 0) AS BIGINT) AS n_regions,
           md5(coalesce(string_agg(ft.tok, ' ' ORDER BY ft.t)
                        FILTER (WHERE NOT ft.is_cut), '')) AS kept_md5
    FROM ft LEFT JOIN reg_n ON ft.doc_id = reg_n.doc_id
    GROUP BY ft.doc_id
    """,
)
def q_exactsubstr_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr dedup REWRITE (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): where
    q_dup_spans/q_dup_span_lengths only *measure* cross-document repeated
    regions, this pass actually CUTS them — every maximal run of
    duplicated 7-token span positions covering >= 20 tokens is removed
    from the document and the survivor text is reassembled in order,
    with ``kept_md5`` proving the rewrite byte-for-byte.  This is the
    suffix-array tool's effect re-expressed as dataflow: position-keyed
    span digests -> bounded (span, doc-frequency) aggregation -> hash
    join back -> gaps-and-islands runs -> threshold -> per-document
    region mask -> ordered reassembly.

    Scale: identical posture to q_dup_span_lengths for detection (no
    pair join, no suffix array, digests shuffle); the mask step is a
    doc_id equi-join with a range predicate against the per-doc region
    list (regions per doc are few — bounded by doc length / MIN_CUT),
    and reassembly groups each document's own surviving tokens, so
    document bytes move once.  All-integer counts + md5 => full hash
    oracle."""
    from ..operators import dedup

    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    flags = dedup.span_flag_positions(docs, n=7)
    return _exactsubstr_rewrite(docs, flags)


def _exactsubstr_rewrite(docs: DataFrame, flags: DataFrame) -> DataFrame:
    """Shared rewrite tail of the ExactSubstr family (cut / cluster):
    flagged positions → gaps-and-islands runs → >= MIN_CUT regions →
    per-doc region mask → ordered reassembly with a kept_md5 proof.
    One definition so the two variants can never drift in thresholding,
    masking, or reassembly."""
    w = Window.partitionBy("doc_id").orderBy("i")
    regions = (
        flags.withColumn("grp", F.col("i") - F.row_number().over(w))
        .groupBy("doc_id", "grp")
        .agg(F.min("i").alias("start_i"), F.count(F.lit(1)).alias("r"))
        .where(F.col("r") + 6 >= _XS_MIN_CUT)
        .select(
            F.col("doc_id").alias("r_doc"),
            "start_i",
            (F.col("start_i") + F.col("r") + 5).alias("end_i"),
        )
    )
    tokens = docs.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("n"),
        F.posexplode(F.split("text", " ")).alias("t0", "tok"),
    ).select("doc_id", "n", (F.col("t0") + 1).alias("t"), "tok")
    cut = (
        tokens.join(
            regions,
            (F.col("doc_id") == F.col("r_doc"))
            & F.col("t").between(F.col("start_i"), F.col("end_i")),
        )
        .select("doc_id", "t")
        .distinct()
        .withColumn("is_cut_src", F.lit(True))
    )
    ft = tokens.join(cut, ["doc_id", "t"], "left").withColumn(
        "is_cut", F.coalesce(F.col("is_cut_src"), F.lit(False))
    )
    reg_n = regions.groupBy(F.col("r_doc").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("n_regions")
    )
    return (
        ft.groupBy("doc_id")
        .agg(
            F.max("n").cast("long").alias("n_tokens"),
            F.sum(F.col("is_cut").cast("long")).cast("long").alias("n_cut"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.when(
                                    ~F.col("is_cut"), F.struct("t", "tok")
                                )
                            )
                        ),
                        lambda x: x["tok"],
                    ),
                    " ",
                )
            ).alias("kept_md5"),
        )
        .join(reg_n, "doc_id", "left")
        .withColumn(
            "n_regions", F.coalesce(F.col("n_regions"), F.lit(0)).cast("long")
        )
        .select("doc_id", "n_tokens", "n_cut", "n_regions", "kept_md5")
    )


# ExactSubstr CLUSTER variant of the span-runs CTE: per duplicated span
# digest the smallest doc_id is the designated survivor and its positions
# are never flagged — the corpus keeps exactly ONE copy of each repeated
# region (Lee et al. 2022 §4.2) instead of cutting all occurrences.
_SPAN_RUNS_KEEPER_CTE = """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    pos AS (
        SELECT doc_id, toks,
               unnest(range(1, greatest(len(toks) - 5, 2))) AS i
        FROM t
    ),
    sp AS (
        SELECT doc_id, i,
               md5(array_to_string(toks[i:i+6], ' ')) AS h
        FROM pos
    ),
    df AS (SELECT h, count(DISTINCT doc_id) AS n_docs,
                  min(doc_id) AS keeper
           FROM sp GROUP BY h),
    flags AS (
        SELECT sp.doc_id, sp.i FROM sp JOIN df USING (h)
        WHERE df.n_docs > 1 AND sp.doc_id <> df.keeper
    ),
    runs AS (
        SELECT doc_id, i,
               i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp
        FROM flags
    )
"""


@query(
    "q_exactsubstr_cluster",
    oracle=_SPAN_RUNS_KEEPER_CTE
    + f"""
    , per_run AS (
        SELECT doc_id, grp, min(i) AS start_i, count(*) AS r
        FROM runs GROUP BY 1, 2
    ),
    regions AS (
        SELECT doc_id, start_i, start_i + r + 5 AS end_i
        FROM per_run WHERE r + 6 >= {_XS_MIN_CUT}
    ),
    tokens AS (
        SELECT doc_id, tt.tt AS t, toks[tt.tt] AS tok, len(toks) AS n
        FROM t, LATERAL (SELECT unnest(range(1, len(toks) + 1)) AS tt) tt
    ),
    cut AS (
        SELECT DISTINCT tk.doc_id, tk.t
        FROM tokens tk JOIN regions r
          ON tk.doc_id = r.doc_id AND tk.t BETWEEN r.start_i AND r.end_i
    ),
    ft AS (
        SELECT tk.doc_id, tk.t, tk.tok, tk.n, c.t IS NOT NULL AS is_cut
        FROM tokens tk
        LEFT JOIN cut c ON tk.doc_id = c.doc_id AND tk.t = c.t
    ),
    reg_n AS (SELECT doc_id, count(*) AS n_regions FROM regions GROUP BY 1)
    SELECT ft.doc_id,
           CAST(max(ft.n) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN ft.is_cut THEN 1 ELSE 0 END) AS BIGINT) AS n_cut,
           CAST(coalesce(max(reg_n.n_regions), 0) AS BIGINT) AS n_regions,
           md5(coalesce(string_agg(ft.tok, ' ' ORDER BY ft.t)
                        FILTER (WHERE NOT ft.is_cut), '')) AS kept_md5
    FROM ft LEFT JOIN reg_n ON ft.doc_id = reg_n.doc_id
    GROUP BY ft.doc_id
    """,
)
def q_exactsubstr_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr dedup with CLUSTER-SURVIVOR semantics (Lee et al.
    2022 §4.2; VERDICT r04 item #8): where q_exactsubstr_cut removes
    EVERY occurrence of a cross-document repeated region — losing the
    content entirely — this variant designates the smallest doc_id
    sharing each duplicated span as the survivor and cuts only the
    OTHER documents' copies, so the corpus retains exactly one
    occurrence of each repeated region.  Output schema and rewrite
    machinery are identical to q_exactsubstr_cut (runs → threshold →
    region mask → ordered reassembly, ``kept_md5`` proving the rewrite
    byte-for-byte); the only change is the survivor exclusion in the
    detection pass.

    Scale: identical posture to q_exactsubstr_cut — the survivor choice
    is one extra ``min(doc_id)`` in the already-present bounded
    (span → doc-frequency) aggregation; no new shuffle, no pair join,
    no suffix array."""
    from ..operators import dedup

    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    flags = dedup.span_flag_positions(docs, n=7, keep_first_doc=True)
    return _exactsubstr_rewrite(docs, flags)


@query(
    "q_benford_audit",
    oracle="""
    WITH d AS (
        SELECT substring(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS digit
        FROM orders WHERE o_totalprice >= 1
    ),
    obs AS (SELECT digit, CAST(count(*) AS BIGINT) AS observed FROM d GROUP BY 1),
    tot AS (SELECT CAST(sum(observed) AS BIGINT) AS n FROM obs),
    exp_ AS (SELECT * FROM (VALUES ('1',301),('2',176),('3',125),('4',97),('5',79),
                                   ('6',67),('7',58),('8',51),('9',46)) e(digit, exp_milli))
    SELECT e.digit, CAST(coalesce(o.observed, 0) AS BIGINT) AS observed,
           CAST((coalesce(o.observed, 0) * 1000) // t.n AS BIGINT) AS obs_milli,
           CAST(e.exp_milli AS BIGINT) AS benford_milli,
           abs((coalesce(o.observed, 0) * 1000) // t.n - e.exp_milli) AS dev_milli
    FROM exp_ e LEFT JOIN obs o USING (digit) CROSS JOIN tot t
    """,
)
def q_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of a value column — the classic
    fabricated-data / synthetic-leak detector in data profiling: natural
    multiplicative processes put digit d first with probability
    log10(1+1/d) (30.1% for 1 ... 4.6% for 9), while generated or
    clipped data shows flat or spiky digit mass.  Emitted per digit:
    observed count, observed milli-fraction (integer division), the
    Benford expectation in milli (literal table — no runtime log10), and
    the absolute deviation.  All-integer — full hash oracle.

    Scale: one partial-agg shuffle over first-digit strings (9 groups);
    the expectation table and the scalar total broadcast."""
    orders = load(spark, sf_dir, "orders")
    d = orders.where(F.col("o_totalprice") >= 1).select(
        F.substring(
            F.floor("o_totalprice").cast("long").cast("string"), 1, 1
        ).alias("digit")
    )
    obs = d.groupBy("digit").agg(F.count(F.lit(1)).cast("long").alias("observed"))
    tot = obs.agg(F.sum("observed").cast("long").alias("n"))
    exp_ = spark.createDataFrame(
        [("1", 301), ("2", 176), ("3", 125), ("4", 97), ("5", 79),
         ("6", 67), ("7", 58), ("8", 51), ("9", 46)],
        ["digit", "exp_milli"],
    )
    j = (
        exp_.join(obs, "digit", "left")
        .crossJoin(F.broadcast(tot))
        .withColumn("observed", F.coalesce(F.col("observed"), F.lit(0)).cast("long"))
        .withColumn("obs_milli", F.expr("(observed * 1000) div n").cast("long"))
    )
    return j.select(
        "digit",
        "observed",
        "obs_milli",
        F.col("exp_milli").cast("long").alias("benford_milli"),
        F.abs(F.col("obs_milli") - F.col("exp_milli")).alias("dev_milli"),
    )


# Trigram-similarity join parameters: pg_trgm-style candidate generation
# (shared char-trigram equi-join over DISTINCT names), min_shared floor
# bounds the pair output, cosine on exact integer trigram counts.
_TRGM_MIN_SHARED = 2
_TRGM_MIN_COS_MILLI = 400


@query(
    "q_trigram_join",
    oracle=f"""
    WITH names AS (SELECT DISTINCT p_name AS name FROM part),
    tg AS (
        SELECT name, unnest(list_distinct(
            [substring(name, i, 3) FOR i IN range(1, greatest(length(name) - 1, 1))]
        )) AS tg
        FROM names
    ),
    sz AS (SELECT name, CAST(count(*) AS BIGINT) AS n FROM tg GROUP BY 1),
    pairs AS (
        SELECT a.name AS name_a, b.name AS name_b, count(*) AS shared
        FROM tg a JOIN tg b ON a.tg = b.tg AND a.name < b.name
        GROUP BY 1, 2 HAVING count(*) >= {_TRGM_MIN_SHARED}
    ),
    scored AS (
        SELECT p.name_a, p.name_b, p.shared,
               CAST(floor(CAST(p.shared AS DOUBLE)
                    / sqrt(CAST(sa.n AS DOUBLE) * CAST(sb.n AS DOUBLE))
                    * 1000.0 + 0.5) AS BIGINT) AS cos_milli
        FROM pairs p JOIN sz sa ON p.name_a = sa.name
                     JOIN sz sb ON p.name_b = sb.name
    )
    SELECT name_a, name_b, CAST(shared AS BIGINT) AS shared, cos_milli
    FROM scored WHERE cos_milli >= {_TRGM_MIN_COS_MILLI}
    """,
)
def q_trigram_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram-cosine string-similarity join (the pg_trgm pattern —
    entity resolution over free-text names, the complement of
    q_fuzzy_join's edit-distance-1 neighborhood): DISTINCT names first
    (dedup before any pair work — at scale the distinct-name table is
    orders of magnitude smaller than the row count), char-trigram
    explode, shared-trigram equi-join with a min-shared floor, then
    cosine = shared / sqrt(|A|·|B|) on exact integer trigram counts
    (sqrt is IEEE-correctly-rounded and the floor-half-up milli
    quantization makes the scores engine-exact).

    Scale: candidates come only from shared trigrams (never all-pairs);
    hot trigrams are the skew knob — the same max_bucket cap as the
    shingle joins drops in if the name distribution needs it (64
    distinct names here do not).  Output is pair rows above the
    threshold, bounded by candidate count."""
    part = load(spark, sf_dir, "part")
    names = part.select(F.col("p_name").alias("name")).distinct()
    # Names under 3 chars emit NO trigrams (explode of the empty array
    # drops the row), matching the oracle's empty range(1, 1) — without
    # the CASE, Spark's greatest(..., 1) lower bound would emit one
    # truncated <3-char "trigram" that the oracle never produces.
    tg = names.select(
        "name",
        F.explode(
            F.array_distinct(
                F.expr(
                    "CASE WHEN length(name) >= 3 THEN"
                    " transform(sequence(1, length(name) - 2),"
                    " i -> substring(name, i, 3))"
                    " ELSE array() END"
                )
            )
        ).alias("tg"),
    )
    sz = tg.groupBy("name").agg(F.count(F.lit(1)).cast("long").alias("n"))
    a = tg.select(F.col("name").alias("name_a"), "tg")
    b = tg.select(F.col("name").alias("name_b"), "tg")
    pairs = (
        a.join(b, "tg")
        .where(F.col("name_a") < F.col("name_b"))
        .groupBy("name_a", "name_b")
        .agg(F.count(F.lit(1)).alias("shared"))
        .where(F.col("shared") >= _TRGM_MIN_SHARED)
    )
    scored = (
        pairs.join(sz.select(F.col("name").alias("name_a"), F.col("n").alias("na")), "name_a")
        .join(sz.select(F.col("name").alias("name_b"), F.col("n").alias("nb")), "name_b")
        .withColumn(
            "cos_milli",
            F.floor(
                F.col("shared").cast("double")
                / F.sqrt(F.col("na").cast("double") * F.col("nb").cast("double"))
                * F.lit(1000.0)
                + F.lit(0.5)
            ).cast("long"),
        )
    )
    return scored.where(F.col("cos_milli") >= _TRGM_MIN_COS_MILLI).select(
        "name_a", "name_b", F.col("shared").cast("long").alias("shared"), "cos_milli"
    )


@query(
    "q_skyline",
    oracle="""
    WITH v AS (
        SELECT CAST(floor(p_retailprice * 100.0 + 0.5) AS BIGINT) AS cents,
               CAST(p_size AS BIGINT) AS size, p_partkey
        FROM part
    ),
    pairs AS (
        SELECT cents, size, CAST(count(*) AS BIGINT) AS n_parts,
               CAST(min(p_partkey) AS BIGINT) AS min_partkey
        FROM v GROUP BY 1, 2
    )
    SELECT cents, size, n_parts, min_partkey FROM pairs p
    WHERE NOT EXISTS (
        SELECT 1 FROM pairs q
        WHERE q.cents <= p.cents AND q.size <= p.size
          AND (q.cents < p.cents OR q.size < p.size)
    )
    """,
)
def q_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline / Pareto frontier (Börzsönyi et al., ICDE 2001):
    the parts no other part beats on BOTH price and size — the
    multi-criteria shortlist query.  The oracle is the textbook
    quadratic NOT EXISTS dominance check; the declared plan is the
    LINEAR sort-sweep re-expressed distributively: dedupe to distinct
    (cents, size) value pairs, order by (cents asc, size asc), and a
    pair survives iff the running minimum of size over strictly
    preceding pairs is greater than its own (a preceding pair has
    cents <=, so any with size <= dominates).  The running min uses the
    same bucketed two-level pattern as operators/ranking.py — per-bucket
    window min (bucket = bit_length(cents), monotone in the sort key)
    plus a <=64-row cross-bucket prefix-min table — so no partitionless
    window ever touches the pair table.

    Scale: frontier work is over DISTINCT value pairs (value-space
    bounded, corpus-independent); the only corpus-sized step is the
    initial pair aggregation.  Integer cents/size end-to-end."""
    part = load(spark, sf_dir, "part")
    pairs = (
        part.select(
            F.floor(F.col("p_retailprice") * 100.0 + 0.5)
            .cast("long")
            .alias("cents"),
            F.col("p_size").cast("long").alias("size"),
            "p_partkey",
        )
        .groupBy("cents", "size")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            F.min("p_partkey").cast("long").alias("min_partkey"),
        )
        .withColumn("bucket", F.length(F.bin("cents")))
    )
    w_in = (
        Window.partitionBy("bucket")
        .orderBy("cents", "size")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    bucket_mins = pairs.groupBy("bucket").agg(F.min("size").alias("bmin"))
    w_off = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = bucket_mins.select(
        "bucket", F.min("bmin").over(w_off).alias("off_min")
    )
    big = F.lit(1 << 62)
    scored = (
        pairs.withColumn("min_in", F.min("size").over(w_in))
        .join(F.broadcast(offsets), "bucket")
        .withColumn(
            "prec_min",
            F.least(
                F.coalesce(F.col("min_in"), big),
                F.coalesce(F.col("off_min"), big),
            ),
        )
    )
    return scored.where(F.col("prec_min") > F.col("size")).select(
        "cents", "size", "n_parts", "min_partkey"
    )


@query(
    "q_knn_classify",
    oracle="""
    WITH qz AS (
        SELECT vec_id AS query_id,
               list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5)
                             AS BIGINT)) AS qv
        FROM embeddings WHERE vec_id < 20
    ),
    cz AS (
        SELECT vec_id AS neighbor_id,
               list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5)
                             AS BIGINT)) AS cv
        FROM embeddings
    ),
    scored AS (
        SELECT query_id, neighbor_id,
               CASE WHEN sqrt(list_dot_product(qv, qv))
                         * sqrt(list_dot_product(cv, cv)) > 0
                    THEN list_dot_product(qv, cv)
                         / (sqrt(list_dot_product(qv, qv))
                            * sqrt(list_dot_product(cv, cv)))
                    ELSE 0.0 END AS qcos
        FROM cz CROSS JOIN qz
        WHERE query_id <> neighbor_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY qcos DESC, neighbor_id) AS rn
        FROM scored
    ),
    votes AS (
        SELECT r.query_id, CAST(e.label AS BIGINT) AS pred_label,
               CAST(count(*) AS BIGINT) AS votes
        FROM ranked r JOIN embeddings e ON e.vec_id = r.neighbor_id
        WHERE r.rn <= 5 GROUP BY 1, 2
    ),
    pick AS (
        SELECT query_id, pred_label, votes,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY votes DESC, pred_label) AS prn
        FROM votes
    )
    SELECT p.query_id, p.pred_label, p.votes,
           CAST(q.label AS BIGINT) AS true_label,
           p.pred_label = CAST(q.label AS BIGINT) AS correct
    FROM pick p JOIN embeddings q ON q.vec_id = p.query_id
    WHERE p.prn = 1
    """,
)
def q_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN majority-vote classification over the integer-exact cosine
    path (the weak-labeling / label-propagation primitive: assign every
    unlabeled item the majority label of its 5 nearest neighbors):
    reuses cosine_topk_quantized — the quantized ranking is
    bit-reproducible, so the neighbor sets, the vote counts, the
    deterministic tie-break (higher votes, then smaller label), and the
    resulting accuracy flags are ALL under the full hash gate, making
    the classifier itself regression-testable (the same property
    q_sim_recall exploits for recall).

    Scale: queries broadcast against the corpus (cosine_topk_quantized's
    per-partition partial top-k — candidates never shuffle); the vote
    aggregation is per-query-cardinality; labels join by vec_id."""
    from ..operators import similarity

    vecs = rebalance_for_cpu(load(spark, sf_dir, "embeddings"))
    queries = vecs.where(F.col("vec_id") < 20)
    top5 = similarity.cosine_topk_quantized(vecs, queries, k=5)
    labels = vecs.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").cast("long").alias("pred_label"),
    )
    votes = (
        top5.join(labels, "neighbor_id")
        .groupBy("query_id", "pred_label")
        .agg(F.count(F.lit(1)).cast("long").alias("votes"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("votes").desc(), F.col("pred_label").asc()
    )
    pick = votes.withColumn("prn", F.row_number().over(w)).where(
        F.col("prn") == 1
    )
    truth = vecs.select(
        F.col("vec_id").alias("query_id"),
        F.col("label").cast("long").alias("true_label"),
    )
    return pick.join(truth, "query_id").select(
        "query_id",
        "pred_label",
        "votes",
        "true_label",
        (F.col("pred_label") == F.col("true_label")).alias("correct"),
    )


@query(
    "q_weighted_median",
    oracle="""
    WITH d AS (
        SELECT lang, CAST(n_chars AS BIGINT) AS val,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS w
        FROM documents
    ),
    c AS (
        SELECT lang, val, w,
               CAST(sum(w) OVER (PARTITION BY lang ORDER BY val, w
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
               CAST(sum(w) OVER (PARTITION BY lang) AS BIGINT) AS tot
        FROM d
    )
    SELECT lang, CAST(min(val) AS BIGINT) AS wmedian,
           CAST(max(tot) AS BIGINT) AS total_weight
    FROM c WHERE 2 * cum >= tot GROUP BY lang
    """,
)
def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median per group (lower weighted median: the smallest
    value whose cumulative weight reaches half the total) — the
    token-mass-weighted "typical document length" per language, and the
    weighted-quantile primitive mixture reweighting needs that plain
    percentiles (q_percentile_*) don't provide.  Pure integer cumulative
    weights ⇒ engine-exact.  Determinism under ties: rows with equal
    (val, w) are interchangeable — the cumulative-weight MULTISET at
    each value boundary is order-independent, so the threshold value is
    well-defined without a unique tiebreak.

    Scale: one per-group window (lang partitions the shuffle) + one
    aggregate — same single-partitioning shape as the other grouped
    window ops."""
    docs = load(spark, sf_dir, "documents")
    d = docs.select(
        "lang",
        F.col("n_chars").cast("long").alias("val"),
        F.size(F.split("text", " ")).cast("long").alias("w"),
    )
    w_cum = (
        Window.partitionBy("lang")
        .orderBy("val", "w")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_tot = Window.partitionBy("lang")
    c = d.select(
        "lang",
        "val",
        F.sum("w").over(w_cum).cast("long").alias("cum"),
        F.sum("w").over(w_tot).cast("long").alias("tot"),
    )
    return (
        c.where(2 * F.col("cum") >= F.col("tot"))
        .groupBy("lang")
        .agg(
            F.min("val").cast("long").alias("wmedian"),
            F.max("tot").cast("long").alias("total_weight"),
        )
    )


# Poisson-bootstrap parameters: 32 resamples; Poisson(1) approximated by
# a fixed integer CDF over weights {0,1,2,3} (94/94/47/21 out of 256 —
# the true pmf rounded to byte resolution, tail mass absorbed into w=3).
# Each row computes TWO md5 digests (key:0, key:1) and resample b draws
# its byte from hex pair b of digest b//16 — 16× less hashing than one
# md5 per (row, resample), still fully deterministic and replayable.
_BOOT_B = 32


@query(
    "q_bootstrap_ci",
    oracle=f"""
    WITH b AS (SELECT unnest(range(0, {_BOOT_B})) AS b),
    w AS (
        SELECT b.b,
               CAST(floor(o.o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents,
               CAST(concat('0x', substring(md5(concat(
                   CAST(o.o_orderkey AS VARCHAR), ':',
                   CAST(b.b // 16 AS VARCHAR))),
                   (b.b % 16) * 2 + 1, 2)) AS BIGINT) AS u
        FROM orders o CROSS JOIN b
    ),
    wt AS (
        SELECT b, cents,
               CASE WHEN u < 94 THEN 0 WHEN u < 188 THEN 1
                    WHEN u < 235 THEN 2 ELSE 3 END AS wgt
        FROM w
    )
    SELECT b, CAST(sum(wgt) AS BIGINT) AS n_eff,
           CAST(sum(wgt * cents) AS BIGINT) AS sum_cents,
           CAST((sum(wgt * cents) * 1000) // sum(wgt) AS BIGINT) AS mean_milli
    FROM wt GROUP BY b
    """,
)
def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap (Chamandy et al., Google 2012 — THE distributed
    uncertainty method): instead of drawing n-out-of-n resamples (which
    needs global coordination), every row independently receives a
    Poisson(1) replication count per resample — here a DETERMINISTIC
    hash-derived draw from a fixed integer CDF over {0,1,2,3}, so the 32
    resample means of order value are bit-reproducible across engines,
    runs, and partitionings, and the bootstrap itself sits under the
    full hash gate (a rand()-based bootstrap can never be oracled).
    The spread of ``mean_milli`` across resamples IS the standard-error
    estimate; callers take the percentile band they need.

    Scale: NO row fan-out — all 32 per-row weights are inline codegen
    expressions feeding 64 conditional sums in ONE hash aggregation
    (the q_simhash device), so the shuffle carries 64 partials per
    partition instead of 32× the input rows (measured: the naive
    cross-join fan-out ran 7.5× at ×10 rows; this form is one scan).
    The 32-row resample table materializes from the single aggregate
    row via inline stack — driver-scale.  No global sampling
    coordination, no driver state."""
    orders = load(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long")
    base = orders.select(
        cents.alias("cents"),
        *[
            F.md5(
                F.concat(
                    F.col("o_orderkey").cast("string"), F.lit(f":{g}")
                )
            ).alias(f"m{g}")
            for g in range(_BOOT_B // 16)
        ],
    )

    def wgt(b: int):
        u = F.conv(
            F.substring(F.col(f"m{b // 16}"), (b % 16) * 2 + 1, 2), 16, 10
        ).cast("long")
        return (
            F.when(u < 94, 0)
            .when(u < 188, 1)
            .when(u < 235, 2)
            .otherwise(3)
        )

    aggs = []
    for b in range(_BOOT_B):
        aggs.append(F.sum(wgt(b)).cast("long").alias(f"n{b}"))
        aggs.append(
            F.sum(wgt(b) * F.col("cents")).cast("long").alias(f"s{b}")
        )
    one = base.agg(*aggs)
    stack = ", ".join(
        f"CAST({b} AS BIGINT), n{b}, s{b}" for b in range(_BOOT_B)
    )
    return one.select(
        F.expr(f"stack({_BOOT_B}, {stack}) AS (b, n_eff, sum_cents)")
    ).select(
        "b",
        "n_eff",
        "sum_cents",
        F.expr("(sum_cents * 1000) div n_eff").cast("long").alias(
            "mean_milli"
        ),
    )


@query(
    "q_heaps_law",
    oracle=_SHINGLE_CTE
    + """
    , fs AS (SELECT shingle, min(doc_id) AS fd FROM sh GROUP BY 1),
    ks AS (SELECT power(2, j.j)::BIGINT AS k
           FROM (SELECT unnest(range(0, 10)) AS j) j)
    SELECT ks.k, CAST(count(fs.shingle) AS BIGINT) AS vocab
    FROM ks LEFT JOIN fs ON fs.fd < ks.k
    GROUP BY ks.k
    """,
)
def q_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary-growth curve: distinct shingle vocabulary
    after the first k documents, at k = 1, 2, 4, ..., 512 — the
    sublinear growth whose flattening q_ngram_novelty reads per document
    and this reads corpus-wide (log-log slope ≈ the Heaps exponent; a
    saturating curve says another crawl dump adds little).  Built from
    the same first-occurrence MIN as the novelty curve.

    Scale: the only corpus-sized work is the shingle first-occurrence
    aggregate (map-side combinable, shingle-keyed); the curve itself
    comes from a ≤64-row per-bit-length count table crossed with the
    10-row k grid — ``fd < 2^j`` becomes the equi-computable
    ``bit_length(fd) <= j`` (fd = 0 bucketed as 0), so no
    corpus-against-grid nested loop exists."""
    from ..operators import dedup

    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    sh = dedup.shingles(docs, n=3)
    fs = sh.groupBy("shingle").agg(F.min("doc_id").alias("fd"))
    blen = F.when(F.col("fd") == 0, 0).otherwise(
        F.length(F.bin("fd"))
    )
    g = fs.groupBy(blen.alias("blen")).agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    ks = spark.range(10).select(
        F.col("id").cast("int").alias("j"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(id AS INT))")
        .cast("long")
        .alias("k"),
    )
    return (
        ks.crossJoin(F.broadcast(g))
        .where(F.col("blen") <= F.col("j"))
        .groupBy("k")
        .agg(F.sum("cnt").cast("long").alias("vocab"))
        .unionByName(
            # k values whose prefix holds zero documents' shingles would
            # vanish from the filtered cross — emit them with vocab 0
            ks.join(
                ks.crossJoin(F.broadcast(g))
                .where(F.col("blen") <= F.col("j"))
                .select("k")
                .distinct(),
                "k",
                "left_anti",
            ).select("k", F.lit(0).cast("long").alias("vocab"))
        )
    )


_KNN_EVAL_N_QUERIES = 100

# Shared oracle scaffold: kNN predictions (query_id, pred_label,
# true_label) for the 100 held-out queries — the CTE chain q_knn_eval,
# q_eval_mcc and q_eval_kappa all replay; defined once so the three
# scorecard oracles can never drift apart.
_KNN_PRED_CTE = f"""
    WITH qz AS (
        SELECT vec_id AS query_id,
               list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5)
                             AS BIGINT)) AS qv
        FROM embeddings WHERE vec_id < {_KNN_EVAL_N_QUERIES}
    ),
    cz AS (
        SELECT vec_id AS neighbor_id,
               list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5)
                             AS BIGINT)) AS cv
        FROM embeddings
    ),
    scored AS (
        SELECT query_id, neighbor_id,
               CASE WHEN sqrt(list_dot_product(qv, qv))
                         * sqrt(list_dot_product(cv, cv)) > 0
                    THEN list_dot_product(qv, cv)
                         / (sqrt(list_dot_product(qv, qv))
                            * sqrt(list_dot_product(cv, cv)))
                    ELSE 0.0 END AS qcos
        FROM cz CROSS JOIN qz
        WHERE query_id <> neighbor_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY qcos DESC, neighbor_id) AS rn
        FROM scored
    ),
    votes AS (
        SELECT r.query_id, CAST(e.label AS BIGINT) AS pred_label,
               count(*) AS votes
        FROM ranked r JOIN embeddings e ON e.vec_id = r.neighbor_id
        WHERE r.rn <= 5 GROUP BY 1, 2
    ),
    pick AS (
        SELECT query_id, pred_label FROM (
            SELECT query_id, pred_label,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY votes DESC, pred_label) AS prn
            FROM votes
        ) WHERE prn = 1
    ),
    pred AS (
        SELECT p.query_id, p.pred_label, CAST(q.label AS BIGINT) AS true_label
        FROM pick p JOIN embeddings q ON q.vec_id = p.query_id
    )
"""


def _knn_predictions(vecs: DataFrame) -> DataFrame:
    """kNN predictions (query_id, pred_label, true_label) for the 100
    held-out queries — the Spark twin of ``_KNN_PRED_CTE``, shared by
    q_knn_eval / q_eval_mcc / q_eval_kappa so the scorecard family
    scores ONE prediction set.  Integer-exact cosine top-5 with
    majority vote (ties -> smaller label, same as the oracle's
    row_number tiebreak)."""
    from ..operators import similarity

    queries = vecs.where(F.col("vec_id") < _KNN_EVAL_N_QUERIES)
    top5 = similarity.cosine_topk_quantized(vecs, queries, k=5)
    labels = vecs.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").cast("long").alias("pred_label"),
    )
    votes = (
        top5.join(labels, "neighbor_id")
        .groupBy("query_id", "pred_label")
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("votes").desc(), F.col("pred_label").asc()
    )
    return (
        votes.withColumn("prn", F.row_number().over(w))
        .where(F.col("prn") == 1)
        .join(
            vecs.select(
                F.col("vec_id").alias("query_id"),
                F.col("label").cast("long").alias("true_label"),
            ),
            "query_id",
        )
        .select("query_id", "pred_label", "true_label")
    )


@query(
    "q_knn_eval",
    oracle=_KNN_PRED_CTE
    + f"""
    , classes AS (SELECT DISTINCT CAST(label AS BIGINT) AS class
                FROM embeddings WHERE vec_id < {_KNN_EVAL_N_QUERIES}),
    m AS (
        SELECT c.class,
               CAST(sum(CASE WHEN p.true_label = c.class
                             AND p.pred_label = c.class
                        THEN 1 ELSE 0 END) AS BIGINT) AS tp,
               CAST(sum(CASE WHEN p.true_label = c.class
                             AND p.pred_label <> c.class
                        THEN 1 ELSE 0 END) AS BIGINT) AS fn,
               CAST(sum(CASE WHEN p.true_label <> c.class
                             AND p.pred_label = c.class
                        THEN 1 ELSE 0 END) AS BIGINT) AS fp
        FROM classes c CROSS JOIN pred p
        GROUP BY 1
    )
    SELECT class, tp, fn, fp,
           CAST(tp + fn AS BIGINT) AS support,
           CASE WHEN tp + fp > 0
                THEN CAST((tp * 1000) // (tp + fp) AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS prec_milli,
           CASE WHEN tp + fn > 0
                THEN CAST((tp * 1000) // (tp + fn) AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS rec_milli,
           CASE WHEN 2 * tp + fp + fn > 0
                THEN CAST((2 * tp * 1000) // (2 * tp + fp + fn) AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS f1_milli
    FROM m
    """,
)
def q_knn_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation table (the scorecard a weak-labeling
    pipeline gates on): kNN-classify 100 held-out queries with the
    integer-exact cosine path, then per class emit tp / fn / fp /
    support and milli-quantized precision, recall, and F1 — every
    number an exact integer (counts and integer divisions), so the
    whole evaluation is bit-reproducible and under the full hash gate:
    a quality regression in the classifier fails the hash, not a
    dashboard eyeball.

    Scale: predictions reuse cosine_topk_quantized's broadcast-query
    posture; the confusion aggregation is classes × predictions with
    class cardinality ~10 — per-class sums in one pass.  The per-class
    metric rows are class-cardinality, trivially collected."""
    vecs = rebalance_for_cpu(load(spark, sf_dir, "embeddings"))
    pred = _knn_predictions(vecs)
    classes = (
        vecs.where(F.col("vec_id") < _KNN_EVAL_N_QUERIES)
        .select(F.col("label").cast("long").alias("class"))
        .distinct()
    )
    # classes is the tiny side (distinct labels); broadcast it so the
    # confusion-matrix grid is a BroadcastNestedLoopJoin with a
    # deterministic plan at any eval-set size (VERDICT r05 item #5).
    m = (
        pred.crossJoin(F.broadcast(classes))
        .groupBy("class")
        .agg(
            F.sum(
                (
                    (F.col("true_label") == F.col("class"))
                    & (F.col("pred_label") == F.col("class"))
                ).cast("long")
            ).alias("tp"),
            F.sum(
                (
                    (F.col("true_label") == F.col("class"))
                    & (F.col("pred_label") != F.col("class"))
                ).cast("long")
            ).alias("fn"),
            F.sum(
                (
                    (F.col("true_label") != F.col("class"))
                    & (F.col("pred_label") == F.col("class"))
                ).cast("long")
            ).alias("fp"),
        )
    )
    return m.select(
        "class",
        "tp",
        "fn",
        "fp",
        (F.col("tp") + F.col("fn")).cast("long").alias("support"),
        F.when(
            F.col("tp") + F.col("fp") > 0,
            F.expr("(tp * 1000) div (tp + fp)"),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("prec_milli"),
        F.when(
            F.col("tp") + F.col("fn") > 0,
            F.expr("(tp * 1000) div (tp + fn)"),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("rec_milli"),
        F.when(
            2 * F.col("tp") + F.col("fp") + F.col("fn") > 0,
            F.expr("(2 * tp * 1000) div (2 * tp + fp + fn)"),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("f1_milli"),
    )


@query(
    "q_eval_mcc",
    oracle=_KNN_PRED_CTE
    + f"""
    , classes AS (SELECT DISTINCT CAST(label AS BIGINT) AS class
                  FROM embeddings WHERE vec_id < {_KNN_EVAL_N_QUERIES}),
    m AS (
        SELECT c.class,
               CAST(sum(CASE WHEN p.true_label = c.class
                             AND p.pred_label = c.class
                        THEN 1 ELSE 0 END) AS BIGINT) AS tp,
               CAST(sum(CASE WHEN p.true_label = c.class
                             AND p.pred_label <> c.class
                        THEN 1 ELSE 0 END) AS BIGINT) AS fn,
               CAST(sum(CASE WHEN p.true_label <> c.class
                             AND p.pred_label = c.class
                        THEN 1 ELSE 0 END) AS BIGINT) AS fp,
               CAST(sum(CASE WHEN p.true_label <> c.class
                             AND p.pred_label <> c.class
                        THEN 1 ELSE 0 END) AS BIGINT) AS tn
        FROM classes c CROSS JOIN pred p
        GROUP BY 1
    )
    SELECT class, tp, fp, fn, tn,
           CAST(tp * tn - fp * fn AS BIGINT) AS mcc_num,
           CAST((tp + fp) * (tp + fn) * (tn + fp) * (tn + fn) AS BIGINT)
               AS mcc_den_sq,
           CAST(CASE WHEN tp + fn > 0 AND tn + fp > 0
                THEN ((tp * 1000) // (tp + fn)
                      + (tn * 1000) // (tn + fp)) // 2
                ELSE 0 END AS BIGINT) AS bal_acc_milli
    FROM m
    """,
)
def q_eval_mcc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matthews correlation + balanced accuracy per class (VERDICT r06
    item #7): the chance-robust scorecard row q_knn_eval's
    precision/recall table lacks — on an imbalanced eval set a
    majority-class predictor scores high accuracy but MCC ~0, so the
    gate a curation pipeline should alarm on is THIS table.  Emits the
    full binary confusion (tp/fp/fn/tn) per class plus MCC as exact
    integer numerator (tp*tn - fp*fn) and squared denominator
    ((tp+fp)(tp+fn)(tn+fp)(tn+fn)) — the float sqrt is left to the
    reader so every emitted value is an exact integer under the hash
    gate — and balanced accuracy ((sensitivity+specificity)/2) in
    integer milli (all divisions on non-negative ints, where truncating
    and flooring division coincide — Spark's ``div`` and DuckDB's
    ``//`` in fact BOTH truncate toward zero (DuckDB 1.0: -7//2 = -3),
    but keeping operands non-negative also guards engines/versions
    that floor).

    Plan: same posture as q_knn_eval — predictions reuse the shared
    scaffold, the confusion grid is a broadcast nested-loop over the
    ~10-class dimension, per-class sums in one pass."""
    vecs = rebalance_for_cpu(load(spark, sf_dir, "embeddings"))
    pred = _knn_predictions(vecs)
    classes = (
        vecs.where(F.col("vec_id") < _KNN_EVAL_N_QUERIES)
        .select(F.col("label").cast("long").alias("class"))
        .distinct()
    )
    m = (
        pred.crossJoin(F.broadcast(classes))
        .groupBy("class")
        .agg(
            F.sum(
                (
                    (F.col("true_label") == F.col("class"))
                    & (F.col("pred_label") == F.col("class"))
                ).cast("long")
            ).alias("tp"),
            F.sum(
                (
                    (F.col("true_label") == F.col("class"))
                    & (F.col("pred_label") != F.col("class"))
                ).cast("long")
            ).alias("fn"),
            F.sum(
                (
                    (F.col("true_label") != F.col("class"))
                    & (F.col("pred_label") == F.col("class"))
                ).cast("long")
            ).alias("fp"),
            F.sum(
                (
                    (F.col("true_label") != F.col("class"))
                    & (F.col("pred_label") != F.col("class"))
                ).cast("long")
            ).alias("tn"),
        )
    )
    return m.select(
        "class",
        "tp",
        "fp",
        "fn",
        "tn",
        (F.col("tp") * F.col("tn") - F.col("fp") * F.col("fn"))
        .cast("long")
        .alias("mcc_num"),
        (
            (F.col("tp") + F.col("fp"))
            * (F.col("tp") + F.col("fn"))
            * (F.col("tn") + F.col("fp"))
            * (F.col("tn") + F.col("fn"))
        )
        .cast("long")
        .alias("mcc_den_sq"),
        F.when(
            (F.col("tp") + F.col("fn") > 0) & (F.col("tn") + F.col("fp") > 0),
            F.expr(
                "((tp * 1000) div (tp + fn) + (tn * 1000) div (tn + fp))"
                " div 2"
            ),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("bal_acc_milli"),
    )


@query(
    "q_eval_kappa",
    oracle=_KNN_PRED_CTE
    + """
    , pc AS (SELECT pred_label AS lbl, CAST(count(*) AS BIGINT) AS p_k
             FROM pred GROUP BY 1),
    tc AS (SELECT true_label AS lbl, CAST(count(*) AS BIGINT) AS t_k
           FROM pred GROUP BY 1),
    pt AS (SELECT CAST(coalesce(sum(p_k * t_k), 0) AS BIGINT) AS sum_pt
           FROM pc JOIN tc USING (lbl)),
    ov AS (SELECT CAST(sum(CASE WHEN pred_label = true_label
                               THEN 1 ELSE 0 END) AS BIGINT) AS correct,
                  CAST(count(*) AS BIGINT) AS total
           FROM pred)
    SELECT correct, total, sum_pt,
           CAST(correct * total - sum_pt AS BIGINT) AS kappa_num,
           CAST(total * total - sum_pt AS BIGINT) AS kappa_den,
           CAST(CASE WHEN total * total - sum_pt = 0 THEN 1000
                WHEN correct * total - sum_pt >= 0
                THEN ((correct * total - sum_pt) * 1000)
                     // (total * total - sum_pt)
                ELSE -(((sum_pt - correct * total) * 1000)
                       // (total * total - sum_pt)) END AS BIGINT)
               AS kappa_milli
    FROM ov CROSS JOIN pt
    """,
)
def q_eval_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa for the kNN scorecard — overall chance-corrected
    agreement as EXACT integers: with s = total, c = correct and
    sum_pt = Σ_k (#predicted k)·(#true k), kappa = (c·s - sum_pt) /
    (s² - sum_pt), so numerator and denominator are integer-exact and
    the milli quantization handles a negative numerator (worse than
    chance) by dividing magnitudes and re-applying the sign.  (Note:
    Spark's ``div`` and DuckDB's ``//`` in fact BOTH truncate toward
    zero — DuckDB 1.0: -7//2 = -3 — so the sign split is defense in
    depth against engines/versions that floor, not a requirement of
    these two; the magnitudes-only form is provably engine-agnostic.)

    Plan: two label-keyed counts over the 100-row prediction set joined
    on the ~10-label key, one global sum, one broadcast 1x1 cross —
    nothing here scales with corpus size; at any eval-set size the
    shuffles are label-cardinality."""
    vecs = rebalance_for_cpu(load(spark, sf_dir, "embeddings"))
    pred = _knn_predictions(vecs)
    pc = pred.groupBy(F.col("pred_label").alias("lbl")).agg(
        F.count(F.lit(1)).cast("long").alias("p_k")
    )
    tc = pred.groupBy(F.col("true_label").alias("lbl")).agg(
        F.count(F.lit(1)).cast("long").alias("t_k")
    )
    pt = (
        pc.join(tc, "lbl")
        .agg(
            F.coalesce(F.sum(F.col("p_k") * F.col("t_k")), F.lit(0))
            .cast("long")
            .alias("sum_pt")
        )
    )
    ov = pred.agg(
        F.sum((F.col("pred_label") == F.col("true_label")).cast("long"))
        .cast("long")
        .alias("correct"),
        F.count(F.lit(1)).cast("long").alias("total"),
    )
    return ov.crossJoin(F.broadcast(pt)).select(
        "correct",
        "total",
        "sum_pt",
        (F.col("correct") * F.col("total") - F.col("sum_pt"))
        .cast("long")
        .alias("kappa_num"),
        (F.col("total") * F.col("total") - F.col("sum_pt"))
        .cast("long")
        .alias("kappa_den"),
        # den = 0 only on the degenerate all-one-label corpus, where
        # observed == chance == 1 exactly — emit kappa = 1.000 instead
        # of a divide-by-zero (guard mirrored literally in the oracle).
        F.expr(
            "CAST(CASE WHEN total * total - sum_pt = 0 THEN 1000"
            " WHEN correct * total - sum_pt >= 0"
            " THEN ((correct * total - sum_pt) * 1000)"
            "      div (total * total - sum_pt)"
            " ELSE -(((sum_pt - correct * total) * 1000)"
            "        div (total * total - sum_pt)) END AS BIGINT)"
        ).alias("kappa_milli"),
    )


@query(
    "q_pr_curve",
    oracle="""
    WITH pz AS (
        SELECT list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5)
                             AS BIGINT)) AS pv
        FROM embeddings WHERE vec_id = 0
    ),
    sc AS (
        SELECT vec_id, CASE WHEN label = 0 THEN 1 ELSE 0 END AS pos,
               CAST(list_dot_product(list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5)
                             AS BIGINT)), pv) AS BIGINT) AS score
        FROM embeddings, pz WHERE vec_id > 0
    ),
    th AS (
        SELECT unnest([20, 40, 60, 80]) AS pct,
               unnest([
                   percentile_disc(0.2) WITHIN GROUP (ORDER BY score),
                   percentile_disc(0.4) WITHIN GROUP (ORDER BY score),
                   percentile_disc(0.6) WITHIN GROUP (ORDER BY score),
                   percentile_disc(0.8) WITHIN GROUP (ORDER BY score)
               ]) AS threshold
        FROM sc
    )
    SELECT pct, threshold,
           CAST(sum(CASE WHEN score >= threshold THEN pos ELSE 0 END)
                AS BIGINT) AS tp,
           CAST(sum(CASE WHEN score >= threshold THEN 1 - pos ELSE 0 END)
                AS BIGINT) AS fp,
           CAST(sum(CASE WHEN score < threshold THEN pos ELSE 0 END)
                AS BIGINT) AS fn,
           CAST(sum(CASE WHEN score >= threshold THEN pos ELSE 0 END)
                * 1000000
                // (sum(CASE WHEN score >= threshold THEN pos ELSE 0 END)
                    + sum(CASE WHEN score >= threshold THEN 1 - pos
                          ELSE 0 END)) AS BIGINT) AS precision_ppm,
           CAST(sum(CASE WHEN score >= threshold THEN pos ELSE 0 END)
                * 1000000
                // (sum(CASE WHEN score >= threshold THEN pos ELSE 0 END)
                    + sum(CASE WHEN score < threshold THEN pos ELSE 0 END))
                AS BIGINT) AS recall_ppm
    FROM sc CROSS JOIN th GROUP BY pct, threshold
    """,
)
def q_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall curve at quintile score thresholds for a binary
    relevance task (label 0 vs rest), scored by the integer-exact
    quantized dot product against the vec_id-0 probe.  Thresholds are
    exact order statistics via percentile_disc (the q_percentile_disc
    cross-engine-exact device — no partitionless row_number sort), the
    confusion counts are integer sums per threshold, and precision /
    recall are emitted as integer-division ppm so the whole row is
    hash-exact.  Positives exist at every threshold by construction
    (thresholds are data values), so neither ppm denominator is 0.

    Scale: one scored pass (probe broadcast as a 1-row vector), one
    sort-based threshold aggregate, then a broadcast of the 4-row
    threshold grid — the q_eval_mcc confusion-grid posture; no
    per-pair join, no global window."""
    vecs = load(spark, sf_dir, "embeddings")
    qz = F.transform(
        "embedding",
        lambda x: F.floor(x.cast("double") * 1000000.0 + 0.5).cast("long"),
    )
    probe = vecs.where(F.col("vec_id") == 0).select(qz.alias("pv"))
    scored = (
        vecs.where(F.col("vec_id") > 0)
        .select(
            "vec_id",
            (F.col("label") == 0).cast("int").alias("pos"),
            qz.alias("qv"),
        )
        .crossJoin(F.broadcast(probe))
        .select(
            "vec_id",
            "pos",
            F.aggregate(
                F.zip_with("qv", "pv", lambda a, b: a * b),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("score"),
        )
    )
    ths = scored.agg(
        *[
            F.expr(
                f"percentile_disc({p}) WITHIN GROUP (ORDER BY score)"
            ).alias(f"t{i}")
            for i, p in enumerate(("0.2", "0.4", "0.6", "0.8"))
        ]
    )
    th = ths.select(
        F.expr("stack(4, 20, t0, 40, t1, 60, t2, 80, t3) AS (pct, t)")
    ).select("pct", F.col("t").cast("long").alias("threshold"))
    hit = F.col("score") >= F.col("threshold")
    return (
        scored.crossJoin(F.broadcast(th))
        .groupBy("pct", "threshold")
        .agg(
            F.sum(F.when(hit, F.col("pos")).otherwise(0))
            .cast("long")
            .alias("tp"),
            F.sum(F.when(hit, 1 - F.col("pos")).otherwise(0))
            .cast("long")
            .alias("fp"),
            F.sum(F.when(~hit, F.col("pos")).otherwise(0))
            .cast("long")
            .alias("fn"),
        )
        .select(
            "pct",
            "threshold",
            "tp",
            "fp",
            "fn",
            F.expr("tp * 1000000 div (tp + fp)").alias("precision_ppm"),
            F.expr("tp * 1000000 div (tp + fn)").alias("recall_ppm"),
        )
    )


def _auc_signs(dim: int = 64) -> list[int]:
    """Deterministic ±1 weight per dimension (md5-parity — the
    _deterministic_planes device): a fixed content-free linear scorer
    both engines can inline as literals."""
    import hashlib as _hashlib

    return [
        1
        if int(_hashlib.md5(f"auc:{d}".encode()).hexdigest()[:2], 16) % 2 == 0
        else -1
        for d in range(dim)
    ]


def _eval_auc_oracle(pos_label: int = 3, dim: int = 64) -> str:
    sgn_rows = ", ".join(f"({d}, {s})" for d, s in enumerate(_auc_signs(dim)))
    return f"""
    WITH z AS (
        SELECT vec_id, CAST(label AS BIGINT) AS label,
               list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5)
                             AS BIGINT)) AS qv
        FROM embeddings
    ),
    sgn(i, s) AS (SELECT * FROM (VALUES {sgn_rows})),
    comp AS (
        SELECT vec_id, label, t.i, qv[t.i + 1] AS x
        FROM z CROSS JOIN range(0, {dim}) t(i)
    ),
    sc AS (
        SELECT vec_id, CAST(max(label) = {pos_label} AS INT) AS pos,
               CAST(sum(s * x) AS BIGINT) AS score
        FROM comp JOIN sgn USING (i)
        GROUP BY vec_id
    ),
    r AS (
        SELECT vec_id, pos, score,
               row_number() OVER (ORDER BY score, vec_id) AS rk
        FROM sc
    ),
    g AS (
        SELECT score, min(rk) AS mn, max(rk) AS mx,
               CAST(sum(pos) AS BIGINT) AS p
        FROM r GROUP BY score
    ),
    tot AS (SELECT CAST(sum(pos) AS BIGINT) AS n1,
                   CAST(count(*) - sum(pos) AS BIGINT) AS n0 FROM r),
    s2 AS (SELECT CAST(sum(p * (mn + mx)) AS BIGINT) AS sp FROM g)
    SELECT n1 AS n_pos, n0 AS n_neg,
           CAST(sp - n1 * (n1 + 1) AS BIGINT) AS u2,
           CAST(((sp - n1 * (n1 + 1)) * 1000000) // (2 * n1 * n0)
                AS BIGINT) AS auc_micro
    FROM tot, s2
    """


@query("q_eval_auc", oracle=_eval_auc_oracle())
def q_eval_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-integer ROC AUC (Mann-Whitney U with midrank tie handling
    — the standard estimator, as pure integers): score = fixed ±1
    integer linear scorer over the quantized embedding, positive class
    = label 3; AUC = U/(n1·n0) where 2U = Σ_pos 2·midrank − n1(n1+1)
    and 2·midrank of a tie group = min_rank + max_rank.  Emitted as the
    exact integer pair (u2, n1·n0 via n_pos/n_neg) plus a
    floor-quantized auc_micro — the model-eval number a quality-
    classifier pipeline regression-tests bit-for-bit.

    Scale: the global row rank uses the bucketed prefix-sum
    (``ranking.global_row_number`` — NO partitionless window over
    data); midranks come from a score-keyed aggregate of those ranks.
    Int64 headroom: Σ p·(mn+mx) ≤ 2·n1·n ⇒ exact to ~10⁹ eval rows;
    the auc_micro quantization (u2·10⁶) to ~10⁶ rows per class — an
    EVAL-set op by design (run it on the held-out sample, not the
    corpus)."""
    import pyspark.sql.functions as _F

    from ..operators.ranking import (
        global_row_number,
        quantile_boundaries,
        range_bucket,
    )
    from ..operators.similarity import _int_dot, quantize_vec

    signs = _auc_signs(64)
    vecs = rebalance_for_cpu(load(spark, sf_dir, "embeddings"))
    sc = vecs.select(
        "vec_id",
        (F.col("label") == 3).cast("int").alias("pos"),
        _int_dot(
            quantize_vec(F.col("embedding")),
            _F.array(*[F.lit(s).cast("long") for s in signs]),
        ).alias("score"),
    )
    bounds = quantile_boundaries(sc, "score", 32)
    ranked = global_row_number(
        sc,
        [F.col("score").asc(), F.col("vec_id").asc()],
        bucket=range_bucket(F.col("score"), bounds),
        out_col="rk",
    )
    g = ranked.groupBy("score").agg(
        F.min("rk").alias("mn"),
        F.max("rk").alias("mx"),
        F.sum("pos").cast("long").alias("p"),
    )
    tot = ranked.agg(
        F.sum("pos").cast("long").alias("n1"),
        (F.count(F.lit(1)) - F.sum("pos")).cast("long").alias("n0"),
    )
    s2 = g.agg(
        F.sum(F.col("p") * (F.col("mn") + F.col("mx")))
        .cast("long")
        .alias("sp")
    )
    return (
        tot.crossJoin(F.broadcast(s2))
        .select(
            F.col("n1").alias("n_pos"),
            F.col("n0").alias("n_neg"),
            (F.col("sp") - F.col("n1") * (F.col("n1") + 1))
            .cast("long")
            .alias("u2"),
            F.expr("((sp - n1 * (n1 + 1)) * 1000000) div (2 * n1 * n0)")
            .cast("long")
            .alias("auc_micro"),
        )
    )


@query(
    "q_calibration",
    oracle=f"""
    WITH z AS (
        SELECT vec_id, CAST(label AS BIGINT) AS label,
               list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5)
                             AS BIGINT)) AS qv
        FROM embeddings
    ),
    sgn(i, s) AS (SELECT * FROM (VALUES {", ".join(f"({d}, {s})" for d, s in enumerate(_auc_signs(64)))})),
    comp AS (
        SELECT vec_id, label, t.i, qv[t.i + 1] AS x
        FROM z CROSS JOIN range(0, 64) t(i)
    ),
    sc AS (
        SELECT vec_id, CAST(max(label) = 3 AS INT) AS pos,
               CAST(sum(s * x) AS BIGINT) AS score
        FROM comp JOIN sgn USING (i)
        GROUP BY vec_id
    ),
    r AS (
        SELECT pos, score,
               row_number() OVER (ORDER BY score, vec_id) AS rk,
               count(*) OVER () AS n
        FROM sc
    )
    SELECT CAST(((rk - 1) * 10) // n AS BIGINT) AS decile,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(pos) AS BIGINT) AS n_pos,
           CAST((sum(pos) * 1000) // count(*) AS BIGINT) AS pos_rate_milli,
           min(score) AS min_score, max(score) AS max_score
    FROM r GROUP BY 1
    """,
)
def q_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability / calibration table (the companion to q_eval_auc —
    does a higher score actually mean a higher positive rate?): rows
    rank globally by the fixed integer scorer, split into 10
    equal-count deciles, and each decile reports row count, positive
    count, milli positive rate, and its score range — all integers, so
    the calibration curve regression-tests bit-for-bit.  A
    well-calibrated-in-ordering scorer shows monotone pos_rate_milli
    across deciles; the oracle-pinned table catches drift.

    Scale: same posture as q_eval_auc — one scorer pass, bucketed
    prefix-sum ranks (no partitionless window over data), a broadcast
    one-row total, and a 10-group aggregate."""
    import pyspark.sql.functions as _F

    from ..operators.ranking import (
        global_row_number,
        quantile_boundaries,
        range_bucket,
    )
    from ..operators.similarity import _int_dot, quantize_vec

    signs = _auc_signs(64)
    vecs = rebalance_for_cpu(load(spark, sf_dir, "embeddings"))
    sc = vecs.select(
        "vec_id",
        (F.col("label") == 3).cast("int").alias("pos"),
        _int_dot(
            quantize_vec(F.col("embedding")),
            _F.array(*[F.lit(s).cast("long") for s in signs]),
        ).alias("score"),
    )
    bounds = quantile_boundaries(sc, "score", 32)
    ranked = global_row_number(
        sc,
        [F.col("score").asc(), F.col("vec_id").asc()],
        bucket=range_bucket(F.col("score"), bounds),
        out_col="rk",
    )
    tot = sc.agg(F.count(F.lit(1)).cast("long").alias("n"))
    d = ranked.crossJoin(F.broadcast(tot)).select(
        F.expr("((rk - 1) * 10) div n").cast("long").alias("decile"),
        "pos",
        "score",
    )
    return d.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("pos").cast("long").alias("n_pos"),
        F.expr("(sum(pos) * 1000) div count(1)")
        .cast("long")
        .alias("pos_rate_milli"),
        F.min("score").alias("min_score"),
        F.max("score").alias("max_score"),
    )


@query(
    "q_token_entropy",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents
    ),
    tf AS (SELECT doc_id, tok, count(*) AS n FROM toks GROUP BY 1, 2),
    d AS (
        SELECT doc_id,
               CAST(sum(n) AS BIGINT) AS n_tokens,
               CAST(count(*) AS BIGINT) AS n_distinct,
               CAST(sum(n * (CASE WHEN n = 0 THEN 0
                             ELSE length(bin(n)) END)) AS BIGINT) AS s
        FROM tf GROUP BY 1
    )
    SELECT doc_id, n_tokens, n_distinct,
           CAST((CASE WHEN n_tokens = 0 THEN 0
                 ELSE length(bin(n_tokens)) END) * n_tokens - s
                AS BIGINT) AS bit_entropy,
           CAST((n_distinct * 1000) // n_tokens AS BIGINT) AS ttr_milli
    FROM d
    """,
)
def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token-distribution entropy + type-token ratio — the
    lexical-diversity quality signal (low entropy = templated/repetitive
    text, the Gopher repetition family's information-theoretic cousin).
    Shannon entropy needs log2(N/n_w); the integer bit-length log
    (`int_bit_length`, the q_unigram_surprisal device) makes the whole
    signal exact-integer:
        bit_entropy = sum_w n_w*(bitlen(N) - bitlen(n_w))
                    = bitlen(N)*N - sum_w n_w*bitlen(n_w)
    — one pass over per-doc term frequencies, fully hash-gated.

    Plan: explode -> (doc_id, tok) count -> per-doc sum: two
    aggregations, the second keyed on a prefix of the first's key, so
    AQE coalesces them onto one partitioning.  No corpus-global state —
    at 100 TB this is embarrassingly parallel per document."""
    from ..operators.sketch import int_bit_length

    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("n"))
    d = tf.groupBy("doc_id").agg(
        F.sum("n").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.sum(F.col("n") * int_bit_length(F.col("n")))
        .cast("long")
        .alias("s"),
    )
    return d.select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        (int_bit_length(F.col("n_tokens")) * F.col("n_tokens") - F.col("s"))
        .cast("long")
        .alias("bit_entropy"),
        F.expr("(n_distinct * 1000) div n_tokens")
        .cast("long")
        .alias("ttr_milli"),
    )


_PRIO_K = 32
_PRIO_U_MOD = 1_000_000


@query(
    "q_priority_sample",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, CAST(n_chars AS BIGINT) AS w,
               CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)),
                                           1, 15)) AS BIGINT)
                   % {_PRIO_U_MOD} + 1 AS u_micro
        FROM documents
    ),
    p AS (
        SELECT doc_id, w, u_micro,
               (w * {_PRIO_U_MOD}) // u_micro AS priority_q,
               row_number() OVER (
                   ORDER BY (w * {_PRIO_U_MOD}) // u_micro DESC, doc_id)
                   AS rk
        FROM w
    ),
    tau AS (
        SELECT CAST(coalesce(
                   (SELECT priority_q FROM p WHERE rk = {_PRIO_K} + 1),
                   0) AS BIGINT) AS tau_q
    )
    SELECT doc_id, w, u_micro, CAST(priority_q AS BIGINT) AS priority_q,
           CAST(greatest(w, tau_q) AS BIGINT) AS est_w
    FROM p, tau WHERE rk <= {_PRIO_K}
    """,
)
def q_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority sampling (Duffield, Lund & Thorup, JACM 2007) — the
    production weighted-sample-without-replacement estimator: each doc
    gets priority w/u with u ~ U(0,1]; the k highest-priority docs are
    the sample and tau = the (k+1)-th priority makes
    ``est = max(w, tau)`` an unbiased per-item weight estimator (sums
    of est over the sample estimate any subset's total weight).  Here u
    is the md5-replayed deterministic uniform (u_micro in [1, 1e6]) and
    priority = ``w * 1e6 div u_micro`` — an integer already in PLAIN
    weight units (u_micro = 1e6 gives priority = w), so the threshold
    and the estimator compare against w directly; the entire sample,
    threshold and estimator column are bit-reproducible and hash-gated,
    unlike any rand()-based weighted sampler.

    Scale: one scan computes priorities; the global top-(k+1) is the
    TakeOrderedAndProject heap pattern (per-partition heaps, driver
    merge of k+1 rows — no global sort, no partitionless window); tau
    is a 1-row broadcast.  Int64: w * 1e6 needs w < 9.2e12 — any real
    document qualifies."""
    docs = load(spark, sf_dir, "documents")
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
    ).cast("long")
    w = docs.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("w"),
        (h % _PRIO_U_MOD + 1).alias("u_micro"),
    )
    p = w.select(
        "doc_id",
        "w",
        "u_micro",
        F.expr(f"(w * {_PRIO_U_MOD}) div u_micro").alias("priority_q"),
    )
    top = p.orderBy(
        F.col("priority_q").desc(), F.col("doc_id").asc()
    ).limit(_PRIO_K + 1)
    # the (k+1)-th priority is the threshold; the k survivors keep it
    # as a 1-row broadcast (coalesce 0 when the corpus has <= k docs)
    from pyspark.sql import Window as W

    ranked = top.withColumn(
        "rk",
        F.row_number().over(
            W.orderBy(F.col("priority_q").desc(), F.col("doc_id").asc())
        ),
    )
    tau = ranked.where(F.col("rk") == _PRIO_K + 1).agg(
        F.coalesce(F.max("priority_q"), F.lit(0)).alias("tau_q")
    )
    return (
        ranked.where(F.col("rk") <= _PRIO_K)
        .crossJoin(F.broadcast(tau))
        .select(
            "doc_id",
            "w",
            "u_micro",
            F.col("priority_q").cast("long").alias("priority_q"),
            # priority_q = w*1e6 div u_micro = w/u is already in PLAIN
            # weight units (u_micro=1e6 -> priority_q = w), so the
            # Duffield estimator compares w and tau directly
            F.greatest(F.col("w"), F.col("tau_q"))
            .cast("long")
            .alias("est_w"),
        )
    )


@query(
    "q_audio_resample",
    oracle="""
    WITH d AS (SELECT doc_id, 64 + doc_id % 97 AS n FROM documents),
    s AS (SELECT doc_id, n, (n + 1) // 2 AS n_out, t.q AS q,
                 ((doc_id*7919 + (t.q * 2)*104729 + 1234) % 65536) - 32768
                     AS v
          FROM d CROSS JOIN range(0, 81) t(q) WHERE t.q < (n + 1) // 2)
    SELECT doc_id,
           CAST(max(n_out) AS BIGINT) AS n_out,
           CAST(4000 AS BIGINT) AS out_rate,
           CAST(44 + 2 * max(n_out) AS BIGINT) AS out_bytes,
           CAST(sum(abs(v)) AS BIGINT) AS sum_abs
    FROM s GROUP BY doc_id
    """,
)
def q_audio_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio RESAMPLE (decimation ×2) — the audio twin of
    q_image_resize's decode → transform → re-encode shape: chunk-walk
    the WAV, keep every 2nd sample, re-encode at 4000 Hz with the real
    encoder (roundtrip-asserted per record), and emit integer stats of
    the result including the re-encoded FILE SIZE — 44 header bytes +
    2·n, so a RIFF length-bookkeeping bug on the write path breaks the
    hash exactly like the BMP row-padding pin.

    100 TB shape: per-byte-linear mapInPandas, no shuffle, no driver
    involvement — the transcode pass an audio-corpus pipeline runs to
    normalize sample rates before feature extraction."""
    from ..operators import multimodal

    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    payloads = multimodal.synthetic_audio(docs)
    return multimodal.resample_audio_decimate(payloads, factor=2)


@query(
    "q_csv_roundtrip",
    oracle="""
    SELECT event_type, count(*) AS n,
           CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS sum_cents,
           min(event_id) AS min_id, max(event_id) AS max_id
    FROM events
    GROUP BY event_type
    """,
)
def q_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink + source roundtrip — the interchange format every
    upstream/downstream system still speaks: the events table (cents
    pre-quantized to BIGINT so the text round-trip is integer-exact —
    floats through decimal text are the classic CSV lossiness trap this
    query deliberately sidesteps the way a production pipeline should)
    written once as headered CSV, read back with an EXPLICIT schema (no
    inference — inference samples the data and can flip types between
    runs), and aggregated; the read-back hash-matches the source-table
    oracle, proving the text serialization is lossless for the
    integer-normalized columns.

    100 TB shape: CSV is a row format with no pushdown/pruning — the
    scan layer difference IS the lesson (the oracle-equal parquet scan
    reads 3 columns; this reads every byte).  Splittable uncompressed,
    one task per split; schema pinned so the plan is stable."""
    import os as _os

    from ..tables import events as load_events

    ev = load_events(spark, sf_dir).select(
        "event_id",
        "user_id",
        "event_type",
        F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    # Overwrite unconditionally, matching every other write-then-read
    # query in the repo (VERDICT r06 what's-wrong #2: the old _SUCCESS
    # sentinel keyed only on the sf-dir basename would silently reuse a
    # stale directory written by an older schema).  The write IS part of
    # the roundtrip under test; 8 small files, negligible cost.
    tag = _os.path.basename(_os.path.normpath(sf_dir)) or "sf"
    out = f"/tmp/spark_graft_csv_{tag}"
    ev.repartition(8).write.mode("overwrite").option("header", True).csv(out)
    back = spark.read.schema(
        "event_id long, user_id long, event_type string, cents long"
    ).option("header", True).csv(out)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").cast("long").alias("sum_cents"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
    )


# Gopher rule thresholds (Rae et al. 2021 §A.1.1, public): word-count
# bounds, mean-word-length band (milli-scaled), alphabetic-word fraction,
# and the distinct-stopword floor.  Shared with the oracle via
# interpolation so both engines gate on the same literals.
_GOPHER_WC_MIN, _GOPHER_WC_MAX = 50, 100_000
_GOPHER_MWL_MIN_MILLI, _GOPHER_MWL_MAX_MILLI = 3_000, 10_000
_GOPHER_ALPHA_PCT = 80
_GOPHER_STOPS = ("the", "a", "of", "and", "to")
_GOPHER_MIN_STOPS = 2


@query(
    "q_gopher_rules",
    oracle=f"""
    WITH feats AS (
        SELECT source,
               len(l) AS n_tok,
               CASE WHEN len(l) > 0
                    THEN (list_sum(list_transform(l, x -> length(x)))
                          * 1000) // len(l)
                    ELSE 0 END AS mwl_milli,
               len(list_filter(l, x -> regexp_matches(x, '[a-z]')))
                   AS n_alpha,
               len(list_intersect(list_distinct(l),
                   ['{_GOPHER_STOPS[0]}', '{_GOPHER_STOPS[1]}',
                    '{_GOPHER_STOPS[2]}', '{_GOPHER_STOPS[3]}',
                    '{_GOPHER_STOPS[4]}'])) AS n_stop
        FROM (SELECT source, string_split(text, ' ') AS l FROM documents)
    ),
    flags AS (
        SELECT source,
               CASE WHEN n_tok BETWEEN {_GOPHER_WC_MIN} AND {_GOPHER_WC_MAX}
                    THEN 1 ELSE 0 END AS ok_wc,
               CASE WHEN mwl_milli BETWEEN {_GOPHER_MWL_MIN_MILLI}
                                       AND {_GOPHER_MWL_MAX_MILLI}
                    THEN 1 ELSE 0 END AS ok_mwl,
               CASE WHEN n_alpha * 100 >= n_tok * {_GOPHER_ALPHA_PCT}
                    THEN 1 ELSE 0 END AS ok_alpha,
               CASE WHEN n_stop >= {_GOPHER_MIN_STOPS} THEN 1 ELSE 0 END
                   AS ok_stop,
               mwl_milli
        FROM feats
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(ok_wc * ok_mwl * ok_alpha * ok_stop) AS BIGINT)
               AS n_pass,
           CAST(sum(1 - ok_wc) AS BIGINT) AS n_fail_wordcount,
           CAST(sum(1 - ok_mwl) AS BIGINT) AS n_fail_meanlen,
           CAST(sum(1 - ok_alpha) AS BIGINT) AS n_fail_alpha,
           CAST(sum(1 - ok_stop) AS BIGINT) AS n_fail_stopword,
           CAST(min(mwl_milli) AS BIGINT) AS min_mwl_milli,
           CAST(max(mwl_milli) AS BIGINT) AS max_mwl_milli
    FROM flags GROUP BY source
    """,
)
def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style document quality ruleset (Rae et al. 2021 §A.1.1,
    public): per-document word-count bounds, mean-word-length band,
    alphabetic-word fraction, and distinct-stopword floor, rolled up to
    a per-source pass/fail scorecard — the FIRST filter stage a 100 TB
    crawl-curation pipeline runs, complementing q_repetition_signals
    (the repetition half of the same paper's rules) and q_quality_score
    (the composite ranking).  All thresholds are integer-scaled (milli
    mean word length, percent alpha fraction) so the scorecard is
    bit-exact under the full hash gate.

    Scale shape: every per-document feature is an ARRAY expression on
    the row (size / aggregate / filter / array_intersect — JVM
    whole-stage codegen, no explode, no shuffle, no UDF); the only
    shuffle is the final per-source partial aggregate.  This is the
    cheapest possible plan: one scan, one 5-group agg.  (Reference has
    no text analytics; EXT row, SURVEY.md §2.12.)"""
    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    toks = F.split(F.col("text"), " ")
    n_tok = F.size(toks).cast("long")
    mwl_milli = F.when(
        n_tok > 0, F.expr(
            "aggregate(split(text, ' '), 0L, (acc, x) -> acc + length(x))"
            " * 1000 div size(split(text, ' '))"
        )
    ).otherwise(F.lit(0)).cast("long")
    n_alpha = F.size(
        F.filter(toks, lambda x: x.rlike("[a-z]"))
    ).cast("long")
    n_stop = F.size(
        F.array_intersect(
            F.array_distinct(toks),
            F.array(*[F.lit(s) for s in _GOPHER_STOPS]),
        )
    ).cast("long")
    feats = docs.select(
        "source",
        n_tok.alias("n_tok"),
        mwl_milli.alias("mwl_milli"),
        n_alpha.alias("n_alpha"),
        n_stop.alias("n_stop"),
    )
    ok_wc = (
        F.col("n_tok").between(_GOPHER_WC_MIN, _GOPHER_WC_MAX)
    ).cast("long")
    ok_mwl = (
        F.col("mwl_milli").between(
            _GOPHER_MWL_MIN_MILLI, _GOPHER_MWL_MAX_MILLI
        )
    ).cast("long")
    ok_alpha = (
        F.col("n_alpha") * 100 >= F.col("n_tok") * _GOPHER_ALPHA_PCT
    ).cast("long")
    ok_stop = (F.col("n_stop") >= _GOPHER_MIN_STOPS).cast("long")
    flags = feats.select(
        "source",
        ok_wc.alias("ok_wc"),
        ok_mwl.alias("ok_mwl"),
        ok_alpha.alias("ok_alpha"),
        ok_stop.alias("ok_stop"),
        "mwl_milli",
    )
    return flags.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            F.col("ok_wc") * F.col("ok_mwl") * F.col("ok_alpha")
            * F.col("ok_stop")
        ).cast("long").alias("n_pass"),
        F.sum(1 - F.col("ok_wc")).cast("long").alias("n_fail_wordcount"),
        F.sum(1 - F.col("ok_mwl")).cast("long").alias("n_fail_meanlen"),
        F.sum(1 - F.col("ok_alpha")).cast("long").alias("n_fail_alpha"),
        F.sum(1 - F.col("ok_stop")).cast("long").alias("n_fail_stopword"),
        F.min("mwl_milli").alias("min_mwl_milli"),
        F.max("mwl_milli").alias("max_mwl_milli"),
    )


_VOCAB_TOP_K = 20


@query(
    "q_vocab_coverage",
    oracle=f"""
    WITH toks AS (
        SELECT source, unnest(string_split(text, ' ')) AS tok
        FROM documents
    ),
    cnt AS (SELECT tok, count(*) AS c FROM toks GROUP BY 1),
    vocab AS (
        SELECT tok FROM cnt ORDER BY c DESC, tok LIMIT {_VOCAB_TOP_K}
    ),
    j AS (
        SELECT t.source, t.tok,
               CASE WHEN v.tok IS NULL THEN 0 ELSE 1 END AS in_vocab
        FROM toks t LEFT JOIN vocab v ON v.tok = t.tok
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_occ,
           CAST(sum(in_vocab) AS BIGINT) AS n_covered,
           CAST(sum(1 - in_vocab) AS BIGINT) AS n_oov,
           CAST(count(DISTINCT CASE WHEN in_vocab = 0 THEN tok END)
                AS BIGINT) AS distinct_oov,
           CAST((sum(in_vocab) * 1000) // count(*) AS BIGINT)
               AS coverage_milli
    FROM j GROUP BY source
    """,
)
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary coverage audit: build the top-K vocabulary
    by global frequency (deterministic count-desc/token-asc tiebreak),
    then per source report occurrence coverage and out-of-vocabulary
    mass — the go/no-go check run before committing a tokenizer to a
    100 TB corpus (an OOV-heavy source inflates fertility and UNK
    rates; complements q_bpe_fertility, which measures the same risk
    AFTER tokenization).  All outputs are integer counts and an
    integer-milli ratio: full hash oracle.

    Scale shape: the token stream shuffles once on token for the global
    counts; the top-K selection is TakeOrderedAndProject over the
    DISTINCT-token aggregate (partial top-K per partition, never a
    global sort of the stream); the vocabulary (K rows) broadcasts back
    onto the stream, so the coverage join is shuffle-free; the
    per-source rollup is the second and last shuffle, on ~sources
    keys.  Hot tokens skew the count shuffle but partial aggregation
    absorbs them map-side.  (EXT row, SURVEY.md §2.12.)"""
    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    toks = docs.select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("tok").asc())
        .limit(_VOCAB_TOP_K)
        .select("tok", F.lit(1).alias("in_vocab_tag"))
    )
    j = toks.join(F.broadcast(vocab), "tok", "left").select(
        "source",
        "tok",
        F.coalesce(F.col("in_vocab_tag"), F.lit(0)).alias("in_vocab"),
    )
    return j.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_occ"),
        F.sum("in_vocab").cast("long").alias("n_covered"),
        F.sum(1 - F.col("in_vocab")).cast("long").alias("n_oov"),
        F.countDistinct(
            F.when(F.col("in_vocab") == 0, F.col("tok"))
        ).cast("long").alias("distinct_oov"),
        F.expr("(sum(in_vocab) * 1000) div count(1)")
        .cast("long")
        .alias("coverage_milli"),
    )


@query(
    "q_eval_prf_macro",
    oracle=_KNN_PRED_CTE
    + f"""
    , classes AS (SELECT DISTINCT CAST(label AS BIGINT) AS class
                FROM embeddings WHERE vec_id < {_KNN_EVAL_N_QUERIES}),
    m AS (
        SELECT c.class,
               CAST(sum(CASE WHEN p.true_label = c.class
                             AND p.pred_label = c.class
                        THEN 1 ELSE 0 END) AS BIGINT) AS tp,
               CAST(sum(CASE WHEN p.true_label = c.class
                             AND p.pred_label <> c.class
                        THEN 1 ELSE 0 END) AS BIGINT) AS fn,
               CAST(sum(CASE WHEN p.true_label <> c.class
                             AND p.pred_label = c.class
                        THEN 1 ELSE 0 END) AS BIGINT) AS fp
        FROM classes c CROSS JOIN pred p
        GROUP BY 1
    ),
    per_class AS (
        SELECT class, tp, fn, fp, tp + fn AS support,
               CASE WHEN tp + fp > 0 THEN (tp * 1000) // (tp + fp)
                    ELSE 0 END AS prec_milli,
               CASE WHEN tp + fn > 0 THEN (tp * 1000) // (tp + fn)
                    ELSE 0 END AS rec_milli,
               CASE WHEN 2 * tp + fp + fn > 0
                    THEN (2 * tp * 1000) // (2 * tp + fp + fn)
                    ELSE 0 END AS f1_milli
        FROM m
    )
    SELECT CAST(count(*) AS BIGINT) AS n_classes,
           CAST(sum(support) AS BIGINT) AS n_eval,
           CAST((sum(tp) * 1000) // sum(support) AS BIGINT)
               AS micro_acc_milli,
           CAST(sum(prec_milli) // count(*) AS BIGINT)
               AS macro_prec_milli,
           CAST(sum(rec_milli) // count(*) AS BIGINT) AS macro_rec_milli,
           CAST(sum(f1_milli) // count(*) AS BIGINT) AS macro_f1_milli,
           CAST(sum(support * f1_milli) // sum(support) AS BIGINT)
               AS weighted_f1_milli
    FROM per_class
    """,
)
def q_eval_prf_macro(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Macro / micro / weighted classifier scorecard rollup: collapse
    q_knn_eval's per-class precision-recall-F1 table to the ONE row a
    pipeline gates on — micro accuracy, macro-averaged P/R/F1 (each
    class weighted equally, the imbalance-robust aggregate), and
    support-weighted F1.  Completes the eval family (per-class PRF,
    MCC, kappa, AUC, calibration) with the summary layer; every number
    is an integer division of integer sums (milli per-class values
    averaged with `div`), so the whole scorecard is under the full
    hash gate.

    Scale shape: inherits q_knn_eval's broadcast-classes confusion
    grid; the rollup adds one class-cardinality aggregate (~10 rows) —
    free.  (EXT row, SURVEY.md §2.12.)"""
    vecs = rebalance_for_cpu(load(spark, sf_dir, "embeddings"))
    pred = _knn_predictions(vecs)
    classes = (
        vecs.where(F.col("vec_id") < _KNN_EVAL_N_QUERIES)
        .select(F.col("label").cast("long").alias("class"))
        .distinct()
    )
    m = (
        pred.crossJoin(F.broadcast(classes))
        .groupBy("class")
        .agg(
            F.sum(
                (
                    (F.col("true_label") == F.col("class"))
                    & (F.col("pred_label") == F.col("class"))
                ).cast("long")
            ).alias("tp"),
            F.sum(
                (
                    (F.col("true_label") == F.col("class"))
                    & (F.col("pred_label") != F.col("class"))
                ).cast("long")
            ).alias("fn"),
            F.sum(
                (
                    (F.col("true_label") != F.col("class"))
                    & (F.col("pred_label") == F.col("class"))
                ).cast("long")
            ).alias("fp"),
        )
    )
    per_class = m.select(
        "class",
        "tp",
        "fn",
        "fp",
        (F.col("tp") + F.col("fn")).alias("support"),
        F.when(
            F.col("tp") + F.col("fp") > 0,
            F.expr("(tp * 1000) div (tp + fp)"),
        ).otherwise(F.lit(0)).alias("prec_milli"),
        F.when(
            F.col("tp") + F.col("fn") > 0,
            F.expr("(tp * 1000) div (tp + fn)"),
        ).otherwise(F.lit(0)).alias("rec_milli"),
        F.when(
            2 * F.col("tp") + F.col("fp") + F.col("fn") > 0,
            F.expr("(2 * tp * 1000) div (2 * tp + fp + fn)"),
        ).otherwise(F.lit(0)).alias("f1_milli"),
    )
    return per_class.agg(
        F.count(F.lit(1)).cast("long").alias("n_classes"),
        F.sum("support").cast("long").alias("n_eval"),
        F.expr("(sum(tp) * 1000) div sum(support)")
        .cast("long")
        .alias("micro_acc_milli"),
        F.expr("sum(prec_milli) div count(1)")
        .cast("long")
        .alias("macro_prec_milli"),
        F.expr("sum(rec_milli) div count(1)")
        .cast("long")
        .alias("macro_rec_milli"),
        F.expr("sum(f1_milli) div count(1)")
        .cast("long")
        .alias("macro_f1_milli"),
        F.expr("sum(support * f1_milli) div sum(support)")
        .cast("long")
        .alias("weighted_f1_milli"),
    )


@query(
    "q_spearman_sources",
    oracle="""
    WITH toks AS (
        SELECT source, unnest(string_split(text, ' ')) AS tok
        FROM documents
    ),
    m AS (
        SELECT source, count(*) AS w, count(DISTINCT tok) AS vocab
        FROM toks GROUP BY source
    ),
    r AS (
        SELECT source,
               row_number() OVER (ORDER BY w, source) AS rw,
               row_number() OVER (ORDER BY vocab, source) AS rv
        FROM m
    )
    SELECT CAST(count(*) AS BIGINT) AS n_sources,
           CAST(sum((rw - rv) * (rw - rv)) AS BIGINT) AS sum_d2,
           CAST(1000 - 6000 * sum((rw - rv) * (rw - rv))
                // (count(*) * (count(*)*count(*) - 1)) AS BIGINT)
               AS rho_milli
    FROM r
    """,
)
def q_spearman_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between two per-source corpus metrics —
    token volume vs vocabulary size — answering "do bigger sources just
    repeat themselves?" (the monotone-association twin of q_corr's
    Pearson, robust to the metrics' wildly different scales).  Ranks
    are made deterministic under ties by the (metric, source) composite
    order in BOTH engines, so rho_milli = 1000 − 6000·Σd² div n(n²−1)
    is exact integer arithmetic under the full hash gate.

    Scale shape: the fact-scale work is one (source, tok) distinct-ish
    aggregate (map-side combined); ranking runs on the SOURCE-cardinality
    table (the same domain-table-window posture as q_mann_whitney), and
    the result is one row."""
    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    toks = docs.select(
        "source", F.explode(F.split("text", " ")).alias("tok")
    )
    m = toks.groupBy("source").agg(
        F.count(F.lit(1)).alias("w"),
        F.countDistinct("tok").alias("vocab"),
    )
    r = m.select(
        F.row_number().over(Window.orderBy("w", "source")).alias("rw"),
        F.row_number().over(Window.orderBy("vocab", "source")).alias("rv"),
    )
    d2 = (F.col("rw") - F.col("rv")) * (F.col("rw") - F.col("rv"))
    return r.agg(
        F.count(F.lit(1)).cast("long").alias("n_sources"),
        F.sum(d2).cast("long").alias("sum_d2"),
        F.expr(
            "1000 - 6000 * sum((rw - rv) * (rw - rv)) "
            "div (count(1) * (count(1)*count(1) - 1))"
        )
        .cast("long")
        .alias("rho_milli"),
    )


_RAKE_STOPS = ("the", "a", "of", "and", "to")
_RAKE_MIN_LEN, _RAKE_MAX_LEN = 2, 6


def _rake_oracle() -> str:
    stops = ", ".join(f"'{s}'" for s in _RAKE_STOPS)
    return f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM documents
    ),
    runs AS (
        SELECT doc_id, pos, tok, st,
               sum(st) OVER (PARTITION BY doc_id ORDER BY pos) AS run_id
        FROM (SELECT doc_id, pos, tok,
                     CASE WHEN tok IN ({stops}) THEN 1 ELSE 0 END AS st
              FROM toks)
    ),
    members AS (SELECT doc_id, run_id, pos, tok FROM runs WHERE st = 0),
    cand AS (
        SELECT doc_id, run_id,
               string_agg(tok, ' ' ORDER BY pos) AS phrase,
               count(*) AS plen
        FROM members GROUP BY 1, 2
        HAVING count(*) BETWEEN {_RAKE_MIN_LEN} AND {_RAKE_MAX_LEN}
    ),
    wscore AS (
        SELECT m.tok, sum(c.plen) * 1000 // count(*) AS ws
        FROM members m JOIN cand c USING (doc_id, run_id)
        GROUP BY 1
    ),
    pscore AS (
        SELECT c.phrase, CAST(sum(w.ws) AS BIGINT) AS score_milli
        FROM cand c
        JOIN members m USING (doc_id, run_id)
        JOIN wscore w ON w.tok = m.tok
        GROUP BY c.doc_id, c.run_id, c.phrase
    ),
    ph AS (
        SELECT phrase, max(score_milli) AS score_milli,
               CAST(count(*) AS BIGINT) AS n_occ
        FROM pscore GROUP BY 1
    )
    SELECT phrase, score_milli, n_occ,
           CAST(row_number() OVER (ORDER BY score_milli DESC, phrase)
                AS BIGINT) AS r
    FROM ph QUALIFY r <= 10
    """


@query("q_rake_keyphrases", oracle=_rake_oracle())
def q_rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010, public): candidate
    phrases are maximal stopword-delimited token runs (length 2-6),
    word scores are degree/frequency over candidate members (degree =
    Σ phrase-length across a word's phrases), phrase score = Σ member
    word scores — the top-10 corpus keyphrases.  Word scores are
    quantized to milli BEFORE the phrase sum (integer floor, identical
    both engines), so the whole ranking is under the full hash gate.

    Scale shape: run segmentation is a doc-partitioned running sum
    (linear, the q_sessionize posture); the word-score table is
    vocabulary-sized and joins members by token key (map-side combined
    aggregates on both sides); the final top-10 is orderBy+limit —
    physically TakeOrderedAndProject (per-partition heaps), never a
    global sort, with the rank attached to the 10 survivors (the
    q_path_topk device)."""
    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("pos0", "tok"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    flagged = toks.withColumn(
        "st", F.col("tok").isin(*_RAKE_STOPS).cast("long")
    )
    wd = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, 0
    )
    members = (
        flagged.withColumn("run_id", F.sum("st").over(wd))
        .where(F.col("st") == 0)
        .select("doc_id", "run_id", "pos", "tok")
    )
    cand = (
        members.groupBy("doc_id", "run_id")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda s: s["tok"],
                ),
            ).alias("phrase"),
            F.count(F.lit(1)).alias("plen"),
        )
        .where(
            F.col("plen").between(_RAKE_MIN_LEN, _RAKE_MAX_LEN)
        )
    )
    wscore = (
        members.join(cand.select("doc_id", "run_id", "plen"), ["doc_id", "run_id"])
        .groupBy("tok")
        .agg(F.expr("sum(plen) * 1000 div count(1)").alias("ws"))
    )
    pscore = (
        cand.join(members, ["doc_id", "run_id"])
        .join(wscore, "tok")
        .groupBy("doc_id", "run_id", "phrase")
        .agg(F.sum("ws").cast("long").alias("score_milli"))
    )
    ph = pscore.groupBy("phrase").agg(
        F.max("score_milli").alias("score_milli"),
        F.count(F.lit(1)).cast("long").alias("n_occ"),
    )
    top = ph.orderBy(F.col("score_milli").desc(), "phrase").limit(10)
    wr = Window.orderBy(F.col("score_milli").desc(), "phrase")
    return top.select(
        "phrase",
        "score_milli",
        "n_occ",
        F.row_number().over(wr).cast("long").alias("r"),
    )


@query(
    "q_kendall_tau",
    oracle="""
    WITH toks AS (
        SELECT source, unnest(string_split(text, ' ')) AS tok
        FROM documents
    ),
    m AS (
        SELECT source, count(*) AS w, count(DISTINCT tok) AS vocab
        FROM toks GROUP BY source
    ),
    pairs AS (
        SELECT CASE WHEN (a.w - b.w) * (a.vocab - b.vocab) > 0
                    THEN 1 ELSE 0 END AS conc,
               CASE WHEN (a.w - b.w) * (a.vocab - b.vocab) < 0
                    THEN 1 ELSE 0 END AS disc,
               CASE WHEN a.w = b.w THEN 1 ELSE 0 END AS tie_w,
               CASE WHEN a.vocab = b.vocab THEN 1 ELSE 0 END AS tie_v
        FROM m a JOIN m b ON a.source < b.source
    ),
    agg AS (
        SELECT count(*) AS n0, sum(conc) AS c, sum(disc) AS d,
               sum(tie_w) AS tw, sum(tie_v) AS tv
        FROM pairs
    )
    SELECT CAST(n0 AS BIGINT) AS n_pairs, CAST(c AS BIGINT) AS concordant,
           CAST(d AS BIGINT) AS discordant,
           CAST(tw AS BIGINT) AS ties_w, CAST(tv AS BIGINT) AS ties_vocab,
           CAST(CASE WHEN (n0 - tw) * (n0 - tv) = 0 THEN 0
                ELSE (CASE WHEN c >= d THEN 1 ELSE -1 END
                      * ((c - d) * (c - d) * 1000000)
                      // ((n0 - tw) * (n0 - tv))) END AS BIGINT)
               AS tau2_sign_ppm
    FROM agg
    """,
)
def q_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's tau-b between the q_spearman_sources metric pair
    (token volume vs vocabulary size per source) — the concordant/
    discordant-pair view of monotone association, tie-corrected.  The
    sqrt in tau_b = (C−D)/√((n0−Tw)(n0−Tv)) is kept OUT of the hash
    gate by reporting sign(C−D)·(C−D)²·10⁶ div ((n0−Tw)(n0−Tv)) — the
    signed square, exact in integers (the q_corr device), plus the raw
    C/D/tie counts so the caller owns the one sqrt.

    Scale shape: the fact-scale work is the same (source, tok) agg as
    Spearman; the pair join runs on the SOURCE-cardinality table (20
    rows → 190 pairs, broadcast) — domain-sized, never corpus-sized."""
    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    toks = docs.select(
        "source", F.explode(F.split("text", " ")).alias("tok")
    )
    m = toks.groupBy("source").agg(
        F.count(F.lit(1)).alias("w"),
        F.countDistinct("tok").alias("vocab"),
    )
    a = m.select(
        F.col("source").alias("sa"), F.col("w").alias("wa"),
        F.col("vocab").alias("va"),
    )
    b = m.select(
        F.col("source").alias("sb"), F.col("w").alias("wb"),
        F.col("vocab").alias("vb"),
    )
    pairs = a.join(F.broadcast(b), F.col("sa") < F.col("sb")).select(
        ((F.col("wa") - F.col("wb")) * (F.col("va") - F.col("vb")) > 0)
        .cast("long")
        .alias("conc"),
        ((F.col("wa") - F.col("wb")) * (F.col("va") - F.col("vb")) < 0)
        .cast("long")
        .alias("disc"),
        (F.col("wa") == F.col("wb")).cast("long").alias("tie_w"),
        (F.col("va") == F.col("vb")).cast("long").alias("tie_v"),
    )
    agg = pairs.agg(
        F.count(F.lit(1)).alias("n0"),
        F.sum("conc").alias("c"),
        F.sum("disc").alias("d"),
        F.sum("tie_w").alias("tw"),
        F.sum("tie_v").alias("tv"),
    )
    return agg.select(
        F.col("n0").cast("long").alias("n_pairs"),
        F.col("c").cast("long").alias("concordant"),
        F.col("d").cast("long").alias("discordant"),
        F.col("tw").cast("long").alias("ties_w"),
        F.col("tv").cast("long").alias("ties_vocab"),
        F.expr(
            "CAST(CASE WHEN (n0 - tw) * (n0 - tv) = 0 THEN 0 "
            "ELSE (CASE WHEN c >= d THEN 1 ELSE -1 END "
            "* ((c - d) * (c - d) * 1000000)) "
            "div ((n0 - tw) * (n0 - tv)) END AS BIGINT)"
        ).alias("tau2_sign_ppm"),
    )


# ---------------------------------------------------------------------------
# McNemar paired-classifier test (round-8b)
# ---------------------------------------------------------------------------


def _mcnemar_oracle() -> str:
    from ..operators.text import LANG_MARKERS

    langs = sorted(LANG_MARKERS)
    score_a, score_b = [], []
    for lang in langs:
        full = ", ".join(f"'{m}'" for m in LANG_MARKERS[lang])
        first = LANG_MARKERS[lang][0]
        score_a.append(
            f"len(list_filter(string_split(text, ' '),"
            f" x -> x IN ({full}))) AS a_{lang}"
        )
        score_b.append(
            f"len(list_filter(string_split(text, ' '),"
            f" x -> x = '{first}')) AS b_{lang}"
        )

    def chain(prefix: str) -> str:
        parts = []
        for i, lang in enumerate(langs[:-1]):
            rest = [f"{prefix}_{o}" for o in langs[i + 1 :]]
            rest_max = (
                rest[0] if len(rest) == 1 else f"greatest({', '.join(rest)})"
            )
            parts.append(f"WHEN {prefix}_{lang} >= {rest_max} THEN '{lang}'")
        return "CASE " + " ".join(parts) + f" ELSE '{langs[-1]}' END"

    return f"""
    WITH s AS (
        SELECT lang, {", ".join(score_a)}, {", ".join(score_b)}
        FROM documents
    ),
    v AS (
        SELECT CASE WHEN {chain("a")} = lang THEN 1 ELSE 0 END AS a_ok,
               CASE WHEN {chain("b")} = lang THEN 1 ELSE 0 END AS b_ok
        FROM s
    )
    SELECT CAST(sum(a_ok * b_ok) AS BIGINT) AS n_both_right,
           CAST(sum(a_ok * (1 - b_ok)) AS BIGINT) AS n_a_only,
           CAST(sum((1 - a_ok) * b_ok) AS BIGINT) AS n_b_only,
           CAST(sum((1 - a_ok) * (1 - b_ok)) AS BIGINT) AS n_both_wrong,
           CAST(CASE WHEN sum(a_ok * (1 - b_ok)) + sum((1 - a_ok) * b_ok) = 0
                THEN 0
                ELSE (sum(a_ok * (1 - b_ok)) - sum((1 - a_ok) * b_ok))
                     * (sum(a_ok * (1 - b_ok)) - sum((1 - a_ok) * b_ok))
                     * 1000
                     // (sum(a_ok * (1 - b_ok)) + sum((1 - a_ok) * b_ok))
                END AS BIGINT) AS chi2_milli
    FROM v
    """


@query("q_mcnemar", oracle=_mcnemar_oracle())
def q_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNEMAR's paired test (McNemar 1947) comparing two language-ID
    classifiers on the SAME documents against the gold ``lang`` column:
    classifier A = the full marker-set argmax (q_lang_id's rule),
    classifier B = a first-marker-only ablation.  Emits the 2x2
    agreement table (both right / A only / B only / both wrong) and the
    McNemar chi-square statistic (b-c)²/(b+c) in milli units — the
    correct significance test for "is A actually better than B" on
    paired predictions, where the independent-samples chi-square
    (q_drift_chi2) would be wrong.

    Scale: both classifiers are per-row conditional aggregations over
    the token array (no explode, no shuffle); the whole test is ONE
    global aggregate to a single row."""
    from ..operators.text import LANG_MARKERS, lang_scores, predict_lang

    langs = sorted(LANG_MARKERS)
    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    scored = lang_scores(docs).withColumn("pred_a", predict_lang())
    for lang in langs:
        first = LANG_MARKERS[lang][0]
        # NOTE: a two-parameter lambda here would make F.filter bind its
        # optional INDEX argument — render the one-arg lambda as SQL.
        scored = scored.withColumn(
            f"b_{lang}",
            F.expr(
                f"CAST(size(filter(split(text, ' '),"
                f" x -> x = '{first}')) AS BIGINT)"
            ),
        )
    pred_b = F.lit(langs[-1])
    for i in range(len(langs) - 2, -1, -1):
        rest = [F.col(f"b_{o}") for o in langs[i + 1 :]]
        rest_max = F.greatest(*rest) if len(rest) > 1 else rest[0]
        pred_b = F.when(
            F.col(f"b_{langs[i]}") >= rest_max, F.lit(langs[i])
        ).otherwise(pred_b)
    v = scored.select(
        (F.col("pred_a") == F.col("lang")).cast("int").alias("a_ok"),
        (pred_b == F.col("lang")).cast("int").alias("b_ok"),
    )
    a_only = F.sum(F.col("a_ok") * (1 - F.col("b_ok"))).cast("long")
    b_only = F.sum((1 - F.col("a_ok")) * F.col("b_ok")).cast("long")
    return v.agg(
        F.sum(F.col("a_ok") * F.col("b_ok")).cast("long").alias("n_both_right"),
        a_only.alias("n_a_only"),
        b_only.alias("n_b_only"),
        F.sum((1 - F.col("a_ok")) * (1 - F.col("b_ok")))
        .cast("long")
        .alias("n_both_wrong"),
    ).select(
        "n_both_right",
        "n_a_only",
        "n_b_only",
        "n_both_wrong",
        F.expr(
            "CASE WHEN n_a_only + n_b_only = 0 THEN 0"
            " ELSE (n_a_only - n_b_only) * (n_a_only - n_b_only) * 1000"
            "      div (n_a_only + n_b_only) END"
        )
        .cast("long")
        .alias("chi2_milli"),
    )


# ---------------------------------------------------------------------------
# Snapshot IDF / document-frequency drift (round-8b)
# ---------------------------------------------------------------------------

_IDF_DRIFT_PPM = 20_000  # share-delta threshold for the drifted flag


@query(
    "q_idf_drift",
    oracle=f"""
    WITH tok AS (
        SELECT DISTINCT doc_id, token FROM (
            SELECT doc_id, unnest(string_split(text, ' ')) AS token
            FROM documents)
    ),
    half AS (
        SELECT token, doc_id % 2 = 0 AS is_a FROM tok
    ),
    n AS (
        SELECT CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_a,
               CAST(sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_b
        FROM documents
    ),
    d AS (
        SELECT token,
               CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS df_a,
               CAST(sum(CASE WHEN NOT is_a THEN 1 ELSE 0 END)
                    AS BIGINT) AS df_b
        FROM half GROUP BY token
    )
    SELECT token, df_a, df_b,
           CAST(df_a * 1000000 // n_a AS BIGINT) AS share_a_ppm,
           CAST(df_b * 1000000 // n_b AS BIGINT) AS share_b_ppm,
           CAST(abs(df_a * 1000000 // n_a - df_b * 1000000 // n_b)
                AS BIGINT) AS drift_ppm,
           CAST(CASE WHEN abs(df_a * 1000000 // n_a
                              - df_b * 1000000 // n_b) > {_IDF_DRIFT_PPM}
                THEN 1 ELSE 0 END AS BIGINT) AS drifted
    FROM d CROSS JOIN n
    """,
)
def q_idf_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-frequency DRIFT between two corpus snapshots (even vs
    odd doc_ids standing in for crawl N and crawl N+1): per token the
    df in each half, the df share in ppm, the absolute share delta, and
    a drifted flag at a fixed ppm threshold — the vocabulary-level
    early-warning a pipeline checks before its IDF/BM25 tables go
    stale (q_drift_chi2 tests the distribution wholesale; this names
    the tokens).

    Scale: within-doc distinct is per-row, the df pass is ONE
    groupBy(token) with two conditional sums, halves' totals ride a
    1-row broadcast — vocabulary-cardinality output."""
    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    tok = docs.select(
        "doc_id",
        F.explode(F.array_distinct(F.split("text", " "))).alias("token"),
    )
    d = tok.groupBy("token").agg(
        F.sum(F.when(F.col("doc_id") % 2 == 0, 1).otherwise(0))
        .cast("long")
        .alias("df_a"),
        F.sum(F.when(F.col("doc_id") % 2 == 1, 1).otherwise(0))
        .cast("long")
        .alias("df_b"),
    )
    n = docs.agg(
        F.sum(F.when(F.col("doc_id") % 2 == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("doc_id") % 2 == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_b"),
    )
    share_a = F.expr("(df_a * 1000000) div n_a")
    share_b = F.expr("(df_b * 1000000) div n_b")
    drift = F.abs(share_a - share_b)
    return d.crossJoin(F.broadcast(n)).select(
        "token",
        "df_a",
        "df_b",
        share_a.cast("long").alias("share_a_ppm"),
        share_b.cast("long").alias("share_b_ppm"),
        drift.cast("long").alias("drift_ppm"),
        (drift > _IDF_DRIFT_PPM).cast("long").alias("drifted"),
    )


# ---------------------------------------------------------------------------
# Brier decomposition (round-8b)
# ---------------------------------------------------------------------------


def _brier_oracle() -> str:
    sgn_values = ", ".join(
        f"({d}, {s})" for d, s in enumerate(_auc_signs(64))
    )
    return f"""
    WITH z AS (
        SELECT vec_id, CAST(label AS BIGINT) AS label,
               list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5)
                             AS BIGINT)) AS qv
        FROM embeddings
    ),
    sgn(i, s) AS (SELECT * FROM (VALUES {sgn_values})),
    comp AS (
        SELECT vec_id, label, t.i, qv[t.i + 1] AS x
        FROM z CROSS JOIN range(0, 64) t(i)
    ),
    sc AS (
        SELECT vec_id, CAST(max(label) = 3 AS BIGINT) AS y,
               CAST(sum(s * x) AS BIGINT) AS score
        FROM comp JOIN sgn USING (i)
        GROUP BY vec_id
    ),
    mm AS (SELECT min(score) AS mn, max(score) AS mx,
                  CAST(count(*) AS BIGINT) AS n_total,
                  CAST(sum(y) AS BIGINT) AS sy_total
           FROM sc),
    p AS (
        SELECT y, CAST((score - mn) * 1000 // (mx - mn) AS BIGINT)
                   AS p_milli
        FROM sc CROSS JOIN mm
    ),
    b AS (
        SELECT CAST(p_milli // 100 AS BIGINT) AS bin,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(p_milli) AS BIGINT) AS sp,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(p_milli * p_milli) AS BIGINT) AS spp,
               CAST(sum(p_milli * y) AS BIGINT) AS spy
        FROM p GROUP BY 1
    )
    SELECT b.bin, b.n,
           CAST(b.sp // b.n AS BIGINT) AS mean_p_milli,
           CAST(b.sy * 1000 // b.n AS BIGINT) AS pos_rate_milli,
           CAST((b.spp - 2000 * b.spy + 1000000 * b.sy) // mm.n_total
                AS BIGINT) AS brier_micro,
           CAST((b.sp - 1000 * b.sy) * (b.sp - 1000 * b.sy)
                // (b.n * mm.n_total) AS BIGINT) AS rel_micro,
           CAST((1000 * (b.sy * mm.n_total - mm.sy_total * b.n))
                * (1000 * (b.sy * mm.n_total - mm.sy_total * b.n))
                // (b.n * mm.n_total * mm.n_total) AS BIGINT) AS res_micro
    FROM b CROSS JOIN mm
    """


@query("q_brier_decomp", oracle=_brier_oracle())
def q_brier_decomp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BRIER SCORE decomposition (Murphy 1973: brier = reliability −
    resolution + uncertainty) for the fixed integer scorer on the
    q_calibration scaffold: scores min-max-normalize to milli
    pseudo-probabilities, bin into 10 fixed-width probability bands,
    and each band reports its exact-integer Brier, reliability
    ((p̄−ȳ)² weighted) and resolution ((ȳ_k−ȳ)² weighted)
    contributions in micro units — where q_calibration shows the curve,
    this prices HOW miscalibrated the scorer is and how much signal it
    still carries.  Every term is integer arithmetic over bin sums, so
    the decomposition regression-tests bit-for-bit.

    Scale: one scoring pass (the fixed 64-sign projection), a 1-row
    min/max broadcast, ONE bin aggregate — band-cardinality output."""
    vecs = rebalance_for_cpu(load(spark, sf_dir, "embeddings"))
    signs = _auc_signs(64)
    score_expr = " + ".join(
        f"({s}) * CAST(floor(CAST(element_at(embedding, {i + 1}) AS DOUBLE)"
        f" * 1000000.0 + 0.5) AS BIGINT)"
        for i, s in enumerate(signs)
    )
    sc = vecs.select(
        (F.col("label") == 3).cast("long").alias("y"),
        F.expr(score_expr).cast("long").alias("score"),
    )
    mm = sc.agg(
        F.min("score").alias("mn"),
        F.max("score").alias("mx"),
        F.count(F.lit(1)).cast("long").alias("n_total"),
        F.sum("y").cast("long").alias("sy_total"),
    )
    p = sc.crossJoin(F.broadcast(mm)).select(
        "y",
        F.expr("((score - mn) * 1000) div (mx - mn)")
        .cast("long")
        .alias("p_milli"),
        "n_total",
        "sy_total",
    )
    b = p.groupBy(F.expr("p_milli div 100").cast("long").alias("bin")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("p_milli").cast("long").alias("sp"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("p_milli") * F.col("p_milli")).cast("long").alias("spp"),
        F.sum(F.col("p_milli") * F.col("y")).cast("long").alias("spy"),
        F.max("n_total").alias("n_total"),
        F.max("sy_total").alias("sy_total"),
    )
    return b.select(
        "bin",
        "n",
        F.expr("sp div n").cast("long").alias("mean_p_milli"),
        F.expr("(sy * 1000) div n").cast("long").alias("pos_rate_milli"),
        F.expr("(spp - 2000 * spy + 1000000 * sy) div n_total")
        .cast("long")
        .alias("brier_micro"),
        F.expr("((sp - 1000 * sy) * (sp - 1000 * sy)) div (n * n_total)")
        .cast("long")
        .alias("rel_micro"),
        F.expr(
            "((1000 * (sy * n_total - sy_total * n))"
            " * (1000 * (sy * n_total - sy_total * n)))"
            " div (n * n_total * n_total)"
        )
        .cast("long")
        .alias("res_micro"),
    )


# ---------------------------------------------------------------------------
# QOI compressed-image codec roundtrip (round 9, VERDICT r08 item #4)
# ---------------------------------------------------------------------------


@query(
    "q_image_qoi",
    oracle="""
    WITH d AS (
        SELECT doc_id,
               9 + doc_id % 8 AS w,
               6 + doc_id % 5 AS h,
               (9 + doc_id % 8) * (6 + doc_id % 5) AS n,
               (doc_id * 73 + 11) % 256 AS base
        FROM documents
    ),
    px AS (
        SELECT doc_id, base, t.p // 8 AS k, t.p % 8 AS i
        FROM d CROSS JOIN range(0, 160) t(p)
        WHERE t.p < n
    ),
    c AS (
        SELECT doc_id,
               (base + 50*k + CASE WHEN i < 3 THEN 0
                                   WHEN i < 5 THEN 1 ELSE 13 END) % 256 AS r,
               (base + 50*k + CASE WHEN i < 3 THEN 80
                                   WHEN i < 5 THEN 81 ELSE 97 END) % 256 AS g,
               (base + 50*k + CASE WHEN i < 3 THEN 160
                                   WHEN i < 5 THEN 161 ELSE 179 END) % 256 AS b
        FROM px
    ),
    s AS (
        SELECT doc_id, sum(r) AS sr, sum(g) AS sg, sum(b) AS sb
        FROM c GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(w AS BIGINT) AS width,
           CAST(h AS BIGINT) AS height,
           CAST(22 + 10 * (n // 8)
                + CASE n % 8 WHEN 0 THEN 0 WHEN 1 THEN 4 WHEN 2 THEN 5
                             WHEN 3 THEN 5 WHEN 4 THEN 6 WHEN 5 THEN 7
                             WHEN 6 THEN 9 ELSE 10 END AS BIGINT)
               AS qoi_bytes,
           CAST((n + 7) // 8 AS BIGINT) AS n_rgb,
           CAST((n + 4) // 8 AS BIGINT) AS n_diff,
           CAST((n + 2) // 8 AS BIGINT) AS n_luma,
           CAST(3 * (n // 8)
                + CASE n % 8 WHEN 0 THEN 0 WHEN 1 THEN 0 WHEN 2 THEN 1
                             WHEN 3 THEN 1 WHEN 4 THEN 1 WHEN 5 THEN 2
                             WHEN 6 THEN 2 ELSE 3 END AS BIGINT) AS n_run,
           CAST(0 AS BIGINT) AS n_index,
           CAST(s.sr AS BIGINT) AS sum_r,
           CAST(s.sg AS BIGINT) AS sum_g,
           CAST(s.sb AS BIGINT) AS sum_b
    FROM d JOIN s USING (doc_id)
    """,
)
def q_image_qoi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QOI compressed-image ROUNDTRIP — the compression leg the
    BMP/PGM/WAV codec trio lacks (VERDICT r08 item #4): per document a
    closed-form RGB pattern is ENCODED with the real QOI state machine
    (`operators/qoi.py` — 64-slot color index, run accumulation,
    wraparound DIFF/LUMA deltas, per the public qoiformat.org spec),
    DECODED back with the real decoder, pixel-exactness asserted, and
    the stats emitted: compressed byte count, per-op-class counts, and
    channel sums of the DECODED pixels.

    The sharp part of the hash gate is `qoi_bytes`: compressed size
    depends on every op the encoder picks, so the oracle must know the
    op sequence.  The pattern guarantees it — 8-pixel blocks of
    [fresh color x3, +(1,1,1) x2, +(12,16,18) x3] where (a) all colors
    in an image are pairwise distinct (A/D share channel offsets
    (80,160) but differ in r-parity since block steps are even and the
    D offset is +1; L's offsets (84,166) differ from both; fresh-color
    r values 50k mod 256 are distinct for k <= 19 because 50m = 0 mod
    256 first at m = 128), so no OP_INDEX hit can ever preempt an op —
    and (b) the block-start delta is the constant (37,33,31) whose
    dg = 33 exceeds the LUMA range, so block starts are always OP_RGB.
    Hence size and op counts are closed forms of n = w*h alone:
    10 bytes per full block (4 RGB + 1 run + 1 DIFF + 1 run + 2 LUMA +
    1 run), a fixed partial-block table, 22 bytes of framing — and the
    encoder's actual op counts (n_index = 0 included) are pinned
    against them, verified by brute force over all 500 docs in
    `tests/test_qoi_codec.py`.

    Scale: per-row Arrow-batched mapInPandas, no shuffle; payload bytes
    never leave the executor — the 100 TB decode-pass shape."""
    from ..operators.qoi import qoi_roundtrip_stats

    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    return qoi_roundtrip_stats(docs)


# ---------------------------------------------------------------------------
# Unicode NFC normalization audit (round 9)
# ---------------------------------------------------------------------------


@query(
    "q_unicode_nfc",
    oracle="""
    WITH d AS (
        SELECT doc_id,
               replace(replace(text, 'a', 'a' || chr(769)),
                       'o', 'o' || chr(776)) AS s
        FROM documents
    )
    SELECT doc_id,
           CAST(length(s) AS BIGINT) AS chars_before,
           CAST(length(nfc_normalize(s)) AS BIGINT) AS chars_after,
           CAST(length(s) - length(nfc_normalize(s)) AS BIGINT) AS n_composed,
           md5(nfc_normalize(s)) AS norm_md5
    FROM d
    """,
)
def q_unicode_nfc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Unicode NFC normalization (UAX #15) — the canonicalization
    pass a multilingual corpus runs before any hashing-based dedup
    (visually identical strings with composed vs decomposed accents
    hash differently; NFC makes the digest canonical).  The corpus text
    is ASCII, so decomposed sequences are synthesized deterministically
    first (every 'a' -> 'a' + U+0301 combining acute, every 'o' ->
    'o' + U+0308 diaeresis), then the Arrow-batched normalizer applies
    Python's unicodedata.normalize('NFC') — a REAL UCD-table
    implementation — and emits per-doc char counts before/after, the
    composed-pair count, and the md5 of the normalized text.

    The oracle replays with DuckDB's INDEPENDENT ``nfc_normalize``
    (utf8proc-based): two unrelated UCD implementations must agree
    byte-for-byte on every composition, or the digest breaks — the
    strongest cross-implementation check available for a
    standards-defined transform (same posture as the DuckDB-native
    ASOF JOIN referee, scripts/fuzz_families/asof.py).

    Scale: per-row Arrow batches, no shuffle — the scan-side
    canonicalization pass."""
    from collections.abc import Iterator
    import unicodedata

    import pandas as pd

    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    dec = docs.select(
        "doc_id",
        F.replace(
            F.replace(F.col("text"), F.lit("a"), F.lit("a\u0301")),
            F.lit("o"),
            F.lit("o\u0308"),
        ).alias("s"),
    )

    def norm_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in it:
            norm = [
                unicodedata.normalize("NFC", s) for s in pdf["s"]
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].values,
                    "chars_before": [len(s) for s in pdf["s"]],
                    "chars_after": [len(n) for n in norm],
                    "n_composed": [
                        len(s) - len(n) for s, n in zip(pdf["s"], norm)
                    ],
                    "norm_md5": [
                        hashlib.md5(n.encode("utf-8")).hexdigest()
                        for n in norm
                    ],
                }
            )

    return dec.mapInPandas(
        norm_batches,
        "doc_id bigint, chars_before bigint, chars_after bigint, "
        "n_composed bigint, norm_md5 string",
    )


# ---------------------------------------------------------------------------
# Association rules: Apriori level-2 (round 9)
# ---------------------------------------------------------------------------

_AR_MIN_ITEM_DF = 200  # item support floor (docs)
_AR_MIN_PAIR_DF = 50  # pair support floor (docs)


@query(
    "q_assoc_rules",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
        FROM documents
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM documents),
    items AS (
        SELECT tok, CAST(count(*) AS BIGINT) AS df FROM t GROUP BY tok
        HAVING count(*) >= {_AR_MIN_ITEM_DF}
    ),
    ft AS (SELECT t.doc_id, t.tok FROM t JOIN items USING (tok)),
    pair AS (
        SELECT a.tok AS tok_a, b.tok AS tok_b,
               CAST(count(*) AS BIGINT) AS pair_df
        FROM ft a JOIN ft b ON a.doc_id = b.doc_id AND a.tok < b.tok
        GROUP BY 1, 2
        HAVING count(*) >= {_AR_MIN_PAIR_DF}
    )
    SELECT tok_a, tok_b, pair_df,
           CAST(pair_df * 1000000 // nd AS BIGINT) AS supp_ppm,
           CAST(pair_df * 1000000 // ia.df AS BIGINT) AS conf_a2b_ppm,
           CAST(pair_df * 1000000 // ib.df AS BIGINT) AS conf_b2a_ppm,
           CAST(pair_df * nd * 1000 // (ia.df * ib.df) AS BIGINT)
               AS lift_milli
    FROM pair
    JOIN items ia ON ia.tok = pair.tok_a
    JOIN items ib ON ib.tok = pair.tok_b
    CROSS JOIN n
    """,
)
def q_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASSOCIATION RULES, Apriori level-2 (Agrawal & Srikant 1994):
    frequent token pairs with support / directional confidence / lift
    in exact integer ppm/milli units — the co-occurrence mining pass a
    corpus audit runs to find boilerplate token combinations and
    template families (complements q_cooccurrence_pmi's
    information-theoretic scoring with the rule-mining metrics).

    The Apriori property IS the scale design: items are pruned to the
    support floor FIRST (a frequency aggregate on token keys), and only
    frequent items enter the pair join — so the pair space is bounded
    by (frequent vocab)², never (corpus tokens)², and the per-doc pair
    fan-out is the square of its FREQUENT-token count.  All joins are
    doc-key or token-key equi-joins; metrics are integer divisions of
    counts, bit-identical in both engines."""
    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    t = docs.select(
        "doc_id",
        F.explode(F.array_distinct(F.split("text", " "))).alias("tok"),
    )
    nd = docs.count()
    items = (
        t.groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
        .where(F.col("df") >= _AR_MIN_ITEM_DF)
        .localCheckpoint(eager=False)  # lazy: one action, both join sides
    )
    ft = t.join(F.broadcast(items.select("tok")), "tok")
    a = ft.select("doc_id", F.col("tok").alias("tok_a"))
    b = ft.select("doc_id", F.col("tok").alias("tok_b"))
    pair = (
        a.join(b, "doc_id")
        .where(F.col("tok_a") < F.col("tok_b"))
        .groupBy("tok_a", "tok_b")
        .agg(F.count(F.lit(1)).cast("long").alias("pair_df"))
        .where(F.col("pair_df") >= _AR_MIN_PAIR_DF)
    )
    ia = items.select(F.col("tok").alias("tok_a"), F.col("df").alias("df_a"))
    ib = items.select(F.col("tok").alias("tok_b"), F.col("df").alias("df_b"))
    return (
        pair.join(F.broadcast(ia), "tok_a")
        .join(F.broadcast(ib), "tok_b")
        .select(
            "tok_a",
            "tok_b",
            "pair_df",
            F.expr(f"pair_df * 1000000 div {nd}").cast("long").alias("supp_ppm"),
            F.expr("pair_df * 1000000 div df_a")
            .cast("long")
            .alias("conf_a2b_ppm"),
            F.expr("pair_df * 1000000 div df_b")
            .cast("long")
            .alias("conf_b2a_ppm"),
            F.expr(f"pair_df * {nd} * 1000 div (df_a * df_b)")
            .cast("long")
            .alias("lift_milli"),
        )
    )


# ---------------------------------------------------------------------------
# Decision-stump feature audit by Gini gain (round 9)
# ---------------------------------------------------------------------------


@query(
    "q_gini_stump",
    oracle="""
    WITH t AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
        FROM documents
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM documents),
    per_src AS (
        SELECT source, CAST(count(*) AS BIGINT) AS ns
        FROM documents GROUP BY source
    ),
    parent AS (
        SELECT CAST(1000000 - sum(ns * ns) * 1000000
                    // ((SELECT nd FROM n) * (SELECT nd FROM n))
               AS BIGINT) AS gp
        FROM per_src
    ),
    grid AS (
        SELECT tok, source, ns
        FROM (SELECT DISTINCT tok FROM t) CROSS JOIN per_src
    ),
    lcnt AS (
        SELECT t.tok, d.source, CAST(count(*) AS BIGINT) AS nls
        FROM t JOIN documents d USING (doc_id) GROUP BY 1, 2
    ),
    cells AS (
        SELECT g.tok, g.source, g.ns, COALESCE(l.nls, 0) AS nls
        FROM grid g LEFT JOIN lcnt l
          ON l.tok = g.tok AND l.source = g.source
    ),
    per_tok AS (
        SELECT tok,
               CAST(sum(nls) AS BIGINT) AS nl,
               CAST(sum(nls * nls) AS BIGINT) AS sql2,
               CAST(sum((ns - nls) * (ns - nls)) AS BIGINT) AS sqr2
        FROM cells GROUP BY tok
    ),
    scored AS (
        SELECT tok, nl, (SELECT nd FROM n) - nl AS nr,
               CASE WHEN nl = 0 THEN 0
                    ELSE 1000000 - sql2 * 1000000 // (nl * nl) END AS gl,
               CASE WHEN (SELECT nd FROM n) - nl = 0 THEN 0
                    ELSE 1000000 - sqr2 * 1000000
                         // (((SELECT nd FROM n) - nl)
                             * ((SELECT nd FROM n) - nl)) END AS gr
        FROM per_tok
    )
    SELECT tok, nl AS n_with, nr AS n_without,
           CAST(gl AS BIGINT) AS gini_with_ppm,
           CAST(gr AS BIGINT) AS gini_without_ppm,
           CAST((SELECT gp FROM parent)
                - (nl * gl + nr * gr) // (SELECT nd FROM n)
                AS BIGINT) AS gain_ppm
    FROM scored
    """,
)
def q_gini_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DECISION-STUMP feature audit by Gini gain (CART, Breiman et al.
    1984): for every vocabulary token, split the corpus on
    contains(token) and score the split by the drop in Gini impurity of
    the ``source`` label — the quality-classifier FEATURE-SELECTION
    pass that ranks which lexical features carry label signal before
    training anything (complements q_hashed_ngram_score's trained
    weights with a model-free filter metric).

    Gini is the RATIONAL impurity (1 - Σ(c/n)²) — unlike entropy it
    needs no libm log, so the whole scorecard is integer ppm with a
    single division per impurity (sum the squared counts first, divide
    once) and bit-identical in both engines.

    Scale: one distinct (doc, token) explode -> ONE (token, label)
    count shuffle; the label marginals and the token x label zero-fill
    grid are broadcast-sized (vocab x labels); gains are per-row
    arithmetic.  Documents never shuffle."""
    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    nd = docs.count()
    t = docs.select(
        "doc_id",
        F.explode(F.array_distinct(F.split("text", " "))).alias("tok"),
    )
    per_src = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("ns")
    )
    gp = (
        per_src.agg(
            (
                F.lit(1000000)
                - F.expr(f"sum(ns * ns) * 1000000 div ({nd}L * {nd}L)")
            ).alias("gp")
        ).collect()[0]["gp"]
    )
    lcnt = (
        t.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("tok", "source")
        .agg(F.count(F.lit(1)).cast("long").alias("nls"))
    )
    grid = t.select("tok").distinct().crossJoin(F.broadcast(per_src))
    cells = grid.join(lcnt, ["tok", "source"], "left").select(
        "tok",
        "ns",
        F.coalesce(F.col("nls"), F.lit(0)).cast("long").alias("nls"),
    )
    per_tok = cells.groupBy("tok").agg(
        F.sum("nls").cast("long").alias("nl"),
        F.sum(F.col("nls") * F.col("nls")).cast("long").alias("sql2"),
        F.sum((F.col("ns") - F.col("nls")) * (F.col("ns") - F.col("nls")))
        .cast("long")
        .alias("sqr2"),
    )
    scored = per_tok.select(
        "tok",
        "nl",
        (F.lit(nd) - F.col("nl")).alias("nr"),
        F.expr(
            "CASE WHEN nl = 0 THEN 0 "
            "ELSE 1000000 - sql2 * 1000000 div (nl * nl) END"
        ).alias("gl"),
        F.expr(
            f"CASE WHEN {nd} - nl = 0 THEN 0 "
            f"ELSE 1000000 - sqr2 * 1000000 div "
            f"(({nd} - nl) * ({nd} - nl)) END"
        ).alias("gr"),
    )
    return scored.select(
        "tok",
        F.col("nl").alias("n_with"),
        F.col("nr").alias("n_without"),
        F.col("gl").cast("long").alias("gini_with_ppm"),
        F.col("gr").cast("long").alias("gini_without_ppm"),
        F.expr(f"{gp} - (nl * gl + nr * gr) div {nd}")
        .cast("long")
        .alias("gain_ppm"),
    )


# ---------------------------------------------------------------------------
# Adjacent longest-common-prefix audit (round 9b)
# ---------------------------------------------------------------------------

_LCP_CAP = 64


@query(
    "q_lcp_adjacent",
    oracle=f"""
    WITH o AS (
        SELECT source, doc_id, text,
               lag(text) OVER w AS prev_text,
               lag(doc_id) OVER w AS prev_doc
        FROM documents
        WINDOW w AS (PARTITION BY source ORDER BY text, doc_id)
    )
    SELECT source, doc_id, prev_doc,
           CAST(len(list_filter(range(1, {_LCP_CAP + 1}),
                k -> substr(text, 1, CAST(k AS INT))
                     = substr(prev_text, 1, CAST(k AS INT))))
                AS BIGINT) AS lcp64,
           CAST(text = prev_text AS BIGINT) AS exact_dup
    FROM o WHERE prev_text IS NOT NULL
    """,
)
def q_lcp_adjacent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADJACENT LONGEST-COMMON-PREFIX audit (the suffix-array
    neighborhood device of Lee et al. 2022 "Deduplicating Training Data
    Makes Language Models Better", restricted to document prefixes):
    sort each source's documents lexicographically and measure the
    common prefix of every adjacent pair, capped at 64 chars — near-dup
    and boilerplate-prefix mass shows up as high-LCP ridges BEFORE any
    hashing, and exact dups pin lcp64 at the cap.

    The LCP is computed join-free by the prefix-monotonicity identity:
    prefix-equality holds exactly for k = 1..LCP, so LCP = COUNT of
    k ∈ 1..64 with substr(a,1,k) = substr(b,1,k) — one size(filter(
    sequence())) HOF per pair in codegen, no char explode (the
    prefix-compare cost is capped by the same 64 that caps the answer).

    Scale: windows are PARTITIONED BY source (the per-shard audit — a
    global adjacency would need a global sort; per-shard is both the
    honest production semantics and shuffle-bounded), ordered by
    (text, doc_id) for a deterministic tie on exact dups."""
    docs = load(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("text", "doc_id")
    o = docs.select(
        "source",
        "doc_id",
        "text",
        F.lag("text").over(w).alias("prev_text"),
        F.lag("doc_id").over(w).alias("prev_doc"),
    ).where(F.col("prev_text").isNotNull())
    lcp = F.expr(
        f"size(filter(sequence(1, {_LCP_CAP}), "
        "k -> substring(text, 1, k) = substring(prev_text, 1, k)))"
    )
    return o.select(
        "source",
        "doc_id",
        "prev_doc",
        lcp.cast("long").alias("lcp64"),
        (F.col("text") == F.col("prev_text")).cast("long").alias("exact_dup"),
    )


# ---------------------------------------------------------------------------
# Multinomial naive Bayes in the bit domain (round 9b)
# ---------------------------------------------------------------------------


@query(
    "q_naive_bayes_bits",
    oracle="""
    WITH toks AS (
        SELECT doc_id, lang,
               unnest(string_split(text, ' ')) AS tok
        FROM documents
    ),
    langs AS (SELECT DISTINCT lang AS cls FROM documents),
    v AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS vsz FROM toks),
    cc AS (
        SELECT lang AS cls, tok, CAST(count(*) AS BIGINT) AS c
        FROM toks GROUP BY 1, 2
    ),
    nl AS (
        SELECT lang AS cls, CAST(count(*) AS BIGINT) AS ntok
        FROM toks GROUP BY 1
    ),
    pri AS (
        SELECT lang AS cls, CAST(count(*) AS BIGINT) AS ndoc
        FROM documents GROUP BY 1
    ),
    nd AS (SELECT CAST(count(*) AS BIGINT) AS total FROM documents),
    scored AS (
        SELECT t.doc_id, t.lang AS true_lang, l.cls,
               CAST(sum(length(bin(nl.ntok + v.vsz))
                        - length(bin(coalesce(cc.c, 0) + 1))) AS BIGINT)
               + CAST(length(bin(nd.total)) - length(bin(pri.ndoc))
                      AS BIGINT) AS bits
        FROM toks t
        CROSS JOIN langs l
        CROSS JOIN v CROSS JOIN nd
        JOIN nl ON nl.cls = l.cls
        JOIN pri ON pri.cls = l.cls
        LEFT JOIN cc ON cc.cls = l.cls AND cc.tok = t.tok
        GROUP BY 1, 2, 3, nd.total, pri.ndoc
    ),
    ranked AS (
        SELECT doc_id, true_lang, cls, bits,
               row_number() OVER (
                   PARTITION BY doc_id ORDER BY bits, cls
               ) AS rn
        FROM scored
    )
    SELECT doc_id, cls AS pred_lang, bits AS bits_best,
           CAST(cls = true_lang AS BIGINT) AS is_correct
    FROM ranked WHERE rn = 1
    """,
)
def q_naive_bayes_bits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTINOMIAL NAIVE BAYES language classification in the BIT
    domain — the generative classic beside the corpus's discriminative
    classifiers (q_quality_classifier's fixed logistic, q_knn_classify,
    q_gini_stump): add-1-smoothed per-class token surprisal
    bit_length(N_L + V) − bit_length(c(tok,L) + 1) summed per document
    plus the prior's bit cost, argmin class wins (smallest-class
    tie-break).  The house bit_length device keeps the whole
    log-likelihood integer — within one bit per term of true -log2,
    and fully hash-gated where a float NB never could be.

    Scale: the model is the (class × vocab) count table — vocabulary-
    sized, never corpus-sized — built by ONE map-side-combinable
    groupBy; scoring joins each token occurrence to the 5-class grid
    (fact×|classes| rows) with the zero cells restored by a LEFT join
    (absent tokens are exactly where NB's smoothing matters); class
    totals and priors ride 1-row/5-row broadcasts; the per-doc argmin
    is a doc-partitioned rank."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("tok")
    )
    langs = docs.select(F.col("lang").alias("cls")).distinct()
    v = toks.agg(F.countDistinct("tok").cast("long").alias("vsz"))
    cc = toks.groupBy(F.col("lang").alias("cls"), "tok").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    nl = toks.groupBy(F.col("lang").alias("cls")).agg(
        F.count(F.lit(1)).cast("long").alias("ntok")
    )
    pri = docs.groupBy(F.col("lang").alias("cls")).agg(
        F.count(F.lit(1)).cast("long").alias("ndoc")
    )
    nd = docs.agg(F.count(F.lit(1)).cast("long").alias("total"))
    scored = (
        toks.select("doc_id", F.col("lang").alias("true_lang"), "tok")
        .crossJoin(F.broadcast(langs))
        .crossJoin(F.broadcast(v))
        .crossJoin(F.broadcast(nd))
        .join(F.broadcast(nl), "cls")
        .join(F.broadcast(pri), "cls")
        .join(F.broadcast(cc), ["cls", "tok"], "left")
        .groupBy("doc_id", "true_lang", "cls", "total", "ndoc")
        .agg(
            F.sum(
                F.length(F.bin(F.col("ntok") + F.col("vsz")))
                - F.length(F.bin(F.coalesce(F.col("c"), F.lit(0)) + 1))
            )
            .cast("long")
            .alias("tok_bits")
        )
        .select(
            "doc_id",
            "true_lang",
            "cls",
            (
                F.col("tok_bits")
                + (
                    F.length(F.bin("total")) - F.length(F.bin("ndoc"))
                ).cast("long")
            ).alias("bits"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy("bits", "cls")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "doc_id",
            F.col("cls").alias("pred_lang"),
            F.col("bits").alias("bits_best"),
            (F.col("cls") == F.col("true_lang"))
            .cast("long")
            .alias("is_correct"),
        )
    )


# ---------------------------------------------------------------------------
# Readability / syllable-complexity profile (round 10)
# ---------------------------------------------------------------------------


@query(
    "q_readability_fk",
    oracle="""
    WITH w AS (
        SELECT doc_id,
               unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
        FROM documents
    ),
    ws AS (
        SELECT doc_id, word,
               greatest(len(regexp_extract_all(word, '[aeiouy]+')), 1) AS syl
        FROM w
    ),
    d AS (
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS words,
               CAST(sum(syl) AS BIGINT) AS syllables,
               CAST(sum(CASE WHEN syl = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS mono_words,
               CAST(sum(CASE WHEN syl >= 3 THEN 1 ELSE 0 END) AS BIGINT)
                   AS poly_words
        FROM ws GROUP BY 1
    ),
    s AS (
        SELECT doc_id,
               CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
                    AS BIGINT) AS sentences
        FROM documents
    )
    SELECT d.doc_id, words, sentences, syllables, mono_words, poly_words,
           0.39 * (CAST(words AS DOUBLE) / CAST(sentences AS DOUBLE))
             + 11.8 * (CAST(syllables AS DOUBLE) / CAST(words AS DOUBLE))
             - 15.59 AS fk_grade
    FROM d JOIN s ON d.doc_id = s.doc_id
    """,
)
def q_readability_fk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLESCH-KINCAID readability profile (Kincaid et al. 1975 — the
    curriculum/education-level gate a training-data mixer applies when
    building difficulty-stratified mixes; complements q_gopher_rules'
    structural gates and q_token_entropy's information gates with a
    SYLLABLE-complexity signal): per document the word count, sentence
    count, vowel-group syllable estimate (min 1 per word — the standard
    heuristic), mono-/poly-syllable word counts (the SMOG/FOG
    ingredients), and the FK grade 0.39·(words/sentences) +
    11.8·(syllables/words) − 15.59 as ONE fixed IEEE expression over
    exact-integer-valued doubles (the q_anova_f conversion rule, so the
    double hashes identically cross-engine).

    The synthetic corpus has no sentence punctuation, so sentences
    degenerates to the greatest(…, 1) floor — documented; the regex
    still runs on both engines, and the word/syllable terms carry the
    signal.  Regex classes ([a-z0-9]+, [aeiouy]+, [.!?]+) are chosen to
    have identical semantics in Java regex and DuckDB RE2.

    Scale: one regexp_extract_all + explode + two map-side-combinable
    aggregates — token-linear, no joins beyond the 1-row-per-doc
    sentence table (co-partitioned on doc_id)."""
    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    w = docs.select(
        "doc_id",
        F.explode(
            F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")
        ).alias("word"),
    )
    ws = w.select(
        "doc_id",
        F.greatest(
            F.expr("size(regexp_extract_all(word, '[aeiouy]+', 0))"),
            F.lit(1),
        )
        .cast("long")
        .alias("syl"),
    )
    d = ws.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("words"),
        F.sum("syl").cast("long").alias("syllables"),
        F.sum(F.when(F.col("syl") == 1, 1).otherwise(0))
        .cast("long")
        .alias("mono_words"),
        F.sum(F.when(F.col("syl") >= 3, 1).otherwise(0))
        .cast("long")
        .alias("poly_words"),
    )
    s = docs.select(
        "doc_id",
        F.greatest(
            F.expr("size(regexp_extract_all(text, '[.!?]+', 0))"), F.lit(1)
        )
        .cast("long")
        .alias("sentences"),
    )
    j = d.join(s, "doc_id")
    fk = (
        F.lit(0.39)
        * (F.col("words").cast("double") / F.col("sentences").cast("double"))
        + F.lit(11.8)
        * (
            F.col("syllables").cast("double")
            / F.col("words").cast("double")
        )
        - F.lit(15.59)
    )
    return j.select(
        "doc_id",
        "words",
        "sentences",
        "syllables",
        "mono_words",
        "poly_words",
        fk.alias("fk_grade"),
    )


# ---------------------------------------------------------------------------
# Isotonic calibration via the PAV minimax identity (round 10)
# ---------------------------------------------------------------------------


@query(
    "q_isotonic_pav",
    oracle="""
    WITH e AS (
        SELECT least(CAST(floor(value * 100.0 + 0.5) AS BIGINT) // 1000,
                     19) AS b,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        FROM events
    ),
    g AS (
        SELECT b, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS c
        FROM e GROUP BY b
    ),
    p AS (
        SELECT b, n, c,
               sum(n) OVER (ORDER BY b) AS pn,
               sum(c) OVER (ORDER BY b) AS pc
        FROM g
    ),
    jk AS (
        SELECT j.b AS j, k.b AS k,
               CAST(k.pc - j.pc + j.c AS DOUBLE)
                 / CAST(k.pn - j.pn + j.n AS DOUBLE) AS avg_jk
        FROM p j JOIN p k ON k.b >= j.b
    ),
    mn AS (
        SELECT i.b AS i, jk.j, min(jk.avg_jk) AS m
        FROM p i JOIN jk ON jk.j <= i.b
        GROUP BY 1, 2
    ),
    iso AS (SELECT i, max(m) AS iso FROM mn GROUP BY i)
    SELECT g.b AS bucket, g.n, g.c AS conv, iso.iso AS iso_rate
    FROM g JOIN iso ON iso.i = g.b
    """,
)
def q_isotonic_pav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ISOTONIC CALIBRATION (pool-adjacent-violators; Ayer et al. 1955,
    Barlow & Brunk 1972 — the monotone probability-calibration fit every
    CTR / quality-classifier serving stack applies on top of raw model
    scores; extends q_calibration's reliability diagram from diagnosis
    to the FIT itself): conversion rate per value-derived score bucket,
    fitted to the best monotone non-decreasing step function.

    PAV is a sequential pooling algorithm — hostile to both SQL and
    hash gates — so this uses the CLOSED-FORM MINIMAX IDENTITY instead:
    iso(i) = max_{j<=i} min_{k>=j} avg(conv over buckets j..k), exactly
    the L2 isotonic solution (property-tested against a textbook PAV
    stack referee in tests/test_round10b_ops.py).  Averages are exact-
    integer-valued doubles via bucket prefix sums (S(j,k) = P(k) −
    P(j−1)), so both engines compute IDENTICAL doubles and the min/max
    lattice hashes bit-equal (the q_anova_f conversion rule, lifted
    over a minimax).

    Scale: ONE map-side-combinable fact-scale aggregate to ≤20 bucket
    rows; everything after (prefix window, (j,k) expansion — ≤8000
    rows, minimax aggs) is model-sized, never corpus-sized; the only
    partitionless window runs over the 20-row bucket table."""
    ev = load(spark, sf_dir, "events")
    e = ev.select(
        F.expr(
            "least(CAST(floor(value * 100.0 + 0.5) AS BIGINT) div 1000,"
            " 19)"
        ).alias("b"),
        (F.col("event_type") == "purchase").cast("long").alias("y"),
    )
    g = e.groupBy("b").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("c"),
    )
    w = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    p = g.select(
        "b",
        "n",
        "c",
        F.sum("n").over(w).alias("pn"),
        F.sum("c").over(w).alias("pc"),
    )
    j = p.select(
        F.col("b").alias("j"),
        F.col("n").alias("jn"),
        F.col("c").alias("jc"),
        F.col("pn").alias("jpn"),
        F.col("pc").alias("jpc"),
    )
    k = p.select(
        F.col("b").alias("k"),
        F.col("pn").alias("kpn"),
        F.col("pc").alias("kpc"),
    )
    jk = j.join(k, F.col("k") >= F.col("j")).select(
        "j",
        (
            (F.col("kpc") - F.col("jpc") + F.col("jc")).cast("double")
            / (F.col("kpn") - F.col("jpn") + F.col("jn")).cast("double")
        ).alias("avg_jk"),
    )
    mn = (
        p.select(F.col("b").alias("i"))
        .join(jk, F.col("j") <= F.col("i"))
        .groupBy("i", "j")
        .agg(F.min("avg_jk").alias("m"))
    )
    iso = mn.groupBy("i").agg(F.max("m").alias("iso"))
    return g.join(iso, g["b"] == iso["i"]).select(
        F.col("b").alias("bucket"),
        "n",
        F.col("c").alias("conv"),
        F.col("iso").alias("iso_rate"),
    )


@query(
    "q_audio_vad_frames",
    oracle="""
    WITH d AS (SELECT doc_id, 64 + doc_id % 97 AS n FROM documents),
    x AS (SELECT doc_id, n, t.t, t.t // 16 AS frame,
                 abs(((doc_id*7919 + t.t*104729 + 1234) % 65536) - 32768)
                     AS av
          FROM d CROSS JOIN range(0, 160) t(t)
          WHERE t.t < 16 * (n // 16)),
    fr AS (
        SELECT doc_id, frame, CAST(sum(av) AS BIGINT) AS sum_abs
        FROM x GROUP BY 1, 2
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_frames,
           CAST(sum(CASE WHEN sum_abs > 131072 THEN 1 ELSE 0 END)
                AS BIGINT) AS active_frames,
           CAST(max(sum_abs) AS BIGINT) AS max_frame_sumabs,
           CAST(coalesce(min(CASE WHEN sum_abs > 131072
                                  THEN frame + 1 END), 0)
                AS BIGINT) AS first_active_frame
    FROM fr GROUP BY doc_id
    """,
)
def q_audio_vad_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FRAMEWISE ENERGY CONTOUR / voice-activity gate over the real WAV
    chunk walk — the FRAMING primitive (fixed 16-sample frames, energy
    Σ|v| per frame, active iff the frame's absolute mass exceeds
    16·8192 = quarter full-scale) that every downstream audio feature
    (MFCC windows, VAD trimming, silence-split chunking) builds on;
    completes the time/frequency pair q_audio_pcm_stats /
    q_audio_goertzel with the TIME-SEGMENTATION leg.  Tail samples
    short of a full frame are dropped (documented, mirrored in the
    oracle's t < 16·(n div 16) filter).  All integer, full hash gate.

    Spark side decodes REAL RIFF bytes (decode_wav inside mapInPandas —
    Arrow-batched, zero shuffles, the codec-family posture); the
    oracle replays the closed-form sample stream relationally (frame =
    t div 16 GROUP BY).

    Scale: per-row O(n) numpy reshape+reduce; frame census is
    embarrassingly parallel."""
    import numpy as np
    import pandas as pd

    from ..operators.multimodal import decode_wav, synthetic_audio

    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    payloads = synthetic_audio(docs)

    def frames(batches):
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                s, _sr = decode_wav(bytes(payload))
                s64 = np.abs(s.astype(np.int64))
                nf = len(s64) // 16
                f = s64[: nf * 16].reshape(nf, 16).sum(axis=1)
                active = f > 131072
                first = int(np.argmax(active)) + 1 if active.any() else 0
                rows.append(
                    (
                        int(doc_id),
                        nf,
                        int(active.sum()),
                        int(f.max()) if nf else 0,
                        first,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "n_frames",
                    "active_frames",
                    "max_frame_sumabs",
                    "first_active_frame",
                ],
            )

    return payloads.mapInPandas(
        frames,
        "doc_id long, n_frames long, active_frames long,"
        " max_frame_sumabs long, first_active_frame long",
    )


# ---------------------------------------------------------------------------
# Suffix ranking (round 12, VERDICT r11 item #6a): the true-suffix-order
# upgrade of the ExactSubstr family
# ---------------------------------------------------------------------------

# 2^7 = 128 >= the 100-token document bound of this data model (TESTDATA
# max 100; guarded loudly in the queries).  Round count is O(log maxlen)
# — bounded by document LENGTH, not corpus size, so the same 7 rounds
# hold at 100 TB of 100-token documents; longer documents raise it
# log-scale.
_SUFFIX_ROUNDS = 7

from ..operators import suffix as _suffix  # noqa: E402

_SUFFIX_CTE = _suffix.suffix_cte(_SUFFIX_ROUNDS)


def _suffix_guard(docs) -> None:
    """Loud failure, never a silent wrong answer: suffix ranking with
    _SUFFIX_ROUNDS rounds is exact only for documents <= 2^rounds
    tokens.  One documents-scale agg (optimization round 13: the max
    token count is size(split(text)) — same condition as the old
    explode+groupBy form, without materializing the token table)."""
    cap = 1 << _SUFFIX_ROUNDS
    [row] = docs.agg(
        F.max(F.size(F.split("text", " "))).alias("mx")
    ).collect()
    if row["mx"] is not None and row["mx"] > cap:
        raise ValueError(
            f"suffix ranking needs {row['mx']}-token docs <= 2^rounds="
            f"{cap}: raise _SUFFIX_ROUNDS (log-scale)"
        )


@query(
    "q_suffix_rank",
    oracle=_SUFFIX_CTE
    + f""",
    cls AS (
        SELECT r, CAST(count(*) AS BIGINT) AS n_suffixes,
               CAST(min(doc_id * 1000 + pos) AS BIGINT) AS min_gid
        FROM lv{_SUFFIX_ROUNDS} GROUP BY r
    ),
    tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n_total,
               CAST(count(DISTINCT r) AS BIGINT) AS n_classes
        FROM lv{_SUFFIX_ROUNDS}
    ),
    top AS (
        SELECT r, n_suffixes, min_gid,
               row_number() OVER (ORDER BY n_suffixes DESC, r) AS rnk
        FROM (SELECT * FROM cls ORDER BY n_suffixes DESC, r LIMIT 10)
    )
    SELECT CAST(top.r AS BIGINT) AS r, top.n_suffixes, top.min_gid,
           CAST(top.rnk AS BIGINT) AS rnk, tot.n_total, tot.n_classes
    FROM top, tot
    """,
)
def q_suffix_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SUFFIX RANKING (operators/suffix.py): the dense rank of every
    document suffix in true corpus-wide suffix order — the rank prefix
    doubling (Manber & Myers 1993; Flick & Aluru SC'15) reaches after 7
    rounds, exact for the data model's <=100-token documents (loud
    guard).  Emitted surface: the top-10 DUPLICATE-TAIL classes (equal
    final rank = byte-equal suffix tails, the ExactSubstr signal) with
    class size and first occurrence, plus total/distinct suffix counts
    — upgrade of the fixed-k shingle spans to unbounded-length exact
    tails.

    Engine exactness: the oracle unrolls the 7 doubling rounds as CTE
    dense_rank windows over integer pairs (round 0: ASCII tokens,
    binary order in both engines); the Spark side ranks each suffix's
    token array, whose prefix-first order is bit-identical to the
    padded doubling order (``suffix_arrays``, referee-pinned).

    Scale: ONE narrow pass building each suffix's token array (split +
    posexplode + slice — no shuffle), ONE class aggregation on the
    arrays (count + min gid per distinct tail — the only array-keyed
    shuffle), and ONE bucketed global row number over the
    DISTINCT-CLASS table, where each class's row number IS its dense
    rank.  The per-position rank table is never built.  The ranked
    class table is cut EAGERLY (ints only): tot and top-10 consume it
    through concurrent branches (r12 classification rule)."""
    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    _suffix_guard(docs)
    suf = _suffix.suffix_arrays(docs, _SUFFIX_ROUNDS)
    cls = (
        ranking.global_row_number(
            suf.groupBy("sarr").agg(
                F.count(F.lit(1)).cast("long").alias("n_suffixes"),
                F.min(F.col("doc_id") * 1000 + F.col("pos"))
                .cast("long")
                .alias("min_gid"),
            ),
            [F.col("sarr").asc()],
            bucket=_suffix.suffix_array_bucket(F.col("sarr")),
            out_col="r",
        )
        .select(
            F.col("r").cast("long").alias("r"), "n_suffixes", "min_gid"
        )
        .localCheckpoint(eager=True)
    )
    tot = cls.agg(
        F.sum("n_suffixes").cast("long").alias("n_total"),
        F.count(F.lit(1)).cast("long").alias("n_classes"),
    )
    order = [F.col("n_suffixes").desc(), F.col("r").asc()]
    top = cls.orderBy(*order).limit(10)
    w = Window.orderBy(*order)  # 10-row table only
    return (
        top.withColumn("rnk", F.row_number().over(w).cast("long"))
        .crossJoin(F.broadcast(tot))
        .select("r", "n_suffixes", "min_gid", "rnk", "n_total", "n_classes")
    )


def _lcp_walk_parts() -> list[str]:
    """Shared CTE chain: suffix levels → adjacency (rnks) → the binary
    LCP walk → ``fin`` (capped adjacent-pair LCPs).  Consumers append
    their own finisher (top-k repeats; per-doc repeat profile)."""
    rounds = _SUFFIX_ROUNDS
    parts = [
        _SUFFIX_CTE
        + f""",
    dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM t GROUP BY 1),
    rnks AS (
        SELECT doc_id, pos, r,
               row_number() OVER (ORDER BY r, doc_id, pos) AS rn
        FROM lv{rounds}
    ),
    w{rounds} AS (
        SELECT a.doc_id AS doc_a, a.pos AS pos_a,
               b.doc_id AS doc_b, b.pos AS pos_b,
               CAST(0 AS BIGINT) AS lcp
        FROM rnks a JOIN rnks b ON b.rn = a.rn + 1
    )"""
    ]
    for j in range(rounds - 1, -1, -1):
        parts.append(
            f"""w{j} AS (
        SELECT p.doc_a, p.pos_a, p.doc_b, p.pos_b,
               p.lcp + CASE WHEN coalesce(ra.r, 0) = coalesce(rb.r, 0)
                             AND coalesce(ra.r, 0) > 0
                        THEN {1 << j} ELSE 0 END AS lcp
        FROM w{j + 1} p
        LEFT JOIN lv{j} ra
          ON ra.doc_id = p.doc_a AND ra.pos = p.pos_a + p.lcp
        LEFT JOIN lv{j} rb
          ON rb.doc_id = p.doc_b AND rb.pos = p.pos_b + p.lcp
    )"""
        )
    parts.append(
        """fin AS (
        SELECT w.doc_a, w.pos_a, w.doc_b, w.pos_b,
               CAST(least(w.lcp, da.n - w.pos_a + 1, db.n - w.pos_b + 1)
                    AS BIGINT) AS lcp
        FROM w0 w
        JOIN dl da ON da.doc_id = w.doc_a
        JOIN dl db ON db.doc_id = w.doc_b
    )"""
    )
    return parts


def _maximal_repeat_oracle() -> str:
    parts = _lcp_walk_parts()
    parts.append(
        """SELECT lcp, doc_a, pos_a, doc_b, pos_b,
           CAST(row_number() OVER (ORDER BY lcp DESC, doc_a, pos_a,
                                   doc_b, pos_b) AS BIGINT) AS rnk
    FROM (
        SELECT * FROM fin
        ORDER BY lcp DESC, doc_a, pos_a, doc_b, pos_b LIMIT 10
    )"""
    )
    # the last part is the final SELECT, not a CTE
    return ",\n    ".join(parts[:-1]) + "\n    " + parts[-1]


def _suffix_neighbors(docs: DataFrame) -> DataFrame:
    """Every suffix (doc_id, pos) of ``docs`` with its successor
    ``next`` (struct of doc_id, pos, sarr) and ``lcp_prev`` /
    ``lcp_next``, the capped LCPs it shares with its predecessor /
    successor in suffix order (NULL at the two ends) — the shared
    scaffold of the maximal-repeat and repeat-profile consumers.

    With documents bounded at 2^rounds tokens, the suffix ORDER is the
    total order (sarr, doc_id, pos) over the direct suffix arrays
    (order-isomorphic to the oracle's ``row_number OVER (ORDER BY r,
    doc_id, pos)`` over lv{rounds}), and both neighbours come from ONE
    bucketed window pass (``ranking.global_neighbors``: no row number,
    no self-join).  The LCP of each adjacent pair is the plain
    longest-common-prefix of the two arrays — one codegen
    zip_with/array_position expression, where the oracle runs the
    7-level binary walk.  The walk's padded-rank equality is real token
    equality inside both tails and its final ``least(lcp, tail_a,
    tail_b)`` cap clamps any padding overshoot, so walk-LCP ==
    array-LCP exactly (referees: tests/test_round13_suffix.py,
    tests/test_round12_ops.py TestSuffixReferee, and
    fuzz_families/suffix.py)."""
    _suffix_guard(docs)
    suf = _suffix.suffix_arrays(docs, _SUFFIX_ROUNDS)
    nb = ranking.global_neighbors(
        suf,
        [F.col("sarr").asc(), F.col("doc_id").asc(), F.col("pos").asc()],
        bucket=_suffix.suffix_array_bucket(F.col("sarr")),
        cols=["doc_id", "pos", "sarr"],
    )

    def lcp(a, b):
        # index of the first elementwise mismatch (zip_with pads the
        # shorter array with null; eqNullSafe makes pad != token); no
        # mismatch => arrays identical => LCP = full length.  Never
        # exceeds either tail because the arrays ARE the tails.  NULL
        # when ``b`` (a missing neighbour) is NULL.
        zipped = F.zip_with(a, b, lambda x, y: x.eqNullSafe(y))
        p = F.array_position(zipped, F.lit(False))
        return F.when(p == 0, F.size(a)).otherwise(p - 1).cast("long")

    return nb.select(
        "doc_id",
        "pos",
        "next",
        lcp(F.col("sarr"), F.col("prev.sarr")).alias("lcp_prev"),
        lcp(F.col("sarr"), F.col("next.sarr")).alias("lcp_next"),
    )


@query("q_maximal_repeat", oracle=_maximal_repeat_oracle())
def q_maximal_repeat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAXIMAL REPEATS via the suffix array + adjacent-pair LCPs
    (Kärkkäinen & Sanders 2003 §5): the top-10 longest repeated token
    substrings in the corpus — each reported as the LCP of a
    rank-ADJACENT suffix pair, which is sufficient because in suffix order the longest repeat is always
    realized by some adjacent pair.  This is Lee et al. 2022's actual
    ExactSubstr machinery (their suffix-array clusters) with unbounded
    match length, where q_exactsubstr_cut approximates via fixed-k
    shingles.

    LCP of each adjacent pair: documents are bounded at 2^rounds tokens,
    so each suffix's token array is carried whole and the LCP is ONE
    codegen zip_with/array_position expression over the adjacent pair;
    the oracle's 7-level binary walk over the doubling ranks gives the
    identical capped LCP (referee- and oracle-pinned).

    Scale: one narrow suffix-array pass + one bucketed neighbour
    window (``ranking.global_neighbors``: no row number, no adjacency
    join, no partitionless window); top-10 is TakeOrderedAndProject."""
    nb = _suffix_neighbors(rebalance_for_cpu(load(spark, sf_dir, "documents")))
    pairs = nb.where(F.col("next").isNotNull()).select(
        F.col("lcp_next").alias("lcp"),
        F.col("doc_id").alias("doc_a"),
        F.col("pos").alias("pos_a"),
        F.col("next.doc_id").alias("doc_b"),
        F.col("next.pos").alias("pos_b"),
    )
    order = [
        F.col("lcp").desc(),
        F.col("doc_a").asc(),
        F.col("pos_a").asc(),
        F.col("doc_b").asc(),
        F.col("pos_b").asc(),
    ]
    top = pairs.orderBy(*order).limit(10)
    w = Window.orderBy(*order)  # 10-row table only
    return top.withColumn("rnk", F.row_number().over(w).cast("long"))


# ---------------------------------------------------------------------------
# Unigram-LM (SentencePiece) tokenizer: seed fit + one EM round
# (round 12, VERDICT r11 item #6b)
# ---------------------------------------------------------------------------

from ..operators import unigram as _unigram  # noqa: E402


@query("q_unigram_lm_fit", oracle=_unigram.unigram_fit_oracle())
def q_unigram_lm_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNIGRAM-LM SEED VOCABULARY (Kudo ACL 2018 §3 — the SentencePiece
    unigram model's initialization): all single characters plus the
    top-64 length-2..4 substrings by corpus frequency, each with its
    integer surprisal cost_milli = 1000·(bitlen(total) − bitlen(freq))
    (the house bit_length log2 device — hash-exact where float logs
    diverge).  Top-20 pieces emitted with (freq DESC, piece) rank.

    Scale: ONE corpus-sized word-frequency aggregation (the BPE
    posture, operators/bpe.py); substring extraction and ranking run on
    the distinct-word table — vocabulary-scale, corpus-size-free."""
    docs = load(spark, sf_dir, "documents")
    words = _unigram.word_freq(docs)
    vocab = _unigram.seed_vocab(words)
    order = [F.col("freq").desc(), F.col("piece").asc()]
    top = vocab.orderBy(*order).limit(20)
    w = Window.orderBy(*order)  # 20-row table only
    return top.withColumn("rnk", F.row_number().over(w).cast("long"))


@query("q_unigram_lm_em", oracle=_unigram.unigram_em_oracle())
def q_unigram_lm_em(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE UNIGRAM-LM EM ROUND (Kudo ACL 2018 §3.2, Viterbi-approximated
    E-step as SentencePiece implements it): segment every distinct word
    by min-total-cost Viterbi under the seed costs (ties → LONGEST
    piece, the deterministic policy), then re-count pieces from the
    chosen segmentations weighted by word frequency — the M-step table
    that the next EM round would renormalize.  Top-20 pieces by
    (new_cnt DESC, piece) with seed_freq beside new_cnt, so the emitted
    surface IS the E→M evidence (pieces the segmenter actually uses
    pull ahead of raw-frequency artifacts).

    Engine exactness: integer costs + exact-equality backtrace let the
    DuckDB oracle replay the identical DP — 12 unrolled forward rounds
    and 12 backtrace rounds as chained CTEs (operators/unigram.py) —
    a FULL hash gate over an EM algorithm.

    Scale: the corpus is touched once (word counts); the DP unroll is
    bounded by WORD LENGTH (12), not corpus size, and every DP join is
    distinct-word × broadcast-vocab."""
    docs = load(spark, sf_dir, "documents")
    # lazy (round 12): viterbi_emissions' vocab collect materializes
    # vocab (and words underneath it) in one chained job; the final
    # action then reuses both persisted RDDs
    words = _unigram.word_freq(docs).localCheckpoint(eager=False)
    vocab = _unigram.seed_vocab(words).localCheckpoint(eager=False)
    emits = _unigram.viterbi_emissions(words, vocab)
    newcnt = (
        emits.join(words, "w")
        .groupBy("piece")
        .agg(F.sum("cnt").cast("long").alias("new_cnt"))
    )
    scored = vocab.join(newcnt, "piece", "left").select(
        "piece",
        F.col("freq").alias("seed_freq"),
        F.coalesce(F.col("new_cnt"), F.lit(0)).cast("long").alias("new_cnt"),
    )
    order = [F.col("new_cnt").desc(), F.col("piece").asc()]
    top = scored.orderBy(*order).limit(20)
    w = Window.orderBy(*order)  # 20-row table only
    return top.withColumn("rnk", F.row_number().over(w).cast("long"))


@query(
    "q_unigram_token_count",
    oracle=_unigram.unigram_token_count_oracle(),
)
def q_unigram_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token counts under the UNIGRAM-LM Viterbi
    segmentation — the SentencePiece-encode counterpart of
    q_bpe_token_count, and the budget number that decides between the
    two tokenizer families (fertility = tokens/word falls out of this
    against q_token_count).  Each distinct word's token count is its
    backtrace emission count; documents roll up by word (the
    q_bpe_token_count per-word memo factoring — the corpus-scale side
    never runs the DP, it joins the vocabulary-scale result).

    Scale: word counts are the ONE corpus pass; the DP is word-length-
    bound on the distinct-word table; the rollup is a words-keyed join
    + doc-keyed combinable sum."""
    docs = load(spark, sf_dir, "documents")
    # lazy (round 12): viterbi_emissions' vocab collect materializes
    # vocab (and words underneath it) in one chained job; the final
    # action then reuses both persisted RDDs
    words = _unigram.word_freq(docs).localCheckpoint(eager=False)
    vocab = _unigram.seed_vocab(words).localCheckpoint(eager=False)
    emits = _unigram.viterbi_emissions(words, vocab)
    wn = emits.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("n"))
    per_doc = (
        docs.select(
            "doc_id", F.explode(F.split("text", " ")).alias("w")
        )
        .where(F.col("w") != "")
        .join(wn, "w")
        .groupBy("doc_id")
        .agg(F.sum("n").alias("n_tok"))
    )
    return docs.select("doc_id").join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_tok"), F.lit(0))
        .cast("long")
        .alias("n_unigram_tokens"),
    )


_REPEAT_L = 8  # duplicated-position threshold, tokens


def _repeat_profile_oracle() -> str:
    parts = _lcp_walk_parts()
    parts.append(
        """nl AS (
        SELECT doc_id, pos, CAST(max(lcp) AS BIGINT) AS nlcp
        FROM (
            SELECT doc_a AS doc_id, pos_a AS pos, lcp FROM fin
            UNION ALL
            SELECT doc_b, pos_b, lcp FROM fin
        ) GROUP BY doc_id, pos
    )"""
    )
    parts.append(
        f"""prof AS (
        SELECT doc_id,
               CAST(sum(CASE WHEN nlcp >= {_REPEAT_L} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_dup_pos,
               CAST(max(nlcp) AS BIGINT) AS max_lcp,
               CAST(sum(nlcp) AS BIGINT) AS lcp_mass
        FROM nl GROUP BY doc_id
    )"""
    )
    sql = ",\n    ".join(parts)
    sql += """
    SELECT d.doc_id, dl.n AS n_pos,
           coalesce(p.n_dup_pos, 0) AS n_dup_pos,
           coalesce(p.max_lcp, 0) AS max_lcp,
           coalesce(p.lcp_mass, 0) AS lcp_mass
    FROM documents d
    JOIN dl ON dl.doc_id = d.doc_id
    LEFT JOIN prof p ON p.doc_id = d.doc_id
    """
    return sql


@query("q_repeat_profile", oracle=_repeat_profile_oracle())
def q_repeat_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-DOCUMENT REPEAT-MASS PROFILE from the true suffix order: for
    every suffix position, its neighbor LCP (the longest prefix it
    shares with ANY other corpus suffix — a standard suffix-array fact:
    the best match is always a rank neighbor), rolled up per document
    as n_dup_pos (positions whose best match >= 8 tokens — the
    ExactSubstr cut-eligibility count), max_lcp, and lcp_mass (the
    Σ-neighbor-LCP duplication budget).  This is the signal fixed-k
    shingles cannot give: q_dup_spans knows a position shares SOME
    k-gram; this knows HOW LONG the real shared span is, per position,
    with unbounded length.

    The neighbor LCP is the larger of the LCPs with the suffix's
    predecessor and successor in suffix order, so each position reads
    it off its own row; a position with no neighbour (a one-suffix
    corpus) has no neighbor LCP and drops out, as in the oracle.

    Scale: the neighbour scaffold shared with q_maximal_repeat (one
    suffix-array pass + one bucketed neighbour window), then ONE
    doc-keyed combinable rollup."""
    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    # greatest skips a NULL (missing) neighbour
    nl = _suffix_neighbors(docs).select(
        "doc_id", F.greatest("lcp_prev", "lcp_next").alias("nlcp")
    ).where(F.col("nlcp").isNotNull())
    prof = nl.groupBy("doc_id").agg(
        F.sum(F.when(F.col("nlcp") >= _REPEAT_L, 1).otherwise(0))
        .cast("long")
        .alias("n_dup_pos"),
        F.max("nlcp").cast("long").alias("max_lcp"),
        F.sum("nlcp").cast("long").alias("lcp_mass"),
    )
    # n_pos = the document's token count = size(split(text)) — the same
    # value the old token-table groupBy produced, without the explode
    dl = docs.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_pos"),
    )
    return dl.join(prof, "doc_id", "left").select(
        "doc_id",
        "n_pos",
        F.coalesce(F.col("n_dup_pos"), F.lit(0)).cast("long").alias("n_dup_pos"),
        F.coalesce(F.col("max_lcp"), F.lit(0)).cast("long").alias("max_lcp"),
        F.coalesce(F.col("lcp_mass"), F.lit(0)).cast("long").alias("lcp_mass"),
    )


# --- Round-12 late addition (R13_QUEUE): DSIR importance weights ---

# DSIR hashed-feature space: unigrams hashed into 256 buckets via the
# portable md5 device (identical literal in both engines).
_DSIR_BUCKETS = 256


def _dsir_oracle() -> str:
    """DuckDB twin of q_dsir_weights: hashed-unigram bucket counts for
    the target (lang='en') and raw (all docs) distributions, add-1
    smoothed bit-length log importance ratio summed per document."""
    return f"""
    WITH toks AS (
        SELECT doc_id, lang,
               CAST(concat('0x', substring(md5(tok), 1, 15)) AS BIGINT)
                 % {_DSIR_BUCKETS} AS b
        FROM (
            SELECT doc_id, lang,
                   unnest(list_filter(string_split(text, ' '),
                                      x -> x <> '')) AS tok
            FROM documents
        )
    ),
    raw_b AS (
        SELECT b, CAST(count(*) AS BIGINT) AS cr FROM toks GROUP BY b
    ),
    tgt_b AS (
        SELECT b, CAST(count(*) AS BIGINT) AS ct FROM toks
        WHERE lang = 'en' GROUP BY b
    ),
    totals AS (
        SELECT CAST(count(*) AS BIGINT) AS tr,
               CAST(count(*) FILTER (WHERE lang = 'en') AS BIGINT) AS tt
        FROM toks
    ),
    scored AS (
        SELECT t.doc_id,
               (CAST(length(bin(coalesce(g.ct, 0) + 1)) AS BIGINT)
                - CAST(length(bin(r.cr + 1)) AS BIGINT))
               - (CAST(length(bin(z.tt + {_DSIR_BUCKETS})) AS BIGINT)
                  - CAST(length(bin(z.tr + {_DSIR_BUCKETS})) AS BIGINT))
                 AS s_bits
        FROM toks t
        JOIN raw_b r ON r.b = t.b
        LEFT JOIN tgt_b g ON g.b = t.b
        CROSS JOIN totals z
    )
    SELECT d.doc_id,
           CAST(coalesce(count(s.s_bits), 0) AS BIGINT) AS n_toks,
           CAST(coalesce(sum(s.s_bits), 0) AS BIGINT) AS w_bits
    FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
    GROUP BY d.doc_id
    """


@query("q_dsir_weights", oracle=_dsir_oracle())
def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al., "Data Selection for
    Language Models via Importance Resampling", NeurIPS 2023 — public):
    estimate target and raw distributions over a HASHED feature space
    (unigrams → 256 md5 buckets, the portable md5-to-int device), then
    score every document by the summed per-token log importance ratio
    log p_target(b) − p_raw(b).  Documents whose hashed-feature profile
    looks like the target domain (here lang='en') score high; DSIR then
    resamples by these weights — the selection signal is THIS table.

    Integer form: logs are floor-log2 via the house bit-length device
    (length(bin(x)) — exact, engine-portable, within 1 bit), with add-1
    smoothing on bucket counts and add-B on the totals, so
    s = [bitlen(ct+1) − bitlen(Tt+B)] − [bitlen(cr+1) − bitlen(Tr+B)]
    per position, summed per doc.  Every count is data-scale (< 2⁶³) so
    BIGINT suffices throughout — no decimal device needed here (the
    bit-length ratio replaces the cross products that would need it).

    Scale: ONE token explode feeds both distribution estimates (256-row
    tables) and the position stream; the 256-row bucket tables and the
    1-row totals broadcast; the only data-scale shuffle is the per-doc
    sum (combinable).  This is DSIR's own scalability argument — hashing
    collapses the vocabulary to a constant-size model — expressed as
    broadcast joins."""
    docs = rebalance_for_cpu(load(spark, sf_dir, "documents"))
    tks = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    toks = docs.select(
        "doc_id", "lang", F.explode(tks).alias("tok")
    ).select(
        "doc_id",
        "lang",
        (
            F.conv(F.substring(F.md5(F.col("tok")), 1, 15), 16, 10).cast(
                "long"
            )
            % _DSIR_BUCKETS
        ).alias("b"),
    )
    raw_b = toks.groupBy("b").agg(F.count(F.lit(1)).cast("long").alias("cr"))
    tgt_b = (
        toks.where(F.col("lang") == "en")
        .groupBy("b")
        .agg(F.count(F.lit(1)).cast("long").alias("ct"))
    )
    totals = toks.agg(
        F.count(F.lit(1)).cast("long").alias("tr"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
        .cast("long")
        .alias("tt"),
    )
    from ..operators.sketch import int_bit_length as nbits
    scored = (
        toks.join(F.broadcast(raw_b), "b")
        .join(F.broadcast(tgt_b), "b", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "doc_id",
            (
                (
                    nbits(F.coalesce(F.col("ct"), F.lit(0)) + 1)
                    - nbits(F.col("cr") + 1)
                )
                - (
                    nbits(F.col("tt") + F.lit(_DSIR_BUCKETS))
                    - nbits(F.col("tr") + F.lit(_DSIR_BUCKETS))
                )
            )
            .cast("long")
            .alias("s_bits"),
        )
    )
    return (
        docs.select("doc_id")
        .join(scored, "doc_id", "left")
        .groupBy("doc_id")
        .agg(
            F.count("s_bits").cast("long").alias("n_toks"),
            F.coalesce(F.sum("s_bits"), F.lit(0))
            .cast("long")
            .alias("w_bits"),
        )
    )
