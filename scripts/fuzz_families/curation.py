"""Parametric differential fuzz for the round-8b curation operators —
the configuration space the fixed-literal §2 oracles cannot reach,
THREE independent implementations per seed:

1. a parameterized Spark Column pipeline (same shapes as
   q_line_dedup / q_quality_classifier / q_hashed_ngram_score, with the
   width/frequency/weight/bucket knobs randomized),
2. a parameterized DuckDB SQL rendering,
3. a pure-Python referee (str.split / collections.Counter / hashlib —
   shares no engine code, no SQL text, and no division operator
   semantics: it uses explicit truncate-toward-zero helpers).

Families, cycled per seed:
- line_dedup:   line width 3-20 words, kept-frequency cap 1-3;
  compares (n_lines, n_kept, reassembled clean_text) per document —
  the byte-exact reassembly is the part a slicing off-by-one breaks.
- classifier:   random integer weights/intercept/cap over the
  length/stopword/TTR/word-length features; compares logits per doc.
- hashed_ngram: bucket count in {4,8,16,32,64} and random milli
  weights; compares (n_feats, score) per doc — exercises the
  md5-int % K lambda path at Ks the fixed oracle never uses.

Run: python scripts/fuzz.py curation [n_seeds] [out.json]
"""

from __future__ import annotations

import hashlib
import random
from collections import Counter

SF = "/root/testdata/sf0.001"
SEED_BASE = 0


def _tdiv(p: int, q: int) -> int:
    """Truncate-toward-zero division (Spark div / DuckDB //)."""
    return -((-p) // q) if p < 0 else p // q


def _md5_int(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


# ---------------------------------------------------------------------------
# family: line dedup
# ---------------------------------------------------------------------------


def line_params(rng: random.Random) -> dict:
    return {"w": rng.randint(3, 20), "maxf": rng.randint(1, 3)}


def line_spark(spark, docs_df, p):
    import pyspark.sql.functions as F

    w = p["w"]
    toks = F.split(F.col("text"), " ")
    n_lines = F.expr(f"(size(split(text, ' ')) + {w - 1}) div {w}")
    lines_arr = F.transform(
        F.sequence(F.lit(0), (n_lines - F.lit(1)).cast("int")),
        lambda i: F.array_join(F.slice(toks, i * w + 1, w), " "),
    )
    lines = docs_df.select(
        "doc_id", F.posexplode(lines_arr).alias("line_no", "line")
    ).withColumn("line_no", F.col("line_no").cast("long"))
    freq = lines.groupBy("line").agg(F.count(F.lit(1)).alias("c"))
    kept = (
        lines.join(freq, "line")
        .where(F.col("c") <= p["maxf"])
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
    base = docs_df.select("doc_id", n_lines.cast("long").alias("n_lines"))
    return base.join(kept, "doc_id", "left").select(
        "doc_id",
        "n_lines",
        F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
    )


def line_sql(p) -> str:
    w = p["w"]
    return f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    l AS (
        SELECT doc_id, CAST(i AS BIGINT) AS line_no,
               array_to_string(toks[i*{w}+1 : i*{w}+{w}], ' ') AS line
        FROM t, unnest(range(0, (len(toks) + {w - 1}) // {w})) AS u(i)
    ),
    f AS (SELECT line, count(*) AS c FROM l GROUP BY 1),
    k AS (
        SELECT l.doc_id, CAST(count(*) AS BIGINT) AS n_kept,
               string_agg(l.line, ' ' ORDER BY l.line_no) AS clean_text
        FROM l JOIN f USING (line) WHERE f.c <= {p['maxf']}
        GROUP BY l.doc_id
    ),
    n AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines FROM l GROUP BY 1)
    SELECT n.doc_id, n.n_lines,
           CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
           coalesce(k.clean_text, '') AS clean_text
    FROM n LEFT JOIN k USING (doc_id)
    """


def line_py(texts: dict, p) -> dict:
    w = p["w"]

    def lines_of(t):
        toks = t.split(" ")
        return [" ".join(toks[i : i + w]) for i in range(0, len(toks), w)]

    freq: Counter = Counter()
    for t in texts.values():
        freq.update(lines_of(t))
    out = {}
    for doc_id, t in texts.items():
        ls = lines_of(t)
        kept = [ln for ln in ls if freq[ln] <= p["maxf"]]
        out[doc_id] = {
            "n_lines": len(ls),
            "n_kept": len(kept),
            "clean_text": " ".join(kept),
        }
    return out


# ---------------------------------------------------------------------------
# family: quality classifier
# ---------------------------------------------------------------------------


def clf_params(rng: random.Random) -> dict:
    return {
        "b": rng.randint(-5000, 5000),
        "w_tok": rng.randint(1, 40),
        "cap": rng.randint(50, 200),
        "w_stop": rng.randint(0, 10),
        "w_ttr": rng.randint(0, 10),
        "w_awl": rng.randint(0, 10),
    }


def clf_spark(spark, docs_df, p):
    import pyspark.sql.functions as F

    toks = F.split(F.col("text"), " ")
    n_tok = F.size(toks).cast("long")
    n_stop = F.size(F.filter(toks, lambda x: (x == "a") | (x == "the"))).cast(
        "long"
    )
    n_uniq = F.size(F.array_distinct(toks)).cast("long")
    n_chars = F.length("text").cast("long")
    feats = docs_df.select(
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
        F.lit(p["b"])
        + F.lit(p["w_tok"]) * F.least(F.col("n_tok"), F.lit(p["cap"]))
        - F.lit(p["w_stop"]) * F.col("stop_milli")
        + F.lit(p["w_ttr"]) * F.col("ttr_milli")
        - F.lit(p["w_awl"]) * F.col("awl_milli")
    ).cast("long")
    return feats.select("doc_id", logit.alias("logit_milli"))


def clf_sql(p) -> str:
    return f"""
    WITH f AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
               CAST(len(list_filter(string_split(text, ' '),
                        x -> x = 'a' OR x = 'the')) AS BIGINT) AS n_stop,
               CAST(len(list_distinct(string_split(text, ' ')))
                    AS BIGINT) AS n_uniq,
               CAST(length(text) AS BIGINT) AS n_chars
        FROM documents
    )
    SELECT doc_id,
           CAST({p['b']} + {p['w_tok']} * least(n_tok, {p['cap']})
                - {p['w_stop']} * (n_stop * 1000 // n_tok)
                + {p['w_ttr']} * (n_uniq * 1000 // n_tok)
                - {p['w_awl']} * ((n_chars - n_tok + 1) * 1000 // n_tok)
                AS BIGINT) AS logit_milli
    FROM f
    """


def clf_py(texts: dict, p) -> dict:
    out = {}
    for doc_id, t in texts.items():
        toks = t.split(" ")
        n_tok = len(toks)
        stop = _tdiv(sum(1 for x in toks if x in ("a", "the")) * 1000, n_tok)
        ttr = _tdiv(len(set(toks)) * 1000, n_tok)
        awl = _tdiv((len(t) - n_tok + 1) * 1000, n_tok)
        out[doc_id] = {
            "logit_milli": (
                p["b"]
                + p["w_tok"] * min(n_tok, p["cap"])
                - p["w_stop"] * stop
                + p["w_ttr"] * ttr
                - p["w_awl"] * awl
            )
        }
    return out


# ---------------------------------------------------------------------------
# family: hashed n-gram scorer
# ---------------------------------------------------------------------------


def hng_params(rng: random.Random) -> dict:
    k = rng.choice([4, 8, 16, 32, 64])
    return {"k": k, "w": [rng.randint(-100, 100) for _ in range(k)]}


def hng_spark(spark, docs_df, p):
    import pyspark.sql.functions as F

    w_sql = ", ".join(str(x) for x in p["w"])
    bigrams = (
        "CASE WHEN size(toks) >= 2 THEN transform(sequence(1, size(toks) - 1),"
        " i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))"
        " ELSE array() END"
    )
    score = F.expr(
        f"aggregate({bigrams}, 0L, (acc, b) -> acc +"
        f" element_at(array({w_sql}),"
        f" CAST(CAST(conv(substring(md5(b), 1, 15), 16, 10) AS BIGINT)"
        f" % {p['k']} AS INT) + 1))"
    )
    return docs_df.select("doc_id", F.split("text", " ").alias("toks")).select(
        "doc_id", score.cast("long").alias("score_milli")
    )


def hng_sql(p) -> str:
    w_sql = ", ".join(str(x) for x in p["w"])
    return f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    g AS (
        SELECT doc_id,
               CASE WHEN len(toks) >= 2 THEN
                   [toks[i] || ' ' || toks[i+1] FOR i IN range(1, len(toks))]
               ELSE [] END AS bigrams
        FROM t
    )
    SELECT doc_id,
           CAST(coalesce(list_sum(list_transform(bigrams,
                b -> [{w_sql}][
                    CAST(CAST(concat('0x', substring(md5(b), 1, 15))
                         AS BIGINT) % {p['k']} AS INT) + 1])), 0)
                AS BIGINT) AS score_milli
    FROM g
    """


def hng_py(texts: dict, p) -> dict:
    out = {}
    for doc_id, t in texts.items():
        toks = t.split(" ")
        bigrams = (
            [f"{a} {b}" for a, b in zip(toks, toks[1:])]
            if len(toks) >= 2
            else []
        )
        out[doc_id] = {
            "score_milli": sum(
                p["w"][_md5_int(b) % p["k"]] for b in bigrams
            )
        }
    return out


KINDS = [
    ("line_dedup", line_params, line_spark, line_sql, line_py),
    ("classifier", clf_params, clf_spark, clf_sql, clf_py),
    ("hashed_ngram", hng_params, hng_spark, hng_sql, hng_py),
]


def setup(run):
    from nomad_event_streamer_spark.tables import load

    docs_df = load(run.spark, SF, "documents").select("doc_id", "text")
    docs_df.persist().count()
    return docs_df, {r["doc_id"]: r["text"] for r in docs_df.collect()}


def case(rng, seed):
    kind, gen = KINDS[seed % len(KINDS)][:2]
    return {"kind": kind, "params": gen(rng)}


def check(run, c):
    _, _, f_spark, f_sql, f_py = next(k for k in KINDS if k[0] == c["kind"])
    docs_df, texts = run.state
    p = c["params"]
    cols, rows = run.compare(f_spark(run.spark, docs_df, p), f_sql(p))
    got = {r[cols.index("doc_id")]: dict(zip(cols, r)) for r in rows}
    expect = f_py(texts, p)
    run.agree(
        referee=expect,
        spark={d: {k: got.get(d, {}).get(k) for k in e} for d, e in expect.items()},
    )
    return {"kind": c["kind"]}
