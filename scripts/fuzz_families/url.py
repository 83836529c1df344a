"""Differential fuzz for URL canonicalization (the round-8
`operators/urls.py` surface) — THREE independent implementations per
seed:

1. the Spark Column pipeline (`urls.canonicalize`),
2. the DuckDB SQL rendering (`urls.canonicalize_sql`),
3. a pure-Python referee built on `urllib.parse.urlsplit` (shares no
   code and no regexes with either engine).

Spark vs DuckDB are hash-compared with the driver's normalization;
Python is asserted cell-by-cell against the Spark row.  A bug in the
shared regex set would slip a two-way compare (both renderings
interpolate the same literals) — the urllib referee exists to catch
exactly that class.

Grammar (seeded random): scheme case/choice (http/https/ftp), optional
mixed-case ``www.``, 1-3 host labels with digits, optional port
(default 80/443 and non-default 8080/8443), 0-3 mixed-case path
segments with optional trailing slash, 0-5 query params (utm_* tracking
keys, duplicate keys, valueless keys, empty segments from ``&&``), and
an optional fragment.  Every URL carries an explicit path (at least
``/``): the operator's documented contract parses the query out of the
path-and-after region, so authority-only URLs (``http://h?q``) are out
of scope by design — generator and docstring agree.

Run: python scripts/fuzz.py url [n_seeds] [out.json]
"""

from __future__ import annotations

from urllib.parse import urlsplit

SEED_BASE = 0
FIELDS = ("canon_url", "domain", "path", "n_params_kept", "n_tracking")

_SCHEMES = ["http", "https", "ftp", "HTTP", "HTTPS", "Http", "hTTps"]
_LABELS = ["example", "Example", "CDN", "data", "files", "a1", "x9y", "site"]
_TLDS = ["com", "org", "net", "io", "COM", "Org"]
_SEGS = ["Docs", "page-1", "A", "deep", "X2", "index.html", "%7Euser"]
_PARAMS = [
    "utm_source=feed",
    "utm_campaign=x",
    "utm_medium=a&b",  # '&' splits: yields a valueless 'b' param
    "id=42",
    "id=7",
    "ref=3",
    "a=1",
    "b=2",
    "flag",
    "z=",
    "",
]
_FRAGS = ["", "#sec1", "#", "#x/y?z"]


def gen_url(rng) -> str:
    scheme = rng.choice(_SCHEMES)
    www = rng.choice(["", "www.", "WWW.", "WwW."])
    labels = [rng.choice(_LABELS) for _ in range(rng.randint(1, 2))]
    host = www + ".".join(labels) + "." + rng.choice(_TLDS)
    port = rng.choice(["", ":80", ":443", ":8080", ":8443"])
    segs = [rng.choice(_SEGS) for _ in range(rng.randint(0, 3))]
    path = "/" + "/".join(segs) + ("/" if segs and rng.random() < 0.4 else "")
    n_params = rng.randint(0, 5)
    query = (
        "?" + "&".join(rng.choice(_PARAMS) for _ in range(n_params))
        if n_params
        else ""
    )
    frag = rng.choice(_FRAGS)
    return f"{scheme}://{host}{port}{path}{query}{frag}"


def py_canon(url: str) -> dict:
    """Independent referee: urllib parse + the documented rules."""
    s = urlsplit(url)
    scheme = s.scheme.lower()
    host = (s.hostname or "").lower()
    if host.startswith("www."):
        host = host[4:]
    port = ""
    if s.port is not None and not (
        (scheme == "https" and s.port == 443)
        or (scheme == "http" and s.port == 80)
    ):
        port = f":{s.port}"
    path = s.path.rstrip("/") or "/"
    all_params = [p for p in s.query.split("&") if p]
    kept = sorted(p for p in all_params if not p.startswith("utm_"))
    labels = host.split(".")
    domain = ".".join(labels[-2:]) if len(labels) >= 2 else ""
    return {
        "canon_url": f"{scheme}://{host}{port}{path}"
        + ("?" + "&".join(kept) if kept else ""),
        "domain": domain,
        "path": path,
        "n_params_kept": len(kept),
        "n_tracking": len(all_params) - len(kept),
    }


def case(rng, seed):
    return {"url": gen_url(rng)}


def check(run, c):
    import pyspark.sql.functions as F

    from nomad_event_streamer_spark.operators import urls

    url, spark = c["url"], run.spark  # the session first: F.col needs it
    canon = urls.canonicalize(F.col("url"))
    sdf = spark.createDataFrame([(url,)], "url string").select(
        "url", *[canon[k].alias(k) for k in FIELDS]
    )
    quoted = url.replace("'", "''")
    sql = f"""
    WITH raw AS (SELECT '{quoted}' AS url),
    {urls.canonicalize_sql("raw", "url")}
    SELECT url, {", ".join(FIELDS)} FROM uc3
    """
    cols, rows = run.compare(sdf, sql)
    row = dict(zip(cols, rows[0]))
    expect = py_canon(url)
    run.agree(referee=expect, spark={k: row[k] for k in expect})
