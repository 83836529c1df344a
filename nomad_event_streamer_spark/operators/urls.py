"""URL canonicalization — the normalization pass a crawl-scale curation
pipeline runs before URL-keyed dedup and domain-level rollups (the
Dolma/CCNet "canonical URL + registered domain" cut).

The reference (`app.rb:1-278`) has no URL handling at all; this is EXT
surface mandated by BASELINE.json's LLM-data-pipeline north star.

Everything here is pure Column expressions (regexp + array HOFs — no
Python boundary, whole-stage codegen end-to-end), so the pass is a
per-row map over the crawl: no shuffle, no state, scan-bound at any
corpus size.  ``canonicalize_sql`` renders the IDENTICAL pipeline for
DuckDB; the shared regex literals live in this module so the two
renderings cannot drift.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column

# Shared regex literals (Java regex and RE2 agree on this subset: no
# backreferences, no lookaround; regexp_extract returns '' on no-match
# in BOTH engines — verified).
RE_SCHEME = "^([A-Za-z]+)://"
RE_HOSTPORT = "^[A-Za-z]+://([^/]+)"
RE_PORT = ":([0-9]+)$"
RE_PORT_STRIP = ":[0-9]+$"
RE_WWW = "^www\\."
RE_PATHQ = "^[A-Za-z]+://[^/]*(/[^#]*)"
RE_PATH = "^([^?]*)"
RE_QUERY = "\\?(.*)$"
RE_TRAIL_SLASH = "/$"
RE_REG_DOMAIN = "([^.]+\\.[^.]+)$"
TRACKING_PREFIX = "utm_"


def canonicalize(url: Column) -> dict[str, Column]:
    """Decompose + canonicalize a URL column.

    Rules (RFC 3986 §6 syntax-based normalization plus the
    tracking-parameter strip every crawler applies):
      - scheme and host lowercased;
      - leading ``www.`` stripped from the host;
      - default ports dropped (``:443`` for https, ``:80`` for http),
        non-default ports kept;
      - fragment dropped;
      - ``utm_*`` tracking parameters dropped, surviving parameters
        sorted bytewise and re-joined (order-insensitive canonical
        query);
      - trailing slash collapsed (``/a/`` -> ``/a``; bare ``/`` kept).

    Returns named Columns: ``scheme host domain port_suffix path
    params_kept n_params_kept n_tracking canon_url``.
    """
    scheme = F.lower(F.regexp_extract(url, RE_SCHEME, 1))
    hostport = F.regexp_extract(url, RE_HOSTPORT, 1)
    host = F.regexp_replace(
        F.lower(F.regexp_replace(hostport, RE_PORT_STRIP, "")), RE_WWW, ""
    )
    port = F.regexp_extract(hostport, RE_PORT, 1)
    port_suffix = (
        F.when(port == "", F.lit(""))
        .when((scheme == "https") & (port == "443"), F.lit(""))
        .when((scheme == "http") & (port == "80"), F.lit(""))
        .otherwise(F.concat(F.lit(":"), port))
    )
    pathq = F.regexp_extract(url, RE_PATHQ, 1)
    stripped = F.regexp_replace(
        F.regexp_extract(pathq, RE_PATH, 1), RE_TRAIL_SLASH, ""
    )
    path = F.when(stripped == "", F.lit("/")).otherwise(stripped)
    query_part = F.regexp_extract(pathq, RE_QUERY, 1)
    all_params = F.filter(F.split(query_part, "&"), lambda p: p != "")
    kept = F.array_sort(
        F.filter(all_params, lambda p: ~p.startswith(TRACKING_PREFIX))
    )
    params_kept = F.array_join(kept, "&")
    canon = F.concat(
        scheme,
        F.lit("://"),
        host,
        port_suffix,
        path,
        F.when(params_kept == "", F.lit("")).otherwise(
            F.concat(F.lit("?"), params_kept)
        ),
    )
    return {
        "scheme": scheme,
        "host": host,
        "domain": F.regexp_extract(host, RE_REG_DOMAIN, 1),
        "port_suffix": port_suffix,
        "path": path,
        "params_kept": params_kept,
        "n_params_kept": F.size(kept).cast("long"),
        "n_tracking": (F.size(all_params) - F.size(kept)).cast("long"),
        "canon_url": canon,
    }


def canonicalize_sql(source_cte: str = "raw", carry: str = "doc_id, url") -> str:
    """DuckDB rendering of the SAME pipeline as chained CTE text.

    Expects a prior CTE ``source_cte`` exposing at least a ``url``
    column plus the ``carry`` columns; emits CTEs ``uc1, uc2, uc3``
    where ``uc3`` carries ``{carry}, scheme, host, domain, port_suffix,
    path, params_kept, n_params_kept, n_tracking, canon_url``.  The
    fragment starts and ends WITHOUT a comma (caller joins with commas
    in its WITH chain)."""
    return f"""
    uc1 AS (
        SELECT {carry},
               lower(regexp_extract(url, '{RE_SCHEME}', 1)) AS scheme,
               regexp_extract(url, '{RE_HOSTPORT}', 1) AS hostport,
               regexp_extract(url, '{RE_PATHQ}', 1) AS pathq
        FROM {source_cte}
    ),
    uc2 AS (
        SELECT {carry}, scheme,
               regexp_replace(
                   lower(regexp_replace(hostport, '{RE_PORT_STRIP}', '')),
                   '{RE_WWW}', '') AS host,
               regexp_extract(hostport, '{RE_PORT}', 1) AS port,
               regexp_replace(regexp_extract(pathq, '{RE_PATH}', 1),
                              '{RE_TRAIL_SLASH}', '') AS stripped,
               list_filter(
                   string_split(regexp_extract(pathq, '{RE_QUERY}', 1), '&'),
                   p -> p <> '') AS all_params
        FROM uc1
    ),
    uc3 AS (
        SELECT {carry}, scheme, host,
               regexp_extract(host, '{RE_REG_DOMAIN}', 1) AS domain,
               CASE WHEN port = '' THEN ''
                    WHEN scheme = 'https' AND port = '443' THEN ''
                    WHEN scheme = 'http' AND port = '80' THEN ''
                    ELSE ':' || port END AS port_suffix,
               CASE WHEN stripped = '' THEN '/' ELSE stripped END AS path,
               -- coalesce: DuckDB's array_to_string([]) is NULL where
               -- Spark's array_join([]) is '' — latent NULL-propagation
               -- divergence found by scripts/fuzz_families/url.py (the registered
               -- corpus URLs always keep >= 2 params, so the hash gate
               -- alone never hits the empty-kept branch)
               coalesce(array_to_string(
                   list_sort(list_filter(all_params,
                       p -> NOT starts_with(p, '{TRACKING_PREFIX}'))),
                   '&'), '') AS params_kept,
               CAST(len(list_filter(all_params,
                       p -> NOT starts_with(p, '{TRACKING_PREFIX}')))
                    AS BIGINT) AS n_params_kept,
               CAST(len(all_params)
                    - len(list_filter(all_params,
                          p -> NOT starts_with(p, '{TRACKING_PREFIX}')))
                    AS BIGINT) AS n_tracking,
               scheme || '://' || host
                   || CASE WHEN port = '' THEN ''
                           WHEN scheme = 'https' AND port = '443' THEN ''
                           WHEN scheme = 'http' AND port = '80' THEN ''
                           ELSE ':' || port END
                   || CASE WHEN stripped = '' THEN '/' ELSE stripped END
                   || CASE WHEN coalesce(array_to_string(
                               list_sort(list_filter(all_params,
                                   p -> NOT starts_with(p, '{TRACKING_PREFIX}'))),
                               '&'), '') = '' THEN ''
                           ELSE '?' || array_to_string(
                               list_sort(list_filter(all_params,
                                   p -> NOT starts_with(p, '{TRACKING_PREFIX}'))),
                               '&') END AS canon_url
        FROM uc2
    )"""
