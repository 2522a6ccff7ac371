"""URL operators for crawl pipelines: parsing + canonical normalization.

Crawl-scale dedup keys on the *normalized* URL (scheme/host case, default
ports, tracking params, fragments, and trailing slashes all produce
distinct raw strings for the same page).  Everything here is JVM-side
regexp/string expressions so the DuckDB oracle re-derives it exactly —
no UDF, no Spark-only builtins (``parse_url`` has no cross-engine twin).

Normalization rules (the conservative, loss-free subset):
- scheme and host lowercased
- default ports stripped (``:80`` for http, ``:443`` for https)
- fragment dropped; query dropped entirely (crawl-dedup convention —
  tracking params dominate; keep the query variant if you need it)
- trailing slash stripped from non-root paths; empty path → ``/``
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

_URL_RE = r"^([a-zA-Z][a-zA-Z0-9+.-]*)://([^/?#]+)([^?#]*)"


def url_parts(df: DataFrame) -> DataFrame:
    """Append (scheme, host, port, path) parsed from ``url``."""
    url = F.col("url")
    scheme = F.lower(F.regexp_extract(url, _URL_RE, 1))
    authority = F.regexp_extract(url, _URL_RE, 2)
    host = F.lower(F.regexp_extract(authority, r"^([^:]+)", 1))
    port = F.regexp_extract(authority, r":(\d+)$", 1)
    path = F.regexp_extract(url, _URL_RE, 3)
    return df.select(
        "*",
        scheme.alias("scheme"),
        host.alias("host"),
        F.when(port != "", port.cast("int")).alias("port"),
        path.alias("path"),
    )


def normalize_urls(df: DataFrame) -> DataFrame:
    """Append ``url_norm`` — the canonical form of ``url``, a dedup key."""
    url = F.col("url")
    scheme = F.lower(F.regexp_extract(url, _URL_RE, 1))
    authority = F.regexp_extract(url, _URL_RE, 2)
    host = F.lower(F.regexp_extract(authority, r"^([^:]+)", 1))
    port = F.regexp_extract(authority, r":(\d+)$", 1)
    keep_port = (port != "") & ~(
        ((scheme == F.lit("http")) & (port == "80"))
        | ((scheme == F.lit("https")) & (port == "443"))
    )
    path = F.regexp_extract(url, _URL_RE, 3)
    stripped = F.regexp_replace(path, "/$", "")
    norm_path = F.when(stripped == "", F.lit("/")).otherwise(stripped)
    norm = F.concat(
        scheme,
        F.lit("://"),
        host,
        F.when(keep_port, F.concat(F.lit(":"), port)).otherwise(F.lit("")),
        norm_path,
    )
    return df.select("*", norm.alias("url_norm"))
