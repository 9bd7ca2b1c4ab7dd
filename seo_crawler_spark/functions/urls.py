"""URL canonicalization and classification — native Catalyst expressions.

The reference only strips fragments and rebuilds scheme://netloc/path?query
(reference: src/core/link_manager.py:34-38). The graft's north-star
canonicalization is a superset:

  * lowercase scheme + host
  * strip default port (:80 http, :443 https)
  * strip fragment
  * empty path -> '/'
  * sort query parameters (lexicographic over 'k=v' atoms)

Everything here is a pure column expression (whole-stage-codegen'd,
JVM-side) — the hot frontier path never leaves the JVM. A driver-side
urllib.parse twin (``_canonicalize_py``) serves the reference model,
the seed's base domain and the parity tests.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# --- component extraction -------------------------------------------------
# We avoid parse_url() (it rejects some malformed inputs) in favor of explicit
# regexes with defined fallbacks; one regex pass each, all codegen-friendly.

_SCHEME_RE = r"^([A-Za-z][A-Za-z0-9+.-]*):\/\/"
_AUTHORITY_RE = r"^[A-Za-z][A-Za-z0-9+.-]*:\/\/([^\/?#]*)"
_PATH_RE = r"^[A-Za-z][A-Za-z0-9+.-]*:\/\/[^\/?#]*([^?#]*)"
_QUERY_RE = r"\?([^#]*)"


def url_scheme(url: Column) -> Column:
    return F.lower(F.regexp_extract(url, _SCHEME_RE, 1))


def url_authority(url: Column) -> Column:
    """hostname[:port], lowercased."""
    return F.lower(F.regexp_extract(url, _AUTHORITY_RE, 1))


def url_host(url: Column) -> Column:
    """Hostname without port or userinfo."""
    auth = url_authority(url)
    no_user = F.regexp_replace(auth, r"^.*@", "")
    return F.regexp_replace(no_user, r":\d*$", "")


def url_path(url: Column) -> Column:
    return F.regexp_extract(url, _PATH_RE, 1)


def url_query(url: Column) -> Column:
    return F.regexp_extract(url, _QUERY_RE, 1)


def strip_www(host: Column) -> Column:
    """Reference semantics: netloc.replace('www.', '', 1)
    (src/core/link_manager.py:161-163) — removes the FIRST 'www.'
    occurrence anywhere, matching html.py/_strip_www and
    reference_model.py exactly (a leading-only ^www\\. anchor disagrees
    on hosts with an embedded 'www.')."""
    return F.regexp_replace(host, r"^(.*?)www\.", "$1")


def sorted_query(url: Column) -> Column:
    """Sort 'k=v' atoms lexicographically; empty when no query."""
    q = url_query(url)
    return F.when(
        q == "", F.lit("")
    ).otherwise(F.array_join(F.sort_array(F.split(q, "&")), "&"))


def canonicalize_url(url: Column) -> Column:
    """Full canonical form as a single column expression."""
    scheme = url_scheme(url)
    host = url_host(url)
    port = F.regexp_extract(url_authority(url), r":(\d+)$", 1)
    # keep a non-default explicit port
    keep_port = (port != "") & ~(
        ((scheme == "http") & (port == "80"))
        | ((scheme == "https") & (port == "443"))
    )
    netloc = F.when(keep_port, F.concat(host, F.lit(":"), port)).otherwise(host)
    path = url_path(url)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    q = sorted_query(url)
    return F.concat(
        scheme,
        F.lit("://"),
        netloc,
        path,
        F.when(q == "", F.lit("")).otherwise(F.concat(F.lit("?"), q)),
    )


def canonicalize_url_sql(col: str) -> str:
    """DuckDB-equivalent SQL for :func:`canonicalize_url` (oracle parity).

    Kept adjacent to the Spark expression so the two stay in lockstep.
    """
    scheme = f"lower(regexp_extract({col}, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))"
    auth = f"lower(regexp_extract({col}, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1))"
    host = f"regexp_replace(regexp_replace({auth}, '^.*@', ''), ':[0-9]*$', '')"
    port = f"regexp_extract({auth}, ':([0-9]+)$', 1)"
    path_raw = f"regexp_extract({col}, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1)"
    path = f"CASE WHEN {path_raw} = '' THEN '/' ELSE {path_raw} END"
    query = f"regexp_extract({col}, '\\?([^#]*)', 1)"
    sq = f"array_to_string(list_sort(string_split({query}, '&')), '&')"
    keep_port = (
        f"({port} <> '' AND NOT (({scheme} = 'http' AND {port} = '80')"
        f" OR ({scheme} = 'https' AND {port} = '443')))"
    )
    netloc = f"CASE WHEN {keep_port} THEN {host} || ':' || {port} ELSE {host} END"
    return (
        f"{scheme} || '://' || {netloc} || {path} || "
        f"CASE WHEN {query} = '' THEN '' ELSE '?' || {sq} END"
    )


def is_internal(url: Column, base_domain: Column | str) -> Column:
    """www-stripped netloc equality vs base domain (reference:
    src/core/link_manager.py:158-163 compares urlparse().netloc, which
    KEEPS a non-default port — so the comparison uses the full
    authority on both sides; a seed on 'host:8080' matches its own
    links instead of classifying everything external)."""
    base = F.lit(base_domain) if isinstance(base_domain, str) else base_domain
    return strip_www(url_authority(url)) == strip_www(F.lower(base))


def url_extension(url: Column) -> Column:
    """Lowercased extension of the last path segment, '' if none
    (reference: src/crawler.py:1154-1156 — path.split('.')[-1])."""
    path = F.lower(url_path(url))
    return F.when(
        path.contains("."), F.regexp_extract(path, r"\.([^./]*)$", 1)
    ).otherwise(F.lit(""))


def url_hash(url: Column) -> Column:
    """64-bit URL identity for the seen-set — built-in xxhash64 (JVM-side;
    north-star mandates xxhash and Spark ships it natively)."""
    return F.xxhash64(url)


# --- driver-side twin (reference model, seeds, tests; no hot path) ---------

def _canonicalize_py(u: str) -> str:
    from urllib.parse import urlsplit

    try:
        p = urlsplit(u)
    except ValueError:
        return u
    scheme = p.scheme.lower()
    host = (p.hostname or "").lower()
    port = p.port
    netloc = host
    if port is not None and not (
        (scheme == "http" and port == 80) or (scheme == "https" and port == 443)
    ):
        netloc = f"{host}:{port}"
    path = p.path or "/"
    query = "&".join(sorted(p.query.split("&"))) if p.query else ""
    return f"{scheme}://{netloc}{path}" + (f"?{query}" if query else "")

