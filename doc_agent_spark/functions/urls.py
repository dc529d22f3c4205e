"""URL canonicalization for crawl curation — the dedup-key normalizer that
runs BEFORE content dedup in a web pipeline (two crawls of the same page
differ only in tracking params / host case / default port / fragment; the
canonical URL collapses them so URL-level dedup catches re-crawls without
touching document bytes).

Steps (the standard crawl-frontier canon, cf. Apache Nutch's
urlnormalizer-basic):
  1. drop the fragment (`#...` never reaches the server)
  2. lowercase the scheme+host, strip a leading `www.`, strip default
     ports (`:80` http, `:443` https)
  3. drop tracking query params (utm_*, fbclid, gclid), sort the rest
     for order-insensitivity, drop the `?` when nothing survives

Everything is split_part/array string algebra — NO engine-specific URL
parser (Spark's parse_url has no DuckDB analog), so the oracle reproduces
the canon byte-for-byte. Zero-shuffle projections; at 100 TB this is scan
-side work that feeds the URL-dedup groupBy with already-32-byte-hashable
keys.

`registered_domain` is the naive last-two-labels rule; a production
pipeline swaps in the Public Suffix List (a ~10k-row broadcast join —
same shape, bigger table). Documented stub, not a hidden approximation.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

TRACKING_PREFIXES = ("utm_", "fbclid", "gclid")


def _strip_fragment(url: Column) -> Column:
    return F.substring_index(url, "#", 1)


def url_canonicalize(url: Column) -> Column:
    """Canonical form of an absolute http(s) URL (see module docstring)."""
    nofrag = _strip_fragment(url)
    scheme = F.lower(F.substring_index(nofrag, "://", 1))
    rest = F.substring(nofrag, F.length(scheme) + 4, F.lit(1 << 30))
    # '?' may precede any '/' (https://h?q=1 is legal): the host ends at
    # whichever comes first, else url_host/dedup keys absorb the query
    hostport = F.substring_index(F.substring_index(rest, "/", 1), "?", 1)
    pathq = F.substring(rest, F.length(hostport) + 1, F.lit(1 << 30))
    host = F.lower(F.substring_index(hostport, ":", 1))
    host = F.when(host.startswith("www."), F.substring(host, 5, 1 << 30)).otherwise(host)
    port = F.when(
        hostport.contains(":"), F.substring_index(hostport, ":", -1)
    ).otherwise(F.lit(""))
    keep_port = (
        (port != "")
        & ~((scheme == "http") & (port == "80"))
        & ~((scheme == "https") & (port == "443"))
    )
    hostc = F.when(keep_port, F.concat(host, F.lit(":"), port)).otherwise(host)
    path = F.substring_index(pathq, "?", 1)
    query = F.when(
        pathq.contains("?"), F.substring(pathq, F.length(path) + 2, F.lit(1 << 30))
    ).otherwise(F.lit(""))
    kept = F.array_sort(
        F.filter(
            F.split(query, "&"),
            lambda p: (p != "")
            & ~p.startswith("utm_")
            & ~p.startswith("fbclid")
            & ~p.startswith("gclid"),
        )
    )
    qc = F.array_join(kept, "&")
    return F.concat(
        scheme, F.lit("://"), hostc,
        F.when(path == "", F.lit("/")).otherwise(path),
        F.when(qc == "", F.lit("")).otherwise(F.concat(F.lit("?"), qc)),
    )


def url_host(url: Column) -> Column:
    """Lowercased host (port and `www.` stripped)."""
    nofrag = _strip_fragment(url)
    scheme = F.lower(F.substring_index(nofrag, "://", 1))
    rest = F.substring(nofrag, F.length(scheme) + 4, F.lit(1 << 30))
    host = F.lower(F.substring_index(F.substring_index(
        F.substring_index(rest, "/", 1), "?", 1), ":", 1))
    return F.when(host.startswith("www."), F.substring(host, 5, 1 << 30)).otherwise(host)


def url_pathq(url: Column) -> Column:
    """Path + query of an absolute URL ('/' when empty) — the slice
    robots.txt Disallow prefixes match against."""
    nofrag = _strip_fragment(url)
    scheme = F.lower(F.substring_index(nofrag, "://", 1))
    rest = F.substring(nofrag, F.length(scheme) + 4, F.lit(1 << 30))
    hostport = F.substring_index(F.substring_index(rest, "/", 1), "?", 1)
    pathq = F.substring(rest, F.length(hostport) + 1, F.lit(1 << 30))
    return F.when(pathq == "", F.lit("/")).otherwise(pathq)


def registered_domain(url: Column) -> Column:
    """Naive registered domain: the host's last two dot-labels (production:
    Public Suffix List broadcast join — same plan shape)."""
    labels = F.split(url_host(url), r"\.")
    n = F.size(labels)
    return F.when(
        n <= 2, F.array_join(labels, ".")
    ).otherwise(
        F.concat(F.element_at(labels, -2), F.lit("."), F.element_at(labels, -1))
    )


def url_canonicalize_sql(url_expr: str) -> str:
    """DuckDB mirror of url_canonicalize (identical split_part algebra)."""
    nofrag = f"split_part({url_expr}, '#', 1)"
    scheme = f"lower(split_part({nofrag}, '://', 1))"
    rest = f"substring({nofrag}, length({scheme}) + 4)"
    hostport = f"split_part(split_part({rest}, '/', 1), '?', 1)"
    pathq = f"substring({rest}, length({hostport}) + 1)"
    host0 = f"lower(split_part({hostport}, ':', 1))"
    host = f"CASE WHEN starts_with({host0}, 'www.') THEN substring({host0}, 5) ELSE {host0} END"
    port = f"CASE WHEN contains({hostport}, ':') THEN split_part({hostport}, ':', 2) ELSE '' END"
    keep_port = (
        f"({port} <> '' AND NOT ({scheme} = 'http' AND {port} = '80')"
        f" AND NOT ({scheme} = 'https' AND {port} = '443'))"
    )
    hostc = f"CASE WHEN {keep_port} THEN {host} || ':' || {port} ELSE {host} END"
    path = f"split_part({pathq}, '?', 1)"
    query = f"CASE WHEN contains({pathq}, '?') THEN substring({pathq}, length({path}) + 2) ELSE '' END"
    kept = (
        f"list_sort(list_filter(string_split({query}, '&'), p -> p <> ''"
        f" AND NOT starts_with(p, 'utm_') AND NOT starts_with(p, 'fbclid')"
        f" AND NOT starts_with(p, 'gclid')))"
    )
    # DuckDB array_to_string([]) is NULL where Spark array_join([]) is ''
    qc = f"coalesce(array_to_string({kept}, '&'), '')"
    return (
        f"{scheme} || '://' || {hostc}"
        f" || (CASE WHEN {path} = '' THEN '/' ELSE {path} END)"
        f" || (CASE WHEN {qc} = '' THEN '' ELSE '?' || {qc} END)"
    )


# ---------------------------------------------------------------------------
# outlink extraction + reference resolution (crawl frontier discovery)
# ---------------------------------------------------------------------------
#
# The step between "page fetched" and "frontier grows": pull every href out
# of the HTML, resolve it against the page URL (RFC 3986 merge + dot-segment
# removal), canonicalize, and the result is the link graph PageRank /
# host-centrality runs on. All of it stays codegen'd string algebra — the
# per-page work is scan-side, the only shuffle is whatever aggregation the
# caller puts on top.
#
# Scope (documented, mirrored in the oracle): only <a>/<area> tag hrefs are
# outlinks (<link> stylesheets/icons, <base>, data-href and script text are
# NOT crawl targets — the first cut matched bare 'href=' anywhere and would
# fill a real frontier with asset URLs); <base href> re-basing is not
# honored (pages using <base> resolve relative refs against the page URL —
# documented approximation). Values are read up to the first quote/
# whitespace/'>' (attribute values containing spaces truncate — frontier
# URLs never legitimately contain raw spaces), and dot-segment removal is
# bounded at _DOT_ROUNDS nesting levels (8 levels of ../ per round pair;
# deeper chains — hostile input — resolve partially, which a frontier
# treats as just another URL). No lookaround anywhere so Java regex and
# RE2 (DuckDB) agree byte-for-byte; the optional (?:[^>]*?\s)? prefix
# forces the attribute NAME to be exactly href (data-href has '-' before
# it, not whitespace).

_HREF_RE = r"""(?i)<(?:a|area)\s(?:[^>]*?\s)?href=["']?([^"'\s>]+)"""
_DOT_ROUNDS = 4
# a path segment that is neither '.' nor '..': contains >=1 non-dot char
_SEG = "[^/]*[^./][^/]*"


def extract_hrefs(html: Column) -> Column:
    """All href attribute values in document order (quoted or bare)."""
    return F.regexp_extract_all(html, F.lit(_HREF_RE), 1)


def _normalize_dots(path: Column) -> Column:
    """Bounded dot-segment removal ('/a/./b/../c' → '/a/c'); each round
    collapses one nesting level of './', 'seg/../', a leading '/../' clamp,
    and the end-of-path forms."""
    p = path
    for _ in range(_DOT_ROUNDS):
        p = F.regexp_replace(p, r"/\./", "/")
        p = F.regexp_replace(p, f"/{_SEG}/\\.\\./", "/")
        p = F.regexp_replace(p, r"^/\.\./", "/")
        p = F.regexp_replace(p, r"/\.$", "/")
        p = F.regexp_replace(p, f"/{_SEG}/\\.\\.$", "/")
        p = F.regexp_replace(p, r"^/\.\.$", "/")
    return p


def resolve_url(base: Column, ref: Column) -> Column:
    """Resolve an href against the page URL: absolute refs pass through;
    protocol-relative take the base scheme; root-relative take the origin;
    query-only replace the query; fragment-only re-anchor the base; plain
    relative paths merge with the base directory + dot-segment removal."""
    nofrag = F.substring_index(base, "#", 1)
    scheme = F.lower(F.substring_index(nofrag, "://", 1))
    rest = F.substring(nofrag, F.length(scheme) + 4, F.lit(1 << 30))
    hostport = F.substring_index(F.substring_index(rest, "/", 1), "?", 1)
    origin = F.concat(scheme, F.lit("://"), hostport)
    pathq = F.substring(rest, F.length(hostport) + 1, F.lit(1 << 30))
    path = F.substring_index(pathq, "?", 1)            # '' when base has no path
    basepath = F.when(path == "", F.lit("/")).otherwise(path)
    dirpath = F.when(
        basepath.rlike("/$"), basepath
    ).otherwise(F.regexp_replace(basepath, "[^/]*$", ""))
    return (
        F.when(ref.rlike("^[a-zA-Z][a-zA-Z0-9+.-]*:"), ref)
        .when(ref.startswith("//"), F.concat(scheme, F.lit(":"), ref))
        .when(ref.startswith("/"), F.concat(origin, _normalize_dots(ref)))
        .when(ref.startswith("?"), F.concat(origin, path, ref))
        .when(ref.startswith("#"), F.concat(origin, pathq, ref))
        .otherwise(F.concat(origin, _normalize_dots(F.concat(dirpath, ref))))
    )


def extract_hrefs_sql(html_expr: str) -> str:
    """DuckDB mirror of extract_hrefs (same RE2-safe pattern)."""
    return (
        "regexp_extract_all(" + html_expr
        + ", '(?i)<(?:a|area)\\s(?:[^>]*?\\s)?href=[\"'']?([^\"''\\s>]+)', 1)"
    )


def _normalize_dots_sql(path_expr: str) -> str:
    p = path_expr
    for _ in range(_DOT_ROUNDS):
        p = f"regexp_replace({p}, '/\\./', '/', 'g')"
        p = f"regexp_replace({p}, '/{_SEG}/\\.\\./', '/', 'g')"
        p = f"regexp_replace({p}, '^/\\.\\./', '/', 'g')"
        p = f"regexp_replace({p}, '/\\.$', '/', 'g')"
        p = f"regexp_replace({p}, '/{_SEG}/\\.\\.$', '/', 'g')"
        p = f"regexp_replace({p}, '^/\\.\\.$', '/', 'g')"
    return p


def resolve_url_sql(base_expr: str, ref_expr: str) -> str:
    """DuckDB mirror of resolve_url (identical branch + merge algebra)."""
    nofrag = f"split_part({base_expr}, '#', 1)"
    scheme = f"lower(split_part({nofrag}, '://', 1))"
    rest = f"substring({nofrag}, length({scheme}) + 4)"
    hostport = f"split_part(split_part({rest}, '/', 1), '?', 1)"
    origin = f"({scheme} || '://' || {hostport})"
    pathq = f"substring({rest}, length({hostport}) + 1)"
    path = f"split_part({pathq}, '?', 1)"
    basepath = f"(CASE WHEN {path} = '' THEN '/' ELSE {path} END)"
    dirpath = (
        f"(CASE WHEN regexp_matches({basepath}, '/$') THEN {basepath}"
        f" ELSE regexp_replace({basepath}, '[^/]*$', '') END)"
    )
    r = ref_expr
    return (
        f"CASE WHEN regexp_matches({r}, '^[a-zA-Z][a-zA-Z0-9+.-]*:') THEN {r}"
        f" WHEN starts_with({r}, '//') THEN {scheme} || ':' || {r}"
        f" WHEN starts_with({r}, '/') THEN {origin} || {_normalize_dots_sql(r)}"
        f" WHEN starts_with({r}, '?') THEN {origin} || {path} || {r}"
        f" WHEN starts_with({r}, '#') THEN {origin} || {pathq} || {r}"
        f" ELSE {origin} || {_normalize_dots_sql(f'({dirpath} || {r})')} END"
    )


def registered_domain_sql(url_expr: str) -> str:
    """DuckDB mirror of registered_domain."""
    nofrag = f"split_part({url_expr}, '#', 1)"
    scheme = f"lower(split_part({nofrag}, '://', 1))"
    rest = f"substring({nofrag}, length({scheme}) + 4)"
    host0 = f"lower(split_part(split_part(split_part({rest}, '/', 1), '?', 1), ':', 1))"
    host = f"CASE WHEN starts_with({host0}, 'www.') THEN substring({host0}, 5) ELSE {host0} END"
    labels = f"string_split({host}, '.')"
    return (
        f"CASE WHEN len({labels}) <= 2 THEN array_to_string({labels}, '.')"
        f" ELSE {labels}[-2] || '.' || {labels}[-1] END"
    )
