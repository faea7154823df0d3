"""URL parsing & canonicalization — JVM-native expressions, no Python.

The web-pipeline trio every crawl job needs before grouping anything:
host extraction, URL normalization (dedup keys: byte-different URLs that
name the same resource must collide), and registered-domain extraction
(per-site aggregation, crawl politeness, domain-level sampling keys —
the unit "popular-domain skew" is measured in).

All regexp/string expressions are RE2-compatible (no backrefs or
lookaround) so the DuckDB oracle twin runs the very same patterns — the
repo-wide convention established by the html-extract chain
(functions/text.py).

Normalization contract (the widely-implemented safe subset of RFC 3986
§6: only transforms that never change the named resource):
scheme and host lowercased, userinfo dropped, default ports stripped
(http:80, https:443), fragment dropped, empty path → "/". Query strings
are preserved byte-for-byte (reordering parameters is NOT
semantics-preserving). Registered domain = last two labels, or last
three when the 2-label tail is a multi-part public suffix (embedded
subset of the public-suffix list's most common entries; the full PSL is
a data-file swap, same expression shape).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# most common multi-part public suffixes (PSL subset; swap in the full
# list as a literal set without changing the expression shape)
MULTI_SUFFIXES = (
    "co.uk", "org.uk", "ac.uk", "gov.uk", "me.uk", "net.uk",
    "com.au", "net.au", "org.au", "edu.au", "gov.au",
    "co.jp", "ne.jp", "or.jp", "ac.jp", "go.jp",
    "com.br", "net.br", "org.br", "com.cn", "net.cn", "org.cn",
    "com.mx", "com.ar", "com.tr", "co.in", "co.kr", "co.za",
    "com.sg", "com.hk", "com.tw",
)

_SCHEME_RE = "^([a-zA-Z][a-zA-Z0-9+.-]*)://"
_AUTH_RE = "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)"
_USER_RE = "([^@]*)$"  # keep what follows the last '@' of the authority
_PATHQ_RE = "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^#]*)"  # path+query, no fragment


def url_host(url: Column) -> Column:
    """Lowercased host: authority minus userinfo and port."""
    auth = F.regexp_extract(url, _AUTH_RE, 1)
    hostport = F.regexp_extract(auth, _USER_RE, 1)
    return F.lower(F.regexp_extract(hostport, "^([^:]*)", 1))


def url_port(url: Column) -> Column:
    """Explicit port string ('' when absent)."""
    auth = F.regexp_extract(url, _AUTH_RE, 1)
    hostport = F.regexp_extract(auth, _USER_RE, 1)
    return F.regexp_extract(hostport, ":([0-9]+)$", 1)


def url_normalize(url: Column) -> Column:
    """Canonical dedup key per the module contract.

    Unparseable URLs (no scheme://authority — common in malformed
    WARC-Target-URIs) fall back to the RAW input as their key: every regexp
    extracts '' on them, and collapsing them all to the ':///' concat would
    merge byte-different URLs naming different resources into one dedup
    group (data loss). The raw fallback can never collide with a normalized
    key, because any string matching scheme://host would have parsed."""
    scheme = F.lower(F.regexp_extract(url, _SCHEME_RE, 1))
    host = url_host(url)
    port = url_port(url)
    keep_port = (
        (port != "")
        & ~((scheme == "http") & (port == "80"))
        & ~((scheme == "https") & (port == "443"))
    )
    pathq = F.regexp_extract(url, _PATHQ_RE, 1)
    normalized = F.concat(
        scheme,
        F.lit("://"),
        host,
        F.when(keep_port, F.concat(F.lit(":"), port)).otherwise(F.lit("")),
        # empty path → '/', INCLUDING when a query follows directly on the
        # authority ('http://h?a=1' ≡ 'http://h/?a=1', RFC 3986 §6.2.3) —
        # otherwise the two spellings get distinct dedup keys
        F.when(pathq == "", F.lit("/"))
        .when(pathq.startswith("?"), F.concat(F.lit("/"), pathq))
        .otherwise(pathq),
    )
    return F.when((scheme == "") | (host == ""), url).otherwise(normalized)


def registered_domain(host: Column) -> Column:
    """Site key: last 2 labels, or 3 over a multi-part public suffix."""
    last2 = F.regexp_extract(host, "([^.]+\\.[^.]+)$", 1)
    last3 = F.regexp_extract(host, "([^.]+\\.[^.]+\\.[^.]+)$", 1)
    return (
        F.when(last2.isin(*MULTI_SUFFIXES) & (last3 != ""), last3)
        .when(last2 != "", last2)
        .otherwise(host)
    )


def url_sql_parts(url: str) -> dict[str, str]:
    """DuckDB twins (same RE2 patterns): exprs for host, port, norm_url,
    reg_domain over an input expression ``url``."""
    scheme = f"lower(regexp_extract({url}, '{_SCHEME_RE}', 1))"
    auth = f"regexp_extract({url}, '{_AUTH_RE}', 1)"
    hostport = f"regexp_extract({auth}, '{_USER_RE}', 1)"
    host = f"lower(regexp_extract({hostport}, '^([^:]*)', 1))"
    port = f"regexp_extract({hostport}, ':([0-9]+)$', 1)"
    pathq = f"regexp_extract({url}, '{_PATHQ_RE}', 1)"
    keep = (
        f"({port} <> '' AND NOT ({scheme} = 'http' AND {port} = '80') "
        f"AND NOT ({scheme} = 'https' AND {port} = '443'))"
    )
    norm_concat = (
        f"{scheme} || '://' || {host} || "
        f"(CASE WHEN {keep} THEN ':' || {port} ELSE '' END) || "
        f"(CASE WHEN {pathq} = '' THEN '/' "
        f"WHEN {pathq} LIKE '?%' THEN '/' || {pathq} "
        f"ELSE {pathq} END)"
    )
    # same unparseable-URL raw fallback as url_normalize
    norm = (
        f"(CASE WHEN {scheme} = '' OR {host} = '' THEN {url} "
        f"ELSE {norm_concat} END)"
    )
    last2 = f"regexp_extract({host}, '([^.]+\\.[^.]+)$', 1)"
    last3 = f"regexp_extract({host}, '([^.]+\\.[^.]+\\.[^.]+)$', 1)"
    sufs = ", ".join(f"'{s}'" for s in MULTI_SUFFIXES)
    reg = (
        f"CASE WHEN {last2} IN ({sufs}) AND {last3} <> '' THEN {last3} "
        f"WHEN {last2} <> '' THEN {last2} ELSE {host} END"
    )
    return {"host": host, "port": port, "norm_url": norm, "reg_domain": reg}


# --- crawl/train URL hygiene ----------------------------------------------

# media / binary / asset extensions that carry no trainable text
_BIN_EXT_RE = (
    r"(?i)\.(jpe?g|png|gif|webp|bmp|tiff?|mp4|avi|mov|mkv|webm|mp3|wav|ogg|"
    r"flac|pdf|zip|gz|tar|rar|7z|exe|dmg|iso|css|js|ico|svg|woff2?|ttf|eot)$"
)
# crawler-trap heuristics (calendar pages, faceted search, session ids)
_MAX_URL_LEN = 2000
_MAX_PATH_DEPTH = 12
_MAX_QUERY_LEN = 256


def url_filter_reason(url: Column, deny_domains: tuple[str, ...] = ()) -> Column:
    """Pre-fetch / pre-train URL hygiene: NULL when the URL is keepable,
    else the FIRST failing rule's name — 'scheme' (not http/https),
    'extension' (binary/media/asset path), 'denied_domain' (registered
    domain in the deny list), 'trap' (over-long URL / path depth > 12 /
    query > 256 chars — the crawler-trap shapes). All native RE2-safe
    expressions with an exact SQL twin (``url_filter_reason_sql``).

    ``deny_domains`` inlines as an IN predicate — right for list-sized
    blocklists; at 10^6+ entries use a broadcast anti-join on
    ``registered_domain`` instead (same key, same semantics)."""
    scheme = F.lower(F.regexp_extract(url, _SCHEME_RE, 1))
    host = url_host(url)
    pathq = F.regexp_extract(url, _PATHQ_RE, 1)
    path = F.regexp_extract(pathq, "^([^?]*)", 1)
    query = F.regexp_extract(pathq, "\\?(.*)$", 1)
    depth = F.size(F.split(path, "/")) - 1
    denied = (
        registered_domain(host).isin(*deny_domains)
        if deny_domains
        else F.lit(False)
    )
    return (
        F.when(~scheme.isin("http", "https"), F.lit("scheme"))
        .when(path.rlike(_BIN_EXT_RE), F.lit("extension"))
        .when(denied, F.lit("denied_domain"))
        .when(
            (F.length(url) > _MAX_URL_LEN)
            | (depth > _MAX_PATH_DEPTH)
            | (F.length(query) > _MAX_QUERY_LEN),
            F.lit("trap"),
        )
    )


def url_filter_reason_sql(url: str, deny_domains: tuple[str, ...] = ()) -> str:
    """DuckDB twin of :func:`url_filter_reason` over expression ``url``."""
    p = url_sql_parts(url)
    scheme = f"lower(regexp_extract({url}, '{_SCHEME_RE}', 1))"
    pathq = f"regexp_extract({url}, '{_PATHQ_RE}', 1)"
    path = f"regexp_extract({pathq}, '^([^?]*)', 1)"
    query = f"regexp_extract({pathq}, '\\?(.*)$', 1)"
    depth = f"(len(string_split({path}, '/')) - 1)"
    ext_re = _BIN_EXT_RE.replace("'", "''")
    denied = (
        f"{p['reg_domain']} IN ({', '.join(repr(d) for d in deny_domains)})"
        if deny_domains
        else "FALSE"
    )
    return (
        f"CASE WHEN {scheme} NOT IN ('http', 'https') THEN 'scheme' "
        f"WHEN regexp_matches({path}, '{ext_re}') THEN 'extension' "
        f"WHEN {denied} THEN 'denied_domain' "
        f"WHEN length({url}) > {_MAX_URL_LEN} OR {depth} > {_MAX_PATH_DEPTH} "
        f"OR length({query}) > {_MAX_QUERY_LEN} THEN 'trap' "
        f"ELSE NULL END"
    )


# --- link extraction (html -> outlink URLs) --------------------------------
# RE2-and-Java-compatible patterns shared verbatim by the Column chain and
# the DuckDB twin (the redact_pii / url_filter convention). Quoted hrefs
# only (unquoted href=foo is vanishingly rare in real crawls and ambiguous
# to delimit); non-web schemes dropped; dot-segments resolved by bounded
# global-replace passes with a conservative drop guard for anything deeper.
# href must be the first attribute or be preceded by a delimiter ([\s"'])
# so attributes merely ENDING in href (data-href=...) are not extracted
_HREF_DQ_RE = "(?i)<a\\s(?:[^>]*?[\\s\"'])?href\\s*=\\s*\"([^\"]+)\""
_HREF_SQ_RE = "(?i)<a\\s(?:[^>]*?[\\s\"'])?href\\s*=\\s*'([^']+)'"
_SKIP_SCHEME_RE = "(?i)^(javascript|mailto|data|tel):"
_ABS_RE = "(?i)^https?://"
_DOT1_RE = "/\\./"          # /./  -> /      (2 passes: adjacent overlaps)
_DOTDOT_RE = "/[^/.][^/]*/\\.\\./"  # /seg/../ -> /  (4 passes: 4 levels)
_DOTGUARD_RE = "/\\.\\.?(/|$)"      # unresolved . or .. anywhere -> drop


def extract_links(html: Column, base_url: Column) -> Column:
    """All outlink URLs of an HTML page as a sorted, de-duplicated
    ``array<string>``: ``<a href>`` targets (double- or single-quoted),
    fragments stripped, resolved against ``base_url`` — absolute http(s)
    kept as-is, scheme-relative ``//h/p`` gains the base scheme,
    root-relative ``/p`` and relative ``p`` resolve against the base origin
    / directory with ``/./`` and up to four ``/seg/../`` levels collapsed
    (deeper or root-escaping dot-segments drop the link rather than emit a
    malformed URL); a query-only ``?q`` keeps the full base path.
    ``javascript:``/``mailto:``/``data:``/``tel:`` and
    empty targets are dropped. When the base URL itself has no parseable
    scheme+host, scheme-relative and relative candidates are dropped
    rather than emitting malformed ``://host/p`` links (absolute hrefs
    still pass through).

    Dot-segment collapse runs on the PATH ONLY (RFC 3986 §5.2.4): the
    candidate is split at its first ``?``, the collapse and the drop guard
    see only the path part, and the query string is re-appended untouched
    — both because a global ``/seg/../`` replace over a full URL would eat
    ``//host/../`` (the host looks like a path segment) and because an
    href like ``p?next=/a/../b`` must keep its query byte-for-byte.

    Everything is a JVM-native expression over the page string — no
    explode, no shuffle, no Python; pair with ``F.explode`` +
    ``url_normalize`` + ``registered_domain`` to feed the link graph
    (operators/graph.py:pagerank). SQL twin: :func:`extract_links_sql`.
    """
    scheme = F.lower(F.regexp_extract(base_url, _SCHEME_RE, 1))
    host = F.lower(url_host(base_url))
    base_ok = (scheme != "") & (host != "")
    origin = F.concat(scheme, F.lit("://"), host)
    path = F.regexp_extract(F.regexp_extract(base_url, _PATHQ_RE, 1), "^([^?]*)", 1)
    # directory of the base path: strip the last segment; '' -> '/'
    basedir = F.regexp_replace(path, "[^/]*$", "")
    basedir = F.when(basedir == "", F.lit("/")).otherwise(basedir)
    # a query-only href (``?q``) keeps the FULL base path (RFC 3986 §5.3)
    basepath = F.when(path == "", F.lit("/")).otherwise(path)

    cands = F.concat(
        F.regexp_extract_all(html, F.lit(_HREF_DQ_RE), F.lit(1)),
        F.regexp_extract_all(html, F.lit(_HREF_SQ_RE), F.lit(1)),
    )

    def _collapse(p: Column) -> Column:
        for pat in (_DOT1_RE, _DOT1_RE, _DOTDOT_RE, _DOTDOT_RE, _DOTDOT_RE,
                    _DOTDOT_RE):
            p = F.regexp_replace(p, pat, "/")
        return p

    def _resolve(u0: Column) -> Column:
        u = F.regexp_replace(F.trim(u0), "#.*$", "")
        # split at the first '?': collapse + guard see the path only, the
        # query is re-appended untouched (RFC 3986 removes dot-segments
        # from the path component, never the query)
        upath = F.regexp_extract(u, "^([^?]*)", 1)
        uquery = F.regexp_extract(u, "(\\?.*)$", 1)  # '' when absent
        rel = _collapse(
            F.when(upath.startswith("/"), upath)
            .when(upath == "", basepath)
            .otherwise(F.concat(basedir, upath))
        )
        return (
            F.when(u == "", F.lit(None).cast("string"))
            .when(u.rlike(_SKIP_SCHEME_RE), F.lit(None).cast("string"))
            .when(u.rlike(_ABS_RE), u)
            .when(~base_ok, F.lit(None).cast("string"))
            .when(u.startswith("//"), F.concat(scheme, F.lit(":"), u))
            .otherwise(
                F.when(rel.rlike(_DOTGUARD_RE), F.lit(None).cast("string"))
                .otherwise(F.concat(origin, rel, uquery))
            )
        )

    return F.array_sort(
        F.array_distinct(
            F.filter(F.transform(cands, _resolve), lambda x: x.isNotNull())
        )
    )


def extract_links_sql(html: str, base_url: str) -> str:
    """DuckDB twin of :func:`extract_links` over expressions ``html`` and
    ``base_url`` (same patterns; regexp_replace needs the 'g' flag to match
    Java's replace-all)."""
    p = url_sql_parts(base_url)
    scheme = f"lower(regexp_extract({base_url}, '{_SCHEME_RE}', 1))"
    host = p["host"]
    origin = f"({scheme} || '://' || {host})"
    pathq = f"regexp_extract({base_url}, '{_PATHQ_RE}', 1)"
    path = f"regexp_extract({pathq}, '^([^?]*)', 1)"
    basedir = (
        f"(CASE WHEN regexp_replace({path}, '[^/]*$', '') = '' THEN '/' "
        f"ELSE regexp_replace({path}, '[^/]*$', '') END)"
    )
    # DuckDB single-quoted literals keep backslashes verbatim — only the
    # quote character needs escaping (the url_sql_parts convention)
    dq = _HREF_DQ_RE.replace("'", "''")
    sq = _HREF_SQ_RE.replace("'", "''")
    cands = (
        f"list_concat(regexp_extract_all({html}, '{dq}', 1), "
        f"regexp_extract_all({html}, '{sq}', 1))"
    )
    u = "regexp_replace(trim(x), '#.*$', '', 'g')"
    upath = f"regexp_extract({u}, '^([^?]*)', 1)"
    uquery = f"regexp_extract({u}, '(\\?.*)$', 1)"
    base_ok = f"({scheme} <> '' AND {host} <> '')"
    basepath = f"(CASE WHEN {path} = '' THEN '/' ELSE {path} END)"
    rel = (
        f"(CASE WHEN {upath} LIKE '/%' THEN {upath} "
        f"WHEN {upath} = '' THEN {basepath} "
        f"ELSE {basedir} || {upath} END)"
    )
    for pat in (_DOT1_RE, _DOT1_RE, _DOTDOT_RE, _DOTDOT_RE, _DOTDOT_RE,
                _DOTDOT_RE):
        rel = f"regexp_replace({rel}, '{pat}', '/', 'g')"
    resolve = (
        f"(CASE WHEN {u} = '' THEN NULL "
        f"WHEN regexp_matches({u}, '{_SKIP_SCHEME_RE}') THEN NULL "
        f"WHEN regexp_matches({u}, '{_ABS_RE}') THEN {u} "
        f"WHEN NOT {base_ok} THEN NULL "
        f"WHEN {u} LIKE '//%' THEN {scheme} || ':' || {u} "
        f"WHEN regexp_matches({rel}, '{_DOTGUARD_RE}') THEN NULL "
        f"ELSE {origin} || {rel} || {uquery} END)"
    )
    return (
        f"list_sort(list_distinct(list_filter("
        f"list_transform({cands}, x -> {resolve}), x -> x IS NOT NULL)))"
    )
