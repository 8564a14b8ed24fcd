"""General URL canonicalization — the north_rule's first verb
("each iteration canonicalizes and hashes candidate URLs").

The reference crawls one site, so its canonicalization is two
ad-hoc string ops (strip the ``.html`` suffix, prepend the pid
prefix — dblp_crawler/graph.py person/pub key handling); a general
frontier over the open web needs RFC-3986-style normalization so
that the seen-set and politeness accounting key on ONE spelling of
each resource:

  * scheme and host lowercased,
  * default ports stripped (``:80`` for http, ``:443`` for https),
  * fragment dropped,
  * empty query params dropped and the rest byte-sorted,
  * trailing slashes collapsed (path '' and '/' both → '/').

Everything is a pure JVM expression chain (regexp + array HOFs) —
no Python on the row path, whole-stage-codegen-able, and replayed
bit-identically by the DuckDB fragment in :func:`canonical_url_sql`
(kept adjacent so the two definitions evolve together, same
discipline as hash60/hash60_sql).

Scale shape: a per-row projection — no shuffle, no state. The
canonical string (or better, ``hash60(canonical_url(u))``) is what
enters the bloom seen bank and the per-host budget key, so
two raw spellings of one URL can never double-fetch.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: scheme per RFC 3986: ALPHA *( ALPHA / DIGIT / "+" / "-" / "." )
_SCHEME_RE = "^([A-Za-z][A-Za-z0-9+.-]*)://"


def _strip_ws(u: Column) -> Column:
    # trim() strips only U+0020 in both engines; hrefs carry \t\n too
    return F.regexp_replace(F.regexp_replace(u, r"^\s+", ""), r"\s+$", "")


def url_host(url: Column | str) -> Column:
    """Lowercased host[:port] of an absolute URL ('' if relative).
    The politeness/budget key — cheaper than full canonicalization
    when only the authority matters."""
    u = F.col(url) if isinstance(url, str) else url
    rest = F.regexp_replace(_strip_ws(u), _SCHEME_RE, "")
    return F.lower(F.regexp_extract(rest, "^([^/?#]*)", 1))


def url_host_sql(expr: str) -> str:
    """DuckDB fragment computing exactly ``url_host(expr)``."""
    ws = f"regexp_replace(regexp_replace({expr}, '^\\s+', ''), '\\s+$', '')"
    rest = f"regexp_replace({ws}, '{_SCHEME_RE}', '')"
    return f"lower(regexp_extract({rest}, '^([^/?#]*)', 1))"


def url_path(url: Column | str) -> Column:
    """path[?query] of an absolute URL, '/' when the URL ends at the
    authority — the string robots.txt Allow/Disallow rules match
    against (RFC 9309 §2.2.2 matches path + optional query, never
    scheme/host). Fragment kept out (it is never sent to servers)."""
    u = F.col(url) if isinstance(url, str) else url
    rest = F.regexp_replace(_strip_ws(u), _SCHEME_RE, "")
    p = F.regexp_replace(
        F.regexp_replace(rest, "^[^/?#]*", ""), "#.*$", ""
    )
    return F.when(p == "", F.lit("/")).otherwise(p)


def url_path_sql(expr: str) -> str:
    """DuckDB fragment computing exactly ``url_path(expr)``."""
    ws = f"regexp_replace(regexp_replace({expr}, '^\\s+', ''), '\\s+$', '')"
    rest = f"regexp_replace({ws}, '{_SCHEME_RE}', '')"
    p = f"regexp_replace(regexp_replace({rest}, '^[^/?#]*', ''), '#.*$', '')"
    return f"CASE WHEN {p} = '' THEN '/' ELSE {p} END"


def canonical_url(url: Column | str) -> Column:
    """Canonical spelling of an absolute URL (pure expressions).

    URLs without a ``scheme://`` prefix are returned trimmed and
    fragment-stripped but otherwise untouched (relative hrefs are
    resolved upstream, at parse time, where the base URL is known).
    """
    u = _strip_ws(F.col(url) if isinstance(url, str) else url)
    u = F.regexp_replace(u, "#.*$", "")  # fragment never reaches the server
    scheme = F.lower(F.regexp_extract(u, _SCHEME_RE, 1))
    rest = F.regexp_replace(u, _SCHEME_RE, "")
    hostport = F.lower(F.regexp_extract(rest, "^([^/?]*)", 1))
    host = (
        F.when(scheme == "http", F.regexp_replace(hostport, ":80$", ""))
        .when(scheme == "https", F.regexp_replace(hostport, ":443$", ""))
        .otherwise(hostport)
    )
    pathq = F.regexp_replace(rest, "^[^/?]*", "")
    rawpath = F.regexp_extract(pathq, "^([^?]*)", 1)
    path0 = F.regexp_replace(rawpath, "/+$", "")
    path = F.when(path0 == "", F.lit("/")).otherwise(path0)
    query = F.when(
        pathq.contains("?"), F.regexp_replace(pathq, "^[^?]*\\?", "")
    ).otherwise(F.lit(""))
    qnorm = F.array_join(
        F.array_sort(F.filter(F.split(query, "&"), lambda x: x != F.lit(""))),
        "&",
    )
    canon = F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(qnorm == "", F.lit("")).otherwise(F.concat(F.lit("?"), qnorm)),
    )
    return F.when(scheme == "", u).otherwise(canon)


def canonical_url_sql(expr: str) -> str:
    """The DuckDB fragment computing exactly ``canonical_url(expr)``.

    DuckDB regexp_replace is first-match (no 'g' flag passed), which
    matches Spark's semantics for these anchored/greedy patterns.
    """
    ws = (
        f"regexp_replace(regexp_replace({expr}, '^\\s+', ''), '\\s+$', '')"
    )
    u = f"regexp_replace({ws}, '#.*$', '')"
    scheme = f"lower(regexp_extract({u}, '{_SCHEME_RE}', 1))"
    rest = f"regexp_replace({u}, '{_SCHEME_RE}', '')"
    hostport = f"lower(regexp_extract({rest}, '^([^/?]*)', 1))"
    host = (
        f"CASE WHEN {scheme} = 'http' THEN regexp_replace({hostport}, ':80$', '')"
        f" WHEN {scheme} = 'https' THEN regexp_replace({hostport}, ':443$', '')"
        f" ELSE {hostport} END"
    )
    pathq = f"regexp_replace({rest}, '^[^/?]*', '')"
    path0 = f"regexp_replace(regexp_extract({pathq}, '^([^?]*)', 1), '/+$', '')"
    path = f"CASE WHEN {path0} = '' THEN '/' ELSE {path0} END"
    query = (
        f"CASE WHEN contains({pathq}, '?')"
        f" THEN regexp_replace({pathq}, '^[^?]*\\?', '') ELSE '' END"
    )
    # coalesce: DuckDB's array_to_string([]) is NULL where Spark's
    # array_join(array()) is ''
    qnorm = (
        "coalesce(array_to_string(list_sort(list_filter("
        f"string_split({query}, '&'), x -> x <> '')), '&'), '')"
    )
    canon = (
        f"{scheme} || '://' || {host} || {path} || "
        f"CASE WHEN {qnorm} = '' THEN '' ELSE '?' || {qnorm} END"
    )
    return f"CASE WHEN {scheme} = '' THEN {u} ELSE {canon} END"


# ---- spider-trap heuristics -------------------------------------------------
#: query params that mint unbounded URL aliases for one resource
_SESSION_RE = r"(?i)[?&](sid|sessionid|session_id|phpsessid|jsessionid)="
#: two year/month-looking path pairs — the calendar-archive loop
_CALENDAR_RE = r"(/[0-9]{4}/[0-9]{1,2}){2}"


def url_trap_flags(url: Column | str, max_depth: int = 8) -> Column:
    """Spider-trap heuristics over one URL → struct(depth, deep_path,
    repeated_segments, session_param, calendar_loop, is_trap).

    Crawler traps (infinite calendars, session-id aliases,
    self-recursive path generators) don't exist on the reference's
    single curated host, but dominate wasted fetches on the open
    web; a frontier admits a candidate only when is_trap is false
    (or schedules it at a penalized priority). Pure expressions —
    pair with canonical_url first so heuristics see one spelling.
    """
    u = F.col(url) if isinstance(url, str) else url
    rest = F.regexp_replace(u, _SCHEME_RE, "")
    pathq = F.regexp_replace(rest, "^[^/?]*", "")
    path = F.regexp_extract(pathq, "^([^?]*)", 1)
    segs = F.filter(F.split(path, "/"), lambda x: x != F.lit(""))
    depth = F.size(segs)
    deep = depth > max_depth
    repeated = (depth - F.size(F.array_distinct(segs))) >= 2
    session = u.rlike(_SESSION_RE)
    calendar = path.rlike(_CALENDAR_RE)
    return F.struct(
        depth.cast("int").alias("depth"),
        deep.alias("deep_path"),
        repeated.alias("repeated_segments"),
        session.alias("session_param"),
        calendar.alias("calendar_loop"),
        (deep | repeated | session | calendar).alias("is_trap"),
    )


def url_trap_flags_sql(expr: str, max_depth: int = 8) -> dict[str, str]:
    """DuckDB fragments computing exactly the fields of
    :func:`url_trap_flags` (kept adjacent; RE2-safe patterns)."""
    rest = f"regexp_replace({expr}, '{_SCHEME_RE}', '')"
    pathq = f"regexp_replace({rest}, '^[^/?]*', '')"
    path = f"regexp_extract({pathq}, '^([^?]*)', 1)"
    segs = f"list_filter(string_split({path}, '/'), x -> x <> '')"
    depth = f"len({segs})"
    deep = f"({depth} > {max_depth})"
    repeated = f"(({depth} - len(list_distinct({segs}))) >= 2)"
    session = f"regexp_matches({expr}, '{_SESSION_RE}')"
    calendar = f"regexp_matches({path}, '{_CALENDAR_RE}')"
    return {
        "depth": f"CAST({depth} AS INT)",
        "deep_path": deep,
        "repeated_segments": repeated,
        "session_param": session,
        "calendar_loop": calendar,
        "is_trap": f"({deep} OR {repeated} OR {session} OR {calendar})",
    }


# ---- URL template mining -----------------------------------------------------

def url_template(url: Column | str) -> Column:
    """Collapse a URL to its generative TEMPLATE: host + path with
    digit runs → ``{N}`` and 8+-char hex runs → ``{H}``, query
    VALUES dropped (param names kept, sorted).  Faceted navigation,
    calendar archives, and id-enumerating endpoints each mint
    unbounded URLs from ONE template — the per-URL trap heuristics
    (url_trap_flags) can't see that; only the template aggregate
    can.  Pure projection; feed :func:`~dblp_crawler_spark.operators.
    frontier.template_cap` to bound fan-out per template.

    Hex collapses before digits (a hex run may be all-digits); the
    8-char floor keeps ordinary words like 'deadbeef'-free paths
    intact while catching uuids/hashes."""
    u = F.col(url) if isinstance(url, str) else url
    rest = F.regexp_replace(_strip_ws(u), _SCHEME_RE, "")
    host = F.lower(F.regexp_extract(rest, "^([^/?#]*)", 1))
    pathq = F.regexp_replace(F.regexp_replace(rest, "^[^/?#]*", ""), "#.*$", "")
    path = F.regexp_extract(pathq, "^([^?]*)", 1)
    path = F.regexp_replace(path, "[0-9a-fA-F]{8,}", "{H}")
    path = F.regexp_replace(path, "[0-9]+", "{N}")
    path = F.when(path == "", F.lit("/")).otherwise(path)
    query = F.when(
        pathq.contains("?"), F.regexp_replace(pathq, "^[^?]*\\?", "")
    ).otherwise(F.lit(""))
    pnames = F.array_join(
        F.array_sort(
            F.filter(
                F.transform(
                    F.split(query, "&"),
                    lambda kv: F.regexp_extract(kv, "^([^=]*)", 1),
                ),
                lambda x: x != F.lit(""),
            )
        ),
        "&",
    )
    return F.concat(
        host, path,
        F.when(pnames == "", F.lit("")).otherwise(F.concat(F.lit("?"), pnames)),
    )


def url_template_sql(expr: str) -> str:
    """DuckDB fragment computing exactly ``url_template(expr)``."""
    ws = f"regexp_replace(regexp_replace({expr}, '^\\s+', ''), '\\s+$', '')"
    rest = f"regexp_replace({ws}, '{_SCHEME_RE}', '')"
    host = f"lower(regexp_extract({rest}, '^([^/?#]*)', 1))"
    pathq = f"regexp_replace(regexp_replace({rest}, '^[^/?#]*', ''), '#.*$', '')"
    path0 = f"regexp_extract({pathq}, '^([^?]*)', 1)"
    # 'g' flag: Spark regexp_replace is replace-ALL; DuckDB defaults
    # to first-match only
    path1 = f"regexp_replace({path0}, '[0-9a-fA-F]{{8,}}', '{{H}}', 'g')"
    path2 = f"regexp_replace({path1}, '[0-9]+', '{{N}}', 'g')"
    path = f"CASE WHEN {path2} = '' THEN '/' ELSE {path2} END"
    query = (
        f"CASE WHEN contains({pathq}, '?')"
        f" THEN regexp_replace({pathq}, '^[^?]*\\?', '') ELSE '' END"
    )
    pnames = (
        "coalesce(array_to_string(list_sort(list_filter(list_transform("
        f"string_split({query}, '&'), kv -> regexp_extract(kv, '^([^=]*)', 1)),"
        " x -> x <> '')), '&'), '')"
    )
    return (
        f"{host} || {path} || "
        f"CASE WHEN {pnames} = '' THEN '' ELSE '?' || {pnames} END"
    )


# ---- URL locale hints ----------------------------------------------------------

#: first path segment shaped like a locale: 'en', 'pt-br', 'zh-TW'
_PATH_LOCALE_RE = r"(?i)^/([a-z]{2})(?:-([a-z]{2}))?(?:/|$)"
#: query params that carry a UI language
_QUERY_LANG_RE = r"(?i)[?&](?:lang|locale|hl)=([a-zA-Z-]{2,8})"


def url_locale_hint(url: Column | str) -> Column:
    """Locale hints readable from the URL alone → struct(cc_tld,
    path_lang, path_region, query_lang, lang_hint) — the routing
    signal a multilingual crawl uses BEFORE fetching a byte: which
    language pipeline a URL likely feeds, which eval slice it
    belongs to, whether a host's /en/ and /de/ trees should map to
    different corpus sources.  cc_tld is the 2-letter country-code
    TLD (generic TLDs → NULL; a ccTLD is a COUNTRY hint, not a
    language — kept separate); path_lang/path_region parse the
    leading /xx/ or /xx-yy/ segment; query_lang reads lang=/locale=/
    hl= params.  lang_hint = path beats query beats nothing (the
    path is the publisher's routing decision; params are often user
    state).  All lowercase; pure projection."""
    u = F.col(url) if isinstance(url, str) else url
    rest = F.regexp_replace(_strip_ws(u), _SCHEME_RE, "")
    host = F.lower(F.regexp_extract(rest, "^([^/?#:]*)", 1))
    tld = F.regexp_extract(host, r"\.([a-z]{2})$", 1)
    cc = F.nullif(tld, F.lit(""))
    pathq = F.regexp_replace(rest, "^[^/?#]*", "")
    plang = F.lower(F.nullif(F.regexp_extract(pathq, _PATH_LOCALE_RE, 1), F.lit("")))
    pregion = F.lower(F.nullif(F.regexp_extract(pathq, _PATH_LOCALE_RE, 2), F.lit("")))
    qlang = F.lower(F.nullif(F.regexp_extract(pathq, _QUERY_LANG_RE, 1), F.lit("")))
    return F.struct(
        cc.alias("cc_tld"),
        plang.alias("path_lang"),
        pregion.alias("path_region"),
        qlang.alias("query_lang"),
        F.coalesce(plang, qlang).alias("lang_hint"),
    )


def url_locale_hint_sql(expr: str) -> dict[str, str]:
    """DuckDB fragments computing exactly the fields of
    :func:`url_locale_hint` (RE2-safe patterns, same precedence)."""
    ws = f"regexp_replace(regexp_replace({expr}, '^\\s+', ''), '\\s+$', '')"
    rest = f"regexp_replace({ws}, '{_SCHEME_RE}', '')"
    host = f"lower(regexp_extract({rest}, '^([^/?#:]*)', 1))"
    cc = f"nullif(regexp_extract({host}, '\\.([a-z]{{2}})$', 1), '')"
    pathq = f"regexp_replace({rest}, '^[^/?#]*', '')"
    plang = f"lower(nullif(regexp_extract({pathq}, '{_PATH_LOCALE_RE}', 1), ''))"
    pregion = f"lower(nullif(regexp_extract({pathq}, '{_PATH_LOCALE_RE}', 2), ''))"
    qlang = f"lower(nullif(regexp_extract({pathq}, '{_QUERY_LANG_RE}', 1), ''))"
    return {
        "cc_tld": cc,
        "path_lang": plang,
        "path_region": pregion,
        "query_lang": qlang,
        "lang_hint": f"coalesce({plang}, {qlang})",
    }


# ---- relative-href resolution -----------------------------------------------

#: bounded '../' collapse depth — deeper chains clamp to the root
#: (RFC 3986 clamps above-root dot-segments to '/' anyway).
RESOLVE_MAX_UPLEVELS = 4
_ABS_SCHEME_RE = "^[a-zA-Z][a-zA-Z0-9+.-]*:"
# a path segment that is NOT '.' or '..' (RE2-safe — no lookaround,
# shared verbatim by Spark and the DuckDB replay)
_SEG = "([^/.][^/]*|\\.[^/.][^/]*|\\.\\.[^/]+)"


def _dot_normalize(path: Column) -> Column:
    """RFC 3986 §5.2.4 dot-segment removal, bounded: './' runs and up
    to RESOLVE_MAX_UPLEVELS of '../' (deeper clamps to root)."""
    out = path
    for _ in range(2):
        out = F.regexp_replace(out, "(^|/)\\./", "$1")
    out = F.regexp_replace(out, "/\\.$", "/")
    for _ in range(RESOLVE_MAX_UPLEVELS):
        out = F.regexp_replace(out, "(^|/)" + _SEG + "/\\.\\./", "$1")
    out = F.regexp_replace(out, "(^|/)" + _SEG + "/\\.\\.$", "$1")
    out = F.regexp_replace(out, "(/\\.\\.)+/", "/")
    return F.regexp_replace(out, "(/\\.\\.)+$", "/")


def _dot_normalize_sql(expr: str) -> str:
    out = expr
    for _ in range(2):
        out = f"regexp_replace({out}, '(^|/)\\./', '\\1', 'g')"
    out = f"regexp_replace({out}, '/\\.$', '/')"
    for _ in range(RESOLVE_MAX_UPLEVELS):
        out = f"regexp_replace({out}, '(^|/){_SEG}/\\.\\./', '\\1', 'g')"
    out = f"regexp_replace({out}, '(^|/){_SEG}/\\.\\.$', '\\1')"
    out = f"regexp_replace({out}, '(/\\.\\.)+/', '/', 'g')"
    return f"regexp_replace({out}, '(/\\.\\.)+$', '/')"


def resolvable_href(href: Column | str) -> Column:
    """True iff :func:`resolve_url` returns non-NULL for this href
    (against any well-formed base) — the EXACT null characterization
    read off resolve_url's when-chain: after whitespace strip and
    fragment strip, the href is non-empty AND is either absolute
    http(s) or carries no absolute scheme at all (every other branch
    concatenates non-null pieces).

    This predicate exists for physical-plan health, not semantics:
    filtering ``resolve_url(...).isNotNull()`` AFTER the projection
    makes predicate pushdown re-inline the (very large) resolution
    expression into the Filter node, and the doubled expression blows
    janino's 64 KB generated-method limit — whole-stage codegen then
    falls back to interpreted rows for the whole HTML-harvest stage.
    Pre-filtering candidates with this cheap predicate keeps the big
    expression evaluated ONCE and the stage codegen'd. Bit-identical
    row sets are pinned by the extractor tests and oracles."""
    h0 = F.col(href) if isinstance(href, str) else href
    h = F.regexp_replace(_strip_ws(h0), "#.*$", "")
    return (h != "") & (
        h.rlike("^(?i)https?://") | ~h.rlike(_ABS_SCHEME_RE)
    )


def resolvable_href_sql(href_expr: str) -> str:
    """DuckDB twin of :func:`resolvable_href`."""
    h0 = (f"regexp_replace(regexp_replace({href_expr}, '^\\s+', ''), "
          f"'\\s+$', '')")
    h = f"regexp_replace({h0}, '#.*$', '')"
    return (f"({h} <> '' AND (regexp_matches({h}, '^(?i)https?://')"
            f" OR NOT regexp_matches({h}, '{_ABS_SCHEME_RE}')))")


def resolve_url(base: Column | str, href: Column | str) -> Column:
    """Resolve an href found in a page against the page's absolute
    URL — the parse-time step :func:`canonical_url` defers to (its
    docstring: "relative hrefs are resolved upstream, at parse time,
    where the base URL is known").

    Covers the cases a link extractor meets: absolute http(s)
    (passed through), other schemes (javascript:, mailto:, data:,
    tel: — NULL, not fetchable), protocol-relative ``//host/p``
    (base scheme), root-relative ``/p``, query-only ``?q``, and
    path-relative (joined to the base directory, then RFC 3986
    §5.2.4 dot-segment removal: './' dropped, '../' collapsed up to
    RESOLVE_MAX_UPLEVELS deep, above-root clamped to '/'). Fragments
    are stripped first; an empty or fragment-only href is NULL (a
    self-reference, not an outlink). Dot normalization runs on the
    path part only — the query is split off first and reattached, so
    a query containing literal dot-segments is never rewritten.
    Pure expressions, RE2-safe patterns shared verbatim with the
    DuckDB twin."""
    b = _strip_ws(F.col(base) if isinstance(base, str) else base)
    h = _strip_ws(F.col(href) if isinstance(href, str) else href)
    h = F.regexp_replace(h, "#.*$", "")

    scheme = F.lower(F.regexp_extract(b, "^([a-z][a-z0-9+.-]*)://", 1))
    origin = F.regexp_extract(b, "^([a-z][a-z0-9+.-]*://[^/?#]*)", 1)
    bp = F.regexp_extract(b, "^[a-z][a-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    bdir0 = F.regexp_replace(bp, "[^/]*$", "")
    bdir = F.when(bdir0 == "", F.lit("/")).otherwise(bdir0)
    bfile = F.when(bp == "", F.lit("/")).otherwise(bp)

    joined = (
        F.when(h.rlike("^(?i)https?://"), h)
        .when(h.rlike(_ABS_SCHEME_RE), F.lit(None).cast("string"))
        .when(h.startswith("//"), F.concat(scheme, F.lit(":"), h))
        .when(h.startswith("/"), F.concat(origin, h))
        .when(h.startswith("?"), F.concat(origin, bfile, h))
        .when(h == "", F.lit(None).cast("string"))
        .otherwise(F.concat(origin, bdir, h))
    )
    # dot-normalize the path only: the origin is split off first so
    # above-root '../' chains clamp at '/' instead of eating the
    # authority, and the query is reattached untouched
    jorigin = F.regexp_extract(joined, "(?i)^([a-z][a-z0-9+.-]*://[^/?#]*)", 1)
    jrest = F.regexp_replace(joined, "(?i)^[a-z][a-z0-9+.-]*://[^/?#]*", "")
    ppart = F.regexp_extract(jrest, "^([^?]*)", 1)
    qpart = F.when(
        jrest.contains("?"),
        F.concat(F.lit("?"), F.regexp_replace(jrest, "^[^?]*\\?", "")),
    ).otherwise(F.lit(""))
    return F.when(
        joined.isNotNull(), F.concat(jorigin, _dot_normalize(ppart), qpart)
    )


def resolve_url_sql(base_expr: str, href_expr: str) -> str:
    """DuckDB fragment computing exactly ``resolve_url(base, href)``
    — same RE2-safe patterns, DuckDB's 'g' flag supplying the global
    semantics Spark's regexp_replace has by default."""
    b = (f"regexp_replace(regexp_replace({base_expr}, '^\\s+', ''), "
         f"'\\s+$', '')")
    h0 = (f"regexp_replace(regexp_replace({href_expr}, '^\\s+', ''), "
          f"'\\s+$', '')")
    h = f"regexp_replace({h0}, '#.*$', '')"
    scheme = f"lower(regexp_extract({b}, '^([a-z][a-z0-9+.-]*)://', 1))"
    origin = f"regexp_extract({b}, '^([a-z][a-z0-9+.-]*://[^/?#]*)', 1)"
    bp = f"regexp_extract({b}, '^[a-z][a-z0-9+.-]*://[^/?#]*([^?#]*)', 1)"
    bdir0 = f"regexp_replace({bp}, '[^/]*$', '')"
    bdir = f"CASE WHEN {bdir0} = '' THEN '/' ELSE {bdir0} END"
    bfile = f"CASE WHEN {bp} = '' THEN '/' ELSE {bp} END"
    joined = f"""CASE
        WHEN regexp_matches({h}, '^(?i)https?://') THEN {h}
        WHEN regexp_matches({h}, '{_ABS_SCHEME_RE}') THEN NULL
        WHEN starts_with({h}, '//') THEN {scheme} || ':' || {h}
        WHEN starts_with({h}, '/') THEN {origin} || {h}
        WHEN starts_with({h}, '?') THEN {origin} || {bfile} || {h}
        WHEN {h} = '' THEN NULL
        ELSE {origin} || {bdir} || {h} END"""
    jorigin = (f"regexp_extract(({joined}), "
               f"'(?i)^([a-z][a-z0-9+.-]*://[^/?#]*)', 1)")
    jrest = (f"regexp_replace(({joined}), "
             f"'(?i)^[a-z][a-z0-9+.-]*://[^/?#]*', '')")
    ppart = f"regexp_extract(({jrest}), '^([^?]*)', 1)"
    qpart = (f"CASE WHEN contains(({jrest}), '?') THEN '?' || "
             f"regexp_replace(({jrest}), '^[^?]*\\?', '') ELSE '' END")
    return (f"CASE WHEN ({joined}) IS NOT NULL THEN "
            f"{jorigin} || {_dot_normalize_sql(ppart)} || {qpart} END")


# ---- query-parameter significance mining ---------------------------------------
#
# Which query parameters actually CHANGE the page? Tracking params
# (utm_*, session ids, click ids) mint unbounded distinct URLs for
# one document — the per-URL dedup then stores every copy and the
# frontier refetches them all. Static strip-lists cover the famous
# prefixes; the general answer is LEARNED from the fetch log: if,
# holding everything else about the URL fixed, a parameter's value
# varied and the content hash did not, the parameter is
# insignificant — and one counterexample (value change => hash
# change) vetoes stripping. This is evidence-based canonicalization:
# strict, so a pagination or id param can never be stripped by
# accident.


def url_param_significance(fetches: DataFrame, host_col: str = "host",
                           url_col: str = "url",
                           hash_col: str = "content_hash",
                           min_groups: int = 2) -> DataFrame:
    """Per (host, param): is the parameter content-insignificant
    (strippable)?

    For every parameter instance the RESIDUAL key is the URL minus
    every pair of that parameter's NAME (base path + the sorted
    remaining pairs). Within one (host, param, residual) group the
    parameter varied iff ≥2 distinct values appear — only such
    groups are EVIDENCE; a group is invariant when all its rows carry
    ONE content hash. `strippable` requires ≥ ``min_groups`` evidence
    groups and ZERO counterexamples (any value-change-changes-hash
    group vetoes). Duplicate same-name pairs in one URL ('a=1&a=2')
    collapse into that URL's single residual — documented, identical
    on both engines.

    Plan: refetch collapse (one (host,url) agg), a map-side explode
    of the parameter array with the residual computed by
    higher-order filter/sort/join (no second scan), then two keyed
    aggregations — partial-agg friendly, no joins, nothing all-pairs.
    Returns (host, param, n_tested, n_invariant, strippable)."""
    base = F.regexp_replace(F.col(url_col), r"\?.*$", "")
    query = F.regexp_extract(F.col(url_col), r"\?(.*)$", 1)
    params = F.when(query != "", F.split(query, "&")).otherwise(
        F.array().cast("array<string>")
    )
    collapsed = (
        fetches.groupBy(host_col, url_col)
        .agg(F.min(hash_col).alias("__h"))
        .select(
            host_col, base.alias("__base"), params.alias("__params"), "__h",
        )
    )
    inst = collapsed.select(
        host_col, "__base", "__params", "__h",
        F.explode("__params").alias("__p"),
    ).withColumn("param", F.split("__p", "=").getItem(0))
    residual = F.concat(
        F.col("__base"),
        F.lit("?"),
        F.array_join(
            F.array_sort(
                F.filter(
                    "__params",
                    lambda x: F.split(x, "=").getItem(0) != F.col("param"),
                )
            ),
            "&",
        ),
    )
    value = F.substring(F.col("__p"), F.length("param") + 2, 1 << 20)
    groups = (
        inst.select(host_col, "param", residual.alias("__rkey"),
                    value.alias("__v"), "__h")
        .groupBy(host_col, "param", "__rkey")
        .agg(
            F.countDistinct("__v").alias("__nv"),
            F.countDistinct("__h").alias("__nh"),
        )
    )
    return (
        groups.groupBy(host_col, "param")
        .agg(
            F.sum(F.when(F.col("__nv") >= 2, 1).otherwise(0)).alias("n_tested"),
            F.sum(F.when((F.col("__nv") >= 2) & (F.col("__nh") == 1), 1)
                  .otherwise(0)).alias("n_invariant"),
        )
        .withColumn(
            "strippable",
            (F.col("n_tested") >= min_groups)
            & (F.col("n_invariant") == F.col("n_tested")),
        )
    )


def url_param_significance_sql(src: str, host_col: str = "host",
                               url_col: str = "url",
                               hash_col: str = "content_hash",
                               min_groups: int = 2) -> str:
    """DuckDB replay of :func:`url_param_significance` — same residual
    construction via list_filter/list_sort, same evidence rules."""
    return f"""
        WITH up_c AS (
          SELECT {host_col}, {url_col}, MIN({hash_col}) AS h
          FROM {src} GROUP BY {host_col}, {url_col}
        ), up_p AS (
          SELECT {host_col},
                 regexp_replace({url_col}, '\\?.*$', '') AS base,
                 CASE WHEN regexp_extract({url_col}, '\\?(.*)$', 1) <> ''
                      THEN string_split(regexp_extract({url_col}, '\\?(.*)$', 1), '&')
                      ELSE [] END AS params,
                 h
          FROM up_c
        ), up_i AS (
          SELECT {host_col}, base, params, h, unnest(params) AS p
          FROM up_p
        ), up_r AS (
          SELECT {host_col},
                 string_split(p, '=')[1] AS param,
                 -- COALESCE: DuckDB's array_to_string([]) is NULL where
                 -- Spark's array_join([]) is '' (and a NULL rkey would
                 -- MERGE every single-param URL into one group)
                 base || '?' || COALESCE(array_to_string(list_sort(
                   list_filter(params,
                   x -> string_split(x, '=')[1] <> string_split(p, '=')[1])),
                   '&'), '') AS rkey,
                 substring(p, strlen(string_split(p, '=')[1]) + 2) AS v,
                 h
          FROM up_i
        ), up_g AS (
          SELECT {host_col}, param, rkey,
                 COUNT(DISTINCT v) AS nv, COUNT(DISTINCT h) AS nh
          FROM up_r GROUP BY {host_col}, param, rkey
        )
        SELECT {host_col}, param,
               CAST(SUM(CASE WHEN nv >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_tested,
               CAST(SUM(CASE WHEN nv >= 2 AND nh = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_invariant,
               SUM(CASE WHEN nv >= 2 THEN 1 ELSE 0 END) >= {min_groups}
                 AND SUM(CASE WHEN nv >= 2 THEN 1 ELSE 0 END)
                     = SUM(CASE WHEN nv >= 2 AND nh = 1 THEN 1 ELSE 0 END)
               AS strippable
        FROM up_g GROUP BY {host_col}, param
    """


# ---- RFC 3986 §6.2.2 percent-encoding normalization -----------------------------
#
# %7Euser and ~user are THE SAME resource; %3a and %3A are the same
# triplet. A frontier that doesn't normalize percent-encodings
# stores and fetches both spellings. The two safe syntax-level
# rules: uppercase every triplet's hex digits, and DECODE triplets
# whose octet is UNRESERVED (ALPHA / DIGIT / - . _ ~ — decoding
# anything else changes meaning: %2F is not /). One split on '%',
# one transform whose per-piece decision is a generated table (the
# same table renders the SQL replay, so the engines cannot drift);
# malformed triplets (non-hex or truncated) pass through untouched.

_UNRESERVED = {
    f"{ord(c):02X}": c
    for c in ("ABCDEFGHIJKLMNOPQRSTUVWXYZ"
              "abcdefghijklmnopqrstuvwxyz0123456789-._~")
}
_HEX2 = r"^[0-9A-Fa-f]{2}"


def percent_normalize(url: Column | str) -> Column:
    """Normalized percent-encoding of a URL string: unreserved
    octets decoded, every surviving triplet uppercased, malformed
    '%' sequences untouched. Composes BEFORE :func:`canonical_url`
    (this is a spelling rule, not structure). Pure expressions —
    one split + one transform, no UDF."""
    u = F.col(url) if isinstance(url, str) else url
    parts = F.split(u, "%")

    def piece(p):
        code = F.upper(p.substr(F.lit(1), F.lit(2)))
        decoded = F.lit(None).cast("string")
        for hx, ch in _UNRESERVED.items():
            decoded = F.when(code == hx, F.lit(ch)).otherwise(decoded)
        tail = p.substr(F.lit(3), F.length(p))
        return (
            F.when(~p.rlike(_HEX2), F.concat(F.lit("%"), p))
            .when(decoded.isNotNull(), F.concat(decoded, tail))
            .otherwise(F.concat(F.lit("%"), code, tail))
        )

    rest = F.aggregate(
        F.slice(parts, 2, F.greatest(F.size(parts) - 1, F.lit(0))),
        F.lit("").cast("string"),
        lambda acc, p: F.concat(acc, piece(p)),
    )
    return F.when(F.size(parts) <= 1, u).otherwise(
        F.concat(F.try_element_at(parts, F.lit(1)), rest)
    )


def percent_normalize_sql(expr: str) -> str:
    """DuckDB replay of :func:`percent_normalize` — same split, the
    decode table rendered from the SAME _UNRESERVED dict, list_reduce
    for the fold."""
    whens = " ".join(
        f"WHEN '{hx}' THEN '{ch}'" for hx, ch in _UNRESERVED.items()
    )
    piece = (
        "CASE WHEN NOT regexp_matches(p, '{hex2}') THEN '%' || p "
        "WHEN (CASE upper(substring(p, 1, 2)) {whens} ELSE NULL END) "
        "IS NOT NULL THEN "
        "(CASE upper(substring(p, 1, 2)) {whens} END) || substring(p, 3) "
        "ELSE '%' || upper(substring(p, 1, 2)) || substring(p, 3) END"
    ).format(hex2=_HEX2, whens=whens)
    parts = f"string_split({expr}, '%')"
    return (
        f"CASE WHEN len({parts}) <= 1 THEN {expr} ELSE "
        f"{parts}[1] || list_reduce(list_prepend('', list_transform("
        f"{parts}[2:], p -> {piece})), (a, b) -> a || b) END"
    )
