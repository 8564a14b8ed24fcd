"""Page-store freshness / TTL (SURVEY.md S5/S6).

The reference's HTTP cache is a filesystem of XML files with
mtime-based TTLs per URL class (/root/reference/dblp_crawler/
downloader.py:34-49,53-66): person pages 30 days, venue indexes 30
days, volume pages forever (-1). A stale entry is re-downloaded and
overwritten (downloader.py:78-80).

Here the page store is the lakehouse `pages` table with a
`fetched_at` column; TTL becomes a metadata-cheap filter and the
re-fetch set an anti-join — both partition-prunable on `kind` at
scale. The refresh write is `MERGE INTO pages` keyed on url
(Lakehouse.merge_upsert), the same write-through contract as the
reference's cache file replace.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# reference defaults (downloader.py:34-49; README.md:66-75)
DEFAULT_TTL_DAYS = {"person": 30, "journal_list": 30, "journal": -1}


def fresh_pages(pages: DataFrame, now: datetime, ttl_days: dict[str, int] | None = None) -> DataFrame:
    """Rows still inside their TTL (ttl -1 = forever). This is the
    cache-hit set: the fetch join reads only these."""
    ttl = {**DEFAULT_TTL_DAYS, **(ttl_days or {})}
    cond = F.lit(False)
    for kind, days in ttl.items():
        k = F.col("kind") == kind
        if days < 0:
            cond = cond | k
        else:
            cond = cond | (k & (F.col("fetched_at") >= F.lit(now) - F.expr(f"INTERVAL {days} DAYS")))
    return pages.filter(cond)


def stale_urls(pages: DataFrame, now: datetime, ttl_days: dict[str, int] | None = None) -> DataFrame:
    """(url, kind) rows whose cache entry expired — the re-fetch
    queue (reference: cache miss path, downloader.py:62-66)."""
    fresh = fresh_pages(pages, now, ttl_days).select("url")
    return pages.select("url", "kind").join(fresh, "url", "left_anti")


# ---- HTTP response cache policy ---------------------------------------------
#
# RFC 9111 freshness from raw response headers. The reference's TTLs
# are hardcoded per URL class (downloader.py:34-49); a web-scale
# crawler gets its revalidation budget FROM the origin: max-age /
# s-maxage (a crawler is a shared cache, so s-maxage wins when both
# are present), the Expires-minus-Date fallback, and the no-store /
# no-cache gates. Only the Expires-Date DIFFERENCE is used — never an
# absolute epoch — so session-timezone handling cancels and the
# engine and the SQL oracle agree bit-for-bit.

_H_CC = r"(?im)^cache-control\s*:\s*([^\r\n]*)"
_H_EXPIRES = r"(?im)^expires\s*:\s*([^\r\n]*)"
_H_DATE = r"(?im)^date\s*:\s*([^\r\n]*)"
_D_MAXAGE = r"(?i)(^|[,\s])max-age\s*=\s*([0-9]+)"
_D_SMAXAGE = r"(?i)(^|[,\s])s-maxage\s*=\s*([0-9]+)"
# Spark 4's datetime parser rejects day-name fields ('EEE') on the
# parse side, and the weekday is redundant in RFC 1123 anyway — both
# engines strip a leading 'Www, ' before parsing the rest.
_DOW_PREFIX = r"^[A-Za-z]{3},\s*"
_RFC1123_SPARK = "dd MMM yyyy HH:mm:ss 'GMT'"
_RFC1123_DUCK = "%d %b %Y %H:%M:%S GMT"


def cache_policy(responses: DataFrame, url_col: str = "url",
                 headers_col: str = "headers") -> DataFrame:
    """(url, raw header block) → (url, no_store, no_cache, ttl_s):
    the per-URL freshness budget that feeds `fetch_plan`'s
    fetch / revalidate / skip triage and `recrawl_priorities`.

    - ``no_store``: response must not enter the page store at all.
    - ``no_cache``: storable, but every reuse needs revalidation
      (a conditional GET) regardless of age.
    - ``ttl_s``: seconds the stored copy stays fresh — s-maxage if
      present (a crawler is a shared cache), else max-age, else
      max(0, Expires - Date) when both headers parse, else NULL
      (no freshness info; heuristic recrawl applies). no-store
      forces 0.

    Pure projection (regex extracts + one timestamp-difference);
    malformed dates parse to NULL via try_to_timestamp, so a bad
    origin can never fail the wave.
    """
    cols = cache_policy_cols(headers_col)
    return responses.select(
        F.col(url_col).alias("url"),
        cols["no_store"].alias("no_store"),
        cols["no_cache"].alias("no_cache"),
        cols["ttl_s"].alias("ttl_s"),
    )


def cache_policy_cols(headers_col: str = "headers") -> dict:
    """The cache_policy output expressions as a name → Column dict —
    shared by :func:`cache_policy` and the composed
    :func:`header_policy` so the two can never drift."""
    h = F.col(headers_col)
    cc = F.nullif(F.trim(F.regexp_extract(h, _H_CC, 1)), F.lit(""))
    no_store = F.coalesce(cc.rlike(r"(?i)(^|[,\s])no-store([,\s]|$)"), F.lit(False))
    no_cache = F.coalesce(cc.rlike(r"(?i)(^|[,\s])no-cache([,\s]|$)"), F.lit(False))
    smax = F.nullif(F.regexp_extract(cc, _D_SMAXAGE, 2), F.lit("")).cast("long")
    mage = F.nullif(F.regexp_extract(cc, _D_MAXAGE, 2), F.lit("")).cast("long")

    def ts(pat):
        raw = F.nullif(F.trim(F.regexp_extract(h, pat, 1)), F.lit(""))
        raw = F.regexp_replace(raw, _DOW_PREFIX, "")
        return F.unix_timestamp(F.try_to_timestamp(raw, F.lit(_RFC1123_SPARK)))

    # greatest() IGNORES nulls in Spark (greatest(NULL,0)=0), so gate
    # the clamp on the difference existing: missing Date/Expires must
    # yield NULL (no freshness info), not 0 (expired)
    diff = ts(_H_EXPIRES) - ts(_H_DATE)
    exp_ttl = F.when(diff.isNotNull(), F.greatest(diff, F.lit(0).cast("long")))
    ttl = F.when(no_store, F.lit(0).cast("long")).otherwise(
        F.coalesce(smax, mage, exp_ttl)
    )
    return {"no_store": no_store, "no_cache": no_cache, "ttl_s": ttl}


def cache_policy_sql(src: str = "responses") -> str:
    """DuckDB replay of :func:`cache_policy` over
    ``src(url, headers)`` — same header regexes, same precedence,
    same difference-only date arithmetic (try_strptime absorbs
    malformed dates like Spark's try_to_timestamp)."""
    cc = f"nullif(trim(regexp_extract(headers, '{_H_CC}', 1)), '')"

    def tok(t):
        return f"coalesce(regexp_matches({cc}, '(?i)(^|[,\\s]){t}([,\\s]|$)'), FALSE)"

    smax = f"CAST(nullif(regexp_extract({cc}, '{_D_SMAXAGE}', 2), '') AS BIGINT)"
    mage = f"CAST(nullif(regexp_extract({cc}, '{_D_MAXAGE}', 2), '') AS BIGINT)"

    def ts(pat):
        raw = f"nullif(trim(regexp_extract(headers, '{pat}', 1)), '')"
        raw = f"regexp_replace({raw}, '{_DOW_PREFIX}', '')"
        return f"epoch(try_strptime({raw}, '{_RFC1123_DUCK}'))"

    diff = f"CAST({ts(_H_EXPIRES)} - {ts(_H_DATE)} AS BIGINT)"
    exp_ttl = f"CASE WHEN ({diff}) IS NOT NULL THEN greatest({diff}, 0) END"
    return f"""
        SELECT url,
               {tok('no-store')} AS no_store,
               {tok('no-cache')} AS no_cache,
               CASE WHEN {tok('no-store')} THEN 0
                    ELSE coalesce({smax}, {mage}, {exp_ttl}) END AS ttl_s
        FROM {src}
    """


def refresh_pages(lake, new_rows: DataFrame) -> int:
    """Write-through refresh: MERGE the re-fetched rows over the
    stale ones, keyed on url (downloader.py:78-80 analog), then fold
    the delta in so `pages` reads stay one layer. Returns the
    committed snapshot."""
    from .. import schemas

    lake.merge_upsert("pages", new_rows, ["url"], schemas.PAGES)
    return lake.compact("pages")


# RFC 9110 Retry-After: delta-seconds or an HTTP-date. 429/503 are
# the rate-limit statuses a polite crawler MUST honor before its own
# AIMD backoff opinion (adaptive_crawl_delay) — the server named its
# price. Date form reuses the cache_policy discipline: only the
# Retry-After − Date DIFFERENCE is used, never an absolute epoch.
_H_RETRY_AFTER = r"(?im)^retry-after\s*:\s*([^\r\n]*)"
_H_STATUS_RATE_LIMITED = (429, 503)


def retry_after(responses: DataFrame, url_col: str = "url",
                status_col: str = "status",
                headers_col: str = "headers") -> DataFrame:
    """(url, status, raw headers) → (url, status, rate_limited,
    retry_after_s): the server-declared backoff.

    ``retry_after_s`` parses the delta-seconds form exactly and the
    HTTP-date form as max(0, Retry-After − Date) when both headers
    parse (difference-only — timezone handling cancels); absent or
    malformed values are NULL (the crawler falls back to its own
    backoff policy — a bad origin can never fail the wave).
    ``rate_limited`` is the 429/503 status flag; the header is parsed
    regardless (3xx responses may carry it too). Pure projection.
    Per-host integration is one rollup: max(retry_after_s) over
    rate_limited rows feeds the politeness delay column."""
    cols = retry_after_cols(status_col, headers_col)
    return responses.select(
        F.col(url_col).alias("url"),
        F.col(status_col).cast("int").alias("status"),
        cols["rate_limited"].alias("rate_limited"),
        cols["retry_after_s"].alias("retry_after_s"),
    )


def retry_after_cols(status_col: str = "status",
                     headers_col: str = "headers") -> dict:
    """The retry_after output expressions as a name → Column dict —
    shared with the composed :func:`header_policy`."""
    h = F.col(headers_col)
    raw = F.nullif(F.trim(F.regexp_extract(h, _H_RETRY_AFTER, 1)), F.lit(""))
    delta = F.when(raw.rlike(r"^[0-9]+$"), raw.cast("long"))

    def ts(val):
        stripped = F.regexp_replace(val, _DOW_PREFIX, "")
        return F.unix_timestamp(F.try_to_timestamp(stripped,
                                                   F.lit(_RFC1123_SPARK)))

    date_raw = F.nullif(F.trim(F.regexp_extract(h, _H_DATE, 1)), F.lit(""))
    diff = ts(raw) - ts(date_raw)
    dated = F.when(diff.isNotNull(), F.greatest(diff, F.lit(0).cast("long")))
    return {
        "rate_limited": F.col(status_col).cast("int")
        .isin(*_H_STATUS_RATE_LIMITED),
        "retry_after_s": F.coalesce(delta, dated),
    }


def retry_after_sql(src: str = "responses", url_col: str = "url",
                    status_col: str = "status",
                    headers_col: str = "headers") -> str:
    """DuckDB replay of :func:`retry_after` — same regexes, same
    delta-vs-date precedence, same difference-only arithmetic."""
    raw = f"nullif(trim(regexp_extract({headers_col}, '{_H_RETRY_AFTER}', 1)), '')"
    delta = (f"CASE WHEN regexp_matches({raw}, '^[0-9]+$') "
             f"THEN CAST({raw} AS BIGINT) END")

    def ts(val):
        return (f"epoch(try_strptime(regexp_replace({val}, "
                f"'{_DOW_PREFIX}', ''), '{_RFC1123_DUCK}'))")

    date_raw = (f"nullif(trim(regexp_extract({headers_col}, "
                f"'{_H_DATE}', 1)), '')")
    diff = f"CAST({ts(raw)} - {ts(date_raw)} AS BIGINT)"
    dated = f"CASE WHEN ({diff}) IS NOT NULL THEN greatest({diff}, 0) END"
    statuses = ", ".join(str(s) for s in _H_STATUS_RATE_LIMITED)
    return f"""
        SELECT {url_col} AS url,
               CAST({status_col} AS INT) AS status,
               CAST({status_col} AS INT) IN ({statuses}) AS rate_limited,
               coalesce({delta}, {dated}) AS retry_after_s
        FROM {src}
    """


def header_policy(responses: DataFrame, url_col: str = "url",
                  status_col: str = "status",
                  headers_col: str = "headers",
                  ua: str = "spark-frontier") -> DataFrame:
    """The composed per-URL header verdict: everything a fetch
    pipeline decides from the raw response headers alone, in ONE
    projection — RFC 9111 freshness (cache_policy), RFC 9110
    rate-limit backoff (retry_after) and X-Robots-Tag directives
    (x_robots_tag, the only robots channel a binary image payload
    has) — built from the SAME column expressions the three
    stand-alone operators use (shared `*_cols` helpers, so the
    composition cannot drift from its parts).

    Output per URL: ``archive_ok`` (storable at all: not no-store,
    not noarchive), ``index_ok``/``follow_ok``/``image_index_ok``
    (directive gates), ``rate_limited`` + ``backoff_s`` (the
    server-named price, NULL when it named none — caller's AIMD
    applies), ``no_cache`` and ``ttl_s`` (the freshness budget).
    Still a single map-side pass: three regex families over one
    headers column."""
    from ..sources.webparse import x_robots_tag_cols

    cp = cache_policy_cols(headers_col)
    ra = retry_after_cols(status_col, headers_col)
    xr = x_robots_tag_cols(headers_col, ua=ua)
    return responses.select(
        F.col(url_col).alias("url"),
        F.col(status_col).cast("int").alias("status"),
        (~(cp["no_store"] | xr["noarchive"])).alias("archive_ok"),
        (~xr["noindex"]).alias("index_ok"),
        (~xr["nofollow"]).alias("follow_ok"),
        (~xr["noimageindex"]).alias("image_index_ok"),
        ra["rate_limited"].alias("rate_limited"),
        F.when(ra["rate_limited"], ra["retry_after_s"]).alias("backoff_s"),
        cp["no_cache"].alias("no_cache"),
        cp["ttl_s"].alias("ttl_s"),
    )


def header_policy_sql(src: str = "responses", url_col: str = "url",
                      status_col: str = "status",
                      headers_col: str = "headers",
                      ua: str = "spark-frontier") -> str:
    """DuckDB replay of :func:`header_policy` — chains the three
    stand-alone replays (cache_policy_sql / retry_after_sql /
    x_robots_tag_sql) as CTEs joined on url, so the composition is
    verified against its oracled parts."""
    from ..sources.webparse import x_robots_tag_sql

    base = (f"(SELECT {url_col} AS url, {status_col} AS status, "
            f"{headers_col} AS headers FROM {src})")
    return f"""
        WITH hp_cp AS ({cache_policy_sql(base)}),
        hp_ra AS ({retry_after_sql(base)}),
        hp_xr AS ({x_robots_tag_sql(base, ua=ua)})
        SELECT url, hp_ra.status,
               NOT (hp_cp.no_store OR hp_xr.noarchive) AS archive_ok,
               NOT hp_xr.noindex AS index_ok,
               NOT hp_xr.nofollow AS follow_ok,
               NOT hp_xr.noimageindex AS image_index_ok,
               hp_ra.rate_limited,
               CASE WHEN hp_ra.rate_limited
                    THEN hp_ra.retry_after_s END AS backoff_s,
               hp_cp.no_cache, hp_cp.ttl_s
        FROM hp_cp JOIN hp_ra USING (url) JOIN hp_xr USING (url)
    """


# RFC 9110 Content-Range: large media (exactly the multi-MB images
# and video this graft cell stores) arrives as 206 partial responses,
# and a pipeline must PROVE it holds every byte before reassembling a
# payload — a missing middle chunk produces a silently-corrupt image
# that decodes as garbage or truncates. Coverage is the classic
# interval-union problem, solved distributed with ONE per-url window.
_H_CONTENT_RANGE = (
    r"(?im)^content-range[ \t]*:[ \t]*bytes[ \t]+(\d+)-(\d+)/(\d+)"
)


def content_range_parts(responses: DataFrame, url_col: str = "url",
                        headers_col: str = "headers") -> DataFrame:
    """Parse 206 part records: (url, part_start, part_end,
    total_bytes) from Content-Range headers; rows whose header is
    absent/malformed (or the unsatisfied '*/N' form) are dropped —
    they carry no byte evidence. Pure projection + filter."""
    h = F.col(headers_col)

    def grp(i):
        return F.nullif(F.regexp_extract(h, _H_CONTENT_RANGE, i),
                        F.lit("")).cast("long")

    return responses.select(
        F.col(url_col).alias("url"),
        grp(1).alias("part_start"),
        grp(2).alias("part_end"),
        grp(3).alias("total_bytes"),
    ).where(F.col("part_start").isNotNull()
            & F.col("part_end").isNotNull()
            & F.col("total_bytes").isNotNull())


def range_reassembly(parts: DataFrame, url_col: str = "url") -> DataFrame:
    """Per (url, total_bytes): (n_parts, covered_bytes, has_gap,
    complete) — can the stored 206 parts reassemble the full payload?

    Interval union without a driver loop: per url, order parts by
    (start, end) and keep the running max of prior clamped ends
    (window, rows unbounded-preceding → 1-preceding); each part
    contributes max(0, end − max(start−1, prev_max)) new bytes, so
    overlaps never double-count and the sum IS the union size.
    ``has_gap`` fires when a part starts beyond prev_max+1 (the first
    part beyond byte 0 included); ``complete`` = union == total.
    Ends are clamped to total−1 first, so a server over-declaring a
    part can't fake completeness arithmetic. ONE shuffle (the window;
    the rollup reuses its partitioning). Inconsistent totals for one
    url split groups and read incomplete — documented."""
    from pyspark.sql import Window

    start = F.col("part_start")
    end_c = F.least(F.col("part_end"), F.col("total_bytes") - 1)
    # a part that STARTS past EOF is a server lie carrying no byte
    # evidence: it must neither fire the gap flag nor leak its
    # clamped end into the running max (start ordering already puts
    # such rows last, so valid rows' arithmetic is untouched)
    valid = start <= F.col("total_bytes") - 1
    end_m = F.when(valid, end_c).otherwise(F.lit(-1).cast("long"))
    w = (
        Window.partitionBy(url_col, "total_bytes")
        .orderBy("part_start", "part_end")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_max = F.coalesce(F.max(end_m).over(w), F.lit(-1).cast("long"))
    staged = parts.select(
        url_col, "total_bytes",
        F.when(
            valid,
            F.greatest(
                F.lit(0).cast("long"),
                end_c - F.greatest(start - 1, prev_max),
            ),
        ).otherwise(F.lit(0).cast("long")).alias("__inc"),
        (valid & (start > prev_max + 1)).alias("__gap"),
    )
    return (
        staged.groupBy(url_col, "total_bytes")
        .agg(
            F.count("*").alias("n_parts"),
            F.sum("__inc").alias("covered_bytes"),
            F.max(F.col("__gap").cast("int")).alias("__g"),
        )
        .select(
            url_col, "total_bytes", "n_parts", "covered_bytes",
            (F.col("__g") == 1).alias("has_gap"),
            (F.col("covered_bytes") == F.col("total_bytes")).alias("complete"),
        )
    )


def range_reassembly_sql(src: str = "responses", url_col: str = "url",
                         headers_col: str = "headers") -> str:
    """DuckDB replay of content_range_parts → range_reassembly —
    same regex, same clamped running-max window, same union sum."""
    def grp(i):
        return (f"CAST(nullif(regexp_extract({headers_col}, "
                f"'{_H_CONTENT_RANGE}', {i}), '') AS BIGINT)")

    return f"""
        WITH crp AS (
          SELECT {url_col} AS url, {grp(1)} AS part_start,
                 {grp(2)} AS part_end, {grp(3)} AS total_bytes
          FROM {src}
          WHERE {grp(1)} IS NOT NULL AND {grp(2)} IS NOT NULL
            AND {grp(3)} IS NOT NULL
        ), crw AS (
          SELECT url, total_bytes,
                 CASE WHEN part_start <= total_bytes - 1 THEN
                   greatest(0, least(part_end, total_bytes - 1)
                     - greatest(part_start - 1, COALESCE(MAX(
                         CASE WHEN part_start <= total_bytes - 1
                              THEN least(part_end, total_bytes - 1)
                              ELSE -1 END) OVER (
                       PARTITION BY url, total_bytes
                       ORDER BY part_start, part_end
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       -1)))
                 ELSE 0 END AS inc,
                 part_start <= total_bytes - 1
                   AND part_start > COALESCE(MAX(
                     CASE WHEN part_start <= total_bytes - 1
                          THEN least(part_end, total_bytes - 1)
                          ELSE -1 END)
                   OVER (PARTITION BY url, total_bytes
                         ORDER BY part_start, part_end
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   -1) + 1 AS gap
          FROM crp
        )
        SELECT url, total_bytes,
               CAST(COUNT(*) AS BIGINT) AS n_parts,
               CAST(SUM(inc) AS BIGINT) AS covered_bytes,
               MAX(CASE WHEN gap THEN 1 ELSE 0 END) = 1 AS has_gap,
               CAST(SUM(inc) AS BIGINT) = total_bytes AS complete
        FROM crw GROUP BY url, total_bytes
    """


# RFC 9110 validators: the revalidate tier of fetch_plan needs the
# stored response's ETag / Last-Modified to build a conditional GET.
# Both are ECHOED VERBATIM (the spec's rule — If-Modified-Since must
# be byte-identical to the stored Last-Modified, and an ETag keeps
# its W/ prefix and quotes), so extraction is string-exact, never a
# parse: a validator we can't parse is still a validator we can echo.
# No (?m)$ anchor: Java treats the position before \r as end-of-line,
# RE2 does not — trailing whitespace is stripped by an explicit
# replace instead, identical in both engines.
_H_ETAG = r"(?im)^etag[ \t]*:[ \t]*([^\r\n]+)"
_H_LAST_MODIFIED = r"(?im)^last-modified[ \t]*:[ \t]*([^\r\n]+)"
_TRAIL_WS = r"[ \t]+$"


def revalidation_headers(responses: DataFrame, url_col: str = "url",
                         headers_col: str = "headers") -> DataFrame:
    """(url, raw headers) → (url, etag, last_modified, cond_headers):
    the stored validators and the ready-to-send conditional-GET
    header block. ETag wins a 304 even when the date lies, so when
    both validators exist BOTH conditions are sent (spec-permitted;
    origins must prefer If-None-Match); no validator → NULL
    cond_headers (the revalidate tier degrades to a plain fetch).
    Pure projection; strings are echoed verbatim, never parsed."""
    h = F.col(headers_col)
    etag = F.nullif(
        F.regexp_replace(F.regexp_extract(h, _H_ETAG, 1), _TRAIL_WS, ""),
        F.lit(""))
    lm = F.nullif(
        F.regexp_replace(F.regexp_extract(h, _H_LAST_MODIFIED, 1),
                         _TRAIL_WS, ""),
        F.lit(""))
    inm = F.concat(F.lit("If-None-Match: "), etag)
    ims = F.concat(F.lit("If-Modified-Since: "), lm)
    cond = (
        F.when(etag.isNotNull() & lm.isNotNull(),
               F.concat(inm, F.lit("\r\n"), ims))
        .when(etag.isNotNull(), inm)
        .when(lm.isNotNull(), ims)
    )
    return responses.select(
        F.col(url_col).alias("url"),
        etag.alias("etag"),
        lm.alias("last_modified"),
        cond.alias("cond_headers"),
    )


def revalidation_headers_sql(src: str = "responses", url_col: str = "url",
                             headers_col: str = "headers") -> str:
    """DuckDB replay of :func:`revalidation_headers` — same regexes,
    same both-validators rule, CRLF via chr()."""
    etag = (f"nullif(regexp_replace(regexp_extract({headers_col}, "
            f"'{_H_ETAG}', 1), '{_TRAIL_WS}', ''), '')")
    lm = (f"nullif(regexp_replace(regexp_extract({headers_col}, "
          f"'{_H_LAST_MODIFIED}', 1), '{_TRAIL_WS}', ''), '')")
    return f"""
        SELECT {url_col} AS url, {etag} AS etag, {lm} AS last_modified,
               CASE
                 WHEN {etag} IS NOT NULL AND {lm} IS NOT NULL THEN
                   'If-None-Match: ' || {etag} || chr(13) || chr(10)
                     || 'If-Modified-Since: ' || {lm}
                 WHEN {etag} IS NOT NULL THEN 'If-None-Match: ' || {etag}
                 WHEN {lm} IS NOT NULL THEN 'If-Modified-Since: ' || {lm}
               END AS cond_headers
        FROM {src}
    """
