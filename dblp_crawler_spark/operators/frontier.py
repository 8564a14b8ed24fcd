"""Frontier expansion operators (SURVEY.md J1-J4, P1/P2, U1/U3).

Everything here is native DataFrame ops — explode, anti-join,
aggregate — so the whole BFS filter path stays in whole-stage
codegen. Anti-joins are the reference's seen-set guards
(graph.py:24-26,42-44,111-113) re-expressed relationally.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.priority import priority_col
from ..functions.text import first_doi, journal_key, keyword_cnf_match, title_hash


def host_expr(pid: Column) -> Column:
    """Deterministic fixture 'DNS' — mirrors fixtures.host_of_pid
    (crc32-based) so engine and oracle agree on hosts."""
    h = F.crc32(F.encode(pid, "utf-8"))
    return F.when(F.pmod(h, 100) < 85, F.lit("dblp.org")).otherwise(
        F.concat(F.lit("host"), (F.pmod(h, 3) + 1).cast("string"), F.lit(".example.org"))
    )


def crawler_filter(pubs: DataFrame, year: int, rules: list[list[str]], pub_col: str = "pub") -> DataFrame:
    """filter_publications_at_crawler (graph.py:62-66,
    __main__.py:37-40): year >= Y (NULL fails) AND CNF keyword match.
    Semantic pushdown INTO the BFS — prunes reachability, so it must
    run before expansion, exactly like the reference (SURVEY.md §4).
    """
    p = F.col(pub_col)
    return pubs.filter((p["year"] >= F.lit(year)) & keyword_cnf_match(p["title"], rules))


def output_filter(
    pubs: DataFrame, year: int | None, rules: list[list[str]] | None, pub_col: str = "pub"
) -> DataFrame:
    """F2: filter_publications_at_output (graph.py:68-72): prune pubs
    at the EMISSION step only. Unlike the crawler filter this does
    not cut reachability — the crawl still expands through filtered
    pubs; they just never appear in nodes/edges/publications. The
    reference's default hook passes everything through; year/rules
    are the declarative (no-eval) subclass equivalents."""
    p = F.col(pub_col)
    cond = F.lit(True)
    if year is not None:
        cond = cond & (p["year"] >= F.lit(year))
    if rules:
        cond = cond & keyword_cnf_match(p["title"], rules)
    return pubs.filter(cond)


def dedup_new_pubs(pubs: DataFrame, seen: DataFrame) -> DataFrame:
    """Seen-set guard (graph.py:111-113): candidates ∖ seen.
    At 10^10 scale the exact anti-join is preceded by the bloom
    pre-filter (operators/bloom.py); survivors still take this exact
    path, so correctness never depends on the filter."""
    return pubs.join(seen.select("key"), "key", "left_anti")


def discover_authors(new_pubs: DataFrame, frontier_pids: DataFrame) -> DataFrame:
    """J1: new pubs → unseen author pids with max-priority rule.

    Canonical priority of a discovered pid: MAX (priority, -depth)
    over the pubs discovering it this wave (oracle.py). new_pubs has
    columns (key, pub struct, ccf, base_depth)."""
    cand = new_pubs.select(
        F.explode("pub.authors").alias("a"),
        priority_col("ccf", F.col("pub.year"), F.col("base_depth")).alias("prio"),
        F.col("base_depth").alias("depth"),
    ).select(F.col("a.pid").alias("pid"), "prio", "depth")
    best = (
        cand.groupBy("pid")
        .agg(F.max(F.struct(F.col("prio"), (-F.col("depth")).alias("nd"))).alias("b"))
        .select("pid", F.col("b.prio").alias("priority"), (-F.col("b.nd")).alias("depth"))
    )
    return best.join(frontier_pids.select("pid"), "pid", "left_anti")


def pub_record_cols(pub_col: str, ccf_col: str) -> list[Column]:
    """Derived publication record columns (parser.py:131-149):
    title_hash (P4), journal_key (P6), doi (P5), ccf (P7)."""
    p = F.col(pub_col)
    return [
        p["key"].alias("key"),
        p["title"].alias("title"),
        F.when(p["title"].isNotNull(), title_hash(p["title"])).alias("title_hash"),
        p["journal"].alias("journal"),
        journal_key(p["url"]).alias("journal_key"),
        p["year"].alias("year"),
        p["mdate"].alias("mdate"),
        first_doi(p["ee"]).alias("doi"),
        F.col(ccf_col).alias("ccf"),
        p["authors"].alias("authors"),
        p["image_id"].alias("image_id"),
    ]


def with_ccf(df: DataFrame, ccf_rank: DataFrame, jkey_col: Column) -> DataFrame:
    """P7: broadcast dim join + coalesce('N') (parser.py:124-129)."""
    dim = F.broadcast(ccf_rank.select(F.col("journal_key").alias("__jk"), F.col("rank").alias("__rank")))
    return (
        df.withColumn("__jk", jkey_col)
        .join(dim, "__jk", "left")
        .withColumn("ccf", F.coalesce(F.col("__rank"), F.lit("N")))
        .drop("__jk", "__rank")
    )


def admit_candidates(
    candidates: DataFrame,
    seen_keys: DataFrame | None = None,
    url_col: str = "url",
    max_depth: int = 8,
    hash_fn=None,
) -> DataFrame:
    """Open-web frontier admission: raw candidate hrefs →
    (url, host, seen_key) rows safe to append to the frontier.

    The composed general-web counterpart of the dblp-specific wave
    admission in plans/crawl.py (north_rule: "each iteration
    canonicalizes and hashes candidate URLs, tests membership against
    a partitioned bloom/cuckoo URL-seen filter"):

      1. canonicalize (functions/urlnorm.canonical_url) so every raw
         spelling maps to ONE seen key,
      2. drop spider traps (url_trap_flags — depth, repeated
         segments, session params, calendar loops),
      3. collapse this batch's duplicates (one hash agg on the
         64-bit seen key; min url is a deterministic tiebreak of
         identical canonical strings),
      4. anti-join the persistent seen set by key (or feed the
         bloom bank's probe in place of the exact join).

    `seen_keys`: one `seen_key` column (pass the bank-backed maybe-
    seen survivors for the filter fast path). hash_fn defaults to
    xxhash64; pass functions.hashing.hash60 for SQL-replayable keys.
    Pure projections + one hash agg + one anti-join — nothing here
    shuffles url text except the one admitted row itself.
    """
    from ..functions.hashing import xx64
    from ..functions.urlnorm import canonical_url, url_host, url_trap_flags

    h = hash_fn or xx64
    canon = candidates.select(canonical_url(F.col(url_col)).alias("url"))
    clean = canon.filter(~url_trap_flags("url", max_depth=max_depth)["is_trap"])
    keyed = clean.select("url", h(F.col("url")).alias("seen_key"))
    batch = keyed.groupBy("seen_key").agg(F.min("url").alias("url"))
    if seen_keys is not None:
        batch = batch.join(seen_keys.select("seen_key"), "seen_key", "left_anti")
    return batch.select("url", url_host("url").alias("host"), "seen_key")


def template_cap(urls: DataFrame, max_per_template: int,
                 url_col: str = "url", n_salts: int = 16) -> DataFrame:
    """Per-template URL fan-out budget: admit at most
    ``max_per_template`` URLs per generative template
    (:func:`~dblp_crawler_spark.functions.urlnorm.url_template`) —
    the aggregate-level trap defense per-URL heuristics can't
    provide: a faceted-navigation or calendar endpoint mints
    unbounded DISTINCT urls from one template, each individually
    innocent.  Selection within a template is rank by
    (hash60(url), url): a deterministic uniform sample, so every
    engine/re-run admits the same subset.

    Returns every input row + (template, tmpl_rank, admitted):
    tmpl_rank is the within-template rank for ADMITTED rows (NULL
    beyond the cap — the salted evaluation leaves ranks past the cap
    undefined), admitted = rank <= cap.

    Scale shape: a hot template IS the skew case (10^8 calendar
    URLs landing in one window partition), so the rank runs as the
    politeness pop's salted two-level top-k: rank within (template,
    salt) keeps <= cap per salt — any row in the true top-cap has
    salt-local rank <= cap, so level 1 never drops a survivor — then
    the exact rank over the <= n_salts*cap level-1 survivors
    (bounded partitions).  The admitted flag joins back on url
    (equi-join; the survivor side is <= cap rows per template)."""
    from pyspark.sql import Window

    from ..functions.hashing import hash60
    from ..functions.urlnorm import url_template

    u = F.col(url_col)
    t = urls.withColumn("template", url_template(u))
    order = [hash60(u).asc(), u.asc()]
    salted = t.withColumn("__salt", F.pmod(F.xxhash64(u), F.lit(n_salts)))
    w1 = Window.partitionBy("template", "__salt").orderBy(*order)
    lvl1 = (
        salted.withColumn("__rn1", F.row_number().over(w1))
        .filter(F.col("__rn1") <= max_per_template)
    )
    w2 = Window.partitionBy("template").orderBy(*order)
    ranked = (
        lvl1.withColumn("__rn", F.row_number().over(w2))
        .filter(F.col("__rn") <= max_per_template)
        .select(u.alias("__u"), F.col("__rn").alias("tmpl_rank"))
    )
    return (
        t.join(ranked, u == F.col("__u"), "left")
        .select(
            *urls.columns, "template",
            F.col("tmpl_rank").cast("int").alias("tmpl_rank"),
            F.col("tmpl_rank").isNotNull().alias("admitted"),
        )
    )


def template_cap_sql(src: str, max_per_template: int,
                     url_col: str = "url") -> str:
    """DuckDB replay of :func:`template_cap` — the single-window
    form the salted plan is provably equivalent to (politeness-pop
    lemma: the top-cap set and its ranks survive level 1 intact)."""
    from ..functions.hashing import hash60_sql
    from ..functions.urlnorm import url_template_sql

    h = hash60_sql(url_col)
    return f"""
        WITH tc AS (
          SELECT *, {url_template_sql(url_col)} AS template,
                 ROW_NUMBER() OVER (PARTITION BY {url_template_sql(url_col)}
                   ORDER BY {h} ASC, {url_col} ASC) AS rnk
          FROM {src}
        )
        SELECT * EXCLUDE (rnk),
               CAST(CASE WHEN rnk <= {max_per_template} THEN rnk END AS INT) AS tmpl_rank,
               rnk <= {max_per_template} AS admitted
        FROM tc
    """


# ---- registrable domain (public-suffix longest match) -------------------------

#: starter suffix dim — the handful of multi-label public suffixes
#: every crawler hits constantly. Production ingests the full Public
#: Suffix List into the same (suffix) dim table (publicsuffix.org;
#: the LIST is data the operator takes as input, like the CCF dim —
#: none of it ships here beyond these well-known entries).
DEFAULT_PUBLIC_SUFFIXES = [
    "co.uk", "org.uk", "ac.uk", "gov.uk", "com.au", "net.au", "org.au",
    "co.jp", "or.jp", "ne.jp", "com.br", "com.cn", "com.mx", "co.in",
    "co.kr", "co.nz", "com.sg", "com.tr", "co.za",
]


def registrable_domain(hosts: DataFrame, psl: DataFrame | None = None,
                       host_col: str = "host",
                       max_suffix_labels: int = 4) -> DataFrame:
    """(host, suffix, registrable): the registrable domain under a
    public-suffix list — the SITE-level politeness/budget key.
    Per-host politeness treats every subdomain of one site as a
    separate host (a wildcard-subdomain spam farm gets unlimited
    budget); keying on the naive last-2-labels merges every
    ``*.co.uk`` site into one (the whole UK shares one budget).
    Correct grouping needs longest-suffix match against the PSL:
    ``a.b.example.co.uk`` → suffix ``co.uk`` → registrable
    ``example.co.uk``.

    ``psl`` is a (suffix string) dim — broadcast side of the join
    (the full Public Suffix List is ~10⁴ rows); defaults to the
    well-known starter set.  Candidates are each host's last
    1..max_suffix_labels PROPER suffixes (explode ≤4 rows per host,
    collapse by max matched length); hosts with no PSL match fall
    back to the standard implicit rule (suffix = last label,
    registrable = last two).  A host that IS a public suffix has no
    registrable domain → returns the host itself (PSL semantics).
    Ports are stripped.  Input should be the DISTINCT host dim, not
    the URL table — compute once, join back on host."""
    if psl is None:
        spark = hosts.sparkSession
        psl = spark.createDataFrame(
            [(s,) for s in DEFAULT_PUBLIC_SUFFIXES], "suffix string"
        )
    bare = F.regexp_extract(F.col(host_col), "^([^:]*)", 1)
    labels = F.split(bare, r"\.")
    base = hosts.select(
        F.col(host_col).alias("host"),
        labels.alias("__l"),
        F.size(labels).alias("__n"),
    )
    cand = base.select(
        "host", "__l", "__n",
        F.explode(
            F.filter(
                F.transform(
                    F.sequence(F.lit(1), F.lit(max_suffix_labels)),
                    lambda k: F.when(
                        F.col("__n") > k,
                        F.struct(
                            k.alias("k"),
                            F.array_join(
                                F.slice(F.col("__l"), F.col("__n") - k + 1, k), "."
                            ).alias("sfx"),
                        ),
                    ),
                ),
                lambda x: x.isNotNull(),
            )
        ).alias("__c"),
    )
    matched = (
        cand.join(F.broadcast(psl), cand["__c"]["sfx"] == psl["suffix"], "inner")
        .groupBy("host")
        .agg(F.max(F.col("__c")["k"]).alias("__kbest"))
    )
    out = (
        base.join(matched, "host", "left")
        .withColumn(
            "__k", F.coalesce(F.col("__kbest"), F.lit(1))
        )
        .select(
            "host",
            F.array_join(
                F.slice(F.col("__l"), F.greatest(F.lit(1), F.col("__n") - F.col("__k") + 1),
                        F.least(F.col("__n"), F.col("__k"))), "."
            ).alias("suffix"),
            F.array_join(
                F.slice(F.col("__l"), F.greatest(F.lit(1), F.col("__n") - F.col("__k")),
                        F.least(F.col("__n"), F.col("__k") + 1)), "."
            ).alias("registrable"),
        )
    )
    return out


def registrable_domain_sql(src: str, psl: str, host_col: str = "host",
                           max_suffix_labels: int = 4) -> str:
    """DuckDB replay of :func:`registrable_domain` over ``src`` (the
    host dim) and ``psl`` (suffix dim) — same candidate explode,
    same longest-match collapse, same fallback/clamp arithmetic."""
    return f"""
        WITH rd_base AS (
          SELECT {host_col} AS host,
                 string_split(regexp_extract({host_col}, '^([^:]*)', 1), '.') AS l,
                 len(string_split(regexp_extract({host_col}, '^([^:]*)', 1), '.')) AS n
          FROM {src}
        ), rd_cand AS (
          SELECT host, n, k,
                 array_to_string(l[n - k + 1 : n], '.') AS sfx
          FROM rd_base, (SELECT unnest(range(1, {max_suffix_labels + 1})) AS k) ks
          WHERE n > k
        ), rd_match AS (
          SELECT c.host, MAX(c.k) AS kbest
          FROM rd_cand c JOIN {psl} p ON c.sfx = p.suffix
          GROUP BY c.host
        )
        SELECT b.host,
               array_to_string(l[GREATEST(1, n - COALESCE(kbest, 1) + 1) : n], '.') AS suffix,
               array_to_string(l[GREATEST(1, n - COALESCE(kbest, 1)) : n], '.') AS registrable
        FROM rd_base b LEFT JOIN rd_match m ON b.host = m.host
    """


# ---- URL blocklist gate ------------------------------------------------------
#
# Every production crawler carries a deny list — legal takedowns,
# abuse domains, customer opt-outs — and it must run as an ADMISSION
# gate, not a post-hoc delete (fetching a blocked URL is already the
# violation). The list is a dim table of typed patterns: exact host,
# host suffix (blocks subdomains — 'example.com' blocks
# 'a.example.com' but not 'notexample.com'; the dot is checked),
# path prefix on a specific host, and raw substring (the blunt
# instrument for tracking pixels and known exploit paths). The dim
# is tiny (10^3-10^5 rows) and broadcast; each pattern type is its
# own broadcast join shape, so no all-pairs LIKE scan ever runs —
# substring, the only non-equi shape, is still a broadcast
# nested-loop over the tiny dim only.

def url_blocklist(urls: DataFrame, patterns: DataFrame,
                  url_col: str = "url") -> DataFrame:
    """(url, blocked, block_kind, block_pattern) per distinct URL
    against a patterns(kind, pattern) dim; kind in {host, host_suffix,
    path_prefix, substring}. path_prefix patterns are
    'host/path-prefix'. The first match in (host, host_suffix,
    path_prefix, substring, then pattern text) order is reported —
    deterministic when several patterns match."""
    from ..functions.urlnorm import url_host, url_path

    u = urls.select(F.col(url_col).alias("url")).distinct().select(
        "url", url_host("url").alias("__h"), url_path("url").alias("__p"))
    p = patterns.select(
        F.col("kind").alias("__kind"), F.col("pattern").alias("__pat"))
    kind_rank = (
        F.when(F.col("__kind") == "host", 0)
        .when(F.col("__kind") == "host_suffix", 1)
        .when(F.col("__kind") == "path_prefix", 2)
        .otherwise(3)
    )
    hit = (
        F.when(F.col("__kind") == "host", F.col("__h") == F.col("__pat"))
        .when(F.col("__kind") == "host_suffix",
              (F.col("__h") == F.col("__pat"))
              | F.col("__h").endswith(F.concat(F.lit("."), F.col("__pat"))))
        .when(F.col("__kind") == "path_prefix",
              F.concat(F.col("__h"), F.col("__p")).startswith(F.col("__pat")))
        .otherwise(F.col("url").contains(F.col("__pat")))
    )
    from pyspark.sql import Window

    m = u.join(F.broadcast(p), hit).withColumn("__rk", kind_rank)
    w = Window.partitionBy("url").orderBy("__rk", "__pat", "__kind")
    best = (
        m.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select("url", F.col("__kind").alias("block_kind"),
                F.col("__pat").alias("block_pattern"))
    )
    return u.select("url").join(best, "url", "left").select(
        "url",
        F.col("block_kind").isNotNull().alias("blocked"),
        "block_kind", "block_pattern",
    )


def url_blocklist_sql(urls: str, patterns: str, url_col: str = "url") -> str:
    """DuckDB replay of :func:`url_blocklist` — same typed matches
    and (rank, pattern) MIN election."""
    from ..functions.urlnorm import url_host_sql, url_path_sql

    h = url_host_sql("url")
    pth = url_path_sql("url")
    return f"""
        WITH bl_u AS (
          SELECT DISTINCT {url_col} AS url FROM {urls}
        ), bl_h AS (
          SELECT url, {h} AS hh, {pth} AS pp FROM bl_u
        ), bl_j AS (
          SELECT u.url, p.kind, p.pattern,
                 CASE p.kind WHEN 'host' THEN 0 WHEN 'host_suffix' THEN 1
                      WHEN 'path_prefix' THEN 2 ELSE 3 END AS rk
          FROM bl_h u JOIN {patterns} p ON
            CASE p.kind
              WHEN 'host' THEN u.hh = p.pattern
              WHEN 'host_suffix' THEN u.hh = p.pattern
                   OR suffix(u.hh, '.' || p.pattern)
              WHEN 'path_prefix' THEN starts_with(u.hh || u.pp, p.pattern)
              ELSE contains(u.url, p.pattern) END
        ), bl_m AS (
          SELECT url, kind AS block_kind, pattern AS block_pattern FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY url
                      ORDER BY rk, pattern, kind) AS rn
            FROM bl_j
          ) WHERE rn = 1
        )
        SELECT u.url, block_kind IS NOT NULL AS blocked,
               block_kind, block_pattern
        FROM bl_u u LEFT JOIN bl_m USING (url)
    """
