"""Transitive redirect resolution — collapse 3xx / rel=canonical
chains to their final resource before frontier admission.

A web frontier that doesn't resolve redirects fetches the same final
page under every alias and pollutes the seen set with intermediate
hops. The reference never needs this (its one host serves stable
URLs); at web scale it's a standard frontier-admission step: resolve
src → final, then canonicalize + hash the FINAL url into the
bloom seen bank.

Semantics mirror real HTTP clients: follow at most ``max_hops``
redirects (curl caps at 50, browsers ~20); a chain still unresolved
at the cap — which includes every cycle — is reported
``resolved = false`` ("too many redirects"), never an error.

Scale shape: the redirect map is a FUNCTIONAL graph (one out-edge
per src; duplicate records are collapsed to the min dst for
determinism). Each round is ONE equi-join of live states against the
map + a projection; lineage is truncated per round with
localCheckpoint and the moved-counter rides the checkpoint's own job
as an Observation (the connected_components discipline — zero extra
actions per round). Rounds stop as soon as no row moves, so
wall-clock is O(longest chain), not O(max_hops).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def resolve_redirects(
    redirects: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_hops: int = 20,
) -> DataFrame:
    """(src, dst) redirect records → (src, final, hops, resolved).

    One output row per distinct src. ``hops`` is the number of edges
    followed (capped at max_hops); ``resolved`` is false iff the walk
    was still on a redirecting node at the cap (long chain or cycle).
    """
    from pyspark.sql import Observation

    rmap = (
        redirects.groupBy(F.col(src).alias("m_src"))
        .agg(F.min(F.col(dst)).alias("m_dst"))
        .localCheckpoint()
    )
    state = rmap.select(
        F.col("m_src").alias("src_id"),
        F.col("m_dst").alias("cur"),
        F.lit(1).cast("int").alias("hops"),
    ).localCheckpoint()
    for _ in range(max_hops - 1):
        obs = Observation()
        moved = F.col("m_dst").isNotNull().cast("int")
        stepped = (
            state.join(rmap, state["cur"] == rmap["m_src"], "left")
            .observe(obs, F.sum(moved).alias("moved"))
            .select(
                "src_id",
                F.coalesce("m_dst", "cur").alias("cur"),
                (F.col("hops") + moved).alias("hops"),
            )
        )
        state = stepped.localCheckpoint()
        if not int(obs.get["moved"] or 0):
            break
    fin = state.join(rmap, state["cur"] == rmap["m_src"], "left").select(
        F.col("src_id").alias(src),
        F.col("cur").alias("final"),
        "hops",
        F.col("m_src").isNull().alias("resolved"),
    )
    return fin


# ---- pagination chains (rel=next list ranking) --------------------------------
#
# Listing series ("?page=2", Link: rel="next") are the one structure
# a frontier should fetch IN ORDER and CAP: page 400 of an infinite
# calendar is the classic crawler trap, and a chain's root is its
# natural dedup/budget key.  Following next-pointers is sequential;
# the distributed form is LIST RANKING (Wyllie pointer doubling):
# walk the PREDECESSOR direction, each round jumping anc -> anc(anc)
# and adding the jumped distance, so a chain of length L resolves in
# ceil(log2 L) rounds — per round ONE self-equi-join of the state +
# localCheckpoint, with the moved-count riding the checkpoint job as
# an Observation (the resolve_redirects discipline).  Fixed `rounds`
# bounds resolution at 2^rounds pages; deeper nodes — and every
# cycle or self-loop, which can never reach a root — report
# complete=false with NULL root/index: exactly the rows a trap
# filter wants.  Branching next-pointers (two pages naming the same
# successor) make the predecessor non-unique; they collapse to the
# MIN predecessor for determinism, turning the graph into a
# functional forest whose roots are the distance-0 first pages.

def pagination_chains(links: DataFrame, rounds: int = 5,
                      url_col: str = "url",
                      next_col: str = "next_url") -> DataFrame:
    """(url, next_url) records → (url, root_url, page_idx, complete)
    for every page seen on either side; page_idx is 1-based from the
    chain root, NULL (with complete=false) past the 2^rounds horizon
    or on cycles.  Early-stops at the global fixpoint — output-
    visible fields are identical to the full unroll either way."""
    from pyspark.sql import Observation

    l = (
        links.select(F.col(url_col).alias("u"), F.col(next_col).alias("v"))
        .filter(F.col("v").isNotNull())
        .distinct()
    )
    nodes = (
        l.select(F.col("u").alias("node"))
        .unionByName(l.select(F.col("v").alias("node")))
        .distinct()
    )
    prev = l.groupBy(F.col("v").alias("node")).agg(F.min("u").alias("prev"))
    state = (
        nodes.join(prev, "node", "left")
        .select(
            "node",
            F.coalesce("prev", F.col("node")).alias("anc"),
            F.when(F.col("prev").isNull(), 0).otherwise(1)
             .cast("long").alias("dist"),
        )
        .localCheckpoint()
    )
    for _ in range(rounds):
        obs = Observation()
        a = state.select(
            F.col("node").alias("a_node"),
            F.col("anc").alias("a_anc"),
            F.col("dist").alias("a_dist"),
        )
        stepped = (
            state.join(a, state["anc"] == a["a_node"])
            .observe(obs, F.sum(
                (F.col("anc") != F.col("a_anc")).cast("int")).alias("moved"))
            .select(
                "node",
                F.col("a_anc").alias("anc"),
                (F.col("dist") + F.col("a_dist")).alias("dist"),
            )
        )
        state = stepped.localCheckpoint()
        if not int(obs.get["moved"] or 0):
            break
    flagged = state.join(
        prev.select(F.col("node").alias("anc"), F.lit(True).alias("__hp")),
        "anc", "left",
    )
    complete = F.col("__hp").isNull()
    return flagged.select(
        F.col("node").alias(url_col),
        F.when(complete, F.col("anc")).alias("root_url"),
        F.when(complete, F.col("dist") + 1).cast("long").alias("page_idx"),
        complete.alias("complete"),
    )


def pagination_chains_sql(links: str, rounds: int = 5,
                          url_col: str = "url",
                          next_col: str = "next_url") -> str:
    """DuckDB replay of :func:`pagination_chains` — same predecessor
    collapse and unrolled doubling rounds."""
    ctes = [f"""pg_l AS MATERIALIZED (
          SELECT DISTINCT {url_col} AS u, {next_col} AS v
          FROM {links} WHERE {next_col} IS NOT NULL
        ), pg_n AS (
          SELECT u AS node FROM pg_l UNION SELECT v AS node FROM pg_l
        ), pg_p AS (
          SELECT v AS node, MIN(u) AS prev FROM pg_l GROUP BY v
        ), pg_s0 AS (
          SELECT n.node, COALESCE(p.prev, n.node) AS anc,
                 CAST(CASE WHEN p.prev IS NULL THEN 0 ELSE 1 END AS BIGINT) AS dist
          FROM pg_n n LEFT JOIN pg_p p ON p.node = n.node
        )"""]
    # each round self-joins the previous state: MATERIALIZED stops
    # exponential CTE inlining (the seed_distance lesson)
    for r in range(rounds):
        ctes.append(f"""pg_s{r + 1} AS MATERIALIZED (
          SELECT s.node, a.anc, s.dist + a.dist AS dist
          FROM pg_s{r} s JOIN pg_s{r} a ON s.anc = a.node
        )""")
    last = f"pg_s{rounds}"
    return f"""
        WITH {", ".join(ctes)}
        SELECT s.node AS {url_col},
               CASE WHEN p.prev IS NULL THEN s.anc END AS root_url,
               CAST(CASE WHEN p.prev IS NULL THEN s.dist + 1 END AS BIGINT)
                 AS page_idx,
               p.prev IS NULL AS complete
        FROM {last} s LEFT JOIN pg_p p ON p.node = s.anc
    """
