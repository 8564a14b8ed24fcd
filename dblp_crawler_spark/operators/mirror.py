"""Graph-DB mirror sink (SURVEY.md S8) — the reference's Neo4j
summarizer re-expressed as MERGE-idempotent lakehouse upsert tables.

Reference semantics (/root/reference/dblp_crawler/summarizer/neo4j.py):
  * Person nodes MERGEd on dblp_pid, name refreshed, orcid attached
    when the person's own page lists one (J7: an author entry of one
    of their pubs with a.pid == pid and a.orcid set, neo4j.py:44-49);
  * Publication nodes MERGEd on title_hash (neo4j.py:13-23);
  * Journal nodes MERGEd on journal_key, EXCEPT db/journals/corr
    (arXiv) which is never mirrored (P13, neo4j.py:26);
  * PUBLISH (journal→pub) and WRITE (person→pub) relationships
    inserted only when missing (existence-check-before-write,
    neo4j.py:62-68,76-83) — here `Lakehouse.append_new`, the
    insert-only MERGE.

Everything is a DataFrame transform + keyed MERGE commit; re-running
the mirror on the same (or grown) summary tables is a no-op for
already-present keys — the same idempotency contract the reference
gets from Cypher MERGE.

Scale: persons/publications upserts shuffle once on their key;
journal dim is tiny; the orcid lookup is a pure array expression on
the person's own page row (no extra shuffle, SURVEY.md J7).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

CORR_KEY = "db/journals/corr"  # P13: arXiv pseudo-journal, never mirrored

MIRROR_PERSONS = StructType(
    [
        StructField("dblp_pid", StringType(), False),
        StructField("name", StringType(), True),
        StructField("orcid", StringType(), True),
    ]
)

MIRROR_PUBLICATIONS = StructType(
    [
        StructField("title_hash", StringType(), False),
        StructField("key", StringType(), True),
        StructField("title", StringType(), True),
        StructField("journal_key", StringType(), True),
        StructField("year", StringType(), True),  # neo4j stores attrs loosely; keep the mirror faithful
        StructField("doi", StringType(), True),
        StructField("ccf", StringType(), True),
    ]
)


def person_rows(pages: DataFrame) -> DataFrame:
    """Person upsert rows with the J7 orcid self-lookup: the first
    author entry across the person's own page pubs whose pid matches
    and carries an orcid (neo4j.py:44-49) — one array expression,
    no shuffle."""
    p = pages.filter(F.col("kind") == "person").select(
        F.col("person.pid").alias("dblp_pid"),
        F.col("person.name").alias("name"),
        F.col("person.pubs").alias("pubs"),
    )
    self_entries = F.filter(
        F.flatten(F.transform("pubs", lambda pub: pub["authors"])),
        lambda a: (a["pid"] == F.col("dblp_pid")) & a["orcid"].isNotNull(),
    )
    return p.select(
        "dblp_pid", "name", F.try_element_at(self_entries, F.lit(1))["orcid"].alias("orcid")
    )


def publication_rows(publications: DataFrame) -> DataFrame:
    """Publication upsert rows keyed on title_hash (neo4j.py:13-23).
    Rows without a title_hash (reference: untitled pubs never reach
    the Neo4j path with a usable key) are dropped; duplicates by
    title_hash keep the lexically-smallest key (deterministic)."""
    rows = publications.filter(F.col("title_hash").isNotNull()).select(
        "title_hash",
        "key",
        "title",
        "journal_key",
        F.col("year").cast("string").alias("year"),
        "doi",
        "ccf",
    )
    return (
        rows.groupBy("title_hash")
        .agg(F.min(F.struct("key", "title", "journal_key", "year", "doi", "ccf")).alias("r"))
        .select("title_hash", "r.key", "r.title", "r.journal_key", "r.year", "r.doi", "r.ccf")
    )


def journal_rows(publications: DataFrame) -> DataFrame:
    """Journal dim rows, corr excluded (P13, neo4j.py:26)."""
    return (
        publications.select("journal_key")
        .filter(F.col("journal_key").isNotNull() & (F.col("journal_key") != CORR_KEY))
        .distinct()
    )


def write_edges(publications: DataFrame) -> DataFrame:
    """WRITE (person→publication) edges (neo4j.py:62-72)."""
    return (
        publications.filter(F.col("title_hash").isNotNull())
        .select("title_hash", F.explode("authors").alias("a"))
        .select(F.col("a.pid").alias("dblp_pid"), "title_hash")
        .filter(F.col("dblp_pid").isNotNull())
        .distinct()
    )


def publish_edges(publications: DataFrame) -> DataFrame:
    """PUBLISH (journal→publication) edges (neo4j.py:75-88); corr
    journal never publishes (its node is never created)."""
    return (
        publications.filter(
            F.col("title_hash").isNotNull()
            & F.col("journal_key").isNotNull()
            & (F.col("journal_key") != CORR_KEY)
        )
        .select("journal_key", "title_hash")
        .distinct()
    )


def seeds_from_mirror(lake) -> DataFrame:
    """S11 graph-DB seed source (reference data/neo4j.py:4-16,
    authors_in_neo4j): seed a new crawl from every person already in
    the mirror — rows in the `seeds` table shape. A MATCH over the
    person nodes is a scan of the mirror_persons key column here."""
    return (
        lake.read("mirror_persons")
        .filter(F.col("dblp_pid").isNotNull())
        .select(F.lit("pid").alias("seed_type"), F.col("dblp_pid").alias("value"))
    )


def mirror_summarize(lake, pages: DataFrame, publications: DataFrame) -> dict[str, int]:
    """Run the full mirror pass: upsert nodes, insert-only edges.
    Returns the committed snapshot ids (resume manifest material)."""
    snaps = {}
    snaps["mirror_persons"] = lake.merge_upsert(
        "mirror_persons", person_rows(pages), ["dblp_pid"], MIRROR_PERSONS
    )
    snaps["mirror_publications"] = lake.merge_upsert(
        "mirror_publications", publication_rows(publications), ["title_hash"], MIRROR_PUBLICATIONS
    )
    snaps["mirror_journals"] = lake.append_new("mirror_journals", journal_rows(publications), ["journal_key"])
    snaps["mirror_writes"] = lake.append_new(
        "mirror_writes", write_edges(publications), ["dblp_pid", "title_hash"]
    )
    snaps["mirror_publishes"] = lake.append_new(
        "mirror_publishes", publish_edges(publications), ["journal_key", "title_hash"]
    )
    return snaps
