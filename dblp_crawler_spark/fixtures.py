"""Deterministic synthetic crawl universe (FIXTURES.md).

One seeded generator produces the full data universe as plain Python
structures; the oracle consumes it directly and `write_tables` loads
it into lakehouse tables for the engine. No network, no external
data. Shapes mirror the reference's XML universe
(/root/reference/dblp_crawler/parser.py, journal.py, downloader.py);
the `images` table is the exact BASELINE.json input_hint shape.
"""

from __future__ import annotations

import random
import zlib
from dataclasses import dataclass, field
from datetime import datetime, timezone

from . import codecs

WORD_POOL = (
    "adaptive clustering evolutionary algorithm objective optimization problems "
    "multi resolution representation recurrent neural networks application streaming "
    "time series iot high definition video compression system perception guidance "
    "salient information convolutional network hevc domain resource provision "
    "allocation microeconomic theory mobile edge computing super content aware "
    "graph frontier scheduler distributed queue politeness bloom filter shard"
).split()

DEFAULT_KEYWORD_RULES = [["super", "resolution"], ["content", "aware"], ["video"], ["edge", "computing"]]

SEED_PRIORITY = (3 << 48) | (9999 << 32) | (1 << 16)  # tops everything derivable

PUB_TYPES = ["inproceedings", "article", "incollection", "book", "phdthesis"]


def host_of_pid(pid: str) -> str:
    """Deterministic 'DNS': ~85% of persons live on the hot host
    (dblp.org — the reference's single host, downloader.py:68), the
    rest on 3 minor hosts so skew/politeness tests are non-trivial."""
    h = zlib.crc32(pid.encode()) & 0xFFFFFFFF
    if h % 100 < 85:
        return "dblp.org"
    return f"host{h % 3 + 1}.example.org"


def person_url(pid: str) -> str:
    return f"pid/{pid}"


@dataclass
class Universe:
    persons: dict = field(default_factory=dict)  # pid -> person page payload
    pubs: dict = field(default_factory=dict)  # key -> pub record
    journal_lists: dict = field(default_factory=dict)  # url -> payload
    journals: dict = field(default_factory=dict)  # url -> payload (volume pages)
    images: list = field(default_factory=list)
    seeds_pids: list = field(default_factory=list)
    seeds_journals: list = field(default_factory=list)
    ccf_rank: dict = field(default_factory=dict)  # journal_key -> rank
    robots: list = field(default_factory=list)
    keyword_rules: list = field(default_factory=list)
    missing_pids: set = field(default_factory=set)  # simulated permanent fetch failure
    year_filter: int = 2000


def make_universe(
    n_authors: int = 200,
    n_pubs: int = 600,
    n_venues: int = 12,
    seed: int = 42,
    with_images: bool = True,
    keyword_rules: list | None = None,
) -> Universe:
    rng = random.Random(seed)
    u = Universe()
    u.keyword_rules = DEFAULT_KEYWORD_RULES if keyword_rules is None else keyword_rules

    pids = [f"{i % 97:02d}/{1000 + i}" for i in range(n_authors)]
    names = [f"Author {i:04d}" for i in range(n_authors)]
    venues = [f"db/conf/v{i:02d}" for i in range(n_venues)]
    for i, v in enumerate(venues):
        if i % 4 < 3:  # every 4th venue unranked → 'N' via coalesce (parser.py:124-129)
            u.ccf_rank[v] = "ABC"[i % 4]

    # permanent fetch failures (reference: download returns None, graph.py:76-79)
    u.missing_pids = {p for p in pids if zlib.crc32(p.encode()) % 13 == 0}

    # preferential-attachment author sampling → hot-key skew
    weights = [1.0] * n_authors

    def sample_authors(k: int) -> list[int]:
        chosen: list[int] = []
        for _ in range(k):
            total = sum(weights)
            r = rng.random() * total
            acc = 0.0
            for idx, wt in enumerate(weights):
                acc += wt
                if acc >= r:
                    break
            if idx not in chosen:
                chosen.append(idx)
                weights[idx] += 2.0
        return chosen

    person_pubs: dict[str, list[str]] = {p: [] for p in pids}
    for j in range(n_pubs):
        key = f"conf/v{j % n_venues:02d}/p{j:05d}"
        venue = venues[j % n_venues]
        year = None if j % 23 == 5 else 1995 + (j * 7) % 30
        ptype = PUB_TYPES[j % len(PUB_TYPES)]
        n_words = 4 + j % 6
        words = [WORD_POOL[(j * 13 + t * 5) % len(WORD_POOL)] for t in range(n_words)]
        if j % 9 == 0:
            words += ["video"]
        if j % 11 == 0:
            words += ["edge", "computing"]
        if j % 17 == 0:
            words += ["super", "resolution"]
        title = None if j % 41 == 7 else " ".join(words).capitalize()
        vol_year = 2000 + (j % n_venues) % 5
        authors_idx = sample_authors(1 + (j * 3) % 8)
        authors = [
            {
                "pid": pids[i],
                "name": names[i],
                "orcid": f"0000-0000-0000-{i:04d}" if i % 5 == 0 else None,
            }
            for i in authors_idx
        ]
        pub = {
            "key": key,
            "type": ptype,
            "title": title,
            "year": year,
            "mdate": f"{2020 + j % 5}-0{1 + j % 9}-01",
            "url": f"{venue}/vol{vol_year}.html#{key}",
            "ee": [f"https://doi.org/10.1234/{key}"] if j % 10 == 0 else [f"https://example.org/{key}"],
            "journal": (f"Venue {venue[-2:]}" if ptype in ("inproceedings", "article", "incollection", "book") else None),
            "authors": authors,
            "image_id": f"img_{j:06d}" if with_images else None,
        }
        u.pubs[key] = pub
        for i in authors_idx:
            person_pubs[pids[i]].append(key)

    for i, pid in enumerate(pids):
        u.persons[pid] = {
            "pid": pid,
            "name": names[i],
            "affiliations": [f"University {i % 19}"] if i % 3 == 0 else [],
            "pubs": [u.pubs[k] for k in person_pubs[pid]],
        }

    # venue index + volume pages (journal.py:21-38 shapes, incl. workshop
    # rows whose booktitle ∉ h1 and rows missing url → P11/P12 tests)
    for i, venue in enumerate(venues):
        vol_urls = [f"{venue}/vol{2000 + v}" for v in range(2)]
        for vu in vol_urls:
            vol_keys = [k for k, p in u.pubs.items() if p["url"].startswith(vu + ".html")]
            u.journals[vu] = {"pubs": [u.pubs[k] for k in vol_keys]}
        proceedings = [
            {"booktitle": f"VENUE {i:02d}", "url": vol_urls[0] + ".html"},
            {"booktitle": f"W{i} Workshop", "url": vol_urls[1] + ".html"},  # skipped: ∉ h1
            {"booktitle": f"VENUE {i:02d} extra", "url": None},  # skipped: no url
        ]
        u.journal_lists[f"{venue}/index"] = {
            "title": f"Venue {i:02d}",
            "h1": f"Proceedings of VENUE {i:02d} extra sessions",
            "refs": [vol_urls[1] + ".html"],
            "proceedings": proceedings,
        }

    if with_images:
        for j in range(n_pubs):
            key = f"conf/v{j % n_venues:02d}/p{j:05d}"
            pub = u.pubs[key]
            image_id = f"img_{j:06d}"
            w = [32, 64, 128][j % 3]
            h = [32, 64, 128][(j // 3) % 3]
            fmt = "png" if j % 2 == 0 else "jpeg"
            pixels = codecs.synth_pixels(image_id, w, h)
            cap_title = pub["title"] if pub["title"] is not None else f"untitled {key}"
            u.images.append(
                {
                    "image_id": image_id,
                    "bytes": codecs.encode_image(pixels, fmt),
                    "w": w,
                    "h": h,
                    "fmt": fmt,
                    "caption": f"{cap_title} — figure 1",
                    "phash": codecs.phash64(pixels),
                }
            )

    u.seeds_pids = [pids[3], pids[10], pids[57 % n_authors]]
    u.seeds_journals = [venues[0], venues[5 % n_venues]]
    u.robots = [
        {"host": "host1.example.org", "disallow_prefixes": ["pid/0", "pid/1"], "crawl_delay_ms": 200},
        {"host": "dblp.org", "disallow_prefixes": ["private/"], "crawl_delay_ms": 50},
    ]
    return u


# ---- XML rendering (for the sources/xml_pages.py parse path) -------------
def _esc(t: str) -> str:
    from xml.sax.saxutils import escape, quoteattr

    return escape(str(t))


def _attr(t: str) -> str:
    from xml.sax.saxutils import quoteattr

    return quoteattr(str(t))


def _render_pub_xml(pub: dict) -> str:
    """Render one publication as the <r>-wrapped dblp element."""
    el = pub["type"]
    parts = [f'<r><{el} key={_attr(pub["key"])} mdate={_attr(pub["mdate"])}>']
    for a in pub["authors"]:
        orcid = f' orcid={_attr(a["orcid"])}' if a.get("orcid") else ""
        parts.append(f'<author pid={_attr(a["pid"])}{orcid}>{_esc(a["name"])}</author>')
    if pub["title"] is not None:
        parts.append(f'<title>{_esc(pub["title"])}</title>')
    if pub["year"] is not None:
        parts.append(f'<year>{pub["year"]}</year>')
    jtag = {"inproceedings": "booktitle", "proceedings": "booktitle", "article": "journal",
            "incollection": "booktitle", "book": "series"}.get(el)
    if jtag and pub.get("journal") is not None:
        parts.append(f'<{jtag}>{_esc(pub["journal"])}</{jtag}>')
    if pub.get("url") is not None:
        parts.append(f'<url>{_esc(pub["url"])}</url>')
    for ee in pub.get("ee", []):
        parts.append(f'<ee>{_esc(ee)}</ee>')
    parts.append(f'</{el}></r>')
    return "".join(parts)


def render_person_xml(payload: dict) -> str:
    """Person page XML in the dblpperson shape (parser.py:152-186)."""
    parts = [f'<dblpperson pid={_attr(payload["pid"])} name={_attr(payload["name"])}><person>']
    for aff in payload["affiliations"]:
        parts.append(f'<note type="affiliation">{_esc(aff)}</note>')
    parts.append("</person>")
    parts.extend(_render_pub_xml(p) for p in payload["pubs"])
    parts.append("</dblpperson>")
    return "".join(parts)


def render_journal_xml(payload: dict) -> str:
    """Volume page XML in the bht shape (journal.py:12-18)."""
    parts = ["<bht><dblpcites>"]
    parts.extend(_render_pub_xml(p) for p in payload["pubs"])
    parts.append("</dblpcites></bht>")
    return "".join(parts)


def render_journal_list_xml(payload: dict) -> str:
    """Venue index XML in the bht shape (journal.py:21-38)."""
    parts = [f'<bht title={_attr(payload["title"])}><h1>{_esc(payload["h1"])}</h1><ul>']
    for ref in payload["refs"]:
        parts.append(f'<li><ref href={_attr(ref)}>v</ref></li>')
    parts.append("</ul><dblpcites>")
    for pr in payload["proceedings"]:
        parts.append("<r><proceedings key=\"x\" mdate=\"2020-01-01\">")
        if pr.get("booktitle") is not None:
            parts.append(f'<booktitle>{_esc(pr["booktitle"])}</booktitle>')
        if pr.get("url") is not None:
            parts.append(f'<url>{_esc(pr["url"])}</url>')
        parts.append("</proceedings></r>")
    parts.append("</dblpcites></bht>")
    return "".join(parts)


# --------------------------------------------------------------------------
def pages_rows(u: Universe) -> list[dict]:
    """Flatten the universe into `pages` table rows (schemas.PAGES)."""
    now = datetime(2026, 1, 1, tzinfo=timezone.utc)
    rows = []
    for pid, payload in u.persons.items():
        if pid in u.missing_pids:
            continue
        rows.append(
            {
                "url": person_url(pid),
                "host": host_of_pid(pid),
                "kind": "person",
                "fetched_at": now,
                "person": payload,
                "journal_list": None,
                "journal": None,
            }
        )
    for url, payload in u.journal_lists.items():
        rows.append(
            {
                "url": url,
                "host": "dblp.org",
                "kind": "journal_list",
                "fetched_at": now,
                "person": None,
                "journal_list": payload,
                "journal": None,
            }
        )
    for url, payload in u.journals.items():
        rows.append(
            {
                "url": url,
                "host": "dblp.org",
                "kind": "journal",
                "fetched_at": now,
                "person": None,
                "journal_list": None,
                "journal": payload,
            }
        )
    return rows


def write_tables(spark, lake, u: Universe) -> None:
    """Load the universe into lakehouse tables for the engine."""
    from . import schemas

    # keyed for the MERGEs of freshness.refresh_pages and ccf_catalog
    lake.overwrite("pages", spark.createDataFrame(pages_rows(u), schemas.PAGES), merge_keys=["url"])
    if u.images:
        lake.overwrite("images", spark.createDataFrame(u.images, schemas.IMAGES))
    seeds = [{"seed_type": "pid", "value": p} for p in u.seeds_pids] + [
        {"seed_type": "journal", "value": j} for j in u.seeds_journals
    ]
    lake.overwrite("seeds", spark.createDataFrame(seeds, schemas.SEEDS))
    lake.overwrite(
        "ccf_rank",
        spark.createDataFrame([{"journal_key": k, "rank": v} for k, v in u.ccf_rank.items()], schemas.CCF_RANK),
        merge_keys=["journal_key"],
    )
    lake.overwrite("robots", spark.createDataFrame(u.robots, schemas.ROBOTS))
    lake.overwrite(
        "keyword_rules",
        spark.createDataFrame(
            [{"rule_id": i, "words": r} for i, r in enumerate(u.keyword_rules)], schemas.KEYWORD_RULES
        ),
    )
