"""Seeded inputs, crawl scenarios and correctness models for the
crawl-engine benchmark (see README.md in this directory).

Each workload writes its input tables into an input lake once per
process. Every repetition then gets a fresh state lake whose input
tables are symlinks into that input lake, so the engine's own writes
are the only real files under the state root (that is `state_mb`).
The engine is configured only through the CrawlConfig fields the CLI
exposes; mechanism fields keep their defaults.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from dblp_crawler_spark import fixtures, oracle, schemas
from dblp_crawler_spark.fixtures import host_of_pid
from dblp_crawler_spark.lakehouse import Lakehouse
from dblp_crawler_spark.plans.crawl import CrawlConfig, CrawlEngine

INPUT_TABLES = ("pages", "seeds", "robots", "ccf_rank")


class InjectedCrash(RuntimeError):
    """The planned mid-wave crash of toy_crawl; never counted as a failure."""


@dataclass
class Rep:
    """What one repetition (setup, crawl, finalize) measured."""

    setup_s: float
    wave_s: list = field(default_factory=list)
    urls: int = 0  # crawl_order rows committed
    crawl_s: float = 0.0
    state_mb: float = 0.0
    ops: int = 0
    failed: int = 0


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, names in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, n)) for n in names)
    return total


def state_lake(spark, input_root: str, root: str) -> Lakehouse:
    """A fresh state root that sees the input tables read-only."""
    os.makedirs(root)
    for t in INPUT_TABLES:
        if os.path.isdir(os.path.join(input_root, t)):
            os.symlink(os.path.join(input_root, t), os.path.join(root, t))
    return Lakehouse(spark, root)


def state_bytes(root: str) -> int:
    return sum(
        dir_bytes(p) if os.path.isdir(p) else os.path.getsize(p)
        for p in (os.path.join(root, n) for n in os.listdir(root))
        if not os.path.islink(p)
    )


# ---- toy_crawl: the fixture universe, checked against the oracle ----------
class ToyCrawl:
    """fixtures.make_universe (person + journal seeds, keyword rules,
    robots on) crawled for `limit` waves under a per-host budget, with
    one crash raised from the frontier commit of wave `crash_wave`,
    then CrawlEngine.resume, the re-run wave, the rest and finalize."""

    name = "toy_crawl"
    host_budget = 8
    limit = 2
    crash_wave = 1

    def __init__(self, spark, input_root: str, seed: int) -> None:
        u = self.u = fixtures.make_universe(n_authors=900, n_pubs=2700, seed=seed, with_images=False)
        # the tables fixtures.write_tables loads, written driver-side
        # with pyarrow: no Spark job, which keeps each run short
        lake = Lakehouse(spark, input_root)
        lake.append_local("pages", fixtures.pages_rows(u), schemas.PAGES)
        lake.append_local("seeds", [{"seed_type": "pid", "value": p} for p in u.seeds_pids]
                          + [{"seed_type": "journal", "value": j} for j in u.seeds_journals], schemas.SEEDS)
        lake.append_local("ccf_rank", [{"journal_key": k, "rank": v} for k, v in u.ccf_rank.items()],
                          schemas.CCF_RANK)
        lake.append_local("robots", u.robots, schemas.ROBOTS)
        self.expected = oracle.run_oracle(self.u, host_budget=self.host_budget, limit=self.limit)

    def config(self) -> CrawlConfig:
        return CrawlConfig(
            year=self.u.year_filter, rules=self.u.keyword_rules,
            host_budget=self.host_budget, limit=self.limit,
        )

    def check(self, lake: Lakehouse, waves: list) -> bool:
        order = [(r.wave, r.seq, r.url) for r in lake.read("crawl_order").orderBy("seq").collect()]
        seen = {r.key for r in lake.read("seen_pubs").select("key").collect()}
        return order == self.expected.crawl_order and seen == self.expected.seen_pubs


# ---- deep_frontier: a frontier far larger than a wave ---------------------
class DeepFrontier:
    """N seed persons (~85% on the hot host, as tools/engine_scaling.py
    --prepare generates them), 2 pubs x 2 authors per page, pub year
    2015, no keyword rules, no robots table, the bloom seen filter on.
    A per-host budget pops 400 URLs from the pending seeds in one wave.
    Pub 1 of persons 2m and 2m+1 is the same pub, and the first author
    of every pub is another seed, so part of the candidates is a
    duplicate or already known. `model` replays the same formulas in
    plain Python for the exact per-wave counts and order."""

    name = "deep_frontier"
    n = 24_000
    host_budget = 100
    limit = 1

    def __init__(self, spark, input_root: str, seed: int) -> None:
        self.seed = seed
        pids = [self.pid(i) for i in range(self.n)]
        lake = Lakehouse(spark, input_root)
        lake.append_local("seeds", [{"seed_type": "pid", "value": p} for p in pids], schemas.SEEDS)
        lake.append_local("pages", [{
            "url": "pid/" + p, "host": host_of_pid(p), "kind": "person", "fetched_at": None,
            "person": {"pid": p, "name": f"Person {i:08d}", "affiliations": [],
                       "pubs": [self.pub(self.pub_owner(i, j), j) for j in (0, 1)]},
            "journal_list": None, "journal": None,
        } for i, p in enumerate(pids)], schemas.PAGES)

    def pid(self, i: int) -> str:
        return f"p{self.seed}_{i:08d}"

    def pub_owner(self, i: int, j: int) -> int:
        return i // 2 if j == 1 else i

    def authors(self, c: int, j: int) -> list[str]:
        return [self.pid((c * 7 + j + 1) % self.n), f"q{self.seed}_{(c * 3 + j) % self.n:08d}"]

    def pub(self, c: int, j: int) -> dict:
        return {
            "key": f"key_{c:08d}_{j}", "type": "article", "title": f"frontier benchmark study {c:08d} {j}",
            "year": 2015, "mdate": "2024-01-01", "url": f"db/journals/j{c % 40:02d}/x", "ee": [],
            "journal": f"Journal {c % 40:02d}",
            "authors": [{"pid": a, "name": "Author " + a, "orcid": None} for a in self.authors(c, j)],
            "image_id": None,
        }

    def config(self) -> CrawlConfig:
        return CrawlConfig(year=2000, rules=[], host_budget=self.host_budget, limit=self.limit, use_bloom=True)

    def model(self, limit: int) -> tuple[list, list]:
        """Expected per-wave metrics and crawl order: seeds outrank
        every discovered author, ties break by url, every fetch
        succeeds and every pub passes the year filter."""
        rank = {self.pid(i): 0 for i in range(self.n)}  # 0 = seed
        pending = set(rank)
        seen: set = set()
        metrics, order, emitted, seq = [], [], 0, 0
        for w in range(limit):
            by_host: dict = {}
            for p in sorted(pending, key=lambda p: (rank[p], p)):
                popped = by_host.setdefault(host_of_pid(p), [])
                if len(popped) < self.host_budget:
                    popped.append(p)
            sched = sorted((p for popped in by_host.values() for p in popped), key=lambda p: (rank[p], p))
            order += [(w, seq + k, "pid/" + p) for k, p in enumerate(sched)]
            seq += len(sched)
            pending -= set(sched)
            new = {(self.pub_owner(i, j), j) for i in (int(p.rsplit("_", 1)[1]) for p in sched) for j in (0, 1)}
            new -= seen
            seen |= new
            disc = {a for c, j in new for a in self.authors(c, j)} - set(rank)
            rank.update(dict.fromkeys(disc, 1))
            pending |= disc
            metrics.append({
                "wave": w, "scheduled": len(sched), "fetch_succ": len(sched), "fetch_fail": 0,
                "pubs_new": len(new), "authors_new": len(disc),
                "remain_pending": len(pending), "emitted": emitted,
            })
            emitted = len(new)
        return metrics, order

    def check(self, lake: Lakehouse, waves: list) -> bool:
        """fetch_succ == scheduled and the modelled counts hold; the
        crawl order is the modelled one (contiguous seq, priority desc
        then url asc within each wave); seen_pubs keys are unique."""
        metrics, order = self.model(len(waves))
        got = [(r.wave, r.seq, r.url) for r in lake.read("crawl_order").orderBy("seq").collect()]
        keys = lake.read("seen_pubs").agg(F.count("*").alias("n"), F.countDistinct("key").alias("d")).first()
        n_new = sum(m["pubs_new"] for m in metrics)
        return waves == metrics and got == order and keys.n == keys.d == n_new


WORKLOADS = {w.name: w for w in (ToyCrawl, DeepFrontier)}


def run_rep(spark, wl, lake: Lakehouse, limit: int, crash: bool, check: bool) -> Rep:
    """Set up one engine on `lake` and crawl `limit` waves plus
    finalize, the way run_to_end does, timing each call. With `crash`,
    the frontier commit of wl.crash_wave raises and the crawl goes on
    from CrawlEngine.resume."""
    t0 = time.perf_counter()
    eng = CrawlEngine(spark, lake, wl.config())
    eng.initialize()
    rep = Rep(setup_s=time.perf_counter() - t0)
    metrics = []
    start = time.perf_counter()
    while not eng.done and eng.wave < limit:
        if crash and eng.wave == wl.crash_wave:
            crash = False
            _crash_in_frontier_commit(eng)
            spark.catalog.clearCache()  # a crashed driver's caches die with it
            rep.ops += 1
            eng = CrawlEngine.resume(spark, lake)
            continue
        t = time.perf_counter()
        metrics.append(eng.run_wave())
        rep.wave_s.append(time.perf_counter() - t)
        rep.ops += 1
    eng.finalize()
    rep.crawl_s = time.perf_counter() - start
    rep.urls = lake.n_rows("crawl_order")
    rep.state_mb = state_bytes(lake.root) / 2**20
    if check and not wl.check(lake, metrics):
        rep.failed = rep.ops
    spark.catalog.clearCache()
    return rep


def _crash_in_frontier_commit(eng: CrawlEngine) -> None:
    lake = eng.lake

    def crashing(table, *args, **kwargs):
        if table == "frontier":
            raise InjectedCrash("injected crash in the frontier commit")
        return type(lake).merge_upsert(lake, table, *args, **kwargs)

    lake.merge_upsert = crashing
    try:
        eng.run_wave()
    except InjectedCrash:
        pass
    else:
        raise RuntimeError("the injected crash did not fire")
    finally:
        del lake.merge_upsert


def fresh_root(work: str, name: str) -> str:
    path = os.path.join(work, name)
    shutil.rmtree(path, ignore_errors=True)
    return path
