"""Kill/resume (O7 + north_rule lineage): a crawl killed after wave k
resumes from the committed manifests and reproduces the IDENTICAL
crawl order, seen set, and summary as an uninterrupted run."""

import json
import os

import pytest

from dblp_crawler_spark import fixtures, oracle
from dblp_crawler_spark.lakehouse import Lakehouse
from dblp_crawler_spark.plans.crawl import WAVE_TABLES, CrawlConfig, CrawlEngine


class _Crash(RuntimeError):
    pass


def _crash_in_frontier_commit(eng):
    """Run one wave that dies inside its frontier commit, after the
    wave's other tables (and the bloom bank) have committed."""
    lake = eng.lake

    def crashing(table, *args, **kwargs):
        if table == "frontier":
            raise _Crash(table)
        return type(lake).merge_upsert(lake, table, *args, **kwargs)

    lake.merge_upsert = crashing
    try:
        with pytest.raises(_Crash):
            eng.run_wave()
    finally:
        del lake.merge_upsert


def _lake_tables(root):
    return {t for t in os.listdir(root) if os.path.exists(os.path.join(root, t, "HEAD"))}


def _bank(lake):
    return sorted((r.bucket, bytes(r.bits), r.n_items) for r in lake.read("seen_filter").collect())


@pytest.mark.parametrize("crash", ["kill_after_wave_2", "bloom_frontier_commit_wave_0"])
def test_kill_and_resume_bit_identical(spark, lake, universe, tmp_path, crash):
    """kill_after_wave_2: the driver dies between waves.
    bloom_frontier_commit_wave_0: wave 0 dies in its frontier commit
    after the bloom bank committed its keys; resume must roll the
    bank back too, or the re-run wave adds its keys twice (the bits
    still match, its recorded load `n_items` does not). Either way
    the lake's tables, minus the inputs, are exactly the engine's
    registry — so every wave-written table is rolled back."""
    bloom = crash == "bloom_frontier_commit_wave_0"
    # the bloom case crawls twice: a smaller universe, no host budget
    u = fixtures.make_universe(n_authors=60, n_pubs=150, n_venues=5, seed=3) if bloom else universe
    budget = None if bloom else 8
    fixtures.write_tables(spark, lake, u)
    inputs = _lake_tables(lake.root)
    cfg = CrawlConfig(year=u.year_filter, rules=u.keyword_rules, host_budget=budget, max_attempts=2,
                      use_bloom=bloom, bloom_buckets=8, bloom_bits=1 << 12)
    eng = CrawlEngine(spark, lake, cfg)
    eng.initialize()
    if bloom:
        _crash_in_frontier_commit(eng)
        spark.catalog.clearCache()  # a crashed driver's caches die with it
    else:
        eng.run_wave()
        eng.run_wave()
    del eng  # crash: all driver state lost; lakehouse manifests survive

    eng2 = CrawlEngine.resume(spark, lake)
    assert eng2.wave == (0 if bloom else 2)
    eng2.run_to_end()

    res = oracle.run_oracle(u, host_budget=budget, max_attempts=2)
    order = [(r.wave, r.seq, r.url) for r in lake.read("crawl_order").orderBy("seq").collect()]
    assert order == res.crawl_order
    assert {r.key for r in lake.read("seen_pubs").collect()} == res.seen_pubs
    assert {(r.src, r.dst, r.pub_key) for r in lake.read("edges").collect()} == res.edges
    assert _lake_tables(lake.root) - inputs == set(WAVE_TABLES)
    if bloom:
        clean = Lakehouse(spark, str(tmp_path / "uninterrupted"))
        fixtures.write_tables(spark, clean, u)
        eng3 = CrawlEngine(spark, clean, cfg)
        eng3.initialize()
        eng3.run_to_end()
        assert _bank(lake) == _bank(clean)


def test_resume_discards_partial_wave(spark, lake, universe):
    """A torn wave (some tables committed, state manifest not) must be
    rolled back wholesale on resume — snapshot isolation."""
    u = universe
    fixtures.write_tables(spark, lake, u)
    cfg = CrawlConfig(year=u.year_filter, rules=u.keyword_rules, host_budget=8, max_attempts=2)
    eng = CrawlEngine(spark, lake, cfg)
    eng.initialize()
    m0 = eng.run_wave()
    # simulate a torn wave: extra uncommitted-by-manifest garbage commit
    import pyspark.sql.functions as F

    lake.append("seen_pubs", lake.read("seen_pubs").limit(1).withColumn("key", F.lit("GARBAGE")))
    eng2 = CrawlEngine.resume(spark, lake)
    assert lake.read("seen_pubs").filter("key = 'GARBAGE'").count() == 0
    eng2.run_to_end()
    res = oracle.run_oracle(u, host_budget=8, max_attempts=2)
    assert {r.key for r in lake.read("seen_pubs").collect()} == res.seen_pubs
    assert res.metrics[0] == m0


def test_resume_rule_for_removed_config_fields(spark, lake, universe):
    """A crawl_state.json from before `seen_filter_kind`,
    `adaptive_waves`, `compact_every` and `max_append_layers` were
    removed resumes to the oracle when all hold their old defaults;
    any other value is refused, naming the field (a resumed cuckoo
    crawl would probe an empty bloom bank; another compaction cadence
    is no longer honoured). The plan-only fields `fetch_mode` and
    `fetch_auto_threshold` are dropped whatever they hold (every
    fetch plan is oracle-exact): the resumed state holds non-default
    values of both and still finishes oracle-exact."""
    u = universe
    fixtures.write_tables(spark, lake, u)
    cfg = CrawlConfig(year=u.year_filter, rules=u.keyword_rules, host_budget=8, max_attempts=2,
                      use_bloom=True)
    eng = CrawlEngine(spark, lake, cfg)
    eng.initialize()
    eng.run_wave()
    path = os.path.join(lake.root, "crawl_state.json")
    with open(path) as f:
        state = json.load(f)
    old = {"seen_filter_kind": "bloom", "adaptive_waves": False, "compact_every": 8, "max_append_layers": 8,
           "fetch_mode": "bucketed", "fetch_auto_threshold": 5}
    for edit in [{"seen_filter_kind": "cuckoo"}, {"adaptive_waves": True}, {"compact_every": 2}, {}]:
        with open(path, "w") as f:
            json.dump({**state, "config": {**state["config"], **old, **edit}}, f)
        if edit:
            with pytest.raises(ValueError, match=next(iter(edit))):
                CrawlEngine.resume(spark, lake)
    eng2 = CrawlEngine.resume(spark, lake)
    assert eng2.wave == 1 and eng2.cfg == cfg
    eng2.run_to_end()
    res = oracle.run_oracle(u, host_budget=8, max_attempts=2)
    order = [(r.wave, r.seq, r.url) for r in lake.read("crawl_order").orderBy("seq").collect()]
    assert order == res.crawl_order
    assert {r.key for r in lake.read("seen_pubs").collect()} == res.seen_pubs
