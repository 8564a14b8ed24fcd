"""Kill/resume (O7 + north_rule lineage): a crawl killed after wave k
resumes from the committed manifests and reproduces the IDENTICAL
crawl order, seen set, and summary as an uninterrupted run."""

import json
import os

import pytest

from dblp_crawler_spark import fixtures, oracle
from dblp_crawler_spark.plans.crawl import CrawlConfig, CrawlEngine


def test_kill_and_resume_bit_identical(spark, lake, universe):
    u = universe
    fixtures.write_tables(spark, lake, u)
    cfg = CrawlConfig(year=u.year_filter, rules=u.keyword_rules, host_budget=8, max_attempts=2)
    eng = CrawlEngine(spark, lake, cfg)
    eng.initialize()
    eng.run_wave()
    eng.run_wave()
    del eng  # crash: all driver state lost; lakehouse manifests survive

    eng2 = CrawlEngine.resume(spark, lake)
    assert eng2.wave == 2
    eng2.run_to_end()

    res = oracle.run_oracle(u, host_budget=8, max_attempts=2)
    order = [(r.wave, r.seq, r.url) for r in lake.read("crawl_order").orderBy("seq").collect()]
    assert order == res.crawl_order
    assert {r.key for r in lake.read("seen_pubs").collect()} == res.seen_pubs
    assert {(r.src, r.dst, r.pub_key) for r in lake.read("edges").collect()} == res.edges


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

    lake.append("seen_pubs", lake.read("seen_pubs").limit(1).withColumn("key", F.lit("GARBAGE")), None)
    eng2 = CrawlEngine.resume(spark, lake)
    assert lake.read("seen_pubs").filter("key = 'GARBAGE'").count() == 0
    eng2.run_to_end()
    res = oracle.run_oracle(u, host_budget=8, max_attempts=2)
    assert {r.key for r in lake.read("seen_pubs").collect()} == res.seen_pubs
    assert res.metrics[0] == m0


def test_resume_rule_for_removed_config_fields(spark, lake, universe):
    """A crawl_state.json from before `seen_filter_kind` and
    `adaptive_waves` were removed resumes to the oracle when both hold
    their old defaults; any other value is refused, naming the field
    (a resumed cuckoo crawl would probe an empty bloom bank)."""
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
    old = {"seen_filter_kind": "bloom", "adaptive_waves": False}
    for edit in [{"seen_filter_kind": "cuckoo"}, {"adaptive_waves": True}, {}]:
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
