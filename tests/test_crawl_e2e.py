"""End-to-end equivalence: CrawlEngine vs the reference oracle.

The BASELINE.json correctness gate: exact crawl-order match, exact
URL-seen-set match, plus node/edge/publication summary equality,
under the same seed list and politeness budget.
"""

import os

import pytest

from dblp_crawler_spark import fixtures, oracle
from dblp_crawler_spark.plans import crawl
from dblp_crawler_spark.plans.crawl import CrawlConfig, CrawlEngine


def run_engine(spark, lake, u, **kw):
    fixtures.write_tables(spark, lake, u)
    cfg = CrawlConfig(year=u.year_filter, rules=u.keyword_rules, **kw)
    eng = CrawlEngine(spark, lake, cfg)
    eng.initialize()
    eng.run_to_end()
    return eng


def collect_engine(lake):
    order = [
        (r.wave, r.seq, r.url)
        for r in lake.read("crawl_order").orderBy("seq").collect()
    ]
    seen = {r.key for r in lake.read("seen_pubs").collect()}
    nodes = {r.pid: (r.name, tuple(r.affiliations or []), tuple(r.pub_keys or [])) for r in lake.read("nodes").collect()}
    edges = {(r.src, r.dst, r.pub_key) for r in lake.read("edges").collect()}
    pubs = {
        r.key: (r.title, r.title_hash, r.journal, r.journal_key, r.year, r.mdate, r.doi, r.ccf, r.selected)
        for r in lake.read("publications").collect()
    }
    return order, seen, nodes, edges, pubs


def oracle_views(res, u):
    order = list(res.crawl_order)
    seen = set(res.seen_pubs)
    nodes = {k: (v["name"], tuple(v["affiliations"]), tuple(v["pub_keys"])) for k, v in res.nodes.items()}
    edges = set(res.edges)
    pubs = {
        k: (v["title"], v["title_hash"], v["journal"], v["journal_key"], v["year"], v["mdate"], v["doi"], v["ccf"], v["selected"])
        for k, v in res.publications.items()
    }
    return order, seen, nodes, edges, pubs


@pytest.mark.parametrize("budget", [None, 8])
def test_engine_matches_oracle(spark, lake, universe, budget):
    u = universe
    res = oracle.run_oracle(u, host_budget=budget, max_attempts=3)
    run_engine(spark, lake, u, host_budget=budget, max_attempts=3)
    e_order, e_seen, e_nodes, e_edges, e_pubs = collect_engine(lake)
    o_order, o_seen, o_nodes, o_edges, o_pubs = oracle_views(res, u)

    assert e_seen == o_seen, "URL-seen (publication) set mismatch"
    assert e_order == o_order, "crawl order mismatch"
    assert e_nodes == o_nodes
    assert e_edges == o_edges
    assert e_pubs == o_pubs


def test_wave_metrics_match(spark, lake, universe):
    u = universe
    res = oracle.run_oracle(u, host_budget=8, max_attempts=3)
    eng = run_engine(spark, lake, u, host_budget=8, max_attempts=3)
    e_metrics = [
        {k: getattr(r, k) for k in ("wave", "scheduled", "fetch_succ", "fetch_fail", "pubs_new", "authors_new", "remain_pending", "emitted")}
        for r in lake.read("metrics").orderBy("wave").collect()
    ]
    assert len(e_metrics) == len(res.metrics) == eng.wave
    for em, om in zip(e_metrics, res.metrics):
        assert em == om, f"metrics mismatch at wave {om['wave']}: {em} vs {om}"
    # A7: per-journal init batch counts (graph.py:46-58)
    e_jc = {r.journal_key: r.n_pubs for r in lake.read("journal_init_counts").collect()}
    assert e_jc == res.journal_init_counts


def test_engine_with_bloom_matches_oracle(spark, lake, monkeypatch):
    """Bloom pre-filter path must be result-identical to the exact
    anti-join path (false positives re-checked, no false negatives).
    Layer upkeep every 2 waves forces mid-crawl MoR compaction of BOTH
    the frontier and the bloom bank — results must be unchanged."""
    monkeypatch.setattr(crawl, "LAYER_UPKEEP_EVERY", 2)
    monkeypatch.setattr(crawl, "APPEND_LAYER_BOUND", 2)
    u = fixtures.make_universe(n_authors=60, n_pubs=150, n_venues=5, seed=3)
    res = oracle.run_oracle(u, host_budget=None, max_attempts=2)
    run_engine(spark, lake, u, host_budget=None, max_attempts=2, use_bloom=True,
               bloom_buckets=8, bloom_bits=1 << 12)
    e_order, e_seen, e_nodes, e_edges, e_pubs = collect_engine(lake)
    o_order, o_seen, o_nodes, o_edges, o_pubs = oracle_views(res, u)
    assert e_seen == o_seen
    assert e_order == o_order
    assert e_nodes == o_nodes and e_edges == o_edges and e_pubs == o_pubs
    # verdict r2 item 8: append-per-wave tables stay layer-bounded
    # under the upkeep cadence (bound 2 + one layer per wave since
    # the last merge) with results unchanged (above)
    for t in ("crawl_order", "seen_pubs", "edges", "publications",
              "nodes", "emitted_persons", "metrics"):
        assert lake.n_layers(t) <= 2 + 2, f"{t} layers unbounded"


def test_engine_bucketed_fetch_matches_oracle(spark, lake, universe, monkeypatch):
    """The scale-safe bucketed fetch join is oracle-exact end-to-end:
    with the switch at 0 every wave fetches through it, and crawl
    order, seen set and the full summary all equal the reference
    semantics. The plan-shape half of the contract (zero Exchange /
    zero broadcast above the payload scan) is pinned in
    tests/test_bucketed.py."""
    u = universe
    res = oracle.run_oracle(u, host_budget=8, max_attempts=3)
    monkeypatch.setattr(crawl, "BUCKETED_FETCH_ROWS", 0)
    run_engine(spark, lake, u, host_budget=8, max_attempts=3, fetch_buckets=8)
    assert os.path.exists(os.path.join(lake.root, "pages_person_bucketed_8.json"))
    e_order, e_seen, e_nodes, e_edges, e_pubs = collect_engine(lake)
    o_order, o_seen, o_nodes, o_edges, o_pubs = oracle_views(res, u)
    assert e_seen == o_seen
    assert e_order == o_order
    assert e_nodes == o_nodes and e_edges == o_edges and e_pubs == o_pubs


def test_engine_auto_fetch_switches_by_batch_size(spark, lake, monkeypatch):
    """The engine picks the fetch plan per wave from the scheduled
    batch size. With the switch moved to the median scheduled wave,
    one crawl runs waves through both the broadcast and the bucketed
    plan and stays oracle-exact: crawl order, seen set and the full
    summary equal the reference semantics. The plan shapes are pinned
    in tests/test_bucketed.py."""
    u = fixtures.make_universe(n_authors=60, n_pubs=150, n_venues=5, seed=3)
    res = oracle.run_oracle(u, host_budget=None, max_attempts=2)
    scheduled = sorted(m["scheduled"] for m in res.metrics)
    switch = scheduled[len(scheduled) // 2]
    assert 0 < scheduled[0] < switch  # a non-empty broadcast wave, and a bucketed one
    monkeypatch.setattr(crawl, "BUCKETED_FETCH_ROWS", switch)
    run_engine(spark, lake, u, host_budget=None, max_attempts=2, fetch_buckets=8)
    assert os.path.exists(os.path.join(lake.root, "pages_person_bucketed_8.json"))
    e_order, e_seen, e_nodes, e_edges, e_pubs = collect_engine(lake)
    o_order, o_seen, o_nodes, o_edges, o_pubs = oracle_views(res, u)
    assert e_seen == o_seen
    assert e_order == o_order
    assert e_nodes == o_nodes and e_edges == o_edges and e_pubs == o_pubs


def test_limit_bounds_waves(spark, lake, universe):
    u = universe
    res = oracle.run_oracle(u, host_budget=8, limit=2)
    run_engine(spark, lake, u, host_budget=8, limit=2)
    e_order, e_seen, *_ = collect_engine(lake)
    assert {o[0] for o in e_order} <= {0, 1}
    assert e_seen == res.seen_pubs
    assert e_order == res.crawl_order


def test_wave_job_budget(spark, lake):
    """Driver action-diet canary: a steady-state wave stays under a
    fixed Spark-job budget (wave counters come from commit manifests
    and the metrics row commits driver-side — no count() jobs over
    recomputed DAGs). AQE stage materialization spawns several jobs
    per action, so the bound is a canary against regressions, not an
    action count."""
    u = fixtures.make_universe(n_authors=40, n_pubs=100, n_venues=4, seed=9)
    fixtures.write_tables(spark, lake, u)
    cfg = CrawlConfig(year=u.year_filter, rules=u.keyword_rules, max_attempts=2)
    eng = CrawlEngine(spark, lake, cfg)
    eng.initialize()
    eng.run_wave()  # wave 0 (journal init) excluded — extra batches
    sc = spark.sparkContext
    sc.setJobGroup("wave-diet", "steady-state wave")
    eng.run_wave()
    sc.setJobGroup("rest", "")
    jobs = sc.statusTracker().getJobIdsForGroup("wave-diet")
    assert 0 < len(jobs) <= 90, f"steady-state wave ran {len(jobs)} jobs"


def test_one_frontier_commit_per_wave(spark, lake):
    """The status delta and the wave's discoveries land in ONE
    key-disjoint MoR layer: the frontier snapshot advances exactly
    once per steady-state wave (3 waves: no layer upkeep runs)."""
    u = fixtures.make_universe(n_authors=40, n_pubs=100, n_venues=4, seed=9)
    fixtures.write_tables(spark, lake, u)
    cfg = CrawlConfig(year=u.year_filter, rules=u.keyword_rules, max_attempts=2)
    eng = CrawlEngine(spark, lake, cfg)
    eng.initialize()
    eng.run_wave()  # wave 0
    for _ in range(2):
        before = lake.current_snapshot("frontier")
        eng.run_wave()
        layers_before = before  # snapshot ids are monotone per commit
        assert lake.current_snapshot("frontier") == layers_before + 1


def test_output_filter_hook_matches_oracle(spark, lake, universe):
    """F2 (graph.py:68-72): a year-at-output-only config prunes pubs
    at emission while the frontier still expands through them —
    crawl order and seen set equal the unfiltered crawl, but the
    emitted summary shrinks. Engine must match the oracle under the
    same hook."""
    u = universe
    res = oracle.run_oracle(u, host_budget=8, output_year=2015)
    run_engine(spark, lake, u, host_budget=8, output_year=2015)
    e_order, e_seen, e_nodes, e_edges, e_pubs = collect_engine(lake)
    o_order, o_seen, o_nodes, o_edges, o_pubs = oracle_views(res, u)
    assert e_order == o_order and e_seen == o_seen
    assert e_nodes == o_nodes and e_edges == o_edges and e_pubs == o_pubs
    # expansion is NOT cut by the output filter: order/seen identical
    # to the unfiltered crawl, but strictly fewer pubs are emitted
    res_nf = oracle.run_oracle(u, host_budget=8)
    assert res.crawl_order == res_nf.crawl_order
    assert res.seen_pubs == res_nf.seen_pubs
    sel = {k for k, p in res.publications.items() if p["selected"]}
    sel_nf = {k for k, p in res_nf.publications.items() if p["selected"]}
    assert sel < sel_nf
    assert all(u.pubs[k]["year"] >= 2015 for k in sel)


def test_crawl_delay_exceeding_wave_still_terminates(spark, lake):
    """A host whose crawl_delay exceeds the wave window is clamped to
    1 slot/wave — throttled, never starved (a zero budget would leave
    its URLs pending forever and the crawl would never terminate)."""
    u = fixtures.make_universe(n_authors=15, n_pubs=30, n_venues=3, seed=11)
    u.seeds_journals = []  # person-seeded only, keeps the crawl small
    # wave_ms=40 < dblp.org's 50ms delay → floor() would give 0 slots
    res = oracle.run_oracle(u, wave_ms=40, max_attempts=2, limit=40)
    assert res.waves < 40, "oracle failed to terminate under clamped budget"
    run_engine(spark, lake, u, wave_ms=40, max_attempts=2, limit=40)
    e_order, e_seen, e_nodes, e_edges, e_pubs = collect_engine(lake)
    o_order, o_seen, o_nodes, o_edges, o_pubs = oracle_views(res, u)
    assert e_order == o_order and e_seen == o_seen
    assert e_nodes == o_nodes and e_edges == o_edges and e_pubs == o_pubs


def test_crawl_delay_budgets_match_oracle(spark, universe, tmp_path):
    """Robots crawl-delay politeness (O5): with a 1-second wave
    window, dblp.org (50 ms delay) gets 20 slots and
    host1.example.org (200 ms) gets 5 — engine and oracle must agree
    on the resulting crawl order and seen set exactly."""
    from dblp_crawler_spark import fixtures, oracle
    from dblp_crawler_spark.lakehouse import Lakehouse
    from dblp_crawler_spark.plans.crawl import CrawlConfig, CrawlEngine

    lake = Lakehouse(spark, str(tmp_path / "delaylake"))
    fixtures.write_tables(spark, lake, universe)
    cfg = CrawlConfig(
        year=universe.year_filter, rules=universe.keyword_rules,
        host_budget=50, wave_ms=1000, max_attempts=2,
    )
    eng = CrawlEngine(spark, lake, cfg)
    eng.initialize()
    eng.run_to_end()
    res = oracle.run_oracle(universe, host_budget=50, wave_ms=1000, max_attempts=2)
    order = [(r.wave, r.seq, r.url) for r in lake.read("crawl_order").orderBy("seq").collect()]
    assert order == res.crawl_order
    assert {r.key for r in lake.read("seen_pubs").collect()} == res.seen_pubs
    # the delay budget actually bit: per wave, scheduled fetches stay
    # within dblp cap (20) + host1 cap (5) + global cap (50) for each
    # of the two un-delayed minor hosts
    sched = lake.read("metrics").agg({"scheduled": "max"}).collect()[0][0]
    assert sched <= 20 + 5 + 50 * 2


def test_duplicate_seeds_match_reference_semantics(spark, lake):
    """The reference is deliberately ASYMMETRIC about duplicate
    seeds: person seeds dedupe through the Graph.persons dict
    (graph.py:14), but init_journals is iterated as-is (graph.py:34)
    so a duplicate journal seed re-fetches its index (the pubs on it
    are still processed once via the publications set). The engine
    must reproduce both behaviors. Regression for a hypothesis-found
    divergence: the fixture seed list [pids[3], pids[10],
    pids[57 % 27]] self-collides at n_authors=27 and the engine
    double-scheduled the pid."""
    u = fixtures.make_universe(n_authors=27, n_pubs=60, n_venues=4, seed=0, with_images=False)
    # plant explicit duplicates of BOTH seed kinds
    u.seeds_pids = [u.seeds_pids[0], u.seeds_pids[1], u.seeds_pids[0]]
    u.seeds_journals = [u.seeds_journals[0], u.seeds_journals[0], u.seeds_journals[1]]
    run_engine(spark, lake, u, host_budget=None, max_attempts=2)
    res = oracle.run_oracle(u, host_budget=None, max_attempts=2)
    got = collect_engine(lake)
    want = oracle_views(res, u)
    assert got == want
    urls = [url for _, _, url in got[0]]
    # seeded persons schedule ONCE in wave 0 (later repeats of a pid
    # url are legitimate retry re-fetches, max_attempts=2)
    w0_pids = [url for wave, _, url in got[0] if wave == 0 and url.startswith("pid/")]
    assert len(w0_pids) == len(set(w0_pids)), "a seeded person was scheduled twice"
    # the duplicated journal's index IS fetched twice (reference semantics)
    assert urls.count(u.seeds_journals[0] + "/index") == 2


def test_long_crawl_bounded(spark, tmp_path):
    """50-wave soak (r3 verdict item 7): a politeness-starved crawl
    (host_budget=2 against the ~85%-hot-host fixture universe) takes
    dozens of waves to drain the backlog. Over that horizon the MoR
    machinery must keep (a) per-table layer counts bounded by the
    size-tier merge (APPEND_LAYER_BOUND) + the inter-upkeep
    accumulation window (LAYER_UPKEEP_EVERY), (b) manifest size bounded
    (the r2 append_nonempty fix: empty tail waves commit nothing),
    and (c) a mid-crawl kill/resume at ~wave 25 bit-identical to the
    oracle's uninterrupted run."""
    import json
    import os

    from dblp_crawler_spark.lakehouse import Lakehouse

    u = fixtures.make_universe(n_authors=150, n_pubs=300, n_venues=6, seed=23)
    lake = Lakehouse(spark, str(tmp_path / "lake"))
    fixtures.write_tables(spark, lake, u)
    cfg = CrawlConfig(
        year=u.year_filter, rules=u.keyword_rules, host_budget=2, max_attempts=2
    )
    eng = CrawlEngine(spark, lake, cfg)
    eng.initialize()
    for _ in range(25):
        eng.run_wave()
    del eng  # kill mid-crawl; manifests are the only surviving state

    eng2 = CrawlEngine.resume(spark, lake)
    assert eng2.wave == 25
    metrics = eng2.run_to_end()
    n_waves = 25 + len(metrics)
    assert n_waves >= 40, f"soak too short to exercise layering: {n_waves} waves"

    # (a) layer counts: ≤ APPEND_LAYER_BOUND survivors after a merge
    #     + ≤ LAYER_UPKEEP_EVERY new layers before the next one runs
    bound = crawl.APPEND_LAYER_BOUND + crawl.LAYER_UPKEEP_EVERY + 1
    for t in crawl.WAVE_TABLES:
        n = lake.n_layers(t)
        assert n <= bound, f"{t}: {n} layers after {n_waves} waves (bound {bound})"

    # (b) manifest size: the head manifest stays O(bound) entries —
    #     not O(n_waves) — for every state table
    for t in crawl.WAVE_TABLES:
        man = lake.manifest(t)
        assert len(man["layers"]) <= bound, (t, len(man["layers"]))
        assert len(json.dumps(man)) < 64 * 1024, (t, "manifest blew up")

    # (c) resumed run is bit-identical to the uninterrupted oracle
    res = oracle.run_oracle(u, host_budget=2, max_attempts=2)
    order = [(r.wave, r.seq, r.url)
             for r in lake.read("crawl_order").orderBy("seq").collect()]
    assert order == res.crawl_order
    assert {r.key for r in lake.read("seen_pubs").collect()} == res.seen_pubs
    assert {(r.src, r.dst, r.pub_key)
            for r in lake.read("edges").collect()} == res.edges
    # wave metrics for the resumed half line up with the oracle too
    eng_metrics = sorted(
        (r.wave, r.scheduled, r.fetch_succ, r.fetch_fail, r.remain_pending)
        for r in lake.read("metrics").collect()
    )
    orc_metrics = sorted(
        (m["wave"], m["scheduled"], m["fetch_succ"], m["fetch_fail"], m["remain_pending"])
        for m in res.metrics
    )
    assert eng_metrics == orc_metrics
