"""Bucketed payload store: bucket pruning + exchange-free joins,
proven at the plan level (the scale path when a wave is too large to
broadcast)."""

import re

import pytest
from pyspark.sql import functions as F

from dblp_crawler_spark import fixtures
from dblp_crawler_spark.lakehouse import Lakehouse
from dblp_crawler_spark.operators.scheduler import politeness_pop
from dblp_crawler_spark.plans.crawl import BUCKETED_FETCH_ROWS, CrawlConfig, CrawlEngine
from dblp_crawler_spark.sources import bucketed_store as B


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


@pytest.fixture(scope="module")
def payload_df(spark):
    return spark.range(2000).select(
        F.format_string("img_%06d", F.col("id")).alias("image_id"),
        F.encode(F.format_string("payload-%d", F.col("id")), "utf-8").alias("bytes"),
    )


def test_partition_pruned_fetch(spark, payload_df, tmp_path):
    path = str(tmp_path / "store")
    B.write_partitioned(payload_df, path, "image_id", n_buckets=16)
    keys = spark.range(25).select(F.format_string("img_%06d", F.col("id")).alias("image_id"))
    fetched = B.pruned_fetch(spark, path, keys, "image_id", n_buckets=16)
    assert fetched.count() == 25
    plan = plan_of(fetched)
    # the scan carries a partition filter on bucket — pruned at
    # metadata level, non-matching directories never read
    assert "PartitionFilters" in plan and "bucket" in plan


def test_bucketed_join_has_no_exchange(spark, payload_df, tmp_path):
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        B.write_bucketed_table(payload_df, "imgs_bkt", "image_id", n_buckets=8)
        keys = spark.range(500).select(
            F.format_string("img_%06d", F.col("id") * 3).alias("image_id")
        )
        B.write_bucketed_table(keys, "keys_bkt", "image_id", n_buckets=8)
        j = B.bucketed_join(spark, "imgs_bkt", "keys_bkt", "image_id")
        plan = plan_of(j)
        assert "Exchange" not in plan, plan  # co-located: no shuffle on either side
        assert j.count() == keys.join(payload_df, "image_id").count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.sql("DROP TABLE IF EXISTS imgs_bkt")
        spark.sql("DROP TABLE IF EXISTS keys_bkt")


def test_ivf_store_partition_pruned(spark, tmp_path):
    """IVF cell-partitioned store: the probe scans ONLY the probed
    cells (PartitionFilters on cell) and is result-identical to the
    in-memory ivf_topk over the same index."""
    from dblp_crawler_spark.operators import similarity as SIM

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents, assigned = SIM.ivf_index(emb, n_cells=8, iters=1, seed=7)
    path = str(tmp_path / "ivf_store")
    SIM.write_ivf_store(assigned, path)
    q = emb.filter("vec_id < 3").select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    pruned = SIM.ivf_topk_pruned(spark, path, q, cents, k=5, nprobe=2)
    want = {tuple(r) for r in SIM.ivf_topk(q, cents, assigned, k=5, nprobe=2).collect()}
    assert {tuple(r) for r in pruned.collect()} == want and len(want) == 15
    plan = plan_of(pruned)
    assert "PartitionFilters" in plan and "cell" in plan
    # the store scan carries a PartitionFilter on EXACTLY the probed
    # cells — pruned I/O, not a full-store scan with a post-filter
    # (DataFrame.inputFiles lists the pre-filter relation, so the
    # executed plan's PartitionFilters is the honest signal)
    q0 = q.select(F.col("q_vec").cast("array<double>").alias("__qv"))
    cents_b, topn = SIM._nearest_cells(F.col("__qv"), cents, 2)
    probed = {
        r.cell for r in q0.crossJoin(cents_b).select(F.explode(topn).alias("cell")).collect()
    }
    m = re.search(r"PartitionFilters: \[cell#\d+L? IN \(([-\d,]+)\)", plan)
    assert m, plan
    assert {int(x) for x in m.group(1).split(",")} == probed and 0 < len(probed) < 8


@pytest.mark.parametrize(
    "n_sched", [0, None, BUCKETED_FETCH_ROWS], ids=["broadcast", "auto", "bucketed"]
)
def test_fetch_join_on_fresh_engine(spark, tmp_path, n_sched):
    """The engine's own fetch join (CrawlEngine._fetch_join, the code
    path run_wave executes) picks its plan from the scheduled batch
    size, on a freshly constructed engine (the broadcast plan caches
    its success batch in a scratch list that must already exist).
    `auto` passes the batch's own row count, as run_wave does; this
    small wave is below the switch:

      * below BUCKETED_FETCH_ROWS the keys broadcast into the page
        scan — a BroadcastExchange, no sort-merge join;
      * at it, ONE sort-merge join with zero BroadcastExchange (no
        driver-side single-thread build — the measured r4 scale break
        at 2M-row waves) and exactly one Exchange, on the slim
        scheduled-key side; the person-page payload scan is the
        bucketed read (Bucketed: true) with NO Exchange above it —
        blobs never shuffle.

    Either way every pending url resolves to its page."""
    u = fixtures.make_universe(n_authors=30, n_pubs=80, n_venues=3, seed=11)
    lake = Lakehouse(spark, str(tmp_path / "lake"))
    fixtures.write_tables(spark, lake, u)
    eng = CrawlEngine(spark, lake, CrawlConfig(year=u.year_filter, fetch_buckets=8))
    eng.initialize()
    pending = lake.read("frontier").filter("status = 'pending'")
    sched = politeness_pop(pending, None)
    if n_sched is None:
        n_sched = sched.count()
    fetched = eng._fetch_join(sched, n_sched=n_sched)
    plan = plan_of(fetched)
    if n_sched < BUCKETED_FETCH_ROWS:
        assert "BroadcastExchange" in plan and "SortMergeJoin" not in plan, plan
    else:
        assert "BroadcastExchange" not in plan, plan
        assert "SortMergeJoin" in plan and "Bucketed: true" in plan, plan
        assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    n_pending = pending.count()
    assert fetched.filter("person IS NOT NULL").count() == fetched.count() == n_pending > 0
    for df in eng._fetch_scratch:
        df.unpersist()


def test_bucketed_layout_rebuilds_on_pages_refresh(spark, tmp_path):
    """The bucketed layout is pinned to a pages-table snapshot: a
    refresh of the pages table (new snapshot) invalidates the marker
    and the next ensure_bucketed_pages() rebuilds — a stale layout
    can never serve old payloads."""
    u = fixtures.make_universe(n_authors=30, n_pubs=80, n_venues=3, seed=11)
    lake = Lakehouse(spark, str(tmp_path / "lake"))
    fixtures.write_tables(spark, lake, u)
    eng = CrawlEngine(spark, lake, CrawlConfig(fetch_buckets=4))
    tbl = eng.ensure_bucketed_pages()
    n0 = spark.table(tbl).count()
    # simulate a TTL refresh: re-commit the pages table (new snapshot)
    lake.overwrite("pages", lake.read("pages"))
    tbl2 = eng.ensure_bucketed_pages()
    assert tbl2 == tbl
    assert spark.table(tbl2).count() == n0
    import json as _json
    import os as _os

    marker = _os.path.join(lake.root, "pages_person_bucketed_4.json")
    with open(marker) as f:
        assert _json.load(f)["pages_snapshot"] == lake.current_snapshot("pages")

    # a second bucket count on the same lake root gets its own layout
    # and leaves the first one alone (no rebuild in either direction)
    def n_buckets(t):
        rows = spark.sql(f"DESCRIBE TABLE EXTENDED {t}").collect()
        return int(next(r.data_type for r in rows if r.col_name == "Num Buckets"))

    built4 = _os.stat(marker).st_ino
    eng8 = CrawlEngine(spark, lake, CrawlConfig(fetch_buckets=8))
    tbl8 = eng8.ensure_bucketed_pages()
    assert tbl8 != tbl
    assert eng.ensure_bucketed_pages() == tbl
    assert _os.stat(marker).st_ino == built4
    assert (n_buckets(tbl), n_buckets(tbl8)) == (4, 8)
    assert spark.table(tbl).count() == spark.table(tbl8).count() == n0
