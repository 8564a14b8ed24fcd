"""Lakehouse: snapshot commits, fast append, merge semantics,
time travel — the Iceberg contract the engine relies on (O7)."""

import pytest

from dblp_crawler_spark import schemas


def _df(spark, rows):
    return spark.createDataFrame(rows, "key string, wave int")


def test_overwrite_and_read(spark, lake):
    lake.overwrite("t", _df(spark, [("a", 0)]))
    assert [(r.key, r.wave) for r in lake.read("t").collect()] == [("a", 0)]


def test_fast_append_accumulates(spark, lake):
    lake.overwrite("t", _df(spark, [("a", 0)]))
    lake.append("t", _df(spark, [("b", 1)]))
    lake.append("t", _df(spark, [("c", 2)]))
    assert {r.key for r in lake.read("t").collect()} == {"a", "b", "c"}
    # append is metadata-only: 3 snapshots, each readable (time travel)
    assert lake.snapshots("t") == [0, 1, 2]
    assert {r.key for r in lake.read("t", snapshot=1).collect()} == {"a", "b"}


@pytest.mark.parametrize("verb", ["merge_upsert", "append_new"])
def test_merge_refuses_table_not_keyed_by_call(spark, lake, verb):
    """MERGE verbs run only on a table keyed by the call's keys — there
    is no copy-on-write fallback. An unkeyed or differently keyed
    table is refused, naming the table and keys, and left as it was."""
    merge = getattr(lake, verb)
    batch = _df(spark, [("b", 9), ("c", 1)])
    args = (batch, ["key"]) + ((schemas.SEEN_PUBS,) if verb == "merge_upsert" else ())
    lake.overwrite("t", _df(spark, [("a", 0), ("b", 0)]))
    lake.overwrite("w", _df(spark, [("a", 0)]), merge_keys=["wave"])
    with pytest.raises(ValueError, match=r"table t is keyed by None, cannot MERGE on \['key'\]"):
        merge("t", *args)
    with pytest.raises(ValueError, match=r"table w is keyed by \['wave'\], cannot MERGE on \['key'\]"):
        merge("w", *args)
    assert lake.snapshots("t") == [0] and lake.snapshots("w") == [0]
    assert {r.key: r.wave for r in lake.read("t").collect()} == {"a": 0, "b": 0}


def test_rollback(spark, lake):
    lake.overwrite("t", _df(spark, [("a", 0)]))
    lake.append("t", _df(spark, [("b", 1)]))
    lake.rollback("t", 0)
    assert {r.key for r in lake.read("t").collect()} == {"a"}
    # a write after rollback forks history without clobbering old data
    lake.append("t", _df(spark, [("z", 7)]))
    assert {r.key for r in lake.read("t").collect()} == {"a", "z"}


def test_keyed_merge_upsert_writes_delta_only(spark, lake):
    """MoR contract: on a keyed table, a merge commit writes ONLY the
    delta rows as a new layer — per-wave write I/O is O(wave delta),
    never O(total state). Read resolves last-writer-wins."""
    base = _df(spark, [(f"k{i:04d}", 0) for i in range(500)])
    lake.overwrite("t", base, merge_keys=["key"])
    delta = _df(spark, [("k0001", 9), ("k0007", 9), ("new1", 1)])
    lake.merge_upsert("t", delta, ["key"], schemas.SEEN_PUBS)
    m = lake.manifest("t")
    assert m["merge_keys"] == ["key"]
    assert len(m["layers"]) == 2
    # the commit's data files hold the 3 delta rows, not the 500-row state
    assert m["layers"][-1]["rows"] == 3
    assert m["layers"][0]["rows"] == 500
    got = {r.key: r.wave for r in lake.read("t").collect()}
    assert got["k0001"] == 9 and got["k0007"] == 9 and got["new1"] == 1
    assert got["k0002"] == 0 and len(got) == 501


def test_keyed_append_new_writes_delta_only(spark, lake):
    lake.overwrite("t", _df(spark, [("a", 0)]), merge_keys=["key"])
    lake.append_new("t", _df(spark, [("a", 9), ("b", 1)]), ["key"])
    m = lake.manifest("t")
    assert m["layers"][-1]["rows"] == 1  # only the unmatched row landed
    got = {r.key: r.wave for r in lake.read("t").collect()}
    assert got == {"a": 0, "b": 1}


def test_compact_folds_layers_result_identical(spark, lake):
    lake.overwrite("t", _df(spark, [("a", 0), ("b", 0)]), merge_keys=["key"])
    lake.merge_upsert("t", _df(spark, [("b", 1), ("c", 1)]), ["key"], schemas.SEEN_PUBS)
    lake.merge_upsert("t", _df(spark, [("c", 2), ("d", 2)]), ["key"], schemas.SEEN_PUBS)
    before = {r.key: r.wave for r in lake.read("t").collect()}
    assert lake.n_layers("t") == 3
    lake.compact("t")
    assert lake.n_layers("t") == 1
    assert {r.key: r.wave for r in lake.read("t").collect()} == before == {
        "a": 0, "b": 1, "c": 2, "d": 2,
    }
    # compaction preserves the key spec: later merges stay deltas
    lake.merge_upsert("t", _df(spark, [("a", 7)]), ["key"], schemas.SEEN_PUBS)
    assert lake.manifest("t")["layers"][-1]["rows"] == 1
    assert {r.key: r.wave for r in lake.read("t").collect()}["a"] == 7


def test_keyed_rollback_time_travels_layers(spark, lake):
    lake.overwrite("t", _df(spark, [("a", 0)]), merge_keys=["key"])
    lake.merge_upsert("t", _df(spark, [("a", 1)]), ["key"], schemas.SEEN_PUBS)
    assert {r.key: r.wave for r in lake.read("t").collect()} == {"a": 1}
    lake.rollback("t", 0)
    assert {r.key: r.wave for r in lake.read("t").collect()} == {"a": 0}


def test_manifest_row_counts_no_spark_job(spark, lake):
    """Layer/table row counts come from parquet footers recorded at
    commit time — the wave driver's action diet reads these instead
    of running count() jobs."""
    lake.overwrite("t", _df(spark, [("a", 0), ("b", 0)]))
    lake.append("t", _df(spark, [("c", 1)]))
    assert lake.n_rows("t") == 3
    assert lake.layer_rows("t") == 1
    # per-partition lineage: every layer carries per-file counters
    # that sum to the layer total (manifest-file granularity)
    for layer in lake.manifest("t")["layers"]:
        assert layer["files"] and sum(f["rows"] for f in layer["files"]) == layer["rows"]


def test_append_local_no_spark_job(spark, lake):
    """Driver-side micro-append: commits a readable layer without
    launching a Spark job (per-wave metrics path)."""
    lake.overwrite("t", _df(spark, [("a", 0)]))
    spark.sparkContext.setJobGroup("append-local-probe", "probe")
    lake.append_local("t", [{"key": "b", "wave": 1}], schemas.SEEN_PUBS)
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup("append-local-probe")
    spark.sparkContext.setJobGroup("rest", "")
    assert len(jobs) == 0, f"append_local launched Spark jobs: {jobs}"
    assert {(r.key, r.wave) for r in lake.read("t").collect()} == {("a", 0), ("b", 1)}
    assert lake.layer_rows("t") == 1


def test_empty_table_roundtrip(spark, lake):
    lake.overwrite("t", spark.createDataFrame([], schemas.SEEN_PUBS))
    assert lake.read("t").count() == 0


def test_freshness_ttl(spark, lake):
    """S5: per-kind TTL filter + stale re-fetch set (downloader.py
    semantics: person/journal_list 30d, journal forever)."""
    from datetime import datetime, timedelta, timezone

    from dblp_crawler_spark.operators.freshness import fresh_pages, stale_urls

    now = datetime(2026, 1, 31, tzinfo=timezone.utc)
    old = now - timedelta(days=40)
    new = now - timedelta(days=5)
    rows = [
        ("p_old", "h", "person", old), ("p_new", "h", "person", new),
        ("jl_old", "h", "journal_list", old), ("j_old", "h", "journal", old),
    ]
    pages = spark.createDataFrame(rows, "url string, host string, kind string, fetched_at timestamp")
    fresh = {r.url for r in fresh_pages(pages, now).collect()}
    assert fresh == {"p_new", "j_old"}  # journal TTL is forever
    stale = {r.url for r in stale_urls(pages, now).collect()}
    assert stale == {"p_old", "jl_old"}
    # override: journals expire too
    stale2 = {r.url for r in stale_urls(pages, now, {"journal": 10}).collect()}
    assert stale2 == {"p_old", "jl_old", "j_old"}


def test_refresh_pages_merges_into_one_layer(spark, lake):
    """freshness.refresh_pages on the fixture page store (keyed by
    url): re-fetched rows replace their stale versions, new urls are
    inserted, every other page is untouched, and the delta is folded
    in so `pages` reads stay one layer."""
    from pyspark.sql import functions as F

    from dblp_crawler_spark import fixtures
    from dblp_crawler_spark.operators.freshness import refresh_pages

    u = fixtures.make_universe(n_authors=20, n_pubs=40, n_venues=3, seed=5)
    fixtures.write_tables(spark, lake, u)
    pages = lake.read("pages")
    expected = {r.url: r for r in pages.collect()}
    picked = sorted(expected)[:3]
    refetched = pages.filter(F.col("url").isin(picked)).withColumn(
        "fetched_at", F.lit("2026-01-31 00:00:00").cast("timestamp")
    )
    added = pages.filter(F.col("url") == picked[0]).withColumn("url", F.lit("pid/new"))
    new_rows = refetched.unionByName(added).collect()
    refresh_pages(lake, spark.createDataFrame(new_rows, schemas.PAGES))
    expected.update({r.url: r for r in new_rows})
    assert {r.url: r for r in lake.read("pages").collect()} == expected
    assert lake.n_layers("pages") == 1
    assert lake.manifest("pages")["merge_keys"] == ["url"]


def test_mor_seq_unaffected_by_data_dir_in_root(spark, tmp_path):
    """A lakehouse ROOT containing a 'data-<n>/' segment must not
    shadow the layer dir when recovering each layer's commit seq from
    the file path — otherwise last-writer-wins silently degrades to
    arbitrary-row-wins for every keyed table."""
    from dblp_crawler_spark.lakehouse import Lakehouse

    lake = Lakehouse(spark, str(tmp_path / "data-2" / "lake"))
    lake.overwrite("t", _df(spark, [("a", 0), ("b", 0)]), merge_keys=["key"])
    lake.merge_upsert("t", _df(spark, [("a", 1)]), ["key"], _df(spark, []).schema)
    lake.merge_upsert("t", _df(spark, [("a", 2), ("c", 2)]), ["key"], _df(spark, []).schema)
    got = {r.key: r.wave for r in lake.read("t").collect()}
    assert got == {"a": 2, "b": 0, "c": 2}


def test_append_nonempty_skips_empty_batches(spark, lake):
    """Empty batches commit nothing: no new snapshot, no new layer,
    no orphan data dir — the guard that keeps append-only tables'
    manifests bounded over long steady-state crawls."""
    import os

    lake.overwrite("t", _df(spark, [("a", 0)]))
    head0 = lake.current_snapshot("t")
    n = lake.append_nonempty("t", _df(spark, []))
    assert n == 0
    assert lake.current_snapshot("t") == head0 and lake.n_layers("t") == 1
    # the rolled-back layer dir is gone
    dirs = [d for d in os.listdir(lake._tdir("t")) if d.startswith("data-")]
    assert len(dirs) == 1
    n = lake.append_nonempty("t", _df(spark, [("b", 1)]))
    assert n == 1 and lake.n_layers("t") == 2
    assert {r.key for r in lake.read("t").collect()} == {"a", "b"}


def test_merge_small_layers_bounds_append_table(spark, lake):
    """Size-tiered merge: an append-per-wave table's layer count
    stays bounded over a long crawl (30 appends here), read result
    row-identical, time travel intact (verdict r2 item 8)."""
    expected = set()
    for i in range(30):
        lake.append("t", _df(spark, [(f"k{i}", i)]))
        expected.add((f"k{i}", i))
        if (i + 1) % 5 == 0:
            lake.merge_small_layers("t", max_layers=4)
            assert lake.n_layers("t") <= 4
    assert {(r.key, r.wave) for r in lake.read("t").collect()} == expected
    assert lake.n_rows("t") == 30
    # the big (merged) layers are left alone by later merges: after
    # the final merge only small fresh layers plus the merged tiers
    # remain, never > max_layers right after a merge
    lake.merge_small_layers("t", max_layers=4)
    assert lake.n_layers("t") <= 4
    assert {(r.key, r.wave) for r in lake.read("t").collect()} == expected


def test_merge_small_layers_noop_under_bound(spark, lake):
    lake.overwrite("t", _df(spark, [("a", 0)]))
    lake.append("t", _df(spark, [("b", 1)]))
    snap = lake.current_snapshot("t")
    assert lake.merge_small_layers("t", max_layers=4) == snap  # no new commit
    assert lake.n_layers("t") == 2


def test_merge_small_layers_keyed_delegates_to_compact(spark, lake):
    lake.overwrite("t", _df(spark, [("a", 0)]), merge_keys=["key"])
    for i in range(1, 6):
        lake.merge_upsert("t", _df(spark, [("a", i), (f"x{i}", i)]), ["key"], schemas.SEEN_PUBS)
    assert lake.n_layers("t") == 6
    lake.merge_small_layers("t", max_layers=4)
    # keyed table: full compact (seq-safe), not a partial tier merge
    assert lake.n_layers("t") == 1
    got = {r.key: r.wave for r in lake.read("t").collect()}
    assert got["a"] == 5 and got["x1"] == 1


def test_expire_snapshots_refcounts_shared_layers(spark, lake):
    """GC must be reference-counted: fast-append shares layer dirs
    across snapshots, so a dir dies only when EVERY manifest naming
    it is expired; retained snapshots stay byte-identical."""
    import os

    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType([StructField("x", LongType())])
    df = lambda vals: spark.createDataFrame([(v,) for v in vals], schema)
    lake.append("t", df([1]))  # snap 0, layer A
    lake.append("t", df([2]))  # snap 1 = A + B
    lake.append("t", df([3]))  # snap 2 = A + B + C
    lake.append("t", df([4]))  # snap 3 = A + B + C + D
    before = sorted(r.x for r in lake.read("t").collect())
    rep = lake.expire_snapshots("t", retain_last=2)
    assert rep["expired"] == [0, 1]
    # layers A/B are still referenced by snaps 2 and 3 → nothing dies
    assert rep["deleted_dirs"] == []
    assert sorted(r.x for r in lake.read("t").collect()) == before
    assert lake.snapshots("t") == [2, 3]
    # time travel to an expired snapshot is gone (Iceberg contract)
    try:
        lake.read("t", snapshot=0)
        assert False, "expired snapshot still readable"
    except FileNotFoundError:
        pass


def test_expire_snapshots_deletes_orphaned_compaction_layers(spark, lake):
    """After compaction the OLD layers are referenced only by old
    snapshots; expiring those snapshots must reclaim the dirs."""
    import os

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    schema = StructType([StructField("k", LongType()), StructField("v", StringType())])
    df = lambda rows: spark.createDataFrame(rows, schema)
    lake.overwrite("kt", df([(1, "a"), (2, "b")]), merge_keys=["k"])
    lake.merge_upsert("kt", df([(2, "b2"), (3, "c")]), keys=["k"], schema=schema)
    lake.compact("kt")
    tdir = lake._tdir("kt")
    dirs_before = {d for d in os.listdir(tdir) if d.startswith("data-")}
    rep = lake.expire_snapshots("kt", retain_last=1)
    assert rep["deleted_dirs"]                   # pre-compaction layers die
    dirs_after = {d for d in os.listdir(tdir) if d.startswith("data-")}
    assert dirs_after == dirs_before - set(rep["deleted_dirs"])
    # surviving read is the compacted state, untouched
    got = sorted((r.k, r.v) for r in lake.read("kt").collect())
    assert got == [(1, "a"), (2, "b2"), (3, "c")]
