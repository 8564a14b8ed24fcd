"""CrawlEngine — the distributed BFS wave driver.

Re-expresses the reference loop (graph.py:81-158 driven by
__main__.py:43-53) as one declarative DataFrame DAG per wave over
lakehouse state tables; semantics are pinned by the oracle
(oracle.py docstring) and verified wave-for-wave in tests.

Per-wave plan (SURVEY.md §3.1 "Spark lifecycle replacement"):

  scan frontier → politeness window (O5) → crawl-order sequencing →
  fetch-join against the page store (S1, simulated network) →
  EMIT last wave's pubs (nodes/edges/publications, A3-A5/J5) →
  EXPAND fetched persons (J2) → crawler filter (P1/P2, semantic
  pushdown INTO the BFS) → seen anti-join (J3) → discover authors
  (J1/J4) → MERGE frontier/seen/pending_pubs/metrics.

Every wave ends in atomic lakehouse commits plus a state manifest
(wave, next_seq, per-table snapshot ids) — the per-partition lineage
checkpoint of the north_rule: a killed run resumes from the manifest
and reproduces the identical crawl order and seen set (tested).

Scale posture: all joins are equi-joins planned by Catalyst/AQE;
dimension joins (robots, ccf_rank) are broadcast; the hot-host window
is budget-bounded; fetch/parse work is salted by url hash (O6); wave
writes are the natural lineage truncation for an iterative algorithm
(no exponential plan growth).
"""

from __future__ import annotations

import dataclasses
import json
import os
import tempfile
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from .. import schemas
from ..fixtures import SEED_PRIORITY, person_url
from ..lakehouse import Lakehouse
from ..operators.bloom import FILTER_SCHEMA, BloomBank
from ..operators.frontier import (
    crawler_filter,
    dedup_new_pubs,
    discover_authors,
    host_expr,
    output_filter,
    pub_record_cols,
    with_ccf,
)
from ..operators.scheduler import global_sequence, politeness_pop, robots_status

PENDING_PUBS = StructType(
    [
        StructField("key", StringType(), False),
        StructField("pub", schemas.PUB, True),
        StructField("ccf", StringType(), True),
        StructField("base_depth", IntegerType(), False),
    ]
)

# Every table a wave writes: name → (schema, merge keys; None = an
# append/overwrite table). It drives initialize (so reads are total),
# the snapshots resume rolls back, and the wave-end layer upkeep.
WAVE_TABLES: dict[str, tuple[StructType, list[str] | None]] = {
    "frontier": (schemas.FRONTIER, ["pid"]),
    "seen_pubs": (schemas.SEEN_PUBS, None),
    "pending_pubs": (PENDING_PUBS, None),
    "crawl_order": (schemas.CRAWL_ORDER, None),
    "nodes": (schemas.NODES, None),
    "edges": (schemas.EDGES, None),
    "publications": (schemas.PUBLICATIONS_OUT, None),
    "emitted_persons": (schemas.EMITTED_PERSONS, None),
    "metrics": (schemas.METRICS, None),
    "journal_init_counts": (schemas.JOURNAL_INIT_COUNTS, None),
    "seen_filter": (FILTER_SCHEMA, ["bucket"]),
}

# Layer upkeep (Iceberg rewrite_data_files cadence): every
# LAYER_UPKEEP_EVERY waves keyed tables fold their MoR layers into one
# and append tables are size-tier merged to ≤ APPEND_LAYER_BOUND layers.
LAYER_UPKEEP_EVERY = 8
APPEND_LAYER_BOUND = 8

# Fetch plan switch (_fetch_join): a wave scheduling at least this many
# urls fetches through the bucketed sort-merge join; smaller waves
# broadcast their keys. The broadcast build is a driver-side,
# level-independent cost that erased the N→4N scaling margin at a
# 2M-row wave (0.549 eff, BENCH.md); below the switch it is the cheaper
# plan. Both plans are result-identical.
BUCKETED_FETCH_ROWS = 1_000_000


@dataclass
class CrawlConfig:
    """What one crawl does; layer upkeep (LAYER_UPKEEP_EVERY) and the
    fetch plan (BUCKETED_FETCH_ROWS) are not configurable."""

    year: int = 2000
    rules: list = field(default_factory=list)  # CNF keyword rules
    host_budget: int | None = None
    max_attempts: int = 3
    limit: int = -1
    use_robots: bool = True
    # politeness window length in ms: hosts with a robots crawl_delay
    # get floor(wave_ms / delay) fetch slots per wave (None = delay
    # not modeled; only host_budget applies)
    wave_ms: int | None = None
    # seen-set scale path: the partitioned bloom bank
    # (operators/bloom.py) pre-filters candidates before the exact
    # anti-join. Results are identical either way — the filter only
    # routes definitely-new rows around the big anti-join.
    use_bloom: bool = False
    bloom_buckets: int = 32
    bloom_bits: int = 1 << 17
    # F2 output-filter hook (graph.py:68-72): prune at emission only;
    # the crawl still expands through filtered pubs. None/[] = pass
    # everything (the reference's default hook).
    output_year: int | None = None
    output_rules: list | None = None
    # bucket count of the page layout the large-wave fetch plan reads
    # (ensure_bucketed_pages); the plan itself is chosen per wave
    fetch_buckets: int = 128


# removed CrawlConfig fields → the only value this engine honours. An
# older crawl_state.json resumes if it holds exactly that value; any
# other would silently change what the resumed crawl does.
_REMOVED_FIELDS = {"seen_filter_kind": "bloom", "adaptive_waves": False,
                   "compact_every": LAYER_UPKEEP_EVERY, "max_append_layers": APPEND_LAYER_BOUND}
# removed fields that only ever chose a physical plan: every plan is
# oracle-exact, so they are dropped whatever they hold
_REMOVED_PLAN_FIELDS = ("fetch_mode", "fetch_auto_threshold")


def _drop_removed_fields(config: dict) -> dict:
    config = dict(config)
    for name in _REMOVED_PLAN_FIELDS:
        config.pop(name, None)
    for name, supported in _REMOVED_FIELDS.items():
        if name in config and config.pop(name) != supported:
            raise ValueError(f"cannot resume: removed CrawlConfig field {name}={supported!r} is required")
    return config


class CrawlEngine:
    def __init__(self, spark: SparkSession, lake: Lakehouse, config: CrawlConfig) -> None:
        self.spark = spark
        self.lake = lake
        self.cfg = config
        self.wave = 0
        self.next_seq = 0
        self.done = False
        self._person_pages = None
        # incrementally-tracked pending count (None → recount once);
        # saves a full MoR frontier resolve+count job per wave
        self._remain = None
        # broadcast-fetch success batches, unpersisted at wave end
        self._fetch_scratch: list[DataFrame] = []
        self.bloom = BloomBank(lake, n_buckets=config.bloom_buckets, m_bits=config.bloom_bits)

    # ---- state manifest (resume/lineage, O7) -----------------------------
    @property
    def _state_path(self) -> str:
        return os.path.join(self.lake.root, "crawl_state.json")

    def _save_state(self) -> None:
        state = {
            "wave": self.wave,
            "next_seq": self.next_seq,
            "done": self.done,
            "config": dataclasses.asdict(self.cfg),
            "snapshots": {t: self.lake.current_snapshot(t) for t in WAVE_TABLES},
        }
        fd, tmp = tempfile.mkstemp(dir=self.lake.root)
        with os.fdopen(fd, "w") as f:
            json.dump(state, f)
        os.replace(tmp, self._state_path)

    @classmethod
    def resume(cls, spark: SparkSession, lake: Lakehouse) -> "CrawlEngine":
        """Recover from the last committed wave manifest: roll every
        state table back to its recorded snapshot (discarding any
        partially-written wave) and continue."""
        with open(os.path.join(lake.root, "crawl_state.json")) as f:
            state = json.load(f)
        cfg = CrawlConfig(**_drop_removed_fields(state["config"]))
        cfg.rules = [list(r) for r in cfg.rules]
        eng = cls(spark, lake, cfg)
        eng.wave = state["wave"]
        eng.next_seq = state["next_seq"]
        eng.done = state["done"]
        for t, snap in state["snapshots"].items():
            if snap is not None and lake.current_snapshot(t) != snap:
                lake.rollback(t, snap)
        return eng

    # ---- init -------------------------------------------------------------
    def initialize(self) -> None:
        robots = self.lake.read_or_empty("robots", schemas.ROBOTS)
        seeds = self.lake.read("seeds")
        # dedupe: the reference's Graph.persons is a dict, so seeding
        # the same pid twice is a no-op there (graph.py:25); a
        # duplicate row here would double-schedule the url in wave 0
        # (same-key rows inside ONE MoR layer are not resolved —
        # last-writer-wins works across layers)
        seed_rows = (
            seeds.filter(F.col("seed_type") == "pid")
            .dropDuplicates(["value"])
            .select(
                F.col("value").alias("pid"),
                F.concat(F.lit("pid/"), F.col("value")).alias("url"),
                host_expr(F.col("value")).alias("host"),
                F.lit("pending").alias("status"),
                F.lit(0).alias("depth"),
                F.lit(SEED_PRIORITY).cast("long").alias("priority"),
                F.lit(0).alias("attempts"),
                F.lit(0).alias("wave_added"),
            )
        )
        if self.cfg.use_robots:
            seed_rows = robots_status(seed_rows, robots)
        # keyed table → per-wave merge_upsert is an O(wave) MoR delta
        # layer, never a rewrite of the full 10^10-row frontier
        self.lake.overwrite(
            "frontier",
            seed_rows.select(*[f.name for f in schemas.FRONTIER]),
            merge_keys=WAVE_TABLES["frontier"][1],
        )
        for t, (sch, keys) in WAVE_TABLES.items():
            if t != "frontier":
                self.lake.create_empty(t, sch, merge_keys=keys)  # metadata-only, no Spark job
        self.wave, self.next_seq, self.done = 0, 0, False
        self._save_state()

    # ---- one wave ----------------------------------------------------------
    @property
    def person_pages(self):
        """Cached (url, person) projection of the page store, read by
        the broadcast fetch, emission and finalize. The pages table is
        immutable for the duration of a crawl (TTL refresh happens
        between crawls), so the cache saves one scan per use per wave;
        at 100 TB the same call site simply stays an (Iceberg-pruned)
        scan. The bucketed fetch reads its own layout
        (ensure_bucketed_pages) instead."""
        if self._person_pages is None:
            self._person_pages = (
                self.lake.read("pages")
                .filter(F.col("kind") == "person")
                .select("url", "person")
                .cache()
            )
        return self._person_pages

    def ensure_bucketed_pages(self) -> str:
        """Build (once per pages snapshot) and declare (once per
        session) the bucketed person-page layout under the lake root;
        returns the session-catalog table name.

        Layout = Spark native bucketing (sources/bucketed_store.py:
        bucketBy(n, url) + sortBy(url), one writer task per bucket),
        the in-repo equivalent of Iceberg's bucket partition
        transform. Bucket specs live in the catalog, not the files,
        so a fresh session re-declares the (external) table over the
        existing files via CREATE TABLE ... CLUSTERED BY ... LOCATION
        — exactly what tools/throughput_job.py does for the images
        store. The build is O(pages) ONE TIME per (pages snapshot,
        bucket count): table name, path and marker all carry the
        bucket count, and the marker records the snapshot, so a TTL
        refresh of the pages table invalidates it."""
        import hashlib

        root = self.lake.root
        n = self.cfg.fetch_buckets
        # one layout per bucket count: engines with different
        # fetch_buckets on one lake root must not rebuild each other's
        path = os.path.join(root, f"pages_person_bucketed_{n}")
        marker = path + ".json"
        tbl = f"pages_b{n}_" + hashlib.md5(root.encode()).hexdigest()[:10]
        pages_snap = self.lake.current_snapshot("pages")
        built = None
        if os.path.exists(marker):
            with open(marker) as f:
                built = json.load(f)
        if built is None or built.get("pages_snapshot") != pages_snap:
            proj = (
                self.lake.read("pages")
                .filter(F.col("kind") == "person")
                .select("url", "person")
                # one shuffle of the slim wave-independent build; the
                # same hash family as the bucket spec → one writer
                # task per bucket → one sorted file per bucket
                .repartition(n, "url")
            )
            self.spark.sql(f"DROP TABLE IF EXISTS {tbl}")
            (
                proj.write.mode("overwrite")
                .bucketBy(n, "url")
                .sortBy("url")
                .option("path", path)
                .saveAsTable(tbl)
            )
            # marker last and atomically: a crash mid-build leaves the
            # old (or no) marker, so the next call rebuilds
            fd, tmp = tempfile.mkstemp(dir=root)
            with os.fdopen(fd, "w") as f:
                json.dump({"pages_snapshot": pages_snap, "n_buckets": n}, f)
            os.replace(tmp, marker)
        elif not self.spark.catalog.tableExists(tbl):
            person_ddl = schemas.PERSON_PAYLOAD.simpleString()
            self.spark.sql(f"""
                CREATE TABLE {tbl} (url string, person {person_ddl})
                USING parquet
                CLUSTERED BY (url) SORTED BY (url) INTO {n} BUCKETS
                LOCATION '{path}'
            """)
        return tbl

    def _fetch_join(self, sched: DataFrame, n_sched: int) -> DataFrame:
        """S1: the simulated-HTTP fetch join of the scheduled batch
        against the person page store. Returns one row per scheduled
        url with a nullable `person` payload (null = fetch failure).
        The plan follows the batch size `n_sched` (known from the
        crawl-order commit manifest, no job). Payload bytes never
        shuffle in either plan; the difference is where the join's
        small side goes:

          n_sched < BUCKETED_FETCH_ROWS: broadcast — the batch
            broadcasts into the cached page projection (build-left
            inner join) + an anti-join recovers failures. The
            driver-side single-thread broadcast build is cheap for
            bounded waves.
          n_sched ≥ BUCKETED_FETCH_ROWS: bucketed — ONE right-outer
            sort-merge join against the bucketed+sorted layout: zero
            Exchange and zero broadcast above the payload scan; the
            slim scheduled keys shuffle into the bucket layout.
            Failures fall out of the outer join for free (no second
            anti-join, no broadcast build).
        """
        if n_sched >= BUCKETED_FETCH_ROWS:
            pages = self.spark.table(self.ensure_bucketed_pages())
            # the merge hint pins SMJ even when a tiny fixture store
            # would auto-broadcast — the plan shape is the contract
            # (tests/test_bucketed.py pins zero Exchange on pages)
            return pages.join(sched.hint("merge"), "url", "right")
        succ = sched.hint("broadcast").join(self.person_pages, "url", "inner").cache()
        self._fetch_scratch.append(succ)
        failed = sched.join(F.broadcast(succ.select("url")), "url", "left_anti").withColumn(
            "person", F.lit(None).cast(schemas.PERSON_PAYLOAD)
        )
        return succ.unionByName(failed.select(*succ.columns))

    def run_wave(self) -> dict:
        """One BFS wave with AQE off for the wave body; the session's
        setting is restored either way, so queries outside the engine
        keep theirs. The wave DAG has a fixed shape (a fetch plan the
        engine picks from the scheduled batch size, keyed MoR
        commits): adaptive re-planning buys nothing there, and each
        AQE stage materialization adds driver latency (BENCH.md
        round-3 A/B: 54.8 vs 32.4 jobs/wave on the fixture crawl)."""
        conf = self.spark.conf
        prev = conf.get("spark.sql.adaptive.enabled", "true")
        conf.set("spark.sql.adaptive.enabled", "false")
        try:
            return self._run_wave_body()
        finally:
            conf.set("spark.sql.adaptive.enabled", prev)

    def _run_wave_body(self) -> dict:
        spark, lake, cfg, w = self.spark, self.lake, self.cfg, self.wave
        pages = lake.read("pages")
        ccf_rank = lake.read_or_empty("ccf_rank", schemas.CCF_RANK)
        robots = lake.read_or_empty("robots", schemas.ROBOTS)
        frontier = lake.read("frontier")
        seen = lake.read("seen_pubs")

        order_batches: list[DataFrame] = []

        # ---- wave-0 journal init (graph.py:30-60, journal.py:21-38) ------
        journal_new = None
        if w == 0:
            jseeds = lake.read("seeds").filter(F.col("seed_type") == "journal")
            # NO distinct here — deliberately asymmetric with person
            # seeds: the reference iterates init_journals AS-IS
            # (graph.py:34-35 downloads each listed jid, duplicates
            # included — a cache hit the second time), while persons
            # dedupe through the dict (graph.py:14). Duplicate journal
            # seeds therefore re-schedule the index fetch; the pubs on
            # it are still processed once (publications-set guard /
            # the left_semi page join below).
            index_urls = jseeds.select(F.concat("value", F.lit("/index")).alias("url"))
            order_batches.append(index_urls.withColumn("priority", F.lit(0).cast("long")))
            jl = pages.filter(F.col("kind") == "journal_list").join(index_urls, "url", "left_semi")
            refs = jl.select(F.explode("journal_list.refs").alias("vurl"))
            procs = jl.select("journal_list.h1", F.explode("journal_list.proceedings").alias("p")).filter(
                # keep unless (booktitle present AND ∉ h1); require url (P11)
                (
                    F.col("p.booktitle").isNull()
                    | F.contains(F.lower("h1"), F.lower(F.col("p.booktitle")))
                )
                & F.col("p.url").isNotNull()
            ).select(F.col("p.url").alias("vurl"))
            vol_urls = (
                refs.unionByName(procs)
                .select(F.regexp_replace("vurl", r"\.html$", "").alias("url"))  # P12
                .distinct()
            )
            order_batches.append(vol_urls.withColumn("priority", F.lit(0).cast("long")))
            vols = pages.filter(F.col("kind") == "journal").join(vol_urls, "url", "left_semi")
            jpubs = vols.select(F.explode("journal.pubs").alias("pub"))
            jpubs = crawler_filter(jpubs, cfg.year, cfg.rules)
            journal_new = (
                jpubs.select(F.col("pub.key").alias("key"), "pub")
                .dropDuplicates(["key"])
                .withColumn("base_depth", F.lit(0))
            )
            # A7 (graph.py:46-58): per-journal init batch counts — a
            # small committed rollup instead of the reference's log line
            from ..functions.text import journal_key as _jk

            lake.overwrite(
                "journal_init_counts",
                journal_new.groupBy(_jk(F.col("pub.url")).alias("journal_key")).agg(
                    F.count("*").alias("n_pubs")
                ),
            )

        # ---- schedule (T3 pop + O5 politeness) ---------------------------
        pending = frontier.filter(
            (F.col("status") == "pending") & (F.col("attempts") < cfg.max_attempts)
        )
        host_budgets = None
        if cfg.wave_ms:
            # clamp to ≥1 slot/wave: a host whose crawl_delay exceeds
            # the wave window must throttle, never starve — with 0
            # slots its URLs stay pending forever and remain_pending
            # can never reach 0 (termination). Mirrored in the oracle.
            host_budgets = robots.filter(
                F.col("crawl_delay_ms").isNotNull() & (F.col("crawl_delay_ms") > 0)
            ).select(
                "host",
                F.greatest(
                    F.floor(F.lit(cfg.wave_ms) / F.col("crawl_delay_ms")), F.lit(1)
                ).cast("long").alias("budget"),
            )
        sched = politeness_pop(pending, cfg.host_budget, host_budgets).cache()

        # crawl-order commit: wave-0 index urls, then volume urls, then
        # persons — each batch ordered by (priority DESC, url ASC).
        # Batch sizes come from the committed layer's parquet footers
        # (manifest metadata), not separate count() jobs.
        n_sched = 0
        for batch in order_batches + [sched.select("url", "priority")]:
            seq_df = global_sequence(
                batch.select("url", "priority"), self.next_seq, [F.desc("priority"), F.asc("url")]
            )
            rows = seq_df.select(F.lit(w).alias("wave"), "seq", "url")
            # empty batches (steady-state tail waves) commit nothing:
            # crawl_order is append-only and never compacted, so an
            # empty layer per wave would grow the manifest unboundedly
            n_sched = lake.append_nonempty("crawl_order", rows)
            self.next_seq += n_sched

        # ---- fetch (S1/S2: join simulates HTTP against the page store) ---
        # Plan per batch size (_fetch_join): broadcast keys below
        # BUCKETED_FETCH_ROWS scheduled urls, bucket-aligned SMJ at or
        # above it. Payload bytes never shuffle either way.
        # n_succ is NOT counted here: success rows become exactly the
        # status='expanded' rows of this wave's frontier delta (the
        # scheduled batch is the only source of 'expanded' in the
        # delta), so the count rides the frontier commit's existing
        # Observation below — one fewer action per wave.
        fetched = self._fetch_join(sched, n_sched).cache()
        ok = F.col("person").isNotNull()
        succ = fetched.filter(ok)

        # frontier transition: merged fetch+expand (oracle.py) — success
        # → 'expanded'; failure retries until max_attempts (O3).
        # NOT committed yet: the status delta and this wave's
        # discovered pids land in ONE MoR layer at the end of the
        # wave (key-disjoint by construction), halving frontier
        # commits and skipping a mid-wave resolution read.
        updated = fetched.select(
            "pid", "url", "host",
            F.when(ok, F.lit("expanded"))
            .when(F.col("attempts") + 1 >= cfg.max_attempts, F.lit("failed"))
            .otherwise(F.lit("pending"))
            .alias("status"),
            "depth", "priority",
            (F.col("attempts") + 1).alias("attempts"),
            "wave_added",
        )

        # ---- emission of last wave's pubs (graph.py:139-152) -------------
        # pending count comes from last wave's commit manifest (no job);
        # with an output filter (F2) the emitted subset must be counted
        pend = lake.read("pending_pubs")
        n_emit = lake.n_rows("pending_pubs")
        has_out_filter = cfg.output_year is not None or bool(cfg.output_rules)
        if n_emit and has_out_filter:
            pend = output_filter(pend, cfg.output_year, cfg.output_rules)
            n_emit = pend.count()
        if n_emit:
            # 'fetch EVER succeeded' = committed expanded set ∪ this
            # wave's successes (the delta isn't committed yet)
            expanded_pids = (
                frontier.filter(F.col("status") == "expanded")
                .select("pid")
                .unionByName(succ.select("pid"))
                .distinct()
            )
            expl = (
                pend.select("key", F.explode("pub.authors").alias("a"))
                .select("key", F.col("a.pid").alias("pid"))
                .dropDuplicates(["key", "pid"])  # authors_id is a set (graph.py:143-148)
            )
            ok_auth = expl.join(expanded_pids, "pid", "left_semi").cache()
            emitted = lake.read("emitted_persons")
            new_nodes = ok_auth.select("pid").distinct().join(emitted.select("pid"), "pid", "left_anti")
            person_rec = self.person_pages.select(
                F.col("person.pid").alias("pid"),
                F.col("person.name").alias("name"),
                F.col("person.affiliations").alias("affiliations"),
                F.transform("person.pubs", lambda p: p["key"]).alias("pub_keys"),
            )
            node_rows = new_nodes.join(person_rec, "pid", "inner")
            lake.append("nodes", node_rows.select(*[f.name for f in schemas.NODES]))
            lake.append("emitted_persons", new_nodes.select("pid", F.lit(w).alias("wave")))
            # J5: canonical-ordered pair self-join per pub
            a, b = ok_auth.alias("a"), ok_auth.alias("b")
            edge_rows = a.join(b, (F.col("a.key") == F.col("b.key")) & (F.col("a.pid") < F.col("b.pid"))).select(
                F.col("a.pid").alias("src"), F.col("b.pid").alias("dst"), F.col("a.key").alias("pub_key")
            )
            lake.append("edges", edge_rows)
            pub_rows = pend.select(*pub_record_cols("pub", "ccf"), F.lit(True).alias("selected"))
            lake.append("publications", pub_rows.select(*[f.name for f in schemas.PUBLICATIONS_OUT]))
            ok_auth.unpersist()

        # ---- expansion (J2) + filter (P1/P2) + seen dedup (J3) ------------
        pubs_expl = fetched.filter(ok).select(
            F.col("pid").alias("expander"), F.col("depth").alias("exp_depth"), F.explode("person.pubs").alias("pub")
        )
        filt = crawler_filter(pubs_expl, cfg.year, cfg.rules).withColumn("key", F.col("pub.key"))
        if cfg.use_bloom:
            # bloom fast path vs the committed seen set; this wave's
            # journal keys (wave 0 only, not yet in the bank) get an
            # exact (tiny) anti-join on top
            person_new = self.bloom.prefiltered_new(filt, seen.select("key"))
            if journal_new is not None:
                person_new = person_new.join(journal_new.select("key"), "key", "left_anti")
        else:
            seen_now = seen.select("key")
            if journal_new is not None:
                seen_now = seen_now.unionByName(journal_new.select("key"))
            person_new = dedup_new_pubs(filt, seen_now)
        # canonical discoverer = min expander pid per key (oracle.py)
        person_new = (
            person_new.groupBy("key")
            .agg(F.min(F.struct("expander", "exp_depth", "pub")).alias("d"))
            .select("key", F.col("d.pub").alias("pub"), (F.col("d.exp_depth") + 1).alias("base_depth"))
        )
        new_pubs = person_new if journal_new is None else journal_new.unionByName(person_new)
        new_pubs = with_ccf(new_pubs, ccf_rank, F.substring_index(F.col("pub.url"), "/", 3))
        lake.overwrite("pending_pubs", new_pubs.select(*PENDING_PUBS.fieldNames()))
        n_new_pubs = lake.layer_rows("pending_pubs")  # from the commit manifest
        lake.append("seen_pubs", lake.read("pending_pubs").select("key", F.lit(w).alias("wave")))
        if cfg.use_bloom:
            # keep the bank exactly in sync with the committed seen set
            self.bloom.add(lake.read("pending_pubs").select("key"))

        # ---- discovery (J1/J4): new pubs → unseen author pids ------------
        # anti-join against the PRE-delta frontier: the pending delta
        # only rewrites existing pids, so the pid set is identical
        disc = discover_authors(lake.read("pending_pubs"), frontier)
        disc_rows = disc.select(
            "pid",
            F.concat(F.lit("pid/"), F.col("pid")).alias("url"),
            host_expr(F.col("pid")).alias("host"),
            F.lit("pending").alias("status"),
            F.col("depth").cast("int").alias("depth"),
            F.col("priority").cast("long").alias("priority"),
            F.lit(0).alias("attempts"),
            F.lit(w).alias("wave_added"),
        )
        if cfg.use_robots:
            disc_rows = robots_status(disc_rows, robots)
        # ONE frontier commit per wave: status updates ∪ discoveries
        # (key-disjoint) as a single MoR delta layer
        fcols = [f.name for f in schemas.FRONTIER]
        delta = updated.select(*fcols).unionByName(disc_rows.select(*fcols))
        # remain_pending is tracked incrementally instead of a full
        # MoR frontier resolve+count job per wave:
        #   remain = remain_prev - n_sched + (pending rows in delta)
        # Exact by construction: politeness_pop pops only from the
        # remain set (same predicate), the delta is key-disjoint from
        # undisturbed rows, and every pending delta row has
        # attempts < max (retry status is only assigned below max;
        # discoveries start at attempts=0). The delta-side count is
        # an Observation on the commit's own write job — no extra
        # action.
        obs = Observation()
        delta = delta.observe(
            obs,
            F.sum(F.when(F.col("status") == "pending", 1).otherwise(0)).alias("n_pend"),
            F.sum(F.when(F.col("status") == "expanded", 1).otherwise(0)).alias("n_succ"),
        )
        lake.merge_upsert("frontier", delta, ["pid"], schemas.FRONTIER)
        n_disc = lake.layer_rows("frontier") - n_sched  # from the commit manifest

        if self._remain is None:
            # fresh engine or resume: one full count, then incremental
            remain = (
                lake.read("frontier")
                .filter((F.col("status") == "pending") & (F.col("attempts") < cfg.max_attempts))
                .count()
            )
        else:
            remain = self._remain - n_sched + int(obs.get["n_pend"] or 0)
        self._remain = remain
        n_succ = int(obs.get["n_succ"] or 0)
        n_fail = n_sched - n_succ
        m = {
            "wave": w, "scheduled": n_sched, "fetch_succ": n_succ, "fetch_fail": n_fail,
            "pubs_new": n_new_pubs, "authors_new": n_disc, "remain_pending": remain, "emitted": n_emit,
        }
        lake.append_local("metrics", [m], schemas.METRICS)  # driver-side, no Spark job
        sched.unpersist()
        fetched.unpersist()
        for df in self._fetch_scratch:
            df.unpersist()
        self._fetch_scratch.clear()
        self.wave = w + 1
        if remain == 0 and n_new_pubs == 0:
            self.done = True
        if self.wave % LAYER_UPKEEP_EVERY == 0:
            # result-identical; the size-tier merge is LSM-amortized
            for t, (_, keys) in WAVE_TABLES.items():
                if keys:
                    lake.compact(t)
                else:
                    lake.merge_small_layers(t, APPEND_LAYER_BOUND)
        self._save_state()
        return m

    # ---- driver loop (bfs_to_end, __main__.py:43-53) -----------------------
    def run_to_end(self) -> list[dict]:
        out = []
        while not self.done and (self.cfg.limit < 0 or self.wave < self.cfg.limit):
            out.append(self.run_wave())
        self.finalize()
        return out

    def finalize(self) -> None:
        """Non-selected pubs: every pub on every summarized person's
        page (dict_summary update(pub), summarizer/networkx.py:84-86)."""
        lake = self.lake
        ccf_rank = lake.read_or_empty("ccf_rank", schemas.CCF_RANK)
        nodes = lake.read("nodes").select("pid")
        person_pubs = (
            self.person_pages
            .select(F.col("person.pid").alias("pid"), F.explode("person.pubs").alias("pub"))
            .join(nodes, "pid", "left_semi")
            .select(F.col("pub.key").alias("key"), "pub")
            .dropDuplicates(["key"])
            .join(lake.read("publications").select("key"), "key", "left_anti")
        )
        person_pubs = with_ccf(person_pubs, ccf_rank, F.substring_index(F.col("pub.url"), "/", 3))
        rows = person_pubs.select(*pub_record_cols("pub", "ccf"), F.lit(False).alias("selected"))
        lake.append("publications", rows.select(*[f.name for f in schemas.PUBLICATIONS_OUT]))
        # release the page-projection cache: a later pages refresh
        # (freshness.refresh_pages) must not serve stale payloads, and
        # repeated engine constructions must not accumulate blocks
        if self._person_pages is not None:
            self._person_pages.unpersist()
            self._person_pages = None
        self._save_state()
