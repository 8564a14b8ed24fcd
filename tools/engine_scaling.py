"""Engine-level large-wave scaling pair (VERDICT r4 item 1 evidence).

Round 4 measured the broadcast fetch join dying at north-rule wave
sizes (0.549 eff at a 2M-row full-frontier wave) THROUGH THE BENCH
TOOL, and fixed it with the bucketed store layout — but the fix was
reachable only from tools/throughput_job.py. Round 5 wired it into
the engine, which now picks it by itself for any wave scheduling at
least plans.crawl.BUCKETED_FETCH_ROWS (1M) urls, so the default
N = 2M wave runs the bucketed plan (a wave below it broadcasts; the
broadcast-at-scale A/B is tools/throughput_job.py --fetch). This tool
produces the evidence THROUGH THE ENGINE: a full `CrawlEngine
.run_wave()` — politeness pop → crawl-order sequencing → fetch join
→ expansion → filter → seen dedup → discovery → MoR commits — over
an N-row full-frontier wave, timed at two parallelism levels on the
same prepared lake.

Phases (same discipline as tools/throughput_job.py):

  --prepare  build the lake once: N seed persons (85% on the hot
             host), each person page carrying 2 pubs x 2 authors
             (so expansion/discovery do real work), engine
             initialized, bucketed page layout built (when the wave
             reads it: N ≥ BUCKETED_FETCH_ROWS), and the
             post-initialize state manifest snapshotted to
             state0.json;
  --measure  per run: restore state0.json + CrawlEngine.resume
             (rolls every state table back — untimed), then time ONE
             run_wave(). Prints one JSON line with urls/sec.

Orchestrate the pair with --pair (spark-submit --py-files at
local[4] and local[16], reusing tools/bench_scaling.py's submit
helper); writes .bench/engine_scaling.json.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession, functions as F  # noqa: E402

N_BUCKETS = 128


def _spark(master: str | None, shuffle: int | None, workdir: str) -> SparkSession:
    from dblp_crawler_spark.session import get_spark

    return get_spark(
        app_name="engine-scaling",
        master=master,
        shuffle_partitions=shuffle,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
            # fixed-shape wave DAG (see CrawlEngine.run_wave)
            "spark.sql.adaptive.enabled": "false",
            # REST stage telemetry is read after the timed runs
            "spark.ui.enabled": "true",
        },
    )


def prepare(spark: SparkSession, workdir: str, n: int) -> None:
    from dblp_crawler_spark import schemas
    from dblp_crawler_spark.lakehouse import Lakehouse
    from dblp_crawler_spark.operators.frontier import host_expr
    from dblp_crawler_spark.plans.crawl import BUCKETED_FETCH_ROWS, CrawlConfig, CrawlEngine

    lake = Lakehouse(spark, os.path.join(workdir, "lake"))
    base = spark.range(n).select(
        "id", F.format_string("p_%09d", F.col("id")).alias("pid")
    )
    lake.overwrite(
        "seeds", base.select(F.lit("pid").alias("seed_type"), F.col("pid").alias("value"))
    )
    # person pages: 2 pubs x 2 authors each; author pids are fresh
    # (q_ prefix) so wave-0 discovery does real anti-join + merge work
    author = lambda expr: F.struct(  # noqa: E731
        F.format_string("q_%09d", expr % n).alias("pid"),
        F.format_string("Author %09d", expr % n).alias("name"),
        F.lit(None).cast("string").alias("orcid"),
    )
    pub = lambda j: F.struct(  # noqa: E731
        F.format_string(f"key_%09d_{j}", F.col("id")).alias("key"),
        F.lit("article").alias("type"),
        F.format_string(f"frontier scaling study %09d {j}", F.col("id")).alias("title"),
        F.lit(2015).cast("int").alias("year"),
        F.lit("2024-01-01").alias("mdate"),
        F.format_string("db/journals/j%02d/x", F.col("id") % 40).alias("url"),
        F.array().cast("array<string>").alias("ee"),
        F.format_string("Journal %02d", F.col("id") % 40).alias("journal"),
        F.array(author(F.col("id") * 2 + j), author(F.col("id") * 3 + j + 1)).alias("authors"),
        F.lit(None).cast("string").alias("image_id"),
    )
    pages = base.select(
        F.concat(F.lit("pid/"), "pid").alias("url"),
        host_expr(F.col("pid")).alias("host"),
        F.lit("person").alias("kind"),
        F.lit(None).cast("timestamp").alias("fetched_at"),
        F.struct(
            F.col("pid"),
            F.format_string("Person %09d", F.col("id")).alias("name"),
            F.array().cast("array<string>").alias("affiliations"),
            F.array(pub(0), pub(1)).alias("pubs"),
        ).alias("person"),
        F.lit(None).cast(schemas.JOURNAL_LIST_PAYLOAD).alias("journal_list"),
        F.lit(None).cast(schemas.JOURNAL_PAYLOAD).alias("journal"),
    ).repartition(max(32, n // 50_000))
    lake.overwrite("pages", pages)
    eng = CrawlEngine(spark, lake, CrawlConfig(
        year=2000, rules=[], host_budget=None, use_robots=False, fetch_buckets=N_BUCKETS,
    ))
    eng.initialize()
    if n >= BUCKETED_FETCH_ROWS:  # the wave schedules all n seeds
        eng.ensure_bucketed_pages()  # one-time layout build, untimed
    shutil.copy(os.path.join(lake.root, "crawl_state.json"),
                os.path.join(workdir, "state0.json"))


def measure(spark: SparkSession, workdir: str, runs: int, warmup: bool) -> dict:
    from dblp_crawler_spark.lakehouse import Lakehouse
    from dblp_crawler_spark.plans.crawl import CrawlEngine

    lake = Lakehouse(spark, os.path.join(workdir, "lake"))

    def fresh_engine():
        shutil.copy(os.path.join(workdir, "state0.json"),
                    os.path.join(lake.root, "crawl_state.json"))
        return CrawlEngine.resume(spark, lake)  # rolls tables back

    if warmup:
        fresh_engine().run_wave()  # untimed: workers, codegen, page cache
    times, scheduled = [], None
    for i in range(runs):
        eng = fresh_engine()
        t0 = time.monotonic()
        m = eng.run_wave()
        times.append(round(time.monotonic() - t0, 3))
        scheduled = m["scheduled"]
        assert m["fetch_succ"] == m["scheduled"], m  # every url resolves
        print(f"# run {i}: {times[-1]}s wave={m['scheduled']} urls", flush=True)
    best = min(times)
    srt = sorted(times)
    med = (srt[len(srt) // 2] + srt[(len(srt) - 1) // 2]) / 2
    from telemetry import stage_telemetry

    return {
        "master": spark.sparkContext.master,
        "n_scheduled": scheduled,
        "seconds": best,
        "seconds_median": round(med, 3),
        "all_runs": times,
        "urls_per_sec": round(scheduled / best, 1),
        "urls_per_sec_median": round(scheduled / med, 1),
        # r4 verdict item 8: shuffle/spill/skew per heavy stage — the
        # baseline the next 10x compares against
        "stages": stage_telemetry(spark, top=15),
    }


def run_pair(n: int, workdir: str, masters: tuple[str, str], runs: int) -> dict:
    """spark-submit the prepare once and the measure at both levels
    (fresh JVM per level, the north_rule deployment shape)."""
    from bench_scaling import build_pkg_zip, spark_submit

    os.makedirs(workdir, exist_ok=True)
    pyz = build_pkg_zip(os.path.join(workdir, "dblp_crawler_spark.zip"))
    import bench_scaling as BS

    BS.JOB = os.path.abspath(__file__)  # submit THIS job, not throughput_job
    indir = os.path.join(workdir, f"engine_n{n}")
    if not os.path.exists(os.path.join(indir, "state0.json")):
        spark_submit(masters[1], pyz, ["--prepare", "--dir", indir, "--n", str(n)])
    res = {}
    for m in masters:
        res[m] = spark_submit(m, pyz, ["--measure", "--dir", indir, "--runs", str(runs)])
    lo, hi = res[masters[0]], res[masters[1]]
    eff_best = (hi["urls_per_sec"] / lo["urls_per_sec"]) / 4.0
    eff_med = (hi["urls_per_sec_median"] / lo["urls_per_sec_median"]) / 4.0
    return {
        "n_urls": n,
        "through": "CrawlEngine.run_wave",
        "low": lo,
        "high": hi,
        "scaling_efficiency": round(eff_best, 3),
        "scaling_efficiency_median": round(eff_med, 3),
        "passes_north_rule": eff_best >= 0.8,
        "passes_north_rule_median": eff_med >= 0.8,
    }


def run_pair_interleaved(n: int, workdir: str, masters: tuple[str, str], rounds: int) -> dict:
    """ABAB protocol (same discipline as bench_scaling): alternate
    N / 4N submits and pair each round's adjacent timings into a
    per-round efficiency — host drift hits both levels of a round
    almost equally, so the ratio cancels it. Fresh JVM per submit,
    each with its own untimed warm-up wave."""
    from bench_scaling import build_pkg_zip, spark_submit

    os.makedirs(workdir, exist_ok=True)
    pyz = build_pkg_zip(os.path.join(workdir, "dblp_crawler_spark.zip"))
    import bench_scaling as BS

    BS.JOB = os.path.abspath(__file__)
    indir = os.path.join(workdir, f"engine_n{n}")
    if not os.path.exists(os.path.join(indir, "state0.json")):
        spark_submit(masters[1], pyz, ["--prepare", "--dir", indir, "--n", str(n)])
    pairs, lo_runs, hi_runs = [], [], []
    for _ in range(rounds):
        lo = spark_submit(masters[0], pyz, ["--measure", "--dir", indir, "--runs", "1"])
        hi = spark_submit(masters[1], pyz, ["--measure", "--dir", indir, "--runs", "1"])
        lo_runs.append(lo["seconds"])
        hi_runs.append(hi["seconds"])
        pairs.append((hi["urls_per_sec"] / lo["urls_per_sec"]) / 4.0)
        print(f"# round: lo {lo['seconds']}s hi {hi['seconds']}s eff {pairs[-1]:.3f}", flush=True)
    srt = sorted(pairs)
    med = (srt[len(srt) // 2] + srt[(len(srt) - 1) // 2]) / 2
    return {
        "n_urls": n,
        "through": "CrawlEngine.run_wave",
        "protocol": "interleaved",
        "masters": list(masters),
        "low_runs_s": lo_runs,
        "high_runs_s": hi_runs,
        "per_round_efficiency": [round(p, 3) for p in pairs],
        "scaling_efficiency_best": round(max(pairs), 3),
        "scaling_efficiency_median": round(med, 3),
        "passes_north_rule": max(pairs) >= 0.8,
        "passes_north_rule_median": med >= 0.8,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--prepare", action="store_true")
    ap.add_argument("--measure", action="store_true")
    ap.add_argument("--pair", action="store_true")
    ap.add_argument("--interleave", action="store_true",
                    help="ABAB per-round efficiency pairs (drift-robust)")
    ap.add_argument("--dir", default="/tmp/spark_graft_engine_scaling")
    ap.add_argument("--n", type=int, default=2_000_000)
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--master", default=None)
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    ap.add_argument("--no-warmup", action="store_true")
    ap.add_argument("--allow-dirty", action="store_true")
    args = ap.parse_args()
    if args.pair or args.interleave:
        from benchguard import refuse_if_dirty

        git = refuse_if_dirty(allow=args.allow_dirty)
        if args.interleave:
            out = run_pair_interleaved(args.n, args.dir, ("local[4]", "local[16]"), args.runs)
            name = "engine_scaling_interleaved.json"
        else:
            out = run_pair(args.n, args.dir, ("local[4]", "local[16]"), args.runs)
            name = "engine_scaling.json"
        out.update(git)
        cache = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".bench")
        os.makedirs(cache, exist_ok=True)
        with open(os.path.join(cache, name), "w") as f:
            json.dump(out, f, indent=1)
        print(json.dumps(out))
        return
    spark = _spark(args.master, args.shuffle_partitions, args.dir)
    try:
        if args.prepare:
            prepare(spark, args.dir, args.n)
            print(json.dumps({"prepared": args.n, "dir": args.dir}))
        if args.measure:
            print(json.dumps(measure(spark, args.dir, args.runs, warmup=not args.no_warmup)))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
