"""Crawl-engine benchmark: one workload, one Spark session on local[4].

    python3 perfbench/run.py --workload toy_crawl --seed 1 --seconds 10 --trace 0

Builds the workload's input lake from --seed, runs one untimed warm-up
crawl of one wave, then repeats set-up + crawl + finalize until
--seconds have passed (at least once), checking every repetition's
output. Prints
`#` lines for people and, as the last line, one JSON object with the
end-to-end metrics (--trace 0) or the per-layer metrics of a traced
run (--trace 1). See README.md in this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")
MIN_SETUPS = 3

END_TO_END_UNITS = {
    "setup_s": "s", "urls_per_s": "url/s", "wave_s_p50": "s", "crawl_s": "s", "state_mb": "MB",
}


def git_stamp() -> dict:
    """SHA of the measured tree; refuses (SystemExit) when the package
    or tools/ have uncommitted edits. A checkout that is not a git
    repository is measured with no SHA."""
    from benchguard import refuse_if_dirty

    try:
        return refuse_if_dirty()
    except (subprocess.CalledProcessError, FileNotFoundError):
        return {"git_sha": None, "git_dirty": []}


def start_spark(trace: bool):
    from dblp_crawler_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.local.dir": os.path.join(WORK, "local"),
        "spark.driver.memory": "2g",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(WORK, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark("perfbench", master="local[4]", extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def measure(spark, args, tracer) -> dict:
    from workloads import WORKLOADS, CrawlEngine, fresh_root, run_rep, state_bytes, state_lake

    input_root = os.path.join(WORK, "input")
    wl = WORKLOADS[args.workload](spark, input_root, args.seed)
    run_rep(spark, wl, state_lake(spark, input_root, fresh_root(WORK, "warmup")), 1, crash=False, check=False)
    shutil.rmtree(os.path.join(WORK, "warmup"))
    if tracer:
        tracer.install()
        tracer.reset_heap_peak()

    reps, setups, attempted, failed = [], [], 0, 0
    deadline = time.perf_counter() + args.seconds
    while not attempted or time.perf_counter() < deadline:
        root = fresh_root(WORK, "rep")
        try:
            rep = run_rep(spark, wl, state_lake(spark, input_root, root), wl.limit,
                          crash=hasattr(wl, "crash_wave"), check=True)
        except Exception:  # one failed repetition is reported, not fatal
            traceback.print_exc()
            attempted, failed = attempted + 1, failed + 1
            continue
        reps.append(rep)
        setups.append(rep.setup_s)
        attempted, failed = attempted + rep.ops, failed + rep.failed
    written_mb = sum(r.state_mb for r in reps)
    while len(setups) < MIN_SETUPS:
        lake = state_lake(spark, input_root, fresh_root(WORK, "setup"))
        t0 = time.perf_counter()
        CrawlEngine(spark, lake, wl.config()).initialize()
        setups.append(time.perf_counter() - t0)
        written_mb += state_bytes(lake.root) / 2**20
    shutil.rmtree(os.path.join(WORK, "rep"), ignore_errors=True)
    return {"reps": reps, "setups": setups, "written_mb": written_mb, "attempted": attempted, "failed": failed}


def end_to_end(res: dict) -> dict:
    reps = res["reps"]
    waves = [w for r in reps for w in r.wave_s]
    return {
        "setup_s": statistics.median(res["setups"]),
        "urls_per_s": sum(r.urls for r in reps) / sum(waves),
        "wave_s_p50": statistics.median(waves),
        "crawl_s": statistics.median(r.crawl_s for r in reps),
        "state_mb": statistics.median(r.state_mb for r in reps),
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["toy_crawl", "deep_frontier"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "dblp_crawler_spark")):
        print("perfbench: no dblp_crawler_spark package next to perfbench/", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]
    git = git_stamp()

    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("tmp", "local", "events"):
        os.makedirs(os.path.join(WORK, d))
    # the python workers (bloom bank's applyInPandas) import the package
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # every JVM (launcher and driver) keeps its temp files in WORK too
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")

    spark = start_spark(bool(args.trace))
    tracer = None
    try:
        if args.trace:
            from spans import Tracer

            tracer = Tracer(spark)
        res = measure(spark, args, tracer)
        heap_mb = tracer.heap_peak_mb() if tracer else None
    finally:
        if tracer:
            tracer.uninstall()
        stop_spark(spark)

    reps = res["reps"]
    print(f"# workload={args.workload} seed={args.seed} git_sha={git['git_sha']} "
          f"reps={len(reps)} waves={sum(len(r.wave_s) for r in reps)} "
          f"ops_attempted={res['attempted']} ops_failed={res['failed']} "
          f"ops_failed_ratio={res['failed'] / max(res['attempted'], 1):.4f}")
    if not reps:
        print("perfbench: every repetition failed", file=sys.stderr)
        return 1
    e2e = end_to_end(res)
    for k, v in e2e.items():
        print(f"# {k} = {v:.6g} {END_TO_END_UNITS[k]}")
    if args.trace:
        from spans import UNITS, layer_metrics, read_event_log

        jobs, stages = read_event_log(os.path.join(WORK, "events"))
        values = layer_metrics(tracer.spans, jobs, stages, heap_mb, res["written_mb"])
        os.makedirs(OUT, exist_ok=True)
        tracer.dump(os.path.join(OUT, f"trace-{args.workload}-seed{args.seed}.json"),
                    {"workload": args.workload, "seed": args.seed, **git, "end_to_end": e2e, "layers": values})
        metrics = {k: {"value": values[k], "unit": u} for k, u in UNITS.items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in e2e.items()}
    shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
