"""Outside-in spans for the crawl-engine benchmark's traced run.

`Tracer.install` replaces public methods of Lakehouse, CrawlEngine
and BloomBank, and the operator names plans.crawl binds at import,
with wrappers that time each call. The package itself is untouched,
and `uninstall` puts every original back.

Each span sets a Spark job group named after itself and restores its
parent's group on exit, so every Spark job is charged to the
innermost span that was open when it was submitted. Job and task
timings come from the session's event log, read after the session
stops (every task end of every stage attempt is summed). Spans are
kept in memory and written out at the end.

The operators are lazy: a span around politeness_pop, crawler_filter
and the other plan builders times planning only, and the execution
they describe is charged to the span that forces it, usually a
lakehouse commit. global_sequence is the exception: its range
partitioner samples its input eagerly, which executes the politeness
pop over the whole pending frontier inside that span.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import statistics
import time
from collections import defaultdict

from workloads import dir_bytes

COMMIT_METHODS = ("overwrite", "append", "append_nonempty", "append_local", "merge_upsert", "create_empty")
COMMIT_TABLES = (
    "crawl_order", "pending_pubs", "seen_pubs", "frontier", "nodes",
    "edges", "publications", "emitted_persons", "seen_filter",
)
PLAN_OPERATORS = {
    "politeness_pop": "scheduler.politeness_pop",
    "global_sequence": "scheduler.global_sequence",
    "robots_status": "scheduler.robots_status",
    "crawler_filter": "frontier.crawler_filter",
    "dedup_new_pubs": "frontier.dedup_new_pubs",
    "discover_authors": "frontier.discover_authors",
    "with_ccf": "frontier.with_ccf",
    "output_filter": "frontier.output_filter",
}
FRONTIER_PLAN = ("frontier.crawler_filter", "frontier.dedup_new_pubs", "frontier.discover_authors", "frontier.with_ccf")
MB = 2**20


class Tracer:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._undo: list[tuple] = []

    # ---- spans -------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        if parent is not None and self.spans[parent]["name"] in (name, "lakehouse.compact"):
            # a commit re-entering itself (append -> overwrite) or made
            # by a compaction is part of the span already open
            yield self.spans[parent]
            return
        rec = {"id": len(self.spans), "name": name, "parent": parent,
               "t0": time.time(), "t1": None, "ok": False}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self.sc.setJobGroup(f"span-{rec['id']}", name)
        try:
            yield rec
            rec["ok"] = True
        finally:
            rec["t1"] = time.time()
            self._stack.pop()
            if parent is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            else:
                self.sc.setJobGroup(f"span-{parent}", self.spans[parent]["name"])

    def _wrap(self, owner, attr: str, name, before=None, after=None) -> None:
        raw = vars(owner)[attr]
        fn = raw.__func__ if isinstance(raw, classmethod) else raw
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name(*args, **kwargs) if callable(name) else name) as rec:
                ctx = before(*args, **kwargs) if before else None
                out = fn(*args, **kwargs)
                if after:
                    rec.update(after(ctx, *args, **kwargs))
                return out

        setattr(owner, attr, classmethod(traced) if isinstance(raw, classmethod) else traced)
        self._undo.append((owner, attr, raw))

    def install(self) -> None:
        from dblp_crawler_spark.lakehouse import Lakehouse
        from dblp_crawler_spark.operators.bloom import BloomBank
        from dblp_crawler_spark.plans import crawl

        def table_dir(lake, table):
            return os.path.join(lake.root, table)

        def before_write(lake, table, *a, **k):
            return lake.current_snapshot(table), dir_bytes(table_dir(lake, table))

        def after_commit(ctx, lake, table, *a, **k):
            head0, bytes0 = ctx
            moved = lake.current_snapshot(table) != head0 and lake.manifest(table)["layers"]
            return {"table": table, "rows": lake.layer_rows(table) if moved else 0,
                    "bytes": dir_bytes(table_dir(lake, table)) - bytes0}

        def after_compact(ctx, lake, table, *a, **k):
            return {"table": table, "bytes": dir_bytes(table_dir(lake, table)) - ctx[1]}

        def before_read(lake, table, snapshot=None, *a, **k):
            return len(lake.manifest(table, snapshot)["layers"]) if lake.exists(table) else 0

        for m in COMMIT_METHODS:
            self._wrap(Lakehouse, m, lambda lake, table, *a, **k: f"lakehouse.commit.{table}",
                       before_write, after_commit)
        for m in ("compact", "merge_small_layers"):
            self._wrap(Lakehouse, m, "lakehouse.compact", before_write, after_compact)
        self._wrap(Lakehouse, "read", lambda lake, table, *a, **k: f"lakehouse.read.{table}",
                   before_read, lambda layers, *a, **k: {"layers": layers})
        self._wrap(Lakehouse, "rollback", "lakehouse.rollback")
        for m in ("initialize", "run_wave", "finalize", "resume"):
            self._wrap(crawl.CrawlEngine, m, f"crawl.{m}")
        for m in ("add", "prefiltered_new", "maybe_seen"):
            self._wrap(BloomBank, m, f"seen.{m}")
        for attr, name in PLAN_OPERATORS.items():
            self._wrap(crawl, attr, name)

    def uninstall(self) -> None:
        for owner, attr, raw in reversed(self._undo):
            setattr(owner, attr, raw)
        self._undo.clear()

    # ---- JVM heap ----------------------------------------------------------
    def _heap_pools(self):
        mf = self.sc._jvm.java.lang.management.ManagementFactory
        return [p for p in mf.getMemoryPoolMXBeans() if p.getType().name() == "HEAP"]

    def reset_heap_peak(self) -> None:
        for p in self._heap_pools():
            p.resetPeakUsage()

    def heap_peak_mb(self) -> float:
        """Sum of the heap pools' peak usage since reset_heap_peak."""
        return sum(p.getPeakUsage().getUsed() for p in self._heap_pools()) / MB

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({**extra, "spans": self.spans}, f)


# ---- event log -------------------------------------------------------------
def read_event_log(event_dir: str) -> tuple[dict, dict]:
    """(jobs, stage_totals) from the stopped session's event log:
    jobs[id] = {group, t0, t1, stages}; stage_totals[stage id] sums
    executor run time, shuffle bytes written and spill over every
    task end of every attempt of that stage."""
    jobs: dict = {}
    stages: dict = defaultdict(lambda: defaultdict(float))
    (path,) = glob.glob(os.path.join(event_dir, "*"))
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = {
                    "group": (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                    "t0": ev["Submission Time"] / 1000, "t1": None, "stages": ev["Stage IDs"],
                }
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["t1"] = ev["Completion Time"] / 1000
            elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
                tm, st = ev["Task Metrics"], stages[ev["Stage ID"]]
                st["executor_s"] += tm["Executor Run Time"] / 1000
                st["shuffle_mb"] += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"] / MB
                st["spill_mb"] += (tm["Memory Bytes Spilled"] + tm["Disk Bytes Spilled"]) / MB
    return jobs, stages


def _covered(intervals: list, lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of `intervals`."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def layer_metrics(spans: list, jobs: dict, stages: dict, heap_mb: float, state_mb: float) -> dict:
    """Per-layer metrics. Spans inside completed waves are reported
    per wave (sum over the run / number of waves); initialize, resume
    and finalize per call."""
    by_id = {s["id"]: s for s in spans}
    wave_of: dict = {}
    for s in spans:  # parents precede children
        if s["name"] == "crawl.run_wave":
            wave_of[s["id"]] = s["id"] if s["ok"] else None
        else:
            wave_of[s["id"]] = wave_of.get(s["parent"])
    waves = [s for s in spans if s["name"] == "crawl.run_wave" and s["ok"]]
    nw = max(len(waves), 1)

    # jobs -> innermost span -> every ancestor (inclusive counts)
    incl_jobs: dict = defaultdict(int)
    wave_jobs: dict = defaultdict(list)
    stage_owner: dict = {}
    for jid in sorted(jobs):
        job = jobs[jid]
        for st in job["stages"]:
            stage_owner.setdefault(st, jid)
        g = job["group"]
        sid = int(g[5:]) if g and g.startswith("span-") and int(g[5:]) in by_id else None
        job["span"] = sid
        while sid is not None:
            incl_jobs[sid] += 1
            sid = by_id[sid]["parent"]
        if job["span"] is not None and wave_of.get(job["span"]) is not None and job["t1"]:
            wave_jobs[wave_of[job["span"]]].append((job["t0"], job["t1"]))
    spark_tot: dict = defaultdict(float)
    for st, tot in stages.items():
        jid = stage_owner.get(st)
        if jid is not None and jobs[jid]["span"] is not None and wave_of.get(jobs[jid]["span"]) is not None:
            for k, v in tot.items():
                spark_tot[k] += v

    def dur(s):
        return s["t1"] - s["t0"]

    def in_wave(name):
        return [s for s in spans if s["name"] == name and wave_of.get(s["id"]) is not None]

    def per_wave(name, key=None):
        sel = in_wave(name)
        return sum(dur(s) if key is None else key(s) for s in sel) / nw

    def per_call(name):
        sel = [s for s in spans if s["name"] == name and s["ok"]]
        return statistics.mean(dur(s) for s in sel) if sel else 0.0

    children: dict = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append((s["t0"], s["t1"]))
    resumes = [s for s in spans if s["name"] == "crawl.resume" and s["ok"]]
    frontier_reads = in_wave("lakehouse.read.frontier")
    out = {
        "crawl.waves": len(waves),
        "crawl.initialize.s": per_call("crawl.initialize"),
        "crawl.run_wave.s": per_call("crawl.run_wave"),
        "crawl.run_wave.self_s": sum(dur(w) - _covered(children[w["id"]], w["t0"], w["t1"]) for w in waves) / nw,
        "crawl.resume.s": per_call("crawl.resume"),
        "crawl.finalize.s": per_call("crawl.finalize"),
        "spark.jobs_per_wave": sum(incl_jobs[w["id"]] for w in waves) / nw,
        "spark.driver_gap_s": sum(dur(w) - _covered(wave_jobs[w["id"]], w["t0"], w["t1"]) for w in waves) / nw,
        "spark.executor_s": spark_tot["executor_s"] / nw,
        "spark.shuffle_mb": spark_tot["shuffle_mb"] / nw,
        "spark.spill_mb": spark_tot["spill_mb"] / nw,
        "spark.jvm_heap_peak_mb": heap_mb,
    }
    for t in COMMIT_TABLES:
        name = f"lakehouse.commit.{t}"
        out[f"{name}.s"] = per_wave(name)
        out[f"{name}.jobs"] = per_wave(name, lambda s: incl_jobs[s["id"]])
        out[f"{name}.rows"] = per_wave(name, lambda s: s.get("rows", 0))
        out[f"{name}.mb"] = per_wave(name, lambda s: s.get("bytes", 0) / MB)
    committed = sum(s.get("bytes", 0) for s in spans if s["name"].startswith(("lakehouse.commit.", "lakehouse.compact")))
    out.update({
        "lakehouse.read.frontier.layers":
            statistics.mean(s["layers"] for s in frontier_reads) if frontier_reads else 0.0,
        "lakehouse.compact.s": per_wave("lakehouse.compact"),
        "lakehouse.compact.mb": per_wave("lakehouse.compact", lambda s: s.get("bytes", 0) / MB),
        "lakehouse.rollback.s":
            sum(dur(s) for s in spans if s["name"] == "lakehouse.rollback") / len(resumes) if resumes else 0.0,
        "lakehouse.write_amp": committed / MB / state_mb if state_mb else 0.0,
        "scheduler.global_sequence.s": per_wave("scheduler.global_sequence"),
        "scheduler.global_sequence.jobs": per_wave("scheduler.global_sequence", lambda s: incl_jobs[s["id"]]),
        "scheduler.politeness_pop.s": per_wave("scheduler.politeness_pop"),
        "frontier.plan_s": sum(per_wave(n) for n in FRONTIER_PLAN),
        "seen.add.s": per_wave("seen.add"),
        "seen.add.jobs": per_wave("seen.add", lambda s: incl_jobs[s["id"]]),
        "seen.prefiltered_new.s": per_wave("seen.prefiltered_new"),
    })
    return out


#: unit of every per-layer metric, in the order they are reported
UNITS = {
    "crawl.waves": "count", "crawl.initialize.s": "s", "crawl.run_wave.s": "s",
    "crawl.run_wave.self_s": "s", "crawl.resume.s": "s", "crawl.finalize.s": "s",
    "spark.jobs_per_wave": "count", "spark.driver_gap_s": "s", "spark.executor_s": "s",
    "spark.shuffle_mb": "MB", "spark.spill_mb": "MB", "spark.jvm_heap_peak_mb": "MB",
    **{f"lakehouse.commit.{t}.{k}": u for t in COMMIT_TABLES
       for k, u in (("s", "s"), ("jobs", "count"), ("rows", "count"), ("mb", "MB"))},
    "lakehouse.read.frontier.layers": "count", "lakehouse.compact.s": "s", "lakehouse.compact.mb": "MB",
    "lakehouse.rollback.s": "s", "lakehouse.write_amp": "ratio",
    "scheduler.global_sequence.s": "s", "scheduler.global_sequence.jobs": "count",
    "scheduler.politeness_pop.s": "s", "frontier.plan_s": "s",
    "seen.add.s": "s", "seen.add.jobs": "count", "seen.prefiltered_new.s": "s",
}
