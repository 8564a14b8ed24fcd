"""Per-stage shuffle/spill/skew telemetry via the UI REST API
(VERDICT r4 item 8): the baseline a 10× scale-up compares against.

Collect AFTER the timed runs from the SAME app (the REST read is
driver-local and free); requires the session to run with
spark.ui.enabled=true. Records, for the heaviest completed stages:
bytes in/out, shuffle read/write bytes, memory/disk spill, and the
task max/median skew ratio — the three quantities that say whether a
stage will survive 10× more rows (spill growth), 10× more cores
(skew ratio), or a shuffle-bound plateau (shuffle bytes ∝ data).
"""

from __future__ import annotations

import json
import urllib.request


def stage_telemetry(spark, top: int = 20, min_tasks: int = 2) -> list[dict]:
    ui = spark.sparkContext.uiWebUrl
    if not ui:
        return []

    def get(path):
        with urllib.request.urlopen(f"{ui}/api/v1{path}", timeout=15) as r:
            return json.load(r)

    app = get("/applications")[0]["id"]
    rows = []
    for st in get(f"/applications/{app}/stages?status=complete"):
        if st["numCompleteTasks"] < min_tasks:
            continue
        row = {
            "stage": st["stageId"],
            "attempt": st.get("attemptId", 0),
            "name": st["name"].split("\n")[0][:90],
            "n_tasks": st["numCompleteTasks"],
            "input_bytes": st.get("inputBytes", 0),
            "output_bytes": st.get("outputBytes", 0),
            "shuffle_read_bytes": st.get("shuffleReadBytes", 0),
            "shuffle_write_bytes": st.get("shuffleWriteBytes", 0),
            "memory_spill_bytes": st.get("memoryBytesSpilled", 0),
            "disk_spill_bytes": st.get("diskBytesSpilled", 0),
            "executor_run_time_ms": st.get("executorRunTime", 0),
        }
        rows.append(row)
    rows.sort(key=lambda r: -r["executor_run_time_ms"])
    rows = rows[:top]
    # task skew only for the retained stages (one REST call each)
    for row in rows:
        try:
            q = get(
                f"/applications/{app}/stages/{row['stage']}/{row['attempt']}/taskSummary"
                "?quantiles=0.5,1.0"
            )
            med, mx = q["duration"][0], q["duration"][1]
            row["task_ms_median"] = med
            row["task_ms_max"] = mx
            row["max_over_median"] = round(mx / max(med, 1.0), 2)
        except Exception:
            pass
    return rows
