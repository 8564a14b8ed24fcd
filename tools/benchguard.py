"""Measurement-contamination guard (round-4 lesson, VERDICT item 6).

One 8M-row scaling attempt had to be discarded in round 4 because
working-tree edits to dblp_crawler_spark/ leaked into lazily-forked
pyspark workers mid-measurement (tools/throughput_job.py sys.path-
inserts the repo root AHEAD of the --py-files zip, and pyspark.daemon
re-imports modules per task wave), producing an impossible 1.64
"efficiency". The discipline is now enforced, not remembered:

  * `refuse_if_dirty()` — measurement entry points call this first
    and abort when the package tree (or the tool being run) has
    uncommitted edits; `--allow-dirty` / allow=True overrides with
    an explicit record of what was dirty.
  * `git_state()` — the commit SHA + dirty set, embedded in every
    `.bench/*.json` artifact so a number can always be traced to the
    exact tree that produced it.
"""

from __future__ import annotations

import os
import subprocess

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: paths whose edits leak into running measurements (package code is
#: re-imported by forked workers, __spark_entry__.py defines the timed
#: entries; tests/docs are not imported at all)
GUARDED = ("dblp_crawler_spark/", "tools/", "__spark_entry__.py")


def git_state(repo: str = REPO) -> dict:
    def run(*args: str) -> str:
        return subprocess.run(
            ["git", "-C", repo, *args], capture_output=True, text=True, check=True
        ).stdout

    sha = run("rev-parse", "HEAD").strip()
    # NOT stripped: the first porcelain line's status field may begin
    # with a space (' M path') that strip() would eat, shifting the
    # path slice and silently unguarding that file
    porcelain = run("status", "--porcelain")
    dirty = sorted(
        ln[3:] for ln in porcelain.splitlines() if ln[3:].startswith(GUARDED)
    )
    return {"git_sha": sha, "git_dirty": dirty}


def refuse_if_dirty(allow: bool = False, repo: str = REPO) -> dict:
    """Return git_state(); raise unless the guarded tree is clean or
    the caller explicitly opted out (the opt-out is still recorded
    in the returned state the caller embeds in its artifacts)."""
    state = git_state(repo)
    if state["git_dirty"] and not allow:
        raise SystemExit(
            "refusing to measure on a dirty tree (edits leak into forked "
            "pyspark workers mid-run — see tools/benchguard.py):\n  "
            + "\n  ".join(state["git_dirty"])
            + "\nCommit first, or pass --allow-dirty to record the risk."
        )
    return state
