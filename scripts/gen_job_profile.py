#!/usr/bin/env python
"""Per-job profile of one crawl generation, read back from Spark's event log.

Runs the set-up (``init_crawl``) and one ``run_generation`` of perfbench's
``crawl_loop`` workload (seed 1, one Spark core per CPU the process may
use) with ``spark.eventLog.enabled`` set into a temp dir, then prints:

- each job of the generation: PySpark call site, wall time, tasks run;
- the ten call sites with the most summed job wall;
- jobs per generation and the tasks they ran;
- the generation's stages that run an RDD of Python workers
  (``python_rdd_stages``/``python_rdd_tasks``): stages whose completed
  "RDD Info" names a ``PythonRDD``, as PySpark builds from a
  ``createDataFrame`` on a Python list or from RDD ``map`` functions
  (Arrow UDFs and ``applyInPandas`` run inside SQL stages and do not
  count);
- the overlap factor, the jobs' summed wall over the generation's span
  (below 1: the driver works between jobs; above 1: jobs run concurrently);
- the plan-description bytes the run posted: Spark renders a physical
  plan description when each SQL execution starts and again on every
  adaptive (AQE) stage update, even with the UI off; the count, total
  and largest of those descriptions.

Usage:

    python scripts/gen_job_profile.py

The event log is written uncompressed (``spark.eventLog.compress=false``),
so reading it needs no codec library. PySpark records no Python call site
for most DataFrame actions, so the script tags each job itself: the
DataFrame/reader/writer actions are wrapped to put the engine line that
called them (and the ``crawl.py`` line above it) into a local property,
which Spark copies into the job's start event.
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import sys
import tempfile
import threading
import time
import traceback
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SEED = 1
TOP = 10  # call sites listed
GROUP = "gen-job-profile"
SITE = "gen_job_profile.site"  # local property carrying the engine call site
PKG = os.path.join(ROOT, "web_scraper_spark") + os.sep


def engine_site(action: str) -> str:
    """'<action> at <innermost engine line>[ via <outermost crawl.py
    frame below run_generation>]': that frame is the generation body
    itself on the caller's thread, or the task function on a pool
    thread."""
    frames = [f for f in traceback.extract_stack() if f.filename.startswith(PKG)]
    if not frames:
        return action
    inner = frames[-1]
    site = f"{action} at {short_site(inner.filename)}:{inner.lineno}"
    outer = next(
        (f for f in frames if f.filename.endswith("crawl.py") and f.name != "run_generation"),
        inner,
    )
    if outer is not inner:
        site += f" via crawl.py:{outer.lineno} {outer.name}"
    return site


def label_actions(sc) -> None:
    """Wrap the eager DataFrame, reader and writer calls so every job they
    start carries its engine call site in local property SITE. The
    outermost action of a thread names the site (head → take → collect
    is one site)."""
    from pyspark.core.rdd import RDD
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

    state = threading.local()

    def wrap(cls, name):
        orig = getattr(cls, name)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if getattr(state, "busy", False):
                return orig(*args, **kwargs)
            state.busy = True
            sc.setLocalProperty(SITE, engine_site(name))
            try:
                return orig(*args, **kwargs)
            finally:
                sc.setLocalProperty(SITE, None)
                state.busy = False

        setattr(cls, name, wrapper)

    for name in ("collect", "count", "head", "take", "first", "isEmpty", "toPandas",
                 "localCheckpoint"):
        wrap(DataFrame, name)
    wrap(DataFrameWriter, "save")
    wrap(DataFrameWriter, "parquet")
    wrap(DataFrameReader, "parquet")
    wrap(RDD, "collect")


def crawl_one_generation(spark, work: str) -> tuple[float, float]:
    """The crawl_loop set-up + one generation under job group GROUP;
    return the generation's (start, end) wall clock in epoch ms."""
    from perfbench.workloads import CrawlLoop
    from web_scraper_spark import crawl

    wl = CrawlLoop(SEED, work)
    wl.spark = spark
    cat = wl.setup(0)
    sc = spark.sparkContext
    label_actions(sc)
    sc.setJobGroup(GROUP, "run_generation")
    t0 = time.time() * 1000
    res = crawl.run_generation(cat, wl.cfg, wl.web)
    t1 = time.time() * 1000
    print(f"generation {res.generation}: fetched={res.fetched} skipped={res.skipped} "
          f"disallowed={res.disallowed} frontier={res.frontier_size}", file=sys.stderr)
    return t0, t1


def read_jobs(event_dir: str, group: str) -> list[dict]:
    """Jobs of `group` from the event log: id, call site, start/end (epoch
    ms), tasks run, and the stages and tasks of those that ran a
    PythonRDD. A stage shared by several jobs runs once, in the
    lowest-numbered of them; its tasks count there."""
    jobs: dict[int, dict] = {}
    stage_jobs: dict[int, list[int]] = defaultdict(list)
    stage_tasks: dict[int, int] = defaultdict(int)
    python_stages: set[int] = set()
    for name in sorted(os.listdir(event_dir)):
        with open(os.path.join(event_dir, name)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    for sid in ev["Stage IDs"]:
                        stage_jobs[sid].append(ev["Job ID"])
                    if props.get("spark.jobGroup.id") == group:
                        jobs[ev["Job ID"]] = {
                            "job": ev["Job ID"],
                            "site": props.get(SITE) or props.get("callSite.short", "?"),
                            "start": ev["Submission Time"],
                        }
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    stage_tasks[ev["Stage ID"]] += 1
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    if any(r.get("Name") == "PythonRDD" for r in info.get("RDD Info", [])):
                        python_stages.add(info["Stage ID"])
    for j in jobs.values():
        j["tasks"] = j["python_rdd_stages"] = j["python_rdd_tasks"] = 0
    for sid, n in stage_tasks.items():
        owner = min(stage_jobs.get(sid, [-1]))
        if owner in jobs:
            jobs[owner]["tasks"] += n
            if sid in python_stages:
                jobs[owner]["python_rdd_stages"] += 1
                jobs[owner]["python_rdd_tasks"] += n
    return [jobs[k] for k in sorted(jobs)]


PLAN_EVENTS = (
    "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
    "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
)


def read_plan_bytes(event_dir: str) -> dict:
    """Count, total and largest `physicalPlanDescription` (UTF-8 bytes)
    over the run's SQL-execution-start and AQE-update events."""
    sizes = []
    for name in sorted(os.listdir(event_dir)):
        with open(os.path.join(event_dir, name)) as f:
            for line in f:
                ev = json.loads(line)
                if ev["Event"] in PLAN_EVENTS:
                    sizes.append(len(ev.get("physicalPlanDescription", "").encode()))
    return {
        "plan_descriptions": len(sizes),
        "plan_bytes": sum(sizes),
        "plan_bytes_max": max(sizes, default=0),
    }


def short_site(site: str) -> str:
    """'collect at /abs/repo/web_scraper_spark/crawl.py:542' → path
    relative to the repository root."""
    return site.replace(ROOT + os.sep, "")


def report(jobs: list[dict], t0: float, t1: float, plans: dict) -> None:
    span = (t1 - t0) / 1000
    for j in jobs:
        j["wall_s"] = (j["end"] - j["start"]) / 1000
        j["site"] = short_site(j["site"])
    job_wall = sum(j["wall_s"] for j in jobs)
    print(f"{'job':>5} {'start_s':>8} {'wall_s':>7} {'tasks':>6}  call site")
    for j in jobs:
        print(f"{j['job']:>5} {(j['start'] - t0) / 1000:>8.2f} {j['wall_s']:>7.2f} "
              f"{j['tasks']:>6}  {j['site']}")
    sites: dict[str, list] = defaultdict(lambda: [0, 0.0, 0])
    for j in jobs:
        s = sites[j["site"]]
        s[0] += 1
        s[1] += j["wall_s"]
        s[2] += j["tasks"]
    ranked = sorted(sites.items(), key=lambda kv: -kv[1][1])[:TOP]
    print(f"\ntop {len(ranked)} call sites by summed job wall:")
    print(f"{'jobs':>5} {'wall_s':>7} {'tasks':>6}  call site")
    for site, (n, wall, tasks) in ranked:
        print(f"{n:>5} {wall:>7.2f} {tasks:>6}  {site}")
    summary = {
        "jobs_per_generation": len(jobs),
        "tasks": sum(j["tasks"] for j in jobs),
        "python_rdd_stages": sum(j["python_rdd_stages"] for j in jobs),
        "python_rdd_tasks": sum(j["python_rdd_tasks"] for j in jobs),
        "generation_s": round(span, 3),
        "job_wall_s": round(job_wall, 3),
        "overlap_factor": round(job_wall / span, 3) if span > 0 else None,
    }
    print("\n" + " ".join(f"{k}={v}" for k, v in summary.items()))
    print(" ".join(f"{k}={v}" for k, v in plans.items()))


def main() -> int:
    from web_scraper_spark.session import get_spark

    work = tempfile.mkdtemp(prefix="gen-job-profile-")
    event_dir = os.path.join(work, "events")
    os.makedirs(event_dir)
    try:
        spark = get_spark("gen-job-profile", cores=len(os.sched_getaffinity(0)), extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",  # one plain file
        })
        try:
            t0, t1 = crawl_one_generation(spark, work)
        finally:
            spark.stop()  # flushes and closes the event log
        report(read_jobs(event_dir, GROUP), t0, t1, read_plan_bytes(event_dir))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
