"""Per-layer spans around the public entry points of web_scraper_spark.

A span records its name, start, end, parent span and the Spark jobs (with
their task counts) launched while it was the innermost open span. Each
span runs under its own Spark job group; the jobs are read back with
``statusTracker().getJobIdsForGroup`` when the traced operation ends.

Spark is lazy: a function that returns a DataFrame only builds a plan, and
its compute is charged to the first eager call that forces it, mostly
``Catalog.stage*``. With ``force=True`` the wrappers of lazy layer
functions count their output (and a few extra shares) inside a child
``<name>.force`` span, so a layer's own compute lands on the layer. Those
extra jobs are tracing overhead; job counts of the program exclude them.

Nothing here edits the engine: ``install`` swaps module attributes and
``Catalog`` methods for wrappers, ``uninstall`` puts the originals back.
"""

from __future__ import annotations

import functools
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import functions as F


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    group: str
    end: float = 0.0
    jobs: list[int] = field(default_factory=list)
    tasks: int = 0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans kept in memory for one traced operation."""

    def __init__(self, sc, force: bool = False):
        self.sc = sc
        self.force = force
        self.spans: list[Span] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []
        self._prefix = f"perfbench-{os.getpid()}-{id(self)}"
        self._undo: list[tuple[object, str, object]] = []
        self.analyze_acc = None  # set by install(): extract UDF busy seconds

    # ------------------------------------------------------------ spans
    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        sp = Span(
            name=name,
            start=time.perf_counter(),
            parent=self._stack[-1] if self._stack else None,
            group=f"{self._prefix}-{idx}",
        )
        self.spans.append(sp)
        self._stack.append(idx)
        self.sc.setJobGroup(sp.group, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            outer = self.spans[self._stack[-1]].group if self._stack else f"{self._prefix}-idle"
            self.sc.setJobGroup(outer, "perfbench")

    @contextmanager
    def forcing(self, name: str):
        """Child span for work the tracer adds (counts, shares)."""
        with self.span(name + ".force"):
            yield

    def collect_jobs(self, settle_s: float = 0.2, timeout_s: float = 5.0) -> None:
        """Read each span's job ids and task counts. Job events reach the
        status store asynchronously, so poll until the total stops moving."""
        st = self.sc.statusTracker()
        deadline = time.perf_counter() + timeout_s
        last = -1
        while True:
            groups = {sp.group: list(st.getJobIdsForGroup(sp.group)) for sp in self.spans}
            total = sum(len(v) for v in groups.values())
            if total == last or time.perf_counter() > deadline:
                break
            last = total
            time.sleep(settle_s)
        for sp in self.spans:
            sp.jobs = sorted(groups[sp.group])
            sp.tasks = 0
            for jid in sp.jobs:
                info = st.getJobInfo(jid)
                for sid in info.stageIds if info else []:
                    stage = st.getStageInfo(sid)
                    sp.tasks += stage.numTasks if stage else 0

    def to_json(self) -> list[dict]:
        return [
            {
                "name": sp.name,
                "start": sp.start,
                "end": sp.end,
                "parent": sp.parent,
                "jobs": sp.jobs,
                "tasks": sp.tasks,
            }
            for sp in self.spans
        ]

    # ------------------------------------------------------------ wrappers
    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` by a spanned wrapper. ``after(args,
        kwargs, result)`` runs inside the span when forcing is on."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name):
                out = orig(*args, **kwargs)
                if self.force and after is not None:
                    with self.forcing(name):
                        after(args, kwargs, out)
                return out

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    def replace(self, owner, attr: str, value) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)


def _arg(args, kwargs, i: int, name: str):
    if name in kwargs:
        return kwargs[name]
    return args[i] if len(args) > i else None


def install(tracer: Tracer) -> None:
    """Wrap every layer's public entry points (see README "Layers")."""
    from web_scraper_spark import crawl
    from web_scraper_spark.catalog import Catalog
    from web_scraper_spark.functions import curation, dedupops, textops
    from web_scraper_spark.operators import robots, sampling, scheduler, seen
    from web_scraper_spark.sources import fetch

    c = tracer.counters

    def count_out(key):
        def after(args, kwargs, out):
            c[key] += out.count()
        return after

    def force_out(args, kwargs, out):
        out.count()

    # crawl
    tracer.wrap(crawl, "init_crawl", "crawl.init_crawl")
    tracer.wrap(crawl, "run_generation", "crawl.gen")

    # catalog: eager methods, never forced
    for m in ("stage", "stage_append", "stage_cow", "stage_append_cow", "commit",
              "read", "bucket_files"):
        tracer.wrap(Catalog, m, f"catalog.{m}")

    # seen
    tag_maybe_seen = seen.tag_maybe_seen

    def after_filter_unseen(args, kwargs, out):
        cand = _arg(args, kwargs, 0, "candidates")
        seen_df = _arg(args, kwargs, 1, "seen")
        sketch = _arg(args, kwargs, 2, "sketch_df")
        files = _arg(args, kwargs, 3, "bucket_files")
        n_in = cand.count()
        c["seen.filter_unseen.rows_in"] += n_in
        c["seen.filter_unseen.rows_out"] += out.count()
        if sketch is None:
            return
        if seen_df is None and files:
            seen_df = cand.sparkSession.read.parquet(*[p for ps in files.values() for p in ps])
        maybe = tag_maybe_seen(cand, sketch).filter(F.col("maybe_seen")).cache()
        try:
            c["seen.probed"] += n_in
            c["seen.maybe"] += maybe.count()
            if seen_df is not None:
                c["seen.maybe_true"] += maybe.join(
                    seen_df.select("url_sha1"), "url_sha1", "left_semi"
                ).count()
        finally:
            maybe.unpersist()

    def after_build_sketches(args, kwargs, out):
        keys = _arg(args, kwargs, 0, "seen")
        c["seen.sketch_rebuild_shards"] += keys.select("shard").distinct().count()

    tracer.wrap(seen, "filter_unseen", "seen.filter_unseen", after_filter_unseen)
    tracer.wrap(seen, "update_sketches_autoscale", "seen.update_sketches_autoscale", force_out)
    tracer.wrap(seen, "build_sketches", "seen.build_sketches", after_build_sketches)

    # scheduler
    tracer.wrap(scheduler, "admit_batch", "scheduler.admit_batch",
                count_out("scheduler.admit_batch.rows_out"))
    tracer.wrap(scheduler, "with_global_rank", "scheduler.with_global_rank", force_out)
    tracer.wrap(scheduler, "fold_host_state", "scheduler.fold_host_state", force_out)

    # robots
    def after_need(args, kwargs, out):
        batch = _arg(args, kwargs, 0, "batch_hosts")
        c["robots.batch_hosts"] += batch.select("host").distinct().count()
        c["robots.need_hosts"] += out.count()

    tracer.wrap(robots, "decide_allowed", "robots.decide_allowed", force_out)
    tracer.wrap(robots, "hosts_needing_robots", "robots.hosts_needing_robots", after_need)

    # fetch: the fetch source plus the extract UDF, timed inside the Python
    # workers (busy seconds summed over tasks) through an accumulator
    def after_fetch(args, kwargs, out):
        c["fetch.fetch_pages.rows"] += out.count()
        c["fetch.failed"] += out.filter(F.col("content").isNull()).count()

    tracer.wrap(fetch, "fetch_pages", "fetch.fetch_pages", after_fetch)
    tracer.analyze_acc = tracer.sc.accumulator(0.0)
    tracer.replace(textops, "analyze_udf", _timed_analyze_udf(tracer.analyze_acc,
                                                              textops.analyze_udf.returnType))

    # curation: docs surviving each gate, read at the next gate's input
    def gate_in(key):
        def after(args, kwargs, out):
            c[f"curation.docs_out_per_gate.{key}"] += args[0].count()
        return after

    def after_dedup(args, kwargs, out):
        c["curation.docs_out_per_gate.decontam"] += args[0].count()
        c["curation.docs_out_per_gate.dedup"] += out.count()

    tracer.wrap(curation, "curate_corpus", "curation.curate_corpus", force_out)
    tracer.wrap(curation, "lm_bigram_score", "curation.lm_bigram_score", gate_in("rules"))
    tracer.wrap(curation, "contamination", "curation.contamination", gate_in("lm"))
    tracer.wrap(dedupops, "dedup_keep_ids", "curation.dedup_keep_ids", after_dedup)
    tracer.wrap(sampling, "token_budget_sample", "curation.token_budget_sample",
                count_out("curation.docs_out_per_gate.budget"))


def _timed_analyze_udf(acc, return_type):
    from web_scraper_spark.functions.textops import analyze_series

    @F.pandas_udf(return_type)
    def analyze_udf(html: pd.Series) -> pd.DataFrame:
        t = time.perf_counter()
        out = analyze_series(html)
        acc.add(time.perf_counter() - t)
        return out

    return analyze_udf


# ---------------------------------------------------------------- metrics
CATALOG_METHODS = ("stage_cow", "stage_append_cow", "stage_append", "stage", "commit")


def layer_metrics(tracer: Tracer, generations: int) -> dict[str, float]:
    """Per-layer figures of one traced operation. Seconds are summed over
    the operation; ``crawl.gen.self_s`` is per generation."""
    spans = tracer.spans
    c = tracer.counters
    by_name: dict[str, list[Span]] = defaultdict(list)
    for sp in spans:
        by_name[sp.name].append(sp)

    def secs(name):
        return sum(sp.seconds for sp in by_name[name])

    m: dict[str, float] = {}
    gen_self = 0.0
    for g in (i for i, sp in enumerate(spans) if sp.name == "crawl.gen"):
        gen_self += spans[g].seconds - sum(sp.seconds for sp in spans if sp.parent == g)
    m["crawl.gen.self_s"] = gen_self / max(generations, 1)
    m["crawl.init_crawl.s"] = secs("crawl.init_crawl")

    for meth in CATALOG_METHODS:
        name = f"catalog.{meth}"
        m[f"{name}.s"] = secs(name)
        m[f"{name}.calls"] = float(len(by_name[name]))
        m[f"{name}.jobs"] = float(sum(len(sp.jobs) for sp in by_name[name]))
    m["catalog.read.s"] = secs("catalog.read")
    m["catalog.bucket_files.s"] = secs("catalog.bucket_files")

    m["seen.filter_unseen.s"] = secs("seen.filter_unseen")
    m["seen.filter_unseen.rows_in"] = c["seen.filter_unseen.rows_in"]
    m["seen.filter_unseen.rows_out"] = c["seen.filter_unseen.rows_out"]
    m["seen.bloom_maybe_share"] = _share(c["seen.maybe"], c["seen.probed"])
    m["seen.maybe_true_share"] = _share(c["seen.maybe_true"], c["seen.maybe"])
    m["seen.update_sketches_autoscale.s"] = secs("seen.update_sketches_autoscale")
    m["seen.sketch_rebuild_shards"] = c["seen.sketch_rebuild_shards"]

    m["scheduler.admit_batch.s"] = secs("scheduler.admit_batch")
    m["scheduler.admit_batch.rows_out"] = c["scheduler.admit_batch.rows_out"]
    m["scheduler.with_global_rank.s"] = secs("scheduler.with_global_rank")
    m["scheduler.fold_host_state.s"] = secs("scheduler.fold_host_state")

    m["robots.decide_allowed.s"] = secs("robots.decide_allowed")
    m["robots.cache_hit_share"] = (
        1.0 - _share(c["robots.need_hosts"], c["robots.batch_hosts"])
        if c["robots.batch_hosts"] else 0.0
    )

    m["fetch.fetch_pages.s"] = secs("fetch.fetch_pages")
    m["fetch.fetch_pages.rows"] = c["fetch.fetch_pages.rows"]
    m["fetch.failed_share"] = _share(c["fetch.failed"], c["fetch.fetch_pages.rows"])
    acc = tracer.analyze_acc
    m["fetch.analyze.s"] = float(acc.value) if acc is not None else 0.0

    m["curation.curate_corpus.s"] = secs("curation.curate_corpus")
    m["curation.lm_bigram_score.s"] = secs("curation.lm_bigram_score")
    for gate in ("rules", "lm", "decontam", "dedup", "budget"):
        key = f"curation.docs_out_per_gate.{gate}"
        m[key] = c[key]
    return m


def _share(num: float, den: float) -> float:
    return float(num) / float(den) if den else 0.0
