"""The benchmark's workloads: inputs made from the seed, the timed
operation and the correctness check of each.

A workload object is made from the seed and a work directory before the
Spark session starts; ``expected()`` then computes what needs no Spark
(the crawl simulator), while the JVM starts, and the harness sets
``spark``. It has ``setup(i)`` (make the inputs; timed as a set-up
sample), ``op(state)`` (the timed operation; returns per-unit seconds, the
number of items done and the output to check), ``check(state, output)``
(a list of problems, empty when correct) and ``cleanup(state)``. Its
class attributes say how many crawl generations one operation runs,
whether an operation consumes its inputs (so each needs a fresh set-up)
and whether the run starts with an untimed warm-up operation.
"""

from __future__ import annotations

import math
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq


class Workload:
    """Defaults of the interface above."""

    spark = None  # set by the harness once the session has started
    generations = 0
    consumes_state = False
    warmup = False

    def expected(self) -> None:
        """Work of the check that needs no Spark; nothing by default."""

    def cleanup(self, state) -> None:
        pass


# ------------------------------------------------------------- crawl_loop


class CrawlLoop(Workload):
    """init_crawl on a 64x200 synthetic web, then `generations` batched
    run_generation calls."""

    name = "crawl_loop"
    generations = 1
    consumes_state = True  # a crawl advances its catalog: re-init per op

    def __init__(self, seed: int, work: str):
        from web_scraper_spark.config import CrawlConfig
        from web_scraper_spark.synth import SynthWebConfig, page_url, seed_url_rows

        self.work = work
        self.web = SynthWebConfig(
            n_hosts=64, pages_per_host=200, seed=seed, hot_host_share=0.3, fail_rate=0.02
        )
        self.cfg = CrawlConfig()
        # page 0 of every host plus the ordering-quirk seeds, so the first
        # generation is already wide
        self.seeds = [(page_url(k, 0), 1) for k in range(self.web.n_hosts)] + [
            (r["url"], r["priority"]) for r in seed_url_rows(self.web)
        ]
        self._sim = None

    def setup(self, i: int):
        from web_scraper_spark import crawl

        root = os.path.join(self.work, f"catalog-{i}")
        shutil.rmtree(root, ignore_errors=True)
        seeds = self.spark.createDataFrame(self.seeds, "url string, priority int")
        return crawl.init_crawl(self.spark, root, seeds, self.cfg)

    def op(self, cat):
        from web_scraper_spark import crawl

        secs, pages = [], 0
        for _ in range(self.generations):
            t = time.perf_counter()
            res = crawl.run_generation(cat, self.cfg, self.web)
            secs.append(time.perf_counter() - t)
            pages += res.fetched
        return secs, pages, cat

    def engine_state(self, cat):
        """Crawl order, seen set and counters of the committed snapshot,
        read straight from its parquet files (no Spark jobs)."""
        snap = cat.current_snapshot()
        pages = read_table(cat, snap, "pages", ["url", "crawl_rank"])
        order = pages.take(pc.sort_indices(pages["crawl_rank"]))["url"].to_pylist()
        seen = set(read_table(cat, snap, "seen", ["url_sha1"])["url_sha1"].to_pylist())
        return order, seen, snap.metrics

    def expected(self) -> None:
        self.simulate()

    def simulate(self):
        if self._sim is None:
            from oracle_sim import simulate

            self._sim = simulate(self.seeds, self.cfg, self.web, max_generations=self.generations)
        return self._sim

    def check(self, cat, output) -> list[str]:
        return check_crawl(*self.engine_state(output), self.simulate())

    def cleanup(self, cat) -> None:
        shutil.rmtree(cat.root, ignore_errors=True)


def read_table(cat, snap, table: str, columns: list[str]) -> pa.Table:
    files = snap.tables[table]["files"] if table in snap.tables else []
    parts = [pq.read_table(os.path.join(cat.root, table, f["path"]), columns=columns) for f in files]
    return pa.concat_tables(parts) if parts else pa.table({c: pa.array([], pa.string()) for c in columns})


def check_crawl(order, seen, metrics, sim) -> list[str]:
    """Engine crawl order, seen set and counters against the simulator."""
    problems = []
    sim_order = [u for _, u, _, _ in sim.crawl_order]
    if order != sim_order:
        problems.append(f"crawl order differs: engine {len(order)} rows, simulator {len(sim_order)}")
    if seen != sim.seen:
        problems.append(f"seen set differs: engine {len(seen)} keys, simulator {len(sim.seen)}")
    for k in ("urls_processed", "urls_skipped", "urls_disallowed", "bytes_downloaded"):
        if metrics.get(k) != sim.metrics[k]:
            problems.append(f"{k}: engine {metrics.get(k)}, simulator {sim.metrics[k]}")
    return problems


# --------------------------------------------------------- frontier_probe


class FrontierProbe(Workload):
    """Read-only frontier queries over a bucket-pure seen table: membership
    probe, next-fetch batch and priority reorder."""

    name = "frontier_probe"
    warmup = True  # the first round runs about 2x slower
    n_frontier = 100_000
    n_hosts = 1_000
    hot_share = 30  # % of frontier urls on host 0
    n_seen_other = 25_000  # seen keys that are not in the frontier
    num_shards = 32
    horizon = 8.0

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work

    def _urls(self, n: int, tag: str):
        from pyspark.sql import functions as F

        from web_scraper_spark.functions.urlops import host_expr, sha1_expr, shard_expr

        h = F.abs(F.xxhash64(F.lit(self.seed), F.lit(tag), F.col("id")))
        host = F.when(h % 100 < self.hot_share, F.lit(0)).otherwise(1 + (h / 100).cast("long") % (self.n_hosts - 1))
        url = F.format_string("http://h%d.example.test/%s/%d", host, F.lit(tag), F.col("id"))
        return (
            self.spark.range(n)
            .select("id", url.alias("url"), (h / 7).cast("long").alias("_h"))
            .withColumn("url_canon", F.col("url"))
            .withColumn("url_sha1", sha1_expr(F.col("url_canon")))
            .withColumn("host", host_expr(F.col("url_canon")))
            .withColumn("shard", shard_expr(F.col("url_sha1"), self.num_shards))
        )

    def setup(self, i: int):
        """Frontier of n_frontier urls, half of them already seen, plus
        n_seen_other seen keys outside the frontier; seen is written
        bucket-pure by shard with its sketches, as the crawl commits it."""
        from pyspark.sql import functions as F

        from web_scraper_spark.catalog import Catalog
        from web_scraper_spark.operators import seen

        root = os.path.join(self.work, f"catalog-{i}")
        shutil.rmtree(root, ignore_errors=True)
        cat = Catalog(self.spark, root)
        fr = self._urls(self.n_frontier, "p")
        frontier = fr.select(
            "url", "url_canon", "url_sha1", "host", "shard",
            (F.col("_h") % 3).cast("int").alias("priority"),
            F.lit(0).alias("depth"),
            F.lit(None).cast("string").alias("parent_url"),
            F.lit(0).cast("long").alias("discovered_at"),
        )
        seen_keys = (
            fr.filter(F.col("id") % 2 == 0)
            .unionByName(self._urls(self.n_seen_other, "q"))
            .select("url_sha1", "shard")
        )
        cat.stage_cow("frontier", frontier, "shard", None)
        cat.stage_cow("seen", seen_keys, "shard", None)
        cat.stage("seen_sketch", seen.build_sketches(seen_keys))
        cat.commit(generation=0, t0=0.0, metrics={"num_shards": self.num_shards})
        return cat

    def op(self, cat):
        from pyspark.sql import functions as F

        from web_scraper_spark.operators import scheduler, seen

        frontier = cat.read("frontier")
        t = time.perf_counter()
        unseen = seen.filter_unseen(
            frontier, cat.read("seen"), cat.read("seen_sketch"), bucket_files=cat.bucket_files("seen")
        ).cache()
        n_unseen = unseen.count()
        host_state = scheduler.default_host_state(self.spark)
        batch = scheduler.admit_batch(unseen, host_state, 0.0, self.horizon).cache()
        n_batch = batch.count()
        reg: list = []
        ranked = scheduler.with_global_rank(unseen, ["priority", "url_canon"], "rank", registry=reg)
        n_ranked, max_rank = ranked.agg(F.count(F.lit(1)), F.max("rank")).first()
        out = {"unseen": unseen, "batch": batch, "n_unseen": n_unseen, "n_batch": n_batch,
               "n_ranked": n_ranked, "max_rank": max_rank}
        return [time.perf_counter() - t], self.n_frontier, out

    def check(self, cat, out) -> list[str]:
        """Unseen set against the plain anti-join of the committed files and
        the count known from construction (even ids are seen); admitted
        rows within the unseen set and the per-host slot bound."""
        from web_scraper_spark.config import MIN_DELAY

        snap = cat.current_snapshot()
        seen = set(read_table(cat, snap, "seen", ["url_sha1"])["url_sha1"].to_pylist())
        plain = {k for k in read_table(cat, snap, "frontier", ["url_sha1"])["url_sha1"].to_pylist()
                 if k not in seen}
        unseen = {r[0] for r in out["unseen"].select("url_sha1").collect()}
        batch = [tuple(r) for r in out["batch"].select("url_sha1", "host").collect()]
        counts = (out["n_unseen"], len(unseen), len(plain), self.n_frontier // 2,
                  out["n_ranked"], out["max_rank"])
        return check_frontier(counts, unseen, plain, batch, out["n_batch"],
                              math.ceil(self.horizon / MIN_DELAY))

    def cleanup(self, cat) -> None:
        shutil.rmtree(cat.root, ignore_errors=True)


def check_frontier(counts, unseen: set, plain: set, batch: list, n_batch: int, slots: int) -> list[str]:
    """counts = (unseen rows, unseen keys, plain anti-join, by construction,
    ranked rows, max rank) must agree; batch is [(url_sha1, host)]."""
    problems = []
    if len(set(counts)) != 1:
        problems.append("unseen {}/{} rows, plain anti-join {}, by construction {}, "
                        "ranked {}, max rank {}".format(*counts))
    if unseen != plain:
        problems.append("unseen set differs from the plain anti-join")
    per_host: dict[str, int] = {}
    for _, host in batch:
        per_host[host] = per_host.get(host, 0) + 1
    most = max(per_host.values(), default=0)
    if len(batch) != n_batch or not batch or most > slots:
        problems.append(f"admitted {len(batch)} rows, max {most} per host, bound {slots}")
    if any(k not in unseen for k, _ in batch):
        problems.append("admitted rows outside the unseen set")
    return problems


# ------------------------------------------------------------ curate_docs

# the token vocabulary and shape of the driver's documents table
VOCAB = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def make_documents(seed: int, n: int) -> pa.Table:
    """documents(doc_id, text, lang, source, n_chars): 10-100 tokens per
    document, 5% of them near-duplicates of an earlier one."""
    rng = np.random.default_rng(seed)
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(VOCAB, size=int(rng.integers(10, 101)))
            texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": list(rng.choice(LANGS, size=n, p=LANG_P)),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


class CurateDocs(Workload):
    """queries()["curation_pipeline_lm"] over a seeded documents table."""

    name = "curate_docs"
    n_docs = 1500
    warmup = True
    query = "curation_pipeline_lm"

    def __init__(self, seed: int, work: str):
        import __spark_entry__ as entry

        self.seed = seed
        self.work = work
        self.run_query = entry.queries()[self.query]
        self.oracle = entry.oracle_sql()[self.query]

    def setup(self, i: int):
        path = os.path.join(self.work, "docs")
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        pq.write_table(make_documents(self.seed, self.n_docs), os.path.join(path, "documents.parquet"))
        return path

    def op(self, path):
        from web_scraper_spark.functions import dedupops

        dedupops.unpersist_op_caches()
        t = time.perf_counter()
        df = self.run_query(self.spark, path)
        rows = [tuple(r) for r in df.collect()]
        secs = time.perf_counter() - t
        return [secs], self.n_docs, (df.columns, rows)

    def check(self, path, output) -> list[str]:
        import duckdb

        cols, rows = output
        con = duckdb.connect()
        try:
            con.execute(
                f"CREATE VIEW documents AS SELECT * FROM '{os.path.join(path, 'documents.parquet')}'"
            )
            rel = con.sql(self.oracle)
            # DuckDB sums to HUGEINT where Spark returns int64
            casts = [
                f'CAST("{c}" AS BIGINT) AS "{c}"' if t == "HUGEINT" else f'"{c}"'
                for c, t in zip(rel.columns, map(str, rel.types))
            ]
            rel = con.sql(f"SELECT {', '.join(casts)} FROM ({self.oracle})")
            return check_rows(cols, rows, rel.columns, rel.fetchall())
        finally:
            con.close()


def normalize(rows, cols):
    """Order-insensitive, column-name-sorted row set; floats to 1e-6."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(
            round(r[i], 6) + 0.0 if isinstance(r[i], float) else r[i] for i in order
        ))
    return sorted(out, key=repr)


def check_rows(s_cols, s_rows, d_cols, d_rows) -> list[str]:
    if sorted(s_cols) != sorted(d_cols):
        return [f"columns differ: {sorted(s_cols)} vs {sorted(d_cols)}"]
    if not d_rows:
        return ["oracle returned no rows: the check would be vacuous"]
    if len(s_rows) != len(d_rows):
        return [f"row count differs: spark {len(s_rows)}, oracle {len(d_rows)}"]
    bad = [(a, b) for a, b in zip(normalize(s_rows, s_cols), normalize(d_rows, d_cols)) if a != b]
    return [f"{len(bad)} rows differ, first: {bad[0]}"] if bad else []


WORKLOADS = {w.name: w for w in (CrawlLoop, FrontierProbe, CurateDocs)}

