"""Iceberg-style snapshot catalog: partitioned Parquet + JSON manifests.

The reference keeps all crawl state in Redis/Postgres and resumes by
re-checking the `visited_urls` set (url_processor.c:44-84). Our engine keeps
state in versioned table snapshots so a killed run resumes *byte-identically*
(north rule): each generation ends in ONE atomic commit that advances every
table together.

Design (no Iceberg runtime jar in the sandbox — see SURVEY.md §7.0):

- each table version is an immutable directory  ``<root>/<table>/v<NNNN>/``
  of Parquet files written by Spark;
- a snapshot manifest ``<root>/_manifests/s<NNNN>.json`` records, per table:
  the version directory, per-partition-file row counts + byte sizes
  (**per-partition lineage**), plus generation metrics (urls_processed,
  urls_skipped, urls_disallowed, bytes_downloaded — names per the
  reference's ScraperStats, stats.h:8-15);
- ``<root>/_manifests/CURRENT`` names the live snapshot; the commit is a
  tmp-file ``os.replace`` — atomic on POSIX, the MULTI/EXEC analog of the
  reference's bulk SADD (redis_helper.c:235-253);
- uncommitted version dirs from a crashed run are invisible (nothing points
  at them) and are swept lazily.

On a real cluster the same protocol works on any filesystem with atomic
rename (HDFS); a thin seam (`TableFormat`) would swap in real Iceberg —
all engine code goes through `Catalog.read/stage/commit` only.
"""

from __future__ import annotations

import json
import os
import threading
import uuid
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession


@dataclass
class Snapshot:
    snapshot_id: int
    parent_id: int | None
    generation: int
    t0: float                       # virtual clock at generation start
    tables: dict[str, dict]         # name -> {version, files:[{path,rows,bytes}]}
    metrics: dict[str, Any] = field(default_factory=dict)

    def to_json(self) -> str:
        return json.dumps(
            {
                "snapshot_id": self.snapshot_id,
                "parent_id": self.parent_id,
                "generation": self.generation,
                "t0": self.t0,
                "tables": self.tables,
                "metrics": self.metrics,
            },
            indent=1,
            sort_keys=True,
        )

    @staticmethod
    def from_json(s: str) -> "Snapshot":
        d = json.loads(s)
        return Snapshot(
            snapshot_id=d["snapshot_id"],
            parent_id=d["parent_id"],
            generation=d["generation"],
            t0=d["t0"],
            tables=d["tables"],
            metrics=d.get("metrics", {}),
        )


class Catalog:
    """Snapshot-isolated table store rooted at a directory."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self._manifest_dir = os.path.join(root, "_manifests")
        os.makedirs(self._manifest_dir, exist_ok=True)
        # one generation stages its tables from several driver threads at
        # once (crawl.run_generation step 9); the lock keeps _staged whole
        self._lock = threading.Lock()
        self._staged: dict[str, dict] = {}

    # ------------------------------------------------------------- snapshots
    def current_snapshot(self) -> Snapshot | None:
        cur = os.path.join(self._manifest_dir, "CURRENT")
        if not os.path.exists(cur):
            return None
        with open(cur) as f:
            name = f.read().strip()
        with open(os.path.join(self._manifest_dir, name)) as f:
            return Snapshot.from_json(f.read())

    def snapshot(self, snapshot_id: int) -> Snapshot:
        """Time-travel read of any committed snapshot."""
        with open(os.path.join(self._manifest_dir, f"s{snapshot_id:06d}.json")) as f:
            return Snapshot.from_json(f.read())

    # ------------------------------------------------------------- read
    def read(self, table: str, snapshot: Snapshot | None = None) -> DataFrame | None:
        snap = snapshot or self.current_snapshot()
        if snap is None or table not in snap.tables:
            return None
        entry = snap.tables[table]
        paths = [os.path.join(self.root, table, f["path"]) for f in entry["files"]]
        if not paths:
            return None
        return self.spark.read.parquet(*paths)

    def read_incremental(
        self, table: str, since: Snapshot, until: Snapshot | None = None
    ) -> DataFrame | None:
        """Rows added to `table` AFTER snapshot `since` (exclusive), up to
        `until` (inclusive; default CURRENT) — the Iceberg incremental-scan
        analog, the 'train on new data only' primitive: a pipeline that
        processed snapshot S re-runs against read_incremental(t, S) and
        touches ONLY the delta files, never the 10^10-row history.

        Exact for append-only lineage (stage_append / stage_append_cow):
        the manifest diff is precisely the appended files. Across a
        REWRITE boundary (compaction, stage, stage_cow on a rewritten shard)
        the diff is conservative — rewritten files have new paths, so
        their rows reappear in the increment (same caveat as Iceberg CDC
        over rewrites); dedup downstream or snapshot before compacting.

        None if nothing was added."""
        until = until or self.current_snapshot()
        if until is None or table not in until.tables:
            return None
        old = {f["path"] for f in since.tables.get(table, {}).get("files", [])}
        paths = [
            os.path.join(self.root, table, f["path"])
            for f in until.tables[table]["files"]
            if f["path"] not in old
        ]
        if not paths:
            return None
        return self.spark.read.parquet(*paths)

    # ------------------------------------------------------------- stage
    def _write_version(self, table: str, df: DataFrame, partitions: int | None) -> list[dict]:
        """Write one immutable version dir; return its file-lineage list
        (paths are relative to the table root)."""
        version = f"v{uuid.uuid4().hex[:12]}"
        path = os.path.join(self.root, table, version)
        writer = df if partitions is None else df.repartition(partitions)
        writer.write.mode("error").parquet(path)
        import pyarrow.parquet as pq

        files = []
        for fn in sorted(os.listdir(path)):
            if not fn.endswith(".parquet"):
                continue
            fp = os.path.join(path, fn)
            meta = pq.ParquetFile(fp).metadata
            if meta.num_rows == 0:
                continue  # drop empty part files from lineage
            files.append(
                {"path": f"{version}/{fn}", "bytes": os.path.getsize(fp), "rows": meta.num_rows}
            )
        return files

    def stage(self, table: str, df: DataFrame, partitions: int | None = None) -> dict:
        """Full overwrite: the next snapshot's `table` = exactly `df`.
        Visible only after commit(). Returns the manifest entry."""
        files = self._write_version(table, df, partitions)
        entry = {"files": files, "rows": sum(f["rows"] for f in files)}
        with self._lock:
            self._staged[table] = entry
        return entry

    def stage_append(
        self,
        table: str,
        delta: DataFrame,
        snapshot: Snapshot | None = None,
        partitions: int | None = None,
    ) -> dict:
        """Append-only stage: write ONLY the delta files; the new manifest
        entry = parent file list + delta file list. This is what keeps the
        per-generation commit O(delta), not O(table) — at 10^10-URL scale the
        seen table is never rewritten, exactly like Iceberg appends."""
        snap = snapshot or self.current_snapshot()
        parent_files = list(snap.tables[table]["files"]) if snap and table in snap.tables else []
        new_files = self._write_version(table, delta, partitions)
        files = parent_files + new_files
        entry = {"files": files, "rows": sum(f["rows"] for f in files)}
        with self._lock:
            self._staged[table] = entry
        return entry

    def stage_keep(self, table: str, snapshot: Snapshot) -> None:
        """Carry a table forward unchanged from `snapshot` (no rewrite)."""
        if table in snapshot.tables:
            with self._lock:
                self._staged[table] = snapshot.tables[table]

    # ------------------------------------------------- partition-level COW
    def _write_version_cow(self, table: str, df: DataFrame, bucket_col: str) -> dict[str, list[dict]]:
        """Write one immutable version dir partitioned by bucket; return
        {bucket: file-lineage list}. The partition key is a DUPLICATE of
        `bucket_col` (`_b`), so the data files keep the original column and
        manifest-listed files read back with an unchanged schema."""
        from pyspark.sql import functions as F

        version = f"v{uuid.uuid4().hex[:12]}"
        path = os.path.join(self.root, table, version)
        # cluster rows by bucket BEFORE partitionBy: an arbitrarily-
        # partitioned input (e.g. hash-partitioned by url from an upstream
        # groupBy) would otherwise emit one file per (task, bucket) pair —
        # tasks x touched-buckets small files per commit; clustered, each
        # bucket lands in ~one task and writes ~one file
        df.repartition(F.col(bucket_col)).withColumn(
            "_b", F.col(bucket_col)
        ).write.partitionBy("_b").mode("error").parquet(path)
        import pyarrow.parquet as pq

        buckets: dict[str, list[dict]] = {}
        for d in sorted(os.listdir(path)):
            if not d.startswith("_b="):
                continue
            b = d[len("_b="):]
            for fn in sorted(os.listdir(os.path.join(path, d))):
                if not fn.endswith(".parquet"):
                    continue
                fp = os.path.join(path, d, fn)
                meta = pq.ParquetFile(fp).metadata
                if meta.num_rows == 0:
                    continue
                buckets.setdefault(b, []).append(
                    {
                        "path": f"{version}/{d}/{fn}",
                        "bytes": os.path.getsize(fp),
                        "rows": meta.num_rows,
                    }
                )
        return buckets

    def _stage_buckets(self, table: str, buckets: dict[str, list[dict]]) -> dict:
        """Stage a bucket-pure manifest entry from its {bucket: files} map."""
        files = [f for b in sorted(buckets, key=str) for f in buckets[b]]
        entry = {"files": files, "rows": sum(f["rows"] for f in files), "buckets": buckets}
        with self._lock:
            self._staged[table] = entry
        return entry

    def stage_cow(
        self,
        table: str,
        delta: DataFrame,
        bucket_col: str = "shard",
        changed_buckets: list | None = None,
        snapshot: Snapshot | None = None,
    ) -> dict:
        """Partition-level copy-on-write (the Iceberg partition-overwrite
        analog): the next version of `table` = the parent's files for every
        UNchanged bucket (no read, no rewrite) + freshly written bucket-pure
        files for `changed_buckets`, whose complete new content must be
        `delta`. A changed bucket absent from `delta` is emptied.

        With `changed_buckets=None` (or no parent), `delta` is taken as the
        FULL table and everything is written.

        At 10^10-row frontier scale this turns the per-generation frontier
        commit from O(frontier) into O(touched buckets): in steady state a
        generation touches the buckets of its admitted batch, its newly
        discovered urls and its seen-skips — a small fraction of the key
        space."""
        snap = snapshot or self.current_snapshot()
        parent = snap.tables.get(table) if snap else None
        new_buckets = self._write_version_cow(table, delta, bucket_col)
        if changed_buckets is None or parent is None:
            merged = dict(new_buckets)
        else:
            changed = {str(b) for b in changed_buckets}
            stray = set(new_buckets) - changed
            if stray:
                raise ValueError(
                    f"stage_cow delta contains rows of undeclared buckets {sorted(stray)}"
                )
            merged = {
                b: fs for b, fs in parent["buckets"].items() if b not in changed
            }
            merged.update(new_buckets)
        return self._stage_buckets(table, merged)

    def stage_append_cow(
        self,
        table: str,
        delta: DataFrame,
        bucket_col: str = "shard",
        snapshot: Snapshot | None = None,
    ) -> dict:
        """Bucket-pure APPEND (the Iceberg fast-append onto a
        bucket-partitioned table): write ONLY the delta's files,
        partitioned by `bucket_col`; the new manifest = the parent's
        per-bucket lineage + this delta's per-bucket files. Write cost is
        O(delta) like stage_append, but file-level bucket lineage survives,
        so readers can open exactly the buckets they need (bucket_files) —
        what makes seen membership (seen.filter_unseen) shard-aligned
        instead of an O(table) shuffle every generation.

        The delta is pre-shuffled by bucket so each touched bucket lands in
        ~one new file per generation (without this, every write task emits
        one file per bucket it happens to hold → file-count explosion).
        With no parent, the delta becomes the table's first bucket lineage."""
        snap = snapshot or self.current_snapshot()
        parent = snap.tables.get(table) if snap else None
        new_buckets = self._write_version_cow(table, delta, bucket_col)  # clusters by bucket itself
        merged: dict[str, list[dict]] = (
            {b: list(fs) for b, fs in parent["buckets"].items()} if parent else {}
        )
        for b, fs in new_buckets.items():
            merged.setdefault(b, []).extend(fs)
        return self._stage_buckets(table, merged)

    def bucket_files(
        self, table: str, snapshot: Snapshot | None = None
    ) -> dict[str, list[str]] | None:
        """{bucket: [absolute parquet paths]} for a bucket-pure table, or
        None when the table is absent / has no bucket lineage. This is the
        manifest-level pruning seam: a reader that knows its buckets opens
        ONLY those files — untouched buckets cost nothing."""
        snap = snapshot or self.current_snapshot()
        if snap is None or table not in snap.tables:
            return None
        entry = snap.tables[table]
        if "buckets" not in entry:
            return None
        return {
            b: [os.path.join(self.root, table, f["path"]) for f in fs]
            for b, fs in entry["buckets"].items()
        }

    # ------------------------------------------------------------- commit
    def commit(self, generation: int, t0: float, metrics: dict | None = None) -> Snapshot:
        """Atomically publish the next snapshot: staged tables replace
        their parent entries; every OTHER parent table carries forward
        untouched (Iceberg semantics — a commit never implicitly drops a
        table, so an auxiliary table a user staged into the same catalog
        survives engine generations and is never garbage-collected out by
        expire_snapshots)."""
        parent = self.current_snapshot()
        sid = (parent.snapshot_id + 1) if parent else 0
        tables = dict(parent.tables) if parent else {}
        with self._lock:
            tables.update(self._staged)
        snap = Snapshot(
            snapshot_id=sid,
            parent_id=parent.snapshot_id if parent else None,
            generation=generation,
            t0=t0,
            tables=tables,
            metrics=metrics or {},
        )
        name = f"s{sid:06d}.json"
        final = os.path.join(self._manifest_dir, name)
        tmp = final + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            f.write(snap.to_json())
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, final)

        cur_final = os.path.join(self._manifest_dir, "CURRENT")
        cur_tmp = cur_final + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(cur_tmp, "w") as f:
            f.write(name)
            f.flush()
            os.fsync(f.fileno())
        os.replace(cur_tmp, cur_final)  # the atomic commit point
        with self._lock:
            self._staged = {}
        return snap

    def abort(self) -> None:
        """Drop every staged table: the next commit publishes none of
        them. Their version dirs stay on disk, unreferenced, until
        expire_snapshots reclaims them."""
        with self._lock:
            self._staged = {}

    # ------------------------------------------------------------- maintenance
    def expire_snapshots(self, keep_last: int = 5) -> dict:
        """Delete manifests older than the last `keep_last` snapshots and
        any data files no kept snapshot references. Returns counts."""
        import shutil

        cur = self.current_snapshot()
        if cur is None:
            return {"snapshots_removed": 0, "files_removed": 0}
        # numeric sort: manifests are named s{id:06d}.json, so a plain
        # lexicographic sort inverts the order past snapshot id 999999 —
        # exactly the 10^6-generation scale automated retention targets —
        # and would expire the NEWEST snapshots' files
        manifests = sorted(
            (f for f in os.listdir(self._manifest_dir)
             if f.startswith("s") and f.endswith(".json")),
            key=lambda f: int(f[1:-5]),
        )
        keep = set(manifests[-keep_last:])
        keep.add(f"s{cur.snapshot_id:06d}.json")  # never drop CURRENT
        live_files: set[str] = set()
        for name in keep:
            path = os.path.join(self._manifest_dir, name)
            if not os.path.exists(path):
                continue
            with open(path) as f:
                snap = Snapshot.from_json(f.read())
            for t, entry in snap.tables.items():
                for fi in entry["files"]:
                    live_files.add(os.path.join(t, fi["path"]))
        removed_snaps = 0
        for name in manifests:
            if name not in keep:
                os.remove(os.path.join(self._manifest_dir, name))
                removed_snaps += 1
        removed_files = 0
        for t in os.listdir(self.root):
            tdir = os.path.join(self.root, t)
            if t == "_manifests" or not os.path.isdir(tdir):
                continue
            for vdir in os.listdir(tdir):
                vpath = os.path.join(tdir, vdir)
                if not os.path.isdir(vpath):
                    continue
                rel_files = set()
                for dirpath, _, fns in os.walk(vpath):
                    rel_dir = os.path.relpath(dirpath, self.root)
                    rel_files |= {
                        os.path.join(rel_dir, fn) for fn in fns if fn.endswith(".parquet")
                    }
                # a dir with NO parquet files (a 0-row write leaves only
                # _SUCCESS) is never referenced by any manifest — reclaim
                # it too, or drained-frontier commits accrete empty dirs
                if rel_files.isdisjoint(live_files):
                    removed_files += len(rel_files)
                    shutil.rmtree(vpath)
        return {"snapshots_removed": removed_snaps, "files_removed": removed_files}
