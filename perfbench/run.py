"""Benchmark of web_scraper_spark: one workload per call, one JSON line out.

Run from the repository root:

    python3 perfbench/run.py --workload crawl_loop --seed 1 --seconds 10 --trace 0

``--trace 0`` measures the end-to-end metrics with no tracing. ``--trace 1``
runs the operation once untraced and once with per-layer spans, and
reports the per-layer metrics and the tracing overhead (traced wall minus
untraced wall). ``--workload all`` runs every workload in one driver
process. The last line of standard output is the result; the exit code is
1 when an output check failed. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
SPARK_LOCAL = os.path.join(WORK, "spark-local")  # shuffle scratch, same every run
SETUPS = 3  # set-up repeats per run; setup_s is their median

def ram_bytes() -> int:
    """Physical RAM, capped by the cgroup limit when there is one."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    for path in ("/sys/fs/cgroup/memory.max", "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        try:
            with open(path) as f:
                ram = min(ram, int(f.read().strip()))
        except (OSError, ValueError):
            pass  # no such cgroup file, or "max"
    return ram


def configure_env() -> None:
    """Size the session from the machine and keep every file in the
    checkout. Must run before the JVM starts."""
    import tempfile

    tmp = os.path.join(WORK, "tmp")
    for d in (SPARK_LOCAL, tmp):
        os.makedirs(d, exist_ok=True)
    mb = ram_bytes() // (1 << 20)
    heap = min(max(mb // 4, 1024), 4096)
    offheap = min(max(mb // 16, 256), 1024)
    os.environ.update({
        "SPARK_DRIVER_MEM": f"{heap}m",
        "SPARK_OFFHEAP": f"{offheap}m",
        "SPARK_LOCAL_DIRS": SPARK_LOCAL,
        "TMPDIR": tmp,
        # Python workers import the engine from the checkout
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    os.environ.pop("WSS_SHM_LOCAL_DIR", None)
    tempfile.tempdir = tmp


def adopt_orphans() -> None:
    """Become the child subreaper, so that processes whose parent ends
    before them (PySpark's Python worker daemon when the JVM goes) are
    re-parented to this process and `stop_processes` can wait for them."""
    PR_SET_CHILD_SUBREAPER = 36
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def children() -> list[int]:
    """Pids whose parent is this process, from /proc."""
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # ended meanwhile
        # the command name may hold spaces; the fields after it do not
        if int(stat.rsplit(")", 1)[1].split()[1]) == os.getpid():
            pids.append(int(entry))
    return pids


def stop_processes(grace: float = 30.0) -> None:
    """Stop the JVM and every process started under it, and wait until
    each has ended. The JVM exits by itself when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None and getattr(gateway, "proc", None) is not None:
        gateway.shutdown()  # close py4j's connections before the JVM goes
        SparkContext._gateway = SparkContext._jvm = None
        gateway.proc.stdin.close()
        try:
            gateway.proc.wait(timeout=grace)
        except Exception:
            gateway.proc.kill()
            gateway.proc.wait()
    deadline = time.monotonic() + grace
    while pids := children():
        sig = signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.1)
        while True:  # reap what has ended
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                break
            if pid == 0:
                break


def start_spark(cores: int):
    from web_scraper_spark.session import get_spark

    tmp = os.environ["TMPDIR"]
    return get_spark(
        app_name="perfbench",
        cores=cores,
        extra_conf={
            "spark.local.dir": SPARK_LOCAL,
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            # keep every job of a traced operation in the status store
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def settings(cores: int) -> str:
    """Core count, memory, versions and scratch dir, logged with every result."""
    import pandas
    import pyarrow
    import pyspark

    return (f"local[{cores}] driver={os.environ['SPARK_DRIVER_MEM']} "
            f"offheap={os.environ['SPARK_OFFHEAP']} spark={pyspark.__version__} "
            f"pandas={pandas.__version__} pyarrow={pyarrow.__version__} "
            f"shuffle scratch={SPARK_LOCAL}")


def storage(sc) -> tuple[int, int]:
    """(cached RDDs, their bytes) held by the executors."""
    infos = sc._jsc.sc().getRDDStorageInfo()
    return len(infos), sum(i.memSize() + i.diskSize() for i in infos)


def jvm_peak_rss_mb(sc) -> float:
    pid = sc._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


class Run:
    """Bookkeeping of one benchmark run: attempts, failures, problems."""

    def __init__(self, spark, workload):
        self.spark = spark
        self.wl = workload
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.baseline = storage(spark.sparkContext)

    def attempt(self, what: str, fn, *args):
        """Run one operation or check; a raise counts as a failure."""
        self.attempted += 1
        t = time.perf_counter()
        try:
            return fn(*args)
        except Exception:
            self.failed += 1
            self.problems.append(f"{what} raised")
            traceback.print_exc()
            return None
        finally:
            print(f"perfbench: {what} {time.perf_counter() - t:.2f}s", file=sys.stderr)

    def check(self, what: str, problems: list[str] | None) -> None:
        self.attempted += 1
        if problems is None or problems:
            self.failed += 1
            self.problems += [f"{what}: {p}" for p in problems or ["not run"]]

    def clear(self) -> None:
        """Drop every cache between operations; storage must be flat."""
        from web_scraper_spark.functions import dedupops

        dedupops.unpersist_op_caches()
        self.spark.catalog.clearCache()
        now = storage(self.spark.sparkContext)
        self.check("storage flat across runs",
                   [] if now == self.baseline else [f"{now} cached, baseline {self.baseline}"])

    def prepare(self, samples: list[float], repeats: int):
        """`repeats` timed set-ups, keeping the inputs of the last one. The
        workload's untimed warm-up operation, if it has one, runs on the
        first set-up's inputs, so the JIT finishes compiling its code
        while the later set-ups run."""
        state = None
        for i in range(repeats):
            if state is not None:
                self.wl.cleanup(state)
            state = self.timed_setup(i, samples)
            if i == 0 and state is not None and self.wl.warmup:
                self.attempt("warm-up", self.wl.op, state)
                self.clear()
        return state

    def timed_setup(self, i: int, samples: list[float]):
        t = time.perf_counter()
        state = self.attempt("setup", self.wl.setup, i)
        samples.append(time.perf_counter() - t)
        return state

    def verify(self, state, out) -> None:
        self.check("output", self.attempt("check", self.wl.check, state, out[2]))


def measure(run: Run, seconds: float) -> dict:
    """End-to-end metrics of untraced operations for at least `seconds`."""
    wl = run.wl
    setup_s: list[float] = []
    state = run.prepare(setup_s, SETUPS)
    op_s: list[float] = []
    rates: list[float] = []  # items per second of each operation
    deadline = time.perf_counter() + seconds
    while state is not None:
        out = run.attempt("operation", wl.op, state)
        if out is None:
            break
        if not op_s:
            run.verify(state, out)
        op_s += out[0]
        rates.append(out[1] / sum(out[0]))
        run.clear()
        if time.perf_counter() >= deadline:
            break
        if wl.consumes_state:
            wl.cleanup(state)
            state = run.timed_setup(len(setup_s), setup_s)
    if state is not None:
        wl.cleanup(state)
    if not op_s:
        return {}
    return {
        "setup_s": statistics.median(setup_s),
        "op_s_p50": statistics.median(op_s),
        "items_per_s": statistics.median(rates),
    }


def trace(run: Run, session_s: float, trace_out: str | None) -> dict:
    """One untraced and one traced operation on the same inputs."""
    from perfbench import spans

    wl = run.wl
    sc = run.spark.sparkContext
    setup_s: list[float] = []
    # set up as often as --trace 0 runs do, so the untraced operation below
    # runs as warm as theirs and the overhead compares like with like
    state = run.prepare(setup_s, SETUPS)
    walls, tracers, m = [], [], {}
    for traced in (False, True):
        if state is None:
            state = run.timed_setup(len(setup_s), setup_s)
        if state is None:
            return {}
        tracer = spans.Tracer(sc, force=traced)
        if traced:
            spans.install(tracer)
        try:
            with tracer.span("op") as sp:
                out = run.attempt("operation", wl.op, state)
        finally:
            tracer.uninstall()
        if out is None:
            return {}
        walls.append(sp.seconds)
        tracer.collect_jobs()
        tracers.append(tracer)
        if traced:  # untraced outputs are checked by every --trace 0 run
            run.verify(state, out)
            if wl.generations:
                m.update(manifest_metrics(out[2], out[1]))
        run.clear()
        if wl.consumes_state:
            wl.cleanup(state)
            state = None
    if state is not None:
        wl.cleanup(state)

    untraced, traced = tracers
    m.update(spans.layer_metrics(traced, wl.generations))
    m.setdefault("catalog.files_written_per_gen", 0.0)
    m.setdefault("catalog.bytes_written_per_page", 0.0)
    # job counts of the program come from the untraced operation: forcing
    # fills caches early, which changes how many jobs later calls launch
    m["spark.jobs"] = float(sum(len(sp.jobs) for sp in untraced.spans))
    m["spark.tasks"] = float(sum(sp.tasks for sp in untraced.spans))
    m["crawl.gen.jobs"] = m["spark.jobs"] / wl.generations if wl.generations else 0.0
    m["session.start_s"] = session_s
    m["jvm.peak_rss_mb"] = jvm_peak_rss_mb(sc)
    m["trace.overhead_s"] = walls[1] - walls[0]
    if trace_out:
        with open(trace_out, "w") as f:
            json.dump({"workload": wl.name, "settings": settings(sc.defaultParallelism),
                       "metrics": m, "spans": traced.to_json()}, f, indent=1)
    return m


def manifest_metrics(cat, pages: int) -> dict:
    """Files and bytes each generation added, from consecutive manifests."""
    cur = cat.current_snapshot()
    files = nbytes = 0
    for sid in range(1, cur.snapshot_id + 1):
        old = {f["path"] for e in cat.snapshot(sid - 1).tables.values() for f in e["files"]}
        new = [f for e in cat.snapshot(sid).tables.values() for f in e["files"]
               if f["path"] not in old]
        files += len(new)
        nbytes += sum(f["bytes"] for f in new)
    gens = max(cur.snapshot_id, 1)
    return {
        "catalog.files_written_per_gen": files / gens,
        "catalog.bytes_written_per_page": nbytes / pages if pages else 0.0,
    }


def metric_units(section: str) -> dict[str, str]:
    """{name: unit} of the "end_to_end" or "per_layer" metrics."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


def run_workload(name: str, seed: int, seconds: float, traced: bool, trace_out: str | None):
    from perfbench.workloads import WORKLOADS

    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    wl = WORKLOADS[name](seed, run_dir)
    # the check's Spark-free part runs while the JVM starts
    oracle = threading.Thread(target=wl.expected, daemon=True)
    oracle.start()
    t = time.perf_counter()
    spark = start_spark(cores)
    session_s = time.perf_counter() - t
    oracle.join()
    wl.spark = spark
    try:
        run = Run(spark, wl)
        print(f"perfbench: {name} seed={seed} {settings(cores)}", file=sys.stderr)
        metrics = trace(run, session_s, trace_out) if traced else measure(run, seconds)
    finally:
        try:
            spark.stop()
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
    units = metric_units("per_layer" if traced else "end_to_end")
    missing = [k for k in units if k not in metrics]
    if missing and not run.problems:
        run.problems.append(f"metrics missing: {missing}")
        run.failed += 1
    for p in run.problems:
        print(f"perfbench: {name}: {p}", file=sys.stderr)
    return {
        "correct": not run.problems,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items() if k in metrics},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--trace-out", help="write the traced run's spans and metrics here")
    args = ap.parse_args(argv)

    missing = [p for p in ("web_scraper_spark", "__spark_entry__.py", "tests/oracle_sim.py")
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a web_scraper_spark checkout, missing {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.append(os.path.join(ROOT, "tests"))  # oracle_sim
    from perfbench.workloads import WORKLOADS

    names = list(WORKLOADS) if args.workload == "all" else [args.workload]
    if any(n not in WORKLOADS for n in names):
        ap.error(f"--workload must be one of {sorted(WORKLOADS)} or all")
    if args.trace_out and len(names) > 1:
        ap.error("--trace-out takes a single workload")
    configure_env()
    adopt_orphans()
    # a TERM still runs the `finally` below, which stops what was started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        results = [run_workload(n, args.seed, args.seconds, bool(args.trace), args.trace_out)
                   for n in names]
    finally:
        stop_processes()
    for name, res in zip(names, results[:-1]):
        print(json.dumps({"workload": name, **res}))
    print(json.dumps(results[-1]))
    return 0 if all(r["correct"] for r in results) else 1


if __name__ == "__main__":
    sys.exit(main())
