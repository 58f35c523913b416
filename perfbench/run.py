"""Benchmark of the sitecheck_spark engine: one command per workload run.

    python3 perfbench/run.py --workload crawl_polite_resumable --seed 1 \\
        --seconds 10 --trace 0

Run it from the repository root. Each run starts one Spark session
(`local[<cores>]`, one client, closed loop), builds its inputs from
`--seed`, measures for `--seconds` and checks every output against an
oracle. The last line of stdout is one JSON object:
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
metrics are the end-to-end ones; with `--trace 1` the session also serves
the Spark UI, the crawl labels its jobs by phase, and the metrics are the
per-layer ones (see trace.py). The exit code is 0 only when every checked
output matched.

Workloads
  crawl_polite_resumable  a resumable crawl (checkpoint_dir set) driven
      one wave per `crawl()` call; the per-host budget binds on every host.
      An operation is one one-wave call: the first starts the crawl in a
      fresh checkpoint directory, later ones resume from its catalog. A
      last call resumes without running a wave; its outputs are checked.
  query_mix  the 17 headline operator queries, in a fixed order, over
      TPC-H-style tables generated from the seed. An operation is one
      query, timed through `collect()` so the timed result is the one
      compared against its DuckDB twin.

End-to-end metrics
  setup_s      session start and input materialisation; oracle time
               excluded
  op_p50_s     median operation wall time (wave_p50 / query_p50)
  work_per_s   fetched and validated requests per second of measured
               waves; queries completed per second
  peak_rss_mb  peak resident memory of the Spark JVM and its Python workers

All files a run writes (inputs, golden digests, Spark scratch space,
checkpoints) go under `.perfbench/` in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback
from contextlib import contextmanager, nullcontext

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")

POLITE_PAGES = 5000
POLITE_SEED_EVERY = 10  # ~500 seed urls: the budget binds on every host
POLITE_BUDGET = 25

E2E_UNITS = {"setup_s": "s", "op_p50_s": "s", "work_per_s": "1/s",
             "peak_rss_mb": "MB"}


class Clock:
    """Wall clock of the run, with oracle work booked separately."""

    def __init__(self):
        self.start = time.perf_counter()
        self.oracle_s = 0.0

    @contextmanager
    def oracle(self):
        t = time.perf_counter()
        try:
            yield
        finally:
            self.oracle_s += time.perf_counter() - t

    def since_start(self) -> float:
        return time.perf_counter() - self.start - self.oracle_s


# --------------------------------------------------------------- processes

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


class PeakRss(threading.Thread):
    """Samples the summed RSS of the Spark JVM and its Python workers every
    0.2 s and keeps the peak.

    Only the JVM itself and its Python workers (`python -m pyspark.daemon`
    and its forks) count: a child the JVM forks (Hadoop's local file system
    shells out for permissions) shares the JVM's memory and command line
    until it execs, and would count the JVM twice."""

    def __init__(self, jvm_pid: int):
        super().__init__(daemon=True)
        self.jvm_pid = jvm_pid
        self.peak = 0
        self._done = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _rss(self, pid: int) -> int:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                return int(fh.read().split()[1]) * self._page
        except (OSError, IndexError, ValueError):
            return 0

    def run(self) -> None:
        while not self._done.wait(0.2):
            total = self._rss(self.jvm_pid)
            for pid in descendants(self.jvm_pid):
                try:
                    with open(f"/proc/{pid}/cmdline", "rb") as fh:
                        if b"pyspark.daemon" not in fh.read():
                            continue
                except OSError:
                    continue
                total += self._rss(pid)
            self.peak = max(self.peak, total)

    def stop(self) -> None:
        self._done.set()
        self.join()


# ----------------------------------------------------------------- session

def prepare_environment() -> None:
    """Keep every file Spark and Python write inside WORK, and ship the
    package to the Python workers by PYTHONPATH."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(os.path.join(WORK, "spark-local"), exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_LOCAL_IP"] = "127.0.0.1"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )


def start_session(trace: bool):
    """local[<cores>] with shuffle and default parallelism at the core count
    and a driver heap of a quarter of the host's memory, between 1 and 8 GB.

    One partition per core, not two: a crawl wave is bound by per-task
    overhead, and twice the tasks made a crawl run about a fifth longer."""
    from pyspark.sql import SparkSession

    cores = len(os.sched_getaffinity(0))
    mem_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    heap_gb = max(1, min(8, int(mem_gb // 4)))
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        .config("spark.driver.memory", f"{heap_gb}g")
        .config("spark.driver.host", "127.0.0.1")
        .config("spark.driver.bindAddress", "127.0.0.1")
        # the heap is committed whole at start, so resident memory does not
        # follow the collector's heap-growth decisions
        .config("spark.driver.extraJavaOptions",
                f"-Xms{heap_gb}g -Djava.io.tmpdir={os.environ['TMPDIR']} "
                "-XX:-UsePerfData")
        .config("spark.sql.warehouse.dir", os.path.join(WORK, "warehouse"))
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "true" if trace else "false")
    )
    if trace:
        b = (b.config("spark.ui.retainedStages", "100000")
             .config("spark.ui.retainedJobs", "100000"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def stop_session(spark) -> None:
    """Stop Spark, close the JVM's stdin (it exits on EOF), and wait until
    the JVM and every Python worker it started have ended."""
    from pyspark import SparkContext

    started = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    # the workers are the JVM's children: once it is gone nobody waits for
    # them, so poll until each has exited
    deadline = time.time() + 30
    for pid in started:
        while _alive(pid) and time.time() < deadline:
            time.sleep(0.1)
        if _alive(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


# ---------------------------------------------------------------- workloads

def _engine_digest(res) -> tuple[dict, dict[int, int]]:
    """The crawl's digest (see data.crawl_digest) and its requests per wave."""
    from perfbench import data

    log = [
        (r["wave"], r["priority"], r["url"], r["verb"], r["post_data"], r["status"])
        for r in res.fetch_log.orderBy(
            "wave", "priority", "url", "verb", "post_data").collect()
    ]
    seen = [tuple(r) for r in res.seen.select("verb", "url", "post_data").collect()]
    digest = data.crawl_digest(log, seen, res.findings.collect())
    digest["waves"] = res.waves
    per_wave: dict[int, int] = {}
    for row in log:
        per_wave[row[0]] = per_wave.get(row[0], 0) + 1
    return digest, per_wave


def _dir_size(path: str) -> tuple[int, int]:
    n_bytes = n_files = 0
    for base, _dirs, files in os.walk(path):
        for f in files:
            n_bytes += os.path.getsize(os.path.join(base, f))
            n_files += 1
    return n_bytes, n_files


def crawl_polite_resumable(spark, args, clock: Clock) -> dict:
    import pyarrow.parquet as pq

    from perfbench import data, trace
    from sitecheck_spark.crawl import CrawlConfig, crawl
    from sitecheck_spark.sources.corpus import bench_seeds

    cache = os.path.join(WORK, "cache")
    corpus_dir = data.corpus(cache, args.seed, POLITE_PAGES, "default")
    pages = spark.read.parquet(corpus_dir)
    dictionary = spark.read.parquet(data.dictionary(cache))
    seeds = bench_seeds(POLITE_PAGES, every=POLITE_SEED_EVERY)
    ckpt = tempfile.mkdtemp(prefix="ckpt-", dir=WORK)
    sc = spark.sparkContext

    def call(waves: int):
        cfg = CrawlConfig(
            budget_per_host=POLITE_BUDGET, max_waves=waves,
            n_shards=sc.defaultParallelism, checkpoint_dir=ckpt,
            phase_labels=bool(args.trace),
        )
        res = crawl(spark, pages, seeds, cfg, dictionary=dictionary)
        spark.catalog.clearCache()
        return res

    setup_s = clock.since_start()

    layers = trace.CrawlLayers() if args.trace else None
    window = trace.StageWindow(spark) if args.trace else None
    hooks = trace.crawl_hooks(layers, sc) if args.trace else nullcontext()

    # every operation is one one-wave crawl() call: the first starts the
    # crawl in the fresh checkpoint directory, each later one resumes from
    # the catalog
    samples: list[float] = []
    waves = attempted = failed = 0
    res = None
    with hooks:
        while sum(samples) < args.seconds:
            if res is not None:
                res.release()
            attempted += 1
            if window is not None:
                window.open()
            t0 = time.time()
            res = call(waves + 1)
            t1 = time.time()
            if window is not None:
                layers.add(window.close(), t0, t1, 1)
            waves += 1
            samples.append(t1 - t0)
        # a last call resumes from the catalog and runs no wave: it reads
        # the crawl's state back (frontier, seen set, Bloom shards) and
        # returns the fetch log and findings the catalog holds, so its
        # outputs check the resume as well as every wave
        res.release()
        attempted += 1
        if window is not None:
            window.open()
        t0 = time.time()
        res = call(waves)
        resume_s = time.time() - t0
        if window is not None:
            layers.add_resume(window.close(), resume_s)
    with clock.oracle():
        want = data.golden_digest(
            cache, corpus_dir, seeds,
            {"budget_per_host": POLITE_BUDGET, "max_waves": waves},
        )
        got, per_wave = _engine_digest(res)
    res.release()
    if got != want:
        failed += 1
        print(f"perfbench: crawl differs from the golden crawl after "
              f"{waves} waves: got {got} want {want}", file=sys.stderr)

    e2e = {
        "setup_s": setup_s,
        "op_p50_s": statistics.median(samples),
        "work_per_s": sum(per_wave.values()) / sum(samples),
    }
    layer_metrics = {}
    if layers is not None:
        layer_metrics = layers.metrics(*_dir_size(ckpt))
        pdf = pq.read_table(corpus_dir).to_pandas()
        layer_metrics.update(trace.python_layers(pdf, args.seed))
        layer_metrics["trace.op_p50_s"] = e2e["op_p50_s"]
    shutil.rmtree(ckpt, ignore_errors=True)
    return {"attempted": attempted, "failed": failed, "e2e": e2e,
            "layers": layer_metrics}


class _Collected:
    """A query result pulled to the driver once; stands in for the
    DataFrame in `testing.compare`, which only reads columns and rows."""

    def __init__(self, df):
        self.columns = df.columns
        self._rows = df.collect()

    def collect(self):
        return self._rows


class _Oracle:
    """A DuckDB result computed ahead of the timed region."""

    def __init__(self, rel):
        self._df = rel.df()

    def df(self):
        return self._df


def query_mix(spark, args, clock: Clock) -> dict:
    from bench import HEADLINE
    from perfbench import data, trace
    from sitecheck_spark.queries import QUERIES, oracle_sql
    from sitecheck_spark.testing import compare, duck_connection

    tables = data.query_tables(os.path.join(WORK, "cache"), args.seed)
    # a fixed order: the pass runs cold, and the first queries absorb the
    # JVM's warm-up, so a permuted order would move that cost between queries
    order = HEADLINE
    setup_s = clock.since_start()
    with clock.oracle():
        con = duck_connection(tables)
        sqls = oracle_sql()
        want = {q: _Oracle(con.sql(sqls[q])) for q in order}

    attempted = failed = 0
    per_query: dict[str, list[float]] = {q: [] for q in order}
    passes: list[float] = []
    stages = 0
    window = trace.StageWindow(spark) if args.trace else None
    while sum(passes) < args.seconds:
        if window is not None:
            window.open()
        got = {}
        t_pass = time.perf_counter()
        for q in order:
            attempted += 1
            t0 = time.perf_counter()
            try:
                got[q] = _Collected(QUERIES[q]["fn"](spark, tables))
            except Exception:
                traceback.print_exc()
                failed += 1
                continue
            per_query[q].append(time.perf_counter() - t0)
        passes.append(time.perf_counter() - t_pass)
        if window is not None:
            stages += len(window.close()["stages"])
        with clock.oracle():
            for q, result in got.items():
                verdict = compare(result, want[q])
                if not verdict["match"]:
                    failed += 1
                    print(f"perfbench: {q}: {verdict['detail']}", file=sys.stderr)
    times = [t for ts in per_query.values() for t in ts]
    e2e = {
        "setup_s": setup_s,
        "op_p50_s": statistics.median(times),
        "work_per_s": len(times) / sum(passes),
    }
    layer_metrics = {}
    if window is not None:
        layer_metrics = {f"queries.{q}.s": statistics.median(ts) if ts else 0.0
                         for q, ts in per_query.items()}
        layer_metrics["queries.stages"] = stages / len(passes)
        layer_metrics["trace.op_p50_s"] = e2e["op_p50_s"]
    return {"attempted": attempted, "failed": failed, "e2e": e2e,
            "layers": layer_metrics}


WORKLOADS = {
    "crawl_polite_resumable": crawl_polite_resumable,
    "query_mix": query_mix,
}


def layer_units() -> dict[str, str]:
    from bench import HEADLINE
    from perfbench.trace import CRAWL_METRICS

    units = dict(CRAWL_METRICS)
    units.update({f"queries.{q}.s": "s" for q in HEADLINE})
    units["queries.stages"] = "count"
    units["trace.op_p50_s"] = "s"
    return units


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    clock = Clock()
    # import this directory's modules as `perfbench.*` only: as top-level
    # names `trace` and `data` would shadow other modules
    sys.path[0] = ROOT

    try:
        import pyspark  # noqa: F401

        import sitecheck_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2

    prepare_environment()
    spark = start_session(bool(args.trace))
    from pyspark import SparkContext

    rss = PeakRss(SparkContext._gateway.proc.pid)
    rss.start()
    try:
        result = WORKLOADS[args.workload](spark, args, clock)
    finally:
        rss.stop()
        stop_session(spark)

    if args.trace:
        values = {name: 0.0 for name in layer_units()}
        values.update(result["layers"])
        units = layer_units()
    else:
        values = dict(result["e2e"], peak_rss_mb=rss.peak / 2**20)
        units = E2E_UNITS
    failed = result["failed"]
    print(json.dumps({
        "correct": failed == 0,
        "attempted": result["attempted"],
        "failed": failed,
        "metrics": {k: {"value": float(values[k]), "unit": u}
                    for k, u in units.items()},
    }), flush=True)
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
