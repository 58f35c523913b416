import os
import sys
import tempfile

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession


def _test_heap_gb():
    mem_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    return max(2, min(16, int(mem_gb // 2)))


@pytest.fixture(scope="session")
def spark():
    s = (
        # local[4, 4]: maxFailures=4 (the real-cluster default). Plain
        # local[N] runs with maxFailures=1, so ONE transient task failure
        # (python worker killed under host memory/CPU contention) fails the
        # whole job — the source of flaky full-suite runs under load.
        SparkSession.builder.master("local[4, 4]")
        .appName("sitecheck-spark-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        # 16g: the suite grew past what 6g (rounds 2-4) and then 12g
        # (round 6: +9 crawl-heavy tests -> broadcast-build OOM in
        # test_resume late in the session) holds — a near-full heap turns
        # TaskMemoryManager page allocation into a retry storm (observed:
        # full suite 10x slower, then executor death mid test_sources)
        # long before a clean OOM. On a host with less than 32G a 16g heap
        # outgrows physical memory instead: the collector keeps expanding
        # the heap and the kernel kills the JVM a few tests in, failing
        # every later Spark test. So the heap is half the host's memory,
        # capped at 16g.
        .config("spark.driver.memory", f"{_test_heap_gb()}g")
        # generous RPC/heartbeat margin: under host contention a paused JVM
        # must not read as a dead one
        .config("spark.network.timeout", "600s")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # bucketed-table tests saveAsTable; keep the warehouse out of the repo
        .config("spark.sql.warehouse.dir", tempfile.mkdtemp(prefix="sw-wh-"))
        .getOrCreate()
    )
    yield s
    s.stop()


@pytest.fixture(scope="module", autouse=True)
def _sweep_caches_between_modules(spark):
    """Backstop against cross-module cache leaks: crawl tests localCheckpoint
    per-wave state, and anything left unreleased accumulates in the one
    session JVM until a late-running module dies with page-allocation
    failures (the round-2/3 full-suite flake). Releasing is each test's job;
    this sweeps whatever slipped through once per module."""
    import gc

    yield
    spark.catalog.clearCache()
    gc.collect()  # drop py refs -> ContextCleaner can free checkpoint RDDs
    spark.sparkContext._jvm.System.gc()


SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
