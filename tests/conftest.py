import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession


@pytest.fixture(scope="session")
def spark():
    # cores/partitions measured separately: local[8] is ~19% faster on the
    # heavy graph/kanon tests but pays extra task overhead on the ~1000
    # tiny-data tests; 2 shuffle partitions halves task count per stage on
    # fixture-sized data without touching results (partition-invariance
    # tests repartition their own inputs explicitly)
    cores = os.environ.get("KGFORGE_TEST_CORES", "4")
    parts = os.environ.get("KGFORGE_TEST_SHUFFLE", "4")
    s = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("kgforge-tests")
        .config("spark.sql.shuffle.partitions", parts)
        .config("spark.default.parallelism", cores)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # bound plan-string rendering (SQL-listener explain strings) so a deep
        # plan can never OOM the driver just describing itself
        .config("spark.sql.maxPlanStringLength", "1048576")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    _SESSION_END.update(
        cache_entries=_cache_entries(s),
        persisted_rdds=s.sparkContext._jsc.getPersistentRDDs().size(),
    )
    s.stop()


def _cache_entries(spark) -> int:
    """Entries in the session's CacheManager: frames persisted and not yet
    unpersisted, one per distinct plan.  Local checkpoints are persisted
    RDDs without an entry, so they are not counted."""
    return spark._jsparkSession.sharedState().cacheManager().numCachedEntries()


# what the session still held when it stopped (see pytest_terminal_summary)
_SESSION_END: dict = {}


@pytest.fixture
def cache_entries(spark):
    """Leak check: ``cache_entries()`` before and after a call must agree."""
    return lambda: _cache_entries(spark)


@pytest.fixture
def persisted_rdds(spark):
    """Ids of the RDDs the SparkContext holds persisted: cached frames and
    local checkpoints alike."""
    return lambda: set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


@pytest.fixture
def caches():
    """The ``cleanup`` list for a direct call of a helper that hands up the
    frames it persists; they are unpersisted when the test ends."""
    frames: list = []
    yield frames
    for d in frames:
        d.unpersist()


def pytest_terminal_summary(terminalreporter):
    # a count, not a gate: what earlier tests or the calls they drive left
    if _SESSION_END:
        terminalreporter.write_line(
            "Spark session end: {cache_entries} cache entries, "
            "{persisted_rdds} persisted RDDs".format(**_SESSION_END)
        )


@pytest.fixture(scope="session")
def pool_runner():
    """Run a dict of thunks through a bounded thread pool and return their
    results by key — the oracle-sweep pooling pattern (round-4 verdict
    item 3) for module fixtures that precompute each test's Spark result
    concurrently while the per-test assertions stay serial and attributed.
    Spark schedules jobs submitted from concurrent threads against the one
    session; no test in this suite mutates shared state (no monkeypatch,
    no os.environ writes outside test_oracle's import-time pin)."""
    def run(jobs: dict, workers: int = 6) -> dict:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=workers) as pool:
            futs = {k: pool.submit(v) for k, v in jobs.items()}
            return {k: f.result() for k, f in futs.items()}

    return run


REF_PYTEST = "/root/reference/pytest"
