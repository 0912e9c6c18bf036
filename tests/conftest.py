from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from impalatogo_spark.session import TABLES, get_spark  # noqa: E402

# Small SF for unit/correctness tests; the driver re-runs at sf0.01.
TEST_SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("impalatogo-spark-tests", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return TEST_SF_DIR


@pytest.fixture(scope="session")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    yield con
    con.close()


# The cancel tests' statement: unbounded for any poll window, and its tasks
# honour Spark's task kill — the codegen'd Range loop checks for
# interruption on every batch. (A nested-loop join's per-row loop never
# reaches that check: cancelled cross-join counts kept every core busy for
# the rest of a suite run.)
SLOW_SQL = "SELECT count(*) AS c FROM range(0, 9000000000000000000, 1, 4)"


@pytest.fixture
def slow_query(spark):
    """(SLOW_SQL, stages_end): after a cancel, stages_end() asserts that no
    Spark stage is still active within 30 s — the cancelled tasks ended
    instead of outliving their test."""
    import time

    def stages_end(within_s: float = 30.0) -> None:
        deadline = time.time() + within_s
        while spark.sparkContext.statusTracker().getActiveStageIds():
            assert time.time() < deadline, \
                f"a cancelled stage is still active {within_s:g}s later"
            time.sleep(0.05)

    return SLOW_SQL, stages_end
