import os
import sys
import threading

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# the session default (24g) exceeds a 15 GB host; the suite runs in 8g
os.environ.setdefault("SPARK_DRIVER_MEM", "8g")

from kinbaku_spark.session import get_spark  # noqa: E402

SF_SMOKE = os.environ.get("KB_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_ORACLE = os.environ.get("KB_ORACLE_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="kinbaku_spark_tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{SF_ORACLE}/{t}.parquet'"
        )
    return con


@pytest.fixture
def run_threads():
    """``run(n, target)``: start ``target(i)`` on n threads released at
    once, under a short switch interval, and require all to finish."""

    def run(n, target):
        barrier = threading.Barrier(n)
        threads = [
            threading.Thread(target=lambda i=i: (barrier.wait(), target(i))) for i in range(n)
        ]
        interval = sys.getswitchinterval()
        sys.setswitchinterval(1e-6)
        try:
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=120)
        finally:
            sys.setswitchinterval(interval)
        assert not any(t.is_alive() for t in threads)

    return run
