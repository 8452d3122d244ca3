from __future__ import annotations

import os
import shutil
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ningaloo_turtle_etl_spark.session import get_spark  # noqa: E402
from ningaloo_turtle_etl_spark.sources.tables import TABLES  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        "ningaloo-tests",
        master="local[4]",
        extra_conf={"spark.sql.shuffle.partitions": "4"},
    )
    yield s


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.fixture()
def feed_dir(tmp_path):
    """An append-only feed directory seeded with the events table (ST1)."""
    d = tmp_path / "feed"
    d.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", d / "part-000.parquet")
    return str(d)


def marker_job(sc, group: str) -> int:
    """Run one job in its own group and return its id once the status
    tracker has seen it (the tracker is fed asynchronously, in event order,
    so every earlier job has been recorded by then)."""
    import time

    sc.setJobGroup(group, group)
    sc.parallelize([1], 1).count()
    deadline = time.monotonic() + 60
    while not (ids := sc.statusTracker().getJobIdsForGroup(group)):
        assert time.monotonic() < deadline, f"job of {group} never reached the tracker"
        time.sleep(0.05)
    return max(ids)


def assert_df_matches_oracle(spark_df, duck_con, sql):
    """Order-insensitive compare of a Spark DataFrame against DuckDB output,
    mirroring the driver's row-count + column-sorted value check."""
    from scripts.driver_sim import norm_frame

    sdf = spark_df.toPandas()
    ddf = duck_con.sql(sql).df()
    assert sorted(c.lower() for c in sdf.columns) == sorted(
        c.lower() for c in ddf.columns
    ), f"columns differ: {sorted(sdf.columns)} vs {sorted(ddf.columns)}"
    assert len(sdf) == len(ddf), f"row count differs: {len(sdf)} vs {len(ddf)}"
    cols = sorted(c.lower() for c in sdf.columns)
    ddf.columns = [c.lower() for c in ddf.columns]
    sdf.columns = [c.lower() for c in sdf.columns]
    srows, drows = norm_frame(sdf, cols), norm_frame(ddf, cols)
    for i, (a, b) in enumerate(zip(srows, drows)):
        assert a == b, f"row {i} differs:\n  spark={a}\n  duck ={b}"
