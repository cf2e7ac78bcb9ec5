"""Shared fixtures: one tuned SparkSession and one DuckDB connection
with the testdata tables registered as views (mirroring the driver's
correctness harness)."""

from __future__ import annotations

import itertools
import os

import pytest

TEST_SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


@pytest.fixture(scope="session")
def spark():
    from tijdloze_musicbrainz_spark.session import get_spark

    s = get_spark("tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS "
            f"SELECT * FROM read_parquet('{TEST_SF_DIR}/{name}.parquet')"
        )
    yield con
    con.close()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return TEST_SF_DIR


@pytest.fixture(scope="session")
def bench_sf01(spark) -> str:
    """The committed bench tables at sf0.01 — job budgets are pinned
    on them so they hold on any box — with every table's one-time
    catalog read taken here: it belongs to the session, not to a
    counted build."""
    from tijdloze_musicbrainz_spark.catalog import load_table

    sf = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "..", "perfbench", "data", "sf0.01",
    )
    for fn in sorted(os.listdir(sf)):
        if fn.endswith(".parquet"):
            load_table(spark, sf, fn[: -len(".parquet")])
    return sf


@pytest.fixture(scope="session")
def jobs_of(spark):
    """``jobs_of(fn) -> (fn(), n_jobs)``: the Spark jobs ``fn()``
    launches, counted through a statusTracker job group of its own."""
    sc = spark.sparkContext
    seq = itertools.count()

    def count(fn):
        group = f"jobs-of-{next(seq)}"
        sc.setJobGroup(group, "job-count probe")
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return count
