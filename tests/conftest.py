import os

import duckdb
import pytest

from dragnet_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    spark = get_spark(app_name="dragnet_spark_tests", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def log_tree(tmp_path_factory):
    """A FIXTURES.md §1 request-log tree, generated in-repo: five days
    from 2014-05-01 under ``%Y/%m-%d/``, two 250-line files a day
    (``0.log``, ``1.log``)."""
    from perfbench.logs import generate

    root = str(tmp_path_factory.mktemp("logs"))
    generate(root, seed=1, days=5, files_per_day=2, records_per_file=250)
    return root


@pytest.fixture(scope="session")
def tables(spark, sf_dir):
    from dragnet_spark.sources.tables import register_views

    return register_views(spark, sf_dir)


@pytest.fixture(scope="session")
def oracle(sf_dir):
    """DuckDB connection with the same tables registered as views."""
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    yield con
    con.close()


def rows_set(df):
    """Spark DataFrame → set of tuples for order-insensitive comparison."""
    return {tuple(r) for r in df.collect()}


def duck_set(con, sql):
    return {tuple(r) for r in con.execute(sql).fetchall()}
