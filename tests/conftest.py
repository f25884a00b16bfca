from __future__ import annotations

import os
import sys
from contextlib import contextmanager

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = os.environ.get("BLSPARK_TEST_SF_DIR", "/root/testdata/sf0.01")

# Small enough split sizes that the ~1.5 MB generated BLS file spans
# several splits, which forces the report's distributed plan.
MULTI_SPLIT = {
    "spark.sql.files.maxPartitionBytes": "256k",
    "spark.sql.files.openCostInBytes": "64k",
}


@contextmanager
def session_conf(spark, conf: dict[str, str]):
    """Set session confs for the body of a ``with`` block, then restore."""
    prev = {k: spark.conf.get(k, None) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        yield spark
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


@pytest.fixture(scope="session")
def spark():
    from blspark.session import get_spark

    s = get_spark(app_name="blspark-tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_ORACLE}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.fixture
def bls_mirror(tmp_path):
    """A report directory holding the benchmark generator's BLS file
    (~1.5 MB: one split under Spark's defaults) and its newest
    population document, with the Q1-Q3 rows plain Python computes for
    it."""
    from perfbench import blsgen

    files = blsgen.generate(301).files
    keep = {k: files[k] for k in ("pr.data.0.Current", blsgen.newest_population(files))}
    blsgen.write(keep, str(tmp_path / "mirror"))
    return str(tmp_path / "mirror"), blsgen.expected_reports(keep)
