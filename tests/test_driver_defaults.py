"""Queries under the driver's session defaults: Spark 4 runs with ANSI
mode on and 200 shuffle partitions, while the suite's own session turns
ANSI off and uses 8 partitions. These tests switch the shared session to
the driver's values for the duration of each case and compare against
the DuckDB oracle with the exact-``repr`` canon of scripts/diffcheck.py
(a last-ulp difference is a failure). Covered: the prefix-join family
and the similarity rungs that run through the shared route, score, rank
and rerank stages."""

from __future__ import annotations

import pytest

from blspark.catalog import registry
from scripts.diffcheck import canon
from tests.conftest import SF_ORACLE

DRIVER_CONF = {
    "spark.sql.ansi.enabled": "true",
    "spark.sql.shuffle.partitions": "200",
}

QUERIES = [
    "x_dedup_prefix_join",
    "x_prefix_join_eval",
    "x_dedup_prefix_incremental",
    "x_similarity_mrl",
    "x_similarity_ann_lsh",
    "x_similarity_ivf_sq8",
    "x_similarity_ivfpq_residual",
    "x_similarity_ivf_binary",
    "x_similarity_pq_rerank",
]


@pytest.fixture
def driver_defaults(spark):
    prev = {k: spark.conf.get(k) for k in DRIVER_CONF}
    try:
        for k, v in DRIVER_CONF.items():
            spark.conf.set(k, v)
        yield spark
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def _exact_rows(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted("|".join(canon(r[i]) for i in order) for r in rows)


@pytest.mark.parametrize("name", QUERIES)
def test_matches_oracle_under_driver_defaults(driver_defaults, duck, name):
    q = registry()[name]
    sdf = q.spark_fn(driver_defaults, SF_ORACLE)
    srows = [tuple(r) for r in sdf.collect()]
    rel = duck.execute(q.oracle)
    dcols = [d[0] for d in rel.description]
    assert sorted(sdf.columns) == sorted(dcols)
    assert srows
    assert _exact_rows(sdf.columns, srows) == _exact_rows(dcols, rel.fetchall())
