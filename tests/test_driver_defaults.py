"""Queries under the driver's session defaults: Spark 4 runs with ANSI
mode on and 200 shuffle partitions, while the suite's own session turns
ANSI off and uses 8 partitions. These tests switch the shared session to
the driver's values for the duration of each case and compare against
the DuckDB oracle with the exact-``repr`` canon of scripts/diffcheck.py
(a last-ulp difference is a failure). Covered: the set-similarity joins
(prefix join, overlap, bucket and verify stages),
the similarity rungs that run through the shared route, score, rank
and rerank stages, the two cosine queries scored through the shared
zero-norm guard, the connected-components callers over doc ids and
over names, the graph beam walks over a navigation graph built once
(within-cell, cross-cell, filtered), and the paper's report (``report_job``) in both of its
plans, against rows computed in plain Python."""

from __future__ import annotations

import pytest

from blspark.catalog import registry
from scripts.diffcheck import canon
from tests.conftest import MULTI_SPLIT, SF_ORACLE, session_conf

DRIVER_CONF = {
    "spark.sql.ansi.enabled": "true",
    "spark.sql.shuffle.partitions": "200",
}

QUERIES = [
    "x_dedup_prefix_join",
    "x_prefix_join_eval",
    "x_dedup_prefix_incremental",
    "x_dedup_ngram_jaccard",
    "x_dedup_containment",
    "x_dedup_simhash_hamming",
    "x_lsh_eval",
    "x_similarity_mrl",
    "x_similarity_ann_lsh",
    "x_similarity_ivf_sq8",
    "x_similarity_ivfpq_residual",
    "x_similarity_ivf_binary",
    "x_similarity_pq_rerank",
    "x_similarity_cosine_topk",
    "x_similarity_ivf",
    "x_similarity_ivf_adaptive",
    "x_similarity_ivfpq_adaptive",
    "x_similarity_binary_rerank",
    "x_retrieval_maxsim_pruned",
    "x_similarity_ann_multiprobe",
    "x_retrieval_hybrid",
    "x_dedup_semantic",
    "x_dedup_components",
    "x_entity_resolution",
    "x_retrieval_graph_expand",
    "x_retrieval_graph_expand_xcell",
    "x_graph_filtered_eval",
]


@pytest.fixture
def driver_defaults(spark):
    with session_conf(spark, DRIVER_CONF):
        yield spark


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


@pytest.mark.parametrize("splits", ["one", "multi"])
def test_report_under_driver_defaults(driver_defaults, bls_mirror, splits):
    """The report over the generated BLS file, in its single-partition
    plan (the file is one split) and in its distributed plan (split
    sizes forced small): Q1 gives the reference's golden mean and sample
    std, and Q2/Q3 rows equal, by exact ``repr``, the rows computed in
    plain Python."""
    from blspark.jobs import report_job

    spark = driver_defaults
    mirror, want = bls_mirror
    with session_conf(spark, MULTI_SPLIT if splits == "multi" else {}):
        frames = report_job(spark, mirror)
        out = {k: [tuple(r) for r in df.collect()] for k, df in frames.items()}
    plan = frames["best_years"]._jdf.queryExecution().executedPlan().toString()
    assert ("Exchange hashpartitioning" in plan) == (splits == "multi"), plan
    (mean, std, n), = out["population_stats"]
    (wmean, wstd, wn), = want["population_stats"]
    assert (round(mean, 2), round(std, 2), n) == (322069808.00, 4158441.04, wn)
    assert abs(mean - wmean) <= 1e-9 * wmean and abs(std - wstd) <= 1e-9 * wstd
    for q in ("best_years", "combined_report"):
        assert [tuple(map(canon, r)) for r in out[q]] == [
            tuple(map(canon, r)) for r in want[q]
        ], q
