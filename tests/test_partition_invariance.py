"""Partition-count invariance: the numeric policy (decimal-exact sums,
raw integer-ratio divisions — see blspark/catalog.py) promises BITWISE
identical results at any parallelism. A 1000-executor cluster associates
partial aggregates in a different order than local[8]; these tests prove
the promise by running the same aggregate-heavy queries under different
shuffle-partition counts and comparing exact (repr-level) equality."""

from __future__ import annotations

import pytest

from blspark.catalog import registry
from tests.conftest import SF_ORACLE

# aggregate-heavy queries where float association order would show first
QUERIES = [
    "q1_population_stats",
    "q2_best_year",
    "q_regression_stats",
    "q_regional_revenue",
    "q_market_share",
    "x_corpus_mix",
    "x_udaf_weighted_stats",
    # the decimal-exact centroid means are the whole point of the
    # checked k-means: assignment must not flip with association order
    "x_kmeans_checked",
    # round-5 order-sensitive shapes: the CUSUM recurrence sorts inside
    # its pandas group, EWMA rides a window, MMR folds dot products and
    # greedily selects, span removal reassembles via array_sort — each
    # must be bitwise-stable however rows land in partitions
    "x_cusum_drift",
    "x_ewma_smooth",
    "x_mmr_rerank",
    "x_dedup_span_removal",
    "x_histogram_quantile_merge",
    # round-7 PQ family: codebook means are decimal-exact davg, ADC
    # folds per-pair values in subspace order (sorted collect) — both
    # must survive any association order; boilerplate strip rebuilds
    # docs from ordered arrays with a distinct-count threshold
    "x_similarity_pq_checked",
    "x_similarity_ivfpq_checked",
    "x_similarity_pq_rerank",
    "x_text_boilerplate_strip",
    # round-10 family: the SQ8 int64 core is exact by construction but
    # its cell-pruned composition rides the same centroid means and
    # argmin tie-breaks; ragged MaxSim folds per-query token maxima in
    # qm order; the eval contracts hash counts and fixed-point ratios
    "x_similarity_ivf_sq8",
    "x_retrieval_maxsim_ragged",
    "x_sq8_eval",
    "x_maxsim_eval",
    "x_ivf_sq8_eval",
    # the kNN graph's cosine ranks ride the same centroid means and
    # per-pair ordered folds; the mutual flag must not flip with how
    # edge rows land in partitions (the sq8 rung adds the exact int64
    # core and the scale product)
    "x_knn_graph",
    "x_knn_graph_sq8",
    "x_knn_graph_eval",
    "x_knn_graph_components",
    "x_cell_prototypes",
    "x_sample_weighted_topn",
    "x_sample_weighted_per_source",
    "x_bucketed_colocated_join",
    "x_partitioned_prune_scan",
    # round-11 family: the blocked self-join must be partition-count
    # invariant BY CONSTRUCTION (hash blocks derive from ids, not
    # partitioning); the beam walk's frontier/rank tie-breaks, the
    # split reassignment's argmin, and the hash-min negative draws
    # all ride deterministic devices that must not flip with layout
    "x_knn_graph_capped",
    "x_retrieval_graph_expand",
    "x_cells_split",
    "x_knn_graph_split",
    "x_negative_samples",
    "x_index_persist_scan",
    # round-13 continuation: binary thresholds are decimal-exact
    # per-dimension means (the first aggregation whose ASSOCIATION
    # ORDER could flip a packed bit — the whole family rides it), the
    # Hamming/shortlist/rerank tail is exact-integer + ordered folds;
    # the adaptive walk's convergence rule compares exact scores, so
    # per-query stop hops must not shift with layout; range search's
    # cover radii are MAX over exact doubles and the probe bound a
    # pure double compare
    "x_similarity_binary_rerank",
    "x_binary_eval",
    "x_similarity_ivf_binary",
    "x_retrieval_graph_adaptive",
    "x_similarity_range",
    "x_range_eval",
    # PCA: exact integer moments from a per-partition kernel, summed
    # by Spark, then ordered folds on the driver — the loadings and
    # the contract row must not move with the partition count
    "x_embed_pca_power",
    "x_pca_eval",
    # prefix-filter joins: the corpus union is round-robin shuffled once
    # and its shingle sets checkpointed, so partition layout must not
    # move the global df order, the per-document prefixes or the counts
    "x_dedup_prefix_join",
    "x_prefix_join_eval",
    "x_dedup_prefix_incremental",
]


def _run_exact(spark, name, n_parts):
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n_parts))
    try:
        df = registry()[name].spark_fn(spark, SF_ORACLE)
        cols = sorted(df.columns)
        return sorted(
            tuple(repr(row[c]) for c in cols) for row in df.collect()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


@pytest.mark.parametrize("name", QUERIES)
def test_bitwise_equal_across_partition_counts(spark, name):
    a = _run_exact(spark, name, 3)
    b = _run_exact(spark, name, 67)
    assert a == b
