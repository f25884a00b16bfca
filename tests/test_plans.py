"""Physical-plan regression tests: lock in the scale-critical plan
shapes so a refactor (or a Spark upgrade changing optimizer defaults)
cannot silently reintroduce a fact-side broadcast, a single-partition
window over full data, or an unpushed filter. These assert on
`executedPlan().toString()` substrings plus a small indentation-tree
walk — robust to attribute-id churn."""

from __future__ import annotations

import os
import re

from pyspark.sql import functions as F

from blspark.catalog import registry
from scripts.diffcheck import canon
from tests.conftest import MULTI_SPLIT, SF_ORACLE, session_conf

REG = registry()


def _plan(spark, name: str) -> str:
    df = REG[name].spark_fn(spark, SF_ORACLE)
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(spark, name: str) -> str:
    """explain('formatted') text — includes scan details (PushedFilters,
    ReadSchema) that the tree toString omits."""
    df = REG[name].spark_fn(spark, SF_ORACLE)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return df._jdf.queryExecution().explainString(mode)


def _indent(line: str) -> int:
    i = 0
    while i < len(line) and line[i] in " :+-*()0123456789":
        i += 1
    return i


def _subtrees(plan: str, node: str):
    """Yield the subtree text beneath every line containing ``node``."""
    lines = plan.splitlines()
    for idx, line in enumerate(lines):
        if node not in line:
            continue
        d = _indent(line)
        sub = []
        for l2 in lines[idx + 1 :]:
            if not l2.strip() or _indent(l2) <= d:
                break
            sub.append(l2)
        yield line, "\n".join(sub)


def test_shipping_priority_fact_join_is_sort_merge(spark):
    plan = _plan(spark, "q_shipping_priority")
    assert "SortMergeJoin" in plan
    # no broadcast whose subtree scans lineitem without aggregation
    for line, sub in _subtrees(plan, "BroadcastExchange"):
        if "lineitem.parquet" in sub:
            assert "HashAggregate" in sub, "filtered lineitem scan broadcast!"


def test_best_year_has_no_window(spark):
    # the argmax is a max(struct) aggregate, not a ranking window
    plan = _plan(spark, "q2_best_year")
    assert "Window" not in plan
    assert "HashAggregate" in plan


def test_forecast_revenue_pushes_date_filter(spark):
    plan = _formatted(spark, "q_forecast_revenue")
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m and "l_shipdate" in m.group(1), plan[:2000]
    m2 = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    cols = [c.split(":")[0] for c in m2.group(1).split(",")]
    assert len(cols) <= 4, cols  # scan is column-pruned


def test_regional_revenue_dims_broadcast(spark):
    plan = _plan(spark, "q_regional_revenue")
    assert plan.count("BroadcastHashJoin") >= 2
    # the fact table feeds a broadcast JOIN probe side, never an Exchange
    # before aggregation: every Exchange subtree must contain a partial
    # aggregate (i.e. only the final small group-by shuffles)
    for line, sub in _subtrees(plan, "Exchange hashpartitioning"):
        assert "HashAggregate" in sub, f"raw fact shuffle: {line}"


def test_concat_blocks_single_partition_windows_are_post_aggregate(spark):
    plan = _plan(spark, "x_concat_blocks")
    # any single-partition exchange feeds from an
    # aggregate (the tiny shard-totals frame), never the raw scan
    for line, sub in _subtrees(plan, "Exchange SinglePartition"):
        assert "HashAggregate" in sub, "full-data single-partition exchange!"


def test_ntile_deciles_has_no_global_window_over_rows(spark):
    plan = _plan(spark, "q_ntile_deciles")
    for line, sub in _subtrees(plan, "Exchange SinglePartition"):
        assert "HashAggregate" in sub, "global ntile over raw rows came back!"


def test_text_ops_are_shuffle_free(spark):
    for name in ("x_text_token_stats", "x_text_quality", "x_text_redact_pii"):
        plan = _plan(spark, name)
        assert "Exchange" not in plan, f"{name} gained a shuffle"


def test_exact_dedup_shuffles_digest_not_text(spark):
    plan = _plan(spark, "x_dedup_exact")
    for line, sub in _subtrees(plan, "Exchange hashpartitioning"):
        assert "digest" in line, line
        assert "text" not in line, "document bodies in the shuffle key!"


def test_q1_date_range_pushes_down(spark):
    plan = _formatted(spark, "q1_population_stats")
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m and "GreaterThanOrEqual(o_orderdate" in m.group(1)
    assert "LessThan(o_orderdate" in m.group(1)


def test_dynamic_partition_pruning_engages(spark, tmp_path):
    """100 TB posture evidence: a fact table partitioned on the join
    key is pruned at RUNTIME by the dim-side filter (DPP) — the plan
    carries a dynamicpruning expression in the fact scan's partition
    filters, so only the dim-selected partitions are read. This is the
    mechanism that makes star joins over date/tenant-partitioned
    100 TB tables read gigabytes, not everything."""
    from pyspark.sql import functions as F

    fact = spark.range(20000).select(
        F.col("id"), (F.col("id") % 50).alias("pk"), (F.col("id") * 2).alias("v")
    )
    fact.write.partitionBy("pk").mode("overwrite").parquet(
        str(tmp_path / "fact")
    )
    dim = spark.range(50).select(
        F.col("id").alias("dk"), (F.col("id") % 10).alias("grp")
    )
    dim.write.mode("overwrite").parquet(str(tmp_path / "dim"))
    f = spark.read.parquet(str(tmp_path / "fact"))
    dm = spark.read.parquet(str(tmp_path / "dim")).filter(F.col("grp") == 3)
    j = f.join(dm, f.pk == dm.dk).agg(F.sum("v").alias("s"))
    j.collect()
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower()


def test_runtime_bloom_filter_injects_on_shuffle_join(spark, tmp_path):
    """Runtime-filter evidence for non-partition join keys: with the
    broadcast path off (the 100 TB fact-fact shape), Spark injects a
    bloom_filter_might_contain predicate on the large side, built from
    the selective side — rows that cannot match are dropped before the
    shuffle. Thresholds are production-scale by default (app side
    >= 10 GB); lowered here to demonstrate on test data."""
    from pyspark.sql import functions as F

    fact = spark.range(20000).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    )
    fact.write.mode("overwrite").parquet(str(tmp_path / "fact"))
    dim = spark.range(50).select(
        F.col("id").alias("dk"), (F.col("id") % 10).alias("grp")
    )
    dim.write.mode("overwrite").parquet(str(tmp_path / "dim"))
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        f = spark.read.parquet(str(tmp_path / "fact"))
        dm = spark.read.parquet(str(tmp_path / "dim")).filter(
            F.col("grp") == 3
        )
        j = f.join(dm, f.id == dm.dk).agg(F.sum("v").alias("s"))
        j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_might_contain" in plan.lower() or (
            "bloomfilter" in plan.lower()
        )
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_pq_family_no_cartesian_and_codebook_broadcasts(spark):
    """The PQ/ADC plans must never cross-product and must join the
    tiny codebook/LUT frames as broadcasts — the corpus-sized codes
    frame stays map-side."""
    for name in (
        "x_similarity_pq_checked",
        "x_similarity_ivfpq_checked",
        "x_similarity_pq_rerank",
    ):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastHashJoin" in plan, name


def test_ivf_binary_query_side_assign_skips_local_repartition(spark):
    """Only the CORPUS-side cell assign takes the local round-robin
    repartition: the query-side probe list is metadata-sized, and at
    nprobe=1 it routes through the same map-side argmin shape, so it
    must skip the repartition like every other serve path. The
    nprobe=1 plan therefore carries exactly the one exchange the
    registered nprobe=2 plan has (the window path never repartitions)."""
    from blspark.catalog import load_table
    from blspark.ext.binaryq import ivf_binary_topk
    from blspark.queries.extensions9 import _det_centroids

    key = "blspark.assign.localParallelism"
    prev = spark.conf.get(key, "")
    spark.conf.set(key, "4")
    try:
        emb = load_table(spark, SF_ORACLE, "embeddings")
        vecs = emb.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("vec")
        )
        queries = vecs.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 15))
        cents = _det_centroids(emb)
        counts = {}
        for nprobe in (1, 2):
            df = ivf_binary_topk(vecs, queries, cents, dim=64, nprobe=nprobe)
            plan = df._jdf.queryExecution().executedPlan().toString()
            counts[nprobe] = plan.count("RoundRobinPartitioning")
    finally:
        spark.conf.set(key, prev)
    assert counts == {1: 1, 2: 1}, counts


def test_boilerplate_strip_broadcasts_manifest(spark):
    """The per-source boilerplate lists join back as a broadcast (the
    rebuild is map-side); document text never shuffles."""
    plan = _plan(spark, "x_text_boilerplate_strip")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_residual_sq8_eval_plans_no_cartesian_broadcast_smalls(spark):
    """Round-8 additions keep the family's plan contract: no cartesian
    products; the metadata-sized frames (centroids, codebooks, LUT,
    probes, shortlist, queries) join as broadcasts; and SQ8's only
    corpus join is the broadcast-queries NLJ (cosine_topk's shape)
    with a WindowGroupLimit partial top-k before the exchange."""
    for name in (
        "x_similarity_ivfpq_residual",
        "x_pq_eval",
        "x_retrieval_maxsim_pruned",
    ):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastHashJoin" in plan, name
    plan = _plan(spark, "x_similarity_sq8_checked")
    assert "CartesianProduct" not in plan
    assert "WindowGroupLimit" in plan  # partial top-k pushed below the exchange
    # exactly one shuffle: the per-query top-k
    assert plan.count("Exchange") - plan.count("BroadcastExchange") <= 2


def test_round10_family_plans_no_cartesian_broadcast_smalls(spark):
    """Round-10 additions keep the family's plan contract: no cartesian
    products anywhere; the metadata-sized frames (centroids, probe
    lists, quantized queries, LUT) join as broadcasts; the corpus side
    joins on cell_id / candidate keys only."""
    for name in ("x_similarity_ivf_sq8", "x_maxsim_eval"):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastHashJoin" in plan, name
    # the UNPRUNED shapes (ragged MaxSim's full pairing; sq8_eval's
    # exact-baseline and sq8 scans) pair every (doc, query) by design —
    # the broadcast-queries NLJ (cosine_topk's shape), never a
    # cartesian; the candidate/pruned forms go through the hash join
    for name in ("x_retrieval_maxsim_ragged", "x_sq8_eval"):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" in plan, name


def test_knn_graph_self_join_keyed_not_broadcast(spark):
    """The corpus-vs-corpus kNN graph must pair rows through a KEYED
    join on cell_id (sort-merge / shuffled-hash) — at 100 TB neither
    self-join side is broadcastable, so a broadcast of the corpus (or
    a cartesian) is a scale regression. The only broadcast-NLJs are
    the metadata-sized centroid crossJoins (the _cell_assign shape),
    and the per-src top-k pushes a WindowGroupLimit partial below the
    exchange. BOTH data-sized joins must stay keyed-non-broadcast:
    the ONLY data-sized join is the pairing self-join on cell_id — so
    ANY BroadcastHashJoin in this plan means a data-sized frame got
    broadcast (the centroid crossJoins are BroadcastNestedLoopJoin,
    which is allowed and metadata-sized). Since r17 the mutual flag is
    a count() window over the canonical (least, greatest) pair key —
    the reversed-pair self-join of the edge list and its eager
    checkpoint are GONE: the final plan must show exactly ONE keyed
    join (the pairing), the pair-key count window above it, and no
    second pairing subtree."""
    for name in ("x_knn_graph", "x_knn_graph_sq8"):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastHashJoin" not in plan, name  # no data-sized broadcast
        keyed = plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin")
        assert keyed == 1, name  # the pairing only — no reverse join
        # mutual = count over the canonical pair key, in the same plan
        assert "least(" in plan and "greatest(" in plan, name
        # the one corpus pass (assignment / quantization) is still
        # materialized once and served to both self-join sides
        assert "Scan ExistingRDD" in plan, name

    # pairing shape (now materialized behind the checkpoint): the
    # mutual=False float path returns the ranked edges un-checkpointed,
    # exposing the within-cell self-join — it must stay a KEYED join
    # with the WindowGroupLimit partial top-k and NO exchange between
    # the join and the window (the r16 (cell_id, src_id) window
    # partitioning rides the join's hash(cell_id) output partitioning)
    from blspark.catalog import load_table
    from blspark.ext.similarity import knn_graph
    from blspark.queries.extensions9 import _det_centroids

    emb = load_table(spark, SF_ORACLE, "embeddings")
    pdf = knn_graph(emb, _det_centroids(emb), k=3, mutual=False)
    pplan = pdf._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in pplan
    assert "BroadcastHashJoin" not in pplan
    assert (
        pplan.count("SortMergeJoin") + pplan.count("ShuffledHashJoin") >= 1
    )
    assert "WindowGroupLimit" in pplan
    # no exchange may sit between the pairing join and the window: the
    # only hashpartitioning exchanges in this plan are the two
    # self-join inputs (and the conf-gated assignment repartition) —
    # the Window subtree itself must contain the join, not an Exchange
    # above it
    for line, sub in _subtrees(pplan, "WindowGroupLimit"):
        if "SortMergeJoin" in sub or "ShuffledHashJoin" in sub:
            assert "Exchange hashpartitioning" not in sub.split(
                "SortMergeJoin"
            )[0].split("ShuffledHashJoin")[0], sub
            break
    else:
        raise AssertionError(
            "no WindowGroupLimit directly over the pairing join:\n"
            + pplan
        )


def test_knn_graph_capped_pairs_on_block_decomposed_key(spark):
    """The skew-capped graph must pair on the block-DECOMPOSED key —
    a keyed join whose equi-key carries the cell AND both block ids
    (so no task can hold a whole hot cell's pairing), with the
    deterministic block hash (xxhash64 -> pmod) in the plan. The only
    BroadcastHashJoin is the metadata-sized per-cell block-count
    frame (|cells| rows, explicitly F.broadcast); the corpus-sized
    sides still meet in a keyed non-broadcast join, and the prepared
    frame is served from the one eager checkpoint (Scan ExistingRDD),
    not re-derived per branch."""
    plan = _plan(spark, "x_knn_graph_capped")
    assert "CartesianProduct" not in plan
    assert re.search(
        r"(SortMergeJoin|ShuffledHashJoin) \[cell_id#\d+, tgt_b#\d+, blk_a#\d+\]",
        plan,
    )
    assert "xxhash64" in plan and "pmod" in plan
    assert "ExistingRDD" in plan  # checkpointed quantized frame
    assert "WindowGroupLimit" in plan


def test_ivfpq_warm_plan_reads_checkpoint_not_training(spark):
    """The warm IVF-PQ query's executed plan must read the pre-built
    codes frame from the checkpoint (Scan ExistingRDD) — NOT re-derive
    it: no PQ-encode argmin aggregate over the corpus and no
    cell-assign subtree on the corpus side may appear in the per-batch
    query plan. The only parquet scans are the query/probe side."""
    from blspark.queries import extensions10 as x10

    x10._WARM_IVFPQ_INDEX.clear()
    try:
        plan = _plan(spark, "x_similarity_ivfpq_warm")
        assert "ExistingRDD" in plan  # codes served from the checkpoint
        assert "CartesianProduct" not in plan
        assert "BroadcastHashJoin" in plan
        # the index build runs once in _ivfpq_warm_index, not in this
        # plan: a re-derivation would put the (id, m)-keyed encode
        # argmin (min(struct(d2, code))) into the query plan and a
        # second parquet scan for the corpus. Match structural markers
        # rather than a bare "d2" substring (which any codegen id or
        # file path could contain): the argmin-over-struct aggregate
        # pattern must be absent, and the only parquet scans are the
        # two query-side reads (query vectors + probe assignment) —
        # a corpus re-derivation would add a third.
        assert not re.search(r"min\(struct\(\w*d2", plan)
        assert plan.count("Scan parquet") == 2
    finally:
        x10._WARM_IVFPQ_INDEX.clear()


def test_bucketed_join_no_exchange(spark):
    """Storage bucketing must eliminate the join shuffle entirely: both
    scans read bucketed files (Bucketed: true, all buckets selected)
    and the SortMergeJoin has ZERO Exchange anywhere below it."""
    from blspark.queries.extensions10 import bucketed_orders_customer_join

    plan = (
        bucketed_orders_customer_join(spark, SF_ORACLE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan
    assert plan.count("Bucketed: true") == 2


def test_partitioned_scan_prunes_to_one_day(spark):
    """The REGISTERED query must prune at METADATA level: the day
    equality appears INSIDE the PartitionFilters bracket (an empty
    'PartitionFilters: []' always prints, so substring presence alone
    is vacuous) and every file the scan actually reads lives under
    the one day= directory."""
    from blspark.queries.extensions10 import _PART_DAY

    df = REG["x_partitioned_prune_scan"].spark_fn(spark, SF_ORACLE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert re.search(
        r"PartitionFilters: \[[^\]]*day[^\]]*= " + _PART_DAY, plan
    ), plan
    files = df.inputFiles()
    assert len(files) > 0
    assert all(f"day={_PART_DAY}" in f for f in files)


def test_persisted_index_scan_prunes_to_probed_cells(spark):
    """The persisted-index query must read ONLY the probed cells'
    directories: the literal cell_id IN-set appears INSIDE the
    PartitionFilters bracket (empty brackets always print — gotcha:
    substring presence alone is vacuous), every file the scan reads
    lives under a probed cell_id= directory, and the probed set is a
    strict subset of the cells on disk (otherwise nothing was
    pruned). The probe side reaches the scan as a broadcast join —
    the index side never exchanges."""
    from blspark.queries.extensions10 import sq8_index_table

    df = REG["x_index_persist_scan"].spark_fn(spark, SF_ORACLE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[[^\]]*cell_id[^\]]*IN \(([^)]*)\)", plan)
    assert m, plan
    probed = {int(x) for x in m.group(1).split(",")}
    it = sq8_index_table(spark, SF_ORACLE)
    # inputFiles() unions ALL scans (the probe side reads
    # embeddings.parquet) — judge only the index table's files
    idx_files = [f for f in df.inputFiles() if it in f]
    assert len(idx_files) > 0
    assert all(
        f.rsplit("cell_id=", 1)[-1].split("/")[0] in {str(c) for c in probed}
        for f in idx_files
    ), idx_files
    all_cells = {
        r["cell_id"]
        for r in spark.table(it).select("cell_id").distinct().collect()
    }
    assert probed < all_cells  # strict subset: real pruning happened
    assert "BroadcastHashJoin" in plan


def test_persisted_index_adaptive_prunes_and_adapts(spark):
    """The ADAPTIVE persisted-index probe keeps the same physical
    pins as the fixed one (literal cell_id IN-set inside
    PartitionFilters, index files only under probed directories,
    strict-subset pruning, broadcast probe side) AND genuinely
    adapts: per-query nprobe_used is one decision in {lo, hi}, both
    branches fire on this data, and an ambiguous query's result set
    names at most hi cells."""
    from blspark.queries.extensions10 import sq8_index_table
    from blspark.queries.extensions11 import _ADAPT_HI, _ADAPT_LO

    df = REG["x_index_persist_adaptive"].spark_fn(spark, SF_ORACLE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[[^\]]*cell_id[^\]]*IN \(([^)]*)\)", plan)
    assert m, plan
    probed = {int(x) for x in m.group(1).split(",")}
    it = sq8_index_table(spark, SF_ORACLE)
    idx_files = [f for f in df.inputFiles() if it in f]
    assert len(idx_files) > 0
    assert all(
        f.rsplit("cell_id=", 1)[-1].split("/")[0] in {str(c) for c in probed}
        for f in idx_files
    ), idx_files
    all_cells = {
        r["cell_id"]
        for r in spark.table(it).select("cell_id").distinct().collect()
    }
    assert probed < all_cells  # strict subset: pruning is real
    assert "BroadcastHashJoin" in plan
    rows = df.collect()
    used = {}
    for r in rows:
        used.setdefault(r["query_id"], set()).add(r["nprobe_used"])
    assert all(len(v) == 1 for v in used.values())  # one decision/query
    decisions = {v.pop() for v in used.values()}
    assert decisions <= {_ADAPT_LO, _ADAPT_HI}
    # both margin branches fire on the oracle-SF data (measured
    # 2 confident / 3 ambiguous at sf0.01 AND sf0.1 before pinning)
    assert decisions == {_ADAPT_LO, _ADAPT_HI}


def test_persisted_index_filtered_pushes_both_predicates(spark):
    """Filtered ANN must compose BOTH storage levers in the ONE index
    scan: PartitionFilters carries the probed-cell IN-set (pruning)
    AND PushedFilters carries the label predicate (row-group
    pushdown) — plus every returned neighbor actually satisfies the
    predicate (pre-filtering: ranks are true filtered neighbors,
    never a post-filtered shortfall)."""
    from blspark.queries.extensions10 import sq8_index_table
    from blspark.queries.extensions11 import _FILTER_MAX_LABEL

    df = REG["x_index_persist_filtered"].spark_fn(spark, SF_ORACLE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[[^\]]*cell_id[^\]]*IN \(([^)]*)\)", plan)
    assert m, plan
    probed = {int(x) for x in m.group(1).split(",")}
    # the label predicate must reach the index scan's PushedFilters
    # (regex INSIDE the bracket — empty brackets always print)
    assert re.search(
        r"PushedFilters: \[[^\]]*LessThan\(label,"
        + str(_FILTER_MAX_LABEL) + r"\)",
        plan,
    ), plan
    it = sq8_index_table(spark, SF_ORACLE)
    idx_files = [f for f in df.inputFiles() if it in f]
    assert len(idx_files) > 0
    assert all(
        f.rsplit("cell_id=", 1)[-1].split("/")[0] in {str(c) for c in probed}
        for f in idx_files
    ), idx_files
    rows = df.collect()
    assert len(rows) > 0
    assert all(r["n_label"] < _FILTER_MAX_LABEL for r in rows)
    # per-query cardinality: pre-filtering still yields full top-k on
    # this data (cells are label-mixed — measured before pinning)
    per_q = {}
    for r in rows:
        per_q.setdefault(r["query_id"], []).append(r["rank"])
    assert all(sorted(v) == list(range(1, 6)) for v in per_q.values())


def test_index_refresh_apply_touches_only_move_partitions(spark):
    """The refresh apply must rewrite ONLY the move-set partitions.
    Controlled fixture (the testdata's 10 coarse label-mean cells ALL
    exchange vectors under a full refresh, so locality needs separated
    clusters): three orthogonal clusters, one boundary vector, and a
    refreshed centroid that pulls that vector from cell 1 to cell 0 —
    the apply must rewrite exactly {0, 1}, keep cell 2's files
    byte-identical, and land the moved vector in its new partition."""
    import os

    from blspark.ext.similarity import _quantized_cells
    from blspark.queries.extensions10 import _replace_warehouse_table
    from blspark.queries.extensions11 import (
        _RIDX_PRE_FILES,
        _RIDX_REWRITE_CELLS,
        _partition_files,
        apply_refresh_delta,
    )

    rows = (
        [(i, [1.0, 0.02 * i, 0.0, 0.0]) for i in range(5)]
        + [(10 + i, [0.02 * i, 1.0, 0.0, 0.0]) for i in range(5)]
        + [(20, [0.9, 1.0, 0.0, 0.0])]  # boundary: moves 1 -> 0
        + [(30 + i, [0.0, 0.0, 1.0, 0.02 * i]) for i in range(5)]
    )
    emb = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>"
    )
    old_cents = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0]),
         (2, [0.0, 0.0, 1.0, 0.0])],
        "cell_id int, centroid array<double>",
    )
    new_cents = spark.createDataFrame(
        [(0, [1.0, 0.3, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0]),
         (2, [0.0, 0.0, 1.0, 0.0])],
        "cell_id int, centroid array<double>",
    )
    it = f"blspark_sq8_ridx_fixture_p{os.getpid()}"
    _replace_warehouse_table(spark, it)
    try:
        (
            _quantized_cells(emb, old_cents)
            .repartition(F.col("cell_id"))
            .write.partitionBy("cell_id")
            .mode("overwrite")
            .format("parquet")
            .saveAsTable(it)
        )
        pre_assign = {
            r["vid"]: r["cell_id"]
            for r in spark.table(it).select("vid", "cell_id").collect()
        }
        assert pre_assign[20] == 1
        apply_refresh_delta(spark, it, emb, old_cents, new_cents)
        pre = _RIDX_PRE_FILES[it]
        rewrite = set(_RIDX_REWRITE_CELLS[it])
        post = _partition_files(spark, it)
        assert rewrite == {0, 1}  # drift-proportional, not index-wide
        assert set(post) == set(pre) == {0, 1, 2}
        assert post[2] == pre[2]  # untouched partition: exact files
        assert post[0] != pre[0] and post[1] != pre[1]
        post_assign = {
            r["vid"]: r["cell_id"]
            for r in spark.table(it).select("vid", "cell_id").collect()
        }
        assert post_assign[20] == 0
        assert {v: c for v, c in post_assign.items() if v != 20} == {
            v: c for v, c in pre_assign.items() if v != 20
        }
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {it}")


def test_pca_power_job_budget(spark):
    """PCA runs ONE corpus pass: the moment kernel's shuffle stage and
    the collect of the 2,144 summed moments. The power loop and both
    result frames live on the driver (Arrow local relations), so
    building and collecting x_embed_pca_power stays within 4 Spark
    jobs — the per-step checkpoint loop ran 13."""
    sc = spark.sparkContext
    group = "test-pca-job-budget"
    sc.setJobGroup(group, "x_embed_pca_power build + collect")
    try:
        rows = REG["x_embed_pca_power"].spark_fn(spark, SF_ORACLE).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(rows) == 64
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 1 <= len(jobs) <= 4, sorted(jobs)


def test_prefix_join_shingles_once(spark):
    """The prefix join shingles its corpus ONCE: the shingle sets are
    materialized by one eager checkpoint at build time, and every
    consumer (df pass, both prefix sides, sizes, both verify sides)
    reads that frame. The final executed plan therefore holds no
    parquet scan and no zip_with shingle expression (left lazy, each
    consumer re-scans and re-shingles the corpus), and build + collect
    stays within 10 Spark jobs."""
    sc = spark.sparkContext
    group = "test-prefix-join-shingles-once"
    sc.setJobGroup(group, "x_dedup_prefix_join build + collect")
    try:
        df = REG["x_dedup_prefix_join"].spark_fn(spark, SF_ORACLE)
        rows = df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert rows
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "FileScan parquet" not in plan
    assert "zip_with(" not in plan
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 1 <= len(jobs) <= 10, sorted(jobs)


def _mirror_sources(tmp_path):
    """Two source states and an empty mirror: the second state inserts,
    updates and deletes against the first."""
    src1, src2, mirror = tmp_path / "src1", tmp_path / "src2", tmp_path / "mirror"
    for d in (src1, src2, mirror):
        d.mkdir()
    for i in range(12):
        (src1 / f"f{i}.txt").write_text(f"v1-{i}")
        if i % 4:  # 0, 4, 8 are deleted
            (src2 / f"f{i}.txt").write_text(f"v2-{i}" if i % 3 == 0 else f"v1-{i}")
    (src2 / "new.txt").write_text("new")
    return str(src1), str(src2), str(mirror)


def _jobs_in_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, sc.statusTracker().getJobIdsForGroup(group)


def test_components_round_job_budget(spark, monkeypatch):
    """Each components round is one large-star plus one small-star step
    and ONE eager checkpoint that also counts the round's edges (an
    observed metric), so no round runs a ``count()`` job: building the
    components of a 16-node chain (5 rounds) stays within 8 jobs a
    round plus the first checkpoint and the stability probe. A count
    after every checkpoint adds 2 jobs a round (10 a round, 57 jobs in
    all), and a diameter-bounded label propagation needs 15 rounds."""
    from blspark.ext import dedup

    n = 16
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    ).repartition(8)
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
    calls = {"round": 0, "count": 0}
    star_round, count = dedup._star_round, type(edges).count

    def counted_round(e, large, dedup=True):
        calls["round"] += large
        return star_round(e, large, dedup)

    def counted_count(df):
        calls["count"] += 1
        return count(df)

    monkeypatch.setattr(dedup, "_star_round", counted_round)
    monkeypatch.setattr(type(edges), "count", counted_count)
    out, jobs = _jobs_in_group(
        spark,
        "test-components-round-budget",
        lambda: dedup.connected_components(edges, nodes),
    )
    assert calls == {"round": 5, "count": 0}, calls
    assert len(jobs) <= 8 * calls["round"] + 4, sorted(jobs)
    monkeypatch.undo()
    assert {r["component"] for r in out.collect()} == {0}


def test_mirror_sync_job_budget(spark, tmp_path):
    """One action applies the plan and counts its actions through
    accumulators. A sync into an empty mirror is that one job (the
    optimizer prunes the join with the empty manifest); a delta sync adds
    the two manifest-scan map stages of the join's shuffle. The
    persist-count-apply form ran 4 and 6."""
    from blspark.jobs import sync_job

    src1, src2, mirror = _mirror_sources(tmp_path)
    counts, jobs = _jobs_in_group(
        spark, "test-mirror-sync-full", lambda: sync_job(spark, src1, mirror)
    )
    assert counts == {"insert": 12, "update": 0, "skip": 0, "delete": 0}
    assert len(jobs) == 1, sorted(jobs)
    counts, jobs = _jobs_in_group(
        spark, "test-mirror-sync-delta", lambda: sync_job(spark, src2, mirror)
    )
    assert counts == {"insert": 1, "update": 3, "skip": 6, "delete": 3}
    assert 1 <= len(jobs) <= 3, sorted(jobs)


def test_mirror_apply_scans_mirror_below_exchange(spark, tmp_path, monkeypatch):
    """The apply mutates the very files the classification scans, so in
    the plan it executes every binaryFile scan sits below a shuffle
    exchange: the whole map stage, mirror scan included, finishes before
    any apply task starts."""
    from blspark.io.manifest import file_manifest
    from blspark.sync import apply_mirror_local, classify_mirror

    src1, src2, mirror = _mirror_sources(tmp_path)
    apply_mirror_local(
        classify_mirror(file_manifest(spark, src1), file_manifest(spark, mirror)),
        src1,
        mirror,
    )
    plan = classify_mirror(file_manifest(spark, src2), file_manifest(spark, mirror))
    applied = []
    run = type(plan).foreachPartition

    def record(df, f):
        applied.append(df)
        return run(df, f)

    monkeypatch.setattr(type(plan), "foreachPartition", record)
    counts = apply_mirror_local(plan, src2, mirror)
    assert counts == {"insert": 1, "update": 3, "skip": 6, "delete": 3}
    (df,) = applied
    text = df._jdf.queryExecution().executedPlan().toString()
    final = text.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
    # Scan locations are cut to spark.sql.maxMetadataStringLength, so
    # check both manifest scans (source and mirror) rather than match
    # the mirror's path.
    scans = [l for l in final.splitlines() if "Scan binaryFile" in l]
    below = [
        l
        for _, sub in _subtrees(final, "Exchange hashpartitioning")
        for l in sub.splitlines()
        if "Scan binaryFile" in l
    ]
    assert len(scans) == 2 and below == scans


def _report_run(spark, mirror, tag):
    """(rows, build job ids, execution job ids, executed plans) of one
    report_job over ``mirror`` with Q1-Q3 collected."""
    from blspark.jobs import report_job

    frames, build = _jobs_in_group(
        spark, f"test-report-build-{tag}", lambda: report_job(spark, mirror)
    )
    rows, execution = _jobs_in_group(
        spark,
        f"test-report-exec-{tag}",
        lambda: {k: [tuple(map(canon, r)) for r in df.collect()] for k, df in frames.items()},
    )
    plans = {
        k: df._jdf.queryExecution().executedPlan().toString() for k, df in frames.items()
    }
    return rows, build, execution, plans


def _scan_partitions(spark, path):
    from blspark.io.readers import BLS_RAW_SCHEMA

    return spark.read.schema(BLS_RAW_SCHEMA).csv(path).rdd.getNumPartitions()


def test_report_job_budget_and_single_partition_plans(spark, bls_mirror):
    """Building the report's frames runs no Spark job (the BLS file is
    read with its known layout, the population document is parsed on
    the driver). The BLS file is one split under Spark's defaults, so
    the report coalesces it to that one partition: Q1 and Q2 hold no
    exchange, Q3 only its broadcast, and Q1-Q3 collect in at most 4
    jobs (a header probe, schema inference and the exchanges' jobs made
    it 2 + 11). With split sizes small enough that the
    file spans several splits, the distributed plan and its exchanges
    come back and the rows stay identical. The split decision agrees
    with the partition count of the planned scan in both settings. Q3
    does not trim again what the report's cleaning already trimmed."""
    from blspark.io.readers import _one_split

    mirror, _ = bls_mirror
    path = os.path.join(mirror, "pr.data.0.Current")
    assert _one_split(spark, path) and _scan_partitions(spark, path) == 1
    rows, build, execution, plans = _report_run(spark, mirror, "one-split")
    assert build == [], sorted(build)
    assert 1 <= len(execution) <= 4, sorted(execution)
    assert "Exchange" not in plans["population_stats"], plans["population_stats"]
    assert "Exchange" not in plans["best_years"], plans["best_years"]
    exchanges = set(re.findall(r"\w*Exchange\b", plans["combined_report"]))
    assert exchanges == {"BroadcastExchange"}, plans["combined_report"]
    # the report trims the BLS cells once (trim_string_columns); Q3
    # compares and projects them as given
    assert "trim(trim(" not in plans["combined_report"], plans["combined_report"]

    with session_conf(spark, MULTI_SPLIT):
        assert not _one_split(spark, path) and _scan_partitions(spark, path) > 1
        multi, build, _, plans = _report_run(spark, mirror, "multi-split")
    assert build == [], sorted(build)
    assert "Exchange hashpartitioning" in plans["best_years"], plans["best_years"]
    assert "Exchange rangepartitioning" in plans["combined_report"]
    assert multi == rows
