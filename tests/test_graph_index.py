"""Round-13 pins: the persisted graph-retrieval index (walk parity vs
the in-memory adjacency + per-hop partition pruning), in-place
small-file compaction (layout locality the oracle cannot see),
adaptive IVF-PQ (fixed-budget collapse property + contract booleans),
and the filtered graph walk (predicate honored, pre >= post).

Value parity against DuckDB is the registered queries' oracle job
(scripts/diffcheck.py / tests/test_oracle.py); these tests pin the
PHYSICAL and STRUCTURAL claims."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from blspark.catalog import load_table, registry
from blspark.queries.extensions9 import _det_centroids
from tests.conftest import SF_ORACLE, SF_SMOKE


def _keyed(rows):
    return {(r["query_id"], r["rank"]): r["neighbor_id"] for r in rows}


# ---------------------------------------------------------------------------
# Persisted graph index
# ---------------------------------------------------------------------------


def test_indexed_walk_parity_with_in_memory(spark):
    """graph_expand_topk_indexed over the persisted edge table must be
    bit-identical to graph_expand_topk over the in-memory xcell
    adjacency (nav_graph_build) — same edge set, same seeds, same
    greedy rule, same
    rerank — at a walk budget DIFFERENT from the registered one (the
    oracle already pins hops=10/beam=20; this pins the library pair
    at another operating point, so the parity is structural, not one
    tuned configuration)."""
    from blspark.ext.similarity import (
        graph_expand_topk,
        graph_expand_topk_indexed,
        nav_graph_build,
    )
    from blspark.queries.extensions10 import _GXX_M, _KNN_K
    from blspark.queries.extensions12 import (
        graph_edge_table,
        graph_index_protos,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    cents = _det_centroids(emb)
    queries = emb.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 15))
    adj, protos = nav_graph_build(emb, cents, knn_k=_KNN_K, m_cross=_GXX_M)
    mem = graph_expand_topk(
        emb, queries, adj, protos, k=5, hops=4, beam=6, n_seeds=3,
    ).collect()
    it = graph_edge_table(spark, SF_SMOKE)
    idx = graph_expand_topk_indexed(
        spark, it, emb, queries, graph_index_protos(spark, SF_SMOKE, emb, cents),
        k=5, hops=4, beam=6, n_seeds=3,
    ).collect()
    assert _keyed(mem) == _keyed(idx)
    assert {(r["query_id"], r["rank"]): r["cosine"] for r in mem} == {
        (r["query_id"], r["rank"]): r["cosine"] for r in idx
    }


def test_edge_probe_is_partition_pruned(spark):
    """edge_probe's LITERAL-list shape (the static probed-cell
    convention) must be a PARTITION-PRUNED scan: the literal IN-set
    lands INSIDE the PartitionFilters bracket (an empty bracket always
    prints — substring presence alone is vacuous, gotcha 34) and the
    scanned files all live under the probed src_cell directories
    (inputFiles filtered to the table's path — gotcha 38)."""
    from blspark.ext.similarity import edge_probe
    from blspark.queries.extensions11 import _partition_files
    from blspark.queries.extensions12 import graph_edge_table

    it = graph_edge_table(spark, SF_SMOKE)
    all_cells = sorted(_partition_files(spark, it, col="src_cell"))
    assert len(all_cells) >= 4  # pruning must have something to prune
    probed = all_cells[:2]
    probe = edge_probe(spark, it, probed)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    m = re.search(
        r"PartitionFilters: \[[^\]]*src_cell[^\]]*IN \(([^)]*)\)", plan
    )
    assert m, plan
    assert {int(v) for v in m.group(1).split(",")} == set(probed)
    tbl_frag = f"/{it}/"
    idx_files = [f for f in probe.inputFiles() if tbl_frag in f]
    assert idx_files
    allowed_dirs = {f"src_cell={c}" for c in probed}
    for f in idx_files:
        assert any(d in f for d in allowed_dirs), f
    # sanity: an unpruned read would touch more directories
    all_files = [
        f for f in spark.table(it).inputFiles() if tbl_frag in f
    ]
    assert len(all_files) > len(idx_files)


def test_edge_probe_frontier_frame_is_dpp_pruned(spark):
    """edge_probe's DataFrame shape (the walk's per-hop probe since
    round 14 — one job per hop, no driver round-trip) must still
    prune the edge scan: dynamic partition pruning reuses the forced
    broadcast of the frontier-cell set as a runtime filter INSIDE the
    scan's PartitionFilters bracket, and the returned rows are
    bit-identical to the literal IN-set shape over the same cells."""
    from blspark.ext.similarity import edge_probe
    from blspark.queries.extensions11 import _partition_files
    from blspark.queries.extensions12 import graph_edge_table

    it = graph_edge_table(spark, SF_SMOKE)
    all_cells = sorted(_partition_files(spark, it, col="src_cell"))
    assert len(all_cells) >= 4
    probed = all_cells[:2]
    # mimic the walk's frontier lineage: a frame with a selective
    # filter upstream (row_number <= beam), as _beam_walk produces —
    # built from the table's ACTUAL cell ids (no contiguity assumed)
    cells_df = spark.createDataFrame(
        [(int(c),) for c in all_cells], "cell int"
    ).filter(F.col("cell").isin(probed))
    probe = edge_probe(spark, it, cells_df)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    m = re.search(
        r"PartitionFilters: \[[^\]]*src_cell[^\]]*dynamicpruning", plan
    )
    assert m, plan
    got = {
        (r["cand_id"], r["nbr"], r["nbr_cell"]) for r in probe.collect()
    }
    want = {
        (r["cand_id"], r["nbr"], r["nbr_cell"])
        for r in edge_probe(spark, it, probed).collect()
    }
    assert got == want and got


def test_registered_persist_graph_matches_xcell_query(spark):
    """The registered persisted-graph walk equals the registered
    in-memory xcell walk (they share the oracle; this pins it
    engine-side too, including the warm twin's shared body)."""
    r = registry()
    base = _keyed(
        r["x_retrieval_graph_expand_xcell"].spark_fn(
            spark, SF_SMOKE
        ).collect()
    )
    idx = _keyed(
        r["x_index_persist_graph"].spark_fn(spark, SF_SMOKE).collect()
    )
    warm = _keyed(
        r["x_index_persist_graph_warm"].spark_fn(spark, SF_SMOKE).collect()
    )
    assert base == idx == warm


# ---------------------------------------------------------------------------
# In-place compaction
# ---------------------------------------------------------------------------


def test_compact_apply_layout_locality_and_content(spark):
    """The physical claims the rebuild oracle cannot see: the plan
    picks exactly the multi-file partitions; those end at ONE file
    each; untouched partitions keep their EXACT file listing; and the
    in-place rewrite never changes content (compared against the
    shared streamed-index twin, whose raw table has identical
    logical content by construction)."""
    from blspark.queries.extensions12 import (
        _CIDX_PLAN,
        _CIDX_POST_FILES,
        _CIDX_PRE_FILES,
        compacted_streamed_index_table,
    )

    it = compacted_streamed_index_table(spark, SF_SMOKE)

    def data_files(fs):
        # the raw manifest includes hidden .crc twins; the layout
        # claims are about the visible parquet files
        return [
            f for f in fs
            if f.endswith(".parquet") and not f.startswith(".")
        ]

    pre = {c: data_files(fs) for c, fs in _CIDX_PRE_FILES[it].items()}
    post = {c: data_files(fs) for c, fs in _CIDX_POST_FILES[it].items()}
    plan = _CIDX_PLAN[it]
    # the streamed appends really created small-file debt
    assert plan, pre
    assert set(plan) == {c for c, fs in pre.items() if len(fs) > 1}
    for c in plan:
        assert len(pre[c]) > 1
        assert len(post[c]) == 1, post[c]
    untouched = [c for c in pre if c not in plan]
    for c in untouched:
        assert post[c] == pre[c]
    # total file count strictly reduced
    assert sum(map(len, post.values())) < sum(map(len, pre.values()))
    # content identity: the compacted table equals the batch encode of
    # the same corpus (the registered query also hash-checks this
    # against DuckDB; here engine-side, row-exact)
    from blspark.ext.similarity import _quantized_cells

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    batch = {
        (r["vid"], r["cell_id"], tuple(r["qvec"]), r["scale"])
        for r in _quantized_cells(emb, _det_centroids(emb)).collect()
    }
    table = {
        (r["vid"], r["cell_id"], tuple(r["qvec"]), r["scale"])
        for r in spark.table(it).collect()
    }
    assert batch == table


def test_compact_apply_untouched_partition_locality(spark):
    """The label-mean smoke geometry routes arrivals into EVERY cell,
    so the registered build compacts all partitions and the
    untouched-partition branch is vacuous there (the same reason the
    refresh-apply locality pin needed a controlled fixture —
    gotcha 41). This fixture plants small-file debt in TWO of four
    partitions and pins the locality claim directly: only those two
    rewrite (to one file each), the single-file partitions keep their
    EXACT file listing, and content is preserved row-for-row."""
    import os

    import pandas as pd

    from blspark.queries.extensions10 import _replace_warehouse_table
    from blspark.queries.extensions11 import _partition_files
    from blspark.queries.extensions12 import compact_partitions

    name = f"blspark_cidx_fixture_p{os.getpid()}"
    _replace_warehouse_table(spark, name)
    schema = "vid bigint, qvec array<int>, scale double, cell_id int"

    def frame(vids, cell):
        return spark.createDataFrame(
            pd.DataFrame(
                {
                    "vid": vids,
                    "qvec": [[v % 7, v % 5] for v in vids],
                    "scale": [0.5] * len(vids),
                    "cell_id": [cell] * len(vids),
                }
            ),
            schema,
        )

    base = frame([0, 1], 0)
    for c in (1, 2, 3):
        base = base.unionByName(frame([10 * c, 10 * c + 1], c))
    (
        base.repartition(F.col("cell_id"))
        .write.partitionBy("cell_id")
        .mode("overwrite")
        .format("parquet")
        .saveAsTable(name)
    )
    # plant per-batch small files in cells 0 and 1 only
    for c in (0, 1):
        frame([100 + c], c).write.mode("append").insertInto(name)
    def rowset(df):
        return {
            (r["vid"], tuple(r["qvec"]), r["scale"], r["cell_id"])
            for r in df.collect()
        }

    before = rowset(spark.table(name))
    pre = _partition_files(spark, name)
    plan = compact_partitions(spark, name)
    post = _partition_files(spark, name)
    assert plan == [0, 1]
    for c in (2, 3):  # untouched: exact listing, crc twins included
        assert post[c] == pre[c]
    for c in (0, 1):
        data = [
            f for f in post[c]
            if f.endswith(".parquet") and not f.startswith(".")
        ]
        assert len(data) == 1, post[c]
    assert rowset(spark.table(name)) == before
    spark.sql(f"DROP TABLE IF EXISTS {name}")


# ---------------------------------------------------------------------------
# Adaptive IVF-PQ
# ---------------------------------------------------------------------------


def test_ivfpq_adaptive_budget_collapse_matches_fixed(spark):
    """probe_lo == probe_hi == n must equal fixed ivfpq nprobe=n
    EXACTLY (ids, scores, ranks, and nprobe_used annotation) — the
    one-code-path property the float rung pins, now at the ADC rung."""
    from blspark.ext.similarity import (
        ivfpq_adaptive_query,
        ivfpq_build_index,
        ivfpq_query,
        pq_train_codebooks,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    vecs = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    cents = _det_centroids(emb)
    cb = pq_train_codebooks(vecs, 8, 8, 4)
    queries = vecs.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 15))
    codes = ivfpq_build_index(vecs, cents, cb, 8, 8)
    for n in (1, 2):
        fixed = {
            (r["query_id"], r["rank"]): (r["neighbor_id"], r["score"])
            for r in ivfpq_query(
                codes, queries, cents, cb, 8, 8, k=3, nprobe=n
            ).collect()
        }
        rows = ivfpq_adaptive_query(
            codes, queries, cents, cb, 8, 8, k=3,
            probe_lo=n, probe_hi=n, margin_threshold=0.5,
        ).collect()
        assert {
            (r["query_id"], r["rank"]): (r["neighbor_id"], r["score"])
            for r in rows
        } == fixed
        assert all(r["nprobe_used"] == n for r in rows)


def test_ivfpq_adaptive_eval_contract_booleans(spark):
    """Every pinned boolean of the ADC adaptive eval must be TRUE at
    the oracle SF (measured at both SFs before pinning — sf0.1 is
    covered by the 10x diffcheck ritual; values recorded in
    SCALE.md)."""
    row = (
        registry()["x_ivfpq_adaptive_eval"]
        .spark_fn(spark, SF_ORACLE)
        .collect()[0]
    )
    for b in (
        "recall_ok",
        "recall_ge_fixed3",
        "budget_lt_fixed4",
        "genuinely_adaptive",
        "ranks_ok",
    ):
        assert row[b] is True, (b, row)
    assert row["cells_adaptive"] < row["cells_fixed4"]


# ---------------------------------------------------------------------------
# Filtered graph walk
# ---------------------------------------------------------------------------


def test_graph_filtered_honors_predicate_and_fills_k(spark):
    """Every returned neighbor satisfies the predicate BY CONSTRUCTION
    and each query still returns a full k (the walk visits plenty of
    allowed nodes at this budget)."""
    from blspark.queries.extensions11 import _FILTER_MAX_LABEL

    rows = (
        registry()["x_retrieval_graph_filtered"]
        .spark_fn(spark, SF_ORACLE)
        .collect()
    )
    emb = load_table(spark, SF_ORACLE, "embeddings")
    labels = {
        r["vec_id"]: r["label"]
        for r in emb.select("vec_id", "label").collect()
    }
    assert rows
    for r in rows:
        assert labels[r["neighbor_id"]] < _FILTER_MAX_LABEL
    per_q = {}
    for r in rows:
        per_q.setdefault(r["query_id"], set()).add(r["rank"])
    assert all(v == {1, 2, 3, 4, 5} for v in per_q.values()), per_q


def test_graph_filtered_eval_contract_booleans(spark):
    """pre-filter rerank dominates the post-filtered shortlist at the
    identical walk, and the standard contract booleans hold (both-SF
    measurement recorded in SCALE.md; sf0.1 via the 10x ritual)."""
    row = (
        registry()["x_graph_filtered_eval"]
        .spark_fn(spark, SF_ORACLE)
        .collect()[0]
    )
    for b in ("recall_ok", "pre_ge_post", "pre_fills_k", "ranks_ok"):
        assert row[b] is True, (b, row)
    # the broken post-filter shape really does return fewer than k
    # on this data (the gap the pre-filter rung exists to close)
    assert row["n_post"] < row["n_pre"]


def test_snapshot_rollback_manifest_and_phases(spark):
    """Versioned-index plumbing: the manifest really routes the probe
    (phase 2's rows come from v2 — it finds second-half neighbors v1
    cannot contain), rollback restores phase 1's rows bit-identically,
    and the query leaves the manifest at version 1 (idempotent — a
    second run reproduces the first)."""
    from blspark.queries.extensions13 import (
        _versioned_tables,
        x_index_snapshot_rollback,
    )

    rows1 = x_index_snapshot_rollback(spark, SF_ORACLE).collect()
    by_phase = {}
    for r in rows1:
        by_phase.setdefault(r["phase"], []).append(
            (r["query_id"], r["neighbor_id"], r["score"], r["rank"])
        )
    assert set(by_phase) == {1, 2, 3}
    # rollback restores the pre-publish answers exactly
    assert sorted(by_phase[1]) == sorted(by_phase[3])
    # the published version serves the new (second-half) contents
    emb = load_table(spark, SF_ORACLE, "embeddings")
    half = emb.count() // 2
    assert all(n < half for _, n, _, _ in by_phase[1])
    assert any(n >= half for _, n, _, _ in by_phase[2])
    # served_version column reflects the manifest at serve time
    vers = {r["phase"]: r["served_version"] for r in rows1}
    assert vers == {1: 1, 2: 2, 3: 1}
    # manifest left at v1; a second full cycle is bit-identical
    _, _, man = _versioned_tables(spark, SF_ORACLE)
    assert spark.table(man).collect()[0][0] == 1
    rows2 = x_index_snapshot_rollback(spark, SF_ORACLE).collect()
    assert sorted(map(tuple, rows1)) == sorted(map(tuple, rows2))


def test_assigned_threading_bit_identical(spark):
    """The shared-pass build (one checkpointed assign_corpus pass
    feeding cell_prototypes and the navigation core graph_adjacency,
    the r14 build-constant device) must be BIT-IDENTICAL to the
    self-contained forms: keep_sim only appends a column, so the cell
    assignment, prototype argmax and within-cell edge set cannot
    differ. The core's within-cell edges equal knn_graph's, every
    endpoint cell it carries equals the self-contained assignment's
    (the cell-map join it replaces), and the backbone links
    prototypes of distinct cells only."""
    from blspark.ext.similarity import (
        _cell_assign,
        assign_corpus,
        cell_prototypes,
        graph_adjacency,
        knn_graph,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    cents = _det_centroids(emb)
    assigned = assign_corpus(emb, cents).localCheckpoint(eager=True)
    protos = cell_prototypes(emb, cents, assigned=assigned)

    def rows(df):
        return sorted(map(tuple, df.collect()))

    assert rows(protos) == rows(cell_prototypes(emb, cents))
    within = graph_adjacency(assigned, protos, knn_k=3)
    assert rows(within.select("src_id", "dst_id")) == rows(
        knn_graph(emb, cents, k=3, mutual=False).select("src_id", "dst_id")
    )
    cell_of = dict(
        _cell_assign(emb, cents, "vec_id", "embedding", 1, "nid")
        .select("nid", "cell_id")
        .collect()
    )
    nsw = rows(graph_adjacency(assigned, protos, knn_k=3, m_cross=2))
    assert len(nsw) > len(rows(within))
    for src, dst, src_cell, dst_cell in nsw:
        assert (src_cell, dst_cell) == (cell_of[src], cell_of[dst])
    proto_ids = {r["prototype_id"] for r in protos.collect()}
    backbone = set(nsw) - set(rows(within))
    assert backbone
    for src, dst, src_cell, dst_cell in backbone:
        assert src in proto_ids and dst in proto_ids and src_cell != dst_cell


def test_real_walk_frontier_lineage_is_dpp_pruned(spark):
    """ADVICE r14: the DPP pin above mimics the frontier with a
    literal createDataFrame + isin, whose lineage differs from the
    REAL walk's checkpointed-RDD + row_number frontier — DPP could
    decline on the registered walk while that pin stays green. This
    pin rebuilds the hop probe from the walk's OWN library pieces at
    the registered operating point: _proto_seeds seeds joined to the
    memoized prototype frame, localCheckpointed (the _beam_walk
    per-hop accumulator shape), beam-cut by the same window, then
    probed through edge_probe — and asserts the runtime partition
    filter lands inside the scan's PartitionFilters bracket for THAT
    lineage."""
    from pyspark.sql import Window

    from blspark.catalog import load_table
    from blspark.ext.similarity import (
        _norm,
        _proto_seeds,
        edge_probe,
        with_double_vec,
    )
    from blspark.queries.extensions10 import _GX_SEEDS, _GXX_BEAM
    from blspark.queries.extensions12 import (
        graph_edge_table,
        graph_index_protos,
    )
    from blspark.queries.extensions9 import _det_centroids

    it = graph_edge_table(spark, SF_SMOKE)
    emb = load_table(spark, SF_SMOKE, "embeddings")
    cents = _det_centroids(emb)
    protos = graph_index_protos(spark, SF_SMOKE, emb, cents)
    vecs = with_double_vec(emb, "embedding").select(
        F.col("vec_id").alias("cand_id"),
        F.col("vec").alias("cvec"),
        _norm(F.col("vec")).alias("cnorm"),
    )
    q = with_double_vec(
        emb.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 15)),
        "embedding",
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("vec").alias("qvec"),
        _norm(F.col("vec")).alias("qnorm"),
    )
    seeds = _proto_seeds(q, vecs, protos, _GX_SEEDS)
    visited = seeds.join(
        F.broadcast(
            protos.select(
                F.col("prototype_id").alias("cand_id"),
                F.col("cell_id").alias("cell"),
            )
        ),
        "cand_id",
    ).select("query_id", "cand_id", "cell", "cos_raw")
    # hop >= 1 accumulator lineage: a checkpointed RDD, exactly what
    # _beam_walk's per-hop localCheckpoint produces
    visited = visited.localCheckpoint(eager=True)
    bw = Window.partitionBy("query_id").orderBy(
        F.desc("cos_raw"), F.asc("cand_id")
    )
    frontier = (
        visited.withColumn("r", F.row_number().over(bw))
        .filter(F.col("r") <= _GXX_BEAM)
        .select("query_id", "cand_id", "cell")
    )
    probe = frontier.select("query_id", "cand_id").join(
        edge_probe(spark, it, frontier.select("cell")), "cand_id"
    )
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert re.search(
        r"PartitionFilters: \[[^\]]*src_cell[^\]]*dynamicpruning", plan
    ), plan
    assert probe.count() > 0
