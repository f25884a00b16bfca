"""Round-13 extension operators: the ANN lifecycle closed at the graph
and compressed-domain rungs.

- ``x_similarity_ivfpq_adaptive`` / ``x_ivfpq_adaptive_eval``: the
  query-adaptive probing knob (round 12's margin rule, shared
  ``ivf_adaptive_probe_frame``) threaded through the IVF-PQ ADC pipeline — the
  compressed-domain rung a 100 TB deployment actually serves now has
  the same recall/latency dial as the float and SQ8 rungs, priced
  against exact ground truth and both fixed budgets.
- ``x_index_persist_graph`` (+``_warm``): the beam-search navigation
  graph persisted as a cell-partitioned edge TABLE (the
  x_index_persist_scan layout applied to edges), walked with per-hop
  PARTITION-PRUNED probes — graph retrieval's build artifact becomes
  an on-disk index with the same literal-IN PartitionFilters guarantee
  as the IVF index.
- ``x_retrieval_graph_filtered`` / ``x_graph_filtered_eval``: filtered
  ANN at the graph rung — the walk stays unfiltered (non-matching
  nodes keep routing, the filtered-HNSW subtlety), only the final
  exact rerank applies the predicate; the eval pins pre-filter recall
  at-or-above the post-filtered shortlist at the identical hop budget.
- ``x_index_compact_apply``: the physical half of small-file
  compaction applied IN PLACE to the stream-appended index table —
  plan the multi-file partitions from the file manifest, rewrite ONLY
  those via dynamic partition overwrite, hash-checked equal to a batch
  rebuild with untouched partitions byte-identical.

Reference scope: the reference pipeline (lambda_functions/
report_processor.py, sync_and_fetch.py — pandas/boto3, no vector
search, no table maintenance) has none of this; the family extends
SURVEY.md §2's "training-data pipeline" charter like the rest of the
IVF/PQ/graph grid.

Shared devices (one copy each, never restated): the adaptive probe
CTE chain (extensions11._adaptive_probe_sql), the PQ training chain
and IVF prefix (extensions9), the beam-walk oracle chain
(extensions10._gx_chain), the layout-table memo machinery
(extensions10._layout_tables), the partition file manifest
(extensions11._partition_files), and the streamed raw-index build
(streaming_q.build_streamed_raw_index).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from blspark.catalog import load_table, register
from blspark.queries.extensions9 import (
    _CODESC_CTE,
    _DOTQ,
    _IVF_PREFIX_SQL,
    _LUT_CTE,
    _PQ_K,
    _PQ_KS,
    _PQ_M,
    _PQ_SUBDIM,
    _PQ_TRAIN_SQL,
    _SV_CTE,
    _det_centroids,
    _ivf_prefix_sql,
)
from blspark.queries.extensions10 import (
    _GX_K,
    _GX_SEEDS,
    _GXX_BEAM,
    _GXX_HOPS,
    _GXX_M,
    _KNN_K,
    _SQ8_EVAL_N,
    GRAPH_EXPAND_XCELL_ORACLE,
    _gx_chain,
    _layout_tables,
    _recall_contract,
    _session_memo,
)
from blspark.queries.extensions11 import (
    _ADAPT_HI,
    _ADAPT_LO,
    _ADAPT_THR,
    _FILTER_MAX_LABEL,
    _Q_FILTER,
    _adaptive_probe_sql,
    _cos_sql,
    _partition_files,
)

# ---------------------------------------------------------------------------
# Query-adaptive probing at the IVF-PQ (ADC / compressed-domain) rung
# ---------------------------------------------------------------------------

IVFPQ_ADAPTIVE_ORACLE = f"""
WITH {_IVF_PREFIX_SQL},
{_adaptive_probe_sql(_Q_FILTER)},
{_SV_CTE},
{_PQ_TRAIN_SQL},
{_CODESC_CTE},
{_LUT_CTE},
scored AS (
  SELECT l.query_id, s.vec_id AS neighbor_id, p.nprobe_used,
         list_sum(list(l.val ORDER BY l.m)) AS score_raw
  FROM codesc s
  JOIN probe p ON s.cell_id = p.cell_id
  JOIN lut l ON l.query_id = p.query_id
            AND s.m = l.m AND s.code = l.code
  WHERE s.vec_id <> p.query_id
  GROUP BY l.query_id, s.vec_id, p.nprobe_used
)
SELECT query_id, neighbor_id, nprobe_used,
       ROUND(score_raw, 6) AS score, rank FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (
      PARTITION BY query_id
      ORDER BY score_raw DESC, neighbor_id ASC) AS INT) AS rank
  FROM scored) t
WHERE rank <= {_PQ_K}
"""


@register(
    "x_similarity_ivfpq_adaptive",
    bench=True,
    oracle=IVFPQ_ADAPTIVE_ORACLE,
    doc="IVF-PQ with QUERY-ADAPTIVE probing, full SQL oracle — round "
    "12's margin knob (top1 - top2 centroid-cosine >= 0.05 -> scan "
    "probe_lo=2 cells, below -> widen to probe_hi=4) threaded "
    "through the compressed-domain ADC pipeline, the rung a 100 TB "
    "deployment actually serves: probed-cell pruning and one-byte "
    "ADC codes COMPOSE, so a confident query's scan is probe_lo "
    "cells x M one-byte codes while only boundary queries pay the "
    "wide fan-out. One copy of every device: the probe decision is "
    "the shared ivf_adaptive_probe_frame rule (bit-identical to the float/SQ8 "
    "rungs — same centroids, same margins), the LUT build and the "
    "ordered ADC fold are ivfpq_query's _adc scan verbatim, "
    "so probe_lo == probe_hi == n equals fixed ivfpq nprobe=n "
    "exactly (property-tested in tests/test_graph_index.py). "
    "nprobe_used rides the scoring join (_adc keep=) and is "
    "hash-checked. ext/similarity.ivfpq_build_index + "
    "ivfpq_adaptive_query.",
)
def x_similarity_ivfpq_adaptive(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from blspark.ext.similarity import (
        ivfpq_adaptive_query,
        ivfpq_build_index,
        pq_train_codebooks,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    vecs = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    cents = _det_centroids(emb)
    cb = pq_train_codebooks(vecs, _PQ_M, _PQ_SUBDIM, _PQ_KS)
    queries = vecs.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 15))
    codes = ivfpq_build_index(vecs, cents, cb, _PQ_M, _PQ_SUBDIM)
    return ivfpq_adaptive_query(
        codes, queries, cents, cb, _PQ_M, _PQ_SUBDIM, k=_PQ_K,
        probe_lo=_ADAPT_LO, probe_hi=_ADAPT_HI,
        margin_threshold=_ADAPT_THR,
    )


# the ADC ranked top-k over a given probe CTE — the eval runs it for
# the adaptive AND the fixed-3 probe lists (one fragment, two uses)
_ADC_RANKED_SQL = f"""
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
             ORDER BY score_raw DESC, neighbor_id ASC) AS r
    FROM (
      SELECT l.query_id, s.vec_id AS neighbor_id,
             list_sum(list(l.val ORDER BY l.m)) AS score_raw
      FROM codesc s
      JOIN {{probe}} p ON s.cell_id = p.cell_id
      JOIN lut l ON l.query_id = p.query_id
                AND s.m = l.m AND s.code = l.code
      WHERE s.vec_id <> p.query_id
      GROUP BY l.query_id, s.vec_id) g) t
  WHERE r <= {_PQ_K}
"""

_PQA_TP_SQL = (
    "SELECT COUNT(*) FROM approx a JOIN exact e "
    "ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id"
)
_PQA_TP3_SQL = (
    "SELECT COUNT(*) FROM approx3 a JOIN exact e "
    "ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id"
)

IVFPQ_ADAPTIVE_EVAL_ORACLE = f"""
WITH {_ivf_prefix_sql(f"WHERE vec_id < {_SQ8_EVAL_N}")},
{_adaptive_probe_sql(_Q_FILTER)},
probe3 AS MATERIALIZED (
  SELECT query_id, cell_id FROM qsim WHERE r <= 3
),
{_SV_CTE},
{_PQ_TRAIN_SQL},
{_CODESC_CTE},
{_LUT_CTE},
exact AS MATERIALIZED (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
             ORDER BY {_cos_sql("n.vec", "q.vec")} DESC,
                      n.vec_id ASC) AS r
    FROM vecs q, vecs n
    WHERE q.vec_id >= 10 AND q.vec_id < 15 AND n.vec_id <> q.vec_id) t
  WHERE r <= {_PQ_K}
),
approx AS MATERIALIZED ({_ADC_RANKED_SQL.format(probe="probe")}),
approx3 AS MATERIALIZED ({_ADC_RANKED_SQL.format(probe="probe3")}),
split AS (
  SELECT
    CAST(SUM(CASE WHEN nprobe_used = {_ADAPT_LO} THEN 1 ELSE 0 END)
         AS BIGINT) AS n_confident,
    CAST(SUM(CASE WHEN nprobe_used = {_ADAPT_HI} THEN 1 ELSE 0 END)
         AS BIGINT) AS n_ambiguous
  FROM (SELECT DISTINCT query_id, nprobe_used FROM probe) t
)
SELECT
  CAST((SELECT COUNT(*) FROM vecs
        WHERE vec_id >= 10 AND vec_id < 15) AS INT) AS n_queries,
  CAST((SELECT COUNT(*) FROM approx) AS INT) AS n_adaptive,
  CAST((SELECT COUNT(*) FROM exact) AS INT) AS n_truth,
  CAST(({_PQA_TP_SQL}) AS INT) AS n_tp,
  CAST(({_PQA_TP_SQL}) * 10000 // (SELECT COUNT(*) FROM exact)
       AS BIGINT) AS recall_bp,
  ({_PQA_TP_SQL}) * ((SELECT COUNT(*) FROM vecs) - 1)
    >= 10 * {_PQ_K} * (SELECT COUNT(*) FROM exact) AS recall_ok,
  CAST((SELECT COUNT(*) FROM probe) AS INT) AS cells_adaptive,
  CAST((SELECT COUNT(*) FROM probe3) AS INT) AS cells_fixed3,
  CAST((SELECT COUNT(*) FROM qsim WHERE r <= 4) AS INT) AS cells_fixed4,
  CAST(({_PQA_TP3_SQL}) AS INT) AS n_tp_fixed3,
  CAST(({_PQA_TP3_SQL}) * 10000 // (SELECT COUNT(*) FROM exact)
       AS BIGINT) AS recall_fixed3_bp,
  ({_PQA_TP_SQL}) >= ({_PQA_TP3_SQL}) AS recall_ge_fixed3,
  (SELECT COUNT(*) FROM probe)
    < (SELECT COUNT(*) FROM qsim WHERE r <= 4) AS budget_lt_fixed4,
  (SELECT n_confident >= 1 AND n_ambiguous >= 1 FROM split)
    AS genuinely_adaptive,
  (SELECT bool_and(n = {_PQ_K}) FROM (
     SELECT query_id, COUNT(*) AS n FROM approx GROUP BY query_id) t)
    AS ranks_ok
"""


@register(
    "x_ivfpq_adaptive_eval",
    oracle=IVFPQ_ADAPTIVE_EVAL_ORACLE,
    doc="Adaptive-probing evaluation at the ADC rung — the "
    "x_ivf_adaptive_eval contract re-priced in the compressed domain "
    "over the fixed 500-vector sample universe (measured "
    "independently at sf0.01 and sf0.1 before pinning, gotcha 17): "
    "recall_ge_fixed3 pins that adaptive (2,4,0.05) ADC recall is at "
    "least fixed nprobe=3's — NOT structural in the compressed "
    "domain (approximate scores mean a wider candidate pool can "
    "displace true positives), which is exactly why the ADC rung "
    "needs its own eval rather than inheriting the float one's — "
    "while budget_lt_fixed4 pins the scanned-cell count strictly "
    "under fixed nprobe=4's and genuinely_adaptive pins that both "
    "margin branches fire. Probe budgets are COUNTED from the same "
    "adaptive-probe chain the query runs (one CTE, one library "
    "rule); codes/LUT/fold are the shared PQ oracle fragments "
    "(extensions9) verbatim. Standard contract columns via "
    "_recall_contract.",
)
def x_ivfpq_adaptive_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blspark.ext.similarity import (
        cosine_topk,
        ivf_adaptive_probe_frame,
        ivfpq_adaptive_query,
        ivfpq_build_index,
        ivfpq_query,
        pq_train_codebooks,
    )

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < _SQ8_EVAL_N
    )
    vecs = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    cents = _det_centroids(emb)
    cb = pq_train_codebooks(vecs, _PQ_M, _PQ_SUBDIM, _PQ_KS)
    queries = vecs.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 15))
    # ONE codes frame for both the adaptive and the fixed-3 runs (the
    # write-once corpus side; at scale this is the persisted index)
    codes = ivfpq_build_index(vecs, cents, cb, _PQ_M, _PQ_SUBDIM)

    adaptive = ivfpq_adaptive_query(
        codes, queries, cents, cb, _PQ_M, _PQ_SUBDIM, k=_PQ_K,
        probe_lo=_ADAPT_LO, probe_hi=_ADAPT_HI,
        margin_threshold=_ADAPT_THR,
    )
    fixed3 = ivfpq_query(
        codes, queries, cents, cb, _PQ_M, _PQ_SUBDIM, k=_PQ_K, nprobe=3
    )
    exact = cosine_topk(vecs, queries, vec_col="vec", k=_PQ_K).select(
        "query_id", "neighbor_id"
    )

    probe_a = ivf_adaptive_probe_frame(
        queries, cents, vec_col="vec",
        probe_lo=_ADAPT_LO, probe_hi=_ADAPT_HI,
        margin_threshold=_ADAPT_THR,
    )
    probe_f3 = ivf_adaptive_probe_frame(
        queries, cents, vec_col="vec", probe_lo=3, probe_hi=3,
        margin_threshold=_ADAPT_THR,
    )
    probe_f4 = ivf_adaptive_probe_frame(
        queries, cents, vec_col="vec", probe_lo=4, probe_hi=4,
        margin_threshold=_ADAPT_THR,
    )
    cells_a = probe_a.agg(F.count("*").cast("int").alias("cells_adaptive"))
    cells_f3 = probe_f3.agg(F.count("*").cast("int").alias("cells_fixed3"))
    cells_f4 = probe_f4.agg(F.count("*").cast("int").alias("cells_fixed4"))
    ntp_f3 = (
        fixed3.select("query_id", "neighbor_id")
        .join(exact, ["query_id", "neighbor_id"])
        .agg(F.count("*").cast("int").alias("n_tp_fixed3"))
    )
    split = (
        probe_a.select("query_id", "nprobe_used")
        .distinct()
        .agg(
            F.sum(
                F.when(F.col("nprobe_used") == _ADAPT_LO, 1).otherwise(0)
            ).alias("n_confident"),
            F.sum(
                F.when(F.col("nprobe_used") == _ADAPT_HI, 1).otherwise(0)
            ).alias("n_ambiguous"),
        )
    )

    def extra(joined: DataFrame) -> list:
        return [
            F.col("cells_adaptive"),
            F.col("cells_fixed3"),
            F.col("cells_fixed4"),
            F.col("n_tp_fixed3"),
            F.expr(
                "CAST(n_tp_fixed3 * 10000 div n_truth AS BIGINT)"
            ).alias("recall_fixed3_bp"),
            (F.col("n_tp") >= F.col("n_tp_fixed3")).alias(
                "recall_ge_fixed3"
            ),
            (F.col("cells_adaptive") < F.col("cells_fixed4")).alias(
                "budget_lt_fixed4"
            ),
            (
                (F.col("n_confident") >= 1) & (F.col("n_ambiguous") >= 1)
            ).alias("genuinely_adaptive"),
        ]

    return _recall_contract(
        vecs, queries, adaptive, exact, "n_adaptive", _PQ_K,
        extra=extra,
        extra_frames=(cells_a, cells_f3, cells_f4, ntp_f3, split),
    )


# ---------------------------------------------------------------------------
# Persisted graph-retrieval index (cell-partitioned edge table)
# ---------------------------------------------------------------------------

_GXIDX_TABLES: dict[tuple[str, str], tuple[str, ...]] = {}


def graph_edge_table(spark: SparkSession, sf_dir: str) -> str:
    """The NSW navigation edges (within-cell kNN edges + prototype
    backbone, ``graph_adjacency``) written ONCE as a warehouse
    table PARTITIONED by the source node's IVF cell — the storage-
    layout lever applied to graph retrieval's build artifact, closing
    the gap with the IVF family (whose index has had the persisted
    form since x_index_persist_scan): rows are (node, nbr, nbr_cell)
    under one directory per src_cell, so a beam hop that expands a
    frontier living in C cells is a PARTITION-PRUNED scan of C/|cells|
    of the edge bytes. ``nbr_cell`` is stored ON the edge (the cell
    assignment is unique per node) so the NEXT hop's frontier cells
    are known without ever touching a corpus-sized node->cell map —
    the device that makes the per-hop pruning self-sustaining. Same
    memo/pid-name/GC machinery as every layout demo
    (``_layout_tables``); one file per partition (repartition on the
    partition column first, gotcha 34)."""
    from blspark.ext.similarity import (
        _undirect,
        assign_corpus,
        graph_adjacency,
    )

    def build(it):
        emb = load_table(spark, sf_dir, "embeddings")
        cents = _det_centroids(emb)
        # ONE shared cell-assignment pass for the whole build (the r13
        # verdict's build-constant item): the kNN edges, the prototype
        # backbone (selection + vector fetch) and the src/nbr cell map
        # all consumed their own argmin scan before — checkpointing
        # the one pass turns 4+ corpus scans into 1. Build-time-only
        # materialization, amortized across query batches (the
        # blocked-join trade); serving paths keep recompute.
        assigned = assign_corpus(emb, cents).localCheckpoint(eager=True)
        # Pre-seed the serving-path prototype memo from the SAME pass
        # (r15: the cold entry previously paid a second argmin scan +
        # argmax aggregation inside graph_index_protos right after
        # this build had everything needed in hand), and thread the
        # memoized frame into the backbone so its argmax never re-runs.
        protos = graph_index_protos(spark, sf_dir, emb, cents,
                                    assigned=assigned)
        # The navigation core un-materialized: the edges are consumed
        # exactly once by the table write below, so no checkpoint. The
        # undirected distinct is deferred to AFTER the repartition on
        # src_cell — (cand_id, nbr) functionally determines src_cell,
        # so the write's own shuffle already clusters the duplicate key
        # and the distinct runs partition-local (one exchange total,
        # r15). Endpoint cells ride the edges from construction (r16),
        # so no join of the |corpus| x k edge list against the
        # node->cell map follows — the write's repartition is the
        # build's only edge-list exchange.
        adj = _undirect(
            graph_adjacency(assigned, protos, knn_k=_KNN_K, m_cross=_GXX_M)
        )
        edges = adj.select(
            F.col("cand_id").alias("node"), "nbr", "nbr_cell", "src_cell"
        )
        (
            edges.repartition(F.col("src_cell"))
            .dropDuplicates()
            .write.partitionBy("src_cell")
            .mode("overwrite")
            .format("parquet")
            .saveAsTable(it)
        )

    return _layout_tables(
        _GXIDX_TABLES, spark, sf_dir, ("blspark_gx_edges",), build
    )[0]


_GXIDX_PROTOS: dict[tuple[str, str], object] = {}


def graph_index_protos(spark: SparkSession, sf_dir: str, emb, cents,
                       assigned=None):
    """Memoized (cell_id, prototype_id) local_relation for the
    persisted-graph SERVING path — the |cells|-row twin of the edge
    table itself: both are build artifacts a deployment amortizes
    across query batches, so a warm probe pays ZERO corpus
    aggregations before the walk (the prototype argmax previously
    re-ran per call). Keyed per (session, dataset, input plans) with
    dead-session eviction (_session_memo): ``emb``/``cents``' analyzed
    semantic hashes join the key (via ``frames=``), so an eval-sample
    filter hashes to its own entry instead of being served the
    full-corpus prototypes. ``assigned``: optional shared
    ``assign_corpus`` pass — the edge-table build pre-seeds the memo
    with it so the cold path's prototype argmax rides the build's one
    corpus scan (``assigned`` is NOT part of the key: by construction
    it is derived from exactly (emb, cents), so the value is the
    same either way)."""
    from blspark.ext.similarity import cell_prototypes
    from blspark.ops import local_relation

    return _session_memo(
        _GXIDX_PROTOS, spark, sf_dir,
        lambda: local_relation(
            cell_prototypes(emb, cents, assigned=assigned).select(
                "cell_id", "prototype_id"
            ),
            "cell_id int, prototype_id bigint",
        ),
        frames=(emb, cents),
    )


def _indexed_xcell_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared body of the persist-graph pair: build-or-reuse the edge
    table, walk it at the xcell operating point."""
    from blspark.ext.similarity import graph_expand_topk_indexed

    it = graph_edge_table(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 15))
    return graph_expand_topk_indexed(
        spark,
        it,
        emb,
        queries,
        graph_index_protos(spark, sf_dir, emb, _det_centroids(emb)),
        k=_GX_K,
        hops=_GXX_HOPS,
        beam=_GXX_BEAM,
        n_seeds=_GX_SEEDS,
    )


@register(
    "x_index_persist_graph",
    bench=True,
    oracle=GRAPH_EXPAND_XCELL_ORACLE,
    doc="NSW beam-search retrieval against a PERSISTED cell-"
    "partitioned edge table — result-identical to "
    "x_retrieval_graph_expand_xcell (same oracle; walk-parity vs the "
    "in-memory adjacency pinned in tests/test_graph_index.py), the "
    "x_index_persist_scan serving shape applied to the graph family: "
    "the adjacency (within-cell kNN edges + prototype backbone) is "
    "written once per dataset as (node, nbr, nbr_cell) partitioned "
    "by the source node's cell, and each of the 10 beam hops then "
    "scans ONLY the frontier's cells — a broadcast of the frontier's "
    "cell set that dynamic partition pruning turns into the scan's "
    "runtime PartitionFilter (plan-pinned; one job per hop, no "
    "driver round-trip), "
    "with the next hop's cells riding in on nbr_cell so no corpus-"
    "sized node->cell map is ever consulted. At 100 TB this is the "
    "complete graph-serving lifecycle: build amortized to zero "
    "across query batches, per-hop IO = |frontier cells|/|cells| of "
    "the edge bytes, per-query cost still O(seeds + hops*beam*"
    "degree). ext/similarity.graph_expand_topk_indexed.",
)
def x_index_persist_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _indexed_xcell_walk(spark, sf_dir)


@register(
    "x_index_persist_graph_warm",
    bench=True,
    oracle=GRAPH_EXPAND_XCELL_ORACLE,
    doc="The persisted-graph probe path ALONE — result-identical to "
    "x_index_persist_graph (same oracle, same body), registered "
    "separately so the bench attributes build vs walk the "
    "scan/scan_warm way: the plain entry's cold number charges the "
    "one-time edge-TABLE build (kNN graph + backbone + partitioned "
    "write) plus the walk, while this entry runs after it in the "
    "name-sorted bench pass and finds the table memoized for the "
    "session (graph_edge_table's _layout_tables memo), so its cold "
    "number prices exactly the production steady-state: seed, then "
    "10 partition-pruned hop probes, then the exact rerank.",
)
def x_index_persist_graph_warm(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _indexed_xcell_walk(spark, sf_dir)


# ---------------------------------------------------------------------------
# Filtered ANN at the graph rung (pre-filter rerank, unfiltered walk)
# ---------------------------------------------------------------------------

_GF_FILTER_SQL = (
    f" AND cand IN (SELECT vec_id FROM embeddings"
    f" WHERE label < {_FILTER_MAX_LABEL})"
)

GRAPH_FILTERED_ORACLE = f"""
WITH {_gx_chain(cross_m=_GXX_M, hops=_GXX_HOPS, beam=_GXX_BEAM,
                result_filter=_GF_FILTER_SQL)}
SELECT query_id, neighbor_id, ROUND(cos_raw, 6) AS cosine, rank
FROM gx WHERE rank <= {_GX_K}
"""


@register(
    "x_retrieval_graph_filtered",
    oracle=GRAPH_FILTERED_ORACLE,
    doc="FILTERED ANN at the graph rung — the x_index_persist_filtered "
    "pre-filter contract carried to beam-search retrieval, with the "
    "standard filtered-HNSW subtlety done right: the WALK is "
    "unfiltered (label >= 5 nodes still navigate — pruning them from "
    "the graph would disconnect routes exactly where the predicate "
    "is selective), and the predicate applies only to the final "
    "exact rerank over everything visited (graph_expand_topk's "
    "allowed= semi-join), so every returned neighbor satisfies "
    "label < 5 BY CONSTRUCTION while recall stays at the walk's "
    "reachability, never a post-filtered shortlist's (the "
    "x_graph_filtered_eval contract prices that gap at equal hop "
    "budget). Oracle: the shared beam chain verbatim with the "
    "predicate on the final rank's candidates only "
    "(_gx_chain result_filter=).",
)
def x_retrieval_graph_filtered(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from blspark.ext.similarity import graph_expand_topk, nav_graph_build

    emb = load_table(spark, sf_dir, "embeddings")
    cents = _det_centroids(emb)
    queries = emb.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 15))
    # one shared assignment pass for edges + backbone + seeds (r14)
    adj, protos = nav_graph_build(
        emb, cents, knn_k=_KNN_K, m_cross=_GXX_M
    )
    allowed = emb.filter(F.col("label") < _FILTER_MAX_LABEL).select(
        F.col("vec_id").alias("cand_id")
    )
    return graph_expand_topk(
        emb,
        queries,
        adj,
        protos,
        k=_GX_K,
        hops=_GXX_HOPS,
        beam=_GXX_BEAM,
        n_seeds=_GX_SEEDS,
        allowed=allowed,
    )


_GF_DOT = _DOTQ.format(a="q.vec", b="n.vec")

_GF_PRE_TP_SQL = (
    "SELECT COUNT(*) FROM pre a JOIN exact e "
    "ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id"
)
_GF_POST_TP_SQL = (
    "SELECT COUNT(*) FROM post a JOIN exact e "
    "ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id"
)

GRAPH_FILTERED_EVAL_ORACLE = f"""
WITH {_gx_chain(f"WHERE vec_id < {_SQ8_EVAL_N}", cross_m=_GXX_M,
                hops=_GXX_HOPS, beam=_GXX_BEAM)},
allowed AS MATERIALIZED (
  SELECT vec_id FROM embeddings
  WHERE label < {_FILTER_MAX_LABEL} AND vec_id < {_SQ8_EVAL_N}
),
pre AS MATERIALIZED (
  SELECT query_id, cand AS neighbor_id, rank FROM (
    SELECT query_id, cand,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id
             ORDER BY cos_raw DESC, cand ASC) AS INT) AS rank
    FROM v{_GXX_HOPS}
    WHERE cand <> query_id
      AND cand IN (SELECT vec_id FROM allowed)) t
  WHERE rank <= {_GX_K}
),
post AS MATERIALIZED (
  SELECT query_id, neighbor_id FROM gx
  WHERE rank <= {_GX_K}
    AND neighbor_id IN (SELECT vec_id FROM allowed)
),
exact AS MATERIALIZED (
  SELECT query_id, neighbor_id FROM (
    SELECT q.query_id, n.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY q.query_id
             ORDER BY CASE WHEN (q.nrm * n.nrm) > 0
                           THEN {_GF_DOT} / (q.nrm * n.nrm)
                           ELSE CAST('-infinity' AS DOUBLE) END DESC,
                      n.vec_id ASC) AS r
    FROM qv q
    JOIN sized n ON n.vec_id <> q.query_id
    WHERE n.vec_id IN (SELECT vec_id FROM allowed)) t
  WHERE r <= {_GX_K}
)
SELECT
  CAST((SELECT COUNT(*) FROM qv) AS INT) AS n_queries,
  CAST((SELECT COUNT(*) FROM pre) AS INT) AS n_pre,
  CAST((SELECT COUNT(*) FROM exact) AS INT) AS n_truth,
  CAST(({_GF_PRE_TP_SQL}) AS INT) AS n_tp,
  CAST(({_GF_PRE_TP_SQL}) * 10000 // (SELECT COUNT(*) FROM exact)
       AS BIGINT) AS recall_bp,
  ({_GF_PRE_TP_SQL}) * ((SELECT COUNT(*) FROM allowed) - 1)
    >= 10 * {_GX_K} * (SELECT COUNT(*) FROM exact) AS recall_ok,
  CAST((SELECT COUNT(*) FROM post) AS INT) AS n_post,
  CAST(({_GF_POST_TP_SQL}) AS INT) AS n_tp_post,
  ({_GF_PRE_TP_SQL}) >= ({_GF_POST_TP_SQL}) AS pre_ge_post,
  (SELECT COUNT(*) FROM pre) >= (SELECT COUNT(*) FROM post)
    AS pre_fills_k,
  (SELECT bool_and(n = {_GX_K} AND mr = {_GX_K}) FROM (
     SELECT query_id, COUNT(*) AS n, MAX(rank) AS mr
     FROM pre GROUP BY query_id) t)
    AS ranks_ok
"""


@register(
    "x_graph_filtered_eval",
    oracle=GRAPH_FILTERED_EVAL_ORACLE,
    doc="Recall contract for filtered graph retrieval — prices the "
    "pre-filter rerank against the post-filtered shortlist at the "
    "IDENTICAL walk (one beam chain, two rank variants, so the "
    "comparison can never be confounded by search budget): pre "
    "ranks everything visited that satisfies label < 5; post takes "
    "the UNfiltered top-5 and then filters it — the broken shape "
    "that silently returns fewer than k. pre_ge_post pins the true-"
    "positive dominance, pre_fills_k the cardinality dominance, "
    "ranks_ok that pre returns a full k per query, and recall_ok "
    "the family 10x-chance floor vs exact ground truth restricted "
    "to the allowed universe (chance scaled by |allowed|, not "
    "|corpus|). Fixed 500-vector sample universe; measured at both "
    "SFs before pinning (gotcha 17).",
)
def x_graph_filtered_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blspark.ext.similarity import (
        cosine_topk,
        graph_expand_topk,
        nav_graph_build,
    )

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < _SQ8_EVAL_N
    )
    queries = emb.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 15))
    adj, protos = nav_graph_build(
        emb, _det_centroids(emb), knn_k=_KNN_K, m_cross=_GXX_M
    )
    allowed = emb.filter(F.col("label") < _FILTER_MAX_LABEL).select(
        F.col("vec_id").alias("cand_id")
    )
    allowed_universe = emb.filter(F.col("label") < _FILTER_MAX_LABEL)
    walk = dict(k=_GX_K, hops=_GXX_HOPS, beam=_GXX_BEAM, n_seeds=_GX_SEEDS)
    pre = graph_expand_topk(emb, queries, adj, protos, allowed=allowed, **walk)
    post = graph_expand_topk(emb, queries, adj, protos, **walk).join(
        allowed, F.col("neighbor_id") == F.col("cand_id"), "semi"
    )
    exact = cosine_topk(allowed_universe, queries, k=_GX_K).select(
        "query_id", "neighbor_id"
    )

    n_post = post.agg(F.count("*").cast("int").alias("n_post"))
    ntp_post = (
        post.select("query_id", "neighbor_id")
        .join(exact, ["query_id", "neighbor_id"])
        .agg(F.count("*").cast("int").alias("n_tp_post"))
    )

    def extra(joined: DataFrame) -> list:
        return [
            F.col("n_post"),
            F.col("n_tp_post"),
            (F.col("n_tp") >= F.col("n_tp_post")).alias("pre_ge_post"),
            (F.col("n_pre") >= F.col("n_post")).alias("pre_fills_k"),
        ]

    # chance floor vs the ALLOWED universe: _recall_contract's corpus
    # count drives the 10x-chance bound, so pass the allowed frame
    return _recall_contract(
        allowed_universe, queries, pre, exact, "n_pre", _GX_K,
        extra=extra,
        extra_frames=(n_post, ntp_post),
    )


# ---------------------------------------------------------------------------
# In-place small-file compaction of the stream-appended index table
# ---------------------------------------------------------------------------

# pre/plan/post snapshots per table for the physical pins
# (tests/test_graph_index.py): table -> {cell: sorted file basenames},
# table -> [cells rewritten]
_CIDX_TABLES: dict[tuple[str, str], tuple[str, ...]] = {}
_CIDX_PRE_FILES: dict[str, dict[int, list[str]]] = {}
_CIDX_POST_FILES: dict[str, dict[int, list[str]]] = {}
_CIDX_PLAN: dict[str, list[int]] = {}


def compact_partitions(spark: SparkSession, it: str) -> list[int]:
    """The PHYSICAL half of small-file compaction, in place: plan the
    partitions that need it from the file manifest (every cell
    directory holding more than one file — the metadata-scale
    planning shape of x_compaction_plan), then rewrite ONLY those
    partitions via dynamic partition overwrite to one file each.
    Single-file partitions are never touched — their directories keep
    their exact files (snapshot-pinned), so at 100 TB compaction IO
    is proportional to the small-file debt, never the table size.

    Same two traps as apply_refresh_delta, same guards: the staged
    frame is localCheckpointed BEFORE the write (Spark refuses an
    overwrite whose plan still reads the target — gotcha 42), and
    partitionOverwriteMode=dynamic is set on the SESSION around the
    one write (insertInto ignores the per-write option and would
    STATIC-truncate every partition absent from the frame —
    gotcha 41). Snapshots pre/post manifests + the plan into module
    dicts for the pins. Returns the rewritten cell list."""
    pre = _partition_files(spark, it)
    # plan on the VISIBLE parquet files only: the local filesystem
    # lists a hidden .crc twin next to every data file, which would
    # make single-file partitions look multi-file and silently
    # rewrite the whole table — exactly the locality bug the
    # untouched-partition pin exists to catch
    plan = sorted(
        c
        for c, files in pre.items()
        if len(
            [
                f for f in files
                if f.endswith(".parquet") and not f.startswith(".")
            ]
        )
        > 1
    )
    _CIDX_PRE_FILES[it] = pre
    _CIDX_PLAN[it] = plan
    if plan:
        staged = (
            spark.table(it)
            .filter(F.col("cell_id").isin(plan))
            .select("vid", "qvec", "scale", "cell_id")
            .localCheckpoint(eager=True)
            .repartition(F.col("cell_id"))
        )
        conf = "spark.sql.sources.partitionOverwriteMode"
        prev = spark.conf.get(conf, None)
        spark.conf.set(conf, "dynamic")
        try:
            staged.write.mode("overwrite").insertInto(it)
        finally:
            if prev is None:
                spark.conf.unset(conf)
            else:
                spark.conf.set(conf, prev)
    _CIDX_POST_FILES[it] = _partition_files(spark, it)
    return plan


def compacted_streamed_index_table(spark: SparkSession, sf_dir: str) -> str:
    """Build the stream-maintained raw index (the ONE shared
    build_streamed_raw_index device: base write + partition-local
    per-batch appends), then compact it IN PLACE — its own table, so
    s_stream_index_persist's raw-table physical pins (per-batch small
    files present) stay valid whichever entry runs first."""
    from blspark.queries.streaming_q import build_streamed_raw_index

    def build(it):
        build_streamed_raw_index(spark, sf_dir, it)
        compact_partitions(spark, it)

    return _layout_tables(
        _CIDX_TABLES, spark, sf_dir, ("blspark_sq8_cidx",), build
    )[0]


def _stream_rebuild_oracle() -> str:
    from blspark.queries.streaming_q import _ivf_sq8_stream_oracle

    return _ivf_sq8_stream_oracle()


@register(
    "x_index_compact_apply",
    oracle=_stream_rebuild_oracle(),
    doc="APPLY small-file compaction to the stream-appended persisted "
    "index — the physical twin x_compaction_plan's planner has been "
    "missing: the raw index table (base build + foreachBatch "
    "partition-local appends, the s_stream_index_persist device via "
    "the shared build_streamed_raw_index) accumulates one small file "
    "per micro-batch per arrival cell — the small-file problem that "
    "degrades every 100 TB table — and the apply step rewrites ONLY "
    "the multi-file partitions (planned from the file manifest, "
    "metadata-scale) back to one file each via dynamic partition "
    "overwrite, in place. Untouched single-file partitions keep "
    "their exact files and compacted cells end at exactly one file "
    "(both manifest-pinned in tests/test_graph_index.py); the "
    "returned frame is the compacted table's full content, "
    "hash-checked against the batch rebuild-from-scratch oracle — "
    "compaction provably changes bytes' LAYOUT, never content, the "
    "invariant that makes background compaction safe to run under "
    "readers. Maintenance IO is proportional to the small-file "
    "debt, never the index size (the x_index_refresh_apply "
    "locality property, now for compaction).",
)
def x_index_compact_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    it = compacted_streamed_index_table(spark, sf_dir)
    return (
        spark.table(it)
        .select(
            F.col("vid").alias("vec_id"),
            "cell_id",
            F.posexplode("qvec").alias("pos", "q"),
            "scale",
        )
        .select(
            "vec_id",
            "cell_id",
            F.col("pos").cast("int").alias("pos"),
            "q",
            "scale",
        )
    )
