"""Round-12 extension operators: query-adaptive IVF probing.

- ``x_similarity_ivf_adaptive``: per-query ``nprobe`` chosen from the
  query <-> centroid similarity margin — confident queries (clear
  top-1 cell) scan ``probe_lo`` cells, ambiguous queries (near a cell
  boundary, where true neighbors spill into runner-up cells) widen to
  ``probe_hi``. The standard IVF recall/latency knob (FAISS exposes it
  as per-query nprobe / adaptive search parameters) the fixed-nprobe
  family lacked.
- ``x_ivf_adaptive_eval``: the contract that prices the knob against
  exact ground truth — recall ABOVE fixed nprobe=3 at one scanned
  cell more (16 vs 15 over the 5-query set), UNDER fixed nprobe=4's
  20-cell budget, measured at both SFs before pinning.

Reference scope: the reference pipeline (lambda_functions/
report_processor.py, sync_and_fetch.py — pandas/boto3, no vector
search) has none of this; the family extends SURVEY.md §2's
"training-data pipeline" charter like the rest of the IVF/PQ grid.

Oracle devices shared with extensions9/10 (one copy of the cell
geometry): ``_ivf_prefix_sql`` for vecs/cents/cassign, ``_DOTQ`` /
``_NORMQ`` for the fold fragments, ``_SQ8_EVAL_N`` for the fixed
eval universe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from blspark.catalog import load_table, register
from blspark.queries.extensions9 import (
    _DOTQ,
    _NORMQ,
    _SQ8_K,
    _SQ8_QZ_SQL,
    _det_centroids,
    _ivf_prefix_sql,
    _IVF_PREFIX_SQL,
)
from blspark.queries.extensions10 import (
    _SQ8_EVAL_N,
    _SQ8_IPROD,
    _recall_contract,
)

# Adaptive-probing configuration: measured on the family's query set
# (vec_id 10..15) at BOTH SFs before pinning (gotcha 17 — the
# embeddings are not prefix-stable across SFs): margins straddle the
# 0.05 threshold 2 confident / 3 ambiguous at sf0.01 AND sf0.1, with
# the nearest margin 0.009 away from the threshold (and cosines are
# bitwise-identical across engines, so the classification is exact).
_ADAPT_LO = 2
_ADAPT_HI = 4
_ADAPT_THR = 0.05

def _cos_sql(a: str, b: str) -> str:
    """Zero-norm-guarded cosine fragment — mirrors the library's
    family-wide F.when(denom > 0, ...).otherwise(-inf) guard (a
    degenerate vector ranks LAST, never NaN / an ANSI 0/0 abort)."""
    na, nb = _NORMQ.format(a=a), _NORMQ.format(a=b)
    dot = _DOTQ.format(a=a, b=b)
    return (
        f"CASE WHEN ({na} * {nb}) > 0 THEN {dot} / ({na} * {nb}) "
        f"ELSE CAST('-infinity' AS DOUBLE) END"
    )


def _adaptive_probe_sql(id_filter: str) -> str:
    """qsim / qmargin / probe CTE chain — the SQL mirror of
    ``ivf_adaptive_probe_frame``: rank all cells per query by guarded cosine,
    margin = top1 - top2 (forced to 0.0 — ambiguous — when either is
    -inf or the second cell is missing, exactly the library's NaN
    guard), per-query nprobe from the margin CASE."""
    cos = _cos_sql("q.vec", "c.cvec")
    return f"""qsim AS MATERIALIZED (
  SELECT query_id, cell_id, s,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY s DESC, cell_id ASC) AS INT) AS r
  FROM (
    SELECT q.vec_id AS query_id, c.cell_id, {cos} AS s
    FROM vecs q, cents c {id_filter}) t
),
qmargin AS MATERIALIZED (
  SELECT query_id,
         CASE WHEN MAX(CASE WHEN r = 2 THEN s END) IS NOT NULL
               AND MAX(CASE WHEN r = 1 THEN s END)
                   > CAST('-infinity' AS DOUBLE)
               AND MAX(CASE WHEN r = 2 THEN s END)
                   > CAST('-infinity' AS DOUBLE)
              THEN MAX(CASE WHEN r = 1 THEN s END)
                   - MAX(CASE WHEN r = 2 THEN s END)
              ELSE 0.0 END AS margin
  FROM qsim GROUP BY query_id
),
probe AS MATERIALIZED (
  SELECT s.query_id, s.cell_id, s.r AS probe_rank,
         CASE WHEN m.margin >= {_ADAPT_THR} THEN {_ADAPT_LO}
              ELSE {_ADAPT_HI} END AS nprobe_used
  FROM qsim s JOIN qmargin m ON s.query_id = m.query_id
  WHERE s.r <= CASE WHEN m.margin >= {_ADAPT_THR} THEN {_ADAPT_LO}
               ELSE {_ADAPT_HI} END
)"""


_Q_FILTER = "WHERE q.vec_id >= 10 AND q.vec_id < 15"

IVF_ADAPTIVE_ORACLE = f"""
WITH {_IVF_PREFIX_SQL},
{_adaptive_probe_sql(_Q_FILTER)},
scored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id, p.nprobe_used,
         {_cos_sql("n.vec", "q.vec")} AS cos_raw
  FROM cassign a
  JOIN probe p ON a.cell_id = p.cell_id
  JOIN vecs n ON n.vec_id = a.vec_id
  JOIN vecs q ON q.vec_id = p.query_id
  WHERE a.vec_id <> p.query_id
)
SELECT query_id, neighbor_id, ROUND(cos_raw, 6) AS cosine, rank,
       nprobe_used
FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (
      PARTITION BY query_id
      ORDER BY cos_raw DESC, neighbor_id ASC) AS INT) AS rank
  FROM scored) t
WHERE rank <= {_SQ8_K}
"""


@register(
    "x_similarity_ivf_adaptive",
    bench=True,
    oracle=IVF_ADAPTIVE_ORACLE,
    doc="IVF ANN with QUERY-ADAPTIVE probing, full SQL oracle — the "
    "recall/latency knob the fixed-nprobe family lacked: each query's "
    "nprobe is chosen from its own query<->centroid similarity margin "
    "(top1 - top2 cosine >= 0.05 -> confident, scan probe_lo=2 cells; "
    "below -> ambiguous, near a cell boundary where true neighbors "
    "spill into runner-up cells, widen to probe_hi=4). At 100 TB the "
    "scan budget concentrates on the queries whose recall needs it — "
    "x_ivf_adaptive_eval prices the trade against exact ground truth. "
    "Corpus side is the shared _cell_assign probes=1 rule (map-side "
    "hash-agg argmin, identical cell geometry to the whole family); "
    "the margin decision is metadata-sized (queries x |cells|, "
    "centroids broadcast); scoring/ranking is shared verbatim with "
    "ivf_topk (_pair, _cos, _ranked), so probe_lo == probe_hi == n equals "
    "fixed nprobe=n exactly (property-tested). nprobe_used rides the "
    "output so the per-query decision is visible and hash-checked. "
    "ext/similarity.ivf_adaptive_topk / ivf_adaptive_probe_frame.",
)
def x_similarity_ivf_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blspark.ext.similarity import ivf_adaptive_topk

    emb = load_table(spark, sf_dir, "embeddings")
    vecs = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    cents = _det_centroids(emb)
    queries = vecs.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 15))
    return ivf_adaptive_topk(
        vecs, queries, cents, vec_col="vec", k=_SQ8_K,
        probe_lo=_ADAPT_LO, probe_hi=_ADAPT_HI,
        margin_threshold=_ADAPT_THR,
    )


# ---------------------------------------------------------------------------
# Adaptive-probing evaluation (vs exact ground truth AND fixed budgets)
# ---------------------------------------------------------------------------

_RANKED_COS_SQL = f"""
  SELECT query_id, neighbor_id FROM (
    SELECT p.query_id, a.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY p.query_id
             ORDER BY {_cos_sql("n.vec", "q.vec")} DESC,
                      a.vec_id ASC) AS r
    FROM cassign a
    JOIN {{probe}} p ON a.cell_id = p.cell_id
    JOIN vecs n ON n.vec_id = a.vec_id
    JOIN vecs q ON q.vec_id = p.query_id
    WHERE a.vec_id <> p.query_id) t
  WHERE r <= {_SQ8_K}
"""

_TP_SQL = (
    "SELECT COUNT(*) FROM approx a JOIN exact e "
    "ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id"
)
_TP3_SQL = (
    "SELECT COUNT(*) FROM approx3 a JOIN exact e "
    "ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id"
)

IVF_ADAPTIVE_EVAL_ORACLE = f"""
WITH {_ivf_prefix_sql(f"WHERE vec_id < {_SQ8_EVAL_N}")},
{_adaptive_probe_sql(_Q_FILTER)},
probe3 AS MATERIALIZED (
  SELECT query_id, cell_id FROM qsim WHERE r <= 3
),
exact AS MATERIALIZED (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
             ORDER BY {_cos_sql("n.vec", "q.vec")} DESC,
                      n.vec_id ASC) AS r
    FROM vecs q, vecs n
    WHERE q.vec_id >= 10 AND q.vec_id < 15 AND n.vec_id <> q.vec_id) t
  WHERE r <= {_SQ8_K}
),
approx AS MATERIALIZED ({_RANKED_COS_SQL.format(probe="probe")}),
approx3 AS MATERIALIZED ({_RANKED_COS_SQL.format(probe="probe3")}),
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
  CAST(({_TP_SQL}) AS INT) AS n_tp,
  CAST(({_TP_SQL}) * 10000 // (SELECT COUNT(*) FROM exact)
       AS BIGINT) AS recall_bp,
  ({_TP_SQL}) * ((SELECT COUNT(*) FROM vecs) - 1)
    >= 10 * {_SQ8_K} * (SELECT COUNT(*) FROM exact) AS recall_ok,
  CAST((SELECT COUNT(*) FROM probe) AS INT) AS cells_adaptive,
  CAST((SELECT COUNT(*) FROM probe3) AS INT) AS cells_fixed3,
  CAST((SELECT COUNT(*) FROM qsim WHERE r <= 4) AS INT) AS cells_fixed4,
  CAST(({_TP3_SQL}) AS INT) AS n_tp_fixed3,
  CAST(({_TP3_SQL}) * 10000 // (SELECT COUNT(*) FROM exact)
       AS BIGINT) AS recall_fixed3_bp,
  ({_TP_SQL}) >= ({_TP3_SQL}) AS recall_ge_fixed3,
  (SELECT COUNT(*) FROM probe)
    < (SELECT COUNT(*) FROM qsim WHERE r <= 4) AS budget_lt_fixed4,
  (SELECT n_confident >= 1 AND n_ambiguous >= 1 FROM split)
    AS genuinely_adaptive,
  (SELECT bool_and(n = {_SQ8_K}) FROM (
     SELECT query_id, COUNT(*) AS n FROM approx GROUP BY query_id) t)
    AS ranks_ok
"""


@register(
    "x_ivf_adaptive_eval",
    oracle=IVF_ADAPTIVE_EVAL_ORACLE,
    doc="Adaptive-probing evaluation — prices the margin knob against "
    "exact cosine ground truth AND both fixed-budget comparators over "
    "the fixed 500-vector sample universe (the x_pq_eval device; "
    "measured independently at sf0.01 and sf0.1 before pinning, "
    "gotcha 17): recall_ge_fixed3 pins that adaptive (2,4,0.05) "
    "recalls AT LEAST fixed nprobe=3 (measured 6800 vs 4800 bp at "
    "sf0.01, 5600 vs 5200 at sf0.1) while budget_lt_fixed4 pins the "
    "scanned-cell count strictly under fixed nprobe=4's (16 vs 20 — "
    "the recall gain does NOT come from secretly scanning hi "
    "everywhere), and genuinely_adaptive pins that BOTH branches of "
    "the margin CASE fire on this data (2 confident / 3 ambiguous at "
    "each SF). Scanned-cell budgets are COUNTED from the same probe "
    "frames the queries run (ivf_adaptive_probe_frame with lo == hi "
    "is exactly fixed nprobe — one code path), never computed as "
    "n * Q. Standard contract columns (counts, recall_bp fixed-point, "
    "the scale-free >= 10x-chance floor, per-query rank cardinality) "
    "via the shared _recall_contract builder.",
)
def x_ivf_adaptive_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blspark.ext.similarity import (
        cosine_topk,
        ivf_adaptive_probe_frame,
        ivf_adaptive_topk,
        ivf_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < _SQ8_EVAL_N
    )
    vecs = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    cents = _det_centroids(emb)
    queries = vecs.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 15))

    adaptive = ivf_adaptive_topk(
        vecs, queries, cents, vec_col="vec", k=_SQ8_K,
        probe_lo=_ADAPT_LO, probe_hi=_ADAPT_HI,
        margin_threshold=_ADAPT_THR,
    )
    fixed3 = ivf_topk(
        vecs, queries, cents, vec_col="vec", k=_SQ8_K, nprobe=3
    )
    exact = cosine_topk(vecs, queries, vec_col="vec", k=_SQ8_K).select(
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
        vecs, queries, adaptive, exact, "n_adaptive", _SQ8_K,
        extra=extra,
        extra_frames=(cells_a, cells_f3, cells_f4, ntp_f3, split),
    )


# ---------------------------------------------------------------------------
# Adaptive probing against the PERSISTED cell-partitioned index
# ---------------------------------------------------------------------------

IVF_SQ8_ADAPTIVE_ORACLE = f"""
WITH {_IVF_PREFIX_SQL},
{_adaptive_probe_sql(_Q_FILTER)},
{_SQ8_QZ_SQL},
scored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id, p.nprobe_used,
         {_SQ8_IPROD.format(n="n", q="q")} AS iprod,
         n.scale * q.scale AS ss
  FROM cassign a
  JOIN probe p ON a.cell_id = p.cell_id
  JOIN qz n ON n.vec_id = a.vec_id
  JOIN qz q ON q.vec_id = p.query_id
  WHERE a.vec_id <> p.query_id
)
SELECT query_id, neighbor_id,
       ROUND(CAST(iprod AS DOUBLE) * ss, 6) AS score, iprod, rank,
       nprobe_used
FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (
      PARTITION BY query_id
      ORDER BY CAST(iprod AS DOUBLE) * ss DESC, neighbor_id ASC) AS INT)
      AS rank
  FROM scored) t
WHERE rank <= {_SQ8_K}
"""


@register(
    "x_index_persist_adaptive",
    # deliberately NOT benched: it sorts BEFORE x_index_persist_scan
    # in bench.py's name-sorted cold pass and would absorb the
    # one-time index-table build, destroying the scan-vs-scan_warm
    # build/probe attribution; x_similarity_ivf_adaptive carries the
    # adaptive family's bench signal
    oracle=IVF_SQ8_ADAPTIVE_ORACLE,
    doc="Query-adaptive probing applied AT THE STORAGE LAYER — the "
    "persisted cell-partitioned SQ8 index (sq8_index_table, one "
    "directory per IVF cell) probed with the margin-adaptive cell "
    "set instead of a fixed nprobe: a confident query's literal "
    "IN-predicate names probe_lo=2 partition directories, an "
    "ambiguous query's names probe_hi=4 — so the per-batch IO "
    "budget itself (PartitionFilters-pruned directories opened, not "
    "just vectors scored) adapts to query difficulty. At 100 TB "
    "this is the complete production serving shape: index build "
    "amortized to zero by the layout, and the recall/latency knob "
    "expressed as pure partition pruning — hard queries read more "
    "bytes, easy queries fewer, nobody full-scans. The probe frame "
    "is the ONE ivf_adaptive_probe_frame rule (shared with "
    "x_similarity_ivf_adaptive); scoring is the shared _sq8_rank "
    "int64 tail over the table's codes; nprobe_used rides the "
    "output so the per-query IO decision is hash-checked.",
)
def x_index_persist_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _persist_adaptive_rank(spark, sf_dir).select(
        "query_id", "neighbor_id", "score", "iprod", "rank", "nprobe_used"
    )


def _persist_adaptive_rank(
    spark: SparkSession, sf_dir: str, max_label: int | None = None
) -> DataFrame:
    """The ONE adaptive probe pipeline over the persisted index,
    shared by x_index_persist_adaptive (max_label=None) and
    x_index_persist_filtered (max_label set: the index scan carries
    the neighbor's label as n_label and pre-filters label < max_label
    — pushed down into the same scan as the partition pruning):
    adaptive probe frame as ONE local relation (needed twice — join
    input + literal partition predicate), quantized queries broadcast,
    literal probed-cell IN-set for guaranteed PartitionFilters (the
    x_index_persist_scan convention; a join alone would rely on
    runtime DPP), shared _sq8_rank tail, nprobe_used re-joined from
    the already-materialized local relation (metadata-sized — no
    subtree re-execution)."""
    from blspark.ext.similarity import (
        ivf_adaptive_probe_frame,
        _sq8_rank,
        _sq8_side,
    )
    from blspark.ops import local_relation
    from blspark.queries.extensions10 import sq8_index_table

    it = sq8_index_table(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(
        (F.col("vec_id") >= 10) & (F.col("vec_id") < 15)
    ).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    probes = local_relation(
        ivf_adaptive_probe_frame(
            queries, _det_centroids(emb), vec_col="vec",
            probe_lo=_ADAPT_LO, probe_hi=_ADAPT_HI,
            margin_threshold=_ADAPT_THR,
        ).select("query_id", "cell_id", "nprobe_used"),
        "query_id bigint, cell_id int, nprobe_used int",
    )
    probe_q = probes.join(_sq8_side(queries, "vec_id", "vec", "q"), "query_id")
    cells = sorted(
        {r["cell_id"] for r in probes.select("cell_id").collect()}
    )
    keep = () if max_label is None else ("n_label",)
    idx_cols = [
        F.col("vid").alias("neighbor_id"),
        F.col("cell_id"),
        F.col("qvec").alias("nq"),
        F.col("scale").alias("nscale"),
    ]
    if max_label is not None:
        idx_cols.insert(2, F.col("label").alias("n_label"))
    idx = spark.table(it).select(*idx_cols)
    pred = F.col("cell_id").isin(cells)
    if max_label is not None:
        pred = pred & (F.col("n_label") < max_label)
    paired = (
        idx.filter(pred)
        .join(F.broadcast(probe_q.drop("nprobe_used")), "cell_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
    )
    ranked = _sq8_rank(paired, _SQ8_K, keep=keep)
    return ranked.join(
        F.broadcast(probes.select("query_id", "nprobe_used").distinct()),
        "query_id",
    )


# ---------------------------------------------------------------------------
# Filtered ANN over the persisted index (predicate pushdown x pruning)
# ---------------------------------------------------------------------------

_FILTER_MAX_LABEL = 5  # label < 5: ~half the corpus survives

IVF_SQ8_FILTERED_ORACLE = f"""
WITH {_IVF_PREFIX_SQL},
{_adaptive_probe_sql(_Q_FILTER)},
{_SQ8_QZ_SQL},
lbl AS MATERIALIZED (SELECT vec_id, label FROM embeddings),
scored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id, l.label AS n_label,
         p.nprobe_used,
         {_SQ8_IPROD.format(n="n", q="q")} AS iprod,
         n.scale * q.scale AS ss
  FROM cassign a
  JOIN probe p ON a.cell_id = p.cell_id
  JOIN lbl l ON l.vec_id = a.vec_id
  JOIN qz n ON n.vec_id = a.vec_id
  JOIN qz q ON q.vec_id = p.query_id
  WHERE a.vec_id <> p.query_id AND l.label < {_FILTER_MAX_LABEL}
)
SELECT query_id, neighbor_id, n_label,
       ROUND(CAST(iprod AS DOUBLE) * ss, 6) AS score, iprod, rank,
       nprobe_used
FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (
      PARTITION BY query_id
      ORDER BY CAST(iprod AS DOUBLE) * ss DESC, neighbor_id ASC) AS INT)
      AS rank
  FROM scored) t
WHERE rank <= {_SQ8_K}
"""


@register(
    "x_index_persist_filtered",
    oracle=IVF_SQ8_FILTERED_ORACLE,
    doc="FILTERED ANN over the persisted index — the production query "
    "shape none of the family exercised: top-k nearest neighbors "
    "AMONG vectors satisfying a metadata predicate (label < 5, ~half "
    "the corpus). The index table carries the filterable attribute "
    "(written once at build — the filtered-ANN layout), so the "
    "predicate PUSHES DOWN into the probed-cell scan: ONE "
    "FileSourceScan carries BOTH PartitionFilters (the adaptive "
    "probed-cell IN-set — partition pruning) and PushedFilters "
    "(label < 5 — parquet row-group predicate pushdown), composed "
    "(plan-pinned). This is PRE-filtering: candidates are restricted "
    "BEFORE the top-k, so every returned rank is a true filtered "
    "neighbor — post-filtering an unfiltered shortlist instead would "
    "silently return < k (or zero) survivors for selective "
    "predicates, the classic filtered-ANN failure. Probing is the "
    "adaptive margin rule (shared ivf_adaptive_probe_frame); scoring the "
    "shared _sq8_rank int64 tail; n_label rides the output so the "
    "predicate's effect is hash-checked row-by-row. At 100 TB: "
    "per-batch IO = probed directories x filter selectivity, "
    "never a full scan, never a recall-broken post-filter.",
)
def x_index_persist_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _persist_adaptive_rank(
        spark, sf_dir, max_label=_FILTER_MAX_LABEL
    ).select(
        "query_id", "neighbor_id", "n_label", "score", "iprod", "rank",
        "nprobe_used",
    )


# ---------------------------------------------------------------------------
# Index maintenance: centroid refresh -> reassignment delta
# ---------------------------------------------------------------------------

# The "old" index geometry was trained before the arrivals landed:
# base corpus = vec_id >= _REFRESH_BASE, refreshed = full corpus.
_REFRESH_BASE = 100


def _cents_sql(name: str, filt: str) -> str:
    """cm/cents CTE pair under a NAME — the _ivf_prefix_sql centroid
    device (ROUND(AVG, 6) label means) instantiated twice (old/new)
    for the refresh-delta oracle, where the shared prefix's fixed CTE
    names cannot be reused."""
    return f"""cm_{name} AS MATERIALIZED (
  SELECT label, t.i AS pos, ROUND(AVG(embedding[t.i + 1]::DOUBLE), 6) AS m
  FROM embeddings, range(0, 64) t(i) {filt}
  GROUP BY label, t.i
),
cents_{name} AS (
  SELECT label AS cell_id, list(m ORDER BY pos) AS cvec
  FROM cm_{name} GROUP BY label
)"""


def _assign_sql(name: str) -> str:
    """Guarded-cosine argmin assignment of the full corpus against
    ``cents_{name}`` — the _cell_assign_sql rule with the family's
    zero-norm guard."""
    cos = _cos_sql("v.vec", "c.cvec")
    return f"""ca_{name} AS MATERIALIZED (
  SELECT vec_id, cell_id FROM (
    SELECT v.vec_id, c.cell_id,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id
             ORDER BY {cos} DESC, c.cell_id ASC) AS r
    FROM vecs v, cents_{name} c) t
  WHERE r = 1
)"""


INDEX_REFRESH_DELTA_ORACLE = f"""
WITH vecs AS MATERIALIZED (
  SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
),
{_cents_sql("old", f"WHERE vec_id >= {_REFRESH_BASE}")},
{_cents_sql("new", "")},
{_assign_sql("old")},
{_assign_sql("new")}
SELECT o.cell_id AS old_cell, n.cell_id AS new_cell,
       COUNT(*) AS n_moved
FROM ca_old o JOIN ca_new n ON o.vec_id = n.vec_id
WHERE o.cell_id <> n.cell_id
GROUP BY o.cell_id, n.cell_id
ORDER BY old_cell, new_cell
"""


@register(
    "x_index_refresh_delta",
    oracle=INDEX_REFRESH_DELTA_ORACLE,
    doc="Index-maintenance reassignment delta — the rebalancing "
    "primitive the persisted-index family needed: after arrivals "
    "drift the corpus, centroids are refreshed (label means over the "
    "FULL corpus vs the pre-arrival base they were trained on) and "
    "the delta names every (old_cell -> new_cell) move as a count "
    "matrix — exactly which partition directories of the persisted "
    "index must rewrite (move sources delete, move targets append; "
    "untouched cells cost nothing — at 100 TB maintenance IO is "
    "proportional to DRIFT, never to index size). One corpus scan: "
    "ext/similarity.cell_reassign_delta scores the tagged union of "
    "both centroid sets (broadcast) and takes both argmins in a "
    "single hash-aggregate as conditional min(when(tag, struct)) — "
    "the exact _cell_assign probes=1 rule per tag (property-tested "
    "equal to two separate calls), instead of two passes plus a "
    "corpus-sized self-join. Full SQL oracle: the centroid/assign "
    "devices instantiated twice (old/new) with the family's guarded "
    "cosine. Non-degeneracy measured before pinning: 192 moved "
    "vectors (71 move pairs) at sf0.01, 372 (89) at sf0.1.",
)
def x_index_refresh_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blspark.ext.similarity import cell_reassign_delta

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") >= _REFRESH_BASE)
    delta = cell_reassign_delta(
        emb, _det_centroids(base), _det_centroids(emb)
    )
    return (
        delta.filter(F.col("old_cell") != F.col("new_cell"))
        .groupBy("old_cell", "new_cell")
        .agg(F.count("*").alias("n_moved"))
        .orderBy("old_cell", "new_cell")
    )


# ---------------------------------------------------------------------------
# Index maintenance: APPLY the refresh delta via dynamic partition overwrite
# ---------------------------------------------------------------------------

_RIDX_TABLES: dict[tuple[str, str], tuple[str, ...]] = {}
# pre-apply file listing per untouched-partition pin (tests read it):
# table name -> {cell_id: sorted file basenames before the apply}
_RIDX_PRE_FILES: dict[str, dict[int, list[str]]] = {}
_RIDX_REWRITE_CELLS: dict[str, list[int]] = {}


def _partition_files(
    spark, table: str, col: str = "cell_id"
) -> dict[int, list[str]]:
    """Per-partition file listing {value: sorted basenames} for a
    warehouse table partitioned by integer column ``col`` (cell_id
    for the SQ8 index tables, src_cell for the graph edge table)."""
    import os
    import urllib.parse

    loc = urllib.parse.urlparse(
        spark.sql(f"DESCRIBE TABLE EXTENDED {table}")
        .filter(F.col("col_name") == "Location")
        .first()["data_type"]
    ).path
    out: dict[int, list[str]] = {}
    for entry in os.listdir(loc):
        if entry.startswith(f"{col}="):
            cell = int(entry.split("=", 1)[1])
            out[cell] = sorted(os.listdir(os.path.join(loc, entry)))
    return out


def apply_refresh_delta(
    spark: SparkSession,
    it: str,
    corpus: DataFrame,
    old_cents: DataFrame,
    new_cents: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """The apply step alone, parameterized over the corpus and both
    centroid frames so the physical claim (only move-set partitions
    rewrite) is testable on a controlled fixture where drift provably
    localizes — on the label-mean testdata geometry every refresh
    moves SOME vector into or out of every one of the 10 coarse
    cells, so untouched partitions only exist under finer or
    better-separated geometries. Snapshots the pre-apply per-partition
    file listing into _RIDX_PRE_FILES and the rewrite set into
    _RIDX_REWRITE_CELLS for the pin."""
    from blspark.ext.similarity import cell_reassign_delta

    _RIDX_PRE_FILES[it] = _partition_files(spark, it)
    moved = cell_reassign_delta(
        corpus, old_cents, new_cents, id_col=id_col, vec_col=vec_col
    ).filter(F.col("old_cell") != F.col("new_cell"))
    # metadata-bounded: |cells| is the nlist, never corpus-sized
    rewrite_cells = sorted(
        {
            r["c"]
            for r in moved.select(F.col("old_cell").alias("c"))
            .union(moved.select(F.col("new_cell").alias("c")))
            .distinct()
            .collect()
        }
    )
    _RIDX_REWRITE_CELLS[it] = rewrite_cells
    if not rewrite_cells:
        return
    current = spark.table(it).filter(F.col("cell_id").isin(rewrite_cells))
    remapped = (
        current.join(
            F.broadcast(
                moved.select(
                    F.col(id_col).alias("vid"), F.col("new_cell")
                )
            ),
            "vid",
            "left",
        )
        .withColumn(
            "cell_id", F.coalesce(F.col("new_cell"), F.col("cell_id"))
        )
        .drop("new_cell")
    )
    # dynamic overwrite only rewrites partitions PRESENT in the
    # frame: a rewrite cell emptied of ALL rows would silently keep
    # its stale files — refuse loudly instead (cannot occur on this
    # data; a production apply would drop-partition it)
    present = {
        r["cell_id"]
        for r in remapped.select("cell_id").distinct().collect()
    }
    missing = [c for c in rewrite_cells if c not in present]
    if missing:
        raise ValueError(
            f"refresh apply would empty partitions {missing}; "
            "dynamic overwrite cannot express partition deletion"
        )
    # materialize before the write: Spark (correctly) refuses an
    # overwrite whose plan still READS the target table; the
    # checkpoint snapshots the move-set rows (drift-sized, never
    # index-sized) and breaks the lineage — the at-scale analogue
    # is staging the rewritten partitions before the swap
    staged = (
        remapped.select("vid", "qvec", "scale", "cell_id")
        .localCheckpoint(eager=True)
        .repartition(F.col("cell_id"))
    )
    # the SESSION conf, not a writer option: insertInto IGNORES the
    # per-write partitionOverwriteMode option and would run a STATIC
    # overwrite — truncating every partition NOT present in the frame
    # (the controlled-fixture pin caught exactly that: an untouched
    # cell directory vanished). Set/restore around the one write.
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


def refreshed_index_table(spark: SparkSession, sf_dir: str) -> str:
    """Build the SQ8 index under the OLD (pre-arrival) centroid
    geometry, then APPLY the centroid-refresh reassignment delta as a
    DYNAMIC PARTITION OVERWRITE (apply_refresh_delta): only partitions
    in the move set (sources that lose vectors + targets that gain
    them) are rewritten — untouched cell directories keep their exact
    files, pinned in tests/test_plans.py on a controlled fixture
    (this testdata's 10 coarse label-mean cells ALL exchange vectors
    under a full refresh, so the locality pin needs separated
    clusters). SQ8 codes are centroid-independent (training-free
    quantization), so a move edits ONLY the partition column — the
    rewrite ships the same bytes to a new directory, never
    re-encodes.

    The maintenance invariant: the refreshed table must equal a full
    rebuild under the new centroids — the registered query hash-checks
    exactly that (the s_stream_index_persist device applied to
    rebalancing instead of ingestion)."""
    from blspark.ext.similarity import _quantized_cells
    from blspark.queries.extensions10 import _layout_tables

    def build(it):
        emb = load_table(spark, sf_dir, "embeddings")
        old_cents = _det_centroids(
            emb.filter(F.col("vec_id") >= _REFRESH_BASE)
        )
        new_cents = _det_centroids(emb)
        (
            _quantized_cells(emb, old_cents)
            .repartition(F.col("cell_id"))
            .write.partitionBy("cell_id")
            .mode("overwrite")
            .format("parquet")
            .saveAsTable(it)
        )
        apply_refresh_delta(spark, it, emb, old_cents, new_cents)

    return _layout_tables(
        _RIDX_TABLES, spark, sf_dir, ("blspark_sq8_ridx",), build
    )[0]


def _refresh_apply_oracle() -> str:
    # full rebuild under the NEW (full-corpus) centroids — the shared
    # prefix verbatim + the shared SQ8 quantization CTE: the refreshed
    # table must equal this exactly
    return f"""
WITH {_IVF_PREFIX_SQL},
{_SQ8_QZ_SQL}
SELECT a.vec_id, a.cell_id, CAST(t.i AS INT) AS pos,
       z.qvec[t.i + 1] AS q, z.scale
FROM cassign a
JOIN qz z ON a.vec_id = z.vec_id
CROSS JOIN range(0, 64) t(i)
"""


@register(
    "x_index_refresh_apply",
    oracle=_refresh_apply_oracle(),
    doc="APPLY the centroid-refresh delta to the persisted index — "
    "the physical half of index rebalancing, closing the maintenance "
    "loop x_index_refresh_delta opened: the index is built under the "
    "OLD (pre-arrival) geometry, the reassignment delta is computed "
    "(one scan, shared cell_reassign_delta), and ONLY the move-set "
    "partitions are rewritten via Spark's dynamic partition "
    "overwrite (insertInto with partitionOverwriteMode=dynamic) — "
    "untouched cell directories keep their exact files (snapshot-"
    "pinned in tests/test_plans.py), so at 100 TB maintenance IO is "
    "proportional to drift, and SQ8 codes being centroid-independent "
    "means a move re-ships bytes, never re-encodes. Hash-checked "
    "against the FULL-REBUILD oracle (the shared IVF prefix + SQ8 "
    "quantization under new centroids): incremental apply provably "
    "equals rebuild-from-scratch — the same invariant "
    "s_stream_index_persist pins for ingestion, now for "
    "rebalancing. An emptied partition (inexpressible under dynamic "
    "overwrite) is refused loudly rather than left stale.",
)
def x_index_refresh_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    it = refreshed_index_table(spark, sf_dir)
    return spark.table(it).select(
        F.col("vid").alias("vec_id"),
        "cell_id",
        F.posexplode("qvec").alias("pos", "q"),
        "scale",
    ).select(
        "vec_id", "cell_id", F.col("pos").cast("int").alias("pos"),
        "q", "scale",
    )
