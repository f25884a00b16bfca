"""Round-10 extension operators: completing the SQ8 and MaxSim
families (VERDICT r9 item 1 — these four names were pre-listed in
catalog._PRIORITY as round-9 first-timers but never implemented).

- ``x_similarity_ivf_sq8``: the FAISS ``IVF,SQ8`` index shape — IVF
  cells prune WHICH vectors are scored, SQ8 codes shrink WHAT is
  scanned (4x, training-free, near-exact int64 core).
- ``x_retrieval_maxsim_ragged``: late interaction over VARIABLE-length
  token lists — the shape a real ColBERT index ships (documents have
  however many tokens they have).
- ``x_sq8_eval`` / ``x_maxsim_eval``: recall contracts for the two
  families over a FIXED-size sample universe (the x_pq_eval device —
  a full-corpus recall@k would degrade with N into an uninformative
  zero; the fixed sample keeps the floor scale-stable).

Reference scope: the reference pipeline (lambda_functions/
report_processor.py, sync_and_fetch.py — pandas/boto3, no vector
search) has none of this; the family extends SURVEY.md §2's
"training-data pipeline" charter the same way the IVF/PQ operators do.

Oracle devices are shared with extensions9 (one copy of the cell
geometry and the dot/norm SQL fragments, so the families can never
silently diverge): ``_ivf_prefix_sql`` for vecs/cents/cassign,
``_cell_assign_sql`` for probe lists, ``_DOTQ`` for ordered-fold dots.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from blspark.catalog import dsum, load_table, o_dsum, register
from blspark.queries.extensions9 import (
    _DOTQ,
    _NORMQ,
    _MS_K,
    _PQ_K,
    _PQ_KS,
    _PQ_M,
    _PQ_SUBDIM,
    _SQ8_K,
    _cell_assign_sql,
    _det_centroids,
    _ivf_prefix_sql,
    _IVF_PREFIX_SQL,
    # SQ8 quantization CTE — the ONE copy lives next to
    # SQ8_CHECKED_ORACLE in extensions9; every IVF-SQ8 / graph-SQ8 /
    # streaming-SQ8 oracle here builds on it.
    _SQ8_QZ_SQL,
    IVFPQ_CHECKED_ORACLE,
)

# ---------------------------------------------------------------------------
# IVF-pruned SQ8 (FAISS "IVF,SQ8")
# ---------------------------------------------------------------------------

_SQ8_IPROD = (
    "CAST(list_sum(list_transform(list_zip({n}.qvec, {q}.qvec), "
    "x -> CAST(x[1] AS BIGINT) * x[2])) AS BIGINT)"
)

IVF_SQ8_ORACLE = f"""
WITH {_IVF_PREFIX_SQL},
qprobe AS MATERIALIZED ({_cell_assign_sql(
    "q", "query_id", 2, "WHERE q.vec_id >= 10 AND q.vec_id < 15")}),
{_SQ8_QZ_SQL},
scored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         {_SQ8_IPROD.format(n="n", q="q")} AS iprod,
         n.scale * q.scale AS ss
  FROM cassign a
  JOIN qprobe p ON a.cell_id = p.cell_id
  JOIN qz n ON n.vec_id = a.vec_id
  JOIN qz q ON q.vec_id = p.query_id
  WHERE a.vec_id <> p.query_id
)
SELECT query_id, neighbor_id,
       ROUND(CAST(iprod AS DOUBLE) * ss, 6) AS score, iprod, rank
FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (
      PARTITION BY query_id
      ORDER BY CAST(iprod AS DOUBLE) * ss DESC, neighbor_id ASC) AS INT) AS rank
  FROM scored) t
WHERE rank <= {_SQ8_K}
"""


@register(
    "x_similarity_ivf_sq8",
    bench=True,
    oracle=IVF_SQ8_ORACLE,
    doc="IVF-pruned SQ8 ANN with a full SQL oracle — the FAISS "
    "'IVF,SQ8' index, completing the compression-x-pruning grid next "
    "to IVF-PQ: the IVF stage (same deterministic label-mean cells "
    "and _cell_assign rule the whole family shares) restricts scoring "
    "to each query's nprobe=2 probed cells, and within them the SQ8 "
    "integer core ranks by scale_n * scale_q * idot(codes) — an EXACT "
    "int64 sum over 4x-compressed training-free codes (the drop-in "
    "when PQ's codebook recall floor is too lossy but a full scan is "
    "too expensive). Candidate pairs come from an equi-join on "
    "cell_id (broadcast probe list, no cross product); the scoring "
    "arithmetic is shared verbatim with x_similarity_sq8_checked, and "
    "with nprobe == |cells| results equal plain sq8_topk "
    "(property-tested). Plan shape: centroids broadcast; corpus work "
    "= one cell-assign scan (map-side hash-agg argmin) + the "
    "probed-cell quantized scan; one per-query top-k window. "
    "ext/similarity.ivf_sq8_topk.",
)
def x_similarity_ivf_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blspark.ext.similarity import ivf_sq8_topk

    emb = load_table(spark, sf_dir, "embeddings")
    vecs = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    cents = _det_centroids(emb)
    queries = vecs.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 15))
    return ivf_sq8_topk(vecs, queries, cents, k=_SQ8_K, nprobe=2)


# ---------------------------------------------------------------------------
# Ragged MaxSim (variable-length token lists)
# ---------------------------------------------------------------------------

# Deterministic ragged token counts derived from the packed 64-dim
# embeddings: document/query i carries 1 + (vec_id % 8) tokens of 8
# dims each (so the corpus genuinely mixes 1..8-token documents and
# the 10..14 queries carry 3..7 tokens).
_RAG_NTOK = "1 + vec_id % 8"

MAXSIM_RAGGED_ORACLE = f"""
WITH vecs AS MATERIALIZED (
  SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
),
sv AS MATERIALIZED (
  SELECT vec_id, t.m,
         vec[t.m * {_PQ_SUBDIM} + 1 : t.m * {_PQ_SUBDIM} + {_PQ_SUBDIM}] AS sv
  FROM vecs, range(0, {_PQ_M}) t(m)
  WHERE t.m < {_RAG_NTOK}
),
qsv AS MATERIALIZED (
  SELECT vec_id, m, sv FROM sv WHERE vec_id >= 10 AND vec_id < 15
),
pair AS (
  SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id, q.m AS qm,
         MAX({_DOTQ.format(a="d.sv", b="q.sv")}) AS best
  FROM sv d, qsv q
  WHERE d.vec_id <> q.vec_id
  GROUP BY q.vec_id, d.vec_id, q.m
),
scored AS (
  SELECT query_id, neighbor_id,
         list_sum(list(best ORDER BY qm)) AS score_raw
  FROM pair GROUP BY query_id, neighbor_id
)
SELECT query_id, neighbor_id, ROUND(score_raw, 6) AS score, rank FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (
      PARTITION BY query_id
      ORDER BY score_raw DESC, neighbor_id ASC) AS INT) AS rank
  FROM scored) t
WHERE rank <= {_MS_K}
"""


@register(
    "x_retrieval_maxsim_ragged",
    oracle=MAXSIM_RAGGED_ORACLE,
    doc="MaxSim late interaction over RAGGED token lists — the shape a "
    "real ColBERT index ships: documents and queries carry VARIABLE "
    "token counts (here a deterministic 1 + vec_id % 8 tokens of 8 "
    "dims sliced from the packed embedding, so the corpus genuinely "
    "mixes 1..8-token documents), where x_retrieval_maxsim's fixed "
    "n_tokens is the special case. The scoring core "
    "(ext/similarity.maxsim_tokens_topk) is cardinality-agnostic — "
    "the per-(query, doc, qtoken) MAX and the per-query ordered fold "
    "over the query's OWN tokens work for any token count — and is "
    "shared verbatim with the fixed-width query, so the two can never "
    "diverge. Token slicing (ragged_subvectors) validates row-wise "
    "that the packed vector covers the claimed tokens (a short vector "
    "would silently zero the doc's contribution). Plan shape "
    "unchanged from x_retrieval_maxsim: token explode map-side, query "
    "tokens broadcast, two hash aggregates with map-side partials.",
)
def x_retrieval_maxsim_ragged(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blspark.ext.similarity import maxsim_tokens_topk, ragged_subvectors

    emb = load_table(spark, sf_dir, "embeddings")
    vecs = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    ntok = F.col("vec_id") % 8 + 1
    d_tok = ragged_subvectors(vecs, _PQ_SUBDIM, ntok).select(
        F.col("vec_id").alias("neighbor_id"), "m", "sv"
    )
    q_tok = ragged_subvectors(
        vecs.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 15)),
        _PQ_SUBDIM,
        ntok,
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("m").alias("qm"),
        F.col("sv").alias("qsv"),
    )
    return maxsim_tokens_topk(d_tok, q_tok, k=_MS_K)




def _recall_contract(
    vecs: DataFrame,
    queries: DataFrame,
    approx_ranked: DataFrame,
    exact_pairs: DataFrame,
    n_col: str,
    k: int,
    extra=None,
    chance_mult: int = 10,
    extra_frames: tuple = (),
) -> DataFrame:
    """The ONE copy of the fixed-sample recall contract-row builder
    shared by x_sq8_eval / x_maxsim_eval / x_ivf_sq8_eval (a floor or
    fixed-point-ratio change must happen here, nowhere else):
    ``approx_ranked`` is the family's ranked output (carries rank),
    ``exact_pairs`` the ground-truth (query_id, neighbor_id) pairs,
    ``n_col`` the name of the approx-count column in the contract row
    (n_sq8 / n_pruned), ``extra`` an optional callable mapping the
    joined 1-row frame to additional contract columns (x_sq8_eval's
    recall_hi_ok); ``extra_frames`` additional 1-row count frames
    crossJoined in for ``extra`` to read (the xcell eval's
    escaped-seed-cells count)."""
    a = approx_ranked.select("query_id", "neighbor_id")
    tp = a.join(exact_pairs, ["query_id", "neighbor_id"])

    n_corpus = vecs.agg(F.count("*").alias("n_corpus"))
    n_queries = queries.agg(F.count("*").cast("int").alias("n_queries"))
    n_approx = a.agg(F.count("*").cast("int").alias(n_col))
    n_truth = exact_pairs.agg(F.count("*").cast("int").alias("n_truth"))
    n_tp = tp.agg(F.count("*").cast("int").alias("n_tp"))
    card = (
        approx_ranked.groupBy("query_id")
        .agg(F.count("*").alias("n"), F.max("rank").alias("mr"))
        .agg(
            F.bool_and((F.col("n") == k) & (F.col("mr") == k)).alias(
                "ranks_ok"
            )
        )
    )
    joined = (
        n_queries.crossJoin(n_approx)
        .crossJoin(n_truth)
        .crossJoin(n_tp)
        .crossJoin(n_corpus)
        .crossJoin(card)
    )
    for xf in extra_frames:
        joined = joined.crossJoin(xf)
    cols = [
        F.col("n_queries"),
        F.col(n_col),
        F.col("n_truth"),
        F.col("n_tp"),
        F.expr("CAST(n_tp * 10000 div n_truth AS BIGINT)").alias("recall_bp"),
        (
            F.col("n_tp") * (F.col("n_corpus") - 1)
            >= F.lit(chance_mult * k) * F.col("n_truth")
        ).alias("recall_ok"),
    ]
    if extra is not None:
        cols += extra(joined)
    cols.append(F.col("ranks_ok"))
    return joined.select(*cols)


# ---------------------------------------------------------------------------
# SQ8 quality evaluation (recall contract vs exact ground truth)
# ---------------------------------------------------------------------------

# Fixed-size evaluation sample — the x_pq_eval device: recall@k against
# the exact top-k is a SAMPLE-SCALE metric; a full-corpus contract
# would degrade with N while the fixed universe keeps the floor
# scale-stable and meaningful.
_SQ8_EVAL_N = 500

_SQ8_TP_SQL = (
    "SELECT COUNT(*) FROM sq8 a JOIN exact e "
    "ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id"
)

SQ8_EVAL_ORACLE = f"""
WITH vecs AS MATERIALIZED (
  SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
  WHERE vec_id < {_SQ8_EVAL_N}
),
{_SQ8_QZ_SQL},
scored AS MATERIALIZED (
  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
         {_SQ8_IPROD.format(n="n", q="q")} AS iprod,
         n.scale * q.scale AS ss
  FROM qz n, qz q
  WHERE q.vec_id >= 10 AND q.vec_id < 15 AND n.vec_id <> q.vec_id
),
sq8 AS MATERIALIZED (
  SELECT query_id, neighbor_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        ORDER BY CAST(iprod AS DOUBLE) * ss DESC, neighbor_id ASC) AS r
    FROM scored) t
  WHERE r <= {_SQ8_K}
),
exact AS MATERIALIZED (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
             ORDER BY {_DOTQ.format(a="n.vec", b="q.vec")} DESC,
                      n.vec_id ASC) AS r
    FROM vecs q, vecs n
    WHERE q.vec_id >= 10 AND q.vec_id < 15 AND n.vec_id <> q.vec_id) t
  WHERE r <= {_SQ8_K}
)
SELECT
  CAST((SELECT COUNT(*) FROM vecs
        WHERE vec_id >= 10 AND vec_id < 15) AS INT) AS n_queries,
  CAST((SELECT COUNT(*) FROM sq8) AS INT) AS n_sq8,
  CAST((SELECT COUNT(*) FROM exact) AS INT) AS n_truth,
  CAST(({_SQ8_TP_SQL}) AS INT) AS n_tp,
  CAST(({_SQ8_TP_SQL}) * 10000 // (SELECT COUNT(*) FROM exact)
       AS BIGINT) AS recall_bp,
  ({_SQ8_TP_SQL}) * ((SELECT COUNT(*) FROM vecs) - 1)
    >= 10 * {_SQ8_K} * (SELECT COUNT(*) FROM exact) AS recall_ok,
  ({_SQ8_TP_SQL}) * 10000 // (SELECT COUNT(*) FROM exact)
    >= {{hi_floor}} AS recall_hi_ok,
  (SELECT bool_and(n = {_SQ8_K}) FROM (
     SELECT query_id, COUNT(*) AS n FROM sq8 GROUP BY query_id) t)
    AS ranks_ok
"""

# SQ8 is near-exact (4x compression, per-vector scalar codes): the
# family-specific contract is recall_bp >= 8000, far above x_pq_eval's
# chance-relative floor — measured 10000 bp at both sf0.01 and sf0.1
# on the fixed 500-vector universe.
_SQ8_HI_FLOOR = 8000
SQ8_EVAL_ORACLE = SQ8_EVAL_ORACLE.format(hi_floor=_SQ8_HI_FLOOR)


@register(
    "x_sq8_eval",
    oracle=SQ8_EVAL_ORACLE,
    doc="SQ8 quality evaluation as a first-class ORACLE-CHECKED query "
    "— the x_pq_eval device applied to the scalar-quantization rung: "
    "SQ8 top-5 by reconstructed inner product vs the exact "
    "inner-product top-5 ground truth over a FIXED 500-vector sample "
    "universe, hashed as a deterministic contract row — counts, true "
    "positives, recall in integer basis points (fixed-point, never a "
    "raw double ratio), the scale-free chance-relative floor "
    "(n_tp*(N-1) >= 10*k*n_truth), a family-specific HIGH floor "
    "(recall_bp >= 8000 — SQ8 is near-exact, unlike PQ's 32x codes; "
    "this is the number that justifies 'drop-in when PQ is too "
    "lossy'), and per-query rank-cardinality sanity. Computed at "
    "sample scale so the contract is scale-stable: the exact baseline "
    "is priced for a sample, the quantized scan is what ships at "
    "100 TB.",
)
def x_sq8_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blspark.ext.similarity import _dot, sq8_topk

    emb = load_table(spark, sf_dir, "embeddings")
    vecs = emb.filter(F.col("vec_id") < _SQ8_EVAL_N).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    queries = vecs.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 15))

    approx = sq8_topk(vecs, queries, k=_SQ8_K)

    c = vecs.select(
        F.col("vec_id").alias("neighbor_id"), F.col("vec").alias("nvec")
    )
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("vec").alias("qvec")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("dot_raw"), F.asc("neighbor_id")
    )
    exact = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id", "neighbor_id",
            _dot(F.col("nvec"), F.col("qvec")).alias("dot_raw"),
        )
        .withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= _SQ8_K)
        .select("query_id", "neighbor_id")
    )

    return _recall_contract(
        vecs, queries, approx, exact, "n_sq8", _SQ8_K,
        extra=lambda j: [
            F.expr(
                f"CAST(n_tp * 10000 div n_truth AS BIGINT) >= {_SQ8_HI_FLOOR}"
            ).alias("recall_hi_ok")
        ],
    )


# ---------------------------------------------------------------------------
# MaxSim pruning evaluation (IVF-pruned vs full late interaction)
# ---------------------------------------------------------------------------

_MS_EVAL_N = 500

_MS_TP_SQL = (
    "SELECT COUNT(*) FROM pruned a JOIN exact e "
    "ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id"
)

_MS_PAIR_SCORED_SQL = """
  SELECT query_id, neighbor_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        ORDER BY score_raw DESC, neighbor_id ASC) AS r
    FROM {src}) t
  WHERE r <= {k}
"""

MAXSIM_EVAL_ORACLE = f"""
WITH {_ivf_prefix_sql(f"WHERE vec_id < {_MS_EVAL_N}")},
qprobe AS MATERIALIZED ({_cell_assign_sql(
    "q", "query_id", 2, "WHERE q.vec_id >= 10 AND q.vec_id < 15")}),
sv AS MATERIALIZED (
  SELECT vec_id, t.m,
         vec[t.m * {_PQ_SUBDIM} + 1 : t.m * {_PQ_SUBDIM} + {_PQ_SUBDIM}] AS sv
  FROM vecs, range(0, {_PQ_M}) t(m)
),
qsv AS MATERIALIZED (
  SELECT vec_id, m, sv FROM sv WHERE vec_id >= 10 AND vec_id < 15
),
ppair AS (
  SELECT p.query_id, d.vec_id AS neighbor_id, q.m AS qm,
         MAX({_DOTQ.format(a="d.sv", b="q.sv")}) AS best
  FROM sv d
  JOIN cassign a ON d.vec_id = a.vec_id
  JOIN qprobe p ON a.cell_id = p.cell_id
  JOIN qsv q ON q.vec_id = p.query_id
  WHERE d.vec_id <> p.query_id
  GROUP BY p.query_id, d.vec_id, q.m
),
pscored AS (
  SELECT query_id, neighbor_id,
         list_sum(list(best ORDER BY qm)) AS score_raw
  FROM ppair GROUP BY query_id, neighbor_id
),
pruned AS MATERIALIZED ({_MS_PAIR_SCORED_SQL.format(src="pscored", k=_MS_K)}),
fpair AS (
  SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id, q.m AS qm,
         MAX({_DOTQ.format(a="d.sv", b="q.sv")}) AS best
  FROM sv d, qsv q
  WHERE d.vec_id <> q.vec_id
  GROUP BY q.vec_id, d.vec_id, q.m
),
fscored AS (
  SELECT query_id, neighbor_id,
         list_sum(list(best ORDER BY qm)) AS score_raw
  FROM fpair GROUP BY query_id, neighbor_id
),
exact AS MATERIALIZED ({_MS_PAIR_SCORED_SQL.format(src="fscored", k=_MS_K)})
SELECT
  CAST((SELECT COUNT(*) FROM vecs
        WHERE vec_id >= 10 AND vec_id < 15) AS INT) AS n_queries,
  CAST((SELECT COUNT(*) FROM pruned) AS INT) AS n_pruned,
  CAST((SELECT COUNT(*) FROM exact) AS INT) AS n_truth,
  CAST(({_MS_TP_SQL}) AS INT) AS n_tp,
  CAST(({_MS_TP_SQL}) * 10000 // (SELECT COUNT(*) FROM exact)
       AS BIGINT) AS recall_bp,
  ({_MS_TP_SQL}) * ((SELECT COUNT(*) FROM vecs) - 1)
    >= 10 * {_MS_K} * (SELECT COUNT(*) FROM exact) AS recall_ok,
  (SELECT bool_and(n = {_MS_K}) FROM (
     SELECT query_id, COUNT(*) AS n FROM pruned GROUP BY query_id) t)
    AS ranks_ok
"""


@register(
    "x_maxsim_eval",
    oracle=MAXSIM_EVAL_ORACLE,
    doc="MaxSim pruning evaluation as a first-class ORACLE-CHECKED "
    "query — the x_pq_eval recall-contract device applied to the "
    "late-interaction family: IVF-pruned MaxSim (nprobe=2 of the 10 "
    "label cells — the x_retrieval_maxsim_pruned configuration) top-5 "
    "vs the FULL MaxSim top-5 ground truth over a FIXED 500-vector "
    "sample universe, hashed as a deterministic contract row: counts, "
    "true positives, recall in integer basis points (fixed-point, "
    "never a raw double ratio), the scale-free chance-relative floor "
    "(n_tp*(N-1) >= 10*k*n_truth — pruning must beat 10x random), and "
    "per-query rank-cardinality sanity. This is the number that "
    "prices the nprobe knob: what fraction of full late-interaction "
    "quality survives scoring only |probed|/|cells| of the corpus. "
    "Computed at sample scale (the full-MaxSim baseline is the "
    "expensive side priced once for a sample; the pruned scan is what "
    "ships at 100 TB), so the contract is scale-stable.",
)
def x_maxsim_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blspark.ext.similarity import maxsim_pruned_topk, maxsim_topk

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < _MS_EVAL_N
    )
    vecs = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    cents = _det_centroids(emb)
    queries = vecs.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 15))

    pruned = maxsim_pruned_topk(
        vecs, queries, cents, _PQ_M, _PQ_SUBDIM, k=_MS_K, nprobe=2
    )
    full = maxsim_topk(vecs, queries, _PQ_M, _PQ_SUBDIM, k=_MS_K)

    exact = full.select("query_id", "neighbor_id")
    return _recall_contract(vecs, queries, pruned, exact, "n_pruned", _MS_K)


# ---------------------------------------------------------------------------
# Warm IVF-PQ (amortized index — train once, persist codes, query many)
# ---------------------------------------------------------------------------

# The production ANN shape is train-once / encode-once / query-many:
# codebooks and the codes frame are written once and every query batch
# pays only the probed-cell ADC scan. The other registered PQ queries
# deliberately charge TRAINING to every run (the bench prices the full
# pipeline); this variant prices the steady state, so the bench
# separates the two (VERDICT r9 item 8). The index is memoized per
# sf_dir: first call (bench.py's COLD pass) trains + encodes +
# localCheckpoints the codes frame (corpus-shaped but tiny — M int
# codes per vector; a checkpoint, not a cache-manager entry, so
# clearCache() between bench queries cannot drop it and it never
# shadows another query's plan); warm passes reuse it.
_WARM_IVFPQ_INDEX: dict[tuple[str, str], tuple] = {}


def _session_memo(
    memo: dict, spark: SparkSession, sf_dir: str, build, frames: tuple = ()
):
    """The ONE copy of the warm-artifact memo mechanism (the in-memory
    sibling of _layout_tables): keyed by (session, dataset) because a
    memoized DataFrame/checkpoint is bound to the SparkSession that
    built it — serving it to a LATER session in the same process
    (test fixtures stop and recreate sessions) would raise
    "SparkContext has been shut down" or read a checkpoint RDD that
    no longer exists. Entries of dead sessions are evicted on sight
    (they can never be served again), so the memo holds at most the
    LIVE session's datasets — no unbounded growth across session
    restarts. ``build()`` runs once per (live session, dataset).

    ``frames``: input DataFrames whose ANALYZED-PLAN SEMANTIC HASH
    joins the key (the _DET_CENTROIDS_MEMO device) — for memos whose
    value is a function of a caller-supplied frame, not just the
    dataset path. A filtered/eval-sample frame then hashes to its own
    entry and can never be served (or poison the cache with) the
    full-corpus artifact; the key captures WHAT was computed rather
    than relying on a docstring contract (ADVICE r14)."""
    app = spark.sparkContext.applicationId
    for stale in [k for k in memo if k[0] != app]:
        del memo[stale]
    key = (
        app,
        sf_dir,
        *(f._jdf.queryExecution().analyzed().semanticHash() for f in frames),
    )
    got = memo.get(key)
    if got is None:
        got = build()
        memo[key] = got
    return got


def _ivfpq_warm_index(spark: SparkSession, sf_dir: str):
    from blspark.ext.similarity import ivfpq_build_index, pq_train_codebooks

    def build():
        emb = load_table(spark, sf_dir, "embeddings")
        vecs = emb.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("vec")
        )
        cents = _det_centroids(emb)  # local relation — already train-once
        cb = pq_train_codebooks(vecs, _PQ_M, _PQ_SUBDIM, _PQ_KS)  # eager
        codes = ivfpq_build_index(
            vecs, cents, cb, _PQ_M, _PQ_SUBDIM
        ).localCheckpoint(eager=True)
        return (vecs, cents, cb, codes)

    return _session_memo(_WARM_IVFPQ_INDEX, spark, sf_dir, build)


@register(
    "x_similarity_ivfpq_warm",
    bench=True,
    oracle=IVFPQ_CHECKED_ORACLE,
    doc="IVF-PQ against a PRE-BUILT index — the amortized production "
    "shape (train once, persist codes, query many), result-identical "
    "to x_similarity_ivfpq_checked (same oracle): the first call per "
    "dataset trains the codebooks, cell-assigns and PQ-encodes the "
    "corpus, and localCheckpoints the codes frame; every later call "
    "pays ONLY the query side — probe the nprobe nearest cells, "
    "broadcast the per-query LUT, ADC-join over the probed cells' "
    "one-byte codes (ext/similarity.ivfpq_query). In bench.py the "
    "cold pass therefore prices index construction and the warm "
    "passes price steady-state query cost — the split a 100 TB "
    "deployment actually experiences, where the codes frame is "
    "written once (partitioned by cell_id) and query batches arrive "
    "for months. ext/similarity.ivfpq_build_index / ivfpq_query.",
)
def x_similarity_ivfpq_warm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blspark.ext.similarity import ivfpq_query

    vecs, cents, cb, codes = _ivfpq_warm_index(spark, sf_dir)
    queries = vecs.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 15))
    return ivfpq_query(
        codes, queries, cents, cb, _PQ_M, _PQ_SUBDIM, k=_PQ_K, nprobe=2
    )


# ---------------------------------------------------------------------------
# IVF-SQ8 pruning evaluation (pruned vs full scalar-quantized ranking)
# ---------------------------------------------------------------------------

_SQ8_RANKED_SQL = """
  SELECT query_id, neighbor_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        ORDER BY CAST(iprod AS DOUBLE) * ss DESC, neighbor_id ASC) AS r
    FROM {src}) t
  WHERE r <= {k}
"""

IVF_SQ8_EVAL_ORACLE = f"""
WITH {_ivf_prefix_sql(f"WHERE vec_id < {_SQ8_EVAL_N}")},
qprobe AS MATERIALIZED ({_cell_assign_sql(
    "q", "query_id", 2, "WHERE q.vec_id >= 10 AND q.vec_id < 15")}),
{_SQ8_QZ_SQL},
pscored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         {_SQ8_IPROD.format(n="n", q="q")} AS iprod,
         n.scale * q.scale AS ss
  FROM cassign a
  JOIN qprobe p ON a.cell_id = p.cell_id
  JOIN qz n ON n.vec_id = a.vec_id
  JOIN qz q ON q.vec_id = p.query_id
  WHERE a.vec_id <> p.query_id
),
pruned AS MATERIALIZED ({_SQ8_RANKED_SQL.format(src="pscored", k=_SQ8_K)}),
fscored AS (
  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
         {_SQ8_IPROD.format(n="n", q="q")} AS iprod,
         n.scale * q.scale AS ss
  FROM qz n, qz q
  WHERE q.vec_id >= 10 AND q.vec_id < 15 AND n.vec_id <> q.vec_id
),
exact AS MATERIALIZED ({_SQ8_RANKED_SQL.format(src="fscored", k=_SQ8_K)})
SELECT
  CAST((SELECT COUNT(*) FROM vecs
        WHERE vec_id >= 10 AND vec_id < 15) AS INT) AS n_queries,
  CAST((SELECT COUNT(*) FROM pruned) AS INT) AS n_pruned,
  CAST((SELECT COUNT(*) FROM exact) AS INT) AS n_truth,
  CAST(({_MS_TP_SQL}) AS INT) AS n_tp,
  CAST(({_MS_TP_SQL}) * 10000 // (SELECT COUNT(*) FROM exact)
       AS BIGINT) AS recall_bp,
  ({_MS_TP_SQL}) * ((SELECT COUNT(*) FROM vecs) - 1)
    >= 10 * {_SQ8_K} * (SELECT COUNT(*) FROM exact) AS recall_ok,
  (SELECT bool_and(n = {_SQ8_K}) FROM (
     SELECT query_id, COUNT(*) AS n FROM pruned GROUP BY query_id) t)
    AS ranks_ok
"""


@register(
    "x_ivf_sq8_eval",
    oracle=IVF_SQ8_EVAL_ORACLE,
    doc="IVF-SQ8 pruning evaluation — completing the per-rung quality "
    "matrix (x_lsh_eval: LSH candidates; x_pq_eval: ADC vs exact + "
    "rerank; x_sq8_eval: SQ8 vs exact; x_maxsim_eval: MaxSim "
    "pruning): nprobe=2 IVF-pruned SQ8 top-5 vs the FULL SQ8 top-5 "
    "over the fixed 500-vector sample universe, isolating what the "
    "CELL RESTRICTION alone costs (x_sq8_eval already prices the "
    "quantization; this prices the pruning — together they decompose "
    "the IVF,SQ8 index's quality budget exactly like maxsim_eval "
    "does for late interaction). Deterministic contract row: counts, "
    "true positives, recall in integer basis points, the scale-free "
    "chance-relative floor (>= 10x random), per-query rank "
    "cardinality. Sample-scale by design — the full-SQ8 baseline is "
    "priced once for a sample; the pruned scan is what ships.",
)
def x_ivf_sq8_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blspark.ext.similarity import ivf_sq8_topk, sq8_topk

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < _SQ8_EVAL_N
    )
    vecs = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    cents = _det_centroids(emb)
    queries = vecs.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 15))

    pruned = ivf_sq8_topk(vecs, queries, cents, k=_SQ8_K, nprobe=2)
    full = sq8_topk(vecs, queries, k=_SQ8_K)

    exact = full.select("query_id", "neighbor_id")
    return _recall_contract(vecs, queries, pruned, exact, "n_pruned", _SQ8_K)


# ---------------------------------------------------------------------------
# Cell-blocked k-NN graph (mutual-kNN sparsifier)
# ---------------------------------------------------------------------------

_KNN_K = 3

def _knn_edges_prefix(
    vec_filter: str = "", assign_src: str = "cassign", pre: str = ""
) -> str:
    """Shared WITH-prefix producing the float-rung ``edges`` CTE over
    the shared IVF prefix (vecs/cents/cassign — the ONE copy of the
    cell geometry, extensions9): norms hoisted once per node,
    within-cell self-join, exact-cosine top-k per src. ONE copy
    serving the batch graph oracle (mutual flag via a reversed-pair
    self-join), the graph-components oracle, (filtered to the fixed
    eval sample) the graph-expansion retrieval oracles, and (with
    ``pre``/``assign_src`` — extra CTEs and an alternate (vec_id,
    cell_id) assignment) the refined-cells graph oracle."""
    return f"""{_ivf_prefix_sql(vec_filter)}{pre},
sized AS MATERIALIZED (
  SELECT a.vec_id, a.cell_id, v.vec,
         {_NORMQ.format(a='v.vec')} AS nrm
  FROM {assign_src} a JOIN vecs v ON a.vec_id = v.vec_id
),
ranked AS MATERIALIZED (
  SELECT src_id, dst_id, cos_raw,
         CAST(ROW_NUMBER() OVER (PARTITION BY src_id
              ORDER BY cos_raw DESC, dst_id ASC) AS INT) AS rank
  FROM (
    SELECT a.vec_id AS src_id, b.vec_id AS dst_id,
           CASE WHEN (a.nrm * b.nrm) > 0
                THEN {_DOTQ.format(a='a.vec', b='b.vec')} / (a.nrm * b.nrm)
                ELSE CAST('-infinity' AS DOUBLE) END AS cos_raw
    FROM sized a JOIN sized b
      ON a.cell_id = b.cell_id AND a.vec_id <> b.vec_id) t
),
edges AS MATERIALIZED (SELECT * FROM ranked WHERE rank <= {_KNN_K})"""


KNN_EDGES_PREFIX = _knn_edges_prefix()

KNN_GRAPH_ORACLE = f"""
WITH {KNN_EDGES_PREFIX}
SELECT e.src_id, e.dst_id, ROUND(e.cos_raw, 6) AS cosine, e.rank,
       (m.src_id IS NOT NULL) AS mutual
FROM edges e LEFT JOIN edges m
  ON m.src_id = e.dst_id AND m.dst_id = e.src_id
"""


@register(
    "x_knn_graph",
    bench=True,
    oracle=KNN_GRAPH_ORACLE,
    doc="Cell-blocked k-nearest-neighbor GRAPH with a mutual-kNN flag "
    "— the corpus-vs-corpus shape none of the query-set top-k "
    "operators exercise: both join sides are the corpus, so nothing "
    "is broadcastable at 100 TB and the feasible plan is the "
    "cell-bucketed self-equi-join (quadratic term bounded by cell "
    "size, the x_dedup_semantic lever) over the family's shared "
    "deterministic label-mean cells. Every node emits its exact-"
    "cosine top-3 within its cell plus mutual = (reverse edge also "
    "top-3) — the standard sparsifier SemDeDup / graph-clustering "
    "pipelines consume. Full hash-checked oracle on the shared IVF "
    "prefix. ext/similarity.knn_graph.",
)
def x_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blspark.ext.similarity import knn_graph

    emb = load_table(spark, sf_dir, "embeddings")
    return knn_graph(emb, _det_centroids(emb), k=_KNN_K)


# Full SQL oracle for the SQ8-rung graph: shared IVF prefix + shared
# SQ8 quantization CTE + the family's int64 product fragment; within-
# cell self-join over codes, top-k by reconstructed inner product,
# mutual flag via the reversed-pair edge join.
# Shared WITH-prefix producing the SQ8-graph ``edges`` CTE — ONE copy
# serving the batch graph oracle (below, which adds the mutual join)
# AND the streaming edge-maintenance oracle (streaming_q), so the two
# can never silently diverge on the edge set.
KNN_SQ8_EDGES_PREFIX = f"""{_IVF_PREFIX_SQL},
{_SQ8_QZ_SQL},
qc AS MATERIALIZED (
  SELECT z.vec_id, z.qvec, z.scale, c.cell_id
  FROM qz z JOIN cassign c ON z.vec_id = c.vec_id
),
scored AS (
  SELECT a.vec_id AS src_id, b.vec_id AS dst_id,
         {_SQ8_IPROD.format(n="a", q="b")} AS iprod,
         a.scale * b.scale AS ss
  FROM qc a JOIN qc b ON a.cell_id = b.cell_id AND a.vec_id <> b.vec_id
),
edges AS MATERIALIZED (
  SELECT * FROM (
    SELECT src_id, dst_id, iprod, CAST(iprod AS DOUBLE) * ss AS raw,
           CAST(ROW_NUMBER() OVER (PARTITION BY src_id
                ORDER BY CAST(iprod AS DOUBLE) * ss DESC, dst_id ASC) AS INT)
             AS rank
    FROM scored) t
  WHERE rank <= {_KNN_K}
)"""

KNN_GRAPH_SQ8_ORACLE = f"""
WITH {KNN_SQ8_EDGES_PREFIX}
SELECT e.src_id, e.dst_id, ROUND(e.raw, 6) AS score, e.iprod, e.rank,
       (m.src_id IS NOT NULL) AS mutual
FROM edges e LEFT JOIN edges m
  ON m.src_id = e.dst_id AND m.dst_id = e.src_id
"""


@register(
    "x_knn_graph_sq8",
    bench=True,
    oracle=KNN_GRAPH_SQ8_ORACLE,
    doc="Mutual-kNN graph at the SQ8 rung — the configuration a "
    "100 TB graph build ships: the within-cell pairing (the dominant "
    "N * cell_size term) runs over 4x-compressed int8 codes with the "
    "EXACT int64 inner-product core (one double multiply per pair at "
    "the end), so the corpus self-join shuffles a quarter of the "
    "bytes and raw vectors never shuffle at all — quantization rides "
    "the cell-assign pass (sq8_quantize keep=cell_id) in one corpus "
    "scan. Scoring/tie-break tail shared verbatim with the query-set "
    "SQ8 paths (_sq8_rank); cells and mutual-flag device shared with "
    "x_knn_graph. Full hash-checked oracle on the shared IVF prefix "
    "+ shared SQ8 quantization CTE. ext/similarity.knn_graph_sq8.",
)
def x_knn_graph_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blspark.ext.similarity import knn_graph_sq8

    emb = load_table(spark, sf_dir, "embeddings")
    return knn_graph_sq8(emb, _det_centroids(emb), k=_KNN_K)


# Cap small enough that the test cells (30-220 members across SFs)
# actually split into 2-9 blocks — the splitting machinery is
# exercised at every SF, not just at a planted-skew extreme.
_KNN_MAX_BLOCK = 24


@register(
    "x_knn_graph_capped",
    bench=True,
    oracle=KNN_GRAPH_SQ8_ORACLE,
    doc="The SQ8 mutual-kNN graph under the hot-cell skew cap — "
    "result-IDENTICAL to x_knn_graph_sq8 (same oracle): the within-"
    "cell self-join is block-decomposed (_blocked_cell_join) so each "
    f"cell of size s pairs as ceil(s/{_KNN_MAX_BLOCK})^2 bounded "
    "block-pairs on a (cell, block_a, block_b) key instead of ONE "
    "shuffle task holding all s^2 pairs. This closes the graph "
    "family's one residual 100 TB hazard: a hot semantic region (or "
    "degenerate centroids) otherwise makes a single straggler task "
    "quadratic in the hot cell while the rest of the cluster idles — "
    "the cap redistributes the same exact work into ~max_block^2 "
    "tasks (total pairing cost is unchanged by construction; the "
    "exact top-k contract requires it). Cells at or under the cap "
    "replicate nothing, so the lever is free where there is no skew. "
    "ext/similarity.knn_graph_sq8(max_block=...).",
)
def x_knn_graph_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blspark.ext.similarity import knn_graph_sq8

    emb = load_table(spark, sf_dir, "embeddings")
    return knn_graph_sq8(
        emb, _det_centroids(emb), k=_KNN_K, max_block=_KNN_MAX_BLOCK
    )


# ---------------------------------------------------------------------------
# Graph quality evaluation (cell-blocked graph vs exact all-pairs top-k)
# ---------------------------------------------------------------------------

_G_TP_SQL = (
    "SELECT COUNT(*) FROM gedges g JOIN exact e "
    "ON g.query_id = e.query_id AND g.neighbor_id = e.neighbor_id"
)

KNN_GRAPH_EVAL_ORACLE = f"""
WITH {_ivf_prefix_sql(f"WHERE vec_id < {_SQ8_EVAL_N}")},
nv AS MATERIALIZED (
  SELECT vec_id, vec, {_NORMQ.format(a='vec')} AS nrm FROM vecs
),
gedges AS MATERIALIZED (
  SELECT query_id, neighbor_id, r FROM (
    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY a.vec_id
             ORDER BY CASE WHEN (av.nrm * bv.nrm) > 0
                  THEN {_DOTQ.format(a='av.vec', b='bv.vec')}
                       / (av.nrm * bv.nrm)
                  ELSE CAST('-infinity' AS DOUBLE) END
               DESC, b.vec_id ASC) AS r
    FROM cassign a JOIN cassign b
      ON a.cell_id = b.cell_id AND a.vec_id <> b.vec_id
    JOIN nv av ON av.vec_id = a.vec_id
    JOIN nv bv ON bv.vec_id = b.vec_id) t
  WHERE r <= {_KNN_K}
),
exact AS MATERIALIZED (
  SELECT query_id, neighbor_id FROM (
    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY a.vec_id
             ORDER BY {_DOTQ.format(a='a.vec', b='b.vec')}
                      / (a.nrm * b.nrm) DESC, b.vec_id ASC) AS r
    FROM nv a JOIN nv b ON a.vec_id <> b.vec_id) t
  WHERE r <= {_KNN_K}
)
SELECT
  CAST((SELECT COUNT(*) FROM vecs) AS INT) AS n_queries,
  CAST((SELECT COUNT(*) FROM gedges) AS INT) AS n_graph,
  CAST((SELECT COUNT(*) FROM exact) AS INT) AS n_truth,
  CAST(({_G_TP_SQL}) AS INT) AS n_tp,
  CAST(({_G_TP_SQL}) * 10000 // (SELECT COUNT(*) FROM exact)
       AS BIGINT) AS recall_bp,
  ({_G_TP_SQL}) * ((SELECT COUNT(*) FROM vecs) - 1)
    >= 10 * {_KNN_K} * (SELECT COUNT(*) FROM exact) AS recall_ok,
  (SELECT bool_and(n = {_KNN_K} AND mr = {_KNN_K}) FROM (
     SELECT query_id, COUNT(*) AS n, MAX(r) AS mr
     FROM gedges GROUP BY query_id) t)
    AS ranks_ok
"""


@register(
    "x_knn_graph_eval",
    oracle=KNN_GRAPH_EVAL_ORACLE,
    doc="Graph-construction recall contract — completing the per-rung "
    "quality matrix for the GRAPH family (x_lsh_eval / x_pq_eval / "
    "x_sq8_eval / x_ivf_sq8_eval / x_maxsim_eval): the cell-blocked "
    "top-3 graph vs the exact all-pairs cosine top-3, over the fixed "
    "500-vector sample universe (every sample node is a query — the "
    "all-corpus shape, so n_queries = n_corpus). What it prices is "
    "the cell restriction itself: a node's true top-3 may live in "
    "another cell; measured 2413 bp (sf0.01) / 2373 bp (sf0.1) "
    "against a 60 bp chance level — the pinned contract is the "
    "scale-free >= 10x-chance floor plus exact per-node cardinality "
    "(every node emits exactly k ranked edges at both SFs). "
    "Sample-scale by design: the exact all-pairs baseline is priced "
    "once for a fixed sample; the cell-blocked graph is what ships.",
)
def x_knn_graph_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blspark.ext.similarity import cosine_topk, knn_graph

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < _SQ8_EVAL_N
    )
    g = knn_graph(emb, _det_centroids(emb), k=_KNN_K, mutual=False).select(
        F.col("src_id").alias("query_id"),
        F.col("dst_id").alias("neighbor_id"),
        "rank",
    )
    exact = cosine_topk(emb, emb, k=_KNN_K).select("query_id", "neighbor_id")
    return _recall_contract(emb, emb, g, exact, "n_graph", _KNN_K)


# ---------------------------------------------------------------------------
# Components over the mutual-kNN graph (SemDeDup's final stage)
# ---------------------------------------------------------------------------

KNN_GRAPH_COMPONENTS_ORACLE = f"""
WITH RECURSIVE {KNN_EDGES_PREFIX},
mut AS MATERIALIZED (
  SELECT e.src_id AS a, e.dst_id AS b
  FROM edges e JOIN edges m
    ON m.src_id = e.dst_id AND m.dst_id = e.src_id
),
reach(node, r) AS (
  SELECT vec_id, vec_id FROM vecs
  UNION
  SELECT reach.node, m.b FROM reach JOIN mut m ON m.a = reach.r
),
comp AS (SELECT node, MIN(r) AS component FROM reach GROUP BY node)
SELECT node, component, node = component AS survivor FROM comp
"""


def _knn_mutual_pairs(spark: SparkSession, sf_dir: str):
    """(pairs, nodes) for the components queries: mutual top-k edges
    as canonical (id_a < id_b) pairs plus the node universe. ONE copy
    feeding both the cold and the warm components variants."""
    from blspark.ext.similarity import knn_graph

    emb = load_table(spark, sf_dir, "embeddings")
    edges = knn_graph(emb, _det_centroids(emb), k=_KNN_K)
    pairs = (
        edges.filter(F.col("mutual") & (F.col("src_id") < F.col("dst_id")))
        .select(F.col("src_id").alias("id_a"), F.col("dst_id").alias("id_b"))
    )
    return pairs, emb.select("vec_id")


def _components_over(pairs, nodes) -> DataFrame:
    from blspark.ext.dedup import connected_components

    comps = connected_components(pairs, nodes, id_col="vec_id")
    return comps.select(
        "node",
        "component",
        (F.col("node") == F.col("component")).alias("survivor"),
    )



@register(
    "x_knn_graph_components",
    oracle=KNN_GRAPH_COMPONENTS_ORACLE,
    bench=True,
    doc="Duplicate clusters over the MUTUAL-kNN graph — SemDeDup's "
    "final stage run on the graph sparsifier instead of raw "
    "threshold pairs (x_dedup_semantic's configuration): mutual "
    "top-3 edges (the reciprocal filter kills the hub/asymmetric "
    "links a plain threshold keeps) -> connected components via the "
    "O(log n)-round large-star/small-star contraction "
    "(connected_components — component diameter inside a cell can "
    "approach cell size, so a diameter-round label propagation would "
    "be the wrong tool) -> min-id survivor per cluster. Components "
    "are bounded by CELL membership by construction (edges never "
    "cross cells), which is what keeps both the closure and the "
    "contraction bounded at 100 TB. Returns (node, component, "
    "survivor) for every corpus vector; oracle = the shared edges "
    "CTE prefix + a recursive-CTE closure (the x_dedup_semantic "
    "device).",
)
def x_knn_graph_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _components_over(*_knn_mutual_pairs(spark, sf_dir))


# session-keyed memo of the mutual-edge pair list (compact id pairs,
# localCheckpoint — survives bench.py's clearCache(), the
# _WARM_IVFPQ_INDEX convention including its dead-session eviction)
_WARM_KNN_EDGES: dict[tuple[str, str], tuple] = {}


def _warm_knn_pairs(spark: SparkSession, sf_dir: str):
    def build():
        pairs, nodes = _knn_mutual_pairs(spark, sf_dir)
        return (
            pairs.localCheckpoint(eager=True),
            nodes.localCheckpoint(eager=True),
        )

    return _session_memo(_WARM_KNN_EDGES, spark, sf_dir, build)


@register(
    "x_knn_graph_components_warm",
    bench=True,
    oracle=KNN_GRAPH_COMPONENTS_ORACLE,
    doc="Graph clustering against a PRE-BUILT mutual-edge list — "
    "result-identical to x_knn_graph_components (same oracle), the "
    "x_similarity_ivfpq_warm convention applied to the graph family: "
    "the first call per dataset builds the mutual-kNN edges "
    "(cell-assign + within-cell pairing + reversed-pair join) and "
    "localCheckpoints the compact id-pair list; every later call "
    "pays ONLY the star-contraction clustering. In bench.py the cold "
    "pass therefore prices graph construction and the warm passes "
    "price clustering alone — the attribution split the cold "
    "variant's one 9 s number conflates, and the production shape "
    "(edges materialized once, re-clustered under different "
    "thresholds/policies many times).",
)
def x_knn_graph_components_warm(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _components_over(*_warm_knn_pairs(spark, sf_dir))


# ---------------------------------------------------------------------------
# Coreset selection: the most-central exemplar per IVF cell
# ---------------------------------------------------------------------------

# winning-cell cosine, carried out of the shared cell-assign CTE.
# Zero-norm guard mirrors the Spark side's -inf (ADVICE r8: 'a
# zero-norm pairing never wins a cell') — unguarded, DuckDB's 0/0
# NaN sorts GREATEST and a degenerate vector would win the argmax.
_PROTO_NN = f"({_NORMQ.format(a='v.vec')} * {_NORMQ.format(a='c.cvec')})"
_PROTO_SIM = (
    f"CASE WHEN {_PROTO_NN} > 0 "
    f"THEN {_DOTQ.format(a='v.vec', b='c.cvec')} / {_PROTO_NN} "
    f"ELSE CAST('-infinity' AS DOUBLE) END"
)

CELL_PROTOTYPES_ORACLE = f"""
WITH {_IVF_PREFIX_SQL},
csim AS MATERIALIZED ({_cell_assign_sql(
    "v", "vec_id", 1, extra_expr=_PROTO_SIM, extra_name="sim")}),
ranked AS (
  SELECT cell_id, vec_id, sim,
         ROW_NUMBER() OVER (PARTITION BY cell_id
           ORDER BY sim DESC, vec_id ASC) AS r,
         COUNT(*) OVER (PARTITION BY cell_id) AS cell_size
  FROM csim
)
SELECT cell_id, vec_id AS prototype_id, ROUND(sim, 6) AS centrality,
       cell_size
FROM ranked WHERE r = 1 ORDER BY cell_id
"""


@register(
    "x_cell_prototypes",
    oracle=CELL_PROTOTYPES_ORACLE,
    bench=True,
    doc="Coreset / prototype selection: the most-central exemplar per "
    "IVF cell — for each cell, the member with the highest cosine to "
    "its cell centroid (tie-break lowest id), plus the cell's size. "
    "SemDeDup keeps one representative per cluster; herding-style "
    "pruning keeps the most central — this is that selection step "
    "over the SAME cell geometry every IVF operator shares "
    "(_det_centroids / _cell_assign, one copy). Scale shape: one "
    "corpus scan through the map-side cell-assign hash-agg argmin "
    "(keep_sim=True carries the winning cosine out of the argmin "
    "struct), then a per-CELL hash-agg argmax over the compact "
    "(id, cell, sim) projection — both partial-aggregate map-side, "
    "no self-join, no window over the corpus. Returns (cell_id, "
    "prototype_id, centrality, cell_size), |cells| rows.",
)
def x_cell_prototypes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blspark.ext.similarity import cell_prototypes

    emb = load_table(spark, sf_dir, "embeddings")
    return cell_prototypes(emb, _det_centroids(emb)).orderBy("cell_id")


# ---------------------------------------------------------------------------
# Graph-based retrieval: expand-and-rerank over the mutual-kNN edges
# ---------------------------------------------------------------------------

_GX_K = 5
_GX_HOPS = 4
_GX_BEAM = 5
_GX_SEEDS = 3
# the graph-expand floor is 5x chance, not the query-set rungs' 10x:
# navigation is capped by the within-cell k=3 graph reachable from
# <= _GX_SEEDS entry cells (edges never cross cells), measured
# 2400 bp / 800 bp at sf0.01/sf0.1 against a 100 bp chance level —
# at sf0.01 that MATCHES the full-cell-scan ceiling x_knn_graph_eval
# prices (2413 bp), i.e. the walk loses nothing vs scanning its
# cells; the floor claims the scale-free half of that margin.
_GX_CHANCE = 5

# query-vs-prototype cosine with the family's zero-norm guard (the
# _PROTO_SIM device over the hoisted q.nrm / p.nrm norms)
_GX_SIM = (
    "CASE WHEN (q.nrm * p.nrm) > 0 "
    f"THEN {_DOTQ.format(a='q.vec', b='p.vec')} / (q.nrm * p.nrm) "
    "ELSE CAST('-infinity' AS DOUBLE) END"
)


def _gx_hop_blocks(
    hops: int,
    beam: int,
    adaptive_k: int | None = None,
    p: str = "",
) -> list[str]:
    """The unrolled hop CTEs of the beam walk — ONE generator for the
    fixed and the adaptive rule, so the hop semantics (frontier
    tie-break, visited dedup, the zero-norm guard) exist in exactly
    one SQL copy. ``p`` prefixes every per-walk CTE name (v/f/x/s/kb/
    act) so an eval can run TWO walks — adaptive and fixed — over the
    same shared prefix (edges/adj/qv/sized) in one statement; the
    caller must define ``{p}v0`` (for p="" that is _gx_chain's seed
    CTE). Shared CTE references (adj, qv, sized) stay unprefixed."""
    hop_blocks = []
    for i in range(hops):
        if adaptive_k is None:
            act_join, kb, s_split, act_next = "", "", "", ""
            v_next = f"""
{p}v{i + 1} AS MATERIALIZED (
  SELECT * FROM {p}v{i}
  UNION ALL
  SELECT x.query_id, x.cand,
         CASE WHEN (q.nrm * n.nrm) > 0
              THEN {_DOTQ.format(a='q.vec', b='n.vec')} / (q.nrm * n.nrm)
              ELSE CAST('-infinity' AS DOUBLE) END AS cos_raw
  FROM {p}x{i} x
  JOIN qv q ON q.query_id = x.query_id
  JOIN sized n ON n.vec_id = x.cand
)"""
        else:
            act_join = f" JOIN {p}act{i} a ON a.query_id = t0.query_id"
            kb = f"""
{p}kb{i} AS MATERIALIZED (
  SELECT query_id, MAX(CASE WHEN r = {adaptive_k} THEN cos_raw END) AS kth
  FROM (SELECT query_id, cos_raw, ROW_NUMBER() OVER (PARTITION BY query_id
          ORDER BY cos_raw DESC, cand ASC) AS r FROM {p}v{i}) t
  GROUP BY query_id
),"""
            s_split = f"""
{p}s{i} AS MATERIALIZED (
  SELECT x.query_id, x.cand,
         CASE WHEN (q.nrm * n.nrm) > 0
              THEN {_DOTQ.format(a='q.vec', b='n.vec')} / (q.nrm * n.nrm)
              ELSE CAST('-infinity' AS DOUBLE) END AS cos_raw
  FROM {p}x{i} x
  JOIN qv q ON q.query_id = x.query_id
  JOIN sized n ON n.vec_id = x.cand
),"""
            v_next = f"""
{p}v{i + 1} AS MATERIALIZED (
  SELECT * FROM {p}v{i} UNION ALL SELECT * FROM {p}s{i}
),"""
            act_next = f"""
{p}act{i + 1} AS MATERIALIZED (
  SELECT DISTINCT s.query_id
  FROM {p}s{i} s LEFT JOIN {p}kb{i} b ON b.query_id = s.query_id
  WHERE b.kth IS NULL OR s.cos_raw > b.kth
)"""
        hop_blocks.append(f""",{kb}
{p}f{i} AS MATERIALIZED (
  SELECT query_id, cand FROM (
    SELECT t0.query_id, t0.cand, ROW_NUMBER() OVER (
      PARTITION BY t0.query_id
      ORDER BY t0.cos_raw DESC, t0.cand ASC) AS r
    FROM {p}v{i} t0{act_join}) t
  WHERE r <= {beam}
),
{p}x{i} AS MATERIALIZED (
  SELECT DISTINCT f.query_id, a.nbr AS cand
  FROM {p}f{i} f JOIN adj a ON a.node = f.cand
  WHERE NOT EXISTS (SELECT 1 FROM {p}v{i} v
    WHERE v.query_id = f.query_id AND v.cand = a.nbr)
),{s_split}{v_next}{act_next}""")
    return hop_blocks


def _gx_chain(
    vec_filter: str = "",
    cross_m: int = 0,
    hops: int = _GX_HOPS,
    beam: int = _GX_BEAM,
    result_filter: str = "",
    adaptive_k: int | None = None,
) -> str:
    """ONE copy of the greedy-beam-search retrieval chain — the shared
    edges prefix (filtered or not), the undirected adjacency, the
    per-cell prototypes (the CELL_PROTOTYPES argmax device), the
    top-``_GX_SEEDS`` query->prototype seeding, ``_GX_HOPS`` unrolled
    greedy rounds (rank visited by query similarity, expand the top
    ``_GX_BEAM``, score the newly reached), and the final ranked
    ``gx`` CTE. Serves both the retrieval oracles (unfiltered) and
    the recall-contract oracles (fixed eval sample). The SQL mirror
    of ext/similarity.graph_expand_topk's loop, hop by hop.
    ``cross_m`` > 0 adds the prototype-backbone long-range edges to
    the adjacency (each prototype -> its cross_m most-similar OTHER
    prototypes, cosine desc / dst id asc — the SQL mirror of
    ext/similarity.proto_cross_edges); ``hops``/``beam`` pick the
    search budget (the xcell rung runs a deeper walk).
    ``result_filter`` is an extra "AND ..." predicate on the final
    rank's candidates (the filtered-ANN rung: the WALK stays
    unfiltered — waypoints route — only the rerank filters, the SQL
    mirror of graph_expand_topk's ``allowed`` semi-join).
    ``adaptive_k`` mirrors _beam_walk(early_exit_k=...): each hop
    also computes the pre-hop k-th best per query (kb{{i}}) and the
    still-active query set (act{{i}} — stays active only if the hop
    added a candidate strictly above its pre-hop k-th best, with
    fewer-than-k visited counting as unbounded improvement); the
    frontier joins act{{i}}, so converged queries stop expanding.
    The hop's new scored rows split into their own s{{i}} CTE so the
    activity rule and the visited union read ONE copy. Budgets are
    priced as COUNT(*) over the f{{i}} CTEs — the same rows the
    library's activity ledger records."""
    hop_blocks = _gx_hop_blocks(hops, beam, adaptive_k)
    if cross_m > 0:
        pp = f""",
pp AS MATERIALIZED (
  SELECT src_id, dst_id FROM (
    SELECT a.proto_id AS src_id, b.proto_id AS dst_id,
           ROW_NUMBER() OVER (PARTITION BY a.proto_id
             ORDER BY CASE WHEN (a.nrm * b.nrm) > 0
                           THEN {_DOTQ.format(a='a.vec', b='b.vec')}
                                / (a.nrm * b.nrm)
                           ELSE CAST('-infinity' AS DOUBLE) END DESC,
                      b.proto_id ASC) AS r
    FROM pv a JOIN pv b ON a.proto_id <> b.proto_id) t
  WHERE r <= {cross_m}
)"""
        adj_cross = """
  UNION
  SELECT src_id, dst_id FROM pp
  UNION
  SELECT dst_id, src_id FROM pp"""
    else:
        pp, adj_cross = "", ""
    return f"""{_knn_edges_prefix(vec_filter)},
csim AS MATERIALIZED ({_cell_assign_sql(
    "v", "vec_id", 1, extra_expr=_PROTO_SIM, extra_name="sim")}),
proto AS MATERIALIZED (
  SELECT vec_id AS proto_id FROM (
    SELECT vec_id, ROW_NUMBER() OVER (PARTITION BY cell_id
             ORDER BY sim DESC, vec_id ASC) AS r
    FROM csim) t
  WHERE r = 1
),
pv AS MATERIALIZED (
  SELECT proto_id, s.vec, s.nrm FROM proto
  JOIN sized s ON s.vec_id = proto_id
){pp},
adj AS MATERIALIZED (
  SELECT src_id AS node, dst_id AS nbr FROM edges
  UNION
  SELECT dst_id, src_id FROM edges{adj_cross}
),
qv AS MATERIALIZED (
  SELECT vec_id AS query_id, vec, nrm FROM sized
  WHERE vec_id >= 10 AND vec_id < 15
),
v0 AS MATERIALIZED (
  SELECT query_id, cand, cos_raw FROM (
    SELECT query_id, cand, cos_raw,
           ROW_NUMBER() OVER (PARTITION BY query_id
             ORDER BY cos_raw DESC, cand ASC) AS r
    FROM (SELECT q.query_id, p.proto_id AS cand, {_GX_SIM} AS cos_raw
          FROM qv q, pv p) t0) t
  WHERE r <= {_GX_SEEDS}
){"" if adaptive_k is None else ''',
act0 AS MATERIALIZED (
  SELECT query_id FROM qv
)'''}{"".join(hop_blocks)},
gx AS MATERIALIZED (
  SELECT query_id, cand AS neighbor_id, cos_raw,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY cos_raw DESC, cand ASC) AS INT) AS rank
  FROM v{hops}
  WHERE cand <> query_id{result_filter}
)"""


GRAPH_EXPAND_ORACLE = f"""
WITH {_gx_chain()}
SELECT query_id, neighbor_id, ROUND(cos_raw, 6) AS cosine, rank
FROM gx WHERE rank <= {_GX_K}
"""


@register(
    "x_retrieval_graph_expand",
    bench=True,
    oracle=GRAPH_EXPAND_ORACLE,
    doc="Graph-based retrieval by GREEDY BEAM SEARCH — the HNSW/NSW "
    "search rung the kNN graph naturally enables, composing "
    "cell_prototypes and knn_graph verbatim: each query enters at "
    "its 3 best prototypes (exact cosine vs the |cells| prototype "
    "vectors — HNSW's metadata-sized top-layer pick), then 4 greedy "
    "rounds expand the current 5 best-scoring visited nodes along "
    "the undirected top-3 edges, scoring new nodes against the "
    "QUERY — the frontier is chosen by query similarity, so the "
    "walk descends toward the query's neighborhood (a blind fixed "
    "expansion from the prototype measured 4% recall@5; the greedy "
    "walk is what makes graph retrieval work). Versus IVF probing, "
    "per-query cost is O(seeds + hops*beam*degree) — independent of "
    "cell size, so a hot cell costs a query nothing — at the price "
    "of recall bounded by graph navigability (x_graph_expand_eval "
    "prices it). Full hash-checked oracle: shared edges prefix + "
    "prototype argmax + the beam loop unrolled hop-by-hop. "
    "ext/similarity.graph_expand_topk.",
)
def x_retrieval_graph_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blspark.ext.similarity import graph_expand_topk, nav_graph_build

    emb = load_table(spark, sf_dir, "embeddings")
    cents = _det_centroids(emb)
    queries = emb.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 15))
    adj, protos = nav_graph_build(emb, cents, knn_k=_KNN_K)
    return graph_expand_topk(
        emb,
        queries,
        adj,
        protos,
        k=_GX_K,
        hops=_GX_HOPS,
        beam=_GX_BEAM,
        n_seeds=_GX_SEEDS,
    )


# session-keyed memo of the navigation adjacency (compact id pairs,
# already localCheckpointed by nav_graph_build — the _WARM_KNN_EDGES
# convention including dead-session eviction)
_WARM_GX_ADJ: dict[tuple[str, str], object] = {}


@register(
    "x_retrieval_graph_expand_warm",
    bench=True,
    oracle=GRAPH_EXPAND_ORACLE,
    doc="Beam-search retrieval against a PRE-BUILT navigation "
    "adjacency — result-identical to x_retrieval_graph_expand (same "
    "oracle), the warm-variant convention applied to graph search: "
    "the first call per dataset builds and localCheckpoints the "
    "undirected edge list (nav_graph_build); every later call pays "
    "ONLY prototype seeding + the greedy walk + the exact rerank — "
    "the steady-state per-batch cost of graph retrieval, with index "
    "construction amortized out exactly as in x_similarity_ivfpq_warm "
    "and x_knn_graph_components_warm. In bench.py the cold/warm split "
    "therefore attributes graph-build vs walk cost directly.",
)
def x_retrieval_graph_expand_warm(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from blspark.ext.similarity import graph_expand_topk, nav_graph_build
    from blspark.ops import local_relation

    emb = load_table(spark, sf_dir, "embeddings")

    def build():
        # shared assignment pass + memoized |cells|-row prototype
        # frame (r14): warm calls pay zero prototype scans
        adj, protos = nav_graph_build(emb, _det_centroids(emb), knn_k=_KNN_K)
        return adj, local_relation(
            protos.select("prototype_id"), "prototype_id bigint"
        )

    adj, protos = _session_memo(_WARM_GX_ADJ, spark, sf_dir, build)
    queries = emb.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 15))
    return graph_expand_topk(
        emb,
        queries,
        adj,
        protos,
        k=_GX_K,
        hops=_GX_HOPS,
        beam=_GX_BEAM,
        n_seeds=_GX_SEEDS,
    )


_GX_TP_SQL = (
    "SELECT COUNT(*) FROM gxk a JOIN exact e "
    "ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id"
)

GRAPH_EXPAND_EVAL_ORACLE = f"""
WITH {_gx_chain(f"WHERE vec_id < {_SQ8_EVAL_N}")},
gxk AS MATERIALIZED (
  SELECT query_id, neighbor_id, rank FROM gx WHERE rank <= {_GX_K}
),
exact AS MATERIALIZED (
  SELECT query_id, neighbor_id FROM (
    SELECT q.query_id, n.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY q.query_id
             ORDER BY CASE WHEN (q.nrm * n.nrm) > 0
                           THEN {_DOTQ.format(a='q.vec', b='n.vec')}
                                / (q.nrm * n.nrm)
                           ELSE '-infinity'::DOUBLE END DESC,
                      n.vec_id ASC) AS r
    FROM qv q JOIN sized n ON n.vec_id <> q.query_id) t
  WHERE r <= {_GX_K}
)
SELECT
  CAST((SELECT COUNT(*) FROM qv) AS INT) AS n_queries,
  CAST((SELECT COUNT(*) FROM gxk) AS INT) AS n_gx,
  CAST((SELECT COUNT(*) FROM exact) AS INT) AS n_truth,
  CAST(({_GX_TP_SQL}) AS INT) AS n_tp,
  CAST(({_GX_TP_SQL}) * 10000 // (SELECT COUNT(*) FROM exact)
       AS BIGINT) AS recall_bp,
  ({_GX_TP_SQL}) * ((SELECT COUNT(*) FROM vecs) - 1)
    >= {_GX_CHANCE} * {_GX_K} * (SELECT COUNT(*) FROM exact) AS recall_ok,
  (SELECT bool_and(n = {_GX_K} AND mr = {_GX_K}) FROM (
     SELECT query_id, COUNT(*) AS n, MAX(rank) AS mr
     FROM gxk GROUP BY query_id) t)
    AS ranks_ok
"""


@register(
    "x_graph_expand_eval",
    oracle=GRAPH_EXPAND_EVAL_ORACLE,
    doc="Graph-expansion retrieval recall contract — extending the "
    "per-rung quality matrix (x_lsh_eval / x_pq_eval / x_sq8_eval / "
    "x_ivf_sq8_eval / x_maxsim_eval / x_knn_graph_eval) to the "
    "expand-and-rerank rung: prototype-seeded two-hop candidates, "
    "exact-reranked top-5, vs the brute-force cosine top-5 over the "
    "fixed 500-vector sample universe. What it prices is graph "
    "NAVIGABILITY from the prototype entry points — the true top-5 "
    "may be unreachable (another cell: edges never cross cells; or "
    "off the greedy path), the exact trade the operator makes to "
    "decouple per-query cost from cell size. Measured 2400 bp "
    "(sf0.01 — MATCHING the full-cell-scan ceiling x_knn_graph_eval "
    "prices at 2413 bp, i.e. the walk loses nothing vs scanning its "
    "entry cells) / 800 bp (sf0.1) against a 100 bp chance level; "
    "the pinned floor is the scale-free >= 5x-chance half of that "
    "margin (see _GX_CHANCE). Deterministic contract row: counts, "
    "true positives, recall in integer basis points, the chance "
    "floor, per-query rank cardinality. Sample-scale by design "
    "(the fixed-universe x_pq_eval device).",
)
def x_graph_expand_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blspark.ext.similarity import (
        cosine_topk,
        graph_expand_topk,
        nav_graph_build,
    )

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < _SQ8_EVAL_N
    )
    queries = emb.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 15))
    adj, protos = nav_graph_build(emb, _det_centroids(emb), knn_k=_KNN_K)
    gx = graph_expand_topk(
        emb,
        queries,
        adj,
        protos,
        k=_GX_K,
        hops=_GX_HOPS,
        beam=_GX_BEAM,
        n_seeds=_GX_SEEDS,
    )
    exact = cosine_topk(emb, queries, k=_GX_K).select(
        "query_id", "neighbor_id"
    )
    return _recall_contract(
        emb, queries, gx, exact, "n_gx", _GX_K, chance_mult=_GX_CHANCE
    )


# ---------------------------------------------------------------------------
# Cross-cell graph retrieval: prototype-backbone long-range edges
# ---------------------------------------------------------------------------

# The xcell rung's operating point: within-cell edges alone cap the
# walk at its <= _GX_SEEDS entry cells, so the r11 doc honestly called
# 2400 bp (sf0.01) the full-cell-scan ceiling. The prototype backbone
# (m_cross=3 long-range links) plus a DEEPER walk (HNSW's efSearch
# lever: 10 hops, beam 20 — per-query cost still O(hops*beam*degree),
# constant in corpus size) measured 4000/3200 bp at sf0.01/sf0.1 vs
# 3200/2000 for the within-only walk at the SAME budget and 2400/800
# at the r11 budget — the long-range edges, not the budget, lift the
# reachability ceiling, so this rung pins the family-standard 10x
# chance floor (_GX_CHANCE only claims 5x) plus escaped_ok: at least
# one returned neighbor lies OUTSIDE its query's seed cells, which the
# within-cell walk can never produce.
_GXX_M = 3
_GXX_HOPS = 10
_GXX_BEAM = 20

GRAPH_EXPAND_XCELL_ORACLE = f"""
WITH {_gx_chain(cross_m=_GXX_M, hops=_GXX_HOPS, beam=_GXX_BEAM)}
SELECT query_id, neighbor_id, ROUND(cos_raw, 6) AS cosine, rank
FROM gx WHERE rank <= {_GX_K}
"""


def _xcell_gx(spark: SparkSession, sf_dir: str, eval_sample: bool):
    """Shared body of the xcell retrieval query and its recall
    contract: build the cross-cell adjacency, run the deep walk.
    ONE shared cell-assignment pass (assign_corpus, checkpointed)
    feeds the kNN edges, the prototype backbone AND the seeds'
    prototype frame — the r14 build-constant device: without it the
    adjacency + seeding pay 4 separate argmin corpus scans."""
    from blspark.ext.similarity import graph_expand_topk, nav_graph_build

    emb = load_table(spark, sf_dir, "embeddings")
    if eval_sample:
        emb = emb.filter(F.col("vec_id") < _SQ8_EVAL_N)
    cents = _det_centroids(emb)
    queries = emb.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 15))
    adj, protos = nav_graph_build(
        emb, cents, knn_k=_KNN_K, m_cross=_GXX_M
    )
    gx = graph_expand_topk(
        emb,
        queries,
        adj,
        protos,
        k=_GX_K,
        hops=_GXX_HOPS,
        beam=_GXX_BEAM,
        n_seeds=_GX_SEEDS,
    )
    return emb, cents, queries, protos, gx


@register(
    "x_retrieval_graph_expand_xcell",
    bench=True,
    oracle=GRAPH_EXPAND_XCELL_ORACLE,
    doc="Graph retrieval over a NAVIGABLE-SMALL-WORLD edge set: the "
    "within-cell kNN edges plus HNSW-style long-range links — each "
    "cell's prototype connects to its 3 most-similar OTHER cells' "
    "prototypes (proto_cross_edges: a |cells| x |cells| broadcast "
    "product of a metadata-sized frame, never corpus-scale) — walked "
    "by the same greedy beam search at a deeper operating point "
    "(hops=10, beam=20: the efSearch recall/latency knob; per-query "
    "cost stays O(hops*beam*degree), independent of corpus and cell "
    "size). The long-range edges remove the structural recall "
    "ceiling of the within-cell rung: a walk can leave its entry "
    "cells through the prototype backbone, which "
    "x_retrieval_graph_expand structurally cannot. Full hash-checked "
    "oracle: the shared beam chain with the prototype-pair edge CTE "
    "unioned into the adjacency, 10 hops unrolled. "
    "ext/similarity.nav_graph_build / proto_cross_edges.",
)
def x_retrieval_graph_expand_xcell(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _xcell_gx(spark, sf_dir, eval_sample=False)[4]


# session-keyed memo of the NSW adjacency (within-cell kNN edges +
# prototype backbone, compact id pairs, already localCheckpointed by
# nav_graph_build — the _WARM_GX_ADJ convention including
# dead-session eviction)
_WARM_GXX_ADJ: dict[tuple[str, str], object] = {}


@register(
    "x_retrieval_graph_expand_xcell_warm",
    bench=True,
    oracle=GRAPH_EXPAND_XCELL_ORACLE,
    doc="NSW beam-search retrieval against a PRE-BUILT cross-cell "
    "adjacency — result-identical to x_retrieval_graph_expand_xcell "
    "(same oracle), the warm-variant convention applied to the "
    "navigable-small-world rung: the first call per dataset builds "
    "and localCheckpoints the within-cell kNN edges + prototype "
    "backbone (nav_graph_build); every later call pays ONLY "
    "prototype seeding + the deep greedy walk (hops=10, beam=20) + "
    "the exact rerank — the steady-state per-batch cost of NSW "
    "retrieval with graph construction amortized out. Attribution "
    "comes from THIS entry's own cold-vs-warm split (cold = its "
    "first run builds the memoized adjacency + walks; warm = walk "
    "only) — unlike the scan/scan_warm device the two xcell entries "
    "share nothing (the plain entry deliberately builds un-memoized "
    "each run, pricing the construction-per-batch shape).",
)
def x_retrieval_graph_expand_xcell_warm(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from blspark.ext.similarity import graph_expand_topk, nav_graph_build
    from blspark.ops import local_relation

    emb = load_table(spark, sf_dir, "embeddings")

    def build():
        # one shared assignment pass for edges + backbone + the
        # MEMOIZED prototype frame (r14): warm calls previously paid
        # a fresh prototype argmin scan per call for seeding — the
        # |cells|-row local_relation amortizes it with the adjacency
        adj, protos = nav_graph_build(
            emb, _det_centroids(emb), knn_k=_KNN_K, m_cross=_GXX_M
        )
        return adj, local_relation(
            protos.select("prototype_id"), "prototype_id bigint"
        )

    adj, protos = _session_memo(_WARM_GXX_ADJ, spark, sf_dir, build)
    queries = emb.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 15))
    return graph_expand_topk(
        emb,
        queries,
        adj,
        protos,
        k=_GX_K,
        hops=_GXX_HOPS,
        beam=_GXX_BEAM,
        n_seeds=_GX_SEEDS,
    )


_GXX_TP_SQL = (
    "SELECT COUNT(*) FROM gxk a JOIN exact e "
    "ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id"
)

GRAPH_EXPAND_XCELL_EVAL_ORACLE = f"""
WITH {_gx_chain(f"WHERE vec_id < {_SQ8_EVAL_N}", cross_m=_GXX_M,
                hops=_GXX_HOPS, beam=_GXX_BEAM)},
gxk AS MATERIALIZED (
  SELECT query_id, neighbor_id, rank FROM gx WHERE rank <= {_GX_K}
),
exact AS MATERIALIZED (
  SELECT query_id, neighbor_id FROM (
    SELECT q.query_id, n.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY q.query_id
             ORDER BY CASE WHEN (q.nrm * n.nrm) > 0
                           THEN {_DOTQ.format(a='q.vec', b='n.vec')}
                                / (q.nrm * n.nrm)
                           ELSE '-infinity'::DOUBLE END DESC,
                      n.vec_id ASC) AS r
    FROM qv q JOIN sized n ON n.vec_id <> q.query_id) t
  WHERE r <= {_GX_K}
),
esc AS MATERIALIZED (
  SELECT g.query_id, g.neighbor_id FROM gxk g
  JOIN cassign ca ON ca.vec_id = g.neighbor_id
  WHERE NOT EXISTS (
    SELECT 1 FROM v0 s JOIN cassign pc ON pc.vec_id = s.cand
    WHERE s.query_id = g.query_id AND pc.cell_id = ca.cell_id)
)
SELECT
  CAST((SELECT COUNT(*) FROM qv) AS INT) AS n_queries,
  CAST((SELECT COUNT(*) FROM gxk) AS INT) AS n_gxx,
  CAST((SELECT COUNT(*) FROM exact) AS INT) AS n_truth,
  CAST(({_GXX_TP_SQL}) AS INT) AS n_tp,
  CAST(({_GXX_TP_SQL}) * 10000 // (SELECT COUNT(*) FROM exact)
       AS BIGINT) AS recall_bp,
  ({_GXX_TP_SQL}) * ((SELECT COUNT(*) FROM vecs) - 1)
    >= 10 * {_GX_K} * (SELECT COUNT(*) FROM exact) AS recall_ok,
  CAST((SELECT COUNT(*) FROM esc) AS INT) AS n_escaped,
  (SELECT COUNT(*) FROM esc) > 0 AS escaped_ok,
  (SELECT bool_and(n = {_GX_K} AND mr = {_GX_K}) FROM (
     SELECT query_id, COUNT(*) AS n, MAX(rank) AS mr
     FROM gxk GROUP BY query_id) t)
    AS ranks_ok
"""


@register(
    "x_graph_expand_xcell_eval",
    oracle=GRAPH_EXPAND_XCELL_EVAL_ORACLE,
    doc="Recall contract for the cross-cell graph-retrieval rung, "
    "with the STRUCTURAL pin the within-cell rung cannot make: "
    "escaped_ok asserts at least one returned neighbor lies outside "
    "its query's seed cells — reachable only through the prototype "
    "backbone (x_retrieval_graph_expand's adjacency never crosses a "
    "cell boundary, so its n_escaped is zero by construction). "
    "recall_ok pins the family-standard 10x-chance floor (the "
    "within rung only claims 5x, _GX_CHANCE): measured 4000 bp "
    "(sf0.01) / 3200 bp (sf0.1) vs 100 bp chance — ABOVE both the "
    "2400 bp full-cell-scan ceiling the r11 rung documented and the "
    "3200/2000 bp the within-only walk scores at the SAME deepened "
    "budget (tests/test_knn_graph.py::"
    "test_xcell_recall_beats_within_at_same_budget pins the "
    "comparison). "
    "Seed cells come from the SAME _proto_seeds step the walk uses; "
    "the oracle mirrors it via v0 x cassign. Deterministic contract "
    "row, sample-scale universe (the x_pq_eval device).",
)
def x_graph_expand_xcell_eval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from blspark.ext.similarity import (
        _cell_assign,
        _proto_seeds,
        _vecs,
        cosine_topk,
    )

    emb, cents, queries, protos, gx = _xcell_gx(
        spark, sf_dir, eval_sample=True
    )
    exact = cosine_topk(emb, queries, k=_GX_K).select(
        "query_id", "neighbor_id"
    )
    vecs = _vecs(emb, "vec_id", "embedding", "cand_id", "cvec", "cnorm")
    q = _vecs(queries, "vec_id", "embedding", "query_id", "qvec", "qnorm")
    seeds = _proto_seeds(q, vecs, protos, _GX_SEEDS)
    assigned = _cell_assign(
        emb, cents, "vec_id", "embedding", 1, "nid"
    ).select("nid", "cell_id")
    seed_cells = (
        seeds.join(assigned, seeds["cand_id"] == assigned["nid"])
        .select("query_id", "cell_id")
        .distinct()
    )
    nbr_cells = gx.join(
        assigned, gx["neighbor_id"] == assigned["nid"]
    ).select("query_id", "cell_id")
    n_escaped = (
        nbr_cells.join(seed_cells, ["query_id", "cell_id"], "left_anti")
        .agg(F.count("*").cast("int").alias("n_escaped"))
    )
    return _recall_contract(
        emb,
        queries,
        gx,
        exact,
        "n_gxx",
        _GX_K,
        extra=lambda j: [
            F.col("n_escaped"),
            (F.col("n_escaped") > 0).alias("escaped_ok"),
        ],
        chance_mult=10,
        extra_frames=(n_escaped,),
    )


# ---------------------------------------------------------------------------
# Hard-negative mining (contrastive training negatives)
# ---------------------------------------------------------------------------

_NEG_K = 3

# centroid-to-centroid cosine with the family's zero-norm guard
_NEG_CSIM = (
    f"CASE WHEN ({_NORMQ.format(a='a.cvec')} * {_NORMQ.format(a='b.cvec')})"
    " > 0 "
    f"THEN {_DOTQ.format(a='a.cvec', b='b.cvec')} / "
    f"({_NORMQ.format(a='a.cvec')} * {_NORMQ.format(a='b.cvec')}) "
    "ELSE CAST('-infinity' AS DOUBLE) END"
)


def _neg_oracle() -> str:
    from blspark.ext.dedup import hex_int_sql

    hkey = hex_int_sql(
        "md5(CAST(aa.vec_id AS VARCHAR) || ':' "
        "|| CAST(mm.vec_id AS VARCHAR))",
        12,
    )
    return f"""
WITH {_IVF_PREFIX_SQL},
nmap AS MATERIALIZED (
  SELECT acell, ncell FROM (
    SELECT a.cell_id AS acell, b.cell_id AS ncell,
           ROW_NUMBER() OVER (PARTITION BY a.cell_id
             ORDER BY {_NEG_CSIM} DESC, b.cell_id ASC) AS r
    FROM cents a, cents b WHERE a.cell_id <> b.cell_id) t
  WHERE r = 1
),
cand AS MATERIALIZED (
  SELECT aa.vec_id AS anchor_id, mm.vec_id AS negative_id,
         {hkey} AS hkey
  FROM cassign aa
  JOIN nmap n ON n.acell = aa.cell_id
  JOIN cassign mm ON mm.cell_id = n.ncell
)
SELECT anchor_id, negative_id, rank FROM (
  SELECT anchor_id, negative_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY anchor_id
              ORDER BY hkey ASC, negative_id ASC) AS INT) AS rank
  FROM cand) t
WHERE rank <= {_NEG_K}
"""


@register(
    "x_negative_samples",
    bench=True,
    oracle=_neg_oracle(),
    doc="Hard-negative mining for contrastive training — for EVERY "
    "corpus vector, 3 deterministic draws from its NEAREST OTHER IVF "
    "cell: close enough in embedding space to be informative "
    "negatives, guaranteed non-positives under the same cell "
    "geometry the dedup/graph family shares. The cell-to-cell "
    "nearest map is |cells|^2 centroid cosines (metadata, "
    "broadcast); the anchor -> target-cell pairing is a keyed "
    "equi-join bounded by CELL size (the graph family's bound); the "
    "per-anchor draw is the k-min of the 48-bit md5(anchor:member) "
    "prefix (the shared md5-prefix device — reproducible across "
    "runs, engines and partitionings, no RNG state, id tie-break). "
    "Full hash-checked oracle over the shared IVF prefix. "
    "ext/similarity.negative_samples.",
)
def x_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blspark.ext.similarity import negative_samples

    emb = load_table(spark, sf_dir, "embeddings")
    return negative_samples(emb, _det_centroids(emb), k=_NEG_K)


# ---------------------------------------------------------------------------
# Recursive-IVF refinement: the SEMANTIC hot-cell escape
# ---------------------------------------------------------------------------

_SPLIT_MAX = 50  # sf0.01 primary cells run 44-59 members (sf0.1:
# 182-218): at sf0.01 six cells stay at-or-under the cap and four
# split, so BOTH id-encoding branches (cell*4 vs cell*4+1+sub) are
# driver-exercised; at sf0.1 every cell splits (the hot shape)

# the sub-assignment cosine with the family's zero-norm guard
_SPLIT_NN = f"({_NORMQ.format(a='v.vec')} * {_NORMQ.format(a='c.scvec')})"
_SPLIT_SIM = (
    f"CASE WHEN {_SPLIT_NN} > 0 "
    f"THEN {_DOTQ.format(a='v.vec', b='c.scvec')} / {_SPLIT_NN} "
    "ELSE CAST('-infinity' AS DOUBLE) END"
)


def _split_pre_sql() -> str:
    """The recursive-IVF refinement chain appended to the shared IVF
    prefix (the SQL mirror of ext/similarity.split_oversized_cells,
    stage for stage): size-tag the primary assignment, md5-parity
    seed split inside oversized cells, deterministic ROUND(avg, 6)
    sub-centroids (the cm/cents device one level down), nearest-sub
    reassign (rank window, lowest-sub tie-break, zero-norm guard),
    and the collision-free refined cell id. Produces ``rcells``
    (vec_id, cell_id) — a drop-in assign_src for the shared edges
    prefix."""
    from blspark.ext.dedup import hex_int_sql

    md5g = hex_int_sql("md5(CAST(a.vec_id AS VARCHAR))", 6)
    return f""",
szs AS MATERIALIZED (
  SELECT cell_id, COUNT(*) > {_SPLIT_MAX} AS oversized
  FROM cassign GROUP BY cell_id
),
tag AS MATERIALIZED (
  SELECT a.vec_id, a.cell_id, s.oversized,
         CASE WHEN s.oversized
              THEN CAST(({md5g}) % 2 AS INT) END AS seed_g
  FROM cassign a JOIN szs s ON s.cell_id = a.cell_id
),
subcm AS MATERIALIZED (
  SELECT t.cell_id, t.seed_g, r.i AS pos,
         ROUND(AVG(v.vec[r.i + 1]), 6) AS m
  FROM tag t JOIN vecs v ON v.vec_id = t.vec_id, range(0, 64) r(i)
  WHERE t.oversized
  GROUP BY t.cell_id, t.seed_g, r.i
),
subcent AS MATERIALIZED (
  SELECT cell_id, seed_g AS sub, list(m ORDER BY pos) AS scvec
  FROM subcm GROUP BY cell_id, seed_g
),
resub AS MATERIALIZED (
  SELECT vec_id, sub FROM (
    SELECT t.vec_id, c.sub,
           ROW_NUMBER() OVER (PARTITION BY t.vec_id
             ORDER BY {_SPLIT_SIM} DESC, c.sub ASC) AS r
    FROM tag t
    JOIN vecs v ON v.vec_id = t.vec_id
    JOIN subcent c ON c.cell_id = t.cell_id
    WHERE t.oversized) x
  WHERE r = 1
),
rcells AS MATERIALIZED (
  SELECT t.vec_id,
         CAST(CASE WHEN t.oversized THEN t.cell_id * 4 + 1 + r.sub
              ELSE t.cell_id * 4 END AS INT) AS cell_id
  FROM tag t LEFT JOIN resub r ON r.vec_id = t.vec_id
)"""


CELLS_SPLIT_ORACLE = f"""
WITH {_IVF_PREFIX_SQL}{_split_pre_sql()}
SELECT cell_id AS rcell_id, cell_id // 4 AS primary_cell,
       cell_id % 4 <> 0 AS was_split,
       CAST(COUNT(*) AS INT) AS n_members
FROM rcells GROUP BY cell_id ORDER BY rcell_id
"""


@register(
    "x_cells_split",
    oracle=CELLS_SPLIT_ORACLE,
    doc="Recursive-IVF cell refinement — the SEMANTIC hot-cell escape "
    "(the physical one, x_knn_graph_capped's max_block, redistributes "
    "the quadratic pairing; when even the TOTAL s^2 within a cell is "
    "infeasible the cell itself must split, which changes the "
    "neighbor universe and is therefore an explicit operator, never "
    f"silent): members of any primary cell over {_SPLIT_MAX} are "
    "reassigned to the nearer of two data-adaptive sub-centroids "
    "trained inside the cell — one k-means half-step (md5-parity "
    "seed split, the engine-portable hash device; deterministic "
    "ROUND(avg,6) means, the _det_centroids device one level down; "
    "nearest-mean reassign with the shared argmin/tie-break/guard). "
    "No self-join anywhere: one assign pass, one size count, one "
    "per-position aggregate over only the oversized cells, one "
    "broadcast reassign. Contract: per refined cell (refined id, "
    "primary cell, split flag, member count), full hash oracle. "
    "ext/similarity.split_oversized_cells.",
)
def x_cells_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blspark.ext.similarity import split_oversized_cells

    emb = load_table(spark, sf_dir, "embeddings")
    refined = split_oversized_cells(
        emb, _det_centroids(emb), max_cell=_SPLIT_MAX
    )
    return (
        refined.groupBy(F.col("cell_id").alias("rcell_id"))
        .agg(F.count(F.lit(1)).cast("int").alias("n_members"))
        .select(
            "rcell_id",
            (F.col("rcell_id") / 4).cast("long").alias("primary_cell"),
            (F.col("rcell_id") % 4 != 0).alias("was_split"),
            "n_members",
        )
        .orderBy("rcell_id")
    )


KNN_GRAPH_SPLIT_ORACLE = f"""
WITH {_knn_edges_prefix(assign_src="rcells", pre=_split_pre_sql())}
SELECT e.src_id, e.dst_id, ROUND(e.cos_raw, 6) AS cosine, e.rank,
       (m.src_id IS NOT NULL) AS mutual
FROM edges e LEFT JOIN edges m
  ON m.src_id = e.dst_id AND m.dst_id = e.src_id
"""


@register(
    "x_knn_graph_split",
    bench=True,
    oracle=KNN_GRAPH_SPLIT_ORACLE,
    doc="The kNN graph over recursively REFINED cells — the semantic "
    "hot-cell escape composed end-to-end: split_oversized_cells "
    f"(max_cell={_SPLIT_MAX}) bounds expected cell size, then the ONE "
    "shared pairing (_float_pairing + _cell_knn — scoring, ranking, "
    "tie-break and mutual-flag device shared verbatim with "
    "x_knn_graph) builds the exact top-3 graph within refined cells. "
    "Deliberately NOT result-identical to x_knn_graph: a split "
    "member's neighbor universe shrinks to its sub-cell — the "
    "explicit trade (~s^2/2 pairing per split level) a deployment "
    "makes when a hot cell's total quadratic term is infeasible. "
    "Full hash-checked oracle: shared edges prefix driven by the "
    "refinement chain's rcells. Composes with max_block for cells "
    "still hot after splitting. ext/similarity.knn_graph_split.",
)
def x_knn_graph_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blspark.ext.similarity import knn_graph_split

    emb = load_table(spark, sf_dir, "embeddings")
    return knn_graph_split(
        emb, _det_centroids(emb), k=_KNN_K, max_cell=_SPLIT_MAX
    )


# ---------------------------------------------------------------------------
# Exact weighted sampling without replacement (hash-min replication)
# ---------------------------------------------------------------------------

_WS_N = 200
_WS_SRC_K = 10


def _ws_keyed_sql() -> str:
    """ONE copy of the weighted-sampling family's oracle prefix: the
    quality-derived 1..MAX_WEIGHT weight (the x_sample_quality_weighted
    / x_select_token_budget quality device) and the hash-min key, with
    the source carried for the stratified variant. Serves the global
    top-n, the per-source top-k, and the streaming threshold-keep
    oracles — the three can never silently diverge on the key. The
    draw-range bound and the weight clamp both derive from
    ext/sampling.MAX_WEIGHT (the same constant hashmin_key clamps
    with), so a weight-formula change past the bound clamps
    identically on both engines instead of silently diverging."""
    from blspark.ext.dedup import hex_int_sql
    from blspark.ext.sampling import MAX_WEIGHT
    from blspark.queries.extensions2 import _Q_SQL

    return f"""s AS (
  SELECT doc_id, source,
         LEAST({MAX_WEIGHT}, GREATEST(1,
           COALESCE(1 + CAST(FLOOR({_Q_SQL} * 7) AS INT), 1)))
           AS weight
  FROM documents
),
keyed AS (
  SELECT doc_id, source, weight,
         list_min(list_transform(
           list_transform(
             list_filter(range(1, {MAX_WEIGHT + 1}), j -> j <= weight),
             j -> md5(CAST(doc_id AS VARCHAR) || ':'
                      || CAST(j AS VARCHAR))),
           h -> {hex_int_sql("h", 12)})) AS skey
  FROM s
)"""


def _ws_oracle() -> str:
    return f"""
WITH {_ws_keyed_sql()}
SELECT doc_id, weight, skey FROM keyed
ORDER BY skey, doc_id LIMIT {_WS_N}
"""


def ws_keyed_frame(docs: DataFrame) -> DataFrame:
    """Spark twin of ``_ws_keyed_sql`` over any (doc_id, text, source)
    frame — batch OR streaming (pure stateless projection): (doc_id,
    source, weight, skey). Quality weight via the ONE quality formula
    (ext/text.quality_score, source passed through with ``keep``),
    clamped to >= 1 exactly like the oracle prefix (NULL text ->
    NULL quality -> one draw, mirroring hashmin_key's contract,
    weights past ext/sampling.MAX_WEIGHT clamp down to it exactly
    like the oracle prefix), key via ext/sampling.hashmin_key. The
    ONE projection both the three batch/stream family queries call —
    the weight device cannot change in one consumer without the
    others."""
    from blspark.ext.sampling import MAX_WEIGHT, hashmin_key
    from blspark.ext.text import quality_score

    w = quality_score(docs, "doc_id", "text", keep=("source",)).select(
        F.col("id").alias("doc_id"),
        "source",
        F.least(
            F.lit(MAX_WEIGHT),
            F.greatest(
                F.lit(1),
                F.coalesce(
                    (F.lit(1) + F.floor(F.col("quality") * 7)).cast("int"),
                    F.lit(1),
                ),
            ),
        ).alias("weight"),
    )
    return hashmin_key(w, "doc_id", "weight")


def _ws_keyed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ws_keyed_frame(load_table(spark, sf_dir, "documents"))


@register(
    "x_sample_weighted_topn",
    oracle=_ws_oracle(),
    bench=True,
    doc="Exact weighted sampling WITHOUT replacement, fixed size "
    f"n={_WS_N}: each document weighted 1..8 by its composite quality "
    "score (1 + floor(quality*7) — the x_sample_quality_weighted / "
    "x_select_token_budget quality device), selection by hash-min "
    "replication (ext/sampling): key = min over j in 1..w of the "
    "48-bit md5(id:j) prefix, so P(win) = w/sum(w) EXACTLY and "
    "successive winners are the A-ES (Efraimidis-Spirakis u^(1/w)) "
    "without-replacement sample restated in pure integer compares — "
    "no pow/log (engine last-ulp divergence), no RNG state, "
    "reproducible across engines and partitionings. Complements "
    "x_sample_quality_weighted (Bernoulli keep, random SIZE) with "
    "the fixed-size draw a sampling budget needs. Scale shape: the "
    "key is one inline map-side expression (w bounded at 8 by "
    "contract) and top-n-by-key plans as TakeOrderedAndProject — "
    "per-partition partial top-n + one metadata-sized merge; no "
    "shuffle, no window, no corpus sort (plan-pinned).",
)
def x_sample_weighted_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _ws_keyed(spark, sf_dir)
        .orderBy(F.asc("skey"), F.asc("doc_id"))
        .limit(_WS_N)
        .select("doc_id", "weight", "skey")
    )


@register(
    "x_sample_weighted_per_source",
    oracle=f"""
WITH {{prefix}}
SELECT source, doc_id, weight, skey, rank FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (
      PARTITION BY source ORDER BY skey, doc_id) AS INT) AS rank
  FROM keyed) t
WHERE rank <= {_WS_SRC_K} ORDER BY source, rank
""".format(prefix=_ws_keyed_sql()),
    doc=f"Stratified weighted sampling: an exact {_WS_SRC_K}-document "
    "weighted draw WITHOUT replacement per source — the per-domain "
    "form of x_sample_weighted_topn (a pretraining mix samples "
    "quality-proportionally WITHIN each domain; the deterministic "
    "argmax form is x_source_cap_topk, which this complements with "
    "an actual draw). Same hash-min keys (shared _ws_keyed device), "
    "ranked per source. Scale shape: the key stays one map-side "
    "expression; the per-source window first passes through "
    "source_cap_prefilter (the shared skew device: histogram-binned "
    "upward-closed superset), so a mega-source sorts ~slack*k rows "
    "instead of its full population — prefilter exactness means the "
    "output is identical with or without it (property-tested). The "
    "prefilter's histogram branch recomputes the keyed projection "
    "rather than persisting it (the recompute-over-persist "
    "convention: a corpus-sized cache is infeasible at 100 TB and "
    "the recompute is one extra columnar scan + w<=8 md5s per row, "
    "map-side).",
)
def x_sample_weighted_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blspark.queries.extensions3 import source_cap_prefilter

    keyed = _ws_keyed(spark, sf_dir)
    # histogram prefilter wants an ascending-better score in [0, ~2]:
    # 1 - skey/2^48 is exact (48-bit keys, 53-bit significand) and
    # order-reverses the key so 'top by score' = 'smallest key'
    pruned = source_cap_prefilter(
        keyed.withColumn(
            "prio", F.lit(1.0) - F.col("skey") / F.lit(float(1 << 48))
        ),
        cap=_WS_SRC_K,
        key_col="source",
        score_col="prio",
    )
    w = Window.partitionBy("source").orderBy(F.asc("skey"), F.asc("doc_id"))
    return (
        pruned.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= _WS_SRC_K)
        .select("source", "doc_id", "weight", "skey", "rank")
    )


# ---------------------------------------------------------------------------
# Storage-level bucketing: the co-located join lever
# ---------------------------------------------------------------------------

def _replace_warehouse_table(spark: SparkSession, name: str) -> None:
    """Drop ``name`` and purge its leftover warehouse directory — a
    FRESH session's in-memory catalog does not know a previous run's
    managed table, so ``mode=overwrite`` alone raises
    LOCATION_ALREADY_EXISTS on the orphan dir (a deployment with a
    persistent metastore needs only the DROP). Shared by every
    layout-demo writer (bucketed + partitioned tables)."""
    import os
    import shutil
    import urllib.parse

    spark.sql(f"DROP TABLE IF EXISTS {name}")
    wpath = urllib.parse.urlparse(
        spark.conf.get("spark.sql.warehouse.dir")
    ).path
    leftover = os.path.join(wpath, name)
    if wpath and os.path.isdir(leftover):
        shutil.rmtree(leftover)


_BKT_N = 8
# session-keyed memos (the warm-index convention at :539): layout
# tables are written once per (session, sf_dir) and reused — the
# production shape is write-once layout, join/scan many times
_BKT_TABLES: dict[tuple[str, str], tuple[str, ...]] = {}
_PART_TABLES: dict[tuple[str, str], tuple[str, ...]] = {}


def _pid_alive(pid: int) -> bool:
    import os

    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def _gc_orphan_layout_dirs(spark, prefixes, tag) -> None:
    """Remove layout-table warehouse dirs left by DEAD processes (a
    crashed or finished session never drops its pid-tagged tables).
    Dirs owned by a LIVE pid belong to a concurrent session and are
    left alone — that is the whole point of the per-process names.
    Legacy dirs from the pre-pid STABLE naming scheme (bare
    ``{prefix}_{tag}``) are removed only once STALE (mtime older than
    an hour): no current-version process can own one (every writer
    now pid-tags), but a concurrent session still running an OLD code
    version could be mid-scan on a fresh one — the age gate avoids
    racing it while still draining the leak within the hour."""
    import os
    import re
    import shutil
    import time
    import urllib.parse

    wpath = urllib.parse.urlparse(
        spark.conf.get("spark.sql.warehouse.dir")
    ).path
    if not wpath or not os.path.isdir(wpath):
        return
    alt = "(?:" + "|".join(re.escape(p) for p in prefixes) + ")_"
    pat = re.compile(alt + re.escape(tag) + r"_p(\d+)$")
    legacy = re.compile(alt + re.escape(tag) + "$")
    for entry in os.listdir(wpath):
        m = pat.match(entry)
        dead_owner = m and int(m.group(1)) != os.getpid() and not _pid_alive(
            int(m.group(1))
        )
        stale_legacy = False
        if not dead_owner and legacy.match(entry):
            try:
                age = time.time() - os.path.getmtime(os.path.join(wpath, entry))
            except OSError:
                age = 0.0
            stale_legacy = age > 3600.0
        if dead_owner or stale_legacy:
            shutil.rmtree(os.path.join(wpath, entry), ignore_errors=True)


def _layout_tables(memo, spark, sf_dir, prefixes, build):
    """ONE copy of the layout-table memo mechanism shared by every
    layout-demo writer (bucketed + partitioned): session-keyed memo
    with stale-app eviction, then PER-PROCESS per-sf_dir table names
    — the pid suffix means two concurrent sessions registering the
    same sf_dir write DISJOINT warehouse dirs instead of racing one
    stable dir (a reader mid-FileScanRDD dies when another process
    drop-and-purges the table under it), and the orphan-GC sweep
    (_gc_orphan_layout_dirs) reclaims dirs whose owning process is
    gone, so pid-tagging cannot leak dirs across runs. Then
    ``build(*names)`` writes the layout; see
    _replace_warehouse_table for why the purge before write is
    needed even on our own names (pid reuse)."""
    import hashlib
    import os

    app = spark.sparkContext.applicationId
    key = (app, sf_dir)
    for stale in [k for k in memo if k[0] != app]:
        del memo[stale]
    got = memo.get(key)
    if got is not None:
        return got
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    _gc_orphan_layout_dirs(spark, prefixes, tag)
    names = tuple(f"{p}_{tag}_p{os.getpid()}" for p in prefixes)
    for t in names:
        _replace_warehouse_table(spark, t)
    build(*names)
    memo[key] = names
    return names


def _bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    def build(ot, ct):
        _write_bucketed_pair(spark, sf_dir, ot, ct)

    return _layout_tables(
        _BKT_TABLES,
        spark,
        sf_dir,
        ("blspark_bkt_orders", "blspark_bkt_customer"),
        build,
    )


def _write_bucketed_pair(spark, sf_dir, ot, ct):
    # one file per bucket (repartition on the bucket key) keeps the
    # layout compact; NOTE the sortBy metadata is written but Spark
    # >= 3.0 ignores bucket sort order at read time (a Sort above each
    # bucketed scan remains unless the legacy outputOrdering conf is
    # set) — the cost this layout eliminates is the EXCHANGE, the
    # dominant term, not the Sort
    (
        load_table(spark, sf_dir, "orders")
        .select("o_custkey", "o_totalprice")
        .repartition(_BKT_N, "o_custkey")
        .write.bucketBy(_BKT_N, "o_custkey")
        .sortBy("o_custkey")
        .mode("overwrite")
        .format("parquet")
        .saveAsTable(ot)
    )
    (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_mktsegment")
        .repartition(_BKT_N, "c_custkey")
        .write.bucketBy(_BKT_N, "c_custkey")
        .sortBy("c_custkey")
        .mode("overwrite")
        .format("parquet")
        .saveAsTable(ct)
    )


def bucketed_orders_customer_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The raw co-located join over the bucketed tables — shuffle-free
    by layout: both sides bucketed by the join key with the same
    bucket count, so the SortMergeJoin consumes bucket files directly
    (ZERO Exchange in the physical plan — plan-pinned; a per-bucket
    Sort remains, as Spark >= 3.0 ignores bucket sort metadata at
    read time — the eliminated cost is the network crossing, not the
    local sort. The merge hint keeps Catalyst from broadcasting the
    small test-scale side, since the lever being demonstrated is for
    two corpus-sized tables)."""
    ot, ct = _bucketed_tables(spark, sf_dir)
    return spark.table(ot).join(
        spark.table(ct).hint("merge"),
        F.col("o_custkey") == F.col("c_custkey"),
    )


@register(
    "x_bucketed_colocated_join",
    oracle=f"""
SELECT c_mktsegment, COUNT(*) AS n_orders,
       {o_dsum("o_totalprice")} AS total_price
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c_mktsegment ORDER BY c_mktsegment
""",
    doc="Storage-level bucketing, the co-located-join lever the rest "
    f"of the engine only simulates with LSH/cell buckets: orders and "
    f"customer are written ONCE as {_BKT_N}-bucket sorted tables on "
    "the join key (bucketBy + sortBy + one file per bucket), and the "
    "fact-dim join then consumes bucket files directly — ZERO "
    "Exchange under the join in the physical plan (plan-pinned in "
    "tests/test_plans.py), which at 100 TB removes the dominant "
    "cost of every repeated big-big equi-join on the same key "
    "(each side crossing the wire per join). Write-once-join-many "
    "is the production shape: the bucketed layout is memoized per "
    "session (the warm-index convention) and the recurring cost is "
    "only the join itself. Result = per-segment order counts + "
    "decimal-exact revenue (values identical with or without "
    "bucketing — layout must never change answers).",
)
def x_bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    j = bucketed_orders_customer_join(spark, sf_dir)
    return (
        j.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("total_price"),
        )
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------------------
# Storage-level partitioning: the partition-pruning lever
# ---------------------------------------------------------------------------

_PART_DAY = "2024-01-15"


def partitioned_events_table(spark: SparkSession, sf_dir: str) -> str:
    """Events written ONCE as a day-partitioned table (partitionBy on
    to_date(ts)) — the scan-pruning twin of the bucketing demo:
    a day-equality predicate becomes a PartitionFilter and the scan
    touches ONE day directory out of 30, before any row is read.
    Same stable-name + drop-and-purge + session-memo conventions as
    ``_bucketed_tables``."""
    def build(et):
        (
            load_table(spark, sf_dir, "events")
            .withColumn("day", F.to_date("ts"))
            # one file per day directory: without this, every read
            # task spanning the 30-day range writes its own file per
            # day (tasks x 30 small files at larger inputs)
            .repartition(F.col("day"))
            .write.partitionBy("day")
            .mode("overwrite")
            .format("parquet")
            .saveAsTable(et)
        )

    return _layout_tables(
        _PART_TABLES, spark, sf_dir, ("blspark_part_events",), build
    )[0]


@register(
    "x_partitioned_prune_scan",
    oracle=f"""
SELECT CAST(hour(CAST(ts AS TIMESTAMP)) AS INT) AS hr,
       COUNT(*) AS n_events,
       {o_dsum("value")} AS total_value
FROM events
WHERE CAST(CAST(ts AS TIMESTAMP) AS DATE) = DATE '{_PART_DAY}'
GROUP BY 1 ORDER BY hr
""",
    doc="Storage-level partitioning, the scan-pruning lever paired "
    "with x_bucketed_colocated_join's co-location lever: events are "
    "written ONCE as a day-partitioned table, and a single-day "
    "hourly rollup then reads ONE day directory out of 30 — the "
    "predicate lands in PartitionFilters (metadata pruning, no row "
    "touched outside the day; pinned via both the plan string AND "
    "df.inputFiles(), every file under day=" + _PART_DAY + "). At "
    "100 TB this is the difference between scanning ~3.3 TB and "
    "100 TB for every time-sliced query — the layout decision a "
    "hypertable/rollup system makes implicitly, expressed as plain "
    "Spark partitioned parquet. Layout must never change answers: "
    "the oracle runs the same day filter over the raw unpartitioned "
    "events.",
)
def x_partitioned_prune_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    et = partitioned_events_table(spark, sf_dir)
    return (
        spark.table(et)
        .filter(F.col("day") == F.lit(_PART_DAY).cast("date"))
        .groupBy(F.hour("ts").alias("hr"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("total_value"),
        )
        .orderBy("hr")
    )


# ---------------------------------------------------------------------------
# Persisted ANN index as a partitioned table (FAISS-on-parquet)
# ---------------------------------------------------------------------------

_SQ8IDX_TABLES: dict[tuple[str, str], tuple[str, ...]] = {}


def sq8_index_table(spark: SparkSession, sf_dir: str) -> str:
    """The IVF-SQ8 index written ONCE as a cell_id-PARTITIONED
    warehouse table — the storage-layout lever applied to the ANN
    index itself: (vid, qvec int8-codes, scale) under one directory
    per IVF cell, so a probe of nprobe cells is a PARTITION-PRUNED
    scan that never opens the other nlist - nprobe directories. The
    index frame is the graph family's shared corpus preparation
    (``_quantized_cells`` — cell-assign + SQ8 quantize, one corpus
    pass); same memo/GC/pid-name machinery as the other layout
    demos (``_layout_tables``)."""
    from blspark.ext.similarity import _quantized_cells

    def build(it):
        emb = load_table(spark, sf_dir, "embeddings")
        (
            _quantized_cells(emb, _det_centroids(emb))
            # carry the filterable attribute INTO the index (the
            # production filtered-ANN layout: predicates push down
            # into the probed-cell scan instead of post-filtering a
            # shortlist) — a one-time keyed join at BUILD time; the
            # probe-path queries that don't filter never read the
            # column (pruned from ReadSchema)
            .join(emb.select(F.col("vec_id").alias("vid"), "label"), "vid")
            # one file per cell directory (the partitioned-events
            # convention: without this, tasks x cells small files)
            .repartition(F.col("cell_id"))
            .write.partitionBy("cell_id")
            .mode("overwrite")
            .format("parquet")
            .saveAsTable(it)
        )

    return _layout_tables(
        _SQ8IDX_TABLES, spark, sf_dir, ("blspark_sq8_index",), build
    )[0]


@register(
    "x_index_persist_scan",
    bench=True,
    oracle=IVF_SQ8_ORACLE,
    doc="IVF-SQ8 against a PERSISTED, cell-partitioned index table — "
    "result-identical to x_similarity_ivf_sq8 (same oracle), FAISS-"
    "on-parquet: the index (int8 codes + scale, one directory per "
    "IVF cell) is written once per dataset via the layout machinery, "
    "and each query batch then (1) probes its nprobe=2 nearest cells "
    "(metadata-sized), (2) scans ONLY those cells' directories — the "
    "probed cell set is a LITERAL IN-filter on the partition column "
    "(collected from the Q x nprobe probe frame, metadata-bounded by "
    "the codebook convention), so the predicate lands in "
    "PartitionFilters and df.inputFiles() stays inside the probed "
    "directories (both plan-pinned) — and (3) scores the surviving "
    "codes with the shared _sq8_rank tail. At 100 TB this is the "
    "production serving shape: index construction amortized to zero, "
    "per-batch IO = nprobe/nlist of the index bytes, never a full "
    "scan. Completes the triad: x_similarity_ivf_sq8 prices the "
    "inline shape, x_similarity_ivfpq_warm the memoized-frame shape, "
    "this the on-disk shape.",
)
def x_index_persist_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    it = sq8_index_table(spark, sf_dir)
    return persist_probe(spark, sf_dir, it)


def persist_probe(
    spark: SparkSession, sf_dir: str, it: str, prep=None
) -> DataFrame:
    """The partition-pruned probe against a cell-partitioned SQ8
    index table — the x_index_persist_scan serving path as ONE shared
    function (the literal probed-cell IN-set, the broadcast query
    codes, the _sq8_rank tail), so the versioned-index and rollback
    entries probe with exactly the plan the scan pin drives.
    ``prep``: the (probe_q, cells) pair from ``persist_probe_prep`` —
    pass it when probing REPEATEDLY (the rollback query serves three
    phases) so the query-side centroid aggregation, cell-assign job
    and cell-set collect run once, not per probe."""
    from blspark.ext.similarity import _sq8_rank

    probe_q, cells = (
        prep if prep is not None else persist_probe_prep(spark, sf_dir)
    )
    idx = spark.table(it).select(
        F.col("vid").alias("neighbor_id"),
        "cell_id",
        F.col("qvec").alias("nq"),
        F.col("scale").alias("nscale"),
    )
    paired = (
        idx.filter(F.col("cell_id").isin(cells))
        .join(F.broadcast(probe_q), "cell_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
    )
    return _sq8_rank(paired, _SQ8_K)


def persist_probe_prep(spark: SparkSession, sf_dir: str):
    """Query-side preparation of the persisted-index probe: the
    nprobe=2 cell assignment (materialized once as a local relation),
    the quantized query codes, and the literal probed-cell set.
    Independent of WHICH index table is probed — the rollback query
    computes it once and probes three versions with it."""
    from blspark.ext.similarity import _cell_assign, _sq8_side
    from blspark.ops import local_relation

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(
        (F.col("vec_id") >= 10) & (F.col("vec_id") < 15)
    ).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    # the probe frame is Q x nprobe <= 10 rows and is needed TWICE
    # (as the join input and as the literal partition predicate) —
    # materialize it once as a local relation so the query-side
    # cell-assign job runs once, not per consumer
    probes = local_relation(
        _cell_assign(
            queries, _det_centroids(emb), "vec_id", "vec", 2
        ).select(F.col("vec_id").alias("query_id"), "cell_id"),
        "query_id bigint, cell_id int",
    )
    probe_q = probes.join(_sq8_side(queries, "vec_id", "vec", "q"), "query_id")
    # literal probed-cell set (metadata-bounded — the codebook
    # convention): a LITERAL partition predicate is what guarantees
    # PartitionFilters pruning; a join alone would rely on runtime DPP
    cells = sorted(
        {r["cell_id"] for r in probes.select("cell_id").collect()}
    )
    return probe_q, cells


@register(
    "x_index_persist_scan_warm",
    bench=True,
    oracle=IVF_SQ8_ORACLE,
    doc="The persisted-index probe path ALONE — result-identical to "
    "x_index_persist_scan (same oracle, same body: the probe against "
    "the cell-partitioned index table), registered separately so the "
    "bench attributes build vs probe the way the components/expand "
    "warm variants do: the plain entry's cold number charges the "
    "one-time index TABLE build + the probe, while this entry runs "
    "after it (bench passes are name-sorted) and finds the table "
    "already memoized for the session (sq8_index_table's "
    "_layout_tables memo), so its cold number prices exactly the "
    "production steady-state: probe the nprobe=2 cells' directories "
    "(PartitionFilters-pruned literal IN), broadcast the query "
    "codes, score with the shared _sq8_rank tail. A regression in "
    "either half is now attributable from the cold dict alone.",
)
def x_index_persist_scan_warm(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return x_index_persist_scan(spark, sf_dir)
