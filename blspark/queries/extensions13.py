"""Round-13 extension operators (registered after the consolidation
budget — see catalog._PRIORITY: these lead round 14's signing budget;
locally they run the same DuckDB differential as everything else via
tests/test_oracle.py and the diffcheck ritual at both SFs).

- ``x_similarity_binary_rerank`` / ``x_binary_eval``: the 1-bit
  binary-quantization rung — sign bits vs per-dimension corpus-mean
  thresholds packed into 32-bit words, integer XOR+popcount Hamming
  shortlist, exact float rerank. 32x compression (2x beyond PQ-8);
  the candidate kernel is two CPU instructions per word. The eval
  prices recall against exact dot-product ground truth and pins the
  STRUCTURAL guarantee that reranking a 50-shortlist never loses to
  the raw Hamming top-5 (the hamming top-5 is a subset of the
  shortlist and the rerank order is a total order consistent with
  the ground-truth order).

Reference scope: the reference pipeline (lambda_functions/
report_processor.py, sync_and_fetch.py — pandas/boto3, no vector
search) has none of this; the family extends SURVEY.md §2's
training-data-pipeline charter like the rest of the similarity grid.

Shared devices: the packing/Hamming library lives in
blspark/ext/binaryq.py (one copy); the oracle's quantization SQL is
the one mirror below (_BQ_PREFIX_SQL), shared by both oracles so a
threshold or packing change lands everywhere at once; the exact-dot
fold is extensions9._DOTQ verbatim; the contract row builder is
extensions10._recall_contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from blspark.catalog import load_table, register
from blspark.queries.extensions9 import _DOTQ
from blspark.queries.extensions10 import _SQ8_EVAL_N, _recall_contract

from blspark.ext.binaryq import WORD_BITS as _BQ_WB

_BQ_DIM = 64
_BQ_WORDS = -(-_BQ_DIM // _BQ_WB)  # ceil — derived, never restated
_BQ_K = 5
_BQ_SHORTLIST = 50

# The ONE SQL mirror of ext/binaryq.binary_thresholds + binary_pack
# over a ``vecs(vec_id, vec)`` CTE (shared by the retrieval, eval, and
# streaming-parity oracles). Determinism notes inline: thresholds use
# the DECIMAL(28,4) exact-sum device (catalog davg), the packed words
# and Hamming distances are exact integers. 32-bit words as BIGINTs —
# never the sign bit, see binaryq.WORD_BITS.
_BQ_PACK_SQL = f"""thr AS MATERIALIZED (
  SELECT list(t ORDER BY pos) AS thr FROM (
    SELECT r.pos AS pos,
           CAST(SUM(CAST(vec[r.pos + 1] AS DECIMAL(28,4))) AS DOUBLE)
             / COUNT(vec[r.pos + 1]) AS t
    FROM vecs, range(0, {_BQ_DIM}) r(pos) GROUP BY r.pos) s
),
packed AS MATERIALIZED (
  SELECT vec_id,
         list_transform(range(0, {_BQ_WORDS}), w ->
           CAST(list_sum(list_transform(range(0, {_BQ_WB}), j ->
             CASE WHEN vec[w * {_BQ_WB} + j + 1] > thr[w * {_BQ_WB} + j + 1]
                  THEN (1::BIGINT << CAST(j AS INT)) ELSE 0 END))
             AS BIGINT)) AS words
  FROM vecs, thr
)"""

# The ONE SQL mirror of ext/binaryq.hamming — used by the all-pairs
# ham CTE below AND the IVF-pruned bham CTE, so the distance
# definition cannot drift between the plain and pruned rungs.
_BQ_HAM_EXPR = (
    "CAST(list_sum(list_transform(list_zip({n}.words, {q}.words), "
    "x -> CAST(bit_count(xor(x[1], x[2])) AS BIGINT))) AS BIGINT)"
)

# Hamming + shortlist + rerank on top of the pack — the retrieval tail
# shared by the checked query and the eval.
_BQ_PREFIX_SQL = f"""{_BQ_PACK_SQL},
ham AS MATERIALIZED (
  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
         {_BQ_HAM_EXPR.format(n="n", q="q")} AS hamming
  FROM packed n, packed q
  WHERE q.vec_id >= 10 AND q.vec_id < 15 AND n.vec_id <> q.vec_id
),
short AS MATERIALIZED (
  SELECT query_id, neighbor_id, hamming FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        ORDER BY hamming ASC, neighbor_id ASC) AS hr
    FROM ham) t WHERE hr <= {_BQ_SHORTLIST}
),
reranked AS MATERIALIZED (
  SELECT s.query_id, s.neighbor_id, s.hamming,
         {_DOTQ.format(a="n.vec", b="q.vec")} AS score_raw
  FROM short s
  JOIN vecs n ON n.vec_id = s.neighbor_id
  JOIN vecs q ON q.vec_id = s.query_id
)"""

BINARY_RERANK_ORACLE = f"""
WITH vecs AS MATERIALIZED (
  SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
),
{_BQ_PREFIX_SQL}
SELECT query_id, neighbor_id, ROUND(score_raw, 6) AS score, hamming, rank
FROM (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        ORDER BY score_raw DESC, neighbor_id ASC) AS INT) AS rank
      FROM reranked) t
WHERE rank <= {_BQ_K}
"""


# (session, dataset) -> single-row thresholds local_relation. The
# trained artifact of the binary family (the graph_index_protos
# sibling): FULL-corpus thresholds only — the eval's filtered sample
# keeps its own per-call pass by construction.
_BQ_THR_MEMO: dict[tuple[str, str], object] = {}


def binary_thresholds_cached(spark: SparkSession, sf_dir: str, vecs):
    """Memoized full-corpus ``binary_thresholds`` output (dim doubles,
    one row) — computed once per (session, dataset, input plan) and
    served to every later binary probe, the deployment shape where
    thresholds are trained offline with the index. ``vecs``' analyzed
    semantic hash joins the memo key (via ``_session_memo(frames=)``),
    so a filtered/eval-sample frame gets its own thresholds rather
    than being served — or poisoning — the full-corpus entry."""
    from blspark.ext.binaryq import binary_thresholds
    from blspark.ops import local_relation
    from blspark.queries.extensions10 import _session_memo

    return _session_memo(
        _BQ_THR_MEMO, spark, sf_dir,
        lambda: local_relation(
            binary_thresholds(vecs), "thr array<double>"
        ),
        frames=(vecs,),
    )


@register(
    "x_similarity_binary_rerank",
    oracle=BINARY_RERANK_ORACLE,
    bench=True,
    doc="Binary (1-bit) quantization ANN with exact rerank and a full "
    "SQL oracle — the EXTREME end of the compression ladder (brute -> "
    "LSH -> IVF -> SQ8 -> PQ -> IVF-PQ -> binary): each dimension "
    "collapses to one sign bit against its train-free corpus-mean "
    "threshold, packed into 32-bit words; candidate generation is "
    "pure integer XOR + popcount over 32x fewer bytes than float32 "
    "(a billion 64-dim vectors = ~8 GB of codes), then an exact "
    "float dot product reranks only the 50-candidate shortlist. "
    "Determinism: thresholds via the DECIMAL exact-sum device, words "
    "and Hamming exact integers, the only floats are the shared "
    "ordered-fold rerank dots (ROUND 6dp). Plan: thresholds + packed "
    "queries broadcast, corpus packed map-side in the scan stage, "
    "shortlist cut one per-query window, floats touched only for "
    "|queries| x 50 rerank pairs fetched by broadcast pair join. At "
    "100 TB this is the memory-resident candidate tier in front of "
    "an on-disk exact tier — the production binary-quantization + "
    "rescore design. ext/binaryq.py; tests/test_binaryq.py pins "
    "pack/Hamming exactness and the shortlist-rerank containment.",
)
def x_similarity_binary_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blspark.ext.binaryq import binary_topk

    emb = load_table(spark, sf_dir, "embeddings")
    vecs = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    queries = vecs.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 15))
    return binary_topk(
        vecs, queries, dim=_BQ_DIM, k=_BQ_K, shortlist=_BQ_SHORTLIST,
        thresholds=binary_thresholds_cached(spark, sf_dir, vecs),
    )


# ---------------------------------------------------------------------------
# Binary-quantization quality evaluation (recall contract)
# ---------------------------------------------------------------------------

# Measured before pinning (gotcha 17: fixed 500-vector universe at
# both SFs — the universes are SIZE-fixed, not row-identical, so both
# must be measured): rerank recall_bp = 7600 (sf0.01) / 8000 (sf0.1);
# hamming-only recall_bp = 1200 / 2400 — raw 64-bit Hamming top-5 is
# near-chance ordering, the rescore tier does the ranking work. Floor
# set below both measurements, family convention.
_BQ_HI_FLOOR = 7000

_BQ_TP = (
    "(SELECT COUNT(*) FROM binq b JOIN exact e "
    "USING (query_id, neighbor_id))"
)
_BQ_TP_HAM = (
    "(SELECT COUNT(*) FROM ham5 h JOIN exact e "
    "USING (query_id, neighbor_id))"
)

BINARY_EVAL_ORACLE = f"""
WITH vecs AS MATERIALIZED (
  SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
  WHERE vec_id < {_SQ8_EVAL_N}
),
{_BQ_PREFIX_SQL},
binq AS MATERIALIZED (
  SELECT query_id, neighbor_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        ORDER BY score_raw DESC, neighbor_id ASC) AS r
    FROM reranked) t WHERE r <= {_BQ_K}
),
ham5 AS MATERIALIZED (
  SELECT query_id, neighbor_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        ORDER BY hamming ASC, neighbor_id ASC) AS r
    FROM ham) t WHERE r <= {_BQ_K}
),
exact AS MATERIALIZED (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
             ORDER BY {_DOTQ.format(a="n.vec", b="q.vec")} DESC,
                      n.vec_id ASC) AS r
    FROM vecs q, vecs n
    WHERE q.vec_id >= 10 AND q.vec_id < 15 AND n.vec_id <> q.vec_id) t
  WHERE r <= {_BQ_K}
)
SELECT
  CAST((SELECT COUNT(*) FROM vecs
        WHERE vec_id >= 10 AND vec_id < 15) AS INT) AS n_queries,
  CAST((SELECT COUNT(*) FROM binq) AS INT) AS n_binary,
  CAST((SELECT COUNT(*) FROM exact) AS INT) AS n_truth,
  CAST({_BQ_TP} AS INT) AS n_tp,
  CAST({_BQ_TP} * 10000 // (SELECT COUNT(*) FROM exact)
       AS BIGINT) AS recall_bp,
  {_BQ_TP} * ((SELECT COUNT(*) FROM vecs) - 1)
    >= 10 * {_BQ_K} * (SELECT COUNT(*) FROM exact) AS recall_ok,
  CAST({_BQ_TP_HAM} AS INT) AS n_tp_hamming,
  CAST({_BQ_TP_HAM} * 10000 // (SELECT COUNT(*) FROM exact)
       AS BIGINT) AS recall_hamming_bp,
  {_BQ_TP} >= {_BQ_TP_HAM} AS rerank_ge_hamming,
  {_BQ_TP} * 10000 // (SELECT COUNT(*) FROM exact)
    >= {_BQ_HI_FLOOR} AS recall_hi_ok,
  (SELECT bool_and(n = {_BQ_K}) FROM (
     SELECT query_id, COUNT(*) AS n FROM binq GROUP BY query_id) t)
    AS ranks_ok
"""


@register(
    "x_binary_eval",
    oracle=BINARY_EVAL_ORACLE,
    doc="Binary-quantization quality evaluation as a first-class "
    "oracle-checked query — the x_pq_eval device at the 1-bit rung: "
    "binary+rerank top-5 vs the exact inner-product top-5 over the "
    "FIXED 500-vector sample universe, hashed as a deterministic "
    "contract row. Beyond the standard columns it prices the raw "
    "Hamming top-5 (no rerank) next to the reranked result and pins "
    "rerank_ge_hamming — STRUCTURAL here, not just measured: the "
    "ground truth and the rerank share one total order (exact dot "
    "DESC, id ASC), and the Hamming top-5 is a subset of the "
    "50-shortlist, so every truth pair the raw codes find survives "
    "the rerank while the rerank can also recover truth pairs the "
    "Hamming top-5 missed (measured: 7600/8000 bp reranked vs "
    "1200/2400 bp raw at sf0.01/sf0.1 — raw 64-bit Hamming orders "
    "near chance; the rescore tier is what makes 1-bit codes "
    "usable). recall_hi_ok pins >= 7000 bp, below both measurements. "
    "Scale framing: the exact baseline is priced for a sample; what "
    "ships at 100 TB is the packed-word scan + 50-pair rerank.",
)
def x_binary_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blspark.ext.binaryq import hamming_ranked
    from blspark.ext.similarity import _rescore, _top

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < _SQ8_EVAL_N
    )
    vecs = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    queries = vecs.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 15))

    # BOTH the shortlist and the raw-Hamming baseline cut from the ONE
    # ranked-Hamming frame binary_topk itself uses — a tie-break or
    # pairing change in the library reaches the eval by construction.
    ranked_ham = hamming_ranked(vecs, queries, _BQ_DIM)
    short = ranked_ham.filter(F.col("hrank") <= _BQ_SHORTLIST).select(
        "query_id", "neighbor_id", "hamming"
    )
    ham5 = ranked_ham.filter(F.col("hrank") <= _BQ_K).select(
        "query_id", "neighbor_id"
    )

    reranked = _top(
        _rescore(vecs, queries, short, "vec_id", "vec", dot=True),
        "score_raw", "neighbor_id", _BQ_K,
    )
    # Exact ground truth under the SAME metric and tie-break as the
    # rerank (raw inner product DESC, id ASC) — this is what makes
    # rerank_ge_hamming structural rather than merely observed. The
    # all-pairs frame rides the shared scorer with a degenerate
    # "shortlist" of every non-self pair.
    all_pairs = (
        vecs.select(F.col("vec_id").alias("neighbor_id"))
        .crossJoin(
            F.broadcast(queries.select(F.col("vec_id").alias("query_id")))
        )
        .filter(F.col("neighbor_id") != F.col("query_id"))
    )
    exact = _top(
        _rescore(vecs, queries, all_pairs, "vec_id", "vec", dot=True),
        "score_raw", "neighbor_id",
        _BQ_K, rank="r",
    ).select("query_id", "neighbor_id")

    ntp_ham = (
        ham5.join(exact, ["query_id", "neighbor_id"])
        .agg(F.count("*").cast("int").alias("n_tp_hamming"))
    )

    def extra(joined: DataFrame) -> list:
        return [
            F.col("n_tp_hamming"),
            F.expr(
                "CAST(n_tp_hamming * 10000 div n_truth AS BIGINT)"
            ).alias("recall_hamming_bp"),
            (F.col("n_tp") >= F.col("n_tp_hamming")).alias(
                "rerank_ge_hamming"
            ),
            F.expr(
                f"CAST(n_tp * 10000 div n_truth AS BIGINT) >= {_BQ_HI_FLOOR}"
            ).alias("recall_hi_ok"),
        ]

    return _recall_contract(
        vecs, queries, reranked, exact, "n_binary", _BQ_K,
        extra=extra, extra_frames=(ntp_ham,),
    )


# ---------------------------------------------------------------------------
# Adaptive (early-terminating) graph walk — the adaptive-ANN knob at
# the graph rung, completing the family: float IVF (r12), SQ8/persisted
# (r12), streaming route (r12), IVF-PQ ADC (r13) and now beam search.
# ---------------------------------------------------------------------------

from blspark.queries.extensions9 import _det_centroids  # noqa: E402
from blspark.queries.extensions10 import (  # noqa: E402
    _GX_K,
    _GX_SEEDS,
    _GXX_BEAM,
    _GXX_HOPS,
    _GXX_M,
    _KNN_K,
    _gx_chain,
    _gx_hop_blocks,
)

GRAPH_ADAPTIVE_ORACLE = f"""
WITH {_gx_chain(cross_m=_GXX_M, hops=_GXX_HOPS, beam=_GXX_BEAM,
                adaptive_k=_GX_K)}
SELECT query_id, neighbor_id, ROUND(cos_raw, 6) AS cosine, rank
FROM gx WHERE rank <= {_GX_K}
"""


def _adaptive_gx(spark: SparkSession, sf_dir: str, eval_sample: bool):
    """Shared body of the adaptive walk query and its eval: the NSW
    (cross-cell) adjacency, the deep walk with per-query early exit,
    and the expansion ledger."""
    from blspark.ext.similarity import graph_expand_topk, nav_graph_build

    emb = load_table(spark, sf_dir, "embeddings")
    if eval_sample:
        emb = emb.filter(F.col("vec_id") < _SQ8_EVAL_N)
    queries = emb.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 15))
    adj, protos = nav_graph_build(
        emb, _det_centroids(emb), knn_k=_KNN_K, m_cross=_GXX_M
    )
    gx, activity = graph_expand_topk(
        emb,
        queries,
        adj,
        protos,
        k=_GX_K,
        hops=_GXX_HOPS,
        beam=_GXX_BEAM,
        n_seeds=_GX_SEEDS,
        early_exit_k=_GX_K,
        with_activity=True,
    )
    return emb, queries, adj, protos, gx, activity


@register(
    "x_retrieval_graph_adaptive",
    bench=True,
    oracle=GRAPH_ADAPTIVE_ORACLE,
    doc="NSW beam-search retrieval with PER-QUERY EARLY TERMINATION — "
    "the adaptive-ANN knob at the graph rung (the family's last rung "
    "without one): after each hop a query stays active only if the "
    "hop added a candidate strictly above its pre-hop 5th-best "
    "(fewer than 5 visited = still warming up), so hops=10 becomes a "
    "budget CEILING and each query spends only what its neighborhood "
    "needs — the batch form of HNSW's canonical stop rule. Measured "
    "at sf0.01: queries stop at hops 4-5 of 10, total expansions 355 "
    "vs the fixed walk's 915 (x_graph_adaptive_eval prices it). The "
    "convergence test is exact comparison on already-computed scores "
    "— no new float paths — and the oracle mirrors it hop-for-hop "
    "(kb/act CTEs from the ONE _gx_hop_blocks generator). Per-query "
    "work stays O(hops_used * beam * degree), independent of cell "
    "and corpus size. ext/similarity._beam_walk(early_exit_k=...).",
)
def x_retrieval_graph_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _adaptive_gx(spark, sf_dir, eval_sample=False)[4]


# Measured before pinning (fixed 500-vector universes; sf0.01 / sf0.1):
# budget_adaptive vs budget_full, recall, and per-query stop
# hops. Floors and pins set below BOTH measurements — see the eval doc.
_GXA_TP = (
    "(SELECT COUNT(*) FROM gxk g JOIN exact e "
    "USING (query_id, neighbor_id))"
)
_GXA_TP_FULL = (
    "(SELECT COUNT(*) FROM ugxk g JOIN exact e "
    "USING (query_id, neighbor_id))"
)
_GXA_BUDGET_A = " + ".join(
    f"(SELECT COUNT(*) FROM f{i})" for i in range(_GXX_HOPS)
)
_GXA_BUDGET_F = " + ".join(
    f"(SELECT COUNT(*) FROM uf{i})" for i in range(_GXX_HOPS)
)

GRAPH_ADAPTIVE_EVAL_ORACLE = f"""
WITH {_gx_chain(f"WHERE vec_id < {_SQ8_EVAL_N}", cross_m=_GXX_M,
                hops=_GXX_HOPS, beam=_GXX_BEAM, adaptive_k=_GX_K)},
uv0 AS MATERIALIZED (
  SELECT * FROM v0
){"".join(_gx_hop_blocks(_GXX_HOPS, _GXX_BEAM, None, p="u"))},
gxk AS MATERIALIZED (
  SELECT query_id, neighbor_id, rank FROM gx WHERE rank <= {_GX_K}
),
ugxk AS MATERIALIZED (
  SELECT query_id, cand AS neighbor_id FROM (
    SELECT query_id, cand, ROW_NUMBER() OVER (PARTITION BY query_id
        ORDER BY cos_raw DESC, cand ASC) AS r
    FROM uv{_GXX_HOPS} WHERE cand <> query_id) t
  WHERE r <= {_GX_K}
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
hopsused AS MATERIALIZED (
  SELECT query_id, MAX(hop) + 1 AS hops_used FROM (
    {" UNION ALL ".join(
        f"SELECT {i} AS hop, query_id FROM f{i}" for i in range(_GXX_HOPS)
    )}) t GROUP BY query_id
)
SELECT
  CAST((SELECT COUNT(*) FROM qv) AS INT) AS n_queries,
  CAST((SELECT COUNT(*) FROM gxk) AS INT) AS n_adaptive,
  CAST((SELECT COUNT(*) FROM exact) AS INT) AS n_truth,
  CAST({_GXA_TP} AS INT) AS n_tp,
  CAST({_GXA_TP} * 10000 // (SELECT COUNT(*) FROM exact)
       AS BIGINT) AS recall_bp,
  {_GXA_TP} * ((SELECT COUNT(*) FROM vecs) - 1)
    >= 10 * {_GX_K} * (SELECT COUNT(*) FROM exact) AS recall_ok,
  CAST({_GXA_TP_FULL} AS INT) AS n_tp_full,
  {_GXA_TP} >= {_GXA_TP_FULL} - {_GX_K} AS recall_near_full,
  CAST(({_GXA_BUDGET_A}) AS INT) AS budget_adaptive,
  CAST(({_GXA_BUDGET_F}) AS INT) AS budget_full,
  ({_GXA_BUDGET_A}) < ({_GXA_BUDGET_F}) AS budget_lt_full,
  CAST((SELECT MIN(hops_used) FROM hopsused) AS INT) AS hops_min,
  CAST((SELECT MAX(hops_used) FROM hopsused) AS INT) AS hops_max,
  (SELECT COUNT(*) FROM hopsused WHERE hops_used < {_GXX_HOPS}) >= 1
    AS early_exit_fired,
  (SELECT bool_and(n = {_GX_K} AND mr = {_GX_K}) FROM (
     SELECT query_id, COUNT(*) AS n, MAX(rank) AS mr
     FROM gxk GROUP BY query_id) t)
    AS ranks_ok
"""


@register(
    "x_graph_adaptive_eval",
    oracle=GRAPH_ADAPTIVE_EVAL_ORACLE,
    doc="Early-termination evaluation at the graph rung — adaptive "
    "(hops ceiling 10, stop when the 5th-best stops improving) vs "
    "the SAME fixed walk run to all 10 hops, both walked in ONE "
    "oracle statement via the prefixed second hop chain "
    "(_gx_hop_blocks(p='u') over the shared adjacency/seed prefix). "
    "Pins: budget_lt_full — per-query visited sets of the adaptive "
    "walk are PREFIXES of the fixed walk's (a converged query stops; "
    "active queries walk identically), so expansions strictly drop "
    "whenever any query converges (measured 355 vs 915 at sf0.01, "
    "315 vs 915 at sf0.1); recall_near_full — the same containment "
    "bounds the recall cost, pinned at <= one k's worth of lost "
    "true positives (measured: all 10 full-walk TPs kept at sf0.01; "
    "5 of the full walk's 8 at sf0.1 — the efSearch-style tradeoff, "
    "priced and inside the bound); "
    "early_exit_fired + hops_min/hops_max expose the per-query stop "
    "profile (4-5 of 10 at sf0.01, 3-5 at sf0.1 — genuinely "
    "per-query, not a global cutoff). Budgets are COUNT(*) over the "
    "same frontier "
    "CTEs the library's activity ledger records, so the Spark and "
    "SQL numbers are definitionally the same rows.",
)
def x_graph_adaptive_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blspark.ext.similarity import cosine_topk, graph_expand_topk

    emb, queries, adj, protos, gx, activity = _adaptive_gx(
        spark, sf_dir, eval_sample=True
    )
    full, factivity = graph_expand_topk(
        emb,
        queries,
        adj,
        protos,
        k=_GX_K,
        hops=_GXX_HOPS,
        beam=_GXX_BEAM,
        n_seeds=_GX_SEEDS,
        with_activity=True,
    )
    exact = cosine_topk(emb, queries, k=_GX_K).select(
        "query_id", "neighbor_id"
    )

    apairs = gx.select("query_id", "neighbor_id")
    fpairs = full.select("query_id", "neighbor_id")
    n_queries = queries.agg(F.count("*").cast("int").alias("n_queries"))
    n_adaptive = apairs.agg(F.count("*").cast("int").alias("n_adaptive"))
    n_truth = exact.agg(F.count("*").cast("int").alias("n_truth"))
    n_corpus = emb.agg(F.count("*").alias("n_corpus"))
    n_tp = (
        apairs.join(exact, ["query_id", "neighbor_id"])
        .agg(F.count("*").cast("int").alias("n_tp"))
    )
    n_tp_full = (
        fpairs.join(exact, ["query_id", "neighbor_id"])
        .agg(F.count("*").cast("int").alias("n_tp_full"))
    )
    budget_a = activity.agg(
        F.count("*").cast("int").alias("budget_adaptive")
    )
    budget_f = factivity.agg(F.count("*").cast("int").alias("budget_full"))
    hops_used = activity.groupBy("query_id").agg(
        (F.max("hop") + 1).alias("hops_used")
    )
    hop_stats = hops_used.agg(
        F.min("hops_used").cast("int").alias("hops_min"),
        F.max("hops_used").cast("int").alias("hops_max"),
        (
            F.sum(
                F.when(F.col("hops_used") < _GXX_HOPS, 1).otherwise(0)
            )
            >= 1
        ).alias("early_exit_fired"),
    )
    card = (
        gx.groupBy("query_id")
        .agg(F.count("*").alias("n"), F.max("rank").alias("mr"))
        .agg(
            F.bool_and(
                (F.col("n") == _GX_K) & (F.col("mr") == _GX_K)
            ).alias("ranks_ok")
        )
    )
    return (
        n_queries.crossJoin(n_adaptive)
        .crossJoin(n_truth)
        .crossJoin(n_corpus)
        .crossJoin(n_tp)
        .crossJoin(n_tp_full)
        .crossJoin(budget_a)
        .crossJoin(budget_f)
        .crossJoin(hop_stats)
        .crossJoin(card)
        .select(
            "n_queries",
            "n_adaptive",
            "n_truth",
            "n_tp",
            F.expr("CAST(n_tp * 10000 div n_truth AS BIGINT)").alias(
                "recall_bp"
            ),
            (
                F.col("n_tp") * (F.col("n_corpus") - 1)
                >= F.lit(10 * _GX_K) * F.col("n_truth")
            ).alias("recall_ok"),
            "n_tp_full",
            (F.col("n_tp") >= F.col("n_tp_full") - _GX_K).alias(
                "recall_near_full"
            ),
            "budget_adaptive",
            "budget_full",
            (F.col("budget_adaptive") < F.col("budget_full")).alias(
                "budget_lt_full"
            ),
            "hops_min",
            "hops_max",
            "early_exit_fired",
            "ranks_ok",
        )
    )


# ---------------------------------------------------------------------------
# Versioned index: snapshot publish, atomic swap, rollback — the last
# missing piece of the persisted-index lifecycle (build -> probe ->
# filter -> adapt -> refresh -> stream-insert -> compact -> VERSION).
# ---------------------------------------------------------------------------

from blspark.queries.extensions9 import (  # noqa: E402
    _IVF_PREFIX_SQL,
    _SQ8_QZ_SQL,
    _cell_assign_sql,
)
from blspark.queries.extensions10 import (  # noqa: E402
    _SQ8_IPROD,
    _SQ8_K,
    _layout_tables,
    persist_probe,
    persist_probe_prep,
)

# session-keyed memo of the (v1, v2, manifest) table triple — the
# _layout_tables convention (pid-tagged names, stale-app eviction,
# orphan-dir GC)
_VIDX_TABLES: dict[tuple[str, str], tuple[str, ...]] = {}


def _versioned_tables(spark: SparkSession, sf_dir: str) -> tuple[str, ...]:
    """Two index VERSIONS plus a one-row manifest, built once per
    session: v1 indexes the first half of the corpus (the pre-release
    snapshot), v2 the whole corpus (the published update) — both
    cell-partitioned under the SAME quantizer (full-corpus centroids:
    a version bump republishes contents, it does not retrain the
    geometry, so probe cells stay comparable across versions). The
    manifest is the atomic-swap device: readers resolve
    current_version (one tiny file) and probe the pointed table; a
    publish or rollback rewrites only the manifest, never an index
    byte — at 100 TB flipping versions is a metadata write, and the
    old version stays on disk for instant rollback."""
    from blspark.ext.similarity import _quantized_cells

    def build(v1, v2, man):
        emb = load_table(spark, sf_dir, "embeddings")
        half = emb.count() // 2
        cents = _det_centroids(emb)
        for name, frame in (
            (v1, emb.filter(F.col("vec_id") < half)),
            (v2, emb),
        ):
            (
                _quantized_cells(frame, cents)
                .repartition(F.col("cell_id"))
                .write.partitionBy("cell_id")
                .mode("overwrite")
                .format("parquet")
                .saveAsTable(name)
            )
        _write_manifest(spark, man, 1)

    return _layout_tables(
        _VIDX_TABLES,
        spark,
        sf_dir,
        ("blspark_vidx_v1", "blspark_vidx_v2", "blspark_vidx_man"),
        build,
    )


def _write_manifest(spark: SparkSession, man: str, version: int) -> None:
    (
        spark.createDataFrame([(version,)], "current_version int")
        .write.mode("overwrite")
        .format("parquet")
        .saveAsTable(man)
    )


_VIDX_ORACLE = f"""
WITH {_IVF_PREFIX_SQL},
qprobe AS MATERIALIZED ({_cell_assign_sql(
    "q", "query_id", 2, "WHERE q.vec_id >= 10 AND q.vec_id < 15")}),
{_SQ8_QZ_SQL},
half AS (SELECT COUNT(*) // 2 AS h FROM vecs),
scored AS MATERIALIZED (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         {_SQ8_IPROD.format(n="n", q="q")} AS iprod,
         n.scale * q.scale AS ss
  FROM cassign a
  JOIN qprobe p ON a.cell_id = p.cell_id
  JOIN qz n ON n.vec_id = a.vec_id
  JOIN qz q ON q.vec_id = p.query_id
  WHERE a.vec_id <> p.query_id
),
rank_v1 AS MATERIALIZED (
  SELECT query_id, neighbor_id,
         ROUND(CAST(iprod AS DOUBLE) * ss, 6) AS score, iprod,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
             ORDER BY CAST(iprod AS DOUBLE) * ss DESC, neighbor_id ASC)
           AS INT) AS rank
  FROM scored, half WHERE neighbor_id < h
),
rank_v2 AS MATERIALIZED (
  SELECT query_id, neighbor_id,
         ROUND(CAST(iprod AS DOUBLE) * ss, 6) AS score, iprod,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
             ORDER BY CAST(iprod AS DOUBLE) * ss DESC, neighbor_id ASC)
           AS INT) AS rank
  FROM scored
)
SELECT 1 AS phase, 1 AS served_version, * FROM rank_v1 WHERE rank <= {_SQ8_K}
UNION ALL
SELECT 2, 2, * FROM rank_v2 WHERE rank <= {_SQ8_K}
UNION ALL
SELECT 3, 1, * FROM rank_v1 WHERE rank <= {_SQ8_K}
"""


@register(
    "x_index_snapshot_rollback",
    oracle=_VIDX_ORACLE,
    doc="Index VERSIONING with atomic swap and rollback — the "
    "publish/rollback half of the persisted-index lifecycle (build/"
    "probe/filter/adapt/refresh/stream-insert/compact all exist; "
    "this is how a 100 TB deployment actually SHIPS an index "
    "update): two cell-partitioned index versions under one shared "
    "quantizer (v1 = half the corpus, v2 = all of it) plus a one-row "
    "MANIFEST; serving resolves the manifest and probes the pointed "
    "version through the shared persist_probe path (same literal "
    "PartitionFilters plan as x_index_persist_scan), publish flips "
    "the manifest to v2, rollback flips it back — metadata-only "
    "writes, zero index bytes moved, old version intact for instant "
    "revert. The query DRIVES the full cycle and returns all three "
    "phases' probe results (phase, served_version, ranked rows), "
    "each phase checkpointed BEFORE the next manifest write so "
    "laziness cannot leak a later version into an earlier phase; "
    "the oracle computes v1/v2 results independently and pins that "
    "phase 2 serves the new contents and phase 3 is BIT-IDENTICAL "
    "to phase 1 — rollback provably restores the exact pre-publish "
    "answers. tests/test_graph_index.py pins manifest resolution "
    "and swap idempotency.",
)
def x_index_snapshot_rollback(spark: SparkSession, sf_dir: str) -> DataFrame:
    v1, v2, man = _versioned_tables(spark, sf_dir)
    # query-side prep (centroid agg, cell-assign, cell-set collect) is
    # version-independent — computed once, reused by all three probes
    prep = persist_probe_prep(spark, sf_dir)

    def serve(phase: int) -> DataFrame:
        ver = spark.table(man).collect()[0][0]
        table = {1: v1, 2: v2}[ver]
        res = persist_probe(spark, sf_dir, table, prep=prep).select(
            F.lit(phase).alias("phase"),
            F.lit(ver).alias("served_version"),
            "query_id",
            "neighbor_id",
            "score",
            "iprod",
            "rank",
        )
        # materialize NOW: the next phase rewrites the manifest, and a
        # lazy frame would resolve against the future state
        return res.localCheckpoint(eager=True)

    _write_manifest(spark, man, 1)  # idempotent start after any crash
    p1 = serve(1)
    _write_manifest(spark, man, 2)  # publish
    p2 = serve(2)
    _write_manifest(spark, man, 1)  # rollback
    p3 = serve(3)
    return p1.unionByName(p2).unionByName(p3)


@register(
    "x_index_persist_graph_adaptive",
    oracle=GRAPH_ADAPTIVE_ORACLE,
    doc="Early-terminating beam search against the PERSISTED edge "
    "table — the adaptive knob composed with the on-disk serving "
    "shape, result-identical to x_retrieval_graph_adaptive (same "
    "oracle: the in-memory and indexed walks share _beam_walk, so "
    "the early-exit rule is definitionally the same). Here the knob "
    "saves REAL IO, not just scoring: every hop a query stays active "
    "costs a partition-pruned probe of its frontier's cells, so "
    "stopping at hop 4-5 of 10 (the measured profile) halves the "
    "per-batch edge-table reads — at 100 TB the difference between "
    "10 and ~4 rounds of |frontier cells|/|cells| index IO per query "
    "batch. ext/similarity.graph_expand_topk_indexed(early_exit_k).",
)
def x_index_persist_graph_adaptive(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from blspark.ext.similarity import graph_expand_topk_indexed
    from blspark.queries.extensions12 import (
        graph_edge_table,
        graph_index_protos,
    )

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
        early_exit_k=_GX_K,
    )


# ---------------------------------------------------------------------------
# IVF x binary: the compression-x-pruning grid's cheapest cell
# ---------------------------------------------------------------------------

IVF_BINARY_ORACLE = f"""
WITH {_IVF_PREFIX_SQL},
qprobe AS MATERIALIZED ({_cell_assign_sql(
    "q", "query_id", 2, "WHERE q.vec_id >= 10 AND q.vec_id < 15")}),
{_BQ_PACK_SQL},
bham AS MATERIALIZED (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         {_BQ_HAM_EXPR.format(n="n", q="q")} AS hamming
  FROM cassign a
  JOIN qprobe p ON a.cell_id = p.cell_id
  JOIN packed n ON n.vec_id = a.vec_id
  JOIN packed q ON q.vec_id = p.query_id
  WHERE a.vec_id <> p.query_id
),
bshort AS MATERIALIZED (
  SELECT query_id, neighbor_id, hamming FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        ORDER BY hamming ASC, neighbor_id ASC) AS hr
    FROM bham) t WHERE hr <= {_BQ_SHORTLIST}
),
brerank AS MATERIALIZED (
  SELECT s.query_id, s.neighbor_id, s.hamming,
         {_DOTQ.format(a="n.vec", b="q.vec")} AS score_raw
  FROM bshort s
  JOIN vecs n ON n.vec_id = s.neighbor_id
  JOIN vecs q ON q.vec_id = s.query_id
)
SELECT query_id, neighbor_id, ROUND(score_raw, 6) AS score, hamming, rank
FROM (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        ORDER BY score_raw DESC, neighbor_id ASC) AS INT) AS rank
      FROM brerank) t
WHERE rank <= {_BQ_K}
"""


@register(
    "x_similarity_ivf_binary",
    oracle=IVF_BINARY_ORACLE,
    bench=True,
    doc="IVF-pruned binary ANN with a full SQL oracle — the cheapest "
    "cell of the compression-x-pruning grid (next to IVF,SQ8 and "
    "IVF-PQ): the shared IVF stage (same deterministic label-mean "
    "cells and _cell_assign rule as the whole family) restricts "
    "pairing to each query's nprobe=2 probed cells, candidates "
    "within them rank by integer XOR+popcount Hamming over the "
    "packed sign bits, and the exact float rescore touches only the "
    "50-pair shortlist. MULTIPLICATIVE savings at 100 TB: "
    "nprobe/nlist of the corpus scanned x 32x fewer bytes per "
    "scanned row x floats only for |Q| x 50 pairs — the realistic "
    "billion-vector serving stack when PQ training is not worth it. "
    "Plan skeleton shared with ivf_sq8_topk: centroids broadcast, "
    "corpus cell-assign a map-side hash-agg argmin, probe list "
    "broadcast onto an equi-join on cell_id (never a cross "
    "product), one per-query top-k window. "
    "ext/binaryq.ivf_binary_topk.",
)
def x_similarity_ivf_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blspark.ext.binaryq import ivf_binary_topk

    emb = load_table(spark, sf_dir, "embeddings")
    vecs = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    queries = vecs.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 15))
    return ivf_binary_topk(
        vecs,
        queries,
        _det_centroids(emb),
        dim=_BQ_DIM,
        k=_BQ_K,
        shortlist=_BQ_SHORTLIST,
        nprobe=2,
        thresholds=binary_thresholds_cached(spark, sf_dir, vecs),
    )


# ---------------------------------------------------------------------------
# Exact range (radius) search with provable cell pruning — a different
# query TYPE from top-k: data-dependent result size, exactness (not
# recall) as the guarantee.
# ---------------------------------------------------------------------------

from blspark.queries.extensions9 import _D2Q  # noqa: E402
from blspark.ext.similarity import RANGE_EPS as _RANGE_EPS  # noqa: E402

_RANGE_RADIUS = 1.2  # chosen against the measured distance
# distribution (min pair distance ~1.15): 29 result rows at sf0.01,
# 131 at sf0.1, every query non-empty at both SFs.

RANGE_ORACLE = f"""
WITH vecs AS MATERIALIZED (
  SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
)
SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
       ROUND(sqrt({_D2Q.format(a="n.vec", b="q.vec")}), 6) AS dist
FROM vecs q, vecs n
WHERE q.vec_id >= 10 AND q.vec_id < 15 AND n.vec_id <> q.vec_id
  AND sqrt({_D2Q.format(a="n.vec", b="q.vec")}) <= {_RANGE_RADIUS}
"""


def _range_parts(spark: SparkSession, sf_dir: str):
    from blspark.ext.similarity import range_search_ivf

    emb = load_table(spark, sf_dir, "embeddings")
    vecs = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    queries = vecs.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 15))
    # trained ONCE and returned: the eval also needs the cell count,
    # and _det_centroids is an eager full-corpus aggregation
    cents = _det_centroids(emb)
    result, probes = range_search_ivf(
        vecs,
        queries,
        cents,
        radius=_RANGE_RADIUS,
        with_probe_frame=True,
    )
    return vecs, queries, cents, result, probes


@register(
    "x_similarity_range",
    oracle=RANGE_ORACLE,
    doc="EXACT range (radius) search with provable IVF cell pruning — "
    "a different query TYPE from the top-k family (data-dependent "
    "result size; the guarantee is EXACTNESS, not recall): every cell "
    "is skipped only when the triangle inequality proves it result-"
    "free (d(query, centroid) > radius + cover_radius, cover radii = "
    "|cells|-row metadata), so the pruned scan returns bit-identical "
    "rows to a brute-force radius filter. The oracle deliberately "
    "does NOT mirror the pruning — it IS the brute force, so the "
    "driver's hash equality is a proof the pruning loses nothing. "
    "sqrt is IEEE correctly-rounded (unlike transcendentals), so the "
    "boundary compare agrees bitwise across engines. Scale shape: "
    "metadata-sized probe decision (|Q| x |cells| broadcast "
    "product), corpus touched only in probed cells; on this "
    "near-isotropic synthetic corpus the bound prunes nothing "
    "(x_range_eval reports it honestly) — tests/test_range.py pins "
    "the pruning firing on separated clusters. "
    "ext/similarity.range_search_ivf / cell_cover_radii.",
)
def x_similarity_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _range_parts(spark, sf_dir)[3]



RANGE_EVAL_ORACLE = f"""
WITH {_IVF_PREFIX_SQL},
rcell AS MATERIALIZED (
  SELECT a.cell_id,
         MAX(sqrt({_D2Q.format(a="v.vec", b="c.cvec")})) AS rcell
  FROM cassign a
  JOIN vecs v ON v.vec_id = a.vec_id
  JOIN cents c ON c.cell_id = a.cell_id
  GROUP BY a.cell_id
),
rprobes AS MATERIALIZED (
  SELECT q.vec_id AS query_id, c.cell_id
  FROM vecs q, cents c
  JOIN rcell r ON r.cell_id = c.cell_id
  WHERE q.vec_id >= 10 AND q.vec_id < 15
    AND sqrt({_D2Q.format(a="q.vec", b="c.cvec")})
          <= {_RANGE_RADIUS} + r.rcell + {_RANGE_EPS}
),
brute AS MATERIALIZED (
  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id
  FROM vecs q, vecs n
  WHERE q.vec_id >= 10 AND q.vec_id < 15 AND n.vec_id <> q.vec_id
    AND sqrt({_D2Q.format(a="n.vec", b="q.vec")}) <= {_RANGE_RADIUS}
),
pruned AS MATERIALIZED (
  SELECT b.query_id, b.neighbor_id
  FROM brute b
  JOIN cassign a ON a.vec_id = b.neighbor_id
  JOIN rprobes p ON p.query_id = b.query_id AND p.cell_id = a.cell_id
)
SELECT
  CAST((SELECT COUNT(*) FROM vecs
        WHERE vec_id >= 10 AND vec_id < 15) AS INT) AS n_queries,
  CAST((SELECT COUNT(*) FROM pruned) AS INT) AS n_range,
  CAST((SELECT COUNT(*) FROM brute) AS INT) AS n_brute,
  (SELECT COUNT(*) FROM pruned) = (SELECT COUNT(*) FROM brute)
    AS range_eq_brute,
  CAST((SELECT COUNT(*) FROM rprobes) AS INT) AS cells_probed,
  CAST((SELECT COUNT(*) FROM vecs WHERE vec_id >= 10 AND vec_id < 15)
       * (SELECT COUNT(*) FROM cents) AS INT) AS cells_total,
  (SELECT COUNT(DISTINCT query_id) FROM brute)
    = (SELECT COUNT(*) FROM vecs WHERE vec_id >= 10 AND vec_id < 15)
    AS all_queries_hit
"""


@register(
    "x_range_eval",
    oracle=RANGE_EVAL_ORACLE,
    doc="Range-search accounting contract — the exactness claim plus "
    "the honest pruning ledger: range_eq_brute pins that the cell-"
    "pruned result count equals brute force (STRUCTURAL by the "
    "triangle inequality; the main query's hash differential already "
    "proves row-level equality, this row makes the count visible), "
    "cells_probed vs cells_total reports how much the bound actually "
    "pruned — on this near-isotropic synthetic corpus the answer is "
    "NOTHING (probed == total: query-centroid distances ~1.0, cover "
    "radii ~1.03, radius 1.2 — the bound cannot separate what the "
    "data does not separate), which is reported rather than hidden; "
    "tests/test_range.py pins the pruning firing (probed < total, "
    "result still exact) on planted separated clusters, the geometry "
    "a real 100 TB embedding corpus has. all_queries_hit pins the "
    "radius choice stays non-trivial at both SFs. The oracle mirrors "
    "the probe rule (shared IVF prefix + cover-radius CTE) and "
    "derives 'pruned' by intersecting brute results with probed "
    "cells — equality is then the no-loss proof.",
)
def x_range_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    vecs, queries, cents, result, probes = _range_parts(spark, sf_dir)

    from blspark.ext.similarity import _d2

    brute = (
        vecs.select(
            F.col("vec_id").alias("neighbor_id"), F.col("vec").alias("nvec")
        )
        .join(
            F.broadcast(
                queries.select(
                    F.col("vec_id").alias("query_id"),
                    F.col("vec").alias("qvec"),
                )
            ),
            F.col("neighbor_id") != F.col("query_id"),
        )
        .select(
            "query_id",
            "neighbor_id",
            F.sqrt(_d2(F.col("nvec"), F.col("qvec"))).alias("d"),
        )
        .filter(F.col("d") <= _RANGE_RADIUS)
    )
    n_queries = queries.agg(F.count("*").cast("int").alias("n_queries"))
    n_range = result.agg(F.count("*").cast("int").alias("n_range"))
    n_brute = brute.agg(F.count("*").cast("int").alias("n_brute"))
    cells_probed = probes.agg(
        F.count("*").cast("int").alias("cells_probed")
    )
    n_cells = cents.agg(F.count("*").alias("_nc"))
    hit = brute.agg(
        F.countDistinct("query_id").alias("_nq_hit")
    )
    return (
        n_queries.crossJoin(n_range)
        .crossJoin(n_brute)
        .crossJoin(cells_probed)
        .crossJoin(n_cells)
        .crossJoin(hit)
        .select(
            "n_queries",
            "n_range",
            "n_brute",
            (F.col("n_range") == F.col("n_brute")).alias("range_eq_brute"),
            "cells_probed",
            (F.col("n_queries") * F.col("_nc"))
            .cast("int")
            .alias("cells_total"),
            # every query has >= 1 result: distinct hit queries ==
            # n_queries (a MIN(count)>=1 formulation is vacuously
            # true — a zero-result query has no group at all)
            (F.col("_nq_hit") == F.col("n_queries")).alias(
                "all_queries_hit"
            ),
        )
    )
