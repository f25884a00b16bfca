"""Round-16 extension operators: the two contract/serving shapes the
r15 verdict called out as the grid's thinnest spots.

- ``x_dedup_eval``: END-TO-END fuzzy-dedup quality contract — the
  production LSH pipeline's REMOVAL DECISIONS (banded candidates ->
  exact-verify >= 0.6 -> components -> quality survivor) priced
  against the exact-Jaccard ground-truth pipeline (full inverted-index
  pairs -> the same components + survivor rule) on the planted-dup
  corpus, at both the pair level and the removed-document level, in
  basis points. Pair precision and doc precision are STRUCTURAL
  (verified pairs are exact-checked at the truth threshold over the
  same shingle sets, so pipeline pairs are a subset of truth pairs;
  components over a sub-edge-set refine the truth components, and the (quality, -id) argmax over a superset beats any
  member a sub-component's argmax beats — so every pipeline-removed
  doc is truth-removed). Recall is the measurement: how much dedup
  the banding misses end-to-end — the number a 100 TB corpus run
  budgets against (x_lsh_eval prices the CANDIDATE stage only; this
  prices the decisions that ship).
- ``x_retrieval_rerank_blend`` / ``x_rerank_blend_eval``: the
  production second-stage reranker the retrieval ladder lacked — a
  deterministic feature-blend scorer (exact full-dim cosine, distinct-
  token overlap coefficient, length-ratio prior; fixed integer weights
  6:3:1) over the MRL prefix-ANN shortlist, map-side over |Q| x 50
  pairs (the cross-encoder serving shape with a closed-form scorer in
  place of the model forward pass — the Spark-side plumbing is what's
  real here: shortlist broadcast, features fetched by broadcast pair
  join, corpus never re-scanned). The eval prices shortlist->rerank
  recall against the brute-force exact-blend top-5 AND against BOTH
  single-signal cuts (prefix-cosine rank = the ANN stage's own order;
  exact-cosine-only rank over the same shortlist): rerank >= each
  single signal is STRUCTURAL (both cuts are 5-subsets of the
  shortlist, and the rerank keeps the true-blend argmax 5-subset — a
  global-top-5 truth member contained in ANY subset survives that
  subset's true-score top-5 cut).

Reference scope: the reference pipeline (lambda_functions/
report_processor.py, sync_and_fetch.py — pandas/boto3) has none of
this; both extend SURVEY.md §2's training-data-pipeline charter like
the rest of the dedup/similarity grid.

Determinism: cosine uses the family's order-pinned fold + zero-norm
-inf guard; overlap and length features are integer-ratio doubles
(exact IEEE quotients); the blend is pinned as
((6*cos + 3*lex) + 1*lenp) / 10 — integer-weight multiplies and a
left-associated sum, bitwise identical across engines given bitwise
inputs. ROUND 6dp at output only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from blspark.catalog import load_table, register
from blspark.queries.extensions import (
    CORPUS_SQL,
    SHINGLES_SQL,
    _corpus,
    lsh_cte_block,
)
from blspark.queries.extensions2 import _Q_SQL
from blspark.queries.extensions10 import _SQ8_EVAL_N
from blspark.queries.extensions11 import _cos_sql
from blspark.queries.extensions14 import (
    _MRL_CHAIN_SQL,
    _MRL_DIM,
    _MRL_K,
    _MRL_SHORTLIST,
)

# ---------------------------------------------------------------------------
# x_dedup_eval — end-to-end dedup pipeline precision/recall contract
# ---------------------------------------------------------------------------

_DEDUP_THR = 0.6  # the pipeline's ship threshold (x_dedup_pipeline_lsh)

# Floors pinned AFTER measuring at sf0.001 / sf0.01 / sf0.1 (gotcha 17:
# the planted-dup corpus is content-different per SF, so every SF is
# measured; family convention is a floor below the minimum). Measured
# pair_recall_bp 9097/9910/9825 and doc_recall_bp 9893/9893/9904
# (sf0.001/sf0.01/sf0.1): at Jaccard >= 0.6 the 8-hash/2-band scheme
# recalls nearly every truth pair (a >= 0.6 pair collides in at least
# one band with high probability), and the component closure heals
# most residual pair misses at the doc level (a missed pair whose
# endpoints are still connected through a third dup changes no removal
# decision) — which is exactly why the DOC-level number, not the pair
# number, is what a corpus run should budget against. Precision is
# structural 10000 at both levels (subset arguments above).
_PAIR_RECALL_FLOOR = 9000
_DOC_RECALL_FLOOR = 9800

_DEDUP_EVAL_ORACLE = f"""
WITH RECURSIVE corpus AS ({CORPUS_SQL}),
{SHINGLES_SQL},
{lsh_cte_block()},
ppairs AS MATERIALIZED (
  SELECT id_a, id_b FROM ex WHERE jaccard >= {_DEDUP_THR}
),
tinter AS (
  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY 1, 2
),
tpairs AS MATERIALIZED (
  SELECT i.id_a, i.id_b
  FROM tinter i
  JOIN sizes sa ON sa.id = i.id_a
  JOIN sizes sb ON sb.id = i.id_b
  WHERE i.n_common / (sa.n + sb.n - i.n_common) >= {_DEDUP_THR}
),
psym AS (SELECT id_a AS a, id_b AS b FROM ppairs
         UNION ALL SELECT id_b, id_a FROM ppairs),
tsym AS (SELECT id_a AS a, id_b AS b FROM tpairs
         UNION ALL SELECT id_b, id_a FROM tpairs),
preach(node, r) AS (
  SELECT doc_id, doc_id FROM corpus
  UNION
  SELECT preach.node, s.b FROM preach JOIN psym s ON s.a = preach.r
),
treach(node, r) AS (
  SELECT doc_id, doc_id FROM corpus
  UNION
  SELECT treach.node, s.b FROM treach JOIN tsym s ON s.a = treach.r
),
pcomp AS (SELECT node, MIN(r) AS component FROM preach GROUP BY node),
tcomp AS (SELECT node, MIN(r) AS component FROM treach GROUP BY node),
qual AS (SELECT doc_id, {_Q_SQL} AS quality FROM corpus),
psurv AS (
  SELECT node AS survivor_id FROM (
    SELECT c.node, ROW_NUMBER() OVER (PARTITION BY c.component
        ORDER BY qual.quality DESC, c.node ASC) AS rn
    FROM pcomp c JOIN qual ON qual.doc_id = c.node) t
  WHERE rn = 1
),
tsurv AS (
  SELECT node AS survivor_id FROM (
    SELECT c.node, ROW_NUMBER() OVER (PARTITION BY c.component
        ORDER BY qual.quality DESC, c.node ASC) AS rn
    FROM tcomp c JOIN qual ON qual.doc_id = c.node) t
  WHERE rn = 1
),
prem AS MATERIALIZED (
  -- NOT IN, not EXCEPT: DuckDB rejects EXCEPT anywhere under a WITH
  -- RECURSIVE scope; survivor ids are non-null so the semantics match
  SELECT doc_id FROM corpus
  WHERE doc_id NOT IN (SELECT survivor_id FROM psurv)
),
trem AS MATERIALIZED (
  SELECT doc_id FROM corpus
  WHERE doc_id NOT IN (SELECT survivor_id FROM tsurv)
),
counts AS (
  SELECT
    (SELECT COUNT(*) FROM corpus) AS n_docs,
    (SELECT COUNT(*) FROM tpairs) AS n_pairs_truth,
    (SELECT COUNT(*) FROM ppairs) AS n_pairs_pipe,
    (SELECT COUNT(*) FROM ppairs JOIN tpairs USING (id_a, id_b))
      AS n_pair_tp,
    (SELECT COUNT(*) FROM prem) AS n_removed_pipe,
    (SELECT COUNT(*) FROM trem) AS n_removed_truth,
    (SELECT COUNT(*) FROM prem JOIN trem USING (doc_id)) AS n_doc_tp
)
SELECT
  CAST(n_docs AS INT) AS n_docs,
  CAST(n_pairs_truth AS INT) AS n_pairs_truth,
  CAST(n_pairs_pipe AS INT) AS n_pairs_pipe,
  CAST(n_pair_tp AS INT) AS n_pair_tp,
  n_pairs_pipe = n_pair_tp AS pair_precision_exact,
  CAST(n_pair_tp * 10000 // n_pairs_truth AS BIGINT) AS pair_recall_bp,
  n_pair_tp * 10000 // n_pairs_truth >= {_PAIR_RECALL_FLOOR}
    AS pair_recall_ok,
  CAST(n_removed_truth AS INT) AS n_removed_truth,
  CAST(n_removed_pipe AS INT) AS n_removed_pipe,
  CAST(n_doc_tp AS INT) AS n_doc_tp,
  n_removed_pipe = n_doc_tp AS doc_precision_exact,
  CAST(n_doc_tp * 10000 // n_removed_truth AS BIGINT) AS doc_recall_bp,
  n_doc_tp * 10000 // n_removed_truth >= {_DOC_RECALL_FLOOR}
    AS doc_recall_ok
FROM counts
"""


@register(
    "x_dedup_eval",
    oracle=_DEDUP_EVAL_ORACLE,
    doc="End-to-end fuzzy-dedup quality contract: the LSH pipeline's "
    "removal decisions (banded candidates -> exact-verify >= 0.6 -> "
    "components -> quality survivor) vs the exact-Jaccard truth "
    "pipeline (full inverted-index pairs -> same components + survivor "
    "rule), pair-level AND removed-doc-level, basis points. Precision "
    "is structural 10000 at both levels (pipeline pairs are exact-"
    "verified at the truth threshold over the same shingle sets -> "
    "subset of truth pairs; refined components + argmax-over-superset "
    "-> removed-doc subset); recall is the measured banding price "
    "(floors 5000/6000 bp pinned below the three-SF measurements). "
    "x_lsh_eval prices the candidate stage; this prices the decisions "
    "that ship at 100 TB.",
)
def x_dedup_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blspark.ext.dedup import (
        connected_components,
        jaccard_pairs,
        lsh_verified_candidates,
        shingle_sets,
        survivor_best,
    )
    from blspark.ext.text import quality_score

    corpus = _corpus(spark, sf_dir)
    _arrs, _sig, verified = lsh_verified_candidates(corpus, "doc_id", "text")
    ppairs = verified.filter(F.col("jaccard") >= _DEDUP_THR).select(
        "id_a", "id_b"
    )
    arrs = shingle_sets(corpus, "doc_id", "text", n=3)
    sh = arrs.select("id", F.explode("shset").alias("shingle"))
    tpairs = jaccard_pairs(sh, min_jaccard=_DEDUP_THR).select("id_a", "id_b")

    ids = corpus.select("doc_id")
    pcomp = connected_components(ppairs, ids, id_col="doc_id")
    tcomp = connected_components(tpairs, ids, id_col="doc_id")
    qual = quality_score(corpus, "doc_id", "text").select(
        F.col("id").alias("node"), "quality"
    )
    psurv = survivor_best(pcomp, qual).select("survivor_id")
    tsurv = survivor_best(tcomp, qual).select("survivor_id")
    prem = ids.join(
        psurv, F.col("doc_id") == F.col("survivor_id"), "left_anti"
    )
    trem = ids.join(
        tsurv, F.col("doc_id") == F.col("survivor_id"), "left_anti"
    )

    # single lazy plan of 1-row aggregates cross-joined (broadcast NLJ
    # over single rows — the x_lsh_eval convention); shared subtrees
    # recompute per branch, accepted for an offline contract query
    n_docs = ids.agg(F.count("*").cast("int").alias("n_docs"))
    n_pt = tpairs.agg(F.count("*").cast("int").alias("n_pairs_truth"))
    n_pp = ppairs.agg(F.count("*").cast("int").alias("n_pairs_pipe"))
    n_ptp = (
        ppairs.join(tpairs, ["id_a", "id_b"])
        .agg(F.count("*").cast("int").alias("n_pair_tp"))
    )
    n_rp = prem.agg(F.count("*").cast("int").alias("n_removed_pipe"))
    n_rt = trem.agg(F.count("*").cast("int").alias("n_removed_truth"))
    n_dtp = (
        prem.join(trem, "doc_id")
        .agg(F.count("*").cast("int").alias("n_doc_tp"))
    )
    return (
        n_docs.crossJoin(n_pt)
        .crossJoin(n_pp)
        .crossJoin(n_ptp)
        .crossJoin(n_rt)
        .crossJoin(n_rp)
        .crossJoin(n_dtp)
        .select(
            "n_docs",
            "n_pairs_truth",
            "n_pairs_pipe",
            "n_pair_tp",
            (F.col("n_pairs_pipe") == F.col("n_pair_tp")).alias(
                "pair_precision_exact"
            ),
            F.expr(
                "CAST(n_pair_tp * 10000 div n_pairs_truth AS BIGINT)"
            ).alias("pair_recall_bp"),
            F.expr(
                f"n_pair_tp * 10000 div n_pairs_truth"
                f" >= {_PAIR_RECALL_FLOOR}"
            ).alias("pair_recall_ok"),
            "n_removed_truth",
            "n_removed_pipe",
            "n_doc_tp",
            (F.col("n_removed_pipe") == F.col("n_doc_tp")).alias(
                "doc_precision_exact"
            ),
            F.expr(
                "CAST(n_doc_tp * 10000 div n_removed_truth AS BIGINT)"
            ).alias("doc_recall_bp"),
            F.expr(
                f"n_doc_tp * 10000 div n_removed_truth"
                f" >= {_DOC_RECALL_FLOOR}"
            ).alias("doc_recall_ok"),
        )
    )


# ---------------------------------------------------------------------------
# x_retrieval_rerank_blend — feature-blend second-stage reranker
# ---------------------------------------------------------------------------

# blend = ((6*cos + 3*lex) + 1*lenp) / 10 — integer weights so neither
# engine parses a decimal literal (DuckDB reads 0.6 as DECIMAL); every
# op is an exact IEEE multiply/divide on a pinned left-assoc sum.
_BLEND_SQL = "((6 * {cos} + 3 * {lex}) + 1 * {lenp}) / 10"

# doc features: distinct-token set + stored char length; overlap
# coefficient and length ratio are integer-ratio doubles
_FEATS_SQL = """feats AS MATERIALIZED (
  SELECT doc_id, list_distinct(string_split(text, ' ')) AS tok, n_chars
  FROM documents
)"""

_LEX_SQL = (
    "len(list_intersect(qf.tok, nf.tok))"
    " / least(len(qf.tok), len(nf.tok))"
)
_LENP_SQL = "least(qf.n_chars, nf.n_chars) / greatest(qf.n_chars, nf.n_chars)"

# blended rescore of the MRL-prefix shortlist; assumes `rescored`
# (query_id, neighbor_id, cos_raw from _MRL_CHAIN_SQL) and `feats`
_BLENDED_SQL = f"""blended AS MATERIALIZED (
  SELECT r.query_id, r.neighbor_id, r.cos_raw,
         {_LEX_SQL} AS lex,
         {_LENP_SQL} AS lenp,
         {_BLEND_SQL.format(cos="r.cos_raw", lex=_LEX_SQL, lenp=_LENP_SQL)}
           AS blend
  FROM rescored r
  JOIN feats qf ON qf.doc_id = r.query_id
  JOIN feats nf ON nf.doc_id = r.neighbor_id
)"""

RERANK_BLEND_ORACLE = f"""
WITH vecs AS MATERIALIZED (
  SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
),
{_MRL_CHAIN_SQL},
{_FEATS_SQL},
{_BLENDED_SQL}
SELECT query_id, neighbor_id, ROUND(cos_raw, 6) AS cosine,
       ROUND(lex, 6) AS lex_overlap, ROUND(lenp, 6) AS len_prior,
       ROUND(blend, 6) AS blend, rank
FROM (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        ORDER BY blend DESC, neighbor_id ASC) AS INT) AS rank
      FROM blended) t
WHERE rank <= {_MRL_K}
"""


def _blend_features(spark: SparkSession, sf_dir: str):
    """(qfe, nfe) doc-feature frames for the blend: distinct-token set
    + stored char length, aliased for the query and neighbor sides."""
    docs = load_table(spark, sf_dir, "documents")
    feats = docs.select(
        "doc_id",
        F.array_distinct(F.split(F.col("text"), " ")).alias("tok"),
        "n_chars",
    )
    qfe = feats.select(
        F.col("doc_id").alias("query_id"),
        F.col("tok").alias("qtok"),
        F.col("n_chars").alias("qn"),
    )
    nfe = feats.select(
        F.col("doc_id").alias("neighbor_id"),
        F.col("tok").alias("ntok"),
        F.col("n_chars").alias("nn"),
    )
    return qfe, nfe


def _blend_cols(df: DataFrame) -> DataFrame:
    """Append lex / lenp / blend to a (query_id, neighbor_id, cos_raw,
    qtok, ntok, qn, nn) frame — the one copy of the scoring rule both
    the operator and the eval cut from."""
    lex = F.size(F.array_intersect("qtok", "ntok")) / F.least(
        F.size("qtok"), F.size("ntok")
    )
    lenp = F.least("qn", "nn") / F.greatest("qn", "nn")
    out = df.withColumn("lex", lex).withColumn("lenp", lenp)
    blend = (
        F.lit(6) * F.col("cos_raw") + F.lit(3) * F.col("lex")
        + F.lit(1) * F.col("lenp")
    ) / F.lit(10)
    return out.withColumn("blend", blend)


def _rescored_pairs(emb, queries, pairs: DataFrame) -> DataFrame:
    """Exact full-dim cosine over a broadcastable pair list (the
    family's rerank, ``_rescore``): (query_id, neighbor_id, cos_raw)."""
    from blspark.ext.similarity import _rescore

    return _rescore(emb, queries, pairs, "vec_id", "embedding")


@register(
    "x_retrieval_rerank_blend",
    bench=True,
    oracle=RERANK_BLEND_ORACLE,
    doc="Second-stage feature-blend reranker over the MRL prefix-ANN "
    "shortlist — the cross-encoder serving shape with a closed-form "
    "scorer standing in for the model forward pass: candidates from "
    "32-of-64-dim prefix cosine (50 per query), then rerank by "
    "((6*exact_cosine + 3*token_overlap_coeff) + length_ratio) / 10 — "
    "all three signals deterministic (order-pinned cosine fold, "
    "integer-ratio overlap/length). Plan: shortlist pairs broadcast, "
    "doc features fetched by broadcast pair join (corpus scanned once "
    "for features, never re-scanned per query), scoring map-side over "
    "|Q| x 50 rows, one per-query window for the final cut. Priced by "
    "x_rerank_blend_eval. ext/similarity.mrl_prefix_ranked.",
)
def x_retrieval_rerank_blend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blspark.ext.similarity import mrl_prefix_ranked

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 15))
    short = (
        mrl_prefix_ranked(emb, queries, _MRL_DIM)
        .filter(F.col("prank") <= _MRL_SHORTLIST)
        .select("query_id", "neighbor_id")
    )
    scored = _rescored_pairs(emb, queries, short)
    qfe, nfe = _blend_features(spark, sf_dir)
    blended = _blend_cols(
        scored.join(F.broadcast(qfe), "query_id").join(nfe, "neighbor_id")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("blend"), F.asc("neighbor_id")
    )
    return (
        blended.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= _MRL_K)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cos_raw", 6).alias("cosine"),
            F.round("lex", 6).alias("lex_overlap"),
            F.round("lenp", 6).alias("len_prior"),
            F.round("blend", 6).alias("blend"),
            "rank",
        )
    )


# ---------------------------------------------------------------------------
# x_rerank_blend_eval — recall contract vs brute-force exact blend
# ---------------------------------------------------------------------------

# Floor pinned AFTER measuring at sf0.001 / sf0.01 / sf0.1 (the fixed
# 500-vector universe is SIZE-fixed, not row-identical, across SFs).
# Measured recall_bp 8000/7200/9200 (rerank), vs prefix-only
# 3600/2000/4000 and cosine-only 6400/4800/7200 — the blend recovers
# the blend-truth far better than either single signal, and the
# residual miss is the 32-dim prefix shortlist's, not the rerank's.
# Floor below the rerank minimum (7200), family convention; the two
# >= inequalities are structural (see module doc).
_RRB_FLOOR = 7000

_RRB_TP = (
    "(SELECT COUNT(*) FROM blend5 m JOIN truth e"
    " USING (query_id, neighbor_id))"
)
_RRB_TP_PREFIX = (
    "(SELECT COUNT(*) FROM pref5 p JOIN truth e"
    " USING (query_id, neighbor_id))"
)
_RRB_TP_COS = (
    "(SELECT COUNT(*) FROM cos5 c JOIN truth e"
    " USING (query_id, neighbor_id))"
)

RERANK_BLEND_EVAL_ORACLE = f"""
WITH vecs AS MATERIALIZED (
  SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
  WHERE vec_id < {_SQ8_EVAL_N}
),
{_MRL_CHAIN_SQL},
{_FEATS_SQL},
{_BLENDED_SQL},
blend5 AS MATERIALIZED (
  SELECT query_id, neighbor_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        ORDER BY blend DESC, neighbor_id ASC) AS r
    FROM blended) t WHERE r <= {_MRL_K}
),
pref5 AS MATERIALIZED (
  SELECT query_id, neighbor_id FROM pranked WHERE prank <= {_MRL_K}
),
cos5 AS MATERIALIZED (
  SELECT query_id, neighbor_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        ORDER BY cos_raw DESC, neighbor_id ASC) AS r
    FROM rescored) t WHERE r <= {_MRL_K}
),
tall AS (
  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
         {_cos_sql("n.vec", "q.vec")} AS cos_raw
  FROM vecs q JOIN vecs n ON n.vec_id <> q.vec_id
  WHERE q.vec_id >= 10 AND q.vec_id < 15
),
tblend AS (
  SELECT r.query_id, r.neighbor_id,
         {_BLEND_SQL.format(cos="r.cos_raw", lex=_LEX_SQL, lenp=_LENP_SQL)}
           AS blend
  FROM tall r
  JOIN feats qf ON qf.doc_id = r.query_id
  JOIN feats nf ON nf.doc_id = r.neighbor_id
),
truth AS MATERIALIZED (
  SELECT query_id, neighbor_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        ORDER BY blend DESC, neighbor_id ASC) AS r
    FROM tblend) t WHERE r <= {_MRL_K}
)
SELECT
  CAST((SELECT COUNT(*) FROM vecs
        WHERE vec_id >= 10 AND vec_id < 15) AS INT) AS n_queries,
  CAST((SELECT COUNT(*) FROM truth) AS INT) AS n_truth,
  CAST({_RRB_TP} AS INT) AS n_tp,
  CAST({_RRB_TP} * 10000 // (SELECT COUNT(*) FROM truth)
       AS BIGINT) AS recall_bp,
  CAST({_RRB_TP_PREFIX} AS INT) AS n_tp_prefix,
  CAST({_RRB_TP_PREFIX} * 10000 // (SELECT COUNT(*) FROM truth)
       AS BIGINT) AS recall_prefix_bp,
  CAST({_RRB_TP_COS} AS INT) AS n_tp_cos,
  CAST({_RRB_TP_COS} * 10000 // (SELECT COUNT(*) FROM truth)
       AS BIGINT) AS recall_cos_bp,
  {_RRB_TP} >= {_RRB_TP_PREFIX} AS rerank_ge_prefix,
  {_RRB_TP} >= {_RRB_TP_COS} AS rerank_ge_cos,
  {_RRB_TP} * 10000 // (SELECT COUNT(*) FROM truth)
    >= {_RRB_FLOOR} AS recall_hi_ok,
  (SELECT bool_and(n = {_MRL_K}) FROM (
     SELECT query_id, COUNT(*) AS n FROM blend5 GROUP BY query_id) t)
    AS ranks_ok
"""


@register(
    "x_rerank_blend_eval",
    oracle=RERANK_BLEND_EVAL_ORACLE,
    doc="Rerank-blend recall contract on the fixed 500-vector sample: "
    "shortlist->blend-rerank top-5 vs the brute-force exact-blend "
    "top-5 truth, plus BOTH single-signal baselines cut from the same "
    "shortlist machinery (prefix-cosine rank = the ANN stage's own "
    "order; exact-cosine-only rank over the shortlist). "
    "rerank >= each single signal is STRUCTURAL: both baseline cuts "
    "are 5-subsets of the shortlist and the rerank keeps the "
    "true-blend argmax 5-subset, so any global-top-5 truth member a "
    "baseline finds, the rerank keeps. The recall floor prices what "
    "the 32-dim prefix shortlist misses of the blend truth.",
)
def x_rerank_blend_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blspark.ext.similarity import mrl_prefix_ranked

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < _SQ8_EVAL_N
    )
    queries = emb.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 15))
    ranked = mrl_prefix_ranked(emb, queries, _MRL_DIM)
    short = ranked.filter(F.col("prank") <= _MRL_SHORTLIST).select(
        "query_id", "neighbor_id"
    )
    pref5 = ranked.filter(F.col("prank") <= _MRL_K).select(
        "query_id", "neighbor_id"
    )
    qfe, nfe = _blend_features(spark, sf_dir)

    def blend5_of(pairs: DataFrame) -> DataFrame:
        blended = _blend_cols(
            _rescored_pairs(emb, queries, pairs)
            .join(F.broadcast(qfe), "query_id")
            .join(nfe, "neighbor_id")
        )
        w = Window.partitionBy("query_id").orderBy(
            F.desc("blend"), F.asc("neighbor_id")
        )
        return (
            blended.withColumn("r", F.row_number().over(w))
            .filter(F.col("r") <= _MRL_K)
            .select("query_id", "neighbor_id")
        )

    blend5 = blend5_of(short)
    wcos = Window.partitionBy("query_id").orderBy(
        F.desc("cos_raw"), F.asc("neighbor_id")
    )
    cos5 = (
        _rescored_pairs(emb, queries, short)
        .withColumn("r", F.row_number().over(wcos))
        .filter(F.col("r") <= _MRL_K)
        .select("query_id", "neighbor_id")
    )
    all_pairs = (
        emb.select(F.col("vec_id").alias("neighbor_id"))
        .crossJoin(
            F.broadcast(queries.select(F.col("vec_id").alias("query_id")))
        )
        .filter(F.col("neighbor_id") != F.col("query_id"))
    )
    truth = blend5_of(all_pairs)

    n_queries = queries.agg(F.count("*").cast("int").alias("n_queries"))
    n_truth = truth.agg(F.count("*").cast("int").alias("n_truth"))
    n_tp = (
        blend5.join(truth, ["query_id", "neighbor_id"])
        .agg(F.count("*").cast("int").alias("n_tp"))
    )
    n_tp_prefix = (
        pref5.join(truth, ["query_id", "neighbor_id"])
        .agg(F.count("*").cast("int").alias("n_tp_prefix"))
    )
    n_tp_cos = (
        cos5.join(truth, ["query_id", "neighbor_id"])
        .agg(F.count("*").cast("int").alias("n_tp_cos"))
    )
    card = (
        blend5.groupBy("query_id")
        .agg(F.count("*").alias("n"))
        .agg(F.bool_and(F.col("n") == _MRL_K).alias("ranks_ok"))
    )
    return (
        n_queries.crossJoin(n_truth)
        .crossJoin(n_tp)
        .crossJoin(n_tp_prefix)
        .crossJoin(n_tp_cos)
        .crossJoin(card)
        .select(
            "n_queries",
            "n_truth",
            "n_tp",
            F.expr("CAST(n_tp * 10000 div n_truth AS BIGINT)").alias(
                "recall_bp"
            ),
            "n_tp_prefix",
            F.expr(
                "CAST(n_tp_prefix * 10000 div n_truth AS BIGINT)"
            ).alias("recall_prefix_bp"),
            "n_tp_cos",
            F.expr(
                "CAST(n_tp_cos * 10000 div n_truth AS BIGINT)"
            ).alias("recall_cos_bp"),
            (F.col("n_tp") >= F.col("n_tp_prefix")).alias(
                "rerank_ge_prefix"
            ),
            (F.col("n_tp") >= F.col("n_tp_cos")).alias("rerank_ge_cos"),
            F.expr(
                f"n_tp * 10000 div n_truth >= {_RRB_FLOOR}"
            ).alias("recall_hi_ok"),
            "ranks_ok",
        )
    )


# ---------------------------------------------------------------------------
# x_retrieval_rrf — reciprocal-rank fusion of dense + lexical lists
# ---------------------------------------------------------------------------

_RRF_C = 60  # the standard RRF constant (Cormack et al. 2009)
_RRF_LIST_K = 20  # per-signal list depth fused
_RRF_K = 5

RRF_ORACLE = f"""
WITH vecs AS MATERIALIZED (
  SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
),
feats AS MATERIALIZED (
  SELECT doc_id, list_distinct(string_split(text, ' ')) AS tok
  FROM documents
),
dense AS MATERIALIZED (
  SELECT query_id, neighbor_id, CAST(r AS INT) AS dense_rank FROM (
    SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
             ORDER BY {_cos_sql("n.vec", "q.vec")} DESC,
                      n.vec_id ASC) AS r
    FROM vecs q JOIN vecs n ON n.vec_id <> q.vec_id
    WHERE q.vec_id >= 10 AND q.vec_id < 15) t
  WHERE r <= {_RRF_LIST_K}
),
lex AS MATERIALIZED (
  SELECT query_id, neighbor_id, CAST(r AS INT) AS lex_rank FROM (
    SELECT qf.doc_id AS query_id, nf.doc_id AS neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY qf.doc_id
             ORDER BY len(list_intersect(qf.tok, nf.tok))
                        / least(len(qf.tok), len(nf.tok)) DESC,
                      nf.doc_id ASC) AS r
    FROM feats qf JOIN feats nf ON nf.doc_id <> qf.doc_id
    WHERE qf.doc_id >= 10 AND qf.doc_id < 15) t
  WHERE r <= {_RRF_LIST_K}
),
fused AS (
  SELECT query_id, neighbor_id, dense_rank, lex_rank,
         COALESCE(1 / ({_RRF_C} + dense_rank), 0)
           + COALESCE(1 / ({_RRF_C} + lex_rank), 0) AS rrf
  FROM dense FULL OUTER JOIN lex USING (query_id, neighbor_id)
)
SELECT query_id, neighbor_id, dense_rank, lex_rank, rrf, rank
FROM (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        ORDER BY rrf DESC, neighbor_id ASC) AS INT) AS rank
      FROM fused) t
WHERE rank <= {_RRF_K}
"""


@register(
    "x_retrieval_rrf",
    oracle=RRF_ORACLE,
    doc="Reciprocal-rank fusion (Cormack et al. 2009, the standard "
    "score-free hybrid-retrieval combiner): fuse a DENSE top-20 "
    "(exact cosine) and a LEXICAL top-20 (distinct-token overlap "
    "coefficient) per query by sum of 1/(60+rank), a list absent a "
    "document contributing 0 — rank-based fusion needs no score "
    "calibration between signals, which is why production hybrid "
    "search defaults to it over score blending when the signals' "
    "scales differ. Complements x_retrieval_hybrid (lexical recall "
    "-> dense rerank) and x_retrieval_rerank_blend (calibrated score "
    "blend): three fusion topologies, one grid. Determinism: ranks "
    "are ints; 1/(60+r) is one exact IEEE division; the two-term sum "
    "is order-pinned; ties broken by neighbor_id. Plan: queries "
    "broadcast against each signal's corpus scan (no corpus "
    "self-join), per-query windows on |Q| x N rows, full-outer "
    "fusion join on two <= |Q| x 20 row lists.",
)
def x_retrieval_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blspark.ext.similarity import cosine_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 15))
    dense = cosine_topk(emb, queries, k=_RRF_LIST_K).select(
        "query_id",
        "neighbor_id",
        F.col("rank").cast("int").alias("dense_rank"),
    )
    docs = load_table(spark, sf_dir, "documents")
    feats = docs.select(
        "doc_id",
        F.array_distinct(F.split(F.col("text"), " ")).alias("tok"),
    )
    qf = feats.filter(
        (F.col("doc_id") >= 10) & (F.col("doc_id") < 15)
    ).select(
        F.col("doc_id").alias("query_id"), F.col("tok").alias("qtok")
    )
    lex_score = F.size(F.array_intersect("qtok", "tok")) / F.least(
        F.size("qtok"), F.size("tok")
    )
    wlex = Window.partitionBy("query_id").orderBy(
        F.desc("lexs"), F.asc("neighbor_id")
    )
    lex = (
        feats.join(F.broadcast(qf), F.col("doc_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("doc_id").alias("neighbor_id"),
            lex_score.alias("lexs"),
        )
        .withColumn("r", F.row_number().over(wlex))
        .filter(F.col("r") <= _RRF_LIST_K)
        .select(
            "query_id", "neighbor_id", F.col("r").cast("int").alias("lex_rank")
        )
    )
    fused = dense.join(
        lex, ["query_id", "neighbor_id"], "full_outer"
    ).select(
        "query_id",
        "neighbor_id",
        "dense_rank",
        "lex_rank",
        (
            F.coalesce(
                F.lit(1) / (F.lit(_RRF_C) + F.col("dense_rank")), F.lit(0)
            )
            + F.coalesce(
                F.lit(1) / (F.lit(_RRF_C) + F.col("lex_rank")), F.lit(0)
            )
        ).alias("rrf"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("rrf"), F.asc("neighbor_id")
    )
    return (
        fused.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= _RRF_K)
        .select(
            "query_id", "neighbor_id", "dense_rank", "lex_rank", "rrf",
            "rank",
        )
    )


# ---------------------------------------------------------------------------
# x_mixture_temperature — temperature-based source mixture allocation
# ---------------------------------------------------------------------------

_MIX_BUDGET = 1000  # documents allocated across sources
# alpha = 0.5: weight = n^0.5 = SQRT(n) — the multilingual-pretraining
# temperature device (T5/mT5's alpha-exponent source reweighting) with
# the one exponent expressible as a correctly-rounded IEEE op (SQRT),
# so the weights hash-compare bitwise; other alphas need POW (1-ulp,
# banned by the numeric policy).

MIXTURE_ORACLE = f"""
WITH counts AS (
  SELECT source, COUNT(*) AS n FROM documents GROUP BY source
),
wts AS (
  SELECT source, n, SQRT(CAST(n AS DOUBLE)) AS w FROM counts
),
tot AS (
  SELECT list_sum(list(w ORDER BY source)) AS total FROM wts
),
based AS (
  SELECT source, n,
         CAST(FLOOR({_MIX_BUDGET} * w / total) AS INT) AS base,
         {_MIX_BUDGET} * w / total
           - FLOOR({_MIX_BUDGET} * w / total) AS frac
  FROM wts, tot
),
remcnt AS (
  SELECT {_MIX_BUDGET} - SUM(base) AS rem FROM based
),
alloc AS (
  SELECT source, n,
         base + CASE WHEN ROW_NUMBER() OVER (
             ORDER BY frac DESC, source ASC)
           <= (SELECT rem FROM remcnt) THEN 1 ELSE 0 END AS alloc
  FROM based
),
ranked AS (
  SELECT source, doc_id,
         ROW_NUMBER() OVER (PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS r
  FROM documents
),
sel AS (
  SELECT d.source, d.doc_id
  FROM ranked d JOIN alloc a ON a.source = d.source AND d.r <= a.alloc
)
SELECT a.source, CAST(a.n AS INT) AS n_docs, CAST(a.alloc AS INT) AS alloc,
       CAST(a.alloc * 10000 // {_MIX_BUDGET} AS BIGINT) AS share_bp,
       CAST(COUNT(s.doc_id) AS INT) AS n_selected,
       CAST(COALESCE(SUM(s.doc_id), 0) AS BIGINT) AS sum_sel_ids
FROM alloc a LEFT JOIN sel s ON s.source = a.source
GROUP BY a.source, a.n, a.alloc
"""


@register(
    "x_mixture_temperature",
    oracle=MIXTURE_ORACLE,
    doc="Temperature-based training-mixture allocation (the T5/mT5 "
    "alpha-exponent source reweighting, alpha=0.5): per-source "
    "sampling weight n^0.5 flattens the natural distribution so "
    "small sources are over-represented relative to their share "
    "without drowning large ones; a fixed 1000-doc budget is "
    "allocated by largest-remainder rounding (floor + the remainder "
    "docs to the largest fractional parts, source tie-break) and "
    "each source's quota is filled by deterministic hash-min "
    "selection (md5(doc_id) order — the grid's sampling device). "
    "Complements x_mixture_epochs (integer replication rebalancing) "
    "and x_source_cap_topk (hard caps): the temperature knob is the "
    "standard shape for multilingual/multi-domain pretraining mixes. "
    "Determinism: SQRT is a correctly-rounded IEEE op; the weight "
    "total folds in source order (list_sum(list ORDER BY) / "
    "F.aggregate over array_sort — the maxsim device); allocation is "
    "integer math on exact doubles. Plan: counts and the allocation "
    "table are |sources| rows (broadcast everywhere); the selection "
    "is one per-source window over the corpus — one shuffle on "
    "source; at 100 TB swap the full sort for the per-source "
    "quality-histogram threshold if a single source outgrows a task "
    "(the documented domain-balance escape).",
)
def x_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count("*").alias("n"))
    wts = counts.withColumn("w", F.sqrt(F.col("n").cast("double")))
    tot = wts.agg(
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("source", "w"))),
                lambda s: s["w"],
            ),
            F.lit(0.0).cast("double"),
            lambda acc, x: acc + x,
        ).alias("total")
    )
    alloc_raw = F.lit(_MIX_BUDGET) * F.col("w") / F.col("total")
    based = (
        wts.crossJoin(F.broadcast(tot))
        .withColumn("base", F.floor(alloc_raw).cast("int"))
        .withColumn(
            "frac", alloc_raw - F.floor(alloc_raw).cast("double")
        )
        .select("source", "n", "base", "frac")
    )
    remcnt = based.agg(
        (F.lit(_MIX_BUDGET) - F.sum("base")).alias("rem")
    )
    wrem = Window.orderBy(F.desc("frac"), F.asc("source"))
    alloc = (
        based.crossJoin(F.broadcast(remcnt))
        .withColumn("rr", F.row_number().over(wrem))
        .select(
            "source",
            "n",
            (
                F.col("base")
                + F.when(F.col("rr") <= F.col("rem"), 1).otherwise(0)
            ).alias("alloc"),
        )
    )
    wsel = Window.partitionBy("source").orderBy(
        F.asc(F.md5(F.col("doc_id").cast("string"))), F.asc("doc_id")
    )
    sel = (
        docs.select("source", "doc_id")
        .withColumn("r", F.row_number().over(wsel))
        .join(F.broadcast(alloc.select("source", "alloc")), "source")
        .filter(F.col("r") <= F.col("alloc"))
        .select("source", "doc_id")
    )
    return (
        alloc.join(sel, "source", "left")
        .groupBy("source", "n", "alloc")
        .agg(
            F.count("doc_id").cast("int").alias("n_selected"),
            F.coalesce(F.sum("doc_id"), F.lit(0))
            .cast("bigint")
            .alias("sum_sel_ids"),
        )
        .select(
            "source",
            F.col("n").cast("int").alias("n_docs"),
            F.col("alloc").cast("int").alias("alloc"),
            F.expr(
                f"CAST(alloc * 10000 div {_MIX_BUDGET} AS BIGINT)"
            ).alias("share_bp"),
            "n_selected",
            "sum_sel_ids",
        )
    )
