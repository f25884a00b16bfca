"""Round-7 extension operators: product quantization (PQ) for
embedding search at scale.

PQ is the compressed-domain counterpart of the IVF family
(ext/similarity.py): instead of pruning WHICH vectors a query scores
(IVF cells), it shrinks WHAT is scored — each 64-dim float vector
becomes n_subspaces tiny codes (32x smaller here), and queries score
corpus vectors by summing per-subspace lookup-table values (asymmetric
distance computation, ADC) without touching a raw vector. At 100 TB of
embeddings this is the difference between scanning 100 TB and scanning
~3 TB of codes; composed with IVF cells (FAISS IVF-PQ) the scan also
prunes to the probed cells. Reference scope: the reference pipeline has
no vector search at all — this family extends SURVEY.md §2's
"training-data pipeline" charter the same way the IVF/LSH operators do.

Oracle device: deterministic codebooks (seeded from the lowest-id
subvectors, ONE Lloyd refinement with decimal-exact order-independent
means — the x_kmeans_checked device per subspace), and per-pair ADC
sums folded in subspace order (DuckDB ``list_sum(list(val ORDER BY
m))`` == Spark's sorted sequential ``aggregate`` fold) — never an
unordered double SUM, per the catalog numeric policy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from blspark.catalog import load_table, o_davg, register

# 64-dim embeddings -> 8 subspaces x 8 dims, 4 codewords per subspace.
_PQ_M = 8
_PQ_SUBDIM = 8
_PQ_KS = 4
_PQ_K = 3

_DOTQ = "list_sum(list_transform(list_zip({a}, {b}), x -> x[1] * x[2]))"
_D2Q = (
    "list_sum(list_transform(list_zip({a}, {b}), "
    "x -> (x[1] - x[2]) * (x[1] - x[2])))"
)


# Codebook seeding, id-ROBUST (VERDICT r7 item 3): codes are numbered
# by RANK among the n_codes lowest ids — mirroring the library's
# pq_train_codebooks (ext/similarity.py) — never by id VALUE, so
# offset/sharded id ranges (min id >= n_codes) train identically.
_PQ_SEED_SQL = f"""seeds AS MATERIALIZED (
  SELECT vec_id, CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS code
  FROM vecs ORDER BY vec_id LIMIT {_PQ_KS}
),
init AS MATERIALIZED (
  SELECT s.m, d.code, s.sv AS cw
  FROM sv s JOIN seeds d ON s.vec_id = d.vec_id
)"""


def _pq_assign_sql(cb: str, keep_sv: bool) -> str:
    d2 = _D2Q.format(a="s.sv", b="c.cw")
    sv = ", sv" if keep_sv else ""
    return f"""
  SELECT vec_id, m, code{sv} FROM (
    SELECT s.vec_id, s.m, c.code, s.sv,
           ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
             ORDER BY {d2} ASC, c.code ASC) AS r
    FROM sv s JOIN {cb} c ON s.m = c.m) t
  WHERE r = 1
"""


# Shared CTE chains: the codes-only prefix (deterministic codebooks ->
# codes) serves the streaming-encode oracle too; _PQ_CHAIN extends it
# with the per-query LUT -> ADC scores. PQ_CHECKED ranks the scores
# directly; the re-rank query takes a longer shortlist and re-scores
# exactly.
# Training tail (seeds -> init -> one Lloyd round -> codebooks ->
# codes), agnostic to WHAT ``sv`` slices — raw vectors (the PQ chain)
# or residuals (the residual IVF-PQ oracle). One copy, so the training
# arithmetic can never diverge between the two.
_PQ_TRAIN_SQL = f"""{_PQ_SEED_SQL},
a0 AS MATERIALIZED ({_pq_assign_sql("init", keep_sv=True)}),
cb AS MATERIALIZED (
  SELECT m, code, list(c ORDER BY pos) AS cw FROM (
    SELECT a.m, a.code, t.i AS pos, {o_davg(f"a.sv[t.i + 1]")} AS c
    FROM a0 a, range(0, {_PQ_SUBDIM}) t(i)
    GROUP BY a.m, a.code, t.i) s
  GROUP BY m, code
),
codes AS MATERIALIZED ({_pq_assign_sql("cb", keep_sv=False)})"""

def _pq_codes_chain_sql(vec_filter: str = "") -> str:
    """The WITH prefix (vecs -> subvectors -> training tail) with an
    optional filter on the vector universe — ``x_pq_eval`` evaluates on
    a fixed-size sample so its recall contract is scale-stable."""
    return f"""
WITH vecs AS MATERIALIZED (
  SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings {vec_filter}
),
sv AS MATERIALIZED (
  SELECT vec_id, t.m,
         vec[t.m * {_PQ_SUBDIM} + 1 : t.m * {_PQ_SUBDIM} + {_PQ_SUBDIM}] AS sv
  FROM vecs, range(0, {_PQ_M}) t(m)
),
{_PQ_TRAIN_SQL}"""


_PQ_CODES_CHAIN = _pq_codes_chain_sql()

_PQ_LUT_SCORED_SQL = f""",
lut AS MATERIALIZED (
  SELECT q.vec_id AS query_id, c.m, c.code,
         {_DOTQ.format(a="q.sv", b="c.cw")} AS val
  FROM sv q JOIN cb c ON q.m = c.m
  WHERE q.vec_id >= 10 AND q.vec_id < 15
),
scored AS (
  SELECT l.query_id, s.vec_id AS neighbor_id,
         list_sum(list(l.val ORDER BY l.m)) AS score_raw
  FROM codes s
  JOIN lut l ON s.m = l.m AND s.code = l.code AND s.vec_id <> l.query_id
  GROUP BY l.query_id, s.vec_id
)"""

_PQ_CHAIN = _PQ_CODES_CHAIN + _PQ_LUT_SCORED_SQL

PQ_CHECKED_ORACLE = f"""{_PQ_CHAIN}
SELECT query_id, neighbor_id, ROUND(score_raw, 6) AS score, rank FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (
      PARTITION BY query_id
      ORDER BY score_raw DESC, neighbor_id ASC) AS INT) AS rank
  FROM scored) t
WHERE rank <= {_PQ_K}
"""

_PQ_SHORTLIST = 12

_NORMQR = "sqrt(list_sum(list_transform({a}, x -> x * x)))"

PQ_RERANK_ORACLE = f"""{_PQ_CHAIN},
shortlist AS MATERIALIZED (
  SELECT query_id, neighbor_id FROM (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id
        ORDER BY score_raw DESC, neighbor_id ASC) AS r
    FROM scored) t
  WHERE r <= {_PQ_SHORTLIST}
),
exact AS (
  SELECT s.query_id, s.neighbor_id,
         {{dot}} / ({{nn}} * {{nq}}) AS cos_raw
  FROM shortlist s
  JOIN vecs n ON n.vec_id = s.neighbor_id
  JOIN vecs q ON q.vec_id = s.query_id
)
SELECT query_id, neighbor_id, ROUND(cos_raw, 6) AS cosine, rank FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (
      PARTITION BY query_id
      ORDER BY cos_raw DESC, neighbor_id ASC) AS INT) AS rank
  FROM exact) t
WHERE rank <= {_PQ_K}
""".format(
    dot=_DOTQ.format(a="n.vec", b="q.vec"),
    nn=_NORMQR.format(a="n.vec"),
    nq=_NORMQR.format(a="q.vec"),
)


@register(
    "x_similarity_pq_rerank",
    bench=True,
    oracle=PQ_RERANK_ORACLE,
    doc="Two-stage retrieval (shortlist-then-rerank), full SQL oracle: "
    "the PQ ADC scan produces a 12-candidate shortlist per query from "
    "compressed codes, then ONLY those candidates' raw vectors are "
    "fetched for an exact cosine re-rank to the final top-3 — the "
    "standard production ANN shape (quantization error perturbs the "
    "shortlist's internal order; the cheap exact pass fixes it). "
    "Plan shape: the Q x 12 candidate frame broadcasts; the raw-vector "
    "fetch is a broadcast-semi-join prune of one corpus scan (a "
    "point-lookup pattern on a sorted/bucketed layout at 100 TB). "
    "ext/similarity.pq_rerank_topk; tests/test_pq.py proves a "
    "corpus-sized shortlist reproduces exact cosine_topk.",
)
def x_similarity_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blspark.ext.similarity import (
        pq_encode,
        pq_rerank_topk,
        pq_train_codebooks,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    vecs = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    cb = pq_train_codebooks(vecs, _PQ_M, _PQ_SUBDIM, _PQ_KS)
    codes = pq_encode(vecs, cb, _PQ_M, _PQ_SUBDIM)
    queries = vecs.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 15))
    return pq_rerank_topk(
        vecs, codes, queries, cb, _PQ_M, _PQ_SUBDIM,
        k=_PQ_K, shortlist=_PQ_SHORTLIST,
    )


_NORMQ = "sqrt(list_sum(list_transform({a}, x -> x * x)))"


def _cell_assign_sql(
    src: str,
    id_out: str,
    probes: int,
    id_filter: str = "",
    extra_expr: str = "",
    extra_name: str = "",
) -> str:
    """``extra_expr``/``extra_name``: optional extra column projected
    alongside the cell assignment (residual IVF-PQ carries
    dot(query, centroid) out of the probe step). Ranking stays by
    cosine — identical to the library's ``_cell_assign`` — regardless
    of what rides along."""
    cs = _DOTQ.format(a=f"{src}.vec", b="c.cvec")
    nn = f"({_NORMQ.format(a=f'{src}.vec')} * {_NORMQ.format(a='c.cvec')})"
    inner = f", {extra_expr} AS {extra_name}" if extra_name else ""
    outer = f", {extra_name}" if extra_name else ""
    return f"""
  SELECT {id_out}, cell_id{outer} FROM (
    SELECT {src}.vec_id AS {id_out}, c.cell_id{inner},
           ROW_NUMBER() OVER (PARTITION BY {src}.vec_id
             ORDER BY {cs} / {nn} DESC, c.cell_id ASC) AS r
    FROM vecs {src}, cents c {id_filter}) t
  WHERE r <= {probes}
"""


# Shared IVF prefix: vecs + the deterministic label-mean centroid
# device (ROUND(AVG, 6) per position — the x_similarity_ivf_checked
# convention) + the corpus cell assignment. One copy serves the plain
# and residual IVF-PQ oracles AND (filtered to the fixed eval sample)
# the extensions10 recall contracts, so the cell geometry can never
# silently diverge between them.
def _ivf_prefix_sql(vec_filter: str = "") -> str:
    return f"""vecs AS MATERIALIZED (
  SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings {vec_filter}
),
cm AS MATERIALIZED (
  SELECT label, t.i AS pos, ROUND(AVG(embedding[t.i + 1]::DOUBLE), 6) AS m
  FROM embeddings, range(0, 64) t(i) {vec_filter}
  GROUP BY label, t.i
),
cents AS MATERIALIZED (
  SELECT label AS cell_id, list(m ORDER BY pos) AS cvec FROM cm GROUP BY label
),
cassign AS MATERIALIZED ({_cell_assign_sql("v", "vec_id", 1)})"""


_IVF_PREFIX_SQL = _ivf_prefix_sql()

# The IVF-PQ oracle's building blocks, exposed for the adaptive rung
# (extensions12) so the subvector slice / codes-with-cells / LUT CTEs
# exist in exactly ONE copy:
_SV_CTE = f"""sv AS MATERIALIZED (
  SELECT vec_id, t.m,
         vec[t.m * {_PQ_SUBDIM} + 1 : t.m * {_PQ_SUBDIM} + {_PQ_SUBDIM}] AS sv
  FROM vecs, range(0, {_PQ_M}) t(m)
)"""
_CODESC_CTE = """codesc AS MATERIALIZED (
  SELECT k.vec_id, k.m, k.code, a.cell_id
  FROM codes k JOIN cassign a ON k.vec_id = a.vec_id
)"""
_LUT_CTE = f"""lut AS MATERIALIZED (
  SELECT q.vec_id AS query_id, c.m, c.code,
         {_DOTQ.format(a="q.sv", b="c.cw")} AS val
  FROM sv q JOIN cb c ON q.m = c.m
  WHERE q.vec_id >= 10 AND q.vec_id < 15
)"""

IVFPQ_CHECKED_ORACLE = f"""
WITH {_IVF_PREFIX_SQL},
qprobe AS MATERIALIZED ({_cell_assign_sql(
    "q", "query_id", 2, "WHERE q.vec_id >= 10 AND q.vec_id < 15")}),
{_SV_CTE},
{_PQ_TRAIN_SQL},
{_CODESC_CTE},
{_LUT_CTE},
scored AS (
  SELECT l.query_id, s.vec_id AS neighbor_id,
         list_sum(list(l.val ORDER BY l.m)) AS score_raw
  FROM codesc s
  JOIN qprobe p ON s.cell_id = p.cell_id
  JOIN lut l ON l.query_id = p.query_id
            AND s.m = l.m AND s.code = l.code
  WHERE s.vec_id <> p.query_id
  GROUP BY l.query_id, s.vec_id
)
SELECT query_id, neighbor_id, ROUND(score_raw, 6) AS score, rank FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (
      PARTITION BY query_id
      ORDER BY score_raw DESC, neighbor_id ASC) AS INT) AS rank
  FROM scored) t
WHERE rank <= {_PQ_K}
"""


# (session applicationId, analyzed-plan semanticHash) -> centroid
# local_relation. Dead-session entries evicted on sight (the
# _session_memo convention); distinct corpora (different sf_dir paths,
# eval-sample filters) hash to distinct plans, so a filtered frame can
# never be served full-corpus centroids.
_DET_CENTROIDS_MEMO: dict[tuple[str, int], DataFrame] = {}


def _det_centroids(emb: DataFrame) -> DataFrame:
    """Deterministic label-mean centroids (ROUND(avg, 6) per position —
    the x_similarity_ivf_checked device), MATERIALIZED as a local
    relation: |labels| rows; corpus- and query-side cell assignment
    both reference it, so the per-position aggregate (a corpus-scan
    subtree) must run once, not per branch. Shared by the plain and
    residual IVF-PQ queries — one copy of the cell geometry.

    MEMOIZED per (live session, input plan semantic hash) since r14:
    centroids are a TRAINED ARTIFACT — at deployment they're computed
    once per corpus and amortized across every query batch, index
    build and refresh, while this eager helper previously re-ran the
    corpus aggregation + collect on every one of its ~dozens of call
    sites per session. The semantic hash of the analyzed plan keys
    the memo by WHAT the frame computes (path, filters), so the
    eval-sample bodies (filtered emb) get their own entry and the
    values served are bit-identical to a fresh computation — the
    memo changes when, never what."""
    from blspark.ops import local_relation

    spark = emb.sparkSession
    app = spark.sparkContext.applicationId
    for stale in [k for k in _DET_CENTROIDS_MEMO if k[0] != app]:
        del _DET_CENTROIDS_MEMO[stale]
    key = (app, emb._jdf.queryExecution().analyzed().semanticHash())
    got = _DET_CENTROIDS_MEMO.get(key)
    if got is not None:
        return got

    per_pos = (
        emb.select("label", F.posexplode(F.col("embedding").cast("array<double>")))
        .groupBy("label", "pos")
        .agg(F.round(F.avg("col"), 6).alias("m"))
    )
    cents_lazy = (
        per_pos.groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda s: s["m"],
            ).alias("centroid")
        )
        .select(F.col("label").alias("cell_id"), "centroid")
    )
    got = local_relation(cents_lazy, "cell_id int, centroid array<double>")
    _DET_CENTROIDS_MEMO[key] = got
    return got


@register(
    "x_similarity_ivfpq_checked",
    bench=True,
    oracle=IVFPQ_CHECKED_ORACLE,
    doc="FAISS-style IVF-PQ with a full SQL oracle — the 100 TB ANN "
    "configuration: IVF cells (deterministic label-mean centroids, the "
    "x_similarity_ivf_checked device) prune WHICH vectors each query "
    "scores (nprobe=2 of the label cells), while PQ codes (the "
    "x_similarity_pq_checked codebooks) shrink WHAT is scored — the "
    "ADC scan touches only the probed cells' one-byte codes, never a "
    "raw corpus vector. Plan shape: centroids + codebooks + per-query "
    "LUT + probe list all broadcast; the codes frame is the only "
    "corpus-sized input and it joins map-side; one "
    "(query, neighbor)-keyed shuffle with map-side partial sums. "
    "ext/similarity.ivfpq_build_index + ivfpq_query; tests/test_pq.py "
    "proves full-probe "
    "IVF-PQ == plain ADC (the cell restriction is exact bookkeeping).",
)
def x_similarity_ivfpq_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blspark.ext.similarity import (
        ivfpq_build_index,
        ivfpq_query,
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
    return ivfpq_query(
        codes, queries, cents, cb, _PQ_M, _PQ_SUBDIM, k=_PQ_K, nprobe=2
    )


@register(
    "x_similarity_pq_checked",
    bench=True,
    oracle=PQ_CHECKED_ORACLE,
    doc="Product-quantization ANN with a full SQL oracle: 64-dim "
    "embeddings split into 8x8-dim subspaces, 4 codewords per subspace "
    "trained deterministically (lowest-4-id seeds + one decimal-exact "
    "Lloyd round — the x_kmeans_checked device per subspace), corpus "
    "encoded to 8 one-byte codes per vector (32x compression), queries "
    "scored by asymmetric distance: a broadcast per-query lookup table "
    "of subspace dot products, summed in subspace order per candidate. "
    "Plan shape: codebook always broadcast; encode is one scan + "
    "(id, m)-keyed argmin; the ADC scan joins the codes frame to the "
    "broadcast LUT and partial-aggregates map-side before one "
    "(query, neighbor)-keyed shuffle. At 100 TB compose with IVF cells "
    "(keep cell_id on the codes frame, restrict the LUT join to probed "
    "cells) for FAISS-style IVF-PQ. ext/similarity.py: "
    "pq_train_codebooks / pq_encode / pq_adc_topk; "
    "tests/test_pq.py proves reconstruction beats the unrefined "
    "codebook and ADC approximates exact dot products.",
)
def x_similarity_pq_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blspark.ext.similarity import (
        pq_adc_topk,
        pq_encode,
        pq_train_codebooks,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    vecs = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    cb = pq_train_codebooks(vecs, _PQ_M, _PQ_SUBDIM, _PQ_KS)
    codes = pq_encode(vecs, cb, _PQ_M, _PQ_SUBDIM)
    queries = vecs.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 15))
    return pq_adc_topk(codes, queries, cb, _PQ_M, _PQ_SUBDIM, k=_PQ_K)


# ---------------------------------------------------------------------------
# SQ8 scalar-quantization ANN (the other FAISS compression workhorse)
# ---------------------------------------------------------------------------

_SQ8_K = 5

# SQ8 quantization over a ``vecs(vec_id, vec)`` CTE — the ONE SQL
# mirror of ext/similarity.sq8_quantize (scale = max|x|/127,
# floor(x/scale + .5); floor, never round: half-even vs half-up
# differs between engines). Shared by SQ8_CHECKED_ORACLE here and by
# every IVF-SQ8 / graph-SQ8 / streaming-SQ8 oracle in extensions10
# and streaming_q, so a rounding-policy change lands everywhere at
# once.
_SQ8_QZ_SQL = """qz AS MATERIALIZED (
  SELECT vec_id,
         CASE WHEN scale > 0
              THEN list_transform(vec, x -> CAST(FLOOR(x / scale + 0.5) AS INT))
              ELSE list_transform(vec, x -> 0) END AS qvec,
         CASE WHEN scale > 0 THEN scale ELSE 0.0 END AS scale
  FROM (SELECT vec_id, vec,
               list_max(list_transform(vec, x -> abs(x))) / 127.0 AS scale
        FROM vecs) t
)"""

SQ8_CHECKED_ORACLE = f"""
WITH vecs AS MATERIALIZED (
  SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
),
{_SQ8_QZ_SQL},
scored AS (
  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
         CAST(list_sum(list_transform(list_zip(n.qvec, q.qvec),
              x -> CAST(x[1] AS BIGINT) * x[2])) AS BIGINT) AS iprod,
         n.scale * q.scale AS ss
  FROM qz n, qz q
  WHERE q.vec_id >= 10 AND q.vec_id < 15 AND n.vec_id <> q.vec_id
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
    "x_similarity_sq8_checked",
    oracle=SQ8_CHECKED_ORACLE,
    doc="Scalar-quantization (SQ8) ANN with a full SQL oracle — the "
    "OTHER compression rung next to PQ (completing the FAISS ladder: "
    "brute -> LSH -> IVF -> SQ8 -> PQ -> IVF-PQ -> rerank): each "
    "element quantizes against its vector's own range (scale = "
    "max|x|/127, code = floor(x/scale + 0.5) in [-127, 127]) — no "
    "training, 4x fewer bytes scanned, and the inner product "
    "decomposes EXACTLY as scale_n * scale_q * idot(codes) where idot "
    "is an int64 sum with no float-association concern at all (the "
    "one fully-exact score core in the ANN family; the only doubles "
    "are the two per-vector scales). Plan shape mirrors cosine_topk: "
    "map-side quantization fused into the scan, broadcast queries, "
    "one per-query top-k window. At 100 TB this is the drop-in when "
    "PQ's codebook recall floor is too lossy: 4x compression with "
    "near-exact ranking instead of 32x with trained codes. "
    "ext/similarity.sq8_quantize / sq8_topk; tests/test_pq.py proves "
    "exactness on lattice data + the |x - x_hat| <= scale/2 "
    "reconstruction bound.",
)
def x_similarity_sq8_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blspark.ext.similarity import sq8_topk

    emb = load_table(spark, sf_dir, "embeddings")
    vecs = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    queries = vecs.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 15))
    return sq8_topk(vecs, queries, k=_SQ8_K)


# ---------------------------------------------------------------------------
# Late-interaction retrieval (ColBERT MaxSim over multi-vector reps)
# ---------------------------------------------------------------------------

_MS_K = 5

MAXSIM_ORACLE = f"""
WITH vecs AS MATERIALIZED (
  SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
),
sv AS MATERIALIZED (
  SELECT vec_id, t.m,
         vec[t.m * {_PQ_SUBDIM} + 1 : t.m * {_PQ_SUBDIM} + {_PQ_SUBDIM}] AS sv
  FROM vecs, range(0, {_PQ_M}) t(m)
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
    "x_retrieval_maxsim",
    oracle=MAXSIM_ORACLE,
    doc="ColBERT-style late-interaction retrieval (MaxSim) with a full "
    "SQL oracle — a different retrieval FAMILY from single-vector ANN: "
    "documents and queries are MULTI-vector token representations "
    "(here the 8x8-dim slices of the packed embedding — the layout a "
    "real ColBERT index ships), and score = sum over query tokens of "
    "the best-matching document token dot product; each query token "
    "independently finds its match, which is what makes late "
    "interaction robust where one pooled vector washes detail out. "
    "Determinism: per-pair dots are ordered folds, MAX is pure "
    "selection, the final per-query-token sum folds in token order. "
    "Plan: query tokens broadcast; corpus token explode map-side; the "
    "(query, doc, qtoken) MAX and the (query, doc) ordered sum are "
    "hash aggregates with map-side partials — one corpus-sized "
    "shuffle of single-double rows. At 100 TB compose with an IVF/LSH "
    "candidate stage in front, like pq_rerank_topk's fetch. "
    "ext/similarity.maxsim_topk; tests/test_pq.py pins the "
    "planted-best-token property and self-exclusion.",
)
def x_retrieval_maxsim(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blspark.ext.similarity import maxsim_topk

    emb = load_table(spark, sf_dir, "embeddings")
    vecs = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    queries = vecs.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 15))
    return maxsim_topk(vecs, queries, _PQ_M, _PQ_SUBDIM, k=_MS_K)


MAXSIM_PRUNED_ORACLE = f"""
WITH {_IVF_PREFIX_SQL},
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
pair AS (
  SELECT p.query_id, d.vec_id AS neighbor_id, q.m AS qm,
         MAX({_DOTQ.format(a="d.sv", b="q.sv")}) AS best
  FROM sv d
  JOIN cassign a ON d.vec_id = a.vec_id
  JOIN qprobe p ON a.cell_id = p.cell_id
  JOIN qsv q ON q.vec_id = p.query_id
  WHERE d.vec_id <> p.query_id
  GROUP BY p.query_id, d.vec_id, q.m
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
    "x_retrieval_maxsim_pruned",
    oracle=MAXSIM_PRUNED_ORACLE,
    doc="IVF-pruned MaxSim — late-interaction retrieval AT SCALE, the "
    "composition x_retrieval_maxsim's doc promises: the IVF stage "
    "(same deterministic label-mean cells and _cell_assign rule the "
    "whole family shares) restricts the O(n_tokens^2) token "
    "interaction to documents in each query's nprobe=2 probed cells — "
    "at 100 TB the expensive stage runs on |probed|/|cells| of the "
    "corpus. Candidate pairs come from an equi-join on cell_id "
    "(broadcast probe list, no cross product); the MaxSim arithmetic "
    "is shared verbatim with the unpruned query, and with nprobe == "
    "|cells| results equal plain maxsim_topk (property-tested). "
    "ext/similarity.maxsim_pruned_topk.",
)
def x_retrieval_maxsim_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blspark.ext.similarity import maxsim_pruned_topk

    emb = load_table(spark, sf_dir, "embeddings")
    vecs = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    cents = _det_centroids(emb)
    queries = vecs.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 15))
    return maxsim_pruned_topk(
        vecs, queries, cents, _PQ_M, _PQ_SUBDIM, k=_MS_K, nprobe=2
    )


# ---------------------------------------------------------------------------
# PQ quality evaluation (recall contract vs exact ground truth)
# ---------------------------------------------------------------------------

# n_tp joined once, referenced thrice — name it.
_PQ_TP_SQL = "SELECT COUNT(*) FROM adc a JOIN exact e " \
    "ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id"

# Fixed-size evaluation sample: recall@k against the exact top-k is a
# SAMPLE-SCALE metric (the exact side is the expensive baseline run
# once on a sample; the compressed scan is what ships at 100 TB). A
# full-corpus contract would degrade with N — at sf0.1 ADC top-3 with
# a 4-codeword budget hits zero of fifty thousand vectors' exact top-3,
# telling you nothing about the codebook — while a fixed sample makes
# the contract scale-stable and the floor meaningful.
_PQ_EVAL_N = 500

PQ_EVAL_ORACLE = f"""{
    _pq_codes_chain_sql(f"WHERE vec_id < {_PQ_EVAL_N}") + _PQ_LUT_SCORED_SQL},
adc AS MATERIALIZED (
  SELECT query_id, neighbor_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        ORDER BY score_raw DESC, neighbor_id ASC) AS r
    FROM scored) t
  WHERE r <= {_PQ_K}
),
shortlist AS MATERIALIZED (
  SELECT query_id, neighbor_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        ORDER BY score_raw DESC, neighbor_id ASC) AS r
    FROM scored) t
  WHERE r <= {_PQ_SHORTLIST}
),
exact AS MATERIALIZED (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
             ORDER BY {_DOTQ.format(a="n.vec", b="q.vec")} DESC,
                      n.vec_id ASC) AS r
    FROM vecs q, vecs n
    WHERE q.vec_id >= 10 AND q.vec_id < 15 AND n.vec_id <> q.vec_id) t
  WHERE r <= {_PQ_K}
),
rr AS MATERIALIZED (
  SELECT query_id, neighbor_id FROM (
    SELECT s.query_id, s.neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY s.query_id
             ORDER BY {_DOTQ.format(a="n.vec", b="q.vec")}
                      / ({_NORMQR.format(a="n.vec")}
                         * {_NORMQR.format(a="q.vec")}) DESC,
                      s.neighbor_id ASC) AS r
    FROM shortlist s
    JOIN vecs n ON n.vec_id = s.neighbor_id
    JOIN vecs q ON q.vec_id = s.query_id) t
  WHERE r <= {_PQ_K}
)
SELECT
  CAST((SELECT COUNT(*) FROM vecs
        WHERE vec_id >= 10 AND vec_id < 15) AS INT) AS n_queries,
  CAST((SELECT COUNT(*) FROM adc) AS INT) AS n_adc,
  CAST((SELECT COUNT(*) FROM exact) AS INT) AS n_truth,
  CAST(({_PQ_TP_SQL}) AS INT) AS n_tp,
  CAST(({_PQ_TP_SQL}) * 10000 // (SELECT COUNT(*) FROM exact)
       AS BIGINT) AS recall_bp,
  ({_PQ_TP_SQL}) * ((SELECT COUNT(*) FROM vecs) - 1)
    >= 10 * {_PQ_K} * (SELECT COUNT(*) FROM exact) AS recall_ok,
  (SELECT COUNT(*) FROM rr r LEFT JOIN shortlist s
     ON r.query_id = s.query_id AND r.neighbor_id = s.neighbor_id
   WHERE s.query_id IS NULL) = 0 AS shortlist_ok,
  (SELECT bool_and(n = {_PQ_K}) FROM (
     SELECT query_id, COUNT(*) AS n FROM adc GROUP BY query_id) t)
  AND
  (SELECT bool_and(n = {_PQ_K}) FROM (
     SELECT query_id, COUNT(*) AS n FROM rr GROUP BY query_id) t)
    AS ranks_ok
"""


@register(
    "x_pq_eval",
    oracle=PQ_EVAL_ORACLE,
    doc="PQ quality evaluation as a first-class ORACLE-CHECKED query — "
    "completing the pattern x_lsh_eval set for the LSH family "
    "(VERDICT r7 item 5; recall was previously pytest-only): the ADC "
    "top-3 vs the exact inner-product top-3 ground truth, hashed as a "
    "deterministic contract row — counts, true positives, recall in "
    "integer basis points (fixed-point, never a raw double ratio), a "
    "chance-relative recall floor (n_tp*(N-1) >= 10*k*n_truth, i.e. "
    ">= 10x what random top-3 would hit — scale-free, so the contract "
    "survives any corpus size), shortlist superset-of-final, and "
    "per-query rank-cardinality sanity. This is the metric that tunes "
    "M/ks before a 100 TB run, and it is computed AT SAMPLE SCALE "
    "(a fixed 500-vector universe): the exact baseline is priced for "
    "a sample, and a full-corpus recall@3 would degrade with N into "
    "an uninformative zero — the sample keeps the contract "
    "scale-stable. Like x_lsh_eval, the shared encode subtree "
    "re-evaluates per metric branch — an offline tuning query, "
    "documented recompute-over-persist stance.",
)
def x_pq_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blspark.ext.similarity import (
        _dot,
        pq_adc_topk,
        pq_encode,
        pq_rerank_topk,
        pq_train_codebooks,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    vecs = emb.filter(F.col("vec_id") < _PQ_EVAL_N).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    cb = pq_train_codebooks(vecs, _PQ_M, _PQ_SUBDIM, _PQ_KS)
    codes = pq_encode(vecs, cb, _PQ_M, _PQ_SUBDIM)
    queries = vecs.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 15))

    adc = pq_adc_topk(codes, queries, cb, _PQ_M, _PQ_SUBDIM, k=_PQ_K)
    shortlist = pq_adc_topk(
        codes, queries, cb, _PQ_M, _PQ_SUBDIM, k=_PQ_SHORTLIST
    ).select("query_id", "neighbor_id")
    rerank = pq_rerank_topk(
        vecs, codes, queries, cb, _PQ_M, _PQ_SUBDIM,
        k=_PQ_K, shortlist=_PQ_SHORTLIST,
    )

    # exact inner-product top-k ground truth (brute force — the
    # baseline a 100 TB run computes once at sample scale)
    c = vecs.select(
        F.col("vec_id").alias("neighbor_id"), F.col("vec").alias("nvec")
    )
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("vec").alias("qvec")
    )
    from pyspark.sql import Window

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
        .filter(F.col("r") <= _PQ_K)
        .select("query_id", "neighbor_id")
    )

    a = adc.select("query_id", "neighbor_id")
    tp = a.join(exact, ["query_id", "neighbor_id"])
    missing = rerank.select("query_id", "neighbor_id").join(
        shortlist, ["query_id", "neighbor_id"], "left_anti"
    )

    n_corpus = vecs.agg(F.count("*").alias("n_corpus"))
    n_queries = queries.agg(F.count("*").cast("int").alias("n_queries"))
    n_adc = a.agg(F.count("*").cast("int").alias("n_adc"))
    n_truth = exact.agg(F.count("*").cast("int").alias("n_truth"))
    n_tp = tp.agg(F.count("*").cast("int").alias("n_tp"))
    n_missing = missing.agg(F.count("*").alias("n_missing"))
    adc_card = (
        adc.groupBy("query_id")
        .agg(F.count("*").alias("n"), F.max("rank").alias("mr"))
        .agg(
            F.bool_and(
                (F.col("n") == _PQ_K) & (F.col("mr") == _PQ_K)
            ).alias("adc_ranks_ok")
        )
    )
    rr_card = (
        rerank.groupBy("query_id")
        .agg(F.count("*").alias("n"), F.max("rank").alias("mr"))
        .agg(
            F.bool_and(
                (F.col("n") == _PQ_K) & (F.col("mr") == _PQ_K)
            ).alias("rr_ranks_ok")
        )
    )
    return (
        n_queries.crossJoin(n_adc)
        .crossJoin(n_truth)
        .crossJoin(n_tp)
        .crossJoin(n_corpus)
        .crossJoin(n_missing)
        .crossJoin(adc_card)
        .crossJoin(rr_card)
        .select(
            "n_queries",
            "n_adc",
            "n_truth",
            "n_tp",
            F.expr("CAST(n_tp * 10000 div n_truth AS BIGINT)").alias(
                "recall_bp"
            ),
            (
                F.col("n_tp") * (F.col("n_corpus") - 1)
                >= F.lit(10 * _PQ_K) * F.col("n_truth")
            ).alias("recall_ok"),
            (F.col("n_missing") == 0).alias("shortlist_ok"),
            (F.col("adc_ranks_ok") & F.col("rr_ranks_ok")).alias("ranks_ok"),
        )
    )


# ---------------------------------------------------------------------------
# IVF-PQ with residual encoding (the classic FAISS refinement)
# ---------------------------------------------------------------------------

IVFPQ_RESIDUAL_ORACLE = f"""
WITH {_IVF_PREFIX_SQL},
qprobe AS MATERIALIZED ({_cell_assign_sql(
    "q", "query_id", 2, "WHERE q.vec_id >= 10 AND q.vec_id < 15",
    extra_expr=_DOTQ.format(a="q.vec", b="c.cvec"), extra_name="cell_dot")}),
resid AS MATERIALIZED (
  SELECT v.vec_id, a.cell_id,
         list_transform(list_zip(v.vec, c.cvec), x -> x[1] - x[2]) AS vec
  FROM vecs v
  JOIN cassign a ON v.vec_id = a.vec_id
  JOIN cents c ON a.cell_id = c.cell_id
),
sv AS MATERIALIZED (
  SELECT vec_id, t.m,
         vec[t.m * {_PQ_SUBDIM} + 1 : t.m * {_PQ_SUBDIM} + {_PQ_SUBDIM}] AS sv
  FROM resid, range(0, {_PQ_M}) t(m)
),
{_PQ_TRAIN_SQL},
codesc AS MATERIALIZED (
  SELECT k.vec_id, k.m, k.code, a.cell_id
  FROM codes k JOIN cassign a ON k.vec_id = a.vec_id
),
qsv AS MATERIALIZED (
  SELECT vec_id, t.m,
         vec[t.m * {_PQ_SUBDIM} + 1 : t.m * {_PQ_SUBDIM} + {_PQ_SUBDIM}] AS sv
  FROM vecs, range(0, {_PQ_M}) t(m)
  WHERE vec_id >= 10 AND vec_id < 15
),
lut AS MATERIALIZED (
  SELECT q.vec_id AS query_id, c.m, c.code,
         {_DOTQ.format(a="q.sv", b="c.cw")} AS val
  FROM qsv q JOIN cb c ON q.m = c.m
),
scored AS (
  SELECT l.query_id, s.vec_id AS neighbor_id,
         list_sum(list(l.val ORDER BY l.m)) + MIN(p.cell_dot) AS score_raw
  FROM codesc s
  JOIN qprobe p ON s.cell_id = p.cell_id
  JOIN lut l ON l.query_id = p.query_id
            AND s.m = l.m AND s.code = l.code
  WHERE s.vec_id <> p.query_id
  GROUP BY l.query_id, s.vec_id
)
SELECT query_id, neighbor_id, ROUND(score_raw, 6) AS score, rank FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (
      PARTITION BY query_id
      ORDER BY score_raw DESC, neighbor_id ASC) AS INT) AS rank
  FROM scored) t
WHERE rank <= {_PQ_K}
"""


@register(
    "x_similarity_ivfpq_residual",
    bench=True,
    oracle=IVFPQ_RESIDUAL_ORACLE,
    doc="IVF-PQ with RESIDUAL encoding, full SQL oracle — the classic "
    "FAISS refinement: PQ codes quantize vec - centroid[cell] instead "
    "of the raw vector; residuals concentrate near the origin with far "
    "less variance (the cell explains the coarse position), so the "
    "same codebook budget captures the fine structure — markedly "
    "better codes at identical storage (tests/test_pq.py: recall 22 "
    "vs 10 of 30 on clustered data at the same budget; residual "
    "reconstruction MSE < raw on the synthetic embeddings too). "
    "Scoring uses dot(q, x) ~ dot(q, centroid[cell]) + dot(q, "
    "residual_hat): ONE scalar per (query, probed cell) on the "
    "broadcast centroid frame, added AFTER the ordered ADC fold (one "
    "commutative addition — the association DuckDB's list_sum(...) + "
    "MIN(cell_dot) evaluates; never folded in, which would drift "
    "last-ulp). Plan shape identical to x_similarity_ivfpq_checked: "
    "centroids/codebooks/probes/LUT broadcast, corpus-sized work is "
    "one encode scan + the probed-cell ADC scan over one-byte codes. "
    "ext/similarity.ivfpq_residual_topk — cell assignment, training, "
    "LUT, and fold are the SAME shared helpers the whole IVF/PQ "
    "family uses.",
)
def x_similarity_ivfpq_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blspark.ext.similarity import ivfpq_residual_topk

    emb = load_table(spark, sf_dir, "embeddings")
    vecs = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    cents = _det_centroids(emb)
    queries = vecs.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 15))
    return ivfpq_residual_topk(
        vecs, queries, cents, _PQ_M, _PQ_SUBDIM, _PQ_KS, k=_PQ_K, nprobe=2
    )


# ---------------------------------------------------------------------------
# Cross-document boilerplate stripping (frequency-based, RefinedWeb-style)
# ---------------------------------------------------------------------------

_BP_W = 2  # words per segment (the "line" analog for newline-free text)
_BP_MIN_DF = 3  # absolute floor on document frequency
_BP_FRAC = 0.05  # ... and >= this fraction of the source's documents


@register(
    "x_text_boilerplate_strip",
    bench=True,
    oracle=f"""
    WITH d AS MATERIALIZED (
      SELECT doc_id, source, string_split(text, ' ') AS w
      FROM documents
    ),
    segged AS MATERIALIZED (
      SELECT doc_id, source,
             list_transform(
               range(CAST(ceil(len(w) / {_BP_W}.0) AS BIGINT)),
               s -> array_to_string(w[s * {_BP_W} + 1 : s * {_BP_W} + {_BP_W}], ' ')
             ) AS segs
      FROM d
    ),
    src_n AS MATERIALIZED (
      SELECT source, COUNT(DISTINCT doc_id) AS nd FROM d GROUP BY source
    ),
    df AS MATERIALIZED (
      SELECT u.source, u.seg
      FROM (SELECT doc_id, source, unnest(segs) AS seg FROM segged) u
      JOIN src_n n ON u.source = n.source
      GROUP BY u.source, u.seg, n.nd
      HAVING COUNT(DISTINCT u.doc_id)
             >= greatest({_BP_MIN_DF},
                         CAST(ceil({_BP_FRAC} * n.nd) AS BIGINT))
    ),
    boiler AS MATERIALIZED (
      SELECT source, list(seg) AS bl FROM df GROUP BY source
    )
    SELECT s.doc_id,
           CAST(len(s.segs) AS BIGINT) AS n_segments,
           CAST(len(list_filter(s.segs,
                x -> NOT coalesce(list_contains(b.bl, x), false)))
             AS BIGINT) AS n_kept,
           md5(coalesce(array_to_string(list_filter(s.segs,
                x -> NOT coalesce(list_contains(b.bl, x), false)), ' '), ''))
             AS cleaned_md5
    FROM segged s LEFT JOIN boiler b ON s.source = b.source
    """,
    doc="Cross-document boilerplate stripping (RefinedWeb/C4-style, "
    "frequency-based — complements x_dedup_span_removal, which keys on "
    "duplication between document PAIRS; boilerplate is detected by "
    "per-source document frequency with no pairing at all): documents "
    "split into fixed 2-word segments (the 'line' unit for "
    "newline-free text; swap in split('\\n') for real pages), a "
    "segment present in >= max(3, 5% of the source's documents) is "
    "boilerplate (the fractional threshold keeps semantics stable as "
    "sources grow — an absolute floor alone strips ~everything at "
    "10x), and every document is reassembled from its surviving "
    "segments in order. Plan shape: segmenting is pure map-side array "
    "code (one transform+slice, no explode for the rebuild); the only "
    "explode feeds the (source, segment) document-frequency aggregate; "
    "the boilerplate manifest is per-source lists that broadcast back "
    "for a map-side array filter. Two shuffles total at any corpus "
    "size. Output hashes the cleaned text via md5 so full bodies "
    "never enter the value hash. Engine gotcha pinned by the sf0.1 "
    "differential: DuckDB array_to_string([]) is NULL where Spark "
    "array_join([]) is '' — the oracle coalesces before md5.",
)
def x_text_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = F.split("text", " ")
    nseg = F.ceil(F.size(w) / F.lit(float(_BP_W))).cast("int")
    segs = F.transform(
        F.sequence(F.lit(0), nseg - 1),
        lambda s: F.array_join(F.slice(w, s * _BP_W + 1, _BP_W), " "),
    )
    segged = docs.select("doc_id", "source", segs.alias("segs"))
    src_n = docs.groupBy("source").agg(
        F.count_distinct("doc_id").alias("nd")
    )
    df = (
        segged.select(
            "doc_id", "source", F.explode("segs").alias("seg")
        )
        .groupBy("source", "seg")
        .agg(F.count_distinct("doc_id").alias("df"))
        .join(F.broadcast(src_n), "source")
        .filter(
            F.col("df")
            >= F.greatest(
                F.lit(_BP_MIN_DF),
                F.ceil(F.lit(_BP_FRAC) * F.col("nd")).cast("bigint"),
            )
        )
    )
    boiler = df.groupBy("source").agg(F.collect_list("seg").alias("bl"))
    joined = segged.join(F.broadcast(boiler), "source", "left")
    kept = F.filter(
        F.col("segs"),
        lambda x: ~F.coalesce(F.array_contains(F.col("bl"), x), F.lit(False)),
    )
    return joined.select(
        "doc_id",
        F.size("segs").cast("bigint").alias("n_segments"),
        F.size(kept).cast("bigint").alias("n_kept"),
        F.md5(F.array_join(kept, " ")).alias("cleaned_md5"),
    )
