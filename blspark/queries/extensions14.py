"""Round-15 extension operators: two serving/curation shapes the grid
lacked, each with a full SQL oracle and the family's eval conventions.

- ``x_similarity_mrl`` / ``x_mrl_eval``: Matryoshka (MRL)
  truncated-dimension ANN — candidate generation over only the first
  32 of 64 dimensions (the truncation knob matryoshka-trained
  embedding models expose: half the index scan bytes with zero
  training), exact full-dimension rerank of the shortlist. The eval
  prices recall vs brute force AND vs the prefix-only baseline (and
  records the measured 16/24/32/48-dim truncation curve); the
  rerank >= prefix-only inequality is structural (the rerank picks
  the true-score argmax 5-subset of a shortlist that contains the
  prefix-only 5-subset).
- ``x_dedup_containment``: asymmetric n-gram containment dedup —
  |A∩B| / min(|A|,|B|) over the inverted-index join, the detector
  for subset/quote/aggregator duplicates that Jaccard (and therefore
  MinHash banding) structurally misses: the query plants concat
  documents (doc_i || doc_{i+1}) whose containment is ~1 while their
  Jaccard sits near 0.5, below the x_dedup_ngram_jaccard threshold.
- ``x_dsir_weights`` / ``x_dsir_resample``: DSIR importance
  resampling (Xie et al. 2023) — hashed-bigram likelihood-ratio
  weights toward a target domain (lang='en'), computed as an ordered
  product fold (no log — the catalog numeric policy), then resampled
  without replacement by composing NTILE(8) weights with the grid's
  exact hash-min weighted-sampling device.
- ``x_quality_domain_balanced``: per-source quantile normalization of
  the shared quality score (the CCNet/FineWeb device) — every domain
  keeps its own top half, so a systematically-verbose domain cannot
  crowd out the rest the way a global threshold lets it.

Reference scope: the reference pipeline (lambda_functions/
report_processor.py, sync_and_fetch.py — pandas/boto3) has none of
this; both extend SURVEY.md §2's training-data-pipeline charter like
the rest of the similarity/dedup grid.

NEW REGISTRATIONS (round 15): these names are not in catalog._PRIORITY
and therefore register AFTER the 50-slot driver prefix — they are
never-signed entering round 16 and lead its budget together with the
17 deferred r10 names (the round-13-continuation precedent).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from blspark.catalog import load_table, register
from blspark.queries.extensions import CORPUS_SQL, _corpus
from blspark.queries.extensions10 import _SQ8_EVAL_N
from blspark.queries.extensions11 import _cos_sql

_MRL_DIM = 32  # prefix dims served (of 64) — half the index scan bytes
_MRL_K = 5
_MRL_SHORTLIST = 50

# ---------------------------------------------------------------------------
# Matryoshka truncated-dim ANN (prefix shortlist + full-dim rerank)
# ---------------------------------------------------------------------------

# prefix ranking + rescore CTE chain over a given vecs universe — the
# registered query uses the full corpus, the eval the fixed sample
# (one fragment, two uses, the _BQ_PREFIX_SQL convention).
_MRL_CHAIN_SQL = f"""pv AS (
  SELECT vec_id, vec[1:{_MRL_DIM}] AS p FROM vecs
),
pranked AS MATERIALIZED (
  SELECT query_id, neighbor_id, pcos, r AS prank FROM (
    SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
           {_cos_sql("n.p", "q.p")} AS pcos,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
             ORDER BY {_cos_sql("n.p", "q.p")} DESC, n.vec_id ASC) AS r
    FROM pv q JOIN pv n ON n.vec_id <> q.vec_id
    WHERE q.vec_id >= 10 AND q.vec_id < 15) t
  WHERE r <= {_MRL_SHORTLIST}
),
rescored AS MATERIALIZED (
  SELECT s.query_id, s.neighbor_id, s.pcos,
         {_cos_sql("n.vec", "q.vec")} AS cos_raw
  FROM pranked s
  JOIN vecs n ON n.vec_id = s.neighbor_id
  JOIN vecs q ON q.vec_id = s.query_id
)"""

MRL_ORACLE = f"""
WITH vecs AS MATERIALIZED (
  SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
),
{_MRL_CHAIN_SQL}
SELECT query_id, neighbor_id, ROUND(cos_raw, 6) AS cosine,
       ROUND(pcos, 6) AS prefix_cosine, rank
FROM (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        ORDER BY cos_raw DESC, neighbor_id ASC) AS INT) AS rank
      FROM rescored) t
WHERE rank <= {_MRL_K}
"""


@register(
    "x_similarity_mrl",
    bench=True,
    oracle=MRL_ORACLE,
    doc="Matryoshka (MRL) truncated-dimension ANN with exact full-dim "
    "rerank, full SQL oracle — the serving shape of "
    "matryoshka-trained embedding models (the truncation knob "
    "production embedding APIs expose): candidates rank by cosine "
    "over only the FIRST 32 of 64 dims (at deployment the truncated "
    "index is the stored artifact — half the float scan bytes with "
    "ZERO training, quantization or cell routing), then an exact "
    "full-dim cosine reranks the 50-candidate shortlist. Plan: "
    "prefix slice + norm computed map-side in the corpus scan, "
    "truncated queries broadcast, shortlist cut one per-query "
    "window, full floats touched only for |queries| x 50 rerank "
    "pairs fetched by broadcast pair join (the pq/binary fetch "
    "device). Orthogonal to the SQ8/PQ/binary rungs — a deployment "
    "quantizes the PREFIX. Determinism: positional slice both "
    "engines (F.slice / list[1:32]), ordered cosine folds with the "
    "zero-norm -inf guard, ROUND 6dp output only. "
    "ext/similarity.mrl_topk; recall priced by x_mrl_eval "
    "(including the measured 16/24/32/48-dim truncation curve).",
)
def x_similarity_mrl(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blspark.ext.similarity import mrl_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 15))
    return mrl_topk(
        emb, queries, prefix_dim=_MRL_DIM, k=_MRL_K,
        shortlist=_MRL_SHORTLIST,
    )


# ---------------------------------------------------------------------------
# MRL quality evaluation (recall contract)
# ---------------------------------------------------------------------------

# Measured before pinning (gotcha 17: the fixed 500-vector universe is
# SIZE-fixed at both SFs, not row-identical, so both are measured):
# rerank recall_bp = 7600 (sf0.01) / 9600 (sf0.1); prefix-only
# recall_bp = 1600 / 3600. The full truncation curve was measured to
# choose the operating point (rerank bp at sf0.01/sf0.1): 16 dims
# 4800/5200, 24 dims 6000/7600, 32 dims 7600/9600, 48 dims
# 10000/10000 — these synthetic embeddings are NOT matryoshka-trained
# (information is spread uniformly across dims), so this is the
# honest truncation price on unstructured vectors; an MRL-trained
# model concentrates semantics in the prefix and sits far above this
# curve at equal truncation. 32-of-64 (half the scan bytes) is the
# registered point. Floor below both measurements, family
# convention.
_MRL_HI_FLOOR = 7000

_MRL_TP = (
    "(SELECT COUNT(*) FROM mrl5 m JOIN exact e "
    "USING (query_id, neighbor_id))"
)
_MRL_TP_PREFIX = (
    "(SELECT COUNT(*) FROM pref5 p JOIN exact e "
    "USING (query_id, neighbor_id))"
)

MRL_EVAL_ORACLE = f"""
WITH vecs AS MATERIALIZED (
  SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
  WHERE vec_id < {_SQ8_EVAL_N}
),
{_MRL_CHAIN_SQL},
mrl5 AS MATERIALIZED (
  SELECT query_id, neighbor_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        ORDER BY cos_raw DESC, neighbor_id ASC) AS r
    FROM rescored) t WHERE r <= {_MRL_K}
),
pref5 AS MATERIALIZED (
  SELECT query_id, neighbor_id FROM pranked WHERE prank <= {_MRL_K}
),
exact AS MATERIALIZED (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
             ORDER BY {_cos_sql("n.vec", "q.vec")} DESC,
                      n.vec_id ASC) AS r
    FROM vecs q, vecs n
    WHERE q.vec_id >= 10 AND q.vec_id < 15 AND n.vec_id <> q.vec_id) t
  WHERE r <= {_MRL_K}
)
SELECT
  CAST((SELECT COUNT(*) FROM vecs
        WHERE vec_id >= 10 AND vec_id < 15) AS INT) AS n_queries,
  CAST((SELECT COUNT(*) FROM mrl5) AS INT) AS n_mrl,
  CAST((SELECT COUNT(*) FROM exact) AS INT) AS n_truth,
  CAST({_MRL_TP} AS INT) AS n_tp,
  CAST({_MRL_TP} * 10000 // (SELECT COUNT(*) FROM exact)
       AS BIGINT) AS recall_bp,
  {_MRL_TP} * ((SELECT COUNT(*) FROM vecs) - 1)
    >= 10 * {_MRL_K} * (SELECT COUNT(*) FROM exact) AS recall_ok,
  CAST({_MRL_TP_PREFIX} AS INT) AS n_tp_prefix,
  CAST({_MRL_TP_PREFIX} * 10000 // (SELECT COUNT(*) FROM exact)
       AS BIGINT) AS recall_prefix_bp,
  {_MRL_TP} >= {_MRL_TP_PREFIX} AS rerank_ge_prefix,
  {_MRL_TP} * 10000 // (SELECT COUNT(*) FROM exact)
    >= {_MRL_HI_FLOOR} AS recall_hi_ok,
  (SELECT bool_and(n = {_MRL_K}) FROM (
     SELECT query_id, COUNT(*) AS n FROM mrl5 GROUP BY query_id) t)
    AS ranks_ok
"""


@register(
    "x_mrl_eval",
    oracle=MRL_EVAL_ORACLE,
    doc="MRL recall contract on the fixed 500-vector sample: rerank "
    "top-5 and prefix-only top-5 are BOTH cut from the one "
    "mrl_prefix_ranked frame the operator itself uses (a truncation "
    "or tie-break change reaches the eval by construction), exact "
    "ground truth under the rerank's own metric and tie-break. "
    "rerank_ge_prefix is STRUCTURAL, not merely observed: the "
    "prefix-only 5 is a subset of the 50-candidate shortlist, and "
    "the rerank keeps the true-score argmax 5-subset of that "
    "shortlist, so every truth member the prefix-only cut finds, the "
    "rerank also keeps. Measured 7600/9600 bp reranked (sf0.01/sf0.1) "
    "vs 1600/3600 bp prefix-only before pinning the 7000 floor — "
    "truncation "
    "shortlists well but orders poorly; the rescore does the ranking "
    "work (the same division of labor as the binary rung).",
)
def x_mrl_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blspark.ext.similarity import (
        _cos,
        _pair_fetch,
        _top,
        mrl_prefix_ranked,
    )

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

    # Exact full-dim cosine scorer shared by the rerank and the ground
    # truth (same metric, same tie-break) — the all-pairs frame rides
    # it with a degenerate "shortlist" of every non-self pair.
    def rescore(pairs: DataFrame) -> DataFrame:
        return _pair_fetch(emb, queries, pairs, "vec_id", "embedding").select(
            "query_id",
            "neighbor_id",
            _cos("cvec", "qvec", "cnorm", "qnorm").alias("cos_raw"),
        )

    mrl5 = _top(
        rescore(short), "cos_raw", "neighbor_id", _MRL_K, rank="r"
    ).select("query_id", "neighbor_id")
    all_pairs = (
        emb.select(F.col("vec_id").alias("neighbor_id"))
        .crossJoin(
            F.broadcast(queries.select(F.col("vec_id").alias("query_id")))
        )
        .filter(F.col("neighbor_id") != F.col("query_id"))
    )
    exact = _top(
        rescore(all_pairs), "cos_raw", "neighbor_id", _MRL_K, rank="r"
    ).select("query_id", "neighbor_id")

    n_queries = queries.agg(F.count("*").cast("int").alias("n_queries"))
    n_corpus = emb.agg(F.count("*").alias("n_corpus"))
    n_mrl = mrl5.agg(F.count("*").cast("int").alias("n_mrl"))
    n_truth = exact.agg(F.count("*").cast("int").alias("n_truth"))
    n_tp = (
        mrl5.join(exact, ["query_id", "neighbor_id"])
        .agg(F.count("*").cast("int").alias("n_tp"))
    )
    n_tp_prefix = (
        pref5.join(exact, ["query_id", "neighbor_id"])
        .agg(F.count("*").cast("int").alias("n_tp_prefix"))
    )
    card = (
        mrl5.groupBy("query_id")
        .agg(F.count("*").alias("n"))
        .agg(F.bool_and(F.col("n") == _MRL_K).alias("ranks_ok"))
    )
    return (
        n_queries.crossJoin(n_mrl)
        .crossJoin(n_truth)
        .crossJoin(n_tp)
        .crossJoin(n_tp_prefix)
        .crossJoin(n_corpus)
        .crossJoin(card)
        .select(
            "n_queries",
            "n_mrl",
            "n_truth",
            "n_tp",
            F.expr("CAST(n_tp * 10000 div n_truth AS BIGINT)").alias(
                "recall_bp"
            ),
            (
                F.col("n_tp") * (F.col("n_corpus") - 1)
                >= F.lit(10 * _MRL_K) * F.col("n_truth")
            ).alias("recall_ok"),
            "n_tp_prefix",
            F.expr(
                "CAST(n_tp_prefix * 10000 div n_truth AS BIGINT)"
            ).alias("recall_prefix_bp"),
            (F.col("n_tp") >= F.col("n_tp_prefix")).alias(
                "rerank_ge_prefix"
            ),
            F.expr(
                f"n_tp * 10000 div n_truth >= {_MRL_HI_FLOOR}"
            ).alias("recall_hi_ok"),
            "ranks_ok",
        )
    )


# ---------------------------------------------------------------------------
# Containment dedup (asymmetric n-gram overlap)
# ---------------------------------------------------------------------------

_CONT_MIN = 0.9  # containment threshold: subset/quote detection
_CONT_MOD = 25  # every 25th doc gets a concat twin

# The corpus layer that makes the operator's point: concat documents
# (doc_i || ' ' || doc_{i+1}) whose containment vs doc_i is ~1 while
# their Jaccard is ~|A|/(|A|+|B|) ~ 0.5 — BELOW x_dedup_ngram_jaccard's
# 0.6 threshold, so the Jaccard operator provably misses exactly the
# pairs this one exists to find.
_CONCAT_SQL = f"""
  SELECT a.doc_id + 300000 AS doc_id, a.text || ' ' || b.text AS text
  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
  WHERE a.doc_id % {_CONT_MOD} = 1
"""

CONTAINMENT_ORACLE = f"""
WITH corpus AS ({CORPUS_SQL} UNION ALL {_CONCAT_SQL}),
tok AS (SELECT doc_id AS id, string_split(text, ' ') AS t FROM corpus),
sh AS (
  SELECT DISTINCT id, shingle FROM (
    SELECT id,
           unnest(list_transform(range(len(t) - 2),
                  i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])) AS shingle
    FROM tok WHERE len(t) >= 3
  ) raw
),
sizes AS (SELECT id, COUNT(*) AS n FROM sh GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY 1, 2
)
SELECT id_a, id_b, containment, jaccard FROM (
  SELECT i.id_a, i.id_b,
         i.n_common / LEAST(sa.n, sb.n) AS containment,
         i.n_common / (sa.n + sb.n - i.n_common) AS jaccard
  FROM inter i
  JOIN sizes sa ON sa.id = i.id_a
  JOIN sizes sb ON sb.id = i.id_b) t
WHERE containment >= {_CONT_MIN}
"""


@register(
    "x_dedup_containment",
    oracle=CONTAINMENT_ORACLE,
    doc="Asymmetric n-gram CONTAINMENT dedup (|A∩B| / min(|A|,|B|) >= "
    "0.9) via inverted-index self-join — the subset/quote/aggregator "
    "detector Jaccard structurally misses (Broder's "
    "resemblance/containment pair): the query plants concat docs "
    "(doc_i || doc_{i+1}) whose containment is ~1 while their "
    "Jaccard sits near 0.5, below x_dedup_ngram_jaccard's 0.6 "
    "threshold — and LSH banding is deliberately NOT the candidate "
    "stage, because Jaccard-tuned bands drop exactly these "
    "asymmetric pairs. Jaccard rides along so a consumer classifies "
    "pair type (high-containment/low-jaccard = subset; both high = "
    "near-identical). Scale lever: max_doc_freq stopword-shingle "
    "pruning bounds the per-shingle quadratic term. "
    "ext/dedup.containment_pairs.",
)
def x_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blspark.ext.dedup import containment_pairs, word_shingles

    base = _corpus(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    nxt = docs.select(
        (F.col("doc_id") - 1).alias("join_id"),
        F.col("text").alias("text_b"),
    )
    concat = (
        docs.filter(F.col("doc_id") % _CONT_MOD == 1)
        .join(nxt, F.col("doc_id") == F.col("join_id"))
        .select(
            (F.col("doc_id") + 300000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" "), F.col("text_b")).alias(
                "text"
            ),
        )
    )
    sh = word_shingles(
        base.unionByName(concat), "doc_id", "text", n=3
    )
    return containment_pairs(sh, min_containment=_CONT_MIN)


# ---------------------------------------------------------------------------
# DSIR importance resampling (target-matching data selection)
# ---------------------------------------------------------------------------

_DSIR_B = 256  # hashed-bigram buckets
_DSIR_N = 50  # resample size
_DSIR_TILES = 8  # importance -> integer weight tiles (= sampling.MAX_WEIGHT)


def _dsir_chain_sql() -> str:
    """The DSIR oracle CTE chain (toks -> bgl -> bkt -> pcnt/qcnt ->
    tot -> model -> scored): hashed-bigram bucket lists in POSITION
    order, Laplace-smoothed target (lang='en') and raw bucket models,
    and the per-doc ordered product fold — list_reduce over a
    1.0-prepended ratio list, bitwise-matching Spark's
    F.aggregate(init=1.0) fold (multiplying by a leading 1.0 is
    IEEE-exact). One fragment shared by the weights and resample
    oracles. The bucket hash is the repo's one md5-prefix device
    (hex_int_sql, parenthesized before %: the expansion is a sum)."""
    from blspark.ext.dedup import hex_int_sql

    hexi = hex_int_sql("md5(bg)", 6)
    return f"""toks AS (
  SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents
),
bgl AS (
  SELECT doc_id, lang,
         CASE WHEN len(w) >= 2 THEN
           list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])
         ELSE [] END AS bgs
  FROM toks
),
bkt AS (
  SELECT doc_id, lang,
         list_transform(bgs, bg -> CAST(({hexi}) % {_DSIR_B} AS INT)) AS bks
  FROM bgl
),
pcnt AS (
  SELECT b, COUNT(*) AS c FROM (
    SELECT unnest(bks) AS b FROM bkt WHERE lang = 'en') t GROUP BY b
),
qcnt AS (
  SELECT b, COUNT(*) AS c FROM (
    SELECT unnest(bks) AS b FROM bkt) t GROUP BY b
),
tot AS (
  SELECT (SELECT COALESCE(SUM(c), 0) FROM pcnt) AS tp,
         (SELECT COALESCE(SUM(c), 0) FROM qcnt) AS tq
),
model AS (
  SELECT list(
           (CAST(COALESCE(p.c, 0) + 1 AS DOUBLE)
              / CAST(tot.tp + {_DSIR_B} AS DOUBLE))
           / (CAST(COALESCE(q.c, 0) + 1 AS DOUBLE)
              / CAST(tot.tq + {_DSIR_B} AS DOUBLE))
           ORDER BY r.range) AS ratios
  FROM range(0, {_DSIR_B}) r
  CROSS JOIN tot
  LEFT JOIN pcnt p ON p.b = r.range
  LEFT JOIN qcnt q ON q.b = r.range
  GROUP BY ALL
),
scored AS (
  SELECT doc_id, lang,
         list_reduce(
           list_prepend(CAST(1.0 AS DOUBLE),
             list_transform(bks, b -> model.ratios[b + 1])),
           (x, y) -> x * y) AS imp_ratio
  FROM bkt CROSS JOIN model
)"""


DSIR_WEIGHTS_ORACLE = f"""
WITH {_dsir_chain_sql()}
SELECT doc_id, lang, imp_ratio FROM scored
"""


@register(
    "x_dsir_weights",
    oracle=DSIR_WEIGHTS_ORACLE,
    doc="DSIR importance weights (Xie et al. 2023, Data Selection via "
    "Importance Resampling) — the standard recipe for selecting "
    "pretraining data that matches a target domain: hashed-bigram "
    "bag models over 256 buckets (md5-prefix device), Laplace-"
    "smoothed target (lang='en') and raw models, per-doc importance "
    "= likelihood ratio computed as an ORDERED product fold over the "
    "doc's bigram list (the paper's log-sum restated in +,*,/ only — "
    "no transcendental, so the raw double hash-compares bitwise; "
    "list_reduce with a prepended 1.0 mirrors F.aggregate(init=1.0) "
    "exactly). Model fit = two count passes; the 256-double ratio "
    "array broadcasts, so scoring is map-side transform+fold — no "
    "corpus join, no text shuffle, 100 TB-shaped. Measured signal: "
    "EN docs mean log-ratio +0.30 vs -0.79..-0.94 for de/es/fr/zh at "
    "sf0.01. ext/sampling.dsir_importance.",
)
def x_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blspark.ext.sampling import dsir_importance

    docs = load_table(spark, sf_dir, "documents")
    return (
        dsir_importance(docs, F.col("lang") == "en", n_buckets=_DSIR_B)
        .join(docs.select("doc_id", "lang"), "doc_id")
        .select("doc_id", "lang", "imp_ratio")
    )


DSIR_RESAMPLE_ORACLE = f"""
WITH {_dsir_chain_sql()},
tiled AS (
  SELECT doc_id,
         CAST(NTILE({_DSIR_TILES}) OVER (
           ORDER BY imp_ratio ASC, doc_id ASC) AS INT) AS weight
  FROM scored
),
keyed AS (
  SELECT doc_id, weight,
         list_min(list_transform(
           list_transform(
             list_filter(range(1, {_DSIR_TILES + 1}), j -> j <= weight),
             j -> md5(CAST(doc_id AS VARCHAR) || ':'
                      || CAST(j AS VARCHAR))),
           h -> {{hexi12}})) AS skey
  FROM tiled
)
SELECT doc_id, weight, skey FROM keyed
ORDER BY skey, doc_id LIMIT {_DSIR_N}
"""


def _dsir_resample_oracle() -> str:
    from blspark.ext.dedup import hex_int_sql

    return DSIR_RESAMPLE_ORACLE.replace(
        "{hexi12}", hex_int_sql("h", 12)
    )


@register(
    "x_dsir_resample",
    oracle=_dsir_resample_oracle(),
    doc="DSIR RESAMPLING stage — importance weights composed with the "
    "grid's exact weighted-sampling device: per-doc importance "
    "(x_dsir_weights' chain verbatim) maps to an integer weight by "
    "NTILE(8) over (imp_ratio ASC, doc_id ASC) — a deterministic "
    "stand-in for the paper's Gumbel-top-k that keeps the "
    "proportional-to-importance pull without transcendentals or RNG "
    "— then the hash-min key (ext/sampling.hashmin_key, the "
    "Efraimidis-Spirakis min-over-w-draws restatement) draws the "
    "50-doc sample without replacement. Target-like docs get up to "
    "8 draws, anti-target docs 1 — the sample skews toward the "
    "target domain while every doc keeps a nonzero chance, exactly "
    "DSIR's reason to resample instead of top-k (mode collapse). "
    "Tiles cap at 8 = ext/sampling.MAX_WEIGHT, so the oracle's "
    "constant draw range and the engine's clamp stay one constant.",
)
def x_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blspark.ext.sampling import dsir_importance, weighted_topn

    docs = load_table(spark, sf_dir, "documents")
    imp = dsir_importance(docs, F.col("lang") == "en", n_buckets=_DSIR_B)
    wt = Window.orderBy(F.asc("imp_ratio"), F.asc("doc_id"))
    tiled = imp.select(
        "doc_id", F.ntile(_DSIR_TILES).over(wt).cast("int").alias("weight")
    )
    return weighted_topn(tiled, "doc_id", "weight", _DSIR_N)


# ---------------------------------------------------------------------------
# Domain-balanced quality filtering (per-source quantile normalization)
# ---------------------------------------------------------------------------

_DBQ_KEEP = 0.5  # keep the top half of each source


def _dbq_oracle() -> str:
    from blspark.queries.extensions2 import _Q_SQL

    return f"""
WITH q AS (
  SELECT doc_id, source, {_Q_SQL} AS quality FROM documents
),
r AS (
  SELECT doc_id, source, quality,
         PERCENT_RANK() OVER (PARTITION BY source
           ORDER BY quality ASC, doc_id ASC) AS pr
  FROM q
)
SELECT doc_id, source, quality, pr FROM r WHERE pr >= {_DBQ_KEEP}
"""


@register(
    "x_quality_domain_balanced",
    oracle=_dbq_oracle(),
    doc="Domain-balanced quality filtering — the per-domain quantile "
    "normalization CCNet/FineWeb-style pipelines apply before a "
    "global keep decision: the shared composite quality score "
    "(ext/text.quality_score, the ONE formula every quality consumer "
    "uses) is PERCENT_RANKed WITHIN each source and the top half of "
    "every source survives. Contrast x_quality_filter_quantile's "
    "GLOBAL threshold, which lets one systematically-verbose domain "
    "crowd out the rest of the corpus — here every domain keeps "
    "exactly its top fraction, the balance property the unit test "
    "pins (per-source keep rate ~0.5 for every source while a global "
    "threshold's per-source rates spread). Determinism: quality is "
    "integer-derived double arithmetic, pr = (rank-1)/(n-1) over the "
    "(quality, doc_id) total order — raw ratios, no rounding. Scale "
    "shape: one window keyed by source (the natural partition key; "
    "a skewed source is one sort partition — at 100 TB pre-aggregate "
    "to a per-source quality histogram and cut thresholds from it, "
    "the x_quality_filter_quantile device, if a single source "
    "outgrows a task).",
)
def x_quality_domain_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blspark.ext.text import quality_score

    docs = load_table(spark, sf_dir, "documents")
    q = quality_score(docs, "doc_id", "text", keep=("source",)).select(
        F.col("id").alias("doc_id"), "source", "quality"
    )
    w = Window.partitionBy("source").orderBy(
        F.asc("quality"), F.asc("doc_id")
    )
    return (
        q.withColumn("pr", F.percent_rank().over(w))
        .filter(F.col("pr") >= _DBQ_KEEP)
        .select("doc_id", "source", "quality", "pr")
    )
