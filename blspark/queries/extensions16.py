"""Round-16 continuation operators: three capability families the grid
still lacked.

- ``x_dedup_prefix_join`` / ``x_prefix_join_eval``: EXACT Jaccard-
  threshold similarity join via prefix filtering (AllPairs/PPJoin —
  Bayardo et al. WWW'07, Chaudhuri et al. ICDE'06, Xiao et al.
  WWW'08). The dedup grid had exact-but-quadratic (``jaccard_pairs``
  full inverted index) and pruned-but-approximate (MinHash banding);
  this is the missing quadrant: provably-lossless candidate pruning.
  The registered query's ORACLE is the brute-force inverted-index
  truth, so the driver differential itself re-proves the prefix-filter
  theorem on every run; the eval prices the candidate-volume
  reduction the theorem buys.
- ``x_classify_nb`` / ``x_nb_eval``: the ladder's first model-TRAINING
  operator — a multinomial Naive Bayes language classifier (the
  fastText-style model-based quality/lang filter shape): hash-split
  train/test (the shared md5_bucket device), Laplace-smoothed
  per-token class likelihoods, scored as likelihood RATIOS against a
  reference class folded as an ORDERED product (the DSIR no-log
  device — ratios keep the raw double in range where per-class raw
  likelihoods of a 100-token doc would underflow), argmax by
  (score DESC, class ASC). Output is the integer confusion matrix;
  the eval pins accuracy against the majority-class baseline.
  SUPERVISION PLANT (measured first, then designed): the synthetic
  corpus's text is label-independent word soup — a prototyped NB on
  raw lang labels ceilings at ~40% vs a ~41% majority baseline
  (unigram/bigram/trigram features all at or below majority at every
  SF), so no accuracy contract against raw labels is honest. Exactly
  like the dedup family's planted duplicates, the NB corpus therefore
  PLANTS a deterministic signal: docs with doc_id % 4 != 3 (75%) get
  one lang-marker token appended; the other 25% keep raw text. The
  contract then prices what matters: marker-carrying docs must be
  recovered (measured 100% at every SF — the model genuinely learns
  the planted feature through the full distributed train/score path)
  while unmarked docs fall back to the no-signal residue, giving
  overall accuracy 8596/8684/8581 bp vs majority 3947/4122/4235.
- ``x_retrieval_phrase``: positional inverted index + exact k-word
  phrase intersection — the IR shape bag-of-words BM25/TF-IDF cannot
  express (adjacency). Postings (doc, pos, token); a phrase matches
  where its words occupy consecutive positions, found by joining the
  postings to themselves at pos+1/pos+2 — the classical positional-
  index merge, declaratively.

Reference scope: the reference pipeline (lambda_functions/
report_processor.py, sync_and_fetch.py — pandas/boto3) has none of
this; all three extend SURVEY.md §2's training-data-pipeline charter
like the rest of the dedup/similarity/text grid.

NEW REGISTRATIONS (round 16, continuation): inserted into the
catalog._PRIORITY round-16 group so the driver signs them this round
(no fresh never-sampled debt); an equal number of r11-stale names
(variants of freshly-signed bases) yield their slots and join the
round-17 deferral list — the running tally lives in catalog.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from blspark.catalog import load_table, register
from blspark.queries.extensions import CORPUS_SQL, SHINGLES_SQL, _corpus

# ---------------------------------------------------------------------------
# x_dedup_prefix_join — exact-threshold similarity join, prefix-filtered
# ---------------------------------------------------------------------------

_PF_NUM = 3  # threshold t = 3/5 = 0.6, in exact integer arithmetic
_PF_DEN = 5

_SIZES_SQL = "sizes AS (SELECT id, COUNT(*) AS n FROM sh GROUP BY id)"

# Brute-force truth over the planted-dup corpus: full inverted-index
# pairs + integer-exact threshold. Shared by the main oracle (where it
# IS the differential: Spark runs the prefix-filtered algorithm, DuckDB
# the exhaustive one — equality re-proves the theorem) and the eval.
_PF_TRUTH_SQL = f"""tinter AS (
  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY 1, 2
),
truth AS MATERIALIZED (
  SELECT i.id_a, i.id_b, sa.n AS n_a, sb.n AS n_b, i.n_common
  FROM tinter i
  JOIN sizes sa ON sa.id = i.id_a
  JOIN sizes sb ON sb.id = i.id_b
  WHERE {_PF_DEN} * i.n_common
          >= {_PF_NUM} * (sa.n + sb.n - i.n_common)
)"""

PREFIX_JOIN_ORACLE = f"""
WITH corpus AS ({CORPUS_SQL}),
{SHINGLES_SQL},
{_SIZES_SQL},
{_PF_TRUTH_SQL}
SELECT id_a, id_b, n_a, n_b, n_common,
       n_common / (n_a + n_b - n_common) AS jaccard
FROM truth
"""


def _shingled(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The prefix family's two shingle views of the planted-dup corpus,
    from ONE shingling pass: (sh, ss) = the exploded (id, shingle) frame
    and the per-document distinct-shingle sets (id, shset).

    The sets are materialized with one eager localCheckpoint and ``sh``
    is their explode. Left lazy, each consumer (the df pass, both prefix
    self-join sides, the sizes, both verify sides) gets different
    filters pushed below its exchange — the ones inferred from explode
    repeat the whole split/zip_with shingle expression — so AQE can
    reuse none of them and every consumer re-scans and re-shingles the
    corpus (measured result in ext/dedup.prefix_candidates). Nothing
    outlives the call: each call re-reads the parquet."""
    from blspark.ext.dedup import shingle_sets

    ss = shingle_sets(
        _corpus(spark, sf_dir, wide=True), "doc_id", "text"
    ).localCheckpoint(eager=True)
    return ss.select("id", F.explode("shset").alias("shingle")), ss


@register(
    "x_dedup_prefix_join",
    oracle=PREFIX_JOIN_ORACLE,
    bench=True,
    doc="EXACT Jaccard>=0.6 similarity join via prefix filtering "
    "(AllPairs/PPJoin): shingles globally ordered rarest-first "
    "(df ASC, shingle ASC), each document keeps only its first "
    "|d| - ceil(0.6|d|) + 1 shingles as the join PREFIX; a qualifying "
    "pair's alpha-th largest common token (alpha = ceil(0.6*max)) "
    "provably sits in both prefixes, so the prefix self-join loses "
    "nothing; an integer length filter and an exact verification "
    "against the full index finish the job. The ORACLE is the "
    "brute-force inverted-index truth, so this differential re-proves "
    "the losslessness theorem at every SF. All threshold math is "
    "integer cross-multiplication (no float compares); jaccard is one "
    "exact integer-ratio division. Complements the grid: jaccard_pairs "
    "is exact-but-full-index, MinHash banding is pruned-but-lossy — "
    "this is pruned AND exact. The corpus is shingled ONCE: its "
    "distinct-shingle sets are materialized by one eager checkpoint "
    "and the df pass, both prefix sides, the sizes and the verify all "
    "read that frame (no parquet scan in the executed plan). "
    "ext/dedup.prefix_filter_pairs.",
)
def x_dedup_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blspark.ext.dedup import prefix_filter_pairs

    # sets: map-side sizes for the candidate stage + array-intersect
    # verify (optimization r16) — the exploded frame is derived from
    # the same distinct-shingle sets, so results are identical
    sh, ss = _shingled(spark, sf_dir)
    return prefix_filter_pairs(sh, _PF_NUM, _PF_DEN, sets=ss)


# ---------------------------------------------------------------------------
# x_prefix_join_eval — candidate-reduction + exactness contract
# ---------------------------------------------------------------------------

# Floor pinned AFTER measuring at sf0.001 / sf0.01 / sf0.1 (planted-dup
# corpus is content-different per SF — family convention: floor below
# the minimum). Measured reduction_bp 9855/9866/8399: rarest-first
# prefixes cut candidate volume 7-75x vs the full inverted index (the
# sf0.1 corpus has a denser near-dup tail, so more pairs genuinely
# qualify and the floor sits at 8000). Exactness (n_missed = 0,
# n_extra = 0) is STRUCTURAL — the prefix theorem plus exact verify.
_PF_REDUCTION_FLOOR = 8000

# The prefix pipeline restated in SQL (mirrors ext/dedup.
# prefix_filter_pairs step for step) — the eval runs BOTH pipelines in
# BOTH engines and compares counts.
_PF_PIPE_SQL = f"""dfq AS (
  SELECT shingle, COUNT(*) AS df FROM sh GROUP BY shingle
),
pre AS MATERIALIZED (
  SELECT t.id, t.shingle, t.n FROM (
    SELECT sh.id, sh.shingle, s.n,
           ROW_NUMBER() OVER (PARTITION BY sh.id
             ORDER BY d.df ASC, sh.shingle ASC) AS pos
    FROM sh
    JOIN dfq d ON d.shingle = sh.shingle
    JOIN sizes s ON s.id = sh.id) t
  WHERE t.pos <= t.n - ({_PF_NUM} * t.n + {_PF_DEN - 1}) // {_PF_DEN} + 1
),
pcand AS MATERIALIZED (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.n AS n_a, b.n AS n_b
  FROM pre a JOIN pre b ON a.shingle = b.shingle AND a.id < b.id
  WHERE {_PF_DEN} * LEAST(a.n, b.n) >= {_PF_NUM} * GREATEST(a.n, b.n)
),
pver AS MATERIALIZED (
  SELECT id_a, id_b FROM (
    SELECT c.id_a, c.id_b, c.n_a, c.n_b, COUNT(*) AS n_common
    FROM pcand c
    JOIN sh a ON a.id = c.id_a
    JOIN sh b ON b.id = c.id_b AND b.shingle = a.shingle
    GROUP BY 1, 2, 3, 4) v
  WHERE {_PF_DEN} * v.n_common
          >= {_PF_NUM} * (v.n_a + v.n_b - v.n_common)
),
fcand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
)"""

PREFIX_JOIN_EVAL_ORACLE = f"""
WITH corpus AS ({CORPUS_SQL}),
{SHINGLES_SQL},
{_SIZES_SQL},
{_PF_TRUTH_SQL},
{_PF_PIPE_SQL}
SELECT
  CAST((SELECT COUNT(*) FROM sizes) AS INT) AS n_docs,
  CAST((SELECT COUNT(*) FROM fcand) AS INT) AS n_cand_full,
  CAST((SELECT COUNT(*) FROM pcand) AS INT) AS n_cand_prefix,
  CAST(((SELECT COUNT(*) FROM fcand) - (SELECT COUNT(*) FROM pcand))
       * 10000 // (SELECT COUNT(*) FROM fcand) AS BIGINT)
    AS reduction_bp,
  ((SELECT COUNT(*) FROM fcand) - (SELECT COUNT(*) FROM pcand))
       * 10000 // (SELECT COUNT(*) FROM fcand) >= {_PF_REDUCTION_FLOOR}
    AS reduction_ok,
  CAST((SELECT COUNT(*) FROM truth) AS INT) AS n_pairs_truth,
  CAST((SELECT COUNT(*) FROM pver) AS INT) AS n_pairs_prefix,
  CAST((SELECT COUNT(*) FROM truth t
        WHERE NOT EXISTS (SELECT 1 FROM pver p
          WHERE p.id_a = t.id_a AND p.id_b = t.id_b)) AS INT) AS n_missed,
  CAST((SELECT COUNT(*) FROM pver p
        WHERE NOT EXISTS (SELECT 1 FROM truth t
          WHERE t.id_a = p.id_a AND t.id_b = p.id_b)) AS INT) AS n_extra,
  (SELECT COUNT(*) FROM truth t
   WHERE NOT EXISTS (SELECT 1 FROM pver p
     WHERE p.id_a = t.id_a AND p.id_b = t.id_b)) = 0
  AND (SELECT COUNT(*) FROM pver p
       WHERE NOT EXISTS (SELECT 1 FROM truth t
         WHERE t.id_a = p.id_a AND t.id_b = p.id_b)) = 0 AS exact_ok
"""


@register(
    "x_prefix_join_eval",
    oracle=PREFIX_JOIN_EVAL_ORACLE,
    doc="Prefix-filter similarity-join contract: runs the prefix "
    "pipeline AND the brute-force inverted index in both engines and "
    "prices (a) candidate reduction — distinct prefix-candidate pairs "
    "vs distinct share-any-shingle pairs, in basis points (floor 8000 "
    "pinned below the 9855/9866/8399 three-SF measurements: "
    "rarest-first prefixes cut candidate volume 7-75x on this corpus) "
    "— and (b) EXACTNESS: n_missed = n_extra = 0, structural "
    "by the prefix theorem + exact verification, asserted per run. "
    "The reduction number is the one a 100 TB dedup budgets against: "
    "it is the ratio between the PPJoin candidate shuffle and the "
    "full sum-of-df^2 index blowup on this corpus shape. Both "
    "pipelines read one checkpointed shingle-set frame (the corpus is "
    "shingled once per call).",
)
def x_prefix_join_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blspark.ext.dedup import prefix_candidates, prefix_filter_pairs

    sh, ss = _shingled(spark, sf_dir)
    sizes = sh.groupBy("id").agg(F.count("*").alias("n"))

    # brute-force truth with the same integer-exact threshold
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n").alias("n_b"))
    truth = (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(
            F.lit(_PF_DEN) * F.col("n_common")
            >= F.lit(_PF_NUM)
            * (F.col("n_a") + F.col("n_b") - F.col("n_common"))
        )
        .select("id_a", "id_b")
    )
    fcand = inter.select("id_a", "id_b")
    pcand = prefix_candidates(sh, _PF_NUM, _PF_DEN, sets=ss).select(
        "id_a", "id_b"
    )
    pver = prefix_filter_pairs(sh, _PF_NUM, _PF_DEN, sets=ss).select(
        "id_a", "id_b"
    )

    n_docs = sizes.agg(F.count("*").cast("int").alias("n_docs"))
    n_cf = fcand.agg(F.count("*").cast("int").alias("n_cand_full"))
    n_cp = pcand.agg(F.count("*").cast("int").alias("n_cand_prefix"))
    n_pt = truth.agg(F.count("*").cast("int").alias("n_pairs_truth"))
    n_pp = pver.agg(F.count("*").cast("int").alias("n_pairs_prefix"))
    n_miss = truth.join(pver, ["id_a", "id_b"], "left_anti").agg(
        F.count("*").cast("int").alias("n_missed")
    )
    n_extra = pver.join(truth, ["id_a", "id_b"], "left_anti").agg(
        F.count("*").cast("int").alias("n_extra")
    )
    return (
        n_docs.crossJoin(n_cf)
        .crossJoin(n_cp)
        .crossJoin(n_pt)
        .crossJoin(n_pp)
        .crossJoin(n_miss)
        .crossJoin(n_extra)
        .select(
            "n_docs",
            "n_cand_full",
            "n_cand_prefix",
            F.expr(
                "CAST((CAST(n_cand_full AS BIGINT) - n_cand_prefix)"
                " * 10000 div n_cand_full AS BIGINT)"
            ).alias("reduction_bp"),
            F.expr(
                "(CAST(n_cand_full AS BIGINT) - n_cand_prefix) * 10000"
                f" div n_cand_full >= {_PF_REDUCTION_FLOOR}"
            ).alias("reduction_ok"),
            "n_pairs_truth",
            "n_pairs_prefix",
            "n_missed",
            "n_extra",
            ((F.col("n_missed") == 0) & (F.col("n_extra") == 0)).alias(
                "exact_ok"
            ),
        )
    )


# ---------------------------------------------------------------------------
# x_classify_nb — multinomial Naive Bayes language classifier
# ---------------------------------------------------------------------------

_NB_SPLIT = 5  # md5(doc_id) % 5: bucket 0 is held out (~20%)

# Planted supervision signal (see module doc): 75% of docs get one
# lang-marker token appended — deterministic, content-addressed, and
# identical in both engines; the held-out 25% measure the no-signal
# residue. 'mk' || lang cannot collide with corpus tokens (the
# generator vocabulary has no 'mk' prefix).
_NB_CORPUS_SQL = """
  SELECT doc_id, lang,
         CASE WHEN doc_id % 4 <> 3 THEN text || ' mk' || lang
              ELSE text END AS text
  FROM documents
"""


def _nb_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        "lang",
        F.when(
            F.col("doc_id") % 4 != 3,
            F.concat(F.col("text"), F.lit(" mk"), F.col("lang")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )


def _nb_chain_sql() -> str:
    """The NB oracle CTE chain (base -> train/test -> counts -> model ->
    scored -> pred): mirrors ext/classify.nb_predictions step for step.
    Every division is pinned (int->double casts then one divide); the
    per-(doc, class) score is the DSIR ordered product fold
    (list_reduce over a 1.0-prepended ratio list in position order)
    times the class prior ratio."""
    from blspark.ext.dedup import hex_int_sql

    hexi = hex_int_sql("md5(CAST(doc_id AS VARCHAR))", 6)
    return f"""nbcorpus AS ({_NB_CORPUS_SQL}),
base AS (
  SELECT doc_id, lang, string_split(text, ' ') AS w,
         ({hexi}) % {_NB_SPLIT} AS bkt
  FROM nbcorpus
),
train AS (SELECT * FROM base WHERE bkt <> 0),
test AS (SELECT * FROM base WHERE bkt = 0),
ttok AS (SELECT lang, unnest(w) AS tok FROM train),
cnt AS (SELECT tok, lang, COUNT(*) AS c FROM ttok GROUP BY 1, 2),
tot AS (SELECT lang, COUNT(*) AS tc FROM ttok GROUP BY 1),
vocab AS (SELECT DISTINCT tok FROM ttok),
vn AS (SELECT COUNT(*) AS v FROM vocab),
nd AS (SELECT lang, COUNT(*) AS ndc FROM train GROUP BY 1),
refl AS (SELECT MIN(lang) AS rl FROM train),
refs AS (
  SELECT t.tc AS rtc, n.ndc AS rnd
  FROM tot t
  JOIN refl ON t.lang = refl.rl
  JOIN nd n ON n.lang = t.lang
),
classes AS MATERIALIZED (
  SELECT t.lang, t.tc, refs.rtc, vn.v,
         (CAST(1 AS DOUBLE) / CAST(t.tc + vn.v AS DOUBLE))
           / (CAST(1 AS DOUBLE) / CAST(refs.rtc + vn.v AS DOUBLE))
           AS unseen,
         CAST(n.ndc AS DOUBLE) / CAST(refs.rnd AS DOUBLE) AS prior_ratio
  FROM tot t
  JOIN nd n ON n.lang = t.lang
  CROSS JOIN refs
  CROSS JOIN vn
),
cref AS (SELECT c.tok, c.c AS cr FROM cnt c JOIN refl ON c.lang = refl.rl),
model AS MATERIALIZED (
  SELECT v.tok, cl.lang,
         (CAST(COALESCE(c.c, 0) + 1 AS DOUBLE)
            / CAST(cl.tc + cl.v AS DOUBLE))
           / (CAST(COALESCE(r.cr, 0) + 1 AS DOUBLE)
              / CAST(cl.rtc + cl.v AS DOUBLE)) AS ratio
  FROM vocab v
  CROSS JOIN classes cl
  LEFT JOIN cnt c ON c.tok = v.tok AND c.lang = cl.lang
  LEFT JOIN cref r ON r.tok = v.tok
),
ttok2 AS (
  SELECT doc_id, lang AS true_lang, u.pos AS pos, u.tok AS tok FROM (
    SELECT doc_id, lang,
           unnest(list_transform(range(1, len(w) + 1),
                  i -> struct_pack(pos := i, tok := w[i]))) AS u
    FROM test) t
),
folded AS (
  SELECT s.doc_id, s.true_lang, s.cls,
         list_reduce(list_prepend(CAST(1.0 AS DOUBLE),
           list(s.r ORDER BY s.pos)), (x, y) -> x * y)
           * s.prior_ratio AS score
  FROM (
    SELECT t.doc_id, t.true_lang, cl.lang AS cls, t.pos,
           COALESCE(m.ratio, cl.unseen) AS r, cl.prior_ratio
    FROM ttok2 t
    CROSS JOIN classes cl
    LEFT JOIN model m ON m.tok = t.tok AND m.lang = cl.lang) s
  GROUP BY s.doc_id, s.true_lang, s.cls, s.prior_ratio
),
pred AS MATERIALIZED (
  SELECT doc_id, true_lang, cls AS pred_lang
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
          ORDER BY score DESC, cls ASC) AS rn FROM folded) t
  WHERE rn = 1
)"""


CLASSIFY_NB_ORACLE = f"""
WITH {_nb_chain_sql()}
SELECT true_lang, pred_lang, COUNT(*) AS n_docs
FROM pred GROUP BY 1, 2
"""


@register(
    "x_classify_nb",
    oracle=CLASSIFY_NB_ORACLE,
    bench=True,
    doc="Multinomial Naive Bayes language classifier — the ladder's "
    "first model-TRAINING operator (the fastText-style model-based "
    "filter shape), on the planted-marker corpus (75% of docs carry "
    "one appended lang-marker token — the dedup family's planted-"
    "signal precedent; the raw corpus text is label-independent, "
    "measured ~40% NB ceiling vs ~41% majority): md5(doc_id)%5 hash "
    "split (bucket 0 held out, the shared md5_bucket device), "
    "Laplace-smoothed per-token class likelihoods fit on the train "
    "split (two count passes), scored as likelihood RATIOS vs the "
    "reference class (MIN(lang)) folded as an ORDERED product over "
    "token positions — the DSIR no-log device (raw per-class "
    "likelihoods of a 100-token doc underflow doubles; ratios stay "
    "O(1) per token) — times the class prior ratio; argmax by "
    "(score DESC, class ASC). Output: the integer confusion matrix "
    "over held-out docs. Scale: the model is vocab x k rows "
    "(broadcast under threshold, else a token-keyed shuffle join); "
    "scoring is one model join + per-(doc,class) fold, no corpus "
    "self-join; at large k fold an array of k ratios per token "
    "(zip_with product) instead of k-fanning the token rows. "
    "ext/classify.nb_predictions.",
)
def x_classify_nb(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blspark.ext.classify import nb_predictions

    docs = _nb_corpus(spark, sf_dir)
    pred = nb_predictions(docs, n_split=_NB_SPLIT, test_bucket=0)
    return pred.groupBy("true_lang", "pred_lang").agg(
        F.count("*").alias("n_docs")
    )


# ---------------------------------------------------------------------------
# x_nb_eval — accuracy contract vs majority-class baseline
# ---------------------------------------------------------------------------

# Floors pinned AFTER measuring at sf0.001 / sf0.01 / sf0.1:
# accuracy_bp 8596/8684/8581 vs majority baseline 3947/4122/4235; the
# 75% marker-carrying docs are recovered 100/100/100% (marked_bp
# 10000 at every SF — the planted feature is learned through the full
# distributed train/score path) while the unmarked 25% fall to the
# measured no-signal residue (9/25, 10/25, 107/261). Floors below the
# minima, family convention; nb_ge_majority held at every SF and is
# pinned as a contract boolean.
_NB_ACC_FLOOR = 8000
_NB_MARKED_FLOOR = 9800

NB_EVAL_ORACLE = f"""
WITH {_nb_chain_sql()},
maj AS (SELECT lang AS mlang FROM nd ORDER BY ndc DESC, lang ASC LIMIT 1)
SELECT
  CAST((SELECT COUNT(*) FROM pred) AS INT) AS n_test,
  CAST((SELECT COUNT(*) FROM pred WHERE true_lang = pred_lang) AS INT)
    AS n_correct,
  CAST((SELECT COUNT(*) FROM pred WHERE true_lang = pred_lang) * 10000
       // (SELECT COUNT(*) FROM pred) AS BIGINT) AS accuracy_bp,
  CAST((SELECT COUNT(*) FROM pred JOIN maj ON pred.true_lang = maj.mlang)
       AS INT) AS n_majority_correct,
  CAST((SELECT COUNT(*) FROM pred JOIN maj ON pred.true_lang = maj.mlang)
       * 10000 // (SELECT COUNT(*) FROM pred) AS BIGINT)
    AS majority_bp,
  CAST((SELECT COUNT(*) FROM pred WHERE doc_id % 4 <> 3) AS INT)
    AS n_marked,
  CAST((SELECT COUNT(*) FROM pred
        WHERE doc_id % 4 <> 3 AND true_lang = pred_lang) AS INT)
    AS n_marked_correct,
  CAST((SELECT COUNT(*) FROM pred
        WHERE doc_id % 4 <> 3 AND true_lang = pred_lang) * 10000
       // (SELECT COUNT(*) FROM pred WHERE doc_id % 4 <> 3) AS BIGINT)
    AS marked_bp,
  (SELECT COUNT(*) FROM pred
   WHERE doc_id % 4 <> 3 AND true_lang = pred_lang) * 10000
    // (SELECT COUNT(*) FROM pred WHERE doc_id % 4 <> 3)
    >= {_NB_MARKED_FLOOR} AS marked_ok,
  (SELECT COUNT(*) FROM pred WHERE true_lang = pred_lang)
    >= (SELECT COUNT(*) FROM pred JOIN maj ON pred.true_lang = maj.mlang)
    AS nb_ge_majority,
  (SELECT COUNT(*) FROM pred WHERE true_lang = pred_lang) * 10000
    // (SELECT COUNT(*) FROM pred) >= {_NB_ACC_FLOOR} AS accuracy_ok
"""


@register(
    "x_nb_eval",
    oracle=NB_EVAL_ORACLE,
    doc="Naive-Bayes accuracy contract on the held-out split of the "
    "planted-marker corpus: overall accuracy_bp vs the majority-class "
    "baseline (predict the most common train lang everywhere — the "
    "number any classifier must beat), plus the MARKED-RECOVERY rate "
    "— the fraction of held-out docs carrying the planted marker "
    "token that the trained model classifies correctly (measured "
    "10000 bp at every SF: the distributed train/score path "
    "demonstrably learns a feature that is actually there; floor "
    "9800). Overall measured 8596/8684/8581 bp vs 3947/4122/4235 "
    "majority at sf0.001/0.01/0.1 (floor 8000); the unmarked 25% fall "
    "to the corpus's measured no-signal residue, which is exactly why "
    "the plant exists (module doc). The per-doc argmax compares "
    "bitwise-identical doubles in both engines (ordered product fold "
    "+ pinned divisions), so the confusion counts — not just the "
    "floors — hash-match.",
)
def x_nb_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blspark.ext.classify import nb_predictions

    docs = _nb_corpus(spark, sf_dir)
    pred = nb_predictions(docs, n_split=_NB_SPLIT, test_bucket=0)

    train = docs.filter(_nb_bucket() != 0)
    maj = (
        train.groupBy("lang")
        .agg(F.count("*").alias("ndc"))
        .orderBy(F.desc("ndc"), F.asc("lang"))
        .limit(1)
        .select(F.col("lang").alias("mlang"))
    )
    marked = F.col("doc_id") % 4 != 3
    hit = F.col("true_lang") == F.col("pred_lang")
    n_test = pred.agg(F.count("*").cast("int").alias("n_test"))
    n_corr = pred.filter(hit).agg(
        F.count("*").cast("int").alias("n_correct")
    )
    n_maj = pred.join(
        F.broadcast(maj), pred.true_lang == F.col("mlang")
    ).agg(F.count("*").cast("int").alias("n_majority_correct"))
    n_mk = pred.filter(marked).agg(
        F.count("*").cast("int").alias("n_marked")
    )
    n_mk_corr = pred.filter(marked & hit).agg(
        F.count("*").cast("int").alias("n_marked_correct")
    )
    return (
        n_test.crossJoin(n_corr)
        .crossJoin(n_maj)
        .crossJoin(n_mk)
        .crossJoin(n_mk_corr)
        .select(
            "n_test",
            "n_correct",
            F.expr("CAST(n_correct * 10000 div n_test AS BIGINT)").alias(
                "accuracy_bp"
            ),
            "n_majority_correct",
            F.expr(
                "CAST(n_majority_correct * 10000 div n_test AS BIGINT)"
            ).alias("majority_bp"),
            "n_marked",
            "n_marked_correct",
            F.expr(
                "CAST(n_marked_correct * 10000 div n_marked AS BIGINT)"
            ).alias("marked_bp"),
            F.expr(
                "n_marked_correct * 10000 div n_marked"
                f" >= {_NB_MARKED_FLOOR}"
            ).alias("marked_ok"),
            (F.col("n_correct") >= F.col("n_majority_correct")).alias(
                "nb_ge_majority"
            ),
            F.expr(
                f"n_correct * 10000 div n_test >= {_NB_ACC_FLOOR}"
            ).alias("accuracy_ok"),
        )
    )


def _nb_bucket():
    from blspark.ext.dedup import md5_bucket

    return md5_bucket(F.col("doc_id").cast("string"), _NB_SPLIT)


# ---------------------------------------------------------------------------
# x_retrieval_phrase — positional inverted index, exact phrase match
# ---------------------------------------------------------------------------

_PH_K = 5  # docs returned per phrase query

PHRASE_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
q AS (
  SELECT doc_id AS query_id, w[1] AS w1, w[2] AS w2, w[3] AS w3,
         w[1] || ' ' || w[2] || ' ' || w[3] AS phrase
  FROM toks WHERE doc_id >= 10 AND doc_id < 15 AND len(w) >= 3
),
post AS MATERIALIZED (
  SELECT doc_id, CAST(u.pos AS INT) AS pos, u.tok AS tok FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(w) + 1),
                  i -> struct_pack(pos := i, tok := w[i]))) AS u
    FROM toks) t
),
m AS (
  SELECT q.query_id, q.phrase, p1.doc_id
  FROM q
  JOIN post p1 ON p1.tok = q.w1
  JOIN post p2 ON p2.doc_id = p1.doc_id AND p2.pos = p1.pos + 1
              AND p2.tok = q.w2
  JOIN post p3 ON p3.doc_id = p1.doc_id AND p3.pos = p1.pos + 2
              AND p3.tok = q.w3
),
agg AS (
  SELECT query_id, phrase, doc_id, COUNT(*) AS n_matches
  FROM m GROUP BY 1, 2, 3
)
SELECT query_id, phrase, doc_id, n_matches, rank
FROM (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        ORDER BY n_matches DESC, doc_id ASC) AS INT) AS rank
      FROM agg) t
WHERE rank <= {_PH_K}
"""


@register(
    "x_retrieval_phrase",
    oracle=PHRASE_ORACLE,
    doc="Positional inverted index + exact 3-word phrase retrieval — "
    "the adjacency-aware IR shape bag-of-words BM25/TF-IDF cannot "
    "express: postings (doc, pos, token); a phrase (w1 w2 w3) matches "
    "where w2 sits at pos+1 and w3 at pos+2 — the classical "
    "positional-index merge as two self-joins. Five query phrases are "
    "cut deterministically from the corpus (first three tokens of "
    "docs 10-14, the grid's query-id convention); top-5 docs per "
    "phrase by match count, doc_id tie-break. Plan: the 5-row query "
    "table broadcasts into every postings probe (the w1/w2/w3 equality "
    "pushes into the scan as a semi-filter — only postings of the <=15 "
    "query words survive the first join); the positional intersection "
    "shuffles on doc_id only for rows that already matched a term. At "
    "100 TB: postings bucketed by token make each term fetch a "
    "partition-pruned scan, and per-doc position lists turn the "
    "intersection into a merge — same plan shape, bigger index.",
)
def x_retrieval_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.col("text"), " ").alias("w")
    )
    post = docs.select(
        "doc_id", F.posexplode("w").alias("pos", "tok")
    )
    q = (
        docs.filter(
            (F.col("doc_id") >= 10)
            & (F.col("doc_id") < 15)
            & (F.size("w") >= 3)
        )
        .select(
            F.col("doc_id").alias("query_id"),
            F.col("w")[0].alias("w1"),
            F.col("w")[1].alias("w2"),
            F.col("w")[2].alias("w3"),
            F.concat_ws(
                " ", F.col("w")[0], F.col("w")[1], F.col("w")[2]
            ).alias("phrase"),
        )
    )
    p2 = post.select(
        F.col("doc_id").alias("d2"),
        F.col("pos").alias("pos2"),
        F.col("tok").alias("tok2"),
    )
    p3 = post.select(
        F.col("doc_id").alias("d3"),
        F.col("pos").alias("pos3"),
        F.col("tok").alias("tok3"),
    )
    m = (
        post.join(F.broadcast(q), post.tok == q.w1)
        .join(
            p2,
            (F.col("d2") == F.col("doc_id"))
            & (F.col("pos2") == F.col("pos") + 1)
            & (F.col("tok2") == F.col("w2")),
        )
        .join(
            p3,
            (F.col("d3") == F.col("doc_id"))
            & (F.col("pos3") == F.col("pos") + 2)
            & (F.col("tok3") == F.col("w3")),
        )
        .select("query_id", "phrase", "doc_id")
    )
    agg = m.groupBy("query_id", "phrase", "doc_id").agg(
        F.count("*").alias("n_matches")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("n_matches"), F.asc("doc_id")
    )
    return (
        agg.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= _PH_K)
        .select("query_id", "phrase", "doc_id", "n_matches", "rank")
    )


# ---------------------------------------------------------------------------
# x_generate_ngram — greedy bigram-LM synthetic text generation
# ---------------------------------------------------------------------------

_GEN_STEPS = 12  # continuation tokens generated per seed

GENERATE_ORACLE = f"""
WITH RECURSIVE toks AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
bg AS (
  SELECT u.a AS tok, u.b AS nxt FROM (
    SELECT unnest(list_transform(range(1, len(w)),
           i -> struct_pack(a := w[i], b := w[i+1]))) AS u
    FROM toks WHERE len(w) >= 2) t
),
bgc AS (SELECT tok, nxt, COUNT(*) AS c FROM bg GROUP BY 1, 2),
nxt AS MATERIALIZED (
  SELECT tok, nxt AS next_tok FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY tok
        ORDER BY c DESC, nxt ASC) AS rn
    FROM bgc) t
  WHERE rn = 1
),
seeds AS (
  SELECT doc_id AS seed_id, w[1] AS seed FROM toks
  WHERE doc_id >= 10 AND doc_id < 15 AND len(w) >= 1
),
gen(seed_id, step, tok) AS (
  SELECT seed_id, 0, seed FROM seeds
  UNION ALL
  SELECT g.seed_id, g.step + 1, n.next_tok
  FROM gen g JOIN nxt n ON n.tok = g.tok
  WHERE g.step < {_GEN_STEPS}
)
SELECT seed_id, CAST(step AS INT) AS step, tok FROM gen
"""


@register(
    "x_generate_ngram",
    oracle=GENERATE_ORACLE,
    doc="Deterministic synthetic-text generation — greedy decode from "
    "a corpus-fit bigram LM (the synthetic-data stage of a training "
    "pipeline, with argmax decoding standing in for sampling so the "
    "output is a pure function of the corpus): the model is the "
    "argmax next-token per token (count DESC, token ASC — integers "
    "and strings only, no floats anywhere), packed as ONE broadcast "
    "map row; each seed (first token of docs 10-14, the grid's "
    "query-id convention) extends by 12 chained map lookups built as "
    "a per-row expression — element_at into the broadcast map, "
    "appending until the chain hits a token with no continuation "
    "(trailing NULLs filtered = the oracle's recursive join simply "
    "not matching). Cycles are fine: generation is step-bounded. "
    "Scale: the model fit is one bigram count pass + one per-token "
    "argmax; generation is MAP-SIDE per seed — throughput scales "
    "with the number of sequences requested, not the corpus, and a "
    "billion-seed generation job is embarrassingly parallel under "
    "the same broadcast.",
)
def x_generate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.col("text"), " ").alias("w")
    )
    seeds = docs.filter(
        (F.col("doc_id") >= 10) & (F.col("doc_id") < 15) & (F.size("w") >= 1)
    ).select(F.col("doc_id").alias("seed_id"), F.col("w")[0].alias("seed"))
    return generate_greedy(docs, seeds, _GEN_STEPS)


def generate_greedy(docs: DataFrame, seeds: DataFrame, steps: int):
    """Greedy bigram-LM decode: fit the argmax next-token map on
    ``docs`` (doc_id, w token-array), extend each (seed_id, seed) by
    ``steps`` chained lookups, truncating at the first dead-end token
    (one with no outgoing bigram). Returns (seed_id, step, tok)."""
    n_bg = F.greatest(F.size("w") - 1, F.lit(0))
    pairs = docs.filter(F.size("w") >= 2).select(
        F.explode(
            F.zip_with(
                F.slice("w", 1, n_bg),
                F.slice("w", 2, n_bg),
                lambda a, b: F.struct(a.alias("tok"), b.alias("nxt")),
            )
        ).alias("p")
    ).select("p.tok", "p.nxt")
    bgc = pairs.groupBy("tok", "nxt").agg(F.count("*").alias("c"))
    wn = Window.partitionBy("tok").orderBy(F.desc("c"), F.asc("nxt"))
    nxt = (
        bgc.withColumn("rn", F.row_number().over(wn))
        .filter(F.col("rn") == 1)
        .select("tok", F.col("nxt").alias("next_tok"))
    )
    nmap = nxt.agg(
        F.map_from_entries(
            F.collect_list(F.struct("tok", "next_tok"))
        ).alias("nmap")
    )
    gen = seeds.crossJoin(F.broadcast(nmap))
    arr = F.array(F.col("seed"))
    for _ in range(steps):
        arr = F.concat(
            arr,
            F.array(F.element_at(F.col("nmap"), F.element_at(arr, -1))),
        )
    return (
        gen.select(
            "seed_id",
            F.posexplode(
                F.filter(arr, lambda x: x.isNotNull())
            ).alias("step", "tok"),
        )
        .select("seed_id", F.col("step").cast("int").alias("step"), "tok")
    )


# ---------------------------------------------------------------------------
# x_dedup_prefix_incremental — exact incremental dedup join
# ---------------------------------------------------------------------------

PREFIX_INCR_ORACLE = f"""
WITH corpus AS ({CORPUS_SQL}),
{SHINGLES_SQL},
{_SIZES_SQL},
xinter AS (
  SELECT a.id AS id_new, b.id AS id_base, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle
  WHERE a.id % 3 <> 0 AND b.id % 3 = 0
  GROUP BY 1, 2
)
SELECT i.id_new, i.id_base, sa.n AS n_new, sb.n AS n_base, i.n_common,
       i.n_common / (sa.n + sb.n - i.n_common) AS jaccard
FROM xinter i
JOIN sizes sa ON sa.id = i.id_new
JOIN sizes sb ON sb.id = i.id_base
WHERE {_PF_DEN} * i.n_common
        >= {_PF_NUM} * (sa.n + sb.n - i.n_common)
"""


@register(
    "x_dedup_prefix_incremental",
    oracle=PREFIX_INCR_ORACLE,
    doc="Incremental EXACT similarity join — the exact-path counterpart "
    "of x_dedup_incremental_lsh (same base = doc_id%3==0 / new = rest "
    "split over the planted corpus): arriving documents join against "
    "the indexed base via ASYMMETRIC prefix filtering under the "
    "index's FROZEN token order (base-side df; unseen tokens rank "
    "rarest) — the prefix theorem needs only one consistent total "
    "order across both sides, so exactness survives the freeze, and "
    "the corpus never self-pairs. The ORACLE is the brute-force "
    "cross-boundary inverted index, so the differential re-proves "
    "asymmetric losslessness at every SF. At 100 TB the base's "
    "prefixes and df snapshot live in the persisted index (bucketed "
    "by token), each arrival batch probes partition-pruned, and the "
    "df snapshot rebuilds on the refresh cadence as vocabulary "
    "drifts. Both sides are filtered views of one checkpointed "
    "shingle-set frame (the corpus is shingled once per call). "
    "ext/dedup.prefix_filter_pairs_incremental.",
)
def x_dedup_prefix_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blspark.ext.dedup import prefix_filter_pairs_incremental

    sh, ss = _shingled(spark, sf_dir)
    sh_base = sh.filter(F.col("id") % 3 == 0)
    sh_new = sh.filter(F.col("id") % 3 != 0)
    return prefix_filter_pairs_incremental(
        sh_base,
        sh_new,
        _PF_NUM,
        _PF_DEN,
        sets_base=ss.filter(F.col("id") % 3 == 0),
        sets_new=ss.filter(F.col("id") % 3 != 0),
    )


# ---------------------------------------------------------------------------
# x_embed_pca_power — distributed PCA (covariance + power iteration)
# ---------------------------------------------------------------------------

_PCA_DIM = 64
_PCA_ITERS = 8


def _pca_chain_sql() -> str:
    """The PCA oracle CTE chain, mirroring ext/linalg step for step:
    exact integer moments on the 2^-40 grid, pinned covariance
    arithmetic, and a recursive-CTE power iteration whose matvec/norm
    folds run in index order from 0.0 — bitwise-matching ext/linalg's
    driver-side folds."""
    from blspark.catalog import o_d2d

    d = _PCA_DIM
    matvec = (
        "list_transform(cmat.C, row -> list_reduce("
        "list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(range(1, {d + 1}), jj -> row[jj] * it.v[jj])), "
        "(a, b) -> a + b))"
    )
    return f"""vecs AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
comp AS (
  -- exact power-of-two quantization: x * 2^40 never rounds, FLOOR is
  -- unambiguous, the integral double casts to DECIMAL(18,0) exactly
  -- (a double->DECIMAL(18,9) cast rounds differently across engines
  -- on some inputs — the sf0.1 lesson in ext/linalg's module doc);
  -- precision 19 puts DuckDB's multiply on the int128 path (dstd
  -- gotcha: DECIMAL(18) products overflow int64)
  SELECT vec_id, CAST(t.i AS INT) AS i,
         CAST(FLOOR(v[t.i + 1] * CAST(1099511627776 AS DOUBLE))
              AS DECIMAL(19,0)) AS qx
  FROM vecs, range(0, {d}) t(i)
),
sc AS (SELECT CAST(1099511627776 AS DOUBLE) AS s1x,
              CAST(1099511627776 AS DOUBLE)
                * CAST(1099511627776 AS DOUBLE) AS s2x),
mom AS (
  SELECT a.i AS i, b.i AS j, {o_d2d("SUM(a.qx * b.qx)")} AS s
  FROM comp a JOIN comp b ON a.vec_id = b.vec_id AND a.i <= b.i
  GROUP BY 1, 2
),
sums AS (SELECT i, {o_d2d("SUM(qx)")} AS s1 FROM comp GROUP BY i),
nn AS (SELECT COUNT(*) AS n FROM vecs),
upper_ AS (
  SELECT m.i, m.j,
         (m.s / nn.n) / sc.s2x
           - ((si.s1 / nn.n) / sc.s1x) * ((sj.s1 / nn.n) / sc.s1x)
           AS cov
  FROM mom m
  JOIN sums si ON si.i = m.i
  JOIN sums sj ON sj.i = m.j
  CROSS JOIN nn
  CROSS JOIN sc
),
fullm AS (
  SELECT i, j, cov FROM upper_
  UNION ALL
  SELECT j, i, cov FROM upper_ WHERE i <> j
),
crow AS (SELECT i, list(cov ORDER BY j) AS row FROM fullm GROUP BY i),
cmat AS (SELECT list(row ORDER BY i) AS C FROM crow),
it(step, v) AS (
  SELECT 0, list_transform(range(0, {d}), x -> CAST(1.0 AS DOUBLE))
  UNION ALL
  SELECT it.step + 1,
         list_transform({matvec}, x -> x / SQRT(list_reduce(
           list_prepend(CAST(0.0 AS DOUBLE),
             list_transform({matvec}, y -> y * y)), (a, b) -> a + b)))
  FROM it, cmat
  WHERE it.step < {_PCA_ITERS}
),
fin AS (SELECT v FROM it WHERE step = {_PCA_ITERS})"""


PCA_ORACLE = f"""
WITH RECURSIVE {_pca_chain_sql()}
SELECT CAST(t.i AS INT) AS dim, v[t.i + 1] AS loading
FROM fin, range(0, {_PCA_DIM}) t(i)
"""


@register(
    "x_embed_pca_power",
    oracle=PCA_ORACLE,
    bench=True,
    doc="Distributed PCA over the embedding corpus — the whitening / "
    "dominant-direction stage of an embedding pipeline: ONE exact "
    "covariance pass (components quantized to the 2^-40 integer grid; "
    "a per-partition Arrow kernel computes the exact integer Gram "
    "matrix and column sums, and the d(d+1)/2 + d = 2,144 partial "
    "moment rows per map task are the only exchange, INDEPENDENT of "
    "corpus size) whose summed moments the driver collects once; then "
    "8 fixed power-iteration steps in plain Python on the 64x64 "
    "matrix (matvec and norm fold in index order from 0.0, SQRT is "
    "the one correctly-rounded transcendental, so the 64 loadings "
    "hash-compare BITWISE against the oracle's recursive CTE). The "
    "covariance pass is the only Spark work (two jobs); the result is "
    "a one-row Arrow-built local relation. No convergence test by design — a float comparison "
    "would be a hidden determinism hazard; x_pca_eval prices "
    "convergence via the Rayleigh quotient. "
    "ext/linalg.covariance_matrix + power_top_eigen.",
)
def x_embed_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blspark.ext.linalg import covariance_matrix, power_top_eigen

    emb = load_table(spark, sf_dir, "embeddings")
    cov = covariance_matrix(emb, "embedding", _PCA_DIM)
    top = power_top_eigen(cov, _PCA_DIM, _PCA_ITERS)
    return top.select(
        F.posexplode("v").alias("dim", "loading")
    ).select(F.col("dim").cast("int").alias("dim"), "loading")


# Floors pinned AFTER measuring at sf0.001 / sf0.01 / sf0.1:
# var_explained_bp 261/262/195 against the isotropic mean share of
# 10000/64 = 156 bp — the synthetic embeddings are near-isotropic, so
# the top component only modestly exceeds the mean; what the contract
# certifies is structural soundness, not a big spectrum gap: the
# Rayleigh quotient of ANY unit vector is a LOWER bound on the true
# top eigenvalue, so var_explained_bp is a certified lower bound on
# the true top-component share, and the iterate's RQ is monotonically
# non-decreasing over power steps for a PSD matrix. norm_err measured
# ~2-4e-16 (one normalization from exact folds).
_PCA_VAR_FLOOR = 150

PCA_EVAL_ORACLE = f"""
WITH RECURSIVE {_pca_chain_sql()},
ray AS (
  SELECT
    CAST((SELECT n FROM nn) AS INT) AS n_vecs,
    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      list_transform(range(1, {_PCA_DIM + 1}), i -> cmat.C[i][i])),
      (a, b) -> a + b) AS trace,
    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      list_transform(range(1, {_PCA_DIM + 1}), i -> fin.v[i] *
        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          list_transform(range(1, {_PCA_DIM + 1}),
                         jj -> cmat.C[i][jj] * fin.v[jj])),
          (a, b) -> a + b))),
      (a, b) -> a + b) AS eigenvalue,
    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      list_transform(fin.v, y -> y * y)), (a, b) -> a + b) AS vnorm2
  FROM fin, cmat
)
SELECT n_vecs, trace, eigenvalue,
       CAST(FLOOR(eigenvalue * 10000 / trace) AS BIGINT)
         AS var_explained_bp,
       FLOOR(eigenvalue * 10000 / trace) >= {_PCA_VAR_FLOOR} AS var_ok,
       ABS(vnorm2 - CAST(1.0 AS DOUBLE)) < CAST(0.000000001 AS DOUBLE)
         AS norm_ok
FROM ray
"""


@register(
    "x_pca_eval",
    oracle=PCA_EVAL_ORACLE,
    doc="PCA contract row: the power iterate's Rayleigh quotient as a "
    "share of the covariance trace, in basis points — STRUCTURALLY a "
    "certified lower bound on the true top-component share (any unit "
    "vector's RQ lower-bounds the top eigenvalue; power steps never "
    "decrease it on a PSD matrix), so the number is meaningful even "
    "without a convergence test. Measured 261/262/195 bp vs the "
    "10000/64 = 156 bp isotropic mean share (the synthetic embeddings "
    "are near-isotropic by construction; floor 150 below the minimum, "
    "family convention) — on a real embedding corpus with anisotropy "
    "this is the whitening-decision number. norm_ok pins the iterate "
    "at unit length (measured |v.v - 1| ~ 2-4e-16). All values "
    "bitwise cross-engine (trace/eigenvalue/vnorm2 are ordered folds "
    "over the bitwise-pinned matrix and vector). Plan: the contract "
    "row is computed over the one-row local relation that "
    "ext/linalg.power_top_eigen builds on the driver — the Spark "
    "work is the single covariance pass.",
)
def x_pca_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blspark.ext.linalg import covariance_matrix, power_top_eigen

    emb = load_table(spark, sf_dir, "embeddings")
    top = power_top_eigen(
        covariance_matrix(emb, "embedding", _PCA_DIM), _PCA_DIM, _PCA_ITERS
    )
    vnorm2 = F.aggregate(
        F.transform(F.col("v"), lambda y: y * y),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )
    return top.select(
        F.col("n").cast("int").alias("n_vecs"),
        "trace",
        "eigenvalue",
        F.floor(F.col("eigenvalue") * F.lit(10000) / F.col("trace"))
        .cast("bigint")
        .alias("var_explained_bp"),
        (
            F.floor(F.col("eigenvalue") * F.lit(10000) / F.col("trace"))
            >= F.lit(_PCA_VAR_FLOOR)
        ).alias("var_ok"),
        (F.abs(vnorm2 - F.lit(1.0)) < F.lit(1e-9)).alias("norm_ok"),
    )


# ---------------------------------------------------------------------------
# x_embed_pca_project — per-vector projection onto the top component
# ---------------------------------------------------------------------------

PCA_PROJECT_ORACLE = f"""
WITH RECURSIVE {_pca_chain_sql()},
mean_ AS (
  SELECT list(
           (s.s1 / nn.n) / sc.s1x ORDER BY s.i) AS m
  FROM sums s CROSS JOIN nn CROSS JOIN sc
  GROUP BY ALL
)
SELECT v2.vec_id,
       list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         list_transform(range(1, {_PCA_DIM + 1}),
           i -> (v2.v[i] - mean_.m[i]) * fin.v[i])),
         (a, b) -> a + b) AS proj
FROM vecs v2, fin, mean_
"""


@register(
    "x_embed_pca_project",
    oracle=PCA_PROJECT_ORACLE,
    doc="Per-vector projection onto the corpus's top principal "
    "component — the serving half of the PCA stage (rank by |proj| "
    "for dominant-direction analysis, or subtract proj*v for the "
    "common-component-removal postprocessing standard in sentence-"
    "embedding pipelines): proj = (x - mean) . v, with the mean "
    "vector and top eigenvector from the same exact-moment machinery "
    "as x_embed_pca_power, the dot fold pinned in index order from "
    "0.0 — every projection bitwise cross-engine. Plan: the one-row "
    "(mean, v) artifact broadcasts; scoring is MAP-SIDE per vector — "
    "like NB serving and n-gram generation, throughput scales with "
    "the vectors scored, not with anything global. ext/linalg.",
)
def x_embed_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blspark.ext.linalg import covariance_matrix, power_top_eigen

    emb = load_table(spark, sf_dir, "embeddings")
    cov = covariance_matrix(emb, "embedding", _PCA_DIM)
    top = power_top_eigen(cov, _PCA_DIM, _PCA_ITERS).select(
        F.col("v").alias("topv")
    )
    # mean vector from the same exact integer sums (pinned op order)
    from blspark.ext.linalg import mean_vector

    mean = mean_vector(emb, "embedding")
    art = mean.crossJoin(F.broadcast(top))
    vecs = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("x")
    )
    proj = F.aggregate(
        F.zip_with(
            F.zip_with(F.col("x"), F.col("m"), lambda a, b: a - b),
            F.col("topv"),
            lambda a, b: a * b,
        ),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )
    return vecs.crossJoin(F.broadcast(art)).select(
        "vec_id", proj.alias("proj")
    )
