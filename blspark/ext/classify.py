"""Model-based text classification: multinomial Naive Bayes, trained
and served entirely as DataFrame plans — the ladder's first operator
that FITS a model (the fastText-style "train a cheap classifier, score
the corpus" quality/language-filter shape from CCNet/FineWeb-class
pipelines), with no driver-side math and no UDFs.

Determinism contract (the catalog numeric policy): no logs. Class
scores are likelihood RATIOS against a fixed reference class, folded
as an ORDERED product over token positions — the DSIR device
(ext/sampling.dsir_importance). Raw per-class likelihoods of a
100-token document underflow doubles (~1e-2 per token -> ~1e-200);
the ratio per token is O(1), so the product stays in range for any
document whose summed |ln ratio| is under ~709 (the DSIR doc-length
bound — chunk or hash-sample tokens beyond ~2-3k). Every division is
pinned (int->double casts, then one divide), the fold starts at 1.0,
and the prior multiplies once at the end — so the per-(doc, class)
score is bitwise identical across engines and partitionings, and the
argmax (score DESC, class ASC) matches exactly.

Scale shape (100 TB): training is two count passes over exploded train
tokens (map-side partial aggregation; only (token, class) pairs
shuffle, never text). The model is |vocab| x k rows — broadcast under
the autoBroadcast threshold, else a token-keyed shuffle join. Scoring
joins test tokens to the model once and folds per (doc, class); the
k-way token fan-out is fine for small k (languages), and for large k
the documented escape is one ratio-ARRAY per vocab row folded with an
elementwise zip_with product (k doubles per token, no row fan-out).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _nb_split(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    label_col: str,
    n_split: int,
    test_bucket: int,
):
    """(train, test) frames under the shared md5_bucket hash split —
    train membership is a pure function of the id in both engines."""
    from blspark.ext.dedup import md5_bucket

    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(label_col).alias("lang"),
        F.split(F.col(text_col), " ").alias("w"),
        md5_bucket(F.col(id_col).cast("string"), n_split).alias("_bkt"),
    )
    return (
        base.filter(F.col("_bkt") != test_bucket),
        base.filter(F.col("_bkt") == test_bucket),
    )


def _nb_model(train: DataFrame):
    """(classes, model) for a train split: ``classes`` = one row per
    label with the smoothed unseen-token ratio and the prior ratio;
    ``model`` = (tok, lang, ratio) over vocab x labels. Every division
    pinned — see module doc."""
    ttok = train.select("lang", F.explode("w").alias("tok"))
    cnt = ttok.groupBy("tok", "lang").agg(F.count("*").alias("c"))
    tot = ttok.groupBy("lang").agg(F.count("*").alias("tc"))
    vocab = ttok.select("tok").distinct()
    vn = vocab.agg(F.count("*").alias("v"))
    nd = train.groupBy("lang").agg(F.count("*").alias("ndc"))
    refl = train.agg(F.min("lang").alias("rl"))
    refs = (
        tot.join(F.broadcast(refl), F.col("lang") == F.col("rl"))
        .join(nd.select(F.col("lang").alias("_l"), "ndc"),
              F.col("lang") == F.col("_l"))
        .select(F.col("tc").alias("rtc"), F.col("ndc").alias("rnd"))
    )
    # per-class constants: smoothed unseen-token ratio (computed with
    # the SAME division sequence as the model formula at c = 0, so an
    # out-of-vocab token and a vocab token unseen in class c can never
    # diverge by op order) and the prior ratio
    unseen = (
        F.lit(1).cast("double") / (F.col("tc") + F.col("v")).cast("double")
    ) / (
        F.lit(1).cast("double") / (F.col("rtc") + F.col("v")).cast("double")
    )
    classes = (
        tot.join(nd, "lang")
        .crossJoin(F.broadcast(refs))
        .crossJoin(F.broadcast(vn))
        .select(
            "lang",
            "tc",
            "rtc",
            "v",
            unseen.alias("unseen"),
            (F.col("ndc").cast("double") / F.col("rnd").cast("double"))
            .alias("prior_ratio"),
        )
    )
    cref = cnt.join(F.broadcast(refl), F.col("lang") == F.col("rl")).select(
        "tok", F.col("c").alias("cr")
    )
    ratio = (
        (F.coalesce(F.col("c"), F.lit(0)) + 1).cast("double")
        / (F.col("tc") + F.col("v")).cast("double")
    ) / (
        (F.coalesce(F.col("cr"), F.lit(0)) + 1).cast("double")
        / (F.col("rtc") + F.col("v")).cast("double")
    )
    model = (
        vocab.crossJoin(classes.select("lang", "tc", "rtc", "v"))
        .join(cnt, ["tok", "lang"], "left")
        .join(cref, "tok", "left")
        .select("tok", "lang", ratio.alias("ratio"))
    )
    return classes, model


def nb_predictions(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    label_col: str = "lang",
    n_split: int = 5,
    test_bucket: int = 0,
) -> DataFrame:
    """Fit multinomial NB (Laplace-smoothed) on the md5-hash train
    split and predict the held-out split. Returns (doc_id, true_lang,
    pred_lang) for every held-out document.

    Split: md5_bucket(id) % n_split == test_bucket is held out.
    Reference class = MIN(label) over train (deterministic); the
    priors enter through one exact double ratio n_c/n_ref."""
    train, test = _nb_split(
        docs, id_col, text_col, label_col, n_split, test_bucket
    )
    # Score through the packed-model MAP-SIDE path (optimization r16):
    # the old shape k-fanned every test token through a (tok, cls)
    # shuffle join against the vocab x k model and re-aggregated with
    # a collect_list + sort per (doc, class) — three exchanges of
    # |test tokens| x k rows. The arrays model performs the exact
    # multiply sequence per label (zip_with fold in token position
    # order from the same 1.0 init, priors applied once at the end)
    # and its argmax (first index of the max over ascending labels)
    # equals the (score DESC, class ASC) row_number — scores are
    # BITWISE identical (pinned by tests/test_prefix_nb_phrase's
    # batch/serving parity test and the unchanged DuckDB oracle), so
    # predictions are unchanged while scoring becomes one broadcast
    # join + per-row expressions: zero shuffles after the two count
    # passes. At broadcast-hostile vocab sizes the documented escape
    # (module doc) remains the token-keyed shuffle join.
    return nb_score_mapside(
        test.select("doc_id", "lang", "w"), _nb_model_row(train)
    )


def nb_model_arrays(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    label_col: str = "lang",
    n_split: int = 5,
    test_bucket: int = 0,
) -> DataFrame:
    """The NB model packed for MAP-SIDE serving: ONE row with
    ``langs`` (labels, sorted ascending), ``priors`` / ``unseens``
    (per-label doubles in that order) and ``tokmap``
    (map<token, array<double>> of per-label ratios in the same
    order) — the documented "large k" shape (one ratio array per
    vocab row, no per-class row fan-out) and the streaming-serving
    shape: broadcast-joined under a constant key, scoring becomes a
    pure per-row expression with NO aggregation, so a stream scores
    in append mode with no state store."""
    train, _test = _nb_split(
        docs, id_col, text_col, label_col, n_split, test_bucket
    )
    return _nb_model_row(train)


def _nb_model_row(train: DataFrame) -> DataFrame:
    """One packed (langs, priors, unseens, tokmap) row from a train
    split — shared by ``nb_model_arrays`` (the streaming-serving
    export) and ``nb_predictions`` (batch scoring, r16) so the two
    consumers can never diverge on the model layout."""
    classes, model = _nb_model(train)
    carr = classes.agg(
        F.array_sort(
            F.collect_list(F.struct("lang", "prior_ratio", "unseen"))
        ).alias("_c")
    ).select(
        F.transform("_c", lambda s: s["lang"]).alias("langs"),
        F.transform("_c", lambda s: s["prior_ratio"]).alias("priors"),
        F.transform("_c", lambda s: s["unseen"]).alias("unseens"),
    )
    tmap = (
        model.groupBy("tok")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("lang", "ratio"))),
                lambda s: s["ratio"],
            ).alias("rarr")
        )
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("tok", "rarr"))
            ).alias("tokmap")
        )
    )
    return carr.crossJoin(tmap)


def nb_score_mapside(docs: DataFrame, model_row: DataFrame) -> DataFrame:
    """Score (doc_id, lang, w) rows against an ``nb_model_arrays`` row
    joined in under a constant key (stream-static inner equi-join —
    broadcastable, legal on a streaming left side). Per row: look each
    token up in the map (missing -> the unseen array), fold the ratio
    arrays elementwise with zip_with multiply from a 1.0 array, then
    multiply by the priors — PER LABEL this performs the exact multiply
    sequence of ``nb_predictions``'s per-(doc, class) fold, so scores
    are bitwise identical; the argmax (first index of the max, labels
    pre-sorted ascending) matches its (score DESC, class ASC)
    row_number. Returns (doc_id, true_lang, pred_lang)."""
    # degenerate-doc guard (ADVICE r16, unreachable on real corpora —
    # split() never yields a null/empty token array for non-null
    # text): the pre-r16 posexplode path silently DROPPED docs whose
    # token array was null or empty; the fold would instead emit them
    # with a prior-only (null-w: null) prediction. Pin the original
    # drop semantics so the map-side path cannot widen the contract.
    docs = docs.filter(F.col("w").isNotNull() & (F.size("w") > 0))
    joined = docs.withColumn("_k", F.lit(1)).join(
        F.broadcast(model_row.withColumn("_k", F.lit(1))), "_k"
    )
    rs = F.transform(
        "w",
        lambda t: F.coalesce(
            F.element_at(F.col("tokmap"), t), F.col("unseens")
        ),
    )
    init = F.transform(
        F.col("langs"), lambda _: F.lit(1.0).cast("double")
    )
    folded = F.aggregate(
        rs, init, lambda acc, x: F.zip_with(acc, x, lambda a, b: a * b)
    )
    scores = F.zip_with(folded, F.col("priors"), lambda a, b: a * b)
    return joined.select(
        "doc_id",
        F.col("lang").alias("true_lang"),
        # greatest(1, ...): should array_position ever return 0 (the
        # max not found under whatever equality applies, e.g. on an
        # all-NaN or all-null score array), element_at(langs, 0)
        # would abort under ANSI — index 1 picks the LOWEST label,
        # exactly what the old (score DESC, lang ASC) row_number
        # resolved NaN-first ties to (ADVICE r16; unreachable: ratios
        # are finite positive doubles).
        F.element_at(
            F.col("langs"),
            F.greatest(
                F.lit(1),
                F.array_position(scores, F.array_max(scores)).cast("int"),
            ),
        ).alias("pred_lang"),
    )
