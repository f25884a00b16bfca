"""Degenerate-input behavior: the dedup/similarity/text operator
library must return empty (not crash) on empty corpora, handle
single-document inputs, and tolerate documents shorter than the shingle
width — the boundary conditions a 100 TB run WILL hit in some partition
or some tenant's slice."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

DOCS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
    ]
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, DOCS_SCHEMA)


def test_empty_corpus_all_dedup_ops(spark):
    from blspark.ext.dedup import (
        exact_dedup_keys,
        jaccard_pairs,
        lsh_candidate_pairs,
        minhash_signatures,
        simhash16,
        word_shingles,
    )

    empty = _docs(spark, [])
    assert exact_dedup_keys(empty, "doc_id", "text").count() == 0
    sh = word_shingles(empty, "doc_id", "text", n=3)
    assert sh.count() == 0
    assert jaccard_pairs(sh).count() == 0
    sig = minhash_signatures(sh, n_hashes=8)
    assert sig.count() == 0
    assert lsh_candidate_pairs(sig, n_hashes=8, bands=2).count() == 0
    assert simhash16(empty, "doc_id", "text").count() == 0


def test_single_and_short_documents(spark):
    from blspark.ext.dedup import exact_dedup_keys, jaccard_pairs, word_shingles

    docs = _docs(
        spark,
        [
            (1, "only one document here for the test"),
            (2, "tiny"),  # shorter than the 3-token shingle width
            (3, "two words"),
        ],
    )
    # short docs drop out of shingling but never crash it
    sh = word_shingles(docs, "doc_id", "text", n=3)
    assert sorted(r["id"] for r in sh.select("id").distinct().collect()) == [1]
    # no pair exists -> empty, not an error
    assert jaccard_pairs(sh).count() == 0
    # exact dedup still sees all three
    assert exact_dedup_keys(docs, "doc_id", "text").count() == 3


def test_empty_corpus_similarity(spark):
    from blspark.ext.similarity import cosine_topk

    schema = "vec_id long, embedding array<float>"
    empty = spark.createDataFrame([], schema)
    assert cosine_topk(empty, empty, id_col="vec_id", vec_col="embedding").count() == 0

    one = spark.createDataFrame([(1, [1.0, 0.0]), (2, [0.0, 1.0])], schema)
    out = cosine_topk(one, one.filter(F.col("vec_id") == 1), k=5)
    rows = out.collect()
    assert len(rows) == 1 and rows[0]["neighbor_id"] == 2

    # an empty corpus yields zero neighbors, not an error, through
    # every rung of the search family under ANSI mode
    from blspark.ext import similarity as S
    from blspark.ext.binaryq import binary_topk, ivf_binary_topk

    vec_schema = "vec_id long, vec array<double>"
    corpus = spark.createDataFrame([], vec_schema)
    queries = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.5, 0.5]), (2, [0.0, 1.0, 0.5, 0.0])], vec_schema
    )
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])],
        "cell_id int, centroid array<double>",
    )
    planes = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]
    rungs = {
        "cosine_topk": lambda: S.cosine_topk(corpus, queries, vec_col="vec"),
        "ivf_topk": lambda: S.ivf_topk(
            corpus, queries, cents, vec_col="vec", nprobe=2
        ),
        "sq8_topk": lambda: S.sq8_topk(corpus, queries),
        "ivf_sq8_topk": lambda: S.ivf_sq8_topk(corpus, queries, cents, nprobe=2),
        "mrl_topk": lambda: S.mrl_topk(corpus, queries, 2, vec_col="vec"),
        "binary_topk": lambda: binary_topk(corpus, queries, 4),
        "ivf_binary_topk": lambda: ivf_binary_topk(corpus, queries, cents, 4),
        "hyperplane_lsh_topk": lambda: S.hyperplane_lsh_topk(
            corpus, queries, planes, vec_col="vec"
        ),
        "maxsim_topk": lambda: S.maxsim_topk(corpus, queries, 2, 2),
    }
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        got = {name: run().collect() for name, run in rungs.items()}
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    assert got == {name: [] for name in rungs}


@pytest.mark.parametrize(
    "op",
    [
        "hyperplane_lsh_topk",
        "pq_rerank_topk",
        "cosine_topk",
        "ivf_topk",
        "ivf_adaptive_topk",
        "mrl_topk",
    ],
)
def test_zero_vector_scores_neg_inf_under_ansi(spark, op):
    """A zero vector has no direction: under ANSI mode (Spark 4's
    default) the cosine rerank must not abort with DIVIDE_BY_ZERO, and
    every pair it is part of scores -inf and ranks after every finite
    pair (the family's zero-norm guard). The IVF rungs probe every
    cell, so the zero vector is paired with every query."""
    from blspark.ext.similarity import (
        cosine_topk,
        hyperplane_lsh_topk,
        ivf_adaptive_topk,
        ivf_topk,
        mrl_topk,
        pq_encode,
        pq_rerank_topk,
        pq_train_codebooks,
    )

    vecs = spark.createDataFrame(
        [(0, [0.0, 0.0, 0.0, 0.0]), (1, [1.0, 1.0, 0.5, 0.5]),
         (2, [2.0, 1.0, 1.0, 0.5])],
        "vec_id long, vec array<double>",
    )
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])],
        "cell_id int, centroid array<double>",
    )
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        if op == "hyperplane_lsh_topk":
            # every vector (the zero one included) lands in bucket 3
            out = hyperplane_lsh_topk(
                vecs, vecs, [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]],
                vec_col="vec", k=3,
            )
        elif op == "pq_rerank_topk":
            cb = pq_train_codebooks(vecs, 2, 2, 2)
            codes = pq_encode(vecs, cb, 2, 2)
            out = pq_rerank_topk(vecs, codes, vecs, cb, 2, 2, k=3, shortlist=3)
        elif op == "cosine_topk":
            out = cosine_topk(vecs, vecs, vec_col="vec", k=3)
        elif op == "ivf_topk":
            out = ivf_topk(vecs, vecs, cents, vec_col="vec", k=3, nprobe=2)
        elif op == "ivf_adaptive_topk":
            out = ivf_adaptive_topk(
                vecs, vecs, cents, vec_col="vec", k=3, probe_lo=2, probe_hi=2
            )
        else:
            out = mrl_topk(vecs, vecs, 2, k=3, shortlist=3, vec_col="vec")
        rows = out.collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    assert len(rows) == 6
    by_query: dict[int, list] = {}
    for r in rows:
        by_query.setdefault(r["query_id"], []).append(r)
        if 0 in (r["query_id"], r["neighbor_id"]):
            assert r["cosine"] == float("-inf"), r
        else:
            assert 0.0 < r["cosine"] <= 1.0, r
    for q in (1, 2):
        ranked = sorted(by_query[q], key=lambda r: r["rank"])
        assert [r["neighbor_id"] for r in ranked][-1] == 0, ranked
    assert sorted(r["rank"] for r in by_query[0]) == [1, 2]


def _write_embeddings(path, vecs: dict) -> None:
    """An ``embeddings.parquet`` under ``path``: one row per
    ``vec_id: vector``, every row in label 0."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table({
            "vec_id": pa.array(list(vecs), pa.int64()),
            "embedding": pa.array(list(vecs.values()), pa.list_(pa.float32())),
            "label": pa.array([0] * len(vecs), pa.int32()),
        }),
        str(path / "embeddings.parquet"),
    )


def _collect_under_ansi(spark, name, sf_dir):
    from blspark.catalog import registry

    from tests.conftest import session_conf

    with session_conf(spark, {"spark.sql.ansi.enabled": "true"}):
        return registry()[name].spark_fn(spark, str(sf_dir)).collect()


def _cosine(a, b):
    import math

    return sum(x * y for x, y in zip(a, b)) / math.sqrt(
        sum(x * x for x in a) * sum(y * y for y in b)
    )


def test_dedup_embedding_cosine_zero_vector_under_ansi(spark, tmp_path):
    """x_dedup_embedding_cosine scores through the shared zero-norm
    guard: under ANSI mode an unguarded ``dot / (na * nb)`` aborts with
    DIVIDE_BY_ZERO on a zero vector. Its pairs score -inf, and the
    >= 0.5 filter drops them as it drops the null that the division
    gives with ANSI off."""
    import math

    vecs = {0: [0.0, 0.0, 0.0, 0.0], 1: [1.0, 1.0, 0.5, 0.5],
            2: [2.0, 1.0, 1.0, 0.5], 3: [-1.0, 0.0, 0.0, 0.0]}
    _write_embeddings(tmp_path, vecs)
    rows = _collect_under_ansi(spark, "x_dedup_embedding_cosine", tmp_path)
    assert [(r["id_a"], r["id_b"]) for r in rows] == [(1, 2)]
    assert math.isclose(rows[0]["cosine"], _cosine(vecs[1], vecs[2]), rel_tol=1e-12)


def test_dedup_semantic_zero_vector_under_ansi(spark, tmp_path):
    """x_dedup_semantic's >= 0.9 pair filter scores through the shared
    zero-norm guard: under ANSI mode a zero vector does not abort the
    query with DIVIDE_BY_ZERO, it pairs with nothing and stays its own
    survivor. The planted copy (id + 10000) of vector 5 still joins
    vector 5's component."""
    _write_embeddings(tmp_path, {
        0: [0.0, 0.0, 0.0, 0.0], 5: [1.0, 1.0, 0.5, 0.5],
        7: [-1.0, 0.0, 0.0, 0.0],
    })
    rows = _collect_under_ansi(spark, "x_dedup_semantic", tmp_path)
    assert sorted(tuple(r) for r in rows) == [
        (0, 0, True), (5, 5, True), (7, 7, True),
        (10000, 10000, True), (10005, 5, False),
    ]


def test_retrieval_hybrid_zero_vector_under_ansi(spark, tmp_path):
    """x_retrieval_hybrid reranks its lexical candidates through the
    shared zero-norm guard: under ANSI mode a candidate with a zero
    embedding does not abort the query with DIVIDE_BY_ZERO, it scores
    -inf and ranks after every finite candidate."""
    import math

    spark.createDataFrame(
        [(1, "red green blue yellow"), (6, "red green blue black"),
         (8, "red green blue white")],
        DOCS_SCHEMA,
    ).coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))
    vecs = {1: [1.0, 1.0, 0.5, 0.5], 6: [0.0, 0.0, 0.0, 0.0],
            8: [2.0, 1.0, 1.0, 0.5]}
    _write_embeddings(tmp_path, vecs)
    rows = _collect_under_ansi(spark, "x_retrieval_hybrid", tmp_path)
    got = sorted((r["rank"], r["query_id"], r["neighbor_id"], r["cosine"]) for r in rows)
    assert [g[:3] for g in got] == [(1, 1, 8), (2, 1, 6)]
    assert math.isclose(got[0][3], round(_cosine(vecs[1], vecs[8]), 6), rel_tol=1e-12)
    assert got[1][3] == float("-inf")


def test_mmr_rerank_zero_vector_under_ansi(spark, tmp_path):
    """x_mmr_rerank scores relevance through the shared zero-norm guard
    and guards its pairwise similarity to 0: under ANSI mode a zero
    candidate does not abort the query with DIVIDE_BY_ZERO, its
    relevance is -inf and it is picked last by every query, and the
    finite picks keep their exact cosine relevance."""
    import math

    vecs = {0: [1.0, 0.0, 0.0, 0.0], 1: [0.0, 1.0, 0.0, 0.0],
            2: [1.0, 1.0, 0.0, 0.0], 3: [0.0, 0.0, 0.0, 0.0],
            4: [1.0, 0.5, 0.0, 0.0], 5: [0.0, 0.0, 1.0, 0.5]}
    _write_embeddings(tmp_path, vecs)
    rows = _collect_under_ansi(spark, "x_mmr_rerank", tmp_path)
    by_query = {}
    for r in rows:
        by_query.setdefault(r["query_id"], []).append(r)
    assert sorted(by_query) == [0, 1, 2]
    for q, picks in by_query.items():
        picks.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in picks] == [1, 2, 3, 4, 5]
        assert picks[-1]["vec_id"] == 3, picks
        assert picks[-1]["relevance"] == float("-inf")
        assert picks[-1]["mmr_score"] == float("-inf")
        for r in picks[:-1]:
            assert math.isclose(
                r["relevance"], round(_cosine(vecs[q], vecs[r["vec_id"]]), 6),
                rel_tol=1e-12,
            ), r
            assert math.isfinite(r["mmr_score"]), r


def test_empty_corpus_text_ops(spark):
    from blspark.ext.text import fingerprint, lang_id, quality_score, token_stats

    empty = _docs(spark, [])
    for fn in (token_stats, quality_score, lang_id, fingerprint):
        assert fn(empty, "doc_id", "text").count() == 0


# --- round-4 second-session operators --------------------------------------


def test_bpe_empty_corpus_no_crash(spark, tmp_path):
    """A corpus with no [a-z]+ words yields an empty vocabulary (the
    empty-pair-table break path), not a crash."""
    import shutil

    from blspark.catalog import registry

    sf = tmp_path / "sf"
    sf.mkdir()
    spark.createDataFrame(
        [(0, "123 456 789", "en", "s", 11)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.parquet(str(sf / "documents.parquet"))
    out = registry()["x_tokenizer_bpe"].spark_fn(spark, str(sf)).collect()
    assert out == []
    shutil.rmtree(sf, ignore_errors=True)


def test_zorder_key_masks_high_bits(spark):
    """Inputs beyond 16 bits are masked (documented contract), so the
    key of x and x + 65536 is identical."""
    from pyspark.sql import functions as F

    from blspark.ext.layout import zorder_key

    df = spark.createDataFrame(
        [(5, 9), (5 + 65536, 9), (5, 9 + 65536)], "x long, y long"
    )
    keys = [r.z for r in df.select(zorder_key("x", "y").alias("z")).collect()]
    assert keys[0] == keys[1] == keys[2]


def test_survivor_best_all_singletons(spark):
    """No edges: every node is its own component and its own survivor."""
    from blspark.ext.dedup import connected_components, survivor_best

    nodes = spark.createDataFrame([(i,) for i in range(5)], "id long")
    edges = spark.createDataFrame([], "id_a long, id_b long")
    comp = connected_components(edges, nodes, id_col="id")
    q = spark.createDataFrame(
        [(i, 0.5) for i in range(5)], "node long, quality double"
    )
    out = {r.component: r for r in survivor_best(comp, q).collect()}
    assert set(out) == set(range(5))
    for c, r in out.items():
        assert r.survivor_id == c and r.n_members == 1


def test_mad_outliers_constant_group_emits_nothing(spark, tmp_path):
    """A constant-valued group has MAD 0; with strict >, nothing is
    flagged (and no division is involved, unlike z-scores)."""
    import shutil

    from blspark.catalog import registry

    sf = tmp_path / "sf"
    sf.mkdir()
    rows = [(i, None, 1, "t", 7.0, "{}") for i in range(50)]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).coalesce(1).write.parquet(str(sf / "events.parquet"))
    out = registry()["x_mad_outliers"].spark_fn(spark, str(sf)).collect()
    assert out == []
    shutil.rmtree(sf, ignore_errors=True)


def test_local_relation_is_jvm_local_and_preserves_nan_null(spark):
    """ops.local_relation must (a) rebuild clean metadata frames as a
    true JVM LocalTableScan (no Python-RDD re-entry per action — the
    round-11 5x finding) and (b) route frames whose top-level float
    columns carry NaN/NULL to the semantics-preserving RDD path,
    because pandas cannot distinguish the two (Arrow would turn NaN
    into NULL, and the no-Arrow path NULL into NaN)."""
    import math

    from blspark.ops import local_relation

    clean = spark.createDataFrame(
        [(1, [1.0, 2.0]), (0, [0.5, -1.0])], "id int, v array<double>"
    )
    out = local_relation(clean, "id int, v array<double>")
    assert "LocalTableScan" in (
        out._jdf.queryExecution().executedPlan().toString()
    )
    assert [tuple(r) for r in out.collect()] == [
        (0, [0.5, -1.0]),
        (1, [1.0, 2.0]),
    ]

    hazard = spark.createDataFrame(
        [(1, float("nan")), (2, None), (3, 1.5)], "id int, x double"
    )
    got = {
        r["id"]: r["x"]
        for r in local_relation(hazard, "id int, x double").collect()
    }
    assert math.isnan(got[1])
    assert got[2] is None
    assert got[3] == 1.5


def test_local_relation_rejects_corpus_sized_input(spark):
    """ops.local_relation is for metadata-sized frames only; the
    max_rows guard must fail fast on an oversized input (collecting at
    most max_rows + 1 rows, never the whole frame) instead of pulling
    a corpus onto the driver (r15 verdict item: the helper previously
    collected unconditionally)."""
    import pytest

    from blspark.ops import local_relation

    big = spark.range(0, 100).selectExpr("id", "cast(id as double) as x")
    with pytest.raises(ValueError, match="max_rows"):
        local_relation(big, "id bigint, x double", max_rows=10)
    # at exactly the bound it still works
    ok = local_relation(
        big.limit(10), "id bigint, x double", max_rows=10
    )
    assert ok.count() == 10
