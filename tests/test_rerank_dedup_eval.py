"""Round-16 additions: feature-blend second-stage reranker
(x_retrieval_rerank_blend) and the end-to-end dedup decision contract
(x_dedup_eval). Value parity vs DuckDB is the registered queries'
oracle job; these pin the STRUCTURAL claims the evals' booleans rest
on: the blend formula vs a pure-Python model, blend-top-k containment
in the shortlist with rerank >= each single-signal cut against
brute-force blend truth, pipeline pairs being a subset of exact-truth
pairs, and removal-decision precision being exactly 1 (the
refined-components + argmax-over-superset theorem)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from blspark.queries.extensions15 import _blend_cols, _rescored_pairs


def _emb(spark, rows):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>",
    )


def _fixture(spark, n=40, dim=6):
    rows = [
        (i, [(((i + 3) * 7 + d * 5) % 13) - 6.0 for d in range(dim)])
        for i in range(n)
    ]
    return _emb(spark, rows)


def _feat_frames(spark, n=40):
    """Deterministic token/length features keyed like the embeddings."""
    words = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta"]
    docs = [
        (i, list(dict.fromkeys(words[(i + j) % 7] for j in range(3 + i % 4))),
         50 + (i * 17) % 90)
        for i in range(n)
    ]
    feats = spark.createDataFrame(
        docs, "doc_id long, tok array<string>, n_chars long"
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
    return docs, qfe, nfe


def _py_blend(docs, vecs, qi, ni):
    """Pure-Python model of the blend formula (same op order)."""
    qv, nv = vecs[qi], vecs[ni]
    dot = 0.0
    for a, b in zip(nv, qv):
        dot += a * b
    nn = math.sqrt(sum(x * x for x in nv))
    qn = math.sqrt(sum(x * x for x in qv))
    cos = dot / (nn * qn) if nn * qn > 0 else float("-inf")
    tq, lq = set(docs[qi][1]), docs[qi][2]
    tn, ln = set(docs[ni][1]), docs[ni][2]
    lex = len(tq & tn) / min(len(tq), len(tn))
    lenp = min(lq, ln) / max(lq, ln)
    return ((6 * cos + 3 * lex) + 1 * lenp) / 10


def test_blend_cols_matches_python_model(spark):
    emb = _fixture(spark, n=12)
    docs, qfe, nfe = _feat_frames(spark, n=12)
    vecs = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in emb.collect()
    }
    q = emb.filter(F.col("vec_id") < 2)
    pairs = spark.createDataFrame(
        [(a, b) for a in (0, 1) for b in range(12) if a != b],
        "query_id long, neighbor_id long",
    )
    got = _blend_cols(
        _rescored_pairs(emb, q, pairs)
        .join(qfe, "query_id")
        .join(nfe, "neighbor_id")
    ).collect()
    assert len(got) == 22
    for r in got:
        want = _py_blend(docs, vecs, r["query_id"], r["neighbor_id"])
        assert abs(r["blend"] - want) < 1e-12, (r["query_id"], r["neighbor_id"])


def test_rerank_blend_structural_ge_single_signals(spark):
    """blend-top5 of the shortlist is a subset of the shortlist, and
    its overlap with the brute-force blend truth is >= that of BOTH
    single-signal 5-cuts (prefix rank and exact-cosine rank) — the
    eval's two structural booleans."""
    from blspark.ext.similarity import mrl_prefix_ranked

    emb = _fixture(spark, n=40)
    docs, qfe, nfe = _feat_frames(spark, n=40)
    q = emb.filter(F.col("vec_id") < 3)
    ranked = mrl_prefix_ranked(emb, q, prefix_dim=2)
    short_df = ranked.filter(F.col("prank") <= 10).select(
        "query_id", "neighbor_id"
    )
    short = {(r[0], r[1]) for r in short_df.collect()}
    pref5 = {
        (r["query_id"], r["neighbor_id"])
        for r in ranked.filter(F.col("prank") <= 5).collect()
    }

    def top5_by(pairs_df, col):
        from pyspark.sql import Window

        blended = _blend_cols(
            _rescored_pairs(emb, q, pairs_df)
            .join(qfe, "query_id")
            .join(nfe, "neighbor_id")
        )
        w = Window.partitionBy("query_id").orderBy(
            F.desc(col), F.asc("neighbor_id")
        )
        return {
            (r["query_id"], r["neighbor_id"])
            for r in blended.withColumn("r", F.row_number().over(w))
            .filter(F.col("r") <= 5)
            .collect()
        }

    blend5 = top5_by(short_df, "blend")
    cos5 = top5_by(short_df, "cos_raw")
    all_pairs = spark.createDataFrame(
        [(a, b) for a in (0, 1, 2) for b in range(40) if a != b],
        "query_id long, neighbor_id long",
    )
    truth = top5_by(all_pairs, "blend")
    assert blend5 <= short and cos5 <= short and pref5 <= short
    assert len(blend5 & truth) >= len(pref5 & truth)
    assert len(blend5 & truth) >= len(cos5 & truth)


def _tiny_corpus(spark):
    """Planted near-dup corpus: 3 families of near-identical docs plus
    singletons — small enough to brute-force, dup-y enough that the
    survivor rule does real work."""
    base = [
        "alpha beta gamma delta eps zeta eta theta iota kappa",
        "one two three four five six seven eight nine ten",
        "red green blue cyan magenta yellow black white grey pink",
    ]
    rows = []
    did = 0
    for fam in base:
        for suffix in ("", " extra", " extra token"):
            rows.append((did, fam + suffix))
            did += 1
    for i in range(6):  # singletons, pairwise unrelated
        rows.append((did, f"solo{i} " + " ".join(f"w{i}{j}" for j in range(9))))
        did += 1
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_dedup_eval_pipeline_decisions_subset_of_truth(spark):
    """Pipeline pairs (LSH candidates, exact-verified at the truth
    threshold) are a subset of the exact truth pairs, and the removed
    set under the shared survivor rule is a subset of the truth
    removed set — i.e. both precisions are exactly 1, the structural
    booleans x_dedup_eval pins."""
    from blspark.ext.dedup import (
        connected_components,
        jaccard_pairs,
        lsh_verified_candidates,
        shingle_sets,
        survivor_best,
    )
    from blspark.ext.text import quality_score

    corpus = _tiny_corpus(spark)
    _a, _s, verified = lsh_verified_candidates(corpus, "doc_id", "text")
    ppairs = {
        (r["id_a"], r["id_b"])
        for r in verified.filter(F.col("jaccard") >= 0.6).collect()
    }
    sh = shingle_sets(corpus, "doc_id", "text", n=3).select(
        "id", F.explode("shset").alias("shingle")
    )
    tpairs = {
        (r["id_a"], r["id_b"])
        for r in jaccard_pairs(sh, min_jaccard=0.6).collect()
    }
    assert ppairs and ppairs <= tpairs

    ids = corpus.select("doc_id")
    qual = quality_score(corpus, "doc_id", "text").select(
        F.col("id").alias("node"), "quality"
    )

    def removed(pairs_set):
        pdf = spark.createDataFrame(
            sorted(pairs_set), "id_a long, id_b long"
        )
        comp = connected_components(pdf, ids, id_col="doc_id")
        surv = {
            r["survivor_id"] for r in survivor_best(comp, qual).collect()
        }
        return {r["doc_id"] for r in ids.collect()} - surv

    rem_pipe, rem_truth = removed(ppairs), removed(tpairs)
    assert rem_pipe and rem_pipe <= rem_truth
    # and the dup families actually collapsed: 3 families of 3 keep one
    # survivor each
    assert len(rem_truth) == 6


def test_with_cells_adjacency_equals_cellmap_join(spark):
    """The navigation core's cells-on-edges shape (cells ride the
    edges from construction: the persisted edge-table build) must
    produce EXACTLY the row set of the cell-map shape (the walk's
    undirected id adjacency, then two joins against the node->cell
    map) — the equality the edge-table A/B checked once, pinned as
    CI."""
    from blspark.ext.similarity import (
        _undirect,
        assign_corpus,
        cell_prototypes,
        graph_adjacency,
    )

    emb = _fixture(spark, n=40, dim=6)
    cents = spark.createDataFrame(
        [
            (c, [float((((c + 1) * 11 + d * 3) % 13) - 6.0) for d in range(6)])
            for c in range(3)
        ],
        "cell_id int, centroid array<double>",
    )
    assigned = assign_corpus(emb, cents).localCheckpoint(eager=True)
    protos = cell_prototypes(emb, cents, assigned=assigned).select(
        "cell_id", "prototype_id"
    )
    edges = graph_adjacency(assigned, protos, knn_k=3, m_cross=2)
    new = _undirect(edges).distinct()
    old_adj = _undirect(edges.select("src_id", "dst_id")).distinct()
    cell_map = assigned.select(F.col("aid").alias("nid"), "cell_id")
    old = (
        old_adj.join(
            cell_map.select(
                F.col("nid").alias("cand_id"),
                F.col("cell_id").alias("src_cell"),
            ),
            "cand_id",
        )
        .join(
            cell_map.select(
                F.col("nid").alias("nbr"),
                F.col("cell_id").alias("nbr_cell"),
            ),
            "nbr",
        )
        .select("cand_id", "nbr", "src_cell", "nbr_cell")
    )
    new_rows = sorted(
        tuple(r)
        for r in new.select("cand_id", "nbr", "src_cell", "nbr_cell")
        .collect()
    )
    old_rows = sorted(tuple(r) for r in old.collect())
    assert new_rows == old_rows and len(new_rows) > 0


def test_mixture_temperature_budget_and_flattening(spark, tmp_path):
    """x_mixture_temperature's two defining properties on a skewed
    corpus: the largest-remainder allocation spends EXACTLY the 1000
    budget, and alpha=0.5 FLATTENS the mix — every pair of sources has
    an allocation ratio strictly between 1 and their natural-count
    ratio (sqrt compresses ratios), so small sources are
    over-represented without overtaking large ones."""
    import shutil

    from blspark.catalog import registry

    sf = tmp_path / "sfmix"
    sf.mkdir()
    rows = []
    did = 0
    for src, cnt in (("a", 400), ("b", 100), ("c", 25)):
        for _ in range(cnt):
            rows.append((did, f"w{did} text", "en", src, 10))
            did += 1
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    ).coalesce(1).write.parquet(str(sf / "documents.parquet"))
    out = {
        r["source"]: r
        for r in registry()["x_mixture_temperature"]
        .spark_fn(spark, str(sf))
        .collect()
    }
    assert sum(r["alloc"] for r in out.values()) == 1000
    # flattened: alloc ratio strictly inside (1, natural ratio)
    for hi, lo in (("a", "b"), ("b", "c"), ("a", "c")):
        nat = out[hi]["n_docs"] / out[lo]["n_docs"]
        got = out[hi]["alloc"] / out[lo]["alloc"]
        assert 1.0 < got < nat, (hi, lo, got, nat)
    # quotas capped by source size; here every alloc > n (budget 1000
    # over 525 docs), so n_selected == n_docs for every source
    for r in out.values():
        assert r["n_selected"] == min(r["alloc"], r["n_docs"])
    shutil.rmtree(sf, ignore_errors=True)
