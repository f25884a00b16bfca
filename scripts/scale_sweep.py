#!/usr/bin/env python
"""Scale-sweep harness: runs selected operators against synthetically
amplified inputs (N x documents / events via per-row replication with
re-keyed ids) and reports wall time per scale, to verify work grows
~linearly and no plan flips into a quadratic or single-task shape as
input grows. Results are recorded in SCALE.md; this script is evidence
tooling, not CI (it deliberately burns minutes).

Usage: python scripts/scale_sweep.py [factors...]   (default: 1 2 4)

Amplification happens in-memory (explode over a sequence), so nothing
is written anywhere; doc/vec ids are offset per replica to keep key
cardinality growing with scale — the hard case for joins/windows.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, functions as F  # noqa: E402

from blspark.session import get_spark  # noqa: E402
from blspark.catalog import load_table  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def amplify(
    df: DataFrame,
    id_col: str,
    factor: int,
    id_stride: int,
    text_col: str | None = None,
) -> DataFrame:
    """factor copies of every row, ids offset per replica (distinct keys).
    With ``text_col``, each replica's text gets a distinct suffix token so
    dedup-family operators don't see replicas as planted duplicates (which
    would grow the *output* quadratically and measure data semantics, not
    plan scaling)."""
    if factor == 1:
        return df
    rep = F.explode(F.sequence(F.lit(0), F.lit(factor - 1))).alias("_rep")
    out = df.select("*", rep).withColumn(
        id_col, F.col(id_col) + F.col("_rep").cast("long") * id_stride
    )
    if text_col is not None:
        out = out.withColumn(
            text_col,
            F.concat(
                F.col(text_col), F.lit(" replica"), F.col("_rep").cast("string")
            ),
        )
    return out.drop("_rep")


def bench_minhash(spark, factor: int) -> float:
    from blspark.ext.dedup import (
        _explode,
        _set_verify,
        lsh_candidate_pairs,
        minhash_signatures,
        shingle_sets,
    )

    docs = amplify(
        load_table(spark, SF_DIR, "documents").select("doc_id", "text"),
        "doc_id",
        factor,
        1_000_000,
        text_col="text",
    )
    t0 = time.perf_counter()
    arrs = shingle_sets(docs, "doc_id", "text", n=3).persist()
    sig = minhash_signatures(_explode(arrs), n_hashes=8)
    cand = lsh_candidate_pairs(sig, n_hashes=8, bands=2)
    n_common = F.col("n_common")
    jac = n_common / (F.size("sha") + F.size("shb") - n_common)
    n = _set_verify(cand, arrs, arrs).filter(jac >= 0.5).count()
    dt = time.perf_counter() - t0
    arrs.unpersist()
    print(f"  minhash x{factor}: {dt:.2f}s ({n} pairs)", flush=True)
    return dt


def bench_exact_dedup(spark, factor: int) -> float:
    from blspark.ext.dedup import exact_dedup_keys

    docs = amplify(
        load_table(spark, SF_DIR, "documents").select("doc_id", "text"),
        "doc_id",
        factor,
        1_000_000,
    )
    t0 = time.perf_counter()
    n = exact_dedup_keys(docs, "doc_id", "text").count()
    dt = time.perf_counter() - t0
    print(f"  exact_dedup x{factor}: {dt:.2f}s ({n} groups)", flush=True)
    return dt


def bench_sessionize(spark, factor: int) -> float:
    from pyspark.sql import Window

    ev = amplify(
        load_table(spark, SF_DIR, "events").select("event_id", "user_id", "ts"),
        "user_id",
        factor,
        1_000_000,
    )
    t0 = time.perf_counter()
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gap = F.col("ts").cast("double") - F.lag(F.col("ts").cast("double")).over(w)
    n = (
        ev.withColumn(
            "new_session",
            F.when(gap.isNull() | (gap > 1800.0), F.lit(1)).otherwise(F.lit(0)),
        )
        .withColumn("session_id", F.sum("new_session").over(wrun))
        .groupBy("user_id")
        .agg(F.countDistinct("session_id").alias("n_sessions"))
        .count()
    )
    dt = time.perf_counter() - t0
    print(f"  sessionize x{factor}: {dt:.2f}s ({n} users)", flush=True)
    return dt


def bench_cosine(spark, factor: int) -> float:
    from blspark.ext.similarity import cosine_topk

    emb = amplify(
        load_table(spark, SF_DIR, "embeddings"), "vec_id", factor, 10_000_000
    )
    queries = emb.filter(F.col("vec_id") < 5)
    t0 = time.perf_counter()
    n = cosine_topk(emb, queries, id_col="vec_id", vec_col="embedding", k=5).count()
    dt = time.perf_counter() - t0
    print(f"  cosine_topk x{factor}: {dt:.2f}s ({n} rows)", flush=True)
    return dt


def bench_simhash_hamming(spark, factor: int) -> float:
    from blspark.ext.dedup import simhash64, simhash_hamming_pairs

    docs = amplify(
        load_table(spark, SF_DIR, "documents").select("doc_id", "text"),
        "doc_id",
        factor,
        1_000_000,
        text_col="text",
    )
    t0 = time.perf_counter()
    fp = simhash64(docs, "doc_id", "text")
    n = simhash_hamming_pairs(fp, max_hamming=3).count()
    dt = time.perf_counter() - t0
    print(f"  simhash_hamming x{factor}: {dt:.2f}s ({n} pairs)", flush=True)
    return dt


def bench_span_fraction(spark, factor: int) -> float:
    from blspark.ext.dedup import duplicated_span_fraction, positional_ngrams

    docs = amplify(
        load_table(spark, SF_DIR, "documents").select("doc_id", "text"),
        "doc_id",
        factor,
        1_000_000,
        text_col="text",
    )
    t0 = time.perf_counter()
    grams = positional_ngrams(docs, "doc_id", "text", n=8)
    n = duplicated_span_fraction(grams).count()
    dt = time.perf_counter() - t0
    print(f"  span_fraction x{factor}: {dt:.2f}s ({n} docs)", flush=True)
    return dt


def bench_components_star(spark, factor: int) -> float:
    """Chain graph growing with factor — the adversarial-diameter case
    star contraction exists for (label propagation would scale rounds
    with n)."""
    from blspark.ext.dedup import connected_components

    n_nodes = 4096 * factor
    nodes = spark.range(n_nodes).select(F.col("id"))
    edges = spark.range(n_nodes - 1).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    ).repartition(32)
    t0 = time.perf_counter()
    comps = (
        connected_components(edges, nodes)
        .agg(F.countDistinct("component").alias("n"))
        .collect()[0]["n"]
    )
    dt = time.perf_counter() - t0
    print(f"  components_star x{factor}: {dt:.2f}s ({comps} comps)", flush=True)
    return dt



def bench_lm_bigram(spark, factor: int) -> float:
    docs = amplify(
        load_table(spark, SF_DIR, "documents").select("doc_id", "text"),
        "doc_id",
        factor,
        1_000_000,
        text_col="text",
    )
    from blspark.queries.extensions4 import _bigrams

    t0 = time.perf_counter()
    bg = _bigrams(docs)
    cnt = bg.groupBy("b").agg(F.count("*").alias("c"))
    n = (
        bg.join(cnt, "b")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n"), F.sum("c").alias("s"))
        .count()
    )
    dt = time.perf_counter() - t0
    print(f"  lm_bigram x{factor}: {dt:.2f}s ({n} docs)", flush=True)
    return dt


def bench_cooccurrence(spark, factor: int) -> float:
    docs = amplify(
        load_table(spark, SF_DIR, "documents").select("doc_id", "text"),
        "doc_id",
        factor,
        1_000_000,
        text_col="text",
    )
    t0 = time.perf_counter()
    d = docs.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("tok")
    )
    a, b = d.alias("a"), d.alias("b")
    n = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("a.tok") < F.col("b.tok")),
        )
        .groupBy(F.col("a.tok"), F.col("b.tok"))
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") >= 10)
        .count()
    )
    dt = time.perf_counter() - t0
    print(f"  cooccurrence x{factor}: {dt:.2f}s ({n} pairs)", flush=True)
    return dt


def bench_entity_resolution(spark, factor: int) -> float:
    """Record count grows with factor; the NAME domain stays fixed —
    the attribute-level-resolution property: pairwise work is bounded
    by the name domain, record growth only scales the final broadcast
    map-back join."""
    from blspark.ext.dedup import connected_components

    part = amplify(
        load_table(spark, SF_DIR, "part").select("p_partkey", "p_name"),
        "p_partkey",
        factor,
        10_000_000,
    )
    t0 = time.perf_counter()
    names = part.select("p_name").distinct()
    blocked = names.select("p_name", F.split("p_name", " ")[0].alias("blk"))
    a = blocked.select(F.col("p_name").alias("na"), "blk")
    b = blocked.select(F.col("p_name").alias("nb"), F.col("blk").alias("blk2"))
    pairs = (
        a.join(b, (F.col("blk") == F.col("blk2")) & (F.col("na") < F.col("nb")))
        .filter(F.levenshtein("na", "nb") <= 3)
        .select("na", "nb")
    )
    comp = connected_components(
        pairs, names, src_col="na", dst_col="nb", id_col="p_name"
    ).select(F.col("node").alias("p_name"), F.col("component").alias("entity"))
    n = part.join(F.broadcast(comp), "p_name").count()
    dt = time.perf_counter() - t0
    print(f"  entity_resolution x{factor}: {dt:.2f}s ({n} records)", flush=True)
    return dt


def bench_mmr(spark, factor: int) -> float:
    """Corpus grows with factor, query count fixed: candidate scoring is
    one corpus scan; the greedy stage is candidates^2 per query,
    corpus-independent."""
    emb = amplify(
        load_table(spark, SF_DIR, "embeddings"), "vec_id", factor, 10_000_000
    )
    # same stages as x_mmr_rerank's candidate scoring, zero-norm
    # guarded, inlined over the amplified frame
    from blspark.ext.similarity import _cos, _norm, with_double_vec
    t0 = time.perf_counter()
    vecs = with_double_vec(emb, "embedding").select(
        F.col("vec_id").alias("id"), "vec", _norm(F.col("vec")).alias("nrm")
    )
    q = vecs.filter(F.col("id") < 3).select(
        F.col("id").alias("qid"), F.col("vec").alias("qv"), F.col("nrm").alias("qn")
    )
    scored = vecs.join(F.broadcast(q), F.col("id") != F.col("qid")).select(
        "qid", "id",
        _cos("vec", "qv", "nrm", "qn").alias("rel"),
    )
    from pyspark.sql import Window
    w = Window.partitionBy("qid").orderBy(F.desc("rel"), F.asc("id"))
    n = scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 20).count()
    dt = time.perf_counter() - t0
    print(f"  mmr_candidates x{factor}: {dt:.2f}s ({n} cands)", flush=True)
    return dt


def bench_kcore(spark, factor: int) -> float:
    """Planted graph growing with factor: factor*1000 triangles (stay)
    + one long chain (peels); rounds fixed, edge frame shrinks."""
    from blspark.queries.extensions8 import kcore_peel

    n_tri = 1000 * factor
    tri = spark.range(n_tri).select(F.col("id"))
    edges = (
        tri.select((F.col("id") * 3).alias("a"), (F.col("id") * 3 + 1).alias("b"))
        .unionByName(tri.select((F.col("id") * 3 + 1).alias("a"), (F.col("id") * 3 + 2).alias("b")))
        .unionByName(tri.select((F.col("id") * 3).alias("a"), (F.col("id") * 3 + 2).alias("b")))
        .unionByName(
            spark.range(2000).select(
                (F.lit(10_000_000) + F.col("id")).alias("a"),
                (F.lit(10_000_000) + F.col("id") + 1).alias("b"),
            )
        )
        .repartition(32)
    )
    t0 = time.perf_counter()
    n = kcore_peel(edges, k=2, rounds=8).count()
    dt = time.perf_counter() - t0
    print(f"  kcore x{factor}: {dt:.2f}s ({n} core nodes)", flush=True)
    return dt


def bench_ewma(spark, factor: int) -> float:
    """Events grow with factor but event_type cardinality is FIXED —
    the low-cardinality-partition window hazard: per-type sort grows
    with total rows. Documented mitigation: co-partition by
    (event_type, time bucket) when a type outgrows a task."""
    from blspark.queries.extensions8 import _ewma_exprs

    ev = amplify(
        load_table(spark, SF_DIR, "events").select(
            "event_id", "event_type", "ts", "value"
        ),
        "event_id",
        factor,
        1_000_000_000,
    )
    num, den = _ewma_exprs("ts, event_id")
    t0 = time.perf_counter()
    n = ev.select(
        "event_id", F.expr(f"({num}) / ({den})").alias("ewma")
    ).count()
    dt = time.perf_counter() - t0
    print(f"  ewma x{factor}: {dt:.2f}s ({n} rows)", flush=True)
    return dt


def bench_span_removal(spark, factor: int) -> float:
    """Docs grow with factor (distinct replica suffixes, so gram overlap
    between replicas stays put but the gram table grows linearly)."""
    from blspark.queries.extensions8 import remove_duplicated_spans

    docs = amplify(
        load_table(spark, SF_DIR, "documents").select("doc_id", "text"),
        "doc_id",
        factor,
        1_000_000,
        text_col="text",
    )
    t0 = time.perf_counter()
    n = remove_duplicated_spans(docs).count()
    dt = time.perf_counter() - t0
    print(f"  span_removal x{factor}: {dt:.2f}s ({n} docs)", flush=True)
    return dt


def bench_cusum(spark, factor: int) -> float:
    """Series COUNT grows with factor (event_type re-keyed per replica):
    the scale-out axis for the per-series sequential operator; series
    length stays fixed, so per-task work is constant."""
    from blspark.queries.extensions8 import cusum_drift

    ev = amplify(
        load_table(spark, SF_DIR, "events").select(
            "event_id", "event_type", "ts", "value"
        ),
        "event_id",
        factor,
        1_000_000_000,
    ).withColumn(
        "event_type",
        F.concat(F.col("event_type"), (F.col("event_id") / 1_000_000_000)
                 .cast("bigint").cast("string")),
    )
    t0 = time.perf_counter()
    n = cusum_drift(ev).count()
    dt = time.perf_counter() - t0
    print(f"  cusum x{factor}: {dt:.2f}s ({n} rows)", flush=True)
    return dt


def bench_pq_adc(spark, factor: int) -> float:
    """Corpus grows with factor; codebook size and query count fixed —
    train + encode + ADC should all scale ~linearly (train's shuffle is
    (m, code, pos)-keyed: constant key space, growing partials)."""
    from blspark.ext.similarity import (
        pq_adc_topk, pq_encode, pq_train_codebooks,
    )

    emb = amplify(
        load_table(spark, SF_DIR, "embeddings"), "vec_id", factor, 10_000_000
    )
    vecs = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    queries = vecs.filter(F.col("vec_id") < 5)
    t0 = time.perf_counter()
    cb = pq_train_codebooks(vecs, 8, 8, 4)
    codes = pq_encode(vecs, cb, 8, 8)
    n = pq_adc_topk(codes, queries, cb, 8, 8, k=3).count()
    dt = time.perf_counter() - t0
    print(f"  pq_adc x{factor}: {dt:.2f}s ({n} rows)", flush=True)
    return dt


def bench_ivfpq(spark, factor: int) -> float:
    """Full IVF-PQ pipeline at growing corpus size: cells + codebooks
    trained, corpus cell-assigned + encoded, 5 queries probe 2 cells."""
    from blspark.ext.similarity import (
        ivfpq_topk, label_centroids, pq_train_codebooks,
    )

    emb = amplify(
        load_table(spark, SF_DIR, "embeddings"), "vec_id", factor, 10_000_000
    )
    vecs = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    queries = vecs.filter(F.col("vec_id") < 5)
    t0 = time.perf_counter()
    cents = label_centroids(emb).select(
        F.col("cell_id").cast("int").alias("cell_id"), "centroid"
    )
    cb = pq_train_codebooks(vecs, 8, 8, 4)
    n = ivfpq_topk(vecs, queries, cents, cb, 8, 8, k=3, nprobe=2).count()
    dt = time.perf_counter() - t0
    print(f"  ivfpq x{factor}: {dt:.2f}s ({n} rows)", flush=True)
    return dt


def bench_ivfpq_residual(spark, factor: int) -> float:
    """Residual IVF-PQ at growing corpus size: cell assignment (hash-agg
    argmin, map-side combinable), residual projection, residual-trained
    codebooks, encode, probed ADC + per-cell coarse term."""
    from blspark.ext.similarity import ivfpq_residual_topk, label_centroids

    emb = amplify(
        load_table(spark, SF_DIR, "embeddings"), "vec_id", factor, 10_000_000
    )
    vecs = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    queries = vecs.filter(F.col("vec_id") < 5)
    t0 = time.perf_counter()
    cents = label_centroids(emb).select(
        F.col("cell_id").cast("int").alias("cell_id"), "centroid"
    )
    n = ivfpq_residual_topk(
        vecs, queries, cents, 8, 8, 4, k=3, nprobe=2
    ).count()
    dt = time.perf_counter() - t0
    print(f"  ivfpq_residual x{factor}: {dt:.2f}s ({n} rows)", flush=True)
    return dt


def bench_sq8(spark, factor: int) -> float:
    """SQ8 quantize + brute inner-product top-k at growing corpus size:
    map-side quantization, broadcast queries, WindowGroupLimit partial
    top-k — should track the corpus scan linearly."""
    from blspark.ext.similarity import sq8_topk

    emb = amplify(
        load_table(spark, SF_DIR, "embeddings"), "vec_id", factor, 10_000_000
    )
    vecs = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    queries = vecs.filter(F.col("vec_id") < 5)
    t0 = time.perf_counter()
    n = sq8_topk(vecs, queries, k=5).count()
    dt = time.perf_counter() - t0
    print(f"  sq8 x{factor}: {dt:.2f}s ({n} rows)", flush=True)
    return dt


def bench_maxsim_pruned(spark, factor: int) -> float:
    """IVF-pruned MaxSim at growing corpus size: the token-interaction
    stage only touches probed cells, so wall time should grow with the
    probed fraction of the corpus, linearly."""
    from blspark.ext.similarity import label_centroids, maxsim_pruned_topk

    emb = amplify(
        load_table(spark, SF_DIR, "embeddings"), "vec_id", factor, 10_000_000
    )
    vecs = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    cents = label_centroids(emb).select(
        F.col("cell_id").cast("int").alias("cell_id"), "centroid"
    )
    queries = vecs.filter(F.col("vec_id") < 5)
    t0 = time.perf_counter()
    n = maxsim_pruned_topk(vecs, queries, cents, 8, 8, k=5, nprobe=2).count()
    dt = time.perf_counter() - t0
    print(f"  maxsim_pruned x{factor}: {dt:.2f}s ({n} rows)", flush=True)
    return dt


def bench_ivf_sq8(spark, factor: int) -> float:
    """IVF-pruned SQ8 at growing corpus size: cell assignment is a
    map-side hash-agg argmin, the int64 scoring only touches probed
    cells — both stages should track the corpus scan linearly."""
    from blspark.ext.similarity import ivf_sq8_topk, label_centroids

    emb = amplify(
        load_table(spark, SF_DIR, "embeddings"), "vec_id", factor, 10_000_000
    )
    vecs = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    cents = label_centroids(emb).select(
        F.col("cell_id").cast("int").alias("cell_id"), "centroid"
    )
    queries = vecs.filter(F.col("vec_id") < 5)
    t0 = time.perf_counter()
    n = ivf_sq8_topk(vecs, queries, cents, k=5, nprobe=2).count()
    dt = time.perf_counter() - t0
    print(f"  ivf_sq8 x{factor}: {dt:.2f}s ({n} rows)", flush=True)
    return dt


def bench_maxsim_ragged(spark, factor: int) -> float:
    """Ragged MaxSim at growing corpus size: the variable token counts
    change per-row work but not the plan shape — token explode stays
    map-side, the two hash aggregates keep map-side partials."""
    from blspark.ext.similarity import maxsim_tokens_topk, ragged_subvectors

    emb = amplify(
        load_table(spark, SF_DIR, "embeddings"), "vec_id", factor, 10_000_000
    )
    vecs = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    ntok = F.col("vec_id") % 8 + 1
    queries = vecs.filter(F.col("vec_id") < 5)
    t0 = time.perf_counter()
    d_tok = ragged_subvectors(vecs, 8, ntok).select(
        F.col("vec_id").alias("neighbor_id"), "m", "sv"
    )
    q_tok = ragged_subvectors(queries, 8, ntok).select(
        F.col("vec_id").alias("query_id"),
        F.col("m").alias("qm"),
        F.col("sv").alias("qsv"),
    )
    n = maxsim_tokens_topk(d_tok, q_tok, k=5).count()
    dt = time.perf_counter() - t0
    print(f"  maxsim_ragged x{factor}: {dt:.2f}s ({n} rows)", flush=True)
    return dt


def bench_ivfpq_query_warm(spark, factor: int) -> float:
    """The QUERY side of IVF-PQ over a pre-built index at growing
    corpus size — index construction (train + encode + checkpoint)
    happens OUTSIDE the timer, so this measures what a deployment pays
    per query batch: probe + broadcast LUT + probed-cell ADC scan."""
    from blspark.ext.similarity import (
        ivfpq_build_index,
        ivfpq_query,
        label_centroids,
        pq_train_codebooks,
    )

    emb = amplify(
        load_table(spark, SF_DIR, "embeddings"), "vec_id", factor, 10_000_000
    )
    vecs = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    cents = label_centroids(emb).select(
        F.col("cell_id").cast("int").alias("cell_id"), "centroid"
    )
    cb = pq_train_codebooks(vecs, 8, 8, 4)
    codes = ivfpq_build_index(vecs, cents, cb, 8, 8).localCheckpoint(
        eager=True
    )
    queries = vecs.filter(F.col("vec_id") < 5)
    t0 = time.perf_counter()
    n = ivfpq_query(codes, queries, cents, cb, 8, 8, k=3, nprobe=2).count()
    dt = time.perf_counter() - t0
    print(f"  ivfpq_query_warm x{factor}: {dt:.2f}s ({n} rows)", flush=True)
    return dt


def bench_knn_graph(spark, factor: int) -> float:
    """Cell-blocked kNN graph at growing corpus size, with the cell
    count growing by the FAISS nlist ~ sqrt(N) rule (labels re-keyed
    across isqrt(factor) replica groups): flat centroid routing costs
    N * nlist and within-cell pairing costs N * (N / nlist), so
    sqrt(N) cells balances both at N^1.5 — the honest asymptote for
    IVF-blocked all-corpus kNN (a fixed cell count sends pairing
    quadratic; cells ~ N sends routing quadratic — measured 6.8x at
    x4 before this reshape). Run with square factors (1 4 16); the
    bound to hold is factor^1.5 (8 at x4, 64 at x16).

    The replica groups must differ in VECTOR CONTENT, not just label:
    group centroids averaged from identical vector multisets come out
    (near-)bitwise equal, and cell assignment is a cosine argmax over
    centroids — identical centroids would tie-break the whole corpus
    into the original cells and silently restore the quadratic
    pairing this sweep exists to rule out. Each replica group gets a
    large distinct offset on dimension 0, so its centroid is robustly
    separated and its rows robustly route back to it."""
    from blspark.ext.similarity import knn_graph

    emb, cents = _amplify_cells_sqrt(spark, factor)
    t0 = time.perf_counter()
    n = knn_graph(emb, cents, k=3).count()
    dt = time.perf_counter() - t0
    print(f"  knn_graph x{factor}: {dt:.2f}s ({n} rows)", flush=True)
    return dt


def _amplify_cells_sqrt(spark, factor: int):
    """Shared amplification for the kNN-graph sweeps: corpus x factor,
    cell count x isqrt(factor) (the FAISS nlist ~ sqrt(N) rule), with
    each replica group offset on dimension 0 so group centroids are
    content-separated (see bench_knn_graph's docstring for why label
    re-keying alone silently collapses the cells). Returns (emb,
    cents)."""
    import math

    from blspark.ext.similarity import label_centroids

    emb = load_table(spark, SF_DIR, "embeddings")
    if factor > 1:
        s = math.isqrt(factor)
        rep = F.explode(F.sequence(F.lit(0), F.lit(factor - 1))).alias("_rep")
        vec = F.col("embedding").cast("array<double>")
        grp = (F.col("_rep") % s).cast("double")
        emb = (
            emb.select("*", rep)
            .withColumn(
                "vec_id",
                F.col("vec_id") + F.col("_rep").cast("long") * 10_000_000,
            )
            .withColumn("label", F.col("label") + (F.col("_rep") % s) * 1000)
            .withColumn(
                "embedding",
                F.concat(
                    F.array(F.element_at(vec, 1) + grp * F.lit(10.0)),
                    F.slice(vec, 2, F.size(vec) - 1),
                ),
            )
            .drop("_rep")
        )
    cents = label_centroids(emb).select(
        F.col("cell_id").cast("int").alias("cell_id"), "centroid"
    )
    return emb, cents


def bench_knn_graph_sq8(spark, factor: int) -> float:
    """knn_graph at the SQ8 rung, same sqrt-rule amplification as
    bench_knn_graph — the pairing term runs over int8 codes (quarter
    the shuffled bytes, exact int64 core). Same N^1.5 bound; note the
    LOCAL constant is ~1.4x LARGER than the float rung (both are
    interpreted-HOF-bound and the int path does more expression work
    per pair — SCALE.md records the measurement); the byte win pays
    on a real shuffle-bound cluster, not at local[32]."""
    from blspark.ext.similarity import knn_graph_sq8

    emb, cents = _amplify_cells_sqrt(spark, factor)
    t0 = time.perf_counter()
    n = knn_graph_sq8(emb, cents, k=3).count()
    dt = time.perf_counter() - t0
    print(f"  knn_graph_sq8 x{factor}: {dt:.2f}s ({n} rows)", flush=True)
    return dt


def bench_knn_graph_hot(spark, factor: int) -> float:
    """PLANTED HOT CELL: one centroid, so the whole (amplified) corpus
    lands in a single IVF cell — the degenerate-skew extreme the
    max_block cap exists for. Total pairing work is (N*factor)^2 by
    the exact within-cell contract (the cap redistributes work, it
    cannot reduce it), so the numbers to read are NOT the ratio row:
    (a) capped-vs-uncapped wall at the same factor — uncapped hashes
    every pair into ONE task while 31 cores idle; capped splits the
    cell into ceil(N/max_block)^2 block-pairs that fill the machine —
    and (b) the per-task pair bound: max pairs in any block-pair
    group vs the N^2 single-task extreme. Uncapped runs at factor 1
    only (it is deliberately the infeasible shape). Returns the
    capped time."""
    import math

    from blspark.ext.similarity import knn_graph_sq8

    emb = amplify(
        load_table(spark, SF_DIR, "embeddings"), "vec_id", factor, 10_000_000
    )
    dim = 64
    hot = spark.createDataFrame(
        [(0, [1.0] + [0.0] * (dim - 1))],
        "cell_id int, centroid array<double>",
    )
    mb = 64
    t0 = time.perf_counter()
    n = knn_graph_sq8(emb, hot, k=3, max_block=mb).count()
    dt = time.perf_counter() - t0
    n_rows = emb.count()
    g = math.ceil(n_rows / mb)
    max_pairs = (
        emb.select(
            F.pmod(F.xxhash64(F.col("vec_id")), F.lit(g)).alias("blk")
        )
        .groupBy("blk")
        .count()
        .agg(F.max(F.col("count") * F.col("count")))
        .first()[0]
    )
    print(
        f"  knn_graph_hot(capped) x{factor}: {dt:.2f}s ({n} rows; "
        f"{g}^2 block-pairs, max {max_pairs} pairs/task vs "
        f"{n_rows * n_rows} single-task)",
        flush=True,
    )
    if factor == 1:
        t0 = time.perf_counter()
        knn_graph_sq8(emb, hot, k=3).count()
        dt_un = time.perf_counter() - t0
        print(
            f"  knn_graph_hot(UNCAPPED) x{factor}: {dt_un:.2f}s "
            f"(one {n_rows * n_rows}-pair task; capped is "
            f"{dt_un / dt:.1f}x faster)",
            flush=True,
        )
    return dt


def bench_cell_prototypes(spark, factor: int) -> float:
    """Corpus x factor with cells x isqrt(factor) (the sqrt-rule
    amplification the graph sweeps share): prototype selection is one
    cell-assign scan (map-side hash-agg argmin) + one per-cell argmax
    over the compact projection — expect ~linear wall growth and
    |cells| output rows."""
    from blspark.ext.similarity import cell_prototypes

    emb, cents = _amplify_cells_sqrt(spark, factor)
    t0 = time.perf_counter()
    n = cell_prototypes(emb, cents).count()
    dt = time.perf_counter() - t0
    print(f"  cell_prototypes x{factor}: {dt:.2f}s ({n} cells)", flush=True)
    return dt


def bench_weighted_sample(spark, factor: int) -> float:
    """Docs grow with factor: the hash-min key is one inline map-side
    expression (min over w<=8 md5 draws) and the top-200 is
    TakeOrderedAndProject — expect ~linear wall growth, no flip into
    a global sort or shuffle."""
    from blspark.queries.extensions10 import ws_keyed_frame

    docs = amplify(
        load_table(spark, SF_DIR, "documents"),
        "doc_id",
        factor,
        10_000_000,
        text_col="text",
    )
    t0 = time.perf_counter()
    n = (
        ws_keyed_frame(docs)
        .orderBy(F.asc("skey"), F.asc("doc_id"))
        .limit(200)
        .count()
    )
    dt = time.perf_counter() - t0
    print(f"  weighted_sample x{factor}: {dt:.2f}s ({n} rows)", flush=True)
    return dt


def bench_binary_rerank(spark, factor: int) -> float:
    """Binary-quantization ANN at growing corpus size: thresholds are
    one scan, the pack is map-side, the Hamming stage scans packed
    words only (queries broadcast) — wall should track the corpus
    scan ~linearly; floats are touched only for |q| x shortlist."""
    from blspark.ext.binaryq import binary_topk

    emb = amplify(
        load_table(spark, SF_DIR, "embeddings"), "vec_id", factor, 10_000_000
    )
    vecs = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    queries = vecs.filter(F.col("vec_id") < 5)
    t0 = time.perf_counter()
    n = binary_topk(vecs, queries, dim=64, k=5, shortlist=50).count()
    dt = time.perf_counter() - t0
    print(f"  binary_rerank x{factor}: {dt:.2f}s ({n} rows)", flush=True)
    return dt


def bench_ivf_binary(spark, factor: int) -> float:
    """IVF x binary at growing corpus size: cell pruning cuts the
    pairing to probed cells, codes cut scanned bytes 32x — the
    multiplicative-savings rung; expect ~linear in the corpus scan
    (assignment dominates), sub-linear in the pairing."""
    from blspark.ext.binaryq import ivf_binary_topk
    from blspark.ext.similarity import label_centroids

    emb = amplify(
        load_table(spark, SF_DIR, "embeddings"), "vec_id", factor, 10_000_000
    )
    vecs = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    cents = label_centroids(emb).select(
        F.col("cell_id").cast("int").alias("cell_id"), "centroid"
    )
    queries = vecs.filter(F.col("vec_id") < 5)
    t0 = time.perf_counter()
    n = ivf_binary_topk(
        vecs, queries, cents, dim=64, k=5, shortlist=50, nprobe=2
    ).count()
    dt = time.perf_counter() - t0
    print(f"  ivf_binary x{factor}: {dt:.2f}s ({n} rows)", flush=True)
    return dt


def bench_range_search(spark, factor: int) -> float:
    """Exact radius search at growing corpus size: cell stats are
    |cells|-row metadata, the corpus pays one assignment scan + one
    probed-cell distance filter — ~linear; the result set grows with
    the data (replicas land within radius of their originals), so row
    counts are reported alongside wall."""
    from blspark.ext.similarity import label_centroids, range_search_ivf

    emb = amplify(
        load_table(spark, SF_DIR, "embeddings"), "vec_id", factor, 10_000_000
    )
    vecs = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    cents = label_centroids(emb).select(
        F.col("cell_id").cast("int").alias("cell_id"), "centroid"
    )
    queries = vecs.filter(F.col("vec_id") < 5)
    t0 = time.perf_counter()
    n = range_search_ivf(vecs, queries, cents, radius=1.2).count()
    dt = time.perf_counter() - t0
    print(f"  range_search x{factor}: {dt:.2f}s ({n} rows)", flush=True)
    return dt


def bench_graph_adaptive(spark, factor: int) -> float:
    """Early-exit beam walk at growing corpus size: the kNN-graph
    build inside is the dominant term (cell-blocked self-join, same
    scaling as bench_knn_graph); the walk adds hops x (beam x degree)
    per query with per-query early termination — the hop loop's cost
    must stay bounded by the budget ceiling, never corpus size."""
    from blspark.ext.similarity import (
        graph_expand_topk,
        label_centroids,
        nav_graph_build,
    )

    emb = amplify(
        load_table(spark, SF_DIR, "embeddings"), "vec_id", factor, 10_000_000
    )
    vecs = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    cents = label_centroids(emb).select(
        F.col("cell_id").cast("int").alias("cell_id"), "centroid"
    )
    queries = vecs.filter(F.col("vec_id") < 5)
    t0 = time.perf_counter()
    adj, protos = nav_graph_build(vecs, cents, vec_col="vec", knn_k=3)
    n = graph_expand_topk(
        vecs, queries, adj, protos, vec_col="vec",
        k=5, hops=10, beam=6, n_seeds=3, early_exit_k=5,
    ).count()
    dt = time.perf_counter() - t0
    print(f"  graph_adaptive x{factor}: {dt:.2f}s ({n} rows)", flush=True)
    return dt


def bench_graph_adaptive_nlist(spark, factor: int) -> float:
    """bench_graph_adaptive WITH the documented mitigation engaged:
    cell count grows by the FAISS nlist ~ sqrt(N) rule instead of the
    fixed label-domain nlist that sends within-cell pairing quadratic
    (SCALE.md's one measured super-linear term — x4 data -> 2.23x
    wall). Same walk, same budget; only the cell geometry changes,
    via the SAME amplification the kNN-graph sweeps use
    (``_amplify_cells_sqrt`` — replica groups must be separated in
    VECTOR CONTENT, not just label, or centroid ties route the whole
    corpus back into the original cells and silently restore the
    quadratic pairing; see bench_knn_graph). Run with square factors
    (1 4 16); the build term's bound is factor^1.5, the walk stays
    budget-bounded. The ratio column this emits is the evidence the
    r14 verdict asked for — the fixed-nlist super-linear point
    dropping toward the N^1.5 envelope."""
    from blspark.ext.similarity import graph_expand_topk, nav_graph_build

    emb, cents = _amplify_cells_sqrt(spark, factor)
    vecs = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    queries = vecs.filter(F.col("vec_id") < 5)
    t0 = time.perf_counter()
    adj, protos = nav_graph_build(vecs, cents, vec_col="vec", knn_k=3)
    n = graph_expand_topk(
        vecs, queries, adj, protos, vec_col="vec",
        k=5, hops=10, beam=6, n_seeds=3, early_exit_k=5,
    ).count()
    dt = time.perf_counter() - t0
    print(f"  graph_adaptive_nlist x{factor}: {dt:.2f}s ({n} rows)", flush=True)
    return dt


def bench_mrl(spark, factor: int) -> float:
    """MRL truncated-dim ANN at growing corpus size: the prefix scan
    is one corpus pass over half the float bytes, the rerank touches
    |queries| x shortlist pairs regardless of N — wall should grow
    ~linearly with the scan, never with pairs."""
    from blspark.ext.similarity import mrl_topk

    emb = amplify(
        load_table(spark, SF_DIR, "embeddings"), "vec_id", factor, 10_000_000
    )
    queries = emb.filter(F.col("vec_id") < 5)
    t0 = time.perf_counter()
    n = mrl_topk(emb, queries, prefix_dim=32, k=5, shortlist=50).count()
    dt = time.perf_counter() - t0
    print(f"  mrl x{factor}: {dt:.2f}s ({n} rows)", flush=True)
    return dt


def bench_dsir(spark, factor: int) -> float:
    """DSIR importance at growing corpus size: two count passes keyed
    by the FIXED 256-bucket space (constant key space, growing
    partials — the pq_train shape) plus a map-side score pass; no
    term may grow super-linearly."""
    from blspark.ext.sampling import dsir_importance

    docs = amplify(
        load_table(spark, SF_DIR, "documents").select(
            "doc_id", "text", "lang"
        ),
        "doc_id",
        factor,
        1_000_000,
        text_col="text",
    )
    t0 = time.perf_counter()
    n = dsir_importance(docs, F.col("lang") == "en").count()
    dt = time.perf_counter() - t0
    print(f"  dsir x{factor}: {dt:.2f}s ({n} rows)", flush=True)
    return dt


def bench_containment(spark, factor: int) -> float:
    """Containment dedup at growing corpus size WITH the max_doc_freq
    lever engaged (the operator's scale story): replicas get
    distinct suffix tokens, so cross-replica shingle overlap stays
    put while the shingle table grows linearly; the doc-freq prune
    bounds the per-shingle quadratic term."""
    from blspark.ext.dedup import containment_pairs, word_shingles

    docs = amplify(
        load_table(spark, SF_DIR, "documents").select("doc_id", "text"),
        "doc_id",
        factor,
        1_000_000,
        text_col="text",
    )
    t0 = time.perf_counter()
    sh = word_shingles(docs, "doc_id", "text", n=3)
    n = containment_pairs(
        sh, min_containment=0.9, max_doc_freq=64
    ).count()
    dt = time.perf_counter() - t0
    print(f"  containment x{factor}: {dt:.2f}s ({n} pairs)", flush=True)
    return dt


def bench_domain_quality(spark, factor: int) -> float:
    """Domain-balanced quality filter with docs growing but the SOURCE
    domain fixed — the low-cardinality-window hazard axis (the ewma
    sweep's): each source's percent_rank sort grows with total rows.
    Documented escape if a source outgrows a task: per-source quality
    HISTOGRAM thresholds (the x_quality_filter_quantile device)."""
    from blspark.ext.text import quality_score
    from pyspark.sql import Window

    docs = amplify(
        load_table(spark, SF_DIR, "documents").select(
            "doc_id", "text", "source"
        ),
        "doc_id",
        factor,
        1_000_000,
        text_col="text",
    )
    t0 = time.perf_counter()
    q = quality_score(docs, "doc_id", "text", keep=("source",))
    w = Window.partitionBy("source").orderBy(F.asc("quality"), F.asc("id"))
    n = (
        q.withColumn("pr", F.percent_rank().over(w))
        .filter(F.col("pr") >= 0.5)
        .count()
    )
    dt = time.perf_counter() - t0
    print(f"  domain_quality x{factor}: {dt:.2f}s ({n} kept)", flush=True)
    return dt


def bench_prefix_join(spark, factor: int) -> float:
    """Prefix-filtered exact similarity join with DISJOINT per-replica
    vocabularies (every token suffixed with its replica id): the
    amplify text suffix alone is NOT enough here — a 0.6 Jaccard
    threshold still pairs a doc with its suffixed replicas (two
    trailing tokens on an 80-token doc leave J ~ 0.9), which grows the
    OUTPUT ~factor^2 and measures data semantics, not the plan (the
    containment-sweep signature, measured 256 -> 6024 pairs at x2
    before this re-keying). Token re-keying models the real growth
    axis — new content, not clones: qualifying pairs scale ~linearly,
    df-per-shingle stays flat, and the wall measures the df pass +
    prefix window + prefix self-join + bounded verify."""
    from blspark.ext.dedup import prefix_filter_pairs, shingle_sets

    docs = (
        amplify(
            load_table(spark, SF_DIR, "documents").select(
                "doc_id", "text"
            ),
            "doc_id",
            factor,
            1_000_000,
        )
        .withColumn(
            "_rs", F.expr("CAST(doc_id div 1000000 AS STRING)")
        )
        .select(
            "doc_id",
            F.array_join(
                F.transform(
                    F.split(F.col("text"), " "),
                    lambda t: F.concat(t, F.lit("_"), F.col("_rs")),
                ),
                " ",
            ).alias("text"),
        )
    )
    t0 = time.perf_counter()
    n = prefix_filter_pairs(shingle_sets(docs, "doc_id", "text")).count()
    dt = time.perf_counter() - t0
    print(f"  prefix_join x{factor}: {dt:.2f}s ({n} pairs)", flush=True)
    return dt


def bench_classify_nb(spark, factor: int) -> float:
    """NB train+score end-to-end: token-count model fit grows linearly
    with train tokens; scoring is the model join + per-(doc,class)
    fold. Class count fixed (5 langs) — the k-fan-out axis is flat."""
    from blspark.ext.classify import nb_predictions

    docs = amplify(
        load_table(spark, SF_DIR, "documents").select(
            "doc_id", "lang", "text"
        ),
        "doc_id",
        factor,
        1_000_000,
        text_col="text",
    )
    t0 = time.perf_counter()
    n = nb_predictions(docs).count()
    dt = time.perf_counter() - t0
    print(f"  classify_nb x{factor}: {dt:.2f}s ({n} preds)", flush=True)
    return dt


def bench_phrase(spark, factor: int) -> float:
    """Positional phrase retrieval with the corpus growing and the
    query set fixed (replica-0 docs 10-14): postings volume grows
    linearly; the term-filtered probes should stay proportional to the
    query words' postings, not the corpus."""
    from pyspark.sql import Window

    docs = amplify(
        load_table(spark, SF_DIR, "documents").select("doc_id", "text"),
        "doc_id",
        factor,
        1_000_000,
        text_col="text",
    ).select("doc_id", F.split(F.col("text"), " ").alias("w"))
    t0 = time.perf_counter()
    post = docs.select("doc_id", F.posexplode("w").alias("pos", "tok"))
    q = (
        docs.filter((F.col("doc_id") >= 10) & (F.col("doc_id") < 15))
        .select(
            F.col("doc_id").alias("query_id"),
            F.col("w")[0].alias("w1"),
            F.col("w")[1].alias("w2"),
            F.col("w")[2].alias("w3"),
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
        .groupBy("query_id", "doc_id")
        .agg(F.count("*").alias("n_matches"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("n_matches"), F.asc("doc_id")
    )
    n = (
        m.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= 5)
        .count()
    )
    dt = time.perf_counter() - t0
    print(f"  phrase x{factor}: {dt:.2f}s ({n} hits)", flush=True)
    return dt


def bench_pca(spark, factor: int) -> float:
    """Covariance + power iteration with the corpus growing: the
    moment shuffle carries a FIXED 2,144 partial rows per map task,
    so the wall should track the linear scan + Gram-kernel term; the
    iteration is corpus-independent (driver-side, 64x64 matrix)."""
    from blspark.ext.linalg import covariance_matrix, power_top_eigen

    emb = amplify(
        load_table(spark, SF_DIR, "embeddings").select(
            "vec_id", "embedding"
        ),
        "vec_id",
        factor,
        1_000_000,
    )
    t0 = time.perf_counter()
    top = power_top_eigen(covariance_matrix(emb, "embedding", 64), 64, 8)
    n = top.select("eigenvalue").count()
    dt = time.perf_counter() - t0
    print(f"  pca x{factor}: {dt:.2f}s ({n} row)", flush=True)
    return dt


def _amplified_sf_dir(spark, factor: int) -> str:
    """Materialize an amplified embeddings corpus as an sf-dir twin.
    The ONE sweep path that must write: the persisted-index serve
    benches probe an ON-DISK table, and the layout machinery keys the
    table per sf_dir — so the amplified corpus needs a directory
    identity. Tiny at these row counts (sf0.1 embeddings x4 = 8k
    rows); reused across benches within a run."""
    if factor == 1:
        return SF_DIR
    out = f"/tmp/blspark_sweep_sf_x{factor}"
    done = os.path.join(out, "_SWEEP_OK")
    if not os.path.exists(done):
        emb = amplify(
            load_table(spark, SF_DIR, "embeddings"), "vec_id", factor,
            1_000_000,
        )
        emb.write.mode("overwrite").parquet(f"{out}/embeddings.parquet")
        open(done, "w").close()
    return out


def bench_graph_serve(spark, factor: int) -> float:
    """Steady-state probe cost of the PERSISTED graph index as the
    corpus grows: build the cell-partitioned edge table from the
    amplified corpus UNTIMED (the build side is already swept by
    graph_adaptive/knn_graph), then time exactly the serve path —
    seed, 10 partition-pruned hop probes, exact rerank
    (x_index_persist_graph_warm's charge). Per-hop IO is
    |frontier cells|/|cells| of the edge bytes and per-query work is
    O(seeds + hops*beam*degree), so wall should stay ~flat as the
    corpus (and with it |cells| and edge bytes) grows."""
    from blspark.catalog import registry

    sfd = _amplified_sf_dir(spark, factor)
    reg = registry()
    reg["x_index_persist_graph"].spark_fn(spark, sfd).collect()  # build
    t0 = time.perf_counter()
    n = len(reg["x_index_persist_graph_warm"].spark_fn(spark, sfd).collect())
    dt = time.perf_counter() - t0
    print(f"  graph_serve x{factor}: {dt:.2f}s ({n} rows)", flush=True)
    return dt


def bench_ivf_serve(spark, factor: int) -> float:
    """Steady-state probe cost of the PERSISTED IVF-SQ8 index as the
    corpus grows (x_index_persist_scan_warm's charge): untimed build,
    then time the nprobe=2 partition-pruned scan + SQ8 rank. Probe IO
    is nprobe/nlist of the index bytes — with fixed nlist the probed
    fraction's bytes grow with the corpus but stay 2/|cells| of it;
    wall should grow far slower than the corpus."""
    from blspark.catalog import registry

    sfd = _amplified_sf_dir(spark, factor)
    reg = registry()
    reg["x_index_persist_scan"].spark_fn(spark, sfd).collect()  # build
    t0 = time.perf_counter()
    n = len(reg["x_index_persist_scan_warm"].spark_fn(spark, sfd).collect())
    dt = time.perf_counter() - t0
    print(f"  ivf_serve x{factor}: {dt:.2f}s ({n} rows)", flush=True)
    return dt


def _amplified_pair(spark, factor: int):
    """Embeddings + documents amplified with the SAME id stride so the
    doc_id = vec_id feature join still matches per replica."""
    emb = amplify(
        load_table(spark, SF_DIR, "embeddings"), "vec_id", factor,
        1_000_000,
    )
    docs = amplify(
        load_table(spark, SF_DIR, "documents"), "doc_id", factor,
        1_000_000, text_col="text",
    )
    return emb, docs


def bench_rerank_blend(spark, factor: int) -> float:
    """Feature-blend second-stage rerank as the corpus grows: the
    prefix-shortlist stage scans the growing corpus (linear term); the
    blend rerank touches a FIXED |Q| x 50 pair list — flat."""
    from pyspark.sql import Window

    from blspark.ext.similarity import mrl_prefix_ranked
    from blspark.queries.extensions15 import (
        _blend_cols,
        _rescored_pairs,
    )

    emb, docs = _amplified_pair(spark, factor)
    t0 = time.perf_counter()
    queries = emb.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 15))
    short = (
        mrl_prefix_ranked(emb, queries, 32)
        .filter(F.col("prank") <= 50)
        .select("query_id", "neighbor_id")
    )
    feats = docs.select(
        "doc_id",
        F.array_distinct(F.split(F.col("text"), " ")).alias("tok"),
        "n_chars",
    )
    qfe = feats.select(
        F.col("doc_id").alias("query_id"), F.col("tok").alias("qtok"),
        F.col("n_chars").alias("qn"),
    )
    nfe = feats.select(
        F.col("doc_id").alias("neighbor_id"), F.col("tok").alias("ntok"),
        F.col("n_chars").alias("nn"),
    )
    blended = _blend_cols(
        _rescored_pairs(emb, queries, short)
        .join(F.broadcast(qfe), "query_id")
        .join(nfe, "neighbor_id")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("blend"), F.asc("neighbor_id")
    )
    n = (
        blended.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= 5)
        .count()
    )
    dt = time.perf_counter() - t0
    print(f"  rerank_blend x{factor}: {dt:.2f}s ({n} rows)", flush=True)
    return dt


def bench_rrf(spark, factor: int) -> float:
    """Reciprocal-rank fusion as the corpus grows: each signal is a
    broadcast-queries scan + per-query window (linear in corpus); the
    fusion join touches two fixed |Q| x 20 lists — flat."""
    from pyspark.sql import Window

    emb, docs = _amplified_pair(spark, factor)
    t0 = time.perf_counter()
    from blspark.ext.similarity import cosine_topk

    queries = emb.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 15))
    dense = cosine_topk(emb, queries, k=20).select(
        "query_id", "neighbor_id",
        F.col("rank").cast("int").alias("dense_rank"),
    )
    feats = docs.select(
        "doc_id", F.array_distinct(F.split(F.col("text"), " ")).alias("tok")
    )
    qf = feats.filter(
        (F.col("doc_id") >= 10) & (F.col("doc_id") < 15)
    ).select(F.col("doc_id").alias("query_id"), F.col("tok").alias("qtok"))
    wlex = Window.partitionBy("query_id").orderBy(
        F.desc("lexs"), F.asc("neighbor_id")
    )
    lex = (
        feats.join(F.broadcast(qf), F.col("doc_id") != F.col("query_id"))
        .select(
            "query_id", F.col("doc_id").alias("neighbor_id"),
            (
                F.size(F.array_intersect("qtok", "tok"))
                / F.least(F.size("qtok"), F.size("tok"))
            ).alias("lexs"),
        )
        .withColumn("r", F.row_number().over(wlex))
        .filter(F.col("r") <= 20)
        .select("query_id", "neighbor_id",
                F.col("r").cast("int").alias("lex_rank"))
    )
    fused = dense.join(lex, ["query_id", "neighbor_id"], "full_outer")
    n = fused.count()
    dt = time.perf_counter() - t0
    print(f"  rrf x{factor}: {dt:.2f}s ({n} fused)", flush=True)
    return dt


def bench_dedup_eval(spark, factor: int) -> float:
    """End-to-end dedup DECISION contract as the corpus grows: both
    pipelines (LSH and exact truth) over the amplified corpus — the
    replica suffix tokens keep replicas from pairing across copies, so
    truth pairs grow ~linearly with the planted families and the
    inverted-index term stays shingle-table-bounded."""
    from blspark.catalog import registry

    docs = amplify(
        load_table(spark, SF_DIR, "documents"), "doc_id", factor,
        1_000_000, text_col="text",
    )
    import blspark.queries.extensions as ext

    orig = ext._corpus

    def patched(spark_, sf_dir_, wide=False):
        return docs.select("doc_id", "text")

    import blspark.queries.extensions15 as e15

    e15_corpus = e15._corpus
    ext._corpus = patched
    e15._corpus = patched
    try:
        t0 = time.perf_counter()
        row = registry()["x_dedup_eval"].spark_fn(spark, SF_DIR).collect()
        dt = time.perf_counter() - t0
    finally:
        ext._corpus = orig
        e15._corpus = e15_corpus
    r = row[0]
    print(
        f"  dedup_eval x{factor}: {dt:.2f}s (pair_recall_bp "
        f"{r['pair_recall_bp']}, doc_recall_bp {r['doc_recall_bp']})",
        flush=True,
    )
    return dt


def bench_mixture(spark, factor: int) -> float:
    """Temperature mixture as rows grow with the SOURCE set fixed —
    the per-source selection window is the only corpus-sized stage
    (the domain_quality axis); allocation math is |sources| rows."""
    from pyspark.sql import Window

    docs = amplify(
        load_table(spark, SF_DIR, "documents"), "doc_id", factor,
        1_000_000, text_col="text",
    )
    t0 = time.perf_counter()
    counts = docs.groupBy("source").agg(F.count("*").alias("n"))
    wts = counts.withColumn("w", F.sqrt(F.col("n").cast("double")))
    tot = wts.agg(F.sum("w").alias("total"))
    alloc = (
        wts.crossJoin(F.broadcast(tot))
        .select(
            "source",
            F.floor(F.lit(1000) * F.col("w") / F.col("total"))
            .cast("int")
            .alias("alloc"),
        )
    )
    wsel = Window.partitionBy("source").orderBy(
        F.asc(F.md5(F.col("doc_id").cast("string"))), F.asc("doc_id")
    )
    n = (
        docs.select("source", "doc_id")
        .withColumn("r", F.row_number().over(wsel))
        .join(F.broadcast(alloc), "source")
        .filter(F.col("r") <= F.col("alloc"))
        .count()
    )
    dt = time.perf_counter() - t0
    print(f"  mixture x{factor}: {dt:.2f}s ({n} selected)", flush=True)
    return dt


BENCHES = {
    "graph_serve": bench_graph_serve,
    "ivf_serve": bench_ivf_serve,
    "rerank_blend": bench_rerank_blend,
    "rrf": bench_rrf,
    "dedup_eval": bench_dedup_eval,
    "mixture": bench_mixture,
    "exact_dedup": bench_exact_dedup,
    "pq_adc": bench_pq_adc,
    "ivfpq": bench_ivfpq,
    "ivfpq_residual": bench_ivfpq_residual,
    "sq8": bench_sq8,
    "ivf_sq8": bench_ivf_sq8,
    "maxsim_pruned": bench_maxsim_pruned,
    "maxsim_ragged": bench_maxsim_ragged,
    "ivfpq_query_warm": bench_ivfpq_query_warm,
    "knn_graph": bench_knn_graph,
    "knn_graph_sq8": bench_knn_graph_sq8,
    "knn_graph_hot": bench_knn_graph_hot,
    "minhash": bench_minhash,
    "sessionize": bench_sessionize,
    "cosine_topk": bench_cosine,
    "simhash_hamming": bench_simhash_hamming,
    "span_fraction": bench_span_fraction,
    "components_star": bench_components_star,
    "lm_bigram": bench_lm_bigram,
    "cooccurrence": bench_cooccurrence,
    "entity_resolution": bench_entity_resolution,
    "mmr_candidates": bench_mmr,
    "kcore": bench_kcore,
    "ewma": bench_ewma,
    "span_removal": bench_span_removal,
    "cusum": bench_cusum,
    "weighted_sample": bench_weighted_sample,
    "cell_prototypes": bench_cell_prototypes,
    "binary_rerank": bench_binary_rerank,
    "ivf_binary": bench_ivf_binary,
    "range_search": bench_range_search,
    "graph_adaptive": bench_graph_adaptive,
    "graph_adaptive_nlist": bench_graph_adaptive_nlist,
    "mrl": bench_mrl,
    "dsir": bench_dsir,
    "containment": bench_containment,
    "domain_quality": bench_domain_quality,
    "prefix_join": bench_prefix_join,
    "classify_nb": bench_classify_nb,
    "phrase": bench_phrase,
    "pca": bench_pca,
}


def main() -> None:
    factors = [int(a) for a in sys.argv[1:]] or [1, 2, 4]
    only = os.environ.get("SWEEP_ONLY")
    benches = {
        n: f
        for n, f in BENCHES.items()
        if not only or n in only.split(",")
    }
    spark = get_spark(app_name="blspark-scale-sweep")
    for t in ("documents", "events", "embeddings"):
        load_table(spark, SF_DIR, t).count()
    results: dict[str, list[tuple[int, float]]] = {}
    for name, fn in benches.items():
        print(f"{name}:", flush=True)
        fn(spark, 1)  # warm the plan shape
        results[name] = [(f, fn(spark, f)) for f in factors]
    print("\nscaling summary (time ratio vs x1):")
    for name, rows in results.items():
        base = rows[0][1]
        ratios = ", ".join(f"x{f}: {t / base:.2f}" for f, t in rows)
        print(f"  {name}: {ratios}")
    spark.stop()


if __name__ == "__main__":
    main()
