"""Similarity search over embedding columns (array<float>).

Every search entry point here and in ``ext/binaryq.py`` is one
prune -> refine pipeline over a swappable score. The stages and the
glue between them are each written once, so a guard, tie-break or
broadcast fix reaches every rung:

- **Route**: ``_cell_assign`` projects a raw frame to (id, vec, vnorm)
  (``_vecs`` — the double cast and the hoisted norm) and sends each row
  to its nearest ``probes`` IVF cells by guarded cosine (lowest
  cell_id on ties). Corpus sides route at probes=1 (a map-side
  argmin). Query sides go through one of two routers, both returning
  (query_id, qvec, qnorm, cell_id): ``_route`` (a fixed ``nprobe``) or
  ``ivf_adaptive_probe_frame`` (``probe_lo`` or ``probe_hi`` cells per
  query by the top-1/top-2 margin, plus ``nprobe_used``).
  ``_frozen_cells`` is the streaming form against a frozen centroid
  list; LSH routes by ``hyperplane_buckets``.
- **Pair** (``_pair``): the corpus side meets the broadcast query side
  on a probe key (cell, bucket, PQ code) or on nothing, minus self
  pairs.
- **Score**: ``_cos``, the zero-norm-guarded cosine over ``_dot``'s
  ordered fold — a degenerate vector scores -inf, never NaN or an ANSI
  ``DIVIDE_BY_ZERO``. The compressed rungs swap in their own exact
  scorers: ``_sq8_rank``'s int64 ``_idot`` (SQ8, sides built by
  ``_sq8_side``), ``_adc``'s ordered LUT fold (PQ),
  ``binaryq.hamming`` (1-bit codes), MaxSim's token maxima.
- **Ranked tail** (``_ranked``): ``_top``'s per-query ``row_number``
  over (score DESC, neighbor_id ASC), keep rank <= k, then the output
  columns with the scores rounded to 6 dp.
- **Rerank** (``_rescore``): full vectors are fetched only for a
  shortlist of (query_id, neighbor_id) pairs, by broadcast pair join
  against the corpus scan, and scored exactly (cosine, or the inner
  product); ``_ranked`` ranks them again.

Entry points by composition:

- pair + score + tail: ``cosine_topk`` (the brute-force correctness
  baseline), ``sq8_topk``, ``maxsim_topk`` / ``maxsim_tokens_topk``,
  ``pq_adc_topk``;
- route + pair + score + tail: ``ivf_topk`` and ``ivf_adaptive_topk``
  (the same pairing, score and tail behind the two routers),
  ``ivf_sq8_topk``, ``maxsim_pruned_topk`` (routed candidate pairs),
  ``ivfpq_query`` / ``ivfpq_adaptive_query`` over
  ``ivfpq_build_index``'s codes and ``ivfpq_residual_topk`` (all three
  the probed ``_adc`` scan), ``hyperplane_lsh_topk`` (LSH buckets,
  optionally multi-probe);
- pair + score + rank + rerank: ``mrl_topk`` (prefix cosine
  shortlist), ``pq_rerank_topk`` (ADC shortlist),
  ``binaryq.binary_topk`` (Hamming shortlist, inner-product rerank),
  and routed first: ``binaryq.ivf_binary_topk``;
- the graph family routes the corpus once, pairs within cells through
  one self-join shape (``_cell_knn``: ``knn_graph``, ``knn_graph_sq8``,
  ``knn_graph_split``) and ranks with the same score and rank stages.
  Navigation graphs are built once, then walked:
  ``nav_graph_build`` runs one checkpointed ``assign_corpus`` pass for
  the prototypes and the edge core (``graph_adjacency``: within-cell
  kNN edges plus an optional prototype backbone, cells on every edge),
  and the beam walks (``graph_expand_topk``, the persisted-table
  ``graph_expand_topk_indexed``) take the built graph.

Numeric determinism: embeddings are cast float->double (exact), each
elementwise product of two floats is exactly representable in a double,
and the sequential left-to-right ``aggregate`` sum matches DuckDB's
``list_sum`` ordering; cosines are rounded to 6 dp in the output.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


# The family's vectors are 64-dim by corpus contract (the PQ 8x8
# split, PCA's d=64). A 64-term unrolled sum participates in
# whole-stage codegen as straight-line arithmetic, where the
# higher-order aggregate/zip_with fold is CodegenFallback — i.e.
# interpreted per ELEMENT, with a lambda dispatch per multiply-add.
# For the quadratic pairing loops (the kNN-graph cell self-joins score
# |corpus| x cell_size pairs) that interpretation overhead WAS the
# dominant per-task cost (guide §1.2 step 2: per-task work, measured
# ~2.4 s of x_knn_graph's 3.2 s). The unrolled branch folds in the
# SAME order from the same 0.0 init (left-associated adds from index
# 0), so every sum is bit-identical to the HOF fold; non-64-dim
# arrays (ragged token vectors, PQ subvectors) take the original HOF
# branch via the size guard.
_UNROLL_DIM = 64


def _dot(a: Column, b: Column) -> Column:
    """Ordered dot product: the higher-order-function fold (left to
    right from 0.0). The family's default — inside OTHER lambdas
    (e.g. _cell_assign's per-cell transform) the whole expression is
    interpreted anyway, and on METADATA-sized frames inside iterative
    loops (per-hop beam-walk scoring, seed products, subvector LUTs,
    MRL prefix slices) the data volume cannot amortize the 64-term
    tree's extra planning/codegen cost, re-paid on every hop's plan.
    ``_dot_unrolled`` is the bitwise-identical hot-spot variant."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )


def _dot_unrolled(a: Column, b: Column) -> Column:
    """64-term unrolled dot with a size guard falling back to the HOF
    fold — bitwise identical to _dot (same left fold from the same 0.0
    init). Used ONLY at the quadratic pairing hot spot
    (``_float_pairing``'s scored projection), where the |corpus| x
    cell_size evaluation volume amortizes the bigger expression tree
    and whole-stage codegen turns it into straight-line arithmetic
    (the HOF fold is CodegenFallback — interpreted per element with a
    lambda dispatch per multiply-add; A/B: the graph build's scoring
    dropped ~35% with the unroll). Deliberately NOT the default: in
    plans that embed the dot inside larger collapsed projections
    (IVF-PQ residual) Catalyst duplicates the 64-term tree per
    consumer and the generated method blows past JIT limits —
    A/B-measured ~+2 s on x_similarity_ivfpq_residual when this was
    the default _dot."""
    unrolled = F.lit(0.0).cast("double")
    for i in range(_UNROLL_DIM):
        unrolled = unrolled + a[i] * b[i]
    return F.when(
        (F.size(a) == _UNROLL_DIM) & (F.size(b) == _UNROLL_DIM), unrolled
    ).otherwise(_dot(a, b))


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0).cast("double"), lambda acc, x: acc + x * x))


def with_double_vec(df: DataFrame, vec_col: str, out: str = "vec") -> DataFrame:
    return df.withColumn(out, F.col(vec_col).cast("array<double>"))


def _vecs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    id_out: str | None = None,
    vec_out: str = "vec",
    norm_out: str = "vnorm",
) -> DataFrame:
    """The (id, vec, norm) projection every stage reads: the vector
    cast to array<double> (exact) and its norm hoisted — computed once
    per row instead of once per compared pair (measured 2x on
    ``cosine_topk``: higher-order array functions are interpreted, so
    redundant per-pair evaluation is the hot spot). ``id_out`` renames
    the id (None keeps ``id_col``)."""
    idc = F.col(id_col) if id_out is None else F.col(id_col).alias(id_out)
    return with_double_vec(df, vec_col).select(
        idc, F.col("vec").alias(vec_out), _norm(F.col("vec")).alias(norm_out)
    )


def _cos(a, b, an, bn, dot=_dot) -> Column:
    """The family's one cosine score, zero-norm guarded: a degenerate
    zero vector has no direction, so it scores -inf (ranks LAST)
    instead of NaN (which sorts FIRST under DESC) or an ANSI 0/0
    ``DIVIDE_BY_ZERO`` abort. Finite sims are untouched — the division
    only evaluates when the denominator is positive. ``a``/``b`` are
    the vectors and ``an``/``bn`` their hoisted norms, as column names
    or Columns; ``dot`` swaps the fold (``_dot_unrolled``)."""
    a, b, an, bn = (F.col(c) if isinstance(c, str) else c for c in (a, b, an, bn))
    den = an * bn
    return F.when(den > 0, dot(a, b) / den).otherwise(F.lit(float("-inf")))


def _top(
    df: DataFrame,
    score,
    tie: str,
    k: int | None = None,
    by: tuple = ("query_id",),
    rank: str = "rank",
    asc: bool = False,
) -> DataFrame:
    """The family's one per-query top-k tail: ``row_number`` within
    ``by`` over (``score`` DESC — ASC for a distance — then ``tie``
    ASC), a total order in both engines, keeping rank <= ``k`` (every
    row when ``k`` is None). ``score`` is a column name or Column."""
    order = F.asc(score) if asc else F.desc(score)
    w = Window.partitionBy(*by).orderBy(order, F.asc(tie))
    out = df.withColumn(rank, F.row_number().over(w))
    return out if k is None else out.filter(F.col(rank) <= k)


def _route(
    queries: DataFrame, centroids: DataFrame, id_col: str, vec_col: str, nprobe: int
) -> DataFrame:
    """The fixed query-side Route: each query's ``nprobe`` nearest cells
    by ``_cell_assign``'s rule, as (query_id, qvec, qnorm, cell_id)
    rows. The probe list is Q x nprobe rows, metadata-sized, so it
    skips the corpus side's local-parallelism repartition
    (``local_par``): the round-robin exchange was pure serve-path
    overhead there. The margin-adaptive router is
    ``ivf_adaptive_probe_frame``, which returns the same columns plus
    ``nprobe_used``."""
    return _cell_assign(
        queries, centroids, id_col, vec_col, nprobe, local_par=False
    ).select(
        F.col(id_col).alias("query_id"),
        F.col("vec").alias("qvec"),
        F.col("vnorm").alias("qnorm"),
        "cell_id",
    )


def _pair(c: DataFrame, q: DataFrame, on=None) -> DataFrame:
    """The Pairing step: corpus rows ``c`` (neighbor_id, ...) meet the
    BROADCAST query side ``q`` (query_id, ...) on the probe key ``on``
    (a cell, an LSH bucket, a PQ (m, code) key; a name or a list), or
    every query when ``on`` is None; self pairs drop. The query side is
    Q x probes rows, metadata-sized by contract, and is broadcast
    explicitly: a probe list's window-over-crossJoin lineage defeats
    Catalyst's size estimate, which would otherwise plan a
    SortMergeJoin that shuffles the corpus on the key. Each neighbor
    lives in one cell (one bucket) and a query's probes are distinct,
    so (query, neighbor) pairs stay unique without a distinct."""
    ne = F.col("neighbor_id") != F.col("query_id")
    if on is None:
        return c.join(F.broadcast(q), ne)
    return c.join(F.broadcast(q), on).filter(ne)


def _ranked(
    scored: DataFrame, score, k: int, *cols, by: tuple = ("query_id",)
) -> DataFrame:
    """The Ranked tail: ``_top`` (``score`` DESC, neighbor_id ASC within
    ``by``, rank <= ``k``), then (query_id, neighbor_id, *cols, rank).
    A ``(column, name)`` pair in ``cols`` is that column rounded to
    6 dp as ``name``: the family ranks on the raw score and rounds only
    its output."""
    out = [F.round(c[0], 6).alias(c[1]) if isinstance(c, tuple) else c for c in cols]
    return _top(scored, score, "neighbor_id", k, by).select(
        "query_id", "neighbor_id", *out, "rank"
    )


def _rescore(
    corpus: DataFrame,
    queries: DataFrame,
    pairs: DataFrame,
    id_col: str,
    vec_col: str,
    dot: bool = False,
) -> DataFrame:
    """The Rerank stage: full vectors are fetched only for the
    shortlisted (query_id, neighbor_id, ...) ``pairs``, corpus rows by
    a broadcast pair join against the corpus scan (at 100 TB on a
    sorted/bucketed layout, a point lookup) and query rows broadcast
    whole, then scored exactly: the guarded cosine as ``cos_raw``, or
    with ``dot`` the ordered inner product as ``score_raw``. Returns
    (query_id, neighbor_id, the other ``pairs`` columns, score);
    ``_ranked`` ranks it."""
    cf = _vecs(corpus, id_col, vec_col, "neighbor_id", "cvec", "cnorm")
    qf = _vecs(queries, id_col, vec_col, "query_id", "qvec", "qnorm")
    fetched = cf.join(F.broadcast(pairs), "neighbor_id").join(
        F.broadcast(qf), "query_id"
    )
    if dot:
        raw, score = "score_raw", _dot(F.col("cvec"), F.col("qvec"))
    else:
        raw, score = "cos_raw", _cos("cvec", "qvec", "cnorm", "qnorm")
    return fetched.withColumn(raw, score).drop("cvec", "cnorm", "qvec", "qnorm")


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.
    Returns (query_id, neighbor_id, cosine, rank); self-matches excluded.
    The queries side is broadcast — the corpus is scanned once, no
    shuffle until the final per-query top-k (tiny)."""
    c = _vecs(corpus, id_col, vec_col, "neighbor_id", "vec", "cnorm")
    q = _vecs(queries, id_col, vec_col, "query_id", "qvec", "qnorm")
    scored = _pair(c, q).select(
        "query_id",
        "neighbor_id",
        _cos("vec", "qvec", "cnorm", "qnorm").alias("cos_raw"),
    )
    return _ranked(scored, "cos_raw", k, ("cos_raw", "cosine"))


def mrl_prefix_ranked(
    corpus: DataFrame,
    queries: DataFrame,
    prefix_dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-query cosine ranking of the whole corpus over the FIRST
    ``prefix_dim`` dimensions — the candidate stage of ``mrl_topk``,
    exposed (the ``hamming_ranked`` device) so the eval can cut BOTH
    its shortlist and its prefix-only baseline from the one copy of
    the truncation/tie-break rule. Returns (query_id, neighbor_id,
    pcos, prank) with prank by (pcos DESC, neighbor_id ASC);
    self-matches excluded. The prefix slice and its norm are computed
    map-side in the corpus scan stage — at deployment the truncated
    index is the stored artifact (prefix_dim/dim of the float
    bytes)."""

    def prefix(df: DataFrame, id_out: str, v: str, n: str) -> DataFrame:
        return with_double_vec(df, vec_col).select(
            F.col(id_col).alias(id_out),
            F.slice(F.col("vec"), 1, prefix_dim).alias(v),
        ).withColumn(n, _norm(F.col(v)))

    pscored = _pair(
        prefix(corpus, "neighbor_id", "pvec", "pnorm"),
        prefix(queries, "query_id", "qpvec", "qpnorm"),
    ).select(
        "query_id",
        "neighbor_id",
        _cos("pvec", "qpvec", "pnorm", "qpnorm").alias("pcos"),
    )
    return _top(pscored, "pcos", "neighbor_id", rank="prank")


def mrl_topk(
    corpus: DataFrame,
    queries: DataFrame,
    prefix_dim: int,
    k: int = 5,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Matryoshka (MRL) truncated-dimension ANN with exact full-dim
    rerank — the serving shape of matryoshka-trained embedding models
    (Kusupati et al. 2022; the truncation knob production embedding
    APIs expose): candidate generation runs cosine over only the FIRST
    ``prefix_dim`` dimensions of each vector (an MRL model packs the
    coarse semantics into the prefix, so the truncated vector is a
    usable index key), then an exact full-dimension cosine reranks the
    per-query ``shortlist`` and top-``k`` survives. Self-matches
    excluded.

    Plan shape (the 100 TB contract, same skeleton as binary_topk):
    the corpus is scanned once and the prefix slice + its norm are
    computed map-side (at deployment, the truncated index IS the
    stored artifact — prefix_dim/dim of the float bytes; at 16 of 64
    dims that is a 4x smaller scan than brute force with zero
    training, quantization or cell routing); the truncated QUERY
    frame is broadcast; the shortlist cut is one per-query window
    over (prefix_cos, neighbor_id); full vectors are touched ONLY to
    fetch the |queries| x shortlist rerank pairs (``_rescore``, the
    rerank the PQ and binary rungs share). Composes below the
    other rungs: MRL truncation is orthogonal to SQ8/PQ/binary — a
    deployment quantizes the PREFIX.

    Determinism (oracle-hash contract): prefix slice is positional
    (F.slice / DuckDB list slicing, both 1-based order-preserving);
    both cosine stages are the family's ordered float folds with the
    zero-norm -inf guard; ties by neighbor_id; the only rounding is
    ROUND(.,6) on the output columns, both sides.

    Returns (query_id, neighbor_id, cosine, prefix_cosine, rank) —
    cosine the exact full-dim score the final rank orders by,
    prefix_cosine the truncated score that shortlisted the pair.
    Recall vs brute force is priced by the registered x_mrl_eval
    contract exactly like the PQ/SQ8/binary rungs."""
    pairs = (
        mrl_prefix_ranked(corpus, queries, prefix_dim, id_col, vec_col)
        .filter(F.col("prank") <= shortlist)
        .select("query_id", "neighbor_id", "pcos")
    )
    return _ranked(
        _rescore(corpus, queries, pairs, id_col, vec_col),
        "cos_raw",
        k,
        ("cos_raw", "cosine"),
        ("pcos", "prefix_cosine"),
    )


def sq8_quantize(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "vec",
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Symmetric int8 scalar quantization (the FAISS SQ8 shape, and the
    vector form of x_embed_quantize's per-element output): per vector,
    scale = max|x|/127, code_i = floor(x_i/scale + 0.5) in [-127, 127].
    4x storage/bandwidth vs float32 — at 100 TB of embeddings, the scan
    reads a quarter of the bytes and the hot inner loop is integer
    multiply-add. Zero-vector rows (scale 0) quantize to all-zero codes
    with scale 0 — they carry no direction, every score is 0.

    floor(x + 0.5), never round(): half-even vs half-up rounding
    differs between engines; floor is bit-deterministic in IEEE double.
    Returns (id, *keep, qvec array<int>, scale double) — ``keep``
    names extra input columns to carry through (the streaming IVF,SQ8
    index keeps its cell_id)."""
    maxabs = F.array_max(F.transform(F.col(vec_col), lambda x: F.abs(x)))
    scale = maxabs / F.lit(127.0)
    return df.select(
        F.col(id_col),
        *[F.col(c) for c in keep],
        F.transform(
            F.col(vec_col),
            lambda x: F.when(
                scale > 0, F.floor(x / scale + F.lit(0.5)).cast("int")
            ).otherwise(F.lit(0)),
        ).alias("qvec"),
        F.when(scale > 0, scale).otherwise(F.lit(0.0)).alias("scale"),
    )


def _idot_hof(a: Column, b: Column) -> Column:
    """The original HOF fold of _idot — for call sites INSIDE other
    lambdas (the stateless streaming edge maintenance's per-member
    transform), where everything is interpreted anyway and the
    unrolled tree only adds walk overhead. Bit-for-bit the same sum
    (integer addition is order-free)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x * y).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _idot(a: Column, b: Column) -> Column:
    """Integer dot product over int-code arrays — EXACT (int64
    accumulation; 64 dims x 127^2 maxes far below 2^63), so unlike the
    float folds there is no association concern at all. 64-dim codes
    take the unrolled codegen branch (see _dot — integer sums are
    order-free, so this one is trivially identical); other lengths
    keep the HOF fold."""
    unrolled = F.lit(0).cast("long")
    for i in range(_UNROLL_DIM):
        unrolled = unrolled + (a[i] * b[i]).cast("long")
    return F.when(
        (F.size(a) == _UNROLL_DIM) & (F.size(b) == _UNROLL_DIM), unrolled
    ).otherwise(_idot_hof(a, b))


def sq8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "vec",
) -> DataFrame:
    """Approximate top-k by inner product over SQ8 codes — the scalar-
    quantization rung of the compression ladder (PQ quantizes
    subVECTORS against a trained codebook; SQ8 quantizes each SCALAR
    against the vector's own range — no training, better fidelity,
    less compression). Score decomposes exactly:

        dot(x_hat, q_hat) = scale_x * scale_q * idot(qv_x, qv_q)

    where idot is an EXACT int64 sum — the whole corpus-side inner
    loop is integer multiply-add on a quarter of the bytes, with ONE
    double multiply per (query, neighbor) pair at the end. Plan shape
    mirrors cosine_topk: quantization is map-side in the same stage as
    the scan, queries broadcast, no shuffle until the per-query top-k.
    Returns (query_id, neighbor_id, score, iprod, rank); score is the
    reconstructed inner product (6 dp), iprod the exact integer dot.
    """
    return _sq8_rank(
        _pair(
            _sq8_side(corpus, id_col, vec_col, "n"),
            _sq8_side(queries, id_col, vec_col, "q"),
        ),
        k,
    )


def _sq8_side(
    df: DataFrame, id_col: str, vec_col: str, side: str, keep: tuple = ()
) -> DataFrame:
    """One side of an SQ8 pairing: ``sq8_quantize``'s codes under the
    names ``_sq8_rank`` reads — side "q" gives (query_id, qq, qscale),
    side "n" gives (neighbor_id, *keep, nq, nscale)."""
    return sq8_quantize(df, id_col=id_col, vec_col=vec_col, keep=keep).select(
        F.col(id_col).alias("query_id" if side == "q" else "neighbor_id"),
        *keep,
        F.col("qvec").alias(side + "q"),
        F.col("scale").alias(side + "scale"),
    )


def _sq8_rank(
    paired: DataFrame, k: int, keep: tuple = (), part_extra: tuple = ()
) -> DataFrame:
    """The SQ8 score + ranked tail shared by ``sq8_topk``,
    ``ivf_sq8_topk``, the persisted-index probes and the graph's SQ8
    rung (one copy, so the exact int64 core and the rank/tie-break
    rules can never diverge between the plain and the cell-pruned
    paths). ``paired`` must carry (query_id, neighbor_id, nq, nscale,
    qq, qscale); ``keep`` names extra ``paired`` columns to carry
    through to the output unchanged (the filtered-index query rides
    the neighbor's attribute along). ``part_extra`` names ``paired``
    columns PREPENDED to the window's partition spec and dropped from
    the output — the graph self-join's plain path passes its cell key
    (functionally determined by query_id, so ranking is identical)
    because hash(cell_id) from the join already satisfies the widened
    clustering and the pair-list Exchange before the window disappears
    (optimization r16, guide §2.4). That quadratic self-join is also
    the one caller whose pair volume amortizes the unrolled int64
    core (-35% A/B on x_knn_graph_sq8), so a non-empty ``part_extra``
    switches it on; the query-set serve paths keep the HOF fold (their
    probe volumes are small and the bigger per-plan codegen cost
    measured as a regression on the persisted-index scans — the
    _dot/_dot_unrolled split's rationale, identical sums either
    way)."""
    idot = _idot if part_extra else _idot_hof
    scored = paired.select(
        "query_id",
        "neighbor_id",
        *part_extra,
        *keep,
        idot(F.col("nq"), F.col("qq")).alias("iprod"),
        (F.col("nscale") * F.col("qscale")).alias("ss"),
    )
    score = F.col("iprod") * F.col("ss")
    return _ranked(
        scored, score, k, *keep, (score, "score"), "iprod",
        by=(*part_extra, "query_id"),
    )


def ivf_sq8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "vec",
) -> DataFrame:
    """IVF-pruned SQ8 — the FAISS ``IVF,SQ8`` index shape: the IVF
    stage (the SAME ``_cell_assign`` rule the whole family shares)
    restricts the SQ8 integer-dot scoring to each query's ``nprobe``
    nearest cells. Where IVF-PQ prunes WHICH vectors are scored AND
    compresses 32x with trained codes, IVF-SQ8 keeps the
    training-free 4x codes with near-exact ranking — the drop-in when
    PQ's codebook recall floor is too lossy but a full scan is too
    expensive. With ``nprobe == |cells|`` the restriction is vacuous —
    results equal plain ``sq8_topk`` (property-tested).

    Plan shape — ONE corpus pass, ZERO corpus-sized join shuffles:
    quantization rides the cell-assigned frame (``sq8_quantize`` with
    cell_id carried through), and the (probe, quantized-query) list —
    Q x nprobe rows — joins it as a BROADCAST on cell_id, so the
    corpus side never exchanges for the pairing (at 100 TB a
    corpus-sized shuffle IS the query cost). Scoring and ranking are
    ``_sq8_rank``, shared verbatim with ``sq8_topk``; pairs are unique
    by construction (each neighbor lives in exactly one cell)."""
    cq = _sq8_side(
        _cell_assign(corpus, centroids, id_col, vec_col, 1),
        id_col, "vec", "n", ("cell_id",),
    )
    probe_q = _route(queries, centroids, id_col, vec_col, nprobe).join(
        _sq8_side(queries, id_col, vec_col, "q"), "query_id"
    )
    return _sq8_rank(_pair(cq, probe_q, "cell_id"), k)


def maxsim_topk(
    corpus: DataFrame,
    queries: DataFrame,
    n_tokens: int,
    token_dim: int,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "vec",
    candidates: DataFrame | None = None,
) -> DataFrame:
    """ColBERT-style late-interaction retrieval (MaxSim): documents and
    queries are MULTI-vector representations (n_tokens token vectors of
    token_dim dims, sliced from the packed vector column — the layout a
    real ColBERT index ships), and

        score(q, d) = sum_i max_j dot(q_token_i, d_token_j)

    — each query token finds its best-matching document token, and the
    per-token maxima sum. This is a different FAMILY from single-vector
    ANN: the interaction happens per token pair at query time, which is
    what makes late interaction robust to polysemy (one of q's tokens
    can match d's third sentence while another matches its title).

    Determinism: every pairwise dot is the sequential-fold ``_dot``;
    MAX is a pure selection (no accumulation error); the final sum over
    the query's n_tokens maxima folds in token order (collect, sort,
    sequential aggregate — DuckDB's ``list_sum(list(best ORDER BY
    qm))``).

    Scale shape: query token vectors broadcast (Q x n_tokens rows); the
    corpus token explode is map-side in the scan's stage; the
    (query, doc, query_token) MAX and the (query, doc) ordered sum are
    both hash aggregates with map-side partials — the only shuffle of
    corpus-sized data is (query, doc)-keyed rows of one double.
    ``candidates``: optional (query_id, neighbor_id) frame restricting
    which pairs are scored — the 100 TB shape: an IVF/LSH stage
    produces the candidate set, MaxSim scores ONLY those pairs instead
    of the full cross product (``maxsim_pruned_topk`` wires the IVF
    version). With candidates, the corpus token frame joins them on
    neighbor_id (an equi-join that prunes before any query pairing);
    without, every (doc, query) pair is scored.

    Returns (query_id, neighbor_id, score, rank)."""
    d_tok = pq_subvectors(
        corpus, n_tokens, token_dim, id_col=id_col, vec_col=vec_col
    ).select(F.col(id_col).alias("neighbor_id"), "m", "sv")
    q_tok = pq_subvectors(
        queries, n_tokens, token_dim, id_col=id_col, vec_col=vec_col
    ).select(F.col(id_col).alias("query_id"), F.col("m").alias("qm"),
             F.col("sv").alias("qsv"))
    return maxsim_tokens_topk(d_tok, q_tok, k=k, candidates=candidates)


def ragged_subvectors(
    df: DataFrame,
    token_dim: int,
    n_tokens_col: Column,
    id_col: str = "vec_id",
    vec_col: str = "vec",
) -> DataFrame:
    """Slice each packed vector into a VARIABLE number of token
    subvectors — the real ColBERT index layout, where documents have
    however many tokens they have (``pq_subvectors`` is the fixed-
    width special case). ``n_tokens_col`` is a per-row expression for
    the token count; row i yields tokens m = 0..n-1, each the
    ``token_dim``-length slice at m*token_dim. Map-side explode — n
    rows per vector, each carrying only its slice; no shuffle. A row
    with n <= 0 (an EMPTY document) yields ZERO token rows — guarded
    explicitly, because ``sequence(0, n-1)`` with n=0 would otherwise
    generate the DESCENDING sequence [0, -1] and fabricate two
    phantom tokens (m=-1 slicing from the END of the packed vector).

    The packed vector is VALIDATED row-wise (raise_error when
    size(vec) < n*token_dim — pq_subvectors' device): a short vector
    would otherwise slice to short/empty token subvectors whose
    zip_with dots come out null, silently zeroing the doc's MaxSim
    contribution. Returns (id, m, sv)."""
    n = n_tokens_col.cast("int")
    checked = F.when(F.size(F.col(vec_col)) >= n * token_dim, F.col(vec_col)).otherwise(
        F.raise_error(
            F.concat(
                F.lit("ragged_subvectors: vector too short for "),
                n.cast("string"),
                F.lit(f" tokens x {token_dim} dims: size "),
                F.size(F.col(vec_col)).cast("string"),
                F.lit(f" for {id_col}="),
                F.col(id_col).cast("string"),
            )
        )
    )
    ms = F.when(n > 0, F.sequence(F.lit(0), n - 1)).otherwise(
        F.array().cast("array<int>")
    )
    return df.select(
        F.col(id_col),
        F.explode(ms).alias("m"),
        checked.alias("_v"),
    ).select(
        id_col,
        "m",
        F.slice(F.col("_v"), F.col("m") * token_dim + 1, token_dim).alias("sv"),
    )


def maxsim_tokens_topk(
    d_tok: DataFrame,
    q_tok: DataFrame,
    k: int = 5,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """MaxSim over pre-built token frames — the core ``maxsim_topk``
    slices fixed-width tokens into, exposed directly so RAGGED
    multi-vector representations (variable token counts per document
    and per query — the shape a real ColBERT index ships) score with
    the identical arithmetic. ``d_tok`` carries (neighbor_id, m, sv);
    ``q_tok`` carries (query_id, qm, qsv). Determinism, candidate
    semantics, and the scale shape are exactly ``maxsim_topk``'s —
    the per-(query, doc, qtoken) MAX is cardinality-agnostic, and the
    final sum folds the query's OWN token maxima in qm order, however
    many there are. With ``candidates`` the query tokens pair on
    query_id with the candidate-restricted document tokens."""
    on = None
    if candidates is not None:
        d_tok = d_tok.join(candidates.select("query_id", "neighbor_id"), "neighbor_id")
        on = "query_id"
    best = (
        _pair(d_tok, q_tok, on)
        .select(
            "query_id", "neighbor_id", "qm",
            _dot(F.col("sv"), F.col("qsv")).alias("dp"),
        )
        .groupBy("query_id", "neighbor_id", "qm")
        .agg(F.max("dp").alias("best"))
    )
    scored = best.groupBy("query_id", "neighbor_id").agg(
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("qm", "best"))),
                lambda s: s["best"],
            ),
            F.lit(0.0).cast("double"),
            lambda acc, x: acc + x,
        ).alias("score_raw")
    )
    return _ranked(scored, "score_raw", k, ("score_raw", "score"))


def maxsim_pruned_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    n_tokens: int,
    token_dim: int,
    k: int = 5,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "vec",
) -> DataFrame:
    """IVF-pruned MaxSim — late interaction at corpus scale: the IVF
    stage (the SAME ``_cell_assign`` rule the whole family shares)
    produces (query, probed cell) pairs; only documents in a query's
    probed cells get the full token-level MaxSim scoring. At 100 TB the
    expensive O(n_tokens^2) interaction runs on |probed cells|/|cells|
    of the corpus, and with ``nprobe == |cells|`` the restriction is
    vacuous — results equal plain ``maxsim_topk`` (property-tested).
    Candidates are (query, doc) pairs from the cell-assigned corpus
    paired with the routed probe list on cell_id (``_route`` +
    ``_pair``) — no cross product anywhere, pairs unique by
    one-cell-per-neighbor."""
    cells = _cell_assign(corpus, centroids, id_col, vec_col, 1).select(
        F.col(id_col).alias("neighbor_id"), "cell_id"
    )
    probes = _route(queries, centroids, id_col, vec_col, nprobe)
    return maxsim_topk(
        corpus, queries, n_tokens, token_dim, k=k, id_col=id_col,
        vec_col=vec_col,
        candidates=_pair(cells, probes, "cell_id").select("query_id", "neighbor_id"),
    )


def hyperplane_buckets(
    df: DataFrame,
    hyperplanes: list[list[float]],
    vec_col: str = "vec",
    out: str = "bucket",
) -> DataFrame:
    """Bucket id from the sign pattern of dot products against shared
    hyperplanes: bit i set iff dot(vec, h_i) >= 0."""
    bucket = F.lit(0)
    for i, h in enumerate(hyperplanes):
        hcol = F.array(*[F.lit(float(x)).cast("double") for x in h])
        bucket = bucket + F.when(_dot(F.col(vec_col), hcol) >= 0, F.lit(2**i)).otherwise(
            F.lit(0)
        )
    return df.withColumn(out, bucket.cast("int"))


def _centroid_frame(centroids: DataFrame) -> DataFrame:
    """(cell_id, cvec, centnorm) from (cell_id, centroid) — norms
    hoisted out of every join (see cosine_topk): each centroid's norm
    is computed once, not once per compared pair."""
    return centroids.select(
        F.col("cell_id"),
        F.col("centroid").cast("array<double>").alias("cvec"),
        _norm(F.col("centroid").cast("array<double>")).alias("centnorm"),
    )


def _cell_assign(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    probes: int,
    id_out: str | None = None,
    keep_sim: bool = False,
    local_par: bool = True,
) -> DataFrame:
    """The Route stage: nearest-``probes``-cells assignment by max
    cosine (tie-break lowest cell_id) — the ONE cell-assignment rule
    the whole IVF family shares, so IVF, IVF-SQ8, IVF-PQ, IVF-binary
    and the graph builds can never silently diverge. ``df`` is a raw
    frame carrying ``id_col`` and ``vec_col``; ``centroids`` the raw
    (cell_id, centroid) frame. Returns (id, vec, vnorm, cell_id) —
    the ``_vecs`` projection, id renamed to ``id_out`` when given,
    plus the cell. Centroids broadcast. ``keep_sim``
    (probes == 1 only) appends the winning cosine as ``cell_sim``
    (cell_prototypes reads it); recovered from the argmin struct as
    ``-neg`` — IEEE negation is exact, so the value is bit-identical
    to the scored input.

    probes == 1 — the corpus-side shape, i.e. the CORPUS-SIZED one —
    plans as a hash-aggregate argmin (min over (-sim, cell_id) structs:
    IEEE negation is exact, so the ordering and the lowest-cell
    tie-break are bit-identical to the window's DESC rank; the same
    device ``pq_assign`` uses), which partial-aggregates map-side
    instead of sorting every row in a WindowExec — at 100 TB that is
    the difference between a full-corpus sort and a map-side combine.
    probes > 1 (the per-QUERY probe list, metadata-sized) keeps the
    rank window. Equality of the two paths is property-tested.

    Degenerate (zero-norm) vectors or centroids score -inf instead of
    the raw division result: the two paths order non-finite sims
    OPPOSITELY otherwise (``min(struct(...))`` puts NULL/NaN first,
    the DESC window puts them last — ADVICE r8), so the guard pins
    both paths to "a zero-norm pairing never wins a cell" and keeps
    them bit-identical on any input. Finite sims are untouched (the
    division only evaluates when the denominator is positive)."""
    if keep_sim and probes != 1:
        raise ValueError("keep_sim requires probes == 1")
    cent = _centroid_frame(centroids)
    df = _vecs(df, id_col, vec_col, id_out)
    idc = id_out or id_col
    if probes == 1:
        # MAP-SIDE argmin (optimization r16): score the |cells|
        # centroid list — collected cell_id-sorted into ONE broadcast
        # row — per corpus row, instead of exploding a corpus x nlist
        # pair frame through a two-level SortAggregate (min(struct) +
        # first(array) buffers disqualify hash aggregation, so the old
        # shape SORTED the exploded product and EXCHANGED the whole
        # corpus — vectors included — once per assignment). Per row:
        # one transform computes the identical per-cell negated score
        # (same _dot, same guarded division; degenerate pairs score
        # +inf = the old -inf-never-wins rule), array_min takes the
        # winner and array_position its FIRST index — the cells are
        # pre-sorted by cell_id, so equal-score ties resolve to the
        # lowest cell exactly like min(struct(neg, cell_id)). The
        # winning cell and (keep_sim) the recovered cosine -min are
        # value-identical to the aggregate path (sole corner: a
        # winning score of exactly -0.0 tied with +0.0, impossible on
        # this data and diffcheck-verified absent at every SF) — and
        # the assignment becomes one narrow projection of the scan:
        # zero exchanges, zero sorts, at any corpus size.
        # Scale-adaptive parallelism restore (conf-gated, see
        # session.py): with the fold the assignment keeps the SCAN's
        # partitioning — correct at scale (a 100 TB table has
        # thousands of row groups), but the single-row-group local
        # test files would otherwise run the whole downstream stage in
        # one task. The local default repartitions the compact
        # (id, vec, norm) projection across the cores; production
        # leaves it unset and pays ZERO shuffle for the assignment.
        # The query router ``_route`` turns ``local_par`` off even
        # locally — QUERY-side assigns are metadata-sized, so the
        # round-robin exchange was pure serve-path overhead (the r16
        # A/B's +14-18% on the IVF/PQ serve family; VERDICT r16 item
        # 4): only CORPUS-side callers ask for the parallelism
        # restore.
        par = df.sparkSession.conf.get("blspark.assign.localParallelism", "")
        if local_par and par and int(par) > 0:
            df = df.repartition(int(par))
        cent1 = cent.agg(
            F.array_sort(
                F.collect_list(F.struct("cell_id", "cvec", "centnorm"))
            ).alias("_cells")
        )
        negs = F.transform(
            F.col("_cells"),
            lambda c: F.when(
                (F.col("vnorm") * c["centnorm"]) > 0,
                -(
                    _dot(F.col("vec"), c["cvec"])
                    / (F.col("vnorm") * c["centnorm"])
                ),
            ).otherwise(F.lit(float("inf"))),
        )
        # robustness guards (ADVICE r16, both unreachable on real
        # corpora, both pinning the fold to the old aggregate path's
        # behavior): (a) an EMPTY centroid frame must yield zero rows
        # — the collect_list agg always emits one row, so without the
        # size filter the crossJoin would fabricate null-cell rows
        # where the old empty crossJoin emitted none; (b) should
        # array_position(_negs, array_min(_negs)) ever return 0 (the
        # min not found under whatever equality applies, e.g. on
        # all-NaN scores), element_at(_cells, 0) would abort under
        # ANSI — greatest(1, ...) picks the LOWEST cell_id, exactly
        # what min(struct(NaN, cell_id)) resolved to.
        cent1 = cent1.filter(F.size("_cells") > 0)
        best = F.element_at(
            F.col("_cells"),
            F.greatest(
                F.lit(1),
                F.array_position(
                    F.col("_negs"), F.array_min(F.col("_negs"))
                ).cast("int"),
            ),
        )
        sim_cols = (
            [(-F.array_min(F.col("_negs"))).alias("cell_sim")]
            if keep_sim
            else []
        )
        return (
            df.crossJoin(F.broadcast(cent1))
            .select(
                F.col(idc), "vec", "vnorm", "_cells", negs.alias("_negs")
            )
            .select(
                idc, "vec", "vnorm",
                best["cell_id"].alias("cell_id"), *sim_cols,
            )
        )
    scored = df.crossJoin(F.broadcast(cent)).select(
        F.col(idc),
        "vec",
        "vnorm",
        "cell_id",
        _cos("vec", "cvec", "vnorm", "centnorm").alias("cell_sim"),
    )
    return _top(
        scored, "cell_sim", "cell_id", probes, by=(idc,), rank="crank"
    ).drop("cell_sim", "crank")


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 1,
) -> DataFrame:
    """IVF (inverted-file) ANN: assign every corpus vector to its nearest
    centroid cell; a query probes only its ``nprobe`` nearest cells.
    ``centroids`` is a tiny (cell_id int, centroid array<double>) frame —
    broadcast everywhere; cell assignment is an argmin over a handful of
    dot products, fully JVM-side.

    With ``nprobe == |centroids|`` this degrades to exact brute force
    (the correctness property tests assert); with nprobe=1 the bucketed
    equi-join on cell_id replaces the cross product — the same shuffle
    shape as the LSH variant but with learned, data-adaptive cells.
    Scores are the family's zero-norm-guarded cosine (a degenerate
    vector ranks LAST as -inf). Returns (query_id, neighbor_id,
    cosine, rank)."""
    c = _cell_assign(corpus, centroids, id_col, vec_col, 1, "neighbor_id")
    q = _route(queries, centroids, id_col, vec_col, nprobe)
    scored = _pair(c, q, "cell_id").select(
        "query_id",
        "neighbor_id",
        _cos("vec", "qvec", "vnorm", "qnorm").alias("cos_raw"),
    )
    return _ranked(scored, "cos_raw", k, ("cos_raw", "cosine"))


def ivf_adaptive_probe_frame(
    queries: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_lo: int = 2,
    probe_hi: int = 4,
    margin_threshold: float = 0.05,
) -> DataFrame:
    """The margin-adaptive query-side Route — the recall/latency knob a
    fixed ``nprobe`` (``_route``) lacks: a query whose top-1 cell wins
    by a CLEAR margin (top1 - top2 cosine >= ``margin_threshold``)
    scans only its ``probe_lo`` nearest cells; an AMBIGUOUS query
    (small margin — it sits near a cell boundary, where true neighbors
    spill into the runner-up cells) widens to ``probe_hi``. Returns
    (query_id, qvec, qnorm, cell_id, nprobe_used) rows, ``probe_lo``
    or ``probe_hi`` per query — what eval contracts count
    scanned-cell budgets from. With ``probe_lo == probe_hi == n`` the
    cells are exactly the fixed-``nprobe`` probe list (the margin
    branch is vacuous).

    The margin guards the family's degenerate cases: with fewer than
    two cells, or a zero-norm query/centroid (cell_sim pinned to -inf
    by the shared guard), the margin is forced to 0.0 — never NaN
    (-inf minus -inf), which the two engines ORDER oppositely. Under
    the usual ``margin_threshold > 0`` a 0.0 margin classifies as
    ambiguous and scans ``probe_hi``; with ``margin_threshold <= 0``
    (allowed — tests use it to force one branch) the 0.0 sentinel
    qualifies as confident and a degenerate query scans ``probe_lo``
    instead, exactly like every other query.

    Scale shape: queries x |cells| is metadata-sized (centroids
    broadcast); the per-query rank window and the two conditional-max
    windows partition by query id — no corpus-sized work anywhere."""
    if probe_lo > probe_hi:
        raise ValueError("probe_lo must be <= probe_hi")
    if probe_lo < 1:
        # probe_cells_stateless raises on the same input — the two
        # routing paths must agree; a silent 0-probe confident query
        # would vanish from results instead of erroring
        raise ValueError("probe_lo must be >= 1")
    scored = (
        _vecs(queries, id_col, vec_col, "query_id")
        .crossJoin(F.broadcast(_centroid_frame(centroids)))
        .select(
            "query_id",
            "vec",
            "vnorm",
            "cell_id",
            _cos("vec", "cvec", "vnorm", "centnorm").alias("cell_sim"),
        )
    )
    wq = Window.partitionBy("query_id")
    ranked = _top(scored, "cell_sim", "cell_id", by=("query_id",), rank="crank")
    s1 = F.max(F.when(F.col("crank") == 1, F.col("cell_sim"))).over(wq)
    s2 = F.max(F.when(F.col("crank") == 2, F.col("cell_sim"))).over(wq)
    neg_inf = F.lit(float("-inf"))
    margin = F.when(
        s2.isNotNull() & (s1 > neg_inf) & (s2 > neg_inf), s1 - s2
    ).otherwise(F.lit(0.0))
    nprobe_used = F.when(
        margin >= F.lit(margin_threshold), F.lit(probe_lo)
    ).otherwise(F.lit(probe_hi))
    return (
        ranked.withColumn("nprobe_used", nprobe_used)
        .filter(F.col("crank") <= F.col("nprobe_used"))
        .select(
            "query_id",
            F.col("vec").alias("qvec"),
            F.col("vnorm").alias("qnorm"),
            "cell_id",
            "nprobe_used",
        )
    )


def ivf_adaptive_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    probe_lo: int = 2,
    probe_hi: int = 4,
    margin_threshold: float = 0.05,
) -> DataFrame:
    """IVF ANN with QUERY-ADAPTIVE probing: per-query ``nprobe`` chosen
    from the query <-> centroid similarity margin
    (``ivf_adaptive_probe_frame``) instead of one fixed fan-out —
    confident queries pay ``probe_lo`` cells, boundary queries widen
    to ``probe_hi``. At 100 TB this is the standard serving knob: the
    scan budget concentrates on the queries whose recall actually
    needs it, so the fleet-wide cells-scanned budget drops below
    fixed-``probe_hi`` while recall holds above fixed-``probe_lo``
    (the x_ivf_adaptive_eval contract measures both against exact
    ground truth).

    Corpus side, pairing, score and tail are ``ivf_topk``'s
    (``_cell_assign`` probes=1, ``_pair`` on cell_id, ``_cos``,
    ``_ranked``), so with ``probe_lo == probe_hi == n`` results equal
    ``ivf_topk(nprobe=n)`` exactly (property-tested). ``nprobe_used``
    rides the scoring join — re-joining the probe frame for it would
    execute the probe subtree twice. Returns (query_id, neighbor_id,
    cosine, rank, nprobe_used)."""
    c = _cell_assign(corpus, centroids, id_col, vec_col, 1, "neighbor_id")
    q = ivf_adaptive_probe_frame(
        queries, centroids, id_col, vec_col, probe_lo, probe_hi,
        margin_threshold,
    )
    scored = _pair(c, q, "cell_id").select(
        "query_id",
        "neighbor_id",
        "nprobe_used",
        _cos("vec", "qvec", "vnorm", "qnorm").alias("cos_raw"),
    )
    return _ranked(
        scored, "cos_raw", k, ("cos_raw", "cosine"), "nprobe_used"
    ).select("query_id", "neighbor_id", "cosine", "rank", "nprobe_used")


def _blocked_cell_join(
    a: DataFrame, b: DataFrame, a_id: str, b_id: str, max_block: int
) -> DataFrame:
    """Replace ``a.join(b, "cell_id")`` (the graph family's within-cell
    SELF-join) with its block-decomposed EXACT equivalent — the
    skew-cap lever for a hot IVF cell. Contract: ``a`` and ``b`` MUST
    be the same corpus frame under different column aliases (the only
    shape the graph family produces) — the per-cell block count is
    derived from side ``a`` alone, so for asymmetric inputs the
    result would still be exact but the per-task bound would follow
    ``a``'s cell sizes, not ``b``'s, silently losing the skew
    protection the helper exists for. The plain join hashes every
    pair of a cell into ONE shuffle task, so a hot semantic region (or
    degenerate centroids) makes that task's work quadratic in the hot
    cell's size while every other core idles. Here each cell of size
    ``s`` is cut into ``g = ceil(s / max_block)`` hash blocks
    (``pmod(xxhash64(id), g)`` — deterministic, identical on both
    sides of the same node), each side is replicated ``g`` ways tagged
    with the OTHER side's target block, and the join key becomes
    (cell_id, block_a, block_b): every ordered pair of distinct nodes
    sharing a cell appears in EXACTLY one block-pair key, so the
    result multiset is identical to the plain join (parity-tested and
    oracle-checked), but no shuffle task holds more than ~max_block
    rows per side (expectation bound — hash blocks are multinomial,
    concentrated for max_block >> 1, the standard salting guarantee).

    Cost accounting: total pairing work is unchanged (it must be —
    the exact within-cell top-k contract), what changes is its
    DISTRIBUTION: max task work drops from s^2 to ~max_block^2 and
    the hot cell's s^2/max_block extra row replications are dwarfed
    by the s^2 join output they unblock. Per-cell ``g`` comes from
    one map-side count aggregate (|cells| rows, broadcast back) —
    cells at or under ``max_block`` get g = 1 and replicate nothing,
    so the lever is free where there is no skew. When even the
    TOTAL s^2 is infeasible, the escape is semantic, not physical:
    split the hot cell on a secondary centroid set (recursive IVF),
    which changes the neighbor universe and therefore the answers —
    callers choose that trade explicitly, never this function.
    Model: x_dedup_semantic's cell-bounded pairing contract and
    ext/skew.salted_join's replicate-one-side device."""
    nblk = F.broadcast(
        a.groupBy("cell_id")
        .agg(F.count(F.lit(1)).alias("csz"))
        .select(
            "cell_id",
            F.ceil(F.col("csz") / max_block).cast("int").alias("n_blk"),
        )
    )

    def annotate(side, idc, blk_name, rep_name):
        return (
            side.join(nblk, "cell_id")
            .withColumn(
                blk_name,
                F.pmod(F.xxhash64(F.col(idc)), F.col("n_blk")).cast("int"),
            )
            .withColumn(
                rep_name,
                F.explode(F.sequence(F.lit(0), F.col("n_blk") - 1)),
            )
            .drop("n_blk")
        )

    aa = annotate(a, a_id, "blk_a", "tgt_b")
    bb = annotate(b, b_id, "blk_b", "tgt_a").withColumnRenamed(
        "cell_id", "cell_id_b"
    )
    # merge hint: both sides are the replicated corpus — keyed join
    # at any scale (see _cell_knn's hint rationale)
    return (
        aa.join(
            bb.hint("merge"),
            (aa["cell_id"] == bb["cell_id_b"])
            & (aa["tgt_b"] == bb["blk_b"])
            & (aa["blk_a"] == bb["tgt_a"]),
        )
        .drop("cell_id_b", "blk_a", "blk_b", "tgt_a", "tgt_b")
    )


def assign_corpus(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ONE corpus cell-assignment pass in the canonical shared shape
    (aid, vec, vnorm, cell_id, cell_sim) — the IVF prefix that
    ``knn_graph``, ``cell_prototypes`` and ``proto_cross_edges`` each
    recompute when called alone. An INDEX BUILD runs all three over
    the same corpus; computing this once (and eagerly checkpointing —
    the index-materialization trade the blocked-join path already
    blesses: build-time only, amortized across query batches, never a
    serving-path cache) and passing it down via their ``assigned``
    parameter turns three-plus full argmin scans into one."""
    return _cell_assign(
        corpus, centroids, id_col, vec_col, 1, "aid", keep_sim=True
    )


def knn_graph(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    mutual: bool = True,
    max_block: int | None = None,
) -> DataFrame:
    """Cell-blocked k-nearest-neighbor GRAPH: every corpus vector's
    exact-cosine top-``k`` among its own IVF cell's members, plus a
    mutual-kNN flag (edge (a, b) is mutual iff (b, a) is also a top-k
    edge) — the sparsified graph that SemDeDup-style semantic dedup
    and graph clustering build on (x_dedup_semantic consumes exactly
    this pair structure; here the edges themselves are the product).

    Scale shape — and why this is NOT just cosine_topk with
    queries=corpus: the query-set operators broadcast a metadata-sized
    query frame against the corpus scan. Here BOTH sides are the
    corpus, so neither is broadcastable at 100 TB and a broadcast-NLJ
    (or worse, a cross product) is off the table. The feasible plan is
    the cell-bucketed self-equi-join (``_cell_knn``): one
    cell-assignment pass (map-side hash-agg argmin, centroids
    broadcast — the ``_cell_assign`` probes=1 shape), then a shuffle
    on cell_id where the quadratic pairing term is bounded by CELL
    size, never corpus size — the same lever that makes embedding
    dedup feasible (x_dedup_semantic's docstring). The mutual flag is
    a COUNT over the canonical (least, greatest) pair key of the edge
    list — one window exchange on the compact frame, no self-join, no
    further corpus scan.

    Returns (src_id, dst_id, cosine, rank, mutual); nodes in a cell
    of size < k + 1 emit cell_size - 1 edges. ``mutual=False`` skips
    the pair-count window entirely and drops the column, so callers
    that don't read the flag (x_knn_graph_eval) should opt out
    rather than discard it.
    ``max_block`` caps the per-task pairing block against a hot cell
    (``_blocked_cell_join`` — exact, result-identical); None keeps
    the plain cell join. Navigation graphs for the beam walks are
    built by ``nav_graph_build`` over the same float pairing.

    Deployment caveat (ADVICE r16): the build materializes the
    assignment via ``localCheckpoint`` — non-reliable storage, so
    under dynamic allocation / executor decommission a lost executor
    fails the lineage-truncated job. Cluster deployments that cannot
    pin executors for the build's duration should persist the
    assignment to reliable storage (``spark.checkpoint`` or a table
    write) instead; the trade is build-time only, never serving-path.
    """
    # materialize the one assignment pass for BOTH self-join sides
    # (optimization r16): the pairing reads this frame twice (three
    # times on the blocked path), and a graph construction is
    # BUILD-time work — the index-materialization trade
    # nav_graph_build and the persisted-index build also make
    src = _cell_assign(corpus, centroids, id_col, vec_col, 1, "src_id")
    return _cell_knn(
        *_float_pairing(src.localCheckpoint(eager=True), k), mutual, max_block
    )


def _cell_knn(
    a: DataFrame,
    b: DataFrame,
    rank,
    cols: list,
    mutual: bool,
    max_block: int | None,
) -> DataFrame:
    """The graph family's ONE within-cell pairing shape, shared by the
    float rung (``_float_pairing``: ``knn_graph``, ``knn_graph_split``,
    the navigation core ``graph_adjacency``) and the SQ8 rung
    (``knn_graph_sq8``), so the join, the window partitioning and the
    mutual flag cannot diverge between them. ``a``/``b`` are the two
    sides of the corpus self-join, node id first, ``cell_id`` present;
    the frame they project must be materialized (every caller
    checkpoints it: the blocked path reads it three times).

    The plain path is a merge-hinted join on ``cell_id``: with the
    centroid frame a true LocalTableScan, Catalyst can estimate the
    assigned sides and would broadcast one at TEST scale — at 100 TB
    the estimate exceeds any threshold and SMJ returns, so the hint
    only keeps the demonstrated plan honest (the bucketed-join
    convention). ``max_block`` swaps in ``_blocked_cell_join``. Self
    pairs drop, then ``rank(paired, part)`` scores and keeps each
    node's top-k, with ``part`` prepended to its window partition:
    ('cell_id',) on the plain path — the node id determines cell_id
    (each node lives in one cell), so the ranking is identical, but
    hash(cell_id), the join's output partitioning, already satisfies
    the window and the pair list's Exchange disappears (optimization
    r16, guide §2.4: the largest intermediate of the whole build loses
    its only corpus-sized shuffle); () on the blocked path, whose
    replicated rows drop cell_id.

    ``mutual`` appends the flag by COUNT over the canonical
    (least, greatest) pair key (optimization r17): the self-join emits
    every ordered pair exactly once, so an edge is mutual iff its
    unordered pair occurs twice in the ranked list — one window over
    one read of the edge list, in place of an eager edge checkpoint
    plus a reversed-pair self-join that exchanged the list twice.
    Returns ``cols`` of the ranked edges (+ mutual)."""
    a_id, b_id = a.columns[0], b.columns[0]
    plain = max_block is None
    paired = (
        a.join(b.hint("merge"), "cell_id")
        if plain
        else _blocked_cell_join(a, b, a_id, b_id, max_block)
    ).filter(F.col(a_id) != F.col(b_id))
    edges = rank(paired, ("cell_id",) if plain else ())
    if mutual:
        wm = Window.partitionBy(F.least(a_id, b_id), F.greatest(a_id, b_id))
        cols = [*cols, (F.count(F.lit(1)).over(wm) == 2).alias("mutual")]
    return edges.select(*cols)


def _float_pairing(assigned: DataFrame, k: int) -> tuple:
    """The float rung's ``_cell_knn`` inputs over any materialized
    (src_id, vec, vnorm, cell_id) assignment frame: the two self-join
    sides, the ranker (guarded exact cosine over the unrolled fold,
    top-``k`` per src_id, tie-break lowest dst_id) and the edge
    columns (src_id, dst_id, cosine, rank). ONE copy for ``knn_graph``
    (primary IVF cells), ``knn_graph_split`` (refined cells) and the
    navigation core (``graph_adjacency``, which keeps the pair's
    shared cell instead of the score), so they can never diverge on
    scoring, ranking or tie-break."""
    a = assigned.select(
        "src_id",
        F.col("vec").alias("avec"),
        F.col("vnorm").alias("anorm"),
        "cell_id",
    )
    b = assigned.select(
        F.col("src_id").alias("dst_id"),
        F.col("vec").alias("bvec"),
        F.col("vnorm").alias("bnorm"),
        "cell_id",
    )

    def rank(paired: DataFrame, part: tuple) -> DataFrame:
        scored = paired.select(
            "src_id",
            "dst_id",
            *part,
            _cos("avec", "bvec", "anorm", "bnorm", _dot_unrolled).alias(
                "cos_raw"
            ),
        )
        return _top(scored, "cos_raw", "dst_id", k, by=(*part, "src_id"))

    cols = ["src_id", "dst_id", F.round("cos_raw", 6).alias("cosine"), "rank"]
    return a, b, rank, cols


def split_oversized_cells(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cell: int = 40,
) -> DataFrame:
    """Recursive-IVF refinement — the SEMANTIC escape from a hot cell
    (the physical escape, ``max_block``, redistributes the quadratic
    pairing; when even the TOTAL s^2 within a cell is infeasible, the
    cell itself must split, which changes the neighbor universe and
    is therefore a caller's explicit choice, never applied silently):
    members of any primary cell larger than ``max_cell`` are
    re-assigned to the nearer of TWO data-adaptive sub-centroids
    trained inside that cell — sub-centroids are the deterministic
    elementwise ROUND(avg, 6) means (the ``_det_centroids`` device,
    one level down) over a deterministic md5-parity seed split of the
    cell's members (the ``md5_prefix_int`` device — engine-portable,
    so the DuckDB oracle replicates the refinement exactly). One
    k-means half-step: hash-seed -> mean -> nearest-mean reassign.

    Refined cell id: ``cell_id * 4`` for members of unsplit cells,
    ``cell_id * 4 + 1 + sub`` for split members — collision-free
    integers, so downstream operators treat refined cells exactly
    like primary ones. ONE split level, halving a hot cell's pairing
    term to ~s^2/2 in expectation (two sub-cells of ~s/2). Deeper
    refinement is NOT self-composition — the function always
    re-derives the primary assignment from ``centroids`` and its
    output frame carries (src_id, vec, vnorm, cell_id), not the
    input's column names — it would need sub-centroids of the
    refined cells (a recursion on the sub-centroid frame, not on
    this function); one level covers the deployments this repo
    models, and cells still hot after it take ``max_block``.

    Scale shape: one cell-assign pass (shared ``_cell_assign``), one
    map-side size count (|cells| rows, broadcast), one per-position
    aggregate over ONLY the oversized cells' members (posexplode +
    hash agg -> 2 x |oversized| sub-centroids, broadcast), one
    broadcast-join reassign. No self-join anywhere. Returns
    (src_id, vec, vnorm, cell_id) with cell_id = the REFINED id —
    the exact frame ``_float_pairing`` consumes."""
    from blspark.ext.dedup import md5_prefix_int

    assigned = _cell_assign(corpus, centroids, id_col, vec_col, 1, "src_id")
    sizes = F.broadcast(
        assigned.groupBy("cell_id")
        .agg(F.count(F.lit(1)).alias("csz"))
        .select("cell_id", (F.col("csz") > max_cell).alias("oversized"))
    )
    tagged = assigned.join(sizes, "cell_id").withColumn(
        "seed_g",
        F.when(
            F.col("oversized"),
            (md5_prefix_int(F.col("src_id").cast("string"), 6) % 2).cast(
                "int"
            ),
        ),
    )
    sub_pos = (
        tagged.filter("oversized")
        .select("cell_id", "seed_g", F.posexplode("vec"))
        .groupBy("cell_id", "seed_g", "pos")
        .agg(F.round(F.avg("col"), 6).alias("m"))
    )
    subcent = F.broadcast(
        sub_pos.groupBy("cell_id", "seed_g")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda s: s["m"],
            ).alias("scvec")
        )
        .select(
            "cell_id",
            F.col("seed_g").alias("sub"),
            "scvec",
            _norm(F.col("scvec")).alias("scnorm"),
        )
    )
    # nearest-sub-centroid reassign (argmin over the <=2 candidates of
    # the member's own cell — the _cell_assign min-struct device with
    # the same zero-norm -inf guard and lowest-sub tie-break)
    resub = (
        tagged.filter("oversized")
        .join(subcent, "cell_id")
        .select(
            "src_id",
            "cell_id",
            "sub",
            _cos("vec", "scvec", "vnorm", "scnorm").alias("ssim"),
        )
        .groupBy("src_id", "cell_id")
        .agg(F.min(F.struct((-F.col("ssim")).alias("neg"), "sub")).alias("s"))
        .select("src_id", F.col("s.sub").alias("sub"))
    )
    return (
        tagged.join(resub, "src_id", "left")
        .select(
            "src_id",
            "vec",
            "vnorm",
            F.when(
                F.col("oversized"),
                F.col("cell_id") * 4 + 1 + F.col("sub"),
            )
            .otherwise(F.col("cell_id") * 4)
            .cast("int")
            .alias("cell_id"),
        )
    )


def knn_graph_split(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    mutual: bool = True,
    max_cell: int = 40,
    max_block: int | None = None,
) -> DataFrame:
    """``knn_graph`` over recursively REFINED cells — the semantic
    hot-cell escape composed end-to-end: ``split_oversized_cells``
    bounds the expected cell size, then the ONE shared float pairing
    (``_float_pairing`` through ``_cell_knn``) builds the exact top-k
    graph within the refined cells. Not result-identical to
    ``knn_graph`` by design — a split member's neighbor universe
    shrinks to its sub-cell; the trade is ~s^2/2 pairing per split
    level, chosen explicitly. Composes with ``max_block`` (the
    physical cap) for cells that remain hot after splitting."""
    # one materialization of the refined assignment for both self-join
    # sides (optimization r16): the multi-stage split subtree
    # (assign + size census + sub-centroid training + reassign) was
    # re-executed per pairing branch — the knn_graph build-time
    # materialization trade applied here too
    refined = split_oversized_cells(
        corpus, centroids, id_col, vec_col, max_cell
    ).localCheckpoint(eager=True)
    return _cell_knn(*_float_pairing(refined, k), mutual, max_block)


def knn_graph_sq8(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    max_block: int | None = None,
) -> DataFrame:
    """``knn_graph`` at the SQ8 rung — the configuration a 100 TB
    graph build actually ships: the within-cell pairing (the dominant
    term, N * cell_size score evaluations) runs over 4x-compressed
    int8 codes with the EXACT int64 inner-product core instead of
    64-double cosine folds, so the self-join shuffles a quarter of
    the bytes and the hot loop is integer multiply-add with one
    double multiply per pair (``_sq8_rank`` — the same single copy of
    the scoring/tie-break tail the query-set SQ8 paths use; ranking
    is by reconstructed inner product, SQ8's native score).
    Quantization rides the cell-assigned frame (``sq8_quantize`` with
    ``keep=('cell_id',)``) — one corpus pass produces (codes, scale,
    cell), and only that compact frame enters the self-join; the raw
    vectors never shuffle. Join, window partitioning and mutual flag
    are the float rung's (``_cell_knn``). ``max_block`` caps the
    per-task pairing block against a hot cell
    (``_blocked_cell_join`` — exact, result-identical; the int8 codes
    make the replicated rows 4x cheaper than the float rung's);
    None keeps the plain cell join.

    Returns (src_id, dst_id, score, iprod, rank, mutual).
    """
    qz = _quantized_cells(corpus, centroids, id_col, vec_col)
    # materialize the compact int8-code frame once for both self-join
    # sides (optimization r16): graph construction is build-time work,
    # the established index-materialization trade.
    qz = qz.localCheckpoint(eager=True)
    a = qz.select(
        F.col("vid").alias("query_id"),
        F.col("qvec").alias("qq"),
        F.col("scale").alias("qscale"),
        "cell_id",
    )
    b = qz.select(
        F.col("vid").alias("neighbor_id"),
        F.col("qvec").alias("nq"),
        F.col("scale").alias("nscale"),
        "cell_id",
    )

    # unroll only on the plain path: the blocked join A/B-measured the
    # HOF core ~0.4 s faster (in-session probe) — the block-replicated
    # rows re-pay the bigger expression without the plain path's fused
    # join->project pipeline
    def rank(paired: DataFrame, part: tuple) -> DataFrame:
        return _sq8_rank(paired, k, part_extra=part)

    cols = [
        F.col("query_id").alias("src_id"),
        F.col("neighbor_id").alias("dst_id"),
        "score",
        "iprod",
        "rank",
    ]
    return _cell_knn(a, b, rank, cols, True, max_block)


def _quantized_cells(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The ONE copy of the graph family's corpus preparation —
    cell-assign (``_cell_assign``, probes=1) then SQ8-quantize riding
    the assigned frame (``sq8_quantize`` keep=cell_id): one corpus
    scan produces (vid, cell_id, qvec, scale). Shared by
    ``knn_graph_sq8`` and ``cell_member_index`` so the batch graph
    and the frozen streaming index can never diverge on either
    stage."""
    assigned = _cell_assign(corpus, centroids, id_col, vec_col, 1, "vid")
    return sq8_quantize(assigned, id_col="vid", vec_col="vec", keep=("cell_id",))


def cell_member_index(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Static cell-member index for stateless streaming edge
    maintenance: the batch corpus cell-assigned (``_cell_assign``, the
    one shared rule) and SQ8-quantized (``sq8_quantize``), grouped to
    ONE row per cell carrying a members array<struct(vec_id, qvec,
    scale)>. Row width is bounded by CELL size — the IVF training
    contract (nlist ~ sqrt(N)) keeps cells bounded, which is exactly
    what makes the per-arrival inline top-k in
    ``knn_edges_stateless`` feasible. Built once offline from the
    frozen corpus; the stream never recomputes it."""
    qz = _quantized_cells(corpus, centroids, id_col, vec_col)
    return qz.groupBy("cell_id").agg(
        F.collect_list(
            F.struct(F.col("vid").alias("vec_id"), "qvec", "scale")
        ).alias("members")
    )


def knn_edges_stateless(
    arrivals: DataFrame, member_index: DataFrame, k: int = 3
) -> DataFrame:
    """Per-arrival top-``k`` SQ8 edges against a FROZEN cell-member
    index — the streaming-safe form of ``knn_graph_sq8``'s scoring:
    append mode needs no window, no aggregation, no state store, so
    the whole edge computation is ONE inline expression per arrival
    (the ``pq_encode_stateless`` / ``cell_assign_stateless``
    convention: inline only where streaming append-mode forbids
    aggregation). ``arrivals`` must carry (vec_id, qvec, scale,
    cell_id) — i.e. already stateless-cell-assigned and quantized;
    ``member_index`` is ``cell_member_index``'s static frame, joined
    stream-static on cell_id.

    Ordering is bit-identical to ``_sq8_rank``: candidates sort by
    struct(-(iprod * ss), dst_id) ascending — IEEE negation is exact,
    so array_sort's total order equals the batch window's
    (score DESC, dst ASC) rank, and dst_id uniqueness within a cell
    makes the order total. An arrival whose cell holds only itself
    emits no edges (posexplode of the empty slice), matching the
    batch graph.

    Returns (src_id, dst_id, score, iprod, rank)."""
    cand = F.filter(
        F.col("members"), lambda m: m["vec_id"] != F.col("vec_id")
    )

    def member_struct(m):
        # the ONE int64 core (_idot) — never re-derive it here: the
        # stream/batch edge-parity contract rests on both paths
        # sharing it
        iprod = _idot_hof(m["qvec"], F.col("qvec"))
        return F.struct(
            (-(iprod * (m["scale"] * F.col("scale")))).alias("neg"),
            m["vec_id"].alias("dst_id"),
            iprod.alias("iprod"),
        )

    top = F.slice(F.array_sort(F.transform(cand, member_struct)), 1, k)
    return (
        arrivals.join(member_index, "cell_id")
        .select(
            F.col("vec_id").alias("src_id"),
            F.posexplode(top).alias("pos", "e"),
        )
        .select(
            "src_id",
            F.col("e.dst_id").alias("dst_id"),
            F.round(-F.col("e.neg"), 6).alias("score"),
            F.col("e.iprod").alias("iprod"),
            (F.col("pos") + 1).cast("int").alias("rank"),
        )
    )


def cell_prototypes(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assigned: DataFrame | None = None,
) -> DataFrame:
    """Most-central exemplar per IVF cell — the coreset / prototype
    selection step (SemDeDup keeps one representative per cluster;
    herding-style data pruning keeps the most central): for each cell,
    the member vector with the highest cosine to its cell centroid
    (tie-break lowest id).

    Scale shape: one cell-assignment pass (``_cell_assign`` probes=1
    with ``keep_sim`` — the map-side hash-agg argmin, centroids
    broadcast), then a second hash aggregate per CELL over the
    (id, cell_id, cell_sim) projection — both partial-aggregate
    map-side; the corpus is scanned once and never self-joins. The
    per-cell argmax rides the same min-over-struct device as the
    assignment itself (IEEE negation exact, id tie-break total).

    Returns (cell_id, prototype_id, centrality, cell_size) —
    |cells| rows; centrality is the winning cosine rounded to 6
    (the knn_graph output convention). ``assigned``: optional
    precomputed ``assign_corpus`` output (same ``keep_sim`` argmin —
    bit-identical by construction); build paths pass the shared
    pass instead of re-scanning the corpus."""
    if assigned is not None:
        assigned = assigned.select(
            F.col("aid").alias("pid"), "cell_id", "cell_sim"
        )
    else:
        assigned = _cell_assign(
            corpus, centroids, id_col, vec_col, 1, "pid", keep_sim=True
        )
    per_cell = assigned.groupBy("cell_id").agg(
        F.min(
            F.struct((-F.col("cell_sim")).alias("neg"), F.col("pid"))
        ).alias("s"),
        F.count(F.lit(1)).alias("cell_size"),
    )
    return per_cell.select(
        "cell_id",
        F.col("s.pid").alias("prototype_id"),
        F.round(-F.col("s.neg"), 6).alias("centrality"),
        "cell_size",
    )


def _nearest_other_cell(cent: DataFrame) -> DataFrame:
    """(acell, ncell): each cell's nearest OTHER cell by centroid
    cosine — |cells|^2 metadata crossJoin through the shared argmin
    struct device (zero-norm guard -inf, lowest target tie-break),
    broadcast. The ONE copy the batch negative sampler and the
    streaming negative sampler share, so the two can never diverge
    on which cell supplies an anchor's negatives."""
    a_cent = cent.select(
        F.col("cell_id").alias("acell"),
        F.col("cvec").alias("avec"),
        F.col("centnorm").alias("anorm"),
    )
    b_cent = cent.select(
        F.col("cell_id").alias("ncell"),
        F.col("cvec").alias("nvec"),
        F.col("centnorm").alias("nnorm"),
    )
    return F.broadcast(
        a_cent.crossJoin(b_cent)
        .filter(F.col("acell") != F.col("ncell"))
        .select(
            "acell",
            "ncell",
            _cos("avec", "nvec", "anorm", "nnorm").alias("csim"),
        )
        .groupBy("acell")
        .agg(F.min(F.struct((-F.col("csim")).alias("neg"), "ncell")).alias("s"))
        .select("acell", F.col("s.ncell").alias("ncell"))
    )


def negative_samples(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
) -> DataFrame:
    """Hard-negative mining for contrastive training — for every
    corpus vector, ``k`` deterministic draws from the NEAREST OTHER
    IVF cell: semantically close enough to be informative negatives
    (the adjacent region of embedding space), guaranteed non-neighbors
    under the cell geometry (never the anchor's own cell, so never a
    positive by the same rule the dedup/graph family uses). Draw rule:
    the ``k`` members of the target cell minimizing the 48-bit
    md5(anchor:member) prefix (the ``md5_prefix_int`` device — a
    per-anchor deterministic pseudo-random sample, reproducible across
    runs/engines/partitionings, no RNG state; ties break on member
    id).

    Scale shape: the cell-to-cell "nearest other cell" map is
    |cells|^2 centroid cosines — metadata, broadcast; the anchor ->
    target-cell-members pairing is a keyed equi-join on the target
    cell whose per-anchor candidate count is bounded by CELL size
    (the graph family's bound), and the per-anchor k-min is a rank
    window over those bounded candidates. Returns (anchor_id,
    negative_id, rank)."""
    from blspark.ext.dedup import md5_prefix_int

    ncell_map = _nearest_other_cell(_centroid_frame(centroids))
    # both candidate-join sides derive from the one assignment — the
    # compact (id, cell) projection checkpoints once so the corpus
    # cell-assign scan runs ONCE per action, not per side (the
    # blocked-join lesson: recompute of the assign subtree otherwise
    # doubles the dominant cost)
    cells_of = (
        _cell_assign(corpus, centroids, id_col, vec_col, 1, "aid")
        .select("aid", "cell_id")
        .localCheckpoint(eager=True)
    )
    anchors = cells_of.select(
        F.col("aid").alias("anchor_id"), F.col("cell_id").alias("acell")
    ).join(ncell_map, "acell")
    members = cells_of.select(
        F.col("aid").alias("negative_id"), F.col("cell_id").alias("ncell")
    )
    cand = anchors.join(members, "ncell").withColumn(
        "hkey",
        md5_prefix_int(
            F.concat_ws(
                ":",
                F.col("anchor_id").cast("string"),
                F.col("negative_id").cast("string"),
            ),
            12,
        ),
    )
    return _top(
        cand, "hkey", "negative_id", k, by=("anchor_id",), asc=True
    ).select("anchor_id", "negative_id", "rank")


def cell_id_members(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Static ID-ONLY cell-member index for stateless streaming
    negative sampling: the batch corpus cell-assigned (the one shared
    rule) and grouped to ONE row per cell carrying a sorted member-id
    array — the ``cell_member_index`` convention minus the codes
    (negatives need only identities, so the index is ids, not
    vectors). Row width bounded by CELL size. (ncell, mids)."""
    assigned = _cell_assign(corpus, centroids, id_col, vec_col, 1, "mid")
    return assigned.groupBy(F.col("cell_id").alias("ncell")).agg(
        F.array_sort(F.collect_list("mid")).alias("mids")
    )


def negatives_stateless(
    arrivals: DataFrame,
    member_ids: DataFrame,
    ncell_map: DataFrame,
    k: int = 3,
) -> DataFrame:
    """Per-arrival hard negatives against a FROZEN index — the
    streaming-safe form of ``negative_samples``'s draw (the
    ``knn_edges_stateless`` convention: append mode forbids windows
    and aggregation, so the whole selection is ONE inline expression
    per arrival). ``arrivals`` must carry (vec_id, cell_id) — i.e.
    already stateless-cell-assigned; ``ncell_map`` is
    ``_nearest_other_cell``'s broadcast frame (shared verbatim with
    the batch operator) and ``member_ids`` is ``cell_id_members``'s
    static frame, both joined stream-static. The k-min over the
    target cell's md5(anchor:member) keys is transform -> struct
    (hkey, id) -> array_sort -> slice k — bit-identical to the batch
    window because the struct order (hkey, id) IS the window's
    (hkey ASC, id ASC) total order. Returns (anchor_id, negative_id,
    rank)."""
    from blspark.ext.dedup import md5_prefix_int

    def draw(m):
        return F.struct(
            md5_prefix_int(
                F.concat_ws(
                    ":", F.col("vec_id").cast("string"), m.cast("string")
                ),
                12,
            ).alias("hkey"),
            m.alias("negative_id"),
        )

    top = F.slice(F.array_sort(F.transform(F.col("mids"), draw)), 1, k)
    return (
        arrivals.join(
            ncell_map.withColumnRenamed("acell", "cell_id"), "cell_id"
        )
        .join(member_ids, "ncell")
        .select(
            F.col("vec_id").alias("anchor_id"),
            F.posexplode(top).alias("pos", "e"),
        )
        .select(
            "anchor_id",
            F.col("e.negative_id").alias("negative_id"),
            (F.col("pos") + 1).cast("int").alias("rank"),
        )
    )


def graph_adjacency(
    assigned: DataFrame,
    protos: DataFrame,
    knn_k: int = 3,
    m_cross: int = 0,
) -> DataFrame:
    """The ONE navigation-graph edge builder, un-materialized: directed
    (src_id, dst_id, src_cell, dst_cell) over a materialized
    ``assign_corpus`` pass and its ``cell_prototypes`` frame. Edges are
    each node's top-``knn_k`` within-cell neighbors (the float kNN
    pairing, ``_float_pairing``) plus, for ``m_cross`` > 0, the
    prototype backbone (``proto_cross_edges``) — the
    navigable-small-world edge set: dense local links within each
    cell, sparse long-range links between the |cells| prototypes
    (``m_cross=0``: within-cell edges only).

    Endpoint cells ride the edges FROM CONSTRUCTION: a within-cell
    edge's endpoints share the self-join's own cell key, and a
    backbone edge's endpoints carry their cells from the shared pass —
    so no consumer joins the corpus-sized node->cell map. Two
    consumers: ``nav_graph_build`` (the walk adjacency: undirected
    ids, distinct, one eager checkpoint) and the persisted edge table
    (``extensions12.graph_edge_table``: undirected with cells,
    deduplicated on its write's own repartition)."""
    cell = F.col("cell_id")
    a, b, rank, _ = _float_pairing(
        assigned.select(F.col("aid").alias("src_id"), "vec", "vnorm", "cell_id"),
        knn_k,
    )
    cols = ["src_id", "dst_id", cell.alias("src_cell"), cell.alias("dst_cell")]
    edges = _cell_knn(a, b, rank, cols, False, None)
    if m_cross:
        edges = edges.union(proto_cross_edges(assigned, protos, m_cross))
    return edges


def _undirect(edges: DataFrame) -> DataFrame:
    """(src_id, dst_id[, src_cell, dst_cell]) -> undirected
    (cand_id, nbr[, src_cell, nbr_cell]): each edge EXPLODES into
    itself + its reversal in one pass over the input, instead of a
    union of two branches — a union's branches each re-evaluate the
    edge subtree (the kNN self-join, a corpus-pairing shuffle), so
    that shape paid the graph build TWICE inside one job. The cell
    pair, when present, swaps along with the id pair.

    Not deduplicated: the walk adjacency takes ``distinct()`` right
    after; the edge-table build dedups AFTER its repartition on the
    partition column, where the duplicate key (cand_id, nbr)
    functionally determines src_cell, so hash(src_cell) partitioning
    already satisfies the distinct's clustering and the dedup runs
    partition-local on the write's OWN shuffle (one exchange total,
    plan-verified)."""
    cells = "src_cell" in edges.columns

    def end(u: str, v: str) -> Column:
        cols = [F.col(f"{u}_id").alias("cand_id"), F.col(f"{v}_id").alias("nbr")]
        if cells:
            cols += [
                F.col(f"{u}_cell").alias("src_cell"),
                F.col(f"{v}_cell").alias("nbr_cell"),
            ]
        return F.struct(*cols)

    return edges.select(
        F.explode(F.array(end("src", "dst"), end("dst", "src"))).alias("e")
    ).select("e.*")


def proto_cross_edges(
    assigned: DataFrame, protos: DataFrame, m_cross: int = 2
) -> DataFrame:
    """LONG-RANGE navigation edges between cell prototypes — the
    HNSW-style upper-layer links the within-cell kNN graph lacks:
    each cell's prototype (its most-central member,
    ``cell_prototypes``) gets a directed edge to the prototypes of
    its ``m_cross`` most-similar OTHER cells (exact cosine between
    the prototype vectors, tie-break lowest destination id). A
    greedy walk can then leave its entry cell through the prototype
    backbone — without these, reachability (and therefore recall) is
    capped at the full-scan ceiling of the <= n_seeds entry cells.

    Inputs are the build's shared pass: ``assigned`` (a materialized
    ``assign_corpus`` output) supplies the prototype vectors and
    cells, ``protos`` (any frame carrying ``prototype_id``) the
    prototype ids. Scale shape: fetching the |cells| prototype
    vectors is one join against the shared pass; the pairing is a
    |cells| x |cells| broadcast product of a METADATA-sized frame
    (nlist ~ sqrt(N) keeps this trivially small next to the corpus —
    at nlist = 10^4 it is 10^8 cheap float ops on compact rows, still
    centroid-training scale, never corpus-scale). Returns
    (src_id, dst_id, src_cell, dst_cell) prototype pairs."""
    from blspark.ops import local_relation

    # |cells| rows used on BOTH sides of the crossJoin: materialize
    # once as a local relation or the prototype aggregation (and the
    # vector fetch join) executes per branch
    pv = local_relation(
        protos.select(F.col("prototype_id").alias("pid")).join(
            assigned.select(
                F.col("aid").alias("pid"),
                F.col("cell_id").alias("cell"),
                "vec",
                F.col("vnorm").alias("nrm"),
            ),
            "pid",
        ),
        "pid bigint, cell int, vec array<double>, nrm double",
    )

    def side(end: str, v: str) -> DataFrame:
        return pv.select(
            F.col("pid").alias(f"{end}_id"),
            F.col("cell").alias(f"{end}_cell"),
            F.col("vec").alias(f"{v}vec"),
            F.col("nrm").alias(f"{v}norm"),
        )

    scored = (
        side("src", "a")
        .crossJoin(F.broadcast(side("dst", "b")))
        .filter(F.col("src_id") != F.col("dst_id"))
        .select(
            "src_id",
            "dst_id",
            "src_cell",
            "dst_cell",
            _cos("avec", "bvec", "anorm", "bnorm").alias("cos_raw"),
        )
    )
    return _top(
        scored, "cos_raw", "dst_id", m_cross, by=("src_id",), rank="r"
    ).select("src_id", "dst_id", "src_cell", "dst_cell")


def nav_graph_build(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    knn_k: int = 3,
    m_cross: int = 0,
) -> tuple[DataFrame, DataFrame]:
    """THE navigation-graph build every beam walk takes: one
    checkpointed ``assign_corpus`` pass (the r14 build-constant
    device) feeds the prototype frame (``cell_prototypes``) AND the
    edges (``graph_adjacency``: top-``knn_k`` within-cell edges plus
    an ``m_cross`` prototype backbone; 0 = none). The walk adjacency
    is those edges made undirected (cand_id, nbr), deduplicated and
    eagerly localCheckpointed — the iterative-loop convention (edge
    inputs checkpoint once at entry; the walk probes the frame per
    hop) and THE artifact a deployment amortizes across query
    batches. Returns (adj, protos) — callers that memoize across calls
    wrap ``protos`` in a ``local_relation`` themselves (|cells|
    rows)."""
    assigned = assign_corpus(corpus, centroids, id_col, vec_col)
    assigned = assigned.localCheckpoint(eager=True)
    protos = cell_prototypes(
        corpus, centroids, id_col, vec_col, assigned=assigned
    )
    edges = graph_adjacency(assigned, protos, knn_k, m_cross)
    adj = _undirect(edges.select("src_id", "dst_id")).distinct()
    return adj.localCheckpoint(eager=True), protos


def _proto_seeds(
    q: DataFrame, vecs: DataFrame, protos: DataFrame, n_seeds: int
) -> DataFrame:
    """The beam search's ENTRY step, extracted so the recall contracts
    can name each query's seed prototypes (and their cells) with the
    exact scoring/tie-break the walk itself uses: score every cell
    prototype (``protos``: any frame carrying ``prototype_id``, the
    build's ``cell_prototypes``) against every query (metadata-sized
    broadcast product), keep the top-``n_seeds`` per query. Returns
    (query_id, cand_id, cos_raw) — the walk's initial visited set."""
    protos = protos.select(F.col("prototype_id").alias("cand_id"))
    pvec = F.broadcast(protos.join(vecs, "cand_id"))
    scored = q.crossJoin(pvec).select(
        "query_id",
        "cand_id",
        _cos("qvec", "cvec", "qnorm", "cnorm").alias("cos_raw"),
    )
    return _top(scored, "cos_raw", "cand_id", n_seeds, rank="r").drop("r")


def graph_expand_topk(
    corpus: DataFrame,
    queries: DataFrame,
    adj: DataFrame,
    protos: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    hops: int = 3,
    beam: int = 3,
    n_seeds: int = 2,
    allowed: DataFrame | None = None,
    early_exit_k: int | None = None,
    with_activity: bool = False,
):
    """Graph-based retrieval by GREEDY BEAM SEARCH over a built
    navigation graph — the HNSW/NSW search step re-expressed in batch
    DataFrame terms. ``adj``/``protos`` are ``nav_graph_build``'s
    (adj, protos): each query enters at its ``n_seeds`` best
    prototypes (exact cosine against the |cells| prototype vectors —
    the metadata-sized top-layer pick HNSW makes), then for ``hops``
    rounds expands the current ``beam`` best-scoring visited nodes
    along the undirected edges, scoring every newly reached node
    against the query — the walk moves toward the query's
    neighborhood because each round's frontier is chosen by query
    similarity, not graph position (a fixed blind expansion from the
    prototype was measured at 4% recall@5; the greedy walk is what
    makes graph retrieval work). Final answer: exact-cosine top-``k``
    of everything visited.

    Scale shape: per query the walk touches O(n_seeds + hops * beam
    * degree) nodes — INDEPENDENT of cell size (a hot cell costs a
    query nothing; contrast ``ivf_topk``, which scans whole probed
    cells) — so every per-round frame is (|queries| x dozens) rows.
    The per-round corpus work is one equi-join of that candidate
    frame against the vector table (``corpus``) to fetch/score new
    nodes (at deployment, a point-lookup store or the checkpointed
    codes frame; here a broadcast-hash semi-join against the scan).
    The graph is built once, outside the walk, and is THE artifact a
    deployment amortizes across query batches (the warm registered
    variants memoize it per dataset). Recall is priced by
    x_graph_expand_eval against brute force.

    ``allowed``: optional single-column (``cand_id``) frame of result-
    eligible node ids — the FILTERED-ANN rung at the graph layer, with
    the standard filtered-HNSW subtlety done right: the walk itself is
    UNfiltered (non-matching nodes still navigate — pruning them from
    the graph would disconnect routes exactly where the predicate is
    selective), and the predicate applies only to the final exact
    rerank over everything visited (a semi-join, so it can push into
    the rank's input scan). Contrast post-filtering the top-k, which
    silently returns fewer than k and strictly lower recall
    (x_graph_filtered_eval prices the difference).

    ``early_exit_k`` passes through to the shared ``_beam_walk`` loop:
    per-query early termination (hops becomes a ceiling — the
    adaptive-ANN knob at the graph rung). ``with_activity`` also
    returns the expansion ledger (hop, query_id, cand_id) for budget
    pricing: the return is then (result, activity).

    Returns (query_id, neighbor_id, cosine, rank); the query's own
    node navigates (its out-edges are the best possible moves) but
    is never a result."""
    vecs = _vecs(corpus, id_col, vec_col, "cand_id", "cvec", "cnorm")
    q = _vecs(queries, id_col, vec_col, "query_id", "qvec", "qnorm")
    visited = _proto_seeds(q, vecs, protos, n_seeds)

    def expand(frontier: DataFrame) -> DataFrame:
        return (
            frontier.join(adj, "cand_id")
            .select("query_id", F.col("nbr").alias("cand_id"))
            .distinct()
        )

    visited, activity = _beam_walk(
        visited, vecs, q, hops, beam, expand, early_exit_k=early_exit_k
    )
    result = _visited_rank(visited, k, allowed)
    return (result, activity) if with_activity else result


def _beam_walk(
    visited: DataFrame,
    vecs: DataFrame,
    q: DataFrame,
    hops: int,
    beam: int,
    expand,
    extra: tuple = (),
    early_exit_k: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """ONE copy of the greedy hop loop shared by the in-memory and
    persisted-index walks (the `_visited_rank` rationale applied to
    the loop itself: an edit to the walk semantics — frontier
    tie-break, visited dedup, the zero-norm cosine guard, the
    per-round checkpoint — can never reach one walk and not the
    other, so the advertised bit-identical parity is structural).
    ``visited`` carries (query_id, cand_id, *extra, cos_raw);
    ``expand(frontier) -> (query_id, cand_id, *extra)`` distinct new
    candidates for a (query_id, cand_id, *extra) frontier — the
    in-memory walk joins the adjacency frame (extra=()), the indexed
    walk probes the partition-pruned edge table, threading each
    node's cell through ``extra`` so the next hop's probed-cell set
    rides along.

    ``early_exit_k``: when set, PER-QUERY early termination — the
    HNSW stop rule in batch terms: after each hop, a query stays
    active only if the hop added at least one candidate scoring
    strictly above the query's pre-hop ``early_exit_k``-th best
    (fewer than k visited counts as unbounded improvement). Converged
    queries drop out of every later frontier; ``hops`` becomes a
    budget CEILING, not the spend. When None (default): the exact
    pre-existing fixed-hop walk, bit for bit. The improvement test is
    pure exact comparison on already-computed scores — deterministic,
    and mirrored hop-for-hop by the adaptive oracle chain
    (extensions10._gx_chain(adaptive_k=...)).

    Returns (visited, activity): ``activity`` is the expansion ledger
    — one row (hop, query_id, cand_id) per frontier node actually
    expanded — the frame the adaptive eval prices budgets from
    (COUNT(*) = total expansions; max hop per query = where it
    stopped). It is a lazy union of the per-hop frontiers, so a walk
    that never reads it runs no job for it.
    """
    from blspark.ops import checkpoint_rows

    adaptive = early_exit_k is not None
    if adaptive:
        # Hop-tag the visited rows (seeds = -1): the still-active query
        # set at every hop is then a pure FUNCTION of the one
        # checkpointed visited frame — active at hop i iff hop i-1
        # added a row scoring strictly above the query's k-th best
        # among all earlier rows (none at hop 0 = everyone active; no
        # hop i-1 rows = converged, automatically, since only active
        # queries expand). One lineage, one checkpoint per hop — no
        # second checkpointed accumulator, no extra per-hop job.
        visited = visited.withColumn("_hop", F.lit(-1))
    activity = None
    for i in range(hops):
        if adaptive and i > 0:
            kth_prev = (
                _top(
                    visited.filter(F.col("_hop") <= i - 2),
                    "cos_raw", "cand_id", rank="r",
                )
                .filter(F.col("r") == early_exit_k)
                .select("query_id", F.col("cos_raw").alias("_kth"))
            )
            # materialize the (metadata-sized) active-query set ONCE
            # (optimization r17): the old shape ran this subplan twice
            # per hop — once inside take(1)'s emptiness probe and
            # again inside the hop's own job via the vis_f join — with
            # a serial driver round trip between them. The eager
            # checkpoint executes it once and counts it in the same job
            # (the emptiness test runs no job of its own); the frontier
            # join reads the cached rows.
            active, n_active = checkpoint_rows(
                visited.filter(F.col("_hop") == i - 1)
                .join(kth_prev, "query_id", "left")
                .filter(
                    F.col("_kth").isNull()
                    | (F.col("cos_raw") > F.col("_kth"))
                )
                .select("query_id")
                .distinct()
            )
            if n_active == 0:
                break  # every query converged — later hops are no-ops
            vis_f = visited.join(active, "query_id")
        else:
            vis_f = visited
        frontier = _top(vis_f, "cos_raw", "cand_id", beam, rank="r").select(
            "query_id", "cand_id", *extra
        )
        fa = frontier.select(F.lit(i).alias("hop"), "query_id", "cand_id")
        activity = fa if activity is None else activity.unionByName(fa)
        new = expand(frontier).join(
            visited.select("query_id", "cand_id"),
            ["query_id", "cand_id"],
            "left_anti",
        )
        hop_tag = (F.lit(i).alias("_hop"),) if adaptive else ()
        # No broadcast hints here, deliberately: r15 A/B-measured
        # hinted variants (broadcast the anti-join's visited side, the
        # new-candidate fetch side, the query side — alone and
        # together) at median +1-2 s per walk on the registered
        # operating point: each hint forces an extra per-hop broadcast
        # exchange materialization, which costs more than the shuffles
        # it replaces at these metadata-sized cardinalities, and AQE
        # already picks broadcast-hash joins from runtime stats where
        # they win. At 100 TB the corpus side (vecs) is a point-lookup
        # store by design (see graph_expand_topk's docstring), not a
        # join-strategy question.
        scored_new = new.join(vecs, "cand_id").join(q, "query_id").select(
            "query_id",
            "cand_id",
            *extra,
            _cos("qvec", "cvec", "qnorm", "cnorm").alias("cos_raw"),
            *hop_tag,
        )
        # eager=True, deliberately: r15 A/B-measured the lazy
        # (eager=False) variant — one deep job cascade at the final
        # action instead of `hops` serial checkpoint jobs — at median
        # +2 s per walk: hop i's frame is referenced three times in
        # hop i+1's plan (frontier window, anti-join, union), and the
        # eager checkpoint is what guarantees those reads hit cached
        # partitions instead of racing/recomputing inside one job.
        visited = visited.unionByName(scored_new).localCheckpoint(
            eager=True
        )
    if adaptive:
        visited = visited.drop("_hop")
    if activity is None:  # hops == 0
        # Derive the id types from the visited frame (they inherit the
        # corpus id type) so a hops=0 call returns the same schema a
        # hops>=1 call would — a literal DDL here would pin long ids
        # even when the corpus uses int ids.
        from pyspark.sql.types import IntegerType, StructField, StructType

        vf = {f.name: f for f in visited.schema.fields}
        activity = visited.sparkSession.createDataFrame(
            [],
            StructType(
                [
                    StructField("hop", IntegerType(), False),
                    vf["query_id"],
                    vf["cand_id"],
                ]
            ),
        )
    return visited, activity


def _visited_rank(
    visited: DataFrame, k: int, allowed: DataFrame | None = None
) -> DataFrame:
    """Final exact rerank over a beam walk's visited set — one copy
    shared by the in-memory and persisted-index walks (same tie-break,
    same optional result predicate, so the parity pin compares walks,
    never rank plumbing)."""
    if allowed is not None:
        visited = visited.join(allowed, "cand_id", "semi")
    return _top(
        visited.filter(F.col("cand_id") != F.col("query_id")),
        "cos_raw", "cand_id", k,
    ).select(
        "query_id",
        F.col("cand_id").alias("neighbor_id"),
        F.round("cos_raw", 6).alias("cosine"),
        "rank",
    )


def edge_probe(spark, edge_table: str, cells) -> DataFrame:
    """ONE hop's edge fetch against the persisted cell-partitioned
    edge table. Two pruning shapes, selected by the type of ``cells``:

    - ``list``: a LITERAL IN-set on the partition column, guaranteed
      to land in PartitionFilters (metadata pruning — no directory
      outside the probed cells is opened; the probed-cell convention
      shared with x_index_persist_scan). For probes whose cell set is
      already driver-side.
    - ``DataFrame`` (single cell column): a BROADCAST inner join on
      the partition column — the walk's per-hop shape. The hop then
      runs as ONE job with no driver round-trip (the r13 watch item:
      the old per-hop ``collect()`` of frontier cells launched an
      extra job per hop, `hops` sequential driver syncs per query
      batch at scale). Partition pruning still happens at the scan —
      Spark's dynamic partition pruning reuses the forced broadcast
      exchange as a runtime IN-filter in PartitionFilters
      (plan-pinned in tests/test_graph_index.py); even where DPP
      declined, the join itself keeps correctness, so the fallback
      cost is IO, never wrong rows.

    Extracted from the walk loop so the plan pins drive the exact
    scan the registered query runs, not a reconstruction."""
    edges = spark.table(edge_table)
    if isinstance(cells, DataFrame):
        cell_col = cells.columns[0]
        probe = edges.join(
            F.broadcast(
                cells.select(F.col(cell_col).alias("src_cell")).distinct()
            ),
            "src_cell",
        )
    else:
        probe = edges.filter(F.col("src_cell").isin(cells))
    return probe.select(F.col("node").alias("cand_id"), "nbr", "nbr_cell")


def graph_expand_topk_indexed(
    spark,
    edge_table: str,
    corpus: DataFrame,
    queries: DataFrame,
    protos: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    hops: int = 3,
    beam: int = 3,
    n_seeds: int = 2,
    allowed: DataFrame | None = None,
    early_exit_k: int | None = None,
) -> DataFrame:
    """The greedy beam search of ``graph_expand_topk`` walked against
    a PERSISTED cell-partitioned edge table instead of an in-memory
    adjacency — the graph counterpart of the x_index_persist_scan
    serving shape: ``edge_table`` is a warehouse table (node, nbr,
    nbr_cell) partitioned by ``src_cell`` (the source node's IVF
    cell), so each hop's edge fetch is a PARTITION-PRUNED scan of
    only the frontier's cells — a broadcast of the frontier's cell
    set that dynamic partition pruning turns into the scan's runtime
    PartitionFilter (plan-pinned), never a full edge-table read.

    The frontier's cells are known WITHOUT touching a corpus-sized
    node->cell map: seeds are cell prototypes (their cells come with
    ``protos``, the build's (cell_id, prototype_id) frame — the warm
    registered entries memoize it with the edge table, so a probe pays
    ZERO corpus aggregations before the walk), and every node a hop
    reaches carries ``nbr_cell`` in from the edge row that reached it
    — the visited frame threads (query_id, cand_id, cell, cos_raw), so
    the per-hop cell set is a metadata-bounded (<= |queries| x beam
    rows) broadcast that never leaves the executors: each hop is ONE
    job — no per-hop driver round-trip (the r13 verdict's watch item).

    Everything semantic is shared with the in-memory walk verbatim —
    ``_proto_seeds`` entry, per-hop greedy frontier by query
    similarity, the family's zero-norm cosine guard, ``_visited_rank``'s
    final exact rerank and tie-break — so the result is bit-identical
    to ``graph_expand_topk`` over the same edge set (parity-pinned in
    tests/test_graph_index.py). At 100 TB the edge table is the
    amortized artifact: built once (the one-time kNN-graph cost),
    probed per batch at IO = |frontier cells| / |cells| of the edge
    bytes per hop."""
    vecs = _vecs(corpus, id_col, vec_col, "cand_id", "cvec", "cnorm")
    q = _vecs(queries, id_col, vec_col, "query_id", "qvec", "qnorm")
    seeds = _proto_seeds(q, vecs, protos, n_seeds)
    visited = seeds.join(
        F.broadcast(
            protos.select(
                F.col("prototype_id").alias("cand_id"),
                F.col("cell_id").alias("cell"),
            )
        ),
        "cand_id",
    ).select("query_id", "cand_id", "cell", "cos_raw")

    def expand(frontier: DataFrame) -> DataFrame:
        # Plan-side frontier probe: the (<= |queries| x beam)-row cell
        # set stays on the executors as a broadcast, DPP turns it into
        # the scan's partition filter — one job per hop, no driver
        # round-trip (was: a per-hop collect() of distinct cells).
        return (
            frontier.select("query_id", "cand_id")
            .join(
                edge_probe(spark, edge_table, frontier.select("cell")),
                "cand_id",
            )
            .select(
                "query_id",
                F.col("nbr").alias("cand_id"),
                F.col("nbr_cell").alias("cell"),
            )
            .distinct()
        )

    visited, _ = _beam_walk(
        visited,
        vecs,
        q,
        hops,
        beam,
        expand,
        extra=("cell",),
        early_exit_k=early_exit_k,
    )
    return _visited_rank(visited.drop("cell"), k, allowed)


def _d2(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )


def pq_subvectors(
    df: DataFrame,
    n_subspaces: int,
    subdim: int,
    id_col: str = "vec_id",
    vec_col: str = "vec",
) -> DataFrame:
    """Split each vector into ``n_subspaces`` contiguous subvectors of
    ``subdim`` dims: (id, m, sv). Map-side explode — n_subspaces rows
    per vector, each carrying only a subdim-length slice.

    Vector length is VALIDATED row-wise (``raise_error`` when
    size(vec) != n_subspaces*subdim): a short or ragged vector would
    otherwise slice to short/empty subvectors whose zip_with distances
    come out null, silently mis-encoding or dropping the vector from
    every argmin downstream (ADVICE r7). The check is a per-row
    conditional inside the same projection — no extra scan or
    shuffle."""
    expected = n_subspaces * subdim
    checked = F.when(
        F.size(F.col(vec_col)) == expected, F.col(vec_col)
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    f"pq_subvectors: expected vector length {expected} "
                    f"({n_subspaces} subspaces x {subdim} dims), got "
                ),
                F.size(F.col(vec_col)).cast("string"),
                F.lit(f" for {id_col}="),
                F.col(id_col).cast("string"),
            )
        )
    )
    return df.select(
        F.col(id_col),
        F.explode(F.sequence(F.lit(0), F.lit(n_subspaces - 1))).alias("m"),
        checked.alias("_v"),
    ).select(
        id_col,
        "m",
        F.slice(F.col("_v"), F.col("m") * subdim + 1, subdim).alias("sv"),
    )


def pq_assign(subvecs: DataFrame, codebooks: DataFrame, id_col: str) -> DataFrame:
    """Nearest-codeword assignment per (vector, subspace): broadcast the
    tiny codebook, map-side squared-L2 distances, min(struct) hash-agg
    argmin (tie-break lowest code) — subvectors never shuffle on a join
    key, one scan at any corpus size. Returns (id, m, code, sv)."""
    scored = subvecs.join(F.broadcast(codebooks), "m").select(
        id_col, "m", "sv", "code", _d2(F.col("sv"), F.col("cw")).alias("d2")
    )
    return (
        scored.groupBy(id_col, "m")
        .agg(
            F.min(F.struct("d2", "code")).alias("s"),
            # sv is functionally dependent on (id, m) — first() is
            # deterministic in value
            F.first("sv").alias("sv"),
        )
        .select(id_col, "m", F.col("s.code").alias("code"), "sv")
    )


def pq_train_codebooks(
    vecs: DataFrame,
    n_subspaces: int,
    subdim: int,
    n_codes: int,
    id_col: str = "vec_id",
    seed_id_source: DataFrame | None = None,
) -> DataFrame:
    """Deterministic product-quantization codebooks: per subspace, the
    ``n_codes`` codewords are seeded from the subvectors of the
    ``n_codes`` LOWEST ids (codes numbered 0..n_codes-1 in id order —
    id VALUES don't matter, so offset/sharded id ranges train
    correctly), then refined by ONE Lloyd round with decimal-exact
    (order-independent) elementwise means — the x_kmeans_checked
    device per subspace.

    Returns (m, code, cw array<double>) MATERIALIZED as a local
    relation: the frame is n_subspaces x n_codes rows (metadata-sized
    at any corpus scale), and every downstream branch that references
    it (encode, per-query LUT, re-assign) would otherwise re-execute
    the whole training subtree — a full corpus scan each. Collecting
    and rebuilding severs the lineage with NO cache-manager entry (a
    persist inside a lazy plan builder would leak past the function's
    lifetime — the extensions3 convention) and no cold-cache
    surprises. Measured at sf0.1: 1.72 -> 1.27 s on the PQ query vs
    recompute-per-branch.

    NOTE this function is deliberately EAGER: the seed-id collect and
    the codebook local_relation both execute at call time, so calling
    it is "train now", not "add training to the plan" — plan-only
    callers should not call it until they mean to pay for training.
    Production trains once and persists the codes/codebooks; the
    registered queries re-train per run on purpose (the bench charges
    the full pipeline)."""
    from blspark.catalog import davg

    sv = pq_subvectors(vecs, n_subspaces, subdim, id_col=id_col)
    # Seed list: the n_codes LOWEST ids, code = rank in id order. The
    # frame is n_codes rows (metadata-sized by construction), so build
    # it as a local relation — orderBy().limit() plans as
    # TakeOrderedAndProject (no full sort), and enumerating driver-side
    # replaces the global row_number window that would otherwise warn
    # about (and genuinely plan) a single-partition WindowExec
    # (VERDICT r7 item 4: the bench tail must stay clean enough that a
    # REAL unpartitioned window on a corpus-sized frame is visible).
    # ``seed_id_source``: optional CHEAPER frame carrying the same id
    # SET as ``vecs`` — the seed list only needs ids, so when ``vecs``
    # is an expensive derivation that preserves ids 1:1 (the residual
    # projection: corpus cell-assign + centroid join + subtraction),
    # collecting the n_codes lowest ids from the underlying raw frame
    # skips executing that whole subtree for a 4-row id list (VERDICT
    # r9 item 5: at 100 TB the old shape paid an entire extra corpus
    # pass at plan-construction time).
    seed_frame = seed_id_source if seed_id_source is not None else vecs
    id_type = dict(seed_frame.dtypes)[id_col]
    seed_ids = [
        r[0]
        for r in seed_frame.select(F.col(id_col))
        .orderBy(id_col)
        .limit(n_codes)
        .collect()
    ]
    seed_codes = vecs.sparkSession.createDataFrame(
        list(zip(seed_ids, range(len(seed_ids)))),
        f"{id_col} {id_type}, code int",
    )
    init = sv.join(F.broadcast(seed_codes), id_col).select(
        "m", "code", F.col("sv").alias("cw")
    )
    assigned = pq_assign(sv, init, id_col)
    per_pos = (
        assigned.select("m", "code", F.posexplode("sv"))
        .groupBy("m", "code", "pos")
        .agg(davg("col").alias("c"))
    )
    cb = per_pos.groupBy("m", "code").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c"))),
            lambda s: s["c"],
        ).alias("cw")
    )
    from blspark.ops import local_relation

    return local_relation(cb, "m int, code int, cw array<double>")


def pq_encode(
    vecs: DataFrame,
    codebooks: DataFrame,
    n_subspaces: int,
    subdim: int,
    id_col: str = "vec_id",
) -> DataFrame:
    """Encode every vector as n_subspaces small codes: (id, m, code).
    This is the PQ compression step — at 64 dims x float32 a vector is
    256 bytes; 8 subspace codes are 8 bytes (32x). The codes frame is
    what a 100 TB corpus persists; raw vectors are only re-read for
    exact re-ranking of the final candidates.

    Plan choice, measured: the explode + broadcast-join + aggregate
    argmin here beats inlining the whole argmin as one per-row
    expression (``pq_encode_stateless``) 3x at sf0.1 (1.27 vs 3.83 s
    on the PQ query) — the inlined form re-evaluates M x ks slice+fold
    subtrees inside ONE interpreted higher-order expression per row,
    while this shape keeps each fold a small per-row expression and
    pays only an (id, m)-keyed shuffle of tiny rows. The stateless
    form exists for Structured Streaming, where append-mode encode
    cannot aggregate (equality of the two is property-tested)."""
    return pq_assign(
        pq_subvectors(vecs, n_subspaces, subdim, id_col=id_col),
        codebooks,
        id_col,
    ).select(id_col, "m", "code")


def pq_adc_topk(
    corpus_codes: DataFrame,
    queries: DataFrame,
    codebooks: DataFrame,
    n_subspaces: int,
    subdim: int,
    k: int = 3,
    id_col: str = "vec_id",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k: the query stays exact, the
    corpus is its PQ codes. Per query, a lookup table of
    dot(query_subvector, codeword) for every (m, code) — Q x M x ks
    values, broadcast — turns scoring into a sum of M table lookups per
    corpus vector: join codes to the LUT on (m, code), then one
    (query, neighbor)-keyed sum with map-side partial aggregation.
    No raw vector is touched during scanning (``_adc``).

    At 100 TB, compose with IVF: keep cell_id on the codes frame and
    restrict the LUT join to the query's probed cells, which prunes the
    scan the same way ivf_topk does (FAISS IVF-PQ — ``ivfpq_query``
    over ``ivfpq_build_index``'s codes, the same ``_adc`` scan). Returns
    (query_id, neighbor_id, score, rank); score is the approximate
    inner product, rounded to 6 dp for display after ranking."""
    qsv = pq_subvectors(queries, n_subspaces, subdim, id_col=id_col).select(
        F.col(id_col).alias("query_id"), "m", "sv"
    )
    codes = corpus_codes.withColumnRenamed(id_col, "neighbor_id")
    return _adc(codes, qsv, codebooks, k)


def _adc(
    codes: DataFrame,
    qsv: DataFrame,
    codebooks: DataFrame,
    k: int,
    probes: DataFrame | None = None,
    base_col: str | None = None,
    keep: tuple = (),
) -> DataFrame:
    """The PQ rungs' scan, score and tail — one copy, so a numeric-policy
    or tie-break fix can never diverge ``pq_adc_topk`` and the IVF-PQ
    rungs. The LUT is dot(query subvector, codeword) for every (m,
    code): Q x M x ks rows from ``qsv`` (query_id, m, sv) and the
    codebooks, broadcast. ``codes`` (neighbor_id, m, code[, cell_id])
    pair with it on (m, code); with ``probes`` (query_id, cell_id, ...)
    they pair with the probe list on cell_id first and then meet the
    LUT on (query_id, m, code) — the probed-cell scan.

    The M per-subspace values fold in subspace order (collect, sort by
    m, sequential aggregate), matching DuckDB's ``list_sum(list(val
    ORDER BY m))`` — never an unordered double SUM. ``base_col``: an
    optional probe column holding a per-(query, neighbor) CONSTANT
    additive term (residual IVF-PQ's dot(query, centroid) — each
    neighbor lives in exactly one cell, so the value is constant
    within the group). It is added AFTER the fold completes (``fold +
    base``, one commutative addition — the same association DuckDB's
    ``list_sum(...) + min(base)`` evaluates), never folded in, which
    would change the association and drift last-ulp. ``keep``: extra
    probe columns, CONSTANT per query, carried to the output (the
    adaptive rung rides each query's ``nprobe_used`` along; ``min`` is
    exact)."""
    lut = qsv.join(F.broadcast(codebooks), "m").select(
        "query_id", "m", "code", _dot(F.col("sv"), F.col("cw")).alias("val")
    )
    if probes is None:
        scored = _pair(codes, lut, ["m", "code"])
    else:
        scored = _pair(codes, probes, "cell_id").join(
            F.broadcast(lut), ["query_id", "m", "code"]
        )
    fold = F.aggregate(
        F.transform(
            F.array_sort(F.collect_list(F.struct("m", "val"))),
            lambda s: s["val"],
        ),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )
    score = fold + F.min(base_col) if base_col is not None else fold
    per_pair = scored.groupBy("query_id", "neighbor_id").agg(
        score.alias("score_raw"), *[F.min(c).alias(c) for c in keep]
    )
    return _ranked(per_pair, "score_raw", k, *keep, ("score_raw", "score"))


def pq_encode_stateless(
    df: DataFrame,
    codebook_rows: list[tuple[int, int, list[float]]],
    n_subspaces: int,
    subdim: int,
    id_col: str = "vec_id",
    vec_col: str = "vec",
) -> DataFrame:
    """Encode vectors against a FROZEN codebook as a pure per-row
    expression — no aggregation, no state — so it runs identically in
    batch and inside a Structured Streaming micro-batch in append mode
    (the streaming-index-maintenance shape: codebooks are trained
    offline, arrivals encode statelessly). ``codebook_rows`` is the
    collected (m, code, cw) list — n_subspaces x n_codes entries,
    metadata-sized by construction, inlined as literals (the expression
    equivalent of a broadcast). Argmin tie-break is lowest code, same
    as ``pq_assign``. Returns (id, m, code)."""
    by_m: dict[int, list[tuple[int, list[float]]]] = {}
    for m, code, cw in codebook_rows:
        by_m.setdefault(m, []).append((code, cw))

    pairs = []
    for m in sorted(by_m):
        sv = F.slice(F.col(vec_col), m * subdim + 1, subdim)
        cands = [
            F.struct(
                _d2(
                    sv,
                    F.array(*[F.lit(float(x)).cast("double") for x in cw]),
                ).alias("d2"),
                F.lit(int(code)).cast("int").alias("code"),
            )
            for code, cw in sorted(by_m[m])
        ]
        # array_min over (d2, code) structs = lexicographic argmin with
        # lowest-code tie-break — bit-identical to pq_assign's
        # min(struct(d2, code)) aggregate
        pairs.append(
            F.struct(
                F.lit(m).cast("int").alias("m"),
                F.array_min(F.array(*cands)).getField("code").alias("code"),
            )
        )
    return df.select(
        id_col, F.explode(F.array(*pairs)).alias("mc")
    ).select(id_col, F.col("mc.m").alias("m"), F.col("mc.code").alias("code"))


def pq_rerank_topk(
    corpus: DataFrame,
    corpus_codes: DataFrame,
    queries: DataFrame,
    codebooks: DataFrame,
    n_subspaces: int,
    subdim: int,
    k: int = 3,
    shortlist: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "vec",
) -> DataFrame:
    """Two-stage retrieval: the ADC scan produces a ``shortlist`` of
    candidates per query from compressed codes (cheap, approximate
    order), then ONLY those candidates' raw vectors are fetched for an
    exact cosine re-rank to the final top-k — the standard production
    shape (quantization error perturbs the shortlist's internal order;
    the exact pass fixes it for the cost of |shortlist| vector reads
    per query instead of a corpus scan).

    Scale shape: the candidate frame is Q x shortlist rows — broadcast;
    the corpus raw-vector fetch is a broadcast-hash semi-join prune of
    one scan (``_rescore``; at 100 TB with a sorted/bucketed corpus
    layout this is a point-lookup pattern). Returns (query_id,
    neighbor_id, cosine, rank) with exact cosines; a zero-norm
    vector's pairs score -inf and rank last (the ``_cos`` guard)."""
    cand = pq_adc_topk(
        corpus_codes, queries, codebooks, n_subspaces, subdim,
        k=shortlist, id_col=id_col,
    ).select("query_id", "neighbor_id")
    return _ranked(
        _rescore(corpus, queries, cand, id_col, vec_col),
        "cos_raw", k, ("cos_raw", "cosine"),
    )


def ivfpq_build_index(
    corpus: DataFrame,
    centroids: DataFrame,
    codebooks: DataFrame,
    n_subspaces: int,
    subdim: int,
    id_col: str = "vec_id",
    vec_col: str = "vec",
) -> DataFrame:
    """The write-once corpus side of FAISS-style IVF-PQ: IVF cells
    prune WHICH vectors a query scores while PQ codes shrink WHAT is
    scored (ADC over codes; no raw corpus vector is touched during
    scanning) — together the scan is |probed cells| x M one-byte
    codes. Cell-assign every vector (max cosine, the shared
    ``_cell_assign`` rule) and PQ-encode it — (id, m, code, cell_id),
    M rows of one-byte codes per vector. This frame IS the index a
    100 TB deployment persists (partitioned by cell_id for probe
    pruning — ``x_pq_index_layout`` demonstrates); every query batch
    after that pays only ``ivfpq_query`` (fixed ``nprobe``) or
    ``ivfpq_adaptive_query`` (margin-adaptive probes)."""
    c_cells = _cell_assign(corpus, centroids, id_col, vec_col, 1)
    return pq_encode(
        corpus.select(id_col, F.col(vec_col).alias("vec")),
        codebooks, n_subspaces, subdim, id_col=id_col,
    ).join(c_cells.select(id_col, "cell_id"), id_col)


def ivfpq_query(
    codes: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    codebooks: DataFrame,
    n_subspaces: int,
    subdim: int,
    k: int = 3,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "vec",
) -> DataFrame:
    """The per-batch query side of IVF-PQ over a pre-built codes frame
    (``ivfpq_build_index``'s output): route each query to its
    ``nprobe`` nearest cells (``_route``), build the broadcast LUT,
    and run the ADC scan restricted to (query, probed cell) pairs
    (``_adc``). No corpus vector — and no corpus-sized computation
    besides the probed-cell code scan — is touched. With ``nprobe ==
    |centroids|`` the cell restriction is vacuous and results equal
    ``pq_adc_topk`` on the same codes (property-tested). Returns
    (query_id, neighbor_id, score, rank) where score is the
    approximate inner product from the ADC fold."""
    q = _route(queries, centroids, id_col, vec_col, nprobe)
    qsv = pq_subvectors(
        q.select("query_id", F.col("qvec").alias("vec")).distinct(),
        n_subspaces, subdim, id_col="query_id",
    )
    return _adc(codes.withColumnRenamed(id_col, "neighbor_id"), qsv, codebooks, k, q)


def ivfpq_adaptive_query(
    codes: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    codebooks: DataFrame,
    n_subspaces: int,
    subdim: int,
    k: int = 3,
    probe_lo: int = 2,
    probe_hi: int = 4,
    margin_threshold: float = 0.05,
    id_col: str = "vec_id",
    vec_col: str = "vec",
) -> DataFrame:
    """``ivfpq_query`` with QUERY-ADAPTIVE probing — the margin knob
    (``ivf_adaptive_probe_frame``: top1 - top2 centroid-cosine margin
    picks ``probe_lo`` or ``probe_hi`` cells per query) threaded
    through the compressed-domain ADC pipeline, the rung a 100 TB
    deployment actually serves: the probed-cell restriction AND the
    one-byte ADC scan compose, so a confident query's scan budget is
    probe_lo cells of M one-byte codes while only boundary queries
    widen. Callers build the codes once with ``ivfpq_build_index``.

    The probe decision and the ADC scan are the SAME helpers the
    fixed-nprobe family uses (the adaptive router shared with
    ``ivf_adaptive_topk``; ``_adc`` shared with ``ivfpq_query``) —
    with ``probe_lo == probe_hi == n`` results equal
    ``ivfpq_query(nprobe=n)`` exactly (property-tested). Returns
    (query_id, neighbor_id, nprobe_used, score, rank); ``nprobe_used``
    rides the scoring join (``_adc`` keep=) so the per-query decision
    is visible without re-running the probe subtree."""
    probes = ivf_adaptive_probe_frame(
        queries, centroids, id_col, vec_col, probe_lo, probe_hi,
        margin_threshold,
    )
    qsv = pq_subvectors(
        _vecs(queries, id_col, vec_col, "query_id").select("query_id", "vec"),
        n_subspaces, subdim, id_col="query_id",
    )
    return _adc(
        codes.withColumnRenamed(id_col, "neighbor_id"), qsv, codebooks, k,
        probes, keep=("nprobe_used",),
    )


def ivfpq_residual_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    n_subspaces: int,
    subdim: int,
    n_codes: int,
    k: int = 3,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "vec",
) -> DataFrame:
    """IVF-PQ with RESIDUAL encoding — the classic FAISS refinement:
    PQ codes quantize ``vec - centroid[cell]`` instead of the raw
    vector. Residuals concentrate near the origin with far less
    variance than raw vectors (the cell already explains the coarse
    position), so the same codebook budget spends its codewords on the
    fine structure — markedly better codes at identical storage.

    Scoring uses the inner-product decomposition
    ``dot(q, x) ~ dot(q, centroid[cell]) + dot(q, residual_hat)``:
    the first term is ONE scalar per (query, probed cell), computed on
    the broadcast centroid frame; the second is the standard ADC fold
    over the residual-trained LUT (raw query subvectors against
    residual codewords — no query-side residual needed for the fold).
    Cell assignment, codebook training, the query router and the ADC
    scan are the SAME helpers the whole IVF/PQ family shares
    (``_cell_assign`` / ``pq_train_codebooks`` / ``_route`` /
    ``_adc``); the centroid term rides ``_adc``'s ``base_col``.

    Scale shape: identical to ``ivfpq_query`` — centroids, codebooks,
    probe list, and LUT broadcast; the only corpus-sized frames are the
    residual encode (one scan + (id, m)-keyed argmin) and the ADC scan
    over |probed cells| x M one-byte codes. Because training happens
    here, this function re-scans the corpus for encode exactly as
    ``ivfpq_build_index`` does; production trains once and persists
    codes.

    Returns (query_id, neighbor_id, score, rank) — score is the
    approximate inner product, comparable to ``ivfpq_query``'s."""
    cent = _centroid_frame(centroids)
    # Recompute-over-persist, deliberately: the cell assignment feeds
    # three corpus-sized consumers (the residual projection inside the
    # eager codebook collect, the encode scan, the codes cell_id join)
    # and Catalyst reuses none of them — but materializing c_cells
    # would checkpoint a RAW-VECTOR-bearing frame, i.e. write a full
    # corpus copy to executor disks at 100 TB, to save two passes of
    # per-cell dot products that column-pruned parquet re-scans price
    # lower. Measured at sf0.1 (round-10 bisect session): checkpoint
    # vs recompute is within host noise. Production splits this
    # function anyway (train/encode once, persist the COMPRESSED
    # codes — the ivfpq_build_index/ivfpq_query shape).
    c_cells = _cell_assign(corpus, centroids, id_col, vec_col, 1)
    resid = c_cells.join(F.broadcast(cent), "cell_id").select(
        F.col(id_col),
        "cell_id",
        F.zip_with("vec", "cvec", lambda a, b: a - b).alias("vec"),
    )
    cb = pq_train_codebooks(
        resid, n_subspaces, subdim, n_codes, id_col=id_col,
        # residual projection preserves ids 1:1 — seed from the raw
        # corpus (one column-pruned scan) instead of executing the
        # cell-assign + centroid-join + subtraction subtree for ids
        seed_id_source=corpus.select(id_col),
    )
    # cell_id comes from c_cells, not resid: re-deriving it through the
    # residual projection would re-execute the centroid join + zip_with
    # subtraction a third time just to read back a column c_cells
    # already carries (ivfpq_build_index's shape, kept identical).
    codes = pq_encode(resid, cb, n_subspaces, subdim, id_col=id_col).join(
        c_cells.select(id_col, "cell_id"), id_col
    )

    # per (query, probed cell): the coarse term dot(q, centroid)
    probes = _route(queries, centroids, id_col, vec_col, nprobe).join(
        F.broadcast(cent), "cell_id"
    ).select(
        "query_id", "cell_id", _dot(F.col("qvec"), F.col("cvec")).alias("cell_dot")
    )
    qsv = pq_subvectors(
        queries.select(id_col, F.col(vec_col).alias("vec")),
        n_subspaces, subdim, id_col=id_col,
    ).select(F.col(id_col).alias("query_id"), "m", "sv")
    return _adc(
        codes.withColumnRenamed(id_col, "neighbor_id"), qsv, cb, k, probes,
        base_col="cell_dot",
    )


def cell_assign_stateless(
    df: DataFrame,
    centroid_rows: list[tuple[int, list[float]]],
    vec_col: str = "vec",
    out: str = "cell_id",
) -> DataFrame:
    """Nearest-cell assignment against a FROZEN centroid list as a pure
    per-row expression — no aggregation, no state — so it runs
    identically in batch and inside a Structured Streaming micro-batch
    in append mode (the streaming-index-maintenance shape, the IVF
    counterpart of ``pq_encode_stateless``). ``centroid_rows`` is the
    collected (cell_id, centroid) list — metadata-sized, inlined as
    literals (the expression equivalent of a broadcast).

    Bit-identical to ``_cell_assign`` with probes=1: same max-cosine
    rule, same ``array_min`` over (-sim, cell_id) structs (IEEE
    negation is exact) with the lowest-cell tie-break, same -inf guard
    for zero-norm pairings. Centroid norms are computed driver-side
    with the SAME association the ``_norm`` fold uses (left-to-right
    sum, then sqrt), so the division operands match to the last ulp.
    Equality of the two paths is property-tested."""
    vn = f"__{out}_vnorm"
    with_n = df.withColumn(vn, _norm(F.col(vec_col)))
    cands = _frozen_cells(vec_col, vn, centroid_rows)
    return with_n.withColumn(
        out, F.array_min(cands).getField("cell_id")
    ).drop(vn)


def _frozen_cells(vec_col: str, vn: str, centroid_rows) -> Column:
    """The streaming Route stage's per-row candidate array: one
    (neg, cell_id) struct per FROZEN centroid, inlined as literals —
    neg is the ``_cos`` score negated (IEEE negation is exact), so an
    ascending sort is ``_cell_assign``'s cosine-DESC, lowest-cell
    order. Centroid norms are computed driver-side with the SAME
    association the ``_norm`` fold uses (left-to-right sum, then
    sqrt), so the division operands match to the last ulp. ``vn``
    names the row's norm column, hoisted by the caller and REFERENCED
    per candidate — inlining the interpreted 64-element fold into
    every struct would evaluate it |cells| times per row in the
    streaming hot path (the cosine_topk hoisting lesson; measured 2x
    there)."""
    cands = []
    for cell_id, cvec in sorted(centroid_rows):
        c = F.array(*[F.lit(float(x)).cast("double") for x in cvec])
        acc = 0.0
        for x in cvec:  # left-to-right — _norm's fold order exactly
            acc += float(x) * float(x)
        cnorm = F.lit(math.sqrt(acc)).cast("double")
        cands.append(
            F.struct(
                (-_cos(F.col(vec_col), c, vn, cnorm)).alias("neg"),
                F.lit(int(cell_id)).cast("int").alias("cell_id"),
            )
        )
    return F.array(*cands)


def cell_reassign_delta(
    corpus: DataFrame,
    old_centroids: DataFrame,
    new_centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Index-maintenance reassignment delta: for every corpus vector,
    its nearest cell under the OLD (serving) centroids and under the
    REFRESHED centroids, in ONE corpus scan — the union of both
    centroid sets (tagged, still metadata-sized, broadcast) is scored
    per row and a single hash-aggregate takes BOTH argmins as
    conditional ``min(when(tag, struct(-sim, cell_id)))`` — the exact
    ``_cell_assign`` probes=1 rule per tag (IEEE negation exact, same
    lowest-cell tie-break, same -inf zero-norm guard;
    equality-to-two-_cell_assign-calls is property-tested). Returns
    (id, old_cell, new_cell).

    At 100 TB this is THE maintenance primitive: after drift, the
    delta names exactly which index partitions must rewrite (a vector
    moves old_cell -> new_cell: delete from one directory, append to
    the other — everything else is untouched), and the one-scan
    two-argmin shape costs one pass over the corpus instead of two
    passes plus a corpus-sized self-join on id."""
    old = _centroid_frame(old_centroids).withColumn("is_new", F.lit(False))
    new = _centroid_frame(new_centroids).withColumn("is_new", F.lit(True))
    cents = old.unionByName(new)
    scored = (
        _vecs(corpus, id_col, vec_col)
        .crossJoin(F.broadcast(cents))
        .select(
            F.col(id_col),
            "is_new",
            F.struct(
                (-_cos("vec", "cvec", "vnorm", "centnorm")).alias("neg"),
                "cell_id",
            ).alias("s"),
        )
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.min(F.when(~F.col("is_new"), F.col("s"))).alias("o"),
            F.min(F.when(F.col("is_new"), F.col("s"))).alias("n"),
        )
        .select(
            id_col,
            F.col("o.cell_id").alias("old_cell"),
            F.col("n.cell_id").alias("new_cell"),
        )
    )


def probe_cells_stateless(
    df: DataFrame,
    centroid_rows: list[tuple[int, list[float]]],
    vec_col: str = "vec",
    probe_lo: int = 2,
    probe_hi: int = 4,
    margin_threshold: float = 0.05,
) -> DataFrame:
    """Query-ADAPTIVE probe routing against a FROZEN centroid list as
    pure per-row expressions — no aggregation, no window, no state —
    so it runs identically in batch and inside a Structured Streaming
    micro-batch in append mode: the serving tier's routing half, where
    each arriving query decides which index partitions its
    scatter-gather will read. Appends two columns: ``nprobe_used``
    (probe_lo or probe_hi from the margin rule) and ``probe_cells``
    (the decided cells as an array<int> in rank order).

    Bit-identical to ``ivf_adaptive_probe_frame``: the candidate structs are
    ``cell_assign_stateless``'s (-sim, cell_id) with the same -inf
    zero-norm guard and driver-side centroid norms (same fold
    association), ``array_sort`` on them IS the rank window's total
    order (neg asc = cosine desc, then lowest cell_id — IEEE negation
    exact), the margin is top1 - top2 forced to 0.0 (ambiguous) when
    either is -inf or fewer than two cells exist (never a NaN), and
    the slice length is always >= 1 (gotcha 21: F.slice never sees a
    nonpositive length). Equality of the two paths is
    property-tested."""
    if probe_lo > probe_hi:
        raise ValueError("probe_lo must be <= probe_hi")
    if probe_lo < 1:
        raise ValueError("probe_lo must be >= 1")
    vn = "__probe_vnorm"
    with_n = df.withColumn(vn, _norm(F.col(vec_col)))
    ranked = F.array_sort(_frozen_cells(vec_col, vn, centroid_rows))
    neg_inf = F.lit(float("-inf"))
    s1 = -F.element_at(ranked, 1).getField("neg")
    s2 = F.when(
        F.size(ranked) >= 2, -F.element_at(ranked, 2).getField("neg")
    )
    margin = F.when(
        s2.isNotNull() & (s1 > neg_inf) & (s2 > neg_inf), s1 - s2
    ).otherwise(F.lit(0.0))
    n = F.when(
        margin >= F.lit(margin_threshold), F.lit(probe_lo)
    ).otherwise(F.lit(probe_hi))
    return (
        with_n.withColumn("nprobe_used", n)
        .withColumn(
            "probe_cells",
            F.transform(
                F.slice(ranked, F.lit(1), F.col("nprobe_used")),
                lambda s: s.getField("cell_id"),
            ),
        )
        .drop(vn)
    )


def label_centroids(
    embeddings: DataFrame, id_col: str = "label", vec_col: str = "embedding"
) -> DataFrame:
    """Per-group elementwise mean -> (cell_id, centroid array<double>).
    posexplode + groupBy(group, pos) + collect in position order — the
    distributed vector aggregation underlying IVF training."""
    per_pos = (
        embeddings.select(
            F.col(id_col).alias("cell_id"),
            F.posexplode(F.col(vec_col).cast("array<double>")),
        )
        .groupBy("cell_id", "pos")
        .agg(F.avg("col").alias("m"))
    )
    return (
        per_pos.groupBy("cell_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("pos"), F.col("m")))
            ).alias("pairs")
        )
        .select(
            "cell_id",
            F.transform(F.col("pairs"), lambda s: s["m"]).alias("centroid"),
        )
    )


def probe_sequence(bucket: Column, n_planes: int, probes: int) -> Column:
    """Multi-probe bucket list for a query: its own bucket first, then
    the buckets at Hamming distance 1 in sign-bit order (flip bit 0, bit
    1, ...), truncated to ``probes`` entries. A near-miss neighbor sits
    just across ONE hyperplane with high probability, so probing the
    1-bit-flip buckets recovers most of the recall a single-bucket probe
    loses — for the cost of ``probes`` lookups per query instead of one,
    and with NO extra corpus-side work (the corpus is never exploded)."""
    if probes > n_planes + 1:
        raise ValueError(
            f"probes={probes} exceeds the {n_planes + 1} distinct "
            "1-bit-flip buckets available with "
            f"{n_planes} hyperplanes (own bucket + one flip per plane)"
        )
    cands = [bucket] + [
        bucket.bitwiseXOR(F.lit(2**i)) for i in range(n_planes)
    ]
    return F.array(*cands[:probes])


def hyperplane_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    hyperplanes: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    probes: int = 1,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH bucket
    (``probes`` = 1) or its bucket plus the nearest 1-bit-flip buckets
    (multi-probe, ``probes`` > 1 — the recall lever that costs probe
    fan-out on the tiny query side only).
    Returns (query_id, neighbor_id, cosine, rank). The corpus pairs
    with the broadcast query probes on the bucket id (``_pair``)
    instead of a full cross product; each corpus vector lives in
    exactly one bucket and a query's probe buckets are distinct, so
    (query, neighbor) pairs stay unique without a distinct."""
    # Norms hoisted out of the bucketed join (see _vecs).
    c = hyperplane_buckets(
        with_double_vec(corpus, vec_col), hyperplanes
    ).select(
        F.col(id_col).alias("neighbor_id"),
        "vec",
        _norm(F.col("vec")).alias("cnorm"),
        "bucket",
    )
    q = hyperplane_buckets(
        with_double_vec(queries, vec_col), hyperplanes
    ).select(
        F.col(id_col).alias("query_id"),
        F.col("vec").alias("qvec"),
        _norm(F.col("vec")).alias("qnorm"),
        F.explode(
            probe_sequence(F.col("bucket"), len(hyperplanes), probes)
        ).alias("bucket"),
    )
    scored = _pair(c, q, "bucket").select(
        "query_id",
        "neighbor_id",
        _cos("vec", "qvec", "cnorm", "qnorm").alias("cos_raw"),
    )
    return _ranked(scored, "cos_raw", k, ("cos_raw", "cosine"))


def cell_cover_radii(assigned: DataFrame, cent: DataFrame) -> DataFrame:
    """Per-cell cover radius r_cell = max member distance to the cell
    centroid — the metadata (|cells| rows) that makes EXACT range
    search prunable: by the triangle inequality every member x of cell
    c satisfies d(q, x) >= d(q, c) - r_cell, so a cell with
    d(q, c) > radius + r_cell provably contains NO result and is
    skipped without recall loss. MAX is pure selection over exact
    per-row doubles — deterministic, oracle-mirrorable. ``assigned``
    is a ``_cell_assign(probes=1)`` frame (id, vec, vnorm, cell_id)."""
    return (
        assigned.join(F.broadcast(cent), "cell_id")
        .select(
            "cell_id",
            F.sqrt(_d2(F.col("vec"), F.col("cvec"))).alias("d"),
        )
        .groupBy("cell_id")
        .agg(F.max("d").alias("rcell"))
    )


RANGE_EPS = 1e-9  # see the bound comment in range_search_ivf


def range_search_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    radius: float,
    id_col: str = "vec_id",
    vec_col: str = "vec",
    with_probe_frame: bool = False,
):
    """EXACT radius query (all neighbors with L2 distance <= radius)
    with PROVABLE cell pruning — a different query TYPE from the top-k
    family: the result size is data-dependent and the guarantee is
    exactness, not recall. The IVF stage here is not approximate: a
    cell is skipped only when the triangle inequality proves it empty
    of results (d(query, centroid) > radius + r_cell), so the output
    is bit-identical to a brute-force radius scan — the oracle IS the
    brute force, and hash equality proves the pruning lossless.

    Scale shape: cell stats (centroids + cover radii) are |cells|-row
    metadata; the corpus is scanned once for assignment (map-side
    argmin) and once per batch for the probed-cell distance filter;
    the probe decision is a |queries| x |cells| broadcast product. At
    100 TB with a real clustered corpus the probed fraction is the
    whole game; on near-isotropic data the bound may prune nothing —
    x_range_eval reports the probed-cell count honestly, and
    tests/test_range.py pins the pruning actually firing on separated
    clusters.

    Returns (query_id, neighbor_id, dist ROUND 6); self-matches
    excluded. ``with_probe_frame``: also return the (query_id,
    cell_id) probe frame for budget accounting — (result, probes).
    """
    cent = _centroid_frame(centroids)
    assigned = _cell_assign(corpus, centroids, id_col, vec_col, 1)
    rcell = cell_cover_radii(assigned, cent)
    q = with_double_vec(queries, vec_col).select(
        F.col(id_col).alias("query_id"), F.col("vec").alias("qvec")
    )
    # RANGE_EPS widens the bound by a hair: the triangle inequality is
    # proved in real arithmetic but evaluated over rounded sum-of-
    # squares folds + sqrt, so an adversarially tight geometry (a
    # boundary result colinear with query and centroid) could round
    # the bound one ulp too small and prune a true result. Widening
    # can only ADD probed cells — exactness is preserved uncondition-
    # ally, pruning is unaffected at any realistic separation. The
    # eval oracle carries the same constant (extensions13).
    dqc = (
        q.crossJoin(F.broadcast(cent))
        .select(
            "query_id",
            "cell_id",
            F.sqrt(_d2(F.col("qvec"), F.col("cvec"))).alias("dqc"),
        )
        .join(F.broadcast(rcell), "cell_id")
        .filter(
            F.col("dqc") <= F.lit(radius) + F.col("rcell") + F.lit(RANGE_EPS)
        )
        .select("query_id", "cell_id")
    )
    result = (
        assigned.join(F.broadcast(dqc), "cell_id")
        .join(F.broadcast(q), "query_id")
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            F.sqrt(_d2(F.col("vec"), F.col("qvec"))).alias("d"),
        )
        .filter(F.col("d") <= radius)
        .select("query_id", "neighbor_id", F.round("d", 6).alias("dist"))
    )
    if with_probe_frame:
        return result, dqc
    return result
