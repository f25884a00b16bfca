"""Binary (1-bit) embedding quantization — the extreme end of the
compression ladder (brute -> LSH -> IVF -> SQ8 -> PQ -> IVF-PQ ->
**binary**): each dimension collapses to one SIGN BIT against a
train-free per-dimension threshold (the corpus mean), packed into
32-bit words stored as BIGINTs. 32x fewer bytes than float32 (2x
beyond PQ-8), and candidate generation becomes pure integer XOR +
popcount — the cheapest possible scan at 100 TB, where the binary
codes for a billion 64-dim vectors fit in ~8 GB and the distance
kernel is two CPU instructions per word.

Serving shape (the modern "binary quantization + rescore" design used
by production vector stores): Hamming distance over the packed words
builds a per-query SHORTLIST, then an exact float inner-product
rerank over only shortlist-many candidates restores ranking quality.
Recall is priced by ``tests/test_binaryq.py`` and the registered
``x_binary_eval`` contract, exactly like the PQ/IVF rungs.

Determinism (oracle-hash contract):
- thresholds are per-dimension means via the DECIMAL(28,4) exact-sum
  device (catalog ``davg`` convention) — order-independent, so Spark's
  partial aggregation and DuckDB's serial sum agree bitwise;
- the packed words are exact integers (bit j set iff x_d > thr_d);
- Hamming is an exact int64 sum of per-word popcounts;
- the only floats in the output are the rerank dot products, ordered
  folds shared with the rest of the family (ROUND(.,6) on both sides).

Why thresholds and not raw sign(x): a biased dimension (mean far from
0) would waste its bit on a constant; centering at the corpus mean
maximizes per-bit entropy without any training. The thresholds frame
is dim-sized metadata (64 doubles here) carried as a broadcast
single-row array — never a per-row shuffle.

The reference pipeline (lambda_functions/report_processor.py,
sync_and_fetch.py — pandas/boto3, no vector search) has none of this;
the family extends SURVEY.md §2's training-data-pipeline charter like
the rest of the similarity grid.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from blspark.catalog import davg
from blspark.ext.similarity import _cell_assign, _pair, _ranked, _rescore, _route, _top

WORD_BITS = 32  # bits packed per BIGINT word — 32, not 64, so the
# packed value stays in [0, 2^32) and never touches the sign bit of
# either engine's BIGINT (DuckDB's 1::BIGINT << 63 and Spark's
# shiftleft(1L, 63) both produce a negative word; XOR/popcount would
# still agree, but keeping words non-negative makes every intermediate
# comparable and removes the two's-complement caveat from the oracle).


def binary_thresholds(vecs: DataFrame, vec_col: str = "vec") -> DataFrame:
    """Per-dimension quantization thresholds = corpus mean per dim,
    computed with the exact-decimal-sum device so both engines agree
    bitwise. Returns a SINGLE-ROW frame ``(thr array<double>)`` ordered
    by dimension — dim-sized metadata, broadcast by every consumer.

    One corpus scan; the posexplode shuffles (dim x n) single-double
    rows into dim groups — at 100 TB run it on a sample (thresholds
    are a statistic, not an index), or reuse persisted ones.
    """
    per_dim = (
        vecs.select(F.posexplode(F.col(vec_col)).alias("pos", "x"))
        .groupBy("pos")
        .agg(davg("x").alias("thr"))
    )
    return per_dim.groupBy().agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "thr"))),
            lambda s: s["thr"],
        ).alias("thr")
    )


def _pack_words(dim: int):
    """The word-packing expression over a ``_bq_bits`` column (0/1
    longs per dimension) — ONE copy shared by the batch and the
    stateless (streaming) pack so the bit layout can never diverge.
    Past-the-end dims of the last word (dim not a multiple of 32)
    pack as 0 bits — guarded explicitly, because element_at past the
    array end is NULL and would poison the whole word's fold."""
    nwords = (dim + WORD_BITS - 1) // WORD_BITS
    return F.transform(
        F.sequence(F.lit(0), F.lit(nwords - 1)),
        lambda w: F.aggregate(
            F.sequence(F.lit(0), F.lit(WORD_BITS - 1)),
            F.lit(0).cast("long"),
            lambda acc, j: acc
            + F.when(
                w * WORD_BITS + j < dim,
                F.element_at(
                    F.col("_bq_bits"), (w * WORD_BITS + j + 1).cast("int")
                )
                * F.pow(F.lit(2.0), j).cast("long"),
            ).otherwise(F.lit(0).cast("long")),
        ),
    )


def binary_pack(
    df: DataFrame,
    thresholds: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "vec",
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Pack each vector into ``ceil(dim/32)`` BIGINT words: bit j of
    word w is set iff ``vec[32w+j] > thr[32w+j]``. Entirely map-side —
    the thresholds single-row frame crossJoins in as a broadcast, the
    packing is one nested higher-order expression per row, and the
    corpus never shuffles. Returns ``(id, *keep, words array<bigint>)``
    — ``keep`` names extra input columns to carry through (the IVF x
    binary rung keeps its cell_id, the sq8_quantize convention).

    2^j is computed as ``pow(2.0, j)`` cast to long — exact for j < 53,
    and the same arithmetic the DuckDB oracle's ``1::BIGINT << j``
    produces, so packed words are bit-identical across engines."""
    bits = F.zip_with(
        F.col(vec_col),
        F.col("thr"),
        lambda x, t: F.when(x > t, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        ),
    )
    return (
        df.crossJoin(F.broadcast(thresholds))
        .withColumn("_bq_bits", bits)
        .select(
            F.col(id_col),
            *[F.col(c) for c in keep],
            _pack_words(dim).alias("words"),
        )
    )


def binary_pack_stateless(
    df: DataFrame,
    thr: list[float],
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "vec",
) -> DataFrame:
    """The streaming form of ``binary_pack``: thresholds arrive as a
    PYTHON LIST (the frozen, offline-computed artifact — dim doubles,
    the pq_encode_stateless convention) inlined as literals, so the
    encode is a pure per-row projection — no stream-static join, no
    state store, trivially append-mode. Bit layout is the shared
    ``_pack_words`` expression, so streamed words are definitionally
    identical to a batch pack under the same thresholds."""
    if len(thr) != dim:
        raise ValueError(f"thresholds length {len(thr)} != dim {dim}")
    thr_arr = F.array(*[F.lit(float(t)).cast("double") for t in thr])
    bits = F.zip_with(
        F.col(vec_col),
        thr_arr,
        lambda x, t: F.when(x > t, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        ),
    )
    return df.withColumn("_bq_bits", bits).select(
        F.col(id_col), _pack_words(dim).alias("words")
    )


def _materialized(thr: DataFrame) -> DataFrame:
    """Caller-supplied thresholds must be MATERIALIZED: both pack
    calls crossJoin the frame, so a lazy aggregation here re-runs a
    full corpus scan per pack call — the exact cost the None-path
    localCheckpoint exists to prevent. local_relation / checkpointed
    frames pass through untouched (every registered entry's shape);
    anything else is defensively localCheckpointed — idempotent and
    cheap for a single-row, dim-sized frame (ADVICE r14: the
    'already materialized by the caller' contract was docstring-only
    and unenforced)."""
    plan = thr._jdf.queryExecution().optimizedPlan().toString()
    if plan.lstrip().startswith(("LocalRelation", "LogicalRDD")):
        return thr
    return thr.localCheckpoint(eager=True)


def hamming(a: Column, b: Column) -> Column:
    """Exact Hamming distance between two packed-word arrays: int64 sum
    of per-word ``bit_count(xor)`` — the integer-only distance kernel."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: F.bit_count(x.bitwiseXOR(y)).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def binary_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "vec",
    thresholds: DataFrame | None = None,
) -> DataFrame:
    """Binary-quantized ANN with exact rerank: Hamming over packed sign
    bits builds a per-query ``shortlist``, an exact float dot product
    reranks it, top-``k`` survives. Self-matches excluded.

    Plan shape (the 100 TB contract): thresholds and the packed QUERY
    words broadcast; the corpus is scanned once and packed map-side
    (the words never persist a shuffle); the only per-(query, corpus)
    work is integer XOR+popcount; the shortlist cut is a per-query
    window over (hamming, neighbor_id); the float vectors are touched
    ONLY for the |queries| x shortlist rerank pairs — at a billion
    corpus rows that is the difference between streaming 8 GB of codes
    and 256 GB of floats. The rerank is the family's ``_rescore``
    (the fetch and exact score ``mrl_topk`` and ``pq_rerank_topk``
    share) with the inner product as the score.

    Returns (query_id, neighbor_id, score, hamming, rank) — score the
    exact inner product (6 dp), hamming the integer code distance.
    Ties: shortlist by (hamming ASC, neighbor_id ASC), final rank by
    (score DESC, neighbor_id ASC) — both total orders, both engines.
    ``thresholds``: optional precomputed ``binary_thresholds`` output —
    the trained artifact a deployment amortizes across query batches
    (the registered entries memoize it per session); None keeps the
    self-contained compute-per-call shape.
    """
    ranked = hamming_ranked(
        corpus, queries, dim, id_col=id_col, vec_col=vec_col,
        thresholds=thresholds,
    )
    pairs = ranked.filter(F.col("hrank") <= shortlist).select(
        "query_id", "neighbor_id", "hamming"
    )
    return _ranked(
        _rescore(corpus, queries, pairs, id_col, vec_col, dot=True),
        "score_raw", k, ("score_raw", "score"), "hamming",
    )


def hamming_ranked(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "vec",
    thresholds: DataFrame | None = None,
) -> DataFrame:
    """Per-query Hamming ranking of the whole corpus over packed sign
    bits — the candidate stage of ``binary_topk``, exposed so the eval
    can cut BOTH its shortlist and its raw-Hamming baseline from the
    one copy of the pairing/tie-break rule. Returns (query_id,
    neighbor_id, hamming, hrank) with hrank by (hamming ASC,
    neighbor_id ASC); self-matches excluded (``_thresholds``
    materializes the thresholds both packs read)."""
    thr = _thresholds(corpus, vec_col, thresholds)
    c = binary_pack(corpus, thr, dim, id_col=id_col, vec_col=vec_col).select(
        F.col(id_col).alias("neighbor_id"), F.col("words").alias("nwords")
    )
    q = binary_pack(queries, thr, dim, id_col=id_col, vec_col=vec_col).select(
        F.col(id_col).alias("query_id"), F.col("words").alias("qwords")
    )
    return _hamming_rank(c, q)


def _thresholds(
    corpus: DataFrame, vec_col: str, thresholds: DataFrame | None
) -> DataFrame:
    """The thresholds both packs crossJoin, materialized once: computed
    from ``corpus`` and checkpointed when ``thresholds`` is None
    (without the checkpoint each pack would re-run the per-dimension
    aggregation — a second full corpus scan for 64 doubles), else the
    caller's frame, defensively materialized (``_materialized``)."""
    if thresholds is None:
        return binary_thresholds(corpus, vec_col=vec_col).localCheckpoint(
            eager=True
        )
    return _materialized(thresholds)


def _hamming_rank(c: DataFrame, q: DataFrame, on=None) -> DataFrame:
    """Pair the packed corpus ``c`` (neighbor_id, nwords[, cell_id])
    with the packed queries ``q`` (query_id, qwords[, cell_id]) and
    rank each query's pairs by (hamming ASC, neighbor_id ASC) as
    ``hrank``."""
    paired = _pair(c, q, on).select(
        "query_id",
        "neighbor_id",
        hamming(F.col("nwords"), F.col("qwords")).alias("hamming"),
    )
    return _top(paired, "hamming", "neighbor_id", rank="hrank", asc=True)


def ivf_binary_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    dim: int,
    k: int = 5,
    shortlist: int = 50,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "vec",
    thresholds: DataFrame | None = None,
) -> DataFrame:
    """IVF x binary — the compression-x-pruning grid's cheapest cell:
    the shared IVF stage (``_cell_assign``, the one rule the whole
    family uses; ``_route`` on the query side) restricts pairing to
    each query's ``nprobe`` cells, and WITHIN them candidates rank by
    packed-word Hamming before the exact rescore of the
    ``shortlist``. The realistic big-corpus serving stack: cell
    pruning cuts the scan to nprobe/nlist of the corpus, the 1-bit
    codes cut the scanned bytes 32x, and floats are touched only for
    |queries| x shortlist pairs — multiplicative savings, same plan
    skeleton as ivf_sq8_topk (broadcast probe list, equi-join on
    cell_id, one per-query top-k window).

    Returns (query_id, neighbor_id, score, hamming, rank); ties and
    determinism identical to ``binary_topk`` (the probed-cell
    restriction changes WHICH pairs are ranked, never how)."""
    thr = _thresholds(corpus, vec_col, thresholds)
    assigned = _cell_assign(corpus, centroids, id_col, vec_col, 1)
    c = binary_pack(
        assigned, thr, dim, id_col=id_col, vec_col="vec", keep=("cell_id",)
    ).select(
        F.col(id_col).alias("neighbor_id"),
        "cell_id",
        F.col("words").alias("nwords"),
    )
    qp = binary_pack(queries, thr, dim, id_col=id_col, vec_col=vec_col).select(
        F.col(id_col).alias("query_id"), F.col("words").alias("qwords")
    )
    probe_q = _route(queries, centroids, id_col, vec_col, nprobe).join(qp, "query_id")
    ranked = _hamming_rank(c, probe_q, "cell_id")
    pairs = ranked.filter(F.col("hrank") <= shortlist).select(
        "query_id", "neighbor_id", "hamming"
    )
    return _ranked(
        _rescore(corpus, queries, pairs, id_col, vec_col, dot=True),
        "score_raw", k, ("score_raw", "score"), "hamming",
    )
