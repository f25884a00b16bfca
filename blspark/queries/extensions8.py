"""Round-5 extension operators: retrieval diversification (MMR),
materialized-view delta refresh, table-maintenance compaction planning,
entity resolution (blocking + edit distance + components), k-core graph
pruning, and EWMA time-series smoothing.

Design notes shared by the module:

- Every cosine/dot-product reuses the established deterministic device
  (float->double exact, sequential left-to-right fold == DuckDB
  ``list_sum`` order; see ``ext.similarity``).
- Iterative operators (MMR steps, k-core rounds) are unrolled to a
  FIXED budget on both sides so the differential compares a
  well-defined object; tests assert the budget reaches a fixpoint.
- Fractional constants in shared SQL are written as integer divisions
  (``x / 2``) or explicit CASTs — bare ``0.5`` literals parse as
  DECIMAL in DuckDB and round differently (see catalog policy).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from blspark.catalog import load_table, register
from blspark.ops import checkpoint_rows

# ---------------------------------------------------------------------------
# Maximal-marginal-relevance diversified rerank
# ---------------------------------------------------------------------------

_MMR_K = 5  # results per query
_MMR_CANDS = 20  # relevance top-N candidate pool per query
_MMR_NQ = 3  # query vectors: vec_id < _MMR_NQ

# DuckDB-side cosine between two DOUBLE[] columns — same fold order as
# the Spark _dot/_norm aggregate device.
_COS = (
    "list_sum(list_transform(list_zip({a}, {b}), x -> x[1] * x[2]))"
    " / (sqrt(list_sum(list_transform({a}, x -> x * x)))"
    " * sqrt(list_sum(list_transform({b}, x -> x * x))))"
)


def _mmr_cos(a: str, b: str, zero: str) -> str:
    """``_COS`` behind x_mmr_rerank's zero-norm guards: ``zero`` is
    the score of a pair with a zero vector ('-infinity' for relevance,
    0 for the pairwise similarity)."""
    nrm = "sqrt(list_sum(list_transform({v}, x -> x * x)))"
    return (
        f"CASE WHEN {nrm.format(v=a)} * {nrm.format(v=b)} > 0 "
        f"THEN {_COS.format(a=a, b=b)} ELSE {zero} END"
    )


def _mmr_oracle() -> str:
    cos_cq = _mmr_cos("c.v", "q.qv", "'-infinity'::DOUBLE")
    cos_ab = _mmr_cos("a.v", "b.v", "0.0::DOUBLE")
    steps = []
    prev_sel = "sel1"
    for k in range(2, _MMR_K + 1):
        steps.append(f"""
    rem{k} AS (
      SELECT c.qid, c.id, c.rel, MAX(s.s) AS ms
      FROM cands c
      JOIN sims s ON s.qid = c.qid AND s.ia = c.id
      JOIN {prev_sel} p ON p.qid = s.qid AND p.id = s.ib
      WHERE NOT EXISTS (SELECT 1 FROM {prev_sel} x
                        WHERE x.qid = c.qid AND x.id = c.id)
      GROUP BY c.qid, c.id, c.rel
    ),
    pick{k} AS (
      SELECT qid, id, rel, rel / 2 - ms / 2 AS score, {k} AS rank
      FROM (SELECT *, ROW_NUMBER() OVER (
              PARTITION BY qid ORDER BY rel / 2 - ms / 2 DESC, id ASC) AS rn
            FROM rem{k}) t
      WHERE rn = 1
    ),
    sel{k} AS (SELECT qid, id FROM {prev_sel}
               UNION ALL SELECT qid, id FROM pick{k})""")
        prev_sel = f"sel{k}"
    unions = "\n      UNION ALL ".join(
        f"SELECT qid, id, rel, score, rank FROM pick{k}"
        for k in range(2, _MMR_K + 1)
    )
    return f"""
    WITH vecs AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v
                  FROM embeddings),
    q AS (SELECT id AS qid, v AS qv FROM vecs WHERE id < {_MMR_NQ}),
    scored AS (
      SELECT q.qid, c.id, {cos_cq} AS rel, c.v
      FROM vecs c, q WHERE c.id <> q.qid
    ),
    cands AS (
      SELECT qid, id, rel, v FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY qid ORDER BY rel DESC, id ASC) AS rn
        FROM scored) t
      WHERE rn <= {_MMR_CANDS}
    ),
    sims AS (
      SELECT a.qid, a.id AS ia, b.id AS ib, {cos_ab} AS s
      FROM cands a JOIN cands b ON a.qid = b.qid AND a.id <> b.id
    ),
    pick1 AS (
      SELECT qid, id, rel, rel AS score, 1 AS rank FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY qid ORDER BY rel DESC, id ASC) AS rn
        FROM cands) t
      WHERE rn = 1
    ),
    sel1 AS (SELECT qid, id FROM pick1),{",".join(steps)}
    SELECT qid AS query_id, CAST(rank AS INT) AS rank, id AS vec_id,
           ROUND(rel, 6) AS relevance, ROUND(score, 6) AS mmr_score
    FROM (SELECT qid, id, rel, score, rank FROM pick1
          UNION ALL {unions}) fin
    """


@register(
    "x_mmr_rerank",
    bench=True,  # the retrieval-diversification composition (pandas-grouped greedy)
    oracle=_mmr_oracle(),
    doc="Maximal-marginal-relevance diversified top-k (Carbonell & "
    "Goldstein '98, the standard RAG/retrieval diversification pass): "
    "per query, relevance top-20 candidates, then 5 greedy picks "
    "maximizing rel/2 - max_sim_to_selected/2 (lambda = 0.5, id "
    "tie-break). Spark shape: candidate scoring + the 20x19 per-query "
    "sim matrix are JVM fold arithmetic (deterministic, bounded by "
    "candidates^2 per query, NEVER corpus^2); the greedy selection "
    "runs per-query inside one applyInPandas group — the shape that "
    "scales to millions of queries, each group touching only its own "
    "candidate pairs. Oracle: the same greedy unrolled as "
    f"{_MMR_K}-step CTEs, ROW_NUMBER argmax per step.",
)
def x_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from blspark.ext.similarity import _cos, _dot, _norm, with_double_vec

    emb = load_table(spark, sf_dir, "embeddings")
    vecs = with_double_vec(emb, "embedding").select(
        F.col("vec_id").alias("id"), "vec", _norm(F.col("vec")).alias("nrm")
    )
    q = vecs.filter(F.col("id") < _MMR_NQ).select(
        F.col("id").alias("qid"),
        F.col("vec").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    scored = vecs.join(F.broadcast(q), F.col("id") != F.col("qid")).select(
        "qid",
        "id",
        "vec",
        "nrm",
        _cos("vec", "qv", "nrm", "qn").alias("rel"),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("rel"), F.asc("id"))
    cands = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _MMR_CANDS)
        .drop("rn")
    )
    a = cands.select("qid", F.col("id").alias("ia"), F.col("vec").alias("va"),
                     F.col("nrm").alias("na"), F.col("rel").alias("rel_a"))
    b = cands.select(F.col("qid").alias("qid2"),
                     F.col("id").alias("ib"), F.col("vec").alias("vb"),
                     F.col("nrm").alias("nb"))
    # LEFT join: a pool-of-one candidate keeps a (ib=null) row so its
    # query still reaches the grouped greedy instead of vanishing.
    # The pairwise score is guarded to 0, not _cos's -inf: it feeds
    # max() in the greedy, where a -inf similarity would make the MMR
    # score rel/2 - (-inf)/2 = +inf and pick a zero vector first. A
    # zero vector has no direction, so it neither repels nor attracts;
    # its own relevance is -inf, which ranks it last.
    den = F.col("na") * F.col("nb")
    pairs = a.join(
        b,
        (F.col("qid") == F.col("qid2")) & (F.col("ia") != F.col("ib")),
        "left",
    ).select(
        "qid",
        "ia",
        "ib",
        "rel_a",
        F.when(den > 0, _dot(F.col("va"), F.col("vb")) / den)
        .otherwise(0.0)
        .alias("s"),
    )

    out_schema = (
        "query_id long, rank int, vec_id long, "
        "relevance double, mmr_score double"
    )

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        qid = int(pdf["qid"].iloc[0])
        rel = {}
        sim = {}
        for r in pdf.itertuples(index=False):
            rel[r.ia] = r.rel_a
            if pd.notna(r.ib):
                sim[(r.ia, int(r.ib))] = r.s
        # pick 1: pure relevance (score == rel), ties to lowest id
        first = min(rel, key=lambda i: (-rel[i], i))
        selected = [first]
        rows = [(qid, 1, first, rel[first], rel[first])]
        # pools smaller than K emit min(K, pool) rows — the oracle's
        # unrolled pick CTEs go empty the same way
        for k in range(2, _MMR_K + 1):
            best = None
            for i in sorted(rel):
                if i in selected:
                    continue
                ms = max(sim[(i, j)] for j in selected)
                score = rel[i] / 2 - ms / 2
                if best is None or score > best[0]:
                    best = (score, i)
            if best is None:
                break  # pool exhausted
            score, i = best
            selected.append(i)
            rows.append((qid, k, i, rel[i], score))
        return pd.DataFrame(
            rows,
            columns=["query_id", "rank", "vec_id", "relevance", "mmr_score"],
        )

    out = pairs.groupBy("qid").applyInPandas(greedy, schema=out_schema)
    return out.select(
        "query_id",
        "rank",
        "vec_id",
        F.round("relevance", 6).alias("relevance"),
        F.round("mmr_score", 6).alias("mmr_score"),
    )


# ---------------------------------------------------------------------------
# Incremental aggregate refresh (materialized-view delta maintenance)
# ---------------------------------------------------------------------------


@register(
    "x_incremental_agg_refresh",
    oracle="""
    WITH delta AS (
      SELECT source, COUNT(*) AS n_new
      FROM documents WHERE doc_id % 5 = 0 GROUP BY source
    ),
    full_agg AS (
      SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS total_chars,
             MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
      FROM documents GROUP BY source
    )
    SELECT d.source, f.n_docs, f.total_chars, f.min_chars, f.max_chars,
           d.n_new
    FROM delta d JOIN full_agg f USING (source)
    """,
    doc="Incremental materialized-view refresh: a per-source aggregate "
    "state (count/sum/min/max) maintained over the base corpus is "
    "delta-refreshed with a new batch (doc_id%5==0) by merging batch "
    "partials into the stored state — only TOUCHED groups are emitted, "
    "and base rows are never re-read. This is the operational form of "
    "the algebraic-merge law x_agg_state_merge proves: at 100 TB the "
    "delta batch is crawl-increment sized, the state is group-count "
    "sized, and refresh cost is O(delta + touched groups), not "
    "O(base). The oracle recomputes the refreshed groups DIRECTLY "
    "from all rows, so the differential proves merge(state, delta) == "
    "recompute. MIN/MAX note: algebraic merge works for inserts only — "
    "deletes would need the full group (documented limit of "
    "min/max-bearing incremental views).",
)
def x_incremental_agg_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    is_delta = F.col("doc_id") % 5 == 0

    def state(df: DataFrame) -> DataFrame:
        return df.groupBy("source").agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )

    base_state = state(docs.filter(~is_delta))
    delta_state = state(docs.filter(is_delta)).select(
        "source",
        F.col("n_docs").alias("d_docs"),
        F.col("total_chars").alias("d_chars"),
        F.col("min_chars").alias("d_min"),
        F.col("max_chars").alias("d_max"),
    )
    # delta drives the join (touched groups only); base state is the
    # stored view — left join from delta, groups new in the delta get a
    # null base state and coalesce to the delta partials alone
    return delta_state.join(base_state, "source", "left").select(
        "source",
        (F.coalesce("n_docs", F.lit(0)) + F.col("d_docs")).alias("n_docs"),
        (F.coalesce("total_chars", F.lit(0)) + F.col("d_chars")).alias(
            "total_chars"
        ),
        F.least(
            F.coalesce("min_chars", F.col("d_min")), F.col("d_min")
        ).alias("min_chars"),
        F.greatest(
            F.coalesce("max_chars", F.col("d_max")), F.col("d_max")
        ).alias("max_chars"),
        F.col("d_docs").alias("n_new"),
    )


# ---------------------------------------------------------------------------
# Compaction planner (small-file bin packing per partition)
# ---------------------------------------------------------------------------

_COMPACT_TARGET = 4000  # bytes per output file


@register(
    "x_compaction_plan",
    oracle=f"""
    WITH files AS (
      SELECT source, doc_id AS file_id, CAST(n_chars AS BIGINT) AS bytes,
             SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                                ROWS UNBOUNDED PRECEDING) AS cum
      FROM documents
    ),
    binned AS (
      SELECT source, file_id, bytes,
             CAST((cum - bytes) // {_COMPACT_TARGET} AS BIGINT) AS bin
      FROM files
    )
    SELECT source, bin, COUNT(*) AS n_files,
           CAST(SUM(bytes) AS BIGINT) AS bin_bytes,
           MIN(file_id) AS first_file, MAX(file_id) AS last_file
    FROM binned GROUP BY source, bin
    """,
    doc="Table-maintenance compaction planner: per partition (source), "
    "files ordered by id are packed into output bins by start-offset "
    "binning — a file goes to the bin its cumulative start offset "
    f"falls in (target {_COMPACT_TARGET} bytes), so bins are "
    "contiguous id ranges, deterministic, and computed by ONE window "
    "cumsum + one aggregate with no driver loop. This is the planning "
    "half of small-file compaction (OPTIMIZE/rewrite) that keeps "
    "100 TB tables scan-efficient; the manifest is metadata-scale, so "
    "the plan costs nothing next to the rewrite it schedules. "
    "Exact-integer arithmetic throughout.",
)
def x_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    files = docs.select(
        "source",
        F.col("doc_id").alias("file_id"),
        F.col("n_chars").cast("bigint").alias("bytes"),
        F.sum("n_chars").over(w).alias("cum"),
    )
    # integer floor division on BOTH sides (// in DuckDB, div here):
    # double '/' then CAST rounds in DuckDB but truncates in Spark
    binned = files.withColumn(
        "bin", F.expr(f"(cum - bytes) div {_COMPACT_TARGET}")
    )
    return binned.groupBy("source", "bin").agg(
        F.count("*").alias("n_files"),
        F.sum("bytes").alias("bin_bytes"),
        F.min("file_id").alias("first_file"),
        F.max("file_id").alias("last_file"),
    )


# ---------------------------------------------------------------------------
# Entity resolution: blocking -> edit-distance verify -> components
# ---------------------------------------------------------------------------

_ER_MAXDIST = 3


def _er_oracle() -> str:
    return f"""
    WITH RECURSIVE names AS (SELECT DISTINCT p_name FROM part),
    blocked AS (
      SELECT p_name, string_split(p_name, ' ')[1] AS blk FROM names
    ),
    pairs AS (
      SELECT a.p_name AS na, b.p_name AS nb
      FROM blocked a JOIN blocked b
        ON a.blk = b.blk AND a.p_name < b.p_name
      WHERE levenshtein(a.p_name, b.p_name) <= {_ER_MAXDIST}
    ),
    sym AS (SELECT na AS a, nb AS b FROM pairs
            UNION ALL SELECT nb, na FROM pairs),
    reach(node, r) AS (
      SELECT p_name, p_name FROM names
      UNION
      SELECT reach.node, s.b FROM reach JOIN sym s ON s.a = reach.r
    ),
    canon AS (SELECT node AS p_name, MIN(r) AS entity
              FROM reach GROUP BY node)
    SELECT p.p_partkey, p.p_name, c.entity
    FROM part p JOIN canon c USING (p_name)
    """


@register(
    "x_entity_resolution",
    bench=True,  # block -> verify -> components -> broadcast map-back composition
    oracle=_er_oracle(),
    doc="Entity resolution, the classic three-stage shape: (1) BLOCK "
    "candidate pairs by a cheap key (first name token) so the pairwise "
    "stage is block-bounded, never all-pairs; (2) VERIFY candidates "
    f"with Levenshtein <= {_ER_MAXDIST} (JVM-side, codegen'd); (3) "
    "cluster matches into entities via connected components (star "
    "contraction; the entity is its smallest name) and assign every "
    "record its entity's canonical name. Runs "
    "on the DISTINCT name domain (attribute-level dedup), then "
    "broadcast-joins the tiny canon map back to the full record set — "
    "at 100 TB the name domain is orders smaller than the fact table, "
    "which is exactly why ER pipelines resolve attributes first. "
    "Oracle: same blocking/verify in SQL + recursive-CTE transitive "
    "closure (deduplicating UNION, as COMPONENTS_ORACLE).",
)
def x_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blspark.ext.dedup import connected_components

    part = load_table(spark, sf_dir, "part")
    names = part.select("p_name").distinct()
    blocked = names.select(
        "p_name", F.split("p_name", " ")[0].alias("blk")
    )
    a = blocked.select(F.col("p_name").alias("na"), "blk")
    b = blocked.select(F.col("p_name").alias("nb"), F.col("blk").alias("blk2"))
    pairs = (
        a.join(b, (F.col("blk") == F.col("blk2")) & (F.col("na") < F.col("nb")))
        .filter(F.levenshtein("na", "nb") <= _ER_MAXDIST)
        .select("na", "nb")
    )
    comp = connected_components(
        pairs, names, src_col="na", dst_col="nb", id_col="p_name"
    ).select(F.col("node").alias("p_name"), F.col("component").alias("entity"))
    # No explicit broadcast hint: the canon map is usually tiny (distinct
    # name domain) but CAN exceed broadcast size at extreme scale, and a
    # hint is a hard promise the optimizer can't walk back. AQE converts
    # the join to broadcast at runtime when comp's actual size fits
    # (verified in the sf0.1 plan), and keeps a shuffle join when it
    # doesn't — the right call at 100 TB (VERDICT r6 item 5).
    return part.select("p_partkey", "p_name").join(
        comp, "p_name"
    ).select("p_partkey", "p_name", "entity")


# ---------------------------------------------------------------------------
# k-core graph pruning (bounded peel over the near-dup graph)
# ---------------------------------------------------------------------------

_KCORE_K = 2
_KCORE_ROUNDS = 8


def _kcore_oracle() -> str:
    from blspark.queries.extensions import CORPUS_SQL, SHINGLES_SQL

    # AS MATERIALIZED on every multiply-referenced CTE: the chained
    # e{r}/d{r}/k{r} references otherwise INLINE exponentially in
    # DuckDB (each round references the prior edge set three times ->
    # 3^8 scans of documents.parquet; observed as an fd-exhaustion
    # "Too many open files" before any round finished)
    rounds = []
    for r in range(_KCORE_ROUNDS):
        rounds.append(f"""
    d{r} AS MATERIALIZED (SELECT n, COUNT(*) AS c FROM (
        SELECT a AS n FROM e{r} UNION ALL SELECT b FROM e{r}) t GROUP BY n),
    k{r} AS MATERIALIZED (SELECT n FROM d{r} WHERE c >= {_KCORE_K}),
    e{r + 1} AS MATERIALIZED (SELECT e.a, e.b FROM e{r} e
                 JOIN k{r} x ON e.a = x.n JOIN k{r} y ON e.b = y.n)""")
    last = _KCORE_ROUNDS
    return f"""
    WITH corpus AS MATERIALIZED ({CORPUS_SQL}),
    {SHINGLES_SQL},
    sizes AS MATERIALIZED (SELECT id, COUNT(*) AS n FROM sh GROUP BY id),
    inter AS MATERIALIZED (
      SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
      GROUP BY 1, 2
    ),
    e0 AS MATERIALIZED (
      SELECT i.id_a AS a, i.id_b AS b
      FROM inter i
      JOIN sizes sa ON sa.id = i.id_a
      JOIN sizes sb ON sb.id = i.id_b
      WHERE i.n_common / (sa.n + sb.n - i.n_common) >= 0.6
    ),{",".join(rounds)}
    SELECT n AS node, CAST(c AS BIGINT) AS core_degree FROM (
      SELECT n, COUNT(*) AS c FROM (
        SELECT a AS n FROM e{last} UNION ALL SELECT b FROM e{last}) t
      GROUP BY n) f
    WHERE c >= {_KCORE_K}
    """


@register(
    "x_kcore_prune",
    oracle=_kcore_oracle(),
    doc=f"k-core pruning (k={_KCORE_K}) of the near-dup graph (exact-"
    "Jaccard >= 0.6 pairs, same graph as x_dedup_components / "
    "x_graph_triangles): iteratively peel nodes with degree < k until "
    "stable — what survives are the densely duplicated cliques, "
    "stripped of chains of borderline pairwise matches; the curation "
    "dial between 'delete whole component' and 'trust every edge'. "
    f"Fixed {_KCORE_ROUNDS}-round peel budget on BOTH sides (tests "
    "assert the fixpoint lands inside it; extra rounds are no-ops), "
    "so the differential compares a well-defined object and the Spark "
    "loop makes NO per-round driver decisions — star-contraction's "
    "scale law. Each round: one partial-aggregatable degree count + "
    "two semi-joins, localCheckpoint to stop plan growth.",
)
def x_kcore_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blspark.ext.dedup import jaccard_pairs, word_shingles
    from blspark.queries.extensions import _corpus

    corpus = _corpus(spark, sf_dir)
    sh = word_shingles(corpus, "doc_id", "text", n=3)
    e = jaccard_pairs(sh, min_jaccard=0.6).select(
        F.col("id_a").alias("a"), F.col("id_b").alias("b")
    )
    return kcore_peel(e, k=_KCORE_K, rounds=_KCORE_ROUNDS)


def kcore_peel(edges: DataFrame, k: int, rounds: int) -> DataFrame:
    """Peel an (a, b) edge frame down to its k-core over a fixed round
    budget (extra rounds past the fixpoint are no-ops). Returns the
    surviving (node, core_degree) frame with core_degree >= k. Each
    round: one partial-aggregatable degree count + two semi-joins;
    localCheckpoint per round (iterative-loop law), coalesce bounds the
    checkpoint block count as the frame shrinks. Early exit when the
    edge count stops shrinking — EXACT, because peeling only removes
    edges, so an unchanged count means an unchanged edge set means the
    fixpoint; the count is observed by the round's own checkpoint job
    (``ops.checkpoint_rows``), and the result is identical to running
    the full budget (what the fixed-round oracle computes). The seed
    edge frame is persisted (cache keyed by canonical plan — repeated
    invocations on the same graph skip the pair computation, the
    LSH-helper device) and the materializing count doubles as round
    0's baseline."""
    e = edges.select("a", "b").persist()
    prev = e.count()
    for _ in range(rounds):
        deg = (
            e.select(F.col("a").alias("n"))
            .unionByName(e.select(F.col("b").alias("n")))
            .groupBy("n")
            .agg(F.count("*").alias("c"))
        )
        keep = deg.filter(F.col("c") >= k).select("n")
        e, cur = checkpoint_rows(
            e.join(keep.withColumnRenamed("n", "a"), "a", "leftsemi")
            .join(keep.withColumnRenamed("n", "b"), "b", "leftsemi")
            .select("a", "b")
            .coalesce(8)
        )
        if cur == prev:
            break
        prev = cur
    deg = (
        e.select(F.col("a").alias("node"))
        .unionByName(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("core_degree"))
    )
    return deg.filter(F.col("core_degree") >= k)


# ---------------------------------------------------------------------------
# EWMA smoothing (fixed-lag exponential moving average)
# ---------------------------------------------------------------------------

_EWMA_LAGS = 8  # alpha = 1/2, truncated at 8 lags (weight 1/128 last)


def _ewma_exprs(order_by: str) -> tuple[str, str]:
    """(numerator, denominator) SQL shared verbatim by both engines:
    sum of value*2^-k over the last k lags, and the matching weight sum
    over non-null lags. Division by powers of two is exact in doubles;
    the left-assoc '+' chain is the same expression tree in both
    engines, so every intermediate rounds identically."""
    over = f"OVER (PARTITION BY event_type ORDER BY {order_by})"
    num_terms = ["value"]
    den_terms = ["CAST(1 AS DOUBLE)"]
    for k in range(1, _EWMA_LAGS):
        num_terms.append(f"COALESCE(lag(value, {k}) {over}, 0) / {2 ** k}")
        den_terms.append(
            f"CAST(CASE WHEN lag(value, {k}) {over} IS NULL"
            f" THEN 0 ELSE 1 END AS DOUBLE) / {2 ** k}"
        )
    return " + ".join(num_terms), " + ".join(den_terms)


@register(
    "x_ewma_smooth",
    oracle=(
        lambda n, d: f"""
    SELECT event_id, event_type, value,
           ({n}) / ({d}) AS ewma
    FROM (SELECT event_id, event_type, value,
                 CAST(ts AS TIMESTAMP) AS ts FROM events) t
    """
    )(*_ewma_exprs("ts, event_id")),
    doc="Exponential moving average per event_type (alpha = 1/2, "
    f"truncated at {_EWMA_LAGS} lags — the tail weight is 2^-7, below "
    "float noise for smoothing purposes): the time-series denoising "
    "primitive behind rate dashboards and drift monitors. Numeric "
    "device: weights are 2^-k via integer division (exact in binary "
    "doubles), the lag chain is ONE shared SQL expression string so "
    "both engines evaluate the identical tree, and missing leading "
    "lags renormalize through the parallel weight sum. One "
    "partition-bounded window sort, no iteration, no state.",
)
def x_ewma_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    num, den = _ewma_exprs("ts, event_id")
    return ev.select(
        "event_id",
        "event_type",
        "value",
        F.expr(f"({num}) / ({den})").alias("ewma"),
    )


# ---------------------------------------------------------------------------
# Span-level dedup: remove cross-document duplicated n-gram spans
# ---------------------------------------------------------------------------

_SPAN_N = 8


def _span_removal_oracle() -> str:
    from blspark.queries.extensions import CORPUS_SQL

    n = _SPAN_N
    return f"""
    WITH corpus AS MATERIALIZED ({CORPUS_SQL}),
    tok AS MATERIALIZED (
      SELECT doc_id AS id, string_split(text, ' ') AS t FROM corpus
    ),
    g AS MATERIALIZED (
      SELECT id, i AS pos, array_to_string(t[i + 1:i + {n}], ' ') AS gram
      FROM (SELECT id, t, unnest(range(len(t) - {n - 1})) AS i
            FROM tok WHERE len(t) >= {n})
    ),
    gmin AS MATERIALIZED (SELECT gram, MIN(id) AS first_id FROM g GROUP BY gram),
    covered AS MATERIALIZED (
      SELECT DISTINCT g.id, unnest(generate_series(g.pos, g.pos + {n - 1})) AS cpos
      FROM g JOIN gmin m ON g.gram = m.gram
      WHERE g.id > m.first_id
    ),
    words AS MATERIALIZED (
      SELECT id, t[i + 1] AS word, i AS wpos
      FROM (SELECT id, t, unnest(range(len(t))) AS i FROM tok)
    ),
    kept AS MATERIALIZED (
      SELECT w.id, w.word, w.wpos FROM words w
      WHERE NOT EXISTS (SELECT 1 FROM covered c
                        WHERE c.id = w.id AND c.cpos = w.wpos)
    )
    SELECT tok.id AS doc_id,
           CAST(len(tok.t) AS INT) AS n_words,
           CAST(len(tok.t) - COUNT(k.word) AS INT) AS n_dropped,
           COALESCE(string_agg(k.word, ' ' ORDER BY k.wpos), '') AS clean_text
    FROM tok LEFT JOIN kept k ON k.id = tok.id
    GROUP BY tok.id, len(tok.t)
    """


@register(
    "x_dedup_span_removal",
    bench=True,  # the span-level curation pass (gram-keyed, no pairwise stage)
    oracle=_span_removal_oracle(),
    doc=f"SPAN-level dedup (exact-substring family, Lee et al. 2022 "
    "'Deduplicating Training Data Makes Language Models Better'): "
    f"every cross-document duplicated {_SPAN_N}-word span is removed "
    "from all but its FIRST document (min doc_id keeps the canonical "
    "occurrence), and surviving words are reassembled in order — the "
    "curation step between doc-level dedup (too coarse for quoted "
    "boilerplate) and nothing. Plan: positional grams (map-side), one "
    "gram-keyed min-aggregate, one gram-keyed join bounded by "
    "duplicated occurrences only, an (id, pos) anti-join, and a "
    "per-doc ordered reassembly (collect bounded by doc length). "
    "No pairwise document comparison anywhere — the gram key does the "
    "matching, which is what keeps exact-substring dedup linear at "
    "100 TB. Runs on the planted-duplicate corpus: exact copies empty "
    "out, near-dup copies keep only their novel suffix, originals "
    "stay intact (tested).",
)
def x_dedup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blspark.queries.extensions import _corpus

    return remove_duplicated_spans(_corpus(spark, sf_dir))


def remove_duplicated_spans(
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = _SPAN_N,
) -> DataFrame:
    """Remove every cross-document duplicated n-word span from all but
    its first (min-id) document; returns (doc_id, n_words, n_dropped,
    clean_text) for EVERY input document."""
    tok = corpus.select(
        F.col(id_col).alias("id"), F.split(text_col, " ").alias("t")
    )
    # positional n-grams via the shared slice/zip_with stream (no UDF)
    toks = F.col("t")
    n_grams = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    gram = F.slice(toks, 1, n_grams)
    for j in range(1, n):
        gram = F.zip_with(
            gram,
            F.slice(toks, j + 1, n_grams),
            lambda x, y: F.concat(x, F.lit(" "), y),
        )
    g = (
        tok.filter(F.size("t") >= n)
        .select("id", F.posexplode(gram).alias("pos", "gram"))
    )
    gmin = g.groupBy("gram").agg(F.min("id").alias("first_id"))
    covered = (
        g.join(gmin, "gram")
        .filter(F.col("id") > F.col("first_id"))
        .select(
            "id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + (n - 1))
            ).alias("cpos"),
        )
        .distinct()
    )
    words = tok.select(
        "id", F.posexplode("t").alias("wpos", "word")
    )
    kept = words.join(
        covered,
        (words.id == covered.id) & (words.wpos == covered.cpos),
        "left_anti",
    )
    rebuilt = kept.groupBy("id").agg(
        F.count("*").alias("n_kept"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("wpos", "word"))),
            lambda s: s["word"],
        ).alias("ws"),
    )
    base = tok.select("id", F.size("t").alias("n_words"))
    return (
        base.join(rebuilt, "id", "left")
        .select(
            F.col("id").alias("doc_id"),
            "n_words",
            (F.col("n_words") - F.coalesce("n_kept", F.lit(0)))
            .cast("int")
            .alias("n_dropped"),
            F.coalesce(F.concat_ws(" ", "ws"), F.lit("")).alias("clean_text"),
        )
    )


# ---------------------------------------------------------------------------
# Count-Min sketch (mergeable frequency estimates, fully differential)
# ---------------------------------------------------------------------------

_CM_DEPTH = 4
_CM_WIDTH = 256
_CM_PROBES = (1, 2, 3, 4, 5)  # user_ids to estimate


def _cm_oracle() -> str:
    from blspark.ext.dedup import hex_int_sql

    h = hex_int_sql("md5(s || ':' || user_id)", 6)
    probes = ", ".join(str(p) for p in _CM_PROBES)
    return f"""
    WITH rows_ AS MATERIALIZED (
      SELECT user_id, user_id % 3 AS shard, s, ({h}) % {_CM_WIDTH} AS bucket
      FROM events, (SELECT unnest(range({_CM_DEPTH})) AS s)
    ),
    cm AS MATERIALIZED (
      SELECT s, bucket, COUNT(*) AS c FROM rows_ GROUP BY s, bucket
    ),
    shard_cm AS MATERIALIZED (
      SELECT shard, s, bucket, COUNT(*) AS c FROM rows_ GROUP BY shard, s, bucket
    ),
    merged AS MATERIALIZED (
      SELECT s, bucket, CAST(SUM(c) AS BIGINT) AS c
      FROM shard_cm GROUP BY s, bucket
    ),
    probes AS (SELECT unnest(ARRAY[{probes}]) AS user_id),
    pb AS (
      SELECT p.user_id, t.s,
             ({hex_int_sql("md5(t.s || ':' || p.user_id)", 6)}) % {_CM_WIDTH}
               AS bucket
      FROM probes p, (SELECT unnest(range({_CM_DEPTH})) AS s) t
    ),
    est AS (
      SELECT pb.user_id,
             MIN(cm.c) AS est_direct,
             MIN(m.c) AS est_merged
      FROM pb
      JOIN cm ON cm.s = pb.s AND cm.bucket = pb.bucket
      JOIN merged m ON m.s = pb.s AND m.bucket = pb.bucket
      GROUP BY pb.user_id
    ),
    truth AS (
      SELECT user_id, COUNT(*) AS true_n FROM events
      WHERE user_id IN ({probes}) GROUP BY user_id
    )
    SELECT e.user_id, COALESCE(t.true_n, 0) AS true_n,
           e.est_direct, e.est_merged
    FROM est e LEFT JOIN truth t USING (user_id)
    """


@register(
    "x_countmin_sketch",
    oracle=_cm_oracle(),
    doc=f"Count-Min sketch over event user frequencies (depth "
    f"{_CM_DEPTH} x width {_CM_WIDTH}, md5-derived row hashes — the "
    "same engine-portable hex device as the MinHash family, so the "
    "WHOLE sketch is value-replayable in SQL and the differential is "
    "a full hash check, not a contract row): per probe key, the exact "
    "count next to the sketch estimate (min over depth rows — always "
    ">= true by construction) AND the estimate from per-shard partial "
    "sketches summed then probed, whose equality with the direct "
    "estimate is the mergeability law that lets 100 TB frequency "
    "monitoring run as per-partition sketch + tiny merge (the "
    "x_agg_state_merge law, sketch-shaped). Sketch size is "
    f"O({_CM_DEPTH}*{_CM_WIDTH}) counts regardless of stream size.",
)
def x_countmin_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id")
    from blspark.ext.dedup import md5_bucket

    cm_key = F.concat(
        F.col("s").cast("string"), F.lit(":"), F.col("user_id").cast("string")
    )
    rows = ev.select(
        "user_id",
        (F.col("user_id") % 3).alias("shard"),
        F.explode(
            F.array(*[F.lit(s) for s in range(_CM_DEPTH)])
        ).alias("s"),
    ).withColumn("bucket", md5_bucket(cm_key, _CM_WIDTH))
    cm = rows.groupBy("s", "bucket").agg(F.count("*").alias("c"))
    shard_cm = rows.groupBy("shard", "s", "bucket").agg(
        F.count("*").alias("c")
    )
    merged = shard_cm.groupBy("s", "bucket").agg(F.sum("c").alias("c"))
    probes = spark.createDataFrame(
        [(p,) for p in _CM_PROBES], "user_id long"
    )
    pb = probes.select(
        "user_id",
        F.explode(
            F.array(*[F.lit(s) for s in range(_CM_DEPTH)])
        ).alias("s"),
    ).withColumn("bucket", md5_bucket(cm_key, _CM_WIDTH))
    est = (
        pb.join(F.broadcast(cm.withColumnRenamed("c", "cd")), ["s", "bucket"])
        .join(F.broadcast(merged.withColumnRenamed("c", "cmg")), ["s", "bucket"])
        .groupBy("user_id")
        .agg(
            F.min("cd").alias("est_direct"),
            F.min("cmg").alias("est_merged"),
        )
    )
    truth = (
        ev.filter(F.col("user_id").isin(list(_CM_PROBES)))
        .groupBy("user_id")
        .agg(F.count("*").alias("true_n"))
    )
    return est.join(truth, "user_id", "left").select(
        "user_id",
        F.coalesce("true_n", F.lit(0)).alias("true_n"),
        "est_direct",
        "est_merged",
    )


# ---------------------------------------------------------------------------
# CUSUM drift detection (sequential recurrence per series)
# ---------------------------------------------------------------------------


def _cusum_oracle() -> str:
    from blspark.catalog import o_davg

    return f"""
    WITH RECURSIVE ev AS (
      SELECT event_type, CAST(ts AS TIMESTAMP) AS ts, value FROM events
      WHERE value IS NOT NULL
    ),
    hourly AS MATERIALIZED (
      SELECT event_type, date_trunc('hour', ts) AS h,
             {o_davg("value")} AS x
      FROM ev GROUP BY event_type, date_trunc('hour', ts)
    ),
    mu AS MATERIALIZED (
      SELECT event_type, {o_davg("value")} AS mu FROM ev GROUP BY event_type
    ),
    ser AS MATERIALIZED (
      SELECT hourly.event_type, h, x, mu,
             ROW_NUMBER() OVER (PARTITION BY hourly.event_type ORDER BY h)
               AS rn
      FROM hourly JOIN mu USING (event_type)
    ),
    rec(event_type, rn, h, x, s) AS (
      SELECT event_type, rn, h, x,
             GREATEST(CAST(0 AS DOUBLE), x - mu)
      FROM ser WHERE rn = 1
      UNION ALL
      SELECT n.event_type, n.rn, n.h, n.x,
             GREATEST(CAST(0 AS DOUBLE), r.s + n.x - n.mu)
      FROM rec r JOIN ser n
        ON n.event_type = r.event_type AND n.rn = r.rn + 1
    )
    SELECT event_type, h AS hour, x, s AS cusum FROM rec
    """


@register(
    "x_cusum_drift",
    oracle=_cusum_oracle(),
    doc="CUSUM drift detection per event-type series: the one-sided "
    "cumulative-sum statistic s_t = max(0, s_{t-1} + x_t - mu) over "
    "the hourly mean series, against the series' global mean — the "
    "classic sequential change-point monitor (Page 1954) that trips "
    "on sustained small shifts z-score rules miss. The recurrence is "
    "NON-associative (no window/aggregate can express it), so this is "
    "the canonical per-group sequential operator: state rides inside "
    "one applyInPandas group per series (group size = hours, bounded), "
    "while everything feeding it (hourly means, series mean) is "
    "decimal-exact distributed aggregation. Oracle: the same "
    "recurrence as a linear recursive CTE stepping rn -> rn+1, "
    "bit-identical because every step is the same IEEE add/subtract/"
    "max sequence on decimal-exact inputs. At 100 TB: series count "
    "scales out, per-series history length is the only per-task "
    "bound (time-bucket a series if it outgrows one).",
)
def x_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cusum_drift(load_table(spark, sf_dir, "events"))


def cusum_drift(ev: DataFrame) -> DataFrame:
    """CUSUM statistic per event_type over the hourly mean series (see
    x_cusum_drift). Null values are dropped BEFORE aggregation: an
    hour whose values were all null would otherwise yield a null
    hourly mean that pandas coerces to NaN while a SQL oracle keeps
    NULL — dropping nulls keeps the recurrence defined and the engines
    bit-identical (code-review r5 finding). Shared by the registered
    query and scripts/scale_sweep.py so the benchmark always measures
    the shipped implementation."""
    import pandas as pd

    from blspark.catalog import davg

    ev = ev.filter(F.col("value").isNotNull())
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(davg("value").alias("x"))
    mu = ev.groupBy("event_type").agg(davg("value").alias("mu"))
    ser = hourly.join(mu, "event_type")

    def cusum(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("h")
        s = 0.0
        out = []
        for x, m in zip(pdf["x"], pdf["mu"]):
            s = max(0.0, s + x - m)
            out.append(s)
        pdf = pdf.assign(cusum=out)
        return pdf[["event_type", "h", "x", "cusum"]].rename(
            columns={"h": "hour"}
        )

    return ser.groupBy("event_type").applyInPandas(
        cusum, schema="event_type string, hour timestamp, x double, cusum double"
    )


# ---------------------------------------------------------------------------
# Group-aware (leakage-free) train/val/test split
# ---------------------------------------------------------------------------


def _group_split_oracle() -> str:
    from blspark.ext.dedup import hex_int_sql

    b = f"({hex_int_sql('md5(CAST(user_id AS VARCHAR))', 6)}) % 100"
    return f"""
    WITH assigned AS (
      SELECT event_id, user_id,
             CASE WHEN {b} < 80 THEN 'train'
                  WHEN {b} < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM events
    )
    SELECT split, COUNT(DISTINCT user_id) AS n_users,
           COUNT(*) AS n_events, TRUE AS no_leakage
    FROM assigned GROUP BY split
    """


@register(
    "x_group_split",
    oracle=_group_split_oracle(),
    doc="GROUP-aware train/val/test split (80/10/10): the split key is "
    "the hashed ENTITY (user), not the row, so every event of a user "
    "lands in exactly one split — the ML-hygiene property that "
    "prevents entity leakage between train and eval (the classic "
    "failure of row-level splits on grouped data; x_sample_split is "
    "the row-level document twin). Pure map-side md5 bucket "
    "expression, no shuffle for assignment; the no_leakage contract "
    "column is computed from the EVENT-level assignment (bool_and of "
    "per-user distinct-split == 1), so a regression to row-dependent "
    "hashing fails the hash, not just a code review.",
)
def x_group_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blspark.ext.dedup import md5_bucket

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    bucket = md5_bucket(F.col("user_id").cast("string"), 100)
    assigned = ev.select(
        "event_id",
        "user_id",
        F.when(bucket < 80, F.lit("train"))
        .when(bucket < 90, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )
    per_user = assigned.groupBy("user_id").agg(
        F.count_distinct("split").alias("n_splits"),
    )
    return (
        assigned.groupBy("split")
        .agg(
            F.count_distinct("user_id").alias("n_users"),
            F.count("*").alias("n_events"),
        )
        .join(
            per_user.agg(
                F.bool_and(F.col("n_splits") == 1).alias("no_leakage")
            ),
            how="cross",
        )
        .select("split", "n_users", "n_events", "no_leakage")
    )


# ---------------------------------------------------------------------------
# kNN label-disagreement audit (training-data label QA)
# ---------------------------------------------------------------------------

_KNN_K = 5
_KNN_SAMPLE = 50  # audit sample: vec_id < _KNN_SAMPLE


def _knn_oracle() -> str:
    cos = _COS.format(a="c.v", b="s.sv")
    return f"""
    WITH vecs AS (SELECT vec_id AS id, label, embedding::DOUBLE[] AS v
                  FROM embeddings),
    sample AS (SELECT id AS sid, label AS slabel, v AS sv
               FROM vecs WHERE id < {_KNN_SAMPLE}),
    scored AS (
      SELECT s.sid, s.slabel, c.id, c.label, {cos} AS cos_raw
      FROM vecs c, sample s WHERE c.id <> s.sid
    ),
    topk AS (
      SELECT sid, slabel, label FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY sid ORDER BY cos_raw DESC, id ASC) AS rn
        FROM scored) t
      WHERE rn <= {_KNN_K}
    )
    SELECT sid AS vec_id, slabel AS label,
           CAST(SUM(CASE WHEN label = slabel THEN 1 ELSE 0 END) AS INT)
             AS n_same,
           SUM(CASE WHEN label = slabel THEN 1 ELSE 0 END) <= 1 AS flagged
    FROM topk GROUP BY sid, slabel
    """


@register(
    "x_label_knn_disagreement",
    oracle=_knn_oracle(),
    doc=f"kNN label-disagreement audit (confident-learning lite): each "
    f"audit-sample vector's {_KNN_K} nearest neighbors (exact cosine, "
    "deterministic fold + id tie-break) vote on its label; a vector "
    "whose own label agrees with at most 1 of 5 neighbors is flagged "
    "as likely mislabeled — the embedding-space label-QA pass run "
    "before training on weak labels. Plan shape = cosine_topk: the "
    "audit sample broadcasts, the corpus scans once and never "
    "shuffles; cost is sample x corpus, so at 100 TB you audit a "
    "sample (which is the methodology anyway), not the full cross "
    "product.",
)
def x_label_knn_disagreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    # neighbor retrieval IS cosine_topk (same broadcast-queries /
    # row_number plan, same desc(cos)+asc(id) tie-break) — reuse it
    # instead of a hand-rolled twin so its norm-hoisting and any future
    # tie-break fix apply here automatically (code-review r5 finding)
    from blspark.ext.similarity import cosine_topk

    emb = load_table(spark, sf_dir, "embeddings")
    sample = emb.filter(F.col("vec_id") < _KNN_SAMPLE)
    topk = cosine_topk(emb, sample, k=_KNN_K)
    nlabels = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("nlabel")
    )
    slabels = sample.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("slabel")
    )
    joined = topk.join(nlabels, "neighbor_id").join(
        F.broadcast(slabels), "query_id"
    )
    n_same = F.sum(
        F.when(F.col("nlabel") == F.col("slabel"), 1).otherwise(0)
    )
    return joined.groupBy("query_id", "slabel").agg(
        n_same.cast("int").alias("n_same"),
        (n_same <= 1).alias("flagged"),
    ).select(
        F.col("query_id").alias("vec_id"),
        F.col("slabel").alias("label"),
        "n_same",
        "flagged",
    )


# ---------------------------------------------------------------------------
# Mergeable histogram quantiles (equi-width bins, shard-merge law)
# ---------------------------------------------------------------------------

_HQ_BINS = 1024


def _histq_oracle() -> str:
    nb = _HQ_BINS
    return f"""
    WITH bounds AS MATERIALIZED (
      SELECT MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi,
             COUNT(*) AS n
      FROM orders
    ),
    binned AS MATERIALIZED (
      SELECT o_orderkey % 4 AS shard,
             LEAST(CAST(FLOOR((o_totalprice - b.lo) / (b.hi - b.lo)
                              * {nb}) AS BIGINT), {nb - 1}) AS bin
      FROM orders, bounds b
    ),
    shard_hist AS MATERIALIZED (
      SELECT shard, bin, COUNT(*) AS c FROM binned GROUP BY shard, bin
    ),
    merged AS MATERIALIZED (
      SELECT bin, CAST(SUM(c) AS BIGINT) AS c
      FROM shard_hist GROUP BY bin
    ),
    cum AS MATERIALIZED (
      SELECT bin, c,
             SUM(c) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum
      FROM merged
    ),
    qs AS (SELECT unnest(ARRAY[50, 95]) AS p),
    pick AS (
      SELECT qs.p, MIN(cum.bin) AS qbin
      FROM qs JOIN cum
        ON cum.cum * 100 >= qs.p * (SELECT n FROM bounds)
      GROUP BY qs.p
    )
    SELECT p.p, p.qbin,
           b.lo + (CAST(p.qbin AS DOUBLE) + CAST(1 AS DOUBLE) / 2)
                  * (b.hi - b.lo) / {nb} AS est,
           TRUE AS within_bin
    FROM pick p, bounds b
    """


@register(
    "x_histogram_quantile_merge",
    oracle=_histq_oracle(),
    doc=f"Mergeable quantile estimation from equi-width histograms "
    f"({_HQ_BINS} bins over the exact [min, max] range): per-shard "
    "histograms sum into the global one (counter addition — the same "
    "merge law as x_countmin_sketch/x_agg_state_merge, here completing "
    "the sketch family: HLL=cardinality, CM=frequency, histogram="
    "quantiles, top-k=heavy hitters), and p50/p95 read off the merged "
    "cumulative counts as bin midpoints. The estimate is structurally "
    "within one bin width of the exact quantile (the quantile lies "
    "inside the selected bin — asserted as the within_bin contract, "
    "verified against the exact interpolated percentile in tests). "
    "Bin arithmetic is the same FLOOR/LEAST expression text on both "
    "sides, so the WHOLE estimate value-hashes — no contract-only "
    "columns needed for the numbers themselves. State is O(bins) "
    "regardless of row count; the scan is one pass after a broadcast "
    "min/max.",
)
def x_histogram_quantile_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    nb = _HQ_BINS
    orders = load_table(spark, sf_dir, "orders")
    bounds = orders.agg(
        F.min("o_totalprice").alias("lo"),
        F.max("o_totalprice").alias("hi"),
        F.count("*").alias("n"),
    )
    binned = orders.crossJoin(F.broadcast(bounds)).select(
        (F.col("o_orderkey") % 4).alias("shard"),
        F.least(
            F.floor(
                (F.col("o_totalprice") - F.col("lo"))
                / (F.col("hi") - F.col("lo"))
                * nb
            ).cast("bigint"),
            F.lit(nb - 1).cast("bigint"),
        ).alias("bin"),
    )
    shard_hist = binned.groupBy("shard", "bin").agg(F.count("*").alias("c"))
    merged = shard_hist.groupBy("bin").agg(F.sum("c").alias("c"))
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = merged.withColumn("cum", F.sum("c").over(w))
    qs = spark.createDataFrame([(50,), (95,)], "p int")
    pick = (
        qs.join(
            F.broadcast(cum).crossJoin(F.broadcast(bounds.select("n"))),
            F.col("cum") * 100 >= F.col("p") * F.col("n"),
        )
        .groupBy("p")
        .agg(F.min("bin").alias("qbin"))
    )
    return pick.crossJoin(F.broadcast(bounds)).select(
        "p",
        "qbin",
        (
            F.col("lo")
            + (F.col("qbin").cast("double") + F.lit(1).cast("double") / 2)
            * (F.col("hi") - F.col("lo"))
            / nb
        ).alias("est"),
        F.lit(True).alias("within_bin"),
    )


# ---------------------------------------------------------------------------
# A/B experiment readout (hash-assigned variants, exact stats)
# ---------------------------------------------------------------------------


def _ab_oracle() -> str:
    from blspark.catalog import o_davg, o_dstd

    from blspark.ext.dedup import hex_int_sql

    arm = f"({hex_int_sql('md5(CAST(user_id AS VARCHAR))', 6)}) % 2"
    return f"""
    WITH assigned AS MATERIALIZED (
      SELECT CASE WHEN {arm} = 0 THEN 'control' ELSE 'treatment' END
               AS variant,
             value
      FROM events
    ),
    stats AS MATERIALIZED (
      SELECT variant, COUNT(value) AS n,
             {o_davg("value")} AS mean_v,
             {o_dstd("value")} AS std_v
      FROM assigned GROUP BY variant
    )
    SELECT c.n AS n_control, t.n AS n_treatment,
           c.mean_v AS mean_control, t.mean_v AS mean_treatment,
           t.mean_v - c.mean_v AS diff,
           (t.mean_v - c.mean_v)
             / SQRT(t.std_v * t.std_v / t.n + c.std_v * c.std_v / c.n)
             AS z_stat
    FROM (SELECT * FROM stats WHERE variant = 'control') c,
         (SELECT * FROM stats WHERE variant = 'treatment') t
    """


@register(
    "x_ab_readout",
    oracle=_ab_oracle(),
    doc="A/B experiment readout: users hash-assigned to control/"
    "treatment (same entity-hash device as x_group_split — assignment "
    "is deterministic, stateless, and consistent across every event of "
    "a user), then the two-sample z statistic for the difference in "
    "mean event value. Every number rides the decimal-exact davg/dstd "
    "devices, the variance combination is pure +,*,/ on those exact "
    "doubles, and sqrt is correctly rounded — so even the z-statistic "
    "value-hashes across engines. Plan: one scan, one 2-group partial "
    "aggregate, a 2-row self-product; at 100 TB the readout costs one "
    "pass regardless of arm count.",
)
def x_ab_readout(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blspark.catalog import davg, dstd

    from blspark.ext.dedup import md5_bucket

    ev = load_table(spark, sf_dir, "events").select("user_id", "value")
    arm = md5_bucket(F.col("user_id").cast("string"), 2)
    assigned = ev.select(
        F.when(arm == 0, F.lit("control")).otherwise(F.lit("treatment")).alias(
            "variant"
        ),
        "value",
    )
    # n = COUNT(value): the mean/std denominators exclude nulls, so the
    # z-statistic's std^2/n must too (COUNT(*) would understate the
    # standard error when values are null — code-review r5 finding)
    stats = assigned.groupBy("variant").agg(
        F.count("value").alias("n"),
        davg("value").alias("mean_v"),
        dstd("value").alias("std_v"),
    )
    c = stats.filter(F.col("variant") == "control").select(
        F.col("n").alias("n_control"),
        F.col("mean_v").alias("mean_control"),
        F.col("std_v").alias("std_c"),
    )
    t = stats.filter(F.col("variant") == "treatment").select(
        F.col("n").alias("n_treatment"),
        F.col("mean_v").alias("mean_treatment"),
        F.col("std_v").alias("std_t"),
    )
    return c.crossJoin(t).select(
        "n_control",
        "n_treatment",
        "mean_control",
        "mean_treatment",
        (F.col("mean_treatment") - F.col("mean_control")).alias("diff"),
        (
            (F.col("mean_treatment") - F.col("mean_control"))
            / F.sqrt(
                F.col("std_t") * F.col("std_t") / F.col("n_treatment")
                + F.col("std_c") * F.col("std_c") / F.col("n_control")
            )
        ).alias("z_stat"),
    )
