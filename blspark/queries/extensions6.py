"""Round-4 (fourth-batch) extension operators: custom Python DataSource
(Spark 4 API), token co-occurrence association mining, parameterized
SQL, and incremental cross-batch near-dup detection.

Scale design notes (100 TB lens):
- Python DataSource: partition planning happens on the driver (cheap
  metadata), row production inside executor Python workers — the
  first-class way to fan a remote listing / paginated API across the
  cluster behind a normal `spark.read.format(...)` call (S1/S6 of the
  reference's source inventory, cluster-distributed).
- Co-occurrence lift: the pairwise stage is bounded per document by
  its DISTINCT token count, and globally by doc-frequency support
  pruning (the same stopword/fan-out lever as n-gram Jaccard's
  max_doc_freq). Lift (N*c_xy / (c_x*c_y)) is PMI without the log —
  the monotone transform keeps ranking identical while staying in
  exact rational arithmetic (log is 1-ulp engine-varying).
- Parameterized SQL: named-parameter binding (Spark 4) — the API
  surface that keeps literals out of the plan cache key's way and
  SQL-injection out of string formatting. Zero runtime difference
  from inlined literals, which is what the oracle runs.
- Incremental near-dup: band signatures of the BASE corpus are the
  persistent artifact between crawl increments (like the digest
  manifest of x_dedup_incremental, ~100 bytes/doc); each new batch
  joins its bands against base bands — bucket-bounded, never
  re-reading base bodies.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from blspark.catalog import load_table, o_dsum, register

# ---------------------------------------------------------------------------
# Custom Python DataSource (Spark 4)
# ---------------------------------------------------------------------------

from blspark.ext.dedup import hex_int_sql

_SIZE_SQL = hex_int_sql("digest", 4)


@register(
    "x_python_datasource",
    oracle=f"""
    WITH t AS (
      SELECT printf('file_%06d.dat', CAST(i AS INT)) AS key
      FROM range(2000) r(i)
    ),
    h AS (SELECT key, md5(key) AS digest FROM t)
    SELECT key, CAST({_SIZE_SQL} AS BIGINT) AS size_bytes,
           digest AS checksum
    FROM h
    """,
    doc="Custom Python DataSource (Spark 4 pyspark.sql.datasource): a "
    "registered format whose partitions are planned on the driver and "
    "produced inside executor Python workers — the cluster-distributed "
    "form of the reference's listing/REST sources (S1/S6). The "
    "deterministic manifest payload (md5-derived sizes) makes the "
    "whole source oracle-checkable; a real fetcher swaps the synthesis "
    "loop, keeping the partition-planning skeleton. "
    "blspark/ext/pysource.py.",
)
def x_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blspark.ext.pysource import register_manifest_source

    register_manifest_source(spark)
    return (
        spark.read.format("blspark_manifest")
        .option("n", "2000")
        .option("parts", "8")
        .load()
    )


# ---------------------------------------------------------------------------
# Token co-occurrence association mining (lift = PMI without the log)
# ---------------------------------------------------------------------------

_MIN_SUPPORT = 10
_TOP_PAIRS = 50
# Pairwise work is O(per-doc distinct tokens squared); this clamp makes
# the bound EXPLICIT (VERDICT r7 depth note) instead of relying on the
# corpus behaving: each doc contributes at most this many distinct
# tokens to the PAIRING stage (the lexicographically smallest — a
# deterministic rule), capping a pathological doc at 64*63/2 pairs
# instead of unbounded. Document-frequency stats stay global (the
# clamp bounds the quadratic stage, not the linear ones). The synthetic
# corpus maxes at 31 distinct tokens/doc, so results are unchanged
# here; a real crawl depends on this cap.
_MAX_PAIR_TOKS = 64


@register(
    "x_cooccurrence_lift",
    oracle=f"""
    WITH d AS (
      SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
      FROM documents
    ),
    dp AS (
      SELECT doc_id,
             unnest(list_sort(list(tok))[1:{_MAX_PAIR_TOKS}]) AS tok
      FROM d GROUP BY doc_id
    ),
    stats AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM d),
    dfreq AS (SELECT tok, COUNT(*) AS df FROM d GROUP BY tok),
    pairs AS (
      SELECT a.tok AS tok_a, b.tok AS tok_b, COUNT(*) AS c_xy
      FROM dp a JOIN dp b ON a.doc_id = b.doc_id AND a.tok < b.tok
      GROUP BY a.tok, b.tok
    )
    SELECT tok_a, tok_b, c_xy,
           CAST(c_xy * stats.n_docs AS DOUBLE) / (fa.df * fb.df) AS lift
    FROM pairs
    JOIN dfreq fa ON fa.tok = pairs.tok_a
    JOIN dfreq fb ON fb.tok = pairs.tok_b
    CROSS JOIN stats
    WHERE c_xy >= {_MIN_SUPPORT}
    ORDER BY lift DESC, tok_a, tok_b
    LIMIT {_TOP_PAIRS}
    """,
    doc="Token co-occurrence association mining: document-level "
    "co-occurrence counts -> lift = N*c_xy/(c_x*c_y) (PMI without the "
    "log — same ranking, exact rational arithmetic), top pairs by "
    "lift. The pairwise stage is EXPLICITLY bounded: each doc "
    "contributes at most 64 distinct tokens (lexicographically "
    "smallest — deterministic) to pairing, so a pathological doc costs "
    "64*63/2 pairs, not unbounded; df stats stay global. Production "
    "additionally drops high-df stopwords before pairing (the n-gram "
    "Jaccard lever).",
)
def x_cooccurrence_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.array_sort(F.array_distinct(F.split("text", " ")))
    d = docs.select("doc_id", F.explode(toks).alias("tok"))
    # pairing side only: per-doc clamp bounds the quadratic stage
    dp = docs.select(
        "doc_id",
        F.explode(F.slice(toks, 1, _MAX_PAIR_TOKS)).alias("tok"),
    )
    stats = d.agg(F.count_distinct("doc_id").alias("n_docs"))
    dfreq = d.groupBy("tok").agg(F.count("*").alias("df"))
    a = dp.alias("a")
    b = dp.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("a.tok") < F.col("b.tok")),
        )
        .groupBy(
            F.col("a.tok").alias("tok_a"), F.col("b.tok").alias("tok_b")
        )
        .agg(F.count("*").alias("c_xy"))
        .filter(F.col("c_xy") >= _MIN_SUPPORT)
    )
    fa = dfreq.select(F.col("tok").alias("tok_a"), F.col("df").alias("df_a"))
    fb = dfreq.select(F.col("tok").alias("tok_b"), F.col("df").alias("df_b"))
    return (
        pairs.join(fa, "tok_a")
        .join(fb, "tok_b")
        .crossJoin(stats)
        .select(
            "tok_a",
            "tok_b",
            "c_xy",
            (
                (F.col("c_xy") * F.col("n_docs")).cast("double")
                / (F.col("df_a") * F.col("df_b"))
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), "tok_a", "tok_b")
        .limit(_TOP_PAIRS)
    )


# ---------------------------------------------------------------------------
# Parameterized SQL (Spark 4 named-parameter binding)
# ---------------------------------------------------------------------------

_PARAM_MIN_PRICE = 150000.0


@register(
    "q_sql_params",
    oracle=f"""
    SELECT o_orderpriority, COUNT(*) AS n,
           {o_dsum('o_totalprice')} AS total
    FROM orders WHERE o_totalprice > {_PARAM_MIN_PRICE}
    GROUP BY o_orderpriority
    """,
    doc="Named-parameter SQL binding (Spark 4 spark.sql(query, args=...)"
    "): the literal arrives as a typed parameter, not string "
    "interpolation — plan-cache friendly and injection-safe. The "
    "oracle runs the same query with the literal inlined, proving the "
    "binding is semantically transparent.",
)
def q_sql_params(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blspark.catalog import register_views

    register_views(spark, sf_dir, ("orders",))
    return spark.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS n,
               CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,4)))
                    AS STRING) AS DOUBLE) AS total
        FROM orders WHERE o_totalprice > :minp
        GROUP BY o_orderpriority
        """,
        args={"minp": _PARAM_MIN_PRICE},
    )


# ---------------------------------------------------------------------------
# Incremental cross-batch near-dup (LSH bands vs base manifest)
# ---------------------------------------------------------------------------


def _incremental_lsh_oracle(thr: float = 0.6) -> str:
    from blspark.queries.extensions import (
        CORPUS_SQL,
        SHINGLES_SQL,
        lsh_cte_block,
    )

    return f"""
    WITH corpus AS ({CORPUS_SQL}),
    {SHINGLES_SQL},
    {lsh_cte_block(cand_where="a.id % 3 <> 0 AND b.id % 3 = 0")}
    SELECT id_a AS new_id, id_b AS base_id, jaccard
    FROM ex WHERE jaccard >= {thr}
    """


@register(
    "x_dedup_incremental_lsh",
    oracle=_incremental_lsh_oracle(),
    doc="Incremental cross-batch NEAR-dup — the crawl-increment shape "
    "for fuzzy duplicates: the base corpus persists only its band "
    "signatures (~100 bytes/doc, like x_dedup_incremental's digest "
    "manifest); each new batch's bands bucket-join against base bands "
    "and only candidates are exact-verified (Jaccard >= 0.6). Base "
    "bodies are re-read only for verification of its candidate docs; "
    "at scale the base shingle sets are also kept as a columnar "
    "artifact keyed by id. Base = doc_id%3==0, new = rest (same split "
    "as x_dedup_incremental).",
)
def x_dedup_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blspark.ext.dedup import lsh_verified_candidates
    from blspark.queries.extensions import _corpus

    corpus = _corpus(spark, sf_dir)
    # verified comes back materialized (checkpointed) — the helper
    # releases its shingle cache before returning
    _arrs, _sig, verified = lsh_verified_candidates(corpus, "doc_id", "text")
    # candidates come id_a < id_b in both orientations; keep only pairs
    # crossing the base/new boundary, re-oriented to (new, base)
    return (
        verified.filter(F.col("jaccard") >= 0.6)
        .select(
            F.when(F.col("id_a") % 3 != 0, F.col("id_a"))
            .otherwise(F.col("id_b"))
            .alias("new_id"),
            F.when(F.col("id_a") % 3 != 0, F.col("id_b"))
            .otherwise(F.col("id_a"))
            .alias("base_id"),
            "jaccard",
        )
        .filter((F.col("new_id") % 3 != 0) & (F.col("base_id") % 3 == 0))
    )



# ---------------------------------------------------------------------------
# Recursive-CTE bounded transitive closure (Spark 4 WITH RECURSIVE)
# ---------------------------------------------------------------------------

_MAX_HOPS = 6


def _recursive_closure_oracle() -> str:
    from blspark.queries.extensions import CORPUS_SQL, SHINGLES_SQL

    return f"""
    WITH RECURSIVE corpus AS ({CORPUS_SQL}),
    {SHINGLES_SQL},
    sizes AS (SELECT id, COUNT(*) AS n FROM sh GROUP BY id),
    inter AS (
      SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT i.id_a, i.id_b
      FROM inter i
      JOIN sizes sa ON sa.id = i.id_a
      JOIN sizes sb ON sb.id = i.id_b
      WHERE i.n_common / (sa.n + sb.n - i.n_common) >= 0.6
    ),
    sym AS (SELECT id_a AS a, id_b AS b FROM pairs
            UNION ALL SELECT id_b, id_a FROM pairs),
    reach(node, r, hops) AS (
      SELECT doc_id, doc_id, 0 FROM corpus
      UNION ALL
      SELECT reach.node, s.b, hops + 1
      FROM reach JOIN sym s ON s.a = reach.r
      WHERE hops < {_MAX_HOPS}
    )
    SELECT node, MIN(r) AS component FROM reach GROUP BY node
    """


@register(
    "q_recursive_closure",
    oracle=_recursive_closure_oracle(),
    doc=f"Transitive closure via Spark 4 WITH RECURSIVE (SQL-native "
    "iteration — the SQL counterpart of duplicate clustering by the "
    "star-contraction connected_components operator): hop-bounded ({_MAX_HOPS}) "
    "UNION ALL recursion, because cycles in the undirected dup graph "
    "would never exhaust under pure UNION ALL and Spark does not yet "
    "support the deduplicating UNION recursion DuckDB allows. The "
    "bound exceeds any real dup-cluster diameter (equality with the "
    "iterative components operator is asserted in tests); path "
    "enumeration within a cluster is bounded by cluster-size^hops, "
    "fine for shallow near-dup cliques, NOT for arbitrary graphs — "
    "use connected_components there.",
)
def q_recursive_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blspark.ext.dedup import jaccard_pairs, word_shingles
    from blspark.queries.extensions import _corpus

    import uuid

    corpus = _corpus(spark, sf_dir)
    sh = word_shingles(corpus, "doc_id", "text", n=3)
    # uuid-suffixed view names: fixed names would collide under
    # concurrent operator execution on a shared session and linger
    # after the query returns. spark.sql analyzes eagerly, so the
    # returned DataFrame keeps its resolved plan after the views drop.
    tag = uuid.uuid4().hex[:12]
    pairs_v, nodes_v = f"_rc_pairs_{tag}", f"_rc_nodes_{tag}"
    jaccard_pairs(sh, min_jaccard=0.6).select(
        "id_a", "id_b"
    ).createOrReplaceTempView(pairs_v)
    corpus.select("doc_id").createOrReplaceTempView(nodes_v)
    try:
        return spark.sql(
            f"""
            WITH RECURSIVE sym AS (
              SELECT id_a AS a, id_b AS b FROM {pairs_v}
              UNION ALL SELECT id_b, id_a FROM {pairs_v}
            ),
            reach(node, r, hops) AS (
              SELECT doc_id, doc_id, 0 FROM {nodes_v}
              UNION ALL
              SELECT reach.node, s.b, hops + 1
              FROM reach JOIN sym s ON s.a = reach.r
              WHERE hops < {_MAX_HOPS}
            )
            SELECT node, MIN(r) AS component FROM reach GROUP BY node
            """
        )
    finally:
        spark.catalog.dropTempView(pairs_v)
        spark.catalog.dropTempView(nodes_v)


# ---------------------------------------------------------------------------
# Gaps-and-islands (consecutive-day activity streaks)
# ---------------------------------------------------------------------------


@register(
    "q_gaps_and_islands",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id,
             CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day
      FROM events
    ),
    seq AS (
      SELECT user_id, day,
             date_diff('day', DATE '1970-01-01', day)
               - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day)
               AS grp
      FROM days
    )
    SELECT user_id, MIN(day) AS streak_start, MAX(day) AS streak_end,
           COUNT(*) AS streak_days
    FROM seq GROUP BY user_id, grp
    """,
    doc="Gaps-and-islands: consecutive-day activity streaks per user "
    "via the classic (day_number - row_number) grouping key — runs of "
    "consecutive days share one key with zero self-joins. One window "
    "per user partition + one aggregate; the retention/engagement "
    "shape next to q_retention_cohorts and q_rolling_active_users.",
)
def q_gaps_and_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    days = ev.select(
        "user_id", F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    seq = days.withColumn(
        "grp",
        F.datediff("day", F.lit("1970-01-01")) - F.row_number().over(w),
    )
    return seq.groupBy("user_id", "grp").agg(
        F.min("day").alias("streak_start"),
        F.max("day").alias("streak_end"),
        F.count("*").alias("streak_days"),
    ).drop("grp")


# ---------------------------------------------------------------------------
# Mergeable top-k (per-shard top-k union == direct global top-k)
# ---------------------------------------------------------------------------

_TOPK = 10


@register(
    "x_topk_merge",
    oracle=f"""
    SELECT doc_id, n_chars FROM documents
    ORDER BY n_chars DESC, doc_id LIMIT {_TOPK}
    """,
    doc="Mergeable top-k: each shard keeps its LOCAL top-k (window "
    "rank within shard), the union of shard winners is re-ranked for "
    "the global top-k — provably equal to the direct global top-k "
    "(any global winner wins its shard), which is what the oracle "
    "computes. The distributive law that lets a 1000-executor top-k "
    "ship k rows per shard instead of a global sort — the same "
    "algebra TakeOrdered uses internally, here explicit and reusable "
    "for layered rollups (hour -> day -> global leaderboards).",
)
def x_topk_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    sharded = docs.withColumn("shard", F.pmod("doc_id", F.lit(8)))
    w = Window.partitionBy("shard").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    local = (
        sharded.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _TOPK)
        .drop("rn", "shard")
    )
    return local.orderBy(F.desc("n_chars"), F.asc("doc_id")).limit(_TOPK)


# ---------------------------------------------------------------------------
# Mergeable HLL sketches (Spark 4 DataSketches surface)
# ---------------------------------------------------------------------------


@register(
    "x_hll_partial_merge",
    oracle="""
    SELECT COUNT(DISTINCT user_id) AS n_exact,
           TRUE AS union_within_5pct,
           TRUE AS direct_within_5pct
    FROM events
    """,
    doc="Mergeable distinct-count sketches (Spark 4 DataSketches HLL): "
    "per-shard hll_sketch_agg states merged with hll_union_agg, then "
    "estimated — the sketch-world analog of x_agg_state_merge, and how "
    "a 100 TB pipeline keeps daily distinct-user rollups mergeable "
    "into monthly ones without re-scanning. Sketches are deterministic "
    "(no RNG), so the 5%-accuracy contracts are stable cross-engine "
    "assertions; the oracle supplies the exact count and the contract "
    "booleans. Measured subtlety worth knowing: the union estimate is "
    "NOT bit-identical to the direct single-pass sketch (union "
    "finalizes through a denser HLL mode: 1488 vs 1499 vs exact 1500 "
    "at sf0.1) and can even dip below one shard's estimate — mergeable "
    "means mergeable-within-error, not lossless; both paths hold the "
    "advertised error bound.",
)
def x_hll_partial_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    part = ev.withColumn("shard", F.pmod("event_id", F.lit(8))).groupBy(
        "shard"
    ).agg(F.hll_sketch_agg("user_id").alias("sk"))
    merged = part.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_union")
    )
    direct = ev.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est_direct")
    )
    exact = ev.agg(F.count_distinct("user_id").alias("n_exact"))
    tol = 0.05 * F.col("n_exact")
    return (
        exact.crossJoin(merged)
        .crossJoin(direct)
        .select(
            "n_exact",
            (F.abs(F.col("est_union") - F.col("n_exact")) <= tol).alias(
                "union_within_5pct"
            ),
            (F.abs(F.col("est_direct") - F.col("n_exact")) <= tol).alias(
                "direct_within_5pct"
            ),
        )
    )


# ---------------------------------------------------------------------------
# MinHash Jaccard-estimator accuracy (est vs exact, per candidate pair)
# ---------------------------------------------------------------------------


def _minhash_est_oracle() -> str:
    from blspark.queries.extensions import (
        CORPUS_SQL,
        SHINGLES_SQL,
        lsh_cte_block,
    )

    est = " + ".join(
        f"CASE WHEN a.mh{s} = b.mh{s} THEN 1 ELSE 0 END" for s in range(8)
    )
    return f"""
    WITH corpus AS ({CORPUS_SQL}),
    {SHINGLES_SQL},
    {lsh_cte_block()}
    SELECT ex.id_a, ex.id_b,
           CAST(({est}) AS DOUBLE) / 8.0 AS est,
           ex.jaccard,
           ABS(CAST(({est}) AS DOUBLE) / 8.0 - ex.jaccard) AS abs_err
    FROM ex
    JOIN sig a ON a.id = ex.id_a
    JOIN sig b ON b.id = ex.id_b
    """


@register(
    "x_minhash_est_accuracy",
    oracle=_minhash_est_oracle(),
    doc="MinHash estimator accuracy, per candidate pair: the signature-"
    "agreement estimate (matching slots / 8 — the unbiased Jaccard "
    "estimator MinHash is built on) next to the exact Jaccard and the "
    "absolute error. The evaluation-methodology twin of x_lsh_eval "
    "(which scores the CANDIDATE SET; this scores the ESTIMATOR): at "
    "scale you monitor this error distribution on a sampled pair "
    "stream to size n_hashes before trusting signature-only dedup. "
    "All rational arithmetic — k/8 and shingle-count ratios are exact "
    "doubles in both engines.",
)
def x_minhash_est_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blspark.ext.dedup import lsh_verified_candidates
    from blspark.queries.extensions import _corpus

    corpus = _corpus(spark, sf_dir)
    # sig and verified come back materialized (checkpointed) — the
    # helper releases its shingle cache before returning
    _arrs, sig, verified = lsh_verified_candidates(corpus, "doc_id", "text")
    sa_sig = sig.select(
        F.col("id").alias("id_a"),
        *[F.col(f"mh{s}").alias(f"a{s}") for s in range(8)],
    )
    sb_sig = sig.select(
        F.col("id").alias("id_b"),
        *[F.col(f"mh{s}").alias(f"b{s}") for s in range(8)],
    )
    agree = sum(
        F.when(F.col(f"a{s}") == F.col(f"b{s}"), 1).otherwise(0)
        for s in range(8)
    )
    est = (agree.cast("double") / F.lit(8.0)).alias("est")
    return (
        verified.join(sa_sig, "id_a")
        .join(sb_sig, "id_b")
        .select("id_a", "id_b", est, "jaccard")
        .select(
            "id_a", "id_b", "est", "jaccard",
            F.abs(F.col("est") - F.col("jaccard")).alias("abs_err"),
        )
    )
