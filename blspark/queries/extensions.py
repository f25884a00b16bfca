"""Extension-scope queries (BASELINE.json north star): deduplication,
similarity search, text analysis, multimodal metadata — each with a
DuckDB oracle mirroring the exact algorithm so the value-hash check is
meaningful.

The dedup corpus is documents ∪ near-duplicate mutations (doc_id+100000,
text + ' extra token', every 10th doc) ∪ exact copies (doc_id+200000,
every 25th doc), built identically on both sides, so the dedup operators
provably find the planted duplicates rather than vacuously returning
empty sets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from blspark.catalog import dsum, load_table, o_dsum, register
from blspark.ext.dedup import (
    exact_dedup_keys,
    lsh_candidate_pairs,
    minhash_signatures,
    simhash16,
    word_shingles,
)
from blspark.ext.multimodal import attach_binary, decode_features
from blspark.ext.similarity import cosine_topk, hyperplane_lsh_topk
from blspark.ext.text import fingerprint, lang_id, quality_score, token_stats
from blspark.ops import fan_out

# ---------------------------------------------------------------------------
# shared corpus (Spark + oracle twins)
# ---------------------------------------------------------------------------

CORPUS_SQL = """
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text || ' extra token' AS text
  FROM documents WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + 200000 AS doc_id, text AS text
  FROM documents WHERE doc_id % 25 = 0
"""

SHINGLES_SQL = """
tok AS (SELECT doc_id AS id, string_split(text, ' ') AS t FROM corpus),
sh AS (
  SELECT DISTINCT id, shingle FROM (
    SELECT id,
           unnest(list_transform(range(len(t) - 2),
                  i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])) AS shingle
    FROM tok WHERE len(t) >= 3
  ) raw
)
"""


def _corpus(spark: SparkSession, sf_dir: str, wide: bool = False) -> DataFrame:
    """Doc corpus with synthetic near/exact duplicates. ``wide=True``
    fans the whole three-branch union out with ONE round-robin exchange
    (not one per branch) — worth one small shuffle only for the
    consumers doing CPU-heavy per-row work (shingling, per-shingle MD5);
    digest-only consumers keep the narrow scan."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    near = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra token")).alias("text"),
    )
    exact = docs.filter(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"), F.col("text")
    )
    corpus = docs.unionByName(near).unionByName(exact)
    return fan_out(corpus) if wide else corpus


# ---------------------------------------------------------------------------
# deduplication
# ---------------------------------------------------------------------------


@register(
    "x_dedup_exact",
    oracle=f"""
    WITH corpus AS ({CORPUS_SQL})
    SELECT md5(text) AS digest, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
    FROM corpus GROUP BY md5(text)
    """,
    doc="Exact dedup: hash-groupBy on content MD5, keep min id. Only the "
    "16-byte digest shuffles, never the document body.",
    bench=True,
)
def x_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup_keys(_corpus(spark, sf_dir), "doc_id", "text")


from blspark.ext.dedup import (  # noqa: E402  (constants for oracle SQL)
    MINHASH_A,
    MINHASH_B,
    MINHASH_P,
    SHINGLE_V_SQL,
)

_MH = ",\n         ".join(
    f"MIN((v * {MINHASH_A[s]} + {MINHASH_B[s]}) % {MINHASH_P}) AS mh{s}"
    for s in range(8)
)


def _band_sql(b: int, rows: int = 4) -> str:
    parts = " || ':' || ".join(
        f"CAST(mh{b * rows + r} AS VARCHAR)" for r in range(rows)
    )
    return f"md5({parts})"


def lsh_cte_block(cand_where: str = "a.id < b.id") -> str:
    """The shared MinHash/banding/candidate/exact-verify oracle CTE
    chain (hv -> sig -> bands -> cand -> sizes -> inter -> ex), used by
    every minhash-family oracle so the banding scheme lives in ONE
    place. Assumes ``corpus`` and ``sh`` CTEs are already in scope
    (CORPUS_SQL + SHINGLES_SQL). ``ex`` exposes (id_a, id_b, jaccard),
    unthresholded; ``cand_where`` restricts the candidate orientation
    (default: ordered pairs)."""
    return f"""hv AS (
  SELECT id, {SHINGLE_V_SQL} AS v
  FROM (SELECT id, md5(shingle) AS h FROM sh) t
),
sig AS (
  SELECT id,
         {_MH}
  FROM hv GROUP BY id
),
bands AS (
  SELECT id, 0 AS band_idx, {_band_sql(0)} AS band_hash FROM sig
  UNION ALL
  SELECT id, 1 AS band_idx, {_band_sql(1)} AS band_hash FROM sig
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
   AND ({cand_where})
),
sizes AS (SELECT id, COUNT(*) AS n FROM sh GROUP BY id),
inter AS (
  SELECT c.id_a, c.id_b, COUNT(*) AS n_common
  FROM cand c
  JOIN sh a ON a.id = c.id_a
  JOIN sh b ON b.id = c.id_b AND b.shingle = a.shingle
  GROUP BY c.id_a, c.id_b
),
ex AS (
  SELECT i.id_a, i.id_b,
         i.n_common / (sa.n + sb.n - i.n_common) AS jaccard
  FROM inter i
  JOIN sizes sa ON sa.id = i.id_a
  JOIN sizes sb ON sb.id = i.id_b
)"""


MINHASH_ORACLE = f"""
WITH corpus AS ({CORPUS_SQL}),
{SHINGLES_SQL},
{lsh_cte_block()}
SELECT id_a, id_b, jaccard FROM ex WHERE jaccard >= 0.5
"""


@register(
    "x_dedup_minhash_lsh",
    oracle=MINHASH_ORACLE,
    doc="MinHash+LSH near-dup detection: 3-word shingles -> 8 MD5-seeded "
    "minhashes -> 2 bands of 4 -> band-bucket self-join for candidates "
    "-> exact-Jaccard verification >= 0.5. The band join is the only "
    "shuffle whose fan-out matters; band width bounds bucket sizes. "
    "Verification joins the candidate pairs back to per-document shingle "
    "ARRAYS and intersects JVM-side (array_intersect) — no exploded "
    "self-join, no per-pair re-aggregation, two fewer shuffles.",
    bench=True,
)
def x_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blspark.ext.dedup import lsh_verified_candidates

    corpus = _corpus(spark, sf_dir)
    # verified comes back materialized (checkpointed) — the helper
    # releases its shingle cache before returning
    _arrs, _sig, verified = lsh_verified_candidates(corpus, "doc_id", "text")
    return verified.filter(F.col("jaccard") >= 0.5)


NGRAM_ORACLE = f"""
WITH corpus AS ({CORPUS_SQL}),
{SHINGLES_SQL},
sizes AS (SELECT id, COUNT(*) AS n FROM sh GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY 1, 2
)
SELECT i.id_a, i.id_b,
       i.n_common / (sa.n + sb.n - i.n_common) AS jaccard
FROM inter i
JOIN sizes sa ON sa.id = i.id_a
JOIN sizes sb ON sb.id = i.id_b
WHERE i.n_common / (sa.n + sb.n - i.n_common) >= 0.6
"""


@register(
    "x_dedup_ngram_jaccard",
    oracle=NGRAM_ORACLE,
    doc="Exact n-gram Jaccard near-dup pairs via inverted-index self-join "
    "(threshold 0.6). The quadratic fallback — at scale use "
    "max_doc_freq shingle pruning or the MinHash path.",
)
def x_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blspark.ext.dedup import jaccard_pairs

    sh = word_shingles(_corpus(spark, sf_dir), "doc_id", "text", n=3)
    return jaccard_pairs(sh, min_jaccard=0.6)


def _simhash_oracle() -> str:
    hexpos = "0123456789abcdef"
    v_expr = " + ".join(
        f"(instr('{hexpos}', substring(h, {j + 1}, 1)) - 1) * {16 ** (3 - j)}"
        for j in range(4)
    )
    s_cols = ",\n         ".join(
        f"SUM(CASE WHEN (v // {2 ** b}) % 2 = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(16)
    )
    sim_expr = " + ".join(
        f"(CASE WHEN s{b} > 0 THEN {2 ** b} ELSE 0 END)" for b in range(16)
    )
    return f"""
    WITH corpus AS ({CORPUS_SQL}),
    toks AS (
      SELECT DISTINCT id, tok FROM (
        SELECT doc_id AS id, unnest(string_split(text, ' ')) AS tok FROM corpus
      ) raw
    ),
    tv AS (
      SELECT id, {v_expr} AS v FROM (SELECT id, md5(tok) AS h FROM toks) t
    ),
    sums AS (
      SELECT id,
         {s_cols}
      FROM tv GROUP BY id
    )
    SELECT id, CAST({sim_expr} AS BIGINT) AS simhash FROM sums
    """


@register(
    "x_dedup_simhash",
    oracle=_simhash_oracle(),
    doc="16-bit SimHash fingerprints over distinct tokens (MD5-derived "
    "bits, portable arithmetic). Equal fingerprints -> dup candidates; "
    "one aggregation pass, no pairwise work.",
)
def x_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash16(_corpus(spark, sf_dir), "doc_id", "text")


@register(
    "x_dedup_incremental",
    oracle=f"""
    WITH corpus AS ({CORPUS_SQL}),
    base AS (SELECT md5(text) AS digest FROM corpus WHERE doc_id % 3 = 0),
    newb AS (
      SELECT doc_id, md5(text) AS digest FROM corpus WHERE doc_id % 3 <> 0
    ),
    fresh AS (
      SELECT n.doc_id, n.digest FROM newb n
      WHERE NOT EXISTS (SELECT 1 FROM base b WHERE b.digest = n.digest)
    )
    SELECT digest, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
    FROM fresh GROUP BY digest
    """,
    doc="Incremental corpus dedup — the daily-crawl-increment shape: a "
    "NEW batch deduped against the already-ingested BASE (digest "
    "anti-join; no base re-processing) and then within itself (digest "
    "group-by, min-id winner). Only 16-byte digests ever shuffle; the "
    "anti-join is digest-keyed so the base side is its digest manifest, "
    "not its bodies — at 100 TB the base manifest is what you keep hot "
    "between increments. Base = doc_id%3==0, new = the rest, over the "
    "planted-dup corpus.",
)
def x_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _corpus(spark, sf_dir)
    digest = F.md5(F.col("text").cast("binary")).alias("digest")
    base = corpus.filter(F.col("doc_id") % 3 == 0).select(digest)
    new = corpus.filter(F.col("doc_id") % 3 != 0).select("doc_id", digest)
    fresh = new.join(base, "digest", "left_anti")
    return fresh.groupBy("digest").agg(
        F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies")
    )


def _gram8_sql() -> str:
    concat = " || ' ' || ".join(f"t[i+{j + 1}]" for j in range(8))
    return f"""
    g8 AS (
      SELECT id, unnest(list_transform(range(len(t) - 7), i -> {concat})) AS gram
      FROM (SELECT doc_id AS id, string_split(text, ' ') AS t FROM corpus) tok
      WHERE len(t) >= 8
    )
    """


@register(
    "x_dedup_span_fraction",
    oracle=f"""
    WITH corpus AS ({CORPUS_SQL}),
    {_gram8_sql()},
    per AS (SELECT id, gram, COUNT(*) AS c FROM g8 GROUP BY id, gram),
    dfreq AS (SELECT gram, COUNT(*) AS df FROM per GROUP BY gram)
    SELECT id, CAST(SUM(c) AS BIGINT) AS n_grams,
           SUM(CASE WHEN df >= 2 THEN c ELSE 0 END) / SUM(c) AS dup_fraction
    FROM per JOIN dfreq USING (gram) GROUP BY id
    """,
    doc="Per-document duplicated-span fraction: share of a document's "
    "positional 8-gram slots whose gram appears in >= 2 documents — the "
    "span-level corpus-duplication metric behind exact-substring dedup "
    "(Jaccard is set-level; this weights by how MUCH of the document is "
    "duplicated text). Two partial-aggregatable aggregations + one "
    "gram-keyed join, no pairwise work. "
    "blspark/ext/dedup.py:duplicated_span_fraction.",
)
def x_dedup_span_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blspark.ext.dedup import duplicated_span_fraction, positional_ngrams

    grams = positional_ngrams(_corpus(spark, sf_dir), "doc_id", "text", n=8)
    return duplicated_span_fraction(grams)


def _simhash64_fp_sql() -> str:
    """DuckDB CTE body computing (id, sh_hi, sh_lo) 64-bit SimHash
    fingerprints — the oracle twin of blspark.ext.dedup.simhash64."""
    nib = "CAST(instr('0123456789abcdef', substr(h,{p},1)) - 1 AS BIGINT)"
    hi_expr = " + ".join(f"{nib.format(p=j + 1)} * {16 ** (7 - j)}" for j in range(8))
    lo_expr = " + ".join(f"{nib.format(p=j + 9)} * {16 ** (7 - j)}" for j in range(8))
    s_cols = ",\n         ".join(
        f"SUM(CASE WHEN (v_{half} // {2 ** b}) % 2 = 1 THEN 1 ELSE -1 END)"
        f" AS s_{half}{b}"
        for half in ("hi", "lo")
        for b in range(32)
    )
    packs = {
        half: " + ".join(
            f"(CASE WHEN s_{half}{b} > 0 THEN {2 ** b} ELSE 0 END)"
            for b in range(32)
        )
        for half in ("hi", "lo")
    }
    return f"""
    toks64 AS (
      SELECT DISTINCT id, tok FROM (
        SELECT doc_id AS id, unnest(string_split(text, ' ')) AS tok FROM corpus
      ) raw
    ),
    tv64 AS (
      SELECT id, CAST({hi_expr} AS BIGINT) AS v_hi,
                 CAST({lo_expr} AS BIGINT) AS v_lo
      FROM (SELECT id, md5(tok) AS h FROM toks64) t
    ),
    sums64 AS (
      SELECT id,
         {s_cols}
      FROM tv64 GROUP BY id
    ),
    fp64 AS (
      SELECT id, CAST({packs['hi']} AS BIGINT) AS sh_hi,
                 CAST({packs['lo']} AS BIGINT) AS sh_lo
      FROM sums64
    )
    """


@register(
    "x_dedup_simhash64",
    oracle=f"""
    WITH corpus AS ({CORPUS_SQL}),
    {_simhash64_fp_sql()}
    SELECT id, sh_hi, sh_lo FROM fp64
    """,
    doc="64-bit SimHash fingerprints as two 32-bit halves (bit 63 in one "
    "BIGINT would overflow signed arithmetic under ANSI mode). The "
    "16-bit variant saturates at ~thousands of docs (birthday bound); "
    "64 bits is the corpus-scale width. One tokenize + one aggregation "
    "pass, no pairwise work. blspark/ext/dedup.py:simhash64.",
)
def x_dedup_simhash64(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blspark.ext.dedup import simhash64

    return simhash64(_corpus(spark, sf_dir), "doc_id", "text")


_HAM64 = (
    "CAST(bit_count(xor(a.sh_hi, b.sh_hi))"
    " + bit_count(xor(a.sh_lo, b.sh_lo)) AS INT)"
)


@register(
    "x_dedup_simhash_hamming",
    oracle=f"""
    WITH corpus AS ({CORPUS_SQL}),
    {_simhash64_fp_sql()}
    SELECT a.id AS id_a, b.id AS id_b, {_HAM64} AS hamming
    FROM fp64 a JOIN fp64 b ON a.id < b.id
    WHERE {_HAM64} <= 3
    """,
    doc="SimHash near-dup candidates: pairs within Hamming distance 3 of "
    "their 64-bit fingerprints — WITHOUT an all-pairs join. The 64 bits "
    "split into 4 x 16-bit blocks; pigeonhole says any pair within "
    "Hamming 3 matches at least one block exactly, so a per-(block_idx, "
    "block_value) bucket self-join generates candidates and xor + "
    "bit_count verifies the exact distance. Oracle does the provably "
    "equivalent all-pairs filter (fine at oracle scale; the banded form "
    "is the 100 TB path). blspark/ext/dedup.py:simhash_hamming_pairs.",
)
def x_dedup_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blspark.ext.dedup import simhash64, simhash_hamming_pairs

    fp = simhash64(_corpus(spark, sf_dir), "doc_id", "text")
    return simhash_hamming_pairs(fp, max_hamming=3).select(
        "id_a", "id_b", F.col("hamming").cast("int").alias("hamming")
    )


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------

_DOT = "list_sum(list_transform(list_zip({a}, {b}), x -> x[1] * x[2]))"
_NORM = "sqrt(list_sum(list_transform({a}, x -> x * x)))"

COSINE_ORACLE = f"""
WITH c AS (
  SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS vec FROM embeddings
),
q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec
  FROM embeddings WHERE vec_id < 5
),
scored AS (
  SELECT q.query_id, c.neighbor_id,
         CASE WHEN ({_NORM.format(a='c.vec')} * {_NORM.format(a='q.qvec')}) > 0
              THEN {_DOT.format(a='c.vec', b='q.qvec')}
                   / ({_NORM.format(a='c.vec')} * {_NORM.format(a='q.qvec')})
              ELSE '-infinity'::DOUBLE END AS cos_raw
  FROM c, q WHERE c.neighbor_id <> q.query_id
)
SELECT query_id, neighbor_id, ROUND(cos_raw, 6) AS cosine, rank FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id ASC) AS INT) AS rank
  FROM scored
) t WHERE rank <= 5
"""


@register(
    "x_similarity_cosine_topk",
    oracle=COSINE_ORACLE,
    doc="Brute-force exact cosine top-5 for 5 query vectors: broadcast "
    "queries x corpus scan, JVM-side zip_with/aggregate dot products, "
    "per-query top-k window. The exactness baseline for ANN.",
    bench=True,
)
def x_similarity_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    out = cosine_topk(emb, queries, id_col="vec_id", vec_col="embedding", k=5)
    return out.withColumn("rank", F.col("rank").cast("int"))


ANN_ORACLE = f"""
WITH hp AS (
  SELECT vec_id AS hid, embedding::DOUBLE[] AS h FROM embeddings WHERE vec_id < 4
),
vecs AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
dots AS (
  SELECT v.vec_id, hp.hid, {_DOT.format(a='v.vec', b='hp.h')} AS d
  FROM vecs v, hp
),
buck AS (
  SELECT vec_id,
         CAST(SUM(CASE WHEN d >= 0 THEN CAST(2 AS BIGINT) ** hid ELSE 0 END) AS INT)
           AS bucket
  FROM dots GROUP BY vec_id
),
c AS (
  SELECT v.vec_id AS neighbor_id, v.vec, b.bucket
  FROM vecs v JOIN buck b ON b.vec_id = v.vec_id
),
q AS (
  SELECT v.vec_id AS query_id, v.vec AS qvec, b.bucket
  FROM vecs v JOIN buck b ON b.vec_id = v.vec_id
  WHERE v.vec_id >= 5 AND v.vec_id < 10
),
scored AS (
  SELECT q.query_id, c.neighbor_id,
         {_DOT.format(a='c.vec', b='q.qvec')}
           / ({_NORM.format(a='c.vec')} * {_NORM.format(a='q.qvec')}) AS cos_raw
  FROM c JOIN q ON c.bucket = q.bucket AND c.neighbor_id <> q.query_id
)
SELECT query_id, neighbor_id, ROUND(cos_raw, 6) AS cosine, rank FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id ASC) AS INT) AS rank
  FROM scored
) t WHERE rank <= 3
"""


@register(
    "x_similarity_ann_lsh",
    oracle=ANN_ORACLE,
    doc="Hyperplane-LSH approximate top-3: 4 shared hyperplanes (taken "
    "deterministically from the dataset) -> 16 sign buckets -> bucketed "
    "equi-join instead of a cross product. The 100 TB scale path for "
    "similarity search.",
)
def x_similarity_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    hp_rows = (
        emb.filter(F.col("vec_id") < 4)
        .orderBy("vec_id")
        .select(F.col("embedding").cast("array<double>").alias("h"))
        .collect()
    )
    hyperplanes = [list(r["h"]) for r in hp_rows]
    queries = emb.filter((F.col("vec_id") >= 5) & (F.col("vec_id") < 10))
    out = hyperplane_lsh_topk(
        emb, queries, hyperplanes, id_col="vec_id", vec_col="embedding", k=3
    )
    return out.withColumn("rank", F.col("rank").cast("int"))


MULTIPROBE_ORACLE = f"""
WITH hp AS (
  SELECT vec_id AS hid, embedding::DOUBLE[] AS h FROM embeddings WHERE vec_id < 4
),
vecs AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
dots AS (
  SELECT v.vec_id, hp.hid, {_DOT.format(a='v.vec', b='hp.h')} AS d
  FROM vecs v, hp
),
buck AS (
  SELECT vec_id,
         CAST(SUM(CASE WHEN d >= 0 THEN CAST(2 AS BIGINT) ** hid ELSE 0 END) AS INT)
           AS bucket
  FROM dots GROUP BY vec_id
),
c AS (
  SELECT v.vec_id AS neighbor_id, v.vec, b.bucket
  FROM vecs v JOIN buck b ON b.vec_id = v.vec_id
),
q AS (
  SELECT v.vec_id AS query_id, v.vec AS qvec, u.pb AS bucket
  FROM vecs v
  JOIN buck b ON b.vec_id = v.vec_id,
  UNNEST([b.bucket, xor(b.bucket, 1), xor(b.bucket, 2)]) u(pb)
  WHERE v.vec_id >= 5 AND v.vec_id < 10
),
scored AS (
  SELECT q.query_id, c.neighbor_id,
         {_DOT.format(a='c.vec', b='q.qvec')}
           / ({_NORM.format(a='c.vec')} * {_NORM.format(a='q.qvec')}) AS cos_raw
  FROM c JOIN q ON c.bucket = q.bucket AND c.neighbor_id <> q.query_id
)
SELECT query_id, neighbor_id, ROUND(cos_raw, 6) AS cosine, rank FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id ASC) AS INT) AS rank
  FROM scored
) t WHERE rank <= 3
"""


@register(
    "x_similarity_ann_multiprobe",
    oracle=MULTIPROBE_ORACLE,
    doc="Multi-probe hyperplane-LSH top-3: each query probes its own "
    "sign bucket plus the two nearest 1-bit-flip buckets (probes=3). "
    "Single-bucket probing is the recall ceiling x_lsh_eval measures; a "
    "near-miss neighbor sits just across one hyperplane, so flipping "
    "one sign bit recovers it — probe fan-out lands on the tiny query "
    "side only, the corpus is never exploded. "
    "blspark/ext/similarity.py:probe_sequence.",
)
def x_similarity_ann_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    hp_rows = (
        emb.filter(F.col("vec_id") < 4)
        .orderBy("vec_id")
        .select(F.col("embedding").cast("array<double>").alias("h"))
        .collect()
    )
    hyperplanes = [list(r["h"]) for r in hp_rows]
    queries = emb.filter((F.col("vec_id") >= 5) & (F.col("vec_id") < 10))
    out = hyperplane_lsh_topk(
        emb, queries, hyperplanes, id_col="vec_id", vec_col="embedding",
        k=3, probes=3,
    )
    return out.withColumn("rank", F.col("rank").cast("int"))


HYBRID_ORACLE = f"""
WITH tok AS (
  SELECT doc_id AS id, string_split(text, ' ') AS t FROM documents
),
sh AS (
  SELECT DISTINCT id, shingle FROM (
    SELECT id,
           unnest(list_transform(range(len(t) - 2),
                  i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])) AS shingle
    FROM tok WHERE len(t) >= 3
  ) raw
),
rare AS (
  SELECT shingle FROM (
    SELECT shingle, COUNT(*) AS df FROM sh GROUP BY shingle
  ) t WHERE df <= 20
),
rt AS (SELECT sh.id, sh.shingle FROM sh JOIN rare USING (shingle)),
cands AS (
  SELECT DISTINCT q.id AS query_id, c.id AS neighbor_id
  FROM rt q JOIN rt c ON q.shingle = c.shingle AND q.id <> c.id
  WHERE q.id < 5
),
emb AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
scored AS (
  SELECT cands.query_id, cands.neighbor_id,
         {_DOT.format(a='ce.vec', b='qe.vec')}
           / ({_NORM.format(a='ce.vec')} * {_NORM.format(a='qe.vec')}) AS cos_raw
  FROM cands
  JOIN emb qe ON qe.vec_id = cands.query_id
  JOIN emb ce ON ce.vec_id = cands.neighbor_id
)
SELECT query_id, neighbor_id, ROUND(cos_raw, 6) AS cosine, rank FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id ASC) AS INT) AS rank
  FROM scored
) t WHERE rank <= 5
"""


@register(
    "x_retrieval_hybrid",
    oracle=HYBRID_ORACLE,
    doc="Two-stage hybrid retrieval (query-by-example, 5 query docs): "
    "stage 1 recalls candidates LEXICALLY — docs sharing a selective "
    "3-word shingle (df <= 20) with the query, an inverted-index join "
    "that never touches embeddings — and stage 2 reranks only those "
    "candidates by exact embedding cosine. The standard "
    "recall-then-rerank shape: dense scoring cost scales with "
    "|candidates|, not |corpus| (vs the brute-force "
    "x_similarity_cosine_topk cross product); the df cap is the same "
    "stopword-fanout lever as n-gram Jaccard's max_doc_freq.",
)
def x_retrieval_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sh = word_shingles(docs, "doc_id", "text", n=3)
    rare = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("df_"))
        .filter(F.col("df_") <= 20)
        .select("shingle")
    )
    rt = sh.join(rare, "shingle")
    q = rt.filter(F.col("id") < 5).alias("q")
    c = rt.alias("c")
    cands = (
        q.join(
            c,
            (F.col("q.shingle") == F.col("c.shingle"))
            & (F.col("q.id") != F.col("c.id")),
        )
        .select(
            F.col("q.id").alias("query_id"), F.col("c.id").alias("neighbor_id")
        )
        .distinct()
    )
    from blspark.ext.similarity import _cos, _norm, with_double_vec

    emb = with_double_vec(
        load_table(spark, sf_dir, "embeddings"), "embedding"
    ).select("vec_id", "vec", _norm(F.col("vec")).alias("nrm"))
    qe = emb.select(
        F.col("vec_id").alias("query_id"),
        F.col("vec").alias("qvec"),
        F.col("nrm").alias("qnorm"),
    )
    ce = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("vec").alias("cvec"),
        F.col("nrm").alias("cnorm"),
    )
    scored = (
        cands.join(qe, "query_id")
        .join(ce, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            _cos("cvec", "qvec", "cnorm", "qnorm").alias("cos_raw"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_raw"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 5)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cos_raw", 6).alias("cosine"),
            "rank",
        )
    )


# planted semantic near-dups: every 5th vector gets a copy (id+10000,
# same label) with coordinate 0 shifted by +0.01 — cosine with its
# original lands near 1.0 while random within-label pairs top out ~0.48
# on this data, so a 0.9 threshold separates cleanly with no
# boundary-ulp risk. (A scaled copy would be useless: scaling leaves
# cosine exactly 1 but also tests nothing about near-duplicates.)
SEMDEDUP_CORPUS_SQL = """
  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
  UNION ALL
  SELECT vec_id + 10000 AS vec_id, label,
         list_concat([embedding[1]::DOUBLE + CAST(0.01 AS DOUBLE)],
                     (embedding::DOUBLE[])[2:]) AS v
  FROM embeddings WHERE vec_id % 5 = 0
"""

SEMDEDUP_ORACLE = f"""
WITH RECURSIVE corpus AS ({SEMDEDUP_CORPUS_SQL}),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM corpus a JOIN corpus b ON a.label = b.label AND a.vec_id < b.vec_id
  WHERE {_DOT.format(a='a.v', b='b.v')}
          / ({_NORM.format(a='a.v')} * {_NORM.format(a='b.v')})
        >= CAST(0.9 AS DOUBLE)
),
sym AS (SELECT id_a AS a, id_b AS b FROM pairs
        UNION ALL SELECT id_b, id_a FROM pairs),
reach(node, r) AS (
  SELECT vec_id, vec_id FROM corpus
  UNION
  SELECT reach.node, s.b FROM reach JOIN sym s ON s.a = reach.r
),
comp AS (SELECT node, MIN(r) AS component FROM reach GROUP BY node)
SELECT node, component, node = component AS survivor FROM comp
"""


@register(
    "x_dedup_semantic",
    oracle=SEMDEDUP_ORACLE,
    doc="Semantic dedup (SemDeDup shape): embedding near-duplicates "
    "removed CLUSTER-LOCALLY — pairs are scored only within a cell "
    "(here the label assignment; x_kmeans_clusters is the learned "
    "path), so the quadratic term is bounded by cell size instead of "
    "corpus size — the lever that makes embedding dedup feasible at "
    "100 TB. cosine >= 0.9 pairs (zero-norm guarded: a zero vector "
    "pairs with nothing) -> connected components (star contraction) "
    "-> min-id survivor per cluster. Returns (node, component, "
    "survivor) for every corpus vector.",
)
def x_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blspark.ext.dedup import connected_components
    from blspark.ext.similarity import _cos, _norm, with_double_vec

    emb = with_double_vec(
        load_table(spark, sf_dir, "embeddings"), "embedding"
    ).select("vec_id", "label", "vec")
    planted = emb.filter(F.col("vec_id") % 5 == 0).select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        "label",
        F.concat(
            F.array(F.element_at(F.col("vec"), 1) + F.lit(0.01)),
            F.slice(F.col("vec"), 2, F.size(F.col("vec")) - 1),
        ).alias("vec"),
    )
    corpus = emb.unionByName(planted)
    sized = corpus.select(
        "vec_id", "label", "vec", _norm(F.col("vec")).alias("nrm")
    )
    a = sized.alias("a")
    b = sized.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .filter(_cos("a.vec", "b.vec", "a.nrm", "b.nrm") >= F.lit(0.9))
        .select(
            F.col("a.vec_id").alias("id_a"), F.col("b.vec_id").alias("id_b")
        )
    )
    comps = connected_components(
        pairs, corpus.select("vec_id"), id_col="vec_id"
    )
    return comps.select(
        "node",
        "component",
        (F.col("node") == F.col("component")).alias("survivor"),
    )


@register(
    "x_embed_label_centroids",
    oracle="""
    SELECT label, CAST(t.i AS INT) AS pos,
           ROUND(AVG(embedding[t.i + 1]::DOUBLE), 6) AS mean_val
    FROM embeddings, range(0, 64) t(i)
    GROUP BY label, t.i
    """,
    doc="Elementwise per-label centroid (vector aggregation via "
    "posexplode + groupBy(label, pos)) — the building block for "
    "IVF-style coarse quantization.",
)
def x_embed_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select(
            "label", F.posexplode(F.col("embedding").cast("array<double>"))
        )
        .groupBy("label", F.col("pos").cast("int").alias("pos"))
        .agg(F.round(F.avg("col"), 6).alias("mean_val"))
    )


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------


@register(
    "x_text_token_stats",
    oracle="""
    SELECT doc_id AS id,
           CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
           CAST(length(text) AS INT) AS n_chars,
           (length(text) - len(string_split(text, ' ')) + 1)
             / len(string_split(text, ' ')) AS avg_token_len
    FROM documents
    """,
    doc="Whitespace token counting + chars-per-token (BPE proxy). Pure "
    "codegen expressions in the scan stage.",
)
def x_text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_stats(load_table(spark, sf_dir, "documents"), "doc_id", "text")


@register(
    "x_text_quality",
    oracle="""
    WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents)
    SELECT doc_id AS id,
           CAST(len(toks) AS INT) AS n_tokens,
           len(list_filter(toks,
               x -> list_contains(['the','a','of','and'], x))) / len(toks)
             AS stopword_ratio,
           len(list_distinct(toks)) / len(toks) AS distinct_ratio,
           (LEAST(len(toks) / 100.0, 1.0)
            + len(list_distinct(toks)) / len(toks)) / 2.0 AS quality
    FROM t
    """,
    doc="Quality scoring: stopword ratio, repetition (distinct-token "
    "ratio), bounded length score -> composite in [0,1].",
)
def x_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_score(load_table(spark, sf_dir, "documents"), "doc_id", "text")


@register(
    "x_text_langid",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    s AS (
      SELECT doc_id,
             len(list_filter(toks, x -> list_contains(['the','a','value','row'], x)))
               AS s_en,
             len(list_filter(toks, x -> list_contains(['data','filter','sort'], x)))
               AS s_es,
             len(list_filter(toks, x -> list_contains(['window','merge','batch'], x)))
               AS s_zh
      FROM t
    ),
    fold AS (
      SELECT doc_id, s_en, s_es, s_zh,
             CASE WHEN s_es > s_en THEN 'es' ELSE 'en' END AS l1,
             CASE WHEN s_es > s_en THEN s_es ELSE s_en END AS v1
      FROM s
    )
    SELECT doc_id AS id,
           CASE WHEN s_zh > v1 THEN 'zh' ELSE l1 END AS pred_lang,
           CAST(CASE WHEN s_zh > v1 THEN s_zh ELSE v1 END AS INT) AS best_score
    FROM fold
    """,
    doc="Marker-token language ID: per-language scores -> sequential "
    "argmax fold with stable (first-wins) tie-break.",
)
def x_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lang_id(load_table(spark, sf_dir, "documents"), "doc_id", "text")


@register(
    "x_text_fingerprint",
    oracle="""
    SELECT doc_id AS id,
           md5(trim(regexp_replace(
                 regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                 ' +', ' ', 'g'))) AS fp
    FROM documents
    """,
    doc="Canonical-form document fingerprint (lower/strip/collapse + MD5) "
    "— formatting-insensitive exact dedup key.",
)
def x_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fingerprint(load_table(spark, sf_dir, "documents"), "doc_id", "text")


# ---------------------------------------------------------------------------
# multimodal
# ---------------------------------------------------------------------------


EMBED_DUP_ORACLE = f"""
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS vec,
         {_NORM.format(a='embedding::DOUBLE[]')} AS nrm
  FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       {_DOT.format(a='a.vec', b='b.vec')} / (a.nrm * b.nrm) AS cosine
FROM v a JOIN v b ON a.vec_id < b.vec_id
WHERE {_DOT.format(a='a.vec', b='b.vec')} / (a.nrm * b.nrm) >= 0.5
"""


@register(
    "x_dedup_embedding_cosine",
    oracle=EMBED_DUP_ORACLE,
    doc="Embedding-cosine near-dup pairs (cosine >= 0.5 over all pairs). "
    "The semantic-dedup baseline: brute-force self-join here; at 100 TB "
    "route through the LSH/IVF bucketing (x_similarity_ann_lsh / "
    "x_similarity_ivf) so only bucket-mates are compared.",
)
def x_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blspark.ext.similarity import _cos, _norm, with_double_vec

    emb = with_double_vec(load_table(spark, sf_dir, "embeddings"), "embedding")
    v = emb.select("vec_id", "vec", _norm(F.col("vec")).alias("nrm"))
    a = v.select(
        F.col("vec_id").alias("id_a"), F.col("vec").alias("va"), F.col("nrm").alias("na")
    )
    b = v.select(
        F.col("vec_id").alias("id_b"), F.col("vec").alias("vb"), F.col("nrm").alias("nb")
    )
    # a zero vector scores -inf (no ANSI 0/0 abort); the filter drops it
    cos = _cos("va", "vb", "na", "nb")
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= 0.5)
    )


@register(
    "x_array_functions",
    oracle="""
    SELECT vec_id,
           len(embedding) AS dim,
           embedding[1]::DOUBLE AS first_val,
           list_sort(embedding[1:3]::DOUBLE[])[1] AS min3,
           list_sort(embedding[1:3]::DOUBLE[])[3] AS max3,
           list_contains(list_transform(embedding::DOUBLE[], x -> x > 0), true)
             AS any_positive,
           len(list_filter(embedding::DOUBLE[], x -> x > 0)) AS n_positive
    FROM embeddings WHERE vec_id < 50
    """,
    doc="Array-column surface: size/index/slice/sort/exists/filter over "
    "array<float> — all higher-order functions, zero UDFs.",
)
def x_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    vec = F.col("embedding").cast("array<double>")
    # scalar outputs only: raw array columns stringify differently across
    # result-materialization layers (numpy vs list), so project the
    # sorted slice down to element scalars
    first3 = F.sort_array(F.slice(vec, 1, 3))
    return emb.filter(F.col("vec_id") < 50).select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.element_at(vec, 1).alias("first_val"),
        F.element_at(first3, 1).alias("min3"),
        F.element_at(first3, 3).alias("max3"),
        F.exists(vec, lambda x: x > 0).alias("any_positive"),
        F.size(F.filter(vec, lambda x: x > 0)).alias("n_positive"),
    )


@register(
    "x_map_from_json",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
           len(json_keys(props)) AS n_keys
    FROM events WHERE event_id < 1000
    """,
    doc="Semi-structured access: JSON string -> typed map "
    "(from_json(MapType)) with key extraction and cardinality — the "
    "props-column pattern for event payloads.",
)
def x_map_from_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T

    ev = load_table(spark, sf_dir, "events")
    m = F.from_json("props", T.MapType(T.StringType(), T.LongType()))
    return ev.filter(F.col("event_id") < 1000).select(
        "event_id",
        F.element_at(m, "k").alias("k"),
        F.size(F.map_keys(m)).alias("n_keys"),
    )


@register(
    "x_similarity_ivf",
    oracle="""
    SELECT 5 AS n_queries, 25 AS n_results,
           TRUE AS ranks_ok, TRUE AS recall_ok
    """,
    doc="IVF ANN: per-label centroids as coarse cells (label_centroids), "
    "corpus bucketed by nearest cell, queries probe nprobe=2 cells — "
    "the learned-cell counterpart of x_similarity_ann_lsh. The learned "
    "centroid means are float-order-dependent, so the registered form "
    "hashes a deterministic CONTRACT row instead of raw neighbors "
    "(the x_hll_partial_merge device): every query returns exactly k "
    "dense-ranked results, and mean recall@5 vs the exact brute-force "
    "top-5 (computed in-plan via cosine_topk) beats the nprobe/|cells| "
    "= 0.2 chance level with margin (threshold 0.25; measured 0.36 at "
    "sf0.01, 0.44 at sf0.1 — label cells are coarse, which is the "
    "point: the contract proves the cell routing carries signal). "
    "Raw neighbor rows: ext.similarity.ivf_topk + the fully "
    "hash-checked deterministic-cell twin x_similarity_ivf_checked; "
    "tests/test_ivf.py proves full-probe == exact brute force.",
)
def x_similarity_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blspark.ext.similarity import cosine_topk, ivf_topk, label_centroids

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    cents = label_centroids(emb).withColumn("cell_id", F.col("cell_id").cast("int"))
    ivf = ivf_topk(emb, queries, cents, k=5, nprobe=2)
    exact = cosine_topk(emb, queries, k=5).select("query_id", "neighbor_id")
    per_q = (
        ivf.join(
            exact.withColumn("hit", F.lit(1)), ["query_id", "neighbor_id"], "left"
        )
        .groupBy("query_id")
        .agg(
            F.count("*").alias("n"),
            F.max("rank").alias("max_rank"),
            F.sum(F.coalesce("hit", F.lit(0))).alias("n_hits"),
        )
    )
    return per_q.agg(
        F.count("*").cast("int").alias("n_queries"),
        F.sum("n").cast("int").alias("n_results"),
        F.bool_and((F.col("n") == 5) & (F.col("max_rank") == 5)).alias("ranks_ok"),
        (F.avg(F.col("n_hits") / F.lit(5.0)) >= 0.25).alias("recall_ok"),
    )


@register(
    "x_text_ngram_freq",
    oracle="""
    WITH grams AS (
      SELECT lang,
             unnest(list_transform(range(length(text) - 2),
                    i -> substring(text, CAST(i + 1 AS INT), 3))) AS gram
      FROM documents
    )
    SELECT lang, gram, COUNT(*) AS n
    FROM grams
    GROUP BY lang, gram
    HAVING COUNT(*) >= 100
    """,
    doc="Character 3-gram frequency profile per language (HAVING-filtered)"
    " — the statistical underpinning of n-gram language ID; explode is "
    "map-side, one hash agg on (lang, gram).",
)
def x_text_ngram_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # substring's shifting start position needs the SQL lambda form
    # (F.substring takes plain ints for pos/len)
    return (
        docs.select(
            "lang",
            F.explode(
                F.expr(
                    "transform(sequence(0, length(text) - 3),"
                    " i -> substring(text, i + 1, 3))"
                )
            ).alias("gram"),
        )
        .groupBy("lang", "gram")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= 100)
    )


@register(
    "x_kmeans_clusters",
    oracle="""
    SELECT COUNT(*) AS n_assigned, TRUE AS coverage_ok,
           TRUE AS k_ok, TRUE AS inertia_monotone
    FROM embeddings
    """,
    doc="Lloyd's k-means over the embedding column (3 iterations, k=4): "
    "broadcast centroids, JVM-side assignment, posexplode centroid "
    "recompute — one shuffle per iteration; the training loop behind "
    "IVF cells. Learned float means are order-dependent, so the "
    "registered form hashes a deterministic CONTRACT row: every vector "
    "assigned exactly once, ALL k clusters non-empty, and the Lloyd's "
    "invariant (inertia monotone non-increasing across iterations). "
    "Raw assignments: ext.clustering.kmeans + the fully hash-checked "
    "x_kmeans_checked twin; tests/test_kmeans.py adds planted-cluster "
    "recovery.",
)
def x_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blspark.ext.clustering import kmeans

    emb = load_table(spark, sf_dir, "embeddings")
    assigned, history = kmeans(emb, k=4, max_iters=3)
    monotone = all(
        b <= a * (1.0 + 1e-9) for a, b in zip(history, history[1:])
    )
    return assigned.agg(
        F.count("*").alias("n_assigned"),
        (F.count_distinct("id") == F.count("*")).alias("coverage_ok"),
        # ALL k clusters non-empty — between(1, k) would be vacuously
        # true for any assignment (ids come from a k-way argmin), so it
        # could never catch a collapsed-centroid regression; == k can
        # (holds for the deterministic first-k init at every test SF)
        (F.count_distinct("cluster") == 4).alias("k_ok"),
        F.lit(bool(monotone)).alias("inertia_monotone"),
    )


@register(
    "x_multimodal_metadata",
    oracle="""
    SELECT doc_id AS id,
           'image' AS modality,
           CAST(octet_length(text::BLOB) AS INT) AS n_bytes,
           md5(text) AS content_md5
    FROM documents
    """,
    doc="Opaque-binary ingest shape: (id, content binary, modality, "
    "n_bytes) + content digest. The SQL-checkable half of the "
    "multimodal path; decode plumbing is x_multimodal_decode.",
)
def x_multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    media = attach_binary(docs, "text", modality="image")
    return media.select(
        "id",
        "modality",
        F.col("n_bytes").cast("int").alias("n_bytes"),
        F.md5("content").alias("content_md5"),
    )


@register(
    "x_multimodal_decode",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(octet_length(text::BLOB)) AS BIGINT) AS total_bytes,
           TRUE AS dims_ok, TRUE AS sha1_ok
    FROM documents
    """,
    doc="Arrow-batched mapInPandas decode/feature-extract over binary "
    "media columns (stubbed decoder — see blspark.ext.multimodal). "
    "Blobs never shuffle; only compact features leave the stage. The "
    "sha1-derived pseudo-dims are not SQL-replayable (DuckDB has no "
    "sha1), so the registered form hashes a deterministic CONTRACT "
    "row: decode ran over every document, byte counts survived the "
    "Arrow round-trip exactly, and every decoded dim/digest is in "
    "bounds. Raw per-row features: ext.multimodal.decode_features + "
    "the fully hash-checked sha256 twin x_multimodal_decode_checked.",
)
def x_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    media = attach_binary(docs, "text", modality="image")
    dec = decode_features(media)
    return dec.agg(
        F.count("*").alias("n_rows"),
        F.sum("n_bytes").alias("total_bytes"),
        F.bool_and(
            F.col("width").between(16, 255)
            & F.col("height").between(16, 255)
            & F.col("n_channels").between(1, 4)
        ).alias("dims_ok"),
        F.bool_and(F.length("sha1") == 40).alias("sha1_ok"),
    )


# ---------------------------------------------------------------------------
# dedup components / deterministic splits / custom UDAF
# ---------------------------------------------------------------------------

COMPONENTS_ORACLE = f"""
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
reach(node, r) AS (
  SELECT doc_id, doc_id FROM corpus
  UNION
  SELECT reach.node, s.b FROM reach JOIN sym s ON s.a = reach.r
)
SELECT node, MIN(r) AS component FROM reach GROUP BY node
"""


@register(
    "x_dedup_components_star",
    oracle=COMPONENTS_ORACLE,
    doc="Same query as x_dedup_components, kept under the name it had "
    "while the star contraction was a second components operator next "
    "to min-label propagation; both names now run the one operator "
    "(blspark.ext.dedup.connected_components).",
)
@register(
    "x_dedup_components",
    oracle=COMPONENTS_ORACLE,
    doc="Duplicate-cluster extraction: exact-Jaccard near-dup pairs "
    "(>= 0.6) grouped into connected components "
    "(blspark.ext.dedup.connected_components: alternating "
    "large-star/small-star contraction, O(log n) rounds even on "
    "adversarially long chains, run until the edge set is stable); "
    "every corpus doc gets a component id (its cluster's min doc_id), "
    "singletons included. Per round: two window-keyed star steps, one "
    "checkpoint that also counts the edges. Oracle: DuckDB "
    "recursive-CTE transitive closure.",
)
def x_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blspark.ext.dedup import connected_components, jaccard_pairs

    corpus = _corpus(spark, sf_dir)
    sh = word_shingles(corpus, "doc_id", "text", n=3)
    pairs = jaccard_pairs(sh, min_jaccard=0.6).select("id_a", "id_b")
    nodes = corpus.select("doc_id")
    return connected_components(pairs, nodes, id_col="doc_id")


# md5-derived 24-bit hash of the doc id (reuses the shingle hex-nibble
# arithmetic) -> deterministic, engine-portable bucket in [0, 100)
SPLIT_BUCKET_SQL = f"({SHINGLE_V_SQL}) % 100"


@register(
    "x_sample_split",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h FROM documents
    )
    SELECT doc_id,
           CAST({SPLIT_BUCKET_SQL} AS INT) AS bucket,
           CASE WHEN {SPLIT_BUCKET_SQL} < 80 THEN 'train'
                WHEN {SPLIT_BUCKET_SQL} < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM h
    """,
    doc="Deterministic train/val/test split (80/10/10) by hashed id: "
    "bucket = md5(doc_id)-derived 24-bit int mod 100. Pure map-side "
    "expression — no shuffle, no RNG, stable across runs/engines/"
    "partitionings; the same mechanism stratifies or samples (filter "
    "bucket < pct) at any scale.",
)
def x_sample_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    h = docs.select(
        "doc_id", F.md5(F.col("doc_id").cast("string").cast("binary")).alias("h")
    )
    bucket = F.expr(SPLIT_BUCKET_SQL)
    return h.select(
        "doc_id",
        bucket.cast("int").alias("bucket"),
        F.when(bucket < 80, F.lit("train"))
        .when(bucket < 90, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


@register(
    "x_udaf_weighted_stats",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,4))
                    * CAST(l_quantity AS BIGINT)) AS DOUBLE)
             / CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE)
             AS weighted_avg_price
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="Custom UDAF via applyInPandas: per-group quantity-weighted mean "
    "price, computed with exact int64 arithmetic inside Arrow batches "
    "(price scaled to 1e-4 ticks) so the result is partition-order "
    "independent and bit-equal to the decimal-sum SQL oracle. The "
    "pattern for aggregations Catalyst can't express (t-digests, "
    "per-group model fits): groupBy -> Arrow batch -> numpy.",
)
def x_udaf_weighted_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_quantity", "l_extendedprice"
    )

    def agg(pdf: pd.DataFrame) -> pd.DataFrame:
        qty = pdf["l_quantity"].to_numpy(dtype=np.int64)
        ticks = np.rint(pdf["l_extendedprice"].to_numpy() * 10000).astype(np.int64)
        sum_pq = int((ticks * qty).sum())  # exact: < 2^63
        sum_q = int(qty.sum())
        # float(sum_pq)/10000 mirrors CAST(DECIMAL(,4) AS DOUBLE); both
        # round the same exact rational to nearest double
        wavg = (float(sum_pq) / 10000.0) / float(sum_q)
        return pd.DataFrame(
            {
                "l_returnflag": [pdf["l_returnflag"].iloc[0]],
                "n_rows": [len(pdf)],
                "total_qty": [sum_q],
                "weighted_avg_price": [wavg],
            }
        )

    return li.groupBy("l_returnflag").applyInPandas(
        agg,
        schema="l_returnflag string, n_rows bigint, total_qty bigint, "
        "weighted_avg_price double",
    )


@register(
    "x_text_normalize",
    oracle="""
    SELECT doc_id,
           TRIM(REGEXP_REPLACE(
             REGEXP_REPLACE(LOWER(text), '[^a-z0-9 ]', '', 'g'),
             ' +', ' ', 'g')) AS norm_text,
           CAST(len(string_split(TRIM(REGEXP_REPLACE(
             REGEXP_REPLACE(LOWER(text), '[^a-z0-9 ]', '', 'g'),
             ' +', ' ', 'g')), ' ')) AS BIGINT) AS n_tokens
    FROM documents
    """,
    doc="LLM-ingest text normalization: lowercase, strip non-alnum, "
    "collapse runs of spaces, trim — plus post-normalization token "
    "count. Pure Catalyst expressions compiled into the scan (zero "
    "shuffle); the regexes are shared-subset RE2/Java so both engines "
    "agree byte-for-byte.",
)
def x_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""),
            " +",
            " ",
        )
    )
    return docs.select(
        "doc_id",
        norm.alias("norm_text"),
        F.size(F.split(norm, " ")).cast("bigint").alias("n_tokens"),
    )


@register(
    "x_pack_sequences",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang,
             len(string_split(text, ' ')) AS n_tokens
      FROM documents
    ), packed AS (
      SELECT doc_id, lang, n_tokens,
             SUM(n_tokens) OVER (
               PARTITION BY lang ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum
      FROM toks
    )
    SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST((cum - n_tokens) // 2048 AS BIGINT) AS seq_id,
           CAST((cum - n_tokens) % 2048 AS BIGINT) AS seq_offset
    FROM packed
    """,
    doc="Training-sequence packing: per-language running token offsets "
    "(window cumsum ordered by doc_id) bucket documents into 2048-token "
    "sequences with in-sequence offsets — the distributed version of "
    "greedy context-window packing. Partitioned by lang, so every window "
    "is shard-local; no global sort, no single-partition funnel.",
)
def x_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "lang", F.size(F.split("text", " ")).alias("n_tokens")
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = toks.withColumn("cum", F.sum("n_tokens").over(w))
    start = F.col("cum") - F.col("n_tokens")
    return packed.select(
        "doc_id",
        "lang",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.expr("(cum - n_tokens) div 2048").alias("seq_id"),
        (start % 2048).cast("bigint").alias("seq_offset"),
    )


@register(
    "x_skew_salted_join",
    oracle=f"""
    SELECT o.o_orderpriority,
           {o_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
           COUNT(*) AS n_rows
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderpriority
    """,
    doc="Skew-mitigating salted equi-join (ext/skew.salted_join): the "
    "probe side gets a deterministic xxhash64 row salt, the build side "
    "replicates once per salt, and the join key becomes (orderkey, "
    "salt) — splitting any hot key across num_salts reducers. The "
    "oracle is the PLAIN join + aggregate: salting must be "
    "result-invariant, which is exactly what the hash check proves.",
)
def x_skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blspark.ext.skew import salted_join

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    joined = salted_join(li, orders, "l_orderkey", "o_orderkey", num_salts=8)
    return joined.groupBy("o_orderpriority").agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        F.count("*").alias("n_rows"),
    )


@register(
    "x_embed_quantize",
    oracle="""
    WITH v AS (
      SELECT vec_id,
             embedding,
             list_max(list_transform(embedding,
                      x -> abs(CAST(x AS DOUBLE)))) AS maxabs
      FROM embeddings
    )
    SELECT vec_id,
           CAST(t.i AS INT) AS pos,
           CAST(FLOOR(CAST(embedding[t.i + 1] AS DOUBLE)
                      * (127.0 / maxabs) + 0.5) AS INT) AS qval
    FROM v, range(0, 64) t(i)
    WHERE maxabs > 0
    """,
    doc="Symmetric int8 embedding quantization (4x storage/bandwidth "
    "cut for ANN at 100 TB): per-vector scale = 127/max|x|, element "
    "q = floor(x*scale + 0.5). Pure JVM expressions (array_max + "
    "transform + posexplode), zero shuffle, codegen into the scan. "
    "floor(x+0.5) instead of round(): half-even vs half-up rounding "
    "differs between engines, floor is bit-deterministic in IEEE "
    "double. float->double casts are exact, so both engines compute "
    "identical ints.",
)
def x_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    emb = emb.withColumn(
        "maxabs", F.array_max(F.transform("v", lambda x: F.abs(x)))
    ).filter(F.col("maxabs") > 0)
    scale = F.lit(127.0) / F.col("maxabs")
    return emb.select(
        "vec_id",
        F.posexplode("v").alias("pos", "x"),
        scale.alias("_scale"),
    ).select(
        "vec_id",
        F.col("pos").cast("int").alias("pos"),
        F.floor(F.col("x") * F.col("_scale") + F.lit(0.5)).cast("int").alias("qval"),
    )
