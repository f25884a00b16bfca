"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard
and containment, prefix-filtered Jaccard joins, connected components.

All deterministic and engine-portable by construction: hashing uses MD5
(identical everywhere) rather than engine-private hash functions, so the
DuckDB oracle can mirror every step.

The set-similarity joins are candidates -> verify over the shingle sets
``(id, shset)`` of ``shingle_sets``, built from four stages, each
written once:
- Overlap (``_overlap``): the inverted-index self-join on shingle with
  id_a < id_b plus both sizes -> (id_a, id_b, n_a, n_b, n_common).
  ``jaccard_pairs`` and ``containment_pairs`` read it (exact, full
  index); at scale ``containment_pairs`` drops ultra-frequent shingles
  before the join, exposed via ``max_doc_freq``.
- Prefix (``_prefix_table`` + ``prefix_candidates``): each document's
  rarest-first prefix, one candidate join with the integer length
  filter. Self form (id_a < id_b inside the join) and base form
  (``base=``: arrivals against a corpus under its frozen token order).
- Verify (``_set_verify``): candidate pairs joined to both shingle sets,
  n_common = the size of the arrays' intersection, map-side. The prefix join and
  ``lsh_verified_candidates`` read it.
- Bucket (``_bucket_pairs``): one bucket self-join (band or block key,
  id_a < id_b) for ``lsh_candidate_pairs`` and ``simhash_hamming_pairs``.

Scale design (100 TB corpora):
- exact dedup: one hash-aggregate shuffle on the content digest; the
  digest (16 bytes) shuffles, never the document body.
- MinHash+LSH: shingling and signatures are embarrassingly parallel;
  the only shuffle is the band-bucket self-join, whose fan-out is
  controlled by band width (wider bands -> fewer, higher-precision
  candidates). Hot buckets are bounded because a full band match already
  implies high similarity; AQE skew-join handles stragglers.
- prefix join: the self-join runs on the prefix tables only, so the
  candidate volume is the PPJoin bound, not the full index's
  sum-of-df^2.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from blspark.ops import checkpoint_rows


def exact_dedup_keys(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup: group by content MD5, keep the smallest id (stable
    winner). Returns (digest, keep_id, n_copies)."""
    return (
        df.select(
            F.md5(F.col(text_col).cast("binary")).alias("digest"), F.col(id_col)
        )
        .groupBy("digest")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("n_copies"),
        )
    )


def shingle_sets(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """Distinct n-word shingles per document as ONE array row:
    (id, shset array<string>). Documents with fewer than ``n`` tokens are
    dropped. Tokenization is a plain single-space split (deterministic,
    oracle-portable).

    The set form lets consumers that need whole-document set operations
    (exact Jaccard verification by array intersection) skip the
    explode/re-aggregate round trip entirely."""
    # Tokenize into a real column first: referencing `split(text)` from
    # inside the shingle lambda would re-split the document for every
    # element access (no common-subexpression elimination across lambda
    # boundaries) — tokenize-once turns that O(tokens²) into O(tokens).
    # Shingles are built by zip_with-folding n shifted slices of the token
    # array rather than transform+element_at over an index sequence: the
    # slices stream sequentially (no per-element positional lookups),
    # measured ~25% faster at sf0.1.
    toks = F.col("_toks")
    # clamped at 0: the >= n filter below drops short docs, but Catalyst
    # may evaluate this projection before the filter (e.g. the
    # ConvertToLocalRelation rule folds projects over local relations
    # eagerly), and slice() throws on negative length
    n_shingles = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    shingle = F.slice(toks, 1, n_shingles)
    for j in range(1, n):
        shifted = F.slice(toks, j + 1, n_shingles)
        shingle = F.zip_with(
            shingle, shifted, lambda x, y: F.concat(x, F.lit(" "), y)
        )
    # per-document set semantics via array_distinct map-side inside
    # codegen — a global .distinct() downstream would shuffle every
    # (id, shingle) pair for nothing, since shingle duplicates only ever
    # occur within one document's row
    return (
        df.select(
            F.col(id_col).alias("id"), F.split(F.col(text_col), " ").alias("_toks")
        )
        .filter(F.size(toks) >= n)
        .select("id", F.array_distinct(shingle).alias("shset"))
    )


def word_shingles(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """Distinct n-word shingles per document, exploded: (id, shingle).
    See ``shingle_sets`` for the array-per-document form."""
    return _explode(shingle_sets(df, id_col, text_col, n))


def positional_ngrams(
    df: DataFrame, id_col: str, text_col: str, n: int = 8
) -> DataFrame:
    """ALL n-word grams per document (positional, duplicates kept — the
    multiset the span-level duplication metrics need, unlike the
    set-semantics ``shingle_sets``), exploded: (id, gram). Documents
    with fewer than ``n`` tokens are dropped. Same slice/zip_with
    construction as ``shingle_sets`` (tokenize once, stream n shifted
    slices), minus the array_distinct."""
    toks = F.col("_toks")
    n_grams = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    gram = F.slice(toks, 1, n_grams)
    for j in range(1, n):
        shifted = F.slice(toks, j + 1, n_grams)
        gram = F.zip_with(gram, shifted, lambda x, y: F.concat(x, F.lit(" "), y))
    return (
        df.select(
            F.col(id_col).alias("id"), F.split(F.col(text_col), " ").alias("_toks")
        )
        .filter(F.size(toks) >= n)
        .select("id", F.explode(gram).alias("gram"))
    )


def duplicated_span_fraction(
    grams: DataFrame, min_doc_freq: int = 2
) -> DataFrame:
    """Per-document duplicated-span fraction over positional n-grams
    (id, gram): the fraction of a document's gram POSITIONS whose gram
    occurs in at least ``min_doc_freq`` documents — the corpus-level
    duplicate-text metric behind exact-substring dedup (span-level,
    where Jaccard is set-level). Returns (id, n_grams, dup_fraction).

    Scale: two partial-aggregatable aggregations (per-(id, gram)
    counts, then per-gram doc frequency) and one join keyed by gram —
    no pairwise work at all, so it runs where the pair-producing dedup
    ops would blow up; integer-ratio division keeps the fraction
    engine-deterministic."""
    per = grams.groupBy("id", "gram").agg(F.count("*").alias("c"))
    dfreq = per.groupBy("gram").agg(F.count("*").alias("df_"))
    return (
        per.join(dfreq, "gram")
        .groupBy("id")
        .agg(
            F.sum("c").alias("n_grams"),
            (
                F.sum(F.when(F.col("df_") >= min_doc_freq, F.col("c")).otherwise(0))
                / F.sum("c")
            ).alias("dup_fraction"),
        )
    )


# Affine-permutation minhash constants: minhash_s = (A[s]*v + B[s]) mod P
# over a 24-bit shingle hash v. One MD5 per shingle (not one per seed) —
# the permutations are integer arithmetic, portable to any SQL engine.
MINHASH_P = 2147483647  # 2^31 - 1
MINHASH_A = [1000003, 1000033, 1000037, 1000039, 1000081, 1000099, 1000117, 1000121]
MINHASH_B = [12345, 54321, 192837, 918273, 555557, 777781, 101111, 131313]

_HEXDIGITS = "0123456789abcdef"


def hex_int_sql(col: str, n_digits: int) -> str:
    """Engine-portable SQL turning the first ``n_digits`` hex nibbles of
    ``col`` into an integer via positional arithmetic — the shared idiom
    behind every md5-derived deterministic value in this repo (shingle
    hashes, split buckets, pseudo-sizes)."""
    return " + ".join(
        f"(instr('{_HEXDIGITS}', substring({col}, {j + 1}, 1)) - 1)"
        f" * {16 ** (n_digits - 1 - j)}"
        for j in range(n_digits)
    )


# first 6 hex nibbles of md5 -> 24-bit integer, in portable SQL arithmetic
SHINGLE_V_SQL = hex_int_sql("h", 6)


def md5_prefix_int(col, n_digits: int):
    """Spark-side twin of ``hex_int_sql(md5(...), n_digits)``: the first
    ``n_digits`` hex nibbles of md5 as an integer. ``col`` is a string
    Column; the md5 is taken over its UTF-8 bytes, matching DuckDB's
    ``md5(varchar)``. The ONE copy of the md5-prefix-to-integer device —
    ``md5_bucket`` (6-nibble entity buckets) and ext/sampling's 48-bit
    weighted keys both route through it, so 'same hash device as X'
    claims stay true by construction."""
    return F.conv(
        F.substring(F.md5(col.cast("binary")), 1, n_digits), 16, 10
    ).cast("long")


def md5_bucket(col, mod: int):
    """Spark-side twin of ``hex_int_sql(md5(...), 6) % mod``: the shared
    deterministic entity-hash bucket (splits, A/B arms, CM sketch rows).
    Keeping every consumer on this one helper is what keeps 'same
    entity-hash device as X' claims true by construction."""
    return md5_prefix_int(col, 6) % mod


def minhash_signatures(shingles: DataFrame, n_hashes: int = 8) -> DataFrame:
    """MinHash signature per document: v = 24-bit MD5-derived shingle
    hash, minhash_s = min((A[s]*v + B[s]) mod P). One MD5 + one
    aggregation pass with n_hashes integer min-aggregates.
    Returns (id, mh0..mh{n-1})."""
    hashed = shingles.withColumn(
        "h", F.md5(F.col("shingle").cast("binary"))
    ).withColumn("v", F.expr(SHINGLE_V_SQL))
    # v must be 64-bit before the multiply: as a 32-bit int, v*A wraps
    # silently with ANSI off (and errors with it on)
    v64 = F.col("v").cast("bigint")
    aggs = [
        F.min((v64 * MINHASH_A[s] + MINHASH_B[s]) % MINHASH_P).alias(f"mh{s}")
        for s in range(n_hashes)
    ]
    return hashed.groupBy("id").agg(*aggs)


# ---------------------------------------------------------------------------
# The set-similarity joins: candidates -> verify, one stage each.
# ---------------------------------------------------------------------------


def _explode(sets: DataFrame) -> DataFrame:
    """A shingle-set frame ``(id, shset)`` as one row per shingle:
    ``(id, shingle)``."""
    return sets.select("id", F.explode("shset").alias("shingle"))


def _overlap(shingles: DataFrame) -> DataFrame:
    """Overlap stage: the inverted-index self-join of an exploded
    ``(id, shingle)`` frame on ``shingle`` with id_a < id_b, counted per
    pair, plus both set sizes: ``(id_a, id_b, n_a, n_b, n_common)`` for
    every pair that shares a shingle (column order aside).

    ``shingles`` is read three times (sizes and both join sides) but
    deliberately NOT persisted: the exploded table is far larger than
    the documents, so re-running its map-side scan is cheaper at scale
    than pinning it, and any exchange below it is deduplicated by
    ReusedExchange because all three readers live in one plan."""
    sizes = shingles.groupBy("id").agg(F.count("*").alias("n_shingles"))
    a = shingles.alias("a")
    b = shingles.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_shingles").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_shingles").alias("n_b"))
    return inter.join(sa, "id_a").join(sb, "id_b")


def _union_n():
    """|A ∪ B| = n_a + n_b - n_common, the Jaccard denominator."""
    return F.col("n_a") + F.col("n_b") - F.col("n_common")


def _prefix_table(
    sets: DataFrame, dfreq: DataFrame, t_num: int, t_den: int, frozen: bool
) -> DataFrame:
    """Prefix stage, one side: each document's first
    |d| - ceil(t|d|) + 1 shingles in the global rarest-first order
    (``dfreq``'s df ASC, shingle ASC), as ``(id, shingle, n)``.
    ``frozen``: ``dfreq`` counts another (base) corpus, so shingles it
    never saw get df = 0, i.e. rank rarest."""
    ranked = _explode(sets).join(dfreq, "shingle", "left" if frozen else "inner")
    if frozen:
        ranked = ranked.withColumn("df", F.coalesce(F.col("df"), F.lit(0)))
    w = Window.partitionBy("id").orderBy(F.asc("df"), F.asc("shingle"))
    plen = (
        F.col("n")
        - F.expr(f"({t_num} * n + {t_den - 1}) div {t_den}")
        + F.lit(1)
    )
    # sizes come map-side from the distinct-shingle sets (r16: one fewer
    # shuffle than a COUNT(*) over the exploded frame, same integers)
    return (
        ranked.join(sets.select("id", F.size("shset").alias("n")), "id")
        .withColumn("pos", F.row_number().over(w))
        .filter(F.col("pos") <= plen)
        .select("id", "shingle", "n")
    )


def _set_verify(cand: DataFrame, sets: DataFrame, base: DataFrame) -> DataFrame:
    """Verify stage: each candidate pair ``(id_a, id_b, ...)`` with its
    two shingle sets (``sha`` from ``sets``, ``shb`` from ``base``) and
    their exact overlap ``n_common`` (the size of the arrays'
    intersection), computed map-side after two joins keyed on the
    candidate ids.

    Optimization r16 (guide §2.3/§8): the older verify attached every
    shingle of id_a to each pair (a |cand| x |doc| explosion), shuffle-
    joined that on (id_b, shingle) and re-aggregated. n_common is the
    same integer (the sets are distinct per document), and a pair with
    an empty intersection shows up in neither shape once thresholded."""
    a = sets.select(F.col("id").alias("id_a"), F.col("shset").alias("sha"))
    b = base.select(F.col("id").alias("id_b"), F.col("shset").alias("shb"))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select(
            *cand.columns,
            "sha",
            "shb",
            F.size(F.array_intersect("sha", "shb")).alias("n_common"),
        )
    )


def _bucket_pairs(
    df: DataFrame, keys: list, cols: tuple[str, ...] = ("id",)
) -> DataFrame:
    """Bucket stage: explode each row of ``df`` into one bucket per key
    (``band_idx`` = the key's index, ``band_key`` = its value) and self-
    join on the bucket with a.id < b.id. Returns the joined frame with
    sides ``a`` / ``b`` carrying ``cols``; the caller projects and
    dedupes (a pair can share several buckets)."""
    buckets = F.array(
        *[
            F.struct(F.lit(i).alias("band_idx"), k.alias("band_key"))
            for i, k in enumerate(keys)
        ]
    )
    banded = df.select(*cols, F.explode(buckets).alias("band")).select(
        *cols, "band.band_idx", "band.band_key"
    )
    a = banded.alias("a")
    b = banded.alias("b")
    return a.join(
        b,
        (F.col("a.band_idx") == F.col("b.band_idx"))
        & (F.col("a.band_key") == F.col("b.band_key"))
        & (F.col("a.id") < F.col("b.id")),
    )


def lsh_candidate_pairs(
    signatures: DataFrame, n_hashes: int = 8, bands: int = 2
) -> DataFrame:
    """Band the signature (rows_per_band = n_hashes / bands), self-join
    per (band_idx, band-key) bucket -> candidate pairs (id_a, id_b),
    id_a < id_b.

    The band key is the raw minhash tuple as a STRUCT, not a digest of
    it: joining on struct equality shuffles 4 bigints instead of
    computing + shuffling an md5 hex string per (doc, band) — measured
    ~25% faster on the candidate stage at sf0.1 with identical pairs out.
    (Oracle twins keep hashing the concatenated minhashes; the band key
    is internal to candidate generation, so only the pair set must
    agree.)"""
    r = n_hashes // bands
    keys = [
        F.struct(*[F.col(f"mh{b * r + j}").alias(f"k{j}") for j in range(r)])
        for b in range(bands)
    ]
    return (
        _bucket_pairs(signatures, keys)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def jaccard_pairs(shingles: DataFrame, min_jaccard: float = 0.0) -> DataFrame:
    """Exact pairwise Jaccard over an exploded ``(id, shingle)`` frame
    via the overlap stage (inverted-index self-join). Returns
    (id_a, id_b, jaccard) with id_a < id_b and jaccard >= min_jaccard.
    The jaccard is one unrounded integer-ratio division (rounding exact
    decimal halves diverges across engines). At scale, prefer
    ``prefix_filter_pairs`` (exact, pruned) or the MinHash path."""
    return (
        _overlap(shingles)
        .select("id_a", "id_b", (F.col("n_common") / _union_n()).alias("jaccard"))
        .filter(F.col("jaccard") >= min_jaccard)
    )


def prefix_candidates(
    sets: DataFrame,
    t_num: int = 3,
    t_den: int = 5,
    base: DataFrame | None = None,
) -> DataFrame:
    """The CANDIDATE stage of ``prefix_filter_pairs`` (split out so the
    eval query can price candidate volume) over shingle-set frames
    ``(id, shset)``: both sides' prefix tables (``_prefix_table``)
    joined on shingle, with the integer length filter
    t*max(n_a, n_b) <= min(n_a, n_b). Returns distinct
    (id_a, id_b, n_a, n_b) — a provable superset of the Jaccard >= t
    pair set (see ``prefix_filter_pairs``).

    Self form (``base`` None): the rarest-first order counts df over
    ``sets`` and pairs have id_a < id_b, pruned inside the prefix self-
    join, before the distinct. Base form: id_a runs over ``sets`` (the
    arrivals), id_b over ``base``, and the order is FROZEN on the base
    side (df over ``base`` only; arrival tokens the base never saw get
    df = 0)."""
    # Two measured results pin WHERE this operator's input is
    # materialized; do not retry or undo either.
    # - REJECTED (r17): an eager localCheckpoint of the prefix table
    #   HERE. Catalyst plans the ranking subtree (df aggregation,
    #   sizes, per-document window) once per self-join side, but the
    #   checkpoint A/B-measured +17.9% median against a FAVORABLE
    #   −8..−14% sentinel drift (3 stash-flipped pairs): the serial
    #   materialization job plus the lost scan->join pipelining cost
    #   more than the recompute, the direction the r16 graph family
    #   measured for its blocked path's edge list.
    # - KEPT: one eager localCheckpoint of the caller's shingle SETS,
    #   upstream of the df pass (extensions16._shingled). That is the
    #   subtree every consumer recomputed: x_dedup_prefix_join's final
    #   plan scanned the parquet 9 times and evaluated the split/
    #   zip_with shingle expression ~26 times over 17 jobs; now 0 scans
    #   and 0 shingle evaluations outside the one materialization job,
    #   10 jobs, and the perfbench ``queries`` workload's warm CPU fell
    #   36-49% (medians 11.7 -> 6.0 s and 19.0 -> 12.2 s in two sets of
    #   10 interleaved pairs, better in every pair, shared 4-vCPU VM).
    frozen = base is not None
    dfreq = (
        _explode(base if frozen else sets)
        .groupBy("shingle")
        .agg(F.count("*").alias("df"))
    )
    pa = _prefix_table(sets, dfreq, t_num, t_den, frozen)
    pb = _prefix_table(base, dfreq, t_num, t_den, frozen) if frozen else pa
    pairs = pa.select(
        F.col("id").alias("id_a"), "shingle", F.col("n").alias("n_a")
    ).join(
        pb.select(F.col("id").alias("id_b"), "shingle", F.col("n").alias("n_b")),
        "shingle",
    )
    if not frozen:
        pairs = pairs.filter(F.col("id_a") < F.col("id_b"))
    return (
        pairs.filter(
            F.lit(t_den) * F.least("n_a", "n_b")
            >= F.lit(t_num) * F.greatest("n_a", "n_b")
        )
        .select("id_a", "id_b", "n_a", "n_b")
        .distinct()
    )


def prefix_filter_pairs(
    sets: DataFrame,
    t_num: int = 3,
    t_den: int = 5,
    base: DataFrame | None = None,
) -> DataFrame:
    """EXACT Jaccard-threshold similarity join via prefix filtering over
    shingle-set frames ``(id, shset)`` — the AllPairs/PPJoin candidate-
    generation bound (Bayardo et al. WWW'07; Chaudhuri et al. ICDE'06;
    Xiao et al. WWW'08) expressed declaratively. Returns every pair with
    Jaccard >= t_num/t_den: (id_a, id_b, n_a, n_b, n_common, jaccard) —
    the same result set as ``jaccard_pairs(min_jaccard=t)``, at a
    fraction of the candidate volume and with NO approximation (unlike
    MinHash banding, which trades recall for pruning).

    Self form (``base`` None): pairs within ``sets``, id_a < id_b.
    Base form: every (arrival, base) pair, id_a from ``sets`` and id_b
    from ``base`` — the incremental join, where arrivals are joined
    against an indexed corpus without re-pairing the corpus with itself.
    Its token order is FROZEN on the base side (see
    ``prefix_candidates``), the production shape where the index stores
    its prefixes and df snapshot once; the theorem needs only one
    consistent total order on both sides, so exactness is unaffected
    (a stale order only shifts which tokens land in prefixes, i.e.
    candidate volume drifts with vocabulary; the snapshot rebuilds on
    the refresh cadence).

    The bound: order every document's shingles by a global total order
    (ascending document frequency, shingle string tie-break — rarest
    first, so prefixes land on the least-shared tokens) and keep only
    the first |d| - ceil(t*|d|) + 1 as its PREFIX. If J(a,b) >= t then
    the overlap o >= ceil(t*max(|a|,|b|)) =: alpha, and the alpha-th
    largest common token (global order) has at most alpha-1 larger
    elements within EACH set, i.e. it sits inside both prefixes — so
    joining prefixes on shingle loses no qualifying pair. A length
    filter (t*|b| <= |a| for |a| <= |b|, in exact integer cross-
    multiplication) prunes further; survivors are verified EXACTLY
    (``_set_verify``), so precision is structural and recall is the
    theorem's.

    All threshold math is integer (ceil(t*n) = (t_num*n + t_den - 1)
    div t_den; the verify is t_den*o >= t_num*(n_a + n_b - o)), so no
    float compare can diverge across engines; the output jaccard is
    one exact integer-ratio IEEE division.

    Scale shape (100 TB): one extra pass for document frequencies and
    one per-document window to rank shingles (both shuffle 16-byte-ish
    tokens, never text); the self-join runs on the PREFIX table only —
    candidate volume is sum over tokens of (prefix-df choose 2), and
    rarest-first ordering pushes prefix mass onto low-df tokens, which
    is what turns the full index's sum-of-df^2 blowup into the PPJoin
    bound. Verification touches candidate pairs only. This is the
    exact-join path of the dedup grid; when the threshold drops or the
    corpus is adversarially self-similar, fall back to the LSH
    pipeline (approximate) or raise the threshold."""
    cand = prefix_candidates(sets, t_num, t_den, base)
    return (
        _set_verify(cand, sets, sets if base is None else base)
        .filter(F.lit(t_den) * F.col("n_common") >= F.lit(t_num) * _union_n())
        .select(
            "id_a",
            "id_b",
            "n_a",
            "n_b",
            "n_common",
            (F.col("n_common") / _union_n()).alias("jaccard"),
        )
    )


def containment_pairs(
    shingles: DataFrame,
    min_containment: float = 0.0,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact pairwise n-gram CONTAINMENT via the overlap stage
    (inverted-index self-join) — the asymmetric near-dup measure
    Jaccard structurally misses: a short document quoted whole inside a
    much longer one has containment |A∩B| / min(|A|, |B|) ~ 1 while its
    Jaccard |A∩B| / |A∪B| is tiny (bounded by the size ratio), so a
    Jaccard-thresholded dedup (MinHash/LSH included — banding
    approximates Jaccard) never pairs them. Containment is the
    standard detector for quote/aggregator/boilerplate-wrapped
    subsets (Broder's original resemblance/containment pair). LSH is
    deliberately NOT the candidate stage here: a banding scheme tuned
    for Jaccard drops exactly the asymmetric pairs this operator exists
    to find.

    Returns (id_a, id_b, containment, jaccard) with id_a < id_b and
    containment >= min_containment — jaccard rides along so a consumer
    can classify pair type (high-containment/low-jaccard = subset;
    both high = near-identical). Integer-ratio division, unrounded
    (the cross-engine determinism convention).

    Scale lever: ``max_doc_freq`` drops shingles appearing in more than
    that many documents before the join (stopword shingles otherwise
    blow the per-shingle pairing up quadratically). PRUNED-SET
    SEMANTICS: document sizes are counted AFTER the prune, so both
    denominators are over the PRUNED shingle sets — a heavily pruned
    pair can score higher containment than its true-set value (the
    pruned shingles it shared no longer dilute min(|A|,|B|)). This is
    the standard stopword-removal reading (score the distinctive
    content) and keeps the operator one-shuffle; callers that need
    true-set denominators must compute sizes before the prune. The
    registered oracle query passes no ``max_doc_freq``, so its scores
    are true-set exact."""
    sh = shingles
    if max_doc_freq is not None:
        freq = sh.groupBy("shingle").agg(F.count("*").alias("df_"))
        sh = sh.join(
            freq.filter(F.col("df_") <= max_doc_freq).select("shingle"),
            "shingle",
        )
    return (
        _overlap(sh)
        .select(
            "id_a",
            "id_b",
            (F.col("n_common") / F.least("n_a", "n_b")).alias("containment"),
            (F.col("n_common") / _union_n()).alias("jaccard"),
        )
        .filter(F.col("containment") >= min_containment)
    )


def simhash16(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """16-bit SimHash over distinct whitespace tokens: token hash = first
    16 bits of md5 (hex chars via positional arithmetic — portable to any
    SQL engine); bit b of the simhash is the sign of the per-bit ±1 sum.
    Returns (id, simhash)."""
    tokens = (
        df.select(
            F.col(id_col).alias("id"),
            F.explode(F.split(F.col(text_col), " ")).alias("tok"),
        )
        .distinct()
        .withColumn("h", F.md5(F.col("tok").cast("binary")))
        .withColumn(
            "v",
            F.expr(
                "(instr('0123456789abcdef', substr(h,1,1)) - 1) * 4096"
                " + (instr('0123456789abcdef', substr(h,2,1)) - 1) * 256"
                " + (instr('0123456789abcdef', substr(h,3,1)) - 1) * 16"
                " + (instr('0123456789abcdef', substr(h,4,1)) - 1)"
            ),
        )
    )
    bit_sums = tokens.groupBy("id").agg(
        *[
            F.sum(
                F.when((F.col("v") / (2**b)).cast("long") % 2 == 1, 1).otherwise(-1)
            ).alias(f"s{b}")
            for b in range(16)
        ]
    )
    simhash = None
    for b in range(16):
        term = F.when(F.col(f"s{b}") > 0, F.lit(2**b)).otherwise(F.lit(0))
        simhash = term if simhash is None else simhash + term
    return bit_sums.select("id", simhash.cast("long").alias("simhash"))


def simhash64(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash over distinct whitespace tokens, as two 32-bit
    halves ``(id, sh_hi, sh_lo)`` — packing all 64 bits into one BIGINT
    would need bit 63, which overflows signed 64-bit arithmetic under
    ANSI mode (the driver session runs ANSI on). Token hash = first 16
    hex nibbles of md5 split 8/8 into hi/lo 32-bit values via positional
    arithmetic (portable to any SQL engine); bit b of each half is the
    sign of the per-bit ±1 sum over tokens.

    The 16-bit ``simhash16`` saturates at ~thousands of documents
    (birthday bound on 65536 values); 64 bits is the corpus-scale width.
    One tokenize + one 64-aggregate pass; no pairwise work."""
    # the nibble must widen to BIGINT before the multiply: at 16^7 the
    # product exceeds INT32 and errors under ANSI mode
    nib = "CAST(instr('0123456789abcdef', substr(h,{p},1)) - 1 AS BIGINT)"
    hi_expr = " + ".join(
        f"{nib.format(p=j + 1)} * {16 ** (7 - j)}" for j in range(8)
    )
    lo_expr = " + ".join(
        f"{nib.format(p=j + 9)} * {16 ** (7 - j)}" for j in range(8)
    )
    tokens = (
        df.select(
            F.col(id_col).alias("id"),
            F.explode(F.split(F.col(text_col), " ")).alias("tok"),
        )
        .distinct()
        .withColumn("h", F.md5(F.col("tok").cast("binary")))
        .withColumn("v_hi", F.expr(f"CAST({hi_expr} AS BIGINT)"))
        .withColumn("v_lo", F.expr(f"CAST({lo_expr} AS BIGINT)"))
    )
    aggs = []
    for half in ("hi", "lo"):
        for b in range(32):
            aggs.append(
                F.sum(
                    F.when(F.expr(f"(v_{half} div {2 ** b}) % 2 = 1"), 1).otherwise(-1)
                ).alias(f"s_{half}{b}")
            )
    bit_sums = tokens.groupBy("id").agg(*aggs)
    packed = {}
    for half in ("hi", "lo"):
        acc = None
        for b in range(32):
            term = F.when(F.col(f"s_{half}{b}") > 0, F.lit(2**b)).otherwise(F.lit(0))
            acc = term if acc is None else acc + term
        packed[half] = acc.cast("long")
    return bit_sums.select(
        "id", packed["hi"].alias("sh_hi"), packed["lo"].alias("sh_lo")
    )


def simhash_hamming_pairs(
    fingerprints: DataFrame, max_hamming: int = 3
) -> DataFrame:
    """Near-duplicate candidate pairs from 64-bit SimHash fingerprints
    ``(id, sh_hi, sh_lo)`` with Hamming distance <= ``max_hamming``
    (default 3), WITHOUT an all-pairs join: split the 64 bits into 4
    16-bit blocks — by pigeonhole, any pair within Hamming 3 agrees
    exactly on at least one block — and self-join per block bucket
    (``_bucket_pairs``: block index, block value), then verify the exact distance with
    xor + bit_count on the two halves. Returns (id_a, id_b, hamming),
    id_a < id_b.

    Scale: the bucket join shuffles (id, 2 bigints) per block, never
    text; random 16-bit blocks collide at ~n²/2^16 per block, so the
    candidate set stays near-linear until n ~ 10^5 per partition-able
    bucket domain — and AQE skew-join splits any pathological bucket.
    For max_hamming > 3, widen to (max_hamming + 1) narrower blocks —
    enforced below, because with 4 blocks a pair differing in 4+ bits
    can straddle every block and would be SILENTLY dropped."""
    if max_hamming > 3:
        raise ValueError(
            f"max_hamming={max_hamming} exceeds the 4x16-bit block "
            "scheme's pigeonhole guarantee (<= 3); use more, narrower "
            "blocks for larger radii"
        )
    blocks = [
        F.expr(f"sh_{h} {op} 65536") for h in ("hi", "lo") for op in ("div", "%")
    ]
    ham = F.bit_count(
        F.col("a.sh_hi").bitwiseXOR(F.col("b.sh_hi"))
    ) + F.bit_count(F.col("a.sh_lo").bitwiseXOR(F.col("b.sh_lo")))
    return (
        _bucket_pairs(fingerprints, blocks, ("id", "sh_hi", "sh_lo"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def _star_round(e: DataFrame, large: bool, dedup: bool = True) -> DataFrame:
    """One large-star (``large=True``) or small-star round over a
    directed edge frame ``(u, v)`` viewed as an undirected graph.

    For each node u with neighborhood G(u) and m = min(G(u) + {u}):
    large-star emits (v, m) for v in G(u), v > u (strictly larger
    neighbors hook onto the local minimum); small-star emits (v, m) for
    v in G(u), v < u plus (u, m) (the node and its smaller neighbors
    collapse onto it). Self-loops are dropped; ``dedup`` dedupes the
    output (the caller's large-star half passes False — its output
    feeds straight into the small-star round, whose min/window is
    duplicate-insensitive and whose own final distinct dedupes, so a
    mid-round distinct would only add an exchange; r16 removed the
    symmetrized frame's distinct on the same argument)."""
    sym = e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    # per-u minimum as a WINDOW over the symmetrized frame
    # (optimization r17, guide §2.4): the old groupBy(u).min + join
    # back on u exchanged BOTH the aggregate and the sym frame (two
    # exchanges + a sort-merge join per star round); a min() window
    # partitioned by u clusters sym once — one exchange — and attaches
    # the identical per-u minimum to every row.
    m = F.least(
        F.min("v").over(Window.partitionBy("u")), F.col("u")
    ).alias("m")
    j = sym.select("u", "v", m)
    if large:
        out = j.filter(F.col("v") > F.col("u")).select(
            F.col("v").alias("u"), F.col("m").alias("v")
        )
    else:
        hooked = j.filter(F.col("v") < F.col("u")).select(
            F.col("v").alias("u"), F.col("m").alias("v")
        )
        # no mid-branch distinct on the self-edges (optimization r17):
        # the final distinct below already dedupes, and HashAggregate's
        # map-side partial pass collapses duplicates before the
        # exchange anyway — the explicit distinct only added a full
        # extra exchange per small-star round.
        self_edge = j.select("u", F.col("m").alias("v"))
        out = hooked.unionByName(self_edge)
    out = out.filter(F.col("u") != F.col("v"))
    return out.distinct() if dedup else out


def connected_components(
    edges: DataFrame,
    nodes: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    id_col: str = "id",
) -> DataFrame:
    """Connected components over an undirected edge list by alternating
    large-star/small-star contraction (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC 2014). Returns (node,
    component) for EVERY node in ``nodes``: the component label is the
    smallest id connected to the node, and a node with no edge labels
    itself. Ids may be any orderable type (doc ids, names).

    This is the "dedup groups" operator: feed it near-duplicate pairs
    (MinHash/LSH, exact-Jaccard, cosine) and each component is one
    duplicate cluster, whose canonical representative (min id) falls
    out directly.

    Each round (one large-star then one small-star ``_star_round``)
    shrinks the depth of every tree: large-star hooks strictly larger
    neighbors onto the local minimum, small-star collapses the rest. At
    the fixpoint the edge set is a star per component centered at its
    minimum id, so labels read off directly. Rounds needed are
    O(log n), observed ceil(log2 n) + 2 at most, even on adversarially
    long chains (a 256-node chain reaches its fixpoint in 8 rounds),
    where label propagation needs as many rounds as the diameter.

    The loop runs until the edge set is stable, so the result is exact
    whatever the round count. Every round's edge set is checkpointed
    (iterative self-joins otherwise double the logical plan each round)
    and counted by that same checkpoint job (``ops.checkpoint_rows``).
    Both sets are distinct, so equal counts plus an empty one-sided
    ``left_anti`` is set equality; rounds that change the count — nearly
    all contracting rounds — skip the anti-join. The driver never sees
    data, only one count per round. The round cap, O(log^2 n) in the
    edge count, only guards against a logic bug looping forever:
    hitting it raises rather than returning wrong labels."""
    e, rows = checkpoint_rows(
        edges.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    cap = (rows.bit_length() + 2) ** 2
    for _ in range(cap):
        nxt, nxt_rows = checkpoint_rows(
            _star_round(_star_round(e, large=True, dedup=False), large=False)
        )
        if nxt_rows == rows and nxt.join(e, ["u", "v"], "left_anti").isEmpty():
            break
        e, rows = nxt, nxt_rows
    else:
        raise RuntimeError(
            f"connected_components: no edge-set fixpoint within {cap} rounds"
        )
    centers = e.groupBy("u").agg(F.min("v").alias("center"))
    return (
        nodes.select(F.col(id_col).alias("node"))
        .join(centers, F.col("node") == F.col("u"), "left")
        .select(
            "node", F.coalesce(F.col("center"), F.col("node")).alias("component")
        )
    )


def lsh_verified_candidates(
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    n_hashes: int = 8,
    bands: int = 2,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The shared LSH candidate pipeline used by every minhash-family
    operator: shingle sets, minhash signatures, banded candidate pairs,
    and the exact-Jaccard-verified candidate frame.

    Returns ``(arrs, sig, verified)`` where ``verified`` has
    (id_a, id_b, jaccard) for every candidate pair, unthresholded.
    ``sig`` and ``verified`` come back PERSISTED AND MATERIALIZED —
    both are compact (id + n_hashes ints; the band-bounded pair list),
    and because Spark's cache manager keys entries by canonical plan,
    a repeated invocation (bench best-of-N, oracle sweeps) hits the
    warm entries without touching the shingle stage at all. The
    exploded-shingle cache — the only frame whose size grows with
    corpus bytes — is released before returning, so the signature
    stage runs exactly once per cold invocation and nothing
    corpus-sized stays pinned for the session lifetime however often
    a sweep invokes an operator. ``arrs`` (returned unpersisted, lazy)
    recomputes from the corpus scan if a caller still needs the raw
    shingle sets."""
    arrs = shingle_sets(corpus, id_col, text_col, n=n).persist()
    sig = minhash_signatures(_explode(arrs), n_hashes=n_hashes).persist()
    cand = lsh_candidate_pairs(sig, n_hashes=n_hashes, bands=bands)
    n_common = F.col("n_common")
    jac = n_common / (F.size("sha") + F.size("shb") - n_common)
    verified = (
        _set_verify(cand, arrs, arrs)
        .select("id_a", "id_b", jac.alias("jaccard"))
        .persist()
    )
    verified.count()  # materialize sig + verified while arrs is cached
    arrs.unpersist(blocking=False)
    return arrs, sig, verified


def survivor_best(
    comp: DataFrame, quality: DataFrame, node_col: str = "node"
) -> DataFrame:
    """Quality-aware dedup survivor per component: argmax by
    (quality, -node) — max(struct(...)) double hash-agg, partial-
    aggregatable, no window over the corpus. ``comp`` is
    (node, component); ``quality`` is (node, quality). Returns
    (component, survivor_id, best_quality, n_members)."""
    best = (
        comp.join(quality, node_col)
        .groupBy("component")
        .agg(
            F.max(
                F.struct(
                    F.col("quality"), (-F.col(node_col)).alias("neg_id")
                )
            ).alias("s"),
            F.count("*").alias("n_members"),
        )
    )
    return best.select(
        "component",
        (-F.col("s.neg_id")).alias("survivor_id"),
        F.col("s.quality").alias("best_quality"),
        "n_members",
    )
