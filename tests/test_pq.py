"""Product-quantization family (ext/similarity.py pq_*): encode
coverage, exactness on separable data, and ADC recall vs exact search
on the real embeddings table."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from blspark.ext.similarity import (
    pq_adc_topk,
    pq_encode,
    pq_subvectors,
    pq_train_codebooks,
)

SF = "/root/testdata/sf0.001"


def _vecs(spark):
    return (
        spark.read.parquet(f"{SF}/embeddings.parquet")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("vec"))
    )


def test_pq_encode_coverage_and_code_range(spark):
    vecs = _vecs(spark)
    n = vecs.count()
    cb = pq_train_codebooks(vecs, 8, 8, 4)
    codes = pq_encode(vecs, cb, 8, 8)
    assert codes.count() == n * 8  # every vector encoded in every subspace
    stats = codes.agg(
        F.min("code").alias("lo"),
        F.max("code").alias("hi"),
        F.count_distinct("vec_id").alias("nv"),
    ).first()
    assert 0 <= stats["lo"] and stats["hi"] < 4
    assert stats["nv"] == n


def test_pq_exact_on_separable_data(spark):
    """When every subvector IS one of the codeword patterns, one Lloyd
    round recovers the patterns exactly (means of identical vectors)
    and ADC reproduces the exact inner product."""
    # dim 8 = 2 subspaces x 4; per subspace, two patterns A/B
    pa = [1.0, 0.0, 2.0, 0.0]
    pb = [0.0, 3.0, 0.0, 1.0]
    rows = []
    for i in range(12):
        left = pa if i % 2 == 0 else pb
        right = pa if i % 3 == 0 else pb
        rows.append((i, left + right))
    df = spark.createDataFrame(rows, "vec_id long, vec array<double>")
    cb = pq_train_codebooks(df, 2, 4, 2)
    codes = pq_encode(df, cb, 2, 4)
    queries = df.filter(F.col("vec_id") < 2)
    got = {
        (r["query_id"], r["neighbor_id"]): r["score"]
        for r in pq_adc_topk(codes, queries, cb, 2, 4, k=11).collect()
    }

    def dot(a, b):
        return sum(x * y for x, y in zip(a, b))

    by_id = dict(rows)
    for (q, n), score in got.items():
        assert score == pytest.approx(dot(by_id[q], by_id[n]), abs=1e-6)


def test_pq_adc_recall_beats_chance(spark):
    """ADC top-3 by approximate inner product recalls far more of the
    exact inner-product top-3 than random guessing. The synthetic
    embeddings are near-uniform (no planted cluster structure), so
    absolute recall with 4 codewords/subspace is modest by design —
    the assertion is chance-relative: a random top-3 would hit
    3/(N-1) ~ 0.6% per slot; require >= 10x that (measured ~13%,
    i.e. ~22x chance at sf0.001; recall grows with codebook size:
    4->7->8 hits of 30 at ks=4/8/16)."""
    vecs = _vecs(spark)
    cb = pq_train_codebooks(vecs, 8, 8, 4)
    codes = pq_encode(vecs, cb, 8, 8)
    queries = vecs.filter(F.col("vec_id") < 10)
    approx = pq_adc_topk(codes, queries, cb, 8, 8, k=3)

    data = {r["vec_id"]: r["vec"] for r in vecs.collect()}
    hits = total = 0
    got = [(r["query_id"], r["neighbor_id"]) for r in approx.collect()]
    for q in range(10):
        dots = sorted(
            (
                (sum(x * y for x, y in zip(data[q], v)), -i, i)
                for i, v in data.items()
                if i != q
            ),
            reverse=True,
        )
        exact3 = {i for _, _, i in dots[:3]}
        hits += sum(1 for qq, nn in got if qq == q and nn in exact3)
        total += 3
    assert total == 30
    chance = 3.0 / (len(data) - 1)
    assert hits / total >= 10 * chance


def test_ivfpq_full_probe_equals_plain_adc(spark):
    """With nprobe == |cells| the IVF restriction is vacuous: IVF-PQ
    must return exactly the plain-ADC result on the same codes —
    proving the cell bookkeeping prunes candidates and nothing else."""
    from blspark.ext.similarity import (
        ivfpq_build_index,
        ivfpq_query,
        label_centroids,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    vecs = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    cents = label_centroids(emb).select(
        F.col("cell_id").cast("int").alias("cell_id"), "centroid"
    )
    n_cells = cents.count()
    cb = pq_train_codebooks(vecs, 8, 8, 4)
    codes = pq_encode(vecs, cb, 8, 8)
    queries = vecs.filter(F.col("vec_id") < 5)

    full = ivfpq_query(
        ivfpq_build_index(vecs, cents, cb, 8, 8), queries, cents, cb, 8, 8,
        k=3, nprobe=n_cells,
    )
    plain = pq_adc_topk(codes, queries, cb, 8, 8, k=3)
    got = {tuple(r) for r in full.collect()}
    want = {tuple(r) for r in plain.collect()}
    assert got == want


def test_ivfpq_probed_results_subset_of_probed_cells(spark):
    """Every IVF-PQ neighbor at nprobe=1 must live in its query's
    single probed cell (the pruning is real, not cosmetic)."""
    from blspark.ext.similarity import (
        ivfpq_build_index,
        ivfpq_query,
        label_centroids,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    vecs = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    cents = label_centroids(emb).select(
        F.col("cell_id").cast("int").alias("cell_id"), "centroid"
    )
    cb = pq_train_codebooks(vecs, 8, 8, 4)
    queries = vecs.filter(F.col("vec_id") < 5)
    out = ivfpq_query(
        ivfpq_build_index(vecs, cents, cb, 8, 8), queries, cents, cb, 8, 8,
        k=3, nprobe=1,
    )

    # reconstruct each vector's cell by brute force in the test
    import math

    cvs = {r["cell_id"]: r["centroid"] for r in cents.collect()}
    data = {r["vec_id"]: r["vec"] for r in vecs.collect()}

    def cell_of(v):
        def cos(a, b):
            d = sum(x * y for x, y in zip(a, b))
            na = math.sqrt(sum(x * x for x in a))
            nb = math.sqrt(sum(x * x for x in b))
            return d / (na * nb)

        return max(sorted(cvs), key=lambda c: (cos(v, cvs[c]), -c))

    for r in out.collect():
        assert cell_of(data[r["neighbor_id"]]) == cell_of(data[r["query_id"]])


def test_pq_rerank_full_shortlist_equals_exact(spark):
    """With shortlist >= corpus size the ADC stage excludes nothing, so
    the exact re-rank must reproduce brute-force cosine_topk verbatim
    (ids, cosines, ranks)."""
    from blspark.ext.similarity import cosine_topk, pq_rerank_topk

    vecs = _vecs(spark)
    n = vecs.count()
    cb = pq_train_codebooks(vecs, 8, 8, 4)
    codes = pq_encode(vecs, cb, 8, 8)
    queries = vecs.filter(F.col("vec_id") < 5)

    got = {
        tuple(r)
        for r in pq_rerank_topk(
            vecs, codes, queries, cb, 8, 8, k=3, shortlist=n
        ).collect()
    }
    want = {
        tuple(r)
        for r in cosine_topk(
            vecs, queries, id_col="vec_id", vec_col="vec", k=3
        ).collect()
    }
    assert got == want


def test_pq_rerank_improves_or_matches_adc_order(spark):
    """The re-ranked top-k's exact cosines are >= the cosines of the
    plain ADC top-k (re-ranking can only improve the exact-metric
    quality of what the shortlist already contains)."""
    vecs = _vecs(spark)
    data = {r["vec_id"]: r["vec"] for r in vecs.collect()}
    cb = pq_train_codebooks(vecs, 8, 8, 4)
    codes = pq_encode(vecs, cb, 8, 8)
    queries = vecs.filter(F.col("vec_id") < 5)

    from blspark.ext.similarity import pq_rerank_topk

    rr = pq_rerank_topk(vecs, codes, queries, cb, 8, 8, k=3, shortlist=12)
    adc = pq_adc_topk(codes, queries, cb, 8, 8, k=3)

    import math

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / (
            math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b))
        )

    def mean_cos(rows):
        per_q = {}
        for r in rows:
            per_q.setdefault(r["query_id"], []).append(
                cos(data[r["query_id"]], data[r["neighbor_id"]])
            )
        return {q: sum(v) / len(v) for q, v in per_q.items()}

    m_rr = mean_cos(rr.collect())
    m_adc = mean_cos(adc.collect())
    for q in m_adc:
        assert m_rr[q] >= m_adc[q] - 1e-12


def test_pq_subvectors_slices(spark):
    df = spark.createDataFrame(
        [(0, [float(i) for i in range(8)])], "vec_id long, vec array<double>"
    )
    got = {
        r["m"]: r["sv"] for r in pq_subvectors(df, 2, 4).collect()
    }
    assert got[0] == [0.0, 1.0, 2.0, 3.0]
    assert got[1] == [4.0, 5.0, 6.0, 7.0]


def test_boilerplate_strip_planted(spark):
    """Planted boilerplate: a 2-word banner present in most of a
    source's docs is stripped; unique content and a below-threshold
    source survive untouched."""
    from blspark.catalog import registry
    import hashlib

    fn = registry()["x_text_boilerplate_strip"].spark_fn
    import tempfile

    rows = []
    # srcA: 10 docs, 8 share the banner "ad banner" as segments 0
    for i in range(10):
        banner = "ad banner " if i < 8 else "xx yy "
        rows.append((i, banner + f"unique{i} tail{i}", "en", "srcA", 0))
    # srcB: 3 docs, all share a banner — but 3 < max(3, ceil(.05*3)=1)=3
    # so df==3 DOES meet the absolute floor and strips there too;
    # make it 2 docs so it stays below the floor
    rows = rows + [
        (100 + i, "keep me alone{0} x{0}".format(i), "en", "srcB", 0)
        for i in range(2)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(f"{d}/documents.parquet")
        out = {r["doc_id"]: r for r in fn(spark, d).collect()}

    # srcA: the banner segment (df=8 >= max(3, 1)) is stripped from the
    # 8 docs carrying it; their cleaned text drops segment 0
    for i in range(8):
        r = out[i]
        assert r["n_segments"] == 2 and r["n_kept"] == 1
        cleaned = f"unique{i} tail{i}"
        assert r["cleaned_md5"] == hashlib.md5(cleaned.encode()).hexdigest()
    # the two xx-yy docs keep everything (df=2 < 3)
    for i in (8, 9):
        assert out[i]["n_kept"] == out[i]["n_segments"]
    # the below-threshold source survives untouched: srcB's shared
    # "keep me" segment has df=2 < the absolute floor of 3
    for i in (100, 101):
        assert out[i]["n_kept"] == out[i]["n_segments"] > 0


def test_pq_encode_stateless_matches_aggregate_encode(spark):
    """The stateless per-row encoder (streaming path, inlined codeword
    literals) must produce byte-identical codes to the aggregate-based
    batch encoder for the same frozen codebook."""
    from blspark.ext.similarity import pq_encode_stateless

    vecs = _vecs(spark)
    cb = pq_train_codebooks(vecs, 8, 8, 4)
    cb_rows = [(r["m"], r["code"], list(r["cw"])) for r in cb.collect()]
    batch = {tuple(r) for r in pq_encode(vecs, cb, 8, 8).collect()}
    stateless = {
        tuple(r) for r in pq_encode_stateless(vecs, cb_rows, 8, 8).collect()
    }
    assert batch == stateless


def test_pq_index_layout_partition_prunes(spark, tmp_path):
    """The persisted index layout: codes written partitioned by cell_id
    mean a query probing 2 cells reads ONLY those partitions — the scan
    shows PartitionFilters on cell_id and lists just the probed
    directories. This is the on-disk half of the IVF-PQ scale story."""
    from blspark.ext.similarity import label_centroids

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    vecs = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    cents = label_centroids(emb).select(
        F.col("cell_id").cast("int").alias("cell_id"), "centroid"
    )
    cb = pq_train_codebooks(vecs, 8, 8, 4)

    # build the cell-tagged codes frame the same way ivfpq does, then
    # persist it in the partitioned layout
    from blspark.ext.similarity import _norm, _dot
    from pyspark.sql import Window

    cent = cents.select(
        "cell_id",
        F.col("centroid").cast("array<double>").alias("cvec"),
        _norm(F.col("centroid").cast("array<double>")).alias("centnorm"),
    )
    scored = vecs.withColumn("vnorm", _norm(F.col("vec"))).crossJoin(
        F.broadcast(cent)
    ).select(
        "vec_id", "vec", "cell_id",
        (_dot(F.col("vec"), F.col("cvec"))
         / (F.col("vnorm") * F.col("centnorm"))).alias("sim"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("sim"), F.asc("cell_id"))
    cells = (
        scored.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
        .select("vec_id", "cell_id")
    )
    codes = pq_encode(vecs, cb, 8, 8).join(cells, "vec_id")
    idx_path = str(tmp_path / "pq_index")
    codes.write.partitionBy("cell_id").parquet(idx_path)

    probed = [0, 1]
    scan = spark.read.parquet(idx_path).filter(F.col("cell_id").isin(probed))
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = scan._jdf.queryExecution().explainString(mode)
    assert "PartitionFilters" in plan
    assert "cell_id" in plan.split("PartitionFilters", 1)[1][:200]
    # and the data actually restricts to the probed cells
    got_cells = {r["cell_id"] for r in scan.select("cell_id").distinct().collect()}
    assert got_cells <= set(probed)


def test_pq_small_corpus_and_offset_ids(spark):
    """Degenerate shapes stay sound: a corpus smaller than n_codes
    trains a smaller codebook and still encodes every vector; offset
    id ranges (min id >= n_codes) train correctly — codes are numbered
    by rank, not id value."""
    rows = [(1000 + i, [float(i + j) for j in range(8)]) for i in range(3)]
    df = spark.createDataFrame(rows, "vec_id long, vec array<double>")

    # n_codes=4 > corpus size 3: codebook has <= 3 codes per subspace
    cb = pq_train_codebooks(df, 2, 4, 4)
    per_m = {r["m"] for r in cb.collect()}
    assert per_m == {0, 1}
    codes = pq_encode(df, cb, 2, 4)
    assert codes.count() == 3 * 2  # every vector still encoded everywhere
    got = {r["code"] for r in codes.collect()}
    assert got and all(0 <= c < 3 for c in got)

    # offset ids: seeds come from the 2 lowest ids, codes are 0/1
    cb2 = pq_train_codebooks(df, 2, 4, 2)
    assert {r["code"] for r in cb2.collect()} <= {0, 1}


def test_pq_subvectors_rejects_ragged_vectors(spark):
    """A vector whose length != n_subspaces*subdim must raise a clear
    error, not silently slice short/empty subvectors that drop out of
    downstream argmins (ADVICE r7)."""
    import pytest
    from pyspark.errors import SparkRuntimeException

    from blspark.ext.similarity import pq_subvectors

    bad = spark.createDataFrame(
        [(1, [1.0] * 8), (2, [1.0] * 5)], "vec_id long, vec array<double>"
    )
    with pytest.raises(SparkRuntimeException, match="expected vector length 8"):
        pq_subvectors(bad, 2, 4).collect()
    # the clean subset still slices fine through the same expression
    ok = pq_subvectors(bad.filter("vec_id = 1"), 2, 4).collect()
    assert len(ok) == 2 and all(len(r["sv"]) == 4 for r in ok)


def test_pq_oracles_id_robust_on_offset_ids(spark, tmp_path):
    """The PQ-family ORACLES seed codebooks by rank-of-lowest-ids, not
    id value (VERDICT r7 item 3): on a fixture where the former seed
    ids (0..3) are displaced to the top of the id range, the lowest
    ids become 4..7 and both engines must still agree. The old
    ``WHERE vec_id < 4`` oracle seeding would find NO seeds here and
    silently diverge."""
    import duckdb

    from blspark.catalog import registry
    from tests.conftest import SF_ORACLE
    from tests.test_oracle import _row_multiset

    # Fixture: displace ids < 4 beyond the max id; queries (10..14)
    # and all other ids keep their values, so only SEEDING shifts.
    src = f"{SF_ORACLE}/embeddings.parquet"
    fix = tmp_path / "embeddings.parquet"
    con = duckdb.connect()
    con.execute(
        f"""
        COPY (
          SELECT CASE WHEN vec_id < 4 THEN vec_id + 1000000 ELSE vec_id END
                   AS vec_id,
                 * EXCLUDE (vec_id)
          FROM read_parquet('{src}')
        ) TO '{fix}' (FORMAT PARQUET)
        """
    )
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{fix}')"
    )

    qs = registry()
    for name in (
        "x_similarity_pq_checked",
        "x_similarity_ivfpq_checked",
        "x_similarity_pq_rerank",
    ):
        q = qs[name]
        sdf = q.spark_fn(spark, str(tmp_path))
        srows = [tuple(r) for r in sdf.collect()]
        rel = con.execute(q.oracle)
        dcols = [d[0] for d in rel.description]
        drows = rel.fetchall()
        assert srows, f"{name}: empty result on offset-id fixture"
        assert len(srows) == len(drows), f"{name}: row count mismatch"
        assert _row_multiset(srows, sdf.columns) == _row_multiset(
            drows, dcols
        ), f"{name}: value mismatch on offset-id fixture"


def _clustered_vecs():
    """Planted clustered corpus: 4 cells in dim 16 with strong centers
    (+8 on distinct axes) and small within-cell patterns — the regime
    residual encoding exists for (cells explain the coarse position;
    codewords get to spend the budget on fine structure)."""
    dim, ncell = 16, 4
    centers = [
        [8.0 if d // 4 == c else 0.0 for d in range(dim)] for c in range(ncell)
    ]
    pats = [
        [((j * 7 + d * 3) % 5 - 2) * 0.5 for d in range(dim)] for j in range(5)
    ]
    rows, vid = [], 0
    for c in range(ncell):
        for j in range(10):
            p = pats[j % 5]
            vec = [
                centers[c][d] + p[d] * (1 + 0.1 * ((j * 13 + d) % 3))
                for d in range(dim)
            ]
            rows.append((vid, vec))
            vid += 1
    return rows, centers


def test_ivfpq_residual_beats_raw_on_clustered_data(spark):
    """Residual encoding must recall MORE of the exact top-3 than raw
    IVF-PQ at the SAME codebook budget on clustered data (VERDICT r7
    item 6) — measured 22 vs 10 of 30 here. (On the near-uniform
    synthetic embeddings the margin is inside noise at test scale;
    clusters are where the refinement pays, so that is what the test
    plants.)"""
    from blspark.ext.similarity import (
        ivfpq_build_index,
        ivfpq_query,
        ivfpq_residual_topk,
    )

    rows, centers = _clustered_vecs()
    corpus = spark.createDataFrame(rows, "vec_id long, vec array<double>")
    cents = spark.createDataFrame(
        list(enumerate(centers)), "cell_id int, centroid array<double>"
    )
    queries = corpus.filter(F.col("vec_id") % 4 == 0)
    data = dict(rows)
    qids = [r["vec_id"] for r in queries.collect()]

    cb = pq_train_codebooks(corpus, 2, 8, 4)
    plain = ivfpq_query(
        ivfpq_build_index(corpus, cents, cb, 2, 8), queries, cents, cb, 2, 8,
        k=3, nprobe=1,
    )
    res = ivfpq_residual_topk(corpus, queries, cents, 2, 8, 4, k=3, nprobe=1)

    def exact_top3(q):
        dots = sorted(
            (
                (sum(x * y for x, y in zip(data[q], v)), -i, i)
                for i, v in data.items()
                if i != q
            ),
            reverse=True,
        )
        return {i for _, _, i in dots[:3]}

    def hits(df):
        got = [(r["query_id"], r["neighbor_id"]) for r in df.collect()]
        return sum(
            1 for q in qids for qq, nn in got if qq == q and nn in exact_top3(q)
        )

    h_res, h_plain = hits(res), hits(plain)
    assert h_res >= h_plain, f"residual {h_res} < plain {h_plain}"
    assert h_res >= 18  # pin the measured margin (22/30), with slack


def test_ivfpq_residual_zero_centroid_equals_plain_adc(spark):
    """With a single all-zero centroid the residual IS the raw vector
    and the coarse term dot(q, centroid) is exactly 0.0 — residual
    IVF-PQ must reproduce plain ADC bit-for-bit (the sharp equivalence
    that proves the decomposition adds nothing but the centroid
    term)."""
    from blspark.ext.similarity import ivfpq_residual_topk

    vecs = _vecs(spark)
    cents = spark.createDataFrame(
        [(0, [0.0] * 64)], "cell_id int, centroid array<double>"
    )
    queries = vecs.filter(F.col("vec_id") < 5)
    res = ivfpq_residual_topk(vecs, queries, cents, 8, 8, 4, k=3, nprobe=1)

    cb = pq_train_codebooks(vecs, 8, 8, 4)
    codes = pq_encode(vecs, cb, 8, 8)
    plain = pq_adc_topk(codes, queries, cb, 8, 8, k=3)
    assert {tuple(r) for r in res.collect()} == {
        tuple(r) for r in plain.collect()
    }


def test_sq8_exact_on_lattice_data(spark):
    """Vectors whose elements are exact integer multiples of their own
    scale reconstruct PERFECTLY (code*scale == x), so SQ8 top-k must
    equal the exact inner-product ranking bit-for-bit — the sharp
    no-quantization-error equivalence."""
    from blspark.ext.similarity import sq8_topk

    # elements are k * s with k in [-127, 127] -> scale = 127s/127 = s
    import random

    rng = random.Random(7)
    rows = []
    for i in range(40):
        s = 0.25 * (1 + i % 3)
        vec = [s * rng.randint(-126, 126) for _ in range(15)] + [s * 127.0]
        rows.append((i, vec))
    df = spark.createDataFrame(rows, "vec_id long, vec array<double>")
    queries = df.filter(F.col("vec_id") < 5)
    got = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["score"])
        for r in sq8_topk(df, queries, k=4).collect()
    }
    data = dict(rows)
    for q in range(5):
        dots = sorted(
            (
                (sum(x * y for x, y in zip(data[q], v)), -i, i)
                for i, v in data.items()
                if i != q
            ),
            reverse=True,
        )
        for rank in range(1, 5):
            d, _, i = dots[rank - 1]
            nid, score = got[(q, rank)]
            assert nid == i, (q, rank)
            assert score == pytest.approx(d, abs=1e-6)


def test_sq8_reconstruction_bound_and_zero_vectors(spark):
    """|x - code*scale| <= scale/2 for every element (the defining
    property of round-to-nearest scalar quantization), codes stay in
    [-127, 127], and a zero vector quantizes to all-zero codes with
    scale 0 instead of dividing by zero."""
    from blspark.ext.similarity import sq8_quantize

    vecs = _vecs(spark).limit(50).union(
        spark.createDataFrame(
            [(9999, [0.0] * 64)], "vec_id long, vec array<double>"
        )
    )
    rows = {r["vec_id"]: r for r in sq8_quantize(vecs).collect()}
    data = {r["vec_id"]: r["vec"] for r in vecs.collect()}
    z = rows[9999]
    assert z["scale"] == 0.0 and set(z["qvec"]) == {0}
    for vid, r in rows.items():
        if vid == 9999:
            continue
        s = r["scale"]
        assert s > 0
        for x, c in zip(data[vid], r["qvec"]):
            assert -127 <= c <= 127
            assert abs(x - c * s) <= s / 2 + 1e-12, (vid, x, c)


def test_maxsim_planted_best_token_and_properties(spark):
    """MaxSim semantics pinned on planted data: (1) a document sharing
    ONE strong token with the query outranks a document with several
    weak matches only if its max wins per token — score equals the
    hand-computed sum of per-query-token best dots; (2) every query
    returns exactly k ranked rows excluding itself."""
    from blspark.ext.similarity import maxsim_topk

    # 2 tokens x 2 dims (dim 4 packed). Query tokens: e1, e2.
    def pack(*toks):
        out = []
        for t in toks:
            out += t
        return out

    e1, e2, z = [10.0, 0.0], [0.0, 10.0], [0.0, 0.0]
    rows = [
        (0, pack(e1, e2)),            # the query
        (1, pack(e1, z)),             # strong match on token 1 only
        (2, pack([3.0, 0.0], [0.0, 3.0])),  # moderate on both
        (3, pack(z, [0.0, 7.0])),     # strong on token 2 only
        (4, pack([-5.0, 0.0], z)),    # anti-match
    ]
    df = spark.createDataFrame(rows, "vec_id long, vec array<double>")
    queries = df.filter(F.col("vec_id") == 0)
    got = {
        r["neighbor_id"]: (r["score"], r["rank"])
        for r in maxsim_topk(df, queries, 2, 2, k=4).collect()
    }
    assert 0 not in got  # self excluded

    def dot(a, b):
        return sum(x * y for x, y in zip(a, b))

    data = dict(rows)
    for nid, (score, _rank) in got.items():
        d = data[nid]
        toks = [d[0:2], d[2:4]]
        expect = max(dot(e1, t) for t in toks) + max(dot(e2, t) for t in toks)
        assert score == pytest.approx(expect, abs=1e-6), nid
    # doc1: max(100, 0) + max(0, 0) = 100; doc3: 0 + 70 = 70;
    # doc2: 30 + 30 = 60; doc4: max(-50, 0)=0 + 0 = 0
    assert [n for n, (_s, r) in sorted(got.items(), key=lambda kv: kv[1][1])] \
        == [1, 3, 2, 4]


def test_maxsim_position_invariance_beats_pooled(spark):
    """The property late interaction exists for: a document whose
    matching content sits at the WRONG token position scores ZERO
    under the pooled single-vector dot (position-aligned sum) but wins
    under MaxSim (each query token scans ALL document tokens). The
    pooled ranking and the MaxSim ranking provably disagree here, and
    MaxSim finds the true match."""
    from blspark.ext.similarity import maxsim_topk

    q = [10.0, 0.0, 0.0, 10.0]          # tokens [10,0], [0,10]
    doc_misplaced = [0.0, 12.0, 0.0, 0.0]  # the [0,12] content at slot 1
    doc_allround = [5.0, 5.0, 5.0, 5.0]
    df = spark.createDataFrame(
        [(0, q), (1, doc_misplaced), (2, doc_allround)],
        "vec_id long, vec array<double>",
    )
    queries = df.filter(F.col("vec_id") == 0)
    ms = {
        r["neighbor_id"]: (r["rank"], r["score"])
        for r in maxsim_topk(df, queries, 2, 2, k=2).collect()
    }
    # pooled dots: misplaced = 0 (content at the wrong slot), allround
    # = 100 -> pooled ranks allround first. MaxSim: misplaced = 0 +
    # max(dot([0,10],[0,12]), 0) = 120 > allround = 50 + 50 = 100.
    pooled_mis = sum(a * b for a, b in zip(q, doc_misplaced))
    pooled_all = sum(a * b for a, b in zip(q, doc_allround))
    assert pooled_mis < pooled_all          # pooled gets it wrong
    assert ms[1] == (1, 120.0)              # MaxSim gets it right
    assert ms[2] == (2, 100.0)


def test_maxsim_pruned_full_probe_equals_unpruned(spark):
    """With nprobe == |cells| the IVF restriction is vacuous: pruned
    MaxSim must return exactly the plain MaxSim result — the candidate
    stage prunes and does nothing else. And at nprobe=1, every
    neighbor must live in its query's single probed cell."""
    from blspark.ext.similarity import (
        _cell_assign,
        label_centroids,
        maxsim_pruned_topk,
        maxsim_topk,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    vecs = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    cents = label_centroids(emb).select(
        F.col("cell_id").cast("int").alias("cell_id"), "centroid"
    )
    n_cells = cents.count()
    queries = vecs.filter(F.col("vec_id") < 5)

    full = maxsim_pruned_topk(
        vecs, queries, cents, 8, 8, k=3, nprobe=n_cells
    )
    plain = maxsim_topk(vecs, queries, 8, 8, k=3)
    assert {tuple(r) for r in full.collect()} == {
        tuple(r) for r in plain.collect()
    }

    pruned = maxsim_pruned_topk(vecs, queries, cents, 8, 8, k=3, nprobe=1)
    cells = {
        r["vec_id"]: r["cell_id"]
        for r in _cell_assign(
            vecs, cents, "vec_id", "vec", 1,
        ).select("vec_id", "cell_id").collect()
    }
    for r in pruned.collect():
        assert cells[r["neighbor_id"]] == cells[r["query_id"]], r


def test_ivf_sq8_full_probe_equals_plain_sq8(spark):
    """With nprobe == |cells| the IVF restriction is vacuous: IVF-SQ8
    must return exactly the plain sq8_topk result. And at nprobe=1,
    every neighbor must live in its query's single probed cell."""
    from blspark.ext.similarity import (
        _cell_assign,
        ivf_sq8_topk,
        label_centroids,
        sq8_topk,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    vecs = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    cents = label_centroids(emb).select(
        F.col("cell_id").cast("int").alias("cell_id"), "centroid"
    )
    n_cells = cents.count()
    queries = vecs.filter(F.col("vec_id") < 5)

    full = ivf_sq8_topk(vecs, queries, cents, k=3, nprobe=n_cells)
    plain = sq8_topk(vecs, queries, k=3)
    assert {tuple(r) for r in full.collect()} == {
        tuple(r) for r in plain.collect()
    }

    pruned = ivf_sq8_topk(vecs, queries, cents, k=3, nprobe=1)
    cells = {
        r["vec_id"]: r["cell_id"]
        for r in _cell_assign(
            vecs, cents, "vec_id", "vec", 1,
        ).select("vec_id", "cell_id").collect()
    }
    for r in pruned.collect():
        assert cells[r["neighbor_id"]] == cells[r["query_id"]], r


def test_ragged_subvectors_counts_and_validation(spark):
    """Each row yields exactly its claimed token count, every token is
    the right slice, and a packed vector too short for its claim
    raises instead of silently slicing short/empty tokens."""
    from blspark.ext.similarity import ragged_subvectors

    df = spark.createDataFrame(
        [(1, [float(i) for i in range(8)]), (2, [float(i) for i in range(4)])],
        "vec_id int, vec array<double>",
    )
    ntok = F.when(F.col("vec_id") == 1, 4).otherwise(2)
    rows = ragged_subvectors(df, 2, ntok).collect()
    got = {(r["vec_id"], r["m"]): r["sv"] for r in rows}
    assert len(got) == 6
    assert got[(1, 0)] == [0.0, 1.0] and got[(1, 3)] == [6.0, 7.0]
    assert got[(2, 1)] == [2.0, 3.0]

    import pytest as _pytest

    short = spark.createDataFrame(
        [(9, [1.0, 2.0])], "vec_id int, vec array<double>"
    )
    with _pytest.raises(Exception) as ei:
        ragged_subvectors(short, 2, F.lit(3)).collect()
    assert "too short" in str(ei.value)


def test_ragged_maxsim_matches_fixed_width_special_case(spark):
    """With a CONSTANT token count the ragged path must reproduce
    maxsim_topk exactly (the fixed-width query is the special case of
    the shared maxsim_tokens_topk core), and with genuinely ragged
    counts every score still equals a driver-side brute force."""
    from blspark.ext.similarity import (
        maxsim_tokens_topk,
        maxsim_topk,
        ragged_subvectors,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    vecs = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    queries = vecs.filter(F.col("vec_id") < 3)

    d_tok = ragged_subvectors(vecs, 8, F.lit(8)).select(
        F.col("vec_id").alias("neighbor_id"), "m", "sv"
    )
    q_tok = ragged_subvectors(queries, 8, F.lit(8)).select(
        F.col("vec_id").alias("query_id"),
        F.col("m").alias("qm"),
        F.col("sv").alias("qsv"),
    )
    ragged = maxsim_tokens_topk(d_tok, q_tok, k=3)
    fixed = maxsim_topk(vecs, queries, 8, 8, k=3)
    assert {tuple(r) for r in ragged.collect()} == {
        tuple(r) for r in fixed.collect()
    }

    # genuinely ragged: n_tok = 1 + vec_id % 8, brute-forced driver-side
    ntok = F.col("vec_id") % 8 + 1
    d_r = ragged_subvectors(vecs, 8, ntok).select(
        F.col("vec_id").alias("neighbor_id"), "m", "sv"
    )
    q_r = ragged_subvectors(queries, 8, ntok).select(
        F.col("vec_id").alias("query_id"),
        F.col("m").alias("qm"),
        F.col("sv").alias("qsv"),
    )
    got = maxsim_tokens_topk(d_r, q_r, k=3).collect()

    data = {r["vec_id"]: r["vec"] for r in vecs.collect()}

    def toks(vid):
        n = 1 + vid % 8
        v = data[vid]
        return [v[m * 8 : m * 8 + 8] for m in range(n)]

    def maxsim(qid, did):
        return sum(
            max(sum(a * b for a, b in zip(qt, dt)) for dt in toks(did))
            for qt in toks(qid)
        )

    for r in got:
        want = maxsim(r["query_id"], r["neighbor_id"])
        assert abs(r["score"] - want) < 1e-6, r


def test_pq_train_codebooks_seed_source_equivalence(spark):
    """seed_id_source is a pure optimization: training on a derived
    frame while seeding ids from the cheaper underlying frame (same id
    set) must produce bit-identical codebooks — and therefore identical
    codes — to the default self-seeding path."""
    vecs = _vecs(spark)
    # a derived frame that preserves ids 1:1 (the residual shape)
    derived = vecs.select(
        "vec_id", F.transform("vec", lambda x: x * 2.0).alias("vec")
    )
    cb_self = pq_train_codebooks(derived, 8, 8, 4)
    cb_src = pq_train_codebooks(
        derived, 8, 8, 4, seed_id_source=vecs.select("vec_id")
    )
    assert sorted(map(tuple, cb_self.collect())) == sorted(
        map(tuple, cb_src.collect())
    )


def test_ivfpq_warm_matches_full_pipeline_and_memoizes(spark, monkeypatch):
    """The warm variant must be result-identical to the train-per-run
    IVF-PQ query (same oracle), and its second call must serve the
    index from the memo — no retraining, no re-encode."""
    from blspark.catalog import registry
    from blspark.queries import extensions10 as x10

    reg = registry()
    x10._WARM_IVFPQ_INDEX.clear()
    warm = reg["x_similarity_ivfpq_warm"].spark_fn(spark, SF)
    full = reg["x_similarity_ivfpq_checked"].spark_fn(spark, SF)
    assert sorted(map(tuple, warm.collect())) == sorted(
        map(tuple, full.collect())
    )
    assert any(k[1] == SF for k in x10._WARM_IVFPQ_INDEX)

    # retraining on the second call would blow up here
    import blspark.ext.similarity as sim

    def boom(*a, **k):
        raise AssertionError("warm query retrained the codebooks")

    monkeypatch.setattr(sim, "pq_train_codebooks", boom)
    again = reg["x_similarity_ivfpq_warm"].spark_fn(spark, SF)
    assert sorted(map(tuple, again.collect())) == sorted(
        map(tuple, warm.collect())
    )
    x10._WARM_IVFPQ_INDEX.clear()


def test_round10_eval_contracts_consistent(spark):
    """The three round-10 recall contracts must be internally
    consistent: cardinalities line up, recall_bp is the fixed-point
    ratio, and every pinned floor holds. Runs at SF_ORACLE (sf0.01),
    the scale the fixed 500-vector sample universe is designed for —
    at sf0.001 the universe collapses to ~50 vectors and the 10x-
    chance floor becomes structurally unsatisfiable (10*k/(N-1) >
    100%), which is a property of the floor, not a defect."""
    from blspark.catalog import registry
    from tests.conftest import SF_ORACLE

    reg = registry()
    for name, extra in (
        ("x_sq8_eval", ("recall_hi_ok",)),
        ("x_maxsim_eval", ()),
        ("x_ivf_sq8_eval", ()),
    ):
        r = reg[name].spark_fn(spark, SF_ORACLE).collect()[0]
        assert 0 <= r.n_tp <= min(r.n_pruned if "n_pruned" in r else r.n_sq8,
                                  r.n_truth), name
        assert r.recall_bp == r.n_tp * 10000 // r.n_truth, name
        assert r.recall_ok and r.ranks_ok, name
        for f in extra:
            assert getattr(r, f), (name, f)


def test_ragged_subvectors_zero_tokens_yields_no_rows(spark):
    """n_tokens <= 0 (an empty document) must yield ZERO token rows —
    sequence(0, n-1) with n=0 would otherwise produce the descending
    [0, -1] and fabricate two phantom tokens, one sliced from the END
    of the packed vector."""
    from blspark.ext.similarity import ragged_subvectors

    df = spark.createDataFrame(
        [(1, [float(i) for i in range(8)]), (2, [1.0, 2.0])],
        "vec_id int, vec array<double>",
    )
    ntok = F.when(F.col("vec_id") == 1, 4).otherwise(0)
    rows = ragged_subvectors(df, 2, ntok).collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r["vec_id"], []).append((r["m"], r["sv"]))
    assert sorted(by_id) == [1]          # doc 2 contributes nothing
    assert sorted(m for m, _ in by_id[1]) == [0, 1, 2, 3]
    assert not any(m < 0 for m, _ in by_id[1])
