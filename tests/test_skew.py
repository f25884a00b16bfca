"""Salted skew-join: result-invariance vs the plain join, left-join null
semantics, and the spread property (a hot key actually fans out over
multiple (key, salt) groups)."""

from __future__ import annotations

from pyspark.sql import functions as F

from blspark.ext.skew import SALT_COL, row_salt, salted_join


def _rows(df, cols):
    return sorted(map(tuple, df.select(*cols).collect()))


def _skewed_frames(spark):
    # probe: key 1 is hot (600 rows), keys 2..20 have 10 rows each
    probe = spark.range(600).select(
        F.lit(1).alias("k"), (F.col("id") * 7).alias("pv")
    )
    tail = spark.range(190).select(
        (F.col("id") % 19 + 2).cast("int").alias("k"), (F.col("id") + 1000).alias("pv")
    )
    probe = probe.unionByName(tail)
    # build: keys 1..15 only (so 16..20 dangle on the probe side)
    build = spark.range(15).select(
        (F.col("id") + 1).cast("int").alias("bk"), (F.col("id") * 100).alias("bv")
    )
    return probe, build


def test_salted_inner_join_matches_plain(spark):
    probe, build = _skewed_frames(spark)
    got = salted_join(probe, build, "k", "bk", num_salts=8)
    want = probe.join(build, probe.k == build.bk)
    cols = ["k", "pv", "bk", "bv"]
    assert _rows(got, cols) == _rows(want, cols)
    assert SALT_COL not in got.columns


def test_salted_left_join_matches_plain(spark):
    probe, build = _skewed_frames(spark)
    got = salted_join(probe, build, "k", "bk", num_salts=4, how="left")
    want = probe.join(build, probe.k == build.bk, "left")
    cols = ["k", "pv", "bk", "bv"]
    assert _rows(got, cols) == _rows(want, cols)


def test_hot_key_spreads_across_salts(spark):
    probe, _ = _skewed_frames(spark)
    salted = probe.withColumn(SALT_COL, row_salt(probe, 8))
    spread = (
        salted.filter(F.col("k") == 1).select(SALT_COL).distinct().count()
    )
    # 600 hot rows over 8 salts: every salt value should be hit
    assert spread == 8


def test_row_salt_deterministic(spark):
    probe, _ = _skewed_frames(spark)
    a = _rows(probe.withColumn("s", row_salt(probe, 8)), ["k", "pv", "s"])
    b = _rows(probe.withColumn("s", row_salt(probe, 8)), ["k", "pv", "s"])
    assert a == b


def test_salted_join_rejects_unsupported_how(spark):
    probe, build = _skewed_frames(spark)
    import pytest

    with pytest.raises(ValueError):
        salted_join(probe, build, "k", "bk", how="full")


def test_quantize_roundtrip_error_bound(spark):
    """Dequantized int8 values reconstruct each embedding element within
    half a quantization step (maxabs/127/2)."""
    from blspark.catalog import registry
    from tests.conftest import SF_SMOKE

    q = registry()["x_embed_quantize"].spark_fn(spark, SF_SMOKE)
    emb = (
        spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
        .select(
            "vec_id",
            F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "x"),
        )
        .withColumnRenamed("vec_id", "e_vec_id")
    )
    maxabs = (
        spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
        .select(
            F.col("vec_id").alias("m_vec_id"),
            F.array_max(
                F.transform(F.col("embedding").cast("array<double>"), F.abs)
            ).alias("maxabs"),
        )
    )
    joined = (
        q.join(emb, (q.vec_id == emb.e_vec_id) & (q.pos == emb.pos))
        .join(maxabs, q.vec_id == F.col("m_vec_id"))
        .select(
            (F.abs(F.col("x") - F.col("qval") * F.col("maxabs") / 127.0)
             - F.col("maxabs") / 254.0).alias("excess")
        )
    )
    worst = joined.agg(F.max("excess")).first()[0]
    assert worst <= 1e-12


def test_fan_out_widens_small_scan_and_preserves_results(spark):
    """fan_out raises partition count for an under-split local scan and
    never changes row content; an already-wide frame passes through
    untouched (no extra shuffle node)."""
    from blspark.ops import fan_out
    from tests.conftest import SF_SMOKE

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    wide = fan_out(docs)
    assert wide.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism
    a = sorted(map(tuple, docs.select("doc_id", "text").collect()))
    b = sorted(map(tuple, wide.select("doc_id", "text").collect()))
    assert a == b

    rng = spark.range(0, 1000)  # non-file source: gate passes through
    assert fan_out(rng) is rng


def test_fan_out_reads_split_size_with_unit(spark):
    """Spark hands ``spark.sql.files.maxPartitionBytes`` back as it was
    set, so a value with a unit ("128MB") must parse to its bytes:
    fan_out still widens the under-split scan instead of silently
    passing it through."""
    from blspark.ops import fan_out
    from tests.conftest import SF_SMOKE, session_conf

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    with session_conf(spark, {"spark.sql.files.maxPartitionBytes": "128MB"}):
        wide = fan_out(docs)
    assert wide is not docs
    assert wide.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism


def test_fan_out_over_union_adds_one_exchange(spark):
    """A union of scans of one small file is a scan-level frame:
    fan_out over the dedup corpus's three-branch union adds exactly one
    round-robin exchange (not one per branch) and keeps every row."""
    from blspark.ops import fan_out
    from blspark.queries.extensions import _corpus
    from tests.conftest import SF_SMOKE

    def n_round_robin(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        return plan.count("RoundRobinPartitioning")

    corpus = _corpus(spark, SF_SMOKE)
    assert n_round_robin(corpus) == 0
    wide = fan_out(corpus)
    assert n_round_robin(wide) == 1
    assert n_round_robin(_corpus(spark, SF_SMOKE, wide=True)) == 1
    assert sorted(map(tuple, wide.collect())) == sorted(
        map(tuple, corpus.collect())
    )


def _skew_confs(spark):
    """Test-scale AQE skew thresholds (defaults need 256MB partitions)."""
    return {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "4KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "2KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    }


def _hot_bigram_docs(spark):
    # 3000 docs that are 500x the word "h" -> ~1.5M rows of the single
    # bigram "h h" (the Zipf head), plus 2000 distinct-bigram tail docs
    hot = spark.range(3000).select(
        F.col("id").alias("doc_id"), F.lit(" ".join(["h"] * 500)).alias("text")
    )
    tail = spark.range(3000, 5000).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            F.concat(F.lit("w"), F.col("id")),
            F.concat(F.lit("x"), F.col("id")),
            F.concat(F.lit("y"), F.col("id")),
        ).alias("text"),
    )
    return hot.unionByName(tail)


def _bigram_join_rows(bg, cnt):
    return (
        bg.join(cnt, "b")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_bigrams"), F.sum("c").alias("sum_freq"))
    )


def test_bigram_zipf_head_aqe_skew_split(spark):
    """Planted-hot-bigram scale sweep for the x_lm_bigram_score join
    (VERDICT r4 item 6). Two measured facts, both load-bearing at 100 TB:

    1. The naive two-pass shape `bg JOIN bg.groupBy(b).count()` can NOT
       be skew-split by AQE even with a massive Zipf head: the count
       side reuses its own aggregation shuffle (SMJ child is
       Sort(HashAgg(ShuffleStage)), and OptimizeSkewedJoin only matches
       Sort(ShuffleStage) on both sides) — an alias barrier doesn't
       help either, the optimizer folds it into the aggregate.
    2. Materializing the vocab counts first (localCheckpoint here; a
       written vocab table in production — standard practice for a
       reusable artifact) gives the join two fresh ENSURE_REQUIREMENTS
       exchanges and AQE's runtime skew-split ENGAGES (skew=true in the
       final plan), with results identical to the naive shape.
    """
    from blspark.queries.extensions4 import _bigrams

    docs = _hot_bigram_docs(spark)
    confs = _skew_confs(spark)
    old = {k: spark.conf.get(k, None) for k in confs}
    want = None
    try:
        bg = _bigrams(docs)
        want = sorted(
            map(tuple, _bigram_join_rows(bg, bg.groupBy("b").agg(F.count("*").alias("c"))).collect())
        )
        for k, v in confs.items():
            spark.conf.set(k, v)

        # 1: agg-partitioning-reuse shape — skew rule cannot fire
        naive = _bigram_join_rows(bg, bg.groupBy("b").agg(F.count("*").alias("c")))
        assert sorted(map(tuple, naive.collect())) == want
        naive_plan = naive._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" not in naive_plan  # the documented blocker

        # 2: materialized-vocab shape — skew split engages, same rows
        cnt = (
            bg.groupBy("b")
            .agg(F.count("*").alias("c"))
            .localCheckpoint(eager=True)
        )
        split = _bigram_join_rows(bg, cnt)
        assert sorted(map(tuple, split.collect())) == want
        split_plan = split._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in split_plan
        assert "skewed" in split_plan  # AQEShuffleRead ... and skewed
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
