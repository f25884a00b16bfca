"""Parity of the exact moment kernel (ext/linalg._moments) with the
Spark expression it replaced: every row quantized to decimal(19,0),
exploded into its own upper-triangle decimal(38,0) products and summed
by Spark. The reference lives only here. Fixtures are adversarial —
null vectors and components, short and long vectors, NaN, +-inf,
saturating magnitudes, a partition past the kernel's 2,048-row block,
a single row, an empty frame, and decimal(38,0) overflow — and every
comparison runs under ANSI off and ANSI on."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from blspark.ext.linalg import _moments, covariance_matrix, power_top_eigen

DIM = 8


def _reference_moments(emb, dim):
    """The old decimal-explode moment pass (try_element_at indexing)."""
    v = F.col("embedding").cast("array<double>")
    qa = F.array(*[
        F.floor(F.try_element_at(v, F.lit(i + 1)) * F.lit(float(2**40)))
        .cast("decimal(19,0)")
        for i in range(dim)
    ])
    p1 = emb.select(qa.alias("qa")).select(
        F.posexplode("qa").alias("i", "qx"), "qa"
    )
    tail = F.concat(
        F.slice(F.col("qa"), F.col("i") + 1, F.lit(dim) - F.col("i")),
        F.array(F.col("qx")),
    )
    p2 = p1.select("i", "qx", F.posexplode(tail).alias("pos", "qy"))
    in_tri = (F.col("i") + F.col("pos")) < dim
    return (
        p2.select(
            "i",
            F.when(in_tri, F.col("i") + F.col("pos"))
            .otherwise(F.lit(-1))
            .cast("int")
            .alias("j"),
            F.when(in_tri, F.col("qx") * F.col("qy"))
            .otherwise(F.col("qx").cast("decimal(38,0)"))
            .alias("p"),
        )
        .groupBy("i", "j")
        .agg(F.sum("p").alias("sv"), F.count(F.lit(1)).alias("n"))
    )


def _frame(spark, partitions):
    """One Spark partition per list, rows in list order, so both plans
    see the same partitioning and the same row order."""
    sc = spark.sparkContext
    rdd = sc.union([sc.parallelize([(v,) for v in p], 1) for p in partitions])
    return spark.createDataFrame(rdd, "embedding array<double>")


def _regular(rng, n):
    return [[rng.uniform(-1.0, 1.0) for _ in range(DIM)] for _ in range(n)]


def _adversarial(spark):
    rng = random.Random(7)
    inf = float("inf")
    odd = [
        None,  # null vector
        [0.5, None, -0.25, None, 1.0, 0.0, -0.0, 2.0],  # null components
        [0.1, 0.2, 0.3],  # short: components 3.. are null
        [0.3] * (DIM + 3),  # long: components past DIM are ignored
        [float("nan"), 1.0, float("nan"), -1.0, 0.5, 0.5, 0.5, 0.5],
        [],
    ]
    # at most one saturating magnitude per component in the whole
    # frame, so no group overflows (the overflow fixture does that)
    big = [
        [1.0, inf, 0.0, 0.0, 0.0, 0.0, 3.0e6, 0.0],
        [0.0, 0.0, -inf, float(2**23), 0.0, 0.0, 3.0e6, 0.0],
        [0.0, 0.0, 0.0, 0.0, -1.0e300, -float(2**23), 3.0e6, 0.5],
    ]
    return _frame(spark, [
        _regular(rng, 2100),  # crosses the 2,048-row block
        odd + _regular(rng, 5),
        [None, None],  # only null vectors
        [],  # empty partition
        big[:2] + _regular(rng, 3),
        [big[2]],
    ])


def _overflow(spark):
    s = float(2**23)  # saturates: q = 2^63 - 1, q*q ~ 8.5e37
    rng = random.Random(11)
    return _frame(spark, [
        # (0,0) and (1,1) overflow; (0,1) overflows after two rows and
        # would come back in range on the third — the sum stays null
        _regular(rng, 4) + [[s, s] + [0.0] * (DIM - 2)] * 2
        + [[s, -s] + [0.0] * (DIM - 2)] + _regular(rng, 2),
        # (2,2): each partition's partial fits, their merge overflows;
        # components 0 and 1 stay zero here, so the groups above get
        # nothing from other partitions that could mask their overflow
        [[0.0, 0.0, float("inf")] + [0.0] * (DIM - 3)],
        [[0.0, 0.0, float("inf")] + [0.0] * (DIM - 3)]
        + [[0.0, 0.0] + r[2:] for r in _regular(rng, 2)],
    ])


FIXTURES = {
    "adversarial": _adversarial,
    "single_row": lambda spark: _frame(spark, [[[0.5, -0.25, 1e-13, 7.0,
                                                 -3.5, 0.0, 1.0, 2.0]]]),
    "empty": lambda spark: _frame(spark, [[]]),
    "all_null": lambda spark: _frame(spark, [[None, [None] * DIM], [[]]]),
}


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture(params=[False, True], ids=["ansi_off", "ansi_on"])
def ansi(spark, request):
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", str(request.param).lower())
    yield request.param
    spark.conf.set("spark.sql.ansi.enabled", prev)


@pytest.mark.parametrize("fixture", sorted(FIXTURES))
def test_kernel_matches_decimal_reference(spark, ansi, fixture):
    emb = FIXTURES[fixture](spark)
    want = _sorted_rows(_reference_moments(emb, DIM))
    got = _sorted_rows(_moments(emb, "embedding", DIM))
    assert got == want
    if fixture == "empty":
        assert got == []
    else:
        assert len(got) == DIM * (DIM + 1) // 2 + DIM


def test_kernel_matches_reference_across_arrow_batches(spark, ansi):
    """Small Arrow batches: blocks and the overflow-bound replay carry
    state across batch boundaries within one partition."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "700")
    try:
        emb = _adversarial(spark)
        assert _sorted_rows(_moments(emb, "embedding", DIM)) == _sorted_rows(
            _reference_moments(emb, DIM)
        )
    finally:
        spark.conf.set(key, prev)


def test_kernel_overflow_matches_decimal_sum(spark, ansi):
    emb = _overflow(spark)
    if not ansi:
        want = _sorted_rows(_reference_moments(emb, DIM))
        got = _sorted_rows(_moments(emb, "embedding", DIM))
        assert got == want
        nulls = {(i, j) for i, j, sv, _ in got if sv is None}
        assert nulls == {(0, 0), (0, 1), (1, 1), (2, 2)}
        return
    for plan in (
        _reference_moments(emb, DIM), _moments(emb, "embedding", DIM)
    ):
        with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW"):
            plan.collect()


def test_pca_empty_and_null_inputs(spark):
    empty = FIXTURES["empty"](spark)
    cov = covariance_matrix(empty, "embedding", DIM)
    assert cov.collect() == []
    assert power_top_eigen(cov, DIM, 8).collect() == []
    # every product null: the moments are null, and so is everything
    # computed from them; n still counts every row
    nulls = FIXTURES["all_null"](spark)
    row = covariance_matrix(nulls, "embedding", DIM).collect()[0]
    assert row.n == 3 and row.trace is None
    assert all(c is None for r in row.cov for c in r)
    top = power_top_eigen(
        covariance_matrix(nulls, "embedding", DIM), DIM, 8
    ).collect()[0]
    assert top.eigenvalue is None and top.v == [None] * DIM


def test_power_zero_norm_follows_spark_division(spark, ansi):
    """One row: the covariance is all zeros, so the first step divides
    by a zero norm — null under ANSI off, an error under ANSI on, as
    Spark's double division."""
    cov = covariance_matrix(FIXTURES["single_row"](spark), "embedding", DIM)
    assert cov.collect()[0].cov == [[0.0] * DIM] * DIM
    if ansi:
        with pytest.raises(ZeroDivisionError):
            power_top_eigen(cov, DIM, 8)
        return
    top = power_top_eigen(cov, DIM, 8).collect()[0]
    assert top.v == [None] * DIM and top.eigenvalue is None
