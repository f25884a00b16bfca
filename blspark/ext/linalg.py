"""Distributed linear algebra for the embedding column: exact-integer
covariance and top-eigenvector power iteration — the PCA stage of an
embedding pipeline (whitening / dominant-direction removal / dim
reduction).

Determinism contract (catalog numeric policy): every component is
quantized onto an exact POWER-OF-TWO grid, q = FLOOR(x * 2^40) with
Spark's double->long rules (NaN -> 0, out-of-range saturates) — not a
decimal cast: a double->DECIMAL(18,9) cast rounds its 9th fractional
digit differently across engines on some inputs (observed at sf0.1:
1-step cov differences ~1e-12 that 8 power iterations amplified into a
64/64 loading mismatch), while x * 2^40 is an EXACT double op and
FLOOR is unambiguous. The integer moments sum(q_i * q_j) and sum(q_i)
are EXACT (the DuckDB oracle computes them as DECIMAL(19,0) products
summed at DECIMAL(38,0)); Spark sums them at decimal(38,0) and casts
each to double once; the rescale divides by 2^40 / 2^80 (exact) and
the mean/covariance arithmetic is pinned (s_ij/n - (s_i/n)*(s_j/n),
one op order). Quantization at 2^-40 (~9e-13) is far below float32
input precision, so the matrix is the true covariance to ~1e-12.
The power iteration is pure +,*,/ and SQRT (the one correctly-rounded
transcendental) over ordered folds — matvec folds j in index order
from 0.0, the norm folds squares in index order — so after any fixed
number of iterations the vector is BITWISE identical across engines
and partitionings. No convergence test (a float comparison would be a
hidden determinism hazard): iteration count is fixed, the Rayleigh
quotient prices how converged the result is.

Scale shape (100 TB): ONE corpus pass, one ``mapInArrow`` kernel per
scan partition (``_moment_partials``). It computes the partition's
exact integer Gram matrix and column sums with float64 matrix products
over 21-bit limbs (every partial sum stays below 2^53, so the BLAS
result is exact) and emits d(d+1)/2 + d decimal(38,0) partial rows
(d = 64 -> 2,144) — the one exchange carries 2,144 rows per map task,
independent of corpus size. The driver collects the 2,144 summed
moments once; covariance assembly and power iteration are plain
Python on the 32 KB matrix, and both results come back as one-row
Arrow-built frames (a JVM ``LocalTableScan``: no job, no Python
worker on later actions — the ``ops.local_relation`` lesson). For
top-k components, deflate and repeat, or block iteration; the matrix
stays driver-sized for any d where d^2 doubles fit in memory
(d <= ~30k)."""

from __future__ import annotations

import functools
import math

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import _parse_datatype_string

# 2^40 / 2^80 as exact double literals: power-of-two scaling factors,
# so multiplying/dividing by them never rounds.
_Q_SCALE = float(2**40)
_Q_SCALE2 = float(2**80)

# Gram kernel: q = a2*2^42 + a1*2^21 + a0 with |limb| <= 2^21, so a limb
# product is <= 2^42 and a sum over _BLOCK rows stays within 2^53, where
# every integer is an exact double whatever order BLAS adds in. Per-block
# results are accumulated in int64 and flushed to Python ints every
# _FLUSH blocks (_FLUSH * 2^53 < 2^63).
_LIMB = 21
_BLOCK = 2048
_FLUSH = 512
# decimal(38,0) bound: a running sum past it is an overflow (null under
# ANSI off, an error under ANSI on — Spark's decimal sum).
_DEC38 = 10**38 - 1

_PARTIAL_SCHEMA = "i int, j int, sv decimal(38,0), n long"
_COV_SCHEMA = "n long, cov array<array<double>>, trace double"
_TOP_SCHEMA = "n long, trace double, v array<double>, eigenvalue double"


def _components(col: pa.Array, dim: int):
    """(x, ok): the batch's vectors as an n x dim float64 matrix and
    its non-null mask. A null vector, a null component and a component
    past the vector's end are all null (``try_element_at``); x is 0.0
    wherever ok is False."""
    n = len(col)
    lens = col.value_lengths().fill_null(0).to_numpy()
    flat = col.flatten()
    starts = np.repeat(np.cumsum(lens) - lens, lens)
    row = np.repeat(np.arange(n), lens)
    pos = np.arange(len(flat)) - starts
    keep = pos < dim
    row, pos = row[keep], pos[keep]
    x = np.zeros((n, dim))
    ok = np.zeros((n, dim), dtype=bool)
    x[row, pos] = flat.fill_null(0.0).to_numpy()[keep]
    ok[row, pos] = flat.is_valid().to_numpy(zero_copy_only=False)[keep]
    return x, ok


def _quantize(x: np.ndarray) -> np.ndarray:
    """FLOOR(x * 2^40) as Spark evaluates it: Java's (long) cast of
    Math.floor — NaN -> 0, beyond the long range saturates."""
    f = np.floor(x * _Q_SCALE)
    hi = f >= 2.0**63
    f[np.isnan(f) | hi] = 0.0
    q = np.maximum(f, -(2.0**63)).astype(np.int64)
    q[hi] = np.iinfo(np.int64).max
    return q


def _limb_gram(q: np.ndarray) -> np.ndarray:
    """Exact int64 Gram of [a0 a1 a2 1] for a block of at most _BLOCK
    rows: the 3d x 3d limb products, the limb column sums (last row)
    and the row count (corner)."""
    mask = (1 << _LIMB) - 1
    lanes = np.hstack(
        [q & mask, (q >> _LIMB) & mask, q >> (2 * _LIMB),
         np.ones((len(q), 1), np.int64)]
    ).astype(np.float64)
    return (lanes.T @ lanes).astype(np.int64)


def _recombine(total: np.ndarray, dim: int):
    """(gram, sums) as Python ints from the accumulated limb Gram."""
    k = 3 * dim
    gram = np.zeros((dim, dim), dtype=object)
    sums = np.zeros(dim, dtype=object)
    for a in range(3):
        sums += total[k, a * dim:(a + 1) * dim] * (1 << (_LIMB * a))
        for b in range(3):
            gram += total[a * dim:(a + 1) * dim, b * dim:(b + 1) * dim] * (
                1 << (_LIMB * (a + b))
            )
    return gram, sums


def _moment_partials(batches, dim: int):
    """mapInArrow kernel: one partition's exact moment partials, as the
    rows (i, j, sv, n) — sv = sum(q_i * q_j) for i <= j, sv = sum(q_i)
    for j = -1, n = the partition's row count. Semantics of the Spark
    decimal sum over per-row products: a product with a null factor is
    skipped, a group with no non-null product is null, and a running
    sum past decimal(38,0) overflows stickily in row order. The fast
    path proves no prefix can overflow (|prefix_ij| <= sqrt(G_ii G_jj)
    by Cauchy-Schwarz); should the float bound on max G_ii reach half
    of decimal(38,0), the rest of the partition replays row by row in
    Python ints and an overflowed group is emitted as two
    decimal(38,0)-max rows, so Spark's own sum overflows the same way.
    An empty partition emits nothing."""
    k = 3 * dim
    exact = np.zeros((k + 1, k + 1), dtype=object)
    window = np.zeros((k + 1, k + 1), dtype=np.int64)
    blocks = 0
    seen = np.zeros((dim + 1, dim + 1), dtype=np.int64)
    sq = np.zeros(dim)
    slow = None  # (gram, sums, overflowed) once the replay starts
    for batch in batches:
        x, ok = _components(batch.column(0), dim)
        q = _quantize(x)
        okf = np.hstack([ok, np.ones((len(ok), 1), bool)]).astype(np.float64)
        seen += (okf.T @ okf).astype(np.int64)
        for lo in range(0, len(q), _BLOCK):
            blk = q[lo:lo + _BLOCK]
            if slow is None:
                bf = blk.astype(np.float64)
                sq += (bf * bf).sum(axis=0)
                if sq.max() > _DEC38 / 2:
                    gram, sums = _recombine(exact + window.astype(object), dim)
                    slow = (gram, sums, np.zeros((dim, dim), dtype=bool))
            if slow is None:
                window += _limb_gram(blk)
                blocks += 1
                if blocks % _FLUSH == 0:
                    exact += window.astype(object)
                    window[:] = 0
                continue
            gram, sums, over = slow
            for r in blk.astype(object):
                gram += np.multiply.outer(r, r)
                over |= np.abs(gram) > _DEC38
                sums += r
    n = int(seen[dim, dim])
    if n == 0:
        return
    if slow is None:
        gram, sums = _recombine(exact + window.astype(object), dim)
        over = np.zeros((dim, dim), dtype=bool)
    else:
        gram, sums, over = slow
    iu, ju = np.triu_indices(dim)
    rows = []
    for i, j in zip(iu.tolist(), ju.tolist()):
        if over[i, j]:
            rows += [(i, j, _DEC38, n), (i, j, _DEC38, 0)]
        else:
            rows.append((i, j, int(gram[i, j]) if seen[i, j] else None, n))
    rows += [
        (i, -1, int(sums[i]) if seen[dim, i] else None, n) for i in range(dim)
    ]
    ii, jj, sv, nn = zip(*rows)
    yield pa.RecordBatch.from_arrays(
        [
            pa.array(ii, pa.int32()),
            pa.array(jj, pa.int32()),
            pa.array(sv, pa.decimal128(38, 0)),
            pa.array(nn, pa.int64()),
        ],
        names=["i", "j", "sv", "n"],
    )


def _moments(emb: DataFrame, vec_col: str, dim: int) -> DataFrame:
    """The d(d+1)/2 + d exact moment groups (i, j, sv decimal(38,0),
    n long): the kernel's partials summed by Spark. Zero rows for an
    empty input."""
    return (
        emb.select(F.col(vec_col).cast("array<double>"))
        .mapInArrow(
            functools.partial(_moment_partials, dim=dim), _PARTIAL_SCHEMA
        )
        .groupBy("i", "j")
        .agg(F.sum("sv").alias("sv"), F.sum("n").alias("n"))
    )


def _arrow_frame(spark, schema: str, columns: dict) -> DataFrame:
    """A driver-built frame as a JVM LocalTableScan (Arrow, not the
    Python-RDD plan ``createDataFrame(list)`` makes)."""
    st = _parse_datatype_string(schema)
    return spark.createDataFrame(
        pa.table(columns, schema=to_arrow_schema(st)), st
    )


def _fold(terms):
    """Sum from 0.0 in order (Spark's aggregate(arr, 0.0, acc + x));
    a null term nulls the sum."""
    acc = 0.0
    for t in terms:
        if t is None:
            return None
        acc += t
    return acc


def _dot(a, b):
    return _fold(
        None if x is None or y is None else x * y for x, y in zip(a, b)
    )


def covariance_matrix(
    emb: DataFrame, vec_col: str = "embedding", dim: int = 64
) -> DataFrame:
    """ONE row: n (long), cov (array<array<double>>, dim x dim, sample
    covariance with 1/n normalization), trace (double); zero rows for
    an empty input. Exact integer moments on the 2^-40 grid; pinned
    double arithmetic (module doc). Runs the corpus pass eagerly — the
    only Spark jobs of the PCA stage."""
    spark = emb.sparkSession
    rows = (
        _moments(emb, vec_col, dim)
        .select("i", "j", F.col("sv").cast("double").alias("s"), "n")
        .collect()
    )
    if not rows:
        return _arrow_frame(
            spark, _COV_SCHEMA, {"n": [], "cov": [], "trace": []}
        )
    n = rows[0]["n"]
    s = {(r["i"], r["j"]): r["s"] for r in rows}
    mean = [
        None if s[i, -1] is None else (s[i, -1] / n) / _Q_SCALE
        for i in range(dim)
    ]
    cov = [[None] * dim for _ in range(dim)]
    for i in range(dim):
        for j in range(i, dim):
            if None not in (s[i, j], mean[i], mean[j]):
                cov[i][j] = cov[j][i] = (
                    (s[i, j] / n) / _Q_SCALE2 - mean[i] * mean[j]
                )
    trace = _fold(cov[i][i] for i in range(dim))
    return _arrow_frame(
        spark, _COV_SCHEMA, {"n": [n], "cov": [cov], "trace": [trace]}
    )


def power_top_eigen(cov_row: DataFrame, dim: int = 64, iters: int = 8):
    """Power iteration on the one-row covariance frame: v0 = all ones,
    ``iters`` steps of v <- C.v / ||C.v||, then the Rayleigh quotient
    lambda = v . (C.v). Returns a one-row frame (n, trace, v
    array<double>, eigenvalue double). Fixed iteration count — no
    convergence test by design (module doc). Runs on the driver with
    Spark's double semantics: nulls propagate, and a zero norm nulls
    the iterate (ANSI off) or raises (ANSI on)."""
    spark = cov_row.sparkSession
    ansi = spark.conf.get("spark.sql.ansi.enabled").lower() == "true"

    def div(x, nrm):
        if x is None or nrm is None or (nrm == 0.0 and not ansi):
            return None
        return x / nrm

    out = {"n": [], "trace": [], "v": [], "eigenvalue": []}
    for r in cov_row.collect():
        cov = r["cov"]
        v = [1.0] * dim
        for _ in range(iters):
            w = [_dot(row, v) for row in cov]
            ss = _dot(w, w)
            nrm = None if ss is None else math.sqrt(ss)
            v = [div(x, nrm) for x in w]
        out["n"].append(r["n"])
        out["trace"].append(r["trace"])
        out["v"].append(v)
        out["eigenvalue"].append(_dot(v, [_dot(row, v) for row in cov]))
    return _arrow_frame(spark, _TOP_SCHEMA, out)


def mean_vector(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """ONE row: m (array<double>) — the per-dimension mean from the
    same exact 2^-40-grid integer sums as ``covariance_matrix``, with
    the identical pinned rescale ((s1/n)/2^40), so a consumer
    combining the two artifacts (e.g. centered projection) sees one
    consistent quantization."""
    comp = emb.select(
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("i", "x")
    ).select(
        "i",
        F.floor(F.col("x") * F.lit(_Q_SCALE))
        .cast("decimal(19,0)")
        .alias("qx"),
    )
    sums = comp.groupBy("i").agg(F.sum("qx").cast("double").alias("s1"))
    n = emb.agg(F.count("*").alias("n"))
    return (
        sums.crossJoin(F.broadcast(n))
        .select(
            "i",
            ((F.col("s1") / F.col("n")) / F.lit(_Q_SCALE)).alias("mi"),
        )
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "mi"))),
                lambda s: s["mi"],
            ).alias("m")
        )
    )
