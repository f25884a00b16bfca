"""Scale utilities: ``fan_out`` widens a scan too narrow for CPU-heavy
per-row work, ``local_relation`` turns a metadata-sized frame into a
JVM local relation, and ``checkpoint_rows`` materializes a driver
loop's frame and counts it in the same job. Skewed joins go through
``ext/skew.salted_join``."""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from blspark.io.readers import _conf_bytes


def fan_out(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Raise scan parallelism for CPU-heavy narrow pipelines (per-row
    MD5/shingling/vector math). Parquet scans split at row-group
    boundaries, so a small local file yields ~1 effective partition and a
    compute-bound stage serializes on one core — while at cluster scale
    the same query naturally gets thousands of splits. No-op when the
    scan would already split wide enough (gated on driver-side file
    metadata — never a job); otherwise one cheap round-robin shuffle of
    the (small) input buys full-width execution of everything
    downstream. Results are unaffected: every consumer in this repo is
    partition-order independent by construction. Apply directly to the
    scan frame: the gate reads scan-level file metadata, so a frame that
    already went through a shuffle would be re-shuffled. A union of
    scans (or of filters/projections over them) counts as a scan-level
    frame — its input files are the union's — and is best fanned out
    ONCE on top: one exchange, where fanning out each branch costs one
    per branch and gives every branch its own shuffled subtree."""
    import os

    spark = df.sparkSession
    target = min_parts or spark.sparkContext.defaultParallelism
    max_split = _conf_bytes(spark, "spark.sql.files.maxPartitionBytes")
    try:
        files = df.inputFiles()
        if not files:  # non-file source (range, shuffle output): leave as-is
            return df
        total = 0
        for f in files:
            p = f[len("file:"):] if f.startswith("file:") else f
            total += os.path.getsize(p) if os.path.exists(p) else max_split
        est_splits = max(len(files), (total + max_split - 1) // max_split)
    except Exception:
        return df  # unknown source: assume wide enough, no-op
    if est_splits < target:
        return df.repartition(target)
    return df


def checkpoint_rows(df: DataFrame) -> tuple[DataFrame, int]:
    """Eagerly ``localCheckpoint`` ``df`` and return it with its row
    count. The count is a ``df.observe`` metric gathered by the
    checkpoint's own job, so a driver loop that materializes every
    round (truncating a lineage that would otherwise grow each round)
    learns its frame's size without a separate ``count()`` job."""
    obs = Observation()
    out = df.observe(obs, F.count(F.lit(1)).alias("rows")).localCheckpoint(eager=True)
    return out, obs.get["rows"]


def local_relation(df: DataFrame, schema: str, max_rows: int = 65536) -> DataFrame:
    """Materialize a METADATA-SIZED frame as a local relation: collect,
    sort for a deterministic row order, rebuild with an explicit
    schema. Severs lineage so every downstream branch reuses the rows
    instead of re-executing the producing subtree — with NO
    cache-manager entry (a persist() inside a lazy plan builder would
    leak past the function's lifetime; extensions3 convention). Only
    for frames bounded by construction (codebooks, centroids, seed
    lists) — never for data-sized frames.

    The rebuild goes through pandas/Arrow ON PURPOSE: a plain
    ``createDataFrame(rows, schema)`` produces a PYTHON-RDD-backed
    plan (``Scan ExistingRDD``) that re-enters a Python worker on
    EVERY downstream action — measured ~1-2 s per reference for a
    10-row centroid frame, and pathological (12 s) when two such
    frames cross-join. The Arrow path produces a true JVM
    ``LocalTableScan``: no Python workers, instantly broadcastable,
    visible to Catalyst as a local relation. Arrow float64 transfer
    is exact for FINITE values, so the numeric policy is unaffected —
    but pandas cannot distinguish NULL from NaN in a top-level float
    column (NaN would arrive as NULL under Arrow, and NULL as NaN
    without it), so any frame carrying NaN/NULL in a top-level
    float/double field routes to the RDD path instead (slower,
    semantics-preserving); likewise any type Arrow cannot convert.

    ``max_rows`` is a hard guard against misuse on corpus-sized
    frames: the collect is capped at ``max_rows + 1`` rows and a
    ``ValueError`` is raised if the input exceeds the bound, so an
    oversized caller fails fast instead of pulling a corpus onto the
    driver. The default (65536) is ~3 orders of magnitude above the
    largest current caller (centroids k<=32, codebooks 16x256,
    probed-cell maps) while still far below corpus scale."""
    import math

    from pyspark.sql.types import DoubleType, FloatType, _parse_datatype_string

    rows = sorted(tuple(r) for r in df.limit(max_rows + 1).collect())
    if len(rows) > max_rows:
        raise ValueError(
            f"local_relation: input exceeds max_rows={max_rows}; this "
            "helper is for metadata-sized frames (centroids, codebooks, "
            "thresholds) — a corpus-sized frame must stay distributed"
        )
    spark = df.sparkSession
    st = _parse_datatype_string(schema)
    float_idx = [
        i
        for i, f in enumerate(st.fields)
        if isinstance(f.dataType, (DoubleType, FloatType))
    ]
    nan_hazard = any(
        r[i] is None or (isinstance(r[i], float) and math.isnan(r[i]))
        for r in rows
        for i in float_idx
    )
    if not nan_hazard:
        try:
            import pandas as pd

            return spark.createDataFrame(
                pd.DataFrame(rows, columns=st.fieldNames()), schema
            )
        except Exception as exc:
            # The RDD fallback silently forfeits the LocalTableScan
            # performance contract (~5x on downstream actions) — make
            # the regression detectable instead of invisible.
            import logging

            logging.getLogger(__name__).warning(
                "local_relation: Arrow/pandas path failed (%s: %s); "
                "falling back to the slow Python-RDD plan for schema %r",
                type(exc).__name__, exc, schema,
            )
    return spark.createDataFrame(rows, schema)
