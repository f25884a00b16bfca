"""The reference's three canonical analytics queries (SURVEY.md §3).

Pure ``DataFrame -> DataFrame`` transforms over BLS-shaped inputs:

- bls observations: (series_id string, year int, period string, value double)
- population:       (Year int, Population double)  [+ Nation/Nation ID]

Semantic traps encoded here (SURVEY.md §7.2):
- Q1 uses SAMPLE stddev (pandas ``std()`` default ddof=1 →
  ``stddev_samp``), reference report_processor.py:115-116.
- Q2's per-series argmax tie-breaks to the EARLIEST year (pandas
  ``idxmax`` returns the first max of a (series_id, year)-sorted frame),
  reference report_processor.py:164-166 — hence
  ``ORDER BY value DESC, year ASC`` in the window.
- Q2's yearly sum includes period Q05 (annual average) — do NOT filter
  to quarters, reference report_processor.py:161.
- Q3 trims inside the predicate (padded cells) and preserves unmatched
  left rows (null Population), reference report_processor.py:204-243.

At scale: Q2 is one hash-aggregate shuffle on (series_id, year) plus a
second partial-aggregatable argmax agg on series_id — both partition
cleanly by series. Q3's population side is tiny → broadcast hash join,
no shuffle of the fact table. The transforms themselves never choose a
partitioning; the caller does. ``jobs.report_job`` coalesces the
cleaned BLS frame to one partition when Spark scans the file as one
split anyway (``FilePartition.maxSplitBytes``: any file up to
``spark.sql.files.openCostInBytes``, 4 MB by default, such as the real
``pr.data.0.Current``), and the population relation is always one
partition. Over a single-partition child neither aggregation nor either
sort needs an exchange, so Q1 and Q2 run in one job each and Q3 in two
(its broadcast and its result). A BLS file that spans several splits
keeps the distributed plan above.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from blspark.clean import drop_null_rows, require_columns

REQUIRED_BLS_COLS = ["series_id", "year", "period", "value"]


def population_stats(
    population: DataFrame,
    year_from: int = 2013,
    year_to: int = 2018,
    year_col: str = "Year",
    pop_col: str = "Population",
) -> DataFrame:
    """Q1 — mean and sample stddev of population over [year_from, year_to]
    (reference report_processor.py:99-116). Returns one row:
    (mean_population, stddev_population, year_count)."""
    filtered = population.filter(
        F.col(year_col).between(year_from, year_to) & F.col(pop_col).isNotNull()
    )
    return filtered.agg(
        F.mean(pop_col).alias("mean_population"),
        F.stddev(pop_col).alias("stddev_population"),  # stddev_samp, ddof=1
        F.count(pop_col).alias("year_count"),
    )


def best_years(bls: DataFrame) -> DataFrame:
    """Q2 — for every series_id, the year whose summed values (across ALL
    periods, Q05 included) is maximal; ties -> earliest year (reference
    report_processor.py:158-169). Returns (series_id, year, value) sorted
    by series_id."""
    require_columns(bls, REQUIRED_BLS_COLS)
    clean = drop_null_rows(bls.select(*REQUIRED_BLS_COLS))
    # dsum = exact decimal sum cast back to double: same value as a plain
    # float sum for BLS-scale data, but independent of partition order —
    # so results are reproducible run-to-run and engine-to-engine
    from blspark.catalog import dsum

    yearly = clean.groupBy("series_id", "year").agg(dsum("value").alias("value"))
    # Per-series argmax as max(struct(value, -year)): lexicographic struct
    # max ties on value fall through to max(-year) = earliest year, the
    # pandas idxmax tie-break. Two hash aggs, both partial-aggregatable —
    # no window sort, no skew sensitivity to large series.
    best = F.max(F.struct(F.col("value"), (-F.col("year")).alias("ny")))
    return (
        yearly.groupBy("series_id")
        .agg(best.alias("b"))
        .select(
            "series_id",
            (-F.col("b.ny")).cast(yearly.schema["year"].dataType).alias("year"),
            F.col("b.value").alias("value"),
        )
        .orderBy("series_id")
    )


def combined_report(
    bls: DataFrame,
    population: DataFrame | None = None,
    series_id: str = "PRS30006032",
    period: str = "Q01",
    year_col: str = "Year",
    pop_col: str = "Population",
) -> DataFrame:
    """Q3 — one series/period slice LEFT JOIN population by year; unmatched
    years keep null Population (reference report_processor.py:204-251).
    Returns (series_id, year, period, value, Population) sorted by year.

    The population side is tiny (≤ tens of rows) — broadcast it so the
    fact slice never shuffles. Without a population frame the slice is
    returned with a null Population column instead of failing (the
    reference's graceful degradation, report_processor.py:269-281)."""
    slice_df = bls.filter(
        (F.trim(F.col("series_id")) == series_id) & (F.trim(F.col("period")) == period)
    ).select(
        F.trim(F.col("series_id")).alias("series_id"),
        F.col("year").cast("int").alias("year"),
        F.trim(F.col("period")).alias("period"),
        F.col("value"),
    )
    if population is None:
        return slice_df.withColumn(
            "Population", F.lit(None).cast("double")
        ).orderBy("year")
    pop = (
        population.filter(F.col(year_col).isNotNull() & F.col(pop_col).isNotNull())
        .select(
            F.col(year_col).cast("int").alias("year"),
            F.col(pop_col).alias("Population"),
        )
    )
    return slice_df.join(F.broadcast(pop), on="year", how="left").select(
        "series_id", "year", "period", "value", "Population"
    ).orderBy("year")
