"""Golden-number tests for the reference's three canonical queries,
using the real values recorded in FIXTURES.md / SURVEY.md §5 (notebook
cell outputs) and fixtures that exercise every semantic trap:
tie-break to earliest year, Q05 inclusion, padded cells, null coercion,
left-join null preservation, sample (ddof=1) stddev."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from blspark.clean import coerce_numeric, trim_string_columns
from blspark.queries.bls import best_years, combined_report, population_stats

# Reference population values 2013-2018 (FIXTURES.md §2, notebook c2078fcf)
POP = [
    ("01000US", "United States", 2013, 316128839.0),
    ("01000US", "United States", 2014, 318857056.0),
    ("01000US", "United States", 2015, 321418821.0),
    ("01000US", "United States", 2016, 323127515.0),
    ("01000US", "United States", 2017, 325719178.0),
    ("01000US", "United States", 2018, 327167439.0),
    ("01000US", "United States", 2019, 328239523.0),  # outside the window
    ("01000US", "United States", 2021, 331893745.0),  # gap at 2020
]
POP_COLS = ["Nation ID", "Nation", "Year", "Population"]


@pytest.fixture(scope="module")
def pop_df(spark):
    return spark.createDataFrame(POP, POP_COLS)


def test_q1_golden_mean_and_sample_std(spark, pop_df):
    row = population_stats(pop_df, 2013, 2018).first()
    # notebook c2078fcf golden output: mean 322,069,808.00, std 4,158,441.04
    assert row["year_count"] == 6
    assert round(row["mean_population"], 2) == 322069808.00
    assert round(row["stddev_population"], 2) == 4158441.04


def test_q1_population_std_would_differ(spark, pop_df):
    # guard against the stddev_pop trap (SURVEY §7.2.2)
    pop_row = (
        pop_df.filter(F.col("Year").between(2013, 2018))
        .agg(F.stddev_pop("Population").alias("sp"))
        .first()
    )
    assert round(pop_row["sp"], 2) != 4158441.04


BLS = [
    # series A: 2020 and 2021 tie on yearly sum -> earliest year (2020) wins
    ("PRS0A", 2020, "Q01", 5.0), ("PRS0A", 2020, "Q02", 5.0),
    ("PRS0A", 2021, "Q01", 4.0), ("PRS0A", 2021, "Q02", 6.0),
    ("PRS0A", 2019, "Q01", 1.0),
    # series B: Q05 (annual average) must be included in the sum:
    # 2020 = 3+3=6; 2021 = 2+2+Q05:3 = 7 -> 2021 wins ONLY if Q05 counted
    ("PRS0B", 2020, "Q01", 3.0), ("PRS0B", 2020, "Q02", 3.0),
    ("PRS0B", 2021, "Q01", 2.0), ("PRS0B", 2021, "Q02", 2.0),
    ("PRS0B", 2021, "Q05", 3.0),
    # series C: null values dropped before aggregation
    ("PRS0C", 2020, "Q01", None), ("PRS0C", 2020, "Q02", 1.0),
    ("PRS0C", 2021, "Q01", 10.0),
]


@pytest.fixture(scope="module")
def bls_df(spark):
    return spark.createDataFrame(
        BLS, "series_id string, year int, period string, value double"
    )


def test_q2_tie_breaks_to_earliest_year(spark, bls_df):
    rows = {r["series_id"]: r for r in best_years(bls_df).collect()}
    assert rows["PRS0A"]["year"] == 2020 and rows["PRS0A"]["value"] == 10.0


def test_q2_includes_q05_annual_average(spark, bls_df):
    rows = {r["series_id"]: r for r in best_years(bls_df).collect()}
    assert rows["PRS0B"]["year"] == 2021 and rows["PRS0B"]["value"] == 7.0


def test_q2_drops_null_values(spark, bls_df):
    rows = {r["series_id"]: r for r in best_years(bls_df).collect()}
    assert rows["PRS0C"]["year"] == 2021 and rows["PRS0C"]["value"] == 10.0


def test_q2_output_sorted_by_series(spark, bls_df):
    out = [r["series_id"] for r in best_years(bls_df).collect()]
    assert out == sorted(out)


def test_q3_left_join_preserves_unmatched_years(spark, pop_df):
    bls = spark.createDataFrame(
        [
            ("PRS30006032  ", 2012, " Q01 ", 1.0),  # padded cells, year w/o pop
            ("PRS30006032", 2013, "Q01", 2.0),
            ("PRS30006032", 2020, "Q01", 3.0),  # gap year -> null Population
            ("PRS30006032", 2013, "Q02", 9.0),  # wrong period -> excluded
            ("PRSXXXXXXXX", 2013, "Q01", 9.0),  # wrong series -> excluded
        ],
        "series_id string, year int, period string, value double",
    )
    out = combined_report(bls, pop_df).collect()
    assert [r["year"] for r in out] == [2012, 2013, 2020]
    by_year = {r["year"]: r for r in out}
    assert by_year[2012]["Population"] is None
    assert by_year[2013]["Population"] == 316128839.0
    assert by_year[2020]["Population"] is None


def test_cleaning_trim_and_coerce(spark):
    raw = spark.createDataFrame(
        [("  PRS1  ", "2020", " Q01 ", " 1.5 "), ("PRS2", "bad", "Q02", "oops")],
        "series_id string, year string, period string, value string",
    )
    clean = coerce_numeric(
        trim_string_columns(raw), {"year": "int", "value": "double"}
    )
    rows = clean.orderBy("series_id").collect()
    assert rows[0]["series_id"] == "PRS1" and rows[0]["period"] == "Q01"
    assert rows[0]["year"] == 2020 and rows[0]["value"] == 1.5
    # errors='coerce' parity: unparseable -> null, row survives
    assert rows[1]["year"] is None and rows[1]["value"] is None


def test_q3_fallback_without_population(spark):
    bls = spark.createDataFrame(
        [("PRS30006032", 2013, "Q01", 2.0), ("PRS30006032", 2014, "Q01", 3.0)],
        "series_id string, year int, period string, value double",
    )
    out = combined_report(bls, None).collect()
    assert [r["year"] for r in out] == [2013, 2014]
    assert all(r["Population"] is None for r in out)
    assert out[0]["value"] == 2.0
