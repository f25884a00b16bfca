"""IO readers: padded TSV (S8), JSON-records (S9)."""

from __future__ import annotations

import functools
import json

import pytest
from pyspark.sql import functions as F

from blspark.clean import coerce_numeric, trim_string_columns
from blspark.io.readers import read_json_records, read_padded_tsv
from tests.test_jobs import POP_JSON


def test_read_padded_tsv_strips_headers_keeps_cell_padding(spark, tmp_path):
    p = tmp_path / "pr.data.0.Current"
    p.write_text(
        "series_id        \tyear\tperiod\t       value\tfootnote_codes\n"
        "PRS30006011      \t1995\tQ01\t         2.6\t\n"
        "PRS30006011      \t1995\tQ02\t         2.1\t\n"
    )
    df = read_padded_tsv(spark, str(p))
    assert df.columns == ["series_id", "year", "period", "value", "footnote_codes"]
    raw = df.first()
    # cell padding survives the scan (the cleaning layer trims it,
    # matching the reference's order of operations)
    assert raw["series_id"].startswith("PRS30006011 ")
    clean = coerce_numeric(
        trim_string_columns(df), {"year": "int", "value": "double"}
    )
    row = clean.first()
    assert row["series_id"] == "PRS30006011"
    assert row["year"] == 1995 and row["value"] == 2.6


def test_read_json_records_extracts_nested_array(spark, tmp_path):
    p = tmp_path / "population_data_20240101_000000.json"
    p.write_text(
        '{"data": [{"Nation ID": "01000US", "Nation": "United States", '
        '"Year": 2013, "Population": 316128839}, '
        '{"Nation ID": "01000US", "Nation": "United States", '
        '"Year": 2014, "Population": 318857056}], '
        '"source": [{"annotations": {}}]}'
    )
    df = read_json_records(spark, str(p))
    assert sorted(df.columns) == ["Nation", "Nation ID", "Population", "Year"]
    rows = df.orderBy("Year").collect()
    assert rows[0]["Year"] == 2013 and rows[0]["Population"] == 316128839
    assert len(rows) == 2


def _datausa(year, population):
    """One record in DataUSA's full shape (``ID Year`` an int, ``Year``
    a string)."""
    return {"ID Nation": "01000US", "Nation": "United States", "ID Year": year,
            "Year": str(year), "Population": population,
            "Slug Nation": "united-states"}


@functools.lru_cache(maxsize=1)
def _population_docs():
    from perfbench import blsgen

    generated = blsgen.generate(301).files
    arrived = blsgen.arrivals(301)
    return {
        "test_jobs_fixture": json.dumps(POP_JSON),
        "blsgen_generate": generated[blsgen.newest_population(generated)].decode(),
        "blsgen_arrival": arrived[max(arrived)].decode(),
        "datausa_full_shape": json.dumps({
            "data": [_datausa(2019, 328239523), _datausa(2018, 327167434)],
            "source": [{"measures": ["Population"], "annotations": {}}],
        }),
        "shuffled_key_order": json.dumps({"data": [
            {"Population": 316128839, "Year": 2013, "Nation": "United States"},
            {"Nation": "United States", "Year": 2014, "Population": 318857056},
            {"Year": 2015, "Nation": "United States", "Population": 321418821},
        ]}),
        "missing_field": json.dumps({"data": [
            {"Nation": "United States", "Year": 2013, "Population": 316128839},
            {"Nation": "United States", "Year": 2014},
            {"Year": 2015, "Population": 321418821},
        ]}),
        "int_and_float_population": json.dumps({"data": [
            _datausa(2013, 316128839), _datausa(2014, 318857056.5),
            _datausa(2015, 321418821), _datausa(2016, 3.2312751e8),
        ]}),
        "no_record_field": json.dumps({"Year": 2013, "Population": 316128839}),
        "malformed": '{"data": [{"Year": 2013, ',
    }


@pytest.mark.parametrize("name", sorted(_population_docs()))
def test_read_json_records_matches_json_source(spark, tmp_path, name):
    """The driver-parsed population relation equals what the JSON source
    infers for the document (a multiLine read plus the explode of the
    record array): same columns in the same order, same types, same
    rows. The order matters: the report takes the FIRST column whose
    name contains "year" / "population"."""
    text = _population_docs()[name]
    p = tmp_path / "population_data_20240101_000000.json"
    p.write_text(text)
    raw = spark.read.option("multiLine", True).json(str(p))
    if "data" in raw.columns:
        raw = raw.select(F.explode(F.col("data")).alias("_rec")).select("_rec.*")
    df = read_json_records(spark, str(p))
    assert df.schema == raw.schema
    if raw.columns == ["_corrupt_record"]:
        # the JSON source refuses a query of its corrupt-record column alone
        assert df.collect() == [(text,)]
    else:
        assert df.collect() == raw.collect()
