"""Scans / sources (SURVEY.md §2.1).

- S8  padded tab-separated TSV  -> ``read_padded_tsv``
- S9  JSON-records document     -> ``read_json_records``
- parquet star-schema tables    -> ``read_parquet_tables``

All readers return lazy DataFrames; filters and projections applied by
callers push down into the scans (Catalyst `PushedFilters`/`ReadSchema`).
``read_json_records``, and ``read_padded_tsv`` given a schema, run no
Spark job while building the frame (without a schema, one job reads the
header).
"""

from __future__ import annotations

import os
import re

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from blspark.clean import strip_column_names

# Fixed layout of the BLS `pr.data.0.Current` observations file
# (SURVEY.md §1.4; reference notebook cell 6c34ff05). Read as strings and
# coerce afterwards — the raw file pads both headers and values.
BLS_RAW_SCHEMA = T.StructType(
    [
        T.StructField("series_id", T.StringType()),
        T.StructField("year", T.StringType()),
        T.StructField("period", T.StringType()),
        T.StructField("value", T.StringType()),
        T.StructField("footnote_codes", T.StringType()),
    ]
)


def read_padded_tsv(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> DataFrame:
    """Tab-separated scan with whitespace-padded headers (reference
    report_processor.py:22-31 reads with ``pd.read_csv(sep='\\t')`` and the
    header padding survives). We strip header names on read; cell values
    keep their padding for the cleaning layer to trim, matching the
    reference order of operations."""
    reader = spark.read.option("sep", "\t").option("header", True)
    if schema is not None:
        # The header line is still skipped; the names come from the
        # schema, so no job probes the padded header.
        df = reader.schema(schema).csv(path)
    else:
        df = reader.option("inferSchema", False).csv(path)
    return strip_column_names(df)


def read_json_records(
    spark: SparkSession, path: str, record_field: str = "data"
) -> DataFrame:
    """JSON-records scan: one JSON document holding an array of records
    under ``record_field`` (reference report_processor.py:34-45 /
    Task2_Fetch_api_data.py payload ``{"data": [...], "source": [...]}``).

    A multiLine document is parsed whole by one task anyway, so the
    driver reads it (as the reference's ``json.loads`` does) and hands
    the text to Spark as a literal: ``schema_of_json`` infers the schema
    with the JSON source's own rules (sorted fields, widened types) and
    ``from_json`` parses it while the plan is optimized. Columns, order,
    types and rows match ``spark.read.option("multiLine", True).json``
    plus the explode, but building runs no Spark job, and the frame is a
    one-partition relation that snapshots the document as read now. A
    document Spark cannot parse yields the reader's one-row
    ``_corrupt_record`` frame; one without ``record_field`` yields its
    top-level fields as one row."""
    with open(path, encoding="utf-8-sig") as f:
        text = f.read()
    try:
        doc = spark.sql(
            "SELECT d.* FROM (SELECT from_json(:doc, schema_of_json(:doc)) AS d)",
            args={"doc": text},
        )
    except AnalysisException:
        corrupt = spark.conf.get("spark.sql.columnNameOfCorruptRecord")
        return spark.createDataFrame(
            [(text,)], T.StructType([T.StructField(corrupt, T.StringType())])
        )
    if record_field not in doc.columns:
        return doc
    return doc.select(F.explode(F.col(record_field)).alias("_rec")).select("_rec.*")


_BYTE_SHIFT = {"": 0, "b": 0, "k": 10, "kb": 10, "m": 20, "mb": 20,
               "g": 30, "gb": 30, "t": 40, "tb": 40, "p": 50, "pb": 50}


def _conf_bytes(spark: SparkSession, key: str) -> int:
    """A byte-size conf (``"134217728b"``, ``"64k"``, ``"4MB"``) in bytes."""
    value = spark.conf.get(key).strip().lower()
    n, unit = re.fullmatch(r"(\d+)\s*([a-z]*)", value).groups()
    return int(n) << _BYTE_SHIFT[unit]


def _one_split(spark: SparkSession, path: str) -> bool:
    """Whether Spark scans the single file ``path`` as one partition:
    ``FilePartition.maxSplitBytes`` over the file's size. A file splits
    into chunks of ``min(maxPartitionBytes, max(openCostInBytes,
    (size + openCostInBytes) / minPartitionNum))`` bytes, so any file of
    at most ``openCostInBytes`` (4 MB by default) is one split."""
    size = os.path.getsize(path)
    open_cost = _conf_bytes(spark, "spark.sql.files.openCostInBytes")
    min_parts = int(
        spark.conf.get("spark.sql.files.minPartitionNum", None)
        or spark.conf.get("spark.sql.leafNodeDefaultParallelism", None)
        or spark.sparkContext.defaultParallelism
    )
    split = min(
        _conf_bytes(spark, "spark.sql.files.maxPartitionBytes"),
        max(open_cost, (size + open_cost) // min_parts),
    )
    return size <= split


def read_parquet_tables(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] | None = None
) -> dict[str, DataFrame]:
    """Load the driver's star-schema parquet tables as a dict of lazy
    DataFrames (TESTDATA.md)."""
    from blspark.catalog import TABLES

    return {t: spark.read.parquet(f"{sf_dir}/{t}.parquet") for t in (tables or TABLES)}
