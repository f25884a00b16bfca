"""Object-store manifest scans (SURVEY.md §2.1 S1-S3, S10).

The reference builds `{key: etag}` dicts from S3 listings and file-name
lists from an HTML index (sync_and_fetch.py:49-93). Here a manifest is a
DataFrame ``(key string, md5 string, size long)`` built either from a
local directory (distributed via Spark's binaryFile source — content
hashing runs on executors, not the driver) or from an in-memory listing.
At 100 TB scale the binaryFile scan distributes naturally: one task per
file group, checksum computed where the bytes are read.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def file_manifest(spark: SparkSession, directory: str, glob: str = "*") -> DataFrame:
    """Manifest of a directory: (key, md5, size). Uses the binaryFile
    source so MD5s are computed executor-side (`F.md5` over content) —
    the Spark-native version of the reference's streamed-MD5 fetch
    (sync_and_fetch.py:96-115)."""
    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .option("recursiveFileLookup", False)
        .load(directory)
    )
    base = directory.rstrip("/") + "/"
    return df.select(
        F.replace(
            F.replace(F.col("path"), F.lit("file:" + base), F.lit("")),
            F.lit("file://" + base),
            F.lit(""),
        ).alias("key"),
        F.md5(F.col("content")).alias("md5"),
        F.col("length").alias("size"),
    )


def listing_manifest(spark: SparkSession, entries: dict[str, str]) -> DataFrame:
    """Manifest from an in-memory `{key: checksum}` listing (the shape the
    reference gets from `s3.list_objects_v2` — sync_and_fetch.py:84-93).
    Built from Arrow, so the plan is a JVM local relation rather than a
    Python-RDD scan that starts a Python worker on every action."""
    import pyarrow as pa

    keys = sorted(entries)
    table = pa.table(
        {"key": keys, "md5": [entries[k] for k in keys]},
        schema=pa.schema([("key", pa.string()), ("md5", pa.string())]),
    )
    return spark.createDataFrame(table, "key string, md5 string")


def newest_key(df: DataFrame, prefix: str, suffix: str, key: str = "key") -> str | None:
    """Newest-file selection: lexicographic max over keys matching
    prefix/suffix — works because the reference's timestamp format sorts
    (report_processor.py:66-67). One-row aggregate, no driver loop."""
    row = (
        df.filter(F.col(key).startswith(prefix) & F.col(key).endswith(suffix))
        .agg(F.max(key).alias("k"))
        .first()
    )
    return row["k"] if row else None


def local_listing(directory: str) -> list[str]:
    """Driver-side directory listing helper (replaces the reference's
    HTML-index scrape, sync_and_fetch.py:49-81, for local filesystems)."""
    return sorted(
        f for f in os.listdir(directory) if os.path.isfile(os.path.join(directory, f))
    )
