"""End-to-end jobs — the reference's two entry points (SURVEY.md §3).

EP1 `sync_and_fetch.handler` -> ``sync_job`` + ``fetch_population_job``:
mirror a remote file set (HTML-indexed URL or local directory) into a
mirror directory via the MERGE classification, then fetch the population
API payload into a timestamped JSON document.

EP2 `report_processor.handler` -> ``report_job``: discover the BLS data
file and the newest population document in the mirror, load + clean
both, run Q1/Q2/Q3, and return the three reports (DataFrames plus the
reference's record-dict response shape).

Everything is local-filesystem-backed and fetcher-injectable so the full
pipeline runs (and is tested) offline; on a cluster the same code points
at object-store paths.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession

from blspark.clean import coerce_numeric, resolve_column, trim_string_columns
from blspark.io.ingest import fetch_url_with_md5, stage_remote_distributed
from blspark.io.manifest import file_manifest, local_listing
from blspark.io.readers import (
    BLS_RAW_SCHEMA,
    _one_split,
    read_json_records,
    read_padded_tsv,
)
from blspark.io.sinks import timestamped_name
from blspark.queries.bls import best_years, combined_report, population_stats
from blspark.sync import apply_mirror_local, classify_mirror


def sync_job(
    spark: SparkSession,
    source: str,
    mirror_dir: str,
    fetch: Callable[[str], bytes] | None = None,
) -> dict[str, int]:
    """EP1 part 1 — mirror sync (reference sync_and_fetch.py:135-198).
    ``source`` is a local directory or an HTML-indexed base URL; the
    mirror converges via insert/update/skip/delete classification."""
    os.makedirs(mirror_dir, exist_ok=True)
    if os.path.isdir(source):
        remote = file_manifest(spark, source)
        src_dir = source
    else:
        # stage remote files EXECUTOR-SIDE (mapInPandas over the URL
        # frame — the bodies never pass through the driver) so apply
        # can copy them; one download serves both manifest and staging
        src_dir = os.path.join(mirror_dir, "..", "_staging")
        os.makedirs(src_dir, exist_ok=True)
        remote = stage_remote_distributed(spark, source, src_dir, fetch=fetch)
    mirror = file_manifest(spark, mirror_dir) if os.listdir(mirror_dir) else None
    if mirror is None:
        from blspark.io.manifest import listing_manifest

        mirror = listing_manifest(spark, {})
    plan = classify_mirror(remote, mirror)
    return apply_mirror_local(plan, src_dir, mirror_dir)


def fetch_population_job(
    mirror_dir: str,
    api_url: str = "https://datausa.io/api/data?drilldowns=Nation&measures=Population",
    fetch: Callable[[str], bytes] | None = None,
    now: datetime | None = None,
) -> str | None:
    """EP1 part 2 — population fetch (reference Task2_Fetch_api_data.py:
    13-42): GET the API, store the raw JSON under a timestamped name.
    Returns the written file name, or None on failure (graceful
    degradation)."""
    try:
        body, _ = fetch_url_with_md5(api_url, fetch=fetch)
        json.loads(body)  # validate
    except Exception:
        return None
    name = timestamped_name("population_data", now=now)
    with open(os.path.join(mirror_dir, name), "w") as f:
        f.write(body.decode("utf-8"))
    return name


def report_job(spark: SparkSession, data_dir: str) -> dict:
    """EP2 — the event-driven report (reference report_processor.py:
    284-353): discovery (S10), load (S8/S9), clean (P2-P8), Q1-Q3.

    Building the three frames runs no Spark job: the BLS file is read
    with its known layout ``BLS_RAW_SCHEMA`` (no header probe), and the
    population document is parsed on the driver into a one-partition
    relation that snapshots the document as it is now. When Spark scans
    the BLS file as one partition anyway (Spark's own split rule; any
    file up to ``spark.sql.files.openCostInBytes``, 4 MB by default,
    which covers the real ``pr.data.0.Current``), the cleaned frame is
    coalesced to that one partition, so Q2's two aggregations and the
    Q2/Q3 sorts need no exchange: collecting Q1, Q2 and Q3 runs 4 jobs
    (Q3's broadcast plus one result job each). A file spanning several
    splits keeps the distributed plan."""
    files = local_listing(data_dir)
    bls_file = next((f for f in files if "pr.data.0.Current" in f), None)
    # newest_key's rule (lexicographic max over prefix/suffix matches)
    # applied to the listing the driver already holds — no Spark job
    pop_file = max(
        (
            f
            for f in files
            if f.startswith("population_data_") and f.endswith(".json")
        ),
        default=None,
    )

    df_bls = None
    if bls_file:
        path = os.path.join(data_dir, bls_file)
        raw = read_padded_tsv(spark, path, BLS_RAW_SCHEMA)
        df_bls = coerce_numeric(
            trim_string_columns(raw), {"year": "int", "value": "double"}
        )
        if _one_split(spark, path):
            df_bls = df_bls.coalesce(1)

    df_pop = None
    if pop_file:
        pop_raw = read_json_records(spark, os.path.join(data_dir, pop_file))
        year_col = resolve_column(pop_raw, "year")
        pop_col = resolve_column(pop_raw, "population")
        if year_col and pop_col:
            df_pop = coerce_numeric(
                pop_raw.withColumnRenamed(year_col, "Year").withColumnRenamed(
                    pop_col, "Population"
                ),
                {"Year": "int", "Population": "double"},
            ).coalesce(1)

    out: dict[str, DataFrame | None] = {
        "population_stats": population_stats(df_pop) if df_pop is not None else None,
        "best_years": best_years(df_bls) if df_bls is not None else None,
        "combined_report": (
            combined_report(df_bls, df_pop) if df_bls is not None else None
        ),
    }
    return out


def run_report_on_arrival(
    spark: SparkSession,
    data_dir: str,
    checkpoint_dir: str,
    results: list | None = None,
):
    """EP2 trigger wiring (T2/T4): new population_data_*.json files drive
    a full report recompute per micro-batch — the Structured Streaming
    replacement for S3->SQS->Lambda."""
    from pyspark.sql import types as T

    from blspark.stream import file_arrival_stream, run_available_now

    sink: list = results if results is not None else []
    schema = T.StructType([T.StructField("value", T.StringType())])  # text source
    stream = file_arrival_stream(
        spark,
        data_dir,
        schema,
        fmt="text",
        glob="population_data_*.json",
        max_files_per_trigger=1,
    )

    def on_batch(df: DataFrame, epoch_id: int) -> None:
        if df.isEmpty():
            return
        sink.append(report_job(spark, data_dir))

    run_available_now(stream, batch_fn=on_batch, checkpoint_dir=checkpoint_dir)
    return sink
