"""Structured Streaming replacements for the reference's AWS event
plumbing (SURVEY.md §2.9).

The reference wires S3 ObjectCreated -> SQS -> Lambda with batch_size=1
and at-least-once delivery (data_pipeline_stack.py:99-125). The
Spark-native equivalent is a file-source stream with checkpointing
(exactly-once — strictly stronger, T3) + ``foreachBatch`` running the
same batch queries per arrival (T4's idempotent full recompute), with
``Trigger.AvailableNow`` standing in for the EventBridge cron (T1).
"""

from __future__ import annotations

import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def file_arrival_stream(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    fmt: str = "parquet",
    glob: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-arrival source: new files under ``path`` become micro-batches.
    ``glob`` mirrors the reference's `.json`-suffix event filter
    (data_pipeline_stack.py:101); ``max_files_per_trigger=1`` mirrors
    SQS batch_size=1 (:103)."""
    reader = spark.readStream.format(fmt).schema(schema)
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(path)


def run_available_now(
    stream_df: DataFrame,
    batch_fn: Callable[[DataFrame, int], None] | None = None,
    checkpoint_dir: str | None = None,
    query_name: str | None = None,
    output_mode: str = "append",
    timeout_s: int = 120,
):
    """Drain everything currently available (the scheduled-batch trigger,
    T1) and stop. With ``batch_fn``, runs it per micro-batch via
    foreachBatch (the reference's per-event report recompute, T4);
    otherwise results land in an in-memory table named ``query_name``."""
    name = query_name or f"blspark_{uuid.uuid4().hex[:8]}"
    writer = stream_df.writeStream.trigger(availableNow=True).outputMode(output_mode)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if batch_fn is not None:
        writer = writer.foreachBatch(batch_fn)
    else:
        writer = writer.format("memory").queryName(name)
    q = writer.start()
    finished = q.awaitTermination(timeout_s)
    if not finished:
        # a partial drain must never masquerade as a completed one:
        # callers fold per-batch results into final answers (e.g. the
        # CDC upsert mirror) and would silently return wrong data
        q.stop()
        raise TimeoutError(
            f"availableNow drain did not finish within {timeout_s}s"
        )
    return name


def parse_s3_event(body: str | dict) -> list[tuple[str, str]]:
    """Parse an S3 ObjectCreated event envelope (the JSON an SQS record
    body carries) into ``[(bucket, key), ...]`` — the reference's
    envelope walk (report_processor.py:294-309: ``json.loads(body)``,
    then ``body['Records'][i]['s3']['bucket']['name']`` /
    ``['s3']['object']['key']``), T5 in SURVEY.md §2.9.

    Spark's file source subsumes the MECHANISM (arrival detection is
    the stream source's job, so no registered query needs this), but
    the literal parse is part of the reference's operator surface;
    a caller bridging real S3 notifications into a custom source
    would use it verbatim. Missing/malformed records are skipped (a
    record counts only when ``s3``, its ``bucket`` and its ``object``
    are objects and the bucket name and the key are strings) —
    the reference iterates only over what's present and guards with
    ``if 'Records' in body``; a body with no Records (or a body that
    isn't a JSON object — including a string that isn't valid JSON at
    all) yields [].

    One deliberate improvement over the reference: S3 notification
    envelopes URL-ENCODE the object key ('my report.json' arrives as
    'my+report.json'), which the reference consumes raw — a latent
    wrong-key fetch its test events never trip. Keys here are decoded
    with ``unquote_plus`` so the returned key names the real object."""
    import json
    from urllib.parse import unquote_plus

    if isinstance(body, str):
        try:
            body = json.loads(body)
        except json.JSONDecodeError:
            return []
    if not isinstance(body, dict):
        return []
    out: list[tuple[str, str]] = []
    records = body.get("Records", [])
    if not isinstance(records, list):
        return []
    for rec in records:
        s3 = rec.get("s3") if isinstance(rec, dict) else None
        if not isinstance(s3, dict):
            continue
        bucket, obj = s3.get("bucket"), s3.get("object")
        if not (isinstance(bucket, dict) and isinstance(obj, dict)):
            continue
        name, key = bucket.get("name"), obj.get("key")
        if isinstance(name, str) and isinstance(key, str):
            out.append((name, unquote_plus(key)))
    return out
