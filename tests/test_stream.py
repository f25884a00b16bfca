"""Structured Streaming file-arrival pipeline (SURVEY.md §2.9 T1-T4):
files landing in a directory are picked up per-trigger; foreachBatch
re-runs the report (idempotent full recompute); checkpointing makes
re-runs exactly-once (already-seen files are not reprocessed)."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from blspark.stream import file_arrival_stream, run_available_now

SCHEMA = T.StructType(
    [
        T.StructField("Year", T.IntegerType()),
        T.StructField("Population", T.DoubleType()),
    ]
)


def _write(path, rows):
    import json

    with open(path, "w") as f:
        for year, pop in rows:
            f.write(json.dumps({"Year": year, "Population": pop}) + "\n")


def test_file_arrival_available_now(spark, tmp_path):
    inbox = tmp_path / "inbox"
    inbox.mkdir()
    _write(inbox / "population_data_20240101_000000.json", [(2013, 1.0), (2014, 2.0)])

    stream = file_arrival_stream(
        spark, str(inbox), SCHEMA, fmt="json", glob="population_data_*.json"
    )
    name = run_available_now(stream.groupBy().agg(F.sum("Population").alias("total")),
                             output_mode="complete")
    assert spark.table(name).first()["total"] == 3.0


def test_checkpoint_exactly_once_and_batch_fn(spark, tmp_path):
    inbox = tmp_path / "inbox"
    ckpt = tmp_path / "ckpt"
    inbox.mkdir()
    seen: list[tuple[int, int]] = []

    def batch_fn(df, epoch_id):
        seen.append((epoch_id, df.count()))

    _write(inbox / "population_data_20240101_000000.json", [(2013, 1.0)])
    stream = file_arrival_stream(
        spark, str(inbox), SCHEMA, fmt="json", glob="population_data_*.json"
    )
    run_available_now(stream, batch_fn=batch_fn, checkpoint_dir=str(ckpt))
    assert sum(n for _, n in seen) == 1

    # second file arrives; re-run with the same checkpoint -> only the
    # NEW file is processed (exactly-once over the file source, T3)
    _write(inbox / "population_data_20240102_000000.json", [(2014, 2.0), (2015, 3.0)])
    stream2 = file_arrival_stream(
        spark, str(inbox), SCHEMA, fmt="json", glob="population_data_*.json"
    )
    run_available_now(stream2, batch_fn=batch_fn, checkpoint_dir=str(ckpt))
    assert sum(n for _, n in seen) == 3  # 1 + 2 new rows, old file not re-read

    # non-matching file names are ignored by the glob (the reference's
    # .json suffix filter, stack.py:101)
    _write(inbox / "unrelated.json", [(2016, 4.0)])
    stream3 = file_arrival_stream(
        spark, str(inbox), SCHEMA, fmt="json", glob="population_data_*.json"
    )
    run_available_now(stream3, batch_fn=batch_fn, checkpoint_dir=str(ckpt))
    assert sum(n for _, n in seen) == 3


def test_watermark_append_mode_emits_closed_windows(spark, tmp_path):
    """Late-data handling: append-mode windowed aggregation only emits a
    window once the watermark (max event time - delay) passes its end.
    Run 1 seeds the watermark; run 2's later data closes run 1's windows
    and they appear in the sink exactly once."""
    import json

    inbox = tmp_path / "inbox"
    ckpt = tmp_path / "ckpt"
    out_rows: list[tuple] = []
    inbox.mkdir()

    def write_events(name, ts_list):
        with open(inbox / name, "w") as f:
            for ts, v in ts_list:
                f.write(json.dumps({"ts": ts, "v": v}) + "\n")

    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField("ts", T.TimestampType()), T.StructField("v", T.DoubleType())]
    )

    def run_once():
        from pyspark.sql import functions as F

        stream = (
            spark.readStream.format("json").schema(schema).load(str(inbox))
        )
        agg = (
            stream.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count("*").alias("n"))
            .select(F.col("w.start").alias("ws"), "n")
        )
        q = (
            agg.writeStream.trigger(availableNow=True)
            .outputMode("append")
            .option("checkpointLocation", str(ckpt))
            .foreachBatch(
                lambda df, eid: out_rows.extend(
                    (r["ws"].isoformat(), r["n"]) for r in df.collect()
                )
            )
            .start()
        )
        q.awaitTermination(120)

    write_events("a.json", [("2024-01-01T10:05:00", 1.0), ("2024-01-01T10:40:00", 2.0)])
    run_once()
    assert out_rows == []  # window 10:00-11:00 still open (watermark 10:30)

    # event at 12:00 pushes the watermark past 11:00 -> 10:00 window closes
    write_events("b.json", [("2024-01-01T12:00:00", 3.0)])
    run_once()
    assert out_rows == [("2024-01-01T10:00:00", 2)]


def test_stream_stream_interval_join(spark, tmp_path):
    """Watermarked stream-stream join: clicks joined to purchases within
    1 hour, both sides streaming. State is bounded by the watermarks;
    results match the equivalent batch interval join."""
    import json

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    inbox = tmp_path / "ev"
    inbox.mkdir()
    rows = [
        (1, "2024-01-01T10:00:00", "click", 100),
        (1, "2024-01-01T10:30:00", "purchase", 101),  # within 1h of click
        (1, "2024-01-01T12:00:00", "purchase", 102),  # too late
        (2, "2024-01-01T10:00:00", "purchase", 103),  # no prior click
        (2, "2024-01-01T10:10:00", "click", 104),
        (2, "2024-01-01T10:20:00", "purchase", 105),  # match
    ]
    with open(inbox / "events.json", "w") as f:
        for uid, ts, et, eid in rows:
            f.write(json.dumps({"user_id": uid, "ts": ts, "event_type": et, "event_id": eid}) + "\n")

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("event_id", T.LongType()),
        ]
    )
    src = spark.readStream.format("json").schema(schema).load(str(inbox))
    clicks = (
        src.filter(F.col("event_type") == "click")
        .withWatermark("ts", "2 hours")
        .select("user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("c_ts"))
    )
    purchases = (
        src.filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "2 hours")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
    )
    joined = clicks.join(
        purchases,
        (F.col("p_user") == F.col("user_id"))
        & (F.col("p_ts") > F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 1 HOUR")),
    ).select("click_id", "purchase_id")

    name = "ssj_out"
    q = (
        joined.writeStream.trigger(availableNow=True)
        .outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    q.awaitTermination(120)
    got = {(r["click_id"], r["purchase_id"]) for r in spark.table(name).collect()}
    assert got == {(100, 101), (104, 105)}


def test_stream_dedup_exact_equals_batch(spark):
    """The streaming dedup query's drained result matches the batch
    exact-dedup over the same corpus file."""
    from blspark.catalog import registry
    from blspark.ext.dedup import exact_dedup_keys
    from tests.conftest import SF_SMOKE

    got = registry()["s_stream_dedup_exact"].spark_fn(spark, SF_SMOKE)
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    want = exact_dedup_keys(docs, "doc_id", "text").withColumnRenamed(
        "digest", "digest"
    )
    a = sorted(map(tuple, got.select("digest", "keep_id", "n_copies").collect()))
    b = sorted(map(tuple, want.select("digest", "keep_id", "n_copies").collect()))
    assert a == b


def test_stream_quality_ingest_equals_batch(spark):
    """The streaming ingest preprocessor's drained result matches the
    same stateless transform over the static documents frame."""
    from blspark.catalog import registry
    from blspark.queries.streaming_q import _quality_ingest_transform
    from tests.conftest import SF_SMOKE

    got = registry()["s_stream_quality_ingest"].spark_fn(spark, SF_SMOKE)
    want = _quality_ingest_transform(
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    )
    cols = ["doc_id", "lang", "shard", "n_words"]
    a = sorted(map(tuple, got.select(*cols).collect()))
    b = sorted(map(tuple, want.select(*cols).collect()))
    assert len(a) > 0 and a == b


def test_stream_interval_join_equals_batch(spark):
    """The watermarked stream-stream interval join drains to exactly the
    batch interval join's result over the same events file."""
    from blspark.catalog import registry
    from tests.conftest import SF_SMOKE

    reg = registry()
    cols = ["user_id", "click_id", "purchase_id", "delay_us"]
    got = reg["s_stream_interval_join"].spark_fn(spark, SF_SMOKE)
    want = reg["q_events_interval_join"].spark_fn(spark, SF_SMOKE)
    a = sorted(map(tuple, got.select(*cols).collect()))
    b = sorted(map(tuple, want.select(*cols).collect()))
    assert a == b and len(a) > 0


def test_stream_user_profile_tws_equals_batch(spark):
    """The stateful per-user profile stream (transformWithStateInPandas
    when google.protobuf is available, applyInPandasWithState fallback
    otherwise) drains to the batch conditional-aggregation result."""
    from pyspark.sql import functions as F

    from blspark.catalog import load_table, registry
    from tests.conftest import SF_SMOKE

    provider_key = "spark.sql.streaming.stateStore.providerClass"
    provider_before = spark.conf.get(provider_key, None)
    got = registry()["s_stream_user_profile_tws"].spark_fn(spark, SF_SMOKE)
    # the RocksDB provider the TWS path needs must not leak into the
    # shared session (order-dependent side effect on later stateful runs)
    assert spark.conf.get(provider_key, None) == provider_before
    want = (
        load_table(spark, SF_SMOKE, "events")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.count_if(F.col("event_type") == "purchase").alias("n_purchases"),
        )
    )
    cols = ["user_id", "n_events", "n_purchases"]
    a = sorted(map(tuple, got.select(*cols).collect()))
    b = sorted(map(tuple, want.select(*cols).collect()))
    assert len(a) > 0 and a == b


def test_stream_dedup_within_watermark_equals_batch_distinct(spark):
    """The watermark-bounded streaming dedup's surviving key set equals
    the batch distinct over the same file (single availableNow batch =
    all duplicates inside one watermark window)."""
    from blspark.catalog import load_table, registry
    from tests.conftest import SF_SMOKE

    got = registry()["s_stream_dedup_within_watermark"].spark_fn(spark, SF_SMOKE)
    want = (
        load_table(spark, SF_SMOKE, "events")
        .select("user_id", "event_type")
        .distinct()
    )
    a = sorted(map(tuple, got.collect()))
    b = sorted(map(tuple, want.collect()))
    assert len(a) > 0 and a == b


def test_stream_enrich_static_equals_batch(spark):
    """Stream-static broadcast enrichment drains to the batch left-join
    result over the same file."""
    from pyspark.sql import functions as F

    from blspark.catalog import load_table, registry
    from tests.conftest import SF_SMOKE

    got = registry()["s_stream_enrich_static"].spark_fn(spark, SF_SMOKE)
    ev = load_table(spark, SF_SMOKE, "events")
    dim = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count("*").alias("user_purchases"))
    )
    want = (
        ev.filter(F.col("event_type") == "click")
        .join(dim, "user_id", "left")
        .select(
            "event_id",
            "user_id",
            F.coalesce(F.col("user_purchases"), F.lit(0)).alias("user_purchases"),
        )
    )
    a = sorted(map(tuple, got.collect()))
    b = sorted(map(tuple, want.collect()))
    assert len(a) > 0 and a == b


def test_watermark_drops_late_rows_for_closed_windows(spark, tmp_path):
    """A row older than the watermark whose window already closed is
    DROPPED: the closed window is never re-emitted and the late row
    never appears in any append-mode output."""
    import json

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    inbox = tmp_path / "inbox"
    ckpt = tmp_path / "ckpt"
    inbox.mkdir()
    out_rows: list[tuple] = []

    schema = T.StructType(
        [T.StructField("ts", T.TimestampType()), T.StructField("v", T.DoubleType())]
    )

    def write_events(name, ts_list):
        with open(inbox / name, "w") as f:
            for ts, v in ts_list:
                f.write(json.dumps({"ts": ts, "v": v}) + "\n")

    def run_once():
        stream = spark.readStream.format("json").schema(schema).load(str(inbox))
        agg = (
            stream.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count("*").alias("n"))
            .select(F.col("w.start").alias("ws"), "n")
        )
        q = (
            agg.writeStream.trigger(availableNow=True)
            .outputMode("append")
            .option("checkpointLocation", str(ckpt))
            .foreachBatch(
                lambda df, eid: out_rows.extend(
                    (r["ws"].isoformat(), r["n"]) for r in df.collect()
                )
            )
            .start()
        )
        q.awaitTermination(120)

    write_events("a.json", [("2024-01-01T10:05:00", 1.0)])
    run_once()
    write_events("b.json", [("2024-01-01T12:00:00", 2.0)])
    run_once()  # closes + emits the 10:00 window with n=1
    assert out_rows == [("2024-01-01T10:00:00", 1)]

    # a LATE row for the closed 10:00 window (watermark is 11:50)
    write_events("c.json", [("2024-01-01T10:30:00", 9.0)])
    run_once()
    # no re-emission, no correction — the late row is silently dropped
    assert out_rows == [("2024-01-01T10:00:00", 1)]

    # and the 12:00 window still closes with n=1 (the late row did not
    # leak into any other window either)
    write_events("d.json", [("2024-01-01T14:00:00", 4.0)])
    run_once()
    assert ("2024-01-01T12:00:00", 1) in out_rows
    assert len(out_rows) == 2


def test_stream_interval_join_outer_matches_batch(spark):
    """LEFT OUTER stream-stream interval join == the batch LEFT JOIN:
    the watermark-epilogue flush (two typed sentinel advancer events)
    must surface EVERY unmatched click as a null row, including the
    youngest ones whose windows only close past the natural final
    watermark. Inner rows must equal the inner variant's output."""
    from blspark.catalog import registry
    from tests.conftest import SF_SMOKE as SF_ORACLE

    reg = registry()
    outer = [
        (r.user_id, r.click_id, r.purchase_id, r.delay_us)
        for r in reg["s_stream_interval_join_outer"]
        .spark_fn(spark, SF_ORACLE)
        .collect()
    ]
    inner = {
        (r.user_id, r.click_id, r.purchase_id, r.delay_us)
        for r in reg["s_stream_interval_join"]
        .spark_fn(spark, SF_ORACLE)
        .collect()
    }
    matched = {t for t in outer if t[2] is not None}
    nulls = [t for t in outer if t[2] is None]
    assert matched == inner  # outer ⊇ inner, matched rows identical
    assert nulls  # unmatched clicks do surface
    # a click is either matched or null-rowed, never both
    null_clicks = {t[1] for t in nulls}
    assert null_clicks.isdisjoint({t[1] for t in matched})


def test_outer_join_flush_is_host_tz_independent():
    """Regression for the code-review r5 finding: the watermark-advancer
    sentinels were built from a naive driver-local datetime, shifting
    the epilogue flush by the host's UTC offset (silently dropping the
    youngest outer nulls on any non-UTC host). The fix builds them from
    epoch micros. Proven here by running the operator in a subprocess
    pinned to TZ=America/Los_Angeles and asserting row-count parity
    with the batch LEFT JOIN (counts are tz-representation-immune)."""
    import os
    import subprocess
    import sys

    from pathlib import Path

    from tests.conftest import SF_SMOKE

    code = r"""
import os
from pyspark.sql import SparkSession, functions as F
spark = (SparkSession.builder.master("local[4]")
         .config("spark.sql.shuffle.partitions", "8")
         .config("spark.sql.session.timeZone", "Etc/UTC")
         .config("spark.ui.enabled", "false").getOrCreate())
from blspark.catalog import load_table, registry
SF = os.environ["BLSPARK_TZTEST_SF"]
n_stream = registry()["s_stream_interval_join_outer"].spark_fn(spark, SF).count()
ev = load_table(spark, SF, "events")
c = ev.filter(F.col("event_type") == "click").select(
    "user_id", F.col("event_id").alias("cid"), F.col("ts").alias("cts"))
p = ev.filter(F.col("event_type") == "purchase").select(
    F.col("user_id").alias("pu"), F.col("event_id").alias("pid"), F.col("ts").alias("pts"))
n_batch = c.join(p, (F.col("pu") == F.col("user_id"))
    & (F.col("pts") > F.col("cts"))
    & (F.col("pts") <= F.col("cts") + F.expr("INTERVAL 1 HOUR")), "left").count()
assert n_stream == n_batch, (n_stream, n_batch)
print("TZ_OK", n_stream)
"""
    repo_root = str(Path(__file__).resolve().parents[1])
    env = dict(
        os.environ,
        TZ="America/Los_Angeles",
        PYTHONPATH=repo_root,
        BLSPARK_TZTEST_SF=SF_SMOKE,
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert "TZ_OK" in out.stdout, out.stdout[-500:] + out.stderr[-1500:]


def test_parse_s3_event_envelope():
    """T5: the literal S3-event envelope walk the reference's Lambda
    performs (report_processor.py:294-309) — nested Records -> (bucket,
    key) pairs, JSON string or pre-parsed dict, with the reference's
    own no-Records guard; malformed records skip rather than raise."""
    import json

    from blspark.stream import parse_s3_event

    body = {
        "Records": [
            {
                "s3": {
                    "bucket": {"name": "bls-data"},
                    "object": {"key": "reports/population.json"},
                }
            },
            {
                "s3": {
                    "bucket": {"name": "bls-data"},
                    "object": {"key": "pr/pr.data.0.Current"},
                }
            },
        ]
    }
    want = [
        ("bls-data", "reports/population.json"),
        ("bls-data", "pr/pr.data.0.Current"),
    ]
    assert parse_s3_event(body) == want
    assert parse_s3_event(json.dumps(body)) == want
    # the reference's `if 'Records' in body` guard: no Records -> []
    assert parse_s3_event({"Event": "s3:TestEvent"}) == []
    # malformed record (missing object key) skips, others survive
    assert parse_s3_event(
        {"Records": [{"s3": {"bucket": {"name": "b"}}}, body["Records"][0]]}
    ) == [("bls-data", "reports/population.json")]
    # malformed top-level bodies return [] instead of raising
    assert parse_s3_event("[]") == []
    assert parse_s3_event('"s3:TestEvent"') == []
    # a string body that isn't valid JSON at all also yields []
    # (ADVICE r14: previously raised JSONDecodeError)
    assert parse_s3_event("not json at all") == []
    assert parse_s3_event("") == []
    assert parse_s3_event({"Records": "nope"}) == []
    assert parse_s3_event({"Records": ["nope", body["Records"][0]]}) == [
        ("bls-data", "reports/population.json")
    ]
    # records whose s3/bucket/object are not objects, or whose key is
    # not a string, skip instead of raising
    bad = [
        {"s3": "oops"},
        {"s3": {"bucket": "b", "object": {"key": "k"}}},
        {"s3": {"bucket": {"name": "b"}, "object": {"key": 5}}},
    ]
    assert parse_s3_event({"Records": bad + [body["Records"][0]]}) == [
        ("bls-data", "reports/population.json")
    ]
    # real envelopes URL-encode keys; the parser decodes them
    assert parse_s3_event(
        {"Records": [{"s3": {"bucket": {"name": "b"},
                             "object": {"key": "my+report%2B1.json"}}}]}
    ) == [("b", "my report+1.json")]
