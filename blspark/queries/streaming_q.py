"""Streaming pipeline queries. Under trigger(availableNow=True) over a
single input file every query drains in one deterministic micro-batch,
so each has a full DuckDB oracle (round 3 — previously rows-only) in
addition to the batch-equivalence tests in tests/test_stream.py."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from blspark.catalog import normalize_event_ts, register
from blspark.stream import file_arrival_stream, run_available_now


@register(
    "s_stream_events_hourly",
    oracle="""
    SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start,
           event_type, COUNT(*) AS n_events
    FROM events GROUP BY 1, 2
    """,
    doc="Structured Streaming twin of q_events_tumbling_window: file-"
    "arrival source over events.parquet, availableNow trigger (T1/T2), "
    "hourly tumbling counts into a memory sink. Exactly-once via "
    "checkpointed file source (T3).",
)
def s_stream_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    # raw parquet schema (events.ts arrives as nanos-long; see
    # catalog.load_table) — convert inside the stream.
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    # the file source wants a directory; glob narrows it to the events file
    stream = file_arrival_stream(
        spark, sf_dir, schema=raw_schema, glob="events.parquet"
    )
    stream = normalize_event_ts(stream)
    agg = stream.groupBy(
        F.window("ts", "1 hour").alias("w"), "event_type"
    ).agg(F.count("*").alias("n_events"))
    name = run_available_now(agg, output_mode="complete")
    return spark.table(name).select(
        F.col("w.start").alias("window_start"), "event_type", "n_events"
    )


@register(
    "s_stream_dedup_exact",
    oracle="""
    SELECT md5(text) AS digest, MIN(doc_id) AS keep_id,
           COUNT(*) AS n_copies
    FROM documents GROUP BY md5(text)
    """,
    doc="Streaming exact dedup: file-arrival stream over documents, "
    "content-MD5 digest groupBy (min doc_id + copy count) in complete "
    "mode — the streaming twin of x_dedup_exact for continuous-ingest "
    "corpora. Only 16-byte digests enter state; bodies never shuffle. "
    "Full oracle; batch equivalence in tests/test_stream.py.",
)
def s_stream_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    stream = file_arrival_stream(
        spark, sf_dir, schema=schema, glob="documents.parquet"
    )
    agg = (
        stream.select(
            F.md5(F.col("text").cast("binary")).alias("digest"), F.col("doc_id")
        )
        .groupBy("digest")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies"))
    )
    name = run_available_now(agg, output_mode="complete")
    return spark.table(name)


from blspark.queries.extensions import SPLIT_BUCKET_SQL as _SPLIT_SQL
from blspark.queries.extensions2 import SHARD_BUCKET_SQL as _SHARD_SQL

_QUALITY_INGEST_ORACLE = f"""
WITH hashed AS (
  SELECT doc_id, lang, text, md5(CAST(doc_id AS VARCHAR)) AS h,
         string_split(text, ' ') AS toks
  FROM documents
), m AS (
  SELECT doc_id, lang, h,
         len(toks) AS n_words,
         CAST(length(text) - (len(toks) - 1) AS DOUBLE) / len(toks) AS mwl,
         len(list_filter(toks, x -> x = 'the' OR x = 'a')) AS n_stop
  FROM hashed
)
SELECT doc_id, lang,
       CAST({_SHARD_SQL} AS INT) AS shard,
       CAST(n_words AS BIGINT) AS n_words
FROM m
WHERE n_words BETWEEN 20 AND 100000
  AND mwl BETWEEN 2.0 AND 10.0
  AND n_stop > 0
  AND ({_SPLIT_SQL}) < CASE WHEN lang = 'en' THEN 30 ELSE 100 END
"""


@register(
    "s_stream_quality_ingest",
    oracle=_QUALITY_INGEST_ORACLE,
    doc="Streaming continuous-ingest preprocessor: file-arrival stream "
    "over documents -> Gopher-style quality gate + stratified md5 "
    "sampling + deterministic shard assignment, all stateless map-side "
    "expressions (append mode, no state store at any corpus size) — the "
    "filter/route stage every training-data ingest runs before "
    "dedup/write. Full oracle; batch equivalence in tests/test_stream.py.",
)
def s_stream_quality_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    stream = file_arrival_stream(
        spark, sf_dir, schema=schema, glob="documents.parquet"
    )
    out = _quality_ingest_transform(stream)
    name = run_available_now(out, output_mode="append")
    return spark.table(name)


def _quality_ingest_transform(docs: DataFrame) -> DataFrame:
    """Stateless ingest preprocessing, shared verbatim by the streaming
    query and its batch twin (the equivalence test runs this exact
    function over a static frame)."""
    from blspark.queries.extensions import SPLIT_BUCKET_SQL
    from blspark.queries.extensions2 import SHARD_BUCKET_SQL

    toks = F.split("text", " ")
    n_words = F.size(toks)
    mwl = (F.length("text") - (n_words - 1)).cast("double") / n_words
    n_stop = F.size(F.filter(toks, lambda t: t.isin("the", "a")))
    passes = n_words.between(20, 100000) & mwl.between(2.0, 10.0) & (n_stop > 0)
    h = F.md5(F.col("doc_id").cast("string").cast("binary")).alias("h")
    base = docs.select("doc_id", "lang", "text").withColumn("h", h)
    bucket = F.expr(SPLIT_BUCKET_SQL)
    rate = F.when(F.col("lang") == "en", F.lit(30)).otherwise(F.lit(100))
    return (
        base.filter(passes & (bucket < rate))
        .select(
            "doc_id",
            "lang",
            F.expr(SHARD_BUCKET_SQL).cast("int").alias("shard"),
            n_words.cast("bigint").alias("n_words"),
        )
    )


@register(
    "s_stream_interval_join",
    oracle="""
    SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
           CAST(epoch_us(p.ts) - epoch_us(c.ts) AS BIGINT) AS delay_us
    FROM (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
          FROM events WHERE event_type = 'click') c
    JOIN (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
          FROM events WHERE event_type = 'purchase') p
      ON p.user_id = c.user_id
     AND p.ts > c.ts
     AND p.ts <= c.ts + INTERVAL '1 hour'
    """,
    doc="Watermarked stream-stream interval join: clicks joined to "
    "purchases within 1 hour per user, BOTH sides streaming — the "
    "streaming twin of q_events_interval_join. The 2-hour watermarks "
    "bound join state (Spark drops buffered rows once the other side's "
    "watermark passes the interval), so state is O(events in window), "
    "not O(stream). Full oracle; exact batch equivalence in "
    "tests/test_stream.py::test_stream_stream_interval_join.",
)
def s_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    src = file_arrival_stream(
        spark, sf_dir, schema=raw_schema, glob="events.parquet"
    )
    src = normalize_event_ts(src)
    clicks = (
        src.filter(F.col("event_type") == "click")
        .withWatermark("ts", "2 hours")
        .select(
            "user_id",
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
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
    ).select(
        "user_id",
        "click_id",
        "purchase_id",
        (F.unix_micros(F.col("p_ts")) - F.unix_micros(F.col("c_ts")))
        .cast("bigint")
        .alias("delay_us"),
    )
    name = run_available_now(joined, output_mode="append")
    return spark.table(name)


@register(
    "s_stream_user_profile_tws",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events,
           CAST(count_if(event_type = 'purchase') AS BIGINT) AS n_purchases
    FROM events GROUP BY user_id
    """,
    doc="Per-user profile rollup via transformWithStateInPandas (Spark "
    "4's arbitrary-state v2 API, successor to applyInPandasWithState): "
    "a StatefulProcessor with a ValueState tuple (n_events, "
    "n_purchases) per user, RocksDB-backed state store. State is "
    "O(users), not O(events) — the continuous-ingest form of "
    "q_conditional_agg's profile aggregation. ENVIRONMENT GATE: the v2 "
    "API's state-server protocol needs google.protobuf, absent from "
    "this container (no installs allowed) — when missing, the same "
    "semantics run through applyInPandasWithState (identical output, "
    "state, and O(users) bound; only the state API generation "
    "differs). Full oracle; batch equivalence in tests/test_stream.py.",
)
def s_stream_user_profile_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = file_arrival_stream(
        spark, sf_dir, schema=schema, glob="events.parquet"
    )
    stream = normalize_event_ts(stream)
    out_type = "user_id long, n_events long, n_purchases long"

    def _accumulate(pdfs):
        n_events = 0
        n_purchases = 0
        for pdf in pdfs:
            n_events += len(pdf)
            n_purchases += int((pdf["event_type"] == "purchase").sum())
        return n_events, n_purchases

    try:
        import google.protobuf  # noqa: F401  (state-server wire format)

        _HAS_TWS = True
    except ImportError:
        _HAS_TWS = False

    if _HAS_TWS:
        from pyspark.sql.streaming.stateful_processor import (
            StatefulProcessor,
            StatefulProcessorHandle,
        )
        from pyspark.sql.types import LongType, StructField, StructType

        # transformWithState requires the RocksDB state store provider.
        # Save the previous provider so it can be restored after the run —
        # leaving it set would silently switch every later stateful query
        # (dedup-within-watermark, sessionize, interval join) to RocksDB
        # depending on execution order.
        _PROVIDER_KEY = "spark.sql.streaming.stateStore.providerClass"
        _prev_provider = spark.conf.get(_PROVIDER_KEY, None)
        spark.conf.set(
            _PROVIDER_KEY,
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        # everything from here through the drain runs under try/finally:
        # a failure during plan CONSTRUCTION (e.g. a Spark build where
        # transformWithStateInPandas raises at analysis time) must also
        # restore the provider, not just a failure during execution
        try:
            state_schema = StructType(
                [
                    StructField("n_events", LongType(), True),
                    StructField("n_purchases", LongType(), True),
                ]
            )

            class UserProfile(StatefulProcessor):
                def init(self, handle: StatefulProcessorHandle) -> None:
                    self._state = handle.getValueState("profile", state_schema)

                def handleInputRows(self, key, rows, timerValues):
                    n_events, n_purchases = _accumulate(rows)
                    if self._state.exists():
                        prev_events, prev_purchases = self._state.get()
                        n_events += prev_events
                        n_purchases += prev_purchases
                    self._state.update((n_events, n_purchases))
                    yield pd.DataFrame(
                        {
                            "user_id": [key[0]],
                            "n_events": [n_events],
                            "n_purchases": [n_purchases],
                        }
                    )

                def close(self) -> None:
                    pass

            out = stream.groupBy("user_id").transformWithStateInPandas(
                statefulProcessor=UserProfile(),
                outputStructType=out_type,
                outputMode="Update",
                timeMode="None",
            )
            name = run_available_now(out, output_mode="update")
        finally:
            if _prev_provider is None:
                spark.conf.unset(_PROVIDER_KEY)
            else:
                spark.conf.set(_PROVIDER_KEY, _prev_provider)
        return spark.table(name)
    else:
        from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

        def profile_v1(key, pdfs, state: GroupState):
            n_events, n_purchases = _accumulate(pdfs)
            if state.exists:
                prev_events, prev_purchases = state.get
                n_events += prev_events
                n_purchases += prev_purchases
            state.update((n_events, n_purchases))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n_events],
                    "n_purchases": [n_purchases],
                }
            )

        out = stream.groupBy("user_id").applyInPandasWithState(
            profile_v1,
            outputStructType=out_type,
            stateStructType="n_events long, n_purchases long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )

    name = run_available_now(out, output_mode="update")
    return spark.table(name)


@register(
    "s_stream_dedup_within_watermark",
    oracle="""
    SELECT DISTINCT user_id, event_type FROM events
    """,
    doc="Streaming key dedup with bounded state: "
    "dropDuplicatesWithinWatermark on (user_id, event_type) under a "
    "1-hour event-time watermark — unlike global streaming "
    "dropDuplicates, state for a key is dropped once the watermark "
    "passes it, so state is O(keys in window), not O(all keys ever) — "
    "the only viable form on an unbounded 100 TB/day stream. Output is "
    "the surviving key set (deterministic; which physical row survived "
    "is not). Full oracle; batch-distinct equivalence in tests/test_stream.py.",
)
def s_stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = file_arrival_stream(
        spark, sf_dir, schema=schema, glob="events.parquet"
    )
    stream = normalize_event_ts(stream)
    deduped = (
        stream.select("user_id", "event_type", "ts")
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    name = run_available_now(deduped, output_mode="append")
    return spark.table(name)


@register(
    "s_stream_enrich_static",
    oracle="""
    WITH dim AS (
      SELECT user_id, COUNT(*) AS user_purchases
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    )
    SELECT e.event_id, e.user_id,
           COALESCE(d.user_purchases, 0) AS user_purchases
    FROM events e LEFT JOIN dim d ON e.user_id = d.user_id
    WHERE e.event_type = 'click'
    """,
    doc="Stream-static broadcast enrichment: the events stream joined "
    "map-side to a static per-user profile dimension (derived "
    "deterministically from batch events: each user's purchase count). "
    "The static side re-resolves per micro-batch and broadcasts — no "
    "stream state at all, the standard dimension-enrich stage before "
    "a sink. The broadcast hint presumes the profile dim fits executor "
    "memory; for a users-table that outgrows it, drop the hint and the "
    "stream-static join shuffles the batch side instead (stream side "
    "still never accumulates state). Full oracle; batch equivalence in "
    "tests/test_stream.py.",
)
def s_stream_enrich_static(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blspark.catalog import load_table

    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = file_arrival_stream(
        spark, sf_dir, schema=schema, glob="events.parquet"
    )
    stream = normalize_event_ts(stream)
    dim = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count("*").alias("user_purchases"))
    )
    enriched = (
        stream.filter(F.col("event_type") == "click")
        .join(F.broadcast(dim), "user_id", "left")
        .select(
            "event_id",
            "user_id",
            F.coalesce(F.col("user_purchases"), F.lit(0)).alias(
                "user_purchases"
            ),
        )
    )
    name = run_available_now(enriched, output_mode="append")
    return spark.table(name)


@register(
    "s_stream_upsert_cdc",
    oracle="""
    WITH e AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, value
      FROM events
    ),
    r AS (
      SELECT user_id, ts, event_id, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn,
             COUNT(*) OVER (PARTITION BY user_id) AS n_events
      FROM e
    )
    SELECT user_id, ts AS last_ts, event_id AS last_event_id,
           value AS last_value, CAST(n_events AS BIGINT) AS n_events
    FROM r WHERE rn = 1
    """,
    doc="Streaming CDC upsert (last-write-wins mirror maintenance): "
    "events staged into three files, streamed one file per micro-batch "
    "(maxFilesPerTrigger=1), and a foreachBatch MERGE folds each batch "
    "into the accumulated per-user state — per batch: argmax by "
    "(ts, event_id) within the batch, then a full-outer join with the "
    "running state taking greatest(struct) and summing counts. The "
    "fold is commutative+associative, so the final mirror is identical "
    "for ANY file arrival order — which is what makes the oracle (the "
    "batch last-value-per-key query) deterministic. localCheckpoint per "
    "batch truncates the growing state lineage (same hazard as "
    "iterative components). At scale the running state lives in a "
    "keyed table format and the full-outer join becomes MERGE INTO; "
    "the join/fold shape is identical.",
)
def s_stream_upsert_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from blspark.catalog import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "value"
    )
    stage = tempfile.mkdtemp(prefix="blspark_cdc_")
    try:
        files_dir = os.path.join(stage, "files")
        os.makedirs(files_dir)
        for k in range(3):
            part_dir = os.path.join(stage, f"w{k}")
            ev.filter(F.pmod("event_id", F.lit(3)) == k).coalesce(
                1
            ).write.mode("overwrite").parquet(part_dir)
            src = next(
                f for f in os.listdir(part_dir) if f.endswith(".parquet")
            )
            shutil.move(
                os.path.join(part_dir, src),
                os.path.join(files_dir, f"b{k}.parquet"),
            )

        schema = spark.read.parquet(files_dir).schema
        stream = file_arrival_stream(
            spark, files_dir, schema=schema, max_files_per_trigger=1
        )
        state: dict[str, DataFrame | None] = {"df": None}

        def merge(batch: DataFrame, _bid: int) -> None:
            upd = batch.groupBy("user_id").agg(
                F.max(F.struct("ts", "event_id", "value")).alias("s"),
                F.count("*").alias("n_events"),
            )
            cur = state["df"]
            if cur is None:
                state["df"] = upd.localCheckpoint(eager=True)
                return
            merged = (
                cur.alias("c")
                .join(upd.alias("u"), "user_id", "full_outer")
                .select(
                    "user_id",
                    F.greatest(F.col("c.s"), F.col("u.s")).alias("s"),
                    (
                        F.coalesce(F.col("c.n_events"), F.lit(0))
                        + F.coalesce(F.col("u.n_events"), F.lit(0))
                    ).cast("bigint").alias("n_events"),
                )
            )
            state["df"] = merged.localCheckpoint(eager=True)

        run_available_now(
            stream,
            batch_fn=merge,
            checkpoint_dir=os.path.join(stage, "ck"),
        )
        out = state["df"]
        assert out is not None, "stream drained zero batches"
        return out.select(
            "user_id",
            F.col("s.ts").alias("last_ts"),
            F.col("s.event_id").alias("last_event_id"),
            F.col("s.value").alias("last_value"),
            "n_events",
        )
    finally:
        shutil.rmtree(stage, ignore_errors=True)


@register(
    "s_stream_interval_join_outer",
    oracle="""
    SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
           CAST(epoch_us(p.ts) - epoch_us(c.ts) AS BIGINT) AS delay_us
    FROM (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
          FROM events WHERE event_type = 'click') c
    LEFT JOIN (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
          FROM events WHERE event_type = 'purchase') p
      ON p.user_id = c.user_id
     AND p.ts > c.ts
     AND p.ts <= c.ts + INTERVAL '1 hour'
    """,
    doc="LEFT OUTER watermarked stream-stream interval join — the "
    "semantics the inner variant (s_stream_interval_join) cannot give: "
    "a click with NO purchase inside its 1-hour window still emits "
    "(with nulls), but only once the purchase-side watermark has "
    "passed the window's close, which is what makes the null provably "
    "final rather than merely not-yet-matched. Epilogue technique: an "
    "availableNow drain's final watermark is max(event time) minus the "
    "delay, which would strand the youngest unmatched clicks in state "
    "forever (their windows never provably close) — so two sentinel "
    "watermark-advancer events far past the stream's end are unioned "
    "in as a second one-file-per-trigger source: the first advances "
    "the clock, the second forces the trailing micro-batch in which "
    "the flushed outer nulls actually emit. The sentinels must be "
    "typed click/purchase (Catalyst pushes the branch filters below "
    "the watermark node into the source scan — a sentinel-typed row "
    "dies before the watermark sees it; measured) and carry "
    "user_id=-1, dropped batch-side after the drain. That is the "
    "'stream epilogue' flush for bounded replays of unbounded-stream "
    "semantics. Full oracle: the batch LEFT JOIN.",
)
def s_stream_interval_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    adv_dir = tempfile.mkdtemp(prefix="blspark_wm_adv_")
    try:
        # TWO sentinel events 10/11 hours past the stream's end, written
        # as two separate files consumed one-per-trigger: the first
        # advances the watermark far enough to close EVERY click's 1h
        # window; the second forces one more micro-batch so the closed
        # windows' outer nulls are actually EMITTED (availableNow stops
        # after the last data batch — without a trailing batch, state
        # evicted by the final watermark update would flush nowhere)
        import pyarrow as pa
        import pyarrow.parquet as pq

        norm = normalize_event_ts(
            spark.read.parquet(f"{sf_dir}/events.parquet")
        )
        # epoch MICROS as an integer, never a naive datetime: .first()
        # would deliver the instant in the driver's LOCAL timezone and
        # pa.timestamp(..., tz='UTC') would re-interpret that naive
        # value as UTC — shifting the sentinel by the host's UTC offset
        # and silently stranding the youngest unmatched clicks on any
        # non-UTC host. Integers are timezone-free end to end.
        max_us = norm.agg(
            F.unix_micros(F.max("ts")).alias("m")
        ).first()["m"]
        # the sentinels must be typed click/purchase: Catalyst pushes the
        # branch filters BELOW the watermark node into the source scan,
        # so a '__advance__'-typed row would be filtered before the
        # watermark ever saw it (measured: source numInputRows stayed 0
        # and the watermark never moved). They carry user_id = -1 and
        # are dropped AFTER the drain, batch-side, where no streaming
        # pushdown applies.
        for i, (hours, etype) in enumerate(((10, "click"), (11, "purchase"))):
            t_us = max_us + hours * 3_600_000_000
            tbl = pa.table(
                {
                    "event_id": pa.array([-1 - i], pa.int64()),
                    "ts": pa.array([t_us], pa.timestamp("us", tz="UTC")),
                    "user_id": pa.array([-1], pa.int64()),
                    "event_type": pa.array([etype], pa.string()),
                    "value": pa.array([0.0], pa.float64()),
                    "props": pa.array(["{}"], pa.string()),
                }
            )
            # flat single files (not Spark output dirs): the file-stream
            # source lists them directly, one per trigger
            pq.write_table(tbl, f"{adv_dir}/advance{i}.parquet")

        events = normalize_event_ts(
            file_arrival_stream(
                spark, sf_dir, schema=raw_schema, glob="events.parquet"
            )
        )
        advancer = (
            spark.readStream.schema(
                "event_id long, ts timestamp, user_id long,"
                " event_type string, value double, props string"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(adv_dir)
        )
        src = events.unionByName(advancer).withWatermark("ts", "2 hours")
        clicks = src.filter(F.col("event_type") == "click").select(
            "user_id",
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
        purchases = src.filter(F.col("event_type") == "purchase").select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        joined = clicks.join(
            purchases,
            (F.col("p_user") == F.col("user_id"))
            & (F.col("p_ts") > F.col("c_ts"))
            & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 1 HOUR")),
            "leftOuter",
        ).select(
            "user_id",
            "click_id",
            "purchase_id",
            (F.unix_micros(F.col("p_ts")) - F.unix_micros(F.col("c_ts")))
            .cast("bigint")
            .alias("delay_us"),
        )
        name = run_available_now(joined, output_mode="append")
        # drop the sentinel rows batch-side (post-materialization)
        return spark.table(name).filter(F.col("user_id") >= 0)
    finally:
        shutil.rmtree(adv_dir, ignore_errors=True)


# ---------------------------------------------------------------------------
# Streaming incremental PQ-index maintenance (round 7)
# ---------------------------------------------------------------------------


def _pq_stream_oracle() -> str:
    from blspark.queries.extensions9 import _PQ_CODES_CHAIN

    return f"""{_PQ_CODES_CHAIN}
SELECT vec_id, CAST(m AS INT) AS m, code FROM codes
"""


@register(
    "s_stream_index_pq",
    oracle=_pq_stream_oracle(),
    doc="Streaming incremental ANN-index maintenance: PQ codebooks are "
    "trained OFFLINE on the static table (the production shape — you "
    "never retrain per arrival), then a file-arrival stream of "
    "embedding vectors encodes each arrival STATELESSLY against the "
    "frozen codebook (per-row argmin expression over inlined codeword "
    "literals — ext/similarity.pq_encode_stateless; no streaming "
    "aggregation, no state store, pure append mode) and appends "
    "(vec_id, m, code) rows to the index sink. The resulting index is "
    "hash-checked against the batch PQ encode of the same corpus "
    "(oracle = the x_similarity_pq_checked codes chain) — proving "
    "batch/stream encode parity, which is what makes incremental "
    "maintenance sound: appended codes are exactly what a full batch "
    "rebuild would produce. At 100 TB this is the difference between "
    "re-encoding the corpus per refresh and encoding only arrivals.",
)
def s_stream_index_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blspark.ext.similarity import (
        pq_encode_stateless,
        pq_train_codebooks,
    )

    emb_schema = spark.read.parquet(f"{sf_dir}/embeddings.parquet").schema
    static = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    cb = pq_train_codebooks(static, 8, 8, 4)
    cb_rows = [(r["m"], r["code"], list(r["cw"])) for r in cb.collect()]

    stream = file_arrival_stream(
        spark, sf_dir, schema=emb_schema, glob="embeddings.parquet"
    ).select("vec_id", F.col("embedding").cast("array<double>").alias("vec"))
    codes = pq_encode_stateless(stream, cb_rows, 8, 8)
    name = run_available_now(codes, output_mode="append")
    return spark.table(name)


def _sq8_stream_oracle() -> str:
    from blspark.queries.extensions10 import _SQ8_QZ_SQL

    return f"""
WITH vecs AS MATERIALIZED (
  SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
),
{_SQ8_QZ_SQL}
SELECT vec_id, CAST(t.i AS INT) AS pos, qvec[t.i + 1] AS q, scale
FROM qz, range(0, 64) t(i)
"""


@register(
    "s_stream_index_sq8",
    oracle=_sq8_stream_oracle(),
    doc="Streaming SQ8 index maintenance — the training-FREE "
    "counterpart of s_stream_index_pq: each arriving embedding "
    "quantizes against its OWN range (scale = max|x|/127, "
    "floor(x/scale + 0.5)), so unlike PQ there is no offline "
    "codebook at all — the encode is a pure per-row projection "
    "(ext/similarity.sq8_quantize), trivially append-mode, no state "
    "store, and arrivals can never drift from any trained artifact. "
    "The appended (vec_id, pos, q, scale) rows are hash-checked "
    "against the batch SQ8 quantization of the same corpus — "
    "batch/stream encode parity, the property that makes incremental "
    "4x-compressed index maintenance sound at 100 TB (encode only "
    "arrivals; a full rebuild would produce byte-identical codes).",
)
def s_stream_index_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blspark.ext.similarity import sq8_quantize

    emb_schema = spark.read.parquet(f"{sf_dir}/embeddings.parquet").schema
    stream = file_arrival_stream(
        spark, sf_dir, schema=emb_schema, glob="embeddings.parquet"
    ).select("vec_id", F.col("embedding").cast("array<double>").alias("vec"))
    codes = sq8_quantize(stream).select(
        "vec_id", F.posexplode("qvec").alias("pos", "q"), "scale"
    ).select("vec_id", F.col("pos").cast("int").alias("pos"), "q", "scale")
    name = run_available_now(codes, output_mode="append")
    return spark.table(name)


def _ivf_sq8_stream_oracle() -> str:
    from blspark.queries.extensions9 import _ivf_prefix_sql
    from blspark.queries.extensions10 import _SQ8_QZ_SQL

    return f"""
WITH {_ivf_prefix_sql()},
{_SQ8_QZ_SQL}
SELECT a.vec_id, a.cell_id, CAST(t.i AS INT) AS pos,
       z.qvec[t.i + 1] AS q, z.scale
FROM cassign a
JOIN qz z ON a.vec_id = z.vec_id
CROSS JOIN range(0, 64) t(i)
"""


@register(
    "s_stream_index_ivf_sq8",
    oracle=_ivf_sq8_stream_oracle(),
    doc="Streaming IVF,SQ8 index maintenance — the full index row per "
    "arrival: nearest cell against FROZEN offline centroids via "
    "cell_assign_stateless (a pure per-row argmin expression over "
    "inlined centroid literals — bit-identical to the batch "
    "_cell_assign rule, property-tested — the IVF counterpart of "
    "pq_encode_stateless) composed with the training-free SQ8 "
    "quantization, all in append mode with no state store. Appended "
    "(vec_id, cell_id, pos, q, scale) rows hash-check against the "
    "batch cell assignment + quantization of the same corpus — "
    "batch/stream parity for BOTH index components, so incremental "
    "maintenance of the 100 TB IVF,SQ8 index (encode only arrivals, "
    "partition the sink by cell_id for probe pruning) provably "
    "matches a full rebuild.",
)
def s_stream_index_ivf_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blspark.ext.similarity import cell_assign_stateless, sq8_quantize
    from blspark.queries.extensions9 import _det_centroids

    emb_schema = spark.read.parquet(f"{sf_dir}/embeddings.parquet").schema
    static = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cent_rows = [
        (r["cell_id"], list(r["centroid"]))
        for r in _det_centroids(static).collect()
    ]

    stream = file_arrival_stream(
        spark, sf_dir, schema=emb_schema, glob="embeddings.parquet"
    ).select("vec_id", F.col("embedding").cast("array<double>").alias("vec"))
    assigned = cell_assign_stateless(stream, cent_rows)
    codes = sq8_quantize(assigned, keep=("cell_id",)).select(
        "vec_id",
        "cell_id",
        F.posexplode("qvec").alias("pos", "q"),
        "scale",
    ).select(
        "vec_id", "cell_id",
        F.col("pos").cast("int").alias("pos"), "q", "scale",
    )
    name = run_available_now(codes, output_mode="append")
    return spark.table(name)


def _knn_edges_stream_oracle() -> str:
    from blspark.queries.extensions10 import KNN_SQ8_EDGES_PREFIX

    return f"""
WITH {KNN_SQ8_EDGES_PREFIX}
SELECT src_id, dst_id, ROUND(raw, 6) AS score, iprod, rank FROM edges
"""


@register(
    "s_stream_knn_edges",
    oracle=_knn_edges_stream_oracle(),
    doc="Streaming kNN-graph edge maintenance — extending the "
    "streaming index family (s_stream_index_pq/sq8/ivf_sq8) from "
    "CODES to EDGES: each arriving embedding stateless-cell-assigns "
    "against frozen offline centroids, SQ8-quantizes, and emits its "
    "top-3 SQ8 edges against the FROZEN cell-member index "
    "(ext/similarity.cell_member_index, one compact row per cell) "
    "via a single inline expression — no window, no aggregation, no "
    "state store, pure append mode (the inline-only-where-append-"
    "forbids-aggregation convention). Candidate ordering is "
    "bit-identical to the batch _sq8_rank (array_sort over "
    "struct(-score, dst) — IEEE negation exact), so the full stream "
    "output hash-checks against the batch knn_graph_sq8 edge set of "
    "the same corpus (the oracle shares the edges CTE prefix with "
    "x_knn_graph_sq8 verbatim): incremental graph maintenance at "
    "100 TB — score only arrivals against their cell — provably "
    "matches a full rebuild. (The mutual flag is deliberately absent: "
    "it needs cross-arrival knowledge, a batch join over the "
    "accumulated edge sink.)",
)
def s_stream_knn_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blspark.ext.similarity import (
        cell_assign_stateless,
        cell_member_index,
        knn_edges_stateless,
        sq8_quantize,
    )
    from blspark.queries.extensions9 import _det_centroids

    emb_schema = spark.read.parquet(f"{sf_dir}/embeddings.parquet").schema
    static = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = _det_centroids(static)
    cent_rows = [
        (r["cell_id"], list(r["centroid"])) for r in cents.collect()
    ]
    member_index = cell_member_index(static, cents)

    stream = file_arrival_stream(
        spark, sf_dir, schema=emb_schema, glob="embeddings.parquet"
    ).select("vec_id", F.col("embedding").cast("array<double>").alias("vec"))
    arrivals = sq8_quantize(
        cell_assign_stateless(stream, cent_rows), keep=("cell_id",)
    )
    edges = knn_edges_stateless(arrivals, member_index, k=3)
    name = run_available_now(edges, output_mode="append")
    return spark.table(name)


# ---------------------------------------------------------------------------
# Streaming insert into the PERSISTED cell-partitioned index table
# ---------------------------------------------------------------------------

# arrivals = vec_id < _SIDX_NEW; the base index is built from the rest
_SIDX_NEW = 50
_SIDX_TABLES: dict[tuple[str, str], tuple[str, ...]] = {}


def build_streamed_raw_index(spark: SparkSession, sf_dir: str, raw: str) -> None:
    """ONE copy of the streamed-index raw-table build, shared by
    s_stream_index_persist (which then writes a compacted twin) and
    x_index_compact_apply (which compacts the raw table IN PLACE):
    the base index (corpus minus the 'new' rows) is written once as a
    cell_id-partitioned table (the x_index_persist_scan layout), then
    arrivals stateless-encode (cell_assign_stateless + sq8_quantize —
    bit-identical to the batch rule) and foreachBatch-APPEND into the
    SAME table via positional insertInto: each micro-batch lands as
    partition-LOCAL files under the arrivals' cell directories, no
    rewrite of existing data."""
    from blspark.ext.similarity import (
        _quantized_cells,
        cell_assign_stateless,
        sq8_quantize,
    )
    from blspark.queries.extensions9 import _det_centroids

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = _det_centroids(emb)  # frozen FULL-corpus centroids
    base = _quantized_cells(
        emb.filter(F.col("vec_id") >= _SIDX_NEW), cents
    )
    (
        base.repartition(F.col("cell_id"))
        .write.partitionBy("cell_id")
        .mode("overwrite")
        .format("parquet")
        .saveAsTable(raw)
    )
    cent_rows = [
        (r["cell_id"], list(r["centroid"])) for r in cents.collect()
    ]
    stream = (
        file_arrival_stream(
            spark, sf_dir, schema=emb.schema, glob="embeddings.parquet"
        )
        .filter(F.col("vec_id") < _SIDX_NEW)
        .select(
            F.col("vec_id").alias("vid"),
            F.col("embedding").cast("array<double>").alias("vec"),
        )
    )
    codes = sq8_quantize(
        cell_assign_stateless(stream, cent_rows),
        id_col="vid",
        keep=("cell_id",),
    )

    def append_batch(batch: DataFrame, _epoch: int) -> None:
        # positional insertInto: table schema is (vid, qvec,
        # scale) + cell_id LAST (the partition column) — appends
        # create files only under the arrivals' cell directories
        batch.select("vid", "qvec", "scale", "cell_id").write.mode(
            "append"
        ).insertInto(raw)

    run_available_now(codes, batch_fn=append_batch)


def streamed_sq8_index_tables(
    spark: SparkSession, sf_dir: str
) -> tuple[str, str]:
    """(raw, compacted) IVF,SQ8 index tables maintained BY THE STREAM
    (``build_streamed_raw_index`` — base write + partition-local
    arrival appends), plus the compaction pass rewriting the
    accumulated small files back to one file per cell directory (the
    physical half of x_compaction_plan's planning shape) into the
    compacted twin — content-identical, scan-efficient. Same
    memo/pid-name/GC machinery as every layout demo. The IN-PLACE
    compaction of the raw table is x_index_compact_apply's device
    (its own table, so this pair's physical pins — per-batch small
    files present in raw — stay valid whichever order runs)."""
    from blspark.queries.extensions10 import _layout_tables

    def build(raw: str, compact: str) -> None:
        build_streamed_raw_index(spark, sf_dir, raw)
        (
            spark.table(raw)
            .repartition(F.col("cell_id"))
            .write.partitionBy("cell_id")
            .mode("overwrite")
            .format("parquet")
            .saveAsTable(compact)
        )

    return _layout_tables(
        _SIDX_TABLES,
        spark,
        sf_dir,
        ("blspark_sq8_sidx_raw", "blspark_sq8_sidx_cmp"),
        build,
    )


@register(
    "s_stream_index_persist",
    # the rebuilt-from-scratch oracle: the s_stream_index_ivf_sq8
    # chain verbatim — base + arrivals + compaction must equal it
    oracle=_ivf_sq8_stream_oracle(),
    doc="Streaming insert into the PERSISTED partitioned ANN index — "
    "composing the two halves that existed separately: "
    "x_index_persist_scan's cell-partitioned index TABLE and "
    "s_stream_index_ivf_sq8's stateless arrival encode. Arrivals "
    "append via foreachBatch insertInto as partition-local files "
    "(no existing data rewritten — at 100 TB an arrival batch costs "
    "its own bytes, never an index rebuild), then the compaction "
    "pass (the physical twin of x_compaction_plan) rewrites the "
    "accumulated per-batch small files to one file per cell. The "
    "returned frame is the COMPACTED table's full content, "
    "hash-checked against the batch rebuild-from-scratch oracle "
    "(the s_stream_index_ivf_sq8 chain verbatim): base + streamed "
    "arrivals + compaction provably equals a full batch rebuild, "
    "the invariant that makes incremental index maintenance sound. "
    "tests/test_stream_index_persist.py pins the physical claims "
    "(partition-local appends, compacted file count = |cells|, "
    "raw/compacted content identity).",
)
def s_stream_index_persist(spark: SparkSession, sf_dir: str) -> DataFrame:
    _raw, compact = streamed_sq8_index_tables(spark, sf_dir)
    return (
        spark.table(compact)
        .select(
            F.col("vid").alias("vec_id"),
            "cell_id",
            F.posexplode("qvec").alias("pos", "q"),
            "scale",
        )
        .select(
            "vec_id",
            "cell_id",
            F.col("pos").cast("int").alias("pos"),
            "q",
            "scale",
        )
    )


# ---------------------------------------------------------------------------
# Streaming hard-negative mining (stateless draws vs a frozen index)
# ---------------------------------------------------------------------------


from blspark.queries.extensions10 import _neg_oracle as _NEG_ORACLE_FN


@register(
    "s_stream_negative_samples",
    # the BATCH operator's oracle verbatim: replaying the corpus as
    # the stream must reproduce x_negative_samples bit-for-bit
    oracle=_NEG_ORACLE_FN(),
    doc="Streaming hard-negative mining: each arriving vector is "
    "stateless-cell-assigned (cell_assign_stateless, bit-identical "
    "to the batch rule), routed to its cell's nearest OTHER cell "
    "(_nearest_other_cell — the ONE map the batch operator uses) "
    "and draws its 3 hash-min negatives from that cell's FROZEN "
    "member-id index (cell_id_members, one compact id-array row per "
    "cell) with ONE inline expression — transform to (md5 hkey, id) "
    "structs, array_sort, slice 3 (the knn_edges_stateless "
    "convention: append mode, no state store, no window; the struct "
    "order IS the batch window's total order, so stream and batch "
    "are bit-identical). Replaying the corpus as the stream "
    "therefore hash-checks against the BATCH x_negative_samples "
    "oracle verbatim — per-arrival incremental mining provably "
    "matches a full rebuild.",
)
def s_stream_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blspark.ext.similarity import (
        _centroid_frame,
        _nearest_other_cell,
        cell_assign_stateless,
        cell_id_members,
        negatives_stateless,
    )
    from blspark.queries.extensions9 import _det_centroids

    emb_schema = spark.read.parquet(f"{sf_dir}/embeddings.parquet").schema
    static = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = _det_centroids(static)
    cent_rows = [
        (r["cell_id"], list(r["centroid"])) for r in cents.collect()
    ]
    member_ids = cell_id_members(static, cents)
    ncell_map = _nearest_other_cell(_centroid_frame(cents))

    stream = file_arrival_stream(
        spark, sf_dir, schema=emb_schema, glob="embeddings.parquet"
    ).select("vec_id", F.col("embedding").cast("array<double>").alias("vec"))
    negs = negatives_stateless(
        cell_assign_stateless(stream, cent_rows), member_ids, ncell_map, k=3
    )
    name = run_available_now(negs, output_mode="append")
    return spark.table(name)


# ---------------------------------------------------------------------------
# Streaming weighted subsampling (threshold keep over hash-min keys)
# ---------------------------------------------------------------------------

# keep when skey < 2^42, i.e. per-draw p = 2^-6: P(keep | weight w)
# = 1 - (1 - 1/64)^w — weight-sensitive, exact, integer-compared
_WS_STREAM_THRESH = 1 << 42


def _ws_stream_oracle() -> str:
    from blspark.queries.extensions10 import _ws_keyed_sql

    return f"""
WITH {_ws_keyed_sql()}
SELECT doc_id, weight, skey FROM keyed WHERE skey < {_WS_STREAM_THRESH}
"""


@register(
    "s_stream_weighted_sample",
    oracle=_ws_stream_oracle(),
    doc="Streaming weighted subsampling of a document firehose: each "
    "arrival keeps itself iff its hash-min key (the ONE weighted-"
    "sampling key device — ext/sampling.hashmin_key, shared with "
    "x_sample_weighted_topn via the _ws_keyed_sql oracle prefix) "
    "falls under a fixed 2^42 threshold, so P(keep | weight w) = "
    "1 - (1 - 2^-6)^w: higher-quality documents survive the "
    "subsample at up to ~7.6x the rate of the lowest rung, "
    "deterministically — replaying the stream (at-least-once "
    "delivery, reordered files, different micro-batching) keeps "
    "EXACTLY the same set, which is what makes the subsample safe "
    "to union across restarts. Pure stateless projection + filter: "
    "append mode, no state store, no watermark, no aggregation — "
    "the fixed-size top-n form needs a global order and stays "
    "batch-side (x_sample_weighted_topn). Output hash-checks "
    "against the identical batch filter.",
)
def s_stream_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blspark.queries.extensions10 import ws_keyed_frame

    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    stream = file_arrival_stream(
        spark, sf_dir, schema=schema, glob="documents.parquet"
    )
    # the ONE keyed projection, shared verbatim with the batch family
    # (the _quality_ingest_transform convention): pure stateless
    # select, so it streams as-is
    kept = (
        ws_keyed_frame(stream)
        .filter(F.col("skey") < F.lit(_WS_STREAM_THRESH))
        .select("doc_id", "weight", "skey")
    )
    name = run_available_now(kept, output_mode="append")
    return spark.table(name)


# ---------------------------------------------------------------------------
# Streaming adaptive probe routing (the serving tier's routing half)
# ---------------------------------------------------------------------------

def _adaptive_route_oracle() -> str:
    from blspark.queries.extensions11 import (
        _adaptive_probe_sql,
        _Q_FILTER,
    )
    from blspark.queries.extensions9 import _IVF_PREFIX_SQL

    return f"""
WITH {_IVF_PREFIX_SQL},
{_adaptive_probe_sql(_Q_FILTER)}
SELECT query_id, probe_rank, cell_id, nprobe_used FROM probe
"""


@register(
    "s_stream_adaptive_route",
    oracle=_adaptive_route_oracle(),
    doc="Streaming ADAPTIVE probe routing — the query-side half of "
    "adaptive ANN serving as a stateless stream: each arriving query "
    "decides, from its own centroid-similarity margin, HOW MANY and "
    "WHICH index cells its scatter-gather will read "
    "(ext/similarity.probe_cells_stateless: candidate structs + "
    "array_sort + margin CASE + rank-prefix slice, all pure per-row "
    "expressions over inlined frozen-centroid literals — no window, "
    "no aggregation, no state store, append mode). Bit-identical to "
    "the batch ivf_adaptive_probe_frame rule (property-tested parity; the "
    "array_sort struct order IS the rank window's total order, the "
    "same -inf guard and 0.0-margin degeneracy), and hash-checked "
    "against the SAME oracle CTE chain the batch adaptive queries "
    "use. At 100 TB this is the production split: routing runs "
    "per-query in the stream tier (cost: |cells| dot products, "
    "centroids inlined), and the partition-pruned index scan "
    "(x_index_persist_adaptive) executes the decision batch-side.",
)
def s_stream_adaptive_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blspark.ext.similarity import probe_cells_stateless
    from blspark.queries.extensions9 import _det_centroids
    from blspark.queries.extensions11 import (
        _ADAPT_HI,
        _ADAPT_LO,
        _ADAPT_THR,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cent_rows = [
        (r["cell_id"], list(r["centroid"]))
        for r in _det_centroids(emb).collect()
    ]
    stream = (
        file_arrival_stream(
            spark, sf_dir, schema=emb.schema, glob="embeddings.parquet"
        )
        .filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 15))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").cast("array<double>").alias("vec"),
        )
    )
    routed = probe_cells_stateless(
        stream,
        cent_rows,
        probe_lo=_ADAPT_LO,
        probe_hi=_ADAPT_HI,
        margin_threshold=_ADAPT_THR,
    )
    out = routed.select(
        "query_id",
        F.posexplode("probe_cells").alias("pos", "cell_id"),
        "nprobe_used",
    ).select(
        "query_id",
        (F.col("pos") + 1).cast("int").alias("probe_rank"),
        "cell_id",
        "nprobe_used",
    )
    name = run_available_now(out, output_mode="append")
    return spark.table(name)


# ---------------------------------------------------------------------------
# Streaming binary-code index maintenance (round 13)
# ---------------------------------------------------------------------------


def _binary_stream_oracle() -> str:
    from blspark.queries.extensions13 import _BQ_PACK_SQL, _BQ_WORDS

    return f"""
WITH vecs AS MATERIALIZED (
  SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
),
{_BQ_PACK_SQL}
SELECT vec_id, CAST(t.w AS INT) AS w, words[t.w + 1] AS word
FROM packed, range(0, {_BQ_WORDS}) t(w)
"""


@register(
    "s_stream_index_binary",
    oracle=_binary_stream_oracle(),
    doc="Streaming binary-code index maintenance — the 1-bit rung of "
    "the streaming encode family (PQ: trained codebook; SQ8: "
    "training-free per-row; binary: per-DIMENSION thresholds, the "
    "one frozen artifact): thresholds are computed OFFLINE on the "
    "static corpus (dim doubles — the metadata-sized artifact a "
    "production pipeline versions alongside the index), then each "
    "arriving embedding packs its sign bits STATELESSLY against the "
    "inlined threshold literals (binary_pack_stateless — the "
    "pq_encode_stateless convention: pure per-row projection, no "
    "stream-static join, no state store, append mode) and appends "
    "(vec_id, word index, packed word) rows. Hash-checked against "
    "the batch pack of the same corpus (the shared _BQ_PACK_SQL "
    "mirror): streamed words are definitionally identical to a "
    "batch rebuild — the parity that makes incremental 32x-"
    "compressed index maintenance sound at 100 TB.",
)
def s_stream_index_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blspark.ext.binaryq import binary_pack_stateless, binary_thresholds
    from blspark.queries.extensions13 import _BQ_DIM

    emb_schema = spark.read.parquet(f"{sf_dir}/embeddings.parquet").schema
    static = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    thr = list(binary_thresholds(static).collect()[0]["thr"])

    stream = file_arrival_stream(
        spark, sf_dir, schema=emb_schema, glob="embeddings.parquet"
    ).select("vec_id", F.col("embedding").cast("array<double>").alias("vec"))
    packed = binary_pack_stateless(stream, thr, _BQ_DIM)
    out = packed.select(
        "vec_id", F.posexplode("words").alias("w", "word")
    ).select("vec_id", F.col("w").cast("int").alias("w"), "word")
    name = run_available_now(out, output_mode="append")
    return spark.table(name)


# ---------------------------------------------------------------------------
# Streaming MRL (truncated-dim) index maintenance
# ---------------------------------------------------------------------------


def _mrl_stream_oracle() -> str:
    from blspark.queries.extensions14 import _MRL_DIM

    return f"""
WITH pv AS MATERIALIZED (
  SELECT vec_id, (embedding::DOUBLE[])[1:{_MRL_DIM}] AS p FROM embeddings
)
SELECT vec_id, CAST(t.d AS INT) AS d, p[t.d + 1] AS val
FROM pv, range(0, {_MRL_DIM}) t(d)
"""


@register(
    "s_stream_index_mrl",
    oracle=_mrl_stream_oracle(),
    doc="Streaming MRL (truncated-dim) index maintenance — the "
    "Matryoshka rung of the streaming encode family (raw -> SQ8 -> "
    "PQ -> binary -> MRL prefix): each arriving embedding's first "
    "32-of-64 prefix slice appends STATELESSLY (pure per-row "
    "projection — no trained artifact at all, the cheapest member "
    "of the family: truncation is the whole encoder), maintaining "
    "exactly the half-size float index x_similarity_mrl's candidate "
    "stage scans. Rows are (vec_id, dim index, value) — the "
    "posexplode convention the binary twin uses so the oracle "
    "hash-compares scalars, not arrays. Hash-checked against the "
    "batch slice of the same corpus: streamed prefix rows are "
    "definitionally identical to a batch rebuild, the parity that "
    "makes incremental truncated-index maintenance sound at 100 TB.",
)
def s_stream_index_mrl(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blspark.queries.extensions14 import _MRL_DIM

    emb_schema = spark.read.parquet(f"{sf_dir}/embeddings.parquet").schema
    stream = file_arrival_stream(
        spark, sf_dir, schema=emb_schema, glob="embeddings.parquet"
    ).select("vec_id", F.col("embedding").cast("array<double>").alias("vec"))
    out = stream.select(
        "vec_id",
        F.posexplode(F.slice(F.col("vec"), 1, _MRL_DIM)).alias("d", "val"),
    ).select("vec_id", F.col("d").cast("int").alias("d"), "val")
    name = run_available_now(out, output_mode="append")
    return spark.table(name)


def _nb_stream_oracle() -> str:
    from blspark.queries.extensions16 import _nb_chain_sql

    return f"""
WITH {_nb_chain_sql()}
SELECT doc_id, true_lang, pred_lang FROM pred
"""


@register(
    "s_stream_classify_nb",
    oracle=_nb_stream_oracle(),
    doc="Streaming NB model SERVING — the train-offline/score-online "
    "production shape: the Naive Bayes model is fit from the static "
    "batch table's train split and packed as ONE broadcastable row "
    "(labels + priors + unseen ratios + a token->ratio-array map, "
    "ext/classify.nb_model_arrays); arriving documents (file-arrival "
    "source over documents.parquet, planted-marker transform and the "
    "md5 hash split applied map-side in-stream, held-out bucket kept) "
    "score as a PURE PER-ROW expression — token map lookups folded "
    "with zip_with multiply, priors applied last, argmax = first "
    "index of the max over ascending labels — NO aggregation, no "
    "state store, plain append mode. Per label the multiply sequence "
    "is exactly nb_predictions' per-(doc,class) fold, so streamed "
    "predictions hash-match the batch scorer (pinned bitwise in "
    "tests/test_prefix_nb_phrase.py) and the full oracle. At 100 TB "
    "the model row rides the broadcast and each executor scores its "
    "arrivals independently — model-serving throughput scales with "
    "the stream, not the corpus.",
)
def s_stream_classify_nb(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blspark.ext.classify import nb_model_arrays, nb_score_mapside
    from blspark.ext.dedup import md5_bucket
    from blspark.queries.extensions16 import _NB_SPLIT, _nb_corpus

    doc_schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    stream = file_arrival_stream(
        spark, sf_dir, schema=doc_schema, glob="documents.parquet"
    )
    # planted-marker transform + hash split, map-side in-stream
    # (mirrors extensions16._nb_corpus + ext/classify._nb_split)
    planted = stream.select(
        "doc_id",
        "lang",
        F.when(
            F.col("doc_id") % 4 != 3,
            F.concat(F.col("text"), F.lit(" mk"), F.col("lang")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    test = planted.filter(
        md5_bucket(F.col("doc_id").cast("string"), _NB_SPLIT) == 0
    ).select("doc_id", "lang", F.split(F.col("text"), " ").alias("w"))
    model_row = nb_model_arrays(_nb_corpus(spark, sf_dir), n_split=_NB_SPLIT)
    scored = nb_score_mapside(test, model_row)
    name = run_available_now(scored, output_mode="append")
    return spark.table(name)


def _pca_stream_oracle() -> str:
    from blspark.queries.extensions16 import PCA_PROJECT_ORACLE

    return PCA_PROJECT_ORACLE


@register(
    "s_stream_pca_project",
    oracle=_pca_stream_oracle(),
    doc="Streaming PCA projection SERVING — the embedding twin of "
    "s_stream_classify_nb's train-offline/score-online shape: the "
    "(mean, top-eigenvector) artifact is fit from the static batch "
    "corpus (ext/linalg exact-grid machinery) and packed as one "
    "broadcastable row; arriving embeddings (file-arrival source) "
    "project as a PURE PER-ROW expression — centered dot fold in "
    "index order — no aggregation, no state store, append mode. "
    "Streamed projections hash-match the batch x_embed_pca_project "
    "oracle bitwise (same artifact, same fold), the parity that makes "
    "incremental dominant-direction scoring of a 100 TB stream sound: "
    "the artifact refreshes on the index cadence while arrivals score "
    "at stream throughput.",
)
def s_stream_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    from blspark.catalog import load_table
    from blspark.ext.linalg import (
        covariance_matrix,
        mean_vector,
        power_top_eigen,
    )
    from blspark.queries.extensions16 import _PCA_DIM, _PCA_ITERS

    emb_schema = spark.read.parquet(f"{sf_dir}/embeddings.parquet").schema
    stream = file_arrival_stream(
        spark, sf_dir, schema=emb_schema, glob="embeddings.parquet"
    ).select("vec_id", F.col("embedding").cast("array<double>").alias("x"))
    emb = load_table(spark, sf_dir, "embeddings")
    top = power_top_eigen(
        covariance_matrix(emb, "embedding", _PCA_DIM), _PCA_DIM, _PCA_ITERS
    ).select(F.col("v").alias("topv"))
    art = mean_vector(emb, "embedding").crossJoin(F.broadcast(top))
    joined = stream.withColumn("_k", F.lit(1)).join(
        F.broadcast(art.withColumn("_k", F.lit(1))), "_k"
    )
    proj = F.aggregate(
        F.zip_with(
            F.zip_with(F.col("x"), F.col("m"), lambda a, b: a - b),
            F.col("topv"),
            lambda a, b: a * b,
        ),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )
    scored = joined.select("vec_id", proj.alias("proj"))
    name = run_available_now(scored, output_mode="append")
    return spark.table(name)
