"""True Structured Streaming jobs (SURVEY.md §2.11 T1-T11).

The reference fakes streams with per-source polling (src/enhanced_ingestion.py:
432-545) and a PostgreSQL trigger for running aggregates
(sql/enhanced_data_schema.sql:566-591). Here they are real streaming
queries over a file-source replay of a table (``_file_stream``: one
parquet file per micro-batch). Every registered job drains its source
through the one replay driver, ``_drain`` (throwaway checkpoint, small state-partition
scope, ``availableNow`` trigger), so a bounded replay consumes the whole
source deterministically — which makes each streaming path
oracle-checkable against its batch twin.

Two job shapes:

- operator streams (t05, t06, t08-t10, t12, t13, t18): a windowed, session, dedup, join or
  arbitrary-state query drained into a memory sink by
  ``run_to_completion``;
- ``foreachBatch`` monitors (t07, t14-t43): a state-table DDL
  (``_state_table``) plus a merge function that folds each micro-batch
  into the state. A merge that reads its own table writes through
  ``_write_state``, the one lineage-truncation site; an append-only merge
  inserts directly. The state is mergeable — sums, min/max, bottom-k,
  bit-or, append — so after the replay it equals the batch twin's
  intermediate under ANY micro-batch slicing, and each twin is certified
  by its batch query's oracle, bound at registration
  (``oracle=get("<batch>").oracle``).

Scale posture: in production the file source becomes Kafka/queue with the
same query body; watermark state is bounded per (window × key); the
``foreachBatch`` upsert gives exactly-once MERGE semantics into the
sensor-status table (T10).
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter

from ..registry import get, register

_DEC = "decimal(27,6)"
_DOCS_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"

# Events schema as the streaming source sees it. ``ts``'s declared type
# depends on the generator's parquet physical type: TIMESTAMP(NANOS) files
# only surface as epoch-nanos longs (legacy flag), TIMESTAMP(MICROS) as
# TIMESTAMP_NTZ — probed per source via a footer-only batch read since
# stream sources need the schema up front.
def _raw_schema(ts_type: T.DataType) -> T.StructType:
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


def _file_stream(
    spark: SparkSession, sf_dir: str, table: str, schema: str | T.StructType
) -> DataFrame:
    """File-source stream over ``table``'s parquet, one file per micro-batch.

    ``maxFilesPerTrigger`` is the micro-batch pacing knob (the analog of
    the reference's refresh_minutes polling cadence). File stream sources
    need a *directory*, so the table's single parquet file — or each part
    file of a multi-file landing directory, the production shape, since
    the file source does not recurse into subdirs — is symlinked into a
    stage dir (in production this is the landing directory / Kafka topic,
    so no staging exists).
    """
    stage = os.path.join(
        tempfile.gettempdir(),
        f"swm_{table}_stream_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}",
    )
    os.makedirs(stage, exist_ok=True)
    target = f"{sf_dir}/{table}.parquet"
    # unconditional relink: also clears a dangling link whose target
    # vanished, which symlink() would otherwise trip over
    for old in os.listdir(stage):
        os.unlink(os.path.join(stage, old))
    if os.path.isdir(target):
        for i, part in enumerate(
            sorted(f for f in os.listdir(target) if f.endswith(".parquet"))
        ):
            os.symlink(
                os.path.join(target, part),
                os.path.join(stage, f"{table}_{i:05d}.parquet"),
            )
    else:
        os.symlink(target, os.path.join(stage, f"{table}.parquet"))
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )


def read_event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1: file-source stream over the events table (replay semantics)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    from ..sources.catalog import memo, normalize_event_ts

    # Footer-only batch read to learn the physical ts type (bigint = NANOS
    # via the legacy flag, timestamp_ntz = MICROS) — no data scan, but
    # still a parquet metadata round-trip per call, so memoize the dtype
    # per (session, sf_dir): t12 alone builds two streams over the table.
    ts_dtype = memo(
        spark, ("events_ts_dtype", sf_dir),
        lambda: spark.read.parquet(f"{sf_dir}/events.parquet").schema["ts"].dataType,
    )
    raw = _file_stream(spark, sf_dir, "events", _raw_schema(ts_dtype))
    return raw.withColumn("ts", normalize_event_ts(raw))


def _drain(spark: SparkSession, writer: DataStreamWriter) -> None:
    """The replay driver: run ``writer`` to completion over everything its
    source holds (availableNow + awaitTermination = deterministic full
    replay) with a throwaway checkpoint.

    The replay runs under a small state-partition count: every stateful
    streaming operator instantiates one state store PER shuffle
    partition, and the count is baked into the checkpoint at first batch
    — so a bounded local replay over MB-scale input should start with a
    handful of stores, not a cluster-sized number (measured: the
    stream-stream join replay is ~3x faster at 4 than at 32). Production
    jobs with durable checkpoints size this to the cluster before first
    start; the conf is restored on exit.
    """
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        with tempfile.TemporaryDirectory() as ckpt:
            q = (
                writer.option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def _state_table(spark: SparkSession, table: str, ddl: str) -> None:
    """(Re)create the empty parquet state table ``table`` (columns ``ddl``)
    a foreachBatch monitor folds its micro-batches into."""
    from ..sources.catalog import reset_managed_table

    reset_managed_table(spark, table)
    spark.sql(f"CREATE TABLE {table} ({ddl}) USING parquet")


def _write_state(merged: DataFrame, table: str) -> None:
    """Overwrite a monitor's state table with its merged successor — the
    one lineage-truncation site of the streaming jobs.

    ``merged`` reads ``table`` itself, and Spark refuses to overwrite a
    target that feeds the plan, so lineage is broken first. State tables
    are bounded (per key, per calendar cell or per sketch), so the
    materialization is cheap; with a Delta/Iceberg catalog this becomes a
    real MERGE INTO.
    """
    merged.localCheckpoint(eager=True).write.mode("overwrite").insertInto(table)


def run_to_completion(
    stream_df: DataFrame, query_name: str, output_mode: str = "append"
) -> DataFrame:
    """Drain a bounded stream into an in-memory table, return the result.

    Mode note: with ``append``, windows still open at end-of-stream (not
    yet passed by the watermark) are withheld — correct streaming
    semantics, but a bounded replay that must equal the batch result uses
    ``complete``.
    """
    spark = stream_df.sparkSession
    name = f"{query_name}_{uuid.uuid4().hex[:8]}"
    _drain(
        spark,
        stream_df.writeStream.outputMode(output_mode).format("memory").queryName(name),
    )
    return spark.table(name)


def hourly_preaggregate_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7 streaming: tumbling 1h aggregate (the streaming twin of
    batch_windows.t01). No watermark here: the bounded replay runs in
    ``complete`` mode so the final state equals the batch result; the
    watermarked append-mode variant (production posture, bounded state)
    is exercised in tests via ``t06`` and the late-data test."""
    ev = read_event_stream(spark, sf_dir)
    return (
        ev.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast(_DEC)).cast("double").alias("total_value"),
        )
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@register(
    "t05_streaming_hourly",
    oracle="""
    SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    doc="T7 via TRUE Structured Streaming (availableNow replay, watermark 24h)",
)
def t05_streaming_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_to_completion(
        hourly_preaggregate_stream(spark, sf_dir), "hourly_preagg", "complete"
    )


@register(
    "t06_streaming_session_windows",
    # Append mode emits exactly the sessions the final watermark has
    # closed: islands (30min gap) whose end (last event + gap) is at or
    # before max(ts) - 24h. The oracle reproduces both the
    # sessionization AND that emission rule, so the streaming result is
    # hash-checked, not merely rows-counted.
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ),
    sess AS (
      SELECT user_id, ts,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS sid
      FROM ordered
    ),
    agg AS (
      SELECT user_id, MIN(ts) AS session_start,
             MAX(ts) + INTERVAL 30 MINUTE AS session_end,
             COUNT(*) AS n_events
      FROM sess GROUP BY user_id, sid
    )
    SELECT strftime(session_start, '%Y-%m-%d %H:%M:%S') AS session_start,
           user_id, n_events
    FROM agg,
         -- Spark truncates event-time watermarks to MILLISECONDS; a max
         -- ts with sub-ms precision must be floored the same way or the
         -- oracle emits sessions Spark still withholds
         (SELECT date_trunc('millisecond', MAX(ts)) AS mx FROM events) m
    WHERE session_end <= m.mx - INTERVAL 24 HOUR
    """,
    doc="T8 via session_window() in Structured Streaming (30min gap); "
    "append-mode emission boundary encoded in the oracle",
)
def t06_streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_event_stream(spark, sf_dir)
    sessions = (
        ev.withWatermark("ts", "24 hours")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.date_format("session_window.start", "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            "user_id",
            "n_events",
        )
    )
    return run_to_completion(sessions, "session_windows")


def sensor_status_upsert_stream(
    spark: SparkSession, sf_dir: str, target_table: str = "sensor_status"
) -> DataFrame:
    """T10: trigger-maintained running per-sensor status table, re-expressed
    as a foreachBatch MERGE (reference: PostgreSQL trigger
    sql/enhanced_data_schema.sql:566-591).

    Each micro-batch's per-user partial aggregates are merged into the
    status table: counts summed, last_seen max'd — an idempotent upsert
    keyed on user_id (exactly-once via checkpoint + deterministic batch).
    """
    _state_table(
        spark,
        target_table,
        "user_id LONG, n_events LONG, n_errors LONG, last_seen TIMESTAMP",
    )

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        agg = batch_df.groupBy("user_id").agg(
            F.count("*").alias("n_events"),
            F.count(F.when(F.col("event_type") == "error", 1)).alias("n_errors"),
            F.max("ts").alias("last_seen"),
        )
        sp = batch_df.sparkSession
        existing = sp.table(target_table)
        merged = (
            existing.unionByName(agg)
            .groupBy("user_id")
            .agg(
                F.sum("n_events").alias("n_events"),
                F.sum("n_errors").alias("n_errors"),
                F.max("last_seen").alias("last_seen"),
            )
        )
        _write_state(merged, target_table)

    ev = read_event_stream(spark, sf_dir)
    _drain(spark, ev.writeStream.foreachBatch(merge_batch))
    return spark.table(target_table)


@register(
    "t07_streaming_sensor_status",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS n_errors,
           strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS last_seen
    FROM events
    GROUP BY user_id
    """,
    doc="T10: trigger-maintained sensor status via foreachBatch MERGE — "
    "final upserted table equals the batch aggregate (exactly-once)",
)
def t07_streaming_sensor_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    status = sensor_status_upsert_stream(spark, sf_dir)
    return status.select(
        "user_id",
        "n_events",
        "n_errors",
        F.date_format("last_seen", "yyyy-MM-dd HH:mm:ss").alias("last_seen"),
    )


def late_event_split(
    spark: SparkSession,
    stream: DataFrame,
    checkpoint: str,
    tolerance_seconds: int = 24 * 3600,
    ts_col: str = "ts",
    sink_dir: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """T5: explicit late-event routing with a cross-batch high-water mark.

    The reference flags stale data but never drops it
    (src/data_validator.py:418-429, SURVEY.md §2.11 T5) — and Spark 4.1's
    streaming aggregation admits late input rows rather than dropping them
    (watermarks bound STATE, not input; see test_watermark_bounds_state).
    So lateness is an engine policy, applied inside foreachBatch: events
    older than (high-water mark − tolerance) at the time their batch
    arrives append to a quarantine parquet sink; the rest append to the
    on-time sink. The split is deterministic given the batch order.

    Driver state is one timestamp (the running max event time) — O(1)
    memory at any scale; each half flows executor→sink without touching
    the driver. Returns (on_time_df, late_df) reading the two sinks after
    the bounded availableNow replay drains.
    """
    sink_dir = sink_dir or tempfile.mkdtemp(prefix="late_split_")
    on_time_path = os.path.join(sink_dir, "on_time")
    late_path = os.path.join(sink_dir, "late")
    state = {"hwm": None}
    schema = stream.schema

    def split_batch(batch_df: DataFrame, batch_id: int) -> None:
        hwm = state["hwm"]
        if hwm is not None:
            cutoff = hwm.timestamp() - tolerance_seconds
            is_late = F.col(ts_col).cast("double") < F.lit(cutoff)
        else:
            is_late = F.lit(False)
        tagged = batch_df.withColumn("__late", is_late).cache()
        tagged.filter("__late").drop("__late").write.mode("append").parquet(late_path)
        tagged.filter("NOT __late").drop("__late").write.mode("append").parquet(
            on_time_path
        )
        batch_max = tagged.agg(F.max(ts_col)).collect()[0][0]
        tagged.unpersist()
        if batch_max is not None and (hwm is None or batch_max > hwm):
            state["hwm"] = batch_max

    q = (
        stream.writeStream.foreachBatch(split_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # explicit schema: an all-on-time run leaves the late sink with no
    # part files, which schema inference would reject
    return (
        spark.read.schema(schema).parquet(on_time_path),
        spark.read.schema(schema).parquet(late_path),
    )


@register(
    "t08_streaming_sliding",
    oracle="""
    SELECT strftime(time_bucket(INTERVAL 15 MINUTE, ts) - k.k * INTERVAL 15 MINUTE,
                    '%Y-%m-%d %H:%M:%S') AS window_start,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS total_value
    FROM events CROSS JOIN (VALUES (0), (1), (2), (3)) k(k)
    GROUP BY 1
    """,
    doc="T6 via TRUE Structured Streaming: sliding 1h/15min windows "
    "(complete-mode availableNow replay equals the batch twin t02)",
)
def t08_streaming_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_event_stream(spark, sf_dir)
    slid = (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast(_DEC)).cast("double").alias("total_value"),
        )
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n_events",
            "total_value",
        )
    )
    return run_to_completion(slid, "sliding_windows", "complete")


def anomaly_run_length_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState (SURVEY §2.11 T8):
    per-user running count of CONSECUTIVE error events — the reference's
    fact_anomaly_events table (sql/enhanced_data_schema.sql:325-360, schema
    only, never populated) needs exactly this: anomaly episodes with their
    run lengths, maintained incrementally across micro-batches.

    State per key is two integers (current run, max run) — bounded by key
    count, not history; GroupStateTimeout is unused because the bounded
    replay drains the source (production would set event-time timeout to
    expire idle sensors).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def track(key, pdfs, state: GroupState):
        import pandas as pd

        run, max_run = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            # micro-batch rows arrive unordered within the batch: restore
            # event-time order (event_id tie-break) before folding runs
            for is_err in pdf.sort_values(["ts", "event_id"])["is_error"]:
                run = run + 1 if is_err else 0
                if run > max_run:
                    max_run = run
        state.update((int(run), int(max_run)))
        yield pd.DataFrame(
            {"user_id": [key[0]], "current_run": [run], "max_error_run": [max_run]}
        )

    ev = read_event_stream(spark, sf_dir).select(
        "user_id", "ts", "event_id",
        (F.col("event_type") == "error").alias("is_error"),
    )
    return (
        ev.groupBy("user_id")
        .applyInPandasWithState(
            track,
            outputStructType="user_id long, current_run int, max_error_run int",
            stateStructType="run int, max_run int",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


@register(
    "t09_stateful_run_length",
    oracle="""
    WITH runs AS (
      SELECT user_id, ts,
             CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS is_err,
             SUM(CASE WHEN event_type = 'error' THEN 0 ELSE 1 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS grp
      FROM events
    ),
    lengths AS (
      SELECT user_id, grp, COUNT(*) FILTER (WHERE is_err = 1) AS run_len
      FROM runs GROUP BY user_id, grp
    )
    SELECT user_id, CAST(MAX(run_len) AS INT) AS max_error_run
    FROM lengths GROUP BY user_id
    """,
    doc="T8 custom stateful op: per-sensor max consecutive-anomaly run via "
    "applyInPandasWithState; final state equals the batch gaps-and-islands",
)
def t09_stateful_run_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    # update-mode emits one row per key per batch; the LAST row per key is
    # the final state. The memory sink keeps every update; dedupe by key
    # taking max (run lengths only grow).
    out = run_to_completion(
        anomaly_run_length_stream(spark, sf_dir), "run_length", "update"
    )
    return out.groupBy("user_id").agg(
        F.max("max_error_run").cast("int").alias("max_error_run")
    )


@register(
    "t10_streaming_dedup",
    oracle="""
    SELECT user_id, COUNT(*) AS n_unique_events
    FROM events
    GROUP BY user_id
    """,
    doc="streaming exactly-once dedup: each event duplicated 2x in-stream, "
    "dropDuplicatesWithinWatermark collapses them — per-user counts equal "
    "the clean batch table (at-least-once source → exactly-once sink)",
)
def t10_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At-least-once delivery simulation: every event arrives twice (the
    retry storm a real queue produces); state for seen event_ids is held
    only within the watermark horizon, so memory is bounded by the
    lateness window instead of the whole stream history."""
    ev = read_event_stream(spark, sf_dir)
    doubled = ev.withColumn("__copy", F.explode(F.array(F.lit(1), F.lit(2)))).drop(
        "__copy"
    )
    deduped = (
        doubled.withWatermark("ts", "24 hours")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "user_id")
    )
    out = run_to_completion(deduped, "stream_dedup", "append")
    return out.groupBy("user_id").agg(F.count("*").alias("n_unique_events"))


@register(
    "t12_stream_stream_join",
    oracle="""
    SELECT e.event_id AS error_id,
           p.event_id AS purchase_id,
           e.user_id
    FROM events e JOIN events p
      ON p.user_id = e.user_id
     AND e.event_type = 'error' AND p.event_type = 'purchase'
     AND p.ts >= e.ts AND p.ts <= e.ts + INTERVAL 10 MINUTE
    """,
    doc="stream-stream inner join with watermarks + time-range condition: "
    "purchases within 10min after an error, per user — join state bounded "
    "by the watermark on both sides; full replay equals the batch join",
)
def t12_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both sides are the replayed event stream (errors ⋈ purchases).

    The time-range condition plus per-side watermarks lets Spark expire
    join state: an error row can only ever match purchases up to 10
    minutes ahead, so rows older than watermark-10min are dropped from
    state — bounded memory on an unbounded stream, which a batch range
    join cannot offer.
    """
    errors = (
        read_event_stream(spark, sf_dir)
        .filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("error_id"),
            F.col("user_id"),
            F.col("ts").alias("e_ts"),
        )
        .withWatermark("e_ts", "1 hour")
    )
    purchases = (
        read_event_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = errors.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("e_ts"))
        & (F.col("p_ts") <= F.col("e_ts") + F.expr("INTERVAL 10 MINUTES")),
    ).select("error_id", "purchase_id", "user_id")
    return run_to_completion(joined, "stream_stream_join", "append")


def _fold_value_profile(key, pdfs, prior):
    """The ONE per-key fold both stateful APIs run (count, exact
    micro-unit sum, max) — a fix applied here reaches whichever API the
    environment exercises; the two wrappers only differ in how state is
    fetched and stored."""
    import pandas as pd

    cnt, summ, mx = prior if prior is not None else (0, 0, float("-inf"))
    for pdf in pdfs:
        cnt += len(pdf)
        summ += int(pdf["vmicro"].sum())
        batch_max = float(pdf["value"].max())
        if batch_max > mx:
            mx = batch_max
    out = pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [cnt],
            "sum_micro": [summ],
            "max_value": [mx],
        }
    )
    return (int(cnt), int(summ), float(mx)), out


def tws_available() -> bool:
    """transformWithStateInPandas needs the protobuf state-server protocol;
    without google.protobuf the TWS driver worker crashes at plan time."""
    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        return False


def value_profile_stream(
    spark: SparkSession, sf_dir: str, api: str = "auto"
) -> DataFrame:
    """Custom stateful operator, preferring transformWithStateInPandas —
    the Spark 4 arbitrary-state API (SPARK-46815) with named state
    variables, TTL and timers — and falling back to t09's
    applyInPandasWithState when the environment lacks protobuf (the TWS
    state-server wire protocol; this sandbox ships none, mirroring the
    PIL gate in llmdata.multimodal). Both paths hold the SAME state per
    key — one (count, exact micro-unit sum, max) tuple, bounded by key
    count, not history — and both are oracle-checked through t13.

    Determinism note: the per-row micro conversion happens JVM-side
    (round(value*1e6) as long) BEFORE the Python fold, so the state sum
    is exact integer arithmetic — engine-order-independent, matching the
    SQL oracle bit-for-bit.
    """
    ev = read_event_stream(spark, sf_dir).select(
        "user_id",
        "value",
        F.round(F.col("value") * 1_000_000, 0).cast("long").alias("vmicro"),
    )
    out_schema = (
        "user_id long, n_events long, sum_micro long, max_value double"
    )
    use_tws = tws_available() if api == "auto" else (api == "tws")

    if use_tws:
        from pyspark.sql.streaming.stateful_processor import (
            StatefulProcessor,
            StatefulProcessorHandle,
        )

        class ValueProfile(StatefulProcessor):
            def init(self, handle: StatefulProcessorHandle) -> None:
                self._st = handle.getValueState(
                    "profile", "cnt long, summ long, mx double"
                )

            def handleInputRows(self, key, rows, timer_values):
                state, out = _fold_value_profile(key, rows, self._st.get())
                self._st.update(state)
                yield out

            def close(self) -> None:
                pass

        return ev.groupBy("user_id").transformWithStateInPandas(
            statefulProcessor=ValueProfile(),
            outputStructType=out_schema,
            outputMode="Update",
            timeMode="None",
        )

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def track(key, pdfs, state: GroupState):
        new_state, out = _fold_value_profile(
            key, pdfs, state.get if state.exists else None
        )
        state.update(new_state)
        yield out

    return ev.groupBy("user_id").applyInPandasWithState(
        track,
        outputStructType=out_schema,
        stateStructType="cnt long, summ long, mx double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


@register(
    "t13_transform_with_state",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           ROUND(MAX(value), 6) AS max_value,
           ROUND((SUM(CAST(ROUND(value * 1000000) AS BIGINT)) / 1000000.0)
                 / COUNT(*), 6) AS mean_value
    FROM events GROUP BY user_id
    """,
    doc="T8 via the Spark 4 transformWithStateInPandas API (named "
    "ValueState; auto-falls back to applyInPandasWithState where the "
    "sandbox lacks protobuf): per-user profile (count, exact micro-unit "
    "sum, max); availableNow replay equals the batch aggregate "
    "bit-for-bit (the integer state sum is engine-order-independent)",
)
def t13_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = run_to_completion(
        value_profile_stream(spark, sf_dir), "value_profile", "update"
    )
    # update-mode emits one row per key per micro-batch; n_events is
    # strictly monotone, so max_by(n_events) selects the FINAL state row
    # as one unit (a plain max per column would pair an intermediate
    # sum with the final count if values could go negative)
    final = out.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max_by("sum_micro", "n_events").alias("summ"),
        F.max_by("max_value", "n_events").alias("mx"),
    )
    return final.select(
        "user_id",
        "n_events",
        F.round("mx", 6).alias("max_value"),
        F.round(
            (F.col("summ") / F.lit(1_000_000.0)) / F.col("n_events"), 6
        ).alias("mean_value"),
    )


# --- t14: incrementally-maintained KMV distinct sketch -----------------------


def kmv_sketch_upsert_stream(
    spark: SparkSession, sf_dir: str, target_table: str = "kmv_sketch_state"
) -> DataFrame:
    """T14: a24's KMV distinct sketch maintained INCREMENTALLY by a
    streaming foreachBatch merge.

    The state table holds at most k hash rows per event_type. Each
    micro-batch contributes its distinct md5-derived hashes; merge =
    union + distinct + re-top-k — and because the k smallest of a union
    of k-smallest sets IS the global k-smallest set, the final state is
    EXACTLY the sketch a batch pass over all data would build, for any
    batch slicing. That replay-invariance is what makes sketches the
    right distinct-count state for streams: bounded rows per key, no
    raw-data reprocessing, mergeable across restarts.
    """
    from pyspark.sql import Window as W

    _state_table(spark, target_table, "event_type STRING, hx STRING")

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        hx = F.substring(F.md5(F.col("user_id").cast("string")), 1, _KMV_HEX)
        partial = batch_df.select("event_type", hx.alias("hx")).distinct()
        sp = batch_df.sparkSession
        wk = W.partitionBy("event_type").orderBy("hx")
        merged = (
            sp.table(target_table)
            .unionByName(partial)
            .distinct()
            .withColumn("rn", F.row_number().over(wk))
            .filter(F.col("rn") <= KMV_K)
            .select("event_type", "hx")
        )
        _write_state(merged, target_table)

    ev = read_event_stream(spark, sf_dir)
    _drain(spark, ev.writeStream.foreachBatch(merge_batch))
    return spark.table(target_table)


from ..operators.aggregations import _KMV_HEX, _KMV_SCALE, KMV_K  # noqa: E402


@register(
    "t14_streaming_kmv_sketch",
    # Exactly a24's per-type oracle (no __all__/exact columns): the
    # incremental path must land on the identical sketch bit-for-bit.
    oracle=f"""
    WITH h AS (
      SELECT DISTINCT event_type,
             substr(md5(CAST(user_id AS VARCHAR)), 1, {_KMV_HEX}) AS hx
      FROM events
    ),
    ranked AS (
      SELECT event_type, hx,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hx) AS rn
      FROM h
    ),
    sk AS (
      SELECT event_type, COUNT(*) AS n_in_sketch, MAX(hx) AS kth_min_hash
      FROM ranked WHERE rn <= {KMV_K} GROUP BY event_type
    )
    SELECT event_type, n_in_sketch, kth_min_hash,
           CASE WHEN n_in_sketch < {KMV_K}
                THEN CAST(n_in_sketch AS DOUBLE)
                ELSE ROUND(({KMV_K} - 1.0)
                     / (CAST(('0x' || kth_min_hash) AS BIGINT) / {_KMV_SCALE}), 6)
           END AS est_distinct
    FROM sk
    """,
    doc="T14: KMV distinct sketch maintained incrementally via streaming "
    "foreachBatch merge — exact-merge property makes the final state "
    "equal the batch sketch for ANY micro-batch slicing; bounded state "
    "(k rows per key), certified by the same md5-deterministic oracle "
    "as a24",
)
def t14_streaming_kmv_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    state = kmv_sketch_upsert_stream(spark, sf_dir)
    sk = state.groupBy("event_type").agg(
        F.count("*").alias("n_in_sketch"),
        F.max("hx").alias("kth_min_hash"),
    )
    u_k = F.conv(F.col("kth_min_hash"), 16, 10).cast("long") / F.lit(_KMV_SCALE)
    est = F.when(
        F.col("n_in_sketch") < KMV_K, F.col("n_in_sketch").cast("double")
    ).otherwise(F.round((KMV_K - 1.0) / u_k, 6))
    return sk.select(
        "event_type", "n_in_sketch", "kth_min_hash", est.alias("est_distinct")
    )



# --- t15: streaming MinHash+LSH dedup-on-arrival -----------------------------


def lsh_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T15: near-dup detection ON ARRIVAL — the streaming twin of x08.

    State: the corpus signature table (k longs per doc) plus arrived doc
    texts (stand-in for the token-set store a production system keeps for
    verification). Each micro-batch signs its new docs, band-joins them
    against the accumulated + new signatures, and Jaccard-verifies the
    candidates. A pair is emitted exactly once — when its LATER member
    arrives — so the cumulative pair set provably equals the batch x08
    output for ANY batch slicing, and x08's exact oracle certifies it.
    """
    from ..llmdata.dedup import (
        _banded,
        minhash_signatures,
        verify_jaccard,
    )

    _state_table(spark, "lsh_docs_state", "doc_id LONG, text STRING")
    _state_table(
        spark, "lsh_pairs_state", "doc_a LONG, doc_b LONG, jaccard DOUBLE"
    )

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        new_docs = batch_df.select("doc_id", "text")
        old_docs = sp.table("lsh_docs_state")
        all_docs = old_docs.unionByName(new_docs)
        # sign once per batch: new docs only (old signatures could be
        # persisted too; texts suffice at fixture scale and keep the
        # state schema minimal for the demo)
        new_banded = _banded(minhash_signatures(new_docs))
        all_banded = _banded(minhash_signatures(all_docs))
        cands = (
            new_banded.select("band", "bh", F.col("doc_id").alias("doc_new"))
            .join(all_banded, ["band", "bh"])
            .filter(F.col("doc_id") != F.col("doc_new"))
            .select(
                F.least("doc_id", "doc_new").alias("doc_a"),
                F.greatest("doc_id", "doc_new").alias("doc_b"),
            )
            .distinct()
        )
        # emit-once falls out of construction: a candidate needs one NEW
        # member (the probe side), and every doc is new in exactly one
        # batch — the pair can only be generated in the batch where its
        # SECOND member arrives (the first member's signature is not in
        # state before its own arrival), regardless of id order
        verified = verify_jaccard(all_docs, cands)
        # append-only: neither write reads the table it appends to
        verified.write.mode("append").insertInto("lsh_pairs_state")
        new_docs.write.mode("append").insertInto("lsh_docs_state")

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    stream = _file_stream(spark, sf_dir, "documents", _DOCS_SCHEMA)
    _drain(spark, stream.writeStream.foreachBatch(merge_batch))
    return spark.table("lsh_pairs_state")


from ..llmdata.dedup import _x08_cte  # noqa: E402


@register(
    "t15_streaming_lsh_dedup",
    oracle="WITH "
    + _x08_cte()
    + "\n    SELECT doc_a, doc_b, ROUND(jaccard, 6) AS jaccard FROM verified",
    doc="T15: MinHash+LSH near-dup detection ON ARRIVAL via streaming "
    "foreachBatch — each micro-batch's docs are signed, band-joined "
    "against the accumulated signature state, and Jaccard-verified; the "
    "emit-once rule (a pair fires when its later member arrives) makes "
    "the cumulative pair set equal batch x08 for any slicing, certified "
    "by the same md5-deterministic oracle",
)
def t15_streaming_lsh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lsh_dedup_stream(spark, sf_dir).select(
        "doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard")
    )


# --- t17: incrementally-maintained sample-quantile sketch --------------------

from ..operators.aggregations import SQ_K  # noqa: E402


def sample_quantile_upsert_stream(spark: SparkSession, sf_dir: str) -> None:
    """T17: a29's bottom-k-by-hash uniform sample maintained INCREMENTALLY
    by a streaming foreachBatch merge, alongside an exact running row
    count per key.

    Two bounded state tables: ``sq_sample_state`` holds at most k rows per
    event_type (the k smallest md5(event_id) hashes seen so far, with
    their values); ``sq_count_state`` holds one row per event_type. Merge
    = union + re-bottom-k — the k smallest of a union of k-smallest sets
    IS the global k-smallest set, so the final sample equals the batch
    a29 sample for ANY micro-batch slicing, and the quantiles computed
    from it are bit-identical.
    """
    from pyspark.sql import Window as W

    _state_table(
        spark,
        "sq_sample_state",
        "event_type STRING, value DOUBLE, hx STRING, event_id BIGINT",
    )
    _state_table(spark, "sq_count_state", "event_type STRING, n_total BIGINT")

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        rows = batch_df.select(
            "event_type",
            "value",
            F.md5(F.col("event_id").cast("string")).alias("hx"),
            "event_id",
        )
        wk = W.partitionBy("event_type").orderBy("hx", "event_id")
        merged = (
            sp.table("sq_sample_state")
            .unionByName(rows)
            .withColumn("rn", F.row_number().over(wk))
            .filter(F.col("rn") <= SQ_K)
            .select("event_type", "value", "hx", "event_id")
        )
        _write_state(merged, "sq_sample_state")

        counts = (
            sp.table("sq_count_state")
            .unionByName(
                batch_df.groupBy("event_type").agg(
                    F.count("*").alias("n_total")
                )
            )
            .groupBy("event_type")
            .agg(F.sum("n_total").alias("n_total"))
        )
        _write_state(counts, "sq_count_state")

    ev = read_event_stream(spark, sf_dir)
    _drain(spark, ev.writeStream.foreachBatch(merge_batch))


@register(
    "t17_streaming_sample_quantile",
    # EXACTLY a29's oracle: the incremental bottom-k sample + running
    # count must land on the identical sketch (and therefore identical
    # nearest-rank quantiles) bit-for-bit.
    oracle=get("a29_sample_quantile_sketch").oracle,
    doc="T17: a29's sample-quantile sketch maintained incrementally via "
    "streaming foreachBatch — bounded state (k sample rows + 1 count row "
    "per key), merge-invariant bottom-k-by-hash, so the final "
    "median/p90 equal the batch sketch for any micro-batch slicing; "
    "certified by a29's own md5-deterministic oracle",
)
def t17_streaming_sample_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    sample_quantile_upsert_stream(spark, sf_dir)
    kept = spark.table("sq_sample_state")
    totals = spark.table("sq_count_state")
    sample = kept.join(F.broadcast(totals), "event_type").select(
        "event_type",
        "value",
        "n_total",
        F.row_number()
        .over(
            W.partitionBy("event_type").orderBy(
                "value", F.md5(F.col("value").cast("string"))
            )
        )
        .alias("vrn"),
        F.count("*").over(W.partitionBy("event_type")).alias("k_actual"),
    )
    return sample.groupBy("event_type").agg(
        F.max("n_total").alias("n_total"),
        F.max("k_actual").cast("bigint").alias("k_actual"),
        F.max(
            F.when(
                F.col("vrn") == F.ceil(0.5 * F.col("k_actual")).cast("bigint"),
                F.col("value"),
            )
        ).alias("sample_median"),
        F.max(
            F.when(
                F.col("vrn") == F.ceil(0.9 * F.col("k_actual")).cast("bigint"),
                F.col("value"),
            )
        ).alias("sample_p90"),
    )


# --- t18: stream-static point-in-time dimension join -------------------------

@register(
    "t18_stream_static_pit_join",
    # EXACTLY j13's oracle: the stream-static join + complete-mode rollup
    # must land on the identical as-was report.
    oracle=get("j13_pit_scd2_lookup").oracle,
    doc="T18: stream-STATIC join — the events stream joins the versioned "
    "SCD2 dimension (j13's fixture) with the point-in-time validity "
    "predicate per micro-batch (the dimension is a static broadcast; no "
    "state store involved, the third join topology after t12's "
    "stream-stream and t10's dedup state), then a complete-mode rollup; "
    "the availableNow replay must equal batch j13 bit-for-bit. At "
    "scale this is the canonical streaming enrichment: facts arrive, "
    "dims sit in the lake, the broadcast refreshes per batch",
)
def t18_stream_static_pit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.numeric import dsum
    from ..operators.joins import _PIT_FLIP
    from ..sources.catalog import load_table as _lt

    cust = _lt(spark, sf_dir, "customer").filter(F.col("c_custkey") < 150)
    flip = F.lit(_PIT_FLIP).cast("timestamp")
    v1 = cust.select(
        F.col("c_custkey").alias("d_user_id"),
        F.col("c_mktsegment").alias("seg"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("valid_from"),
        flip.alias("valid_to"),
    )
    v2 = cust.select(
        F.col("c_custkey").alias("d_user_id"),
        F.when(F.col("c_custkey") % 3 == 0, "UPGRADED")
        .otherwise(F.col("c_mktsegment"))
        .alias("seg"),
        flip.alias("valid_from"),
        F.lit("9999-12-31 00:00:00").cast("timestamp").alias("valid_to"),
    )
    dim = F.broadcast(v1.unionByName(v2))

    ev = read_event_stream(spark, sf_dir)
    joined = ev.join(
        dim,
        (ev["user_id"] == dim["d_user_id"])
        & (ev["ts"] >= dim["valid_from"])
        & (ev["ts"] < dim["valid_to"]),
    )
    agg = joined.groupBy(
        "seg", F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(
        F.count("*").alias("n_events"),
        dsum("value").alias("sum_value"),
    )
    return run_to_completion(agg, "stream_static_pit", "complete")


# --- t19: streaming weighted reservoir (x92's primitive, incremental) --------

WRES_K = 20


def weighted_reservoir_upsert_stream(spark: SparkSession, sf_dir: str) -> None:
    """T19: the Efraimidis–Spirakis weighted reservoir (x92's primitive,
    here over events weighted by value) maintained INCREMENTALLY by a
    streaming foreachBatch merge.

    One bounded state table ``wres_state`` holds at most k rows — the k
    largest selection keys seen so far. Merge = union + re-top-k: the
    top-k of a union of per-batch top-k sets IS the global top-k (the
    key is a pure row-local function of (event_id, value)), so the final
    reservoir equals the single-pass batch draw for ANY micro-batch
    slicing.
    """
    from pyspark.sql import Window as W

    _state_table(
        spark,
        "wres_state",
        "event_id BIGINT, event_type STRING, value DOUBLE, sel_key DOUBLE",
    )

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        h = F.conv(
            F.substring(F.md5(F.col("event_id").cast("string")), 1, 8), 16, 10
        ).cast("long")
        rows = batch_df.filter(F.col("value") > 0).select(
            "event_id",
            "event_type",
            "value",
            (
                F.round(F.log((h + 0.5) / F.lit(4294967296.0)), 6)
                / F.round("value", 6)
            ).alias("sel_key"),
        )
        wk = W.orderBy(F.desc("sel_key"), F.asc("event_id"))
        merged = (
            sp.table("wres_state")
            .unionByName(rows)
            .withColumn("rn", F.row_number().over(wk))
            .filter(F.col("rn") <= WRES_K)
            .select("event_id", "event_type", "value", "sel_key")
        )
        _write_state(merged, "wres_state")

    ev = read_event_stream(spark, sf_dir)
    _drain(spark, ev.writeStream.foreachBatch(merge_batch))


@register(
    "t19_stream_weighted_reservoir",
    oracle=f"""
    WITH keyed AS (
      SELECT event_id, event_type, value,
             ROUND(LN((CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)),
                                            1, 8)) AS BIGINT) + 0.5)
                      / 4294967296.0), 6)
               / ROUND(value, 6) AS sel_key
      FROM events WHERE value > 0
    )
    SELECT CAST(rn AS BIGINT) AS rank, event_id, event_type, value, sel_key
    FROM (
      SELECT event_id, event_type, value, sel_key,
             ROW_NUMBER() OVER (ORDER BY sel_key DESC, event_id) AS rn
      FROM keyed
    ) WHERE rn <= {WRES_K}
    """,
    doc="T19: x92's Efraimidis–Spirakis weighted reservoir maintained "
    "incrementally over the event stream (weight = value) via "
    "foreachBatch union + re-top-k — bounded state (k rows total), "
    "merge-exact because the selection key is a pure row-local md5 "
    "function, so the final reservoir equals the direct single-pass "
    "draw for any micro-batch slicing; certified by the same "
    "deterministic SQL oracle as the batch formulation (the streaming "
    "half of the weighted-sampling kit: x92 draws from the lake, t19 "
    "keeps the draw fresh as data lands)",
)
def t19_stream_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    weighted_reservoir_upsert_stream(spark, sf_dir)
    st = spark.table("wres_state")
    return st.select(
        F.row_number()
        .over(W.orderBy(F.desc("sel_key"), F.asc("event_id")))
        .cast("bigint")
        .alias("rank"),
        "event_id",
        "event_type",
        "value",
        "sel_key",
    )


# --- t20: incrementally-maintained count-min sketch --------------------------

from ..llmdata.text import (  # noqa: E402
    CMS_DEPTH,
    CMS_TOPK,
    _cms_seeded_bucket,
    doc_token_table,
    tokens as _doc_tokens,
)


def countmin_upsert_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T20: x46's count-min grid maintained INCREMENTALLY by a streaming
    foreachBatch merge — the heavy-hitter state a firehose ingest keeps.

    State is the d x w counter grid itself (at most CMS_DEPTH*CMS_WIDTH
    rows, CONSTANT in corpus size — the whole point of the sketch as
    streaming state). Each micro-batch reduces its new docs to a partial
    grid (map-combined word counts, then bucket sums) and merge =
    union + SUM per (seed, bucket). Counter addition is associative and
    commutative over integers, so the final grid equals the batch x46
    grid bit-for-bit for ANY micro-batch slicing."""
    _state_table(spark, "cms_grid_state", "seed INT, bucket BIGINT, counter BIGINT")

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        wc = (
            batch_df.select(F.explode(_doc_tokens("text")).alias("w"))
            .groupBy("w")
            .agg(F.count("*").alias("cnt"))
        )
        seeds = sp.range(CMS_DEPTH).select(
            F.col("id").cast("int").alias("seed")
        )
        partial = (
            wc.crossJoin(F.broadcast(seeds))
            .select("seed", _cms_seeded_bucket("w").alias("bucket"), "cnt")
            .groupBy("seed", "bucket")
            .agg(F.sum("cnt").alias("counter"))
        )
        merged = (
            sp.table("cms_grid_state")
            .unionByName(partial)
            .groupBy("seed", "bucket")
            .agg(F.sum("counter").alias("counter"))
            .select("seed", "bucket", "counter")
        )
        _write_state(merged, "cms_grid_state")

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    stream = _file_stream(spark, sf_dir, "documents", _DOCS_SCHEMA)
    _drain(spark, stream.writeStream.foreachBatch(merge_batch))
    return spark.table("cms_grid_state")


@register(
    "t20_streaming_countmin",
    # Exactly x46's oracle: the incrementally-merged grid must answer the
    # top-k probe identically to the batch-built grid.
    oracle=get("x46_countmin_heavy_hitters").oracle,
    doc="T20: count-min heavy-hitter sketch maintained incrementally via "
    "streaming foreachBatch — each micro-batch folds its word counts "
    "into the constant-size d x w counter grid (integer SUM merge: "
    "associative + commutative, so the final state equals the batch "
    "x46 grid for ANY slicing); the grid is then probed for the "
    f"top-{CMS_TOPK} true words and certified by x46's own oracle. "
    "The state never grows with the corpus — the property that makes "
    "sketches the right heavy-hitter state for unbounded streams",
)
def t20_streaming_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    grid = countmin_upsert_stream(spark, sf_dir)
    wc = (
        doc_token_table(spark, sf_dir)
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
    )
    seeds = spark.range(CMS_DEPTH).select(F.col("id").cast("int").alias("seed"))
    top = wc.orderBy(F.desc("cnt"), F.asc("w")).limit(CMS_TOPK)
    probes = top.crossJoin(F.broadcast(seeds)).select(
        "w", "cnt", "seed", _cms_seeded_bucket("w").alias("bucket")
    )
    return (
        probes.join(F.broadcast(grid), ["seed", "bucket"])
        .groupBy("w", "cnt")
        .agg(F.min("counter").alias("cms_estimate"))
        .select(
            F.col("w").alias("word"),
            F.col("cnt").alias("true_count"),
            "cms_estimate",
            (F.col("cms_estimate") - F.col("cnt")).alias("overestimate"),
        )
    )


# --- t21: streaming referential-integrity monitor -----------------------------


def ri_monitor_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T21: v08's referential-integrity audit as a STREAMING monitor —
    fact rows (lineitem) arrive in micro-batches and are checked against
    the static orders dimension on arrival.

    State is ONE row of mergeable audit moments (row count, orphan
    count, min/max orphan key): per-batch counts are independent sums
    over disjoint row sets, so merge = SUM/SUM/MIN/MAX and the final
    state equals the batch v08 lineitem block for ANY slicing — the
    shape every streaming data-quality counter takes."""
    from ..sources.catalog import load_table as _lt

    _state_table(
        spark,
        "ri_monitor_state",
        "n_rows BIGINT, n_orphans BIGINT, "
        "min_orphan_key BIGINT, max_orphan_key BIGINT",
    )
    parent_keys = (
        _lt(spark, sf_dir, "orders")
        .select(F.col("o_orderkey").alias("k"))
        .distinct()
    )

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        orphans = batch_df.join(
            parent_keys, batch_df["l_orderkey"] == parent_keys["k"], "left_anti"
        )
        partial = batch_df.agg(
            F.count("*").cast("bigint").alias("n_rows")
        ).crossJoin(
            orphans.agg(
                F.count("*").cast("bigint").alias("n_orphans"),
                F.min("l_orderkey").cast("bigint").alias("min_orphan_key"),
                F.max("l_orderkey").cast("bigint").alias("max_orphan_key"),
            )
        )
        merged = (
            sp.table("ri_monitor_state")
            .unionByName(partial)
            .agg(
                F.sum("n_rows").cast("bigint").alias("n_rows"),
                F.sum("n_orphans").cast("bigint").alias("n_orphans"),
                F.min("min_orphan_key").cast("bigint").alias("min_orphan_key"),
                F.max("max_orphan_key").cast("bigint").alias("max_orphan_key"),
            )
        )
        _write_state(merged, "ri_monitor_state")

    # schema projection: the monitor needs only the FK column, parquet
    # prunes the rest
    stream = _file_stream(spark, sf_dir, "lineitem", "l_orderkey long")
    _drain(spark, stream.writeStream.foreachBatch(merge_batch))
    return spark.table("ri_monitor_state")


@register(
    "t21_streaming_ri_monitor",
    oracle="""
    SELECT 'lineitem.l_orderkey -> orders.o_orderkey' AS fk,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(CASE WHEN o.o_orderkey IS NULL THEN 1 END) AS BIGINT)
             AS n_orphans,
           ROUND(CAST(COUNT(CASE WHEN o.o_orderkey IS NULL THEN 1 END)
                      AS DOUBLE) / COUNT(*), 6) AS orphan_rate,
           CAST(MIN(CASE WHEN o.o_orderkey IS NULL THEN l.l_orderkey END)
                AS BIGINT) AS min_orphan_key,
           CAST(MAX(CASE WHEN o.o_orderkey IS NULL THEN l.l_orderkey END)
                AS BIGINT) AS max_orphan_key
    FROM lineitem l LEFT JOIN orders o ON o.o_orderkey = l.l_orderkey
    """,
    doc="T21: referential integrity ON ARRIVAL — the streaming twin of "
    "v08: each fact micro-batch anti-joins the static dimension and "
    "folds (rows, orphans, min/max orphan key) into one mergeable "
    "audit row; per-batch counts are sums over disjoint row sets, so "
    "the final state equals the batch audit for ANY slicing. The "
    "stream reads ONLY the FK column (schema projection into the "
    "parquet file source); the dimension key set is reused across "
    "batches. The always-on data-quality counter a CDC ingest runs",
)
def t21_streaming_ri_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    st = ri_monitor_stream(spark, sf_dir)
    return st.select(
        F.lit("lineitem.l_orderkey -> orders.o_orderkey").alias("fk"),
        "n_rows",
        "n_orphans",
        F.round(
            F.col("n_orphans").cast("double") / F.col("n_rows"), 6
        ).alias("orphan_rate"),
        "min_orphan_key",
        "max_orphan_key",
    )


# --- t22: incrementally-maintained data-skipping manifest ----------------------


def stats_manifest_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T22: c12's data-skipping manifest maintained INCREMENTALLY — the
    Delta/Iceberg pattern where each appended batch upserts its
    partitions' stats rather than re-scanning the table.

    State: one row per day with (rows, min/max value, null count,
    min/max ts). All five moments are mergeable (SUM/MIN/MAX), so the
    final manifest equals the batch-built one for ANY micro-batch
    slicing — and a planner consulting it mid-stream only ever
    over-includes (a day's min can only tighten downward), never
    wrongly skips."""
    _state_table(
        spark,
        "stats_manifest_state",
        "day STRING, n_rows BIGINT, min_value DOUBLE, max_value DOUBLE, "
        "n_null_value BIGINT, min_ts STRING, max_ts STRING",
    )

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        partial = batch_df.groupBy(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias(
                "day"
            )
        ).agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
            F.count(F.when(F.col("value").isNull(), 1))
            .cast("bigint")
            .alias("n_null_value"),
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "min_ts"
            ),
            F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "max_ts"
            ),
        )
        merged = (
            sp.table("stats_manifest_state")
            .unionByName(partial)
            .groupBy("day")
            .agg(
                F.sum("n_rows").cast("bigint").alias("n_rows"),
                F.min("min_value").alias("min_value"),
                F.max("max_value").alias("max_value"),
                F.sum("n_null_value").cast("bigint").alias("n_null_value"),
                F.min("min_ts").alias("min_ts"),
                F.max("max_ts").alias("max_ts"),
            )
            .select(
                "day", "n_rows", "min_value", "max_value",
                "n_null_value", "min_ts", "max_ts",
            )
        )
        _write_state(merged, "stats_manifest_state")

    ev = read_event_stream(spark, sf_dir)
    _drain(spark, ev.writeStream.foreachBatch(merge_batch))
    return spark.table("stats_manifest_state")


@register(
    "t22_streaming_stats_manifest",
    # Day-grain stats identical to c12's manifest semantics (ISO strings
    # for dates/timestamps per the cross-engine DATE rule).
    oracle="""
    SELECT strftime(time_bucket(INTERVAL 1 DAY, ts), '%Y-%m-%d') AS day,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(value) AS min_value,
           MAX(value) AS max_value,
           CAST(COUNT(CASE WHEN value IS NULL THEN 1 END) AS BIGINT)
             AS n_null_value,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS min_ts,
           strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS max_ts
    FROM events GROUP BY 1
    """,
    doc="T22: the data-skipping manifest (c12) maintained INCREMENTALLY "
    "by streaming foreachBatch upserts — per-day rows/min/max/null "
    "stats are all SUM/MIN/MAX-mergeable, so the manifest equals the "
    "batch build for any slicing; this is exactly how Delta/Iceberg "
    "keep file stats current on append without table rescans, and a "
    "mid-stream reader can only over-include, never wrongly skip",
)
def t22_streaming_stats_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stats_manifest_stream(spark, sf_dir)


# --- t23: incrementally-maintained bloom membership state -----------------------

_T23_BITS = 2048
_T23_WORDS = _T23_BITS // 32  # 32-bit words: DuckDB's << is overflow-checked at bit 63
_T23_HASHES = 4
_T23_SHIFT = 100_000  # synthetic non-member probe offset


def _t23_hash(j: int, col):
    """md5-derived bit position — the one hash family both engines share
    (k06's xxhash64 bloom has no DuckDB twin; this one does)."""
    md = F.md5(F.concat(F.lit(f"{j}|"), col.cast("string")))
    return F.conv(F.substring(md, 1, 12), 16, 10).cast("long") % _T23_BITS


def _t23_sql_hash(j: int, expr: str) -> str:
    return (
        f"CAST(('0x' || substr(md5('{j}|' || CAST({expr} AS VARCHAR)), 1, 12))"
        f" AS BIGINT) % {_T23_BITS}"
    )


def bloom_state_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T23: a bloom filter as STREAMING STATE — each micro-batch ORs its
    new members' bits into a 2048-bit word table (32 rows, constant in
    stream length). bit_or is associative/commutative/idempotent, so the
    final bitset equals the batch-built bloom for ANY slicing AND under
    at-least-once replay — idempotent state, the strongest merge class
    (t14's k-min and t20's counters tolerate slicing; the bloom also
    tolerates duplicate delivery)."""
    _state_table(spark, "bloom_membership_state", "word_idx INT, word BIGINT")

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        members = batch_df.select("user_id").distinct()
        hashed = members.select(
            F.explode(
                F.array(
                    *[_t23_hash(j, F.col("user_id")) for j in range(_T23_HASHES)]
                )
            ).alias("h")
        )
        partial = (
            hashed.select(
                F.expr("cast(h div 32 as int)").alias("word_idx"),
                F.expr("shiftleft(1L, cast(h % 32 as int))").alias("word"),
            )
            .groupBy("word_idx")
            .agg(F.bit_or("word").alias("word"))
        )
        merged = (
            sp.table("bloom_membership_state")
            .unionByName(partial)
            .groupBy("word_idx")
            .agg(F.bit_or("word").alias("word"))
            .select("word_idx", "word")
        )
        _write_state(merged, "bloom_membership_state")

    ev = read_event_stream(spark, sf_dir)
    _drain(spark, ev.writeStream.foreachBatch(merge_batch))
    return spark.table("bloom_membership_state")


@register(
    "t23_streaming_bloom_state",
    # The oracle REBUILDS the identical md5-derived bloom in SQL and
    # probes it with the same member + shifted-non-member sets — bit
    # math is engine-shared, so the false-positive COUNT is exact, not
    # just bounded.
    oracle=f"""
    WITH m AS (SELECT DISTINCT user_id FROM events),
    hashes AS (
      SELECT {" UNION ALL SELECT ".join(
          f"user_id, {_t23_sql_hash(j, 'user_id')} AS h FROM m"
          for j in range(_T23_HASHES))}
    ),
    words AS (
      SELECT CAST(h // 32 AS INT) AS word_idx,
             bit_or(CAST(1 AS BIGINT) << CAST(h % 32 AS INT)) AS word
      FROM hashes GROUP BY 1
    ),
    probes AS (
      SELECT user_id AS pid, TRUE AS is_member FROM m
      UNION ALL
      SELECT user_id + {_T23_SHIFT}, FALSE FROM m
    ),
    ph AS (
      SELECT {" UNION ALL SELECT ".join(
          f"pid, is_member, {_t23_sql_hash(j, 'pid')} AS h FROM probes"
          for j in range(_T23_HASHES))}
    ),
    hit AS (
      SELECT ph.pid, ph.is_member,
             BOOL_AND((COALESCE(w.word, 0)
                       & (CAST(1 AS BIGINT) << CAST(ph.h % 32 AS INT)))
                      <> 0) AS bloom_hit
      FROM ph LEFT JOIN words w ON w.word_idx = CAST(ph.h // 32 AS INT)
      GROUP BY 1, 2
    )
    SELECT CAST(COUNT(CASE WHEN is_member THEN 1 END) AS BIGINT)
             AS n_members,
           BOOL_AND(CASE WHEN is_member THEN bloom_hit ELSE TRUE END)
             AS all_members_hit,
           CAST(COUNT(CASE WHEN NOT is_member THEN 1 END) AS BIGINT)
             AS n_nonmember_probes,
           CAST(COUNT(CASE WHEN NOT is_member AND bloom_hit THEN 1 END)
                AS BIGINT) AS n_false_positives,
           CAST(COUNT(CASE WHEN NOT is_member AND bloom_hit THEN 1 END)
                AS DOUBLE)
             / COUNT(CASE WHEN NOT is_member THEN 1 END) AS fp_rate
    FROM hit
    """,
    doc=f"T23: a {_T23_BITS}-bit bloom filter as streaming state — each "
    "micro-batch ORs its members' md5-derived bits into a constant "
    f"{_T23_WORDS}-row 32-bit-word table; bit_or is idempotent as well as "
    "mergeable, so the state survives BOTH arbitrary slicing and "
    "at-least-once redelivery (stronger than t14/t20's merge class). "
    "Probed with every true member (must all hit) and a shifted "
    "non-member set whose EXACT false-positive count the oracle "
    "recomputes bit-for-bit in SQL. The 'have we seen this key' gate "
    "a streaming dedup puts in front of expensive state lookups",
)
def t23_streaming_bloom_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.catalog import load_table as _lt

    words = bloom_state_stream(spark, sf_dir)
    members = (
        _lt(spark, sf_dir, "events").select("user_id").distinct()
    )
    probes = members.select(
        F.col("user_id").alias("pid"), F.lit(True).alias("is_member")
    ).unionByName(
        members.select(
            (F.col("user_id") + _T23_SHIFT).alias("pid"),
            F.lit(False).alias("is_member"),
        )
    )
    ph = probes.select(
        "pid",
        "is_member",
        F.explode(
            F.array(*[_t23_hash(j, F.col("pid")) for j in range(_T23_HASHES)])
        ).alias("h"),
    )
    hit = (
        ph.join(
            F.broadcast(words),
            F.expr("cast(h div 32 as int)") == words["word_idx"],
            "left",
        )
        .select(
            "pid",
            "is_member",
            (
                (
                    F.coalesce(F.col("word"), F.lit(0))
                    .bitwiseAND(F.expr("shiftleft(1L, cast(h % 32 as int))"))
                )
                != 0
            ).alias("bit_set"),
        )
        .groupBy("pid", "is_member")
        .agg(F.bool_and("bit_set").alias("bloom_hit"))
    )
    return hit.agg(
        F.count_if("is_member").cast("bigint").alias("n_members"),
        F.bool_and(
            F.when(F.col("is_member"), F.col("bloom_hit")).otherwise(True)
        ).alias("all_members_hit"),
        F.count_if(~F.col("is_member")).cast("bigint").alias(
            "n_nonmember_probes"
        ),
        F.count_if(~F.col("is_member") & F.col("bloom_hit"))
        .cast("bigint")
        .alias("n_false_positives"),
        (
            F.count_if(~F.col("is_member") & F.col("bloom_hit")).cast("double")
            / F.count_if(~F.col("is_member"))
        ).alias("fp_rate"),
    )


# --- t24: streaming A/B experiment monitor --------------------------------------


def ab_monitor_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T24: m18's two-proportion experiment as an ALWAYS-ON monitor —
    each event micro-batch folds into per-(event_type, arm) sufficient
    statistics (n, conversions); the z statistic is recomputed from
    state after every merge.

    The state is the minimal sufficient-statistics table: counts are
    sums over disjoint row sets, so merge = groupBy-SUM and the state
    after any slicing equals the batch computation — the property that
    lets an experimentation dashboard read significance mid-flight
    without rescanning history."""
    _state_table(
        spark, "ab_monitor_state", "event_type STRING, arm INT, n BIGINT, conv BIGINT"
    )

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        arm = (
            F.conv(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 8),
                16,
                10,
            ).cast("long")
            % 2
        ).cast("int")
        partial = (
            batch_df.select(
                "event_type",
                arm.alias("arm"),
                F.when(F.col("value") > 50.0, 1).otherwise(0).alias("c"),
            )
            .groupBy("event_type", "arm")
            .agg(
                F.count("*").cast("bigint").alias("n"),
                F.sum("c").cast("bigint").alias("conv"),
            )
        )
        merged = (
            sp.table("ab_monitor_state")
            .unionByName(partial)
            .groupBy("event_type", "arm")
            .agg(
                F.sum("n").cast("bigint").alias("n"),
                F.sum("conv").cast("bigint").alias("conv"),
            )
        )
        _write_state(merged, "ab_monitor_state")

    stream = read_event_stream(spark, sf_dir).select(
        "user_id", "event_type", "value"
    )
    _drain(spark, stream.writeStream.foreachBatch(merge_batch))
    return spark.table("ab_monitor_state")


@register(
    "t24_streaming_ab_monitor",
    # Must equal m18's batch z-test bit-for-bit: integer sufficient
    # statistics merge exactly under any batch slicing, and the final z
    # is one IEEE expression on them.
    oracle="""
    WITH armed AS (
      SELECT event_type,
             CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)
                  AS BIGINT) % 2 AS arm,
             CASE WHEN value > 50.0 THEN 1 ELSE 0 END AS conv
      FROM events
    ),
    agg AS (
      SELECT event_type,
             CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
             CAST(SUM(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT)
               AS conv_a,
             CAST(SUM(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT)
               AS conv_b
      FROM armed GROUP BY event_type
    )
    SELECT event_type, n_a, n_b, conv_a, conv_b,
           (CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b)
             / SQRT((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                    * (1 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                    * (1.0 / n_a + 1.0 / n_b)) AS z
    FROM agg
    """,
    doc="T24: streaming A/B experiment monitor — m18's two-proportion "
    "z-test maintained incrementally: per-(type, arm) sufficient "
    "statistics (n, conversions) merge per micro-batch (disjoint-set "
    "sums, so state == batch answer under ANY slicing) and the pooled "
    "z recomputes from state on read. The mid-flight significance "
    "dashboard an experimentation platform serves without rescanning "
    "history; state is 2 rows per event type regardless of traffic",
)
def t24_streaming_ab_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    st = ab_monitor_stream(spark, sf_dir)
    piv = st.groupBy("event_type").agg(
        F.sum(F.when(F.col("arm") == 0, F.col("n")).otherwise(0))
        .cast("bigint")
        .alias("n_a"),
        F.sum(F.when(F.col("arm") == 1, F.col("n")).otherwise(0))
        .cast("bigint")
        .alias("n_b"),
        F.sum(F.when(F.col("arm") == 0, F.col("conv")).otherwise(0))
        .cast("bigint")
        .alias("conv_a"),
        F.sum(F.when(F.col("arm") == 1, F.col("conv")).otherwise(0))
        .cast("bigint")
        .alias("conv_b"),
    )
    p_a = F.col("conv_a").cast("double") / F.col("n_a")
    p_b = F.col("conv_b").cast("double") / F.col("n_b")
    pool = (F.col("conv_a") + F.col("conv_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    )
    return piv.select(
        "event_type",
        "n_a",
        "n_b",
        "conv_a",
        "conv_b",
        (
            (p_a - p_b)
            / F.sqrt(
                pool
                * (1 - pool)
                * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))
            )
        ).alias("z"),
    )


# --- t25: streaming PSI drift monitor --------------------------------------------


def psi_monitor_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T25: x104's PSI drift gauge maintained INCREMENTALLY — each
    document micro-batch folds into per-(source, bin) token-length
    histogram counts; PSI recomputes from state on read.

    The state is the bounded histogram grid (sources x 7 bins of
    integer counts): per-batch counts are disjoint-set sums, so
    merge = groupBy-SUM and state equals the batch histogram under any
    slicing. The reference distribution (corpus-wide) is derived from
    the SAME state by re-aggregation — no second pass over history."""
    _state_table(spark, "psi_monitor_state", "source STRING, bin BIGINT, n BIGINT")

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        from ..llmdata.curation import _X104_BIN_W, _X104_NBINS
        from ..llmdata.text import tokens

        sp = batch_df.sparkSession
        partial = (
            batch_df.select(
                "source",
                F.least(
                    F.floor(
                        F.size(tokens("text")) / float(_X104_BIN_W)
                    ).cast("bigint"),
                    F.lit(_X104_NBINS - 1),
                ).alias("bin"),
            )
            .groupBy("source", "bin")
            .agg(F.count("*").cast("bigint").alias("n"))
        )
        merged = (
            sp.table("psi_monitor_state")
            .unionByName(partial)
            .groupBy("source", "bin")
            .agg(F.sum("n").cast("bigint").alias("n"))
        )
        _write_state(merged, "psi_monitor_state")

    stream = _file_stream(spark, sf_dir, "documents", "source string, text string")
    _drain(spark, stream.writeStream.foreachBatch(merge_batch))
    return spark.table("psi_monitor_state")


def _t25_psi_from_state(state: DataFrame) -> DataFrame:
    """PSI per source from the (source, bin, n) histogram state —
    byte-identical math to x104 (Laplace +1, 6-dp-rounded LN terms)."""
    from ..llmdata.curation import _X104_NBINS

    corpus = state.groupBy("bin").agg(F.sum("n").alias("c"))
    total = corpus.agg(F.sum("c").alias("n_corpus"))
    nsrc = state.groupBy("source").agg(F.sum("n").alias("n_docs"))
    grid = nsrc.select(
        "source",
        "n_docs",
        F.explode(
            F.array(*[F.lit(i) for i in range(_X104_NBINS)])
        ).alias("bin"),
    )
    sb = state.groupBy("source", "bin").agg(F.sum("n").alias("s"))
    j = (
        grid.join(sb, ["source", "bin"], "left")
        .join(F.broadcast(corpus), "bin", "left")
        .crossJoin(F.broadcast(total))
    )
    q = (F.coalesce(F.col("s"), F.lit(0)) + 1.0) / (
        F.col("n_docs") + _X104_NBINS
    )
    p = (F.coalesce(F.col("c"), F.lit(0)) + 1.0) / (
        F.col("n_corpus") + _X104_NBINS
    )
    term = F.round((q - p) * F.log(q / p), 6).cast("decimal(27,6)")
    return (
        j.select("source", "n_docs", term.alias("term"))
        .groupBy("source", "n_docs")
        .agg(F.sum("term").cast("double").alias("psi"))
        .select(
            "source", F.col("n_docs").cast("bigint").alias("n_docs"), "psi"
        )
    )


@register(
    "t25_streaming_psi_monitor",
    # Must equal x104's batch PSI bit-for-bit: histogram counts merge
    # exactly, and the PSI recompute is x104's identical expression
    # (Laplace +1, ROUND(LN-term, 6) -> DECIMAL sum).
    oracle="""
    WITH lens AS (
      SELECT source,
             LEAST(CAST(FLOOR(len(string_split(lower(text), ' '))
                              / 50.0) AS BIGINT), 6) AS bin
      FROM documents
    ),
    corpus AS (
      SELECT bin, COUNT(*) AS c FROM lens GROUP BY bin
    ),
    nsrc AS (
      SELECT source, COUNT(*) AS n_docs FROM lens GROUP BY source
    ),
    grid AS (
      SELECT s.source, s.n_docs, g.bin
      FROM nsrc s, range(7) AS g(bin)
    ),
    sb AS (
      SELECT source, bin, COUNT(*) AS s FROM lens GROUP BY source, bin
    ),
    terms AS (
      SELECT g.source, g.n_docs,
             ROUND(
               ((COALESCE(sb.s, 0) + 1.0) / (g.n_docs + 7)
                - (COALESCE(c.c, 0) + 1.0)
                  / ((SELECT SUM(c) FROM corpus) + 7))
               * LN(((COALESCE(sb.s, 0) + 1.0) / (g.n_docs + 7))
                    / ((COALESCE(c.c, 0) + 1.0)
                       / ((SELECT SUM(c) FROM corpus) + 7))),
               6) AS term
      FROM grid g
      LEFT JOIN sb ON sb.source = g.source AND sb.bin = g.bin
      LEFT JOIN corpus c ON c.bin = g.bin
    )
    SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(SUM(CAST(term AS DECIMAL(27,6))) AS DOUBLE) AS psi
    FROM terms GROUP BY source, n_docs
    """,
    doc="T25: streaming PSI drift monitor — x104's token-length "
    "population-stability gauge maintained incrementally: each doc "
    "micro-batch folds into the bounded per-(source, bin) histogram "
    "state (7 bins x sources, integer counts, disjoint-set merge), "
    "and PSI recomputes from state on read — including the corpus "
    "reference, derived by re-aggregating the SAME state. The "
    "always-on scraper-health alarm: state size is independent of "
    "traffic, and the answer equals the batch x104 under any slicing",
)
def t25_streaming_psi_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t25_psi_from_state(psi_monitor_stream(spark, sf_dir))


# --- t26: streaming change-point monitor ------------------------------------------


def hourly_state_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T26 state maintainer: the exact-decimal hourly demand grid
    (event_type, h, hv) kept incrementally — each event micro-batch's
    partial decimal sums merge by groupBy-SUM (decimal addition is
    exact and order-free, so state equals the batch hourly pre-agg
    under any slicing). The grid is calendar-bounded: types x hours,
    independent of traffic volume."""
    _state_table(spark, "hourly_state", "event_type STRING, h BIGINT, hv DECIMAL(27,6)")

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        h = F.floor(
            (F.unix_timestamp("ts") - F.lit(1704067200)) / F.lit(3600.0)
        ).cast("bigint")
        partial = (
            batch_df.select("event_type", h.alias("h"), "value")
            .groupBy("event_type", "h")
            .agg(F.sum(F.col("value").cast("decimal(27,6)")).alias("hv"))
        )
        merged = (
            sp.table("hourly_state")
            .unionByName(partial)
            .groupBy("event_type", "h")
            .agg(F.sum("hv").cast("decimal(27,6)").alias("hv"))
        )
        _write_state(merged, "hourly_state")

    stream = read_event_stream(spark, sf_dir).select(
        "event_type", "ts", "value"
    )
    _drain(spark, stream.writeStream.foreachBatch(merge_batch))
    return spark.table("hourly_state")


@register(
    "t26_streaming_changepoint",
    # Must equal m19's batch change-point bit-for-bit: the decimal
    # hourly grid merges exactly, and the split search is the SAME code
    # (ml.analytics.changepoint_from_hourly) over that state.
    oracle="""
    WITH hourly AS (
      SELECT event_type,
             CAST(FLOOR((CAST(FLOOR(epoch(ts)) AS BIGINT) - 1704067200)
                        / 3600.0) AS BIGINT) AS h,
             SUM(CAST(value AS DECIMAL(27,6))) AS hv
      FROM events GROUP BY 1, 2
    ),
    ser AS (
      SELECT event_type, h, CAST(hv AS DOUBLE) AS x,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS t,
             CAST(SUM(CAST(hv AS DECIMAL(27,6)))
                  OVER (PARTITION BY event_type ORDER BY h) AS DOUBLE) AS s1,
             CAST(SUM(CAST(CAST(hv AS DOUBLE) * CAST(hv AS DOUBLE)
                           AS DECIMAL(27,6)))
                  OVER (PARTITION BY event_type ORDER BY h) AS DOUBLE) AS s2,
             COUNT(*) OVER (PARTITION BY event_type) AS n,
             CAST(SUM(CAST(hv AS DECIMAL(27,6)))
                  OVER (PARTITION BY event_type) AS DOUBLE) AS s1t,
             CAST(SUM(CAST(CAST(hv AS DOUBLE) * CAST(hv AS DOUBLE)
                           AS DECIMAL(27,6)))
                  OVER (PARTITION BY event_type) AS DOUBLE) AS s2t
      FROM hourly
    ),
    cost AS (
      SELECT event_type, h, t, n, s1, s1t, s2t,
             (s2 - s1 * s1 / t)
               + ((s2t - s2) - (s1t - s1) * (s1t - s1) / (n - t)) AS c
      FROM ser WHERE t < n
    ),
    best AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                                   ORDER BY c, t) AS rk
      FROM cost
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n_hours,
           CAST(t AS BIGINT) AS split_t,
           CAST(h AS BIGINT) AS split_hour,
           (s2t - s1t * s1t / n) - c AS gain,
           s1 / t AS mean_left,
           (s1t - s1) / (n - t) AS mean_right
    FROM best WHERE rk = 1
    """,
    doc="T26: streaming change-point monitor — m19's least-squares drift "
    "localizer running on an incrementally-maintained exact-decimal "
    "hourly grid: each event micro-batch merges partial decimal sums "
    "into the calendar-bounded (type, hour) state, and the split "
    "search (the SAME helper m19 uses) recomputes from state on read. "
    "Localizes WHEN the regime changed while the stream is still "
    "running; state size is types x hours regardless of traffic, and "
    "the answer equals batch m19 under any slicing",
)
def t26_streaming_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ml.analytics import changepoint_from_hourly

    return changepoint_from_hourly(hourly_state_stream(spark, sf_dir))


# --- t27: streaming conversion-latency monitor -------------------------------------


def first_touch_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T27 state maintainer: per-(user, event_type) FIRST-touch epoch
    seconds kept incrementally — merge = groupBy-MIN (idempotent,
    commutative, associative), so the state equals the batch first-touch
    table under any slicing and any replay. State is keyed by entity
    (one row per user x type) — the standard funnel-state shape."""
    _state_table(
        spark, "first_touch_state", "user_id BIGINT, event_type STRING, first_s BIGINT"
    )

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        partial = batch_df.groupBy("user_id", "event_type").agg(
            F.min(F.unix_timestamp("ts")).cast("bigint").alias("first_s")
        )
        merged = (
            sp.table("first_touch_state")
            .unionByName(partial)
            .groupBy("user_id", "event_type")
            .agg(F.min("first_s").cast("bigint").alias("first_s"))
        )
        _write_state(merged, "first_touch_state")

    stream = read_event_stream(spark, sf_dir).select(
        "user_id", "event_type", "ts"
    )
    _drain(spark, stream.writeStream.foreachBatch(merge_batch))
    return spark.table("first_touch_state")


@register(
    "t27_streaming_conversion_latency",
    # Must equal a39's batch computation bit-for-bit: first-touch MINs
    # merge exactly; the latency/percentile read is the same math.
    oracle="""
    WITH firsts AS (
      SELECT user_id, event_type,
             MIN(CAST(FLOOR(epoch(ts)) AS BIGINT)) AS first_s
      FROM events GROUP BY user_id, event_type
    ),
    pairs AS (
      SELECT 'signup' AS step_a, 'purchase' AS step_b, a.user_id,
             b.first_s - a.first_s AS delta_s
      FROM (SELECT user_id, first_s FROM firsts
            WHERE event_type = 'signup') a
      LEFT JOIN (SELECT user_id, first_s FROM firsts
            WHERE event_type = 'purchase') b ON b.user_id = a.user_id
      UNION ALL
      SELECT 'view', 'click', a.user_id, b.first_s - a.first_s
      FROM (SELECT user_id, first_s FROM firsts
            WHERE event_type = 'view') a
      LEFT JOIN (SELECT user_id, first_s FROM firsts
            WHERE event_type = 'click') b ON b.user_id = a.user_id
      UNION ALL
      SELECT 'view', 'purchase', a.user_id, b.first_s - a.first_s
      FROM (SELECT user_id, first_s FROM firsts
            WHERE event_type = 'view') a
      LEFT JOIN (SELECT user_id, first_s FROM firsts
            WHERE event_type = 'purchase') b ON b.user_id = a.user_id
    )
    SELECT step_a, step_b,
           CAST(COUNT(*) AS BIGINT) AS n_users_a,
           CAST(COUNT(CASE WHEN delta_s > 0 THEN 1 END) AS BIGINT)
             AS n_converted,
           CAST(COUNT(CASE WHEN delta_s > 0 THEN 1 END) AS DOUBLE)
             / COUNT(*) AS conversion_rate,
           quantile_cont(CASE WHEN delta_s > 0 THEN CAST(delta_s AS DOUBLE)
                         END, 0.5) AS median_latency_s,
           quantile_cont(CASE WHEN delta_s > 0 THEN CAST(delta_s AS DOUBLE)
                         END, 0.9) AS p90_latency_s
    FROM pairs GROUP BY step_a, step_b
    """,
    doc="T27: streaming conversion-latency monitor — a39's funnel-edge "
    "latency served from an incrementally-maintained per-(user, type) "
    "first-touch state (MIN-merged: idempotent under replay, exact "
    "under any batch slicing — late events can only move a first "
    "touch EARLIER, which MIN absorbs). The live funnel dashboard "
    "read: conversion rate and exact median/p90 time-to-convert per "
    "edge without rescanning history. State is one row per engaged "
    "(user, type), the canonical entity-keyed streaming shape",
)
def t27_streaming_conversion_latency(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    firsts = first_touch_stream(spark, sf_dir)
    out = None
    for a, b in [("signup", "purchase"), ("view", "click"), ("view", "purchase")]:
        fa = firsts.filter(F.col("event_type") == a).select(
            "user_id", F.col("first_s").alias("s_a")
        )
        fb = firsts.filter(F.col("event_type") == b).select(
            "user_id", F.col("first_s").alias("s_b")
        )
        pairs = fa.join(fb, "user_id", "left").select(
            (F.col("s_b") - F.col("s_a")).alias("delta_s")
        )
        conv = F.when(F.col("delta_s") > 0, F.col("delta_s").cast("double"))
        row = pairs.agg(
            F.lit(a).alias("step_a"),
            F.lit(b).alias("step_b"),
            F.count("*").cast("bigint").alias("n_users_a"),
            F.count(conv).cast("bigint").alias("n_converted"),
            (F.count(conv).cast("double") / F.count("*")).alias(
                "conversion_rate"
            ),
            F.percentile(conv, 0.5).alias("median_latency_s"),
            F.percentile(conv, 0.9).alias("p90_latency_s"),
        )
        out = row if out is None else out.unionByName(row)
    return out


# --- t28: streaming embedding-drift (linear-MMD) moment state ----------------------

from ..llmdata.similarity import (  # noqa: E402
    mmd_matrix_from_sums,
    mmd_moment_sums,
)


def mmd_moment_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T28: x127's per-(label, dim) integer micro-sum moments maintained
    INCREMENTALLY by a streaming foreachBatch merge.

    State is the (label, dim) moment grid — at most |labels| x 64 rows,
    CONSTANT in corpus size. Each micro-batch reduces its new vectors to
    a partial grid (mmd_moment_sums — plain integer SUMs/COUNTs) and
    merge = union + SUM per (label, dim). Integer addition is
    associative and commutative, so the merged state equals the batch
    moment table bit-for-bit under ANY micro-batch slicing — and the
    finalized MMD matrix is certified by x127's own oracle."""
    _state_table(spark, "mmd_moment_state", "label INT, d INT, s BIGINT, c BIGINT")

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        partial = mmd_moment_sums(batch_df)
        merged = (
            sp.table("mmd_moment_state")
            .unionByName(partial)
            .groupBy("label", "d")
            .agg(
                F.sum("s").cast("bigint").alias("s"),
                F.sum("c").cast("bigint").alias("c"),
            )
            .select("label", "d", "s", "c")
        )
        _write_state(merged, "mmd_moment_state")

    stream = _file_stream(
        spark, sf_dir, "embeddings", "vec_id long, embedding array<float>, label int"
    )
    _drain(spark, stream.writeStream.foreachBatch(merge_batch))
    return spark.table("mmd_moment_state")


@register(
    "t28_streaming_mmd_monitor",
    # Exactly x127's oracle: the incrementally-merged moment state must
    # finalize to the identical label-pair MMD matrix.
    oracle=get("x127_embedding_mmd_matrix").oracle,
    doc="T28: embedding-drift monitor maintained incrementally — each "
    "micro-batch of new vectors folds into the constant-size "
    "(label, dim) integer micro-sum grid (associative + commutative "
    "SUM merge, so the state equals x127's batch moments bit-for-bit "
    "for ANY slicing); finalization computes the linear-MMD label-"
    "pair matrix and is certified by x127's own oracle. The "
    "embedding-space analog of t25's PSI monitor: a re-embedding or "
    "encoder regression shows up as an MMD step without rescanning "
    "history, because the sufficient statistics are mergeable",
)
def t28_streaming_mmd_monitor(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    state = mmd_moment_stream(spark, sf_dir)
    return mmd_matrix_from_sums(state)


# --- t29: streaming Page-Hinkley drift monitor --------------------------------------


@register(
    "t29_streaming_page_hinkley",
    # Must equal batch m31 bit-for-bit: the hourly decimal grid merges
    # exactly under any micro-batch slicing (t26's state maintainer),
    # and the PH fold is the SAME helper m31 uses — so m31's oracle is
    # this monitor's oracle verbatim.
    oracle=get("m31_page_hinkley").oracle,
    doc="T29: streaming Page-Hinkley drift monitor — m31's sequential "
    "running-mean drift test reading the incrementally-maintained "
    "exact-decimal hourly state (t26's maintainer: per-batch partial "
    "decimal sums merge by groupBy-SUM, calendar-bounded state). "
    "Raises the drift alarm while the stream runs; the answer equals "
    "batch m31 under any slicing, certified by sharing "
    "page_hinkley_from_hourly and m31's oracle; the 4-batch merge "
    "test (tests/test_streaming.py) replays the same events in four "
    "slices and asserts the identical result",
)
def t29_streaming_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ml.analytics import page_hinkley_from_hourly

    return page_hinkley_from_hourly(hourly_state_stream(spark, sf_dir))


# --- t30: streaming robust-outlier (Hampel) monitor ----------------------------------


@register(
    "t30_streaming_hampel",
    # Equals batch w32 bit-for-bit: the hourly decimal grid merges
    # exactly (t26's maintainer) and the rolling median/MAD pass is the
    # SAME selection helper w32 uses — w32's oracle certifies the
    # monitor.
    oracle=get("w32_hampel_filter").oracle,
    doc="T30: streaming Hampel outlier monitor — w32's rolling "
    "median/MAD robust filter reading the incrementally-maintained "
    "exact-decimal hourly state. The robust companion to t04's "
    "staleness and t26/t29's drift monitors: flags burst hours while "
    "the stream runs, immune to the burst inflating its own "
    "threshold. Certified by sharing hampel_from_hourly and w32's "
    "oracle; 4-batch merge test in tests/test_streaming.py",
)
def t30_streaming_hampel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.windows import hampel_from_hourly

    return hampel_from_hourly(hourly_state_stream(spark, sf_dir))


# --- t31: streaming bootstrap-CI monitor ----------------------------------------------


@register(
    "t31_streaming_bootstrap_ci",
    # Equals batch m34 bit-for-bit: the hourly decimal grid merges
    # exactly under any slicing and the md5-drawn Poisson resampling is
    # a pure function of the grid — m34's oracle certifies the monitor.
    oracle=get("m34_bootstrap_ci").oracle,
    doc="T31: streaming bootstrap-CI monitor — m34's deterministic "
    "Poisson-bootstrap confidence band for each type's mean hourly "
    "demand, recomputed from the incrementally-maintained exact-"
    "decimal hourly state on read. Dashboards get uncertainty bands "
    "that update while the stream runs; because the md5 draws are a "
    "pure function of (type, hour, resample), the band is identical "
    "under any micro-batch slicing — certified by sharing "
    "bootstrap_ci_from_hourly and m34's oracle; 4-batch merge test "
    "in tests/test_streaming.py",
)
def t31_streaming_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ml.analytics import bootstrap_ci_from_hourly

    return bootstrap_ci_from_hourly(hourly_state_stream(spark, sf_dir))


# --- t32: streaming max-drawdown monitor ----------------------------------------------


def daily_flow_state_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t32 state maintainer: w34's (cohort, day, flow) signed daily
    net-flow grid kept incrementally — each micro-batch's partial decimal
    flow sums merge by groupBy-SUM (decimal addition is exact and
    order-free, so the state equals w34's batch grid under any slicing).
    The grid is calendar-bounded: cohorts x days, independent of volume."""
    from ..operators.windows import daily_flow_grid

    _state_table(
        spark, "daily_flow_state", "cohort BIGINT, day BIGINT, flow DECIMAL(27,6)"
    )

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        partial = daily_flow_grid(batch_df)
        merged = (
            sp.table("daily_flow_state")
            .unionByName(partial)
            .groupBy("cohort", "day")
            .agg(F.sum("flow").cast(_DEC).alias("flow"))
            .select("cohort", "day", "flow")
        )
        _write_state(merged, "daily_flow_state")

    stream = read_event_stream(spark, sf_dir).select(
        "user_id", "event_type", "ts", "value"
    )
    _drain(spark, stream.writeStream.foreachBatch(merge_batch))
    return spark.table("daily_flow_state")


@register(
    "t32_streaming_drawdown",
    # Equals batch w34 bit-for-bit: the daily decimal flow grid merges
    # exactly under any micro-batch slicing and the drawdown pass is
    # the SAME helper w34 uses — w34's oracle certifies the monitor.
    oracle=get("w34_max_drawdown").oracle,
    doc="T32: streaming max-drawdown monitor — w34's per-cohort "
    "signed-flow equity-curve drawdown recomputed from the "
    "incrementally-maintained exact-decimal daily grid, so the "
    "'worst losing streak' tile updates while the stream runs. The "
    "risk-measure companion to t26/t29's drift and t30's outlier "
    "monitors. Certified by sharing drawdown_from_daily and w34's "
    "oracle; 4-batch merge test in tests/test_streaming.py",
)
def t32_streaming_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.windows import drawdown_from_daily

    return drawdown_from_daily(daily_flow_state_stream(spark, sf_dir))


# --- t33: streaming multiple-regression monitor -----------------------------------------


@register(
    "t33_streaming_regression",
    # Equals batch m36 bit-for-bit: the exact-decimal hourly grid merges
    # under any slicing (t26's maintainer) and the moment fold + Cramer
    # solve is the SAME helper m36 uses — m36's oracle certifies the
    # monitor.
    oracle=get("m36_multiple_regression").oracle,
    doc="T33: streaming multiple-regression monitor — m36's closed-form "
    "(trend, weekend) OLS recomputed from the incrementally-"
    "maintained exact-decimal hourly state, so the demand model's "
    "coefficients refresh while the stream runs (a drifting "
    "beta_trend is itself a drift signal, complementing t26/t29). "
    "Works because the nine moments are sums over the grid — "
    "mergeable sufficient statistics, the property that makes "
    "closed-form OLS a one-pass 100 TB algorithm. Certified by "
    "sharing multiple_regression_from_hourly and m36's oracle; "
    "4-batch merge test in tests/test_streaming.py",
)
def t33_streaming_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ml.analytics import multiple_regression_from_hourly

    return multiple_regression_from_hourly(hourly_state_stream(spark, sf_dir))


# --- t34: streaming winnowing-contamination monitor --------------------------------------


def winnow_state_stream(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """t34 state maintainer: x143's two winnowing state tables kept
    incrementally. Fingerprint selection is entirely WITHIN-doc, so each
    micro-batch computes its docs' distinct (doc_id, source, fp) rows
    and per-doc position counts once and APPENDS them — no re-scan, no
    overwrite; the union of appends equals the batch tables for any
    slicing (each doc lives in exactly one micro-batch)."""
    _state_table(spark, "winnow_fp_state", "doc_id BIGINT, source STRING, fp STRING")
    _state_table(spark, "winnow_doc_state", "doc_id BIGINT, source STRING, npos BIGINT")

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        from ..llmdata.text import (
            winnow_doc_fingerprints,
            winnow_doc_positions,
        )

        winnow_doc_fingerprints(batch_df).write.mode("append").insertInto(
            "winnow_fp_state"
        )
        winnow_doc_positions(batch_df).write.mode("append").insertInto(
            "winnow_doc_state"
        )

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = "doc_id long, source string, text string, n_chars long"
    stream = _file_stream(spark, sf_dir, "documents", schema)
    _drain(spark, stream.writeStream.foreachBatch(merge_batch))
    return spark.table("winnow_fp_state"), spark.table("winnow_doc_state")


@register(
    "t34_streaming_winnow_monitor",
    # Equals batch x143 bit-for-bit: fingerprints are within-doc, so
    # appended partials equal the batch tables under any slicing, and
    # the finalize is the SAME helper x143 uses — x143's oracle
    # certifies the monitor.
    oracle=get("x143_winnowing_fingerprints").oracle,
    doc="T34: streaming winnowing-contamination monitor — x143's "
    "MOSS-fingerprint density + cross-source overlap report "
    "recomputed from incrementally APPENDED per-doc fingerprint "
    "state: new corpus shards fold in without rescanning old docs "
    "(within-doc selection makes the state append-only — the "
    "sub-linear ingest-time contamination tripwire for a 100 TB "
    "corpus feed). Certified by sharing winnow_report and x143's "
    "oracle; 4-batch merge test in tests/test_streaming.py",
)
def t34_streaming_winnow_monitor(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..llmdata.text import winnow_report

    fps, pos = winnow_state_stream(spark, sf_dir)
    return winnow_report(fps, pos)


# --- t35: streaming Mann-Whitney monitor ------------------------------------------------


def quantity_grid_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t35 state maintainer: a48's (v, c_o, c_f) quantity value-domain
    grid kept incrementally — each lineitem micro-batch's partial cell
    counts merge by groupBy-SUM (integer-in-decimal addition is exact
    and order-free, so state equals the batch grid under any slicing).
    The grid is value-domain-bounded (~50 rows) regardless of traffic."""
    _state_table(
        spark, "quantity_grid_state", "v BIGINT, c_o DECIMAL(14,0), c_f DECIMAL(14,0)"
    )

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        partial = (
            batch_df.filter(F.col("l_linestatus").isin("O", "F"))
            .select(
                F.col("l_quantity").cast("bigint").alias("v"),
                "l_linestatus",
            )
            .groupBy("v")
            .agg(
                F.sum(
                    F.when(F.col("l_linestatus") == "O", 1).otherwise(0)
                )
                .cast("decimal(14,0)")
                .alias("c_o"),
                F.sum(
                    F.when(F.col("l_linestatus") == "F", 1).otherwise(0)
                )
                .cast("decimal(14,0)")
                .alias("c_f"),
            )
        )
        merged = (
            sp.table("quantity_grid_state")
            .unionByName(partial)
            .groupBy("v")
            .agg(
                F.sum("c_o").cast("decimal(14,0)").alias("c_o"),
                F.sum("c_f").cast("decimal(14,0)").alias("c_f"),
            )
        )
        _write_state(merged, "quantity_grid_state")

    stream = _file_stream(
        spark, sf_dir, "lineitem", "l_quantity double, l_linestatus string"
    )
    _drain(spark, stream.writeStream.foreachBatch(merge_batch))
    return spark.table("quantity_grid_state")


@register(
    "t35_streaming_mann_whitney",
    # Equals batch a48 bit-for-bit: the value-domain grid merges under
    # any slicing (cell counts are sums) and the finalize is the SAME
    # helper a48 uses — a48's oracle certifies the monitor.
    oracle=get("a48_mann_whitney").oracle,
    doc="T35: streaming Mann-Whitney monitor — a48's two-sample rank "
    "test recomputed from the incrementally-maintained quantity grid, "
    "so the 'are open and finished orders drawing from the same "
    "distribution?' alarm refreshes as line items stream in (a "
    "shifting z is an upstream-mix drift signal, complementing "
    "t25/t26/t29). Works because the ~50-cell grid is a mergeable "
    "sufficient statistic — the property that makes rank tests "
    "one-pass at 100 TB. Certified by sharing mann_whitney_from_grid "
    "and a48's oracle; 4-batch merge test in tests/test_streaming.py",
)
def t35_streaming_mann_whitney(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.aggregations import mann_whitney_from_grid

    return mann_whitney_from_grid(quantity_grid_stream(spark, sf_dir))


# --- t36: streaming interval-coalesce monitor ---------------------------------------------


def interval_span_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t36 state maintainer: j17's coalesced span set kept incrementally
    as a weighted (user_id, s, e, w) table — each event micro-batch's
    raw intervals union into the existing spans and the WHOLE set is
    re-coalesced (interval-set coalesce is associative + idempotent,
    and carrying per-span interval counts keeps n_intervals exact), so
    state equals the batch span set under any slicing. State size is
    the number of DISJOINT spans per user — bounded by coverage
    geometry, not traffic volume."""
    from ..operators.joins import coalesce_spans

    _state_table(
        spark, "interval_span_state", "user_id BIGINT, s BIGINT, e BIGINT, w BIGINT"
    )

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        partial = batch_df.select(
            "user_id",
            F.floor(F.unix_timestamp("ts")).cast("bigint").alias("s"),
            (
                F.floor(F.unix_timestamp("ts")).cast("bigint")
                + 60 * (1 + F.col("event_id") % 10)
            )
            .cast("bigint")
            .alias("e"),
            F.lit(1).cast("bigint").alias("w"),
        )
        merged = coalesce_spans(
            sp.table("interval_span_state").unionByName(partial)
        ).select(
            "user_id",
            F.col("span_start").alias("s"),
            F.col("span_end").alias("e"),
            F.col("n_intervals").alias("w"),
        )
        _write_state(merged, "interval_span_state")

    stream = read_event_stream(spark, sf_dir).select(
        "user_id", "ts", "event_id"
    )
    _drain(spark, stream.writeStream.foreachBatch(merge_batch))
    return spark.table("interval_span_state")


@register(
    "t36_streaming_interval_coalesce",
    # Equals batch j17 bit-for-bit: coalesce is associative/idempotent
    # on interval sets and weight-mergeable with per-span counts, and
    # the finalize aggregates the SAME span table shape j17's helper
    # produces — j17's oracle certifies the monitor.
    oracle=get("j17_interval_coalesce").oracle,
    doc="T36: streaming interval-coalesce monitor — j17's per-user "
    "span coverage report recomputed from incrementally re-coalesced "
    "span state, so SLA-coverage / downtime-merge dashboards refresh "
    "as validity intervals stream in. Works because interval-set "
    "coalesce is associative and idempotent (state ∪ new partials "
    "re-coalesces to the batch answer under any slicing) and the "
    "per-span weight keeps the raw interval count exact — state is "
    "one row per DISJOINT span, bounded by coverage geometry, not "
    "traffic. Certified by sharing coalesce_spans and j17's oracle; "
    "4-batch merge test in tests/test_streaming.py",
)
def t36_streaming_interval_coalesce(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    state = interval_span_stream(spark, sf_dir)
    spans = state.select(
        "user_id",
        F.col("s").alias("span_start"),
        F.col("e").alias("span_end"),
        F.col("w").alias("n_intervals"),
    )
    return spans.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_spans"),
        F.sum("n_intervals").cast("bigint").alias("n_intervals"),
        F.sum(F.col("span_end") - F.col("span_start"))
        .cast("bigint")
        .alias("covered_sec"),
        F.max(F.col("span_end") - F.col("span_start"))
        .cast("bigint")
        .alias("longest_span_sec"),
    )


# --- t37: streaming Cliff's-delta effect-size monitor ------------------------------------


@register(
    "t37_streaming_cliffs_delta",
    # Equals batch a50 bit-for-bit: REUSES t35's incrementally-merged
    # quantity grid (one state maintainer, two monitors) and a50's
    # finalize helper — a50's oracle certifies the monitor.
    oracle=get("a50_cliffs_delta").oracle,
    doc="T37: streaming Cliff's-delta monitor — a50's ordinal effect "
    "size recomputed from the SAME incrementally-maintained quantity "
    "grid t35 keeps for the Mann-Whitney z (one mergeable ~50-cell "
    "state, two alarms: t35 says the distributions diverged, t37 says "
    "by how much — significance drifts with volume, the effect size "
    "doesn't, so paging on delta's magnitude band beats paging on z "
    "at 100 TB traffic). Certified by sharing cliffs_delta_from_grid "
    "and a50's oracle; 4-batch merge test in tests/test_streaming.py",
)
def t37_streaming_cliffs_delta(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.aggregations import cliffs_delta_from_grid

    return cliffs_delta_from_grid(quantity_grid_stream(spark, sf_dir))


# --- t38: streaming Ansari-Bradley dispersion monitor --------------------------------------


@register(
    "t38_streaming_ansari_bradley",
    # Equals batch a53 bit-for-bit: REUSES t35's incrementally-merged
    # quantity grid (one state maintainer, three monitors) and a53's
    # finalize helper — a53's oracle certifies the monitor.
    oracle=get("a53_ansari_bradley").oracle,
    doc="T38: streaming Ansari-Bradley monitor — a53's dispersion test "
    "recomputed from the SAME incrementally-maintained quantity grid "
    "t35/t37 keep, completing the streaming two-sample console: t35 "
    "pages on location shift (z), t37 on its magnitude (delta), t38 "
    "on SPREAD divergence — a variance alarm that fires when the mix "
    "widens even while the median holds, the failure mode location "
    "monitors miss. One mergeable ~50-cell state, three alarms. "
    "Certified by sharing ansari_bradley_from_grid and a53's oracle; "
    "4-batch merge test in tests/test_streaming.py",
)
def t38_streaming_ansari_bradley(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.aggregations import ansari_bradley_from_grid

    return ansari_bradley_from_grid(quantity_grid_stream(spark, sf_dir))


# --- t39: streaming ordinal-association monitor (year x quantity grid state) ---------------


def year_quantity_grid_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """t39 state maintainer: a51's (yr, v, c) contingency grid kept
    incrementally — each lineitem micro-batch's partial grid merges into
    the state by groupBy-SUM (cell counts are sums, so state == batch
    grid bit-for-bit under any slicing; the same mergeable-sufficient-
    statistic argument as t35's quantity grid, with the year axis kept).
    State size is bounded by the (years x quantity-domain) product
    (~350 cells), never by traffic volume."""
    _state_table(
        spark, "year_quantity_grid_state", "yr BIGINT, v BIGINT, c DECIMAL(14,0)"
    )

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        partial = (
            batch_df.select(
                F.year("l_shipdate").cast("bigint").alias("yr"),
                F.col("l_quantity").cast("bigint").alias("v"),
            )
            .groupBy("yr", "v")
            .agg(F.count("*").cast("decimal(14,0)").alias("c"))
        )
        merged = (
            sp.table("year_quantity_grid_state")
            .unionByName(partial)
            .groupBy("yr", "v")
            .agg(F.sum("c").cast("decimal(14,0)").alias("c"))
        )
        _write_state(merged, "year_quantity_grid_state")

    stream = _file_stream(
        spark, sf_dir, "lineitem", "l_quantity double, l_shipdate timestamp"
    )
    _drain(spark, stream.writeStream.foreachBatch(merge_batch))
    return spark.table("year_quantity_grid_state")


@register(
    "t39_streaming_gamma_monitor",
    # Equals batch a51 bit-for-bit: the (yr, v) contingency grid merges
    # under any slicing and the finalize is the SAME helper a51 uses —
    # a51's oracle certifies the monitor.
    oracle=get("a51_gamma_somers_tauc").oracle,
    doc="T39: streaming ordinal-association monitor — a51's gamma / "
    "Somers' D / tau-c recomputed from an incrementally-maintained "
    "(year x quantity) contingency grid as line items stream in: a "
    "drifting gamma is the 'is the quantity mix re-ordering across "
    "cohorts?' alarm, the association-strength complement to t35's "
    "two-sample console. Second grid-state family: t35/t37/t38 keep "
    "the two-sample quantity grid, t39 keeps the ordered contingency "
    "grid (~350 cells, traffic-independent). Certified by sharing "
    "gamma_somers_tauc_from_grid and a51's oracle; 4-batch merge "
    "test in tests/test_streaming.py",
)
def t39_streaming_gamma_monitor(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.aggregations import gamma_somers_tauc_from_grid

    return gamma_somers_tauc_from_grid(
        year_quantity_grid_stream(spark, sf_dir)
    )


# --- t40: streaming Cramér-von Mises distribution-distance monitor -------------------------


@register(
    "t40_streaming_cramer_von_mises",
    # Equals batch a55 bit-for-bit: REUSES t35's incrementally-merged
    # quantity grid (one state maintainer, four monitors) and a55's
    # finalize helper — a55's oracle certifies the monitor.
    oracle=get("a55_cramer_von_mises").oracle,
    doc="T40: streaming Cramér-von Mises monitor — a55's whole-ECDF "
    "two-sample distance recomputed from the SAME incrementally-"
    "maintained quantity grid t35/t37/t38 keep, finishing the "
    "streaming two-sample console: t35 pages on location shift, t37 "
    "on its magnitude, t38 on spread, t40 on ANY integrated ECDF "
    "divergence — the omnibus alarm that fires on shape changes "
    "(bimodality, tail migration) the location/spread monitors each "
    "miss. One mergeable ~50-cell state, four alarms, zero extra "
    "state. Certified by sharing cramer_von_mises_from_grid and "
    "a55's oracle; 4-batch merge test in tests/test_streaming.py",
)
def t40_streaming_cramer_von_mises(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.aggregations import cramer_von_mises_from_grid

    return cramer_von_mises_from_grid(quantity_grid_stream(spark, sf_dir))


# --- t41: streaming Pettitt changepoint monitor (hourly grid -> daily rollup) --------------


@register(
    "t41_streaming_pettitt",
    # Equals batch m44 bit-for-bit: t26's exact-decimal hourly state
    # rolls up to the daily grid (decimal addition is associative, and
    # day = floor(h/24) is exact integer arithmetic), then m44's
    # pettitt_from_daily finalize runs unchanged — m44's oracle
    # certifies the monitor.
    oracle=get("m44_pettitt_test").oracle,
    doc="T41: streaming Pettitt changepoint monitor — m44's "
    "distribution-free break detector recomputed from the SAME "
    "incrementally-merged hourly decimal grid t26 maintains (one "
    "state, two changepoint alarms: t26's least-squares split is "
    "fast but outlier-sensitive; t41's rank statistic cannot be "
    "faked by one wild hour). The hourly state rolls up to daily "
    "micros exactly — decimal sums are associative and the "
    "hour->day floor-div is integer — so the monitor equals batch "
    "m44 under any stream slicing. State stays calendar-bounded. "
    "Certified by sharing pettitt_from_daily and m44's oracle; "
    "4-batch merge test in tests/test_streaming.py",
)
def t41_streaming_pettitt(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ml.analytics import pettitt_from_daily

    hourly = hourly_state_stream(spark, sf_dir)
    daily = (
        hourly.select(
            "event_type",
            F.floor(F.col("h") / 24).cast("bigint").alias("day"),
            "hv",
        )
        .groupBy("event_type", "day")
        .agg((F.sum("hv") * 1000000).cast("bigint").alias("xm"))
    )
    return pettitt_from_daily(daily)


# --- t42: streaming Page-trend monitor (hourly grid -> daily rollup) -----------------------


@register(
    "t42_streaming_page_trend",
    # Equals batch a56 bit-for-bit: t26's exact-decimal hourly state
    # rolls up to the daily micro grid (t41's rollup device), then
    # a56's page_trend_from_daily finalize runs unchanged — a56's
    # oracle certifies the monitor.
    oracle=get("a56_page_trend_test").oracle,
    doc="T42: streaming Page-trend monitor — a56's ordered weekday "
    "trend statistic recomputed from the SAME incrementally-merged "
    "hourly decimal state t26/t41 maintain (one state, three alarms: "
    "t26 localizes a level break, t41 rank-tests it, t42 watches for "
    "a MONOTONE weekly demand drift building up). The hourly->daily "
    "rollup is exact (associative decimal sums, integer floor-div), "
    "so state == batch under any slicing and the calendar bounds "
    "state size. Certified by sharing page_trend_from_daily and "
    "a56's oracle; 4-batch merge test in tests/test_streaming.py",
)
def t42_streaming_page_trend(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.aggregations import page_trend_from_daily

    hourly = hourly_state_stream(spark, sf_dir)
    daily = (
        hourly.select(
            "event_type",
            F.floor(F.col("h") / 24).cast("bigint").alias("day"),
            "hv",
        )
        .groupBy("event_type", "day")
        .agg((F.sum("hv") * 1000000).cast("bigint").alias("xm"))
    )
    return page_trend_from_daily(daily)


# --- t43: streaming Anderson-Darling tail-divergence monitor -------------------------------


@register(
    "t43_streaming_anderson_darling",
    # Equals batch a58 bit-for-bit: REUSES t35's incrementally-merged
    # quantity grid (one state maintainer, five monitors) and a58's
    # finalize helper — a58's oracle certifies the monitor.
    oracle=get("a58_anderson_darling").oracle,
    doc="T43: streaming Anderson-Darling monitor — a58's tail-weighted "
    "ECDF distance recomputed from the SAME incrementally-maintained "
    "quantity grid t35/t37/t38/t40 keep, completing the streaming "
    "two-sample console's fifth alarm: t35 location, t37 effect size, "
    "t38 spread, t40 integrated shape, t43 TAIL migration — the drift "
    "mode that hits curated data first and that the other four "
    "under-weight. Zero extra state (one mergeable ~50-cell grid, "
    "five finalizes). Certified by sharing "
    "anderson_darling_from_grid and a58's oracle; 4-batch merge test "
    "in tests/test_streaming.py",
)
def t43_streaming_anderson_darling(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.aggregations import anderson_darling_from_grid

    return anderson_darling_from_grid(quantity_grid_stream(spark, sf_dir))
