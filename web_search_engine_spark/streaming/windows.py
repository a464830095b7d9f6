"""Event-time windowed aggregation + custom stateful sessionization.

The reference has no streaming at all (SURVEY.md §2.6); these are the
Structured-Streaming operators a production ingest pipeline runs next
to the index build: tumbling event-time windows with watermarked late-
data handling, and a session operator with explicit keyed state
(applyInPandasWithState) — the "custom stateful operator" shape for
semantics the built-in window aggs can't express.

Scale notes:
  - windowed_event_counts is one watermark-gated hash aggregation:
    state per (window, event_type) only, bounded by the watermark
    horizon — safe at any event volume.
  - sessionize keys state by user_id (the natural shard key); state per
    key is O(1) (open-session accumulator), and the GroupState timeout
    closes idle sessions without a second pass. Skewed users are
    bounded by the session-gap flush.
  - The BATCH variant of the same window aggregation is exposed for the
    driver's DuckDB gate (stream≡batch equivalence is asserted in
    tests via availableNow catch-up runs).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)

_EVENTS_BASE_EPOCH = 1767225600  # 2026-01-01 00:00:00 UTC


def synthesize_events(spark: SparkSession, n: int = 400) -> DataFrame:
    """Deterministic synthetic event stream (EVENTS_SCHEMA shape) whose
    every field is an md5-derived JVM expression — reproducible bit-for-
    bit in DuckDB SQL, so the streaming window/session operators can sit
    under the driver's hash gate (VERDICT r2 #6; same trick as
    multimodal.synthesize_media).

    ts = base + i*211 + (h1 % 97): strictly increasing globally (211 >
    max jitter 96), ~8 users -> per-user gaps straddle the 1800 s
    session gap, producing multiple closed sessions per user.
    """
    h1 = F.conv(F.substring(F.md5(F.concat(F.lit("ev:"), F.col("id"))), 1, 8), 16, 10).cast("long")
    h2 = F.conv(F.substring(F.md5(F.concat(F.lit("ev:"), F.col("id"))), 9, 8), 16, 10).cast("long")
    return (
        spark.range(n)
        .select(
            F.col("id").alias("event_id"),
            F.timestamp_seconds(
                F.lit(_EVENTS_BASE_EPOCH) + F.col("id") * 211 + F.pmod(h1, F.lit(97))
            ).alias("ts"),
            F.pmod(h2, F.lit(8)).alias("user_id"),
            F.element_at(
                F.array(F.lit("view"), F.lit("click"), F.lit("buy")),
                (F.pmod(h1, F.lit(3)) + 1).cast("int"),
            ).alias("event_type"),
            # plain IEEE division (no round): bit-identical in DuckDB
            (F.pmod(h2, F.lit(1000)) / 100.0).alias("value"),
            F.lit("").alias("props"),
        )
    )


def windowed_event_counts(events: DataFrame, window: str = "1 hour") -> DataFrame:
    """Tumbling event-time windows per event_type ->
    (win_start bigint epoch-seconds, event_type, n_events, sum_value).

    Works on batch AND streaming inputs (same plan; streaming adds the
    watermark upstream). Epoch seconds instead of raw timestamps keep
    the driver's canonicalizer engine-agnostic.
    """
    return (
        events.groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).cast("long").alias("win_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def stream_windowed_counts(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> None:
    """availableNow catch-up: stream the parquet events, aggregate into
    watermarked tumbling windows, append FINALIZED windows to parquet.

    Append mode emits a window only once its end passes the watermark —
    exactly-once finalized results under late data; windows still open
    at stream end stay in state (and in the checkpoint) for the next
    catch-up run.
    """
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(source_dir)
    agg = windowed_event_counts(stream.withWatermark("ts", watermark), window)
    q = (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


SESSION_SCHEMA = (
    "user_id long, session_start timestamp, session_end timestamp, "
    "n_events long, sum_value double"
)
_STATE_SCHEMA = "start long, last long, n long, sv double"


def _session_fn(gap_seconds: int):
    from pyspark.sql.streaming.state import GroupState

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        (user_id,) = key
        if state.hasTimedOut:
            start, last, n, sv = state.get
            state.remove()
            yield pd.DataFrame(
                [(user_id, pd.Timestamp(start, unit="us"),
                  pd.Timestamp(last, unit="us"), n, sv)],
                columns=["user_id", "session_start", "session_end",
                         "n_events", "sum_value"],
            )
            return
        rows = pd.concat(list(pdfs), ignore_index=True).sort_values("ts")
        # unit-robust: Arrow delivers datetime64[us] on plain streams but
        # datetime64[ns] once a watermark is attached — normalize to us
        ts_us = rows["ts"].astype("datetime64[us]").astype("int64")
        vals = rows["value"].astype(float)
        if state.exists:
            start, last, n, sv = state.get
        else:
            start = last = None
        out = []
        for t, v in zip(ts_us, vals):
            t = int(t)
            if start is None:
                start, last, n, sv = t, t, 1, float(v)
            elif t - last > gap_seconds * 1_000_000:
                out.append((user_id, pd.Timestamp(start, unit="us"),
                            pd.Timestamp(last, unit="us"), n, sv))
                start, last, n, sv = t, t, 1, float(v)
            else:
                last, n, sv = t, n + 1, sv + float(v)
        state.update((start, last, n, sv))
        # EVENT-time timeout: the session times out when the watermark
        # passes last + gap. Processing-time timeouts would (a) make
        # emission wall-clock-dependent (not deterministic) and (b) pin
        # an availableNow run in empty-batch loops until the wall timer
        # fires — the watermark-driven timeout needs no wall clock and
        # lets catch-up runs terminate as soon as data is drained.
        timeout_ms = last // 1000 + gap_seconds * 1000
        state.setTimeoutTimestamp(max(timeout_ms, state.getCurrentWatermarkMs() + 1))
        if out:
            yield pd.DataFrame(
                out,
                columns=["user_id", "session_start", "session_end",
                         "n_events", "sum_value"],
            )

    return fn


def sessionize_stream(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    gap_seconds: int = 1800,
) -> None:
    """Custom stateful operator: per-user EVENT-time sessions with an
    idle-gap timeout, via applyInPandasWithState (explicit keyed
    GroupState).

    A session CLOSES when a later event for the same user arrives more
    than ``gap_seconds`` after the previous one (emitted immediately),
    or when the WATERMARK (max event time - gap_seconds) passes
    last_event + gap_seconds — i.e. enough event time has provably
    elapsed that no in-order event can extend it. Sessions whose
    timeout lies beyond the final watermark survive restarts in the
    state store. Event-time (not processing-time) timeouts keep the
    output a pure function of the input events — deterministic,
    replay-safe, and an availableNow catch-up terminates as soon as
    data is drained instead of idling on wall-clock timers.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(source_dir)
    sessions = (
        stream.withWatermark("ts", f"{gap_seconds} seconds")
        .select("user_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _session_fn(gap_seconds),
            outputStructType=SESSION_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
    q = (
        sessions.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
