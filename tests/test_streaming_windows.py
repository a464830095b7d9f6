"""Watermarked windowed aggregation + stateful sessionization (§2.6)."""

import os
import shutil

import pandas as pd
from pyspark.sql import functions as F

from web_search_engine_spark.streaming.windows import (
    sessionize_stream,
    stream_windowed_counts,
    windowed_event_counts,
)

EVENTS = "/root/testdata/sf0.01/events.parquet"


def sessionize_batch_oracle(
    events: pd.DataFrame, gap_seconds: int = 1800
) -> list[tuple]:
    """Pure-pandas sessionization oracle (CLOSED sessions only) for
    tests: -> [(user_id, start, end, n_events, sum_value)]."""
    out = []
    for uid, grp in events.sort_values("ts").groupby("user_id"):
        start = last = None
        n, sv = 0, 0.0
        for t, v in zip(grp["ts"], grp["value"]):
            if start is None:
                start, last, n, sv = t, t, 1, float(v)
            elif (t - last).total_seconds() > gap_seconds:
                out.append((uid, start, last, n, sv))
                start, last, n, sv = t, t, 1, float(v)
            else:
                last, n, sv = t, n + 1, sv + float(v)
    return out


def test_stream_windowed_counts_match_batch(spark, tmp_path):
    """availableNow streaming over the events table must emit exactly
    the batch aggregation for every window finalized under the
    watermark, and a restart with no new data emits nothing."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    shutil.copy(EVENTS, os.path.join(src, "events.parquet"))
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    stream_windowed_counts(spark, src, out, ckpt, "1 hour", "2 hours")

    batch_df = windowed_event_counts(spark.read.parquet(EVENTS), "1 hour")
    batch = {
        (r["win_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in batch_df.collect()
    }
    streamed = {
        (r["win_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.read.parquet(out).collect()
    }
    # every emitted window is value-identical to batch
    for k, v in streamed.items():
        assert batch[k] == v, k
    # and emission covers everything safely below the final watermark
    max_ts = spark.read.parquet(EVENTS).agg(
        F.max(F.unix_timestamp("ts")).alias("m")
    ).collect()[0]["m"]
    wm = max_ts - 2 * 3600
    must_have = {k for k in batch if k[0] + 3600 < wm - 3600}
    assert must_have <= set(streamed), len(must_have - set(streamed))
    assert len(streamed) >= len(must_have) > 0

    # restart catch-up: no new files -> no new rows
    n_before = spark.read.parquet(out).count()
    stream_windowed_counts(spark, src, out, ckpt, "1 hour", "2 hours")
    assert spark.read.parquet(out).count() == n_before


def test_sessionize_stream_matches_oracle(spark, tmp_path):
    """Gap-based sessions via applyInPandasWithState: closed sessions
    must match the pandas oracle, and state must survive across
    catch-up runs (an open session closes when a later file brings an
    event beyond the gap)."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    base = pd.Timestamp("2024-01-01 00:00:00")
    m = pd.Timedelta(minutes=1)

    def mk(rows, name):
        import glob

        pdf = pd.DataFrame(
            [
                (i, base + dt, uid, "click", float(v), "{}")
                for i, (uid, dt, v) in enumerate(rows)
            ],
            columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
        )
        # the file stream lists FLAT files: write via Spark (schema-exact)
        # then move the part file into the source dir
        tmp = str(tmp_path / f"w_{name}")
        spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        shutil.copy(part, os.path.join(src, name + ".parquet"))

    # file 1: user 1 has two sessions separated by a >30min gap (first
    # closes in-batch); user 2 has one open session
    rows1 = [
        (1, 0 * m, 1.0), (1, 5 * m, 2.0),          # session A (closes)
        (1, 60 * m, 3.0),                           # session B (open)
        (2, 10 * m, 5.0), (2, 20 * m, 7.0),         # session C (open)
    ]
    mk(rows1, "f1")
    sessionize_stream(spark, src, out, ckpt, gap_seconds=1800)
    got1 = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"], r["sum_value"])
        for r in spark.read.parquet(out).collect()
    }
    assert got1 == {
        (1, base + 0 * m, base + 5 * m, 2, 3.0),
    }

    # file 2: later events close session B and C (state crossed runs)
    rows2 = [
        (1, 120 * m, 4.0),   # >30min after B's last -> closes B
        (2, 120 * m, 6.0),   # closes C
    ]
    mk(rows2, "f2")
    sessionize_stream(spark, src, out, ckpt, gap_seconds=1800)
    got2 = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"], r["sum_value"])
        for r in spark.read.parquet(out).collect()
    }
    all_events = pd.DataFrame(
        [(uid, base + dt, v) for uid, dt, v in rows1 + rows2],
        columns=["user_id", "ts", "value"],
    )
    want_closed = {
        (uid, s, e, n, sv)
        for uid, s, e, n, sv in sessionize_batch_oracle(all_events, 1800)
    }
    assert got2 == want_closed
    assert len(want_closed) == 3
