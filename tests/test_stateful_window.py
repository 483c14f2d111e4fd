"""applyInPandasWithState PseudoWindow parity (SURVEY §2 row 8, low level).

The stateful operator must reproduce both the reference invariant (exactly
10 events per complete 1 s window per key) and the declarative
event_time_windows output — same rows, same end-inclusive labels.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from timing_explorer_spark.streaming.pipeline import (
    event_time_windows,
    sensor_stream_from_files,
    write_generator_files,
)
from timing_explorer_spark.streaming.stateful import pseudo_window_stateful

N_EVENTS = 400


@pytest.fixture(scope="module")
def stateful_run(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("stateful")
    data = str(root / "input")
    write_generator_files(spark, data, n_events=N_EVENTS, files=8)

    sensors = sensor_stream_from_files(spark, data)
    q = (
        pseudo_window_stateful(sensors, duration_ms=1000)
        .writeStream.format("parquet")
        .outputMode("append")
        .option("path", str(root / "out"))
        .option("checkpointLocation", str(root / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return {"root": root, "data": data, "out": str(root / "out")}


def test_stateful_exactly_ten_per_window(spark, stateful_run):
    rows = spark.read.parquet(stateful_run["out"]).collect()
    assert rows, "stateful operator emitted nothing"
    for r in rows:
        assert r["value"] == 10, f"{r['key']} @ {r['window_end_label']}: {r['value']}"
    keys = {r["key"] for r in rows}
    assert keys == {"temp", "pressure"}


def test_stateful_matches_declarative(spark, stateful_run, tmp_path):
    """Same input through the declarative window — identical emitted rows
    (both paths withhold the watermark-tail windows, so the complete sets
    are directly comparable)."""
    sensors = sensor_stream_from_files(spark, stateful_run["data"])
    q = (
        event_time_windows(sensors, "1 second")
        .writeStream.format("parquet")
        .outputMode("append")
        .option("path", str(tmp_path / "decl"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    decl = spark.read.parquet(str(tmp_path / "decl")).select(
        "key", "window_end_label", F.col("value").cast("long").alias("value")
    )
    stateful = spark.read.parquet(stateful_run["out"]).select(
        "key", "window_end_label", F.col("value").cast("long").alias("value")
    )
    only_decl = decl.exceptAll(stateful).collect()
    only_state = stateful.exceptAll(decl).collect()
    assert not only_decl and not only_state, (
        f"declarative-only: {only_decl[:3]}, stateful-only: {only_state[:3]}"
    )


def test_stateful_window_labels_end_inclusive(spark, stateful_run):
    """Labels are window start + 999 ms (PseudoWindow.java:82)."""
    rows = spark.read.parquet(stateful_run["out"]).collect()
    for r in rows:
        ms = int(r["window_end_label"].timestamp() * 1000)
        assert ms % 1000 == 999, f"label {r['window_end_label']} not end-inclusive"


class _FakeGroupState:
    """Minimal GroupState stand-in for unit-testing the PseudoWindow fns."""

    def __init__(self, now_ms=0, state=None, timed_out=False, wm_ms=0):
        self._now = now_ms
        self._wm = wm_ms
        self._state = state
        self.hasTimedOut = timed_out
        self.removed = False
        self.timeout_duration = None
        self.timeout_timestamp = None

    @property
    def exists(self):
        return self._state is not None

    @property
    def get(self):
        return self._state

    def getCurrentProcessingTimeMs(self):
        return self._now

    def update(self, row):
        self._state = row

    def getCurrentWatermarkMs(self):
        return self._wm

    def setTimeoutDuration(self, ms):
        self.timeout_duration = ms

    def setTimeoutTimestamp(self, ms):
        self.timeout_timestamp = ms

    def remove(self):
        self._state = None
        self.removed = True


def test_proctime_fn_buckets_by_arrival_and_arms_timer():
    """PseudoWindow proc-time branch (PseudoWindow.java:79-90): arriving rows
    land in the CURRENT processing-time window; the per-key timer is armed
    just past the earliest open inclusive end."""
    import pandas as pd

    from timing_explorer_spark.streaming.stateful import make_pseudo_window_proctime_fn

    fn = make_pseudo_window_proctime_fn(duration_ms=1000)
    now = 1_700_000_000_500  # mid-window; window end = ...000_999
    st = _FakeGroupState(now_ms=now)
    out = list(fn(("temp",), [pd.DataFrame({"v": range(7)})], st))
    assert out == []  # nothing closed yet
    ends, counts = st.get
    assert ends == str(1_700_000_000_999) and counts == "7"
    assert st.timeout_duration == 1_700_000_000_999 + 1 - now


def test_proctime_fn_timer_fires_emits_and_clears():
    import pandas as pd

    from timing_explorer_spark.streaming.stateful import make_pseudo_window_proctime_fn

    fn = make_pseudo_window_proctime_fn(duration_ms=1000)
    st = _FakeGroupState(
        now_ms=1_700_000_001_100,  # past the inclusive end
        state=(str(1_700_000_000_999), "7"),
        timed_out=True,
    )
    [out] = list(fn(("temp",), iter(()), st))
    assert out["value"].tolist() == [7]
    assert out["key"].tolist() == ["temp"]
    assert int(out["window_end_label"].astype("int64").iloc[0] // 1_000_000) == 1_700_000_000_999
    assert st.removed  # no open windows left


E = 1_700_000_001_000  # a window boundary: [E-1000, E) has inclusive end E-1


def _rows(*ms):
    import pandas as pd

    return pd.DataFrame({"ts": pd.to_datetime(list(ms), unit="ms")})


def _emitted(out):
    return [
        (int(df["window_end_label"].astype("int64").iloc[i] // 1_000_000), int(df["value"].iloc[i]))
        for df in out
        for i in range(len(df))
    ]


def test_seal_rule_emits_in_the_call_that_reads_the_sealing_row():
    """A row stamped at or after E seals [E-1000, E) in the same call,
    although the watermark is still a batch behind."""
    from timing_explorer_spark.streaming.stateful import make_pseudo_window_fn

    fn = make_pseudo_window_fn(duration_ms=1000)
    st = _FakeGroupState(wm_ms=E - 2000)
    out = list(fn(("temp",), [_rows(E - 900, E - 500), _rows(E + 50)], st))
    assert _emitted(out) == [(E - 1, 2)]
    assert st.get == (str(E + 999), "1")  # the sealing row's own window stays open
    assert st.timeout_timestamp == E + 1000


def test_seal_rule_keeps_windows_at_or_above_the_frontier_open():
    """A window whose inclusive end is not below max(watermark, key's max
    event time - delay) is not emitted: no row past its end (E-1 is its
    last millisecond), or one within the watermark delay."""
    from timing_explorer_spark.streaming.stateful import make_pseudo_window_fn

    st = _FakeGroupState(wm_ms=E - 2000)
    assert list(make_pseudo_window_fn(1000)(("temp",), [_rows(E - 900, E - 1)], st)) == []
    assert st.get == (str(E - 1), "2")

    st = _FakeGroupState(wm_ms=E - 2000)
    fn = make_pseudo_window_fn(1000, delay_ms=100)
    assert list(fn(("temp",), [_rows(E - 900, E + 50)], st)) == []
    assert st.get == (f"{E - 1},{E + 999}", "1,1")
    assert st.timeout_timestamp == E


def test_seal_rule_timeout_sweep_emits_on_watermark_only_call():
    """A key with no rows in the batch still closes its windows when the
    watermark passes them (the event-time timeout)."""
    from timing_explorer_spark.streaming.stateful import make_pseudo_window_fn

    st = _FakeGroupState(state=(str(E - 1), "10"), timed_out=True, wm_ms=E)
    out = list(make_pseudo_window_fn(1000)(("temp",), iter(()), st))
    assert _emitted(out) == [(E - 1, 10)]
    assert st.removed


def test_proctime_stream_conserves_counts(spark, tmp_path):
    """End-to-end with REAL processing-time timers: every ingested event is
    emitted by some timer callback once the stream has idled past the last
    window (non-deterministic window assignment, deterministic total)."""
    import time

    from timing_explorer_spark.streaming.stateful import pseudo_window_proctime

    data = str(tmp_path / "input")
    write_generator_files(spark, data, n_events=100, files=2)
    q = (
        pseudo_window_proctime(sensor_stream_from_files(spark, data), duration_ms=300)
        .writeStream.format("parquet")
        .outputMode("append")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 60
        total = 0
        while time.time() < deadline:
            time.sleep(1.0)
            try:
                total = (
                    spark.read.parquet(str(tmp_path / "out"))
                    .agg(F.sum("value").alias("s"))
                    .collect()[0]["s"]
                ) or 0
            except Exception:
                total = 0  # no files yet
            if total == 200:  # 100 events x 2 keys
                break
        assert total == 200
    finally:
        q.stop()


def test_streaming_twa_segments_match_closed_form(spark, tmp_path):
    """The streaming LOCF segment operator: segments tile the timeline per
    key exactly (sum dt == last_ts - first_ts, no overlaps), and the
    segment-weighted mean equals the closed-form TWA of the generator
    (every observation held exactly 100ms -> TWA == mean of all values
    except the final still-open one)."""
    from pyspark.sql import functions as F

    from timing_explorer_spark.streaming.pipeline import (
        sensor_stream_from_files,
        write_generator_files,
    )
    from timing_explorer_spark.streaming.stateful import twa_segments

    data = str(tmp_path / "in")
    write_generator_files(spark, data, n_events=300, files=6)
    q = (
        twa_segments(sensor_stream_from_files(spark, data))
        .writeStream.format("parquet")
        .outputMode("append")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    segs = spark.read.parquet(str(tmp_path / "out"))
    per_key = (
        segs.groupBy("key")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("dt_us").alias("span_us"),
            (
                F.sum(F.col("held_value") * F.col("dt_us")) / F.sum("dt_us")
            ).alias("twa"),
            F.min("seg_start").alias("t0"),
        )
        .collect()
    )
    assert {r["key"] for r in per_key} == {"temp", "pressure"}
    for r in per_key:
        # 300 events per key -> 299 closed segments of exactly 100ms
        assert r["n"] == 299
        assert r["span_us"] == 299 * 100_000
    # temp is the sawtooth: values cycle 0.0..0.9 every 10 events; 299 held
    # values = 29 full cycles (mean .45) + 9 more (0.0..0.8, mean 0.4)
    temp = {r["key"]: r["twa"] for r in per_key}["temp"]
    expected = (290 * 0.45 + 9 * 0.4) / 299
    assert abs(temp - expected) < 1e-9
