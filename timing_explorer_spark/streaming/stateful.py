"""PseudoWindow, low-level parity: per-key MapState + event-time timers.

The declarative path (pipeline.event_time_windows) is the idiomatic Spark
answer for the reference's keyed tumbling count window. This module is the
*operator-level* re-expression of PseudoWindow itself
(/root/reference/src/main/java/com/ververica/functions/PseudoWindow.java:33-100):

  reference                                this module
  ---------------------------------------  -----------------------------------
  MapState<Long,Integer> window→count      GroupState rows (window_end, count)
    (PseudoWindow.java:36,52-56)
  processElement: bucket event, increment  data invocation of the pandas fn
    (PseudoWindow.java:58-72)
  registerEventTimeTimer(window end)       GroupState.setTimeoutTimestamp
    (PseudoWindow.java:88-90)                (event-time timeout)
  onTimer: emit KeyedDataPoint, clear key  seal sweep: emit rows with end below
    (PseudoWindow.java:92-99)                the key's seal frontier, drop them

Seal frontier: max(current watermark, the key's max event time in this
batch - watermark delay). Spark computes a watermark at the end of one
micro-batch and applies it in the next, so a window sealed by the watermark
alone waits for the next data batch. The key's own rows let it leave in the
batch that read its sealing row instead: the next watermark is at least the
frontier, so every later row in a window below it is dropped (and counted)
by Spark's late-row filter, exactly as on the declarative path. The emitted
rows are the declarative path's; they only arrive earlier. The frontier is
per key: a key whose own first row past a window end lands in the next
micro-batch waits for it (or for the watermark), even if another key's row
past that end was already read.

Window identity matches the reference's end-INCLUSIVE millisecond label:
``end = t - t % duration + duration - 1`` (PseudoWindow.java:74-84).

Why applyInPandasWithState and not timers-per-window: Spark exposes ONE
timeout per key (not one per registered timestamp), so the operator keeps the
earliest open window end as the timeout and re-arms after each sweep — the
standard translation of Flink's multi-timer pattern onto GroupState.

Scale: state is hash-partitioned by key (same shuffle as the reference's
keyBy, TimingExplorer.java:89); per key it holds only OPEN windows (closed
ones are emitted and dropped), so state size is O(keys x open windows), not
O(events) — identical to the reference's MapState footprint.
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Any, Iterable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

if TYPE_CHECKING:  # pragma: no cover
    import pandas as pd

OUTPUT_SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("window_end_label", TimestampType()),
        StructField("value", LongType()),
    ]
)

# MapState<windowEnd, count> flattened into parallel arrays (GroupState rows
# are a fixed StructType; arrays are the supported encoding of a small map).
STATE_SCHEMA = StructType(
    [
        StructField("ends", StringType()),  # csv of window-end ms (tiny: open windows only)
        StructField("counts", StringType()),
    ]
)


def _decode(state_row) -> dict[int, int]:
    if state_row is None or not state_row[0]:
        return {}
    ends = [int(x) for x in state_row[0].split(",")]
    counts = [int(x) for x in state_row[1].split(",")]
    return dict(zip(ends, counts))


def _encode(windows: dict[int, int]) -> tuple[str, str]:
    items = sorted(windows.items())
    return (
        ",".join(str(e) for e, _ in items),
        ",".join(str(c) for _, c in items),
    )


def interval_ms(s: str) -> int:
    """'10 minutes' / '2 seconds' / '500 milliseconds' -> ms (the subset of
    Spark's interval grammar the streaming operators here use)."""
    n, unit = s.strip().split()
    unit = unit.rstrip("s")
    factor = {"millisecond": 1, "second": 1000, "minute": 60_000, "hour": 3_600_000}[unit]
    return int(float(n) * factor)


def make_pseudo_window_fn(duration_ms: int = 1000, delay_ms: int = 0):
    """Build the (key, pdf_iter, state) function for applyInPandasWithState;
    ``delay_ms`` is the watermark delay of the input stream."""

    def fn(
        key: tuple[str],
        pdfs: Iterable["pd.DataFrame"],
        state: GroupState,
    ) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        windows = _decode(state.get) if state.exists else {}

        # Seal frontier (module docstring): the watermark, or past it the
        # key's newest event time in this batch less the watermark delay.
        frontier = state.getCurrentWatermarkMs()
        if not state.hasTimedOut:
            for pdf in pdfs:
                if pdf.empty:
                    continue
                # Bucket each event: end-inclusive window id (PseudoWindow.java:82).
                ts_ms = (pdf["ts"].astype("int64") // 1_000_000).to_numpy()
                ends = ts_ms - (ts_ms % duration_ms) + duration_ms - 1
                uniq, cnt = np.unique(ends, return_counts=True)
                for e, c in zip(uniq.tolist(), cnt.tolist()):
                    windows[e] = windows.get(e, 0) + int(c)
                frontier = max(frontier, int(ts_ms.max()) - delay_ms)

        # Timer sweep (onTimer parity): close every window the frontier has
        # passed. Window end is inclusive, so a window closes when
        # frontier > end.
        closed = sorted(e for e in windows if e < frontier)
        out = None
        if closed:
            out = pd.DataFrame(
                {
                    "key": [key[0]] * len(closed),
                    "window_end_label": pd.to_datetime(closed, unit="ms"),
                    "value": [windows.pop(e) for e in closed],
                }
            )

        if windows:
            state.update(_encode(windows))
            # Re-arm the single per-key timer at the earliest open window end
            # (+1 ms: timeout fires when watermark PASSES the inclusive end).
            state.setTimeoutTimestamp(min(windows) + 1)
        elif state.exists:
            state.remove()

        if out is not None:
            yield out

    return fn


def pseudo_window_stateful(
    sensors: DataFrame,
    duration_ms: int = 1000,
    watermark: str = "0 seconds",
) -> DataFrame:
    """Keyed tumbling count windows via explicit keyed state + timers —
    output-compatible with pipeline.event_time_windows (same schema, same
    end-inclusive labels); a window leaves in the micro-batch that reads
    its key's sealing row (module docstring). ``sensors`` needs ``key`` and
    ``ts`` columns."""
    return (
        sensors.withWatermark("ts", watermark)
        .groupBy("key")
        .applyInPandasWithState(
            make_pseudo_window_fn(duration_ms, interval_ms(watermark)),
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def make_pseudo_window_proctime_fn(duration_ms: int = 1000):
    """Processing-time PseudoWindow (PseudoWindow.java:79-90's
    ``useProcessingTime`` branch): events are bucketed by their ARRIVAL time
    at the operator, a per-key processing-time timer fires at the window end,
    and the count is emitted from the timer callback — non-deterministic by
    design, exactly like the reference (the assigned window depends on when
    the event physically arrives).

    GroupState gives one timeout per key, so as in the event-time operator
    the timer is kept at the earliest open window end and re-armed after
    every sweep (the multi-timer → single-timeout translation)."""

    def fn(
        key: tuple[str],
        pdfs: Iterable["pd.DataFrame"],
        state: GroupState,
    ) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        windows = _decode(state.get) if state.exists else {}
        now_ms = state.getCurrentProcessingTimeMs()

        if not state.hasTimedOut:
            n = 0
            for pdf in pdfs:
                n += len(pdf)
            if n:
                # All rows in this invocation arrive NOW (processElement's
                # ctx.timerService().currentProcessingTime()).
                end = now_ms - (now_ms % duration_ms) + duration_ms - 1
                windows[end] = windows.get(end, 0) + n

        # onTimer parity: close every window whose inclusive end has passed.
        closed = sorted(e for e in windows if e < now_ms)
        out = None
        if closed:
            out = pd.DataFrame(
                {
                    "key": [key[0]] * len(closed),
                    "window_end_label": pd.to_datetime(closed, unit="ms"),
                    "value": [windows.pop(e) for e in closed],
                }
            )

        if windows:
            state.update(_encode(windows))
            state.setTimeoutDuration(max(1, min(windows) + 1 - now_ms))
        elif state.exists:
            state.remove()

        if out is not None:
            yield out

    return fn


def pseudo_window_proctime(sensors: DataFrame, duration_ms: int = 1000) -> DataFrame:
    """Keyed tumbling PROCESSING-time count windows with real per-key timers
    (GroupStateTimeout.ProcessingTimeTimeout) — the timer-based analog of the
    reference's proc-time mode; pipeline.processing_time_windows remains the
    deterministic-ish foreachBatch alternative. No watermark: processing time
    needs none (late data cannot exist)."""
    return (
        sensors.groupBy("key").applyInPandasWithState(
            make_pseudo_window_proctime_fn(duration_ms),
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )


def read_state_rows(spark, checkpoint_dir: str, **options: str) -> DataFrame:
    """ChangeBackend read-path parity for the stateful operator: decode the
    operator's GroupState rows from a checkpoint via the Spark 4 statestore
    reader into (key, window_end_label, count) — the same view
    PseudoWindowReaderFunction produces from a savepoint
    (jobs/ChangeBackend.java:48-69)."""
    from pyspark.sql import functions as F

    reader = spark.read.format("statestore")
    for k, v in options.items():
        reader = reader.option(k, v)
    raw = reader.load(checkpoint_dir)
    ends = F.split(F.col("value.ends"), ",").cast("array<long>")
    counts = F.split(F.col("value.counts"), ",").cast("array<long>")
    return (
        raw.select(
            F.col("key.key").alias("key"),
            F.explode(F.arrays_zip(ends.alias("e"), counts.alias("c"))).alias("wc"),
        )
        .select(
            "key",
            F.timestamp_millis(F.col("wc.e")).alias("window_end_label"),
            F.col("wc.c").alias("count"),
        )
    )


TWA_OUTPUT_SCHEMA = StructType(
    [
        StructField("key", StringType(), False),
        StructField("seg_start", TimestampType(), False),
        StructField("dt_us", LongType(), False),
        StructField("held_value", DoubleType(), False),
    ]
)

TWA_STATE_SCHEMA = StructType(
    [
        StructField("last_ts_us", LongType(), False),
        StructField("last_value", DoubleType(), False),
    ]
)


def make_twa_segments_fn():
    """Streaming LOCF segment emitter — the stateful front half of a
    continuous time-weighted average (the streaming form of
    q_time_weighted_avg): per key, keep (last_ts, last_value); each arriving
    event CLOSES the previous observation's holding segment and emits
    (seg_start, dt_us, held_value). Downstream, any time-bucketed
    sum(held_value * dt)/sum(dt) over the segments is the TWA — a plain
    algebraic aggregate, because the hard sequential part (who holds the
    clock between observations) happened here. State is two scalars per key."""

    def fn(
        key: tuple[str],
        pdfs: Iterable["pd.DataFrame"],
        state: GroupState,
    ) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        last = state.get if state.exists else None
        starts, dts, vals = [], [], []
        for pdf in pdfs:
            pdf = pdf.sort_values("ts")
            ts_us = (pdf["ts"].astype("int64") // 1_000).to_numpy()
            values = pdf["value"].to_numpy()
            for t, v in zip(ts_us.tolist(), values.tolist()):
                if last is not None:
                    starts.append(last[0])
                    dts.append(t - last[0])
                    vals.append(last[1])
                last = (t, float(v))
        if last is not None:
            state.update((int(last[0]), float(last[1])))
        if starts:
            yield pd.DataFrame(
                {
                    "key": [key[0]] * len(starts),
                    "seg_start": pd.to_datetime(starts, unit="us"),
                    "dt_us": dts,
                    "held_value": vals,
                }
            )

    return fn


def twa_segments(sensors: DataFrame) -> DataFrame:
    """Continuous LOCF segments over the keyed sensor stream."""
    return sensors.groupBy("key").applyInPandasWithState(
        make_twa_segments_fn(),
        outputStructType=TWA_OUTPUT_SCHEMA,
        stateStructType=TWA_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
