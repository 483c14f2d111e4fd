"""Turn a workload's samples into the metrics BENCHMARK.json declares.

End-to-end metrics are the same two names on every workload; what one
"operation" is differs per workload (README.md). Per-layer metrics are
printed in full on every traced run, with 0 where a layer does no work on
that workload (for example the streaming counters on headline_warm).
"""

from __future__ import annotations

import conf
import stats
from tracing import ROOT_SPAN, layer_self_times, parse_iso_ms as _ms

LAYERS = (
    "session", "sources", "plans", "operators", "catalyst", "exec",
    "streaming", "sink", "bench",
)

STREAM_DURATIONS = {
    "trigger_ms": "triggerExecution",
    "planning_ms": "queryPlanning",
    "wal_commit_ms": "walCommit",
    "commit_offsets_ms": "commitOffsets",
    "latest_offset_ms": "latestOffset",
    "add_batch_ms": "addBatch",
}


def end_to_end(ctx, res) -> tuple[dict, dict[str, tuple[float, str]]]:
    tail = stats.tail_percentile(res.op_ms)
    detail = dict(res.detail)
    detail.update(
        cold_ms=res.cold_ms,
        setup_samples=res.setup_s,
        ops=len(res.op_ms),
        op_samples=[round(x, 1) for x in res.op_ms],
        op_tail=None if tail is None else {"pct": tail[0], "ms": tail[1]},
        session_starts=ctx.session_starts,
    )
    values = {
        "setup_s": (stats.median(res.setup_s[1:]), "s"),
        "op_p50_ms": (stats.median(res.op_ms), "ms"),
    }
    return detail, values


def _med(xs: list[float]) -> float:
    return stats.median(xs) if xs else 0.0


def _op_intervals(workload: str, tr, res) -> list[tuple[float, float]]:
    """Epoch-second intervals of the timed operations; for live_lag, the
    timed part of the stream as one interval."""
    if workload == "live_lag":
        lo, hi = res.layers["window"]
        return [(lo / 1000.0, hi / 1000.0)]
    return [(s.start, s.end) for s in tr.spans_named("bench.pass")]


def _streaming(res, n_ops: int) -> dict[str, float]:
    """Per-batch medians and per-operation counts from the progress reports
    of the timed part of the stream."""
    lo, hi = res.layers["window"]
    progress = [p for p in res.layers["progress"] if lo <= _ms(p["timestamp"]) < hi]
    if not progress:
        return {}
    data = [p for p in progress if p["numInputRows"] > 0]
    out: dict[str, float] = {}
    for name, key in STREAM_DURATIONS.items():
        pool = data if name == "add_batch_ms" else progress
        out[name] = _med([float(p["durationMs"].get(key, 0)) for p in pool])
    ops = [o for p in progress for o in p.get("stateOperators", [])]
    out["state_commit_ms"] = _med([float(o.get("commitTimeMs", 0)) for o in ops])
    out["state_rows"] = max((o.get("numRowsTotal", 0) for o in ops), default=0)
    out["state_bytes"] = max((o.get("memoryUsedBytes", 0) for o in ops), default=0)
    out["batches"] = len(progress) / max(1, n_ops)
    out["data_batch_share"] = len(data) / len(progress)
    out["late_rows_dropped"] = sum(int(o.get("numRowsDroppedByWatermark", 0)) for o in ops)
    return out


def _live(res) -> dict[str, float]:
    """Seal wait, overrun share, backlog and sink collect time for live_lag."""
    lay = res.layers
    lo, hi = lay["window"]
    progress = lay["progress"]
    starts = {p["batchId"]: _ms(p["timestamp"]) for p in progress}
    seal = [
        starts[b] - stats.sealing_release_ms(end, lay["first_row_ms"], conf.LIVE_ROWS_PER_SECOND)
        for _k, end, _n, sink, b in lay["sealed"]
        if lo <= sink < hi and b in starts
    ]
    timed = [p for p in progress if lo <= _ms(p["timestamp"]) < hi]
    over = [
        p for p in timed if p["durationMs"].get("triggerExecution", 0) > conf.LIVE_TRIGGER_MS
    ]
    data = [p for p in progress if p["numInputRows"] > 0]
    backlog = 0
    if data:
        # rows released by the start of the last batch, minus rows read through it
        first = _ms(data[0]["eventTime"]["min"])
        last = progress[-1]
        released = conf.LIVE_ROWS_PER_SECOND * int((_ms(last["timestamp"]) - first) // 1000)
        backlog = released - sum(p["numInputRows"] for p in progress)
    tail = stats.tail_percentile(res.op_ms)
    return {
        "seal_wait_ms": _med(seal),
        "overrun_share": len(over) / len(timed) if timed else 0.0,
        "backlog_rows": max(0, backlog),
        "release_offset_ms": lay["first_row_ms"] % 1000,
        "lag_tail_ms": tail[1] if tail else max(res.op_ms),
        "sink_collect_ms": _med(lay["collect_ms"]),
    }


def per_layer(workload: str, ctx, res) -> dict[str, tuple[float, str]]:
    tr, probe = ctx.tr, ctx.probe
    ops = _op_intervals(workload, tr, res)
    per_op = [probe.exec_totals(a, b) for a, b in ops]

    def exec_med(key: str) -> float:
        return _med([t[key] for t in per_op])

    builds = tr.spans_named("plans.build_all")
    build_jobs = [probe.exec_totals(s.start, s.end)["jobs"] for s in builds]
    if workload == "live_lag":
        n_windows = max(1, len(res.op_ms))
        per_op_scale = 1.0 / n_windows  # one interval holds every timed window
        stream, live = _streaming(res, n_windows), _live(res)
    else:
        per_op_scale, stream, live = 1.0, {}, {}

    def gen(name: str) -> list[float]:
        return [s.end - s.start for s in tr.spans_named(name)]

    storage = res.layers.get("storage", [0])
    v: dict[str, tuple[float, str]] = {
        "session.start_s": (_med(ctx.session_starts[1: len(res.setup_s)]), "s"),
        "session.first_start_s": (ctx.session_starts[0], "s"),
        "sources.warm_cache_s": (_med(gen("sources.warm_cache")), "s"),
        "sources.cached_bytes": (_med(res.layers.get("cached_bytes", [])), "bytes"),
        "plans.build_s": (_med(gen("plans.build_all")), "s"),
        "plans.build_jobs": (_med(build_jobs), "count"),
        "operators.persisted_left": (res.layers.get("persisted_left", 0), "count"),
        "catalyst.plan_ms": (_med([probe.catalyst_ms(a, b) for a, b in ops]), "ms"),
    }
    for key, unit in (
        ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
        ("task_failures", "count"), ("run_ms", "ms"), ("cpu_ms", "ms"),
        ("shuffle_read_bytes", "bytes"), ("shuffle_write_bytes", "bytes"),
        ("spill_bytes", "bytes"), ("driver_residual_ms", "ms"),
    ):
        v[f"exec.{key}"] = (exec_med(key) * per_op_scale, unit)
    v["exec.storage_peak_mb"] = (max(storage) / 2**20, "MB")
    for key in (*STREAM_DURATIONS, "state_commit_ms"):
        v[f"streaming.{key}"] = (stream.get(key, 0.0), "ms")
    v["streaming.state_rows"] = (stream.get("state_rows", 0), "rows")
    v["streaming.state_bytes"] = (stream.get("state_bytes", 0), "bytes")
    v["streaming.batches"] = (stream.get("batches", 0.0), "count")
    v["streaming.data_batch_share"] = (stream.get("data_batch_share", 0.0), "ratio")
    v["streaming.late_rows_dropped"] = (stream.get("late_rows_dropped", 0), "rows")
    for key, unit in (
        ("overrun_share", "ratio"), ("seal_wait_ms", "ms"), ("backlog_rows", "rows"),
        ("release_offset_ms", "ms"), ("lag_tail_ms", "ms"),
    ):
        v[f"streaming.{key}"] = (live.get(key, 0.0), unit)
    v["sink.collect_ms"] = (live.get("sink_collect_ms", 0.0), "ms")
    v["host.duckdb_native_ms"] = (res.layers.get("duckdb_native_ms", 0.0), "ms")

    (root,) = tr.spans_named(ROOT_SPAN)
    wall = root.end - root.start
    selfs = layer_self_times(tr.spans, probe.stage_intervals() + probe.phases)
    for layer in LAYERS:
        v[f"self.{layer}_s"] = (selfs.get(layer, 0.0), "s")
    # time inside the run but in no span and no Spark interval
    v["self.residual_s"] = (selfs.get(ROOT_SPAN, 0.0), "s")
    v["trace.wall_s"] = (wall, "s")
    v["trace.op_p50_ms"] = (stats.median(res.op_ms), "ms")
    return v
