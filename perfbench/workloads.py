"""The two workloads. Each one runs in this process on ``local[cores]`` with
one client, calls only the program's public functions, and returns a Result
whose samples ``run.py`` turns into metrics.

Every workload has the same shape: a few set-ups (session start + input
prep; each later cycle stops the session and starts a fresh one in the same
JVM, so only the first pays the JVM launch), then, in the last session,
operations until their summed time reaches ``--seconds``. Checks are
untimed; each check is one attempted operation and every crash or wrong
result is one failed operation.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

import conf
import datagen
import stats
from tracing import SparkProbe, Tracer, parse_iso_ms


@dataclass
class Result:
    setup_s: list[float] = field(default_factory=list)
    cold_ms: float | None = None
    op_ms: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    detail: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)

    def crashed(self, what: str, exc: BaseException) -> None:
        self.attempted += 1
        self.failed += 1
        self.errors.append(f"{what}: {type(exc).__name__}: {str(exc)[:300]}")


class Context:
    """Per-run state: paths, the tracer, the Spark probe and the live session."""

    def __init__(self, seed: int, seconds: float, trace: bool, work: str, cores: int):
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.cores = cores
        self.tr = Tracer(trace)
        self.probe = SparkProbe() if trace else None
        self.spark = None
        self.session_starts: list[float] = []

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def start_session(self, catalyst: bool = False, confs: dict[str, str] | None = None):
        from timing_explorer_spark.session import get_spark

        extra = {**conf.SESSION_CONFS, **(confs or {})}
        extra["spark.driver.extraJavaOptions"] = (
            f"-XX:-UsePerfData -Djava.io.tmpdir={self.path('tmp')}"
        )
        t0 = time.monotonic()
        with self.tr.span("session.get_spark"):
            spark = get_spark(
                app_name="perfbench",
                master=f"local[{self.cores}]",
                shuffle_partitions=conf.SHUFFLE_PARTITIONS,
                extra_conf=extra,
            )
            for k, v in extra.items():
                if k.startswith("spark.sql."):
                    spark.conf.set(k, v)
            spark.sparkContext.setLogLevel(conf.LOG_LEVEL)
        self.session_starts.append(time.monotonic() - t0)
        self.spark = spark
        if self.probe is not None:
            self.probe.attach(spark, catalyst)
        return spark

    def stop_session(self) -> None:
        if self.spark is None:
            return
        if self.probe is not None:
            with self.tr.span("bench.harvest"):
                self.probe.harvest()
        with self.tr.span("session.stop"):
            self.spark.stop()
        self.spark = None

    def timed_loop(self, res: Result, op, name: str) -> None:
        """Run ``op`` (returning its own time in ms) until the timed total
        reaches the run length; a crash is counted and ends the loop."""
        total = 0.0
        while total < self.seconds * 1000.0:
            try:
                ms = op()
            except Exception as exc:  # noqa: BLE001 - counted, never dropped
                res.crashed(name, exc)
                return
            res.attempted += 1
            res.op_ms.append(ms)
            total += ms


# --------------------------------------------------------------------------
# live_lag: open loop from the clock-driven rate source
# --------------------------------------------------------------------------

def live_lag(ctx: Context) -> Result:
    from pyspark.sql import functions as F

    from timing_explorer_spark.streaming.metrics import live_rate_windows

    res = Result()
    cycles = conf.SETUP_CYCLES["live_lag"]
    for cycle in range(cycles):
        t0 = time.monotonic()
        ctx.start_session(confs=conf.LIVE_SESSION_CONFS)
        res.setup_s.append(time.monotonic() - t0)
        if cycle < cycles - 1:
            ctx.stop_session()

    spark = ctx.spark
    sealed: list[tuple[str, int, int, float, int]] = []  # key, end_ms, n, sink_ms, batch
    collect_ms: list[float] = []
    live_span: list[int | None] = [None]

    def sink(batch_df, batch_id: int) -> None:
        with ctx.tr.span("sink.foreach_batch", parent=live_span[0]):
            t0 = time.time()
            got = batch_df.select(
                "key", F.unix_millis("window_end_label").alias("label_ms"), "n_events"
            ).collect()
            t1 = time.time()
        if got:
            collect_ms.append(1000.0 * (t1 - t0))
        for r in got:
            sealed.append((r["key"], r["label_ms"] + 1, r["n_events"], 1000.0 * t1, batch_id))

    with ctx.tr.span("streaming.live") as sid:
        live_span[0] = sid
        query = (
            live_rate_windows(spark, conf.LIVE_ROWS_PER_SECOND, n_keys=conf.LIVE_KEYS)
            .writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", ctx.path("live", "ckpt"))
            .trigger(processingTime=f"{conf.LIVE_TRIGGER_MS} milliseconds")
            .start()
        )
        t_start = 1000.0 * time.time()
        try:
            time.sleep(conf.LIVE_SETTLE_S + ctx.seconds)
            t_end = 1000.0 * time.time()
        finally:
            # Stop between triggers: interrupting the stream thread inside a
            # foreachBatch callback makes Spark log a spurious stack overflow.
            deadline = time.monotonic() + 5.0
            while query.status["isTriggerActive"] and time.monotonic() < deadline:
                time.sleep(0.01)
            query.stop()
            query.awaitTermination()
    progress = [dict(p) for p in query.recentProgress]
    exc = query.exception()
    if exc is not None:
        res.crashed("live query", RuntimeError(str(exc)))

    data = [p for p in progress if p["numInputRows"] > 0]
    # A window ending at E seals only once a row stamped at or after E has
    # been read, so lag is timed from that row's release (stats.
    # sealing_release_ms). Its distance from E, (C mod 1000) ms or a second
    # more, is the load generator's phase, drawn anew each run.
    first_row_ms = int(parse_iso_ms(data[0]["eventTime"]["min"])) if data else 0

    def lag(end_ms: int, sink_ms: float) -> float:
        return sink_ms - stats.sealing_release_ms(end_ms, first_row_ms, conf.LIVE_ROWS_PER_SECOND)

    settle_end = t_start + 1000.0 * conf.LIVE_SETTLE_S
    first_end = {}
    for key, end_ms, n, sink_ms, _b in sealed:
        first_end[key] = min(first_end.get(key, end_ms), end_ms)
    if sealed:
        key, end_ms, n, sink_ms, _b = min(sealed, key=lambda w: w[3])
        res.cold_ms = lag(end_ms, sink_ms)
    for key, end_ms, n, sink_ms, _b in sealed:
        if end_ms == first_end[key]:
            continue  # the stream starts mid-window: the first one is partial
        res.check(
            n == conf.LIVE_ROWS_PER_SECOND // conf.LIVE_KEYS,
            f"window {key}@{end_ms} holds {n} rows",
        )
        if settle_end <= sink_ms < t_end:
            res.op_ms.append(lag(end_ms, sink_ms))
    dropped = sum(
        int(op.get("numRowsDroppedByWatermark", 0))
        for p in progress for op in p.get("stateOperators", [])
    )
    res.check(dropped == 0, f"{dropped} rows dropped as late")
    # the reference's eventTimeLag: sink time minus the end-inclusive label
    raw = [t - (e - 1) for _k, e, _n, t, _b in sealed if settle_end <= t < t_end]
    res.detail.update(
        windows=len(res.op_ms),
        release_offset_ms=first_row_ms % 1000,
        reference_lag_p50_ms=stats.median(raw) if raw else None,
        batch_ms_p50=stats.median([p["batchDuration"] for p in progress]) if progress else None,
    )
    if ctx.tr.enabled:
        res.layers.update(
            progress=progress, sealed=sealed, collect_ms=collect_ms,
            first_row_ms=first_row_ms, window=(settle_end, t_end),
        )
    ctx.stop_session()
    return res


# --------------------------------------------------------------------------
# headline_warm: the 7 headline queries on the pinned cache
# --------------------------------------------------------------------------

def headline_warm(ctx: Context) -> Result:
    from timing_explorer_spark.operators.dedup import release_cached
    from timing_explorer_spark.plans import all_queries
    from timing_explorer_spark.sources.tables import warm_cache
    from timing_explorer_spark.testing import (
        duckdb_canonical,
        duckdb_connection,
        spark_canonical,
    )

    res = Result()
    data = ctx.path("tables")
    with ctx.tr.span("bench.datagen"):
        counts = datagen.write_tables(data, ctx.seed, conf.HEADLINE_SF, conf.HEADLINE_EMBEDDINGS)
    specs = {n: s for n, s in sorted(all_queries().items()) if s.headline}

    def write(df, name: str) -> None:
        with ctx.tr.span(f"exec.write_save.{name}"):
            df.write.mode("overwrite").format("noop").save()

    plans: dict = {}
    cycles = conf.SETUP_CYCLES["headline_warm"]
    for cycle in range(cycles):
        t0 = time.monotonic()
        spark = ctx.start_session(catalyst=True)
        with ctx.tr.span("sources.warm_cache"):
            warm_cache(spark, data, **conf.WARM_CACHE)
        if ctx.probe is not None:
            res.layers.setdefault("cached_bytes", []).append(ctx.probe.cached_bytes())
            res.layers.setdefault("pinned_rdds", []).append(ctx.probe.persisted_rdds())
        with ctx.tr.span("plans.build_all"):
            plans = {}
            for name, spec in specs.items():
                with ctx.tr.span("plans.build"):
                    plans[name] = spec.build(spark, data)
        res.setup_s.append(time.monotonic() - t0)
        if cycle < cycles - 1:
            with ctx.tr.span("operators.release_cached"):
                release_cached()
            ctx.stop_session()

    # Correctness, untimed; it is also each plan's first run.
    with ctx.tr.span("bench.check"):
        con = duckdb_connection(data)
        for name, spec in specs.items():
            try:
                got = spark_canonical(plans[name])
                want = duckdb_canonical(con, spec.oracle)
                res.check(got == want, f"{name}: canonical rows differ from the DuckDB oracle")
            except Exception as exc:  # noqa: BLE001
                res.crashed(f"{name} check", exc)
        con.close()

    try:
        with ctx.tr.span("bench.warmup"):
            for _ in range(conf.HEADLINE_WARMUP_PASSES):
                for name, df in plans.items():
                    write(df, name)
    except Exception as exc:  # noqa: BLE001 - counted, never dropped
        res.crashed("warm-up pass", exc)

    per_query: dict[str, list[float]] = {name: [] for name in plans}

    def one_pass() -> float:
        t0 = time.monotonic()
        with ctx.tr.span("bench.pass"):
            for name, df in plans.items():
                tq = time.monotonic()
                write(df, name)
                per_query[name].append(1000.0 * (time.monotonic() - tq))
        ms = 1000.0 * (time.monotonic() - t0)
        if ctx.probe is not None:
            res.layers.setdefault("storage", []).append(ctx.probe.storage_used_bytes())
        return ms

    ctx.timed_loop(res, one_pass, "warm pass")
    res.detail.update(
        rows=counts,
        sf=conf.HEADLINE_SF,
        query_p50_ms={n: stats.median(v) for n, v in per_query.items() if v},
    )

    if ctx.tr.enabled:
        pinned = res.layers["pinned_rdds"][-1]
        with ctx.tr.span("operators.release_cached"):
            release_cached()
        res.layers["persisted_left"] = ctx.probe.persisted_rdds() - pinned
        from timing_explorer_spark.testing import duckdb_native_connection

        with ctx.tr.span("bench.duckdb_native"):
            native = duckdb_native_connection(data)
            runs = []
            for _ in range(3):
                t0 = time.monotonic()
                for spec in specs.values():
                    native.execute(spec.oracle).fetchall()
                runs.append(1000.0 * (time.monotonic() - t0))
            native.close()
        res.layers["duckdb_native_ms"] = stats.median(runs[1:])
    else:
        release_cached()
    ctx.stop_session()
    return res


WORKLOADS = {"live_lag": live_lag, "headline_warm": headline_warm}


def clean(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(path))  # the shared _work/, once empty
    except OSError:
        pass
