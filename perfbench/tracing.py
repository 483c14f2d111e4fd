"""Tracing from outside the engine: spans around the benchmark's calls into
the program, plus readers for Spark's public status and progress APIs.

With tracing off, ``Tracer.span`` records nothing and no listener is
registered; the untraced run pays only a context-manager call per span.
With tracing on, spans are kept in memory and Spark's job/stage records and
query-execution phases are read at the end of each session, so the run
itself does no extra I/O.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import threading
import time
from dataclasses import dataclass, field

import stats


@dataclass
class Span:
    name: str
    start: float  # epoch seconds, to line up with Spark's epoch-ms records
    end: float = 0.0
    parent: int | None = None
    sid: int = 0


@dataclass
class Interval:
    """A child interval read from Spark (a stage, or a Catalyst phase)."""

    layer: str
    start: float
    end: float


class Tracer:
    """Spans with a per-thread parent stack; one tracer per run."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, parent: int | None = None):
        """Record ``name`` around the block. ``parent`` names the caller's
        span explicitly for callbacks that run on another thread."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        if parent is None and stack:
            parent = stack[-1]
        with self._lock:
            sp = Span(name, time.time(), parent=parent, sid=len(self.spans))
            self.spans.append(sp)
        stack.append(sp.sid)
        try:
            yield sp.sid
        finally:
            stack.pop()
            sp.end = time.time()

    def spans_named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]


ROOT_SPAN = "run"  # the whole run; its self time is the unattributed residual


def layer_of(name: str) -> str:
    """``layer.call`` spans belong to ``layer``; the root span is its own."""
    return name.split(".", 1)[0]


def layer_self_times(spans: list[Span], intervals: list[Interval]) -> dict[str, float]:
    """Seconds of self time per layer over a span tree.

    Each Spark interval is charged to the innermost span containing its
    start. A span's self time is its duration minus what its child spans and
    charged intervals cover; intervals of one layer under one span count as
    their union, and where layers overlap the earlier layer in
    ``("exec", "catalyst")`` keeps the overlap."""
    by_parent: dict[int | None, list[Span]] = {}
    for s in spans:
        by_parent.setdefault(s.parent, []).append(s)
    charged: dict[int, list[Interval]] = {}
    for iv in intervals:
        owners = [s for s in spans if s.start <= iv.start < s.end]
        if owners:
            owner = min(owners, key=lambda s: s.end - s.start)
            charged.setdefault(owner.sid, []).append(iv)
    out: dict[str, float] = {}
    for s in spans:
        kids = [(c.start, c.end) for c in by_parent.get(s.sid, [])]
        ivs = charged.get(s.sid, [])
        clip = lambda i: (max(s.start, i.start), min(s.end, i.end))  # noqa: E731
        covered: list[tuple[float, float]] = []
        for layer in ("exec", "catalyst"):
            mine = [clip(i) for i in ivs if i.layer == layer]
            before = stats.union_length(covered + kids)
            covered += mine
            out[layer] = out.get(layer, 0.0) + stats.union_length(covered + kids) - before
        lay = layer_of(s.name)
        out[lay] = out.get(lay, 0.0) + stats.self_time((s.start, s.end), kids + covered)
    return out


def _epoch_ms(date_option) -> float | None:
    return date_option.get().getTime() / 1000.0 if date_option.isDefined() else None


@dataclass
class StageRecord:
    start: float
    end: float
    tasks: int
    failed_tasks: int
    run_ms: float
    cpu_ms: float
    shuffle_read: int
    shuffle_write: int
    spill: int


@dataclass
class JobRecord:
    submitted: float
    stages: list[StageRecord] = field(default_factory=list)


class _PhaseListener:
    """QueryExecutionListener (through the py4j callback server) that keeps
    the Catalyst phase intervals of every completed action."""

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

    def __init__(self) -> None:
        self.phases: list[Interval] = []

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802
        it = qe.tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            ph = kv._2()
            self.phases.append(
                Interval("catalyst", ph.startTimeMs() / 1000.0, ph.endTimeMs() / 1000.0)
            )

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        pass


class SparkProbe:
    """Reads one session's job, stage and phase records from Spark's status
    store and listener APIs. Attach after the session starts and call
    ``harvest`` before it stops; records from several sessions accumulate."""

    def __init__(self) -> None:
        self.jobs: list[JobRecord] = []
        self.phases: list[Interval] = []
        self._listener: _PhaseListener | None = None
        self._spark = None

    def attach(self, spark, catalyst: bool) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        self._spark = spark
        if catalyst:
            ensure_callback_server_started(spark.sparkContext._gateway)
            self._listener = _PhaseListener()
            spark._jsparkSession.listenerManager().register(self._listener)

    def drain(self) -> None:
        self._spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)

    def storage_used_bytes(self) -> int:
        store = self._spark.sparkContext._jsc.sc().statusStore()
        execs = store.executorList(True)
        return sum(int(execs.apply(i).memoryUsed()) for i in range(execs.size()))

    def cached_bytes(self) -> int:
        infos = self._spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(int(i.memSize()) for i in infos)

    def persisted_rdds(self) -> int:
        return int(self._spark.sparkContext._jsc.getPersistentRDDs().size())

    def harvest(self) -> None:
        """Copy this session's completed jobs, stages and phases."""
        self.drain()
        sc = self._spark.sparkContext
        store = sc._jsc.sc().statusStore()
        jobs = store.jobsList(None)
        for i in range(jobs.size()):
            jd = jobs.apply(i)
            sub = _epoch_ms(jd.submissionTime())
            if sub is None:
                continue
            rec = JobRecord(sub)
            ids = jd.stageIds()
            for j in range(ids.size()):
                try:
                    sd = store.lastStageAttempt(ids.apply(j))
                except Exception:  # noqa: BLE001 - stage evicted from the store
                    continue
                start, end = _epoch_ms(sd.submissionTime()), _epoch_ms(sd.completionTime())
                if start is None or end is None:
                    continue  # skipped: its output was reused
                rec.stages.append(
                    StageRecord(
                        start, end, int(sd.numTasks()), int(sd.numFailedTasks()),
                        float(sd.executorRunTime()), sd.executorCpuTime() / 1e6,
                        int(sd.shuffleReadBytes()), int(sd.shuffleWriteBytes()),
                        int(sd.memoryBytesSpilled()) + int(sd.diskBytesSpilled()),
                    )
                )
            self.jobs.append(rec)
        if self._listener is not None:
            self.phases += self._listener.phases
            self._spark._jsparkSession.listenerManager().unregister(self._listener)
            self._listener = None

    def stage_intervals(self) -> list[Interval]:
        return [Interval("exec", s.start, s.end) for j in self.jobs for s in j.stages]

    def exec_totals(self, start: float, end: float) -> dict[str, float]:
        """Job and stage totals for jobs submitted within [start, end)."""
        jobs = [j for j in self.jobs if start <= j.submitted < end]
        stages = [s for j in jobs for s in j.stages]
        return {
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": sum(s.tasks for s in stages),
            "task_failures": sum(s.failed_tasks for s in stages),
            "run_ms": sum(s.run_ms for s in stages),
            "cpu_ms": sum(s.cpu_ms for s in stages),
            "shuffle_read_bytes": sum(s.shuffle_read for s in stages),
            "shuffle_write_bytes": sum(s.shuffle_write for s in stages),
            "spill_bytes": sum(s.spill for s in stages),
            "driver_residual_ms": 1000.0 * stats.self_time(
                (start, end), [(s.start, s.end) for s in stages]
            ),
        }

    def catalyst_ms(self, start: float, end: float) -> float:
        return 1000.0 * stats.union_length(
            [(p.start, p.end) for p in self.phases if start <= p.start < end]
        )


def parse_iso_ms(stamp: str) -> float:
    """Epoch milliseconds of a progress report's ISO-8601 UTC timestamp."""
    return dt.datetime.fromisoformat(stamp.replace("Z", "+00:00")).timestamp() * 1000.0
