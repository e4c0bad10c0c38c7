"""Per-layer ledger: spans recorded by the benchmark around its calls into
the engine, joined with the Spark status store and streaming progress.

Spans are kept in memory (:class:`Tracer`) and written out once at the
end of a run.  Spark work is attributed to the operation whose span it
ran in: by job group first (the benchmark tags every traced operation's
thread with its trace id) and otherwise by submission time within the
span, because streaming micro-batches run on the stream's own thread
under the stream's job group.
"""

from __future__ import annotations

import json
import statistics
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float  # epoch seconds, the clock the status store's times use
    end: float
    parent: str | None
    trace: str  # run/pass/operation


class Tracer:
    """Keeps finished spans in memory until :meth:`write`."""

    def __init__(self):
        self.spans: list[Span] = []

    def record(self, name: str, start: float, end: float, parent: str | None, trace: str) -> None:
        self.spans.append(Span(name, start, end, parent, trace))

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.__dict__) + "\n")


# ---------------------------------------------------------------------------
# Spark status store
# ---------------------------------------------------------------------------

@dataclass
class StageRec:
    stage_id: int
    start: float
    end: float
    tasks: int
    run_s: float
    cpu_s: float
    gc_s: float
    input_b: int
    output_b: int
    shuffle_read_b: int
    shuffle_write_b: int
    spill_b: int


@dataclass
class JobRec:
    job_id: int
    submitted: float
    group: str | None
    stage_ids: list[int]


def _opt(o):
    return o.get() if o.isDefined() else None


def _ms(o) -> float | None:
    d = _opt(o)
    return d.getTime() / 1000.0 if d is not None else None


def read_status_store(spark) -> tuple[list[JobRec], dict[int, StageRec]]:
    """All jobs and the latest attempt of every executed stage."""
    jvm = spark._jvm
    store = spark.sparkContext._jsc.sc().statusStore()
    conv = jvm.scala.jdk.javaapi.CollectionConverters
    jobs = []
    for j in conv.asJava(store.jobsList(None)):
        sub = _ms(j.submissionTime())
        if sub is None:
            continue
        jobs.append(JobRec(
            j.jobId(), sub, _opt(j.jobGroup()), list(conv.asJava(j.stageIds()))
        ))
    stages: dict[int, StageRec] = {}
    for sid in sorted({sid for j in jobs for sid in j.stage_ids}):
        try:
            s = store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 — py4j error: stage evicted from the store
            continue
        if s.status().toString() == "SKIPPED":
            continue
        start, end = _ms(s.submissionTime()), _ms(s.completionTime())
        if start is None:
            continue
        stages[sid] = StageRec(
            sid, start, end if end is not None else start,
            s.numCompleteTasks() + s.numFailedTasks(),
            s.executorRunTime() / 1e3, s.executorCpuTime() / 1e9,
            s.jvmGcTime() / 1e3, s.inputBytes(), s.outputBytes(),
            s.shuffleReadBytes(), s.shuffleWriteBytes(), s.diskBytesSpilled(),
        )
    return jobs, stages


# ---------------------------------------------------------------------------
# Streaming progress
# ---------------------------------------------------------------------------

def make_stream_listener():
    """A StreamingQueryListener that keeps every progress event."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Recorder(StreamingQueryListener):
        def __init__(self):
            self.events: list[dict] = []
            self.lock = threading.Lock()
            self.last = time.time()

        def onQueryStarted(self, event):
            pass

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            self.last = time.time()

        def onQueryProgress(self, event):
            p = event.progress
            state_rows = sum(op.numRowsTotal for op in p.stateOperators)
            rec = {
                "run": str(p.runId),
                "ts": _iso(p.timestamp),
                "batch_s": p.durationMs.get("triggerExecution", 0) / 1e3,
                "rows": p.numInputRows,
                "state_rows": state_rows,
            }
            with self.lock:
                self.events.append(rec)
                self.last = time.time()

        def drain(self, quiet: float = 0.5, limit: float = 5.0) -> list[dict]:
            """Wait until no event arrived for ``quiet`` seconds."""
            t0 = time.time()
            while time.time() - self.last < quiet and time.time() - t0 < limit:
                time.sleep(0.05)
            with self.lock:
                return list(self.events)

    return Recorder()


def _iso(s: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(s.replace("Z", "+00:00")).timestamp()


# ---------------------------------------------------------------------------
# Attribution and per-layer metrics
# ---------------------------------------------------------------------------

@dataclass
class OpWork:
    """Spark work attributed to one operation."""

    jobs: list[JobRec] = field(default_factory=list)
    stages: list[StageRec] = field(default_factory=list)


def attribute(op_spans: list[Span], jobs: list[JobRec], stages: dict[int, StageRec]) -> dict[str, OpWork]:
    """Map trace id → the jobs and stages that ran for that operation."""
    by_trace = {s.trace: s for s in op_spans}
    ordered = sorted(op_spans, key=lambda s: s.start)
    work = {t: OpWork() for t in by_trace}
    seen: set[int] = set()
    for j in sorted(jobs, key=lambda j: j.submitted):
        owner = j.group if j.group in by_trace else None
        if owner is None:
            for s in ordered:
                if s.start <= j.submitted <= s.end:
                    owner = s.trace
                    break
        if owner is None:
            continue
        w = work[owner]
        w.jobs.append(j)
        for sid in j.stage_ids:
            if sid in stages and sid not in seen:
                seen.add(sid)
                w.stages.append(stages[sid])
    return work


def covered(lo: float, hi: float, stages: list[StageRec]) -> float:
    """Length of [lo, hi] covered by at least one stage interval."""
    iv = sorted((max(lo, s.start), min(hi, s.end)) for s in stages)
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in iv:
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0
