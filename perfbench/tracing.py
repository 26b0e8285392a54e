"""Spans around the benchmark's calls into each layer, plus Spark's own
job/stage/task counters, for the traced run (``--trace 1``).

A span records (name, start, end, parent, op id). Spans stay in memory and
are written out once, when the run ends. A layer's self time is its span's
duration minus the durations of its child spans (one client thread, so
children never overlap).

Spark counters are attributed by job id: a span owns the jobs whose ids the
scheduler handed out while it was open. With one closed-loop client that
is exact, and unlike a job-group lookup it also catches the jobs that a
streaming micro-batch runs on Spark's own stream thread. Each operation
also sets the job group ``<workload>.<op>.<i>`` so its jobs carry its name.

The untraced run uses :data:`NO_TRACE`, whose spans cost one no-op
context manager.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time
from dataclasses import dataclass, field

# (name, unit) of every per-layer metric a traced run prints, in
# BENCHMARK.json order. A layer a workload never calls reports 0.
LAYER_METRICS = (
    ("session.start_s", "s"),
    ("session.warm_s", "s"),
    ("operators.build_s", "s"),
    ("spark.plan_s", "s"),
    ("spark.exec_s", "s"),
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.task_run_s", "s"),
    ("spark.task_cpu_s", "s"),
    ("spark.shuffle_write_bytes", "bytes"),
    ("spark.shuffle_read_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"),
    ("spark.input_bytes", "bytes"),
    ("pipeline.build_s", "s"),
    ("pipeline.build_jobs", "count"),
    ("cache.new_persists", "count"),
    ("cache.persisted_frames", "count"),
    ("cache.persisted_bytes", "bytes"),
    ("analytics.query_s", "s"),
    ("analytics.to_client_s", "s"),
    ("copilot.guard_s", "s"),
    ("copilot.ask_s", "s"),
    ("plans.resolve_s", "s"),
    ("txn.publish_s", "s"),
    ("txn.jobs", "count"),
    ("txn.bytes_written", "bytes"),
    ("txn.read_s", "s"),
    ("streaming.microbatch_s", "s"),
    ("streaming.jobs", "count"),
    ("mor.upsert_s", "s"),
    ("mor.delete_s", "s"),
    ("mor.compact_s", "s"),
    ("mor.read_s", "s"),
    ("mor.jobs_per_read", "count"),
    ("mor.fragments_at_read", "count"),
    ("mor.bytes_rewritten_per_compact", "bytes"),
    ("sources.space_amp", "ratio"),
    ("env.jvm_sum_start_s", "s"),
    ("env.jvm_sum_end_s", "s"),
    ("env.scan_start_s", "s"),
    ("env.scan_end_s", "s"),
    ("trace.op_geomean_s", "s"),
    ("trace.bookkeeping_s", "s"),
)

# Spark counters summed over the non-skipped stages of an operation's jobs:
# metric name -> (StageData getter, scale to the metric's unit).
_STAGE_COUNTERS = {
    "spark.tasks": ("numTasks", 1),
    "spark.task_run_s": ("executorRunTime", 1e-3),
    "spark.task_cpu_s": ("executorCpuTime", 1e-9),
    "spark.shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "spark.shuffle_read_bytes": ("shuffleReadBytes", 1),
    "spark.spill_bytes": ("diskBytesSpilled", 1),
    "spark.input_bytes": ("inputBytes", 1),
}


# Spans whose median self time is reported as the metric "<span>_s".
_TIMED_SPANS = (
    "session.start",
    "session.warm",
    "operators.build",
    "spark.plan",
    "spark.exec",
    "pipeline.build",
    "analytics.query",
    "analytics.to_client",
    "copilot.guard",
    "copilot.ask",
    "plans.resolve",
    "txn.publish",
    "txn.read",
    "streaming.microbatch",
    "mor.upsert",
    "mor.delete",
    "mor.compact",
    "mor.read",
)


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: str | None = None
    first_job: int = 0
    end_job: int = 0
    counts: dict[str, float] = field(default_factory=dict)

    @property
    def jobs(self) -> int:
        return self.end_job - self.first_job


class NoTrace:
    """The untraced run: spans and counts cost nothing."""

    enabled = False

    def span(self, name: str, op: str | None = None):
        return contextlib.nullcontext()


NO_TRACE = NoTrace()


class Tracer:
    enabled = True

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jsc = spark.sparkContext._jsc.sc()
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.bookkeeping_s = 0.0
        self._seen_stages: set[int] = set()

    def _next_job(self) -> int:
        return int(self._jsc.dagScheduler().nextJobId())

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent].op
        s = Span(name, 0.0, parent=parent, op=op, first_job=self._next_job())
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            s.end_job = self._next_job()
            self._stack.pop()

    def collect_op(self, span: Span) -> None:
        """Read the Spark counters of one finished operation's jobs from the
        status store (after the listener bus has drained, so the last
        task's metrics are in)."""
        t0 = time.perf_counter()
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        tracker = self._sc.statusTracker()
        totals = dict.fromkeys(_STAGE_COUNTERS, 0.0)
        stages = 0
        for jid in range(span.first_job, span.end_job):
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                if sid in self._seen_stages:
                    continue
                data = store.lastStageAttempt(sid)
                if str(data.status()) == "SKIPPED":
                    continue
                self._seen_stages.add(sid)
                stages += 1
                for metric, (getter, scale) in _STAGE_COUNTERS.items():
                    totals[metric] += getattr(data, getter)() * scale
        span.counts.update(totals)
        span.counts["spark.stages"] = stages
        span.counts["spark.jobs"] = span.jobs
        self.bookkeeping_s += time.perf_counter() - t0

    def persisted(self) -> tuple[set[int], int]:
        """(ids of persisted RDDs, their bytes in memory and on disk)."""
        ids = {int(k) for k in self._sc._jsc.getPersistentRDDs().keySet()}
        size = sum(i.memSize() + i.diskSize() for i in self._jsc.getRDDStorageInfo())
        return ids, size

    def self_times(self) -> list[float]:
        """Each span's duration minus its children's."""
        own = [s.end - s.start for s in self.spans]
        for s in self.spans:
            if s.parent is not None:
                own[s.parent] -= s.end - s.start
        return own

    def write(self, path: str) -> None:
        own = self.self_times()
        rows = [
            {
                "name": s.name,
                "start": s.start,
                "end": s.end,
                "self_s": own[i],
                "parent": s.parent,
                "op": s.op,
                "jobs": s.jobs,
                "counts": s.counts,
            }
            for i, s in enumerate(self.spans)
        ]
        with open(path, "w") as f:
            json.dump(rows, f)

    def layer_metrics(self, op_spans: list[Span], since: float) -> dict[str, float]:
        """Per-layer metrics: the median self time of each layer's spans,
        and per-operation means of the counts (0 for a layer not called).
        Only spans of the timed region (opened at or after ``since``) count,
        apart from the session's own."""
        own = self.self_times()
        by_name: dict[str, list[int]] = {}
        for i, s in enumerate(self.spans):
            if s.start >= since or s.name.startswith(("session.", "env.")):
                by_name.setdefault(s.name, []).append(i)

        def median_self(name: str) -> float:
            idx = by_name.get(name, [])
            return statistics.median(own[i] for i in idx) if idx else 0.0

        def mean_count(spans: list[Span], key: str) -> float:
            vals = [s.counts[key] for s in spans if key in s.counts]
            return statistics.fmean(vals) if vals else 0.0

        def spans_named(name: str) -> list[Span]:
            return [self.spans[i] for i in by_name.get(name, [])]

        out = {name: 0.0 for name, _ in LAYER_METRICS}
        for span_name in _TIMED_SPANS:
            out[f"{span_name}_s"] = median_self(span_name)
        for key in ("spark.jobs", "spark.stages", *_STAGE_COUNTERS):
            out[key] = mean_count(op_spans, key)
        for layer_span, key in (
            ("pipeline.build", "pipeline.build_jobs"),
            ("txn.publish", "txn.jobs"),
            ("streaming.microbatch", "streaming.jobs"),
            ("mor.read", "mor.jobs_per_read"),
        ):
            spans = spans_named(layer_span)
            out[key] = statistics.fmean(s.jobs for s in spans) if spans else 0.0
        for span_name, key in (
            ("pipeline.build", "cache.new_persists"),
            ("pipeline.build", "cache.persisted_frames"),
            ("pipeline.build", "cache.persisted_bytes"),
            ("txn.publish", "txn.bytes_written"),
            ("mor.read", "mor.fragments_at_read"),
            ("mor.compact", "mor.bytes_rewritten_per_compact"),
        ):
            out[key] = mean_count(spans_named(span_name), key)
        for s in spans_named("env.start") + spans_named("env.end"):
            out.update(s.counts)
        out["trace.bookkeeping_s"] = self.bookkeeping_s / max(1, len(op_spans))
        return out
