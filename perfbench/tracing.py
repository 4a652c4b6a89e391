"""Span recorder around sparkcheck's public entry points, and the fold of
spans plus Spark jobs into per-layer metrics.

Spans live in memory and are written out when the run ends. A span's
parent is the innermost open span on its own thread, or else on the
benchmark's thread (spans of the fused prefetch thread nest under the call
that started it). Every span carries the id of the op in flight.

Jobs are attributed to spans and ops by Spark local properties, which
follow the submitting thread: the benchmark's thread carries the op id,
and every thread carries its innermost open span. A job with neither
belongs to the op whose interval holds its submission time.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from dataclasses import asdict, dataclass
from pathlib import Path
from typing import Callable

#: Spark local properties naming the op and the span a job was submitted in
OP_PROPERTY = "perfbench.op"
SPAN_PROPERTY = "perfbench.span"


@dataclass
class Span:
    name: str
    start: float  # epoch seconds, comparable with the event log's ms
    end: float
    parent: int | None  # index into Recorder.spans
    op: int | None


@dataclass
class Op:
    op_id: int
    start: float  # epoch seconds
    end: float
    docs: int
    error: str | None = None

    @property
    def latency(self) -> float:
        return self.end - self.start


class Recorder:
    """Records spans of the entry points it wraps; a plain run installs
    none and only keeps the current op id."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self.op: int | None = None
        self.on_commit: Callable[[], None] | None = None
        self._stacks: dict[int, list[int]] = {}
        self._home = threading.get_ident()
        self._patches: list[tuple[object, str, object]] = []

    def set_op(self, op_id: int) -> None:
        self.op = op_id
        if self.sc is not None:
            self.sc.setLocalProperty(OP_PROPERTY, str(op_id))

    def wrap(self, owner: object, attr: str, name: str) -> None:
        original = getattr(owner, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            idx = self._open(name)
            try:
                return original(*args, **kwargs)
            finally:
                self._close(idx)
                if name == "store.commit" and self.on_commit is not None:
                    self.on_commit()

        self._patches.append((owner, attr, original))
        setattr(owner, attr, traced)

    def install(self) -> None:
        """Wrap the public entry points of every layer the workloads use."""
        from sparkcheck import fused, metrics, runner, streaming, validator

        self.wrap(fused, "validate_and_extract", "fused.call")
        self.wrap(validator.Validator, "validate", "validator.validate")
        self.wrap(metrics.MetricResolver, "resolve", "metrics.resolve")
        self.wrap(runner.PartitionedCorpusRunner, "run", "runner.run")
        self.wrap(streaming.StreamingValidationSink, "__call__", "streaming.call")
        store = runner.ParquetStore
        for attr, name in STORE_METHODS.items():
            self.wrap(store, attr, name)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)

    def _open(self, name: str) -> int:
        me = threading.get_ident()
        stack = self._stacks.setdefault(me, [])
        parents = stack or list(self._stacks.get(self._home, ()))
        self.spans.append(
            Span(name, time.time(), float("nan"), parents[-1] if parents else None, self.op)
        )
        idx = len(self.spans) - 1
        stack.append(idx)
        self._tag_thread(idx)
        return idx

    def _close(self, idx: int) -> None:
        self.spans[idx].end = time.time()
        stack = self._stacks[threading.get_ident()]
        stack.pop()
        self._tag_thread(stack[-1] if stack else None)

    def _tag_thread(self, idx: int | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty(SPAN_PROPERTY, None if idx is None else str(idx))

    def dump(self, path: Path) -> None:
        path.write_text(json.dumps([asdict(s) for s in self.spans]))


STORE_METHODS = {
    "append": "store.append",
    "append_rows": "store.append_rows",
    "append_small": "store.append_small",
    "commit_partition": "store.commit",
    "has_partition": "store.probe",
    "committed_partitions": "store.list",
}


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)
    )
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def attribute_jobs(jobs: dict, ops: list[Op], spans: list[Span]) -> dict[int, list]:
    """Jobs per op id: by the submitting span's op, else by the op property
    of the benchmark's thread, else by the op whose interval holds the
    job's submission time."""
    by_op: dict[int, list] = {op.op_id: [] for op in ops}
    for job in jobs.values():
        span = _span_of(job, spans)
        tag = job.props.get(OP_PROPERTY)
        if span is not None and span.op in by_op:
            op_id = span.op
        elif tag is not None and int(tag) in by_op:
            op_id = int(tag)
        else:
            t = job.submit_ms / 1000
            op_id = next((op.op_id for op in ops if op.start <= t <= op.end), None)
        if op_id is not None:
            by_op[op_id].append(job)
    return by_op


def _span_of(job, spans: list[Span]) -> Span | None:
    tag = job.props.get(SPAN_PROPERTY)
    return spans[int(tag)] if tag is not None and int(tag) < len(spans) else None


def _jobs_under(jobs: list, spans: list[Span], name: str) -> int:
    """Jobs submitted inside a span called ``name`` or one of its children."""
    n = 0
    for job in jobs:
        span = _span_of(job, spans)
        while span is not None and span.name != name:
            span = spans[span.parent] if span.parent is not None else None
        n += span is not None
    return n


def layer_metrics(
    spans: list[Span],
    ops: list[Op],
    jobs: dict,
    cores: int,
    store_files_per_op: float,
    store_bytes_per_kdoc: float,
) -> dict[str, float]:
    """Per-layer metrics per op (or per doc) over the timed ``ops``. The
    store's footprint is measured on disk by the caller."""
    n = len(ops)
    docs = sum(op.docs for op in ops)
    by_op = attribute_jobs(jobs, ops, spans)
    spans_of: dict[int, list[Span]] = {op.op_id: [] for op in ops}
    for s in spans:
        if s.op in spans_of:
            spans_of[s.op].append(s)

    def busy(op: Op, names: tuple[str, ...]) -> float:
        return union_length(
            [(s.start, s.end) for s in spans_of[op.op_id] if s.name in names],
            op.start, op.end,
        )

    store_names = tuple(STORE_METHODS.values())
    out: dict[str, float] = {}
    all_jobs = [j for op in ops for j in by_op[op.op_id]]
    out["spark.jobs_per_op"] = len(all_jobs) / n
    out["spark.stages_per_op"] = sum(j.stages for j in all_jobs) / n
    out["spark.tasks_per_op"] = sum(j.tasks for j in all_jobs) / n
    out["spark.executor_run_s_per_op"] = sum(j.run_ms for j in all_jobs) / 1e3 / n
    out["spark.executor_cpu_s_per_op"] = sum(j.cpu_ns for j in all_jobs) / 1e9 / n
    out["spark.gc_s_per_op"] = sum(j.gc_ms for j in all_jobs) / 1e3 / n
    out["spark.input_bytes_per_doc"] = sum(j.input_bytes for j in all_jobs) / docs
    out["spark.shuffle_bytes_per_doc"] = sum(j.shuffle_write_bytes for j in all_jobs) / docs
    out["spark.no_job_s_per_op"] = sum(
        op.latency
        - union_length(
            [(j.submit_ms / 1e3, (j.end_ms or j.submit_ms) / 1e3) for j in by_op[op.op_id]],
            op.start, op.end,
        )
        for op in ops
    ) / n
    wall = sum(op.latency for op in ops)
    out["spark.idle_core_frac"] = 1 - sum(j.task_ms for j in all_jobs) / 1e3 / (wall * cores)
    out["validator.validate_s_per_op"] = sum(busy(op, ("validator.validate",)) for op in ops) / n
    out["metrics.resolve_s_per_op"] = sum(busy(op, ("metrics.resolve",)) for op in ops) / n
    out["metrics.jobs_per_op"] = _jobs_under(all_jobs, spans, "metrics.resolve") / n
    out["fused.call_s_per_op"] = sum(busy(op, ("fused.call",)) for op in ops) / n
    out["fused.jobs_per_op"] = _jobs_under(all_jobs, spans, "fused.call") / n
    # the runner has no per-partition entry point: a partition is its op
    runner_self = 0.0
    if any(s.name == "runner.run" for s in spans):
        runner_self = sum(
            op.latency - busy(op, ("validator.validate",) + store_names) for op in ops
        )
    out["runner.self_s_per_op"] = runner_self / n
    for name in STORE_METHODS.values():
        if name != "store.list":
            out[f"{name}_s_per_op"] = sum(busy(op, (name,)) for op in ops) / n
    out["store.calls_per_op"] = sum(
        1 for op in ops for s in spans_of[op.op_id] if s.name in store_names
    ) / n
    out["store.files_per_op"] = store_files_per_op
    out["store.bytes_per_kdoc"] = store_bytes_per_kdoc
    streaming_self = 0.0
    for op in ops:
        for s in spans_of[op.op_id]:
            if s.name == "streaming.call":
                children = [
                    (c.start, c.end)
                    for c in spans_of[op.op_id]
                    if c.name in ("validator.validate", "fused.call") + store_names
                ]
                streaming_self += (s.end - s.start) - union_length(children, s.start, s.end)
    out["streaming.self_s_per_op"] = streaming_self / n
    return out
