"""Layer tracing for the KG-factory benchmark, from the benchmark's side.

A traced run wraps the program's layer entry points (``patch_layers``).
Each wrapper records a span and sets a Spark job group named after the
layer, so every Spark job the layer submits carries that group in
Spark's event log. ``parse_event_log`` turns the log into per-job
records and ``group_stats`` sums them per group; ``self_times`` turns
the spans into per-layer self time. Nothing here runs in an untraced
run: end-to-end metrics are measured with tracing off.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import time
from dataclasses import dataclass, field

# Stage name -> the layer whose plan the stage write executes. The write
# job of a lazily built stage runs that layer's work, so its jobs are
# the layer's; everything a write does after the data files land
# (lineage, manifest totals) is materialize bookkeeping.
STAGE_LAYER = {
    "mentions": "extract",
    "candidates": "link",
    "edges": "link",
    "nodes": "canonicalize",
    "triples": "triples",
}

BOOKKEEPING = "materialize.bookkeeping"
# Jobs the benchmark itself submits (output checks, resume probe) carry
# this group and are left out of every total.
BENCH_GROUP = "bench"
# The timed operation runs inside a span of this group, so the program's
# own jobs outside every layer span (such as the pipeline's input-pair
# count) count in the pipeline.* totals and in no layer.
PIPELINE_GROUP = "pipeline"


@dataclass
class Span:
    name: str
    layer: str
    parent: int | None
    start: float
    end: float | None = None


class Tracer:
    """In-memory spans plus the Spark job group of the innermost span.

    ``sc`` is the SparkContext whose thread-local job group is set; with
    ``sc=None`` only spans are recorded (used by the unit tests)."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._tail: list[int | None] = []
        self._set_group(BENCH_GROUP)

    def _set_group(self, group: str) -> None:
        if self.sc is not None:
            self.sc.setJobGroup(group, group)

    def _open(self, name: str, layer: str) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, layer, parent, time.perf_counter()))
        idx = len(self.spans) - 1
        self._stack.append(idx)
        self._set_group(layer)
        return idx

    def _close(self, idx: int) -> None:
        assert self._stack and self._stack[-1] == idx, "span stack corrupted"
        self._stack.pop()
        self.spans[idx].end = time.perf_counter()
        self._set_group(self.spans[self._stack[-1]].layer if self._stack else BENCH_GROUP)

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        idx = self._open(name, layer)
        try:
            yield
        finally:
            self._close(idx)

    @contextlib.contextmanager
    def stage_write(self, name: str, layer: str):
        """A stage commit: the span runs under the producing layer until
        ``data_written`` opens the bookkeeping tail, which lasts until
        the commit returns."""
        idx = self._open(name, layer)
        self._tail.append(None)
        try:
            yield
        finally:
            tail = self._tail.pop()
            if tail is not None:
                self._close(tail)
            self._close(idx)

    def data_written(self) -> None:
        if self._tail and self._tail[-1] is None:
            self._tail[-1] = self._open(BOOKKEEPING, "materialize")


def self_times(spans: list[Span]) -> dict[str, float]:
    """Seconds per layer spent in its own closed spans, children excluded.

    A span's self time is its duration minus the durations of its direct
    children (children nest inside their parent, so their durations add
    without overlap)."""
    child = [0.0] * len(spans)
    for s in spans:
        if s.parent is not None:
            child[s.parent] += s.end - s.start
    out: dict[str, float] = {}
    for s, c in zip(spans, child):
        out[s.layer] = out.get(s.layer, 0.0) + (s.end - s.start) - c
    return out


def span_total(spans: list[Span], prefix: str) -> float:
    """Summed duration of the spans whose name starts with ``prefix``."""
    return sum(s.end - s.start for s in spans if s.name.startswith(prefix))


# ------------------------------------------------------------ patching


def patch_layers(tracer: Tracer):
    """Wrap the layer entry points the workloads reach; return a function
    that restores the originals."""
    from pyspark.sql.readwriter import DataFrameWriter

    from structured_data_entity_extraction_spark import codekg, pipeline
    from structured_data_entity_extraction_spark.materialize import StageStore

    undo = []

    def wrap(owner, attr, make):
        orig = getattr(owner, attr)
        setattr(owner, attr, functools.wraps(orig)(make(orig)))
        undo.append((owner, attr, orig))

    def in_span(name, layer):
        def make(orig):
            def wrapper(*args, **kwargs):
                with tracer.span(name, layer):
                    return orig(*args, **kwargs)

            return wrapper

        return make

    def commit(kind):
        def make(orig):
            def wrapper(store, df, stage, *args, **kwargs):
                with tracer.stage_write(f"{kind}:{stage}", STAGE_LAYER.get(stage, "materialize")):
                    return orig(store, df, stage, *args, **kwargs)

            return wrapper

        return make

    def parquet(orig):
        def wrapper(writer, path, *args, **kwargs):
            out = orig(writer, path, *args, **kwargs)
            if os.path.basename(str(path).rstrip("/")) == "data":
                tracer.data_written()
            return out

        return wrapper

    for attr, layer in (
        ("extract_code_mentions", "extract"),
        ("link_mentions", "link"),
        ("link_edges", "link"),
        ("canonicalize", "canonicalize"),
        ("connected_components", "canonicalize"),
        ("build_triples", "triples"),
    ):
        wrap(codekg, attr, in_span(f"codekg.{attr}", layer))
    wrap(StageStore, "run_stage", in_span("StageStore.run_stage", "materialize"))
    wrap(StageStore, "write", commit("write"))
    wrap(StageStore, "append", commit("append"))
    wrap(StageStore, "write_input_pairs", in_span("materialize.input_pairs", "materialize"))
    wrap(DataFrameWriter, "parquet", parquet)
    wrap(pipeline, "input_identity", in_span("materialize.input_identity", "materialize"))
    wrap(pipeline, "sha_invariant_report", in_span("materialize.sha_invariant", "materialize"))

    def restore():
        for owner, attr, orig in reversed(undo):
            setattr(owner, attr, orig)

    return restore


# ----------------------------------------------------------- event log


@dataclass
class Job:
    group: str
    submit_ms: int
    end_ms: int | None = None
    execution: int | None = None
    tasks: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    bytes_written: int = 0
    python_run_ms: int = 0
    python_bytes_sent: int = 0


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    files_written: dict[int, int] = field(default_factory=dict)  # execution -> files


_SQL = "org.apache.spark.sql.execution.ui."


def _plan_metric_names(plan: dict, out: dict[int, str]) -> None:
    for m in plan.get("metrics", []):
        out[m["accumulatorId"]] = m["name"]
    for child in plan.get("children", []):
        _plan_metric_names(child, out)


def parse_event_log(lines) -> EventLog:
    """Per-job records from Spark event-log lines (JSON, one per line).

    A task's metrics go to the job that first listed its stage (a stage
    reused by a later job is skipped there, not re-run). Files written
    come from the SQL metric each write command updates."""
    log = EventLog()
    stage_job: dict[int, int] = {}
    metric_name: dict[int, str] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            exe = props.get("spark.sql.execution.id")
            log.jobs[ev["Job ID"]] = Job(
                group=props.get("spark.jobGroup.id") or BENCH_GROUP,
                submit_ms=ev["Submission Time"],
                execution=int(exe) if exe is not None else None,
            )
            for st in ev["Stage Infos"]:
                stage_job.setdefault(st["Stage ID"], ev["Job ID"])
        elif kind == "SparkListenerJobEnd":
            log.jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            job = log.jobs.get(stage_job.get(ev["Stage ID"]))
            if job is None:
                continue
            tm = ev.get("Task Metrics") or {}
            job.tasks += 1
            job.cpu_ns += tm.get("Executor CPU Time", 0)
            job.gc_ms += tm.get("JVM GC Time", 0)
            job.shuffle_write_bytes += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            job.spill_bytes += tm.get("Disk Bytes Spilled", 0)
            job.bytes_written += (tm.get("Output Metrics") or {}).get("Bytes Written", 0)
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                if acc.get("Name") == "time to run Python workers":
                    job.python_run_ms += int(acc["Update"])
                elif acc.get("Name") == "data sent to Python workers":
                    job.python_bytes_sent += int(acc["Update"])
        elif kind in (_SQL + "SparkListenerSQLExecutionStart", _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
            _plan_metric_names(ev.get("sparkPlanInfo") or {}, metric_name)
        elif kind == _SQL + "SparkListenerDriverAccumUpdates":
            for acc_id, value in ev["accumUpdates"]:
                if metric_name.get(acc_id) == "number of written files":
                    exe = ev["executionId"]
                    log.files_written[exe] = log.files_written.get(exe, 0) + int(value)
    return log


def read_event_log(directory: str) -> EventLog:
    """Parse the one event-log file Spark wrote under ``directory``
    (hidden checksum files skipped). The traced run turns rolling logs,
    on by default in Spark 4, off."""
    (name,) = [n for n in os.listdir(directory) if not n.startswith(".")]
    with open(os.path.join(directory, name), encoding="utf-8") as fh:
        return parse_event_log(fh)


def union_seconds(intervals) -> float:
    """Length of the union of (start_ms, end_ms) intervals, in seconds."""
    total = 0
    cur_start = cur_end = None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total / 1000.0


@dataclass
class GroupStats:
    jobs: int = 0
    tasks: int = 0
    busy_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    bytes_written: int = 0
    python_run_s: float = 0.0
    python_bytes_sent: int = 0
    files_written: int = 0


def group_stats(log: EventLog, groups=None) -> GroupStats:
    """Totals over the jobs whose group is in ``groups`` (all non-bench
    jobs when None). Busy time is the union of the jobs' wall intervals,
    so concurrent jobs are not counted twice."""
    picked = [
        j for j in log.jobs.values()
        if (j.group in groups if groups is not None else j.group != BENCH_GROUP)
    ]
    out = GroupStats(jobs=len(picked))
    for j in picked:
        out.tasks += j.tasks
        out.cpu_s += j.cpu_ns / 1e9
        out.gc_s += j.gc_ms / 1000.0
        out.shuffle_write_bytes += j.shuffle_write_bytes
        out.spill_bytes += j.spill_bytes
        out.bytes_written += j.bytes_written
        out.python_run_s += j.python_run_ms / 1000.0
        out.python_bytes_sent += j.python_bytes_sent
    out.busy_s = union_seconds(
        (j.submit_ms, j.end_ms) for j in picked if j.end_ms is not None
    )
    executions = {j.execution for j in picked if j.execution is not None}
    out.files_written = sum(n for exe, n in log.files_written.items() if exe in executions)
    return out
