"""The benchmark's metric names and units, read from BENCHMARK.json at
the checkout root, and the assembly of the per-layer metrics of a
traced run."""

from __future__ import annotations

import json
import os

from layertrace import group_stats, self_times, span_total
from workloads import Curate

OPS_QUERIES = Curate.QUERIES

with open(
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json"),
    encoding="utf-8",
) as _fh:
    _SPEC = json.load(_fh)

END_TO_END = [m["name"] for m in _SPEC["end_to_end"]]
PER_LAYER = [m["name"] for m in _SPEC["per_layer"]]
UNITS = {m["name"]: m["unit"] for m in _SPEC["end_to_end"] + _SPEC["per_layer"]}


def layer_metrics(log, spans, facts: dict) -> dict[str, float]:
    """Every per-layer metric of one traced operation. Layers a workload
    does not reach read 0. ``facts`` carries what the event log and the
    spans cannot give: counts read back from the outputs, the session
    start, the traced wall time and the resume time."""
    selfs = self_times(spans)
    g = {layer: group_stats(log, [layer]) for layer in ("extract", "link", "canonicalize", "triples", "materialize")}
    total = group_stats(log)
    wall = facts["wall_s"]
    bookkeeping = selfs.get("materialize", 0.0)
    out = {
        "session.start_s": facts["session.start_s"],
        "extract.busy_s": g["extract"].busy_s,
        "extract.jobs": g["extract"].jobs,
        "extract.executor_cpu_s": g["extract"].cpu_s,
        "extract.python_run_s": g["extract"].python_run_s,
        "extract.python_bytes_sent": g["extract"].python_bytes_sent,
        "link.busy_s": g["link"].busy_s,
        "link.jobs": g["link"].jobs,
        "link.shuffle_write_bytes": g["link"].shuffle_write_bytes,
        "canonicalize.busy_s": g["canonicalize"].busy_s,
        "canonicalize.jobs": g["canonicalize"].jobs,
        "triples.busy_s": g["triples"].busy_s,
        "triples.shuffle_write_bytes": g["triples"].shuffle_write_bytes,
        "triples.spill_bytes": g["triples"].spill_bytes,
        "materialize.write_s": span_total(spans, "write:") + span_total(spans, "append:"),
        "materialize.bookkeeping_s": bookkeeping,
        "materialize.bookkeeping_jobs": g["materialize"].jobs,
        "materialize.bookkeeping_share": bookkeeping / wall if wall else 0.0,
        "materialize.bytes_written": total.bytes_written,
        "materialize.files_written": total.files_written,
        "pipeline.jobs": total.jobs,
        "pipeline.tasks": total.tasks,
        "pipeline.executor_cpu_s": total.cpu_s,
        "pipeline.gc_s": total.gc_s,
        "pipeline.shuffle_write_bytes": total.shuffle_write_bytes,
        "pipeline.spill_bytes": total.spill_bytes,
        "pipeline.wall_s": wall,
    }
    for q in OPS_QUERIES:
        layer = f"ops.{q}"
        stats = group_stats(log, [layer])
        out[f"{layer}.plan_s"] = span_total(spans, f"{layer}.plan")
        out[f"{layer}.exec_s"] = span_total(spans, f"{layer}.exec")
        out[f"{layer}.jobs"] = stats.jobs
        out[f"{layer}.spill_bytes"] = stats.spill_bytes
    for name in PER_LAYER:
        out.setdefault(name, facts.get(name, 0))
    return {name: out[name] for name in PER_LAYER}
