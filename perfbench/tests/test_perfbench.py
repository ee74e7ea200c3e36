"""Unit tests for the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import layertrace  # noqa: E402
import metrics  # noqa: E402
import workloads  # noqa: E402
from layertrace import Span, Tracer  # noqa: E402

LOG = os.path.join(HERE, "data", "eventlog_synthetic.jsonl")


@pytest.fixture(scope="module")
def log():
    with open(LOG, encoding="utf-8") as fh:
        return layertrace.parse_event_log(fh)


def test_jobs_take_their_group_and_default_to_bench(log):
    assert {j: job.group for j, job in log.jobs.items()} == {
        0: "bench", 1: "extract", 2: "materialize", 3: "bench", 4: "pipeline",
    }


def test_task_metrics_sum_per_group(log):
    ex = layertrace.group_stats(log, ["extract"])
    assert (ex.jobs, ex.tasks) == (1, 3)
    assert ex.cpu_s == pytest.approx(1.0)
    assert ex.gc_s == pytest.approx(0.02)
    assert ex.python_run_s == pytest.approx(0.6)
    assert ex.python_bytes_sent == 2000
    assert ex.shuffle_write_bytes == 4096
    assert ex.busy_s == pytest.approx(1.0)


def test_reused_stage_stays_with_the_job_that_ran_it(log):
    # job 2 lists stage 2 too, but its tasks ran (and count) under job 1
    mat = layertrace.group_stats(log, ["materialize"])
    assert (mat.jobs, mat.tasks) == (1, 1)
    assert mat.shuffle_write_bytes == 0
    assert (mat.spill_bytes, mat.bytes_written) == (100, 2048)


def test_files_written_come_from_the_write_command_metric(log):
    assert log.files_written == {2: 3}
    assert layertrace.group_stats(log, ["materialize"]).files_written == 3
    assert layertrace.group_stats(log, ["extract"]).files_written == 0


def test_totals_leave_out_bench_jobs_and_overlap(log):
    total = layertrace.group_stats(log)
    assert (total.jobs, total.tasks) == (3, 5)
    # jobs 1 [2.0, 3.0] s and 2 [2.5, 3.5] s overlap: busy is their union,
    # plus job 4 [5.0, 6.0] s
    assert total.busy_s == pytest.approx(2.5)


def test_unspanned_program_jobs_count_in_totals_and_no_layer(log):
    # job 4 ran inside the operation but outside every layer span
    only = layertrace.group_stats(log, [layertrace.PIPELINE_GROUP])
    assert (only.jobs, only.cpu_s, only.shuffle_write_bytes) == (1, pytest.approx(2.0), 512)
    total = layertrace.group_stats(log)
    layers = ("extract", "link", "canonicalize", "triples", "materialize")
    assert sum(layertrace.group_stats(log, [g]).jobs for g in layers) == total.jobs - 1
    assert total.cpu_s == pytest.approx(1.0 + 2.0)
    assert total.gc_s == pytest.approx(0.02 + 0.03)


def test_read_event_log_skips_hidden_checksum_files(tmp_path):
    with open(LOG, encoding="utf-8") as fh:
        (tmp_path / "local-1").write_text(fh.read())
    (tmp_path / ".local-1.crc").write_bytes(b"\x00crc")
    got = layertrace.read_event_log(str(tmp_path))
    assert layertrace.group_stats(got).tasks == 5


def test_union_seconds():
    assert layertrace.union_seconds([]) == 0
    assert layertrace.union_seconds([(0, 1000), (500, 1500), (3000, 3500)]) == pytest.approx(2.0)
    assert layertrace.union_seconds([(0, 4000), (1000, 2000)]) == pytest.approx(4.0)


def test_self_time_subtracts_direct_children_only():
    spans = [
        Span("run_stage", "materialize", None, 0.0, 10.0),
        Span("extract_code_mentions", "extract", 0, 1.0, 2.0),
        Span("write:mentions", "extract", 0, 2.0, 9.0),
        Span(layertrace.BOOKKEEPING, "materialize", 2, 6.0, 9.0),
    ]
    assert layertrace.self_times(spans) == pytest.approx(
        {"materialize": 2.0 + 3.0, "extract": 1.0 + 4.0}
    )
    assert layertrace.span_total(spans, "write:") == pytest.approx(7.0)


class FakeContext:
    def __init__(self):
        self.groups = []

    def setJobGroup(self, group, description):
        self.groups.append(group)


def test_tracer_sets_the_innermost_group_and_restores_the_parent():
    sc = FakeContext()
    tr = Tracer(sc)
    with tr.span("run_stage", "materialize"):
        with tr.stage_write("write:nodes", "canonicalize"):
            tr.data_written()
            tr.data_written()  # a second data write opens no second tail
        assert sc.groups[-1] == "materialize"
    assert sc.groups == [
        "bench", "materialize", "canonicalize", "materialize", "canonicalize", "materialize", "bench",
    ]
    assert [s.name for s in tr.spans] == ["run_stage", "write:nodes", layertrace.BOOKKEEPING]
    assert [s.parent for s in tr.spans] == [None, 0, 1]
    assert all(s.end is not None for s in tr.spans)


def test_closing_a_layer_span_returns_to_the_operation_group():
    sc = FakeContext()
    tr = Tracer(sc)
    with tr.span("operation", layertrace.PIPELINE_GROUP):
        with tr.span("codekg.link_edges", "link"):
            pass
        assert sc.groups[-1] == layertrace.PIPELINE_GROUP
    assert sc.groups == ["bench", "pipeline", "link", "pipeline", "bench"]


def test_layer_metrics_emit_every_per_layer_name(log):
    spans = [Span("write:mentions", "extract", None, 0.0, 2.0),
             Span(layertrace.BOOKKEEPING, "materialize", 0, 1.5, 2.0)]
    out = metrics.layer_metrics(log, spans, {"session.start_s": 9.0, "wall_s": 4.0})
    assert list(out) == metrics.PER_LAYER
    assert out["materialize.bookkeeping_share"] == pytest.approx(0.125)
    assert out["extract.jobs"] == 1 and out["pipeline.jobs"] == 3


def test_metric_names_are_well_formed_and_unique():
    names = metrics.END_TO_END + metrics.PER_LAYER
    assert len(names) == len(set(names))
    for name in names:
        assert re.fullmatch(r"[A-Za-z0-9_.-]+", name) and len(name) <= 64, name


def test_frame_digest_ignores_row_and_column_order():
    import pandas as pd

    a = pd.DataFrame({"x": [1, 2], "y": ["a", None]})
    b = pd.DataFrame({"y": [None, "a"], "x": [2, 1]})
    assert workloads.frame_digest(a) == workloads.frame_digest(b)
    c = pd.DataFrame({"x": [1.0, 2.0], "y": ["a", None]})
    assert workloads.frame_digest(a) != workloads.frame_digest(c)

