"""Self-tests of the benchmark's own arithmetic and parsers (no Spark).

    python3 -m pytest perfbench -q
"""

import os
import types

import pytest

from perfbench import eventlog, tracing
from perfbench.tracing import Span

CANNED = os.path.join(os.path.dirname(__file__), "testdata", "canned_eventlog.jsonl")


# -- tail percentile --------------------------------------------------


def test_tail_needs_eleven_samples():
    assert tracing.tail_percentile(range(10)) is None
    value, pct, n = tracing.tail_percentile(range(11))
    assert (value, n) == (0, 11)
    assert pct == pytest.approx(100 / 11)


@pytest.mark.parametrize("n", [11, 12, 20, 57, 100, 1000])
def test_tail_leaves_exactly_ten_beyond(n):
    xs = [float(i) for i in range(n)]
    value, pct, count = tracing.tail_percentile(reversed(xs))
    assert count == n
    assert sum(1 for x in xs if x > value) == 10
    assert pct == pytest.approx(100.0 * (n - 10) / n)


def test_tail_of_hundred_is_p90():
    value, pct, _ = tracing.tail_percentile(range(1, 101))
    assert (value, pct) == (90, 90.0)


# -- span self time ---------------------------------------------------


def test_union_length_merges_overlaps_and_skips_empty():
    assert tracing.union_length([]) == 0.0
    assert tracing.union_length([(0, 2), (1, 3), (5, 6), (4, 4)]) == 4.0
    assert tracing.union_length([(0, 10), (2, 3)]) == 10.0


def test_self_time_subtracts_children_and_busy_once():
    root = Span(0, "pipeline.run_encode_job", 0.0, 10.0, None, 1)
    spans = [
        root,
        Span(1, "storage.append_table", 1.0, 4.0, 0, 1),
        Span(2, "lineage.append_lineage", 3.0, 5.0, 0, 1),  # overlaps span 1
        Span(3, "grandchild", 1.5, 2.0, 1, 1),  # not a direct child of root
    ]
    # children cover [1, 5]; the job [4.5, 7] adds [5, 7]; [20, 30] is
    # outside the span and must not count
    busy = [(4.5, 7.0), (20.0, 30.0)]
    assert tracing.self_time(root, spans) == pytest.approx(6.0)
    assert tracing.self_time(root, spans, busy) == pytest.approx(4.0)
    assert tracing.self_time(spans[1], spans) == pytest.approx(2.5)


def test_recorder_nests_spans_and_unwraps():
    mod = types.SimpleNamespace(__name__="engine.fake")
    mod.inner = lambda x: x + 1
    mod.outer = lambda x: mod.inner(x) * 2
    rec = tracing.Recorder()
    seen = []
    rec.wrap(mod, "inner", on_result=lambda span, args, res: seen.append((args, res)))
    rec.wrap(mod, "outer")
    with rec.span("op.encode", op=7):
        assert mod.outer(1) == 4
    rec.unwrap_all()
    assert mod.outer(1) == 4 and len(rec.spans) == 3
    op, outer, inner = rec.spans
    assert (outer.name, inner.name) == ("fake.outer", "fake.inner")
    assert outer.parent == op.id and inner.parent == outer.id
    assert {s.op for s in rec.spans} == {7}
    assert seen == [((1,), 2)]
    assert op.start <= outer.start <= inner.start <= inner.end <= outer.end <= op.end


# -- event-log parser -------------------------------------------------


def test_parser_reads_jobs_groups_and_task_sums():
    log = eventlog.parse(CANNED)
    assert sorted(log.jobs) == [0, 1, 2]
    j0, j1, j2 = log.jobs[0], log.jobs[1], log.jobs[2]
    assert (j0.group, j0.stages, j0.ok) == ("op1", [0, 1], True)
    assert j0.end - j0.start == pytest.approx(2.5)
    assert (j1.group, j1.ok) == ("op2", False)
    assert j2.group is None and j2.end is None  # log cut before its end
    m = log.job_metrics(j0)
    assert m["tasks"] == 3
    assert m["run_ms"] == 1900
    assert m["cpu_ms"] == pytest.approx(1600)
    assert m["gc_ms"] == 12
    assert m["shuffle_write_bytes"] == 4000
    assert m["shuffle_write_ms"] == pytest.approx(6.0)
    assert m["fetch_wait_ms"] == 12
    assert m["spill_bytes"] == 64
    assert m["input_bytes"] == 12000
    assert m["output_bytes"] == 4096
    assert log.job_metrics(j1)["run_ms"] == 100  # failed tasks still ran
    assert [j.id for j in log.jobs_in("op1")] == [0]


def test_parser_reads_rolling_dir_in_index_order(tmp_path):
    lines = open(CANNED).read().splitlines(keepends=True)
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    # job 1 starts in file 2 and ends in file 10: read out of index
    # order ("10" sorts before "2" as text) its end would be lost
    (d / "events_2_local-1").write_text("".join(lines[:10]))
    (d / "events_10_local-1").write_text("".join(lines[10:]))
    (d / "appstatus_local-1").write_text("")
    log = eventlog.parse(str(d))
    assert log.jobs[1].end is not None and not log.jobs[1].ok
    assert log.job_metrics(log.jobs[0])["run_ms"] == 1900
