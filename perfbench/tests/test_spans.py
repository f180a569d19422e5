"""The tail-percentile rule, span parent links and self-time arithmetic."""

import pytest

from spans import Span, Tracer, self_time_by_name, self_times, tail


def test_tail_is_highest_percentile_with_ten_samples_beyond():
    samples = [float(i) for i in range(1, 101)]  # 1..100, shuffled below
    samples = samples[50:] + samples[:50]
    pct, value = tail(samples)
    assert (pct, value) == (90.0, 90.0)
    assert sum(s > value for s in samples) == 10


def test_tail_needs_more_than_ten_samples():
    assert tail([1.0] * 10) is None
    pct, value = tail([float(i) for i in range(11)])
    assert value == 0.0 and pct == pytest.approx(100 / 11)


def test_spans_link_to_their_parent_and_share_the_run_id():
    tr = Tracer("run-7", enabled=True)
    with tr.span("run") as run_id:
        with tr.span("op") as op_id:
            with tr.span("build"):
                pass
            with tr.span("execute"):
                pass
        with tr.span("check"):
            pass
    by_name = {s.name: s for s in tr.spans}
    assert by_name["run"].parent is None and by_name["run"].id == run_id
    assert by_name["op"].parent == run_id and by_name["op"].id == op_id
    assert by_name["build"].parent == op_id and by_name["execute"].parent == op_id
    assert by_name["check"].parent == run_id
    assert {s.run for s in tr.spans} == {"run-7"}
    assert all(s.start <= s.end for s in tr.spans)


def test_disabled_tracer_records_nothing():
    tr = Tracer("r", enabled=False)
    with tr.span("op") as sid:
        tr.add("stream_batch", 0.0, 1.0, sid)
    assert sid is None and tr.spans == []


def test_self_time_subtracts_the_union_of_children():
    spans = [
        Span(1, "op", 0.0, 10.0, None, "r", {}),
        Span(2, "build", 1.0, 3.0, 1, "r", {}),
        # two overlapping children (stream batches) cover 4..8 once
        Span(3, "stream_batch", 4.0, 7.0, 1, "r", {}),
        Span(4, "stream_batch", 6.0, 8.0, 1, "r", {}),
        # a grandchild counts against its parent only
        Span(5, "fit", 1.5, 2.5, 2, "r", {}),
        # a child sticking out of its parent is clipped to it
        Span(6, "late", 9.5, 11.0, 1, "r", {}),
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10 - 2 - 4 - 0.5)
    assert st[2] == pytest.approx(2 - 1)
    assert st[5] == pytest.approx(1.0)
    by_name = self_time_by_name(spans)
    assert by_name["stream_batch"] == pytest.approx(3 + 2)
