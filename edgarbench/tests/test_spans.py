"""Self-time arithmetic and span nesting of the trace recorder."""

import threading

from edgarbench.spans import Span, Tracer, by_name, self_times


def _span(i, parent, start, end, name="x"):
    return Span(i, parent, name, start, end, "run", "main")


def test_self_time_subtracts_union_of_children():
    spans = [
        _span(1, None, 0.0, 10.0),
        _span(2, 1, 1.0, 3.0),
        _span(3, 1, 2.0, 5.0),  # overlaps child 2: union [1, 5]
        _span(4, 1, 8.0, 12.0),  # runs past the parent: clipped to [8, 10]
        _span(5, 2, 1.5, 2.5),  # grandchild: counts against child 2 only
    ]
    st = self_times(spans)
    assert st[1] == 10.0 - 4.0 - 2.0
    assert st[2] == 2.0 - 1.0
    assert st[3] == 3.0
    assert st[4] == 4.0
    assert st[5] == 1.0


def test_self_time_without_children_is_duration():
    assert self_times([_span(1, None, 2.0, 2.5)]) == {1: 0.5}


def test_tracer_records_parents_per_thread_and_run_id():
    tr = Tracer("run-7")

    def work():
        with tr.span("client"):
            with tr.span("call"):
                pass

    with tr.span("outer"):
        t = threading.Thread(target=work)
        t.start()
        t.join(timeout=10)
        assert not t.is_alive()
        with tr.span("inner"):
            pass
    spans = {s.name: s for s in tr.spans}
    assert spans["inner"].parent_id == spans["outer"].span_id
    assert spans["call"].parent_id == spans["client"].span_id
    assert spans["client"].parent_id is None  # another thread: no parent
    assert {s.run_id for s in tr.spans} == {"run-7"}
    agg = by_name(tr.spans)
    assert agg["outer"]["count"] == 1
    assert agg["outer"]["self_s"] <= agg["outer"]["total_s"]


def test_disabled_tracer_records_nothing():
    tr = Tracer("r", enabled=False)
    with tr.span("a"):
        pass
    assert tr.wrap("b", lambda: 3)() == 3
    assert tr.spans == []
