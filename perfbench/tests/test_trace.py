"""Self-time arithmetic and job attribution on synthetic spans."""

from perfbench.trace import Span, Tracer, innermost_span, self_times, span_name, union_length


def _spans():
    # root [0, 10] with children [1, 4] and [3, 6] (overlapping) and
    # [8, 12] (runs past the root's end); grandchild [1.5, 2] of the first
    return [
        Span("root", 0.0, 10.0, -1, "op1"),
        Span("a", 1.0, 4.0, 0, "op1"),
        Span("b", 3.0, 6.0, 0, "op1"),
        Span("c", 8.0, 12.0, 0, "op1"),
        Span("a.child", 1.5, 2.0, 1, "op1"),
    ]


def test_union_length_merges_overlaps():
    assert union_length([(1, 4), (3, 6), (8, 10)]) == 7
    assert union_length([]) == 0
    assert union_length([(2, 2), (5, 4)]) == 0


def test_self_time_is_span_minus_child_coverage():
    st = self_times(_spans())
    # root: 10 - ([1,6] + [8,10]) = 3, child coverage clipped to the root
    assert st[0] == 3.0
    assert st[1] == 2.5  # 3 - 0.5 grandchild
    assert st[2] == 3.0
    assert st[3] == 4.0
    assert st[4] == 0.5


def test_innermost_span_picks_latest_open_span_of_the_op():
    spans = _spans()
    assert innermost_span(spans, 1.7, "op1") == 4
    assert innermost_span(spans, 3.5, "op1") == 2
    assert innermost_span(spans, 7.0, "op1") == 0
    assert innermost_span(spans, 7.0, "op2") == -1


def test_tracer_nests_and_gates():
    t = Tracer()
    f = t.wrap("f", lambda x: x + 1)
    assert f(1) == 2 and t.spans == []  # inactive: nothing recorded
    t.active, t.op = True, "op1"
    g = t.wrap("g", lambda: f(2))
    assert g() == 3
    assert [(s.name, s.parent) for s in t.spans] == [("g", -1), ("f", 0)]
    assert t.spans[1].result == 3
    assert t.overhead > 0


def test_span_names_drop_the_package():
    assert span_name("simple_map_reduce_spark.sources.readers", "load_table") == "sources.load_table"
    assert span_name("simple_map_reduce_spark.catalog", "Catalog.put") == "catalog.Catalog.put"
    assert span_name("simple_map_reduce_spark.plans.sql", "parse") == "plans.sql.parse"
