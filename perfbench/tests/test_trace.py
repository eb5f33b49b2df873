import time

from perfbench.trace import Span, Tracer, install_module_spans, self_times, union_length


def test_union_length_merges_overlaps():
    assert union_length([]) == 0.0
    assert union_length([(0, 1), (2, 3)]) == 2.0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert union_length([(0, 10), (2, 3), (4, 5)]) == 10.0


def test_self_time_subtracts_covered_child_time():
    spans = [
        Span(0, None, "construct", 0.0, 10.0),
        Span(1, 0, "llm.dedup", 1.0, 6.0),
        Span(2, 1, "width", 2.0, 3.0),
        Span(3, 1, "caching", 2.5, 4.0),  # overlaps its sibling
        Span(4, 0, "graph.components", 7.0, 9.0),
    ]
    st = self_times(spans)
    assert st[0] == 10.0 - 5.0 - 2.0
    assert st[1] == 5.0 - 2.0  # width ∪ caching covers 2.0..4.0
    assert st[2] == 1.0 and st[3] == 1.5 and st[4] == 2.0
    # Self times partition the root's duration, except that the 0.5 s where
    # the two siblings overlap is self time of both.
    assert sum(st.values()) == 10.0 + 0.5


def test_tracer_nests_spans_and_sums_per_name():
    tr = Tracer()
    with tr.span("outer"):
        for _ in range(2):
            with tr.span("inner"):
                time.sleep(0.01)
    outer, a, b = tr.spans
    assert outer.parent is None and a.parent == outer.id and b.parent == outer.id
    totals = tr.module_totals()
    assert totals["inner"][1] == 2 and totals["outer"][1] == 1
    inner_s = (a.end - a.start) + (b.end - b.start)
    assert abs(totals["inner"][0] - inner_s) < 1e-9
    assert abs(totals["outer"][0] - ((outer.end - outer.start) - inner_s)) < 1e-9


def test_module_spans_reach_names_imported_by_value():
    import compss_python_spark.caching as caching
    import compss_python_spark.llm.dedup as dedup
    import compss_python_spark.width as width

    saved = {m: dict(vars(m)) for m in (caching, dedup, width)}
    try:
        tr = Tracer()
        assert install_module_spans(tr, ("caching", "width")) > 0
        # dedup did `from compss_python_spark.caching import release_checkpoint`
        assert dedup.release_checkpoint is caching.release_checkpoint
        assert dedup.ensure_min_partitions is width.ensure_min_partitions
        assert dedup.release_checkpoint.__wrapped__ is saved[caching]["release_checkpoint"]
        caching.register_width_pin(-1)
        caching._WIDTH_PINS.discard(-1)
        assert [s.name for s in tr.spans] == ["caching"]
        # The benchmark's own hygiene calls the unwrapped release hook.
        import inspect

        assert inspect.unwrap(caching.release_width_pins) is saved[caching]["release_width_pins"]
    finally:
        for m, d in saved.items():
            vars(m).update(d)
