"""Span arithmetic on synthetic trees, and the wrappers reaching code
that imported a traced function by name."""

import importlib
import threading

import spans


def _tree(tracer, spec, parent=None):
    """Record a finished span tree; spec is (name, start, end, [children])."""
    name, start, end, kids = spec
    s = spans.Span(name, start, parent, {})
    s.end = end
    tracer.spans.append(s)
    for k in kids:
        _tree(tracer, k, s)
    return s


def test_self_time_is_duration_minus_children():
    t = spans.Tracer()
    root = _tree(
        t,
        ("bench.pass", 0.0, 10.0, [
            ("queries.build", 1.0, 4.0, [("sources.load_table", 2.0, 3.0, [])]),
            ("spark.exec", 5.0, 9.0, []),
        ]),
    )
    got = {s.name: v for s, v in spans.exclusive_times(t.spans, root).items()}
    assert got == {
        "bench.pass": 3.0,
        "queries.build": 2.0,
        "sources.load_table": 1.0,
        "spark.exec": 4.0,
    }
    assert sum(got.values()) == root.duration


def test_concurrent_children_split_the_overlap():
    t = spans.Tracer()
    root = _tree(
        t,
        ("bench.pass", 0.0, 8.0, [
            ("streaming.run_available_now", 1.0, 5.0, []),
            ("streaming.run_cdc_upsert", 3.0, 7.0, []),
        ]),
    )
    got = {s.name: v for s, v in spans.exclusive_times(t.spans, root).items()}
    assert got == {
        "bench.pass": 2.0,
        "streaming.run_available_now": 3.0,
        "streaming.run_cdc_upsert": 3.0,
    }


def test_spans_outside_the_root_are_ignored():
    t = spans.Tracer()
    root = _tree(t, ("bench.pass", 0.0, 2.0, [("spark.exec", 0.5, 1.5, [])]))
    _tree(t, ("spark.exec", 3.0, 4.0, []))
    got = spans.exclusive_times(t.spans, root)
    assert sum(got.values()) == 2.0 and len(got) == 2


def test_thread_spans_take_the_main_thread_parent():
    t = spans.Tracer()
    with t.span("bench.pass") as root:
        th = threading.Thread(target=lambda: t.close(t.open("streaming.run_available_now")))
        th.start()
        th.join(timeout=10)
    assert not th.is_alive()
    child = [s for s in t.spans if s.name == "streaming.run_available_now"]
    assert len(child) == 1 and child[0].parent is root


def test_install_reaches_functions_imported_by_name():
    import spotify_etl_aws_spark.sources.readers as readers
    from spotify_etl_aws_spark.queries import relational

    original = readers.load_table
    t = spans.Tracer()
    try:
        spans.install(t)
        # relational bound ``load_table as t`` when it was imported,
        # before install ran
        assert relational.t is readers.load_table
        assert readers.load_table.__wrapped_original__ is original
    finally:
        wrappers = {id(readers.load_table): original}
        for mod_name, attr, _ in spans.TARGETS:
            mod = importlib.import_module(f"{spans.PKG}.{mod_name}")
            fn = getattr(mod, attr)
            wrappers[id(fn)] = getattr(fn, "__wrapped_original__", fn)
        spans.rebind(wrappers)
