import pytest

from dtbench import report
from dtbench.trace import Span, Tracer, covered, self_times


def span(name, start, end, parent=None, op="op0", **kw):
    return Span(name, start, end, parent, op, **kw)


def test_covered_merges_overlaps_and_clips():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5)], 0, 10) == 4
    assert covered([(8, 12)], 0, 10) == 2
    assert covered([(-5, -1), (11, 20)], 0, 10) == 0
    assert covered([(2, 4), (1, 3), (6, 7)], 0, 10) == 4


def test_self_time_subtracts_the_union_of_direct_children():
    spans = [
        span("root", 0, 10),
        span("a", 1, 3, parent=0),
        span("b", 2, 5, parent=0),
        span("c", 8, 12, parent=0),
        span("a.child", 1, 2, parent=1),
    ]
    assert self_times(spans) == pytest.approx([4, 1, 3, 4, 1])


def test_self_time_sums_to_the_root_duration_when_children_nest():
    spans = [
        span("root", 0, 10),
        span("a", 1, 6, parent=0),
        span("a.a", 2, 4, parent=1),
        span("b", 7, 9, parent=0),
    ]
    assert sum(self_times(spans)) == pytest.approx(10)


def test_disabled_tracer_records_nothing():
    tracer = Tracer()
    with tracer.span("x"):
        pass
    assert tracer.spans == []
    assert tracer.wrap(lambda v: v + 1, "f")(1) == 2
    assert tracer.spans == []


def test_enabled_tracer_links_parents_within_an_op():
    tracer = Tracer()
    tracer.enabled, tracer.op = True, "op3"
    inner = tracer.wrap(lambda: None, "inner")
    with tracer.span("outer"):
        inner()
        inner()
    names = [(s.name, s.parent, s.op) for s in tracer.spans]
    assert names == [("outer", None, "op3"), ("inner", 0, "op3"), ("inner", 0, "op3")]
    assert all(s.end >= s.start for s in tracer.spans)


def _op(op, t0, trainer_ms, trainer=True):
    """One synthetic dt_train-shaped operation starting at t0, with
    parents given as offsets within the operation."""
    rows = [
        ("op", 0, 3, None, {"group": "g", "spark": {"input_rows": 10}}),
        ("pipeline.run", 0, 2, 0, {}),
        ("ml.trainer.run", 0, 2, 1,
         {"group": "t", "spark": {"jobs": 5, "executor_run_ms": trainer_ms, "input_rows": 7}}),
        ("config.validate", 0, 0.25, 2, {}),
        ("ml.features.assemble", 0.25, 0.5, 2, {}),
        ("ml.trainer.fit", 0.5, 1.5, 2, {}),
        ("ml.registry.resolve", 1.5, 1.5, 2, {}),
        ("ml.predictor.load", 2, 2.2, 0, {"group": "l", "spark": {"jobs": 3}}),
        ("ml.predictor.transform", 2.2, 2.4, 0, {}),
        ("ml.predictor.exec", 2.4, 3, 0, {"group": "e", "spark": {"jobs": 1, "executor_run_ms": 400}}),
    ]
    if not trainer:
        rows = [r for r in rows if r[3] != 2 and r[0] != "ml.trainer.run"]
        rows = [(n, a, b, None if p is None else 0, kw) for n, a, b, p, kw in rows]
    return [(op, t0 + a, t0 + b, n, p, kw) for n, a, b, p, kw in rows]


def trace_of(*ops):
    """Concatenate synthetic ops, turning parent offsets into indices."""
    spans = []
    for op in ops:
        base = len(spans)
        for op_id, a, b, name, parent, kw in op:
            spans.append(span(name, a, b, None if parent is None else base + parent, op=op_id, **kw))
    return spans


EXTRAS = {"gc_ms": 1, "planning_ms": 2}


def test_layer_metrics_take_the_median_over_timed_ops():
    spans = trace_of(
        _op("setup", 0, 9000), [("setup", 0, 4, "session.get_spark", None, {})],
        _op("op0", 10, 4000), _op("op1", 20, 8000), _op("op2", 30, 6000),
    )
    ops = report.per_op(spans, {o: EXTRAS for o in ("op0", "op1", "op2")})
    got = report.layer_metrics(ops, ["op0", "op1", "op2"], ["setup"], cores=4)
    assert set(got) == set(report.LAYERS)
    assert got["session.get_spark_s"]["value"] == 4
    assert got["ml.trainer.executor_run_ms"]["value"] == 6000
    assert got["ml.trainer.self_s"]["value"] == pytest.approx(0.5)
    assert got["pipeline.self_s"]["value"] == pytest.approx(0.0)
    assert got["ml.predictor.jobs"]["value"] == 4
    assert got["sources.input_rows"]["value"] == 17
    # trainer 2 s - 6000 ms / 4 cores, load 0.2 s, exec 0.6 s - 400 ms / 4
    assert got["spark.sched_gap_ms"]["value"] == pytest.approx(500 + 200 + 500)


def test_layer_metrics_fall_back_to_set_up_ops():
    spans = trace_of(
        _op("setup", 0, 9000), [("setup", 0, 4, "session.get_spark", None, {})],
        _op("op0", 10, 0, trainer=False), _op("op1", 20, 0, trainer=False),
    )
    ops = report.per_op(spans, {o: EXTRAS for o in ("op0", "op1")})
    got = report.layer_metrics(ops, ["op0", "op1"], ["setup"], cores=4)
    assert got["ml.trainer.executor_run_ms"]["value"] == 9000
    assert got["ml.trainer.jobs"]["value"] == 5
    assert got["sources.input_rows"]["value"] == 10


def test_layer_metrics_refuse_an_untouched_layer():
    ops = report.per_op([span("op", 0, 1, op="op0")], {"op0": {"gc_ms": 0, "planning_ms": 0}})
    with pytest.raises(ValueError, match="no traced operation"):
        report.layer_metrics(ops, ["op0"], [], 4)


def test_overhead_is_traced_minus_untraced_median():
    got = report.overhead_metrics([1.1, 1.2, 1.3], [1.0, 1.0, 1.1])
    assert got["trace.overhead_ms"]["value"] == pytest.approx(200)
    assert got["trace.overhead_pct"]["value"] == pytest.approx(20)
