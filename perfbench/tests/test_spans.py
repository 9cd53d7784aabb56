"""Self-time arithmetic and the tracing wrappers."""

import types

import pytest

import spans
from spans import Span


def _op(children, start=0.0, end=10.0):
    out = [Span("op", start, end, 0, None)]
    for name, lo, hi, parent in children:
        out.append(Span(name, lo, hi, 0, parent))
    return out


def test_self_times_sum_to_op_wall():
    ss = _op(
        [
            ("normalize", 0.5, 2.0, 0),
            ("connected_components", 3.0, 4.5, 0),
            ("cc", 4.5, 5.0, 0),
            ("entities", 6.0, 9.0, 0),
        ]
    )
    t = spans.self_times(ss)
    assert t == pytest.approx([10 - 1.5 - 1.5 - 0.5 - 3.0, 1.5, 1.5, 0.5, 3.0])
    assert sum(t) == pytest.approx(10.0)


def test_layer_times_plus_driver_equal_op_wall():
    ss = _op(
        [
            ("normalize", 0.0, 1.0, 0),
            ("block_token", 1.0, 2.5, 0),
            ("connected_components", 3.0, 4.0, 0),
            ("cc", 4.0, 4.25, 0),
            ("token_df", 5.0, 5.5, 0),
            ("sn_index", 5.5, 6.0, 0),
        ]
    )
    m = spans.layer_times(ss)
    assert m["pipeline.driver_s"] == pytest.approx(10 - 4.75)
    assert m["cc.s"] == pytest.approx(1.25)
    assert m["catalog_state.s"] == pytest.approx(1.0)
    assert sum(m.values()) == pytest.approx(10.0)


def test_nested_and_overlapping_children():
    # a nested child is subtracted from its parent only; overlapping
    # siblings are merged, and a child sticking out of its parent is clipped
    ss = _op(
        [
            ("score", 1.0, 5.0, 0),
            ("edges", 2.0, 3.0, 1),
            ("edges", 2.5, 4.0, 1),
            ("emit", 9.0, 12.0, 0),
        ]
    )
    t = spans.self_times(ss)
    assert t[1] == pytest.approx(4.0 - 2.0)
    assert t[0] == pytest.approx(10.0 - 4.0 - 1.0)


def test_tracer_wraps_records_and_restores():
    calls = []

    def write_stage(df, run_dir, stage, fp):
        calls.append(stage)
        if stage == "outer":
            mod.write_stage(df, run_dir, "inner", fp)
        return types.SimpleNamespace(rows=7, path=f"{run_dir}/{stage}")

    mod = types.SimpleNamespace(write_stage=write_stage)
    tr = spans.Tracer()
    tr.wrap(
        mod, "write_stage",
        lambda df, run_dir, stage, *a, **k: stage,
        lambda span, res: span.attrs.update(rows=res.rows),
    )
    mod.write_stage(None, "d", "untraced", "fp")  # outside an op: no span
    tr.begin_op(3)
    mod.write_stage(None, "d", "outer", "fp")
    op = tr.end_op()
    tr.uninstall()
    assert mod.write_stage is write_stage
    assert calls == ["untraced", "outer", "inner"]
    ss = tr.op_spans(3)
    assert [s.name for s in ss] == ["op", "outer", "inner"]
    assert [s.parent for s in ss] == [None, 0, 1]
    assert ss[2].attrs == {"rows": 7}
    assert ss[0].end == op.end
    assert sum(spans.self_times(ss)) == pytest.approx(op.end - op.start)
    assert 0 <= tr.overhead_s[3] < op.end - op.start


def test_tracer_closes_span_when_call_raises():
    def boom(*a, **k):
        raise RuntimeError("x")

    mod = types.SimpleNamespace(connected_components=boom)
    tr = spans.Tracer()
    tr.wrap(mod, "connected_components", lambda *a, **k: "connected_components")
    tr.begin_op(0)
    with pytest.raises(RuntimeError):
        mod.connected_components()
    tr.end_op()
    assert [s.end > 0 for s in tr.op_spans(0)] == [True, True]


def test_every_stage_maps_to_a_layer():
    from codingchallenge_spark.plans import pipeline

    for stage in pipeline.STAGES + pipeline.DELTA_STAGES:
        assert stage in spans.STAGE_METRIC, stage
