"""Event-log and span parsing, self time and op-tail selection, on the
tiny committed fixture log (``fixtures/tiny_eventlog.jsonl``: seven spans,
six jobs, one broadcast-style job without a span property and one job
outside every span)."""

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import tracing as tr  # noqa: E402

MB = 1024 * 1024
FIX = os.path.join(HERE, "fixtures")


@pytest.fixture
def spans():
    return tr.load_spans(os.path.join(FIX, "tiny_spans.jsonl"))


@pytest.fixture
def per_span(spans):
    return tr.read_event_log(os.path.join(FIX, "tiny_eventlog.jsonl"), spans)


def test_stage_tasks_follow_the_span_property(per_span):
    build_a = per_span[2]
    assert (build_a["jobs"], build_a["stages"], build_a["tasks"]) == (1, 1, 2)
    assert build_a["task_ms"] == 500
    assert build_a["gc_ms"] == 10
    assert build_a["input"] == 1500
    sink_a = per_span[3]
    assert (sink_a["jobs"], sink_a["stages"], sink_a["tasks"]) == (1, 2, 2)
    assert sink_a["shuffle_write"] == 2 * MB
    assert sink_a["shuffle_read"] == 2 * MB


def test_untagged_stage_is_placed_by_time(per_span):
    # job 3 carries no span property; it was submitted inside span 5
    build_b = per_span[5]
    assert build_b["jobs"] == 2
    assert build_b["tasks"] == 3
    assert build_b["task_ms"] == 2500
    assert build_b["python_sent"] == 3 * MB
    assert build_b["python_recv"] == 1 * MB
    assert build_b["spill_disk"] == build_b["spill_mem"] == 1 * MB


def test_work_outside_every_span_is_kept_apart(per_span):
    assert per_span[None]["jobs"] == 1
    assert per_span[None]["task_ms"] == 50


def test_without_spans_untagged_work_is_unclaimed():
    per_span = tr.read_event_log(os.path.join(FIX, "tiny_eventlog.jsonl"))
    assert per_span[None]["jobs"] == 2
    assert per_span[5]["jobs"] == 1


def test_layer_table(spans, per_span):
    table = tr.layer_table(spans, per_span, slots=4)
    q = table["queries"]
    assert q["wall_s"] == pytest.approx(4.0)
    assert (q["jobs"], q["tasks"]) == (2, 4)
    assert q["task_s"] == pytest.approx(1.0)
    assert q["slot_idle_s"] == pytest.approx(15.0)
    assert q["shuffle_mb"] == pytest.approx(4.0)
    assert q["build_s"] == pytest.approx(1.0)
    d = table["operators.dedup"]
    assert d["wall_s"] == pytest.approx(6.0)
    assert (d["jobs"], d["tasks"]) == (3, 4)
    assert d["task_s"] == pytest.approx(2.75)
    assert d["slot_idle_s"] == pytest.approx(21.25)
    assert d["build_s"] == pytest.approx(4.0)
    assert d["python_mb"] == pytest.approx(4.0)
    assert d["spill_mb"] == pytest.approx(2.0)
    assert d["write_mb"] == pytest.approx(4.0)
    assert set(table) == {"queries", "operators.dedup"}


def test_self_time(spans):
    kids = tr.children(spans)
    by_id = {s.id: s for s in spans}
    assert tr.self_time(by_id[0], kids[0]) == pytest.approx(0.0)
    assert tr.self_time(by_id[1], kids[1]) == pytest.approx(0.0)
    # op b: 6 s, children cover 4 s + 1.5 s
    assert tr.self_time(by_id[4], kids[4]) == pytest.approx(0.5)
    assert tr.self_time(by_id[2], kids.get(2, [])) == pytest.approx(1.0)


def test_self_time_merges_overlapping_children_and_clips():
    parent = tr.Span(0, "p", 10.0, 20.0, None, "r")
    kids = [
        tr.Span(1, "a", 11.0, 14.0, 0, "r"),
        tr.Span(2, "b", 13.0, 15.0, 0, "r"),   # overlaps a
        tr.Span(3, "c", 19.0, 25.0, 0, "r"),   # runs past the parent
    ]
    assert tr.self_time(parent, kids) == pytest.approx(10.0 - 4.0 - 1.0)


@pytest.mark.parametrize("n, pct, index", [
    (36, 72, 25), (23, 56, 12), (48, 79, 37), (11, 9, 0), (100, 90, 89),
])
def test_tail_percentile_leaves_ten_samples_above(n, pct, index):
    samples = [float(i) for i in range(n)][::-1]
    value, p, count = tr.tail_percentile(samples)
    assert (p, count) == (pct, n)
    assert value == float(index)
    assert sum(1 for s in samples if s > value) >= 10
    # one percentile higher would leave fewer than ten above
    if p < 99:
        import math
        higher = sorted(samples)[math.ceil((p + 1) * n / 100) - 1]
        assert sum(1 for s in samples if s > higher) < 10


def test_tail_percentile_small_runs_fall_back_to_the_median():
    assert tr.tail_percentile([3.0, 1.0, 2.0]) == (2.0, 50, 3)
    with pytest.raises(ValueError):
        tr.tail_percentile([])


def test_tracer_nests_and_dumps(tmp_path):
    t = tr.Tracer("run")
    with t.span("pass", kind="pass"):
        with t.span("op", kind="op", layer="queries"):
            with t.span("build"):
                pass
    assert [s.parent for s in t.spans] == [None, 0, 1]
    assert all(s.end >= s.start for s in t.spans)
    path = tmp_path / "spans.jsonl"
    t.dump(str(path))
    back = tr.load_spans(str(path))
    assert [(s.name, s.parent, s.attrs) for s in back] == [
        ("pass", None, {"kind": "pass"}),
        ("op", 0, {"kind": "op", "layer": "queries"}),
        ("build", 1, {}),
    ]
