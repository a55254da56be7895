from pathlib import Path

import pytest

from spans import Span, Tracer, attribute, covered, parse_event_log, plan_metric, self_time

DATA = Path(__file__).resolve().parent / "data"


def span(i, parent, start, end, name="s"):
    return Span(i, name, parent, 0, start, end)


def test_covered_merges_overlaps_and_clips():
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert covered([(-5, 2), (9, 20)], 0, 10) == 3
    assert covered([], 0, 10) == 0
    assert covered([(1, 2), (1, 2)], 0, 10) == 1


def test_self_time_subtracts_children_once():
    spans = [span(0, None, 0.0, 10.0), span(1, 0, 1.0, 4.0), span(2, 0, 3.0, 6.0),
             span(3, 1, 1.5, 2.0)]
    # children of 0 cover [1, 6]; the grandchild is inside child 1
    assert self_time(spans, spans[0]) == pytest.approx(5.0)
    assert self_time(spans, spans[1]) == pytest.approx(2.5)
    assert self_time(spans, spans[3]) == pytest.approx(0.5)


def test_self_time_clips_children_to_the_parent():
    spans = [span(0, None, 0.0, 2.0), span(1, 0, 1.5, 3.0)]
    assert self_time(spans, spans[0]) == pytest.approx(1.5)


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("x") as s:
        assert s is None
    assert tr.spans == []


def test_tracer_nests_and_tags_the_iteration():
    tr = Tracer(enabled=True)
    tr.iteration = 4
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    outer, inner = tr.spans
    assert (outer.parent, inner.parent) == (None, outer.id)
    assert inner.iteration == 4
    assert outer.start <= inner.start <= inner.end <= outer.end


def test_dump_adds_self_time(tmp_path):
    import json

    tr = Tracer(enabled=True)
    tr.spans = [span(0, None, 0.0, 10.0), span(1, 0, 2.0, 5.0)]
    tr.dump(tmp_path / "spans.json")
    out = json.loads((tmp_path / "spans.json").read_text())
    assert [s["self_s"] for s in out] == [pytest.approx(7.0), pytest.approx(3.0)]


def test_wrap_times_calls_made_through_the_module():
    import types

    mod = types.SimpleNamespace(f=lambda x: x + 1)
    tr = Tracer(enabled=True)
    tr.wrap(mod, "f", "mod.f")
    assert mod.f(1) == 2
    assert [s.name for s in tr.spans] == ["mod.f"]


# The recorded log comes from a local[2] session in which the job group
# "perfbench-0" ran spark.range(0, 1000, 1, 4).groupBy(id % 10).count()
# .collect() (two jobs under AQE: map stage, then result) and the group
# "perfbench-1" ran one noop write of spark.range(100) (one stage).
# data/make_eventlog.py regenerates it.

@pytest.fixture(scope="module")
def log():
    return parse_event_log([DATA / "eventlog_small.json"])


def test_event_log_jobs_carry_their_group(log):
    groups = sorted({j["group"] for j in log.jobs.values()})
    assert groups == ["perfbench-0", "perfbench-1"]
    assert all(j["ok"] for j in log.jobs.values())


def test_event_log_attribution(log):
    starts = [j["start"] for j in log.jobs.values()]
    ends = [j["end"] for j in log.jobs.values()]
    root = Span(0, "agg", None, 0, min(starts) - 1.0, max(ends) + 1.0)
    other = Span(1, "noop", None, 0, min(starts) - 1.0, max(ends) + 1.0)
    spans = [root, other]
    agg = attribute(spans, log, root)
    assert agg["jobs"] >= 1
    assert agg["stages"] >= 2  # partial aggregate, then the final one
    assert agg["shuffle_write_bytes"] > 0
    assert agg["shuffle_read_bytes"] == agg["shuffle_write_bytes"]
    assert agg["failed_tasks"] == 0
    assert agg["task_s"] > 0
    assert 0 < agg["job_s"] < root.seconds
    assert agg["driver_gap_s"] == pytest.approx(root.seconds - agg["job_s"])
    noop = attribute(spans, log, other)
    assert noop["stages"] == 1 and noop["shuffle_write_bytes"] == 0


def test_event_log_sql_metric_by_plan_node(log):
    starts = [j["start"] for j in log.jobs.values()]
    ends = [j["end"] for j in log.jobs.values()]
    root = Span(0, "agg", None, 0, min(starts) - 1.0, max(ends) + 1.0)
    rows = plan_metric([root], log, root, lambda n: n.get("nodeName") == "Range")
    assert rows == 1000
    assert plan_metric([root], log, root, lambda n: n.get("nodeName") == "Nope") is None
