"""Span recording and self time per layer."""

import json

import pytest

from perfbench.trace import Tracer, self_times


def test_spans_record_parent_and_run_id(tmp_path):
    tr = Tracer(run_id="r1")
    with tr.span("workload.job"):
        with tr.span("pipeline.run_extraction"):
            pass
        with tr.span("spark.execute"):
            pass
    names = [(s["name"], s["parent"], s["run_id"]) for s in tr.spans]
    assert names == [("workload.job", None, "r1"), ("pipeline.run_extraction", 0, "r1"),
                     ("spark.execute", 0, "r1")]
    assert all(s["end_ns"] >= s["start_ns"] for s in tr.spans)
    path = tmp_path / "t.json"
    tr.write(str(path))
    assert json.loads(path.read_text())["spans"] == tr.spans


def _span(i, name, parent, start, end):
    return {"id": i, "name": name, "parent": parent, "run_id": "r", "start_ns": start, "end_ns": end}


def test_self_time_subtracts_child_coverage_once():
    spans = [
        _span(0, "workload.job", None, 0, 100),
        _span(1, "spark.execute", 0, 10, 50),
        _span(2, "spark.execute", 0, 40, 70),  # overlaps its sibling
        _span(3, "operators.layout.cluster_lines", 2, 45, 55),
    ]
    st = self_times(spans)
    assert st["workload"] == pytest.approx((100 - 60) / 1e9)  # children cover 10..70
    assert st["spark"] == pytest.approx((40 + 30 - 10) / 1e9)
    assert st["operators.layout"] == pytest.approx(10 / 1e9)
