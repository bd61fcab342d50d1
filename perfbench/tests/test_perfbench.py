"""Tests of the benchmark's own machinery (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import random
import sys
from pathlib import Path

import pytest

BENCH = Path(__file__).resolve().parent.parent
ROOT = BENCH.parent
sys.path[:0] = [str(BENCH), str(ROOT)]

import run  # noqa: E402
import workloads as wl  # noqa: E402
from tracing import Span, Tracer, read_event_logs  # noqa: E402


# ------------------------------------------------------------------ digest

ROWS = [(f"k{i}", i % 7 + 1, 0.5 + i / 100, f"https://h/docs/{i}.html")
        for i in range(40)]


def test_digest_is_order_independent():
    shuffled = ROWS[:]
    random.Random(3).shuffle(shuffled)
    assert wl.edge_digest(shuffled) == wl.edge_digest(ROWS)


def test_digest_sees_duplicates_and_field_changes():
    base = wl.edge_digest(ROWS)
    assert wl.edge_digest(ROWS + ROWS[:1]) != base
    k, sup, conf, url = ROWS[5]
    for changed in [(k, sup + 1, conf, url), (k, sup, conf + 0.01, url),
                    (k, sup, conf, url + "x"), (k + "x", sup, conf, url)]:
        assert wl.edge_digest(ROWS[:5] + [changed] + ROWS[6:]) != base


def test_expected_edges_match_library_ground_truth():
    from hades_spark.pipeline.corpus import expected_canonical_triples

    for vocab in (0, 150_000):
        exp = wl.expected_kg(60, seed=5, vocab=vocab)
        assert set(exp.edges) == expected_canonical_triples(60, 5, vocab)
        assert exp.raw_triples == sum(e[0] for e in exp.edges.values())


# ------------------------------------------------------------------- spans

def _tracer(spans):
    tr = Tracer("r", enabled=True)
    tr.spans = [Span(n, a, b, p, "r", op, None) for n, a, b, p, op in spans]
    return tr


def test_self_time_subtracts_union_of_children():
    tr = _tracer([
        ("root", 0.0, 10.0, None, 0),
        ("a", 1.0, 3.0, 0, 0),
        ("b", 2.0, 5.0, 0, 0),   # overlaps a: covered [1, 5]
        ("c", 6.0, 7.0, 0, 0),
        ("leaf", 6.2, 6.5, 3, 0),  # grandchild: not subtracted from root
    ])
    assert tr.self_times() == pytest.approx([5.0, 2.0, 3.0, 0.7, 0.3])


def test_median_self_groups_spans_by_operation():
    tr = _tracer([
        ("x", 0.0, 1.0, None, 0),
        ("x", 1.0, 2.0, None, 0),  # same op: summed -> 2.0
        ("x", 0.0, 5.0, None, 1),
        ("x", 0.0, 3.0, None, 2),
    ])
    assert tr.median_self("x") == 3.0
    assert tr.median_self("missing") == 0.0


def test_recorded_spans_nest_and_disabled_tracer_records_nothing():
    tr = Tracer("r", enabled=True)
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    assert [(s.name, s.parent) for s in tr.spans] == [("outer", None),
                                                      ("inner", 0)]
    off = Tracer("r", enabled=False)
    with off.span("outer"):
        pass
    assert off.spans == []


def test_event_log_attribution(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    (app / "appstatus_local-1").write_text("")

    def task(stage, ms, shuffle=0, gc=0):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Info": {"Launch Time": 0, "Finish Time": ms},
                "Task Metrics": {"JVM GC Time": gc, "Disk Bytes Spilled": 0,
                                 "Shuffle Write Metrics":
                                     {"Shuffle Bytes Written": shuffle}}}

    events = [
        {"Event": "SparkListenerJobStart", "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "r:kg"}},
        {"Event": "SparkListenerJobStart", "Stage IDs": [1, 2],
         "Properties": {"spark.jobGroup.id": "other:kg"}},
        task(0, 10, shuffle=2_000_000, gc=500), task(0, 10), task(0, 40),
        task(1, 5), task(2, 99, shuffle=7_000_000),
    ]
    (app / "events_1_local-1").write_text(
        "\n".join(json.dumps(e) for e in events) + "\n")
    out = read_event_logs(tmp_path, "r")
    assert set(out) == {"kg"}
    assert out["kg"]["shuffle_write_mb"] == pytest.approx(2.0)
    assert out["kg"]["gc_s"] == pytest.approx(0.5)
    assert out["kg"]["task_skew"] == pytest.approx(4.0)


# ---------------------------------------------------------- metric names

def _metrics(spec, section):
    return {m["name"]: {"value": 1.0, "unit": m["unit"]}
            for m in spec[section]}


def test_declared_metrics_validate():
    spec = run.load_spec()
    run.validate_metrics(_metrics(spec, "end_to_end"), spec, trace=False)
    run.validate_metrics(_metrics(spec, "per_layer"), spec, trace=True)


@pytest.mark.parametrize("mutate", [
    lambda m: m.pop("setup_s"),
    lambda m: m.update(extra_s={"value": 1.0, "unit": "s"}),
    lambda m: m["op_s"].update(unit="ms"),
    lambda m: m["op_s"].update(value=float("nan")),
    lambda m: m["op_s"].update(value=True),
])
def test_metric_validation_rejects(mutate):
    spec = run.load_spec()
    metrics = _metrics(spec, "end_to_end")
    mutate(metrics)
    with pytest.raises(ValueError):
        run.validate_metrics(metrics, spec, trace=False)


def test_spec_names_are_well_formed():
    import re

    spec = run.load_spec()
    names = [m["name"] for s in ("end_to_end", "per_layer") for m in spec[s]]
    names += [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    assert all(re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n)
               for n in names)
    workloads = {w["name"] for w in spec["workloads"]}
    for per_workload in (run.WARMUPS, run.MIN_OPS, run.TRACED_PAIRS):
        assert set(per_workload) == workloads
    assert any(m["name"] == "setup_s" for m in spec["end_to_end"])
