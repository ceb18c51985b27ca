"""Self-tests for the benchmark harness.

    python3 -m pytest perfbench -q

The Spark test makes one tiny run (24 pages, about the size of the sf0.001
corpus) with the event log on; the others need no Spark.
"""

from __future__ import annotations

import json
import os
import random
import re
import time

import pytest

from perfbench import harness
from perfbench.corpus import load_documents
from perfbench.tracing import (
    RssSampler,
    Span,
    Tracer,
    parse_event_log,
    self_time_by_name,
    self_times,
)

ROOT = harness.ROOT
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def test_self_time_subtracts_the_union_of_children():
    spans = [
        Span(0, "root", 0.0, 10.0, None, "r"),
        Span(1, "a", 1.0, 4.0, 0, "r"),
        Span(2, "b", 3.0, 6.0, 0, "r"),  # overlaps a
        Span(3, "c", 8.0, 12.0, 0, "r"),  # runs past its parent: clipped
        Span(4, "a.child", 2.0, 3.0, 1, "r"),
        Span(5, "a", 20.0, 21.0, None, "r"),
    ]
    selfs = self_times(spans)
    assert selfs[0] == pytest.approx(10.0 - 5.0 - 2.0)
    assert selfs[1] == pytest.approx(2.0)
    assert selfs[2] == pytest.approx(3.0)
    assert selfs[3] == pytest.approx(4.0)
    assert selfs[4] == pytest.approx(1.0)
    assert self_time_by_name(spans, selfs)["a"] == pytest.approx(3.0)


def test_tracer_nests_spans_and_writes_them(tmp_path):
    tr = Tracer("run-1")
    with tr.span("outer") as outer:
        with tr.span("inner"):
            pass
        tr.record("replayed", outer.start, outer.start, outer.span_id)
    assert [s.parent for s in tr.spans] == [None, 0, 0]
    assert all(s.run_id == "run-1" for s in tr.spans)
    path = tmp_path / "t" / "trace.json"
    tr.write(str(path), {"k": 1})
    doc = json.loads(path.read_text())
    assert [s["name"] for s in doc["spans"]] == ["outer", "inner", "replayed"]
    assert doc["summary"] == {"k": 1}
    off = Tracer("run-2", enabled=False)
    with off.span("x") as sp:
        assert sp is None
    assert off.spans == []


def test_union_find_kept_docs():
    # components {1,2,3} and {5,6}; docs 0,4,7,8,9 unpaired
    assert harness.kept_by_union_find(10, [(1, 2), (3, 2), (5, 6)]) == 7
    assert harness.kept_by_union_find(3, []) == 3


def test_documents_recover_from_goldens_and_inputs_follow_the_seed():
    docs = load_documents(ROOT)
    assert len(docs) == len({d.key for d in docs}) > 1000
    spec = harness.load_spec()["workloads"]
    for name in spec:
        small = dict(
            spec[name],
            input=dict(spec[name]["input"], rows=200, extract_rows=100, mixed_rows=100),
        )

        def rows(seed):
            parts = harness.build_parts(name, docs, random.Random(seed), small)
            return [r for p in parts for r in p.rows]

        a, b, c = rows(7), rows(7), rows(8)
        assert [(r.url, r.payload) for r in a] == [(r.url, r.payload) for r in b]
        assert [r.url for r in a] != [r.url for r in c]
        assert len({r.url for r in a}) == len(a) == 200


def test_benchmark_json_schema():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert set(bench) == {
        "command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer",
    }
    assert bench["paths"] == ["perfbench"]
    assert isinstance(bench["run_seconds"], int) and 1 <= bench["run_seconds"] <= 60
    assert 2 <= len(bench["workloads"]) <= 8
    assert 1 <= len(bench["end_to_end"]) <= 16
    assert 1 <= len(bench["per_layer"]) <= 128
    names = []
    for w in bench["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200
        assert "\n" not in w["why"]
        names.append(w["name"])
    for m in bench["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    for m in bench["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    for m in bench["end_to_end"] + bench["per_layer"]:
        assert m["better"] in ("higher", "lower")
        assert UNIT.match(m["unit"])
        names.append(m["name"])
    assert all(NAME.match(n) for n in names)
    assert len(names) == len(set(names))
    assert {"name": "setup_s", "unit": "s", "better": "lower"}.items() <= next(
        m for m in bench["end_to_end"] if m["name"] == "setup_s"
    ).items()
    # the harness reports exactly the declared metrics and workloads
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == harness.E2E_UNITS
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == harness.PER_LAYER_UNITS
    assert [w["name"] for w in bench["workloads"]] == list(harness.load_spec()["workloads"])


def test_event_log_parser_on_a_tiny_run(tmp_path):
    """24 pages through render_pages on an event-logging session: the parser
    must find the job, its stages and the rows that reached the kernel."""
    from perfbench.corpus import render_rows, write_rows
    from rust_html2text_spark.operators.render import render_pages
    from rust_html2text_spark.plans.session import get_spark

    rows = render_rows(load_documents(ROOT), random.Random(3), 24, 0.1, 0, 1)
    write_rows(rows, str(tmp_path / "in"), 2, random.Random(3))
    log_dir = tmp_path / "events"
    log_dir.mkdir()
    spark = get_spark(
        app_name="perfbench-selftest",
        master="local[2]",
        extra_conf={
            "spark.local.dir": str(tmp_path / "local"),
            "spark.sql.warehouse.dir": str(tmp_path / "wh"),
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(log_dir),
            "spark.eventLog.compress": "false",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    try:
        with RssSampler(interval_s=0.02) as sampler:
            start = time.time()
            render_pages(spark.read.parquet(str(tmp_path / "in"))).write.parquet(
                str(tmp_path / "out")
            )
            end = time.time()
    finally:
        spark.stop()
    [log] = list(log_dir.iterdir())
    events = parse_event_log(str(log))
    stats = events.window_stats(start, end)
    assert stats["jobs"] >= 1
    assert stats["stage.count"] >= 1
    assert stats["kernel_rows"] == 24
    assert 0 < stats["stage.task_s_p50"] <= stats["stage.task_s_max"]
    assert stats["stage.executor_run_s"] > 0
    assert sampler.peak_mb > 0
