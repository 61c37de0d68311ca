"""Tests for the benchmark's own logic. Run from the checkout root:

    python3 -m pytest perfbench/tests -q

The smoke tests start Spark (about a minute each); the rest are pure
Python.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import types

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import harness, inputs, run, workloads  # noqa: E402
from perfbench.harness import Job, Span  # noqa: E402


def span(name, parent, start, end, op=0, job0=0, job1=0):
    return Span(name, op, parent, start, 1000.0 + start, job0, end, job1)


def test_covered_merges_overlaps_and_clips():
    assert harness.covered_s([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert harness.covered_s([(0, 2), (1, 3), (5, 6)], 2.5, 5.5) == 1
    assert harness.covered_s([], 0, 10) == 0
    assert harness.covered_s([(11, 12)], 0, 10) == 0


def test_self_time_subtracts_direct_children_only():
    spans = [
        span("root", None, 0, 10),
        span("a", 0, 1, 4),
        span("a.inner", 1, 2, 3),
        span("b", 0, 5, 7),
    ]
    assert harness.self_times(spans) == [5, 2, 1, 2]


def test_self_times_sum_to_root_wall():
    spans = [span("root", None, 0, 9), span("a", 0, 0, 4), span("b", 1, 1, 2), span("c", 0, 6, 9)]
    assert sum(harness.self_times(spans)) == pytest.approx(9)


class FakeSC:
    def __init__(self):
        self.props = {}

    def getLocalProperty(self, key):
        return self.props.get(key)

    def setLocalProperty(self, key, value):
        if value is None:
            self.props.pop(key, None)
        else:
            self.props[key] = value

    def setJobGroup(self, group, desc):
        self.props["spark.jobGroup.id"] = group
        self.props["spark.job.description"] = desc


class FakeLedger:
    def __init__(self):
        self.next = 0

    def next_job_id(self):
        return self.next


def test_tracer_counts_jobs_by_id_range_and_restores_group():
    sc, ledger = FakeSC(), FakeLedger()
    tracer = harness.Tracer(types.SimpleNamespace(sparkContext=sc), ledger)
    mod = types.SimpleNamespace()

    def inner():
        assert sc.props["spark.jobGroup.id"] == "layer.inner"
        ledger.next += 2

    def outer():
        ledger.next += 1
        mod.inner()
        ledger.next += 3

    mod.inner, mod.outer = inner, outer
    tracer.wrap(mod, "inner", "layer.inner")
    tracer.wrap(mod, "outer", "layer.outer")
    tracer.op = 7
    mod.outer()
    tracer.unwrap()
    assert mod.inner is inner and mod.outer is outer
    assert sc.props == {}
    outer_span, inner_span = tracer.spans
    assert (outer_span.job0, outer_span.job1) == (0, 6)
    assert (inner_span.job0, inner_span.job1) == (1, 3)
    assert inner_span.parent == 0 and outer_span.parent is None
    assert inner_span.op == outer_span.op == 7

    # six jobs were issued; the status store has lost job 4 (evicted),
    # so a list-length count would say 5 but the id range still says 6
    jobs = {j: Job(1000.0 + j, 1000.5 + j, 2, 0.5, 0.0, 100) for j in (0, 1, 2, 3, 5)}
    roll = harness.span_rollup(tracer.spans, jobs, {7})
    assert roll["layer.outer"]["jobs"] == [6]
    assert roll["layer.inner"]["jobs"] == [2]
    assert roll["layer.outer"]["tasks"] == [10]
    counters = harness.spark_counters(outer_span, jobs, cores=4)
    assert counters["spark.jobs"] == 6
    assert counters["spark.jobs_missing"] == 1


def test_nojob_time_is_wall_outside_job_intervals():
    root = Span("tick", 0, None, start=0.0, epoch=100.0, job0=0, end=10.0, job1=3)
    jobs = {
        0: Job(101.0, 103.0, 4, 6.0, 0.1, 0),
        1: Job(102.0, 104.0, 4, 2.0, 0.0, 0),  # overlaps job 0
        2: Job(108.0, 112.0, 4, 4.0, 0.0, 0),  # runs past the tick's end
    }
    c = harness.spark_counters(root, jobs, cores=4)
    assert c["spark.nojob_s"] == pytest.approx(10 - 3 - 2)
    assert c["spark.task_s"] == pytest.approx(12)
    assert c["spark.busy_ratio"] == pytest.approx(12 / 40)


def test_rollup_reports_zero_for_ops_without_the_span():
    spans = [span("a", None, 0, 1, op=1), span("a", None, 2, 4, op=1), span("a", None, 5, 6, op=3)]
    roll = harness.span_rollup(spans, {}, {1, 2, 3})
    assert roll["a"]["wall_s"] == [3, 0, 1]


def test_benchmark_json_matches_the_metrics_the_code_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(run.E2E)
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == workloads.per_layer_spec()
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(workloads.WORKLOADS)
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names)) and len(spec["per_layer"]) <= 128


def test_tag_feed_is_seeded_and_reseen_posts_come_from_earlier_ticks():
    a, b = inputs.TagFeed(5), inputs.TagFeed(5)
    t0a, t0b = a.next_tick(), b.next_tick()
    assert t0a.pages == t0b.pages and t0a.details == t0b.details
    t1 = a.next_tick()
    per_tick = inputs.PAGES * inputs.POSTS_PER_PAGE
    reseen = round(per_tick * inputs.RESEEN_SHARE)
    assert len(t0a.new_ids) == per_tick and len(t1.new_ids) == per_tick - reseen
    assert min(map(int, t1.new_ids)) > max(map(int, t0a.new_ids))
    html = "".join(t1.pages.values())
    assert sum(i in html for i in t0a.new_ids) == reseen
    assert a.ids_committed == 2 * per_tick - reseen
    assert inputs.TagFeed(6).next_tick().pages != t0a.pages


def test_doc_feed_plants_near_duplicates_of_history():
    feed = inputs.DocFeed(1)
    t0, t1 = feed.next_tick(), feed.next_tick()
    planted = round(inputs.DOCS * inputs.PLANTED_SHARE)
    assert t0.planted == [] and len(t1.planted) == planted
    assert len(t1.originals) == inputs.DOCS - planted
    first = {i: set(t.split()) for i, t in t0.docs}
    texts = dict(t1.docs)
    for d in t1.planted[:20]:
        words = set(texts[d].split())
        assert max(len(words & w) / len(words | w) for w in first.values()) > 0.8


def test_query_tables_are_seeded_and_sized(tmp_path):
    import pyarrow.parquet as pq

    inputs.write_query_tables(str(tmp_path / "a"), 4)
    inputs.write_query_tables(str(tmp_path / "b"), 4)
    inputs.write_query_tables(str(tmp_path / "c"), 5)
    for name, n in inputs.QUERY_ROWS.items():
        a, b, c = (pq.read_table(tmp_path / d / f"{name}.parquet") for d in "abc")
        assert a.num_rows == n and a.equals(b) and not a.equals(c)
    assert set(workloads.QUERIES.values()) <= set(inputs.QUERY_ROWS)


def test_query_pass_layers_split_build_from_exec():
    out = {"timing": {"q1": (3.0, 7, 1.0, 2), "q2": (0.5, 1, 1.5, 4), "q3": (1.0, 0, 1.0, 1)}}
    v = workloads.QueryMix.tick_layers(out, root=None)
    assert v["query.q1.build_s"] == 3.0 and v["query.q1.build_jobs"] == 7
    assert v["query.q2.exec_s"] == 1.5 and v["query.q2.exec_jobs"] == 4
    assert v["plans.build_share"] == pytest.approx(4.5 / 8.0)
    assert v["queries.query_p50_s"] == 2.0
    assert workloads.QueryMix.rows(["docs_decontamination", "part_entity_resolution"], out) == (
        inputs.QUERY_ROWS["documents"] + inputs.QUERY_ROWS["part"]
    )


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_smoke_run_checks_outputs(workload):
    """One timed tick, traced; the tick cost is fixed overhead, so a
    smaller input would not make this faster."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    assert list(result["metrics"]) == [n for n, _, _ in workloads.per_layer_spec()]
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["trace.tick_p50_s"] > 0 and m["spark.jobs"] > 0
    if workload == "stream_dedup":
        assert m["dedup.planted_recall"] >= workloads.RECALL_FLOOR and m["streaming.add_batch_s"] > 0
    elif workload == "hashtag_ingest":
        assert m["merge.posts.table_files"] >= 1 and m["streaming.add_batch_s"] == 0
    else:
        assert m["query.part_entity_resolution.build_jobs"] > 0 and 0 < m["plans.build_share"] < 1
        assert m["merge.read_overlapping.wall_s"] == 0
