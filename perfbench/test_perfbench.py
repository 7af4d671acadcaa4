"""Tests of the benchmark's own arithmetic.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import statistics
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import eventlog, stats  # noqa: E402
from perfbench.trace import Span, Tracer, op_breakdown, self_time, union_length  # noqa: E402


# -- percentiles and the sample-count rule ----------------------------------

def test_percentile_interpolates_between_ranks():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert stats.percentile(xs, 0) == 1.0
    assert stats.percentile(xs, 100) == 4.0
    assert stats.percentile(xs, 50) == 2.5
    assert stats.percentile(xs, 75) == pytest.approx(3.25)


def test_p75_needs_forty_samples():
    assert stats.samples_beyond(40, 75) == 10
    assert stats.samples_beyond(39, 75) == 9
    assert stats.tail_percentile(39) is None
    assert stats.tail_percentile(40) == 75
    assert stats.tail_percentile(100) == 90
    assert stats.tail_percentile(200) == 95
    assert stats.tail_percentile(1000) == 99


def test_summarize_reports_count_quartiles_and_allowed_tail():
    few = stats.summarize([3.0, 1.0, 2.0])
    assert few["n"] == 3 and few["median"] == 2.0
    assert not any(k.startswith("p") for k in few)
    xs = [float(i) for i in range(1, 41)]
    many = stats.summarize(xs)
    q1, _, q3 = statistics.quantiles(xs, n=4)
    assert (many["q1"], many["q3"]) == (q1, q3)
    assert many["p75"] == pytest.approx(stats.percentile(xs, 75))


def test_run_value_of_a_rate_is_total_work_over_total_time():
    walls = [1.0, 2.0, 4.0]
    rates = [100.0 / w for w in walls]
    assert stats.run_value(rates, "rate") == pytest.approx(300.0 / sum(walls))
    assert stats.run_value(walls, "mean") == pytest.approx(7.0 / 3)
    assert stats.run_value(walls, "median") == 2.0
    with pytest.raises(ValueError):
        stats.run_value(walls, "best")


def test_single_sample_is_its_own_quartiles():
    assert stats.quartiles([7.0]) == (7.0, 7.0, 7.0)
    assert stats.summarize([7.0])["n"] == 1


# -- self time ---------------------------------------------------------------

def test_union_length_merges_overlaps():
    assert union_length([]) == 0.0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert union_length([(0, 10), (2, 3)]) == 10.0


def test_self_time_subtracts_child_coverage_once():
    parent = Span(0, 0, "p", None, 0.0, 10.0)
    kids = [Span(1, 0, "a", 0, 1.0, 4.0), Span(2, 0, "b", 0, 3.0, 6.0),
            Span(3, 0, "c", 0, 9.0, 12.0)]  # overlaps a, runs past the parent
    assert self_time(parent, kids) == pytest.approx(10.0 - 5.0 - 1.0)


def test_breakdown_identity_with_parallel_children():
    root = Span(0, 0, "op", None, 0.0, 10.0)
    spans = [root,
             Span(1, 0, "verify.report", 0, 1.0, 9.0),
             Span(2, 0, "verify.pass", 1, 1.0, 6.0),
             Span(3, 0, "verify.pass", 1, 2.0, 8.0)]
    b = op_breakdown(spans, root)
    assert b["unaccounted"] == pytest.approx(2.0)
    assert b["layers"]["verify.report"] == pytest.approx(1.0)
    assert b["layers"]["verify.pass"] == pytest.approx(11.0)
    assert b["overlap"] == pytest.approx(4.0)
    total = sum(b["layers"].values()) - b["overlap"] + b["unaccounted"]
    assert total == pytest.approx(b["wall"])


def test_tracer_nests_spans_and_ignores_untraced_calls():
    t = Tracer()
    with t.span("outside"):
        pass
    t.active = True
    with t.op("op") as root:
        with t.span("a") as a:
            with t.span("b") as b:
                pass
    assert [s.name for s in t.spans] == ["b", "a", "op"]
    assert b.parent == a.sid and a.parent == root.sid
    assert {s.op for s in t.spans} == {root.sid}


def test_pool_thread_spans_parent_to_the_waiting_call():
    from concurrent.futures import ThreadPoolExecutor

    t = Tracer()
    t.active = True
    with t.op("verify") as root:
        with t.span("verify.report") as report:
            def work():
                with t.span("verify.pass") as sp:
                    return sp
            with ThreadPoolExecutor(2) as pool:
                passes = [f.result() for f in [pool.submit(work), pool.submit(work)]]
    assert all(p.parent == report.sid and p.op == root.sid for p in passes)
    b = op_breakdown(t.spans, root)
    assert b["overlap"] == pytest.approx(
        sum(b["layers"].values()) + b["unaccounted"] - b["wall"])


# -- the contract file -------------------------------------------------------

def test_benchmark_json_matches_the_reported_metrics():
    import json

    from perfbench import layers, run

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == {
        k: unit for k, (unit, _) in run.E2E.items()}
    assert [m["name"] for m in bench["per_layer"]] == list(layers.NAMES)
    assert all(m["unit"] == layers.unit_of(m["name"]) for m in bench["per_layer"])
    assert {w["name"] for w in bench["workloads"]} == set(run.workloads.WORKLOADS)


# -- event log ---------------------------------------------------------------

@pytest.fixture(scope="module")
def tiny_log(tmp_path_factory):
    """Event log of a local[1] session that runs one Arrow UDF job."""
    pytest.importorskip("pyspark")
    from pyspark.sql import SparkSession

    log_dir = str(tmp_path_factory.mktemp("eventlog"))
    spark = (SparkSession.builder.master("local[1]").appName("eventlog-test")
             .config("spark.ui.enabled", "false")
             .config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", f"file://{log_dir}")
             .config("spark.sql.shuffle.partitions", "2")
             .getOrCreate())
    try:
        df = spark.range(1000, numPartitions=2).mapInArrow(
            lambda it: (b for b in it), "id long")
        rows = df.groupBy((df.id % 3).alias("k")).count().collect()
    finally:
        spark.stop()
    return log_dir, rows


def test_eventlog_parser_reads_jobs_tasks_and_python_metrics(tiny_log):
    log_dir, rows = tiny_log
    assert sorted(r["count"] for r in rows) == [333, 333, 334]
    log = eventlog.parse(log_dir)
    assert log.jobs and all(j.end_ms >= j.submit_ms for j in log.jobs)
    assert log.tasks and not any(t.failed for t in log.tasks)
    start = min(j.submit_ms for j in log.jobs) / 1e3
    end = max(j.end_ms for j in log.jobs) / 1e3
    jobs = eventlog.jobs_in(log, [(start, end)])
    assert jobs == log.jobs
    agg = eventlog.aggregate(log, jobs)
    assert agg["jobs"] == len(log.jobs)
    assert agg["tasks"] == len(log.tasks)
    assert agg["failed_tasks"] == 0
    assert agg["executor_run_s"] > 0 and agg["executor_cpu_s"] > 0
    # 1000 longs cross into the Python worker and back
    assert agg["to_python_bytes"] > 8000 and agg["from_python_bytes"] > 8000
    assert agg["py_run_s"] > 0
    assert agg["shuffle_bytes"] > 0
    assert agg["sched_wait_s"] >= 0


def test_eventlog_window_excludes_outside_jobs(tiny_log):
    log = eventlog.parse(tiny_log[0])
    assert eventlog.jobs_in(log, [(0.0, 1.0)]) == []
    assert eventlog.aggregate(log, [])["tasks"] == 0
