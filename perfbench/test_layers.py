"""Tests of the benchmark's own measurement rules.

    python3 -m pytest perfbench -q

``testdata/replies.json`` holds REST replies (``/jobs``, ``/stages``,
``/sql?details=true``) and one listener progress event recorded from
a session that ran ``mr_wordcount`` and ``stream_wordcount`` with the
job groups the benchmark sets.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import layers  # noqa: E402
from layers import Span  # noqa: E402

MB = 1024 * 1024


@pytest.fixture(scope="module")
def replies():
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "testdata", "replies.json")
    with open(path) as f:
        return json.load(f)


# -- tail percentile ----------------------------------------------------------


def test_tail_leaves_exactly_ten_samples_beyond():
    samples = [float(x) for x in range(30, 0, -1)]  # unsorted on purpose
    value, pct, n = layers.tail(samples)
    assert n == 30
    assert value == 20.0
    assert sum(1 for s in samples if s > value) == 10
    assert pct == pytest.approx(100 * 20 / 30)


def test_tail_with_eleven_samples_is_the_minimum():
    value, pct, n = layers.tail([float(x) for x in range(11)])
    assert (value, n) == (0.0, 11)
    assert pct == pytest.approx(100 / 11)


def test_tail_without_enough_samples_reports_the_maximum_at_100():
    assert layers.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)
    assert layers.tail([1.0] * 10) == (1.0, 100.0, 10)


def test_tail_of_nothing_raises():
    with pytest.raises(ValueError):
        layers.tail([])


def test_tail_percentile_rises_with_the_sample_count():
    _, p50, _ = layers.tail([1.0] * 20)
    _, p90, _ = layers.tail([1.0] * 100)
    assert (p50, p90) == (50.0, 90.0)


# -- spans and self time ------------------------------------------------------


def test_self_time_subtracts_the_union_of_children():
    parent = Span("call", 0.0, 10.0, children=[
        Span("a", 1.0, 3.0), Span("b", 2.0, 5.0), Span("c", 7.0, 8.0),
    ])
    # children cover [1, 5] and [7, 8]: 5 s of the parent's 10
    assert layers.self_time(parent) == pytest.approx(5.0)


def test_self_time_clips_children_to_the_parent():
    parent = Span("action", 0.0, 4.0, children=[Span("job", 3.0, 9.0), Span("job", -2.0, -1.0)])
    assert layers.self_time(parent) == pytest.approx(3.0)


def test_self_time_of_a_leaf_is_its_duration():
    assert layers.self_time(Span("x", 2.0, 2.5)) == pytest.approx(0.5)


def test_attach_nests_by_time_and_self_time_counts_direct_children_only():
    query = Span("query:q", 0.0, 10.0, children=[Span("call", 0.0, 6.0), Span("action", 6.0, 10.0)])
    for child in sorted(
        [Span("batch", 1.0, 4.0), Span("job", 2.0, 3.0), Span("job", 7.0, 9.0), Span("outside", 11.0, 12.0)],
        key=lambda s: s.start,
    ):
        layers.attach([query], child)
    call, action = query.children
    assert [c.name for c in call.children] == ["batch"]
    assert [c.name for c in call.children[0].children] == ["job"]
    assert [c.name for c in action.children] == ["job"]
    assert layers.self_time(call) == pytest.approx(3.0)  # the job sits inside the batch
    assert layers.self_time(call.children[0]) == pytest.approx(2.0)
    assert not any(s.name == "outside" for s in layers.walk(query))


# -- REST replies -------------------------------------------------------------


def test_stage_totals_of_a_job_group(replies):
    t = layers.stage_totals(replies["jobs"], replies["stages"], "query:mr_wordcount")
    # jobs 0-3 ran stages 0, 1, 3 and 6; stages 2, 4 and 5 were skipped
    assert t["jobs"] == 4
    assert t["stages"] == 4
    assert t["tasks"] == 1 + 1 + 4 + 10
    assert t["failed_tasks"] == 0
    assert t["executor_run_s"] == pytest.approx((577 + 506 + 12779 + 5507) / 1e3)
    assert t["executor_cpu_s"] == pytest.approx(
        (77661363 + 492369984 + 1959856048 + 736481627) / 1e9
    )
    assert t["gc_s"] == pytest.approx((15 + 19 + 96 + 152) / 1e3)
    assert t["input_mb"] == pytest.approx(3436 / MB)
    assert t["shuffle_write_mb"] == pytest.approx((83184 + 118281) / MB)
    assert t["shuffle_read_mb"] == pytest.approx((83184 + 118281) / MB)
    assert t["spill_mb"] == 0


def test_stream_batch_jobs_do_not_carry_the_query_job_group(replies):
    # the drain's micro-batch job (5) carries the stream's runId, so
    # the query's group sees only its own two driver-side jobs
    t = layers.stage_totals(replies["jobs"], replies["stages"], "query:stream_wordcount")
    assert (t["jobs"], t["stages"], t["tasks"]) == (2, 2, 5)
    run_id = replies["progress"][0]["runId"]
    assert [j["jobId"] for j in replies["jobs"] if j["jobGroup"] == run_id] == [5]


def test_longest_stage_of_a_group(replies):
    st = layers.longest_stage(replies["jobs"], replies["stages"], "query:mr_wordcount")
    assert st["stageId"] == 3


def test_skew_from_a_task_summary():
    assert layers.skew({"quantiles": [0.5, 1.0], "executorRunTime": [20.0, 50.0]}) == 2.5
    assert layers.skew({"quantiles": [0.5, 1.0], "executorRunTime": [0.0, 3.0]}) == 1.0


@pytest.mark.parametrize(
    "value, expected",
    [
        ("total (min, med, max (stageId: taskId))\n9.2 s (2.3 s, 2.3 s, 2.4 s (stage 3.0: task 3))", 9.2),
        ("total (min, med, max (stageId: taskId))\n228 ms (4 ms, 36 ms, 78 ms (stage 6.0: task 11))", 0.228),
        ("total (min, med, max (stageId: taskId))\n1.5 m (1 ms, 1 ms, 1 ms (stage 1.0: task 1))", 90.0),
        ("total (min, med, max (stageId: taskId))\n148.5 KiB (36.2 KiB, 36.9 KiB, 38.7 KiB (stage 3.0: task 2))", 148.5 / 1024),
        ("0 ms", 0.0),
        ("0.0 B", 0.0),
        ("2.0 GiB", 2048.0),
    ],
)
def test_metric_total(value, expected):
    assert layers.metric_total(value) == pytest.approx(expected)


def test_metric_total_rejects_a_count():
    with pytest.raises(ValueError):
        layers.metric_total("27,165")


def test_python_totals_from_sql_nodes(replies):
    py = layers.python_totals(replies["sql"])
    # two MapInPandas nodes in mr_wordcount; the stream's StateStoreSave
    # node carries the same metric names at zero
    assert py["run_s"] == pytest.approx(9.2 + 4.8)
    assert py["start_s"] == pytest.approx(4.6 + 0.228)
    assert py["sent_mb"] == pytest.approx((148.5 + 480.1) / 1024)
    assert py["returned_mb"] == pytest.approx((359.5 + 4.4) / 1024)


def test_python_totals_of_a_jvm_only_plan_are_zero(replies):
    stream = [e for e in replies["sql"] if e["id"] == 3]
    assert set(layers.python_totals(stream).values()) == {0.0}


# -- listener progress --------------------------------------------------------


def test_streaming_totals_from_a_progress_event(replies):
    st = layers.streaming_totals(replies["progress"])
    assert st == pytest.approx({
        "batches": 1,
        "add_batch_s": 2.207,
        "wal_commit_s": 0.081,
        "commit_offsets_s": 0.322,
        "planning_s": 0.437,
        "input_rows": 500,
        "state_rows": 31,
        "state_mb": 8264 / MB,
        "empty_batch_ratio": 0.0,
    })


def test_streaming_state_is_the_last_batch_of_each_run():
    def batch(run, n, rows, state):
        return {"runId": run, "batchId": n, "numInputRows": rows, "durationMs": {},
                "stateOperators": [{"numRowsTotal": state, "memoryUsedBytes": state * 100}]}

    st = layers.streaming_totals([batch("a", 0, 5, 3), batch("a", 1, 0, 7), batch("b", 0, 4, 2)])
    assert st["batches"] == 3
    assert st["state_rows"] == 7 + 2
    assert st["empty_batch_ratio"] == pytest.approx(1 / 3)
    assert layers.streaming_totals([])["empty_batch_ratio"] == 0.0


def test_stream_batch_span_holds_its_micro_batch_job(replies):
    batch = layers.progress_span(replies["progress"][0])
    assert batch.duration == pytest.approx(3.243)
    job5 = next(s for s in layers.job_spans(replies["jobs"]) if s.name == "job:5")
    call = Span("call", batch.start - 1.0, batch.end + 1.0)
    for child in sorted([batch, job5], key=lambda s: s.start):
        layers.attach([call], child)
    assert call.children == [batch]
    assert [c.name for c in batch.children] == ["job:5"]


def test_rest_time_is_utc():
    assert layers.rest_time("1970-01-01T00:00:01.500GMT") == pytest.approx(1.5)
    assert layers.progress_time({"timestamp": "1970-01-01T00:00:02.250Z"}) == pytest.approx(2.25)
