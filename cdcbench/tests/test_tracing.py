"""Event-log parser and span arithmetic, over a committed event log cut
from a traced email replay: one batch's hot-repo collect (2 jobs), its
envelope write through MapInArrow (3 jobs) and its marks write (2 jobs)."""

import os

import pytest

import tracing

FIXTURE = os.path.join(os.path.dirname(__file__), "eventlog_fixture.jsonl")


@pytest.fixture(scope="module")
def log():
    return tracing.parse_event_log(FIXTURE)


def test_jobs_classified_by_plan(log):
    kinds = {j.id: j.kind for j in log.jobs.values()}
    assert kinds == {9: "other", 10: "other", 11: "extract", 12: "extract",
                     13: "extract", 14: "marks", 15: "marks"}
    assert log.jobs[13].writes == ("file:/work/sink/data/_envelope/batch-1",)
    assert log.jobs[14].writes == ("file:/work/sink/data/_marks/snap-1",)


def test_mapinarrow_metrics(log):
    m = tracing.udf_metrics(log, list(log.jobs.values()), cores=4)
    assert m["udfs.extract_job_s"] == pytest.approx(4.455)
    assert m["udfs.extract_task_run_s"] == pytest.approx(16.503)
    assert m["udfs.extract_idle_share"] == pytest.approx(1 - 16.503 / (4.455 * 4))
    assert m["udfs.python_worker_s"] == pytest.approx(11.168)
    assert m["udfs.arrow_sent_bytes"] == 1337408
    assert m["udfs.arrow_returned_bytes"] == 2737920
    assert m["udfs.output_rows"] == 4216


def test_stage_metrics(log):
    m = tracing.spark_metrics(log, list(log.jobs.values()), wall_s=10.0, cores=4)
    assert (m["spark.jobs"], m["spark.stages"], m["spark.tasks"]) == (7, 7, 26)
    assert m["spark.executor_run_s"] == pytest.approx(17.441)
    assert m["spark.shuffle_write_bytes"] == m["spark.shuffle_read_bytes"] == 286222
    assert m["spark.core_idle_share"] == pytest.approx(1 - 17.441 / 40)
    assert m["spark.task_skew"] > 1


def test_jobs_assigned_to_innermost_span_and_self_time(log):
    jobs = sorted(log.jobs.values(), key=lambda j: j.submit)
    t0 = jobs[0].submit
    run = tracing.Span(0, None, "run", t0 - 100, jobs[-1].end + 100)
    batch = tracing.Span(1, 0, "engine.apply_batch", t0 - 50, jobs[-1].end + 50)
    commit = tracing.Span(2, 1, "sink.commit", log.jobs[14].submit - 10,
                          log.jobs[15].end + 10)
    tracing.assign_jobs(log, [run, batch, commit])
    assert {j.id: j.span for j in jobs} == {9: 1, 10: 1, 11: 1, 12: 1, 13: 1,
                                             14: 2, 15: 2}
    st = tracing.self_times([run, batch, commit])
    assert st[0] == pytest.approx(0.1)
    assert st[1] == pytest.approx(batch.dur_s - commit.dur_s)
    assert st[2] == pytest.approx(commit.dur_s)


def test_union_counts_overlap_once(log):
    j = log.jobs
    assert tracing.union_s([j[9], j[10]]) == pytest.approx(
        (j[9].end - j[9].submit + j[10].end - j[10].submit) / 1000)
    j[10].submit, j[10].end = j[9].submit + 1, j[9].end - 1
    assert tracing.union_s([j[9], j[10]]) == pytest.approx(
        (j[9].end - j[9].submit) / 1000)


def test_tracer_nests_and_keeps_results():
    tr = tracing.Tracer()
    add = tr.wrap("inner", lambda a, b: a + b)
    with tr.span("outer"):
        assert add(1, 2) == 3
    outer, inner = tr.spans
    assert inner.parent == outer.id and inner.attrs["result"] == 3
    assert outer.start <= inner.start <= inner.end <= outer.end
