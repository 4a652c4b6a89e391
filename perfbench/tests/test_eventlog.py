"""The event-log fold and the per-layer fold over a tiny committed log.

tiny_eventlog.json holds five jobs: job 0 tagged op 0 and span 1 (two
tasks); job 1 tagged only with span 4, as from a thread other than the
benchmark's; job 2 tagged op 1 and span 3, listing job 1's stage again
(skipped) and running one more; job 3 untagged outside every op; job 4
untagged inside op 1.
"""

from pathlib import Path

import pytest

from perfbench import eventlog
from perfbench.tracing import Op, Span, attribute_jobs, layer_metrics

LOG = Path(__file__).parent / "data" / "tiny_eventlog.json"
T0 = 1_700_000_000.0  # the log's epoch origin, in seconds


@pytest.fixture(scope="module")
def jobs():
    return eventlog.fold(LOG)


def test_fold_counts_per_job(jobs):
    assert sorted(jobs) == [0, 1, 2, 3, 4]
    j0 = jobs[0]
    assert (j0.stages, j0.tasks) == (1, 2)
    assert j0.run_ms == 280
    assert j0.cpu_ns == 230_000_000
    assert j0.gc_ms == 5
    assert j0.input_bytes == 1600
    assert j0.shuffle_write_bytes == 60
    assert j0.task_ms == 300
    assert (j0.submit_ms, j0.end_ms) == (T0 * 1000 + 100, T0 * 1000 + 320)
    assert j0.props == {"perfbench.op": "0", "perfbench.span": "1"}


def test_skipped_stage_stays_with_the_job_that_ran_it(jobs):
    assert (jobs[1].stages, jobs[1].tasks) == (1, 1)
    assert (jobs[2].stages, jobs[2].tasks) == (1, 1)
    assert jobs[3].tasks == 0


OPS = [Op(0, T0, T0 + 0.5, 10), Op(1, T0 + 1.0, T0 + 2.0, 10)]
SPANS = [
    Span("fused.call", T0 + 0.05, T0 + 0.45, None, 0),
    Span("metrics.resolve", T0 + 0.09, T0 + 0.2, 0, 0),
    Span("streaming.call", T0 + 1.0, T0 + 2.0, None, 1),
    Span("validator.validate", T0 + 1.1, T0 + 1.65, 2, 1),
    Span("metrics.resolve", T0 + 1.15, T0 + 1.55, 3, 1),
    Span("store.append", T0 + 1.7, T0 + 1.8, 2, 1),
    Span("store.commit", T0 + 1.9, T0 + 1.95, 2, 1),
]


def test_jobs_attributed_by_span_then_op_tag_then_submission_time(jobs):
    by_op = attribute_jobs(jobs, OPS, SPANS)
    assert [j.job_id for j in by_op[0]] == [0]
    assert sorted(j.job_id for j in by_op[1]) == [1, 2, 4]


def test_layer_metrics(jobs):
    m = layer_metrics(SPANS, OPS, jobs, cores=4, store_files_per_op=3.0,
                      store_bytes_per_kdoc=50.0)
    assert m["spark.jobs_per_op"] == 2.0
    assert m["spark.stages_per_op"] == 1.5
    assert m["spark.tasks_per_op"] == 2.0
    assert m["spark.executor_run_s_per_op"] == pytest.approx(0.29)
    assert m["spark.executor_cpu_s_per_op"] == pytest.approx(0.255)
    assert m["spark.gc_s_per_op"] == pytest.approx(0.0075)
    assert m["spark.input_bytes_per_doc"] == pytest.approx(80.0)
    assert m["spark.shuffle_bytes_per_doc"] == pytest.approx(3.0)
    # op 0: 0.5 s wall, job 0 runs 0.22 s; op 1: 1 s wall, jobs cover
    # [1.2, 1.5] (holding job 4) and [1.6, 1.7]
    assert m["spark.no_job_s_per_op"] == pytest.approx(((0.5 - 0.22) + (1.0 - 0.4)) / 2)
    # 0.6 task-seconds over 1.5 s of wall on 4 cores
    assert m["spark.idle_core_frac"] == pytest.approx(1 - 0.6 / 6)
    assert m["metrics.jobs_per_op"] == 1.0  # jobs 0 and 1, not 2 or 4
    assert m["fused.jobs_per_op"] == 0.5
    assert m["fused.call_s_per_op"] == pytest.approx(0.2)
    assert m["validator.validate_s_per_op"] == pytest.approx(0.275)
    assert m["store.append_s_per_op"] == pytest.approx(0.05)
    assert m["store.commit_s_per_op"] == pytest.approx(0.025)
    assert m["store.calls_per_op"] == 1.0
    assert m["store.files_per_op"] == 3.0
    assert m["store.bytes_per_kdoc"] == 50.0
    # streaming self time: 1 s minus validator, append and commit
    assert m["streaming.self_s_per_op"] == pytest.approx((1.0 - 0.55 - 0.1 - 0.05) / 2)
    assert m["runner.self_s_per_op"] == 0.0  # no runner spans
