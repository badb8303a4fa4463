"""The event-log reader on a small recorded log, and span arithmetic.

``data/small_eventlog.jsonl`` was recorded from ``local[2]`` with AQE off
and two shuffle partitions: span 0 ran ``spark.range(0, 1000, 1, 2).count()``,
span 1 a ten-key ``groupBy().count()`` over the same range, and a last job
ran outside any span. Only the job and task events the reader uses were kept.
"""

import os

from perfbench.eventlog import exec_metrics, read_jobs
from perfbench.trace import Span, covered, self_time

LOG = os.path.join(os.path.dirname(__file__), "data", "small_eventlog.jsonl")


def test_jobs_are_attributed_to_spans_by_description():
    jobs = read_jobs(LOG)
    assert {j.id: j.span for j in jobs.values()} == {0: 0, 1: 1, 2: None}
    assert [sorted(j.stages) for j in jobs.values()] == [[0, 1], [2, 3], [4]]


def test_exec_totals_per_span():
    jobs = read_jobs(LOG)
    count = exec_metrics([jobs[0]], jobs[0].start, jobs[0].end, cores=2)
    assert (count["exec.jobs"], count["exec.stages"], count["exec.tasks"]) == (1, 2, 3)
    assert count["exec.shuffle_write_bytes"] == count["exec.shuffle_read_bytes"] == 118
    assert count["exec.input_rows"] == 1000
    assert abs(count["exec.job_s"] - 0.504) < 1e-6 and abs(count["exec.driver_s"]) < 1e-6

    both = exec_metrics([jobs[0], jobs[1]], jobs[0].start, jobs[1].end, cores=2)
    assert (both["exec.jobs"], both["exec.stages"], both["exec.tasks"]) == (2, 4, 7)
    assert both["exec.shuffle_write_bytes"] == both["exec.shuffle_read_bytes"] == 118 + 364
    assert abs(both["exec.job_s"] - (0.504 + 0.289)) < 1e-6
    assert abs(both["exec.driver_s"] - (jobs[1].end - jobs[0].start - 0.793)) < 1e-6


def test_covered_merges_overlaps_and_clips():
    assert covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert covered([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == 2


def test_self_time_subtracts_children():
    spans = [Span(0, "root", None, 0.0, 10.0), Span(1, "a", 0, 1.0, 4.0), Span(2, "b", 0, 3.0, 6.0)]
    assert self_time(spans, spans[0]) == 5.0
    assert self_time(spans, spans[1]) == 3.0
