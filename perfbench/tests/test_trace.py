"""Event-log reader: jobs hang under the span named by their job group,
are classified by call site and output, and a span's self time is its
duration minus the union of its jobs."""

import json
import os

import pytest

from perfbench import trace
from perfbench.run import tail

FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures")


@pytest.fixture()
def traced():
    # recorded on local[4]: span 0 built dsir_log_weights, span 1
    # collected kvstore_lookup_join, span 2 wrote a parquet file, span 3
    # read it back
    with open(os.path.join(FIXTURES, "spans.json")) as fh:
        spans = json.load(fh)
    jobs = trace.attach_jobs(spans, os.path.join(FIXTURES, "eventlog"),
                             action_layers=("suite.exec",))
    return spans, jobs


def test_every_job_hangs_under_its_span(traced):
    spans, jobs = traced
    assert len(jobs) == 19
    assert [len(s["jobs"]) for s in spans] == [9, 5, 2, 3]
    for s in spans:
        for j in s["jobs"]:
            assert s["t0"] - 0.5 <= j["t0"] <= j["t1"] <= s["t1"] + 0.5


def test_jobs_classified_by_call_site_and_output(traced):
    spans, jobs = traced
    by_span = {s["id"]: sorted(j["cls"] for j in s["jobs"]) for s in spans}
    assert by_span[0].count("pin") == 1          # localCheckpoint
    assert by_span[0].count("aqe") == 4          # CompletableFuture
    assert by_span[1] == ["action"] * 5          # the final collect
    assert by_span[2] == ["aqe", "write"]        # bytes written
    assert "action" not in by_span[3]            # not a final action


def test_self_time_is_span_minus_job_union(traced):
    spans, _ = traced
    for s in spans:
        ivs = sorted((max(j["t0"], s["t0"]), min(j["t1"], s["t1"]))
                     for j in s["jobs"])
        covered, end = 0.0, float("-inf")
        for a, b in ivs:
            covered += max(0.0, b - max(a, end))
            end = max(end, b)
        assert s["self_s"] == pytest.approx(s["t1"] - s["t0"] - covered)
        assert 0 <= s["self_s"] <= s["t1"] - s["t0"]


def test_exec_metrics_per_pass(traced):
    spans, jobs = traced
    one = trace.exec_metrics(jobs, spans, passes=1)
    two = trace.exec_metrics(jobs, spans, passes=2)
    assert one["exec.jobs.pin"] == (1.0, "count")
    assert two["exec.tasks"][0] == one["exec.tasks"][0] / 2 == 14
    assert one["exec.driver_gap_s"][0] == pytest.approx(
        sum(s["self_s"] for s in spans))


def test_union_of_overlapping_intervals():
    assert trace._union([(0, 2), (1, 3), (5, 6), (5.5, 5.7)]) == 4


def test_tail_has_ten_samples_beyond_it():
    value, pct, n = tail(list(range(1, 41)))
    assert (value, pct, n) == (30, 75, 40)
    assert sum(x > value for x in range(1, 41)) == 10
    with pytest.raises(ValueError):
        tail(list(range(10)))
