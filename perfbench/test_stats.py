"""Tests of the benchmark's own arithmetic and of its serial crawl reference
on canned inputs; no Spark session needed.

    python3 -m pytest perfbench/test_stats.py -q
"""

from __future__ import annotations

import json
import os
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import crawlmodel  # noqa: E402
import stats  # noqa: E402
from stats import Span  # noqa: E402


def test_summary_reports_median_with_count():
    assert stats.summary([3.0, 1.0, 2.0, 10.0]) == {"p50": 2.5, "n": 4}
    assert stats.summary([]) == {"p50": None, "n": 0}


def test_failed_share():
    assert stats.failed_share(8, 0) == 0.0
    assert stats.failed_share(8, 2) == 0.25
    with pytest.raises(ValueError):
        stats.failed_share(0, 0)


def test_growth_uses_non_overlapping_windows():
    assert stats.growth([1, 1, 1, 2, 2, 2]) == 2.0
    assert stats.growth([1, 3]) == 3.0  # k shrinks to 1
    assert stats.growth([5]) is None


def test_covered_merges_overlaps_and_clips():
    assert stats.covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert stats.covered([(0, 2), (1, 3), (5, 6)], 2.5, 5.5) == 1.0
    assert stats.covered([], 0, 1) == 0.0


def test_self_time_subtracts_children_once():
    spans = [
        Span("round", 0.0, 10.0, 0, None, "r1"),
        Span("run_round", 1.0, 7.0, 1, 0, "r1"),
        Span("assign_global_seq", 2.0, 3.0, 2, 1, "r1"),
        Span("add_df_to_filter", 2.5, 4.0, 3, 1, "r1"),  # overlaps its sibling
        Span("write_round", 7.0, 9.0, 4, 0, "r1"),
    ]
    st = stats.self_times(spans)
    assert st[0] == pytest.approx(10.0 - 8.0)
    assert st[1] == pytest.approx(6.0 - 2.0)  # children cover [2, 4]
    assert st[2] == pytest.approx(1.0)
    by_name = stats.self_time_by_name(spans, "r1")
    assert by_name["write_round"] == pytest.approx(2.0)
    assert stats.self_time_by_name(spans, "other") == {}


def _event_log() -> list[str]:
    """A minimal Spark event log: two jobs in group r1, one in r2."""
    ev = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0], "Properties": {"spark.jobGroup.id": "r1"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Info": {"Accumulables": [
             {"Name": "time to start Python workers", "Update": 2000},
             {"Name": "time to run Python workers", "Update": 500},
             {"Name": "data sent to Python workers", "Update": 512},
             {"Name": "number of output rows", "Update": 7},
         ]},
         "Task Metrics": {"Executor Run Time": 1500, "JVM GC Time": 100,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 300},
                          "Disk Bytes Spilled": 0}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Info": {},
         "Task Metrics": {"Executor Run Time": 500, "JVM GC Time": 0,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 100},
                          "Disk Bytes Spilled": 64}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3000},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 5000,
         "Stage IDs": [1], "Properties": {"spark.jobGroup.id": "r1"}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 6000},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 7000,
         "Stage IDs": [2], "Properties": {"spark.jobGroup.id": "r2"}},
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 7500},
    ]
    return [json.dumps(e) for e in ev]


def test_event_log_sums_task_metrics_per_job():
    jobs = stats.load_event_log(_event_log())
    assert [j.id for j in jobs] == [0, 1, 2]
    j0 = jobs[0]
    assert (j0.group, j0.submit, j0.end, j0.tasks) == ("r1", 1.0, 3.0, 2)
    assert j0.run_s == pytest.approx(2.0)
    assert j0.gc_s == pytest.approx(0.1)
    assert (j0.shuffle_write_bytes, j0.spill_bytes) == (400, 64)
    assert j0.python == {
        "python.boot_s": pytest.approx(2.0), "python.udf_s": pytest.approx(0.5), "python.bytes_sent": 512.0,
    }


def test_jobs_attribute_to_innermost_span_of_their_group():
    jobs = stats.load_event_log(_event_log())
    spans = [
        Span("round", 0.5, 6.5, 0, None, "r1"),
        Span("write_round", 4.5, 6.2, 1, 0, "r1"),
        Span("round", 6.5, 8.0, 2, None, "r2"),
    ]
    by_span = stats.attribute(jobs, spans, "r1")
    assert {k: [j.id for j in v] for k, v in by_span.items()} == {"round": [0], "write_round": [1]}
    assert [j.id for j in stats.attribute(jobs, spans, "r2")["round"]] == [2]


def test_spark_metrics_driver_gap_and_busy_share():
    jobs = stats.jobs_of(stats.load_event_log(_event_log()), "r1")
    m = stats.spark_metrics(jobs, 0.5, 6.5, cores=4)
    assert m["spark.jobs"] == 2 and m["spark.tasks"] == 2
    # jobs run over [1, 3] and [5, 6] of a 6 s window
    assert m["spark.driver_gap_s"] == pytest.approx(6.0 - 3.0)
    assert m["spark.task_busy_share"] == pytest.approx(2.0 / (6.0 * 4))
    assert set(m) == set(stats.SPARK_METRICS)


def test_phase_windows_are_back_to_back():
    order = ["claim", "links", "dedup_seq", "bloom_add"]
    w = stats.phase_windows(4.0, {"claim": 1.0, "links": 2.0, "bloom_add": 0.5}, order)
    assert w == {"claim": (4.0, 5.0), "links": (5.0, 7.0), "dedup_seq": (7.0, 7.0), "bloom_add": (7.0, 7.5)}
    jobs = stats.load_event_log(_event_log())
    # a job submitted on a boundary belongs to the phase that starts there
    assert [j.id for j in stats.window_jobs(jobs, *w["links"])] == [1]


def test_xxhash64_matches_spark():
    # values of Spark's xxhash64(s), seed 42, for every tail branch of XXH64
    assert crawlmodel.xxhash64("") == -7444071767201028348
    assert crawlmodel.xxhash64("abc") == 1423657621850124518
    assert crawlmodel.xxhash64("h\u00e9llo") == 501425390238239234
    assert crawlmodel.xxhash64("http://h0.x/") == 3781129753469561841
    assert crawlmodel.xxhash64("http://h003.example.test/page/117?a=1&b=2") == 266417513427454305


def test_round_counts_on_a_tiny_web():
    def link(kind, href, offset):
        return {"kind": kind, "text": href, "offset": offset}

    corpus = pd.DataFrame({
        "doc_id": ["http://a.example.test/p/0", "http://a.example.test/p/1"],
        "spans": [
            [link("link_book", "http://evil.test/x", 30), {"kind": "text", "text": "t", "offset": 5},
             link("link_next", "/p/1", 10), link("link_book", "HTTP://A.example.test/p/2?b=2&a=1#f", 20)],
            [link("link_book", "0", 10), link("link_cat", "/p/2?a=1&b=2", 20)],
        ],
    })
    # budget 1: p/0; then p/1 (depth 0) before p/2?a=1&b=2 (depth 1), whose
    # links are all enqueued already; then p/2, not a document; then nothing
    got = crawlmodel.round_counts(corpus, ["http://A.example.test/p/0"], 9, 1, 1, ("example.test",))
    assert got == [[1, 2, 2], [1, 2, 0], [1, 0, 0]]
