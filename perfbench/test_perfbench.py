"""Unit tests for the benchmark's own arithmetic (no Spark session).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench import stamp, stats
from perfbench.probes import parse_metric, stream_totals
from perfbench.workloads import PASSES, WORKLOADS, pass_order

HERE = os.path.dirname(os.path.abspath(__file__))


# -- query_tail_s ------------------------------------------------------


def test_tail_is_eleventh_largest_with_its_percentile_and_count():
    samples = [float(i) for i in range(1, 101)]  # 1..100, shuffled below
    samples = samples[::2] + samples[1::2]
    t = stats.tail(samples)
    assert t["value"] == 90.0  # 91..100 are the ten beyond it
    assert t["percentile"] == 90.0
    assert t["samples"] == 100
    assert sum(1 for s in samples if s > t["value"]) == 10


def test_tail_percentile_follows_sample_count():
    t = stats.tail([1.0] * 30 + [2.0] * 6)
    assert t["samples"] == 36
    assert t["percentile"] == pytest.approx(100 * 26 / 36)
    assert t["value"] == 1.0  # only six samples above 1.0


def test_tail_needs_more_than_ten_samples():
    assert stats.tail([1.0] * 10)["value"] is None
    assert stats.tail([3.0] + [1.0] * 10)["value"] == 1.0


def test_median_and_tail_are_each_the_middle_sample_of_one_query():
    # Sorted samples come in blocks of PASSES per query (when queries do
    # not overlap): both order statistics must sit mid-block.
    for w in WORKLOADS.values():
        n = len(w.items) * PASSES
        assert n % 2 == 1 and n > stats.TAIL_BEYOND
        median_rank, tail_rank = (n + 1) // 2, n - stats.TAIL_BEYOND
        for rank in (median_rank, tail_rank):
            assert (rank - 1) % PASSES == PASSES // 2, (w.name, rank)


# -- fail_frac ---------------------------------------------------------


def test_fail_count_counts_raised_calls_and_every_call_of_a_wrong_query():
    calls = [
        {"query": "a"},
        {"query": "a"},
        {"query": "b", "error": "boom"},
        {"query": "b"},
        {"query": "c"},
        {"query": "c"},
    ]
    assert stats.fail_count(calls, set()) == 1
    assert stats.fail_count(calls, {"c"}) == 3
    assert stats.fail_count(calls, {"b"}) == 2  # a raised call counts once


# -- attribution -------------------------------------------------------


def test_late_stage_is_charged_to_the_query_that_created_it():
    # q1 created stages 0-2, q2 created stages 3-4. Stage 2 reached the
    # store only after q2 had run, so it is read together with q2's.
    cuts = [(2, "q1"), (4, "q2")]
    first_read = [(0, {"stages": 1}), (1, {"stages": 1})]
    second_read = [(4, {"stages": 1}), (2, {"stages": 1}), (3, {"stages": 1})]
    out = stats.attribute(first_read + second_read, cuts)
    assert out == {"q1": {"stages": 3}, "q2": {"stages": 2}}


def test_attribution_skips_segments_that_created_nothing_and_open_records():
    cuts = [(5, "construct"), (5, "final"), (7, "construct")]
    recs = [(5, {"n": 1}), (6, {"n": 1}), (8, {"n": 1})]
    out = stats.attribute(recs, cuts)
    assert out["final"] == {}
    assert out["construct"] == {"n": 2}  # id 8 belongs to a later segment


# -- self time ---------------------------------------------------------


def test_self_time_subtracts_direct_children_only():
    spans = [
        {"id": 0, "name": "query", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "name": "construct", "parent": 0, "start": 0.0, "end": 4.0},
        {"id": 2, "name": "engine.analyze", "parent": 1, "start": 1.0, "end": 2.0},
        {"id": 3, "name": "final", "parent": 0, "start": 4.5, "end": 9.5},
    ]
    assert stats.self_times(spans) == {
        "query": 1.0,
        "construct": 3.0,
        "engine.analyze": 1.0,
        "final": 5.0,
    }


# -- stamps ------------------------------------------------------------


def _stamp(**over):
    base = {
        "git_sha": "a" * 40,
        "source_digest": "d1",
        "nproc": 4,
        "spark": "4.1.2",
        "python": "3.11.7",
        "pandas": "2.2.2",
        "launch": {"SPARK_GRAFT_CPUS": "4", "SPARK_GRAFT_ARTIFACT_CACHE": "fresh"},
        "workload": "relational",
        "seed": 1,
        "seconds": 12,
        "trace": 0,
        "passes": 3,
        "sf_dir": "data/sf0.1",
    }
    return {**base, **over}


def test_stamps_of_two_commits_compare():
    stamp.check_comparable(_stamp(), _stamp(git_sha="b" * 40, source_digest="d2"))


@pytest.mark.parametrize(
    "change",
    [
        {"nproc": 8},
        {"launch": {"SPARK_GRAFT_CPUS": "8", "SPARK_GRAFT_ARTIFACT_CACHE": "fresh"}},
        {"launch": {"SPARK_GRAFT_CPUS": "4", "SPARK_GRAFT_ARTIFACT_CACHE": "persist"}},
        {"spark": "4.0.0"},
        {"pandas": "2.1.0"},
        {"passes": 2},
        {"seed": 2},
        {"workload": "curation"},
    ],
)
def test_stamps_with_different_configurations_are_refused(change):
    with pytest.raises(stamp.StampMismatch):
        stamp.check_comparable(_stamp(), _stamp(**change))


def test_compare_diff_refuses_mismatched_stamps(tmp_path):
    from perfbench import compare

    metrics = {
        m: {"value": 1.0}
        for m in ("setup_s", "pass_s", "query_p50_s", "query_tail_s", "ok_frac", "rss_peak_mb")
    }
    paths = []
    for name, st in (("a", _stamp()), ("b", _stamp(nproc=8)), ("c", _stamp(git_sha="c" * 40))):
        p = tmp_path / f"{name}.json"
        p.write_text(json.dumps({"stamp": st, "result": {"metrics": metrics}}))
        paths.append(str(p))
    assert compare.diff([paths[0]], [paths[1]]) == 3
    assert compare.diff([paths[0]], [paths[2]]) == 0


# -- status-store values ------------------------------------------------


def test_parse_metric_renderings():
    assert parse_metric("1,234", "sum") == 1234
    assert parse_metric(
        "total (min, med, max (stageId: taskId))\n1.5 s (0 ms, 1 ms, 2 ms (stage 1.0: task 3))",
        "timing",
    ) == pytest.approx(1.5)
    assert parse_metric(
        "total (min, med, max (stageId: taskId))\n2.0 MiB (1.0 KiB, ...)", "size"
    ) == pytest.approx(2.0)
    assert parse_metric("total (min, med, max)\n512.0 KiB (...)", "size") == 0.5
    assert parse_metric("total (min, med, max)\n250 ms (...)", "nsTiming") == 0.25


def test_stream_totals_sum_durations_and_take_last_state_per_query():
    ev = [
        {"run": "r1", "trigger_s": 1.0, "add_batch_s": 0.5, "planning_s": 0.1,
         "wal_commit_s": 0.05, "state_rows": 10, "state_mb": 1.0},
        {"run": "r1", "trigger_s": 2.0, "add_batch_s": 1.0, "planning_s": 0.1,
         "wal_commit_s": 0.05, "state_rows": 30, "state_mb": 2.0},
        {"run": "r2", "trigger_s": 1.0, "add_batch_s": 0.5, "planning_s": 0.0,
         "wal_commit_s": 0.0, "state_rows": 5, "state_mb": 0.5},
    ]
    t = stream_totals(ev)
    assert t["streaming.batches"] == 3
    assert t["streaming.trigger_s"] == 4.0
    assert t["streaming.state_rows"] == 35
    assert t["streaming.state_mb"] == 2.5


# -- workloads and the spec --------------------------------------------


def test_seed_orders_a_pass_but_never_changes_its_calls():
    w = WORKLOADS["relational"]
    a, b = pass_order(w, 1, 1), pass_order(w, 2, 1)
    assert a != b and sorted(a) == sorted(b) == sorted(w.items)
    assert pass_order(w, 1, 1) == a


def test_spec_names_every_workload_and_metric_once():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    assert {m["name"] for m in spec["end_to_end"]} == {
        "setup_s", "pass_s", "query_p50_s", "query_tail_s", "ok_frac", "rss_peak_mb",
    }
