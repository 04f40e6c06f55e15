"""Tests of the benchmark's own arithmetic (no Spark needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import pytest

import harness
import inputs
from bruteforce import BM25Oracle, contains_phrase, hits_agree, ranking_ok


# --- span self time --------------------------------------------------------------

def test_self_time_without_children_is_duration():
    assert harness.self_time(1.0, 4.0, []) == pytest.approx(3.0)


def test_self_time_subtracts_disjoint_children():
    assert harness.self_time(0.0, 10.0, [(1.0, 2.0), (5.0, 8.0)]) == pytest.approx(6.0)


def test_self_time_counts_overlapping_children_once():
    assert harness.self_time(0.0, 10.0, [(1.0, 4.0), (3.0, 6.0), (6.0, 7.0)]) == pytest.approx(4.0)


def test_self_time_clips_children_to_parent():
    assert harness.self_time(2.0, 6.0, [(0.0, 3.0), (5.0, 9.0), (7.0, 8.0)]) == pytest.approx(2.0)


# --- Spark counts ----------------------------------------------------------------

def test_spark_counts_sums_stages_and_tasks():
    got = harness.spark_counts({1: [10, 11], 2: [12]}, {10: (4, 0), 11: (2, 1), 12: (8, 0)})
    assert got == {"jobs": 2, "stages": 3, "tasks": 15}


def test_spark_counts_shared_stage_counts_once():
    got = harness.spark_counts({1: [10, 11], 2: [11, 12]}, {10: (4, 0), 11: (4, 0), 12: (1, 0)})
    assert got == {"jobs": 2, "stages": 3, "tasks": 9}


def test_spark_counts_skips_stages_that_ran_nothing_or_are_unknown():
    got = harness.spark_counts({1: [10, 11, 12]}, {10: (0, 0), 11: None, 12: (3, 0)})
    assert got == {"jobs": 1, "stages": 1, "tasks": 3}


def test_spark_counts_of_no_jobs():
    assert harness.spark_counts({}, {}) == {"jobs": 0, "stages": 0, "tasks": 0}


class _FakeTracker:
    def __init__(self, groups, jobs, stages):
        self.groups, self.jobs, self.stages = groups, jobs, stages

    def getJobIdsForGroup(self, g):
        return self.groups.get(g, [])

    def getJobInfo(self, j):
        return type("J", (), {"stageIds": self.jobs[j]})()

    def getStageInfo(self, s):
        done, failed = self.stages[s]
        return type("S", (), {"numCompletedTasks": done, "numFailedTasks": failed})()


class _FakeSc:
    def __init__(self, tracker):
        self.tracker = tracker
        self.props = {}
        bus = type("Bus", (), {"waitUntilEmpty": lambda self: None})()
        inner = type("Inner", (), {"listenerBus": lambda self: bus})()
        self._jsc = type("Jsc", (), {"sc": lambda self: inner})()

    def setJobGroup(self, gid, desc):
        self.props["spark.jobGroup.id"] = gid

    def setLocalProperty(self, k, v):
        self.props[k] = v

    def statusTracker(self):
        return self.tracker


def test_tracer_counts_are_inclusive_and_summary_takes_medians():
    tracker = _FakeTracker(
        groups={"perfbench-0": [1], "perfbench-1": [2, 3], "perfbench-2": [4]},
        jobs={1: [10], 2: [20], 3: [30, 31], 4: [40]},
        stages={10: (1, 0), 20: (4, 0), 30: (4, 0), 31: (2, 0), 40: (8, 0)},
    )
    sc = _FakeSc(tracker)
    tr = harness.Tracer(sc, traced=True)
    with tr.span("round"):
        assert sc.props["spark.jobGroup.id"] == "perfbench-0"
        with tr.span("op"):
            assert sc.props["spark.jobGroup.id"] == "perfbench-1"
        assert sc.props["spark.jobGroup.id"] == "perfbench-0"
        with tr.span("op"):
            pass
    assert sc.props["spark.jobGroup.id"] is None
    tr.collect_counts()
    round_span = tr.spans[0]
    assert round_span.counts == {"jobs": 1, "stages": 1, "tasks": 1}
    assert tr.inclusive_counts(round_span) == {"jobs": 4, "stages": 5, "tasks": 19}
    summary = tr.summary()
    assert summary["op"]["calls"] == 2
    assert summary["op"]["jobs"] == 1.5
    assert summary["op"]["tasks"] == 9.0
    assert summary["round"]["jobs"] == 4


def test_untraced_tracer_still_times_spans():
    tr = harness.Tracer(None, traced=False)
    with tr.span("a"):
        pass
    row = tr.summary()["a"]
    assert row["calls"] == 1 and row["median_s"] >= 0
    assert "jobs" not in row


# --- round time ------------------------------------------------------------------

def test_round_seconds_sums_each_calls_median():
    rounds = [
        [("build", 2.0), ("append", 3.0), ("append", 1.0)],
        [("build", 4.0), ("append", 5.0), ("append", 1.0)],
        [("build", 3.0), ("append", 9.0), ("append", 2.0)],
    ]
    # build 3.0, first append 5.0, second append 1.0
    assert harness.round_seconds(rounds) == pytest.approx(9.0)


def test_round_seconds_matches_calls_by_name_not_position():
    rounds = [[("a", 1.0), ("b", 10.0)], [("b", 20.0), ("a", 3.0)]]
    assert harness.round_seconds(rounds) == pytest.approx(2.0 + 15.0)


def test_round_seconds_refuses_rounds_with_different_calls():
    with pytest.raises(ValueError):
        harness.round_seconds([[("a", 1.0)], [("a", 1.0), ("a", 2.0)]])
    with pytest.raises(ValueError):
        harness.round_seconds([])


# --- host sizing -----------------------------------------------------------------

@pytest.mark.parametrize("mb,want", [(2048, "1g"), (15_000, "3g"), (64_000, "4g")])
def test_driver_memory_stays_below_physical(mb, want):
    assert harness.driver_memory(mb) == want


def test_process_age_is_positive():
    assert 0 < harness.process_age_s() < 24 * 3600


# --- inputs and the brute-force checks ------------------------------------------

def test_page_lang_rule():
    assert [inputs.page_lang(i) for i in (0, 44, 45, 48, 49, 50)] == [
        "en", "en", "de", "de", "fr", "en"]


def test_append_ids_are_distinct_seeded_and_beyond_base():
    a = inputs.append_page_ids(7, 3, 50)
    b = inputs.append_page_ids(7, 3, 50)
    flat = [int(i) for ids in a for i in ids]
    assert len(set(flat)) == 150 and min(flat) >= inputs.APPEND_ID_LO
    assert all((x == y).all() for x, y in zip(a, b))


def test_band_thresholds():
    assert inputs.band_of(100, 1000) == "head"
    assert inputs.band_of(50, 1000) == "middle"
    assert inputs.band_of(9, 1000) == "tail"


def test_ranking_ok():
    assert ranking_ok([(3, 2.0, 1), (1, 1.0, 2), (2, 1.0, 3)])
    assert not ranking_ok([(3, 2.0, 1), (2, 1.0, 2), (1, 1.0, 3)])  # tie order
    assert not ranking_ok([(3, 1.0, 1), (1, 2.0, 2)])  # score rises
    assert not ranking_ok([(3, 2.0, 2)])  # ranks start at 1


def test_contains_phrase_and_hits_agree():
    assert contains_phrase("a b c d".split(), ["b", "c"])
    assert not contains_phrase("a b c d".split(), ["c", "b"])
    assert hits_agree([(1, 0.5)], [(1, 0.5000005)])
    assert not hits_agree([(1, 0.5)], [(2, 0.5)])


def test_bm25_oracle_matches_repository_oracle():
    from oracle import bm25_oracle as ref

    texts = ["a b c a", "b c d", "", "a a a e", "c d e f g", "b"]
    corpus = {str(i): t for i, t in enumerate(texts)}
    mine = BM25Oracle(list(range(len(texts))), [t.split() for t in texts])
    assert mine.n_docs == 5 and mine.total_len == 17
    assert mine.sum_df() == sum(len(set(t.split())) for t in texts)
    for q in ("a", "b c", "e g a", "zz"):
        want = [(int(d), s) for d, s, _ in ref.bm25_topk(corpus, {"q": q}, k=10).get("q", [])]
        assert mine.topk(q.split(), 10) == want
    assert sorted(mine.matching(["d", "g"]).tolist()) == [1, 4]
    full = mine.topk(["a", "c"], 10)
    assert mine.topk(["a", "c"], 10, keep=lambda d: d != 0) == [h for h in full if h[0] != 0]
