"""The benchmark's own output checks must fail on corrupted results.

    python3 -m pytest perfbench/test_checks.py -q

Each test first passes a correct result (pinning the run-to-run
reference), then feeds the check a corrupted one.
"""

from __future__ import annotations

import os
import random
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import checks  # noqa: E402


def test_shuffled_cluster_labels_fail():
    labels = [(f"c{i}", f"c{i - i % 3}") for i in range(30)]
    matches = [(f"c{i - i % 3}", f"c{i}") for i in range(30) if i % 3]
    truth = set(matches)
    ref = checks.Reference()
    problems, f1 = checks.check_er(30, 30, labels, matches, truth, ref)
    assert problems == [] and f1 == 1.0

    clusters = [c for _, c in labels]
    random.Random(0).shuffle(clusters)
    shuffled = [(i, c) for (i, _), c in zip(labels, clusters)]
    problems, _ = checks.check_er(30, 30, shuffled, matches, truth, ref)
    assert any("cluster_labels" in p for p in problems)


def test_er_record_count_and_f1_fail():
    labels = [(f"c{i}", f"c{i}") for i in range(4)]
    truth = {("c0", "c1"), ("c2", "c3")}
    problems, f1 = checks.check_er(5, 4, labels, [("c0", "c1")], truth,
                                   checks.Reference())
    assert f1 < 0.99
    assert any("n_records" in p for p in problems)
    assert any("F1" in p for p in problems)


def test_dropped_link_fails():
    texts = {0: "alpha beta", 1: "gamma delta", 2: "alpha beta"}
    source = {10: 0, 11: 1}
    best = [(0, 10, 0.9), (1, 11, 0.95)]
    ref = checks.Reference()
    problems, recall = checks.check_link(best, 0.85, source, texts, ref)
    assert problems == [] and recall == 1.0
    # a left record with the source's exact text also counts as correct
    assert checks.check_link([(2, 10, 0.9), (1, 11, 0.95)], 0.85, source,
                             texts, checks.Reference())[1] == 1.0

    problems, recall = checks.check_link(best[:1], 0.85, source, texts, ref)
    assert any("n_linked" in p for p in problems)
    assert recall == 0.5


def test_sub_threshold_link_fails():
    problems, _ = checks.check_link([(0, 10, 0.5)], 0.85, {10: 0}, {0: "x"},
                                    checks.Reference())
    assert any("below sim" in p for p in problems)


def test_sub_threshold_dedup_pair_fails():
    pairs = [(1, 5, 0.8), (2, 7, 0.6)]
    planted = [(1, 5), (3, 9)]
    ref = checks.Reference()
    problems, recall = checks.check_dedup(pairs, 0.5, planted, ref)
    assert problems == [] and recall == 0.5

    problems, _ = checks.check_dedup(pairs + [(3, 4, 0.49)], 0.5, planted, ref)
    assert any("below jaccard" in p for p in problems)
    assert any("pair_set" in p for p in problems)


def test_unordered_dedup_pair_fails():
    problems, _ = checks.check_dedup([(5, 1, 0.8)], 0.5, [(1, 5)],
                                     checks.Reference())
    assert any("id_a < id_b" in p for p in problems)


@pytest.fixture(scope="module")
def spark():
    from triple_accel_spark.session import get_spark

    s = get_spark("perfbench-tests", master="local[1]", shuffle_partitions=1,
                  extra_conf={"spark.driver.memory": "1g",
                              "spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()


class _Leaky:
    """A workload whose run leaves one persisted frame behind."""

    def run_once(self, spark):
        df = spark.range(10).persist()
        df.count()
        return 0.1, [], 1.0, {}


class _Clean:
    def run_once(self, spark):
        df = spark.range(10).persist()
        df.count()
        df.unpersist(blocking=True)
        return 0.1, [], 1.0, {}


def test_leaked_persisted_frame_fails(spark):
    from run import checked_run

    results: list = []
    checked_run(spark, _Clean(), results)
    assert results[-1][1] == []
    checked_run(spark, _Leaky(), results)
    assert any("leaked" in p for p in results[-1][1])
    spark.catalog.clearCache()
