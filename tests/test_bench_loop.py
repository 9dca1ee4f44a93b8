"""The one timed-query loop (``bench.timed_runs``) and the per-query
job/stage/task counts of the named-queries mode (``bench.profile_runs``),
exercised on stub queries over ``spark.range`` — no fixture staging."""

from __future__ import annotations

from types import SimpleNamespace

import bench


def _registry(persisted: list):
    def q6(spark, staged_dir):
        return spark.range(10)

    def agg(spark, staged_dir):
        return spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count()

    def cached(spark, staged_dir):
        df = spark.range(100).selectExpr("id * 2 AS v").persist()
        df.count()
        persisted.append(df)
        return df.filter("v > 10")

    return {
        "tpch_q6": SimpleNamespace(fn=q6),
        "stub_agg": SimpleNamespace(fn=agg),
        "stub_cached": SimpleNamespace(fn=cached),
    }


def test_timed_runs_times_each_name_once_per_pass_and_clears_cache(spark):
    persisted: list = []
    names = ["stub_agg", "stub_cached"]
    seen = []
    for name, sec in bench.timed_runs(spark, _registry(persisted), "", names, 2):
        assert sec >= 0
        seen.append(name)
        if name == "stub_cached":
            level = persisted[-1].storageLevel
            assert not (level.useMemory or level.useDisk), "persisted frame outlived its run"
    assert seen == names * 2
    tracker = spark.sparkContext.statusTracker()
    for name in names:
        assert list(tracker.getJobIdsForGroup(name)), f"no jobs tagged {name}"
    # the loop untags on exit: a later job joins no query's group
    tagged = set(tracker.getJobIdsForGroup(names[-1]))
    spark.range(3).count()
    assert set(tracker.getJobIdsForGroup(names[-1])) == tagged


def test_profile_runs_counts_are_stable_across_passes(spark):
    names = ["stub_agg", "stub_cached"]
    out = bench.profile_runs(spark, _registry([]), "", names, 2)
    assert list(out) == names
    for name, runs in out.items():
        assert len(runs) == 2
        (_, jobs, stages, tasks), second = runs
        assert jobs > 0 and stages >= jobs and tasks >= stages
        assert second[1:] == (jobs, stages, tasks), f"{name}: {runs}"
