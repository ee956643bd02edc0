"""Spark-job census of one survey, pinned as a ceiling.

A survey is bound by its Spark jobs and driver round-trips, not by its
data: every question it asks after the encode is answered from the
value census and the collected contingency cells. This runs one
rules_based survey on the planted respondent fixture and counts its
jobs from ``SparkContext.statusTracker()``: the jobs with no group plus
the jobs of the scheme's ``family`` and ``finalize`` groups. A change
that asks the rows again (a second pass over a summary's input, a
re-collect of a driver-built table) raises the count and fails here,
instead of drifting in the benchmark.
"""

from __future__ import annotations

import itertools

from qudo_etl_pipeline_spark import pipeline as P
from tests.fixtures import make_responses

# the count measured on this fixture: the census, the cell collect,
# the quality and random-forest signal metrics, and the sinks
MAX_SURVEY_JOBS = 31


def test_rules_based_survey_job_census(spark, tmp_path, monkeypatch):
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    run_id = 7_000_000
    monkeypatch.setattr(P, "_RUN_COUNTER", itertools.count(run_id))
    responses = spark.createDataFrame(make_responses(n=600, seed=3))
    cfg = P.SegmentationConfig(
        survey_name="census",
        schemes={"q": ["weightgain_", "fin_", "tech_", "psy_", "mc_"]},
        weight_col="weight",
        rules_col="fin_uk_goal_fb_tgt",
        algorithms=("rules_based",),
    )
    sc.setJobGroup("survey-census-baseline", "jobs before the survey")
    spark.range(1).collect()
    (baseline,) = tracker.getJobIdsForGroup("survey-census-baseline")
    # the survey's own jobs on this thread run in no group
    sc.setLocalProperty("spark.jobGroup.id", None)
    try:
        out = P.run_all_segmentations(
            spark, responses, cfg, output_dir=str(tmp_path / "out")
        )
        groups = [
            f"scheme{run_id}:{phase}:rules_based"
            for phase in ("family", "finalize")
        ]
        jobs = [j for j in tracker.getJobIdsForGroup(None) if j > baseline]
        for g in groups:
            jobs += tracker.getJobIdsForGroup(g)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert out["q"]["rules_based"]["labels"] is not None
    assert len(jobs) <= MAX_SURVEY_JOBS, sorted(jobs)
