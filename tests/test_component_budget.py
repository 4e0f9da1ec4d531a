"""Job-count budget guard for the iterative component family (the r11
verdict's Next-round #7): the active-set star contraction +
single-task union-find finisher keeps the q167 build at a BOUNDED
number of Spark jobs.  A regression of the active-set discipline or
the finisher cut (extra contraction rounds, a lost barrier, a
re-enabled full-graph loop) shows up as more jobs LOUDLY here instead
of as silent bench drift.

Measured at HEAD: 22-23 jobs for the cold sf0.01 build (edge recall +
verify + contraction + finisher + label join).  Budget 40 leaves room
for plan-level jitter (AQE subquery jobs vary by a few) while still
catching any O(rounds)-shaped regression — the pre-r11 full-loop path
cost 3-4x more jobs."""

from __future__ import annotations

from oanda_stream_processor_spark import memo
from oanda_stream_processor_spark.operators.textops import (
    q167_winnow_components,
)

JOB_BUDGET = 40


@memo.bypass("star_edges")  # force the true build
def test_q167_cold_build_stays_within_job_budget(spark):
    sc = spark.sparkContext
    try:
        sc.setJobGroup("q167_budget", "component job-count guard")
        (q167_winnow_components(spark, "/root/testdata/sf0.01")
         .write.format("noop").mode("overwrite").save())
        ids = sc.statusTracker().getJobIdsForGroup("q167_budget")
    finally:
        # clear via the local properties, NOT setJobGroup("", "") —
        # the empty STRING is itself a group, and every later job in
        # the session would land in it, blinding any other test that
        # reads the default-group tracker (this broke the eager-
        # registry sweep when the two tests shared one session)
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert 0 < len(ids) <= JOB_BUDGET, \
        f"q167 cold build ran {len(ids)} jobs (budget {JOB_BUDGET})"
