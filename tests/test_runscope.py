"""RunScope's report, read from Spark's status store: it lists exactly the
jobs started while the scope was open, runs one job per registered skew
frame and none otherwise, and scoping a pipeline adds no Spark job."""

from __future__ import annotations

from pyspark.sql import functions as F

from bigtrees_spark.plans.pipeline import near_dedup_pipeline
from bigtrees_spark.plans.runmeta import RunScope


def _group_jobs(spark, group: str, fn) -> list[int]:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return sorted(sc.statusTracker().getJobIdsForGroup(group))


def test_scoped_pipeline_issues_the_unscoped_job_count(spark, pages):
    def unscoped():
        res = near_dedup_pipeline(pages)
        res.clusters.count()
        res.unpersist()

    def scoped():
        with RunScope(spark, "pipeline") as rs:
            near_dedup_pipeline(pages, rs=rs).clusters.count()

    assert len(_group_jobs(spark, "unscoped-run", unscoped)) == len(
        _group_jobs(spark, "scoped-run", scoped)
    )


def test_report_lists_exactly_the_scopes_jobs(spark, pages):
    spark.range(10).count()  # a job before the scope opens
    out = {}

    def run():
        with RunScope(spark, "pipeline") as rs:
            res = near_dedup_pipeline(pages, rs=rs)
            res.clusters.count()
        out["rs"] = rs

    group = _group_jobs(spark, "report-run", run)
    report = out["rs"].report()
    assert report["job_ids"] == group
    assert not report["truncated"]
    assert {r["job_id"] for r in report["stages"]} <= set(group)
    # job tags ride along with the caller's job group
    assert {r["tag"] for r in report["stages"]} >= {"cc", None}
    assert report["footer"]["scan_end"] >= report["header"]["scan_start"]
    assert [e["stage"] for e in report["skew"]] == ["lsh_bands"]


def test_report_runs_one_job_per_skew_frame(spark):
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    sizes = spark.range(100).groupBy((F.col("id") % 7).alias("k")).agg(
        F.count("*").alias("bsz")
    )
    with RunScope(spark, "skew") as rs:
        n = dag.numTotalJobs()
        rs.report()
        assert dag.numTotalJobs() == n, "report() with no skew frame runs no job"
        rs.skew("a", 5, sizes)
        rs.skew("b", 50, sizes)
        report = rs.report()
        assert dag.numTotalJobs() == n + 2
    assert report["job_ids"] == []  # the report's own jobs are not the run's
    a, b = report["skew"]
    assert (a["stage"], a["n_buckets"], a["n_overcap"], a["max_bucket"]) == ("a", 7, 7, 15)
    assert (b["stage"], b["n_overcap"]) == ("b", 0)
