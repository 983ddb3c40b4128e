"""The one parallelism floor (``session.parallelism_floor``)."""

from __future__ import annotations

from pyspark.sql import functions as F

from polars_genson_spark.session import parallelism_floor


def _job_ids(spark):
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(None))


def test_floor_spreads_a_narrow_scan(spark):
    df = spark.range(0, 1000, 1, numPartitions=1)
    before = _job_ids(spark)
    out = parallelism_floor(df)
    assert _job_ids(spark) == before
    assert out.rdd.getNumPartitions() == (
        spark.sparkContext.defaultParallelism
    )
    assert sorted(r.id for r in out.collect()) == list(range(1000))


def test_floor_runs_no_job_on_a_staged_plan(spark):
    """A plan that already contains an exchange is returned unchanged,
    without asking it for a partition count (under AQE that question
    materialises the shuffle stage while the plan is still being
    built)."""
    df = spark.range(1000).withColumn("k", F.col("id") % 7)
    grouped = df.groupBy("k").agg(F.count(F.lit(1)).alias("n"))
    joined = df.join(grouped, "k")
    for frame in (grouped, joined):
        before = _job_ids(spark)
        assert parallelism_floor(frame) is frame
        assert _job_ids(spark) == before
