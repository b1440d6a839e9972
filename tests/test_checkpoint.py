"""The one checkpoint primitive (operators/materialize.py): `checkpoint`
materializes a frame and counts it in a single Spark job, and `free`
releases the blocks behind the renamed frame it returned."""

from __future__ import annotations


def _stored_ids(spark) -> set[int]:
    return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def _rdd_id(frame) -> int:
    """The id of the checkpoint RDD behind `frame`'s one LogicalRDD leaf."""
    leaves = frame._jdf.queryExecution().analyzed().collectLeaves()
    assert leaves.size() == 1
    return leaves.apply(0).rdd().id()


def test_checkpoint_counts_rows_in_one_job(spark):
    from datafusion_umami_spark.operators.materialize import checkpoint, free

    sc = spark.sparkContext
    df = spark.range(1000).where("id % 7 = 3").selectExpr("id AS x")
    sc.setJobGroup("test_checkpoint_one_job", "checkpoint")
    try:
        frame, rows = checkpoint(df)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    try:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = sc.statusTracker().getJobIdsForGroup("test_checkpoint_one_job")
        assert rows == 143
        assert len(jobs) == 1, jobs
        assert frame.columns == ["x"]
        assert frame.count() == rows
    finally:
        free(frame, blocking=True)


def test_free_releases_the_renamed_frame(spark):
    from datafusion_umami_spark.operators.materialize import checkpoint, free

    frame, rows = checkpoint(spark.range(500).selectExpr("id * 2 AS v"))
    assert rows == 500
    rdd = _rdd_id(frame)
    assert rdd in _stored_ids(spark)
    # a frame over two checkpoints has no ONE leaf to free: a no-op
    other, _ = checkpoint(spark.range(10).selectExpr("id AS v"))
    free(frame.unionAll(other), blocking=True)
    assert {rdd, _rdd_id(other)} <= _stored_ids(spark)
    free(other, blocking=True)
    free(frame, blocking=True)
    assert rdd not in _stored_ids(spark)
