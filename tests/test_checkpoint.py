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


def test_release_all_frees_what_loops_return(spark):
    """Each frame a loop operator returns (CC's labels, pagerank's state,
    recursive_cte's delta checkpoints) is held in `_LIVE` under a key of
    its own, so `release_all` leaves none of their checkpoints stored."""
    from pyspark.sql import functions as F

    from datafusion_umami_spark.operators.connected_components import (
        connected_components,
    )
    from datafusion_umami_spark.operators.materialize import release_all
    from datafusion_umami_spark.operators.pagerank import pagerank
    from datafusion_umami_spark.operators.recursive import recursive_cte

    before = _stored_ids(spark)
    ring = spark.createDataFrame(
        [(i, (i + 1) % 6) for i in range(6)], "src long, dst long")
    bidir = ring.unionAll(
        ring.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    seed = spark.range(1).selectExpr("id AS i")
    results = [
        connected_components(ring),
        pagerank(bidir, iterations=2),
        recursive_cte(seed, lambda d: d.where("i < 3").selectExpr("i + 1 AS i"),
                      distinct=False),
    ]
    assert [r.count() for r in results] == [6, 6, 4]
    assert len(_stored_ids(spark) - before) >= 6  # 1 + 1 + 4 leaves
    release_all(blocking=True)
    assert not _stored_ids(spark) - before
