"""Checkpoint hygiene (VERDICT r13 #1): tracked localCheckpoints must
actually free their executor storage on release — ``df.rdd.unpersist()``
never did (it unpersists a fresh deserializing wrapper RDD, not the
persisted one), so these tests assert on the block manager's real
storage list, not on API calls succeeding."""

from __future__ import annotations

import pyspark.sql.functions as F

from fastmlframework_spark.core import checkpoints


def _storage_ids(spark) -> set[int]:
    return {
        i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    }


def test_release_frees_blocks(spark):
    before = _storage_ids(spark)
    ck = checkpoints.checkpoint(
        spark.range(10_000).withColumn("x", F.col("id") * 2), eager=True
    )
    created = _storage_ids(spark) - before
    assert created, "eager checkpoint should pin blocks"
    checkpoints.release(ck)
    assert not (_storage_ids(spark) & created)


def test_release_all_frees_every_tracked_checkpoint(spark):
    before = _storage_ids(spark)
    cks = [
        checkpoints.checkpoint(spark.range(1_000 * (i + 1)), eager=True)
        for i in range(3)
    ]
    lazy = checkpoints.checkpoint(spark.range(500), eager=False)
    lazy.count()  # materialize the lazy one too
    created = _storage_ids(spark) - before
    assert len(created) >= 3
    assert checkpoints.live_count() >= 4
    checkpoints.release_all()
    assert checkpoints.live_count() == 0
    assert not (_storage_ids(spark) & created)
    del cks, lazy


def test_release_is_safe_on_plain_frames(spark):
    df = spark.range(10).withColumn("y", F.lit(1))
    checkpoints.release(df)  # no-op, must not raise
    assert df.count() == 10


def test_release_is_a_no_op_on_untracked_frames(spark):
    """ADVICE r14: release() must free only checkpoints this module
    registered.  A frame over a user-persisted RDD and the user's own
    ``localCheckpoint`` both keep their storage."""
    sc = spark.sparkContext
    rdd = sc.parallelize([(i, float(i)) for i in range(100)], 2).persist()
    rdd.count()
    over_rdd = spark.createDataFrame(rdd, "k long, v double")
    own = spark.range(1_000).localCheckpoint(eager=True)
    held = _storage_ids(spark)
    assert rdd.id() in held
    live = checkpoints.live_count()
    checkpoints.release(over_rdd)
    checkpoints.release(own)
    assert held <= _storage_ids(spark)
    assert checkpoints.live_count() == live
    assert own.count() == 1_000
    rdd.unpersist()


def test_dedup_release_checkpoint_actually_frees(spark):
    from fastmlframework_spark.extensions.dedup import (
        _materialize_release,
        release_checkpoint,
    )

    before = _storage_ids(spark)
    out = _materialize_release(spark.range(5_000).withColumn("z", F.lit(0)))
    created = _storage_ids(spark) - before
    assert created
    release_checkpoint(out)
    assert not (_storage_ids(spark) & created)


def test_cv_engine_releases_fold_table(spark):
    """The fold table must not outlive the metric pass: after a CV
    run, the only live tracked checkpoint is the escaped OOF table
    (owned by the caller / release_all), never the fold table."""
    from fastmlframework_spark.ml.cv import CVPredictor
    from fastmlframework_spark.ml.wrappers import RidgeClosedFormWrapper

    checkpoints.release_all()
    df = spark.range(600).select(
        F.col("id").alias("key"),
        (F.col("id") % 7).cast("double").alias("f1"),
        ((F.col("id") * 3) % 5).cast("double").alias("f2"),
        ((F.col("id") % 7) * 2.0 + ((F.col("id") * 3) % 5)).alias("y"),
    )
    cv = CVPredictor(
        RidgeClosedFormWrapper(scales={"f1": 1, "f2": 1}),
        metric="mean_squared_error",
        k=3,
        stratified=False,
    )
    res = cv.run(df, None, "key", "y", ["f1", "f2"])
    assert res.oof.count() == 600
    # one seed -> exactly the OOF checkpoint may remain tracked
    assert checkpoints.live_count() <= 1
    checkpoints.release_all()
    assert checkpoints.live_count() == 0
