"""Degenerate-input behavior (SURVEY §7.4(7): tiny scales, empty
frames, constant columns).  At 100 TB the engine meets every one of
these inside some partition or config — each must degrade cleanly,
never silently corrupt."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from fastmlframework_spark.core.tables import fan_out
from fastmlframework_spark.extensions import dedup as xdedup
from fastmlframework_spark.ml.folds import with_fold_column
from fastmlframework_spark.operators.asof import asof_join, range_join
from fastmlframework_spark.operators.transforms import one_hot_columns


def test_fold_assignment_more_folds_than_rows(spark):
    df = spark.createDataFrame([(1,), (2,)], "key long")
    folded = with_fold_column(df, "key", k=5, seed=1)
    rows = folded.collect()
    assert len(rows) == 2
    assert all(0 <= r.fold < 5 for r in rows)
    assert len({r.fold for r in rows}) == 2  # spread, not piled up


def test_fold_assignment_single_row(spark):
    df = spark.createDataFrame([(1,)], "key long")
    assert with_fold_column(df, "key", k=3, seed=1).count() == 1


def test_one_hot_empty_column_list(spark):
    df = spark.createDataFrame([(1, "a")], "id long, c string")
    out = one_hot_columns(df, [])
    assert out.columns == df.columns


def test_one_hot_all_null_column(spark):
    df = spark.createDataFrame(
        [(1, None), (2, None)], "id long, c string"
    )
    out = one_hot_columns(df, ["c"])
    assert out.columns == df.columns  # no categories -> no new columns


def test_asof_join_empty_right(spark):
    left = spark.createDataFrame([(1, 10, "e")], "k long, ts long, ev string")
    right = spark.createDataFrame([], "k long, rts long, pay string")
    rows = asof_join(left, right, ["k"], "ts", "rts").collect()
    assert len(rows) == 1 and rows[0].pay_asof is None


def test_range_join_empty_sides(spark):
    left = spark.createDataFrame([], "k long, ts timestamp, a long")
    right = spark.createDataFrame([], "k long, rts timestamp, b long")
    assert range_join(left, right, ["k"], "ts", "rts", 0, 60).count() == 0


def test_connected_components_empty_edges(spark):
    edges = spark.createDataFrame([], "key_a long, key_b long")
    assert xdedup.connected_components(edges).count() == 0


def test_exact_dedup_all_identical(spark):
    df = spark.createDataFrame(
        [(i, "same text") for i in range(10)], "doc_id long, text string"
    )
    out = xdedup.exact_dedup(df).collect()
    assert len(out) == 1
    assert out[0].doc_id == 0 and out[0].n_copies == 10


def test_ngram_jaccard_single_doc_no_pairs(spark):
    df = spark.createDataFrame([(1, "only one document here")],
                               "doc_id long, text string")
    assert xdedup.ngram_jaccard_pairs(df, threshold=0.1).count() == 0


def test_histogram_constant_column(spark):
    from fastmlframework_spark.data_vis import prepare_feature_histogram

    df = spark.createDataFrame([(5.0,)] * 4, "x double")
    rows = prepare_feature_histogram(df, "x", n_bins=10).collect()
    assert len(rows) == 1 and rows[0].n == 4  # zero range -> one bin


def test_feature_vs_target_rejects_bad_range(spark):
    from fastmlframework_spark.data_vis import prepare_feature_vs_target

    df = spark.createDataFrame([(1.0, "a")], "x double, y string")
    with pytest.raises(ValueError, match="val_max"):
        prepare_feature_vs_target(df, "x", "y", val_min=5.0, val_max=5.0)


def test_composed_ann_rungs_tiny_corpus(spark):
    """Corpora smaller than n_clusters must not crash any composed
    rung: lloyd_centers clamps k_eff = min(k, n), cell ids stay valid,
    and with query == corpus each query's top-1 is its nearest OTHER
    vector (self excluded).  Also pins the r9 coalesce(-1) cell path
    on a frame Catalyst fully constant-folds."""
    from fastmlframework_spark.extensions import similarity as xsim

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0, 0.0]),
        (2, [0.0, 0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    for fn, kw in (
        (xsim.ivf_topk, {}),
        (xsim.ivfsq8_topk, {"refine": 2}),
        (xsim.ivfhamming_topk, {"refine": 2}),
    ):
        out = {
            r["query_id"]: r["vec_id"]
            for r in fn(
                df, df, k=1, n_clusters=8, n_probe=8, **kw
            ).collect()
        }
        assert out[0] == 1 and out[1] == 0, (fn.__name__, out)


def test_sq8_encode_constant_dimension(spark):
    """A constant dimension has zero range — the 1e-30 step floor must
    keep codes finite and the dequantized value within the clamp, not
    divide by zero or overflow the byte pack."""
    from fastmlframework_spark.extensions import similarity as xsim

    rows = [(i, [0.5, float(i)]) for i in range(4)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    c = xsim.normalize(df, "embedding", "cv").select("vec_id", "cv")
    enc = xsim.sq8_encode(c, 2)
    vals = enc.collect()
    assert len(vals) == 4
    for r in vals:
        for w in r["__packed"]:
            assert 0 <= w < (1 << 56)


def test_fan_out_rejects_non_positive_min_partitions(spark):
    """ADVICE r14: min_partitions=0 used to turn the fan-out off
    silently; a non-positive target is a caller error."""
    df = spark.range(0, 40, 1, 1)
    for bad in (0, -2):
        with pytest.raises(ValueError, match="min_partitions"):
            fan_out(df, bad)
    assert fan_out(df, 3).rdd.getNumPartitions() == 3
    assert fan_out(df, 1) is df
