"""The corpus model fit. The span path's pass 1 emits each partition's
pool as kernels/clustering.count_values pairs, and the driver fits
kernels/clustering.fit_pooled_centers over ``np.repeat`` of them. These
tests check that this gives the pooled fit of
operators/model.fit_column_model_pooled: seeded pools with ties, NaN,
±inf, ±0 and near-overflow centers, a single value and an empty pool, at
dist_thresh 0 and > 0, each permuted and split into random partitions.
The property test is Spark-free; two Spark tests check
fit_column_model_pooled itself: the same model on the same pools, and
one job with no cache."""

import warnings

import numpy as np
import pytest

from pdftabextract_spark.kernels.clustering import (
    count_values, fit_pooled_centers)

THRESHOLDS = (0.0, 0.5, 1.0, 5.0, 40.0)


def _pool(rng):
    """A normalized-center-like pool: a few column offsets with heavy ties
    and jitter, or a handful of special values."""
    n = int(rng.integers(0, 80))
    if rng.random() < 0.3:
        return rng.choice([0.0, -0.0, 1.0, 2.5, 30.0, 31.0, 100.0,
                           1.7e308, np.nan, np.inf, -np.inf], n)
    pool = rng.choice([0.0, 120.0, 260.5, 401.25], n) \
        + rng.integers(-8, 9, n) / 2.0
    if n and rng.random() < 0.3:
        pool[rng.integers(0, n, 3)] = np.nan
    return pool


def _cut(rng, values):
    cuts = np.sort(rng.integers(0, len(values) + 1, int(rng.integers(0, 4))))
    return np.split(values, cuts)


def _pairs(rng, pool):
    """``pool`` permuted and cut into partitions, each counted as pass 1
    counts it; the partitions' pairs concatenated as the driver collects
    them."""
    parts = [count_values(p) for p in _cut(rng, rng.permutation(pool))]
    return tuple(np.concatenate(p) for p in zip(*parts))


def _outcome(fn):
    try:
        with warnings.catch_warnings():
            warnings.simplefilter("ignore", RuntimeWarning)
            return fn()
    except ValueError as e:
        return type(e).__name__


def _same(a, b):
    """Equal outcomes: the same exception, or models equal value by value
    with NaN = NaN and the sign of every zero."""
    if isinstance(a, str) or isinstance(b, str):
        return a == b
    return a.dtype == b.dtype and a.shape == b.shape \
        and np.array_equal(a, b, equal_nan=True) \
        and np.array_equal(np.signbit(a), np.signbit(b))


def _bits(values):
    return np.sort(np.asarray(values, dtype=float).view(np.int64))


@pytest.mark.parametrize("seed", range(4))
def test_pairs_fit_equals_pooled_fit(seed):
    rng = np.random.default_rng(seed)
    for _ in range(150):
        pool = _pool(rng)
        thresh = float(rng.choice(THRESHOLDS))
        n_cols = int(rng.integers(1, 8))
        expanded = np.repeat(*_pairs(rng, pool))
        assert np.array_equal(_bits(expanded), _bits(pool)), pool.tolist()
        want = _outcome(lambda: fit_pooled_centers(pool, n_cols, thresh))
        got = _outcome(lambda: fit_pooled_centers(expanded, n_cols, thresh))
        assert _same(got, want), (pool.tolist(), thresh, n_cols, got, want)


@pytest.mark.parametrize("thresh", THRESHOLDS)
@pytest.mark.parametrize("pool", [[], [7.5], [np.nan], [3.0, 3.0, 3.0],
                                  [0.0, -0.0, 0.0], [0.0, 1.0, np.nan]],
                         ids=["empty", "single", "nan", "ties", "zeros",
                              "nan-tail"])
def test_edge_pools(pool, thresh):
    pool = np.array(pool, dtype=float)
    expanded = np.repeat(*count_values(pool))
    assert np.array_equal(_bits(expanded), _bits(pool))
    for n_cols in (1, 2, 5):
        assert _same(
            _outcome(lambda: fit_pooled_centers(expanded, n_cols, thresh)),
            _outcome(lambda: fit_pooled_centers(pool, n_cols, thresh)))


def test_too_few_distinct_medians_raises():
    """dist_thresh 0 puts each repeated center in its own cluster: four
    clusters, two distinct medians, three required."""
    with pytest.raises(ValueError, match="3 clusters required.* only 2 "):
        fit_pooled_centers(np.array([0., 0., 5., 5.]), 3, 0.0)


def test_pairs_fit_equals_both_spark_paths(spark):
    """The same model as fit_column_model_pooled over the pool. The pool
    column holds null where a center is NaN, as Spark's
    ``c - element_at(col_centers, 1)`` does."""
    from pdftabextract_spark.operators.model import fit_column_model_pooled

    rng = np.random.default_rng(11)
    for case in range(10):
        pool = _pool(rng)
        if case == 0:
            pool = np.array([], dtype=float)
        thresh = float(THRESHOLDS[case % len(THRESHOLDS)])
        expanded = np.repeat(*_pairs(rng, pool))
        df = spark.createDataFrame(
            [(None if np.isnan(v) else float(v),) for v in pool],
            "center_norm double").repartition(3)
        want = _outcome(lambda: fit_column_model_pooled(df, 4, thresh))
        got = _outcome(lambda: fit_pooled_centers(expanded, 4, thresh))
        assert _same(got, want), (pool.tolist(), thresh)


def test_pooled_fit_runs_one_job_and_caches_nothing(spark):
    """fit_column_model_pooled is one collect: exactly one Spark job, no
    RDD left persisted, and the model of fit_pooled_centers over the same
    values (a null center read as NaN), bit for bit."""
    from pyspark.sql import functions as F
    from pdftabextract_spark.operators.model import fit_column_model_pooled

    ids = np.arange(600)
    values = (ids % 5) * 120.0 + (ids % 7) / 2.0
    values[ids % 97 == 5] = np.nan
    i = F.col("id")
    pooled = spark.range(0, len(ids), numPartitions=3).select(
        F.when(i % 97 == 5, F.lit(None))
        .otherwise((i % 5) * 120.0 + (i % 7) / 2.0).alias("center_norm"))
    sc = spark.sparkContext
    persisted = set(sc._jsc.getPersistentRDDs().keys())
    group = "pooled-fit-one-job"
    sc.setJobGroup(group, "pooled fit job count")
    try:
        got = fit_column_model_pooled(pooled, 5, 40.0)
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert set(sc._jsc.getPersistentRDDs().keys()) == persisted
    want = fit_pooled_centers(values, 5, 40.0)
    assert [x.hex() for x in got] == [x.hex() for x in want]
