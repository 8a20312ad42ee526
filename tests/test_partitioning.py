"""spread_small_input reads the optimized plan's size estimate through the
JVM bridge and repartitions only inside [SPREAD_INPUT_MIN_BYTES,
SPREAD_INPUT_MAX_BYTES); a broken bridge would silently turn it into a
no-op, so the window is pinned from both sides."""

from pdftabextract_spark.partitioning import (
    SPREAD_INPUT_MAX_BYTES, SPREAD_INPUT_MIN_BYTES, spread_small_input)


def _size_estimate(df):
    return int(str(df._jdf.queryExecution().optimizedPlan().stats()
                   .sizeInBytes()))


def test_spread_small_input_fires_only_inside_size_window(spark):
    target = spark.sparkContext.defaultParallelism
    cases = {1000: False, 1 << 20: True, 1 << 28: False}
    for n, spreads in cases.items():
        df = spark.range(n)
        size = _size_estimate(df)
        assert (SPREAD_INPUT_MIN_BYTES <= size < SPREAD_INPUT_MAX_BYTES) \
            == spreads, (n, size)
        out = spread_small_input(df)
        if spreads:
            logical = out._jdf.queryExecution().logical().toString()
            assert logical.startswith("Repartition %d, true" % target), logical
            assert out.rdd.getNumPartitions() == target
        else:
            assert out is df, (n, size)
