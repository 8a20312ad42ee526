"""spread_small_input reads the optimized plan's size estimate through the
JVM bridge and repartitions only inside [SPREAD_INPUT_MIN_BYTES,
SPREAD_INPUT_MAX_BYTES); a broken bridge would silently turn it into a
no-op, so the window is pinned from both sides. shuffle_partitions must
survive a non-numeric shuffle.partitions value."""

from pdftabextract_spark.partitioning import (
    SPREAD_INPUT_MAX_BYTES, SPREAD_INPUT_MIN_BYTES, shuffle_partitions,
    spread_small_input)


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


class _StubSession:
    """Just the two attributes shuffle_partitions reads."""

    def __init__(self, value, default_parallelism):
        self.conf = {"spark.sql.shuffle.partitions": value}
        self.sparkContext = type("SC", (), {
            "defaultParallelism": default_parallelism})()


def test_shuffle_partitions_falls_back_on_non_numeric_value(spark):
    # Spark rejects "auto" for this key in a real session, so the value
    # some distributions accept is fed through a stub
    assert shuffle_partitions(_StubSession("auto", 3)) == 3
    assert shuffle_partitions(_StubSession("12", 3)) == 12
    assert shuffle_partitions(spark) == int(
        spark.conf.get("spark.sql.shuffle.partitions"))
