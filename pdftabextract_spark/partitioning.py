"""Partitioning helpers shared by operators.

A single small parquet file yields 1-2 scan splits no matter how many
cores the session has (splits cannot be finer than row groups), so any
operator doing heavy per-row work directly on such a scan serializes on a
handful of tasks. ``spread_small_input`` fixes exactly that case without
penalizing at-scale inputs, which already arrive in enough splits.
``shuffle_partitions`` reads the session's shuffle parallelism for
operators that pin an exchange width, and ``size_estimate`` the plan's
size estimate that both the spread and operators/dedup's group count
read.
"""

from pyspark.sql import DataFrame

# inputs whose Catalyst size estimate falls in [MIN, MAX) are
# repartitioned to the default parallelism before heavy narrow per-row
# work. Larger inputs are left untouched (repartitioning them would
# shuffle real bytes for parallelism they already have); tinier inputs
# too (their per-row work is cheaper than the extra exchange + stage
# barrier — interleaved r5-vs-r6 A/B at sf0.1 measured the unconditional
# spread costing q20 ~0.25s and q19 ~0.1s on sub-MB embeddings while
# winning nothing).
SPREAD_INPUT_MAX_BYTES = 1 << 30
SPREAD_INPUT_MIN_BYTES = 4 << 20


def size_estimate(df: DataFrame):
    """The optimized plan's size estimate of ``df`` in bytes, or None when
    plan statistics are unavailable. Catalyst sizes a leaf without
    statistics (an RDD, say) at ``spark.sql.defaultSizeInBytes`` and a
    join at the product of its sides, so an estimate at or above that
    value counts as unavailable too. Driver-side only; runs no job."""
    try:
        jdf = df._jdf
        size = int(str(jdf.queryExecution().optimizedPlan().stats()
                       .sizeInBytes()))
        unknown = int(jdf.sparkSession().sessionState().conf()
                      .defaultSizeInBytes())
    except Exception:
        return None
    return None if size >= unknown else size


def spread_small_input(df: DataFrame,
                       max_bytes: int = SPREAD_INPUT_MAX_BYTES,
                       min_bytes: int = SPREAD_INPUT_MIN_BYTES) -> DataFrame:
    """Round-robin repartition a *small but not tiny* input across the
    default parallelism (no-op for inputs estimated outside
    ``[min_bytes, max_bytes)`` or when plan statistics are unavailable).
    Driver-side only — reads ``size_estimate``, runs no job. Downstream
    consumers must not depend on row order or physical partitioning (ours
    all aggregate on keys or compute row-wise values)."""
    size = size_estimate(df)
    if size is None or not min_bytes <= size < max_bytes:
        return df
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


def shuffle_partitions(spark) -> int:
    """``spark.sql.shuffle.partitions`` as an int, or the default
    parallelism when it is not a number (e.g. ``"auto"``, which some
    Spark distributions accept to let AQE choose)."""
    value = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        return int(value)
    except ValueError:
        return spark.sparkContext.defaultParallelism
