"""Corpus-level column-model fit and per-page repair — the Spark staging of
get_adjusted_cluster_centers (/root/reference/pdftabextract/clustering.py:77-165,
see kernels.clustering for the math):

  stage A (distributed)  per-page cluster centers, normalized to start at 0
  stage B (distributed)  pool all normalized centers, cluster them globally,
                         reduce to (median, count) per pooled cluster —
                         only this tiny summary reaches the driver
  stage C (driver)       sequential-stateful iterative filter to exactly
                         n_required medians (kernels.fit_center_model)
  stage D (distributed)  broadcast the model; per-page repair via
                         find_best_matching_array (kernels.repair_centers)
                         in an Arrow-batched UDF — the text path runs it
                         inside its pack kernel (operators/grid)

The only corpus-wide exchange is stage B's aggregation of ~pages x columns
doubles; payload to the driver is O(distinct column offsets).
"""

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window as W, functions as F, types as T

from ..kernels.clustering import (
    fit_center_model_summaries, fit_pooled_centers, repair_centers)


def normalized_centers(centers: DataFrame, group_cols=("doc_id", "page")) -> DataFrame:
    """center - first(center per group, ascending) — parity with
    clustering.py:104-108 (centers start at 0)."""
    w = W.partitionBy(*group_cols)
    return centers.withColumn(
        "center_norm", F.col("center") - F.min("center").over(w))


MAX_DRIVER_POOL = 5_000_000  # pooled centers; ~40MB of doubles


def fit_column_model(centers: DataFrame, n_required_clusters: int,
                     dist_thresh: float, group_cols=("doc_id", "page")) -> np.ndarray:
    """Stages A(norm)+B+C: returns the normalized model array (driver-side
    numpy, broadcast-sized).

    Fast path: the pooled normalized centers are ~pages x columns doubles —
    collect and run the exact numpy kernels (sorting 10^5-10^6 floats on
    the driver beats any exchange by seconds). Above MAX_DRIVER_POOL
    values the fully distributed fit takes over (see
    :func:`cluster_summaries_distributed` — no corpus-wide ordering, no
    single-partition window, bit-equal model).

    Constraint: the distributed path requires ``dist_thresh > 0``
    (``dist_thresh <= 0`` would put duplicate values in separate
    clusters, which its value-dedup step cannot represent) — above
    MAX_DRIVER_POOL that degenerate configuration raises ``ValueError``
    instead of silently computing a different clustering. At or below
    the driver limit the numpy path accepts any threshold."""
    pooled = normalized_centers(centers, group_cols).select("center_norm")
    return fit_column_model_pooled(pooled, n_required_clusters, dist_thresh)


def fit_column_model_pooled(pooled: DataFrame, n_required_clusters: int,
                            dist_thresh: float,
                            max_driver_pool: int = None) -> np.ndarray:
    """Stages B+C over an already-normalized pooled centers frame (one
    column ``center_norm``). Entry point for the fused page-profile path,
    where per-page centers arrive as sorted arrays and normalization is a
    JVM transform (center - centers[0]) instead of a window min.

    A parallel ``count()`` picks the path: at or below max_driver_pool
    the exact numpy kernels run on the collected values (the count also
    warms any persisted upstream, so the collect is a cache read);
    above it nothing large ever reaches the driver — the distributed fit
    reduces the corpus to O(clusters) ``(median, n)`` rows first. Both
    paths produce the identical model (pinned by
    tests/test_model_fit_distributed.py). Do NOT replace the count with
    a ``limit(N+1)`` probe: CollectLimit executes incremental scale-up
    rounds that re-pay the upstream shuffle map side — measured 3-10x
    slower than count+collect on the extraction pipeline (BENCH r3 A/B).
    The span-table path does not fit through here and has no such bound
    (plans/pipeline._span_model).
    """
    limit = MAX_DRIVER_POOL if max_driver_pool is None else max_driver_pool
    # persist across the two driver-path actions (count + collect) — and
    # the distributed path's own passes — so an unpersisted upstream
    # lineage (e.g. the catalogue's line-midpoint kernel) runs once here
    from pyspark import StorageLevel
    pooled = pooled.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        if pooled.count() <= limit:
            return fit_pooled_centers(
                pooled.toPandas()["center_norm"].to_numpy(dtype=float),
                n_required_clusters, dist_thresh)

        summaries = cluster_summaries_distributed(pooled, dist_thresh)
        rows = summaries.orderBy("cid").collect()
        model, _ = fit_center_model_summaries(
            [(int(r["n"]), float(r["median"])) for r in rows],
            n_required_clusters)
        return model
    finally:
        pooled.unpersist()


def cluster_summaries_distributed(pooled: DataFrame, dist_thresh: float,
                                  value_col: str = "center_norm",
                                  num_ranges: int = None,
                                  quantize_eps: float = None,
                                  materialize: bool = True) -> DataFrame:
    """Fully distributed break-dist clustering of ONE global value column
    -> one row per cluster ``(cid, median, n)``, cids ascending by value,
    with the EXACT multiset median and count per cluster. No corpus-wide
    ordering and no partition-less window anywhere in the plan — this is
    the scale-safe replacement for the old single-ordering
    global_cluster_summary fallback (VERDICT r2 item 1).

    Plan shape (every exchange fully parallel):

      1. groupBy(value) -> count          exact value dedup; for thresh>0
                                          duplicates can never break, so
                                          clustering the distinct values
                                          reproduces the multiset clusters
      2. repartitionByRange(value) + sortWithinPartitions
      3. per-partition summary            mapInPandas -> ONE row per
                                          partition (min, max, breaks)
      4. driver prefix scan               O(partitions) rows: global cid
                                          base per partition + boundary
                                          merge decisions
      5. per-partition cid assignment     mapInPandas, broadcast base map
      6. exact weighted median per cid    cid-partitioned windows over
                                          cumulative counts (parallel
                                          across clusters; within-cluster
                                          work is DISTINCT values only)

    ``quantize_eps`` optionally snaps values to eps-grid midpoints before
    dedup — the safety valve for adversarial continuous inputs where
    distinct values ~ corpus size (bounds distinct count by range/eps at
    a documented, bounded approximation). Default None = exact.

    ``materialize=False`` skips the persist + eager collect and returns
    the LAZY summary plan (test/inspection hook — lets the caller
    .explain() the full plan; re-executes the range exchange once more
    when collected).
    """
    if dist_thresh <= 0:
        raise ValueError(
            "distributed break-dist fit requires dist_thresh > 0 "
            "(thresh<=0 puts duplicates in separate clusters, which value "
            "dedup cannot represent — use the driver path)")
    spark = pooled.sparkSession
    thresh = float(dist_thresh)
    v = F.col(value_col).cast("double").alias("v")
    vals = pooled.select(v)
    if quantize_eps is not None:
        eps = float(quantize_eps)
        vals = vals.select(
            ((F.floor(F.col("v") / eps) + F.lit(0.5)) * eps).alias("v"))
    P = num_ranges or spark.sparkContext.defaultParallelism
    ranged = (vals.groupBy("v").agg(F.count("*").alias("n"))
              .repartitionByRange(P, "v")
              .sortWithinPartitions("v")
              .withColumn("pid", F.spark_partition_id()))
    if materialize:
        from pyspark import StorageLevel
        ranged = ranged.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        summary_rows = ranged.mapInPandas(
            _partition_summary_kernel(thresh),
            schema="pid int, min_v double, max_v double, "
                   "n_breaks long").collect()
        if not summary_rows:
            return spark.createDataFrame(
                [], "cid long, median double, n long")

        # driver prefix scan over O(partitions) summaries, in value order
        summary_rows.sort(key=lambda r: r["min_v"])
        base_map = {}
        next_cid = 0
        prev_max = None
        for r in summary_rows:
            merge = prev_max is not None and (r["min_v"] - prev_max) < thresh
            base = next_cid - 1 if merge else next_cid
            base_map[int(r["pid"])] = base
            next_cid = base + int(r["n_breaks"]) + 1
            prev_max = r["max_v"]

        assigned = ranged.mapInPandas(
            _assign_cids_kernel(thresh, base_map),
            schema="cid long, v double, n long")

        # exact weighted median per cluster: numpy-median parity over the
        # multiset — value at 0-based ranks (N-1)//2 and N//2, averaged
        wc = W.partitionBy("cid")
        wcum = wc.orderBy("v").rowsBetween(W.unboundedPreceding, W.currentRow)
        ranked = assigned.select(
            "cid", "v", "n",
            F.sum("n").over(wc).alias("tot"),
            F.sum("n").over(wcum).alias("cum"))
        lo = F.floor((F.col("tot") - 1) / 2)
        hi = F.floor(F.col("tot") / 2)
        covers_lo = ((F.col("cum") - F.col("n")) <= lo) & (lo < F.col("cum"))
        covers_hi = ((F.col("cum") - F.col("n")) <= hi) & (hi < F.col("cum"))
        picked = ranked.where(covers_lo | covers_hi).select(
            "cid", "tot",
            F.when(covers_lo, F.col("v")).alias("v_lo"),
            F.when(covers_hi, F.col("v")).alias("v_hi"))
        out = (picked.groupBy("cid")
               .agg(((F.max("v_lo") + F.max("v_hi")) / 2).alias("median"),
                    F.max("tot").cast("long").alias("n"))
               .select("cid", "median", "n"))
        if materialize:
            # materialize before unpersisting the range-partitioned input
            out = spark.createDataFrame(out.collect(),
                                        "cid long, median double, n long")
        return out
    finally:
        if materialize:
            ranged.unpersist()


def _partition_summary_kernel(thresh):
    def summarize(batches):
        vals, pid = [], None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            pid = int(pdf["pid"].iloc[0])
            vals.append(pdf["v"].to_numpy(dtype=float))
        if pid is None:
            return
        va = np.concatenate(vals)
        brk = np.zeros(len(va), dtype=bool)
        if len(va) > 1:
            brk[1:] = np.diff(va) >= thresh
        yield pd.DataFrame({
            "pid": [pid], "min_v": [float(va[0])], "max_v": [float(va[-1])],
            "n_breaks": [int(brk.sum())]})
    return summarize


def _assign_cids_kernel(thresh, base_map):
    def assign(batches):
        prev_val = None
        cum_breaks = 0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            base = base_map[int(pdf["pid"].iloc[0])]
            va = pdf["v"].to_numpy(dtype=float)
            brk = np.zeros(len(va), dtype=np.int64)
            if len(va) > 1:
                brk[1:] = (np.diff(va) >= thresh).astype(np.int64)
            if prev_val is not None:
                brk[0] = 1 if (va[0] - prev_val) >= thresh else 0
            cids = base + cum_breaks + np.cumsum(brk)
            cum_breaks += int(brk.sum())
            prev_val = float(va[-1])
            yield pd.DataFrame({
                "cid": cids, "v": va,
                "n": pdf["n"].to_numpy(dtype=np.int64)})
    return assign


def repair_page_centers(page_centers: DataFrame, model: np.ndarray,
                        centers_col="centers",
                        same_size_use_model_arr_diff_thresh=None) -> DataFrame:
    """Stage D: per-page sorted centers array -> repaired array of exactly
    len(model) positions (find_best_matching_array against the broadcast
    model). Arrow-batched pandas UDF; the model rides the closure (tiny)."""
    model_list = [float(x) for x in model]
    thresh = same_size_use_model_arr_diff_thresh

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def _repair(centers: pd.Series) -> pd.Series:
        m = np.array(model_list, dtype=float)
        return pd.Series([
            [float(x) for x in repair_centers(arr, m, thresh)]
            for arr in centers])

    return page_centers.withColumn("centers_fixed", _repair(F.col(centers_col)))


def fit_and_repair(centers: DataFrame, n_required_clusters: int,
                   dist_thresh: float, group_cols=("doc_id", "page"),
                   same_size_use_model_arr_diff_thresh=None) -> DataFrame:
    """Full get_adjusted_cluster_centers over a centers DataFrame
    (group_cols + center). Returns one row per page:
    group_cols + centers (detected, sorted) + centers_fixed (repaired)."""
    model = fit_column_model(centers, n_required_clusters, dist_thresh, group_cols)
    per_page = (
        centers.groupBy(*group_cols)
        .agg(F.array_sort(F.collect_list("center")).alias("centers"))
    )
    return repair_page_centers(
        per_page, model,
        same_size_use_model_arr_diff_thresh=same_size_use_model_arr_diff_thresh)


def spark_adjust_bad_positions(positions: DataFrame, group_cols=("doc_id", "page"),
                               positions_col="positions",
                               pos_check_signif_level=0.05) -> DataFrame:
    """adjust_bad_positions (clustering.py:319-365) staged for Spark:
    corpus aggregates (median position count; columnwise mean widths of
    good pages) computed distributed, then the per-page chi-square check
    and repair in an Arrow-batched UDF with the tiny mean-widths model in
    the closure."""
    from ..kernels.stats import chisquare

    n_col = F.size(positions_col)
    with_n = positions.withColumn("_n", n_col)
    median_n = with_n.select(
        F.expr("percentile(_n, 0.5)").alias("m")).collect()[0]["m"]
    median_n = int(median_n)

    good = with_n.where(F.col("_n") == median_n)
    # columnwise mean across good pages: posexplode + groupBy(position index)
    col_means = (
        good.select(F.posexplode(positions_col).alias("i", "v"))
        .groupBy("i").agg(F.avg("v").alias("mean_v"))
        .orderBy("i").collect()
    )
    mean_positions = np.array([r["mean_v"] for r in col_means])
    if len(mean_positions) == 0:
        return positions.withColumn("positions_fixed", F.col(positions_col))
    mean_widths = np.diff(mean_positions)
    if len(mean_widths) and mean_widths.min() < 0:
        raise ValueError("invalid positions: got negative mean width")
    mw_list = [float(x) for x in mean_widths]
    alpha = pos_check_signif_level

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def _fix(pos_arrays: pd.Series) -> pd.Series:
        mw = np.array(mw_list)
        out = []
        for arr in pos_arrays:
            p = np.asarray(arr, dtype=float)
            if len(p) != median_n or (len(p) > 1 and np.diff(p).min() < 0):
                p_val = 0.0
            else:
                _, p_val = chisquare(np.diff(p), mw)
            if p_val < alpha:
                p = np.concatenate([[p[0]], p[0] + np.cumsum(mw)])
            out.append([float(x) for x in p])
        return pd.Series(out)

    return positions.withColumn("positions_fixed", _fix(F.col(positions_col)))
