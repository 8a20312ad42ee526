"""Corpus-level column-model fit and per-page repair — the Spark staging of
get_adjusted_cluster_centers (/root/reference/pdftabextract/clustering.py:77-165,
see kernels.clustering for the math):

  stage A (distributed)  per-page cluster centers, normalized to start at 0
  stage B (driver)       collect every normalized center in one Spark job
                         and cluster the pool (kernels.fit_pooled_centers)
  stage C (driver)       sequential-stateful iterative filter to exactly
                         n_required medians (kernels.fit_center_model)
  stage D (distributed)  the model in the closure; every page of an Arrow
                         batch repaired at once by kernels.repair_pages
                         (find_best_matching_array's result, bit for bit)
                         in an iterator pandas UDF — the text path runs
                         it inside its pack kernel (operators/grid)

Stage B has no exchange: the pool (~pages x columns doubles, 8 bytes per
page column) reaches the driver whole, with no bound, so the driver's
memory grows with the corpus.
"""

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window as W, functions as F, types as T

from ..kernels.clustering import fit_pooled_centers, repair_pages
from ..kernels.pyworker import forget_zip_importers


def normalized_centers(centers: DataFrame, group_cols=("doc_id", "page")) -> DataFrame:
    """center - first(center per group, ascending) — parity with
    clustering.py:104-108 (centers start at 0)."""
    w = W.partitionBy(*group_cols)
    return centers.withColumn(
        "center_norm", F.col("center") - F.min("center").over(w))


def fit_column_model(centers: DataFrame, n_required_clusters: int,
                     dist_thresh: float, group_cols=("doc_id", "page")) -> np.ndarray:
    """Stages A(norm)+B+C: returns the normalized model array (driver-side
    numpy, broadcast-sized) through :func:`fit_column_model_pooled`."""
    pooled = normalized_centers(centers, group_cols).select("center_norm")
    return fit_column_model_pooled(pooled, n_required_clusters, dist_thresh)


def fit_column_model_pooled(pooled: DataFrame, n_required_clusters: int,
                            dist_thresh: float) -> np.ndarray:
    """Stages B+C over an already-normalized pooled centers frame (column
    ``center_norm``): one Spark job collects the column with ``toArrow``
    (nothing is cached), a null center becomes NaN, and the driver fits
    kernels/clustering.fit_pooled_centers over it. The span-table path
    fits the same way from per-partition (center, count) pairs
    (plans/pipeline._span_model)."""
    values = pooled.select("center_norm").toArrow().column("center_norm")
    return fit_pooled_centers(np.asarray(values, dtype=float),
                              n_required_clusters, dist_thresh)


def repair_page_centers(page_centers: DataFrame, model: np.ndarray,
                        centers_col="centers",
                        same_size_use_model_arr_diff_thresh=None) -> DataFrame:
    """Stage D: per-page sorted centers array -> repaired array of exactly
    len(model) positions (find_best_matching_array against the model),
    by an iterator pandas UDF over ``repair_batches``; the model rides
    the closure (tiny)."""
    model_list = [float(x) for x in model]
    thresh = same_size_use_model_arr_diff_thresh

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def _repair(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        return repair_batches(batches, np.array(model_list), thresh)

    return page_centers.withColumn("centers_fixed", _repair(F.col(centers_col)))


def repair_batches(batches, model, thresh=None):
    """``repair_page_centers``' kernel: it drops the worker's zip
    importers (kernels/pyworker), then repairs every page of each batch
    (a pandas Series of center arrays) in one
    kernels/clustering.repair_pages call."""
    forget_zip_importers()
    for centers in batches:
        lens = np.fromiter(map(len, centers), dtype=np.int64,
                           count=len(centers))
        flat = np.concatenate([np.zeros(0), *centers])
        yield pd.Series(list(repair_pages(flat, lens, model, thresh)),
                        dtype=object)


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
