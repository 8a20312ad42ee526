"""1-D break-distance clustering as a window computation (gaps-and-islands).

This is the DataFrame-native form of the kernel
find_clusters_1d_break_dist (/root/reference/pdftabextract/clustering.py:23-55):
per group, sort by value, start a new cluster wherever the gap to the
previous value is >= dist_thresh, assign cluster ids by cumulative sum.
Entirely JVM-side (whole-stage codegen); the shuffle is the
partitionBy(group) exchange, which downstream stages reuse.
"""

from pyspark.sql import DataFrame, Window as W, functions as F


def with_cluster_ids(df: DataFrame, value_col: str, dist_thresh: float,
                     group_cols, cluster_col: str = "cluster_id") -> DataFrame:
    """Add ``cluster_col``: 0-based cluster id per group, ascending by value.

    Break semantics are the kernel's strict >= on gaps. Ties in ``value``
    never break (gap 0 < thresh for thresh > 0; thresh == 0 puts every
    element in its own cluster exactly like the kernel).
    """
    w = W.partitionBy(*group_cols).orderBy(F.col(value_col).asc())
    gap = F.col(value_col) - F.lag(value_col).over(w)
    is_break = F.when(gap >= F.lit(float(dist_thresh)), 1).otherwise(0)
    cum = W.partitionBy(*group_cols).orderBy(F.col(value_col).asc()) \
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    return df.withColumn(cluster_col, F.sum(is_break).over(cum))


def cluster_centers(df: DataFrame, value_col: str, dist_thresh: float,
                    group_cols, center="median") -> DataFrame:
    """Group -> one row per cluster with exact center and member count.

    ``center``: 'median' (exact percentile — numpy-median parity incl. the
    even-count midpoint mean), 'min', 'max', or 'mean'.
    """
    clustered = with_cluster_ids(df, value_col, dist_thresh, group_cols)
    if center == "median":
        center_expr = F.expr(f"percentile({value_col}, 0.5)")
    elif center == "min":
        center_expr = F.min(value_col)
    elif center == "max":
        center_expr = F.max(value_col)
    elif center == "mean":
        center_expr = F.avg(value_col)
    else:
        raise ValueError("unknown center %r" % center)
    return (
        clustered.groupBy(*group_cols, "cluster_id")
        .agg(center_expr.alias("center"), F.count("*").alias("n"))
    )


def cluster_centers_pluggable(df: DataFrame, value_col: str, group_cols,
                              method: str = "break_dist", center="median",
                              stddev_thresh: float = None, **method_kwargs) -> DataFrame:
    """Pluggable clustering strategy per group (SURVEY §2.11: the reference
    exposes any callable(positions) -> clusters; the engine exposes the
    registry {break_dist, hierarchical}), with the optional
    remove_cluster_sections_stddev_thresh filter (imgproc.py:326-328 —
    population stddev).

    break_dist runs as the window op; hierarchical runs the numpy
    single-linkage kernel per group in one Arrow-batched applyInPandas
    (group values are tens-to-hundreds of floats)."""
    import numpy as np
    import pandas as pd

    group_cols = list(group_cols)
    if method == "break_dist":
        clustered = with_cluster_ids(df, value_col,
                                     method_kwargs["dist_thresh"], group_cols)
        agg = [F.expr(f"percentile({value_col}, 0.5)").alias("center"),
               F.count("*").alias("n"),
               F.stddev_pop(value_col).alias("_sd")]
        out = clustered.groupBy(*group_cols, "cluster_id").agg(*agg)
    elif method == "hierarchical":
        from ..kernels.clustering import (
            find_clusters_1d_hierarchical, zip_clusters_and_values)
        t = float(method_kwargs["t"])
        linkage = method_kwargs.get("linkage", "single")
        # default mirrors scipy fclusterdata (the reference forwards bare
        # kwargs to it, clustering.py:58-72): criterion='inconsistent'
        criterion = method_kwargs.get("criterion", "inconsistent")
        depth = int(method_kwargs.get("depth", 2))

        def kern(pdf: pd.DataFrame) -> pd.DataFrame:
            vals = pdf[value_col].to_numpy(dtype=float)
            clusters = find_clusters_1d_hierarchical(
                vals, t, method=linkage, criterion=criterion, depth=depth)
            rows = []
            for cid, (ind, cv) in enumerate(
                    zip_clusters_and_values(clusters, vals)):
                rows.append(tuple(pdf.iloc[0][c] for c in group_cols)
                            + (cid, float(np.median(cv)), len(cv),
                               float(np.std(cv))))
            return pd.DataFrame(rows, columns=group_cols + [
                "cluster_id", "center", "n", "_sd"])

        schema = ", ".join(
            [f"{c} string" if c == "doc_id" else f"{c} int" for c in group_cols]
            + ["cluster_id int", "center double", "n long", "_sd double"])
        out = df.groupBy(*group_cols).applyInPandas(kern, schema=schema)
    else:
        raise ValueError("unknown clustering method %r" % method)

    if stddev_thresh is not None:
        out = out.where(F.col("_sd") < F.lit(float(stddev_thresh)))
    return out.drop("_sd")


def page_profiles(boxes: DataFrame, col_break_dist: float,
                  row_break_dist: float) -> DataFrame:
    """Fused per-page profile: ONE exchange + ONE Arrow kernel computes,
    per (doc_id, page):

      col_centers  sorted break-dist cluster medians of box lefts
                   (exact percentile-0.5 parity: sorted-midpoint mean)
      row_tops     sorted break-dist cluster MIN tops
      max_right / max_bottom  page extents

    This replaces four separate passes over the box table (column window
    + agg, row window + agg, extents agg, per-page centers re-agg) with
    one repartition by the page key. Value parity with the window ops is
    property-tested (tests/test_pipeline_e2e.py fused-vs-window).

    The kernel is fully vectorized across each page-complete frame
    (lexsort by (page, value); segment medians picked by index arithmetic
    on the sorted values — no per-cluster Python loop); pages that
    straddle Arrow batches are reassembled by kernels/pagegroups.
    """
    import numpy as np
    import pandas as pd
    from ..kernels.pagegroups import iter_page_groups

    cbd, rbd = float(col_break_dist), float(row_break_dist)

    src = boxes.select(
        "doc_id", "page", "left", "top",
        (F.col("left") + F.col("width")).alias("right"),
        (F.col("top") + F.col("height")).alias("bottom")) \
        .repartition("doc_id", "page") \
        .sortWithinPartitions("doc_id", "page")

    def _segments(vals_sorted, page_codes_sorted, dist):
        """Sorted-within-page values -> (seg_start, seg_end) bounds where
        a segment breaks on page change or gap >= dist."""
        n = len(vals_sorted)
        brk = np.empty(n, dtype=bool)
        brk[0] = True
        if n > 1:
            brk[1:] = ((page_codes_sorted[1:] != page_codes_sorted[:-1])
                       | (np.diff(vals_sorted) >= dist))
        starts = np.flatnonzero(brk)
        ends = np.append(starts[1:], n)
        return starts, ends

    def _process(pdf: pd.DataFrame, bounds: np.ndarray) -> pd.DataFrame:
        page_bounds = bounds[:-1]
        n_pages = len(page_bounds)
        # page codes in arrival (partition-sorted) order
        codes = np.repeat(np.arange(n_pages), np.diff(bounds))

        left = pdf["left"].to_numpy(dtype=float)
        top = pdf["top"].to_numpy(dtype=float)
        right = pdf["right"].to_numpy(dtype=float)
        bottom = pdf["bottom"].to_numpy(dtype=float)

        def per_page_clusters(vals, dist, center):
            order = np.lexsort((vals, codes))
            sv = vals[order]
            sp = codes[order]
            s, e = _segments(sv, sp, dist)
            if center == "median":
                # exact numpy-median of each sorted segment
                cvals = (sv[(s + e - 1) // 2] + sv[(s + e) // 2]) / 2.0
            else:  # min
                cvals = sv[s]
            seg_page = sp[s]
            # segments are page-ordered; split into per-page lists
            cuts = np.flatnonzero(np.concatenate(
                [[True], seg_page[1:] != seg_page[:-1]]))
            return np.split(cvals, cuts[1:])

        col_lists = per_page_clusters(left, cbd, "median")
        row_lists = per_page_clusters(top, rbd, "min")
        max_r = np.maximum.reduceat(right, page_bounds)
        max_b = np.maximum.reduceat(bottom, page_bounds)
        assert len(col_lists) == len(row_lists) == n_pages
        return pd.DataFrame({
            "doc_id": pdf["doc_id"].to_numpy()[page_bounds],
            "page": pdf["page"].to_numpy()[page_bounds],
            "col_centers": [list(map(float, a)) for a in col_lists],
            "row_tops": [list(map(float, a)) for a in row_lists],
            "max_right": max_r,
            "max_bottom": max_b,
        })

    def kernel(batches):
        for pdf, bounds in iter_page_groups(batches, "page_profiles"):
            yield _process(pdf, bounds)

    return src.mapInPandas(
        kernel, schema="doc_id string, page int, "
                       "col_centers array<double>, row_tops array<double>, "
                       "max_right double, max_bottom double")
