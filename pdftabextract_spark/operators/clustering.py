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


def _doubles(values):
    # from_pandas: a NaN becomes null, which F.greatest skips when the
    # positions close a page's column borders (plans/pipeline)
    import pyarrow as pa
    return pa.array(values, pa.float64(), from_pandas=True)


def _profile_columns(bounds, left, top, right, bottom, col_break_dist,
                    row_break_dist):
    """A frame of complete pages -> the Arrow columns col_centers,
    row_tops, max_right, max_bottom, one row per page
    (kernels/pagegrid.profile_pages)."""
    import numpy as np
    import pyarrow as pa
    from ..kernels.pagegrid import profile_pages

    cols, rows, max_r, max_b = profile_pages(
        bounds, left, top, right, bottom, col_break_dist, row_break_dist)

    def lists(values_lens):
        values, lens = values_lens
        return pa.ListArray.from_arrays(
            pa.array(np.concatenate([[0], np.cumsum(lens)]), pa.int32()),
            _doubles(values))

    return [lists(cols), lists(rows), _doubles(max_r), _doubles(max_b)]


_PROFILES = ("doc_id string, page int, col_centers array<double>, "
             "row_tops array<double>, max_right double, max_bottom double")
_PROFILE_NAMES = ["doc_id", "page", "col_centers", "row_tops", "max_right",
                  "max_bottom"]


def page_profiles(boxes: DataFrame, col_break_dist: float,
                  row_break_dist: float) -> DataFrame:
    """Fused per-page profile: ONE narrow Arrow kernel computes, per
    (doc_id, page), the column cluster medians ``col_centers``, the row
    cluster min tops ``row_tops`` and the extents ``max_right`` /
    ``max_bottom`` (``_profile_columns``).

    This replaces four separate passes over the box table (column window
    + agg, row window + agg, extents agg, per-page centers re-agg). Value
    parity with the window ops is property-tested (tests/test_pipeline_e2e.py
    fused-vs-window).

    PRECONDITION: rows of one (doc_id, page) arrive contiguously within a
    partition, as ``sources.spans.textboxes_from_spans`` emits them;
    ``group_pages`` establishes it for any other input. Pages that
    straddle Arrow batches are reassembled by kernels/pagegroups, which
    raises when a page recurs (never silent duplicates).
    """
    import pyarrow as pa
    from ..kernels.pagegroups import column, iter_page_groups

    cbd, rbd = float(col_break_dist), float(row_break_dist)

    src = boxes.select(
        "doc_id", "page", "left", "top",
        (F.col("left") + F.col("width")).alias("right"),
        (F.col("top") + F.col("height")).alias("bottom"))

    def kernel(batches):
        for batch, bounds in iter_page_groups(batches, "page_profiles"):
            first = pa.array(bounds[:-1])
            yield pa.RecordBatch.from_arrays([
                batch.column("doc_id").take(first),
                batch.column("page").take(first).cast(pa.int32()),
                *_profile_columns(bounds, *(
                    column(batch, c, float)
                    for c in ("left", "top", "right", "bottom")), cbd, rbd)],
                names=_PROFILE_NAMES)

    return src.mapInArrow(kernel, schema=_PROFILES)


def group_pages(df: DataFrame) -> DataFrame:
    """One exchange + sort that puts each (doc_id, page)'s rows together
    in one partition, contiguously — the precondition of the per-page
    kernels (``page_profiles``, operators/grid) for input that is not
    page-contiguous already."""
    return df.repartition("doc_id", "page").sortWithinPartitions("doc_id", "page")
