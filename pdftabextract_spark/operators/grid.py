"""Grid construction + textbox->cell assignment + cell-text materialization.

The assignment is the reference's interval theta-join with argmax
(pdftabextract extract.py:46-117), run over a whole batch
of complete pages at once by the one assignment kernel
kernels/gridfit.assign_pages: each box is scored only against its
candidate cells. The operators that run it:

* ``pack_frame`` + ``profile_grids`` (text path): with the corpus column
  model in its closure, profile every page of a frame of boxes, repair
  all of their centers and build all of their borders in frame-wide
  array passes (kernels/pagegrid.profile_pages,
  kernels/clustering.repair_pages, kernels/pagegrid.grid_borders; no
  per-page Python loop), then assign every box of the frame and
  materialize the cell texts of all its pages (kernels/pagegrid.pack_pages).
  ``profile_and_pack`` runs them over box rows, one packed row per page;
  plans/pipeline.extract_from_span_table runs them inside its span kernel.

* ``pack_joined`` / ``assign_and_pack``: the same packing for boxes that
  arrive joined with precomputed per-page border arrays.

* ``assign_cells_joined`` (image, catalogue and schoollist paths): the
  long form, one row per box with its (row_idx, col_idx); ``cell_texts``
  / ``cell_texts_lines`` then aggregate it onto the full grid.

The box-row kernels take pages whole from kernels/pagegroups, which
reassembles pages that straddle Arrow batches; the span kernel's frames
are whole docs (sources/spans.frames).

Cell text parity: join_texts (textboxes.py:154-162) — sort by left (stable
by box order), join with ' ', strip.
"""

from pyspark.sql import DataFrame, functions as F

_ASSIGN_SCHEMA = ("doc_id string, page int, box_id int, left double, "
                  "value string, row_idx int, col_idx int")


def assign_cells_joined(boxes: DataFrame, positions: DataFrame) -> DataFrame:
    """Long-form assignment: equi-join boxes with their page's border
    arrays (AQE picks broadcast when positions is small — one row per
    page), then ONE Arrow-batched mapInPandas kernel
    (``assign_batches``). Assignment is per-box independent given the
    page grid, so no grouping shuffle is needed at all."""
    joined = boxes.join(
        positions.select("doc_id", "page", "col_positions", "row_positions"),
        ["doc_id", "page"])
    return joined.mapInPandas(assign_batches, schema=_ASSIGN_SCHEMA)


def assign_batches(batches):
    """``assign_cells_joined``'s kernel: it drops the worker's zip
    importers (kernels/pyworker), then sorts each pandas batch of joined
    rows by page and assigns all of its boxes in one
    kernels/gridfit.assign_pages call."""
    import numpy as np
    import pandas as pd
    from ..kernels.gridfit import assign_pages, padded_lists
    from ..kernels.pagegroups import page_bounds
    from ..kernels.pyworker import forget_zip_importers

    forget_zip_importers()
    for pdf in batches:
        n = len(pdf)
        if n == 0:
            continue
        doc_ids = pdf["doc_id"].to_numpy()
        pages = pdf["page"].to_numpy()
        order = np.lexsort((pages, doc_ids))
        l = pdf["left"].to_numpy(dtype=float)[order]
        t = pdf["top"].to_numpy(dtype=float)[order]
        r = l + pdf["width"].to_numpy(dtype=float)[order]
        b = t + pdf["height"].to_numpy(dtype=float)[order]
        bounds = page_bounds(doc_ids[order], pages[order])
        first = order[bounds[:-1]]
        ri, ci, _, _ = assign_pages(
            bounds, l, t, r, b,
            padded_lists(pdf["col_positions"].to_numpy()[first]),
            padded_lists(pdf["row_positions"].to_numpy()[first]))
        inv = np.empty(n, dtype=np.int64)
        inv[order] = np.arange(n)
        yield pd.DataFrame({
            "doc_id": doc_ids,
            "page": pages,
            "box_id": pdf["box_id"].to_numpy(),
            "left": pdf["left"].to_numpy(),
            "value": pdf["value"].to_numpy(),
            "row_idx": ri[inv],
            "col_idx": ci[inv],
        })


def assign_and_pack(boxes: DataFrame, positions: DataFrame,
                    page_contiguous: bool = False) -> DataFrame:
    """Assignment + cell-text materialization given per-page border
    arrays: boxes joined with ``positions``, then ``pack_joined``. With
    ``page_contiguous=False`` the joined rows first go through
    operators/clustering.group_pages."""
    from .clustering import group_pages

    joined = boxes.join(
        positions.select("doc_id", "page", "col_positions", "row_positions"),
        ["doc_id", "page"])
    if not page_contiguous:
        joined = group_pages(joined)
    return pack_joined(joined)


def pack_frame(batch, bounds, page_grids):
    """A frame of complete pages (box columns left, top, width, height,
    box_id, value; ``bounds`` = its page run bounds) -> per page
    (n_rows, n_cols, cells, n_unmatched). ``page_grids(batch, bounds, l,
    t, r, b)`` returns the frame's col_positions and row_positions, each
    a kernels/gridfit (NaN-padded matrix, lengths) pair;
    kernels/gridfit.assign_pages and kernels/pagegrid.pack_pages then
    assign and pack every page of the frame at once."""
    from ..kernels.gridfit import assign_pages
    from ..kernels.pagegrid import pack_pages
    from ..kernels.pagegroups import column

    l, t, w, h = (column(batch, c, float)
                  for c in ("left", "top", "width", "height"))
    r, b = l + w, t + h
    col_pos, row_pos = page_grids(batch, bounds, l, t, r, b)
    ri, ci, n_rows, n_cols = assign_pages(bounds, l, t, r, b, col_pos,
                                          row_pos)
    cells, n_unmatched = pack_pages(bounds, ri, ci, n_rows, n_cols, l,
                                    column(batch, "box_id"),
                                    batch.column("value"))
    return n_rows, n_cols, cells, n_unmatched


def _pack_pages(rows: DataFrame, name: str, page_grids) -> DataFrame:
    """Page-contiguous box rows -> one packed row per page: (doc_id, page,
    n_rows, n_cols, cells array<string> row-major, n_unmatched), through
    one mapInArrow stage that runs ``pack_frame`` on every frame of
    complete pages."""
    import pyarrow as pa
    from ..kernels.pagegroups import iter_page_groups

    def kernel(batches):
        for batch, bounds in iter_page_groups(batches, name):
            n_rows, n_cols, cells, n_unmatched = pack_frame(
                batch, bounds, page_grids)
            first = pa.array(bounds[:-1])
            yield pa.RecordBatch.from_arrays([
                batch.column("doc_id").take(first),
                batch.column("page").take(first).cast(pa.int32()),
                pa.array(n_rows, pa.int32()), pa.array(n_cols, pa.int32()),
                cells, pa.array(n_unmatched, pa.int32())],
                names=["doc_id", "page", "n_rows", "n_cols", "cells",
                       "n_unmatched"])

    return rows.mapInArrow(
        kernel, schema="doc_id string, page int, n_rows int, n_cols int, "
                       "cells array<string>, n_unmatched int")


def pack_joined(joined: DataFrame) -> DataFrame:
    """Joined (boxes x page positions) rows -> one packed row per page.
    PRECONDITION: rows of one (doc_id, page) arrive contiguously within a
    partition; violations raise (never silent duplicates)."""
    import pyarrow as pa
    from ..kernels.gridfit import padded

    def page_grids(batch, bounds, *_):
        first = pa.array(bounds[:-1])
        out = []
        for name in ("col_positions", "row_positions"):
            lists = batch.column(name).take(first)
            lens = lists.value_lengths().cast(pa.int64()).to_numpy()
            out.append((padded(lists.flatten().to_numpy(zero_copy_only=False),
                               lens), lens))
        return out

    return _pack_pages(joined, "assign_and_pack", page_grids)


def profile_grids(model, col_break_dist: float, row_break_dist: float,
                  pad_x: float, pad_y: float,
                  same_size_use_model_arr_diff_thresh=None):
    """The ``page_grids`` of ``pack_frame`` for boxes alone, with the
    fitted corpus column model in the closure: one pass each over the
    whole frame profiles every page (kernels/pagegrid.profile_pages, the
    math of operators/clustering.page_profiles), repairs every page's
    column centers against the model (kernels/clustering.repair_pages)
    and builds every page's borders (kernels/pagegrid.grid_borders)."""
    import numpy as np
    from ..kernels.clustering import repair_pages
    from ..kernels.pagegrid import grid_borders, profile_pages

    m = np.array(model, dtype=float)
    cbd, rbd = float(col_break_dist), float(row_break_dist)
    pad_x, pad_y = float(pad_x), float(pad_y)
    thresh = same_size_use_model_arr_diff_thresh

    def page_grids(batch, bounds, l, t, r, b):
        cols, (rows, row_lens), max_r, max_b = profile_pages(
            bounds, l, t, r, b, cbd, rbd)
        return grid_borders(repair_pages(*cols, m, thresh), rows, row_lens,
                            max_r, max_b, pad_x, pad_y)

    return page_grids


def profile_and_pack(boxes: DataFrame, model, col_break_dist: float,
                     row_break_dist: float, pad_x: float, pad_y: float,
                     same_size_use_model_arr_diff_thresh=None) -> DataFrame:
    """Boxes + the fitted corpus column model -> one packed row per page
    (``pack_joined``'s schema) in ONE narrow Arrow kernel: ``pack_frame``
    with ``profile_grids``. The model rides the closure (it is O(n_cols)
    doubles), so no per-page border array is ever joined onto the box
    rows.

    PRECONDITION: as for ``page_profiles`` — rows of one (doc_id, page)
    arrive contiguously within a partition; violations raise. Boxes with
    a null doc_id or page get no packed row, like the inner join of
    ``assign_and_pack`` (they still count in the model fit)."""
    src = boxes.where(F.col("doc_id").isNotNull() & F.col("page").isNotNull()) \
        .select("doc_id", "page", "box_id", "left", "top", "width", "height",
                "value")
    return _pack_pages(src, "profile_and_pack", profile_grids(
        model, col_break_dist, row_break_dist, pad_x, pad_y,
        same_size_use_model_arr_diff_thresh))


def cells_from_positions(positions: DataFrame) -> DataFrame:
    """positions arrays -> one row per grid cell with its rect
    (JVM-side sequence+explode; parity: extract.py:18-43)."""
    p = positions.select(
        "doc_id", "page", "col_positions", "row_positions",
        (F.size("row_positions") - 1).alias("n_rows"),
        (F.size("col_positions") - 1).alias("n_cols"),
    )
    return (
        p.select(
            "doc_id", "page", "col_positions", "row_positions", "n_cols",
            F.explode(F.sequence(F.lit(0), F.col("n_rows") - 1)).alias("row_idx"))
        .select(
            "doc_id", "page", "col_positions", "row_positions", "row_idx",
            F.explode(F.sequence(F.lit(0), F.col("n_cols") - 1)).alias("col_idx"))
        .select(
            "doc_id", "page", "row_idx", "col_idx",
            F.element_at("col_positions", F.col("col_idx") + 1).alias("cell_l"),
            F.element_at("row_positions", F.col("row_idx") + 1).alias("cell_t"),
            F.element_at("col_positions", F.col("col_idx") + 2).alias("cell_r"),
            F.element_at("row_positions", F.col("row_idx") + 2).alias("cell_b"),
        )
    )


def cell_texts(assigned: DataFrame, positions: DataFrame) -> DataFrame:
    """Aggregate assigned boxes into cell text (join_texts semantics) and
    left-join onto the FULL grid so empty cells materialize with ''.
    Matched boxes only (row_idx >= 0). Null values are skipped and the
    trim strips every str.isspace character, as kernels/pagegrid.pack_pages
    does."""
    from ..kernels.strings import WHITESPACE

    texts = (
        assigned.where(F.col("row_idx") >= 0)
        .groupBy("doc_id", "page", "row_idx", "col_idx")
        .agg(F.array_sort(F.collect_list(F.struct("left", "box_id", "value"))).alias("_b"))
        .select(
            "doc_id", "page", "row_idx", "col_idx",
            F.trim(F.array_join(F.transform("_b", lambda b: b["value"]), " "),
                   F.lit(WHITESPACE)).alias("cell_text"),
        )
    )
    grid = cells_from_positions(positions).select("doc_id", "page", "row_idx", "col_idx")
    return (
        grid.join(texts, ["doc_id", "page", "row_idx", "col_idx"], "left")
        .withColumn("cell_text", F.coalesce("cell_text", F.lit("")))
    )


def cell_texts_lines(assigned: DataFrame, positions: DataFrame,
                     boxes: DataFrame = None) -> DataFrame:
    """Cell text with split_texts_in_lines=True semantics
    (extract.py:139-140 -> textboxes.put_texts_in_lines +
    create_text_from_lines): boxes in a cell are grouped into visual
    lines (vertical-overlap heuristic), lines joined left-to-right with
    ' ', then concatenated with '\\n'. The line-grouping is sequential
    per cell, so cells are reduced to box arrays SQL-side and one
    Arrow-batched mapInPandas kernel materializes the strings — cells
    hold a handful of boxes each, so the Python work per row is tiny."""
    import pandas as pd
    from ..kernels.textflow import cell_text

    a = assigned.where(F.col("row_idx") >= 0)
    if "top" not in a.columns or "height" not in a.columns:
        # the assignment kernel only carries (left, value) — recover the
        # vertical geometry the line grouping needs from the boxes
        a = a.join(boxes.select("doc_id", "page", "box_id", "top", "height"),
                   ["doc_id", "page", "box_id"])
    packed = (
        a
        .groupBy("doc_id", "page", "row_idx", "col_idx")
        .agg(F.array_sort(F.collect_list(F.struct(
            "box_id", "left", "top", "height", "value"))).alias("cellboxes")))

    def kernel(batches):
        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                b = pd.DataFrame(
                    [(x["left"], x["top"], x["height"], x["value"])
                     for x in r.cellboxes],
                    columns=["left", "top", "height", "value"])
                out.append((r.doc_id, r.page, r.row_idx, r.col_idx,
                            cell_text(b, split_in_lines=True)))
            yield pd.DataFrame(out, columns=[
                "doc_id", "page", "row_idx", "col_idx", "cell_text"])

    texts = packed.mapInPandas(
        kernel, schema="doc_id string, page int, row_idx long, "
                       "col_idx long, cell_text string")
    grid = cells_from_positions(positions).select(
        "doc_id", "page", "row_idx", "col_idx")
    return (grid.join(texts, ["doc_id", "page", "row_idx", "col_idx"], "left")
            .withColumn("cell_text", F.coalesce("cell_text", F.lit(""))))
