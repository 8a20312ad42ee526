"""Grid construction + textbox->cell assignment + cell-text materialization.

The assignment is the reference's interval theta-join with argmax
(/root/reference/pdftabextract/extract.py:46-117), scored per page by the
numpy broadcast kernel kernels/gridfit.assign_boxes_to_cells. Two
operators run it:

* ``assign_and_pack`` (text path): one Arrow-batched mapInPandas stage
  that assigns and materializes the cell texts, emitting one packed row
  per page. Pages that straddle Arrow batches are reassembled by
  kernels/pagegroups.

* ``assign_cells_joined`` (image, catalogue and schoollist paths): the
  long form, one row per box with its (row_idx, col_idx); ``cell_texts``
  / ``cell_texts_lines`` then aggregate it onto the full grid.

Cell text parity: join_texts (textboxes.py:154-162) — sort by left (stable
by box order), join with ' ', strip.
"""

from pyspark.sql import DataFrame, functions as F

_ASSIGN_SCHEMA = ("doc_id string, page int, box_id int, left double, "
                  "value string, row_idx int, col_idx int")


def assign_cells_joined(boxes: DataFrame, positions: DataFrame) -> DataFrame:
    """Long-form assignment: equi-join boxes with their page's border
    arrays (AQE picks broadcast when positions is small — one row per
    page), then ONE Arrow-batched mapInPandas kernel. Assignment is
    per-box independent given the page grid, so no grouping shuffle is
    needed at all; the kernel just sub-groups each Arrow batch by page to
    vectorize boxes x cells scoring. ~50x fewer Python crossings than a
    per-page applyInPandas."""
    import numpy as np
    import pandas as pd
    from ..kernels.gridfit import assign_boxes_to_cells
    from ..kernels.pagegroups import page_bounds

    joined = boxes.join(
        positions.select("doc_id", "page", "col_positions", "row_positions"),
        ["doc_id", "page"])

    def kernel(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            # group by page via sort + slice on numpy arrays — no per-page
            # pandas sub-frames/copies (53k pages per job add up)
            doc_ids = pdf["doc_id"].to_numpy()
            pages = pdf["page"].to_numpy()
            order = np.lexsort((pages, doc_ids))
            l = pdf["left"].to_numpy(dtype=float)[order]
            t = pdf["top"].to_numpy(dtype=float)[order]
            r = l + pdf["width"].to_numpy(dtype=float)[order]
            b = t + pdf["height"].to_numpy(dtype=float)[order]
            col_pos = pdf["col_positions"].to_numpy()[order]
            row_pos = pdf["row_positions"].to_numpy()[order]
            bounds = page_bounds(doc_ids[order], pages[order])
            out_row = np.empty(n, dtype=np.int64)
            out_col = np.empty(n, dtype=np.int64)
            for s, e in zip(bounds[:-1], bounds[1:]):
                ltrb = np.stack([l[s:e], t[s:e], r[s:e], b[s:e]], axis=1)
                ri, ci = assign_boxes_to_cells(ltrb, col_pos[s], row_pos[s])
                out_row[s:e] = ri
                out_col[s:e] = ci
            inv = np.empty(n, dtype=np.int64)
            inv[order] = np.arange(n)
            yield pd.DataFrame({
                "doc_id": doc_ids,
                "page": pages,
                "box_id": pdf["box_id"].to_numpy(),
                "left": pdf["left"].to_numpy(),
                "value": pdf["value"].to_numpy(),
                "row_idx": out_row[inv],
                "col_idx": out_col[inv],
            })

    return joined.mapInPandas(kernel, schema=_ASSIGN_SCHEMA)


def assign_and_pack(boxes: DataFrame, positions: DataFrame,
                    page_contiguous: bool = False) -> DataFrame:
    """Fused assignment + cell-text materialization: one Arrow-batched
    mapInPandas stage emitting ONE ROW PER PAGE:
    (doc_id, page, n_rows, n_cols, cells array<string> row-major,
    n_unmatched). No grid-side shuffle at all — the long-form cells join
    (grid x texts, ~2x corpus rows through the exchange) and the
    document-wide result window disappear; offsets derive from page-level
    cumsums downstream. Cell-text parity: join_texts (sort by (left,
    box_id), ' '-join, strip — textboxes.py:154-162)."""
    joined = boxes.join(
        positions.select("doc_id", "page", "col_positions", "row_positions"),
        ["doc_id", "page"])
    # the kernel aggregates PER PAGE: every page's rows must live in one
    # partition and arrive contiguously; the kernel carries the trailing
    # page group across Arrow batch boundaries — without all this, pages
    # straddling a batch emit duplicate partial rows and the output
    # depends on parallelism. Boxes exploded from the span table are
    # page-contiguous by construction (one doc row -> one exploded run,
    # spans in offset order), so that path skips the exchange; a runtime
    # invariant inside pack_joined fails loudly if the assumption breaks.
    if not page_contiguous:
        joined = joined.repartition("doc_id", "page") \
                       .sortWithinPartitions("doc_id", "page")
    return pack_joined(joined)


def pack_joined(joined: DataFrame) -> DataFrame:
    """Joined (boxes x page positions) rows -> one packed row per page.
    PRECONDITION: rows of one (doc_id, page) arrive contiguously within a
    partition; violations raise (never silent duplicates)."""
    import numpy as np
    import pandas as pd
    from ..kernels.gridfit import assign_boxes_to_cells
    from ..kernels.pagegroups import iter_page_groups

    def _process(pdf: pd.DataFrame, bounds: np.ndarray) -> pd.DataFrame:
        l = pdf["left"].to_numpy(dtype=float)
        t = pdf["top"].to_numpy(dtype=float)
        r = l + pdf["width"].to_numpy(dtype=float)
        b = t + pdf["height"].to_numpy(dtype=float)
        box_id = pdf["box_id"].to_numpy()
        value = pdf["value"].to_numpy()
        doc_ids = pdf["doc_id"].to_numpy()
        pages = pdf["page"].to_numpy()
        col_pos = pdf["col_positions"].to_numpy()
        row_pos = pdf["row_positions"].to_numpy()
        out = []
        for s, e in zip(bounds[:-1], bounds[1:]):
            cp = np.asarray(col_pos[s], dtype=float)
            rp = np.asarray(row_pos[s], dtype=float)
            n_rows, n_cols = len(rp) - 1, len(cp) - 1
            ltrb = np.stack([l[s:e], t[s:e], r[s:e], b[s:e]], axis=1)
            ri, ci = assign_boxes_to_cells(ltrb, cp, rp)
            matched = ri >= 0
            cell_idx = ri[matched] * n_cols + ci[matched]
            cells = [""] * (n_rows * n_cols)
            if cell_idx.size:
                midx = matched.nonzero()[0] + s
                lefts = l[s:e][matched]
                bids = box_id[midx]
                vals = value[midx]
                ordc = np.lexsort((bids, lefts, cell_idx))
                ci_sorted = cell_idx[ordc]
                v_sorted = vals[ordc]
                cuts = np.flatnonzero(np.concatenate(
                    [[True], ci_sorted[1:] != ci_sorted[:-1], [True]]))
                for cs, ce in zip(cuts[:-1], cuts[1:]):
                    cells[int(ci_sorted[cs])] = " ".join(
                        str(v) for v in v_sorted[cs:ce]).strip()
            out.append((doc_ids[s], int(pages[s]), n_rows, n_cols,
                        cells, int((~matched).sum())))
        return pd.DataFrame(out, columns=[
            "doc_id", "page", "n_rows", "n_cols", "cells", "n_unmatched"])

    def kernel(batches):
        for pdf, bounds in iter_page_groups(batches, "assign_and_pack"):
            yield _process(pdf, bounds)

    return joined.mapInPandas(
        kernel, schema="doc_id string, page int, n_rows int, n_cols int, "
                       "cells array<string>, n_unmatched int")


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
    Matched boxes only (row_idx >= 0)."""
    texts = (
        assigned.where(F.col("row_idx") >= 0)
        .groupBy("doc_id", "page", "row_idx", "col_idx")
        .agg(F.array_sort(F.collect_list(F.struct("left", "box_id", "value"))).alias("_b"))
        .select(
            "doc_id", "page", "row_idx", "col_idx",
            F.trim(F.array_join(F.transform("_b", lambda b: b["value"]), " ")).alias("cell_text"),
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
