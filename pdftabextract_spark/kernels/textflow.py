"""Textbox flow kernels over pandas/numpy batches.

Boxes are represented columnar-ly (pandas DataFrame with at least
left/top/width/height/value; right/bottom derived) — the Arrow batch shape
used by every applyInPandas stage. Semantics parity with
/root/reference/pdftabextract/textboxes.py (cited per function).
"""

import numpy as np
import pandas as pd

DIRECTION_HORIZONTAL = "h"
DIRECTION_VERTICAL = "v"


def with_derived_edges(boxes: pd.DataFrame) -> pd.DataFrame:
    """Add right/bottom derived columns (projection — parity:
    common.py:199-223 corner fields, columnar instead of stored)."""
    out = boxes.copy()
    out["right"] = out["left"] + out["width"]
    out["bottom"] = out["top"] + out["height"]
    return out


def border_positions(boxes: pd.DataFrame, direction, only_attr=None) -> np.ndarray:
    """Sorted border positions of boxes for a direction.
    Vertical -> top+bottom, horizontal -> left+right; ``only_attr`` in
    {'low','high'} restricts to one side. Parity: textboxes.py:19-52."""
    if direction not in (DIRECTION_HORIZONTAL, DIRECTION_VERTICAL):
        raise ValueError("direction must be 'h' or 'v'")
    if only_attr is not None and only_attr not in ("low", "high"):
        raise ValueError("only_attr must be 'low', 'high' or None")

    if direction == DIRECTION_VERTICAL:
        lo = boxes["top"].to_numpy(dtype=float)
        hi = lo + boxes["height"].to_numpy(dtype=float)
    else:
        lo = boxes["left"].to_numpy(dtype=float)
        hi = lo + boxes["width"].to_numpy(dtype=float)

    if only_attr == "low":
        vals = lo
    elif only_attr == "high":
        vals = hi
    else:
        # reference appends lo then hi per text, then sorts the whole list
        vals = np.concatenate([np.stack([lo, hi], axis=1).ravel()]) if len(lo) else np.array([])
    return np.sort(vals)


def section_ids_by_positions(edge_vals: np.ndarray, positions: np.ndarray):
    """Band/interval join: for each edge value, the index i of the first
    position p_i with prev < v <= p_i, where prev starts at -1.
    Values above the last position get id = len(positions) (outside).
    Parity with the half-open (lo, hi] semantics of textboxes.py:81-92.
    """
    positions = np.asarray(positions, dtype=float)
    edge_vals = np.asarray(edge_vals, dtype=float)
    # side='left': count of positions strictly below v -> first interval
    # with v <= p_i; and v must be > -1 (prev of first interval)
    ids = np.searchsorted(positions, edge_vals, side="left")
    ids = np.where(edge_vals <= -1, -1, ids)  # at/below the virtual start
    return ids


def split_section_edge(boxes: pd.DataFrame, direction, alignment="high") -> np.ndarray:
    """The edge value used for section assignment: low/high border or
    middle, per direction. Parity: textboxes.py:76-86."""
    if alignment not in ("low", "middle", "high"):
        raise ValueError("alignment must be 'low', 'middle' or 'high'")
    b = with_derived_edges(boxes)
    if direction == DIRECTION_VERTICAL:
        if alignment == "high":
            return b["bottom"].to_numpy(dtype=float)
        if alignment == "low":
            return b["top"].to_numpy(dtype=float)
        return (b["top"] + b["height"] / 2).to_numpy(dtype=float)
    else:
        if alignment == "high":
            return b["right"].to_numpy(dtype=float)
        if alignment == "low":
            return b["left"].to_numpy(dtype=float)
        return (b["left"] + b["width"] / 2).to_numpy(dtype=float)


def split_texts_by_positions(boxes: pd.DataFrame, positions, direction,
                             alignment="high", discard_empty_sections=True):
    """Split boxes into sections by sorted ``positions``; returns a list of
    (section_boxes_df, (prev_pos, pos)) preserving the reference's
    half-open (prev, pos] check and -1 virtual start.
    Parity: textboxes.py:55-106."""
    if direction not in (DIRECTION_HORIZONTAL, DIRECTION_VERTICAL):
        raise ValueError("direction must be 'h' or 'v'")
    if len(positions) == 0:
        raise ValueError("positions must be non-empty sequence")

    edges = split_section_edge(boxes, direction, alignment)
    out = []
    prev = -1
    for pos in positions:
        mask = (edges > prev) & (edges <= pos)
        sec = boxes[mask]
        if len(sec) or not discard_empty_sections:
            out.append((sec, (prev, pos)))
        prev = pos
    return out


def line_ids(boxes: pd.DataFrame) -> np.ndarray:
    """Assign a line id to every box: sort by top; a line break happens
    after a box when the next box's spacing (top - prev bottom) is
    >= -mean_height/2 (vertical-overlap tolerance). Returns line id per
    input row (original order). Parity: textboxes.py:109-151 — including
    the detail that the *last* box of a run always closes its line (a
    synthetic 0.0 spacing is appended), and that the line-internal order is
    by left. The reference's "insert empty lines" expression ([] * n) is a
    no-op and is intentionally not reproduced (textboxes.py:143 dead code).
    """
    n = len(boxes)
    if n == 0:
        return np.array([], dtype=np.int64)
    top = boxes["top"].to_numpy(dtype=float)
    bottom = top + boxes["height"].to_numpy(dtype=float)
    mean_h = np.mean(bottom - top)

    order = np.argsort(top, kind="stable")
    spacings = np.empty(n)
    spacings[:-1] = top[order][1:] - bottom[order][:-1]
    spacings[-1] = 0.0

    min_break = -mean_h / 2
    # break AFTER box i when spacings[i] >= min_break -> next box starts new line
    breaks_after = spacings >= min_break
    ids_sorted = np.zeros(n, dtype=np.int64)
    if n > 1:
        ids_sorted[1:] = np.cumsum(breaks_after[:-1])
    ids = np.empty(n, dtype=np.int64)
    ids[order] = ids_sorted
    return ids


def put_texts_in_lines(boxes: pd.DataFrame):
    """Return a list of per-line DataFrames, each sorted left-to-right.
    Parity: textboxes.py:109-151."""
    ids = line_ids(boxes)
    if len(ids) == 0:
        return []
    b = boxes.copy()
    b["_line"] = ids
    lines = []
    for _, grp in b.groupby("_line", sort=True):
        lines.append(grp.sort_values("left", kind="stable").drop(columns="_line"))
    return lines


def join_texts(boxes: pd.DataFrame, sorted_by="left", glue=" ", strip=True) -> str:
    """Concatenate box values ordered by ``sorted_by``.
    Parity: textboxes.py:154-162."""
    if sorted_by:
        boxes = boxes.sort_values(sorted_by, kind="stable")
    s = glue.join(boxes["value"].astype(str).tolist())
    return s.strip() if strip else s


def create_text_from_lines(lines, linebreak="\n", linejoin=" ", strip=True) -> str:
    """Multi-line cell text from put_texts_in_lines output.
    Parity: textboxes.py:165-174."""
    text = ""
    for line in lines:
        text += join_texts(line, glue=linejoin, strip=strip) + linebreak
    return text.strip() if strip else text


def cell_text(boxes: pd.DataFrame, split_in_lines=False, **kwargs) -> str:
    """The cell-text materializer used at extraction time.
    Parity: extract.py:139-142."""
    if split_in_lines:
        return create_text_from_lines(put_texts_in_lines(boxes), **kwargs)
    return join_texts(boxes, **kwargs)
