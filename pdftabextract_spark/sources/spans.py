"""Span-corpus decoding: the north-rule interleaved span table -> the
engine's textbox rows and page-image rows, in Arrow.

Each text span carries its box as a JSON payload ``{"v": value, "l":
left, "t": top, "w": width, "h": height, "p": page}`` (sources/synth.py,
sources/pdf2xml.py). ``decode_spans`` is the one decoder: it flattens a
batch of span-doc rows, parses the text payloads with the Arrow JSON
reader and returns the batch's boxes and image pages. The Spark entry
points ``textboxes_from_spans`` and ``pages_from_spans`` are thin
``mapInArrow`` stages over it, and both passes of
plans/pipeline.extract_from_span_table call it inside their kernels.
All of them cut their input with ``frames``, which first calls
kernels/pyworker.forget_zip_importers, so the Python worker that runs
the task skips the zip re-reads of its next task's setup.

Parity notes: a payload reads as ``F.from_json`` with the box schema reads
it (``parse_payloads``). The box drop replicates parse_pages' rect
validation (pdftabextract common.py:138-141) plus a box
with no usable left or top; page/image pairing replicates the page dict's
image field (common.py:125-132).
"""

import json
import math
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.json as pj
from pyspark.sql import DataFrame, functions as F

from ..kernels.pyworker import forget_zip_importers

BOX_SCHEMA = pa.schema([("v", pa.string()), ("l", pa.float64()),
                        ("t", pa.float64()), ("w", pa.float64()),
                        ("h", pa.float64()), ("p", pa.int32())])

_TEXTBOXES = ("doc_id string, page int, box_id int, left double, "
              "top double, width double, height double, value string")

# the span count a decoded frame is cut at (whole doc rows only), which
# bounds the kernels' per-frame arrays
MAX_FRAME_SPANS = 1 << 16

# Payloads the Arrow reader could read differently from Spark's JSON
# reader go to the per-row parse: a null, anything that is not one
# object on one line, and the unquoted NaN/Infinity family (Arrow reads
# "-NaN" and "Inf", Spark's reader does not).
_ROW_PARSE = r"[\n\r]|NaN|Inf"
_PARSE = pj.ParseOptions(explicit_schema=BOX_SCHEMA,
                         unexpected_field_behavior="ignore")


# ------------------------------------------------------ payload parsing

class _Int(str):
    """The text of a JSON integer token."""


class _Float(str):
    """The text of a JSON fraction/exponent number token."""


_DECODER = json.JSONDecoder(parse_int=_Int, parse_float=_Float,
                            parse_constant=float)
_SPECIAL_DOUBLES = {"NaN": math.nan, "Infinity": math.inf,
                    "+Infinity": math.inf, "+INF": math.inf,
                    "-Infinity": -math.inf, "-INF": -math.inf}
_NULL_BOX = (None,) * 6


def _java_double(x: float) -> str:
    """Double.toString, as Jackson writes a double (non-finite quoted)."""
    if math.isnan(x) or math.isinf(x):
        return '"%s"' % ("NaN" if math.isnan(x) else
                         "Infinity" if x > 0 else "-Infinity")
    if x == 0 or 1e-3 <= abs(x) < 1e7:
        return repr(x)
    t = Decimal(repr(abs(x))).as_tuple()
    digits = "".join(map(str, t.digits)).rstrip("0")
    return "%s%s.%sE%d" % ("-" if x < 0 else "", digits[0],
                           digits[1:] or "0", len(t.digits) - 1 + t.exponent)


def _utf8(s: str) -> str:
    # a lone surrogate escape becomes '?', as the JVM encodes it
    return s.encode("utf-8", "replace").decode("utf-8")


def _json_text(x) -> str:
    """A non-string JSON value as Spark stores it in a string field: the
    compact text Jackson copies out of the parser."""
    if isinstance(x, _Int):
        return str(int(x))
    if isinstance(x, (_Float, float)):
        return _java_double(float(x))
    if isinstance(x, str):
        return json.dumps(_utf8(x), ensure_ascii=False)
    if isinstance(x, list):
        return "[%s]" % ",".join(map(_json_text, x))
    if isinstance(x, dict):
        return "{%s}" % ",".join(_json_text(k) + ":" + _json_text(v)
                                 for k, v in x.items())
    return json.dumps(x)   # true, false, null


def _string(x):
    if x is None:
        return None
    return _utf8(x) if type(x) is str else _json_text(x)


def _double(x):
    if isinstance(x, (_Int, _Float)):
        return float(x)
    if isinstance(x, float):
        return x
    return _SPECIAL_DOUBLES.get(x) if isinstance(x, str) else None


def _int(x):
    if isinstance(x, _Int) and -2 ** 31 <= int(x) < 2 ** 31:
        return int(x)
    return None


def parse_one(s):
    """One payload -> (v, l, t, w, h, p) as ``F.from_json`` reads it with
    the box schema: a field of the wrong type is null and the others are
    kept; a payload that is not a JSON object is all nulls; text after
    the first value is ignored. Known gaps against Spark's reader: it
    also accepts single-quoted strings and unquoted ``+Infinity`` /
    ``-INF`` / ``+INF``, which read as malformed here."""
    if s is None:
        return _NULL_BOX
    try:
        obj, _ = _DECODER.raw_decode(s, len(s) - len(s.lstrip(" \t\n\r")))
    except (ValueError, RecursionError):
        return _NULL_BOX
    if not isinstance(obj, dict):
        return _NULL_BOX
    g = obj.get
    return (_string(g("v")), _double(g("l")), _double(g("t")),
            _double(g("w")), _double(g("h")), _int(g("p")))


def _read_lines(text: pa.Array):
    """Payloads as one NDJSON buffer through the Arrow reader -> a table
    with one row per payload, or None when the reader rejects them."""
    joined = pc.binary_join(pa.ListArray.from_arrays(
        pa.array([0, len(text)], pa.int32()), text), "\n")[0].as_buffer()
    try:
        table = pj.read_json(
            pa.BufferReader(joined),
            read_options=pj.ReadOptions(use_threads=False,
                                        block_size=joined.size + 1),
            parse_options=_PARSE)
    except pa.ArrowInvalid:
        return None
    return table if table.num_rows == len(text) else None


def parse_payloads(text: pa.Array) -> pa.RecordBatch:
    """Text-span payloads (a pyarrow string array) -> a record batch
    of ``BOX_SCHEMA`` with one row per payload, equal to ``F.from_json(text,
    box schema)``. Payloads the Arrow JSON reader reads like Spark go
    through it in one call; the rest, and every payload of a batch the
    reader rejects, go through ``parse_one``."""
    fast = pc.and_(
        pc.starts_with(pc.utf8_ltrim(text, " \t"), "{"),
        pc.invert(pc.match_substring_regex(text, _ROW_PARSE)))
    fast = fast.fill_null(False).to_numpy(zero_copy_only=False)
    fi = np.flatnonzero(fast)
    table = None if not len(fi) else _read_lines(
        text if len(fi) == len(text) else text.take(pa.array(fi)))
    if table is None:
        fi = fi[:0]
    si = np.setdiff1d(np.arange(len(text)), fi)
    if not len(si) and table is not None:
        return pa.RecordBatch.from_arrays(
            [c.combine_chunks() for c in table.columns], schema=BOX_SCHEMA)
    slow = list(zip(*map(parse_one, text.take(pa.array(si)).to_pylist()))) \
        or [[]] * len(BOX_SCHEMA)
    inv = np.empty(len(text), dtype=np.int64)
    inv[np.concatenate([fi, si])] = np.arange(len(text))
    cols = []
    for i, field in enumerate(BOX_SCHEMA):
        parts = [pa.array(slow[i], field.type)]
        if table is not None:
            parts.insert(0, table.column(i).combine_chunks())
        cols.append(pa.concat_arrays(parts).take(pa.array(inv)))
    return pa.RecordBatch.from_arrays(cols, schema=BOX_SCHEMA)


# ------------------------------------------------------------ decoding

def frames(batches):
    """Span-doc record batches -> slices of whole doc rows, a new slice
    starting at the row that carries the span count past each multiple
    of ``MAX_FRAME_SPANS``."""
    forget_zip_importers()
    for batch in batches:
        n = pc.list_value_length(batch.column("spans")).fill_null(0) \
            .to_numpy(zero_copy_only=False)
        chunk = np.cumsum(n) // MAX_FRAME_SPANS
        cuts = np.concatenate([[0], np.flatnonzero(np.diff(chunk)) + 1,
                               [batch.num_rows]])
        for s, e in zip(cuts[:-1], cuts[1:]):
            if e > s:
                yield batch.slice(s, e - s)


def _numbers(arr: pa.Array) -> np.ndarray:
    """Numeric array -> float numpy, a null as NaN."""
    return np.asarray(arr.to_numpy(zero_copy_only=False), dtype=float)


def image_pages(row, offset, is_text, is_image, text_page):
    """Each doc row's image spans -> the page each one belongs to, one
    image per (row, page). Inputs are per-span arrays of a frame (any
    order): the doc row, the span offset (NaN = null), the kind masks and
    the payload page of text spans (NaN = none). Returns (span index,
    page) of the winning images.

    An image takes the page of the next text span by offset: in the
    interleaved layout (synth and pdf2xml ingestion) a page's image span
    immediately precedes that page's text spans; rank among image spans
    would misattribute images whenever some pages carry none. The k-th
    trailing image with no following text takes prev-text-page + k
    (monotone, so several trailing images never collide); a doc with no
    text page at all falls back to image rank. The lowest offset wins a
    (row, page), the reference's select_image='first'
    (common.py:97-122). The winners come sorted by (row, page)."""
    # offset order within each row, a null offset first (Spark's asc)
    order = np.lexsort((np.nan_to_num(offset, nan=-np.inf), row))
    r = row[order]
    tp = np.where(is_text[order], text_page[order], np.nan)
    n = len(order)
    pos = np.arange(n)
    has = ~np.isnan(tp)
    nxt = np.minimum.accumulate(np.where(has, pos, n)[::-1])[::-1]
    prv = np.maximum.accumulate(np.where(has, pos, -1))
    img = np.flatnonzero(is_image[order])
    if not len(img):
        return img, img
    ir = r[img]
    nx, pv = np.minimum(nxt[img], n - 1), np.maximum(prv[img], 0)
    has_next = (nxt[img] < n) & (r[nx] == ir)
    has_prev = (prv[img] >= 0) & (r[pv] == ir)
    first = np.flatnonzero(np.diff(ir, prepend=-1))
    start = np.repeat(first, np.diff(np.append(first, len(img))))
    trail = np.cumsum(~has_next)
    trail_k = trail - trail[start] + (~has_next)[start]
    rank = np.arange(len(img)) - start + 1
    page = np.where(has_next, tp[nx],
                    np.where(has_prev, tp[pv] + trail_k, rank)).astype(np.int64)
    by_page = np.lexsort((page, ir))     # stable: offset order within a page
    ir, page = ir[by_page], page[by_page]
    win = np.flatnonzero((np.diff(ir, prepend=-1) != 0)
                         | (np.diff(page, prepend=page[0] - 1) != 0))
    return order[img[by_page[win]]], page[win]


def decode_spans(batch: pa.RecordBatch, images: bool = False):
    """A frame of span-doc rows (doc_id, spans) -> (boxes, image pages).

    ``boxes`` has one row per kept text span: ``_row`` (the doc row in
    the frame), doc_id, page, box_id (the span offset), left, top, width,
    height, value, sorted by (_row, page, box_id) — so every page is one
    contiguous run, whatever the order of the doc's spans. A box is kept
    unless its width or height is null or not > 0 (Spark's comparison,
    under which NaN > 0), or its left or top is null or NaN.

    ``image pages`` (only when ``images``) has one row per (doc row, page)
    with an image: ``_row``, page, media_ref (``image_pages``), sorted by
    (_row, page); None otherwise."""
    spans = batch.column("spans")
    row = pc.list_parent_indices(spans).to_numpy(zero_copy_only=False)
    kind, text, media_ref, offset = spans.flatten().flatten()
    is_text = pc.equal(kind, "text").fill_null(False) \
        .to_numpy(zero_copy_only=False)
    ti = np.flatnonzero(is_text)
    box = parse_payloads(text.take(pa.array(ti)))
    left, top, width, height = (_numbers(box.column(c))
                                for c in ("l", "t", "w", "h"))
    page = _numbers(box.column("p"))
    with np.errstate(invalid="ignore"):
        keep = ~np.isnan(left) & ~np.isnan(top) \
            & (box.column("w").is_valid().to_numpy(zero_copy_only=False)
               & ((width > 0) | np.isnan(width))) \
            & (box.column("h").is_valid().to_numpy(zero_copy_only=False)
               & ((height > 0) | np.isnan(height)))
    k = np.flatnonzero(keep)
    box_offset = _numbers(offset.take(pa.array(ti[k])))
    k = k[np.lexsort((box_offset, page[k], row[ti[k]]))]
    kk, sk = pa.array(k), pa.array(ti[k])
    boxes = pa.RecordBatch.from_arrays([
        pa.array(row[ti[k]]), batch.column("doc_id").take(pa.array(row[ti[k]])),
        box.column("p").take(kk), offset.take(sk),
        box.column("l").take(kk), box.column("t").take(kk),
        box.column("w").take(kk), box.column("h").take(kk),
        box.column("v").take(kk)],
        names=["_row", "doc_id", "page", "box_id", "left", "top", "width",
               "height", "value"])
    if not images:
        return boxes, None
    text_page = np.full(len(row), np.nan)
    text_page[ti] = page
    is_image = pc.equal(kind, "image").fill_null(False) \
        .to_numpy(zero_copy_only=False)
    idx, img_page = image_pages(row, _numbers(offset), is_text, is_image,
                                text_page)
    pages = pa.RecordBatch.from_arrays([
        pa.array(row[idx]), pa.array(img_page, pa.int32()),
        media_ref.take(pa.array(idx))], names=["_row", "page", "media_ref"])
    return boxes, pages


# ------------------------------------------------------ Spark entry points

def textboxes_from_spans(span_docs: DataFrame) -> DataFrame:
    """kind='text' spans -> textbox rows (doc_id, page, box_id, left, top,
    width, height, value); drops the boxes ``decode_spans`` drops, like
    the reference parse. Each doc's rows come out page-contiguous."""
    names = [f.split()[0] for f in _TEXTBOXES.split(", ")]

    def kernel(batches):
        for frame in frames(batches):
            boxes, _ = decode_spans(frame)
            yield boxes.select(names)

    return span_docs.select("doc_id", "spans").mapInArrow(
        kernel, schema=_TEXTBOXES)


def pages_from_spans(span_docs: DataFrame) -> DataFrame:
    """kind='image' spans -> (doc_id, page, media_ref), one row per page
    with an image; pages are attributed by ``image_pages``."""
    def kernel(batches):
        for frame in frames(batches):
            _, pages = decode_spans(frame, images=True)
            yield pa.RecordBatch.from_arrays([
                frame.column("doc_id").take(pages.column("_row")),
                pages.column("page"), pages.column("media_ref")],
                names=["doc_id", "page", "media_ref"])

    return span_docs.select("doc_id", "spans").mapInArrow(
        kernel, schema="doc_id string, page int, media_ref string")


def assemble_span_table(result_spans: DataFrame) -> DataFrame:
    """Exploded result spans (doc_id, kind, text, media_ref, offset) ->
    north-rule span-doc table (collect_list ordered by offset)."""
    return (
        result_spans
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct(
            F.col("offset"), F.col("kind"), F.col("text"), F.col("media_ref")
        ))).alias("_s"))
        .select(
            "doc_id",
            F.transform("_s", lambda s: F.struct(
                s["kind"].alias("kind"),
                s["text"].alias("text"),
                s["media_ref"].alias("media_ref"),
                s["offset"].alias("offset"),
            )).alias("spans"),
        )
    )
