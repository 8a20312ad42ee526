"""Debug overlay SINK: render grid borders onto the page images as PNG
blobs — the distributed staging of the reference's visual diagnostics
(imgproc.py:364-442; its examples write overlay PNGs per page while
tuning, catalog_30s.py:95-102).

Scale shape: one mapInPandas over (page x media) rows — per-page unit of
work, no shuffle beyond the media equi-join, output is a binary column a
caller writes wherever overlays go (parquet, object store). Rendering is
the numpy kernel (kernels/draw.py); PNG encoding is the engine's own
encoder (kernels/png.py).
"""

import pandas as pd
from pyspark.sql import DataFrame

from ..kernels import draw as D
from ..kernels.png import encode_png
from ..kernels.raster import decode_raster

_OVERLAY_SCHEMA = "doc_id string, page int, media_ref string, overlay binary"


def render_grid_overlays(positions: DataFrame, pages: DataFrame,
                         media: DataFrame, color=(255, 0, 0),
                         line_width=1) -> DataFrame:
    """Per-page (col_positions, row_positions) border arrays (page
    coordinates — the save_page_grids payload) + page images ->
    (doc_id, page, media_ref, overlay PNG) with every grid border drawn
    full-span, scaled page->image space via the page/image dims."""
    joined = (positions.select("doc_id", "page", "col_positions",
                               "row_positions")
              .join(pages.select("doc_id", "page", "media_ref", "width",
                                 "height", "img_w", "img_h"),
                    ["doc_id", "page"])
              .join(media, "media_ref"))

    def kernel(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                img = D.to_rgb(decode_raster(bytes(r.bytes)))
                D.draw_grid(img, list(r.col_positions), list(r.row_positions),
                            color=color, width=line_width,
                            scale_x=float(r.img_w) / float(r.width),
                            scale_y=float(r.img_h) / float(r.height))
                rows.append((r.doc_id, int(r.page), r.media_ref,
                             encode_png(img)))
            yield pd.DataFrame(rows, columns=[
                "doc_id", "page", "media_ref", "overlay"])

    return joined.mapInPandas(kernel, schema=_OVERLAY_SCHEMA)
