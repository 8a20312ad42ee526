"""Media columns: images as opaque binary + typed metadata.

``probe_media`` sniffs each blob's header for its codec and pixel size
without decoding it (get_image_size parity); the catalogue and
schoollist loaders use it to size their page images.
"""

import pandas as pd
from pyspark.sql import DataFrame

from ..kernels.png import get_image_size_from_bytes

_META_SCHEMA = ("media_ref string, kind string, width int, height int, "
                "n_bytes long, codec string")


def probe_media(media: DataFrame) -> DataFrame:
    """Header-sniff metadata for every blob (cheap: first bytes only —
    get_image_size parity with common.py:322-359)."""
    def kernel(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                buf = bytes(r.bytes)
                size = get_image_size_from_bytes(buf)
                if buf[:8] == b"\x89PNG\r\n\x1a\n":
                    codec = "png"
                elif buf[:3] == b"\xff\xd8\xff":
                    codec = "jpeg"
                elif buf[:6] in (b"GIF87a", b"GIF89a"):
                    codec = "gif"
                else:
                    codec = "unknown"
                w, h = (size or (None, None))
                rows.append((r.media_ref, "image", w, h, len(buf), codec))
            yield pd.DataFrame(rows, columns=[
                "media_ref", "kind", "width", "height", "n_bytes", "codec"])

    return media.mapInPandas(kernel, schema=_META_SCHEMA)
