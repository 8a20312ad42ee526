"""Scalar SQL functions vs numpy kernels; multimodal plumbing."""

import numpy as np
from pyspark.sql import functions as F

from pdftabextract_spark import functions as FX
from pdftabextract_spark.kernels import geom as GK
from pdftabextract_spark.kernels.png import encode_png
from pdftabextract_spark.operators import multimodal as MM


def test_scalar_functions_match_kernels(spark):
    rng = np.random.RandomState(3)
    rows = []
    for i in range(200):
        al, at = rng.rand(2) * 100
        ar, ab = al + rng.rand() * 50 + 0.1, at + rng.rand() * 50 + 0.1
        bl, bt = rng.rand(2) * 100
        br, bb = bl + rng.rand() * 50 + 0.1, bt + rng.rand() * 50 + 0.1
        rows.append((i, float(al), float(at), float(ar), float(ab),
                     float(bl), float(bt), float(br), float(bb)))
    df = spark.createDataFrame(rows, "id long, al double, at double, ar double, "
                                     "ab double, bl double, bt double, br double, bb double")
    got = df.select(
        "id",
        FX.rect_intersect("al", "at", "ar", "ab", "bl", "bt", "br", "bb", norm="b").alias("ix"),
        FX.rect_center_dist("al", "at", "ar", "ab", "bl", "bt", "br", "bb").alias("cd"),
        FX.interval_overlap("al", "ar", "bl", "br").alias("ov"),
    ).collect()
    for r, row in zip(sorted(got, key=lambda x: x["id"]), rows):
        _, al, at, ar, ab, bl, bt, br, bb = row
        a = GK.rect(GK.pt(al, at), GK.pt(ar, ab))
        b = GK.rect(GK.pt(bl, bt), GK.pt(br, bb))
        expect = GK.rectintersect(a, b, norm_intersect_area="b")
        if expect is None:
            assert r["ix"] is None
        else:
            assert abs(r["ix"] - expect) < 1e-12
        assert abs(r["cd"] - GK.rectcenter_dist(a, b)) < 1e-9
        assert r["ov"] == GK.overlap(al, ar, bl, br)


def test_rel_levenshtein(spark):
    df = spark.createDataFrame(
        [("kitten", "sitting"), ("", ""), ("abc", "abc")], "a string, b string")
    got = [r["rl"] for r in df.select(FX.rel_levenshtein("a", "b").alias("rl")).collect()]
    assert got[0] == 3 / 7
    assert got[1] == 0.0
    assert got[2] == 0.0


def test_probe_and_features_and_resize(spark):
    rng = np.random.RandomState(1)
    imgs = {f"m{i}": rng.randint(0, 256, (20 + i, 30 + i), dtype=np.uint8)
            for i in range(3)}
    media = spark.createDataFrame(
        [(k, bytearray(encode_png(v))) for k, v in imgs.items()],
        "media_ref string, bytes binary")

    meta = {r["media_ref"]: r for r in MM.probe_media(media).collect()}
    for k, v in imgs.items():
        assert meta[k]["codec"] == "png"
        assert (meta[k]["width"], meta[k]["height"]) == (v.shape[1], v.shape[0])
