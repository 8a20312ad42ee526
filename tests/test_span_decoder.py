"""The span-table decoder (sources/spans.decode_spans) against Spark's own
JSON reader, and the span path's input rules: page order inside a doc row,
boxes without a usable left or top, and a doc_id repeated across rows."""

import json
import math
import random

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from pdftabextract_spark.plans.pipeline import (
    PipelineParams, extract_from_span_table)
from pdftabextract_spark.sources.spans import (
    BOX_SCHEMA, parse_payloads, textboxes_from_spans)

SPAN_DOCS = ("doc_id string, spans array<struct<kind string, text string, "
             "media_ref string, offset int>>")
BOX_JSON = "struct<v string, l double, t double, w double, h double, p int>"
PIPE = PipelineParams(n_cols=2, min_col_width=80.0, min_row_height=30.0)
GEOM = '"l":10,"t":10,"w":5,"h":5'

# payload -> what Spark 4.1's from_json gives with the box schema (the
# test checks every entry against F.from_json itself)
FIXTURE = [
    '{"v":"a",' + GEOM + ',"p":1}',                    # plain box
    '{"v":"b","l":"bad","t":10,"w":5,"h":5,"p":1}',    # l null, rest kept
    '{"v":"c",' + GEOM + ',"p":1.5}',                  # p null
    '{"v":"d",' + GEOM + ',"p":"1"}',                  # p null
    '{"v":5,' + GEOM + ',"p":1}',                      # v '5'
    '{"v":"e","l":"NaN","t":10,"w":5,"h":5,"p":1}',    # l NaN
    '{"v":"f","l":1e400,"t":10,"w":5,"h":5,"p":1}',    # l inf
    '{"V":"g","L":10,"T":10,"W":5,"H":5,"P":1}',       # upper case: nulls
    'not json',                                        # all null
    '{"v":"h",' + GEOM + ',"p":1',                     # truncated: all null
    '[1,2]',                                           # all null
    '{"v":"i",' + GEOM + ',"p":1} trailing',           # trailing ignored
    None,                                              # all null
    '{"v":"j","l":10,"t":10,"w":"NaN","h":5,"p":1}',   # NaN > 0 in Spark
    '{"v":"k","l":10,"t":10,"w":0,"h":5,"p":1}',       # zero area
    '{"v":"m","l":-Infinity,"t":10,"w":5,"h":5,"p":1}',
    '{"v":"n","l":10,"t":"-INF","w":5,"h":5,"p":1}',
    '{"v":"o","l":10,"t":-NaN,"w":5,"h":5,"p":1}',     # all null
    '{"v":"q","l":10,"l":20,"t":10,"w":5,"h":5,"p":1}',
    '{"v":"r",' + GEOM + ',"p":3000000000}',
    '{"v":{"x": [1, 2.50, "s"]},' + GEOM + ',"p":1}',
    '{"v":1e20,' + GEOM + ',"p":1}',
    '{"v":"\\ud800",' + GEOM + ',"p":1}',
    '{"v":"s\\u00e9\\n",' + GEOM + ',"p":2}',
    ' {"v":"t",\n' + GEOM + ',"p":2}',
    '', 'null', '{}',
]


def _mutations(n, seed=7):
    """Seeded random edits of a well-formed payload: malformed and odd
    payloads for the reader comparison."""
    rng = random.Random(seed)
    alphabet = list('{}[]":,.-+eE0123456789 \tlvNaIf\\') + [
        "true", "null", "1e400", '"v"', '"p"', "\\u0041"]
    out = []
    for _ in range(n):
        s = list(FIXTURE[0])
        for _ in range(rng.randint(1, 3)):
            i = rng.randint(0, len(s) - 1)
            if rng.random() < 0.5:
                del s[i]
            else:
                s.insert(i, rng.choice(alphabet))
        out.append("".join(s))
    return out


def _same(a, b):
    return a == b or (isinstance(a, float) and isinstance(b, float)
                      and math.isnan(a) and math.isnan(b))


def test_payload_parse_equals_from_json(spark):
    """parse_payloads, on the whole table at once (the Arrow reader rejects
    it, so every payload takes the per-row parse) and one payload at a
    time (the Arrow reader takes the well-formed ones), equals
    F.from_json field by field."""
    payloads = FIXTURE + _mutations(300)
    df = spark.createDataFrame(list(enumerate(payloads)), "i int, s string")
    want = [tuple(r["b"][f.name] if r["b"] is not None else None
                  for f in BOX_SCHEMA)
            for r in df.select("i", F.from_json("s", BOX_JSON).alias("b"))
                       .orderBy("i").collect()]
    together = parse_payloads(pa.array(payloads, pa.string())).to_pylist()
    for i, s in enumerate(payloads):
        alone = parse_payloads(pa.array([s], pa.string())).to_pylist()[0]
        for got in (together[i], alone):
            assert all(_same(got[f.name], w)
                       for f, w in zip(BOX_SCHEMA, want[i])), (s, got, want[i])
    # the fixture's documented cases
    by_text = dict(zip(payloads, together))
    assert by_text[FIXTURE[4]]["v"] == "5"
    assert by_text[FIXTURE[6]]["l"] == math.inf
    assert by_text[FIXTURE[1]]["l"] is None and by_text[FIXTURE[1]]["t"] == 10


def _docs(spark, docs, num_slices=None):
    rows = [(doc_id, [{"kind": "text", "text": p, "media_ref": None,
                       "offset": off} for off, p in payloads])
            for doc_id, payloads in docs]
    if num_slices:
        return spark.createDataFrame(
            spark.sparkContext.parallelize(rows, num_slices), SPAN_DOCS)
    return spark.createDataFrame(rows, SPAN_DOCS)


def test_decoded_boxes_equal_from_json_scan(spark):
    """textboxes_from_spans equals the JVM scan it replaced (explode,
    F.from_json, the zero-area filter) plus the drop of boxes without a
    usable left or top, with all payloads in one Arrow batch and with
    one payload per batch."""
    def oracle(span_docs):
        b = F.from_json("s.text", BOX_JSON)
        return (span_docs.select("doc_id", F.explode("spans").alias("s"))
                .where(F.col("s.kind") == "text")
                .select("doc_id", b["p"].alias("page"),
                        F.col("s.offset").alias("box_id"),
                        b["l"].alias("left"), b["t"].alias("top"),
                        b["w"].alias("width"), b["h"].alias("height"),
                        b["v"].alias("value"))
                .where((F.col("width") > 0) & (F.col("height") > 0)
                       & F.col("left").isNotNull() & ~F.isnan("left")
                       & F.col("top").isNotNull() & ~F.isnan("top")))

    def rows(df):
        return sorted(((r["box_id"], tuple(r)) for r in df.collect()),
                      key=lambda kv: kv[0])

    payloads = list(enumerate(FIXTURE))
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    try:
        for docs, batch in (([("d", payloads)], "10000"),
                            ([("d%d" % i, [(i, p)]) for i, p in payloads], "1")):
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch",
                           batch)
            span_docs = _docs(spark, docs, num_slices=2)
            got, want = rows(textboxes_from_spans(span_docs)), \
                rows(oracle(span_docs))
            assert [k for k, _ in got] == [k for k, _ in want]
            assert len(got) >= 10
            for (_, g), (_, w) in zip(got, want):
                assert all(_same(a, b) for a, b in zip(g, w)), (g, w)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def _payload(v, left, top, page):
    return json.dumps(dict(v=v, l=left, t=top, w=20.0, h=10.0, p=page))


def _spans(spark, docs, **kw):
    return sorted(tuple(r) for r in extract_from_span_table(
        _docs(spark, docs, **kw), PIPE).collect())


def test_interleaved_pages_equal_sorted(spark):
    """A doc row carries all of its pages, so its text spans may come in
    any page order: p1, p2, p1 gives the spans of the same doc with its
    spans sorted by page."""
    spans = [(0, _payload("a", 50.0, 60.0, 1)),
             (1, _payload("b", 250.0, 60.0, 2)),
             (2, _payload("c", 250.0, 120.0, 1)),
             (3, _payload("d", 50.0, 120.0, 2)),
             (4, _payload("e", 50.0, 120.0, 1))]
    by_page = sorted(spans, key=lambda s: json.loads(s[1])["p"])
    got = _spans(spark, [("d", spans)])
    assert got == _spans(spark, [("d", by_page)])
    assert [r[2] for r in sorted(got, key=lambda r: r[4])] == \
        ["a", "", "e", "c", "", "b", "d", ""]


def test_box_without_left_or_top_is_dropped(spark):
    """A payload whose left or top is missing or NaN is dropped at the
    scan, like a zero-area box; it used to give its page NaN geometry and
    blank every cell on it."""
    page1 = [(0, _payload("x0", 10.0, 10.0, 1)),
             (1, _payload("x1", 200.0, 10.0, 1))]
    page2 = [(2, _payload("y0", 10.0, 10.0, 2)),
             (3, _payload("y1", 200.0, 50.0, 2))]
    clean = _spans(spark, [("d", page1 + page2)])
    assert [r[2] for r in sorted(clean, key=lambda r: r[4])] == \
        ["x0", "x1", "y0", "", "", "y1"]
    for bad in ('{"v":"y","t":10,"w":5,"h":5,"p":1}',
                '{"v":"y","l":"NaN","t":10,"w":5,"h":5,"p":1}',
                '{"v":"y","l":10,"w":5,"h":5,"p":1}',
                '{"v":"y","l":10,"t":"NaN","w":5,"h":5,"p":1}'):
        assert _spans(spark, [("d", page1 + [(9, bad)] + page2)]) == clean, \
            bad


def test_repeated_doc_id_raises(spark):
    """Two input rows with one doc_id fail the job and name the doc_id,
    whether the rows share a partition (they used to be merged into one
    doc) or not."""
    row = ("dup-doc-7", [(0, _payload("x0", 10.0, 10.0, 1))])
    other = ("other", [(0, _payload("z", 10.0, 10.0, 1))])
    for num_slices in (1, 3):
        docs = _docs(spark, [row, row, other], num_slices=num_slices)
        assert docs.rdd.getNumPartitions() == num_slices
        with pytest.raises(Exception) as exc:
            extract_from_span_table(docs, PIPE).collect()
        assert "dup-doc-7" in str(exc.value), num_slices


def test_null_doc_ids_are_exempt(spark):
    """Rows with a null doc_id never trip the guard (they get no
    output), however many there are."""
    null_row = (None, [(0, _payload("n", 10.0, 10.0, 1))])
    other = ("other", [(0, _payload("z", 10.0, 10.0, 1))])
    got = _spans(spark, [null_row, null_row, other])
    assert got and {r[0] for r in got} == {"other"}


def test_doc_id_repeated_without_kept_boxes_passes(spark):
    """A doc_id repeated only in rows with no kept box (zero-area or
    malformed payloads) passes, and those rows add nothing."""
    doc = ("d", [(0, _payload("x0", 10.0, 10.0, 1)),
                 (1, _payload("x1", 200.0, 10.0, 1))])
    empty = ("d", [(0, '{"v":"k","l":10,"t":10,"w":0,"h":5,"p":1}'),
                   (1, "not json")])
    want = _spans(spark, [doc])
    for num_slices in (1, 2):
        assert sorted(tuple(r) for r in extract_from_span_table(
            _docs(spark, [doc, empty, empty], num_slices=num_slices),
            PIPE).collect()) == want


def test_corpus_without_kept_text_box_gives_no_rows(spark):
    """Only image spans, or only zero-area boxes: no rows, with and
    without images."""
    image = {"kind": "image", "text": None, "media_ref": "mem://i.png",
             "offset": 0}
    zero = {"kind": "text", "media_ref": None, "offset": 1,
            "text": '{"v":"k","l":10,"t":10,"w":0,"h":5,"p":1}'}
    for spans in ([image], [zero], [image, zero]):
        docs = spark.createDataFrame([("d", spans), ("e", spans)],
                                     SPAN_DOCS)
        for with_images in (False, True):
            assert extract_from_span_table(
                docs, PIPE, with_images=with_images).collect() == [], \
                (spans, with_images)


def test_frames_cut_at_doc_rows(monkeypatch):
    """frames cuts each span-doc batch only between doc rows, starting a
    new frame at the row that carries the span count past a multiple of
    MAX_FRAME_SPANS (Spark-free)."""
    from pdftabextract_spark.sources import spans as S

    monkeypatch.setattr(S, "MAX_FRAME_SPANS", 4)
    span = {"kind": "text", "text": "{}", "media_ref": None, "offset": 0}
    lens = [3, 0, 2, 5, None, 1, 1, 1]
    batch = pa.RecordBatch.from_arrays(
        [pa.array(["d%d" % i for i in range(len(lens))]),
         pa.array([None if n is None else [span] * n for n in lens],
                  pa.list_(pa.struct([("kind", pa.string()),
                                      ("text", pa.string()),
                                      ("media_ref", pa.string()),
                                      ("offset", pa.int32())])))],
        names=["doc_id", "spans"])
    got = [f.column("doc_id").to_pylist()
           for f in S.frames([batch, batch.slice(3)])]
    assert got == [["d0", "d1"], ["d2"], ["d3", "d4", "d5"], ["d6", "d7"],
                   ["d3", "d4", "d5", "d6"], ["d7"]]
