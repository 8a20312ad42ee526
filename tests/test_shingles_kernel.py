"""kernels/shingles.word_grams: Spark-free against ``text.split(" ")``
n-grams, and operators/dedup.word_shingles in Spark against the JVM
expression it replaced (kept below as the oracle)."""

from collections import Counter

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from pdftabextract_spark.kernels import shingles
from pdftabextract_spark.kernels.shingles import word_grams
from pdftabextract_spark.operators.dedup import word_shingles

TEXTS = [None, "", " ", "a", "a  b c", "a b c ", "a b  ", "  lead in",
         "é ü ß ü é ü 中文 字", "a b a b a b a", "to be or not to be",
         "p q r s t u v", "x"]


def _split_grams(ids, texts, n):
    want = set()
    for i, t in zip(ids, texts):
        if t is None:
            continue
        ws = t.split(" ")
        want |= {(i, " ".join(ws[j:j + n])) for j in range(len(ws) - n + 1)}
    return want


def _grams(batches, n):
    rows = []
    for b in word_grams(iter(batches), n):
        assert b.schema.names == ["doc_id", "s"]
        rows += zip(b.column(0).to_pylist(), b.column(1).to_pylist())
    assert len(rows) == len(set(rows)), "grams repeat within a doc"
    return rows


@pytest.mark.parametrize("n", [1, 2, 3, 5])
@pytest.mark.parametrize("size", [1, 4, 100])
def test_word_grams_equal_split_ngrams(n, size):
    ids = list(range(len(TEXTS) - 1)) + [None]
    batch = pa.RecordBatch.from_arrays(
        [pa.array(ids, pa.int64()), pa.array(TEXTS)], names=["doc_id", "text"])
    got = _grams([batch.slice(i, size) for i in range(0, len(ids), size)], n)
    assert set(got) == _split_grams(ids, TEXTS, n)


def test_word_grams_keep_split_tokens_and_id_type():
    batch = pa.RecordBatch.from_arrays(
        [pa.array([7, 8, 9, None], pa.int32()),
         pa.array(["a  b c", " ", "b c b c", "a b"])], names=["doc_id", "text"])
    out = list(word_grams(iter([batch]), 2))
    assert out[0].schema.field("doc_id").type == pa.int32()
    # empty tokens stay, repeated grams come once, a null id keeps its
    # grams
    assert set(_grams([batch], 2)) == {
        (7, " b"), (7, "a "), (7, "b c"), (8, " "), (9, "b c"), (9, "c b"),
        (None, "a b")}


@pytest.mark.parametrize("bound", [1, 20])
def test_word_grams_bounded_passes_equal_one_pass(monkeypatch, bound):
    rng = np.random.default_rng(bound)
    texts = [" ".join(rng.choice(list("abcd"), rng.integers(0, 12)))
             for _ in range(60)]
    batch = pa.RecordBatch.from_arrays(
        [pa.array(np.arange(60)), pa.array(texts)], names=["doc_id", "text"])
    whole = sorted(_grams([batch], 3))
    monkeypatch.setattr(shingles, "MAX_PASS_GRAM_BYTES", bound)
    assert sorted(_grams([batch], 3)) == whole == sorted(
        _split_grams(range(60), texts, 3))


def test_word_grams_empty_input_emits_nothing():
    assert list(word_grams(iter([]), 3)) == []


def _jvm_shingles(docs, n, hashed):
    """The JVM expression word_shingles ran before its Arrow kernel: split, a
    transform over a sequence, array_distinct and explode."""
    d = docs.select(F.col("doc_id"), F.split("text", " ").alias("ws"))
    d = d.where(F.size("ws") >= n)
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size("ws") - n, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(F.col("ws"), i + 1, n)))
    if hashed:
        grams = F.transform(grams, lambda s: F.xxhash64(s))
    return d.select("doc_id", F.explode(F.array_distinct(grams)).alias("s"))


@pytest.mark.parametrize("id_type", ["int", "bigint"])
def test_word_shingles_equal_the_jvm_expression(spark, id_type):
    rng = np.random.default_rng(4)
    texts = TEXTS[1:] + [" ".join(rng.choice(list("abcdé"),
                                             rng.integers(0, 30)))
                         for _ in range(200)]
    rows = [(i, t) for i, t in enumerate(texts)]
    rows += [(len(rows), None), (None, "a null id keeps its shingles")]
    docs = spark.createDataFrame(rows, "doc_id %s, text string" % id_type)
    want = {hashed: Counter(map(tuple, _jvm_shingles(docs, 3, hashed)
                                .collect())) for hashed in (False, True)}
    assert all(sum(c for (d, _), c in w.items() if d is None) == 4
               for w in want.values())
    assert all(len(w) > 1000 for w in want.values())
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    try:
        for batch in (3, 10000):
            spark.conf.set(key, str(batch))
            for hashed in (False, True):
                got = word_shingles(docs, 3, hashed=hashed)
                assert got.schema.simpleString() == (
                    "struct<doc_id:%s,s:%s>"
                    % (id_type, "bigint" if hashed else "string"))
                assert Counter(map(tuple, got.collect())) == want[hashed]
    finally:
        spark.conf.set(key, old)
