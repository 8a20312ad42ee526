"""kernels/shingles.word_grams: Spark-free against ``text.split(" ")``
n-grams, and operators/dedup.word_shingles in Spark against the JVM
expression it replaced (kept below as the oracle). kernels/shingles'
gram keys and key_blobs: against a pure-Python rendering of the
documented hash, across batches and across two processes."""

import json
import os
import subprocess
import sys
from collections import Counter

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from pdftabextract_spark.kernels import overlap, shingles
from pdftabextract_spark.kernels.overlap import buckets
from pdftabextract_spark.kernels.shingles import key_blobs, word_grams
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


def _reference_key(gram, n):
    """The documented gram key in Python integers: per token, the top 32
    bits of ``a_0 + a_1 * len + sum(a_(2+i) * chunk_i) mod 2^64`` for
    each of two multiplier sets (32-bit little-endian chunks of its
    UTF-8 bytes, zero-padded), halves joined; per gram, the same over
    (1, hi_0, lo_0, ..., hi_(n-1), lo_(n-1)) of its tokens' keys."""
    def hash_of(coords, stage):
        a = shingles._multipliers(len(coords), stage).tolist()
        top = [(sum(m * x for m, x in zip(row, coords)) % 2 ** 64) >> 32
               for row in a]
        return top[0] << 32 | top[1]

    def token_key(tok):
        raw = tok.encode()
        chunks = [int.from_bytes(raw[i:i + 4], "little")
                  for i in range(0, len(raw), 4)]
        return hash_of([1, len(raw)] + chunks, 0)

    tokens = gram.split(" ")
    assert len(tokens) == n
    keys = [token_key(t) for t in tokens]
    return hash_of([1] + [h for k in keys for h in (k >> 32, k & 0xFFFFFFFF)],
                   1)


def _keys(batches, n, n_buckets=5):
    """key_blobs output -> a list of (doc, key) pairs, checking the blob
    rows: buckets of their keys, keys sorted, each doc's keys distinct."""
    pairs = []
    for b in key_blobs(iter(batches), n, n_buckets):
        assert b.schema.names == ["bucket", "doc", "s"]
        for bucket, doc, s in zip(*(b.column(c).to_pylist()
                                    for c in ("bucket", "doc", "s"))):
            doc = np.frombuffer(doc, np.int64)
            s = np.frombuffer(s, np.uint64)
            assert len(doc) == len(s) <= overlap.FLUSH_TAIL_VALUES
            assert (buckets(s, n_buckets) == bucket).all()
            assert (s[1:] >= s[:-1]).all()
            pairs += zip(doc.tolist(), s.tolist())
    assert len(pairs) == len(set(pairs)), "a doc repeats a key in a row"
    return pairs


@pytest.mark.parametrize("text_type", [pa.string(), pa.large_string()])
@pytest.mark.parametrize("n", [1, 2, 3])
@pytest.mark.parametrize("size", [1, 4, 100])
def test_key_blobs_equal_the_reference_keys(n, size, text_type):
    texts = TEXTS[1:] + ["a" * 37 + " é" * 5, "x  y z\u00a0w", "ß" * 9]
    ids = [i * 7 - 20 for i in range(len(texts))]
    batch = pa.RecordBatch.from_arrays(
        [pa.array(ids, pa.int64()), pa.array(texts, text_type)],
        names=["doc_id", "text"])
    got = _keys([batch.slice(i, size) for i in range(0, len(ids), size)], n)
    want = {(d, _reference_key(g, n)) for d, g in _split_grams(ids, texts, n)}
    assert Counter(got) == Counter(want)


def test_key_blobs_cut_rows_at_the_blob_bound(monkeypatch):
    monkeypatch.setattr(overlap, "FLUSH_TAIL_VALUES", 3)
    batch = pa.RecordBatch.from_arrays(
        [pa.array([1, 2], pa.int64()),
         pa.array(["a b c d e f g h i j k l", "a b c x y"])],
        names=["doc_id", "text"])
    out = list(key_blobs(iter([batch]), 2, 1))
    assert out[0].num_rows == 5  # 14 distinct (doc, gram) pairs, <= 3 a row
    assert Counter(_keys([batch], 2, 1)) == Counter(
        (d, _reference_key(g, 2))
        for d, g in _split_grams([1, 2], batch.column(1).to_pylist(), 2))


def test_key_blobs_split_one_long_pass_under_the_offset_limit(monkeypatch):
    # one long doc is one pass; with the offset limit patched down to
    # 10 values a blob column, its keys leave in several batches, none
    # over the limit, and equal the keys of one batch
    rng = np.random.default_rng(4)
    batch = pa.RecordBatch.from_arrays(
        [pa.array([9], pa.int64()),
         pa.array([" ".join(rng.choice(list("abcdefgh"), 300))])],
        names=["doc_id", "text"])
    want = _keys([batch], 2, 3)
    monkeypatch.setattr(overlap, "FLUSH_TAIL_VALUES", 4)
    monkeypatch.setattr(overlap, "MAX_BLOB_BYTES", 80)
    out = list(key_blobs(iter([batch]), 2, 3))
    assert len(out) > 3
    for b in out:
        for c in ("doc", "s"):
            assert sum(len(x) for x in b.column(c).to_pylist()) <= 80
    got = [(d, k) for b in out
           for doc, s in zip(b.column("doc").to_pylist(),
                             b.column("s").to_pylist())
           for d, k in zip(np.frombuffer(doc, np.int64).tolist(),
                           np.frombuffer(s, np.uint64).tolist())]
    assert Counter(got) == Counter(want)


_KEY_SCRIPT = """
import json, sys
import numpy as np, pyarrow as pa
from pdftabextract_spark.kernels.shingles import key_blobs
texts = json.loads(sys.stdin.read())
batch = pa.RecordBatch.from_arrays(
    [pa.array(range(len(texts)), pa.int64()), pa.array(texts)],
    names=["doc_id", "text"])
pairs = []
for b in key_blobs(iter([batch]), 3, 4):
    for doc, s in zip(b.column("doc").to_pylist(), b.column("s").to_pylist()):
        pairs += zip(np.frombuffer(doc, np.int64).tolist(),
                     np.frombuffer(s, np.uint64).tolist())
print(json.dumps(sorted(pairs)))
"""


def test_gram_keys_equal_across_batches_and_processes():
    rng = np.random.default_rng(12)
    vocab = ["", "a", "bb", "ccc", "dddd", "eeeee", "é", "中文", "x" * 17]
    texts = [" ".join(rng.choice(vocab, rng.integers(0, 20)))
             for _ in range(300)]
    ids = list(range(len(texts)))
    whole = pa.RecordBatch.from_arrays(
        [pa.array(ids, pa.int64()), pa.array(texts)], names=["doc_id", "text"])
    grams = _split_grams(ids, texts, 3)
    key_of = {g: _reference_key(g, 3) for _, g in grams}
    # distinct grams get distinct keys
    assert len(set(key_of.values())) == len(key_of) > 600
    pairs = sorted((d, key_of[g]) for d, g in grams)
    # a gram gets its key whatever batch, and whatever other grams, it
    # comes with
    for size in (1, 7, 300):
        assert sorted(_keys([whole.slice(i, size)
                             for i in range(0, len(ids), size)], 3)) == pairs
    for seed in ("0", "4242"):
        env = dict(os.environ, PYTHONHASHSEED=seed,
                   PYTHONPATH=os.pathsep.join(sys.path))
        out = subprocess.run([sys.executable, "-c", _KEY_SCRIPT],
                             input=json.dumps(texts), env=env, check=True,
                             capture_output=True, text=True).stdout
        assert [tuple(p) for p in json.loads(out)] == pairs


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
