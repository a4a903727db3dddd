"""The Arrow twins in plans/llm_ops.py equal their JVM slices bit for bit.

Each Arrow pandas-UDF twin re-implements a JVM expression (tokenizer,
polynomial hashes, shingle combine, MinHash, SimHash, repetition and
DSIR statistics) in Python for the rows its guard admits: pure-ASCII
text (``octet_length == length``) and, for the 3-gram twins, at least 3
tokens. Over an adversarial ASCII corpus — every whitespace class Java's
``\\s`` and Python's ``re.ASCII`` ``\\s`` share (tab, newline, ``\\x0b``,
``\\f``, carriage return), separator runs, leading and trailing
whitespace, empty and whitespace-only strings, exactly 2/3/7/8 tokens and
control characters — each twin must return exactly the JVM slice's
values. Non-ASCII rows, rows with fewer than 3 tokens and NULL text must
reach the JVM slice: the twins return NULL for them, and the composed
tables equal the pure JVM pipeline over the whole corpus.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from data_ingestion_lambda_spark.plans import llm_ops as L
from data_ingestion_lambda_spark.plans.registry import release_pinned

_WS = [" ", "\t", "\n", "\x0b", "\f", "\r"]

_HANDPICKED = [
    "",
    " ",
    "\t",
    "   ",
    "\x0b\f",
    "a",
    "a b",
    "a b c",
    "a\tb\x0bc",
    "a\fb\nc\r",
    "  a b c  ",
    "\ta b c",
    "a b c\t",
    "\x0ba b c\f",
    "a  \t\n b\r\n\x0b\fc",
    "a b c d e f g",
    "a b c d e f g h",
    "a b c d e f g h i",
    "the cat the cat the cat the cat the cat",
    "x x x x x x x x x x x x",
    "sixteen chars!!!",
    "fifteen chars!!",
    "\t\t\t\t\t\t\t\t\t\t\t\t\t\t\t\t\t\t",
    "tabs\tand\x0bvertical\ftabs  and   runs\n\nof   spaces",
    "\x00nul \x01soh \x1ffile-sep \x7fdel tokens here",
    "punctuation, more; punctuation! (and) [brackets] {braces}",
]

_NON_ASCII = [
    "café au lait noir ce matin",
    "a b 日本語 テキスト",
    "emoji 😀 splits into surrogates 😀 here",
    "ü",
    "naïve two",
]

_VOCAB = ["a", "b", "ab", "the", "cat", "x", "data", "ingest", "z9", "Q", "--"]


def _random_ascii(rng: random.Random) -> str:
    n = rng.choice([0, 1, 2, 3, 3, 4, 7, 8, 9, rng.randint(10, 40)])
    toks = []
    for _ in range(n):
        if rng.random() < 0.7:
            toks.append(rng.choice(_VOCAB))
        else:
            toks.append("".join(chr(rng.randint(33, 126)) for _ in range(rng.randint(1, 6))))
    seps = ["".join(rng.choice(_WS) for _ in range(rng.choice([1, 1, 1, 2, 4]))) for _ in toks]
    body = "".join(t + s for t, s in zip(toks, seps))[: -1 if toks and rng.random() < 0.5 else None]
    lead = "".join(rng.choice(_WS) for _ in range(rng.choice([0, 0, 1, 3])))
    return lead + body


@pytest.fixture(scope="module")
def corpus(spark):
    rng = random.Random(20250717)
    texts = _HANDPICKED + _NON_ASCII + [_random_ascii(rng) for _ in range(250)] + [None]
    assert all(t is None or t.isascii() for t in texts if t not in _NON_ASCII)
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    ).cache()
    yield df
    df.unpersist()


def _ascii(df):
    return df.filter(F.octet_length("text") == F.length("text"))


def _ascii3(df):
    return _ascii(df).filter(F.size(L.tokens("text")) >= 3)


def _rows(df, *cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def _twin_nulls_outside(df, guard, twin):
    """Rows the guard rejects get NULL from the twin (never a value)."""
    outside = df.join(guard(df), "doc_id", "left_anti")
    assert outside.count() > 0
    assert outside.select(twin(F.col("text")).alias("v")).filter(F.col("v").isNotNull()).count() == 0


def test_fingerprint_twin(corpus):
    long_ = corpus.filter(F.length("text") >= 16)
    shingles = F.expr("transform(sequence(1, length(text) - 15), i -> substring(text, i, 16))")
    twin = long_.select("doc_id", L._fingerprint_batch(F.col("text")).alias("fp"))
    jvm = long_.select(
        "doc_id",
        L.polyhash(F.col("text")).alias("rolling_hash"),
        F.array_min(F.transform(shingles, lambda s: F.md5(s.cast("binary")))).alias("m"),
    )
    assert _rows(twin, "doc_id", "fp.rolling_hash", "fp.min_shingle_md5") == _rows(
        jvm, "doc_id", "rolling_hash", "m"
    )
    short = corpus.filter(F.length("text") < 16).select(
        L._fingerprint_batch(F.col("text")).alias("fp")
    )
    assert short.filter(F.col("fp.rolling_hash").isNotNull()).count() == 0


def test_shingles62_twin(corpus):
    fast = _ascii3(corpus)
    twin = fast.select("doc_id", L._shingles62_batch(F.col("text")).alias("s"))
    jvm = fast.select("doc_id", L.shingle_hashes62(L.tokens("text")).alias("s"))
    # bit for bit, including array_distinct's first-occurrence order
    assert _rows(twin, "doc_id", "s") == _rows(jvm, "doc_id", "s")
    _twin_nulls_outside(corpus, _ascii3, L._shingles62_batch)


def test_minhash_twin(corpus):
    fast = _ascii3(corpus)
    twin = fast.select("doc_id", L._minhash_sig_batch(F.col("text")).alias("sig"))
    assert _rows(twin, "doc_id", "sig") == _rows(L._minhash_sig_table_jvm(fast), "doc_id", "sig")
    _twin_nulls_outside(corpus, _ascii3, L._minhash_sig_batch)
    try:
        composed = L.minhash_sig_table(corpus)
        assert _rows(composed, "doc_id", "sig") == _rows(
            L._minhash_sig_table_jvm(corpus), "doc_id", "sig"
        )
    finally:
        release_pinned()


def test_simhash_twin(corpus):
    fast = _ascii(corpus)
    twin = fast.select("doc_id", L._simhash_batch(F.col("text")).alias("simhash"))
    assert _rows(twin, "doc_id", "simhash") == _rows(
        L._simhash_table_jvm(fast), "doc_id", "simhash"
    )
    _twin_nulls_outside(corpus, _ascii, L._simhash_batch)


def test_repetition_twin(corpus):
    fast = _ascii3(corpus)
    cols = ["doc_id"] + [f"{k}_{n}gram_frac" for n in (1, 2, 3) for k in ("dup", "top")]
    twin = fast.select("doc_id", L._repetition_batch(F.col("text")).alias("r")).select(
        "doc_id", "r.*"
    )
    assert _rows(twin, *cols) == _rows(L._repetition_table_jvm(fast), *cols)
    assert _rows(L.repetition_table(corpus), *cols) == _rows(
        L._repetition_table_jvm(corpus), *cols
    )


def test_decon_twin(corpus):
    fast = _ascii(corpus)
    twin = fast.select("doc_id", L._decon_ghs_batch(F.col("text")).alias("g"))
    jvm = fast.select("doc_id", L._decon_gram_hashes().alias("g"))
    assert _rows(twin, "doc_id", "g") == _rows(jvm, "doc_id", "g")
    _twin_nulls_outside(corpus, _ascii, L._decon_ghs_batch)
    assert _rows(L.decon_doc_grams(corpus), "doc_id", "ghs") == _rows(
        corpus.select("doc_id", L._decon_gram_hashes().alias("ghs")), "doc_id", "ghs"
    )


def _dsir_jvm(df):
    """The JVM slice of dsir_features: explode bigrams, hash, count."""
    return (
        df.select("doc_id", L.tokens("text").alias("toks"))
        .select("doc_id", F.explode(L._dsir_bigrams()).alias("bg"))
        .select("doc_id", (L.polyhash(F.col("bg")) % L._DSIR_B).alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count("*").alias("tf"))
    )


def test_dsir_twin(corpus):
    fast = _ascii(corpus)
    twin = fast.select("doc_id", F.explode(L._dsir_feats_batch(F.col("text"))).alias("f"))
    assert _rows(twin, "doc_id", "f.bucket", "f.tf") == _rows(
        _dsir_jvm(fast), "doc_id", "bucket", "tf"
    )
    _twin_nulls_outside(corpus, _ascii, L._dsir_feats_batch)
    composed = L.dsir_features(corpus.withColumn("is_t", F.lit(True)))
    assert _rows(composed, "doc_id", "bucket", "tf") == _rows(
        _dsir_jvm(corpus), "doc_id", "bucket", "tf"
    )
