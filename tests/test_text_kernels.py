"""Row equivalence of the per-document text kernels against plain-Python
references, on the edge cases a rewrite of their formulation can break:
null, empty and whitespace-only text, mixed whitespace runs, accented
Latin, CJK and non-BMP code points, documents shorter than k words."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from es_ch_sync_spark.operators.dedup import word_shingles
from es_ch_sync_spark.operators.text import (
    ROLL_MOD,
    fingerprint_rolling,
    normalize_text,
    repetition_metrics,
    words,
)

TEXTS = [
    None,
    "",
    "   ",
    " \t\n ",
    "one",
    "The  quick\tbrown\n\nfox  ",
    " \t a \r\n b\x0b\x0c c  d ",
    "Été à la plage, ÇA VA très bien",
    "中文 文本 测试 中文 文本",
    "a😀b é 😀😀 x",
    "the cat the cat the cat sat",
]


def _py_normalize(s: str) -> str:
    # Java's \s (Spark regexp_replace) is ASCII whitespace only; trim()
    # strips spaces
    return re.sub("[ \t\n\x0b\x0c\r]+", " ", s.lower()).strip(" ")


def _py_fingerprint(s: str | None) -> int | None:
    if s is None:
        return None
    acc = 0
    for ch in _py_normalize(s):
        acc = (acc * 131 + ord(ch)) % ROLL_MOD
    return acc


def _py_shingles(s: str, k: int) -> list[str]:
    w = _py_normalize(s).split(" ")
    grams = [" ".join(w[i : i + k]) for i in range(max(len(w) - (k - 1), 1))]
    return list(dict.fromkeys(grams))  # array_distinct keeps first occurrences


def _quadratic_shingles(col, k):
    """The former word_shingles: the lambda closed over words(col)."""
    w = words(col)
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(w) - (k - 1), F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice(w, i, k)),
        )
    )


@pytest.fixture(scope="module")
def texts(spark):
    return spark.createDataFrame(list(enumerate(TEXTS)), "i int, text string")


def test_fingerprint_rolling_matches_python(texts):
    got = {
        r["i"]: r["fp"]
        for r in texts.select("i", fingerprint_rolling(F.col("text")).alias("fp")).collect()
    }
    assert got == {i: _py_fingerprint(s) for i, s in enumerate(TEXTS)}
    assert got[1] == got[2] == 0  # empty after normalization folds to 0
    assert got[0] is None


def test_normalize_matches_python_reference(texts):
    got = {
        r["i"]: r["nt"]
        for r in texts.select("i", normalize_text(F.col("text")).alias("nt")).collect()
    }
    assert got == {i: (None if s is None else _py_normalize(s)) for i, s in enumerate(TEXTS)}


@pytest.mark.parametrize("k", [1, 2, 3, 4, 5])
def test_word_shingles_match_python(texts, k):
    rows = texts.select(
        "i",
        word_shingles(F.col("text"), k).alias("sh"),
        _quadratic_shingles(F.col("text"), k).alias("old"),
    ).collect()
    for r in rows:
        s = TEXTS[r["i"]]
        assert r["sh"] == r["old"], s
        if s is not None:
            # shorter than k words -> one joined form; empty text -> [""]
            assert r["sh"] == _py_shingles(s, k), s


def test_repetition_metrics_match_parent_formulation(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = 2
    w = words(F.col("text"))
    grams = docs.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.size(w) - (n - 1), F.lit(1))),
                lambda i: F.concat_ws(" ", F.slice(w, i, n)),
            )
        ).alias("g"),
    )
    counts = grams.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("c"))
    want = counts.groupBy("doc_id").agg(
        F.sum("c").alias("total_ngrams"),
        F.count(F.lit(1)).alias("distinct_ngrams"),
        F.round(1.0 - F.count(F.lit(1)).cast("double") / F.sum("c").cast("double"), 6).alias(
            "dup_ngram_frac"
        ),
        F.round(F.max("c").cast("double") / F.sum("c").cast("double"), 6).alias("top_ngram_frac"),
    )
    got = repetition_metrics(docs, n=n)
    assert got.columns == want.columns
    got_rows = sorted(map(tuple, got.collect()))
    assert got_rows == sorted(map(tuple, want.collect()))
    assert len(got_rows) == docs.count()
