"""The shingle kernel (operators/neardup.gram_sets).

1. ``shuttle_shingles`` splits on ``' '`` as Python's ``str.split(" ")``
   and Spark's ``split(s, ' ')`` do, and returns the distinct n-grams in
   first-seen order;
2. in an engine session ``gram_sets`` calls it, without a Python worker,
   and returns the pandas form's rows, row for row and in order, on NULL,
   empty and whitespace-only text, text shorter than n words, repeated
   grams, tabs, newlines and runs of spaces, multibyte and astral-plane
   text, for n = 1, 2, 3 and 5;
3. a session without the kernel (``spark.newSession()``) gets the pandas
   form and the same rows.
"""

from __future__ import annotations

import pytest
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from shuttle_spark import session as S
from shuttle_spark.operators import neardup as N

TEXTS = [
    None,
    "",
    " ",
    " \t\n  \r\n ",
    "word",
    "two words",
    "a b a b a b a b",
    "the cat the cat sat the cat the cat sat",
    "x\ty\n\nz  w   v\t\tq",
    "  Leading and trailing  ",
    "héllo wörld ✓ 日本語 テキスト héllo wörld ✓",
    "emoji 😀 🚀 test 😀 🚀 test 𝔘𝔫𝔦𝔠𝔬𝔡𝔢 😀 🚀",
    "ÜNÏCÖDÉ ŁÓDŹ Straße ÜNÏCÖDÉ ŁÓDŹ",
]
NS = [1, 2, 3, 5]

needs_javac = pytest.mark.skipif(S.jvm_classes() is None, reason="no javac: no JVM kernel")


def _python_shingles(text, n):
    if text is None:
        return []
    words = text.split(" ")
    if len(words) < n:
        return []
    return list(dict.fromkeys(" ".join(words[i : i + n]) for i in range(len(words) - n + 1)))


def _docs(spark):
    return spark.createDataFrame(list(enumerate(TEXTS)), "doc_id bigint, text string")


def _rows(spark, n):
    return sorted((r.id, list(r.grams)) for r in N.gram_sets(_docs(spark), n=n).collect())


@needs_javac
@pytest.mark.parametrize("n", NS)
def test_kernel_splits_like_python_on_raw_text(spark, n):
    """Un-normalized input: leading, trailing and repeated spaces make
    empty words, as in ``str.split(" ")``; tabs are not separators."""
    df = _docs(spark).select(
        "doc_id", F.call_function(S.SHINGLES_FUNCTION, "text", F.lit(n)).alias("g")
    )
    got = sorted((r.doc_id, list(r.g)) for r in df.collect())
    assert got == [(i, _python_shingles(t, n)) for i, t in enumerate(TEXTS)]


@needs_javac
@pytest.mark.parametrize("n", NS)
def test_gram_sets_kernel_equals_pandas_form(spark, monkeypatch, n):
    assert S.kernel_session()
    N.clear_gram_cache()
    grams = N.gram_sets(_docs(spark), n=n)
    plan = grams._jdf.queryExecution().executedPlan().toString()
    assert S.SHINGLES_FUNCTION in plan and "ArrowEvalPython" not in plan
    kernel = _rows(spark, n)
    N.clear_gram_cache()
    monkeypatch.setattr(S, "kernel_session", lambda: False)
    pandas = _rows(spark, n)
    N.clear_gram_cache()
    assert kernel == pandas
    by_id = dict(kernel)
    assert by_id[0] == [] and by_id[len(TEXTS) - 1]  # NULL none, last some
    if n == 2:
        assert by_id[6] == ["a b", "b a"]  # first-seen order, distinct


def test_gram_sets_rejects_n_below_one(spark):
    with pytest.raises(ValueError, match="n must be at least 1"):
        N.gram_sets(_docs(spark), n=0)


def test_new_session_uses_pandas_form(spark, monkeypatch):
    N.clear_gram_cache()
    want = _rows(spark, 3)
    N.clear_gram_cache()
    fresh = spark.newSession()
    assert not fresh.catalog.functionExists(S.SHINGLES_FUNCTION)
    monkeypatch.setattr(SparkSession, "_activeSession", fresh)
    assert not S.kernel_session()
    grams = N.gram_sets(_docs(fresh), n=3)
    assert "ArrowEvalPython" in grams._jdf.queryExecution().executedPlan().toString()
    assert _rows(fresh, 3) == want
    N.clear_gram_cache()
