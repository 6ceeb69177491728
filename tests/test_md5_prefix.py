"""The md5-prefix row hash (operators/integrity.md5_prefix).

1. In an engine session it is the JVM kernel ``shuttle_md5_prefix``, and
   its values equal Spark's SQL form and DuckDB's
   ``('0x' || substr(md5(x), 1, n))::BIGINT`` on NULL, empty, multibyte,
   long and bigint input, and on digests whose leading byte is >= 0x80
   (a sign-extended byte would turn the prefix negative);
2. a session without the kernel (``spark.newSession()``) gets the SQL form
   and the same values.
"""

from __future__ import annotations

import hashlib

import duckdb
import pytest
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from shuttle_spark import session as S
from shuttle_spark.operators.integrity import md5_prefix

STRINGS = [None, "", "héllo wörld ✓ 日本語", "x" * 100_000, "a", "shuttle"]
BIGINTS = [None, 0, -1, 42, 9_223_372_036_854_775_807, -9_223_372_036_854_775_808]


def _sql_form(col, bits):
    return F.conv(F.substring(F.md5(col.cast("string")), 1, bits // 4), 16, 10).cast("long")


def _duckdb(values, sql_type, bits):
    con = duckdb.connect()
    con.execute(f"CREATE TABLE t (i INTEGER, x {sql_type})")
    con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(values)))
    return con.execute(
        f"SELECT i, ('0x' || substr(md5(CAST(x AS VARCHAR)), 1, {bits // 4}))::BIGINT"
        " FROM t ORDER BY i"
    ).fetchall()


@pytest.mark.skipif(S.jvm_classes() is None, reason="no javac: no JVM kernel")
@pytest.mark.parametrize("bits", [32, 40])
@pytest.mark.parametrize(
    "values, spark_type, sql_type",
    [(STRINGS, "string", "VARCHAR"), (BIGINTS, "bigint", "BIGINT")],
    ids=["string", "bigint"],
)
def test_kernel_equals_sql_form_and_duckdb(spark, bits, values, spark_type, sql_type):
    # a digest byte >= 0x80 in the prefix: a sign-extended byte shows
    assert any(
        hashlib.md5(str(v).encode()).digest()[0] >= 0x80 for v in values if v is not None
    )
    kernel = md5_prefix(F.col("x"), bits)
    assert S.MD5_PREFIX_FUNCTION in str(kernel)
    df = spark.createDataFrame(list(enumerate(values)), f"i int, x {spark_type}")
    rows = df.select("i", kernel.alias("k"), _sql_form(F.col("x"), bits).alias("s"))
    got = sorted((r.i, r.k, r.s) for r in rows.collect())
    assert [(i, k) for i, k, _ in got] == [(i, s) for i, _, s in got]
    assert [(i, k) for i, k, _ in got] == _duckdb(values, sql_type, bits)
    assert all(k is None or 0 <= k < 1 << bits for _, k, _ in got)


def test_new_session_uses_sql_form(spark, monkeypatch):
    df = spark.createDataFrame(list(enumerate(STRINGS)), "i int, x string")
    want = sorted(tuple(r) for r in df.select("i", md5_prefix(F.col("x"), 32)).collect())
    fresh = spark.newSession()
    assert not fresh.catalog.functionExists(S.MD5_PREFIX_FUNCTION)
    monkeypatch.setattr(SparkSession, "_activeSession", fresh)
    col = md5_prefix(F.col("x"), 32)
    assert S.MD5_PREFIX_FUNCTION not in str(col)
    fresh_df = fresh.createDataFrame(list(enumerate(STRINGS)), "i int, x string")
    assert sorted(tuple(r) for r in fresh_df.select("i", col).collect()) == want
