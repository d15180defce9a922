"""The driver-side XXH64 (lake.table.xxhash64) against the JVM's F.xxhash64:
every key type the engine hashes, the lane boundaries of the algorithm, and
the bucket it implies."""

from __future__ import annotations

import datetime as dt
import random

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType, DateType, IntegerType, LongType, StringType, StructField,
    StructType, TimestampType,
)

from datax_3_0_0_src_spark.lake import LakeTable
from datax_3_0_0_src_spark.lake.table import xxhash64


def _unicode(rng: random.Random, n: int) -> str:
    """``n`` code points mixing 1-, 2- and 3-byte UTF-8 (no surrogates)."""
    ranges = ((0x20, 0x7E), (0x80, 0x7FF), (0x800, 0xD7FF), (0xE000, 0xFFFD))
    return "".join(chr(rng.randint(*rng.choice(ranges))) for _ in range(n))


def _strings() -> list[str]:
    rng = random.Random(20240101)
    out = [_unicode(rng, rng.randint(1, 40)) for _ in range(300)]
    out += ["", "x" * 1000, _unicode(rng, 1000)]
    # byte lengths 0..70 cross the 4-, 8- and 32-byte lanes of XXH64
    out += ["abcdefghij"[i % 10] * n for i, n in enumerate(range(71))]
    return out


def _jvm(spark, values: list, dtype) -> list[int]:
    schema = StructType([StructField("v", dtype)])
    rows = spark.createDataFrame([(v,) for v in values], schema) \
        .select(F.xxhash64("v").alias("h")).collect()
    return [r["h"] for r in rows]


def test_strings_match_jvm(spark):
    values = _strings()
    assert any(len(v.encode("utf-8")) > len(v) * 2 for v in values)  # 3-byte chars
    assert _jvm(spark, values, StringType()) == [
        xxhash64(v, StringType()) for v in values]


@pytest.mark.parametrize("dtype,values", [
    (IntegerType(), [0, -1, 1, 42, -(2**31), 2**31 - 1, 123456789]),
    (LongType(), [0, -1, 1, 42, -(2**63), 2**63 - 1, 2**53 + 1, -(2**40)]),
    (BinaryType(), [b"", b"\x00", b"\xff" * 33, bytes(range(256)),
                    bytearray(b"<html>x</html>")]),
], ids=["int", "long", "binary"])
def test_numeric_and_binary_match_jvm(spark, dtype, values):
    assert _jvm(spark, values, dtype) == [xxhash64(v, dtype) for v in values]


def test_bucket_matches_bucket_expr(spark, tmp_path):
    values = _strings()[:100]
    df = spark.createDataFrame([(v,) for v in values], "k string")
    for nb in (1, 7, 16):
        t = LakeTable.create(
            spark, str(tmp_path / f"t{nb}"),
            StructType([StructField("k", StringType()),
                        StructField("ts", TimestampType())]),
            key="k", ts_col="ts", num_buckets=nb)
        jvm = [r["b"] for r in df.select(t._bucket_expr("k").alias("b")).collect()]
        assert jvm == [xxhash64(v, StringType()) % nb for v in values]


def test_unsupported_type_raises():
    with pytest.raises(TypeError, match="date"):
        xxhash64(dt.date(2024, 1, 1), DateType())
    # a value not of the key's type is refused, not hashed as something else
    for value, dtype in ((123, StringType()), (5, BinaryType()),
                         ("7", LongType())):
        with pytest.raises(TypeError, match=dtype.simpleString()):
            xxhash64(value, dtype)
