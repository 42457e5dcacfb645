import numpy as np
import pyarrow as pa
import pyspark.sql.functions as F
from hypothesis import given, settings
from hypothesis import strategies as st

from rendler_spark.hashing import mix, mix_int, splitmix64, to_i64, xxhash64_utf8


def test_deterministic_and_vectorized():
    a = splitmix64(np.arange(1000))
    b = splitmix64(np.arange(1000))
    assert (a == b).all()
    assert a.dtype == np.uint64


def test_scalar_matches_vector():
    vec = mix(42, 7, np.arange(10), 3)
    for i in range(10):
        assert mix_int(42, 7, i, 3) == int(vec[i])


def test_no_collisions_small_domain():
    h = splitmix64(np.arange(1_000_00))
    assert len(np.unique(h)) == len(h)


def test_order_sensitivity():
    assert mix_int(1, 2) != mix_int(2, 1)
    assert mix_int(1, 2, 3) != mix_int(1, 3, 2)


def test_to_i64_roundtrip():
    u = splitmix64(np.arange(16))
    assert (to_i64(u).view(np.uint64) == u).all()


@given(st.integers(min_value=0, max_value=2**64 - 1))
@settings(max_examples=200, deadline=None)
def test_splitmix_stable(x):
    assert int(splitmix64(np.uint64(x))) == int(splitmix64(np.uint64(x)))


def _spark_xxhash64(spark, values: list) -> list[int]:
    """Spark's own ``F.xxhash64`` of each value, in input order."""
    df = spark.createDataFrame([(i, v) for i, v in enumerate(values)], "i int, s string")
    rows = df.select("i", F.xxhash64("s").alias("h")).collect()
    return [r["h"] for r in sorted(rows, key=lambda r: r["i"])]


@given(st.lists(st.text(max_size=80), max_size=40))
@settings(max_examples=25, deadline=None)
def test_xxhash64_utf8_matches_spark(spark, values):
    assert xxhash64_utf8(values).tolist() == _spark_xxhash64(spark, values)


def test_xxhash64_utf8_edge_cases(spark):
    """Every byte length across the 4-, 8- and 32-byte boundaries of the
    XXH64 block structure, empty and non-ASCII values, nulls, and an
    Arrow array sliced to a non-zero offset."""
    values = ["a" * n for n in range(0, 72)]
    values += ["é" * n for n in range(1, 20)] + ["€𝄞x", "https://h1.test/é?q=€", ""]
    values += [None, "http://h0.test/p" + "9" * 31]
    want = _spark_xxhash64(spark, values)
    got = xxhash64_utf8(pa.array(values, pa.string()))
    assert got.dtype == np.int64 and got.tolist() == want
    sliced = pa.array(["pad", "pad2"] + values, pa.string()).slice(2, len(values))
    assert sliced.offset == 2
    assert xxhash64_utf8(sliced).tolist() == want
    assert xxhash64_utf8(pa.array([], pa.string())).tolist() == []
