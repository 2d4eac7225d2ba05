"""The pure-Python XXH64 port (schema_inference_spark/xxh64.py) must
equal the JVM's xxhash64 bit-for-bit, and its vectorized int step must
equal the scalar chain."""

import numpy as np
from pyspark.sql import functions as F


def test_xxh64_matches_spark_bit_for_bit(spark):
    from schema_inference_spark.xxh64 import (
        hash_int32_vec,
        spark_xxhash64_str_int,
        to_signed,
        xxh64,
    )
    # every tail-length class of the algorithm: 0, <4, 4..7, 8..31
    # (one or more 8-byte lanes + int + byte tails), >= 32 (the
    # 4-accumulator stripe loop), plus multi-byte UTF-8
    strs = ([("x" * n) for n in range(0, 41)]
            + ["hello world", "q" * 100, "ñé 漢字 🙂", "tok1 tok2 tok3"])
    df = spark.createDataFrame([(s,) for s in strs], "s string")
    rows = df.select(
        "s", F.xxhash64("s").alias("h"),
        F.xxhash64("s", F.lit(7)).alias("h7"),
        F.xxhash64("s", F.lit(63)).alias("h63")).collect()
    for r in rows:
        assert to_signed(xxh64(r["s"].encode("utf-8"), 42)) == r["h"]
        assert spark_xxhash64_str_int(r["s"], 7) == r["h7"]
        assert spark_xxhash64_str_int(r["s"], 63) == r["h63"]
    # the vectorized seed sweep equals the scalar chain
    seed = xxh64(b"hello world", 42)
    vec = hash_int32_vec(np.arange(64), seed)
    assert vec.tolist() == [spark_xxhash64_str_int("hello world", i)
                            for i in range(64)]
