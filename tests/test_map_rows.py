"""``map_rows``: the one typed map stage behind the query matrix.

Column dtypes come from the output ``StructType`` alone, so nullable
ints, >2**53 longs, empty batches and missing keys are pinned here once
instead of in every query body."""

import pytest
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from pdf_spark.functions.tables import map_rows

_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n", IntegerType()),
        StructField("big", LongType()),
        StructField("label", StringType()),
    ]
)

_BIG = 2**53 + 1  # not representable as float64


def _ids(spark, n):
    # one partition, so nulls and big longs share an Arrow batch
    return spark.range(n, numPartitions=1).withColumnRenamed("id", "doc_id")


def test_nullable_ints_and_exact_longs(spark):
    def row(d):
        return [
            {
                "doc_id": d,
                "n": None if d % 2 else d,
                "big": None if d % 3 == 0 else _BIG + d,
                "label": f"d{d}",
            }
        ]

    got = sorted(
        tuple(r) for r in map_rows(_ids(spark, 6), row, _SCHEMA).collect()
    )
    assert got == [
        (d, None if d % 2 else d, None if d % 3 == 0 else _BIG + d, f"d{d}")
        for d in range(6)
    ]


def test_zero_and_many_rows_per_input(spark):
    def fan_out(d):
        # doc d emits d rows: doc 0 none at all
        return [
            {"doc_id": d, "n": k, "big": k, "label": None} for k in range(d)
        ]

    df = map_rows(_ids(spark, 4), fan_out, _SCHEMA)
    assert df.count() == 0 + 1 + 2 + 3
    # every batch of every partition comes back with zero rows
    empty = map_rows(_ids(spark, 4).repartition(2), lambda d: [], _SCHEMA)
    assert empty.collect() == []
    assert empty.schema == _SCHEMA


def test_extra_keys_ignored_missing_key_raises(spark):
    ok = map_rows(
        _ids(spark, 2),
        lambda d: [
            {"doc_id": d, "n": 1, "big": 2, "label": "x", "extra": object()}
        ],
        _SCHEMA,
    )
    assert ok.count() == 2
    missing = map_rows(
        _ids(spark, 2),
        lambda d: [{"doc_id": d, "n": 1, "label": "x"}],
        _SCHEMA,
    )
    with pytest.raises(Exception, match="KeyError"):
        missing.collect()
