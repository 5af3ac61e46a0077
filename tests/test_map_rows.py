"""``map_rows``: the one typed map stage behind the query matrix, and
``per_doc``, the per-document query shape built on it.

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

from pdf_spark.functions.tables import load, map_rows, per_doc

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


def _doc_ids(spark, sf_dir):
    return sorted(
        r.doc_id
        for r in load(spark, sf_dir, "documents").select("doc_id").collect()
    )


def test_per_doc_registers_and_returns_fn():
    queries = {}

    def rows(d):
        return []

    assert per_doc(queries, "q_rows", _SCHEMA)(rows) is rows
    assert list(queries) == ["q_rows"] and callable(queries["q_rows"])


def test_per_doc_rows_per_document(spark, sf_dir):
    queries = {}

    @per_doc(queries, "q_fan", _SCHEMA)
    def fan(d):
        # doc d emits d % 3 rows: 0, 1 or 2
        return ({"n": k, "big": _BIG + k, "label": f"d{d}"}
                for k in range(d % 3))

    ids = _doc_ids(spark, sf_dir)
    assert {d % 3 for d in ids} == {0, 1, 2}
    got = sorted(tuple(r) for r in queries["q_fan"](spark, sf_dir).collect())
    assert got == [
        (d, k, _BIG + k, f"d{d}") for d in ids for k in range(d % 3)
    ]


def test_per_doc_row_doc_id_wins(spark, sf_dir):
    queries = {}

    @per_doc(queries, "q_own_id", _SCHEMA)
    def own_id(d):
        return [{"doc_id": -d, "n": 1, "big": 2, "label": None}]

    got = sorted(r.doc_id for r in queries["q_own_id"](spark, sf_dir).collect())
    assert got == sorted(-d for d in _doc_ids(spark, sf_dir))
