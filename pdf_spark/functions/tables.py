"""Table loading + temp-view registration for the query matrix, and its
two query shapes: ``map_rows`` (one typed Arrow map stage over any frame)
and ``per_doc``, the per-document shape — a decorated ``fn(doc_id)``
builds that document's fixture and returns its rows, registered as one
``map_rows`` stage over ``documents.doc_id``."""

from __future__ import annotations

from typing import Callable, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import IntegerType, LongType, StructType

from pdf_spark.session import task_prologue

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# Spark integer columns travel as pandas nullable ints so ``None`` stays
# null and a LongType above 2**53 never round-trips through float64.
_NULLABLE_INT = {LongType: "Int64", IntegerType: "Int32"}


def map_rows(
    df: DataFrame,
    fn: Callable[..., Iterable[dict]],
    schema: StructType,
) -> DataFrame:
    """One Arrow map stage: ``fn(*row)`` runs once per input row of
    ``df`` (values as plain Python objects, in column order) and returns
    the output rows, each a dict keyed by ``schema``'s field names —
    extra keys are ignored, a missing key raises. Column dtypes come
    from ``schema`` alone, so no caller restates them."""
    cols = df.columns
    fields = [
        (f.name, _NULLABLE_INT.get(type(f.dataType))) for f in schema.fields
    ]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        task_prologue()
        for batch in batches:
            rows = [
                out
                for args in zip(*(batch[c].tolist() for c in cols))
                for out in fn(*args)
            ]
            yield pd.DataFrame(
                {
                    name: pd.array([r[name] for r in rows], dtype=dtype)
                    if dtype
                    else [r[name] for r in rows]
                    for name, dtype in fields
                }
            )

    return df.mapInPandas(run, schema)


def per_doc(queries: dict, name: str, schema: StructType) -> Callable:
    """Register the decorated ``fn(doc_id)`` as query ``queries[name]``:
    one ``map_rows`` stage over ``documents.doc_id`` whose output rows
    are ``fn``'s rows with the ``doc_id`` merged in front (a row's own
    ``doc_id`` wins). Returns ``fn`` unchanged, so workers import it by
    name from its module."""

    def register(fn: Callable[[int], Iterable[dict]]) -> Callable:
        queries[name] = lambda spark, sf: map_rows(
            load(spark, sf, "documents").select("doc_id"),
            lambda d: ({"doc_id": d, **row} for row in fn(d)),
            schema,
        )
        return fn

    return register


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Create temp views for spark.sql-based queries. Re-registers every
    call: createOrReplaceTempView is cheap, and a session-conf "already
    registered" marker would pin views to a stale file listing after the
    sf_dir parquet is rewritten (FileNotFoundException with no in-session
    recovery)."""
    for t in TABLES:
        load(spark, sf_dir, t).createOrReplaceTempView(t)
