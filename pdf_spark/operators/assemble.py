"""Spark-side span assembly: spans -> docs_text, fully declarative.

Demonstrates the deterministic ``(page, col, y desc, x asc, glyph_order)``
ordering as Catalyst-visible operators (north_star: "followed by a
deterministic span-ordering sort"). Implementation avoids any Python:

1. window ``lag`` over the span order computes the line separator (new
   line when page or y changes within a url);
2. ``sort_array(collect_list(struct(...)))`` restores the exact order
   inside each url group — struct comparison is lexicographic over fields
   ``(page, neg_y, x, glyph_order)``, and ``-y`` encodes the descending
   key (ties broken by the unique glyph_order, so float noise can't
   reorder equal keys differently across cluster sizes, SURVEY.md §7.3);
3. ``aggregate`` concatenates ``sep || text`` JVM-side.

One shuffle on ``url`` total (the window and the groupBy share the hash
partitioning on url; Catalyst reuses the exchange). The fused path in
``operators.extract`` produces byte-identical output with zero shuffles —
both are tested against each other.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def assemble_docs_text(spans: DataFrame) -> DataFrame:
    """spans -> docs_text(url, text, status, error_code).

    PRECONDITION: ``url`` uniquely keys the pages table. Duplicate urls
    would interleave two documents' spans into one garbled row here, while
    the fused path would emit two rows — dedup upstream (qt01) first."""
    order = [
        F.col("page").asc(),
        F.col("col").asc(),
        F.col("y").desc(),
        F.col("x").asc(),
        F.col("glyph_order").asc(),
    ]
    w = Window.partitionBy("url").orderBy(*order)
    ok = spans.where(F.col("status") == "ok")
    sep = (
        F.when(F.row_number().over(w) == 1, F.lit(""))
        .when(
            (F.lag("page").over(w) != F.col("page"))
            | (F.lag("col").over(w) != F.col("col"))
            | (F.lag("y").over(w) != F.col("y")),
            F.lit("\n"),
        )
        .otherwise(F.lit(""))
    )
    pieces = ok.select(
        "url",
        F.struct(
            F.col("page"),
            F.col("col"),
            (-F.col("y")).alias("neg_y"),
            F.col("x"),
            F.col("glyph_order"),
            sep.alias("sep"),
            F.col("text"),
        ).alias("piece"),
    )
    assembled = (
        pieces.groupBy("url")
        .agg(F.sort_array(F.collect_list("piece")).alias("pieces"))
        .select(
            "url",
            F.aggregate(
                "pieces",
                F.lit(""),
                lambda acc, p: F.concat(acc, p["sep"], F.coalesce(p["text"], F.lit(""))),
            ).alias("text"),
            F.lit("ok").alias("status"),
            F.lit("").alias("error_code"),
        )
    )
    errors = (
        spans.where(F.col("status") == "error")
        .select("url", F.lit(None).cast("string").alias("text"),
                F.lit("error").alias("status"), "error_code")
        .dropDuplicates(["url"])
    )
    return assembled.unionByName(errors)
