"""pdf_spark — a PySpark-native document-text extraction engine.

A from-scratch reimplementation of the *capabilities* of the C reference
``someone13574/pdf`` (see SURVEY.md), re-expressed Spark-first:

- ``pdf_spark.core``     — pure-Python PDF parsing/decoding/interpretation
  (no Spark imports; this is the code that runs inside Arrow-batched UDFs).
- ``pdf_spark.gen``      — deterministic synthetic PDF generator + corpus builder.
- ``pdf_spark.operators``— the Spark pipeline stages (partitioning, mapInArrow
  extraction, span assembly, lineage/resume).
- ``pdf_spark.functions``— the relational / training-data operator matrix
  (dedup, similarity, text analysis) exercised against a DuckDB oracle.
- ``pdf_spark.streaming``— Structured Streaming variant of the extraction stage.
"""

__version__ = "0.1.0"
