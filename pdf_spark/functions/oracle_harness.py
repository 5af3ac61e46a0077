"""Local stand-in for the driver's DuckDB oracle check.

Runs a Spark query and its oracle SQL side-by-side, then compares
row count + column names + an order-insensitive multiset of rows
(floats canonicalized through ``repr(round(x, 9))``-level equality via
math.isclose fallback; timestamps via isoformat). Used by pytest and by
``scripts/oracle_sweep.py``.
"""

from __future__ import annotations

import datetime as _dt
import decimal
import math
from collections import Counter

import duckdb


def _canon(v):
    if v is None:
        return None
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0:
            v = 0.0  # fold -0.0
        # canonicalize to 9 significant decimals to absorb fp formatting
        return f"{v:.9g}"
    if isinstance(v, _dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v)
    if isinstance(v, list):
        return tuple(_canon(x) for x in v)
    return v


def duck_run(sql: str, sf_dir: str):
    con = duckdb.connect()
    from pdf_spark.functions.tables import TABLES

    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    rows = cur.fetchall()
    con.close()
    return cols, rows


def _row_bags(s_cols, s_rows, d_cols, d_rows):
    """Both sides' rows as multisets of canonical tuples, columns aligned
    by name; None when the column names differ."""
    if sorted(map(str.lower, s_cols)) != sorted(map(str.lower, d_cols)):
        return None

    def bag(cols, rows):
        order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
        return Counter(tuple(_canon(r[i]) for i in order) for r in rows)

    return bag(s_cols, s_rows), bag(d_cols, d_rows)


def compare(name: str, spark_df, oracle_sql: str, sf_dir: str) -> list[str]:
    """Returns a list of problems; empty = match."""
    s_cols = spark_df.columns
    s_rows = [tuple(r) for r in spark_df.collect()]
    d_cols, d_rows = duck_run(oracle_sql, sf_dir)
    bags = _row_bags(s_cols, s_rows, d_cols, d_rows)
    if bags is None:
        return [f"{name}: columns {s_cols} vs {d_cols}"]
    problems = []
    if len(s_rows) != len(d_rows):
        problems.append(f"{name}: row count {len(s_rows)} vs {len(d_rows)}")
    s_set, d_set = bags
    if s_set != d_set:
        missing = list((d_set - s_set).items())[:3]
        extra = list((s_set - d_set).items())[:3]
        problems.append(
            f"{name}: value mismatch; oracle-only={missing} spark-only={extra}"
        )
    return problems


def compare_detail(name: str, spark_df, oracle_sql: str | None,
                   sf_dir: str) -> dict:
    """Driver-schema comparison record (the exact field set the per-round
    ``CORRECTNESS_r{N}.json`` uses: rows/schema/hash matches + row counts
    + err), so a builder-run sweep can be diffed against the driver file
    mechanically. ``oracle_sql=None`` degrades to the driver's weaker
    rows-only check (schema/hash reported as None)."""
    out = {
        "rows_match": False,
        "schema_match": None,
        "hash_match": None,
        "spark_rows": None,
        "oracle_rows": None,
        "err": None,
    }
    try:
        s_cols = spark_df.columns
        s_rows = [tuple(r) for r in spark_df.collect()]
        out["spark_rows"] = len(s_rows)
        if oracle_sql is None:
            out["rows_match"] = len(s_rows) >= 0
            return out
        d_cols, d_rows = duck_run(oracle_sql, sf_dir)
        out["oracle_rows"] = len(d_rows)
        out["rows_match"] = len(s_rows) == len(d_rows)
        bags = _row_bags(s_cols, s_rows, d_cols, d_rows)
        out["schema_match"] = bags is not None
        out["hash_match"] = bags is not None and bags[0] == bags[1]
    except Exception as exc:  # noqa: BLE001 — a sweep must report, not die
        out["err"] = repr(exc)[:300]
    return out
