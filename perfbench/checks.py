"""Comparisons the correctness checks share: a Spark result against a DuckDB
oracle, and two row sets against each other, both order-insensitive."""

from __future__ import annotations

import datetime
import math

import duckdb


def norm(v):
    """A value in a form both engines agree on: lists as tuples, floats
    rounded to 6 places, NaN as NULL, -0.0 as 0.0, dates as strings."""
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    if isinstance(v, float):
        if math.isnan(v):
            return None
        v = round(v, 6)
        return 0.0 if v == 0.0 else v
    if isinstance(v, (datetime.datetime, datetime.date)):
        return str(v)
    return v


def rows_of(columns: list[str], records) -> list[tuple]:
    """Rows with columns in name order, values normalized, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(norm(r[i]) for i in order) for r in records]
    return sorted(out, key=repr)


def oracle_rows(sql: str, views: dict[str, str]) -> tuple[list[str], list[tuple]]:
    """Run ``sql`` in DuckDB over parquet ``views`` (name -> glob)."""
    con = duckdb.connect()
    try:
        for name, glob in views.items():
            con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{glob}')")
        rel = con.sql(sql)
        cols = list(rel.columns)
        return sorted(cols), rows_of(cols, rel.fetchall())
    finally:
        con.close()


def spark_rows(df) -> tuple[list[str], list[tuple]]:
    cols = df.columns
    return sorted(cols), rows_of(cols, [tuple(r) for r in df.collect()])


def diff(name: str, got: tuple[list[str], list[tuple]],
         want: tuple[list[str], list[tuple]]) -> list[str]:
    """Failures (empty when the two results are equal)."""
    if got[0] != want[0]:
        return [f"{name}: columns {got[0]} != {want[0]}"]
    if len(got[1]) != len(want[1]):
        return [f"{name}: {len(got[1])} rows != {len(want[1])}"]
    bad = sum(1 for a, b in zip(got[1], want[1]) if a != b)
    return [f"{name}: {bad} rows differ"] if bad else []
