"""Projection / filter / sort / limit operators (SURVEY §2.2, §2.6).

These are thin declarative builders: each returns a lazily-planned
DataFrame so Catalyst collapses adjacent filters, pushes predicates into
the parquet scan, and prunes columns. The reference hand-fuses these
pipelines in C++ (request_handler.cpp:1197-1317); here the optimizer owns
fusion, and at 100 TB the same code gets partition pruning + pushdown for
free.
"""

from __future__ import annotations

from collections.abc import Sequence
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def filter_eq(df: DataFrame, col: str, value: Any) -> DataFrame:
    """P3/P4/P5 — equality filter (etl_job_repository.cpp:112, 177-190)."""
    return df.filter(F.col(col) == F.lit(value))


def filter_in(df: DataFrame, col: str, values: Sequence[Any]) -> DataFrame:
    """P6 — IN-list filter (etl_job_repository.cpp:337-351)."""
    return df.filter(F.col(col).isin(list(values)))


def filter_range(
    df: DataFrame, col: str, lo: Any = None, hi: Any = None
) -> DataFrame:
    """P7 — inclusive range; missing bound = ±∞
    (request_handler.cpp:1226-1249)."""
    c = F.col(col)
    if lo is not None:
        df = df.filter(c >= F.lit(lo))
    if hi is not None:
        df = df.filter(c <= F.lit(hi))
    return df


def search_substring(df: DataFrame, col: str, needle: str) -> DataFrame:
    """P12 — substring search (log_file_manager.cpp:699-713)."""
    return df.filter(F.col(col).contains(needle))


def search_regex(df: DataFrame, col: str, pattern: str) -> DataFrame:
    """P13 — regex search (log_file_manager.hpp:54)."""
    return df.filter(F.col(col).rlike(pattern))


def order_limit(
    df: DataFrame,
    sort_cols: Sequence[Column | str],
    limit: int | None = None,
    offset: int = 0,
) -> DataFrame:
    """O1-O4 — sort + offset/limit pagination (log_file_manager.hpp:55-58,
    request_handler.cpp:1251-1268).

    Callers that LIMIT must sort on a key-unique prefix for a
    deterministic result set; at scale Spark plans this as TakeOrderedAndProject
    (a distributed top-k, no full sort materialization).
    """
    out = df.orderBy(*sort_cols)
    if offset:
        out = out.offset(offset)
    if limit is not None:
        out = out.limit(limit)
    return out
