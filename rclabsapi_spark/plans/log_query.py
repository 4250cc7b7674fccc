"""Log query engine — the *declared* LogQueryParams semantics (SURVEY P11).

The reference declares a rich log query descriptor
(log_file_manager.hpp:45-61) but only implements substring scan
(log_file_manager.cpp:699-713); we implement the declaration: optional
time range, level range (ordinal DEBUG<INFO<WARN<ERROR<FATAL),
component/job/thread equality, substring or regex text search, sort by
{timestamp, level, component} asc/desc, offset + maxResults.

At scale the logs table is date-partitioned parquet (the reference's
`logs-%Y.%m.%d` Elasticsearch index pattern, SURVEY S7) so the time-range
filter becomes partition pruning; the level/component predicates push into
the scan.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

LEVELS = ("DEBUG", "INFO", "WARN", "ERROR", "FATAL")


def level_ordinal(c: Column) -> Column:
    """Level → ordinal via a CASE chain (log_file_manager.hpp:49-50's
    minLevel/maxLevel comparisons)."""
    expr = F.lit(-1)
    for i, lv in enumerate(LEVELS):
        expr = F.when(c == lv, F.lit(i)).otherwise(expr)
    return expr


@dataclass
class LogQueryParams:
    """Mirror of log_file_manager.hpp:45-61."""

    start_time: dt.datetime | str | None = None
    end_time: dt.datetime | str | None = None
    min_level: str | None = None
    max_level: str | None = None
    component: str | None = None
    job_id: str | None = None
    thread_id: str | None = None
    search_text: str | None = None
    use_regex: bool = False
    max_results: int = 1000
    offset: int = 0
    sort_by: str = "timestamp"  # timestamp | level | component
    ascending: bool = False


def search_logs(
    logs: DataFrame,
    params: LogQueryParams,
    *,
    ts_col: str = "timestamp",
    level_col: str = "level",
    component_col: str = "component",
    job_col: str = "job_id",
    thread_col: str = "thread_id",
    message_col: str = "message",
    key_col: str | None = None,
) -> DataFrame:
    """Compile LogQueryParams to a filter/sort/paginate plan."""
    out = logs
    if params.start_time is not None:
        out = out.filter(F.col(ts_col) >= F.lit(params.start_time))
    if params.end_time is not None:
        out = out.filter(F.col(ts_col) <= F.lit(params.end_time))
    if params.min_level is not None:
        out = out.filter(
            level_ordinal(F.col(level_col)) >= LEVELS.index(params.min_level)
        )
    if params.max_level is not None:
        out = out.filter(
            level_ordinal(F.col(level_col)) <= LEVELS.index(params.max_level)
        )
    for col, val in ((component_col, params.component), (job_col, params.job_id), (thread_col, params.thread_id)):
        if val is not None and col in out.columns:
            out = out.filter(F.col(col) == val)
    if params.search_text:
        msg = F.col(message_col)
        out = out.filter(
            msg.rlike(params.search_text) if params.use_regex else msg.contains(params.search_text)
        )

    sort_col = {"timestamp": ts_col, "level": level_col, "component": component_col}[params.sort_by]
    primary = F.col(sort_col).asc() if params.ascending else F.col(sort_col).desc()
    order = [primary] + ([F.col(key_col).asc()] if key_col else [])
    out = out.orderBy(*order)
    if params.offset:
        out = out.offset(params.offset)
    return out.limit(params.max_results)
