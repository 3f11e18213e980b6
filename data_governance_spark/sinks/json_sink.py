"""Pivoted chart-JSON artifact sink (S14,
tmgl_regions/tasks_for_export/journal.py:148-190).

The reference reads metric slices and pivots long -> wide per
(slice, year): rows like {"ano": 2021, "<entity>": count, ...}.
These artifacts are chart-sized (a few hundred rows), so chart_json
collects the slice's long (year, name, count) rows in ONE query and
pivots them in Python (pivot_rows) — a Spark pivot costs a
distinct-values job before its aggregate, per chart. pivot_metric
stays as the DataFrame form of the same pivot.
"""

from __future__ import annotations

import json
from collections.abc import Iterable
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _slice_filter(
    metrics: DataFrame, metric_type: str, slice_col: str, slice_value: str | None
) -> DataFrame:
    df = metrics.filter(F.col("type") == metric_type)
    return (
        df.filter(F.col(slice_col).isNull())
        if slice_value is None
        else df.filter(F.col(slice_col) == slice_value)
    )


def pivot_metric(
    metrics: DataFrame,
    metric_type: str,
    slice_col: str = "region",
    slice_value: str | None = None,
) -> DataFrame:
    """Long metrics (type, slice, name, year, count) -> wide rows
    (ano, <name1>, <name2>, ...) sorted by year (O1)."""
    return (
        _slice_filter(metrics, metric_type, slice_col, slice_value)
        .groupBy(F.col("year").alias("ano"))
        .pivot("name")
        .agg(F.first("count"))
        .orderBy("ano")
    )


def pivot_rows(rows: Iterable[tuple[Any, Any, Any]]) -> list[dict[str, Any]]:
    """Collected (year, name, count) rows -> the chart body, exactly as
    pivot_metric's collected rows with nulls dropped: one row per year
    in ascending order, "ano" first, then the names in sorted order
    (a NULL name is Spark's "null" column, sorted first), the first
    count seen per (year, name). Names are the runner's strings."""
    by_year: dict[Any, dict[Any, Any]] = {}
    for year, name, count in rows:
        by_year.setdefault(year, {}).setdefault(name, count)
    nulls_first = lambda v: (v is not None, v)  # noqa: E731  Spark's ascending order
    out = []
    for year in sorted(by_year, key=nulls_first):
        cells = by_year[year]
        row = {} if year is None else {"ano": year}
        for name in sorted(cells, key=nulls_first):
            if cells[name] is not None:
                row["null" if name is None else name] = cells[name]
        out.append(row)
    return out


def chart_json(
    metrics: DataFrame,
    metric_type: str,
    slice_col: str = "region",
    slice_value: str | None = None,
) -> list[dict[str, Any]]:
    """The JSON artifact body: list of wide year-rows with nulls
    dropped (the reference emits only present entities per year)."""
    df = _slice_filter(metrics, metric_type, slice_col, slice_value)
    return pivot_rows(df.select("year", "name", "count").collect())


def write_chart_json(
    metrics: DataFrame,
    metric_type: str,
    path: str,
    slice_col: str = "region",
    slice_value: str | None = None,
) -> None:
    payload = chart_json(metrics, metric_type, slice_col, slice_value)
    with open(path, "w", encoding="utf-8") as f:
        json.dump(payload, f, ensure_ascii=False)
