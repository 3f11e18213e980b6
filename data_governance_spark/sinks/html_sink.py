"""HTML dashboard report sink (S15,
tmgl_regions/dag_03_export_html.py:314-368 and the per-country variant
tmgl_countries/dag_03_export_html.py:268-314).

The reference renders one Highcharts dashboard (index.html) from a
template plus one embedded JSON payload per chart, and one HTML file
per country keyed by ISO code (J13 lookup). Chart payloads are tiny
(the served layer), so templating is a driver-side step over collected
aggregates: write_country_reports makes three queries whatever the
number of countries and charts (the countries, the ISO map, and one
collect of every report slice, pivoted by json_sink.pivot_rows).

The A19 browser-side aggregation (year-range sum -> top-k) is promoted
into the engine (metrics.runner.top_k); the template embeds
precomputed JSON instead of shipping raw rows to JS.
"""

from __future__ import annotations

import json
import os
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_governance_spark.sinks.json_sink import chart_json, pivot_rows

PAGE_TEMPLATE = """<!DOCTYPE html>
<html>
<head>
  <meta charset="utf-8"/>
  <title>{title}</title>
</head>
<body>
  <h1>{title}</h1>
  <p>Generated {generated}</p>
{sections}
<script>
const CHARTS = {charts_json};
</script>
</body>
</html>
"""

SECTION_TEMPLATE = '  <section id="chart-{key}"><h2>{label}</h2></section>'


def build_report(
    metrics: DataFrame,
    metric_types: list[str],
    title: str,
    generated: str,
    slice_col: str = "region",
    slice_value: str | None = None,
) -> str:
    """One dashboard page embedding per-chart JSON payloads.

    ``generated`` is an injected timestamp (no wall clock inside the
    engine — A18/§7.4 determinism rule applies to exports too)."""
    charts: dict[str, Any] = {
        t: chart_json(metrics, t, slice_col=slice_col, slice_value=slice_value)
        for t in metric_types
    }
    return render_report(charts, metric_types, title, generated)


def render_report(
    charts: dict[str, Any], metric_types: list[str], title: str, generated: str
) -> str:
    """The page for already pivoted charts ({metric type: chart body})."""
    sections = "\n".join(
        SECTION_TEMPLATE.format(key=t, label=t.title()) for t in metric_types
    )
    return PAGE_TEMPLATE.format(
        title=title,
        generated=generated,
        sections=sections,
        charts_json=json.dumps(charts, ensure_ascii=False),
    )


def iso_col(sinonimo: F.Column) -> F.Column:
    """J13 as a column: the first 2-char synonym (dag_02_map.py:30).
    try_element_at, not element_at: ANSI mode (Spark 4 default) raises
    on index 1 of an empty filtered list — a country with no 2-char
    synonym is legitimate and yields NULL."""
    return F.try_element_at(F.filter(sinonimo, lambda s: F.length(s) == 2), F.lit(1))


def report_filename_col(iso: F.Column, country: F.Column) -> F.Column:
    """The per-country report file key: lowercased ISO code, falling
    back to the space-underscored country name
    (tmgl_countries/dag_03_export_html.py:274-276). Column twin of the
    driver-side expression in write_country_reports — iso_col never
    yields '' (NULL or a 2-char synonym), so COALESCE matches the
    reference's `or` fallback."""
    return F.lower(F.coalesce(iso, F.regexp_replace(country, " ", "_")))


def iso_codes(who_region_dim: DataFrame) -> dict[str, str | None]:
    """J13 for every country in one query: lowercased country name
    (pais_tmgl, else pais_en) -> its first 2-char synonym, from the
    first dim row of that name (dag_02_map.py:30)."""
    out: dict[str, str | None] = {}
    for key, iso in who_region_dim.select(
        F.lower(F.coalesce(F.col("pais_tmgl"), F.col("pais_en"))),
        iso_col(F.col("pais_sinonimo")),
    ).collect():
        if key is not None:
            out.setdefault(key, iso)
    return out


def iso_code(who_region_dim: DataFrame, country: str) -> str | None:
    """J13: the country's first 2-char synonym (dag_02_map.py:30)."""
    return iso_codes(who_region_dim).get(country.lower())


def write_country_reports(
    metrics: DataFrame,
    who_region_dim: DataFrame,
    metric_types: list[str],
    out_dir: str,
    generated: str,
) -> list[str]:
    """One <iso>.html per country present in the metrics (J14 semi-join
    drives eligibility: distinct country values)."""
    os.makedirs(out_dir, exist_ok=True)
    countries = sorted(
        r["country"]
        for r in metrics.select("country").distinct().collect()
        if r["country"]
    )
    if not countries:
        return []
    isos = iso_codes(who_region_dim)
    slices: dict[tuple[str, str], list] = {}
    if metric_types:
        for r in (
            metrics.filter(
                F.col("country").isNotNull() & F.col("type").isin(*metric_types)
            )
            .select("country", "type", "year", "name", "count")
            .collect()
        ):
            slices.setdefault((r[0], r[1]), []).append(r[2:])
    written = []
    for country in countries:
        # the reference lowercases the ISO for the filename
        # (tmgl_countries/dag_03_export_html.py:275-276)
        iso = (isos.get(country.lower()) or country.replace(" ", "_")).lower()
        charts = {t: pivot_rows(slices.get((country, t), ())) for t in metric_types}
        html = render_report(
            charts, metric_types, title=f"TMGL — {country}", generated=generated
        )
        path = os.path.join(out_dir, f"{iso}.html")
        with open(path, "w", encoding="utf-8") as f:
            f.write(html)
        written.append(path)
    return written
