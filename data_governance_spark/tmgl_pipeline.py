"""The TMGL metrics chain (SURVEY §3.2-3.3): iAHx XML dumps ->
landing -> metric families -> chart artifacts / dashboards — three
reference DAG packages (tmgl_metrics, tmgl_regions, tmgl_countries)
as one driver program.

Where the reference runs 11 metric DAGs x (1 global + N regions)
server-side queries plus an Airflow task per country, this computes
every family over every slice (global, each WHO region, each country)
in ONE scan of the landing table and ONE aggregate
(runner.run_metrics_single_scan), then decodes labels with ONE
broadcast join; the timeline is one more scan and aggregate. The WHO
dimension is collected once per call (runner.attach_slices)."""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_governance_spark.metrics.runner import (
    attach_slices,
    label_join,
    run_metrics_single_scan,
)
# the per-family forms stay importable from here: perfbench/workloads.py
# patches these names when it traces a pass
from data_governance_spark.metrics.runner import attach_slice, run_metrics  # noqa: F401
from data_governance_spark.metrics.tmgl_specs import (
    TMGL_SPECS,
    decs_label_dim,
    timeline_metric,
)
from data_governance_spark.sources.solr_xml import project_fields, read_solr_xml

# tmgl landing columns read by the metric pipelines (FIXTURES §1.2)
TMGL_COLUMNS = [
    "instance", "dp", "la", "ta", "type", "type_of_study", "mj",
    "tag_dimentions", "tag_mtc_tema2", "tag_mtc_tema3",
    "traditional_medicines_cluster", "who_regions", "fulltext", "cp",
    "pais_afiliacao",
]
# XML repeated-field parsing leaves everything as arrays; these are
# read as scalars by the pipelines (string compare on fulltext, free
# text dp)
TMGL_SCALARS = {"dp", "fulltext"}


def ingest_tmgl_landing(
    spark: SparkSession, xml_glob: str, num_partitions: int | None = None
) -> DataFrame:
    """S8-S11: parse the dumps, keep instance='tmgl', typed columns."""
    raw = read_solr_xml(
        spark, xml_glob, instance_filter="tmgl", num_partitions=num_partitions
    )
    return project_fields(raw, TMGL_COLUMNS, scalar=TMGL_SCALARS)


def compute_metrics(
    landing: DataFrame,
    who_region_dim: DataFrame,
    decs: DataFrame | None = None,
    areas: DataFrame | None = None,
) -> DataFrame:
    """All metric families, global + per-region + per-country, into one
    long table (type, region, country, name, year, count).

    ``decs`` enables the J12 subject decode (numeric ids -> English
    descriptors); ``areas`` the J11 dimension/therapy label decode —
    both applied post-aggregation exactly as the reference does, as
    one broadcast join on (type, code)."""
    sliced = attach_slices(
        landing, "cp", who_region_dim,
        {"region": "who_region", "country": "pais_en"}, dim_country_col="pais_en",
    )
    out = run_metrics_single_scan(sliced, TMGL_SPECS, slice_cols=("region", "country"))

    # post-aggregation label decodes (J11/J12), scoped per metric type
    labels = []
    if decs is not None:
        labels.append(
            decs_label_dim(decs).select(
                F.lit("subject").alias("label_type"), "code_xml", "label_en"
            )
        )
    if areas is not None:
        labels.append(
            areas.select(
                F.explode(F.array(F.lit("dimension"), F.lit("therapy"))).alias("label_type"),
                "code_xml",
                "label_en",
            )
        )
    if labels:
        out = label_join(out, reduce(DataFrame.unionByName, labels), type_col="label_type")
    return out


def compute_timeline(landing: DataFrame, who_region_dim: DataFrame) -> DataFrame:
    """A11 global + A12 per-country (type='indicators'/'map' rows in
    the reference's store), from one aggregate."""
    sliced = attach_slices(
        landing, "cp", who_region_dim, {"country": "pais_en"}, dim_country_col="pais_en"
    )
    return timeline_metric(sliced, slice_cols=("country",)).select(
        "country", "year", "total", "with_fulltext"
    )
