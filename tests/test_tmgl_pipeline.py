"""TMGL chain integration (SURVEY §3.2/3.3): XML -> landing -> metrics
-> chart JSON, plus the §5.4 property tests (explode-count
conservation, pivot round-trip)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_governance_spark.fixtures import who_region_dim
from data_governance_spark.sinks.json_sink import chart_json
from data_governance_spark.tmgl_pipeline import (
    compute_metrics,
    compute_timeline,
    ingest_tmgl_landing,
)

XML = """<?xml version="1.0" encoding="UTF-8"?>
<add>
  <doc>
    <field name="id">d1</field>
    <field name="instance">tmgl</field>
    <field name="dp">2021</field>
    <field name="la">En</field>
    <field name="la">pt</field>
    <field name="type">article</field>
    <field name="ta">Journal A</field>
    <field name="fulltext">1</field>
    <field name="cp">Brazil</field>
  </doc>
  <doc>
    <field name="id">d2</field>
    <field name="instance">tmgl</field>
    <field name="dp">Jan-Mar 2021</field>
    <field name="la">EN</field>
    <field name="type">video</field>
    <field name="cp">India</field>
    <field name="cp">Brazil</field>
  </doc>
  <doc>
    <field name="id">d3</field>
    <field name="instance">other</field>
    <field name="la">fr</field>
  </doc>
  <doc>
    <field name="id">d4</field>
    <field name="instance">tmgl</field>
    <field name="dp">1200</field>
    <field name="la">es</field>
  </doc>
</add>
"""


@pytest.fixture(scope="module")
def landing(spark, tmp_path_factory):
    p = tmp_path_factory.mktemp("tmglxml") / "dump_regional_tmgl.xml"
    p.write_text(XML, encoding="utf-8")
    return ingest_tmgl_landing(spark, str(p)).cache()


def test_ingest_filters_and_types(landing):
    rows = {r["id"]: r for r in landing.collect()}
    assert set(rows) == {"d1", "d2", "d4"}  # 'other' instance dropped
    assert rows["d1"]["la"] == ["En", "pt"]
    assert rows["d1"]["fulltext"] == "1"
    assert rows["d2"]["cp"] == ["India", "Brazil"]


def test_metrics_global_region_country(spark, landing):
    m = compute_metrics(landing, who_region_dim(spark)).cache()
    lang_global = {
        (r["name"], r["year"]): r["count"]
        for r in m.filter(
            (F.col("type") == "language")
            & F.col("region").isNull()
            & F.col("country").isNull()
        ).collect()
    }
    # d1: en+pt 2021; d2: en 2021; d4 filtered (year 1200 < 1500)
    assert lang_global == {("en", 2021): 2, ("pt", 2021): 1}
    amro = {
        (r["name"], r["year"]): r["count"]
        for r in m.filter(
            (F.col("type") == "language") & (F.col("region") == "amro")
        ).collect()
    }
    assert amro == {("en", 2021): 2, ("pt", 2021): 1}  # both docs have Brazil
    india = {
        (r["name"], r["year"]): r["count"]
        for r in m.filter(
            (F.col("type") == "language") & (F.col("country") == "India")
        ).collect()
    }
    assert india == {("en", 2021): 1}
    doctype = {
        r["name"]: r["count"]
        for r in m.filter(
            (F.col("type") == "doctype") & F.col("region").isNull() & F.col("country").isNull()
        ).collect()
    }
    assert doctype == {"Articles": 1, "Multimedia": 1}


def test_timeline_and_chart(spark, landing):
    t = compute_timeline(landing, who_region_dim(spark))
    glob = {r["year"]: (r["total"], r["with_fulltext"]) for r in t.filter(F.col("country").isNull()).collect()}
    assert glob == {2021: (2, 1)}
    m = compute_metrics(landing, who_region_dim(spark))
    chart = chart_json(
        m.filter(F.col("country").isNull()).drop("country"), "language"
    )
    assert chart == [{"ano": 2021, "en": 2, "pt": 1}]


def test_property_explode_count_conservation(spark, landing):
    """SURVEY §5.4: sum of grouped counts == count of exploded
    non-null entities with year >= 1500."""
    m = compute_metrics(landing, who_region_dim(spark))
    total_lang = (
        m.filter(
            (F.col("type") == "language") & F.col("region").isNull() & F.col("country").isNull()
        )
        .agg(F.sum("count"))
        .collect()[0][0]
    )
    from data_governance_spark.metrics.runner import year_from_freetext

    exploded = (
        landing.withColumn("year", year_from_freetext("dp"))
        .filter(F.col("year") >= 1500)
        .select(F.explode("la"))
        .count()
    )
    assert total_lang == exploded


def test_metrics_with_label_decodes(spark, tmp_path_factory):
    """J11/J12 decodes applied inside compute_metrics."""
    xml = """<?xml version="1.0" encoding="UTF-8"?>
<add>
  <doc>
    <field name="id">s1</field>
    <field name="instance">tmgl</field>
    <field name="dp">2022</field>
    <field name="mj">^d12345^s9</field>
    <field name="tag_dimentions">dim/one</field>
  </doc>
</add>
"""
    p = tmp_path_factory.mktemp("tmglxml2") / "d_regional_tmgl.xml"
    p.write_text(xml, encoding="utf-8")
    from data_governance_spark.fixtures import tmgl_areas_dim

    landing = ingest_tmgl_landing(spark, str(p))
    decs = spark.createDataFrame(
        [("0012345", "Acupuncture"), ("0012345", "Acupuncture Therapy")],
        "mfn string, descritor_ingles string",
    )
    m = compute_metrics(
        landing, who_region_dim(spark), decs=decs, areas=tmgl_areas_dim(spark)
    )
    subj = {r["name"] for r in m.filter(F.col("type") == "subject").collect()}
    # last duplicate wins deterministically (reference dict build order)
    assert subj == {"Acupuncture Therapy"}
    dims = {r["name"] for r in m.filter(F.col("type") == "dimension").collect()}
    assert dims == {"Dimension One"}


def test_property_pivot_round_trip(spark):
    """Long -> wide (chart pivot) -> long recovers the source."""
    m = spark.createDataFrame(
        [("language", None, "en", 2020, 5), ("language", None, "pt", 2021, 3)],
        "type string, region string, name string, year int, count int",
    )
    wide = chart_json(m, "language")
    back = sorted(
        (name, row["ano"], v)
        for row in wide
        for name, v in row.items()
        if name != "ano"
    )
    assert back == [("en", 2020, 5), ("pt", 2021, 3)]


# --------------------------------------------------------------------------
# compute_metrics / compute_timeline against the per-family composition:
# run_metric over attach_slice fan-outs (one aggregate per family and
# slicing) and one label_join per decoded type.

COLS = ["type", "region", "country", "name", "year", "count"]


def _reference_metrics(landing, dim, decs=None, areas=None):
    from data_governance_spark.metrics.runner import attach_slice, label_join, run_metric
    from data_governance_spark.metrics.tmgl_specs import TMGL_SPECS, decs_label_dim

    none = F.lit(None).cast("string")
    parts = [
        run_metric(landing, s).withColumn("country", none).select(*COLS)
        for s in TMGL_SPECS
    ]
    for slice_col, dim_col in (("region", "who_region"), ("country", "pais_en")):
        fanned = attach_slice(
            landing, "cp", dim, dim_country_col="pais_en",
            dim_slice_col=dim_col, slice_col=slice_col,
        )
        other = "country" if slice_col == "region" else "region"
        parts += [
            run_metric(fanned, s, slice_col=slice_col).withColumn(other, none).select(*COLS)
            for s in TMGL_SPECS
        ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    decodes = []
    if decs is not None:
        decodes.append(("subject", decs_label_dim(decs)))
    if areas is not None:
        decodes += [("dimension", areas), ("therapy", areas)]
    for t, labels in decodes:
        out = out.filter(F.col("type") != t).unionByName(
            label_join(out.filter(F.col("type") == t), labels).select(*COLS)
        )
    return out


def _reference_timeline(landing, dim):
    from data_governance_spark.metrics.runner import attach_slice
    from data_governance_spark.metrics.tmgl_specs import map_metric, timeline_metric

    cols = ["country", "year", "total", "with_fulltext"]
    fanned = attach_slice(
        landing, "cp", dim, dim_country_col="pais_en",
        dim_slice_col="pais_en", slice_col="country",
    )
    glob = timeline_metric(landing).withColumn("country", F.lit(None).cast("string"))
    return glob.select(*cols).unionByName(map_metric(fanned).select(*cols))


def _same_rows(a, b):
    assert a.schema == b.schema
    rows = lambda df: sorted(map(tuple, df.collect()), key=repr)  # noqa: E731
    ra, rb = rows(a), rows(b)
    assert ra == rb and ra


@pytest.fixture(scope="module")
def seeded(spark):
    """A seeded landing and a WHO dim with the slicing edge cases: docs
    in two regions and with several countries (one in two regions, two
    of one region), NULL and empty cp, a padded/upper-cased spelling,
    an unknown country, non-article journals, regex misses ('nomatch',
    'no_digits') and years below 1500 ('1499', 's.d.')."""
    from data_governance_spark.fixtures import (
        TMGL_LANDING_SCHEMA,
        tmgl_landing_rows,
    )

    rows = []
    for i, r in enumerate(tmgl_landing_rows(n=300, seed=11)):
        r = list(r)
        if i % 7 == 0:
            r[14] = None
        elif i % 5 == 0:
            r[14] = r[14] + [" BRAZIL ", "Mexico"]
        rows.append(tuple(r))
    landing = spark.createDataFrame(rows, TMGL_LANDING_SCHEMA)
    dim = who_region_dim(spark).unionByName(
        spark.createDataFrame(
            [("emro", "France", "France", ["FR"]), ("amro", "Mexico", "Mexico", ["MX"])],
            who_region_dim(spark).schema,
        )
    )
    return landing, dim


def test_compute_metrics_equals_per_family_composition(spark, landing, seeded):
    from data_governance_spark.fixtures import tmgl_areas_dim

    decs = spark.createDataFrame(
        [("012345", "Acupuncture"), ("000042", "Herbal Medicine")],
        "mfn string, descritor_ingles string",
    )
    for facts, dim in ((landing, who_region_dim(spark)), seeded):
        _same_rows(compute_metrics(facts, dim), _reference_metrics(facts, dim))
        areas = tmgl_areas_dim(spark)
        _same_rows(
            compute_metrics(facts, dim, decs=decs, areas=areas),
            _reference_metrics(facts, dim, decs=decs, areas=areas),
        )
    m = compute_metrics(*seeded)
    # the edge cases are really there: a two-region country, a second
    # country of one region and the article-only journal family
    assert m.filter(F.col("region") == "emro").count() > 0
    assert m.filter(F.col("country") == "Mexico").count() > 0
    assert m.filter(F.col("type") == "journal").count() > 0


def test_compute_timeline_equals_per_family_composition(spark, landing, seeded):
    for facts, dim in ((landing, who_region_dim(spark)), seeded):
        _same_rows(compute_timeline(facts, dim), _reference_timeline(facts, dim))
