"""The reference's 11 metric families (tmgl_regions/dag_02_*.py,
duplicated per-country in tmgl_countries/) as MetricSpec rows + two
special-shape metrics (timeline, map) with conditional measures.

Every spec cites the reference pipeline it re-expresses; entity
semantics (lowercasing, regex capture, recode tables, prefilters) are
bug-for-bug except where SURVEY §7.4 documents a deliberate divergence.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_governance_spark.metrics.runner import (
    MetricSpec,
    explode_slices,
    year_from_freetext,
)

# A3 recode, dags/tmgl_regions/dag_02_doc_type.py:14-28 ($switch;
# default passes the raw value through)
DOCTYPE_RECODE = {
    "article": "Articles",
    "monography": "Monograph",
    "thesis": "Thesis",
    "non-conventional": "Non-conventional",
    "project document": "Project document",
    "congress and conference": "Congress and conference",
    "video": "Multimedia",
    "audio": "Multimedia",
    "podcast": "Multimedia",
}

# A4 recode, dags/tmgl_regions/dag_02_study_type.py:14-44
STUDYTYPE_RECODE = {
    "systematic_reviews": "Systematic review",
    "systematic_review_of_observational_studies": "Systematic review",
    "literature_review": "Other Reviews",
    "review": "Other Reviews",
    "guideline": "Practice guideline",
    "clinical_trials": "Controlled Clinical Trials",
    "qualitative_research": "Qualitative studies",
    "risk_factors_studies": "Risk factors",
    "overview": "Overview",
    "evidence_synthesis": "Evidence synthesis",
    "observational_studies": "Observational studies",
    "sysrev_observational_studies": "Observational studies",
    "policy_brief": "Policy brief",
    "diagnostic_studies": "Other studies",
    "etiology_studies": "Other studies",
    "prognostic_studies": "Other studies",
    "prevalence_studies": "Other studies",
    "screening_studies": "Other studies",
    "incidence_studies": "Other studies",
    "health_technology_assessment": "Other studies",
    "health_economic_evaluation": "Other studies",
    "evaluation_studies": "Other studies",
    "overview_evidence_synthesis": "Other studies",
}


def _nonempty_regex(pattern: str, group: int):
    """regexFind semantics: NULL (drop row) when the pattern misses —
    Mongo's $regexFind returns null and the $match(ne None) drops it."""

    def expr(c: Column) -> Column:
        m = F.regexp_extract(c, pattern, group)
        return F.when(m != "", m)

    return expr


# The 9 grouped-count families (A1-A10 minus timeline/map):
TMGL_SPECS: list[MetricSpec] = [
    # A1: language x year, lowercased (dag_02_languages.py:11-48)
    MetricSpec(name="language", entity_col="la", entity_expr=lambda c: F.lower(c)),
    # A2: journal x year, articles only (dag_02_journals.py:11-49)
    MetricSpec(
        name="journal",
        entity_col="ta",
        prefilter=lambda: F.array_contains(F.col("type"), "article"),
    ),
    # A3: doctype x year with 9-branch recode (dag_02_doc_type.py:11-66)
    MetricSpec(name="doctype", entity_col="type", recode=DOCTYPE_RECODE),
    # A4: studytype x year with 24-branch recode (dag_02_study_type.py:11-80)
    MetricSpec(name="studytype", entity_col="type_of_study", recode=STUDYTYPE_RECODE),
    # A5: subject x year; subject_id = first digit run in mj
    # (dag_02_subjects.py:39-54); decode to English post-agg via J12
    MetricSpec(
        name="subject", entity_col="mj", entity_expr=_nonempty_regex(r"(\d+)", 1)
    ),
    # A6: dimension x year; 'parent/child' regex match
    # (dag_02_dimention.py:40-50); label decode post-agg via J11
    MetricSpec(
        name="dimension",
        entity_col="tag_dimentions",
        entity_expr=_nonempty_regex(r"(.+/.+)", 0),
    ),
    # A7: therapy x year, same regex on tag_mtc_tema3 (dag_02_therapies.py)
    MetricSpec(
        name="therapy",
        entity_col="tag_mtc_tema3",
        entity_expr=_nonempty_regex(r"(.+/.+)", 0),
    ),
    # A8: complementary x year, raw values (dag_02_complementary.py:12-50)
    MetricSpec(name="complementary", entity_col="tag_mtc_tema2"),
    # A9: traditional-cluster x year (dag_02_traditional.py:12-50)
    MetricSpec(name="traditional", entity_col="traditional_medicines_cluster"),
    # A10: who-region x year, 'parent/child' regex (dag_02_regions.py:11-60)
    MetricSpec(
        name="region",
        entity_col="who_regions",
        entity_expr=_nonempty_regex(r"(.+/.+)", 0),
    ),
]


def decs_label_dim(decs: DataFrame) -> DataFrame:
    """J12 build side (dag_02_subjects.py:68-76): zero-stripped Mfn ->
    trimmed English descriptor, consumed by runner.label_join on the
    subject metric's aggregated ids. Empty/whitespace descriptors are
    dropped (the reference's falsy check after .strip()), and
    duplicate stripped codes resolve last-row-wins like the
    reference's dict build."""
    from pyspark.sql import Window as W

    code = F.regexp_replace(F.col("mfn"), "^0+", "")
    label = F.trim(F.col("descritor_ingles"))
    base = (
        decs.withColumn("_row", F.monotonically_increasing_id())
        .filter(F.col("mfn").isNotNull())
        .select(code.alias("code_xml"), label.alias("label_en"), "_row")
        .filter((F.col("code_xml") != "") & (F.col("label_en") != ""))
    )
    w = W.partitionBy("code_xml").orderBy(F.desc("_row"))
    return (
        base.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("code_xml", "label_en")
    )


def timeline_metric(
    facts: DataFrame, date_col: str = "dp", slice_cols: Sequence[str] = ()
) -> DataFrame:
    """A11 (dag_02_timeline.py:11-50): year -> (total, with_fulltext).

    With ``slice_cols`` (array<string> columns, see
    runner.attach_slices) the same single aggregate also gives A12's
    per-slice rows: (*slice_cols, year, total, with_fulltext), global
    rows NULL in every slice column.

    Note the string compare fulltext == '1' — the TMGL landing zone is
    XML-sourced so everything is a string (SURVEY §7.4 item 5).
    """
    df = facts.withColumn("year", year_from_freetext(date_col)).filter(
        F.col("year") >= 1500
    )
    if slice_cols:
        df = explode_slices(df.select("year", "fulltext", *slice_cols), slice_cols)
    return (
        df.groupBy(*slice_cols, "year")
        .agg(
            F.count(F.lit(1)).alias("total"),
            F.sum(F.when(F.col("fulltext") == "1", 1).otherwise(0)).alias(
                "with_fulltext"
            ),
        )
    )


def map_metric(
    facts: DataFrame, slice_col: str = "country", date_col: str = "dp"
) -> DataFrame:
    """A12 (dag_02_map.py:12-104): timeline per country — one grouped
    scan over the slice-fanned facts replaces the reference's
    query-per-country loop."""
    return (
        facts.filter(F.col(slice_col).isNotNull())
        .withColumn("year", year_from_freetext(date_col))
        .filter(F.col("year") >= 1500)
        .groupBy(slice_col, "year")
        .agg(
            F.count(F.lit(1)).alias("total"),
            F.sum(F.when(F.col("fulltext") == "1", 1).otherwise(0)).alias(
                "with_fulltext"
            ),
        )
    )
