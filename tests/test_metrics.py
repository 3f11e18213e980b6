"""Metric-runner parity vs DuckDB oracles over reference-shaped
fixtures (SURVEY §5.3: every §2.4 aggregation expressed once in Spark
and once in SQL, hash-matched)."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from data_governance_spark.fixtures import (
    tmgl_areas_dim,
    tmgl_landing,
    who_region_dim,
)
from data_governance_spark.metrics.runner import (
    MetricSpec,
    attach_slice,
    label_join,
    run_metric,
    run_metric_sliced,
    run_metrics,
    run_metrics_single_scan,
    top_k,
)
from data_governance_spark.metrics.tmgl_specs import (
    TMGL_SPECS,
    map_metric,
    timeline_metric,
)
from data_governance_spark.testing import canonical_rows, oracle_rows, spark_rows

# DuckDB twin of year_from_freetext (F1)
_YEAR_SQL = (
    "CASE WHEN regexp_extract(coalesce(dp, ''), '(\\d{4})', 1) = '' THEN 0 "
    "ELSE CAST(regexp_extract(coalesce(dp, ''), '(\\d{4})', 1) AS INT) END"
)


@pytest.fixture(scope="module")
def facts(spark, tmp_path_factory):
    df = tmgl_landing(spark)
    path = str(tmp_path_factory.mktemp("tmgl") / "landing.parquet")
    df.write.mode("overwrite").parquet(path)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW tmgl AS SELECT * FROM read_parquet('{path}/*.parquet')"
    )
    return df, con


def _assert_match(sdf, con, sql):
    s_cols, s_rows = spark_rows(sdf)
    o_cols, o_rows = oracle_rows(con, sql)
    assert sorted(s_cols) == sorted(o_cols)
    assert canonical_rows(s_cols, s_rows) == canonical_rows(o_cols, o_rows)


def test_language_metric_oracle(facts):
    df, con = facts
    out = run_metric(df, TMGL_SPECS[0])
    _assert_match(
        out,
        con,
        f"""
        SELECT 'language' AS type, NULL AS region, lower(entity) AS name,
               year, count(*) AS count
        FROM (SELECT unnest(la) AS entity, {_YEAR_SQL} AS year FROM tmgl)
        WHERE year >= 1500 GROUP BY 3, 4
        """,
    )


def test_journal_prefilter_oracle(facts):
    df, con = facts
    out = run_metric(df, TMGL_SPECS[1])
    _assert_match(
        out,
        con,
        f"""
        SELECT 'journal' AS type, NULL AS region, entity AS name,
               year, count(*) AS count
        FROM (SELECT unnest(ta) AS entity, {_YEAR_SQL} AS year FROM tmgl
              WHERE list_contains(type, 'article'))
        WHERE year >= 1500 GROUP BY 3, 4
        """,
    )


def test_doctype_recode_oracle(facts):
    df, con = facts
    out = run_metric(df, TMGL_SPECS[2])
    _assert_match(
        out,
        con,
        f"""
        SELECT 'doctype' AS type, NULL AS region,
               CASE entity
                 WHEN 'article' THEN 'Articles' WHEN 'monography' THEN 'Monograph'
                 WHEN 'thesis' THEN 'Thesis' WHEN 'non-conventional' THEN 'Non-conventional'
                 WHEN 'project document' THEN 'Project document'
                 WHEN 'congress and conference' THEN 'Congress and conference'
                 WHEN 'video' THEN 'Multimedia' WHEN 'audio' THEN 'Multimedia'
                 WHEN 'podcast' THEN 'Multimedia'
                 ELSE entity END AS name,
               year, count(*) AS count
        FROM (SELECT unnest(type) AS entity, {_YEAR_SQL} AS year FROM tmgl)
        WHERE year >= 1500 GROUP BY 3, 4
        """,
    )


def test_subject_regex_capture_oracle(facts):
    df, con = facts
    out = run_metric(df, TMGL_SPECS[4])
    _assert_match(
        out,
        con,
        f"""
        SELECT 'subject' AS type, NULL AS region, sid AS name, year,
               count(*) AS count
        FROM (SELECT regexp_extract(unnest(mj), '(\\d+)', 1) AS sid,
                     {_YEAR_SQL} AS year FROM tmgl)
        WHERE year >= 1500 AND sid <> '' GROUP BY 3, 4
        """,
    )


def test_dimension_regex_match_oracle(facts):
    df, con = facts
    out = run_metric(df, TMGL_SPECS[5])
    _assert_match(
        out,
        con,
        f"""
        SELECT 'dimension' AS type, NULL AS region, d AS name, year,
               count(*) AS count
        FROM (SELECT regexp_extract(unnest(tag_dimentions), '(.+/.+)', 0) AS d,
                     {_YEAR_SQL} AS year FROM tmgl)
        WHERE year >= 1500 AND d <> '' GROUP BY 3, 4
        """,
    )


def test_timeline_conditional_count_oracle(facts):
    df, con = facts
    out = timeline_metric(df)
    _assert_match(
        out,
        con,
        f"""
        SELECT year, count(*) AS total,
               sum(CASE WHEN fulltext = '1' THEN 1 ELSE 0 END) AS with_fulltext
        FROM (SELECT {_YEAR_SQL} AS year, fulltext FROM tmgl)
        WHERE year >= 1500 GROUP BY year
        """,
    )


def test_single_scan_equals_per_family_runner(spark, facts):
    df, _ = facts
    # every non-prefilter TMGL family (incl. regex-capture + recode
    # specs) must produce identical rows through both runners
    specs = [s for s in TMGL_SPECS if s.prefilter is None]
    a = run_metrics(df, specs)
    b = run_metrics_single_scan(df, specs)
    sa = sorted(map(str, a.collect()))
    sb = sorted(map(str, b.collect()))
    assert sa == sb and len(sa) > 0


def test_single_scan_prefilter_matches_run_metric(spark, facts):
    # A2's article-only prefilter folds into the shared projection: the
    # journal family must equal run_metric's .filter(prefilter) result,
    # alone and next to families without a prefilter
    df, _ = facts
    journal = TMGL_SPECS[1]
    assert journal.prefilter is not None
    one = run_metrics_single_scan(df, [journal])
    assert sorted(map(str, one.collect())) == sorted(
        map(str, run_metric(df, journal).collect())
    )
    # a family with a later min_year folds into the same projection too
    late = MetricSpec(name="late", entity_col="la", min_year=2020)
    specs = TMGL_SPECS + [late]
    every = run_metrics_single_scan(df, specs)
    assert sorted(map(str, every.collect())) == sorted(
        map(str, run_metrics(df, specs).collect())
    )
    assert every.filter(F.col("type") == "journal").count() > 0
    assert every.filter(F.col("type") == "late").count() > 0


def test_attach_slice_no_double_count(spark, facts):
    """A doc with two countries of the same region counts once for that
    region (the reference's per-region $match is a filter)."""
    df, _ = facts
    dim = who_region_dim(spark)
    fanned = attach_slice(df, "cp", dim, dim_country_col="pais_en")
    # Brazil appears once in _REGIONS (amro); craft check: fanned row
    # count per id per region is exactly 1
    dup = (
        fanned.groupBy("id", "region")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dup == 0
    # every original row survives (rows with no matched region get NULL)
    assert fanned.select("id").distinct().count() == df.count()


def test_attach_slices_join_fallback_matches_inline(spark, facts, monkeypatch):
    """A dim too big to inline goes through the explode/join/collect_set
    fallback; both paths must give every row the same slice sets, and
    the single-scan runner the same metrics over either."""
    import data_governance_spark.metrics.runner as runner

    df, _ = facts
    dim = who_region_dim(spark)
    slicings = {"region": "who_region", "country": "pais_en"}

    def slices(frame):
        return sorted(
            (r["id"], tuple(sorted(r["region"])), tuple(sorted(r["country"])))
            for r in frame.select("id", "region", "country").collect()
        )

    def metrics(frame):
        out = run_metrics_single_scan(frame, TMGL_SPECS, slice_cols=("region", "country"))
        return sorted(map(str, out.collect()))

    inline = runner.attach_slices(df, "cp", dim, slicings, dim_country_col="pais_en")
    monkeypatch.setattr(runner, "_INLINE_DIM_MAX", 1)
    joined = runner.attach_slices(df, "cp", dim, slicings, dim_country_col="pais_en")
    assert joined.columns == inline.columns
    assert slices(joined) == slices(inline)
    assert metrics(joined) == metrics(inline)


def test_sliced_global_not_fanned(spark, facts):
    """Global rows must equal a plain un-fanned run even when docs span
    multiple regions."""
    df, _ = facts
    dim = who_region_dim(spark)
    out = run_metric_sliced(df, TMGL_SPECS[0], "cp", dim, dim_country_col="pais_en")
    global_rows = out.filter(F.col("region").isNull())
    plain = run_metric(df, TMGL_SPECS[0])
    assert sorted(
        ((r["name"], r["year"], r["count"]) for r in global_rows.collect())
    ) == sorted(((r["name"], r["year"], r["count"]) for r in plain.collect()))
    # and sliced rows exist for regions present in the data
    regions = {r["region"] for r in out.select("region").distinct().collect()}
    assert "amro" in regions


def test_label_join_decodes_known_codes(spark, facts):
    df, _ = facts
    out = run_metric(df, TMGL_SPECS[5])
    labeled = label_join(out, tmgl_areas_dim(spark))
    names = {r["name"] for r in labeled.collect()}
    assert "Dimension One" in names or "Dimension Two" in names
    assert "dim/one" not in names and "dim/two" not in names
    # unmatched codes pass through
    assert any("/" in n for n in names)


def test_subject_decode_via_decs_labels(spark, facts):
    """A5 + J12: subject ids decoded to English descriptors post-agg."""
    from data_governance_spark.metrics.tmgl_specs import decs_label_dim

    df, _ = facts
    decs = spark.createDataFrame(
        [("012345", "Acupuncture"), ("000042", "Herbal Medicine")],
        "mfn string, descritor_ingles string",
    )
    out = run_metric(df, TMGL_SPECS[4])  # subject ids: 12345, 00042->42?, 777
    labeled = label_join(out, decs_label_dim(decs))
    names = {r["name"] for r in labeled.collect()}
    assert "Acupuncture" in names      # 12345 decoded
    assert "777" in names              # unknown id passes through


def test_top_k_deterministic_tiebreak(spark):
    rows = [
        ("language", None, "aa", 2000, 5),
        ("language", None, "bb", 2000, 5),
        ("language", None, "cc", 2000, 3),
    ]
    m = spark.createDataFrame(
        rows, "type string, region string, name string, year int, count int"
    )
    out = top_k(m, k=2).collect()
    got = [(r["name"], r["rk"]) for r in sorted(out, key=lambda r: r["rk"])]
    assert got == [("aa", 1), ("bb", 2)]  # ties broken name asc
