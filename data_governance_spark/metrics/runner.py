"""Parameterized metric runner — the Spark-first collapse of the
reference's BASE_PIPELINE clones.

The reference computes every metric as a MongoDB pipeline of the shape
(SURVEY §2.4, e.g. dags/tmgl_regions/dag_02_languages.py:11-48):

    $match(entity exists) -> $unwind(entity)
    -> $addFields(year := toInt(regexFind('\\d{4}', dp) ?? 0))
    -> $match(year >= 1500) -> $group((entity, year), count)

…cloned across ~10 files x 2 packages, then re-run once per WHO region
(dag_02_languages.py:93-142) and once per country
(tmgl_countries/dag_02_indicators.py:53-93) — an N+1 server-side query
loop. Here every family over every slice is ONE scan and ONE hash
aggregate (run_metrics_single_scan): a single projection computes the
year and one cleaned entity array per family, the families are
exploded, each row is fanned out to its slices — the global slice
(every slice column NULL, like the reference's region=None metric
documents) plus one per region/country value that attach_slices
looked up in an inlined literal map of the dimension (J10) — and one
groupBy(type, <slices>, name, year).count() produces the long table.

run_metric / run_metrics / run_metric_sliced stay as the per-family
forms (one aggregate per family and slicing); their results are the
reference the single scan is tested against.
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

# attach_slices inlines the (country -> slice values) dim as literal
# maps when it has at most this many countries; beyond that it joins
# (see fallback).
_INLINE_DIM_MAX = 500


def year_from_freetext(dp: Column | str) -> Column:
    """F1: first 4-digit run in the free-text date, else 0
    (dags/tmgl_regions/dag_02_languages.py:13-38)."""
    c = F.col(dp) if isinstance(dp, str) else dp
    extracted = F.regexp_extract(c, r"(\d{4})", 1)
    return F.coalesce(
        F.when(extracted != "", extracted).cast("int"), F.lit(0)
    )


@dataclass(frozen=True)
class MetricSpec:
    """One metric family (one reference dag_02_* file).

    name          -> the 'type' key of the metrics table
    entity_col    -> column holding the entity (array -> exploded)
    entity_expr   -> optional fn(Column) -> Column applied post-explode
                     (lowercasing A1, regex capture A5/A6/A10, …);
                     returning NULL drops the row (regex miss)
    prefilter     -> optional zero-arg fn -> boolean Column over the
                     fact row (A2 article-only); rows where it is not
                     true are left out of this family. A fn rather
                     than a Column because specs are module constants
                     and a Column needs a live session.
    recode        -> optional {value: label} map (A3/A4 $switch tables);
                     unmatched values PASS THROUGH unchanged, matching
                     the reference's "default": "$type" branches
                     (dag_02_doc_type.py:28, dag_02_study_type.py:44)
    min_year      -> P6 value-range filter (reference: 1500)
    """

    name: str
    entity_col: str
    entity_expr: object | None = None
    prefilter: object | None = None
    recode: dict[str, str] | None = None
    min_year: int = 1500


def attach_slices(
    facts: DataFrame,
    countries_col: str,
    dim: DataFrame,
    slicings: dict[str, str],
    dim_country_col: str = "country_key",
) -> DataFrame:
    """Attach one array<string> column per slicing: ``slicings`` maps
    the new column's name to the dim column holding its slice values
    (J10: region or country per country key). Each array holds the
    distinct slice values of the row's countries (matched on
    lower(trim()) keys), empty when none match.

    The dim is a true dimension (a few hundred rows — the reference
    loads it into task memory as a dict, tmgl_regions/misc.py:4-24),
    so it is collected ONCE for all slicings and embedded as literal
    country -> values maps: the lookup is row-local, with ZERO shuffles
    and no synthetic row key. (An earlier version joined back on
    monotonically_increasing_id, which is nondeterministic under
    recompute — AQE/task retries could re-id rows and mis-assign
    slices.) Dims too large to inline fall back to an
    explode/join/collect_set plan over a localCheckpoint snapshot whose
    row ids are frozen by lineage truncation.
    """
    empty = F.array().cast("array<string>")
    ck = F.lower(F.trim(F.col(dim_country_col)))
    values = {
        out: F.col(src).cast("string") for out, src in slicings.items()
    }
    dim_values = dim.groupBy(ck.alias("ck")).agg(
        *[F.sort_array(F.collect_set(v)).alias(out) for out, v in values.items()]
    )
    # one scan: take(N+1) and branch on length (ADVICE r2). 500-entry cap
    # keeps the inlined literal maps small enough that Catalyst analysis
    # stays cheap — a bigger dim goes through the join fallback below.
    taken = dim_values.take(_INLINE_DIM_MAX + 1)
    if len(taken) <= _INLINE_DIM_MAX:
        countries = F.coalesce(F.col(countries_col), empty)

        def lookup(out: str) -> Column:
            # countries with no value for this slicing map to nothing,
            # which the coalesce below already gives them
            pairs = [(r["ck"], r[out]) for r in taken if r["ck"] is not None and r[out]]
            if not pairs:
                return empty
            m = F.create_map(*[F.lit(x) for kv in pairs for x in kv])
            return F.array_distinct(
                F.flatten(
                    F.transform(
                        countries,
                        lambda c: F.coalesce(F.element_at(m, F.lower(F.trim(c))), empty),
                    )
                )
            )

        return facts.withColumns({out: lookup(out) for out in slicings})

    # fallback: dim too big to inline. monotonically_increasing_id is
    # nondeterministic under recompute, so freeze it with an eager
    # localCheckpoint: lineage is truncated, AQE/task retries replay the
    # materialized blocks and can never re-derive (and re-number) the
    # ids. Blocks are reclaimed by the ContextCleaner when the plan is
    # GC'd — no session-long persist leak (ADVICE r2). Caveats (ADVICE
    # r3): eager = a Spark job fires at plan-construction time even if
    # the result is never executed, and checkpoint blocks are
    # non-replicated — losing an executor FAILS the job instead of
    # recomputing (eager=False would NOT be safe: lazy checkpoint can
    # re-run the id assignment). If executor loss under dynamic
    # allocation matters, use reliable checkpoint storage instead.
    marked = facts.withColumn("_rid", F.monotonically_increasing_id()).localCheckpoint()
    exploded = marked.select(
        "_rid", F.explode_outer(F.col(countries_col)).alias("_country")
    )
    dim_small = dim.select(ck.alias("_ck"), *[v.alias(out) for out, v in values.items()]).distinct()
    found = (
        exploded.join(
            F.broadcast(dim_small),
            F.lower(F.trim(F.col("_country"))) == F.col("_ck"),
            "left",
        )
        .groupBy("_rid")
        .agg(*[F.collect_set(out).alias(out) for out in slicings])
    )
    return marked.join(found, "_rid").drop("_rid")


def attach_slice(
    facts: DataFrame,
    countries_col: str,
    dim: DataFrame,
    dim_country_col: str = "country_key",
    dim_slice_col: str = "who_region",
    slice_col: str = "region",
) -> DataFrame:
    """Fan facts out to one row per slice (J10 region->countries).

    A fact row belongs to a region if ANY of its countries is in the
    region — and is counted ONCE per region even when several of its
    countries belong to it (the reference's per-region $match is a
    filter, not a fan-out). A row in no slice is kept once with
    slice=NULL (explode_outer)."""
    fanned = attach_slices(
        facts, countries_col, dim, {"_slices": dim_slice_col}, dim_country_col
    )
    return fanned.withColumn(slice_col, F.explode_outer("_slices")).drop("_slices")


def explode_slices(df: DataFrame, slice_cols: Sequence[str]) -> DataFrame:
    """One row per (row, slice) over array<string> slice columns (see
    attach_slices): first the global slice, with every slice column
    NULL, then one row per value of each slice column, holding that
    value there and NULL in the others. The arrays become scalar
    string columns of the same names."""
    none = F.lit(None).cast("string")
    empty = F.array().cast("array<string>")

    def one(col: str):
        return lambda v: F.struct(*[(v if c == col else none).alias(c) for c in slice_cols])

    slices = F.concat(
        F.array(F.struct(*[none.alias(c) for c in slice_cols])),
        *[F.transform(F.coalesce(F.col(c), empty), one(c)) for c in slice_cols],
    )
    rest = [c for c in df.columns if c not in slice_cols]
    return df.select(*rest, F.inline(slices))


def _cleaner(spec: MetricSpec):
    """entity_expr then recode, as a fn of one entity value (NULL drops
    it). Single-arg: F.transform dispatches on lambda arity, so a second
    (defaulted) parameter would be fed the element INDEX."""

    def clean(ent: Column) -> Column:
        if spec.entity_expr is not None:
            ent = spec.entity_expr(ent)
        if spec.recode is not None:
            decode = F.create_map(*[F.lit(x) for kv in spec.recode.items() for x in kv])
            ent = F.coalesce(F.element_at(decode, ent), ent)
        return ent

    return clean


def run_metric(
    facts: DataFrame,
    spec: MetricSpec,
    date_col: str = "dp",
    slice_col: str | None = None,
) -> DataFrame:
    """Compute one metric family -> (type, <slice>, name, year, count).

    This is the reference's metrics-collection schema (keyed upserts,
    dag_02_languages.py:72-90,124-138). When ``slice_col`` is set the
    facts must already carry it (see attach_slice) and only non-null
    slice rows are returned; global (slice=None) rows come from a
    separate pass over the un-fanned facts (run_metric_sliced) so a
    document in two regions is still counted once globally — matching
    the reference, where the global pipeline never sees the region
    fan-out.
    """
    df = facts
    if spec.prefilter is not None:
        df = df.filter(spec.prefilter())
    df = df.withColumn("year", year_from_freetext(date_col)).filter(
        F.col("year") >= spec.min_year
    )

    dtype = dict(df.dtypes).get(spec.entity_col)
    if dtype is None:
        raise KeyError(f"{spec.entity_col} not in {df.columns}")
    if dtype.startswith("array"):
        df = df.withColumn("_entity", F.explode(spec.entity_col))
    else:
        df = df.withColumn("_entity", F.col(spec.entity_col))
    ent = _cleaner(spec)(F.col("_entity"))
    df = df.withColumn("name", ent).filter(F.col("name").isNotNull())

    out_slice = slice_col or "region"
    if slice_col is not None:
        out = (
            df.filter(F.col(slice_col).isNotNull())
            .groupBy(slice_col, "name", "year")
            .agg(F.count(F.lit(1)).alias("count"))
        )
    else:
        out = (
            df.groupBy("name", "year")
            .agg(F.count(F.lit(1)).alias("count"))
            .withColumn(out_slice, F.lit(None).cast("string"))
        )
    return out.withColumn("type", F.lit(spec.name)).select(
        "type", out_slice, "name", "year", "count"
    )


def run_metric_sliced(
    facts: DataFrame,
    spec: MetricSpec,
    countries_col: str,
    dim: DataFrame,
    date_col: str = "dp",
    slice_col: str = "region",
    **attach_kwargs,
) -> DataFrame:
    """Global + per-region rows for one metric family: one pass over the
    region-fanned facts for slices, one over the raw facts for the
    global (slice=None) rows — 2 scans total vs the reference's N+1
    per-region server queries."""
    fanned = attach_slice(
        facts, countries_col, dim, slice_col=slice_col, **attach_kwargs
    )
    sliced = run_metric(fanned, spec, date_col=date_col, slice_col=slice_col)
    global_rows = run_metric(facts, spec, date_col=date_col)
    if slice_col != "region":
        global_rows = global_rows.withColumnRenamed("region", slice_col)
    return sliced.unionByName(global_rows.select(*sliced.columns))


def run_metrics(facts: DataFrame, specs: list[MetricSpec], **kwargs) -> DataFrame:
    """All metric families into one long metrics table, one aggregate
    per family (the reference writes each family separately into
    tmgl_charts.02_metrics). run_metrics_single_scan is the one-scan
    form."""
    out = None
    for spec in specs:
        part = run_metric(facts, spec, **kwargs)
        out = part if out is None else out.unionByName(part)
    return out


def run_metrics_single_scan(
    facts: DataFrame,
    specs: list[MetricSpec],
    date_col: str = "dp",
    slice_cols: Sequence[str] = (),
) -> DataFrame:
    """All metric families over all slices in ONE scan of the fact
    table and ONE hash aggregate — SURVEY §3.2's 'one multi-metric job
    via unpivot' upgrade over run_metrics (one aggregate per family).

    One projection computes the year and a cleaned entity ARRAY per
    family (scalar entities wrapped, entity_expr/recode applied inside
    a transform, nulls dropped, emptied where the family's prefilter or
    min_year rejects the row); an array of (type, entities) structs is
    exploded, then the entities; explode_slices fans each row out to
    the global slice plus its ``slice_cols`` values; and a single
    groupBy(type, <slices>, name, year).count() ends it. At 100 TB this
    is the difference between F x S scans of the corpus and 1: the
    fan-out multiplies only the tiny cleaned entity arrays, not the
    scan.

    ``slice_cols`` name array<string> columns of ``facts`` (see
    attach_slices); the output is (type, *slice_cols, name, year,
    count), global rows NULL in every slice column. Without slices it
    is (type, region, name, year, count) with region NULL, run_metrics'
    shape. Entities are normalized to STRINGS (one array type across
    families): non-string entity columns must supply an entity_expr
    casting to string, else this raises rather than silently diverging
    from run_metrics' native-typed names.
    """
    min_year = min(s.min_year for s in specs)
    dtypes = dict(facts.dtypes)
    year = F.col("year")
    families = []
    for spec in specs:
        if spec.entity_col not in dtypes:
            raise KeyError(f"{spec.entity_col} not in {facts.columns}")
        elem_type = dtypes[spec.entity_col]
        if elem_type.startswith("array<"):
            elem_type = elem_type[len("array<"):-1]
        if spec.entity_expr is None and elem_type != "string":
            raise ValueError(
                f"spec {spec.name!r}: entity column {spec.entity_col!r} is "
                f"{elem_type}; single-scan normalizes names to string — "
                "add an entity_expr casting to string, or use run_metrics"
            )
        base = (
            F.col(spec.entity_col)
            if dtypes[spec.entity_col].startswith("array")
            else F.array(spec.entity_col)
        )
        entities = F.filter(
            F.transform(base, _cleaner(spec)), lambda x: x.isNotNull()
        ).cast("array<string>")  # one element type (and nullability) for all
        keep = spec.prefilter() if spec.prefilter is not None else None
        if spec.min_year > min_year:
            late = year >= spec.min_year
            keep = late if keep is None else keep & late
        if keep is not None:
            # a rejected row gets no entities: when(NULL/false) -> NULL
            # explodes to nothing, as .filter(prefilter) drops it
            entities = F.when(keep, entities)
        families.append(F.struct(F.lit(spec.name).alias("type"), entities.alias("_entities")))

    wide = facts.withColumn("year", year_from_freetext(date_col)).filter(year >= min_year)
    long = (
        wide.select("year", *slice_cols, F.inline(F.array(*families)))
        .select("type", "year", *slice_cols, F.explode("_entities").alias("name"))
    )
    if slice_cols:
        out_slices = list(slice_cols)
        long = explode_slices(long, out_slices)
    else:
        out_slices = ["region"]
        long = long.withColumn("region", F.lit(None).cast("string"))
    return (
        long.groupBy("type", *out_slices, "name", "year")
        .agg(F.count(F.lit(1)).alias("count"))
        .select("type", *out_slices, "name", "year", "count")
    )


def label_join(
    metrics: DataFrame,
    labels: DataFrame,
    code_col: str = "code_xml",
    label_col: str = "label_en",
    type_col: str | None = None,
) -> DataFrame:
    """Post-aggregation label decode (J11 tmgl_areas / J12 DECS MFN):
    broadcast join on the aggregated name, label preferred when found.
    With ``type_col`` the labels carry the metric type they decode and
    the join also matches it, so one join decodes several families."""
    cond = metrics["name"] == labels[code_col]
    if type_col is not None:
        cond = cond & (metrics["type"] == labels[type_col])
    return (
        metrics.join(F.broadcast(labels), cond, "left")
        .withColumn("name", F.coalesce(F.col(label_col), F.col("name")))
        .drop(code_col, label_col, *([type_col] if type_col else []))
    )


def top_k(
    metrics: DataFrame,
    k: int,
    year_min: int | None = None,
    year_max: int | None = None,
    group_cols: tuple[str, ...] = ("type", "region"),
) -> DataFrame:
    """A19/O2: the dashboards' client-side JS (filter year range -> sum
    per entity -> sort desc -> head K) as a window query. Deterministic
    tie-break: total desc, name asc (SURVEY §7.4 item 8)."""
    df = metrics
    if year_min is not None:
        df = df.filter(F.col("year") >= year_min)
    if year_max is not None:
        df = df.filter(F.col("year") <= year_max)
    sums = df.groupBy(*group_cols, "name").agg(F.sum("count").alias("total"))
    w = W.partitionBy(*group_cols).orderBy(F.desc("total"), F.asc("name"))
    return sums.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)
