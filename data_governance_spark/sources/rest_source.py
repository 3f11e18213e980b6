"""Paginated REST harvester plumbing (S1-S6).

The reference harvests the FI-Admin API with limit/offset pages of
100, a 3-worker offset stride, retry/backoff, an error-page side
collection, and three extract modes — incremental watermark
(updated_time >= today-10d), date-range, and id-list
(dags/data_governance/tasks_for_01.py:96-191, 01_*.py).

Spark-first shape: page-range fan-out. The driver computes the page
list from meta.total_count, ``spark.range(n_pages)`` is repartitioned
across executors, and each partition fetches its pages via an injected
``fetch(offset, limit, params) -> list[dict]`` callable — the network
client is pluggable (tests inject a fake; production injects a
requests session with Retry). Failed pages are captured per-page into
an error column instead of failing the job (the reference's
error-tracking collection, :66-91) and can be re-driven by filtering.

The upsert merge (S6) is last-write-wins by (id, updated_time) — the
window-dedup equivalent of Mongo's UpdateOne(upsert=True) batches.
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterator
from datetime import date, timedelta

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql import Window as W

PAGE_SCHEMA = T.StructType(
    [
        T.StructField("offset", T.LongType()),
        T.StructField("records", T.ArrayType(T.StringType())),  # raw JSON strings
        T.StructField("error", T.StringType()),
    ]
)

FetchFn = Callable[[int, int, dict], list[dict]]


def incremental_params(today: date, days: int = 10) -> dict:
    """S2: watermark filter param (updated_time__gte = today - days)."""
    return {"updated_time__gte": (today - timedelta(days=days)).isoformat()}


def date_range_params(start: str, end: str) -> dict:
    """S3: updated_time in [start, end]."""
    return {"updated_time__gte": start, "updated_time__lte": end}


def id_list_params(ids: list[str]) -> dict:
    """S4: explicit id list (probed one call per id by the reference;
    here passed as an IN-list param the fetch fn may batch)."""
    return {"ids": list(ids)}


def harvest_pages(
    spark: SparkSession,
    fetch: FetchFn,
    total_count: int,
    limit: int = 100,
    params: dict | None = None,
    num_partitions: int = 8,
) -> DataFrame:
    """S1/S5: fan page fetches across executors.

    Returns (offset, records: array<json-string>, error). Errors stay
    as rows (filter error.isNotNull() to re-drive the failed pages —
    the reference's error-queue-and-replay).

    The harvest is ONE snapshot: the pages are fetched once, here, and
    kept as an eager localCheckpoint, so every consumer (records_df's
    branches, a join of two of them, a retried stage) reads the same
    rows and the API sees each page requested once per call. A lazy
    frame would replay the fetch once per consumer, each replay
    possibly seeing other data. Checkpoint blocks are not replicated:
    losing an executor fails the job instead of fetching again."""
    params = params or {}
    offsets = list(range(0, total_count, limit))
    if not offsets:
        return spark.createDataFrame([], PAGE_SCHEMA)
    pages = spark.createDataFrame(
        [(o,) for o in offsets], "offset long"
    ).repartition(min(num_partitions, len(offsets)))

    def run(rows: Iterator) -> Iterator[tuple]:
        for row in rows:
            try:
                recs = fetch(row.offset, limit, params)
                yield (row.offset, [json.dumps(r, sort_keys=True) for r in recs], None)
            except Exception as e:  # page-level error capture, job survives
                yield (row.offset, None, f"{type(e).__name__}: {e}")

    return pages.rdd.mapPartitions(run).toDF(PAGE_SCHEMA).localCheckpoint()


def records_df(pages: DataFrame, schema: T.StructType) -> DataFrame:
    """Explode fetched pages into typed records via from_json."""
    return (
        pages.filter(F.col("error").isNull())
        .select(F.explode("records").alias("_raw"))
        .select(F.from_json("_raw", schema).alias("r"))
        .select("r.*")
    )


def upsert_latest(
    df: DataFrame, key: str = "id", version_col: str = "updated_time"
) -> DataFrame:
    """S6: merge-by-key — keep the newest version per key (window dedup;
    on Delta-capable storage this becomes MERGE INTO)."""
    w = W.partitionBy(key).orderBy(F.desc(version_col))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
