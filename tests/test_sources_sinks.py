"""Sources/sinks/streaming/multimodal tests (S1-S15 surface)."""

from __future__ import annotations

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from data_governance_spark.operators.multimodal import (
    decode_image,
    extract_features,
    media_repartition,
    sample_frames,
    MEDIA_SCHEMA,
)
from data_governance_spark.sinks.json_sink import chart_json
from data_governance_spark.sinks.xml_sink import doc_xml, write_solr_xml
from data_governance_spark.sources.rest_source import (
    harvest_pages,
    incremental_params,
    records_df,
    upsert_latest,
)
from data_governance_spark.sources.solr_xml import project_fields, read_solr_xml
from data_governance_spark.streaming.events import (
    read_event_stream,
    run_available_now,
    sessionize_stream,
    windowed_counts,
)

XML_DOC = """<?xml version="1.0" encoding="UTF-8"?>
<add>
  <doc>
    <field name="id">a1</field>
    <field name="instance">tmgl</field>
    <field name="la">en</field>
    <field name="la">pt</field>
    <field name="dp">2021</field>
  </doc>
  <doc>
    <field name="id">a2</field>
    <field name="instance">other</field>
  </doc>
  <doc>
    <field name="id">a1</field>
    <field name="instance">tmgl</field>
    <field name="la">OVERWRITTEN-DUP</field>
  </doc>
</add>
"""


@pytest.fixture()
def xml_dir(tmp_path):
    p = tmp_path / "f1_regional_tmgl.xml"
    p.write_text(XML_DOC, encoding="utf-8")
    return str(tmp_path)


def test_solr_xml_roundtrip(spark, xml_dir):
    df = read_solr_xml(spark, os.path.join(xml_dir, "*_tmgl.xml"), instance_filter="tmgl")
    rows = df.collect()
    # dedup first-in-file wins (S10) + instance filter (S9)
    assert len(rows) == 1
    r = rows[0]
    assert r["id"] == "a1"
    assert r["fields"]["la"] == ["en", "pt"]
    flat = project_fields(df, ["la", "dp"], scalar={"dp"}).collect()[0]
    assert flat["la"] == ["en", "pt"] and flat["dp"] == "2021"


def test_solr_xml_empty_glob(spark, tmp_path):
    df = read_solr_xml(spark, str(tmp_path / "*.xml"))
    assert df.count() == 0


def test_xml_sink_fields_and_sanitize(spark, tmp_path):
    df = spark.createDataFrame(
        [("d1", ["x", "", None], "bad\x01<chars>&", 7, {"tag_a": ["v1", "v2"]})],
        "id string, la array<string>, note string, weight int, dyn map<string,array<string>>",
    )
    out = doc_xml(df).collect()[0]["xml"]
    assert out.startswith('<doc boost="7">')
    assert '<field name="id">d1</field>' in out
    assert out.count('<field name="la">') == 1  # ''/null items pruned (P8)
    assert '<field name="note">bad&lt;chars&gt;&amp;</field>' in out
    assert '<field name="tag_a">v1</field>' in out
    path = str(tmp_path / "xmlout")
    write_solr_xml(doc_xml(df), path, single_file=True)
    text = "".join(
        open(f).read() for f in sorted(glob.glob(os.path.join(path, "part-*")))
    )
    assert text.startswith('<?xml version="1.0" encoding="UTF-8"?>')
    assert text.rstrip().endswith("</add>")


def test_chart_json_pivot(spark):
    metrics = spark.createDataFrame(
        [
            ("language", None, "en", 2020, 5),
            ("language", None, "pt", 2020, 3),
            ("language", None, "en", 2021, 7),
            ("language", "amro", "en", 2020, 99),
            ("doctype", None, "Articles", 2020, 1),
        ],
        "type string, region string, name string, year int, count int",
    )
    rows = chart_json(metrics, "language")
    assert rows == [{"ano": 2020, "en": 5, "pt": 3}, {"ano": 2021, "en": 7}]
    sliced = chart_json(metrics, "language", slice_value="amro")
    assert sliced == [{"ano": 2020, "en": 99}]


def test_chart_json_equals_collected_spark_pivot(spark):
    # chart_json pivots in Python; it must give pivot_metric's rows
    # with nulls dropped, keys in the same order ("ano", then sorted
    # names), for every slice — the global one included
    from data_governance_spark.fixtures import tmgl_landing, who_region_dim
    from data_governance_spark.metrics.runner import run_metric_sliced
    from data_governance_spark.metrics.tmgl_specs import TMGL_SPECS
    from data_governance_spark.sinks.json_sink import pivot_metric

    metrics = None
    for spec in TMGL_SPECS[:3]:
        part = run_metric_sliced(
            tmgl_landing(spark), spec, "cp", who_region_dim(spark),
            dim_country_col="pais_en",
        )
        metrics = part if metrics is None else metrics.unionByName(part)
    metrics = metrics.cache()
    checked = 0
    for t in ("language", "journal", "doctype"):
        for region in (None, "amro", "searo", "nowhere"):
            want = [
                {k: v for k, v in r.asDict().items() if v is not None}
                for r in pivot_metric(metrics, t, slice_value=region).collect()
            ]
            got = chart_json(metrics, t, slice_value=region)
            assert got == want
            assert [list(r) for r in got] == [list(r) for r in want]
            checked += len(got)
    assert checked > 0
    metrics.unpersist()


def test_harvest_fetches_each_page_once(spark):
    # two joined branches of one harvest must not replay the fetch: the
    # harvest is one snapshot, one request per page
    fetched = spark.sparkContext.accumulator(0)

    def counting_fetch(offset, limit, params):
        fetched.add(1)
        return [{"id": offset + i} for i in range(3)]

    pages = harvest_pages(spark, counting_fetch, total_count=500, limit=100, num_partitions=2)
    sizes = pages.select("offset", F.size("records").alias("n"))
    errors = pages.filter(F.col("error").isNull()).select("offset")
    assert sorted(r["offset"] for r in sizes.join(errors, "offset").collect()) == [
        0, 100, 200, 300, 400
    ]
    assert fetched.value == 5


def test_rest_harvest_and_upsert(spark):
    # defined inline so cloudpickle ships it by value to executors
    def fake_fetch(offset, limit, params):
        if offset == 200:
            raise RuntimeError("boom 503")
        return [
            {"id": offset + i, "updated_time": f"2025-01-{(i % 9) + 1:02d}"}
            for i in range(min(limit, 5))
        ]

    pages = harvest_pages(spark, fake_fetch, total_count=300, limit=100)
    errs = pages.filter(F.col("error").isNotNull()).collect()
    assert len(errs) == 1 and "boom 503" in errs[0]["error"]
    recs = records_df(pages, spark.createDataFrame([], "id long, updated_time string").schema)
    assert recs.count() == 10  # 2 good pages x 5
    dup = recs.union(recs.withColumn("updated_time", F.lit("2025-02-01")))
    merged = upsert_latest(dup)
    assert merged.count() == 10
    assert all(r["updated_time"] == "2025-02-01" for r in merged.collect())


def test_incremental_params():
    import datetime

    p = incremental_params(datetime.date(2025, 1, 20))
    assert p == {"updated_time__gte": "2025-01-10"}


def test_streaming_windowed_counts(spark, tmp_path):
    from data_governance_spark.tables import table as load_table

    src = str(tmp_path / "stream_src")
    # stage typed events into the stream source dir
    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    ev.write.mode("overwrite").parquet(src)
    stream = read_event_stream(spark, src)
    assert stream.isStreaming
    agg = windowed_counts(stream)
    run_available_now(agg, str(tmp_path / "ckpt"), query_name="t_event_windows")
    got = spark.sql("SELECT sum(n) AS n FROM t_event_windows").collect()[0]["n"]
    assert got == ev.count()


def test_streaming_distinct_sketch_windows_merge(spark, tmp_path):
    """windowed_distinct_sketch: (1) every watermark-closed window's
    estimate equals the exact per-window COUNT(DISTINCT) (KMV exact
    regime), and (2) the emitted sketch BLOBS merge across windows to
    the exact distinct count of the whole closed span — the
    'COUNT(DISTINCT) is not summable, sketches are' property the
    operator exists for."""
    from data_governance_spark.operators.sketches import KmvSketch
    from data_governance_spark.streaming.events import (
        windowed_distinct_sketch,
    )
    from data_governance_spark.tables import table as load_table

    src = str(tmp_path / "wsk_src")
    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    ev.write.mode("overwrite").parquet(src)
    out = windowed_distinct_sketch(read_event_stream(spark, src))
    run_available_now(
        out, str(tmp_path / "wsk_ckpt"), query_name="t_wsk",
        output_mode="append",
    )
    rows = spark.table("t_wsk").collect()
    assert rows
    wm = ev.agg(
        (F.max("ts") - F.expr("INTERVAL 2 HOURS")).alias("wm")
    ).collect()[0]["wm"]
    exact = {
        r["w"]: r["nd"]
        for r in ev.groupBy(
            F.date_trunc("hour", "ts").alias("w")
        )
        .agg(F.countDistinct("user_id").alias("nd"))
        .collect()
    }
    merged = KmvSketch(4096)
    closed_users = set()
    ev_rows = ev.select("ts", "user_id").collect()
    for r in rows:
        assert r["n_distinct"] == float(exact[r["window_start"]])
        merged = merged.merge(KmvSketch.from_bytes(bytes(r["sketch"])))
    for e in ev_rows:
        if e["ts"].replace(minute=0, second=0, microsecond=0) in {
            r["window_start"] for r in rows
        }:
            closed_users.add(e["user_id"])
    assert merged.estimate() == float(len(closed_users))
    # no window past the watermark may have been emitted
    for r in rows:
        assert r["window_start"] <= wm


def test_streaming_topk_sketch_exact_regime(spark, tmp_path):
    """windowed_topk_sketch: closed-window top values equal the exact
    per-window groupBy counts (MG exact regime, NDV(event_type) <= k),
    and the emitted MG blobs merge across windows to the exact
    corpus-level counts of the closed span."""
    from data_governance_spark.operators.sketches import MgSketch
    from data_governance_spark.streaming.events import (
        windowed_topk_sketch,
    )
    from data_governance_spark.tables import table as load_table

    src = str(tmp_path / "tk_src")
    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    ev.write.mode("overwrite").parquet(src)
    out = windowed_topk_sketch(
        read_event_stream(spark, src), topn=3, k=64
    )
    run_available_now(
        out, str(tmp_path / "tk_ckpt"), query_name="t_topk",
        output_mode="append",
    )
    rows = spark.table("t_topk").collect()
    assert rows
    exact = {
        (r["w"], r["event_type"]): r["n"]
        for r in ev.groupBy(
            F.date_trunc("hour", "ts").alias("w"), "event_type"
        ).count().withColumnRenamed("count", "n").collect()
    }
    merged = MgSketch(64)
    for r in rows:
        per_window = sorted(
            ((kk, n) for (w, kk), n in exact.items()
             if w == r["window_start"]),
            key=lambda kv: (-kv[1], kv[0]),
        )[:3]
        assert list(zip(r["values"], r["counts"])) == per_window, (
            r["window_start"]
        )
        merged = merged.merge(MgSketch.from_bytes(bytes(r["sketch"])))
    closed = {r["window_start"] for r in rows}
    want_total: dict = {}
    for (w, kk), n in exact.items():
        if w in closed:
            want_total[kk] = want_total.get(kk, 0) + n
    assert merged.counters == want_total  # exact regime: no decrement


def test_streaming_sessions_equal_batch_q19(spark, tmp_path):
    """Equivalence: once the watermark confirms every session, streaming
    output == the batch q19 recompute on the same events (real sf0.001
    data, all users)."""
    from data_governance_spark.queries.registry import QUERIES
    from data_governance_spark.tables import table as load_table

    src = tmp_path / "eq_src"
    src.mkdir()
    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    ev.write.parquet(str(src / "w1"))
    # sentinel wave far in the future: advances the watermark past every
    # real session's end + gap so ALL of them confirm
    far = ev.agg(F.max("ts").alias("m")).collect()[0]["m"]
    spark.createDataFrame(
        [(10**9, far, -1, "x", 0.0, "{}")],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).withColumn("ts", F.col("ts") + F.expr("INTERVAL 10 DAYS")).write.parquet(
        str(src / "w2")
    )
    sink = str(tmp_path / "eq_out")
    ckpt = str(tmp_path / "eq_ckpt")
    for _ in range(2):  # run 2: sentinel batch fires the confirmations
        out = sessionize_stream(read_event_stream(spark, str(src) + "/*"))
        run_available_now(out, ckpt, output_mode="append", path=sink)
    # q19 formats session_start to whole seconds — truncate to match
    got = {
        (r["user_id"], str(r["session_start"])[:19], r["n_events"])
        for r in spark.read.parquet(sink).collect()
        if r["user_id"] != -1
    }
    batch = QUERIES["q19_user_sessions"].fn(spark, "/root/testdata/sf0.001")
    want = {
        (r["user_id"], r["session_start"], r["n_events"])
        for r in batch.collect()
    }
    assert got == want


def test_streaming_stateful_sessionization(spark, tmp_path):
    from data_governance_spark.streaming.events import sessionize_stream

    src = tmp_path / "sess_src"
    src.mkdir()
    ckpt = str(tmp_path / "sess_ckpt")

    def write_wave(name, rows):
        spark.createDataFrame(
            [(i, ts, uid, "click", 1.0, "{}") for i, (ts, uid) in enumerate(rows)],
            "event_id long, ts string, user_id long, event_type string, "
            "value double, props string",
        ).withColumn("ts", F.to_timestamp("ts")).write.parquet(str(src / name))

    sink = str(tmp_path / "sess_out")

    def run():
        out = sessionize_stream(read_event_stream(spark, str(src) + "/*"))
        run_available_now(out, ckpt, output_mode="append", path=sink)
        try:
            rows = spark.read.parquet(sink).collect()
        except Exception:  # sink still empty: no parquet schema yet
            rows = []
        return {
            (r["user_id"], str(r["session_start"]), r["n_events"])
            for r in rows
        }

    # wave 1: user 1 has a 2-event session then (2h later, > 30min gap)
    # a second session; user 2 has one session
    write_wave(
        "w1",
        [
            ("2024-01-01 00:00:00", 1),
            ("2024-01-01 00:10:00", 1),
            ("2024-01-01 02:00:00", 1),
            ("2024-01-01 00:05:00", 2),
        ],
    )
    got = run()
    # nothing is final yet: the watermark has not confirmed any gap, and
    # a watermark-admitted late event could still reshape session 1
    assert got == set()

    # wave 2: a much-later event advances the watermark (2h delay) past
    # every wave-1 session's end + gap
    write_wave("w2", [("2024-01-01 12:00:00", 3)])
    run()
    # wave 3: confirmations fire against wave-2's watermark (10:00); the
    # below-watermark late event for user 1 is dropped, not merged
    write_wave(
        "w3",
        [("2024-01-01 12:00:01", 3), ("2024-01-01 00:05:00", 1)],
    )
    got = run()
    assert (1, "2024-01-01 00:00:00", 2) in got  # late event NOT added
    assert (1, "2024-01-01 02:00:00", 1) in got
    assert (2, "2024-01-01 00:05:00", 1) in got
    assert not any(u == 3 for u, _, _ in got)  # user 3 still open


def test_streaming_session_buffer_cap(spark, tmp_path):
    """max_buffer_events safety valve: a gapless event stream that would
    otherwise keep one session open (and its buffer growing) forever is
    force-closed and emitted when the buffer exceeds the cap, even
    though the watermark never confirmed it."""
    from data_governance_spark.streaming.events import sessionize_stream

    src = tmp_path / "cap_src"
    src.mkdir()
    rows = [(i, f"2024-01-01 00:{i:02d}:00", 7, "click", 1.0, "{}") for i in range(30)]
    spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string",
    ).withColumn("ts", F.to_timestamp("ts")).write.parquet(str(src / "w1"))

    def run(tag, **kw):
        out = sessionize_stream(read_event_stream(spark, str(src) + "/*"), **kw)
        sink = str(tmp_path / f"cap_out_{tag}")
        run_available_now(out, str(tmp_path / f"cap_ckpt_{tag}"), output_mode="append", path=sink)
        try:
            return spark.read.parquet(sink).collect()
        except Exception:
            return []

    assert run("nocap") == []  # exact semantics: session still open
    got = run("cap", max_buffer_events=10)
    assert [(r["user_id"], r["n_events"]) for r in got] == [(7, 30)]


def test_multimodal_stub_and_plumbing(spark):
    rows = [
        (1, "image", b"\x01\x02\x03\x04" * 10,
         {"mime": "image/png", "width": 2, "height": 2, "duration_ms": None, "sample_rate": None}),
        (2, "video", b"\xff" * 5,
         {"mime": "video/mp4", "width": None, "height": None, "duration_ms": 3500, "sample_rate": None}),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = {r["media_id"]: r for r in extract_features(media).collect()}
    assert feats[1]["n_bytes"] == 40
    assert len(feats[1]["feature"]) == 8
    assert abs(sum(feats[1]["feature"]) - 1.0) < 1e-6
    # determinism
    again = {r["media_id"]: r for r in extract_features(media).collect()}
    assert feats[1]["feature"] == again[1]["feature"]
    frames = sample_frames(media).collect()
    assert [f["frame_ts_ms"] for f in frames] == [0, 1000, 2000, 3000]
    # byte budget caps at the parallelism floor for a tiny corpus
    # (r14: one byte budget used to mean ONE partition — every decoder
    # core but one idle); at scale int(total/target)+1 dominates
    assert (
        media_repartition(media).rdd.getNumPartitions()
        == media.sparkSession.sparkContext.defaultParallelism
    )
    # dispatch semantics (r10: WEBP-lossless decodes for REAL now): a
    # WEBP container with no VP8L chunk is typed corruption, arbitrary
    # bytes are a ValueError (the lossy-VP8 environment-constraint
    # raise is pinned in tests/test_multimodal_codecs.py)
    with pytest.raises(ValueError, match="VP8L"):
        decode_image(b"RIFFxxxxWEBPdata")
    with pytest.raises(ValueError, match="unrecognized"):
        decode_image(b"abc")


def test_streaming_dedup_drops_watermark_window_duplicates(spark, tmp_path):
    """dedup_stream: first occurrence per key passes; duplicates inside
    the watermark horizon are dropped; batch recount confirms the kept
    set is exactly one row per key."""
    from data_governance_spark.streaming.events import dedup_stream
    from data_governance_spark.tables import table as load_table

    src = tmp_path / "dd_src"
    src.mkdir()
    ev = load_table(spark, "/root/testdata/sf0.001", "events").limit(500)
    # duplicate every event (identical key column event_id, same ts)
    ev.write.parquet(str(src / "w1"))
    ev.write.parquet(str(src / "w2"))
    sink = str(tmp_path / "dd_out")
    out = dedup_stream(
        read_event_stream(spark, str(src) + "/*"), key_cols=["event_id"]
    )
    run_available_now(
        out, str(tmp_path / "dd_ckpt"), output_mode="append", path=sink
    )
    got = spark.read.parquet(sink)
    assert got.count() == 500
    assert got.select("event_id").distinct().count() == 500
    # and the kept rows are the real events, not mangled
    assert (
        got.join(ev, ["event_id", "ts", "user_id"], "left_anti").count() == 0
    )


def test_streaming_dedup_state_expires_with_watermark(spark, tmp_path):
    """The bounded-state claim, pinned deterministically: after drain 1
    the watermark sits at max(ts) - 2h, so key A (old, state expired)
    lets its later duplicate PASS — the documented horizon trade-off —
    while key B (recent, state live) still DROPS its duplicate."""
    from datetime import datetime

    from data_governance_spark.streaming.events import dedup_stream

    def frame(rows):
        return spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string",
        )

    from datetime import timedelta

    t0 = datetime(2025, 1, 1, 0, 0, 0)

    def at(h, m=0):
        return t0 + timedelta(hours=h, minutes=m)

    src = tmp_path / "exp_src"
    src.mkdir()
    # A old; B recent (10h later). Watermark after drain 1 = B - 2h,
    # so A's state (expires A+2h) is gone, B's (B+2h) is live.
    frame(
        [(1, at(0), 1, "a", 0.0, "{}"), (2, at(10), 1, "b", 0.0, "{}")]
    ).write.parquet(str(src / "w1"))
    sink = str(tmp_path / "exp_out")
    ckpt = str(tmp_path / "exp_ckpt")

    def drain():
        out = dedup_stream(
            read_event_stream(spark, str(src) + "/*"),
            key_cols=["event_id"],
            watermark="2 hours",
        )
        run_available_now(out, ckpt, output_mode="append", path=sink)

    drain()
    assert spark.read.parquet(sink).count() == 2
    frame(
        [
            (1, at(20), 1, "a2", 0.0, "{}"),  # dup of EXPIRED A: passes
            (2, at(10, 30), 1, "b2", 0.0, "{}"),  # dup of LIVE B: drops
        ]
    ).write.parquet(str(src / "w2"))
    drain()
    got = {
        (r["event_id"], r["event_type"])
        for r in spark.read.parquet(sink).collect()
    }
    assert got == {(1, "a"), (2, "b"), (1, "a2")}
