"""The benchmark workloads.

Each workload is a closed-loop batch job with one client: ``setup``
generates and stages its inputs, then ``run_pass`` runs the chain once
over the same inputs, back to back until the run's time is up.
``check`` verifies a pass's outputs against ``checks.py``; ``trace``
installs the layer wrappers for a traced run and ``layer_metrics``
turns a traced pass into the per-layer numbers.

The program is driven only through its public entry points
(``sources.rest_source``, ``standardize``, ``enrich``, ``pipeline``,
``sinks.xml_sink``, ``sources.solr_xml``, ``tmgl_pipeline``,
``metrics.runner``, ``sinks.json_sink``, ``sinks.html_sink``,
``operators.incremental``).
"""

from __future__ import annotations

import json
import os
import shutil
from datetime import date

import checks
import gen
from data_governance_spark import pipeline, tmgl_pipeline
from data_governance_spark.operators import incremental
from data_governance_spark.sinks import html_sink, json_sink
from data_governance_spark.sources import rest_source
from spans import layer_stats

CURRENT_YEAR = 2025
TODAY = date(2025, 6, 10)
PAGE_LIMIT = 100
# the 02 medallion table is written durably; the later stages stay lazy.
# Checkpointing all three stages costs ~10 s more per cold pass, which
# the run budget cannot carry
CHECKPOINT_STAGES = ("02_iahx_xml",)


def dir_bytes(path: str, since: float | None = None) -> int:
    """Bytes of the files under ``path`` (modified at or after ``since``)."""
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for name in files:
            st = os.stat(os.path.join(dirpath, name))
            if since is None or st.st_mtime >= since:
                total += st.st_size
    return total


def reset_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


class Workload:
    name = ""
    docs = 0  # input docs per pass
    check_every_pass = False  # else the first and the last pass are checked

    def __init__(self, spark, root: str, seed: int, nproc: int):
        self.spark = spark
        self.root = root
        self.seed = seed
        self.nproc = nproc
        self.inputs = os.path.join(root, "inputs")
        self.out = os.path.join(root, "out")
        self.tracer = None
        self.ddl: dict[str, str] = {}

    def setup(self) -> None:
        raise NotImplementedError

    def input_digest(self) -> str:
        """sha256 of the generated inputs (files and dimension rows)."""
        raise NotImplementedError

    def run_pass(self, pass_no: int) -> None:
        raise NotImplementedError

    def bytes_out(self, t0: float) -> int:
        return dir_bytes(self.out)

    def check(self, pass_no: int) -> list[str]:
        raise NotImplementedError

    def after_pass(self, pass_no: int) -> None:
        """Untimed: remove outputs before the next pass."""
        reset_dir(self.out)

    def trace(self, tracer) -> None:
        self.tracer = tracer

    def facts(self, pass_no: int) -> dict[str, float]:
        """Per-layer numbers read from a pass's outputs (untimed, before
        they are removed)."""
        return {}

    def layer_metrics(self, pt) -> dict[str, float]:
        """Per-layer numbers of one traced pass, from its spans and jobs."""
        return {}

    def stage_table(self, name: str, ddl: str, rows: list[tuple]) -> None:
        os.makedirs(self.inputs, exist_ok=True)
        gen.write_table(os.path.join(self.inputs, f"{name}.jsonl"), ddl, rows)
        self.ddl[name] = ddl

    def table(self, name: str):
        """A staged dimension table, read the way a pass reads its inputs."""
        return self.spark.read.schema(self.ddl[name]).json(os.path.join(self.inputs, f"{name}.jsonl"))

    def span(self, name: str):
        from contextlib import nullcontext

        return self.tracer.span(name) if self.tracer else nullcontext()

    def materialize(self, name: str, df):
        return self.tracer.materialize(name, df) if self.tracer and self.tracer.active else df


# --------------------------------------------------------------------------
# FI-Admin chain


class DgNightly(Workload):
    """harvest_pages -> records_df -> upsert_latest -> run_pipeline with
    a durable 02 medallion table -> sharded export_xml over one
    incremental window."""

    name = "dg_nightly"
    N_IDS = 2000

    def setup(self) -> None:
        self.records = gen.landing_versions(self.seed, self.N_IDS)
        self.total = gen.write_pages(self.records, os.path.join(self.inputs, "pages"), PAGE_LIMIT)
        self.inputs_generated = os.path.join(self.inputs, "pages")
        self.stage_dims(self.records)
        self.fetched = self.spark.sparkContext.accumulator(0)
        self.fetched_seen = 0
        self.docs = self.total

    def stage_dims(self, records: list[dict]) -> None:
        tables = dict(gen.fiadmin_dim_rows(self.seed))
        tables["temas"] = (gen.TEMAS_DDL, gen.temas_rows(self.seed, records))
        for name, (ddl, rows) in tables.items():
            self.stage_table(name, ddl, rows)

    def input_digest(self) -> str:
        return gen.digest(self.inputs_generated, gen.fiadmin_dim_rows(self.seed),
                          gen.temas_rows(self.seed, self.records))

    def dims(self) -> pipeline.Dims:
        rd = self.table
        return pipeline.Dims(
            tabpais=rd("tabpais"), title_current=rd("title_current"), decs=rd("decs"),
            instance_ecollection=rd("instance_ecollection"),
            db_instance_ecollection=rd("db_instance_ecollection"),
            temas={"hans": rd("temas")}, brisa_ai=rd("brisa_ai"),
        )

    def _fetch(self):
        page_dir, acc = os.path.join(self.inputs, "pages"), self.fetched

        def fetch(offset: int, limit: int, params: dict) -> list[dict]:
            acc.add(1)
            with open(os.path.join(page_dir, f"{offset:08d}.json"), encoding="utf-8") as f:
                return json.load(f)[:limit]

        return fetch

    def run_pass(self, pass_no: int) -> None:
        with self.span("rest.harvest"):
            pages = rest_source.harvest_pages(
                self.spark, self._fetch(), self.total, limit=PAGE_LIMIT,
                params=rest_source.incremental_params(TODAY), num_partitions=self.nproc,
            )
            pages = self.materialize("rest.harvest", pages)
            recs = rest_source.records_df(pages, gen.LANDING_DDL)
        with self.span("rest.upsert"):
            landing = self.materialize("rest.upsert", rest_source.upsert_latest(recs))
        with self.span("pipeline"):
            enriched = pipeline.run_pipeline(
                landing, self.dims(), CURRENT_YEAR, checkpoint_dir=os.path.join(self.out, "medallion"),
                checkpoint_stages=CHECKPOINT_STAGES)
        pipeline.export_xml(enriched, os.path.join(self.out, "xml"))

    def check(self, pass_no: int) -> list[str]:
        errors = checks.check_fiadmin_xml(os.path.join(self.out, "xml"), self.records)
        for stage in CHECKPOINT_STAGES:
            if not os.path.isdir(os.path.join(self.out, "medallion", stage)):
                errors.append(f"medallion table {stage} missing")
        return errors

    def facts(self, pass_no: int) -> dict[str, float]:
        fetched, self.fetched_seen = self.fetched.value - self.fetched_seen, self.fetched.value
        return {
            "sources.rest_source.pages": fetched,
            "pipeline.checkpoint_mb": dir_bytes(os.path.join(self.out, "medallion")) / 1e6,
            "sinks.xml_sink.mb_out": dir_bytes(os.path.join(self.out, "xml")) / 1e6,
        }

    def trace(self, tracer) -> None:
        super().trace(tracer)
        # each layer's output is materialized once, after its last call:
        # the frame the next layer reads
        tracer.patch(pipeline, "standardize", "standardize", materialize=True)
        for attr in ("normalize_country_fields", "rename_ai"):
            tracer.patch(pipeline, attr, "x01", materialize=attr == "rename_ai")
        for attr in ("enrich_instance_ecollection", "enrich_db_instance_ecollection",
                     "enrich_temas", "union_with_provenance"):
            tracer.patch(pipeline, attr, "enrich", materialize=attr == "enrich_temas")
        for attr in ("doc_xml", "write_solr_xml"):
            tracer.patch(pipeline, attr, "xml_sink")

    def layer_metrics(self, pt) -> dict[str, float]:
        std, std_x = layer_stats(pt, {"standardize"}), layer_stats(pt, {"standardize.exec"})
        x01_x = layer_stats(pt, {"x01.exec"})
        enr, enr_x = layer_stats(pt, {"enrich"}), layer_stats(pt, {"enrich.exec"})
        ck = layer_stats(pt, {"pipeline"}, inclusive=False)
        xml = layer_stats(pt, {"xml_sink"})
        h, x, u = (layer_stats(pt, {n}) for n in ("rest.harvest", "rest.harvest.exec", "rest.upsert"))
        return {
            "standardize.call_s": std["wall_s"],
            "standardize.py4j_calls": std["py4j"],
            "standardize.exec_s": std_x["wall_s"],
            "standardize.task_cpu_s": std_x["cpu_s"],
            "standardize.x01.exec_s": x01_x["wall_s"],
            "enrich.call_s": enr["wall_s"],
            "enrich.exec_s": enr_x["wall_s"],
            "enrich.shuffle_write_mb": enr_x["shuffle_write_mb"],
            "pipeline.checkpoint_s": ck["job_s"],
            "sinks.xml_sink.exec_s": xml["job_s"],
            "sources.rest_source.call_s": h["wall_s"] - x["wall_s"],
            "sources.rest_source.exec_s": x["wall_s"],
            "sources.rest_source.upsert_s": u["wall_s"],
        }


# --------------------------------------------------------------------------
# TMGL chain


class TmglWeekly(Workload):
    """ingest_tmgl_landing -> landing parquet -> compute_metrics +
    compute_timeline -> write_chart_json per region ->
    write_country_reports, then one dedup increment against a bucketed
    state (``SmallDedup``)."""

    name = "tmgl_weekly"
    N_DOCS = 3000
    N_FILES = 12
    CHART_TYPES = ["language"]
    REPORT_TYPES = ["doctype"]

    def __init__(self, spark, root: str, seed: int, nproc: int):
        super().__init__(spark, root, seed, nproc)
        self.dedup = SmallDedup(spark, os.path.join(root, "dedup"), seed, nproc)

    def setup(self) -> None:
        self.dedup.setup()
        self.kept_docs = gen.write_tmgl_dumps(self.seed, self.N_DOCS, self.N_FILES,
                                              os.path.join(self.inputs, "dumps"))
        self.docs = self.N_DOCS + self.dedup.docs
        self.inputs_generated = os.path.join(self.inputs, "dumps")
        self.stage_table("who", gen.WHO_DDL, gen.who_region_rows())
        self.stage_table("areas", gen.AREAS_DDL, gen.TMGL_AREAS)
        self.stage_table("decs", gen.DECS_DDL, gen.TMGL_DECS)

    def input_digest(self) -> str:
        return gen.digest(self.inputs_generated, gen.who_region_rows(), gen.TMGL_AREAS, gen.TMGL_DECS,
                          self.dedup.input_digest())

    def run_pass(self, pass_no: int) -> None:
        rd = self.spark.read.parquet
        who = self.table("who")
        raw = tmgl_pipeline.ingest_tmgl_landing(
            self.spark, os.path.join(self.inputs, "dumps", "*.xml"), num_partitions=self.nproc)
        with self.span("landing_write"):
            raw.write.parquet(os.path.join(self.out, "landing"))
        landing = rd(os.path.join(self.out, "landing"))
        with self.span("metrics.call"):
            metrics = tmgl_pipeline.compute_metrics(
                landing, who, decs=self.table("decs"), areas=self.table("areas"))
            timeline = tmgl_pipeline.compute_timeline(landing, who)
        with self.span("metrics.exec"):
            metrics.write.parquet(os.path.join(self.out, "metrics"))
            timeline.write.parquet(os.path.join(self.out, "timeline"))
        m = rd(os.path.join(self.out, "metrics"))
        os.makedirs(os.path.join(self.out, "charts"))
        with self.span("json_sink"):
            for region in gen.WHO_REGIONS:
                for t in self.CHART_TYPES:
                    json_sink.write_chart_json(
                        m, t, os.path.join(self.out, "charts", f"{region}_{t}.json"),
                        slice_col="region", slice_value=region)
        with self.span("html_sink"):
            self.reports = html_sink.write_country_reports(
                m, who, self.REPORT_TYPES, os.path.join(self.out, "html"), generated=TODAY.isoformat())
        self.dedup.run_pass(pass_no)

    def bytes_out(self, t0: float) -> int:
        return dir_bytes(self.out) + self.dedup.bytes_out(t0)

    def check(self, pass_no: int) -> list[str]:
        from pyspark.sql import functions as F

        read = lambda p: self.spark.read.parquet(os.path.join(self.out, p))  # noqa: E731
        metrics = read("metrics").filter(F.col("type").isin(*checks.TALLIED))
        errors = checks.check_tmgl(self.out, self.kept_docs,
                                   [r.asDict() for r in metrics.collect()],
                                   [r.asDict() for r in read("timeline").collect()],
                                   self.CHART_TYPES, self.REPORT_TYPES)
        return errors + [f"dedup: {e}" for e in self.dedup.check(pass_no)]

    def after_pass(self, pass_no: int) -> None:
        super().after_pass(pass_no)
        self.dedup.after_pass(pass_no)

    def trace(self, tracer) -> None:
        super().trace(tracer)
        self.dedup.trace(tracer)
        tracer.patch(tmgl_pipeline, "read_solr_xml", "solr_xml")
        tracer.patch(tmgl_pipeline, "project_fields", "solr_xml", materialize=True)
        for attr in ("run_metrics", "attach_slice", "label_join"):
            tracer.patch(tmgl_pipeline, attr, "metrics.runner")

    def layer_metrics(self, pt) -> dict[str, float]:
        sx = layer_stats(pt, {"solr_xml.exec"})
        call, runner = layer_stats(pt, {"metrics.call"}), layer_stats(pt, {"metrics.runner"})
        mx = layer_stats(pt, {"metrics.exec"})
        js, hs = layer_stats(pt, {"json_sink"}), layer_stats(pt, {"html_sink"})
        return {
            "sources.solr_xml.exec_s": sx["wall_s"],
            "tmgl_pipeline.landing_write_s": layer_stats(pt, {"landing_write"})["wall_s"],
            "metrics.runner.call_s": call["wall_s"],
            "metrics.runner.call_jobs": runner["jobs"],
            "metrics.runner.exec_s": mx["wall_s"],
            "metrics.runner.shuffle_write_mb": mx["shuffle_write_mb"],
            "sinks.json_sink.wall_s": js["wall_s"],
            "sinks.json_sink.jobs": js["jobs"],
            "sinks.html_sink.wall_s": hs["wall_s"],
            "sinks.html_sink.jobs": hs["jobs"],
            **self.dedup.layer_metrics(pt),
        }

    def facts(self, pass_no: int) -> dict[str, float]:
        count = lambda p: self.spark.read.parquet(os.path.join(self.out, p)).count()  # noqa: E731
        return {
            "sources.solr_xml.files": self.N_FILES,
            "sources.solr_xml.docs_parsed": count("landing"),
            "metrics.runner.rows_out": count("metrics"),
            "sinks.html_sink.reports": len(self.reports),
            **self.dedup.facts(pass_no),
        }


# --------------------------------------------------------------------------
# incremental dedup

DOC_DDL = "doc_id string, text string"


class DedupIncrement(Workload):
    """The daily-increment loop: incremental_dedup -> write kept ->
    append_dedup_state, compacting when the files-per-bucket health
    number crosses the threshold."""

    name = "dedup_increment"
    check_every_pass = True  # every increment is different
    N_STATE = 10000
    N_INCREMENT = 2000
    EXACT_SHARE = 0.10
    NEAR_SHARE = 0.10
    BUCKETS = 8
    COMPACT_AT = 16  # files per bucket, the documented loop's threshold
    THRESHOLD = 0.5  # the program's default: exact and near tiers

    def setup(self) -> None:
        corpus = gen.dedup_corpus(self.seed, self.N_STATE)
        self.corpus = corpus
        self.docs = self.N_INCREMENT
        self.state_path = os.path.join(self.root, "state")
        corpus_df = self.spark.createDataFrame(corpus, DOC_DDL)
        incremental.save_dedup_state(
            incremental.build_dedup_state(corpus_df), self.state_path, buckets=self.BUCKETS)
        self.state = incremental.load_dedup_state(self.spark, self.state_path)
        self.state_rows = self.spark.read.parquet(os.path.join(self.state_path, "exact")).count()
        self.stage_increment(0)

    def input_digest(self) -> str:
        # increments are a pure function of (seed, pass number, corpus)
        return gen.digest(None, self.corpus, self.N_INCREMENT, self.EXACT_SHARE, self.NEAR_SHARE)

    def stage_increment(self, pass_no: int) -> None:
        docs, exact, near = gen.dedup_increment(
            self.seed, pass_no, self.N_INCREMENT, self.corpus, self.EXACT_SHARE, self.NEAR_SHARE)
        self.batch_ids = {d for d, _ in docs}
        self.planted = exact | near
        self.batch_path = reset_dir(os.path.join(self.inputs, "batch"))
        self.spark.createDataFrame(docs, DOC_DDL).write.mode("overwrite").parquet(self.batch_path)

    def run_pass(self, pass_no: int) -> None:
        with self.span("dedup"):
            batch = self.spark.read.parquet(self.batch_path)
            with self.span("dedup.call"):
                res = incremental.incremental_dedup(batch, self.state, threshold=self.THRESHOLD)
            self.res = res
            with self.span("dedup.exec"):
                res.kept.write.parquet(os.path.join(self.out, "kept"))
                self.n_kept = res.kept.count()
            with self.span("dedup.append"):
                self.state = incremental.append_dedup_state(res, self.state_path)
            self.report = incremental.state_file_report(self.spark, self.state_path)
            if max(v["files_per_bucket"] for v in self.report.values()) > self.COMPACT_AT:
                with self.span("dedup.compact"):
                    incremental.compact_dedup_state(self.spark, self.state_path)
                self.state = incremental.load_dedup_state(self.spark, self.state_path)

    def bytes_out(self, t0: float) -> int:
        return dir_bytes(self.out) + dir_bytes(self.state_path, since=t0)

    def check(self, pass_no: int) -> list[str]:
        kept = {r.doc_id for r in self.spark.read.parquet(os.path.join(self.out, "kept")).select("doc_id").collect()}
        after = self.spark.read.parquet(os.path.join(self.state_path, "exact")).count()
        errors = checks.check_dedup(kept, self.batch_ids, self.planted, self.state_rows, after)
        if self.n_kept != len(kept):
            errors.append(f"kept.count() {self.n_kept} != {len(kept)} rows written")
        return errors

    def after_pass(self, pass_no: int) -> None:
        self.state_rows = self.spark.read.parquet(os.path.join(self.state_path, "exact")).count()
        super().after_pass(pass_no)
        self.stage_increment(pass_no + 1)

    def layer_metrics(self, pt) -> dict[str, float]:
        st = lambda n: layer_stats(pt, {n})["wall_s"]  # noqa: E731
        return {
            "operators.incremental.dedup_call_s": st("dedup.call"),
            "operators.incremental.dedup_exec_s": st("dedup.exec"),
            "operators.incremental.append_s": st("dedup.append"),
            "operators.incremental.compact_s": st("dedup.compact"),
        }

    def facts(self, pass_no: int) -> dict[str, float]:
        return {
            "operators.incremental.files_per_bucket": max(v["files_per_bucket"] for v in self.report.values()),
            "operators.incremental.state_exchanges": state_exchanges(self.res.kept),
            "operators.incremental.kept": self.n_kept,
            "operators.incremental.dropped": self.N_INCREMENT - self.n_kept,
        }


class SmallDedup(DedupIncrement):
    """The dedup increment that ``tmgl_weekly`` runs after its sinks:
    a 1k-doc state and a 200-doc increment with planted exact copies,
    in the program's exact-tier-only mode (``threshold`` above 1). The
    near tier's signature, band-join and connected-components jobs cost
    about 26 s per increment on 4 cores even at a few hundred docs,
    which a benchmark run cannot carry; ``dedup_increment`` keeps it."""

    N_STATE = 1000
    N_INCREMENT = 200
    NEAR_SHARE = 0.0
    THRESHOLD = 1.01


def state_exchanges(df) -> int:
    """Exchange nodes in ``df``'s physical plan that shuffle a stored
    state table directly: a scan of it is reached below the Exchange
    without passing a join, aggregate, union or another Exchange
    (0 when only the batch side shuffles)."""
    lines = df._jdf.queryExecution().executedPlan().toString().splitlines()

    def depth(line: str) -> int:
        return len(line) - len(line.lstrip(" :+-"))

    n = 0
    for i, line in enumerate(lines):
        if "Exchange" not in line or "ReusedExchange" in line:
            continue
        d = depth(line)
        for sub in lines[i + 1:]:
            if depth(sub) <= d or any(k in sub for k in ("Join", "Aggregate", "Union", "Exchange")):
                break
            if "dgs_state_" in sub:
                n += 1
                break
    return n


WORKLOADS = {w.name: w for w in (DgNightly, TmglWeekly, DedupIncrement)}
