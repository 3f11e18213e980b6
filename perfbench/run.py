"""Pipeline benchmark: one workload, one process, one JSON result line.

    python3 perfbench/run.py --workload dg_nightly --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. The run starts a
Spark session on ``local[nproc]``, generates and stages the workload's
inputs from ``--seed``, then runs whole passes of the workload back to
back until ``--seconds`` have passed (at least one pass), checking each
pass's outputs against independent computations (``checks.py``).

``--trace 0`` prints the end-to-end metrics of the first pass, which is
what a scheduled job in a fresh process pays. ``--trace 1`` runs a cold
pass, then traced and untraced passes in turn (at least one of each),
and prints the per-layer metrics, the time the spans leave uncovered and
the tracing overhead. The last line of standard output is the result
object; the line before it records the host, versions and the digest of
the generated inputs.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse
import contextlib
import gc
import json
import os
import platform
import shutil
import signal
import statistics
import sys
import threading
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# below the program's 8g default: a dg_nightly run peaks near 3 GB with
# the JVM and the Python workers together, and the benchmark shares its
# host's memory; peak_rss_mb is measured under this heap cap
DRIVER_MEM = "3g"

# the first pass's wall time is reported per layer (pass.cold_s), not
# end to end: on a shared 4-core VM the hypervisor stole 0-25% of the
# CPU time within minutes, which spread that wall time over 10 runs by
# more than any bound allows; CPU seconds do not count stolen time
END_TO_END = {
    "setup_s": "s",
    "first_pass_cpu_s": "s",
    "bytes_out_per_doc": "B/doc",
    "peak_rss_mb": "MB",
}

# per-layer metric -> unit; a workload that does not touch a layer reports 0
PER_LAYER = {
    "pass.cold_s": "s", "pass.warm_s": "s", "pass.no_job_s": "s", "pass.job_s": "s", "pass.py4j_calls": "count",
    "pass.jobs": "count", "pass.tasks": "count", "pass.empty_tasks": "count",
    "pass.task_cpu_s": "s", "pass.task_run_s": "s", "pass.gc_s": "s",
    "pass.shuffle_write_mb": "MB", "pass.spill_mb": "MB",
    "unattributed.jobs": "count",
    "sources.rest_source.call_s": "s", "sources.rest_source.exec_s": "s",
    "sources.rest_source.pages": "count", "sources.rest_source.upsert_s": "s",
    "standardize.call_s": "s", "standardize.py4j_calls": "count",
    "standardize.exec_s": "s", "standardize.task_cpu_s": "s",
    "standardize.x01.exec_s": "s",
    "enrich.call_s": "s", "enrich.exec_s": "s", "enrich.shuffle_write_mb": "MB",
    "pipeline.checkpoint_s": "s", "pipeline.checkpoint_mb": "MB",
    "sinks.xml_sink.exec_s": "s", "sinks.xml_sink.mb_out": "MB",
    "sources.solr_xml.exec_s": "s", "sources.solr_xml.files": "count",
    "sources.solr_xml.docs_parsed": "count", "tmgl_pipeline.landing_write_s": "s",
    "metrics.runner.call_s": "s", "metrics.runner.call_jobs": "count",
    "metrics.runner.exec_s": "s", "metrics.runner.rows_out": "count",
    "metrics.runner.shuffle_write_mb": "MB",
    "sinks.json_sink.wall_s": "s", "sinks.json_sink.jobs": "count",
    "sinks.html_sink.wall_s": "s", "sinks.html_sink.jobs": "count",
    "sinks.html_sink.reports": "count",
    "operators.incremental.dedup_call_s": "s", "operators.incremental.dedup_exec_s": "s",
    "operators.incremental.append_s": "s", "operators.incremental.compact_s": "s",
    "operators.incremental.files_per_bucket": "count",
    "operators.incremental.state_exchanges": "count",
    "operators.incremental.kept": "count", "operators.incremental.dropped": "count",
    "session.start_s": "s", "setup.inputs_s": "s",
    "trace.uncovered_s": "s", "trace.overhead_s": "s",
}
# read from the untraced passes of a traced run: tracing materializes
# the harvest once, which would hide how often the program re-fetches
UNTRACED_FACTS = {"sources.rest_source.pages"}


# --------------------------------------------------------------------------
# process tree: resident memory and shutdown


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children_map(), [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def host_ticks() -> tuple[int, int]:
    """(stolen, all) CPU ticks of the host so far, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks[:8])


def tree_cpu_s() -> float:
    """CPU seconds (user + system, with reaped children) of this process
    and its descendants so far."""
    total = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / os.sysconf("SC_CLK_TCK")


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, shared ones split among the
    processes mapping them, so a sum over forked workers counts each
    page once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


class PeakRss(threading.Thread):
    """Samples the resident memory (summed PSS) of this process and its
    descendants."""

    def __init__(self, interval: float = 0.25):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self._stop_ev = threading.Event()

    def run(self) -> None:
        me = os.getpid()
        while not self._stop_ev.is_set():
            total = sum(_pss_bytes(p) for p in [me, *descendants(me)])
            self.peak = max(self.peak, total)
            self._stop_ev.wait(self.interval)

    def stop(self) -> None:
        self._stop_ev.set()
        self.join(timeout=10)


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait for every process it started."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    tree = descendants(os.getpid())
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    alive = [p for p in tree if os.path.exists(f"/proc/{p}")]
    while alive and time.time() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    for p in alive:
        while os.path.exists(f"/proc/{p}") and time.time() < deadline + 10:
            time.sleep(0.05)


# --------------------------------------------------------------------------


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def start_session(run_dir: str, app: str, trace: bool):
    """Spark on local[nproc] with every scratch path inside ``run_dir``;
    ``trace`` turns on the event log the traced run parses."""
    for sub in ("local", "tmp", "events", "warehouse"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc()),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(run_dir, "events"),
            "spark.eventLog.compress": "false",
        })
    for p in (ROOT, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)
    from data_governance_spark.session import get_spark

    return get_spark(app_name=app, extra_conf=conf)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "data_governance_spark", "pipeline.py")):
        print(f"perfbench: no data_governance_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    run_dir = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{os.getpid()}")
    try:
        return measure(args, WORKLOADS[args.workload], run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(run_dir))  # only if no other run is using it


def measure(args, workload_cls, run_dir: str) -> int:
    """Set up the workload, run and check its passes, stop Spark and
    print the two result lines."""
    n_cpu = nproc()
    rss = PeakRss()
    rss.start()
    load_before = os.getloadavg()
    spark = start_session(run_dir, f"perfbench-{args.workload}", trace=bool(args.trace))
    session_s = time.time() - T_PROCESS
    from data_governance_spark.cache import release_caches

    tracer = None
    try:
        w = workload_cls(spark, os.path.join(run_dir, "w"), args.seed, n_cpu)
        t = time.time()
        w.setup()
        os.makedirs(w.out, exist_ok=True)
        inputs_s = time.time() - t
        ready_s = time.time() - T_PROCESS

        if args.trace:
            from spans import Tracer

            tracer = Tracer(spark)
            w.trace(tracer)

        # traced runs: a cold untraced pass, then traced and untraced
        # passes in turn, so the overhead compares like with like
        min_passes = 3 if tracer else 1
        walls, cpus, steal, nbytes, errors = [], [], [], [], []
        traced_flags: list[bool] = []
        facts: dict[int, dict] = {}
        attempted = failed = 0
        check_s = 0.0
        t_start = time.time()
        i = 0
        while True:
            traced = bool(tracer) and i % 2 == 1
            if tracer:
                tracer.active = traced
            t, c, h = time.time(), tree_cpu_s(), host_ticks()
            attempted += 1
            try:
                with tracer.span("pass") if tracer else contextlib.nullcontext():
                    w.run_pass(i)
                ok = True
            except Exception:
                ok = False
                failed += 1
                traceback.print_exc(file=sys.stderr)
            walls.append(time.time() - t)
            cpus.append(tree_cpu_s() - c)
            h2 = host_ticks()
            steal.append((h2[0] - h[0]) / max(1, h2[1] - h[1]))
            traced_flags.append(traced)
            if tracer:
                tracer.active = False
                tracer.release()
            done = time.time() - t_start >= args.seconds and i + 1 >= min_passes
            if ok:
                nbytes.append(w.bytes_out(t))
                if i == 0 or done or w.check_every_pass:
                    tc = time.time()
                    errors += [f"pass {i}: {e}" for e in w.check(i)]
                    check_s += time.time() - tc
                if tracer:
                    facts[i] = w.facts(i)
            i += 1
            if done:
                break  # the run directory is removed below
            w.after_pass(i - 1)
            release_caches()
            spark._jvm.System.gc()
            gc.collect()

        info = {
            "workload": args.workload, "seed": args.seed, "input_digest": w.input_digest(),
            "nproc": n_cpu, "load_before": load_before, "passes": len(walls),
            "pass_walls_s": [round(x, 4) for x in walls], "traced": traced_flags,
            "pass_steal_share": [round(x, 3) for x in steal],
            "spark": spark.version,
            "java": spark._jvm.System.getProperty("java.version"),
            "python": platform.python_version(), "errors": errors[:20],
            "session_s": round(session_s, 3), "inputs_s": round(inputs_s, 3),
            "check_s": round(check_s, 3),
        }
    finally:
        if tracer is not None:
            tracer.unpatch_all()
        t = time.time()
        stop_spark(spark)
        rss.stop()
    info["teardown_s"] = round(time.time() - t, 3)
    info["load_after"] = os.getloadavg()

    if args.trace:
        metrics = traced_metrics(w, tracer, run_dir, walls, traced_flags, facts)
        metrics["session.start_s"] = session_s
        metrics["setup.inputs_s"] = inputs_s
        units = PER_LAYER
    else:
        metrics = {
            "setup_s": ready_s,
            "first_pass_cpu_s": cpus[0],
            "bytes_out_per_doc": median(nbytes) / w.docs,
            "peak_rss_mb": rss.peak / 1e6,
        }
        units = END_TO_END
    print(json.dumps({"perfbench_info": info}))
    print(json.dumps({
        "correct": not errors,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics.get(k, 0.0)), "unit": u} for k, u in units.items()},
    }))
    return 0


def traced_metrics(w, tracer, run_dir, walls, traced_flags, facts) -> dict[str, float]:
    from spans import pass_metrics, read_event_log, split_passes

    jobs = read_event_log(os.path.join(run_dir, "events"))
    traced_idx = [k for k, t in enumerate(traced_flags) if t]
    per_pass = []
    for k, pt in zip(traced_idx, split_passes(tracer, jobs)):
        per_pass.append({**pass_metrics(pt), **w.layer_metrics(pt), **facts.get(k, {})})
    out = {}
    for name in PER_LAYER:
        if name in UNTRACED_FACTS:
            vals = [f[name] for k, f in facts.items() if k > 0 and not traced_flags[k] and name in f]
        else:
            vals = [m[name] for m in per_pass if name in m]
        out[name] = median(vals)
    traced = [x for x, t in zip(walls, traced_flags) if t]
    untraced = [x for k, (x, t) in enumerate(zip(walls, traced_flags)) if not t and k > 0]
    out["pass.cold_s"] = walls[0]
    out["pass.warm_s"] = median(untraced)
    out["trace.overhead_s"] = median(traced) - median(untraced)
    return out


if __name__ == "__main__":
    sys.exit(main())
