"""Show that each workload's output check catches a corrupted output.

    python3 perfbench/selftest.py [workload ...]

For each workload: set up with seed 1, run one pass, require the check
to pass, then corrupt its outputs one at a time (one country report
and the dedup increment's kept rows for ``tmgl_weekly``) and require
each corruption to bring a check error of its own. Exits 0 only if
every workload behaves so. Takes a few minutes (one Spark session).
"""

from __future__ import annotations

import glob
import os
import re
import shutil
import sys

import run


def corrupt_dg_nightly(w) -> str:
    """Drop the last <doc> of one XML shard (the shard still parses)."""
    path = max(glob.glob(os.path.join(w.out, "xml", "part-*")), key=os.path.getsize)
    text = open(path, encoding="utf-8").read()
    cut = text.rindex("<doc ")
    end = text.index("</doc>", cut) + len("</doc>")
    with open(path, "w", encoding="utf-8") as f:
        f.write(text[:cut] + text[end:])
    return f"removed one doc from {os.path.basename(path)}"


def corrupt_tmgl_weekly(w) -> str:
    """Raise one count in one country's embedded chart JSON."""
    path = sorted(glob.glob(os.path.join(w.out, "html", "*.html")))[0]
    text = open(path, encoding="utf-8").read()
    new = re.sub(r'("ano": \d+, "[^"]+": )(\d+)', lambda m: m.group(1) + str(int(m.group(2)) + 1),
                 text, count=1)
    with open(path, "w", encoding="utf-8") as f:
        f.write(new)
    return f"changed one count in {os.path.basename(path)}"


def corrupt_dedup_increment(w) -> str:
    """Add one planted duplicate to the written kept rows."""
    dup = sorted(w.planted)[0]
    w.spark.createDataFrame([(dup, "duplicate text")], "doc_id string, text string").write.mode(
        "append").parquet(os.path.join(w.out, "kept"))
    w.n_kept += 1
    return f"appended planted duplicate {dup} to kept"


CORRUPT = {
    "dg_nightly": [corrupt_dg_nightly],
    "tmgl_weekly": [corrupt_tmgl_weekly, lambda w: corrupt_dedup_increment(w.dedup)],
    "dedup_increment": [corrupt_dedup_increment],
}


def main() -> int:
    names = sys.argv[1:] or list(CORRUPT)
    run_dir = os.path.join(run.ROOT, ".perfbench_run", f"selftest-{os.getpid()}")
    spark = run.start_session(run_dir, "selftest", trace=False)
    from workloads import WORKLOADS

    ok = True
    try:
        for name in names:
            w = WORKLOADS[name](spark, os.path.join(run_dir, name), 1, run.nproc())
            w.setup()
            os.makedirs(w.out, exist_ok=True)
            w.run_pass(0)
            seen = w.check(0)
            print(f"{name}: clean output -> {seen or 'no errors'}", flush=True)
            ok &= not seen
            for corrupt in CORRUPT[name]:
                # corruptions add up: each must bring an error of its own
                what = corrupt(w)
                new = [e for e in w.check(0) if e not in seen]
                seen += new
                ok &= bool(new)
                print(f"  {what} -> {new[:2] or 'NO NEW ERRORS'}: {'ok' if new else 'FAILED'}", flush=True)
    finally:
        run.stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
