"""The session factory's process hygiene (r15): BLAS thread pinning.

Spark owns the host's parallelism (one worker process per core), so
per-process BLAS thread pools only oversubscribe — and OpenBLAS's
threaded path is catastrophically slow on the small per-batch matmuls
the ANN/PQ operators run (measured r15: 11.8 s vs 0.045 s for the
pq_knn LUT build across 32 concurrent single-threaded processes).
These tests pin the contract, not the timing: importing the session
module must leave the env so that every forked Python worker sees
single-threaded BLAS, and the worker-visible value must actually BE
single-threaded in a live session.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

from data_governance_spark.session import df_debug_conf

BLAS_VARS = ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS")
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_blas_env_pinned_on_import():
    # in a fresh interpreter whose env has no BLAS vars: a host that
    # pre-exports one (the pin is a setdefault) must not decide this
    env = {k: v for k, v in os.environ.items() if k not in BLAS_VARS}
    probe = (
        "import json, os, data_governance_spark.session; "
        f"print(json.dumps({{v: os.environ.get(v) for v in {BLAS_VARS!r}}}))"
    )
    out = subprocess.run(
        [sys.executable, "-c", probe], env=env, cwd=REPO,
        capture_output=True, text=True, check=True, timeout=120,
    )
    seen = json.loads(out.stdout.strip().splitlines()[-1])
    for var in BLAS_VARS:
        assert seen[var] == "1", var


def test_df_debug_env_mapping():
    for on in ("1", "true", "TRUE", "True", "yes", "YES", " yes "):
        assert df_debug_conf(on) == "true", on
    for off in (None, "", "0", "false", "no", "off", "2", "enabled"):
        assert df_debug_conf(off) == "false", off


def test_workers_inherit_single_threaded_blas(spark):
    import pandas as pd

    def probe(batches):
        import os as _os

        for _ in batches:
            yield pd.DataFrame(
                {"v": [_os.environ.get("OPENBLAS_NUM_THREADS", "UNSET")]}
            )

    vals = {
        r["v"]
        for r in spark.range(0, 4, 1, 4)
        .mapInPandas(probe, "v string")
        .collect()
    }
    assert vals == {"1"}
