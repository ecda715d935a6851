"""Driver-environment hardening: every registered query must be a pure
function of the data — not of our session tuning or the process
timezone. Runs the full oracle compare in a subprocess with a
bone-stock SparkSession (no UTC pin, default shuffle partitions, no
AQE/Arrow config) and TZ=America/New_York, the combination that
exposed the round-1 q72 hash mismatch class (PySpark collect()
localizes timestamps with the process TZ, so raw timestamps at a
result boundary shift; epoch-micro BIGINTs don't). Also pins that
``get_spark`` only builds a session and leaves the process environment
alone.
"""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
SF_DIR = "/root/testdata/sf0.001"


def test_all_queries_pass_in_vanilla_session_with_hostile_tz():
    env = dict(os.environ, TZ="America/New_York")
    env.pop("SPARK_GRAFT_CPUS", None)
    proc = subprocess.run(
        [
            sys.executable,
            str(REPO / "tools" / "check_correctness.py"),
            SF_DIR,
            "",
            "--vanilla",
        ],
        env=env,
        cwd=str(REPO),
        capture_output=True,
        text=True,
        timeout=900,
    )
    tail = "\n".join(proc.stdout.splitlines()[-60:])
    assert proc.returncode == 0, f"vanilla-session correctness failed:\n{tail}"
    assert "0 failures" in proc.stdout


def test_get_spark_leaves_process_environment_unchanged(spark):
    """get_spark must not mutate os.environ (every later child process
    would inherit the change) nor ship a PYTHONPATH to executors. The
    ``spark`` fixture has already started the JVM, whose first
    SparkContext sets PySpark's own variables; this call goes through
    get_spark exactly as conftest.py does."""
    from kaj_query_engine_spark.session import get_spark

    before = dict(os.environ)
    session = get_spark("kaj-tests", master="local[4]", shuffle_partitions=4)
    assert dict(os.environ) == before
    assert session.conf.get("spark.executorEnv.PYTHONPATH", None) is None
