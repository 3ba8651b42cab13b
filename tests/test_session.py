"""Every entry point runs with the same Spark SQL settings."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from riptide_spark.session import SQL_CONF

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

JOB_SESSION = """
import json, sys
sys.path.insert(0, "jobs")
import extract_job
from riptide_spark.session import SQL_CONF

spark = extract_job.session()
print(json.dumps({key: spark.conf.get(key) for key in SQL_CONF}))
spark.stop()
"""


def test_extract_job_session_matches_build_session(spark):
    """``jobs/extract_job.py`` gets its session from the launcher
    (``getOrCreate``) and sets ``SQL_CONF`` on it; ``build_session`` (the
    test, bench and perfbench session) passes the same dict to the
    builder. Both must end with the same values."""
    proc = subprocess.run(
        [sys.executable, "-c", JOB_SESSION],
        cwd=REPO,
        env={**os.environ, "PYTHONPATH": REPO},
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    job = json.loads(proc.stdout.strip().splitlines()[-1])
    assert job == {key: spark.conf.get(key) for key in SQL_CONF} == SQL_CONF
