"""The Python workers of a get_spark session import dupion_spark without
help from the caller's environment."""

from __future__ import annotations

import os
import subprocess
import sys

from dupion_spark.session import PACKAGE_ROOT

DRIVER = f"""
import sys
sys.path.insert(0, {PACKAGE_ROOT!r})
from dupion_spark.config import DedupConfig
from dupion_spark.operators import lsh
from dupion_spark.session import get_spark

spark = get_spark("worker-imports", cores=1)
bands = spark.range(3).selectExpr(
    "id AS rep_id", "0L AS phash", "0L AS simhash", "7L AS band_key")
print(sorted(tuple(r) for r in lsh.candidate_pairs(bands, DedupConfig()).collect()))
spark.stop()
"""


def test_workers_import_the_package_from_any_cwd(tmp_path):
    """A driver started outside the repository with no PYTHONPATH puts the
    package on its own sys.path only; the kernel it ships to the workers
    must still unpickle there."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run([sys.executable, "-c", DRIVER], cwd=tmp_path, env=env,
                         capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-4000:]
    assert "[(0, 1, 'pixel'), (0, 2, 'pixel'), (1, 2, 'pixel')]" in out.stdout
