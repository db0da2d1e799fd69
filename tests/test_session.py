"""Session construction: what `session.get_spark` must give a driver
that it did not start from inside the repository."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# A driver that imports the engine from its own sys.path, runs from an
# unrelated directory and has no PYTHONPATH: only the session can tell
# the Python workers where the package lives.
_DRIVER = """
import sys
sys.path.insert(0, sys.argv[1])
from cdc_debezium_spark import registry
from cdc_debezium_spark.session import get_spark
from cdc_debezium_spark.testing import compare_query

registry.load_all()
spark = get_spark(app_name="worker-path", shuffle_partitions=2)
try:
    compare_query(spark, "ext_similarity_ivf_trained", sys.argv[2])
finally:
    spark.stop()
print("WORKER_PATH_OK")
"""


def test_python_udf_lane_runs_outside_repo_without_pythonpath(sf_dir, tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_CPUS"] = "2"
    proc = subprocess.run(
        [sys.executable, "-c", _DRIVER, REPO, sf_dir],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "WORKER_PATH_OK" in proc.stdout
