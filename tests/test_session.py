"""session.get_spark keeps the master a launcher chose: PYSPARK_SUBMIT_ARGS
(and spark-submit, which also sets PYSPARK_GATEWAY_PORT) pass ``--master``
to the JVM launch, and a builder ``.master()`` would override it."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SRC = r"""
import sys
sys.path.insert(0, {repo!r})
from doc_agent_spark.session import get_spark

spark = get_spark(app="launcher-master")
print("MASTER:" + spark.sparkContext.master)
spark.stop()
"""


def test_master_from_pyspark_submit_args():
    env = {k: v for k, v in os.environ.items() if k != "PYSPARK_GATEWAY_PORT"}
    env.update({"PYSPARK_SUBMIT_ARGS": "--master local[2] pyspark-shell",
                "SPARK_GRAFT_CPUS": "3", "SPARK_DRIVER_MEMORY": "1g"})
    proc = subprocess.run([sys.executable, "-c", _SRC.format(repo=REPO)],
                          capture_output=True, text=True, timeout=300, env=env)
    assert proc.returncode == 0, proc.stderr[-2000:]
    masters = [ln[7:] for ln in proc.stdout.splitlines() if ln.startswith("MASTER:")]
    assert masters == ["local[2]"]
