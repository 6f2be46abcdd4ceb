"""local-cluster mode (separate executor JVMs + real shuffle
transport), the in-sandbox stand-in for a --py-files cluster.  Guards
the executor-PYTHONPATH plumbing in functions/session.get_spark: pandas
UDFs must import the package inside executor-spawned Python workers,
which do NOT inherit the driver's sys.path (on a real cluster,
--py-files provides this).

Runs in a subprocess: SparkSession.getOrCreate would otherwise return
the suite's shared local[N] session and silently ignore the
local-cluster master.
"""

from __future__ import annotations

import os
import subprocess
import sys

_SCRIPT = r"""
import time
import numpy as np
from datasketches_java_spark.functions import sketch_aggs as A
from datasketches_java_spark.functions.session import get_spark

spark = get_spark("lc-test", master="local-cluster[1,2,2048]",
                  shuffle_partitions=4, executor_memory="2048m",
                  driver_memory="2g")
deadline = time.time() + 90
execs = 0
while time.time() < deadline:  # executor registration is async
    execs = spark.sparkContext._jsc.sc().getExecutorMemoryStatus().size() - 1
    if execs >= 1:
        break
    time.sleep(1)
assert execs >= 1, "no separate executor registered within 90s"
df = spark.createDataFrame([(int(i),) for i in np.arange(5000)],
                           "v long").repartition(4)
est = (A.theta_sketch_agg(df, "v", lg_k=14)
       .select(A.theta_estimate("theta_sketch").alias("e")).collect()[0].e)
assert est == 5000.0, est  # exact mode: lgK above n
spark.stop()
print("LC-OK")
"""


def test_sketch_agg_on_separate_executor_jvms():
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ)
    env["PYTHONPATH"] = repo + os.pathsep + env.get("PYTHONPATH", "")
    proc = subprocess.run([sys.executable, "-c", _SCRIPT], env=env,
                          capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "LC-OK" in proc.stdout
