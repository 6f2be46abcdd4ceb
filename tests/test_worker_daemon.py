"""functions/worker_daemon: Python workers import pyspark from
site-packages, not from Spark's pyspark.zip / spark-core jar, and the
package reaches them through get_spark's worker PYTHONPATH on local[N].

The Spark test runs in a subprocess with its own JVM, started outside
the repo with PYTHONPATH unset, the way a drive script would be: the
suite's shared session would otherwise be returned by getOrCreate.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import zipfile

import pytest

from datasketches_java_spark.functions import worker_daemon as wd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = r"""
import json
import sys
sys.path.insert(0, {repo!r})
import pyarrow as pa
from datasketches_java_spark.functions.session import get_spark

def probe(batches):
    import pyspark
    import datasketches_java_spark
    for _ in batches:
        pass
    yield pa.RecordBatch.from_pydict({{
        "path": [json.dumps(sys.path)], "pyspark": [pyspark.__file__],
        "package": [datasketches_java_spark.__file__]}})

spark = get_spark("daemon-test", cores=2, shuffle_partitions=2,
                  driver_memory="1g")
rows = (spark.range(0, 8, numPartitions=2)
        .mapInArrow(probe, "path string, pyspark string, package string")
        .collect())
spark.stop()
print("PROBE " + json.dumps([r.asDict() for r in rows]))
"""


def test_workers_import_pyspark_from_a_directory(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT.format(repo=REPO)], env=env,
        cwd=tmp_path, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = [ln for ln in proc.stdout.splitlines() if ln.startswith("PROBE ")]
    rows = json.loads(line[-1][len("PROBE "):])
    assert len(rows) == 2
    for row in rows:
        path = json.loads(row["path"])
        # an archive entry that does not exist (the interpreter's own
        # pythonXY.zip is always listed) has no importer to re-read
        assert not [p for p in path if p.endswith((".zip", ".jar"))
                    and os.path.exists(p)], path
        assert os.path.isfile(row["pyspark"]), row["pyspark"]
        assert row["package"].startswith(REPO + os.sep), row["package"]


def _fake_pyspark_zip(path, version_line: str) -> str:
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("pyspark/__init__.py", "")
        z.writestr("pyspark/version.py", version_line + "\n")
    return str(path)


def test_version_skew_raises(tmp_path):
    archive = _fake_pyspark_zip(tmp_path / "pyspark.zip",
                                "__version__: str = '3.9.9'")
    with pytest.raises(RuntimeError, match="3.9.9"):
        wd.check_pyspark_version([archive], "4.1.2")
    wd.check_pyspark_version([archive], "3.9.9")
    with zipfile.ZipFile(tmp_path / "py4j-src.zip", "w") as z:
        z.writestr("py4j/__init__.py", "")
    wd.check_pyspark_version([str(tmp_path / "py4j-src.zip")], "4.1.2")


def test_only_spark_archives_are_dropped(tmp_path):
    home = str(tmp_path / "spark")
    lib = os.path.join(home, "python", "lib")
    path = [str(tmp_path), os.path.join(lib, "pyspark.zip"),
            os.path.join(lib, "py4j-0.10.9.9-src.zip"),
            os.path.join(home, "jars", "spark-core_2.13-4.1.2.jar"),
            os.path.join(REPO, "dist", "dsjs.zip"),
            os.path.join(home, "jars", "spark-sql_2.13-4.1.2.jar")]
    assert wd.spark_archives(path, home + os.sep) == path[1:4]
    assert wd.spark_archives(path, None) == path[3:4]
