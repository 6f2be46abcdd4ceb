"""Python worker daemon that imports pyspark from site-packages.

Spark starts each Python daemon with ``$SPARK_HOME/python/lib/pyspark.zip``,
``py4j-*-src.zip`` and the spark-core jar at the head of its PYTHONPATH.
Before every task pyspark's worker calls ``importlib.invalidate_caches()``
(``worker_util.setup_spark_files``), which makes every zipimporter re-read
its archive's central directory: 1,328 entries in pyspark.zip, 5,359 in
the jar, 0.15-0.3 s of worker CPU per task whatever its row count
(about 0.03 s with the archives gone, on a 4-vCPU host).

When the same pyspark is installed as a directory, this module drops those
archives from ``sys.path`` before pyspark is imported and then runs the
stock daemon, so every forked worker inherits the trimmed path.  A pyspark
in the dropped archive whose version differs from the imported one is an
error, never a mix.  ``functions.session.get_spark`` sets this module as
``spark.python.daemon.module`` only when pyspark is importable from a
directory; Spark runs it as ``python -m <module> <worker module>``.

Only the standard library is imported at module level: pyspark must not
be imported before the path is trimmed.
"""

from __future__ import annotations

import os
import re
import sys
import zipfile
from importlib.machinery import PathFinder

_SPARK_CORE_JAR = re.compile(r"spark-core_.*\.jar$")
_VERSION = re.compile(r"""__version__\s*(?::\s*str\s*)?=\s*['"]([^'"]+)['"]""")


def spark_archives(path: list[str], spark_home: str | None) -> list[str]:
    """The entries of ``path`` that Spark adds for pyspark: the zips in
    ``$SPARK_HOME/python/lib`` and the spark-core jar.  Any other
    archive, such as a ``--py-files`` zip, is not among them."""
    lib = (os.path.normpath(os.path.join(spark_home, "python", "lib"))
           if spark_home else None)
    return [p for p in path
            if (p.endswith(".zip")
                and os.path.dirname(os.path.normpath(p)) == lib)
            or _SPARK_CORE_JAR.search(os.path.basename(p))]


def check_pyspark_version(archives: list[str], imported: str) -> None:
    """Raise when an archive in ``archives`` holds a pyspark
    (``pyspark/version.py``) whose version is not ``imported``, the
    version the daemon imports in their place."""
    for archive in archives:
        try:
            with zipfile.ZipFile(archive) as z:
                text = z.read("pyspark/version.py").decode("utf-8")
        except (OSError, KeyError, zipfile.BadZipFile):
            continue  # no pyspark in this archive
        m = _VERSION.search(text)
        version = m.group(1) if m else "unknown"
        if version != imported:
            raise RuntimeError(
                f"pyspark {imported} on the Python workers' path differs "
                f"from pyspark {version} in {archive}; install the pyspark "
                f"that matches Spark")


def importable_from_directory(path: list[str]) -> bool:
    """Whether pyspark can be imported from ``path`` without an archive
    (every file entry of ``path`` is a zip, egg or jar)."""
    dirs = [p for p in path if not os.path.isfile(p)]
    return PathFinder.find_spec("pyspark", dirs) is not None


def main() -> None:
    """Trim Spark's archives from ``sys.path``, import pyspark from a
    directory, check its version and run ``pyspark.daemon.manager()``."""
    dropped = spark_archives(sys.path, os.environ.get("SPARK_HOME"))
    sys.path[:] = [p for p in sys.path if p not in dropped]
    for p in dropped:
        # finding this module already made importers for the archives;
        # invalidate_caches() walks this cache, not sys.path
        sys.path_importer_cache.pop(p, None)
    import pyspark
    check_pyspark_version(dropped, pyspark.__version__)
    from pyspark import daemon
    daemon.manager()


if __name__ == "__main__":
    main()
