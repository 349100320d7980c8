"""Python worker daemon that imports pyspark from its installed directory.

Spark starts its daemon with ``pyspark.zip``, the py4j source zip and the
spark-core jar at the head of ``PYTHONPATH``. pyspark calls
``importlib.invalidate_caches()`` once per task, and on CPython 3.11 that
re-reads every cached importer of those three archives (16 in a worker,
~0.2 s per task). When the installed pyspark directory holds the same
``pyspark/version.py`` as the zip, this module drops the archives, their
importers and the modules already loaded from them, then runs
``pyspark.daemon`` from the directory. Otherwise it runs ``pyspark.daemon``
unchanged. ``sys.argv[1]`` (the worker module) is passed through.
"""

from __future__ import annotations

import importlib.machinery
import os
import re
import sys
import zipfile

_SPARK_ARCHIVE = re.compile(r"^(pyspark\.zip|py4j-.*\.zip|spark-core.*\.jar)$")
_SPARK_MODULES = ("pyspark", "py4j", "bcdp_spark")


def worker_path(path: list[str]) -> list[str] | None:
    """``path`` without Spark's zip and jar entries, or None to keep it.

    None when ``path`` has no ``pyspark.zip``, when pyspark is not
    installed as a directory elsewhere on ``path``, or when its
    ``version.py`` differs from the zip's.
    """
    spark = [p for p in path if _SPARK_ARCHIVE.match(os.path.basename(p))]
    rest = [p for p in path if p not in spark]
    zips = [p for p in spark if os.path.basename(p) == "pyspark.zip"]
    spec = importlib.machinery.PathFinder.find_spec("pyspark", rest)
    if not zips or spec is None or not os.path.isfile(spec.origin or ""):
        return None
    try:
        with open(os.path.join(os.path.dirname(spec.origin), "version.py"), "rb") as f:
            installed = f.read()
        with zipfile.ZipFile(zips[0]) as z:
            zipped = z.read("pyspark/version.py")
    except (OSError, KeyError, zipfile.BadZipFile):
        return None
    return rest if installed == zipped else None


def main() -> None:
    path = worker_path(sys.path)
    if path is not None:
        dropped = [p for p in sys.path if p not in path]
        sys.path[:] = path
        for key in list(sys.path_importer_cache):
            if any(key == p or key.startswith(p + os.sep) for p in dropped):
                del sys.path_importer_cache[key]
        # `python -m` imported bcdp_spark, and through it pyspark, from
        # the zip before this ran; forked workers would keep that copy.
        for name in list(sys.modules):
            if name.split(".")[0] in _SPARK_MODULES:
                del sys.modules[name]
    import pyspark.daemon

    pyspark.daemon.manager()


if __name__ == "__main__":
    main()
