"""The Python worker daemon shim (bcdp_spark/_daemon.py).

Pins the worker state it produces (pyspark from its directory, no zip
importers, no Spark archive on ``sys.path``), its fallback decision, and
that it loads whatever the driver's working directory is.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import zipfile

from bcdp_spark._daemon import worker_path

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _fake_spark(tmp_path, zip_version: str, installed_version: str | None):
    """A ``sys.path`` with a pyspark.zip, a py4j zip, a spark-core jar and
    (unless ``installed_version`` is None) a directory install."""
    lib = tmp_path / "lib"
    site = tmp_path / "site"
    lib.mkdir()
    site.mkdir()
    with zipfile.ZipFile(lib / "pyspark.zip", "w") as z:
        z.writestr("pyspark/__init__.py", "")
        z.writestr("pyspark/version.py", f'__version__ = "{zip_version}"\n')
    with zipfile.ZipFile(lib / "py4j-0.10.9.9-src.zip", "w") as z:
        z.writestr("py4j/__init__.py", "")
    with zipfile.ZipFile(lib / "spark-core_2.13-4.1.2.jar", "w") as z:
        z.writestr("pyspark/__init__.py", "")
    if installed_version is not None:
        (site / "pyspark").mkdir()
        (site / "pyspark" / "__init__.py").write_text("")
        (site / "pyspark" / "version.py").write_text(
            f'__version__ = "{installed_version}"\n'
        )
    return [
        str(tmp_path),
        str(lib / "pyspark.zip"),
        str(lib / "py4j-0.10.9.9-src.zip"),
        str(lib / "spark-core_2.13-4.1.2.jar"),
        str(tmp_path / "python311.zip"),
        str(site),
    ]


def test_worker_path_drops_spark_archives_when_versions_match(tmp_path):
    path = _fake_spark(tmp_path, "4.1.2", "4.1.2")
    assert worker_path(path) == [path[0], path[4], path[5]]


def test_worker_path_keeps_path_when_zip_version_differs(tmp_path):
    assert worker_path(_fake_spark(tmp_path, "4.0.0", "4.1.2")) is None


def test_worker_path_keeps_path_without_directory_install(tmp_path):
    assert worker_path(_fake_spark(tmp_path, "4.1.2", None)) is None


def test_worker_path_keeps_path_without_pyspark_zip(tmp_path):
    path = _fake_spark(tmp_path, "4.1.2", "4.1.2")
    assert worker_path([p for p in path if not p.endswith("pyspark.zip")]) is None


def test_worker_holds_no_spark_zip_importers(spark):
    """Counts, not timings: inside one task pyspark comes from a
    directory, no zip importer is cached and no Spark archive is on
    ``sys.path``."""
    import pandas as pd

    def probe(batches):
        import sys
        import zipimport

        import pyspark

        for _ in batches:
            pass
        zipped = ".zip" + os.sep in pyspark.__file__ or ".jar" + os.sep in pyspark.__file__
        importers = sum(
            isinstance(v, zipimport.zipimporter)
            for v in sys.path_importer_cache.values()
        )
        archives = sum(
            os.path.basename(p).startswith(("pyspark", "py4j", "spark-core"))
            and p.endswith((".zip", ".jar"))
            for p in sys.path
        )
        yield pd.DataFrame(
            {"zipped": [int(zipped)], "importers": [importers], "archives": [archives]}
        )

    row = spark.range(1, numPartitions=1).mapInPandas(
        probe, "zipped int, importers int, archives int"
    ).collect()[0]
    assert (row.zipped, row.importers, row.archives) == (0, 0, 0)


def test_daemon_loads_from_any_driver_cwd(tmp_path):
    """The daemon module is found from the executor env, not the driver's
    cwd: a lambda-only mapInPandas runs with the driver in another dir."""
    script = tmp_path / "drive.py"
    script.write_text(textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from bcdp_spark.session import get_spark
        spark = get_spark("daemon_cwd", cpus=1)
        df = spark.range(3).mapInPandas(lambda it: (b * 2 for b in it), "id long")
        print("IDS", sorted(r.id for r in df.collect()))
        spark.stop()
    """))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_WAREHOUSE"] = str(tmp_path / "warehouse")
    out = subprocess.run(
        [sys.executable, str(script)], cwd=str(tmp_path), env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert "IDS [0, 2, 4]" in out.stdout, out.stderr[-3000:]
