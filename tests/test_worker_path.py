"""Python workers import the installed pyspark, not Spark's bundled zip.

Spark puts pyspark.zip, py4j-*-src.zip and the spark-core jar at the front
of every Python worker's path, and pyspark's worker re-reads each cached
zip importer's central directory at the start of every task.  ``get_spark``
sessions start workers through ``wukong_spark._pydaemon``, which takes those
archives off the path when the installed pyspark is the same release
(``wukong_spark._alloc.use_installed_pyspark``).
"""

from __future__ import annotations

import os
import sys
import zipfile

import pandas as pd
import pyspark

from wukong_spark._alloc import (
    _archive_kind,
    spark_archives_to_drop,
    use_installed_pyspark,
)

PYSPARK_ZIP = "/spark/python/lib/pyspark.zip"
PY4J_ZIP = "/spark/python/lib/py4j-0.10.9.9-src.zip"
CORE_JAR = "/spark/jars/spark-core_2.13-4.1.2.jar"
USER_ZIP = "/tmp/spark-1/userFiles-2/mylib.zip"
SITE = "/usr/lib/python3/site-packages"
PATH = [PYSPARK_ZIP, PY4J_ZIP, CORE_JAR, USER_ZIP, SITE]
V_PYSPARK = b"__version__: str = '4.1.2'\n"
V_PY4J = b"__version__ = '0.10.9.9'\n"
BUNDLED = {"pyspark": V_PYSPARK, "py4j": V_PY4J}


def test_matching_install_drops_only_spark_archives():
    drop = spark_archives_to_drop(PATH, dict(BUNDLED), BUNDLED)
    assert drop == [PYSPARK_ZIP, PY4J_ZIP, CORE_JAR]


def test_version_mismatch_keeps_every_archive():
    installed = {"pyspark": b"__version__: str = '4.1.1'\n", "py4j": V_PY4J}
    assert spark_archives_to_drop(PATH, installed, BUNDLED) == []


def test_no_installed_pyspark_keeps_every_archive():
    installed = {"pyspark": None, "py4j": V_PY4J}
    assert spark_archives_to_drop(PATH, installed, BUNDLED) == []
    assert spark_archives_to_drop(PATH, installed, {"pyspark": None}) == []


def test_py4j_zip_kept_without_a_matching_installed_py4j():
    for py4j in (None, b"__version__ = '0.10.9.7'\n"):
        installed = {"pyspark": V_PYSPARK, "py4j": py4j}
        assert spark_archives_to_drop(PATH, installed, BUNDLED) == [
            PYSPARK_ZIP,
            CORE_JAR,
        ]


def test_user_archives_are_never_dropped():
    path = [
        USER_ZIP,
        "/opt/app/deps.egg",
        "/opt/app/pyspark_helpers.zip",
        "/opt/app/spark-core-utils.zip",
        PYSPARK_ZIP,
        SITE,
    ]
    assert spark_archives_to_drop(path, dict(BUNDLED), BUNDLED) == [PYSPARK_ZIP]


def _fake_spark_layout(tmp_path):
    """A Spark home (pyspark.zip, py4j zip, core jar), a user zip and a
    site directory holding the same pyspark and py4j releases."""
    lib = tmp_path / "spark" / "python" / "lib"
    jars = tmp_path / "spark" / "jars"
    site = tmp_path / "site"
    for d in (lib, jars, site / "pyspark", site / "py4j"):
        d.mkdir(parents=True)
    archives = {"pyspark": lib / "pyspark.zip", "py4j": lib / "py4j-0.10.9.9-src.zip"}
    for pkg, archive in archives.items():
        with zipfile.ZipFile(archive, "w") as z:
            z.writestr(f"{pkg}/__init__.py", "")
            z.writestr(f"{pkg}/version.py", BUNDLED[pkg])
        (site / pkg / "__init__.py").write_text("")
        (site / pkg / "version.py").write_bytes(BUNDLED[pkg])
    jar = jars / "spark-core_2.13-4.1.2.jar"
    with zipfile.ZipFile(jar, "w") as z:
        z.writestr("META-INF/MANIFEST.MF", "")
    user = tmp_path / "mylib.zip"
    with zipfile.ZipFile(user, "w") as z:
        z.writestr("mylib/__init__.py", "")
    spark_archives = [str(archives["pyspark"]), str(archives["py4j"]), str(jar)]
    return spark_archives, str(user), str(site)


def test_use_installed_pyspark_cleans_path_and_importer_cache(tmp_path, monkeypatch):
    spark_archives, user, site = _fake_spark_layout(tmp_path)
    monkeypatch.setattr(sys, "path", [*spark_archives, user, site])
    cache = {p: object() for p in sys.path}
    cache[os.path.join(spark_archives[0], "pyspark")] = object()
    monkeypatch.setattr(sys, "path_importer_cache", cache)
    monkeypatch.delitem(sys.modules, "pyspark")
    use_installed_pyspark()
    assert sys.path == [user, site]
    assert {user, site} <= set(sys.path_importer_cache)
    for archive in spark_archives:
        assert not [k for k in sys.path_importer_cache if k.startswith(archive)]


def test_use_installed_pyspark_keeps_path_on_version_mismatch(tmp_path, monkeypatch):
    spark_archives, user, site = _fake_spark_layout(tmp_path)
    (tmp_path / "site" / "pyspark" / "version.py").write_text("__version__ = '4.0.0'\n")
    path = [*spark_archives, user, site]
    monkeypatch.setattr(sys, "path", list(path))
    monkeypatch.delitem(sys.modules, "pyspark")
    use_installed_pyspark()
    assert sys.path == path


def test_use_installed_pyspark_noop_once_pyspark_imported(tmp_path, monkeypatch):
    spark_archives, user, site = _fake_spark_layout(tmp_path)
    path = [*spark_archives, user, site]
    monkeypatch.setattr(sys, "path", list(path))
    assert "pyspark" in sys.modules
    use_installed_pyspark()
    assert sys.path == path


def _worker_path_report():
    entries = list(sys.path) + list(sys.path_importer_cache)
    in_archive = sorted(
        {p for p in entries for a in p.split(os.sep) if _archive_kind(a)}
    )
    return in_archive, pyspark.__file__, pyspark.__version__


def _assert_clean(report):
    in_archive, pyspark_file, version = report
    assert in_archive == []
    assert os.path.isfile(pyspark_file), pyspark_file
    assert version == pyspark.__version__


def test_rdd_task_imports_installed_pyspark(spark):
    rdd = spark.sparkContext.parallelize([0], 1)
    (report,) = rdd.map(lambda _: _worker_path_report()).collect()
    _assert_clean(report)


def test_map_in_pandas_task_imports_installed_pyspark(spark):
    def report(batches):
        for _ in batches:
            pass
        in_archive, path, version = _worker_path_report()
        yield pd.DataFrame(
            {"in_archive": [",".join(in_archive)], "path": [path], "version": [version]}
        )

    rows = (
        spark.range(1, numPartitions=1)
        .mapInPandas(report, "in_archive string, path string, version string")
        .collect()
    )
    assert len(rows) == 1
    r = rows[0]
    _assert_clean(([r.in_archive] if r.in_archive else [], r.path, r.version))


def test_daemon_module_only_where_local_workers_import_it(tmp_path, monkeypatch):
    from wukong_spark import session

    root = os.path.dirname(os.path.dirname(os.path.abspath(session.__file__)))
    monkeypatch.chdir(root)
    monkeypatch.delenv("PYTHONPATH", raising=False)
    assert session._daemon_importable()
    monkeypatch.chdir(tmp_path)
    assert not session._daemon_importable()
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join([str(tmp_path), root]))
    assert session._daemon_importable()
