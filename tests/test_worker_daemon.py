"""The worker daemon drops Spark's zip import path only for a matching
unpacked pyspark/py4j, and a Python task then caches no zipimporter for a
Spark-distribution archive."""

import os
import zipfile

import pytest

from imagery_utils_spark.worker_daemon import spark_free_path


def _pkg_dir(root, version, py4j_version):
    for pkg, v in (("pyspark", version), ("py4j", py4j_version)):
        d = root / pkg
        d.mkdir(parents=True)
        (d / "__init__.py").write_text("")
        (d / "version.py").write_text(f"__version__ = '{v}'\n")
    return str(root)


@pytest.fixture
def layout(tmp_path):
    """A Spark home with the two python/lib zips, a spark-core jar, a user
    py-file and the worker ``sys.path`` Spark would build from them."""
    lib = tmp_path / "spark" / "python" / "lib"
    lib.mkdir(parents=True)
    pyspark_zip = lib / "pyspark.zip"
    py4j_zip = lib / "py4j-0.10.9.9-src.zip"
    with zipfile.ZipFile(pyspark_zip, "w") as z:
        z.writestr("pyspark/__init__.py", "")
        z.writestr("pyspark/version.py", "__version__: str = '4.1.2'\n")
    with zipfile.ZipFile(py4j_zip, "w") as z:
        z.writestr("py4j/__init__.py", "")
        z.writestr("py4j/version.py", "__version__ = '0.10.9.9'\n")
    jar = str(tmp_path / "jars" / "spark-core_2.13-4.1.2.jar")
    user = tmp_path / "spark-1" / "userFiles-2"
    user.mkdir(parents=True)
    user_zip = user / "pkg.zip"
    with zipfile.ZipFile(user_zip, "w") as z:
        z.writestr("pkg/__init__.py", "")
    dist = [str(pyspark_zip), str(py4j_zip), jar]
    head = [str(tmp_path / "cwd"), str(user), str(user_zip)]
    return str(tmp_path / "spark"), head, dist, tmp_path


def test_matching_install_drops_spark_zips_and_jar(layout):
    spark_home, head, dist, tmp = layout
    site = _pkg_dir(tmp / "site", "4.1.2", "0.10.9.9")
    path = head + dist + [site]
    assert spark_free_path(path, spark_home) == head + [site]
    assert spark_free_path(path, spark_home + os.sep) == head + [site]


@pytest.mark.parametrize("versions", [("4.1.1", "0.10.9.9"), ("4.1.2", "0.10.9.7")])
def test_version_mismatch_keeps_path(layout, versions):
    spark_home, head, dist, tmp = layout
    path = head + dist + [_pkg_dir(tmp / "site", *versions)]
    assert spark_free_path(path, spark_home) == path


def test_no_directory_install_keeps_path(layout):
    spark_home, head, dist, tmp = layout
    path = head + dist + [str(tmp / "empty-site")]
    assert spark_free_path(path, spark_home) == path
    site = _pkg_dir(tmp / "site", "4.1.2", "0.10.9.9")
    assert spark_free_path(head + dist + [site], None) == head + dist + [site]


def test_user_py_file_zip_is_kept(layout):
    spark_home, head, dist, tmp = layout
    site = _pkg_dir(tmp / "site", "4.1.2", "0.10.9.9")
    kept = spark_free_path(head + dist + [site], spark_home)
    assert head[2].endswith(os.path.join("userFiles-2", "pkg.zip"))
    assert head[2] in kept


def test_python_task_imports_unpacked_pyspark(spark):
    import pyspark

    from imagery_utils_spark.session import WORKER_DAEMON_MODULE

    def probe(batches):
        import sys
        import zipimport

        import pandas as pd
        import pyspark

        lib = os.path.normpath(os.path.join(os.environ["SPARK_HOME"], "python", "lib"))
        cached = [imp.archive for imp in sys.path_importer_cache.values()
                  if isinstance(imp, zipimport.zipimporter)]
        dist = [a for a in cached
                if a.endswith(".jar") or os.path.dirname(os.path.normpath(a)) == lib]
        for _ in batches:
            pass
        yield pd.DataFrame({"daemon": [sys.modules["__main__"].__spec__.name],
                            "dist": [";".join(dist)],
                            "version": [pyspark.__version__]})

    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == WORKER_DAEMON_MODULE
    rows = spark.range(1, numPartitions=1).mapInPandas(
        probe, "daemon string, dist string, version string").collect()
    assert [tuple(r) for r in rows] == [(WORKER_DAEMON_MODULE, "", pyspark.__version__)]
