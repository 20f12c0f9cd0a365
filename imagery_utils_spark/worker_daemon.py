"""Python worker daemon that imports pyspark from its unpacked install.

Spark puts ``$SPARK_HOME/python/lib/pyspark.zip``, the py4j zip and the
spark-core jar first on every worker's ``sys.path``. Each task then calls
``importlib.invalidate_caches()``, and on Python 3.11/3.12 every cached
``zipimporter`` re-reads its archive's central directory (0.2-0.3 s per
task). When the rest of ``sys.path`` imports a pyspark and py4j of the
zips' versions, this module drops those entries and their importer caches
before pyspark is imported; otherwise ``sys.path`` stays as Spark built it.
Either way it then runs the stock ``pyspark.daemon.manager()``. Selected
by ``spark.python.daemon.module`` (see ``session.get_spark``).
"""

from __future__ import annotations

import os
import re
import sys
import zipfile
from importlib.machinery import PathFinder

_VERSION = re.compile(r"""__version__\b[^=\n]*=\s*['"]([^'"]+)['"]""")


def _version(source: str) -> str | None:
    m = _VERSION.search(source)
    return m.group(1) if m else None


def _same_version(pkg: str, archive: str, path: list[str]) -> bool:
    """``path`` imports ``pkg`` as a directory whose version is the archive's."""
    spec = PathFinder.find_spec(pkg, path)
    if spec is None or spec.origin is None:
        return False
    try:
        with open(os.path.join(os.path.dirname(spec.origin), "version.py"), encoding="utf-8") as f:
            unpacked = _version(f.read())
        with zipfile.ZipFile(archive) as z:
            zipped = _version(z.read(f"{pkg}/version.py").decode("utf-8"))
    except (OSError, KeyError, ValueError, zipfile.BadZipFile):
        return False
    return unpacked is not None and unpacked == zipped


def spark_free_path(path: list[str], spark_home: str | None) -> list[str]:
    """``path`` without its Spark-distribution entries (the
    ``$SPARK_HOME/python/lib/*.zip`` archives and ``*.jar`` files) when the
    rest imports pyspark and py4j at the zips' versions; else ``path``."""
    lib = os.path.normpath(os.path.join(spark_home, "python", "lib")) if spark_home else None
    dist = [p for p in path if p.endswith(".jar")
            or (p.endswith(".zip") and os.path.dirname(os.path.normpath(p)) == lib)]
    rest = [p for p in path if p not in dist]
    zips = {pkg: p for p in dist if p.endswith(".zip")
            for pkg in ("pyspark", "py4j") if os.path.basename(p).startswith(pkg)}
    if len(zips) == 2 and all(_same_version(pkg, z, rest) for pkg, z in zips.items()):
        return rest
    return list(path)


def main() -> None:
    kept = spark_free_path(sys.path, os.environ.get("SPARK_HOME"))
    for entry in set(sys.path) - set(kept):
        for key in [k for k in sys.path_importer_cache
                    if k == entry or k.startswith(entry + os.sep)]:
            del sys.path_importer_cache[key]
    sys.path[:] = kept

    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
