"""PySpark's worker daemon, started without Spark's archives on the path.

Every Python task calls ``importlib.invalidate_caches()`` (PySpark's
``worker_util.setup_spark_files``), which makes each ``zipimporter`` on
the path re-read its archive's directory: ~10 ms for ``pyspark.zip`` and
~40 ms for the spark-core jar, per task, even on reused workers. When the
same pyspark is installed as a plain package the archives add nothing but
that cost, so this daemon drops them before running ``pyspark.daemon``.
``session.get_spark`` selects it via ``spark.python.daemon.module``.
"""

from __future__ import annotations

import os
import re
import runpy
import sys
from importlib.machinery import PathFinder

_VERSION_RE = re.compile(rb"""__version__[^=]*=\s*['"]([^'"]+)['"]""")


def _is_spark_archive(entry: str) -> bool:
    name = os.path.basename(entry)
    return (
        name == "pyspark.zip"
        or (name.startswith("py4j-") and name.endswith(".zip"))
        or (name.startswith("spark-") and name.endswith(".jar"))
    )


def _pyspark_version(path: list[str]) -> bytes | None:
    """``pyspark.__version__`` as found on ``path``, read without importing."""
    spec = PathFinder.find_spec("pyspark", path)
    if spec is None or spec.origin is None or spec.loader is None:
        return None
    version_py = os.path.join(os.path.dirname(spec.origin), "version.py")
    try:
        match = _VERSION_RE.search(spec.loader.get_data(version_py))
    except OSError:
        return None
    return match.group(1) if match else None


def lean_path(path: list[str]) -> list[str]:
    """``path`` without Spark's archives when the rest still imports a
    pyspark of the same version (and py4j); otherwise ``path`` itself."""
    rest = [p for p in path if not _is_spark_archive(p)]
    if len(rest) == len(path) or PathFinder.find_spec("py4j", rest) is None:
        return path
    version = _pyspark_version(rest)
    if version is None or version != _pyspark_version(path):
        return path
    return rest


def main() -> None:
    lean = lean_path(sys.path)
    dropped = tuple(set(sys.path) - set(lean))
    sys.path[:] = lean
    for key in list(sys.path_importer_cache):
        if key in dropped or key.startswith(tuple(d + os.sep for d in dropped)):
            del sys.path_importer_cache[key]
    runpy.run_module("pyspark.daemon", run_name="__main__")


if __name__ == "__main__":
    main()
