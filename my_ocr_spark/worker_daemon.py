"""Python worker daemon that imports the installed pyspark.

Spark puts ``$SPARK_HOME``'s ``pyspark.zip``, the py4j zip and the
spark-core jar first on every worker's ``PYTHONPATH``. The zip ships
source only, so each daemon compiles pyspark on launch, and each task's
``importlib.invalidate_caches()`` re-reads the central directory of all
those archives. When the installed pyspark is the same release as the
zip, this daemon drops the archives from ``sys.path`` and then runs
``pyspark.daemon``. Otherwise it runs ``pyspark.daemon`` unchanged.
``get_spark`` selects it with ``spark.python.daemon.module``.

Nothing here imports pyspark before the path filter has run.
"""

from __future__ import annotations

import os
import sys
import zipfile
from importlib.machinery import PathFinder


def without_spark_archives(path: list[str],
                           spark_home: str | None) -> list[str]:
    """``path`` without its ``.zip``/``.jar`` entries under
    ``spark_home``, if the rest still resolves ``pyspark`` and ``py4j``
    and that ``pyspark/version.py`` is byte-identical to the one in the
    dropped archives; otherwise ``path`` unchanged."""
    if not spark_home:
        return path
    home = os.path.realpath(spark_home) + os.sep
    dropped = [p for p in path if p.lower().endswith((".zip", ".jar"))
               and os.path.realpath(p).startswith(home)]
    if not dropped:
        return path
    kept = [p for p in path if p not in dropped]
    specs = [PathFinder.find_spec(m, kept) for m in ("pyspark", "py4j")]
    if not all(s and s.origin for s in specs):
        return path
    try:
        with open(os.path.join(os.path.dirname(specs[0].origin),
                               "version.py"), "rb") as f:
            installed = f.read()
    except OSError:
        return path
    for archive in dropped:
        try:
            with zipfile.ZipFile(archive) as z:
                shipped = z.read("pyspark/version.py")
        except (OSError, KeyError, zipfile.BadZipFile):
            continue
        return kept if shipped == installed else path
    return path


if __name__ == "__main__":
    kept = without_spark_archives(sys.path, os.environ.get("SPARK_HOME"))
    # runpy already made zipimporters for the root archives while it
    # searched for this module
    for entry in set(sys.path) - set(kept):
        sys.path_importer_cache.pop(entry, None)
    sys.path[:] = kept

    from pyspark.daemon import manager

    manager()
