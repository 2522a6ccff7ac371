"""Spark's Python worker daemon, started warm.

``session.get_spark`` sets ``spark.python.daemon.module`` to this module,
so Spark starts ``python -m parserpdf_spark._daemon`` in place of
``pyspark.daemon``.  Every Python worker is a fork of it, so what it
imports and installs before :func:`pyspark.daemon.manager` forks is
there in every worker from its first task on:

1. pyspark from the installed package's bytecode.  Spark puts its
   ``$SPARK_HOME/python/lib/*.zip`` first on the daemon's path, and
   ``pyspark.zip`` holds no ``.pyc`` files, so importing
   ``pyspark.worker`` from it compiles ~1 s of source in every daemon.
   The zips move to the end of ``sys.path``, only when the installed
   pyspark has the zip's version; otherwise Spark's order stays.
2. ``pyspark.daemon``, which imports ``pyspark.worker``.
3. The package's zip guard (:func:`parserpdf_spark._guard_zip_invalidation`).
   ``python -m`` imported the package before ``pyspark.worker`` existed,
   so the import-time call returned without installing it, and no
   worker imports the package again.
"""

from __future__ import annotations

import importlib.metadata
import os
import re
import sys
import zipfile

_VERSION = re.compile(r"""__version__[^=]*=\s*["']([^"']+)["']""")


def _zip_version(archive: str) -> str | None:
    try:
        with zipfile.ZipFile(archive) as z:
            match = _VERSION.search(z.read("pyspark/version.py").decode())
    except (OSError, KeyError, zipfile.BadZipFile):
        return None
    return match.group(1) if match else None


def _installed_version() -> str | None:
    try:
        return importlib.metadata.version("pyspark")
    except importlib.metadata.PackageNotFoundError:
        return None


def zips_last(path: list[str]) -> list[str]:
    """``path`` with the zips next to ``pyspark.zip`` moved to its end
    when the installed pyspark has the zip's version, else ``path``."""
    archive = next(
        (p for p in path if os.path.basename(p) == "pyspark.zip"), None
    )
    if archive is None:
        return list(path)
    version = _zip_version(archive)
    if version is None or version != _installed_version():
        return list(path)
    lib = os.path.dirname(archive)
    zips = [p for p in path if p.endswith(".zip") and os.path.dirname(p) == lib]
    return [p for p in path if p not in zips] + zips


def main() -> None:
    sys.path[:] = zips_last(sys.path)
    import pyspark.daemon

    import parserpdf_spark

    parserpdf_spark._guard_zip_invalidation()
    pyspark.daemon.manager()


if __name__ == "__main__":
    main()
