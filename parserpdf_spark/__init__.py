"""parserpdf_spark — a PySpark-native main-content extraction engine.

A from-scratch reimplementation of the *capabilities* of the reference
repo ``semmyk-research/parserPDF`` (a Gradio batch PDF/HTML→markdown
converter), re-expressed as an idiomatic Spark dataflow over an
interleaved-documents table::

    docs(doc_id string,
         spans  array<struct<kind string, text string,
                             media_ref string, offset int>>)

The engine's layers:

- :mod:`parserpdf_spark.kernels`   — pure pandas/python extraction kernels
  (HTML DOM + boilerplate heuristics, PDF layout reading-order +
  classification).  No Spark imports; unit-testable standalone.
- :mod:`parserpdf_spark.operators` — Spark operators: the mapInArrow
  extraction stage, skew-salted reassembly, dedup family, ANN,
  text-analysis ops.
- :mod:`parserpdf_spark.sources`   — scans and the deterministic
  interleaved-docs synthesizer.
- :mod:`parserpdf_spark.plans`     — chunked checkpoint/commit/resume.

Importing the package inside a Spark Python worker also installs
:func:`_guard_zip_invalidation`, once per worker process; sessions from
``session.get_spark`` fork their workers from :mod:`parserpdf_spark._daemon`
with it already installed.

Reference parity notes cite ``/root/reference`` files as ``file:line``.
"""

__version__ = "0.1.0"


def _guard_zip_invalidation():
    """Stop Python < 3.13 Spark workers re-reading ``pyspark.zip`` per task.

    Each task's ``importlib.invalidate_caches()`` makes every zipimporter
    re-read its archive's directory in pure Python (~0.25 core-s a task);
    re-read only when the archive's stat changed since its last read.
    """
    import sys
    if sys.version_info >= (3, 13) or "pyspark.worker" not in sys.modules:
        return
    import os
    import zipimport

    original = zipimport.zipimporter.invalidate_caches
    if getattr(original, "stat_guarded", False):
        return
    cache = zipimport._zip_directory_cache

    def stat_key(path):
        try:
            st = os.stat(path)
        except OSError:
            return None
        return st.st_mtime_ns, st.st_size, st.st_ino

    # installed by the daemon before it forks, or by a worker inside a task
    # after that task's re-read: either way the cached directories are fresh
    read_at = {archive: stat_key(archive) for archive in cache}

    def invalidate_caches(self):
        key = stat_key(self.archive)
        if key is not None and key == read_at.get(self.archive):
            self._files = cache.get(self.archive, self._files)
        else:
            original(self)
            read_at[self.archive] = key
    invalidate_caches.stat_guarded = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_guard_zip_invalidation()
