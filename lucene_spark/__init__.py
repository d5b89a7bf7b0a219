"""lucene_spark — PySpark-native inverted-index build + BM25 query engine.

Public surface:

  operators.indexer.build_index   build / resume / append a (multi-field) index
  operators.merge.merge_index     full salted-by-term merge of all live units
  operators.merge.tiered_merge    one incremental tiered-merge step
  operators.search.Searcher       top-k BM25 + boolean/phrase/proximity/
                                  multi-term/term-in-set, field: scoping,
                                  cursor-pruned deep paging
  operators.join                  parent/child block join, query-time join
  operators.check.check_index     integrity audit
  operators.textops / multimodal / analytics / mlt / highlight / suggest
  streaming.nrt.stream_index      micro-batch NRT appends
  cli                             spark-submit entrypoint

Heavy imports stay in submodules: importing ``lucene_spark`` itself must be
cheap enough for executors unpickling UDF closures.
"""

import os
import sys
import zipimport

__version__ = "0.1.0"


def _zip_stat(archive: str):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def _in_spark_worker() -> bool:
    """True inside a Spark Python worker task (the worker sets the task
    context before it unpickles the functions that import this package)."""
    tc = sys.modules.get("pyspark.taskcontext")
    return tc is not None and tc.TaskContext.get() is not None


def _gate_zip_invalidation() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive's central
    directory only when the archive changed, in Spark Python workers.

    The worker calls ``importlib.invalidate_caches()`` at the start of every
    task; before 3.13 each zipimporter over ``pyspark.zip`` (one per package
    imported from it) then re-reads the whole directory, ~0.2 s per task.
    The gated method keys each importer on the archive's
    ``(st_mtime_ns, st_size, st_ino)`` and calls the original method when
    the key changed or the archive cannot be stat'ed. Importers that exist
    at install time take the archive's current key (the worker re-read them
    at the start of the task that imports this package); importers made
    later re-read on their first invalidation. Driver and user processes
    are never patched.
    """
    if sys.version_info >= (3, 13) or not _in_spark_worker():
        return  # 3.13 drops the cache entry instead of re-reading
    cls = zipimport.zipimporter
    reread = cls.invalidate_caches
    if getattr(reread, "stat_gated", False):
        return

    def invalidate_caches(self):
        key = _zip_stat(self.archive)
        if key is None or key != getattr(self, "_stat_key", None):
            reread(self)
            self._stat_key = key

    invalidate_caches.stat_gated = True
    for imp in list(sys.path_importer_cache.values()):
        if isinstance(imp, cls):
            imp._stat_key = _zip_stat(imp.archive)
    cls.invalidate_caches = invalidate_caches


_gate_zip_invalidation()
