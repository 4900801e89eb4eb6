"""grisp_spark — a PySpark-native knowledge-graph construction engine.

A from-scratch reimagination of the capabilities of kermitt2/grisp
(reference snapshot at /root/reference, GPL-3.0): gazetteer / label
statistics, anchor-prior entity linking, redirect-style
canonicalization, and graph materialization — re-expressed as
DataFrame jobs over Parquet/Iceberg transcript tables, plus the
training-data-pipeline operators (dedup, similarity search, text
analysis, multimodal plumbing) a 100 TB corpus needs.

Nothing in this package is a port: the reference is a sequence of
Hadoop MapReduce jobs with LMDB side-joins; here every stage is a
declarative Spark plan (Catalyst-optimized) with vectorized
pandas/Arrow UDFs only where built-in functions cannot express the
semantics (trie-based mention detection, numpy embedding scoring).
"""

import os
import sys
import zipimport

__version__ = "0.1.0"

# PySpark's worker calls importlib.invalidate_caches() at the start of
# EVERY task (worker_util.setup_spark_files). Before CPython 3.13 that
# makes each zipimporter in sys.path_importer_cache re-read its
# archive's central directory — pyspark.zip, py4j and the spark-core
# jar, ~27k entries, ~170 ms per task — although nothing changed.
# Re-read only when the archive's (mtime, size) moved. Installed here
# because every worker that unpickles a grisp kernel imports this
# package; 3.13 made the invalidation lazy, so drop this block once
# the worker Python is >= 3.13.
if sys.version_info < (3, 13):
    _zip_stamps: dict[str, tuple[int, int] | None] = {}

    def _invalidate_if_changed(
        self, _reread=zipimport.zipimporter.invalidate_caches
    ):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is None or files is None or _zip_stamps.get(self.archive) != stamp:
            _reread(self)
            _zip_stamps[self.archive] = stamp
        else:
            self._files = files  # the latest read, by any importer of the archive

    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
