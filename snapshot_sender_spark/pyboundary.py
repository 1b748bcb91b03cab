"""Python-worker fixed-cost guard (spark_optimization_guide §4: the JVM↔Python
boundary has per-task constants you control).

Measured pathology (round 13, CPython 3.11.7 + Spark 4.1.2, local[32]): every
Python-stage task runs ``importlib.invalidate_caches()`` inside
``pyspark.worker_util.setup_spark_files`` before the UDF executes.  On 3.11,
``zipimport.zipimporter.invalidate_caches`` **unconditionally re-parses its
archive's central directory** (zipimport.py:329-336 — ``self._files =
_read_directory(self.archive)``), and a Spark worker's
``sys.path_importer_cache`` holds a dozen-plus zipimporter finders: one per
import prefix of ``pyspark.zip`` (``pyspark.zip``, ``pyspark.zip/pyspark``,
``.../pyspark/sql`` …) plus the ``spark-core`` **jar** that pyspark's
error-class reader appends to ``sys.path``.  Worker-side trace (timestamps
logged from inside ``setup_spark_files``): the invalidate step alone is
137-216 ms per task — with <1 ms in every other pre-UDF step — i.e. an empty
1-task ``mapInArrow`` job costs ~0.25 s of which ~0.2 s is re-parsing zip
directories that cannot have changed.  At 32 parallel Python tasks that is
~6 CPU-seconds of pure overhead per stage.

The guard wraps ``zipimporter.invalidate_caches`` with an archive
``(st_mtime_ns, st_size)`` check and skips the re-read when the archive is
unchanged — exactly the semantics newer CPython adopted for this method (the
3.12+ implementation only reloads when the archive mtime changed).  A zip
that *does* change (e.g. an updated ``--py-files`` artifact) still triggers
the original full re-read, so import correctness is preserved.

Installation: ``_workerboot/sitecustomize.py`` installs it at interpreter
start in every Python process the Spark JVM launches (``session.get_spark``
puts that directory on PYTHONPATH).  ``snapshot_sender_spark/__init__.py``,
the delivery parse kernel and the dedup/similarity closures (which never
import the package) install it again, idempotently, so any interpreter that
runs our code has it.

Measured at 4 cores (``perfbench/run.py --seconds 10``, seven alternating
pairs): without the guard ``delivery_mixed`` ``job_s_p50`` rose from
0.95-1.15 to 1.29-1.47 reference-seconds, so it stays.  The worker hook that froze the
import graph out of the daemon's per-task garbage collection measured flat at
4 cores and was removed.
"""

from __future__ import annotations

import os
import zipimport


def install_zipimport_guard() -> bool:
    """Idempotently install the mtime/size guard; returns True if installed
    by this call, False if it was already present or this Python cannot
    take it (a missed optimization must not fail a task)."""
    zi = zipimport.zipimporter
    if getattr(zi, "_ssp_mtime_guard", False):
        return False
    orig = getattr(zi, "invalidate_caches", None)
    if orig is None:  # zipimporter has the method from Python 3.10 on
        return False

    def invalidate_caches(self):  # noqa: ANN001 - zipimporter instance
        try:
            st = os.stat(self.archive)
            sig = (st.st_mtime_ns, st.st_size)
        except OSError:
            sig = None
        if sig is not None and getattr(self, "_ssp_archive_sig", None) == sig:
            return  # archive unchanged -> cached directory is still valid
        orig(self)
        # only pin the signature when the re-read succeeded (orig() leaves
        # self._files empty on ZipImportError, in which case the next call
        # must retry the read)
        if sig is not None and getattr(self, "_files", None):
            self._ssp_archive_sig = sig

    try:
        zi.invalidate_caches = invalidate_caches
        zi._ssp_mtime_guard = True
    except (AttributeError, TypeError):  # a built-in type refuses new attributes
        return False
    return True
