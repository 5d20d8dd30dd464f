"""Python-worker entry shim (``spark.python.worker.module``).

pyspark's per-task ``worker_util.setup_spark_files()`` ends with
``importlib.invalidate_caches()``. On CPython 3.11,
``zipimport.zipimporter.invalidate_caches`` unconditionally re-parses
the archive's central directory — with SPARK_HOME's pyspark.zip +
py4j zips on every worker's sys.path that is ~150 ms of pure overhead
PER TASK (profiled in a reused worker: 96% of a no-op mapInArrow task's
wall was zipimport._read_directory). CPython >= 3.12 re-reads only when
the archive's mtime/size changed; this shim backports that public
behavior, so a genuinely modified archive still invalidates while the
unchanged-zip hot path costs one os.stat.

Activate it through the top-level alias (pyspark's daemon.py silently
runs the stock worker for a module name not starting with "pyspark")::

    SparkSession.builder
        .config("spark.python.worker.module", "pyspark_worker_zipcache")

The alias must be importable by the worker daemon (local mode: repo on
the driver's PYTHONPATH; cluster mode: ship the package zip and include
it in spark.executorEnv.PYTHONPATH). Everything else delegates verbatim
to ``pyspark.worker``.
"""

from __future__ import annotations

import os
import zipimport

_orig_invalidate = zipimport.zipimporter.invalidate_caches
_zip_state: dict = {}


def _invalidate_if_changed(self):
    try:
        st = os.stat(self.archive)
        key = (st.st_mtime_ns, st.st_size)
    except OSError:
        _zip_state.pop(getattr(self, "archive", None), None)
        return _orig_invalidate(self)
    if _zip_state.get(self.archive) == key:
        return None
    _zip_state[self.archive] = key
    return _orig_invalidate(self)


zipimport.zipimporter.invalidate_caches = _invalidate_if_changed

# Tried and reverted: rate-limiting the daemon reuse-loop's per-task
# gc.collect() (daemon.py calls a full collection between back-to-back
# tasks, ~5-15 ms each). A/B at sf0.1 local[32] was ambiguous — the
# no-op floor improved (0.527 -> 0.461 s) but the full extract got
# WORSE (0.916 -> 0.999 s): deferred garbage raises allocation pressure
# inside real tasks. Not worth the risk for a wash; the zip fix above
# is the whole win.

from pyspark.worker import main  # noqa: E402,F401  (daemon entry point)
