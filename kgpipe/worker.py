"""Helpers shared by kgpipe's Python worker bodies (the ``mapInArrow``
kernels and the pandas UDFs).

* ``drop_zip_finders`` — every body runs it in a ``finally``
  (``worker_body``). PySpark's worker calls ``importlib.invalidate_caches()``
  at the start of every task (``worker_util.setup_spark_files``), and on
  CPython each
  ``zipimport.zipimporter`` left in ``sys.path_importer_cache`` then
  re-reads its archive's central directory. A reused worker holds a dozen
  or more of them (``pyspark.zip`` and its subpackage directories, the
  py4j zip, the Spark core jar the JVM puts on the worker's path), which
  cost ~0.15-0.25 s of CPU per task before the task reads a row. The
  entries are only a cache: an import that needs the path again rebuilds
  its finder from ``zipimport._zip_directory_cache`` without a re-read.
* ``settle_heap`` — every body runs it after ``drop_zip_finders``: a full
  ``gc.collect()``, then ``gc.freeze()``. PySpark's daemon calls
  ``gc.collect()`` after every task of a reused worker, and a full
  collection walks every tracked object: ~81k in a worker that holds
  pyspark, pandas, pyarrow, kgpipe, the gazetteer broadcast and the memos,
  ~33 ms of a trivial task's ~35 ms CPU (``local[1]`` on a 4-core x86
  host). The collect frees the body's
  garbage, cycles included; the freeze moves the survivors (modules, the
  broadcast value, the memos) into the permanent generation, which no
  collection walks, so the daemon's collection and the automatic ones
  inside the next body see only what was allocated since. It runs after
  every body, not once per process, because the memos grow and a new
  broadcast value arrives after any first freeze. The cost of freezing:
  an object alive at a freeze that later dies inside a reference cycle is
  never reclaimed; the frozen count of a worker repeating one build stays
  constant (``tests/test_worker.py``).
* ``local_wall_ts`` — the ``ts`` column of an input batch as the session's
  wall-clock time, the value ``mapInPandas`` used to hand over.
"""

from __future__ import annotations

import functools
import gc
import inspect
import sys
import zipimport

__all__ = ["drop_zip_finders", "settle_heap", "worker_body", "local_wall_ts"]


def drop_zip_finders() -> None:
    """Delete the ``zipimporter`` entries from ``sys.path_importer_cache``,
    so the next task's ``invalidate_caches()`` has no archive to re-read."""
    cache = sys.path_importer_cache
    for path in [p for p, f in cache.items() if isinstance(f, zipimport.zipimporter)]:
        del cache[path]


def settle_heap() -> None:
    """Collect the garbage a body left, then freeze what survives, so later
    collections in this process walk only objects allocated after now."""
    gc.collect()
    gc.freeze()


def worker_body(fn):
    """Decorator for a function that runs on a Python worker: call
    ``drop_zip_finders`` and ``settle_heap`` when it returns, or, for a
    generator function (a ``mapInArrow``/``mapInPandas`` body), when the
    generator is exhausted or closed. A pandas UDF's function returns once
    per Arrow batch, so it settles once per batch. ``functools.wraps`` keeps
    the type hints ``pandas_udf`` reads."""
    if inspect.isgeneratorfunction(fn):

        @functools.wraps(fn)
        def gen(*args, **kwargs):
            try:
                yield from fn(*args, **kwargs)
            finally:
                drop_zip_finders()
                settle_heap()

        return gen

    @functools.wraps(fn)
    def call(*args, **kwargs):
        try:
            return fn(*args, **kwargs)
        finally:
            drop_zip_finders()
            settle_heap()

    return call


def local_wall_ts(ts):
    """A timestamp Arrow array as naive wall-clock time: Spark hands a
    ``TimestampType`` column to ``mapInArrow`` as ``timestamp[us, tz=<session
    tz>]``, and ``local_timestamp`` gives the wall time ``mapInPandas``
    delivered; ``TIMESTAMP_NTZ`` (no tz) is already wall time."""
    import pyarrow.compute as pc

    return pc.local_timestamp(ts) if getattr(ts.type, "tz", None) else ts
