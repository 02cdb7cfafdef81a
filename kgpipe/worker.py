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
* ``local_wall_ts`` — the ``ts`` column of an input batch as the session's
  wall-clock time, the value ``mapInPandas`` used to hand over.
"""

from __future__ import annotations

import functools
import inspect
import sys
import zipimport

__all__ = ["drop_zip_finders", "worker_body", "local_wall_ts"]


def drop_zip_finders() -> None:
    """Delete the ``zipimporter`` entries from ``sys.path_importer_cache``,
    so the next task's ``invalidate_caches()`` has no archive to re-read."""
    cache = sys.path_importer_cache
    for path in [p for p, f in cache.items() if isinstance(f, zipimport.zipimporter)]:
        del cache[path]


def worker_body(fn):
    """Decorator for a function that runs on a Python worker: call
    ``drop_zip_finders`` when it returns, or, for a generator function (a
    ``mapInArrow``/``mapInPandas`` body), when the generator is exhausted or
    closed. ``functools.wraps`` keeps the type hints ``pandas_udf`` reads."""
    if inspect.isgeneratorfunction(fn):

        @functools.wraps(fn)
        def gen(*args, **kwargs):
            try:
                yield from fn(*args, **kwargs)
            finally:
                drop_zip_finders()

        return gen

    @functools.wraps(fn)
    def call(*args, **kwargs):
        try:
            return fn(*args, **kwargs)
        finally:
            drop_zip_finders()

    return call


def local_wall_ts(ts):
    """A timestamp Arrow array as naive wall-clock time: Spark hands a
    ``TimestampType`` column to ``mapInArrow`` as ``timestamp[us, tz=<session
    tz>]``, and ``local_timestamp`` gives the wall time ``mapInPandas``
    delivered; ``TIMESTAMP_NTZ`` (no tz) is already wall time."""
    import pyarrow.compute as pc

    return pc.local_timestamp(ts) if getattr(ts.type, "tz", None) else ts
