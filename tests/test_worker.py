"""kgpipe's Python bodies leave no zip finder in a reused worker.

PySpark calls ``importlib.invalidate_caches()`` at the start of every task,
and each ``zipimporter`` in ``sys.path_importer_cache`` then re-reads its
archive's directory. ``worker.worker_body`` drops those entries when a body
ends, so the next task in the same worker starts with none. The check runs
in its own ``local[1]`` session (one reused Python worker), in a
subprocess because the test session is already ``local[4]``.
"""

from __future__ import annotations

import json
import os
import pathlib
import subprocess
import sys
import textwrap
import zipimport

import pytest

from kgpipe.worker import drop_zip_finders, worker_body

REPO = pathlib.Path(__file__).resolve().parent.parent

_SCRIPT = textwrap.dedent(
    """
    import datetime as dt, json, os
    from kgpipe.config import PipelineConfig
    from kgpipe.pair import fused_triples
    from kgpipe.resources import (
        Gazetteer, builtin_blacklist_terms, builtin_gazetteer_rows)
    from kgpipe.schemas import TRANSCRIPTS_SCHEMA
    from kgpipe.session import get_spark

    spark = get_spark("kgpipe-worker-test", master="local[1]",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")

    def probe(batches):
        import sys, zipimport
        import pyarrow as pa
        for _ in batches:
            pass
        n = sum(isinstance(f, zipimport.zipimporter)
                for f in sys.path_importer_cache.values())
        yield pa.RecordBatch.from_pydict({"n": [n], "pid": [os.getpid()]})

    def run_probe():
        return spark.range(1, numPartitions=1).mapInArrow(
            probe, "n long, pid long").collect()[0]

    before = run_probe()
    rows = [("c%d" % (i % 3), i, "user", "started folfox on 3/5/2024", None,
             dt.datetime(2024, 3, 10)) for i in range(12)]
    df = spark.createDataFrame(rows, TRANSCRIPTS_SCHEMA).repartition(3)
    gaz = Gazetteer.from_rows(builtin_gazetteer_rows())
    out = fused_triples(df, gaz, builtin_blacklist_terms(), PipelineConfig())
    parts = out.rdd.getNumPartitions()
    n_rows = out.count()
    after = run_probe()
    print(json.dumps({"before": before.n, "after": after.n, "parts": parts,
                      "rows": n_rows, "pids": [before.pid, after.pid]}))
    spark.stop()
    """
)


def test_reused_worker_holds_no_zip_finder_after_a_kgpipe_task():
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        [str(REPO)] + [p for p in [os.environ.get("PYTHONPATH")] if p]))
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT], cwd=REPO, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    assert got["parts"] >= 2 and got["rows"] > 0, got
    # one local[1] worker ran the probe, the kgpipe tasks and the probe again
    assert got["pids"][0] == got["pids"][1], got
    if got["before"] == 0:
        pytest.skip("this install loads pyspark without zip finders")
    assert got["after"] == 0, got


def test_worker_body_drops_zip_finders_after_function_and_generator():
    fake = zipimport.zipimporter.__new__(zipimport.zipimporter)
    key = "/nonexistent/kgpipe-test.zip"

    @worker_body
    def plain(x):
        sys.path_importer_cache[key] = fake
        return x + 1

    @worker_body
    def gen(xs):
        sys.path_importer_cache[key] = fake
        yield from xs

    try:
        assert plain(1) == 2 and key not in sys.path_importer_cache
        assert list(gen([1, 2])) == [1, 2] and key not in sys.path_importer_cache
        sys.path_importer_cache[key] = fake
        drop_zip_finders()
        assert key not in sys.path_importer_cache
    finally:
        sys.path_importer_cache.pop(key, None)
