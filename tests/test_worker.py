"""kgpipe's Python bodies leave a reused worker with no zip finder and a
frozen heap.

PySpark calls ``importlib.invalidate_caches()`` at the start of every task,
and each ``zipimporter`` in ``sys.path_importer_cache`` then re-reads its
archive's directory. ``worker.worker_body`` drops those entries when a body
ends, so the next task in the same worker starts with none. It then
collects the body's garbage and freezes what survives, so the daemon's
``gc.collect()`` after each task walks only what the task allocated: the
frozen count must not grow while a worker repeats one build, and a cycle a
body drops must still be collected. The checks run in their own
``local[1]`` session (one reused Python worker), in a subprocess because
the test session is already ``local[4]``.
"""

from __future__ import annotations

import gc
import json
import os
import pathlib
import subprocess
import sys
import textwrap
import weakref
import zipimport

import pytest

from kgpipe.worker import drop_zip_finders, worker_body

REPO = pathlib.Path(__file__).resolve().parent.parent

_SCRIPT = textwrap.dedent(
    """
    import datetime as dt, json, os
    import pandas as pd
    from pyspark.sql import functions as F
    from kgpipe.config import PipelineConfig
    from kgpipe.pair import fused_triples
    from kgpipe.resources import (
        Gazetteer, builtin_blacklist_terms, builtin_gazetteer_rows)
    from kgpipe.schemas import TRANSCRIPTS_SCHEMA
    from kgpipe.session import get_spark
    from kgpipe.worker import worker_body

    spark = get_spark("kgpipe-worker-test", master="local[1]",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")

    def probe(batches):
        import gc, sys, zipimport
        import pyarrow as pa
        for _ in batches:
            pass
        n = sum(isinstance(f, zipimport.zipimporter)
                for f in sys.path_importer_cache.values())
        refs = getattr(sys, "_kgpipe_test_cycles", [])
        yield pa.RecordBatch.from_pydict({
            "n": [n], "pid": [os.getpid()], "frozen": [gc.get_freeze_count()],
            "cycles": [len(refs)], "alive": [sum(r() is not None for r in refs)]})

    def run_probe():
        return spark.range(1, numPartitions=1).mapInArrow(
            probe, "n long, pid long, frozen long, cycles long, alive long"
        ).collect()[0]

    def drop_a_cycle():
        # an object in a reference cycle, dropped; the probe reads its weakref
        import sys, weakref
        class Node:
            pass
        node = Node()
        node.me = node
        sys.__dict__.setdefault("_kgpipe_test_cycles", []).append(weakref.ref(node))

    @worker_body
    def cycle_gen(batches):
        for batch in batches:
            drop_a_cycle()
            yield batch

    @F.pandas_udf("long")
    @worker_body
    def cycle_plain(x: pd.Series) -> pd.Series:
        drop_a_cycle()
        return x

    before = run_probe()
    rows = [("c%d" % (i % 3), i, "user", "started folfox on 3/5/2024", None,
             dt.datetime(2024, 3, 10)) for i in range(12)]
    df = spark.createDataFrame(rows, TRANSCRIPTS_SCHEMA).repartition(3)
    gaz, bl = Gazetteer.from_rows(builtin_gazetteer_rows()), builtin_blacklist_terms()
    out = fused_triples(df, gaz, bl, PipelineConfig())
    parts = out.rdd.getNumPartitions()
    n_rows = out.count()
    after = run_probe()
    frozen = {}
    for k in range(2, 21):
        assert fused_triples(df, gaz, bl, PipelineConfig()).count() == n_rows
        if k in (10, 20):
            frozen[k] = run_probe().frozen
    spark.range(4, numPartitions=1).mapInArrow(cycle_gen, "id long").collect()
    spark.range(4, numPartitions=1).select(cycle_plain("id")).collect()
    cycles = run_probe()
    print(json.dumps({"before": before.n, "after": after.n, "parts": parts,
                      "rows": n_rows, "frozen_after": after.frozen,
                      "frozen_10": frozen[10], "frozen_20": frozen[20],
                      "cycles": cycles.cycles, "cycles_alive": cycles.alive,
                      "pids": [before.pid, after.pid, cycles.pid]}))
    spark.stop()
    """
)


@pytest.fixture(scope="module")
def worker_probe():
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        [str(REPO)] + [p for p in [os.environ.get("PYTHONPATH")] if p]))
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT], cwd=REPO, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    assert got["parts"] >= 2 and got["rows"] > 0, got
    # one local[1] worker ran every probe and every task in between
    assert len(set(got["pids"])) == 1, got
    return got


def test_reused_worker_holds_no_zip_finder_after_a_kgpipe_task(worker_probe):
    got = worker_probe
    if got["before"] == 0:
        pytest.skip("this install loads pyspark without zip finders")
    assert got["after"] == 0, got


def test_reused_worker_heap_is_frozen_and_does_not_grow(worker_probe):
    got = worker_probe
    assert got["frozen_after"] > 0, got
    # the same build repeated: the broadcast, the memos and the modules are
    # already frozen, and nothing a build leaves behind joins them
    assert got["frozen_10"] == got["frozen_20"], got


def test_reused_worker_collects_cycles_its_bodies_drop(worker_probe):
    got = worker_probe
    # one cycle per mapInArrow batch and per pandas UDF batch
    assert got["cycles"] >= 2, got
    assert got["cycles_alive"] == 0, got


@pytest.fixture
def unfreeze():
    # worker_body freezes the calling process's heap; give it back to the
    # collector so this test process keeps collecting its own cycles
    yield
    gc.unfreeze()


def test_worker_body_drops_zip_finders_after_function_and_generator(unfreeze):
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


def test_worker_body_collects_a_dropped_cycle_then_freezes(unfreeze):
    class Node:
        pass

    refs = []

    def drop_a_cycle():
        node = Node()
        node.me = node
        refs.append(weakref.ref(node))

    @worker_body
    def plain(x):
        drop_a_cycle()
        return x

    @worker_body
    def gen(xs):
        drop_a_cycle()
        yield from xs

    gc.disable()  # no automatic collection may stand in for the body's
    try:
        assert plain(3) == 3
        assert refs[0]() is None and gc.get_freeze_count() > 0
        gc.unfreeze()
        assert list(gen([1, 2])) == [1, 2]
        assert refs[1]() is None and gc.get_freeze_count() > 0
    finally:
        gc.enable()
