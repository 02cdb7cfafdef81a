"""The benchmark's own tests: deterministic generators, the documented
hit band, process-tree CPU accounting, metric names, and the output check
that ``failed_frac`` rests on.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

from perfbench import corpus, proctree, run, workloads


def test_same_seed_same_digest_other_seed_differs():
    a, b, c = (corpus.agent_corpus(300, s) for s in (7, 7, 8))
    assert corpus.digest(a) == corpus.digest(b) != corpus.digest(c)
    (e1, d1), (e2, d2), (e3, _) = (corpus.driver_tables(500, s) for s in (7, 7, 8))
    assert corpus.digest(e1) == corpus.digest(e2) != corpus.digest(e3)
    assert corpus.digest(d1) == corpus.digest(d2)


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_agent_hit_turn_frac_in_documented_band(seed):
    from kgpipe.annotate import annotate_turn
    from kgpipe.config import DEFAULT_CONFIG
    from kgpipe.resources import (
        Gazetteer, builtin_blacklist_terms, builtin_gazetteer_rows,
    )

    gaz = Gazetteer.from_rows(builtin_gazetteer_rows())
    bl = builtin_blacklist_terms()
    rows = corpus.agent_corpus(2000, seed).to_pylist()
    hits = sum(
        bool(annotate_turn(r["conv_id"], r["turn_idx"], r["text"], None, gaz, bl,
                           DEFAULT_CONFIG, with_timexes=False,
                           with_token_rows=False)[2])
        for r in rows
    )
    lo, hi = corpus.AGENT_HIT_BAND
    assert lo <= hits / len(rows) <= hi


def test_tree_cpu_counts_a_reaped_child():
    burn = "import time\nt=time.process_time()\nwhile time.process_time()-t<0.5: pass"
    before = proctree.tree_cpu_s()
    subprocess.run([sys.executable, "-c", burn], check=True)
    # the child is gone; its CPU now sits in this process's cutime/cstime
    assert proctree.tree_cpu_s() - before >= 0.45


def test_metric_names_and_units():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    metrics = spec["end_to_end"] + spec["per_layer"]
    names = [m["name"] for m in metrics]
    assert len(names) == len(set(names))
    for m in metrics:
        assert re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", m["name"]), m
        assert re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", m["unit"]), m
    assert {w["name"] for w in spec["workloads"]} == set(workloads.FUSED)
    ctx = workloads.Ctx(None, "", 0, 1, None, frozenset(), None, turns=1000)
    reps = [{"wall": 2.0, "cpu": 3.0, "bytes": 2**20}]
    assert set(run.end_to_end(ctx, reps, 1.0)) == {
        m["name"] for m in spec["end_to_end"]}


@pytest.fixture(scope="module")
def small_ctx(tmp_path_factory):
    from kgpipe.config import DEFAULT_CONFIG
    from kgpipe.resources import (
        Gazetteer, builtin_blacklist_terms, builtin_gazetteer_rows,
    )
    from perfbench import sparkenv

    work = str(tmp_path_factory.mktemp("perfbench"))
    sparkenv.export_repo_path()
    spark = sparkenv.start(work, 2, event_log=False)
    ctx = workloads.Ctx(spark, work, 5, 2, Gazetteer.from_rows(builtin_gazetteer_rows()),
                        builtin_blacklist_terms(), DEFAULT_CONFIG)
    workloads.write_inputs(ctx, "agent-sparse", corpus.agent_corpus(400, 5))
    yield ctx
    sparkenv.stop(spark)


def _corrupt_sampled_row(ctx, out):
    conv = workloads.sample_convs(ctx)[0][0]
    for base, _dirs, files in os.walk(os.path.join(out, "triples")):
        for f in files:
            path = os.path.join(base, f)
            if not f.endswith(".parquet"):
                continue
            table = pq.read_table(path)
            convs = table.column("conv_id").to_pylist()
            if conv in convs:
                i = convs.index(conv)
                objs = table.column("obj").to_pylist()
                objs[i] = "corrupted"
                table = table.set_column(table.schema.get_field_index("obj"), "obj",
                                         [objs])
                pq.write_table(table, path)
                crc = os.path.join(base, f".{f}.crc")
                if os.path.exists(crc):
                    os.remove(crc)  # the local filesystem would reject the edit
                return
    raise AssertionError(f"no stored row of {conv}")


def test_failed_frac_counts_a_corrupted_store_row(small_ctx, monkeypatch):
    reps, attempted, failed = run.timed_reps(small_ctx, "agent-sparse", 0)
    assert (attempted, failed) == (1, 0)

    clean = workloads.op

    def corrupting(ctx, name, out, tracer=None):
        clean(ctx, name, out, tracer)
        _corrupt_sampled_row(ctx, out)

    monkeypatch.setattr(workloads, "op", corrupting)
    reps, attempted, failed = run.timed_reps(small_ctx, "agent-sparse", 0)
    assert failed / attempted == 1.0
