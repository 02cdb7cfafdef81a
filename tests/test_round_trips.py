"""Spark driver round trips of plan assembly.

Every PySpark Column method and ``F.col`` call is a py4j command to the
Spark driver JVM, plus several more for call-site capture; a plan built from
per-field Column chains costs thousands of them before any job runs. The
structured build and the bucketed commit assemble their projections as SQL
expression text instead, one ``selectExpr`` / ``where`` / ``F.expr`` per
projection. These tests pin the command count per build (py4j memory
commands, ``m``, are left out: they follow Python's garbage collector, not
the plan), and that repeated builds with the same artifacts share one
gazetteer broadcast per path."""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import Observation
from pyspark.sql import functions as F

from kgpipe.config import PipelineConfig
from kgpipe.fixtures import synthetic_transcripts_df
from kgpipe.materialize import bucket_clustered
from kgpipe.pipeline import build_triples
from kgpipe.resources import Gazetteer, builtin_gazetteer_rows


@contextmanager
def gateway_commands(spark):
    """Counts the non-memory py4j commands the Spark driver sends in the
    block; yields a one-element list holding the count."""
    client = spark.sparkContext._gateway._gateway_client
    real = client.send_command
    n = [0]

    def counting(command, *args, **kwargs):
        n[0] += not command.startswith("m")
        return real(command, *args, **kwargs)

    client.send_command = counting
    try:
        yield n
    finally:
        client.send_command = real


def test_structured_build_round_trips(spark, gazetteer, blacklist):
    tr = synthetic_transcripts_df(spark, n_conv=6, turns_per_conv=5)
    cfg = PipelineConfig()
    # the first call in a process also pays one-off set-up (imports, UDF
    # registration); the budget is for every call after it
    build_triples(tr, gazetteer, blacklist, cfg, fused=False)
    with gateway_commands(spark) as n:
        build_triples(tr, gazetteer, blacklist, cfg, fused=False)
    assert n[0] <= 500, n[0]


def test_bucket_clustered_round_trips(spark, gazetteer, blacklist):
    from kgpipe.materialize import _RUN_METRICS

    tr = synthetic_transcripts_df(spark, n_conv=6, turns_per_conv=5)
    triples = build_triples(tr, gazetteer, blacklist, PipelineConfig(), fused=True)
    with gateway_commands(spark) as n:
        # the commit's shape in run_with_resume: lineage metrics and one
        # count per bucket, observed on the rebalanced frame
        bucket_clustered(
            triples, 16, Observation("round_trips"),
            metrics=[F.expr(m) for m in _RUN_METRICS], count_buckets=range(16),
        )
    assert n[0] <= 120, n[0]


def test_builds_with_the_same_artifacts_broadcast_once_per_path(
    spark, blacklist, monkeypatch
):
    sc = spark.sparkContext
    real, made = sc.broadcast, []

    def counting(value):
        made.append(value)
        return real(value)

    monkeypatch.setattr(sc, "broadcast", counting)
    tr = synthetic_transcripts_df(spark, n_conv=2, turns_per_conv=3)
    # a gazetteer no earlier build used, so the first build of each path misses
    gaz = Gazetteer.from_rows(builtin_gazetteer_rows())
    for fused in (True, False):
        for _ in range(3):
            # an equal config, not the same object, still shares the broadcast
            build_triples(tr, gaz, blacklist, PipelineConfig(), fused=fused)
        assert len(made) == 1 + (not fused), [len(v) for v in made]
    fused_value, structured_value = made
    assert fused_value[0] is gaz and len(fused_value) == 4  # with the screen
    assert structured_value[0] is gaz and len(structured_value) == 3
    # the key is the gazetteer object, not an equal copy
    build_triples(tr, Gazetteer.from_rows(builtin_gazetteer_rows()), blacklist,
                  PipelineConfig(), fused=True)
    assert len(made) == 3
