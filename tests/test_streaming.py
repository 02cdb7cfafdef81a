"""Structured Streaming ingest: stream == batch on the same input, and the
checkpoint makes a second availableNow run process ONLY newly-landed files
(incremental exactly-once)."""

from __future__ import annotations

import os

from kgpipe.config import DEFAULT_CONFIG
from kgpipe.fixtures import synthetic_transcripts_df
from kgpipe.pipeline import build_triples
from kgpipe.schemas import TRIPLE_SCHEMA
from kgpipe.streaming import drain_parquet, stream_triples


def _rows(df):
    return sorted(map(tuple, df.select(*TRIPLE_SCHEMA.fieldNames()).collect()))


def test_stream_equals_batch_and_resumes(spark, gazetteer, blacklist, tmp_path):
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    batch1 = synthetic_transcripts_df(spark, n_conv=4, turns_per_conv=5, seed=1,
                                      hot_conv_factor=1)
    batch1.write.mode("append").parquet(in_dir)

    q = drain_parquet(
        stream_triples(spark, in_dir, gazetteer, blacklist, DEFAULT_CONFIG),
        out_dir, ckpt, timeout_sec=120.0,
    )
    assert not q.isActive
    got1 = _rows(spark.read.schema(TRIPLE_SCHEMA).parquet(out_dir))
    want1 = _rows(build_triples(batch1, gazetteer, blacklist, DEFAULT_CONFIG, fused=True))
    assert got1 == want1 and len(got1) > 0

    # land a second batch of files; rerun with the same checkpoint: only the
    # new files are processed, output becomes the union (no duplicates)
    batch2 = synthetic_transcripts_df(spark, n_conv=3, turns_per_conv=4, seed=2,
                                      hot_conv_factor=1)
    # distinct conv ids so union counting is unambiguous
    from pyspark.sql import functions as F

    batch2 = batch2.withColumn("conv_id", F.concat(F.lit("b2-"), "conv_id"))
    batch2.write.mode("append").parquet(in_dir)

    q2 = drain_parquet(
        stream_triples(spark, in_dir, gazetteer, blacklist, DEFAULT_CONFIG),
        out_dir, ckpt, timeout_sec=120.0,
    )
    assert not q2.isActive
    got2 = _rows(spark.read.schema(TRIPLE_SCHEMA).parquet(out_dir))
    want2 = sorted(
        want1
        + _rows(build_triples(batch2, gazetteer, blacklist, DEFAULT_CONFIG, fused=True))
    )
    assert got2 == want2
    assert os.path.isdir(ckpt)


def test_drain_timeout_stops_query_and_rerun_is_exactly_once(
    spark, gazetteer, blacklist, tmp_path
):
    """A drain that outlives its budget stops its query and raises instead
    of returning while the query runs; a rerun on the same checkpoint then
    writes the batch output exactly once (nothing the stopped query left
    behind is visible)."""
    import pytest

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    t = synthetic_transcripts_df(spark, n_conv=3, turns_per_conv=4, seed=5,
                                 hot_conv_factor=1)
    t.write.mode("append").parquet(in_dir)

    def triples():
        return stream_triples(spark, in_dir, gazetteer, blacklist, DEFAULT_CONFIG)

    with pytest.raises(TimeoutError):
        drain_parquet(triples(), out_dir, ckpt, timeout_sec=0.01)
    assert spark.streams.active == []

    q = drain_parquet(triples(), out_dir, ckpt, timeout_sec=120.0)
    assert not q.isActive
    got = _rows(spark.read.schema(TRIPLE_SCHEMA).parquet(out_dir))
    want = _rows(build_triples(t, gazetteer, blacklist, DEFAULT_CONFIG, fused=True))
    assert got == want and got


def test_stateful_conversation_state_across_batches(spark, tmp_path):
    """applyInPandasWithState: state carries across micro-batches; the final
    snapshot per conversation equals the batch aggregate over all input."""
    from pyspark.sql import functions as F

    from kgpipe.streaming import stateful_conversation_stats

    in_dir = str(tmp_path / "sin")
    out_dir = str(tmp_path / "sout")
    ckpt = str(tmp_path / "sckpt")
    t = synthetic_transcripts_df(spark, n_conv=5, turns_per_conv=6, seed=3,
                                 hot_conv_factor=1)
    # 4 input files + maxFilesPerTrigger=1 -> 4 micro-batches
    t.repartition(4).write.mode("append").parquet(in_dir)

    q = drain_parquet(
        stateful_conversation_stats(spark, in_dir, max_files_per_trigger=1),
        out_dir, ckpt, timeout_sec=180.0,
    )
    assert not q.isActive
    snaps = spark.read.parquet(out_dir)
    n_convs = t.select("conv_id").distinct().count()
    # cumulative snapshots from >1 batch: more rows than conversations
    assert snaps.count() > n_convs

    from pyspark.sql import Window
    w = Window.partitionBy("conv_id").orderBy(F.col("n_turns").desc())
    final = (
        snaps.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("conv_id", "n_turns", "n_roles", "first_date", "last_date",
                "total_chars")
    )
    want = t.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.countDistinct("role").cast("int").alias("n_roles"),
        F.min(F.to_date("ts")).alias("first_date"),
        F.max(F.to_date("ts")).alias("last_date"),
        F.sum(F.length("text")).alias("total_chars"),
    )
    got_rows = sorted(map(tuple, final.collect()))
    want_rows = sorted(map(tuple, want.collect()))
    assert got_rows == want_rows


def test_watermarked_window_finalize_and_late_drop(spark, tmp_path):
    """Watermarked tumbling-window agg: windows finalize (emit) only after
    the watermark passes window.end; rows later than the watermark are
    dropped by the state operator."""
    import datetime as _dt

    from kgpipe.streaming import windowed_turn_counts

    in_dir = str(tmp_path / "win")
    out_dir = str(tmp_path / "wout")
    ckpt = str(tmp_path / "wckpt")
    day = lambda d, h=0: _dt.datetime(2021, 1, d, h)
    schema = ("conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")

    def land(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)

    # batch 1: 3 turns on day 1, 2 turns on day 2 — nothing can finalize yet
    land([("c1", i, "user", "x", None, day(1, h)) for i, h in
          enumerate((1, 2, 3))] +
         [("c1", 3, "user", "x", None, day(2, 4)),
          ("c1", 4, "user", "x", None, day(2, 5))])
    drain_parquet(windowed_turn_counts(spark, in_dir), out_dir, ckpt,
                  timeout_sec=120.0)

    # batch 2: one row far in the future pushes the watermark past both
    # windows' ends -> they finalize and emit
    land([("c9", 0, "user", "x", None, day(30))])
    drain_parquet(windowed_turn_counts(spark, in_dir), out_dir, ckpt,
                  timeout_sec=120.0)
    got = {
        (r.window_start, r.conv_id): r.n_turns
        for r in spark.read.parquet(out_dir).collect()
    }
    assert got == {(day(1), "c1"): 3, (day(2), "c1"): 2}

    # batch 3: a row on day 1 is now far older than the watermark (~day 28)
    # -> dropped by the state operator, output unchanged
    land([("c1", 9, "user", "x", None, day(1, 6))])
    q = drain_parquet(windowed_turn_counts(spark, in_dir), out_dir, ckpt,
                      timeout_sec=120.0)
    dropped = sum(
        op["numRowsDroppedByWatermark"]
        for op in (q.lastProgress or {}).get("stateOperators", [])
    )
    assert dropped == 1
    got2 = {
        (r.window_start, r.conv_id): r.n_turns
        for r in spark.read.parquet(out_dir).collect()
    }
    assert got2 == got


def test_stream_stream_join_equals_batch(spark, tmp_path):
    """Stream-stream interval join (user turn -> assistant responses within
    12h): the drained availableNow output equals the batch join exactly,
    across multiple micro-batches."""
    from pyspark.sql import functions as F

    from kgpipe.streaming import prompt_response_pairs

    in_dir = str(tmp_path / "jin")
    out_dir = str(tmp_path / "jout")
    ckpt = str(tmp_path / "jckpt")
    t = synthetic_transcripts_df(spark, n_conv=6, turns_per_conv=8, seed=11,
                                 hot_conv_factor=1)
    t.repartition(3).write.mode("append").parquet(in_dir)

    # equality needs a watermark covering the corpus's event-time span:
    # the synthetic corpus spans ~300 days and file batches are NOT
    # time-ordered, so a tight watermark legitimately drops late rows
    # (asserted separately below)
    q = drain_parquet(
        prompt_response_pairs(spark, in_dir, watermark="400 days",
                              max_files_per_trigger=1),
        out_dir, ckpt, timeout_sec=180.0,
    )
    assert not q.isActive
    got = spark.read.parquet(out_dir)

    u = t.where((F.col("role") == "user") & F.col("ts").isNotNull()).select(
        F.col("conv_id"), F.col("turn_idx").alias("user_turn"),
        F.col("ts").alias("user_ts"))
    a = t.where((F.col("role") == "assistant") & F.col("ts").isNotNull()).select(
        F.col("conv_id").alias("a_conv"), F.col("turn_idx").alias("assistant_turn"),
        F.col("ts").alias("assistant_ts"))
    want = u.join(
        a,
        (F.col("conv_id") == F.col("a_conv"))
        & (F.col("assistant_ts") >= F.col("user_ts"))
        & (F.col("assistant_ts") <= F.col("user_ts") + F.expr("interval 12 hours")),
    ).select(
        "conv_id", "user_turn", "assistant_turn", "user_ts", "assistant_ts",
        ((F.unix_timestamp("assistant_ts") - F.unix_timestamp("user_ts")) / 60)
        .cast("bigint").alias("gap_minutes"),
    )
    cols = ["conv_id", "user_turn", "assistant_turn"]
    g = sorted(map(tuple, got.select(*cols).collect()))
    w = sorted(map(tuple, want.select(*cols).collect()))
    assert g == w and len(g) > 0

    # tight watermark on a CONSTRUCTED sequence (corpus-independent): once
    # the watermark passes a day, that day's join state is evicted and a
    # late pair that batch mode would match is dropped instead of emitted
    import datetime as _dt

    in2 = str(tmp_path / "jin2")
    out2, ckpt2 = str(tmp_path / "jout2"), str(tmp_path / "jckpt2")
    day = lambda d, h=0: _dt.datetime(2021, 1, d, h)
    schema = ("conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")

    def land(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(in2)

    # batch 1: an in-window pair on day 1 -> emitted
    land([("c1", 0, "user", "q", None, day(1, 1)),
          ("c1", 1, "assistant", "a", None, day(1, 2))])
    drain_parquet(
        prompt_response_pairs(spark, in2, watermark="1 day",
                              max_files_per_trigger=1),
        out2, ckpt2, timeout_sec=180.0,
    )
    # batch 2: far-future rows advance the watermark past day 1 on BOTH
    # sides (the join watermark is the min over the two role-filtered
    # inputs); different conv_ids so they add no pair themselves
    land([("c8", 0, "user", "z", None, day(30)),
          ("c9", 1, "assistant", "z", None, day(30))])
    drain_parquet(
        prompt_response_pairs(spark, in2, watermark="1 day",
                              max_files_per_trigger=1),
        out2, ckpt2, timeout_sec=180.0,
    )
    # batch 3: a day-1 pair that batch mode would match -> late, dropped
    land([("c1", 2, "user", "q2", None, day(1, 3)),
          ("c1", 3, "assistant", "a2", None, day(1, 4))])
    q2 = drain_parquet(
        prompt_response_pairs(spark, in2, watermark="1 day",
                              max_files_per_trigger=1),
        out2, ckpt2, timeout_sec=180.0,
    )
    g2 = sorted(map(tuple, spark.read.parquet(out2).select(*cols).collect()))
    assert g2 == [("c1", 0, 1)]
    dropped = sum(
        op["numRowsDroppedByWatermark"]
        for op in (q2.lastProgress or {}).get("stateOperators", [])
    )
    assert dropped == 2


def test_stream_dedup_cross_batch_and_eviction(spark, tmp_path):
    """dropDuplicatesWithinWatermark: a redelivery landing in a LATER
    micro-batch is dropped by the dedup state; keys older than the
    watermark are evicted (redelivery past the watermark is late-dropped,
    not re-emitted)."""
    import datetime as _dt

    from kgpipe.streaming import dedup_turns

    in_dir = str(tmp_path / "dd")
    out_dir = str(tmp_path / "ddout")
    ckpt = str(tmp_path / "ddckpt")
    day = lambda d, h=0: _dt.datetime(2021, 1, d, h)
    schema = ("conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")

    def land(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)

    # file 1: three distinct turns (one internal duplicate pair)
    land([("c1", 0, "user", "a", None, day(1)),
          ("c1", 0, "user", "a", None, day(1)),      # same-batch duplicate
          ("c1", 1, "user", "b", None, day(1, 2)),
          ("c2", 0, "user", "c", None, day(1, 3))])
    # file 2: redelivery of (c1, 1) within the watermark + one new turn
    land([("c1", 1, "user", "b", None, day(1, 2)),   # cross-batch duplicate
          ("c2", 1, "user", "d", None, day(1, 4))])
    drain_parquet(
        dedup_turns(spark, in_dir, watermark="1 day", max_files_per_trigger=1),
        out_dir, ckpt, timeout_sec=120.0,
    )
    got = sorted(
        (r.conv_id, r.turn_idx) for r in spark.read.parquet(out_dir).collect()
    )
    assert got == [("c1", 0), ("c1", 1), ("c2", 0), ("c2", 1)]

    # file 3: a far-future row advances the watermark past day 1, then a
    # redelivery of (c1, 0) is LATE (its state was evicted) -> the
    # operator drops it as late data rather than re-emitting it
    land([("c9", 0, "user", "z", None, day(30))])
    drain_parquet(
        dedup_turns(spark, in_dir, watermark="1 day", max_files_per_trigger=1),
        out_dir, ckpt, timeout_sec=120.0,
    )
    land([("c1", 0, "user", "a", None, day(1))])
    q = drain_parquet(
        dedup_turns(spark, in_dir, watermark="1 day", max_files_per_trigger=1),
        out_dir, ckpt, timeout_sec=120.0,
    )
    dropped = sum(
        op["numRowsDroppedByWatermark"]
        for op in (q.lastProgress or {}).get("stateOperators", [])
    )
    assert dropped == 1
    counts = (
        spark.read.parquet(out_dir).groupBy("conv_id", "turn_idx").count()
    )
    assert counts.where("count > 1").count() == 0  # still exactly-once


def test_stream_static_enrichment_equals_batch(spark, tmp_path):
    """Stream-static join: per micro-batch join against a static dim —
    drained output equals the batch join exactly, across multiple
    micro-batches."""
    from pyspark.sql import functions as F

    from kgpipe.streaming import enriched_turns

    in_dir = str(tmp_path / "ein")
    out_dir = str(tmp_path / "eout")
    ckpt = str(tmp_path / "eckpt")
    t = synthetic_transcripts_df(spark, n_conv=5, turns_per_conv=6, seed=9,
                                 hot_conv_factor=1)
    t.repartition(3).write.mode("append").parquet(in_dir)
    static = spark.read.parquet(in_dir)
    dim = static.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("conv_total_turns")
    )
    drain_parquet(
        enriched_turns(spark, in_dir, dim, max_files_per_trigger=1),
        out_dir, ckpt, timeout_sec=120.0,
    )
    got = sorted(
        (r.conv_id, r.turn_idx, r.conv_total_turns)
        for r in spark.read.parquet(out_dir).collect()
    )
    want = sorted(
        (r.conv_id, r.turn_idx, r.conv_total_turns)
        for r in static.join(dim, "conv_id").collect()
    )
    assert got == want and len(got) == 30


def test_incremental_materialize_lineage_and_restart(
    spark, gazetteer, blacklist, tmp_path
):
    """Shape 7: foreachBatch into the bucketed store. Final triples equal
    the batch build, lineage carries one snapshot id per micro-batch, a
    checkpointed re-run adds nothing, and the lineage gate makes a
    redelivered batch a no-op."""
    from pyspark.sql import functions as F

    from kgpipe.streaming import run_incremental_materialize

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    t = synthetic_transcripts_df(spark, n_conv=4, turns_per_conv=5, seed=3,
                                 hot_conv_factor=1)
    # two input files -> maxFilesPerTrigger=1 forces >= 2 micro-batches
    half_a = t.where(F.col("conv_id") < "conv0002")
    half_b = t.where(F.col("conv_id") >= "conv0002")
    half_a.coalesce(1).write.mode("append").parquet(in_dir)
    half_b.coalesce(1).write.mode("append").parquet(in_dir)

    q = run_incremental_materialize(
        spark, in_dir, out_dir, ckpt, gazetteer, blacklist, DEFAULT_CONFIG,
        n_buckets=4, max_files_per_trigger=1, timeout_sec=180.0,
    )
    assert not q.isActive

    stored = spark.read.parquet(f"{out_dir}/triples")
    got = _rows(stored.drop("bucket", "source_snapshot_id"))
    want = _rows(build_triples(t, gazetteer, blacklist, DEFAULT_CONFIG, fused=True))
    assert got == want and got

    lineage = spark.read.parquet(f"{out_dir}/lineage")
    sids = {r.source_snapshot_id for r in lineage.select("source_snapshot_id").distinct().collect()}
    assert len(sids) >= 2  # one per micro-batch
    # lineage counts reconcile with the store, per (snapshot, bucket)
    lin_total = lineage.agg(F.sum("triple_count")).first()[0]
    assert lin_total == stored.count()
    # (snapshot, bucket) partitions the store on disk: sid dirs at the top,
    # bucket dirs inside each — the unit a redelivered batch overwrites
    import os

    sid_dirs = [d for d in os.listdir(f"{out_dir}/triples")
                if d.startswith("source_snapshot_id=")]
    assert len(sid_dirs) >= 2
    assert any(
        d.startswith("bucket=")
        for d in os.listdir(f"{out_dir}/triples/{sid_dirs[0]}")
    )

    # restart on the same checkpoint with no new input: nothing appended
    q2 = run_incremental_materialize(
        spark, in_dir, out_dir, ckpt, gazetteer, blacklist, DEFAULT_CONFIG,
        n_buckets=4, max_files_per_trigger=1, timeout_sec=180.0,
    )
    assert not q2.isActive
    assert _rows(
        spark.read.parquet(f"{out_dir}/triples").drop("bucket", "source_snapshot_id")
    ) == want

    # redelivery guard: a fresh checkpoint re-delivers the same batches;
    # the lineage gate must turn them into no-ops (store unchanged)
    ckpt2 = str(tmp_path / "ckpt2")
    # same batch ids (0, 1) and same content -> same source_snapshot_ids
    q3 = run_incremental_materialize(
        spark, in_dir, out_dir, ckpt2, gazetteer, blacklist, DEFAULT_CONFIG,
        n_buckets=4, max_files_per_trigger=1, timeout_sec=180.0,
    )
    assert not q3.isActive
    assert _rows(
        spark.read.parquet(f"{out_dir}/triples").drop("bucket", "source_snapshot_id")
    ) == want


def test_incremental_materialize_crash_window_exactly_once(
    spark, gazetteer, blacklist, tmp_path
):
    """The crash window inside foreachBatch (triples written, lineage/
    checkpoint commit lost): the redelivered batch must OVERWRITE its own
    source_snapshot_id partition, not append a second copy — exactly-once
    on triples, not just on lineage."""
    from pyspark.sql import functions as F

    from kgpipe.streaming import run_incremental_materialize

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")

    t = synthetic_transcripts_df(spark, n_conv=3, turns_per_conv=4, seed=7,
                                 hot_conv_factor=1)
    t.coalesce(1).write.mode("overwrite").parquet(in_dir)
    want_df = build_triples(t, gazetteer, blacklist, DEFAULT_CONFIG, fused=True)
    want = _rows(want_df)

    # simulate the crash: batch 0's triples (here: a garbage partial subset)
    # are on disk under its sid partition, but NO lineage row and NO
    # checkpoint commit exist for it
    partial = (
        want_df.limit(3)
        .withColumn("bucket", F.lit(0))
        .withColumn("source_snapshot_id", F.lit("stream-batch-0"))
    )
    partial.write.partitionBy("source_snapshot_id", "bucket").parquet(
        f"{out_dir}/triples"
    )

    q = run_incremental_materialize(
        spark, in_dir, out_dir, str(tmp_path / "ckpt"), gazetteer, blacklist,
        DEFAULT_CONFIG, n_buckets=4, timeout_sec=180.0,
    )
    assert not q.isActive
    stored = spark.read.parquet(f"{out_dir}/triples")
    # partial rows replaced, full batch present exactly once
    assert _rows(stored.drop("bucket", "source_snapshot_id")) == want
    lineage = spark.read.parquet(f"{out_dir}/lineage")
    assert lineage.agg(F.sum("triple_count")).first()[0] == stored.count()
