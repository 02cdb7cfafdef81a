"""Bucketed materialization, lineage, checkpoint-resume (A6, north_star)."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from kgpipe.config import PipelineConfig
from kgpipe.fixtures import synthetic_transcripts_df
from kgpipe.materialize import (
    TableSink,
    completed_buckets,
    iceberg_available,
    run_with_resume,
    with_bucket,
)
from kgpipe.pipeline import build_triples

KEY = ["subj", "pred", "obj", "conv_id", "turn_idx"]


def _sorted(pdf):
    return pdf[KEY].fillna("_").sort_values(KEY).reset_index(drop=True)


def test_resume_produces_identical_output(spark, gazetteer, blacklist, tmp_path):
    """Kill-after-K-partitions simulation: partial run + resume ==
    single-shot run, and a third run is a no-op (SURVEY.md §5 resume test)."""
    cfg = PipelineConfig()
    tr = synthetic_transcripts_df(spark, n_conv=12, turns_per_conv=4, hot_conv_factor=2)
    fn = lambda df: build_triples(df, gazetteer, blacklist, cfg, fused=True)

    out = str(tmp_path / "kg")
    r1 = run_with_resume(spark, tr, out, fn, run_id="r1", source_snapshot_id="s1",
                         n_buckets=8, only_buckets=[0, 1, 2])
    assert set(r1["written_buckets"]) <= {0, 1, 2}
    r2 = run_with_resume(spark, tr, out, fn, run_id="r2", source_snapshot_id="s1", n_buckets=8)
    assert set(r1["written_buckets"]).isdisjoint(r2["written_buckets"])
    r3 = run_with_resume(spark, tr, out, fn, run_id="r3", source_snapshot_id="s1", n_buckets=8)
    assert r3["written_buckets"] == []

    materialized = spark.read.parquet(os.path.join(out, "triples")).toPandas()
    direct = build_triples(tr, gazetteer, blacklist, cfg, fused=True).toPandas()
    assert _sorted(materialized).equals(_sorted(direct))


def test_lineage_rows_and_counts(spark, gazetteer, blacklist, tmp_path):
    """On both builds, a multi-partition input commits one parquet file per
    bucket, and the per-bucket counts observed during the write equal a
    read-back count."""
    cfg = PipelineConfig()
    tr = synthetic_transcripts_df(
        spark, n_conv=6, turns_per_conv=3, hot_conv_factor=1
    ).repartition(6)
    for fused in (True, False):
        out = str(tmp_path / f"kg2_fused{fused}")
        run_with_resume(
            spark, tr, out,
            lambda df: build_triples(df, gazetteer, blacklist, cfg, fused=fused),
            run_id="rA", source_snapshot_id="sA", n_buckets=4,
        )
        bucket_dirs = glob.glob(os.path.join(out, "triples", "bucket=*"))
        assert bucket_dirs
        for d in bucket_dirs:
            assert len(glob.glob(os.path.join(d, "*.parquet"))) == 1, d
        # the commit's lineage rows land in one file too
        assert len(glob.glob(os.path.join(out, "lineage", "*.parquet"))) == 1
        lineage = spark.read.parquet(os.path.join(out, "lineage")).toPandas()
        assert sorted(lineage.partition_hash) == [0, 1, 2, 3]
        triples = spark.read.parquet(os.path.join(out, "triples"))
        per_bucket = {
            r.bucket: r.cnt
            for r in triples.groupBy("bucket").agg(F.count("*").alias("cnt")).collect()
        }
        total = triples.count()
        for _, row in lineage.iterrows():
            assert row.run_id == "rA" and row.source_snapshot_id == "sA"
            assert per_bucket.get(row.partition_hash, 0) == row.triple_count
            # observed metrics (computed inline during the write) land in
            # lineage; the per-bucket counts stay out of stage_timings
            assert set(row.stage_timings) == {
                "plan_sec", "build_and_write_sec", "n_triples", "n_tlink",
                "n_entity", "n_convs_approx",
            }
            # planning is the Spark driver's part of the same pass
            assert 0 < row.stage_timings["plan_sec"] < row.stage_timings["build_and_write_sec"]
            assert row.stage_timings["n_triples"] == total
        sink = TableSink(spark, out_dir=out)
        assert completed_buckets(sink, "sA") == set(lineage.partition_hash)
        # a different snapshot id sees nothing completed
        assert completed_buckets(sink, "sB") == set()


def test_lineage_counts_only_own_snapshot(spark, gazetteer, blacklist, tmp_path):
    """A second source snapshot committed into the same store records the
    rows it wrote, not the earlier snapshot's rows in the same buckets."""
    cfg = PipelineConfig()
    tr = synthetic_transcripts_df(spark, n_conv=8, turns_per_conv=3, hot_conv_factor=1)
    fn = lambda df: build_triples(df, gazetteer, blacklist, cfg, fused=True)
    out = str(tmp_path / "kg_two_snapshots")
    for sid in ("s1", "s2"):
        run_with_resume(spark, tr, out, fn, run_id=f"r_{sid}",
                        source_snapshot_id=sid, n_buckets=4)
    sums = {
        r.source_snapshot_id: r.n
        for r in spark.read.parquet(os.path.join(out, "lineage"))
        .groupBy("source_snapshot_id")
        .agg(F.sum("triple_count").alias("n"))
        .collect()
    }
    want = fn(tr).count()
    assert sums == {"s1": want, "s2": want}


def test_bucket_assignment_is_conv_stable(spark):
    tr = synthetic_transcripts_df(spark, n_conv=5, turns_per_conv=3, hot_conv_factor=1)
    b = with_bucket(tr, 8).select("conv_id", "bucket").distinct().toPandas()
    assert b.groupby("conv_id").bucket.nunique().max() == 1


def test_iceberg_write_to_branch(spark, gazetteer, blacklist, tmp_path):
    """The promised catalog switch: when the Iceberg runtime is on the
    classpath, run_with_resume writes via writeTo() to {prefix}_triples /
    {prefix}_lineage and resume behaves identically to the parquet branch.
    Skipped (honestly) when the runtime jar is absent from the container."""
    if not iceberg_available(spark):
        import pytest

        pytest.skip("Iceberg Spark runtime not on classpath")
    spark.conf.set("spark.sql.catalog.kgtest", "org.apache.iceberg.spark.SparkCatalog")
    spark.conf.set("spark.sql.catalog.kgtest.type", "hadoop")
    spark.conf.set("spark.sql.catalog.kgtest.warehouse", str(tmp_path / "wh"))
    cfg = PipelineConfig()
    tr = synthetic_transcripts_df(spark, n_conv=4, turns_per_conv=3, hot_conv_factor=1)
    fn = lambda df: build_triples(df, gazetteer, blacklist, cfg, fused=True)
    prefix = "kgtest.db.kg"
    r1 = run_with_resume(spark, tr, None, fn, run_id="r1", source_snapshot_id="s1",
                         n_buckets=4, only_buckets=[0, 1], table_prefix=prefix)
    r2 = run_with_resume(spark, tr, None, fn, run_id="r2", source_snapshot_id="s1",
                         n_buckets=4, table_prefix=prefix)
    assert set(r1["written_buckets"]) == {0, 1}
    assert set(r2["written_buckets"]) == {2, 3}
    assert set(r2["skipped_buckets"]) == {0, 1}
    direct = fn(tr).toPandas()
    got = spark.read.table(f"{prefix}_triples").drop("bucket").toPandas()
    assert _sorted(got).equals(_sorted(direct))


def test_table_sink_fallback_requires_out_dir(spark):
    """table_prefix without the Iceberg runtime and without an out_dir is a
    loud error, not a silent parquet write to nowhere."""
    if iceberg_available(spark):
        import pytest

        pytest.skip("runtime present: fallback path not reachable")
    import pytest

    with pytest.raises(ValueError):
        TableSink(spark, out_dir=None, table_prefix="cat.db.kg")


def test_triple_delta_multiset_semantics(spark):
    from kgpipe.materialize import triple_delta

    schema = "subj string, pred string, obj string, conv_id string, turn_idx int"
    old = spark.createDataFrame(
        [
            ("a", "p", "x", "c1", 0),               # unchanged
            ("b", "p", "x", "c1", 1),               # removed
            ("d", "p", "x", "c1", 3),               # count 2 -> 1
            ("d", "p", "x", "c1", 3),
        ],
        schema,
    )
    new = spark.createDataFrame(
        [
            ("a", "p", "x", "c1", 0),               # unchanged
            ("c", "p", "x", "c1", 2),               # added
            ("d", "p", "x", "c1", 3),               # count 2 -> 1
        ],
        schema,
    )
    got = {r.subj: (r.n_old, r.n_new, r.change) for r in triple_delta(old, new).collect()}
    assert got == {
        "b": (1, 0, "removed"),
        "c": (0, 1, "added"),
        "d": (2, 1, "count_changed"),
    }


# ------------------------------------------------------------ compaction ---


def _incr_store(spark, gazetteer, blacklist, tmp_path, tag):
    """Build a small sid-partitioned streaming store with >=2 micro-batches;
    returns (out_dir, expected sorted triples)."""
    from kgpipe.streaming import run_incremental_materialize
    from kgpipe.config import DEFAULT_CONFIG

    in_dir = str(tmp_path / f"in_{tag}")
    out_dir = str(tmp_path / f"out_{tag}")
    t = synthetic_transcripts_df(spark, n_conv=4, turns_per_conv=4, seed=11,
                                 hot_conv_factor=1)
    a = t.where(F.col("conv_id") < "conv0002")
    b = t.where(F.col("conv_id") >= "conv0002")
    a.coalesce(1).write.mode("append").parquet(in_dir)
    b.coalesce(1).write.mode("append").parquet(in_dir)
    run_incremental_materialize(
        spark, in_dir, out_dir, str(tmp_path / f"ckpt_{tag}"), gazetteer,
        blacklist, DEFAULT_CONFIG, n_buckets=4, max_files_per_trigger=1,
        timeout_sec=180.0,
    )
    want = _sorted(
        build_triples(t, gazetteer, blacklist, PipelineConfig(), fused=True)
        .toPandas()
    )
    return out_dir, want


def _visible(spark, sink):
    from kgpipe.materialize import read_triples

    return _sorted(read_triples(sink).toPandas())


def test_compact_snapshots_folds_store(spark, gazetteer, blacklist, tmp_path):
    """Compaction folds the per-micro-batch snapshot partitions into one,
    the visible data is unchanged, the source dirs are gone, and a second
    compaction is a no-op."""
    from kgpipe.materialize import compact_snapshots, read_triples

    out_dir, want = _incr_store(spark, gazetteer, blacklist, tmp_path, "a")
    sink = TableSink(spark, out_dir=out_dir, table_prefix=None)

    before_dirs = {d for d in os.listdir(f"{out_dir}/triples")
                   if d.startswith("source_snapshot_id=")}
    assert len(before_dirs) >= 2
    assert _visible(spark, sink).equals(want)

    res = compact_snapshots(sink)
    assert res["target_sid"] == "compact-0"
    assert sorted(res["source_sids"]) == sorted(
        d.split("=", 1)[1] for d in before_dirs
    )
    # data unchanged through the reader
    assert _visible(spark, sink).equals(want)
    # exactly one snapshot dir remains, and it's the target
    after_dirs = {d for d in os.listdir(f"{out_dir}/triples")
                  if d.startswith("source_snapshot_id=")}
    assert after_dirs == {"source_snapshot_id=compact-0"}
    # bucket sub-partitioning survives compaction
    assert any(
        d.startswith("bucket=")
        for d in os.listdir(f"{out_dir}/triples/source_snapshot_id=compact-0")
    )
    # second compaction: single visible snapshot -> no-op
    res2 = compact_snapshots(sink)
    assert res2["target_sid"] is None
    assert _visible(spark, sink).equals(want)


def test_compact_crash_before_manifest_is_invisible(
    spark, gazetteer, blacklist, tmp_path
):
    """Crash window 1: target partition written, manifest NOT committed.
    The reader must hide the half-written target and show the sources;
    re-running compaction converges."""
    from kgpipe.materialize import compact_snapshots, read_triples

    out_dir, want = _incr_store(spark, gazetteer, blacklist, tmp_path, "b")
    sink = TableSink(spark, out_dir=out_dir, table_prefix=None)

    # simulate: write a garbage partial target, no manifest
    partial = (
        sink.read("triples").limit(5)
        .withColumn("source_snapshot_id", F.lit("compact-0"))
    )
    sink.replace_snapshot("triples", partial, "compact-0")
    assert _visible(spark, sink).equals(want)  # target invisible

    res = compact_snapshots(sink)  # re-run: same gen -> same target name
    assert res["target_sid"] == "compact-0"
    assert _visible(spark, sink).equals(want)


def test_compact_crash_before_cleanup_hides_sources(
    spark, gazetteer, blacklist, tmp_path
):
    """Crash window 2: manifest committed, source dirs not yet deleted.
    The reader must hide the superseded sources (no duplicates);
    cleanup_compacted finishes the job."""
    import datetime as dt

    from kgpipe.materialize import (
        _compactions_schema, cleanup_compacted, read_triples,
    )

    out_dir, want = _incr_store(spark, gazetteer, blacklist, tmp_path, "c")
    sink = TableSink(spark, out_dir=out_dir, table_prefix=None)
    store = sink.read("triples")
    sids = sorted(
        r.source_snapshot_id
        for r in store.select("source_snapshot_id").distinct().collect()
    )
    # simulate the committed-but-uncleaned state: full target + manifest,
    # sources still on disk
    target_rows = store.where(
        F.col("source_snapshot_id").isin(sids)
    ).withColumn("source_snapshot_id", F.lit("compact-0")).persist()
    target_rows.count()
    sink.replace_snapshot("triples", target_rows, "compact-0")
    target_rows.unpersist()
    now = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
    sink.append(
        "compactions",
        spark.createDataFrame([("compact-0", s, now) for s in sids],
                              _compactions_schema()),
        partitioned=False,
    )
    # duplicates on disk, but the reader sees exactly-once
    assert _visible(spark, sink).equals(want)
    # re-running the maintenance verb finishes the crashed run's cleanup
    # (compact_snapshots runs cleanup_compacted first, then no-ops: no
    # live stream batches remain to fold)
    from kgpipe.materialize import compact_snapshots

    res = compact_snapshots(sink)
    assert res["target_sid"] is None
    assert _visible(spark, sink).equals(want)
    after = {d for d in os.listdir(f"{out_dir}/triples")
             if d.startswith("source_snapshot_id=")}
    assert after == {"source_snapshot_id=compact-0"}
    # direct cleanup remains an idempotent no-op afterwards
    assert cleanup_compacted(sink) == []


def test_compact_generations_are_incremental(
    spark, gazetteer, blacklist, tmp_path
):
    """Each compaction folds ONLY the live stream batches; committed
    targets stay in place (O(new data) per run, not O(store)). A second
    round of batches lands in compact-1 next to compact-0."""
    from kgpipe.config import DEFAULT_CONFIG
    from kgpipe.materialize import compact_snapshots
    from kgpipe.streaming import run_incremental_materialize

    out_dir, want1 = _incr_store(spark, gazetteer, blacklist, tmp_path, "g")
    sink = TableSink(spark, out_dir=out_dir, table_prefix=None)
    r1 = compact_snapshots(sink)
    assert r1["target_sid"] == "compact-0"

    # second wave of input: two more files into the SAME input dir,
    # resumed on the SAME checkpoint (snapshot ids are checkpoint-scoped:
    # the continued stream numbers the new files as batches 2, 3)
    t2 = synthetic_transcripts_df(spark, n_conv=4, turns_per_conv=4, seed=23,
                                  hot_conv_factor=1).withColumn(
        "conv_id", F.concat(F.lit("w2"), F.col("conv_id")))
    in_dir = str(tmp_path / "in_g")
    a = t2.where(F.col("conv_id") < "w2conv0002")
    b = t2.where(F.col("conv_id") >= "w2conv0002")
    a.coalesce(1).write.mode("append").parquet(in_dir)
    b.coalesce(1).write.mode("append").parquet(in_dir)
    run_incremental_materialize(
        spark, in_dir, out_dir, str(tmp_path / "ckpt_g"), gazetteer,
        blacklist, DEFAULT_CONFIG, n_buckets=4, max_files_per_trigger=1,
        timeout_sec=180.0,
    )
    r2 = compact_snapshots(sink)
    assert r2["target_sid"] == "compact-1"
    assert all(s.startswith("stream-batch-") for s in r2["source_sids"])
    dirs = {d for d in os.listdir(f"{out_dir}/triples")
            if d.startswith("source_snapshot_id=")}
    assert dirs == {"source_snapshot_id=compact-0",
                    "source_snapshot_id=compact-1"}
    want2 = _sorted(
        build_triples(t2, gazetteer, blacklist, PipelineConfig(), fused=True)
        .toPandas()
    )
    import pandas as pd

    both = _sorted(pd.concat([want1, want2], ignore_index=True))
    assert _visible(spark, sink).equals(both)


def test_compact_target_name_validation(spark, gazetteer, blacklist, tmp_path):
    """A custom target must carry the compact- prefix (the reader's
    visibility rule is keyed on it) and must not collide with a committed
    generation; a bad prefix fails on the FIRST call even when the store
    has nothing to fold yet, and a committed custom generation never
    wedges the auto-named path (max-index+1 naming)."""
    from kgpipe.materialize import compact_snapshots

    # bad prefix raises even on an empty/fresh sink (before any early
    # no-op return) — a misconfigured nightly job must not look healthy
    empty_sink = TableSink(spark, out_dir=str(tmp_path / "noexist"),
                           table_prefix=None)
    with pytest.raises(ValueError, match="must start with"):
        compact_snapshots(empty_sink, target_sid="nightly")

    out_dir, _ = _incr_store(spark, gazetteer, blacklist, tmp_path, "v")
    sink = TableSink(spark, out_dir=out_dir, table_prefix=None)
    with pytest.raises(ValueError, match="must start with"):
        compact_snapshots(sink, target_sid="nightly")
    # caller-chosen generation name commits fine...
    assert compact_snapshots(sink, target_sid="compact-7")["target_sid"] == "compact-7"

    # ...and auto-naming continues PAST it (max-index+1), instead of
    # computing compact-1 from set cardinality and wedging forever on the
    # collision guard
    from kgpipe.config import DEFAULT_CONFIG
    from kgpipe.streaming import run_incremental_materialize

    t2 = synthetic_transcripts_df(spark, n_conv=4, turns_per_conv=3, seed=41,
                                  hot_conv_factor=1).withColumn(
        "conv_id", F.concat(F.lit("v2"), F.col("conv_id")))
    in_dir = str(tmp_path / "in_v")
    t2.where(F.col("conv_id") < "v2conv0002").coalesce(1).write.mode(
        "append").parquet(in_dir)
    t2.where(F.col("conv_id") >= "v2conv0002").coalesce(1).write.mode(
        "append").parquet(in_dir)
    run_incremental_materialize(
        spark, in_dir, out_dir, str(tmp_path / "ckpt_v"), gazetteer,
        blacklist, DEFAULT_CONFIG, n_buckets=4, max_files_per_trigger=1,
        timeout_sec=180.0,
    )
    assert compact_snapshots(sink)["target_sid"] == "compact-8"


def test_compact_lock_rejects_concurrent_run(
    spark, gazetteer, blacklist, tmp_path
):
    """A held lock file rejects a second compactor with an actionable
    message; the lock is released on completion so a later run proceeds."""
    from kgpipe.materialize import _compaction_lock_path, compact_snapshots

    out_dir, _ = _incr_store(spark, gazetteer, blacklist, tmp_path, "lk")
    sink = TableSink(spark, out_dir=out_dir, table_prefix=None)
    lock, fs = _compaction_lock_path(sink)
    assert fs.createNewFile(lock)
    with pytest.raises(RuntimeError, match="compaction lock"):
        compact_snapshots(sink)
    fs.delete(lock, False)
    res = compact_snapshots(sink)
    assert res["target_sid"] == "compact-0"
    # released on completion
    assert not fs.exists(lock)


def test_compact_batch_store_noop(spark, gazetteer, blacklist, tmp_path):
    """Pointing the maintenance verb at a batch-path store (bucket-only
    layout, no snapshot column) must no-op gracefully, not crash."""
    from kgpipe.materialize import compact_snapshots

    out = str(tmp_path / "batch_out")
    t = synthetic_transcripts_df(spark, n_conv=2, turns_per_conv=3, seed=5,
                                 hot_conv_factor=1)
    run_with_resume(
        spark, t, out,
        lambda df: build_triples(df, gazetteer, blacklist, PipelineConfig(),
                                 fused=True),
        run_id="b", source_snapshot_id="s", n_buckets=4,
    )
    sink = TableSink(spark, out_dir=out, table_prefix=None)
    res = compact_snapshots(sink)
    assert res == {"target_sid": None, "source_sids": [], "rows": 0}


def test_migrate_legacy_store_layout(spark, gazetteer, blacklist, tmp_path):
    """A pre-snapshot-layout streaming store (top-level bucket=* dirs) is
    migrated under source_snapshot_id=legacy-0 before the first new
    micro-batch, so the mixed-layout read failure can never happen; the
    legacy rows stay visible alongside new batches."""
    import pandas as pd

    from kgpipe.config import DEFAULT_CONFIG
    from kgpipe.streaming import run_incremental_materialize

    out_dir = str(tmp_path / "legacy_out")
    t_old = synthetic_transcripts_df(spark, n_conv=2, turns_per_conv=3,
                                     seed=31, hot_conv_factor=1)
    old_triples = build_triples(t_old, gazetteer, blacklist, PipelineConfig(),
                                fused=True)
    # legacy layout: bucket-only partitioning at the top level
    with_bucket(old_triples, 4).write.partitionBy("bucket").parquet(
        f"{out_dir}/triples"
    )
    assert any(d.startswith("bucket=")
               for d in os.listdir(f"{out_dir}/triples"))

    t_new = synthetic_transcripts_df(spark, n_conv=2, turns_per_conv=3,
                                     seed=37, hot_conv_factor=1).withColumn(
        "conv_id", F.concat(F.lit("nn"), F.col("conv_id")))
    in_dir = str(tmp_path / "legacy_in")
    t_new.coalesce(1).write.parquet(in_dir)
    run_incremental_materialize(
        spark, in_dir, out_dir, str(tmp_path / "legacy_ckpt"), gazetteer,
        blacklist, DEFAULT_CONFIG, n_buckets=4, timeout_sec=180.0,
    )
    top = {d for d in os.listdir(f"{out_dir}/triples")
           if not d.startswith(("_", "."))}
    assert all(d.startswith("source_snapshot_id=") for d in top)
    assert "source_snapshot_id=legacy-0" in top

    sink = TableSink(spark, out_dir=out_dir, table_prefix=None)
    new_triples = build_triples(t_new, gazetteer, blacklist, PipelineConfig(),
                                fused=True)
    want = _sorted(pd.concat(
        [old_triples.toPandas(), new_triples.toPandas()], ignore_index=True
    ))
    assert _visible(spark, sink).equals(want)


# ---------------------------------------------------- manifest self-fold ---


def _snap_sink(spark, tmp_path, tag):
    """sid-partitioned store built directly via replace_snapshot (no
    streaming run — the manifest protocol only needs the layout)."""
    return TableSink(spark, out_dir=str(tmp_path / f"mf_{tag}"),
                     table_prefix=None)


def _land(spark, sink, sids):
    for s in sids:
        df = spark.createDataFrame(
            [(f"r-{s}-{j}", j % 2, s) for j in range(4)],
            "subj string, bucket int, source_snapshot_id string",
        )
        sink.replace_snapshot("triples", df, s)


def test_compact_manifest_folds_rows(spark, tmp_path):
    """The manifest shrinks from one-row-per-folded-source to one sentinel
    row per committed generation; visible data, generation naming, and the
    one-file layout are all preserved, and the verb is idempotent."""
    import os

    from kgpipe.materialize import (
        _manifest, compact_manifest, compact_snapshots, read_triples,
    )

    sink = _snap_sink(spark, tmp_path, "fold")
    _land(spark, sink, [f"stream-batch-{i}" for i in range(3)])
    assert compact_snapshots(sink)["target_sid"] == "compact-0"
    _land(spark, sink, [f"stream-batch-{i}" for i in range(3, 5)])
    assert compact_snapshots(sink)["target_sid"] == "compact-1"
    assert _manifest(sink).count() == 5  # 3 + 2 per-source rows

    before = {r.subj for r in read_triples(sink).collect()}
    res = compact_manifest(sink)
    assert res == {"generations": 2, "rows_before": 5, "rows_after": 2}
    man = _manifest(sink).collect()
    assert {r.source_sid for r in man} == {"manifest-fold"}
    assert {r.target_sid for r in man} == {"compact-0", "compact-1"}
    # visible data unchanged through the reader
    assert {r.subj for r in read_triples(sink).collect()} == before
    # the manifest dir is down to ONE data file
    files = [f for f in os.listdir(f"{sink.out_dir}/compactions")
             if not f.startswith(("_", "."))]
    assert len(files) == 1
    # generation naming continues past the fold (sentinel rows carry the
    # committed target set)
    _land(spark, sink, ["stream-batch-10", "stream-batch-11"])
    assert compact_snapshots(sink)["target_sid"] == "compact-2"
    # re-running the fold absorbs the new generation's rows too
    res2 = compact_manifest(sink)
    assert res2["generations"] == 3 and res2["rows_after"] == 3


def test_compact_manifest_crash_window_is_superset(spark, tmp_path):
    """A crash between the fold's commit-point append and its part-file
    cleanup leaves a SUPERSET manifest — visibility is unchanged, and
    re-running the verb finishes the shrink."""
    from pyspark.sql import functions as SF

    from kgpipe.materialize import (
        _manifest, compact_manifest, compact_snapshots, read_triples,
    )

    sink = _snap_sink(spark, tmp_path, "crash")
    _land(spark, sink, ["stream-batch-0", "stream-batch-1"])
    compact_snapshots(sink)
    before = {r.subj for r in read_triples(sink).collect()}

    # simulate the crash window: the fold's one-file append landed (the
    # sentinel row exists) but the old per-source rows were not deleted
    man = _manifest(sink)
    fold = (
        man.groupBy("target_sid")
        .agg(SF.max("compacted_at").alias("compacted_at"))
        .withColumn("source_sid", SF.lit("manifest-fold"))
        .select("target_sid", "source_sid", "compacted_at")
        .coalesce(1)
    )
    sink.append("compactions", fold, partitioned=False)
    assert _manifest(sink).count() == 3  # superset: 2 old + 1 sentinel
    assert {r.subj for r in read_triples(sink).collect()} == before

    res = compact_manifest(sink)
    assert res["rows_after"] == 1
    man2 = _manifest(sink).collect()
    assert [(r.target_sid, r.source_sid) for r in man2] == [
        ("compact-0", "manifest-fold")
    ]
    assert {r.subj for r in read_triples(sink).collect()} == before


def test_compact_manifest_keeps_pending_sources(spark, tmp_path, monkeypatch):
    """A manifest source whose partition is still on disk (cleanup pending
    or failing, e.g. an object-store outage) keeps its verbatim hiding row
    through the fold — the reader must keep filtering it."""
    import datetime as dtm

    import kgpipe.materialize as mz
    from kgpipe.materialize import (
        _compactions_schema, _manifest, compact_manifest, read_triples,
    )

    sink = _snap_sink(spark, tmp_path, "pend")
    sids = ["stream-batch-0", "stream-batch-1"]
    _land(spark, sink, sids)
    # committed target + manifest, crash before cleanup: sources on disk
    target = (
        sink.read("triples")
        .where(F.col("source_snapshot_id").isin(sids))
        .withColumn("source_snapshot_id", F.lit("compact-0"))
        .persist()
    )
    sink.replace_snapshot("triples", target, "compact-0")
    now = dtm.datetime(2026, 1, 1)
    sink.append(
        "compactions",
        spark.createDataFrame([("compact-0", s, now) for s in sids],
                              _compactions_schema()).coalesce(1),
        partitioned=False,
    )
    target.unpersist()
    before = {r.subj for r in read_triples(sink).collect()}
    assert all(r.source_snapshot_id == "compact-0"
               for r in read_triples(sink).collect())

    # cleanup cannot delete (outage): the fold must keep the hiding rows
    monkeypatch.setattr(mz, "cleanup_compacted", lambda sink, man=None: [])
    res = compact_manifest(sink)
    assert res["rows_after"] == 3  # 1 sentinel + 2 pending per-source rows
    man = _manifest(sink)
    assert {(r.target_sid, r.source_sid) for r in man.collect()} == {
        ("compact-0", "manifest-fold"),
        ("compact-0", "stream-batch-0"),
        ("compact-0", "stream-batch-1"),
    }
    vis = read_triples(sink).collect()
    assert {r.subj for r in vis} == before
    assert all(r.source_snapshot_id == "compact-0" for r in vis)
