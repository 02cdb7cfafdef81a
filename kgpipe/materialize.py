"""Partitioned graph materialization with per-partition lineage and
checkpoint-resume.

The reference accumulates every output row in a Python list on one process
and writes a single TSV at collection end (timeline_delegator.py:328,
385-399). Here the write is distributed and incremental:

* triples/nodes/edges land bucket-partitioned by ``bucket =
  pmod(xxhash64(conv_id), n_buckets)`` — the analog of Iceberg's
  ``bucket(N, conv_id)`` partition transform. The sink is a thin
  abstraction (``TableSink``): when ``table_prefix`` is given AND the
  Iceberg Spark runtime is on the classpath with a catalog configured, the
  V2 ``writeTo(...).append()`` path is used (tables auto-created
  partitioned by bucket); otherwise the parquet-directory fallback keeps
  the identical layout and lineage logic (SURVEY.md §7.3 risk 8). Resume
  behaves identically on both branches (pytest exercises the parquet
  branch always and the Iceberg branch when the runtime jar is present).
* every bucketed write goes through ``bucket_clustered``: one rebalance
  exchange keyed on ``bucket`` in front of the write. AQE coalesces small
  buckets into shared tasks without splitting any, so at small scale a
  commit writes one file per bucket; a bucket larger than
  ``spark.sql.adaptive.advisoryPartitionSizeInBytes`` is split across
  tasks, so at large scale files come out near the advisory size and the
  commit's parallelism is not capped at ``n_buckets``.
* after the data is committed, one lineage row per bucket records
  (run_id, source_snapshot_id, partition_hash=bucket, triple_count,
  stage_timings, completed_at). ``triple_count`` is the rows the commit
  wrote to that bucket, observed during the write itself (one
  ``count_if`` per bucket on an ``Observation`` in the write's result
  stage), so no job reads the store back. NOTE: the ``stage_timings`` map
  (wall seconds: ``plan_sec``, the Spark driver's build of the write's plan
  before any job of it runs, and ``build_and_write_sec``; plus the
  observed n_triples/n_tlink/... metrics) is
  INVOCATION-scoped — every lineage row written by one run_with_resume
  call carries the same totals for the whole invocation, not per-bucket
  values; per-bucket cardinality lives in ``triple_count``.
* resume = anti-join the bucket domain against completed lineage rows:
  only unfinished buckets are recomputed, finished output is untouched —
  checkpoint-resume at partition granularity (north_star).

Crash window: the triples append and the lineage append are two commits.
A crash between them leaves the buckets' rows on disk with no lineage
row, so a rerun appends those buckets a second time; lineage then records
the rows that rerun wrote, not the rows on disk.
"""

from __future__ import annotations

import datetime as dt
import os
import re
import time
from contextlib import contextmanager
from typing import Optional

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .schemas import LINEAGE_SCHEMA

__all__ = [
    "with_bucket",
    "bucket_clustered",
    "append_lineage",
    "completed_buckets",
    "run_with_resume",
    "iceberg_available",
    "TableSink",
    "triple_delta",
    "compact_snapshots",
    "read_triples",
    "cleanup_compacted",
    "migrate_legacy_store",
]


def triple_delta(
    old: DataFrame,
    new: DataFrame,
    key_cols=("subj", "pred", "obj", "conv_id", "turn_idx"),
) -> DataFrame:
    """Snapshot diff between two triple tables — the incremental-maintenance
    primitive: after re-extracting a corpus (new gazetteer, new grammar,
    changed turns), emit exactly what changed instead of rewriting the
    graph. Multiset semantics: each side is aggregated to per-key
    occurrence counts, so duplicate triples diff correctly.

    Returns only differing keys: (*key_cols, n_old, n_new, change) with
    change ∈ {'added', 'removed', 'count_changed'}.

    Scale shape: one keyed aggregate per side (map-side combine) + one
    full-outer sort-merge join, all on the triple key — no broadcast of
    either snapshot, no driver state; AQE skew-join covers hot keys.
    """
    keys = list(key_cols)
    o = old.groupBy(*keys).agg(F.count(F.lit(1)).alias("n_old"))
    n = new.groupBy(*keys).agg(F.count(F.lit(1)).alias("n_new"))
    j = o.join(n, keys, "full")
    n_old = F.coalesce("n_old", F.lit(0).cast("long"))
    n_new = F.coalesce("n_new", F.lit(0).cast("long"))
    change = (
        F.when(n_old == 0, F.lit("added"))
        .when(n_new == 0, F.lit("removed"))
        .otherwise(F.lit("count_changed"))
    )
    return (
        j.where(n_old != n_new)
        .select(*keys, n_old.alias("n_old"), n_new.alias("n_new"),
                change.alias("change"))
    )


def with_bucket(df: DataFrame, n_buckets: int) -> DataFrame:
    return df.withColumn(
        "bucket", F.expr(f"CAST(pmod(xxhash64(conv_id), {int(n_buckets)}) AS INT)")
    )


def bucket_clustered(
    df: DataFrame,
    n_buckets: int,
    obs=None,
    metrics=(),
    count_buckets=(),
) -> tuple[DataFrame, list[str]]:
    """The frame a bucketed write commits: ``df`` with its ``bucket``
    column behind one rebalance exchange keyed on ``bucket``, so each
    bucket's rows land in one write task (one file per bucket) unless the
    bucket exceeds the advisory partition size. Not ``repartition(n_buckets,
    "bucket")``: that would cap the write at ``n_buckets`` tasks.

    With ``obs``, ``metrics`` and one ``bucket_<b>`` row count per bucket
    in ``count_buckets`` are observed ON TOP of the exchange: they are
    computed in the write's own result stage, once per task, with no extra
    pass. Returns the frame and the names of its per-bucket counts."""
    out = with_bucket(df, n_buckets).hint("rebalance", "bucket")
    names = [f"bucket_{b}" for b in count_buckets]
    if obs is not None:
        counts = [
            F.expr(f"count_if(bucket = {int(b)}) AS {n}")
            for b, n in zip(count_buckets, names)
        ]
        out = out.observe(obs, *metrics, *counts)
    return out, names


def iceberg_available(spark: SparkSession) -> bool:
    """True when the Iceberg Spark runtime is on the JVM classpath."""
    try:
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


class TableSink:
    """Bucket-partitioned append sink: Iceberg ``writeTo`` when a table
    prefix is given and the runtime is present, parquet directories
    otherwise. Both branches expose the same append/read/exists surface so
    the lineage + resume logic upstream is branch-agnostic."""

    def __init__(
        self,
        spark: SparkSession,
        out_dir: Optional[str] = None,
        table_prefix: Optional[str] = None,
    ):
        self.spark = spark
        self.out_dir = out_dir
        self.table_prefix = table_prefix
        self.iceberg = bool(table_prefix) and iceberg_available(spark)
        if table_prefix and not self.iceberg:
            # promised switch, honest fallback: the caller asked for a
            # catalog table but the runtime is absent -> parquet layout
            # under out_dir with the same names
            if out_dir is None:
                raise ValueError(
                    "table_prefix given without Iceberg runtime and no "
                    "out_dir fallback"
                )

    def _ident(self, name: str) -> str:
        return f"{self.table_prefix}_{name}"

    def _path(self, name: str) -> str:
        return os.path.join(self.out_dir, name)

    def _table_exists(self, ident: str) -> bool:
        # explicit existence probe: a transient catalog failure must surface
        # as an error, NOT be misread as "table missing" (which would reset
        # resume and double-append completed buckets)
        return self.spark.catalog.tableExists(ident)

    def append(self, name: str, df: DataFrame, partitioned: bool = True) -> None:
        if self.iceberg:
            ident = self._ident(name)
            if self._table_exists(ident):
                df.writeTo(ident).append()
            else:
                w = df.writeTo(ident)
                if partitioned and "bucket" in df.columns:
                    w = w.partitionedBy(F.col("bucket"))
                w.create()
            return
        w = df.write.mode("append")
        if partitioned and "bucket" in df.columns:
            w = w.partitionBy("bucket")
        w.parquet(self._path(name))

    def replace_snapshot(
        self, name: str, df: DataFrame, source_snapshot_id: str
    ) -> None:
        """Idempotent snapshot-scoped write: atomically-enough replaces ALL
        rows carrying ``source_snapshot_id`` with ``df``'s rows, leaving
        every other snapshot untouched. This is the exactly-once primitive
        for the streaming materializer — a redelivered micro-batch
        re-writes its own snapshot partition instead of appending a second
        copy. Replacement is at snapshot granularity (not (snapshot,
        bucket)) on purpose: a partial crash write may contain bucket
        sub-partitions the recomputed batch does not, and those must go
        too. Iceberg branch: ``overwrite(filter)``; parquet branch: delete
        the snapshot's partition directory via the Hadoop FileSystem API
        (scheme-agnostic: local/HDFS/S3A), then append."""
        cols = ["source_snapshot_id", "bucket"]
        if self.iceberg:
            ident = self._ident(name)
            if self._table_exists(ident):
                df.writeTo(ident).overwrite(
                    F.col("source_snapshot_id") == F.lit(source_snapshot_id)
                )
            else:
                df.writeTo(ident).partitionedBy(*[F.col(c) for c in cols]).create()
            return
        jvm = self.spark._jvm  # noqa: SLF001
        part_dir = jvm.org.apache.hadoop.fs.Path(
            self._path(name), f"source_snapshot_id={source_snapshot_id}"
        )
        fs = part_dir.getFileSystem(
            self.spark._jsc.hadoopConfiguration()  # noqa: SLF001
        )
        if fs.exists(part_dir):
            fs.delete(part_dir, True)
        df.write.mode("append").partitionBy(*cols).parquet(self._path(name))

    def read(self, name: str) -> Optional[DataFrame]:
        """None ONLY when the target genuinely does not exist yet; any other
        read failure propagates (resume must never mistake an outage for an
        empty lineage)."""
        if self.iceberg:
            ident = self._ident(name)
            if not self._table_exists(ident):
                return None
            return self.spark.read.table(ident)
        p = self._path(name)
        if not os.path.exists(p):
            return None
        return self.spark.read.parquet(p)


def append_lineage(
    sink: TableSink,
    run_id: str,
    source_snapshot_id: str,
    bucket_counts,  # list[(bucket, triple_count)]
    stage_timings: dict,
) -> None:
    now = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
    rows = pd.DataFrame(
        [
            (run_id, source_snapshot_id, int(b), int(c), stage_timings, now)
            for b, c in bucket_counts
        ],
        columns=LINEAGE_SCHEMA.fieldNames(),
    )
    # a pandas frame goes to the JVM through Arrow, so the commit is a
    # JVM-only job (a list of tuples would run a Python-worker job to
    # unpickle it); one partition makes it one lineage file per commit
    sink.append(
        "lineage",
        sink.spark.createDataFrame(rows, LINEAGE_SCHEMA).coalesce(1),
        partitioned=False,
    )


def completed_buckets(sink: TableSink, source_snapshot_id: str):
    """Buckets already committed for this source snapshot (any run)."""
    df = sink.read("lineage")
    if df is None:
        return set()
    rows = (
        df.where(F.col("source_snapshot_id") == source_snapshot_id)
        .select("partition_hash")
        .distinct()
        .collect()
    )
    return {r.partition_hash for r in rows}


# the run metrics observed in run_with_resume's write (lineage
# stage_timings); exact DISTINCT is disallowed in observed metrics, and the
# HLL sketch is the standard observable cardinality
_RUN_METRICS = (
    "count(1) AS n_triples",
    "sum(CASE WHEN startswith(pred, 'tlink:') THEN 1 ELSE 0 END) AS n_tlink",
    "sum(CASE WHEN pred = 'entity-mention' THEN 1 ELSE 0 END) AS n_entity",
    "approx_count_distinct(conv_id) AS n_convs_approx",
)


def run_with_resume(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: Optional[str],
    build_fn,
    *,
    run_id: str,
    source_snapshot_id: str,
    n_buckets: int = 16,
    only_buckets=None,
    table_prefix: Optional[str] = None,
) -> dict:
    """Materialize ``build_fn(transcripts_subset) -> triples`` bucket-wise
    with resume.

    ``only_buckets`` (tests/partial runs) restricts this invocation to a
    subset of remaining buckets, simulating a crash between bucket commits.
    ``table_prefix`` switches the sink to Iceberg ``writeTo`` tables
    (``{prefix}_triples`` / ``{prefix}_lineage``) when the runtime is
    present. Returns {'written_buckets': [...], 'skipped_buckets': [...],
    'triples_written': int}.
    """
    sink = TableSink(spark, out_dir=out_dir, table_prefix=table_prefix)

    done = completed_buckets(sink, source_snapshot_id)
    bucketed_in = with_bucket(transcripts, n_buckets)
    # the bucket domain is [0, n_buckets) by construction (pmod) — no input
    # scan needed to enumerate it; input-empty buckets simply commit zero
    # rows and a zero-count lineage row, which resume then skips
    todo = sorted(set(range(n_buckets)) - done)
    if only_buckets is not None:
        todo = [b for b in todo if b in set(only_buckets)]
    if not todo:
        return {"written_buckets": [], "skipped_buckets": sorted(done), "triples_written": 0}

    t0 = time.monotonic()
    subset = bucketed_in.where(f"bucket IN ({', '.join(str(int(b)) for b in todo)})")
    triples = build_fn(subset.drop("bucket"))
    # Spark-native observed metrics: computed inline during the write action
    # itself (no extra pass), recorded into the lineage rows
    from pyspark.sql import Observation

    obs = Observation("kg_run_metrics")
    out, count_names = bucket_clustered(
        triples, n_buckets, obs,
        metrics=[F.expr(m) for m in _RUN_METRICS],
        count_buckets=todo,
    )
    t_plan = time.monotonic()
    sink.append("triples", out)
    t1 = time.monotonic()
    observed = obs.get
    # one count per todo bucket, zero-triple buckets included: they are
    # complete too, and resume must not redo them
    counts = [(b, observed[n]) for b, n in zip(todo, count_names)]
    metrics = {
        k: float(v or 0) for k, v in observed.items() if k not in count_names
    }
    # stage_timings/metrics are INVOCATION-scoped (identical across this
    # call's lineage rows); per-bucket cardinality is triple_count
    append_lineage(
        sink,
        run_id,
        source_snapshot_id,
        counts,
        {"plan_sec": t_plan - t0, "build_and_write_sec": t1 - t0, **metrics},
    )
    return {
        "written_buckets": sorted(todo),
        "skipped_buckets": sorted(done),
        "triples_written": int(sum(c for _, c in counts)),
        "metrics": metrics,
    }


# --------------------------------------------------------------------------
# snapshot compaction — the maintenance pass for the streaming store's
# exactly-once layout. run_incremental_materialize lands every micro-batch
# under its own source_snapshot_id partition (that is what makes redelivery
# an idempotent overwrite); at 10^12-turn scale that accumulates one
# partition per batch. Compaction folds all stream-batch snapshots into one
# compacted snapshot, crash-safely:
#
#   1. write every source snapshot's rows under the target snapshot id via
#      replace_snapshot (idempotent: a crashed-and-rerun compaction
#      overwrites its own partial output);
#   2. COMMIT POINT: append (target_sid, source_sid) rows to the
#      'compactions' manifest table;
#   3. delete the source partitions (pure cleanup; idempotent).
#
# Readers go through read_triples, which applies the manifest as a
# visibility rule — a compacted target is visible only once its manifest
# rows exist, and manifest sources are always hidden — so a reader sees
# exactly-once data in EVERY crash window (before the commit point the
# half-written target is invisible; after it the not-yet-deleted sources
# are filtered). On the Iceberg branch step 1+3 collapse into one ATOMIC
# overwrite(filter) commit and the manifest is audit trail only.
#
# Lineage rows for compacted sources are kept: the incremental
# materializer's redelivery gate seeds from lineage, so a re-delivered
# old batch is still skipped after its data moved into a compacted
# snapshot.
# --------------------------------------------------------------------------

_COMPACT_PREFIX = "compact-"


def _compactions_schema():
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField("target_sid", T.StringType()),
            T.StructField("source_sid", T.StringType()),
            T.StructField("compacted_at", T.TimestampType()),
        ]
    )


def _store_sids(sink: TableSink) -> set:
    df = sink.read("triples")
    if df is None or "source_snapshot_id" not in df.columns:
        return set()
    return {
        r.source_snapshot_id
        for r in df.select("source_snapshot_id").distinct().collect()
    }


def _manifest(sink: TableSink):
    return sink.read("compactions")


def read_triples(sink: TableSink) -> Optional[DataFrame]:
    """Exactly-once view of the snapshot-partitioned triple store under
    concurrent/crashed compaction.

    Iceberg branch: compaction commits in ONE atomic ``overwrite(filter)``
    (sources replaced by the target in the same snapshot), so neither
    crash window can exist for stores compacted under the CURRENT
    protocol. The manifest SOURCE filter is still applied when a manifest
    exists: a table compacted under the earlier append-style protocol
    physically retains its superseded source rows, and the filter keeps
    such a store exactly-once until ``cleanup_compacted`` (DELETE-based
    on this branch) heals it; on current-protocol stores the sources have
    no rows, so the anti-join is a no-op.

    Parquet branch, visibility rule per snapshot id:

    * hidden if it appears as a SOURCE in the compactions manifest (its
      rows live on in the committed target; the partition itself is
      pending-delete cleanup);
    * a ``compact-*`` target is visible only if its manifest rows exist
      (a target written by a compaction that crashed before the commit
      point is invisible — its sources still are visible);
    * every other snapshot (live stream batches) is visible.
    """
    df = sink.read("triples")
    if df is None:
        return None
    if "source_snapshot_id" not in df.columns:
        return df  # batch-path store: no snapshot partitions, nothing to do
    if sink.iceberg:
        man = _manifest(sink)
        if man is None:
            return df
        sources = man.select(
            F.col("source_sid").alias("source_snapshot_id")
        ).distinct()
        return df.join(F.broadcast(sources), "source_snapshot_id", "left_anti")
    man = _manifest(sink)
    if man is None:
        # no compaction ever ran: uncommitted targets are still possible
        return df.where(~F.col("source_snapshot_id").startswith(_COMPACT_PREFIX))
    sources = man.select(F.col("source_sid").alias("source_snapshot_id")).distinct()
    targets = man.select(F.col("target_sid").alias("source_snapshot_id")).distinct()
    df = df.join(F.broadcast(sources), "source_snapshot_id", "left_anti")
    uncommitted_target = F.col("source_snapshot_id").startswith(
        _COMPACT_PREFIX
    ) & F.col("_t").isNull()
    return (
        df.join(
            F.broadcast(targets.withColumn("_t", F.lit(1))),
            "source_snapshot_id",
            "left",
        )
        .where(~uncommitted_target)
        .drop("_t")
    )


def _compaction_lock_path(sink: TableSink):
    """(jvm Path, FileSystem) for the store's compaction lock file, or
    (None, None) when the sink has no filesystem root (pure-Iceberg sink
    with no out_dir — single-writer discipline is then the caller's)."""
    if sink.out_dir is None:
        return None, None
    jvm = sink.spark._jvm  # noqa: SLF001
    p = jvm.org.apache.hadoop.fs.Path(sink.out_dir, "_compaction.lock")
    fs = p.getFileSystem(sink.spark._jsc.hadoopConfiguration())  # noqa: SLF001
    return p, fs


@contextmanager
def _compaction_lock(sink: TableSink):
    """Best-effort single-maintenance-writer lock shared by every
    maintenance verb (compact_snapshots, compact_manifest): atomic
    create-if-absent of ``<out_dir>/_compaction.lock`` (local/HDFS;
    best-effort on S3A), released on exit. A crash leaves the lock
    behind — the error message names the file to delete once no
    compactor is alive."""
    lock, lock_fs = _compaction_lock_path(sink)
    if lock is not None and not lock_fs.createNewFile(lock):
        raise RuntimeError(
            f"compaction lock {lock} already held — another maintenance "
            "run is in progress, or a previous one crashed; delete the "
            "lock file once no compactor is alive and re-run"
        )
    try:
        yield
    finally:
        if lock is not None:
            lock_fs.delete(lock, False)


def compact_snapshots(sink: TableSink, target_sid: Optional[str] = None) -> dict:
    """Fold the live STREAM-BATCH snapshot partitions into one new
    compacted snapshot. Previously-committed ``compact-*`` targets are
    left in place on purpose: each run therefore costs O(newly-arrived
    data), not O(whole store) — folding the ever-growing prior target
    back in every time would make lifetime maintenance I/O quadratic.
    Generations accumulate one partition per run, at the (slow)
    compaction cadence rather than the micro-batch cadence.

    SINGLE-WRITER MAINTENANCE WINDOW (parquet branch): compaction must not
    run concurrently with a live stream writing the SAME store — a
    redelivered micro-batch overwriting a source partition mid-read could
    fold a partial snapshot into the committed target, and the manifest
    would then permanently hide the re-written source rows. (The Iceberg
    branch commits in one atomic overwrite, so its exposure is only the
    generation-name race between two concurrent compactors.) A best-effort
    lock file (``<out_dir>/_compaction.lock``, atomic create-if-absent)
    rejects a second concurrent compactor; it cannot stop a live stream —
    stop the stream (or schedule compaction between micro-batches) before
    calling. A crash leaves the lock behind: the error message names the
    file to delete once no compactor is alive.

    Idempotent and crash-safe per the module-level protocol; always
    starts by finishing any crashed prior run's cleanup. A caller-chosen
    ``target_sid`` must carry the ``compact-`` prefix (the reader's
    visibility rule is keyed on it) and must not collide with an existing
    committed generation. Returns {"target_sid", "source_sids", "rows"}.
    """
    # a misconfigured custom name must fail on the FIRST call, not only
    # once two batches have accumulated past the no-op early-return below
    if target_sid is not None and not target_sid.startswith(_COMPACT_PREFIX):
        raise ValueError(
            f"compaction target {target_sid!r} must start with "
            f"{_COMPACT_PREFIX!r} — the reader's crash-window visibility "
            "rule is keyed on the prefix"
        )
    with _compaction_lock(sink):
        return _compact_snapshots_locked(sink, target_sid)


def _compact_snapshots_locked(
    sink: TableSink, target_sid: Optional[str]
) -> dict:
    # one manifest read serves recovery-cleanup and the committed set;
    # read_triples necessarily re-reads after cleanup may have changed
    # what is on disk
    man = _manifest(sink)
    # recovery first: a crash between a prior run's commit point and its
    # cleanup leaves superseded source dirs behind; finish that job even
    # if this run then has nothing to fold
    cleanup_compacted(sink, man=man)
    visible = read_triples(sink)
    if visible is None or "source_snapshot_id" not in visible.columns:
        # empty or batch-path store (bucket-only layout): nothing to fold
        return {"target_sid": None, "source_sids": [], "rows": 0}
    all_sids = {
        r.source_snapshot_id
        for r in visible.select("source_snapshot_id").distinct().collect()
    }
    sids = sorted(s for s in all_sids if not s.startswith(_COMPACT_PREFIX))
    if len(sids) < 2:
        return {"target_sid": None, "source_sids": [], "rows": 0}
    # deterministic target name. Parquet: generations committed in the
    # manifest (a crashed, manifest-less target dir is garbage the rerun
    # SHOULD overwrite under the same name). Iceberg: compact-* sids
    # observed in the table (the overwrite is the atomic commit, so a
    # present target IS committed and must not be reused — re-overwriting
    # it with only-new batches would drop its rows). Auto-naming takes
    # max(existing generation index) + 1, NOT set cardinality: a
    # caller-chosen committed name like compact-7 must never wedge the
    # auto-named path into a permanent collision error.
    if sink.iceberg:
        committed = {s for s in all_sids if s.startswith(_COMPACT_PREFIX)}
    else:
        committed = (
            set()
            if man is None
            else {r.target_sid for r in man.select("target_sid").distinct().collect()}
        )
    gen_indexes = [
        int(m.group(1))
        for s in committed
        for m in [re.fullmatch(rf"{_COMPACT_PREFIX}(\d+)", s)]
        if m
    ]
    next_gen = (max(gen_indexes) + 1) if gen_indexes else 0
    target = target_sid or f"{_COMPACT_PREFIX}{next_gen}"
    if target in committed:
        raise ValueError(
            f"compaction target {target!r} is an already-committed "
            "generation; folding into it would corrupt the store"
        )
    data = (
        visible.where(F.col("source_snapshot_id").isin(sids))
        .withColumn("source_snapshot_id", F.lit(target))
        .persist()
    )
    try:
        n = data.count()
        now = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
        # pandas reaches the JVM through Arrow: no Python-worker job (see
        # append_lineage)
        manifest_df = sink.spark.createDataFrame(
            pd.DataFrame(
                {"target_sid": target, "source_sid": sids, "compacted_at": now}
            ),
            _compactions_schema(),
        ).coalesce(1)
        if sink.iceberg:
            # ONE atomic commit: sources replaced by the target together.
            # (The target is in the filter only for rerun idempotence; a
            # committed target can never reach here — guarded above.)
            ident = sink._ident("triples")
            data.writeTo(ident).overwrite(
                F.col("source_snapshot_id").isin(sids + [target])
            )
            # manifest is audit trail only on this branch
            sink.append("compactions", manifest_df, partitioned=False)
        else:
            # 1. idempotent write of the target partition
            sink.replace_snapshot("triples", data, target)
            # 2. commit point: ONE manifest file (coalesce(1)) so the
            #    commit is a single task-file rename — all-or-nothing on
            #    local/HDFS (single PUT on object stores); a multi-file
            #    append could persist a subset of source rows and leave
            #    the target visible with some sources unhidden
            sink.append("compactions", manifest_df, partitioned=False)
        # lineage row for the compacted snapshot (audit + bucket counts);
        # source lineage rows are kept on purpose — the streaming
        # redelivery gate seeds from them
        counts = [
            (r.bucket, r.cnt)
            for r in data.groupBy("bucket").agg(F.count("*").alias("cnt")).collect()
        ]
        # run_id carries the target name itself: an audit row must
        # self-attribute even when the caller chose the generation name
        append_lineage(
            sink,
            run_id=f"compact:{target}",
            source_snapshot_id=target,
            bucket_counts=counts,
            stage_timings={"n_sources": float(len(sids))},
        )
    finally:
        data.unpersist()
    # 3. cleanup (idempotent; safe to crash anywhere inside)
    cleanup_compacted(sink)
    return {"target_sid": target, "source_sids": sids, "rows": int(n)}


def cleanup_compacted(sink: TableSink, man: Optional[DataFrame] = None) -> list:
    """Delete snapshot rows/partitions superseded by a committed
    compaction. Pure idempotent cleanup — visibility already excludes
    them — callable any time, including after a crash between a
    compaction's commit point and its cleanup (compact_snapshots also
    runs it first, so simply re-running the maintenance verb finishes a
    crashed run's cleanup). ``man`` lets a caller that already read the
    compactions manifest skip the re-read.

    Iceberg branch: a store compacted under the CURRENT protocol has
    nothing to clean (sources were replaced in the atomic commit), but a
    table compacted under the earlier append-style protocol physically
    retains its superseded source rows — those are removed here with a
    row-level ``DELETE`` (itself one atomic Iceberg commit), healing the
    old store in place."""
    if man is None:
        man = _manifest(sink)
    if man is None:
        return []
    sources = {r.source_sid for r in man.select("source_sid").distinct().collect()}
    stale = sorted(sources & _store_sids(sink))
    if not stale:
        return []
    if sink.iceberg:
        in_list = ", ".join(f"'{s}'" for s in stale)
        sink.spark.sql(
            f"DELETE FROM {sink._ident('triples')} "
            f"WHERE source_snapshot_id IN ({in_list})"
        )
        return stale
    removed = []
    jvm = sink.spark._jvm  # noqa: SLF001
    conf = sink.spark._jsc.hadoopConfiguration()  # noqa: SLF001
    for sid in stale:
        p = jvm.org.apache.hadoop.fs.Path(
            sink._path("triples"), f"source_snapshot_id={sid}"
        )
        fs = p.getFileSystem(conf)
        if fs.exists(p):
            fs.delete(p, True)
            removed.append(sid)
    return removed


# a source_snapshot_id value that can never name a real partition:
# stream batches are "stream-batch-N", compaction targets "compact-N",
# migrated legacy stores "legacy-0". One sentinel row per committed
# generation keeps the target visible through the reader's rule while
# the per-source rows (the manifest's growth term) are dropped.
_FOLD_SENTINEL = "manifest-fold"


def compact_manifest(sink: TableSink) -> dict:
    """Fold the compactions manifest itself — the documented escape hatch
    for the ~10^6-generation horizon where the whole-manifest read at the
    head of every maintenance run stops being a fixed cost. Each
    compaction commit appends one row PER FOLDED SOURCE; after N runs
    over M-batch windows the manifest holds N*M rows, of which only the
    N distinct targets still carry information once cleanup has deleted
    the source partitions. This verb rewrites the manifest to one
    sentinel row per committed generation (plus verbatim rows for any
    source still physically present, i.e. pending cleanup), shrinking it
    from O(total batches ever) to O(generations).

    Crash-safe with the same shape as ``compact_snapshots`` — an atomic
    single-file append as the commit point, then idempotent cleanup, and
    the reader needs NO new rule (a sentinel source hides a partition
    name that never exists):

    1. take the store's compaction lock (single maintenance writer);
    2. finish any crashed compaction's partition cleanup first, so every
       manifest source row is either physically gone (foldable) or
       knowingly kept;
    3. COMMIT POINT (parquet): append the folded rows as ONE file into
       the live manifest dir (coalesce(1) — a single task-file rename).
       The manifest is momentarily a superset of the needed rows;
       duplicates are harmless because every reader distincts.
       (Iceberg: one atomic ``overwrite(true)`` replaces the whole
       manifest with the folded rows — no crash window on that branch.)
    4. cleanup (parquet): delete the pre-append manifest part files
       (listing captured before the append). A crash anywhere in 4
       leaves a correct, merely larger manifest — re-running the verb
       finishes the shrink.

    Returns {"generations", "rows_before", "rows_after"}.
    """
    with _compaction_lock(sink):
        return _compact_manifest_locked(sink)


def _compact_manifest_locked(sink: TableSink) -> dict:
    man = _manifest(sink)
    if man is None:
        return {"generations": 0, "rows_before": 0, "rows_after": 0}
    cleanup_compacted(sink, man=man)
    rows_before = man.count()
    store = sorted(_store_sids(sink))
    if store:
        pending = man.join(
            sink.spark.createDataFrame(
                pd.DataFrame({"source_sid": store}), "source_sid string"
            ),
            "source_sid",
            "left_semi",
        )
    else:
        pending = man.limit(0)
    folded = (
        man.groupBy("target_sid")
        .agg(F.max("compacted_at").alias("compacted_at"))
        .withColumn("source_sid", F.lit(_FOLD_SENTINEL))
        .select("target_sid", "source_sid", "compacted_at")
        .unionByName(pending.select("target_sid", "source_sid", "compacted_at"))
        .coalesce(1)
    )
    if sink.iceberg:
        # ONE atomic commit: the folded rows replace the whole manifest
        # (overwrite(true)). No crash window at all on this branch, and a
        # re-run is idempotent — an append+DELETE protocol here would
        # instead accumulate one stale sentinel set per fold (the DELETE
        # cannot tell this fold's sentinels from the last one's).
        ident = sink._ident("compactions")
        folded = folded.persist()
        try:
            n_after = folded.count()
            gens = folded.where(F.col("source_sid") == _FOLD_SENTINEL).count()
            folded.writeTo(ident).overwrite(F.lit(True))
        finally:
            folded.unpersist()
        return {
            "generations": int(gens),
            "rows_before": int(rows_before),
            "rows_after": int(n_after),
        }
    # parquet branch: capture the pre-append data files, append the fold
    # as one file, then delete the captured files
    jvm = sink.spark._jvm  # noqa: SLF001
    conf = sink.spark._jsc.hadoopConfiguration()  # noqa: SLF001
    man_path = jvm.org.apache.hadoop.fs.Path(sink._path("compactions"))
    fs = man_path.getFileSystem(conf)
    old_files = [
        st.getPath()
        for st in fs.listStatus(man_path)
        if st.isFile() and not st.getPath().getName().startswith("_")
    ]
    folded = folded.persist()
    try:
        n_after = folded.count()
        gens = folded.where(
            F.col("source_sid") == _FOLD_SENTINEL
        ).count()
        # 3. commit point: one-file append (coalesce(1) above)
        sink.append("compactions", folded, partitioned=False)
    finally:
        folded.unpersist()
    # 4. idempotent cleanup of the superseded part files
    for p in old_files:
        if fs.exists(p):
            fs.delete(p, False)
    return {
        "generations": int(gens),
        "rows_before": int(rows_before),
        "rows_after": int(n_after),
    }


def migrate_legacy_store(sink: TableSink) -> bool:
    """One-time layout migration for streaming stores written BEFORE the
    snapshot-partitioned exactly-once layout: a legacy store has top-level
    ``bucket=*`` directories; mixing a new ``source_snapshot_id=*`` write
    into it would make the whole store unreadable ('conflicting directory
    structures'). Moves every top-level ``bucket=*`` dir under
    ``source_snapshot_id=legacy-0/``. Idempotent: a crash mid-way leaves a
    mixed layout that the next call finishes migrating (each move is one
    directory rename). Returns True if anything was moved."""
    if sink.iceberg or sink.out_dir is None:
        return False
    root = sink._path("triples")
    jvm = sink.spark._jvm  # noqa: SLF001
    conf = sink.spark._jsc.hadoopConfiguration()  # noqa: SLF001
    root_path = jvm.org.apache.hadoop.fs.Path(root)
    fs = root_path.getFileSystem(conf)
    # scheme-agnostic detection (HDFS/S3A/local alike): the rest of the
    # snapshot machinery (replace_snapshot, cleanup_compacted) already
    # goes through the Hadoop FileSystem API — a local-only os.listdir
    # here would silently skip migration on remote stores and the first
    # snapshot-partitioned write would then produce a mixed layout
    if not fs.exists(root_path):
        return False
    legacy = [
        st.getPath().getName()
        for st in fs.listStatus(root_path)
        if st.isDirectory() and st.getPath().getName().startswith("bucket=")
    ]
    if not legacy:
        return False
    dest_root = jvm.org.apache.hadoop.fs.Path(
        root, "source_snapshot_id=legacy-0"
    )
    if not fs.exists(dest_root):
        fs.mkdirs(dest_root)
    for d in legacy:
        src = jvm.org.apache.hadoop.fs.Path(root, d)
        # Hadoop FileSystem.rename signals failure by RETURNING FALSE, not
        # by raising — a swallowed failure would leave a mixed layout that
        # makes every later read fail, while this function claims success
        if not fs.rename(src, jvm.org.apache.hadoop.fs.Path(dest_root, d)):
            raise IOError(
                f"legacy-store migration failed to move {src} under "
                f"{dest_root}; store layout left partially migrated "
                "(re-running the stream retries the remaining moves)"
            )
    return True
