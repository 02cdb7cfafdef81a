"""Structured Streaming ingest: transcripts landing as files -> triples,
incrementally and exactly-once.

The reference is batch-only (TSV at collection end, timeline_delegator.py:
385-399); the batch pipeline here is Structured-Streaming-ready because the
fused extraction is stateless per turn (SURVEY.md §2.9). This module is that
claim made real: the SAME ``turn_triples`` logic runs over a streaming
file source, so a directory where transcript parquet files keep landing
becomes a continuously-materializing triple store.

* source: every shape reads the one streaming parquet source of
  TRANSCRIPTS_SCHEMA rows (``_transcripts``) — file-source bookkeeping
  (plus ``maxFilesPerTrigger``) gives incremental, replay-safe input
  batching.
* shapes, each returning a streaming DataFrame: ``stream_triples`` (the
  fused ingest — mapInArrow is fully streaming-compatible, zero stateful
  operators), ``stateful_conversation_stats`` (keyed custom state),
  ``windowed_turn_counts`` (watermarked window), ``prompt_response_pairs``
  (stream-stream join), ``dedup_turns`` (watermarked dedup) and
  ``enriched_turns`` (stream-static join).
* sink: ``drain_parquet(shape(...), output_dir, checkpoint_dir)`` — parquet
  + checkpointLocation -> exactly-once file sink, drained with an
  availableNow trigger (everything currently in the directory, then stop:
  the pattern for incremental backfill jobs); the checkpoint is the
  streaming analog of the lineage table's partition-granular resume
  (kgpipe.materialize). ``run_incremental_materialize`` drains the fused
  triples through ``foreachBatch`` into the bucketed triple store instead.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .config import DEFAULT_CONFIG, PipelineConfig
from .pair import fused_triples
from .schemas import TRANSCRIPTS_SCHEMA
from .worker import worker_body

__all__ = [
    "drain_parquet",
    "stream_triples",
    "stateful_conversation_stats",
    "windowed_turn_counts",
    "prompt_response_pairs",
    "dedup_turns",
    "enriched_turns",
    "run_incremental_materialize",
]


def _transcripts(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int | None
) -> DataFrame:
    """The streaming transcript source every shape reads."""
    reader = spark.readStream.schema(TRANSCRIPTS_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(input_dir)


def _drain(writer, checkpoint_dir: str, timeout_sec: float | None):
    """Start ``writer`` on ``checkpoint_dir`` with an availableNow trigger
    and wait until it has drained its input. Returns the stopped query.

    The timeout is LOUD: a drain that outlives its budget must not return
    control while the query is still running — the caller would start a
    second query on the same checkpoint (state corruption) or read partial
    output — so the query is stopped and TimeoutError raised."""
    query = (
        writer.option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if timeout_sec is None:
        query.awaitTermination()
    elif not query.awaitTermination(timeout_sec):
        query.stop()
        raise TimeoutError(
            f"streaming drain exceeded {timeout_sec}s (query {query.name or query.id})"
        )
    return query


def drain_parquet(
    df: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    timeout_sec: float | None = 300.0,
):
    """Drain the streaming ``df`` into a parquet append sink at
    ``output_dir``: everything its source holds now, exactly once across
    reruns on the same ``checkpoint_dir`` (a rerun processes only input
    that landed since). Returns the stopped query."""
    return _drain(
        df.writeStream.format("parquet")
        .option("path", output_dir)
        .outputMode("append"),
        checkpoint_dir,
        timeout_sec,
    )


def stream_triples(
    spark: SparkSession,
    input_dir: str,
    gazetteer,
    blacklist,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming DataFrame of triples over a transcript parquet directory."""
    transcripts = _transcripts(spark, input_dir, max_files_per_trigger)
    return fused_triples(transcripts, gazetteer, blacklist, cfg)


def windowed_turn_counts(
    spark: SparkSession,
    input_dir: str,
    *,
    window_days: int = 1,
    watermark: str = "2 days",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Watermarked event-time windowed aggregation: turns per (conv_id,
    tumbling day window), append mode.

    The watermark bounds state: a window is finalized (emitted + its state
    dropped) once the max seen event time passes window.end + watermark, and
    rows arriving later than the watermark are discarded — the late-data
    contract pytest pins down. This is the third streaming shape next to
    the stateless ingest and the keyed custom state: built-in windowed agg
    with state eviction, the piece a 10^12-turn continuously-ingesting
    deployment uses for rollups.

    Append mode emits a window only once it is finalized, so windows still
    open when a drain exhausts the input are NOT in its output — the
    deliberate semantics of a forever-running ingest (they emit on a later
    batch)."""
    t = _transcripts(spark, input_dir, max_files_per_trigger)
    return (
        t.where(F.col("ts").isNotNull())
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", f"{window_days} day"), F.col("conv_id"))
        .agg(F.count(F.lit(1)).alias("n_turns"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "conv_id",
            "n_turns",
        )
    )


def enriched_turns(
    spark: SparkSession,
    input_dir: str,
    dim: DataFrame,
    *,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Stream-static enrichment join: the streaming transcript source
    joined against a STATIC dimension table keyed on conv_id — the fifth
    streaming shape (next to stateless ingest, keyed custom state,
    windowed agg, stream-stream join, dedup). Stream-static joins are
    stateless on the stream side: each micro-batch joins the static
    relation as-of execution, so a broadcastable dim costs no streaming
    state at all — the shape a 10^12-turn ingest uses to attach slowly-
    changing metadata (tenant, cohort, routing) to every turn. Joins
    against a static relation commute with micro-batching, so the drained
    output equals the batch join exactly."""
    t = _transcripts(spark, input_dir, max_files_per_trigger)
    return t.join(dim, "conv_id")


def dedup_turns(
    spark: SparkSession,
    input_dir: str,
    *,
    watermark: str = "1 day",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming exactly-once-ification of an at-least-once source:
    ``dropDuplicatesWithinWatermark`` on the turn key (conv_id, turn_idx).

    File/queue sources redeliver on retry; this operator makes the triple
    factory idempotent to that by keeping per-key dedup state whose
    lifetime is bounded by the event-time watermark — a redelivery within
    the watermark window is dropped even when it lands in a LATER
    micro-batch (the cross-batch case the pytest pins); state for keys
    older than the watermark is evicted, so state size tracks the
    watermark-window key count, not the stream's history. Turns with a
    NULL ts carry no event time and are excluded up front — the operator
    requires one, so "equals the batch corpus" means the batch corpus
    restricted to timestamped turns (the X3 ts-less fixture turns are out
    of scope for the streaming path). This is the fourth streaming shape
    next to stateless ingest, keyed custom state, and the watermarked
    windowed aggregate (SURVEY.md §2.9).

    ``max_files_per_trigger=1`` gives one micro-batch per input file, so
    redeliveries in later files meet the dedup state of earlier batches
    (the cross-batch case)."""
    t = _transcripts(spark, input_dir, max_files_per_trigger)
    return (
        t.where(F.col("ts").isNotNull())
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["conv_id", "turn_idx"])
    )


_STATE_OUT_SCHEMA = (
    "conv_id string, n_turns long, n_roles int, "
    "first_date date, last_date date, total_chars long"
)
# roles kept as a JSON-encoded sorted list: bounded (role vocabulary is
# tiny), flat state structs serialize cheaply, and JSON is unambiguous for
# empty sets / empty-string roles / separator characters inside a role
_STATE_SCHEMA = (
    "n_turns long, roles string, first_date string, last_date string, "
    "total_chars long"
)


@worker_body
def _update_conv_state(key, pdfs: Iterator[pd.DataFrame], state):
    """Custom stateful operator body: merge this micro-batch's turns for one
    conversation into the running state, emit the cumulative snapshot."""
    import json

    n_turns, roles_s, first_d, last_d, total_chars = (
        state.get if state.exists else (0, "[]", None, None, 0)
    )
    roles = set(json.loads(roles_s))
    for pdf in pdfs:
        n_turns += len(pdf)
        roles |= set(pdf["role"].dropna())
        total_chars += int(pdf["text"].fillna("").str.len().sum())
        dates = pd.to_datetime(pdf["ts"]).dropna().dt.strftime("%Y-%m-%d")
        if len(dates):
            lo, hi = dates.min(), dates.max()
            first_d = lo if first_d is None or lo < first_d else first_d
            last_d = hi if last_d is None or hi > last_d else last_d
    state.update(
        (n_turns, json.dumps(sorted(roles)), first_d, last_d, total_chars)
    )
    yield pd.DataFrame(
        {
            "conv_id": [key[0]],
            "n_turns": [n_turns],
            "n_roles": [len(roles)],
            "first_date": [pd.Timestamp(first_d).date() if first_d else None],
            "last_date": [pd.Timestamp(last_d).date() if last_d else None],
            "total_chars": [total_chars],
        }
    )


def stateful_conversation_stats(
    spark: SparkSession,
    input_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Custom stateful streaming operator (SURVEY.md §2.9 extension):
    per-conversation running stats via ``applyInPandasWithState``.

    State (one flat struct per conv_id) carries cumulative turn count, the
    distinct-role set, anchor-date span, and char volume across micro-
    batches; each batch a conversation appears in emits its updated
    cumulative snapshot (append mode), so the LAST snapshot per key equals
    the batch aggregate over the full input — the oracle relation. The
    shuffle is the single groupBy(conv_id) Spark requires for keyed state;
    state lives in the checkpoint's state store (RocksDB/HDFS-backed on a
    cluster), so a 10^12-turn keyed-state job scales with executors exactly
    like any aggregation. With ``max_files_per_trigger`` below the input's
    file count a drain spans several micro-batches, so the state carries
    across batch boundaries."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    transcripts = _transcripts(spark, input_dir, max_files_per_trigger)
    return transcripts.groupBy("conv_id").applyInPandasWithState(
        _update_conv_state,
        _STATE_OUT_SCHEMA,
        _STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )


def prompt_response_pairs(
    spark: SparkSession,
    input_dir: str,
    *,
    max_gap_hours: int = 12,
    watermark: str = "1 day",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Stream-stream event-time interval join — the fourth streaming shape
    next to stateless ingest, keyed custom state, and the watermarked
    window: user turns joined to the assistant turns that answer them
    within ``max_gap_hours`` of event time, both sides watermarked so the
    join state is evicted once the other side can no longer match
    (Spark buffers each side keyed by conv_id; the range condition plus the
    watermarks bound retention — the state-cleanup contract a forever-
    running 10^12-turn deployment needs).

    Inner stream-stream joins emit eagerly, so the drained output equals
    the batch join exactly (pytest + kg_prompt_response oracle)."""
    def side(role: str, prefix: str):
        return (
            _transcripts(spark, input_dir, max_files_per_trigger)
            .where((F.col("role") == role) & F.col("ts").isNotNull())
            .select(
                F.col("conv_id").alias(f"{prefix}_conv"),
                F.col("turn_idx").alias(f"{prefix}_turn"),
                F.col("ts").alias(f"{prefix}_ts"),
            )
            .withWatermark(f"{prefix}_ts", watermark)
        )

    u = side("user", "u")
    a = side("assistant", "a")
    j = u.join(
        a,
        F.expr(
            f"u_conv = a_conv AND a_ts >= u_ts "
            f"AND a_ts <= u_ts + interval {max_gap_hours} hours"
        ),
        "inner",
    )
    return j.select(
        F.col("u_conv").alias("conv_id"),
        F.col("u_turn").alias("user_turn"),
        F.col("a_turn").alias("assistant_turn"),
        F.col("u_ts").alias("user_ts"),
        F.col("a_ts").alias("assistant_ts"),
        (
            (F.unix_timestamp("a_ts") - F.unix_timestamp("u_ts")) / 60
        ).cast("bigint").alias("gap_minutes"),
    )


# --------------------------------------------------------------------------
# shape 7: incremental KG materialization — foreachBatch into the bucketed
# triple store with per-batch lineage rows (the north rule's "materialized
# graph lands as partitioned tables with per-partition lineage, resumable
# from checkpoint", driven by a stream instead of a batch run)
# --------------------------------------------------------------------------

def run_incremental_materialize(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    gazetteer,
    blacklist,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    n_buckets: int = 8,
    max_files_per_trigger: int | None = None,
    timeout_sec: float | None = 300.0,
):
    """Transcripts arriving as files -> fused triples -> ``foreachBatch``
    committing each micro-batch into the SAME bucketed triple store +
    lineage table the batch materializer uses (materialize.TableSink).

    Exactly-once story, layered:
    * the availableNow checkpoint guarantees each input file feeds exactly
      one COMMITTED batch across restarts;
    * each batch's triples land under their own ``source_snapshot_id``
      partition via ``TableSink.replace_snapshot`` — a redelivered batch
      (crash anywhere inside foreachBatch, or a rebuilt checkpoint)
      REPLACES its own snapshot partition wholesale instead of appending a
      second copy, so the triple store is exactly-once with no crash
      window;
    * a driver-side lineage gate — the committed ``source_snapshot_id`` set
      is read ONCE at stream start and carried in the closure (O(1) per
      batch; the streaming analog of the batch resume's completed_buckets
      check) — short-circuits redelivered batches entirely, skipping both
      the recompute and a duplicate lineage row. A crash between the triple
      write and the lineage append re-runs the batch on redelivery: the
      partition overwrite makes the re-write idempotent and lineage is
      appended exactly once.

    Snapshot ids are CHECKPOINT-scoped (``stream-batch-{batch_id}``): one
    store belongs to one checkpointed stream. Feeding the same store from
    a second, fresh checkpoint would reuse batch ids 0,1,… and the
    redelivery gate would wrongly skip them — append new input files to
    the same source dir and resume the same checkpoint instead (the
    continued stream numbers them as fresh batches).

    Returns the drained query.
    """
    from pyspark.sql import Observation

    from .materialize import (
        TableSink, append_lineage, bucket_clustered, migrate_legacy_store,
    )

    triples = stream_triples(
        spark, input_dir, gazetteer, blacklist, cfg,
        max_files_per_trigger=max_files_per_trigger,
    )
    sink = TableSink(spark, out_dir=out_dir, table_prefix=None)
    # stores written before the snapshot-partitioned layout hold top-level
    # bucket=* dirs; one new sid-partitioned batch would make the mixed
    # store unreadable — migrate them under source_snapshot_id=legacy-0
    # first (idempotent, no-op on new/empty stores)
    migrate_legacy_store(sink)

    # seed the gate once: one lineage read at stream start, then O(1)
    # membership per micro-batch (the per-batch full-table re-scan this
    # replaces grew with the store and ran even with no redelivery)
    lineage0 = sink.read("lineage")
    committed: set = (
        set()
        if lineage0 is None
        else {
            r.source_snapshot_id
            for r in lineage0.select("source_snapshot_id").distinct().collect()
        }
    )

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        sid = f"stream-batch-{batch_id}"
        if sid in committed:
            return  # redelivered batch: already committed, idempotent skip
        # the snapshot id is constant within a batch, so clustering on
        # bucket alone gives one file per (snapshot, bucket) partition; the
        # per-bucket counts are observed during that write
        obs = Observation(f"kg_stream_batch_{batch_id}")
        out, count_names = bucket_clustered(
            batch_df.withColumn("source_snapshot_id", F.lit(sid)),
            n_buckets, obs, count_buckets=range(n_buckets),
        )
        sink.replace_snapshot("triples", out, sid)
        observed = obs.get
        counts = [
            (b, observed[n]) for b, n in enumerate(count_names) if observed[n]
        ]
        append_lineage(
            sink,
            run_id=f"incr-{batch_id}",
            source_snapshot_id=sid,
            bucket_counts=counts,
            stage_timings={"batch_id": float(batch_id)},
        )
        committed.add(sid)

    return _drain(
        triples.writeStream.foreachBatch(commit), checkpoint_dir, timeout_sec
    )
