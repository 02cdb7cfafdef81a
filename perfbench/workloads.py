"""The two workloads: input preparation (set-up), the timed operation,
and the output checks that run after it; plus the CLI outputs and the short
stream the traced run adds.

Every operation calls only public functions of ``kgpipe``, in the shape the
CLI (``kgpipe/run.py``) or the streaming materializer uses them.
"""

from __future__ import annotations

import glob
import os
import random
import shutil
import statistics
from collections import Counter
from contextlib import nullcontext
from dataclasses import dataclass

import pyarrow.parquet as pq

from . import corpus

N_BUCKETS = 16  # the CLI's --buckets default
STREAM_BUCKETS = 8  # run_incremental_materialize's default
SAMPLE_CONVS = 6
FILES_PER_CORE = 3
# turns per timed operation (README.md, "Budget", for how they were set)
AGENT_TURNS = 10_000
CLINICAL_TURNS = 8_000


@dataclass
class Ctx:
    """Everything a workload needs, built once per run."""

    spark: object
    work: str
    seed: int
    cores: int
    gaz: object
    bl: frozenset
    cfg: object
    turns: int = 0
    input_dir: str = ""
    warm_dir: str = ""  # the warm-up input (see warm_up)
    sample: tuple = ()  # (conversations, expected triples), see sample_convs

    def transcripts(self):
        return self.spark.read.parquet(self.input_dir)


def _set_split_size(ctx: Ctx, path: str) -> None:
    """One read split per input file: the files are written three per core,
    and the default packing would fold them into ``cores`` splits, so the
    slowest task would set the wall."""
    largest = max(os.path.getsize(f) for f in glob.glob(os.path.join(path, "*.parquet")))
    ctx.spark.conf.set("spark.sql.files.maxPartitionBytes", str(largest + 1))


# ---------------------------------------------------------------- inputs


def generate(name: str, seed: int):
    """The workload's generated table(s); pure function of (name, seed)."""
    if name == "clinical-dense":
        return corpus.driver_tables(CLINICAL_TURNS, seed)
    return corpus.agent_corpus(AGENT_TURNS, seed)


def write_inputs(ctx: Ctx, name: str, data) -> None:
    """Write the generated inputs where the timed operation reads them
    (``derive_transcripts`` writes the clinical corpus in 3 splits per core
    itself)."""
    ctx.input_dir = os.path.join(ctx.work, "input")
    if name == "clinical-dense":
        from kgpipe.fixtures import derive_transcripts

        events, documents = data
        sf = os.path.join(ctx.work, "sf")
        os.makedirs(sf, exist_ok=True)
        pq.write_table(events, os.path.join(sf, "events.parquet"))
        pq.write_table(documents, os.path.join(sf, "documents.parquet"))
        derive_transcripts(ctx.spark, sf).write.parquet(ctx.input_dir)
        ctx.turns = events.num_rows
    else:
        corpus.write_parquet_files(data, ctx.input_dir, FILES_PER_CORE * ctx.cores, ctx.seed)
        ctx.turns = data.num_rows
    _set_split_size(ctx, ctx.input_dir)


WARM_FRACTION = 4  # the warm-up input holds 1/WARM_FRACTION of every file


def warm_up(ctx: Ctx, name: str) -> None:
    """One untimed operation over every input file cut to its first quarter
    of rows: it spawns the Python workers, fills their per-word memos and
    runs the same tasks and file writes as a timed operation, so the JVM
    compiles the same hot paths and generated code, at a quarter of the
    per-turn work."""
    ctx.warm_dir = os.path.join(ctx.work, "warm-input")
    os.makedirs(ctx.warm_dir, exist_ok=True)
    for f in sorted(glob.glob(os.path.join(ctx.input_dir, "*.parquet"))):
        table = pq.read_table(f)
        pq.write_table(table.slice(0, table.num_rows // WARM_FRACTION),
                       os.path.join(ctx.warm_dir, os.path.basename(f)))
    full, ctx.input_dir = ctx.input_dir, ctx.warm_dir
    out = os.path.join(ctx.work, "warm-output")
    try:
        op(ctx, name, out)
    finally:
        ctx.input_dir = full
        ctx.spark.catalog.clearCache()
    shutil.rmtree(out, ignore_errors=True)


# ---------------------------------------------------------- timed operations


# fused: the CLI's --fused path; structured: its default (kgpipe/run.py:139-150)
FUSED = {"agent-sparse": True, "clinical-dense": False}


def op(ctx: Ctx, name: str, out: str, tracer=None) -> None:
    """The timed operation: build_triples on the workload's path, committed
    through run_with_resume as the CLI does."""
    from kgpipe.materialize import run_with_resume
    from kgpipe.pipeline import build_triples

    span = tracer.span("materialize.run_with_resume") if tracer else nullcontext()
    with span:
        run_with_resume(
            ctx.spark, ctx.transcripts(), out,
            lambda df: build_triples(df, ctx.gaz, ctx.bl, ctx.cfg, fused=FUSED[name]),
            run_id="bench", source_snapshot_id="snap0", n_buckets=N_BUCKETS,
        )


def write_cli_outputs(ctx: Ctx, out: str, tracer) -> None:
    """The CLI's --tsv --timelines --graph --anafora outputs next to the
    store under ``out`` (kgpipe/run.py:151-233): the two read-back views
    of the committed triples, one directory per patient, then a second
    annotation pass feeding the edges, nodes and anafora outputs. Used by
    the traced run only."""
    from pyspark.sql import functions as F

    from kgpipe.anafora import anafora_documents
    from kgpipe.canon import canonical_nodes
    from kgpipe.graph import cross_turn_event_edges
    from kgpipe.materialize import TableSink
    from kgpipe.pipeline import (
        build_annotations, summarized_timelines, triples_output_view,
    )

    triples = TableSink(ctx.spark, out_dir=out).read("triples")
    for name, view in (("tsv", triples_output_view), ("timelines", summarized_timelines)):
        with tracer.span(f"pipeline.{name}"):
            (
                view(triples).withColumn("pid", F.col("patient_id"))
                .write.mode("overwrite").partitionBy("pid")
                .option("sep", "\t").option("header", True)
                .csv(os.path.join(out, name))
            )
    transcripts = ctx.transcripts()
    with tracer.span("pipeline.build_annotations"):
        ann = build_annotations(transcripts, ctx.gaz, ctx.bl, ctx.cfg)
        # compute the persisted tables here, so the annotation pass is
        # attributed to this span rather than to the first branch reading it
        for key in ("mentions", "timexes"):
            ann[key].write.format("noop").mode("overwrite").save()
    with tracer.span("graph.cross_turn_edges"):
        cross_turn_event_edges(ann["mentions_f"], ctx.cfg).write.mode(
            "overwrite").parquet(os.path.join(out, "edges"))
    with tracer.span("canon.canonical_nodes"):
        canonical_nodes(ann["mentions_f"]).write.mode("overwrite").parquet(
            os.path.join(out, "nodes"))
    with tracer.span("anafora.documents"):
        anafora_documents(ann["mentions"], ann["timexes"]).write.mode(
            "overwrite").parquet(os.path.join(out, "anafora"))


def stream_and_compact(ctx: Ctx, input_dir: str, out: str, tracer) -> list:
    """Drain ``input_dir`` one file per trigger into the snapshot-partitioned
    store, then compact it. Returns the micro-batches' progress reports."""
    from kgpipe.materialize import TableSink, compact_snapshots
    from kgpipe.streaming import run_incremental_materialize

    with tracer.span("streaming.run_incremental_materialize"):
        query = run_incremental_materialize(
            ctx.spark, input_dir, out,
            out + "-checkpoint", ctx.gaz, ctx.bl, ctx.cfg,
            n_buckets=STREAM_BUCKETS, max_files_per_trigger=1,
            timeout_sec=150.0,
        )
    with tracer.span("materialize.compact_snapshots"):
        compact_snapshots(TableSink(ctx.spark, out_dir=out))
    return [p for p in query.recentProgress if p["numInputRows"] > 0]


# ------------------------------------------------------------------ checks


def expected_triples(ctx: Ctx, transcripts_pdf) -> Counter:
    """In-process recomputation of ``transcripts_pdf``'s triples through
    ``pair.turn_triples``, as a multiset of row tuples."""
    import pandas as pd

    from kgpipe.pair import turn_triples
    from kgpipe.schemas import TRIPLE_SCHEMA

    cols = TRIPLE_SCHEMA.fieldNames()
    out = Counter()
    for r in transcripts_pdf.itertuples(index=False):
        ts = None if pd.isna(r.ts) else r.ts
        for t in turn_triples(r.conv_id, r.turn_idx, r.role, r.tool, ts, r.text,
                              ctx.gaz, ctx.bl, ctx.cfg):
            out[tuple(t[c] for c in cols)] += 1
    return out


def sample_convs(ctx: Ctx) -> tuple:
    """A seeded sample of conversations, the hot one excluded (its
    in-process recomputation would dominate the check)."""
    from pyspark.sql import functions as F

    if not ctx.sample:
        sizes = ctx.transcripts().groupBy("conv_id").count().collect()
        sizes.sort(key=lambda r: r["conv_id"])
        hot = max(r["count"] for r in sizes)
        pool = [r["conv_id"] for r in sizes if r["count"] < hot]
        convs = random.Random(ctx.seed).sample(pool, min(SAMPLE_CONVS, len(pool)))
        pdf = ctx.transcripts().where(F.col("conv_id").isin(convs)).toPandas()
        ctx.sample = (convs, expected_triples(ctx, pdf))
    return ctx.sample


def check_store(ctx: Ctx, out: str, stream: bool) -> list:
    """Failures (empty when correct) of the triple store under ``out``.
    ``stream`` marks the traced run's short-stream store: it was built from
    part of the input, so the sampled conversations are not recomputed, and
    it must hold no triple twice after compaction."""
    from pyspark.sql import functions as F

    from kgpipe.materialize import TableSink, read_triples
    from kgpipe.schemas import TRIPLE_SCHEMA

    cols = TRIPLE_SCHEMA.fieldNames()
    sink = TableSink(ctx.spark, out_dir=out)
    store = read_triples(sink)
    if store is None:
        return ["no triple store written"]
    fails = []
    if not stream:
        convs, expected = sample_convs(ctx)
        got = Counter(tuple(r) for r in store.where(F.col("conv_id").isin(convs))
                      .select(cols).collect())
        if got != expected:
            fails.append(
                f"sampled conversations differ from turn_triples: "
                f"{sum((got - expected).values())} extra, "
                f"{sum((expected - got).values())} missing rows"
            )
    n = store.count()
    lineage = sink.read("lineage")
    by_run = {
        r["kind"]: r["n"]
        for r in lineage.groupBy(
            F.regexp_extract("run_id", r"^([a-z]+)", 1).alias("kind")
        ).agg(F.sum("triple_count").alias("n")).collect()
    }
    # the stream store's lineage holds one row set per micro-batch and one
    # per compaction; each set must account for every visible row once
    kinds = ("incr", "compact") if stream else ("bench",)
    for k in kinds:
        if by_run.get(k) != n:
            fails.append(f"store has {n} rows, lineage {k!r} counts {by_run.get(k)}")
    if stream and store.select(cols).distinct().count() != n:
        fails.append("a triple is present twice after compaction")
    return fails


def _csv_rows(path: str) -> int:
    rows = 0
    for f in glob.glob(os.path.join(path, "pid=*", "*.csv")):
        with open(f, "rb") as fh:
            rows += max(0, sum(1 for _ in fh) - 1)
    return rows


def _parquet_rows(path: str) -> int:
    return sum(pq.ParquetFile(f).metadata.num_rows
               for f in glob.glob(os.path.join(path, "*.parquet")))


def check_cli_outputs(out: str) -> list:
    """The CLI outputs of ``write_cli_outputs`` must be non-empty."""
    fails = [f"{sub} output is empty" for sub in ("edges", "nodes", "anafora")
             if _parquet_rows(os.path.join(out, sub)) == 0]
    return fails + [f"{sub} output is empty" for sub in ("tsv", "timelines")
                    if _csv_rows(os.path.join(out, sub)) == 0]


# -------------------------------------------------------- workload properties


def properties(ctx: Ctx, sample_pdf) -> dict:
    """Counters describing the workload's input: share of turns with an
    entity mention / a timex, median turn length, hot-conversation share."""
    from kgpipe.annotate import annotate_turn
    import pandas as pd

    hit = tmx = 0
    for r in sample_pdf.itertuples(index=False):
        ts = None if pd.isna(r.ts) else r.ts
        _, _, ments, tx = annotate_turn(r.conv_id, r.turn_idx, r.text, ts,
                                        ctx.gaz, ctx.bl, ctx.cfg,
                                        with_token_rows=False)
        hit += bool(ments)
        tmx += bool(tx)
    n = len(sample_pdf)
    sizes = ctx.transcripts().groupBy("conv_id").count().collect()
    return {
        "turns": ctx.turns,
        "hit_turn_frac": hit / n,
        "timex_turn_frac": tmx / n,
        "median_chars_per_turn": statistics.median(
            len(t or "") for t in sample_pdf["text"]),
        "hot_conv_turn_frac": max(r["count"] for r in sizes) / ctx.turns,
    }


def text_sample(ctx: Ctx, n: int):
    """A fixed seeded sample of ``n`` input turns as pandas, converted
    through Arrow as the Python workers receive them."""
    pdf = ctx.transcripts().toPandas()
    return pdf.sample(n=min(n, len(pdf)), random_state=ctx.seed)
