"""The traced run: per-layer metrics, timed around calls into each layer's
public functions from the benchmark's own code.

Three methods, one per kind of layer (see README.md for the table of which
end-to-end metric each should move):

* per-turn kernel phases, single process and no Spark, on a fixed seeded
  sample of the workload's corpus after the memos are warm;
* walls of Spark plans: the CLI's output branches as written after the
  traced operation, and ``noop``-sink walls of the scan, the fused build and
  the structured build as a chain of prefixes whose consecutive differences
  are the layers' self times;
* the Spark event log of the CLI job, i.e. the traced operation and its
  outputs (jobs, stages, tasks, CPU, GC, shuffle, spill, skew, Python UDF
  scans), read after the session stops.
"""

from __future__ import annotations

import dataclasses
import glob
import os
import shutil
import statistics
import time

from . import eventlog, proctree, workloads

KERNEL_TURNS = 800
SMALL_STREAM_FILES = 4
# span of each CLI output branch (workloads.write_cli_outputs) -> its metric
BRANCHES = {
    "pipeline.tsv": "pipeline.tsv_view_s",
    "pipeline.timelines": "pipeline.timelines_s",
    "pipeline.build_annotations": "pipeline.build_annotations_s",
    "graph.cross_turn_edges": "graph.cross_turn_edges_s",
    "canon.canonical_nodes": "canon.canonical_nodes_s",
    "anafora.documents": "anafora.documents_s",
}


def _noop(tracer, name: str, build) -> float:
    with tracer.span(name) as s:
        build().write.format("noop").mode("overwrite").save()
    return s["end"] - s["start"]


def kernel_metrics(ctx) -> dict:
    """Per-turn µs of each kernel phase and hit/memo counters on sample B,
    after warming every memo on the disjoint sample A and on B itself."""
    import pandas as pd

    from kgpipe import timex
    from kgpipe.annotate import anchor_for, annotate_turn, full_anchor_for
    from kgpipe.pair import turn_triples
    from kgpipe.text import match_gazetteer, tokenize

    pdf = workloads.text_sample(ctx, 2 * KERNEL_TURNS)
    rows = [
        (r.conv_id, r.turn_idx, r.role, r.tool,
         None if pd.isna(r.ts) else r.ts, r.text or "")
        for r in pdf.itertuples(index=False)
    ]
    warm, rows = rows[: len(rows) // 2], rows[len(rows) // 2:]
    for c, i, role, tool, ts, text in warm:
        turn_triples(c, i, role, tool, ts, text, ctx.gaz, ctx.bl, ctx.cfg)
    n = len(rows)
    texts = [r[5] for r in rows]
    # memo hit rate on B's first pass (memos warm from A, B's words new)
    memos = (timex._word_quick_keys, timex._word_indicator_bits,
             timex._word_prefilters)
    before = [f.cache_info() for f in memos]
    for x in texts:
        timex.detect_timexes(x)
    after = [f.cache_info() for f in memos]
    hits = sum(a.hits - b.hits for a, b in zip(after, before))
    misses = sum(a.misses - b.misses for a, b in zip(after, before))
    m = {"timex.memo_hit_rate": hits / max(1, hits + misses)}
    per_turn_us = lambda sec: sec / n * 1e6  # noqa: E731

    # every phase below runs with the memos warm for B
    t = time.perf_counter()
    toks = [tokenize(x) for x in texts]
    m["text.tokenize_us_per_turn"] = per_turn_us(time.perf_counter() - t)

    t = time.perf_counter()
    matches = [
        match_gazetteer(tk, tm, nl, ctx.gaz, min_span=ctx.cfg.min_term_span,
                        all_spans=ctx.cfg.all_spans)
        for tk, tm, nl in toks
    ]
    m["text.gazetteer_us_per_turn"] = per_turn_us(time.perf_counter() - t)

    t = time.perf_counter()
    found = [timex.detect_timexes(x) for x in texts]
    m["timex.detect_us_per_turn"] = per_turn_us(time.perf_counter() - t)

    anchors = [full_anchor_for(r[4], anchor_for(r[4], r[5])) for r in rows]
    t = time.perf_counter()
    normed = [timex.normalize_timex(d["surface"], d["kind"], a)
              for ds, a in zip(found, anchors) for d in ds]
    m["timex.normalize_us_per_turn"] = per_turn_us(time.perf_counter() - t)

    t = time.perf_counter()
    for c, i, _role, _tool, ts, text in rows:
        annotate_turn(c, i, text, ts, ctx.gaz, ctx.bl, ctx.cfg)
    m["annotate.turn_us_per_turn"] = per_turn_us(time.perf_counter() - t)

    t = time.perf_counter()
    for c, i, role, tool, ts, text in rows:
        turn_triples(c, i, role, tool, ts, text, ctx.gaz, ctx.bl, ctx.cfg)
    m["pair.turn_triples_us_per_turn"] = per_turn_us(time.perf_counter() - t)

    detected = sum(len(d) for d in found)
    m.update({
        "annotate.hit_turn_frac": sum(bool(x) for x in matches) / n,
        "timex.hit_turn_frac": sum(bool(d) for d in found) / n,
        "text.gazetteer_matches_per_kturn": sum(len(x) for x in matches) / n * 1000,
        "timex.detected_per_kturn": detected / n * 1000,
        "timex.normalized_per_detected":
            sum(v is not None for v in normed) / max(1, detected),
    })
    return m


def structured_prefixes(ctx, tracer) -> dict:
    """Noop walls of the structured build's prefixes, each ending one layer
    later than the one before, and the self time of each layer."""
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from kgpipe.extract import annotate_union, assign_union_ids, filter_union
    from kgpipe.pair import pair_window, tlink_triples_from_pairs
    from kgpipe.pipeline import build_triples

    t, gaz, bl, cfg = ctx.transcripts(), ctx.gaz, ctx.bl, ctx.cfg
    ann = lambda: annotate_union(t, gaz, bl, cfg)  # noqa: E731
    filt = lambda: filter_union(ann(), bl, cfg)  # noqa: E731
    w1 = lambda: assign_union_ids(filt())  # noqa: E731

    def tlink():
        # build_triples' own sequence up to the scored tlink triples
        union = w1().persist(StorageLevel.MEMORY_AND_DISK)
        pairs = pair_window(union.where(F.col("kind_rank") == 0),
                            union.where(F.col("kind_rank") == 1))
        return tlink_triples_from_pairs(
            pairs, union.where(F.col("kind_rank") == 2), cfg)

    chain = [
        ("scan.s", lambda: t),
        ("extract.annotate_union_s", ann),
        ("extract.filter_union_s", filt),
        ("extract.w1_window_s", w1),
        ("pair.pair_score_s", tlink),
        ("pipeline.build_triples_s",
         lambda: build_triples(t, gaz, bl, cfg, fused=False)),
    ]
    m, prev = {}, None
    for name, build in chain:
        m[name] = _noop(tracer, name, build)
        ctx.spark.catalog.clearCache()
        if prev is not None:
            m[name[:-2] + "_self_s"] = m[name] - m[prev]
        prev = name
    return m


def stream_metrics(progress: list) -> dict:
    dur = [p["durationMs"] for p in progress]
    med = lambda k: statistics.median(d.get(k, 0) for d in dur) / 1000  # noqa: E731
    trig = [d["triggerExecution"] / 1000 for d in dur]
    return {
        "streaming.batches": len(dur),
        "streaming.add_batch_s_p50": med("addBatch"),
        "streaming.query_planning_s_p50": med("queryPlanning"),
        "streaming.wal_commit_s_p50": med("walCommit"),
        "streaming.batch_s_p50": statistics.median(trig),
        "streaming.batch_s_p75": statistics.quantiles(trig, n=4, method="inclusive")[2],
    }


def _tree_stats(path: str):
    files, size = 0, 0
    for base, _dirs, names in os.walk(path):
        for f in names:
            size += os.path.getsize(os.path.join(base, f))
            files += f.endswith(".parquet")
    return files, size / 2**20


def traced_run(ctx, name: str, tracer) -> dict:
    """Everything but the event-log metrics, which ``finish`` adds once the
    session has stopped and the log is complete."""
    from kgpipe.pipeline import build_triples

    m, fails = {}, []
    out = os.path.join(ctx.work, "traced-op")
    with proctree.PeakRss() as rss, tracer.span("op") as op:
        workloads.op(ctx, name, out, tracer)
    m["process.peak_rss_mb"] = rss.peak_mb
    m["trace.turns_per_s"] = ctx.turns / (op["end"] - op["start"])
    # the rest of the CLI job: the --tsv --timelines --graph --anafora
    # outputs, kept out of the timed operation (README.md, "Budget"); each
    # branch's wall is its span
    with tracer.span("cli_outputs"):
        workloads.write_cli_outputs(ctx, out, tracer)
    for span, metric in BRANCHES.items():
        m[metric] = tracer.duration(span)
    fails += workloads.check_cli_outputs(out)
    ctx.spark.catalog.clearCache()
    fails += workloads.check_store(ctx, out, stream=False)
    m["materialize.files_written"], m["materialize.bytes_written_mb"] = (
        _tree_stats(os.path.join(out, "triples")))
    # the build alone, same input: the commit's wall minus this is the write
    build_s = _noop(tracer, "materialize.build_noop", lambda: build_triples(
        ctx.transcripts(), ctx.gaz, ctx.bl, ctx.cfg, fused=workloads.FUSED[name]))
    m["materialize.write_s"] = tracer.duration("materialize.run_with_resume") - build_s

    with tracer.span("kernel"):
        m.update(kernel_metrics(ctx))
    # plan walls and the short stream read the warm-up input (a quarter of
    # every file), which keeps the traced run inside its time limit
    small = dataclasses.replace(ctx, input_dir=ctx.warm_dir)
    with tracer.span("plans"):
        m["pair.fused_udf_s"] = _noop(
            tracer, "pair.fused_udf_s",
            lambda: build_triples(small.transcripts(), ctx.gaz, ctx.bl, ctx.cfg, fused=True))
        m.update(structured_prefixes(small, tracer))

    # a short stream, one warm-up input file per trigger, then its compaction
    stream_in = os.path.join(ctx.work, "stream-input")
    os.makedirs(stream_in, exist_ok=True)
    for f in sorted(glob.glob(os.path.join(ctx.warm_dir, "*.parquet")))[:SMALL_STREAM_FILES]:
        shutil.copy(f, stream_in)
    sout = os.path.join(ctx.work, "stream-out")
    with tracer.span("stream"):
        progress = workloads.stream_and_compact(ctx, stream_in, sout, tracer)
    m.update(stream_metrics(progress))
    m["materialize.compact_s"] = tracer.duration("materialize.compact_snapshots")
    m["materialize.bytes_rewritten_mb"] = sum(_tree_stats(p)[1] for p in glob.glob(
        os.path.join(sout, "triples", "source_snapshot_id=compact-*")))
    fails += workloads.check_store(ctx, sout, stream=True)
    for f in fails:
        print(f"check failed: {f}", flush=True)
    return {"correct": not fails, "attempted": 1, "failed": int(bool(fails)),
            "metrics": m}


def finish(ctx, tracer, result: dict, setup: dict, spans_path: str) -> dict:
    """Add the event-log and set-up metrics, write the spans file."""
    tracer.dump(spans_path)
    # the CLI job: the traced operation and its four outputs
    job = [s for s in tracer.spans if s["name"] in ("op", "cli_outputs")]
    events = eventlog.read_events(os.path.join(ctx.work, "eventlog"))
    result["metrics"].update(eventlog.summarize(
        events, job[0]["wall_start"] * 1000, job[-1]["wall_end"] * 1000))
    result["metrics"].update(setup)
    return result
