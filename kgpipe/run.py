"""spark-submit entry point (E1 recast).

    spark-submit --py-files kgpipe.zip -m ... kgpipe/run.py \
        --input /path/transcripts_parquet --output /tmp/kg_out \
        [--fused] [--buckets 64] [--run-id r1] [--resume]
        [--synthetic N_CONV TURNS] [--derive SF_DIR]

Reads a transcripts parquet (or synthesizes/derives one), materializes
bucket-partitioned triples + lineage, prints one JSON metrics line:
{"turns": N, "triples": M, "wall_sec": s, "turns_per_sec": r}.
"""

from __future__ import annotations

import argparse
import json
import sys
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .config import PipelineConfig
from .materialize import run_with_resume
from .pipeline import build_triples
from .resources import (
    Gazetteer,
    builtin_blacklist_terms,
    builtin_gazetteer_rows,
    load_blacklist,
    load_gazetteer_bsv,
)
from .session import get_spark


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--input", help="transcripts parquet path")
    p.add_argument("--synthetic", nargs=2, type=int, metavar=("N_CONV", "TURNS"))
    p.add_argument("--derive", help="derive transcripts from driver sf dir")
    p.add_argument("--output", required=True)
    p.add_argument("--gazetteer", help="CUI|TUI|term BSV path (default builtin)")
    p.add_argument("--blacklist", help="newline term list path (default builtin)")
    p.add_argument("--fused", action="store_true", help="zero-shuffle fused plan")
    p.add_argument("--use-dtr", action="store_true")
    p.add_argument("--use-conmod", action="store_true")
    p.add_argument("--buckets", type=int, default=16)
    p.add_argument("--run-id", default="run0")
    p.add_argument("--snapshot-id", default="snap0")
    p.add_argument(
        "--iceberg-table-prefix",
        help="write via Iceberg writeTo() to {prefix}_triples/{prefix}_lineage "
        "(requires the Iceberg Spark runtime + a configured catalog; falls "
        "back to parquet under --output when absent)",
    )
    p.add_argument(
        "--tsv", action="store_true",
        help="also write the reference-compatible TSV projection "
        "(unsummarized_output.tsv analog) under <output>/tsv",
    )
    p.add_argument(
        "--timelines", action="store_true",
        help="also write the SUMMARIZED per-patient timelines (the shared "
        "task's graded deliverable: deduplicated chemo/tlink/timex tuples "
        "with evidence counts) under <output>/timelines, one directory "
        "per patient",
    )
    p.add_argument(
        "--ntriples", action="store_true",
        help="also write the triples as RDF N-Triples text under "
        "<output>/ntriples (partitioned by conv_id bucket)",
    )
    p.add_argument(
        "--graph", action="store_true",
        help="also materialize cross-turn edges + canonical entity nodes "
        "under <output>/edges and <output>/nodes",
    )
    p.add_argument(
        "--anafora", action="store_true",
        help="also write per-turn Anafora XML documents under "
        "<output>/anafora",
    )
    p.add_argument(
        "--no-input-count", action="store_true",
        help="skip the upfront transcripts count() (an extra full input "
        "scan at 100-TB scale; turns/turns_per_sec become null in the "
        "metrics line)",
    )
    p.add_argument(
        "--compact", action="store_true",
        help="maintenance mode: fold the streaming store's per-micro-batch "
        "snapshot partitions under <output> into one compacted snapshot "
        "(crash-safe manifest protocol; no extraction is run)",
    )
    p.add_argument("--master", default=None)
    p.add_argument("--shuffle-partitions", type=int, default=None)
    args = p.parse_args(argv)

    spark = get_spark(
        "kgpipe-run", master=args.master, shuffle_partitions=args.shuffle_partitions
    )
    spark.sparkContext.setLogLevel("WARN")

    if args.compact:
        from .materialize import TableSink, compact_snapshots

        sink = TableSink(
            spark, out_dir=args.output, table_prefix=args.iceberg_table_prefix
        )
        res = compact_snapshots(sink)
        print(json.dumps(res))
        return 0

    if args.input:
        transcripts = spark.read.parquet(args.input)
    elif args.synthetic:
        from .fixtures import synthetic_transcripts_df

        transcripts = synthetic_transcripts_df(
            spark, n_conv=args.synthetic[0], turns_per_conv=args.synthetic[1]
        )
    elif args.derive:
        from .fixtures import derive_transcripts

        transcripts = derive_transcripts(spark, args.derive)
    else:
        p.error("one of --input / --synthetic / --derive required")

    gaz = (
        load_gazetteer_bsv(args.gazetteer)
        if args.gazetteer
        else Gazetteer.from_rows(builtin_gazetteer_rows())
    )
    bl = load_blacklist(args.blacklist) if args.blacklist else builtin_blacklist_terms()
    cfg = PipelineConfig(use_dtr=args.use_dtr, use_conmod=args.use_conmod)

    t0 = time.monotonic()
    n_turns = None if args.no_input_count else transcripts.count()
    result = run_with_resume(
        spark,
        transcripts,
        args.output,
        lambda df: build_triples(df, gaz, bl, cfg, fused=args.fused),
        run_id=args.run_id,
        source_snapshot_id=args.snapshot_id,
        n_buckets=args.buckets,
        table_prefix=args.iceberg_table_prefix,
    )
    extras = {}
    if args.tsv or args.timelines or args.ntriples:
        import os

        # read back through the same sink abstraction the writer used —
        # with --iceberg-table-prefix the triples live in the catalog, not
        # under <output>/triples
        from .materialize import TableSink, bucket_clustered

        sink = TableSink(
            spark, out_dir=args.output, table_prefix=args.iceberg_table_prefix
        )
        triples = sink.read("triples")
    if args.tsv:
        from .pipeline import triples_output_view

        tsv_path = os.path.join(args.output, "tsv")
        # one TSV directory per patient/conversation id — the reference's
        # output contract is "one tsv file per patient identifier"
        # (/root/reference/README.md:19,48); partitioning the write by
        # patient_id reproduces that layout distributed (each partition
        # directory holds that patient's rows only)
        (
            triples_output_view(triples)
            .withColumn("pid", F.col("patient_id"))
            .write.mode("overwrite")
            .partitionBy("pid")
            .option("sep", "\t")
            .option("header", True)
            .csv(tsv_path)
        )
        extras["tsv"] = tsv_path
    if args.timelines:
        from .pipeline import summarized_timelines

        tl_path = os.path.join(args.output, "timelines")
        (
            summarized_timelines(triples)
            .withColumn("pid", F.col("patient_id"))
            .write.mode("overwrite")
            .partitionBy("pid")
            .option("sep", "\t")
            .option("header", True)
            .csv(tl_path)
        )
        extras["timelines"] = tl_path
    if args.ntriples:
        from .pipeline import ntriples_view

        nt_path = os.path.join(args.output, "ntriples")
        (
            bucket_clustered(ntriples_view(triples), args.buckets)[0]
            .select("ntriple", "bucket")
            .write.mode("overwrite")
            .partitionBy("bucket")
            .text(nt_path)
        )
        extras["ntriples"] = nt_path
    if args.graph or args.anafora:
        import os

        from .pipeline import build_annotations

        ann = build_annotations(transcripts, gaz, bl, cfg)
        if args.graph:
            from .canon import canonical_nodes
            from .graph import cross_turn_event_edges

            edges_path = os.path.join(args.output, "edges")
            nodes_path = os.path.join(args.output, "nodes")
            cross_turn_event_edges(ann["mentions_f"], cfg).write.mode(
                "overwrite"
            ).parquet(edges_path)
            canonical_nodes(ann["mentions_f"]).write.mode("overwrite").parquet(
                nodes_path
            )
            extras["edges"] = edges_path
            extras["nodes"] = nodes_path
        if args.anafora:
            from .anafora import anafora_documents

            anafora_path = os.path.join(args.output, "anafora")
            anafora_documents(ann["mentions"], ann["timexes"]).write.mode(
                "overwrite"
            ).parquet(anafora_path)
            extras["anafora"] = anafora_path
    wall = time.monotonic() - t0
    print(
        json.dumps(
            {
                "turns": n_turns,
                "triples": result["triples_written"],
                "written_buckets": len(result["written_buckets"]),
                "skipped_buckets": len(result["skipped_buckets"]),
                "wall_sec": round(wall, 3),
                "turns_per_sec": round(n_turns / wall, 1)
                if (n_turns is not None and wall > 0) else None,
                "fused": args.fused,
                **extras,
            }
        )
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
