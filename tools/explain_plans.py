"""Physical-plan audit: assert the scale-critical plan properties and dump
the evidence to PLANS.md.

Checks (each is a hard assertion, so this doubles as a regression gate):

1. fused path — zero Exchange nodes and exactly one MapInArrow: the
   10^12-turn extraction is one narrow mapInArrow over the scan.
2. structured path — one hash exchange, keyed on (conv_id, turn_idx);
   exactly one Python node, the annotate MapInArrow; blacklist F2 is a
   BroadcastHashJoin (left anti), never a shuffled join.
3. column pruning — the transcripts scan reads only the 6 input columns
   even though downstream produces 9+ (ReadSchema check), and a
   predicate on the derived input pushes into the parquet scan
   (PushedFilters check).
4. brute-force top-k — the query side is a BroadcastNestedLoopJoin
   (broadcast dim table), not a shuffled cross product.
5. IVF index probe — the partitioned-by-list_id scan carries a
   dynamicpruning PartitionFilter (DPP): probes read n_probe partitions,
   never the full corpus.
6-20. the per-operator sections below, each with its own assertion.
21. one annotation product — build_graph's triples and edges read one
   shared cached union frame, whose plan holds the only annotate
   MapInArrow; no plan runs a MapInArrow outside it.
22. bucketed commit — the frame every bucketed write commits
   (materialize.bucket_clustered over the fused build) adds exactly one
   Exchange, a rebalance keyed on bucket, and observes its per-bucket
   counts in a CollectMetrics above that Exchange.

Usage: python tools/explain_plans.py [--write]  (--write refreshes PLANS.md)
"""

from __future__ import annotations

import atexit
import io
import re
import shutil
import sys
import tempfile
from contextlib import redirect_stdout

sys.path.insert(0, ".")

SF_DIR = "/root/testdata/sf0.01"


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def count(pattern: str, plan: str) -> int:
    return len(re.findall(pattern, plan))


def python_nodes(plan: str) -> set[tuple[str, str]]:
    """The distinct Python nodes (MapInArrow, MapInPandas, ArrowEvalPython,
    BatchEvalPython, ...) of a formatted plan's tree as (name, id): a cached
    subtree is printed under each of its readers with the same ids."""
    return set(re.findall(r"\b(\w*(?:Python|InPandas|InArrow)\w*) \((\d+)\)", plan))


def scratch_dir(prefix: str) -> str:
    """A new temporary directory, removed when the interpreter exits."""
    path = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


def keyed_exchange_args(plan: str) -> list[str]:
    """The hashpartitioning argument list of every shuffle Exchange, in both
    plan formats: simple mode prints 'Exchange hashpartitioning(...)' inline;
    formatted mode prints an '(N) Exchange' block whose Arguments: line
    carries the partitioning."""
    out = [
        ln for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln
    ]
    for m in re.finditer(
        r"^\(\d+\) Exchange[^\n]*\n(?:[^\n]*\n)*?Arguments: (hashpartitioning\([^\n]*)",
        plan, re.M,
    ):
        out.append(m.group(1))
    return out


def _name(node) -> str:
    return node.getClass().getSimpleName()


def plan_nodes(plan) -> list:
    """Every node of a JVM logical plan. Cached relations are leaves: the
    plan they cache is not walked."""
    out, stack = [], [plan]
    while stack:
        node = stack.pop()
        out.append(node)
        if _name(node) != "InMemoryRelation":
            children = node.children()
            stack.extend(children.apply(i) for i in range(children.size()))
    return out


def cached_reads(df) -> tuple[dict, int]:
    """({identity: CachedRDDBuilder} of every cached relation ``df`` reads,
    number of MapInArrow nodes outside those caches)."""
    identity = df.sparkSession._jvm.java.lang.System.identityHashCode
    nodes = plan_nodes(df._jdf.queryExecution().withCachedData())
    caches = {
        identity(n.cacheBuilder()): n.cacheBuilder()
        for n in nodes if _name(n) == "InMemoryRelation"
    }
    return caches, sum(_name(n) == "MapInArrow" for n in nodes)


def main() -> int:
    write = "--write" in sys.argv

    from pyspark.sql import functions as F

    import __spark_entry__ as E
    from kgpipe.config import DEFAULT_CONFIG
    from kgpipe.fixtures import derive_transcripts
    from kgpipe.pipeline import build_triples
    from kgpipe.session import get_spark
    from kgpipe.simsearch import brute_force_topk

    spark = get_spark(
        "explain-plans", master="local[4]", shuffle_partitions=8,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # static conf: needed at session creation for the bucketed
            # co-located join audit (section 13)
            "spark.sql.warehouse.dir": scratch_dir("kg_plans_wh_"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    # production shape: extraction reads the materialized transcripts table
    # (at scale: the Iceberg scan), not the test-only derivation join
    t_dir = scratch_dir("kg_plans_") + "/transcripts"
    derive_transcripts(spark, SF_DIR).write.mode("overwrite").parquet(t_dir)
    t = spark.read.parquet(t_dir)
    sections: list[tuple[str, str, list[str]]] = []

    # 1. fused: zero exchanges ------------------------------------------------
    fused = build_triples(t, E._GAZ, E._BLACKLIST, DEFAULT_CONFIG, fused=True)
    p = plan_of(fused)
    n_ex = count(r"\bExchange\b", p)
    # DEFAULT_CONFIG has salting off; with salt_partitions>0 the one extra
    # node would be a deliberate round-robin repartition (skew control)
    assert n_ex == 0, f"fused plan has {n_ex} exchanges"
    assert count(r"hashpartitioning", p) == 0, "fused plan shuffles on a key"
    n_map = count(r"(?m)^\(\d+\) MapInArrow\b", p)
    assert n_map == 1, f"fused plan has {n_map} MapInArrow nodes"
    assert "MapInPandas" not in p and "ArrowEvalPython" not in p, p
    sections.append((
        "fused extraction (build_triples fused=True) over the transcripts scan",
        p,
        ["Exchange nodes: 0, MapInArrow nodes: 1 — scan -> MapInArrow, "
         "embarrassingly parallel"],
    ))

    # 2. structured: keyed exchanges only; blacklist broadcast ---------------
    structured = build_triples(t, E._GAZ, E._BLACKLIST, DEFAULT_CONFIG, fused=False)
    p = plan_of(structured)
    assert "BroadcastHashJoin" in p, "F2 blacklist join is not broadcast"
    assert "LeftAnti" in p, "F2 must be a left-anti join"
    keyed = keyed_exchange_args(p)
    for ln in keyed:
        assert "conv_id" in ln, f"exchange not keyed on conv_id: {ln}"
    # one-pass union shape: exactly ONE keyed shuffle, on (conv_id,
    # turn_idx) — the W1 window exchange inside the annotate cache (runs
    # once at materialization; the band join, the token join and the
    # mention / timex branches all read the cached result)
    n_shuffles = len(keyed)
    assert n_shuffles == 1, (
        f"structured plan has {n_shuffles} hash exchanges; the union shape "
        "needs one (the cache's W1 window)"
    )
    # one Python node: the annotate kernel emits each timex's tlink label,
    # so no eval node labels the timex rows again
    py = python_nodes(p)
    assert [name for name, _ in py] == ["MapInArrow"], (
        f"structured plan's Python nodes are {sorted(py)}, not one MapInArrow"
    )
    sections.append((
        "structured extraction (build_triples fused=False)",
        p,
        [
            "BroadcastHashJoin LeftAnti for blacklist: yes",
            f"hash exchanges: {n_shuffles}, keyed on (conv_id, turn_idx) — "
            "it materializes the annotate cache (W1 window)",
            "Python nodes: 1, the annotate MapInArrow — the tlink label "
            "arrives on the timex rows; no ArrowEvalPython, BatchEvalPython "
            "or MapInPandas",
        ],
    ))

    # 3. scan pruning + pushdown ---------------------------------------------
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    q = docs.where(F.col("doc_id") < 100).select("doc_id")
    p = plan_of(q)
    assert re.search(r"PushedFilters: \[.*LessThan\(doc_id,100\)", p), p
    assert re.search(r"ReadSchema: [^\n]*doc_id", p), p
    assert "text" not in re.search(r"ReadSchema: ([^\n]*)", p).group(1), (
        "projection did not prune the text column from the scan"
    )
    sections.append((
        "parquet scan pruning (documents, doc_id<100 projection)",
        p,
        ["PushedFilters carries LessThan(doc_id,100); ReadSchema excludes text"],
    ))

    # 4. top-k broadcast -------------------------------------------------------
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    qs = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    p = plan_of(brute_force_topk(emb, qs, k=5))
    assert "BroadcastNestedLoopJoin" in p, "query side not broadcast"
    sections.append((
        "brute-force top-k (queries broadcast)",
        p,
        ["BroadcastNestedLoopJoin: corpus never shuffles; window only on query_id"],
    ))

    # 5. IVF index probe: dynamic partition pruning ----------------------------
    from kgpipe.simsearch import build_ivf_index, ivf_topk_indexed

    idx_dir = scratch_dir("kg_plans_ivf_") + "/index"
    emb_d = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    cents = build_ivf_index(emb_d, idx_dir, n_list=16)
    probe = ivf_topk_indexed(spark, idx_dir, cents, qs, k=5, n_probe=4)
    # executedPlan: DPP subqueries only appear post-planning
    p = probe._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in p.lower(), "IVF probe scan is not DPP-pruned"
    assert re.search(r"PartitionFilters: \[isnotnull\(list_id", p), p
    sections.append((
        "IVF index probe (corpus partitioned by list_id)",
        "\n".join(ln for ln in p.splitlines() if len(ln) < 220),
        ["PartitionFilters: dynamicpruning on list_id — probe reads n_probe"
         " partitions, the rest of the corpus is never listed"],
    ))

    # 6. PII redaction: narrow regexp chain, zero exchanges --------------------
    from kgpipe.textops import redact_pii

    p = plan_of(redact_pii(docs))
    assert "Exchange" not in p, "redact_pii must be a narrow map"
    assert "BatchEvalPython" not in p and "ArrowEval" not in p, (
        "redact_pii must stay JVM-side (no Python eval node)"
    )
    sections.append((
        "PII redaction (redact_pii)",
        p,
        ["Exchange nodes: 0; no Python eval — whole-stage regexp chain "
         "over the scan"],
    ))

    # 7. event-event pairing (J6): all exchanges keyed on conv_id --------------
    from kgpipe.pair import event_event_triples
    from kgpipe.pipeline import build_annotations

    ann = build_annotations(t, E._GAZ, E._BLACKLIST, DEFAULT_CONFIG, persist=False)
    ee = event_event_triples(ann["mentions"], ann["timexes"])
    p = plan_of(ee)
    keyed = keyed_exchange_args(p)
    for ln in keyed:
        assert "conv_id" in ln, f"J6 exchange not keyed on conv_id: {ln}"
    assert "BatchEvalPython" not in p and "ArrowEval" not in p, (
        "the event-event label must stay JVM-side (no Python eval node)"
    )
    sections.append((
        "event-event pairing (J6, event_event_triples)",
        p,
        [f"keyed exchanges: {len(keyed)}, all on conv_id(+turn_idx) — "
         "self-join + nearest-anchor window reuse the turn partitioning",
         "no Python eval — the interval-algebra label is one CASE over "
         "the anchors' interval dates, which the annotate kernel emits"],
    ))

    # 8. stratified sampling: map-side filter fused into the scan --------------
    from kgpipe.textops import length_quantiles, stratified_sample

    p = plan_of(stratified_sample(docs, {"en": 500}, default_permille=200))
    assert "Exchange" not in p, "stratified_sample must be a narrow map"
    assert "BatchEvalPython" not in p and "ArrowEval" not in p, (
        "stratified_sample must stay JVM-side"
    )
    sections.append((
        "stratified sampling (stratified_sample)",
        p,
        ["Exchange nodes: 0; no Python eval — md5-threshold filter fused "
         "into the scan, sampling scales with input splits"],
    ))

    # 9. length quantiles: every shuffle keyed on lang, over pre-aggregates ----
    p = plan_of(length_quantiles(docs))
    keyed = keyed_exchange_args(p)
    assert keyed, "length_quantiles should aggregate by lang"
    for ln in keyed:
        assert "lang" in ln, f"quantile exchange not keyed on lang: {ln}"
    assert "BroadcastExchange" in p or "BroadcastNestedLoopJoin" in p, (
        "the quantile-points dim table should be broadcast"
    )
    sections.append((
        "length quantiles (length_quantiles)",
        p,
        [f"hash exchanges: {len(keyed)}, all keyed on lang — the cumulative "
         "window runs over (lang, n_chars) pre-aggregated counts, never raw "
         "rows; the q-points dim is broadcast"],
    ))

    # 10. snapshot triple delta: keyed aggregates + one full-outer SMJ ------
    from kgpipe.materialize import triple_delta

    trip = fused.select("subj", "pred", "obj", "conv_id", "turn_idx")
    old_t = trip.where(F.col("turn_idx") % 2 == 0)
    new_t = trip.where(F.col("turn_idx") % 3 != 0)
    p = plan_of(triple_delta(old_t, new_t))
    keyed = keyed_exchange_args(p)
    assert keyed, "triple_delta should shuffle on the triple key"
    for ln in keyed:
        assert "subj" in ln and "conv_id" in ln, (
            f"delta exchange not keyed on the triple key: {ln}"
        )
    assert "FullOuter" in p, "triple_delta must be a full-outer join"
    sections.append((
        "snapshot triple delta (triple_delta)",
        p,
        [f"hash exchanges: {len(keyed)}, all on the full triple key — one "
         "partially-combined aggregate per snapshot + a full-outer "
         "sort-merge join; neither snapshot is broadcast or collected"],
    ))

    # 11. summarized timelines: one partially-combined aggregate ------------
    from kgpipe.pipeline import summarized_timelines

    p = plan_of(summarized_timelines(fused))
    keyed = keyed_exchange_args(p)
    assert len(keyed) == 1, f"timelines should need exactly one exchange: {keyed}"
    # computed group keys (lower(subj_text), regexp_replace(pred)) surface
    # as _groupingexpression attrs; conv_id/obj_text keep their names
    assert "conv_id" in keyed[0] and "obj_text" in keyed[0], keyed[0]
    # two aggregate nodes = partial (map-side) + final; Spark picks
    # SortAggregate here (string min/max), HashAggregate elsewhere
    assert len(re.findall(r"\(\d+\) (?:Hash|Sort)Aggregate", p)) >= 2, (
        "expected partial + final aggregate nodes"
    )
    sections.append((
        "summarized per-patient timelines (summarized_timelines)",
        p,
        ["one hash exchange on the (patient, chemo, tlink, timex) group "
         "key, map-side partial aggregation ahead of it — the dedup the "
         "reference delegates to an external consumer, distributed"],
    ))

    # 12. node degree: two-level aggregate spreads hub neighbor sets -------
    from kgpipe.graph import node_degree

    deg_edges = fused.select(
        F.col("subj").alias("src"), F.col("obj").alias("dst")
    )
    p = plan_of(node_degree(deg_edges))
    keyed = keyed_exchange_args(p)
    # the first exchange must be keyed on (node, nbr) — a hub's pairs spread
    # across reducers — and the second on node alone, fed by map-side
    # partially-combined rows (one per node per map task)
    assert any("node" in ln and "nbr" in ln for ln in keyed), (
        f"no pair-level (node, nbr) exchange — hub guard missing: {keyed}"
    )
    assert any("node" in ln and "nbr" not in ln for ln in keyed), (
        f"no final node-keyed exchange: {keyed}"
    )
    assert "Expand" not in p and "count(distinct" not in p.lower(), (
        "node_degree must not plan a countDistinct expand — the explicit "
        "pre-distinct aggregate replaces it"
    )
    assert len(re.findall(r"\(\d+\) HashAggregate", p)) >= 4, (
        "expected partial+final aggregates at both levels"
    )
    sections.append((
        "node degree (node_degree) — hub-skew guard",
        p,
        ["two-level aggregation: exchange 1 on (node, nbr) spreads hub "
         "neighbor pairs across reducers; exchange 2 on node sees map-side "
         "partially-combined rows, so per-node shuffle state is O(map "
         "tasks), not O(distinct neighbors); no countDistinct Expand"],
    ))

    # 13. bucketed co-located join: zero exchanges ------------------------
    # the multi-stage story at 100 TB: land triples AND per-conversation
    # rollups bucketed by conv_id once, and every later conv_id-keyed join
    # between them is exchange-free (bucketed SMJ) — the "pre-partitioning /
    # bucketing for co-located joins" requirement, proven on the plan
    trip_small = fused.select("conv_id", "subj", "pred", "obj").limit(200000)
    conv_dim = fused.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_triples")
    )
    trip_small.write.mode("overwrite").bucketBy(16, "conv_id").sortBy(
        "conv_id"
    ).saveAsTable("kg_plans_triples_b")
    conv_dim.write.mode("overwrite").bucketBy(16, "conv_id").sortBy(
        "conv_id"
    ).saveAsTable("kg_plans_convdim_b")
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("kg_plans_triples_b").join(
            spark.table("kg_plans_convdim_b"), "conv_id"
        )
        p = plan_of(j)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
    assert count(r"\bExchange\b", p) == 0, (
        f"bucketed join still shuffles:\n{p}"
    )
    assert "SortMergeJoin" in p, "expected a bucketed sort-merge join"
    sections.append((
        "bucketed co-located join (triples ⋈ conv rollup, both bucketed by conv_id)",
        p,
        ["Exchange nodes: 0 — both scans are bucketed (16 buckets on "
         "conv_id), the sort-merge join reads co-located buckets; at 100 TB "
         "this is the join shape for every conv_id-keyed enrichment against "
         "the materialized store"],
    ))

    # 14. acceptance-gate evaluator: no broadcast, partial aggregation ----
    # triples_prf at 100 TB joins two full extraction outputs: both sides
    # must reach the full-outer join via partially-aggregated (map-side
    # combined) per-key counts through hash exchanges — never a broadcast
    # (either side can be the whole corpus) and never a collect
    from kgpipe.graph import triples_prf

    p = plan_of(triples_prf(fused, fused.limit(500000)))
    assert count(r"BroadcastHashJoin|BroadcastNestedLoopJoin", p) == 0, (
        f"evaluator must not broadcast a corpus-sized side:\n{p}"
    )
    assert count(r"SortMergeJoin.*FullOuter|FullOuter.*SortMergeJoin", p) >= 1 or (
        "SortMergeJoin" in p and "FullOuter" in p
    ), f"expected a full-outer sort-merge join:\n{p}"
    assert count(r"HashAggregate", p) >= 4, (
        f"expected partial+final aggregates on both sides:\n{p}"
    )
    sections.append((
        "acceptance-gate evaluator (triples_prf system ⋈ gold)",
        p,
        ["both sides collapse to per-key counts with map-side partial "
         "aggregation BEFORE the shuffle, the compare is one full-outer "
         "sort-merge join on the triple key, and the final metric row is "
         "a global aggregate — no broadcast of either corpus-sized side, "
         "no driver-side collection of triples"],
    ))

    # 15. mixture sampling: rate table folded into the plan, zero exchange -
    from kgpipe.textops import mixture_sample, passage_dup_stats

    p = plan_of(
        mixture_sample(docs, {f"src{i}": (i + 1) ** 2 for i in range(10)},
                       temperature=2.0)
    )
    assert "Exchange" not in p, "mixture_sample must be a narrow map"
    assert "BatchEvalPython" not in p and "ArrowEval" not in p, (
        "mixture_sample must stay JVM-side"
    )
    sections.append((
        "training-mix sampling (mixture_sample)",
        p,
        ["Exchange nodes: 0; no Python eval — the per-source permille rate "
         "table is O(#sources) CASE literals folded into the scan filter, "
         "so sampling scales with input splits at any corpus size"],
    ))

    # 16. passage-level duplication: hub-safe shape, no cross product -----
    p = plan_of(passage_dup_stats(docs, n=8))
    assert count(r"CartesianProduct|BroadcastNestedLoopJoin", p) == 0, (
        f"passage_dup_stats must never cross-join:\n{p}"
    )
    assert "Expand" not in p and "count(distinct" not in p.lower(), (
        "dup-gram detection must use the two-level aggregate, not "
        "countDistinct's Expand"
    )
    assert count(r"HashAggregate", p) >= 6, (
        f"expected partial+final aggregates for dup set/coverage/instances:\n{p}"
    )
    sections.append((
        "passage-level duplication (passage_dup_stats)",
        p,
        ["no cartesian anywhere: instances meet the dup-gram set on the "
         "gram equi-key; the dup set itself is the hub-safe two-level "
         "(doc,gram)→gram aggregate (distinct before count, no Expand); "
         "coverage explodes exactly n positions per dup instance and "
         "partially aggregates map-side per doc"],
    ))

    # 17. BEFORE-closure inference: every exchange keyed on conv_id -------
    from kgpipe.graph import cross_turn_event_edges, tlink_infer_2hop

    cedges = cross_turn_event_edges(
        ann["mentions_f"], DEFAULT_CONFIG
    ).selectExpr("conv_id", "src as subj", "pred", "dst as obj")
    p = plan_of(tlink_infer_2hop(cedges, pred="before", keys=("conv_id",)))
    keyed = keyed_exchange_args(p)
    for ln in keyed:
        assert "conv_id" in ln, f"closure exchange not keyed on conv_id: {ln}"
    assert count(r"CartesianProduct", p) == 0, (
        f"closure must compose via equi-join:\n{p}"
    )
    sections.append((
        "BEFORE-closure inference (tlink_infer_2hop over cross-turn edges)",
        p,
        [f"keyed exchanges: {len(keyed)}, all on conv_id — the composition "
         "self-join, witness aggregate, and direct-assertion anti-join all "
         "hash on conv_id-prefixed keys, so one partitioning of the edge "
         "set serves the whole operator; window-clamped edges bound the "
         "self-join fanout per node"],
    ))

    # 18. document chunking: bounded-fanout explode, zero exchange --------
    from kgpipe.textops import chunk_documents

    p = plan_of(chunk_documents(docs, max_tokens=32, stride=24))
    assert "Exchange" not in p, "chunk_documents must be a narrow map"
    assert "BatchEvalPython" not in p and "ArrowEval" not in p, (
        "chunk_documents must stay JVM-side"
    )
    assert "Generate" in p, "expected the explode over chunk windows"
    sections.append((
        "document chunking (chunk_documents)",
        p,
        ["Exchange nodes: 0; no Python eval — the sliding-window explode "
         "(bounded O(n_tokens/stride) fanout per doc) fuses over the scan, "
         "so max-seq-len splitting scales with input splits"],
    ))

    # 19. int8 quantization: narrow component explode, zero exchange -----
    from kgpipe.simsearch import quantize_embeddings

    p = plan_of(quantize_embeddings(emb))
    assert "Exchange" not in p, "quantize_embeddings must be a narrow map"
    assert "BatchEvalPython" not in p and "ArrowEval" not in p, (
        "quantize_embeddings must stay JVM-side"
    )
    sections.append((
        "int8 embedding quantization (quantize_embeddings)",
        p,
        ["Exchange nodes: 0; no Python eval — per-vector max_abs and the "
         "component explode (fanout = dim) fuse over the scan; vector-"
         "store compaction scales with input splits"],
    ))

    # 20. snapshot-compaction fold job: zero-shuffle scan->filter->project
    from kgpipe.materialize import TableSink, read_triples

    _tmp = tempfile.mkdtemp(prefix="plan_compact_")
    try:
        sink = TableSink(spark, out_dir=_tmp, table_prefix=None)
        store = spark.range(200).select(
            F.concat(F.lit("s"), F.col("id").cast("string")).alias("subj"),
            F.lit("pred:mention").alias("pred"),
            F.col("id").cast("string").alias("obj"),
            F.lit("c0").alias("conv_id"),
            F.col("id").cast("int").alias("turn_idx"),
            (F.col("id") % 4).cast("int").alias("bucket"),
            F.concat(
                F.lit("stream-batch-"), (F.col("id") % 3).cast("string")
            ).alias("source_snapshot_id"),
        )
        store.write.partitionBy("source_snapshot_id", "bucket").parquet(
            f"{_tmp}/triples"
        )
        sids = [f"stream-batch-{i}" for i in range(3)]
        # the exact fold DataFrame compact_snapshots writes (pre-persist)
        fold = (
            read_triples(sink)
            .where(F.col("source_snapshot_id").isin(sids))
            .withColumn("source_snapshot_id", F.lit("compact-0"))
        )
        p = plan_of(fold)
        assert "Exchange" not in p, (
            f"compaction fold must be a zero-shuffle scan:\n{p}"
        )
        assert count(r"Join", p) == 0, (
            f"no-manifest fold path must not join:\n{p}"
        )
        # the snapshot-id filter must PRUNE partitions at the scan (the
        # predicate appears in PartitionFilters), not post-filter rows —
        # pruning is what keeps committed compact-* generations unread
        assert re.search(r"PartitionFilters: \[[^\]]*source_snapshot_id", p), (
            f"expected the snapshot-id predicate in PartitionFilters:\n{p}"
        )
        sections.append((
            "snapshot-compaction fold (compact_snapshots data job)",
            p,
            ["Exchange nodes: 0 — the fold is scan -> snapshot-id filter "
             "(partition pruning on the source_snapshot_id partition "
             "column) -> constant-rewrite project, so each run costs "
             "O(newly-arrived batches) of sequential I/O and scales with "
             "input splits; committed compact-* generations are pruned at "
             "the scan, never re-read (lifetime maintenance I/O stays "
             "linear); driver-side state is one manifest row per "
             "generation (measured: 1000-generation manifest read in "
             "reports/compaction_evidence.json)"],
        ))
    finally:
        shutil.rmtree(_tmp, ignore_errors=True)

    # 21. build_graph: one annotation product ------------------------------
    from kgpipe.pipeline import build_graph

    graph = build_graph(t, E._GAZ, E._BLACKLIST, DEFAULT_CONFIG)
    reads = {k: cached_reads(graph[k]) for k in ("triples", "edges", "nodes")}
    shared = reads["triples"][0]
    assert len(shared) == 1, f"triples read {len(shared)} cached relations"
    assert reads["edges"][0].keys() == shared.keys(), (
        "edges do not read the triples' cached union frame"
    )
    # canonical_nodes eagerly checkpoints its vocabulary frames, so its
    # final plan reads those checkpoints, not the cache itself
    assert reads["nodes"][0].keys() <= shared.keys(), "nodes read another cache"
    for k, (_, n_map) in reads.items():
        assert n_map == 0, f"{k} runs {n_map} MapInArrow outside the cache"
    (builder,) = shared.values()
    n_annotate = sum(
        _name(n) == "MapInArrow" for n in plan_nodes(builder.logicalPlan())
    )
    assert n_annotate == 1, f"cached union frame runs {n_annotate} annotate passes"
    sections.append((
        "one annotation product (build_graph triples / edges / nodes)",
        plan_of(graph["edges"]),
        ["triples and edges read ONE cached relation (the W1-ranked union "
         "frame); its plan holds the only annotate MapInArrow, and no "
         "output plan runs a MapInArrow outside it; nodes read eager "
         "checkpoints of that frame's mentions"],
    ))

    # 22. bucketed commit: one rebalance on bucket, counts observed above it
    from pyspark.sql import Observation

    from kgpipe.materialize import bucket_clustered

    commit, _ = bucket_clustered(
        fused, 16, Observation("plan_audit"),
        metrics=(F.count(F.lit(1)).alias("n_triples"),),
        count_buckets=range(16),
    )
    p = plan_of(commit)
    tree = p.split("\n\n", 1)[0]
    assert count(r"\bExchange\b", tree) == 1, f"commit frame exchanges:\n{p}"
    (key,) = keyed_exchange_args(p)
    assert re.match(r"hashpartitioning\(bucket#\d+, \d+\)", key), key
    assert "REBALANCE_PARTITIONS_BY_COL" in p, "the exchange is not a rebalance"
    assert "CollectMetrics" in tree and (
        tree.index("CollectMetrics") < tree.index("Exchange")
    ), f"per-bucket counts are not observed above the exchange:\n{tree}"
    sections.append((
        "bucketed commit (materialize.bucket_clustered over the fused build)",
        p,
        ["Exchange nodes: 1 — a rebalance keyed on bucket in front of the "
         "write: AQE coalesces small buckets without splitting them (one "
         "file per bucket) and splits only buckets above the advisory "
         "partition size, so the write is not capped at n_buckets tasks",
         "CollectMetrics sits above the Exchange: the per-bucket lineage "
         "counts are observed in the write's own result stage, with no "
         "read-back job"],
    ))

    print("ALL PLAN ASSERTIONS PASS")
    if write:
        out = ["# PLANS — physical-plan audit (tools/explain_plans.py)\n"]
        out.append(
            "Regenerated by `python tools/explain_plans.py --write`; every\n"
            "property below is a hard assertion in that script, so plan\n"
            "regressions fail loudly.\n"
        )
        for title, plan, notes in sections:
            out.append(f"\n## {title}\n")
            for n in notes:
                out.append(f"- {n}\n")
            # keep the plan excerpt readable: drop the verbose column lists
            excerpt = "\n".join(
                ln for ln in plan.splitlines()
                if not ln.strip().startswith(("Input [", "Arguments:", "Result ["))
            )
            out.append(f"\n```\n{excerpt}\n```\n")
        with open("PLANS.md", "w") as f:
            f.write("".join(out))
        print("wrote PLANS.md")
    return 0


if __name__ == "__main__":
    sys.exit(main())
