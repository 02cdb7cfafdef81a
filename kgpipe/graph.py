"""Graph-predicate triples and cross-turn temporal edges — pure DataFrame
column algebra (no UDFs).

* speaker-attribution / tool-invocation: projections of the transcripts
  columns (north_star predicates; no reference counterpart — the reference's
  provenance columns patient_id/note_name play this role).
* entity-mention / doc-time-rel: projections of the filtered+id'd mentions.
* cross-turn event-event edges: per-conversation window (lead) over
  turn-level entity sets, labeled before/after/overlap by comparing the two
  turns' anchor dates — the across-turn analog of the reference's TLINK
  labels. One shuffle keyed by conv_id; turn-level pre-aggregation
  (collect_set) bounds hot-conversation rows to one per turn before the
  window, so skew stays linear in turns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .config import DEFAULT_CONFIG, PipelineConfig
from .schemas import triple_exprs

__all__ = [
    "attribution_triples",
    "entity_mention_triples",
    "dtr_triples",
    "cross_turn_event_edges",
    "pagerank",
    "entity_timeline_summary",
    "node_degree",
    "conversation_stats",
    "top_entities",
    "tool_transitions",
    "conversation_sessions",
    "cooccurrence_edges",
    "triangle_count",
    "running_entity_counts",
    "connected_components",
    "tlink_conflicts",
    "triples_prf",
    "resolve_conflicts",
    "entity_episodes",
    "k_core",
    "tlink_infer_2hop",
    "tlink_closure",  # back-compat alias
]

# anchor: date(ts) with the X3 header-scan fallback (DCTAnnotator.java:
# 62-89) — same rule as annotate.anchor_for, so the structured and fused
# paths agree on ts-less turns; try_to_date keeps ANSI mode non-throwing
_TURN_ANCHOR = (
    r"coalesce(to_date(ts), try_to_date(nullif(regexp_extract("
    r"text, 'Principal Date\\D*(\\d{8})', 1), ''), 'yyyyMMdd'))"
)


def attribution_triples(transcripts: DataFrame) -> DataFrame:
    """(turn@conv_turn, speaker-attribution, role) for every turn plus
    (turn@conv_turn, tool-invocation, tool) where a tool is recorded."""
    turn = dict(
        subj="format_string('turn@%s_%d', conv_id, turn_idx)",
        anchor_date=_TURN_ANCHOR,
    )
    speaker = transcripts.where("role IS NOT NULL").selectExpr(
        *triple_exprs(pred="'speaker-attribution'", obj="role", **turn)
    )
    tool = transcripts.where("tool IS NOT NULL AND tool != ''").selectExpr(
        *triple_exprs(pred="'tool-invocation'", obj="tool", **turn)
    )
    return speaker.unionByName(tool)


def entity_mention_triples(mentions_with_id: DataFrame) -> DataFrame:
    """(mention annotation id, entity-mention, cui)."""
    return mentions_with_id.selectExpr(*triple_exprs(
        subj="annotation_id", pred="'entity-mention'", obj="cui",
        subj_text="surface", obj_text="term",
    ))


def dtr_triples(mentions_with_id: DataFrame) -> DataFrame:
    """(mention annotation id, doc-time-rel, label) with the instance string
    kept for the debug contract (README.md:61 analog)."""
    return mentions_with_id.selectExpr(*triple_exprs(
        subj="annotation_id", pred="'doc-time-rel'", obj="dtr",
        subj_text="surface", instance="dtr_inst",
    ))


def entity_timeline_summary(mentions_with_id: DataFrame) -> DataFrame:
    """Per-conversation, per-entity timeline rollup — the A2 "one timeline
    per patient" aggregation contract (/root/reference/README.md:17-19,48)
    combined with the A4 distinct+string-agg pattern
    (NormalizedEventTimeAnaforaWriter.java:207-214).

    One row per (conv_id, cui): mention/turn counts, first/last anchor date,
    and the sorted distinct surface terms joined with ','. A single hash
    aggregate keyed on (conv_id, cui) — partial (map-side) aggregation
    applies, so the shuffle carries one row per group per map task.
    """
    return mentions_with_id.groupBy("conv_id", "cui").agg(
        F.count(F.lit(1)).alias("n_mentions"),
        F.countDistinct("turn_idx").alias("n_turns"),
        F.min("anchor_date").alias("first_seen"),
        F.max("anchor_date").alias("last_seen"),
        F.array_join(
            F.array_sort(F.array_distinct(F.collect_list("term"))), ","
        ).alias("terms"),
    )


def node_degree(edges: DataFrame) -> DataFrame:
    """Degree table over an EDGE_SCHEMA-shaped edge list: per node id,
    out/in/total degree and distinct-neighbor count.

    One union of two narrow projections, then TWO-LEVEL aggregation as the
    hub-skew guard: the first aggregate keys on (node, nbr) — its exchange
    spreads a hub's neighbor pairs across reducers instead of shipping the
    whole distinct-neighbor set to one (what a naive countDistinct plans) —
    and the second aggregate on node sees one row per distinct pair, so its
    map-side partial combine reduces a hub to ONE row per map task before
    the node-keyed exchange. Shuffle state per node is O(map tasks), not
    O(distinct neighbors).
    """
    ends = edges.select(
        F.col("src").alias("node"), F.col("dst").alias("nbr"),
        F.lit(1).alias("is_out"),
    ).unionByName(
        edges.select(
            F.col("dst").alias("node"), F.col("src").alias("nbr"),
            F.lit(0).alias("is_out"),
        )
    )
    pairs = ends.groupBy("node", "nbr").agg(
        F.sum("is_out").alias("out_c"),
        F.count(F.lit(1)).alias("cnt"),
    )
    return pairs.groupBy("node").agg(
        F.sum("out_c").alias("out_degree"),
        F.sum(F.col("cnt") - F.col("out_c")).alias("in_degree"),
        F.sum("cnt").alias("degree"),
        # count("nbr"), not count(*): a NULL endpoint still counts toward
        # the degree sums but never as a neighbor — the same NULL semantics
        # countDistinct(nbr) had before the two-level rewrite
        F.count("nbr").alias("n_neighbors"),
    )


def conversation_stats(
    transcripts: DataFrame, mentions_f: DataFrame, timexes_n: DataFrame
) -> DataFrame:
    """Per-conversation rollup: turns, distinct roles, anchor-date span,
    mention / normalized-timex counts — the A2 per-patient aggregation
    contract (/root/reference/README.md:17-19,48) lifted to conversations.

    Three pre-aggregations (each map-side combined on conv_id) merged with
    left joins; AQE turns the post-agg joins into broadcasts (group count =
    #conversations << #turns).
    """
    base = transcripts.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.countDistinct("role").alias("n_roles"),
        F.min(F.to_date("ts")).alias("first_date"),
        F.max(F.to_date("ts")).alias("last_date"),
    )
    ment = mentions_f.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_mentions"),
        F.countDistinct("cui").alias("n_entities"),
    )
    tmx = timexes_n.groupBy("conv_id").agg(F.count(F.lit(1)).alias("n_timexes"))
    return (
        base.join(ment, "conv_id", "left")
        .join(tmx, "conv_id", "left")
        .select(
            "conv_id", "n_turns", "n_roles", "first_date", "last_date",
            F.datediff("last_date", "first_date").alias("span_days"),
            F.coalesce("n_mentions", F.lit(0)).alias("n_mentions"),
            F.coalesce("n_entities", F.lit(0)).alias("n_entities"),
            F.coalesce("n_timexes", F.lit(0)).alias("n_timexes"),
        )
    )


def top_entities(mentions_f: DataFrame, k: int = 10) -> DataFrame:
    """Global top-k entities by mention count (rank ties broken by cui asc).

    The aggregate shuffles on cui; the final rank window runs on the
    aggregated rows only — cardinality is vocabulary-bounded (gazetteer
    size), not corpus-bounded, so the single-partition window is safe at
    any corpus scale.
    """
    counts = mentions_f.groupBy("cui").agg(
        F.count(F.lit(1)).alias("n_mentions"),
        F.countDistinct("conv_id").alias("n_convs"),
    )
    w = Window.orderBy(F.col("n_mentions").desc(), F.col("cui").asc())
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("rank", "cui", "n_mentions", "n_convs")
    )


def conversation_sessions(
    transcripts: DataFrame, gap_hours: int = 12
) -> DataFrame:
    """Event-time sessionization: split each conversation into sessions
    wherever consecutive turns are >= ``gap_hours`` apart, via Spark's
    built-in ``session_window`` (the streaming-capable merging-window
    aggregate; window end = last event + gap).

    One aggregate keyed on (conv_id, session) — at 10^12 turns this is the
    same single shuffle as any per-conversation rollup, and under
    Structured Streaming the identical expression runs with watermark-based
    state eviction."""
    return (
        transcripts.where(F.col("ts").isNotNull())
        .groupBy(
            "conv_id", F.session_window("ts", f"{gap_hours} hours")
        )
        .agg(F.count(F.lit(1)).alias("n_turns"))
        .select(
            "conv_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_turns",
        )
    )


def tool_transitions(transcripts: DataFrame) -> DataFrame:
    """Tool-invocation bigrams: for each conversation, consecutive
    tool-bearing turns (ordered by turn_idx) form (tool_a, tool_b) edges;
    returns global counts (tool_a, tool_b, n_transitions, n_convs).

    One lead() window keyed on conv_id over the tool-bearing subset (the
    filter prunes before the exchange), then a vocabulary-bounded hash
    aggregate."""
    tooled = transcripts.where(
        F.col("tool").isNotNull() & (F.col("tool") != "")
    ).select("conv_id", "turn_idx", "tool")
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    pairs = (
        tooled.withColumn("next_tool", F.lead("tool").over(w))
        .where(F.col("next_tool").isNotNull())
    )
    return pairs.groupBy(
        F.col("tool").alias("tool_a"), F.col("next_tool").alias("tool_b")
    ).agg(
        F.count(F.lit(1)).alias("n_transitions"),
        F.countDistinct("conv_id").alias("n_convs"),
    )


def cooccurrence_edges(mentions_f: DataFrame) -> DataFrame:
    """Entity co-occurrence graph: distinct (cui_a < cui_b) pairs appearing
    in the same turn, with pair frequency. Vocabulary-bounded output; the
    self-join is keyed on (conv_id, turn_idx) — the partitioning the
    pipeline already uses."""
    m = mentions_f.select("conv_id", "turn_idx", "cui").distinct()
    return (
        m.alias("x")
        .join(m.alias("y"), ["conv_id", "turn_idx"])
        .where(F.col("x.cui") < F.col("y.cui"))
        .groupBy(F.col("x.cui").alias("cui_a"), F.col("y.cui").alias("cui_b"))
        .agg(F.count(F.lit(1)).alias("n_cooccur"))
    )


def triangle_count(edges_ab: DataFrame) -> DataFrame:
    """Triangle count over an undirected (cui_a < cui_b) edge list — the
    classic two-self-join dataflow: e1(a,b) ⋈ e2(b,c) ⋈ e3(a,c) with
    a < b < c counts each triangle exactly once. Returns one row
    (n_nodes, n_edges, n_triangles).

    On a vocabulary-bounded graph this is broadcast-sized; on a corpus-
    bounded graph the same plan shuffles on the join keys and the a<b<c
    orientation keeps the join one-directional (no double counting, no
    symmetric blow-up)."""
    e = edges_ab.select("cui_a", "cui_b").distinct()
    e1 = e.select(F.col("cui_a").alias("a"), F.col("cui_b").alias("b"))
    e2 = e.select(F.col("cui_a").alias("b"), F.col("cui_b").alias("c"))
    e3 = e.select(F.col("cui_a").alias("a"), F.col("cui_b").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"])
    nodes = e1.select(F.col("a").alias("n")).unionByName(
        e1.select(F.col("b").alias("n"))
    ).distinct()
    return (
        tri.agg(F.count(F.lit(1)).alias("n_triangles"))
        .crossJoin(e.agg(F.count(F.lit(1)).alias("n_edges")))
        .crossJoin(nodes.agg(F.count(F.lit(1)).alias("n_nodes")))
        .select("n_nodes", "n_edges", "n_triangles")
    )


def running_entity_counts(mentions_f: DataFrame) -> DataFrame:
    """Cumulative per-conversation analytics: for each entity-bearing turn,
    the running mention count and running distinct-entity count up to that
    turn (ORDER BY turn_idx ROWS UNBOUNDED PRECEDING window frames).

    One exchange on conv_id; the running-distinct uses the first-occurrence
    trick (rank per (conv, cui) == 1) so the frame only sums 0/1 flags —
    no per-row set state."""
    per_turn = mentions_f.groupBy("conv_id", "turn_idx").agg(
        F.count(F.lit(1)).alias("n_mentions"),
        F.collect_set("cui").alias("cuis"),
    )
    w_first = Window.partitionBy("conv_id", "cui").orderBy("turn_idx")
    firsts = (
        mentions_f.select("conv_id", "turn_idx", "cui")
        .distinct()
        .withColumn("rnk", F.row_number().over(w_first))
        .where(F.col("rnk") == 1)
        .groupBy("conv_id", "turn_idx")
        .agg(F.count(F.lit(1)).alias("n_new_entities"))
    )
    cum = Window.partitionBy("conv_id").orderBy("turn_idx").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        per_turn.join(firsts, ["conv_id", "turn_idx"], "left")
        .select(
            "conv_id", "turn_idx",
            F.sum("n_mentions").over(cum).alias("cum_mentions"),
            F.sum(F.coalesce("n_new_entities", F.lit(0)))
            .over(cum)
            .alias("cum_entities"),
        )
    )


def pagerank(
    edges: DataFrame,
    *,
    iters: int = 3,
    damping_pct: int = 85,
    scale: int = 10**12,
) -> DataFrame:
    """Integer fixed-point PageRank over an EDGE_SCHEMA-shaped edge list
    (distinct directed (src, dst) pairs; parallel edges collapse).

    The classic iterative graph operator, made exactly replayable: ranks
    live in ``scale`` fixed-point units and every step is integer floor
    arithmetic —

        contrib(v) = Σ_{(u,v)}  (pr(u) * damping_pct) DIV (100 * outdeg(u))
        pr'(v)     = (scale * (100 - damping_pct)) DIV (100 * N) + contrib(v)

    so the result is bit-equal in any engine regardless of summation order
    (integer addition commutes; float PageRank would not replay). Dangling
    mass is dropped, floor rounding loses at most outdeg units per node per
    iteration — both documented spec, not approximation error. Per
    iteration: one groupBy(src) join + one groupBy(dst) aggregate, both
    keyed on node ids — the standard Pregel-free DataFrame PageRank shape
    that scales with the edge partitioning.

    Returns (node, pr_int) — fixed-point ranks summing to ~scale.
    """
    # pin the (possibly expensive) edge derivation once: every iteration
    # joins e, and nodes/outdeg both derive from it — without the eager
    # checkpoint the distinct + upstream lineage re-executes per iteration
    e = edges.select("src", "dst").distinct().localCheckpoint(eager=True)
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_nodes = nodes.count()
    if n_nodes == 0:
        return nodes.withColumn("pr_int", F.lit(0).cast("long"))
    outdeg = e.groupBy("src").agg(F.count("*").alias("outdeg"))
    base = int(scale * (100 - damping_pct)) // (100 * n_nodes)
    pr = nodes.withColumn("pr_int", F.lit(int(scale) // n_nodes).cast("long"))
    for _ in range(iters):
        contrib = (
            e.join(pr, e["src"] == pr["node"])
            .join(outdeg, "src")
            .select(
                "dst",
                F.expr(f"(pr_int * {damping_pct}) DIV (100 * outdeg)").alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").alias("contrib"))
        )
        pr = (
            nodes.join(contrib, nodes["node"] == contrib["dst"], "left")
            .select(
                "node",
                (F.lit(base) + F.coalesce(F.col("contrib"), F.lit(0)))
                .cast("long")
                .alias("pr_int"),
            )
        )
        # pin the lineage per iteration: 3 unrolled self-joins otherwise
        # compound into one enormous plan (and Catalyst re-derives the
        # whole prefix per iteration)
        pr = pr.localCheckpoint(eager=True)
    return pr


_DAY_VALUE_RE = r"^\d{4}-\d{2}-\d{2}$"


def entity_episodes(triples: DataFrame, *, max_gap_days: int = 30) -> DataFrame:
    """Episode construction — the timeline product the ChemoTimelines task
    is ultimately about: consecutive day-anchored assertions of one
    (patient, entity) merge into treatment EPISODES when the gap between
    successive dates is <= ``max_gap_days`` (the classic islands-and-gaps
    dataflow: lag -> gap flag -> cumulative episode index -> rollup).

    Input = the tlink triples; only day-granular TimeML values
    (YYYY-MM-DD) anchor episodes — weeks/months/REFs describe context, not
    points (documented spec). One window + one aggregate, both keyed on
    (patient, entity): the per-key ordered state is the distinct date
    list, bounded by the conversation span, not the corpus.

    Returns (patient_id, entity, episode_idx, start_date, end_date,
    n_points).
    """
    pts = (
        triples.where(F.col("pred").startswith("tlink:"))
        .where(F.col("obj_text").rlike(_DAY_VALUE_RE))
        .select(
            F.col("conv_id").alias("patient_id"),
            F.lower("subj_text").alias("entity"),
            F.to_date("obj_text").alias("d"),
        )
        .distinct()
    )
    w = Window.partitionBy("patient_id", "entity").orderBy("d")
    flagged = pts.withColumn(
        "new_episode",
        F.when(
            F.datediff("d", F.lag("d").over(w)) > max_gap_days, F.lit(1)
        ).otherwise(F.lit(0)),
    ).withColumn(
        "episode_idx",
        F.sum("new_episode").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).cast("int"),
    )
    return flagged.groupBy("patient_id", "entity", "episode_idx").agg(
        F.min("d").alias("start_date"),
        F.max("d").alias("end_date"),
        F.count(F.lit(1)).alias("n_points"),
    )


def resolve_conflicts(triples: DataFrame) -> DataFrame:
    """KG conflict RESOLUTION — the consumer-facing sibling of
    tlink_conflicts: for every (entity surface, normalized timex) pair the
    corpus asserts at least once, pick the majority temporal label
    (deterministic tie-break: lexicographically smallest label among the
    tied), with the support count and the margin over the runner-up as
    confidence evidence. Real timeline consumers read THIS view; the
    conflicts audit view feeds the review queue.

    One keyed hash aggregate — (term, normed, label) counts with map-side
    partial combine — then one (term, normed) window over at most |label
    vocabulary| rows per key, so per-key state is O(10) regardless of
    corpus size. The window's ``lead`` reads the runner-up in the same
    pass, so the triples under it are computed once.

    Returns (term, normed, label, n_support, n_total, margin).
    """
    t = triples.where(F.col("pred").startswith("tlink:"))
    votes = (
        t.groupBy(
            F.col("subj_text").alias("term"),
            F.col("obj_text").alias("normed"),
            F.regexp_replace("pred", "^tlink:", "").alias("label"),
        )
        .agg(F.count(F.lit(1)).alias("n_support"))
    )
    w = Window.partitionBy("term", "normed").orderBy(
        F.col("n_support").desc(), F.col("label").asc()
    )
    ranked = (
        votes.withColumn("rk", F.row_number().over(w))
        .withColumn("runner_support", F.lead("n_support").over(w))
        .withColumn(
            "n_total", F.sum("n_support").over(Window.partitionBy("term", "normed"))
        )
    )
    return ranked.where(F.col("rk") == 1).select(
        "term", "normed", "label", "n_support", "n_total",
        (F.col("n_support") - F.coalesce("runner_support", F.lit(0))).alias("margin"),
    )


def k_core(edges: DataFrame, *, k: int = 2, rounds: int = 8) -> DataFrame:
    """k-core decomposition by iterative peeling: repeatedly remove nodes
    whose undirected degree falls below ``k``; after ``rounds`` rounds the
    survivors are (a superset of) the k-core — peeling converges once no
    round removes a node, and fixed ``rounds`` makes the result a
    deterministic spec both engines replay (convergence on the fixture
    graphs is pytest-asserted, same contract as connected_components).

    Per round: one degree aggregate + one semi-join filter, both keyed on
    node ids; localCheckpoint pins the lineage so the unrolled loop stays
    linear.

    Returns (node, core_degree) for surviving nodes.
    """
    e = edges.select("src", "dst").where(F.col("src") != F.col("dst")).distinct()
    und = (
        e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    for _ in range(rounds):
        deg = und.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        alive = deg.where(F.col("deg") >= k).select("src")
        und = (
            und.join(alive, "src")
            .join(alive.select(F.col("src").alias("dst")), "dst")
            .select("src", "dst")
            .localCheckpoint(eager=True)
        )
    return (
        und.groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).alias("core_degree"))
        # final guard: if the fixed rounds did not fully converge, a
        # survivor could report core_degree < k, contradicting the k-core
        # contract — filter so the output is always a clean subgraph
        # (superset semantics remain for EDGES, never for the k bound)
        .where(F.col("core_degree") >= k)
    )


def tlink_conflicts(triples: DataFrame) -> DataFrame:
    """KG quality audit: (entity surface, normalized timex) pairs the corpus
    asserts with MORE THAN ONE distinct temporal label — e.g. the same
    (drug, date) tagged both 'before' and 'after' in different turns. Real
    timelines treat these as review queues; the reference has no automated
    counterpart (its conflicts surface only in the shared-task error
    analysis).

    One hash aggregate keyed on the (term, normed) pair with map-side
    partial aggregation; the distinct-label set is bounded by the label
    vocabulary (10), so collect_set state is O(1) per group.

    Returns (term, normed, n_labels, labels, n_assertions).
    """
    t = triples.where(F.col("pred").startswith("tlink:"))
    return (
        t.groupBy(
            F.col("subj_text").alias("term"),
            F.col("obj_text").alias("normed"),
        )
        .agg(
            F.countDistinct("pred").alias("n_labels"),
            F.array_join(
                F.array_sort(
                    F.collect_set(F.regexp_replace("pred", "^tlink:", ""))
                ),
                ",",
            ).alias("labels"),
            F.count(F.lit(1)).alias("n_assertions"),
        )
        .where(F.col("n_labels") > 1)
    )


def connected_components(edges: DataFrame, *, rounds: int = 6) -> DataFrame:
    """Weakly connected components over an EDGE_SCHEMA-shaped edge list via
    deterministic min-label propagation with pointer doubling (the
    "hash-to-min" dataflow CC; Rastogi et al., ICDE 2013). Shared by the
    cross-turn graph, doc-dedup clustering and surface canonicalization.

    Each round does two label updates:
      propagate   l(v) <- min(l(v), min over neighbors u of l(u))
      shortcut    l(v) <- l(l(v))          (label ids ARE node ids)
    Labels are node-id strings; `min` is byte-wise string comparison, so
    every step replays bit-equal in any engine. The shortcut step halves
    the distance to the component minimum each round, so ``rounds`` = r
    converges every component of min-label eccentricity <= ~2^r (r=6 covers
    any graph this pipeline builds; convergence is pytest-asserted on chain
    fixtures). Sizing caveat measured at 1.5M nodes (tools/
    scale_evidence.py): a LEXICOGRAPHIC minimum sitting mid-path (string
    ids — "10000" < "9984") forms a competing attractor that absorbs its
    neighborhood before draining to the true minimum, so budget
    ~log2(diameter)+1 rounds with a +1..2 margin rather than the bare
    log; at diameter 33 the exact need is 7, not 6. Result is well-defined for any graph as "labels after r
    compound rounds" — same spec in the SQL oracle.

    The loop stops after the first round that lowers no label: that round
    is a fixpoint, so every later round would return the same rows. The
    round-start label rides the round as ``label0`` and the test reads the
    round's own checkpoint (one limit-1 scan, no join).

    Scale shape: per round, one shuffle keyed on node for the neighbor-min
    aggregate and one self-join on the label — the standard distributed CC;
    no driver-side state, no collect. localCheckpoint per round keeps the
    unrolled plan linear (same rationale as pagerank). Skew: the
    neighbor-min aggregate partially combines map-side (hub nodes are
    safe); the shortcut join's key distribution concentrates onto component
    labels as convergence approaches — a giant component makes its label a
    hot key, which AQE's skew-join (on by default in kgpipe.session)
    splits; the matching build side is a single row per label, so the
    split replicates almost nothing.

    Returns (node, component, component_size).
    """
    e = edges.select("src", "dst").distinct().localCheckpoint(eager=True)
    # symmetric closure: neighbors in either direction
    und = (
        e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = und.select(F.col("src").alias("node")).distinct()
    lab = nodes.withColumn("label", F.col("node"))
    for _ in range(rounds):
        nbr_min = (
            und.join(
                lab.select(
                    F.col("node").alias("dst"), F.col("label").alias("nl")
                ),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("nl").alias("nbr_label"))
        )
        prop = (
            lab.join(nbr_min, lab["node"] == nbr_min["src"], "left")
            .select(
                "node",
                F.col("label").alias("label0"),
                F.least(
                    F.col("label"), F.coalesce("nbr_label", F.col("label"))
                ).alias("label"),
            )
        )
        # shortcut: l(l(v)); l(v) is always a node id and labels only
        # decrease, so the lookup hits and b.label <= a.label
        lab = (
            prop.alias("a")
            .join(
                prop.select(
                    F.col("node").alias("lnode"), F.col("label").alias("llabel")
                ).alias("b"),
                F.col("a.label") == F.col("lnode"),
                "left",
            )
            .select(
                F.col("a.node").alias("node"),
                "a.label0",
                F.least(
                    F.col("a.label"), F.coalesce("llabel", F.col("a.label"))
                ).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        if lab.where(F.col("label") < F.col("label0")).isEmpty():
            break
    sizes = lab.groupBy("label").agg(F.count(F.lit(1)).alias("component_size"))
    return (
        lab.join(sizes, "label")
        .select("node", F.col("label").alias("component"), "component_size")
    )


def cross_turn_event_edges(
    mentions_f: DataFrame, cfg: PipelineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Event-event temporal edges across turns of one conversation.

    turn-level entity sets -> lead() window -> exploded pairs, labeled by
    anchor-date comparison; only the next entity-bearing turn within
    ``cfg.cross_turn_max_gap`` turns is linked (bounded fan-out).
    Returns EDGE_SCHEMA-shaped rows.

    Skew: when ``cfg.conv_chunk_turns`` > 0 the lead window runs per
    (conv_id, chunk) with a ``cross_turn_max_gap``-turn halo duplicated
    across chunk boundaries (kgpipe.skew.with_conv_chunks) — exact results,
    but a hot conversation spreads over ceil(turns/chunk) tasks instead of
    landing in one window partition.
    """
    turn_entities = mentions_f.groupBy("conv_id", "turn_idx", "anchor_date").agg(
        F.sort_array(F.collect_set("cui")).alias("cuis")
    )
    if cfg.conv_chunk_turns > 0:
        from .skew import with_conv_chunks

        chunked = with_conv_chunks(
            turn_entities, cfg.conv_chunk_turns, cfg.cross_turn_max_gap
        )
        w = Window.partitionBy("conv_id", "chunk").orderBy("turn_idx")
    else:
        chunked = turn_entities.withColumn("is_halo", F.lit(False))
        w = Window.partitionBy("conv_id").orderBy("turn_idx")
    with_next = (
        chunked.withColumn("next_turn_idx", F.lead("turn_idx").over(w))
        .withColumn("next_anchor", F.lead("anchor_date").over(w))
        .withColumn("next_cuis", F.lead("cuis").over(w))
        .where(
            (~F.col("is_halo"))
            & F.col("next_turn_idx").isNotNull()
            & ((F.col("next_turn_idx") - F.col("turn_idx")) <= cfg.cross_turn_max_gap)
        )
    )
    pairs = with_next.select(
        "conv_id", "turn_idx", "anchor_date", "next_turn_idx", "next_anchor",
        F.explode("cuis").alias("src_cui"), "next_cuis",
    ).select(
        "conv_id", "turn_idx", "anchor_date", "next_turn_idx", "next_anchor",
        "src_cui", F.explode("next_cuis").alias("dst_cui"),
    )
    label = (
        F.when(F.col("anchor_date") < F.col("next_anchor"), F.lit("before"))
        .when(F.col("anchor_date") > F.col("next_anchor"), F.lit("after"))
        .otherwise(F.lit("overlap"))
    )
    return pairs.select(
        F.format_string("%s@%s_%d", "src_cui", "conv_id", "turn_idx").alias("src"),
        F.format_string("%s@%s_%d", "dst_cui", "conv_id", "next_turn_idx").alias("dst"),
        label.alias("pred"),
        "conv_id",
        "turn_idx",
        F.lit(1.0).alias("weight"),
    )


def triples_prf(
    system: DataFrame,
    gold: DataFrame,
    key_cols=("subj", "pred", "obj", "conv_id", "turn_idx"),
) -> DataFrame:
    """Distributed micro precision/recall/F1 of a system triple table
    against a gold one — the north rule's acceptance gate (triple P/R ≥
    0.95 vs the reference extractor) expressed as an operator that never
    collects either side (the golden pytest does this with Python sets;
    at 10^12-turn scale only the join form survives).

    Multiset semantics: each side aggregates to per-key occurrence counts
    (map-side combined), one full-outer sort-merge join on the triple key,
    then tp = Σ min(n_sys, n_gold), fp = Σ(n_sys − tp_k),
    fn = Σ(n_gold − tp_k) — the same scale shape as triple_delta.

    Returns ONE row: (tp, fp, fn, precision_e6, recall_e6, f1_e6) —
    metrics floor-scaled to integers so the decision replays exactly
    cross-engine (house convention; P=R=F1=1 ⇒ 1_000_000).
    """
    keys = list(key_cols)
    s = system.groupBy(*keys).agg(F.count(F.lit(1)).alias("n_sys"))
    g = gold.groupBy(*keys).agg(F.count(F.lit(1)).alias("n_gold"))
    j = s.join(g, keys, "full")
    n_sys = F.coalesce("n_sys", F.lit(0).cast("long"))
    n_gold = F.coalesce("n_gold", F.lit(0).cast("long"))
    tp_k = F.least(n_sys, n_gold)
    # coalesce: with BOTH sides empty the join has zero rows and the sums
    # come back NULL — the counts must still be honest zeros (same
    # COALESCE in the DuckDB twin)
    zero = F.lit(0).cast("long")
    agg = j.agg(
        F.coalesce(F.sum(tp_k), zero).alias("tp"),
        F.coalesce(F.sum(n_sys - tp_k), zero).alias("fp"),
        F.coalesce(F.sum(n_gold - tp_k), zero).alias("fn"),
    )
    tp, fp, fn = F.col("tp"), F.col("fp"), F.col("fn")
    prec = F.when(tp + fp > 0, tp / (tp + fp)).otherwise(F.lit(0.0))
    rec = F.when(tp + fn > 0, tp / (tp + fn)).otherwise(F.lit(0.0))
    f1 = F.when(
        2 * tp + fp + fn > 0, (2 * tp) / (2 * tp + fp + fn)
    ).otherwise(F.lit(0.0))
    e6 = lambda c: F.floor(c * 1e6).cast("bigint")  # noqa: E731
    return agg.select(
        tp.cast("bigint").alias("tp"),
        fp.cast("bigint").alias("fp"),
        fn.cast("bigint").alias("fn"),
        e6(prec).alias("precision_e6"),
        e6(rec).alias("recall_e6"),
        e6(f1).alias("f1_e6"),
    )


def tlink_infer_2hop(
    triples: DataFrame,
    *,
    pred: str = "ee-tlink:BEFORE",
    keys: tuple = ("conv_id", "turn_idx"),
) -> DataFrame:
    """One-step transitive inference over a BEFORE-style edge set:
    (a BEFORE b) ∧ (b BEFORE c) ⇒ (a BEFORE c) — the interval-algebra
    composition the reference leaves to its downstream consumer
    (timeline_delegator.py:468-477 exports raw pairwise links only).
    Emits INFERRED pairs — 2-hop reachable, not directly asserted — with
    the number of distinct witnessing middle nodes as evidence.

    ``keys`` scopes the composition: the default ``(conv_id, turn_idx)``
    composes the within-turn event-event graph; ``("conv_id",)`` composes
    the cross-turn entity graph (entity_graph edges carry the source turn
    in the node id, so conversation scope is the natural unit there).

    Scale: edges are clamped to a local window (±60 tokens within a turn,
    ≤8 turns across turns), so per-node degree is bounded by the window's
    capacity — the self-join on (keys, middle node) has constant fanout
    per edge, never quadratic in the conversation. One equi-join + one
    keyed aggregate + one anti-join, all on the same keys-prefixed join
    columns, so a single hash partitioning serves all three.

    Returns (*keys, subj, obj, n_paths).
    """
    ks = list(keys)
    e = (
        triples.where(F.col("pred") == pred)
        .select(*ks, "subj", "obj")
        .distinct()
    )
    a, b = e.alias("a"), e.alias("b")
    cond = F.col("a.obj") == F.col("b.subj")
    for k in ks:
        cond = cond & (F.col(f"a.{k}") == F.col(f"b.{k}"))
    comp = (
        a.join(b, cond)
        .select(
            *[F.col(f"a.{k}").alias(k) for k in ks],
            F.col("a.subj").alias("subj"),
            F.col("b.obj").alias("obj"),
        )
        .where(F.col("subj") != F.col("obj"))
    )
    # comp rows are (subj, mid, obj) with distinct (subj,mid),(mid,obj)
    # edges, so count(*) per (subj, obj) IS the distinct-witness count
    inferred = comp.groupBy(*ks, "subj", "obj").agg(
        F.count(F.lit(1)).alias("n_paths")
    )
    return inferred.join(e, ks + ["subj", "obj"], "left_anti")


# Back-compat alias. The old name over-promised: this is ONE composition
# step (2-hop inferred pairs), not a fixpoint transitive closure — a
# BEFORE chain of length 4 does NOT yield the (1, 4) pair.
tlink_closure = tlink_infer_2hop
