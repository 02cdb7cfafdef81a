"""End-to-end composition: transcripts -> triples / nodes / edges.

Two equivalent execution plans (equality-tested):

* ``build_triples(..., fused=False)`` — structured: every SURVEY.md §2
  operator is a visible DataFrame op over the one annotation product, the
  W1-ranked union frame (the annotate stage emits mention/timex/token rows
  directly in the merged W1 schema). Plan shape — ONE hash exchange total
  (plan-asserted in PLANS.md):

      scan -> mapInArrow(annotate -> union rows)          [narrow]
        -> F1 predicate, F2 broadcast anti-join, F5       [narrow]
        -> W1 row_number window   ── one exchange on (conv_id, turn_idx)
        -> persist; kind views are co-partitioned views of the cache
        -> J1 band join + pair groupBy + token join       [zero exchanges]
        -> tlink label / instance column expressions
        -> union with attribution/entity/dtr projections

* ``build_triples(..., fused=True)`` — one narrow mapInArrow, zero
  shuffles; the 10^12-turn scale path (scan-bound, embarrassingly parallel).
  Turns that miss ``text.mention_screen`` get their speaker/tool triples
  from ``pyarrow.compute``; only the rest run the per-turn kernel.

``build_annotations`` returns ``kind_rank`` views of the same frame, and
``build_graph`` feeds triples, edges and nodes from one persisted copy of
it, so the annotate pass and the W1 window run once per graph build.

The O1 semi-join gate (normalize timexes only for turns that have a
surviving entity mention — TimeMentionNormalizer.java:104-117,
Timelines.piper:32-35) holds on both plans. The fused path applies it
explicitly: ``pair.turn_triples`` runs F1/F2/F4 on the turn's mentions,
returns early when none survives, and only then detects and normalizes the
turn's timexes. The structured path detects timexes in every turn (the
``build_annotations`` timex tables serve other consumers), and its
downstream joins are inner on turns with mentions, so timex-only turns
never reach pairing/scoring.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .config import DEFAULT_CONFIG, PipelineConfig
from .extract import annotate_union, assign_union_ids, filter_union, kind_view
from .graph import (
    attribution_triples,
    cross_turn_event_edges,
    dtr_triples,
    entity_mention_triples,
)
from .pair import fused_triples, pair_window, tlink_triples_from_pairs

__all__ = [
    "build_annotations",
    "build_triples",
    "build_graph",
    "summarized_timelines",
    "ntriples_view",
]


def _union(transcripts, gazetteer, blacklist, cfg):
    """The persisted post-W1 union frame (annotate -> F1/F2/F4/F5 -> W1).
    Without the persist the W1 window (exchange -> sort -> window) and the
    annotate pass under it would re-execute once per consumer — entity
    triples, both pairing sides, the token join (measured 3x subtree wall
    at sf0.1)."""
    raw = annotate_union(transcripts, gazetteer, blacklist, cfg)
    return assign_union_ids(filter_union(raw, blacklist, cfg)).persist(
        StorageLevel.MEMORY_AND_DISK
    )


def _id_views(union: DataFrame) -> dict:
    return {
        "mentions": kind_view(union, 0, ids=True),
        "timexes": kind_view(union, 1, ids=True),
    }


def _persisted_tables(union: DataFrame) -> dict:
    """build_annotations' tables as views of the persisted union frame."""
    return {
        "mentions_f": kind_view(union, 0),
        "timexes_f": kind_view(union, 1),
        **_id_views(union),
    }


def build_annotations(
    transcripts: DataFrame,
    gazetteer,
    blacklist,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    persist: bool = True,
    timexes: bool = True,
):
    """Structured intermediate tables, every one a ``kind_rank`` view of the
    union frame ``annotate_union`` emits:

    * ``mentions_f`` / ``timexes_f`` — after F1/F2/F4 and F5, no ids;
    * ``mentions`` / ``timexes`` — the same rows plus the W1
      ``annotation_id``;
    * ``mentions_raw`` — mentions before F1/F2/F4 (only with
      ``persist=False`` or ``timexes=False``).

    ``persist=True`` persists the post-W1 frame MEMORY_AND_DISK and serves
    every key from it, so the annotate pass and the W1 exchange run once
    however many consumers read the tables.

    ``persist=False`` keeps every key lazy and the id-free keys pre-W1: a
    single-consumer plan such as mentions_f -> cross-turn edges pays no
    window exchange.

    ``timexes=False`` is the mentions-only fast path: timex detection is
    skipped inside the Arrow UDF and the returned dict carries ONLY
    mentions_raw / mentions_f — no timex tables and no annotation ids (the
    W1 id window ranks mentions and timexes together, so ids from a
    timex-free pass would disagree with the full pipeline's; omitting the
    keys makes that misuse impossible). With ``persist`` the raw mention
    frame is the persisted one."""
    if timexes and persist:
        return _persisted_tables(_union(transcripts, gazetteer, blacklist, cfg))
    raw = annotate_union(transcripts, gazetteer, blacklist, cfg, timexes=timexes)
    if persist:
        raw = raw.persist(StorageLevel.MEMORY_AND_DISK)
    filtered = filter_union(raw, blacklist, cfg)
    tables = {"mentions_raw": kind_view(raw, 0), "mentions_f": kind_view(filtered, 0)}
    if timexes:
        tables["timexes_f"] = kind_view(filtered, 1)
        tables.update(_id_views(assign_union_ids(filtered)))
    return tables


def _spread(transcripts: DataFrame, cfg: PipelineConfig) -> DataFrame:
    if cfg.salt_partitions > 0:
        # salted repartition on hash(conv_id, turn_idx): a hot conversation's
        # turns scatter across all executors before the (embarrassingly
        # parallel) annotation stage instead of staying in one input split
        from .skew import spread_by_turn

        return spread_by_turn(transcripts, cfg.salt_partitions)
    return transcripts


def _structured_triples(
    transcripts: DataFrame, union: DataFrame, cfg: PipelineConfig
) -> DataFrame:
    """Triples from the persisted union frame. All joins key on (conv_id,
    turn_idx) and read co-partitioned views of that one cached frame, so
    the band join, the pair groupBy and the token join add zero exchanges.
    The id'd mention and timex rows are read in the union's own columns:
    each consumer's one projection picks what it needs."""
    mentions_id, timexes_id = union.where("kind_rank = 0"), union.where("kind_rank = 1")
    # F3 (empty-doc skip) + O1 (entity gate on timex work) fall out of the
    # inner equi-join in pair_window: timexes of mention-less turns never
    # reach instance assembly or scoring.
    pairs = pair_window(mentions_id, timexes_id)
    tlink = tlink_triples_from_pairs(pairs, union.where("kind_rank = 2"), cfg)

    out = attribution_triples(transcripts).unionByName(
        entity_mention_triples(mentions_id)
    )
    if cfg.use_dtr:
        out = out.unionByName(dtr_triples(mentions_id))
    return out.unionByName(tlink)


def build_triples(
    transcripts: DataFrame,
    gazetteer,
    blacklist,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    fused: bool = False,
) -> DataFrame:
    """transcripts -> all triples (tlink + entity-mention + doc-time-rel
    (opt-in) + speaker-attribution + tool-invocation)."""
    transcripts = _spread(transcripts, cfg)
    if fused:
        return fused_triples(transcripts, gazetteer, blacklist, cfg)
    return _structured_triples(
        transcripts, _union(transcripts, gazetteer, blacklist, cfg), cfg
    )


def build_graph(
    transcripts: DataFrame,
    gazetteer,
    blacklist,
    cfg: PipelineConfig = DEFAULT_CONFIG,
):
    """Full graph materialization inputs: triples + cross-turn edges +
    canonical nodes, plus build_annotations' tables. All of them read one
    persisted union frame. Returns dict of DataFrames."""
    from .canon import canonical_nodes  # local import: optional stage

    transcripts = _spread(transcripts, cfg)
    union = _union(transcripts, gazetteer, blacklist, cfg)
    tables = _persisted_tables(union)
    return {
        "triples": _structured_triples(transcripts, union, cfg),
        "edges": cross_turn_event_edges(tables["mentions"], cfg),
        "nodes": canonical_nodes(tables["mentions"]),
        **tables,
    }


_NT_LITERAL_PREDS = ("speaker-attribution", "tool-invocation")


def ntriples_view(triples: DataFrame) -> DataFrame:
    """RDF N-Triples serialization of the triple table — the
    standards-facing KG export (the Anafora XML sink's graph-world
    sibling). One output column ``ntriple`` per input row, plus the
    conv_id for partitioned writes.

    Mapping (documented spec): subjects and predicates live under a
    ``urn:kg:`` namespace; objects of the attribution predicates
    (speaker/tool) are string literals with full N-Triples escaping
    (backslash first, then quote, newline, carriage return, tab — the
    spec's required literal escapes), every other object is an id -> URI.
    Pure JVM string algebra (concat/regexp_replace), zero UDFs —
    serialization stays in whole-stage codegen and scales with the scan.
    """
    esc = F.col("obj")
    for raw, escaped in (("\\", "\\\\"), ('"', '\\"'), ("\n", "\\n"),
                         ("\r", "\\r"), ("\t", "\\t")):
        esc = F.replace(esc, F.lit(raw), F.lit(escaped))
    obj_term = (
        F.when(
            F.col("pred").isin(*_NT_LITERAL_PREDS),
            F.concat(F.lit('"'), esc, F.lit('"')),
        )
        .otherwise(F.concat(F.lit("<urn:kg:id:"), F.col("obj"), F.lit(">")))
    )
    return triples.select(
        "conv_id",
        F.concat(
            F.lit("<urn:kg:id:"), F.col("subj"), F.lit("> "),
            F.lit("<urn:kg:pred:"), F.col("pred"), F.lit("> "),
            obj_term, F.lit(" ."),
        ).alias("ntriple"),
    )


def summarized_timelines(triples: DataFrame) -> DataFrame:
    """The reference's END PRODUCT: per-patient summarized timelines.

    The unsummarized TSV (triples_output_view) carries one row per scored
    (mention, timex) pair; the shared task's deliverable is the
    DEDUPLICATED (patient, chemo, tlink, normed_timex) tuple set
    (/root/reference/README.md:17-19,40 — "summarized gold timelines";
    the reference delegates this dedup to an external consumer of its
    annotation ids, timeline_delegator.py:468-477 — here it is a
    first-class operator). ``n_evidence`` counts the supporting pairs and
    ``first_dct``/``last_dct`` bound the provenance dates.

    One hash aggregate keyed on the 4-tuple; lower-cased chemo surface so
    casing variants of one mention collapse, mirroring the gold files'
    normalized surfaces.
    """
    return (
        triples.where(F.col("pred").startswith("tlink:"))
        .groupBy(
            F.col("conv_id").alias("patient_id"),
            F.lower("subj_text").alias("chemo_text"),
            F.regexp_replace("pred", "^tlink:", "").alias("tlink"),
            F.col("obj_text").alias("normed_timex"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_evidence"),
            F.min(F.date_format("anchor_date", "yyyy-MM-dd")).alias("first_dct"),
            F.max(F.date_format("anchor_date", "yyyy-MM-dd")).alias("last_dct"),
        )
    )


def triples_output_view(triples: DataFrame) -> DataFrame:
    """Reference-TSV-compatible projection of the tlink triples
    (NO_DTR_OUTPUT_COLUMNS, timeline_delegator.py:42-52) for golden
    comparison: DCT, patient_id, chemo_text, chemo_annotation_id,
    normed_timex, timex_annotation_id, tlink, note_name, tlink_inst."""
    return (
        triples.where(F.col("pred").startswith("tlink:"))
        .select(
            F.date_format("anchor_date", "yyyy-MM-dd").alias("DCT"),
            F.col("conv_id").alias("patient_id"),
            F.col("subj_text").alias("chemo_text"),
            F.col("subj").alias("chemo_annotation_id"),
            F.col("obj_text").alias("normed_timex"),
            F.col("obj").alias("timex_annotation_id"),
            F.regexp_replace("pred", "^tlink:", "").alias("tlink"),
            F.format_string("%s_%d", "conv_id", "turn_idx").alias("note_name"),
            F.col("instance").alias("tlink_inst"),
        )
        .orderBy("patient_id", "note_name", "chemo_annotation_id", "timex_annotation_id")
    )
