"""Spark extraction stages (structured path).

``annotate_union`` is the single heavy scan: one ``mapInArrow`` pass over
the transcripts table — a NARROW transformation (zero shuffle), so it
scales linearly with input splits; the gazetteer/blacklist ride along as a
broadcast variable (S2/S3). It emits one flat frame in the merged W1 union
shape (ANNOTATION_UNION_SCHEMA): mention rows (kind_rank 0), timex rows
(kind_rank 1) and one token-stream row per turn (kind_rank 2).

Everything after it is visible DataFrame algebra over that frame, keyed on
(conv_id, turn_idx) so Catalyst plans a single exchange that the W1 window,
the J1 band join and the token join all reuse:

* ``filter_union`` — F1 TUI predicate, F2 blacklist broadcast LEFT ANTI
  join (EventFilter.java exact-equality semantics), optional F4 conmod gate
  on mention rows; F5 ``normed IS NOT NULL`` on timex rows
* ``assign_union_ids`` — W1: row_number() over (conv_id, turn_idx) ordered
  by (begin, kind_rank, in-kind index), formatted
  ``{i}@e@{conv}_{turn}@system`` (timeline_delegator.py:469-477; ties follow
  the reference's stable chain(mentions, timexes) order)
* ``kind_view`` — the mention or timex rows as their per-kind relation
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .annotate import annotate_mentions, annotate_timexes
from .config import DEFAULT_CONFIG, PipelineConfig
from .resources import broadcast_artifacts
from .schemas import ANNOTATION_UNION_ARROW_SCHEMA, ANNOTATION_UNION_SCHEMA, sql_str
from .score import tokens_for_mode
from .worker import local_wall_ts, worker_body

__all__ = [
    "annotate_union",
    "union_batch",
    "filter_union",
    "assign_union_ids",
    "kind_view",
]


_UNION_COLS = ANNOTATION_UNION_SCHEMA.fieldNames()
_MENTION_FIELDS = (
    "begin", "end", "tok_begin", "tok_end", "surface", "term", "cui", "tui",
    "confidence", "conmod", "conmod_inst", "dtr", "dtr_inst",
    "win_char_begin", "win_char_end",
)
_TIMEX_FIELDS = (
    "begin", "end", "tok_begin", "tok_end", "surface", "kind", "normed",
    "tlink", "iv_begin", "iv_end",
)


def annotate_union(
    transcripts: DataFrame,
    gazetteer,
    blacklist,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    timexes: bool = True,
) -> DataFrame:
    """One-pass structured annotate: emits mention rows (kind_rank 0), timex
    rows (kind_rank 1) and one token-stream row per turn (kind_rank 2)
    directly in the merged W1 union shape (ANNOTATION_UNION_SCHEMA).

    The flat output lets the whole structured triples path run with ONE
    exchange (the W1 window) and ONE persist. Mentions are RAW — F1/F2/F4/F5
    stay visible DataFrame operators downstream (``filter_union``).

    ``timexes=False`` is the mentions-only mode for callers that read
    nothing but mentions — ``__spark_entry__``'s ``kg_conmod`` query, and
    ``bench.py``'s cross-turn wall through ``build_annotations``: timex
    detection is skipped (~35% of per-turn CPU) and only kind_rank 0 rows
    are emitted, so the Arrow boundary carries no timex or token rows."""
    bc = broadcast_artifacts(transcripts.sparkSession.sparkContext, gazetteer, blacklist, cfg)

    @worker_body
    def gen(batches):
        gaz, bl, c = bc.value
        for batch in batches:
            yield union_batch(batch, gaz, bl, c, timexes)

    return transcripts.selectExpr("conv_id", "turn_idx", "text", "ts").mapInArrow(
        gen, schema=ANNOTATION_UNION_SCHEMA
    )


def union_batch(batch, gazetteer, blacklist, cfg: PipelineConfig, timexes: bool = True):
    """One Arrow batch of transcripts (conv_id, turn_idx, text, ts) ->
    its union rows as one ``pa.RecordBatch`` in the Arrow form of
    ANNOTATION_UNION_SCHEMA: per turn, its mention rows, then (with
    ``timexes``) its timex rows and its token-stream row. ``ts`` reaches
    ``annotate_mentions`` / ``annotate_timexes`` as the naive wall-clock
    datetime.

    The columns are built as typed lists: five per-row key lists, and one
    payload dict per row (the annotate dicts themselves) from which each
    payload column is read with ``dict.get``, so a column a row's kind does
    not carry is null."""
    import pyarrow as pa

    head = {k: [] for k in _UNION_COLS[:5]}
    payloads = []
    for conv_id, turn_idx, text, ts in zip(
        batch.column("conv_id").to_pylist(),
        batch.column("turn_idx").to_pylist(),
        batch.column("text").to_pylist(),
        local_wall_ts(batch.column("ts")).to_pylist(),
    ):
        anchor, tokenized, ments = annotate_mentions(text, ts, gazetteer, cfg)
        rows = ments
        kinds = [0] * len(ments)
        idx = [m["mention_idx"] for m in ments]
        if timexes:
            tmx = annotate_timexes(text, ts, anchor, tokenized)
            tok_stream = tokens_for_mode(
                tokenized.tokens, tokenized.newline_flags, "dtr"
            )
            rows = ments + tmx + [{"tok_stream": "\x1f".join(tok_stream)}]
            kinds += [1] * len(tmx) + [2]
            idx += [t["timex_idx"] for t in tmx] + [0]
        n = len(rows)
        head["conv_id"].extend([conv_id] * n)
        head["turn_idx"].extend([turn_idx] * n)
        head["anchor_date"].extend([anchor] * n)
        head["kind_rank"].extend(kinds)
        head["in_kind_idx"].extend(idx)
        payloads.extend(rows)
    fields = list(ANNOTATION_UNION_ARROW_SCHEMA)
    return pa.RecordBatch.from_arrays(
        [pa.array(head[f.name], f.type) for f in fields[:5]]
        + [pa.array([p.get(f.name) for p in payloads], f.type) for f in fields[5:]],
        schema=ANNOTATION_UNION_ARROW_SCHEMA,
    )


def filter_union(
    union: DataFrame,
    blacklist,
    cfg: PipelineConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """F1/F2/F4 on mention rows + F5 on timex rows of the union frame; token
    rows pass through untouched. Each operator is guarded by kind_rank so it
    only bites its own relation.

    F1: TUI predicate (timeline_delegator.py:369-375).
    F2: blacklist exact-equality anti-join on trimmed lowercase surface
        (EventFilter.java:100-110) — broadcast LEFT ANTI join.
    F4: keep conmod == ACTUAL when the gate is enabled
        (timeline_delegator.py:415-419).
    F5: only normalized timexes survive (timexes_with_normalization,
        timeline_delegator.py:171-177; silent-drop semantics O3).
    """
    spark = union.sparkSession
    keep = [
        f"(kind_rank != 0 OR tui = {sql_str(cfg.keep_tui)})",
        "(kind_rank != 1 OR normed IS NOT NULL)",
    ]
    if cfg.use_conmod:
        keep.append("(kind_rank != 0 OR conmod = 'ACTUAL')")
    # one predicate for F1/F4/F5 (it commutes with the F2 anti-join, and
    # Catalyst merges the filters below that join either way)
    out = union.where(" AND ".join(keep))
    if blacklist:
        # with Arrow on (kgpipe sessions) a pandas frame becomes a
        # LocalRelation, so its broadcast is a JVM-only job; a list of
        # tuples would start Python workers to unpickle it before every
        # structured annotate stage
        bl_df = spark.createDataFrame(
            pd.DataFrame({"bl_term": sorted(blacklist)}), "bl_term string"
        )
        out = out.join(
            F.broadcast(bl_df),
            F.expr("kind_rank = 0 AND lower(trim(surface)) = bl_term"),
            "left_anti",
        )
    return out


def assign_union_ids(union_f: DataFrame) -> DataFrame:
    """W1 over the union frame: row_number per (conv_id, turn_idx) ordered by
    (begin, kind_rank, in_kind_idx) across mention+timex rows — token rows
    sort strictly last so they never shift a rank — formatted
    ``{i}@e@{conv}_{turn}@system`` (NULL for token rows). This is the
    structured path's single exchange."""
    return union_f.selectExpr(
        "*",
        "row_number() OVER (PARTITION BY conv_id, turn_idx ORDER BY "
        "CAST(kind_rank = 2 AS INT), begin, kind_rank, in_kind_idx) - 1 AS ann_rank",
        "CASE WHEN kind_rank < 2 THEN "
        "format_string('%d@e@%s_%d@system', ann_rank, conv_id, turn_idx) END "
        "AS annotation_id",
    )


def kind_view(union: DataFrame, kind_rank: int, ids: bool = False) -> DataFrame:
    """The mention (kind_rank 0) or timex (kind_rank 1) rows of a union frame
    as their per-kind relation: (conv_id, turn_idx, anchor_date,
    mention_idx | timex_idx, <payload>), plus ``annotation_id`` when
    ``ids`` (the frame must then be ``assign_union_ids`` output)."""
    idx, fields = (
        ("mention_idx", _MENTION_FIELDS), ("timex_idx", _TIMEX_FIELDS)
    )[kind_rank]
    return union.where(f"kind_rank = {kind_rank}").selectExpr(
        "conv_id", "turn_idx", "anchor_date", f"in_kind_idx AS {idx}",
        *(f"`{f}`" for f in fields), *(["annotation_id"] if ids else []),
    )
