"""Spark extraction stages (structured path).

``annotate_union`` is the single heavy scan: one ``mapInPandas`` pass over
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

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .annotate import annotate_turn
from .config import DEFAULT_CONFIG, PipelineConfig
from .schemas import ANNOTATION_UNION_SCHEMA
from .score import tokens_for_mode

__all__ = [
    "annotate_union",
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
_TIMEX_FIELDS = ("begin", "end", "tok_begin", "tok_end", "surface", "kind", "normed")


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

    ``timexes=False`` is the mentions-only mode for consumers that read
    nothing but mentions (cross-turn edges, rollups, canonicalization):
    timex detection is skipped (~35% of per-turn CPU) and only kind_rank 0
    rows are emitted, so the Arrow boundary carries no timex or token
    rows."""
    spark = transcripts.sparkSession
    bc = spark.sparkContext.broadcast((gazetteer, blacklist, cfg))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        gaz, _bl, c = bc.value
        for pdf in batches:
            out = {k: [] for k in _UNION_COLS}

            def emit(conv_id, turn_idx, anchor, kind_rank, in_kind_idx, **payload):
                out["conv_id"].append(conv_id)
                out["turn_idx"].append(turn_idx)
                out["anchor_date"].append(anchor)
                out["kind_rank"].append(kind_rank)
                out["in_kind_idx"].append(in_kind_idx)
                for k in _UNION_COLS[5:]:
                    out[k].append(payload.get(k))

            for row in pdf.itertuples(index=False):
                ts = None if pd.isna(row.ts) else row.ts
                anchor, tok_rows, ments, tmx = annotate_turn(
                    row.conv_id, row.turn_idx, row.text, ts, gaz, _bl, c,
                    with_timexes=timexes,
                    with_token_rows="raw" if timexes else False,
                )
                for m in ments:
                    emit(
                        row.conv_id, row.turn_idx, anchor, 0, m["mention_idx"],
                        **{k: m[k] for k in _MENTION_FIELDS},
                    )
                if not timexes:
                    continue
                for t in tmx:
                    emit(
                        row.conv_id, row.turn_idx, anchor, 1, t["timex_idx"],
                        **{k: t[k] for k in _TIMEX_FIELDS},
                    )
                emit(
                    row.conv_id, row.turn_idx, anchor, 2, 0,
                    tok_stream="\x1f".join(tokens_for_mode(*tok_rows, "dtr")),
                )
            yield pd.DataFrame(out)

    cols = ["conv_id", "turn_idx", "text", "ts"]
    return transcripts.select(*cols).mapInPandas(gen, schema=ANNOTATION_UNION_SCHEMA)


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
    is_mention = F.col("kind_rank") == 0
    is_timex = F.col("kind_rank") == 1
    out = union.where(~is_mention | (F.col("tui") == F.lit(cfg.keep_tui)))
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
            (out["kind_rank"] == 0)
            & (F.lower(F.trim(out["surface"])) == bl_df["bl_term"]),
            "left_anti",
        )
    if cfg.use_conmod:
        out = out.where(~is_mention | (F.col("conmod") == F.lit("ACTUAL")))
    return out.where(~is_timex | F.col("normed").isNotNull())


def assign_union_ids(union_f: DataFrame) -> DataFrame:
    """W1 over the union frame: row_number per (conv_id, turn_idx) ordered by
    (begin, kind_rank, in_kind_idx) across mention+timex rows — token rows
    sort strictly last so they never shift a rank — formatted
    ``{i}@e@{conv}_{turn}@system`` (NULL for token rows). This is the
    structured path's single exchange."""
    w = Window.partitionBy("conv_id", "turn_idx").orderBy(
        (F.col("kind_rank") == 2).cast("int"), "begin", "kind_rank", "in_kind_idx"
    )
    return union_f.withColumn(
        "ann_rank", F.row_number().over(w) - F.lit(1)
    ).withColumn(
        "annotation_id",
        F.when(
            F.col("kind_rank") < 2,
            F.format_string(
                "%d@e@%s_%d@system",
                F.col("ann_rank"), F.col("conv_id"), F.col("turn_idx"),
            ),
        ),
    )


def kind_view(union: DataFrame, kind_rank: int, ids: bool = False) -> DataFrame:
    """The mention (kind_rank 0) or timex (kind_rank 1) rows of a union frame
    as their per-kind relation: (conv_id, turn_idx, anchor_date,
    mention_idx | timex_idx, <payload>), plus ``annotation_id`` when
    ``ids`` (the frame must then be ``assign_union_ids`` output)."""
    idx, fields = (
        ("mention_idx", _MENTION_FIELDS), ("timex_idx", _TIMEX_FIELDS)
    )[kind_rank]
    return union.where(F.col("kind_rank") == kind_rank).select(
        "conv_id", "turn_idx", "anchor_date",
        F.col("in_kind_idx").alias(idx), *fields,
        *(["annotation_id"] if ids else []),
    )
