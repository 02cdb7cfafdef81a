"""StructType schemas for every stage boundary (SURVEY.md §1.3 Spark mapping).

All primitive columns; spans are two ints, concepts plain strings — never
UDTs. The annotation stage emits flat rows in one union schema (mentions,
timexes and per-turn token streams tagged by ``kind_rank``), so it stays a
narrow (zero-shuffle) map with no nested arrays to explode; the relational
mentions/timexes tables are projections of it.
"""

from __future__ import annotations

from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

TRANSCRIPTS_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)

# The one annotation product: the annotate stage emits mention rows
# (kind_rank 0), timex rows (kind_rank 1) and ONE token-stream row per turn
# (kind_rank 2) directly in the merged W1 union shape, so the structured
# path needs a single exchange and a single persist — filters
# (F1/F2/F4/F5) and the W1 window stay visible DataFrame operators over
# this frame, and extract.kind_view projects the per-kind relations.
ANNOTATION_UNION_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("anchor_date", T.DateType()),
        T.StructField("kind_rank", T.IntegerType()),    # 0 mention / 1 timex / 2 tokens
        T.StructField("in_kind_idx", T.IntegerType()),  # mention_idx / timex_idx
        T.StructField("begin", T.IntegerType()),
        T.StructField("end", T.IntegerType()),
        T.StructField("tok_begin", T.IntegerType()),
        T.StructField("tok_end", T.IntegerType()),      # inclusive token index
        # mentions: newline-stripped covered text; timexes: covered text
        T.StructField("surface", T.StringType()),
        T.StructField("term", T.StringType()),          # normalized matched term
        T.StructField("cui", T.StringType()),
        T.StructField("tui", T.StringType()),
        T.StructField("confidence", T.DoubleType()),
        T.StructField("conmod", T.StringType()),
        T.StructField("conmod_inst", T.StringType()),
        T.StructField("dtr", T.StringType()),
        T.StructField("dtr_inst", T.StringType()),
        # precomputed ±60-token pairing window as char offsets (J1/O4)
        T.StructField("win_char_begin", T.IntegerType()),
        T.StructField("win_char_end", T.IntegerType()),
        T.StructField("kind", T.StringType()),          # timex kind
        T.StructField("normed", T.StringType()),        # null => dropped by F5
        # timex rows only, from annotate.annotate_timexes: the uninverted
        # score.tlink_label of normed against anchor_date (null when normed
        # is), and normed's timex.timeml_interval dates (null when it has
        # none), which the event-event labels compare
        T.StructField("tlink", T.StringType()),
        T.StructField("iv_begin", T.DateType()),
        T.StructField("iv_end", T.DateType()),
        # the turn's token stream, already <newline>-substituted
        # (tokens_for_mode mode="dtr" — the only mode pair scoring uses),
        # joined with \x1f: ONE Arrow string per turn instead of ~180
        # per-token strings + flags, which halves the annotate stage's
        # Arrow transfer cost at sf0.1
        T.StructField("tok_stream", T.StringType()),
    ]
)

TRIPLE_SCHEMA = T.StructType(
    [
        T.StructField("subj", T.StringType()),
        T.StructField("pred", T.StringType()),
        T.StructField("obj", T.StringType()),
        T.StructField("anchor_date", T.DateType()),
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("subj_text", T.StringType()),
        T.StructField("obj_text", T.StringType()),
        T.StructField("instance", T.StringType()),
    ]
)

_TRIPLE_KEYS = ("anchor_date", "conv_id", "turn_idx")


def triple_exprs(**fields: str) -> list[str]:
    """``selectExpr`` text projecting a frame onto TRIPLE_SCHEMA: each field
    is the SQL expression given for it, cast to its type and named after
    it. A field not given is its same-named column for the turn keys
    (anchor_date, conv_id, turn_idx) and a typed NULL otherwise."""
    return [
        f"CAST({fields.get(f.name, f.name if f.name in _TRIPLE_KEYS else 'NULL')}"
        f" AS {f.dataType.simpleString()}) AS {f.name}"
        for f in TRIPLE_SCHEMA.fields
    ]


def sql_str(value) -> str:
    """``value`` (a string or None) as a Spark SQL literal for expression
    text. Every character outside [A-Za-z0-9 _-.:] is written as \\uXXXX
    escapes of its UTF-16 units, so no quote, backslash or ``${...}``
    variable reference in the value can change the text around it."""
    if value is None:
        return "NULL"
    out = []
    for ch in value:
        if ch.isascii() and (ch.isalnum() or ch in " _-.:"):
            out.append(ch)
        else:
            u = ch.encode("utf-16-be")
            out.extend(f"\\u{u[i]:02x}{u[i + 1]:02x}" for i in range(0, len(u), 2))
    return "'" + "".join(out) + "'"


# the Arrow forms the mapInArrow kernels emit (extract.union_batch,
# pair.triples_batch)
ANNOTATION_UNION_ARROW_SCHEMA = to_arrow_schema(ANNOTATION_UNION_SCHEMA)
TRIPLE_ARROW_SCHEMA = to_arrow_schema(TRIPLE_SCHEMA)

NODE_SCHEMA = T.StructType(
    [
        T.StructField("node_id", T.StringType()),
        T.StructField("kind", T.StringType()),
        T.StructField("canonical_cui", T.StringType()),
        T.StructField("surfaces", T.ArrayType(T.StringType())),
        T.StructField("conv_id", T.StringType()),
    ]
)

EDGE_SCHEMA = T.StructType(
    [
        T.StructField("src", T.StringType()),
        T.StructField("dst", T.StringType()),
        T.StructField("pred", T.StringType()),
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("weight", T.DoubleType()),
    ]
)

LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType()),
        T.StructField("source_snapshot_id", T.StringType()),
        T.StructField("partition_hash", T.IntegerType()),
        T.StructField("triple_count", T.LongType()),
        T.StructField("stage_timings", T.MapType(T.StringType(), T.DoubleType())),
        T.StructField("completed_at", T.TimestampType()),
    ]
)
