"""J1 windowed pairing + TLINK scoring -> tlink triples.

Structured path: the pairing is an equi+band join — equi on
(conv_id, turn_idx), band on the mention's precomputed ±60-token char window
(both timex ends inside the window, get_tlink_window_mentions semantics,
timeline_delegator.py:255-280). Because every upstream stage is keyed on the
same (conv_id, turn_idx), the join reuses the existing exchange; the O(n·m)
cross product is clamped by the band predicate exactly as the reference's
token-window clamp (O4).

Instance strings need the turn's token stream, so pairs are joined back to
the union frame's token rows (same key again) and assembled by column
expressions. The deterministic TLINK label is not computed here: the
annotate kernel emits it on every timex row (``tlink``, see
``annotate.annotate_timexes``), and the pair applies the inversion rule (X8,
timeline_delegator.py:449-455) as an expression, so the structured path
crosses the Python boundary once, in the annotate ``mapInArrow``.

``turn_triples`` is the fused per-turn equivalent (zero-shuffle path): one
call produces ALL triples for a turn — tlink, entity-mention, doc-time-rel
(opt-in), speaker-attribution, tool-invocation — with identical results to
the structured path (equality-tested). It detects timexes only in turns
with a surviving mention (the O1 gate). ``fused_triples`` runs it in one
``mapInArrow`` pass; ``triples_batch`` calls it only for turns whose text
passes ``text.mention_screen`` and builds the other turns' speaker and
tool triples with ``pyarrow.compute``.
"""

from __future__ import annotations

from typing import List

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .annotate import annotate_mentions, annotate_timexes
from .config import DEFAULT_CONFIG, LABEL_TO_INVERTED_LABEL, PipelineConfig
from .resources import broadcast_artifacts
from .schemas import TRIPLE_ARROW_SCHEMA, TRIPLE_SCHEMA, sql_str, triple_exprs
from .score import (
    TLINK_PAD_LENGTH,
    apply_inversion,
    get_tlink_instance,
    tokens_for_mode,
)
from .text import mention_screen
from .worker import local_wall_ts, worker_body

__all__ = [
    "pair_window",
    "tlink_triples_from_pairs",
    "nearest_anchor_timex",
    "event_event_triples",
    "turn_triples",
    "triples_batch",
]


def pair_window(
    mentions_f: DataFrame,
    timexes_f: DataFrame,
) -> DataFrame:
    """J1: band join of filtered+id'd mentions against normalized+id'd
    timexes within the mention's char window. Returns one row per (mention,
    timex) pair with both spans and ids (the timex side's keys as
    t_conv_id / t_turn_idx)."""
    m = mentions_f.selectExpr(
        "conv_id", "turn_idx", "anchor_date", "`begin` AS m_begin", "`end` AS m_end",
        "tok_begin AS m_tok_begin", "tok_end AS m_tok_end", "surface AS m_surface",
        "cui AS m_cui", "dtr AS m_dtr", "dtr_inst AS m_dtr_inst",
        "annotation_id AS m_annotation_id", "win_char_begin", "win_char_end",
    )
    # the uninverted tlink label is a function of the TIMEX row alone
    # (normed value vs the turn anchor): the annotate kernel emits it as the
    # timex row's ``tlink`` column, and it rides the join
    t = timexes_f.selectExpr(
        "conv_id AS t_conv_id", "turn_idx AS t_turn_idx",
        "`begin` AS t_begin", "`end` AS t_end",
        "tok_begin AS t_tok_begin", "tok_end AS t_tok_end", "normed AS t_normed",
        "annotation_id AS t_annotation_id", "tlink AS t_tlink",
    )
    # the timex side is the build side by hint, not by size: both sides
    # read the one cached frame, AQE re-plans the join as each side's cache
    # stage reports, and the order of those reports decided which side it
    # broadcast (the timex side on most runs, the mention side on some:
    # a second broadcast and newly generated code to compile). The keys
    # are compared null-safe, as the fused path pairs within a turn whose
    # conv_id or turn_idx is null.
    return m.join(F.broadcast(t), F.expr(
        "conv_id <=> t_conv_id AND turn_idx <=> t_turn_idx"
        " AND t_begin BETWEEN win_char_begin AND win_char_end"
        " AND t_end BETWEEN win_char_begin AND win_char_end"
    ))


def _tlink_instance_sql() -> str:
    """get_tlink_instance as expression text over the turn's token array
    ``toks_arr``: identical string algebra (packet sort by begin with the
    event winning ties — Python's stable sort —, pad clamping, and the
    reference's end-exclusive final slice), no Python boundary. Python's
    ``x[a:b]`` is ``slice(x, a + 1, greatest(0, b - a))``: Spark's slice is
    1-based with a non-negative length."""

    def first(event, timex):  # the event's value if its packet comes first
        return f"CASE WHEN m_tok_begin <= t_tok_begin THEN {event} ELSE {timex} END"

    def py_slice(a, b):
        return f"slice(toks_arr, ({a}) + 1, greatest(0, ({b}) - ({a})))"

    e_e, t_e = "m_tok_end + 1", "t_tok_end + 1"
    fb, fe = first("m_tok_begin", "t_tok_begin"), first(e_e, t_e)
    sb, se = first("t_tok_begin", "m_tok_begin"), first(t_e, e_e)
    start = f"greatest(0, ({fb}) - {TLINK_PAD_LENGTH})"
    end = f"least(size(toks_arr) - 1, ({se}) + {TLINK_PAD_LENGTH})"

    def tag(event, timex):  # the packet's open or close tag
        return f"array({first(repr(event), repr(timex))})"

    pieces = [
        py_slice(start, fb), tag("<e>", "<t>"), py_slice(fb, fe), tag("</e>", "</t>"),
        py_slice(fe, sb), tag("<t>", "<e>"), py_slice(sb, se), tag("</t>", "</e>"),
        py_slice(se, end),
    ]
    return f"array_join(concat({', '.join(pieces)}), ' ')"


_TLINK_INSTANCE = _tlink_instance_sql()
# the label is inverted (X8) when the timex precedes the event in the text
_TLINK_PRED = (
    "concat('tlink:', CASE WHEN t_begin < m_begin THEN element_at(map({}), t_tlink)"
    " ELSE t_tlink END)"
).format(", ".join(sql_str(x) for kv in LABEL_TO_INVERTED_LABEL.items() for x in kv))


def tlink_triples_from_pairs(
    pairs: DataFrame,
    toks: DataFrame,
    cfg: PipelineConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """Pairs + turn token streams -> scored tlink triples (TRIPLE_SCHEMA).

    ``toks`` is one row per turn: (conv_id, turn_idx, tok_stream) — the
    kind_rank=2 split of the union frame; tok_stream is the turn's
    \\x1f-joined, <newline>-substituted token stream (tokens_for_mode
    mode="dtr", precomputed at annotate time).

    Everything here is JVM whole-stage codegen. The label arrives on the
    pairs as the timex row's ``tlink`` column and ``_TLINK_PRED`` inverts
    it; the token stream is split ONCE per turn on the toks side, the
    co-partitioned join attaches the array to each pair, and the
    instance string is built by a slice/concat/array_join expression
    (value-identical to get_tlink_instance — pytest-pinned). The previous
    shape collected pair structs per turn and assembled instances in a
    row-at-a-time Python loop; moving the string algebra into codegen
    removed the whole mapInPandas stage (~1.6 s of the structured path at
    sf0.1, plan: MapInPandas -> none)."""
    tok_arr = toks.selectExpr(
        "conv_id AS k_conv_id", "turn_idx AS k_turn_idx",
        "CASE WHEN tok_stream = '' THEN CAST(array() AS array<string>) "
        f"ELSE split(tok_stream, {sql_str(chr(0x1f))}) END AS toks_arr",
    )
    # one row per turn, broadcast by hint and keyed null-safe for the
    # reasons pair_window gives
    joined = pairs.join(
        F.broadcast(tok_arr), F.expr("conv_id <=> k_conv_id AND turn_idx <=> k_turn_idx")
    )
    # TRIPLE_SCHEMA exactly, types included
    return joined.selectExpr(*triple_exprs(
        subj="m_annotation_id", pred=_TLINK_PRED, obj="t_annotation_id",
        subj_text="m_surface", obj_text="t_normed", instance=_TLINK_INSTANCE,
    ))


def nearest_anchor_timex(mentions_f: DataFrame, timexes_f: DataFrame) -> DataFrame:
    """Per mention, the nearest normalized timex inside its ±60-token char
    window (W7 nearest-anchor applied to in-window candidates): smallest
    |timex.begin - mention.begin|, ties to the earlier timex then the lower
    timex_idx. Returns (conv_id, turn_idx, annotation_id, iv_begin, iv_end),
    the anchor's TimeML interval dates (null when it has none) — one row per
    mention that HAS an in-window timex."""
    m = mentions_f.select(
        "conv_id", "turn_idx",
        F.col("begin").alias("m_begin"),
        "annotation_id", "win_char_begin", "win_char_end",
    )
    t = timexes_f.select(
        "conv_id", "turn_idx",
        F.col("begin").alias("t_begin"), F.col("end").alias("t_end"),
        F.col("timex_idx").alias("t_idx"),
        "iv_begin", "iv_end",
    )
    j = m.join(t, ["conv_id", "turn_idx"]).where(
        F.col("t_begin").between(F.col("win_char_begin"), F.col("win_char_end"))
        & F.col("t_end").between(F.col("win_char_begin"), F.col("win_char_end"))
    )
    w = Window.partitionBy("conv_id", "turn_idx", "annotation_id").orderBy(
        F.abs(F.col("t_begin") - F.col("m_begin")), "t_begin", "t_idx"
    )
    return (
        j.withColumn("nr", F.row_number().over(w))
        .where(F.col("nr") == 1)
        .select("conv_id", "turn_idx", "annotation_id", "iv_begin", "iv_end")
    )


# Interval-algebra label between the anchor intervals of the subject (a)
# and the object (b), the event-event analog of the U1 scorer (documented
# spec, shared with the oracle): either side without an interval -> 'none';
# disjoint -> 'before'/'after' by order; identical -> 'overlap'; one
# containing the other -> 'contains' / 'contains-1'; partial overlap ->
# 'overlap'. The dates are the anchors' ``iv_begin`` / ``iv_end``, which the
# annotate kernel emits from ``timex.timeml_interval``.
_EE_LABEL = """CASE
  WHEN a.iv_begin IS NULL OR b.iv_begin IS NULL THEN 'none'
  WHEN a.iv_end < b.iv_begin THEN 'before'
  WHEN a.iv_begin > b.iv_end THEN 'after'
  WHEN a.iv_begin = b.iv_begin AND a.iv_end = b.iv_end THEN 'overlap'
  WHEN a.iv_begin <= b.iv_begin AND a.iv_end >= b.iv_end THEN 'contains'
  WHEN b.iv_begin <= a.iv_begin AND b.iv_end >= a.iv_end THEN 'contains-1'
  ELSE 'overlap'
END"""


def event_event_triples(
    mentions_id: DataFrame, timexes_id: DataFrame
) -> DataFrame:
    """J6: within-turn event-event TLINKs.

    Deleted-neighborhood pairing (timeline_delegator.py:283-288 — every
    OTHER mention of the turn) clamped by the subject's ±60-token char
    window (O4, same clamp as J1): the pair (a, b) is emitted once with
    a = the textually-first mention (mention_idx order, which IS the
    (begin, end) sort), b fully inside a's window. Each side is anchored to
    its nearest in-window timex (W7 nearest-anchor), and the label compares
    the two anchors' TimeML intervals with the interval algebra
    (``_EE_LABEL``, one SQL expression); the subject is textually first, so
    X8 inversion is the identity by construction. All joins key on (conv_id, turn_idx) — the same exchange
    every other stage uses."""
    anchors = nearest_anchor_timex(mentions_id, timexes_id)
    m = mentions_id.join(
        anchors, ["conv_id", "turn_idx", "annotation_id"], "left"
    ).select(
        "conv_id", "turn_idx", "annotation_id", "anchor_date",
        "mention_idx", "begin", "end", "surface",
        "win_char_begin", "win_char_end", "iv_begin", "iv_end",
    )
    a = m.alias("a")
    b = m.alias("b")
    pairs = a.join(b, ["conv_id", "turn_idx"]).where(
        (F.col("a.mention_idx") < F.col("b.mention_idx"))
        & F.col("b.begin").between(
            F.col("a.win_char_begin"), F.col("a.win_char_end")
        )
        & F.col("b.end").between(
            F.col("a.win_char_begin"), F.col("a.win_char_end")
        )
    )
    out = pairs.select(
        F.col("a.annotation_id").alias("subj"),
        F.concat(F.lit("ee-tlink:"), F.expr(_EE_LABEL)).alias("pred"),
        F.col("b.annotation_id").alias("obj"),
        F.col("a.anchor_date").alias("anchor_date"),
        "conv_id", "turn_idx",
        F.col("a.surface").alias("subj_text"),
        F.col("b.surface").alias("obj_text"),
        F.lit(None).cast("string").alias("instance"),
    )
    return out


# --------------------------------------------------------------------------
# fused path: transcripts -> triples in one narrow pass
# --------------------------------------------------------------------------

def note_name(conv_id, turn_idx) -> str:
    """``{conv_id}_{turn_idx}``, the turn's part of its triple ids, as the
    structured path's ``format_string`` renders it: a null key reads
    ``null``."""
    return "_".join("null" if k is None else str(k) for k in (conv_id, turn_idx))


def turn_triples(
    conv_id: str,
    turn_idx: int,
    role,
    tool,
    ts,
    text: str,
    gazetteer,
    blacklist,
    cfg: PipelineConfig = DEFAULT_CONFIG,
) -> List[dict]:
    """All triples for one turn (fused path). Mirrors the structured
    DataFrame algebra exactly; the equality of the two paths is a pytest
    invariant.

    Order of work follows the reference's O1 gate (TimeMentionNormalizer.
    java:104-117): tokenize + gazetteer + mention rows, then F1/F2/F4, then
    the F3 early return, and only for a turn with a surviving mention the
    timex half (detect + normalize) over the same tokenization. A turn
    without one yields only its speaker/tool triples, so detecting its
    timexes would be work whose output is thrown away."""
    anchor, tokenized, mention_rows = annotate_mentions(text, ts, gazetteer, cfg)
    note = note_name(conv_id, turn_idx)
    out: List[dict] = []

    def triple(subj, pred, obj, subj_text=None, obj_text=None, instance=None):
        out.append(
            {
                "subj": subj, "pred": pred, "obj": obj,
                "anchor_date": anchor, "conv_id": conv_id, "turn_idx": turn_idx,
                "subj_text": subj_text, "obj_text": obj_text, "instance": instance,
            }
        )

    # speaker-attribution / tool-invocation (graph predicates, column-level)
    if role is not None:
        triple(f"turn@{note}", "speaker-attribution", role)
    if tool:
        triple(f"turn@{note}", "tool-invocation", tool)

    # F1 + F2 + optional F4
    positive = [
        m
        for m in mention_rows
        if m["tui"] == cfg.keep_tui
        and m["surface"].strip().lower() not in blacklist
        and (not cfg.use_conmod or m["conmod"] == "ACTUAL")
    ]
    if not positive:  # F3 empty-doc skip; O1: no timex work for this turn
        return out
    timex_rows = annotate_timexes(text, ts, anchor, tokenized)
    relevant = [t for t in timex_rows if t["normed"] is not None]  # F5

    # W1 annotation ids: mentions ∪ timexes, stable sort by begin
    ann = [(m["begin"], 0, i) for i, m in enumerate(positive)] + [
        (t["begin"], 1, i) for i, t in enumerate(relevant)
    ]
    ann.sort()
    ids = {}
    for rank, (_, kind, i) in enumerate(ann):
        ids[(kind, i)] = f"{rank}@e@{note}@system"

    tokens = tokens_for_mode(tokenized.tokens, tokenized.newline_flags, "dtr")
    for mi, m in enumerate(positive):
        m_id = ids[(0, mi)]
        triple(
            m_id, "entity-mention", m["cui"],
            subj_text=m["surface"], obj_text=m["term"], instance=None,
        )
        if cfg.use_dtr:
            triple(
                m_id, "doc-time-rel", m["dtr"],
                subj_text=m["surface"], instance=m["dtr_inst"],
            )
        for ti, t in enumerate(relevant):
            inside = (
                m["win_char_begin"] <= t["begin"] <= m["win_char_end"]
                and m["win_char_begin"] <= t["end"] <= m["win_char_end"]
            )
            if not inside:
                continue
            inst = get_tlink_instance(
                (m["tok_begin"], m["tok_end"] + 1),
                (t["tok_begin"], t["tok_end"] + 1),
                tokens,
            )
            label = apply_inversion(t["tlink"], t["begin"], m["begin"])
            triple(
                m_id, "tlink:" + label, ids[(1, ti)],
                subj_text=m["surface"], obj_text=t["normed"], instance=inst,
            )
    return out


def triples_batch(batch, gazetteer, blacklist, cfg: PipelineConfig, screen):
    """All triples of one Arrow batch of transcripts (conv_id, turn_idx,
    role, text, tool, ts) as a ``pa.Table`` in the Arrow form of
    TRIPLE_SCHEMA: the rows ``turn_triples`` gives turn by turn,
    concatenated in input order.

    ``screen`` is ``text.mention_screen``'s pattern (None: no screen). A
    turn whose text misses it has no surviving mention, so its triples are
    the speaker and tool triples alone; when its ts, conv_id and turn_idx
    are all set they are built for the whole batch with ``pyarrow.compute``
    (anchor ``date(ts)`` in session wall time). Every other turn runs
    ``turn_triples`` with ``ts`` as the naive wall-clock datetime. A
    ``(row, sub)`` sort puts the two parts back in ``turn_triples``' order:
    per turn, speaker, then tool, then the rest."""
    import pyarrow as pa
    import pyarrow.compute as pc

    schema = TRIPLE_ARROW_SCHEMA
    names = ["row", "sub"] + schema.names
    conv, turn = batch.column("conv_id"), batch.column("turn_idx")
    ts = local_wall_ts(batch.column("ts"))
    if screen is None:
        columnar = pa.array([False] * batch.num_rows)
    else:
        hit = pc.fill_null(pc.match_substring_regex(batch.column("text"), screen), False)
        keyed = pc.and_(pc.and_(pc.is_valid(ts), pc.is_valid(conv)), pc.is_valid(turn))
        columnar = pc.and_(pc.invert(hit), keyed)

    kernel = pc.indices_nonzero(pc.invert(columnar))
    picked = batch.take(kernel)
    rows, subs, triples = [], [], []
    for row, c, i, role, tool, t, text in zip(
        kernel.to_pylist(),
        *(picked.column(k).to_pylist() for k in ("conv_id", "turn_idx", "role", "tool")),
        ts.take(kernel).to_pylist(),
        picked.column("text").to_pylist(),
    ):
        out = turn_triples(c, i, role, tool, t, text, gazetteer, blacklist, cfg)
        rows.extend([row] * len(out))
        subs.extend(range(len(out)))
        triples.extend(out)
    parts = [pa.table(
        [pa.array(rows, pa.int32()), pa.array(subs, pa.int32())]
        + [pa.array([d[f.name] for d in triples], f.type) for f in schema],
        names=names,
    )]
    if len(kernel) < batch.num_rows:
        subj = pc.binary_join_element_wise(
            "turn@", conv, "_", pc.cast(turn, pa.string()), ""
        )
        anchor = pc.cast(ts, pa.date32())
        role, tool = batch.column("role"), batch.column("tool")
        for sub, pred, obj, keep in (
            (0, "speaker-attribution", role, pc.is_valid(role)),
            (1, "tool-invocation", tool,
             pc.fill_null(pc.greater(pc.utf8_length(tool), 0), False)),
        ):
            idx = pc.indices_nonzero(pc.and_(columnar, keep))
            k = len(idx)
            none = pa.nulls(k, pa.string())
            parts.append(pa.table(
                [
                    idx, pa.repeat(pa.scalar(sub, pa.int32()), k),
                    subj.take(idx), pa.repeat(pa.scalar(pred), k), obj.take(idx),
                    anchor.take(idx), conv.take(idx), turn.take(idx),
                    none, none, none,
                ],
                names=names,
            ).cast(parts[0].schema))
    return (
        pa.concat_tables(parts)
        .sort_by([("row", "ascending"), ("sub", "ascending")])
        .drop_columns(["row", "sub"])
    )


def fused_triples(
    transcripts: DataFrame,
    gazetteer,
    blacklist,
    cfg: PipelineConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """transcripts -> triples in ONE narrow mapInArrow pass (no shuffle
    anywhere). This is the 100-TB scale path: throughput is bounded only by
    scan + CPU, partitions never exchange. Python runs per turn only where
    ``text.mention_screen`` lets a mention through (see ``triples_batch``);
    the screen pattern is built with the broadcast and rides it."""
    bc = broadcast_artifacts(
        transcripts.sparkSession.sparkContext, gazetteer, blacklist, cfg, mention_screen
    )

    @worker_body
    def gen(batches):
        gaz, bl, c, scr = bc.value
        for batch in batches:
            yield from triples_batch(batch, gaz, bl, c, scr).to_batches()

    return transcripts.selectExpr(
        "conv_id", "turn_idx", "role", "text", "tool", "ts"
    ).mapInArrow(gen, schema=TRIPLE_SCHEMA)
