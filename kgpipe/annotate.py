"""Per-turn annotation: the shared primitive behind the Spark extraction
stage (structured path), the fused zero-shuffle path, and ``kgpipe.run``.

``annotate_turn`` is a pure function of (text, anchor, gazetteer, blacklist,
config) -> (anchor, tokens, mentions, timexes); the mention and timex dicts
carry the payload columns of ``schemas.ANNOTATION_UNION_SCHEMA``
(``extract.annotate_union`` emits them as flat union rows). It is the
composition of two halves over one tokenization: ``annotate_mentions``
(tokenize, gazetteer, mention rows) and ``annotate_timexes`` (detect,
normalize, and each timex's TLINK label and interval). Both Arrow kernels
call the halves directly: the structured path's ``extract.union_batch`` and
the fused ``pair.turn_triples``, which runs the timex half only for turns
with a surviving mention. It reproduces, per turn
(turn ≙ reference note / CAS):

* tokenization + last-wins begin dedup (timeline_delegator.py:82-119)
* gazetteer all-spans lookup (DictionarySubPipe / DefaultTermConsumer)
* timex detection + rule normalization (BackwardsTimeAnnotator +
  TimeMentionNormalizer replacements; see kgpipe.timex)
* ±60-token pairing window char bounds per mention
  (get_tlink_window_mentions, timeline_delegator.py:255-280)
* conmod / dtr labels + instance strings (timeline_delegator.py:154-252)
* mention-surface newline stripping (normalize_mention,
  timeline_delegator.py:75-79)
* DCT: ``date(ts)``; header-scan fallback ``Principal Date\\D*YYYYMMDD`` when
  ts is missing (DCTAnnotator.java:62-89)
"""

from __future__ import annotations

import datetime as dt
import re
from bisect import bisect_right
from typing import NamedTuple, Optional

from .config import PipelineConfig
from .score import (
    confidence_score,
    conmod_label,
    dtr_label,
    get_conmod_instance,
    get_dtr_instance,
    tlink_label,
    tokens_for_mode,
)
from .text import (
    covering_sentence,
    invert_token_map,
    match_gazetteer,
    sentence_spans,
    tokenize,
)
from .timex import detect_timexes, normalize_timex, timeml_interval

__all__ = [
    "annotate_turn",
    "annotate_mentions",
    "annotate_timexes",
    "Tokenized",
    "anchor_for",
    "full_anchor_for",
    "PRINCIPAL_DATE_RE",
]

PRINCIPAL_DATE_RE = re.compile(r"Principal Date\D*(\d{8})")


def anchor_for(ts, text: str) -> Optional[dt.date]:
    """Per-turn anchor date (≙ DCT): date(ts), else the header-scan fallback
    (DCTAnnotator.java:62-89), else None."""
    if ts is not None and ts == ts:  # NaT/NaN-safe (NaT != NaT)
        try:
            return ts.date() if hasattr(ts, "date") else ts
        except (ValueError, AttributeError):
            pass
    m = PRINCIPAL_DATE_RE.search(text or "")
    if m:
        raw = m.group(1)
        try:
            return dt.date(int(raw[0:4]), int(raw[4:6]), int(raw[6:8]))
        except ValueError:
            return None
    return None


def full_anchor_for(ts, anchor):
    """The normalizer's anchor: the FULL timestamp (datetime) when ``ts``
    is a real timestamp whose date agrees with ``anchor``, else the
    date-only anchor (header-scan fallback). Sub-day timex kinds ("three
    hours ago", "in 20 minutes") need the time of day; every calendar
    kind uses only the date part, so their values are unchanged."""
    if anchor is None or ts is None or ts != ts:
        return anchor
    try:
        full = ts.to_pydatetime() if hasattr(ts, "to_pydatetime") else ts
        if isinstance(full, dt.datetime) and full.date() == anchor:
            return full
    except (ValueError, AttributeError):
        pass
    return anchor


def _tok_at_begin(begin_map, begins_sorted, pos: int) -> int:
    """Token index whose begin == pos, else the last token starting at or
    before pos (robust to regex spans that open mid-token)."""
    idx = begin_map.get(pos)
    if idx is not None:
        return idx
    i = bisect_right(begins_sorted, pos) - 1
    return max(i, 0)


def _tok_at_end(end_map, ends_sorted, pos: int) -> int:
    """Token index whose end == pos, else the first token ending at or after
    pos."""
    idx = end_map.get(pos)
    if idx is not None:
        return idx
    i = bisect_right(ends_sorted, pos - 1)
    return min(i, len(ends_sorted) - 1)


class Tokenized(NamedTuple):
    """One turn's single tokenization, shared by the mention and timex
    halves. ``inverse`` holds the char-offset -> token-index maps (see
    ``_inverse_token_maps``), or None until a half that needs them runs."""

    tokens: list
    token_map: list
    newline_flags: list
    inverse: Optional[tuple] = None


def _inverse_token_maps(token_map):
    """(begin_map, end_map, begins_sorted, ends_sorted): the maps from char
    offsets back to token indices. They serve only timex token offsets and
    the conmod covering-sentence lookup."""
    begin_map, end_map = invert_token_map(token_map)
    return begin_map, end_map, [b for b, _ in token_map], [e for _, e in token_map]


def annotate_mentions(text: str, ts, gazetteer, cfg: PipelineConfig):
    """The mention half of ``annotate_turn``: tokenize once, look up the
    gazetteer and build the mention dicts. Returns (anchor_date, Tokenized,
    mention dicts); pass the Tokenized on to ``annotate_timexes`` so the
    turn is never tokenized twice."""
    text = text or ""
    anchor = anchor_for(ts, text)
    tokens, token_map, newline_flags = tokenize(text)
    n = len(tokens)
    inverse = _inverse_token_maps(token_map) if cfg.use_conmod else None
    if inverse is not None:
        begin_map, end_map, begins_sorted, ends_sorted = inverse

    # dtr/conmod labels + instance strings are computed only when their
    # stage is enabled (--use_dtr / --use_conmod analogs): the reference
    # only runs those classifiers when flagged (timeline_delegator.py:
    # 343-363), and the label+instance work is ~27% of per-turn CPU.
    dtr_tokens = (
        tokens_for_mode(tokens, newline_flags, "dtr") if cfg.use_dtr else None
    )
    conmod_tokens = (
        tokens_for_mode(tokens, newline_flags, "conmod") if cfg.use_conmod else None
    )
    sents = sentence_spans(text) if cfg.use_conmod else []

    mention_rows = []
    matches = match_gazetteer(
        tokens,
        token_map,
        newline_flags,
        gazetteer,
        min_span=cfg.min_term_span,
        all_spans=cfg.all_spans,
    )
    matches.sort(key=lambda m: (m["begin"], m["end"]))
    for m_idx, m in enumerate(matches):
        tb, te = m["tok_begin"], m["tok_end"]
        surface = text[m["begin"] : m["end"]].replace("\n", "")
        # pairing window: ±max_tlink_distance tokens mapped back to char
        # offsets (get_tlink_window_mentions, timeline_delegator.py:262-271)
        wb_tok = max(0, tb - cfg.max_tlink_distance)
        we_tok = min(n - 1, te + cfg.max_tlink_distance)
        win_cb = token_map[wb_tok][0] if n else 0
        win_ce = token_map[we_tok][1] if n else 0
        # dtr context + instance over <newline>-substituted tokens
        if cfg.use_dtr:
            dtr_inst = get_dtr_instance(tb, te + 1, dtr_tokens)
            ctx = dtr_tokens[max(0, tb - cfg.dtr_window_radius) : te + 1 + cfg.dtr_window_radius]
            dtr = dtr_label(ctx)
        else:
            dtr, dtr_inst = None, None
        # conmod over the covering sentence with <cr> sentinels
        if cfg.use_conmod:
            sent = covering_sentence(sents, m["begin"], m["end"])
            if sent is not None:
                sb = _tok_at_begin(begin_map, begins_sorted, sent[0])
                se = _tok_at_end(end_map, ends_sorted, sent[1]) + 1
            else:
                sb, se = 0, n
            conmod_inst = get_conmod_instance(tb, te + 1, sb, se, conmod_tokens)
            conmod = conmod_label(conmod_tokens[sb:se], tb - sb)
        else:
            conmod, conmod_inst = None, None
        mention_rows.append(
            {
                "mention_idx": m_idx,
                "begin": m["begin"],
                "end": m["end"],
                "tok_begin": tb,
                "tok_end": te,
                "surface": surface,
                "term": m["term"],
                "cui": m["cui"],
                "tui": m["tui"],
                "confidence": confidence_score(tokens[tb : te + 1]),
                "conmod": conmod,
                "conmod_inst": conmod_inst,
                "dtr": dtr,
                "dtr_inst": dtr_inst,
                "win_char_begin": win_cb,
                "win_char_end": win_ce,
            }
        )
    return anchor, Tokenized(tokens, token_map, newline_flags, inverse), mention_rows


def annotate_timexes(text: str, ts, anchor, tokenized: Tokenized):
    """The timex half of ``annotate_turn``: detect + normalize (F6/X4/X5
    live inside normalize) over the turn's existing tokenization, mapping
    each timex to token offsets. Returns the timex dicts.

    This is the one place a timex is labelled: ``tlink`` is the uninverted
    ``score.tlink_label`` of its value against the turn anchor (the pairs'
    X8 inversion is applied where the event's position is known), and
    ``iv_begin`` / ``iv_end`` are its ``timex.timeml_interval`` dates, which
    the event-event labels compare. ``tlink`` is None when ``normed`` is;
    the interval dates are None when ``timeml_interval`` places no interval
    (no value, a REF pseudo-value or a SET value)."""
    text = text or ""
    anchor_full = full_anchor_for(ts, anchor)
    n = len(tokenized.tokens)
    inverse = tokenized.inverse or _inverse_token_maps(tokenized.token_map)
    begin_map, end_map, begins_sorted, ends_sorted = inverse
    timex_rows = []
    for t_idx, t in enumerate(detect_timexes(text)):
        normed = normalize_timex(t["surface"], t["kind"], anchor_full)
        iv_begin, iv_end = (
            None if normed is None else timeml_interval(normed)
        ) or (None, None)
        timex_rows.append(
            {
                "timex_idx": t_idx,
                "begin": t["begin"],
                "end": t["end"],
                "tok_begin": _tok_at_begin(begin_map, begins_sorted, t["begin"]) if n else 0,
                "tok_end": _tok_at_end(end_map, ends_sorted, t["end"]) if n else 0,
                "surface": t["surface"],
                "kind": t["kind"],
                "normed": normed,
                "tlink": None if normed is None else tlink_label(normed, anchor),
                "iv_begin": iv_begin,
                "iv_end": iv_end,
            }
        )
    return timex_rows


def annotate_turn(
    conv_id: str,
    turn_idx: int,
    text: str,
    ts,
    gazetteer,
    blacklist,
    cfg: PipelineConfig,
    with_timexes: bool = True,
    with_token_rows: bool = True,
):
    """Annotate one turn. Returns (anchor_date, tokens, mentions, timexes):
    token dicts (tok_idx, begin, end, text, is_newline), mention dicts
    (mention_idx + the union schema's mention columns) and timex dicts
    (timex_idx + begin, end, tok_begin, tok_end, surface, kind, normed,
    tlink, iv_begin, iv_end).

    The two halves, ``annotate_mentions`` and ``annotate_timexes``, share
    one tokenization. ``annotate_turn`` always runs both (unless
    ``with_timexes=False``); the Arrow kernels call the halves themselves
    (``extract.union_batch``; ``pair.turn_triples``, which runs the timex
    half only for turns whose mentions survive F1/F2/F4, the O1 gate).

    ``with_timexes=False`` skips timex detection+normalization entirely
    (returns an empty timex list) — the fast path for consumers that only
    read mentions (cross-turn edges, rollups, canonicalization; detection
    is ~35% of per-turn CPU). Mention rows are identical either way — only
    the downstream W1 id window mixes timexes into mention ids.

    Mentions are RAW (pre TUI/blacklist/conmod filtering): the structured
    Spark path applies F1/F2/F4 as visible DataFrame operators; the fused
    path and the oracle apply them via the same predicates in Python. The
    blacklist is consulted here only by callers that request fused filtering.
    """
    anchor, tokenized, mention_rows = annotate_mentions(text, ts, gazetteer, cfg)
    tokens, token_map, newline_flags, _ = tokenized

    # token-row dicts are pure repackaging (~5% of per-turn CPU); callers
    # that never read them pass False
    if with_token_rows:
        token_rows = [
            {
                "tok_idx": i,
                "begin": token_map[i][0],
                "end": token_map[i][1],
                "text": tokens[i],
                "is_newline": bool(newline_flags[i]),
            }
            for i in range(len(tokens))
        ]
    else:
        token_rows = []

    timex_rows = (
        annotate_timexes(text, ts, anchor, tokenized) if with_timexes else []
    )
    return anchor, token_rows, mention_rows, timex_rows
