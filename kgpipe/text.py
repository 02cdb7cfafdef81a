"""Per-turn text primitives: tokenization with char offsets, newline
sentinels, sentence spans, section segmentation, and gazetteer span matching.

These are pure functions over a single turn's text. They run inside Arrow
batches (``mapInArrow``) on executors — never as row-at-a-time Spark UDFs —
and double as the building blocks of the doc-at-a-time test oracle.
``mention_screen`` is the batch-level counterpart: one RE2 pattern that a
turn must match to yield any mention surviving F1/F2.

Reference semantics reproduced:
* token stream with (begin, end) char offsets and a newline sentinel token
  (``<cr>`` for conmod instances, ``<newline>`` otherwise)
  — timeline_delegator.py:82-119 (tokens_and_map)
* last-wins dedup of tokens sharing a begin offset, emitted in sorted-begin
  order — timeline_delegator.py:98-118
* begin->token-index / end->token-index inverse maps
  — timeline_delegator.py:122-149 (invert_map)
* gazetteer lookup emits ALL matching spans (DefaultTermConsumer,
  gazetteer.xml:53-62), candidate spans must cover >= minimumSpan chars
  (Timelines.piper:14), matching is case-insensitive on space-joined tokens
* section segmentation via bracketed tags
  — SegmentsFromBracketedSectionTagsAnnotator.java:13-35
"""

from __future__ import annotations

import re
from typing import Dict, List, Optional, Tuple

__all__ = [
    "tokenize",
    "invert_token_map",
    "sentence_spans",
    "section_spans",
    "match_gazetteer",
    "mention_screen",
    "NEWLINE_SENTINEL",
    "CONMOD_NEWLINE_SENTINEL",
]

NEWLINE_SENTINEL = "<newline>"
CONMOD_NEWLINE_SENTINEL = "<cr>"

# words (letters/digits, internal hyphens/apostrophes), or any single
# non-space symbol; newlines are their own token class
_TOKEN_RE = re.compile(r"[A-Za-z0-9]+(?:[-'][A-Za-z0-9]+)*|\n|[^\sA-Za-z0-9]")

_SENT_SPLIT_RE = re.compile(r"[.!?\n]")

_SECTION_RE = re.compile(
    r'\[start section id="?(.*?)"?\](.*?)\[end section id="?(.*?)"?\]',
    re.DOTALL,
)


def tokenize(text: str):
    """Tokenize one turn.

    Returns (tokens, token_map, is_newline) where tokens[i] is the token text
    (newline chars kept verbatim here; sentinel substitution happens at
    instance-build time so both <cr> and <newline> modes share one token
    stream), token_map[i] = (begin, end) char offsets, is_newline[i] marks
    newline tokens.

    W2 semantics (duplicate-begin last-wins, sorted-begin emission,
    tokens_and_map timeline_delegator.py:98-118) hold vacuously here: a
    single finditer pass yields non-overlapping matches in strictly
    increasing begin order, so no dict/sort pass is needed (the reference
    needed one because multiple UIMA annotators could emit colliding
    tokens). invert_token_map keeps the real last-wins behavior for callers
    that merge token streams.
    """
    ms = list(_TOKEN_RE.finditer(text))
    tokens = [m.group(0) for m in ms]
    spans = [m.span() for m in ms]
    newline_flags = [t == "\n" for t in tokens]
    return tokens, spans, newline_flags


def invert_token_map(token_map):
    """begin->token-index and end->token-index maps (invert_map,
    timeline_delegator.py:122-149). Later entries overwrite on collision,
    matching the reference's dict-assignment semantics."""
    begin_map: Dict[int, int] = {}
    end_map: Dict[int, int] = {}
    for idx, (begin, end) in enumerate(token_map):
        begin_map[begin] = idx
        end_map[end] = idx
    return begin_map, end_map


def sentence_spans(text: str):
    """Sentence (begin, end) spans: maximal runs split on [.!?\\n].

    The reference consumes cTAKES ``Sentence`` annotations only to bound the
    conmod instance window (timeline_delegator.py:154-156); a deterministic
    punctuation splitter reproduces that contract.
    """
    spans: List[Tuple[int, int]] = []
    start = 0
    for m in _SENT_SPLIT_RE.finditer(text):
        seg = text[start : m.start()]
        if seg.strip():
            b = start + (len(seg) - len(seg.lstrip()))
            e = start + len(seg.rstrip())
            spans.append((b, e))
        start = m.end()
    seg = text[start:]
    if seg.strip():
        b = start + (len(seg) - len(seg.lstrip()))
        e = start + len(seg.rstrip())
        spans.append((b, e))
    return spans


def covering_sentence(spans, begin: int, end: int) -> Optional[Tuple[int, int]]:
    """First sentence span containing [begin, end) — select_covering
    semantics (timeline_delegator.py:155)."""
    for b, e in spans:
        if b <= begin and end <= e:
            return (b, e)
    return None


def section_spans(text: str):
    """Bracketed-section segmentation (Segments annotator): list of
    (section_id, body_begin, body_end); falls back to one SIMPLE_SEGMENT
    covering the whole text when no tags are present
    (SegmentsFromBracketedSectionTagsAnnotator.java:22-35)."""
    out = []
    for m in _SECTION_RE.finditer(text):
        out.append((m.group(1), m.start(2), m.end(2)))
    if not out:
        out.append(("SIMPLE_SEGMENT", 0, len(text)))
    return out


def match_gazetteer(
    tokens,
    token_map,
    newline_flags,
    gazetteer,
    *,
    min_span: int = 2,
    all_spans: bool = True,
):
    """Dictionary lookup over the token stream (J4).

    For each start token, probe n-grams of 1..gazetteer.max_tokens lowercased
    space-joined word tokens against the broadcast dict; newline tokens never
    participate in a term. Emits ALL matching spans by default
    (DefaultTermConsumer); ``all_spans=False`` keeps only the longest match
    per start token (PrecisionTermConsumer). Spans shorter than ``min_span``
    chars are skipped (minimumSpan=2, Timelines.piper:14).

    Returns list of dicts: begin, end, tok_begin, tok_end (inclusive), term,
    cui, tui.
    """
    n = len(tokens)
    out = []
    terms = gazetteer.terms
    max_len = gazetteer.max_tokens
    first_words = gazetteer.first_words
    lowered = [t.lower() for t in tokens]
    for i in range(n):
        if newline_flags[i]:
            continue
        if first_words and lowered[i] not in first_words:
            continue  # rare-word-index fast path: token opens no term
        parts: List[str] = []
        matches_here = []
        for j in range(i, min(i + max_len, n)):
            if newline_flags[j]:
                break
            parts.append(lowered[j])
            cand = " ".join(parts)
            hit = terms.get(cand)
            if hit is None:
                continue
            begin = token_map[i][0]
            end = token_map[j][1]
            if end - begin < min_span:
                continue
            matches_here.append(
                {
                    "begin": begin,
                    "end": end,
                    "tok_begin": i,
                    "tok_end": j,
                    "term": cand,
                    "cui": hit[0],
                    "tui": hit[1],
                }
            )
        out.extend(matches_here)
    if not all_spans:
        # PrecisionTermConsumer: drop any span contained in a longer match
        out = [
            m
            for m in out
            if not any(
                (o["begin"] <= m["begin"] and m["end"] <= o["end"] and o is not m)
                for o in out
            )
        ]
    return out


# what a lowercased word token looks like (the word branch of _TOKEN_RE)
_WORD_TOKEN_LOWER_RE = re.compile(r"[a-z0-9]+(?:[-'][a-z0-9]+)*")
# U+0130 is the one character whose str.lower() is two characters long
_DOTTED_CAPITAL_I = "İ"
# an RE2 class no character is in: the screen when no term can survive
_MATCHES_NOTHING = r"[^\x00-\x{10FFFF}]"


def _re2_char(c: str) -> str:
    return "\\x{%x}" % ord(c)


def mention_screen(gazetteer, blacklist, cfg) -> Optional[str]:
    """One RE2 pattern (for ``pyarrow.compute.match_substring_regex``)
    that the text of every turn with a mention surviving F1 and F2 matches,
    or None when the gazetteer has no first-word index: then there is no
    screen and every turn runs the per-turn kernel.

    A mention opens on a token whose lowercase is the first word of a term
    with ``tui == cfg.keep_tui`` (F1). Single-word terms in the blacklist
    are left out: such a term covers one token, whose surface lowercases
    to the term, so F2 always drops it. A token is either a word — ASCII
    letters and digits with inner ``-``/``'``, bounded by a character that
    is not an ASCII letter or digit, or by an end of the text — or one
    symbol character. So the pattern is
    ``(?:^|[^A-Za-z0-9])(?i:w1|w2|…)(?:[^A-Za-z0-9]|$)`` over the first
    words of word shape, plus unbounded alternatives for the first words a
    symbol token can lowercase to: a single character (case-insensitive,
    which covers e.g. ``K`` U+212A for ``k``) and the two-character
    lowercase of U+0130. Any other first word equals no lowercased token.

    The boundary classes stay outside ``(?i:…)``: under case folding RE2's
    ``[^A-Za-z0-9]`` also excludes ``ſ`` (U+017F) and ``K`` (U+212A),
    which the tokenizer treats as boundaries. A miss proves the turn has
    no surviving mention; a hit proves nothing. A pattern RE2 cannot
    compile (a very large gazetteer) gives None as well."""
    if not gazetteer.first_words:
        return None
    blacklist = blacklist or frozenset()
    words = {
        term.split(" ", 1)[0]
        for term, (_cui, tui) in gazetteer.terms.items()
        if tui == cfg.keep_tui and (" " in term or term not in blacklist)
    } & gazetteer.first_words
    bounded = sorted(w for w in words if _WORD_TOKEN_LOWER_RE.fullmatch(w))
    symbol = sorted(w for w in words if len(w) == 1)
    alts = []
    if bounded:
        alts.append(
            "(?:^|[^A-Za-z0-9])(?i:" + "|".join(bounded) + ")(?:[^A-Za-z0-9]|$)"
        )
    if symbol:
        alts.append("(?i:" + "|".join(map(_re2_char, symbol)) + ")")
    if _DOTTED_CAPITAL_I.lower() in words:
        alts.append(_re2_char(_DOTTED_CAPITAL_I))
    pattern = "|".join(alts) or _MATCHES_NOTHING

    import pyarrow as pa
    import pyarrow.compute as pc

    try:
        pc.match_substring_regex(pa.array([""]), pattern)
    except pa.ArrowInvalid:
        return None
    return pattern
