"""Differential guard for detect_timexes' gates and bounded scans: the
production detector (derived literal gates, digit-region and
indicator-window scans) must equal a plain scan of the whole battery over
the whole text (kept inline here as the executable spec, trusting no gate)
on seeded adversarial inputs — boundary-hugging dates, repeated
whitespace, digit-adjacent words, punctuation and non-ASCII case."""

from __future__ import annotations

import random

from kgpipe.timex import TIMEX_PATTERNS, detect_timexes


def _detect_full_scan(text: str):
    candidates = []
    for prio, (kind, pat) in enumerate(TIMEX_PATTERNS):
        for m in pat.finditer(text):
            candidates.append(
                (m.start(), -(m.end() - m.start()), prio, m.end(), kind)
            )
    candidates.sort()
    out, kept = [], []
    for begin, _neglen, _prio, end, kind in candidates:
        if any(b < end and begin < e for b, e in kept):
            continue
        kept.append((begin, end))
        out.append(
            {"begin": begin, "end": end, "surface": text[begin:end], "kind": kind}
        )
    out.sort(key=lambda d: d["begin"])
    return out


_WORDS = [
    "september", "jan", "alpha", "in", "ago", "last", "friday", "now",
    "5", "28", "2021", "1999", "12/25/2020", "2021-03-04", "x9y",
    "a", "two", "days", "months", ",", ".", "5,", "2021.", "abc123def",
    "...", "word", "this", "year", "sept.", "may",
    # round-2 grammar: seasons/decades/week-of/ToD/SET trigger words
    "summer", "winter", "fall", "1990s", "'90s", "the", "20s", "90s",
    "week", "of", "every", "weekly", "morning", "night", "tonight",
    "christmas", "thanksgiving", "march", "5th", "29",
    "pm", "am", "3", "10:30", "day", "before", "after", "decades",
    # round-7 gate stress: the word-level indicator conditions for the
    # region-bounded kinds (or-so/up-to connectives, proper fractions,
    # mod-in-span words, worded clocks) and their everyday near-misses
    "or", "so", "up", "to", "1/2", "2", "part", "earlier", "later",
    "noon", "for", "some", "today", "group", "into", "p.m.", "weeks",
    # case folding the engine applies but str.lower() does not (dotted
    # capital I, dotless i, long s), standalone signs, weekday abbreviations
    "FRİDAY", "frıday", "yeſterday", "ſpring", "İn", "AGO", "-", "/",
    "mon", "tue", "tues", "wed", "thu", "thurs", "fri", "sat", "sun",
    "Wed.", "saturday", "q3", "21st", "century", "19:30", "8", "or so",
]
_SEPS = [" ", "  ", " \n ", "\t", "   "]


def test_region_scan_equals_full_scan_seeded():
    rng = random.Random(20260816)
    for _ in range(4000):
        n = rng.randint(0, 12)
        text = ""
        for i in range(n):
            text += rng.choice(_WORDS)
            if i < n - 1:
                text += rng.choice(_SEPS)
        assert detect_timexes(text) == _detect_full_scan(text), repr(text)


def test_region_scan_handpicked_boundaries():
    cases = [
        "",  # empty
        "2021",  # digit at both edges
        "september 5, 2021",  # month-word prefix before first digit
        "x september  5 ,  2021 y",  # multi-space gaps inside the match
        "abc123def",  # digits glued to letters: \b must NOT match
        "1999 word word word september 2021",  # two digit clusters spanning words
        "in 3 days",  # digit pattern without a finite digit reach
        "now 2021-03-04",  # ref word + iso date
        "5",  # single digit token
        "word 19 99",  # split digits — bare_year must not fire
        "friday , march 5 , 2021",  # detached commas: 3 words left of the digit
        # matches that end words past their last digit: the derived right
        # reach (lookaheads included) must cover them
        "in 1990 or\nlater", "at 5 in the\n\nmorning", "the 21st\ncentury",
        "19:30  pm", "19:30 p.m. x", "the 3rd of march , 2021",
    ]
    for text in cases:
        assert detect_timexes(text) == _detect_full_scan(text), repr(text)
