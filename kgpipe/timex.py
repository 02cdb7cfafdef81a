"""Time-expression detection and normalization.

Replaces two reference components with deterministic, dependency-free rules:

* detection — the reference's SVM ``BackwardsTimeAnnotator`` (Timelines.piper:30;
  model jar stripped from the repo) -> an ordered regex battery emitting
  longest non-overlapping spans, behind gates derived from the patterns
  (see below);
* normalization — ``TimeMentionNormalizer`` rule fast-path + timenorm SCFG
  (TimeMentionNormalizer.java:162-234, TemporalExpressionParser.scala) -> the
  fast path reproduced exactly (3 all-numeric slash parts, American
  month-first order, 2-digit year + 2000, calendar validation,
  TimeMentionNormalizer.java:165-196) plus a bounded rule library for the
  grammar subset our corpora plant (absolute dates, month-year, bare years,
  relative day/week/month/year, "N units ago"/"in N units", last/next
  weekday, PAST_REF/FUTURE_REF/PRESENT_REF — en.grammar roots
  [Period][TimeSpan] analogs).

Failure semantics match O3: unnormalizable surface -> None -> the timex is
silently dropped downstream (no triple), mirroring the reference's
empty-string-on-timeout behavior (TimeMentionNormalizer.java:199-213).

TimeML value formatting follows Temporal.scala:325-355: day -> YYYY-MM-DD,
ISO week -> YYYY-Www, month -> YYYY-MM, year -> YYYY.

Detection gates come from the patterns' own parse trees
(``kgpipe.regex_gate``), not from hand-kept tables: a pattern runs only if
its literal gate (a CNF of one-word literals every match satisfies, tested
per word on text folded as ``re.IGNORECASE`` folds it) holds, and one whose
matches hold a digit within a few words scans only that window around the
text's digits. The two kinds with no digit reach and a costly full scan
(``date_at_time``, ``period_approx``: ``_REGION_BOUNDED``) scan hand-set
windows around their indicator tokens, held to a full scan by a
differential test.
"""

from __future__ import annotations

import datetime as dt
import math
import re
from functools import lru_cache
from typing import List, NamedTuple, Optional, Tuple

from . import regex_gate

__all__ = [
    "detect_timexes",
    "normalize_timex",
    "timeml_interval",
    "TIMEX_PATTERNS",
]

_MONTHS = {
    "january": 1, "jan": 1, "february": 2, "feb": 2, "march": 3, "mar": 3,
    "april": 4, "apr": 4, "may": 5, "june": 6, "jun": 6, "july": 7, "jul": 7,
    "august": 8, "aug": 8, "september": 9, "sep": 9, "sept": 9,
    "october": 10, "oct": 10, "november": 11, "nov": 11,
    "december": 12, "dec": 12,
}
_MONTH_ALT = "|".join(sorted(_MONTHS, key=len, reverse=True))
# full names vs abbreviations: only abbreviations may take a trailing dot
# in contexts where a dot could be a sentence boundary
_MONTH_FULL = (
    "january", "february", "march", "april", "may", "june", "july",
    "august", "september", "october", "november", "december",
)
_MONTH_FULL_ALT = "|".join(sorted(_MONTH_FULL, key=len, reverse=True))
# full months minus "may" — for contexts where "may" is overwhelmingly
# the modal verb ("this may", "the past may")
_MONTH_FULL_NO_MAY_ALT = "|".join(
    sorted((m for m in _MONTH_FULL if m != "may"), key=len, reverse=True)
)
_MONTH_ABBR_ALT = "|".join(
    sorted((m for m in _MONTHS if m not in _MONTH_FULL), key=len, reverse=True)
)

_WEEKDAYS = {
    "monday": 0, "tuesday": 1, "wednesday": 2, "thursday": 3,
    "friday": 4, "saturday": 5, "sunday": 6,
}
_WEEKDAY_ALT = "|".join(_WEEKDAYS)
# abbreviated day names (en.grammar:135-144). Deliberate precision gate
# (documented deviation, same family as the springs/falls verb gate):
# abbreviations are accepted only in COMPOSED contexts — rel-prefixed
# ("next fri"), part-of-day ("mon morning"), or before a date ("fri
# march 5") — never bare, because sat/sun/wed/mon are common
# verb/noun/name homographs ("we sat down", "the sun is out")
_WEEKDAY_ABBRS = {
    "mon": 0, "tue": 1, "tues": 1, "wed": 2, "thu": 3, "thur": 3,
    "thurs": 3, "fri": 4, "sat": 5, "sun": 6,
}
_WEEKDAYS_ANY = {**_WEEKDAYS, **_WEEKDAY_ABBRS}
_WEEKDAY_ANY_ALT = "|".join(sorted(_WEEKDAYS_ANY, key=len, reverse=True))

_UNIT_WORDS = {
    "one": 1, "two": 2, "three": 3, "four": 4, "five": 5,
    "six": 6, "seven": 7, "eight": 8, "nine": 9,
}
_TEEN_WORDS = {
    "ten": 10, "eleven": 11, "twelve": 12, "thirteen": 13, "fourteen": 14,
    "fifteen": 15, "sixteen": 16, "seventeen": 17, "eighteen": 18,
    "nineteen": 19,
}
_TENS_WORDS = {
    "twenty": 20, "thirty": 30, "forty": 40, "fifty": 50,
    "sixty": 60, "seventy": 70, "eighty": 80, "ninety": 90,
}
# spelled numbers 1-99 with hyphen/space tens+digit composition
# (en.grammar:38-58 [Int:Tens] composition: "twenty", "twenty-one",
# "twenty one"); "a"/"an" are the article-as-one forms
_NUM_WORDS = {"a": 1, "an": 1, **_UNIT_WORDS, **_TEEN_WORDS, **_TENS_WORDS}
_UNIT_ALT = "|".join(_UNIT_WORDS)
_TEEN_ALT = "|".join(sorted(_TEEN_WORDS, key=len, reverse=True))
_TENS_ALT = "|".join(_TENS_WORDS)
# composed-tens FIRST so "twenty-one" is consumed whole, teens before
# units so "sixteen" never stops at "six"; "couple (of)" is the grammar's
# vague-quantifier Int 2 (en.grammar:77-78), with its optional article
# folded in so "a couple of days ago" spans from the article like "a year
# ago" does
_NUM_ALT = (
    rf"\d+|(?:an?\s+)?couple(?:\s+of)?"
    rf"|(?:{_TENS_ALT})(?:[\s-](?:{_UNIT_ALT}))?"
    rf"|{_TEEN_ALT}|{_UNIT_ALT}|an?"
)
# unspecified-count quantifiers (en.grammar:297-298 "several [Unit]" /
# "few [Unit]" -> Unspecified [Unit]) — shared by the vague_period pattern
# and the ago/in_n context extensions
_VAGUE_ALT = r"(?:a\s+)?few|several"

# date and clock sub-alternations for the "[TimeSpan] at [Time]"
# composition ("tomorrow at 19:30", "at noon on friday"): the date side
# is the closed set of day-valued kinds, the clock side the closed set
# of clock-valued ones
_DATE_AT_ALT = (
    r"(?:the\s+)?day\s+(?:before|after)\s+(?:yesterday|tomorrow)"
    r"|(?:this|tomorrow|yesterday)\s+(?:morning|afternoon|evening)"
    r"|(?:last|tomorrow|yesterday)\s+night|tonight"
    r"|yesterday|today|tomorrow"
    # the optional part-of-day suffix keeps "next tuesday morning at 8
    # am" composing (the weekday_tod value's TMO part strips to its day
    # in the handler); rel-prefixed before bare so the longer form wins
    rf"|(?:last|next|this|that|coming|following|preceding|past|previous)\s+(?:{_WEEKDAY_ALT})"
    r"(?:\s+(?:morning|afternoon|evening|night))?"
    # the weekday/rel-prefixed month-day alternative must come BEFORE the
    # bare weekday one: regex alternation takes the first match, and a
    # bare-weekday win would truncate "noon on friday march 5, 2021"
    # at "friday". The rel prefix keeps "next june 5 at noon" composing
    # (rel_month would otherwise win the sweep and orphan the clock)
    rf"|(?:(?:last|previous|next|coming|following|this|that|past)\s+)?"
    rf"(?:(?:{_WEEKDAY_ANY_ALT})\s*,?\s+)?(?:{_MONTH_ALT})\.?\s+\d{{1,2}}(?:st|nd|rd|th)?(?:\s*,?\s+\d{{4}})?"
    rf"|(?:{_WEEKDAY_ALT})(?:\s+(?:morning|afternoon|evening|night))?"
    # calendar-granularity MoveEarlier/MoveLater spans compose with a
    # clock too ("two days ago at 19:30" = yesterday-like anchoring;
    # the grammar's [TimeSpan] at [Time] accepts ANY TimeSpan). Week/
    # month/year spans have no single day — the handler's degrade path
    # then keeps the DATE value and drops the clock rather than
    # mis-anchoring it to the turn day
    rf"|(?:{_NUM_ALT})\s+(?:days?|weeks?|months?|years?)\s+ago"
    rf"|in\s+(?:{_NUM_ALT})\s+(?:days?|weeks?|months?|years?)"
    r"|\d{4}-\d{2}-\d{2}|\d{1,2}/\d{1,2}/\d{2,4}"
)
_CLOCK_AT_ALT = (
    # the am/pm form accepts a trailing dot ONLY when internally dotted
    # ("p.m."): with a bare "pm" the dot is a sentence period, and
    # consuming it would let the composition swallow the NEXT sentence's
    # date ("It was 8 pm. Tomorrow ..." must stay two timexes)
    r"\d{1,2}(?::[0-5]\d)?\s*(?:[ap]m\b|[ap]\.m\.?)"
    r"|(?:[01]?\d|2[0-3]):[0-5]\d(?::[0-5]\d)?"
    r"|noon|midday|midnight"
)
# the worded-AMPM clock lives in its OWN composition pattern
# (date_at_time_word) so date_at_time's literal gate stays am/pm/colon/noon —
# folding it into _CLOCK_AT_ALT would put time-of-day words into
# date_at_time's gate clauses and run that large regex on every
# text mentioning a morning/afternoon/evening (measured +18% per-turn
# detection cost on tod-heavy text)
_CLOCK_WORD_ALT = r"\d{1,2}\s+in\s+the\s+(?:morning|afternoon|evening)"

# Ordered battery; longest-span-wins resolution across patterns.
TIMEX_PATTERNS: List[Tuple[str, re.Pattern]] = [
    ("iso_date", re.compile(r"\b\d{4}-\d{2}-\d{2}\b")),
    ("slash_date", re.compile(r"\b\d{1,2}/\d{1,2}/\d{2,4}\b")),
    # ordinal day suffixes accepted ("march 5th, 2021") — without them the
    # dated span would fall apart into a W7 month_day + bare year and the
    # explicit year would be discarded (wrong-value-fragment class)
    (
        "month_day_year",
        re.compile(
            rf"\b({_MONTH_ALT})\.?\s+\d{{1,2}}(?:st|nd|rd|th)?\s*,?\s+\d{{4}}\b",
            re.I,
        ),
    ),
    # "[DayOfWeek] [MonthDay]" composition (en.grammar:239 — "friday
    # march 5" / "friday, march 5, 2021"): ONE timex whose value is the
    # date. Without it the weekday fragment would emit its own
    # W7-nearest day, which can CONTRADICT the named date (the
    # wrong-value-fragment class). Year-less inners pick the nearest
    # candidate year whose date falls on the named weekday
    (
        "weekday_date",
        re.compile(
            rf"\b({_WEEKDAY_ANY_ALT})\s*,?\s+"
            rf"(?:({_MONTH_ALT})\.?\s+\d{{1,2}}(?:st|nd|rd|th)?(?:\s*,?\s+\d{{4}})?"
            rf"|\d{{1,2}}/\d{{1,2}}/\d{{2,4}}|\d{{4}}-\d{{2}}-\d{{2}})\b",
            re.I,
        ),
    ),
    # "June 2019" and the "[FieldValue] of [TimeSpan]" phrasing "June of
    # 2019" (en.grammar:474)
    ("month_year", re.compile(rf"\b({_MONTH_ALT})\.?\s+(?:of\s+)?\d{{4}}\b", re.I)),
    # year-less month-day ("March 5", "March 5th") — the canonical W7 case:
    # three candidate years (anchor-1, anchor, anchor+1) ranked by
    # rank_parses nearest-start (TEP.scala:238-243)
    (
        "month_day",
        re.compile(
            rf"\b({_MONTH_ALT})\.?\s+\d{{1,2}}(?:st|nd|rd|th)?\b", re.I
        ),
    ),
    # "[OrdinalDayOfMonth] of [MonthOfYear] (of [Year])" — the grammar's
    # ordinal-day composition (en.grammar:69-72 OrdinalDayOfMonth,
    # en.grammar:232 MonthDay, en.grammar:474 [FieldValue:Partial] of
    # [TimeSpan:Regular]): "the 5th of june 2020" exact; year-less
    # "the 5th of june" resolves W7 over three candidate years like
    # month_day. Begins at the article/ordinal, so the sweep prefers it
    # over the month_year span ("june 2020") that starts two words later
    (
        "day_of_month",
        re.compile(
            rf"\b(?:the\s+)?(\d{{1,2}})(?:st|nd|rd|th)\s+of\s+({_MONTH_ALT})\.?"
            rf"(?:\s+(?:of\s+)?(\d{{4}}))?\b",
            re.I,
        ),
    ),
    # holidays — en.grammar [TimeSpan] holiday rules; with an explicit year
    # or W7-resolved against the anchor
    # "election day": the grammar's NamedDay rule (en.grammar:225 —
    # DAY_OF_WEEK 2 + MONTH 11 + ALIGNED_WEEK_OF_MONTH 1 = the first
    # Tuesday of November; the battery requires the "day" word where the
    # grammar accepts bare "election", which is ambiguous in conversation)
    # "christmas/thanksgiving day" is the grammar's "[TimeSpan] [Unit]"
    # composition (en.grammar:470) — the value is the holiday's own day,
    # the span widens over the unit word
    # the trailing (?!\s+eve\b) guard: "christmas eve" / "new year's eve"
    # are NOT grammar-backed (no Eve rule in en.grammar), and emitting the
    # bare-holiday fragment would confidently name the WRONG day (Dec 25
    # for a phrase meaning Dec 24) — silent drop restores parity
    (
        "holiday",
        re.compile(
            r"\b((?:christmas|xmas|thanksgiving)(?:\s+day)?"
            r"|halloween|election\s+day"
            r"|easter(?:\s+sunday)?"
            r"|new\s+year'?s?(?:\s+day)?)"
            # the guard must survive backtracking into the optional
            # apostrophe/s ("new year'" + "s eve"): any leftover 's-or-s
            # tail followed by eve blocks the match
            r"(?:\s+(?:of\s+)?(\d{4}))?\b(?!(?:'?s)?\s+eve\b)",
            re.I,
        ),
    ),
    # "[Period] ago" and its synonym "[Period] earlier" (en.grammar:407-412).
    # The count slot also accepts the unspecified quantifiers several/few
    # (en.grammar:297-298): "several days ago" is a MoveEarlier by an
    # Unspecified period — normalized to PAST_REF (the offset is
    # uncomputable; the direction is all the grammar pins down)
    # sub-day units (en.grammar:83-85, 95-97) flow through the same rule:
    # "three hours ago" is a MoveEarlier on the turn's FULL timestamp
    (
        "ago",
        re.compile(
            rf"\b({_NUM_ALT}|{_VAGUE_ALT})\s+(seconds?|minutes?|hours?|days?|weeks?|months?|years?|decades?|century|centuries)\s+(?:ago|earlier)\b",
            re.I,
        ),
    ),
    # "January last year" / "January next year" (en.grammar:416,434).
    # Only ABBREVIATED month forms may take a dot — a dot after a full
    # name is a sentence boundary ("...in January. Last year we...") and
    # must not fuse two expressions into one span
    (
        "month_rel_year",
        re.compile(
            rf"\b(?:({_MONTH_FULL_ALT})|({_MONTH_ABBR_ALT})\.?)\s+(last|next|this)\s+year\b",
            re.I,
        ),
    ),
    # word decades: "the nineties" -> most recent such decade at or before
    # the anchor (FindAtOrEarlier, en.grammar:453-460). The article is
    # REQUIRED here (tighter than the grammar): bare decade words in
    # conversational text are usually ages ("in his twenties"), not times
    (
        "word_decade",
        re.compile(
            r"\bthe\s+(twenties|thirties|forties|fifties|sixties"
            r"|seventies|eighties|nineties)\b",
            re.I,
        ),
    ),
    # spelled-out years — "nineteen ninety(-nine)", "twenty sixteen",
    # "nineteen hundred" (en.grammar Int composition over year halves)
    (
        "word_year",
        re.compile(
            rf"\b(nineteen|twenty)[\s-]+"
            rf"((?:{_TENS_ALT})(?:[\s-](?:{_UNIT_ALT}))?|{_TEEN_ALT}|hundred)\b",
            re.I,
        ),
    ),
    # fractional periods — "[Int] and a half [Unit]" (en.grammar:288-289)
    # plus the natural "[Int] [Unit] and a half" inversion (any spelled or
    # digit count, plural units included — "two years and a half").
    # [Period] ago / in [Period] / [Period] from now accept ANY Period in
    # the grammar (en.grammar:411,416 MoveEarlier/MoveLater), fractions
    # included — an "in" prefix or ago/earlier/"from now" suffix composes
    # the fraction into an ANCHORED point ("an hour and a half ago" ->
    # the minute 90 minutes before the turn timestamp) instead of the
    # bare duration value
    (
        "frac_period",
        re.compile(
            rf"\b(?:(in)\s+)?"
            rf"(?:({_NUM_ALT})\s+and\s+a\s+half\s+(minutes?|hours?|days?|weeks?|months?|years?)"
            rf"|({_NUM_ALT})\s+(minutes?|hours?|days?|weeks?|months?|years?)\s+and\s+a\s+half)"
            r"(\s+(?:ago|earlier)|\s+from\s+now)?\b",
            re.I,
        ),
    ),
    # "half an [Unit]" — the bare-half fraction; with a trailing ago/earlier
    # the sub-day forms are anchored MoveEarlier on the full timestamp
    # ("half an hour ago" -> the minute 30 minutes before the turn)
    # "in half an hour" is the MoveLater form; "a half hour" is the
    # inverted article phrasing ([Nil] dash accepted: "a half-hour")
    (
        "half_unit",
        re.compile(
            r"\b(?:(in)\s+)?(?:half\s+an?|an?\s+half)[\s-]+"
            r"(minute|hour|day|week|month|year)"
            r"(\s+(?:ago|earlier))?\b",
            re.I,
        ),
    ),
    # vague-quantifier periods (en.grammar:77-78 couple -> Int 2;
    # en.grammar:297-298 several/few [Unit] -> Unspecified [Unit]), with
    # the grammar's past/last/next/coming period contexts folded into the
    # span ("the past few weeks"). Value = the period itself — P2W for
    # couple, PXW for several/few (TimeML unspecified-count duration);
    # the direction word is dropped like the WithModifier mod attribute
    (
        "vague_period",
        re.compile(
            r"\b(?:the\s+)?(?:(?:past|last|next|coming)\s+)?"
            rf"((?:an?\s+)?couple(?:\s+of)?|{_VAGUE_ALT})\s+"
            r"(minutes?|hours?|days?|weeks?|months?|years?)\b",
            re.I,
        ),
    ),
    # "first [Int] [Unit]" periods (en.grammar:280 — "the first nine
    # months" -> Simple [Int] [Unit] -> P9M)
    (
        "first_period",
        re.compile(
            rf"\b(?:the\s+)?first\s+({_NUM_ALT})\s+(minutes?|hours?|days?|weeks?|months?|years?)\b",
            re.I,
        ),
    ),
    (
        "in_n",
        # the negative lookahead keeps "in a year and a half" out of this
        # pattern: the in_n span begins EARLIER than the frac_period span,
        # so without the guard the greedy sweep would keep "in a year" and
        # drop the fraction (same earliest-begin gotcha as past_ref).
        # several/few -> FUTURE_REF (unspecified-offset mirror of ago)
        re.compile(
            rf"\bin\s+({_NUM_ALT}|{_VAGUE_ALT})\s+(seconds?|minutes?|hours?|days?|weeks?|months?|years?|decades?|century|centuries)\b"
            r"(?!\s+and\s+a\s+half\b)",
            re.I,
        ),
    ),
    # "[Period] from now" — the MoveLater mirror of "[Period] ago"
    # (en.grammar:407-412 synonym family): "30 minutes from now",
    # "an hour from now" -> in_n semantics on the full timestamp
    (
        "from_now",
        re.compile(
            rf"\b({_NUM_ALT}|{_VAGUE_ALT})\s+(seconds?|minutes?|hours?|days?|weeks?|months?|years?|decades?|century|centuries)\s+from\s+now\b",
            re.I,
        ),
    ),
    # "the day before yesterday" / "the day after tomorrow" — en.grammar
    # compound offsets; listed before rel_day (longest span wins anyway)
    (
        "day_offset",
        re.compile(
            r"\b(?:the\s+)?day\s+(before|after)\s+(yesterday|tomorrow)\b", re.I
        ),
    ),
    # "[TimeSpan] at [Time]" / "(at) [Time] (on) [TimeSpan]" — the date+
    # clock composition ("tomorrow at 19:30", "at noon on friday",
    # "march 5 at noon", and the clock-first juxtapositions "19:30
    # yesterday" / "19:30 on friday"): ONE timex, the resolved day + the
    # clock value. Without it the clock fragment would mis-anchor to the
    # TURN's day — the same wrong-value-fragment class as the round-5
    # verdict's quarter cases (the clock-first order was that verdict's
    # remaining instance)
    (
        "date_at_time",
        re.compile(
            rf"\b(?:({_DATE_AT_ALT})\s+at\s+({_CLOCK_AT_ALT})"
            rf"|(?:at\s+)?({_CLOCK_AT_ALT})\s+(?:on\s+)?({_DATE_AT_ALT}))\b",
            re.I,
        ),
    ),
    # the same composition over the worded-AMPM clock ("5 in the
    # afternoon on friday", "tomorrow at 8 in the morning") — a separate
    # kind purely so its prefilter can be the tight (tod word AND "in")
    # conjunction; normalization shares the date_at_time handler
    (
        "date_at_time_word",
        re.compile(
            rf"\b(?:({_DATE_AT_ALT})\s+at\s+({_CLOCK_WORD_ALT})"
            rf"|(?:at\s+)?({_CLOCK_WORD_ALT})\s+(?:on\s+)?({_DATE_AT_ALT}))\b",
            re.I,
        ),
    ),
    # clock times — "3 pm", "10:30 am", "at 7:45pm" -> YYYY-MM-DDTHH:MM
    (
        "clock_time",
        re.compile(
            r"\b(?:at\s+)?(\d{1,2})(?::(\d{2}))?\s*([ap])\.?m\.?\b", re.I
        ),
    ),
    # noon (en.grammar:212, HOUR_OF_DAY 12) and its natural sibling
    # midnight -> anchored clock values
    (
        "noon_midnight",
        re.compile(r"\b(?:at\s+)?(noon|midday|midnight)\b", re.I),
    ),
    # bare 24-hour clock (en.grammar:214 — HH:MM parses as a Time without
    # am/pm): "19:30", "at 09:15", "19:30:45" -> the anchor day's clock
    # value. The minute is REQUIRED two-digit 00-59, so score-like "16:9"
    # / "2:1" never match; an am/pm continuation belongs to the longer
    # clock_time span (same begin, longest wins)
    (
        "clock_24h",
        re.compile(
            r"\b(?:at\s+)?([01]?\d|2[0-3]):([0-5]\d)(?::([0-5]\d))?\b"
            r"(?!\s*[ap]\.?m\.?\b)",
            re.I,
        ),
    ),
    # worded-AMPM hour (en.grammar:217 [HourOfAMPM] [AMPMOfDay] with the
    # spelled AMPMOfDay forms of en.grammar:116-120): "5 in the
    # afternoon" / "11 in the morning" -> the anchor day's clock value.
    # The FULL "in the <part>" continuation is required — a bare integer
    # never matches — and a trailing date composes via the longer
    # date_at_time span ("5 in the afternoon on friday")
    (
        "hour_ampm_word",
        re.compile(
            r"\b(?:at\s+)?(\d{1,2})\s+in\s+the\s+(morning|afternoon|evening)\b",
            re.I,
        ),
    ),
    # quarters — the reference's timenorm emits YYYY-QN TimeML values and
    # its W7 heuristic special-cases quarter granularity (TEP.scala:219-251)
    (
        "quarter_year",
        re.compile(
            r"\b(?:q([1-4])|(first|second|third|fourth|1st|2nd|3rd|4th)[\s-]+quarter(?:\s+of)?)\s+(\d{4})\b",
            re.I,
        ),
    ),
    # bare quarter — [FieldValue:Partial] QuarterOfYear (en.grammar:191-198,
    # 255; hyphen = the ignorable [Nil] dash, en.grammar:195-198): year-less
    # "the first quarter" resolves via W7 three-candidate nearest-start
    # (TEP.scala:238-243). The year lookahead keeps dated quarters with the
    # longer quarter_year span (the sweep would otherwise let the
    # article-anchored bare form eat "the first quarter of 2021")
    (
        "bare_quarter",
        re.compile(
            r"\b(?:the\s+)?(?:q([1-4])|(first|second|third|fourth|1st|2nd|3rd|4th)[\s-]+quarter)\b"
            r"(?!\s+(?:of\s+)?\d)",
            re.I,
        ),
    ),
    # "the week of <date>" — en.grammar "week of" rules; the span covers the
    # inner date so longest-wins hands the whole phrase here
    # the month-day inner's year is optional (en.grammar:465 "the week of
    # March 6"): year-less inners resolve via the month_day W7 route first,
    # then take the enclosing ISO week
    # holiday inners ("the week of christmas [2020]") resolve the W7 /
    # pinned holiday day first, then take its enclosing ISO week
    (
        "week_of",
        re.compile(
            rf"\b(?:the\s+)?week\s+of\s+(?:({_MONTH_ALT})\.?\s+\d{{1,2}}(?:st|nd|rd|th)?(?:\s*,?\s+\d{{4}})?"
            rf"|\d{{1,2}}/\d{{1,2}}/\d{{2,4}}|\d{{4}}-\d{{2}}-\d{{2}}"
            r"|(?:christmas|xmas|thanksgiving|halloween|easter(?:\s+sunday)?"
            # the same eve guard as the bare holiday kind: "the week of
            # new year's eve" must not emit the Jan-1 week
            r"|new\s+year'?s?(?:\s+day)?)(?:\s+\d{4})?(?!(?:'?s)?\s+eve\b))\b",
            re.I,
        ),
    ),
    # "[Unit] of [TimeSpan]" granularity compositions beyond week_of
    # (en.grammar:465): "the month of june [2020]" -> the month itself
    # (W7 for the year-less form), "the year (of) 2020" -> the year.
    # Guards follow the bound_unit lesson: a month inner must not steal
    # the front of a longer dated span ("the month of june 15, 2020"
    # belongs to month_day_year) and may absorb a rel-year continuation
    # ("the month of june next year"); a year inner must not start an
    # ISO/slash date
    (
        "unit_of",
        re.compile(
            rf"\b(?:the\s+)?(?:month\s+of\s+({_MONTH_FULL_ALT})"
            r"(?:\s+(last|next|this|coming|following)\s+year"
            r"|\s+(?:of\s+)?(\d{4}))?(?!\s*,?\s*\d)"
            r"|year\s+(?:of\s+)?((?:19|20)\d{2})(?![-/]\d))\b",
            re.I,
        ),
    ),
    # "[Unit] [TimeSpan]" FindEnclosing retarget (en.grammar:466-470):
    # "the quarter a year ago" = the quarter ENCLOSING the point one year
    # before the anchor (2023-Q1 for a 2024-03 anchor), "the week two
    # months ago", "the period last year" (period = granularity-less ->
    # the inner TimeSpan's own value, span widened)
    (
        "unit_enclosing",
        re.compile(
            rf"\b(?:the\s+)?(week|month|quarter|period)\s+"
            rf"(?:({_NUM_ALT})\s+(days?|weeks?|months?|years?)\s+ago"
            r"|(last|this|next)\s+(week|month|year))\b",
            re.I,
        ),
    ),
    # "earlier/later in [TimeSpan]" / "part of [TimeSpan]"
    # (en.grammar:486-499 WithModifier region): value = the enclosing
    # unit resolved at the anchor (or the named year); the
    # EARLIER/LATER/PART mod attribute is outside the schema, dropped by
    # the WithModifier convention — the span widens over the modifier
    (
        "mod_in_span",
        re.compile(
            r"\b(?:(?:earlier|later)\s+in|part\s+of)\s+"
            r"(?:(?:the\s+)?(week|month|year|quarter)"
            r"|((?:19|20)\d{2})(?![-/]\d))\b",
            re.I,
        ),
    ),
    # seasons — en.grammar [TimeSpan] season rules; TimeML YYYY-SP/SU/FA/WI
    (
        "season_year",
        re.compile(
            r"\b(spring|summer|fall|autumn|winter)\s+(?:of\s+)?(\d{4})\b", re.I
        ),
    ),
    # past/that/following join the rel-synonym families like the sibling
    # partials (en.grammar:399 FindEarlier "past", :428 FindLater
    # "following", :440-441 AllowsThis "that")
    (
        "rel_season",
        re.compile(
            r"\b(last|past|next|this|that|previous|coming|following)\s+"
            r"(spring|summer|fall|autumn|winter)\b",
            re.I,
        ),
    ),
    # "last/next/this [Month]" — the FindEarlier / FindLater / AllowsThis
    # rules over the MonthOfYear Partial (en.grammar:398-400, 426-428,
    # 389+440-441): "last january" = the latest january ending strictly
    # before the anchor, "next june" = the earliest june starting strictly
    # after it, "this/that january" = the anchor year's january. The
    # digit/of-year lookahead leaves dated spans to their own kinds
    # ("last january 2020" -> month_year, "next june 5" -> month_day) —
    # the bound_unit continuation lesson
    # the optional day group covers "next january 1st" (FindLater over
    # the MonthDay Partial — W7-nearest would put a "next" date in the
    # past); its inner lookahead hands year-bearing spans to
    # month_day_year, and the trailing lookahead hands "next january
    # 2020" to month_year
    # "this/that/past may" is gated behind a day continuation: "may"
    # after those words is overwhelmingly the modal verb ("this may be a
    # problem", "the past may indicate") — the same homograph-precision
    # family as the sat/sun and springs/falls gates. "last/next may"
    # stay open (the modal reading is ungrammatical there)
    (
        "rel_month",
        re.compile(
            rf"\b(?:(last|previous|next|coming|following)\s+({_MONTH_FULL_ALT})"
            rf"|(this|that|past)\s+({_MONTH_FULL_NO_MAY_ALT}"
            rf"|may(?=\s+\d{{1,2}}(?:st|nd|rd|th)?\b)))"
            rf"(?:\s+(\d{{1,2}})(?:st|nd|rd|th)?\b(?!\s*,?\s+\d{{4}}))?"
            r"\b(?!\s+(?:of\s+)?\d)",
            re.I,
        ),
    ),
    # decades — "the 1990s" / "the '90s" / "the 90s" -> TimeML 199X
    # (Temporal.scala:325-355 truncated-representation analog)
    (
        "decade",
        re.compile(r"\b(?:the\s+)?(?:19|20)?\d0s\b|(?:\bthe\s+)?'\d0s\b"),
    ),
    # centuries — "the 19th century" -> TimeML "18" (en.grammar:370-374:
    # "19th century" = CENTURY 18, i.e. the value is centuryIndex - 1)
    (
        "century",
        re.compile(r"\b(?:the\s+)?\d{1,2}(?:st|nd|rd|th)\s+century\b", re.I),
    ),
    # weekends — en.grammar:149-151 WEEKEND_OF_WEEK; TimeML YYYY-Www-WE
    (
        "weekend",
        # past = the FindEarlier synonym family (en.grammar:399 over the
        # WeekendOfWeek Partial); that = the AllowsThis prefix (:440-441)
        re.compile(
            r"\b(?:(?:last|next|this|that|past|previous|coming)\s+weekend"
            r"|the\s+weekend)\b",
            re.I,
        ),
    ),
    # modifier prefixes — en.grammar:489-499 WithModifier (EARLY/MID/LATE/
    # APPROX/AFTER). TimeML keeps the VALUE of the inner expression and
    # carries the modifier in a separate `mod` attribute the output schema
    # does not include, so normalization = inner value; detection widens the
    # span to cover the modifier (longest-span-wins hands the whole phrase
    # here). The inner alternation is the closed set of kinds a modifier can
    # grammatically scope over in our rule library.
    # The modifier-inner separator accepts a hyphen where the grammar's
    # ignorable [Nil] dash sits (en.grammar:10): "mid-june", "early-2020".
    # A BARE full month name is a valid inner (value = W7 month resolution
    # against the anchor), guarded against a following day/year number so
    # "late march 5, 2021" stays with the longer dated span that begins
    # one word later (the sweep would otherwise let "late march" eat it).
    (
        "modified",
        re.compile(
            r"\b(?:the\s+)?(?:early|mid|late|middle\s+of|about|around|almost"
            r"|post)[\s-]+"
            r"(?:(?:the\s+)?(?:19|20)?\d0s|'\d0s"          # decade
            rf"|(?:{_MONTH_ALT})\.?\s+\d{{4}}"             # month-year
            r"|(?:19|20)\d{2}"                             # bare year
            r"|(?:spring|summer|fall|autumn|winter)\s+(?:of\s+)?\d{4}"
            r"|(?:last|next|this)\s+(?:week|month|year|quarter)"
            rf"|(?:{_MONTH_FULL_ALT})(?!\s+(?:of\s+)?\d))\b",
            re.I,
        ),
    ),
    # modifier SUFFIXES — en.grammar:500-503 ("[TimeSpan] or later/earlier",
    # "and beyond/before" -> ON_OR_AFTER/ON_OR_BEFORE): value = inner year,
    # mod dropped (same convention as the prefix rules)
    (
        "suffix_modified",
        re.compile(
            r"\b((?:19|20)\d{2})\s+(?:or\s+(?:later|earlier)"
            r"|and\s+(?:beyond|before))\b",
            re.I,
        ),
    ),
    # "beginning/start/end of the [Unit]" — en.grammar:481-494 WithModifier
    # START/END over FindEnclosing PRESENT [Unit]: value = the anchor's
    # enclosing unit, mod dropped. The "[Unit] end" inversion ("year end",
    # "month-end") is en.grammar:482 with the grammar's [Nil] dash
    # inners beyond the bare enclosing unit follow en.grammar:483-494
    # ("start/beginning/end of [TimeSpan:Regular]"): relative units
    # ("end of next year"), dated / bare months ("end of june [2020]",
    # W7 for the year-less form), and years ("end of 2022") — value =
    # the inner TimeSpan's value, START/END mod dropped as usual
    # inner-alternative guards keep longer dated spans with their own
    # patterns: a month inner must not be followed by a day number
    # ("the end of june 15, 2020" belongs to month_day_year) and may
    # absorb a rel-year continuation ("june next year"); a year inner
    # must not start an ISO date ("2022-06-15")
    (
        "bound_unit",
        re.compile(
            r"\b(?:(?:the\s+)?(beginning|start|end)\s+of\s+"
            r"(?:(?:the\s+)?(week|month|year|quarter)"
            r"|(?:the\s+)?(?:last|next|this|following|preceding|coming"
            r"|past|previous|current|latest|that)\s+(week|month|year|quarter)"
            rf"|(?:{_MONTH_FULL_ALT})\s+(?:last|next|this|coming|following)\s+year"
            rf"|(?:{_MONTH_FULL_ALT})(?:\s+(?:of\s+)?\d{{4}})?(?!\s*,?\s*\d)"
            r"|(?:19|20)\d{2}(?![-/]\d))"
            r"|(week|month|year|quarter)[\s-]+end)\b",
            re.I,
        ),
    ),
    # "[FieldValue:Partial] [FieldValue:Unspecified]" recurring sets
    # (en.grammar:528): "monday mornings" -> XXXX-WXX-1TMO. Same begin as
    # the bare-weekday span but longer, so longest-at-begin wins
    (
        "weekday_tod_set",
        re.compile(
            rf"\b({_WEEKDAY_ALT})\s+(mornings|afternoons|evenings|nights)\b",
            re.I,
        ),
    ),
    # singular "[TimeSpan] [FieldValue:PartOfDay]" composition
    # (en.grammar:471-472 FindEnclosed): "monday morning" -> the W7-resolved
    # weekday date + TMO, and the rel_weekday-prefixed family "next
    # tuesday morning" -> the strictly-next tuesday + TMO (the prefixed
    # span begins at the rel word, same begin as rel_weekday but longer,
    # so longest-at-begin wins). The singular alternation cannot match the
    # plural set forms ("monday mornings" stays with weekday_tod_set)
    (
        "weekday_tod",
        re.compile(
            r"\b(?:(last|next|following|preceding|coming|past|previous|this|that)\s+)?"
            rf"({_WEEKDAY_ANY_ALT})\s+(morning|afternoon|evening|night)\b",
            re.I,
        ),
    ),
    # "[FieldValue:Partial] this/last/next [Unit]" (en.grammar:391,416,434
    # FindEnclosed over the present/previous/next enclosing unit): "monday
    # last week" is ONE timex — the monday INSIDE last week — not the
    # W7-nearest monday plus a separate week. Combos restricted to the
    # partials that live inside the unit: weekday-in-week and
    # quarter/season-in-year (month-in-year is month_rel_year's). Same
    # begin as the bare partial, longer span, so longest-at-begin wins.
    (
        "partial_rel_unit",
        re.compile(
            rf"\b(?:({_WEEKDAY_ALT})\s+(this|last|next)\s+week"
            r"|(?:(?:the\s+)?(?:q([1-4])|(first|second|third|fourth|1st|2nd|3rd|4th)[\s-]+quarter)"
            r"|(spring|summer|fall|autumn|winter))\s+(this|last|next)\s+year)\b",
            re.I,
        ),
    ),
    # recurring seasons / quarters — en.grammar:512-520 Unspecified field
    # values + the TimeSpanSet rules at 526-533 ("each Thursday" family,
    # "the past three summers", bare "fourth quarters"): SET values
    # XXXX-SP/SU/FA/WI and XXXX-Q[1-4]. Precision gate (deliberate
    # deviation, documented): bare-plural "springs"/"falls" are common
    # verbs, so those two require an each/every/past context; the
    # unambiguous plurals (summers/winters/autumns, ordinal quarters)
    # detect bare exactly like the grammar.
    (
        "season_set",
        re.compile(
            rf"\b(?:(?:every|each)\s+(spring|summer|fall|autumn|winter)"
            rf"|(?:the\s+)?past\s+({_NUM_ALT})\s+"
            r"(springs|summers|falls|autumns|winters)"
            r"|(summers|autumns|winters)"
            rf"|(?:(?:the\s+)?past\s+({_NUM_ALT})\s+)?"
            r"(first|second|third|fourth)\s+quarters)\b",
            re.I,
        ),
    ),
    # counted bare-plural tod spans ("two mornings", "eleven evenings"):
    # "morning" is not a grammar Unit, so the reference emits NOTHING for
    # these — this dead pattern wins the earliest-begin sweep over the
    # tod_set plural and its normalizer returns None (silent drop). A
    # consuming span is robust where the previous fixed-width lookbehind
    # chain was not: any count word, any whitespace run ("two  mornings"
    # with a double space bypassed a single-\s lookbehind)
    (
        "counted_tod_drop",
        re.compile(
            rf"\b({_NUM_ALT}|{_VAGUE_ALT})\s+"
            r"(mornings|afternoons|evenings|nights)\b",
            re.I,
        ),
    ),
    # recurring times of day — en.grammar:508-511,526-532: "every morning",
    # "mornings" -> TIMEX3 SET XXXX-XX-XXTMO/TAF/TEV/TNI. The counted
    # spans are eaten by counted_tod_drop above; the ago/earlier
    # lookahead also drops the rare count-less "mornings ago" fragment
    (
        "tod_set",
        re.compile(
            r"\b(?:(?:every|each)\s+(morning|afternoon|evening|night)"
            r"|(mornings|afternoons|evenings|nights)"
            r"(?!\s+(?:ago|earlier)\b))\b",
            re.I,
        ),
    ),
    # "[FieldValue:PartOfDay] of [TimeSpan]" (en.grammar:472) over dated
    # AND year-less month-day inners: "the morning of March 5, 2021" ->
    # 2021-03-05TMO; "the morning of march 5" resolves the inner through
    # the month_day W7 three-candidate route first (alternation order puts
    # the dated form first, so a present year is always consumed).
    # An early/mid/late prefix widens the span, mod dropped as usual
    (
        "tod_of_date",
        re.compile(
            rf"\b(?:the\s+)?(?:(?:early|mid|late)[\s-]+)?(morning|afternoon|evening|night)\s+of\s+"
            rf"(?:({_MONTH_ALT})\.?\s+\d{{1,2}}(?:st|nd|rd|th)?\s*,?\s+\d{{4}}"
            rf"|\d{{1,2}}/\d{{1,2}}/\d{{2,4}}|\d{{4}}-\d{{2}}-\d{{2}}"
            rf"|({_MONTH_ALT})\.?\s+\d{{1,2}}(?:st|nd|rd|th)?)\b",
            re.I,
        ),
    ),
    # "[Period] before/after [TimeSpan]" (en.grammar:414 EndAtStartOf and
    # the StartAtEndOf mirror) over dated/holiday inners: "two days before
    # christmas" -> the shifted day
    (
        "period_offset_date",
        re.compile(
            rf"\b(?:({_NUM_ALT})\s+(days?|weeks?|months?|years?)"
            r"|(?:the\s+)?(day|week|month|year))\s+"
            rf"(before|after)\s+"
            rf"(?:({_MONTH_ALT})\.?\s+\d{{1,2}}(?:st|nd|rd|th)?\s*,?\s+\d{{4}}"
            rf"|\d{{1,2}}/\d{{1,2}}/\d{{2,4}}|\d{{4}}-\d{{2}}-\d{{2}}"
            r"|(?:christmas|xmas|halloween|thanksgiving|easter(?:\s+sunday)?"
            r"|new\s+year'?s?(?:\s+day)?)(?:\s+\d{4})?(?!(?:'?s)?\s+eve\b)"
            rf"|(?:last|next|following|preceding|coming|past|previous|this|that)\s+({_WEEKDAY_ALT})"
            rf"|({_WEEKDAY_ALT}))\b",
            re.I,
        ),
    ),
    # modified bare part-of-day (en.grammar:486-490 early/late/mid over
    # the PartOfDay PartialTime, en.grammar:121-125,242): "mid-morning",
    # "late afternoon" -> the anchor day's part, mod dropped. The
    # modifier is REQUIRED (a bare "morning" in conversation is too
    # ambiguous; the dated/relative forms have their own kinds)
    # the lookahead leaves dated parts of day with tod_of_date ("the
    # late afternoon of march 5, 2021" must not re-anchor to the turn
    # day); "mid-afternoon yesterday" still goes to the longer
    # tod_rel_day span (same begin, longest wins)
    (
        "mod_tod",
        re.compile(
            r"\b(?:early|mid|late)[\s-]+"
            r"(morning|afternoon|evening|night)\b(?!\s+of\b)",
            re.I,
        ),
    ),
    # "[PartOfDay] [TimeSpan]" FindEnclosed (en.grammar:471):
    # "mid-afternoon yesterday" -> 2024-03-13TAF — the part of day INSIDE
    # the relative day; an early/mid/late prefix widens the span and
    # drops its mod per the WithModifier convention
    (
        "tod_rel_day",
        re.compile(
            r"\b(?:(?:early|mid|late)[\s-]+)?"
            r"(morning|afternoon|evening|night)\s+"
            r"(yesterday|today|tomorrow)\b",
            re.I,
        ),
    ),
    # times of day — TimeML YYYY-MM-DDTMO/TAF/TEV/TNI; "overnight"
    # (en.grammar:125 PartOfDay NIGHT synonym) -> the anchor day's TNI
    (
        "time_of_day",
        re.compile(
            r"\b(?:(this|tomorrow|yesterday)\s+(morning|afternoon|evening)"
            r"|(last|tomorrow|yesterday)\s+(night)|(tonight)|(overnight))\b",
            re.I,
        ),
    ),
    # TimeSpanSet — "each June", "every Monday" -> recurring-set values
    # XXXX-MM / XXXX-WXX-D (en.grammar:526-532 [TimeSpanSet] |||
    # each [FieldValue:Partial]). Begins at each/every, so the greedy
    # sweep's earliest-begin rule keeps this span over the bare-weekday /
    # month patterns that start one word later; the digit lookahead keeps
    # "every June 5" pointing at the dated expression instead
    (
        "span_set",
        re.compile(
            rf"\b(?:each|every)\s+((?:{_MONTH_FULL_ALT})|(?:{_WEEKDAY_ALT})|weekend)\b"
            r"(?!\s+\d)",
            re.I,
        ),
    ),
    # PeriodSet — "every week", "every 2 weeks", "daily" -> TIMEX3 SET
    # values P{n}{U} (Temporal.scala:410-429 analog; en.grammar:323-331
    # "every [Period]" / "each [Period]"; quarterly = QUARTER_YEARS ->
    # unit char "Q", Temporal.scala:45). "every other [Unit]" is the
    # every-second-unit composition -> P2{U}
    (
        "period_set",
        re.compile(
            rf"\b(?:every|each)\s+(?:(other)\s+|({_NUM_ALT})\s+)?(second|minute|hour|day|week|month|year)s?\b"
            r"|\b(hourly|daily|weekly|monthly|quarterly|yearly|annually)\b",
            re.I,
        ),
    ),
    # "[Int] [Unit] period" (en.grammar:282 — "a three-year period" ->
    # Simple [Int] [Unit]); the hyphen is the ignorable [Nil] dash
    (
        "period_phrase",
        re.compile(
            rf"\b(?:a\s+)?({_NUM_ALT})[\s-]+(minute|hour|day|week|month|year)\s+period\b",
            re.I,
        ),
    ),
    # "recent/early/first [Unit:Plural]" (en.grammar:299-301 —
    # Unspecified [Unit:Plural]): "in recent weeks" / "the early weeks" /
    # "the first weeks" -> PXW. "first [Int] [Unit]" keeps its exact
    # count via the longer first_period span (a number after "first"
    # fails this pattern's plural-unit slot)
    (
        "recent_period",
        re.compile(
            r"\b(?:recent|early|first)\s+(minutes|hours|days|weeks|months|years)\b",
            re.I,
        ),
    ),
    # period modifiers that keep the period value (en.grammar:305-318
    # WithModifier LESS_THAN/MORE_THAN/EQUAL_OR_MORE/EQUAL_OR_LESS/
    # APPROX): "more than two years", "at least two months", "nearly a
    # year", "about two weeks" -> the bare period, mod dropped (outside
    # the output schema, the WithModifier convention). The trailing
    # lookaheads keep anchored readings intact: "about two weeks ago"
    # stays a MoveEarlier, "nearly a year and a half" keeps its fraction
    (
        "period_mod",
        re.compile(
            rf"\b(?:less\s+than|more\s+than|no\s+more\s+than|at\s+least"
            rf"|nearly|over|about|around|almost)\s+({_NUM_ALT})\s+"
            r"(seconds?|minutes?|hours?|days?|weeks?|months?|years?)\b"
            r"(?!\s+(?:ago|earlier|before|after)\b)(?!\s+from\s+now\b)"
            r"(?!\s+and\s+a\s+half\b)(?!\s+or\s+so\b)",
            re.I,
        ),
    ),
    # fractional periods in slash notation (en.grammar:287 Fractional
    # [Int] [Int]/[Int] [Unit]): "2 1/2 years" -> the same
    # integral-conversion convention as the worded fractions (years ->
    # months, months -> days, hours -> minutes, minutes -> seconds),
    # decimal in the original unit when the conversion is not integral,
    # silent drop when the decimal does not terminate. Like frac_period,
    # an "in" prefix / ago / "from now" suffix composes the fraction
    # through MoveEarlier/MoveLater into an anchored point ("2 1/2
    # years ago" -> the month 30 months back — the ago fragment must
    # not be dropped, and the denominator must not leak into a bare
    # "[den] years ago" reading)
    (
        "frac_slash",
        re.compile(
            r"\b(?:(in)\s+)?(\d{1,2})\s+(\d{1,2})/(\d{1,2})\s+"
            r"(seconds?|minutes?|hours?|days?|weeks?|months?|years?)"
            r"(\s+(?:ago|earlier)|\s+from\s+now)?\b",
            re.I,
        ),
    ),
    # fully-unspecified periods (en.grammar:294-296 — "a while" /
    # "some time" / "lengthy period" -> Unspecified UNSPECIFIED): both the
    # amount and the unit are unknown -> "PX" (amount X, unit char X per
    # Temporal.scala:41 UNSPECIFIED -> "X")
    (
        "unspecified_period",
        re.compile(
            r"\b(?:a\s+while|some\s+time|(?:a\s+)?lengthy\s+period)\b", re.I
        ),
    ),
    # period modifiers that keep the period value: "[Period] or so" ->
    # APPROX (en.grammar:311), "up to [Period]" -> EQUAL_OR_LESS
    # (en.grammar:318); the mod attribute is outside the schema, dropped
    # by the WithModifier convention
    (
        "period_approx",
        re.compile(
            rf"\b(?:({_NUM_ALT})\s+(minutes?|hours?|days?|weeks?|months?|years?)\s+or\s+so"
            rf"|up\s+to\s+({_NUM_ALT})\s+(minutes?|hours?|days?|weeks?|months?|years?)"
            # "up to two weeks AGO" must stay an anchored MoveEarlier,
            # not an EQUAL_OR_LESS period — without this lookahead the
            # sweep's earliest-begin rule would let "up to..." eat it
            rf"(?!\s+(?:ago|earlier)\b))\b",
            re.I,
        ),
    ),
    # "[Period] ago [FieldValue:Partial]" (en.grammar:417-418 FindEnclosed
    # over MoveEarlier — "a year ago january", "the year-ago third
    # quarter"): the named month / quarter / season inside the year lying
    # [Period] before the anchor's. The count is optional ("the year-ago
    # X" = one year ago); inner guards keep longer dated spans with their
    # own patterns ("a year ago january 15, 2021" belongs to
    # month_day_year, dated quarters to quarter_year)
    (
        "ago_partial",
        re.compile(
            rf"\b(?:the\s+)?(?:({_NUM_ALT})\s+)?years?[\s-]+ago\s+"
            rf"(?:({_MONTH_FULL_ALT})(?!\s*,?\s*\d)"
            r"|(?:the\s+)?(?:q([1-4])|(first|second|third|fourth|1st|2nd|3rd|4th)[\s-]+quarter)(?!\s+(?:of\s+)?\d)"
            r"|(spring|summer|fall|autumn|winter)(?!\s+(?:of\s+)?\d))\b",
            re.I,
        ),
    ),
    # "[TimeSpan]'s [FieldValue:Partial]" (en.grammar:476 FindEnclosed —
    # "2019's june", "2019's third quarter")
    (
        "year_possessive",
        re.compile(
            rf"\b(?:((?:19|20)\d{{2}})|(this|last|next|past|previous|current|coming|following)\s+year)\s*'\s*s\s+"
            rf"(?:({_MONTH_FULL_ALT})|(first|second|third|fourth|1st|2nd|3rd|4th)[\s-]+quarter"
            r"|q([1-4])|(spring|summer|fall|autumn|winter))\b",
            re.I,
        ),
    ),
    # frequency sets — "twice a week", "three times a day", "once per
    # month": TIMEX3 SET with value = the base period (P1W...) and the
    # freq attribute ("2X") outside our output schema, dropped by the same
    # convention as the WithModifier mod attribute
    (
        "freq_set",
        re.compile(
            rf"\b(?:(once|twice|thrice)|({_NUM_ALT})\s+times)\s+(?:an?|per)\s+"
            r"(minute|hour|day|week|month|year)\b",
            re.I,
        ),
    ),
    # following/preceding/previous/latest are next/last synonyms
    # (en.grammar:398-405,427-432); current/that are this-synonyms
    # (en.grammar:385,387 — "that [Unit]" = FindEnclosing PRESENT)
    # the trailing lookahead is silent-drop parity: "the last quarter of
    # 2020" is NOT grammar-composable (the reference emits nothing for the
    # phrase), and without the guard the fragment would mis-value as the
    # anchor-relative previous quarter — the bare year inside the phrase
    # still detects on its own
    # "hour" joins the unit set (en.grammar:83 — Units flow through the
    # FindEnclosing last/next/this rules): "the last hour" = the hour
    # before the anchor's, on the FULL timestamp (date-only anchors drop)
    (
        "rel_unit",
        re.compile(
            r"\b(?:the\s+)?(last|next|this|following|preceding|coming|past"
            r"|previous|current|latest|that)\s+"
            r"(hour|day|week|month|year|quarter)\b"
            r"(?!\s+of\s+\d{4})",
            re.I,
        ),
    ),
    (
        "rel_weekday",
        # this/that (en.grammar:389,440-441 AllowsThis) pin the weekday
        # INSIDE the current ISO week (FindEnclosed over the present
        # enclosing week) — "this friday" from a Monday anchor is the
        # SAME week's friday, where the bare-weekday W7 nearest-distance
        # rule could pick the previous week's
        re.compile(
            rf"\b(last|next|following|preceding|coming|past|previous|this|that)\s+({_WEEKDAY_ANY_ALT})\b",
            re.I,
        ),
    ),
    # bare weekday — ambiguous between the previous and next occurrence;
    # resolved by W7 distance-to-anchor (see normalize_timex). Listed after
    # rel_weekday: longest-span-wins hands "last friday" to rel_weekday.
    ("weekday", re.compile(rf"\b({_WEEKDAY_ALT})\b", re.I)),
    ("rel_day", re.compile(r"\b(yesterday|today|tomorrow)\b", re.I)),
    (
        "past_ref",
        # negative lookahead: "in the past week/month/..." belongs to the
        # rel_unit 'past' synonym, not PAST_REF — without it the earlier-
        # beginning "in the past" span wins the greedy sweep. The unit
        # alternation is anchored with \b so PLURAL units ("in the past
        # weeks") — which rel_unit does not match — still fall through to
        # PAST_REF instead of being suppressed by a prefix match. The
        # second lookahead hands "in the past few weeks / couple of days"
        # to vague_period (whose span begins at "the", later than this
        # pattern's "in" — earliest-begin would otherwise suppress it).
        re.compile(
            r"\b(recently|previously|formerly"
            r"|in\s+the\s+past\b(?!\s+(?:hour|day|week|month|year|quarter)\b)"
            r"(?!\s+(?:few|several|couple)\b))\b",
            re.I,
        ),
    ),
    (
        "future_ref",
        # "later date"/"later time" are the grammar's Solo FUTURE rules
        # (en.grammar:359-360)
        re.compile(
            r"\b(soon|eventually|in\s+the\s+future"
            r"|(?:at\s+a\s+)?later\s+(?:date|time))\b",
            re.I,
        ),
    ),
    (
        "present_ref",
        # "these days"/"this moment" are Solo PRESENT rules
        # (en.grammar:354-355)
        re.compile(
            r"\b(currently|presently|at\s+present|right\s+now|now"
            r"|these\s+days|(?:at\s+)?this\s+moment|at\s+the\s+moment)\b",
            re.I,
        ),
    ),
    ("bare_year", re.compile(r"\b(19|20)\d{2}\b")),
]

_DIGIT_RE = re.compile(r"\d")

# each kind's literal gate (one bit per distinct clause) and digit reach,
# derived from the patterns themselves
_GATES = regex_gate.battery_gates(TIMEX_PATTERNS)

# tokens longer than this bypass the cache: real vocabulary words are
# short, while long unique tokens (URLs, hashes, base64 blobs in tool
# output) would fill the LRU with never-reused entries and pay cache
# bookkeeping on top of the probe
_MAX_CACHED_WORD = 24


@lru_cache(maxsize=65536)
def _word_quick_keys(word: str) -> int:
    """Mask of the gate clauses one folded whitespace token satisfies."""
    mask = 0
    for lit, clauses in _GATES.literals:
        if lit in word:
            mask |= clauses
    return mask


def _word_region(
    text: str, begin: int, end: int, left_words: int, right_words: int
) -> Tuple[int, int]:
    """Word-aligned window [begin, end) widened by N whitespace gaps on
    each side. Both edges land ON whitespace (or the true text ends), so
    a pos/endpos-bounded finditer preserves \\b semantics — no edge can
    fall mid-word and fabricate a boundary."""
    start = begin
    gaps = 0
    in_space = False
    while start > 0 and gaps <= left_words:
        start -= 1
        if text[start].isspace():
            if not in_space:
                gaps += 1
                if gaps > left_words:
                    break  # leave start ON this whitespace char
            in_space = True
        else:
            in_space = False
    stop = end
    gaps = 0
    in_space = False
    n = len(text)
    while stop < n and gaps <= right_words:
        if text[stop].isspace():
            if not in_space:
                gaps += 1
                if gaps > right_words:
                    break  # leave stop ON this whitespace char
            in_space = True
        else:
            in_space = False
        stop += 1
    return start, stop


# Region-bounded patterns: kinds with no derived digit reach (a match need
# not hold a digit) whose full scan is costly. Each can only match within
# a few words of a RARE indicator token (a clock, an or-so/up-to
# connective), while its literal gate passes on far more texts than can
# actually match (":" and "am"-as-substring appear throughout the corpus).
# On clinical-dense text a full scan costs date_at_time ~105 us/turn and
# period_approx ~30 us/turn, against ~2 and under 1 windowed; every other
# kind costs under 5 us/turn without a window. Margins are hand-set upper
# bounds on each pattern's reach around its indicator; a differential
# test asserts region-bounded == full-text detection.
_REGION_BOUNDED: dict = {
    # clock indicator: a colon between digits (every colon of
    # _CLOCK_AT_ALT is; a bare ":" would open a window on every JSON and
    # log line), a word-INITIAL am/pm (the lookaround keeps
    # "stream"/"example" from creating windows), or noon/midday/midnight
    "date_at_time": (
        re.compile(
            r"\d:\d|(?<![a-z])(?:[ap]\.?m\.?(?![a-z])|noon|midday|midnight)",
            re.I,
        ),
        8, 8,
    ),
    # "or so" / "up to" connectives. The right margin must cover the
    # up-to branch's FULL reach incl. the trailing (?!ago|earlier)
    # lookahead — "up to a couple of weeks ago" is 6 words past the
    # indicator, and a truncated lookahead would vacuously pass and
    # mis-accept the anchored reading as a period (test-pinned)
    "period_approx": (re.compile(r"\bor\s+so\b|\bup\s+to\b", re.I), 5, 7),
}


def _bounded_windows(text: str, kind: str) -> List[Tuple[int, int]]:
    """Merged word-aligned scan windows around ``kind``'s indicator
    tokens. Indicators scan TEXT directly (IGNORECASE), never a
    lowercased copy — str.lower() can change string length (e.g. the
    Turkish dotted capital I), which would misalign or overflow every
    window offset. Shared by detect_timexes and the differential test
    so the test exercises the production windowing, not a copy."""
    ind, lw, rw = _REGION_BOUNDED[kind]
    spans: List[Tuple[int, int]] = []
    for im in ind.finditer(text):
        b, e = _word_region(text, im.start(), im.end(), lw, rw)
        if spans and b <= spans[-1][1]:
            if e > spans[-1][1]:
                spans[-1] = (spans[-1][0], e)
        else:
            spans.append((b, e))
    return spans


# --- word-level indicator-presence gate for the region-bounded kinds ---
#
# The literal gates pass on substrings ("am" in "example", "to" in
# "today"), so alone they would run the indicator scans on most turns.
# Every region-bounded indicator is whitespace-free between its \s+ joints,
# so each word of an indicator match lies wholly inside one whitespace
# token, with its word-boundary lookarounds evaluating identically in the
# token as in the text (token edges abut whitespace / string ends, which
# are non-word on both sides) — therefore "no token carries the indicator
# token-level condition" proves "the indicator cannot match the text", and
# the scan can be skipped EXACTLY. Multi-word indicators (or+so, up+to)
# decompose into per-token conditions AND-ed per alternative; per-token
# results are lru-memoized like the literal-gate clauses.
# Per-token conditions are evaluated on the ORIGINAL-case token with the
# same `re.I` engine the indicators use: `str.lower()` applies FULL case
# folding (e.g. 'İ' -> 'i' + combining dot) while `re.IGNORECASE` applies
# SIMPLE per-char folding ('İ' matches pattern 'i'), so a lowered-string
# prefix test could reject a token the indicator regex accepts — an unsound
# skip. Same-engine-same-flags makes every condition exactly as permissive
# as the indicator it guards.
_CLOCK_COLON_RE = re.compile(r"\d:\d")
_AMPM_WORD_RE = re.compile(r"(?<![a-z])[ap]\.?m\.?(?![a-z])", re.I)
_NOON_WORD_RE = re.compile(r"(?<![a-z])(?:noon|midday|midnight)", re.I)
# Each condition mirrors the indicator's \b at token level exactly: a
# word-boundary inside the text is, at the token edge, "start/end of
# token" (the neighbor is whitespace) and, inside a token, "adjacent to a
# non-word char" — so e.g. "for" no longer satisfies the "or"-final
# condition ('f' is a word char, \bor cannot match there) while "-or"
# and the bare token "or" still do. Necessary conditions stay necessary;
# they just stop over-firing on everyday vocabulary ("some", "today",
# "group", "for"), which is most of what the gate exists to skip.
_OR_END_RE = re.compile(r"(?:\A|\W)or\Z", re.I)
_SO_START_RE = re.compile(r"so(?:\Z|\W)", re.I)    # used via .match
_UP_END_RE = re.compile(r"(?:\A|\W)up\Z", re.I)
_TO_START_RE = re.compile(r"to(?:\Z|\W)", re.I)

# token-condition ids
_IT_COLON, _IT_AMPM, _IT_NOON = 0, 1, 2
_IT_OR, _IT_SO, _IT_UP, _IT_TO = 3, 4, 5, 6


@lru_cache(maxsize=65536)
def _word_indicator_bits(word: str) -> frozenset:
    """Indicator token-conditions satisfied by one ORIGINAL-case
    whitespace token. Exact for the single-token regex conditions; the
    word-piece conditions for multi-word indicators are NECESSARY (never
    miss a true indicator) but may over-fire — over-firing only costs the
    scan the gate exists to skip."""
    bits = []
    if _CLOCK_COLON_RE.search(word):
        bits.append(_IT_COLON)
    if _AMPM_WORD_RE.search(word):
        bits.append(_IT_AMPM)
    if _NOON_WORD_RE.search(word):
        bits.append(_IT_NOON)
    if _OR_END_RE.search(word):
        bits.append(_IT_OR)
    if _SO_START_RE.match(word):
        bits.append(_IT_SO)
    if _UP_END_RE.search(word):
        bits.append(_IT_UP)
    if _TO_START_RE.match(word):
        bits.append(_IT_TO)
    return frozenset(bits)


@lru_cache(maxsize=65536)
def _word_prefilters(word: str):
    """(gate-clause mask, indicator-bit set) of one ORIGINAL-case
    whitespace token — the fused per-word memo detect_timexes unions per
    turn."""
    return _word_quick_keys(regex_gate.fold(word)), _word_indicator_bits(word)


def _region_kind_possible(kind: str, bits: frozenset) -> bool:
    """Can ``kind``'s indicator match a text whose per-token indicator
    conditions union to ``bits``? False proves the indicator finditer
    would find nothing (see _word_indicator_bits)."""
    if kind == "date_at_time":
        return _IT_COLON in bits or _IT_AMPM in bits or _IT_NOON in bits
    if kind == "period_approx":
        return (_IT_OR in bits and _IT_SO in bits) or (
            _IT_UP in bits and _IT_TO in bits
        )
    return True


# A hand-set window only where the derivation cannot bound the scan: a
# kind with a derived digit reach is digit-bounded instead, so the two
# scan layouts never overlap.
assert all(_GATES.reach[k] is None for k in _REGION_BOUNDED)


# Digit-bounded kinds: every match holds a digit and touches at most
# reach[0] whitespace runs before its first digit and reach[1] after its
# last (derived reach), so scanning the window of the kind's own reach
# around the text's digits finds exactly the full scan's matches.
_DIGIT_BOUNDED = frozenset(
    kind for kind, reach in _GATES.reach.items()
    if reach is not None and max(reach) < math.inf
)

# (priority, kind, regex, required clauses, digit reach, region-bounded)
_SCAN_PLAN = tuple(
    (prio, kind, pat, _GATES.need[kind],
     _GATES.reach[kind] if kind in _DIGIT_BOUNDED else None,
     kind in _REGION_BOUNDED)
    for prio, (kind, pat) in enumerate(TIMEX_PATTERNS)
)


def _text_prefilters(text: str, has_digit: bool) -> Tuple[int, set]:
    """(satisfied gate clauses, indicator bits) of one text: unions over its
    distinct whitespace tokens, memoized per token (every literal is one
    word, so this equals a whole-text scan; word frequencies are Zipfian,
    so the memo hits on most tokens)."""
    mask = _GATES.digit_mask if has_digit else 0
    ind_bits: set = set()
    for w in set(text.split()):
        if len(w) <= _MAX_CACHED_WORD:
            qk, ib = _word_prefilters(w)
        else:
            qk = _word_quick_keys.__wrapped__(regex_gate.fold(w))
            ib = _word_indicator_bits.__wrapped__(w)
        mask |= qk
        ind_bits |= ib
    return mask, ind_bits


def detect_timexes(text: str):
    """All timex spans in one turn: longest non-overlapping, earliest-first.

    Returns list of dicts (begin, end, surface, kind). Overlap resolution
    is a greedy interval sweep over candidates sorted by (begin, -length,
    pattern priority): the EARLIEST-beginning span wins; among spans
    sharing a begin, the longest wins; remaining ties go to the earlier
    pattern in TIMEX_PATTERNS (deterministic). A later-beginning span can
    therefore lose to a shorter earlier one — patterns whose phrasings
    collide that way carry guards (e.g. past_ref's lookahead).

    A pattern whose literal gate fails cannot match and is skipped; the
    digit- and region-bounded ones scan only their windows. Both find
    exactly the matches of a full scan (see the module docstring).
    """
    first_digit = _DIGIT_RE.search(text)
    has_digit = first_digit is not None
    if has_digit:
        last_digit_end = max(m.end() for m in _DIGIT_RE.finditer(text))
        windows = {}  # digit reach -> its window, computed once per text
    mask, ind_bits = _text_prefilters(text, has_digit)
    candidates = []
    for prio, kind, pat, need, reach, region_bounded in _SCAN_PLAN:
        if mask & need != need:
            continue  # proven: some required clause holds for no word
        if reach is not None:
            if has_digit:
                if reach not in windows:
                    windows[reach] = _word_region(
                        text, first_digit.start(), last_digit_end, *reach
                    )
                for m in pat.finditer(text, *windows[reach]):
                    candidates.append(
                        (m.start(), -(m.end() - m.start()), prio, m.end(), kind)
                    )
            continue
        if region_bounded:
            if not _region_kind_possible(kind, ind_bits):
                continue  # proven: the indicator scan would find nothing
            for b, e in _bounded_windows(text, kind):
                for m in pat.finditer(text, b, e):
                    candidates.append(
                        (m.start(), -(m.end() - m.start()), prio, m.end(), kind)
                    )
            continue
        for m in pat.finditer(text):
            candidates.append((m.start(), -(m.end() - m.start()), prio, m.end(), kind))
    candidates.sort()
    out = []
    # greedy sweep: sort by (begin, -len, prio); a span is kept iff it does
    # not overlap an already-kept span. Because candidates arrive in
    # begin-ascending order and kept spans are non-overlapping, kept END
    # offsets ascend too — so "overlaps any kept span" reduces to
    # "begin < end of the last kept span": O(n) instead of O(n * kept)
    taken_until = -1
    for begin, neglen, prio, end, kind in candidates:
        if begin < taken_until:
            continue
        taken_until = end
        out.append(
            {"begin": begin, "end": end, "surface": text[begin:end], "kind": kind}
        )
    return out


def _fmt_day(d: dt.date) -> str:
    return d.isoformat()


def _fmt_week(d: dt.date) -> str:
    iso = d.isocalendar()
    return f"{iso[0]}-W{iso[1]:02d}"


def _fmt_month(year: int, month: int) -> str:
    return f"{year:04d}-{month:02d}"


def _days_in_month(year: int, month: int) -> int:
    y2, m2 = _shift_month(year, month, 1)
    return (dt.date(y2, m2, 1) - dt.timedelta(days=1)).day


def _shift_month(year: int, month: int, delta: int) -> Tuple[int, int]:
    m = (year * 12 + (month - 1)) + delta
    return m // 12, m % 12 + 1


def _num(tok: str) -> Optional[int]:
    tok = " ".join(tok.lower().split())
    if tok.isdigit():
        return int(tok)
    # "couple (of)" with optional article -> Int 2 (en.grammar:77-78)
    if re.fullmatch(r"(?:an?\s+)?couple(?:\s+of)?", tok):
        return 2
    if tok in _NUM_WORDS:
        return _NUM_WORDS[tok]
    # composed tens: "twenty-one" / "twenty one"
    parts = tok.replace("-", " ").split()
    if (
        len(parts) == 2
        and parts[0] in _TENS_WORDS
        and parts[1] in _UNIT_WORDS
    ):
        return _TENS_WORDS[parts[0]] + _UNIT_WORDS[parts[1]]
    return None


def _period_value(n, unit: str) -> str:
    """ISO-8601 duration for n of unit — sub-day units carry the TimeML
    time designator ("PT3H", never "P3H"; minute -> "T...M" disambiguates
    from month)."""
    u = unit.lower().rstrip("s")
    if u in ("hour", "minute", "second"):
        return f"PT{n}{u[0].upper()}"
    return f"P{n}{u[0].upper()}"


def _clock_hm(txt: str) -> Optional[str]:
    """Clock fragment -> "HH:MM[:SS]" (24h); None if invalid (12h hour
    outside 1-12 etc. — the clock_time validation rules)."""
    t = txt.lower().strip()
    if t in ("noon", "midday"):
        return "12:00"
    if t == "midnight":
        return "00:00"
    m = re.fullmatch(r"(\d{1,2})(?::(\d{2}))?\s*([ap])\.?m\.?", t)
    if m:
        hour, minute = int(m.group(1)), int(m.group(2) or 0)
        if not (1 <= hour <= 12) or minute > 59:
            return None
        if m.group(3) == "p":
            h24 = 12 if hour == 12 else hour + 12
        else:
            h24 = 0 if hour == 12 else hour
        return f"{h24:02d}:{minute:02d}"
    m = re.fullmatch(r"(\d{1,2}):(\d{2})(?::(\d{2}))?", t)
    if m:
        hm = f"{int(m.group(1)):02d}:{m.group(2)}"
        return hm + (f":{m.group(3)}" if m.group(3) else "")
    # worded-AMPM hour (en.grammar:217 [HourOfAMPM] [AMPMOfDay], AMPMOfDay
    # spelled "in the morning/afternoon/evening" per en.grammar:116-120):
    # "5 in the afternoon" -> 17:00, with the 12-hour edge cases following
    # the am/pm convention (12 in the morning -> 00:00)
    m = re.fullmatch(r"(\d{1,2})\s+in\s+the\s+(morning|afternoon|evening)", t)
    if m:
        hour = int(m.group(1))
        if not 1 <= hour <= 12:
            return None
        if m.group(2) == "morning":
            h24 = 0 if hour == 12 else hour
        else:
            h24 = 12 if hour == 12 else hour + 12
        return f"{h24:02d}:00"
    return None


def normalize_timex(surface: str, kind: str, anchor=None) -> Optional[str]:
    """Surface + detected kind + per-turn anchor -> TimeML value or None.

    ``anchor`` is the turn's DCT: a ``datetime.date``, or a full
    ``datetime.datetime`` when the turn timestamp carries a time of day —
    the sub-day kinds ("three hours ago", "in 20 minutes") are arithmetic
    on the full timestamp and silently drop (None) on a date-only anchor;
    every calendar-granularity kind uses the date part only, so a
    datetime anchor never changes their values.

    The slash fast path reproduces TimeMentionNormalizer.getTimeML exactly:
    split on '/', require 3 all-numeric components, month-first, 2-digit year
    + 2000, drop if the calendar rejects it (java:165-196). Whitespace in the
    surface is collapsed first (java:197).
    """
    anchor_dt = anchor if isinstance(anchor, dt.datetime) else None
    if anchor_dt is not None:
        anchor = anchor_dt.date()
    s = " ".join(surface.split())
    try:
        if kind == "counted_tod_drop":
            # deliberate dead span: counted bare-plural parts of day have
            # no grammar reading ("morning" is not a Unit) — consuming
            # them silently is the drop mechanism (see the battery entry)
            return None
        if kind == "slash_date":
            parts = s.split("/")
            if len(parts) != 3 or not all(p.isdigit() for p in parts):
                return None
            month, day, raw_year = int(parts[0]), int(parts[1]), int(parts[2])
            year = raw_year + 2000 if len(parts[2]) == 2 else raw_year
            return _fmt_day(dt.date(year, month, day))
        if kind == "iso_date":
            y, m, d = s.split("-")
            return _fmt_day(dt.date(int(y), int(m), int(d)))
        if kind == "month_day_year":
            m = re.match(
                rf"({_MONTH_ALT})\.?\s+(\d{{1,2}})(?:st|nd|rd|th)?\s*,?\s+(\d{{4}})",
                s, re.I,
            )
            if not m:
                return None
            month = _MONTHS[m.group(1).lower()]
            return _fmt_day(dt.date(int(m.group(3)), month, int(m.group(2))))
        if kind == "month_year":
            m = re.match(rf"({_MONTH_ALT})\.?\s+(?:of\s+)?(\d{{4}})", s, re.I)
            if not m:
                return None
            return _fmt_month(int(m.group(2)), _MONTHS[m.group(1).lower()])
        if kind == "day_of_month":
            m = re.match(
                rf"(?:the\s+)?(\d{{1,2}})(?:st|nd|rd|th)\s+of\s+({_MONTH_ALT})\.?"
                rf"(?:\s+(?:of\s+)?(\d{{4}}))?",
                s, re.I,
            )
            day, month = int(m.group(1)), _MONTHS[m.group(2).lower()]
            if m.group(3):
                return _fmt_day(dt.date(int(m.group(3)), month, day))
            if anchor is None:
                return None
            # year-less: W7 three-candidate rank, exactly like month_day
            parses = []
            for y in (anchor.year - 1, anchor.year, anchor.year + 1):
                try:
                    d = dt.date(y, month, day)
                except ValueError:
                    continue
                parses.append(TimexParse(_fmt_day(d), True, d, False))
            if not parses:
                return None
            return rank_parses(parses, anchor)[0].value
        if kind == "vague_period":
            m = re.match(
                r"(?:the\s+)?(?:(?:past|last|next|coming)\s+)?"
                rf"((?:an?\s+)?couple(?:\s+of)?|{_VAGUE_ALT})\s+"
                r"(minutes?|hours?|days?|weeks?|months?|years?)",
                s, re.I,
            )
            if "couple" in m.group(1).lower():
                return _period_value(2, m.group(2))
            # unspecified count (en.grammar:297-298)
            return _period_value("X", m.group(2))
        if kind == "first_period":
            m = re.match(
                rf"(?:the\s+)?first\s+({_NUM_ALT})\s+(minutes?|hours?|days?|weeks?|months?|years?)",
                s, re.I,
            )
            n = _num(m.group(1))
            if n is None:
                return None
            return _period_value(n, m.group(2))
        if kind == "period_phrase":
            m = re.match(
                rf"(?:a\s+)?({_NUM_ALT})[\s-]+(minute|hour|day|week|month|year)\s+period",
                s, re.I,
            )
            n = _num(m.group(1))
            if n is None:
                return None
            return _period_value(n, m.group(2))
        if kind == "recent_period":
            m = re.match(
                r"(?:recent|early|first)\s+(minutes|hours|days|weeks|months|years)",
                s, re.I,
            )
            return _period_value("X", m.group(1))
        if kind == "period_mod":
            m = re.match(
                rf"(?:less\s+than|more\s+than|no\s+more\s+than|at\s+least"
                rf"|nearly|over|about|around|almost)\s+({_NUM_ALT})\s+"
                r"(seconds?|minutes?|hours?|days?|weeks?|months?|years?)",
                s, re.I,
            )
            n = _num(m.group(1))
            if n is None:
                return None
            return _period_value(n, m.group(2))
        if kind == "frac_slash":
            m = re.match(
                r"(?:(in)\s+)?(\d{1,2})\s+(\d{1,2})/(\d{1,2})\s+"
                r"(seconds?|minutes?|hours?|days?|weeks?|months?|years?)"
                r"(\s+(?:ago|earlier)|\s+from\s+now)?",
                s, re.I,
            )
            whole, num, den = int(m.group(2)), int(m.group(3)), int(m.group(4))
            unit = m.group(5).lower().rstrip("s")
            if den == 0 or num >= den:
                return None  # "2 3/2 years" is not a proper fraction
            total_num = whole * den + num  # value = total_num / den units
            moved_later = bool(m.group(1)) or (
                m.group(6) is not None and "now" in m.group(6).lower()
            )
            moved_earlier = (
                m.group(6) is not None and "now" not in m.group(6).lower()
            )
            if moved_later and moved_earlier:
                return None  # contradictory "in ... ago" fusion
            if moved_later or moved_earlier:
                sign = 1 if moved_later else -1
                return _frac_anchored(
                    total_num, den, unit, sign, anchor, anchor_dt
                )
            finer = {"year": (12, "M", ""), "month": (30, "D", ""),
                     "hour": (60, "M", "T"), "minute": (60, "S", "T")}
            if unit in finer:
                factor, code, t = finer[unit]
                scaled = total_num * factor
                if scaled % den == 0:
                    return f"P{t}{scaled // den}{code}"
            # decimal in the original unit when it terminates (den is a
            # product of 2s and 5s), else silent drop (O3)
            d = den
            while d % 2 == 0:
                d //= 2
            while d % 5 == 0:
                d //= 5
            if d != 1:
                return None
            frac = total_num / den
            t = "T" if unit in ("second", "minute", "hour") else ""
            return f"P{t}{frac:g}{unit[0].upper()}"
        if kind == "period_approx":
            # "[Period] or so" (APPROX, en.grammar:311) / "up to [Period]"
            # (EQUAL_OR_LESS, en.grammar:318): value = the period itself;
            # the mod attribute is outside the schema, dropped by the
            # WithModifier convention
            m = re.match(
                rf"(?:up\s+to\s+)?({_NUM_ALT})\s+(minutes?|hours?|days?|weeks?|months?|years?)",
                s, re.I,
            )
            n = _num(m.group(1))
            if n is None:
                return None
            return _period_value(n, m.group(2))
        if kind == "year_possessive":
            # "[TimeSpan]'s [FieldValue:Partial]" (en.grammar:476
            # FindEnclosed): the month / quarter / season inside the named
            # year; the possessor may also be a relative year ("this
            # year's third quarter"), resolved like rel_unit
            m = re.match(
                rf"(?:((?:19|20)\d{{2}})|(this|last|next|past|previous|current|coming|following)\s+year)\s*'\s*s\s+"
                rf"(?:({_MONTH_FULL_ALT})"
                r"|(first|second|third|fourth|1st|2nd|3rd|4th)[\s-]+quarter"
                r"|q([1-4])|(spring|summer|fall|autumn|winter))",
                s, re.I,
            )
            if m.group(1):
                year = int(m.group(1))
            else:
                year = anchor.year + {
                    "this": 0, "current": 0,
                    "last": -1, "past": -1, "previous": -1,
                    "next": 1, "coming": 1, "following": 1,
                }[m.group(2).lower()]
            if m.group(3):
                return _fmt_month(year, _MONTHS[m.group(3).lower()])
            if m.group(4) or m.group(5):
                q = (
                    int(m.group(5))
                    if m.group(5)
                    else _QUARTER_WORDS[m.group(4).lower()]
                )
                return f"{year:04d}-Q{q}"
            return f"{year:04d}-{_SEASONS[m.group(6).lower()][0]}"
        if kind == "unspecified_period":
            # Unspecified UNSPECIFIED (en.grammar:294-296): amount X +
            # unit char X (Temporal.scala:41)
            return "PX"
        if kind == "freq_set":
            m = re.match(
                rf"(?:(once|twice|thrice)|({_NUM_ALT})\s+times)\s+(?:an?|per)\s+"
                r"(minute|hour|day|week|month|year)",
                s, re.I,
            )
            # value = the base period; the 2X/3X freq attribute is outside
            # the output schema (dropped like the WithModifier mod)
            return _period_value(1, m.group(3))
        if kind == "suffix_modified":
            # "[year] or later/earlier", "and beyond/before": inner value,
            # ON_OR_AFTER/ON_OR_BEFORE mod outside the schema
            m = re.match(r"((?:19|20)\d{2})", s)
            return m.group(1)
        if kind == "weekday_tod_set":
            m = re.match(
                rf"({_WEEKDAY_ALT})\s+(mornings|afternoons|evenings|nights)",
                s, re.I,
            )
            part = {"mornings": "MO", "afternoons": "AF",
                    "evenings": "EV", "nights": "NI"}[m.group(2).lower()]
            return f"XXXX-WXX-{_WEEKDAYS[m.group(1).lower()] + 1}T{part}"
        if kind == "season_set":
            m = re.search(
                r"(spring|summer|fall|autumn|winter)s?\b|"
                r"(first|second|third|fourth)\s+quarters",
                s, re.I,
            )
            if m.group(1):
                return f"XXXX-{_SEASONS[m.group(1).lower()][0]}"
            return f"XXXX-Q{_QUARTER_WORDS[m.group(2).lower()]}"
        if kind == "tod_set":
            m = re.search(
                r"(morning|afternoon|evening|night)", s, re.I
            )
            part = {"morning": "MO", "afternoon": "AF", "evening": "EV",
                    "night": "NI"}[m.group(1).lower()]
            return f"XXXX-XX-XXT{part}"
        if kind == "bare_year":
            return f"{int(s):04d}"
        if kind == "quarter_year":
            m = re.match(
                r"(?:q([1-4])|(first|second|third|fourth|1st|2nd|3rd|4th)[\s-]+quarter(?:\s+of)?)\s+(\d{4})",
                s, re.I,
            )
            if not m:
                return None
            q = (
                int(m.group(1))
                if m.group(1)
                else _QUARTER_WORDS[m.group(2).lower()]
            )
            return f"{int(m.group(3)):04d}-Q{q}"
        if kind == "bare_quarter":
            # W7 over three candidate years, nearest quarter START to the
            # anchor (the quarter-granularity branch of TEP.scala:219-251)
            m = re.match(
                r"(?:the\s+)?(?:q([1-4])|(first|second|third|fourth|1st|2nd|3rd|4th)[\s-]+quarter)",
                s, re.I,
            )
            q = (
                int(m.group(1))
                if m.group(1)
                else _QUARTER_WORDS[m.group(2).lower()]
            )
            parses = [
                TimexParse(
                    f"{y:04d}-Q{q}", True, dt.date(y, 3 * (q - 1) + 1, 1), False
                )
                for y in (anchor.year - 1, anchor.year, anchor.year + 1)
            ]
            return rank_parses(parses, anchor)[0].value
        if kind == "week_of":
            inner = _parse_inner_date(s)
            if inner is None:
                hol = re.search(
                    r"(christmas|xmas|thanksgiving|halloween"
                    r"|easter(?:\s+sunday)?"
                    r"|new\s+year'?s?(?:\s+day)?)(?:\s+(\d{4}))?$",
                    s, re.I,
                )
                if hol:
                    name = re.sub(r"\s+", " ", hol.group(1).lower())
                    if name.startswith("easter"):
                        name = "easter"
                    if hol.group(2):
                        return _fmt_week(_holiday_date(name, int(hol.group(2))))
                    if anchor is None:
                        return None
                    parses = [
                        TimexParse(_fmt_day(d), True, d, False)
                        for y in (anchor.year - 1, anchor.year, anchor.year + 1)
                        for d in (_holiday_date(name, y),)
                    ]
                    return _fmt_week(dt.date.fromisoformat(
                        rank_parses(parses, anchor)[0].value
                    ))
            if inner is None:
                # year-less month-day inner: the month_day W7 route
                # (three candidate years, nearest day, invalid dates drop),
                # then the enclosing ISO week
                inner = _md_w7_pick(s, anchor)
                if inner is None:
                    return None
            return _fmt_week(inner)
        if kind == "season_year":
            m = re.match(
                r"(spring|summer|fall|autumn|winter)\s+(?:of\s+)?(\d{4})", s, re.I
            )
            return f"{int(m.group(2)):04d}-{_SEASONS[m.group(1).lower()][0]}"
        if kind == "decade":
            m = re.search(r"(\d+)0s", s)
            digits = m.group(1)
            if len(digits) == 3:          # 1990s -> 199X
                return f"{digits}X"
            if len(digits) == 1:          # '90s / 90s -> 199X; '20s -> 202X
                d = int(digits)
                return f"19{d}X" if d >= 4 else f"20{d}X"
            return None
        if kind == "century":
            # "19th century" -> "18" (years 1801-1900), en.grammar:370-374
            m = re.search(r"(\d{1,2})(?:st|nd|rd|th)", s)
            c = int(m.group(1))
            if not (1 <= c <= 99):
                return None
            return f"{c - 1:02d}"
        if kind == "modified":
            # strip the modifier (space- or [Nil]-dash-separated), re-detect
            # the inner expression, emit its value (the TimeML `mod`
            # attribute is outside our schema)
            m = re.match(
                r"(?:the\s+)?(early|mid|late|middle\s+of|about|around|almost"
                r"|post)[\s-]+(.*)$",
                s, re.I,
            )
            inner_txt = m.group(2)
            inner = detect_timexes(inner_txt)
            if inner:
                return normalize_timex(
                    inner[0]["surface"], inner[0]["kind"], anchor
                )
            # bare-month inner ("mid-june"): no standalone bare-month
            # pattern exists, so resolve the month here — W7 over three
            # candidate years, nearest month START to the anchor
            return _bare_month_w7(inner_txt, anchor)
        if kind == "period_set":
            m = re.match(
                rf"(?:every|each)\s+(?:(other)\s+|({_NUM_ALT})\s+)?(second|minute|hour|day|week|month|year)s?"
                r"|(hourly|daily|weekly|monthly|quarterly|yearly|annually)",
                s, re.I,
            )
            if m.group(4):
                adv = m.group(4).lower()
                if adv == "hourly":  # en.grammar:323
                    return "PT1H"
                unit = {
                    "daily": "D", "weekly": "W", "monthly": "M",
                    "quarterly": "Q",  # QUARTER_YEARS unit char, Temporal.scala:45
                    "yearly": "Y", "annually": "Y",
                }[adv]
                return f"P1{unit}"
            if m.group(1):  # "every other week" = every second week
                n = 2
            else:
                n = _num(m.group(2)) if m.group(2) else 1
            if n is None:
                return None
            return _period_value(n, m.group(3))
        if kind == "holiday":
            m = re.match(
                r"((?:christmas|xmas|thanksgiving)(?:\s+day)?"
                r"|halloween|election\s+day"
                r"|easter(?:\s+sunday)?"
                r"|new\s+year'?s?(?:\s+day)?)"
                r"(?:\s+(?:of\s+)?(\d{4}))?",
                s, re.I,
            )
            name = re.sub(r"\s+", " ", m.group(1).lower())
            # "[TimeSpan] [Unit]": the unit word widens the span, the
            # value is the holiday's own day
            name = re.sub(r"^(christmas|xmas|thanksgiving) day$", r"\1", name)
            if name.startswith("easter"):
                name = "easter"
            if m.group(2):
                return _fmt_day(_holiday_date(name, int(m.group(2))))
            if anchor is None:
                return None
            parses = [
                TimexParse(_fmt_day(d), True, d, False)
                for y in (anchor.year - 1, anchor.year, anchor.year + 1)
                for d in (_holiday_date(name, y),)
            ]
            return rank_parses(parses, anchor)[0].value
        if kind == "word_year":
            # "nineteen ninety-nine" -> 1999, "twenty sixteen" -> 2016,
            # "nineteen hundred" -> 1900
            m = re.match(
                rf"(nineteen|twenty)[\s-]+"
                rf"((?:{_TENS_ALT})(?:[\s-](?:{_UNIT_ALT}))?|{_TEEN_ALT}|hundred)",
                s, re.I,
            )
            century = {"nineteen": 19, "twenty": 20}[m.group(1).lower()]
            tail = m.group(2).lower()
            rest = 0 if tail == "hundred" else _num(tail)
            if rest is None:
                return None
            return f"{century * 100 + rest:04d}"
        if kind == "frac_period":
            # bare fraction -> duration value (documented spec): the half
            # converts to the next finer unit where that stays integral —
            # years -> months (P18M for "a year and a half"), months ->
            # days (30-day month, the timenorm conversion convention) —
            # else ISO-8601 decimal in the smallest component (P2.5W,
            # P1.5D). An "in" prefix / ago / "from now" suffix composes
            # the fraction through MoveEarlier/MoveLater (en.grammar:
            # 411,416) into an anchored point at the granularity the half
            # converts to integrally — year fractions land on a month,
            # month fractions on a day, day/hour/minute fractions on the
            # full timestamp (truncated hour / minute / second); week
            # fractions have no integral finer calendar unit (the P2.5W
            # convention), so the anchored form silently drops (O3)
            m = re.match(
                rf"(?:(in)\s+)?"
                rf"(?:({_NUM_ALT})\s+and\s+a\s+half\s+(minutes?|hours?|days?|weeks?|months?|years?)"
                rf"|({_NUM_ALT})\s+(minutes?|hours?|days?|weeks?|months?|years?)\s+and\s+a\s+half)"
                r"(\s+(?:ago|earlier)|\s+from\s+now)?",
                s, re.I,
            )
            if m.group(2):
                n, unit = _num(m.group(2)), m.group(3).lower().rstrip("s")
            else:
                n, unit = _num(m.group(4)), m.group(5).lower().rstrip("s")
            if n is None:
                return None
            moved_later = bool(m.group(1)) or (
                m.group(6) is not None and "now" in m.group(6).lower()
            )
            moved_earlier = m.group(6) is not None and "now" not in m.group(6).lower()
            if moved_later and moved_earlier:
                # contradictory fusion ("in two hours and a half ago") —
                # drop rather than emit a confidently wrong direction (O3)
                return None
            if moved_later or moved_earlier:
                # n-and-a-half = (2n+1)/2 units through the shared
                # fractional-anchor helper (minute fractions land on
                # seconds, which the helper also serves)
                sign = 1 if moved_later else -1
                return _frac_anchored(
                    2 * n + 1, 2, unit, sign, anchor, anchor_dt
                )
            if unit == "year":
                return f"P{12 * n + 6}M"
            if unit == "month":
                return f"P{30 * n + 15}D"
            if unit == "hour":  # hours -> minutes stays integral
                return f"PT{60 * n + 30}M"
            if unit == "minute":  # minutes -> seconds stays integral
                return f"PT{60 * n + 30}S"
            return f"P{n}.5{unit[0].upper()}"
        if kind == "half_unit":
            m = re.match(
                r"(?:(in)\s+)?(?:half\s+an?|an?\s+half)[\s-]+"
                r"(minute|hour|day|week|month|year)"
                r"(\s+(?:ago|earlier))?",
                s, re.I,
            )
            unit = m.group(2).lower()
            if m.group(1) and m.group(3):
                # contradictory fusion ("in half an hour ago") — drop
                # rather than emit a confidently wrong direction (O3)
                return None
            if m.group(1) or m.group(3):
                # anchored MoveEarlier/MoveLater on the FULL timestamp;
                # only the sub-day halves compute ("half an hour ago",
                # "in half an hour"), coarser halves silently drop (O3)
                if anchor_dt is None or unit not in ("hour", "minute"):
                    return None
                sign = 1 if m.group(1) else -1
                if unit == "hour":
                    return (
                        anchor_dt + sign * dt.timedelta(minutes=30)
                    ).strftime("%Y-%m-%dT%H:%M")
                return (
                    anchor_dt + sign * dt.timedelta(seconds=30)
                ).strftime("%Y-%m-%dT%H:%M:%S")
            # bare fraction: the half of the next finer unit where that
            # stays integral (the frac_period convention)
            return {"minute": "PT30S", "hour": "PT30M", "day": "PT12H",
                    "week": "P0.5W", "month": "P15D", "year": "P6M"}[unit]
        if kind == "span_set":
            m = re.match(
                rf"(?:each|every)\s+((?:{_MONTH_FULL_ALT})|(?:{_WEEKDAY_ALT})|weekend)",
                s, re.I,
            )
            word = m.group(1).lower()
            if word == "weekend":
                # recurring weekend set (each [Partial] over the
                # WeekendOfWeek field, en.grammar:526+151)
                return "XXXX-WXX-WE"
            if word in _WEEKDAYS:
                # TimeML recurring weekday: XXXX-WXX-D, ISO day number 1-7
                return f"XXXX-WXX-{_WEEKDAYS[word] + 1}"
            return f"XXXX-{_MONTHS[word]:02d}"
        if kind == "tod_of_date":
            m = re.match(
                r"(?:the\s+)?(?:(?:early|mid|late)[\s-]+)?(morning|afternoon|evening|night)\s+of\s+(.+)$",
                s, re.I,
            )
            inner = _parse_inner_date(m.group(2))
            if inner is None:
                # year-less month-day inner: the month_day W7 route
                inner = _md_w7_pick(m.group(2), anchor)
            if inner is None:
                return None
            part = {"morning": "MO", "afternoon": "AF", "evening": "EV",
                    "night": "NI"}[m.group(1).lower()]
            return f"{inner.isoformat()}T{part}"
        if kind == "weekday_date":
            m = re.match(rf"({_WEEKDAY_ANY_ALT})\s*,?\s+(.+)$", s, re.I)
            target = _WEEKDAYS_ANY[m.group(1).lower()]
            inner_txt = m.group(2)
            inner = _parse_inner_date(inner_txt)
            if inner is not None:
                # an explicit year / slash / ISO date governs; a
                # mismatched weekday word does not override it (recall
                # over drop — the date is the informative part)
                return _fmt_day(inner)
            if anchor is None:
                return None
            mm = re.search(
                rf"({_MONTH_ALT})\.?\s+(\d{{1,2}})(?:st|nd|rd|th)?\b",
                inner_txt, re.I,
            )
            if not mm:
                return None
            month, day = _MONTHS[mm.group(1).lower()], int(mm.group(2))
            # the weekday field CONSTRAINS the year search: nearest
            # candidate year where the month-day falls on that weekday.
            # +-14 years: ordinary dates hit every weekday within <= 12
            # years, but Feb 29 weekdays run a 28-year cycle — a +-6
            # window would miss e.g. "friday february 29" entirely and
            # the fallback would emit a contradicting weekday
            parses = []
            for y in range(anchor.year - 14, anchor.year + 15):
                try:
                    d = dt.date(y, month, day)
                except ValueError:
                    continue
                if d.weekday() == target:
                    parses.append(TimexParse(_fmt_day(d), True, d, False))
            if not parses:
                pick = _md_w7_pick(inner_txt, anchor)
                return _fmt_day(pick) if pick is not None else None
            return rank_parses(parses, anchor)[0].value
        if kind == "period_offset_date":
            m = re.match(
                rf"(?:({_NUM_ALT})\s+(days?|weeks?|months?|years?)"
                r"|(?:the\s+)?(day|week|month|year))\s+"
                r"(before|after)\s+(.+)$",
                s, re.I,
            )
            if m.group(3):
                # "the day before X" = Simple(Int 1) (en.grammar:413-414)
                n, unit_word = 1, m.group(3)
            else:
                n, unit_word = _num(m.group(1)), m.group(2)
            if n is None:
                return None
            inner_txt = m.group(5)
            inner = _parse_inner_date(inner_txt)
            if inner is None:
                # holiday inner: an explicit trailing year pins it ("two
                # days before christmas 2020"); otherwise W7
                # nearest-anniversary against the anchor
                hol = re.match(
                    r"(christmas|xmas|halloween|thanksgiving"
                    r"|easter(?:\s+sunday)?"
                    r"|new\s+year'?s?(?:\s+day)?)(?:\s+(\d{4}))?$",
                    inner_txt, re.I,
                )
                if hol and hol.group(2):
                    name = re.sub(r"\s+", " ", hol.group(1).lower())
                    if name.startswith("easter"):
                        name = "easter"
                    inner = _holiday_date(name, int(hol.group(2)))
                elif hol and anchor is not None:
                    name = re.sub(r"\s+", " ", hol.group(1).lower())
                    if name.startswith("easter"):
                        name = "easter"
                    parses = [
                        TimexParse(_fmt_day(d), True, d, False)
                        for y in (anchor.year - 1, anchor.year, anchor.year + 1)
                        for d in (_holiday_date(name, y),)
                    ]
                    inner = dt.date.fromisoformat(
                        rank_parses(parses, anchor)[0].value
                    )
            if inner is None and anchor is not None:
                # weekday inner — resolved exactly like rel_weekday /
                # the bare-weekday W7 ("the day before last tuesday",
                # en.grammar:413-414)
                wm = re.match(
                    rf"(?:(last|next|following|preceding|coming|past|previous|this|that)\s+)?"
                    rf"({_WEEKDAY_ALT})$",
                    inner_txt, re.I,
                )
                if not wm:
                    return None
                target = _WEEKDAYS[wm.group(2).lower()]
                word = (wm.group(1) or "").lower()
                if word:
                    # rel-prefixed inner: same resolution as the
                    # standalone rel_weekday (shared helper)
                    inner = _rel_weekday_date(word, target, anchor)
                else:
                    # bare weekday: W7 nearest occurrence
                    back = (anchor.weekday() - target) % 7
                    fwd = (target - anchor.weekday()) % 7
                    parses = [
                        TimexParse(_fmt_day(d), True, d, False)
                        for d in (
                            anchor - dt.timedelta(days=back),
                            anchor + dt.timedelta(days=fwd),
                        )
                    ]
                    inner = dt.date.fromisoformat(
                        rank_parses(parses, anchor)[0].value
                    )
            if inner is None:
                return None
            sign = -1 if m.group(4).lower() == "before" else 1
            unit = unit_word.lower().rstrip("s")
            if unit == "day":
                return _fmt_day(inner + dt.timedelta(days=sign * n))
            if unit == "week":
                return _fmt_day(inner + dt.timedelta(days=7 * sign * n))
            if unit == "month":
                y, mo = _shift_month(inner.year, inner.month, sign * n)
                day = min(inner.day, _days_in_month(y, mo))
                return _fmt_day(dt.date(y, mo, day))
            # years: same calendar day, clamped for Feb 29
            y = inner.year + sign * n
            day = min(inner.day, _days_in_month(y, inner.month))
            return _fmt_day(dt.date(y, inner.month, day))
        if kind == "past_ref":
            return "PAST_REF"
        if kind == "future_ref":
            return "FUTURE_REF"
        if kind == "present_ref":
            return "PRESENT_REF"
        if kind == "bound_unit":
            # value = the inner TimeSpan's value (WithModifier START/END,
            # mod dropped). Bare "of the [Unit]" / "[Unit] end" = the
            # anchor's enclosing unit (anchored); pinned inners ("end of
            # june 2020", "end of 2022") resolve even on anchorless turns,
            # matching their standalone kinds
            mm = re.match(
                r"(?:the\s+)?(?:beginning|start|end)\s+of\s+(.+)$", s, re.I
            )
            inner_txt = mm.group(1) if mm else None
            if inner_txt is None or re.fullmatch(
                r"(?:the\s+)?(week|month|year|quarter)", inner_txt, re.I
            ):
                if anchor is None:
                    return None
                m = re.search(r"(week|month|year|quarter)", s, re.I)
                unit = m.group(1).lower()
                if unit == "week":
                    return _fmt_week(anchor)
                if unit == "month":
                    return _fmt_month(anchor.year, anchor.month)
                if unit == "quarter":
                    return f"{anchor.year:04d}-Q{(anchor.month - 1) // 3 + 1}"
                return f"{anchor.year:04d}"
            inner = detect_timexes(inner_txt)
            if inner:
                return normalize_timex(
                    inner[0]["surface"], inner[0]["kind"], anchor
                )
            # bare-month inner: W7 nearest month start, as in 'modified'
            return _bare_month_w7(inner_txt, anchor)
        if kind in ("date_at_time", "date_at_time_word"):
            calt = _CLOCK_AT_ALT if kind == "date_at_time" else _CLOCK_WORD_ALT
            m = re.match(
                rf"(?:({_DATE_AT_ALT})\s+at\s+({calt})"
                rf"|(?:at\s+)?({calt})\s+(?:on\s+)?({_DATE_AT_ALT}))$",
                s, re.I,
            )
            if m.group(1):
                date_txt, clock_txt = m.group(1), m.group(2)
            else:
                date_txt, clock_txt = m.group(4), m.group(3)
            det = detect_timexes(date_txt)
            if not det:
                return None
            dval = normalize_timex(
                det[0]["surface"], det[0]["kind"], anchor_dt or anchor
            )
            if dval is None:
                return None
            # a TOD-valued inner ("tomorrow morning") contributes its DAY;
            # the clock is the finer granularity. An invalid clock
            # fragment ("at 13 pm tomorrow") degrades to the DATE value
            # rather than losing the whole span (the date was a valid
            # standalone timex before composition)
            day = dval.split("T")[0]
            hm = _clock_hm(clock_txt)
            if hm is None or not _DAY_VAL_RE.match(day):
                return dval
            return f"{day}T{hm}"
        if kind == "unit_of":
            m = re.match(
                rf"(?:the\s+)?(?:month\s+of\s+({_MONTH_FULL_ALT})"
                r"(?:\s+(last|next|this|coming|following)\s+year"
                r"|\s+(?:of\s+)?(\d{4}))?"
                r"|year\s+(?:of\s+)?(\d{4}))",
                s, re.I,
            )
            if m.group(4):
                return f"{int(m.group(4)):04d}"
            month_word = m.group(1).lower()
            if m.group(3):
                return _fmt_month(int(m.group(3)), _MONTHS[month_word])
            if m.group(2):
                if anchor is None:
                    return None
                delta = {"last": -1, "next": 1, "this": 0,
                         "coming": 1, "following": 1}[m.group(2).lower()]
                return _fmt_month(anchor.year + delta, _MONTHS[month_word])
            return _bare_month_w7(month_word, anchor)
        if kind == "mod_in_span":
            m = re.match(
                r"(?:(?:earlier|later)\s+in|part\s+of)\s+"
                r"(?:(?:the\s+)?(week|month|year|quarter)"
                r"|((?:19|20)\d{2}))",
                s, re.I,
            )
            if m.group(2):
                return m.group(2)
            if anchor is None:
                return None
            unit = m.group(1).lower()
            if unit == "week":
                return _fmt_week(anchor)
            if unit == "month":
                return _fmt_month(anchor.year, anchor.month)
            if unit == "quarter":
                return f"{anchor.year:04d}-Q{(anchor.month - 1) // 3 + 1}"
            return f"{anchor.year:04d}"
        # everything below is anchored arithmetic
        if anchor is None:
            return None
        if kind == "rel_day":
            w = s.lower()
            delta = {"yesterday": -1, "today": 0, "tomorrow": 1}[w]
            return _fmt_day(anchor + dt.timedelta(days=delta))
        if kind == "weekend":
            # weekend of the anchor's week, shifted by last/next; bare
            # "the weekend" = the enclosing week's weekend (en.grammar:381
            # FindEnclosing-PRESENT analog)
            m = re.match(
                r"(last|next|this|that|past|the|previous|coming)\s+weekend",
                s, re.I,
            )
            delta = {"last": -1, "next": 1, "this": 0, "that": 0, "the": 0,
                     "past": -1, "previous": -1, "coming": 1}[m.group(1).lower()]
            return _fmt_week(anchor + dt.timedelta(days=7 * delta)) + "-WE"
        if kind == "rel_unit":
            m = re.match(
                r"(?:the\s+)?(last|next|this|following|preceding|coming|past"
                r"|previous|current|latest|that)\s+"
                r"(hour|day|week|month|year|quarter)",
                s, re.I,
            )
            direction = {
                "last": -1, "next": 1, "this": 0,
                "following": 1, "preceding": -1, "coming": 1, "past": -1,
                "previous": -1, "current": 0, "latest": -1, "that": 0,
            }[m.group(1).lower()]
            unit = m.group(2).lower()
            if unit == "hour":
                # sub-day enclosing unit: needs the full timestamp
                if anchor_dt is None:
                    return None
                return (anchor_dt + dt.timedelta(hours=direction)).strftime(
                    "%Y-%m-%dT%H"
                )
            if unit == "day":
                return _fmt_day(anchor + dt.timedelta(days=direction))
            if unit == "week":
                return _fmt_week(anchor + dt.timedelta(days=7 * direction))
            if unit == "month":
                y, mo = _shift_month(anchor.year, anchor.month, direction)
                return _fmt_month(y, mo)
            if unit == "quarter":
                qi = (anchor.year * 4) + (anchor.month - 1) // 3 + direction
                return f"{qi // 4:04d}-Q{qi % 4 + 1}"
            return f"{anchor.year + direction:04d}"
        if kind in ("ago", "in_n", "from_now"):
            m = re.match(
                rf"(?:in\s+)?({_NUM_ALT}|{_VAGUE_ALT})\s+"
                r"(seconds?|minutes?|hours?|days?|weeks?|months?|years?|decades?|century|centuries)(?:\s+ago)?",
                s,
                re.I,
            )
            n = _num(m.group(1))
            if n is None:
                # several/few: MoveEarlier/MoveLater by an Unspecified
                # period — only the direction is computable
                if re.fullmatch(_VAGUE_ALT, m.group(1), re.I):
                    return "PAST_REF" if kind == "ago" else "FUTURE_REF"
                return None
            sign = -1 if kind == "ago" else 1  # in_n / from_now move later
            unit = m.group(2).lower().rstrip("s")
            if unit in ("hour", "minute", "second"):
                # MoveEarlier/MoveLater on the FULL timestamp, value
                # truncated to the period's granularity (timenorm
                # convention); date-only anchors silently drop (O3)
                if anchor_dt is None:
                    return None
                shifted = anchor_dt + dt.timedelta(
                    **{unit + "s": sign * n}
                )
                fmt = {"hour": "%Y-%m-%dT%H", "minute": "%Y-%m-%dT%H:%M",
                       "second": "%Y-%m-%dT%H:%M:%S"}[unit]
                return shifted.strftime(fmt)
            if unit == "day":
                return _fmt_day(anchor + dt.timedelta(days=sign * n))
            if unit == "week":
                return _fmt_week(anchor + dt.timedelta(days=7 * sign * n))
            if unit == "month":
                y, mo = _shift_month(anchor.year, anchor.month, sign * n)
                return _fmt_month(y, mo)
            if unit == "decade":
                return f"{anchor.year + sign * 10 * n:04d}"
            if unit in ("century", "centurie"):  # 'centuries'.rstrip('s')
                return f"{anchor.year + sign * 100 * n:04d}"
            return f"{anchor.year + sign * n:04d}"
        if kind == "ago_partial":
            # "[Period] ago [FieldValue:Partial]" (en.grammar:417-418
            # FindEnclosed over MoveEarlier — "a year ago january", "the
            # year-ago third quarter"): the named month / quarter / season
            # inside the year lying n years before the anchor's (n = 1
            # when the count is elided)
            m = re.match(
                rf"(?:the\s+)?(?:({_NUM_ALT})\s+)?years?[\s-]+ago\s+"
                rf"(?:({_MONTH_FULL_ALT})"
                r"|(?:the\s+)?(?:q([1-4])|(first|second|third|fourth|1st|2nd|3rd|4th)[\s-]+quarter)"
                r"|(spring|summer|fall|autumn|winter))",
                s, re.I,
            )
            n = _num(m.group(1)) if m.group(1) else 1
            if n is None:
                return None
            year = anchor.year - n
            if m.group(2):
                return _fmt_month(year, _MONTHS[m.group(2).lower()])
            if m.group(3) or m.group(4):
                q = (
                    int(m.group(3))
                    if m.group(3)
                    else _QUARTER_WORDS[m.group(4).lower()]
                )
                return f"{year:04d}-Q{q}"
            return f"{year:04d}-{_SEASONS[m.group(5).lower()][0]}"
        if kind == "unit_enclosing":
            m = re.match(
                rf"(?:the\s+)?(week|month|quarter|period)\s+"
                rf"(?:({_NUM_ALT})\s+(days?|weeks?|months?|years?)\s+ago"
                r"|(last|this|next)\s+(week|month|year))",
                s, re.I,
            )
            outer = m.group(1).lower()
            if outer == "period":
                # granularity-less outer: the inner TimeSpan's own value,
                # span widened over the unit word
                inner = detect_timexes(s[m.end(1):].strip())
                if not inner:
                    return None
                return normalize_timex(
                    inner[0]["surface"], inner[0]["kind"], anchor
                )
            # inner START instant; the outer value is the calendar unit
            # enclosing it (FindEnclosing, en.grammar:466-470)
            if m.group(2):
                n = _num(m.group(2))
                if n is None:
                    return None
                u = m.group(3).lower().rstrip("s")
                if u == "day":
                    start = anchor - dt.timedelta(days=n)
                elif u == "week":
                    start = anchor - dt.timedelta(days=7 * n)
                elif u == "month":
                    y, mo = _shift_month(anchor.year, anchor.month, -n)
                    start = dt.date(y, mo, min(anchor.day, _days_in_month(y, mo)))
                else:
                    y = anchor.year - n
                    start = dt.date(
                        y, anchor.month,
                        min(anchor.day, _days_in_month(y, anchor.month)),
                    )
            else:
                delta = {"last": -1, "this": 0, "next": 1}[m.group(4).lower()]
                u = m.group(5).lower()
                if u == "week":
                    d = anchor + dt.timedelta(weeks=delta)
                    start = d - dt.timedelta(days=d.weekday())
                elif u == "month":
                    y, mo = _shift_month(anchor.year, anchor.month, delta)
                    start = dt.date(y, mo, 1)
                else:
                    start = dt.date(anchor.year + delta, 1, 1)
            if outer == "week":
                return _fmt_week(start)
            if outer == "month":
                return _fmt_month(start.year, start.month)
            return f"{start.year:04d}-Q{(start.month - 1) // 3 + 1}"
        if kind == "mod_tod":
            m = re.search(r"(morning|afternoon|evening|night)", s, re.I)
            part = {"morning": "MO", "afternoon": "AF",
                    "evening": "EV", "night": "NI"}[m.group(1).lower()]
            return f"{anchor.isoformat()}T{part}"
        if kind == "tod_rel_day":
            m = re.match(
                r"(?:(?:early|mid|late)[\s-]+)?"
                r"(morning|afternoon|evening|night)\s+"
                r"(yesterday|today|tomorrow)",
                s, re.I,
            )
            part = {"morning": "MO", "afternoon": "AF",
                    "evening": "EV", "night": "NI"}[m.group(1).lower()]
            delta = {"yesterday": -1, "today": 0,
                     "tomorrow": 1}[m.group(2).lower()]
            return (anchor + dt.timedelta(days=delta)).isoformat() + "T" + part
        if kind == "day_offset":
            m = re.match(
                r"(?:the\s+)?day\s+(before|after)\s+(yesterday|tomorrow)", s, re.I
            )
            base = {"yesterday": -1, "tomorrow": 1}[m.group(2).lower()]
            shift = {"before": -1, "after": 1}[m.group(1).lower()]
            return _fmt_day(anchor + dt.timedelta(days=base + shift))
        if kind == "clock_time":
            m = re.match(r"(?:at\s+)?(.+)$", s, re.I)
            hm = _clock_hm(m.group(1))
            if hm is None:
                return None
            return f"{anchor.isoformat()}T{hm}"
        if kind == "clock_24h":
            m = re.match(r"(?:at\s+)?(\d{1,2}):(\d{2})(?::(\d{2}))?", s)
            val = f"{anchor.isoformat()}T{int(m.group(1)):02d}:{m.group(2)}"
            if m.group(3):
                val += f":{m.group(3)}"
            return val
        if kind == "hour_ampm_word":
            m = re.match(r"(?:at\s+)?(.+)$", s, re.I)
            hm = _clock_hm(m.group(1))
            if hm is None:
                return None
            return f"{anchor.isoformat()}T{hm}"
        if kind == "month_rel_year":
            # "January last year" (en.grammar:416,434)
            m = re.match(
                rf"(?:({_MONTH_FULL_ALT})|({_MONTH_ABBR_ALT})\.?)\s+"
                r"(last|next|this)\s+year",
                s, re.I,
            )
            month_word = (m.group(1) or m.group(2)).lower()
            direction = {"last": -1, "next": 1, "this": 0}[m.group(3).lower()]
            return _fmt_month(anchor.year + direction, _MONTHS[month_word])
        if kind == "word_decade":
            # most recent such decade at or before the anchor
            # (FindAtOrEarlier, en.grammar:453-460)
            m = re.search(
                r"(twenties|thirties|forties|fifties|sixties|seventies"
                r"|eighties|nineties)",
                s, re.I,
            )
            d = _WORD_DECADES[m.group(1).lower()]
            cc = 20 if anchor.year >= 2000 + d * 10 else 19
            return f"{cc}{d}X"
        if kind == "noon_midnight":
            m = re.search(r"(noon|midday|midnight)", s, re.I)
            return f"{anchor.isoformat()}T{_clock_hm(m.group(1))}"
        if kind == "rel_weekday":
            m = re.match(
                rf"(last|next|following|preceding|coming|past|previous|this|that)\s+({_WEEKDAY_ANY_ALT})",
                s, re.I,
            )
            target = _WEEKDAYS_ANY[m.group(2).lower()]
            return _fmt_day(
                _rel_weekday_date(m.group(1).lower(), target, anchor)
            )
        if kind == "month_day":
            # W7 proper via the shared helper: three candidate years,
            # nearest start to the anchor wins (TEP.scala:238-243);
            # invalid dates (Feb 29 off-leap) drop out of the candidates
            d = _md_w7_pick(s, anchor)
            return _fmt_day(d) if d is not None else None
        if kind == "rel_season":
            m = re.match(
                r"(last|past|next|this|that|previous|coming|following)\s+"
                r"(spring|summer|fall|autumn|winter)",
                s, re.I,
            )
            code, start_month = _SEASONS[m.group(2).lower()]
            # label year of the instance containing/nearest the anchor:
            # Jan/Feb belong to the PREVIOUS label's winter
            this_label = anchor.year
            if code == "WI" and anchor.month < 3:
                this_label -= 1
            word = {"previous": "last", "past": "last", "coming": "next",
                    "following": "next", "that": "this"}.get(
                m.group(1).lower(), m.group(1).lower()
            )
            if word == "this":
                label = this_label
            elif word == "last":
                # latest instance that ENDS strictly before the anchor
                label = this_label if _season_end(this_label, code) < anchor else this_label - 1
            else:
                # earliest instance that STARTS strictly after the anchor
                label = this_label if dt.date(this_label, start_month, 1) > anchor else this_label + 1
            return f"{label:04d}-{code}"
        if kind == "rel_month":
            m = re.match(
                rf"(?:(last|previous|next|coming|following)\s+({_MONTH_FULL_ALT})"
                rf"|(this|that|past)\s+({_MONTH_FULL_NO_MAY_ALT}|may))"
                rf"(?:\s+(\d{{1,2}})(?:st|nd|rd|th)?\b)?",
                s, re.I,
            )
            word = (m.group(1) or m.group(3)).lower()
            month = _MONTHS[(m.group(2) or m.group(4)).lower()]
            if m.group(5):
                # MonthDay partial: FindEarlier/FindLater over the DAY
                # ("next january 1st" -> next year's Jan 1, never a past
                # date). The year search walks until the date EXISTS
                # ("next february 29" must find 2028, not die on 2025);
                # impossible days (Feb 30) exhaust the walk and drop
                day = int(m.group(5))
                if word in ("this", "that"):
                    return _fmt_day(dt.date(anchor.year, month, day))
                step = -1 if word in ("last", "past", "previous") else 1
                for y in range(anchor.year, anchor.year + step * 9, step):
                    try:
                        d0 = dt.date(y, month, day)
                    except ValueError:
                        continue
                    if (step < 0 and d0 < anchor) or (step > 0 and d0 > anchor):
                        return _fmt_day(d0)
                return None
            if word in ("this", "that"):
                # AllowsThis: the anchor year's instance (en.grammar:389)
                return _fmt_month(anchor.year, month)
            if word in ("last", "past", "previous"):
                # latest instance ENDING strictly before the anchor (the
                # rel_season convention; the anchor's own month is not
                # strictly earlier)
                year = anchor.year if month < anchor.month else anchor.year - 1
                return _fmt_month(year, month)
            # earliest instance STARTING strictly after the anchor
            year = anchor.year if month > anchor.month else anchor.year + 1
            return _fmt_month(year, month)
        if kind == "time_of_day":
            m = re.match(
                r"(?:(this|tomorrow|yesterday)\s+(morning|afternoon|evening)"
                r"|(last|tomorrow|yesterday)\s+(night)|(tonight)|(overnight))",
                s, re.I,
            )
            if m.group(5) or m.group(6):  # tonight / overnight
                word, part = "this", "NI"
            elif m.group(4):
                word = m.group(3).lower()
                part = "NI"
            else:
                word = m.group(1).lower()
                part = {"morning": "MO", "afternoon": "AF", "evening": "EV"}[
                    m.group(2).lower()
                ]
            delta = {"this": 0, "tomorrow": 1, "yesterday": -1, "last": -1}[word]
            return (anchor + dt.timedelta(days=delta)).isoformat() + "T" + part
        if kind == "partial_rel_unit":
            # FindEnclosed([Partial], this/last/next [Unit]): resolve the
            # enclosing unit relative to the anchor, then the partial
            # inside it (en.grammar:391,416,434)
            m = re.match(
                rf"(?:({_WEEKDAY_ALT})\s+(this|last|next)\s+week"
                r"|(?:(?:the\s+)?(?:q([1-4])|(first|second|third|fourth|1st|2nd|3rd|4th)[\s-]+quarter)"
                r"|(spring|summer|fall|autumn|winter))\s+(this|last|next)\s+year)",
                s, re.I,
            )
            delta = {"this": 0, "last": -1, "next": 1}
            if m.group(1):
                # the weekday inside the anchor-relative ISO week
                wy, ww, _ = (
                    anchor + dt.timedelta(weeks=delta[m.group(2).lower()])
                ).isocalendar()
                d = dt.date.fromisocalendar(
                    wy, ww, _WEEKDAYS[m.group(1).lower()] + 1
                )
                return d.isoformat()
            year = anchor.year + delta[m.group(6).lower()]
            if m.group(3) or m.group(4):
                q = (
                    int(m.group(3))
                    if m.group(3)
                    else _QUARTER_WORDS[m.group(4).lower()]
                )
                return f"{year:04d}-Q{q}"
            return f"{year:04d}-{_SEASONS[m.group(5).lower()][0]}"
        if kind == "weekday_tod":
            # W7-resolved weekday date (same two-candidate rank as the bare
            # weekday) + the FindEnclosed part of day (en.grammar:471-472);
            # a rel prefix pins the weekday exactly like rel_weekday
            # (strictly previous / strictly next occurrence; this/that =
            # the current ISO week's occurrence)
            m = re.match(
                r"(?:(last|next|following|preceding|coming|past|previous|this|that)\s+)?"
                rf"({_WEEKDAY_ANY_ALT})\s+(morning|afternoon|evening|night)",
                s, re.I,
            )
            part = {"morning": "MO", "afternoon": "AF",
                    "evening": "EV", "night": "NI"}[m.group(3).lower()]
            target = _WEEKDAYS_ANY[m.group(2).lower()]
            if m.group(1):
                day = _rel_weekday_date(m.group(1).lower(), target, anchor)
                return _fmt_day(day) + "T" + part
            back = (anchor.weekday() - target) % 7
            fwd = (target - anchor.weekday()) % 7
            parses = [
                TimexParse(_fmt_day(d), True, d, False)
                for d in (
                    anchor - dt.timedelta(days=back),
                    anchor + dt.timedelta(days=fwd),
                )
            ]
            return rank_parses(parses, anchor)[0].value + "T" + part
        if kind == "weekday":
            # W7: a bare weekday parses ambiguously (previous vs next
            # occurrence); both parses go through the reference's full
            # disambiguation heuristic (rank_parses, TEP.scala:219-251) —
            # for two same-granularity TimeSpans this reduces to
            # nearest-start-to-anchor. Same weekday as the anchor ->
            # distance 0 -> the anchor day itself; otherwise back+fwd = 7,
            # so the minimum is unique and deterministic.
            target = _WEEKDAYS[s.lower()]
            back = (anchor.weekday() - target) % 7
            fwd = (target - anchor.weekday()) % 7
            parses = [
                TimexParse(_fmt_day(d), True, d, False)
                for d in (
                    anchor - dt.timedelta(days=back),
                    anchor + dt.timedelta(days=fwd),
                )
            ]
            return rank_parses(parses, anchor)[0].value
    except (ValueError, KeyError, AttributeError):
        return None
    return None


_WORD_DECADES = {
    "twenties": 2, "thirties": 3, "forties": 4, "fifties": 5,
    "sixties": 6, "seventies": 7, "eighties": 8, "nineties": 9,
}

_QUARTER_WORDS = {
    "first": 1, "1st": 1, "second": 2, "2nd": 2,
    "third": 3, "3rd": 3, "fourth": 4, "4th": 4,
}


class TimexParse(NamedTuple):
    """One candidate parse of an ambiguous surface (W7).

    value        TimeML value the parse would emit
    is_timespan  True for TimeSpan parses, False for Period/duration parses
    start        interval start date (None for Periods)
    is_quarter   True when the parse's granularity is quarter-years
    """

    value: str
    is_timespan: bool
    start: Optional[dt.date]
    is_quarter: bool


def rank_parses(
    parses: List[TimexParse],
    anchor: dt.date,
    anchor_is_quarter: bool = False,
) -> List[TimexParse]:
    """W7 in full: order ambiguous parses by the reference's tweaked
    heuristic (TemporalExpressionParser.scala:219-251):

    1. any TimeSpan parse beats any Period parse;
    2. between TimeSpans, when the ANCHOR has quarter granularity, a
       quarter-granularity parse beats a non-quarter one;
    3. otherwise the TimeSpan whose start is nearest the anchor wins.

    In the main pipeline the anchor is always a calendar day, so branch 2 is
    inert there; it is exercised directly by the differential tests. The
    sort is stable, so equal-distance candidates keep input order (matching
    Scala's sorted + fromLessThan semantics)."""

    def key(p: TimexParse):
        if not p.is_timespan:
            return (1, 0, 0)
        quarter_rank = (
            0 if (anchor_is_quarter and p.is_quarter)
            else (1 if anchor_is_quarter else 0)
        )
        dist = abs((p.start - anchor).days) if p.start is not None else 0
        return (0, quarter_rank, dist)

    return sorted(parses, key=key)

# season -> (TimeML code, start month). Meteorological boundaries (documented
# spec): SP Mar-May, SU Jun-Aug, FA Sep-Nov, WI Dec-Feb of the NEXT calendar
# year (the label year is the December year, TIMEX3 convention).
_SEASONS = {
    "spring": ("SP", 3), "summer": ("SU", 6),
    "fall": ("FA", 9), "autumn": ("FA", 9), "winter": ("WI", 12),
}
_SEASON_BOUNDS = {"SP": (3, 5), "SU": (6, 8), "FA": (9, 11), "WI": (12, 2)}


def _holiday_date(name: str, year: int) -> dt.date:
    """Fixed-date holidays + thanksgiving (4th Thursday of November) +
    election day (first Tuesday of November — the grammar's
    ALIGNED_WEEK_OF_MONTH 1 rule, en.grammar:225, which the reference uses
    in place of the statutory first-Tuesday-after-first-Monday)."""
    if name in ("christmas", "xmas"):
        return dt.date(year, 12, 25)
    if name == "halloween":
        return dt.date(year, 10, 31)
    if name.startswith("new year"):
        return dt.date(year, 1, 1)
    if name.startswith("election"):
        first_tue = 1 + (1 - dt.date(year, 11, 1).weekday()) % 7
        return dt.date(year, 11, first_tue)
    if name == "easter":
        # EASTER_DAY_OF_YEAR (en.grammar:224): anonymous Gregorian
        # computus (Meeus/Jones/Butcher), the same algorithm timenorm's
        # java.time chronology resolves through
        a = year % 19
        b, c = divmod(year, 100)
        d, e = divmod(b, 4)
        g = (8 * b + 13) // 25
        h = (19 * a + b - d - g + 15) % 30
        i, k = divmod(c, 4)
        l = (32 + 2 * e + 2 * i - h - k) % 7
        m = (a + 11 * h + 19 * l) // 433
        month = (h + l - 7 * m + 90) // 25
        day = (h + l - 7 * m + 33 * month + 19) % 32
        return dt.date(year, month, day)
    # thanksgiving: Nov 1 weekday (Mon=0); first Thursday = 1 + (3 - wd) % 7
    first_thu = 1 + (3 - dt.date(year, 11, 1).weekday()) % 7
    return dt.date(year, 11, first_thu + 21)


def _season_end(label_year: int, code: str) -> dt.date:
    """Inclusive end date of a season instance."""
    _, end_month = _SEASON_BOUNDS[code]
    end_year = label_year + 1 if code == "WI" else label_year
    y2, m2 = _shift_month(end_year, end_month, 1)
    return dt.date(y2, m2, 1) - dt.timedelta(days=1)


def _bare_month_w7(inner_txt: str, anchor):
    """W7 for a bare FULL month name inner (shared by the 'modified' and
    'bound_unit' delegating normalizers): three candidate years, nearest
    month START to the anchor; None if not a bare month or anchorless."""
    mm = re.fullmatch(rf"({_MONTH_FULL_ALT})", inner_txt, re.I)
    if not mm or anchor is None:
        return None
    month = _MONTHS[mm.group(1).lower()]
    parses = [
        TimexParse(_fmt_month(y, month), True, dt.date(y, month, 1), False)
        for y in (anchor.year - 1, anchor.year, anchor.year + 1)
    ]
    return rank_parses(parses, anchor)[0].value


def _rel_weekday_date(word: str, target: int, anchor: dt.date) -> dt.date:
    """Shared rel-weekday resolution (rel_weekday, the weekday_tod
    prefix, and period_offset_date's weekday inner — three sites that
    previously carried hand-rolled copies): this/that = the current ISO
    week's occurrence (en.grammar:389); the last family = strictly
    previous; the next family = strictly next."""
    if word in ("this", "that"):
        iso = anchor.isocalendar()
        return dt.date.fromisocalendar(iso[0], iso[1], target + 1)
    if word in ("last", "preceding", "past", "previous"):
        back = (anchor.weekday() - target - 1) % 7 + 1
        return anchor - dt.timedelta(days=back)
    fwd = (target - anchor.weekday() - 1) % 7 + 1
    return anchor + dt.timedelta(days=fwd)


def _frac_anchored(total_num: int, den: int, unit: str, sign: int,
                   anchor, anchor_dt) -> Optional[str]:
    """Anchored MoveEarlier/MoveLater for a fractional period of
    total_num/den units (shared by the worded and slash fraction kinds):
    the value lands at the granularity the fraction converts to
    integrally — years -> months, months -> days (30-day convention),
    day/hour/minute on the FULL timestamp — and silently drops (O3) on
    non-integral conversions, week granularity (no integral finer
    calendar unit), or a missing anchor."""
    if anchor is None:
        return None
    if unit == "year" and (total_num * 12) % den == 0:
        y, mo = _shift_month(
            anchor.year, anchor.month, sign * (total_num * 12) // den
        )
        return _fmt_month(y, mo)
    if unit == "month" and (total_num * 30) % den == 0:
        return _fmt_day(
            anchor + dt.timedelta(days=sign * (total_num * 30) // den)
        )
    if unit == "week" or anchor_dt is None:
        return None
    if unit == "day" and (total_num * 24) % den == 0:
        shifted = anchor_dt + dt.timedelta(hours=sign * (total_num * 24) // den)
        return shifted.strftime("%Y-%m-%dT%H")
    if unit == "hour" and (total_num * 60) % den == 0:
        shifted = anchor_dt + dt.timedelta(minutes=sign * (total_num * 60) // den)
        return shifted.strftime("%Y-%m-%dT%H:%M")
    if unit == "minute" and (total_num * 60) % den == 0:
        shifted = anchor_dt + dt.timedelta(seconds=sign * (total_num * 60) // den)
        return shifted.strftime("%Y-%m-%dT%H:%M:%S")
    return None


def _md_w7_pick(txt: str, anchor) -> Optional[dt.date]:
    """Year-less month-day W7 (shared by week_of and tod_of_date inners):
    three candidate years (anchor-1, anchor, anchor+1), nearest start to
    the anchor (TEP.scala:238-243); invalid dates (Feb 29 off-leap) drop
    out of the candidate set. None when anchorless or no month-day."""
    if anchor is None:
        return None
    m = re.search(
        rf"({_MONTH_ALT})\.?\s+(\d{{1,2}})(?:st|nd|rd|th)?\b", txt, re.I
    )
    if not m:
        return None
    month, day = _MONTHS[m.group(1).lower()], int(m.group(2))
    parses = []
    for y in (anchor.year - 1, anchor.year, anchor.year + 1):
        try:
            d = dt.date(y, month, day)
        except ValueError:
            continue
        parses.append(TimexParse(_fmt_day(d), True, d, False))
    if not parses:
        return None
    return dt.date.fromisoformat(rank_parses(parses, anchor)[0].value)


_INNER_MDY_RE = re.compile(
    rf"({_MONTH_ALT})\.?\s+(\d{{1,2}})(?:st|nd|rd|th)?\s*,?\s+(\d{{4}})", re.I
)
_INNER_SLASH_RE = re.compile(r"(\d{1,2})/(\d{1,2})/(\d{2,4})")
_INNER_ISO_RE = re.compile(r"(\d{4})-(\d{2})-(\d{2})")


def _parse_inner_date(s: str) -> Optional[dt.date]:
    """The date embedded in a 'week of <date>' phrase; slash semantics match
    the fast path (month-first, 2-digit year + 2000)."""
    m = _INNER_MDY_RE.search(s)
    if m:
        return dt.date(int(m.group(3)), _MONTHS[m.group(1).lower()], int(m.group(2)))
    m = _INNER_ISO_RE.search(s)
    if m:
        return dt.date(int(m.group(1)), int(m.group(2)), int(m.group(3)))
    m = _INNER_SLASH_RE.search(s)
    if m:
        raw = m.group(3)
        year = int(raw) + 2000 if len(raw) == 2 else int(raw)
        return dt.date(year, int(m.group(1)), int(m.group(2)))
    return None

_WEEK_VAL_RE = re.compile(r"^(\d{4})-W(\d{2})$")
_QUARTER_VAL_RE = re.compile(r"^(\d{4})-Q([1-4])$")
_MONTH_VAL_RE = re.compile(r"^(\d{4})-(\d{2})$")
_DAY_VAL_RE = re.compile(r"^(\d{4})-(\d{2})-(\d{2})$")
_YEAR_VAL_RE = re.compile(r"^(\d{4})$")
_SEASON_VAL_RE = re.compile(r"^(\d{4})-(SP|SU|FA|WI)$")
_DECADE_VAL_RE = re.compile(r"^(\d{3})X$")
_CENTURY_VAL_RE = re.compile(r"^(\d{2})$")
_WEEKEND_VAL_RE = re.compile(r"^(\d{4})-W(\d{2})-WE$")
_TOD_VAL_RE = re.compile(r"^(\d{4})-(\d{2})-(\d{2})T(MO|AF|EV|NI)$")
# hour / minute / second clock granularities all live inside their day
_CLOCK_VAL_RE = re.compile(
    r"^(\d{4})-(\d{2})-(\d{2})T(\d{2})(?::(\d{2})(?::(\d{2}))?)?$"
)


@lru_cache(maxsize=65536)
def timeml_interval(value: str) -> Optional[Tuple[dt.date, dt.date]]:
    """TimeML value -> inclusive [start, end] calendar interval; None for the
    REF pseudo-values and SET (P…) values. Used by the deterministic TLINK
    scorer and by ``annotate.annotate_timexes``, which asks twice per timex
    (once through ``score.tlink_label``); memoized, as a corpus repeats its
    values."""
    m = _DAY_VAL_RE.match(value)
    if m:
        d = dt.date(int(m.group(1)), int(m.group(2)), int(m.group(3)))
        return d, d
    m = _TOD_VAL_RE.match(value) or _CLOCK_VAL_RE.match(value)
    if m:
        # a time-of-day / clock time lives inside its calendar day
        d = dt.date(int(m.group(1)), int(m.group(2)), int(m.group(3)))
        return d, d
    m = _SEASON_VAL_RE.match(value)
    if m:
        year, code = int(m.group(1)), m.group(2)
        start = dt.date(year, _SEASON_BOUNDS[code][0], 1)
        return start, _season_end(year, code)
    m = _DECADE_VAL_RE.match(value)
    if m:
        y0 = int(m.group(1)) * 10
        return dt.date(y0, 1, 1), dt.date(y0 + 9, 12, 31)
    m = _CENTURY_VAL_RE.match(value)
    if m:
        # "18" = the 19th century = years 1801..1900
        c = int(m.group(1))
        return dt.date(c * 100 + 1, 1, 1), dt.date((c + 1) * 100, 12, 31)
    m = _WEEKEND_VAL_RE.match(value)
    if m:
        y, w = int(m.group(1)), int(m.group(2))
        return (
            dt.date.fromisocalendar(y, w, 6),
            dt.date.fromisocalendar(y, w, 7),
        )
    m = _WEEK_VAL_RE.match(value)
    if m:
        start = dt.date.fromisocalendar(int(m.group(1)), int(m.group(2)), 1)
        return start, start + dt.timedelta(days=6)
    m = _MONTH_VAL_RE.match(value)
    if m:
        y, mo = int(m.group(1)), int(m.group(2))
        y2, mo2 = _shift_month(y, mo, 1)
        return dt.date(y, mo, 1), dt.date(y2, mo2, 1) - dt.timedelta(days=1)
    m = _QUARTER_VAL_RE.match(value)
    if m:
        y, q = int(m.group(1)), int(m.group(2))
        start = dt.date(y, (q - 1) * 3 + 1, 1)
        y2, mo2 = _shift_month(y, start.month, 3)
        return start, dt.date(y2, mo2, 1) - dt.timedelta(days=1)
    m = _YEAR_VAL_RE.match(value)
    if m:
        y = int(m.group(1))
        return dt.date(y, 1, 1), dt.date(y, 12, 31)
    return None
