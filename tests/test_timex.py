"""Timex detection + normalization (X4/X5/X7/X12, O2/O3, W7 analog)."""

import datetime as dt

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from kgpipe.timex import detect_timexes, normalize_timex, timeml_interval

ANCHOR = dt.date(2024, 3, 15)  # a Friday


def _norm(surface: str, anchor=ANCHOR):
    det = detect_timexes(surface)
    assert det, f"no timex detected in {surface!r}"
    t = det[0]
    assert (t["begin"], t["end"]) == (0, len(surface)), f"partial span for {surface!r}"
    return normalize_timex(t["surface"], t["kind"], anchor)


@pytest.mark.parametrize(
    "surface,expected",
    [
        ("3/5/2024", "2024-03-05"),
        ("12/31/99", "2099-12-31"),      # 2-digit year -> +2000 (java:178-189)
        ("1/2/24", "2024-01-02"),
        ("2024-03-05", "2024-03-05"),
        ("March 5, 2024", "2024-03-05"),
        ("Mar 5 2024", "2024-03-05"),
        ("March 2024", "2024-03"),
        ("1999", "1999"),
        ("yesterday", "2024-03-14"),
        ("today", "2024-03-15"),
        ("tomorrow", "2024-03-16"),
        ("last week", "2024-W10"),       # anchor is in 2024-W11
        ("this week", "2024-W11"),
        ("next month", "2024-04"),
        ("last year", "2023"),
        ("3 days ago", "2024-03-12"),
        ("two weeks ago", "2024-W09"),
        ("in 5 days", "2024-03-20"),
        ("in 2 months", "2024-05"),
        ("last monday", "2024-03-11"),   # strictly before Friday anchor
        ("next friday", "2024-03-22"),   # strictly after anchor
        ("recently", "PAST_REF"),
        ("soon", "FUTURE_REF"),
        ("currently", "PRESENT_REF"),
    ],
)
def test_normalization_values(surface, expected):
    assert _norm(surface) == expected


def test_invalid_calendar_dates_dropped():
    # silent-drop semantics (O3; TimeMentionNormalizer returns "")
    for bad in ["13/45/2020", "2/30/2021", "0/0/00"]:
        det = detect_timexes(bad)
        assert det
        assert normalize_timex(det[0]["surface"], det[0]["kind"], ANCHOR) is None


def test_unparseable_noise_not_detected():
    assert detect_timexes("the day of the thing q3ish") == []


def test_longest_span_wins_on_overlap():
    # 'March 5, 2024' must win over bare-year '2024' and month-year
    det = detect_timexes("seen March 5, 2024 ok")
    assert len(det) == 1
    assert det[0]["surface"] == "March 5, 2024"
    assert det[0]["kind"] == "month_day_year"


def test_multiple_disjoint_timexes_ordered():
    det = detect_timexes("from 1/2/2024 until next friday")
    assert [d["kind"] for d in det] == ["slash_date", "rel_weekday"]
    assert det[0]["begin"] < det[1]["begin"]


def test_bare_weekday_nearest_to_anchor():
    """W7: ambiguous bare weekday -> the occurrence nearest the anchor
    (TemporalExpressionParser.scala:238-243 tweaked heuristic). Anchor is
    Friday 2024-03-15."""
    assert _norm("friday") == "2024-03-15"     # distance 0: the anchor itself
    assert _norm("thursday") == "2024-03-14"   # 1 back vs 6 fwd -> back
    assert _norm("monday") == "2024-03-18"     # 4 back vs 3 fwd -> fwd
    assert _norm("saturday") == "2024-03-16"   # 6 back vs 1 fwd -> fwd
    # 'last friday'/'next friday' must still go to the rel_weekday rule
    det = detect_timexes("last friday")
    assert det[0]["kind"] == "rel_weekday"


def test_anchorless_relative_is_dropped():
    det = detect_timexes("yesterday")
    assert normalize_timex(det[0]["surface"], det[0]["kind"], None) is None


def test_timeml_interval():
    assert timeml_interval("2024-03-05") == (dt.date(2024, 3, 5), dt.date(2024, 3, 5))
    ws, we = timeml_interval("2024-W11")
    assert ws == dt.date(2024, 3, 11) and we == dt.date(2024, 3, 17)
    ms, me = timeml_interval("2024-02")
    assert ms == dt.date(2024, 2, 1) and me == dt.date(2024, 2, 29)  # leap
    ys, ye = timeml_interval("1999")
    assert ys == dt.date(1999, 1, 1) and ye == dt.date(1999, 12, 31)
    assert timeml_interval("PAST_REF") is None


@settings(max_examples=200, deadline=None)
@given(
    m=st.integers(1, 12),
    d=st.integers(1, 28),
    y=st.integers(1990, 2079),
    anchor_off=st.integers(-2000, 2000),
)
def test_slash_fastpath_property(m, d, y, anchor_off):
    """Valid M/D/YYYY always normalizes to the ISO day, anchor-independent."""
    anchor = ANCHOR + dt.timedelta(days=anchor_off)
    s = f"{m}/{d}/{y}"
    det = detect_timexes(s)
    assert det and det[0]["kind"] == "slash_date"
    assert normalize_timex(s, "slash_date", anchor) == f"{y:04d}-{m:02d}-{d:02d}"


def test_quarter_detection_and_normalization():
    import datetime as dt

    from kgpipe.timex import detect_timexes, normalize_timex, timeml_interval

    anchor = dt.date(2021, 5, 15)  # Q2 2021
    cases = {
        "q3 2021": "2021-Q3",
        "third quarter of 2021": "2021-Q3",
        "1st quarter 2022": "2022-Q1",
        "this quarter": "2021-Q2",
        "last quarter": "2021-Q1",
        "next quarter": "2021-Q3",
    }
    for surface, want in cases.items():
        found = detect_timexes(f"revenue grew in {surface} overall")
        spans = [t for t in found if surface in t["surface"] or t["surface"] in surface]
        assert spans, (surface, found)
        t = spans[0]
        assert normalize_timex(t["surface"], t["kind"], anchor) == want, surface
    # year-boundary wraps
    assert normalize_timex("last quarter", "rel_unit", dt.date(2021, 1, 10)) == "2020-Q4"
    assert normalize_timex("next quarter", "rel_unit", dt.date(2021, 11, 1)) == "2022-Q1"
    # TimeML interval: Q2 2021 = Apr 1 .. Jun 30
    assert timeml_interval("2021-Q2") == (dt.date(2021, 4, 1), dt.date(2021, 6, 30))
    assert timeml_interval("2021-Q4") == (dt.date(2021, 10, 1), dt.date(2021, 12, 31))


# ---------------------------------------------------------------------------
# en.grammar breadth round 2: seasons, decades, week-of, time-of-day, SET
# ---------------------------------------------------------------------------

@pytest.mark.parametrize(
    "surface,expected",
    [
        ("summer 2019", "2019-SU"),
        ("winter of 2020", "2020-WI"),
        ("autumn 2021", "2021-FA"),
        ("last summer", "2023-SU"),      # Mar 2024 anchor: summer 2024 not ended
        ("next summer", "2024-SU"),      # starts after the March anchor
        ("this spring", "2024-SP"),
        ("this winter", "2024-WI"),      # March -> label year = anchor year
        ("the 1990s", "199X"),
        ("the '80s", "198X"),
        ("the 20s", "202X"),
        ("the week of March 3, 2021", "2021-W09"),
        ("week of 3/4/2021", "2021-W09"),
        ("the week of 2021-03-04", "2021-W09"),
        ("every week", "P1W"),
        ("every 2 weeks", "P2W"),
        ("every three months", "P3M"),
        ("daily", "P1D"),
        ("annually", "P1Y"),
        ("this morning", "2024-03-15TMO"),
        ("tomorrow afternoon", "2024-03-16TAF"),
        ("yesterday evening", "2024-03-14TEV"),
        ("last night", "2024-03-14TNI"),
        ("tonight", "2024-03-15TNI"),
    ],
)
def test_round2_grammar_values(surface, expected):
    assert _norm(surface) == expected


def test_rel_season_winter_wraps_january():
    # Jan/Feb belong to the PREVIOUS label year's winter
    jan = dt.date(2024, 1, 15)
    assert normalize_timex("this winter", "rel_season", jan) == "2023-WI"
    assert normalize_timex("last winter", "rel_season", jan) == "2022-WI"
    # after the thaw the just-finished winter is "last"
    assert normalize_timex("last winter", "rel_season", dt.date(2024, 3, 5)) == "2023-WI"


def test_rel_season_last_after_season_end():
    # October anchor: summer 2024 already ended -> last summer = 2024
    assert normalize_timex("last summer", "rel_season", dt.date(2024, 10, 1)) == "2024-SU"


def test_round2_intervals():
    assert timeml_interval("2019-SU") == (dt.date(2019, 6, 1), dt.date(2019, 8, 31))
    assert timeml_interval("2023-WI") == (dt.date(2023, 12, 1), dt.date(2024, 2, 29))
    assert timeml_interval("199X") == (dt.date(1990, 1, 1), dt.date(1999, 12, 31))
    d = dt.date(2024, 3, 15)
    assert timeml_interval("2024-03-15TMO") == (d, d)
    assert timeml_interval("P2W") is None  # SET values carry no interval


def test_rank_parses_full_heuristic():
    """W7 complete: TimeSpan-over-Period, quarter-anchor preference, nearest
    start (TemporalExpressionParser.scala:219-251)."""
    from kgpipe.timex import TimexParse, rank_parses

    anchor = dt.date(2024, 10, 15)
    period = TimexParse("P1W", False, None, False)
    near_span = TimexParse("2024-W42", True, dt.date(2024, 10, 14), False)
    far_span = TimexParse("2024-W01", True, dt.date(2024, 1, 1), False)
    q_span = TimexParse("2024-Q4", True, dt.date(2024, 10, 1), True)

    # 1. TimeSpan beats Period regardless of distance
    assert rank_parses([period, far_span], anchor)[0] is far_span
    # 2. quarter-granularity anchor prefers quarter parses even when farther
    assert rank_parses([near_span, q_span], anchor, anchor_is_quarter=True)[0] is q_span
    # 3. day-granularity anchor (the pipeline case): nearest start wins
    assert rank_parses([far_span, near_span, q_span], anchor)[0] is near_span
    # stability: equal keys keep input order
    twin = TimexParse("2024-W42b", True, dt.date(2024, 10, 14), False)
    assert rank_parses([near_span, twin], anchor)[:2] == [near_span, twin]


@pytest.mark.parametrize(
    "surface,expected",
    [
        ("March 5", "2024-03-05"),        # W7 nearest year: 10 days back
        ("sept. 30th", "2023-09-30"),     # nearest is last year's Sep 30
        ("feb 29", "2024-02-29"),         # off-leap years drop out
        ("christmas", "2023-12-25"),      # nearest christmas to mid-March
        ("christmas 2020", "2020-12-25"),
        ("thanksgiving", "2023-11-23"),   # 4th Thursday of November
        ("halloween 2022", "2022-10-31"),
        ("new year's day", "2024-01-01"),
    ],
)
def test_month_day_and_holiday_values(surface, expected):
    assert _norm(surface) == expected


def test_month_day_nearest_year_flips_with_anchor():
    import datetime as _dt

    from kgpipe.timex import normalize_timex

    # late-year anchor: "January 10" is nearer NEXT year
    assert (
        normalize_timex("January 10", "month_day", _dt.date(2024, 11, 1))
        == "2025-01-10"
    )
    # early-year anchor: same surface resolves to the current year
    assert (
        normalize_timex("January 10", "month_day", _dt.date(2024, 2, 1))
        == "2024-01-10"
    )


@pytest.mark.parametrize(
    "surface,expected",
    [
        ("the day before yesterday", "2024-03-13"),
        ("day after tomorrow", "2024-03-17"),
        ("at 3 pm", "2024-03-15T15:00"),
        ("10:30 am", "2024-03-15T10:30"),
        ("at 12 pm", "2024-03-15T12:00"),   # noon
        ("12 am", "2024-03-15T00:00"),      # midnight
        ("7:45pm", "2024-03-15T19:45"),
        ("a decade ago", "2014"),
        ("2 decades ago", "2004"),
        ("a century ago", "1924"),
        ("in 3 decades", "2054"),
    ],
)
def test_clock_dayoffset_decade_values(surface, expected):
    assert _norm(surface) == expected


def test_clock_time_invalid_hours_drop():
    import datetime as _dt

    from kgpipe.timex import normalize_timex

    assert normalize_timex("13 pm", "clock_time", _dt.date(2024, 3, 15)) is None
    assert normalize_timex("0 am", "clock_time", _dt.date(2024, 3, 15)) is None


# ---------------------------------------------------------------------------
# en.grammar breadth round 3: centuries, weekends, WithModifier prefixes
# ---------------------------------------------------------------------------

@pytest.mark.parametrize(
    "surface,expected",
    [
        # "19th century" = CENTURY 18 (en.grammar:370-374)
        ("the 19th century", "18"),
        ("21st century", "20"),
        ("the 3rd century", "02"),
        # anchor 2024-03-15 is a Friday in ISO week 2024-W11
        ("this weekend", "2024-W11-WE"),
        ("the weekend", "2024-W11-WE"),
        ("last weekend", "2024-W10-WE"),
        ("next weekend", "2024-W12-WE"),
        # WithModifier: value = inner value, mod dropped (en.grammar:489-498)
        ("early 2019", "2019"),
        ("late 2019", "2019"),
        ("mid June 2024", "2024-06"),
        ("the mid 1990s", "199X"),
        ("middle of 2021", "2021"),
        ("around March 2020", "2020-03"),
        ("about summer 2019", "2019-SU"),
        ("early last year", "2023"),
        ("late this quarter", "2024-Q1"),
    ],
)
def test_round3_grammar_values(surface, expected):
    assert _norm(surface) == expected


def test_round3_intervals():
    # "18" = the 19th century = 1801..1900
    assert timeml_interval("18") == (dt.date(1801, 1, 1), dt.date(1900, 12, 31))
    assert timeml_interval("20") == (dt.date(2001, 1, 1), dt.date(2100, 12, 31))
    # weekend = Sat+Sun of the ISO week
    assert timeml_interval("2024-W11-WE") == (dt.date(2024, 3, 16), dt.date(2024, 3, 17))
    # plain week value still excludes the -WE form
    assert timeml_interval("2024-W11") == (dt.date(2024, 3, 11), dt.date(2024, 3, 17))


def test_century_out_of_range_drops():
    assert normalize_timex("the 0th century", "century", ANCHOR) is None


def test_modifier_span_beats_inner():
    # longest-span-wins: "early 2019" must be ONE span, not a bare_year
    det = detect_timexes("we met early 2019 there")
    assert [(d["kind"], d["surface"]) for d in det] == [("modified", "early 2019")]


def test_modifier_without_inner_timex_not_detected():
    # "early bird" has no inner expression -> no span at all
    det = detect_timexes("the early bird gets the worm")
    assert det == []


@pytest.mark.parametrize(
    "surface,expected",
    [
        ("at noon", "2024-03-15T12:00"),       # en.grammar:212 HOUR_OF_DAY 12
        ("noon", "2024-03-15T12:00"),
        ("midday", "2024-03-15T12:00"),
        ("midnight", "2024-03-15T00:00"),
    ],
)
def test_noon_midnight_values(surface, expected):
    assert _norm(surface) == expected


@pytest.mark.parametrize(
    "surface,expected",
    [
        # en.grammar:404,428-431 — following/preceding as next/last
        ("the following week", "2024-W12"),
        ("the preceding month", "2024-02"),
        ("following year", "2025"),
        ("preceding quarter", "2023-Q4"),
        ("the following day", "2024-03-16"),
        ("the preceding day", "2024-03-14"),
        ("following monday", "2024-03-18"),
        ("preceding friday", "2024-03-08"),  # anchor IS a Friday: strictly before
    ],
)
def test_following_preceding_values(surface, expected):
    assert _norm(surface) == expected


@settings(max_examples=300, deadline=None)
@given(st.text(max_size=120))
def test_detect_normalize_total_on_arbitrary_text(s):
    """Totality fuzz: detection yields well-formed non-overlapping spans and
    normalization never raises on any detected span of arbitrary text."""
    spans = detect_timexes(s)
    prev_end = -1
    for d in sorted(spans, key=lambda x: x["begin"]):
        assert 0 <= d["begin"] < d["end"] <= len(s)
        assert d["begin"] >= prev_end, "overlapping spans"
        prev_end = d["end"]
        assert s[d["begin"]:d["end"]] == d["surface"]
        normalize_timex(d["surface"], d["kind"], ANCHOR)  # None ok, raise not
        normalize_timex(d["surface"], d["kind"], None)
        # datetime anchors (the sub-day kinds' path) must be total too
        normalize_timex(
            d["surface"], d["kind"], dt.datetime(2024, 3, 15, 10, 30, 45)
        )


# bias the fuzz toward timex-shaped fragments (clocks, units, counts) so
# the sweep/normalizer actually exercises pattern interactions, not just
# unicode noise
_TIMEXISH = st.lists(
    st.sampled_from(
        "19:30 3:16 99:99 16:9 am pm at in ago earlier half an a hour hours "
        "minute minutes seconds day days week weeks month months year years "
        "quarter q3 every each other hourly daily three twenty 20 5 2024 "
        "june march monday the last next this past first and so up to of "
        "period recent few couple times twice".split()
    ),
    min_size=1, max_size=12,
).map(" ".join)


@settings(max_examples=300, deadline=None)
@given(_TIMEXISH)
def test_detect_normalize_total_on_timexish_text(s):
    spans = detect_timexes(s)
    prev_end = -1
    for d in sorted(spans, key=lambda x: x["begin"]):
        assert 0 <= d["begin"] < d["end"] <= len(s)
        assert d["begin"] >= prev_end, "overlapping spans"
        prev_end = d["end"]
        for anchor in (ANCHOR, None, dt.datetime(2024, 3, 15, 10, 30, 45)):
            normalize_timex(d["surface"], d["kind"], anchor)


@pytest.mark.parametrize(
    "surface,expected",
    [
        # "[Period] earlier" = ago (en.grammar:407-412)
        ("3 years earlier", "2021"),
        ("two weeks earlier", "2024-W09"),
        # "coming X" = next (en.grammar:427,433)
        ("coming week", "2024-W12"),
        ("the coming year", "2025"),
        ("coming friday", "2024-03-22"),
        # "January last year" (en.grammar:416,434)
        ("January last year", "2023-01"),
        ("june next year", "2025-06"),
        ("march this year", "2024-03"),
        # word decades, FindAtOrEarlier (en.grammar:453-460)
        ("the twenties", "202X"),      # anchor 2024 is inside the 2020s
        ("the nineties", "199X"),
        ("the thirties", "193X"),      # 2030s start after the anchor
    ],
)
def test_round3b_grammar_values(surface, expected):
    assert _norm(surface) == expected


@pytest.mark.parametrize(
    "surface,expected",
    [
        # "past [Period]" / "past [FieldValue]" (en.grammar:399,403)
        ("the past week", "2024-W10"),
        ("past month", "2024-02"),
        ("the past year", "2023"),
        ("past friday", "2024-03-08"),
    ],
)
def test_past_synonym_values(surface, expected):
    assert _norm(surface) == expected


def test_in_the_past_unit_beats_past_ref():
    # "in the past week" must yield the relative week, not PAST_REF
    # (past_ref carries a lookahead so the rel_unit span can win)
    det = detect_timexes("we did it in the past week")
    kinds = [(d["kind"], d["surface"]) for d in det]
    assert ("rel_unit", "the past week") in kinds
    assert all(k != "past_ref" for k, _ in kinds)
    # plain "in the past" still resolves to PAST_REF
    det2 = detect_timexes("mistakes were made in the past")
    assert [(d["kind"]) for d in det2] == ["past_ref"]


def test_in_the_past_plural_unit_is_past_ref():
    # the lookahead's unit alternation is \b-anchored: PLURAL units
    # ("in the past weeks") are NOT rel_unit matches, so they must fall
    # through to PAST_REF instead of detecting nothing
    for unit in ("days", "weeks", "months", "years", "quarters"):
        det = detect_timexes(f"we shipped a lot in the past {unit}")
        kinds = [d["kind"] for d in det]
        assert "past_ref" in kinds, unit


def test_month_dot_sentence_boundary_not_fused():
    # a dot after a FULL month name is a sentence boundary, not part of
    # the expression — the two timexes stay separate
    det = detect_timexes("we met in january. last year we did not.")
    got = {d["surface"]: d["kind"] for d in det}
    assert "january. last year" not in got
    assert got.get("last year") == "rel_unit"
    # abbreviations may keep the dot
    assert _norm("jan. last year") == "2023-01"


def test_bare_decade_words_are_ages_not_timexes():
    assert detect_timexes("he is in his twenties") == []
    assert detect_timexes("she retired in her nineties") == []
    # with the article it is a decade
    assert _norm("the nineties") == "199X"


@pytest.mark.parametrize(
    "surface,expected",
    [
        # spelled tens/teens 13-99 in relative patterns
        # (en.grammar:38-58 [Int:Tens] composition)
        ("thirteen days ago", "2024-03-02"),
        ("twenty days ago", "2024-02-24"),
        ("twenty-one days ago", "2024-02-23"),
        ("twenty one days ago", "2024-02-23"),   # space composition
        ("forty-two weeks ago", "2023-W21"),
        ("ninety-nine years ago", "1925"),
        ("in seventeen days", "2024-04-01"),
        ("in twenty-five weeks", "2024-W36"),
        ("in sixty days", "2024-05-14"),
        ("every thirty days", "P30D"),            # period_set composition
    ],
)
def test_spelled_tens_relative_values(surface, expected):
    assert _norm(surface) == expected


@pytest.mark.parametrize(
    "surface,expected",
    [
        # spelled-out years (en.grammar Int year halves)
        ("nineteen ninety", "1990"),
        ("nineteen ninety-nine", "1999"),
        ("nineteen ninety nine", "1999"),
        ("nineteen sixteen", "1916"),
        ("nineteen hundred", "1900"),
        ("twenty sixteen", "2016"),
        ("twenty twenty", "2020"),
        ("twenty twenty-one", "2021"),
    ],
)
def test_word_year_values(surface, expected):
    assert _norm(surface) == expected
    # absolute: normalizes without an anchor too
    assert _norm(surface, anchor=None) == expected


@pytest.mark.parametrize(
    "surface,expected",
    [
        # fractional periods (en.grammar:288-289 [Int] and a half [Unit]):
        # years -> months, months -> days (30-day convention), else
        # ISO-8601 decimal smallest component
        ("a year and a half", "P18M"),
        ("an year and a half", "P18M"),
        ("one year and a half", "P18M"),
        ("two and a half years", "P30M"),
        ("twenty and a half years", "P246M"),
        ("a month and a half", "P45D"),
        ("two and a half months", "P75D"),
        ("a week and a half", "P1.5W"),
        ("three and a half weeks", "P3.5W"),
        ("a day and a half", "P1.5D"),
        ("ten and a half days", "P10.5D"),
    ],
)
def test_frac_period_values(surface, expected):
    assert _norm(surface) == expected
    # durations are anchor-free
    assert _norm(surface, anchor=None) == expected


def test_frac_period_survives_in_prefix():
    # "in a year and a half": the in_n lookahead must hand the span to
    # frac_period (earliest-begin sweep gotcha); round 6 composes the
    # whole MoveLater span into ONE anchored timex (en.grammar:416
    # accepts ANY Period, fractions included)
    det = detect_timexes("done in a year and a half from now")
    kinds = [(d["kind"], d["surface"]) for d in det]
    assert kinds == [("frac_period", "in a year and a half from now")]
    # plain "in a year" stays in_n
    det2 = detect_timexes("done in a year")
    assert [(d["kind"]) for d in det2] == ["in_n"]


@pytest.mark.parametrize(
    "surface,expected",
    [
        # TimeSpanSet (en.grammar:526-532 each [FieldValue:Partial])
        ("every monday", "XXXX-WXX-1"),
        ("each wednesday", "XXXX-WXX-3"),
        ("every sunday", "XXXX-WXX-7"),
        ("each june", "XXXX-06"),
        ("every December", "XXXX-12"),
        ("each january", "XXXX-01"),
    ],
)
def test_span_set_values(surface, expected):
    assert _norm(surface) == expected
    assert _norm(surface, anchor=None) == expected


def test_span_set_beats_bare_weekday_and_spares_dates():
    # "every monday" must be ONE set span, not a bare-weekday date
    det = detect_timexes("we sync every monday at most")
    assert [(d["kind"], d["surface"]) for d in det] == [
        ("span_set", "every monday")
    ]
    # a dated expression after each/every keeps its date reading
    det2 = detect_timexes("the every June 5, 2020 reunion")
    assert [(d["kind"]) for d in det2] == ["month_day_year"]


def test_word_year_does_not_eat_relative_numbers():
    # "twenty five days ago" is the composed number 25, not year 2005
    det = detect_timexes("it happened twenty five days ago")
    assert [(d["kind"], d["surface"]) for d in det] == [
        ("ago", "twenty five days ago")
    ]
    assert _norm("twenty five days ago") == "2024-02-19"


@pytest.mark.parametrize(
    "surface,expected",
    [
        # "[FieldValue] of [TimeSpan]" month-year (en.grammar:474)
        ("june of 2019", "2019-06"),
        ("March of 2021", "2021-03"),
        # beginning/start/end of the unit (en.grammar:481-494; mod dropped)
        ("the end of the month", "2024-03"),
        ("the beginning of the year", "2024"),
        ("start of the quarter", "2024-Q1"),
        ("end of the week", "2024-W11"),
        # suffix modifiers (en.grammar:500-503; mod dropped)
        ("2019 or later", "2019"),
        ("2019 and beyond", "2019"),
        ("2021 or earlier", "2021"),
        ("2021 and before", "2021"),
        # post prefix (en.grammar:499)
        ("post 2019", "2019"),
    ],
)
def test_round4b_grammar_values(surface, expected):
    assert _norm(surface) == expected


@pytest.mark.parametrize(
    "surface,expected",
    [
        # recurring times of day (en.grammar:508-511,526-532)
        ("every morning", "XXXX-XX-XXTMO"),
        ("each afternoon", "XXXX-XX-XXTAF"),
        ("every evening", "XXXX-XX-XXTEV"),
        ("each night", "XXXX-XX-XXTNI"),
        ("mornings", "XXXX-XX-XXTMO"),
        ("nights", "XXXX-XX-XXTNI"),
    ],
)
def test_tod_set_values(surface, expected):
    assert _norm(surface) == expected
    assert _norm(surface, anchor=None) == expected  # anchor-free sets


@pytest.mark.parametrize(
    "surface,expected",
    [
        ("these days", "PRESENT_REF"),
        ("at the moment", "PRESENT_REF"),
        ("this moment", "PRESENT_REF"),
        ("at a later date", "FUTURE_REF"),
        ("later time", "FUTURE_REF"),
    ],
)
def test_ref_synonyms(surface, expected):
    assert _norm(surface) == expected


def test_round4b_sweep_interactions():
    # "June of 2019" must be ONE month_year span, not month + bare year
    det = detect_timexes("shipping june of 2019 maybe")
    assert [(d["kind"], d["surface"]) for d in det] == [
        ("month_year", "june of 2019")
    ]
    # "every morning" must not fall into period_set or time_of_day
    det = detect_timexes("we sync every morning ok")
    assert [(d["kind"]) for d in det] == ["tod_set"]
    # "2019 or later" beats bare_year (same begin, longer)
    det = detect_timexes("valid 2019 or later ok")
    assert [(d["kind"]) for d in det] == ["suffix_modified"]
    # plain "later" alone detects nothing
    assert detect_timexes("see you later") == []


def test_frac_period_plural_inversion():
    # review finding: "in two years and a half" must not be silently lost
    # (in_n's lookahead blocks it; the inversion must accept any count +
    # plural units); round 6: the "in" composes into the anchored span
    det = detect_timexes("due in two years and a half")
    assert [(d["kind"], d["surface"]) for d in det] == [
        ("frac_period", "in two years and a half")
    ]
    assert _norm("two years and a half") == "P30M"
    assert _norm("twenty-one days and a half") == "P21.5D"
    assert _norm("three weeks and a half") == "P3.5W"


def test_quick_keys_never_span_whitespace():
    # gate literals must be single words: the regexes accept \s+ between
    # words, so a multi-word literal would silently drop matches whose
    # words wrap across a newline or double space (the per-word memo
    # splits on every whitespace character)
    from kgpipe.timex import _GATES

    assert _GATES.literals
    for lit, _clauses in _GATES.literals:
        assert lit and not any(c.isspace() for c in lit), lit
    # the cases that used to be dropped by multi-word keys
    for text, kind in [
        ("we meet every\nmorning", "tod_set"),
        ("the end  of the month", "bound_unit"),
        ("two and\na half weeks", "frac_period"),
        ("at a later\ndate", "future_ref"),
        ("the day  before yesterday", "day_offset"),
        ("middle\nof 2019", "modified"),
        ("these  days it works", "present_ref"),
    ]:
        kinds = [d["kind"] for d in detect_timexes(text)]
        assert kind in kinds, (text, kinds)


@pytest.mark.parametrize(
    "surface,expected",
    [
        # previous/current/latest/that synonyms (en.grammar:385,387,398-405)
        ("the previous week", "2024-W10"),
        ("previous month", "2024-02"),
        ("the current month", "2024-03"),
        ("current year", "2024"),
        ("the latest quarter", "2023-Q4"),
        ("that year", "2024"),
        ("that week", "2024-W11"),
        ("previous friday", "2024-03-08"),   # strictly before Friday anchor
        ("previous summer", "2023-SU"),
        ("coming winter", "2024-WI"),
        ("previous weekend", "2024-W10-WE"),
        ("coming weekend", "2024-W12-WE"),
    ],
)
def test_rel_synonym_values(surface, expected):
    assert _norm(surface) == expected


@pytest.mark.parametrize(
    "surface,expected",
    [
        # "[PartOfDay] of [TimeSpan]" over dated inners (en.grammar:472)
        ("the morning of March 5, 2021", "2021-03-05TMO"),
        ("afternoon of Mar 5 2021", "2021-03-05TAF"),
        ("evening of 3/4/2021", "2021-03-04TEV"),
        ("night of 2021-03-04", "2021-03-04TNI"),
    ],
)
def test_tod_of_date_values(surface, expected):
    assert _norm(surface) == expected
    assert _norm(surface, anchor=None) == expected  # dated -> anchor-free


@pytest.mark.parametrize(
    "surface,expected",
    [
        # "[Period] before/after [TimeSpan]" (en.grammar:414 + mirror)
        ("two days before christmas", "2023-12-23"),     # W7 vs Mar 2024
        ("3 weeks after March 5, 2021", "2021-03-26"),
        ("a month before 1/15/2024", "2023-12-15"),
        ("one year after 2020-02-29", "2021-02-28"),     # leap clamp
        ("ten days after thanksgiving", "2023-12-03"),
        ("twenty-one days before 2024-01-22", "2024-01-01"),
    ],
)
def test_period_offset_date_values(surface, expected):
    assert _norm(surface) == expected


def test_period_offset_regressions():
    # "the day before yesterday" stays day_offset; "this morning" stays
    # time_of_day — the new dated patterns must not absorb them
    assert detect_timexes("the day before yesterday")[0]["kind"] == "day_offset"
    assert detect_timexes("this morning")[0]["kind"] == "time_of_day"
    # holiday inner without anchor: silently dropped (O3)
    d = detect_timexes("two days before christmas")[0]
    assert normalize_timex(d["surface"], d["kind"], None) is None


@pytest.mark.parametrize(
    "surface,expected",
    [
        # "[Partial] [Unspecified]" sets (en.grammar:528)
        ("monday mornings", "XXXX-WXX-1TMO"),
        ("friday evenings", "XXXX-WXX-5TEV"),
        ("sunday nights", "XXXX-WXX-7TNI"),
    ],
)
def test_weekday_tod_set_values(surface, expected):
    assert _norm(surface) == expected
    assert _norm(surface, anchor=None) == expected


# ---------------------------------------------------------------- round 5 ---
# vague quantifiers, ordinal day-of-month, hyphenated modifiers,
# first-[Int]-[Unit] periods, every-other / frequency sets


@pytest.mark.parametrize(
    "surface,expected",
    [
        # couple -> Int 2 everywhere (en.grammar:77-78)
        ("a couple of days ago", "2024-03-13"),
        ("couple of weeks ago", "2024-W09"),
        ("in a couple of months", "2024-05"),
        ("a couple of weeks before christmas", "2023-12-11"),
        ("every couple of weeks", "P2W"),
        # several/few -> Unspecified period (en.grammar:297-298)
        ("several days ago", "PAST_REF"),
        ("a few weeks earlier", "PAST_REF"),
        ("in a few days", "FUTURE_REF"),
        ("the past few weeks", "PXW"),
        ("the past couple of days", "P2D"),
        ("the next few months", "PXM"),
        ("several weeks", "PXW"),
        # ordinal day-of-month compositions (en.grammar:69-72,232,474)
        ("the 5th of june 2020", "2020-06-05"),
        ("the 5th of june", "2024-06-05"),
        ("the 2nd of december", "2023-12-02"),      # W7 nearest year
        ("the 15th of october of 2021", "2021-10-15"),
        # hyphenated WithModifier ([Nil] dash, en.grammar:10) + bare-month
        # inner via W7 month resolution
        ("mid-june", "2024-06"),
        ("mid june", "2024-06"),
        ("late december", "2023-12"),
        ("early-2020", "2020"),
        ("mid-2010s", "201X"),
        # first [Int] [Unit] periods (en.grammar:280)
        ("the first nine months", "P9M"),
        ("first twenty-one days", "P21D"),
        # every-other / frequency sets
        ("every other week", "P2W"),
        ("twice a week", "P1W"),
        ("three times a day", "P1D"),
        ("once per month", "P1M"),
    ],
)
def test_round5_grammar_values(surface, expected):
    assert _norm(surface) == expected


def test_round5_calendar_rejects():
    # O3: calendar-invalid ordinal day silently drops
    d = detect_timexes("the 31st of february")[0]
    assert d["kind"] == "day_of_month"
    assert normalize_timex(d["surface"], d["kind"], ANCHOR) is None
    # year-less forms need an anchor
    d = detect_timexes("the 5th of june")[0]
    assert normalize_timex(d["surface"], d["kind"], None) is None
    d = detect_timexes("mid-june")[0]
    assert normalize_timex(d["surface"], d["kind"], None) is None


def test_round5_sweep_interactions():
    # ago beats vague_period at equal begin (longer span)
    det = detect_timexes("seen a couple of days ago maybe")
    assert [(d["kind"], d["surface"]) for d in det] == [
        ("ago", "a couple of days ago")
    ]
    # "in the past few weeks": past_ref's lookahead yields to vague_period
    det = detect_timexes("busy in the past few weeks here")
    assert [(d["kind"], d["surface"]) for d in det] == [
        ("vague_period", "the past few weeks")
    ]
    # ... but bare "in the past" and "in the past week" are unchanged
    assert detect_timexes("lived in the past ok")[0]["kind"] == "past_ref"
    assert detect_timexes("done in the past week")[0]["kind"] == "rel_unit"
    # day_of_month beats the later-beginning month_year span
    det = detect_timexes("due the 5th of june 2020 ok")
    assert [(d["kind"], d["surface"]) for d in det] == [
        ("day_of_month", "the 5th of june 2020")
    ]
    # the modified bare-month guard: "late march 5, 2021" must stay with
    # the full dated span, not be eaten by "late march"
    det = detect_timexes("surgery late march 5, 2021 done")
    assert [(d["kind"], d["surface"]) for d in det] == [
        ("month_day_year", "march 5, 2021")
    ]
    # "every other week" stays one period_set span
    det = detect_timexes("sync every other week ok")
    assert [(d["kind"], d["surface"]) for d in det] == [
        ("period_set", "every other week")
    ]
    # freq_set does not fire on bare "once"
    assert detect_timexes("once again we met") == []


@pytest.mark.parametrize(
    "surface,expected",
    [
        # "each [Period]" (en.grammar:331) + quarterly (en.grammar:327,
        # QUARTER_YEARS unit char "Q" per Temporal.scala:45)
        ("each week", "P1W"),
        ("quarterly", "P1Q"),
        # "[Int] [Unit] period" (en.grammar:282), [Nil] dash accepted
        ("a three-year period", "P3Y"),
        ("a 30-day period", "P30D"),
        # "recent [Unit:Plural]" (en.grammar:299)
        ("recent weeks", "PXW"),
    ],
)
def test_round5b_period_values(surface, expected):
    assert _norm(surface) == expected


def test_round5b_sweep_interactions():
    # "each June" / "each morning" keep their set kinds
    assert detect_timexes("each June")[0]["kind"] == "span_set"
    assert detect_timexes("each morning")[0]["kind"] == "tod_set"
    # "recently" stays past_ref; bare "period" detects nothing
    assert detect_timexes("seen recently ok")[0]["kind"] == "past_ref"
    assert detect_timexes("the reporting period closed") == []


@pytest.mark.parametrize(
    "surface,expected",
    [
        # Unspecified UNSPECIFIED periods (en.grammar:294-296)
        ("a while", "PX"),
        ("some time", "PX"),
        ("a lengthy period", "PX"),
        # election day: first Tuesday of November (the grammar's
        # ALIGNED_WEEK_OF_MONTH 1 rule, en.grammar:225), W7 year-resolved
        ("election day", "2023-11-07"),
        ("election day 2020", "2020-11-03"),
    ],
)
def test_round5c_values(surface, expected):
    assert _norm(surface) == expected


def test_round5c_no_false_positives():
    for text in ("sometimes it works", "meanwhile at the office",
                 "the election results", "at the same time"):
        assert detect_timexes(text) == [], text


@pytest.mark.parametrize(
    "surface,expected,kind",
    [
        # "[Period] ago [Partial]" now covers quarters + seasons
        # (en.grammar:417-418 "the year-ago third quarter")
        ("the year-ago third quarter", "2023-Q3", "ago_partial"),
        ("two years ago summer", "2022-SU", "ago_partial"),
        # "[Unit] of [TimeSpan]" granularity compositions (en.grammar:465)
        ("the month of june 2020", "2020-06", "unit_of"),
        ("the month of june next year", "2025-06", "unit_of"),
        ("the year 2020", "2020", "unit_of"),
        # "[Unit] [TimeSpan]" FindEnclosing retarget (en.grammar:466-470)
        ("the quarter a year ago", "2023-Q1", "unit_enclosing"),
        ("the period last year", "2023", "unit_enclosing"),
        # modifier region (en.grammar:486-499) + PartOfDay FindEnclosed
        ("earlier in the week", "2024-W11", "mod_in_span"),
        ("part of 2020", "2020", "mod_in_span"),
        ("mid-afternoon yesterday", "2024-03-14TAF", "tod_rel_day"),
        # "[TimeSpan] [Unit]" holiday-day widening (en.grammar:470)
        ("thanksgiving day", "2023-11-23", "holiday"),
    ],
)
def test_round6_composition_values(surface, expected, kind):
    det = detect_timexes(surface)
    assert det[0]["kind"] == kind
    assert _norm(surface) == expected


def test_round6_wrong_value_guards():
    # "the last quarter of 2020" is not grammar-composable: the rel_unit
    # fragment must NOT mis-value as the anchor-relative quarter; the bare
    # year inside still detects (silent-drop parity on the composition)
    got = detect_timexes("the last quarter of 2020")
    assert [t["kind"] for t in got] == ["bare_year"]
    got = detect_timexes("the last week of 2020")
    assert [t["kind"] for t in got] == ["bare_year"]
    # dated spans stay with their own patterns (continuation-lookahead
    # lesson: new inners must not steal the front of longer forms)
    got = detect_timexes("met a year ago january 15, 2021")
    assert [t["kind"] for t in got] == ["ago", "month_day_year"]
    got = detect_timexes("the month of june 15, 2020")
    assert [t["kind"] for t in got] == ["month_day_year"]
    # anchorless turns: pinned inners resolve, anchored ones drop
    assert normalize_timex("the year 2020", "unit_of", None) == "2020"
    assert normalize_timex("part of 2020", "mod_in_span", None) == "2020"
    assert normalize_timex("earlier in the week", "mod_in_span", None) is None


@pytest.mark.parametrize(
    "surface,anchor,expected,kind",
    [
        # sub-day MoveEarlier/MoveLater on the FULL timestamp, value
        # truncated to the period's granularity (en.grammar:83-85,95-97)
        ("three hours ago", dt.datetime(2024, 3, 15, 10, 30, 45),
         "2024-03-15T07", "ago"),
        ("in 20 minutes", dt.datetime(2024, 3, 15, 10, 30, 45),
         "2024-03-15T10:50", "in_n"),
        ("twelve hours ago", dt.datetime(2024, 3, 15, 1, 30, 0),
         "2024-03-14T13", "ago"),  # crosses midnight
        ("half an hour ago", dt.datetime(2024, 3, 15, 10, 30, 45),
         "2024-03-15T10:00", "half_unit"),
        # bare 24h clock needs only the anchor DAY (en.grammar:214)
        ("at 19:30", dt.date(2024, 3, 15), "2024-03-15T19:30", "clock_24h"),
        ("09:15:30", dt.date(2024, 3, 15), "2024-03-15T09:15:30", "clock_24h"),
        # sub-day periods carry the ISO time designator
        ("every two hours", dt.date(2024, 3, 15), "PT2H", "period_set"),
        ("hourly", dt.date(2024, 3, 15), "PT1H", "period_set"),
        ("two and a half hours", dt.date(2024, 3, 15), "PT150M", "frac_period"),
        ("half a day", dt.date(2024, 3, 15), "PT12H", "half_unit"),
    ],
)
def test_subday_values(surface, anchor, expected, kind):
    det = detect_timexes(surface)
    assert len(det) == 1 and det[0]["kind"] == kind, det
    assert normalize_timex(det[0]["surface"], det[0]["kind"], anchor) == expected


def test_subday_date_only_anchor_drops():
    # a date-only anchor (header-scan fallback) cannot place a sub-day
    # offset -> silent drop (O3); calendar kinds are UNCHANGED by a
    # datetime anchor (date part only)
    d, full = dt.date(2024, 3, 15), dt.datetime(2024, 3, 15, 10, 30)
    assert normalize_timex("three hours ago", "ago", d) is None
    assert normalize_timex("half an hour ago", "half_unit", d) is None
    assert normalize_timex("two days ago", "ago", full) == \
        normalize_timex("two days ago", "ago", d) == "2024-03-13"
    assert normalize_timex("last friday", "rel_weekday", full) == \
        normalize_timex("last friday", "rel_weekday", d)


def test_clock_24h_no_false_positives():
    for text in ("the score was 16:9", "odds of 2:1", "ratio 3:2",
                 "verse 24:60", "id 99:99"):
        assert detect_timexes(text) == [], text
    # am/pm continuations stay with the 12h clock kind
    assert detect_timexes("at 10:30 am")[0]["kind"] == "clock_time"


def test_subday_interval_is_its_day():
    assert timeml_interval("2024-03-15T07") == \
        (dt.date(2024, 3, 15), dt.date(2024, 3, 15))
    assert timeml_interval("2024-03-15T10:30:45") == \
        (dt.date(2024, 3, 15), dt.date(2024, 3, 15))
    assert timeml_interval("PT2H") is None


@pytest.mark.parametrize(
    "surface,expected",
    [
        # "[TimeSpan] at [Time]" composition: ONE timex, the resolved
        # day + the clock — without it the clock fragment mis-anchors
        # to the turn's day
        ("tomorrow at 19:30", "2024-03-16T19:30"),
        ("yesterday at 3 pm", "2024-03-14T15:00"),
        ("at noon tomorrow", "2024-03-16T12:00"),
        ("march 5, 2021 at midnight", "2021-03-05T00:00"),
        ("tomorrow morning at 9 am", "2024-03-16T09:00"),
    ],
)
def test_date_at_time_values(surface, expected):
    det = detect_timexes(surface)
    assert len(det) == 1 and det[0]["kind"] == "date_at_time", det
    assert _norm(surface) == expected


def test_date_at_time_guards():
    # bare clocks stay with their own kinds; an invalid 12h clock
    # degrades the composition to the DATE value (the date was a valid
    # standalone timex before composition — recall preserved)
    assert detect_timexes("at 19:30")[0]["kind"] == "clock_24h"
    assert detect_timexes("3 pm")[0]["kind"] == "clock_time"
    det = detect_timexes("at 13 pm tomorrow")
    assert det[0]["kind"] == "date_at_time"
    assert normalize_timex(det[0]["surface"], det[0]["kind"], ANCHOR) == \
        "2024-03-16"


@pytest.mark.parametrize(
    "surface,expected",
    [
        # round 6: clock-FIRST juxtaposition — "19:30 yesterday" means
        # yesterday's 19:30, ONE timex (previously two fragments with the
        # clock mis-anchored to the turn day)
        ("19:30 yesterday", "2024-03-14T19:30"),
        ("19:30 on friday", "2024-03-15T19:30"),
        ("10:15 tomorrow", "2024-03-16T10:15"),
        ("3 pm on march 5, 2021", "2021-03-05T15:00"),
        # worded-AMPM clock composes through the sibling
        # date_at_time_word span (own kind purely for the tighter
        # prefilter; shared handler)
        ("5 in the afternoon on friday", "2024-03-15T17:00"),
        ("at 8 in the morning tomorrow", "2024-03-16T08:00"),
    ],
)
def test_date_at_time_clock_first(surface, expected):
    det = detect_timexes(surface)
    assert len(det) == 1, det
    assert det[0]["kind"] in ("date_at_time", "date_at_time_word"), det
    assert _norm(surface) == expected


def test_hour_ampm_word_and_tod_guards():
    # worded-AMPM hour (en.grammar:217): full "in the <part>" required
    assert _norm("5 in the afternoon") == "2024-03-15T17:00"
    assert detect_timexes("chapter 5 in the book") == []
    # invalid 12h hour silently drops
    assert _norm("13 in the afternoon") is None
    # counted bare-plural tod fragments silently drop (not grammar
    # Units): the dead counted_tod_drop span wins the sweep and its
    # value is None (the F5 normalized-timex filter discards it) —
    # robust to any count word and any whitespace run
    for phrase in ("two mornings ago", "we met 3 evenings ago",
                   "two  mornings ago", "eleven mornings",
                   "twenty mornings there", "a few evenings"):
        det = detect_timexes(phrase)
        assert [d["kind"] for d in det] == ["counted_tod_drop"], phrase
        assert normalize_timex(det[0]["surface"], det[0]["kind"],
                               ANCHOR) is None
    # the recurring-set readings stay
    assert _norm("every morning") == "XXXX-XX-XXTMO"
    assert detect_timexes("most mornings work")[0]["kind"] == "tod_set"


def test_weekday_tod_rel_prefix():
    # rel_weekday family widened into the part-of-day composition:
    # ONE span from the rel word (anchor 2024-03-15 is a Friday)
    det = detect_timexes("see you next tuesday morning")
    assert [(d["kind"], d["surface"]) for d in det] == [
        ("weekday_tod", "next tuesday morning")
    ]
    assert _norm("next tuesday morning") == "2024-03-19TMO"
    assert _norm("last monday evening") == "2024-03-11TEV"
    # bare form unchanged (W7 two-candidate: Fri anchor -> fwd monday at
    # distance 3 beats back monday at 4)
    assert _norm("monday morning") == "2024-03-18TMO"
    # plural set forms unaffected by the prefix widening
    assert _norm("monday mornings") == "XXXX-WXX-1TMO"


def test_rel_month_and_this_partial():
    # en.grammar:398-400/426-428 FindEarlier/FindLater over the
    # MonthOfYear Partial, and :389+440-441 this/that AllowsThis.
    # Anchor 2024-03-15 is a Friday in ISO week 11.
    assert _norm("last january") == "2024-01"
    assert _norm("last march") == "2023-03"   # own month is not earlier
    assert _norm("next june") == "2024-06"
    assert _norm("next march") == "2025-03"   # own month is not later
    assert _norm("this january") == "2024-01"
    # this/that weekday = the CURRENT ISO week's occurrence, not the
    # W7-nearest ("this friday" from a Monday anchor differs from bare)
    import datetime as dtm

    monday = dtm.date(2024, 3, 11)
    assert normalize_timex("this friday", "rel_weekday", monday) == \
        "2024-03-15"
    assert normalize_timex("friday", "weekday", monday) == "2024-03-08"
    # year continuations stay with their own kinds (lookahead)
    det = detect_timexes("due last january 2020")
    assert [(d["kind"], d["surface"]) for d in det] == [
        ("month_year", "january 2020")
    ]
    # a month-day partial KEEPS the direction word — W7-nearest would
    # put a "next" date in the past ("next january 1st" from March)
    det2 = detect_timexes("due next june 5")
    assert [(d["kind"], d["surface"]) for d in det2] == [
        ("rel_month", "next june 5")
    ]
    assert _norm("next june 5") == "2024-06-05"
    assert _norm("next january 1st") == "2025-01-01"
    # "last march 20": the latest such date strictly before the anchor
    assert _norm("last march 20") == "2023-03-20"  # 2024-03-20 >= 3/15
    assert _norm("last march 20", anchor=dt.date(2024, 3, 25)) == \
        "2024-03-20"
    # a full date with year is not a rel_month span
    det3 = detect_timexes("next january 1, 2020")
    assert det3[0]["kind"] == "month_day_year"


def test_rel_consistency_review_fixes():
    # "that <weekday> at <clock>" must still compose (regression guard:
    # adding "that" to rel_weekday without _DATE_AT_ALT killed it)
    det = detect_timexes("that tuesday at noon")
    assert det[0]["kind"] == "date_at_time"
    assert _norm("that tuesday at noon") == "2024-03-12T12:00"
    # eve guard through the composing patterns
    assert detect_timexes("the week of new year's eve") == []
    assert detect_timexes("two days before christmas eve") == []
    # period-offset weekday inners share the this/that ISO-week rule
    monday = dt.date(2024, 3, 11)
    det2 = detect_timexes("two days after this sunday")
    assert det2[0]["kind"] == "period_offset_date"
    assert normalize_timex(det2[0]["surface"], det2[0]["kind"], monday) == \
        "2024-03-19"
    det3 = detect_timexes("the day before that sunday")
    assert det3[0]["kind"] == "period_offset_date"
    assert normalize_timex(det3[0]["surface"], det3[0]["kind"], monday) == \
        "2024-03-16"
    # rel_season synonym families match the sibling partials
    assert _norm("that summer") == "2024-SU"
    assert _norm("past winter") == "2023-WI"
    assert _norm("following summer") == "2024-SU"


def test_holiday_eve_guard():
    # eves are not grammar-backed: emitting the bare-holiday fragment
    # would name the WRONG day (Dec 25 for a phrase meaning Dec 24)
    assert detect_timexes("new year's eve") == []
    assert detect_timexes("christmas eve") == []
    # non-eve forms unchanged
    assert detect_timexes("christmas day")[0]["kind"] == "holiday"
    assert detect_timexes("new year's day")[0]["kind"] == "holiday"


def test_past_weekend():
    # the span begins at the rel word ("the" stays outside, like the
    # other rel-prefixed weekend forms)
    det = detect_timexes("the past weekend")
    assert [(d["kind"], d["surface"]) for d in det] == [
        ("weekend", "past weekend")
    ]
    assert normalize_timex("past weekend", "weekend", ANCHOR) == "2024-W10-WE"
    assert _norm("that weekend") == "2024-W11-WE"


def test_weekday_date_composition_and_abbrs():
    # "[DayOfWeek] [MonthDay]" (en.grammar:239) is ONE timex — the bare
    # weekday fragment's W7 value could CONTRADICT the named date
    det = detect_timexes("friday march 5")
    assert [(d["kind"], d["surface"]) for d in det] == [
        ("weekday_date", "friday march 5")
    ]
    # nearest year where March 5 IS a friday (2021 back vs 2027 fwd)
    assert _norm("friday march 5") == "2027-03-05"
    # an explicit year governs regardless of weekday arithmetic
    assert _norm("friday, march 5, 2021") == "2021-03-05"
    # the composition threads through date_at_time
    assert _norm("friday march 5, 2021 at midnight") == "2021-03-05T00:00"
    # abbreviations only in COMPOSED contexts (precision gate: sat/sun/
    # wed/mon are verb/noun homographs)
    assert _norm("next fri") == "2024-03-22"
    assert _norm("mon morning") == "2024-03-18TMO"
    assert detect_timexes("we sat down") == []
    assert detect_timexes("the sun is out") == []
    assert detect_timexes("see you fri") == []


def test_weekday_date_detached_comma():
    # a standalone comma is its own whitespace word: "friday , march 5"
    # puts 3 words left of the first digit, and the digit-region scan must
    # reach that far to find the composed span the full-text regex finds
    for text in ("friday , march 5 , 2021", "friday, march 5, 2021"):
        det = detect_timexes(text)
        assert [(d["kind"], d["surface"]) for d in det] == [
            ("weekday_date", text)
        ], text
        assert _norm(text) == "2021-03-05"
    assert [d["kind"] for d in detect_timexes("friday , march 5")] == [
        "weekday_date"
    ]


def test_region_bounded_scan_matches_full_scan():
    # the region-bounded patterns (scanned only near their indicator
    # tokens) must find EXACTLY the spans a full-text scan finds — the
    # margins are upper bounds on each pattern's reach incl. lookaheads.
    # The test calls the PRODUCTION window helper (_bounded_windows), so
    # it validates the real code path, not a copy.
    from kgpipe.timex import TIMEX_PATTERNS, _REGION_BOUNDED, _bounded_windows

    pats = {k: p for k, p in TIMEX_PATTERNS if k in _REGION_BOUNDED}
    assert set(pats) == set(_REGION_BOUNDED)
    cases = [
        "meet tomorrow at 19:30 ok", "at noon on friday march 5, 2021 x",
        "5 in the afternoon on friday", "up to 30 minutes or more",
        "two weeks or so later", "in 2 1/2 years from now",
        "2 1/2 years ago", "nothing here at all", "a:b c:d 16:9 score",
        "i am here, the stream is on", "19:30 yesterday",
        "friday march 5, 2021 at midnight", "at 8 in the morning tomorrow",
        "noon\nnext friday", "up to\ntwo weeks ago", "9 pm 10 pm 11 pm",
        "::: odd ::: 1/2 ::: tokens",
        # MARGIN-TIGHT cases: a truncated trailing negative lookahead
        # would vacuously pass and mis-ACCEPT (not just miss) — the
        # up-to branch's full reach is 6 words past the indicator
        "up to a couple of weeks ago", "up to twenty one days earlier",
        "due at NOON ON FRIDAY", "AT 19:30 YESTERDAY ok",
        # str.lower() length drift (Turkish dotted capital I lowercases
        # to two chars) must not misalign or overflow the windows
        "İ" * 40 + " meet tomorrow at 19:30 ok",
        # clock_time / mod_in_span bounded-kind cases
        "at 10:30 am today", "3pm sharp", "7 p.m. tonight",
        "earlier in the year", "later in 2020", "part of the quarter",
        "an example of programming", "the stream of data",
        # standalone punctuation and a detached-comma weekday date
        ",", "friday , march 5",
        # standalone , . / - and weekdays next to clocks and fractions
        ".", "/", "-", ", . / -", "friday", "mon 3pm", "next fri at noon",
        "tue , march 5 at 10:30", "wed . 8 p.m. -", "sat / 9 am",
        "sunday - 2 1/2 hours / or so", "thu. up to 3 days , ago",
        "saturday 19:30 / monday 7 am .",
        # JSON and log lines: colons that are not between digits
        '{"a": 1}', "ERROR: x", "12:30:45 start",
        '{"ts": "10:30", "level": "INFO"} at noon',
    ]
    for t in cases:
        for kind, pat in pats.items():
            full = [(m.start(), m.end()) for m in pat.finditer(t)]
            bounded = []
            for b, e in _bounded_windows(t, kind):
                bounded += [(m.start(), m.end()) for m in pat.finditer(t, b, e)]
            assert full == bounded, (kind, t, full, bounded)
    # the crash repro from review: must not raise
    assert detect_timexes("İ" * 40 + " meet tomorrow at 19:30 ok")


@settings(max_examples=150, deadline=None)
@given(st.text(alphabet=st.characters(max_codepoint=0x2FF), max_size=120))
def test_word_memoized_prefilter_matches_whole_text_scan(t):
    # the per-word memoized gate-clause mask must equal the whole-text
    # substring scan — sound because every gate literal is single-word;
    # fuzz includes unicode whose lower() can change length
    from kgpipe.regex_gate import fold
    from kgpipe.timex import _GATES, _word_quick_keys

    folded = fold(t)
    full = 0
    for lit, clauses in _GATES.literals:
        if lit in folded:
            full |= clauses
    per_word = 0
    for w in set(folded.split()):
        per_word |= _word_quick_keys(w)
    assert full == per_word


def test_quick_key_gate_simple_vs_full_case_folding():
    # same folding class as the indicator gate: 'FRİDAY' (Turkish dotted
    # capital I) matches the weekday regex under re.IGNORECASE, but
    # 'FRİDAY'.lower() is 'fri̇day' (combining dot) which does NOT contain
    # the 'friday' quick key — the fold-lowered prefilter must keep the
    # pattern scan alive
    from kgpipe.timex import detect_timexes

    spans = detect_timexes("see you next FRİDAY")
    assert any(s["kind"] in ("partial_rel_unit", "rel_weekday", "weekday")
               or "FRİDAY" in s["surface"] for s in spans), spans
    # and the plain-ASCII reading is unchanged
    assert detect_timexes("see you next FRIDAY")


def test_fold_matches_ignorecase_exhaustively():
    # the gate fold must agree with re.IGNORECASE on every code point the
    # engine matches to an ASCII letter: besides A-Z that is the Kelvin
    # sign, 'İ' (which str.lower() turns into 'i' + a combining dot), and
    # the dotless 'ı' and long 'ſ', which re matches as 'i' and 's' although
    # lower() keeps them apart
    import re
    import string

    from kgpipe.regex_gate import fold

    everything = "".join(
        chr(c) for c in range(0x110000) if not 0xD800 <= c <= 0xDFFF
    )
    matched = [m.group() for m in re.finditer(r"(?i)[a-z]", everything)]
    assert {"İ", "ı", "ſ", "\u212a"} <= set(matched)
    for c in matched:
        f = fold(c)
        assert f in string.ascii_lowercase, (hex(ord(c)), f)
        assert re.fullmatch("(?i)" + f, c), (hex(ord(c)), f)


def test_fold_keeps_dotless_i_and_long_s_detections():
    # 'frıday' and 'yeſterday' match the weekday / rel_day regexes under
    # re.IGNORECASE; a str.lower() gate dropped them, and dropped the
    # season_year span of 'ſpring 2020'
    from tests.test_timex_differential import _detect_full_scan

    for text, kind in [
        ("see you next frıday", "rel_weekday"),
        ("yeſterday we met", "rel_day"),
        ("ſpring 2020", "season_year"),
    ]:
        det = detect_timexes(text)
        assert det == _detect_full_scan(text), text
        assert [d["kind"] for d in det] == [kind], (text, det)


def _gate_fuzz_alphabet():
    from kgpipe.timex import _GATES

    lits = [lit for lit, _ in _GATES.literals]
    variants = [
        v for lit in lits for v in (
            lit.upper(), lit.replace("i", "ı"), lit.replace("s", "ſ"),
            lit.upper().replace("I", "İ"),
        ) if v != lit
    ]
    return sorted(set(
        lits + variants + list(" \n\t,./-:'0123456789")
        + ["  ", " , ", "5th", "2021", "1990s", "a.m.", "10:30", "3/5/2021"]
    ))


@settings(max_examples=400, deadline=None)
@given(st.data())
def test_derived_gate_is_sound(data):
    # for every pattern, a false derived gate implies the regex cannot
    # match: the gate is a CNF over the pattern's own literals (see
    # kgpipe.regex_gate), evaluated per word on the folded text
    from kgpipe.timex import (
        _DIGIT_RE, _GATES, TIMEX_PATTERNS, _text_prefilters,
    )

    alphabet = _gate_fuzz_alphabet()
    words = data.draw(st.lists(st.sampled_from(alphabet), max_size=12))
    seps = data.draw(st.lists(
        st.sampled_from(["", " ", "  ", "\n", ", ", " - ", "/"]),
        min_size=len(words), max_size=len(words),
    ))
    t = "".join(w + s for w, s in zip(words, seps))
    mask, _bits = _text_prefilters(t, _DIGIT_RE.search(t) is not None)
    for kind, pat in TIMEX_PATTERNS:
        need = _GATES.need[kind]
        if mask & need != need:
            assert pat.search(t) is None, (kind, t)


@settings(max_examples=400, deadline=None)
@given(st.data())
def test_gated_scan_matches_full_scan_with_punctuation(data):
    # the whole detector (literal gates, digit window, indicator windows)
    # against its full-scan spec, on the gate literals, their case-fold
    # variants and digit tokens joined by punctuation as well as spaces,
    # plus matches that reach far from their digit on either side (a
    # digit window narrower than the derived reach truncates them)
    from tests.test_timex_differential import _detect_full_scan

    far_reaching = [
        "the day after tomorrow at 5 in the morning",
        "at 8 in the evening on the day before yesterday",
        "twenty one days ago at 10:30 am", "in 2 1/2 years",
    ]
    words = data.draw(st.lists(st.one_of(
        st.sampled_from(_gate_fuzz_alphabet()), st.sampled_from(far_reaching)
    ), max_size=14))
    seps = data.draw(st.lists(
        st.sampled_from([" ", "  ", "\n", ", ", " - ", "/", "", ". "]),
        min_size=len(words), max_size=len(words),
    ))
    t = "".join(w + s for w, s in zip(words, seps))
    assert detect_timexes(t) == _detect_full_scan(t), repr(t)


def test_scan_layout_follows_the_derived_reach():
    # a kind whose matches the derivation bounds to a finite digit reach
    # scans the digit window; only the others may keep a hand-set
    # indicator window
    import math

    from kgpipe.timex import _DIGIT_BOUNDED, _GATES, _REGION_BOUNDED, _SCAN_PLAN

    finite = {
        k for k, r in _GATES.reach.items()
        if r is not None and max(r) < math.inf
    }
    assert finite == set(_DIGIT_BOUNDED)
    # each digit-bounded kind scans the window of its own reach, not the
    # widest one
    assert {kind: reach for _, kind, _, _, reach, _ in _SCAN_PLAN
            if reach is not None} == {k: _GATES.reach[k] for k in finite}
    assert not finite & set(_REGION_BOUNDED)
    assert set(_REGION_BOUNDED) == {"date_at_time", "period_approx"}
    assert {"clock_time", "frac_slash", "date_at_time_word"} <= finite


@settings(max_examples=300, deadline=None)
@given(st.lists(st.sampled_from(
    list("ap.m:nod/ 0123456789\n\tuortsielPAMİ,-") +
    ["noon", "up to", "or so", "part of", "earlier in", "1/2", "p.m.",
     "3 in the", "midnight", "in,", "set-up", "AM", "afternoon",
     "example", "particular", '{"a": 1}', "ERROR: x", "12:30:45 start"]
), max_size=40).map("".join))
def test_indicator_word_gate_is_sound(t):
    # the word-level indicator-presence gate may only skip a region-bounded
    # kind's indicator scan when the indicator PROVABLY cannot match: for
    # every fuzz text and kind, gate == False implies zero indicator hits
    # (over-firing is allowed — it just runs the scan)
    from kgpipe.timex import (
        _MAX_CACHED_WORD, _REGION_BOUNDED, _region_kind_possible,
        _word_indicator_bits,
    )

    bits = set()
    for w in set(t.split()):
        if len(w) <= _MAX_CACHED_WORD:
            bits |= _word_indicator_bits(w)
        else:
            bits |= _word_indicator_bits.__wrapped__(w)
    for kind, (ind, _, _) in _REGION_BOUNDED.items():
        if not _region_kind_possible(kind, bits):
            hit = ind.search(t)
            assert hit is None, (kind, t, hit)


def test_indicator_word_gate_simple_vs_full_case_folding():
    # re.IGNORECASE uses SIMPLE per-char folding ('İ' matches pattern 'i')
    # while str.lower() uses FULL folding ('İ' -> 'i' + combining dot); the
    # gate must be computed with the regex engine, not lowered-string
    # prefix tests, or "mİdnight" would skip a scan whose indicator matches
    from kgpipe.timex import (
        _REGION_BOUNDED, _region_kind_possible, _word_indicator_bits,
    )

    t = "at mİdnight on friday"
    assert "mİdnight".lower() != "midnight"
    ind, _, _ = _REGION_BOUNDED["date_at_time"]
    assert ind.search(t) is not None  # the indicator DOES match
    bits = set()
    for w in set(t.split()):
        bits |= _word_indicator_bits(w)
    assert _region_kind_possible("date_at_time", bits)


def test_sentence_period_does_not_fuse_clock_with_next_sentence():
    # "8 pm." + capitalized next sentence: the bare am/pm form must not
    # consume the sentence period and compose with the NEXT sentence's
    # date (regression: 'It was 8 pm. Tomorrow ...' read 2024-03-16T20:00)
    det = detect_timexes("It was 8 pm. Tomorrow is another day.")
    assert [(d["kind"], d["surface"]) for d in det] == [
        ("clock_time", "8 pm"), ("rel_day", "Tomorrow")
    ]
    # internally-dotted forms still compose across their own span
    assert _norm("8 p.m. tomorrow") == "2024-03-16T20:00"
    assert _norm("8 pm tomorrow") == "2024-03-16T20:00"
