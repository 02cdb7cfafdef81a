"""Gates derived from a regex's parse tree (kgpipe.regex_gate): literal
CNFs and digit reach on small patterns whose answers are known."""

import math
import re

from kgpipe.regex_gate import DIGIT, battery_gates, fold


def _cnf(pattern, flags=0):
    """The derived CNF of one pattern as a set of literal sets."""
    g = battery_gates([("k", re.compile(pattern, flags))])
    clauses = []
    for i in range(g.need["k"].bit_length()):
        if g.need["k"] >> i & 1:
            lits = {lit for lit, mask in g.literals if mask >> i & 1}
            if g.digit_mask >> i & 1:
                lits.add(DIGIT)
            clauses.append(frozenset(lits))
    return set(clauses)


def _reach(pattern, flags=0):
    return battery_gates([("k", re.compile(pattern, flags))]).reach["k"]


def test_small_classes_stay_exact_and_digits_become_digit():
    assert _cnf(r"\bq[1-4]\b", re.I) == {frozenset({"q1", "q2", "q3", "q4"})}
    assert _cnf(r"\b(19|20)\d{2}\b") == {frozenset({"19", "20"})}
    assert _cnf(r"[0-9]+:[0-9]{2}") == {frozenset({":"}), frozenset({DIGIT})}


def test_case_and_alternation():
    # re.I literals are folded; branch CNFs are OR-ed and minimized, so a
    # longer literal that contains a shorter one drops out
    assert _cnf(r"\b(?:SEPT|Sep|september)\b", re.I) == {frozenset({"sep"})}
    assert _cnf(r"(?:last|next)\s+(?:week|month)") == {
        frozenset({"last", "next"}), frozenset({"week", "month"})
    }
    # an optional part requires nothing; a ? on an exact run keeps ""
    assert _cnf(r"(?:the\s+)?end") == {frozenset({"end"})}
    assert _cnf(r"x?y") == {frozenset({"y"})}


def test_literals_never_span_whitespace():
    # a literal space in the pattern: the run contributes its longest
    # whitespace-free piece, so per-word evaluation stays exact
    assert _cnf(r"end of the month") == {frozenset({"month"})}
    g = battery_gates([("a", re.compile(r"at a later date")),
                       ("b", re.compile(r"in\tthe  past"))])
    assert all(not any(c.isspace() for c in lit) for lit, _ in g.literals)


def test_digit_reach():
    assert _reach(r"\b\d{4}\b") == (0, 0)
    # weekday, detached comma, month: three runs before the first digit
    assert _reach(r"\b(?:mon|fri)\s*,?\s+(?:jan|feb)\s+\d{1,2}\b") == (3, 0)
    # an optional tail counts in full after the last digit: an upper bound
    assert _reach(r"\d{1,2}(?:\s*,?\s+\d{4})?") == (0, 2)
    # a lookahead counts: a window cut inside it would pass it vacuously
    assert _reach(r"\d+\s+days\b(?!\s+ago)") == (0, 2)
    # whitespace mixed with other characters under a repeat is unbounded
    assert _reach(r"(?:first|second)[\s-]+quarter\s+\d{4}")[0] == math.inf
    assert _reach(r"\d+.*x")[1] == math.inf
    assert _reach(r"\d$")[1] == math.inf
    # a match without a digit has no digit reach
    assert _reach(r"\d+|never") is None
    assert _reach(r"\w+") is None


def test_fold_is_the_engines_case_folding():
    assert fold("FRİDAY ſpring frıday Kelvin") == "friday spring friday kelvin"
    assert fold("ASCII Only") == "ascii only"
    assert len(fold("İİ x")) == 4
