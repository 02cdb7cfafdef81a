"""Necessary conditions derived from a regex's parse tree.

A filter in front of a costly regex scan must be sound: a false gate proves
that the regex cannot match. ``battery_gates`` derives each pattern's gates
from its ``re._parser`` tree, as RE2's prefilter does: a literal gate (a
CNF that every match satisfies) and a digit reach (how far a match can
extend around its digits). ``fold`` folds text as ``re.IGNORECASE`` does:
by simple lowercase (``'İ'`` -> ``'i'``, where ``str.lower`` gives
``'i̇'``) and the ``re._casefix`` pairs (``ı``/``i``, ``ſ``/``s``).
"""

from __future__ import annotations

import math
import re
from functools import lru_cache
from itertools import groupby
from re import _casefix, _parser
from re._constants import (
    ANY, ASSERT, ASSERT_NOT, AT, AT_BOUNDARY, AT_NON_BOUNDARY, ATOMIC_GROUP,
    BRANCH, CATEGORY, CATEGORY_DIGIT, CATEGORY_SPACE, IN, LITERAL, MAX_REPEAT,
    MAXREPEAT, MIN_REPEAT, NEGATE, NOT_LITERAL, POSSESSIVE_REPEAT, SUBPATTERN,
)
from typing import Dict, NamedTuple, Optional, Sequence, Tuple

import _sre

__all__ = ["BatteryGates", "DIGIT", "battery_gates", "fold"]

_EXACT_CAP = 64  # an exact string set larger than this becomes a clause
_CLASS_CAP = 4  # a class with at most this many members stays exact
_DIGIT_RE = re.compile(r"\d")
_REPEATS = (MAX_REPEAT, MIN_REPEAT, POSSESSIVE_REPEAT)
# holds iff the text has a digit; its space sets it apart from every literal
DIGIT = "a digit"
_TRUE: frozenset = frozenset()  # the CNF with no clause
_EMPTY_STR = frozenset([""])


@lru_cache(maxsize=65536)
def _fold_char(c: str) -> str:
    lo = _sre.unicode_tolower(ord(c))
    return chr(min((lo, *_casefix._EXTRA_CASES.get(lo, ()))))


def fold(s: str) -> str:
    """``s`` with every character folded as ``re.IGNORECASE`` folds it;
    length and whitespace are kept."""
    return s.lower() if s.isascii() else "".join(map(_fold_char, s))


_CATEGORY_CHAR = {CATEGORY_DIGIT: "0", CATEGORY_SPACE: " "}  # a stand-in
_ANY_CHAR = (None, True, True, True, False)


def _charset(op, av):
    """(members if few, else None; may be a digit; may be another
    character; may be whitespace; is only whitespace) of a one-character
    node, or None for any other node."""
    if op is LITERAL:
        av = [(LITERAL, av)]
    elif op is not IN or any(o is NEGATE for o, _ in av):
        return _ANY_CHAR if op in (ANY, NOT_LITERAL, IN) else None
    chars, exact = [], True
    for o, a in av:
        if o is CATEGORY:
            if a not in _CATEGORY_CHAR:
                return _ANY_CHAR
            chars.append(_CATEGORY_CHAR[a])
            exact = False
        else:
            chars += [chr(a)] if o is LITERAL else map(chr, range(a[0], a[1] + 1))
    digit = [_DIGIT_RE.match(c) is not None for c in chars]
    space = [c.isspace() for c in chars]
    return (chars if exact and len(chars) <= _CLASS_CAP else None,
            any(digit), not all(digit), any(space), all(space))


# --- literal gates --------------------------------------------------------


def _implies(a: str, b: str) -> bool:
    """Literal ``a`` present => literal ``b`` present."""
    if b == DIGIT:
        return a == DIGIT or _DIGIT_RE.search(a) is not None
    return a != DIGIT and b in a


@lru_cache(maxsize=4096)
def _min_clause(lits: frozenset) -> frozenset:
    """Drop each literal that implies another one of the clause."""
    kept: list = []
    for s in sorted(lits, key=lambda x: (x != DIGIT, len(x))):
        if not any(_implies(s, a) for a in kept):
            kept.append(s)
    return frozenset(kept)


@lru_cache(maxsize=4096)
def _clause_implies(b: frozenset, a: frozenset) -> bool:
    return b <= a or all(any(_implies(x, y) for y in a) for x in b - a)


def _min_cnf(clauses) -> frozenset:
    """Drop each clause that another clause implies."""
    kept: list = []
    for c in sorted(set(clauses), key=len):
        if not any(_clause_implies(k, c) for k in kept):
            kept = [k for k in kept if not _clause_implies(c, k)] + [c]
    return frozenset(kept)


def _cnf(exact: Optional[frozenset], cnf: frozenset) -> frozenset:
    """The CNF of a walk result; an exact set gives one clause of each
    string's longest whitespace-free piece."""
    if exact is None:
        return cnf
    pieces = frozenset(max(s.split() or [""], key=len) for s in exact)
    return _TRUE if "" in pieces else frozenset([_min_clause(pieces)])


def _lits(items) -> Tuple[Optional[frozenset], frozenset]:
    """(every folded string a concatenation can match, or None past
    _EXACT_CAP strings; its CNF when that is None). Exact runs grow by
    cross product; a run that stops, and each inexact node, add clauses."""
    clauses: list = []
    run, exact = _EMPTY_STR, True
    for is_literal, group in groupby(items, key=lambda item: item[0] is LITERAL):
        if is_literal:  # literal characters extend every string of the run
            lit = fold("".join(chr(c) for _, c in group))
            run = frozenset(a + lit for a in run)
            continue
        for op, av in group:
            x, cnf = _lits_node(op, av)
            if x is not None and len(run) * len(x) <= _EXACT_CAP:
                run = frozenset(a + b for a in run for b in x)
                continue
            exact = False
            clauses += _cnf(run, _TRUE) | cnf
            run = _EMPTY_STR if x is None else x
    return (run, _TRUE) if exact else (None, _min_cnf([*clauses, *_cnf(run, _TRUE)]))


def _lits_node(op, av) -> Tuple[Optional[frozenset], frozenset]:
    cs = _charset(op, av)
    if cs is not None:
        if cs[0] is not None:
            return frozenset(map(fold, cs[0])), _TRUE
        return None, _TRUE if cs[2] else frozenset([frozenset([DIGIT])])
    if op in (SUBPATTERN, ATOMIC_GROUP):
        return _lits(av[3] if op is SUBPATTERN else av)
    if op is BRANCH:
        branches = [_lits(b) for b in av[1]]
        union = frozenset().union(*(x or () for x, _ in branches))
        if all(x is not None for x, _ in branches) and len(union) <= _EXACT_CAP:
            return union, _TRUE
        acc, *rest = [_cnf(*b) for b in branches]
        for cnf in rest:  # OR distributes over the clauses
            acc = acc and cnf and _min_cnf(_min_clause(p | q) for p in acc for q in cnf)
        return None, acc
    if op in _REPEATS and av[1] > 0:
        lo, hi, sub = av
        x, cnf = _lits(sub)
        if lo == 0:
            return (x | _EMPTY_STR, _TRUE) if hi == 1 and x is not None else (None, _TRUE)
        return None, _cnf(x, cnf)
    return _EMPTY_STR, _TRUE  # assertions, {0}, group references


# --- digit reach ----------------------------------------------------------
#
# A run is a maximal run of whitespace. For a pattern whose every match
# holds a digit, take a window whose edges sit on whitespace ``left`` runs
# before a text's first digit and ``right`` runs after its last. Every path
# that can succeed, in the window or in the whole text, checks only
# characters the two share — lookbehinds and ``\b`` read a window edge as
# the whitespace it sits on — so a scan of the window finds exactly the full
# scan's matches.

_INF = math.inf


class _Reach(NamedTuple):
    digit: bool  # every match holds a digit
    ws: float  # runs the consumed characters can touch
    over: float  # runs a lookahead can touch past the end
    left: float  # runs before the first digit, when ``digit``
    right: float  # runs after the last digit, lookaheads included


_NOTHING = _Reach(False, 0, 0, _INF, _INF)
_BOUNDARIES = (AT_BOUNDARY, AT_NON_BOUNDARY)


def _reach(items) -> _Reach:
    a = _NOTHING
    for op, av in items:
        if op is LITERAL and not (_DIGIT_RE.match(chr(av)) or chr(av).isspace()):
            continue  # a letter or sign touches no run and holds no digit
        b = _reach_node(op, av)
        a = _Reach(
            a.digit or b.digit, a.ws + b.ws, max(a.over, b.over),
            a.left if a.digit else a.ws + b.left,
            max(b.right, a.over) if b.digit else a.right + b.ws + b.over,
        )
    return a


def _reach_node(op, av) -> _Reach:
    cs = _charset(op, av)
    if cs is not None:
        end = _INF if cs[2] else 0
        return _Reach(not cs[2], 1 if cs[3] else 0, 0, end, end)
    if op is AT:  # $ and \Z tell a window edge from whitespace
        return _NOTHING._replace(over=0 if av in _BOUNDARIES else _INF)
    if op in (ASSERT, ASSERT_NOT):
        s = _reach(av[1])
        return _NOTHING._replace(over=0 if av[0] < 0 else s.ws + s.over)
    if op in (SUBPATTERN, ATOMIC_GROUP):
        return _reach(av[3] if op is SUBPATTERN else av)
    if op is BRANCH:
        bs = [_reach(b) for b in av[1]]
        return _Reach(all(b.digit for b in bs), *(max(b[i] for b in bs) for i in range(1, 5)))
    if op in _REPEATS:
        lo, hi, sub = av
        x = _reach(sub)
        blank = len(sub) == 1 and (_charset(*sub[0]) or _ANY_CHAR)[4]
        # copies of one whitespace-only character make a single run
        ws = 0 if x.ws == 0 or hi == 0 else 1 if blank else x.ws * (
            _INF if hi == MAXREPEAT else hi)
        d = x.digit and lo > 0
        return _Reach(d, ws, x.over, x.left if d else _INF, x.right if d else _INF)
    return _Reach(False, _INF, _INF, _INF, _INF)  # group references


# --- a battery's tables ---------------------------------------------------


class BatteryGates(NamedTuple):
    """The gates of a regex battery, one bit per distinct clause."""

    need: Dict[str, int]  # kind -> mask of the clauses its regex requires
    literals: Tuple[Tuple[str, int], ...]  # (literal, clauses it satisfies)
    digit_mask: int  # clauses that ``DIGIT`` satisfies
    # kind -> (left, right) runs around the digits of every match, or None
    # when a match need not hold a digit; either bound may be math.inf
    reach: Dict[str, Optional[Tuple[float, float]]]


def battery_gates(battery: Sequence[Tuple[str, re.Pattern]]) -> BatteryGates:
    """Derive every pattern's literal CNF and digit reach.

    Kind K's CNF holds on ``fold(text)`` whenever K's regex matches
    ``text``. Its literals are whitespace-free, so a clause holds for a
    text iff it holds for one of the text's whitespace-split words — or,
    for ``DIGIT``, iff the text holds a ``\\d`` character."""
    trees = [(k, _parser.parse(p.pattern, p.flags).data) for k, p in battery]
    cnfs = {k: _cnf(*_lits(t)) for k, t in trees}
    reach = {k: _reach(t) for k, t in trees}
    clauses = sorted(set().union(*cnfs.values()), key=sorted)
    bit = {c: 1 << i for i, c in enumerate(clauses)}
    literals: Dict[str, int] = {}
    for c in clauses:
        for lit in c:
            literals[lit] = literals.get(lit, 0) | bit[c]
    return BatteryGates(
        {k: sum(bit[c] for c in cnf) for k, cnf in cnfs.items()},
        tuple(sorted((k, v) for k, v in literals.items() if k != DIGIT)),
        literals.get(DIGIT, 0),
        {k: (r.left, r.right) if r.digit else None for k, r in reach.items()},
    )
