"""The fused path's batch pre-screen (``text.mention_screen``) and its
Arrow kernel (``pair.triples_batch``).

The screen may only narrow: a turn whose text misses it must have no
entity mention surviving F1/F2. The kernel must give exactly the rows of
``turn_triples``, turn by turn, in input order, whichever part of the batch
the screen sends through Python.
"""

from __future__ import annotations

import datetime as dt
import random
import string
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from kgpipe.config import PipelineConfig
from kgpipe.fixtures import synthetic_transcripts
from kgpipe.pair import triples_batch, turn_triples
from kgpipe.resources import Gazetteer, builtin_gazetteer_rows
from kgpipe.text import mention_screen

CFG = PipelineConfig()
COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]

# terms whose first word a symbol token opens: "K" (U+212A) lowercases to
# "k", "İ" (U+0130) to "i̇", "É" to "é"; "a.b" and "ab-" equal no token
_EDGE_ROWS = [
    ("C701", "T061", "k ras"),
    ("C702", "T061", "+ plus"),
    ("C703", "T061", "é foo"),
    ("C704", "T061", "i̇ bar"),
    ("C705", "T061", "a.b"),
    ("C706", "T061", "ab-"),
    ("C707", "T061", "don't stop"),
]


@pytest.fixture(scope="module")
def edge_gazetteer():
    return Gazetteer.from_rows(builtin_gazetteer_rows() + _EDGE_ROWS)


def _hits(texts, pattern):
    return pc.fill_null(
        pc.match_substring_regex(pa.array(texts, pa.string()), pattern), False
    ).to_pylist()


def _has_mention(text, gazetteer, blacklist, cfg=CFG):
    return any(
        t["pred"] == "entity-mention"
        for t in turn_triples("c", 0, "user", None, None, text, gazetteer, blacklist, cfg)
    )


def _alphabet(gazetteer):
    words = sorted(gazetteer.first_words)
    return (
        words + [w.upper() for w in words] + [w.title() for w in words]
        + ["ras", "plus", "foo", "bar", "stop", "ſ", "\u212a", "İ", "ı", "É",
           "-", "'", "+", ".", ",", "/", "(", ")", ":", "0", "1", "2", "11",
           "\n", " ", "  ", "\t"]
    )


@settings(max_examples=400, deadline=None)
@given(st.data())
def test_screen_miss_implies_no_mention(edge_gazetteer, blacklist, data):
    alphabet = _alphabet(edge_gazetteer)
    text = "".join(data.draw(st.lists(st.sampled_from(alphabet), max_size=14)))
    for cfg in (CFG, PipelineConfig(use_conmod=True)):
        (hit,) = _hits([text], mention_screen(edge_gazetteer, blacklist, cfg))
        if not hit:
            assert not _has_mention(text, edge_gazetteer, blacklist, cfg), text


@pytest.mark.parametrize("text", ["ſspark x", "x \u212aspark", "xſspark", "SPARK\n"])
def test_screen_pinned_hits(text, gazetteer, blacklist):
    # each text has a surviving mention; an all-(?i) pattern misses the
    # first two, because under case folding RE2's [^A-Za-z0-9] excludes
    # ſ (U+017F) and K (U+212A)
    assert _has_mention(text, gazetteer, blacklist), text
    assert _hits([text], mention_screen(gazetteer, blacklist, CFG)) == [True]


@pytest.mark.parametrize("text", ["x\u212a ras", "x+ plus", "xÉ foo", "xİ bar", "don't stop"])
def test_screen_pinned_symbol_token_hits(text, edge_gazetteer, blacklist):
    # a term opened by a symbol token: the token needs no word boundary
    assert _has_mention(text, edge_gazetteer, blacklist), text
    assert _hits([text], mention_screen(edge_gazetteer, blacklist, CFG)) == [True]


def test_screen_leaves_out_terms_that_cannot_survive(gazetteer, blacklist):
    screen = mention_screen(gazetteer, blacklist, CFG)
    # "ice": single-word blacklisted (F2); "aspirin": tui T121 (F1);
    # "hash" opens the multi-word "hash join"
    assert _hits(["ice", "aspirin", "sparkle", "hash brown"], screen) == [
        False, False, False, True,
    ]
    nothing = mention_screen(gazetteer, blacklist, PipelineConfig(keep_tui="T999"))
    assert _hits(["spark", "", None], nothing) == [False, False, False]


def test_only_dotted_capital_i_lowercases_to_two_chars():
    # mention_screen's symbol-token alternatives rest on this fact of
    # str.lower: one character (U+0130) lowercases to more than one
    longer = [c for c in map(chr, range(sys.maxunicode + 1)) if len(c.lower()) > 1]
    assert longer == ["İ"]


def test_case_insensitive_re2_covers_str_lower():
    # a symbol token c opens a term whose first word is c.lower(); the
    # screen matches it with (?i:c.lower()), so RE2's case folding must
    # relate every such pair
    by_lower: dict = {}
    for c in map(chr, range(sys.maxunicode + 1)):
        low = c.lower()
        if low != c and len(low) == 1 and not c.isspace():
            by_lower.setdefault(low, []).append(c)
    for low, chars in by_lower.items():
        pattern = "(?i:\\x{%x})" % ord(low)
        assert all(_hits(chars, pattern)), (low, chars)


def _batch(rows, tz):
    ts = pa.array([r[5] for r in rows], pa.timestamp("us"))
    if tz is not None:
        # Spark's session time zone: the column holds instants whose wall
        # time in ``tz`` is the naive value
        ts = pc.assume_timezone(ts, tz)
    return pa.RecordBatch.from_arrays(
        [
            pa.array([r[0] for r in rows], pa.string()),
            pa.array([r[1] for r in rows], pa.int32()),
            pa.array([r[2] for r in rows], pa.string()),
            pa.array([r[3] for r in rows], pa.string()),
            pa.array([r[4] for r in rows], pa.string()),
            ts,
        ],
        names=COLS,
    )


def _rows():
    pdf = synthetic_transcripts(n_conv=12, turns_per_conv=5, seed=11, hot_conv_factor=3)
    rows = [
        (r.conv_id, int(r.turn_idx), r.role, r.text, r.tool,
         None if r.ts is None or r.ts != r.ts else r.ts.to_pydatetime())
        for r in pdf.itertuples(index=False)
    ]
    t0 = dt.datetime(2024, 3, 10, 23, 30)
    return rows + [
        ("e", 0, "user", None, "bash", t0),                        # null text
        ("e", 1, "user", "Principal Date 20240301\nno terms here", None, None),
        ("e", 2, "user", "Principal Date 20240301\nfolfox on 3/5/2024", "", None),
        ("e", 3, None, "plain words only", "bash", t0),             # null role
        ("e", 4, "agent", "plain words only", "", t0),             # empty tool
        ("e", 5, "agent", "cisplatin 2 days ago", "", t0),
        ("e", 6, "user", "x \u212aspark and ſspark", None, dt.datetime(1969, 12, 31, 23)),
        (None, 7, "user", "no conv id", "bash", t0),
        ("e", None, "user", "no turn idx", "bash", t0),
    ]


def _expected(rows, gazetteer, blacklist, cfg):
    out = []
    for c, i, role, text, tool, ts in rows:
        out += turn_triples(c, i, role, tool, ts, text, gazetteer, blacklist, cfg)
    return out


@pytest.mark.parametrize("tz", [None, "UTC", "America/New_York"])
@pytest.mark.parametrize("use_dtr,use_conmod", [(False, False), (True, True)])
def test_batch_equals_turn_triples(tz, use_dtr, use_conmod, gazetteer, blacklist):
    cfg = PipelineConfig(use_dtr=use_dtr, use_conmod=use_conmod)
    rows = _rows()
    screen = mention_screen(gazetteer, blacklist, cfg)
    # the batch holds both kinds of turn
    passed = _hits([r[3] for r in rows], screen)
    assert any(passed) and not all(passed)
    got = triples_batch(_batch(rows, tz), gazetteer, blacklist, cfg, screen)
    assert got.to_pylist() == _expected(rows, gazetteer, blacklist, cfg)
    assert triples_batch(
        _batch(rows, tz), gazetteer, blacklist, cfg, None
    ).to_pylist() == _expected(rows, gazetteer, blacklist, cfg)


def test_batch_empty(gazetteer, blacklist):
    screen = mention_screen(gazetteer, blacklist, CFG)
    got = triples_batch(_batch([], "UTC"), gazetteer, blacklist, CFG, screen)
    assert got.num_rows == 0
    assert got.schema.names == [
        "subj", "pred", "obj", "anchor_date", "conv_id", "turn_idx",
        "subj_text", "obj_text", "instance",
    ]


def test_gazetteer_without_first_words_runs_every_turn(
    gazetteer, blacklist, monkeypatch
):
    import kgpipe.pair as pair_mod

    bare = Gazetteer(terms=gazetteer.terms, max_tokens=gazetteer.max_tokens)
    assert mention_screen(bare, blacklist, CFG) is None
    rows = _rows()
    expected = _expected(rows, bare, blacklist, CFG)
    calls = []
    real = pair_mod.turn_triples

    def counting(*a, **k):
        calls.append(a[0])
        return real(*a, **k)

    monkeypatch.setattr(pair_mod, "turn_triples", counting)
    got = triples_batch(_batch(rows, "UTC"), bare, blacklist, CFG, None)
    assert len(calls) == len(rows)
    assert got.to_pylist() == expected


def test_screen_too_large_for_re2_means_no_screen(blacklist):
    # RE2 refuses a pattern of ~100,000 alternatives ("pattern too large");
    # the fused path then runs every turn through the kernel
    rng = random.Random(0)
    words = {
        "".join(rng.choice(string.ascii_lowercase) for _ in range(rng.randint(4, 12)))
        for _ in range(100_000)
    }
    big = Gazetteer.from_rows([(f"C{i}", "T061", w) for i, w in enumerate(words)])
    assert mention_screen(big, blacklist, CFG) is None
