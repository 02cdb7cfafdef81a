"""Golden end-to-end tests: the distributed pipeline (both plans) vs the
single-process reference-style oracle (SURVEY.md §5):

* triple P/R >= 0.95 gate (expected exactly 1.0: shared deterministic
  scorer, so any deviation is a dataflow bug);
* structured plan == fused plan row-for-row;
* per-turn text equality under stable (conv_id, turn_idx) ordering
  (the north-rule per-row invariant);
* annotation-id stability across runs.
"""

from __future__ import annotations

import datetime as dt
import re

import pandas as pd
import pytest
from pyspark.sql import functions as F

from kgpipe.config import PipelineConfig
from kgpipe.extract import annotate_union
from kgpipe.fixtures import synthetic_transcripts, synthetic_transcripts_df
from kgpipe.pipeline import build_annotations, build_triples

from .oracle_ref import process_corpus

KEY = ["subj", "pred", "obj", "conv_id", "turn_idx", "subj_text", "obj_text", "instance"]


def _canon_frame(pdf: pd.DataFrame) -> pd.DataFrame:
    # anchor_date is compared too (as string): the structured path's column
    # expression and the fused/oracle paths' anchor_for must agree, including
    # the X3 Principal-Date fallback on ts-less turns
    out = pdf[KEY + ["anchor_date"]].copy()
    out["anchor_date"] = out["anchor_date"].astype(str)
    return (
        out.fillna("_").astype({"turn_idx": int}).sort_values(KEY).reset_index(drop=True)
    )


def _pr(system: set, gold: set):
    tp = len(system & gold)
    p = tp / len(system) if system else 1.0
    r = tp / len(gold) if gold else 1.0
    return p, r


@pytest.fixture(scope="module")
def corpus_pdf():
    return synthetic_transcripts(n_conv=25, turns_per_conv=6, seed=7, hot_conv_factor=5)


@pytest.fixture(scope="module")
def corpus_df(spark, corpus_pdf):
    from kgpipe.schemas import TRANSCRIPTS_SCHEMA

    return spark.createDataFrame(corpus_pdf, schema=TRANSCRIPTS_SCHEMA).repartition(8)


@pytest.mark.parametrize("use_dtr,use_conmod", [(False, False), (True, True)])
def test_golden_pr_vs_oracle(spark, corpus_pdf, corpus_df, gazetteer, blacklist, use_dtr, use_conmod):
    cfg = PipelineConfig(use_dtr=use_dtr, use_conmod=use_conmod)
    sys_pdf = build_triples(corpus_df, gazetteer, blacklist, cfg, fused=False).toPandas()
    gold = pd.DataFrame(process_corpus(corpus_pdf, gazetteer, blacklist, cfg))

    sys_triples = set(map(tuple, sys_pdf[["subj", "pred", "obj"]].itertuples(index=False)))
    gold_triples = set(map(tuple, gold[["subj", "pred", "obj"]].itertuples(index=False)))
    p, r = _pr(sys_triples, gold_triples)
    assert p >= 0.95 and r >= 0.95, (p, r)
    assert p == 1.0 and r == 1.0, (
        sorted(sys_triples - gold_triples)[:5],
        sorted(gold_triples - sys_triples)[:5],
    )
    # full-row equality including instances (debug contract)
    assert _canon_frame(sys_pdf).equals(_canon_frame(gold))


def test_structured_equals_fused(corpus_df, gazetteer, blacklist):
    cfg = PipelineConfig(use_dtr=True, use_conmod=True)
    s = build_triples(corpus_df, gazetteer, blacklist, cfg, fused=False).toPandas()
    f = build_triples(corpus_df, gazetteer, blacklist, cfg, fused=True).toPandas()
    assert _canon_frame(s).equals(_canon_frame(f))


def test_structured_joins_broadcast_by_hint(spark, corpus_df, gazetteer, blacklist):
    """The band join and the token join broadcast their right side (timexes,
    token streams) whatever the size statistics say, so AQE cannot re-pick
    the build side from whichever cache stage reports first: with size-based
    broadcasting off, both stay broadcast joins built on the right."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        df = build_triples(corpus_df, gazetteer, blacklist, PipelineConfig(), fused=False)
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(key, prev)
    inner = re.findall(r"BroadcastHashJoin \[[^\]]*\], \[[^\]]*\], Inner, (\w+)", plan)
    assert inner == ["BuildRight", "BuildRight"], plan
    assert "SortMergeJoin" not in plan, plan


def test_per_turn_text_equality_invariant(spark, corpus_pdf, corpus_df, gazetteer, blacklist):
    """Per-row invariant on the union frame: every input turn gets exactly
    one token row under stable (conv_id, turn_idx) ordering, and every
    mention/timex surface is the turn text it spans (mention surfaces with
    newlines stripped)."""
    cfg = PipelineConfig()
    u = annotate_union(corpus_df, gazetteer, blacklist, cfg)
    toks = (
        u.where(F.col("kind_rank") == 2)
        .select("conv_id", "turn_idx")
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )
    inp = corpus_pdf[["conv_id", "turn_idx", "text"]].sort_values(
        ["conv_id", "turn_idx"]
    ).reset_index(drop=True)
    assert list(zip(toks.conv_id, toks.turn_idx)) == list(zip(inp.conv_id, inp.turn_idx))

    spans = (
        u.where(F.col("kind_rank") < 2)
        .select("conv_id", "turn_idx", "kind_rank", "begin", "end", "surface")
        .toPandas()
        .merge(inp, on=["conv_id", "turn_idx"], how="left", validate="m:1")
    )
    assert (spans.kind_rank == 0).any() and (spans.kind_rank == 1).any()
    for r in spans.itertuples(index=False):
        covered = r.text[r.begin:r.end]
        if r.kind_rank == 0:
            covered = covered.replace("\n", "")
        assert r.surface == covered, (r.conv_id, r.turn_idx, r.kind_rank, r.begin)


def test_union_frame_carries_tlink_label_and_interval(corpus_df, gazetteer, blacklist):
    """Every timex row of the union frame carries the tlink label and the
    TimeML interval that score.tlink_label / timex.timeml_interval give for
    its (normed, anchor_date), null when normed is; mention and token rows
    carry null."""
    from kgpipe.score import tlink_label
    from kgpipe.timex import timeml_interval

    rows = annotate_union(corpus_df, gazetteer, blacklist, PipelineConfig()).select(
        "kind_rank", "normed", "anchor_date", "tlink", "iv_begin", "iv_end"
    ).collect()
    for r in rows:
        if r.kind_rank != 1 or r.normed is None:
            want = (None, None, None)
        else:
            want = (tlink_label(r.normed, r.anchor_date),
                    *(timeml_interval(r.normed) or (None, None)))
        assert (r.tlink, r.iv_begin, r.iv_end) == want, r
    timex = [r for r in rows if r.kind_rank == 1]
    assert {r.kind_rank for r in rows} == {0, 1, 2}
    assert any(r.iv_begin is not None and r.iv_begin < r.iv_end for r in timex)
    assert len({r.tlink for r in timex}) > 2


def test_annotation_id_stability(corpus_df, gazetteer, blacklist):
    """Ids are a pure function of the turn content — two runs agree."""
    cfg = PipelineConfig()
    a = build_annotations(corpus_df, gazetteer, blacklist, cfg)["mentions"]
    b = build_annotations(corpus_df, gazetteer, blacklist, cfg)["mentions"]
    ka = a.select("conv_id", "turn_idx", "begin", "annotation_id").toPandas()
    kb = b.select("conv_id", "turn_idx", "begin", "annotation_id").toPandas()
    cols = ["conv_id", "turn_idx", "begin", "annotation_id"]
    assert ka.sort_values(cols).reset_index(drop=True).equals(
        kb.sort_values(cols).reset_index(drop=True)
    )


def test_id_format_and_window_tie_break(spark, gazetteer, blacklist):
    """Mentions precede timexes on equal begin; format {i}@e@{note}@system."""
    import datetime as dt

    from kgpipe.schemas import TRANSCRIPTS_SCHEMA

    rows = [("cT", 0, "user", "cisplatin 3/5/2024 then folfox", None, dt.datetime(2024, 3, 1))]
    df = spark.createDataFrame(rows, TRANSCRIPTS_SCHEMA)
    t = build_triples(df, gazetteer, blacklist, PipelineConfig(), fused=False).toPandas()
    em = t[t.pred == "entity-mention"].sort_values("subj")
    assert set(em.subj) == {"0@e@cT_0@system", "2@e@cT_0@system"}
    tl = t[t.pred.str.startswith("tlink:")]
    assert set(tl.obj) == {"1@e@cT_0@system"}


def _rows(df) -> list:
    """Every row of a triples frame as a tuple in TRIPLE_SCHEMA order (subj,
    pred, obj, anchor_date, conv_id, ...), sorted; nulls stay None."""
    return sorted(map(tuple, df.collect()), key=repr)


_TS = dt.datetime(2024, 3, 10, 9, 30)
# (conv_id, turn_idx, role, text, tool, ts)
_NORMAL_TURNS = [
    ("cN", 0, "user", "started cisplatin on 3/5/2024 and folfox yesterday", None, _TS),
    ("cN", 1, "assistant", "On 3/1/2024 carboplatin was held", "search", _TS),
]
_DEGENERATE_TURNS = [
    ("cD", None, "user", "cisplatin given on 3/5/2024", None, _TS),
    (None, 3, "assistant", "folfox 2 weeks ago", "search", _TS),
    (None, None, "user", "carboplatin on 3/5/2024", None, _TS),
    ("cD", 1, "user", None, "lookup", _TS),
    ("cD", 2, "user", "", None, _TS),
]


def test_empty_and_degenerate_inputs(spark, gazetteer, blacklist):
    from kgpipe.schemas import TRANSCRIPTS_SCHEMA

    cfg = PipelineConfig()
    empty = spark.createDataFrame([], TRANSCRIPTS_SCHEMA)
    assert build_triples(empty, gazetteer, blacklist, cfg, fused=False).count() == 0
    assert build_triples(empty, gazetteer, blacklist, cfg, fused=True).count() == 0

    # turns with a null key or null/empty text mixed into a batch: both
    # paths give the same rows (a null key reads `null` in every id), and
    # the normal turns' rows are the ones a run without the others gives
    mixed = spark.createDataFrame(_NORMAL_TURNS + _DEGENERATE_TURNS, TRANSCRIPTS_SCHEMA)
    s = _rows(build_triples(mixed, gazetteer, blacklist, cfg, fused=False))
    assert s == _rows(build_triples(mixed, gazetteer, blacklist, cfg, fused=True))
    subjects = {r[0] for r in s}
    assert {"turn@cD_null", "turn@null_3", "turn@null_null", "turn@cD_1"} <= subjects
    # the null-keyed turns pair their mention with their timex
    assert {
        (r[0], r[2]) for r in s if r[1].startswith("tlink:") and r[4] != "cN"
    } == {
        ("0@e@cD_null@system", "1@e@cD_null@system"),
        ("0@e@null_3@system", "1@e@null_3@system"),
        ("0@e@null_null@system", "1@e@null_null@system"),
    }
    normal = spark.createDataFrame(_NORMAL_TURNS, TRANSCRIPTS_SCHEMA)
    for fused in (False, True):
        alone = _rows(build_triples(normal, gazetteer, blacklist, cfg, fused=fused))
        assert [r for r in s if r[4] == "cN"] == alone, fused


def test_null_ts_turn_labels_tlink_none(spark, gazetteer, blacklist):
    """A turn with a null ts and no Principal Date header has no anchor, so
    its mention's tlink to an absolute date is labelled 'none' on both
    paths, row for row as the oracle gives it."""
    from kgpipe.schemas import TRANSCRIPTS_SCHEMA, TRIPLE_SCHEMA

    from .oracle_ref import process_turn

    cfg = PipelineConfig()
    turns = [("cZ", 0, "user", "started cisplatin on 3/5/2024", None, None)]
    want = sorted(
        (
            tuple(d[k] for k in TRIPLE_SCHEMA.fieldNames())
            for c, i, role, text, tool, ts in turns
            for d in process_turn(c, i, role, tool, ts, text, gazetteer, blacklist, cfg)
        ),
        key=repr,
    )
    assert [r[1] for r in want if r[1].startswith("tlink:")] == ["tlink:none"]
    df = spark.createDataFrame(turns, TRANSCRIPTS_SCHEMA)
    for fused in (False, True):
        assert _rows(build_triples(df, gazetteer, blacklist, cfg, fused=fused)) == want, fused


def test_corpus_without_gazetteer_hits(spark, gazetteer, blacklist):
    """A corpus in which no turn holds a gazetteer term, though every turn
    holds a date: both paths give its speaker and tool triples and nothing
    else, and the same rows."""
    from kgpipe.schemas import TRANSCRIPTS_SCHEMA

    cfg = PipelineConfig()
    turns = [
        ("cH", 0, "user", "rerun the loader on 3/5/2024 and again tomorrow", None, _TS),
        ("cH", 1, "assistant", "the job finished 2 days ago", "shell", _TS),
        ("cH", 2, None, "Principal Date 20240301\nnext review in 3 weeks", "search", None),
    ]
    df = spark.createDataFrame(turns, TRANSCRIPTS_SCHEMA)
    s = _rows(build_triples(df, gazetteer, blacklist, cfg, fused=False))
    assert s == _rows(build_triples(df, gazetteer, blacklist, cfg, fused=True))
    assert [r[:3] for r in s] == sorted([
        ("turn@cH_0", "speaker-attribution", "user"),
        ("turn@cH_1", "speaker-attribution", "assistant"),
        ("turn@cH_1", "tool-invocation", "shell"),
        ("turn@cH_2", "tool-invocation", "search"),
    ], key=repr)


def test_config_values_quoted_into_expressions(spark, blacklist):
    """A ``keep_tui`` holding a quote, a backslash, a ``${...}`` variable
    reference and non-ASCII text reaches the structured path's F1
    predicate as the same string: both paths keep the same mentions."""
    from kgpipe.resources import Gazetteer, builtin_gazetteer_rows
    from kgpipe.schemas import TRANSCRIPTS_SCHEMA

    tui = "T'0\\6${x}\u00e9\U0001F600\n"
    gaz = Gazetteer.from_rows(
        [(c, tui if t == "T061" else t, term) for c, t, term in builtin_gazetteer_rows()]
    )
    cfg = PipelineConfig(keep_tui=tui)
    df = spark.createDataFrame(_NORMAL_TURNS, TRANSCRIPTS_SCHEMA)
    s = _rows(build_triples(df, gaz, blacklist, cfg, fused=False))
    assert s == _rows(build_triples(df, gaz, blacklist, cfg, fused=True))
    assert sum(r[1] == "entity-mention" for r in s) == 3


# Corner cases of the structured path's tlink label and instance
# expressions (pair.tlink_triples_from_pairs), each a turn of its own. The
# gazetteer adds two T061 terms that are also timex words, so a mention
# and a timex can start on the same token.
_EDGE_TERMS = [("C900", "T061", "today"), ("C901", "T061", "today regimen")]
_EDGE_BATTERY = [
    # the timex precedes the mention: inverted label, <t> packet first
    "On 3/5/2024 cisplatin was given",
    # mention and timex on the same single token: the event wins the tie
    "today",
    # a two-token mention and a timex starting on its first token
    "today regimen started on 3/5/2024",
    # pads clamp at token 0 and at the last token; adjacent packets leave
    # an empty slice between them
    "cisplatin yesterday",
    "yesterday folfox",
    # a <newline> token between the packets
    "cisplatin\n3/5/2024",
]


@pytest.mark.parametrize("use_dtr", [False, True])
def test_tlink_expression_edges(spark, blacklist, use_dtr):
    """Both paths equal the oracle row for row, instances included, on the
    tlink expressions' corner cases."""
    from kgpipe.resources import Gazetteer, builtin_gazetteer_rows
    from kgpipe.schemas import TRANSCRIPTS_SCHEMA, TRIPLE_SCHEMA

    from .oracle_ref import process_turn

    gaz = Gazetteer.from_rows(builtin_gazetteer_rows() + _EDGE_TERMS)
    cfg = PipelineConfig(use_dtr=use_dtr)
    turns = [("cE", i, "user", text, None, _TS) for i, text in enumerate(_EDGE_BATTERY)]
    want = sorted(
        (
            tuple(d[k] for k in TRIPLE_SCHEMA.fieldNames())
            for c, i, role, text, tool, ts in turns
            for d in process_turn(c, i, role, tool, ts, text, gaz, blacklist, cfg)
        ),
        key=repr,
    )
    instances = {r[-1] for r in want if r[1].startswith("tlink:")}
    assert {
        "On <t> 3 / 5 / 2024 </t> <e> cisplatin </e> was",
        "<e> today </e> <t> today </t>",
        "<e> cisplatin </e> <t> yesterday </t>",
        "<t> yesterday </t> <e> folfox </e>",
        "<e> cisplatin </e> <newline> <t> 3 / 5 / 2024 </t>",
    } <= instances, instances
    assert ("tlink:before", "2024-03-05") in {(r[1], r[7]) for r in want}
    df = spark.createDataFrame(turns, TRANSCRIPTS_SCHEMA)
    for fused in (False, True):
        got = _rows(build_triples(df, gaz, blacklist, cfg, fused=fused))
        assert got == want, fused


# O1 gate battery: every turn carries timexes, and only the last two can
# have a mention that survives F1/F2(/F4). (text, has a ts, gated under
# the default config, gated under use_conmod)
_O1_BATTERY = [
    # no gazetteer term at all
    ("rerun the loader on 3/5/2024 and again tomorrow", True, True, True),
    # only blacklisted terms (F2)
    ("Ice applied on 3/5/2024, cap removed 2 days ago", True, True, True),
    # only non-T061 terms (F1)
    ("aspirin given yesterday, glucose checked on 3/1/2024", True, True, True),
    # one T061 mention, HYPOTHETICAL: positive unless the F4 gate is on
    ("if cisplatin is needed we start on 3/5/2024", True, False, True),
    # one positive mention; no ts, so the anchor comes from the header
    ("Principal Date 20240301\nstarted folfox on 3/5/2024, 2 weeks ago",
     False, False, False),
]


@pytest.mark.parametrize("use_dtr,use_conmod", [(False, False), (True, True)])
def test_fused_o1_gate_skips_timex_work(
    spark, gazetteer, blacklist, monkeypatch, use_dtr, use_conmod
):
    """turn_triples detects timexes only for turns with a surviving mention
    (TimeMentionNormalizer.java:104-117) and tokenizes each turn once, with
    output equal to the oracle row for row and to the structured plan."""
    import datetime as dt

    import kgpipe.annotate as annotate_mod
    from kgpipe.pair import turn_triples
    from kgpipe.schemas import TRANSCRIPTS_SCHEMA

    from .oracle_ref import process_turn

    cfg = PipelineConfig(use_dtr=use_dtr, use_conmod=use_conmod)
    ts0 = dt.datetime(2024, 3, 10, 9, 30)
    rows = [
        ("cO1", i, "user", None, ts0 if has_ts else None, text)
        for i, (text, has_ts, _, _) in enumerate(_O1_BATTERY)
    ]
    calls = {"tokenize": 0, "detect_timexes": 0}

    def counting(name):
        real = getattr(annotate_mod, name)

        def wrapped(*a, **k):
            calls[name] += 1
            return real(*a, **k)

        return wrapped

    for name in calls:
        monkeypatch.setattr(annotate_mod, name, counting(name))

    for (c, i, role, tool, ts, text), (_, _, gated, gated_conmod) in zip(rows, _O1_BATTERY):
        for name in calls:
            calls[name] = 0
        got = turn_triples(c, i, role, tool, ts, text, gazetteer, blacklist, cfg)
        assert got == process_turn(c, i, role, tool, ts, text, gazetteer, blacklist, cfg)
        is_gated = gated_conmod if use_conmod else gated
        assert calls == {"tokenize": 1, "detect_timexes": 0 if is_gated else 1}, (i, calls)
        has_mention = any(t["pred"] == "entity-mention" for t in got)
        assert has_mention != is_gated, (i, got)

    monkeypatch.undo()
    df = spark.createDataFrame(
        [(c, i, role, text, tool, ts) for c, i, role, tool, ts, text in rows],
        TRANSCRIPTS_SCHEMA,
    )
    s = build_triples(df, gazetteer, blacklist, cfg, fused=False).toPandas()
    f = build_triples(df, gazetteer, blacklist, cfg, fused=True).toPandas()
    assert _canon_frame(s).equals(_canon_frame(f))
    assert (s.pred == "entity-mention").any()


def test_ntriples_serialization_and_escaping(spark):
    from kgpipe.pipeline import ntriples_view

    rows = [
        ("m1", "entity-mention", "C101", "c1"),
        ("t1", "speaker-attribution", 'he said "hi" \\ bye', "c1"),
        ("t2", "tool-invocation", "line1\nline2\rtab\there", "c1"),
    ]
    t = spark.createDataFrame(rows, "subj string, pred string, obj string, conv_id string")
    got = sorted(r.ntriple for r in ntriples_view(t).collect())
    assert got == [
        '<urn:kg:id:m1> <urn:kg:pred:entity-mention> <urn:kg:id:C101> .',
        '<urn:kg:id:t1> <urn:kg:pred:speaker-attribution> '
        '"he said \\"hi\\" \\\\ bye" .',
        '<urn:kg:id:t2> <urn:kg:pred:tool-invocation> '
        '"line1\\nline2\\rtab\\there" .',
    ]
