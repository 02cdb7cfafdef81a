"""J6 within-turn event-event TLINKs: deleted-neighborhood pairing, window
clamp, nearest-anchor selection, and the interval-algebra labels."""

from __future__ import annotations

import datetime as dt

import pytest

from kgpipe.config import PipelineConfig
from kgpipe.pipeline import build_annotations
from kgpipe.pair import event_event_triples, nearest_anchor_timex
from kgpipe.schemas import TRANSCRIPTS_SCHEMA


def _ee(spark, gazetteer, blacklist, text, ts=dt.datetime(2024, 3, 15, 9, 0)):
    df = spark.createDataFrame([("c0", 0, "user", text, None, ts)], TRANSCRIPTS_SCHEMA)
    ann = build_annotations(df, gazetteer, blacklist, PipelineConfig(), persist=False)
    rows = event_event_triples(ann["mentions"], ann["timexes"]).collect()
    return {(r.subj_text, r.obj_text): r.pred for r in rows}


def test_labels_from_two_different_anchors(spark, gazetteer, blacklist):
    # cisplatin anchors to the nearer 3/1/2024; taxol anchors to 3/20/2024
    # -> interval [3/1] before [3/20] -> 'before'
    text = "received cisplatin on 3/1/2024 then switch to taxol on 3/20/2024"
    preds = _ee(spark, gazetteer, blacklist, text)
    assert preds[("cisplatin", "taxol")] == "ee-tlink:before"


def test_label_contains_when_one_anchor_spans_the_other(spark, gazetteer, blacklist):
    # cisplatin -> March 2024 (month interval); taxol -> 3/20/2024 (day
    # inside it) -> 'contains'
    text = "cisplatin began March 2024 while taxol started 3/20/2024"
    preds = _ee(spark, gazetteer, blacklist, text)
    assert preds[("cisplatin", "taxol")] == "ee-tlink:contains"


def test_label_none_without_anchor(spark, gazetteer, blacklist):
    text = "cisplatin and taxol were discussed"
    preds = _ee(spark, gazetteer, blacklist, text)
    assert preds[("cisplatin", "taxol")] == "ee-tlink:none"


def test_pair_is_emitted_once_subject_first(spark, gazetteer, blacklist):
    text = "cisplatin with taxol today"
    preds = _ee(spark, gazetteer, blacklist, text)
    assert ("cisplatin", "taxol") in preds
    assert ("taxol", "cisplatin") not in preds


def test_window_clamp_drops_distant_pairs(spark, gazetteer, blacklist):
    # >60 tokens between the two mentions -> outside the subject's window
    filler = " ".join(["w"] * 130)
    text = f"cisplatin {filler} taxol"
    preds = _ee(spark, gazetteer, blacklist, text)
    assert not preds


def test_overlap_on_shared_anchor(spark, gazetteer, blacklist):
    text = "cisplatin and taxol given on 3/5/2024"
    preds = _ee(spark, gazetteer, blacklist, text)
    assert preds[("cisplatin", "taxol")] == "ee-tlink:overlap"


@pytest.mark.parametrize("text", [
    # a REF pseudo-value: 'recently' -> PAST_REF
    "cisplatin given recently and taxol today",
    # a SET value: 'every 2 weeks' -> P2W
    "cisplatin every 2 weeks with taxol on 3/5/2024",
])
def test_label_none_when_anchor_has_no_interval(spark, gazetteer, blacklist, text):
    # cisplatin HAS an anchor, its nearest timex, but timeml_interval
    # places no interval for that value: the anchor row carries null dates,
    # and the label's null arm gives 'none' although taxol's anchor is a day
    df = spark.createDataFrame([("c0", 0, "user", text, None, dt.datetime(2024, 3, 15, 9, 0))],
                               TRANSCRIPTS_SCHEMA)
    ann = build_annotations(df, gazetteer, blacklist, PipelineConfig(), persist=False)
    ids = {r.surface: r.annotation_id for r in ann["mentions"].collect()}
    anchors = {
        r.annotation_id: (r.iv_begin, r.iv_end)
        for r in nearest_anchor_timex(ann["mentions"], ann["timexes"]).collect()
    }
    assert anchors[ids["cisplatin"]] == (None, None)
    assert anchors[ids["taxol"]][0] is not None
    preds = _ee(spark, gazetteer, blacklist, text)
    assert preds[("cisplatin", "taxol")] == "ee-tlink:none"
