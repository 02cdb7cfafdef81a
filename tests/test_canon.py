"""Canonicalization: MinHash-LSH blocking + connected components (the
connected-components cases live in test_graph_summary.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kgpipe.canon import canonical_nodes, surface_shingles
from kgpipe.textops import band_join, banded_keys, minhash_signatures


def test_lsh_self_similarity(spark):
    """Identical surfaces share every band; near-identical share >= 1."""
    surf = spark.createDataFrame(
        [("5-fluorouracil",), ("5-fluorouracil ",), ("fluorouracil",), ("zzzz",)],
        "surface string",
    )
    sh = surface_shingles(surf.distinct())
    sigs = minhash_signatures(sh, "surface", k=12)
    banded = banded_keys(sigs, "surface", k=12, bands=6)
    pairs = {(r.a, r.b) for r in band_join(banded, "surface").collect()}
    assert any("fluorouracil" in a and "fluorouracil" in b for a, b in pairs)


def test_canonical_nodes_merges_variants(spark, gazetteer, blacklist):
    from kgpipe.config import PipelineConfig
    from kgpipe.fixtures import synthetic_transcripts_df
    from kgpipe.pipeline import build_annotations

    tr = synthetic_transcripts_df(spark, n_conv=10, turns_per_conv=6, hot_conv_factor=2)
    mentions = build_annotations(tr, gazetteer, blacklist, PipelineConfig())["mentions"]
    nodes = canonical_nodes(mentions).toPandas()
    # all 5-FU surface variants merged into one node with canonical_cui C001
    fu_nodes = nodes[nodes.surfaces.apply(lambda ss: any("5" in s and "fu" in s for s in ss))]
    assert len(fu_nodes) == 1
    assert fu_nodes.iloc[0].canonical_cui == "C001"
    # no over-merge: cisplatin and interleukin never share a node
    for _, row in nodes.iterrows():
        ss = set(row.surfaces)
        assert not ({"cisplatin"} <= ss and any("interleukin" in s for s in ss))
    # node ids are deterministic: lexical min surface
    for _, row in nodes.iterrows():
        assert row.node_id == f"entity:{min(row.surfaces)}"
