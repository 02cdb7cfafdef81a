"""A2 rollups and graph analytics (entity_timeline_summary, node_degree,
conversation_stats, top_entities)."""

from __future__ import annotations

import datetime as dt

from kgpipe.graph import (
    conversation_stats,
    entity_timeline_summary,
    node_degree,
    top_entities,
)


def test_timeline_summary_rollup(spark):
    d = dt.date
    rows = [
        # conv, turn, anchor, cui, term
        ("c1", 0, d(2021, 1, 1), "C101", "spark"),
        ("c1", 0, d(2021, 1, 1), "C101", "spark"),
        ("c1", 2, d(2021, 1, 3), "C101", "apache spark"),
        ("c1", 2, d(2021, 1, 3), "C102", "hash join"),
        ("c2", 5, d(2020, 6, 6), "C101", "spark"),
    ]
    m = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, anchor_date date, cui string, term string"
    )
    got = {
        (r.conv_id, r.cui): r
        for r in entity_timeline_summary(m).collect()
    }
    assert len(got) == 3
    r = got[("c1", "C101")]
    assert r.n_mentions == 3
    assert r.n_turns == 2
    assert r.first_seen == d(2021, 1, 1) and r.last_seen == d(2021, 1, 3)
    # distinct terms, sorted, comma-joined (A4 string-agg semantics)
    assert r.terms == "apache spark,spark"
    assert got[("c1", "C102")].n_mentions == 1
    assert got[("c2", "C101")].terms == "spark"


def test_node_degree(spark):
    edges = spark.createDataFrame(
        [
            ("a", "b", "before", "c1", 0, 1.0),
            ("a", "c", "before", "c1", 0, 1.0),
            ("b", "a", "after", "c1", 1, 1.0),
        ],
        "src string, dst string, pred string, conv_id string, turn_idx int, weight double",
    )
    got = {r.node: r for r in node_degree(edges).collect()}
    a = got["a"]
    assert (a.out_degree, a.in_degree, a.degree, a.n_neighbors) == (2, 1, 3, 2)
    b = got["b"]
    assert (b.out_degree, b.in_degree, b.degree, b.n_neighbors) == (1, 1, 2, 1)
    c = got["c"]
    assert (c.out_degree, c.in_degree, c.degree, c.n_neighbors) == (0, 1, 1, 1)


def test_conversation_stats(spark):
    d = dt.date
    t = spark.createDataFrame(
        [
            ("c1", 0, "user", "x", None, dt.datetime(2021, 1, 1)),
            ("c1", 1, "assistant", "y", "logger", dt.datetime(2021, 1, 4)),
            ("c2", 0, "user", "z", None, dt.datetime(2020, 6, 6)),
        ],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    m = spark.createDataFrame(
        [("c1", 0, "C101"), ("c1", 1, "C101"), ("c1", 1, "C102")],
        "conv_id string, turn_idx int, cui string",
    )
    x = spark.createDataFrame(
        [("c1", 0, "2021-01-01")], "conv_id string, turn_idx int, normed string"
    )
    got = {r.conv_id: r for r in conversation_stats(t, m, x).collect()}
    c1 = got["c1"]
    assert (c1.n_turns, c1.n_roles, c1.span_days) == (2, 2, 3)
    assert (c1.n_mentions, c1.n_entities, c1.n_timexes) == (3, 2, 1)
    assert c1.first_date == d(2021, 1, 1) and c1.last_date == d(2021, 1, 4)
    c2 = got["c2"]
    # no mentions/timexes -> coalesced zeros, never nulls
    assert (c2.n_mentions, c2.n_entities, c2.n_timexes) == (0, 0, 0)


def test_top_entities_rank_and_tiebreak(spark):
    m = spark.createDataFrame(
        [("c1", "C102"), ("c2", "C102"), ("c1", "C101"), ("c1", "C103"),
         ("c2", "C103")],
        "conv_id string, cui string",
    )
    rows = top_entities(m, k=2).collect()
    assert [(r.rank, r.cui, r.n_mentions, r.n_convs) for r in rows] == [
        (1, "C102", 2, 2),  # tie on count broken by cui asc
        (2, "C103", 2, 2),
    ]


def test_tool_transitions(spark):
    import datetime as _dt

    from kgpipe.graph import tool_transitions

    t = spark.createDataFrame(
        [
            ("c1", 0, "user", "x", "search", _dt.datetime(2021, 1, 1)),
            ("c1", 1, "user", "x", None, _dt.datetime(2021, 1, 2)),
            ("c1", 2, "user", "x", "browser", _dt.datetime(2021, 1, 3)),
            ("c1", 3, "user", "x", "search", _dt.datetime(2021, 1, 4)),
            ("c2", 0, "user", "x", "search", _dt.datetime(2021, 1, 1)),
            ("c2", 1, "user", "x", "browser", _dt.datetime(2021, 1, 2)),
            ("c3", 0, "user", "x", "", _dt.datetime(2021, 1, 1)),
        ],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    got = {(r.tool_a, r.tool_b): (r.n_transitions, r.n_convs)
           for r in tool_transitions(t).collect()}
    # null/empty tools are pruned before the lag window, so c1's bigrams are
    # (search->browser, browser->search); c3 contributes nothing
    assert got == {
        ("search", "browser"): (2, 2),
        ("browser", "search"): (1, 1),
    }


def test_conversation_sessions_gap_boundary(spark):
    import datetime as _dt

    from kgpipe.graph import conversation_sessions

    base = _dt.datetime(2021, 1, 1, 0, 0, 0)
    on_edge = base + _dt.timedelta(hours=13)            # exactly prev + gap
    past_edge = base + _dt.timedelta(hours=25, seconds=1)  # gap + 1s later
    t = spark.createDataFrame(
        [
            ("c1", 0, "user", "x", None, base),
            ("c1", 1, "user", "x", None, base + _dt.timedelta(hours=1)),
            # exactly 12h after the previous turn -> MERGES (Spark extends a
            # session for events <= window end — inclusive boundary)
            ("c1", 2, "user", "x", None, on_edge),
            # strictly more than 12h after -> new session
            ("c1", 3, "user", "x", None, past_edge),
            ("c2", 0, "user", "x", None, base),
        ],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    rows = sorted(
        conversation_sessions(t, gap_hours=12).collect(),
        key=lambda r: (r.conv_id, r.session_start),
    )
    assert [(r.conv_id, r.n_turns) for r in rows] == [
        ("c1", 3), ("c1", 1), ("c2", 1)
    ]
    s0, s1, _s2 = rows
    assert s0.session_start == base
    assert s0.session_end == on_edge + _dt.timedelta(hours=12)  # last + gap
    assert s1.session_start == past_edge
    assert s1.session_end == past_edge + _dt.timedelta(hours=12)


def test_cooccurrence_and_triangles(spark):
    from kgpipe.graph import cooccurrence_edges, triangle_count

    m = spark.createDataFrame(
        [
            # turn 0 of c1 has A,B,C together -> edges AB, AC, BC -> 1 triangle
            ("c1", 0, "A"), ("c1", 0, "B"), ("c1", 0, "C"),
            # turn 1 repeats A,B (n_cooccur AB = 2) and adds D with A
            ("c1", 1, "A"), ("c1", 1, "B"),
            ("c2", 0, "A"), ("c2", 0, "D"),
        ],
        "conv_id string, turn_idx int, cui string",
    )
    e = {(r.cui_a, r.cui_b): r.n_cooccur for r in cooccurrence_edges(m).collect()}
    assert e == {("A", "B"): 2, ("A", "C"): 1, ("B", "C"): 1, ("A", "D"): 1}
    t = triangle_count(cooccurrence_edges(m)).first()
    assert (t.n_nodes, t.n_edges, t.n_triangles) == (4, 4, 1)


def test_running_entity_counts(spark):
    from kgpipe.graph import running_entity_counts

    m = spark.createDataFrame(
        [
            ("c1", 0, "A"), ("c1", 0, "A"), ("c1", 0, "B"),
            ("c1", 2, "A"), ("c1", 2, "C"),
            ("c2", 5, "Z"),
        ],
        "conv_id string, turn_idx int, cui string",
    )
    got = {(r.conv_id, r.turn_idx): (r.cum_mentions, r.cum_entities)
           for r in running_entity_counts(m).collect()}
    assert got == {
        ("c1", 0): (3, 2),   # 3 mentions so far; A,B new
        ("c1", 2): (5, 3),   # +2 mentions; C new, A already seen
        ("c2", 5): (1, 1),
    }


def test_pagerank_integer_fixed_point(spark):
    """Integer PageRank: hub gets the highest rank; result is deterministic
    and bounded by the fixed-point scale; isolated behavior of dangling
    nodes (mass dropped) documented by the sum bound."""
    from kgpipe.graph import pagerank

    rows = [
        ("a", "b"), ("a", "c"), ("b", "c"), ("d", "c"), ("c", "a"),
    ]
    edges = spark.createDataFrame(
        [(s, d, "p", "c0", 0, 1.0) for s, d in rows],
        "src string, dst string, pred string, conv_id string, turn_idx int, weight double",
    )
    pr1 = {r.node: r.pr_int for r in pagerank(edges).collect()}
    pr2 = {r.node: r.pr_int for r in pagerank(edges).collect()}
    assert pr1 == pr2  # deterministic
    assert max(pr1, key=pr1.get) == "c"  # everyone links to c
    assert pr1["c"] > pr1["a"] > pr1["b"]  # c feeds a its whole rank
    total = sum(pr1.values())
    assert total <= 10**12  # floor rounding + no dangling mass re-injection
    assert total > 10**12 * 0.5


# ---------------------------------------------------------------------------
# connected components (hash-to-min with pointer doubling)
# ---------------------------------------------------------------------------

def _cc(spark, edge_pairs, rounds=6):
    from kgpipe.graph import connected_components

    e = spark.createDataFrame(
        [(a, b) for a, b in edge_pairs], "src string, dst string"
    )
    return {
        r.node: (r.component, r.component_size)
        for r in connected_components(e, rounds=rounds).collect()
    }


def test_components_two_islands(spark):
    got = _cc(spark, [("b", "a"), ("b", "c"), ("x", "y")])
    assert got == {
        "a": ("a", 3), "b": ("a", 3), "c": ("a", 3),
        "x": ("x", 2), "y": ("x", 2),
    }


def test_components_direction_ignored(spark):
    # weakly connected: a->b and c->b land in one component
    got = _cc(spark, [("a", "b"), ("c", "b")])
    assert {v[0] for v in got.values()} == {"a"}
    assert all(v[1] == 3 for v in got.values())


def test_components_chain_converges_past_naive_reach(spark):
    # a 40-node chain needs 40 rounds of naive propagation but only
    # ~log2(40) pointer-doubling rounds; 6 compound rounds must converge
    names = [f"n{i:02d}" for i in range(40)]
    got = _cc(spark, list(zip(names, names[1:])))
    assert {v[0] for v in got.values()} == {"n00"}
    assert all(v[1] == 40 for v in got.values())


def test_components_chain_and_pair(spark):
    # the chain a-b-c-d-e converges to one component beside an island
    # (SURVEY.md §7.4.7)
    got = _cc(spark, [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("x", "y")])
    assert got == {
        **{v: ("a", 5) for v in "abcde"},
        "x": ("x", 2), "y": ("x", 2),
    }


def test_components_stop_at_fixpoint(spark, monkeypatch):
    """A 40-node chain needs 39 naive propagation steps; hash-to-min closes
    it within a smaller ``rounds`` and, given a larger one, stops one round
    after the labels stop moving (that round's emptiness probe finds no
    lowered label)."""
    from pyspark.sql.classic.dataframe import DataFrame

    names = [f"n{i:02d}" for i in range(40)]
    chain = list(zip(names, names[1:]))
    closed = {n: ("n00", 40) for n in names}
    need = next(r for r in range(1, 12) if _cc(spark, chain, rounds=r) == closed)
    assert need < 39

    probes = [0]
    real = DataFrame.isEmpty

    def counting(self):
        probes[0] += 1
        return real(self)

    monkeypatch.setattr(DataFrame, "isEmpty", counting)
    assert _cc(spark, chain, rounds=20) == closed
    assert probes[0] == need + 1


def test_components_self_loop_singleton(spark):
    got = _cc(spark, [("a", "a"), ("b", "c")])
    assert got["a"] == ("a", 1)
    assert got["b"] == ("b", 2) and got["c"] == ("b", 2)


def test_components_differential_union_find(spark):
    """Differential: the distributed CC must agree with a trivial
    union-find on pseudo-random graphs (including ones with multiple
    mid-size components and isolated chains)."""
    import random

    rng = random.Random(7)
    for trial in range(3):
        n = 30 + 10 * trial
        edges = [
            (f"v{rng.randrange(n):03d}", f"v{rng.randrange(n):03d}")
            for _ in range(n)
        ]
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        def union(a, b):
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)

        for a, b in edges:
            union(a, b)
        # path compression settles after all unions: take the final roots
        want = {v: find(v) for v in parent}
        got = _cc(spark, edges)
        assert {v: c for v, (c, _) in got.items()} == want, f"trial {trial}"


def test_kcore_peels_tendrils_keeps_triangle(spark):
    from kgpipe.graph import k_core

    # triangle a-b-c (2-core) + a tendril chain c-d-e and a leaf a-f
    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"), ("d", "e"), ("a", "f")],
        "src string, dst string",
    )
    got = {r.node: r.core_degree for r in k_core(e, k=2, rounds=8).collect()}
    assert got == {"a": 2, "b": 2, "c": 2}
    # k=3: the triangle itself dissolves
    assert k_core(e, k=3, rounds=8).count() == 0


def test_kcore_converged_at_rounds(spark):
    from kgpipe.graph import k_core

    # a long chain needs several peel rounds; result must be stable
    # between rounds=8 and rounds=9 (converged)
    names = [f"n{i}" for i in range(10)]
    e = spark.createDataFrame(list(zip(names, names[1:])), "src string, dst string")
    a = sorted(map(tuple, k_core(e, k=2, rounds=8).collect()))
    b = sorted(map(tuple, k_core(e, k=2, rounds=9).collect()))
    assert a == b == []  # a pure chain has no 2-core


def test_kcore_nonconverged_never_reports_below_k(spark):
    from kgpipe.graph import k_core

    # a 30-node chain needs ~15 peel rounds; with rounds=2 the result is
    # a superset of the (empty) 2-core — but the core_degree column must
    # never contradict the k contract: every reported value is >= k
    names = [f"n{i}" for i in range(30)]
    e = spark.createDataFrame(list(zip(names, names[1:])), "src string, dst string")
    rows = k_core(e, k=2, rounds=2).collect()
    assert all(r.core_degree >= 2 for r in rows)


def test_entity_episodes_gap_merge(spark):
    import datetime as _dt

    from kgpipe.graph import entity_episodes

    d = _dt.date
    rows = [
        # patient c1, drug x: two clusters of day-anchored assertions
        ("m1", "tlink:overlap", "t1", "c1", 0, "x", "2021-01-01"),
        ("m2", "tlink:before", "t2", "c1", 1, "x", "2021-01-20"),
        ("m3", "tlink:after", "t3", "c1", 2, "x", "2021-04-01"),
        # duplicate date collapses; non-day values ignored
        ("m4", "tlink:overlap", "t4", "c1", 3, "x", "2021-01-01"),
        ("m5", "tlink:overlap", "t5", "c1", 4, "x", "2021-W05"),
        ("m6", "tlink:overlap", "t6", "c1", 5, "X", "2021-01-05"),  # case-folds
    ]
    t = spark.createDataFrame(
        rows,
        "subj string, pred string, obj string, conv_id string, turn_idx int, "
        "subj_text string, obj_text string",
    )
    got = {
        (r.patient_id, r.entity, r.episode_idx): (r.start_date, r.end_date, r.n_points)
        for r in entity_episodes(t, max_gap_days=30).collect()
    }
    assert got == {
        ("c1", "x", 0): (d(2021, 1, 1), d(2021, 1, 20), 3),
        ("c1", "x", 1): (d(2021, 4, 1), d(2021, 4, 1), 1),
    }


def test_cross_turn_edges_mentions_only_path_equal(spark):
    """The timex-free annotate fast path must produce byte-identical
    cross-turn edges to the full pipeline (mentions_f is pre-id, so
    skipping timexes cannot change it)."""
    from kgpipe.fixtures import synthetic_transcripts_df
    from kgpipe.graph import cross_turn_event_edges
    from kgpipe.pipeline import build_annotations
    from kgpipe.resources import (
        Gazetteer, builtin_blacklist_terms, builtin_gazetteer_rows,
    )
    from kgpipe.config import DEFAULT_CONFIG

    gaz = Gazetteer.from_rows(builtin_gazetteer_rows())
    bl = builtin_blacklist_terms()
    t = synthetic_transcripts_df(spark, n_conv=8, turns_per_conv=6)
    full = build_annotations(t, gaz, bl, DEFAULT_CONFIG, persist=False)
    light = build_annotations(
        t, gaz, bl, DEFAULT_CONFIG, persist=False, timexes=False
    )
    assert set(light) == {"mentions_raw", "mentions_f"}
    # the timex-free union carries mention rows only
    from kgpipe.extract import annotate_union

    kinds = annotate_union(t, gaz, bl, DEFAULT_CONFIG, timexes=False).select(
        "kind_rank"
    ).distinct().collect()
    assert [r.kind_rank for r in kinds] == [0]
    a = sorted(
        map(tuple, cross_turn_event_edges(full["mentions_f"]).collect())
    )
    b = sorted(
        map(tuple, cross_turn_event_edges(light["mentions_f"]).collect())
    )
    assert a == b and a


def test_node_degree_null_endpoint_not_a_neighbor(spark):
    # countDistinct semantics preserved through the two-level rewrite: a
    # NULL endpoint counts toward degree sums but never as a neighbor
    edges = spark.createDataFrame(
        [
            ("a", "b", "before", "c1", 0, 1.0),
            ("a", None, "before", "c1", 1, 1.0),
        ],
        "src string, dst string, pred string, conv_id string, turn_idx int, weight double",
    )
    got = {r.node: r for r in node_degree(edges).collect()}
    a = got["a"]
    assert (a.out_degree, a.in_degree, a.degree, a.n_neighbors) == (2, 0, 2, 1)


def test_resolve_conflicts_majority_and_tiebreak(spark):
    from kgpipe.graph import resolve_conflicts

    rows = [
        ("m1", "tlink:before", "t1", "drug a", "2024-01-01"),
        ("m2", "tlink:before", "t2", "drug a", "2024-01-01"),
        ("m3", "tlink:after", "t3", "drug a", "2024-01-01"),
        # exact tie -> lexicographically smallest label wins ('after')
        ("m4", "tlink:after", "t4", "drug b", "2024-02-02"),
        ("m5", "tlink:before", "t5", "drug b", "2024-02-02"),
        # non-tlink rows are ignored
        ("m6", "entity-mention", "C1", "x", "y"),
    ]
    df = spark.createDataFrame(
        rows, "subj string, pred string, obj string, subj_text string, obj_text string"
    )
    got = {(r.term, r.normed): r for r in resolve_conflicts(df).collect()}
    a = got[("drug a", "2024-01-01")]
    assert (a.label, a.n_support, a.n_total, a.margin) == ("before", 2, 3, 1)
    b = got[("drug b", "2024-02-02")]
    assert (b.label, b.n_support, b.n_total, b.margin) == ("after", 1, 2, 0)
    assert ("x", "y") not in got


# ------------------------------------------------------------- triples_prf ---


def test_triples_prf_perturbations(spark):
    """The distributed acceptance-gate evaluator on planted perturbations:
    exact tp/fp/fn under set AND multiset (duplicate-count) differences."""
    from kgpipe.graph import triples_prf

    cols = "subj string, pred string, obj string, conv_id string, turn_idx int"
    gold = spark.createDataFrame(
        [("a", "p", "x", "c1", 0), ("b", "p", "y", "c1", 1),
         ("c", "p", "z", "c2", 0)], cols,
    )
    # one hit dropped, one spurious added
    sys1 = spark.createDataFrame(
        [("a", "p", "x", "c1", 0), ("b", "p", "y", "c1", 1),
         ("d", "p", "w", "c2", 1)], cols,
    )
    r = triples_prf(sys1, gold).first()
    assert (r.tp, r.fp, r.fn) == (2, 1, 1)
    assert r.precision_e6 == r.recall_e6 == r.f1_e6 == 666_666

    # duplicate counts: system doubles a key the gold has once
    sys2 = spark.createDataFrame(
        [("a", "p", "x", "c1", 0), ("a", "p", "x", "c1", 0),
         ("b", "p", "y", "c1", 1), ("c", "p", "z", "c2", 0)], cols,
    )
    r = triples_prf(sys2, gold).first()
    assert (r.tp, r.fp, r.fn) == (3, 1, 0)
    assert (r.precision_e6, r.recall_e6) == (750_000, 1_000_000)

    # empty system: zero-denominator branches
    r = triples_prf(gold.limit(0), gold).first()
    assert (r.tp, r.fp, r.fn) == (0, 0, 3)
    assert (r.precision_e6, r.recall_e6, r.f1_e6) == (0, 0, 0)

    # perfect agreement: the north-rule gate reads exactly 1e6
    r = triples_prf(gold, gold).first()
    assert (r.tp, r.fp, r.fn) == (3, 0, 0)
    assert r.precision_e6 == r.recall_e6 == r.f1_e6 == 1_000_000

    # BOTH sides empty: counts must be honest zeros, never NULL (the
    # zero-row join's sums coalesce)
    r = triples_prf(gold.limit(0), gold.limit(0)).first()
    assert (r.tp, r.fp, r.fn) == (0, 0, 0)
    assert (r.precision_e6, r.recall_e6, r.f1_e6) == (0, 0, 0)


# ------------------------------------------------------------ tlink_closure ---

def test_tlink_closure_alias():
    # old name kept as a back-compat alias of the honestly-named one-step
    # composition
    from kgpipe.graph import tlink_closure, tlink_infer_2hop

    assert tlink_closure is tlink_infer_2hop


def test_tlink_closure_infers_two_hop_before(spark):
    from kgpipe.graph import tlink_closure

    B = "ee-tlink:BEFORE"
    rows = [
        # chain e1 -> e2 -> e3 -> e4, plus a direct e1 -> e3 shortcut
        ("c1", 0, "e1", B, "e2"),
        ("c1", 0, "e2", B, "e3"),
        ("c1", 0, "e3", B, "e4"),
        ("c1", 0, "e1", B, "e3"),
        # other predicate: never composed
        ("c1", 0, "e4", "ee-tlink:OVERLAP", "e5"),
        # same events in ANOTHER turn: isolated scope
        ("c1", 1, "e1", B, "e2"),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, subj string, pred string, obj string"
    )
    got = {
        (r.conv_id, r.turn_idx, r.subj, r.obj): r.n_paths
        for r in tlink_closure(df).collect()
    }
    # e1->e3 is 2-hop reachable but DIRECTLY asserted -> excluded
    assert ("c1", 0, "e1", "e3") not in got
    # e2->e4 via e3; e1->e4 via e2->? no, only via e3 (from the shortcut)
    assert got[("c1", 0, "e2", "e4")] == 1
    assert got[("c1", 0, "e1", "e4")] == 1
    # turn 1 has a single edge: nothing to compose
    assert not any(k[1] == 1 for k in got)
    assert len(got) == 2


def test_tlink_closure_counts_distinct_witnesses(spark):
    from kgpipe.graph import tlink_closure

    B = "ee-tlink:BEFORE"
    rows = [
        ("c1", 0, "a", B, "m1"),
        ("c1", 0, "a", B, "m2"),
        ("c1", 0, "m1", B, "z"),
        ("c1", 0, "m2", B, "z"),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, subj string, pred string, obj string"
    )
    got = tlink_closure(df).collect()
    assert len(got) == 1
    assert (got[0].subj, got[0].obj, got[0].n_paths) == ("a", "z", 2)
