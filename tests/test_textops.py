"""Training-data corpus operators (dedup / quality / langid / tokens)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kgpipe.textops import (
    doc_fingerprint,
    exact_dedup,
    language_id,
    minhash_dup_pairs,
    ngram_jaccard_pairs,
    quality_scores,
    simhash,
    simhash_dup_pairs,
    token_stats,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog again and again", "en"),
        (1, "the quick brown fox jumps over the lazy dog again and again", "en"),  # exact dup of 0
        (2, "the quick brown fox jumps over the lazy dog again and AGAIN", "en"),  # near dup
        (3, "el rio la montana los pajaros el cielo la noche", "es"),
        (4, "completely different text about spark query engines and shuffles", "en"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_exact_dedup(docs):
    clusters = exact_dedup(docs).collect()
    assert len(clusters) == 1
    assert clusters[0].keep_doc_id == 0 and clusters[0].n_docs == 2


def test_minhash_identical_docs_hit_all_bands(docs):
    pairs = {(r.doc_a, r.doc_b): r.n_bands_hit for r in minhash_dup_pairs(docs, k=8, bands=4).collect()}
    assert pairs[(0, 1)] == 4  # identical -> every band collides
    assert (0, 1) in pairs and (0, 2) in pairs
    assert (0, 4) not in pairs


def test_ngram_jaccard_exact_values(docs):
    pairs = {(r.doc_a, r.doc_b): r.jaccard for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    assert pairs[(0, 1)] == 1.0
    assert 0.5 <= pairs[(0, 2)] < 1.0
    assert (0, 3) not in pairs


def test_simhash_near_dups(docs):
    h = {r.doc_id: r.simhash for r in simhash(docs).collect()}
    assert h[0] == h[1]
    # short docs flip many bits per token change: hamming(0,2) is 8 here, so
    # widen the verify threshold (blocking still finds the pair: 2/4 chunks
    # match; the <=3 guarantee applies only to near-identical long docs)
    dups = {(r.doc_a, r.doc_b): r.hamming for r in simhash_dup_pairs(docs, max_hamming=10).collect()}
    assert dups[(0, 1)] == 0
    assert dups[(0, 2)] == 8


def test_language_id_markers(docs):
    out = {r.doc_id: r.lang_guess for r in language_id(docs).collect()}
    assert out[0] == "en" and out[3] == "es"


def test_quality_and_token_stats(docs):
    q = {r.doc_id: r for r in quality_scores(docs).collect()}
    assert 0.0 <= q[0].quality_score <= 1.0
    assert q[0].n_tokens == 12
    assert q[0].stopword_ratio > q[3].stopword_ratio
    t = {r.doc_id: r for r in token_stats(docs).collect()}
    assert t[0].ws_tokens == 12 and t[0].bpe_ish_tokens == 12
    assert t[0].n_chars == len("the quick brown fox jumps over the lazy dog again and again")


def test_fingerprint_deterministic_and_dup_consistent(docs):
    fp = {r.doc_id: (tuple(r.fingerprint), r.min_hash) for r in doc_fingerprint(docs).collect()}
    assert fp[0] == fp[1]           # identical docs -> identical fingerprints
    assert fp[0] != fp[4]
    fp2 = {r.doc_id: (tuple(r.fingerprint), r.min_hash) for r in doc_fingerprint(docs).collect()}
    assert fp == fp2                # stable across runs


def test_tfidf_top_terms(spark):
    from kgpipe.textops import tfidf_top_terms

    docs = spark.createDataFrame(
        [
            (0, "apple banana apple"),
            (1, "banana cherry"),
            (2, "cherry cherry cherry"),
        ],
        "doc_id long, text string",
    )
    got = {(r.doc_id, r.rank): (r.term, r.tfidf) for r in
           tfidf_top_terms(docs, k=2).collect()}
    import math
    # doc 0: apple tf=2 df=1 -> 2*ln(3); banana tf=1 df=2 -> ln(1.5)
    t, v = got[(0, 1)]
    assert t == "apple" and abs(v - 2 * math.log(3)) < 1e-12
    t, v = got[(0, 2)]
    assert t == "banana" and abs(v - math.log(1.5)) < 1e-12
    # doc 2: cherry tf=3 df=2 -> 3*ln(1.5); only one distinct term
    t, v = got[(2, 1)]
    assert t == "cherry" and abs(v - 3 * math.log(1.5)) < 1e-12
    assert (2, 2) not in got


def test_ngram_jaccard_hot_shingle_cut_property(spark):
    """The max_shingle_df candidate cut never changes SCORES (exact
    re-count over full shingle sets) and finds every qualifying pair that
    shares at least one sub-threshold shingle. With a hot filler trigram in
    every doc, the cut result equals the uncut result."""
    filler = "x y z"  # trigram (x,y,z) appears in every doc -> hot
    rows = [
        (0, f"alpha beta gamma delta {filler}", "en"),
        (1, f"alpha beta gamma delta {filler}", "en"),
        (2, f"alpha beta gamma epsilon {filler}", "en"),
        (3, f"zeta eta theta iota {filler}", "en"),
        (4, f"kappa lambda mu nu {filler}", "en"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    full = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, threshold=0.3).collect()
    }
    cut = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, threshold=0.3, max_shingle_df=3).collect()
    }
    assert cut == full and (0, 1) in cut


def test_ngram_jaccard_leaves_no_cache_entry(spark, docs):
    """The shingle frame is pinned by a checkpoint, not a cache entry, so
    repeated calls in a long-lived session leave the CacheManager as they
    found it."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    before = cm.numCachedEntries()
    for cut in (None, 3):
        assert ngram_jaccard_pairs(docs, threshold=0.5, max_shingle_df=cut).count() > 0
    assert cm.numCachedEntries() == before


def test_redact_pii_order_and_counts(spark):
    from kgpipe.textops import redact_pii

    rows = [
        (0, "mail bob@x.com or visit https://a.io/u?e=bob@x.com now", "en"),
        (1, "server 192.168.0.1 phone 555-123-4567", "en"),
        (2, "clean document", "en"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    r = {x.doc_id: x for x in redact_pii(docs).collect()}
    # the email inside the URL is scrubbed as part of the URL (order spec)
    assert r[0].n_url == 1 and r[0].n_email == 1 and r[0].n_redacted == 2
    assert "<URL>" in r[0].redacted and "<EMAIL>" in r[0].redacted
    assert "bob@x.com" not in r[0].redacted
    assert r[1].n_ipv4 == 1 and r[1].n_phone == 1
    assert r[1].redacted == "server <IPV4> phone <PHONE>"
    assert r[2].n_redacted == 0 and r[2].redacted == "clean document"


def test_curate_corpus_reason_precedence(spark):
    from kgpipe.textops import curate_corpus

    base = ["the", "and", "of"] + [f"w{i}" for i in range(57)]
    good = " ".join(base)
    near = list(base)
    near[30] = "z0"  # one word changed in 60 -> >=2 MinHash bands collide
    rows = [
        (0, good, "en"),
        (1, good, "en"),                        # exact dup of 0 -> dropped
        (2, " ".join(near), "en"),              # near-dup of 0 (higher id)
        (3, "el la los el la los perro gato", "es"),   # lang != en
        (4, "the and of !!!! @@@@ #### $$$$", "en"),   # en but junk -> quality
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    r = {x.doc_id: x for x in curate_corpus(docs).collect()}
    assert r[0].kept and r[0].drop_reason is None
    assert r[1].drop_reason == "exact_dup"
    assert r[2].drop_reason == "near_dup"
    assert r[3].drop_reason == "lang"
    assert r[4].drop_reason == "quality"
    assert all(x.n_redacted == 0 for x in r.values())


# ---------------------------------------------------------------------------
# stratified sampling + nearest-rank quantiles
# ---------------------------------------------------------------------------

def test_stratified_sample_deterministic_and_monotone(spark):
    from kgpipe.textops import stratified_sample

    rows = [
        (i, f"text {i}", "en" if i % 3 else "es", "s", 10 + i)
        for i in range(300)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    a = {r.doc_id for r in stratified_sample(docs, {"en": 300}, seed=7).collect()}
    b = {r.doc_id for r in stratified_sample(docs, {"en": 300}, seed=7).collect()}
    assert a == b  # pure function of (doc_id, seed)
    # raising a rate yields a superset (hash thresholding)
    c = {r.doc_id for r in stratified_sample(docs, {"en": 600}, seed=7).collect()}
    assert a <= c and len(c) > len(a)
    # default_permille=0 drops the other stratum entirely
    langs = {r.lang for r in stratified_sample(docs, {"en": 600}, seed=7).collect()}
    assert langs == {"en"}
    # rough rate sanity on the kept stratum (binomial, wide tolerance)
    n_en = sum(1 for i in range(300) if i % 3)
    assert 0.4 * n_en < len(c) < 0.8 * n_en


def test_stratified_sample_is_scan_side(spark):
    from kgpipe.textops import stratified_sample

    docs = spark.createDataFrame(
        [(1, "t", "en", "s", 1)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    plan = stratified_sample(docs, {"en": 500})._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # zero-shuffle: filter fused into the scan


def test_length_quantiles_nearest_rank(spark):
    from kgpipe.textops import length_quantiles

    # en lengths 1..10 -> q25 -> rank ceil(2.5)=3 -> 3; q50 -> 5; q90 -> 9
    rows = [(i, "x", "en", "s", i) for i in range(1, 11)]
    rows += [(100 + i, "x", "es", "s", 7) for i in range(3)]  # all-equal stratum
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    got = {
        (r.lang, r.q): (r.n_docs, r.value)
        for r in length_quantiles(docs, qs=(25, 50, 90, 100)).collect()
    }
    assert got[("en", 25)] == (10, 3)
    assert got[("en", 50)] == (10, 5)
    assert got[("en", 90)] == (10, 9)
    assert got[("en", 100)] == (10, 10)
    assert all(got[("es", q)] == (3, 7) for q in (25, 50, 90, 100))


def test_dedup_clusters_transitive_and_singletons(docs, spark):
    from kgpipe.textops import dedup_clusters

    got = {
        r.doc_id: (r.cluster, r.cluster_size, r.is_canonical)
        for r in dedup_clusters(docs.select("doc_id", "text")).collect()
    }
    # docs 0/1 exact dup, 2 near dup -> one cluster canonicalized at min id
    assert got[0] == (0, 3, True)
    assert got[1] == (0, 3, False)
    assert got[2] == (0, 3, False)
    # unrelated docs are their own singleton canonical cluster
    assert got[3] == (3, 1, True)
    assert got[4] == (4, 1, True)


def test_vocabulary_tf_df_and_min_count(spark):
    from kgpipe.textops import vocabulary

    docs = spark.createDataFrame(
        [(1, "a b a"), (2, "a c"), (3, "")],
        "doc_id long, text string",
    )
    got = {r.token: (r.tf, r.df) for r in vocabulary(docs).collect()}
    assert got == {"a": (3, 2), "b": (1, 1), "c": (1, 1)}
    got2 = {r.token: (r.tf, r.df) for r in vocabulary(docs, min_count=2).collect()}
    assert got2 == {"a": (3, 2)}


def test_pack_documents_contiguous_bins(spark):
    from kgpipe.textops import pack_documents

    # one bucket (n_buckets=1) makes the packing globally sequential:
    # capacity 5, doc token counts 3,3,4 by doc_id order ->
    # offsets 0,3,6 -> bins 0,0,1
    docs = spark.createDataFrame(
        [(1, "x x x"), (2, "y y y"), (3, "z z z z")],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.bin, r.start_offset, r.n_tokens)
        for r in pack_documents(docs, capacity=5, n_buckets=1).collect()
    }
    assert got == {1: (0, 0, 3), 2: (0, 3, 3), 3: (1, 6, 4)}
    # bucket assignment is a pure function of doc_id: stable across calls
    a = sorted(map(tuple, pack_documents(docs, capacity=5, n_buckets=4)
                   .select("doc_id", "bucket").collect()))
    b = sorted(map(tuple, pack_documents(docs, capacity=5, n_buckets=4)
                   .select("doc_id", "bucket").collect()))
    assert a == b


def test_countmin_sketch_exact_and_upward_biased(spark):
    from kgpipe.textops import countmin_sketch, _portable_hash

    docs = spark.createDataFrame(
        [(1, "a a a b"), (2, "a c")], "doc_id long, text string"
    )
    cells = {
        (r["row"], r["col"]): r["count"]  # r.count is Row.count, the method
        for r in countmin_sketch(docs, depth=2, width=8).collect()
    }
    # total mass per row = total token count
    for row in (0, 1):
        assert sum(v for (r, _), v in cells.items() if r == row) == 6
    # estimate(token) = min over rows >= true count (CM upward bias)
    tok = spark.createDataFrame([("a",), ("b",), ("c",)], "token string")
    probes = tok.select(
        "token",
        *[
            (_portable_hash(F.col("token"), 100 + r) % 8)
            .cast("int")
            .alias(f"c{r}")
            for r in (0, 1)
        ],
    ).collect()
    true = {"a": 4, "b": 1, "c": 1}
    for p in probes:
        est = min(cells.get((0, p.c0), 0), cells.get((1, p.c1), 0))
        assert est >= true[p.token]


def test_length_quantiles_monotone_in_q(spark):
    # nearest-rank percentile values are non-decreasing in q
    import random

    rng = random.Random(3)
    rows = [(i, "x", "en", "s", rng.randint(1, 500)) for i in range(80)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    from kgpipe.textops import length_quantiles

    vals = {
        r.q: r.value
        for r in length_quantiles(docs, qs=(10, 25, 50, 75, 90, 100)).collect()
    }
    ordered = [vals[q] for q in (10, 25, 50, 75, 90, 100)]
    assert ordered == sorted(ordered)
    assert vals[100] == max(v for _, _, _, _, v in rows)


def test_pack_documents_bin_offsets_consistent(spark):
    # within every bucket: offsets are the prefix sums of n_tokens in
    # doc_id order and bins are non-decreasing
    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * (1 + i % 7))) for i in range(60)],
        "doc_id long, text string",
    )
    from collections import defaultdict

    from kgpipe.textops import pack_documents

    rows = pack_documents(docs, capacity=10, n_buckets=4).collect()
    by_bucket = defaultdict(list)
    for r in rows:
        by_bucket[r.bucket].append(r)
    for rs in by_bucket.values():
        rs.sort(key=lambda r: r.doc_id)
        run = 0
        prev_bin = 0
        for r in rs:
            assert r.start_offset == run
            assert r.bin == run // 10
            assert r.bin >= prev_bin
            prev_bin = r.bin
            run += r.n_tokens


def test_contamination_known_overlap(spark):
    from kgpipe.textops import contamination

    corpus = spark.createDataFrame(
        [(1, "a b c d e f g h i j"), (2, "q r s t u v w x y z")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [
            # shares the full 10-token run with corpus doc 1 -> 3 of its
            # 8 shingles (windows 1-3 of 15 tokens) match
            (100, "a b c d e f g h i j k1 k2 k3 k4 k5"),
            # nothing shared
            (101, "n1 n2 n3 n4 n5 n6 n7 n8 n9 n10"),
            # exact copy: every shingle matches -> flagged
            (102, "a b c d e f g h i j"),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r
        for r in contamination(corpus, bench, n=8, threshold=0.5).collect()
    }
    assert got[100].n_shingles == 8 and got[100].n_matched == 3
    assert got[100].contamination == 0.375 and not got[100].flagged
    assert got[101].n_matched == 0 and not got[101].flagged
    assert got[102].n_matched == got[102].n_shingles == 3
    assert got[102].contamination == 1.0 and got[102].flagged


def test_contamination_corpus_collapses_to_shingle_set(spark):
    from kgpipe.textops import contamination

    # duplicated corpus docs must not double-count matches (the corpus
    # side is a DISTINCT shingle set)
    corpus = spark.createDataFrame(
        [(i, "a b c d e f g h i j") for i in range(10)],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "a b c d e f g h i j")], "doc_id long, text string"
    )
    row = contamination(corpus, bench, n=8).collect()[0]
    assert row.n_matched == row.n_shingles == 3


def test_repetition_stats_values(spark):
    from kgpipe.textops import repetition_stats

    docs = spark.createDataFrame(
        [
            (1, "spam spam spam spam ok"),   # top token 4/5; 'spam spam' 3/4
            (2, "all words here are unique distinct tokens"),
            (3, "single"),                   # too short for bigrams/trigrams
            (4, "a b a b a b a b"),          # alternating: every trigram dup
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in repetition_stats(docs).collect()}
    assert got[1].top_token_fraction == 0.8
    assert got[1].top_bigram_fraction == 0.75
    assert got[1].dup_trigram_fraction == 0.3333
    assert got[2].top_token_fraction == round(1 / 7, 4)
    assert got[2].dup_trigram_fraction == 0.0
    assert got[3].n_tokens == 1
    assert got[3].top_token_fraction == 1.0
    assert got[3].top_bigram_fraction == 0.0  # no bigrams -> 0
    # 'a b a b a b a b': 6 trigram instances, 2 distinct -> 1 - 2/6
    assert got[4].dup_trigram_fraction == 0.6667
    assert got[4].top_token_fraction == 0.5


def test_repetition_stats_differential_random(spark):
    """Differential: Spark repetition_stats vs a pure-Python reference on
    seeded random docs (the oracle_ref testing pattern)."""
    import random

    rng = random.Random(42)
    vocab = ["aa", "bb", "cc", "dd"]
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 12))))
        for i in range(30)
    ]

    def ref(text):
        toks = text.split(" ")
        n = len(toks)

        def top_frac(m):
            grams = [" ".join(toks[i:i + m]) for i in range(n - m + 1)]
            if not grams:
                return 0.0
            c = {}
            for g in grams:
                c[g] = c.get(g, 0) + 1
            return round(max(c.values()) / len(grams), 4)

        tri = [" ".join(toks[i:i + 3]) for i in range(n - 2)]
        dup = round(1 - len(set(tri)) / len(tri), 4) if tri else 0.0
        return n, top_frac(1), top_frac(2), dup

    from kgpipe.textops import repetition_stats

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.doc_id: r for r in repetition_stats(df).collect()}
    for doc_id, text in docs:
        n, t1, t2, d3 = ref(text)
        r = got[doc_id]
        assert (
            r.n_tokens, r.top_token_fraction,
            r.top_bigram_fraction, r.dup_trigram_fraction,
        ) == (n, t1, t2, d3), (doc_id, text)


def test_contamination_differential_random(spark):
    """Differential: Spark contamination vs a pure-Python shingle-set
    reference on seeded random corpora."""
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(12)]

    def doc():
        return " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 20)))

    corpus = [(i, doc()) for i in range(20)]
    bench = [(100 + i, doc()) for i in range(10)]

    def shingles(text, n=4):
        toks = text.split(" ")
        if len(toks) <= n:
            return {" ".join(toks)}
        return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}

    corpus_set = set().union(*(shingles(t) for _, t in corpus))

    from kgpipe.textops import contamination

    c_df = spark.createDataFrame(corpus, "doc_id long, text string")
    b_df = spark.createDataFrame(bench, "doc_id long, text string")
    got = {r.doc_id: r for r in contamination(c_df, b_df, n=4).collect()}
    for doc_id, text in bench:
        sh = shingles(text)
        matched = len(sh & corpus_set)
        r = got[doc_id]
        assert r.n_shingles == len(sh), (doc_id, text)
        assert r.n_matched == matched, (doc_id, text)
        assert r.contamination == round(matched / len(sh), 4)


def test_unigram_surprisal_values_and_eval_scoring(spark):
    from kgpipe.textops import unigram_surprisal

    docs = spark.createDataFrame(
        [(1, "the the the cat"), (2, "zq xv"), (3, "the cat")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in unigram_surprisal(docs).collect()}
    # 'the' appears 4x -> floor(log2 5)=2; 'cat' 2x -> floor(log2 3)=1;
    # singletons -> floor(log2 2)=1
    assert got[1].mean_log2_freq == 1.75    # (2+2+2+1)/4
    assert got[2].mean_log2_freq == 1.0
    assert got[3].mean_log2_freq == 1.5
    # eval-set scoring against the trained counts: unseen tokens = 0 bits
    ev = spark.createDataFrame(
        [(100, "the unseen")], "doc_id long, text string"
    )
    row = unigram_surprisal(docs, score=ev).collect()[0]
    assert row.n_tokens == 2 and row.mean_log2_freq == 1.0  # (2+0)/2


def test_curate_corpus_v2_gates(spark):
    from kgpipe.textops import curate_corpus

    docs = spark.createDataFrame(
        [
            # fluent unique english, no repetition -> kept
            (1, "the data and query of the table and the sort of the scan"),
            # heavy bigram repetition ('spam row' over and over)
            (2, "spam row spam row spam row spam row spam row spam row"),
            # rare garbled tokens (appear once each, corpus-wide)
            (3, "zq1 xv2 qq3 kk4 jj5 pp6 ww7 rr8 tt9 yy0 uu1 ii2"),
        ],
        "doc_id long, text string",
    )
    # quality is neutralized (min_quality_e6=0) so the NEW gates decide —
    # precedence puts quality ahead of repetition/rare_tokens
    kw = dict(langs=("en", "und"), min_quality_e6=0)
    v1 = {r.doc_id: r for r in curate_corpus(docs, **kw).collect()}
    assert all(
        r.drop_reason not in ("repetition", "rare_tokens")
        for r in v1.values()
    )
    v2 = {
        r.doc_id: r
        for r in curate_corpus(
            docs, **kw,
            max_top_bigram_e6=400_000, min_surprisal_e6=1_100_000,
        ).collect()
    }
    assert v2[2].drop_reason == "repetition" and not v2[2].kept
    assert v2[3].drop_reason == "rare_tokens" and not v2[3].kept
    assert v2[1].kept
    # the extra evidence columns are carried
    assert v2[2].top_bigram_e6 > 400_000
    assert v2[3].surprisal_e6 < 1_100_000


def test_curate_corpus_degenerate_doc_keeps_row(spark):
    """One-row-per-doc contract under the surprisal gate: a doc whose text
    has no non-empty tokens emits no unigram_surprisal row; it must still
    appear in the output, dropped explicitly as rare_tokens (NULL surprisal
    = no frequency evidence of fluent text)."""
    from kgpipe.textops import curate_corpus

    docs = spark.createDataFrame(
        [
            (1, "the data and query of the table and the sort of the scan"),
            (2, ""),          # empty text -> zero tokens
            (3, "   "),       # whitespace-only -> zero non-empty tokens
        ],
        "doc_id long, text string",
    )
    kw = dict(langs=("en", "und"), min_quality_e6=0)
    out = {
        r.doc_id: r
        for r in curate_corpus(docs, **kw, min_surprisal_e6=0).collect()
    }
    assert set(out) == {1, 2, 3}  # no doc vanishes
    assert out[1].kept
    for d in (2, 3):
        assert not out[d].kept and out[d].drop_reason == "rare_tokens"
        assert out[d].surprisal_e6 is None


# ----------------------------------------------------------- mixture_sample ---

def test_mixture_rates_permille_temperature():
    from kgpipe.textops import mixture_rates_permille

    # T=1: proportional to weights; largest gets scale
    r1 = mixture_rates_permille({"a": 100, "b": 10}, temperature=1.0)
    assert r1 == {"a": 500, "b": 50}
    # T=2: sqrt flattening — small source upweighted relative to T=1
    r2 = mixture_rates_permille({"a": 100, "b": 10}, temperature=2.0)
    assert r2["a"] == 500 and r2["b"] > r1["b"]
    # clamp at 1000
    r3 = mixture_rates_permille({"a": 1, "b": 1}, scale_permille=1500)
    assert r3 == {"a": 1000, "b": 1000}
    assert mixture_rates_permille({}) == {}


def test_mixture_sample_deterministic_and_thresholded(spark):
    from kgpipe.textops import mixture_rates_permille, mixture_sample

    rows = [
        (i, f"text {i}", "en", "srcA" if i % 2 == 0 else "srcB", 7)
        for i in range(200)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    weights = {"srcA": 100.0, "srcB": 10.0}
    got = mixture_sample(df, weights, temperature=2.0).collect()
    rates = mixture_rates_permille(weights, 2.0)
    # every kept row satisfies the threshold with ITS source's rate
    for r in got:
        assert r.sample_bucket < r.mix_rate_permille
        assert r.mix_rate_permille == rates[r.source]
    # decision is a pure function of (doc_id, seed): rerun identical
    again = mixture_sample(df, weights, temperature=2.0).collect()
    assert sorted(r.doc_id for r in got) == sorted(r.doc_id for r in again)
    # a source without a weight is dropped entirely (default 0)
    none_kept = mixture_sample(df, {"srcA": 1.0}).collect()
    assert all(r.source == "srcA" for r in none_kept)
    # flattening monotonicity: at T=2 the small source keeps MORE docs
    t1 = mixture_sample(df, weights, temperature=1.0).collect()
    b1 = sum(1 for r in t1 if r.source == "srcB")
    b2 = sum(1 for r in got if r.source == "srcB")
    assert b2 >= b1


# -------------------------------------------------------- passage_dup_stats ---

def test_passage_dup_stats_coverage(spark):
    from kgpipe.textops import passage_dup_stats

    shared = "a b c d e f g h"  # one 8-gram shared by docs 1 and 2
    rows = [
        (1, shared + " i j", "en", "s", 1),        # 10 toks, covered 1..8
        (2, "z " + shared, "en", "s", 1),          # 9 toks, covered 2..9
        (3, "p q r s t u v w x y", "en", "s", 1),  # no dup grams
        (4, "tiny doc", "en", "s", 1),             # shorter than n
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    got = {r.doc_id: r for r in passage_dup_stats(df, n=8).collect()}
    assert len(got) == 4
    r1, r2, r3, r4 = got[1], got[2], got[3], got[4]
    assert (r1.n_tokens, r1.dup_gram_instances, r1.covered_tokens) == (10, 1, 8)
    assert r1.dup_ppm == 8 * 1_000_000 // 10
    assert (r2.n_tokens, r2.dup_gram_instances, r2.covered_tokens) == (9, 1, 8)
    assert r2.dup_ppm == 8 * 1_000_000 // 9
    assert (r3.dup_gram_instances, r3.covered_tokens, r3.dup_ppm) == (0, 0, 0)
    assert (r4.n_tokens, r4.dup_ppm) == (2, 0)


def test_passage_dup_stats_overlapping_instances_union(spark):
    from kgpipe.textops import passage_dup_stats

    # doc 1 repeats a 9-token run also present in doc 2: two overlapping
    # dup 8-grams; coverage is the UNION of positions (9, not 16)
    run = "a b c d e f g h i"
    rows = [
        (1, run + " x", "en", "s", 1),   # 10 toks: grams at 1,2 dup -> 1..9
        (2, run, "en", "s", 1),          # 9 toks: grams at 1,2 dup -> all 9
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    got = {r.doc_id: r for r in passage_dup_stats(df, n=8).collect()}
    assert (got[1].dup_gram_instances, got[1].covered_tokens) == (2, 9)
    assert got[1].dup_ppm == 9 * 1_000_000 // 10
    assert (got[2].dup_gram_instances, got[2].covered_tokens) == (2, 9)
    assert got[2].dup_ppm == 1_000_000


# ---------------------------------------------------------- chunk_documents ---

def test_chunk_documents_windows(spark):
    from kgpipe.textops import chunk_documents

    rows = [
        (1, " ".join(f"w{i}" for i in range(10)), "en", "s", 1),  # 10 toks
        (2, "a b c", "en", "s", 1),                               # short doc
        (3, " ".join(f"t{i}" for i in range(9)), "en", "s", 1),   # 9 toks
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    got = {}
    for r in chunk_documents(df, max_tokens=4, stride=3).collect():
        got.setdefault(r.doc_id, []).append(r)
    for chunks in got.values():
        chunks.sort(key=lambda r: r.chunk_idx)

    # doc 1: n=10 -> ceil((10-4)/3)+1 = 3 chunks at starts 1,4,7
    c1 = got[1]
    assert [(r.start_tok, r.chunk_len) for r in c1] == [(1, 4), (4, 4), (7, 4)]
    assert c1[0].chunk_text == "w0 w1 w2 w3"
    assert c1[2].chunk_text == "w6 w7 w8 w9"
    # doc 2: short doc -> exactly one whole-text chunk
    assert [(r.start_tok, r.chunk_len, r.chunk_text) for r in got[2]] == [
        (1, 3, "a b c")
    ]
    # doc 3: n=9 -> ceil((9-4)/3)+1 = 3 chunks; last is SHORT (start 7, len 3)
    assert [(r.start_tok, r.chunk_len) for r in got[3]] == [(1, 4), (4, 4), (7, 3)]
    assert got[3][2].chunk_text == "t6 t7 t8"


def test_chunk_documents_full_coverage_and_overlap(spark):
    from kgpipe.textops import chunk_documents

    n = 100
    df = spark.createDataFrame(
        [(1, " ".join(f"x{i}" for i in range(n)), "en", "s", 1)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    chunks = sorted(
        chunk_documents(df, max_tokens=16, stride=12).collect(),
        key=lambda r: r.chunk_idx,
    )
    covered = set()
    for r in chunks:
        covered.update(range(r.start_tok, r.start_tok + r.chunk_len))
    assert covered == set(range(1, n + 1))          # every token covered
    for a, b in zip(chunks, chunks[1:]):            # constant stride
        assert b.start_tok - a.start_tok == 12
    assert chunks[-1].start_tok + chunks[-1].chunk_len - 1 == n
    import pytest
    with pytest.raises(ValueError):
        chunk_documents(df, max_tokens=0)


def test_mixture_rates_degenerate_inputs():
    import pytest
    from kgpipe.textops import mixture_rates_permille

    assert mixture_rates_permille({"a": 0, "b": 0.0}) == {}
    with pytest.raises(ValueError):
        mixture_rates_permille({"a": 1.0}, temperature=0)
    with pytest.raises(ValueError):
        mixture_rates_permille({"a": -5.0}, temperature=2.0)


def test_chunk_documents_rejects_gap_stride(spark):
    import pytest
    from kgpipe.textops import chunk_documents

    df = spark.createDataFrame(
        [(1, "a b c", "en", "s", 1)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    with pytest.raises(ValueError):
        chunk_documents(df, max_tokens=32, stride=40)
