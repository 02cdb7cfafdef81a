"""Large-scale training-data operators over a document corpus
(documents(doc_id, text, lang, source, n_chars)).

These have no reference counterpart (the reference's dedup is delegated to
an external consumer of its annotation ids, timeline_delegator.py:468-477);
they are first-class components of this engine per the build brief. Every
operator is pure DataFrame algebra on JVM-side functions — no Python in the
hot path — and every hash is the md5-prefix portable hash so the DuckDB
oracle can replay it bit-for-bit.

Scale notes: exact dedup is one hash-groupBy; MinHash banding turns the
O(n^2) pair space into per-band equi-joins; n-gram Jaccard joins only
shingle-sharing pairs (blocked, not cross); SimHash is a vectorized Arrow
UDF emitting one 64-bit key per doc, near-dup candidates join on rotated
prefixes.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .worker import worker_body

__all__ = [
    "exact_dedup",
    "doc_shingles",
    "minhash_signatures",
    "banded_keys",
    "band_join",
    "minhash_dup_pairs",
    "exact_jaccard",
    "ngram_jaccard_pairs",
    "simhash",
    "simhash_dup_pairs",
    "language_id",
    "quality_scores",
    "token_stats",
    "doc_fingerprint",
    "dedup_clusters",
    "vocabulary",
    "countmin_sketch",
    "pack_documents",
    "stratified_sample",
    "length_quantiles",
    "tfidf_top_terms",
    "redact_pii",
    "curate_corpus",
    "contamination",
    "repetition_stats",
    "unigram_surprisal",
    "mixture_rates_permille",
    "mixture_sample",
    "passage_dup_stats",
    "chunk_documents",
]


def _portable_hash(col, seed: int):
    """60-bit bigint from md5 prefix — replayable in DuckDB as
    CAST(('0x' || substring(md5(s || '#seed'), 1, 15)) AS BIGINT)."""
    return F.conv(
        F.substring(F.md5(F.concat(col, F.lit(f"#{seed}"))), 1, 15), 16, 10
    ).cast("bigint")


# ---------------------------------------------------------------- dedup ---

def exact_dedup(documents: DataFrame) -> DataFrame:
    """Exact duplicate clusters by md5(text): one row per cluster with the
    kept (min) doc_id and the duplicate count."""
    return (
        documents.groupBy(F.md5("text").alias("text_hash"))
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count("*").alias("n_docs"),
        )
        .where(F.col("n_docs") > 1)
    )


def _word_grams(documents: DataFrame, n: int, *, clamp: bool) -> DataFrame:
    """(doc_id, shingle): one row per word n-gram INSTANCE.

    ``clamp=True`` (the doc_shingles contract): a doc shorter than ``n``
    still yields one short shingle (its whole text). ``clamp=False``: such
    docs yield no rows — the per-gram-level contract of repetition_stats.
    The where-filter also keeps F.sequence ascending (sequence(1, 0) would
    DESCEND and feed slice() an invalid 0 start)."""
    toks = documents.select(
        "doc_id", F.split(F.col("text"), " ").alias("toks")
    )
    if clamp:
        idx = F.sequence(
            F.lit(1), F.greatest(F.size("toks") - F.lit(n - 1), F.lit(1))
        )
    else:
        toks = toks.where(F.size("toks") >= n)
        idx = F.sequence(F.lit(1), F.size("toks") - F.lit(n - 1))
    return (
        toks.select("doc_id", F.explode(idx).alias("i"), "toks")
        .select(
            "doc_id",
            F.concat_ws(" ", F.slice(F.col("toks"), F.col("i"), n)).alias("shingle"),
        )
    )


def doc_shingles(documents: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, shingle): distinct word n-gram shingles of the
    whitespace-tokenized text."""
    return _word_grams(documents, n, clamp=True).distinct()


def minhash_signatures(shingled: DataFrame, id_col: str, *, k: int) -> DataFrame:
    """(id, shingle) -> (id, sig_0..sig_{k-1}): k min-hash values in ONE
    aggregation pass. min() is duplicate-insensitive, so ``shingled`` may
    hold repeated rows."""
    aggs = [
        F.min(_portable_hash(F.col("shingle"), seed)).alias(f"sig_{seed}")
        for seed in range(k)
    ]
    return shingled.groupBy(id_col).agg(*aggs)


def banded_keys(
    signatures: DataFrame, id_col: str, *, k: int, bands: int
) -> DataFrame:
    """(id, band, band_key) rows from a sig_0..sig_{k-1} signature frame —
    all bands in ONE explode pass. A per-band union would re-execute the
    signature subtree (shingle + k-way min aggregate) once per band per
    join side; the explode leaves one subtree whose exchange a self-join's
    other side can reuse. Shared by the doc-dedup and the surface-canon
    LSH paths so the band-key construction cannot diverge."""
    r = k // bands
    band_structs = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.md5(F.concat_ws("|", *[
                F.col(f"sig_{i}").cast("string")
                for i in range(b * r, (b + 1) * r)
            ])).alias("band_key"),
        )
        for b in range(bands)
    ])
    return signatures.select(
        id_col, F.explode(band_structs).alias("bk")
    ).select(id_col, "bk.band", "bk.band_key")


def band_join(banded: DataFrame, id_col: str) -> DataFrame:
    """Self-join of ``banded_keys`` output on (band, band_key):
    (a, b, n_bands_hit) with a < b, one row per pair colliding in >= 1
    band. Shared by the doc-dedup and the surface-canon LSH paths."""
    l, rgt = banded.alias("l"), banded.alias("r")
    return (
        l.join(
            rgt,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.band_key") == F.col("r.band_key"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .groupBy(F.col(f"l.{id_col}").alias("a"), F.col(f"r.{id_col}").alias("b"))
        .agg(F.count("*").alias("n_bands_hit"))
    )


def minhash_dup_pairs(
    documents: DataFrame, *, n: int = 3, k: int = 16, bands: int = 4
) -> DataFrame:
    """MinHash+LSH near-duplicate candidates: (doc_a, doc_b, n_bands_hit)
    with doc_a < doc_b. Docs colliding in >=1 band are candidates; the
    n_bands_hit count orders by similarity evidence."""
    # the signatures read the RAW gram stream — doc_shingles' distinct()
    # added a full shuffle of every gram and, worse, blocked map-side
    # partial aggregation (the 8 min-aggs now compress ~50 grams/doc to one
    # row per doc before the exchange)
    sigs = minhash_signatures(_word_grams(documents, n, clamp=True), "doc_id", k=k)
    return band_join(banded_keys(sigs, "doc_id", k=k, bands=bands), "doc_id").select(
        F.col("a").alias("doc_a"), F.col("b").alias("doc_b"), "n_bands_hit"
    )


def _jaccard_from_counts(
    inter: DataFrame, shingled: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """inter(a, b, n_inter) + the distinct (id, shingle) frame ->
    (a, b, jaccard) with jaccard >= threshold."""
    sizes = shingled.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    return (
        inter.join(sizes.select(F.col(id_col).alias("a"), F.col("n_sh").alias("n_a")), "a")
        .join(sizes.select(F.col(id_col).alias("b"), F.col("n_sh").alias("n_b")), "b")
        .withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


def exact_jaccard(
    pairs: DataFrame, shingled: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """Exact shingle-set Jaccard of candidate pairs(a, b) over the DISTINCT
    (id, shingle) frame: (a, b, jaccard) with jaccard >= threshold. The
    recount reads every shingle of both sides, so LSH or hot-shingle
    candidate cuts never approximate a score."""
    inter = (
        pairs.join(shingled.alias("x"), F.col("a") == F.col(f"x.{id_col}"))
        .join(
            shingled.alias("y"),
            (F.col("b") == F.col(f"y.{id_col}"))
            & (F.col("x.shingle") == F.col("y.shingle")),
        )
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_inter"))
    )
    return _jaccard_from_counts(inter, shingled, id_col, threshold)


def ngram_jaccard_pairs(
    documents: DataFrame,
    *,
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact word-n-gram Jaccard similarity for shingle-sharing pairs
    (blocked self-join), thresholded. Columns: doc_a, doc_b, jaccard.

    ``max_shingle_df`` is the 100-TB skew guard: a shingle shared by k docs
    emits k^2 candidate rows, so common trigrams make hot blocks quadratic.
    When set, CANDIDATE GENERATION uses only shingles with document
    frequency <= max_shingle_df (the dropped hot-shingle count is log()'d),
    and the jaccard itself is then re-computed EXACTLY over each candidate
    pair's full shingle sets — so scores are never approximated; the only
    relaxation is that a pair sharing exclusively hot shingles is not
    discovered. Near-dup pairs above a 0.8 threshold share most of their
    shingles, so any pair with at least one sub-threshold-frequency shingle
    is found (pytest-property-tested; the driver query runs with the cut
    active and still matches the full-jaccard oracle)."""
    # the shingle set feeds sizes, the df-cut, BOTH sides of the candidate
    # join and BOTH sides of the exact re-count — 6 subtree executions of
    # the explode+distinct without pinning it (one of them eager, for the
    # hot-shingle log line). An eager localCheckpoint pins it once per
    # call; Spark's ContextCleaner drops its blocks once the frame is
    # unreachable, so repeated calls leave no cache entry behind.
    sh = doc_shingles(documents, n=n).localCheckpoint(eager=True)
    if max_shingle_df is None:
        inter = (
            sh.alias("x")
            .join(sh.alias("y"), "shingle")
            .where(F.col("x.doc_id") < F.col("y.doc_id"))
            .groupBy(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
            .agg(F.count("*").alias("n_inter"))
        )
        scored = _jaccard_from_counts(inter, sh, "doc_id", threshold)
    else:
        dfreq = sh.groupBy("shingle").agg(F.count("*").alias("df"))
        n_hot = dfreq.where(F.col("df") > max_shingle_df).count()
        if n_hot:
            import logging

            logging.getLogger(__name__).info(
                "ngram_jaccard_pairs: dropping %d hot shingles "
                "(df > %d) from candidate generation", n_hot, max_shingle_df,
            )
        rare = dfreq.where(F.col("df") <= max_shingle_df).select("shingle")
        sh_rare = sh.join(rare, "shingle")
        cand = (
            sh_rare.alias("x")
            .join(sh_rare.alias("y"), "shingle")
            .where(F.col("x.doc_id") < F.col("y.doc_id"))
            .select(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
            .distinct()
        )
        scored = exact_jaccard(cand, sh, "doc_id", threshold)
    return scored.select(
        F.col("a").alias("doc_a"), F.col("b").alias("doc_b"), "jaccard"
    )


def simhash(documents: DataFrame, bits: int = 64) -> DataFrame:
    """64-bit SimHash per doc — vectorized Arrow UDF (bit-twiddling is the
    one genuinely non-relational step; numpy over Arrow batches)."""

    if bits != 64:
        raise ValueError("simhash: only 64-bit signatures are supported")

    @F.pandas_udf(T.LongType())
    @worker_body
    def _simhash(texts: pd.Series) -> pd.Series:
        # Vectorized bit accumulation: md5 once per DISTINCT token (memoized
        # across the Arrow batch), np.unpackbits into a ±1 row of 64, count-
        # weighted column sum, sign re-packed with np.packbits — no per-bit
        # Python loop. unpackbits column j is bit 63-j of the big-endian
        # 8-byte hash, and packbits inverts the same mapping, so the emitted
        # word is bit-identical to the scalar (h >> b) & 1 formulation.
        import hashlib
        from collections import Counter

        memo: dict = {}
        out = np.zeros(len(texts), dtype=np.int64)
        for i, t in enumerate(texts):
            toks = (t or "").split()
            if not toks:
                continue
            acc = np.zeros(64, dtype=np.int64)
            for tok, cnt in Counter(toks).items():
                v = memo.get(tok)
                if v is None:
                    raw = np.frombuffer(
                        hashlib.md5(tok.encode("utf-8")).digest()[:8], dtype=np.uint8
                    )
                    v = np.unpackbits(raw).astype(np.int64) * 2 - 1
                    memo[tok] = v
                acc += cnt * v
            packed = np.packbits(acc > 0)
            out[i] = np.int64(
                np.uint64(int.from_bytes(packed.tobytes(), "big")).astype(np.int64)
            )
        return pd.Series(out)

    return documents.select("doc_id", _simhash("text").alias("simhash"))


def simhash_dup_pairs(documents: DataFrame, max_hamming: int = 3) -> DataFrame:
    """SimHash near-dups: block on 16-bit key chunks (a pair within hamming
    distance 3 of a 64-bit key must agree exactly on at least one of 4
    16-bit chunks), then verify the true hamming distance."""
    sh = simhash(documents)
    # one explode pass instead of a 4-way union (which re-ran the simhash
    # Arrow UDF once per chunk per join side)
    chunk_structs = F.array(*[
        F.struct(
            F.lit(c).alias("chunk"),
            F.shiftrightunsigned("simhash", c * 16)
            .bitwiseAND(F.lit(0xFFFF)).alias("chunk_key"),
        )
        for c in range(4)
    ])
    chunks = sh.select(
        "doc_id", "simhash", F.explode(chunk_structs).alias("ck")
    ).select("doc_id", "simhash", "ck.chunk", "ck.chunk_key")
    l, r = chunks.alias("l"), chunks.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.chunk") == F.col("r.chunk"))
            & (F.col("l.chunk_key") == F.col("r.chunk_key"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("doc_a"),
            F.col("r.doc_id").alias("doc_b"),
            F.col("l.simhash").alias("h_a"),
            F.col("r.simhash").alias("h_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))))
        .where(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def tfidf_top_terms(documents: DataFrame, *, k: int = 3) -> DataFrame:
    """Per-document top-k TF-IDF terms: (doc_id, rank, term, tfidf).

    Classic corpus-scale dataflow: explode tokens -> per-(doc, term) TF hash
    aggregate -> term DF hash aggregate (vocabulary-bounded, AQE broadcasts
    it back) -> idf = ln(N / df) -> per-doc rank window. Two shuffles total
    (doc-term agg, term agg); the rank window partitions by doc_id so it
    never concentrates. Determinism: ties broken by term asc; tfidf is
    ln-based double — callers floor-scale for cross-engine compare.
    """
    toks = documents.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).where(F.col("term") != "")
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = documents.agg(F.countDistinct("doc_id").alias("n"))
    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id", "term",
            (F.col("tf") * F.log(F.col("n") / F.col("df"))).alias("tfidf"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("doc_id", "rank", "term", "tfidf")
    )


# -------------------------------------------------------- text analysis ---

_LANG_MARKERS = {
    "en": ["the", "and", "of"],
    "es": ["el", "la", "los"],
    "fr": ["le", "les", "des"],
    "de": ["der", "die", "und"],
}

_STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it"]


def language_id(documents: DataFrame) -> DataFrame:
    """Marker-word language heuristic: count marker hits per language over
    the whitespace tokens, argmax with deterministic (count desc, lang asc)
    tie-break; 'und' when nothing matches."""
    toks = F.split(F.col("text"), " ")
    scored = documents.select("doc_id", "text")
    def _count(mk: str):
        # NB: F.filter treats a two-arg lambda as (element, index) — keep
        # the closure single-arg.
        return F.size(F.filter(toks, lambda t: t == F.lit(mk)))

    pairs = []
    for lang, markers in sorted(_LANG_MARKERS.items()):
        cnt = None
        for mk in markers:
            c = _count(mk)
            cnt = c if cnt is None else cnt + c
        pairs.append(F.struct(cnt.alias("hits"), F.lit(lang).alias("lang")))
    best = F.array_max(F.array(*pairs))
    return scored.select(
        "doc_id",
        F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und")).alias(
            "lang_guess"
        ),
        best["hits"].alias("marker_hits"),
    )


def quality_scores(documents: DataFrame, raw: bool = False) -> DataFrame:
    """Deterministic quality features + composite score in [0, 1]:
    token count, mean token length, distinct-token ratio, stopword ratio,
    punctuation ratio. ``raw=True`` skips the display rounding (callers that
    need cross-engine bit-parity floor-scale the raw doubles instead)."""
    toks = F.split(F.col("text"), " ")
    n_tok = F.size(toks)
    distinct_ratio = F.size(F.array_distinct(toks)) / n_tok
    stop_hits = F.size(F.filter(toks, lambda t: t.isin(*_STOPWORDS)))
    stop_ratio = stop_hits / n_tok
    mean_tok_len = (F.length("text") - (n_tok - 1)) / n_tok
    # empty text divides by zero under ANSI mode (split('', ' ') is [''] so
    # n_tok >= 1 always, but length('') is 0) — define the degenerate case
    # explicitly: no chars -> punct ratio 0.0, same CASE in the SQL twin
    punct_ratio = F.when(
        F.length("text") > 0,
        F.length(F.regexp_replace("text", r"[A-Za-z0-9 ]", "")) / F.length("text"),
    ).otherwise(F.lit(0.0))
    score = (
        F.least(n_tok / F.lit(50.0), F.lit(1.0)) * 0.3
        + F.least(distinct_ratio * 2, F.lit(1.0)) * 0.3
        + F.least(stop_ratio * 5, F.lit(1.0)) * 0.2
        + (F.lit(1.0) - F.least(punct_ratio * 10, F.lit(1.0))) * 0.2
    )
    rnd = (lambda c: c) if raw else (lambda c: F.round(c, 4))
    return documents.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        rnd(mean_tok_len).alias("mean_token_len"),
        rnd(distinct_ratio).alias("distinct_ratio"),
        rnd(stop_ratio).alias("stopword_ratio"),
        rnd(punct_ratio).alias("punct_ratio"),
        rnd(score).alias("quality_score"),
    )


def token_stats(documents: DataFrame) -> DataFrame:
    """Token counting two ways: whitespace tokens and a BPE-ish regex count
    (alnum runs + single symbols), plus char length."""
    return documents.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(r"[a-zA-Z0-9]+|[^a-zA-Z0-9\s]"), 0)).alias(
            "bpe_ish_tokens"
        ),
        F.length("text").alias("n_chars"),
    )


def countmin_sketch(
    documents: DataFrame, *, depth: int = 4, width: int = 64
) -> DataFrame:
    """Count-min sketch of the token stream — the streaming-friendly
    frequency summary (heavy-hitter estimation in O(depth*width) space).
    Built EXACTLY: the sketch is deterministic given its hash functions,
    and ours are the portable md5-prefix hashes, so the full sketch
    replays bit-for-bit in the SQL oracle — a sketch without giving up
    the exact-oracle bar.

    Shape: explode -> one hash aggregate keyed on (row, col); output
    cardinality is depth*width regardless of corpus size, and the
    map-side partial combine means the shuffle carries at most
    depth*width rows per task. Estimate(token) = min over rows of
    cell(row, hash_row(token) % width) — upward-biased only, the CM
    guarantee.

    Returns (row, col, count) for every non-empty cell.
    """
    toks = documents.select(
        F.explode(F.split("text", " ")).alias("token")
    ).where(F.col("token") != "")
    # one scan: each token emits its depth (row, col) cells via a single
    # explode — a depth-way union of projections would re-read and
    # re-tokenize the corpus once per row
    cells = toks.select(
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(r).alias("row"),
                    (_portable_hash(F.col("token"), 100 + r) % width)
                    .cast("int")
                    .alias("col"),
                )
                for r in range(depth)
            ])
        ).alias("c")
    )
    return cells.groupBy("c.row", "c.col").agg(
        F.count(F.lit(1)).alias("count")
    )


def vocabulary(documents: DataFrame, *, min_count: int = 1) -> DataFrame:
    """Corpus vocabulary — THE canonical tokenizer-training /
    dataset-statistics aggregation: per space-token term frequency (tf)
    and document frequency (df).

    Shape: explode -> one hash aggregate keyed on token. tf partially
    combines map-side; df counts distinct doc_ids, so hot tokens ship
    their (token, doc_id) pairs through the exchange — bounded by distinct
    (token, doc) pairs, the same bound as any df computation. ``min_count``
    prunes the long tail AFTER aggregation (the filter is on aggregated
    rows, so it cannot change the shuffle size — document df-cut before
    the shuffle is what sampling is for).

    Returns (token, tf, df).
    """
    toks = documents.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    ).where(F.col("token") != "")
    return (
        toks.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("tf"),
            F.countDistinct("doc_id").alias("df"),
        )
        .where(F.col("tf") >= min_count)
    )


def pack_documents(
    documents: DataFrame,
    *,
    capacity: int = 512,
    n_buckets: int = 8,
) -> DataFrame:
    """Distributed sequence packing — group documents into fixed
    token-budget bins for LLM training batches. Global greedy packing is
    inherently sequential, so the scalable spec (and what production
    packers actually do) is bucket-local: docs land in
    ``pmod(portable_hash(doc_id), n_buckets)`` buckets, and within a
    bucket (ordered by doc_id) bin = floor(exclusive-prefix-tokens /
    capacity). Contiguous-prefix binning means a bin can overflow by at
    most one document's tokens — the documented tradeoff vs exact
    first-fit, in exchange for a one-window distributed plan.

    One window exchange keyed on bucket; every step is integer arithmetic
    on deterministic hashes, so the DuckDB oracle replays it exactly.

    Returns (bucket, bin, doc_id, n_tokens, start_offset).
    """
    from pyspark.sql import Window

    d = documents.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
        (F.pmod(_portable_hash(F.col("doc_id").cast("string"), 11),
                F.lit(n_buckets))).cast("int").alias("bucket"),
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return d.select(
        "bucket",
        F.col("doc_id"),
        "n_tokens",
        F.coalesce(F.sum("n_tokens").over(w), F.lit(0).cast("long")).alias(
            "start_offset"
        ),
    ).select(
        "bucket",
        F.expr(f"start_offset DIV {int(capacity)}").alias("bin"),
        "doc_id", "n_tokens", "start_offset",
    )


def dedup_clusters(
    documents: DataFrame,
    *,
    n: int = 3,
    k: int = 8,
    bands: int = 4,
    rounds: int = 6,
) -> DataFrame:
    """Transitive near-duplicate clustering — the step real curation
    pipelines need AFTER pairwise candidate generation: near-dup is not
    transitive pairwise (A~B, B~C but A!~C), yet a keep-one-per-group
    policy needs GROUPS, so the MinHash candidate pairs become an edge
    list and connected components assign every doc a cluster id (the
    numeric-min doc_id of its component — the canonical survivor).

    Composition of two scale-audited operators: banded MinHash equi-join
    (never all-pairs) -> hash-to-min CC (log-diameter rounds); dup
    clusters are tiny, so CC converges far inside ``rounds``.

    Returns (doc_id, cluster, cluster_size, is_canonical) for EVERY doc —
    singletons are their own canonical cluster of size 1.
    """
    from .graph import connected_components

    pairs = minhash_dup_pairs(documents, n=n, k=k, bands=bands)
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    comp = connected_components(edges, rounds=rounds)
    d = documents.select("doc_id")
    return (
        d.join(comp, d["doc_id"] == comp["node"], "left")
        .select(
            "doc_id",
            F.coalesce("component", F.col("doc_id")).alias("cluster"),
            F.coalesce("component_size", F.lit(1).cast("long")).alias(
                "cluster_size"
            ),
            (
                F.coalesce("component", F.col("doc_id")) == F.col("doc_id")
            ).alias("is_canonical"),
        )
    )


def stratified_sample(
    documents: DataFrame,
    rates_permille: dict,
    *,
    seed: int = 7,
    default_permille: int = 0,
) -> DataFrame:
    """Deterministic per-stratum Bernoulli sampling — the corpus-mixing
    primitive of a training-data pipeline ("keep 50% of English, 20% of the
    rest"). A doc is kept iff ``portable_hash(doc_id # seed) % 1000 <
    rate_permille[lang]``: the decision is a pure function of (doc_id, seed),
    so samples are stable across runs, engines (the DuckDB oracle replays
    the md5-prefix hash bit-for-bit), and cluster sizes — no ``rand()``, no
    seed-per-partition coupling.

    Scale: a map-side filter fused into the scan (zero shuffles); raising a
    stratum's rate later yields a SUPERSET of the earlier sample (hash
    thresholding), which is what incremental corpus growth wants.

    Returns the kept rows (doc_id, lang, source, n_chars, sample_bucket).
    """
    return _keyed_permille_sample(
        documents, "lang", rates_permille, seed, default_permille
    ).select("doc_id", "lang", "source", "n_chars", "sample_bucket")


def _keyed_permille_sample(
    documents: DataFrame,
    key_col: str,
    rates_permille: dict,
    seed: int,
    default_permille: int,
) -> DataFrame:
    """The shared keyed hash-threshold sampler behind stratified_sample
    (key = lang) and mixture_sample (key = source): rate table folded into
    a CASE column, keep iff ``portable_hash(doc_id # seed) % 1000 <
    rate``. One place owns the hash/threshold convention so the two
    samplers cannot diverge. Adds ``sample_bucket`` and
    ``mix_rate_permille`` columns; callers project."""
    rate = F.lit(default_permille)
    for key, permille in sorted(rates_permille.items()):
        rate = F.when(F.col(key_col) == key, F.lit(permille)).otherwise(rate)
    bucket = _portable_hash(F.col("doc_id").cast("string"), seed) % 1000
    return (
        documents.withColumn("mix_rate_permille", rate.cast("int"))
        .withColumn("sample_bucket", bucket.cast("int"))
        .where(F.col("sample_bucket") < F.col("mix_rate_permille"))
    )


def length_quantiles(documents: DataFrame, qs=(25, 50, 75, 90)) -> DataFrame:
    """Exact nearest-rank percentiles of document length per lang: the value
    at 1-based rank ceil(q*n/100) of n_chars ascending. Nearest-rank (not
    interpolated) keeps every number an integer, so the result is bit-equal
    in any engine — interpolating quantiles (percentile_cont) are float
    expressions whose rounding differs across engines.

    Scale: pre-aggregates to (lang, n_chars) counts first — the cumulative
    window then runs over DISTINCT length values per lang (bounded by max
    doc length, not corpus size), never over raw rows; a naive per-lang
    row_number over documents would put a whole stratum in one task.

    Returns (lang, q, n_docs, value).
    """
    counts = documents.groupBy("lang", "n_chars").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("lang")
        .orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = counts.withColumn("cum", F.sum("cnt").over(w))
    # totals from the tiny pre-aggregate — not a second corpus scan
    totals = counts.groupBy("lang").agg(F.sum("cnt").alias("n_docs"))
    qdf = cum.join(totals, "lang").crossJoin(
        F.broadcast(
            documents.sparkSession.createDataFrame(
                [(int(q),) for q in qs], "q int"
            )
        )
    )
    # nearest-rank: smallest n_chars whose cumulative count reaches
    # ceil(q*n/100) = (q*n + 99) DIV 100 in integer arithmetic
    return (
        qdf.where(F.col("cum") >= F.expr("(q * n_docs + 99) DIV 100"))
        .groupBy("lang", "q", "n_docs")
        .agg(F.min("n_chars").alias("value"))
    )


def doc_fingerprint(documents: DataFrame, *, n: int = 3, keep: int = 4) -> DataFrame:
    """Winnowing-style fingerprint: the ``keep`` smallest portable hashes of
    the doc's word n-gram shingles, as a sorted array + a scalar min."""
    sh = doc_shingles(documents, n=n).withColumn(
        "h", _portable_hash(F.col("shingle"), 0)
    )
    return sh.groupBy("doc_id").agg(
        F.slice(F.sort_array(F.collect_list("h")), 1, keep).alias("fingerprint"),
        F.min("h").alias("min_hash"),
    )


# PII scrubbing — the redaction pass every LLM-training-data pipeline runs
# before tokenization. Patterns are deliberately in the regex subset Java
# (Spark) and RE2 (DuckDB) evaluate identically, so the operator replays
# exactly in the oracle. Order matters and is part of the spec: URLs are
# scrubbed FIRST so an email or IP inside a URL is not double-counted.
REDACT_PATTERNS = [
    ("url", r"https?://[^\s]+"),
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"),
    ("phone", r"\b\d{3}[-.]\d{3}[-.]\d{4}\b"),
]


def redact_pii(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Scrub emails/URLs/IPv4s/phone numbers to <KIND> tokens, counting each
    category as it is removed (counts evaluated on the progressively
    redacted text, so nested matches count once under the outermost kind).

    Pure JVM column algebra — regexp_count + regexp_replace chained per
    pattern, whole-stage-codegen'd, zero shuffles: the 100-TB shape is a
    narrow map over the corpus scan.

    Returns (doc_id, redacted, n_url, n_email, n_ipv4, n_phone, n_redacted).
    """
    cur = F.col(text_col)
    out = documents.select("doc_id", F.col(text_col))
    count_cols = []
    for name, pat in REDACT_PATTERNS:
        cnt = f"n_{name}"
        out = out.withColumn(cnt, F.regexp_count(cur, F.lit(pat)).cast("int"))
        out = out.withColumn(text_col, F.regexp_replace(cur, pat, f"<{name.upper()}>"))
        count_cols.append(cnt)
    total = None
    for c in count_cols:
        total = F.col(c) if total is None else total + F.col(c)
    return out.select(
        "doc_id",
        F.col(text_col).alias("redacted"),
        *count_cols,
        total.cast("int").alias("n_redacted"),
    )


def curate_corpus(
    documents: DataFrame,
    *,
    langs=("en",),
    min_quality_e6: int = 650_000,
    nb_bands: int = 2,
    max_top_bigram_e6: int | None = None,
    min_surprisal_e6: int | None = None,
) -> DataFrame:
    """End-to-end corpus curation — the composite pass a training-data
    pipeline runs before tokenization, as ONE operator over the existing
    primitives. Per doc, the first failing stage (precedence order) becomes
    its drop_reason:

      exact_dup  not the lowest doc_id of an identical-text cluster
      near_dup   the higher doc_id of a MinHash pair with >= nb_bands band
                 collisions (the survivor is the lower id)
      lang       language_id guess not in ``langs``
      quality    floor(quality_score * 1e6) < min_quality_e6 (integer
                 compare so the decision replays exactly cross-engine)
      repetition floor(top_bigram_fraction * 1e6) > max_top_bigram_e6
                 (only when that threshold is given — Gopher-style gate)
      rare_tokens floor(mean_log2_freq * 1e6) < min_surprisal_e6 (only
                 when given — the LM-frequency gate)

    Returns (doc_id, kept, drop_reason, lang_guess, quality_e6,
    n_redacted) — n_redacted from the PII scrub, reported for every doc.
    Every stage is an existing scale-safe operator (hash groupBys, banded
    LSH equi-join, narrow column algebra); the assembly is doc_id equi-joins
    that AQE broadcasts once the flag sides collapse."""
    docs = documents.select("doc_id", "text")
    hashes = docs.select("doc_id", F.md5("text").alias("h"))
    keep = hashes.groupBy("h").agg(F.min("doc_id").alias("keep_id"))
    exact_flag = hashes.join(keep, "h").select(
        "doc_id", (F.col("doc_id") != F.col("keep_id")).alias("is_exact_dup")
    )
    near_ids = (
        # n=3/k=8/bands=4 is the banding every other caller AND the
        # text_curate DuckDB oracle use — the default k=16 diverges from
        # the oracle twin on borderline near-dups
        minhash_dup_pairs(documents, n=3, k=8, bands=4)
        .where(F.col("n_bands_hit") >= nb_bands)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
        .withColumn("is_near_dup", F.lit(True))
    )
    lang = language_id(documents).select("doc_id", "lang_guess")
    qual = quality_scores(documents, raw=True).select(
        "doc_id",
        F.floor(F.col("quality_score") * 1e6).cast("bigint").alias("quality_e6"),
    )
    red = redact_pii(documents).select("doc_id", "n_redacted")
    out = (
        docs.select("doc_id")
        .join(exact_flag, "doc_id")
        .join(near_ids, "doc_id", "left")
        .join(lang, "doc_id")
        .join(qual, "doc_id")
        .join(red, "doc_id")
    )
    extra_cols = []
    if max_top_bigram_e6 is not None:
        rep = repetition_stats(documents, raw=True).select(
            "doc_id",
            F.floor(F.col("top_bigram_fraction") * 1e6)
            .cast("bigint").alias("top_bigram_e6"),
        )
        out = out.join(rep, "doc_id")
        extra_cols.append("top_bigram_e6")
    if min_surprisal_e6 is not None:
        sur = unigram_surprisal(documents, raw=True).select(
            "doc_id",
            F.floor(F.col("mean_log2_freq") * 1e6)
            .cast("bigint").alias("surprisal_e6"),
        )
        # LEFT join: a doc whose text has no non-empty tokens emits no
        # unigram_surprisal row; the one-row-per-doc contract must still
        # hold, with the degenerate case decided explicitly below (NULL
        # surprisal -> rare_tokens: no token-frequency evidence of fluent
        # text is itself a drop signal, matching the gate's direction)
        out = out.join(sur, "doc_id", "left")
        extra_cols.append("surprisal_e6")
    reason = (
        F.when(F.col("is_exact_dup"), "exact_dup")
        .when(F.coalesce(F.col("is_near_dup"), F.lit(False)), "near_dup")
        .when(~F.col("lang_guess").isin(*langs), "lang")
        .when(F.col("quality_e6") < min_quality_e6, "quality")
    )
    if max_top_bigram_e6 is not None:
        reason = reason.when(
            F.col("top_bigram_e6") > max_top_bigram_e6, "repetition"
        )
    if min_surprisal_e6 is not None:
        reason = reason.when(
            F.col("surprisal_e6").isNull()
            | (F.col("surprisal_e6") < min_surprisal_e6),
            "rare_tokens",
        )
    return out.select(
        "doc_id",
        reason.isNull().alias("kept"),
        reason.alias("drop_reason"),
        "lang_guess",
        "quality_e6",
        "n_redacted",
        *extra_cols,
    )


def contamination(
    documents: DataFrame,
    benchmark: DataFrame,
    *,
    n: int = 8,
    threshold: float = 0.5,
    raw: bool = False,
) -> DataFrame:
    """Benchmark-contamination check — the decontamination pass every
    training-data pipeline runs before eval: for each BENCHMARK document,
    the fraction of its word ``n``-gram shingles that appear anywhere in
    the TRAINING corpus; ``flagged`` marks docs at or above ``threshold``
    (the n=8 / high-overlap convention of published LLM decontamination
    setups).

    Scale shape: the corpus side collapses to its DISTINCT shingle set
    before the join (one hash aggregate, map-side combined — corpus size
    drops out of the join's right side beyond its vocabulary), then one
    equi-join on shingle and one aggregate keyed on the benchmark doc.
    No cross product anywhere; benchmark rows without a single shared
    shingle survive via the left join with 0 matches.

    Returns (doc_id, n_shingles, n_matched, contamination, flagged) —
    one row per benchmark doc.
    """
    corpus_sh = doc_shingles(documents, n=n).select("shingle").distinct()
    bench_sh = doc_shingles(benchmark, n=n)
    per = bench_sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    hits = (
        bench_sh.join(corpus_sh, "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_matched"))
    )
    matched = F.coalesce(F.col("n_matched"), F.lit(0).cast("long"))
    frac = matched / F.col("n_shingles")
    rnd = (lambda c: c) if raw else (lambda c: F.round(c, 4))
    return (
        per.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            matched.alias("n_matched"),
            rnd(frac).alias("contamination"),
            (frac >= threshold).alias("flagged"),
        )
    )


def repetition_stats(documents: DataFrame, raw: bool = False) -> DataFrame:
    """Gopher-style repetition metrics per document (Rae et al. 2021 §A1.1
    repetition filters, re-expressed relationally):

    * ``top_token_fraction``   — occurrences of the most frequent token /
      total tokens;
    * ``top_bigram_fraction``  — occurrences of the most frequent word
      bigram / total bigrams;
    * ``dup_trigram_fraction`` — fraction of trigram INSTANCES whose
      trigram occurs more than once (1 - distinct/total).

    Scale shape: three explode -> two-level aggregate chains, each keyed
    (doc_id, gram) then doc_id — the same hub-safe shape as node_degree
    (per-doc state through the final exchange is O(map tasks)); the three
    per-doc aggregates join back on doc_id. Docs too short for a gram
    level report 0.0 there.

    Returns (doc_id, n_tokens, top_token_fraction, top_bigram_fraction,
    dup_trigram_fraction).
    """
    def gram_counts(m: int):
        return (
            _word_grams(documents, m, clamp=False)
            .groupBy("doc_id", "shingle")
            .agg(F.count("*").alias("c"))
        )

    def top_fraction(m: int, out: str):
        return gram_counts(m).groupBy("doc_id").agg(
            (F.max("c") / F.sum("c")).alias(out)
        )

    t1 = top_fraction(1, "top_token_fraction")
    t2 = top_fraction(2, "top_bigram_fraction")
    t3 = gram_counts(3).groupBy("doc_id").agg(
        F.sum("c").alias("_total_3"), F.count("*").alias("_distinct_3")
    )
    base = documents.select("doc_id", F.size(F.split("text", " ")).alias("n_tokens"))
    zero = F.lit(0.0)
    rnd = (lambda c: c) if raw else (lambda c: F.round(c, 4))
    return (
        base.join(t1, "doc_id", "left")
        .join(t2, "doc_id", "left")
        .join(t3, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            rnd(F.coalesce("top_token_fraction", zero)).alias(
                "top_token_fraction"
            ),
            rnd(F.coalesce("top_bigram_fraction", zero)).alias(
                "top_bigram_fraction"
            ),
            rnd(
                F.coalesce(
                    F.lit(1.0) - F.col("_distinct_3") / F.col("_total_3"),
                    zero,
                )
            ).alias("dup_trigram_fraction"),
        )
    )


def unigram_surprisal(
    documents: DataFrame,
    score: DataFrame | None = None,
    raw: bool = False,
) -> DataFrame:
    """LM-style frequency quality signal (the CCNet perplexity-filter
    analog, made engine-exact): train corpus unigram counts, then score
    each doc by the MEAN INTEGER LOG2 of its tokens' corpus frequencies —
    ``floor(log2(count+1))`` computed as ``length(bin(count+1)) - 1``,
    which is exact integer arithmetic in both Spark and DuckDB (no libm
    ``ln`` whose last-ULP rounding could differ across engines). Low mean
    = rare/garbled tokens; high = common fluent text. The mean is one
    division of exactly-representable integers, so the double is
    bit-identical everywhere.

    ``score`` scores a different table against the ``documents``-trained
    counts (eval-set scoring); unseen tokens count 0 bits. Scale shape:
    one vocabulary-keyed count aggregate (map-side combined), one
    token-keyed join (vocabulary-bounded right side), one doc-keyed
    aggregate.

    Returns (doc_id, n_tokens, mean_log2_freq).
    """
    target = score if score is not None else documents
    counts = (
        documents.select(F.explode(F.split("text", " ")).alias("tok"))
        .where(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count("*").alias("c"))
    )
    toks = target.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).where(F.col("tok") != "")
    bits = F.length(F.bin(F.coalesce(F.col("c"), F.lit(0)) + 1)) - 1
    per = (
        toks.join(counts, "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.avg(bits).alias("mean_log2_freq"),
        )
    )
    rnd = (lambda c: c) if raw else (lambda c: F.round(c, 4))
    return per.select(
        "doc_id", "n_tokens", rnd(F.col("mean_log2_freq")).alias("mean_log2_freq")
    )


# ------------------------------------------------------- corpus mixing ---

def mixture_rates_permille(
    weights: dict, temperature: float = 1.0, scale_permille: int = 500
) -> dict:
    """Temperature-scaled source-mixing rates — pure Python, PLAN-TIME.

    ``p_s ∝ w_s^(1/T)``; the largest ``p`` samples at ``scale_permille``,
    the rest proportionally less. ``T > 1`` flattens toward uniform
    (upweights small sources — the standard pre-training mixing move);
    ``T < 1`` sharpens toward the natural distribution; ``T = 1`` is
    proportional to the supplied weights. Production sets ``weights`` to
    per-source token counts (``token_stats`` rollup).

    Returned permilles are plain ints computed here, on the driver, once —
    both the Spark plan and the DuckDB oracle consume the SAME integers,
    so no cross-engine libm ``pow`` rounding can ever diverge.

    ``temperature`` must be positive and weights non-negative (token
    counts); all-zero weights — an empty corpus slice — yield {} (nothing
    to sample), not a crash.
    """
    if float(temperature) <= 0.0:
        raise ValueError("temperature must be positive")
    if any(float(w) < 0.0 for w in weights.values()):
        raise ValueError("weights must be non-negative")
    if not weights or all(float(w) == 0.0 for w in weights.values()):
        return {}
    inv = 1.0 / float(temperature)
    p = {s: float(w) ** inv for s, w in weights.items()}
    top = max(p.values())
    return {
        s: min(1000, int(round(scale_permille * v / top)))
        for s, v in sorted(p.items())
    }


def mixture_sample(
    documents: DataFrame,
    weights: dict,
    *,
    temperature: float = 1.0,
    scale_permille: int = 500,
    seed: int = 11,
    default_permille: int = 0,
) -> DataFrame:
    """Deterministic temperature-mixture sampling by ``source`` — the
    training-mix primitive ("sample the web dump at T=2 against books"):
    per-source keep rates from :func:`mixture_rates_permille`, decided by
    the same portable hash threshold as :func:`stratified_sample`, so the
    sample is a pure function of (doc_id, seed) — stable across runs,
    engines, and cluster sizes, and monotone in the rate (raising a
    source's weight later yields a superset).

    Scale: the rate table is O(#sources) literals folded into the plan; the
    filter fuses into the scan — zero shuffles, zero aggregates.

    Returns kept rows (doc_id, source, lang, n_chars, mix_rate_permille,
    sample_bucket).
    """
    rates = mixture_rates_permille(weights, temperature, scale_permille)
    return _keyed_permille_sample(
        documents, "source", rates, seed, default_permille
    ).select(
        "doc_id", "source", "lang", "n_chars",
        "mix_rate_permille", "sample_bucket",
    )


# -------------------------------------------------- passage duplication ---

def passage_dup_stats(documents: DataFrame, *, n: int = 8) -> DataFrame:
    """Passage-level duplication signal (the word-n-gram analog of
    substring dedup in Lee et al. 2022, "Deduplicating Training Data Makes
    Language Models Better"): per doc, how much of its text is covered by
    n-grams that ALSO occur in another document. Doc-level dedup
    (exact/MinHash) misses boilerplate passages pasted into otherwise
    distinct docs; this measures exactly that.

    dup n-gram = one occurring in >= 2 DISTINCT docs. A token position is
    covered iff any dup n-gram instance overlaps it. ``dup_ppm`` =
    ``covered_tokens * 1e6 DIV n_tokens`` — integer division, engine-exact.

    Scale shape: distinct (doc, gram) BEFORE the per-gram doc count (the
    hub-safe two-level aggregate — per-gram shuffle state never exceeds the
    doc-distinct gram set); instances join the dup-gram set on the gram key
    (no cross product; the dup set is corpus-bounded); coverage is an
    explode of exactly n positions per dup instance, aggregated map-side
    per doc. Docs shorter than n yield no grams and report 0.

    Returns (doc_id, n_tokens, dup_gram_instances, covered_tokens, dup_ppm).
    """
    d = documents.select(
        "doc_id", F.split("text", " ").alias("ws")
    ).withColumn("nt", F.size("ws"))
    grams = (
        d.where(F.col("nt") >= n)
        .select(
            "doc_id", "nt",
            F.explode(
                F.sequence(F.lit(1), F.col("nt") - F.lit(n - 1))
            ).alias("i"),
            "ws",
        )
        .select(
            "doc_id", "i",
            F.concat_ws(" ", F.slice("ws", F.col("i"), n)).alias("shingle"),
        )
    )
    dup = (
        grams.select("doc_id", "shingle").distinct()
        .groupBy("shingle").agg(F.count("*").alias("docs"))
        .where(F.col("docs") >= 2)
        .select("shingle")
    )
    hits = grams.join(dup, "shingle")
    covered = (
        hits.select(
            "doc_id",
            F.explode(
                F.sequence(F.col("i"), F.col("i") + F.lit(n - 1))
            ).alias("p"),
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.count("*").alias("covered_tokens"))
    )
    inst = hits.groupBy("doc_id").agg(
        F.count("*").alias("dup_gram_instances")
    )
    return (
        d.select("doc_id", F.col("nt").cast("long").alias("n_tokens"))
        .join(covered, "doc_id", "left")
        .join(inst, "doc_id", "left")
        .select(
            "doc_id", "n_tokens",
            F.coalesce("dup_gram_instances", F.lit(0)).cast("long")
            .alias("dup_gram_instances"),
            F.coalesce("covered_tokens", F.lit(0)).cast("long")
            .alias("covered_tokens"),
            F.expr(
                "coalesce(covered_tokens, 0) * 1000000 DIV n_tokens"
            ).cast("long").alias("dup_ppm"),
        )
    )


# ----------------------------------------------------- document chunking ---

def chunk_documents(
    documents: DataFrame, *, max_tokens: int = 64, stride: int = 48
) -> DataFrame:
    """Sliding-window document chunking — the max-sequence-length
    splitting step of a training-data pipeline (long docs become
    overlapping ``max_tokens``-token windows every ``stride`` tokens;
    ``stride < max_tokens`` keeps cross-boundary context, the standard
    LM-pretraining move). Complements :func:`pack_documents`, which packs
    the resulting short sequences into fixed budgets.

    Chunk count = 1 for docs with <= ``max_tokens`` tokens, else
    ``ceil((n - max_tokens) / stride) + 1`` — every token is covered, the
    last window may be shorter, and no window starts past the text.
    Tokens are space-split words (the module's tokenizer convention), so
    every step is integer arithmetic + array slicing and the DuckDB twin
    replays it exactly.

    Scale: a narrow map — per-doc fanout is ``O(n_tokens / stride)``,
    bounded and local; the explode fuses over the scan with ZERO
    shuffles, so chunking scales with input splits at any corpus size
    (plan-asserted).

    Returns (doc_id, chunk_idx, start_tok, chunk_len, chunk_text).
    """
    if stride <= 0 or max_tokens <= 0:
        raise ValueError("max_tokens and stride must be positive")
    if stride > max_tokens:
        # the chunk-count formula assumes overlapping-or-adjacent windows;
        # a gap stride would emit a window starting past the text
        # (negative chunk_len -> F.slice fails mid-job)
        raise ValueError("stride must be <= max_tokens (no coverage gaps)")
    d = documents.select(
        "doc_id", F.split("text", " ").alias("ws")
    ).withColumn("n", F.size("ws"))
    n_chunks = F.when(F.col("n") <= max_tokens, F.lit(1)).otherwise(
        (F.col("n") - max_tokens + stride - 1) / stride + 1
    ).cast("int")
    c = d.select(
        "doc_id", "ws", "n",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
    ).withColumn(
        "start_tok", (F.col("chunk_idx") * stride + 1).cast("int")
    ).withColumn(
        "chunk_len",
        F.least(F.lit(max_tokens), F.col("n") - F.col("start_tok") + 1)
        .cast("int"),
    )
    return c.select(
        "doc_id", "chunk_idx", "start_tok",
        F.col("chunk_len").cast("long").alias("chunk_len"),
        F.concat_ws(
            " ", F.slice("ws", F.col("start_tok"), F.col("chunk_len"))
        ).alias("chunk_text"),
    )
