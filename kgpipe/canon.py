"""Entity canonicalization: MinHash-LSH blocking + connected components.

No counterpart executes in the reference — its canonical id is the fixed CUI
the gazetteer assigns (gazetteer.bsv column 1; every row '000'). The
north_star requires real surface-form merging, so:

1. candidate edges between distinct mention surfaces from
   (a) shared gazetteer CUI, and
   (b) MinHash-LSH over char-3-gram shingles, verified by exact n-gram
       Jaccard so LSH false positives never merge clusters;
2. connected components over the undirected edge list, label = lexical min
   surface.

Everything past the shingling is composed from the near-duplicate toolkit
the document-dedup path uses: ``textops.minhash_signatures``,
``banded_keys``, ``band_join`` and ``exact_jaccard``, then
``graph.connected_components`` (hash-to-min with pointer doubling, stopped
at its fixpoint).

Scale notes: surfaces are DISTINCT mention strings — cardinality grows with
vocabulary, not corpus size, so the self-join stays small even at 10^12
turns; the banding self-join is an equi-join on band keys (shuffle on a
well-distributed hash); components close in O(log diameter) rounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .graph import connected_components
from .textops import band_join, banded_keys, exact_jaccard, minhash_signatures

__all__ = ["surface_shingles", "canonical_nodes"]


def surface_shingles(surfaces: DataFrame, n: int = 3) -> DataFrame:
    """surfaces(surface) -> (surface, shingle) char-n-grams of the
    lowercased, space-collapsed surface (padded so short strings shingle)."""
    s = surfaces.select(
        "surface",
        F.concat(F.lit("^"), F.lower(F.regexp_replace("surface", r"\s+", " ")), F.lit("$")).alias("_s"),
    )
    idx = F.sequence(F.lit(1), F.greatest(F.length("_s") - F.lit(n - 1), F.lit(1)))
    return (
        s.select("surface", F.explode(idx).alias("_i"), "_s")
        .select("surface", F.expr(f"substring(_s, _i, {n})").alias("shingle"))
        .distinct()
    )


def canonical_nodes(
    mentions_f: DataFrame,
    *,
    k: int = 12,
    bands: int = 4,
    jaccard_threshold: float = 0.5,
    max_iter: int = 20,
) -> DataFrame:
    """Filtered mentions -> canonical entity nodes (NODE_SCHEMA shape,
    conv_id omitted — canonical nodes are global).

    surfaces sharing a CUI or LSH-similar (verified) surfaces merge; the
    canonical node id is ``entity:<lexical-min surface>``, canonical_cui the
    min CUI in the cluster, surfaces the sorted member list. ``max_iter``
    bounds the connected-components rounds; the loop stops at the fixpoint.
    """
    # surf is vocabulary-bounded (distinct surface strings, not corpus rows)
    # and fans out into 6+ downstream branches (cui self-join, shingling,
    # final membership join); persisting it cuts the expensive
    # mention-extraction lineage to ONE execution instead of one per branch.
    surf = (
        mentions_f.select(F.lower(F.trim("surface")).alias("surface"), "cui")
        .distinct()
        # eager: a lazy persist would still recompute the extraction lineage
        # once per concurrent branch of the first fan-out action
        .localCheckpoint(eager=True)
    )

    cui_edges = (
        surf.alias("x")
        .join(surf.alias("y"), "cui")
        .where(F.col("x.surface") < F.col("y.surface"))
        .select(F.col("x.surface").alias("a"), F.col("y.surface").alias("b"))
    )
    # shingled is referenced by the signature agg and three times inside the
    # Jaccard check — also vocabulary-bounded, also worth one materialization
    shingled = surface_shingles(surf.select("surface").distinct()).localCheckpoint(
        eager=True
    )
    sigs = minhash_signatures(shingled, "surface", k=k)
    lsh_pairs = band_join(banded_keys(sigs, "surface", k=k, bands=bands), "surface")
    lsh_edges = exact_jaccard(lsh_pairs, shingled, "surface", jaccard_threshold)

    edges = cui_edges.unionByName(lsh_edges.select("a", "b"))
    comps = connected_components(
        edges.select(F.col("a").alias("src"), F.col("b").alias("dst")),
        rounds=max_iter,
    )
    # a surface with no edge is its own component
    membered = surf.join(comps, surf["surface"] == comps["node"], "left").select(
        "surface", "cui", F.coalesce("component", "surface").alias("component")
    )
    return membered.groupBy("component").agg(
        F.format_string("entity:%s", F.col("component")).alias("node_id"),
        F.lit("entity").alias("kind"),
        F.min("cui").alias("canonical_cui"),
        F.sort_array(F.collect_set("surface")).alias("surfaces"),
    ).select("node_id", "kind", "canonical_cui", "surfaces")
