"""P5: canonicalization — connected components over synonym/xref edges.

The north rule's canonicalize stage: concepts that share a normalized
synonym term or an alternate-code xref collapse to one canonical CUI
(smallest CUI in the component, deterministic). The reference has no
explicit equivalent — its UMLS input is already CUI-canonical — but the
stage is required for multi-vocabulary merges (e.g. OBO + RRF loads where
the same entity carries two codes).

Components are labeled by ``textdata/dedup.py::candidate_components``,
the one connected-components engine of the package (also behind
``graph/analytics.py::connected_components`` and near-dup grouping):
driver-side union-find while the edge list fits its budget, distributed
min-label propagation above it. Synonym/xref edge lists are
dictionary-scale, so canonicalization takes the exact union-find branch
whatever the graph's diameter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..textdata.dedup import candidate_components


def synonym_edges(term_index: DataFrame) -> DataFrame:
    """term_index(term, cuis) -> undirected edges between co-synonymous
    CUIs. Pairs are emitted against the per-term minimum CUI (star, not
    clique): |cuis|-1 edges per term instead of |cuis|^2/2 — same
    components, linear edge count even for hot synonym terms."""
    hub = F.array_min("cuis")
    return (term_index
            .where(F.size("cuis") > 1)
            .select(hub.alias("src"), F.explode("cuis").alias("dst"))
            .where(F.col("src") != F.col("dst"))
            .distinct())


def xref_edges(code_xref: DataFrame) -> DataFrame:
    """code_xref(code, cui): two CUIs sharing one alternate code merge."""
    grouped = (code_xref.groupBy("code")
               .agg(F.sort_array(F.collect_set("cui")).alias("cuis"))
               .where(F.size("cuis") > 1))
    return (grouped.select(F.element_at("cuis", 1).alias("src"),
                           F.explode("cuis").alias("dst"))
            .where(F.col("src") != F.col("dst")))


def canonical_map(term_index: DataFrame, code_xref: DataFrame | None = None,
                  ) -> DataFrame:
    """Full P5: synonym + xref edges -> (cui, canonical_cui) mapping."""
    e = synonym_edges(term_index)
    if code_xref is not None:
        e = e.unionByName(xref_edges(code_xref)).distinct()
    comp = candidate_components(e.select(F.col("src").alias("a"),
                                         F.col("dst").alias("b")))
    return comp.select(F.col("doc_id").alias("cui"),
                       F.col("comp").alias("canonical_cui"))


def canonicalize_mentions(mentions: DataFrame, mapping: DataFrame,
                          col: str = "cui") -> DataFrame:
    """Rewrite the CUIs in column ``col`` (mention CUIs, isa triple ends)
    to canonical ones; unmapped CUIs (singleton components) stay as-is.
    Mapping is dictionary-scale -> broadcast."""
    cmap = F.broadcast(mapping.withColumnRenamed("cui", col))
    return (mentions.join(cmap, col, "left")
            .withColumn(col, F.coalesce("canonical_cui", col))
            .drop("canonical_cui"))
