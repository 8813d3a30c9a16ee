"""Graph analytics over materialized KG tables: PageRank and doc-level
concept co-occurrence (PMI edges).

Reference parity note: the reference engine stops at hierarchy traversal
(`NobleCoderTerminology.getAncestors`, see `graph/hierarchy.py`); these two
operators are part of the LLM-data/KG-enrichment surface this engine adds on
top — concept importance for ranking mention candidates at query time, and
co-occurrence edges that augment the isa graph with corpus-derived
relatedness (the classic KG-construction enrichment step).

Scale posture:
- Every operator reads its input once: in one pass (``concept_pairs``,
  ``degree_stats``) or by materializing its small, projected input at its
  start (an eager ``localCheckpoint``; ``connected_components`` through
  the component engine's ``cache``), so a lazy upstream
  (``document_concepts``) runs once whatever exchange reuse allows.
- ``pagerank`` is the join-based fixed-iteration form: each iteration is one
  shuffle on ``dst`` (the contribution aggregation) plus a broadcast-sized
  join against out-degrees; the dangling-mass scalar stays IN-PLAN via a
  single-row cross join (the same pattern as ``textdata/relevance.py``), so
  nothing collects to the driver. An eager ``localCheckpoint`` per iteration
  truncates lineage — without it iteration k replays all k-1 prior joins
  (the same guard ``bpe_train_distributed`` uses).
- ``concept_pairs`` (PMI, and the weighted PageRank and triangle entries
  over ``document_concepts``) collects each document's CUI set in one
  shuffle on ``doc_id`` and explodes the pairs from it, bounded by
  (distinct concepts per doc)^2. PMI's document frequencies are
  vocabulary-bounded and the corpus size rides the plan as a single-row
  cross join, so the whole query is two shuffles at any corpus scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank(edges: DataFrame, damping: float = 0.85, iterations: int = 10,
             round_dp: int = 6, weight_col: str | None = None) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge table ``(src, dst)``,
    optionally weighted by ``weight_col``.

    Semantics (the textbook formulation, deterministic for a fixed
    iteration count):

        rank_0(v)   = 1/N
        rank_k+1(v) = (1-d)/N + d * (sum_{u->v} rank_k(u) * w(u,v)/W(u)
                                     + dangling_k/N)

    where W(u) is u's total outgoing weight (unweighted: every edge
    weighs 1, so w/W = 1/outdeg), and ``dangling_k`` is the total rank
    held by vertices with no out-edges (their mass redistributes
    uniformly, keeping ranks summing to 1). Returns ``(cui, rank)`` with
    ``rank`` rounded to ``round_dp`` so engine summation order cannot
    flip a value hash.
    """
    cols = [F.col("src").cast("string").alias("src"),
            F.col("dst").cast("string").alias("dst")]
    if weight_col is not None:
        cols.append(F.col(weight_col).cast("double").alias("w"))
    edges = edges.select(*cols).distinct()
    if weight_col is None:
        edges = edges.withColumn("w", F.lit(1.0))
    # vertices, out-degrees and each dangling mass read the edges
    edges = edges.localCheckpoint(eager=True)
    vertices = (edges.select(F.col("src").alias("cui"))
                .union(edges.select(F.col("dst").alias("cui")))
                .distinct().localCheckpoint(eager=True))
    n_df = vertices.agg(F.count(F.lit(1)).cast("double").alias("n"))
    outdeg = edges.groupBy("src").agg(F.sum("w").alias("outdeg"))
    # contribution weight per edge is static across iterations — precompute
    w_edges = edges.join(outdeg, "src").localCheckpoint(eager=True)

    ranks = (vertices.crossJoin(n_df)
             .select("cui", (F.lit(1.0) / F.col("n")).alias("rank")))
    ranks = ranks.localCheckpoint(eager=True)

    for _ in range(iterations):
        contrib = (ranks.join(w_edges, ranks.cui == w_edges.src)
                   .groupBy("dst")
                   .agg(F.sum(F.col("rank") * F.col("w") / F.col("outdeg"))
                        .alias("contrib"))
                   .withColumnRenamed("dst", "cui"))
        dangling = (ranks.join(outdeg, ranks.cui == outdeg.src, "left_anti")
                    .agg(F.coalesce(F.sum("rank"), F.lit(0.0))
                         .alias("mass")))
        ranks = (vertices
                 .join(contrib, "cui", "left")
                 .crossJoin(n_df).crossJoin(dangling)
                 .select("cui",
                         ((1.0 - damping) / F.col("n")
                          + damping * (F.coalesce(F.col("contrib"),
                                                  F.lit(0.0))
                                       + F.col("mass") / F.col("n")))
                         .alias("rank")))
        # truncate lineage: each iteration otherwise replays every prior one
        ranks = ranks.localCheckpoint(eager=True)

    return ranks.select("cui", F.round("rank", round_dp).alias("rank"))


def degree_stats(edges: DataFrame) -> DataFrame:
    """Per-vertex degree summary over a directed edge table ``(src, dst)``:
    out-degree, in-degree, total; a repeated edge counts once. One pass:
    each distinct edge emits ``(src, out=1, in=0)`` and ``(dst, out=0,
    in=1)``, and one ``groupBy(cui)`` sums them (map-side
    partial-aggregated) — the KG health-check surface (hub concepts, leaf
    counts, skew candidates for the salting knob)."""
    e = edges.select(F.col("src").cast("string").alias("src"),
                     F.col("dst").cast("string").alias("dst")).distinct()
    one, zero = F.lit(1), F.lit(0)
    ends = e.select(F.inline(F.array(
        F.struct(F.col("src").alias("cui"), one.alias("o"), zero.alias("i")),
        F.struct(F.col("dst").alias("cui"), zero.alias("o"), one.alias("i")))))
    return (ends.groupBy("cui").agg(F.sum("o").alias("out_degree"),
                                    F.sum("i").alias("in_degree"))
            .withColumn("degree", F.col("out_degree") + F.col("in_degree")))


def connected_components(edges: DataFrame) -> DataFrame:
    """``(a, b)`` undirected edges -> ``(cui, component)`` with the
    component labeled by its minimum member — the public graph surface
    over the hybrid engine `textdata/dedup.py::candidate_components`
    (driver union-find under the edge budget, distributed min-label
    propagation with per-round lineage truncation above it). The same
    engine labels `graph/canonicalize.py::canonical_map` and the near-dup
    groups of `textdata/dedup.py`.

    An edge ``(v, v)`` names an isolated vertex ``v``, a singleton
    component. The call is eager: the engine caches and counts the
    distinct edges, its one read of the input.
    """
    from ..textdata.dedup import candidate_components
    e = edges.select(F.col("a").cast("string").alias("a"),
                     F.col("b").cast("string").alias("b")).distinct()
    return candidate_components(e).select(F.col("doc_id").alias("cui"),
                                          F.col("comp").alias("component"))


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-vertex triangle counts over an undirected edge table given in
    canonical orientation ``(a, b)`` with ``a < b``.

    Enumerates each triangle once as a < b < c via two self-joins (the
    standard distributed formulation: join on the shared middle vertex,
    then close the wedge against the edge set), explodes each triangle to
    its three corners, and counts per vertex; vertices in no triangle
    report 0. At scale both joins shuffle on a vertex key and the wedge
    explosion is bounded by sum(deg^2) — the same skew profile as the
    co-occurrence pair count, so hot vertices respond to the same
    salting knob.
    """
    e = (edges.select(F.col("a").cast("string").alias("a"),
                      F.col("b").cast("string").alias("b"))
         .where(F.col("a") < F.col("b")).distinct())
    # e is read five times (two wedge sides, the closure probe, both
    # vertex projections) and tri three times: materialize each once
    e = e.localCheckpoint(eager=True)
    verts = (e.select(F.col("a").alias("cui"))
             .union(e.select(F.col("b").alias("cui"))).distinct())
    wedge = (e.select(F.col("a").alias("x"), F.col("b").alias("y"))
             .join(e.select(F.col("a").alias("y"), F.col("b").alias("z")),
                   "y"))
    tri = wedge.join(e.select(F.col("a").alias("x"),
                              F.col("b").alias("z")), ["x", "z"])
    tri = tri.localCheckpoint(eager=True)
    corners = (tri.select(F.col("x").alias("cui"))
               .union(tri.select(F.col("y").alias("cui")))
               .union(tri.select(F.col("z").alias("cui"))))
    counts = corners.groupBy("cui").agg(F.count(F.lit(1)).alias("triangles"))
    return (verts.join(counts, "cui", "left")
            .select("cui", F.coalesce("triangles", F.lit(0))
                    .cast("long").alias("triangles")))


def concept_pairs(doc_concepts: DataFrame) -> DataFrame:
    """``(doc_id, cui)`` rows -> ``(a, b)``: one row per document and
    unordered concept pair co-occurring in it, with ``a < b``. Repeated
    ``(doc_id, cui)`` rows count once; a null ``doc_id`` pairs nothing.
    Count the rows for co-occurrence weights; take ``distinct()`` for the
    edge set."""
    docs = (doc_concepts.where(F.col("doc_id").isNotNull())
            .groupBy("doc_id").agg(F.collect_set("cui").alias("cuis")))
    return (docs.select(F.explode("cuis").alias("a"), "cuis")
            .select("a", F.explode(F.filter(
                "cuis", lambda b: b > F.col("a"))).alias("b")))


def concept_cooccurrence_pmi(doc_concepts: DataFrame,
                             round_dp: int = 4) -> DataFrame:
    """PMI-weighted co-occurrence edges from ``(doc_id, cui)`` rows.

    For each unordered concept pair (a < b) appearing in the same document:

        pmi(a, b) = ln( n_ab * N / (n_a * n_b) )

    with N = number of distinct documents carrying at least one concept and
    n_x = document frequency. Output ``(cui_a, cui_b, n_docs, pmi)``.

    The call is eager: the pairs, the document frequencies and N all read
    the distinct ``(doc_id, cui)`` rows, so they are materialized once.
    Plan: ``concept_pairs`` (one shuffle) -> pair counts (second shuffle)
    -> broadcast doc-frequency joins (the concept vocabulary is
    dictionary-bounded) with N as an in-plan scalar.
    """
    dc = (doc_concepts.select(F.col("doc_id").cast("string").alias("doc_id"),
                              F.col("cui").cast("string").alias("cui"))
          .distinct().localCheckpoint(eager=True))
    n_df = dc.agg(F.countDistinct("doc_id").cast("double").alias("n_corpus"))
    df_freq = dc.groupBy("cui").agg(
        F.count(F.lit(1)).cast("double").alias("df"))
    pairs = (concept_pairs(dc)
             .groupBy(F.col("a").alias("cui_a"), F.col("b").alias("cui_b"))
             .agg(F.count(F.lit(1)).alias("n_docs")))
    return (pairs
            .join(F.broadcast(df_freq.toDF("cui_a", "df_a")), "cui_a")
            .join(F.broadcast(df_freq.toDF("cui_b", "df_b")), "cui_b")
            .crossJoin(n_df)
            .select("cui_a", "cui_b", F.col("n_docs").cast("long")
                    .alias("n_docs"),
                    F.round(F.log(F.col("n_docs") * F.col("n_corpus")
                                  / (F.col("df_a") * F.col("df_b"))),
                            round_dp).alias("pmi")))
