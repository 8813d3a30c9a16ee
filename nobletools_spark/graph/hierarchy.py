"""G-group: hierarchy / graph operators over the ISA edge table.

Reference semantics (``util/PathHelper.java``):
- paths to root: BFS over BROADER, depth limit 7, max 10 paths
  (findPaths:404-434; limits :31)
- ancestor closure: BFS with per-ancestor min depth
  (findAncestors:444-473, getAncestors:266-300)
- ancestry predicate hasAncestor(a,b) (:360-363)
- persisted path/ancestor caches (:171-208,302-358) -> here materialized
  DataFrames (the canonicalize-stage checkpoint)

Spark realization: iterative DataFrame self-joins to a fixpoint. Each
round doubles nothing — it extends frontier paths by one BROADER hop, so
rounds are bounded by MAX_PATH_DEPTH (7); each round is one shuffle join
edge ⋈ frontier. At UMLS scale (~3M edges) the frontier join keys on
parent_cui; AQE handles the skew of bushy roots. Results are deterministic
(min-depth aggregation), so the closure can be computed once per
terminology build and checkpointed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..frames import local_frame

MAX_PATH_DEPTH = 7   # PathHelper.java:31
MAX_PATH_COUNT = 10


def ancestors_closure(isa_edges: DataFrame,
                      max_depth: int = MAX_PATH_DEPTH) -> DataFrame:
    """-> ancestors(cui, anc_cui, min_depth). Iterative join bounded by
    max_depth; min_depth = shortest BROADER-path length (>=1)."""
    edges = (isa_edges.select(F.col("child_cui").alias("cui"),
                              F.col("parent_cui").alias("anc_cui"))
             .distinct().localCheckpoint())
    closure = edges.withColumn("min_depth", F.lit(1)).localCheckpoint()
    frontier = closure
    for _ in range(1, max_depth):
        nxt = (frontier.alias("f")
               .join(edges.alias("e"),
                     F.col("f.anc_cui") == F.col("e.cui"))
               .select(F.col("f.cui").alias("cui"),
                       F.col("e.anc_cui").alias("anc_cui"),
                       (F.col("f.min_depth") + 1).alias("min_depth")))
        # keep only pairs not already reached at a shallower depth;
        # localCheckpoint truncates the per-round lineage (each round
        # references `closure` twice — anti-join + union)
        nxt = (nxt.join(closure.select("cui", "anc_cui"),
                        ["cui", "anc_cui"], "left_anti")
               .groupBy("cui", "anc_cui")
               .agg(F.min("min_depth").alias("min_depth"))
               .localCheckpoint())
        if nxt.isEmpty():
            break
        closure = closure.unionByName(nxt).localCheckpoint()
        frontier = nxt
    return closure


def has_ancestor(closure: DataFrame, mentions: DataFrame,
                 anc_cui: str) -> DataFrame:
    """Ancestry predicate as a semi-join: keep mention rows whose cui has
    ``anc_cui`` among its ancestors (PathHelper.hasAncestor:360-363)."""
    anc = (closure.where(F.col("anc_cui") == anc_cui)
           .select("cui").distinct())
    return mentions.join(F.broadcast(anc), "cui", "left_semi")


def paths_to_root(isa_edges: DataFrame, roots: DataFrame | None = None,
                  max_depth: int = MAX_PATH_DEPTH,
                  max_paths: int = MAX_PATH_COUNT) -> DataFrame:
    """-> paths(cui, path array<string>) root-ward paths, depth-limited,
    at most ``max_paths`` per concept (ordered by path string for
    determinism). Path arrays are concept-side small (<=7 els)."""
    edges = isa_edges.select(F.col("child_cui").alias("cui"),
                             F.col("parent_cui").alias("parent")).distinct()
    if roots is None:
        roots = (edges.select(F.col("parent").alias("cui")).distinct()
                 .join(edges.select("cui"), "cui", "left_anti"))
    root_set = roots.select("cui").distinct()

    # frontier: (cui, tip, path); complete when tip is a root. Each round
    # dedups the frontier BEFORE the next extension (multiple routes can
    # reach the same (cui, tip, path) prefix on dense DAGs — without the
    # distinct, frontier rows multiply geometrically) and truncates
    # lineage with localCheckpoint, mirroring ancestors_closure.
    edges = edges.localCheckpoint()
    root_tips = root_set.withColumnRenamed("cui", "tip").localCheckpoint()
    frontier = (edges.select("cui", F.col("parent").alias("tip"),
                             F.array("parent").alias("path"))
                .distinct().localCheckpoint())
    done = frontier.join(root_tips, "tip", "left_semi")
    for _ in range(1, max_depth):
        frontier = (frontier.alias("f")
                    .join(edges.alias("e"),
                          F.col("f.tip") == F.col("e.cui"))
                    .select(F.col("f.cui").alias("cui"),
                            F.col("e.parent").alias("tip"),
                            F.array_append("f.path", F.col("e.parent"))
                            .alias("path"))
                    .distinct().localCheckpoint())
        if frontier.isEmpty():
            break
        done = (done.unionByName(
            frontier.join(root_tips, "tip", "left_semi"))
            .localCheckpoint())
    from pyspark.sql.window import Window
    # tiebreak on the '>'-joined path string (not to_json) so the same
    # ordering is reproducible in the DuckDB oracle's recursive CTE
    w = Window.partitionBy("cui").orderBy(F.size("path"),
                                          F.concat_ws(">", F.col("path")))
    return (done.select("cui", "path").distinct()
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= max_paths).drop("_rn"))


def isa_edges_df(spark, dico) -> DataFrame:
    """Terminology isa edges -> DataFrame (child_cui, parent_cui)."""
    return local_frame(spark, dico.isa_edges,
                       "child_cui string, parent_cui string")
