"""Differential pin for the generated KG DuckDB oracles (kg_oracle.py):
the full best-match pipeline re-derived in SQL must match the live Spark
queries value-for-value on the driver corpus — sentences, mentions
(spans, scores, annotation JSON), counts, triples, annotated defaults.
This is the same canonicalization the driver's correctness harness uses.
"""

import os

import duckdb
import pandas as pd
import pytest

SF = "/root/testdata/sf0.001"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def canon(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf[sorted(pdf.columns)]
    if len(pdf):
        pdf = pdf.sort_values(list(pdf.columns)).reset_index(drop=True)
    for c in pdf.columns:
        if pdf[c].dtype.kind == "f":
            pdf[c] = pdf[c].round(6)
        pdf[c] = pdf[c].astype(str)
    return pdf


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    c.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF}/documents.parquet'")
    return c


@pytest.fixture(scope="module")
def entry():
    import importlib.util
    spec = importlib.util.spec_from_file_location(
        "spark_entry", os.path.join(REPO, "__spark_entry__.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.mark.parametrize("name", [
    "kg_sentences", "kg_mentions", "kg_mention_counts", "kg_triples",
    "kg_annotated", "kg_instances", "kg_canonical_triples"])
def test_kg_oracle_matches_spark(spark, con, entry, name):
    got = canon(entry.queries()[name](spark, SF).toPandas())
    want = canon(con.execute(entry.oracle_sql()[name]).fetchdf())
    assert list(got.columns) == list(want.columns)
    assert len(got) == len(want)
    assert got.equals(want), (
        pd.concat([got[(got != want).any(axis=1)].head(3),
                   want[(got != want).any(axis=1)].head(3)]).to_string())


# the 50 queries the driver validates, frozen since r2's reordering —
# NEW queries must be appended BEYOND this window (and checked via
# scripts/oracle_check.py + pytest) so driver rounds stay comparable
# The r4-ROTATED window (VERDICT r3 #2): the 12 r3 training-data queries
# and the 6 r2-demoted trivial ones move INSIDE the driver-checked first
# 50; 18 long-green relational queries (>=2 validated rounds each) move
# to the tail. r5 rotation: four-times-green token_counts_bpe steps out
# so ann_ivf_topk (the r5 oracle-checked IVF ANN) gets a driver round.
DRIVER_WINDOW = [
    "gopher_repetition_stats", "c4_quality_filters", "substring_dup_spans",
    "minhash_neardup_pairs", "embedding_neardup_pairs",
    "embedding_ann_lsh_pairs", "embedding_ann_lsh_recall",
    "doc_fingerprint_groups", "media_decode_dims",
    "media_feature_vectors", "approx_distinct_users",
    "udtf_sentence_explode", "higher_order_array_ops", "template_items",
    "embedding_dup_groups", "kmeans_clusters", "ann_ivf_topk",
    "hashing_doc_buckets",
    "hashing_cosine_pairs", "curation_pipeline", "kmeans_cluster_sample",
    "datamix_stratified_sample", "datamix_report", "pack_sequences_budget",
    "bpe_pair_counts", "minhash_incremental_pairs", "tfidf_top_terms",
    "bigram_lm_scores", "decontamination_pairs", "pii_scrub_stats",
    "ngram_overlap_pairs", "dedup_keep_list", "line_dedup_stats",
    "self_line_dedup_stats", "kg_span_invariant", "kg_ancestors",
    "kg_root_paths", "kg_sentences", "kg_mentions", "kg_mention_counts",
    "kg_triples", "kg_annotated", "kg_canonical_triples", "kg_instances",
    "kg_pagerank", "kg_cooccurrence_pmi", "kg_degree_stats",
    "kg_triangle_counts", "kg_weighted_pagerank", "kg_components",
]


def test_window_composition(entry):
    """Every query is oracle-backed, and the driver-validated first-50
    window is EXACTLY the final r4 rotation: every query that had never
    had a driver-validated CORRECTNESS row (the r3 training-data ops, the
    five early-r4 ops, and the four late-r4 graph/clustering ops) sits
    inside it; only multi-round-green queries are demoted below."""
    names = list(entry.queries())
    oracle = set(entry.oracle_sql())
    assert len(oracle) == len(names)  # every query has an oracle
    assert all(n in oracle for n in names)
    assert names[:50] == DRIVER_WINDOW


def test_component_star_edges_equal_pairs_and_vertices(spark, entry,
                                                       monkeypatch):
    """``kg_components`` links each concept to its document's minimum
    concept: the same components as every co-occurring pair plus every
    concept as a vertex, on a repeated pair, a one-concept document and
    null-``doc_id`` rows."""
    from pyspark.sql import functions as F

    from nobletools_spark.graph.analytics import (concept_pairs,
                                                  connected_components)
    dc = spark.createDataFrame(
        [("d1", "C"), ("d1", "A"), ("d1", "B"), ("d2", "A"), ("d2", "B"),
         ("d3", "D"), ("d4", "E"), ("d4", "F"), (None, "G"), (None, "E")],
        "doc_id string, cui string")
    monkeypatch.setattr(entry, "_kg_concepts", lambda spark, sf_dir: dc)
    got = {tuple(r) for r in entry.queries()["kg_components"](
        spark, SF).collect()}
    edges = concept_pairs(dc).distinct().unionByName(
        dc.select(F.col("cui").alias("a"), F.col("cui").alias("b")))
    assert got == {tuple(r) for r in connected_components(edges).collect()}
    assert got == {("A", "A"), ("B", "A"), ("C", "A"), ("D", "D"),
                   ("E", "E"), ("F", "E"), ("G", "G")}
