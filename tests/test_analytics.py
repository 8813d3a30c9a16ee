"""Graph analytics (graph/analytics.py): PageRank against a pure-Python
reference implementation of the identical formula, structural properties
(mass conservation, dangling redistribution, symmetry), and PMI
co-occurrence against hand-computed values."""

from __future__ import annotations

import math
import random

import pytest

from nobletools_spark.graph.analytics import (concept_cooccurrence_pmi,
                                              concept_pairs, pagerank)


def _py_pagerank(edges, damping=0.85, iterations=10):
    """Reference loop: same formula as the Spark side, plain dicts."""
    verts = sorted({v for e in edges for v in e})
    n = len(verts)
    out = {}
    for s, _ in edges:
        out[s] = out.get(s, 0) + 1
    rank = {v: 1.0 / n for v in verts}
    for _ in range(iterations):
        contrib = {v: 0.0 for v in verts}
        for s, d in edges:
            contrib[d] += rank[s] / out[s]
        dangling = sum(rank[v] for v in verts if v not in out)
        rank = {v: (1 - damping) / n
                + damping * (contrib[v] + dangling / n) for v in verts}
    return {v: round(r, 6) for v, r in rank.items()}


def _edges_df(spark, edges):
    return spark.createDataFrame(edges, "src string, dst string")


class TestPageRank:
    def test_cycle_is_uniform(self, spark):
        got = {r.cui: r.rank for r in pagerank(
            _edges_df(spark, [("a", "b"), ("b", "c"), ("c", "a")]),
            iterations=5).collect()}
        assert got == {"a": round(1 / 3, 6), "b": round(1 / 3, 6),
                       "c": round(1 / 3, 6)}

    def test_matches_python_reference_on_random_graph(self, spark):
        rng = random.Random(7)
        verts = [f"v{i}" for i in range(30)]
        edges = sorted({(rng.choice(verts), rng.choice(verts))
                        for _ in range(80)})
        edges = [(s, d) for s, d in edges if s != d]
        got = {r.cui: r.rank
               for r in pagerank(_edges_df(spark, edges)).collect()}
        assert got == _py_pagerank(edges)

    def test_mass_conserved_with_dangling(self, spark):
        # 'b' and 'c' have no out-edges: their mass must redistribute,
        # keeping total rank at 1
        ranks = pagerank(_edges_df(spark, [("a", "b"), ("a", "c")]),
                         iterations=8).collect()
        assert abs(sum(r.rank for r in ranks) - 1.0) < 1e-5
        by = {r.cui: r.rank for r in ranks}
        assert by["b"] == by["c"] > by["a"]

    def test_partitioning_invariant(self, spark):
        edges = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"),
                 ("d", "a"), ("e", "a")]
        one = pagerank(_edges_df(spark, edges).repartition(1)).collect()
        many = pagerank(_edges_df(spark, edges).repartition(7)).collect()
        assert {(r.cui, r.rank) for r in one} == \
            {(r.cui, r.rank) for r in many}

    def test_duplicate_edges_collapse(self, spark):
        once = pagerank(_edges_df(spark, [("a", "b"), ("b", "a")]))
        twice = pagerank(_edges_df(
            spark, [("a", "b"), ("a", "b"), ("b", "a")]))
        assert sorted(map(tuple, once.collect())) == \
            sorted(map(tuple, twice.collect()))


class TestCooccurrencePMI:
    def test_hand_computed(self, spark):
        # docs: d1={A,B}, d2={A,B}, d3={A,C}  ->  N=3
        # (A,B): n=2, df_A=3, df_B=2 -> ln(2*3/(3*2)) = 0
        # (A,C): n=1, df_C=1 -> ln(1*3/(3*1)) = 0
        dc = spark.createDataFrame(
            [("d1", "A"), ("d1", "B"), ("d2", "A"), ("d2", "B"),
             ("d3", "A"), ("d3", "C")], "doc_id string, cui string")
        got = {(r.cui_a, r.cui_b): (r.n_docs, r.pmi)
               for r in concept_cooccurrence_pmi(dc).collect()}
        assert got == {("A", "B"): (2, 0.0), ("A", "C"): (1, 0.0)}

    def test_positive_pmi_for_correlated_pair(self, spark):
        # B appears ONLY with A, and A also appears alone -> PMI(A,B) > 0
        rows = [(f"d{i}", "A") for i in range(4)] + \
               [(f"d{i}", "B") for i in range(2)] + \
               [(f"d{9}", "Z")]
        dc = spark.createDataFrame(rows, "doc_id string, cui string")
        got = {(r.cui_a, r.cui_b): r.pmi
               for r in concept_cooccurrence_pmi(dc).collect()}
        # N=5, n_AB=2, df_A=4, df_B=2 -> ln(2*5/8) = ln(1.25)
        assert got[("A", "B")] == round(math.log(1.25), 4)

    def test_repeated_mentions_count_once_per_doc(self, spark):
        dc = spark.createDataFrame(
            [("d1", "A"), ("d1", "A"), ("d1", "B")],
            "doc_id string, cui string")
        rows = concept_cooccurrence_pmi(dc).collect()
        assert [(r.cui_a, r.cui_b, r.n_docs) for r in rows] == \
            [("A", "B", 1)]

    def test_unordered_pairs_only(self, spark):
        dc = spark.createDataFrame(
            [("d1", "B"), ("d1", "A")], "doc_id string, cui string")
        rows = concept_cooccurrence_pmi(dc).collect()
        assert [(r.cui_a, r.cui_b) for r in rows] == [("A", "B")]


class TestConceptPairs:
    def test_one_row_per_document_and_pair(self, spark):
        # a (doc_id, cui) repeated within a document counts once; a pair
        # shared by two documents gives two rows; a null doc_id row pairs
        # with nothing
        dc = spark.createDataFrame(
            [("d1", "B"), ("d1", "A"), ("d1", "A"), ("d2", "A"),
             ("d2", "B"), ("d2", "C"), ("d3", "C"), (None, "A")],
            "doc_id string, cui string")
        assert sorted(tuple(r) for r in concept_pairs(dc).collect()) == \
            [("A", "B"), ("A", "B"), ("A", "C"), ("B", "C")]


class TestDegreeStats:
    def test_hand_computed(self, spark):
        from nobletools_spark.graph.analytics import degree_stats
        e = spark.createDataFrame(
            [("a", "b"), ("a", "c"), ("b", "c"), ("a", "b")],
            "src string, dst string")
        got = {r.cui: (r.out_degree, r.in_degree, r.degree)
               for r in degree_stats(e).collect()}
        # duplicate (a,b) collapses
        assert got == {"a": (2, 0, 2), "b": (1, 1, 2), "c": (0, 2, 2)}


class TestTriangleCounts:
    def test_hand_computed(self, spark):
        from nobletools_spark.graph.analytics import triangle_counts
        # K4 on {a,b,c,d}: each vertex is in C(3,2)=3 triangles; e isolated
        # via a single edge (no triangle)
        edges = [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"),
                 ("b", "d"), ("c", "d"), ("d", "e")]
        e = spark.createDataFrame(edges, "a string, b string")
        got = {r.cui: r.triangles for r in triangle_counts(e).collect()}
        assert got == {"a": 3, "b": 3, "c": 3, "d": 3, "e": 0}

    def test_matches_brute_force_on_random_graph(self, spark):
        from itertools import combinations

        from nobletools_spark.graph.analytics import triangle_counts
        rng = random.Random(3)
        verts = [f"v{i:02d}" for i in range(14)]
        edges = sorted({tuple(sorted(rng.sample(verts, 2)))
                        for _ in range(40)})
        eset = set(edges)
        want = {v: 0 for v in {x for e in edges for x in e}}
        for t in combinations(sorted(want), 3):
            if all(p in eset for p in combinations(t, 2)):
                for v in t:
                    want[v] += 1
        e = spark.createDataFrame(edges, "a string, b string")
        got = {r.cui: r.triangles for r in triangle_counts(e).collect()}
        assert got == want


class TestClusterSample:
    def test_keeps_k_per_cluster_deterministically(self, spark):
        import hashlib as hl

        from nobletools_spark.textdata.clustering import cluster_sample
        rows = [(i, i % 4) for i in range(40)]
        a = spark.createDataFrame(rows, "vec_id long, cluster int")
        got = sorted((r.cluster, r.vec_id)
                     for r in cluster_sample(a, per_cluster=3).collect())
        want = []
        for c in range(4):
            ids = sorted((i for i, cc in rows if cc == c),
                         key=lambda i: (hl.md5(str(i).encode()).hexdigest(),
                                        i))[:3]
            want += [(c, i) for i in ids]
        assert got == sorted(want)

    def test_small_cluster_kept_whole(self, spark):
        from nobletools_spark.textdata.clustering import cluster_sample
        a = spark.createDataFrame([(1, 0), (2, 0), (3, 1)],
                                  "vec_id long, cluster int")
        got = cluster_sample(a, per_cluster=5).collect()
        assert len(got) == 3


class TestWeightedPageRank:
    def test_matches_python_reference(self, spark):
        rng = random.Random(19)
        verts = [f"v{i}" for i in range(20)]
        edges = sorted({(rng.choice(verts), rng.choice(verts),
                         float(rng.randint(1, 9)))
                        for _ in range(50)})
        edges = [(s, d, w) for s, d, w in edges if s != d]

        def py_ref(damping=0.85, iterations=10):
            vs = sorted({x for s, d, _ in edges for x in (s, d)})
            n = len(vs)
            wsum = {}
            for s, _, w in edges:
                wsum[s] = wsum.get(s, 0.0) + w
            rank = {v: 1.0 / n for v in vs}
            for _ in range(iterations):
                contrib = {v: 0.0 for v in vs}
                for s, d, w in edges:
                    contrib[d] += rank[s] * w / wsum[s]
                dangling = sum(rank[v] for v in vs if v not in wsum)
                rank = {v: (1 - damping) / n
                        + damping * (contrib[v] + dangling / n) for v in vs}
            return {v: round(r, 6) for v, r in rank.items()}

        df = spark.createDataFrame(edges, "src string, dst string, w double")
        got = {r.cui: r.rank
               for r in pagerank(df, weight_col="w").collect()}
        assert got == py_ref()

    def test_uniform_weights_equal_unweighted(self, spark):
        edges = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"),
                 ("d", "a")]
        plain = pagerank(_edges_df(spark, edges)).collect()
        wdf = spark.createDataFrame([(s, d, 7.0) for s, d in edges],
                                    "src string, dst string, w double")
        weighted = pagerank(wdf, weight_col="w").collect()
        assert sorted(map(tuple, plain)) == sorted(map(tuple, weighted))

    def test_heavier_edge_pulls_rank(self, spark):
        # a splits mass 9:1 between b and c -> b must outrank c
        wdf = spark.createDataFrame(
            [("a", "b", 9.0), ("a", "c", 1.0), ("b", "a", 1.0),
             ("c", "a", 1.0)], "src string, dst string, w double")
        got = {r.cui: r.rank for r in pagerank(wdf, weight_col="w").collect()}
        assert got["b"] > got["c"]


class TestConnectedComponents:
    def test_components_and_singletons(self, spark):
        from nobletools_spark.graph.analytics import connected_components
        # an edge (v, v) names an isolated vertex
        e = spark.createDataFrame(
            [("b", "a"), ("b", "c"), ("x", "y"), ("lone", "lone")],
            "a string, b string")
        got = {r.cui: r.component
               for r in connected_components(e).collect()}
        assert got == {"a": "a", "b": "a", "c": "a",
                       "x": "x", "y": "x", "lone": "lone"}

    def test_matches_python_union_find(self, spark):
        from nobletools_spark.graph.analytics import connected_components
        rng = random.Random(31)
        verts = [f"v{i:02d}" for i in range(25)]
        edges = sorted({tuple(sorted(rng.sample(verts, 2)))
                        for _ in range(18)})
        parent = {v: v for v in verts}

        def find(x):
            while parent[x] != x:
                x = parent[x]
            return x
        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                lo, hi = sorted((ra, rb))
                parent[hi] = lo
        want = {v: find(v) for v in verts}
        e = spark.createDataFrame(edges + [(x, x) for x in verts],
                                  "a string, b string")
        got = {r.cui: r.component
               for r in connected_components(e).collect()}
        assert got == want
