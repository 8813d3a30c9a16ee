"""Physical-plan regression guards: the plan properties BENCH.md claims
(pushdown, pruning, broadcast dimensions, narrow match stages, no
cartesian products in scale paths) asserted against `.explain` output so
refactors can't silently regress them."""

import hashlib
import os
import re
import sys
import zipimport

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def plan_of(df, mode: str = "simple") -> str:
    # formatted mode renders PushedFilters/ReadSchema untruncated
    jvm = df.sparkSession._jvm
    return jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


def lambda_bodies(df) -> list[str]:
    """The body of every ``lambdafunction(...)`` in the executed plan,
    nested ones included (each up to its balancing paren)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    bodies = []
    for m in re.finditer(r"lambdafunction\(", plan):
        depth, i = 1, m.end()
        while depth and i < len(plan):
            depth += {"(": 1, ")": -1}.get(plan[i], 0)
            i += 1
        bodies.append(plan[m.end():i - 1])
    return bodies


def executed_plans(spark, action):
    """Run ``action``; return its result and the physical plan (the final
    one under AQE, formatted: tree, then node details) of every SQL
    execution it started, eager checkpoints included."""
    bus = spark.sparkContext._jsc.sc().listenerBus()
    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        bus.waitUntilEmpty()
        lst = store.executionsList()
        return [lst.apply(i) for i in range(lst.size())]

    seen = {e.executionId() for e in executions()}
    out = action()
    return out, [e.physicalPlanDescription() for e in executions()
                 if e.executionId() not in seen]


def final_count(plans, node: str) -> int:
    """Tree lines naming ``node`` in the final (post-AQE) plans of
    ``plans``. A cached relation's plan is printed inside every execution
    that reads the cache but runs once: each is counted once, keyed by
    its output attributes."""
    seen, n = set(), 0
    for plan in plans:
        tree, _, details = plan.partition("\n\n")
        cached = dict(re.findall(
            r"\((\d+)\) InMemoryRelation\nArguments: (.*)", details))
        skip = None
        for line in tree.splitlines():
            # a node's depth is the column of its "+-"/":-" marker: the
            # lines after a skipped node that sit deeper are its subtree
            col = len(line) - len(line.lstrip(" :"))
            if skip is not None and col > skip:
                continue
            skip = None
            rel = re.search(r"InMemoryRelation \((\d+)\)", line)
            if "== Initial Plan ==" in line or (
                    rel and cached[rel[1]] in seen):
                skip = col
                continue
            if rel:
                seen.add(cached[rel[1]])
            n += node in line
    return n


def scan_block(df, table: str) -> str:
    plan = plan_of(df, "formatted")
    blocks = plan.split("\n\n")
    for b in blocks:
        if "Scan parquet" in b and table in b:
            return b
    return ""


class TestPushdownAndPruning:
    def test_filters_reach_parquet_scan(self, spark):
        from nobletools_spark.relational.queries import QUERIES
        df = QUERIES["scan_filter_project"].spark(spark, SF)
        scan = scan_block(df, "lineitem")
        assert "PushedFilters" in scan
        assert "GreaterThan" in scan and "LessThan" in scan
        # projection pruned to the 6 needed columns (4 out + 2 filters)
        read = scan.split("ReadSchema:")[1].splitlines()[0]
        assert read.count(",") <= 5

    def test_q5_broadcasts_dimensions(self, spark):
        from nobletools_spark.relational.queries import QUERIES
        plan = plan_of(QUERIES["join_revenue_by_nation"].spark(spark, SF))
        assert plan.count("BroadcastHashJoin") >= 2   # nation + region
        assert "CartesianProduct" not in plan


class TestKgPipelinePlans:
    def test_mention_detect_is_narrow(self, spark):
        # the match stage must not shuffle: scan -> (project) -> two
        # mapInPandas stages (split + match), zero Exchange operators
        from nobletools_spark.pipeline.documents import (
            interleave_flat_documents)
        from nobletools_spark.pipeline.stages import (detect_mentions,
                                                      split_sentences)
        from nobletools_spark.terminology.fixture import fixture_dictionary
        flat = spark.read.parquet(f"{SF}/documents.parquet")
        bc = spark.sparkContext.broadcast(fixture_dictionary())
        mentions = detect_mentions(
            split_sentences(interleave_flat_documents(flat)), bc)
        plan = plan_of(mentions)
        assert "Exchange" not in plan
        assert plan.count("MapInPandas") == 2

    @staticmethod
    def pipeline(spark, context):
        from nobletools_spark.context.lexicon import modifier_dictionary
        from nobletools_spark.pipeline.documents import (
            interleave_flat_documents)
        from nobletools_spark.pipeline.stages import run_pipeline
        from nobletools_spark.terminology.fixture import fixture_dictionary
        flat = spark.read.parquet(f"{SF}/documents.parquet")
        return run_pipeline(
            spark, interleave_flat_documents(flat), fixture_dictionary(),
            context_dico=modifier_dictionary() if context else None)

    @pytest.mark.parametrize("context", [False, True],
                             ids=["none", "modifier"])
    def test_narrow_triples_single_python_stage(self, spark, context):
        # the triple path fuses split + match (+ the acronym pass with a
        # modifier terminology): one mapInPandas over documents, and the
        # triple distinct is the only Exchange
        plan = plan_of(self.pipeline(spark, context)["triples"])
        assert plan.count("MapInPandas") == 1
        assert plan.count("Exchange") == 1
        assert "Exchange hashpartitioning(subj" in plan

    @pytest.mark.parametrize("context", [False, True],
                             ids=["none", "modifier"])
    def test_mentions_single_python_stage(self, spark, context):
        # the mention path reads documents directly: one mapInPandas
        # splits, matches (and annotates with a modifier terminology);
        # a document row holds its whole state, so no doc_id shuffle/sort
        plan = plan_of(self.pipeline(spark, context)["mentions"])
        assert plan.count("MapInPandas") == 1
        assert "Exchange" not in plan
        assert "Sort" not in plan

    def test_context_pass_single_doc_shuffle(self, spark):
        from nobletools_spark.context.lexicon import modifier_dictionary
        from nobletools_spark.pipeline.documents import (
            interleave_flat_documents)
        from nobletools_spark.pipeline.stages import (annotate_documents,
                                                      split_sentences)
        from nobletools_spark.terminology.fixture import fixture_dictionary
        flat = spark.read.parquet(f"{SF}/documents.parquet")
        ann = annotate_documents(
            split_sentences(interleave_flat_documents(flat)),
            spark.sparkContext.broadcast(fixture_dictionary()),
            spark.sparkContext.broadcast(modifier_dictionary()))
        plan = plan_of(ann)
        # exactly one repartition (doc_id) buys document-ordered state
        assert plan.count("Exchange") == 1


class TestKgEntryPlans:
    """The document-level KG entries read ``document_concepts``: sorted-row
    md5 of each entry's rows at sf0.001 (values of the mention-row
    entries they replaced), and across every execution an entry starts
    the matcher runs once and no mention column is built — also with a
    cached documents scan in the session, which defeats exchange reuse
    between an operator's references to its input."""
    HASHES = {
        "kg_triples": "6e3b05134287",
        "kg_cooccurrence_pmi": "01994ff1b7b8",
        "kg_components": "7aff646d93ea",
        "kg_weighted_pagerank": "fca4d27a3abe",
        "kg_triangle_counts": "35e4763b812f",
        "kg_degree_stats": "6dfd63173bca",
        "kg_canonical_triples": "c04aafb58f17",
    }

    @pytest.fixture(scope="class")
    def entry(self):
        import importlib.util
        spec = importlib.util.spec_from_file_location(
            "spark_entry_plans", os.path.join(REPO, "__spark_entry__.py"))
        entry = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(entry)
        return entry

    @pytest.fixture(scope="class")
    def run(self, spark, entry):
        done = {}

        def run(name, cached=False):
            # the scan is cached for one cached run only, so every case
            # runs in the state its name gives whatever the test order
            if (name, cached) not in done:
                scan = spark.read.parquet(f"{SF}/documents.parquet")
                if cached:
                    scan.cache().count()
                try:
                    done[name, cached] = executed_plans(
                        spark,
                        lambda: entry.queries()[name](spark, SF).collect())
                finally:
                    if cached:
                        scan.unpersist(blocking=True)
            return done[name, cached]
        return run

    @staticmethod
    def digest(rows):
        got = str(sorted(tuple(r) for r in rows))
        return hashlib.md5(got.encode()).hexdigest()[:12]

    @staticmethod
    def matcher_runs(plans):
        for attr in ("matched_term#", "annotations#"):
            assert not any(attr in p for p in plans), attr
        return final_count(plans, "MapInPandas")

    @pytest.mark.parametrize("name", sorted(HASHES))
    def test_rows_unchanged(self, run, name):
        rows, _ = run(name)
        assert self.digest(rows) == self.HASHES[name]

    @pytest.mark.parametrize("name", sorted(HASHES))
    def test_matcher_runs_once_without_mention_rows(self, run, name):
        _, plans = run(name)
        assert self.matcher_runs(plans) == 1

    @pytest.mark.parametrize("name", sorted(HASHES))
    def test_matcher_runs_once_with_cached_scan(self, run, name):
        rows, plans = run(name, cached=True)
        assert self.matcher_runs(plans) == 1
        assert self.digest(rows) == self.HASHES[name]

    def test_lazy_pmi_input_planned_once(self, spark, entry):
        # the pairs, document frequencies and corpus size all read the
        # input; the operator, not its caller, materializes it once
        from nobletools_spark.graph.analytics import concept_cooccurrence_pmi
        from nobletools_spark.pipeline.stages import document_concepts
        dc = document_concepts(entry._load_documents(spark, SF),
                               spark.sparkContext.broadcast(entry._dico()))
        _, plans = executed_plans(
            spark, lambda: concept_cooccurrence_pmi(dc).collect())
        assert self.matcher_runs(plans) == 1


class TestPythonTaskFixedCost:
    """A Python task's fixed cost: driver-local frames on benchmarked
    passes plan a ``LocalTableScan``, never a pickled-RDD job in a second
    worker pool (``Scan ExistingRDD``), and a worker that imported the
    library keeps its zip directories across task starts."""

    @staticmethod
    def rdd_scans(spark, action):
        _, plans = executed_plans(spark, action)
        return [p for p in plans if "Scan ExistingRDD" in p]

    def test_isa_triples_local_scan_keeps_schema(self, spark):
        from nobletools_spark.pipeline.stages import (TRIPLES_SCHEMA,
                                                      isa_triples)
        from nobletools_spark.terminology.fixture import fixture_dictionary
        isa = isa_triples(spark, fixture_dictionary())
        assert "LocalTableScan" in plan_of(isa)
        # the JVM-side schema, non-null fields included
        assert isa.selectExpr("*").schema == TRIPLES_SCHEMA
        assert isa.count() == len(fixture_dictionary().isa_edges)

    def test_triples_scan_no_driver_rdd(self, spark):
        triples = TestKgPipelinePlans.pipeline(spark, False)["triples"]
        assert not self.rdd_scans(spark, triples.collect)

    def test_checkpointed_clinical_pass_scans_no_driver_rdd(self, spark,
                                                            tmp_path):
        from nobletools_spark.context.lexicon import modifier_dictionary
        from nobletools_spark.pipeline.checkpoint import (
            run_checkpointed_pipeline)
        from nobletools_spark.pipeline.documents import (
            interleave_flat_documents)
        from nobletools_spark.terminology.fixture import fixture_dictionary
        docs = interleave_flat_documents(
            spark.read.parquet(f"{SF}/documents.parquet"))
        assert not self.rdd_scans(spark, lambda: run_checkpointed_pipeline(
            spark, docs, fixture_dictionary(), str(tmp_path / "ckpt"),
            "best-match", context_dico=modifier_dictionary(),
            salt_buckets=4, table_root=str(tmp_path / "table")))

    def test_minhash_pairs_scan_no_driver_rdd(self, spark):
        from nobletools_spark.textdata.dedup import (cache_scope,
                                                     minhash_dup_pairs)
        d = spark.read.parquet(f"{SF}/documents.parquet")
        with cache_scope():
            assert not self.rdd_scans(
                spark, lambda: minhash_dup_pairs(d).collect())

    @pytest.mark.skipif(hasattr(zipimport.zipimporter, "_get_files"),
                        reason="zip directories are read lazily here")
    def test_library_workers_patch_zip_importers(self, spark):
        def probe(batches):
            import sys
            import zipimport

            import pandas as pd

            from nobletools_spark.worker_imports import StatZipImporter
            for _ in batches:
                pass
            zips = [f for f in sys.path_importer_cache.values()
                    if isinstance(f, zipimport.zipimporter)]
            yield pd.DataFrame({
                "worker": ["pyspark.worker" in sys.modules],
                "zips": [len(zips)],
                "patched": [StatZipImporter in sys.path_hooks and
                            all(type(f) is StatZipImporter for f in zips)]})

        TestKgPipelinePlans.pipeline(spark, False)["triples"].collect()
        got = (spark.range(8, numPartitions=4)
               .mapInPandas(probe, "worker boolean, zips long, patched boolean")
               .collect())
        assert got and all(r.worker and r.zips and r.patched for r in got)
        # the driver's import machinery is never touched
        assert zipimport.zipimporter in sys.path_hooks
        assert "pyspark.worker" not in sys.modules


class TestScalePathPlans:
    def test_minhash_no_cartesian_no_collect_list(self, spark):
        from nobletools_spark.textdata.dedup import (lsh_candidate_pairs,
                                                     minhash_signatures,
                                                     shingle_array)
        d = spark.read.parquet(f"{SF}/documents.parquet")
        star = lsh_candidate_pairs(minhash_signatures(shingle_array(d)))
        plan = plan_of(star)
        assert "CartesianProduct" not in plan
        assert "collect_list" not in plan    # star emission is window-min

    def test_minhash_lambdas_do_not_rebuild_shingles(self, spark):
        # a column that a lambda captures counts as one reference, so
        # projection collapse inlines its producer into the lambda, which
        # runs once per array element: a per-slot lambda capturing the
        # shingle hashes rebuilt every shingle set once per slot
        from nobletools_spark.textdata.dedup import (lsh_candidate_pairs,
                                                     minhash_signatures,
                                                     shingle_array)
        d = spark.read.parquet(f"{SF}/documents.parquet")
        bodies = lambda_bodies(
            lsh_candidate_pairs(minhash_signatures(shingle_array(d))))
        assert bodies
        assert not [b for b in bodies if "array_distinct" in b]

    def test_unit_norm_computed_once_per_vector(self, spark):
        # a norm inside the per-element lambda is O(dim^2) per vector
        from nobletools_spark.textdata.dedup import (
            embedding_lsh_neardup_pairs, embedding_neardup_pairs)
        e = spark.read.parquet(f"{SF}/embeddings.parquet")
        for df in (embedding_neardup_pairs(e, threshold=0.4),
                   embedding_lsh_neardup_pairs(e, threshold=0.4, dim=64)):
            bodies = lambda_bodies(df)
            assert bodies
            assert not [b for b in bodies if "aggregate(" in b]

    def test_blacklist_allowed_set_picked_outside_lambdas(self, spark):
        # the hot/super-hot choice depends only on the row's word; inside
        # the per-term-word lambda it would be re-evaluated per element
        from nobletools_spark.terminology.build import build_blacklist_df
        stats = spark.createDataFrame([(f"w{i}", 200 + i) for i in range(20)],
                                      "word string, term_count long")
        index = spark.createDataFrame([("w19", ["w19 w18", "w19 x"])],
                                      "word string, terms array<string>")
        bodies = lambda_bodies(build_blacklist_df(index, stats, 10_000))
        assert bodies
        assert not [b for b in bodies if "CASE WHEN" in b]

    def test_inline_arrays_evaluated_once_per_row(self, spark):
        # an expression that several output columns name is evaluated once
        # per name unless a projection materializes it first: C4's
        # token-length sum, and the cosine query's double-cast vector
        from nobletools_spark.relational.queries import QUERIES
        from nobletools_spark.textdata.analysis import c4_filters
        d = spark.read.parquet(f"{SF}/documents.parquet")
        c4 = lambda_bodies(c4_filters(d))
        assert len([b for b in c4 if "length(lambda" in b]) == 1
        cos = lambda_bodies(QUERIES["embedding_cosine_topk"].spark(spark, SF))
        assert len([b for b in cos if b.startswith("cast(lambda")]) == 1

    def test_line_dedup_cross_doc_test_is_partial_aggregated(self, spark):
        # the ">=2 distinct docs" test must be a groupBy on the line hash
        # (map-side partial aggregation collapses a hot boilerplate line
        # per-partition) joined back to the lines — never a window over
        # partitionBy(md5(line)), which co-locates every instance of a
        # hot line in one task and is unsplittable by AQE skew handling
        from nobletools_spark.textdata.analysis import line_dedup
        d = spark.read.parquet(f"{SF}/documents.parquet")
        plan = plan_of(line_dedup(d))
        assert "partial_min" in plan and "partial_max" in plan
        # the only Window-free shuffle chain: hash agg -> join -> doc agg
        assert "Window" not in plan
        # partial aggregate sits UPSTREAM of the line-hash exchange (the
        # plan prints parents first, so the map-side child follows it)
        assert "Exchange hashpartitioning(lh" in plan
        below_exchange = plan.split("Exchange hashpartitioning(lh", 1)[1]
        assert "partial_min" in below_exchange

    def test_shuffle_match_joins_not_broadcast_dictionary(self, spark):
        # the UMLS-scale path must join the dictionary tables, never
        # collect them to the driver: its plan contains the word/term
        # joins and no Python-side dictionary broadcast
        from nobletools_spark.pipeline.shuffle_match import (
            detect_mentions_shuffle)
        from nobletools_spark.pipeline.stages import SENTENCES_SCHEMA
        from nobletools_spark.terminology.build import build_terminology
        from nobletools_spark.terminology.fixture import FIXTURE_CONCEPTS
        tables = build_terminology(spark, FIXTURE_CONCEPTS, compact=True)
        sents = spark.createDataFrame(
            [("d1", 0, "Prose", "melanoma of the skin", 0, 0)],
            schema=SENTENCES_SCHEMA)
        plan = plan_of(detect_mentions_shuffle(sents, tables))
        assert plan.count("Join") >= 3       # word -> term -> concept


class TestTrainingDataAssemblyPlans:
    def test_stratified_sample_is_map_side_only(self, spark):
        # datamix sampling must not shuffle: scan -> filter, zero
        # Exchange operators, md5 keep-rule evaluated in codegen
        from nobletools_spark.textdata.packing import stratified_sample
        d = spark.read.parquet(f"{SF}/documents.parquet")
        plan = plan_of(stratified_sample(d, {"en": 0.25}))
        assert "Exchange" not in plan
        # the keep-rule filter runs inside whole-stage codegen
        assert "codegen id" in plan_of(
            stratified_sample(d, {"en": 0.25}), "formatted")

    def test_pack_sequences_single_bucket_shuffle(self, spark):
        # exactly one Exchange (the bounded bucket key) feeding one
        # FlatMapGroupsInPandas — the sequential walk is per-bucket only
        from nobletools_spark.textdata.packing import pack_sequences
        d = spark.read.parquet(f"{SF}/documents.parquet")
        plan = plan_of(pack_sequences(d, 512, 16))
        assert plan.count("Exchange") == 1
        assert "FlatMapGroupsInPandas" in plan

    def test_bpe_pair_counts_partial_aggregates(self, spark):
        # both aggregations partial-aggregate map-side (HashAggregate
        # pairs around each Exchange); no Python in the plan at all
        from nobletools_spark.textdata.bpe import pair_counts, word_counts
        d = spark.read.parquet(f"{SF}/documents.parquet")
        plan = plan_of(pair_counts(word_counts(d)))
        assert plan.count("HashAggregate") == 4   # partial+final, twice
        assert "InPandas" not in plan and "BatchEvalPython" not in plan

    def test_embedding_dup_groups_no_quadratic_ops(self, spark):
        # the grouping surface must stay free of cartesian products and
        # driver funnels (no collect_list over the corpus)
        from nobletools_spark.textdata.dedup import embedding_dup_groups
        e = spark.read.parquet(f"{SF}/embeddings.parquet")
        plan = plan_of(embedding_dup_groups(e, threshold=0.4, dim=64))
        assert "CartesianProduct" not in plan
        assert "collect_list" not in plan

    def test_relevance_ops_stay_jvm_side(self, spark):
        # corpus-statistics ops: no Python in the plan, aggregations
        # partial-aggregate map-side, corpus scalars ride broadcast joins
        from nobletools_spark.textdata.relevance import (bigram_lm_scores,
                                                         tfidf_top_terms)
        d = spark.read.parquet(f"{SF}/documents.parquet")
        for op in (tfidf_top_terms, bigram_lm_scores):
            plan = plan_of(op(d))
            assert "InPandas" not in plan and "BatchEvalPython" not in plan
            # the single-row scalar cross joins must plan as broadcast
            # nested-loop of 1 row, never a real CartesianProduct
            assert "CartesianProduct" not in plan


class TestR4Plans:
    def test_embedding_lsh_exchange_reuse(self, spark):
        # the band-key table feeds both self-join sides through ONE
        # hash-partitioned exchange (ReusedExchange), so the interpreted
        # projections run once per vector; the explicit partition count
        # also stops AQE from coalescing the blowup join (r4 fix:
        # candidate stage 9.5 s -> 2.4 s at sf0.1)
        from nobletools_spark.textdata.dedup import \
            embedding_lsh_neardup_pairs
        e = spark.read.parquet(f"{SF}/embeddings.parquet")
        df = embedding_lsh_neardup_pairs(e, threshold=0.4, dim=64)
        # AQE only materializes ReusedExchange in the EXECUTED plan —
        # and only THIS DataFrame's execution (a noop write plans a copy)
        df.collect()
        plan = plan_of(df)
        assert "isFinalPlan=true" in plan
        assert "ReusedExchange" in plan

    def test_brute_cosine_parallel_and_materialized(self, spark):
        # the O(n^2) verify must not run on the input's (single) parquet
        # split, and the exchange must materialize the normalization so
        # it is not re-evaluated per joined row (r4 fix: 100 s -> 8 s)
        from nobletools_spark.textdata.dedup import embedding_neardup_pairs
        e = spark.read.parquet(f"{SF}/embeddings.parquet")
        plan = plan_of(embedding_neardup_pairs(e, threshold=0.4))
        assert "Exchange RoundRobinPartitioning" in plan

    def test_pii_scrub_is_map_side_only(self, spark):
        # PII scrubbing is a narrow map stage: zero shuffles, no Python
        from nobletools_spark.textdata.analysis import pii_scrub
        d = spark.read.parquet(f"{SF}/documents.parquet")
        plan = plan_of(pii_scrub(d))
        assert "Exchange" not in plan
        assert "InPandas" not in plan and "BatchEvalPython" not in plan

    def test_ngram_overlap_single_gram_shuffle_broadcast_eval(self, spark):
        # one shuffle keys the gram join; the (small) eval side arrives
        # by broadcast, so the training corpus never re-shuffles for it
        from pyspark.sql import functions as F

        from nobletools_spark.textdata.analysis import ngram_overlap_pairs
        d = spark.read.parquet(f"{SF}/documents.parquet")
        train = d.where(F.col("doc_id") % 5 != 0)
        ev = d.where(F.col("doc_id") % 5 == 0).limit(20)
        plan = plan_of(ngram_overlap_pairs(train, ev))
        assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


class TestGraphAnalyticsPlans:
    def test_pagerank_iteration_broadcast_and_truncated_lineage(self, spark):
        # after localCheckpoint the per-iteration plan must NOT contain the
        # whole chain of prior iterations: the final plan stays bounded
        # (scan of the checkpointed RDD), and the contribution aggregation
        # partial-aggregates map-side
        from nobletools_spark.graph.analytics import pagerank
        e = spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("c", "a")], "src string, dst string")
        plan = plan_of(pagerank(e, iterations=4))
        assert "Scan ExistingRDD" in plan      # truncated lineage
        assert plan.count("HashAggregate") <= 2  # final round only

    def test_cooccurrence_pmi_broadcasts_frequencies(self, spark):
        # doc-frequency joins are explicit broadcasts; the corpus-size
        # scalar rides a single-row join, never a collect
        from nobletools_spark.graph.analytics import concept_cooccurrence_pmi
        dc = spark.createDataFrame(
            [("d1", "A"), ("d1", "B")], "doc_id string, cui string")
        plan = plan_of(concept_cooccurrence_pmi(dc))
        assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
        assert "collect_list" not in plan

    def test_triangle_counts_no_cartesian_and_bounded_plan(self, spark):
        from nobletools_spark.graph.analytics import triangle_counts
        e = spark.createDataFrame(
            [("a", "b"), ("a", "c"), ("b", "c")], "a string, b string")
        plan = plan_of(triangle_counts(e))
        assert "CartesianProduct" not in plan
        assert "Scan ExistingRDD" in plan      # edge table materialized once

    def test_ivf_search_prunes_lists_via_broadcast(self, spark):
        # the IVF search stage: inverted-list pruning must be a
        # broadcast hash join on the cluster key (partition pruning at
        # scale), never a shuffled join or a cartesian product
        from nobletools_spark.textdata.ann import ivf_topk
        e = spark.read.parquet(f"{SF}/embeddings.parquet")
        plan = plan_of(ivf_topk(e, dim=64, n_clusters=4, iterations=1,
                                n_probe=2, k=5))
        assert "CartesianProduct" not in plan
        assert "BroadcastHashJoin" in plan
        # the centroid ranking runs as a row_number window over the
        # k-row centroid table (score DESC), not a driver-side collect
        assert "score" in plan and "row_number()" in plan

    def test_kmeans_assignment_has_no_shuffle_before_argmin(self, spark):
        # assignment = vectors x broadcast(centroids) + per-id window; the
        # only Exchanges in the final assign pass are the window partition
        # hash — no SortMergeJoin anywhere
        from nobletools_spark.textdata.clustering import kmeans_assignments
        vecs = spark.createDataFrame(
            [(i, [float(i), 0.0]) for i in range(10)],
            "vec_id long, embedding array<double>")
        plan = plan_of(kmeans_assignments(vecs, dim=2, k=2, iterations=1))
        assert "SortMergeJoin" not in plan
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
