"""Skew defusal evidence (north rule): salted repartition spreads a
hot-term-skewed corpus evenly across partitions WITHOUT changing results;
the checkpoint lineage counters make the balance measurable."""

import pytest
from pyspark.sql import functions as F

from nobletools_spark.pipeline.checkpoint import CheckpointManager
from nobletools_spark.pipeline.documents import generate_documents
from nobletools_spark.pipeline.stages import (detect_mentions,
                                              salt_documents,
                                              split_sentences)
from nobletools_spark.terminology.fixture import fixture_dictionary


@pytest.fixture(scope="module")
def skewed(spark):
    # skew=0.95: nearly every sentence carries the hot 'skin' vocabulary
    return generate_documents(spark, 120, seed=17, skew=0.95,
                              partitions=2).cache()


class TestSalting:
    def test_salting_preserves_results(self, spark, skewed):
        dico_bc = spark.sparkContext.broadcast(fixture_dictionary())

        def mentions(docs):
            return {(r.doc_id, r.sent_id, r.cui, r.start, r.end)
                    for r in detect_mentions(
                        split_sentences(docs), dico_bc).collect()}

        assert mentions(salt_documents(skewed, 8)) == mentions(skewed)

    def test_salting_balances_partitions(self, spark, skewed, tmp_path):
        # lineage counters from the checkpoint manifest expose the
        # per-partition row distribution after salting
        dico_bc = spark.sparkContext.broadcast(fixture_dictionary())
        cm = CheckpointManager(spark, str(tmp_path))
        res = cm.run_stage(
            "mentions", "fp",
            lambda: detect_mentions(
                split_sentences(salt_documents(skewed, 8)), dico_bc))
        rep = res.skew()
        assert rep["partitions"] == 8
        assert rep["skew_ratio"] is not None and rep["skew_ratio"] < 2.0

    def test_aqe_splits_skewed_join_partition(self, spark):
        # third leg of the skew story (after salting + blacklist): the
        # join paths lean on AQE's runtime skew-join — evidence that a
        # 95%-hot key actually triggers the split (SortMergeJoin(skew=
        # true) + AQEShuffleRead skewed) under per-session thresholds
        # scaled to test-sized shuffles
        s = spark.newSession()
        for k, v in {
            "spark.sql.adaptive.enabled": "true",
            "spark.sql.adaptive.skewJoin.enabled": "true",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
            "spark.sql.adaptive.skewJoin."
            "skewedPartitionThresholdInBytes": "16384",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8192",
            "spark.sql.adaptive.coalescePartitions.enabled": "false",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.shuffle.partitions": "8",
        }.items():
            s.conf.set(k, v)
        left = (s.range(100_000)
                .withColumn("k", F.when(F.col("id") % 100 < 95, F.lit(0))
                            .otherwise(F.col("id") % 16))
                .withColumn("pad", F.sha2(F.col("id").cast("string"), 256)))
        right = (s.range(50_000)
                 .withColumn("k", F.col("id") % 16)
                 .withColumn("pad2", F.sha2(F.col("id").cast("string"),
                                            512)))
        j = left.join(right, "k").select(F.sum(F.length("pad")))
        j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin(skew=true)" in plan
        assert "AQEShuffleRead skewed" in plan

    def test_hot_word_blacklist_prunes_postings(self):
        # the terminology-side skew defense: the hot word's posting list is
        # pre-pruned (BlacklistHandler analog), so a sentence full of hot
        # words probes a short list, not the full WT entry
        concepts = [dict(cui=f"C{i:05d}", name=f"skin unique{i:05d}",
                         synonyms=[], sources=["T"]) for i in range(600)]
        from nobletools_spark.terminology.storage import build_dictionary
        d = build_dictionary(concepts)
        assert "skin" in d.blacklist
        assert len(d.get_terms_for_word("skin")) < len(d.word_map["skin"])
