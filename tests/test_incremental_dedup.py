"""Incremental (delta-batch) near-dup detection tests: the delta probe
must reproduce exactly the full-corpus pairs that touch the delta."""

import pytest
from pyspark.sql import functions as F

from nobletools_spark.textdata import dedup as D
from nobletools_spark.textdata.packing import md5_bucket

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    df = spark.read.parquet(f"{SF}/documents.parquet").cache()
    yield df
    # a cached scan of the shared corpus would change later tests' plans
    df.unpersist()


class TestIncrementalPairs:
    def test_matches_full_pipeline_restricted_to_delta(self, spark, docs):
        is_new = md5_bucket(F.col("doc_id"), 5) == 0
        corpus, new = docs.where(~is_new), docs.where(is_new)
        delta_ids = {r.doc_id for r in new.select("doc_id").collect()}
        assert 0 < len(delta_ids) < docs.count()

        got = {(r.a, r.b): round(r.jaccard, 4) for r in
               D.minhash_incremental_pairs(corpus, new,
                                           threshold=0.8).collect()}
        full = {(r.a, r.b): round(r.jaccard, 4) for r in
                D.minhash_dup_pairs(docs, threshold=0.8).collect()
                if r.a in delta_ids or r.b in delta_ids}
        assert got == full

    def test_planted_delta_duplicates(self, spark):
        base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        corpus = spark.createDataFrame(
            [(1, base), (2, "unrelated words that share nothing here at"),
             (3, "more filler content about completely other topics")],
            "doc_id long, text string")
        new = spark.createDataFrame(
            [(10, base),                 # dup of corpus doc 1
             (11, base + " extra"),      # near-dup of 1 and 10
             (12, "fresh novel text matching nobody in the corpus")],
            "doc_id long, text string")
        pairs = {(r.a, r.b) for r in
                 D.minhash_incremental_pairs(corpus, new,
                                             threshold=0.5).collect()}
        assert (1, 10) in pairs          # new vs corpus
        assert (10, 11) in pairs         # new vs new (batch self-dedup)
        assert not any(12 in p for p in pairs)
        # corpus-vs-corpus pairs are NOT re-emitted
        assert all(p[0] >= 10 or p[1] >= 10 for p in pairs)

    def test_band_keys_state_shape(self, spark, docs):
        sig = D.minhash_signatures(D.shingle_array(docs.limit(20)))
        keys = D.band_keys(sig)
        assert keys.columns == ["doc_id", "band", "h"]
        per_doc = (keys.groupBy("doc_id").count().select("count")
                   .distinct().collect())
        assert [r["count"] for r in per_doc] == [D.DEFAULT_BANDS]


class TestDecontamination:
    def test_clean_plus_contaminated_partitions_train(self, spark):
        base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        train = spark.createDataFrame(
            [(1, base),                       # leaks a test doc
             (2, base + " extra"),            # near-dups it too
             (3, "unrelated corpus text about completely other things"),
             (4, "more safe training content with no overlap at all")],
            "doc_id long, text string")
        test = spark.createDataFrame(
            [(100, base), (101, "benchmark question nothing like train")],
            "doc_id long, text string")
        from nobletools_spark.textdata.dedup import decontaminate
        out = decontaminate(train, test, threshold=0.5)
        pairs = {(r.a_id, r.b_id) for r in out["contaminated"].collect()}
        clean = {r.doc_id for r in out["clean"].collect()}
        assert (1, 100) in pairs and (2, 100) in pairs
        # a_id is always the train doc; within-corpus pairs never appear
        assert all(a in {1, 2, 3, 4} and b in {100, 101} for a, b in pairs)
        assert clean == {3, 4}

    def test_matches_exact_cross_pairs_on_testdata(self, spark, docs):
        from nobletools_spark.textdata.dedup import (cross_corpus_pairs,
                                                     minhash_dup_pairs)
        from nobletools_spark.textdata.packing import md5_bucket
        from pyspark.sql import functions as F
        is_test = md5_bucket(F.col("doc_id"), 5) == 0
        test_ids = {r.doc_id for r in
                    docs.where(is_test).select("doc_id").collect()}
        got = {(r.a_id, r.b_id) for r in
               cross_corpus_pairs(docs.where(~is_test), docs.where(is_test),
                                  threshold=0.8).collect()}
        full = {(b, a) if a in test_ids else (a, b)
                for a, b in ((r.a, r.b) for r in
                             minhash_dup_pairs(docs,
                                               threshold=0.8).collect())
                if (a in test_ids) != (b in test_ids)}
        assert got == full
