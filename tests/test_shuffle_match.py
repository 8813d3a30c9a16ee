"""Shuffle-join match path parity: detect_mentions_shuffle (relational
candidate generation over dictionary tables) must produce exactly the
mentions of the broadcast compacted-index path."""

import pytest

from nobletools_spark.config import for_search_method
from nobletools_spark.pipeline.documents import generate_documents
from nobletools_spark.pipeline.shuffle_match import detect_mentions_shuffle
from nobletools_spark.pipeline.stages import detect_mentions, split_sentences
from nobletools_spark.terminology.build import (build_terminology,
                                                dictionary_from_tables)
from nobletools_spark.terminology.fixture import FIXTURE_CONCEPTS


@pytest.fixture(scope="module")
def tables(spark):
    t = build_terminology(spark, FIXTURE_CONCEPTS, compact=True)
    for k in ("word_index_compact", "term_index", "concepts"):
        t[k] = t[k].cache()
    return t


@pytest.fixture(scope="module")
def sentences(spark):
    docs = generate_documents(spark, 40, seed=31, partitions=4)
    return split_sentences(docs).cache()


def keyset(df):
    out = set()
    for r in df.collect():
        out.add((r.doc_id, r.sent_id, r.cui, r.normalized_term, r.start,
                 r.end, round(r.score, 6)))
    return out


class TestShuffleMatchParity:
    # the shuffle path applies only the compacted overrides to the
    # caller's search method
    @pytest.mark.parametrize("method",
                             ["best-match", "all-match", "partial-match"])
    def test_matches_broadcast_compacted_path(self, spark, tables, sentences,
                                              method):
        from nobletools_spark.pipeline.stages import SENTENCES_SCHEMA
        # both paths match the text with DeID tags blanked out
        text = "Seen by **NAME[melanoma] for follow up of melanoma."
        deid = spark.createDataFrame([("deid", 0, "Prose", text, 0, -1)],
                                     schema=SENTENCES_SCHEMA)
        sentences = sentences.unionByName(deid)
        # broadcast twin: compact WT table, no blacklist shortcut
        dico = dictionary_from_tables(tables)
        dico.word_map = {r.word: tuple(r.terms)
                         for r in tables["word_index_compact"].collect()}
        dico.blacklist = {}
        cfg = for_search_method(method, compacted=True)
        broadcast_out = detect_mentions(
            sentences, spark.sparkContext.broadcast(dico), cfg)

        shuffle_out = detect_mentions_shuffle(
            sentences, tables, for_search_method(method), base_dico=dico)
        assert keyset(shuffle_out) == keyset(broadcast_out)
        assert shuffle_out.count() > 0
        deid_rows = shuffle_out.where("doc_id = 'deid'").collect()
        # only the untagged "melanoma" is matched
        assert {r.start for r in deid_rows} == {text.rindex("melanoma")}
        if method == "best-match":
            assert [r.cui for r in deid_rows] == ["C0025202"]

    def test_empty_sentence_safe(self, spark, tables):
        from pyspark.sql import types as ST
        from nobletools_spark.pipeline.stages import SENTENCES_SCHEMA
        sents = spark.createDataFrame(
            [("d1", 0, "Prose", "", 0, 0),
             ("d1", 1, "Prose", "zz qq ww unknown words", 0, 0)],
            schema=SENTENCES_SCHEMA)
        out = detect_mentions_shuffle(sents, tables,
                                      for_search_method("best-match"))
        assert out.count() == 0


class TestVocabScale:
    def test_large_vocab_parity_and_budget_flip(self, spark):
        """VERDICT r1 #7: the broadcast->shuffle flip exercised by the
        budget decision over a genuinely large synthetic vocabulary (60k
        concepts / 120k terms here; scripts/vocab_scale.py runs the same
        comparison at 1M for BENCH.md), with full mention parity."""
        import os
        import sys
        sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..",
                                        "scripts"))
        from vocab_scale import build_vocab_tables, vocab_sentences

        from nobletools_spark.pipeline.shuffle_match import (
            detect_mentions_auto, estimate_dictionary_bytes)

        tables = build_vocab_tables(spark, 60_000)
        sents = vocab_sentences(spark, tables, 500).cache()

        dico = dictionary_from_tables(tables)
        dico.word_map = {r.word: tuple(r.terms)
                         for r in tables["word_index_compact"].collect()}
        dico.blacklist = {}
        budget = 1_000_000
        assert estimate_dictionary_bytes(dico) > budget  # genuinely over

        auto = detect_mentions_auto(sents, dico, tables=tables,
                                    budget_bytes=budget)
        # over budget + tables present -> the relational candidate
        # pipeline (its plan joins the dictionary tables; the broadcast
        # path is a single narrow mapInPandas with no join)
        assert "Join" in auto._jdf.queryExecution().toString()

        cfg = for_search_method("best-match", compacted=True)
        broadcast_out = detect_mentions(
            sents, spark.sparkContext.broadcast(dico), cfg)
        assert keyset(auto) == keyset(broadcast_out)
        assert auto.count() == 500  # one planted term per sentence


class TestAutoPathSelection:
    def test_small_dictionary_broadcasts(self, spark, tables, sentences):
        from nobletools_spark.pipeline.shuffle_match import (
            detect_mentions_auto, estimate_dictionary_bytes)
        from nobletools_spark.terminology.fixture import fixture_dictionary
        dico = fixture_dictionary()
        assert estimate_dictionary_bytes(dico) < 10_000_000
        out = detect_mentions_auto(sentences, dico)
        assert out.count() > 0

    def test_budget_forces_shuffle_path(self, spark, tables, sentences):
        from nobletools_spark.pipeline.shuffle_match import detect_mentions_auto
        from nobletools_spark.terminology.build import dictionary_from_tables
        dico = dictionary_from_tables(tables)
        dico.word_map = {r.word: tuple(r.terms)
                         for r in tables["word_index_compact"].collect()}
        dico.blacklist = {}
        out = detect_mentions_auto(sentences, dico, tables=tables,
                                   budget_bytes=1)  # force shuffle path
        assert out.count() > 0
