"""Spark pipeline end-to-end tests: P0 ingest -> P1 split -> P2 match ->
P6 triples, the span-sequence invariant, and generation determinism."""

from collections import Counter

import pytest
from pyspark.sql import functions as F

from nobletools_spark.pipeline.documents import (generate_documents,
                                                 interleave_flat_documents)
from nobletools_spark.pipeline.stages import (dedup_redundant_mentions,
                                              run_pipeline)
from nobletools_spark.terminology.fixture import fixture_dictionary


@pytest.fixture(scope="module")
def corpus(spark):
    return generate_documents(spark, 40, seed=7, partitions=4).cache()


@pytest.fixture(scope="module")
def pipeline_out(spark, corpus):
    out = run_pipeline(spark, corpus, fixture_dictionary(), "best-match")
    out["mentions"] = out["mentions"].cache()
    out["triples"] = out["triples"].cache()
    return out


class TestPipeline:
    def test_sentences_have_doc_absolute_offsets(self, spark, corpus, pipeline_out):
        full = corpus.select("doc_id", F.expr(
            "concat_ws('', transform(filter(spans, s -> s.kind = 'text'),"
            " s -> s.text))").alias("full"))
        joined = (pipeline_out["sentences"].join(full, "doc_id")
                  .select("text", "offset", "full").collect())
        assert joined
        for r in joined:
            sl = r.full[r.offset:r.offset + len(r.text)]
            assert sl.replace("\n", " ") == r.text.replace("\n", " ")

    def test_mentions_annotations_index_into_document(self, spark, corpus, pipeline_out):
        full = corpus.select("doc_id", F.expr(
            "concat_ws('', transform(filter(spans, s -> s.kind = 'text'),"
            " s -> s.text))").alias("full"))
        rows = (pipeline_out["mentions"].join(full, "doc_id")
                .select("annotations", "full").collect())
        assert rows
        for r in rows:
            for a in r.annotations:
                assert r.full[a.offset:a.offset + len(a.text)] == a.text

    def test_triples_shape(self, pipeline_out):
        t = pipeline_out["triples"]
        preds = {r.pred for r in t.select("pred").distinct().collect()}
        assert preds == {"mentions_concept", "isa"}
        # mentions_concept triples are distinct per (doc, cui)
        mc = t.where(F.col("pred") == "mentions_concept")
        assert mc.count() == mc.distinct().count()

    def test_span_sequence_invariant(self, spark, corpus):
        """Per-row span-sequence equality (kind, text, media_ref, order)
        preserved through the pipeline (input_hint invariant) — the pipeline
        never mutates the documents frame."""
        before = corpus.select("doc_id", F.sha2(F.to_json("spans"), 256)
                               .alias("fp")).collect()
        run_pipeline(spark, corpus, fixture_dictionary(), "best-match")
        after = corpus.select("doc_id", F.sha2(F.to_json("spans"), 256)
                              .alias("fp")).collect()
        assert sorted(map(tuple, before)) == sorted(map(tuple, after))

    def test_generation_partition_independent(self, spark):
        a = generate_documents(spark, 30, seed=9, partitions=1) \
            .select("doc_id", F.sha2(F.to_json("spans"), 256).alias("fp")).collect()
        b = generate_documents(spark, 30, seed=9, partitions=8) \
            .select("doc_id", F.sha2(F.to_json("spans"), 256).alias("fp")).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))

    def test_mentions_match_local_matcher(self, spark, corpus, pipeline_out):
        """Distributed result == driver-side sequential matcher result."""
        from nobletools_spark.config import for_search_method
        from nobletools_spark.matcher.core import process_sentence
        from nobletools_spark.sentence.splitter import (TYPE_HEADER,
                                                        filter_sentence,
                                                        process_document)
        dico = fixture_dictionary()
        cfg = for_search_method("best-match")
        expected = set()
        for row in corpus.collect():
            for span in row.spans:
                if span.kind != "text" or not span.text:
                    continue
                sents, _ = process_document(span.text)
                for s in sents:
                    if filter_sentence(s.text, s.sent_type):
                        continue
                    for m in process_sentence(s.text, dico, cfg):
                        for t, o in m.annotations:
                            expected.add((row.doc_id, m.cui, span.offset + s.offset + o, t))
        got = set()
        for r in pipeline_out["mentions"].collect():
            for a in r.annotations:
                got.add((r.doc_id, r.cui, a.offset, a.text))
        assert got == expected


_PARAGRAPH_TEXT = ("The following were not identified: melanoma, rash.\n"
                   "Also fever was evaluated.\n\n"
                   "Second paragraph has nevus.\n")


def _rows(df):
    """A frame's rows as a multiset of string tuples."""
    return Counter(tuple(str(x) for x in r) for r in df.collect())


def _span(text, kind="text"):
    return {"kind": kind, "text": text, "offset": 0,
            "media_ref": "" if kind == "text" else "media://m/0"}


class TestFusedTriplePath:
    @pytest.fixture(scope="class")
    def edge_docs(self, spark, corpus):
        from nobletools_spark.pipeline.documents import DOCUMENTS_SCHEMA
        edge = spark.createDataFrame([
            ("deid", [_span("Seen by **NAME[nevus] for follow up of melanoma.")]),
            ("media", [_span("", "image")]),
            ("empty", [_span(""), _span("Patient has fever.")]),
            ("none", [_span("The weather was pleasant today.")]),
            ("dup", [_span("Patient has a rash.")]),
            ("dup", [_span("The rash has spread.")]),
            ("hbp", [_span("Patient has high blood pressure (HBP).\n"
                           "The HBP was treated.\n")]),
            ("para", [_span(_PARAGRAPH_TEXT)]),
        ], schema=DOCUMENTS_SCHEMA)
        return corpus.unionByName(edge)

    @pytest.fixture(scope="class")
    def hbp_dico(self):
        """The fixture terminology plus a second concept whose synonym is
        "HBP", so the acronym pass changes what the "hbp" document gives."""
        from nobletools_spark.terminology.fixture import (FIXTURE_CONCEPTS,
                                                          FIXTURE_ISA_EDGES)
        from nobletools_spark.terminology.storage import build_dictionary
        hbp = dict(cui="C9999999", name="heparin binding protein",
                   synonyms=["HBP"], sem_types=["Amino Acid"],
                   sources=["T"])
        return build_dictionary(FIXTURE_CONCEPTS + [hbp],
                                isa_edges=FIXTURE_ISA_EDGES)

    @pytest.mark.parametrize("salt", [0, 3])
    def test_triples_equal_mention_derived(self, spark, edge_docs, salt):
        """run_pipeline's triples come from the fused document_concepts
        stage; they must equal the triples of the mention rows, edge
        documents included."""
        from nobletools_spark.config import for_search_method
        from nobletools_spark.pipeline.stages import (detect_mentions,
                                                      materialize_triples,
                                                      split_sentences)
        dico = fixture_dictionary()
        got = [tuple(r) for r in run_pipeline(
            spark, edge_docs, dico, "best-match", salt_buckets=salt)
            ["triples"].collect()]
        want = materialize_triples(detect_mentions(
            split_sentences(edge_docs), spark.sparkContext.broadcast(dico),
            for_search_method("best-match")), spark, dico)
        assert len(got) == len(set(got))  # "dup" spans two rows
        assert set(got) == {tuple(r) for r in want.collect()}
        mc = {(s, o) for s, p, o, _ in got if p == "mentions_concept"}
        assert {("deid", "C0025202"), ("empty", "C0015967"),
                ("dup", "C0015230")} <= mc
        assert ("deid", "C0027960") not in mc  # nevus sits in a DeID tag
        assert not {s for s, _ in mc} & {"media", "none"}

    @pytest.mark.parametrize("salt", [0, 3])
    def test_context_triples_equal_annotate_derived(self, spark, edge_docs,
                                                    hbp_dico, salt):
        """With a modifier terminology the fused stage runs the acronym
        pass per document: its triples equal those of the annotated
        mentions, and the acronym pass changes them ("HBP" is defined as
        high blood pressure, so the conflicting HBP concept goes)."""
        from nobletools_spark.config import for_search_method
        from nobletools_spark.context.lexicon import modifier_dictionary
        from nobletools_spark.pipeline.stages import (annotate_documents,
                                                      materialize_triples,
                                                      split_sentences)
        dico = hbp_dico
        ctx = modifier_dictionary()
        sc = spark.sparkContext

        def mentions_concept(triples):
            return {(s, o) for s, p, o, _ in triples
                    if p == "mentions_concept"}

        got = [tuple(r) for r in run_pipeline(
            spark, edge_docs, dico, "best-match", salt_buckets=salt,
            context_dico=ctx)["triples"].collect()]
        want = materialize_triples(annotate_documents(
            split_sentences(edge_docs), sc.broadcast(dico), sc.broadcast(ctx),
            for_search_method("best-match")), spark, dico)
        assert len(got) == len(set(got))
        assert set(got) == {tuple(r) for r in want.collect()}
        mc = mentions_concept(got)
        assert ("hbp", "C0020538") in mc and ("hbp", "C9999999") not in mc
        no_acronyms = mentions_concept(run_pipeline(
            spark, edge_docs, dico, "best-match", salt_buckets=salt)
            ["triples"].collect())
        assert ("hbp", "C9999999") in no_acronyms

    @pytest.mark.parametrize("salt", [0, 3])
    @pytest.mark.parametrize("context", [False, True],
                             ids=["none", "modifier"])
    def test_mentions_equal_sentence_path(self, spark, edge_docs, hbp_dico,
                                          context, salt):
        """run_pipeline's mentions read documents through
        document_mentions; row for row they equal the mentions of the
        sentence-row entries (detect_mentions, or annotate_documents with
        a modifier terminology), edge documents, the acronym pass and a
        paragraph-action modifier included."""
        from nobletools_spark.config import for_search_method
        from nobletools_spark.context.lexicon import modifier_dictionary
        from nobletools_spark.pipeline.stages import (annotate_documents,
                                                      detect_mentions,
                                                      split_sentences)
        cfg = for_search_method("best-match")
        ctx = modifier_dictionary() if context else None
        sc = spark.sparkContext
        got = run_pipeline(spark, edge_docs, hbp_dico, "best-match",
                           salt_buckets=salt, context_dico=ctx)["mentions"]
        sents = split_sentences(edge_docs)
        want = (annotate_documents(sents, sc.broadcast(hbp_dico),
                                   sc.broadcast(ctx), cfg) if context
                else detect_mentions(sents, sc.broadcast(hbp_dico), cfg))
        assert got.schema == want.schema
        rows = _rows(got)
        assert rows == _rows(want)
        cuis = {(r[0], r[2]) for r in rows}
        assert (("hbp", "C9999999") in cuis) is not context  # acronym pass
        if context:
            pol = {(r.doc_id, r.cui): r.modifiers["Polarity"]
                   for r in got.where(F.col("doc_id") == "para").collect()}
            # the list negation scopes over its paragraph: fever, in the
            # next sentence, is negated; nevus, in the next paragraph, not
            assert pol[("para", "C0015967")] == "Negative_Polarity"
            assert pol[("para", "C0027960")] == "Positive_Polarity"

    def test_annotate_batches_cut_documents(self, spark, edge_docs,
                                            hbp_dico):
        """annotate_documents annotates each doc_id run of its sorted
        sentence stream wherever the Arrow batches cut it: with two-row
        batches most documents straddle batches, and no row changes."""
        from nobletools_spark.config import for_search_method
        from nobletools_spark.context.lexicon import modifier_dictionary
        from nobletools_spark.pipeline.stages import (annotate_documents,
                                                      split_sentences)
        sc = spark.sparkContext
        dico_bc = sc.broadcast(hbp_dico)
        ctx_bc = sc.broadcast(modifier_dictionary())
        cfg = for_search_method("best-match")

        def annotated():
            return _rows(annotate_documents(split_sentences(edge_docs),
                                            dico_bc, ctx_bc, cfg))

        want = annotated()
        key = "spark.sql.execution.arrow.maxRecordsPerBatch"
        default = spark.conf.get(key)
        spark.conf.set(key, "2")
        try:
            got = annotated()
        finally:
            spark.conf.set(key, default)
        assert got == want

    @pytest.mark.parametrize("context", [False, True],
                             ids=["none", "modifier"])
    def test_null_spans_yield_nothing(self, spark, edge_docs, context):
        """A document row with null spans yields no sentence, concept or
        mention, like an empty document, and the job goes on: every other
        document's sentences, mentions and triples are unchanged."""
        from nobletools_spark.context.lexicon import modifier_dictionary
        null_row = spark.createDataFrame(
            [("nullspans", None)], "doc_id string, spans array<struct<"
            "kind:string, text:string, media_ref:string, offset:int>>")
        ctx = modifier_dictionary() if context else None
        dico = fixture_dictionary()

        def outputs(docs):
            out = run_pipeline(spark, docs, dico, "best-match",
                               context_dico=ctx)
            return {k: _rows(out[k])
                    for k in ("sentences", "mentions", "triples")}

        assert outputs(edge_docs.unionByName(null_row)) == outputs(edge_docs)


class TestParagraphScope:
    def test_paragraph_action_scopes_across_sentences(self, spark):
        from nobletools_spark.config import for_search_method
        from nobletools_spark.context.lexicon import modifier_dictionary
        from nobletools_spark.pipeline.documents import DOCUMENTS_SCHEMA
        from nobletools_spark.pipeline.stages import (annotate_documents,
                                                      split_sentences)
        docs = spark.createDataFrame(
            [("p1", [_span(_PARAGRAPH_TEXT)])], schema=DOCUMENTS_SCHEMA)
        sents = split_sentences(docs)
        # the blank line splits paragraphs
        pids = {r.text.strip()[:6]: r.paragraph_id for r in sents.collect()}
        assert pids["The fo"] == pids["Also f"] != pids["Second"]
        ann = annotate_documents(
            sents, spark.sparkContext.broadcast(fixture_dictionary()),
            spark.sparkContext.broadcast(modifier_dictionary()),
            for_search_method("best-match"))
        pol = {r.cui: r.modifiers.get("Polarity") for r in ann.collect()}
        # C5+hasParagraphAction: the list-negation phrase scopes FORWARD
        # over its whole paragraph — fever (next sentence) is negated...
        assert pol["C0025202"] == "Negative_Polarity"   # melanoma (local)
        assert pol["C0015967"] == "Negative_Polarity"   # fever (paragraph)
        # ...but not into the next paragraph
        assert pol["C0027960"] == "Positive_Polarity"   # nevus


class TestInterleaveAdapter:
    def test_flat_adapter_preserves_text(self, spark):
        flat = spark.createDataFrame(
            [(1, "hash join beats sort merge on big data"),
             (2, "x"), (3, "nospaceshere")], ["doc_id", "text"])
        docs = interleave_flat_documents(flat)
        rows = {r.doc_id: r.spans for r in docs.collect()}
        for key, orig in [("1", "hash join beats sort merge on big data"),
                          ("2", "x"), ("3", "nospaceshere")]:
            text = "".join(s.text for s in rows[key] if s.kind == "text")
            assert text == orig
            kinds = [s.kind for s in rows[key]]
            assert any(k != "text" for k in kinds)  # interleaved media span

    def test_adapter_offsets_cumulative(self, spark):
        flat = spark.createDataFrame([(9, "alpha beta gamma delta")],
                                     ["doc_id", "text"])
        spans = interleave_flat_documents(flat).collect()[0].spans
        text_so_far = 0
        for s in spans:
            if s.kind == "text":
                assert s.offset == text_so_far
                text_so_far += len(s.text)


class TestDedup:
    def test_redundant_mention_removal(self, spark):
        from nobletools_spark.pipeline.stages import MENTIONS_SCHEMA
        rows = [
            ("d1", 0, "C1", "n", "deep margin", "deep margin", 1.0,
             [{"text": "deep", "offset": 0}], 0, 11, [], []),
            ("d1", 0, "C1", "n", "deep", "deep", 1.0,
             [{"text": "deep", "offset": 0}], 0, 4, [], []),
            ("d1", 0, "C2", "n", "deep", "deep", 1.0,
             [{"text": "deep", "offset": 0}], 0, 4, [], []),
        ]
        df = spark.createDataFrame(rows, schema=MENTIONS_SCHEMA)
        kept = dedup_redundant_mentions(df).select("cui", "start", "end").collect()
        assert {(r.cui, r.start, r.end) for r in kept} == {("C1", 0, 11), ("C2", 0, 4)}
