"""Pipeline stages: documents -> sentences -> mentions -> triples.

Stage architecture (SURVEY.md §7): each stage is a pure DataFrame ->
DataFrame transform; the heavy lexical work runs inside one narrow
``mapInPandas`` (``_map_rows``) over a broadcast dictionary. A document
row holds every span, so ``document_concepts`` (the ``(doc_id, cui)`` of
triples and of every document-level graph entry) and
``document_mentions`` (mentions, ``annotate_document`` per document with
ConText) need no shuffle; ``run_pipeline``'s only shuffle is the triple
dedupe. The checkpointed chain persists sentences, so its mentions come
from ``detect_mentions`` or ``annotate_documents`` (one doc_id shuffle).

Scale posture:
- dictionaries travel once per executor via ``SparkContext.broadcast``;
- the hot-word skew the reference fights with its blacklist
  (BlacklistHandler.java) is defused the same way here (pre-pruned posting
  lists) plus optional salted repartition (``salt_documents``) so hot
  documents spread over all partitions;
- `spark.sql.adaptive.enabled` is assumed on for runtime skew re-splits;
- every Python task pays a fixed cost before it reads a row, so a small
  pass is bound by its task count, not its data. Two rules keep that cost
  down: a worker that imported this package keeps its zip directories
  across task starts (``worker_imports.py``, which cuts that cost from
  about 150 to 30 ms of worker CPU per task on CPython 3.11), and a
  driver-local frame (the isa triples, a union-find result, a concept
  list) is an Arrow table (``frames.local_frame``, a JVM-side
  ``LocalTableScan``), never a pickled RDD, whose job runs in a second
  Python worker pool that never imports this package.
"""

from __future__ import annotations

import itertools
from operator import itemgetter
from types import SimpleNamespace
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as ST

from ..config import SearchConfig, for_search_method
from ..context.acronyms import AcronymState
from ..context.context import ConTextEngine, ModifierOut, _add_modifier
from ..frames import local_frame
from ..matcher.core import process_sentence
from ..sentence import splitter as SP
from ..terminology.storage import Dictionary

SENTENCES_SCHEMA = ST.StructType([
    ST.StructField("doc_id", ST.StringType(), False),
    ST.StructField("sent_id", ST.IntegerType(), False),
    ST.StructField("sent_type", ST.StringType(), False),
    ST.StructField("text", ST.StringType(), False),
    ST.StructField("offset", ST.IntegerType(), False),
    # C5: paragraph index within the document (-1 = outside any
    # paragraph); paragraph-action modifiers scope over this
    ST.StructField("paragraph_id", ST.IntegerType(), False),
])

MENTIONS_SCHEMA = ST.StructType([
    ST.StructField("doc_id", ST.StringType(), False),
    ST.StructField("sent_id", ST.IntegerType(), False),
    ST.StructField("cui", ST.StringType(), False),
    ST.StructField("concept_name", ST.StringType(), False),
    ST.StructField("matched_term", ST.StringType(), False),
    ST.StructField("normalized_term", ST.StringType(), False),
    ST.StructField("score", ST.DoubleType(), False),
    ST.StructField("annotations", ST.ArrayType(ST.StructType([
        ST.StructField("text", ST.StringType(), False),
        ST.StructField("offset", ST.IntegerType(), False),
    ])), False),
    ST.StructField("start", ST.IntegerType(), False),
    ST.StructField("end", ST.IntegerType(), False),
    ST.StructField("sem_types", ST.ArrayType(ST.StringType()), False),
    ST.StructField("sources", ST.ArrayType(ST.StringType()), False),
])

ANNOTATED_SCHEMA = ST.StructType(
    MENTIONS_SCHEMA.fields +
    [ST.StructField("modifiers",
                    ST.MapType(ST.StringType(), ST.StringType()), False)])

TRIPLES_SCHEMA = ST.StructType([
    ST.StructField("subj", ST.StringType(), False),
    ST.StructField("pred", ST.StringType(), False),
    ST.StructField("obj", ST.StringType(), False),
    ST.StructField("doc_id", ST.StringType(), False),
])


def salt_documents(documents: DataFrame, salt_buckets: int = 0) -> DataFrame:
    """Skew defense: spread documents evenly regardless of content hot
    spots. Round-robin repartition — each row (one whole document) lands
    in exactly one partition with perfect balance, breaking any clustering
    of hot-term documents. (Hashing a computed salt column would re-hash
    the salt into buckets and collide; round-robin IS the salted spread
    for row-granular work. Key-salting proper applies to the join-based
    match path, where AQE's skew-join handles it.)"""
    if salt_buckets <= 0:
        return documents
    return documents.repartition(salt_buckets)


def _columns(schema: ST.StructType) -> dict[str, list]:
    """Empty column lists of ``schema``, in field order."""
    return {name: [] for name in schema.names}


def _value(bc):
    return bc.value if hasattr(bc, "value") else bc


def _append(out: dict[str, list], *row) -> None:
    for col, v in zip(out.values(), row):
        col.append(v)


def _map_rows(frame: DataFrame, schema: ST.StructType, per_task, *broadcasts,
              cols: tuple = ("doc_id", "spans")) -> DataFrame:
    """The skeleton of the row-wise stages: one narrow mapInPandas over
    ``cols`` (a document by default; no other column crosses Arrow).
    ``per_task(*values)`` runs once per task with each broadcast unwrapped
    and returns ``body(out, *row)``, called per input row to append rows
    to ``out``, the ``schema`` column lists. Each Arrow batch yields at
    most one frame."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        body = per_task(*map(_value, broadcasts))
        for pdf in batches:
            out = _columns(schema)
            for row in zip(*(pdf[c] for c in cols)):
                body(out, *row)
            if out["doc_id"]:  # empty frames infer float64 cols, breaking Arrow
                yield pd.DataFrame(out)

    return frame.select(*cols).mapInPandas(gen, schema=schema)


def doc_sentences(spans, doc_type: str = SP.TYPE_MEDICAL_REPORT,
                  filter_headers: bool = True) -> Iterator[tuple]:
    """C1-C6 for one document: yields ``(sent_id, sent_type, text, offset,
    paragraph_id)`` for each kept sentence of its ``kind='text'`` spans,
    offsets document-absolute. The one splitter loop of every stage. Null
    ``spans`` yield nothing, like an empty document."""
    if spans is None:  # not `spans or ()`: Arrow lists arrive as arrays
        return
    sent_id = para_base = 0
    for span in spans:  # Arrow struct dicts or Rows, both key by name
        stext = span["text"]
        if span["kind"] != "text" or not stext:
            continue
        rows, secs = SP.process_document(stext, doc_type)
        paras = SP.find_paragraphs(stext, secs)

        def pid_for(off: int) -> int:
            for j, p in enumerate(paras):
                if p.start <= off < max(p.end, p.start + 1):
                    return para_base + j
            return -1

        for r in rows:
            # clip the phantom trailing pad the line-splitter appends past
            # the end of the span (parity artifact of re-appending '\n' to
            # the final split line)
            over = (r.offset + len(r.text)) - len(stext)
            if over > 0:
                r.text = r.text[:-over]
            if SP.filter_sentence(r.text, r.sent_type,
                                  filter_header=filter_headers):
                continue
            yield (sent_id, r.sent_type, r.text,
                   int(span["offset"]) + r.offset, pid_for(r.offset))
            sent_id += 1
        para_base += len(paras)


def split_sentences(documents: DataFrame, doc_type: str = SP.TYPE_MEDICAL_REPORT,
                    filter_headers: bool = True) -> DataFrame:
    """P1: explode ``kind='text'`` spans into typed sentences with
    document-absolute offsets (C1-C6). Narrow transform, no shuffle."""

    def body(out, doc_id, spans):
        for s in doc_sentences(spans, doc_type, filter_headers):
            _append(out, doc_id, *s)

    return _map_rows(documents, SENTENCES_SCHEMA, lambda: body)


def match_text(text: str, dico: Dictionary, cfg: SearchConfig,
               acronyms=None) -> tuple[str, list]:
    """The matcher call of every match path: blank DeID tags (same-length,
    offsets kept), run the matcher, then the document's acronym pass when
    ``acronyms`` is given. Returns the scrubbed text and the mentions."""
    stext = SP.filter_deid_tags(text)
    mentions = process_sentence(stext, dico, cfg)
    if acronyms is not None:
        mentions = acronyms.process(stext, mentions)
    return stext, mentions


def match_sentence(cols: dict[str, list], doc_id: str, sent_id: int,
                   text: str, offset: int, dico: Dictionary,
                   cfg: SearchConfig, acronyms=None) -> tuple[str, list]:
    """P2 for one sentence, the mention-row builder every mention path
    shares: ``match_text``, then one row per mention appended to ``cols``,
    the MENTIONS_SCHEMA column lists. Annotation offsets are rebased to
    document-absolute (Mention.java:75-81). Returns the scrubbed text and
    the mentions."""
    stext, mentions = match_text(text, dico, cfg, acronyms)
    offset, sent_id = int(offset), int(sent_id)
    (c_doc, c_sent, c_cui, c_name, c_matched, c_norm, c_score, c_anns,
     c_start, c_end, c_sem, c_src) = cols.values()
    for m in mentions:
        anns = [{"text": t, "offset": offset + o} for t, o in m.annotations]
        c_doc.append(doc_id)
        c_sent.append(sent_id)
        c_cui.append(m.cui)
        c_name.append(m.concept_name)
        c_matched.append(m.matched_term)
        c_norm.append(m.normalized_term)
        c_score.append(float(m.score))
        c_anns.append(anns)
        c_start.append(anns[0]["offset"] if anns else -1)
        c_end.append(max(a["offset"] + len(a["text"]) for a in anns)
                     if anns else -1)
        c_sem.append(list(m.sem_types))
        c_src.append(list(m.sources))
    return stext, mentions


def detect_mentions(sentences: DataFrame, dico_bc,
                    cfg: SearchConfig | None = None) -> DataFrame:
    """P2: the match stage. Broadcast-dictionary probe inside mapInPandas —
    relationally a broadcast hash semi-join of sentence words against the WT
    table followed by the TC expansion, executed as in-memory dict probes.
    """
    cfg = cfg or for_search_method(None)
    return _map_rows(
        sentences, MENTIONS_SCHEMA,
        lambda dico: lambda out, *sent: match_sentence(out, *sent, dico, cfg),
        dico_bc, cols=("doc_id", "sent_id", "text", "offset"))


def annotate_document(out: dict[str, list], doc_id: str, sents,
                      dico: Dictionary, cfg: SearchConfig,
                      engine: ConTextEngine | None = None) -> None:
    """P2+P3 for one document: the reference's per-sentence chain
    (NobleCoder.process:312-336: terminology -> AcronymDetector ->
    ConText) over ``sents``, the document's ``(sent_id, sent_type, text,
    offset, paragraph_id)`` in order; appends ANNOTATED_SCHEMA rows to
    ``out`` (empty modifier maps without ``engine``). It owns the
    document's state: one ``AcronymState`` (cleared per document, :273),
    the section modifiers and the paragraph-action modifiers, which scope
    backward too, so they apply once the document is read."""
    state = AcronymState(dico)
    section_mods: list = []
    rows = _columns(MENTIONS_SCHEMA)
    slots: list = []      # per row: ConText slot
    pids: list[int] = []  # per row: paragraph id
    para: list[tuple] = []  # (pid, action, abs_start, abs_end, ModifierOut)
    for sent_id, sent_type, text, offset, pid in sents:
        # headers aren't coded; their section-action modifiers scope every
        # mention until the next header (kept only if filter_headers=False)
        if sent_type == SP.TYPE_HEADER:
            if engine is not None:
                section_mods = engine.section_modifiers(
                    SP.filter_deid_tags(text))
            continue

        stext, mentions = match_sentence(rows, doc_id, sent_id, text,
                                         offset, dico, cfg, state)
        pids.extend([int(pid)] * len(mentions))
        if engine is None:
            slots.extend({} for _ in mentions)
            continue
        sent_slots, global_mods = engine.process_with_globals(stext, mentions)
        for slot, target in zip(sent_slots, mentions):
            for smod in section_mods:
                # local sentence modifiers win over section scope
                # (NobleMentions.process:158-169)
                if all(m.is_default for m in slot.get(smod.type, [])):
                    _add_modifier(slot, smod, target)
        slots.extend(sent_slots)
        for gm in global_mods:
            ga = engine.global_action(gm.cui)
            if ga is None or ga[0] != "paragraph" or pid < 0:
                continue
            for val in engine.modifier_values(gm):
                para.append((int(pid), ga[1], int(offset) + gm.start,
                             int(offset) + gm.end, val))

    for pid, action, a_start, a_end, val in para:
        for start, end, slot, row_pid in zip(
                rows["start"], rows["end"], slots, pids):
            fwd = a_end <= start and action in ("forward", "bidirectional")
            bwd = a_start >= end and action in ("backward", "bidirectional")
            # local sentence modifiers win (NobleMentions:158-169)
            if (row_pid == pid and (fwd or bwd) and
                    all(m.is_default for m in slot.get(val.type, []))):
                _add_modifier(slot, ModifierOut(type=val.type, value=val.value,
                                                start=a_start, end=a_end),
                              SimpleNamespace(start=start, end=end))

    for name, col in rows.items():
        out[name].extend(col)
    out["modifiers"].extend(
        {t: ",".join(m.value for m in lst) for t, lst in slot.items()}
        for slot in slots)


def document_concepts(documents: DataFrame, dico_bc,
                      cfg: SearchConfig | None = None,
                      acronyms: bool = False) -> DataFrame:
    """P1+P2 fused for the triple path: one mapInPandas over documents
    yields each document's distinct CUIs as ``(doc_id, cui)``. Catalyst
    cannot prune columns inside a Python UDF, so the projection is pushed
    in here: no sentence or mention row is built or crosses Arrow. With
    ``acronyms`` each document row gets one ``AcronymState``, the acronym
    pass of ``annotate_document``; a doc_id on two input rows is two
    acronym scopes, and its pairs repeat (``mention_triples`` dedupes)."""
    cfg = cfg or for_search_method(None)

    def concepts(dico):
        def body(out, doc_id, spans):
            state = AcronymState(dico) if acronyms else None
            for cui in dict.fromkeys(
                    m.cui for _, _, text, _, _ in doc_sentences(spans)
                    for m in match_text(text, dico, cfg, state)[1]):
                _append(out, doc_id, cui)
        return body

    return _map_rows(documents, ST.StructType([
        ST.StructField("doc_id", ST.StringType()),
        ST.StructField("cui", ST.StringType())]), concepts, dico_bc)


def document_mentions(documents: DataFrame, dico_bc, context_bc=None,
                      cfg: SearchConfig | None = None) -> DataFrame:
    """P1+P2(+P3) fused for the mention paths: one narrow mapInPandas over
    documents; no sentence row crosses Arrow and nothing shuffles. Without
    a modifier terminology it yields the MENTIONS_SCHEMA rows of
    ``detect_mentions(split_sentences(documents))`` (no acronym pass);
    with one, the ANNOTATED_SCHEMA rows of ``annotate_document`` per
    document row. A doc_id on two input rows is two document scopes
    (acronyms, sections, paragraphs), as in ``document_concepts``."""
    cfg = cfg or for_search_method(None)
    if context_bc is None:
        def mentions(dico):
            def body(out, doc_id, spans):
                for sent_id, _, text, offset, _ in doc_sentences(spans):
                    match_sentence(out, doc_id, sent_id, text, offset,
                                   dico, cfg)
            return body
        return _map_rows(documents, MENTIONS_SCHEMA, mentions, dico_bc)

    def annotated(dico, cdico):
        engine = ConTextEngine(cdico)
        return lambda out, doc_id, spans: annotate_document(
            out, doc_id, doc_sentences(spans), dico, cfg, engine)

    return _map_rows(documents, ANNOTATED_SCHEMA, annotated, dico_bc,
                     context_bc)


def annotate_documents(sentences: DataFrame, dico_bc, context_bc=None,
                       cfg: SearchConfig | None = None) -> DataFrame:
    """P2+P3 from sentence rows, for the checkpointed chain
    (``document_mentions`` reads documents without a shuffle). One
    shuffle on doc_id plus a sort by (doc_id, sent_id) makes each
    document one ordered run; a PARTITION-level mapInPandas (not
    groupBy().applyInPandas, one Python call per document) chains the
    partition's Arrow batches and runs ``annotate_document`` per doc_id
    run, wherever the batches cut it."""
    cfg = cfg or for_search_method(None)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        dico: Dictionary = _value(dico_bc)
        engine = (ConTextEngine(_value(context_bc))
                  if context_bc is not None else None)
        rows = itertools.chain.from_iterable(
            zip(pdf["doc_id"], zip(pdf["sent_id"], pdf["sent_type"],
                                   pdf["text"], pdf["offset"],
                                   pdf["paragraph_id"]))
            for pdf in batches)
        out = _columns(ANNOTATED_SCHEMA)
        for doc_id, run in itertools.groupby(rows, key=itemgetter(0)):
            annotate_document(out, doc_id, map(itemgetter(1), run),
                              dico, cfg, engine)
            if len(out["doc_id"]) >= 10_000:  # bound the buffered frame
                yield pd.DataFrame(out)
                out = _columns(ANNOTATED_SCHEMA)
        if out["doc_id"]:
            yield pd.DataFrame(out)

    spark_parallelism = sentences.sparkSession.sparkContext.defaultParallelism
    return (sentences
            .repartition(spark_parallelism, "doc_id")
            .sortWithinPartitions("doc_id", "sent_id")
            .mapInPandas(gen, schema=ANNOTATED_SCHEMA))


def match_stage(sentences: DataFrame, dico_bc, context_bc=None,
                cfg: SearchConfig | None = None) -> DataFrame:
    """The match-stage decision over sentence rows, used only by the
    checkpointed chain (its mentions stage reads the persisted
    sentences): with a modifier terminology ``annotate_documents`` (one
    shuffle on doc_id), otherwise the narrow ``detect_mentions``. Entry
    points that read documents use ``document_mentions``."""
    if context_bc is not None:
        return annotate_documents(sentences, dico_bc, context_bc, cfg)
    return detect_mentions(sentences, dico_bc, cfg)


def concept_stage(documents: DataFrame, dico_bc, context_bc=None,
                  cfg: SearchConfig | None = None) -> DataFrame:
    """The ``(doc_id, cui)`` rows doc->CUI triples are built from:
    ``document_concepts``, with the acronym pass exactly when a modifier
    terminology is given (as ``document_mentions`` runs
    ``annotate_document``). ConText assigns modifiers but never changes a
    CUI, so triples need no more of the annotate pass."""
    return document_concepts(documents, dico_bc, cfg,
                             acronyms=context_bc is not None)


def dedup_redundant_mentions(mentions: DataFrame) -> DataFrame:
    """F6: same concept + contained span -> keep widest
    (DomainOntology.removeRedundantMentions:645-670). Window over
    (doc_id, cui) — a single shuffle on the natural key."""
    from pyspark.sql.window import Window
    w = Window.partitionBy("doc_id", "cui")
    return (mentions
            .withColumn("_w", F.collect_list(F.struct("start", "end")).over(w))
            .where(~F.exists(
                "_w", lambda o: (o["start"] <= F.col("start")) &
                                (F.col("end") <= o["end"]) &
                                ((o["end"] - o["start"]) > (F.col("end") - F.col("start")))))
            .drop("_w"))


def mention_triples(mentions: DataFrame) -> DataFrame:
    """P6a: doc -mentions_concept-> CUI (distinct per document)."""
    return (mentions
            .select(F.col("doc_id").alias("subj"),
                    F.lit("mentions_concept").alias("pred"),
                    F.col("cui").alias("obj"),
                    "doc_id")
            .distinct())


def isa_triples(spark: SparkSession, dico: Dictionary) -> DataFrame:
    """P6b: CUI -isa-> CUI from the terminology's BROADER edges."""
    return local_frame(spark, [(c, "isa", p, "") for c, p in dico.isa_edges],
                       TRIPLES_SCHEMA)


def materialize_triples(mentions: DataFrame, spark: SparkSession,
                        dico: Dictionary, include_isa: bool = True,
                        canonical: DataFrame | None = None) -> DataFrame:
    """P5+P6: optionally rewrite CUIs through the canonical map (connected
    components over synonym/xref edges, ``graph.canonicalize``) before
    emitting doc->mentions_concept->CUI and CUI->isa->CUI triples.
    ``mentions`` needs only ``doc_id`` and ``cui`` (``document_concepts``)."""
    if canonical is not None:
        from ..graph.canonicalize import canonicalize_mentions
        mentions = canonicalize_mentions(mentions, canonical)
    t = mention_triples(mentions)
    if include_isa and dico.isa_edges:
        isa = isa_triples(spark, dico)
        if canonical is not None:
            isa = canonicalize_mentions(
                canonicalize_mentions(isa, canonical, "subj"), canonical, "obj")
            isa = (isa.where(F.col("subj") != F.col("obj"))
                   .select("subj", "pred", "obj", "doc_id").distinct())
        t = t.unionByName(isa)
    return t


def run_pipeline(spark: SparkSession, documents: DataFrame, dico: Dictionary,
                 method: str | None = None, salt_buckets: int = 0,
                 context_dico: Dictionary | None = None,
                 ) -> dict[str, DataFrame]:
    """End-to-end P0->P6. Returns all frames, lazy; ``triples`` come from
    ``concept_stage``, not from the returned ``mentions``. A caller that
    needs both should cache ``mentions`` and call ``materialize_triples``
    on it, or the matcher runs twice."""
    cfg = for_search_method(method)
    sc = spark.sparkContext
    docs = salt_documents(documents, salt_buckets)
    dico_bc = sc.broadcast(dico)
    context_bc = (sc.broadcast(context_dico) if context_dico is not None
                  else None)
    triples = materialize_triples(
        concept_stage(docs, dico_bc, context_bc, cfg), spark, dico)
    return {"documents": docs, "sentences": split_sentences(docs),
            "mentions": document_mentions(docs, dico_bc, context_bc, cfg),
            "triples": triples}
