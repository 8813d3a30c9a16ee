"""P2 at UMLS scale: the shuffle-join match path.

When the vocabulary outgrows the broadcast budget (~10M synonyms ->
GB-scale dictionary), the broadcast-dict probe flips to a relational
candidate-generation pipeline with IDENTICAL semantics to the reference's
compacted-index search (``NobleCoderTerminology`` compacted flag,
:1338-1343 — used-word/small-word skips disabled):

    sentences --normalize words (pandas UDF)--> (sent, word)
      ⋈ word_index_compact  (shuffle on word)  -> candidate terms
      ⋈ term_index          (shuffle on term)  -> candidate CUIs
      ⋈ concepts            (shuffle on cui)   -> scoring metadata
      groupBy(sent)         (shuffle on sent)  -> per-sentence mini-dictionary
      applyInPandas: the SAME matcher core over the mini-dictionary

Candidate completeness: the compacted index files each term under only its
rarest word; a term can match a sentence only if ALL its words appear
there — in particular the rarest one — so the word join yields a superset
of every matchable term. Words come from the raw text; the matcher sees it
with DeID tags blanked out, which only removes words. The in-UDF matcher then applies the full E-group
semantics (contiguity, order, subsumption, scoring) exactly as the
broadcast path does — parity is pinned by test_shuffle_match.

Skew: hot rarest-words are bounded by construction (compaction moves mass
off hot words — that is its purpose, H5); residual skew in the word join
is AQE's skew-join case.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as ST

from ..config import CUSTOM_MATCH, SearchConfig, for_search_method
from ..text import tools as T
from ..terminology.storage import ConceptMeta, Dictionary
from .stages import (MENTIONS_SCHEMA, _map_rows, detect_mentions,
                     match_sentence)

_WORDS_SCHEMA = ST.ArrayType(ST.StringType())


def _normalize_words_udf(cfg: SearchConfig):
    @F.pandas_udf(_WORDS_SCHEMA)
    def norm(texts: pd.Series) -> pd.Series:
        return pd.Series([
            sorted(set(T.normalize_words(t or "", cfg.stem_words,
                                         cfg.strip_digits,
                                         cfg.strip_stop_words)))
            for t in texts])
    return norm


def detect_mentions_shuffle(sentences: DataFrame,
                            tables: dict[str, DataFrame],
                            cfg: SearchConfig | None = None,
                            base_dico: Dictionary | None = None) -> DataFrame:
    """Shuffle-join mention detection over persisted dictionary tables.
    ``tables`` needs word_index_compact, term_index, concepts; regex
    patterns (tiny) ride the optional ``base_dico`` broadcast. ``cfg``
    keeps its search method; only the compacted-index overrides apply."""
    cfg = for_search_method(CUSTOM_MATCH, cfg or for_search_method(None),
                            compacted=True)
    spark = sentences.sparkSession

    sent = sentences.withColumn(
        "_sid", F.concat_ws("#", "doc_id", F.col("sent_id").cast("string")))
    norm = _normalize_words_udf(cfg)
    words = (sent
             .select("_sid", F.explode(norm("text")).alias("word")))

    cand_terms = (words
                  .join(tables["word_index_compact"], "word")
                  .select("_sid", F.explode("terms").alias("term"))
                  .distinct())
    cand_cuis = (cand_terms
                 .join(tables["term_index"], "term")
                 .select("_sid", "term", F.explode("cuis").alias("cui")))
    meta_cols = ["cui", "name", "synonyms", "sem_types", "sources", "terms"]
    with_meta = (cand_cuis
                 .join(tables["concepts"].select(*meta_cols)
                       .withColumnRenamed("terms", "cterms"), "cui"))

    packed = (with_meta.groupBy("_sid").agg(
        F.collect_list(F.struct(
            F.col("term").alias("term"), F.col("cui").alias("cui"),
            F.col("name").alias("name"), F.col("synonyms").alias("synonyms"),
            F.col("sem_types").alias("sem_types"),
            F.col("sources").alias("sources"),
            F.col("cterms").alias("cterms"))).alias("cand")))

    joined = sent.join(packed, "_sid", "left")

    regex_map = dict(base_dico.regex_map) if base_dico is not None else {}

    def arr(x):  # Arrow hands arrays as numpy
        return tuple(x) if x is not None else ()

    def body(out, doc_id, sent_id, text, offset, cand):
        mini = Dictionary(build_config=cfg)
        mini.regex_map = regex_map
        if cand is not None:
            tm: dict[str, set] = {}
            wm: dict[str, set] = {}
            for r in cand:  # Arrow struct dicts or Rows, both key by name
                tm.setdefault(r["term"], set()).add(r["cui"])
                for w in T.get_words(r["term"]):
                    wm.setdefault(w, set()).add(r["term"])
                if r["cui"] not in mini.concepts:
                    mini.concepts[r["cui"]] = ConceptMeta(
                        cui=r["cui"], name=r["name"],
                        synonyms=arr(r["synonyms"]),
                        sem_types=arr(r["sem_types"]),
                        sources=arr(r["sources"]),
                        terms=tuple((t["text"], t["form"])
                                    for t in arr(r["cterms"])))
            mini.term_map = {t: tuple(sorted(s)) for t, s in tm.items()}
            mini.word_map = {w: tuple(sorted(s)) for w, s in wm.items()}
        match_sentence(out, doc_id, sent_id, text, offset, mini, cfg)

    return _map_rows(joined, MENTIONS_SCHEMA, lambda: body,
                     cols=("doc_id", "sent_id", "text", "offset", "cand"))


# broadcast budget above which the match flips to the shuffle-join path
# (Spark's own autoBroadcastJoinThreshold analog for the dictionary)
BROADCAST_BUDGET_BYTES = 512 * 1024 * 1024


def estimate_dictionary_bytes(dico: Dictionary) -> int:
    """Cheap pickled-size estimate of the broadcast payload."""
    import pickle
    return len(pickle.dumps(dico, protocol=pickle.HIGHEST_PROTOCOL))


def detect_mentions_auto(sentences: DataFrame, dico: Dictionary,
                         tables: dict[str, DataFrame] | None = None,
                         cfg: SearchConfig | None = None,
                         budget_bytes: int = BROADCAST_BUDGET_BYTES
                         ) -> DataFrame:
    """Physical-plan decision the reference makes implicitly by JDBM
    paging: broadcast the dictionary when it fits the budget, else run the
    shuffle-join candidate pipeline over the persisted tables. Without
    ``tables`` it always broadcasts, whatever the dictionary's size."""
    if estimate_dictionary_bytes(dico) <= budget_bytes or tables is None:
        bc = sentences.sparkSession.sparkContext.broadcast(dico)
        return detect_mentions(sentences, bc, cfg)
    return detect_mentions_shuffle(sentences, tables, cfg, base_dico=dico)
